"""End-to-end LLM training-data prep pipeline — quality filter →
exact dedup → near-dup canonicalization → leakage-free split — as ONE
composed, fully DuckDB-oracled query.

Each stage exists (and is independently oracled) elsewhere in the
engine: quality scoring (textops.text_quality_score), exact md5 dedup
(dedup.dedup_exact), shingle-Jaccard near-dup pairs + min-label
connected components (dedup.ngram_jaccard_pairs /
min_label_components), hash-bucket splits (sampling.sample_split_hash).
This operator chains them the way a real corpus-prep job does, and the
oracle replays the ENTIRE chain in SQL (the component step as a
recursive-CTE closure), so the hash check certifies the composition —
stage boundaries, filter-before-dedup ordering, canonical-keep rule —
not just the pieces.

Scale shape: everything is the constituent operators' plans glued by
narrow (doc_id) joins — no stage materializes to the driver; the
iterative component loop only ever sees the (tiny) near-dup pair
graph of docs that already survived quality + exact dedup, which is
exactly the order you want at 100 TB (each stage shrinks the frame the
next one pays for).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.text import shingles_sql, tokens
from ..registry import register
from ..session import load_table, pin
from .dedup import (
    JACCARD_THRESHOLD,
    NGRAM_MAX_DF,
    min_label_components,
    ngram_jaccard_pairs,
)
from .sampling import TRAIN_PCT, VAL_PCT, _bucket_sql, hash_bucket
from .textops import _STOPWORDS

QUALITY_MIN = 0.67  # compared on the 6-dp ROUNDED score in both engines

PREP_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), m AS (
  SELECT doc_id,
         CAST(len(toks) AS DOUBLE) AS n_tokens,
         CAST(len(list_distinct(toks)) AS DOUBLE) AS n_unique,
         CAST(len(list_filter(toks, t -> t IN {_STOPWORDS!r})) AS DOUBLE) AS n_stop
  FROM tok
), q AS (
  SELECT doc_id,
         ROUND(0.4 * (1.0 - n_stop / n_tokens)
             + 0.4 * (n_unique / n_tokens)
             + 0.2 * LEAST(n_tokens / 100.0, 1.0), 6) AS quality_score
  FROM m
), keepq AS (
  SELECT d.doc_id, d.text, q.quality_score
  FROM documents d JOIN q ON d.doc_id = q.doc_id
  WHERE q.quality_score >= {QUALITY_MIN}
), exact AS (
  SELECT MIN(doc_id) AS doc_id FROM keepq GROUP BY md5(text)
), surv AS (
  SELECT k.doc_id, k.text, k.quality_score
  FROM keepq k JOIN exact e ON k.doc_id = e.doc_id
), tok2 AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM surv
), sh AS (
  SELECT doc_id, unnest({shingles_sql('toks')}) AS shingle FROM tok2
), sizes AS (
  SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id
), hot AS (
  -- r11: mirror the consumed ngram_jaccard_pairs' NGRAM_MAX_DF cap
  -- (same skew class as COMPONENTS_ORACLE — inactive at driver SFs)
  SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) > {NGRAM_MAX_DF}
), idx AS (
  SELECT doc_id, shingle FROM sh
  WHERE shingle NOT IN (SELECT shingle FROM hot)
), cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM idx a JOIN idx b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), edges AS (
  SELECT doc_a, doc_b FROM cand
  JOIN sizes sa ON doc_a = sa.doc_id
  JOIN sizes sb ON doc_b = sb.doc_id
  WHERE CAST(n_common AS DOUBLE) / CAST(sa.sz + sb.sz - n_common AS DOUBLE)
        >= {JACCARD_THRESHOLD}
), sym AS (
  SELECT doc_a AS u, doc_b AS v FROM edges
  UNION SELECT doc_b, doc_a FROM edges
  UNION SELECT doc_a, doc_a FROM edges
  UNION SELECT doc_b, doc_b FROM edges
), reach AS (
  WITH RECURSIVE r(u, v) AS (
    SELECT u, v FROM sym
    UNION
    SELECT r.u, s.v FROM r JOIN sym s ON r.v = s.u
  )
  SELECT * FROM r
), comp AS (
  SELECT u AS doc_id, MIN(v) AS component_id FROM reach GROUP BY u
), canon AS (
  SELECT s.doc_id, s.quality_score
  FROM surv s LEFT JOIN comp c ON s.doc_id = c.doc_id
  WHERE c.doc_id IS NULL OR c.component_id = s.doc_id
)
SELECT doc_id,
       CASE WHEN {_bucket_sql('doc_id')} < {TRAIN_PCT} THEN 'train'
            WHEN {_bucket_sql('doc_id')} < {TRAIN_PCT + VAL_PCT} THEN 'val'
            ELSE 'test' END AS split,
       quality_score
FROM canon
"""


@register("llm_prep_pipeline", oracle=PREP_ORACLE, tags=("llm", "pipeline", "iterative"))
def llm_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed corpus-prep chain: quality-filter (score ≥
    {QUALITY_MIN}) → exact dedup (min doc_id per md5(text)) → near-dup
    canonicalization (keep each Jaccard component's smallest doc) →
    deterministic split assignment. Returns the surviving corpus as
    (doc_id, split, quality_score)."""
    doc = load_table(spark, sf_dir, "documents")

    toks = tokens("text")
    n = F.size(toks).cast("double")
    uniq = F.size(F.array_distinct(toks)).cast("double")
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*_STOPWORDS))).cast("double")
    score = F.round(
        0.4 * (F.lit(1.0) - n_stop / n)
        + 0.4 * (uniq / n)
        + 0.2 * F.least(n / 100.0, F.lit(1.0)),
        6,
    )
    keepq = doc.select("doc_id", "text", score.alias("quality_score")).filter(
        F.col("quality_score") >= QUALITY_MIN
    )

    exact_keep = keepq.groupBy(F.md5("text")).agg(F.min("doc_id").alias("doc_id"))
    surv = keepq.join(exact_keep.select("doc_id"), "doc_id")

    pairs = ngram_jaccard_pairs(surv.select("doc_id", "text")).select("doc_a", "doc_b")
    comp = min_label_components(pairs)
    canon = (
        surv.join(comp, "doc_id", "left")
        .filter(F.col("component_id").isNull() | (F.col("component_id") == F.col("doc_id")))
        .select("doc_id", "quality_score")
    )

    b = hash_bucket("doc_id")
    split = (
        F.when(b < TRAIN_PCT, "train")
        .when(b < TRAIN_PCT + VAL_PCT, "val")
        .otherwise("test")
    )
    return canon.select("doc_id", split.alias("split"), "quality_score")


# ---------------------------------------------------------------------------
# RAG corpus-prep pipeline: chunk → quality → exact chunk dedup →
# benchmark decontamination, composed and oracled end-to-end
# ---------------------------------------------------------------------------

RAG_MIN_WORDS = 16
RAG_CONTAM_N = 4


def _rag_prep_oracle() -> str:
    from .textops import BENCH_MOD, CHUNK_SIZE, CHUNK_STRIDE

    lo = f"chunk_idx * {CHUNK_STRIDE} + 1"
    hi = f"chunk_idx * {CHUNK_STRIDE} + {CHUNK_SIZE}"
    return f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
  WHERE doc_id % {BENCH_MOD} != 0
), s AS (
  SELECT doc_id, w,
         CAST((GREATEST(len(w) - {CHUNK_SIZE}, 0) + {CHUNK_STRIDE - 1})
              // {CHUNK_STRIDE} AS INTEGER) AS k_max
  FROM t
), e AS (
  SELECT doc_id, w, CAST(unnest(generate_series(0, k_max)) AS INTEGER) AS chunk_idx
  FROM s
), chunks AS (
  SELECT doc_id, chunk_idx, w[{lo} : {hi}] AS cw,
         md5(array_to_string(w[{lo} : {hi}], ' ')) AS chunk_hash,
         CAST(len(w[{lo} : {hi}]) AS BIGINT) AS n_words
  FROM e
), quality AS (
  SELECT * FROM chunks
  WHERE n_words >= {RAG_MIN_WORDS} AND len(list_distinct(cw)) * 2 >= len(cw)
), canonical AS (
  SELECT doc_id, chunk_idx, cw, chunk_hash, n_words
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY chunk_hash
                                     ORDER BY doc_id, chunk_idx) AS rn
        FROM quality)
  WHERE rn = 1
), bench_sh AS (
  SELECT DISTINCT unnest({shingles_sql('string_split(text, chr(32))', RAG_CONTAM_N)}) AS shingle
  FROM documents WHERE doc_id % {BENCH_MOD} = 0
), contaminated AS (
  SELECT DISTINCT c.doc_id, c.chunk_idx
  FROM (SELECT doc_id, chunk_idx, unnest({shingles_sql('cw', RAG_CONTAM_N)}) AS shingle
        FROM canonical) c
  JOIN bench_sh b ON c.shingle = b.shingle
)
SELECT c.doc_id, c.chunk_idx, c.chunk_hash, c.n_words
FROM canonical c
LEFT JOIN contaminated x ON c.doc_id = x.doc_id AND c.chunk_idx = x.chunk_idx
WHERE x.doc_id IS NULL
"""


@register("rag_prep_pipeline", oracle=_rag_prep_oracle(), tags=("llm", "pipeline", "text"))
def rag_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG corpus prep as ONE composed, fully oracled query: sliding-
    window chunking (text_chunk_overlap's geometry) → integer-exact
    chunk quality gate (>= RAG_MIN_WORDS words, distinct-word ratio
    >= 1/2, compared as `2·uniq >= n` so no float threshold exists) →
    exact chunk dedup (first (doc_id, chunk_idx) per chunk md5 wins) →
    benchmark decontamination (drop chunks sharing a RAG_CONTAM_N-gram
    with any benchmark doc, broadcast bench shingle set, anti-join).
    The oracle replays the entire chain, certifying stage ORDER
    (quality before canonical-keep before decontam), not just stages.

    Scale: chunking is a per-row generate (no shuffle); quality is a
    filter; dedup is one chunk_hash shuffle; decontamination is a
    broadcast semi/anti join — each stage shrinks what the next pays
    for, and nothing touches the driver."""
    from .textops import BENCH_MOD, CHUNK_SIZE, CHUNK_STRIDE
    from ..functions.text import shingles

    doc = load_table(spark, sf_dir, "documents")
    corpus = doc.filter(F.col("doc_id") % BENCH_MOD != 0)
    w = tokens("text")
    k_max = (
        (F.greatest(F.size(w) - F.lit(CHUNK_SIZE), F.lit(0)) + F.lit(CHUNK_STRIDE - 1))
        / F.lit(CHUNK_STRIDE)
    ).cast("int")
    e = corpus.select(
        "doc_id", w.alias("w"), F.explode(F.sequence(F.lit(0), k_max)).alias("chunk_idx")
    )
    cw = F.slice("w", F.col("chunk_idx") * CHUNK_STRIDE + 1, CHUNK_SIZE)
    chunks = e.select(
        "doc_id",
        "chunk_idx",
        cw.alias("cw"),
        F.md5(F.concat_ws(" ", cw)).alias("chunk_hash"),
        F.size(cw).cast("long").alias("n_words"),
    )
    quality = chunks.filter(
        (F.col("n_words") >= RAG_MIN_WORDS)
        & (F.size(F.array_distinct("cw")) * 2 >= F.size("cw"))
    )
    # first-occurrence election per chunk hash as a map-side-combinable
    # min-by ((doc_id, chunk_idx) is the window's order and is unique
    # per row, so the payload fields never compare) — a boilerplate
    # chunk with many copies collapses to one partial-combined row per
    # partition instead of one partition's ordered scan.
    canonical = (
        quality.groupBy("chunk_hash")
        .agg(F.min(F.struct("doc_id", "chunk_idx", "cw", "n_words")).alias("k"))
        .select(
            F.col("k.doc_id").alias("doc_id"),
            F.col("k.chunk_idx").alias("chunk_idx"),
            F.col("k.cw").alias("cw"),
            "chunk_hash",
            F.col("k.n_words").alias("n_words"),
        )
    )
    bench_sh = (
        doc.filter(F.col("doc_id") % BENCH_MOD == 0)
        .select(F.explode(shingles(tokens("text"), RAG_CONTAM_N)).alias("shingle"))
        .distinct()
    )
    contaminated = (
        canonical.select(
            "doc_id", "chunk_idx", F.explode(shingles(F.col("cw"), RAG_CONTAM_N)).alias("shingle")
        )
        .join(F.broadcast(bench_sh), "shingle")
        .select("doc_id", "chunk_idx")
        .distinct()
    )
    return canonical.join(
        contaminated, ["doc_id", "chunk_idx"], "left_anti"
    ).select("doc_id", "chunk_idx", "chunk_hash", "n_words")


# ---------------------------------------------------------------------------
# Tabular feature-prep pipeline: split -> train-fit encoders -> apply.
# ---------------------------------------------------------------------------

FEAT_BINS = 10
FEAT_ROW_MOD = 20  # deterministic output thinning (transform still runs on all rows)


def _feature_prep_oracle() -> str:
    from ..functions.stable import dec_sum_sql

    return f"""
WITH returned AS (
  SELECT DISTINCT l_orderkey FROM lineitem WHERE l_returnflag = 'R'
), base AS (
  SELECT o.o_orderkey, o.o_totalprice, o.o_orderpriority,
         CASE WHEN r.l_orderkey IS NULL THEN 0 ELSE 1 END AS y,
         CASE WHEN {_bucket_sql('o.o_orderkey')} < {TRAIN_PCT} THEN 'train'
              WHEN {_bucket_sql('o.o_orderkey')} < {TRAIN_PCT + VAL_PCT} THEN 'val'
              ELSE 'test' END AS split
  FROM orders o LEFT JOIN returned r ON o.o_orderkey = r.l_orderkey
), train AS (
  SELECT * FROM base WHERE split = 'train'
), stats AS (
  SELECT COUNT(*) AS n, {dec_sum_sql('o_totalprice')} AS s,
         {dec_sum_sql('o_totalprice * o_totalprice')} AS ss
  FROM train
), mu AS (
  SELECT *, s / n AS mean FROM stats
), tb AS (
  SELECT o_totalprice,
         ntile({FEAT_BINS}) OVER (ORDER BY o_totalprice DESC, o_orderkey) AS bin
  FROM train
), edges AS (
  SELECT list(lo ORDER BY lo) AS arr FROM (
    SELECT MIN(o_totalprice) AS lo FROM tb WHERE bin < {FEAT_BINS} GROUP BY bin
  )
), binned AS (
  SELECT b.*, 1 + len(list_filter(e.arr, x -> x > b.o_totalprice)) AS bin
  FROM base b, edges e
), woe AS (
  SELECT bin,
         CAST(SUM(y) AS BIGINT) AS n_pos,
         CAST(COUNT(*) - SUM(y) AS BIGINT) AS n_neg
  FROM binned WHERE split = 'train' GROUP BY 1
), wt AS (
  SELECT CAST(SUM(n_pos) AS BIGINT) AS p_tot, CAST(SUM(n_neg) AS BIGINT) AS n_tot
  FROM woe
), wv AS (
  SELECT w.bin,
         CAST(ROUND(ln((CAST(w.n_pos AS DOUBLE) / t.p_tot)
                       / (CAST(w.n_neg AS DOUBLE) / t.n_tot)) * 1000000) AS BIGINT)
           AS woe_e6
  FROM woe w, wt t WHERE w.n_pos > 0 AND w.n_neg > 0
), freq AS (
  SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS cnt FROM train GROUP BY 1
), ft AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM train
)
SELECT b.o_orderkey, b.split, b.y, b.bin,
       (b.o_totalprice - m.mean) / sqrt((m.ss - m.s * m.mean) / (m.n - 1)) AS z_price,
       wv.woe_e6,
       CAST(f.cnt AS DOUBLE) / CAST(t.n AS DOUBLE) AS pri_freq_enc
FROM binned b
JOIN wv ON b.bin = wv.bin
JOIN freq f ON b.o_orderpriority = f.o_orderpriority
JOIN mu m ON true
JOIN ft t ON true
WHERE b.o_orderkey % {FEAT_ROW_MOD} = 0
"""


@register(
    "feature_prep_pipeline",
    oracle=_feature_prep_oracle(),
    tags=("mlfeat", "pipeline", "llm"),
)
def feature_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end LEAKAGE-SAFE tabular feature pipeline, composed and
    certified as one oracle: hash-split FIRST, then every encoder —
    z-score stats, decile bin EDGES, per-bin WOE, priority frequency —
    is fitted on the TRAIN split only and applied to all rows. That
    ordering (the thing this composition proves, beyond the stages
    individually) is what keeps target and distribution information
    from the held-out splits out of the features.

    Scale shape: one label join co-keyed on the fact key; every fitted
    encoder reduces to a broadcast (3 numbers, 9 edges, ≤10 WOE rows,
    5 frequencies); application is a map stage. Bin edges use ntile
    over TRAIN for the fit (the apply is edge-comparison, not
    ranking), so at 100 TB the fit window would swap in the
    distributed-rank scheme of feat_quantile_bin unchanged."""
    from ..functions.stable import dec_sum

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    returned = li.filter(F.col("l_returnflag") == "R").select("l_orderkey").distinct()
    base = (
        orders.join(returned, orders.o_orderkey == returned.l_orderkey, "left")
        .select(
            "o_orderkey",
            "o_totalprice",
            "o_orderpriority",
            F.when(F.col("l_orderkey").isNull(), 0).otherwise(1).alias("y"),
            F.when(hash_bucket("o_orderkey") < TRAIN_PCT, "train")
            .when(hash_bucket("o_orderkey") < TRAIN_PCT + VAL_PCT, "val")
            .otherwise("test")
            .alias("split"),
        )
        # the labeled+split base feeds SEVEN consumers (train filter,
        # stats, bin fit, WOE fit, freq fit, apply join, output);
        # without a lineage cut each branch re-scans orders+lineitem
        # (12 parquet scans observed in the executed plan). One
        # materialization = one pass over the fact tables — at 100 TB
        # this is the "persist the labeled training frame" step every
        # feature pipeline has.
        .transform(pin)
    )
    train = base.filter(F.col("split") == "train")
    x = F.col("o_totalprice")
    stats = train.agg(
        F.count(F.lit(1)).alias("n"),
        dec_sum(x).alias("s"),
        dec_sum(x * x).alias("ss"),
    ).withColumn("mean", F.col("s") / F.col("n"))
    # exact distributed rank + closed-form ntile (same construction
    # feat_quantile_bin hash-proves) — a bare W.orderBy ntile here was a
    # single-partition window over the whole train split and re-polluted
    # the bench tail with WindowExec warnings
    from .analytics import _ntile_from_rank, _with_global_rank

    rk = _with_global_rank(
        train.select("o_orderkey", "o_totalprice"),
        "o_totalprice",
        "o_orderkey",
        "_r",
        materialize=False,  # train projects the checkpointed base
    )
    tb = rk.select(
        "o_totalprice",
        _ntile_from_rank(F.col("_r"), F.col("_n_total"), FEAT_BINS).alias("bin"),
    )
    edges = (
        tb.filter(F.col("bin") < FEAT_BINS)
        .groupBy("bin")
        .agg(F.min("o_totalprice").alias("lo"))
        .agg(F.sort_array(F.collect_list("lo")).alias("arr"))
    )
    bin_col = F.lit(1) + F.size(F.filter("arr", lambda e: e > F.col("o_totalprice")))
    binned = base.crossJoin(F.broadcast(edges)).withColumn("bin", bin_col).drop("arr")
    woe = (
        binned.filter(F.col("split") == "train")
        .groupBy("bin")
        .agg(
            F.sum("y").cast("long").alias("n_pos"),
            (F.count(F.lit(1)) - F.sum("y")).cast("long").alias("n_neg"),
        )
    )
    wt = woe.agg(
        F.sum("n_pos").cast("long").alias("p_tot"),
        F.sum("n_neg").cast("long").alias("n_tot"),
    )
    dp = F.col("n_pos").cast("double") / F.col("p_tot")
    dn = F.col("n_neg").cast("double") / F.col("n_tot")
    wv = (
        woe.crossJoin(F.broadcast(wt))
        .filter((F.col("n_pos") > 0) & (F.col("n_neg") > 0))
        .select("bin", F.round(F.log(dp / dn) * 1_000_000).cast("long").alias("woe_e6"))
    )
    freq = train.groupBy("o_orderpriority").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    ft = train.agg(F.count(F.lit(1)).cast("long").alias("tn"))
    sigma = F.sqrt((F.col("ss") - F.col("s") * F.col("mean")) / (F.col("n") - 1))
    return (
        binned.filter(F.col("o_orderkey") % FEAT_ROW_MOD == 0)
        .join(F.broadcast(wv), "bin")
        .join(F.broadcast(freq), "o_orderpriority")
        .crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(ft))
        .select(
            "o_orderkey",
            "split",
            "y",
            "bin",
            ((F.col("o_totalprice") - F.col("mean")) / sigma).alias("z_price"),
            "woe_e6",
            (F.col("cnt").cast("double") / F.col("tn").cast("double")).alias(
                "pri_freq_enc"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Curation funnel: span-dedup gate -> quality gate -> temperature mixture
# ---------------------------------------------------------------------------

SPAN_MAX_E6 = 500_000  # drop docs with >= 50% cross-doc duplicated-span cover

CURATION_ORACLE = f"""
WITH spanstats AS ({{SPAN_ORACLE}}),
tokc AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), mc AS (
  SELECT doc_id,
         CAST(len(toks) AS DOUBLE) AS n_tokens,
         CAST(len(list_distinct(toks)) AS DOUBLE) AS n_unique,
         CAST(len(list_filter(toks, t -> t IN {_STOPWORDS!r})) AS DOUBLE) AS n_stop
  FROM tokc
), qc AS (
  SELECT doc_id,
         ROUND(0.4 * (1.0 - n_stop / n_tokens)
             + 0.4 * (n_unique / n_tokens)
             + 0.2 * LEAST(n_tokens / 100.0, 1.0), 6) AS quality_score
  FROM mc
), s1 AS (
  SELECT d.doc_id, d.lang FROM documents d
  JOIN spanstats sp ON d.doc_id = sp.doc_id
  WHERE sp.dup_frac_e6 < {SPAN_MAX_E6}
), s2 AS (
  SELECT s1.doc_id, s1.lang FROM s1 JOIN qc ON s1.doc_id = qc.doc_id
  WHERE qc.quality_score >= {QUALITY_MIN}
), cnt AS (SELECT lang, COUNT(*) AS n FROM s2 GROUP BY 1),
sc AS (
  SELECT lang, n,
         CAST(ROUND(sqrt(CAST(n AS DOUBLE)) * 1000000) AS BIGINT) AS s_e6
  FROM cnt
), den AS (
  SELECT CAST(SUM(s_e6) AS BIGINT) AS denom, CAST(SUM(n) AS BIGINT) AS n_tot
  FROM sc
), plan AS (
  SELECT lang, n,
         LEAST(1000000, ((n_tot * s_e6) // denom) * 1000000 // n) AS rate_e6
  FROM sc, den
), raw AS (SELECT lang, COUNT(*) AS n_raw FROM documents GROUP BY 1),
a1 AS (SELECT lang, COUNT(*) AS n_span FROM s1 GROUP BY 1),
fin AS (
  SELECT s2.lang,
         COUNT(*) FILTER (WHERE {_bucket_sql('s2.doc_id', 1000000)} < p.rate_e6)
           AS n_final
  FROM s2 JOIN plan p ON s2.lang = p.lang GROUP BY 1
)
SELECT r.lang, CAST(r.n_raw AS BIGINT) AS n_raw,
       CAST(a1.n_span AS BIGINT) AS n_kept_span,
       CAST(p.n AS BIGINT) AS n_kept_quality,
       p.rate_e6,
       CAST(fin.n_final AS BIGINT) AS n_final
FROM raw r
JOIN a1 ON r.lang = a1.lang
JOIN plan p ON r.lang = p.lang
JOIN fin ON r.lang = fin.lang
"""


def _curation_oracle() -> str:
    from .textops import SPAN_DEDUP_ORACLE

    return CURATION_ORACLE.replace("{SPAN_ORACLE}", SPAN_DEDUP_ORACLE)


@register("curation_prep_pipeline", oracle=_curation_oracle(), tags=("llm", "pipeline"))
def curation_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-curation attrition funnel as ONE oracled composition:
    boilerplate gate (cross-doc duplicated-span coverage < 50%, from
    text_span_dedup) → quality gate (llm_prep_pipeline's blended score)
    → α=0.5 temperature language mixture computed ON THE SURVIVORS —
    the stage ordering a real pretraining corpus build uses, where the
    mixture must be rebalanced after the filters because attrition is
    not language-uniform. Emits the per-language funnel (raw →
    span-kept → quality-kept → sampled-final plus the applied rate),
    which is exactly the curation report reviewed before a training
    run. The oracle replays all three stages and their ordering;
    monotone attrition is additionally gated in tests.

    Scale: the span stage's df index and the quality pass are the
    constituent operators' plans; everything downstream operates on
    |langs|-row aggregates and broadcast plans — the funnel costs one
    extra narrow pass over the survivors."""
    from .sampling import hash_bucket as _hb
    from .textops import span_dedup_frame

    doc = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    span = span_dedup_frame(doc.select("doc_id", "text")).select(
        "doc_id", "dup_frac_e6"
    )
    toks = tokens("text")
    n = F.size(toks).cast("double")
    uniq = F.size(F.array_distinct(toks)).cast("double")
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*_STOPWORDS))).cast("double")
    score = F.round(
        0.4 * (F.lit(1.0) - n_stop / n)
        + 0.4 * (uniq / n)
        + 0.2 * F.least(n / 100.0, F.lit(1.0)),
        6,
    )
    q = doc.select("doc_id", score.alias("quality_score"))
    s1 = (
        doc.join(span, "doc_id")
        .filter(F.col("dup_frac_e6") < SPAN_MAX_E6)
        .select("doc_id", "lang")
    )
    s2 = (
        s1.join(q, "doc_id")
        .filter(F.col("quality_score") >= QUALITY_MIN)
        .select("doc_id", "lang")
        .transform(pin)  # feeds mixture counts + final sample
    )
    cnt = s2.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    sc = cnt.select(
        "lang",
        "n",
        F.round(F.sqrt(F.col("n").cast("double")) * 1_000_000)
        .cast("long")
        .alias("s_e6"),
    )
    den = sc.agg(
        F.sum("s_e6").cast("long").alias("denom"),
        F.sum("n").cast("long").alias("n_tot"),
    )
    plan = sc.crossJoin(F.broadcast(den)).select(
        "lang",
        "n",
        F.least(
            F.lit(1_000_000).cast("long"),
            F.expr("((n_tot * s_e6) div denom) * 1000000 div n"),
        ).alias("rate_e6"),
    )
    raw = doc.groupBy("lang").agg(F.count(F.lit(1)).cast("long").alias("n_raw"))
    a1 = s1.groupBy("lang").agg(F.count(F.lit(1)).cast("long").alias("n_kept_span"))
    b = _hb("doc_id", 1_000_000)
    fin = (
        s2.join(F.broadcast(plan), "lang")
        .groupBy("lang")
        .agg(F.count(F.when(b < F.col("rate_e6"), 1)).alias("n_final"))
    )
    return (
        raw.join(a1, "lang")
        .join(plan.select("lang", F.col("n").cast("long").alias("n_kept_quality"), "rate_e6"), "lang")
        .join(fin, "lang")
        .select(
            "lang", "n_raw", "n_kept_span", "n_kept_quality", "rate_e6", "n_final"
        )
    )
