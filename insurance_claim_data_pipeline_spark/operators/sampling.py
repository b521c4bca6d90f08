"""Deterministic sampling / dataset-split operators over ``documents``.

Training-data pipelines need samples and held-out splits that are (a)
reproducible across runs and engines, (b) stable under re-partitioning,
and (c) assigned per-record with no coordination. Engine-native
TABLESAMPLE/rand() gives none of that; hashing the record key does:
``bucket = md5(key) mod 100`` is uniform, deterministic, and identical
in Spark and DuckDB — so both the 80/10/10 split and the Bernoulli
sample are oracle-checked exactly, not statistically.

Scale: both operators are one narrow scan (hash + filter/aggregate);
the split column can also feed ``partitionBy`` at write time so each
split lands in its own directory.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..registry import register
from ..session import load_table

TRAIN_PCT, VAL_PCT = 80, 10  # remainder → test


def hash_bucket(key: Column | str, buckets: int = 100) -> Column:
    """Uniform deterministic bucket in [0, buckets) from md5(key)."""
    c = F.col(key) if isinstance(key, str) else key
    h = F.conv(F.substring(F.md5(c.cast("string")), 1, 8), 16, 10).cast("long")
    return F.pmod(h, F.lit(buckets))


def _bucket_sql(key: str, buckets: int = 100) -> str:
    return f"(('0x' || substr(md5(CAST({key} AS VARCHAR)), 1, 8))::BIGINT % {buckets})"


SPLIT_ORACLE = f"""
SELECT CASE WHEN b < {TRAIN_PCT} THEN 'train'
            WHEN b < {TRAIN_PCT + VAL_PCT} THEN 'val'
            ELSE 'test' END AS split,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM (SELECT n_chars, {_bucket_sql('doc_id')} AS b FROM documents)
GROUP BY 1
"""


@register("sample_split_hash", oracle=SPLIT_ORACLE, tags=("sampling", "llm"))
def sample_split_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 train/val/test assignment by hash bucket of doc_id —
    reproducible, partition-independent, coordination-free."""
    doc = load_table(spark, sf_dir, "documents")
    b = hash_bucket("doc_id")
    split = (
        F.when(b < TRAIN_PCT, "train")
        .when(b < TRAIN_PCT + VAL_PCT, "val")
        .otherwise("test")
    )
    return doc.select(split.alias("split"), "n_chars").groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


BERNOULLI_ORACLE = f"""
SELECT doc_id, lang
FROM (SELECT doc_id, lang, {_bucket_sql('doc_id')} AS b FROM documents)
WHERE b < 10
"""


@register("sample_bernoulli_hash", oracle=BERNOULLI_ORACLE, tags=("sampling", "llm"))
def sample_bernoulli_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% Bernoulli sample (hash-bucket < 10): the
    sampled SET is identical on every engine and every run — what you
    want for debuggable pipeline subsets, unlike rand()-based
    TABLESAMPLE."""
    doc = load_table(spark, sf_dir, "documents")
    return doc.filter(hash_bucket("doc_id") < 10).select("doc_id", "lang")


# Per-language sampling rates (percent) for corpus rebalancing: the
# over-represented language is downsampled hard, the rest kept at 50%.
STRATA_RATES = {"en": 10}
DEFAULT_RATE = 50


def _rate_case_sql() -> str:
    whens = " ".join(f"WHEN lang = '{k}' THEN {v}" for k, v in STRATA_RATES.items())
    return f"CASE {whens} ELSE {DEFAULT_RATE} END"


STRATIFIED_ORACLE = f"""
WITH tagged AS (
  SELECT lang, n_chars,
         {_bucket_sql('doc_id')} AS b,
         {_rate_case_sql()} AS rate
  FROM documents
)
SELECT lang,
       COUNT(*) AS n_total,
       COUNT(*) FILTER (WHERE b < rate) AS n_sampled,
       CAST(COALESCE(SUM(n_chars) FILTER (WHERE b < rate), 0) AS BIGINT) AS sampled_chars
FROM tagged
GROUP BY lang
"""


@register("sample_stratified_lang", oracle=STRATIFIED_ORACLE, tags=("sampling", "llm"))
def sample_stratified_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified corpus rebalancing: each language keeps a configured
    fraction of its documents (English 10%, others 50%), selected by the
    same deterministic md5 bucket as the Bernoulli sample — so the
    chosen SET is reproducible, engine-independent, and a strict subset
    of any higher rate for the same stratum (nested samples: raising a
    rate only ADDS documents, it never reshuffles the kept set — the
    property that makes ablation corpora comparable).

    One narrow scan, one combined aggregation; the per-stratum rate is a
    CASE expression, not a join, so skewed strata cost nothing extra."""
    doc = load_table(spark, sf_dir, "documents")
    rate = F.lit(DEFAULT_RATE)
    for k, v in STRATA_RATES.items():
        rate = F.when(F.col("lang") == k, v).otherwise(rate)
    keep = hash_bucket("doc_id") < rate
    return doc.select("lang", "n_chars", keep.alias("keep")).groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count_if(F.col("keep")).alias("n_sampled"),
        F.coalesce(F.sum(F.when(F.col("keep"), F.col("n_chars"))), F.lit(0)).alias(
            "sampled_chars"
        ),
    )


# ---------------------------------------------------------------------------
# Leakage-safe (group-aware) splits
# ---------------------------------------------------------------------------

def _leakage_safe_oracle() -> str:
    from .dedup import COMPONENTS_ORACLE

    return f"""
WITH comp AS ({COMPONENTS_ORACLE}),
g AS (
  SELECT d.doc_id, COALESCE(c.component_id, d.doc_id) AS group_id
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
)
SELECT doc_id, group_id,
       CASE WHEN b < {TRAIN_PCT} THEN 'train'
            WHEN b < {TRAIN_PCT + VAL_PCT} THEN 'val'
            ELSE 'test' END AS split
FROM (SELECT doc_id, group_id, {_bucket_sql('group_id')} AS b FROM g)
"""


@register("split_leakage_safe", oracle=_leakage_safe_oracle(), tags=("sampling", "dedup", "llm"))
def split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-aware train/val/test split: hash the near-dup COMPONENT id,
    not the document id, so transitively-similar documents always land
    in the same split — the fix for train/test contamination that a
    per-document hash split cannot provide (a near-copy of a test doc
    in train is leakage even after dedup keeps one per cluster).

    Composition: dedup_components labels every doc in a near-dup
    cluster with its canonical id; singletons fall back to their own
    doc_id (left join + coalesce); the 80/10/10 assignment is the same
    deterministic md5 bucket as sample_split_hash, applied to the group
    id. One extra broadcast-sized join on top of the components cost."""
    from .dedup import dedup_components

    doc = load_table(spark, sf_dir, "documents").select("doc_id")
    comp = dedup_components(spark, sf_dir)
    g = doc.join(comp, "doc_id", "left").select(
        "doc_id", F.coalesce("component_id", "doc_id").alias("group_id")
    )
    b = hash_bucket("group_id")
    split = (
        F.when(b < TRAIN_PCT, "train")
        .when(b < TRAIN_PCT + VAL_PCT, "val")
        .otherwise("test")
    )
    return g.select("doc_id", "group_id", split.alias("split"))


# ---------------------------------------------------------------------------
# Domain mixture reweighting (downsample each source to a target mix)
# ---------------------------------------------------------------------------

# Target weight per source: 1 + (source_number mod 3) — a deterministic
# stand-in for the "web:books:code = 1:2:3"-style mixture spec a real
# pretraining run would supply as config.
_W_SQL = "(1 + CAST(substr(source, 4) AS BIGINT) % 3)"

MIXTURE_ORACLE = f"""
WITH cnt AS (
  SELECT source, {_W_SQL} AS w, COUNT(*) AS n FROM documents GROUP BY source
), anchor AS (
  SELECT w AS w_m, n AS n_m FROM cnt ORDER BY (n * 1000000) // w, source LIMIT 1
), rates AS (
  SELECT source, w, n,
         LEAST(1000000, (1000000 * w * n_m) // (w_m * n)) AS rate_e6
  FROM cnt, anchor
)
SELECT d.source, ANY_VALUE(r.w) AS w, ANY_VALUE(r.n) AS n_docs,
       ANY_VALUE(r.rate_e6) AS rate_e6,
       COUNT(*) FILTER (WHERE {_bucket_sql('d.doc_id', 1000000)} < r.rate_e6)
         AS n_kept
FROM documents d JOIN rates r ON d.source = r.source
GROUP BY d.source
"""


@register("sample_mixture_weights", oracle=MIXTURE_ORACLE, tags=("sampling", "llm"))
def sample_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain mixture reweighting: downsample every source so the kept
    corpus follows a target weight mix. The most under-represented
    source (min n/w, deterministic tie-break) anchors at keep-rate 1;
    every other source keeps rate = (w·n_m)/(w_m·n), capped at 1 —
    all in ×1e6 integer arithmetic so both engines agree exactly.
    Per-document keeps use the md5 hash bucket: reproducible,
    partition-independent, coordination-free.

    Scale shape: source counts are one map-side-combined aggregate
    (|sources| rows); the anchor pick and rate table are driver-trivial
    and broadcast back; the keep decision is a narrow per-row hash
    compare. The corpus is scanned twice and shuffled never (the final
    groupBy carries |sources| groups)."""
    doc = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    w = 1 + F.substring("source", 4, 10).cast("long") % 3
    cnt = doc.groupBy("source").agg(F.count(F.lit(1)).alias("n")).select(
        "source", w.alias("w"), "n"
    )
    anchor = (
        cnt.orderBy(F.expr("(n * 1000000) div w"), "source")
        .limit(1)
        .select(F.col("w").alias("w_m"), F.col("n").alias("n_m"))
    )
    rates = cnt.join(F.broadcast(anchor)).select(
        "source",
        "w",
        "n",
        F.least(
            F.lit(1_000_000).cast("long"),
            F.expr("(1000000 * w * n_m) div (w_m * n)"),
        ).alias("rate_e6"),
    )
    b = hash_bucket("doc_id", 1_000_000)
    return (
        doc.join(F.broadcast(rates), "source")
        .groupBy("source")
        .agg(
            F.any_value("w").alias("w"),
            F.any_value("n").alias("n_docs"),
            F.any_value("rate_e6").alias("rate_e6"),
            F.count(F.when(b < F.col("rate_e6"), 1)).alias("n_kept"),
        )
    )


RESERVOIR_K = 5
RESERVOIR_SALTS = 32

RESERVOIR_ORACLE = f"""
SELECT lang, doc_id, rnk FROM (
  SELECT lang, doc_id,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rnk
  FROM documents
) WHERE rnk <= {RESERVOIR_K}
"""


@register("sample_reservoir_stratified", oracle=RESERVOIR_ORACLE, tags=("sampling", "llm", "window", "scale"))
def sample_reservoir_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed-size sample of K=5 documents per language —
    the distributed, reproducible equivalent of per-stratum reservoir
    sampling: rank every document by md5(doc_id) (a uniform, engine-
    independent permutation) and keep each stratum's K smallest.

    Scale shape: a naive single window per language collapses each
    stratum onto ONE reducer — with a handful of languages that is a
    handful of reducers for the whole corpus. Instead, a two-level
    exact top-K: (1) partition each stratum into {RESERVOIR_SALTS} salt
    buckets by xxhash64(doc_id) and take each bucket's local top-K
    (windows over corpus/{RESERVOIR_SALTS}-sized groups, all reducers
    busy); (2) re-rank the surviving ≤K·{RESERVOIR_SALTS} rows per
    stratum — a tiny frame — for the final top-K. The global top-K by
    any total order is always contained in the union of per-bucket
    top-Ks, so the result is bit-identical to the single-window oracle."""
    doc = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    key = F.md5(F.col("doc_id").cast("string"))
    salt = F.pmod(F.xxhash64("doc_id"), F.lit(RESERVOIR_SALTS))
    local_w = W.partitionBy("lang", "_salt").orderBy("_key", "doc_id")
    survivors = (
        doc.select("lang", "doc_id", key.alias("_key"), salt.alias("_salt"))
        .withColumn("_lrnk", F.row_number().over(local_w))
        .filter(F.col("_lrnk") <= RESERVOIR_K)
    )
    final_w = W.partitionBy("lang").orderBy("_key", "doc_id")
    return (
        survivors.select(
            "lang", "doc_id", F.row_number().over(final_w).cast("long").alias("rnk")
        )
        .filter(F.col("rnk") <= RESERVOIR_K)
    )


TEMPORAL_SPLIT_ORACLE = """
WITH b AS (
  SELECT MIN(epoch_us(ts)) + CAST((MAX(epoch_us(ts)) - MIN(epoch_us(ts))) * 0.8 AS BIGINT)
           AS cut
  FROM events
)
SELECT CASE WHEN epoch_us(ts) <= b.cut THEN 'train' ELSE 'test' END AS split,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(MIN(epoch_us(ts)) AS BIGINT) AS min_ts_us,
       CAST(MAX(epoch_us(ts)) AS BIGINT) AS max_ts_us
FROM events, b
GROUP BY 1
"""


@register("sample_temporal_split", oracle=TEMPORAL_SPLIT_ORACLE, tags=("sampling", "llm", "events"))
def sample_temporal_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal train/test split at the 80% point of the observed time
    range — the leakage-safe split for anything with temporal structure
    (forecasting, recommendation, eval-on-the-future): a hash split
    (sample_split_hash) would let the model train on events AFTER its
    test window. Emits per-split row/user counts and the actual time
    bounds, so the non-overlap of the two windows is part of the
    hash-checked contract.

    Scale: one bounds aggregate broadcast back, one narrow classify,
    one 2-group aggregate — no shuffle beyond the final tiny groupBy."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.agg(
        (
            F.min(F.unix_micros("ts"))
            + ((F.max(F.unix_micros("ts")) - F.min(F.unix_micros("ts"))) * 0.8).cast(
                "long"
            )
        ).alias("cut")
    )
    split = F.when(F.unix_micros("ts") <= F.col("cut"), "train").otherwise("test")
    return (
        ev.crossJoin(F.broadcast(b))
        .groupBy(split.alias("split"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.min(F.unix_micros("ts")).alias("min_ts_us"),
            F.max(F.unix_micros("ts")).alias("max_ts_us"),
        )
    )


# ---- systematic weighted sampling ---------------------------------------
_SYS_K = 200  # target sample size

SYSTEMATIC_WEIGHTED_ORACLE = f"""
WITH w AS (
  SELECT o_orderkey,
         CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS w_cents,
         md5(CAST(o_orderkey AS VARCHAR)) AS hkey
  FROM orders
), c AS (
  SELECT o_orderkey, w_cents, hkey,
         CAST(SUM(w_cents) OVER (ORDER BY hkey, o_orderkey
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_w,
         CAST(SUM(w_cents) OVER () AS BIGINT) AS total_w
  FROM w
)
SELECT o_orderkey, w_cents,
       CAST(cum_w // (total_w // {_SYS_K}) AS BIGINT) AS pick_idx
FROM c
WHERE cum_w // (total_w // {_SYS_K}) > (cum_w - w_cents) // (total_w // {_SYS_K})
"""


@register(
    "sample_systematic_weighted",
    oracle=SYSTEMATIC_WEIGHTED_ORACLE,
    tags=("sampling", "scale"),
)
def sample_systematic_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-proportional sampling without randomness-at-runtime:
    systematic (fixed-step) sampling over a deterministic md5
    permutation. Orders are laid out in md5(o_orderkey) order (a
    reproducible shuffle), their integer-cent weights prefix-summed,
    and every crossing of a ``total/k`` step boundary selects a row —
    so P(selected) is proportional to weight, heavy rows (>= step) are
    always kept, and the sample is identical across engines and runs
    (Efraimidis-Spirakis key sampling gives the same marginal
    probabilities but needs u^(1/w) floats whose libm ulp-edges no
    cross-engine hash can survive; systematic sampling is exact
    integer arithmetic end to end).

    Scale: the global prefix sum uses the same two-level construction
    as ``pack_concat_chunks`` — per-bucket window over the md5-prefix
    bucket (the bucket IS a prefix of the global order, so bucket-local
    sums + broadcast bucket offsets reproduce the global sum exactly),
    never an N-row single-partition window. The oracle uses the naive
    global window (fine at oracle scale) over the same order."""
    orders = load_table(spark, sf_dir, "orders")
    w = orders.select(
        "o_orderkey",
        F.expr("CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)").alias("w_cents"),
        F.md5(F.col("o_orderkey").cast("string")).alias("hkey"),
    ).withColumn(
        # first hex char = bucket; ordering by (hkey, key) within a
        # bucket is a contiguous slice of the global (hkey, key) order.
        "bkt",
        F.conv(F.substring("hkey", 1, 1), 16, 10).cast("long"),
    )
    cum_in_bkt = F.sum("w_cents").over(
        W.partitionBy("bkt").orderBy("hkey", "o_orderkey").rowsBetween(
            W.unboundedPreceding, 0
        )
    )
    d = w.withColumn("cum_in_bkt", cum_in_bkt)
    from ..session import tiny_frame_key

    bkt_off = F.coalesce(
        F.sum("bkt_w").over(
            W.partitionBy(tiny_frame_key("bkt"))
            .orderBy("bkt")
            .rowsBetween(W.unboundedPreceding, -1)
        ),
        F.lit(0),
    )
    totals = w.groupBy("bkt").agg(F.sum("w_cents").alias("bkt_w"))
    offsets = totals.select(
        "bkt",
        bkt_off.alias("bkt_off"),
        F.sum("bkt_w").over(W.partitionBy(tiny_frame_key("bkt"))).alias("total_w"),
    )
    j = d.join(F.broadcast(offsets), "bkt")
    cum_w = (F.col("bkt_off") + F.col("cum_in_bkt")).alias("cum_w")
    step = F.expr(f"CAST(total_w DIV {_SYS_K} AS BIGINT)")
    jj = j.select("o_orderkey", "w_cents", cum_w, step.alias("step"))
    pick = F.expr("CAST(cum_w DIV step AS BIGINT)")
    prev_pick = F.expr("CAST((cum_w - w_cents) DIV step AS BIGINT)")
    return (
        jj.filter(pick > prev_pick)
        .select("o_orderkey", "w_cents", pick.alias("pick_idx"))
    )


# ---------------------------------------------------------------------------
# Deterministic contrastive (anchor, positive, negative) triplets.
# ---------------------------------------------------------------------------

NEG_SALT = "neg1"  # namespaces the negative-draw hash away from other md5 uses


NEGATIVE_PAIRS_ORACLE = f"""
WITH n_docs AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents
), ranked AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS rnk FROM documents
), anchors AS (
  SELECT d.doc_id, r.rnk,
         ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || '{NEG_SALT}'), 1, 8))::BIGINT
           AS h
  FROM documents d JOIN ranked r ON d.doc_id = r.doc_id
), draw AS (
  SELECT a.doc_id, a.rnk,
         CASE WHEN (a.h % n.n) = a.rnk THEN ((a.h + 1) % n.n) ELSE (a.h % n.n) END
           AS neg_rnk
  FROM anchors a, n_docs n
)
SELECT d.doc_id AS anchor_doc, d.doc_id AS positive_doc, r2.doc_id AS negative_doc
FROM draw d JOIN ranked r2 ON d.neg_rnk = r2.rnk
"""


@register("sample_negative_pairs", oracle=NEGATIVE_PAIRS_ORACLE, tags=("sampling", "llm"))
def sample_negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic contrastive-pair sampling for embedding training:
    per anchor document, the positive is the document itself (in
    practice: two different chunks/augmentations of it — the chunker is
    text_chunk_overlap) and the negative is a uniform draw over OTHER
    documents via a salted md5 mapped through the dense doc RANK — no
    RNG, so the epoch's pair set is reproducible across runs, engines,
    and cluster sizes (the property that makes contrastive training
    debuggable). A draw that lands on the anchor shifts to the next
    rank cyclically, keeping the draw uniform over the other n−1 docs.

    Scale: the rank comes from the exact distributed global rank
    (no single-partition window); the negative lookup is a join on
    rank — co-partitionable, and at in-batch-negatives scale this
    whole table IS the batch sampler."""
    from ..operators.analytics import _with_global_rank

    doc = load_table(spark, sf_dir, "documents").select("doc_id")
    # rank 0..n-1 ascending by doc_id: _with_global_rank ranks DESC by
    # value, so rank ascending = n - rank_desc
    ranked = _with_global_rank(doc, "doc_id", "doc_id", "_rd").select(
        "doc_id", (F.col("_n_total") - F.col("_rd")).alias("rnk"),
        F.col("_n_total").alias("n"),
    )
    h = F.conv(
        F.substring(F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(NEG_SALT))), 1, 8),
        16,
        10,
    ).cast("long")
    draw = ranked.withColumn("h", h).select(
        "doc_id",
        "rnk",
        F.when(F.pmod("h", F.col("n")) == F.col("rnk"), F.pmod(F.col("h") + 1, F.col("n")))
        .otherwise(F.pmod("h", F.col("n")))
        .alias("neg_rnk"),
    )
    r2 = ranked.select(F.col("rnk").alias("neg_rnk"), F.col("doc_id").alias("negative_doc"))
    return (
        draw.join(r2, "neg_rnk")
        .select(
            F.col("doc_id").alias("anchor_doc"),
            F.col("doc_id").alias("positive_doc"),
            "negative_doc",
        )
    )


# ---------------------------------------------------------------------------
# Temperature-scaled language mixture (upsample/downsample plan)
# ---------------------------------------------------------------------------

TEMPERATURE_MIXTURE_ORACLE = f"""
WITH cnt AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1),
s AS (
  SELECT lang, n,
         CAST(ROUND(sqrt(CAST(n AS DOUBLE)) * 1000000) AS BIGINT) AS s_e6
  FROM cnt
), d AS (
  SELECT CAST(SUM(s_e6) AS BIGINT) AS denom, CAST(SUM(n) AS BIGINT) AS n_tot
  FROM s
), plan AS (
  SELECT lang, n, s_e6,
         (s_e6 * 1000000) // denom AS weight_e6,
         (n_tot * s_e6) // denom AS target_rows,
         ((n_tot * s_e6) // denom) * 1000000 // n AS repeat_x1e6,
         LEAST(1000000, ((n_tot * s_e6) // denom) * 1000000 // n) AS rate_e6
  FROM s, d
)
SELECT p.lang, ANY_VALUE(p.n) AS n_docs, ANY_VALUE(p.weight_e6) AS weight_e6,
       ANY_VALUE(p.target_rows) AS target_rows,
       ANY_VALUE(p.repeat_x1e6) AS repeat_x1e6,
       COUNT(*) FILTER (WHERE {_bucket_sql('d2.doc_id', 1000000)} < p.rate_e6)
         AS n_kept
FROM documents d2 JOIN plan p ON d2.lang = p.lang
GROUP BY p.lang
"""


@register(
    "sample_temperature_mixture",
    oracle=TEMPERATURE_MIXTURE_ORACLE,
    tags=("sampling", "llm"),
)
def sample_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled language mixing (α = 0.5): sampling weight
    w_l ∝ n_l^α — the multilingual-pretraining standard that flattens
    the head languages and boosts the tail without ever equalizing
    (α=1 is proportional, α=0 uniform). Emits the full mixing plan per
    language: weight, target row count against an N_total budget, the
    upsampling factor ×1e6 (>1e6 → the tail language repeats across
    epochs), and the hash-materialized kept count for downsampled
    languages.

    Exactness: the ONLY float op is one sqrt per language, immediately
    quantized ×1e6 to an integer score; the normalizing denominator is
    then an exact integer SUM, so weights, targets and rates are pure
    integer division — no order-dependent double accumulation.
    (Integer headroom: n_tot·s_e6 < 2⁶³ holds to ~10⁹ docs per lang;
    at larger corpora drop the quantization to ×1e3.) Scale shape:
    one |langs|-row aggregate, a broadcast plan, and one narrow hash
    compare per row — the corpus never shuffles."""
    doc = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    cnt = doc.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    s = cnt.select(
        "lang",
        "n",
        F.round(F.sqrt(F.col("n").cast("double")) * 1_000_000)
        .cast("long")
        .alias("s_e6"),
    )
    d = s.agg(
        F.sum("s_e6").cast("long").alias("denom"),
        F.sum("n").cast("long").alias("n_tot"),
    )
    plan = s.crossJoin(F.broadcast(d)).select(
        "lang",
        "n",
        F.expr("(s_e6 * 1000000) div denom").alias("weight_e6"),
        F.expr("(n_tot * s_e6) div denom").alias("target_rows"),
        F.expr("((n_tot * s_e6) div denom) * 1000000 div n").alias("repeat_x1e6"),
        F.least(
            F.lit(1_000_000).cast("long"),
            F.expr("((n_tot * s_e6) div denom) * 1000000 div n"),
        ).alias("rate_e6"),
    )
    b = hash_bucket("doc_id", 1_000_000)
    return (
        doc.join(F.broadcast(plan), "lang")
        .groupBy("lang")
        .agg(
            F.any_value("n").alias("n_docs"),
            F.any_value("weight_e6").alias("weight_e6"),
            F.any_value("target_rows").alias("target_rows"),
            F.any_value("repeat_x1e6").alias("repeat_x1e6"),
            F.count(F.when(b < F.col("rate_e6"), 1)).alias("n_kept"),
        )
    )


# ---------------------------------------------------------------------------
# Horvitz-Thompson estimation after the temperature downsample
# ---------------------------------------------------------------------------

HT_ESTIMATOR_ORACLE = f"""
WITH cnt AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1),
s AS (
  SELECT lang, n,
         CAST(ROUND(sqrt(CAST(n AS DOUBLE)) * 1000000) AS BIGINT) AS s_e6
  FROM cnt
), d AS (
  SELECT CAST(SUM(s_e6) AS BIGINT) AS denom, CAST(SUM(n) AS BIGINT) AS n_tot
  FROM s
), plan AS (
  SELECT lang,
         LEAST(1000000, ((n_tot * s_e6) // denom) * 1000000 // n) AS rate_e6
  FROM s, d
), kept AS (
  SELECT doc.lang, doc.n_chars, p.rate_e6
  FROM documents doc JOIN plan p ON doc.lang = p.lang
  WHERE {_bucket_sql('doc.doc_id', 1000000)} < p.rate_e6
), est AS (
  -- HUGEINT sums (no BIGINT cast) — mirror of the Spark DECIMAL(38,0)
  -- widening; the e6 products below exceed int64 at 10x sf0.1
  SELECT CAST(COUNT(*) AS BIGINT) AS n_kept,
         SUM(n_chars) AS kept_chars,
         SUM(n_chars * (1000000000000 // rate_e6)) AS ht_num,
         SUM(1000000000000 // rate_e6) AS ht_den,
         CAST(COUNT(*) FILTER (lang = 'en') AS BIGINT) AS kept_en,
         SUM(CASE WHEN lang = 'en' THEN 1000000000000 // rate_e6 ELSE 0 END)
              AS ht_en_num
  FROM kept
), truth AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_all,
         SUM(n_chars) AS all_chars,
         CAST(COUNT(*) FILTER (lang = 'en') AS BIGINT) AS n_en
  FROM documents
)
SELECT t.n_all, e.n_kept,
       -- GREATEST guards: an empty corpus (or a plan that keeps nothing)
       -- reports NULL means instead of erroring — same style as
       -- er_blocking_budget; no-op whenever a single row exists
       CAST(t.all_chars * 1000000 // GREATEST(t.n_all, 1) AS BIGINT) AS true_mean_chars_e6,
       CAST(e.kept_chars * 1000000 // GREATEST(e.n_kept, 1) AS BIGINT) AS naive_mean_chars_e6,
       CAST(e.ht_num * 1000000 // GREATEST(e.ht_den, 1) AS BIGINT) AS ht_mean_chars_e6,
       CAST(t.n_en * 1000000 // GREATEST(t.n_all, 1) AS BIGINT) AS true_en_share_e6,
       CAST(e.kept_en * 1000000 // GREATEST(e.n_kept, 1) AS BIGINT) AS naive_en_share_e6,
       CAST(e.ht_en_num * 1000000 // GREATEST(e.ht_den, 1) AS BIGINT) AS ht_en_share_e6
FROM est e, truth t
"""


@register(
    "sample_ht_estimator", oracle=HT_ESTIMATOR_ORACLE, tags=("sampling", "llm", "agg")
)
def sample_ht_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Horvitz-Thompson correction after non-uniform sampling — the
    statistics that make a temperature-mixed corpus measurable again:
    the naive mean over the kept rows is biased toward upsampled
    (tail-language) strata, while weighting every kept row by its
    inverse keep-rate recovers the full-corpus mean. Emits the truth,
    the naive kept-mean and the HT estimate side by side — the
    'measure after mixing' discipline any metrics pipeline downstream
    of sample_temperature_mixture owes its consumers (and the HÁJEK
    ratio form used here is the self-normalizing variant that tolerates
    rate rounding).

    Exactness: rates are the mixture plan's exact integers; inverse
    weights are 1e12 // rate (integer), so all three means are
    integer-ratio divisions — the bias gap is hash-provable, not a
    simulation claim. One plan aggregate + one corpus pass."""
    doc = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    cnt = doc.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    s = cnt.select(
        "lang",
        "n",
        F.round(F.sqrt(F.col("n").cast("double")) * 1_000_000)
        .cast("long")
        .alias("s_e6"),
    )
    d = s.agg(
        F.sum("s_e6").cast("long").alias("denom"),
        F.sum("n").cast("long").alias("n_tot"),
    )
    plan = s.crossJoin(F.broadcast(d)).select(
        "lang",
        F.least(
            F.lit(1_000_000).cast("long"),
            F.expr("((n_tot * s_e6) div denom) * 1000000 div n"),
        ).alias("rate_e6"),
    )
    b = hash_bucket("doc_id", 1_000_000)
    kept = doc.join(F.broadcast(plan), "lang").filter(b < F.col("rate_e6"))
    w_inv = F.expr("1000000000000 div rate_e6")
    # DECIMAL(38,0) HT accumulators: w_inv reaches 1e12 per row, so the
    # long `ht_num * 1000000` product wrapped at 10x data in the r10
    # scale sweep (ANSI ARITHMETIC_OVERFLOW). The per-row n_chars*w_inv
    # multiply stays long (bounded ~1e16); only the corpus-level sums
    # and their e6 quotient intermediates widen. DuckDB mirrors via its
    # native HUGEINT sums.
    est = kept.agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.sum(F.col("n_chars").cast("decimal(38,0)")).alias("kept_chars"),
        F.sum((F.col("n_chars") * w_inv).cast("decimal(38,0)")).alias("ht_num"),
        F.sum(w_inv.cast("decimal(38,0)")).alias("ht_den"),
        F.count(F.when(F.col("lang") == "en", 1)).cast("long").alias("kept_en"),
        F.sum(
            F.when(F.col("lang") == "en", w_inv).otherwise(F.lit(0)).cast("decimal(38,0)")
        ).alias("ht_en_num"),
    )
    truth = doc.agg(
        F.count(F.lit(1)).cast("long").alias("n_all"),
        F.sum(F.col("n_chars").cast("decimal(38,0)")).alias("all_chars"),
        F.count(F.when(F.col("lang") == "en", 1)).cast("long").alias("n_en"),
    )
    return est.crossJoin(F.broadcast(truth)).select(
        "n_all",
        "n_kept",
        F.expr("CAST(all_chars * 1000000 div GREATEST(n_all, 1L) AS BIGINT)").alias(
            "true_mean_chars_e6"
        ),
        F.expr("CAST(kept_chars * 1000000 div GREATEST(n_kept, 1L) AS BIGINT)").alias(
            "naive_mean_chars_e6"
        ),
        F.expr("CAST(ht_num * 1000000 div GREATEST(ht_den, 1L) AS BIGINT)").alias(
            "ht_mean_chars_e6"
        ),
        F.expr("CAST(n_en * 1000000 div GREATEST(n_all, 1L) AS BIGINT)").alias(
            "true_en_share_e6"
        ),
        F.expr("CAST(kept_en * 1000000 div GREATEST(n_kept, 1L) AS BIGINT)").alias(
            "naive_en_share_e6"
        ),
        F.expr("CAST(ht_en_num * 1000000 div GREATEST(ht_den, 1L) AS BIGINT)").alias(
            "ht_en_share_e6"
        ),
    )
