"""Text-analysis operators over the ``documents`` table: token counting,
quality scoring, language-ID heuristic, document fingerprinting.

These are the text-side operators a large-scale training-data pipeline
needs (LLM-data extension surface; the reference has no text analytics —
SURVEY.md §2.2). All are pure expression pipelines: one narrow projection
per document, no shuffle at all except where a groupBy is the semantics.
At 100 TB this family is embarrassingly parallel map work — the plans
contain a single scan each.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import shingle_rows, shingles, shingles_sql, tokens
from ..functions.guards import nonzero
from ..functions.localframe import local_frame
from ..registry import register
from ..session import load_table, pin

TOKEN_STATS_ORACLE = """
WITH tok AS (
  SELECT doc_id, lang, text, string_split(text, ' ') AS toks FROM documents
)
SELECT doc_id, lang,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(toks)) AS BIGINT) AS n_unique_tokens,
       ROUND(CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE), 6) AS type_token_ratio,
       ROUND(list_reduce(list_transform(toks, t -> CAST(length(t) AS DOUBLE)), (a, b) -> a + b)
             / CAST(len(toks) AS DOUBLE), 6) AS avg_token_len,
       CAST(len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+')
                ) AS BIGINT) AS n_bpe_tokens
FROM tok
"""


@register("text_token_stats", oracle=TOKEN_STATS_ORACLE, tags=("text", "llm"))
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace tokenization + per-document token statistics
    (count, distinct count, type-token ratio, mean token length) plus a
    BPE-ish regex token count (GPT-2-pre-tokenizer-shaped alternation:
    letter runs / digit runs / punctuation runs, each with optional
    leading space) — the cheap proxy for LLM token budgeting when the
    real tokenizer isn't in the cluster image."""
    doc = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    n = F.size(toks).cast("long")
    uniq = F.size(F.array_distinct(toks)).cast("long")
    sum_len = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("double")), F.lit(0.0), lambda a, b: a + b
    )
    bpe = F.regexp_count("text", F.lit(" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+")).cast("long")
    return doc.select(
        "doc_id",
        "lang",
        n.alias("n_tokens"),
        uniq.alias("n_unique_tokens"),
        F.round(uniq.cast("double") / n.cast("double"), 6).alias("type_token_ratio"),
        F.round(sum_len / n.cast("double"), 6).alias("avg_token_len"),
        bpe.alias("n_bpe_tokens"),
    )


_STOPWORDS = ("a", "the")

QUALITY_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, n_chars, string_split(text, ' ') AS toks FROM documents
), m AS (
  SELECT doc_id, n_chars,
         CAST(len(toks) AS DOUBLE) AS n_tokens,
         CAST(len(list_distinct(toks)) AS DOUBLE) AS n_unique,
         CAST(len(list_filter(toks, t -> t IN {_STOPWORDS!r})) AS DOUBLE) AS n_stop,
         CAST(len(list_filter(toks, t -> length(t) <= 2)) AS DOUBLE) AS n_short
  FROM tok
)
SELECT doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       ROUND(n_stop / n_tokens, 6) AS stopword_ratio,
       ROUND(n_short / n_tokens, 6) AS short_token_ratio,
       ROUND(0.4 * (1.0 - n_stop / n_tokens)
           + 0.4 * (n_unique / n_tokens)
           + 0.2 * LEAST(n_tokens / 100.0, 1.0), 6) AS quality_score
FROM m
"""


@register("text_quality_score", oracle=QUALITY_ORACLE, tags=("text", "llm"))
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document quality: stopword ratio, short-token ratio and
    lexical diversity blended into one score (the shape of a pretraining
    quality filter; weights are illustrative)."""
    doc = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    n = F.size(toks).cast("double")
    uniq = F.size(F.array_distinct(toks)).cast("double")
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*_STOPWORDS))).cast("double")
    n_short = F.size(F.filter(toks, lambda t: F.length(t) <= 2)).cast("double")
    score = (
        0.4 * (F.lit(1.0) - n_stop / n)
        + 0.4 * (uniq / n)
        + 0.2 * F.least(n / 100.0, F.lit(1.0))
    )
    return doc.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        F.round(n_stop / n, 6).alias("stopword_ratio"),
        F.round(n_short / n, 6).alias("short_token_ratio"),
        F.round(score, 6).alias("quality_score"),
    )


# tiny per-language function-word profiles (n-gram/dictionary heuristic)
_LANG_PROFILES = {
    "en": ("the", "a", "of", "and", "in", "to", "is"),
    "es": ("el", "la", "de", "los", "y", "en", "que"),
    "fr": ("le", "la", "de", "et", "les", "des", "un"),
    "de": ("der", "die", "das", "und", "ist", "von", "ein"),
}


def _langid_oracle() -> str:
    hit_cols = ",\n         ".join(
        f"CAST(len(list_intersect(list_distinct(toks), {list(words)!r})) AS BIGINT) AS hits_{lang}"
        for lang, words in _LANG_PROFILES.items()
    )
    langs = list(_LANG_PROFILES)
    best = "GREATEST(" + ", ".join(f"hits_{lang}" for lang in langs) + ")"
    case = "CASE WHEN " + best + " = 0 THEN 'unknown' "
    for lang in langs:  # fixed priority order breaks ties deterministically
        case += f"WHEN hits_{lang} = {best} THEN '{lang}' "
    case += "END"
    return f"""
WITH tok AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
h AS (
  SELECT doc_id, lang,
         {hit_cols}
  FROM tok
)
SELECT doc_id, lang AS labeled_lang, {case} AS predicted_lang,
       {best} AS best_hits
FROM h
"""


@register("text_langid", oracle=_langid_oracle(), tags=("text", "llm"))
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary-overlap language-ID heuristic: score each document
    against per-language function-word profiles, predict the best match
    (ties broken by fixed language order, zero hits → 'unknown').
    The synthetic corpus is English-like regardless of its ``lang``
    label, so predictions mostly disagree with the label — the point is
    the operator shape, and the oracle checks it exactly."""
    doc = load_table(spark, sf_dir, "documents")
    toksd = F.array_distinct(tokens("text"))
    hits = {
        lang: F.size(F.array_intersect(toksd, F.array(*[F.lit(w) for w in words]))).cast("long")
        for lang, words in _LANG_PROFILES.items()
    }
    best = F.greatest(*hits.values())
    pred = F.when(best == 0, "unknown")
    for lang in _LANG_PROFILES:
        pred = pred.when(hits[lang] == best, lang)
    return doc.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        pred.alias("predicted_lang"),
        best.alias("best_hits"),
    )


FINGERPRINT_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents
), sh AS (
  SELECT doc_id, text, toks, {shingles_sql('toks')} AS shs FROM tok
)
SELECT doc_id,
       md5(text) AS content_md5,
       md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS bag_of_words_md5,
       CASE WHEN len(shs) > 0
            THEN list_reduce(list_transform(shs, s -> md5(s)), (a, b) -> LEAST(a, b))
            ELSE NULL END AS min_shingle_md5
FROM sh
"""


@register("text_fingerprint", oracle=FINGERPRINT_ORACLE, tags=("text", "llm"))
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprints: raw content hash, order-insensitive
    bag-of-words hash, and the min-hashed shingle (a 1-permutation
    MinHash — the building block the dedup family generalizes)."""
    doc = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    shs = shingles(toks)
    min_shingle = F.when(
        F.size(shs) > 0,
        F.array_min(F.transform(shs, lambda s: F.md5(s))),
    )
    return doc.select(
        "doc_id",
        F.md5("text").alias("content_md5"),
        F.md5(F.array_join(F.array_sort(F.array_distinct(toks)), " ")).alias("bag_of_words_md5"),
        min_shingle.alias("min_shingle_md5"),
    )


# ---------------------------------------------------------------------------
# Round 2: TF-IDF, boilerplate detection, PII redaction
# ---------------------------------------------------------------------------

TFIDF_TOPK = 3

# Exact rational IDF (N/df) instead of ln(N/df): Spark ranks and hashes
# these rows against the DuckDB oracle, and ln() is the one place the
# engines can disagree — libm vs Java Math.log differ in the last ulp
# for some inputs, which can flip a ranking or a rounded output. The
# score is therefore tf·N·10⁶ ÷ df in exact BIGINT arithmetic —
# identical ordering semantics (monotone in tf and 1/df), bit-identical
# everywhere. Swapping in log-damped IDF is a one-line change where a
# real pipeline wants it; it just stops being hash-checkable.
TFIDF_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term
), df AS (
  SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY term
), n AS (
  SELECT COUNT(*) AS n_docs FROM documents
), scored AS (
  SELECT doc_id, term, tf, df,
         (tf * n_docs * 1000000) // df AS score_e6,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY (tf * n_docs * 1000000) // df DESC, term)
           AS rnk
  FROM tf JOIN df USING (term) CROSS JOIN n
)
SELECT doc_id, term, tf, df, score_e6, rnk
FROM scored WHERE rnk <= {TFIDF_TOPK}
"""


@register("text_tfidf_topk", oracle=TFIDF_ORACLE, tags=("text", "llm"))
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k most characteristic terms per document by TF-IDF.

    Plan shape at scale: explode → two aggregations (term frequency per
    doc; document frequency per term — both map-side-combined single
    shuffles) → the df table joins back on term (shuffle join; at real
    corpus scale the vocabulary is zipfian-heavy but AQE's skew split
    handles the head terms) → per-doc top-k via ROW_NUMBER window over
    doc_id, which re-uses the tf aggregation's partitioning. The corpus
    size N is a one-row broadcast."""
    doc = load_table(spark, sf_dir, "documents")
    tok = doc.select("doc_id", F.explode(tokens("text")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n = doc.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df, "term")
        .join(F.broadcast(n))
        .withColumn("score_e6", F.expr("(tf * n_docs * 1000000) div df"))
    )
    rnk = F.row_number().over(
        Window.partitionBy("doc_id").orderBy(F.col("score_e6").desc(), F.col("term"))
    )
    return (
        scored.withColumn("rnk", rnk)
        .filter(F.col("rnk") <= TFIDF_TOPK)
        .select("doc_id", "term", "tf", "df", "score_e6", "rnk")
    )


BOILERPLATE_MIN_DOCS = 3
BOILERPLATE_TOPK = 50

BOILERPLATE_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), sh AS (
  SELECT doc_id, unnest({shingles_sql('toks')}) AS shingle FROM tok
)
SELECT shingle, COUNT(*) AS n_docs
FROM sh
GROUP BY shingle
HAVING COUNT(*) >= {BOILERPLATE_MIN_DOCS}
ORDER BY n_docs DESC, shingle
LIMIT {BOILERPLATE_TOPK}
"""


@register("text_boilerplate_ngrams", oracle=BOILERPLATE_ORACLE, tags=("text", "llm"))
def text_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate detection: 5-gram shingles occurring
    in ≥{BOILERPLATE_MIN_DOCS} distinct documents — headers, footers,
    license blocks and navigation chrome surface exactly this way in web
    corpora, and removing them is a standard pretraining cleanup pass.

    Per-doc shingles are DISTINCT (shingle_rows), so COUNT(*) per
    shingle IS the document frequency — one explode, one combined
    shuffle, top-k via TakeOrderedAndProject. The same inverted index
    is the first stage of dedup_ngram_jaccard; this operator is its
    corpus-profiling face."""
    doc = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return (
        shingle_rows(doc)
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= BOILERPLATE_MIN_DOCS)
        .orderBy(F.col("n_docs").desc(), F.col("shingle"))
        .limit(BOILERPLATE_TOPK)
    )


QUALITY_KEEP_PCT = 80  # keep the top 80% of each language by quality

# rank*100 <= n*80 is the integer form of rank <= 0.8*n — no float
# quantile math to disagree across engines.
QUALITY_QUANTILE_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
), m AS (
  SELECT doc_id, lang,
         CAST(len(toks) AS DOUBLE) AS n_tokens,
         CAST(len(list_distinct(toks)) AS DOUBLE) AS n_unique,
         CAST(len(list_filter(toks, t -> t IN {_STOPWORDS!r})) AS DOUBLE) AS n_stop
  FROM tok
), s AS (
  SELECT doc_id, lang,
         ROUND(0.4 * (1.0 - n_stop / n_tokens)
             + 0.4 * (n_unique / n_tokens)
             + 0.2 * LEAST(n_tokens / 100.0, 1.0), 6) AS quality_score
  FROM m
), r AS (
  SELECT doc_id, lang, quality_score,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY quality_score DESC, doc_id) AS rnk,
         COUNT(*) OVER (PARTITION BY lang) AS n_lang
  FROM s
)
SELECT doc_id, lang, quality_score, rnk, n_lang
FROM r WHERE rnk * 100 <= n_lang * {QUALITY_KEEP_PCT}
"""


@register("text_quality_quantile", oracle=QUALITY_QUANTILE_ORACLE, tags=("text", "llm", "window"))
def text_quality_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language quality-quantile filter: keep each language's top
    {QUALITY_KEEP_PCT}% of documents by quality score — the stratified
    form of a pretraining quality cut (a global cut would silently
    drop low-resource languages whose score distribution sits lower).

    Rank comparison is pure integer math (rank·100 ≤ n·80), so there is
    no float quantile threshold to disagree across engines; ties break
    on doc_id for a total order. Scale note: the exact formulation is
    one window per language (a single reducer per language — fine up to
    billions of docs per language with range-partitioned windows); the
    approximate path at extreme scale is percentile_approx per language
    (tiny aggregate) broadcast back as a threshold filter, trading
    exactness for no window at all."""
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
    scored = doc.select("doc_id", "lang", score.alias("quality_score"))
    w = Window.partitionBy("lang")
    rnk = F.row_number().over(w.orderBy(F.col("quality_score").desc(), "doc_id"))
    n_lang = F.count(F.lit(1)).over(w)
    return (
        scored.select("doc_id", "lang", "quality_score", rnk.alias("rnk"), n_lang.alias("n_lang"))
        .filter(F.col("rnk") * 100 <= F.col("n_lang") * QUALITY_KEEP_PCT)
    )


# Ordered (name, pattern) pairs — SSN before phone, or the phone pattern
# consumes the middle of an SSN. Patterns stay inside the common
# Java-regex ∩ RE2 dialect (no lookaround, no backrefs) so Spark and
# DuckDB match identically.
PII_PATTERNS = (
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"),
    ("ssn", "[0-9]{3}-[0-9]{2}-[0-9]{4}"),
    ("phone", "\\+?[0-9][0-9()./ -]{6,}[0-9]"),
)


def _pii_redact_sql() -> str:
    expr = "text"
    counts = []
    for name, pat in PII_PATTERNS:
        counts.append(
            f"CAST(len(regexp_extract_all({expr}, '{pat}')) AS BIGINT) AS n_{name}"
        )
        expr = f"regexp_replace({expr}, '{pat}', '[{name.upper()}]', 'g')"
    return f"""
SELECT doc_id, {', '.join(counts)}, {expr} AS redacted, md5({expr}) AS redacted_md5
FROM documents
"""


@register("text_pii_redact", oracle=_pii_redact_sql(), tags=("text", "llm"))
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII masking: emails, SSNs and phone numbers replaced by typed
    placeholder tokens, with per-class match counts — the standard
    pre-release scrub for web-scraped training text. Pure regexp
    expression pipeline: one narrow scan, no shuffle, embarrassingly
    parallel at 100 TB.

    The counts are computed BEFORE each class's replacement and the
    replacements apply in declared order (SSN before phone — see
    PII_PATTERNS). The synthetic corpus contains no PII, so this
    registry row proves cross-engine regex-dialect parity on clean
    text; the positive-match behavior is locked by the literal-row
    tests in tests/test_llm_ops.py."""
    doc = load_table(spark, sf_dir, "documents")
    expr: Column = F.col("text")
    out = [F.col("doc_id")]
    for name, pat in PII_PATTERNS:
        out.append(F.regexp_count(expr, F.lit(pat)).cast("long").alias(f"n_{name}"))
        expr = F.regexp_replace(expr, pat, f"[{name.upper()}]")
    out.append(expr.alias("redacted"))
    out.append(F.md5(expr).alias("redacted_md5"))
    return doc.select(*out)


# ---------------------------------------------------------------------------
# Intra-document repetition (Gopher-style quality filters)
# ---------------------------------------------------------------------------

DUP2_MAX_E6 = 300_000  # max duplicate-2-gram fraction (×1e6) to keep
DUP3_MAX_E6 = 200_000  # max duplicate-3-gram fraction (×1e6)
TOPTOK_MAX_E6 = 200_000  # max most-frequent-token fraction (×1e6)

REPETITION_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), base AS (
  SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tok FROM tok
), tf AS (
  SELECT doc_id, MAX(c) AS max_tf FROM (
    SELECT doc_id, COUNT(*) AS c
    FROM (SELECT doc_id, unnest(toks) AS term FROM tok)
    GROUP BY doc_id, term
  ) GROUP BY doc_id
), g AS (
  SELECT doc_id, n_tok,
         CAST(len({shingles_sql('toks', 2)}) AS BIGINT) AS dist2,
         CAST(len({shingles_sql('toks', 3)}) AS BIGINT) AS dist3
  FROM base
)
SELECT g.doc_id, g.n_tok,
       CASE WHEN n_tok >= 2
            THEN ((n_tok - 1 - dist2) * 1000000) // (n_tok - 1) ELSE 0 END
         AS dup2_e6,
       CASE WHEN n_tok >= 3
            THEN ((n_tok - 2 - dist3) * 1000000) // (n_tok - 2) ELSE 0 END
         AS dup3_e6,
       (tf.max_tf * 1000000) // n_tok AS toptok_e6,
       (CASE WHEN n_tok >= 2
             THEN ((n_tok - 1 - dist2) * 1000000) // (n_tok - 1) ELSE 0 END
          <= {DUP2_MAX_E6}
        AND CASE WHEN n_tok >= 3
             THEN ((n_tok - 2 - dist3) * 1000000) // (n_tok - 2) ELSE 0 END
          <= {DUP3_MAX_E6}
        AND (tf.max_tf * 1000000) // n_tok <= {TOPTOK_MAX_E6}) AS keep
FROM g JOIN tf ON g.doc_id = tf.doc_id
"""


@register("text_repetition_filter", oracle=REPETITION_ORACLE, tags=("text", "llm"))
def text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition screen: duplicate-2-gram fraction,
    duplicate-3-gram fraction, and most-frequent-token share, plus the
    conjunctive keep flag — the repetition family of quality filters
    used to drop degenerate/boilerplate-looped documents before
    pretraining. All thresholds are ×1e6 integers (integer div), so the
    flag is bit-identical across engines with no float epsilon.

    Plan shape: distinct n-gram counts reuse the shingle_rows explode
    (codegen'd position explode, never an interpreted lambda), each
    aggregated per doc_id; max token frequency is a two-level
    (doc_id, term) → doc_id aggregation with map-side combine. All
    joins are doc_id-keyed, so AQE plans them as one co-partitioned
    exchange chain — per-doc state is O(tokens per doc), nothing global."""
    doc = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = doc.select("doc_id", F.size(tokens("text")).cast("long").alias("n_tok"))
    tf = (
        doc.select("doc_id", F.explode(tokens("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("max_tf"))
    )
    d2 = shingle_rows(doc, 2).groupBy("doc_id").agg(F.count(F.lit(1)).alias("dist2"))
    d3 = shingle_rows(doc, 3).groupBy("doc_id").agg(F.count(F.lit(1)).alias("dist3"))
    j = base.join(tf, "doc_id").join(d2, "doc_id").join(d3, "doc_id")
    n = F.col("n_tok")
    dup2 = F.when(
        n >= 2, F.expr("((n_tok - 1 - dist2) * 1000000) div (n_tok - 1)")
    ).otherwise(F.lit(0).cast("long"))
    dup3 = F.when(
        n >= 3, F.expr("((n_tok - 2 - dist3) * 1000000) div (n_tok - 2)")
    ).otherwise(F.lit(0).cast("long"))
    toptok = F.expr("(max_tf * 1000000) div n_tok")
    out = j.select(
        "doc_id",
        "n_tok",
        dup2.alias("dup2_e6"),
        dup3.alias("dup3_e6"),
        toptok.alias("toptok_e6"),
    )
    keep = (
        (F.col("dup2_e6") <= DUP2_MAX_E6)
        & (F.col("dup3_e6") <= DUP3_MAX_E6)
        & (F.col("toptok_e6") <= TOPTOK_MAX_E6)
    )
    return out.select("*", keep.alias("keep"))


# ---------------------------------------------------------------------------
# Benchmark contamination (n-gram overlap against a held-out eval set)
# ---------------------------------------------------------------------------

BENCH_MOD = 53  # doc_id % BENCH_MOD == 0 → benchmark member (deterministic)
CONTAM_N = 4  # shingle width for the overlap test (8-13 in real suites)

CONTAMINATION_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), sh AS (
  SELECT doc_id, unnest({shingles_sql('toks', CONTAM_N)}) AS shingle FROM tok
), bench AS (
  SELECT doc_id AS bench_doc, shingle FROM sh WHERE doc_id % {BENCH_MOD} = 0
), corpus AS (
  SELECT doc_id, shingle FROM sh WHERE doc_id % {BENCH_MOD} != 0
)
SELECT c.doc_id,
       COUNT(DISTINCT c.shingle) AS n_hit_shingles,
       COUNT(DISTINCT b.bench_doc) AS n_bench_docs
FROM corpus c JOIN bench b ON c.shingle = b.shingle
GROUP BY c.doc_id
"""


@register("text_contamination", oracle=CONTAMINATION_ORACLE, tags=("text", "llm", "dedup"))
def text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination detection: training documents sharing a
    {CONTAM_N}-gram shingle with any benchmark document (deterministic membership
    doc_id % {BENCH_MOD} == 0 stands in for the eval set), with how many
    shingles hit and how many distinct benchmark docs are implicated —
    the standard decontamination pass before a pretraining run.

    Scale shape: real benchmark suites are thousands of documents while
    the corpus is billions, so the benchmark shingle set is tiny and
    BROADCAST; the corpus side streams through a broadcast hash join
    with no shuffle, and only matching (doc, shingle) pairs reach the
    per-doc aggregate. The one shuffle is the final doc_id groupBy over
    hits only — the corpus side deliberately keeps NON-distinct shingles
    (countDistinct dedupes downstream), so no (doc_id, shingle) shuffle
    ever happens on the probe side."""
    doc = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    bench = shingle_rows(
        doc.filter(F.col("doc_id") % BENCH_MOD == 0), CONTAM_N
    ).select(F.col("doc_id").alias("bench_doc"), "shingle")
    corpus = shingle_rows(
        doc.filter(F.col("doc_id") % BENCH_MOD != 0), CONTAM_N, distinct=False
    )
    return (
        corpus.join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("shingle").alias("n_hit_shingles"),
            F.countDistinct("bench_doc").alias("n_bench_docs"),
        )
    )


# ---------------------------------------------------------------------------
# Bigram-LM likelihood scoring (CCNet-style corpus-LM quality pass)
# ---------------------------------------------------------------------------

BIGRAM_LM_ORACLE = """
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), bg AS (
  SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2
  FROM tok, LATERAL (SELECT unnest(generate_series(1, len(toks) - 1)) AS i)
  WHERE len(toks) >= 2
), c2 AS (
  SELECT w1, w2, COUNT(*) AS n12 FROM bg GROUP BY w1, w2
), c1 AS (
  SELECT w1, SUM(n12) AS n1 FROM c2 GROUP BY w1
), model AS (
  SELECT c2.w1, c2.w2,
         CAST(ROUND(ln(CAST(n12 AS DOUBLE) / n1) * 1000000) AS BIGINT) AS logp_e6
  FROM c2 JOIN c1 ON c2.w1 = c1.w1
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(logp_e6) AS BIGINT) AS sum_logp_e6
FROM bg JOIN model ON bg.w1 = model.w1 AND bg.w2 = model.w2
GROUP BY doc_id
"""


@register("text_bigram_logprob", oracle=BIGRAM_LM_ORACLE, tags=("text", "llm"))
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-bigram-LM likelihood per document: train MLE bigram
    probabilities P(w2|w1) = c(w1,w2)/c(w1,·) on the corpus itself, then
    score each document by its summed bigram log-probability — the
    LM-quality pass (CCNet-shaped) that separates fluent text from
    gibberish without an external model. No smoothing needed: every
    scored bigram exists in the training counts by construction.

    Determinism: each bigram's ln(p) is rounded to a ×1e6 integer
    BEFORE the per-doc sum, so aggregation order cannot move the hash —
    only a per-bigram libm ulp landing exactly on a .5e-6 boundary
    could, and the per-doc totals are exact integer sums.

    Scale: bigram counts are one map-side-combined shuffle (vocab²
    upper-bounded, zipfian in practice — AQE skew-split handles the
    head); c1 derives from c2 (|vocab| rows), joined on w1; scoring
    joins doc bigrams to the model on (w1,w2) — the model table is far
    smaller than the corpus stream and the join key is the same pair
    the count shuffle already used."""
    doc = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split("text", " ")
    k = F.size("toks") - 1
    bg = (
        doc.select("doc_id", toks.alias("toks"))
        .select(
            "doc_id",
            "toks",
            F.explode(F.when(k >= 1, F.sequence(F.lit(1), k))).alias("i"),
        )
        .select(
            "doc_id",
            F.element_at("toks", F.col("i")).alias("w1"),
            F.element_at("toks", F.col("i") + 1).alias("w2"),
        )
    )
    c2 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n12"))
    c1 = c2.groupBy("w1").agg(F.sum("n12").alias("n1"))
    model = c2.join(c1, "w1").select(
        "w1",
        "w2",
        F.round(F.log(F.col("n12").cast("double") / F.col("n1")) * 1_000_000)
        .cast("long")
        .alias("logp_e6"),
    )
    return (
        bg.join(model, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("logp_e6").alias("sum_logp_e6"),
        )
    )


@register("text_quality_threshold_approx", tags=("text", "llm", "approx"))  # rows-only
def text_quality_threshold_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The no-window scale path of text_quality_quantile: per-language
    20th-percentile threshold via percentile_approx (a tiny mergeable
    sketch aggregate — |languages| rows), broadcast back as a filter.
    No per-language window over N rows at all, so the per-language
    reducer bottleneck of the exact formulation disappears — THE way to
    run a stratified quality cut over a 100 TB corpus.

    Rows-only for the driver (quantile sketches are engine-specific);
    the test asserts the kept fraction per language brackets the exact
    quantile op's 80% and that the two operators agree away from the
    threshold boundary."""
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
    scored = doc.select("doc_id", "lang", score.alias("quality_score"))
    thr = scored.groupBy("lang").agg(
        F.percentile_approx("quality_score", (100 - QUALITY_KEEP_PCT) / 100.0, 10_000).alias(
            "thr"
        )
    )
    return (
        scored.join(F.broadcast(thr), "lang")
        .filter(F.col("quality_score") >= F.col("thr"))
        .select("doc_id", "lang", "quality_score")
    )


CHUNK_SIZE = 64  # words per chunk
CHUNK_STRIDE = 48  # overlap = CHUNK_SIZE - CHUNK_STRIDE = 16 words

CHUNK_ORACLE = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), s AS (
  SELECT doc_id, w,
         CAST((GREATEST(len(w) - {CHUNK_SIZE}, 0) + {CHUNK_STRIDE - 1})
              // {CHUNK_STRIDE} AS INTEGER) AS k_max
  FROM t
), e AS (
  SELECT doc_id, w,
         CAST(unnest(generate_series(0, k_max)) AS INTEGER) AS chunk_idx
  FROM s
)
SELECT doc_id, chunk_idx,
       CAST(len(w[chunk_idx * {CHUNK_STRIDE} + 1 : chunk_idx * {CHUNK_STRIDE} + {CHUNK_SIZE}])
            AS BIGINT) AS n_words,
       md5(array_to_string(
           w[chunk_idx * {CHUNK_STRIDE} + 1 : chunk_idx * {CHUNK_STRIDE} + {CHUNK_SIZE}], ' '))
         AS chunk_hash
FROM e
"""


@register("text_chunk_overlap", oracle=CHUNK_ORACLE, tags=("text", "llm"))
def text_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping sliding-window chunking (RAG / context-window prep):
    {CHUNK_SIZE}-word chunks every {CHUNK_STRIDE} words, last chunk
    covering the tail. Offsets come from sequence() + explode inside
    the row — a pure projection + generate, no shuffle at all; chunk
    count scales with document length, never with corpus size. The
    chunk is emitted as an md5 (engine-identical) of the joined words
    so the driver hashes compact scalars, not megabyte strings."""
    doc = load_table(spark, sf_dir, "documents")
    w = tokens("text")
    k_max = (
        (F.greatest(F.size(w) - F.lit(CHUNK_SIZE), F.lit(0)) + F.lit(CHUNK_STRIDE - 1))
        / F.lit(CHUNK_STRIDE)
    ).cast("int")  # non-negative ints: floor division via cast
    e = doc.select(
        "doc_id",
        w.alias("w"),
        F.explode(F.sequence(F.lit(0), k_max)).alias("chunk_idx"),
    )
    chunk = F.slice("w", F.col("chunk_idx") * CHUNK_STRIDE + 1, CHUNK_SIZE)
    return e.select(
        "doc_id",
        "chunk_idx",
        F.size(chunk).cast("long").alias("n_words"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_hash"),
    )


BM25_QUERY = ("join", "window", "scan")
BM25_K1 = 1.2  # term-frequency saturation
BM25_B = 0.75  # length normalization
BM25_TOPK = 20


def _bm25_oracle() -> str:
    terms = ", ".join(f"('{t}')" for t in BM25_QUERY)
    return f"""
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), stats AS (
  SELECT COUNT(*) AS n_docs,
         CAST(SUM(len(toks)) AS DOUBLE) / COUNT(*) AS avg_len
  FROM tok
), qt(term) AS (VALUES {terms}),
tf AS (
  SELECT t.doc_id, q.term,
         CAST(len(list_filter(t.toks, x -> x = q.term)) AS DOUBLE) AS tf,
         CAST(len(t.toks) AS DOUBLE) AS dl
  FROM tok t, qt q
), df AS (
  SELECT term, COUNT(*) FILTER (WHERE tf > 0) AS df FROM tf GROUP BY term
), scored AS (
  SELECT tf.doc_id,
         CAST(SUM(CAST(FLOOR(
           LN(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
           * (tf.tf * ({BM25_K1} + 1.0))
           / (tf.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * tf.dl / s.avg_len))
           * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS score_e6
  FROM tf JOIN df d ON tf.term = d.term, stats s
  WHERE tf.tf > 0
  GROUP BY tf.doc_id
)
SELECT doc_id, ROUND(CAST(score_e6 AS DOUBLE) / 1000000, 6) AS bm25
FROM scored
ORDER BY score_e6 DESC, doc_id
LIMIT {BM25_TOPK}
"""


@register("text_bm25_topk", oracle=_bm25_oracle(), tags=("text", "llm"))
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval: top-{BM25_TOPK} documents for a fixed term query
    (Okapi k1={BM25_K1}, b={BM25_B}). Each per-(doc, term) contribution
    is computed from exact integers (tf, df, doc length, corpus size)
    by the SAME double expression in both engines — bit-identical —
    then quantized to a x1e6 integer BEFORE the per-doc sum, so the
    aggregate is exactly order-independent (same pattern as
    text_bigram_logprob; a raw double sum depends on shuffle order).
    The top-k carries a doc_id tie-break on the exact integer score.

    Scale shape: per-(doc, term) tf comes from one projection over the
    token arrays (terms are a tiny literal list — no explode of the
    corpus vocabulary); df and corpus stats are two one-row/terms-row
    aggregates broadcast back; the ranking is TakeOrderedAndProject,
    never a global sort. This is the query side of a search engine —
    the indexing side (DF tables) is text_tfidf_topk."""
    doc = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    base = doc.select("doc_id", toks.alias("toks"), F.size(toks).cast("double").alias("dl"))

    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl") / F.count(F.lit(1))).alias("avg_len"),
    )
    def tf_col(term: str):
        # NB: a plain closure over `term` — adding a defaulted second
        # lambda param would make Spark bind it as the (element, index)
        # two-argument filter form.
        return F.size(F.filter("toks", lambda x: x == F.lit(term))).cast("double")

    per_term = [
        base.select(
            "doc_id",
            "dl",
            F.lit(term).alias("term"),
            tf_col(term).alias("tf"),
        )
        for term in BM25_QUERY
    ]
    tf = per_term[0]
    for p in per_term[1:]:
        tf = tf.unionByName(p)
    tf = tf.filter(F.col("tf") > 0).transform(pin)  # df + scoring both read it
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    contrib = idf * (F.col("tf") * (BM25_K1 + 1.0)) / (
        F.col("tf") + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avg_len"))
    )
    contrib_e6 = F.floor(contrib * 1_000_000 + F.lit(0.5)).cast("long")
    scored = (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(contrib_e6).alias("score_e6"))
    )
    return (
        scored.orderBy(F.desc("score_e6"), "doc_id")
        .limit(BM25_TOPK)
        .select(
            "doc_id",
            F.round(F.col("score_e6").cast("double") / 1_000_000, 6).alias("bm25"),
        )
    )


# ---------------------------------------------------------------------------
# Inverted-index construction (the indexing side of retrieval)
# ---------------------------------------------------------------------------

INDEX_MIN_DF = 10  # drop hapax-ish terms; bounds index rows

INVERTED_INDEX_ORACLE = f"""
WITH posting AS (
  SELECT DISTINCT t.doc_id, u.term
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) t,
       unnest(t.toks) AS u(term)
)
SELECT term,
       COUNT(*) AS df,
       string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
FROM posting
GROUP BY term
HAVING COUNT(*) >= {INDEX_MIN_DF}
"""


@register("text_inverted_index", oracle=INVERTED_INDEX_ORACLE, tags=("text", "llm"))
def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the term -> (df, sorted posting list) inverted index for
    terms with df >= {INDEX_MIN_DF} — the indexing half of a search
    stack (text_bm25_topk / text_tfidf_topk are the query half).

    Scale shape: explode distinct per-doc terms (map-side), ONE shuffle
    keyed by term; posting lists are per-term aggregates, so partitions
    scale with vocabulary, not corpus, and a hot stop-word term is
    bounded by the df cap upstream consumers apply (cf. max_df in
    dedup). Posting list serialized as a comma-joined sorted string so
    the driver value hash is representation-stable (the pattern
    agg_collect_list established)."""
    doc = load_table(spark, sf_dir, "documents")
    posting = doc.select(
        "doc_id", F.explode(F.array_distinct(tokens("text"))).alias("term")
    )
    return (
        posting.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.array_join(F.array_sort(F.collect_list("doc_id")), ",").alias("postings"),
        )
        .filter(F.col("df") >= INDEX_MIN_DF)
    )


# ---------------------------------------------------------------------------
# Rolling-hash / winnowing fingerprint (Rabin-Karp style)
# ---------------------------------------------------------------------------

RH_MOD = 1_000_000_007
RH_BASE = 131
RH_WINDOW = 32

ROLLING_FP_ORACLE = f"""
WITH c AS (
  SELECT doc_id, length(text) AS n,
         list_transform(range(1, length(text) + 1),
                        i -> CAST(unicode(text[i]) AS BIGINT)) AS codes
  FROM documents
)
SELECT doc_id, CAST(n AS BIGINT) AS n_chars,
       list_reduce(list_prepend(CAST(0 AS BIGINT), codes),
                   (a, b) -> (a * {RH_BASE} + b) % {RH_MOD}) AS full_hash,
       CASE WHEN n >= {RH_WINDOW} THEN
         list_aggregate(list_transform(range(1, n - {RH_WINDOW - 2}),
           i -> list_reduce(list_prepend(CAST(0 AS BIGINT),
                                         codes[i : i + {RH_WINDOW - 1}]),
                            (a, b) -> (a * {RH_BASE} + b) % {RH_MOD})), 'min')
       ELSE NULL END AS min_window_hash
FROM c
"""


@register("text_rolling_fingerprint", oracle=ROLLING_FP_ORACLE, tags=("text", "llm", "pandas"))
def text_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rabin-Karp polynomial rolling-hash fingerprints: the full-text
    hash plus the minimum {RH_WINDOW}-char window hash (winnowing-style
    — robust to insertions outside the minimizing window, the classic
    plagiarism/near-dup fingerprint alongside the md5 family in
    text_fingerprint). Integer arithmetic mod {RH_MOD}, base {RH_BASE};
    products stay < 2^60 and are identical in both engines.

    Implementation note: each window hash derives from the PREVIOUS one
    (h' = h·B - c_out·B^W + c_in mod M) — sequential state like the EMA
    — so this runs as an Arrow-batched mapInPandas closure with the
    O(n) rolling update. The expression-only alternative (nested
    transform/aggregate re-folding every window) is O(n·W) per doc and
    ~100x slower interpreted (higher-order exprs don't codegen); the
    oracle replays the O(n·W) form because DuckDB's list kernels make
    it cheap at oracle scale. Embarrassingly parallel map work, no
    shuffle. NULL-text rows are skipped before the Arrow stage
    (fail-soft, same as the multimodal payload discipline)."""
    doc = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", "text")
    )

    def fingerprint(batches):
        import pandas as _pd

        mod, base, win = 1_000_000_007, 131, 32
        pow_w = pow(base, win, mod)

        def per_doc(text: str):
            codes = [ord(ch) for ch in text]
            full = 0
            for c in codes:
                full = (full * base + c) % mod
            if len(codes) < win:
                return len(codes), full, None
            h = 0
            for c in codes[:win]:
                h = (h * base + c) % mod
            best = h
            for i in range(win, len(codes)):
                h = (h * base - codes[i - win] * pow_w + codes[i]) % mod
                if h < best:
                    best = h
            return len(codes), full, best

        for pdf in batches:
            out = pdf["text"].map(per_doc)
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_chars": out.map(lambda t: t[0]),
                    "full_hash": out.map(lambda t: t[1]),
                    "min_window_hash": out.map(lambda t: t[2]),
                }
            )

    return doc.mapInPandas(
        fingerprint,
        schema="doc_id bigint, n_chars bigint, full_hash bigint, min_window_hash bigint",
    )


ENTROPY_ORACLE = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
), c AS (
  SELECT doc_id, w, COUNT(*) AS cnt FROM tok GROUP BY doc_id, w
), agg AS (
  SELECT doc_id,
         CAST(SUM(cnt) AS BIGINT) AS n_toks,
         CAST(SUM(CAST(ROUND(cnt * ln(CAST(cnt AS DOUBLE)) * 1000000) AS BIGINT)) AS BIGINT)
           AS sum_clnc_e6
  FROM c GROUP BY doc_id
)
SELECT doc_id, n_toks, sum_clnc_e6,
       CAST(ROUND(ln(CAST(n_toks AS DOUBLE)) * 1000000) AS BIGINT)
         - CAST(ROUND(CAST(sum_clnc_e6 AS DOUBLE) / n_toks) AS BIGINT) AS entropy_e6
FROM agg
"""


@register("text_token_entropy", oracle=ENTROPY_ORACLE, tags=("text", "llm"))
def text_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token-distribution Shannon entropy (nats, ×1e6
    fixed point): H = ln(n) − (Σ c·ln c)/n over the doc's token counts.
    Low entropy ⇒ repetitive/templated text (a tiny vocabulary used
    over and over), high entropy ⇒ diverse vocabulary — a standard
    corpus-quality signal complementing text_repetition_filter (which
    looks at adjacent duplication, not distribution shape).

    Determinism: each count's c·ln(c) term is rounded to a ×1e6 integer
    BEFORE the per-doc sum (the text_bigram_logprob idiom), so
    aggregation order cannot move the hash; the final combine is one
    deterministic IEEE division of the exact integer sum.

    Scale: explode → two map-side-combined shuffles (doc_id,token then
    doc_id), both keyed on doc_id-prefixed keys — no global state, no
    vocabulary broadcast needed."""
    doc = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    c = (
        doc.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    term = F.round(F.col("cnt") * F.log(F.col("cnt").cast("double")) * 1_000_000).cast(
        "long"
    )
    agg = c.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_toks"),
        F.sum(term).alias("sum_clnc_e6"),
    )
    entropy_e6 = (
        F.round(F.log(F.col("n_toks").cast("double")) * 1_000_000).cast("long")
        - F.round(F.col("sum_clnc_e6").cast("double") / F.col("n_toks")).cast("long")
    )
    return agg.select("doc_id", "n_toks", "sum_clnc_e6", entropy_e6.alias("entropy_e6"))


COMPRESSION_SCHEMA = "doc_id long, n_bytes long, n_compressed long, ratio_e6 long"


@register("text_compression_ratio", tags=("text", "llm", "quality"))  # rows-only: no zlib in SQL
def text_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zlib compression ratio per document — the classic cheap quality/
    repetition signal (Gopher/RefinedWeb-style): highly repetitive or
    templated text compresses far below natural prose, near-random
    gibberish barely compresses at all. ratio_e6 = ⌈compressed/raw⌉ in
    ×1e6 fixed point.

    Rows-only check: compression is computed by zlib (level 6), which
    no SQL oracle can reproduce; determinism within the environment is
    unit-tested (tests/test_llm_ops.py) along with the signal's
    direction — repeated text must compress smaller than shuffled text.

    Scale: mapInPandas over Arrow batches, self-contained closure, no
    shuffle — pure per-row map wherever the text already lives."""
    doc = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def compress(batches):
        import pandas as _pd
        import zlib as _zlib

        for pdf in batches:
            raw = pdf["text"].fillna("").map(lambda t: t.encode("utf-8"))
            nb = raw.map(len)
            nc = raw.map(lambda b: len(_zlib.compress(b, 6)))
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": nb,
                    "n_compressed": nc,
                    "ratio_e6": [
                        (c * 1_000_000) // b if b else 0 for b, c in zip(nb, nc)
                    ],
                }
            )

    return doc.mapInPandas(compress, schema=COMPRESSION_SCHEMA)


# GPT-2-style pre-tokenizer, restricted to the RE2∩Java dialect both
# engines implement identically (alternation + classes only — no
# lookahead, no \p classes): contraction suffix, space-prefixed letter
# run, space-prefixed digit run, space-prefixed punctuation run.
BPE_PRETOKEN_RE = "'[a-z]+| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9' ]+"

BPE_PRETOKEN_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest(regexp_extract_all(text, '{BPE_PRETOKEN_RE.replace("'", "''")}')) AS t
  FROM documents
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(COUNT(DISTINCT t) AS BIGINT) AS n_distinct,
       CAST(SUM(length(t)) AS BIGINT) AS total_len
FROM tok GROUP BY doc_id
"""


@register("text_bpe_pretokenize", oracle=BPE_PRETOKEN_ORACLE, tags=("text", "llm"))
def text_bpe_pretokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-style pre-tokenization counts per document: the GPT-2
    pre-tokenizer's split classes (contraction suffixes, space-prefixed
    letter/digit/punctuation runs) restricted to the regex dialect RE2
    and Java share, so Spark and the oracle tokenize bit-identically
    (probed on both engines). n_tokens is what a BPE tokenizer's cost
    is proportional to — the budget number every training-data pipeline
    wants BEFORE running the real (expensive) tokenizer; whitespace
    token counts (text_token_stats) undercount punctuation-heavy text.

    Scale: regexp_extract_all + explode, one map-side-combined shuffle
    on doc_id — identical shape to text_token_stats."""
    doc = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tok = doc.select(
        "doc_id",
        F.explode(F.regexp_extract_all("text", F.lit(BPE_PRETOKEN_RE), 0)).alias("t"),
    )
    return tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct("t").alias("n_distinct"),
        F.sum(F.length("t")).alias("total_len"),
    )


# ---- vocabulary coverage / OOV rate -------------------------------------
_VOCAB_N = 500

VOCAB_COVERAGE_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
), vocab AS (
  SELECT token FROM tok GROUP BY token
  ORDER BY COUNT(*) DESC, token LIMIT {_VOCAB_N}
)
SELECT t.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS oov_tokens,
       ROUND(CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS oov_rate
FROM tok t LEFT JOIN vocab v ON t.token = v.token
GROUP BY t.doc_id
"""


@register("text_vocab_coverage", oracle=VOCAB_COVERAGE_ORACLE, tags=("text", "llm"))
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per document against a corpus-derived
    top-N vocabulary — the coverage check run before committing to a
    tokenizer/vocab: rising OOV on a new data source means the vocab
    no longer fits the distribution.

    Vocab = top 500 tokens by corpus frequency with a total-order
    tie-break (count DESC, token ASC), taken via TakeOrdered over the
    distinct-token aggregate (vocabulary-sized, not corpus-sized); it
    then broadcasts to a left join against the exploded token stream,
    so the per-document pass is map-side — no shuffle of the token
    stream beyond the doc_id re-aggregation. At 100 TB the vocab build
    would add a min-count pre-filter (HAVING COUNT >= t) to bound the
    aggregate; the probe side is unchanged."""
    doc = load_table(spark, sf_dir, "documents")
    tok = doc.select("doc_id", F.explode(tokens("text")).alias("token"))
    vocab = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "token")
        .limit(_VOCAB_N)
        .select("token", F.lit(True).alias("in_vocab"))
    )
    oov = F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
    n = F.count(F.lit(1))
    return (
        tok.join(F.broadcast(vocab), "token", "left")
        .groupBy("doc_id")
        .agg(
            n.alias("n_tokens"),
            oov.alias("oov_tokens"),
            F.round(oov.cast("double") / n.cast("double"), 6).alias("oov_rate"),
        )
    )


# ---------------------------------------------------------------------------
# RAKE keyword extraction (degree/frequency scoring over stopword-
# delimited phrases).
# ---------------------------------------------------------------------------

RAKE_ORACLE = f"""
WITH tok AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS w,
         generate_subscripts(string_split(text, ' '), 1) AS pos
  FROM documents
), marked AS (
  SELECT doc_id, w, pos,
         CASE WHEN w IN {_STOPWORDS!r} THEN 1 ELSE 0 END AS is_stop,
         SUM(CASE WHEN w IN {_STOPWORDS!r} THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS phrase_id
  FROM tok WHERE w <> ''
), words AS (
  SELECT doc_id, w, phrase_id FROM marked WHERE is_stop = 0
), plen AS (
  SELECT doc_id, phrase_id, CAST(COUNT(*) AS BIGINT) AS plen
  FROM words GROUP BY 1, 2
), st AS (
  SELECT w.w AS word, CAST(COUNT(*) AS BIGINT) AS freq,
         CAST(SUM(p.plen) AS BIGINT) AS degree
  FROM words w JOIN plen p
    ON w.doc_id = p.doc_id AND w.phrase_id = p.phrase_id
  GROUP BY 1
)
SELECT word, freq, degree, (degree * 1000000) // freq AS rake_score_e6
FROM st
"""


@register("text_rake_keywords", oracle=RAKE_ORACLE, tags=("text", "llm", "window"))
def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword scoring over the corpus: phrases are maximal
    stopword-free token runs (phrase id = running stopword count per
    doc — one per-doc window, partitioned, linear); each word's degree
    is the summed length of the phrases containing it (multiplicity
    included), and score = degree/freq as an exact ×1e6 integer
    division. Words that travel in long phrases outrank equally
    frequent loners — the RAKE signal.

    Scale: posexplode + one doc-partitioned running sum + two
    co-keyed aggregations; per-word state is two longs, so the final
    vocabulary aggregate is map-side combinable and skew-bounded by
    vocabulary size, not corpus size."""
    doc = load_table(spark, sf_dir, "documents")
    tok = doc.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "w")
    ).filter(F.col("w") != "")
    is_stop = F.col("w").isin(*_STOPWORDS).cast("int")
    marked = tok.select(
        "doc_id",
        "w",
        is_stop.alias("is_stop"),
        F.sum(is_stop)
        .over(Window.partitionBy("doc_id").orderBy("pos"))
        .alias("phrase_id"),
    )
    words = marked.filter(F.col("is_stop") == 0).select("doc_id", "w", "phrase_id")
    # Phrase length as a second window over the SAME frame: the
    # doc_id hash partitioning already satisfies the (doc_id,
    # phrase_id) clustering, so this adds a sort, not a shuffle — the
    # old groupBy+join shape consumed `words` twice, re-running the
    # corpus posexplode + running-sum window per consumer.
    plen_w = Window.partitionBy("doc_id", "phrase_id")
    st = (
        words.withColumn("plen", F.count(F.lit(1)).over(plen_w).cast("long"))
        .groupBy(F.col("w").alias("word"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("freq"),
            F.sum("plen").cast("long").alias("degree"),
        )
    )
    return st.select(
        "word",
        "freq",
        "degree",
        F.expr("(degree * 1000000) div freq").alias("rake_score_e6"),
    )


# ---------------------------------------------------------------------------
# PMI collocation mining over corpus bigrams.
# ---------------------------------------------------------------------------

PMI_MIN_COUNT = 5

PMI_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), bg AS (
  SELECT toks[i] AS w1, toks[i+1] AS w2
  FROM tok, LATERAL (SELECT unnest(generate_series(1, len(toks) - 1)) AS i)
  WHERE len(toks) >= 2
), c2 AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n12 FROM bg GROUP BY w1, w2
), c1 AS (
  SELECT w1, CAST(SUM(n12) AS BIGINT) AS n1 FROM c2 GROUP BY w1
), cr AS (
  SELECT w2, CAST(SUM(n12) AS BIGINT) AS n2 FROM c2 GROUP BY w2
), tot AS (
  SELECT CAST(SUM(n12) AS BIGINT) AS n FROM c2
)
SELECT c2.w1, c2.w2, c2.n12,
       CAST(ROUND(ln((CAST(tot.n AS DOUBLE) * c2.n12)
                     / (CAST(c1.n1 AS DOUBLE) * cr.n2)) * 1000000) AS BIGINT)
         AS pmi_e6
FROM c2 JOIN c1 ON c2.w1 = c1.w1 JOIN cr ON c2.w2 = cr.w2, tot
WHERE c2.n12 >= {PMI_MIN_COUNT}
"""


@register("text_pmi_bigrams", oracle=PMI_ORACLE, tags=("text", "llm"))
def text_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information of adjacent token pairs —
    collocation mining (``ln(N·c12 / (c1·c2))``, positional margins:
    c1 = pair-starts with w1, c2 = pair-ends with w2). Complements
    text_bigram_logprob: the LM scores DOCUMENTS by conditional
    likelihood, PMI scores PAIRS by association strength — the phrase
    inventory a tokenizer/vocab builder mines first. Counts below
    {PMI_MIN_COUNT} are dropped (PMI is unstable on rare pairs), and
    the statistic is a ×1e6 integer on exact count ratios.

    Scale: the pair-count aggregate is the only pass over token data
    (the vocab²-bounded pair table is lazily pinned — it feeds both
    margins, the total, and the final join, and unpinned each consumer
    re-ran the corpus tokenize; r07 plan-scan audit, 0.87 → 0.65 s
    best-of-3 at sf0.1); margins re-aggregate the pair table, and the
    two margin joins are vocabulary-keyed — broadcastable for any real
    vocabulary."""
    doc = load_table(spark, sf_dir, "documents").select("doc_id", tokens("text").alias("toks"))
    k = F.size("toks") - 1
    bg = (
        doc.select(
            "toks",
            F.explode(F.when(k >= 1, F.sequence(F.lit(1), k))).alias("i"),
        )
        .select(
            F.element_at("toks", F.col("i")).alias("w1"),
            F.element_at("toks", F.col("i") + 1).alias("w2"),
        )
    )
    c2 = bg.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("n12")
    ).transform(pin)
    c1 = c2.groupBy("w1").agg(F.sum("n12").cast("long").alias("n1"))
    cr = c2.groupBy("w2").agg(F.sum("n12").cast("long").alias("n2"))
    tot = c2.agg(F.sum("n12").cast("long").alias("n"))
    pmi = (
        F.round(
            F.log(
                (F.col("n").cast("double") * F.col("n12"))
                / (F.col("n1").cast("double") * F.col("n2"))
            )
            * 1_000_000
        )
        .cast("long")
        .alias("pmi_e6")
    )
    return (
        c2.join(F.broadcast(c1), "w1")
        .join(F.broadcast(cr), "w2")
        .crossJoin(F.broadcast(tot))
        .filter(F.col("n12") >= PMI_MIN_COUNT)
        .select("w1", "w2", "n12", pmi)
    )


# ---------------------------------------------------------------------------
# Zipf rank-frequency fit over the corpus vocabulary.
# ---------------------------------------------------------------------------

ZIPF_ORACLE = """
WITH tf AS (
  SELECT t AS term, CAST(COUNT(*) AS BIGINT) AS freq
  FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
  WHERE t <> '' GROUP BY 1
), ranked AS (
  SELECT freq, ROW_NUMBER() OVER (ORDER BY freq DESC, term) AS rnk FROM tf
), pts AS (
  SELECT CAST(ROUND(ln(CAST(rnk AS DOUBLE)) * 1000000) AS BIGINT) AS x_e6,
         CAST(ROUND(ln(CAST(freq AS DOUBLE)) * 1000000) AS BIGINT) AS y_e6
  FROM ranked
), mom AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(CAST(SUM(x_e6) AS DECIMAL(38,0)) AS DOUBLE) AS sx,
         CAST(CAST(SUM(y_e6) AS DECIMAL(38,0)) AS DOUBLE) AS sy,
         CAST(CAST(SUM(x_e6 * y_e6) AS DECIMAL(38,0)) AS DOUBLE) AS sxy,
         CAST(CAST(SUM(x_e6 * x_e6) AS DECIMAL(38,0)) AS DOUBLE) AS sxx
  FROM pts
)
SELECT n AS n_terms,
       (n * sxy - sx * sy) / (n * sxx - sx * sx) AS zipf_slope,
       (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / (n * 1000000.0)
         AS intercept_ln
FROM mom
"""


@register("text_zipf_fit", oracle=ZIPF_ORACLE, tags=("text", "llm", "window", "scale"))
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the corpus rank-frequency curve: least-squares
    slope of ln(freq) on ln(rank) (a natural corpus is ≈ −1; a heavily
    deduplicated or template-filled corpus drifts away — this is a
    corpus-health gauge). Ranks come from the exact two-level
    distributed global rank (operators/analytics.py — no
    single-partition window over the vocabulary); each point's logs are
    quantized to ×1e6 integers once, so all four regression moments are
    EXACT integer sums (held as DECIMAL(38) against vocabulary-scale
    overflow) and the slope is a fixed IEEE tree."""
    from .analytics import _with_global_rank

    doc = load_table(spark, sf_dir, "documents")
    tf = (
        doc.select(F.explode(tokens("text")).alias("t"))
        .filter(F.col("t") != "")
        .groupBy(F.col("t").alias("term"))
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    ranked = _with_global_rank(tf, "freq", "term", "rnk")
    x = F.round(F.log(F.col("rnk").cast("double")) * 1_000_000).cast("long")
    y = F.round(F.log(F.col("freq").cast("double")) * 1_000_000).cast("long")
    pts = ranked.select(x.alias("x_e6"), y.alias("y_e6"))
    # cast to DECIMAL per ROW, before the sum — a long SUM would be the
    # thing that overflows at vocabulary scale (DuckDB's SUM(BIGINT) is
    # already int128)
    d = lambda c: F.sum(c.cast("decimal(38,0)")).cast("double")
    mom = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        d(F.col("x_e6")).alias("sx"),
        d(F.col("y_e6")).alias("sy"),
        d(F.col("x_e6") * F.col("y_e6")).alias("sxy"),
        d(F.col("x_e6") * F.col("x_e6")).alias("sxx"),
    )
    n = F.col("n")
    slope = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        n * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    intercept = (F.col("sy") - slope * F.col("sx")) / (n * F.lit(1_000_000.0))
    return mom.select(
        n.alias("n_terms"), slope.alias("zipf_slope"), intercept.alias("intercept_ln")
    )


# ---------------------------------------------------------------------------
# Heaps' law fit: vocabulary growth along the corpus.
# ---------------------------------------------------------------------------

HEAPS_ANCHOR_MOD = 5  # fit on every 5th document's prefix point

HEAPS_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
), occ AS (
  SELECT doc_id, t FROM tok WHERE t <> ''
), first_seen AS (
  SELECT t, MIN(doc_id) AS d FROM occ GROUP BY 1
), new_terms AS (
  SELECT d AS doc_id, CAST(COUNT(*) AS BIGINT) AS nt FROM first_seen GROUP BY 1
), toks_per_doc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS tk FROM occ GROUP BY 1
), per_doc AS (
  SELECT p.doc_id, COALESCE(n.nt, 0) AS nt, p.tk
  FROM toks_per_doc p LEFT JOIN new_terms n ON p.doc_id = n.doc_id
), cum AS (
  SELECT doc_id,
         SUM(nt) OVER (ORDER BY doc_id) AS v,
         SUM(tk) OVER (ORDER BY doc_id) AS n
  FROM per_doc
), pts AS (
  SELECT CAST(ROUND(ln(CAST(n AS DOUBLE)) * 1000000) AS BIGINT) AS x_e6,
         CAST(ROUND(ln(CAST(v AS DOUBLE)) * 1000000) AS BIGINT) AS y_e6
  FROM cum WHERE doc_id % {HEAPS_ANCHOR_MOD} = 0 AND v > 0 AND n > 0
), mom AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS np,
         CAST(CAST(SUM(x_e6) AS DECIMAL(38,0)) AS DOUBLE) AS sx,
         CAST(CAST(SUM(y_e6) AS DECIMAL(38,0)) AS DOUBLE) AS sy,
         CAST(CAST(SUM(x_e6 * y_e6) AS DECIMAL(38,0)) AS DOUBLE) AS sxy,
         CAST(CAST(SUM(x_e6 * x_e6) AS DECIMAL(38,0)) AS DOUBLE) AS sxx
  FROM pts
)
SELECT np AS n_points,
       (np * sxy - sx * sy) / (np * sxx - sx * sx) AS heaps_beta,
       (sy - (np * sxy - sx * sy) / (np * sxx - sx * sx) * sx) / (np * 1000000.0)
         AS heaps_lnk
FROM mom
"""


@register("text_heaps_fit", oracle=HEAPS_ORACLE, tags=("text", "llm", "window", "scale"))
def text_heaps_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit of vocabulary growth: V(N) ≈ K·N^β, estimated as
    the log-log regression of cumulative distinct vocabulary against
    cumulative token count along the corpus (doc_id order). A natural
    corpus fits β ≈ 0.4-0.6; duplicated or template-heavy data flattens
    the curve — the companion corpus-health gauge to text_zipf_fit.

    The cumulative-distinct count needs no distinct-state at all: each
    term contributes at exactly its FIRST document (min doc_id per
    term), so V(d) is a plain prefix sum of first-occurrence counts —
    computed, together with the token prefix sum, by the shared
    two-level with_global_prefix_sums scheme (no single-partition
    window). Log points are quantized ×1e6 and the regression moments
    are per-row DECIMAL(38) sums (the text_zipf_fit idiom)."""
    from .analytics import with_global_prefix_sums

    doc = load_table(spark, sf_dir, "documents")
    occ = (
        doc.select("doc_id", F.explode(tokens("text")).alias("t"))
        .filter(F.col("t") != "")
    )
    new_terms = (
        occ.groupBy("t")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("nt"))
    )
    toks_per_doc = occ.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("tk"))
    per_doc = (
        toks_per_doc.join(new_terms, "doc_id", "left")
        .select("doc_id", F.coalesce("nt", F.lit(0)).alias("nt"), "tk")
    )
    cum = with_global_prefix_sums(per_doc, "doc_id", ["nt", "tk"])
    pts = (
        cum.filter(
            (F.col("doc_id") % HEAPS_ANCHOR_MOD == 0)
            & (F.col("cum_nt") > 0)
            & (F.col("cum_tk") > 0)
        )
        .select(
            F.round(F.log(F.col("cum_tk").cast("double")) * 1_000_000)
            .cast("long")
            .alias("x_e6"),
            F.round(F.log(F.col("cum_nt").cast("double")) * 1_000_000)
            .cast("long")
            .alias("y_e6"),
        )
    )
    d = lambda c: F.sum(c.cast("decimal(38,0)")).cast("double")
    mom = pts.agg(
        F.count(F.lit(1)).cast("long").alias("np"),
        d(F.col("x_e6")).alias("sx"),
        d(F.col("y_e6")).alias("sy"),
        d(F.col("x_e6") * F.col("y_e6")).alias("sxy"),
        d(F.col("x_e6") * F.col("x_e6")).alias("sxx"),
    )
    np_ = F.col("np")
    slope = (np_ * F.col("sxy") - F.col("sx") * F.col("sy")) / nonzero(
        np_ * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    lnk = (F.col("sy") - slope * F.col("sx")) / (np_ * F.lit(1_000_000.0))
    return mom.select(
        np_.alias("n_points"), slope.alias("heaps_beta"), lnk.alias("heaps_lnk")
    )


# ---------------------------------------------------------------------------
# Cross-validated bigram-LM perplexity (train-fit, held-out-scored).
# ---------------------------------------------------------------------------

LM_TRAIN_PCT = 80  # md5(doc_id) bucket < 80 trains the LM; the rest is scored


def _lm_crossval_oracle() -> str:
    from .sampling import _bucket_sql

    b = _bucket_sql("doc_id")
    return f"""
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS toks, {b} AS bkt FROM documents
), bg AS (
  SELECT doc_id, bkt, toks[i] AS w1, toks[i+1] AS w2
  FROM tok, LATERAL (SELECT unnest(generate_series(1, len(toks) - 1)) AS i)
  WHERE len(toks) >= 2
), c2 AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n12
  FROM bg WHERE bkt < {LM_TRAIN_PCT} GROUP BY 1, 2
), c1 AS (
  SELECT w1, CAST(SUM(n12) AS BIGINT) AS n1 FROM c2 GROUP BY 1
), vocab AS (
  SELECT CAST(COUNT(DISTINCT t) AS BIGINT) AS v FROM (
    SELECT unnest(toks) AS t FROM tok WHERE bkt < {LM_TRAIN_PCT}
  ) WHERE t <> ''
), scored AS (
  SELECT h.doc_id,
         CAST(ROUND(ln((COALESCE(c2.n12, 0) + 1.0)
                       / (COALESCE(c1.n1, 0) + vocab.v)) * 1000000) AS BIGINT)
           AS logp_e6
  FROM bg h
  LEFT JOIN c2 ON h.w1 = c2.w1 AND h.w2 = c2.w2
  LEFT JOIN c1 ON h.w1 = c1.w1
  CROSS JOIN vocab
  WHERE h.bkt >= {LM_TRAIN_PCT}
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(logp_e6) AS BIGINT) AS sum_logp_e6,
       ROUND(exp(-(CAST(SUM(logp_e6) AS DOUBLE) / 1000000.0) / COUNT(*)), 6)
         AS perplexity
FROM scored GROUP BY 1
"""


@register("text_lm_crossval", oracle=_lm_crossval_oracle(), tags=("text", "llm", "pipeline"))
def text_lm_crossval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out perplexity, the LM-eval composition done leakage-free:
    an add-one-smoothed bigram LM is FIT on the md5-bucket train split
    ({LM_TRAIN_PCT}%) only, then every held-out document is scored —
    unseen bigrams get (0+1)/(n1+V), unseen histories fall back to the
    uniform 1/V — and per-doc perplexity is exp(−mean log p). Unlike
    text_bigram_logprob (which scores the corpus under a model of
    ITSELF), the split-fit here measures generalization; documents that
    only look good under self-fit (duplicates of training boilerplate)
    separate immediately.

    Determinism: each bigram's log-prob is quantized ×1e6 before the
    per-doc sum (order-proof); the final exp() is one libm call on an
    identical double in both engines. Scale: the model is two
    vocabulary-keyed count tables (broadcastable), the scoring pass is
    two left joins on those keys."""
    from .sampling import hash_bucket

    doc = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens("text").alias("toks"), hash_bucket("doc_id").alias("bkt")
    )
    k = F.size("toks") - 1
    bg = (
        doc.select(
            "doc_id",
            "bkt",
            "toks",
            F.explode(F.when(k >= 1, F.sequence(F.lit(1), k))).alias("i"),
        )
        .select(
            "doc_id",
            "bkt",
            F.element_at("toks", F.col("i")).alias("w1"),
            F.element_at("toks", F.col("i") + 1).alias("w2"),
        )
    )
    train = bg.filter(F.col("bkt") < LM_TRAIN_PCT)
    # c2 feeds both the n1 margin and the scoring join; the lazy pin
    # keeps the train-split tokenize to one pass (r07 plan-scan audit;
    # timing-neutral at sf0.1, 0.96 vs 0.94 s — the removed corpus
    # pass is the scale win)
    c2 = train.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("n12")
    ).transform(pin)
    c1 = c2.groupBy("w1").agg(F.sum("n12").cast("long").alias("n1"))
    vocab = (
        doc.filter(F.col("bkt") < LM_TRAIN_PCT)
        .select(F.explode("toks").alias("t"))
        .filter(F.col("t") != "")
        .agg(F.countDistinct("t").cast("long").alias("v"))
    )
    held = bg.filter(F.col("bkt") >= LM_TRAIN_PCT)
    logp = F.round(
        F.log(
            (F.coalesce(F.col("n12"), F.lit(0)) + F.lit(1.0))
            / (F.coalesce(F.col("n1"), F.lit(0)) + F.col("v"))
        )
        * 1_000_000
    ).cast("long")
    scored = (
        held.join(F.broadcast(c2), ["w1", "w2"], "left")
        .join(F.broadcast(c1), "w1", "left")
        .crossJoin(F.broadcast(vocab))
        .select("doc_id", logp.alias("logp_e6"))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.sum("logp_e6").cast("long").alias("sum_logp_e6"),
        F.round(
            F.exp(
                -(F.sum("logp_e6").cast("double") / F.lit(1_000_000.0))
                / F.count(F.lit(1))
            ),
            6,
        ).alias("perplexity"),  # exp() is libm (Java vs C differ in the last ulp) — round once
    )


# ---------------------------------------------------------------------------
# Tokenizer fertility: BPE pre-tokens per whitespace word.
# ---------------------------------------------------------------------------

FERTILITY_ORACLE = f"""
WITH bpe AS (
  SELECT doc_id, CAST(len(regexp_extract_all(text, '{{BPE_RE}}', 0)) AS BIGINT) AS n_bpe
  FROM documents
), ws AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT) AS n_ws
  FROM documents
)
SELECT b.doc_id, b.n_bpe, w.n_ws,
       (b.n_bpe * 1000000) // w.n_ws AS fertility_e6
FROM bpe b JOIN ws w ON b.doc_id = w.doc_id
WHERE w.n_ws > 0
"""


def _fertility_oracle() -> str:
    return FERTILITY_ORACLE.replace("{BPE_RE}", BPE_PRETOKEN_RE.replace("'", "''"))


@register("text_tokenizer_fertility", oracle=_fertility_oracle(), tags=("text", "llm"))
def text_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per document: BPE pre-tokens per whitespace
    word as an exact ×1e6 integer ratio — THE tokenizer-efficiency
    metric (fertility ≫ 1 means the vocabulary fragments this text and
    every training step pays for it; multilingual corpora are routinely
    budgeted this way). Composes the two token-counting passes the
    engine already proves (text_bpe_pretokenize, text_token_stats) into
    the ratio both of them individually miss; integer division keeps
    the boundary exact in both engines."""
    doc = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n_bpe = F.size(F.regexp_extract_all("text", F.lit(BPE_PRETOKEN_RE), 0)).cast("long")
    n_ws = F.size(F.filter(F.split("text", " "), lambda t: t != "")).cast("long")
    base = doc.select("doc_id", n_bpe.alias("n_bpe"), n_ws.alias("n_ws")).filter(
        F.col("n_ws") > 0
    )
    return base.select(
        "doc_id",
        "n_bpe",
        "n_ws",
        F.expr("(n_bpe * 1000000) div n_ws").alias("fertility_e6"),
    )


# ---------------------------------------------------------------------------
# Simpson diversity of the corpus term distribution (exact rational).
# ---------------------------------------------------------------------------

SIMPSON_ORACLE = """
WITH tf AS (
  SELECT t, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
  WHERE t <> '' GROUP BY 1
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_terms,
         CAST(CAST(SUM(c) AS DECIMAL(38,0)) AS BIGINT) AS n_tok,
         CAST(CAST(SUM(c * (c - 1)) AS DECIMAL(38,0)) AS BIGINT) AS coll
  FROM tf
)
SELECT n_terms, n_tok,
       CAST(coll AS DOUBLE) / (CAST(n_tok AS DOUBLE) * (n_tok - 1)) AS simpson_l,
       1.0 - CAST(coll AS DOUBLE) / (CAST(n_tok AS DOUBLE) * (n_tok - 1))
         AS simpson_diversity
FROM m
"""


@register("text_simpson_diversity", oracle=SIMPSON_ORACLE, tags=("text", "llm", "agg"))
def text_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson diversity of the corpus unigram distribution:
    L = Σ c_i(c_i−1) / (N(N−1)) — the probability two random tokens
    coincide — and 1−L, the diversity. Unlike the entropy gauges this
    statistic is an EXACT INTEGER RATIONAL (no logs, no quantization):
    both big sums are per-row DECIMAL(38) casts and the single division
    happens once on identical exact operands. The repetition-collapse
    companion to text_zipf_fit/text_heaps_fit: template-flooded corpora
    spike L long before the Zipf slope moves."""
    doc = load_table(spark, sf_dir, "documents")
    tf = (
        doc.select(F.explode(tokens("text")).alias("t"))
        .filter(F.col("t") != "")
        .groupBy("t")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    m = tf.agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.sum(F.col("c").cast("decimal(38,0)")).cast("long").alias("n_tok"),
        F.sum((F.col("c") * (F.col("c") - 1)).cast("decimal(38,0)"))
        .cast("long")
        .alias("coll"),
    )
    l = F.col("coll").cast("double") / (
        F.col("n_tok").cast("double") * (F.col("n_tok") - 1)
    )
    return m.select("n_terms", "n_tok", l.alias("simpson_l"), (F.lit(1.0) - l).alias("simpson_diversity"))


# ---------------------------------------------------------------------------
# Lexical sophistication: mean log corpus-rank of each document's words.
# ---------------------------------------------------------------------------

SOPHISTICATION_ORACLE = """
WITH tf AS (
  SELECT t AS term, CAST(COUNT(*) AS BIGINT) AS freq
  FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
  WHERE t <> '' GROUP BY 1
), ranked AS (
  SELECT term, ROW_NUMBER() OVER (ORDER BY freq DESC, term) AS rnk FROM tf
), occ AS (
  SELECT doc_id, t FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
  ) WHERE t <> ''
), scored AS (
  SELECT o.doc_id,
         CAST(ROUND(ln(CAST(r.rnk AS DOUBLE)) * 1000000) AS BIGINT) AS lr_e6
  FROM occ o JOIN ranked r ON o.t = r.term
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(lr_e6) AS BIGINT) AS sum_log_rank_e6,
       CAST(SUM(lr_e6) AS BIGINT) // COUNT(*) AS mean_log_rank_e6
FROM scored GROUP BY 1
"""


@register("text_lexical_sophistication", oracle=SOPHISTICATION_ORACLE, tags=("text", "llm", "window"))
def text_lexical_sophistication(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical sophistication per document: mean log corpus-frequency
    RANK of its tokens — documents built from rare vocabulary score
    high, stop-word soup scores low; a standard quality-filter feature
    that catches keyword-stuffed or boilerplate text that length and
    stopword ratios miss. Term ranks come from the exact distributed
    global rank; each token's ln(rank) is quantized ×1e6 before the
    per-doc sum (order-proof), and the mean is an exact integer
    division."""
    from .analytics import _with_global_rank

    doc = load_table(spark, sf_dir, "documents")
    occ = (
        doc.select("doc_id", F.explode(tokens("text")).alias("t"))
        .filter(F.col("t") != "")
    )
    tf = occ.groupBy(F.col("t").alias("term")).agg(
        F.count(F.lit(1)).cast("long").alias("freq")
    )
    ranked = _with_global_rank(tf, "freq", "term", "rnk").select("term", "rnk")
    lr = F.round(F.log(F.col("rnk").cast("double")) * 1_000_000).cast("long")
    scored = occ.join(
        F.broadcast(ranked), occ.t == ranked.term
    ).select("doc_id", lr.alias("lr_e6"))
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum("lr_e6").cast("long").alias("sum_log_rank_e6"),
        F.expr("CAST(sum(lr_e6) AS BIGINT) div count(1)").alias("mean_log_rank_e6"),
    )


# ---------------------------------------------------------------------------
# Jensen-Shannon divergence between the train and held-out vocabularies.
# ---------------------------------------------------------------------------


def _jsd_oracle() -> str:
    from .sampling import _bucket_sql

    b = _bucket_sql("doc_id")
    return f"""
WITH occ AS (
  SELECT t, {b} < {LM_TRAIN_PCT} AS in_train FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
  ) WHERE t <> ''
), c AS (
  SELECT t,
         CAST(SUM(CASE WHEN in_train THEN 1 ELSE 0 END) AS BIGINT) AS cp,
         CAST(SUM(CASE WHEN in_train THEN 0 ELSE 1 END) AS BIGINT) AS cq
  FROM occ GROUP BY 1
), tot AS (
  SELECT CAST(SUM(cp) AS BIGINT) AS np, CAST(SUM(cq) AS BIGINT) AS nq FROM c
), terms AS (
  SELECT
    CASE WHEN c.cp > 0 THEN CAST(ROUND(
      0.5 * (CAST(c.cp AS DOUBLE) / t.np)
      * ln((CAST(c.cp AS DOUBLE) / t.np)
           / (0.5 * (CAST(c.cp AS DOUBLE) / t.np + CAST(c.cq AS DOUBLE) / t.nq)))
      * 1000000) AS BIGINT) ELSE 0 END
    + CASE WHEN c.cq > 0 THEN CAST(ROUND(
      0.5 * (CAST(c.cq AS DOUBLE) / t.nq)
      * ln((CAST(c.cq AS DOUBLE) / t.nq)
           / (0.5 * (CAST(c.cp AS DOUBLE) / t.np + CAST(c.cq AS DOUBLE) / t.nq)))
      * 1000000) AS BIGINT) ELSE 0 END AS term_e6
  FROM c, tot t
)
SELECT CAST((SELECT COUNT(*) FROM c) AS BIGINT) AS n_terms,
       CAST(SUM(term_e6) AS BIGINT) AS jsd_e6
FROM terms
"""


@register("text_jsd_split_shift", oracle=_jsd_oracle(), tags=("text", "llm", "drift"))
def text_jsd_split_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between the train-split and held-out
    unigram distributions (same md5 split as text_lm_crossval):
    bounded [0, ln 2], symmetric, finite even where one side has zero
    mass — the companion reading for held-out perplexity (a high JSD
    means the perplexity gap is DISTRIBUTION SHIFT, not model
    quality; under a random split it should hover near 0). Each term's
    two halves are quantized ×1e6 before the single integer sum.

    Scale shape (r07): the per-token count frame ``c`` feeds three
    consumers (totals, term count, the term sum) — unmaterialized,
    each re-ran the corpus explode+groupBy, three passes for one. A
    lazy localCheckpoint pins ``c`` so the corpus is tokenized once
    (A/B at sf0.1: 0.90 → 0.71 s best-of-3; merging the two tiny aggs
    alone was timing-neutral, the checkpoint is what pays), and the
    term count folds into the totals row."""
    from .sampling import hash_bucket

    doc = load_table(spark, sf_dir, "documents")
    occ = (
        doc.select(
            (hash_bucket("doc_id") < LM_TRAIN_PCT).alias("in_train"),
            F.explode(tokens("text")).alias("t"),
        )
        .filter(F.col("t") != "")
    )
    c = occ.groupBy("t").agg(
        F.sum(F.col("in_train").cast("long")).cast("long").alias("cp"),
        F.sum((~F.col("in_train")).cast("long")).cast("long").alias("cq"),
    ).select("cp", "cq").transform(pin)  # feeds totals + term sum; the
    # token string itself is dead after the groupBy (pin-width audit
    # r09) — at 100 TB it was the whole vocab's strings materialized
    # into the pin store for nothing.
    tot = c.agg(
        F.sum("cp").cast("long").alias("np"),
        F.sum("cq").cast("long").alias("nq"),
        F.count(F.lit(1)).cast("long").alias("n_terms"),
    )
    p = F.col("cp").cast("double") / nonzero(F.col("np"))
    q = F.col("cq").cast("double") / nonzero(F.col("nq"))
    mmix = 0.5 * (p + q)
    half = lambda r, cnt: F.when(
        cnt > 0, F.round(F.lit(0.5) * r * F.log(r / mmix) * 1_000_000).cast("long")
    ).otherwise(F.lit(0).cast("long"))
    terms = c.crossJoin(F.broadcast(tot)).select(
        (half(p, F.col("cp")) + half(q, F.col("cq"))).alias("term_e6")
    )
    return (
        # no-groupBy agg keeps the oracle's one-row contract on an
        # empty corpus (n_terms=0, jsd NULL)
        terms.agg(F.sum("term_e6").cast("long").alias("jsd_e6"))
        .crossJoin(F.broadcast(tot.select("n_terms")))
        .select("n_terms", "jsd_e6")
    )


# ---------------------------------------------------------------------------
# Character-bigram entropy rate (oracled compressibility proxy).
# ---------------------------------------------------------------------------

CHAR_ENTROPY_ORACLE = """
WITH ch AS (
  SELECT doc_id,
         substr(text, i, 1) AS c1,
         substr(text, i + 1, 1) AS c2
  FROM documents,
       LATERAL (SELECT unnest(generate_series(1, length(text) - 1)) AS i)
  WHERE length(text) >= 2
), pairs AS (
  SELECT c1, c2, CAST(COUNT(*) AS BIGINT) AS n FROM ch GROUP BY 1, 2
), tot AS (
  SELECT c1, CAST(SUM(n) AS BIGINT) AS n1 FROM pairs GROUP BY 1
), grand AS (
  SELECT CAST(SUM(n) AS BIGINT) AS n_all FROM pairs
), terms AS (
  SELECT CAST(ROUND(-(CAST(p.n AS DOUBLE) / g.n_all)
                    * ln(CAST(p.n AS DOUBLE) / t.n1) * 1000000) AS BIGINT) AS term_e6
  FROM pairs p JOIN tot t ON p.c1 = t.c1, grand g
)
SELECT CAST((SELECT COUNT(*) FROM tot) AS BIGINT) AS n_chars,
       CAST((SELECT COUNT(*) FROM pairs) AS BIGINT) AS n_bigrams,
       CAST(SUM(term_e6) AS BIGINT) AS entropy_rate_e6
FROM terms
"""


@register("text_char_entropy_rate", oracle=CHAR_ENTROPY_ORACLE, tags=("text", "llm", "agg"))
def text_char_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-bigram entropy rate of the corpus — the ORACLED
    compressibility proxy: Shannon's H(c₂|c₁) lower-bounds what any
    entropy coder can achieve, so it tracks text_compression_ratio
    (zlib-backed, forever rows-only: no SQL can replay a codec) while
    being hash-provable. The character explode stays JVM-side (split
    the text into a char array ONCE, then zip the array with its own
    1-shift — no UDF); per-pair terms are joint-probability quantized
    ×1e6 (the markov_entropy_rate idiom) so the statistic is an exact
    integer sum.

    Perf note (r07, A/B-measured at sf0.1): the first formulation
    exploded positions and took ``substr(text, i, 1)`` per position —
    but UTF8String.substring seeks byte-wise from the string start, so
    each document's scan was O(len²). split-once + slice/zip_with is
    the O(len) shape: 5.10 → 1.59 s best-of-3 (identical 114-pair
    count table). The growth term at corpus scale is per-partition
    linear CPU; the (c1,c2) shuffle stays alphabet²-bounded via
    map-side combine either way."""
    doc = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    arr = F.split("text", "")
    z = F.zip_with(
        F.slice(arr, 1, F.size(arr) - 1),
        F.slice(arr, 2, F.size(arr) - 1),
        lambda x, y: F.struct(x.alias("c1"), y.alias("c2")),
    )
    ch = (
        doc.filter(F.length("text") >= 2)
        .select(F.explode(z).alias("p"))
        .select("p.c1", "p.c2")
    )
    # pairs (alphabet²-bounded) feeds five consumers — the lazy
    # checkpoint pins it so the corpus char explode runs ONCE
    # (A/B at sf0.1: 1.70 → 1.50 s; one pass is the scale argument)
    pairs = ch.groupBy("c1", "c2").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    ).transform(pin)
    tot = pairs.groupBy("c1").agg(
        F.sum("n").cast("long").alias("n1")
    ).transform(pin)  # read by n_chars and the join
    grand = pairs.agg(F.sum("n").cast("long").alias("n_all"))
    n_chars = tot.agg(F.count(F.lit(1)).cast("long").alias("n_chars"))
    n_bi = pairs.agg(F.count(F.lit(1)).cast("long").alias("n_bigrams"))
    term = F.round(
        -(F.col("n").cast("double") / F.col("n_all"))
        * F.log(F.col("n").cast("double") / F.col("n1"))
        * 1_000_000
    ).cast("long")
    s = (
        pairs.join(F.broadcast(tot), "c1")
        .crossJoin(F.broadcast(grand))
        .agg(F.sum(term).cast("long").alias("entropy_rate_e6"))
    )
    return (
        s.crossJoin(F.broadcast(n_chars))
        .crossJoin(F.broadcast(n_bi))
        .select("n_chars", "n_bigrams", "entropy_rate_e6")
    )


# ---------------------------------------------------------------------------
# Exact duplicated-span coverage (cross-document substring dedup)
# ---------------------------------------------------------------------------

SPAN_N = 8  # span length in tokens; 50-token spans at corpus scale

SPAN_DEDUP_ORACLE = f"""
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
pos AS (
  SELECT doc_id, i, array_to_string(toks[i:i+{SPAN_N - 1}], ' ') AS shingle
  FROM tok, LATERAL (SELECT unnest(generate_series(1, len(toks) - {SPAN_N - 1})) AS i)
  WHERE len(toks) >= {SPAN_N}
), dup AS (
  SELECT shingle FROM pos GROUP BY shingle HAVING COUNT(DISTINCT doc_id) >= 2
), hits AS (
  SELECT p.doc_id, p.i FROM pos p JOIN dup d USING (shingle)
), merged AS (
  SELECT doc_id, i,
         MAX(i + {SPAN_N}) OVER (PARTITION BY doc_id ORDER BY i
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
  FROM hits
), cov AS (
  SELECT doc_id,
         SUM(GREATEST(0, (i + {SPAN_N}) - GREATEST(COALESCE(prev_end, i), i))) AS dup_tokens
  FROM merged GROUP BY doc_id
), sizes AS (SELECT doc_id, len(toks) AS n_tokens FROM tok)
SELECT s.doc_id, CAST(s.n_tokens AS BIGINT) AS n_tokens,
       CAST(COALESCE(c.dup_tokens, 0) AS BIGINT) AS dup_span_tokens,
       CAST(COALESCE(c.dup_tokens, 0) * 1000000 // s.n_tokens AS BIGINT) AS dup_frac_e6
FROM sizes s LEFT JOIN cov c USING (doc_id)
"""


def span_dedup_frame(doc: DataFrame) -> DataFrame:
    """Core of :func:`text_span_dedup` over any ``(doc_id, text)`` frame."""
    from pyspark.sql import Window as W

    toks = F.split("text", " ")
    sizes = doc.select("doc_id", F.size(toks).alias("n_tokens"))
    k = F.size("toks") - (SPAN_N - 1)
    pos = doc.select("doc_id", toks.alias("toks")).select(
        "doc_id",
        "toks",
        F.explode(F.when(k >= 1, F.sequence(F.lit(1), k))).alias("i"),
    )
    shingle = F.concat_ws(
        " ", *[F.element_at("toks", F.col("i") + j) for j in range(SPAN_N)]
    )
    # 8-byte span keys, not strings, through the df aggregate and the
    # probe join (same collision trade as the hashed-shingle dedups:
    # a 64-bit collision could mark a unique span duplicated,
    # P ≈ n²/2⁶⁵ — diagnosable via the oracle's raw-string twin).
    # sh feeds BOTH the df aggregate and the probe join unmaterialized —
    # measured (r08): pinning it reads 1.04-1.25 vs 1.09-1.32 s at
    # sf0.1, inside noise, and at 100 TB the pinned frame is a
    # token-POSITION-scale intermediate (larger than the compressed
    # corpus text it derives from) written to the pin store, while the
    # duplicated work is one narrow explode the scheduler overlaps —
    # the same call the block-dedup triage made; stays unpinned.
    sh = pos.select("doc_id", "i", F.xxhash64(shingle).alias("sh_key"))
    dup = (
        sh.groupBy("sh_key")
        .agg(F.count_distinct("doc_id").alias("df"))
        .filter(F.col("df") >= 2)
        .select("sh_key")
    )
    hits = sh.join(dup, "sh_key").select("doc_id", "i")
    w = W.partitionBy("doc_id").orderBy("i").rowsBetween(W.unboundedPreceding, -1)
    merged = hits.select(
        "doc_id", "i", F.max(F.col("i") + SPAN_N).over(w).alias("prev_end")
    )
    cov = merged.groupBy("doc_id").agg(
        F.sum(
            F.greatest(
                F.lit(0),
                (F.col("i") + SPAN_N)
                - F.greatest(F.coalesce("prev_end", F.col("i")), F.col("i")),
            )
        ).alias("dup_tokens")
    )
    return (
        sizes.join(cov, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.coalesce("dup_tokens", F.lit(0)).cast("long").alias("dup_span_tokens"),
            F.expr(
                "CAST(coalesce(dup_tokens, 0) * 1000000 div n_tokens AS BIGINT)"
            ).alias("dup_frac_e6"),
        )
    )


@register(
    "text_span_dedup",
    oracle=SPAN_DEDUP_ORACLE,
    tags=("text", "dedup", "llm", "scale", "bench"),
)
def text_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-SPAN coverage — the substring-level dedup signal
    (the document-level family's complement): for every doc, how many of
    its token positions sit inside an 8-token span that also occurs
    verbatim in at least one OTHER document. Document dedup removes
    whole near-copies; span coverage finds the boilerplate runs INSIDE
    otherwise-unique docs (licenses, navigation chrome, quote chains) —
    the thing exact-substring training-data dedup pipelines cut.

    Dataflow: positional 8-gram shingles (position kept) → df count on
    8-byte span keys (the inverted-index aggregate) → probe join marks
    duplicated positions → per-doc gaps-and-islands interval union
    (prior-max-end window over positions) turns overlapping span hits
    into exact covered-token counts. The only corpus-wide shuffles are
    the df aggregate and the probe join, both keyed by span hash; the
    merge window is per-doc, bounded by doc length. At 100 TB the df
    table is the materialized index and boilerplate hot spans (huge df)
    stay one ROW here — df is an aggregate, never a pair enumeration,
    so there is no quadratic hot key anywhere."""
    return span_dedup_frame(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )


# ---------------------------------------------------------------------------
# CCNet-style perplexity head/middle/tail bucketing
# ---------------------------------------------------------------------------

PPL_BUCKETS_ORACLE = f"""
WITH lp AS ({BIGRAM_LM_ORACLE}),
m AS (
  SELECT doc_id, n_bigrams,
         {{FLOORDIV}} AS mlp_e6
  FROM lp
), ranked AS (
  SELECT doc_id, n_bigrams, mlp_e6,
         ROW_NUMBER() OVER (ORDER BY mlp_e6 DESC, doc_id) AS rnk,
         COUNT(*) OVER () AS n
  FROM m
)
SELECT doc_id, n_bigrams, mlp_e6,
       CASE (rnk - 1) * 3 // n WHEN 0 THEN 'head' WHEN 1 THEN 'middle'
            ELSE 'tail' END AS ppl_bucket
FROM ranked
"""


def _ppl_buckets_oracle() -> str:
    # mean log-prob via exact FLOOR division (sum is negative, so the
    # truncate-vs-floor reconciliation from the Holt oracle applies:
    # subtract the non-negative residue first).
    fd = "((sum_logp_e6 - (((sum_logp_e6 % n_bigrams) + n_bigrams) % n_bigrams)) // n_bigrams)"
    return PPL_BUCKETS_ORACLE.replace("{FLOORDIV}", fd)


@register(
    "text_perplexity_buckets",
    oracle=_ppl_buckets_oracle(),
    tags=("text", "llm", "window", "scale"),
)
def text_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's perplexity bucketing: score every document with the
    corpus bigram LM (mean log-prob per bigram, exact ×1e6 floor
    arithmetic — the sum is negative, so floor/truncate reconciliation
    matters), rank the corpus by that score and cut it into
    head / middle / tail thirds. Real pipelines train on head+middle
    and audit the tail; the bucket label (not the raw score) is the
    interface the downstream mixture consumes.

    Scale: the LM and per-doc scores are text_bigram_logprob's plan;
    the corpus-wide cut uses the exact two-level distributed rank
    (operators/analytics.py) rather than a single-partition window, so
    the ranking pass holds at any corpus size."""
    from .analytics import _with_global_rank

    lp = text_bigram_logprob(spark, sf_dir)
    m = lp.select(
        "doc_id",
        "n_bigrams",
        F.expr(
            "CAST((sum_logp_e6 - (((sum_logp_e6 % n_bigrams) + n_bigrams) % n_bigrams))"
            " div n_bigrams AS BIGINT)"
        ).alias("mlp_e6"),
    )
    ranked = _with_global_rank(m, "mlp_e6", "doc_id", "rnk")
    bucket = F.expr("(rnk - 1) * 3 div _n_total")
    return ranked.select(
        "doc_id",
        "n_bigrams",
        "mlp_e6",
        F.when(bucket == 0, "head")
        .when(bucket == 1, "middle")
        .otherwise("tail")
        .alias("ppl_bucket"),
    )


# ---------------------------------------------------------------------------
# Language-ID confusion matrix (classifier eval against labels)
# ---------------------------------------------------------------------------


def _langid_confusion_oracle() -> str:
    return f"""
WITH pred AS ({_langid_oracle()}),
conf AS (
  SELECT labeled_lang, predicted_lang, CAST(COUNT(*) AS BIGINT) AS n
  FROM pred GROUP BY 1, 2
), tot AS (
  SELECT labeled_lang, CAST(SUM(n) AS BIGINT) AS n_label FROM conf GROUP BY 1
)
SELECT c.labeled_lang, c.predicted_lang, c.n, t.n_label,
       CAST(c.n * 1000000 // t.n_label AS BIGINT) AS rate_e6
FROM conf c JOIN tot t ON c.labeled_lang = t.labeled_lang
"""


@register(
    "text_langid_confusion",
    oracle=_langid_confusion_oracle(),
    tags=("text", "llm", "agg"),
)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-eval view of the language-ID heuristic: the full
    labeled×predicted confusion matrix with exact per-label rates —
    what you read before trusting a lang filter in a curation pipeline
    (per-class recall sits on the diagonal; systematic confusions jump
    out as hot off-diagonal cells). The synthetic corpus draws from one
    shared vocabulary, so the matrix shows heavy cross-language
    confusion BY DESIGN — exactly the failure mode this report exists
    to catch.

    Scale: composes the langid scan (narrow, broadcast word profiles)
    with a |langs|²-bounded aggregate — one pass, one tiny shuffle."""
    pred = text_langid(spark, sf_dir)
    conf = (
        pred.groupBy("labeled_lang", "predicted_lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        # |langs|² frame consumed twice (row totals + the rate join);
        # unpinned, both re-run the langid scan over the corpus.
        .transform(pin)
    )
    tot = conf.groupBy("labeled_lang").agg(F.sum("n").cast("long").alias("n_label"))
    return conf.join(F.broadcast(tot), "labeled_lang").select(
        "labeled_lang",
        "predicted_lang",
        "n",
        "n_label",
        F.expr("CAST(n * 1000000 div n_label AS BIGINT)").alias("rate_e6"),
    )


# ---------------------------------------------------------------------------
# Class-based TF-IDF: distinctive vocabulary per source (c-TF-IDF)
# ---------------------------------------------------------------------------

CTFIDF_TOP_K = 5

CTFIDF_ORACLE = f"""
WITH tf AS (
  SELECT source, t AS term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (SELECT source, unnest(string_split(text, ' ')) AS t FROM documents)
  WHERE t <> '' GROUP BY 1, 2
), cls AS (
  SELECT source, CAST(SUM(tf) AS BIGINT) AS class_toks FROM tf GROUP BY 1
), df AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS n_classes FROM tf GROUP BY 1
), nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM cls),
scored AS (
  SELECT tf.source, tf.term, tf.tf,
         CAST(ROUND(
           (tf.tf * 1000000.0 / c.class_toks)
           * ln(1.0 + CAST(n.n AS DOUBLE) / d.n_classes)
         ) AS BIGINT) AS ctfidf_e6
  FROM tf
  JOIN cls c ON tf.source = c.source
  JOIN df d ON tf.term = d.term, nc n
)
SELECT source, term, tf, ctfidf_e6, rnk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                               ORDER BY ctfidf_e6 DESC, term) AS rnk
  FROM scored
) WHERE rnk <= {CTFIDF_TOP_K}
"""


@register("text_ctfidf_topk", oracle=CTFIDF_ORACLE, tags=("text", "llm", "window"))
def text_ctfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-based TF-IDF (the BERTopic scoring): treat each SOURCE's
    concatenated text as one class document and surface the terms that
    distinguish it — class-normalized term frequency × smoothed inverse
    CLASS frequency (ln(1 + N/df over classes)). Document-level TF-IDF
    (text_tfidf_topk) answers 'what characterizes this doc'; c-TF-IDF
    answers 'what characterizes this SLICE of the corpus' — the label
    view used for topic naming, source fingerprinting and mixture
    debugging.

    Exactness: integer term/class counts; the score quantizes ×1e6
    once per (class, term) with an identical IEEE tree. Scale: one
    (source, term) aggregate — the heavy stream — then |classes|-sized
    sides broadcast; top-k per class over the scored frame."""
    doc = load_table(spark, sf_dir, "documents")
    tf = (
        doc.select("source", F.explode(tokens("text")).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        .transform(pin)  # feeds class totals, df and scoring
    )
    cls = tf.groupBy("source").agg(F.sum("tf").cast("long").alias("class_toks"))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("n_classes"))
    nc = cls.agg(F.count(F.lit(1)).cast("long").alias("n"))
    scored = (
        tf.join(F.broadcast(cls), "source")
        .join(df, "term")
        .crossJoin(F.broadcast(nc))
        .select(
            "source",
            "term",
            "tf",
            F.round(
                (F.col("tf") * 1_000_000.0 / F.col("class_toks"))
                * F.log(1.0 + F.col("n").cast("double") / F.col("n_classes"))
            )
            .cast("long")
            .alias("ctfidf_e6"),
        )
    )
    w = Window.partitionBy("source").orderBy(F.desc("ctfidf_e6"), "term")
    return (
        scored.select("*", F.row_number().over(w).cast("long").alias("rnk"))
        .filter(F.col("rnk") <= CTFIDF_TOP_K)
    )


# ---------------------------------------------------------------------------
# Kneser-Ney smoothed bigram model (absolute discounting + continuation)
# ---------------------------------------------------------------------------

KN_TOPK = 200

KN_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), bg AS (
  SELECT toks[i] AS w1, toks[i+1] AS w2
  FROM tok, LATERAL (SELECT unnest(generate_series(1, len(toks) - 1)) AS i)
  WHERE len(toks) >= 2
), c2 AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n12 FROM bg GROUP BY w1, w2
), c1 AS (
  SELECT w1, CAST(SUM(n12) AS BIGINT) AS n1,
         CAST(COUNT(*) AS BIGINT) AS n1plus_fw
  FROM c2 GROUP BY w1
), bw AS (
  SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1plus_bw FROM c2 GROUP BY w2
), btypes AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS b_total FROM c2
), model AS (
  SELECT c2.w1, c2.w2, c2.n12, c1.n1, c1.n1plus_fw, bw.n1plus_bw,
         CAST(ROUND((
           GREATEST(CAST(n12 AS DOUBLE) - 0.75, 0.0) / n1
           + (0.75 * n1plus_fw / n1) * (CAST(n1plus_bw AS DOUBLE) / b_total)
         ) * 1000000) AS BIGINT) AS p_kn_e6
  FROM c2 JOIN c1 ON c2.w1 = c1.w1 JOIN bw ON c2.w2 = bw.w2, btypes
)
SELECT * FROM model
ORDER BY n12 DESC, w1, w2 LIMIT {KN_TOPK}
"""


@register("text_kneser_ney_bigrams", oracle=KN_ORACLE, tags=("text", "llm", "scale"))
def text_kneser_ney_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram smoothing — the LM estimator the
    MLE model (text_bigram_logprob) cannot replace when a scored bigram
    is unseen: absolute-discount D = 0.75 off every observed count,
    with the freed mass D·N1+(w1,·)/c(w1) backed off to the CONTINUATION
    probability N1+(·,w2)/|bigram types| (how many contexts w2 follows,
    not how often — the 'San Francisco' correction: 'Francisco' is
    frequent but follows almost nothing). Emits the top-{KN_TOPK}
    bigrams by count with every model component, total-order
    tie-broken.

    Exactness: all counts are integers; D = 0.75 is exact in binary,
    so the two-term probability is one identical double tree per row,
    rounded ×1e6 at emission. Per-context mass conservation
    (Σ_w2 P_KN(w2|w1) = 1) is asserted in tests — the property MLE
    parity cannot check.

    Scale: ONE bigram-count shuffle; c1/fw derive from c2 by a |vocab|
    aggregate (n1 and N1+ in the same pass), bw by a second |vocab|
    aggregate; |bigram types| is a broadcast scalar. No pass ever
    re-reads the corpus — enforced by the lazy pin on c2 (it feeds
    c1, bw, btypes AND the model join; unpinned, each consumer re-ran
    the tokenize — r07 plan-scan audit; timing-neutral at sf0.1,
    0.60 vs 0.60 s, the removed three redundant corpus passes are the
    scale win)."""
    doc = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split("text", " ")
    k = F.size("toks") - 1
    bg = (
        doc.select(toks.alias("toks"))
        .select("toks", F.explode(F.when(k >= 1, F.sequence(F.lit(1), k))).alias("i"))
        .select(
            F.element_at("toks", F.col("i")).alias("w1"),
            F.element_at("toks", F.col("i") + 1).alias("w2"),
        )
    )
    c2 = bg.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("n12")
    ).transform(pin)
    c1 = c2.groupBy("w1").agg(
        F.sum("n12").cast("long").alias("n1"),
        F.count(F.lit(1)).cast("long").alias("n1plus_fw"),
    )
    bw = c2.groupBy("w2").agg(F.count(F.lit(1)).cast("long").alias("n1plus_bw"))
    btypes = c2.agg(F.count(F.lit(1)).cast("long").alias("b_total"))
    d = 0.75
    model = (
        c2.join(c1, "w1")
        .join(bw, "w2")
        .crossJoin(F.broadcast(btypes))
        .select(
            "w1",
            "w2",
            "n12",
            "n1",
            "n1plus_fw",
            "n1plus_bw",
            F.round(
                (
                    F.greatest(F.col("n12").cast("double") - d, F.lit(0.0)) / F.col("n1")
                    + (d * F.col("n1plus_fw") / F.col("n1"))
                    * (F.col("n1plus_bw").cast("double") / F.col("b_total"))
                )
                * 1_000_000
            )
            .cast("long")
            .alias("p_kn_e6"),
        )
    )
    return model.orderBy(F.desc("n12"), "w1", "w2").limit(KN_TOPK)


# ---------------------------------------------------------------------------
# LLM-watermark (greenlist bias) detector
# ---------------------------------------------------------------------------

WATERMARK_ORACLE = """
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), bg AS (
  SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2
  FROM tok, LATERAL (SELECT unnest(generate_series(1, len(toks) - 1)) AS i)
  WHERE len(toks) >= 2
), scored AS (
  SELECT doc_id,
         CASE WHEN (('0x' || substr(md5(w1 || '>' || w2), 1, 8))::BIGINT % 2) = 0
              THEN 1 ELSE 0 END AS green
  FROM bg
), agg AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         CAST(SUM(green) AS BIGINT) AS n_green
  FROM scored GROUP BY 1
)
SELECT doc_id, n_bigrams, n_green,
       (2.0 * n_green - n_bigrams) / sqrt(CAST(n_bigrams AS DOUBLE)) AS z_score,
       (2.0 * n_green - n_bigrams) / sqrt(CAST(n_bigrams AS DOUBLE)) > 4.0
         AS flagged
FROM agg
"""


@register("text_watermark_detect", oracle=WATERMARK_ORACLE, tags=("text", "llm"))
def text_watermark_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greenlist-bias watermark detector (Kirchenbauer et al.'s
    statistical test, the detection side of LLM text watermarking): a
    watermarking sampler boosts "green" tokens — here a deterministic
    50% greenlist keyed by md5(prev token > token) — so watermarked
    text shows a green fraction far above 1/2. Per document, count
    green bigram transitions and emit the one-proportion z-score
    z = (2g − n)/√n with a z > 4 flag (P(false positive) < 3e-5
    per doc under H0).

    The fixture's human-ish synthetic text must NOT be flagged (its
    green fraction is binomial around 1/2 — asserted in tests, along
    with a planted high-bias document that must flag). One bigram
    explode + one map-side-combined aggregate; the greenlist is pure
    hash arithmetic, no list to store or broadcast — exactly how a
    100 TB contamination sweep for watermarked synthetic data runs."""
    doc = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split("text", " ")
    k = F.size("toks") - 1
    bg = (
        doc.select("doc_id", toks.alias("toks"))
        .select("doc_id", "toks", F.explode(F.when(k >= 1, F.sequence(F.lit(1), k))).alias("i"))
        .select(
            "doc_id",
            F.element_at("toks", F.col("i")).alias("w1"),
            F.element_at("toks", F.col("i") + 1).alias("w2"),
        )
    )
    green = (
        F.pmod(
            F.conv(
                F.substring(F.md5(F.concat(F.col("w1"), F.lit(">"), F.col("w2"))), 1, 8),
                16,
                10,
            ).cast("long"),
            F.lit(2),
        )
        == 0
    ).cast("long")
    agg = bg.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.sum(green).cast("long").alias("n_green"),
    )
    z = (2.0 * F.col("n_green") - F.col("n_bigrams")) / F.sqrt(
        F.col("n_bigrams").cast("double")
    )
    return agg.select("doc_id", "n_bigrams", "n_green", z.alias("z_score"), (z > 4.0).alias("flagged"))


# ---------------------------------------------------------------------------
# DSIR-style importance weighting for domain-targeted data selection
# ---------------------------------------------------------------------------

DSIR_BUCKETS = 1024
DSIR_TARGET_LANG = "fr"  # the domain we want more of
DSIR_ALPHA = 1  # add-one smoothing per bucket

DSIR_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w FROM documents
), b AS (
  SELECT doc_id, lang,
         (('0x' || substr(md5(w), 1, 8))::BIGINT % {DSIR_BUCKETS}) AS bkt
  FROM tok
), tgt AS (
  SELECT bkt, CAST(COUNT(*) AS BIGINT) AS c_t FROM b WHERE lang = '{DSIR_TARGET_LANG}'
  GROUP BY 1
), corp AS (
  SELECT bkt, CAST(COUNT(*) AS BIGINT) AS c_c FROM b GROUP BY 1
), tots AS (
  SELECT (SELECT SUM(c_t) FROM tgt) AS n_t, (SELECT SUM(c_c) FROM corp) AS n_c
), ratio AS (
  SELECT corp.bkt,
         CAST(ROUND(ln(
           (CAST(COALESCE(tgt.c_t, 0) + {DSIR_ALPHA} AS DOUBLE)
              / (n_t + {DSIR_ALPHA * DSIR_BUCKETS}))
           / ((CAST(corp.c_c AS DOUBLE) + {DSIR_ALPHA})
              / (n_c + {DSIR_ALPHA * DSIR_BUCKETS}))
         ) * 1000000) AS BIGINT) AS logr_e6
  FROM corp LEFT JOIN tgt ON corp.bkt = tgt.bkt, tots
), scored AS (
  SELECT b.doc_id, ANY_VALUE(b.lang) AS lang,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM(r.logr_e6) AS BIGINT) AS logweight_e6
  FROM b JOIN ratio r ON b.bkt = r.bkt
  GROUP BY b.doc_id
)
SELECT doc_id, lang, n_tokens, logweight_e6,
       CAST(FLOOR(logweight_e6 * 1000000.0 / n_tokens) AS BIGINT) AS per_token_e6
FROM scored
ORDER BY per_token_e6 DESC, doc_id
LIMIT 50
"""


@register("text_dsir_importance", oracle=DSIR_ORACLE, tags=("text", "llm", "sampling", "scale"))
def text_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-shaped data selection (Xie et al.: Data Selection for LMs
    via Importance Resampling): estimate hashed-unigram bucket
    distributions for a TARGET domain (lang = {DSIR_TARGET_LANG!r})
    and the whole corpus, then score every document by its summed
    log importance ratio Σ ln(P̂_target(b)/P̂_corpus(b)) — the weight a
    resampling pass uses to tilt a generic 100 TB crawl toward a
    domain with only a small in-domain seed. Emits the top-50 docs by
    per-token weight (total-order tie-break); the selection should —
    and does, asserted in tests — surface the target language.

    Exactness/scale: hashed {DSIR_BUCKETS}-bucket features (no vocab to
    ship), add-one smoothing, each bucket's log ratio rounded ×1e6 ONCE
    (order-independent integer doc sums — the bigram-logprob idiom).
    ONE conditional margins aggregate (the target count is a
    WHEN-guarded count in the same groupBy as the corpus count — r07
    rewrite: separate target/corpus aggregates plus their two total
    rows re-ran the corpus tokenize ~5×; the merged bucket-bounded
    frame is lazily pinned, leaving two corpus passes: margins +
    scoring. A/B at sf0.1: 1.48 → 1.11 s best-of-3, identical top-50)
    + a broadcast-sized ratio table joined back on the bucket id."""
    tok = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "lang", F.explode(F.split("text", " ")).alias("w"))
        .select(
            "doc_id",
            "lang",
            F.pmod(
                F.conv(F.substring(F.md5("w"), 1, 8), 16, 10).cast("long"),
                F.lit(DSIR_BUCKETS),
            ).alias("bkt"),
        )
    )
    m = tok.groupBy("bkt").agg(
        F.count(F.lit(1)).cast("long").alias("c_c"),
        F.count(F.when(F.col("lang") == DSIR_TARGET_LANG, F.lit(1)))
        .cast("long")
        .alias("c_t"),
    ).transform(pin)
    n = m.agg(F.sum("c_c").alias("n_c"), F.sum("c_t").alias("n_t"))
    sm = DSIR_ALPHA * DSIR_BUCKETS
    ratio = (
        m.crossJoin(F.broadcast(n))
        .select(
            "bkt",
            F.round(
                F.log(
                    (
                        (F.col("c_t") + DSIR_ALPHA).cast("double")
                        / (F.col("n_t") + sm)
                    )
                    / (
                        (F.col("c_c").cast("double") + DSIR_ALPHA)
                        / (F.col("n_c") + sm)
                    )
                )
                * 1_000_000
            )
            .cast("long")
            .alias("logr_e6"),
        )
    )
    scored = (
        tok.join(F.broadcast(ratio), "bkt")
        .groupBy("doc_id")
        .agg(
            F.any_value("lang").alias("lang"),
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("logr_e6").cast("long").alias("logweight_e6"),
        )
    )
    per_token = F.floor(
        F.col("logweight_e6") * F.lit(1_000_000.0) / F.col("n_tokens")
    ).cast("long")
    return (
        scored.select("doc_id", "lang", "n_tokens", "logweight_e6", per_token.alias("per_token_e6"))
        .orderBy(F.desc("per_token_e6"), "doc_id")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Pseudo-relevance feedback (Rocchio-style BM25 query expansion)
# ---------------------------------------------------------------------------

PRF_FEEDBACK_K = 10  # docs fed back from pass 1
PRF_EXP_TERMS = 5  # expansion terms added
PRF_EXP_WEIGHT = 1.0  # weight of expansion-term contributions
PRF_MIN_LEN = 4  # expansion terms must be ≥ this many chars
PRF_TOPK = 20


def _prf_oracle() -> str:
    bm25 = _bm25_oracle().strip()
    terms = ", ".join(f"('{t}')" for t in BM25_QUERY)
    return f"""
WITH pass1 AS ({bm25}),
qt2(term) AS (VALUES {terms}),
fb AS (
  SELECT doc_id FROM pass1 LIMIT {PRF_FEEDBACK_K}
), tok AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), stats AS (
  SELECT COUNT(*) AS n_docs,
         CAST(SUM(len(toks)) AS DOUBLE) / COUNT(*) AS avg_len
  FROM tok
), corpus_df AS (
  SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
  FROM (SELECT doc_id, unnest(list_distinct(toks)) AS term FROM tok)
  GROUP BY 1
), fb_df AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS fb_docs
  FROM (SELECT t.doc_id, unnest(list_distinct(t.toks)) AS term
        FROM tok t JOIN fb ON t.doc_id = fb.doc_id)
  GROUP BY 1
), exp_terms AS (
  SELECT f.term FROM fb_df f JOIN corpus_df c ON f.term = c.term, stats s
  WHERE length(f.term) >= {PRF_MIN_LEN}
    AND f.term NOT IN (SELECT term FROM qt2)
  ORDER BY f.fb_docs DESC, c.df ASC, f.term
  LIMIT {PRF_EXP_TERMS}
), q2 AS (
  SELECT term, 1.0 AS wt FROM qt2
  UNION ALL SELECT term, {PRF_EXP_WEIGHT} FROM exp_terms
), tf AS (
  SELECT t.doc_id, q.term, q.wt,
         CAST(len(list_filter(t.toks, x -> x = q.term)) AS DOUBLE) AS tf,
         CAST(len(t.toks) AS DOUBLE) AS dl
  FROM tok t, q2 q
), df2 AS (
  SELECT term, COUNT(*) FILTER (WHERE tf > 0) AS df FROM tf GROUP BY term
), scored AS (
  SELECT tf.doc_id,
         CAST(SUM(CAST(FLOOR(
           tf.wt * LN(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
           * (tf.tf * ({BM25_K1} + 1.0))
           / (tf.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * tf.dl / s.avg_len))
           * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS score2_e6
  FROM tf JOIN df2 d ON tf.term = d.term, stats s
  WHERE tf.tf > 0
  GROUP BY tf.doc_id
)
SELECT s2.doc_id, s2.score2_e6,
       p1.doc_id IS NOT NULL AS in_pass1
FROM scored s2 LEFT JOIN pass1 p1 ON s2.doc_id = p1.doc_id
ORDER BY s2.score2_e6 DESC, s2.doc_id
LIMIT {PRF_TOPK}
"""


@register("sim_prf_query_expansion", oracle=_prf_oracle(), tags=("text", "llm", "similarity"))
def sim_prf_query_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-relevance feedback (Rocchio-style): run the fixed BM25
    query, treat its top-{PRF_FEEDBACK_K} as relevant, mine
    {PRF_EXP_TERMS} expansion terms from them (most feedback-frequent
    ≥{PRF_MIN_LEN}-char non-query terms, rarest-first tie-break — the
    fixture's uniform synthetic vocabulary has no rare terms at all,
    so a df-informativeness floor would select nothing), and
    re-retrieve with the
    expanded weighted query — the classic zero-training recall booster
    every search stack ships. Emits the pass-2 top-{PRF_TOPK} with an
    in_pass1 marker (the false rows are recall the expansion BOUGHT —
    asserted non-empty in tests).

    Unlike the literal-term BM25 (compile-time tf columns), pass 2's
    terms are DATA-DEPENDENT, so tf comes from one token explode
    joined to the tiny dynamic term frame — the general query path.
    Same ×1e6-before-sum exactness discipline; every ranking carries a
    doc_id tie-break."""
    bm1 = text_bm25_topk(spark, sf_dir)
    fb = bm1.limit(PRF_FEEDBACK_K).select("doc_id").transform(pin)
    doc = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    base = doc.select("doc_id", toks.alias("toks"), F.size(toks).cast("double").alias("dl"))
    base = base.transform(pin)
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl") / F.count(F.lit(1))).alias("avg_len"),
    )
    dt = base.select("doc_id", F.explode(F.array_distinct("toks")).alias("term"))
    corpus_df = dt.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    fb_df = (
        dt.join(F.broadcast(fb), "doc_id")
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("fb_docs"))
    )
    exp_terms = (
        fb_df.join(corpus_df, "term")
        .crossJoin(F.broadcast(stats))
        .filter(
            (F.length("term") >= PRF_MIN_LEN) & (~F.col("term").isin(*BM25_QUERY))
        )
        .orderBy(F.desc("fb_docs"), F.asc("df"), "term")
        .limit(PRF_EXP_TERMS)
        .select("term", F.lit(PRF_EXP_WEIGHT).alias("wt"))
    )
    q2 = (
        exp_terms.unionByName(
            local_frame(
                base.sparkSession, [(t, 1.0) for t in BM25_QUERY], "term string, wt double"
            )
        )
        .transform(pin)
    )
    tf = (
        base.select("doc_id", "dl", F.explode("toks").alias("term"))
        .join(F.broadcast(q2), "term")
        .groupBy("doc_id", "term", "wt", "dl")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    df2 = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    contrib = (
        F.col("wt")
        * idf
        * (F.col("tf") * (BM25_K1 + 1.0))
        / (F.col("tf") + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avg_len")))
    )
    contrib_e6 = F.floor(contrib * 1_000_000 + F.lit(0.5)).cast("long")
    scored = (
        tf.join(F.broadcast(df2), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(contrib_e6).cast("long").alias("score2_e6"))
    )
    p1 = bm1.select("doc_id", F.lit(True).alias("p1"))
    return (
        scored.join(p1, "doc_id", "left")
        .select(
            "doc_id",
            "score2_e6",
            F.coalesce("p1", F.lit(False)).alias("in_pass1"),
        )
        .orderBy(F.desc("score2_e6"), "doc_id")
        .limit(PRF_TOPK)
    )


# ---------------------------------------------------------------------------
# Fixed-block exact dedup with corpus rewrite (the Gopher/RefinedWeb
# "remove duplicated passages, keep first occurrence" step)
# ---------------------------------------------------------------------------

BLOCK_B = 16  # tokens per block

BLOCK_DEDUP_ORACLE = f"""
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
blk AS (
  SELECT doc_id, b,
         array_to_string(toks[b*{BLOCK_B}+1 : b*{BLOCK_B}+{BLOCK_B}], ' ') AS btext,
         len(toks[b*{BLOCK_B}+1 : b*{BLOCK_B}+{BLOCK_B}]) AS btoks
  FROM tok, LATERAL (SELECT unnest(generate_series(
        0, CAST(ceil(len(toks) / {BLOCK_B}.0) AS BIGINT) - 1)) AS b)
), ranked AS (
  SELECT doc_id, b, btext, btoks,
         ROW_NUMBER() OVER (PARTITION BY md5(btext) ORDER BY doc_id, b) AS rn
  FROM blk
), kept AS (SELECT doc_id, b, btext, btoks FROM ranked WHERE rn = 1)
SELECT t.doc_id,
       CAST(ceil(len(t.toks) / {BLOCK_B}.0) AS BIGINT) AS n_blocks,
       CAST(COUNT(k.b) AS BIGINT) AS kept_blocks,
       CAST(COALESCE(SUM(k.btoks), 0) AS BIGINT) AS kept_tokens,
       md5(COALESCE(string_agg(k.btext, ' ' ORDER BY k.b), '')) AS rebuilt_md5
FROM tok t LEFT JOIN kept k ON t.doc_id = k.doc_id
GROUP BY t.doc_id, len(t.toks)
"""


@register("text_block_dedup", oracle=BLOCK_DEDUP_ORACLE, tags=("text", "dedup", "llm", "scale"))
def text_block_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-block exact passage dedup WITH corpus rewrite: cut every
    document into 16-token blocks, keep only the corpus-wide
    FIRST occurrence of each distinct block (ordered by (doc_id,
    block_idx) — deterministic, not arrival-order), and re-emit each
    document rebuilt from its surviving blocks. This is the "apply"
    complement to the measuring ops (``text_span_dedup`` reports
    coverage; this one produces the deduplicated corpus) and the
    fixed-offset contrast case to ``dedup_cdc_chunks`` (an insertion
    shifts every later block here, which is exactly why CDC exists).
    Output per doc: block counts before/after, surviving token count,
    and md5 of the rebuilt text (the full rebuilt string stays
    distributed; only its fingerprint is emitted).

    Dataflow: one narrow pass slices blocks via posexplode over
    ``sequence(0, ceil(n/16)-1)`` + ``slice(toks, ...)`` — no
    per-token explosion; first-occurrence election is ONE map-side-
    combinable min-by keyed by block md5 (uniform 128-bit key → no
    skew; at 100 TB this is the passage index, and a boilerplate
    block with a million copies collapses to one partial-combined
    row per partition before the exchange); rebuild is a
    per-doc groupBy with an ordered array_join. No pair enumeration,
    no corpus-wide window, no Python."""
    doc = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    base = doc.select("doc_id", toks.alias("toks"), F.size(toks).alias("n"))
    nblocks = F.ceil(F.col("n") / F.lit(float(BLOCK_B))).cast("long")
    blk = base.select(
        "doc_id",
        nblocks.alias("n_blocks"),
        F.posexplode(F.sequence(F.lit(0), nblocks - 1)).alias("_p", "b"),
        F.slice("toks", F.col("_p") * BLOCK_B + 1, BLOCK_B).alias("btoks_arr"),
    ).select(
        "doc_id",
        "n_blocks",
        "b",
        F.array_join("btoks_arr", " ").alias("btext"),
        F.size("btoks_arr").alias("btoks"),
    )
    # first-occurrence election as the min-by the docstring promises:
    # min(struct(doc_id, b, payload…)) per block md5 is map-side
    # combinable, so a boilerplate block with a million copies costs
    # one partial-combined row per partition instead of one
    # partition's full ordered scan under a row_number window.
    kept = (
        blk.groupBy(F.md5("btext").alias("_h"))
        .agg(F.min(F.struct("doc_id", "b", "n_blocks", "btext", "btoks")).alias("k"))
        .select("k.doc_id", "k.n_blocks", "k.b", "k.btext", "k.btoks")
    )
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("kept_blocks"),
        F.sum("btoks").cast("long").alias("kept_tokens"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("b", "btext"))),
                    lambda s: s["btext"],
                ),
                " ",
            )
        ).alias("rebuilt_md5"),
    )
    sizes = base.select("doc_id", nblocks.alias("n_blocks"))
    return sizes.join(rebuilt, "doc_id", "left").select(
        "doc_id",
        "n_blocks",
        F.coalesce("kept_blocks", F.lit(0)).cast("long").alias("kept_blocks"),
        F.coalesce("kept_tokens", F.lit(0)).cast("long").alias("kept_tokens"),
        F.coalesce("rebuilt_md5", F.md5(F.lit(""))).alias("rebuilt_md5"),
    )


# ---------------------------------------------------------------------------
# Hashed linear quality classifier (fastText-style inference plan)
# ---------------------------------------------------------------------------

CLF_D = 64  # hashed vocabulary buckets (model dimensionality)

HASHCLF_ORACLE = f"""
WITH w AS (
  SELECT i AS bucket, (i * 2654435761) % 1001 - 500 AS wgt
  FROM generate_series(0, {CLF_D - 1}) t(i)
), tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), b AS (
  SELECT doc_id, (('0x' || substr(md5(tok), 1, 8))::BIGINT % {CLF_D}) AS bucket
  FROM tok
), s AS (
  SELECT doc_id, COUNT(*) AS n_tokens, SUM(wgt) AS score
  FROM b JOIN w USING (bucket) GROUP BY doc_id
)
SELECT doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(score AS BIGINT) AS score_raw,
       CAST(score * 1000 // n_tokens AS BIGINT) AS mean_w_e3,
       (score * 1000 // n_tokens) > 0 AS keep
FROM s
"""


@register(
    "text_quality_hashclf",
    oracle=HASHCLF_ORACLE,
    tags=("text", "llm", "quality", "mlfeat"),
)
def text_quality_hashclf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality-classifier INFERENCE over the corpus — the
    fastText-shaped curation step (CCNet / LLM data pipelines score
    every document with a hashed-bag-of-words linear model and keep the
    high scorers). The model here is a 64-bucket weight table with
    deterministic pseudo-random integer weights — a stand-in for
    trained weights, chosen so the oracle can regenerate it — but the
    PLAN is the production shape: tokens → hash bucket → broadcast
    join against the weight table → per-doc sum → threshold. Swapping
    in a real trained model changes one small table, not the plan.

    Scale: the model is a broadcast side (64 rows here; even a 2M-row
    vocab·dim table broadcasts fine), so scoring is one narrow pass +
    one per-doc aggregate — no corpus-wide shuffle other than the
    groupBy(doc_id), which is co-partitioned with the explode's input.
    Integer weights and integer ×1000 fixed-point mean keep the score
    order-independent and engine-exact (Spark ``div`` and DuckDB ``//``
    both truncate toward zero, including for negative scores)."""
    weights = spark.range(CLF_D).select(
        F.col("id").alias("bucket"),
        ((F.col("id") * 2654435761) % 1001 - 500).alias("wgt"),
    )
    tok = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    bucket = F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long") % CLF_D
    scored = (
        tok.select("doc_id", bucket.alias("bucket"))
        .join(F.broadcast(weights), "bucket")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_tokens"), F.sum("wgt").alias("score"))
    )
    mean_e3 = F.expr("score * 1000 div n_tokens")
    return scored.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("score").cast("long").alias("score_raw"),
        mean_e3.cast("long").alias("mean_w_e3"),
        (mean_e3 > 0).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Distributed BPE tokenizer training (merge-rule learning)
# ---------------------------------------------------------------------------

BPE_MERGES = 4


def _bpe_oracle(k: int = BPE_MERGES) -> str:
    parts = [
        """WITH words AS (
  SELECT tok AS w, CAST(COUNT(*) AS BIGINT) AS freq
  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
  GROUP BY tok
), s0 AS (
  SELECT w, freq,
         ' ' || array_to_string(
           [substr(w, i, 1) FOR i IN generate_series(1, len(w))], '  ') || ' ' AS seq
  FROM words
)"""
    ]
    for i in range(k):
        parts.append(
            f""", p{i} AS (
  SELECT t[i] AS a, t[i+1] AS b, SUM(freq) AS cnt
  FROM (SELECT freq, string_split(trim(seq), '  ') AS t FROM s{i}),
       LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i)
  GROUP BY 1, 2
), b{i} AS (SELECT a, b, cnt FROM p{i} ORDER BY cnt DESC, a, b LIMIT 1)"""
        )
        if i < k - 1:
            parts.append(
                f""", s{i + 1} AS (
  SELECT w, freq,
         replace(seq,
           ' ' || (SELECT a FROM b{i}) || '  ' || (SELECT b FROM b{i}) || ' ',
           ' ' || (SELECT a FROM b{i}) || (SELECT b FROM b{i}) || ' ') AS seq
  FROM s{i}
)"""
            )
    selects = " UNION ALL ".join(
        f"SELECT {i + 1} AS step, a AS left_sym, b AS right_sym, "
        f"CAST(cnt AS BIGINT) AS pair_count FROM b{i}"
        for i in range(k)
    )
    return "".join(parts) + f"\n{selects} ORDER BY step"


@register("text_bpe_train_merges", oracle=_bpe_oracle(), tags=("text", "llm", "iterative", "scale"))
def text_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer TRAINING — learn the first 4 merge
    rules exactly as Sennrich-style BPE does: count adjacent symbol
    pairs over the corpus, merge the most frequent pair everywhere,
    repeat. The companion to ``text_bpe_pretokenize`` (which applies a
    tokenizer; this one learns it).

    The 100 TB-critical reduction happens FIRST: the corpus collapses
    to a (word, freq) table in one shuffle, and all training iterations
    run on that compressed table — classic BPE-trainer design (word
    count, not token stream, drives pair counts; a trillion-token
    corpus becomes a few-million-row vocab table). Each iteration is a
    pair-count aggregate plus a single-row argmax collect (same
    tiny-driver-hop pattern as the k-means centroid loop in
    ``sim_topk_ivf_trained``) and a vectorized string rewrite. The
    greedy left-to-right merge uses double-space symbol separators so
    plain non-overlapping ``replace`` is EXACTLY the BPE merge (each
    boundary owns two spaces; a match consumes one from each side, so
    adjacent occurrences still match — verified identical in both
    engines, including the overlapping 'a a a' case). Ties break by
    (count desc, pair lexicographic) for cross-engine determinism.
    The returned 4-row merge table is the trained model."""
    _, merges = _bpe_train(spark, sf_dir)
    return local_frame(
        spark, merges, "step BIGINT, left_sym STRING, right_sym STRING, pair_count BIGINT"
    )


def _bpe_train(spark: SparkSession, sf_dir: str):
    """Run the BPE merge loop; return (post-merge word table, merges).

    The word table carries (freq, seq) with seq in canonical
    double-space symbol form after ALL learned merges are applied."""
    doc = load_table(spark, sf_dir, "documents")
    words = (
        doc.select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    cur = words.select(
        "freq",
        F.concat(F.lit(" "), F.array_join(F.split("w", ""), "  "), F.lit(" ")).alias("seq"),
    ).transform(pin)
    # ^ the raw word string is dead once seq is derived (pin-width
    # audit r09): no merge step, the merges output, nor the fertility
    # consumer reads w — dropping it halves the widest column out of
    # the vocab pin payload.
    # ^ pin the vocab frame: each merge step's top-pair collect is its
    # own JOB, so without the pin every step re-ran the corpus explode
    # + word-count shuffle (a per-step full corpus pass the plan-scan
    # audit cannot see — it only inspects the FINAL frame's plan, and
    # the per-step collect jobs are separate). The vocab frame is
    # distinct-words-sized; the per-step replace chain stays narrow
    # expressions on top of the pinned blocks.
    merges = []
    for step in range(1, BPE_MERGES + 1):
        t = F.split(F.trim("seq"), "  ")
        pairs = (
            cur.select(
                "freq",
                t.alias("t"),
                F.explode(
                    F.when(F.size(t) >= 2, F.sequence(F.lit(1), F.size(t) - 1))
                ).alias("i"),
            )
            .select(
                "freq",
                F.element_at("t", F.col("i")).alias("a"),
                F.element_at("t", F.col("i") + 1).alias("b"),
            )
            .groupBy("a", "b")
            .agg(F.sum("freq").alias("cnt"))
        )
        top = pairs.orderBy(F.desc("cnt"), "a", "b").limit(1).collect()
        if not top:
            # empty corpus / no adjacent pair left: stop learning merges
            # instead of indexing into an empty result (empty-input guard)
            break
        best = top[0]
        merges.append((step, best["a"], best["b"], int(best["cnt"])))
        cur = cur.withColumn(
            "seq",
            F.replace(
                "seq",
                F.lit(f" {best['a']}  {best['b']} "),
                F.lit(f" {best['a']}{best['b']} "),
            ),
        )
    return cur, merges


def _bpe_apply_oracle(k: int = BPE_MERGES) -> str:
    base = _bpe_oracle(k)
    # Reuse the training CTE chain; add the final rewrite + fertility agg.
    prefix = base.split("\nSELECT 1 AS step")[0]
    last = k - 1
    return f"""{prefix}, sfinal AS (
  SELECT w, freq,
         replace(seq,
           ' ' || (SELECT a FROM b{last}) || '  ' || (SELECT b FROM b{last}) || ' ',
           ' ' || (SELECT a FROM b{last}) || (SELECT b FROM b{last}) || ' ') AS seq
  FROM s{last}
), persym AS (
  SELECT w, freq, len(string_split(trim(seq), '  ')) AS n_sym, seq FROM sfinal
), vocab AS (
  SELECT COUNT(DISTINCT sym) AS v FROM (
    SELECT unnest(string_split(trim(seq), '  ')) AS sym FROM sfinal)
)
SELECT CAST(SUM(freq) AS BIGINT) AS total_tokens,
       CAST(SUM(freq * n_sym) AS BIGINT) AS total_symbols,
       CAST(SUM(freq * n_sym) * 1000000 // SUM(freq) AS BIGINT) AS fertility_e6,
       CAST((SELECT v FROM vocab) AS BIGINT) AS vocab_size
FROM persym
"""


@register("text_bpe_apply_fertility", oracle=_bpe_apply_oracle(), tags=("text", "llm", "iterative"))
def text_bpe_apply_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-then-APPLY composition for the BPE family: learn the 4
    merge rules (exactly ``text_bpe_train_merges``) and tokenize the
    corpus with them, reporting the metric tokenizer teams actually
    tune for — fertility (symbols emitted per whitespace token,
    ×1e6 fixed point) — plus the resulting symbol-vocabulary size.
    Certifies the whole train→apply chain end-to-end against one
    oracle, the same composition-level proof strategy as
    ``llm_prep_pipeline``.

    Applying merges costs nothing extra at scale: the rewrite chain
    runs on the compressed (word, freq) table, and fertility is a
    freq-weighted aggregate over it — the corpus token stream is never
    re-touched after the initial word count."""
    cur, _ = _bpe_train(spark, sf_dir)
    n_sym = F.size(F.split(F.trim("seq"), "  "))
    persym = cur.select("freq", n_sym.alias("n_sym"), "seq")
    vocab = (
        cur.select(F.explode(F.split(F.trim("seq"), "  ")).alias("sym"))
        .agg(F.count_distinct("sym").alias("v"))
    )
    return (
        persym.agg(
            F.sum("freq").cast("long").alias("total_tokens"),
            F.sum(F.col("freq") * F.col("n_sym")).cast("long").alias("total_symbols"),
            F.expr(
                "CAST(sum(freq * n_sym) * 1000000 div sum(freq) AS BIGINT)"
            ).alias("fertility_e6"),
        )
        .crossJoin(F.broadcast(vocab))
        .select(
            "total_tokens",
            "total_symbols",
            "fertility_e6",
            F.col("v").cast("long").alias("vocab_size"),
        )
    )


# --- train→eval n-gram novelty (memorization exposure) ----------------------

NOVELTY_TRAIN_PCT = 80  # same md5(doc_id) split convention as sample_split_hash

NOVELTY_ORACLE = f"""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS toks,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100
           < {NOVELTY_TRAIN_PCT} AS is_train
  FROM documents
), train_sh AS (
  SELECT DISTINCT unnest({shingles_sql('toks')}) AS shingle FROM d WHERE is_train
), eval_sh AS (
  SELECT doc_id, unnest({shingles_sql('toks')}) AS shingle FROM d WHERE NOT is_train
)
SELECT e.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(CASE WHEN t.shingle IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       CAST(SUM(CASE WHEN t.shingle IS NULL THEN 1 ELSE 0 END) * 1000000 // COUNT(*)
         AS BIGINT) AS novelty_ppm
FROM eval_sh e LEFT JOIN train_sh t ON t.shingle = e.shingle
GROUP BY 1
"""


@register("text_train_novelty", oracle=NOVELTY_ORACLE, tags=("text", "llm", "dedup"))
def text_train_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-eval-document n-gram novelty against the training split: the
    share of a held-out doc's distinct 5-token shingles that appear
    NOWHERE in the train split. The complement of this number is the
    memorization-exposure proxy data-curation teams track (Lee et al.,
    'Deduplicating Training Data Makes Language Models Better' measures
    exactly this overlap) — an eval set whose docs carry low novelty is
    contaminated-by-construction, whatever the benchmark-level
    text_contamination screen says. Split is the md5(doc_id) 80/20 of
    sample_split_hash, so novelty composes with the other split-keyed
    operators.

    Scale shape: the train shingle VOCABULARY (one distinct shuffle —
    at 100 TB a materialized table, built once per corpus snapshot) is
    probed by eval shingles keyed on xxhash64 8-byte keys instead of
    raw strings (~5× shuffle-volume reduction, the dedup_ngram_jaccard
    idiom; assumes 64-bit collision-freedom over observed shingles —
    P ≈ n²/2⁶⁵, immaterial, and the raw-string oracle parity guards
    it), then one per-doc partial aggregate. Work ∝ eval shingles ×
    avg index fanout — independent of train-corpus pair counts."""
    from .sampling import hash_bucket

    doc = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", (hash_bucket("doc_id", 100) < NOVELTY_TRAIN_PCT).alias("is_train")
    )
    train_sh = (
        shingle_rows(doc.filter("is_train").select("doc_id", "text"), distinct=False)
        .select(F.xxhash64("shingle").alias("sh_key"))
        .distinct()
        .withColumn("in_train", F.lit(1))
    )
    eval_sh = shingle_rows(
        doc.filter(~F.col("is_train")).select("doc_id", "text"), distinct=True
    ).select("doc_id", F.xxhash64("shingle").alias("sh_key"))
    probed = eval_sh.join(train_sh, "sh_key", "left")
    return probed.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_shingles"),
        F.sum(F.when(F.col("in_train").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_novel"),
        F.expr(
            "CAST(sum(CASE WHEN in_train IS NULL THEN 1 ELSE 0 END) * 1000000"
            " div count(1) AS BIGINT)"
        ).alias("novelty_ppm"),
    )
