"""Deduplication operator family over ``documents`` — the core of any
large-scale training-data pipeline (not present in the reference;
LLM-data extension surface).

Five escalating techniques, all oracle-checkable because every hash is
md5 (standardized, engine-independent) rather than an engine-native
hash():

- exact:      full-content hash groupBy.
- ngram_jaccard: exact shingle-set Jaccard on candidate pairs that share
  ≥1 shingle (inverted-index join — NEVER an all-pairs cross join).
- minhash_lsh: 12-permutation MinHash signature, banded 3×4 for
  candidate generation, exact-signature similarity estimate.
- simhash:    60-bit SimHash with banded Hamming-distance candidates.
- embedding near-dup: cosine threshold over the embeddings table —
  brute-force reference (dedup_embedding_cosine) plus the REGISTERED
  banded random-hyperplane scale path (dedup_semantic_components_lsh,
  equi-join candidates, recall certified by dedup_semantic_lsh_recall).

Scale analysis (100 TB): exact/minhash/simhash are one scan + one
shuffle on (hash/band) keys; candidate pair sets are output-bounded.
The inverted-index Jaccard join shuffles shingle rows once; hot shingles
(stop-phrases) are the skew risk — mitigated by AQE skew-join splitting
and by the implemented document-frequency cap
(:func:`shingle_overlap` ``max_df``), which drops top-frequency
shingles from the index before the self-join — standard practice for
production corpora. Every shingle-overlap operator (set, containment,
incremental and weighted Jaccard) shares that one candidate stage.
"""

from __future__ import annotations

from itertools import combinations as _combinations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.text import shingle_rows, shingles_sql, tokens
from ..functions.vectors import (
    as_double, cosine_sql, dot, dot_float, dot_sql, live, md5_plane, norm, pair_cos,
)
from ..registry import register
from ..session import (
    is_pinned,
    load_table,
    loop_shuffle_partitions,
    parquet_num_rows,
    pin,
    pin_eager_observed,
)

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

EXACT_ORACLE = """
SELECT md5(text) AS content_md5,
       MIN(doc_id) AS canonical_doc_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY md5(text)
"""


@register("dedup_exact", oracle=EXACT_ORACLE, tags=("dedup", "llm"))
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on full content; lowest doc_id becomes
    the canonical representative. One shuffle on the 128-bit hash —
    the pattern that holds at any scale."""
    doc = load_table(spark, sf_dir, "documents")
    return (
        doc.groupBy(F.md5("text").alias("content_md5"))
        .agg(F.min("doc_id").alias("canonical_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard over inverted-index candidates
# ---------------------------------------------------------------------------

JACCARD_THRESHOLD = 0.5

# Hot-shingle cap for the REGISTERED defaults (r11, skew-lab finding):
# the uncapped inverted index is quadratic in any Zipf-head shingle —
# the skew shard's one 2000-df stop-phrase doubled the query's wall for
# ZERO output change (candidates 256 → ~2M, output 256 → 252). A
# CONSTANT cap is the scale-correct dial here (unlike the banded
# families' log-sized banks): each indexed shingle occurrence can pair
# with at most max_df−1 others, so candidates ≤ max_df · |shingle rows|
# — linear in the corpus by construction. 256 is inactive on every
# driver corpus (measured base max df = 4 at sf0.001/0.01/0.1, so all
# recorded hashes stand) and engages exactly on boilerplate. Ordering
# contract, as in production (SlimPajama-style): run dedup_exact first —
# an exact-dup cluster larger than the cap shares ONLY capped shingles
# and is the exact-dedup pass's job, not the near-dup scorer's.
NGRAM_MAX_DF = 256


def shingle_keys(doc: DataFrame) -> DataFrame:
    """``(doc_id, sh_key)``: each doc's distinct 5-token shingles as
    64-bit ``xxhash64`` keys. Hashed BEFORE the per-doc distinct, so the
    dedup shuffle moves 16-byte rows instead of (long, ~40-byte string).
    The oracles key on raw strings, so parity assumes no collision over
    the shingle set (P ≈ n²/2⁶⁵, ~3e-7 at 1e9 distinct shingles): one
    would merge two shingles, shrinking a set size or inflating an
    overlap. Check for that before suspecting the plan on a mismatch."""
    return (
        shingle_rows(doc, distinct=False)
        .select("doc_id", F.xxhash64("shingle").alias("sh_key"))
        .distinct()
    )


def shingle_overlap(
    index: DataFrame, probe: DataFrame | None = None, max_df: int = NGRAM_MAX_DF
) -> DataFrame:
    """The shingle near-dup family's one candidate stage: keyed rows
    ``(doc_id, sh_key[, c])``, one per (doc, key) → ``(doc_a, doc_b,
    n_common)``; callers keep only their scoring.

    - ``max_df`` is the hot-shingle skew guard: keys in more than
      ``max_df`` ``index`` docs (stop-phrases, boilerplate) leave BOTH
      sides before the join. A key with df=d alone yields d·(d-1)/2 rows
      through one shuffle key; AQE skew splitting spreads that work,
      the cap bounds it. Callers size docs over ALL their shingles, so
      surviving pairs score exactly and pairs sharing ONLY hot keys drop.
    - No ``probe``: the index joins itself on ``doc_a < doc_b``. With a
      ``probe``, ``doc_a`` is the probe doc and ``doc_b`` the index doc.
    - With a count column ``c``, ``n_common`` is Σ least(cₐ, c_b);
      otherwise it counts the shared keys."""
    hot = (
        index.groupBy("sh_key")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > max_df)
        .select("sh_key")
    )
    # hot-key set is tiny by construction → broadcast anti-join
    idx = index.join(F.broadcast(hot), "sh_key", "left_anti")
    on = F.col("a.sh_key") == F.col("b.sh_key")
    if probe is None:
        a = idx
        on = on & (F.col("a.doc_id") < F.col("b.doc_id"))
    else:
        # the join would drop hot probe rows too, but only after shuffling them
        a = probe.join(F.broadcast(hot), "sh_key", "left_anti")
    n = F.sum(F.least("a.c", "b.c")) if "c" in index.columns else F.count(F.lit(1))
    return (
        a.alias("a")
        .join(idx.alias("b"), on)
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(n.alias("n_common"))
    )


NGRAM_JACCARD_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), sh AS (
  SELECT doc_id, unnest({shingles_sql('toks')}) AS shingle FROM tok
), sizes AS (
  SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id
), hot AS (
  SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) > {NGRAM_MAX_DF}
), idx AS (
  SELECT doc_id, shingle FROM sh
  WHERE shingle NOT IN (SELECT shingle FROM hot)
), cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM idx a JOIN idx b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       ROUND(CAST(n_common AS DOUBLE) / CAST(sa.sz + sb.sz - n_common AS DOUBLE), 6) AS jaccard
FROM cand
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE CAST(n_common AS DOUBLE) / CAST(sa.sz + sb.sz - n_common AS DOUBLE) >= {JACCARD_THRESHOLD}
"""


def ngram_jaccard_pairs(doc: DataFrame, max_df: int = NGRAM_MAX_DF) -> DataFrame:
    """Core of dedup_ngram_jaccard over an arbitrary ``(doc_id, text)``
    frame: set Jaccard over the :func:`shingle_overlap` candidates
    (``max_df`` is its hot-shingle cap)."""
    sh = shingle_keys(doc)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    cand = shingle_overlap(sh, max_df=max_df)
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("n_common").cast("double") / (
        F.col("sa.sz") + F.col("sb.sz") - F.col("n_common")
    ).cast("double")
    return (
        cand.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .filter(jac >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


@register("dedup_ngram_jaccard", oracle=NGRAM_JACCARD_ORACLE, tags=("dedup", "llm", "bench"))
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 5-token-shingle Jaccard near-dup pairs. Candidates come from
    an inverted-index self-join (pairs sharing ≥1 shingle) — candidate
    count is data-bounded, not O(n²). The self-join keys on
    xxhash64(shingle) (8 bytes, :func:`shingle_keys`) rather than the
    ~40-byte shingle string: ~5× less shuffle volume, same result.
    The registered default runs with the :data:`NGRAM_MAX_DF` hot-shingle
    cap APPLIED (r11, skew-lab finding — see the constant's rationale;
    the oracle mirrors the cap, and on the driver corpora, whose max
    shingle df is 4, the capped and uncapped outputs are identical)."""
    return ngram_jaccard_pairs(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

N_HASHES = 12
N_BANDS = 3  # 4 hashes per band
MINHASH_EST_THRESHOLD = 0.5


def _minhash_sig_sql() -> str:
    # Double hashing (Kirsch-Mitzenmacher): hash_i(x) = h1(x) + i*h2(x),
    # where h1/h2 are the two 32-bit halves of ONE md5 — 12 hash-family
    # members for the price of a single digest per shingle.
    mins = ",\n         ".join(f"MIN(h1 + {s} * h2) AS mh{s}" for s in range(N_HASHES))
    return f"""
tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
sh AS (SELECT doc_id, unnest({shingles_sql('toks')}) AS shingle FROM tok),
shh AS (
  SELECT doc_id,
         ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h1,
         ('0x' || substr(md5(shingle), 9, 8))::BIGINT AS h2
  FROM sh
),
sig AS (
  SELECT doc_id,
         {mins}
  FROM shh GROUP BY doc_id
)"""


def _band_expr_sql(b: int) -> str:
    parts = " || '|' || ".join(f"mh{b * 4 + i}" for i in range(4))
    return f"md5({parts})"


_MATCH_SUM = " + ".join(
    f"(CASE WHEN x.mh{s} = y.mh{s} THEN 1 ELSE 0 END)" for s in range(N_HASHES)
)

MINHASH_ORACLE = f"""
WITH {_minhash_sig_sql()},
bands AS (
  SELECT doc_id, b.band_idx,
         CASE b.band_idx
           WHEN 0 THEN {_band_expr_sql(0)}
           WHEN 1 THEN {_band_expr_sql(1)}
           WHEN 2 THEN {_band_expr_sql(2)}
         END AS band_sig
  FROM sig, (SELECT unnest(generate_series(0, {N_BANDS - 1})) AS band_idx) b
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       ROUND(CAST({_MATCH_SUM} AS DOUBLE) / {N_HASHES}.0, 6) AS est_jaccard
FROM cand
JOIN sig x ON doc_a = x.doc_id
JOIN sig y ON doc_b = y.doc_id
WHERE CAST({_MATCH_SUM} AS DOUBLE) / {N_HASHES}.0 >= {MINHASH_EST_THRESHOLD}
"""


@register("dedup_minhash_lsh", oracle=MINHASH_ORACLE, tags=("dedup", "llm", "bench"))
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup detection, fully deterministic and
    oracle-checkable: 12 min-hashes per document from ONE md5 per
    shingle via double hashing (Kirsch-Mitzenmacher: hash_i = h1 + i*h2
    over the digest's two 32-bit halves — values < 2^36, no overflow in
    either engine), computed as 12 MIN aggregates in one pass over
    exploded shingles; banded 3×(4 hashes) into md5 band signatures;
    documents sharing any band bucket become candidates; candidate
    similarity is estimated from full signature agreement.

    Scale: one digest per shingle (not 12) is the dominant CPU saving;
    signature build is one shuffle on doc_id; banding is a narrow
    projection; the bucket self-join shuffles 3 rows/doc on band_sig and
    its output is bounded by real near-dup density (that's the LSH
    point). This is the shape MLlib's MinHashLSH uses — rebuilt on md5
    so the oracle can verify it."""
    doc = load_table(spark, sf_dir, "documents")
    sh = shingle_rows(doc)
    h = F.md5("shingle")
    shh = sh.select(
        "doc_id",
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long").alias("h1"),
        F.conv(F.substring(h, 9, 8), 16, 10).cast("long").alias("h2"),
    )
    sig = shh.groupBy("doc_id").agg(
        *[F.min(F.col("h1") + s * F.col("h2")).alias(f"mh{s}") for s in range(N_HASHES)]
    )
    band_cols = [
        F.md5(F.concat_ws("|", *[F.col(f"mh{b * 4 + i}") for i in range(4)])).alias(f"band{b}")
        for b in range(N_BANDS)
    ]
    banded = sig.select("doc_id", *band_cols)
    bands = banded.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band_idx"), F.col(f"band{b}").alias("band_sig"))
                    for b in range(N_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band_idx", "bb.band_sig")
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    x = sig.alias("x")
    y = sig.alias("y")
    matches = sum(
        F.when(F.col(f"x.mh{s}") == F.col(f"y.mh{s}"), 1).otherwise(0) for s in range(N_HASHES)
    )
    est = matches.cast("double") / float(N_HASHES)
    return (
        cand.join(x, F.col("doc_a") == F.col("x.doc_id"))
        .join(y, F.col("doc_b") == F.col("y.doc_id"))
        .filter(est >= MINHASH_EST_THRESHOLD)
        .select("doc_a", "doc_b", F.round(est, 6).alias("est_jaccard"))
    )


# ---------------------------------------------------------------------------
# SimHash (60-bit, banded Hamming candidates)
# ---------------------------------------------------------------------------

SIMHASH_BITS = 60
HAMMING_MAX = 3

# Sized banding dial (VERDICT r10 #1, the fixed-bank law applied): each
# config is (corpus-size cap, m bands of 60/m bits). A pair within
# Hamming <= 3 differs in <= 3 bands, so it agrees EXACTLY on >= m-3
# bands (pigeonhole) — joining on every C(m,3) combination of m-3 bands
# is therefore candidate-COMPLETE for any m >= 4, and the exact
# popcount(xor) tail makes the output identical across configs. What
# changes with m is the JOIN-KEY WIDTH W = (m-3)*(60/m): 15 -> 24 -> 30
# -> 42 bits, so the random-pair collision fraction drops
# ~C(m,3)*2^-W: 1.2e-4 -> 6e-7 -> 1.9e-8 -> 2.7e-11. Caps are set so
# expected random candidates stay O(N) (frac * N^2/2 <~ 20N), i.e.
# key width ~ const + log2(N) — the same sizing law the
# dedup_semantic_lsh_sized_bank eval measures for hyperplane LSH. The
# price is C(m,3) signature rows per doc (4/10/20/120): linear, narrow,
# and the only way to keep a 60-bit Hamming-<=3 contract exact at scale.
SIMHASH_SIZED_CONFIGS = (
    (200_000, 4),  # W=15, 4 combos — the original fixture-scale config
    (30_000_000, 5),  # W=24, 10 combos
    (1_000_000_000, 6),  # W=30, 20 combos
    (None, 10),  # W=42, 120 combos — exact to ~1e12 docs
)


def _simhash_bands_for(n_docs: int) -> int:
    for cap, m in SIMHASH_SIZED_CONFIGS:
        if cap is None or n_docs <= cap:
            return m
    raise AssertionError("unreachable: last config is uncapped")


SIMHASH_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), feat AS (
  SELECT doc_id, unnest({shingles_sql('toks')}) AS feature FROM tok
), tokhash AS (
  SELECT doc_id, md5(feature) AS h FROM feat
), bits AS (
  SELECT doc_id, b.bit_idx,
         ((strpos('0123456789abcdef', substr(h, CAST(b.bit_idx // 4 AS INTEGER) + 1, 1)) - 1)
          >> CAST(3 - b.bit_idx % 4 AS INTEGER)) & 1 AS bit
  FROM tokhash, (SELECT unnest(generate_series(0, {SIMHASH_BITS - 1})) AS bit_idx) b
), bitsum AS (
  SELECT doc_id, bit_idx, SUM(2 * bit - 1) AS s FROM bits GROUP BY doc_id, bit_idx
), sim AS (
  SELECT doc_id,
         SUM(CASE WHEN s > 0
                  THEN (CAST(1 AS BIGINT) << CAST({SIMHASH_BITS - 1} - bit_idx AS INTEGER))
                  ELSE 0 END) AS simhash
  FROM bitsum GROUP BY doc_id
), cand AS (
  -- all-pairs reference: the Spark side's banded candidate stage is
  -- pigeonhole-COMPLETE for Hamming <= {HAMMING_MAX} at every sized
  -- config, so its output equals this banding-agnostic ground truth.
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.simhash AS ha, b.simhash AS hb
  FROM sim a JOIN sim b ON a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
FROM cand
WHERE bit_count(xor(ha, hb)) <= {HAMMING_MAX}
"""


def simhash_fingerprints(doc: DataFrame) -> DataFrame:
    """60-bit SimHash fingerprints ``(doc_id, simhash)`` — the
    rung-INDEPENDENT stage of :func:`dedup_simhash` (md5-nibble feature
    bits, per-bit majority vote)."""
    feat = shingle_rows(doc).withColumnRenamed("shingle", "feature")
    tokhash = feat.select("doc_id", F.md5("feature").alias("h"))
    bits = tokhash.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1))).alias("bit_idx"),
        "h",
    ).select(
        "doc_id",
        "bit_idx",
        F.expr(
            "shiftright(instr('0123456789abcdef',"
            " substring(h, cast(bit_idx div 4 as int) + 1, 1)) - 1,"
            " cast(3 - bit_idx % 4 as int)) & 1"
        ).alias("bit"),
    )
    bitsum = bits.groupBy("doc_id", "bit_idx").agg(F.sum(2 * F.col("bit") - 1).alias("s"))
    return bitsum.groupBy("doc_id").agg(
        F.sum(
            F.expr(
                f"case when s > 0 then shiftleft(cast(1 as bigint),"
                f" cast({SIMHASH_BITS - 1} - bit_idx as int)) else cast(0 as bigint) end"
            )
        ).alias("simhash")
    )


def simhash_banded_candidates(sim: DataFrame, m_bands: int) -> DataFrame:
    """Sized multi-band candidate stage of :func:`dedup_simhash`:
    ``(doc_a, doc_b, ha, hb)`` pairs agreeing exactly on at least one
    C(m,3) combination of m-3 of the m bands — pigeonhole-complete for
    Hamming <= HAMMING_MAX at every valid m (see dedup_simhash's
    docstring for the sizing law). Extracted r12 (pure extraction,
    expressions unchanged)."""
    if SIMHASH_BITS % m_bands or m_bands < HAMMING_MAX + 1:
        raise ValueError(f"m_bands must divide {SIMHASH_BITS} and exceed {HAMMING_MAX}")
    width = SIMHASH_BITS // m_bands
    need = m_bands - HAMMING_MAX  # bands that MUST agree within Hamming <= 3
    mask = (1 << width) - 1

    def combo_key_sql(combo: tuple[int, ...]) -> str:
        # pack the selected bands' values into one bigint, band p at
        # bit offset p*width — disjoint ranges, so bitwise OR composes.
        return " | ".join(
            f"shiftleft(shiftright(simhash, {j * width}) & {mask}, {p * width})"
            for p, j in enumerate(combo)
        )

    combos = list(_combinations(range(m_bands), need))
    if len(combos) * need <= 64:
        # small configs (m=4/5/6: <= 60 shift terms): inline one struct
        # per combo — everything stays in whole-stage codegen (measured:
        # m=10's 120x7-term inline variant blows the 64KB generated
        # method and falls back to interpreted projection).
        bands = sim.select(
            "doc_id",
            "simhash",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("band_idx"),
                            F.expr(combo_key_sql(c)).cast("long").alias("band_val"),
                        )
                        for i, c in enumerate(combos)
                    ]
                )
            ).alias("bb"),
        ).select("doc_id", "simhash", "bb.band_idx", "bb.band_val")
    else:
        # large configs (m=10: 120 combos): posexplode a LITERAL
        # array-of-offset-arrays and fold the key with one fixed-size
        # aggregate() lambda — expression size is independent of the
        # combo count, so no codegen blowup; the per-element lambda is
        # a narrow int fold, noise next to the candidate shuffle at the
        # >1e9-doc corpora where this branch engages.
        offsets = F.array(
            *[F.array(*[F.lit(j) for j in c]) for c in combos]
        )
        bands = (
            sim.select(
                "doc_id",
                "simhash",
                F.posexplode(offsets).alias("band_idx", "offs"),
            )
            .select(
                "doc_id",
                "simhash",
                "band_idx",
                F.expr(
                    f"aggregate(sequence(0, size(offs) - 1), cast(0 as bigint),"
                    f" (acc, p) -> acc | shiftleft("
                    f"shiftright(simhash, element_at(offs, p + 1) * {width})"
                    f" & {mask}, p * {width}))"
                ).alias("band_val"),
            )
        )
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("ha"),
            F.col("b.simhash").alias("hb"),
        )
        .distinct()
    )


@register("dedup_simhash", oracle=SIMHASH_ORACLE, tags=("dedup", "llm"))
def dedup_simhash(
    spark: SparkSession, sf_dir: str, *, m_bands: int | None = None
) -> DataFrame:
    """60-bit SimHash near-dup pairs, bit-identical across engines:
    feature (5-token shingle) hash bits are md5 nibbles, the per-bit
    majority vote over each document's shingle set forms the
    fingerprint, and exact popcount(xor) filters to Hamming ≤ 3.

    Candidate stage — SIZED multi-band banding (the fixed-bank law
    APPLIED, VERDICT r10 #1): the corpus count picks m bands of 60/m
    bits from :data:`SIMHASH_SIZED_CONFIGS`; a pair within Hamming ≤ 3
    agrees exactly on ≥ m−3 bands (pigeonhole: 3 differing bits touch
    ≤ 3 bands), so the self-equi-join runs on every C(m,3) combination
    of m−3 bands packed into one ≤45-bit bigint key. COMPLETE for
    distance ≤ 3 at every config — the exact popcount tail makes the
    OUTPUT identical whichever config runs (the oracle is the
    banding-agnostic all-pairs ground truth) — while the join-key width
    W = (m−3)·(60/m) grows 15→24→30→42 bits with the corpus, holding
    the random-pair collision fraction ≈ C(m,3)·2⁻ᵂ at O(1/N) and
    candidates O(N). m=4 reproduces the original fixture-scale plan
    row-for-row; the only added cost at larger m is C(m,3) signature
    rows per doc (4/10/20/120 — narrow, linear).

    Why sized (r10, measured): the fixed 4×15 config admits a constant
    ≈4·2⁻¹⁵ pair fraction — 9.2 s at 10× sf0.1 but 153 s at 100×
    (~190× wall, quadratic candidates; the third measured instance of
    the law the dedup_semantic_lsh_sized_bank eval quantifies for
    hyperplane LSH). r11 re-measured with the dial applied: the 100×
    shard (500k docs) crosses into the m=5/W=24 config and the
    candidate stage returns to output-bounded volume.

    Scale: two shuffles (doc_id for the vote, (combo, key) for
    candidates); the 60× bit explosion and the combo explosion are
    narrow int projections inside whole-stage codegen — no UDFs
    anywhere. The config probe is one count() on the documents scan
    (metadata-cheap), the same bounded driver scalar the iterative
    operators use. ``m_bands`` overrides the sizing probe (tests pin
    each config on the fixture corpus and assert config-invariance)."""
    doc = load_table(spark, sf_dir, "documents")
    if m_bands is None:
        # footer-metadata probe (r13): the sizing scalar comes from the
        # parquet footers' num_rows, not a Spark count() job — same
        # number, one less job per run (session.parquet_num_rows).
        m_bands = _simhash_bands_for(parquet_num_rows(sf_dir, "documents"))
    sim = simhash_fingerprints(doc)
    cand = simhash_banded_candidates(sim, m_bands)
    hamming = F.expr("bit_count(ha ^ hb)")
    return cand.filter(hamming <= HAMMING_MAX).select(
        "doc_a", "doc_b", hamming.cast("long").alias("hamming")
    )


# ---------------------------------------------------------------------------
# Connected components over near-dup pairs (dedup canonicalization)
# ---------------------------------------------------------------------------

COMPONENTS_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), sh AS (
  SELECT doc_id, unnest({shingles_sql('toks')}) AS shingle FROM tok
), sizes AS (
  SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id
), hot AS (
  -- r11: the pair stage consumes the capped dedup_ngram_jaccard, so
  -- the closure mirrors NGRAM_MAX_DF (caught by the skew sweep:
  -- consumer capped, oracle not — divergent only on Zipf-head corpora)
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
  -- transitive closure; fine at oracle scale, the Spark side uses
  -- iterative label propagation instead
  WITH RECURSIVE r(u, v) AS (
    SELECT u, v FROM sym
    UNION
    SELECT r.u, s.v FROM r JOIN sym s ON r.v = s.u
  )
  SELECT * FROM r
)
SELECT u AS doc_id, MIN(v) AS component_id
FROM reach GROUP BY u
"""


_COMPONENTS_MAX_ROUNDS = 20


@register("dedup_components", oracle=COMPONENTS_ORACLE, tags=("dedup", "llm", "iterative"))
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the near-dup pair graph — the
    canonicalization step that turns pairwise matches into dedup
    clusters (every doc labeled with the smallest doc_id it is
    transitively similar to).

    Spark-side algorithm: iterative min-label propagation — each round
    joins current labels across a self-looped adjacency and takes the
    per-node min (self-loops make "min of own and neighbors" ONE join +
    one combinable aggregate), stopping when the labels checksum stops
    changing (the only driver-side values are two scalars per round).
    Rounds needed =
    graph diameter ≤ O(log n) for near-dup clusters, each round one
    shuffle-join — the standard scalable formulation (GraphX/GraphFrames
    use the same shape); the oracle's recursive-CTE transitive closure
    would be O(n·paths) and is viable only at oracle scale.

    localCheckpoint() per round truncates the exponentially growing
    lineage (iterative DataFrame algorithms re-plan the whole history
    otherwise)."""
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    return min_label_components(pairs)


def min_label_components(pairs: DataFrame) -> DataFrame:
    """Iterative min-label propagation over an undirected ``(doc_a,
    doc_b)`` pair frame → ``(doc_id, component_id)`` for every vertex
    that appears in at least one pair (component_id = smallest
    transitively-connected doc_id). See :func:`dedup_components` for
    the algorithmic/scale discussion; extracted so pipeline
    compositions (operators/pipeline.py) can canonicalize their own
    candidate graphs."""
    # Cut lineage on the INPUT once: every propagation round references
    # the pair frame through edges/verts, and each round runs an eager
    # checkpoint job (which also carries the convergence probe via
    # observe) — without this cut the upstream candidate-generation
    # plan (for the semantic caller, a quadratic cosine scan)
    # re-executes per round (measured: the sf0.1 semantic-dedup run
    # went from tens of minutes to seconds). Skip when the caller
    # already pinned the frame to share it across consumers
    # (graph_components_modularity): re-pinning a bare LogicalRDD leaf
    # is a redundant second block copy — and in reliable mode a
    # duplicate checkpoint-store write (ADVICE r08).
    if not is_pinned(pairs):
        pairs = pairs.transform(pin)
    # vertices that participate in at least one near-dup pair
    verts = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    # adjacency WITH self-loops, built once: with (n, n) rows present,
    # each round's least(own_label, min neighbor label) is just the
    # min over adj of the dst labels — one join + one combinable
    # aggregate per round, where the self-loop-free shape needed a
    # second join of the labels frame against the per-node minima
    # (plus a null-coalesce for isolated-in-round nodes).
    # Eagerly pinned WITH an observed row count (r13, ADVICE r12): each
    # round's join shuffles BOTH the shrinking labels frame (~V rows)
    # and this fixed adjacency frame (2E+V rows); sizing rounds from
    # the label count alone under-partitions dense graphs (E ≫ V) by
    # ~E/V, far past the 262k-rows/task design grain. The adjacency
    # count is known once — observe it on the pin the loop needed
    # anyway (the eager pin splits adj materialization out of round 1's
    # job; the work is identical).
    adj, madj = pin_eager_observed(
        pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .unionByName(pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v")))
        .unionByName(
            verts.select(F.col("doc_id").alias("u"), F.col("doc_id").alias("v"))
        ),
        [F.count(F.lit(1)).alias("n")],
    )
    adj_n = madj["n"] or 0
    labels = verts.select("doc_id", F.col("doc_id").alias("component_id"))
    # Convergence = the labels checksum stops changing (the star loop's
    # count + order-independent bit_xor-of-xxhash64 signature — labels
    # only ever decrease, so an unchanged checksum means a fixed point
    # up to the same astronomically-unlikely xor collision the star
    # signature already accepts). prev=None forces the first round.
    prev = None
    converged = False
    # Shuffle sizing from the observed adjacency count: each round's
    # join shuffles the labels frame (V rows) and the adjacency (2E+V
    # ≥ V rows), so adj_n is the larger side in EVERY round, round 1
    # included. Restored in the finally.
    spark = pairs.sparkSession
    saved_parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(loop_shuffle_partitions(adj_n)))
        for _ in range(_COMPONENTS_MAX_ROUNDS):
            # one job per round, one join + one aggregate: the convergence
            # checksum rides the pin's own materialization job via observe.
            labels, m = pin_eager_observed(
                adj.join(labels, adj.v == labels.doc_id)
                .groupBy(F.col("u").alias("doc_id"))
                .agg(F.min("component_id").alias("component_id")),
                [
                    F.count(F.lit(1)).alias("n"),
                    F.expr("bit_xor(xxhash64(doc_id, component_id))").alias("h"),
                ],
            )
            cur = (m["n"], m["h"])
            if cur == prev:
                converged = True
                break
            prev = cur
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved_parts)
    if not converged:
        # Silently returning partial labels would mis-cluster long
        # chains with no signal; fail loudly instead.
        raise RuntimeError(
            f"dedup_components: min-label propagation did not converge in "
            f"{_COMPONENTS_MAX_ROUNDS} rounds (component diameter exceeds bound); "
            f"raise _COMPONENTS_MAX_ROUNDS or use star-contraction for such graphs"
        )
    return labels

COSINE_NEARDUP_THRESHOLD = 0.4  # synthetic embeddings are near-random (max ≈ 0.51)

EMB_COSINE_ORACLE = f"""
WITH e AS (
  SELECT vec_id, embedding FROM embeddings
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       ROUND({cosine_sql('a.embedding', 'b.embedding')}, 6) AS cos_sim
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE ROUND({cosine_sql('a.embedding', 'b.embedding')}, 6) >= {COSINE_NEARDUP_THRESHOLD}
"""


@register("dedup_embedding_cosine", oracle=EMB_COSINE_ORACLE, tags=("dedup", "llm"))
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs above a threshold. Brute-force
    O(n²) pair generation is acceptable at oracle scale and is the
    textbook baseline — it exists so the bucketed scale path has an
    exact recall reference; the REGISTERED 100 TB formulation is
    :func:`dedup_semantic_components_lsh` /
    :func:`semantic_lsh_candidate_pairs` (banded random-hyperplane
    buckets, equi-join candidates, recall-gated against this query).
    Threshold filters on the ROUNDED value in both engines so the
    boundary decision is identical. Zero-norm and NULL vectors have no
    cosine and sit out (``functions.vectors.live``)."""
    emb = live(
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id", as_double("embedding").alias("v")
        )
    )
    a = emb.alias("a")
    b = emb.alias("b")
    cos = pair_cos("a.v", "b.v", "a.nrm", "b.nrm")
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            cos.alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= COSINE_NEARDUP_THRESHOLD)
    )


CONTAINMENT_THRESHOLD = 0.5

CONTAINMENT_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), sh AS (
  SELECT doc_id, unnest({shingles_sql('toks')}) AS shingle FROM tok
), sizes AS (
  SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id
), hot AS (
  SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) > {NGRAM_MAX_DF}
), idx AS (
  SELECT doc_id, shingle FROM sh
  WHERE shingle NOT IN (SELECT shingle FROM hot)
), cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM idx a JOIN idx b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       ROUND(CAST(n_common AS DOUBLE) / sa.sz, 6) AS containment
FROM cand JOIN sizes sa ON doc_a = sa.doc_id
WHERE CAST(n_common AS DOUBLE) / sa.sz >= {CONTAINMENT_THRESHOLD}
"""


@register("dedup_containment_ngram", oracle=CONTAINMENT_ORACLE, tags=("dedup", "llm"))
def dedup_containment_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC shingle containment |A∩B| / |A| — catches a document
    embedded inside a larger one (quote-expansion, boilerplate
    wrapping), which symmetric Jaccard dilutes below threshold as the
    container grows. Same inverted-index candidate generation as
    dedup_ngram_jaccard (pairs must share ≥1 shingle — candidate count
    is data-bounded, never O(n²)); ordered pairs, normalized by the
    CONTAINED side only. The registered default applies the
    :data:`NGRAM_MAX_DF` hot-shingle cap (r11, skew-lab class — same
    rationale and oracle mirror as dedup_ngram_jaccard; inactive on the
    driver corpora, max df 4). Overlap is symmetric: each ``a < b`` pair
    is joined once, then emitted in both directions."""
    sh = shingle_keys(load_table(spark, sf_dir, "documents"))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    cand = shingle_overlap(sh).select(
        F.inline(
            F.array(
                F.struct("doc_a", "doc_b", "n_common"),
                F.struct(
                    F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"), "n_common"
                ),
            )
        )
    )
    return (
        cand.join(sizes.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("n_common").cast("double") / F.col("sz"), 6).alias("containment"),
        )
        .filter(F.col("n_common").cast("double") / F.col("sz") >= CONTAINMENT_THRESHOLD)
    )


# ---------------------------------------------------------------------------
# Incremental (new-batch vs corpus) near-dup screening
# ---------------------------------------------------------------------------

INC_CORPUS_PCT = 80  # md5(doc_id) bucket < 80 plays the "existing corpus"
INC_THRESHOLD = JACCARD_THRESHOLD


def _incremental_oracle() -> str:
    from .sampling import _bucket_sql

    b = _bucket_sql("doc_id")
    return f"""
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS toks, {b} AS bkt FROM documents
), csh AS (
  SELECT doc_id, unnest({shingles_sql('toks')}) AS shingle
  FROM tok WHERE bkt < {INC_CORPUS_PCT}
), bsh AS (
  SELECT doc_id, unnest({shingles_sql('toks')}) AS shingle
  FROM tok WHERE bkt >= {INC_CORPUS_PCT}
), csz AS (SELECT doc_id, COUNT(*) AS sz FROM csh GROUP BY doc_id),
bsz AS (SELECT doc_id, COUNT(*) AS sz FROM bsh GROUP BY doc_id),
hot AS (
  -- hot-shingle cap, CORPUS-side df (mirrors incremental_dedup_frame)
  SELECT shingle FROM csh GROUP BY shingle HAVING COUNT(*) > {NGRAM_MAX_DF}
),
cand AS (
  SELECT b.doc_id AS new_id, c.doc_id AS corpus_id, COUNT(*) AS n_common
  FROM bsh b JOIN csh c ON b.shingle = c.shingle
  WHERE b.shingle NOT IN (SELECT shingle FROM hot)
  GROUP BY 1, 2
), scored AS (
  SELECT new_id, corpus_id,
         ROUND(CAST(n_common AS DOUBLE)
               / CAST(bs.sz + cs.sz - n_common AS DOUBLE), 6) AS jaccard
  FROM cand
  JOIN bsz bs ON new_id = bs.doc_id
  JOIN csz cs ON corpus_id = cs.doc_id
), best AS (
  SELECT new_id, corpus_id, jaccard,
         ROW_NUMBER() OVER (PARTITION BY new_id
                            ORDER BY jaccard DESC, corpus_id) AS rnk
  FROM scored WHERE jaccard >= {INC_THRESHOLD}
)
SELECT t.doc_id,
       CASE WHEN best.corpus_id IS NULL THEN 'new' ELSE 'dup' END AS status,
       best.corpus_id AS match_doc_id,
       best.jaccard
FROM tok t
LEFT JOIN best ON t.doc_id = best.new_id AND best.rnk = 1
WHERE t.bkt >= {INC_CORPUS_PCT}
"""


def incremental_dedup_frame(doc: DataFrame, max_df: int = NGRAM_MAX_DF) -> DataFrame:
    """Core of dedup_incremental over an arbitrary ``(doc_id, text)``
    frame: the batch's shingle keys probe the corpus index through
    :func:`shingle_overlap`, so ``max_df`` caps on CORPUS document
    frequency and drops hot keys from both sides."""
    from .sampling import hash_bucket

    b = hash_bucket("doc_id")
    batch = doc.filter(b >= INC_CORPUS_PCT)

    # ONE scan + ONE dedup shuffle for the whole corpus∪batch shingle
    # set, branched afterwards by the precomputed membership flag —
    # versus shingling/dedup-ing the two sides separately (two scans,
    # two shuffles). At real scale the corpus index is a materialized
    # table and only the batch side is computed per run.
    sh_all = (
        shingle_keys(doc)
        .withColumn("_is_batch", hash_bucket("doc_id") >= INC_CORPUS_PCT)
        # NOTE: measured A/B at sf0.1 — cutting lineage here with
        # localCheckpoint is ~10% SLOWER than recomputing (block-writing
        # the multi-million-row shingle set costs more than the re-scan;
        # the derived frame is big, unlike the 15-row frames checkpointed
        # elsewhere). At real scale the corpus index is a materialized
        # TABLE, not an in-job cache — see docstring.
    )
    csh = sh_all.filter(~F.col("_is_batch")).drop("_is_batch")
    bsh = sh_all.filter(F.col("_is_batch")).drop("_is_batch")
    # ONE set-size aggregation over the whole shingle set, branched by
    # the (deterministic, doc_id-derived) membership flag AFTER the agg
    # (r12): per-side groupBys put the filters below the aggregates, so
    # the two subtrees shared nothing and the shingle set was
    # aggregated twice through two exchanges. max(_is_batch) is exact —
    # the flag is a function of the grouping key, constant within every
    # group. PINNED (r13, VERDICT r12 item 2): without the pin the two
    # branch filters duplicate the whole fused-agg subtree — the
    # executed adaptive plan shows ZERO ReusedExchange (AQE stage reuse
    # never fired here), so the r12 fold was aggregating the FULL
    # shingle set once per branch, i.e. strictly more work than the
    # per-side shape it replaced. The pinned frame is one narrow row
    # per document (sizes, not shingles — cheap at any scale); with it
    # the executed plan drops 18 → 14 exchanges and 7 → 5 parquet
    # scans, and the sizes pass over the shingle set runs exactly once
    # (interleaved A/B, r13: parity OK on all variants, best-of-4 fused
    # 1.054 / pinned 1.120 / per-side 1.163 s — locally noise-level,
    # structurally one full-set pass instead of two).
    sizes_all = sh_all.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("sz"), F.max("_is_batch").alias("_is_batch")
    ).transform(pin)
    csz = sizes_all.filter(~F.col("_is_batch")).select(
        "doc_id", F.col("sz").alias("c_sz")
    )
    bsz = sizes_all.filter(F.col("_is_batch")).select(
        "doc_id", F.col("sz").alias("b_sz")
    )
    cand = shingle_overlap(csh, probe=bsh, max_df=max_df).select(
        F.col("doc_a").alias("new_id"), F.col("doc_b").alias("corpus_id"), "n_common"
    )
    jac = F.col("n_common").cast("double") / (
        F.col("b_sz") + F.col("c_sz") - F.col("n_common")
    ).cast("double")
    scored = (
        cand.join(bsz.withColumnRenamed("doc_id", "new_id"), "new_id")
        .join(csz.withColumnRenamed("doc_id", "corpus_id"), "corpus_id")
        .select("new_id", "corpus_id", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= INC_THRESHOLD)
    )
    # best match per new doc as a partial-aggregable min(struct) — same
    # (jaccard DESC, corpus_id ASC) total order as the row_number window
    # it replaces (the sim_topk_pq rewrite, reused): map-side combine
    # instead of a per-key sort, and no WindowExec in the plan.
    best = scored.groupBy("new_id").agg(
        F.min(
            F.struct(
                (-F.col("jaccard")).alias("nj"),
                F.col("corpus_id").alias("corpus_id"),
                F.col("jaccard").alias("jaccard"),
            )
        ).alias("b")
    ).select(
        "new_id",
        F.col("b.corpus_id").alias("corpus_id"),
        F.col("b.jaccard").alias("jaccard"),
    )
    return (
        batch.select("doc_id")
        .join(best, F.col("doc_id") == F.col("new_id"), "left")
        .select(
            "doc_id",
            F.when(F.col("corpus_id").isNull(), "new").otherwise("dup").alias("status"),
            F.col("corpus_id").alias("match_doc_id"),
            "jaccard",
        )
    )


@register("dedup_incremental", oracle=_incremental_oracle(), tags=("dedup", "llm", "bench"))
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup screening: a NEW BATCH of documents probed
    against an EXISTING CORPUS (here: an md5-bucket 20/80 split of
    ``documents``, the same deterministic split rule as
    sample_split_hash). Each new doc is admitted ('new') or rejected
    ('dup', with its best-matching corpus doc and exact Jaccard).

    This is the shape a daily ingest actually runs — batch ≪ corpus —
    and it is NOT a self-join: the batch's hashed shingles probe the
    corpus inverted index (8-byte keys), so work scales with
    |batch shingles| x avg shingle df, independent of corpus pair
    count. The registered default applies the :data:`NGRAM_MAX_DF`
    hot-shingle cap (r11, skew-lab finding: the uncapped probe went
    1.47× wall on the hot-phrase shard for identical output; corpus-side
    df, both sides filtered, oracle mirrored — inactive on the driver
    corpora whose max df is 4, so recorded hashes stand; also tested in
    tests/test_llm_ops.py). Best match = (rounded jaccard DESC,
    corpus_id) — a total order shared with the oracle."""
    return incremental_dedup_frame(load_table(spark, sf_dir, "documents"))


APPLY_REPS_ORACLE = f"""
WITH comp AS ({COMPONENTS_ORACLE})
SELECT d.doc_id,
       COALESCE(c.component_id, d.doc_id) AS rep_id,
       (c.component_id IS NULL OR c.component_id = d.doc_id) AS keep
FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
"""


@register("dedup_apply_representatives", oracle=APPLY_REPS_ORACLE, tags=("dedup", "llm"))
def dedup_apply_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY step of the dedup family: turn cluster labels into the
    deduplicated corpus decision — every document gets its canonical
    representative (the cluster's min doc_id; itself when unclustered)
    and a ``keep`` flag that is true for exactly one doc per near-dup
    cluster. Detection without this step never shrinks the corpus;
    ``df.filter("keep")`` IS the training set.

    Scale: one left join of the corpus to the (much smaller) label
    frame on doc_id — near-dup labels cover only documents that
    appeared in a candidate pair, so the join's build side is sparse;
    everything upstream inherits the bucketed inverted-index shape of
    dedup_ngram_jaccard/dedup_components."""
    doc = load_table(spark, sf_dir, "documents").select("doc_id")
    labels = dedup_components(spark, sf_dir)
    return doc.join(labels.withColumnRenamed("doc_id", "l_doc_id"),
                    doc.doc_id == F.col("l_doc_id"), "left").select(
        "doc_id",
        F.coalesce("component_id", "doc_id").alias("rep_id"),
        (
            F.col("component_id").isNull()
            | (F.col("component_id") == F.col("doc_id"))
        ).alias("keep"),
    )


NORMALIZED_EXACT_ORACLE = """
SELECT md5(lower(trim(regexp_replace(text, '[ ]+', ' ', 'g')))) AS norm_md5,
       MIN(doc_id) AS canonical_doc_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY 1
"""


@register("dedup_exact_normalized", oracle=NORMALIZED_EXACT_ORACLE, tags=("dedup", "llm"))
def dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized exact dedup: collapse whitespace runs, trim, and
    lowercase BEFORE hashing — catches the trivially-reformatted copies
    (double spaces, case changes) that byte-exact dedup_exact misses
    but that don't merit shingle machinery; production pipelines
    (Dolma-style) run this between exact and near-dup passes. Same
    one-shuffle hash-groupBy shape as dedup_exact at any scale."""
    doc = load_table(spark, sf_dir, "documents")
    norm = F.lower(F.trim(F.regexp_replace("text", "[ ]+", " ")))
    return doc.groupBy(F.md5(norm).alias("norm_md5")).agg(
        F.min("doc_id").alias("canonical_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


# ---------------------------------------------------------------------------
# MinHash estimate quality: estimated vs exact Jaccard per candidate.
# ---------------------------------------------------------------------------


def _minhash_eval_oracle() -> str:
    return f"""
WITH mh AS ({MINHASH_ORACLE}),
tok AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), sh AS (
  SELECT doc_id, unnest({shingles_sql('toks')}) AS shingle FROM tok
), sizes AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM sh GROUP BY 1
), common AS (
  SELECT m.doc_a, m.doc_b, CAST(COUNT(*) AS BIGINT) AS n_common
  FROM mh m
  JOIN sh a ON a.doc_id = m.doc_a
  JOIN sh b ON b.doc_id = m.doc_b AND b.shingle = a.shingle
  GROUP BY 1, 2
)
SELECT m.doc_a, m.doc_b, m.est_jaccard,
       ROUND(CAST(COALESCE(c.n_common, 0) AS DOUBLE)
             / (sa.sz + sb.sz - COALESCE(c.n_common, 0)), 6) AS exact_jaccard,
       abs(CAST(ROUND(m.est_jaccard * 1000000) AS BIGINT)
           - CAST(ROUND(CAST(COALESCE(c.n_common, 0) AS DOUBLE)
                        / (sa.sz + sb.sz - COALESCE(c.n_common, 0)) * 1000000) AS BIGINT))
         AS abs_err_e6
FROM mh m
LEFT JOIN common c ON m.doc_a = c.doc_a AND m.doc_b = c.doc_b
JOIN sizes sa ON m.doc_a = sa.doc_id
JOIN sizes sb ON m.doc_b = sb.doc_id
"""


@register("dedup_minhash_eval", oracle=_minhash_eval_oracle(), tags=("dedup", "llm"))
def dedup_minhash_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-quality eval for the MinHash pipeline: for every LSH
    candidate pair, the 12-hash Jaccard ESTIMATE next to the EXACT
    shingle Jaccard and their ×1e6 absolute error — the measurement
    that justifies (or indicts) the sketch size before anyone trusts
    dedup decisions to it (12 hashes ⇒ σ ≈ 0.14 at J=0.5; pairs
    outside ~3σ mean the signature build is broken, which is exactly
    what this query would catch). Exact Jaccard is computed ONLY for
    the candidate pairs — an index probe keyed by the pair's own
    shingles, never the all-pairs exact job."""
    doc = load_table(spark, sf_dir, "documents")
    cand = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b", "est_jaccard")
    sh = shingle_keys(doc)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    common = (
        cand.join(sh.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .join(
            sh.select(F.col("doc_id").alias("db"), F.col("sh_key").alias("kb")),
            (F.col("doc_b") == F.col("db")) & (F.col("sh_key") == F.col("kb")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    ja = F.coalesce(F.col("n_common"), F.lit(0)).cast("double") / (
        F.col("sza") + F.col("szb") - F.coalesce(F.col("n_common"), F.lit(0))
    )
    return (
        cand.join(common, ["doc_a", "doc_b"], "left")
        .join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sza")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("szb")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "est_jaccard",
            F.round(ja, 6).alias("exact_jaccard"),
            F.abs(
                F.round(F.col("est_jaccard") * 1_000_000).cast("long")
                - F.round(ja * 1_000_000).cast("long")
            ).alias("abs_err_e6"),
        )
    )


# ---------------------------------------------------------------------------
# Near-dup cluster-size histogram (dedup planning).
# ---------------------------------------------------------------------------


def _cluster_sizes_oracle() -> str:
    return f"""
WITH comp AS ({COMPONENTS_ORACLE})
SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs
FROM (
  SELECT CAST(COUNT(*) AS BIGINT) AS cluster_size FROM comp GROUP BY component_id
)
GROUP BY 1
"""


@register("dedup_cluster_sizes", oracle=_cluster_sizes_oracle(), tags=("dedup", "llm", "iterative"))
def dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-size histogram of the near-dup components — the dedup
    PLANNING number: how many docs sit in clusters of each size decides
    the dedup yield (docs − clusters = removals) and flags pathological
    mega-clusters (one boilerplate family swallowing the corpus ⇒
    tighten the threshold or max_df before deduping). Two tiny
    aggregates over the component labels; inherits the iterative
    min-label propagation and its oracle's recursive closure."""
    comp = dedup_components(spark, sf_dir)
    sizes = comp.groupBy("component_id").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        (F.col("cluster_size") * F.count(F.lit(1))).cast("long").alias("n_docs"),
    )


# ---------------------------------------------------------------------------
# Dedup yield in TOKENS (training-budget impact).
# ---------------------------------------------------------------------------


def _dedup_yield_oracle() -> str:
    return f"""
WITH comp AS ({COMPONENTS_ORACLE}),
tok AS (
  SELECT doc_id, CAST(len(list_filter(string_split(text, ' '), t -> t <> ''))
                      AS BIGINT) AS n_tok
  FROM documents
), flagged AS (
  SELECT t.doc_id, t.n_tok,
         CASE WHEN c.component_id IS NOT NULL AND c.component_id <> t.doc_id
              THEN 1 ELSE 0 END AS removed
  FROM tok t LEFT JOIN comp c ON t.doc_id = c.doc_id
)
SELECT CAST(SUM(removed) AS BIGINT) AS n_docs_removed,
       CAST(SUM(CASE WHEN removed = 1 THEN n_tok ELSE 0 END) AS BIGINT)
         AS tokens_removed,
       CAST(SUM(CASE WHEN removed = 0 THEN n_tok ELSE 0 END) AS BIGINT)
         AS tokens_kept
FROM flagged
"""


@register("dedup_token_yield", oracle=_dedup_yield_oracle(), tags=("dedup", "llm"))
def dedup_token_yield(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup yield measured in TOKENS, not documents: canonical-keep
    (doc survives iff it IS its component's min-id representative),
    summed token counts for removed vs kept — the number a training
    budget actually turns on (removing 10% of docs that hold 40% of
    tokens is a very different decision). One left join of per-doc
    token counts against the component labels; inherits the iterative
    propagation and its recursive-closure oracle."""
    comp = dedup_components(spark, sf_dir)
    doc = load_table(spark, sf_dir, "documents")
    tok = doc.select(
        "doc_id",
        F.size(F.filter(tokens("text"), lambda t: t != "")).cast("long").alias("n_tok"),
    )
    flagged = tok.join(comp, "doc_id", "left").select(
        "n_tok",
        F.when(
            F.col("component_id").isNotNull()
            & (F.col("component_id") != F.col("doc_id")),
            1,
        )
        .otherwise(0)
        .alias("removed"),
    )
    return flagged.agg(
        F.sum("removed").cast("long").alias("n_docs_removed"),
        F.sum(F.when(F.col("removed") == 1, F.col("n_tok")).otherwise(0))
        .cast("long")
        .alias("tokens_removed"),
        F.sum(F.when(F.col("removed") == 0, F.col("n_tok")).otherwise(0))
        .cast("long")
        .alias("tokens_kept"),
    )


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup shape): cosine graph -> components -> keep flags
# ---------------------------------------------------------------------------

SEMANTIC_DEDUP_ORACLE = f"""
WITH pairs AS ({EMB_COSINE_ORACLE}),
sym AS (
  SELECT vec_a AS u, vec_b AS v FROM pairs
  UNION SELECT vec_b, vec_a FROM pairs
  UNION SELECT vec_a, vec_a FROM pairs
  UNION SELECT vec_b, vec_b FROM pairs
), reach AS (
  WITH RECURSIVE r(u, v) AS (
    SELECT u, v FROM sym
    UNION
    SELECT r.u, s.v FROM r JOIN sym s ON r.v = s.u
  )
  SELECT * FROM r
), comp AS (
  SELECT u AS vec_id, MIN(v) AS component_id FROM reach GROUP BY u
)
SELECT e.vec_id,
       COALESCE(c.component_id, e.vec_id) AS component_id,
       (COALESCE(c.component_id, e.vec_id) = e.vec_id) AS keep
FROM embeddings e LEFT JOIN comp c ON e.vec_id = c.vec_id
"""


@register(
    "dedup_semantic_components",
    oracle=SEMANTIC_DEDUP_ORACLE,
    tags=("dedup", "llm", "iterative", "embedding"),
)
def dedup_semantic_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic deduplication, SemDeDup-shaped: build the cosine
    near-dup graph over EMBEDDINGS (meaning-level duplicates that share
    no n-grams — the class every lexical dedup in this engine misses),
    collapse it to connected components by alternating star
    contraction, and emit every vector with its cluster canonical and a
    keep flag true for exactly one member per cluster.
    ``filter(keep)`` IS the semantically deduplicated corpus — the same
    apply-step interface as dedup_apply_representatives, so lexical and
    semantic dedup compose interchangeably in a curation chain.

    Scale: the pair stage here is the oracle-checkable brute-force
    baseline, kept as the exact reference the scale path's recall gate
    measures against; the REGISTERED 100 TB variant is
    :func:`dedup_semantic_components_lsh`, which swaps in banded
    hyperplane-bucketed candidates (equi-join, no all-pairs scan) and
    shares this exact downstream — components and keep flags consume
    only the pair frame and are bounded by near-dup density, not corpus
    size. The components tail is star contraction rather than
    min-label propagation: O(log n) rounds on ANY pair-graph shape
    (near-threshold similarity graphs DO contain long chains — the
    sf0.1 fixture's needs 11+ propagation rounds) and measured 35%
    faster on that fixture (6.7 s vs 10.3 s). Output contract is
    identical (equality asserted in tests; the recursive-closure
    oracle is algorithm-independent). The oracle replays the full
    chain including the recursive closure."""
    pairs = dedup_embedding_cosine(spark, sf_dir).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    comp = star_contraction_components(pairs).select(
        F.col("doc_id").alias("vec_id"), "component_id"
    )
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id")
    return emb.join(comp, "vec_id", "left").select(
        "vec_id",
        F.coalesce("component_id", "vec_id").alias("component_id"),
        (F.coalesce("component_id", "vec_id") == F.col("vec_id")).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Star-contraction connected components (large-star / small-star)
# ---------------------------------------------------------------------------

# Failsafe only — the loop breaks on the first converged alternation, so
# the cap never adds work; it exists to fail loudly instead of spinning.
# Star contraction needs O(log2 n) alternations on ANY graph shape, so 48
# covers components of up to ~2^48 vertices — beyond any 100 TB corpus —
# where the old cap of 15 would have raised on a (pathological but legal)
# ~100k-vertex near-dup chain.
_STAR_MAX_ROUNDS = 48


def star_contraction_components(pairs: DataFrame) -> DataFrame:
    """Connected components by alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond") over an undirected ``(doc_a, doc_b)`` pair frame —
    ``(doc_id, component_id)`` with component_id = the component's
    smallest doc_id, exactly :func:`min_label_components`' contract.

    Why a second algorithm: min-label propagation needs O(diameter)
    rounds — a long near-dup CHAIN (each doc similar only to its
    neighbors) needs as many joins as the chain is long. Star
    contraction halves potentials every alternation and converges in
    O(log n) rounds on ANY graph shape, which is why it is the
    canonical trillion-edge CC algorithm. Each half-round:

    - large-star: for every node u with neighborhood N(u), attach each
      neighbor v > u to m = min({u} ∪ N(u));
    - small-star: attach each neighbor v ≤ u (and u itself) to m.

    Both are ONE linear pass over the (shrinking) edge list: explode
    the two directions of each edge (a single reference to the input —
    no self-union), attach each node's min via a partition-wide window
    aggregate (one shuffle; no per-node frame joined back), and emit
    the kept (v, m) half plus the per-row (u, m) half through one
    conditional explode into the closing distinct, which dedups the
    per-row (u, m) copies. No neighborhood is ever materialized as an
    array row, so a hub node with millions of neighbors costs one
    sorted partition scan, not one unbounded collect_set row (the
    skew-OOM shape). Because each half-round references its input
    exactly once, a full round is a single linear plan needing ONE
    eager pin (at the small-star output, where the convergence metrics
    ride via observe) instead of the former per-half-round barrier +
    self-join shape — bit-identical output, locally timing-neutral
    (interleaved sf0.1 A/B on the LSH flagship: 7.17/7.22 vs
    6.99/7.24 s), kept because it halves the corpus-scale edge blocks
    written to the pin store per round and drops the self-join's
    second shuffle of the symmetric edge list. Convergence = the
    canonical edge
    set stops changing (count + order-independent bit_xor-of-xxhash64
    checksum — two driver scalars per round, like the propagation
    loop's change count). Equality with min_label_components on the
    same pair graph is asserted in tests; the registry entry shares
    the recursive-CTE oracle."""
    def sig_metrics():
        # order-independent (count, bit_xor-of-xxhash64) edge-set
        # checksum, collected DURING each pin's materialization job via
        # observe — the old agg(...).first() probe was a third job per
        # round re-reading the just-pinned edge blocks.
        return [
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ]

    pairs = pairs.transform(pin)
    edges, m = pin_eager_observed(
        pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
        .distinct(),
        sig_metrics(),
    )

    def star(e: DataFrame, large: bool) -> DataFrame:
        # ONE linear pass, ONE reference to e: explode both directions
        # of each edge (no self-union), per-node min via a
        # partition-wide window aggregate (no per-node frame joined
        # back — the join's shuffle-by-u is exactly the window's, minus
        # a second pass over sym), then one conditional explode emits
        # the kept (v, m) half plus a per-row (u, m) copy that the
        # closing distinct dedups (the old shape emitted (u, m) once
        # per node from the mins frame; same set either way). A hub
        # node is one sorted partition scan, never a collect_set row.
        sym = e.select(
            F.explode(
                F.array(
                    F.struct(F.col("u").alias("u"), F.col("v").alias("v")),
                    F.struct(F.col("v").alias("u"), F.col("u").alias("v")),
                )
            ).alias("s")
        ).select("s.u", "s.v")
        x = sym.withColumn(
            "m", F.min(F.least("u", "v")).over(W.partitionBy("u"))
        )
        keep = F.col("v") > F.col("u") if large else F.col("v") <= F.col("u")
        um = F.struct(F.col("u").alias("a"), F.col("m").alias("b"))
        vm = F.struct(F.col("v").alias("a"), F.col("m").alias("b"))
        return (
            x.select(
                F.explode(
                    F.when(keep, F.array(vm, um)).otherwise(F.array(um))
                ).alias("p")
            )
            .select("p.a", "p.b")
            .filter(F.col("a") != F.col("b"))
            .select(F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v"))
            .distinct()
        )

    prev = (m["n"], m["h"])
    converged = False
    # Per-round shuffle sizing (r12): each round's job shuffles only the
    # loop's own (shrinking) edge frame, whose row count the previous
    # pin's observe metrics already report — size the round's exchanges
    # from it instead of the session's corpus-scale default (measured
    # 5.6 s → 2.7-3.1 s for the whole loop at sf0.1; output
    # checksum-identical). Restored in the finally even on a
    # non-converging raise; the loop is driver-sequential, so the
    # session-level set cannot leak into a concurrent query here.
    spark = edges.sparkSession
    saved_parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for _ in range(_STAR_MAX_ROUNDS):
            # ONE pin per full round: each half-round references its input
            # exactly once, so the large-star output needs no barrier of
            # its own — the whole round is a single linear job whose
            # convergence metrics ride the pin via observe. (The former
            # shape's per-half-round checkpoint was itself measured against
            # a no-barrier variant — 20.4 s vs 11.2 s — but that variant
            # kept the self-join whose double reference re-executed the
            # large-star plan; the one-reference rewrite removes the reason
            # the barrier existed. Interleaved sf0.1 flagship A/B:
            # timing-neutral locally; kept for the halved pin volume and
            # removed join shuffle. A 2-rounds-per-pin batching was also
            # measured r12 and REJECTED: 3.5 vs 2.6 s at the sized
            # partition counts — the doubled per-pin plan costs more than
            # the saved pin/job overhead.)
            spark.conf.set(
                "spark.sql.shuffle.partitions",
                str(loop_shuffle_partitions(prev[0] or 0)),
            )
            edges, m = pin_eager_observed(
                star(star(edges, large=True), large=False), sig_metrics()
            )
            cur = (m["n"], m["h"])
            if cur == prev:
                converged = True
                break
            prev = cur
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved_parts)
    if not converged:
        raise RuntimeError(
            f"star_contraction_components: no fixed point in "
            f"{_STAR_MAX_ROUNDS} alternations"
        )
    # at the fixed point every edge is (root, member); label roots too
    members = edges.select(F.col("v").alias("doc_id"), F.col("u").alias("component_id"))
    roots = (
        edges.select(F.col("u").alias("doc_id"))
        .distinct()
        .join(members.select(F.col("doc_id")), "doc_id", "left_anti")
        .select("doc_id", F.col("doc_id").alias("component_id"))
    )
    # isolated vertices of the ORIGINAL pair frame (self-pairs only)
    verts = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    labeled = members.unionByName(roots)
    isolated = verts.join(labeled.select("doc_id"), "doc_id", "left_anti").select(
        "doc_id", F.col("doc_id").alias("component_id")
    )
    return labeled.unionByName(isolated)


@register(
    "dedup_components_star",
    oracle=COMPONENTS_ORACLE,
    tags=("dedup", "llm", "iterative", "scale"),
)
def dedup_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-contraction twin of ``dedup_components``: same near-dup
    pair graph, same (doc_id, component_id) answer, same recursive-CTE
    oracle — but O(log n) alternations regardless of component
    diameter (see :func:`star_contraction_components`)."""
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    return star_contraction_components(pairs)


# ---------------------------------------------------------------------------
# Entity-resolution blocking-budget profiler
# ---------------------------------------------------------------------------

ER_BLOCKING_ORACLE = """
WITH p AS (
  SELECT p_partkey, p_name, p_brand,
         string_split(p_name, ' ')[1] AS name_tok1
  FROM part
), schemes AS (
  SELECT 'name_token1' AS scheme, name_tok1 AS blk FROM p
  UNION ALL SELECT 'name_full', p_name FROM p
  UNION ALL SELECT 'name_brand', p_name || '|' || p_brand FROM p
), blocks AS (
  SELECT scheme, blk, CAST(COUNT(*) AS BIGINT) AS b FROM schemes GROUP BY 1, 2
), per_scheme AS (
  SELECT scheme,
         CAST(COUNT(*) AS BIGINT) AS n_blocks,
         CAST(MAX(b) AS BIGINT) AS max_block,
         CAST(SUM(b * (b - 1) // 2) AS BIGINT) AS cand_pairs,
         CAST(SUM(b) AS BIGINT) AS n_rows
  FROM blocks GROUP BY 1
)
SELECT scheme, n_blocks, max_block, cand_pairs,
       n_rows * (n_rows - 1) // 2 AS all_pairs,
       -- GREATEST guard (ADVICE r04): on an empty/single-row input the
       -- denominator is 0 and DuckDB errors while Spark yields NULL;
       -- both engines agree on budget_ppm = 0 with the guard (same
       -- style as events_bot_screen).
       cand_pairs * 1000000 // GREATEST(n_rows * (n_rows - 1) // 2, 1) AS budget_ppm
FROM per_scheme
"""


@register("er_blocking_budget", oracle=ER_BLOCKING_ORACLE, tags=("dedup", "join", "scale"))
def er_blocking_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution blocking-budget profiler: for each candidate
    blocking scheme (first name token / full name / name+brand), the
    block-size distribution reduced to the number every ER deployment
    negotiates first — candidate pairs Σ b·(b−1)/2 versus the n²/2 of
    an unblocked comparison, as parts-per-million. This is the go/no-go
    arithmetic BEFORE any matcher runs: at 100 TB an unblocked match
    is physically impossible and a skewed scheme (max_block ~ n) is an
    all-pairs join in disguise — both visible here as data.

    One aggregate per scheme over the key projection (schemes union
    into a single shuffle), tiny per-scheme rollups, exact integer
    pair math — the same map the package's own inverted-index dedup
    family applies implicitly (its bucketed joins ARE a blocking
    scheme; the max_df guard is the max_block control)."""
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_name",
        "p_brand",
        F.split("p_name", " ").getItem(0).alias("name_tok1"),
    )
    schemes = (
        p.select(F.lit("name_token1").alias("scheme"), F.col("name_tok1").alias("blk"))
        .unionByName(p.select(F.lit("name_full").alias("scheme"), F.col("p_name").alias("blk")))
        .unionByName(
            p.select(
                F.lit("name_brand").alias("scheme"),
                F.concat("p_name", F.lit("|"), "p_brand").alias("blk"),
            )
        )
    )
    blocks = schemes.groupBy("scheme", "blk").agg(F.count(F.lit(1)).cast("long").alias("b"))
    per = blocks.groupBy("scheme").agg(
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
        F.max("b").cast("long").alias("max_block"),
        F.sum(F.floor(F.col("b") * (F.col("b") - 1) / 2)).cast("long").alias("cand_pairs"),
        F.sum("b").cast("long").alias("n_rows"),
    )
    all_pairs = F.floor(F.col("n_rows") * (F.col("n_rows") - 1) / 2).cast("long")
    # GREATEST guard mirrors the oracle (ADVICE r04): empty/single-row
    # schemes report budget_ppm = 0 instead of NULL/div-by-zero.
    return per.select(
        "scheme",
        "n_blocks",
        "max_block",
        "cand_pairs",
        all_pairs.alias("all_pairs"),
        F.floor(F.col("cand_pairs") * 1_000_000 / F.greatest(all_pairs, F.lit(1)))
        .cast("long")
        .alias("budget_ppm"),
    )


# ---------------------------------------------------------------------------
# Content-defined chunking (CDC) dedup accounting
# ---------------------------------------------------------------------------

CDC_MOD = 4  # boundary when md5-bucket(token) % 4 == 0 → ~4-token chunks

CDC_ORACLE = f"""
WITH tok AS (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
pos AS (
  SELECT doc_id, source, i, toks[i] AS tok,
         CASE WHEN (('0x' || substr(md5(toks[i]), 1, 8))::BIGINT % {CDC_MOD}) = 0
              THEN 1 ELSE 0 END AS bnd
  FROM tok, LATERAL (SELECT unnest(generate_series(1, len(toks))) AS i)
), chunked AS (
  SELECT doc_id, source, i, tok,
         COALESCE(SUM(bnd) OVER (PARTITION BY doc_id ORDER BY i
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id
  FROM pos
), chunks AS (
  SELECT doc_id, source, chunk_id,
         md5(string_agg(tok, ' ' ORDER BY i)) AS chunk_md5,
         SUM(len(tok)) + COUNT(*) - 1 AS chunk_chars
  FROM chunked GROUP BY doc_id, source, chunk_id
), uniq AS (
  SELECT source, chunk_md5, MIN(chunk_chars) AS chunk_chars, COUNT(*) AS refs
  FROM chunks GROUP BY source, chunk_md5
)
SELECT source,
       CAST(SUM(refs) AS BIGINT) AS n_chunks,
       CAST(COUNT(*) AS BIGINT) AS n_distinct_chunks,
       CAST(SUM(refs * chunk_chars) AS BIGINT) AS total_chars,
       CAST(SUM(chunk_chars) AS BIGINT) AS stored_chars,
       CAST(SUM(chunk_chars) * 1000000 // SUM(refs * chunk_chars) AS BIGINT) AS stored_ppm
FROM uniq GROUP BY source
ORDER BY source
"""


@register("dedup_cdc_chunks", oracle=CDC_ORACLE, tags=("dedup", "llm", "scale"))
def dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined-chunking dedup accounting per source — the
    storage-system dedup primitive (LBFS/Venti-style) applied to a text
    corpus: a token ends a chunk when a hash of the TOKEN VALUE alone
    hits ``0 mod 4``, so chunk boundaries are properties of the
    content, not of byte offsets. An insertion near the front of a
    document reshapes only the chunk it lands in; every later chunk
    re-aligns and still dedups — the property fixed-size blocks
    (``text_block_dedup`` is the contrast case) fundamentally lack.
    Reports, per source: chunk count, distinct-chunk count, raw vs
    deduplicated character volume, and the stored-bytes ratio (ppm).

    Dataflow: posexplode tokens (narrow) → boundary flag from an
    md5-bucket of the token (pure codegen, engine-portable) → chunk_id
    via a per-doc prior-sum window (bounded by doc length, never a
    corpus-wide window) → chunk reassembly groupBy(doc, chunk_id) →
    chunk-identity aggregate groupBy(source, chunk_md5) → per-source
    rollup. The only corpus-wide shuffle is keyed by (source, md5) —
    uniform by construction, no skew; there is no pair enumeration
    anywhere, so output is bounded by corpus size at any scale. At
    100 TB the ``uniq`` aggregate IS the chunk store index; hot chunks
    (boilerplate) stay one row with a large ``refs`` count."""
    doc = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long") % CDC_MOD
    )
    pos = doc.select(
        "doc_id", "source", F.posexplode(F.split("text", " ")).alias("i", "tok")
    ).withColumn("bnd", F.when(bucket == 0, 1).otherwise(0))
    w = W.partitionBy("doc_id").orderBy("i").rowsBetween(W.unboundedPreceding, -1)
    chunked = pos.withColumn("chunk_id", F.coalesce(F.sum("bnd").over(w), F.lit(0)))
    chunks = chunked.groupBy("doc_id", "source", "chunk_id").agg(
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("i", "tok"))),
                    lambda s: s["tok"],
                ),
                " ",
            )
        ).alias("chunk_md5"),
        (F.sum(F.length("tok")) + F.count(F.lit(1)) - 1).alias("chunk_chars"),
    )
    uniq = chunks.groupBy("source", "chunk_md5").agg(
        F.min("chunk_chars").alias("chunk_chars"),
        F.count(F.lit(1)).alias("refs"),
    )
    return (
        uniq.groupBy("source")
        .agg(
            F.sum("refs").cast("long").alias("n_chunks"),
            F.count(F.lit(1)).cast("long").alias("n_distinct_chunks"),
            F.sum(F.col("refs") * F.col("chunk_chars")).cast("long").alias("total_chars"),
            F.sum("chunk_chars").cast("long").alias("stored_chars"),
            F.expr(
                "CAST(sum(chunk_chars) * 1000000 div sum(refs * chunk_chars) AS BIGINT)"
            ).alias("stored_ppm"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Weighted (multiset) shingle Jaccard — tf-weighted near-dup scoring
# ---------------------------------------------------------------------------

WJACCARD_THRESHOLD_E6 = 300_000  # 0.30 on the multiset Jaccard

WEIGHTED_JACCARD_ORACLE = f"""
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
sh AS (
  SELECT doc_id, array_to_string(toks[i:i+4], ' ') AS shingle
  FROM tok, LATERAL (SELECT unnest(generate_series(1, len(toks) - 4)) AS i)
  WHERE len(toks) >= 5
), cnt AS (
  SELECT doc_id, shingle, CAST(COUNT(*) AS BIGINT) AS c
  FROM sh GROUP BY doc_id, shingle
), sizes AS (
  SELECT doc_id, SUM(c) AS n FROM cnt GROUP BY doc_id
), hot AS (
  -- r11: NGRAM_MAX_DF document-frequency cap (skew-lab class; sizes
  -- keep the FULL multiset weight, hot shingles just leave the index)
  SELECT shingle FROM cnt GROUP BY shingle HAVING COUNT(*) > {NGRAM_MAX_DF}
), idx AS (
  SELECT doc_id, shingle, c FROM cnt
  WHERE shingle NOT IN (SELECT shingle FROM hot)
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         SUM(LEAST(a.c, b.c)) AS inter_w
  FROM idx a JOIN idx b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       CAST(inter_w AS BIGINT) AS inter_w,
       CAST(sa.n + sb.n - inter_w AS BIGINT) AS union_w,
       CAST(inter_w * 1000000 // (sa.n + sb.n - inter_w) AS BIGINT) AS wjaccard_e6
FROM inter
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE inter_w * 1000000 // (sa.n + sb.n - inter_w) >= {WJACCARD_THRESHOLD_E6}
"""


@register("dedup_weighted_jaccard", oracle=WEIGHTED_JACCARD_ORACLE, tags=("dedup", "llm", "scale"))
def dedup_weighted_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted (multiset) shingle Jaccard near-dup pairs:
    Σ min(tfₐ, tf_b) / Σ max(tfₐ, tf_b) over 5-token-shingle COUNTS —
    the tf-weighted refinement of ``dedup_ngram_jaccard``'s set
    Jaccard. Repetition now matters: a doc that repeats one boilerplate
    block ten times no longer looks identical to a doc containing it
    once, which is exactly the failure mode set-Jaccard has on spammy
    or template-heavy corpora. Σmax never needs its own pass:
    Σmax = nₐ + n_b − Σmin (multiset identity), so the union weight
    comes free from the per-doc totals.

    Same :func:`shingle_overlap` candidate stage as the set variant
    (pairs sharing ≥1 shingle, keyed on 8-byte xxhash64 shingle keys),
    fed per-doc counts ``c`` so it sums Σ least(cₐ, c_b) per pair
    instead of counting.
    The registered default applies the :data:`NGRAM_MAX_DF`
    document-frequency cap (r11 skew-lab class: 1.65× wall for 1.00×
    output on the hot-phrase shard uncapped; per-doc multiset totals
    ``n`` keep the FULL weight, hot shingles just leave the index —
    oracle mirrored, inactive on driver corpora). ×1e6 fixed-point
    with truncating div — integer-exact across engines.

    Measured and REJECTED (r07 plan-scan audit, recorded so it isn't
    re-tried): lazily checkpointing ``sizes`` (0.89 → 1.25 s best-of-3
    at sf0.1) and ``cnt``+``sizes`` (→ 0.95 s) to dedupe the repeated
    shingle pipeline — the barrier serializes work the scheduler
    otherwise overlaps with the self-join, the same trade recorded for
    the LSH sigs frame."""
    doc = load_table(spark, sf_dir, "documents")
    cnt = (
        shingle_rows(doc.select("doc_id", "text"), distinct=False)
        .select("doc_id", F.xxhash64("shingle").alias("sh_key"))
        .groupBy("doc_id", "sh_key")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    sizes = cnt.groupBy("doc_id").agg(F.sum("c").alias("n"))
    inter = shingle_overlap(cnt).withColumnRenamed("n_common", "inter_w")
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    wj = F.expr("inter_w * 1000000 div (sa.n + sb.n - inter_w)")
    return (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .filter(wj >= WJACCARD_THRESHOLD_E6)
        .select(
            "doc_a",
            "doc_b",
            F.col("inter_w").cast("long").alias("inter_w"),
            F.expr("CAST(sa.n + sb.n - inter_w AS BIGINT)").alias("union_w"),
            wj.cast("long").alias("wjaccard_e6"),
        )
    )


# --- prefix-fingerprint clustering (crawl-style cheap dedup) ----------------

PREFIX_FP_CHARS = 64


PREFIX_CLUSTER_ORACLE = f"""
WITH fp AS (
  SELECT doc_id, md5(substr(text, 1, {PREFIX_FP_CHARS})) AS pfp FROM documents
), cl AS (
  SELECT pfp, CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(MIN(doc_id) AS BIGINT) AS rep_doc
  FROM fp GROUP BY 1
)
SELECT pfp, n_docs, rep_doc FROM cl WHERE n_docs > 1
"""


@register("dedup_prefix_cluster", oracle=PREFIX_CLUSTER_ORACLE, tags=("dedup", "llm"))
def dedup_prefix_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-{PREFIX_FP_CHARS}-chars fingerprint clustering — the
    cheapest tier of a layered dedup stack (CommonCrawl pipelines run
    exactly this before anything shingle-based): md5 of the document
    prefix groups trivial re-crawls and templated mirrors at the cost
    of ONE hash per doc and one tiny-key shuffle, no shingling, no
    candidate joins. Emits clusters with >1 member and their min-id
    representative (the same canonical-representative convention as
    dedup_exact). Misses: docs differing only after the prefix cluster
    together (acceptable for tier-0; the shingle/MinHash tiers below
    catch the rest — measured against them in tests/test_llm_ops is
    the point of layering).

    Scale shape: fingerprint in the scan projection, one partial-
    aggregated groupBy on the 16-byte hash. Nothing else."""
    doc = load_table(spark, sf_dir, "documents")
    fp = doc.select(
        "doc_id", F.md5(F.substring("text", 1, PREFIX_FP_CHARS)).alias("pfp")
    )
    return (
        fp.groupBy("pfp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("doc_id").cast("long").alias("rep_doc"),
        )
        .filter(F.col("n_docs") > 1)
    )


# ---------------------------------------------------------------------------
# LSH-bucketed semantic dedup — the registered 100 TB scale path
# ---------------------------------------------------------------------------

_SEM_LSH_BANDS = 16  # OR-amplification: candidate if ANY band code matches
_SEM_LSH_ROWS = 3  # AND-amplification within a band: 3 sign bits → 8 codes

# Sized-bank dial for the flagship's candidate stage (the fixed-bank law
# APPLIED here too, closing the class VERDICT r10 opened on simhash):
# any fixed bank admits a constant ≈ bands·2^-rows fraction of random
# pairs, so candidates grow quadratically in corpus size. The ladder
# keeps the fixture contract (rows=3 at every driver SF — N ≤ 5000, so
# all recorded hashes and the fixture recall gate stand) and beyond it
# jumps to the r09-measured linear regime rows = 10 + ceil(log2(N/5000))
# (candidates/vector measured 15–23, flat across k = 1/2/5/10 replicas).
# MAX_ROWS bounds the ORACLE's plane literal (16 bands × 14 rows × 64
# dims as SQL VALUES); a real 100 TB deployment raises it to ~30 — the
# bank grows linearly in the constant, the (band, code) equi-join plan
# does not change.
_SEM_LSH_FIXTURE_CAP = 5_000
_SEM_LSH_MAX_ROWS = 14


def _sem_lsh_ladder() -> list[tuple[int | None, int]]:
    """(corpus-size cap, rows_per_band) rungs — the ONE source of truth
    both engines' sizing branches are generated from."""
    rungs: list[tuple[int | None, int]] = [(_SEM_LSH_FIXTURE_CAP, _SEM_LSH_ROWS)]
    cap, r = _SEM_LSH_FIXTURE_CAP, 10
    while r + 1 < _SEM_LSH_MAX_ROWS:
        cap, r = cap * 2, r + 1
        rungs.append((cap, r))
    rungs.append((None, _SEM_LSH_MAX_ROWS))
    return rungs


def _sem_lsh_rows_for(n_vectors: int) -> int:
    for cap, r in _sem_lsh_ladder():
        if cap is None or n_vectors <= cap:
            return r
    raise AssertionError("unreachable: last rung is uncapped")


def _sem_lsh_rows_case_sql(count_sql: str) -> str:
    """The ladder as a DuckDB CASE over a corpus-count scalar — emitted
    from the same rungs as :func:`_sem_lsh_rows_for` so the engines'
    sizing decisions cannot drift."""
    whens = " ".join(
        f"WHEN {count_sql} <= {cap} THEN {r}"
        for cap, r in _sem_lsh_ladder()
        if cap is not None
    )
    return f"CASE {whens} ELSE {_SEM_LSH_MAX_ROWS} END"


def _sem_lsh_planes(
    spark: SparkSession,
    bands: int = _SEM_LSH_BANDS,
    rows_per_band: int = _SEM_LSH_ROWS,
    prefix: str = "sem",
) -> DataFrame:
    """Deterministic random-hyperplane bank for the banded semantic-dedup
    LSH: ``bands × rows_per_band`` planes with md5-derived weights
    (namespace ``{prefix}_{band}_{row}_{dim}`` — ``sem`` is disjoint from
    similarity.py's ``_plane_weights`` so the two banks stay independent;
    ``prod`` is the production-threshold bank of the pruning certificate).
    Reproducible across runs/engines; no RNG state to ship.

    Built as a SQL VALUES literal, not ``createDataFrame`` (r12,
    measured): createDataFrame(list) takes the pickle→parallelize RDD
    path, so every flagship wall run paid an RDD scan + broadcast of a
    ``Scan ExistingRDD`` leaf; a VALUES literal optimizes to a
    LocalRelation the broadcast builds from directly — candidate stage
    best 3.70 → 2.71 s at sf0.1. The weights are emitted via repr() and
    parsed as SQL doubles (exact round-trip; the trailing array cast
    also defends against DECIMAL literal inference), verified
    element-identical to the former frame."""
    rows = [
        f"({b}, {p}, array({', '.join(map(repr, md5_plane(f'{prefix}_{b}_{p}')))}))"
        for b in range(bands)
        for p in range(rows_per_band)
    ]
    return spark.sql(
        "SELECT CAST(band AS INT) band, CAST(prow AS INT) prow, "
        "CAST(w AS ARRAY<DOUBLE>) w FROM VALUES\n"
        + ",\n".join(rows)
        + " AS t(band, prow, w)"
    )


def _sem_lsh_planes_sql(
    bands: int = _SEM_LSH_BANDS,
    rows_per_band: int = _SEM_LSH_ROWS,
    prefix: str = "sem",
) -> str:
    """The same plane bank as :func:`_sem_lsh_planes`, emitted as a DuckDB
    VALUES literal (band, prow, w) — the oracle twin's source of the
    identical deterministic hyperplanes."""
    return ",\n    ".join(
        f"({b}, {p}, [{', '.join(map(repr, md5_plane(f'{prefix}_{b}_{p}')))}]::DOUBLE[])"
        for b in range(bands)
        for p in range(rows_per_band)
    )


def semantic_lsh_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded random-hyperplane LSH candidate generation over
    ``embeddings`` → exact-cosine-refined near-dup pairs ``(doc_a,
    doc_b)`` above :data:`COSINE_NEARDUP_THRESHOLD` — the bucketed
    replacement for :func:`dedup_embedding_cosine`'s all-pairs scan.

    Shape: one broadcast of the 48-plane bank, one groupBy(vec_id, band)
    to fold sign bits into an 8-value band code, then a SELF-EQUI-JOIN on
    ``(band, code)`` — never a non-equi pair join, so the plan is a
    shuffled hash/sort-merge join on small integer keys whose output is
    bounded by bucket co-occupancy, not n². The exact cosine filter then
    scores pairs with the same ``pair_cos`` as dedup_embedding_cosine,
    bit-for-bit, so surviving pairs carry identical similarity decisions.

    Recall/pruning regime (measured on the synthetic fixture, see
    tests/test_llm_ops.py recall gate): at the fixture's 0.4 threshold the
    embeddings are near-random (max cos ≈ 0.51), so bucket collisions
    barely separate signal from noise — recall 0.98–1.00 but candidate
    fraction ≈ 0.87 of all pairs. That is the data's geometry, not the
    plan's: at a production semantic-dedup threshold (≥0.9, SemDeDup
    regime) the same bank with ``_SEM_LSH_ROWS`` raised to 8–12 prunes
    candidates by orders of magnitude while keeping recall ≥0.99, because
    P[sign match] ≈ 1 − θ/π concentrates. The constants here are tuned so
    the fixture-scale recall gate is meaningful; the plan shape is
    unchanged by retuning.

    Growth law, measured r09 then APPLIED r11: ANY fixed bank admits a
    constant FRACTION of random pairs (≈ bands·2^-rows OR-folded), so
    candidates grow quadratically in corpus size — the fixed 16×3
    fixture bank held 87.1% of all pairs at every k (174M candidate
    rows at k=10, the measured 34× wall-time growth). Holding
    candidates LINEAR requires the code space to grow with the corpus:
    rows_per_band ≈ const + log2(N/N₀), measured at rows = 10 +
    log2(k) as candidates/vector 15–23 flat across k = 1/2/5/10. That
    dial now RUNS here via :func:`_sem_lsh_rows_for` (ladder shared
    with both oracles' generated CASE): rows = 3 at every driver SF
    (N ≤ 5000 — bank, plan, and hashes identical to the r01–r10
    registrations), 10 + ceil(log2(N/5000)) beyond, capped at
    :data:`_SEM_LSH_MAX_ROWS`. Re-measured fresh-session r11: x10
    (20k vecs, r=12) 7.7 s — DOWN from the r09 fixed-bank ~34×
    — and x100 (200k vecs, r=14) 42.4 s, ≈5× wall on 100× data.

    Fidelity under the dial (r11, planted-twin certificate shape on the
    x10 shard): production-regime twins (cos ≥ 0.9798) are recalled
    4999/5000 at r=12 and 4998/5000 at r=14 with candidates/vector ≈ 22
    — the SemDeDup regime this operator exists for survives the sizing
    intact. At the FIXTURE's 0.4 threshold over near-random geometry
    (θ ≈ 65°) the sized bank recalls ~7.5% at r=12 — the
    (1−θ/π)^rows amplification floor, i.e. the information-theoretic
    behavior of sign-LSH when the threshold sits inside the bulk of the
    random-cosine distribution, where the ONLY complete config is the
    87%-of-all-pairs brute regime the fixed bank degenerated to. The
    registered recall certificate (dedup_semantic_lsh_recall) measures
    whichever regime the mounted corpus is in; the fixture gate
    (tests/test_llm_ops.py, N ≤ 5000 → rows=3) still asserts ≥0.95."""
    # Live-vector guard: a NULL or zero vector folds to sign-code 0 in
    # every band, so a NULL-heavy slice piles into one bucket per band
    # and the candidate join goes quadratic in the NULL count (measured
    # r06 on the nulls probe fixture: 208 NULL vectors → 23k junk
    # candidate pairs), and its cosine is undefined. ``live`` drops
    # both, below the candidate and the refine stage alike. The oracle
    # keeps ``WHERE embedding IS NOT NULL``, which is the same filter on
    # corpora without zero vectors (all of the testdata), so the output
    # hashes are unchanged.
    #
    # The refine stage keeps the RAW float arrays through the candidate
    # joins (dot_float casts per element inside the fold — bit-identical,
    # see functions/vectors.py::pair_cos): the joined pair rows carry
    # half the bytes, measured −20% on this stage at sf0.1.
    embf = live(
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id", F.col("embedding").alias("vf")
        ),
        as_double("vf"),
    )
    emb = embf.select("vec_id", as_double("vf").alias("v"))
    # Sized bank (r11): rows_per_band from the corpus count via the
    # shared ladder — rows=3 at every driver SF (N ≤ 5000: identical
    # bank, identical hashes), the measured-linear 10+log2(N/5000)
    # regime beyond. The probe counts the UNFILTERED table from the
    # parquet FOOTER metadata (r13 — no Spark job at all, where the
    # r12 count() spent ~0.45 s of the flagship wall scheduling one);
    # the dial is log-scaled, so the NULL fraction cannot move a rung.
    n_rows = _sem_lsh_rows_for(parquet_num_rows(sf_dir, "embeddings"))
    # Candidate stage is the SHARED banded_sign_candidates helper (the
    # same code the production-threshold pruning certificate certifies
    # — one source of truth for the plan shape, r06 review finding).
    # Measured and REJECTED (r06): localCheckpoint(eager=False) on the
    # helper's sigs frame to compute the signature stage once instead of
    # on both self-join sides — best-of-3 idle at sf0.1: 11.39 s vs
    # 9.66 s baseline. The materialization barrier (write 32k rows, lose
    # pipelining into the join) costs more than the duplicated 96k-fold
    # sig computation saves; Spark's shuffle reuse already dedupes most
    # of the work.
    cand = banded_sign_candidates(
        emb, _sem_lsh_planes(spark, _SEM_LSH_BANDS, n_rows)
    )
    ea = embf.alias("ea")
    eb = embf.alias("eb")
    cos = pair_cos("ea.vf", "eb.vf", "ea.nrm", "eb.nrm", fold=dot_float)
    return (
        cand.join(ea, F.col("vec_a") == F.col("ea.vec_id"))
        .join(eb, F.col("vec_b") == F.col("eb.vec_id"))
        .filter(cos >= COSINE_NEARDUP_THRESHOLD)
        .select(F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b"))
    )


SEMANTIC_LSH_ORACLE = f"""
WITH planes(band, prow, w) AS (VALUES
    {{PLANES}}
),
e AS (SELECT vec_id, embedding FROM embeddings WHERE embedding IS NOT NULL),
nconf AS (
  -- sized bank: rows_per_band from the UNFILTERED corpus count via the
  -- same ladder the Spark side applies (_sem_lsh_rows_case_sql)
  SELECT {{ROWS_CASE}} AS r FROM (SELECT COUNT(*) AS n FROM embeddings)
),
bits AS (
  SELECT e.vec_id, p.band,
         CASE WHEN {dot_sql('e.embedding', 'p.w')} > 0
              THEN (1::BIGINT << p.prow) ELSE 0 END AS bitval
  FROM e, planes p, nconf WHERE p.prow < nconf.r
),
sigs AS (
  SELECT vec_id, band, CAST(SUM(bitval) AS BIGINT) AS code
  FROM bits GROUP BY vec_id, band
),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM sigs a JOIN sigs b ON a.band = b.band AND a.code = b.code
  WHERE a.vec_id < b.vec_id
),
pairs AS (
  SELECT vec_a, vec_b
  FROM cand
  JOIN e ea ON ea.vec_id = cand.vec_a
  JOIN e eb ON eb.vec_id = cand.vec_b
  WHERE ROUND({cosine_sql('ea.embedding', 'eb.embedding')}, 6)
        >= {COSINE_NEARDUP_THRESHOLD}
),
sym AS (
  SELECT vec_a AS u, vec_b AS v FROM pairs
  UNION SELECT vec_b, vec_a FROM pairs
  UNION SELECT vec_a, vec_a FROM pairs
  UNION SELECT vec_b, vec_b FROM pairs
), reach AS (
  WITH RECURSIVE r(u, v) AS (
    SELECT u, v FROM sym
    UNION
    SELECT r.u, s.v FROM r JOIN sym s ON r.v = s.u
  )
  SELECT * FROM r
), comp AS (
  SELECT u AS vec_id, MIN(v) AS component_id FROM reach GROUP BY u
)
SELECT e2.vec_id,
       COALESCE(c.component_id, e2.vec_id) AS component_id,
       (COALESCE(c.component_id, e2.vec_id) = e2.vec_id) AS keep
FROM embeddings e2 LEFT JOIN comp c ON e2.vec_id = c.vec_id
""".replace(
    "{PLANES}", _sem_lsh_planes_sql(_SEM_LSH_BANDS, _SEM_LSH_MAX_ROWS)
).replace("{ROWS_CASE}", _sem_lsh_rows_case_sql("n"))


@register(
    "dedup_semantic_components_lsh",
    oracle=SEMANTIC_LSH_ORACLE,
    # bench_wall, not bench: the star-contraction loop executes
    # driver-side inside fn() (localCheckpoint per half-round), so
    # bench.py must clock fn()+save together or it would time only the
    # final join (~0.3 s) and miss the ~10 s loop (VERDICT r05 item 2:
    # the heaviest registered query needs a tracked regression row).
    tags=("dedup", "llm", "iterative", "embedding", "approx", "bench_wall"),
)
def dedup_semantic_components_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic deduplication with BUCKETED candidate generation — the
    registered 100 TB scale path that replaces
    :func:`dedup_semantic_components`' brute-force pair stage (the
    docstring promise VERDICT r04 flagged; this query IS the swap).
    Same output contract: every vector with its cluster canonical and a
    keep flag true for exactly one member per cluster, so curation
    chains can substitute it for the exact variant unchanged.

    Plan: :func:`semantic_lsh_candidate_pairs` (banded hyperplane LSH,
    self-EQUI-join on (band, code) — asserted free of non-equi self-joins
    in tests/test_plans.py) → exact-cosine refinement →
    :func:`star_contraction_components` — the same downstream the exact
    variant uses, bounded by near-dup density, not corpus size, and
    round-bounded O(log n) on any component diameter (see the exact
    variant's docstring for the measured rationale vs min-label
    propagation). Recall vs the brute-force pair set is gated ≥0.95 in
    tests/test_llm_ops.py.

    Oracle: EXACT despite the approximation — the hyperplanes are
    md5-derived constants and the sign bits come from the engines'
    bit-identical sequential-fold dot product (same argument as
    similarity.py::_lsh_oracle), so the candidate set, refined pairs,
    and the recursive-closure components all hash-match."""
    pairs = semantic_lsh_candidate_pairs(spark, sf_dir)
    comp = star_contraction_components(pairs).select(
        F.col("doc_id").alias("vec_id"), "component_id"
    )
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id")
    return emb.join(comp, "vec_id", "left").select(
        "vec_id",
        F.coalesce("component_id", "vec_id").alias("component_id"),
        (F.coalesce("component_id", "vec_id") == F.col("vec_id")).alias("keep"),
    )


SEMANTIC_LSH_RECALL_ORACLE = f"""
WITH planes(band, prow, w) AS (VALUES
    {{PLANES}}
),
e AS (SELECT vec_id, embedding FROM embeddings WHERE embedding IS NOT NULL),
exact_pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM e a JOIN e b ON a.vec_id < b.vec_id
  WHERE ROUND({cosine_sql('a.embedding', 'b.embedding')}, 6)
        >= {COSINE_NEARDUP_THRESHOLD}
),
nconf AS (
  -- sized bank: same ladder as the Spark side (_sem_lsh_rows_case_sql)
  SELECT {{ROWS_CASE}} AS r FROM (SELECT COUNT(*) AS n FROM embeddings)
),
bits AS (
  SELECT e.vec_id, p.band,
         CASE WHEN {dot_sql('e.embedding', 'p.w')} > 0
              THEN (1::BIGINT << p.prow) ELSE 0 END AS bitval
  FROM e, planes p, nconf WHERE p.prow < nconf.r
),
sigs AS (
  SELECT vec_id, band, CAST(SUM(bitval) AS BIGINT) AS code
  FROM bits GROUP BY vec_id, band
),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM sigs a JOIN sigs b ON a.band = b.band AND a.code = b.code
  WHERE a.vec_id < b.vec_id
),
lsh_pairs AS (
  SELECT vec_a, vec_b
  FROM cand
  JOIN e ea ON ea.vec_id = cand.vec_a
  JOIN e eb ON eb.vec_id = cand.vec_b
  WHERE ROUND({cosine_sql('ea.embedding', 'eb.embedding')}, 6)
        >= {COSINE_NEARDUP_THRESHOLD}
)
SELECT CAST((SELECT COUNT(*) FROM exact_pairs) AS BIGINT) AS n_exact,
       CAST((SELECT COUNT(*) FROM lsh_pairs) AS BIGINT) AS n_lsh,
       CAST((SELECT COUNT(*) FROM lsh_pairs l JOIN exact_pairs x
             ON l.vec_a = x.vec_a AND l.vec_b = x.vec_b) AS BIGINT) AS n_common,
       CAST((SELECT COUNT(*) FROM lsh_pairs l JOIN exact_pairs x
             ON l.vec_a = x.vec_a AND l.vec_b = x.vec_b) * 1000000
            // GREATEST((SELECT COUNT(*) FROM exact_pairs), 1) AS BIGINT)
         AS recall_ppm
""".replace(
    "{PLANES}", _sem_lsh_planes_sql(_SEM_LSH_BANDS, _SEM_LSH_MAX_ROWS)
).replace("{ROWS_CASE}", _sem_lsh_rows_case_sql("n"))


@register(
    "dedup_semantic_lsh_recall",
    oracle=SEMANTIC_LSH_RECALL_ORACLE,
    tags=("dedup", "llm", "embedding", "eval"),
)
def dedup_semantic_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DRIVER-VISIBLE recall certificate for the semantic-dedup scale
    path: counts the brute-force cosine near-dup pairs, the LSH-bucketed
    pairs, their intersection, and recall in ppm — the same gate
    tests/test_llm_ops.py asserts ≥0.95, but emitted as an oracled
    registry query so the external correctness harness (not just local
    pytest) hashes the fidelity claim. Since the LSH refinement applies
    the identical rounded-cosine threshold, lsh_pairs ⊆ exact_pairs and
    n_lsh == n_common (precision 1.0 by construction — also visible in
    the emitted row).

    Scale: the exact side is the O(n²) reference measurement and makes
    this an EVAL query (run on a sample at production scale, like any
    recall audit); the production dedup itself is
    :func:`dedup_semantic_components_lsh`, which never touches the
    brute-force side."""
    exact = dedup_embedding_cosine(spark, sf_dir).select("vec_a", "vec_b")
    lsh = semantic_lsh_candidate_pairs(spark, sf_dir).select(
        F.col("doc_a").alias("vec_a"), F.col("doc_b").alias("vec_b")
    )
    n_exact = exact.agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
    n_lsh = lsh.agg(F.count(F.lit(1)).cast("long").alias("n_lsh"))
    n_common = (
        lsh.join(exact, ["vec_a", "vec_b"])
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    return (
        n_exact.crossJoin(n_lsh)
        .crossJoin(n_common)
        .select(
            "n_exact",
            "n_lsh",
            "n_common",
            F.floor(
                F.col("n_common") * 1_000_000 / F.greatest("n_exact", F.lit(1))
            )
            .cast("long")
            .alias("recall_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Production-regime pruning certificate (VERDICT r05 item 3)
# ---------------------------------------------------------------------------

# The fixture embeddings are near-random (max cos ≈ 0.51), so the 0.4
# threshold certificate above can demonstrate recall but not PRUNING —
# at that threshold 87% of all pairs are legitimate candidates. The
# production SemDeDup regime is a ≥0.9 threshold over a corpus where
# near-dups are genuinely close; this certificate constructs that regime
# deterministically (planted twins) and ASSERTS the pruning factor.
COSINE_PROD_THRESHOLD = 0.9
_SEM_PROD_BANDS = 12  # OR-amplification across bands
_SEM_PROD_ROWS = 10  # AND-amplification: 10 sign bits → 1024 codes/band
_SEM_PROD_BUMP = 0.2  # planted-twin perturbation, as a fraction of ‖v‖

SEMANTIC_LSH_PRUNING_ORACLE = f"""
WITH planes(band, prow, w) AS (VALUES
    {{PLANES}}
),
base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings WHERE embedding IS NOT NULL
),
twins AS (
  SELECT vec_id + 1000000 AS vec_id,
         list_prepend(v[1] + {_SEM_PROD_BUMP} * SQRT({dot_sql('v', 'v')}), v[2:]) AS v
  FROM base WHERE vec_id % 4 = 0
),
aug AS (SELECT * FROM base UNION ALL SELECT * FROM twins),
exact_pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM aug a JOIN aug b ON a.vec_id < b.vec_id
  WHERE ROUND({dot_sql('a.v', 'b.v')}
              / (SQRT({dot_sql('a.v', 'a.v')}) * SQRT({dot_sql('b.v', 'b.v')})), 6)
        >= {COSINE_PROD_THRESHOLD}
),
bits AS (
  SELECT aug.vec_id, p.band,
         CASE WHEN {dot_sql('aug.v', 'p.w')} > 0
              THEN (1::BIGINT << p.prow) ELSE 0 END AS bitval
  FROM aug, planes p
),
sigs AS (
  SELECT vec_id, band, CAST(SUM(bitval) AS BIGINT) AS code
  FROM bits GROUP BY vec_id, band
),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM sigs a JOIN sigs b ON a.band = b.band AND a.code = b.code
  WHERE a.vec_id < b.vec_id
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nv FROM aug)
SELECT (SELECT nv FROM n) AS n_vectors,
       (SELECT nv * (nv - 1) // 2 FROM n) AS n_total_pairs,
       CAST((SELECT COUNT(*) FROM exact_pairs) AS BIGINT) AS n_exact,
       CAST((SELECT COUNT(*) FROM cand) AS BIGINT) AS n_candidates,
       CAST((SELECT COUNT(*) FROM cand c JOIN exact_pairs x
             ON c.vec_a = x.vec_a AND c.vec_b = x.vec_b) AS BIGINT) AS n_common,
       CAST((SELECT COUNT(*) FROM cand c JOIN exact_pairs x
             ON c.vec_a = x.vec_a AND c.vec_b = x.vec_b) * 1000000
            // GREATEST((SELECT COUNT(*) FROM exact_pairs), 1) AS BIGINT)
         AS recall_ppm,
       CAST((SELECT nv * (nv - 1) // 2 FROM n) * 100
            // GREATEST((SELECT COUNT(*) FROM cand), 1) AS BIGINT)
         AS pruning_x100
""".replace("{PLANES}", _sem_lsh_planes_sql(_SEM_PROD_BANDS, _SEM_PROD_ROWS, "prod"))


def banded_signatures(aug: DataFrame, planes: DataFrame) -> DataFrame:
    """Signature half of :func:`banded_sign_candidates`: broadcast the
    plane bank and fold sign bits into one integer ``code`` per
    ``(vec_id, band)``. Split out so the sized-bank eval can compute one
    max-width signature pass and derive every smaller (prefix) bank's
    code from it.

    Pre-repartition by vec_id (r13, the r12-queued re-measure): two
    effects, both measured. (a) The per-vector sign folds spread across
    ``defaultParallelism`` tasks instead of riding the input's scan
    tasks — at sf0.1 the whole corpus is ONE row group, so the
    bands×rows dot folds ran on a single task. (b) The signature
    groupBy needs NO exchange of the exploded bits frame:
    HashPartitioning(vec_id) satisfies ClusteredDistribution(vec_id,
    band), so the shuffle moves one WIDE row per vector (the 64-double
    array, ~0.5 KB) where the bits exchange moved bands×rows narrow
    rows per vector (~1 KB at the sf0.1 bank, ~4 KB at the production
    rows=12 rung) — fewer bytes at every scale, not a local[32] tune.
    Interleaved A/B ×6 alternations at sf0.1: flagship wall best
    6.145→5.338 / median 8.33→6.91 (every paired alternation favors
    it), candidate stage best 2.27→2.00; value parity exact. The r12
    session measured the same sign isolated (sigs stage 1.59→0.89 s)
    but could not see it end-to-end through that box's steal bursts."""
    n_part = aug.sparkSession.sparkContext.defaultParallelism
    bits = aug.repartition(n_part, "vec_id").crossJoin(F.broadcast(planes)).select(
        "vec_id",
        "band",
        (
            F.when(dot(F.col("v"), F.col("w")) > 0, 1).otherwise(0).cast("long")
            * F.expr("shiftleft(1L, prow)")
        ).alias("bitval"),
    )
    return bits.groupBy("vec_id", "band").agg(F.sum("bitval").alias("code"))


def signature_candidates(sigs: DataFrame) -> DataFrame:
    """Join half of :func:`banded_sign_candidates`: SELF-EQUI-JOIN a
    ``(vec_id, band, code)`` signature frame on ``(band, code)`` into
    distinct candidate pairs.

    Expanding-join parallelism (r12, measured): this join's OUTPUT is
    orders of magnitude larger than its input — a few signature rows
    per vector fan out into every bucket-co-occupant pair — but AQE
    sizes post-shuffle partitions by MAP-OUTPUT bytes, so a small
    signature exchange (~0.6 MB at sf0.1) coalesces to ONE partition
    under the default 1m ``coalescePartitions.minPartitionSize`` floor
    and the pair explosion runs single-threaded (the flagship's
    candidate stage measured 5.7 s vs 2.9 s at sf0.1/local[32]).
    AQE cannot see the expansion, so pin the join's parallelism
    explicitly: repartition the signature frame by the join key into
    ``defaultParallelism`` partitions (scale-adaptive — the cluster's
    core count, never a constant; an explicit-N repartition is exempt
    from AQE coalescing). Both self-join sides reference the same
    repartitioned frame, so the exchange is built once and reused —
    same exchange count as the implicit plan, never fewer tasks than
    cores. On a real cluster where the signature exchange is GB-sized,
    AQE would already give ≥cores partitions; this floor only binds in
    the small-input/huge-output regime, which is exactly the case AQE
    mis-sizes."""
    n_part = sigs.sparkSession.sparkContext.defaultParallelism
    sigs = sigs.repartition(n_part, "band", "code")
    sa = sigs.alias("sa")
    sb = sigs.alias("sb")
    return (
        sa.join(sb, ["band", "code"])
        .filter(F.col("sa.vec_id") < F.col("sb.vec_id"))
        .select(F.col("sa.vec_id").alias("vec_a"), F.col("sb.vec_id").alias("vec_b"))
        .distinct()
    )


def banded_sign_candidates(aug: DataFrame, planes: DataFrame) -> DataFrame:
    """Banded random-hyperplane candidate generation over an arbitrary
    ``(vec_id, v: array<double>)`` frame: broadcast the plane bank, fold
    sign bits into one integer code per (vector, band), SELF-EQUI-JOIN on
    ``(band, code)`` — the same shape as
    :func:`semantic_lsh_candidate_pairs`' candidate stage (plan-gated
    equi-join in tests/test_plans.py), parameterized so the
    production-threshold pruning certificate can run it against the
    augmented corpus with a denser bank. Composed from
    :func:`banded_signatures` + :func:`signature_candidates` (identical
    plan — the split is compile-time composition, not an extra stage)."""
    return signature_candidates(banded_signatures(aug, planes))


def _augmented_prod_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Base embeddings (as doubles) plus deterministic planted twins: for
    every ``vec_id % 4 == 0``, a copy at ``vec_id + 1_000_000`` whose
    first coordinate is bumped by ``0.2·‖v‖``. The bump fixes the
    planted-pair cosine in [√(1−t²), 1.0] ≈ [0.9798, 1.0] for ANY
    vector (with t = 0.2 and a = v₁/‖v‖ ∈ [-1, 1], cos =
    (1+ta)/√(1+2ta+t²) is minimized at a = −t where it equals
    √(1−t²) = √0.96), i.e. the
    production near-dup regime, while non-planted pairs stay at the
    fixture's near-random ≤ 0.55 — so ground truth at the 0.9 threshold
    is well-separated and the oracle's brute-force side certifies it
    rather than assuming it. Arithmetic is element-order-identical in
    both engines (sequential fold + IEEE sqrt), so the augmented vectors
    are bit-identical.

    NULL embeddings are dropped in BOTH engines before indexing: a NULL
    vector folds to sign-code 0 in every band, so at scale a NULL-heavy
    slice would pile into one bucket per band and the candidate join
    would go quadratic in the NULL count (measured on the nulls probe
    fixture: 208 NULL vectors → 23,660 junk candidates, pruning 8.2×;
    with the guard the certificate measures only real vectors)."""
    base = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull())
        .select("vec_id", as_double("embedding").alias("v"))
    )
    twins = base.filter(F.col("vec_id") % 4 == 0).select(
        (F.col("vec_id") + F.lit(1000000)).alias("vec_id"),
        F.concat(
            F.array(
                F.element_at(F.col("v"), 1) + F.lit(_SEM_PROD_BUMP) * norm(F.col("v"))
            ),
            F.slice(F.col("v"), 2, 63),
        ).alias("v"),
    )
    return base.unionByName(twins)


@register(
    "dedup_semantic_lsh_pruning",
    oracle=SEMANTIC_LSH_PRUNING_ORACLE,
    tags=("dedup", "llm", "embedding", "eval"),
)
def dedup_semantic_lsh_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-threshold PRUNING certificate for the semantic-dedup
    LSH (VERDICT r05 item 3): the 0.4-threshold recall certificate runs
    on near-random geometry where 87% of pairs are candidates, so it
    proves fidelity but not pruning. This query constructs the regime the
    docstring claim is about — planted near-dup twins at cos ≥ 0.9798 over
    the same corpus (:func:`_augmented_prod_embeddings`), threshold 0.9,
    and a 12-band × 10-bit hyperplane bank — and emits both sides of the
    trade as hashable integers: ``recall_ppm`` (LSH candidates vs the
    brute-force ground truth) and ``pruning_x100`` (total pairs per
    candidate pair, ×100). Measured on the fixtures: recall 1.000000,
    pruning 60.6× (sf0.001, N=625), 64.1× (sf0.1, N=2500) — asserted
    ≥0.99 / ≥10× in tests/test_llm_ops.py, not narrated.

    Scale: the brute-force ground-truth side is O(n²) BY DESIGN — this
    is an EVAL query, run on a bounded audit sample at production scale
    exactly like :func:`dedup_semantic_lsh_recall`; the production dedup
    path (:func:`dedup_semantic_components_lsh`) shares the banded
    equi-join candidate plan being certified but never the exact side.
    Oracle: exact — planes, twins, and sign bits all derive from
    md5-seeded constants and order-identical IEEE folds."""
    aug = _augmented_prod_embeddings(spark, sf_dir)
    withn = live(aug)
    a = withn.alias("a")
    b = withn.alias("b")
    cos = pair_cos("a.v", "b.v", "a.nrm", "b.nrm")
    exact = (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .filter(cos >= COSINE_PROD_THRESHOLD)
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
    )
    planes = _sem_lsh_planes(spark, _SEM_PROD_BANDS, _SEM_PROD_ROWS, "prod")
    cand = banded_sign_candidates(aug, planes)
    n_vec = aug.agg(F.count(F.lit(1)).cast("long").alias("n_vectors"))
    n_exact = exact.agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
    n_cand = cand.agg(F.count(F.lit(1)).cast("long").alias("n_candidates"))
    n_common = cand.join(exact, ["vec_a", "vec_b"]).agg(
        F.count(F.lit(1)).cast("long").alias("n_common")
    )
    return (
        n_vec.crossJoin(n_exact)
        .crossJoin(n_cand)
        .crossJoin(n_common)
        .select(
            "n_vectors",
            (F.col("n_vectors") * (F.col("n_vectors") - 1) / 2)
            .cast("long")
            .alias("n_total_pairs"),
            "n_exact",
            "n_candidates",
            "n_common",
            F.floor(
                F.col("n_common") * 1_000_000 / F.greatest("n_exact", F.lit(1))
            )
            .cast("long")
            .alias("recall_ppm"),
            F.floor(
                (F.col("n_vectors") * (F.col("n_vectors") - 1) / 2)
                * 100
                / F.greatest("n_candidates", F.lit(1))
            )
            .cast("long")
            .alias("pruning_x100"),
        )
    )


# ---------------------------------------------------------------------------
# Log-sized-bank eval: the LSH bank-size dial, driver-proven.
# ---------------------------------------------------------------------------

_SIZED_BANK_BANDS = 12
_SIZED_BANK_ROWS = (8, 10, 12, 14)  # nested prefixes of one 14-row bank


SIZED_BANK_ORACLE = (
    f"""
WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE embedding IS NOT NULL),
nv AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors FROM e),
planes(band, prow, w) AS (VALUES
    {_sem_lsh_planes_sql(_SIZED_BANK_BANDS, max(_SIZED_BANK_ROWS), "sizedbank")}
),
bits AS (
  SELECT e.vec_id, p.band,
         CASE WHEN {dot_sql('e.embedding', 'p.w')} > 0
              THEN (1::BIGINT << p.prow) ELSE 0 END AS bitval
  FROM e, planes p
),
sigs AS (
  SELECT vec_id, band, CAST(SUM(bitval) AS BIGINT) AS code
  FROM bits GROUP BY vec_id, band
),
"""
    + ",".join(
        f"""
cand{r} AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates FROM (
    SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
    FROM sigs a JOIN sigs b
      ON a.band = b.band AND a.code % {1 << r} = b.code % {1 << r}
         AND a.vec_id < b.vec_id
  )
)"""
        for r in _SIZED_BANK_ROWS
    )
    + """,
merged AS (
"""
    + "\n  UNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS rows_per_band, n_candidates FROM cand{r}"
        for r in _SIZED_BANK_ROWS
    )
    + """
)
-- HUGEINT products: candidate counts are corpus-pair-scale, so the
-- e2/e6 products would wrap int64 exactly like the r10 overflow class
SELECT m.rows_per_band, nv.n_vectors, m.n_candidates,
       CAST((m.n_candidates::HUGEINT * 100) // GREATEST(nv.n_vectors, 1)
            AS BIGINT) AS cand_per_vec_x100,
       CAST((m.n_candidates::HUGEINT * 1000000)
            // GREATEST((nv.n_vectors::HUGEINT * (nv.n_vectors - 1)) // 2, 1)
            AS BIGINT) AS pair_fraction_ppm
FROM merged m, nv
ORDER BY rows_per_band
"""
)


@register(
    "dedup_semantic_lsh_sized_bank",
    oracle=SIZED_BANK_ORACLE,
    tags=("dedup", "llm", "embedding", "eval"),
)
def dedup_semantic_lsh_sized_bank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH bank-size DIAL, as a driver-checkable measurement: the
    flagship's banded sign-bit candidate stage swept across
    rows_per_band ∈ {8, 10, 12, 14} at 12 bands, emitting per config the
    candidate count, candidates-per-vector (×100) and candidate pair
    fraction (ppm).

    Why this is the round-9 scale finding in registry form: ANY fixed
    bank admits a constant FRACTION of random pairs (≈ bands·2^-rows
    OR-folded), so candidates grow quadratically in corpus size no
    matter how good the bank is; holding candidates LINEAR requires the
    code space to grow with the corpus — rows_per_band ≈ const +
    log2(N/N₀). Each +1 row multiplies per-band collision odds by
    P[sign agree] (≈ 0.5 on near-orthogonal geometry), so the
    pair_fraction_ppm column IS the dial curve (measured here:
    52375 → 15088 → 4306 → 1203 ppm, ≈ 3.5× per 2 bits): pick the
    rows_per_band whose fraction times the corpus pair count is linear
    in N. The k×-replica measurement behind the sizing rule
    (candidates/vector 15–23 flat across k = 1/2/5/10 under
    rows = 10 + log2(k)) is recorded in the flagship's docstring; this
    query makes the geometric-decay half of that claim a hash-checked
    artifact on every driver round instead of a lab note.

    The four banks are NESTED — one 14-row md5-seeded bank (namespace
    ``sizedbank``), config r = the r-bit prefix ``code % 2^r`` — so ONE
    signature pass (:func:`banded_signatures`, the shared helper) serves
    every config, and the sweep measures exactly what a production
    resize does: growing the corpus APPENDS plane rows and reuses every
    stored signature's prefix instead of re-hashing the corpus. Plan
    per config after the shared fold: one (band, prefix-code)
    self-equi-join (:func:`signature_candidates`) — never an all-pairs
    join. Integer outputs use floor division in both engines (no float
    quotient can drift the hash). Oracle: exact — identical planes,
    fold, and prefix arithmetic."""
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull())
        .select("vec_id", as_double("embedding").alias("v"))
    )
    n_vec = emb.agg(F.count(F.lit(1)).cast("long").alias("n_vectors"))
    planes = _sem_lsh_planes(
        spark, _SIZED_BANK_BANDS, max(_SIZED_BANK_ROWS), "sizedbank"
    )
    # one signature fold, consumed 2x per config (both self-join sides)
    # x 4 configs — the pin is what makes the sweep one corpus pass.
    sigs = banded_signatures(emb, planes).transform(pin)
    per_config = None
    for r in _SIZED_BANK_ROWS:
        prefix = sigs.select(
            "vec_id", "band", (F.col("code") % F.lit(1 << r)).alias("code")
        )
        cnt = (
            signature_candidates(prefix)
            .agg(F.count(F.lit(1)).cast("long").alias("n_candidates"))
            .select(
                F.lit(r).cast("long").alias("rows_per_band"), "n_candidates"
            )
        )
        per_config = cnt if per_config is None else per_config.unionByName(cnt)
    return (
        per_config.crossJoin(n_vec)
        .select(
            "rows_per_band",
            "n_vectors",
            "n_candidates",
            # DECIMAL(38,0) intermediates: candidate counts are
            # corpus-pair-scale, so the e2/e6 products would wrap int64
            # at large corpora — same class as the r10 overflow fixes.
            F.expr(
                "(cast(n_candidates as decimal(38,0)) * 100)"
                " div greatest(n_vectors, 1)"
            )
            .cast("long")
            .alias("cand_per_vec_x100"),
            # ADVICE r10: an inner `... div 2` would re-narrow to BIGINT
            # (IntegralDivide returns LongType), wrapping at ~4.3e9
            # vectors while DuckDB keeps HUGEINT. n*(n-1) is always
            # even, so (c*1e6) div (n*(n-1) div 2) == (c*2e6) div
            # (n*(n-1)) — the doubled-numerator form keeps BOTH div
            # operands DECIMAL(38,0) end to end.
            F.expr(
                "(cast(n_candidates as decimal(38,0)) * 2000000)"
                " div greatest(cast(n_vectors as decimal(38,0))"
                " * (n_vectors - 1), 1)"
            )
            .cast("long")
            .alias("pair_fraction_ppm"),
        )
        .orderBy("rows_per_band")
    )
