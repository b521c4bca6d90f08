"""Similarity search over the ``embeddings`` table (``array<float>``,
dim=64): brute-force cosine top-k as the exact baseline, and a
random-hyperplane LSH-bucketed variant as the scale path.

Scale analysis: brute-force is O(Q·N) — fine when the query set is
small and broadcast (one narrow pass over N, a TakeOrdered per query),
but wrong when Q ≈ N. The LSH variant buckets vectors by hyperplane
sign bits so each query only scans its bucket: candidate work drops by
~2^planes at a recall cost; recall is tested against the exact baseline
in tests/test_llm_ops.py. At 100 TB you'd add multi-probe (flip one
bit) — implemented here — and/or an IVF coarse quantizer; the bucket
join shape stays the same.

The IVF coarse quantizer is written once, as three functions every IVF
path shares (fixed, trained, IVF-PQ, nprobe sweep): ``fixed_anchors``
(the fixed centroid / PQ codebook vectors), ``ivf_cells`` (each
vector's max-cosine cell) and ``ivf_probes`` (each query's best cells).

Every cosine path — the exact baseline, IVF, LSH, the PQ, IVF-PQ and
binary re-ranks, MMR and the evals — takes its vectors through
``functions.vectors.live``, so zero-norm and NULL vectors sit out as
queries and as neighbours, and scores pairs with ``pair_cos``. The
per-query top-k is written once (``_topk``), and so is the exact
re-rank of a candidate shortlist (``_exact_topk``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.stable import mean_e12, mean_e12_sql
from ..functions.vectors import (
    as_double, cosine_sql, dot, dot_sql, live, md5_plane, norm, pair_cos,
)
from ..functions.guards import nonzero
from ..functions.localframe import local_frame
from ..registry import register
from ..session import load_table, pin, tiny_frame_key

N_QUERIES = 8  # vec_id < 8 are the demo query vectors
TOP_K = 5

TOPK_ORACLE = f"""
WITH e AS (SELECT vec_id, embedding FROM embeddings),
q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         ROUND({cosine_sql('q.embedding', 'e.embedding')}, 6) AS cos_sim
  FROM q JOIN e ON q.vec_id != e.vec_id
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id) AS rnk
  FROM scored
)
SELECT query_id, neighbor_id, cos_sim, rnk FROM ranked WHERE rnk <= {TOP_K}
"""


def _live_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(vec_id, v, nrm)`` — the :func:`live` double vectors of the
    ``embeddings`` table."""
    return live(
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id", as_double("embedding").alias("v")
        )
    )


def _queries(emb: DataFrame, *keep: str) -> DataFrame:
    """``(query_id, qv, *q<keep>)`` — the N_QUERIES demo query vectors
    of ``emb``; callers holding a :func:`live` frame keep ``nrm``, which
    arrives as ``qnrm``."""
    return emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        *[F.col(c).alias(f"q{c}") for c in keep],
    )


def _topk(scored: DataFrame, *by: str) -> DataFrame:
    """Each query's TOP_K rows of ``scored`` ``(*by, query_id,
    neighbor_id, cos_sim, ...)`` with their ``rnk``, ranked on (rounded
    cosine desc, neighbor_id) — the deterministic total order every
    cosine oracle shares. ``by`` names extra partition keys (a sweep's
    depth or probe count)."""
    w = W.partitionBy(*by, "query_id").orderBy(F.desc("cos_sim"), "neighbor_id")
    return (
        scored.select("*", F.row_number().over(w).cast("long").alias("rnk"))
        .filter(F.col("rnk") <= TOP_K)
    )


def _exact_topk(emb: DataFrame, cand: DataFrame, *by: str) -> DataFrame:
    """The exact re-rank of a candidate shortlist ``cand`` ``(*by,
    query_id, neighbor_id)``: each pair joins its neighbour's vector
    from the :func:`live` frame ``emb`` and its query's from the
    broadcast query split, is scored by exact cosine and cut to the
    :func:`_topk`. A pair with a zero-norm or NULL side drops at the
    join."""
    scored = (
        cand.join(emb, F.col("neighbor_id") == F.col("vec_id"))
        .join(F.broadcast(_queries(emb, "nrm")), "query_id")
        .select(
            *by, "query_id", "neighbor_id",
            pair_cos("qv", "v", "qnrm", "nrm").alias("cos_sim"),
        )
    )
    return _topk(scored, *by)


@register("sim_topk_bruteforce", oracle=TOPK_ORACLE, tags=("similarity", "llm", "bench"))
def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k: broadcast the (small) query set against every
    live vector, rank per query on (rounded cosine desc, neighbor_id) —
    a deterministic total order shared with the oracle. The scan side is
    never shuffled; only Q·N scored rows enter the per-query top-k."""
    emb = _live_embeddings(spark, sf_dir)
    scored = emb.join(
        F.broadcast(_queries(emb, "nrm")), F.col("query_id") != F.col("vec_id")
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        pair_cos("qv", "v", "qnrm", "nrm").alias("cos_sim"),
    )
    return _topk(scored)


N_CENTROIDS = 16
N_PROBE = 2
IVF_C_LO, IVF_C_HI = 8, 8 + N_CENTROIDS  # vec_ids used as fixed centroids

IVF_ORACLE = f"""
WITH e AS (SELECT vec_id, embedding FROM embeddings),
cent AS (SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings
         WHERE vec_id >= {IVF_C_LO} AND vec_id < {IVF_C_HI}),
assign AS (
  SELECT vec_id, c_id, ROW_NUMBER() OVER (
           PARTITION BY vec_id
           ORDER BY ROUND({cosine_sql('embedding', 'c_emb')}, 6) DESC, c_id) AS crnk
  FROM e, cent
),
clustered AS (SELECT vec_id, c_id AS cluster FROM assign WHERE crnk = 1),
q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM e WHERE vec_id < {N_QUERIES}),
probes AS (
  SELECT query_id, c_id AS probe_cluster, ROW_NUMBER() OVER (
           PARTITION BY query_id
           ORDER BY ROUND({cosine_sql('q_emb', 'c_emb')}, 6) DESC, c_id) AS prnk
  FROM q, cent
),
cand AS (
  SELECT DISTINCT p.query_id, c.vec_id AS neighbor_id
  FROM probes p JOIN clustered c ON c.cluster = p.probe_cluster
  WHERE p.prnk <= {N_PROBE} AND c.vec_id != p.query_id
),
scored AS (
  SELECT cand.query_id, cand.neighbor_id,
         ROUND({cosine_sql('qe.embedding', 'ne.embedding')}, 6) AS cos_sim
  FROM cand
  JOIN e qe ON qe.vec_id = cand.query_id
  JOIN e ne ON ne.vec_id = cand.neighbor_id
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id) AS rnk
  FROM scored
)
SELECT query_id, neighbor_id, cos_sim, rnk FROM ranked WHERE rnk <= {TOP_K}
"""


def fixed_anchors(emb: DataFrame) -> DataFrame:
    """``(c_id, k, c_emb)`` — the N_CENTROIDS fixed anchor vectors
    (vec_id IVF_C_LO..IVF_C_HI-1) that serve as the IVF coarse
    quantizer's centroids (``c_id`` = vec_id) and as the PQ codebook
    entries (``k`` = 0-based code). Fixed, so every quantizer built on
    them is deterministic and oracle-checkable."""
    return emb.filter(
        (F.col("vec_id") >= IVF_C_LO) & (F.col("vec_id") < IVF_C_HI)
    ).select(
        F.col("vec_id").alias("c_id"),
        (F.col("vec_id") - IVF_C_LO).alias("k"),
        F.col("v").alias("c_emb"),
    )


# The coarse quantizer: ivf_cells assigns every vector to its cell,
# ivf_probes ranks each query's best cells. Every IVF path (fixed,
# trained, IVF-PQ, nprobe sweep) goes through these two, so all share
# one set of non-finite guards (ADVICE r08/r09, tests/test_guards_r10.py):
# - zero-norm / NULL centroids, vectors and queries sit out: cosine to
#   them is undefined;
# - under ANSI (this session's default) a zero norm throws
#   DIVIDE_BY_ZERO at the division itself, before any filter can run,
#   so the division is when()-guarded and yields NULL there;
# - the NaN/NULL orderings of the two rankings disagree: desc(ccos)
#   sorts NaN first and NULL last, min(struct(-ccos, …)) sorts NaN last
#   and NULL first (a NULL would win). So non-finite scores are dropped
#   explicitly, and NULL needs its own isNotNull(): isnan(NULL) is
#   false, so ~isnan alone passes it.


def _live_centroids(cent: DataFrame) -> DataFrame:
    # K-sized frame, free filter
    return live(cent, "c_emb").withColumnRenamed("nrm", "cnrm")


def _cell_cos(v: str, nrm: str) -> F.Column:
    """Rounded cosine of ``v`` to the centroid ``c_emb``, NULL when
    either norm is zero. Norms are precomputed per vector/centroid
    below the joins (as for ``pair_cos``), so the pairwise stage folds
    only the dot — bit-unchanged."""
    den = F.col(nrm) * F.col("cnrm")
    return F.round(F.when(den != 0, dot(F.col(v), F.col("c_emb")) / den), 6)


def ivf_cells(emb: DataFrame, cent: DataFrame, keep: tuple[str, ...] = ()) -> DataFrame:
    """``(vec_id, cluster, *keep)`` — every vector of the :func:`live`
    frame ``emb`` ``(vec_id, v, nrm)`` assigned to its max-cosine
    centroid of ``cent`` ``(c_id, c_emb)``, ties to the lower c_id.
    ``keep`` names columns of ``emb`` to carry through.

    Struct-min argmax (ccos desc via exact negation): map-side
    combinable, so each vector's K candidate rows collapse before any
    exchange instead of a row_number window shuffling the corpus×K
    frame. ``keep`` rides in the struct tail (c_id is unique per group,
    so it never compares); a caller that needs no vector keeps none, and
    its shuffle carries no 64-double payload."""
    return (
        emb.crossJoin(F.broadcast(_live_centroids(cent)))
        .select("vec_id", _cell_cos("v", "nrm").alias("ccos"), "c_id", *keep)
        .filter(F.col("ccos").isNotNull() & ~F.isnan("ccos"))
        .groupBy("vec_id")
        .agg(F.min(F.struct((-F.col("ccos")).alias("nc"), "c_id", *keep)).alias("b"))
        .select("vec_id", F.col("b.c_id").alias("cluster"), *[F.col(f"b.{c}") for c in keep])
    )


def ivf_probes(
    q: DataFrame, cent: DataFrame, depth: int, keep: tuple[str, ...] = ()
) -> DataFrame:
    """``(query_id, probe_cluster, prnk, *keep)`` — each query of ``q``
    ``(query_id, qv, qnrm)``, split from a :func:`live` frame, probes
    its ``depth`` best cells of ``cent`` by rounded cosine, ties to the
    lower c_id. ``keep`` names columns of ``q`` to carry through. Q·K
    rows, one window."""
    w = W.partitionBy("query_id").orderBy(F.desc("qcos"), "c_id")
    return (
        q.crossJoin(F.broadcast(_live_centroids(cent)))
        .select("query_id", "c_id", _cell_cos("qv", "qnrm").alias("qcos"), *keep)
        .withColumn("prnk", F.row_number().over(w))
        .filter(F.col("prnk") <= depth)
        .select("query_id", F.col("c_id").alias("probe_cluster"), "prnk", *keep)
    )


@register("sim_topk_ivf", oracle=IVF_ORACLE, tags=("similarity", "llm", "approx"))
def sim_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style approximate top-k: a fixed coarse quantizer (16 fixed
    vectors as centroids — deterministic, so unlike the random-plane LSH
    variant this ANN path is fully DuckDB-oracle-checkable), every
    vector assigned to its nearest centroid, queries probing their
    N_PROBE nearest cells, exact cosine re-rank inside the probed cells.

    Scale shape: assignment is a broadcast of K centroids against N
    vectors (narrow, no shuffle); the probe join shuffles on cluster id
    and touches ~N_PROBE/K of the corpus per query — the same inverted-
    file structure FAISS IVF uses, minus the k-means training step
    (centroid QUALITY is pluggable; the plan shape is the point)."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("v")
    )
    return _ivf_topk(emb, fixed_anchors(emb))


def _ivf_topk(emb: DataFrame, cent: DataFrame) -> DataFrame:
    """IVF search given a centroid table ``(c_id, c_emb)``: assign every
    vector to its max-cosine centroid, probe each query's N_PROBE best
    cells, exact re-rank inside the probed cells. Zero-norm / NULL
    vectors and queries sit out (:func:`live`), and so do such
    centroids (:func:`ivf_cells`)."""
    emb = live(emb)
    clustered = ivf_cells(emb, cent, keep=("v", "nrm"))
    probes = ivf_probes(_queries(emb, "nrm"), cent, N_PROBE, keep=("qv", "qnrm"))
    cand = (
        clustered.join(
            F.broadcast(probes),
            (F.col("cluster") == F.col("probe_cluster"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id", "qv", "qnrm", F.col("vec_id").alias("neighbor_id"), "v", "nrm"
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    return _topk(
        cand.select(
            "query_id", "neighbor_id", pair_cos("qv", "v", "qnrm", "nrm").alias("cos_sim")
        )
    )


KMEANS_ITERS = 4

# Why the trainers use mean_e12, not dec_avg(col, 12): Spark's decimal
# division applies precision-loss scale adjustment — dec_sum at scale 12
# silently rounds the SUM to 6 decimals while the DuckDB mirror keeps
# all 12, so the trained centroids differed cross-engine at ~1e-7 and
# oracle parity rested on 6-dp cosine rounding masking it (it did, on
# the r05 fixtures — luck, not a contract). mean_e12 is the exact
# integer mean, bit-identical in both engines (functions/stable.py).


def train_ivf_centroids(emb: DataFrame, iters: int = KMEANS_ITERS) -> DataFrame:
    """Deterministic spherical k-means for the IVF coarse quantizer.

    Init = the same 16 fixed vectors the oracle-twin quantizer uses, so
    the whole procedure has no RNG state. Each Lloyd round: assign every
    vector to its max-cosine centroid (broadcast of K×64 doubles — a
    narrow pass over the corpus), then recompute each centroid as the
    per-dimension mean of its members. Means use the split-long exact
    accumulator (order-independent), so training is bit-reproducible on
    any partitioning — without that, double partial-sum order would make
    centroids (and therefore candidates) drift run-to-run. Cosine
    assignment + un-normalized mean is spherical k-means: the centroid's
    norm is irrelevant to cosine, only its direction matters.

    Scale note: per round, one crossJoin-with-broadcast scan whose
    struct-min argmax collapses each vector's K candidate rows
    map-side (partial aggregate) before any exchange, then one
    (cluster, dim)-keyed shuffle whose partials reduce to K·D cells
    per partition; at 100 TB you train on a sample (this is what FAISS
    does) — the procedure is unchanged, only the input frame is
    sampled. Only K·D doubles ever reach the driver per round."""
    spark = emb.sparkSession
    # one corpus hop for the fixed init vectors; thereafter the K
    # centroids live in this driver dict (the old shape re-collected
    # the centroid frame it had just built from the same dict, an
    # extra job per round — and in round 1 a second corpus-filter
    # scan).
    # a NULL embedding in the fixed init range cannot seed a centroid
    # (list(None) is a driver TypeError); it sits out like it does in
    # assignment. A zero-norm seed needs no special case: the guarded
    # assignment gives it no members, so it carries forward inert.
    prev = {
        int(r["c_id"]): list(r["c_emb"])
        for r in fixed_anchors(emb).filter(F.col("c_emb").isNotNull()).collect()
    }
    # local_frame, not createDataFrame (r13): the per-round centroid
    # frame was an RDD leaf — every Lloyd round paid a pickle →
    # parallelize → Scan ExistingRDD → broadcast-collect round-trip
    # for K rows the driver already holds. A VALUES-literal
    # LocalRelation broadcasts directly.
    cent = local_frame(spark, sorted(prev.items()), "c_id int, c_emb array<double>")
    # a zero-norm or NULL vector sits out every round
    vecs = live(emb)
    for _ in range(iters):
        # v rides through the assignment to the per-cell means
        means = (
            ivf_cells(vecs, cent, keep=("v",))
            .select(F.col("cluster").alias("c_id"), F.posexplode("v").alias("dim", "val"))
            .groupBy("c_id", "dim")
            .agg(mean_e12("val").alias("m"))
        )
        rows = means.collect()  # K·D cells only — the one tiny driver hop
        by_c: dict[int, list[float]] = {}
        for r in rows:
            by_c.setdefault(r["c_id"], [0.0] * 64)[r["dim"]] = r["m"]
        # empty clusters keep their previous centroid (standard Lloyd fix)
        prev.update(by_c)
        cent = local_frame(
            spark, sorted(prev.items()), "c_id int, c_emb array<double>"
        )
    return cent


def _ivf_trained_oracle(iters: int = KMEANS_ITERS) -> str:
    """DuckDB twin of :func:`train_ivf_centroids` + :func:`_ivf_topk`:
    the Lloyd loop has a FIXED iteration count and every step is
    deterministic (rounded-cosine argmax assignment, exact decimal
    means, carry-forward for empty clusters), so the whole training run
    unrolls into ``iters`` sequential CTE stages — no recursion needed.
    ``cent{{i+1}}`` = per-(cluster, dim) decimal mean of ``cent{{i}}``'s
    assignment, COALESCEd against ``cent{{i}}`` for empty clusters,
    exactly mirroring the Spark trainer's collect/reassemble round."""
    parts = [
        f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings WHERE embedding IS NOT NULL
),
cent0 AS (
  SELECT vec_id AS c_id, v AS c_emb FROM e
  WHERE vec_id >= {IVF_C_LO} AND vec_id < {IVF_C_HI}
)"""
    ]
    for i in range(iters):
        parts.append(
            f""",
assign{i} AS (
  SELECT e.vec_id, e.v, c.c_id,
         ROW_NUMBER() OVER (PARTITION BY e.vec_id
           ORDER BY ROUND({cosine_sql('e.v', 'c.c_emb')}, 6) DESC, c.c_id) AS crnk
  FROM e, cent{i} c
),
cells{i} AS (
  SELECT a.c_id, t.dim, {mean_e12_sql('a.v[t.dim + 1]')} AS mu
  FROM (SELECT vec_id, v, c_id FROM assign{i} WHERE crnk = 1) a, range(64) t(dim)
  GROUP BY a.c_id, t.dim
),
newcent{i} AS (
  SELECT c_id, list(mu ORDER BY dim) AS c_emb FROM cells{i} GROUP BY c_id
),
cent{i + 1} AS (
  SELECT c.c_id, COALESCE(n.c_emb, c.c_emb) AS c_emb
  FROM cent{i} c LEFT JOIN newcent{i} n ON c.c_id = n.c_id
)"""
        )
    cent = f"cent{iters}"
    parts.append(
        f""",
clustered AS (
  SELECT vec_id, c_id AS cluster FROM (
    SELECT e.vec_id, c.c_id, ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY ROUND({cosine_sql('e.v', 'c.c_emb')}, 6) DESC, c.c_id) AS crnk
    FROM e, {cent} c
  ) WHERE crnk = 1
),
q AS (SELECT vec_id AS query_id, v AS q_emb FROM e WHERE vec_id < {N_QUERIES}),
probes AS (
  SELECT query_id, c_id AS probe_cluster, ROW_NUMBER() OVER (
           PARTITION BY query_id
           ORDER BY ROUND({cosine_sql('q_emb', 'c_emb')}, 6) DESC, c_id) AS prnk
  FROM q, {cent}
),
cand AS (
  SELECT DISTINCT p.query_id, c.vec_id AS neighbor_id
  FROM probes p JOIN clustered c ON c.cluster = p.probe_cluster
  WHERE p.prnk <= {N_PROBE} AND c.vec_id != p.query_id
),
scored AS (
  SELECT cand.query_id, cand.neighbor_id,
         ROUND({cosine_sql('qe.v', 'ne.v')}, 6) AS cos_sim
  FROM cand
  JOIN e qe ON qe.vec_id = cand.query_id
  JOIN e ne ON ne.vec_id = cand.neighbor_id
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id) AS rnk
  FROM scored
)
SELECT query_id, neighbor_id, cos_sim, rnk FROM ranked WHERE rnk <= {TOP_K}
"""
    )
    return "".join(parts)


@register(
    "sim_topk_ivf_trained",
    oracle=_ivf_trained_oracle(),
    tags=("similarity", "llm", "approx"),
)
def sim_topk_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k with a k-means-TRAINED coarse quantizer — the recall
    upgrade over sim_topk_ivf's fixed centroids. ORACLE-CHECKED as of
    r06 (upgraded from rows-only): the Lloyd loop is a FIXED number of
    deterministic rounds — rounded-cosine assignment, exact decimal
    means, empty-cluster carry-forward — so the oracle unrolls training
    into sequential CTE stages (:func:`_ivf_trained_oracle`) and
    replays the identical search. Same search structure, better cell
    boundaries: recall@k vs the exact baseline is asserted ≥ the
    fixed-centroid variant's in tests/test_llm_ops.py."""
    emb = (
        load_table(spark, sf_dir, "embeddings")
        # fail-soft: rows with no embedding can neither train nor match
        .filter(F.col("embedding").isNotNull())
        .select("vec_id", as_double("embedding").alias("v"))
        .transform(pin)  # scanned once per Lloyd round + twice in the search
    )
    return _ivf_topk(emb, train_ivf_centroids(emb))


QUANTIZE_ORACLE = """
WITH s AS (
  SELECT vec_id,
         GREATEST(list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))),
                  1e-30) / 127.0 AS scale
  FROM embeddings
)
SELECT e.vec_id,
       ROUND(s.scale, 9) AS scale,
       array_to_string(
         list_transform(CAST(e.embedding AS DOUBLE[]),
                        x -> CAST(GREATEST(LEAST(FLOOR(x / s.scale + 0.5), 127), -127)
                                  AS INTEGER)),
         ',') AS q
FROM embeddings e JOIN s ON e.vec_id = s.vec_id
"""


@register("emb_quantize_int8", oracle=QUANTIZE_ORACLE, tags=("similarity", "llm"))
def emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column (max-abs
    scaling, the standard pre-index compression for ANN at scale: 4×
    smaller vectors, SIMD-friendly integer dot products). Quantized
    value = clip(floor(x/scale + 0.5), ±127) — floor(+0.5) is the one
    rounding rule both engines express identically. Pure higher-order
    expressions, one narrow pass, no shuffle. The int8 vector is emitted
    as a ','-joined string because the driver's canonicalizer hashes
    scalar cells only (array cells raise unhashable-type)."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("v")
    )
    scale = F.greatest(
        F.array_max(F.transform("v", lambda x: F.abs(x))), F.lit(1e-30)
    ) / F.lit(127.0)
    with_scale = emb.select("vec_id", "v", scale.alias("scale"))
    q = F.transform(
        "v",
        lambda x: F.greatest(
            F.least(F.floor(x / F.col("scale") + 0.5), F.lit(127)), F.lit(-127)
        ).cast("int"),
    )
    # Round in a SEPARATE projection: inside a higher-order-function
    # lambda, F.col("scale") binds to a same-name SIBLING alias (Spark
    # 4 lateral-alias resolution — the r11 emb_l2_normalize bug class;
    # plain references resolve against the input, lambda-interior ones
    # do not). Same shape, pinned in tests/test_guards_r10.py.
    return with_scale.select(
        "vec_id",
        "scale",
        F.concat_ws(",", F.transform(q, lambda x: x.cast("string"))).alias("q"),
    ).select("vec_id", F.round("scale", 9).alias("scale"), "q")


N_PLANES = 6  # 64 buckets


def _plane_weights(spark: SparkSession):
    """Deterministic pseudo-random hyperplanes: plane p's weights are
    ``md5_plane(str(p))`` — reproducible across runs/engines, no RNG
    state to ship."""
    rows = [(p, md5_plane(str(p))) for p in range(N_PLANES)]
    # VALUES-literal LocalRelation, not an RDD leaf (r13 — the r12
    # flagship plane-bank recipe, shared helper): the constant bank
    # broadcast no longer pays an RDD scan + pickle round-trip.
    return local_frame(spark, rows, "plane int, w array<double>")


def _lsh_oracle() -> str:
    """DuckDB twin of the full LSH pipeline. The hyperplanes are
    md5-derived constants (same generator as _plane_weights) emitted as
    list literals; sign bits come from the same sequential-fold double
    dot product both engines compute bit-identically, so buckets,
    probes, candidates and the re-ranked top-k all hash-match — an
    APPROXIMATE operator with an EXACT oracle, because every source of
    randomness is deterministic and engine-independent."""
    planes = ",\n    ".join(
        f"({p}, [{', '.join(map(repr, md5_plane(str(p))))}]::DOUBLE[])"
        for p in range(N_PLANES)
    )
    probe_list = ", ".join(["qb"] + [f"xor(qb, {1 << p})" for p in range(N_PLANES)])
    return f"""
WITH planes(plane, w) AS (VALUES
    {planes}
),
e AS (SELECT vec_id, embedding FROM embeddings),
bits AS (
  SELECT e.vec_id, p.plane,
         CASE WHEN {dot_sql('e.embedding', 'p.w')} > 0 THEN 1 ELSE 0 END AS bit
  FROM e, planes p
),
bucketed AS (
  SELECT vec_id, CAST(SUM(bit * (1 << plane)) AS BIGINT) AS bucket
  FROM bits GROUP BY vec_id
),
q AS (SELECT vec_id AS query_id, bucket AS qb FROM bucketed WHERE vec_id < {N_QUERIES}),
probes AS (
  SELECT query_id, unnest([{probe_list}]) AS probe_bucket FROM q
),
cand AS (
  SELECT DISTINCT p.query_id, b.vec_id AS neighbor_id
  FROM probes p JOIN bucketed b ON b.bucket = p.probe_bucket
  WHERE b.vec_id != p.query_id
),
scored AS (
  SELECT cand.query_id, cand.neighbor_id,
         ROUND({cosine_sql('qe.embedding', 'ne.embedding')}, 6) AS cos_sim
  FROM cand
  JOIN e qe ON qe.vec_id = cand.query_id
  JOIN e ne ON ne.vec_id = cand.neighbor_id
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id) AS rnk
  FROM scored
)
SELECT query_id, neighbor_id, cos_sim, rnk FROM ranked WHERE rnk <= {TOP_K}
"""


@register("sim_topk_lsh", oracle=_lsh_oracle(), tags=("similarity", "llm", "approx"))
def sim_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate cosine top-k via random-hyperplane LSH with one-bit
    multi-probe. Each vector gets a bucket id from the sign pattern of
    dot products with N_PLANES md5-derived hyperplanes; queries probe
    their own bucket plus each one-bit-flipped bucket; exact cosine
    re-ranks candidates. Fully oracled (r03 upgrade from rows-only):
    the hyperplanes are deterministic constants and the sign bits come
    from the engines' bit-identical sequential-fold dot product, so the
    approximation itself is reproducible — see _lsh_oracle."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("v")
    )
    planes = _plane_weights(spark)
    # sign bits → bucket id, one narrow pass (explode planes is 6 rows/vec)
    with_bits = (
        emb.crossJoin(F.broadcast(planes))
        .select(
            "vec_id",
            "v",
            "plane",
            F.when(
                F.aggregate(
                    F.zip_with(F.col("v"), F.col("w"), lambda x, y: x * y),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                > 0,
                1,
            )
            .otherwise(0)
            .alias("bit"),
        )
    )
    bucketed = with_bits.groupBy("vec_id").agg(
        F.first("v").alias("v"),
        F.sum(F.expr("shiftleft(cast(bit as bigint), plane)")).alias("bucket"),
    )
    data = live(bucketed)
    # multi-probe: own bucket + flip each bit once
    probes = _queries(data, "nrm", "bucket").select(
        "query_id",
        "qv",
        "qnrm",
        F.explode(
            F.array(
                F.col("qbucket"),
                *[
                    F.expr(f"cast(qbucket as bigint) ^ cast({1 << p} as bigint)")
                    for p in range(N_PLANES)
                ],
            )
        ).alias("probe_bucket"),
    )
    cand = data.join(
        F.broadcast(probes),
        (F.col("bucket") == F.col("probe_bucket")) & (F.col("vec_id") != F.col("query_id")),
    ).select(
        "query_id", "qv", "qnrm", F.col("vec_id").alias("neighbor_id"), "v", "nrm"
    ).dropDuplicates(["query_id", "neighbor_id"])
    return _topk(
        cand.select(
            "query_id", "neighbor_id", pair_cos("qv", "v", "qnrm", "nrm").alias("cos_sim")
        )
    )


# ---------------------------------------------------------------------------
# Centroid-distance outlier detection (embedding-space data quality)
# ---------------------------------------------------------------------------

OUTLIER_K = 5  # flag the K least-central vectors per label

CENTROID_OUTLIER_ORACLE = f"""
WITH ex AS (
  SELECT vec_id, label,
         unnest(embedding) AS val,
         unnest(generate_series(1, len(embedding))) AS pos
  FROM embeddings
), cent AS (
  SELECT label, pos, {mean_e12_sql('CAST(val AS DOUBLE)')} AS cval
  FROM ex GROUP BY label, pos
), centarr AS (
  SELECT label, list(cval ORDER BY pos) AS centroid FROM cent GROUP BY label
), scored AS (
  SELECT e.vec_id, e.label,
         ROUND({cosine_sql('e.embedding', 'c.centroid')}, 6) AS cos_centroid
  FROM embeddings e JOIN centarr c ON e.label = c.label
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY label
                               ORDER BY cos_centroid ASC, vec_id) AS rnk
  FROM scored
)
SELECT vec_id, label, cos_centroid, rnk FROM ranked WHERE rnk <= {OUTLIER_K}
"""


@register(
    "emb_centroid_outliers", oracle=CENTROID_OUTLIER_ORACLE, tags=("similarity", "llm")
)
def emb_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space outlier detection: per-label centroid (exact
    order-independent per-dimension integer mean — functions/stable.py::mean_e12;
    r06 replaced dec_avg(val, 9), whose Spark decimal division silently
    rounds the sum to 6 decimals while the SQL mirror kept all 9 — a
    latent cross-engine divergence previously masked by the 6-dp cosine
    rounding), then the K vectors least cosine-similar to their label's
    centroid — the standard mislabeled/poisoned-sample screen for
    training corpora.

    Plan shape: posexplode → one (label, dim)-keyed map-side-combined
    shuffle of |labels|·D cells → centroids re-assembled and BROADCAST
    (K·D doubles) → one narrow scoring pass over the corpus → per-label
    top-k window. The corpus is scanned exactly twice and never
    shuffled on a wide key — at 100 TB the explode shuffle carries
    |labels|·D·P partial cells, not N·D rows, thanks to partial
    aggregation."""
    emb = live(
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "label", as_double("embedding").alias("v")
        )
    )
    ex = emb.select("vec_id", "label", F.posexplode("v").alias("pos", "val"))
    cent = ex.groupBy("label", "pos").agg(mean_e12("val").alias("cval"))
    centarr = (
        cent.groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "cval"))).alias("pc"))
        .select("label", F.transform("pc", lambda s: s["cval"]).alias("centroid"))
        .withColumn("cnrm", norm(F.col("centroid")))  # folded once per label
    )
    scored = emb.join(F.broadcast(centarr), "label").select(
        "vec_id", "label", pair_cos("v", "centroid", "nrm", "cnrm").alias("cos_centroid")
    )
    w = W.partitionBy("label").orderBy(F.col("cos_centroid").asc(), "vec_id")
    return (
        scored.select("*", F.row_number().over(w).alias("rnk"))
        .filter(F.col("rnk") <= OUTLIER_K)
    )


# ---------------------------------------------------------------------------
# Product quantization: encode + asymmetric-distance (ADC) top-k
# ---------------------------------------------------------------------------

PQ_M = 16  # subspaces
PQ_SUB = 4  # dims per subspace (M * SUB = 64)
PQ_K = 16  # codebook entries per subspace (anchors reused from IVF)
# M=16/SUB=4 measured recall@5 = 0.20 vs exact L2 on the near-random
# synthetic vectors (vs 0.125 at M=8, chance = 1%); finer subspaces cut
# per-cell quantization error, the classic PQ granularity trade. Trained
# per-subspace codebooks (the train_ivf_centroids analog) are the next
# quality lever; the untrained anchors keep the op oracle-checkable.


def _pq_subdist(v: str, a: str, elem: str) -> str:
    """Squared L2 between the m-th subvectors of ``v`` and ``a`` as a
    ×1e6 BIGINT (so downstream sums are exact integer arithmetic).
    ``elem`` is the 1-based element accessor: DuckDB's ``x[i]`` IS
    1-based, Spark's ``x[i]`` is 0-based, so Spark must use
    element_at — passing the accessor keeps one formula for both."""
    terms = " + ".join(
        f"({elem.format(x=v, i=f'm*{PQ_SUB}+{j}')} - {elem.format(x=a, i=f'm*{PQ_SUB}+{j}')})"
        f" * ({elem.format(x=v, i=f'm*{PQ_SUB}+{j}')} - {elem.format(x=a, i=f'm*{PQ_SUB}+{j}')})"
        for j in range(1, PQ_SUB + 1)
    )
    return f"CAST(ROUND(({terms}) * 1000000) AS BIGINT)"


_DUCK_ELEM = "{x}[{i}]"
_SPARK_ELEM = "element_at({x}, {i})"


def _pq_encode_oracle() -> str:
    subdist = _pq_subdist("e.v", "anchors.a", _DUCK_ELEM)
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), anchors AS (
  SELECT vec_id - {IVF_C_LO} AS k, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS a
  FROM embeddings WHERE vec_id >= {IVF_C_LO} AND vec_id < {IVF_C_HI}
), s AS (SELECT unnest(generate_series(0, {PQ_M - 1})) AS m),
d AS (
  SELECT e.vec_id, s.m, anchors.k, {subdist} AS dist_e6
  FROM e, s, anchors
), best AS (
  SELECT vec_id, m, k, dist_e6,
         ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY dist_e6, k) AS rnk
  FROM d
)
SELECT vec_id,
       string_agg(CAST(k AS VARCHAR), '|' ORDER BY m) AS codes,
       CAST(SUM(dist_e6) AS BIGINT) AS quant_err_e6
FROM best WHERE rnk = 1
GROUP BY vec_id
"""


def _pq_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(vec_id, m, k, dist_e6)`` — nearest codebook entry per
    (vector, subspace), ties to lower k, NULL distances last.
    Lexicographic struct-min == the (dist_e6 asc nulls last, k asc)
    window top-1, but as a partial-aggregable MIN: the N·M·K
    candidate frame is combined map-side to N·M rows BEFORE any
    exchange — no sort, no shuffle of the expanded frame
    (the window formulation this replaced sorted it). A fully map-only
    rewrite via transform/array_min higher-order functions was measured
    2x SLOWER — HOF lambdas evaluate interpreted, outside whole-stage
    codegen; this hash-agg form keeps the distance expression
    codegen'd. Shared by emb_pq_encode and sim_topk_pq (the ADC scan
    consumes the code ROWS, not the display string)."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("v")
    )
    anchors = fixed_anchors(emb).select("k", F.col("c_emb").alias("a"))
    m = spark.range(PQ_M).select(F.col("id").cast("int").alias("m"))
    subdist = F.expr(_pq_subdist("v", "a", _SPARK_ELEM))
    d = (
        emb.crossJoin(F.broadcast(m))
        .crossJoin(F.broadcast(anchors))
        .select("vec_id", "m", "k", subdist.alias("dist_e6"))
    )
    # A NULL field sorts first in a struct min, so a NULL anchor's NULL
    # distance would win; the leading IS NULL flag puts it last, as the
    # oracle's ORDER BY dist_e6 (NULLS LAST) does.
    best = F.struct(F.col("dist_e6").isNull().alias("d_null"), "dist_e6", "k")
    return (
        d.groupBy("vec_id", "m")
        .agg(F.min(best).alias("b"))
        .select("vec_id", "m", F.col("b.k").alias("k"), F.col("b.dist_e6").alias("dist_e6"))
    )


@register("emb_pq_encode", oracle=_pq_encode_oracle(), tags=("similarity", "llm"))
def emb_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding: split each 64-dim vector into
    PQ_M subspaces of PQ_SUB dims, snap every subvector to its nearest
    codebook entry (squared L2 in exact ×1e6 integers, ties to the
    lower code), emit the per-vector code string plus total
    quantization error. The codebook reuses the PQ_K fixed anchor
    vectors the IVF quantizer uses (their subvectors), so the encoding
    is deterministic and oracle-checkable — swap in trained
    sub-codebooks exactly as train_ivf_centroids does for IVF and
    nothing downstream changes.

    Scale shape: the codebook is M·K subvectors (constant bytes),
    broadcast twice into a narrow pass over N; each vector's M·K
    candidate distances collapse to M codes inside the per-(vec, m)
    window, and the only wide op is the final groupBy(vec_id) — both
    keyed by vec_id, so AQE reuses one partitioning. 64 floats become
    M small codes — the order-of-magnitude compression that lets a
    100 TB corpus's index fit in cluster RAM for ADC scans."""
    best = _pq_best(spark, sf_dir)
    return best.groupBy("vec_id").agg(
        F.concat_ws(
            "|",
            F.transform(F.array_sort(F.collect_list(F.struct("m", "k"))), lambda s: s["k"]),
        ).alias("codes"),
        F.sum("dist_e6").alias("quant_err_e6"),
    )


def _pq_adc_oracle(k: int = TOP_K) -> str:
    subdist_q = _pq_subdist("q.v", "anchors.a", _DUCK_ELEM)
    return f"""
WITH codes AS ({_pq_encode_oracle()}),
q AS (
  SELECT vec_id AS query_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings WHERE vec_id < {N_QUERIES}
), anchors AS (
  SELECT vec_id - {IVF_C_LO} AS k, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS a
  FROM embeddings WHERE vec_id >= {IVF_C_LO} AND vec_id < {IVF_C_HI}
), s AS (SELECT unnest(generate_series(0, {PQ_M - 1})) AS m),
lut AS (
  SELECT q.query_id, s.m, anchors.k, {subdist_q} AS d_e6
  FROM q, s, anchors
), cp AS (
  SELECT vec_id, string_split(codes, '|') AS parts FROM codes
), cvec AS (
  SELECT vec_id, i - 1 AS m, CAST(parts[i] AS BIGINT) AS k
  FROM cp, LATERAL (SELECT unnest(generate_series(1, len(parts))) AS i)
), scored AS (
  SELECT lut.query_id, cvec.vec_id AS neighbor_id, CAST(SUM(lut.d_e6) AS BIGINT) AS adc_dist_e6
  FROM cvec JOIN lut ON cvec.m = lut.m AND cvec.k = lut.k
  WHERE cvec.vec_id != lut.query_id
  GROUP BY lut.query_id, cvec.vec_id
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY adc_dist_e6, neighbor_id) AS rnk
  FROM scored
)
SELECT query_id, neighbor_id, adc_dist_e6, rnk FROM ranked WHERE rnk <= {k}
"""


@register("sim_topk_pq", oracle=_pq_adc_oracle(), tags=("similarity", "llm", "approx", "bench"))
def sim_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance top-k (ADC): each query precomputes its
    distance lookup table to every codebook entry (M·K exact-integer
    cells), then the corpus is scanned in CODE space only — per vector
    the approximate distance is the sum of M table lookups, never a
    touch of the original floats. Top-k per query on (ADC distance asc,
    neighbor_id).

    Scale shape: the LUT is Q·M·K integers — broadcast; the corpus side
    is the compact code table (M small ints per vector); the lookup
    join explodes codes to (vec, m, k) rows that hash-join the
    broadcast LUT and re-aggregate per (query, vec) — one shuffle keyed
    by the pair, then a per-query top-k window. This is the FAISS
    IVFADC inner loop as a dataflow; compose with the IVF cell
    restriction to probe only candidate cells at 100 TB."""
    scored = _pq_adc_scored(spark, sf_dir)
    w = W.partitionBy("query_id").orderBy("adc_dist_e6", "neighbor_id")
    return (
        scored.select("*", F.row_number().over(w).cast("long").alias("rnk"))
        .filter(F.col("rnk") <= TOP_K)
    )


def _pq_query_lut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(query_id, m, k, d_e6)`` — each query's asymmetric distance
    lookup table to every codebook entry, exact ×1e6 integers. Q·M·K
    rows total (constant per query), always broadcast."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("v")
    )
    anchors = fixed_anchors(emb).select("k", F.col("c_emb").alias("a"))
    m = spark.range(PQ_M).select(F.col("id").cast("int").alias("m"))
    subdist = F.expr(_pq_subdist("qv", "a", _SPARK_ELEM))
    return (
        _queries(emb).crossJoin(F.broadcast(m))
        .crossJoin(F.broadcast(anchors))
        .select("query_id", "m", "k", subdist.alias("d_e6"))
    )


def _pq_adc_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(query_id, neighbor_id, adc_dist_e6)`` — the full ADC scan:
    corpus code rows hash-join the broadcast query LUT on (m, k) and
    re-aggregate per (query, vector). Code rows come straight from the
    encoder core — no concat_ws/split string round-trip between encode
    and scan."""
    lut = _pq_query_lut(spark, sf_dir)
    cvec = _pq_best(spark, sf_dir).select("vec_id", "m", "k")
    return (
        cvec.join(F.broadcast(lut), ["m", "k"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("d_e6").alias("adc_dist_e6"))
    )


PQ_SHORTLIST = 20  # ADC candidates per query handed to the exact re-rank


def _pq_rerank_oracle() -> str:
    return f"""
WITH shortlist AS ({_pq_adc_oracle(PQ_SHORTLIST)}),
e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), rescored AS (
  SELECT s.query_id, s.neighbor_id,
         ROUND({cosine_sql('qe.v', 'ne.v')}, 6) AS cos_sim
  FROM shortlist s
  JOIN e qe ON qe.vec_id = s.query_id
  JOIN e ne ON ne.vec_id = s.neighbor_id
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id) AS rnk
  FROM rescored
)
SELECT query_id, neighbor_id, cos_sim, rnk FROM ranked WHERE rnk <= {TOP_K}
"""


@register(
    "sim_topk_pq_rerank", oracle=_pq_rerank_oracle(), tags=("similarity", "llm", "approx")
)
def sim_topk_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval: PQ ADC shortlist → exact re-rank — the
    standard production ANN shape (FAISS's IndexRefine). Stage 1 scans
    the corpus in code space only and keeps each query's PQ_SHORTLIST
    best candidates by approximate distance; stage 2 fetches the
    original floats for those few candidates and re-ranks them by exact
    cosine, returning the top TOP_K.

    Why this matters at 100 TB: the float table is ~64× the code table,
    so the expensive exact math touches Q·SHORTLIST rows instead of
    Q·N — the shortlist join back to the float store is a selective
    point-lookup join (at scale: against the vector store keyed by id),
    and recall approaches exact search as SHORTLIST grows while the
    full-precision work stays constant per query. Recall@k ≥ plain ADC
    recall is asserted in tests/test_llm_ops.py."""
    scored = _pq_adc_scored(spark, sf_dir)
    w = W.partitionBy("query_id").orderBy("adc_dist_e6", "neighbor_id")
    shortlist = (
        scored.select("*", F.row_number().over(w).alias("srnk"))
        .filter(F.col("srnk") <= PQ_SHORTLIST)
        .select("query_id", "neighbor_id")
    )
    return _exact_topk(_live_embeddings(spark, sf_dir), shortlist)


def _ivfpq_oracle() -> str:
    subdist_q = _pq_subdist("q.v", "anchors.a", _DUCK_ELEM)
    subdist_e = _pq_subdist("e.v", "anchors.a", _DUCK_ELEM)
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), cent AS (
  SELECT vec_id AS c_id, v AS c_emb FROM e
  WHERE vec_id >= {IVF_C_LO} AND vec_id < {IVF_C_HI}
), assign AS (
  SELECT e.vec_id, cent.c_id, ROW_NUMBER() OVER (
           PARTITION BY e.vec_id
           ORDER BY ROUND({cosine_sql('e.v', 'cent.c_emb')}, 6) DESC, cent.c_id) AS crnk
  FROM e, cent
), clustered AS (SELECT vec_id, c_id AS cluster FROM assign WHERE crnk = 1),
q AS (SELECT vec_id AS query_id, v FROM e WHERE vec_id < {N_QUERIES}),
probes AS (
  SELECT * FROM (
    SELECT q.query_id, cent.c_id AS probe_cluster, ROW_NUMBER() OVER (
             PARTITION BY q.query_id
             ORDER BY ROUND({cosine_sql('q.v', 'cent.c_emb')}, 6) DESC, cent.c_id) AS prnk
    FROM q, cent
  ) WHERE prnk <= {N_PROBE}
), anchors AS (
  SELECT vec_id - {IVF_C_LO} AS k, v AS a FROM e
  WHERE vec_id >= {IVF_C_LO} AND vec_id < {IVF_C_HI}
), s AS (SELECT unnest(generate_series(0, {PQ_M - 1})) AS m),
d AS (
  SELECT e.vec_id, s.m, anchors.k, {subdist_e} AS dist_e6
  FROM e, s, anchors
), cvec AS (
  SELECT vec_id, m, k FROM (
    SELECT vec_id, m, k,
           ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY dist_e6, k) AS rnk
    FROM d
  ) WHERE rnk = 1
), lut AS (
  SELECT q.query_id, s.m, anchors.k, {subdist_q} AS d_e6
  FROM q, s, anchors
), scored AS (
  SELECT p.query_id, cv.vec_id AS neighbor_id,
         CAST(SUM(lut.d_e6) AS BIGINT) AS adc_dist_e6
  FROM clustered c
  JOIN probes p ON p.probe_cluster = c.cluster AND c.vec_id != p.query_id
  JOIN cvec cv ON cv.vec_id = c.vec_id
  JOIN lut ON lut.query_id = p.query_id AND lut.m = cv.m AND lut.k = cv.k
  GROUP BY 1, 2
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY adc_dist_e6, neighbor_id) AS rnk
  FROM scored
)
SELECT query_id, neighbor_id, adc_dist_e6, rnk FROM ranked WHERE rnk <= {TOP_K}
"""


@register(
    "sim_topk_ivfpq", oracle=_ivfpq_oracle(), tags=("similarity", "llm", "approx", "scale")
)
def sim_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF + PQ composed — the actual FAISS IVFADC index as a dataflow:
    every corpus vector lives in one IVF cell (nearest fixed centroid)
    AND is stored as M PQ codes; a query probes its N_PROBE best cells
    and runs the broadcast-LUT ADC scan over ONLY the codes in those
    cells. Both stages are deterministic (fixed centroids, fixed
    anchors, exact ×1e6 integer distances), so unlike real FAISS the
    whole composed index is DuckDB-oracle-checkable.

    Scale shape — this is the query plan that survives 100 TB:
    cell assignment and PQ encoding are narrow broadcast passes done
    ONCE at index-build time (here inline; at scale: materialized,
    partitioned BY cluster so a probe prunes partitions); the per-query
    work is N_PROBE/K of the corpus scanned in code space (M bytes per
    vector, not 64 floats) against a broadcast Q·M·K LUT, then one
    (query, vector)-keyed partial-aggregated shuffle. Q·N appears
    nowhere; neither floats nor un-probed cells are ever touched at
    query time."""
    scored = _ivfpq_adc_scored(spark, sf_dir)
    w = W.partitionBy("query_id").orderBy("adc_dist_e6", "neighbor_id")
    return (
        scored.select("*", F.row_number().over(w).cast("long").alias("rnk"))
        .filter(F.col("rnk") <= TOP_K)
    )


def _ivfpq_adc_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(query_id, neighbor_id, adc_dist_e6)`` over probed cells only
    — the IVF-restricted ADC scan shared by sim_topk_ivfpq and its
    re-ranked variant. Zero-norm / NULL vectors and queries sit out
    (:func:`live`)."""
    emb = _live_embeddings(spark, sf_dir)
    cent = fixed_anchors(emb)
    clustered = ivf_cells(emb, cent)
    probes = ivf_probes(_queries(emb, "nrm"), cent, N_PROBE)
    # (vec, m, k, cluster): codes + cell in one vec_id-keyed join — the
    # materialized index layout. Probe restriction is a broadcast join
    # on cluster (Q·N_PROBE rows), then the ADC LUT lookup.
    coded = _pq_best(spark, sf_dir).select("vec_id", "m", "k").join(clustered, "vec_id")
    lut = _pq_query_lut(spark, sf_dir)
    return (
        coded.join(F.broadcast(probes), F.col("cluster") == F.col("probe_cluster"))
        .filter(F.col("vec_id") != F.col("query_id"))
        .join(F.broadcast(lut), ["query_id", "m", "k"])
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("d_e6").alias("adc_dist_e6"))
    )


# ---------------------------------------------------------------------------
# Trained PQ: per-subspace deterministic k-means sub-codebooks
# ---------------------------------------------------------------------------

PQ_KMEANS_ITERS = 2


def _pq_subvectors(emb: DataFrame) -> DataFrame:
    """``(vec_id, m, sv)`` — each vector's PQ_M subvectors."""
    arr = F.array(
        *[
            F.struct(
                F.lit(mm).cast("int").alias("m"),
                F.slice("v", mm * PQ_SUB + 1, PQ_SUB).alias("sv"),
            )
            for mm in range(PQ_M)
        ]
    )
    return emb.select("vec_id", F.explode(arr).alias("e")).select(
        "vec_id", F.col("e.m").alias("m"), F.col("e.sv").alias("sv")
    )


def _l2_e6(a, b) -> F.Column:
    """Squared L2 between two equal-length double arrays as ×1e6 long
    (zip_with + sequential fold: deterministic order, JVM codegen)."""
    sq = F.zip_with(a, b, lambda x, y: (x - y) * (x - y))
    return F.round(F.aggregate(sq, F.lit(0.0), lambda acc, x: acc + x) * 1_000_000).cast(
        "long"
    )


def train_pq_codebooks(emb: DataFrame, iters: int = PQ_KMEANS_ITERS) -> DataFrame:
    """Deterministic per-subspace k-means for PQ sub-codebooks
    ``(m, k, sv)``. Init = the fixed anchors' subvectors (no RNG); per
    Lloyd round, assignment is a broadcast M·K-codebook join against the
    subvector stream (argmin exact-integer L2, ties to lower k) and the
    new sub-centroids are exact split-long decimal means per
    (m, k, dim) — M·K·PQ_SUB cells to the driver per round, nothing
    else. Empty cells keep their previous entry (standard Lloyd fix).
    At 100 TB you train on a sample, exactly as FAISS does — the
    procedure is unchanged."""
    spark = emb.sparkSession
    anchors = fixed_anchors(emb).select(F.col("k").alias("vec_id"), F.col("c_emb").alias("v"))
    # one corpus hop for the anchor subvectors; thereafter the M·K
    # codebook lives in this driver dict (the old shape re-collected
    # the codebook frame it had just built from the same dict — an
    # extra job per round, and in round 1 a second anchor-filter scan).
    prev = {
        (int(r["m"]), int(r["k"])): list(r["a"])
        for r in _pq_subvectors(anchors)
        .select("m", F.col("vec_id").alias("k"), F.col("sv").alias("a"))
        .collect()
    }
    # local_frame for the same reason as the IVF trainer above (r13):
    # the per-round codebook is M·K driver-held rows, not an RDD.
    cb = local_frame(
        spark,
        [(m, k, v) for (m, k), v in sorted(prev.items())],
        "m int, k int, a array<double>",
    )
    subv = _pq_subvectors(emb)
    for _ in range(iters):
        # struct-min assignment (dist asc, k asc) — map-side combinable,
        # no window sort of the N·M·K candidate frame; sv rides along in
        # the struct tail (k is unique per group, so it never compares).
        assigned = (
            subv.join(F.broadcast(cb), "m")
            .select("vec_id", "m", "k", "sv", _l2_e6(F.col("sv"), F.col("a")).alias("dist_e6"))
            .groupBy("vec_id", "m")
            .agg(F.min(F.struct("dist_e6", "k", "sv")).alias("b"))
            .select(
                "vec_id", "m", F.col("b.k").alias("k"), F.col("b.sv").alias("sv")
            )
        )
        means = (
            assigned.select("m", "k", F.posexplode("sv").alias("dim", "val"))
            .groupBy("m", "k", "dim")
            .agg(mean_e12("val").alias("mu"))
        )
        cells = means.collect()  # M·K·PQ_SUB cells — the one driver hop
        by_mk: dict[tuple[int, int], list[float]] = {}
        for r in cells:
            by_mk.setdefault((r["m"], r["k"]), [0.0] * PQ_SUB)[r["dim"]] = r["mu"]
        # empty cells keep their previous entry (standard Lloyd fix)
        prev.update(by_mk)
        cb = local_frame(
            spark,
            [(m, k, v) for (m, k), v in sorted(prev.items())],
            "m int, k int, a array<double>",
        )
    return cb


def _l2_e6_sql(a: str, b: str) -> str:
    """DuckDB mirror of :func:`_l2_e6` — same zip/square/sequential-fold
    order (0.0 + t1 ≡ t1 exactly, so the fold equals a left-assoc sum)."""
    d = f"(CAST(t[1] AS DOUBLE) - CAST(t[2] AS DOUBLE))"
    return (
        f"CAST(ROUND(list_reduce(list_transform(list_zip({a}, {b}), "
        f"t -> {d} * {d}), (x, y) -> x + y) * 1000000) AS BIGINT)"
    )


def _pq_trained_oracle(iters: int = PQ_KMEANS_ITERS) -> str:
    """DuckDB twin of :func:`train_pq_codebooks` + the trained ADC scan:
    per-subspace Lloyd with a FIXED round count unrolls into sequential
    CTE stages (same argument as :func:`_ivf_trained_oracle`) — integer
    ×1e6 L2 assignment with ties to the lower code, exact decimal means
    per (m, k, dim), empty cells carried forward."""
    parts = [
        f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings WHERE embedding IS NOT NULL
),
sv AS (
  SELECT e.vec_id, t.m, e.v[t.m * {PQ_SUB} + 1 : t.m * {PQ_SUB} + {PQ_SUB}] AS sv
  FROM e, range({PQ_M}) t(m)
),
cb0 AS (
  SELECT t.m, e.vec_id - {IVF_C_LO} AS k,
         e.v[t.m * {PQ_SUB} + 1 : t.m * {PQ_SUB} + {PQ_SUB}] AS a
  FROM e, range({PQ_M}) t(m)
  WHERE e.vec_id >= {IVF_C_LO} AND e.vec_id < {IVF_C_HI}
)"""
    ]
    for i in range(iters):
        parts.append(
            f""",
asg{i} AS (
  SELECT s.vec_id, s.m, s.sv, c.k, ROW_NUMBER() OVER (
           PARTITION BY s.vec_id, s.m
           ORDER BY {_l2_e6_sql('s.sv', 'c.a')}, c.k) AS rnk
  FROM sv s JOIN cb{i} c ON s.m = c.m
),
cells{i} AS (
  SELECT a.m, a.k, t.dim, {mean_e12_sql('a.sv[t.dim + 1]')} AS mu
  FROM (SELECT m, k, sv FROM asg{i} WHERE rnk = 1) a, range({PQ_SUB}) t(dim)
  GROUP BY a.m, a.k, t.dim
),
newcb{i} AS (
  SELECT m, k, list(mu ORDER BY dim) AS a FROM cells{i} GROUP BY m, k
),
cb{i + 1} AS (
  SELECT c.m, c.k, COALESCE(n.a, c.a) AS a
  FROM cb{i} c LEFT JOIN newcb{i} n ON c.m = n.m AND c.k = n.k
)"""
        )
    cb = f"cb{iters}"
    parts.append(
        f""",
codes AS (
  SELECT vec_id, m, k FROM (
    SELECT s.vec_id, s.m, c.k, ROW_NUMBER() OVER (
             PARTITION BY s.vec_id, s.m
             ORDER BY {_l2_e6_sql('s.sv', 'c.a')}, c.k) AS rnk
    FROM sv s JOIN {cb} c ON s.m = c.m
  ) WHERE rnk = 1
),
lut AS (
  SELECT s.vec_id AS query_id, s.m, c.k, {_l2_e6_sql('s.sv', 'c.a')} AS d_e6
  FROM sv s JOIN {cb} c ON s.m = c.m
  WHERE s.vec_id < {N_QUERIES}
),
scored AS (
  SELECT lut.query_id, codes.vec_id AS neighbor_id,
         CAST(SUM(lut.d_e6) AS BIGINT) AS adc_dist_e6
  FROM codes JOIN lut ON codes.m = lut.m AND codes.k = lut.k
  WHERE codes.vec_id != lut.query_id
  GROUP BY lut.query_id, codes.vec_id
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY adc_dist_e6, neighbor_id) AS rnk
  FROM scored
)
SELECT query_id, neighbor_id, adc_dist_e6, rnk FROM ranked WHERE rnk <= {TOP_K}
"""
    )
    return "".join(parts)


@register(
    "sim_topk_pq_trained",
    oracle=_pq_trained_oracle(),
    tags=("similarity", "llm", "approx"),
)
def sim_topk_pq_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-k over TRAINED sub-codebooks: same dataflow as
    sim_topk_pq (encode corpus → broadcast per-query LUT → sum of M
    lookups → per-query window) with k-means sub-codebooks replacing
    the fixed anchors. ORACLE-CHECKED as of r06 (upgraded from
    rows-only): the per-subspace Lloyd loop is a fixed number of
    deterministic rounds, so the oracle unrolls training into
    sequential CTE stages (:func:`_pq_trained_oracle`) and replays the
    identical encode + ADC scan.

    What training buys: ~25% lower total quantization error after 2
    Lloyd rounds (asserted in tests — k-means provably never increases
    train-set SSE). On the structureless synthetic vectors recall@5
    stays ≈ the untrained 0.20 (there are no clusters to find); on real
    embedding corpora, which are heavily clustered, the error reduction
    is what converts into recall."""
    emb = (
        load_table(spark, sf_dir, "embeddings")
        # fail-soft: rows with no embedding can neither train nor match
        .filter(F.col("embedding").isNotNull())
        .select("vec_id", as_double("embedding").alias("v"))
        # scanned once per Lloyd round (each round's cell collect is
        # its own job) + twice in encode/LUT — same pin the IVF
        # trained twin carries
        .transform(pin)
    )
    cb = train_pq_codebooks(emb)
    subv = _pq_subvectors(emb)
    # struct-min argmin (dist asc, k asc) — map-side combinable like
    # the trainer's own assignment, so each (vec, m)'s K candidate rows
    # collapse before any exchange; the old row_number window shuffled
    # the N·M·K candidate frame.
    codes = (
        subv.join(F.broadcast(cb), "m")
        .select("vec_id", "m", "k", _l2_e6(F.col("sv"), F.col("a")).alias("dist_e6"))
        .groupBy("vec_id", "m")
        .agg(F.min(F.struct("dist_e6", "k")).alias("b"))
        .select("vec_id", "m", F.col("b.k").alias("k"))
    )
    q = emb.filter(F.col("vec_id") < N_QUERIES)
    lut = (
        _pq_subvectors(q)
        .join(F.broadcast(cb), "m")
        .select(
            F.col("vec_id").alias("query_id"),
            "m",
            "k",
            _l2_e6(F.col("sv"), F.col("a")).alias("d_e6"),
        )
    )
    scored = (
        codes.join(F.broadcast(lut), ["m", "k"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("d_e6").alias("adc_dist_e6"))
    )
    w = W.partitionBy("query_id").orderBy("adc_dist_e6", "neighbor_id")
    return (
        scored.select("*", F.row_number().over(w).cast("long").alias("rnk"))
        .filter(F.col("rnk") <= TOP_K)
    )


L2_NORM_ORACLE = f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vd FROM embeddings
), n AS (
  SELECT vec_id, vd, SQRT({dot_sql('vd', 'vd')}) AS nrm FROM v
)
SELECT vec_id,
       ROUND(nrm, 9) AS nrm,
       array_to_string(
         list_transform(vd,
           x -> CAST(FLOOR(ABS(x / nrm) * 1000000 + 0.5)
                     * (CASE WHEN x < 0 THEN -1 ELSE 1 END) AS BIGINT)),
         ',') AS unit_q
FROM n
"""


@register("emb_l2_normalize", oracle=L2_NORM_ORACLE, tags=("similarity", "llm"))
def emb_l2_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 normalization of the embedding column — the prerequisite for
    cosine-as-dot-product search (normalize once at ingest, then every
    downstream scan does plain dot products). Norm is the same
    sequential-fold dot product both engines compute bit-identically
    (functions/vectors.py); normalized elements are emitted quantized
    to 1e-6 (HALF_UP, sign-aware — the _scaled_long rule) and
    ','-joined so the driver hashes compact scalar cells. Pure
    higher-order expressions, one narrow pass, no shuffle.

    Lateral-alias pitfall (REAL bug, caught r11 by sf0.1-scale strict
    parity on the skew shard): with ``round(nrm, 9).alias("nrm")`` in
    the SAME projection, Spark 4's lateral column alias resolution
    binds the lambda's ``F.col("nrm")`` to that sibling OUTPUT — the
    quantization silently divided by the ROUNDED norm and flipped
    exactly the elements within ~1e-10 of a quantization boundary
    (two in 128k at sf0.1, zero in 32k at sf0.01 — ten driver rounds
    green on a wrong plan). The rounding therefore happens in a
    SEPARATE outer projection; tests/test_guards_r10.py pins the
    resolution rule."""
    with_norm = _live_embeddings(spark, sf_dir)
    q = F.transform(
        "v",
        lambda x: (
            F.floor(F.abs(x / F.col("nrm")) * 1_000_000 + F.lit(0.5))
            * F.when(x < 0, F.lit(-1)).otherwise(F.lit(1))
        ).cast("long"),
    )
    return with_norm.select(
        "vec_id",
        "nrm",
        F.concat_ws(",", F.transform(q, lambda x: x.cast("string"))).alias("unit_q"),
    ).select("vec_id", F.round("nrm", 9).alias("nrm"), "unit_q")


# ---------------------------------------------------------------------------
# Random sign projection (Johnson-Lindenstrauss dimensionality reduction)
# ---------------------------------------------------------------------------

RP_DIM = 8  # output dimensions
RP_IN_DIM = 64  # embeddings table dimension (TESTDATA.md)


def _rp_sign(i: int, j: int) -> int:
    """±1 from md5 parity of "i-j" (i 1-based input dim, j output dim) —
    the same expression both engines evaluate, so the projection matrix
    never needs to be stored anywhere."""
    import hashlib

    h = int(hashlib.md5(f"{i}-{j}".encode()).hexdigest()[:8], 16)
    return 1 if h % 2 == 0 else -1


def _rp_oracle() -> str:
    return f"""
WITH elem AS (
  SELECT vec_id, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS i
  FROM embeddings
), proj AS (
  SELECT vec_id, j,
         CAST(SUM(CAST(ROUND(CAST(v AS DOUBLE) * 1000000) AS BIGINT)
              * (CASE WHEN (('0x' || substr(md5(CAST(i AS VARCHAR) || '-'
                             || CAST(j AS VARCHAR)), 1, 8))::BIGINT % 2) = 0
                 THEN 1 ELSE -1 END)) AS BIGINT) AS p_e6
  FROM elem CROSS JOIN (SELECT unnest(generate_series(0, {RP_DIM - 1})) AS j) js
  GROUP BY vec_id, j
)
SELECT vec_id, CAST(j AS BIGINT) AS j, p_e6,
       CAST(p_e6 AS DOUBLE) / 1000000 AS proj
FROM proj
"""


@register("emb_random_projection", oracle=_rp_oracle(), tags=("similarity", "llm", "scale"))
def emb_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random sign projection of the 64-d
    embeddings down to {RP_DIM} dims: out_j = Σ_i sign(i,j)·x_i with
    signs drawn deterministically from md5(i-j) parity (Achlioptas'
    ±1 construction — preserves pairwise distances within 1±ε, the
    standard trick for cutting ANN index cost before bucketing).

    The projection matrix is never materialized: signs are literals
    compiled into the plan (on a cluster: a broadcast of 64×8 ints).
    Each element is fixed-pointed to a ×1e6 integer BEFORE the signed
    sum, so the per-dimension total is an exact integer — engine- and
    order-independent. The whole operator is one narrow map (zip_with +
    aggregate inside codegen) with NO shuffle and NO Python."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cols = []
    for j in range(RP_DIM):
        signs = F.array(
            *[F.lit(_rp_sign(i, j)).cast("long") for i in range(1, RP_IN_DIM + 1)]
        )
        signed = F.zip_with(
            "embedding",
            signs,
            lambda x, s: F.round(x.cast("double") * 1_000_000).cast("long") * s,
        )
        p_e6 = F.aggregate(signed, F.lit(0).cast("long"), lambda a, b: a + b)
        cols.append(
            F.struct(
                F.lit(j).cast("long").alias("j"),
                p_e6.alias("p_e6"),
            )
        )
    return emb.select("vec_id", F.explode(F.array(*cols)).alias("pj")).select(
        "vec_id",
        F.col("pj.j").alias("j"),
        F.col("pj.p_e6").alias("p_e6"),
        (F.col("pj.p_e6").cast("double") / 1_000_000).alias("proj"),
    )


# ---- PCA via distributed power iteration --------------------------------
PCA_ITERS = 3
PCA_SCALE = 1_000_000  # L-infinity fixed-point scale for the direction


def _pca_with_body() -> tuple[str, str]:
    """The shared unrolled power-iteration CTE chain (everything after
    WITH), plus the name of the final direction CTE — the DuckDB replay
    of the exact integer pipeline (see emb_pca_power_iteration
    docstring). Consumed by both the direction oracle and the
    projection oracle."""
    its = []
    prev_w = "w0"
    for i in range(1, PCA_ITERS + 1):
        its.append(
            f"""s{i} AS (
  SELECT c.vec_id, CAST(SUM(c.c_e6 * w.w_e6) AS BIGINT) AS s
  FROM centered c JOIN {prev_w} w ON c.dim = w.dim GROUP BY c.vec_id
), smax{i} AS (
  SELECT GREATEST(MAX(ABS(s)) // {PCA_SCALE}, 1) AS d FROM s{i}
), y{i} AS (
  SELECT c.dim, CAST(SUM((s.s // m.d) * c.c_e6) AS BIGINT) AS y
  FROM centered c JOIN s{i} s ON s.vec_id = c.vec_id, smax{i} m
  GROUP BY c.dim
), ymax{i} AS (
  SELECT GREATEST(MAX(ABS(y)) // {PCA_SCALE}, 1) AS d FROM y{i}
), w{i} AS (
  SELECT dim, CAST(y // m.d AS BIGINT) AS w_e6 FROM y{i}, ymax{i} m
)"""
        )
        prev_w = f"w{i}"
    body = f"""e AS (
  SELECT vec_id, d.dim,
         CAST(ROUND(CAST(embedding[d.dim + 1] AS DOUBLE) * {PCA_SCALE}, 0) AS BIGINT) AS v_e6
  FROM embeddings, (SELECT unnest(generate_series(0, 63)) AS dim) d
), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_vec FROM embeddings),
mean AS (
  SELECT dim, CAST(CAST(SUM(v_e6) AS BIGINT) // (SELECT n_vec FROM n) AS BIGINT) AS m_e6
  FROM e GROUP BY dim
), centered AS (
  SELECT e.vec_id, e.dim, e.v_e6 - m.m_e6 AS c_e6 FROM e JOIN mean m ON e.dim = m.dim
), w0 AS (
  SELECT dim, CAST({PCA_SCALE} AS BIGINT) AS w_e6 FROM mean
),
{', '.join(its)}"""
    return body, prev_w


def _pca_oracle() -> str:
    body, prev_w = _pca_with_body()
    return f"""
WITH {body}
SELECT CAST(dim AS BIGINT) AS dim, w_e6 FROM {prev_w}
"""


def _pca_project_oracle() -> str:
    body, prev_w = _pca_with_body()
    return f"""
WITH {body},
w2s AS (SELECT CAST(SUM(w_e6 * w_e6) AS BIGINT) AS w2 FROM {prev_w}),
proj AS (
  SELECT c.vec_id,
         CAST(SUM(c.c_e6 * w.w_e6) AS BIGINT) AS t,
         CAST(SUM(c.c_e6 * c.c_e6) AS BIGINT) AS c2
  FROM centered c JOIN {prev_w} w ON c.dim = w.dim
  GROUP BY 1
)
SELECT vec_id, t AS proj,
       CAST(t AS DOUBLE) * t / (CAST(c2 AS DOUBLE) * w2) AS cos2_top
FROM proj, w2s
"""


@register("emb_pca_power_iteration", oracle=_pca_oracle(), tags=("embedding", "iterative", "llm"))
def emb_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant principal direction of the embedding cloud via 3
    distributed power iterations, entirely in exact integer fixed point
    — the numerical-linear-algebra sibling of ``graph_pagerank``.

    Per iteration: (1) score every vector against the current direction
    (one 64-term integer dot product per row, grouped by vec_id);
    (2) rescale scores to <=1e6 by truncating division with the global
    max (a one-row broadcast — Spark ``div`` and DuckDB ``//`` both
    truncate toward zero, verified, so the rescale is bit-identical);
    (3) accumulate y = X^T s (grouped by dim, 64 output rows);
    (4) L-infinity-normalize y back to a <=1e6 integer direction.
    L-inf (max) normalization replaces the usual L2 norm precisely
    because it needs NO sqrt — every step stays in integer arithmetic,
    so aggregation order cannot move a bit and the DuckDB oracle (same
    three iterations unrolled as CTEs) hashes identically. Centering
    uses per-dim integer-mean floor division, same argument.

    Scale: each iteration is one shuffle keyed by vec_id and one keyed
    by dim (64 rows — effectively a broadcast), with map-side partial
    sums; the direction vector is always a 64-row broadcast side. At
    1e9+ rows the s*c products approach BIGINT range — the scale path
    drops the rescale divisor to 1e3 or sums into DECIMAL(38,0), same
    plan shape. Convergence to the top eigenvector needs no luck: the
    all-ones start has nonzero overlap and 3 rounds separate the
    spectrum enough for a stable fixed-point direction (the sign is
    pinned by the deterministic start). On a near-isotropic cloud (the
    synthetic test embeddings have lambda1/lambda2 ~ 1.07) three rounds
    track the float power-iterate exactly but neither has separated the
    eigenvector yet — the oracle certifies the arithmetic, and
    tests/test_sketches.py certifies convergence on anisotropic data
    plus bit-fidelity of the quantization against a float replay."""
    return pca_direction(load_table(spark, sf_dir, "embeddings"))


def pca_centered(emb: DataFrame) -> DataFrame:
    """Integer-centered matrix ``(vec_id, dim, c_e6)`` shared by the
    power iteration and the projection pass."""
    e = emb.select(
        "vec_id",
        F.posexplode(F.col("embedding")).alias("dim", "x"),
    ).select(
        "vec_id",
        F.col("dim").cast("long").alias("dim"),
        F.expr(f"CAST(ROUND(CAST(x AS DOUBLE) * {PCA_SCALE}, 0) AS BIGINT)").alias("v_e6"),
    )
    n_vec = emb.count()  # scalar: table cardinality, not data values
    mean = e.groupBy("dim").agg(
        F.expr(f"CAST(SUM(v_e6) div {n_vec} AS BIGINT)").alias("m_e6")
    )
    # hash-partition the centered matrix by vec_id ONCE: every
    # iteration's score aggregate (groupBy vec_id) and score join then
    # reuse the partitioning instead of re-shuffling the matrix 2x per
    # round — measured 4.2 s -> ~2 s at sf0.1 (stage count, not data,
    # dominates at test scale; at 100 TB this is 6 saved matrix
    # shuffles).
    return (
        e.join(F.broadcast(mean), "dim")
        .select("vec_id", "dim", (F.col("v_e6") - F.col("m_e6")).alias("c_e6"))
        .repartition("vec_id")
        .transform(pin)
    )


def pca_direction(emb: DataFrame) -> DataFrame:
    """Core of ``emb_pca_power_iteration`` over any (vec_id, embedding)
    frame — factored out so tests can drive synthetic spectra."""
    return pca_direction_from_centered(pca_centered(emb))


def pca_direction_from_centered(centered: DataFrame) -> DataFrame:
    w = centered.sparkSession.range(64).select(
        F.col("id").alias("dim"), F.lit(PCA_SCALE).cast("long").alias("w_e6")
    )
    for _ in range(PCA_ITERS):
        # s and y each feed BOTH their own max-rescale and the next
        # matrix pass; without a lineage cut every reference recomputes
        # the upstream matrix product and the doubling compounds per
        # iteration (~2^k recomputes). The frames are tiny (n_vec and
        # 64 rows), so a lazy localCheckpoint is effectively free.
        s = (
            centered.join(F.broadcast(w), "dim")
            .groupBy("vec_id")
            .agg(F.sum(F.col("c_e6") * F.col("w_e6")).alias("s"))
            .transform(pin)
        )
        smax = s.agg(
            F.expr(f"GREATEST(MAX(ABS(s)) div {PCA_SCALE}, 1)").alias("d")
        )
        s2 = s.crossJoin(F.broadcast(smax)).select(
            "vec_id", F.expr("CAST(s div d AS BIGINT)").alias("s2")
        )
        y = (
            centered.join(s2, "vec_id")
            .groupBy("dim")
            .agg(F.sum(F.col("s2") * F.col("c_e6")).alias("y"))
            .transform(pin)
        )
        ymax = y.agg(
            F.expr(f"GREATEST(MAX(ABS(y)) div {PCA_SCALE}, 1)").alias("d")
        )
        w = y.crossJoin(F.broadcast(ymax)).select(
            "dim", F.expr("CAST(y div d AS BIGINT)").alias("w_e6")
        )
    return w.select("dim", "w_e6")


@register(
    "emb_pca_project", oracle=_pca_project_oracle(), tags=("embedding", "llm", "scale")
)
def emb_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Project every embedding onto the power-iteration principal
    direction: per-vector PC1 score (the 1-D dimensionality-reduction
    feature) plus cos²(v, PC1) — the fraction of the vector's centered
    energy the top component captures, whose population distribution is
    the standard 'is one direction eating the space' embedding-health
    gauge (anisotropy / rogue-dimension detector).

    Exactness: the projection t = Σ c·w and both energy terms are exact
    integer sums over the SAME fixed-point matrix the iteration used;
    cos² is one fixed IEEE expression on those integers. Scale: one
    vec_id-keyed aggregate over the already-partitioned centered
    matrix against the broadcast 64-row direction — the projection pass
    costs one scan regardless of corpus size, and by Cauchy-Schwarz
    cos² ≤ 1 exactly, which the semantic test pins."""
    centered = pca_centered(load_table(spark, sf_dir, "embeddings"))
    w = pca_direction_from_centered(centered)
    w2 = w.agg(F.sum(F.col("w_e6") * F.col("w_e6")).cast("long").alias("w2"))
    proj = (
        centered.join(F.broadcast(w), "dim")
        .groupBy("vec_id")
        .agg(
            F.sum(F.col("c_e6") * F.col("w_e6")).cast("long").alias("t"),
            F.sum(F.col("c_e6") * F.col("c_e6")).cast("long").alias("c2"),
        )
    )
    return proj.crossJoin(F.broadcast(w2)).select(
        "vec_id",
        F.col("t").alias("proj"),
        (
            F.col("t").cast("double") * F.col("t")
            / nonzero(F.col("c2").cast("double") * F.col("w2"))
        ).alias("cos2_top"),
    )


# ---- exact distributed Gram / covariance matrix -------------------------
GRAM_ORACLE = f"""
WITH e AS (
  SELECT vec_id, d.dim,
         CAST(ROUND(CAST(embedding[d.dim + 1] AS DOUBLE) * {PCA_SCALE}, 0) AS BIGINT) AS v_e6
  FROM embeddings, (SELECT unnest(generate_series(0, 63)) AS dim) d
)
SELECT a.dim AS dim_i, b.dim AS dim_j,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(a.v_e6 * b.v_e6) AS BIGINT) AS s_xy_e12,
       CAST(SUM(a.v_e6) AS BIGINT) AS s_x_e6,
       CAST(SUM(b.v_e6) AS BIGINT) AS s_y_e6
FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.dim <= b.dim
GROUP BY 1, 2
"""


@register("emb_gram_matrix", oracle=GRAM_ORACLE, tags=("embedding", "llm", "scale"))
def emb_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distributed Gram matrix (upper triangle of X^T X) plus the
    per-dimension sums that turn it into a covariance matrix
    (n*Cov = n*S_xy - S_x*S_y, all integers) — the one-pass primitive
    under PCA/whitening/linear probes at any scale.

    Per input row the 64x65/2 = 2080 (i <= j) products are generated
    INLINE from the array column (flatten/transform over the array —
    no posexplode self-join, so the matrix rows are never shuffled as
    pairs); the only shuffle carries 2080 running groups with map-side
    partial sums. All arithmetic is x1e6-quantized integers, so sums
    are order-independent and the oracle (which does use the lazy
    self-join — fine at oracle scale) hashes identically. At 1e9+ rows
    the e12-scale products approach BIGINT range — sum into
    DECIMAL(38,0) there; plan shape unchanged."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id",
        F.expr(
            f"transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * {PCA_SCALE}, 0) AS BIGINT))"
        ).alias("v"),
    )
    pairs = q.select(
        F.explode(
            F.expr(
                """
                flatten(transform(v, (xi, i) ->
                  transform(slice(v, i + 1, size(v) - i), (xj, j) ->
                    struct(CAST(i AS BIGINT) AS dim_i,
                           CAST(i + j AS BIGINT) AS dim_j,
                           xi * xj AS prod,
                           xi AS x, xj AS y))))
                """
            )
        ).alias("p")
    ).select("p.dim_i", "p.dim_j", "p.prod", "p.x", "p.y")
    return pairs.groupBy("dim_i", "dim_j").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("prod").alias("s_xy_e12"),
        F.sum("x").alias("s_x_e6"),
        F.sum("y").alias("s_y_e6"),
    )


# ---------------------------------------------------------------------------
# MMR-diversified retrieval (greedy re-rank of the top-k pool).
# ---------------------------------------------------------------------------

MMR_POOL_K = 20
MMR_K = 5
MMR_LAMBDA = 0.7  # relevance weight; (1-lambda) penalizes redundancy


def _mmr_oracle() -> str:
    rel = f"ROUND({cosine_sql('q.embedding', 'e.embedding')}, 6)"
    sim = f"ROUND({cosine_sql('x.embedding', 'y.embedding')}, 6)"
    steps = []
    prev_sels = "sel1"
    for i in range(2, MMR_K + 1):
        union_prev = " UNION ALL ".join(
            f"SELECT query_id, neighbor_id FROM sel{j}" for j in range(1, i)
        )
        steps.append(f"""picked{i - 1} AS ({union_prev}),
ms{i} AS (
  SELECT p.query_id, p.neighbor_id, p.rel,
         MAX(ps.sim) AS max_sim
  FROM pool p
  JOIN psim ps ON ps.query_id = p.query_id AND ps.a_id = p.neighbor_id
  JOIN picked{i - 1} k ON k.query_id = ps.query_id AND k.neighbor_id = ps.b_id
  WHERE NOT EXISTS (SELECT 1 FROM picked{i - 1} z
                    WHERE z.query_id = p.query_id
                      AND z.neighbor_id = p.neighbor_id)
  GROUP BY 1, 2, 3
), sel{i} AS (
  SELECT query_id, neighbor_id, {i} AS step FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
             ORDER BY ROUND({MMR_LAMBDA} * rel - {1 - MMR_LAMBDA} * max_sim, 6) DESC,
                      neighbor_id) AS rn
    FROM ms{i}
  ) WHERE rn = 1
)""")
        prev_sels = f"sel{i}"
    sel_union = " UNION ALL ".join(
        f"SELECT query_id, neighbor_id, step FROM sel{j}" for j in range(1, MMR_K + 1)
    )
    return f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < {N_QUERIES}
), e AS (
  SELECT vec_id, embedding FROM embeddings
), pool AS (
  SELECT query_id, neighbor_id, rel FROM (
    SELECT q.query_id, e.vec_id AS neighbor_id, {rel} AS rel,
           ROW_NUMBER() OVER (PARTITION BY q.query_id
                              ORDER BY {rel} DESC, e.vec_id) AS rn
    FROM q JOIN e ON q.query_id != e.vec_id
  ) WHERE rn <= {MMR_POOL_K}
), psim AS (
  SELECT pa.query_id, pa.neighbor_id AS a_id, pb.neighbor_id AS b_id, {sim} AS sim
  FROM pool pa JOIN pool pb
    ON pa.query_id = pb.query_id AND pa.neighbor_id != pb.neighbor_id
  JOIN e x ON x.vec_id = pa.neighbor_id
  JOIN e y ON y.vec_id = pb.neighbor_id
), sel1 AS (
  SELECT query_id, neighbor_id, 1 AS step FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rel DESC, neighbor_id) AS rn
    FROM pool
  ) WHERE rn = 1
),
{','.join(steps)}
SELECT query_id, neighbor_id, CAST(step AS BIGINT) AS step FROM ({sel_union})
"""


@register("sim_topk_mmr", oracle=_mmr_oracle(), tags=("similarity", "llm", "window"))
def sim_topk_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-Marginal-Relevance diversified retrieval: greedy
    selection of {MMR_K} results from each query's top-{MMR_POOL_K}
    cosine pool, each step maximizing ``λ·relevance − (1−λ)·max
    similarity to already-selected`` — the standard redundancy-killer
    re-rank for RAG context assembly (five near-identical passages
    waste four context slots). The greedy recurrence depends on the
    selected SET, so it cannot be one window — it is {MMR_K - 1} fixed
    dataflow iterations (like graph_pagerank's unrolled loop), each an
    anti-join + max-aggregate + per-query argmax over the TINY pool
    frames (Q·{MMR_POOL_K} rows; the corpus is touched only to build
    the pool and its pairwise sims). Scores are rounded at 6 dp before
    each argmax with a neighbor_id tie-break, so the greedy path is
    engine-identical; the oracle unrolls the same five steps as CTEs."""
    emb = _live_embeddings(spark, sf_dir)
    scored = emb.join(
        F.broadcast(_queries(emb, "nrm")), F.col("query_id") != F.col("vec_id")
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        pair_cos("qv", "v", "qnrm", "nrm").alias("rel"),
        "v",
        "nrm",
    )
    w_pool = W.partitionBy("query_id").orderBy(F.desc("rel"), "neighbor_id")
    pool = (
        scored.withColumn("rn", F.row_number().over(w_pool))
        .filter(F.col("rn") <= MMR_POOL_K)
        .drop("rn")
        .transform(pin)  # consumed by psim + every greedy step
        # Measured and REJECTED (r09 exchange audit): an explicit
        # .repartition("query_id") above this pin and psim's — pinned
        # LogicalRDDs drop partitioning metadata, so every greedy step
        # re-shuffles both pins, and one post-pin exchange would be
        # reused by all steps via subset-key clustering (verified on
        # probe frames: joins/windows/groupBys keyed on query_id all
        # satisfy hash(query_id)). Interleaved warm A/B at sf0.1 read
        # 4.91-5.79 s (as-is) vs 5.81-7.60 s (repartitioned): the added
        # barrier serializes more than the reused shuffle saves on
        # these Q·pool_k frames. Re-visit only with a measured win at a
        # larger Q — the step shuffles are pool/psim-sized (re-rank
        # grain), never corpus-sized, so this is not a 100 TB cliff.
    )
    pa, pb = pool.alias("pa"), pool.alias("pb")
    psim = (
        pa.join(
            pb,
            (F.col("pa.query_id") == F.col("pb.query_id"))
            & (F.col("pa.neighbor_id") != F.col("pb.neighbor_id")),
        )
        .select(
            F.col("pa.query_id").alias("query_id"),
            F.col("pa.neighbor_id").alias("a_id"),
            F.col("pb.neighbor_id").alias("b_id"),
            pair_cos("pa.v", "pb.v", "pa.nrm", "pb.nrm").alias("sim"),
        )
        .transform(pin)  # reused by each step
    )
    w1 = W.partitionBy("query_id").orderBy(F.desc("rel"), "neighbor_id")
    sel = (
        pool.withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") == 1)
        .select("query_id", "neighbor_id", F.lit(1).alias("step"))
    )
    # renamed views (pool/psim/sel all share lineage; bare column names
    # would be ambiguous in the self-referencing joins below)
    psim_r = psim.select(
        F.col("query_id").alias("pq"),
        F.col("a_id").alias("pa_id"),
        F.col("b_id").alias("pb_id"),
        "sim",
    )
    for step in range(2, MMR_K + 1):
        cand = (
            pool.join(sel, ["query_id", "neighbor_id"], "left_anti")
            .select(
                F.col("query_id").alias("cq"),
                F.col("neighbor_id").alias("cn"),
                "rel",
            )
        )
        sel_r = sel.select(
            F.col("query_id").alias("sq"), F.col("neighbor_id").alias("sn")
        )
        ms = (
            cand.join(
                psim_r,
                (F.col("pq") == F.col("cq")) & (F.col("pa_id") == F.col("cn")),
            )
            .join(
                sel_r,
                (F.col("sq") == F.col("cq")) & (F.col("pb_id") == F.col("sn")),
            )
            .groupBy("cq", "cn", "rel")
            .agg(F.max("sim").alias("max_sim"))
        )
        score = F.round(
            F.lit(MMR_LAMBDA) * F.col("rel") - F.lit(1 - MMR_LAMBDA) * F.col("max_sim"),
            6,
        )
        wk = W.partitionBy("cq").orderBy(F.desc(score), "cn")
        picked = (
            ms.withColumn("rn", F.row_number().over(wk))
            .filter(F.col("rn") == 1)
            .select(
                F.col("cq").alias("query_id"),
                F.col("cn").alias("neighbor_id"),
                F.lit(step).alias("step"),
            )
        )
        sel = sel.unionByName(picked)
    return sel.select("query_id", "neighbor_id", F.col("step").cast("long").alias("step"))


# ---------------------------------------------------------------------------
# Exact squared-L2 top-k (the PQ/ADC family's exact baseline).
# ---------------------------------------------------------------------------

L2_ORACLE = f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), q AS (SELECT vec_id, v FROM e WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         CAST(ROUND(list_reduce(list_transform(list_zip(q.v, e.v),
                t -> (CAST(t[1] AS DOUBLE) - t[2]) * (CAST(t[1] AS DOUBLE) - t[2])),
                (x, y) -> x + y) * 1000000) AS BIGINT) AS dist_e6
  FROM q JOIN e ON q.vec_id != e.vec_id
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY dist_e6, neighbor_id) AS rnk
  FROM scored
)
SELECT query_id, neighbor_id, dist_e6, rnk FROM ranked WHERE rnk <= {TOP_K}
"""


@register("sim_topk_l2", oracle=L2_ORACLE, tags=("similarity", "llm"))
def sim_topk_l2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact squared-L2 top-k — the metric the PQ/ADC scale path
    approximates, surfaced as its oracle-visible exact baseline (the
    cosine family has sim_topk_bruteforce; recall of sim_topk_pq is
    measured against THIS metric in tests/test_llm_ops.py). Distances
    are ×1e6 integers (one round after the codegen'd zip_with fold), so
    ranking ties break identically in both engines; the scan side is
    never shuffled — Q·N scored rows feed a per-query top-k window."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("v")
    )
    q = _queries(emb)
    sq = F.zip_with(F.col("qv"), F.col("v"), lambda x, y: (x - y) * (x - y))
    d_e6 = F.round(
        F.aggregate(sq, F.lit(0.0), lambda acc, x: acc + x) * 1_000_000
    ).cast("long")
    scored = emb.join(F.broadcast(q), F.col("query_id") != F.col("vec_id")).select(
        "query_id", F.col("vec_id").alias("neighbor_id"), d_e6.alias("dist_e6")
    )
    # NULLS LAST, as in the oracle: a NULL vector's NULL distance ranks
    # after every real neighbour instead of taking the top ranks.
    w = W.partitionBy("query_id").orderBy(F.asc_nulls_last("dist_e6"), "neighbor_id")
    return (
        scored.select("*", F.row_number().over(w).cast("long").alias("rnk"))
        .filter(F.col("rnk") <= TOP_K)
    )


# ---------------------------------------------------------------------------
# Leave-one-out kNN label-prediction accuracy (embedding-quality eval).
# ---------------------------------------------------------------------------

KNN_EVAL_K = 5
KNN_SAMPLE_MOD = 5  # evaluate every 5th vector as the held-out query

KNN_EVAL_ORACLE = f"""
WITH e AS (
  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), q AS (
  SELECT * FROM e WHERE vec_id % {KNN_SAMPLE_MOD} = 0
), scored AS (
  SELECT q.vec_id AS qid, q.label AS true_label, e.label AS n_label,
         ROW_NUMBER() OVER (PARTITION BY q.vec_id
           ORDER BY ROUND({cosine_sql('q.v', 'e.v')}, 6) DESC, e.vec_id) AS rnk
  FROM q JOIN e ON q.vec_id != e.vec_id
), votes AS (
  SELECT qid, true_label, n_label, CAST(COUNT(*) AS BIGINT) AS n_votes
  FROM scored WHERE rnk <= {KNN_EVAL_K} GROUP BY 1, 2, 3
), pred AS (
  SELECT qid, true_label, n_label AS pred_label FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                 ORDER BY n_votes DESC, n_label) AS vr
    FROM votes
  ) WHERE vr = 1
)
SELECT true_label AS label,
       CAST(COUNT(*) AS BIGINT) AS n_eval,
       CAST(SUM(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END) AS BIGINT)
         AS n_correct
FROM pred GROUP BY 1
"""


@register("emb_knn_eval", oracle=KNN_EVAL_ORACLE, tags=("similarity", "llm", "window"))
def emb_knn_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out kNN classification accuracy over the labeled
    embeddings: every {KNN_SAMPLE_MOD}th vector is held out, its
    {KNN_EVAL_K} nearest neighbors (exact cosine, self excluded) vote,
    majority label wins (ties to the smaller label id) — per-class
    correct counts. THE intrinsic embedding-quality gauge: if
    neighbors can't predict the label, no downstream retrieval will.
    Exact O(Q·N) scoring is the oracle baseline (documented pattern:
    dedup_embedding_cosine); at corpus scale the candidate stage swaps
    in the IVF/PQ path and the voting/eval frames are unchanged.
    Rounded similarities + id/label tie-breaks keep the vote
    deterministic in both engines. Zero-norm and NULL vectors sit out
    (``live``), and the Q·N stage folds only the dot (``pair_cos``)."""
    emb = live(
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "label", as_double("embedding").alias("v")
        )
    )
    q = emb.filter(F.col("vec_id") % KNN_SAMPLE_MOD == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("true_label"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
    )
    scored = emb.join(F.broadcast(q), F.col("qid") != F.col("vec_id")).select(
        "qid",
        "true_label",
        F.col("label").alias("n_label"),
        pair_cos("qv", "v", "qnrm", "nrm").alias("sim"),
        "vec_id",
    )
    w = W.partitionBy("qid").orderBy(F.desc("sim"), "vec_id")
    top = scored.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= KNN_EVAL_K
    )
    votes = top.groupBy("qid", "true_label", "n_label").agg(
        F.count(F.lit(1)).cast("long").alias("n_votes")
    )
    wv = W.partitionBy("qid").orderBy(F.desc("n_votes"), "n_label")
    pred = (
        votes.withColumn("vr", F.row_number().over(wv))
        .filter(F.col("vr") == 1)
        .select("qid", "true_label", F.col("n_label").alias("pred_label"))
    )
    return pred.groupBy(F.col("true_label").alias("label")).agg(
        F.count(F.lit(1)).cast("long").alias("n_eval"),
        F.sum(
            F.when(F.col("pred_label") == F.col("true_label"), 1).otherwise(0)
        ).cast("long").alias("n_correct"),
    )


# ---------------------------------------------------------------------------
# Recall@k of the IVF path against the exact baseline, per query.
# ---------------------------------------------------------------------------


def _ivf_recall_oracle() -> str:
    return f"""
WITH exact AS ({TOPK_ORACLE}),
approx AS ({IVF_ORACLE})
SELECT e.query_id,
       CAST(COUNT(*) AS BIGINT) AS k,
       CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_hit,
       ROUND(CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                  AS DOUBLE) / COUNT(*), 6) AS recall_at_k
FROM exact e
LEFT JOIN approx a
  ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
GROUP BY 1
"""


@register("sim_ivf_recall_eval", oracle=_ivf_recall_oracle(), tags=("similarity", "llm"))
def sim_ivf_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{TOP_K} of the IVF approximate path against the exact
    cosine baseline, per query — the accuracy/cost dial every ANN
    deployment is tuned by (N_PROBE trades this number against scan
    fraction), surfaced as a hash-proven QUERY instead of a test-only
    assertion so the driver certifies the measurement itself. A left
    join of exact top-k onto IVF results; both sides are the engine's
    own oracled operators."""
    exact = sim_topk_bruteforce(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    approx = sim_topk_ivf(spark, sf_dir).select(
        F.col("query_id").alias("aq"), F.col("neighbor_id").alias("an")
    )
    j = exact.join(
        approx,
        (F.col("query_id") == F.col("aq")) & (F.col("neighbor_id") == F.col("an")),
        "left",
    )
    hit = F.sum(F.when(F.col("an").isNotNull(), 1).otherwise(0)).cast("long")
    return j.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        hit.alias("n_hit"),
        F.round(
            F.sum(F.when(F.col("an").isNotNull(), 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("recall_at_k"),
    )


# ---------------------------------------------------------------------------
# PQ quantization-distortion summary.
# ---------------------------------------------------------------------------


def _pq_distortion_oracle() -> str:
    return f"""
WITH enc AS ({_pq_encode_oracle()}),
nrm AS (
  SELECT vec_id,
         CAST(ROUND(list_reduce(list_transform(embedding,
                x -> CAST(x AS DOUBLE) * x), (a, b) -> a + b) * 1000000) AS BIGINT)
           AS sqnorm_e6
  FROM embeddings
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(CAST(SUM(e.quant_err_e6) AS DECIMAL(38,0)) AS BIGINT) AS total_err_e6,
       CAST(MAX(e.quant_err_e6) AS BIGINT) AS max_err_e6,
       ROUND(CAST(CAST(SUM(e.quant_err_e6) AS DECIMAL(38,0)) AS DOUBLE)
             / CAST(CAST(SUM(n.sqnorm_e6) AS DECIMAL(38,0)) AS DOUBLE), 6)
         AS relative_distortion
FROM enc e JOIN nrm n ON e.vec_id = n.vec_id
"""


@register("emb_pq_distortion", oracle=_pq_distortion_oracle(), tags=("similarity", "llm", "agg"))
def emb_pq_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codebook-quality summary for the PQ encoder: total and max
    per-vector quantization error plus the RELATIVE distortion
    Σerr / Σ‖v‖² — the dial that says whether PQ_M/PQ_K are adequate
    for this embedding distribution BEFORE anyone reads ADC results
    (relative distortion near 1 means the codes carry almost no
    signal; train_pq_codebooks exists to push it down). Errors are the
    encoder's own exact ×1e6 integers; norms quantized once; both sums
    DECIMAL(38)-safe."""
    enc = emb_pq_encode(spark, sf_dir).select("vec_id", "quant_err_e6")
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("v")
    )
    sqn = F.round(
        F.aggregate(
            F.zip_with(F.col("v"), F.col("v"), lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        * 1_000_000
    ).cast("long")
    nrm = emb.select("vec_id", sqn.alias("sqnorm_e6"))
    j = enc.join(nrm, "vec_id")
    dsum = lambda c: F.sum(F.col(c).cast("decimal(38,0)"))
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        dsum("quant_err_e6").cast("long").alias("total_err_e6"),
        F.max("quant_err_e6").cast("long").alias("max_err_e6"),
        F.round(
            dsum("quant_err_e6").cast("double") / dsum("sqnorm_e6").cast("double"), 6
        ).alias("relative_distortion"),
    )


# ---------------------------------------------------------------------------
# Embedding-space drift: centroid shift between corpus halves.
# ---------------------------------------------------------------------------

EMB_DIM = 64


def _emb_drift_oracle() -> str:
    dims_a = ", ".join(
        f"CAST(SUM(CAST(FLOOR(CAST(embedding[{i}] AS DOUBLE) * 100000000 + 0.5) AS BIGINT)) AS DOUBLE) / 100000000 AS s{i}"
        for i in range(1, EMB_DIM + 1)
    )
    diff_terms = " + ".join(
        f"((a.s{i} / a.n - b.s{i} / b.n) * (a.s{i} / a.n - b.s{i} / b.n))"
        for i in range(1, EMB_DIM + 1)
    )
    return f"""
WITH half_a AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, {dims_a}
  FROM embeddings WHERE vec_id % 2 = 0
), half_b AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, {dims_a}
  FROM embeddings WHERE vec_id % 2 = 1
)
SELECT a.n AS n_a, b.n AS n_b,
       ROUND(sqrt({diff_terms}), 6) AS centroid_shift_l2
FROM half_a a, half_b b
"""


@register("emb_centroid_drift", oracle=_emb_drift_oracle(), tags=("similarity", "llm", "drift", "agg"))
def emb_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift monitor: L2 distance between the centroids
    of two deterministic corpus halves (even/odd vec_id — swap in
    yesterday/today partitions in production) — the vector-space member
    of the drift family (PSI/KS/KL watch scalars; a model-upgrade or
    pipeline bug shifts the EMBEDDING distribution first). Per-dim
    sums are ×1e8 rounded-long (order-proof); the 64-term distance is
    one explicit fixed-order expression, rounded at 6 dp.

    ONE scan, both halves' 64-number states as conditional aggregates
    (r07 rewrite): the first formulation aggregated each parity half in
    its own job — two full passes over the embeddings table, which at
    100 TB is twice the I/O for the same 130 numbers. Conditional
    sums compute the identical per-half rounded-long totals (integer
    addition is order-free; the filter merely becomes the WHEN guard).
    A/B at sf0.1: 3.28 → 2.88 s best-of-3 (fixed overhead dominates at
    this SF; the scan halving is the scale-path win), identical output
    row."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.pmod("vec_id", F.lit(2)).alias("p"), as_double("embedding").alias("v")
    )
    is_a, is_b = F.col("p") == 0, F.col("p") == 1

    def scaled(i: int):
        return F.floor(F.element_at("v", i) * F.lit(100_000_000) + F.lit(0.5)).cast("long")

    aggs = [
        F.count(F.when(is_a, F.lit(1))).cast("long").alias("n"),
        F.count(F.when(is_b, F.lit(1))).cast("long").alias("bn"),
    ]
    for i in range(1, EMB_DIM + 1):
        aggs.append(
            (F.sum(F.when(is_a, scaled(i))).cast("double") / F.lit(100_000_000)).alias(f"s{i}")
        )
        aggs.append(
            (F.sum(F.when(is_b, scaled(i))).cast("double") / F.lit(100_000_000)).alias(f"t{i}")
        )
    j = emb.agg(*aggs)
    diff = None
    for i in range(1, EMB_DIM + 1):
        d = F.col(f"s{i}") / F.col("n") - F.col(f"t{i}") / F.col("bn")
        term = d * d
        diff = term if diff is None else diff + term
    return j.select(
        F.col("n").alias("n_a"),
        F.col("bn").alias("n_b"),
        F.round(F.sqrt(diff), 6).alias("centroid_shift_l2"),
    )


def _ndcg_oracle() -> str:
    return f"""
WITH sys AS ({_pq_rerank_oracle()}),
ideal AS ({TOPK_ORACLE}),
j AS (
  SELECT s.query_id, s.rnk AS pos,
         COALESCE({TOP_K} + 1 - i.rnk, 0) AS rel
  FROM sys s LEFT JOIN ideal i
    ON i.query_id = s.query_id AND i.neighbor_id = s.neighbor_id
), dcg AS (
  SELECT query_id,
         CAST(SUM(CAST(ROUND(rel * 1000000 / (ln(pos + 1) / ln(2))) AS BIGINT))
              AS BIGINT) AS dcg_e6
  FROM j GROUP BY 1
), icg AS (
  SELECT CAST(SUM(CAST(ROUND(({TOP_K} + 1 - i) * 1000000 / (ln(i + 1) / ln(2)))
                       AS BIGINT)) AS BIGINT) AS idcg_e6
  FROM (SELECT unnest(generate_series(1, {TOP_K})) AS i)
)
SELECT d.query_id, d.dcg_e6, icg.idcg_e6,
       CAST(d.dcg_e6 * 1000000 // icg.idcg_e6 AS BIGINT) AS ndcg_e6
FROM dcg d, icg
"""


@register("sim_ndcg_eval", oracle=_ndcg_oracle(), tags=("similarity", "llm", "agg"))
def sim_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@5 of the two-stage (PQ shortlist → exact re-rank) retrieval
    against the exact cosine baseline — the position-weighted companion
    to sim_ivf_recall_eval: recall counts how many true neighbors
    surface, NDCG also prices WHERE they land. Graded relevance is the
    inverted exact rank (5..1, miss = 0); per-position log2 discounts
    are quantized ×1e6 per term so the per-query sums are exact
    integers, and the final NDCG ratio is integer division against the
    identically-quantized ideal DCG.

    Scale: both inputs are per-query top-k frames (Q·k rows); the eval
    join, discounting and aggregation are all keyed by query — constant
    work per query regardless of corpus size, the eval you re-run per
    index-tuning sweep."""
    sys_rank = sim_topk_pq_rerank(spark, sf_dir).select(
        "query_id", "neighbor_id", F.col("rnk").alias("pos")
    )
    ideal = sim_topk_bruteforce(spark, sf_dir).select(
        "query_id", "neighbor_id", F.col("rnk").alias("irnk")
    )
    rel = F.coalesce(F.lit(TOP_K) + 1 - F.col("irnk"), F.lit(0))
    term = F.round(
        rel * 1_000_000 / (F.log(F.col("pos") + 1) / F.log(F.lit(2.0)))
    ).cast("long")
    dcg = (
        sys_rank.join(ideal, ["query_id", "neighbor_id"], "left")
        .select("query_id", term.alias("term_e6"))
        .groupBy("query_id")
        .agg(F.sum("term_e6").cast("long").alias("dcg_e6"))
    )
    i = spark.range(1, TOP_K + 1).select(F.col("id").alias("i"))
    iterm = F.round(
        (F.lit(TOP_K) + 1 - F.col("i")) * 1_000_000
        / (F.log(F.col("i") + 1) / F.log(F.lit(2.0)))
    ).cast("long")
    icg = i.agg(F.sum(iterm).cast("long").alias("idcg_e6"))
    return dcg.crossJoin(F.broadcast(icg)).select(
        "query_id",
        "dcg_e6",
        "idcg_e6",
        F.expr("CAST(dcg_e6 * 1000000 div idcg_e6 AS BIGINT)").alias("ndcg_e6"),
    )


def _ivfpq_rerank_oracle() -> str:
    ivfpq = _ivfpq_oracle().replace(
        f"WHERE rnk <= {TOP_K}", f"WHERE rnk <= {PQ_SHORTLIST}"
    )
    return f"""
WITH shortlist AS ({ivfpq}),
e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), rescored AS (
  SELECT s.query_id, s.neighbor_id,
         ROUND({cosine_sql('qe.v', 'ne.v')}, 6) AS cos_sim
  FROM shortlist s
  JOIN e qe ON qe.vec_id = s.query_id
  JOIN e ne ON ne.vec_id = s.neighbor_id
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id) AS rnk
  FROM rescored
)
SELECT query_id, neighbor_id, cos_sim, rnk FROM ranked WHERE rnk <= {TOP_K}
"""


@register(
    "sim_topk_ivfpq_rerank",
    oracle=_ivfpq_rerank_oracle(),
    tags=("similarity", "llm", "approx", "scale", "bench"),
)
def sim_topk_ivfpq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full production ANN stack in one oracled dataflow — FAISS's
    IVFADC + refine: (1) IVF cell probe restricts candidates to
    N_PROBE/K of the corpus, (2) the broadcast-LUT ADC scan ranks those
    candidates in code space, (3) the PQ_SHORTLIST best fetch their
    floats for an exact cosine re-rank. Stage economics at 100 TB:
    stage 1 prunes partitions, stage 2 reads M bytes/vector, stage 3
    touches Q·SHORTLIST rows of full-precision data — each stage costs
    ~1/64th of the one before, which is the whole design.

    Every stage is deterministic, so the three-stage composition —
    probe set, code ranking, refine cut — is hash-proven end to end,
    not just per stage."""
    adc = _ivfpq_adc_scored(spark, sf_dir)
    w = W.partitionBy("query_id").orderBy("adc_dist_e6", "neighbor_id")
    shortlist = (
        adc.select("*", F.row_number().over(w).alias("srnk"))
        .filter(F.col("srnk") <= PQ_SHORTLIST)
        .select("query_id", "neighbor_id")
    )
    return _exact_topk(_live_embeddings(spark, sf_dir), shortlist)


MATRYOSHKA_DIMS = 16  # prefix dims for the truncated index


def _matryoshka_oracle() -> str:
    trunc = "list_transform(embedding[1:{d}], x -> CAST(x AS DOUBLE))".format(
        d=MATRYOSHKA_DIMS
    )
    return f"""
WITH full_rank AS ({TOPK_ORACLE}),
e AS (SELECT vec_id, {trunc} AS v FROM embeddings),
q AS (SELECT vec_id, v FROM e WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         ROUND({cosine_sql('q.v', 'e.v')}, 6) AS cos_sim
  FROM q JOIN e ON q.vec_id != e.vec_id
), trunc_rank AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cos_sim DESC, neighbor_id) AS rnk
    FROM scored
  ) WHERE rnk <= {TOP_K}
)
SELECT f.query_id,
       CAST(COUNT(t.neighbor_id) AS BIGINT) AS n_overlap,
       CAST(COUNT(t.neighbor_id) * 1000000 // {TOP_K} AS BIGINT) AS recall_e6
FROM full_rank f
LEFT JOIN trunc_rank t
  ON t.query_id = f.query_id AND t.neighbor_id = f.neighbor_id
GROUP BY 1
"""


@register(
    "emb_matryoshka_eval", oracle=_matryoshka_oracle(), tags=("similarity", "llm", "agg")
)
def emb_matryoshka_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-truncation retrieval eval (the Matryoshka question): how
    much of the full-precision top-5 survives when the index keeps only
    the first MATRYOSHKA_DIMS of 64 dimensions? Per query: overlap
    count and recall@5 of the truncated exact search against the
    full-dimension exact search. For MRL-trained embeddings this is the
    dial that prices a 4× index-size cut; for arbitrary embeddings
    (these synthetic ones) it measures how much ranking signal the
    leading dims happen to carry — the number you check BEFORE
    truncating a production index.

    Scale: two broadcast-query scans (one on 16-dim prefixes — ¼ the
    fold work), two per-query top-k windows, one Q·k-sized eval join."""
    emb = load_table(spark, sf_dir, "embeddings")
    full = sim_topk_bruteforce(spark, sf_dir).select("query_id", "neighbor_id")
    t = live(
        emb.select("vec_id", as_double(F.slice("embedding", 1, MATRYOSHKA_DIMS)).alias("v"))
    )
    scored = t.join(
        F.broadcast(_queries(t, "nrm")), F.col("query_id") != F.col("vec_id")
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        pair_cos("qv", "v", "qnrm", "nrm").alias("cos_sim"),
    )
    trunc_rank = _topk(scored).select(
        "query_id", F.col("neighbor_id").alias("t_neighbor")
    )
    return (
        full.join(
            trunc_rank,
            (full["query_id"] == trunc_rank["query_id"])
            & (full["neighbor_id"] == F.col("t_neighbor")),
            "left",
        )
        .groupBy(full["query_id"])
        .agg(
            F.count("t_neighbor").cast("long").alias("n_overlap"),
            F.expr(f"CAST(COUNT(t_neighbor) * 1000000 div {TOP_K} AS BIGINT)").alias(
                "recall_e6"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Binary quantization: sign-bit codes, Hamming shortlist, exact re-rank
# ---------------------------------------------------------------------------

BQ_SHORTLIST = 20


def _sign_word_sql(v: str, lo: int) -> str:
    """32 sign bits of ``v[lo+1 .. lo+32]`` packed into a BIGINT —
    64 CASE terms total per vector, identical text on both engines."""
    return " + ".join(
        f"(CASE WHEN {v}[{lo + j + 1}] >= 0 THEN {1 << j} ELSE 0 END)"
        for j in range(32)
    )


def _sign_word_spark(v: str, lo: int) -> str:
    return " + ".join(
        f"(CASE WHEN element_at({v}, {lo + j + 1}) >= 0 THEN {1 << j}L ELSE 0L END)"
        for j in range(32)
    )


def _binary_hamming_oracle() -> str:
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), code AS (
  SELECT vec_id, v,
         CAST({_sign_word_sql('v', 0)} AS BIGINT) AS w0,
         CAST({_sign_word_sql('v', 32)} AS BIGINT) AS w1
  FROM e
), q AS (SELECT * FROM code WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         CAST(bit_count(xor(q.w0, c.w0)) + bit_count(xor(q.w1, c.w1)) AS BIGINT)
           AS hamming
  FROM q JOIN code c ON q.vec_id != c.vec_id
), shortlist AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY hamming, neighbor_id) AS srnk
    FROM scored
  ) WHERE srnk <= {BQ_SHORTLIST}
), rescored AS (
  SELECT s.query_id, s.neighbor_id,
         ROUND({cosine_sql('qe.v', 'ne.v')}, 6) AS cos_sim
  FROM shortlist s
  JOIN e qe ON qe.vec_id = s.query_id
  JOIN e ne ON ne.vec_id = s.neighbor_id
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id) AS rnk
  FROM rescored
)
SELECT query_id, neighbor_id, cos_sim, rnk FROM ranked WHERE rnk <= {TOP_K}
"""


@register(
    "sim_topk_binary_hamming",
    oracle=_binary_hamming_oracle(),
    tags=("similarity", "llm", "approx", "scale"),
)
def sim_topk_binary_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary quantization retrieval — the 1-bit compression point
    completing the int8 → PQ → binary ladder: each vector collapses to
    its 64 SIGN BITS packed into two BIGINT words (512× smaller than
    the floats), candidates rank by Hamming distance (two XOR+popcount
    ops per pair — the cheapest similarity primitive that exists), and
    the BQ_SHORTLIST best re-rank by exact cosine. This is the
    modern binary-quantization recipe vector stores ship because the
    Hamming scan is memory-bandwidth-bound, not FLOP-bound.

    Everything is deterministic (sign bits from the raw floats, integer
    Hamming, the shared exact re-rank), so the full pipeline is
    hash-proven. Sign-bit packing is a 64-term integer CASE sum —
    whole-stage codegen, no HOF lambda, identical expression text in
    the oracle. Scale: codes build in one narrow pass; the scan
    touches 16 bytes/vector against broadcast query words."""
    code = _live_embeddings(spark, sf_dir).select(
        "vec_id",
        "v",
        "nrm",
        F.expr(f"CAST({_sign_word_spark('v', 0)} AS BIGINT)").alias("w0"),
        F.expr(f"CAST({_sign_word_spark('v', 32)} AS BIGINT)").alias("w1"),
    )
    q = _queries(code, "nrm", "w0", "w1")
    scored = code.join(F.broadcast(q), F.col("query_id") != F.col("vec_id")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        "v",
        "nrm",
        "qv",
        "qnrm",
        F.expr("CAST(bit_count(w0 ^ qw0) + bit_count(w1 ^ qw1) AS BIGINT)").alias(
            "hamming"
        ),
    )
    ws = W.partitionBy("query_id").orderBy("hamming", "neighbor_id")
    shortlist = (
        scored.select("*", F.row_number().over(ws).alias("srnk"))
        .filter(F.col("srnk") <= BQ_SHORTLIST)
    )
    return _topk(
        shortlist.select(
            "query_id", "neighbor_id", pair_cos("qv", "v", "qnrm", "nrm").alias("cos_sim")
        )
    )


# ---------------------------------------------------------------------------
# Reciprocal-rank fusion of two rankers (hybrid-search combiner)
# ---------------------------------------------------------------------------

RRF_K = 60  # the standard RRF damping constant


def _rrf_oracle() -> str:
    pq = _pq_adc_oracle(PQ_SHORTLIST)
    # the second ranker is the RAW Hamming ordering (not the binary
    # op's cosine-refined output — fusion wants the rankers' own views)
    return f"""
WITH pq_rank AS ({pq}),
e2 AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), code2 AS (
  SELECT vec_id,
         CAST({_sign_word_sql('v', 0)} AS BIGINT) AS w0,
         CAST({_sign_word_sql('v', 32)} AS BIGINT) AS w1
  FROM e2
), q2 AS (SELECT * FROM code2 WHERE vec_id < {N_QUERIES}),
hscored AS (
  SELECT q2.vec_id AS query_id, c.vec_id AS neighbor_id,
         CAST(bit_count(xor(q2.w0, c.w0)) + bit_count(xor(q2.w1, c.w1)) AS BIGINT)
           AS hamming
  FROM q2 JOIN code2 c ON q2.vec_id != c.vec_id
), bq_rank AS (
  SELECT query_id, neighbor_id, rnk FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY hamming, neighbor_id) AS rnk
    FROM hscored
  ) WHERE rnk <= {PQ_SHORTLIST}
),
u AS (
  SELECT query_id, neighbor_id, rnk AS r_pq, CAST(NULL AS BIGINT) AS r_bq
  FROM pq_rank
  UNION ALL
  SELECT query_id, neighbor_id, CAST(NULL AS BIGINT), rnk FROM bq_rank
), cand AS (
  SELECT query_id, neighbor_id,
         MIN(r_pq) AS r_pq, MIN(r_bq) AS r_bq
  FROM u GROUP BY 1, 2
), scored AS (
  SELECT query_id, neighbor_id, r_pq, r_bq,
         COALESCE(CAST(ROUND(1000000.0 / ({RRF_K} + r_pq)) AS BIGINT), 0)
       + COALESCE(CAST(ROUND(1000000.0 / ({RRF_K} + r_bq)) AS BIGINT), 0)
           AS rrf_e6
  FROM cand
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY rrf_e6 DESC, neighbor_id) AS rnk
  FROM scored
)
SELECT query_id, neighbor_id, r_pq, r_bq, rrf_e6, rnk
FROM ranked WHERE rnk <= {TOP_K}
"""


@register(
    "sim_topk_rrf_fusion", oracle=_rrf_oracle(), tags=("similarity", "llm", "approx")
)
def sim_topk_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of two independent rankers — the standard
    hybrid-search combiner (RRF is what production 'vector + keyword'
    stacks use because it needs no score calibration, only RANKS):
    each query's 20-deep PQ-ADC shortlist and 20-deep binary-Hamming
    shortlist merge by Σ 1/(60 + rank), missing-from-one-ranker
    contributes nothing, top-5 by fused score. Rankers that err
    differently (quantization grid vs sign-bit geometry) cancel each
    other's mistakes — the ensemble argument, applied to retrieval.

    Per-rank RRF terms quantize ×1e6 (exact integers, identical
    rounding both engines), so fusion scores and the tie-broken
    ranking are hash-proven. Scale: consumes two per-query top-k
    frames (Q·20 rows each) — fusion cost is independent of corpus
    size."""
    # shortlists at PQ_SHORTLIST depth from the shared cores
    adc = _pq_adc_scored(spark, sf_dir)
    wpq = W.partitionBy("query_id").orderBy("adc_dist_e6", "neighbor_id")
    pq_rank = (
        adc.select("*", F.row_number().over(wpq).cast("long").alias("r_pq"))
        .filter(F.col("r_pq") <= PQ_SHORTLIST)
        .select("query_id", "neighbor_id", "r_pq")
    )
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("v")
    )
    code = emb.select(
        "vec_id",
        F.expr(f"CAST({_sign_word_spark('v', 0)} AS BIGINT)").alias("w0"),
        F.expr(f"CAST({_sign_word_spark('v', 32)} AS BIGINT)").alias("w1"),
    )
    q = code.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("w0").alias("q0"),
        F.col("w1").alias("q1"),
    )
    ham = code.join(F.broadcast(q), F.col("query_id") != F.col("vec_id")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.expr("CAST(bit_count(w0 ^ q0) + bit_count(w1 ^ q1) AS BIGINT)").alias(
            "hamming"
        ),
    )
    wbq = W.partitionBy("query_id").orderBy("hamming", "neighbor_id")
    bq_rank = (
        ham.select("*", F.row_number().over(wbq).cast("long").alias("r_bq"))
        .filter(F.col("r_bq") <= PQ_SHORTLIST)
        .select("query_id", "neighbor_id", "r_bq")
    )
    cand = pq_rank.join(bq_rank, ["query_id", "neighbor_id"], "full_outer")
    term = lambda c: F.coalesce(  # noqa: E731
        F.round(1_000_000.0 / (RRF_K + F.col(c))).cast("long"), F.lit(0)
    )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        "r_pq",
        "r_bq",
        (term("r_pq") + term("r_bq")).alias("rrf_e6"),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("rrf_e6"), "neighbor_id")
    return (
        scored.select("*", F.row_number().over(w).cast("long").alias("rnk"))
        .filter(F.col("rnk") <= TOP_K)
    )


# ---------------------------------------------------------------------------
# IVF nprobe sweep: recall@k as a function of probes, one dataflow
# ---------------------------------------------------------------------------

NPROBE_MAX = 4


def _nprobe_sweep_oracle() -> str:
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), cent AS (
  SELECT vec_id AS c_id, v AS c_emb FROM e
  WHERE vec_id >= {IVF_C_LO} AND vec_id < {IVF_C_HI}
), assign AS (
  SELECT e.vec_id, cent.c_id, ROW_NUMBER() OVER (
           PARTITION BY e.vec_id
           ORDER BY ROUND({cosine_sql('e.v', 'cent.c_emb')}, 6) DESC, cent.c_id) AS crnk
  FROM e, cent
), clustered AS (SELECT vec_id, c_id AS cluster FROM assign WHERE crnk = 1),
q AS (SELECT vec_id AS query_id, v FROM e WHERE vec_id < {N_QUERIES}),
probes AS (
  SELECT q.query_id, cent.c_id AS probe_cluster, ROW_NUMBER() OVER (
           PARTITION BY q.query_id
           ORDER BY ROUND({cosine_sql('q.v', 'cent.c_emb')}, 6) DESC, cent.c_id) AS prnk
  FROM q, cent
), exact AS ({TOPK_ORACLE}),
ps AS (SELECT unnest(generate_series(1, {NPROBE_MAX})) AS np),
cand AS (
  SELECT ps.np, p.query_id, c.vec_id AS neighbor_id
  FROM probes p JOIN clustered c ON c.cluster = p.probe_cluster, ps
  WHERE p.prnk <= ps.np AND c.vec_id != p.query_id
), scored AS (
  SELECT cand.np, cand.query_id, cand.neighbor_id,
         ROUND({cosine_sql('qe.v', 'ne.v')}, 6) AS cos_sim
  FROM cand
  JOIN e qe ON qe.vec_id = cand.query_id
  JOIN e ne ON ne.vec_id = cand.neighbor_id
), ranked AS (
  SELECT np, query_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY np, query_id
                                 ORDER BY cos_sim DESC, neighbor_id) AS rnk
    FROM scored
  ) WHERE rnk <= {TOP_K}
)
SELECT ps.np,
       CAST(COUNT(r.neighbor_id) AS BIGINT) AS n_hit,
       CAST(COUNT(r.neighbor_id) * 1000000 // ({N_QUERIES} * {TOP_K}) AS BIGINT)
         AS recall_e6
FROM ps
JOIN exact x ON TRUE
LEFT JOIN ranked r ON r.np = ps.np AND r.query_id = x.query_id
                  AND r.neighbor_id = x.neighbor_id
GROUP BY 1
"""


@register(
    "sim_ivf_nprobe_sweep", oracle=_nprobe_sweep_oracle(), tags=("similarity", "llm")
)
def sim_ivf_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF tuning curve in one dataflow: recall@5 of the fixed-
    centroid IVF search at nprobe = 1..{NPROBE_MAX}, against the exact
    baseline — the latency/recall frontier an ANN deployment reads to
    pick its probe budget (recall must be monotone in nprobe by
    construction; the gated test asserts it). sim_ivf_recall_eval
    measures the single shipped configuration; this measures the DIAL.

    One cell-assignment pass and one probe ranking are shared by all
    sweep points — candidates fan out by probe depth (a 1..P explode of
    the probe table), so the sweep costs one extra narrow dimension,
    not P independent index scans."""
    emb = _live_embeddings(spark, sf_dir)
    cent = fixed_anchors(emb)
    clustered = ivf_cells(emb, cent)
    probes = ivf_probes(_queries(emb, "nrm"), cent, NPROBE_MAX)
    ps = spark.range(1, NPROBE_MAX + 1).select(F.col("id").cast("int").alias("np"))
    cand = (
        clustered.join(
            F.broadcast(probes), F.col("cluster") == F.col("probe_cluster")
        )
        .filter(F.col("vec_id") != F.col("query_id"))
        .crossJoin(F.broadcast(ps))
        .filter(F.col("prnk") <= F.col("np"))
        .select("np", "query_id", F.col("vec_id").alias("neighbor_id"))
    )
    ranked = _exact_topk(emb, cand, "np").select(
        "np", "query_id", F.col("neighbor_id").alias("r_neighbor")
    )
    exact = sim_topk_bruteforce(spark, sf_dir).select("query_id", "neighbor_id")
    joined = (
        exact.crossJoin(F.broadcast(ps.select(F.col("np").alias("s_np"))))
        .join(
            ranked,
            (F.col("s_np") == ranked["np"])
            & (exact["query_id"] == ranked["query_id"])
            & (exact["neighbor_id"] == F.col("r_neighbor")),
            "left",
        )
    )
    return joined.groupBy(F.col("s_np").alias("np")).agg(
        F.count("r_neighbor").cast("long").alias("n_hit"),
        F.expr(
            f"CAST(COUNT(r_neighbor) * 1000000 div ({N_QUERIES} * {TOP_K}) AS BIGINT)"
        ).alias("recall_e6"),
    )


# ---------------------------------------------------------------------------
# Deterministic farthest-point seeding (k-means++ style initialization)
# ---------------------------------------------------------------------------

FPS_SEEDS = 4  # seeds to select after the fixed starting vector


def _fps_oracle() -> str:
    # seed 0 is the fixed anchor vec {IVF_C_LO}; each round adds the
    # vector maximizing its min squared-L2 distance (exact ×1e6 ints,
    # ties to the smaller vec_id) to the chosen set.
    subdist = " + ".join(
        f"(a.v[{j}] - b.v[{j}]) * (a.v[{j}] - b.v[{j}])" for j in range(1, 65)
    )
    rounds = []
    prev = "s0"
    for i in range(1, FPS_SEEDS + 1):
        rounds.append(
            f"""d{i} AS (
  SELECT e.vec_id,
         MIN(CAST(ROUND(({subdist.replace('a.v', 'e.v').replace('b.v', 's.v')}) * 1000000)
             AS BIGINT)) AS mind
  FROM ev e JOIN ev s ON s.vec_id IN (SELECT vec_id FROM {prev})
  GROUP BY e.vec_id
), pick{i} AS (
  SELECT vec_id FROM d{i}
  ORDER BY mind DESC, vec_id LIMIT 1
), s{i} AS (
  SELECT vec_id FROM {prev} UNION ALL SELECT vec_id FROM pick{i}
)"""
        )
        prev = f"s{i}"
    return f"""
WITH ev AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), s0 AS (SELECT CAST({IVF_C_LO} AS BIGINT) AS vec_id),
{', '.join(rounds)},
final AS (SELECT vec_id FROM {prev}),
dist AS (
  SELECT e.vec_id,
         MIN(CAST(ROUND(({subdist.replace('a.v', 'e.v').replace('b.v', 's.v')}) * 1000000)
             AS BIGINT)) AS mind
  FROM ev e JOIN ev s ON s.vec_id IN (SELECT vec_id FROM final)
  GROUP BY e.vec_id
)
SELECT f.vec_id,
       ROW_NUMBER() OVER (ORDER BY f.vec_id) AS seed_order,
       (SELECT CAST(SUM(mind) AS BIGINT) FROM dist) AS total_min_dist_e6
FROM final f
"""


@register(
    "emb_farthest_point_seeds",
    oracle=_fps_oracle(),
    tags=("embedding", "iterative", "llm"),
)
def emb_farthest_point_seeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic farthest-point initialization for the trained
    quantizers — the k-means++ idea with the randomness removed (the
    max-min criterion instead of D²-sampling): starting from the fixed
    anchor vector, each round adds the vector FARTHEST from the chosen
    set (exact ×1e6 integer squared-L2, ties to the lower id). Seeding
    quality is what separates trained IVF/PQ codebooks from lucky ones;
    farthest-point gives the classic 2-approximation to the optimal
    k-center cover, and the emitted total min-distance (the k-center
    objective) is the number to compare against the fixed-anchor
    baseline. Feed the result to train_ivf_centroids in place of the
    fixed anchors and nothing downstream changes.

    Per round: one narrow pass scoring every vector against the ≤K
    chosen seeds (broadcast), one global argmax via TakeOrdered —
    no shuffle of the corpus, K·D driver bytes. The oracle unrolls the
    same rounds as CTEs."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("v")
    )
    emb = emb.transform(pin)  # scanned once per round
    # the fold equals the oracle's unrolled 64-term sum bit for bit
    # (0.0 + t1 == t1 for t1 >= 0) and runs faster (functions/vectors.py)
    d_e6 = _l2_e6(F.col("v"), F.col("sv"))
    seeds = emb.filter(F.col("vec_id") == IVF_C_LO).select(
        "vec_id", F.col("v").alias("sv")
    )
    for _ in range(FPS_SEEDS):
        mind = (
            emb.crossJoin(F.broadcast(seeds.select("sv")))
            .select("vec_id", d_e6.alias("d"))
            .groupBy("vec_id")
            .agg(F.min("d").alias("mind"))
        )
        pick = mind.orderBy(F.desc("mind"), "vec_id").limit(1).select("vec_id")
        seeds = (
            emb.join(
                seeds.select("vec_id").unionByName(pick).distinct(), "vec_id"
            )
            .select("vec_id", F.col("v").alias("sv"))
            .transform(pin)  # seed set feeds the next round
        )
    dist = (
        emb.crossJoin(F.broadcast(seeds.select("sv")))
        .select("vec_id", d_e6.alias("d"))
        .groupBy("vec_id")
        .agg(F.min("d").alias("mind"))
    )
    obj = dist.agg(F.sum("mind").cast("long").alias("total_min_dist_e6"))
    w = W.partitionBy(tiny_frame_key("vec_id")).orderBy("vec_id")
    return (
        seeds.select("vec_id")
        .select("vec_id", F.row_number().over(w).cast("long").alias("seed_order"))
        .crossJoin(F.broadcast(obj))
    )


# ---------------------------------------------------------------------------
# Embedding-space isotropy: exact mean pairwise cosine via the sum identity
# ---------------------------------------------------------------------------


def _isotropy_oracle() -> str:
    qexpr = (
        f"CAST(ROUND(v[{{d}}] / sqrt({dot_sql('v', 'v')}) * 1000000) AS BIGINT)"
    )
    cols = ", ".join(qexpr.format(d=j) + f" AS q{j}" for j in range(1, 65))
    s_cols = ", ".join(f"CAST(SUM(q{j}) AS BIGINT) AS s{j}" for j in range(1, 65))
    ss = " + ".join(f"s{j} * s{j}" for j in range(1, 65))
    selfsq = " + ".join(f"q{j} * q{j}" for j in range(1, 65))
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), qv AS (
  SELECT vec_id, {cols} FROM e
), s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, {s_cols},
         CAST(SUM({selfsq}) AS BIGINT) AS self_e12
  FROM qv
)
SELECT n,
       CAST(({ss}) - self_e12 AS BIGINT) AS pair_dot_sum_e12,
       CAST((({ss}) - self_e12) // (n * (n - 1)) AS BIGINT) AS mean_pair_cos_e12
FROM s
"""


@register(
    "emb_isotropy_score", oracle=_isotropy_oracle(), tags=("embedding", "llm", "agg", "scale")
)
def emb_isotropy_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anisotropy of the embedding space as ONE exact number: the mean
    cosine between all ordered pairs of distinct vectors — near 0 for
    an isotropic (healthy) space, drifting up when representations
    collapse into a cone (the classic contextual-embedding pathology;
    the population view of emb_pca_project's per-vector cos²).

    The trick that makes it one PASS instead of n² pairs: with unit
    vectors, Σ_{{i≠j}} vᵢ·vⱼ = ‖Σᵢvᵢ‖² − Σᵢ‖vᵢ‖², so 64 per-dimension
    sums of the ×1e6-quantized normalized coordinates carry ALL the
    pairwise information. Every aggregate is an exact integer
    (quantize-then-sum), the identity is exact integer algebra, and
    the mean is floor division — hash-stable at any parallelism, O(n)
    at any corpus size."""
    q = _live_embeddings(spark, sf_dir).select(
        *[
            F.round(F.element_at("v", j) / F.col("nrm") * 1_000_000)
            .cast("long")
            .alias(f"q{j}")
            for j in range(1, 65)
        ]
    )
    selfsq = sum(F.col(f"q{j}") * F.col(f"q{j}") for j in range(1, 65))
    s = q.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        *[F.sum(f"q{j}").cast("long").alias(f"s{j}") for j in range(1, 65)],
        F.sum(selfsq).cast("long").alias("self_e12"),
    )
    ss = sum(F.col(f"s{j}") * F.col(f"s{j}") for j in range(1, 65))
    return s.select(
        "n",
        (ss - F.col("self_e12")).cast("long").alias("pair_dot_sum_e12"),
        F.expr(
            "CAST(("
            + " + ".join(f"s{j} * s{j}" for j in range(1, 65))
            + " - self_e12) div GREATEST(n * (n - 1), 1L) AS BIGINT)"
        ).alias("mean_pair_cos_e12"),
    )


# ---------------------------------------------------------------------------
# Rerank shortlist-depth sweep: recall@k vs refine budget
# ---------------------------------------------------------------------------

RERANK_DEPTHS = (5, 10, 20, 40)


def _rerank_sweep_oracle() -> str:
    adc_all = _pq_adc_oracle(max(RERANK_DEPTHS))
    depths = ", ".join(str(d) for d in RERANK_DEPTHS)
    return f"""
WITH shortlist AS ({adc_all}),
e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), exact AS ({TOPK_ORACLE}),
ds AS (SELECT unnest([{depths}]) AS depth),
resc AS (
  SELECT ds.depth, s.query_id, s.neighbor_id,
         ROUND({cosine_sql('qe.v', 'ne.v')}, 6) AS cos_sim
  FROM shortlist s
  JOIN e qe ON qe.vec_id = s.query_id
  JOIN e ne ON ne.vec_id = s.neighbor_id, ds
  WHERE s.rnk <= ds.depth
), ranked AS (
  SELECT depth, query_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY depth, query_id
                                 ORDER BY cos_sim DESC, neighbor_id) AS rnk
    FROM resc
  ) WHERE rnk <= {TOP_K}
)
SELECT ds.depth,
       CAST(COUNT(r.neighbor_id) AS BIGINT) AS n_hit,
       CAST(COUNT(r.neighbor_id) * 1000000 // ({N_QUERIES} * {TOP_K}) AS BIGINT)
         AS recall_e6
FROM ds
JOIN exact x ON TRUE
LEFT JOIN ranked r ON r.depth = ds.depth AND r.query_id = x.query_id
                  AND r.neighbor_id = x.neighbor_id
GROUP BY 1
"""


@register(
    "sim_rerank_depth_sweep", oracle=_rerank_sweep_oracle(), tags=("similarity", "llm")
)
def sim_rerank_depth_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The refine-budget dial pairing with sim_ivf_nprobe_sweep: exact
    recall@5 of the PQ→exact-rerank stack at shortlist depths
    {RERANK_DEPTHS} — the latency/recall frontier for stage-3 work,
    which at 100 TB is Q·depth float fetches against the vector store.
    Depth 5 IS the raw ADC ranking re-scored (no extra candidates);
    recall is monotone in depth by construction and saturates at the
    ADC ranking's ceiling — where it flattens is your depth budget.

    One ADC scan at the maximum depth serves every sweep point (depth
    restriction is a filter on the shared shortlist, then per-depth
    re-ranking of tiny per-query frames)."""
    adc = _pq_adc_scored(spark, sf_dir)
    w = W.partitionBy("query_id").orderBy("adc_dist_e6", "neighbor_id")
    shortlist = (
        adc.select("*", F.row_number().over(w).alias("srnk"))
        .filter(F.col("srnk") <= max(RERANK_DEPTHS))
        .select("query_id", "neighbor_id", "srnk")
    )
    ds = local_frame(spark, [(d,) for d in RERANK_DEPTHS], "depth int")
    cand = (
        shortlist.crossJoin(F.broadcast(ds))
        .filter(F.col("srnk") <= F.col("depth"))
        .select("depth", "query_id", "neighbor_id")
    )
    ranked = _exact_topk(_live_embeddings(spark, sf_dir), cand, "depth").select(
        "depth", "query_id", F.col("neighbor_id").alias("r_neighbor")
    )
    exact = sim_topk_bruteforce(spark, sf_dir).select("query_id", "neighbor_id")
    joined = exact.crossJoin(
        F.broadcast(ds.select(F.col("depth").alias("s_depth")))
    ).join(
        ranked,
        (F.col("s_depth") == ranked["depth"])
        & (exact["query_id"] == ranked["query_id"])
        & (exact["neighbor_id"] == F.col("r_neighbor")),
        "left",
    )
    return joined.groupBy(F.col("s_depth").alias("depth")).agg(
        F.count("r_neighbor").cast("long").alias("n_hit"),
        F.expr(
            f"CAST(COUNT(r_neighbor) * 1000000 div ({N_QUERIES} * {TOP_K}) AS BIGINT)"
        ).alias("recall_e6"),
    )


# --- k-means: one fully oracle-checked Lloyd iteration ----------------------

KM_K = 8
KM_C_LO, KM_C_HI = 8, 8 + KM_K  # fixed seed vectors (disjoint from queries)
EMB_DIM = 64


def _sq_l2_sql(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(list_zip({a}, {b}), "
        f"t -> (t[1] - t[2]) * (t[1] - t[2])), (x, y) -> x + y)"
    )


KM_LLOYD_ORACLE = f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
c AS (SELECT vec_id AS c_id, v AS c_emb FROM e
      WHERE vec_id >= {KM_C_LO} AND vec_id < {KM_C_HI}),
d AS (SELECT e.vec_id, e.v, c.c_id,
             CAST(ROUND({_sq_l2_sql('e.v', 'c.c_emb')} * 1000000) AS BIGINT) AS d2_e6
      FROM e CROSS JOIN c),
asg AS (SELECT vec_id, v, c_id, d2_e6 FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                       ORDER BY d2_e6, c_id) AS rn FROM d)
        WHERE rn = 1),
perk AS (SELECT c_id, CAST(COUNT(*) AS BIGINT) AS n_assigned,
                CAST(SUM(d2_e6) AS BIGINT) AS sse_e6
         FROM asg GROUP BY 1),
cells AS (SELECT c_id, i AS dim, CAST(ROUND(v[i] * 1000000000) AS BIGINT) AS v9
          FROM asg, LATERAL (SELECT unnest(generate_series(1, {EMB_DIM})) AS i)),
means AS (SELECT c_id, dim,
                 CAST(ROUND(CAST(SUM(v9) AS DOUBLE) / COUNT(*) / 1000.0) AS BIGINT)
                   AS mean_e6
          FROM cells GROUP BY 1, 2),
old AS (SELECT c_id, i AS dim, CAST(ROUND(c_emb[i] * 1000000) AS BIGINT) AS old_e6
        FROM c, LATERAL (SELECT unnest(generate_series(1, {EMB_DIM})) AS i)),
shift AS (SELECT m.c_id, CAST(SUM(ABS(m.mean_e6 - o.old_e6)) AS BIGINT) AS shift_l1_e6
          FROM means m JOIN old o ON o.c_id = m.c_id AND o.dim = m.dim GROUP BY 1)
SELECT p.c_id AS k, p.n_assigned, p.sse_e6, s.shift_l1_e6
FROM perk p JOIN shift s ON s.c_id = p.c_id
"""


@register("emb_kmeans_lloyd_step", oracle=KM_LLOYD_ORACLE, tags=("embedding", "llm", "agg"))
def emb_kmeans_lloyd_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE exact Lloyd iteration of Euclidean k-means, fully
    hash-oracled — the proof twin of ``train_ivf_centroids`` (which is
    rows-only because it iterates and collects). Seeds are the fixed
    vectors vec_id {KM_C_LO}..{KM_C_HI - 1}; each vector is assigned to
    its nearest seed by ×1e6-integer squared L2 (ties to the lower
    centroid id), then the step is summarized per cluster: member
    count, SSE (the k-means objective, an exact BIGINT sum of the
    rounded member distances), and the L1 centroid shift between the
    old seed and the recomputed per-dimension mean (means via exact
    ×1e9 integer sums, so partial-aggregation order is irrelevant).

    Plan shape at 100 TB: assignment is ONE narrow scan against a
    broadcast K×{EMB_DIM} centroid frame (no shuffle); the update is a
    single (cluster, dim)-keyed partial-aggregated shuffle of K·D
    cells — the canonical distributed-k-means step (Spark MLlib's own
    KMeans does exactly this per round). Every seed assigns to itself
    at distance 0, so no cluster is ever empty."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("v")
    )
    cent = emb.filter(
        (F.col("vec_id") >= KM_C_LO) & (F.col("vec_id") < KM_C_HI)
    ).select(F.col("vec_id").alias("c_id"), F.col("v").alias("c_emb"))
    d2 = _l2_e6(F.col("v"), F.col("c_emb"))
    # struct-min argmin (d2 asc, c_id asc) — map-side combinable, so
    # each vector's K candidate rows collapse before any exchange; the
    # old row_number window shuffled the corpus×K candidate frame,
    # contradicting the no-shuffle assignment this docstring promises.
    # v rides in the struct tail (c_id is unique per group).
    asg = (
        emb.crossJoin(F.broadcast(cent))
        .select("vec_id", d2.alias("d2_e6"), "c_id", "v")
        .groupBy("vec_id")
        .agg(F.min(F.struct("d2_e6", "c_id", "v")).alias("b"))
        .select(
            "vec_id", F.col("b.v").alias("v"), F.col("b.c_id").alias("c_id"),
            F.col("b.d2_e6").alias("d2_e6"),
        )
    )
    perk = asg.groupBy("c_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_assigned"),
        F.sum("d2_e6").cast("long").alias("sse_e6"),
    )
    cells = asg.select(
        "c_id", F.posexplode("v").alias("dim", "val")
    ).select("c_id", "dim", F.round(F.col("val") * 1e9).cast("long").alias("v9"))
    means = cells.groupBy("c_id", "dim").agg(
        F.round(
            F.sum("v9").cast("double") / F.count(F.lit(1)) / F.lit(1000.0)
        )
        .cast("long")
        .alias("mean_e6")
    )
    old = cent.select("c_id", F.posexplode("c_emb").alias("dim", "oval")).select(
        "c_id", "dim", F.round(F.col("oval") * 1e6).cast("long").alias("old_e6")
    )
    shift = (
        means.join(old, ["c_id", "dim"])
        .groupBy("c_id")
        .agg(F.sum(F.abs(F.col("mean_e6") - F.col("old_e6"))).cast("long").alias("shift_l1_e6"))
    )
    return (
        perk.join(shift, "c_id")
        .select(F.col("c_id").alias("k"), "n_assigned", "sse_e6", "shift_l1_e6")
    )
