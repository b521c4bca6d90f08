"""Regression pins for the ADVICE r09 findings (round 10).

Three guards, each verified against this Spark's actual semantics
before fixing (ANSI mode — the session default — throws DIVIDE_BY_ZERO
even on double division; ``isnan(NULL)`` is *false*, so ``~isnan``
alone passes NULLs; a NULL struct field sorts FIRST and therefore WINS
``min(struct(...))``):

1. ``graph_link_prediction`` computed ``1e6 / ln(deg)`` over the FULL
   degree table — a degree-1 node (ln 1 = 0) crashed the query under
   ANSI even though such a node can never be a shared neighbor. Fixed
   by filtering ``deg > 1`` before the term (results unchanged:
   a wedge needs two distinct edges at its center).
2. ``_ivf_topk``'s cell assignment filtered ``~isnan(ccos)`` only:
   a NULL-embedding candidate survived and then WON the min-struct
   argmax; a zero-norm vector crashed at the division before the
   filter could run. Fixed with a when()-guarded division + an
   explicit ``isNotNull`` filter; queries and centroids got the same
   sit-out treatment (the probe/re-rank divisions crash identically).
3. ``train_ivf_centroids`` had the same assignment pattern — same fix.
4. The IVF-PQ scan and the nprobe sweep kept their own unguarded
   copies of the quantizer, and the exact baseline divided by a zero
   norm too. All IVF paths now share ``ivf_cells`` / ``ivf_probes``.
   Every cosine path now takes its vectors through
   ``functions.vectors.live``, so a zero-norm or NULL vector sits out
   of all 35 queries that read ``embeddings``.
5. ``sim_topk_l2``'s window and ``_pq_best``'s struct min sorted NULL
   distances first, so a NULL vector ranked as the nearest neighbour
   and a NULL anchor won the PQ code; both now put NULLs last, as
   their DuckDB oracles do.
"""

from __future__ import annotations

import math
import os
import re

import pyspark.sql.functions as F
import pytest

from insurance_claim_data_pipeline_spark import registry
from insurance_claim_data_pipeline_spark.operators import similarity
from insurance_claim_data_pipeline_spark.operators.graph import graph_link_prediction

from .oracle_utils import run_parity


def test_link_prediction_survives_degree_one_nodes(spark, tmp_path):
    # O1 = {1,2}: parts 1 and 2 have co-purchase degree 1 — the exact
    # shape whose ln(1)=0 crashed the pre-fix plan under ANSI.
    # O2 = {3,4}, O3 = {4,5}: parts 3 and 5 share neighbor 4 and are
    # not adjacent, so (3,5) is the one predicted link.
    rows = [(10, 1), (10, 2), (20, 3), (20, 4), (30, 4), (30, 5)]
    li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    li.write.mode("overwrite").parquet(os.path.join(str(tmp_path), "lineitem.parquet"))
    out = graph_link_prediction(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["u"], r["v"], r["common_neighbors"]) == (3, 5, 1)
    assert r["adamic_adar_e6"] == round(1_000_000 / math.log(2))


def _emb_df(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, v array<double>")


def test_ivf_topk_zero_norm_and_null_vectors_sit_out(spark):
    # queries are vec_id < N_QUERIES (8); query 1 is the zero vector,
    # query 2 is NULL — both must sit out, not crash the probe
    # division. Corpus vectors 10/11 are fine; 12 is zero-norm and 13
    # is NULL — neither may be assigned a cell or returned as a
    # neighbor (pre-fix, the NULL candidate WON the min-struct argmax).
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 0.0, 0.0, 0.0]),
        (2, None),
        (10, [0.9, 0.1, 0.0, 0.0]),
        (11, [0.0, 1.0, 0.0, 0.0]),
        (12, [0.0, 0.0, 0.0, 0.0]),
        (13, None),
    ]
    cent = [(100, [1.0, 0.0, 0.0, 0.0]), (101, [0.0, 1.0, 0.0, 0.0]),
            (102, [0.0, 0.0, 0.0, 0.0])]  # zero-norm centroid sits out too
    out = similarity._ivf_topk(
        _emb_df(spark, rows),
        spark.createDataFrame(cent, "c_id long, c_emb array<double>"),
    ).collect()
    assert out, "finite queries must still get results"
    assert {r["query_id"] for r in out} == {0}
    assert not {r["neighbor_id"] for r in out} & {12, 13}


def test_train_ivf_centroids_zero_norm_sits_out(spark):
    dim = 64
    v1 = [1.0] + [0.0] * (dim - 1)
    v2 = [0.0, 1.0] + [0.0] * (dim - 2)
    rows = [
        (8, v1), (9, [x * 0.5 for x in v1]),
        (10, v2), (11, [0.0] * dim), (12, None),
    ]
    cent = similarity.train_ivf_centroids(_emb_df(spark, rows), iters=1).collect()
    # NULL seed 12 sits out of init; zero-norm seed 11 stays as an
    # inert empty cell; the zero/NULL corpus rows sit out of
    # assignment instead of winning the argmax or crashing ANSI.
    assert sorted(r["c_id"] for r in cent) == [8, 9, 10, 11]
    by_id = {r["c_id"]: r["c_emb"] for r in cent}
    assert by_id[11] == [0.0] * dim  # carried forward, not NULL-poisoned
    assert by_id[8][0] == 0.75  # mean of vecs 8 and 9 only


ZERO_IDS = {3, 30}  # one query (vec_id < N_QUERIES), one corpus vector
NULL_IDS = {24, 27, 33}


def _degenerate_corpus(tmp_path, zero_ids=ZERO_IDS, null_ids=NULL_IDS) -> str:
    """The sf0.001 embeddings with ``zero_ids`` set to the zero vector
    and ``null_ids`` to a NULL embedding, next to links to the other
    sf0.001 tables (the oracle connection opens them all); returns the
    sf_dir to read it from."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tests.conftest import SF_SMOKE

    for name in os.listdir(SF_SMOKE):
        if name.endswith(".parquet") and name != "embeddings.parquet":
            os.symlink(os.path.join(SF_SMOKE, name), os.path.join(str(tmp_path), name))
    t = pq.read_table(os.path.join(SF_SMOKE, "embeddings.parquet"))
    rows = t.to_pylist()
    for r in rows:
        if r["vec_id"] in zero_ids:
            r["embedding"] = [0.0] * len(r["embedding"])
        elif r["vec_id"] in null_ids:
            r["embedding"] = None
    pq.write_table(
        pa.Table.from_pylist(rows, schema=t.schema),
        os.path.join(str(tmp_path), "embeddings.parquet"),
    )
    return str(tmp_path)


def _embeddings_readers() -> list[str]:
    """Every batch query that reads ``embeddings``: the names whose
    tests/plan_budget.txt line scans it, plus sim_topk_mmr, whose line
    reads ``scans=-`` because its final frame reads its pins."""
    budget = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plan_budget.txt")
    with open(budget) as f:
        names = [line.split()[0] for line in f if re.search(r"[=,]embeddings:", line)]
    return names + ["sim_topk_mmr"]


# Ranked by L2 or ADC distance, which a zero vector has, so these may
# list it.
DISTANCE_RANKED = {"sim_topk_l2", "sim_topk_pq", "sim_topk_rrf_fusion"}
# Query-keyed outputs whose query set is exactly the live demo queries.
ALL_LIVE_QUERIES = {
    "sim_topk_bruteforce", "sim_topk_ivfpq", "sim_topk_ivfpq_rerank", "sim_ivf_recall_eval",
}


@pytest.fixture(scope="module")
def degenerate_sf(tmp_path_factory):
    return _degenerate_corpus(tmp_path_factory.mktemp("degenerate"))


@pytest.mark.parametrize("name", _embeddings_readers())
def test_every_embeddings_reader_lets_zero_norm_and_null_vectors_sit_out(
    spark, degenerate_sf, name
):
    # Every cosine path takes its vectors through vectors.live, so a
    # zero or NULL vector sits out as a query and as a neighbour. Before,
    # 16 of these queries raised ANSI DIVIDE_BY_ZERO on this corpus,
    # three of them (the eager pins of dedup_semantic_components, the
    # flagship and sim_topk_mmr) already while the frame was built.
    bad = ZERO_IDS | NULL_IDS
    out = registry.queries()[name](spark, degenerate_sf)
    rows = out.collect()
    if name not in DISTANCE_RANKED:
        for col in {"query_id", "neighbor_id", "vec_a", "vec_b"} & set(out.columns):
            assert not {r[col] for r in rows} & bad, col
    if name in ALL_LIVE_QUERIES:
        assert {r["query_id"] for r in rows} == set(range(similarity.N_QUERIES)) - bad
    if name == "sim_topk_ivfpq":
        # the unguarded struct-max once put every NULL vector into the
        # first cell, where the ADC scan scored it
        adc = similarity._ivfpq_adc_scored(spark, degenerate_sf).collect()
        assert adc
        assert not {r["neighbor_id"] for r in adc} & bad
        assert not {r["query_id"] for r in adc} & bad
    if name == "sim_ivf_nprobe_sweep":
        assert sorted(r["np"] for r in rows) == list(range(1, similarity.NPROBE_MAX + 1))


def test_l2_topk_ranks_null_vectors_last(spark, tmp_path):
    # The NULL corpus vectors have NULL distances; the oracle ranks
    # them last (DuckDB's ORDER BY default), where Spark's ascending
    # default put them first and returned them as the top neighbours.
    sf = _degenerate_corpus(tmp_path)
    problems = run_parity(spark, sf, "sim_topk_l2", similarity.sim_topk_l2, similarity.L2_ORACLE)
    assert not problems, "\n".join(problems)


def test_pq_encode_never_picks_a_null_anchor(spark, tmp_path):
    # Anchor vec 10 (PQ code 2) is NULL, so all its subspace distances
    # are NULL. A NULL field sorts first in a struct min, where it once
    # won 7,984 of the 8,000 (vector, subspace) cells; the oracle sorts
    # it last.
    sf = _degenerate_corpus(tmp_path, zero_ids=set(), null_ids={10})
    problems = run_parity(
        spark, sf, "emb_pq_encode", similarity.emb_pq_encode, similarity._pq_encode_oracle()
    )
    assert not problems, "\n".join(problems)


def test_isnan_null_semantics_still_hold(spark):
    # The guards above are correct ONLY under these engine semantics;
    # if a Spark upgrade changes them, this canary points at the spots
    # to re-audit (similarity.ivf_cells / ivf_probes, the coarse
    # quantizer every IVF path shares).
    row = spark.range(1).select(
        F.isnan(F.lit(None).cast("double")).alias("isnan_null"),
    ).first()
    assert row["isnan_null"] is False


def test_lateral_alias_resolution_rule(spark):
    """Engine-semantics pin for the r11 emb_l2_normalize bug class: in
    one projection that aliases a NEW expression to an EXISTING input
    name, a PLAIN sibling reference resolves to the INPUT column (the
    documented lateral-column-alias priority), but a reference INSIDE a
    higher-order-function lambda binds to the sibling ALIAS. Any query
    that quantizes/normalizes inside a transform() must therefore do
    display-rounding of the divisor in a SEPARATE projection
    (emb_l2_normalize, emb_quantize_int8 — both bitten at sf0.1, fixed
    r11). If a Spark upgrade changes this outcome, re-audit those two
    and the scan in COVERAGE.md round-11 notes."""
    df = spark.createDataFrame([(2.345678, [1.0, 2.0])], "c double, arr array<double>")
    plain = df.select(
        F.round("c", 2).alias("c"), (F.col("c") * 1000).alias("d")
    ).first()["d"]
    assert plain == 2345.678  # input wins for plain references
    lam = df.select(
        F.round("c", 2).alias("c"),
        F.transform("arr", lambda x: x * F.col("c")).alias("d"),
    ).first()["d"]
    assert lam == [2.35, 4.7]  # sibling alias wins inside HOF lambdas


def test_l2_normalize_quantizes_by_unrounded_norm(spark, tmp_path):
    """Regression for the r11 finding itself: a vector engineered so an
    element sits within 1e-10 of a quantization boundary under the
    UNROUNDED norm must quantize by that norm, not by round(nrm, 9).
    Uses the real sf0.1 reproducer geometry: x/nrm*1e6+0.5 just below
    an integer; dividing by the rounded norm pushes it over."""
    import os
    import pyarrow as pa
    import pyarrow.parquet as pq

    # vec 27 of the sf0.1 corpus reproduced the boundary; rebuild a
    # 2-element corpus around the same arithmetic: norm slightly under
    # 1.0 such that round(nrm, 9) != nrm flips one element's floor.
    base = [0.06184249371290207] + [0.12466] * 63
    d = os.path.join(str(tmp_path), "embeddings.parquet")
    pq.write_table(
        pa.table({
            "vec_id": pa.array([27], pa.int64()),
            "embedding": pa.array([base], pa.list_(pa.float32())),
            "label": pa.array([0], pa.int32()),
        }),
        d,
    )
    out = similarity.emb_l2_normalize(spark, str(tmp_path)).first()
    q = [int(t) for t in out["unit_q"].split(",")]
    # recompute the ground truth in python from the float32-read values
    import math
    import numpy as np
    xs = [float(np.float32(v)) for v in base]
    nrm = 0.0
    acc = 0.0
    for v in xs:
        acc = acc + v * v  # sequential fold, same as dot()
    nrm = math.sqrt(acc)
    expect = [int(math.floor(abs(v / nrm) * 1e6 + 0.5)) * (1 if v >= 0 else -1) for v in xs]
    assert q == expect


def test_floor_double_to_long_saturates_silently(spark):
    """Engine-semantics pin for the r11 per-row quantization fix:
    Spark's floor(DOUBLE) returns LONG and SILENTLY SATURATES at
    Long.Max for inputs past int64 — no ANSI error — while DuckDB's
    BIGINT cast of the same value raises. A hot key that pushes one
    quantized per-row term past int64 therefore corrupts results
    quietly unless the quantization goes through DECIMAL (see
    stats._cuped_mom_sql and the three mom() twins). If an upgrade
    makes this raise instead, the decimal path stays correct — this
    canary just documents why it exists."""
    row = spark.sql("SELECT floor(2.2e20) AS f").first()
    assert row["f"] == 9223372036854775807  # silent saturation, today
    dec = spark.sql(
        "SELECT floor(CAST(2.2e20 + 0.5 AS DECIMAL(38,6))) AS f"
    ).first()
    assert float(dec["f"]) == 2.2e20  # the decimal path is exact
