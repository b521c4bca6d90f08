"""Focused gates for the r12 optimization round's changed internals.

Each test pins the MECHANISM an optimization relies on (plan node,
sizing formula, conf restoration, literal exactness) so a regression
shows up here with its root cause, not as a silent slow-down.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from insurance_claim_data_pipeline_spark.operators import dedup
from insurance_claim_data_pipeline_spark.session import (
    load_table,
    loop_shuffle_partitions,
    pin,
)

from .conftest import SF_SMOKE


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_signature_candidates_pins_expanding_join_parallelism(spark, sf_dir):
    """The candidate self-join's input exchange must be the explicit
    keyed repartition (REPARTITION_BY_NUM at defaultParallelism), which
    AQE's coalescing is not allowed to shrink — the r12 fix for the
    expanding join running single-threaded off a ~0.6 MB map output."""
    from insurance_claim_data_pipeline_spark.functions.vectors import as_double

    emb = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull())
        .select("vec_id", as_double("embedding").alias("v"))
    )
    cand = dedup.banded_sign_candidates(emb, dedup._sem_lsh_planes(spark, 4, 2))
    plan = _plan(cand)
    assert "REPARTITION_BY_NUM" in plan
    n = spark.sparkContext.defaultParallelism
    assert f"hashpartitioning(band#" in plan and f", {n})" in plan


def test_loop_shuffle_partitions_formula():
    # tiny loop frames -> 1 partition; growth is linear in rows with the
    # ~262k rows/task grain; never 0 (spark param dropped r13, ADVICE r12)
    assert loop_shuffle_partitions(0) == 1
    assert loop_shuffle_partitions(917) == 1
    assert loop_shuffle_partitions(131_072) == 1
    assert loop_shuffle_partitions(131_073) == 2
    assert loop_shuffle_partitions(10_000_000) == 77
    assert loop_shuffle_partitions(1_000_000_000) == 7630


def test_star_loop_restores_shuffle_partitions(spark):
    """star_contraction_components mutates spark.sql.shuffle.partitions
    per round; the session value must come back even though the loop
    exits by break."""
    before = spark.conf.get("spark.sql.shuffle.partitions")
    pairs = pin(
        spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
        ),
        eager=True,
    )
    out = dedup.star_contraction_components(pairs)
    rows = {(r["doc_id"], r["component_id"]) for r in out.collect()}
    assert rows == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_min_label_restores_shuffle_partitions(spark, monkeypatch):
    """Every propagation round, round 1 included, runs at the partition
    count sized from the observed adjacency (2E+V rows); the session
    value comes back afterwards."""
    before = spark.conf.get("spark.sql.shuffle.partitions")
    seen = []
    real = dedup.pin_eager_observed

    def spy(*args, **kwargs):
        seen.append(spark.conf.get("spark.sql.shuffle.partitions"))
        return real(*args, **kwargs)

    monkeypatch.setattr(dedup, "pin_eager_observed", spy)
    pairs = spark.createDataFrame([(5, 6), (6, 7)], "doc_a long, doc_b long")
    out = dedup.min_label_components(pairs)
    rows = {(r["doc_id"], r["component_id"]) for r in out.collect()}
    assert rows == {(5, 5), (6, 5), (7, 5)}
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    # seen[0] is the adjacency pin itself (2 edges both ways + 3 self-loops)
    sized = str(loop_shuffle_partitions(2 * 2 + 3))
    assert sized != before and len(seen) >= 3
    assert seen == [before] + [sized] * (len(seen) - 1)


def test_sem_lsh_planes_values_literal_exact(spark):
    """The VALUES-literal plane bank must stay a driver-local relation
    (no RDD leaf) with exact array<double> weights — the md5-derived
    element values are recomputed here independently and compared
    bit-for-bit (the DECIMAL-inference trap this change almost shipped)."""
    planes = dedup._sem_lsh_planes(spark, 2, 2)
    assert dict(planes.dtypes)["w"] == "array<double>"
    plan = _plan(planes)
    assert "ExistingRDD" not in plan
    rows = {(r["band"], r["prow"]): list(r["w"]) for r in planes.collect()}
    assert len(rows) == 4
    for (b, p), w in rows.items():
        for d in (0, 17, 63):
            h = int(
                hashlib.md5(f"sem_{b}_{p}_{d}".encode()).hexdigest()[:15], 16
            )
            assert w[d] == (h % 2001 - 1000) / 1000.0


def test_incremental_sizes_single_aggregation(spark, sf_dir):
    """dedup_incremental computes both sides' set sizes from ONE
    aggregation over the shingle set (r12): the optimized plan must not
    contain two separate pre-agg filters on the membership bucket below
    distinct count aggregates. Proxy gate: the analyzed plan has exactly
    one Aggregate whose output carries the shared `sz` count alias."""
    df = dedup.dedup_incremental(spark, sf_dir)
    analyzed = df._jdf.queryExecution().optimizedPlan().toString()
    # the single shared sizes aggregate appears once per consumer print,
    # but the per-side c_sz/b_sz COUNT aggregates of the old shape are gone
    assert "c_sz" in analyzed and "b_sz" in analyzed
    assert analyzed.count("count(1) AS c_sz") == 0
    assert analyzed.count("count(1) AS b_sz") == 0
