"""Focused gates for the r13 optimization internals."""

from __future__ import annotations

import math

import pytest
from hypothesis import example, given, settings, strategies as st
from pyspark.sql import functions as F

from insurance_claim_data_pipeline_spark.functions.localframe import (
    _split_ddl,
    local_frame,
)


def test_split_ddl_nested_types():
    assert _split_ddl("m int, a array<double>") == [("m", "int"), ("a", "array<double>")]
    assert _split_ddl("x map<string,array<int>>, y string") == [
        ("x", "map<string,array<int>>"),
        ("y", "string"),
    ]


def test_local_frame_matches_createdataframe(spark):
    """local_frame must be value- and schema-identical to the
    createDataFrame it replaces, including the hostile cases: floats
    whose repr needs 17 digits, strings with quotes/backslashes/control
    characters, NULLs, and nested arrays."""
    rows = [
        (1, 0.1, "plain", [1.0, -0.5], True),
        (2, 1.0000000000000002, "it's a 'quote'", [0.0], False),
        (3, -1e-300, "back\\slash and\nnewline\ttab", [1e300, 5e-324], None),
        (4, float("inf"), "trailing space ", [], True),
        (5, None, None, None, False),
    ]
    schema = "i int, d double, s string, a array<double>, b boolean"
    ref = spark.createDataFrame(rows, schema)
    got = local_frame(spark, rows, schema)
    assert got.schema == ref.schema
    assert got.collect() == ref.collect()


def _canon(v):
    """Collected value in a comparable form: doubles by repr, which
    tells -0.0 from 0.0 and makes NaN equal to itself."""
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, (list, tuple)):
        return [_canon(x) for x in v]
    return v


_doubles = st.none() | st.floats()
_frame_rows = st.lists(
    st.tuples(
        st.none() | st.text(),
        _doubles,
        st.none() | st.lists(st.none() | st.lists(_doubles, max_size=3), max_size=3),
    ),
    min_size=1,
    max_size=4,
)


@settings(max_examples=40, deadline=None)
@given(rows=_frame_rows)
@example(rows=[("a\x0012", 0.0, None)])  # NUL then digits: not an octal escape
@example(rows=[("\x01\x1f\x7f\\0\r\n'", -0.0, [[float("nan")], None])])
def test_local_frame_round_trips_like_createdataframe(spark, rows):
    schema = "s string, d double, a array<array<double>>"
    got = local_frame(spark, rows, schema).collect()
    ref = spark.createDataFrame(rows, schema).collect()
    assert [_canon(list(r)) for r in got] == [_canon(list(r)) for r in ref]


def test_local_frame_no_rdd_leaf(spark):
    """The point of the helper: a LocalRelation leaf, not Scan
    ExistingRDD (which createDataFrame(list) produces)."""
    df = local_frame(spark, [(1, [0.25, 0.5])], "k int, w array<double>")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan
    assert "LocalTableScan" in plan or "LocalRelation" in plan

    rdd_df = spark.createDataFrame([(1, [0.25, 0.5])], "k int, w array<double>")
    rdd_plan = rdd_df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in rdd_plan  # the leaf the helper removes


def test_local_frame_double_bits_exact(spark):
    """repr round-trip: the doubles coming back must be bit-identical."""
    vals = [0.1, 2 / 3, math.pi, 1.0000000000000002, 5e-324, -0.0, 123456.789]
    df = local_frame(spark, [(i, v) for i, v in enumerate(vals)], "i int, d double")
    got = {r["i"]: r["d"] for r in df.collect()}
    import struct

    for i, v in enumerate(vals):
        assert struct.pack("d", got[i]) == struct.pack("d", v)


def test_local_frame_empty_falls_back(spark):
    df = local_frame(spark, [], "i int, s string")
    assert df.count() == 0
    assert [f.name for f in df.schema.fields] == ["i", "s"]


def test_local_frame_rejects_unknown_types(spark):
    with pytest.raises(TypeError):
        local_frame(spark, [(object(),)], "o string")


def test_plane_weights_is_local_relation(spark):
    """r13 VALUES-literal migration (VERDICT r12 item 3): the similarity
    plane bank must be a LocalRelation leaf (broadcastable directly),
    never the createDataFrame pickle→parallelize RDD path, and its
    weights must still be the exact md5-derived constants."""
    import hashlib

    from insurance_claim_data_pipeline_spark.operators.similarity import (
        N_PLANES,
        _plane_weights,
    )

    planes = _plane_weights(spark)
    plan = planes._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan
    rows = {r["plane"]: list(r["w"]) for r in planes.collect()}
    assert sorted(rows) == list(range(N_PLANES))
    for p in rows:
        for d in (0, 31, 63):
            h = int(hashlib.md5(f"{p}_{d}".encode()).hexdigest()[:15], 16)
            assert rows[p][d] == (h % 2001 - 1000) / 1000.0


def test_parquet_num_rows_matches_count(spark, sf_dir, tmp_path):
    """r13 footer-metadata probe: parquet_num_rows must equal the Spark
    count for both layouts — a single parquet file (the testdata shape)
    and a Spark-written directory (the lab-shard shape)."""
    from insurance_claim_data_pipeline_spark.session import (
        load_table,
        parquet_num_rows,
    )

    for name in ("documents", "embeddings"):
        assert parquet_num_rows(sf_dir, name) == load_table(spark, sf_dir, name).count()

    out = str(tmp_path / "t.parquet")
    spark.range(1234).repartition(3).write.parquet(out)
    assert parquet_num_rows(str(tmp_path), "t") == 1234
    assert parquet_num_rows(f"file://{tmp_path}", "t") == 1234


def test_parquet_num_rows_raises_without_footer(tmp_path):
    """A missing table must fail loudly: a 0 here silently sends the
    LSH/simhash sizing probes to their smallest rung."""
    from insurance_claim_data_pipeline_spark.session import parquet_num_rows

    with pytest.raises(FileNotFoundError, match="'absent'"):
        parquet_num_rows(str(tmp_path), "absent")
    (tmp_path / "empty.parquet").mkdir()
    with pytest.raises(FileNotFoundError):
        parquet_num_rows(f"file://{tmp_path}", "empty")


def test_incremental_sizes_agg_is_pinned(spark, sf_dir):
    """r13 (VERDICT r12 item 2): the fused set-sizes aggregate must be
    PINNED — without the pin the two branch filters duplicate the whole
    full-shingle-set aggregate subtree and no ReusedExchange ever fires
    (measured on the executed adaptive plans). With the pin the
    consumer plan reads the sizes from one materialized leaf: the fused
    max(_is_batch) aggregate disappears from the final plan entirely
    (it runs once, inside the checkpoint lineage) and an ExistingRDD
    leaf takes its place."""
    from insurance_claim_data_pipeline_spark.operators import dedup

    df = dedup.dedup_incremental(spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "max(_is_batch" not in plan  # the agg no longer re-planned per branch
    assert "ExistingRDD" in plan or "LogicalRDD" in plan  # the sizes pin
