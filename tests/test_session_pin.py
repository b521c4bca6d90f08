"""The materialization-pin helper (ADVICE r07).

Every lazy/eager lineage pin in the engine routes through
``session.pin`` so the local-fast vs cluster-fault-tolerant trade is a
single config (``SPARK_GRAFT_PIN_MODE``) instead of 76 hard-coded
``localCheckpoint`` sites: ``local`` truncates lineage onto executor
block managers (fastest; unrecoverable on executor loss — fine for
local[*] where executor loss IS driver loss), ``reliable`` routes the
same pins through ``DataFrame.checkpoint`` (checkpoint-dir blocks,
recoverable) for real multi-executor deployments.

Also here: the session conf block get_spark and configure share, the
ICU-free lower/upper it selects, the Tungsten page size and
call-site-capture switch get_spark sets, and the one conf error
load_table tolerates.
"""

from __future__ import annotations

import pytest

from insurance_claim_data_pipeline_spark import session
from insurance_claim_data_pipeline_spark.registry import all_specs

from .conftest import SF_SMOKE as SF_DIR


def test_no_direct_localcheckpoint_call_sites():
    # The caveat lives on pin(); a new direct .localCheckpoint() call
    # site would silently reintroduce the unconfigurable trade.
    import glob
    import os

    pkg = os.path.dirname(session.__file__)
    offenders = []
    for f in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True):
        if os.path.basename(f) == "session.py":
            continue
        for i, line in enumerate(open(f), 1):
            if ".localCheckpoint(" in line:
                offenders.append(f"{f}:{i}")
    assert not offenders, f"route these through session.pin: {offenders}"


def test_reliable_mode_matches_local_mode(spark, tmp_path, monkeypatch):
    """Same rows either way: the pin mode changes WHERE truncated-plan
    blocks live (executor memory vs checkpoint dir), never the values.
    events_ljung_box pins a shared lag frame; dedup_components_star
    pins eagerly per contraction half-round — both classes covered."""
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(tmp_path / "ckpt"))
    specs = all_specs()
    for name in ("events_ljung_box", "dedup_components"):
        base = specs[name].fn(spark, SF_DIR).collect()
        monkeypatch.setattr(session, "_PIN_MODE", "reliable")
        try:
            rel = specs[name].fn(spark, SF_DIR).collect()
        finally:
            monkeypatch.setattr(session, "_PIN_MODE", "local")
        assert sorted(map(tuple, rel)) == sorted(map(tuple, base)), name


def test_reliable_mode_flagship_and_bpe(spark, tmp_path, monkeypatch):
    """VERDICT r08 item 5: the two HEAVIEST iterative loops — the
    semantic-dedup flagship (banded LSH + star-contraction components,
    one eager observed pin per half-round) and the BPE trainer
    (per-merge-step vocab pins + driver-side argmax collects) — must
    each run end-to-end under ``SPARK_GRAFT_PIN_MODE=reliable`` every
    round, or the multi-executor fault-tolerant path rots while the
    equality tests above only exercise the simpler pin shapes."""
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(tmp_path / "ckpt"))
    specs = all_specs()
    for name in ("dedup_semantic_components_lsh", "text_bpe_train_merges"):
        base = specs[name].fn(spark, SF_DIR).collect()
        monkeypatch.setattr(session, "_PIN_MODE", "reliable")
        try:
            rel = specs[name].fn(spark, SF_DIR).collect()
        finally:
            monkeypatch.setattr(session, "_PIN_MODE", "local")
        assert sorted(map(tuple, rel)) == sorted(map(tuple, base)), name


def test_is_pinned_detects_materialized_leaf(spark, tmp_path, monkeypatch):
    """``is_pinned`` (ADVICE r08): True only when the WHOLE plan is a
    materialized-RDD leaf — what both pin modes produce — so helpers
    that pin their own input (min_label_components) can skip the
    redundant second copy when the caller already pinned the frame."""
    df = spark.range(10).selectExpr("id", "id * 2 as x")
    assert not session.is_pinned(df)
    p = session.pin(df)
    assert session.is_pinned(p)
    # any lineage above the leaf is worth truncating again
    assert not session.is_pinned(p.select("id"))
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(tmp_path / "ckpt"))
    monkeypatch.setattr(session, "_PIN_MODE", "reliable")
    assert session.is_pinned(session.pin(df))


def test_min_label_components_skips_prepinned_input(spark):
    """The double-pin fix must not change values: identical components
    whether the caller hands an already-pinned pair frame (modularity's
    shared-frame path) or a raw one — and the pre-pinned path must not
    add a second pin (spied via the session binding the helper's
    is_pinned gate routes through)."""
    from insurance_claim_data_pipeline_spark.operators import dedup as dedup_mod

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22)], "doc_a long, doc_b long"
    )
    raw = sorted(map(tuple, dedup_mod.min_label_components(pairs).collect()))
    calls = []
    real_pin = session.pin

    def spy(df, eager=False):
        calls.append(tuple(df.columns))
        return real_pin(df, eager)

    dedup_mod.pin, session.pin = spy, spy
    try:
        pre = real_pin(pairs)
        pinned_in = sorted(map(tuple, dedup_mod.min_label_components(pre).collect()))
        # the input pin was skipped: no spied pin call saw the 2-col
        # (doc_a, doc_b) input frame itself
        assert ("doc_a", "doc_b") not in calls
    finally:
        dedup_mod.pin = session.pin = real_pin
    assert pinned_in == raw


def test_reliable_mode_sets_checkpoint_dir(spark, tmp_path, monkeypatch):
    # The configured base must win even if an EARLIER pin already set a
    # different checkpoint dir on this shared context (setCheckpointDir
    # is first-wins otherwise — a pin that ran before the operator
    # exported the real dir would pin to the fallback forever).
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(tmp_path / "ckpt2"))
    monkeypatch.setattr(session, "_PIN_MODE", "reliable")
    df = session.pin(spark.range(10))
    assert df.count() == 10
    current = spark.sparkContext._jsc.sc().getCheckpointDir().get()
    assert "ckpt2" in current


def test_pin_rejects_unknown_mode(spark, monkeypatch):
    # Fail-open would silently lose the fault tolerance the operator
    # asked for; an unknown mode must raise.
    monkeypatch.setattr(session, "_PIN_MODE", "RELIABLE")
    with pytest.raises(ValueError, match="SPARK_GRAFT_PIN_MODE"):
        session.pin(spark.range(1))


@pytest.mark.parametrize("eager", [False, True])
def test_pin_local_is_chainable_and_lazy_default(spark, eager):
    df = spark.range(100).transform(
        session.pin_eager if eager else session.pin
    )
    assert df.count() == 100


@pytest.mark.parametrize("mode", ["local", "reliable"])
def test_pin_eager_observed_metrics_match_agg(spark, tmp_path, monkeypatch, mode):
    """The fused convergence probe (metrics collected DURING the pin's
    materialization job) must return exactly what a separate
    ``df.agg(...)`` probe job would have — in both pin modes, including
    the checksum aggregate the star-contraction loop rides on."""
    from pyspark.sql import functions as F

    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(tmp_path / "ckpt"))
    monkeypatch.setattr(session, "_PIN_MODE", mode)
    df = spark.range(97).select(
        F.col("id").alias("u"),
        (F.col("id") * 31 % 89).alias("v"),
        (F.col("id") % 7 == 0).alias("_changed"),
    )
    metrics = [
        F.count(F.lit(1)).alias("n"),
        F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        F.max("_changed").alias("changed"),
    ]
    pinned, m = session.pin_eager_observed(df, metrics, drop=("_changed",))
    expect = df.agg(*metrics).first()
    assert m == {"n": expect["n"], "h": expect["h"], "changed": expect["changed"]}
    # the probe column is computed for the metric but never stored
    assert pinned.columns == ["u", "v"]
    assert pinned.count() == 97


def test_pin_eager_observed_empty_frame(spark):
    """Empty input: count 0, NULL (None) for max/bit_xor — callers
    treat None as falsy exactly as they would a missing agg row."""
    from pyspark.sql import functions as F

    df = spark.range(10).filter("id < 0").select(
        F.col("id").alias("u"), (F.col("id") % 2 == 0).alias("_changed")
    )
    pinned, m = session.pin_eager_observed(
        df,
        [F.count(F.lit(1)).alias("n"), F.max("_changed").alias("changed")],
        drop=("_changed",),
    )
    assert m == {"n": 0, "changed": None}
    assert pinned.count() == 0


def test_session_confs_read_back_after_configure(spark):
    session.configure(spark)
    for key, value in session.SESSION_CONFS.items():
        assert spark.conf.get(key) == value, key


ICU_CONF = "spark.sql.icu.caseMappings.enabled"
CASE_CODEGEN = (
    "EXPLAIN CODEGEN SELECT lower(cast(id AS string)), "
    "upper(cast(id AS string)) FROM range(3)"
)


def _assert_case_mapping_without_icu(spark):
    assert spark.conf.get(ICU_CONF) == "false"
    code = spark.sql(CASE_CODEGEN).first()[0]
    assert "CollationSupport.Lower.execBinary(" in code
    assert "CollationSupport.Upper.execBinary(" in code
    assert "execBinaryICU" not in code


def test_get_spark_case_mapping_skips_icu(spark):
    """lower/upper must not reach ICU, whose first call in a JVM builds
    a title-case table over every code point (gigabytes of allocation
    on the claims cold pass)."""
    _assert_case_mapping_without_icu(spark)


def test_configure_case_mapping_skips_icu(spark):
    # A plain session runs Spark's default, ICU; configure() turns it off.
    plain = spark.newSession()
    plain.conf.unset(ICU_CONF)
    assert "execBinaryICU" in plain.sql(CASE_CODEGEN).first()[0]
    _assert_case_mapping_without_icu(session.configure(plain))


def test_tungsten_pages_are_small_and_address_the_heap(spark):
    """get_spark's 4 MB pages: Spark's own sizing gives 64 MB pages
    under the 16 GB driver, which every aggregate, sort and broadcast
    zero-fills however few rows it holds. The page table's 8192 pages
    per task must still cover the whole heap."""
    jvm = spark.sparkContext._jvm
    page = jvm.org.apache.spark.SparkEnv.get().memoryManager().pageSizeBytes()
    assert page <= 4 * 1024 * 1024
    assert 8192 * page >= jvm.java.lang.Runtime.getRuntime().maxMemory()


def test_dataframe_call_site_capture_is_off(spark, monkeypatch):
    """get_spark turns off PySpark's per-Column call-site capture, whose
    py4j round trips run on every F.* call and whose first call imports
    IPython. It is a static SQL conf, so it is set in the builder only:
    if it were moved into SESSION_CONFS, configure()'s runtime
    spark.conf.set would raise and
    test_session_confs_read_back_after_configure would fail."""
    import pyspark.errors.utils as errors_utils
    from pyspark.sql import SparkSession

    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    # A Column built before any session was active caches False
    # whatever the conf says; clear the cache so the conf is read.
    monkeypatch.setattr(errors_utils, "_enable_debugging_cache", None)
    assert SparkSession.getActiveSession() is not None
    assert errors_utils.is_debugging_enabled() is False


def test_load_table_swallows_only_the_locked_conf_error(spark, monkeypatch):
    real_set = spark.conf.set

    def locked(key, value):
        real_set("spark.sql.warehouse.dir", "/elsewhere")  # static conf: AnalysisException

    monkeypatch.setattr(spark.conf, "set", locked)
    assert session.load_table(spark, SF_DIR, "region").count() > 0

    def broken(key, value):
        raise RuntimeError("conf service down")

    monkeypatch.setattr(spark.conf, "set", broken)
    with pytest.raises(RuntimeError, match="conf service down"):
        session.load_table(spark, SF_DIR, "region")
