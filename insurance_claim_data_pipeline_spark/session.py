"""SparkSession factory.

Local testing runs ``local[$SPARK_GRAFT_CPUS]`` (single JVM); the same
config block is what we would ship to a 1000-executor cluster, minus the
master/memory knobs which belong to spark-submit there:

- AQE on (runtime re-planning: coalesce post-shuffle partitions,
  skew-join splitting, dynamic broadcast conversion).
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real
  cluster AQE's coalescing makes the initial number much less critical.
- Session time zone pinned to UTC so timestamp semantics match the
  DuckDB oracle (UTC-naive) bit-for-bit.
- Arrow enabled for the few Pandas-UDF paths (multimodal decode).
- Tungsten pages of 4 MB (``spark.buffer.pageSize``) instead of the
  size Spark derives from the heap (64 MB under the 16 GB local
  driver), so a task's hash aggregate, sort or shuffle write over a
  few hundred rows no longer zero-fills a 64 MB page. A task's page
  table holds 8192 pages, so 4 MB pages still address 32 GB per task.
  A static core conf: on a cluster spark-submit owns it, like driver
  memory.
- PySpark's DataFrame call-site capture off
  (``spark.python.sql.dataFrameDebugging.enabled=false``). With it on,
  every ``functions.*`` call and ``Column`` method records its Python
  ``file:line`` for error messages: several py4j round trips, a stack
  walk and a failed ``import ipykernel`` per call, and the first call
  imports IPython (over 500 modules, about 25 MB of driver RSS). What is
  lost: a runtime error raised from a DataFrame-API expression no
  longer names the Python line in its "DataFrame query context"; the
  error class and message stay, and plans are unchanged. A static SQL
  conf, so builder-only: ``spark.conf.set`` rejects it, it stays out
  of ``SESSION_CONFS``, and on an external session spark-submit owns
  it. PySpark reads it once per process, at the first Column built
  under an active session.
- ICU case mappings off (``spark.sql.icu.caseMappings.enabled=false``),
  so ``lower``/``upper`` run ``UTF8String.toLowerCase``/``toUpperCase``
  (``java.lang.String`` case mapping) instead of ICU4J. The first ICU
  call in a JVM builds a title-case table over all 1,114,112 code
  points, a new word ``BreakIterator`` per code point: on the claims
  pipeline about 3.1 GB of allocation, 16 extra young GCs and about
  3 s of a 6-8 s cold pass. ASCII strings take the same fast path
  either way. What is lost: non-ASCII strings use the JDK's Unicode
  tables (Unicode 13 in JDK 17) instead of ICU4J 77's (Unicode 16), so
  a letter whose case pair came later, such as Glagolitic ``Ⱟ``
  (U+2C2F, Unicode 14), keeps its case where ICU and Python 3.11 map
  it. Both paths follow the JVM default locale for non-ASCII strings
  (checked under ``tr_TR``: identical output), so under a ``tr``/``az``
  default locale an ``I`` inside a non-ASCII string lowercases to
  dotless ``ı`` with or without ICU; executors that must match
  Python's ``str.lower`` need ``-Duser.language=en``. A runtime SQL
  conf, so it is in ``SESSION_CONFS`` and ``configure()`` applies it
  too.
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession


def tiny_frame_key(col_name: str):
    """Window partition key that is constantly 0 but survives constant
    folding: ``pmod(col, 1)``.

    A global window (empty partition spec) makes WindowExec log "No
    Partition Defined" for every plan that executes it, flooding driver
    logs even when the input is a tiny pre-aggregate where
    single-partition execution is the point. ``partitionBy(F.lit(0))``
    does NOT help — Catalyst folds the constant away, leaving an empty
    spec, and the warning fires anyway (measured: the 8 warnings in the
    BENCH_r03 tail all came from such windows). ``pmod(col, 1)`` is
    non-foldable (it references a real column) yet evaluates to 0 for
    every non-null row, so WindowExec gets an explicit single-value
    partition spec and stays silent, with the same single-partition
    physical shape. Use ONLY over frames already reduced to at most a
    few thousand rows (bucket totals, hourly series) and only on
    non-null columns (a null would hash to its own partition).
    """
    from pyspark.sql import functions as F

    return F.pmod(F.col(col_name), F.lit(1))


# Materialization-pin mode (ADVICE r07): "local" | "reliable".
# Module-level so tests can monkeypatch; read from the environment once.
_PIN_MODE = os.environ.get("SPARK_GRAFT_PIN_MODE", "local")
# Base path last passed to setCheckpointDir (Spark appends a random
# UUID subdir, so the context's own getCheckpointDir can't be compared
# against the configured base directly).
_CKPT_BASE: str | None = None


def pin(df, eager: bool = False):
    """Materialization pin for a frame that feeds several consumers (or
    an iterative loop whose lineage would otherwise grow per round):
    compute the frame once and truncate its lineage.

    Chainable: ``df.transform(pin)`` / ``df.transform(pin_eager)``.

    Two modes, selected by ``SPARK_GRAFT_PIN_MODE``:

    - ``local`` (default): ``localCheckpoint(eager=...)`` — blocks live
      on executor block managers only, no disk round-trip to a reliable
      store. Fastest, and correct for ``local[*]`` (one JVM: losing the
      "executor" is losing the driver). CAVEAT (the fault-tolerance
      trade, ADVICE r07): on a real multi-executor cluster the
      truncated lineage means an executor loss or decommission makes
      every downstream stage UNRECOVERABLE — Spark can neither refetch
      nor recompute the pinned blocks — so a 1000-executor deployment
      of the pinned plans must run with ``reliable``.
    - ``reliable``: ``DataFrame.checkpoint(eager=...)`` — same lineage
      truncation, blocks written to the checkpoint directory
      (``SPARK_GRAFT_CHECKPOINT_DIR``, which should be HDFS/S3 on a
      cluster), recoverable across executor loss. Costs one write +
      re-read of the pinned frame; every pin() site pins a frame that
      is small relative to its inputs (pre-aggregates, edge lists,
      signature tables), so the trade is cheap insurance at scale.
      Cleanup: get_spark sets
      ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` (a
      static conf — an externally-built session must set it at
      spark-submit time) so checkpoints are deleted when their RDD is
      GC'd; anything still referenced at app exit survives and the
      checkpoint path should carry a storage-side TTL.

    ``persist()`` is deliberately NOT a mode: it keeps lineage (so it
    recovers from executor loss) but does not truncate it, and half the
    pin() sites exist precisely to stop per-round lineage growth in
    iterative loops, where persist alone re-inflates the optimizer's
    plan every round.
    """
    if _PIN_MODE == "reliable":
        global _CKPT_BASE
        sc = df.sparkSession.sparkContext
        base = os.environ.get(
            "SPARK_GRAFT_CHECKPOINT_DIR",
            os.path.join(os.environ.get("TMPDIR", "/tmp"), "spark_graft_ckpt"),
        )
        # Re-set when the configured base CHANGES, not just when unset:
        # setCheckpointDir is first-wins per context otherwise, so a pin
        # that ran before the operator exported the real HDFS/S3 dir
        # would silently keep every later pin on the fallback path.
        if _CKPT_BASE != base or sc._jsc.sc().getCheckpointDir().isEmpty():
            sc.setCheckpointDir(base)
            _CKPT_BASE = base
        return df.checkpoint(eager=eager)
    if _PIN_MODE != "local":
        raise ValueError(
            f"SPARK_GRAFT_PIN_MODE={_PIN_MODE!r}: expected 'local' or 'reliable' "
            "(a misspelt mode silently losing fault tolerance would be worse "
            "than failing here)"
        )
    return df.localCheckpoint(eager=eager)


def is_pinned(df) -> bool:
    """True when ``df``'s whole plan is already a materialized-RDD leaf
    (``LogicalRDD`` — what both pin modes produce, verified for
    localCheckpoint lazy/eager and reliable checkpoint on Spark 4).

    Why (ADVICE r08): helpers that pin their own input for loop-lineage
    truncation (e.g. ``min_label_components``) are sometimes handed a
    frame the caller ALREADY pinned to share across consumers
    (``graph_components_modularity``); re-pinning makes a redundant
    second executor-block copy — and under ``SPARK_GRAFT_PIN_MODE=
    reliable`` a duplicate full write of the frame to the checkpoint
    store. Only a bare leaf counts: any Project/Filter above the leaf
    means new lineage worth truncating.
    """
    return (
        df._jdf.queryExecution().analyzed().getClass().getSimpleName() == "LogicalRDD"
    )


def pin_eager(df):
    """``pin`` with eager materialization — for per-round pins inside
    iterative loops, where truncating lineage NOW (not at first
    downstream action) is the point."""
    return pin(df, eager=True)


_LOOP_ROWS_PER_TASK = 262_144  # ~4 MB of (long, long) edge rows per task


def loop_shuffle_partitions(n_rows: int) -> int:
    """Shuffle-partition count for one iteration of a driver-side loop
    whose working frame holds ``n_rows`` narrow rows — derived from the
    OBSERVED row count (the loop's own convergence metrics), never a
    constant, so the same code sizes itself at any scale.

    Why (r12, measured): iterative loops pin a small, shrinking frame
    every round; running each round's 4-exchange job at the session's
    global ``spark.sql.shuffle.partitions`` (sized for corpus-scale
    scans) spends the whole round on task scheduling — the flagship's
    star-contraction loop at sf0.1 (917 edges, 5 rounds) measured
    5.6 s at 32 partitions vs 2.7-3.1 s at 1-8 (identical output,
    checksum-verified). AQE's coalescing does not recover this: its
    per-stage re-planning is itself the overhead at this frame size.
    At 10⁹ edges the same formula yields thousands of partitions, so
    nothing here is tuned to local[32]."""
    return max(1, -(-int(n_rows) * 2 // _LOOP_ROWS_PER_TASK))


def pin_eager_observed(df, metrics, drop=()):
    """Eager pin that ALSO collects global aggregate metrics during the
    pin's own materialization job, via ``DataFrame.observe``.

    Returns ``(pinned_df, metrics_dict)``.

    Why: every convergence-probed iterative loop here used to run TWO
    jobs per round — the eager pin, then a separate probe job
    (``filter(...).limit(1).count()`` or an ``agg(...).first()``
    checksum) re-scanning the just-pinned blocks — and some stored a
    probe-only column (``_changed``) in every round's pinned frame.
    ``observe`` attaches a CollectMetrics node computed task-side during
    the SAME job that materializes the pin: one job per round, no probe
    re-scan, and with ``drop`` the probe column is computed for the
    metric but never stored. At 100 TB the dropped probe column alone is
    a corpus-width boolean written to the pin store every round, and the
    removed probe job a full re-read of it.

    Semantics (verified against the agg path, including the empty-frame
    case): metrics are the same global aggregates ``df.agg(*metrics)``
    would return — empty frame gives count 0 and NULL (Python ``None``)
    for max/bit_xor, so callers should treat ``None`` as falsy exactly
    as they would a missing row. EAGER ONLY: with a lazy pin the
    Observation would block/misreport (the first downstream action may
    execute the checkpointed RDD without re-running CollectMetrics), so
    this helper always pins eagerly; keep plain ``pin`` for lazy sites.
    """
    from pyspark.sql import Observation

    obs = Observation()
    out = df.observe(obs, *metrics)
    for c in drop:
        out = out.drop(c)
    return pin(out, eager=True), obs.get


# Runtime-settable SQL confs that get_spark and configure both apply.
# spark.sql.shuffle.partitions is sized per session, so each sets it.
SESSION_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Shuffled-hash joins via the AQE runtime rewrite ONLY (r13,
    # ADVICE r12): sort-merge pays two per-partition sorts a hash
    # build skips, but the r12 static opt-in
    # (preferSortMergeJoin=false) made the PLANNER pick SHJ from
    # size ESTIMATES, which are unreliable over the cross-join/
    # aggregate subtrees here — an underestimated build side OOMs,
    # since SHJ's hash map cannot spill the way SMJ's sort does.
    # The AQE rewrite decides per partition from ACTUAL map output
    # bytes, capped at the session's 64 MB broadcast threshold, so
    # it is size-safe and scales with the data, not the venue.
    # Interleaved A/B over the 21 bench queries (r13): static+AQE
    # 17.279 vs AQE-only 17.333 s total, per-query divergences not
    # reproducible across batteries — a measured tie, so the
    # scale-safe setting wins. (r12's A/Bs credited the static
    # conf 16.65 → 15.40 before the AQE threshold existed; with
    # the runtime rewrite in place the static pick adds risk, not
    # speed.)
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": str(64 * 1024 * 1024),
    # events.parquet stores TIMESTAMP(NANOS); Spark has no nanosecond
    # timestamp type, so read as long and convert in load_table.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # naive timestamp[us] parquet should read as session-UTC
    # TimestampType directly (not TIMESTAMP_NTZ) — keeps unix_micros
    # et al. working without a per-column cast; normalize_timestamps
    # remains the fallback for sessions where this conf is locked.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # lower/upper without ICU, whose first call in a JVM builds a
    # title-case table over every code point (module docstring). What is
    # lost: non-ASCII strings map case by the JDK's Unicode tables
    # (Unicode 13 in JDK 17), not ICU's (16), so a letter paired after
    # Unicode 13, e.g. U+2C2F, keeps its case. Either way the JVM default
    # locale applies: tr/az executors need -Duser.language=en.
    "spark.sql.icu.caseMappings.enabled": "false",
}


def get_spark(app_name: str = "insurance_claim_data_pipeline_spark") -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults applied."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config(map=SESSION_CONFS)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # Spark sizes Tungsten pages as execution pool / cores / 16,
        # capped at 64 MB, and the 16 GB heap reaches the cap: every
        # task running a hash aggregate, a sort or a serialized shuffle
        # write zero-fills a 64 MB long[] even over 150 rows, and each
        # broadcast relation keeps page-sized buffers.
        # TaskMemoryManager's page table holds 8192 pages per task, so
        # 4 MB pages still address 32 GB per task, twice the default
        # heap: no task runs out of page numbers before it runs out of
        # memory. A record larger than a page gets a page of its own
        # (allocatePage(max(pageSize, required))), so large payloads
        # are unaffected. A static core conf: configure() cannot set
        # it on an external session, where spark-submit owns it.
        .config("spark.buffer.pageSize", "4m")
        # Call-site capture wraps every F.* call and Column method in
        # py4j round trips (active session, origin lookup, a conf read,
        # set and clear) plus a stack walk: (F.col + F.lit).alias took
        # about 4 ms with it and about 2 ms without. Its first call also
        # imports IPython, about 25 MB of driver RSS (claims_etl
        # median peak_rss_mb 728 -> 706 MB). Only the Python file:line in
        # DataFrame error contexts is lost. A static SQL conf:
        # spark.conf.set rejects it, so it cannot join SESSION_CONFS.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.ui.enabled", "false")
        # Reliable-mode pins (SPARK_GRAFT_PIN_MODE=reliable) write
        # checkpoint blocks that Spark NEVER deletes by default; with
        # the cleaner conf on, a checkpoint is removed once its RDD is
        # GC'd on the driver, so repeated sweeps don't accumulate
        # unbounded data in the checkpoint store. (Checkpoints still
        # referenced at app exit survive it — a cluster deployment
        # should also TTL the SPARK_GRAFT_CHECKPOINT_DIR path.)
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def configure(spark: SparkSession) -> SparkSession:
    """Apply the engine's session-level settings to an externally-built
    SparkSession (the driver hands us one in ``__spark_entry__.entry``).

    Only runtime-settable SQL confs here. shuffle.partitions defaults to
    200 on a plain session — at local/test scale that is 200 tasks (and
    200 state-store instances per streaming stage) for kilobyte
    shuffles; sizing it to the session's core count with AQE coalescing
    on is the same policy get_spark applies, and on a real cluster AQE
    makes the initial number non-critical."""
    for key, value in SESSION_CONFS.items():
        spark.conf.set(key, value)
    spark.conf.set("spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism))
    return spark


def normalize_timestamps(df):
    """Normalize timestamp representations that vary with the testdata
    writer to plain (session-UTC) TimestampType:

    - TIMESTAMP(NANOS) parquet read as long nanoseconds under
      ``legacy.parquet.nanosAsLong`` → integer ``div 1000`` to micros
      (integer ``div``, not ``/``: float division loses precision at
      1e18 ns).
    - naive ``timestamp[us]`` parquet, which Spark 4 infers as
      TIMESTAMP_NTZ (``parquet.inferTimestampNTZ``), → cast to
      TimestampType. The session time zone is pinned to UTC, so the
      cast re-labels the same wall-clock instant the DuckDB oracle
      reads natively — values are unchanged.
    """
    from pyspark.sql import functions as F

    for col, dtype in df.dtypes:
        if col == "ts" and dtype == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr(f"{col} div 1000")))
        elif dtype == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one synthetic table (TESTDATA.md) as a DataFrame.

    Timestamp columns are normalized (nanos-as-long / TIMESTAMP_NTZ →
    session-UTC TimestampType) so downstream operators can rely on one
    type regardless of which writer produced the parquet — the same
    instants the DuckDB oracle sees.
    """
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    except AnalysisException:
        pass  # conf may be driver-locked; normalize_timestamps covers it
    return normalize_timestamps(spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet")))


def parquet_num_rows(sf_dir: str, name: str) -> int:
    """Exact unfiltered row count of one synthetic table, read from the
    parquet FOOTER metadata (sum of per-file ``num_rows``) — no Spark
    job.

    Why (r13, guide §6/§5): corpus-count sizing probes
    (``_sem_lsh_rows_for``, ``_simhash_bands_for``) need ONE bounded
    scalar before plan construction; running them as
    ``load_table(...).count()`` schedules a full Spark job (~0.45 s of
    the flagship's wall at sf0.1) to produce a number the parquet
    footers already store. Footer num_rows is exactly the COUNT(*) the
    oracle computes — parquet writers record the row count per file —
    and reading it is still "computing from the parquet inputs", the
    same metadata Spark's own count aggregate consults. URIs with a
    scheme (``s3://``, ``hdfs://``, ``file://``) resolve through
    ``pyarrow.fs``; the probe stays O(#files) metadata I/O either way.

    Raises FileNotFoundError when no footer is found: the callers size
    their plans from this count, so a silent 0 (a missing table, or a
    path the local walk cannot see) would change query output."""
    import pyarrow.parquet as pq
    from pyarrow import fs

    path = os.path.join(sf_dir, f"{name}.parquet")
    if "://" in path:
        filesystem, path = fs.FileSystem.from_uri(path)
    else:
        filesystem, path = fs.LocalFileSystem(), os.path.abspath(path)
    if filesystem.get_file_info(path).type == fs.FileType.File:
        files = [path]
    else:
        listing = filesystem.get_file_info(
            fs.FileSelector(path, allow_not_found=True, recursive=True)
        )
        files = [f.path for f in listing if f.is_file and f.path.endswith(".parquet")]
    if not files:
        raise FileNotFoundError(f"no parquet footer found for table {name!r} at {path}")
    return sum(pq.read_metadata(f, filesystem=filesystem).num_rows for f in files)
