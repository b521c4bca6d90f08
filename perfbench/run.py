"""spark-graft benchmark: the claims ETL and the semantic-dedup loop, on
``local[<cores / 2>]`` from one process.

Run from the root of a checkout::

    python3 perfbench/run.py --workload claims_etl --seed 1 --seconds 30 --trace 0

Workloads (see ``workloads.py``): ``claims_etl``, ``dedup_loop``. Inputs are generated from ``--seed`` under
``perfbench/.work`` before Spark starts. A run then

1. sets up once: imports pyspark and the engine package, starts the session
   (and with it the JVM) and runs a warm-up job;
2. runs one cold pass right after, the first pass of the workload in the
   process; ``dedup_loop`` collects its output in it and checks it against
   the committed DuckDB oracle record;
3. runs passes until ``--seconds`` have passed and, after an untimed
   warm-up pass, at least the workload's fewest timed passes have run, and
   reports the median of the timed ones; the claims sinks are checked
   against the generated ground truth after every pass.

With ``--trace 0`` the last stdout line reports the end-to-end metrics (see
``BENCHMARK.json``): set-up time and peak memory. With ``--trace 1`` timed
passes alternate between untraced and traced, and the line reports the
per-layer metrics of the traced passes, the pass times of the untraced and
the cold pass, and the tracing overhead. Spans are written to
``perfbench/.work/spans-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

from procstat import driver_peak_rss_bytes, process_age_s, stop_spark

# Interpreter start until here counts toward setup_s; the benchmark's own
# imports and its data generation, which follow, do not.
STARTED_S = process_age_s()

import workloads  # noqa: E402
from spans import Tracer, busy_seconds, pass_stats  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "insurance_claim_data_pipeline_spark"

# Reported with --trace 1, besides trace.overhead_s and fail_ratio.
PER_LAYER_UNITS = {
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.driver_gap_s": "s",
    "spark.core_util": "ratio",
    "spark.input_bytes": "B",
    "spark.input_records": "rows",
    "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.result_bytes": "B",
    "sources.load_claims_s": "s",
    "sources.files_failed": "count",
    "sources.corrupt_rows": "rows",
    "plans.frame_build_s": "s",
    "plans.candidates_job_s": "s",
    "plans.metrics_job_s": "s",
    "plans.driver_sink_s": "s",
    "plans.eligible_ratio": "ratio",
    "operators.plan_build_s": "s",
    "operators.execute_s": "s",
    f"query.{workloads.DEDUP_QUERY}_s": "s",
    "session.pins": "count",
    "session.pin_s": "s",
}


def _environment(work: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside the
    checkout, and size the session to half of this machine's cores."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # Task threads get half the cores; the driver's Python, the JVM's compiler
    # and collector threads and Spark's scheduler threads run beside them. On
    # 4 shared cores, five dedup runs spread 4% in cold_s at local[2] and 15%
    # at local[4].
    os.environ["SPARK_GRAFT_CPUS"] = str(max(1, len(os.sched_getaffinity(0)) // 2))
    # Both JVMs spark-submit starts (its launcher and the driver) read this.
    # Three departures from the JVM's defaults, each for a steadier run on a
    # shared 4-core machine. The serial collector sizes the heap from what
    # survives a collection, where G1 sizes it from GC time: under G1 the
    # peak RSS of identical claims runs spread 22-31%, under the serial
    # collector 1%. A fixed young generation: the serial collector otherwise
    # grows it with the heap, and identical dedup runs peaked at either 968
    # or 1075 MB. C1-only compilation: under the default tiered JIT, C2 was
    # still compiling after 35 s of dedup passes (9.2 s falling to 4.2 s a
    # pass), longer than a run can afford; under C1 alone the first timed
    # pass is 5-35% slower than the median of the later ones.
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:+UseSerialGC -Xmn256m -XX:TieredStopAtLevel=1"
    )


def _set_up():
    """Import pyspark and the engine package, start a session, warm up.
    Returns the session and the seconds this took."""
    t0 = time.perf_counter()
    from insurance_claim_data_pipeline_spark import registry
    from insurance_claim_data_pipeline_spark.session import get_spark

    registry.all_specs()
    spark = get_spark("perfbench")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    return spark, time.perf_counter() - t0


class Run:
    """Counts and timings of one benchmark run."""

    def __init__(self, workload) -> None:
        self.workload = workload
        self.attempted = 0
        self.failed = 0
        self.walls: list[tuple[bool, float]] = []  # (traced, seconds) per timed pass
        self.layers: list[dict[str, float]] = []

    def one_pass(self, spark, pass_id: int, tracer=None, collect=False) -> float | None:
        """Run, time and check one pass. Returns its wall time, or None when
        it raised; a pass that raised or failed its check counts as failed."""
        self.attempted += 1
        spark.sparkContext.setJobGroup(f"perfbench-{pass_id}", f"{self.workload.name} pass {pass_id}")
        if tracer is not None:
            tracer.pass_id = pass_id
            tracer.install(spark)
        start = time.time()
        t0 = time.perf_counter()
        try:
            result = self.workload.execute(spark, tracer, collect)
            wall = time.perf_counter() - t0
            print(f"pass {pass_id}: {wall:.3f} s{' traced' if tracer else ''}", file=sys.stderr)
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return None
        finally:
            end = time.time()
            if tracer is not None:
                tracer.uninstall()
        problems = self.workload.check(result)
        if problems:
            print(f"pass {pass_id}: output check failed: {problems}", file=sys.stderr)
            self.failed += 1
        if tracer is not None:
            self.layers.append(layer_metrics(spark, tracer, pass_id, start, end, wall, result, self.workload))
        return wall


def layer_metrics(spark, tracer, pass_id, start, end, wall, result, workload) -> dict[str, float]:
    """Per-layer metrics of one traced pass, from its spans and its job
    group in the status store."""
    jobs, totals = pass_stats(spark, f"perfbench-{pass_id}")
    spans = tracer.of_pass(pass_id)
    cores = int(os.environ["SPARK_GRAFT_CPUS"])

    def total(prefix: str) -> float:
        return sum(s.seconds for s in spans if s.name.startswith(prefix))

    def job_time(label: str) -> float:
        return sum(j.end - j.start for j in jobs if j.description == label and j.end is not None)

    m = {f"spark.{k}": v for k, v in totals.items()}
    m["spark.driver_gap_s"] = max(0.0, (end - start) - busy_seconds(jobs, start, end))
    m["spark.core_util"] = totals["executor_run_s"] / (wall * cores)

    load = [s for s in spans if s.name == "plans.load_claims"]
    run = [s for s in spans if s.name == "plans.run_pipeline"]
    m["sources.load_claims_s"] = total("plans.load_claims")
    m["sources.files_failed"] = float(sum(s.attrs.get("files_failed", 0) for s in load))
    m["sources.corrupt_rows"] = 0.0
    m["plans.frame_build_s"] = total("plans.candidates_frame") + total("plans.metrics_frame")
    m["plans.candidates_job_s"] = job_time("candidates")
    m["plans.metrics_job_s"] = job_time("metrics")
    m["plans.driver_sink_s"] = 0.0
    m["plans.eligible_ratio"] = 0.0
    if run:
        last_job_end = max((j.end for j in jobs if j.end is not None), default=run[-1].start)
        m["plans.driver_sink_s"] = max(0.0, run[-1].end - last_job_end)
        malformed = result.metrics["excluded_by_reason"]["malformed"]
        m["sources.corrupt_rows"] = float(malformed - m["sources.files_failed"])
        m["plans.eligible_ratio"] = len(result.candidates) / workload.input_rows

    m["operators.plan_build_s"] = total("operators.fn.")
    m["operators.execute_s"] = sum(s.seconds for s in spans if s.name == "save")
    m[f"query.{workloads.DEDUP_QUERY}_s"] = total(f"query.{workloads.DEDUP_QUERY}")

    pins = [s for s in spans if s.name.startswith("session.pin")]
    outer = [s for s in pins if s.parent is None or not tracer.spans[s.parent].name.startswith("session.pin")]
    m["session.pins"] = float(sum(1 for s in outer if s.attrs.get("eager")))
    m["session.pin_s"] = sum(s.seconds for s in outer)
    return m


def tracing_overhead(walls: list[tuple[bool, float]]) -> float:
    """Median over traced passes of the pass minus the mean of the untraced
    passes on either side of it, which cancels the warm-up drift."""
    diffs = [
        w - (walls[i - 1][1] + walls[i + 1][1]) / 2
        for i, (traced, w) in enumerate(walls)
        if traced and 0 < i < len(walls) - 1 and not walls[i - 1][0] and not walls[i + 1][0]
    ]
    if diffs:
        return statistics.median(diffs)
    traced = [w for t, w in walls if t]
    return statistics.median(traced) - statistics.median([w for t, w in walls if not t])


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)) or not os.path.isfile(os.path.join(ROOT, "tests", "oracle_utils.py")):
        print(f"perfbench: no {PACKAGE} package next to {HERE}; run from the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    args = parse_args(argv)
    work = os.path.join(HERE, ".work")
    _environment(work)
    workload = workloads.make(args.workload, work, args.seed)
    workload.prepare()
    run = Run(workload)
    tracer = Tracer() if args.trace else None

    spark = None
    try:
        spark, seconds = _set_up()
        setup = STARTED_S + seconds
        cold = run.one_pass(spark, 0, collect=True)
        # Peak memory covers what a one-shot run holds, set-up and one pass: a
        # fixed amount of work, where the timed window's pass count varies
        # with the machine's speed.
        peak_rss = driver_peak_rss_bytes(os.getpid())
        t0 = time.perf_counter()
        # The first pass after the cold one runs inside the window but is not
        # timed: it still compiles code that later passes reuse, and took
        # 5-35% longer than their median on 4 cores.
        run.one_pass(spark, 1)
        pass_id = 2
        # With tracing, odd passes run untraced and even passes traced, and the
        # window closes on an untraced pass so every traced one has two neighbours.
        traced = False
        while time.perf_counter() - t0 < args.seconds or traced or len(run.walls) < workload.min_passes:
            traced = tracer is not None and pass_id % 2 == 0
            wall = run.one_pass(spark, pass_id, tracer if traced else None)
            if wall is not None:
                run.walls.append((traced, wall))
            if run.failed > 3:
                break
            pass_id += 1
    finally:
        if spark is not None:
            stop_spark(spark)

    untraced = [w for t, w in run.walls if not t]
    if cold is None or not untraced or (tracer is not None and not run.layers):
        print("perfbench: no successful timed pass", file=sys.stderr)
        return 1
    wall = statistics.median(untraced)
    if tracer is not None:
        tracer.dump(os.path.join(work, f"spans-{args.workload}-{args.seed}.json"))
        metrics = {k: (statistics.median(m[k] for m in run.layers), u) for k, u in PER_LAYER_UNITS.items()}
        # Pass times drift with the shared machine's speed by more than the
        # 25% an end-to-end bound may allow, so they are reported here.
        metrics["wall_s"] = (wall, "s")
        metrics["rows_per_s"] = (workload.input_rows / wall, "rows/s")
        metrics["first_result_s"] = (setup + cold, "s")
        metrics["cold_s"] = (cold, "s")
        metrics["trace.overhead_s"] = (tracing_overhead(run.walls), "s")
        metrics["fail_ratio"] = (run.failed / run.attempted, "ratio")
    else:
        metrics = {
            "setup_s": (setup, "s"),
            "peak_rss_mb": (peak_rss / 2**20, "MB"),
        }
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
