"""Per-layer measurement from outside the engine.

Two sources:

- **Spans.** :class:`Tracer` wraps calls into each layer's public functions
  (the claims plan's ``load_claims``/``candidates_frame``/``metrics_frame``,
  DataFrame ``collect`` and writer ``save``, and the ``session`` pin
  functions in every module that bound them) and records
  ``(name, start, end, parent, pass)`` in memory. The benchmark adds spans
  around its own calls (``run_pipeline``, each registry ``spec.fn``).
- **Spark's status store.** :func:`pass_stats` reads the jobs of one pass's
  job group and their stages through ``statusTracker`` and
  ``statusStore()``, which work with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from dataclasses import asdict, dataclass

PACKAGE = "insurance_claim_data_pipeline_spark"
PIN_FUNCTIONS = ("pin", "pin_eager", "pin_eager_observed")
PLAN_FUNCTIONS = ("load_claims", "candidates_frame", "metrics_frame")


@dataclass
class Span:
    name: str
    start: float  # epoch seconds, comparable with Spark's job timestamps
    end: float
    parent: int | None  # index of the enclosing span in Tracer.spans
    pass_id: int
    attrs: dict

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans in memory. The wrappers exist only between
    :meth:`install` and :meth:`uninstall`, so untraced passes run the
    unwrapped functions."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.pass_id = -1
        self._stack: list[int] = []
        self._undo: list[tuple[object, str, object]] = []

    def span(self, name: str, fn, *args, **kwargs):
        """Call ``fn`` inside a new span of the current pass; while it runs,
        :meth:`current` returns that span."""
        idx = len(self.spans)
        self.spans.append(
            Span(name, time.time(), 0.0, self._stack[-1] if self._stack else None, self.pass_id, {})
        )
        self._stack.append(idx)
        try:
            return fn(*args, **kwargs)
        finally:
            self._stack.pop()
            self.spans[idx].end = time.time()

    def current(self) -> Span:
        return self.spans[self._stack[-1]]

    def _wrap(self, owner, attr: str, name: str, around=None) -> None:
        original = getattr(owner, attr)

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            if around is not None:
                return around(original, *args, **kwargs)
            return self.span(name, original, *args, **kwargs)

        self._undo.append((owner, attr, original))
        setattr(owner, attr, wrapper)

    def install(self, spark) -> None:
        from pyspark.sql.functions import lit

        session = sys.modules[f"{PACKAGE}.session"]
        pins = {id(getattr(session, f)): f for f in PIN_FUNCTIONS}
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(PACKAGE):
                continue
            for attr, value in list(vars(mod).items()):
                if attr in PLAN_FUNCTIONS and mod_name.endswith(".plans.claim_pipeline"):
                    around = self._load_claims if attr == "load_claims" else None
                    self._wrap(mod, attr, f"plans.{attr}", around)
                elif id(value) in pins:
                    self._wrap(mod, attr, f"session.{pins[id(value)]}", self._pin)
        df = spark.range(1).select(lit(1))
        self._wrap(type(df), "collect", "collect", around=self._labelled_collect)
        self._wrap(type(df.write), "save", "save")

    def _load_claims(self, original, *args, **kwargs):
        def call():
            routed = original(*args, **kwargs)
            self.current().attrs["files_failed"] = len(routed.failed_files)
            return routed

        return self.span("plans.load_claims", call)

    def _pin(self, original, df, *args, **kwargs):
        name = original.__name__
        eager = name != "pin" or bool(kwargs.get("eager", args[0] if args else False))

        def call():
            self.current().attrs["eager"] = eager
            return original(df, *args, **kwargs)

        return self.span(f"session.{name}", call)

    def _labelled_collect(self, original, df, *args, **kwargs):
        """Collect under a job description naming what is collected, so the
        status store can split the claims plan's jobs by their purpose."""
        cols = set(df.columns)
        label = "metrics" if "total_processed" in cols else "candidates" if "recommended_changes" in cols else "collect"
        sc = df.sparkSession.sparkContext
        previous = sc.getLocalProperty("spark.job.description")
        sc.setLocalProperty("spark.job.description", label)
        try:
            return self.span(f"collect.{label}", original, df, *args, **kwargs)
        finally:
            sc.setLocalProperty("spark.job.description", previous)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, original = self._undo.pop()
            setattr(owner, attr, original)

    def of_pass(self, pass_id: int) -> list[Span]:
        return [s for s in self.spans if s.pass_id == pass_id]

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump([asdict(s) for s in self.spans], f)


def _opt_ms(option) -> float | None:
    return option.get().getTime() / 1000 if option.isDefined() else None


def _seq(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


@dataclass
class JobStat:
    job_id: int
    description: str | None
    start: float
    end: float


def pass_stats(spark, group: str) -> tuple[list[JobStat], dict[str, float]]:
    """Jobs of one job group and the sums of their stage metrics."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    defaults = [getattr(store, f"stageData$default${k}")() for k in range(2, 6)]
    jobs: list[JobStat] = []
    stage_ids: set[int] = set()
    for job_id in sc.statusTracker().getJobIdsForGroup(group):
        jd = store.job(job_id)
        desc = jd.description()
        jobs.append(
            JobStat(job_id, desc.get() if desc.isDefined() else None, _opt_ms(jd.submissionTime()), _opt_ms(jd.completionTime()))
        )
        stage_ids.update(_seq(jd.stageIds()))
    totals = dict.fromkeys(
        (
            "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s", "input_bytes",
            "input_records", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "result_bytes",
        ),
        0.0,
    )
    for sid in stage_ids:
        for sd in _seq(store.stageData(sid, *defaults)):
            if sd.status().toString() == "SKIPPED":
                continue
            totals["stages"] += 1
            totals["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
            totals["executor_run_s"] += sd.executorRunTime() / 1e3
            totals["executor_cpu_s"] += sd.executorCpuTime() / 1e9
            totals["gc_s"] += sd.jvmGcTime() / 1e3
            totals["input_bytes"] += sd.inputBytes()
            totals["input_records"] += sd.inputRecords()
            totals["shuffle_read_bytes"] += sd.shuffleReadBytes()
            totals["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            totals["spill_bytes"] += sd.diskBytesSpilled()
            totals["result_bytes"] += sd.resultSize()
    totals["jobs"] = float(len(jobs))
    return jobs, totals


def busy_seconds(jobs: list[JobStat], start: float, end: float) -> float:
    """Length of the union of job intervals, clipped to ``[start, end]``."""
    covered, cursor = 0.0, start
    for a, b in sorted((max(j.start, start), min(j.end or end, end)) for j in jobs if j.start is not None):
        if b > cursor:
            covered += b - max(a, cursor)
            cursor = b
    return covered
