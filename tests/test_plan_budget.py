"""Plan budget: the plan shapes the catalog relies on at scale, counted
per query and compared exactly against the checked-in ``plan_budget.txt``.

Every batch registry query is built once at sf0.001 and walked once.
Its line in the budget records:

- ``shuffle`` / ``bcast``: distinct shuffle and broadcast exchanges in
  the initial adaptive plan (the static worst case, before AQE re-plans
  at runtime), subqueries included. Distinct means canonicalized, the
  identity Spark's exchange reuse dedupes on, so a pinned frame read by
  five unrolled loop steps counts its shuffle once.
- ``bhj smj shj bnlj cart``: join operators by kind (broadcast hash,
  sort-merge, shuffled hash, broadcast nested loop, cartesian).
- ``py``: operators that run Python workers (UDF eval, ``mapInPandas``,
  ``applyInPandas`` and their kin).
- ``win1``: windows with an empty partition spec, which run in one task.
- ``rdd``: RDD-scan leaves (pins and ``createDataFrame`` frames).
- ``wide``: scans that read every column of a table wider than
  ``WIDE_COLS`` columns, i.e. column pruning never reached them.
- ``scans``: file-source relations per table in the optimized logical
  plan, subqueries included. A table listed twice is read twice.

Physical counts are over distinct canonical subtrees. Iterative queries
run their loops inside ``fn()``, so only the final frame is counted.

A change that moves any count must change ``plan_budget.txt`` in the
same diff; a new exchange is then a review item. A high count is a
prompt to read the plan, not a defect in itself: the families that are
exchange- or scan-heavy by design (unrolled loop steps, multi-arm
evals, LSH band self-joins, two-level distributed ranks) are triaged in
the docstrings of the audit scripts this gate replaced, see
``git log -- scripts/exchange_audit.py scripts/plan_scan_audit.py``.
After an intended plan change, rewrite the file with

    python tests/test_plan_budget.py
"""

from __future__ import annotations

import collections
import os
import re
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from insurance_claim_data_pipeline_spark import registry  # noqa: E402
from tests.conftest import SF_SMOKE  # noqa: E402

BUDGET_FILE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plan_budget.txt")
# Streaming twins return an unstarted streaming frame: their physical
# plan exists only inside a running query, so they carry no budget line.
STREAMING_SUFFIX = "_streaming"
WIDE_COLS = 4
JOINS = {
    "BroadcastHashJoinExec": "bhj",
    "SortMergeJoinExec": "smj",
    "ShuffledHashJoinExec": "shj",
    "BroadcastNestedLoopJoinExec": "bnlj",
    "CartesianProductExec": "cart",
}
FIELDS = ("shuffle", "bcast", *JOINS.values(), "py", "win1", "rdd", "wide")

SPECS = registry.all_specs()
BUDGETED = [n for n in SPECS if not n.endswith(STREAMING_SUFFIX)]


def _seq(scala_seq):
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def physical_counts(df) -> dict[str, int]:
    """The physical-plan fields, over distinct canonical subtrees of the
    initial adaptive plan and every subquery plan."""
    counts = dict.fromkeys(FIELDS, 0)
    seen: set[int] = set()

    def walk(node) -> None:
        cls = node.getClass()
        name = cls.getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            # AQE keeps the plan in a field, not as a child.
            walk(node.initialPlan())
            return
        key = node.canonicalized().hashCode()
        if key in seen:
            return
        seen.add(key)
        if name == "ShuffleExchangeExec":
            counts["shuffle"] += 1
        elif name == "BroadcastExchangeExec":
            counts["bcast"] += 1
        elif name in JOINS:
            counts[JOINS[name]] += 1
        elif cls.getName().startswith("org.apache.spark.sql.execution.python."):
            counts["py"] += 1
        elif name.endswith("RDDScanExec"):
            counts["rdd"] += 1
        elif name == "FileSourceScanExec":
            full = node.relation().dataSchema().size()
            if node.requiredSchema().size() >= full > WIDE_COLS:
                counts["wide"] += 1
        if "Window" in name and node.partitionSpec().isEmpty():
            counts["win1"] += 1
        for child in _seq(node.children()) + _seq(node.subqueries()):
            walk(child)

    walk(df._jdf.queryExecution().executedPlan())
    return counts


def table_scans(df) -> dict[str, int]:
    """File-source relations per table among the optimized logical
    plan's leaves, subqueries included. Pinned frames are RDD leaves,
    not table scans: the lineage under a pin runs once."""
    plan = df._jdf.queryExecution().optimizedPlan()
    scans: collections.Counter[str] = collections.Counter()
    for p in [plan, *_seq(plan.subqueriesAll())]:
        for leaf in _seq(p.collectLeaves()):
            if leaf.getClass().getSimpleName() != "LogicalRelation":
                continue
            for path in _seq(leaf.relation().location().rootPaths()):
                scans[re.sub(r"\.parquet$", "", os.path.basename(path.toString()))] += 1
    return dict(scans)


def build(spark, name: str):
    df = SPECS[name].fn(spark, SF_SMOKE)
    # A cached frame would stay in the session, and a later plan over
    # the same fragment would read the cache, not the table: every line
    # must depend on its own query alone, so no query may cache.
    if not spark._jsparkSession.sharedState().cacheManager().isEmpty():
        spark.catalog.clearCache()  # so the next query is not blamed too
        pytest.fail(f"{name} left a frame in the SQL cache")
    return df


def budget_line(name: str, df) -> str:
    counts = physical_counts(df)
    scans = ",".join(f"{t}:{c}" for t, c in sorted(table_scans(df).items())) or "-"
    fields = " ".join(f"{f}={counts[f]}" for f in FIELDS)
    return f"{name} {fields} scans={scans}"


def read_budget() -> dict[str, str]:
    with open(BUDGET_FILE) as fh:
        lines = [ln.rstrip("\n") for ln in fh if ln.strip() and not ln.startswith("#")]
    return {ln.split(" ", 1)[0]: ln for ln in lines}


@pytest.fixture(scope="module")
def budget() -> dict[str, str]:
    return read_budget()


def test_budget_lists_every_batch_query(budget):
    missing = sorted(set(BUDGETED) - set(budget))
    stale = sorted(set(budget) - set(BUDGETED))
    assert not missing and not stale, (
        f"plan_budget.txt is out of step with the registry (missing {missing}, "
        f"stale {stale}): run python tests/test_plan_budget.py"
    )


@pytest.mark.parametrize("name", BUDGETED)
def test_plan_budget(spark, budget, name):
    line = budget_line(name, build(spark, name))
    assert line == budget.get(name), (
        f"plan shape of {name} moved; if intended, run python tests/test_plan_budget.py "
        f"and commit the diff\n  budget: {budget.get(name)}\n  actual: {line}"
    )


def test_walker_counts_a_known_plan(spark, tmp_path):
    """Every field on a frame whose plan is known by construction."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    path = str(tmp_path / "wide.parquet")
    spark.range(50).selectExpr("id", *[f"id * {i} AS c{i}" for i in range(5)]).write.parquet(
        path
    )
    wide = spark.read.parquet(path)  # 6 columns, all read below
    narrow = spark.read.parquet(path).select("id", "c0")
    dim = spark.createDataFrame([(i, i % 3) for i in range(10)], "id long, g long")
    plus_one = F.udf(lambda x: x + 1, "long")
    df = (
        wide.join(F.broadcast(dim), "id")
        .groupBy("g")
        .agg(F.sum("c4").alias("s"), F.max("c0"), F.max("c1"), F.max("c2"), F.max("c3"))
        .withColumn("r", F.row_number().over(Window.orderBy("g")))
        .withColumn("p", plus_one("s"))
        .join(narrow.hint("merge"), F.col("g") == F.col("id"))
    )
    assert physical_counts(df) == {
        "shuffle": 4,  # groupBy, single-partition window, both sort-merge join sides
        "bcast": 1,
        "bhj": 1,
        "smj": 1,
        "shj": 0,
        "bnlj": 0,
        "cart": 0,
        "py": 1,
        "win1": 1,
        "rdd": 1,
        "wide": 1,
    }
    assert table_scans(df) == {"wide": 2}
    # One shuffle feeding two consumers is one exchange, but two scans.
    counts = narrow.groupBy("c0").count()
    assert physical_counts(counts.union(counts))["shuffle"] == 1
    assert table_scans(counts.union(counts)) == {"wide": 2}


def main() -> int:
    from insurance_claim_data_pipeline_spark.session import get_spark

    spark = get_spark("plan-budget")
    lines = [budget_line(name, build(spark, name)) for name in BUDGETED]
    with open(BUDGET_FILE, "w") as fh:
        fh.write(
            "# Plan budget per batch registry query, checked by tests/test_plan_budget.py\n"
            "# (field meanings in its docstring). Regenerate: python tests/test_plan_budget.py\n"
        )
        fh.writelines(f"{ln}\n" for ln in sorted(lines))
    print(f"wrote {len(lines)} lines to {BUDGET_FILE}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
