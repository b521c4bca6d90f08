"""Python closures run on workers that cannot import this package.

The driver contract imports ``__spark_entry__`` from an arbitrary cwd
with only the driver's ``sys.path`` pointing at the repo; Python workers
get neither that path nor a ``PYTHONPATH``. A function that cloudpickle
ships BY REFERENCE (anything defined at module level in the package)
then fails on the worker with ``ModuleNotFoundError``. Under pytest the
cwd is the repo, so workers import the package from there and every
other test passes regardless — this one runs the queries in a fresh
process from an empty cwd.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# the applyInPandasWithState twins, which the batch plan budget does not list
STATEFUL_TWINS = (
    "events_user_totals_stateful_streaming",
    "events_ema_streaming",
    "events_kalman_streaming",
    "events_cusum_streaming",
)

SCRIPT = """
import json, re, sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[2]")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
import __spark_entry__ as entry

queries = entry.queries()
failed = {{}}
try:
    for name in {names!r}:
        try:
            queries[name](spark, {sf_dir!r}).collect()
        except Exception as ex:
            # the worker's own error line (e.g. ModuleNotFoundError) sits
            # at the end of the traceback Spark wraps it in
            errs = re.findall(r"^\\w+(?:Error|Exception): .*$", str(ex), re.M)
            failed[name] = (errs[-1] if errs else repr(ex))[:300]
finally:
    spark.stop()
print("FAILED=" + json.dumps(failed))
"""


def python_queries() -> list[str]:
    """Every batch query whose plan runs a Python UDF (budget ``py>=1``)."""
    names = []
    with open(os.path.join(REPO, "tests", "plan_budget.txt"), encoding="utf-8") as f:
        for line in f:
            if line.startswith("#"):
                continue
            name, *fields = line.split()
            if int(dict(fl.split("=", 1) for fl in fields)["py"]) >= 1:
                names.append(name)
    return names


def test_python_closures_run_without_package_on_workers(sf_dir, tmp_path):
    names = python_queries()
    assert names, "no py>=1 line in tests/plan_budget.txt"
    names += STATEFUL_TWINS
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", SCRIPT.format(repo=REPO, names=names, sf_dir=sf_dir)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=1200,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("FAILED=")]
    assert lines, proc.stderr[-3000:]
    failed = json.loads(lines[-1][len("FAILED="):])
    assert not failed, "\n".join(f"{n}: {e}" for n, e in failed.items())
