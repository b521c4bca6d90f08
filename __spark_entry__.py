"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json). ``queries()``
lists the claims queries first, then the rest in registration order.

All real content lives in ``insurance_claim_data_pipeline_spark.registry``;
this file is a thin adapter so the registry is the single source of truth
for both the driver and the test suite.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

from insurance_claim_data_pipeline_spark import registry  # noqa: E402
from insurance_claim_data_pipeline_spark.session import configure  # noqa: E402

_SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H-Q1-style pricing summary) on sf0.001."""
    configure(spark)
    from insurance_claim_data_pipeline_spark.operators.relational import q1_pricing_summary

    return q1_pricing_summary(spark, _SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""

    def _wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            configure(spark)
            return fn(spark, sf_dir)

        run.__doc__ = fn.__doc__
        return run

    return {name: _wrap(fn) for name, fn in registry.queries().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent ANSI SQL for each oracle-checkable query."""
    return registry.oracle_sql()
