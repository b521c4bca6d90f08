"""Central query registry.

Every implemented operator registers a :class:`QuerySpec` here; the
driver contract (``__spark_entry__.py``) and the parity test-suite both
consume this one registry, so "implemented" and "oracle-checked" cannot
drift apart.

Order: ``all_specs()``, ``queries()`` and ``oracle_sql()`` list the
claims queries first, then the rest in registration order, module by
module as ``_QUERY_MODULES`` lists them (not in import order).

Cross-engine determinism rules (learned empirically, enforced by
``tests/test_oracle_parity.py``):

- Monetary/double SUMs are decimal-stabilized:
  ``CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE)`` — decimal addition is
  exact and order-independent, so Spark and DuckDB agree bit-for-bit,
  while a plain double sum depends on partial-aggregation order.
- AVG is expressed as decimal-sum / count (same reason).
- Hash/fingerprint functions are md5 (identical across engines), never
  engine-native ``hash()``.
- Timestamp outputs are projected as epoch seconds (BIGINT) or formatted
  strings so driver-side value hashing is representation-stable.
- Top-k queries carry a total-order tie-break (unique key last).
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB-runnable ANSI SQL, or None → rows-only check
    tags: tuple[str, ...]
    doc: str


_REGISTRY: dict[str, QuerySpec] = {}

# Modules whose import registers their queries, in listing order. The
# claims module comes first and imports no operator module.
_QUERY_MODULES = (
    "insurance_claim_data_pipeline_spark.plans.claim_queries",
    "insurance_claim_data_pipeline_spark.operators.relational",
    "insurance_claim_data_pipeline_spark.operators.advanced",
    "insurance_claim_data_pipeline_spark.operators.dedup",
    "insurance_claim_data_pipeline_spark.operators.similarity",
    "insurance_claim_data_pipeline_spark.operators.textops",
    "insurance_claim_data_pipeline_spark.operators.eventops",
    "insurance_claim_data_pipeline_spark.operators.analytics",
    "insurance_claim_data_pipeline_spark.operators.pipeline",
    "insurance_claim_data_pipeline_spark.operators.multimodal",
    "insurance_claim_data_pipeline_spark.operators.sampling",
    "insurance_claim_data_pipeline_spark.operators.graph",
    "insurance_claim_data_pipeline_spark.operators.profile",
    "insurance_claim_data_pipeline_spark.operators.warehouse",
    "insurance_claim_data_pipeline_spark.operators.downsample",
    "insurance_claim_data_pipeline_spark.operators.packing",
    "insurance_claim_data_pipeline_spark.operators.ema",
    "insurance_claim_data_pipeline_spark.operators.skew",
    "insurance_claim_data_pipeline_spark.operators.sketches",
    "insurance_claim_data_pipeline_spark.operators.mlfeat",
    "insurance_claim_data_pipeline_spark.operators.stats",
    "insurance_claim_data_pipeline_spark.operators.maintenance",
    "insurance_claim_data_pipeline_spark.operators.privacy",
    "insurance_claim_data_pipeline_spark.streaming.events_stream",
    "insurance_claim_data_pipeline_spark.streaming.sinks",
    "insurance_claim_data_pipeline_spark.streaming.stateful",
    "insurance_claim_data_pipeline_spark.streaming.claims_stream",
    "insurance_claim_data_pipeline_spark.streaming.transform_state",
)


def register(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Decorator: add ``fn(spark, sf_dir) -> DataFrame`` to the catalog."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = QuerySpec(name, fn, oracle, tuple(tags), (fn.__doc__ or "").strip())
        return fn

    return deco


def _load_modules() -> None:
    # Strict: a deleted/renamed operator module must fail loudly, not
    # silently shrink queries()/oracle_sql() under the driver.
    for mod in _QUERY_MODULES:
        importlib.import_module(mod)


def all_specs() -> dict[str, QuerySpec]:
    _load_modules()
    # A direct operator import registers early; restore module order.
    rank = {mod: i for i, mod in enumerate(_QUERY_MODULES)}
    specs = sorted(_REGISTRY.values(), key=lambda spec: rank[spec.fn.__module__])
    return {spec.name: spec for spec in specs}


def queries() -> dict[str, QueryFn]:
    return {name: spec.fn for name, spec in all_specs().items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: spec.oracle for name, spec in all_specs().items() if spec.oracle is not None
    }
