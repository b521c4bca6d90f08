r"""Interleaved A/B of arbitrary SQL-conf variants over registered
queries. One session, variants alternated per run so host steal bursts
hit both roughly equally; best-of-N per (query, variant). A query tagged
``bench`` is timed by its save alone; any other is timed as fn() + save
(bench.py's ``bench_wall`` rule: driver-loop queries run jobs in fn()).

Run: python scripts/ab_conf.py "label1:key=val,key=val" "label2:key=val" ...
Env: AB_RUNS (default 3), AB_QUERIES (comma-sep registered names; default
the bench set), SPARK_GRAFT_SF_DIR.

Recipes:
  AQE coalesce floor:  ab_conf.py \
    "1m:spark.sql.adaptive.coalescePartitions.minPartitionSize=1m" \
    "64k:spark.sql.adaptive.coalescePartitions.minPartitionSize=64k" \
    "16k:spark.sql.adaptive.coalescePartitions.minPartitionSize=16k"
  Best-of-N wall of named queries:  AB_QUERIES=a,b AB_RUNS=N ab_conf.py base:
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from insurance_claim_data_pipeline_spark import registry  # noqa: E402
from insurance_claim_data_pipeline_spark.session import get_spark  # noqa: E402


def main() -> int:
    variants: list[tuple[str, dict[str, str]]] = []
    for arg in sys.argv[1:]:
        label, _, confs = arg.partition(":")
        kv = {}
        if confs:
            for pair in confs.split(","):
                k, _, v = pair.partition("=")
                kv[k] = v
        variants.append((label, kv))
    if not variants:
        print("usage: ab_conf.py 'label:key=val,...' ...")
        return 1

    runs = int(os.environ.get("AB_RUNS", "3"))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    only = os.environ.get("AB_QUERIES")
    only_set = set(only.split(",")) if only else None

    spark = get_spark("ab_conf")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    baseline = {
        k: spark.conf.get(k) for _, kv in variants for k in kv
    }

    specs = registry.all_specs()
    if only_set is None:
        only_set = {
            n for n, s in specs.items() if "bench" in s.tags or "bench_wall" in s.tags
        }
    best: dict[tuple[str, str], float] = {}
    for name in sorted(only_set):
        spec = specs[name]
        wall = "bench" not in spec.tags
        for _ in range(runs):
            for label, kv in variants:
                for k in baseline:
                    spark.conf.set(k, kv.get(k, baseline[k]))
                if wall:
                    t0 = time.perf_counter()
                    df = spec.fn(spark, sf_dir)
                else:
                    df = spec.fn(spark, sf_dir)
                    t0 = time.perf_counter()
                df.write.mode("overwrite").format("noop").save()
                dt = time.perf_counter() - t0
                key = (name, label)
                best[key] = min(best.get(key, float("inf")), dt)
        row = "  ".join(f"{lb}={best[(name, lb)]:7.3f}" for lb, _ in variants)
        print(f"{name:32s} {row}", flush=True)
    totals = {
        lb: sum(v for (n, l), v in best.items() if l == lb) for lb, _ in variants
    }
    print("TOTAL(best) " + "  ".join(f"{lb}={t:7.3f}" for lb, t in totals.items()))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
