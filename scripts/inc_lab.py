"""dedup_incremental sizes-fold lab (VERDICT r12 item 2).

Three variants of the set-size aggregation inside
``incremental_dedup_frame``:

- ``fused``   — the landed r12 shape: ONE groupBy(doc_id) over sh_all with
                max(_is_batch), branched by filter after the agg.
- ``pinned``  — same fused agg, but the (tiny, one-row-per-doc) sizes
                frame is pinned so the branch filters read materialized
                blocks instead of duplicating the full-shingle-set
                aggregate subtree per branch.
- ``perside`` — the pre-r12 shape: two per-side groupBys with the
                membership filter below each agg.

For each variant: value parity vs the registered query, the EXECUTED
adaptive plan (ReusedExchange visible only there), and interleaved
best-of-N timing through the noop sink.

Usage: python scripts/inc_lab.py [n_alternations]
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import DataFrame, functions as F  # noqa: E402

from insurance_claim_data_pipeline_spark.operators import dedup  # noqa: E402
from insurance_claim_data_pipeline_spark.operators.sampling import hash_bucket  # noqa: E402
from insurance_claim_data_pipeline_spark.session import get_spark, load_table, pin  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def build(spark, sizes_mode: str) -> DataFrame:
    doc = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    max_df = dedup.NGRAM_MAX_DF
    b = hash_bucket("doc_id")
    batch = doc.filter(b >= dedup.INC_CORPUS_PCT)
    sh_all = (
        dedup.shingle_rows(doc, distinct=False)
        .select("doc_id", F.xxhash64("shingle").alias("sh_key"))
        .distinct()
        .withColumn("_is_batch", hash_bucket("doc_id") >= dedup.INC_CORPUS_PCT)
    )
    csh = sh_all.filter(~F.col("_is_batch")).drop("_is_batch")
    bsh = sh_all.filter(F.col("_is_batch")).drop("_is_batch")
    if sizes_mode == "perside":
        csz = csh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("c_sz"))
        bsz = bsh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("b_sz"))
    else:
        sizes_all = sh_all.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("sz"), F.max("_is_batch").alias("_is_batch")
        )
        if sizes_mode == "pinned":
            sizes_all = pin(sizes_all)
        csz = sizes_all.filter(~F.col("_is_batch")).select(
            "doc_id", F.col("sz").alias("c_sz")
        )
        bsz = sizes_all.filter(F.col("_is_batch")).select(
            "doc_id", F.col("sz").alias("b_sz")
        )
    hot = (
        csh.groupBy("sh_key")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > max_df)
        .select("sh_key")
    )
    c_idx = csh.join(F.broadcast(hot), "sh_key", "left_anti")
    b_idx = bsh.join(F.broadcast(hot), "sh_key", "left_anti")
    cand = (
        b_idx.alias("b")
        .join(c_idx.alias("c"), F.col("b.sh_key") == F.col("c.sh_key"))
        .groupBy(F.col("b.doc_id").alias("new_id"), F.col("c.doc_id").alias("corpus_id"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    jac = F.col("n_common").cast("double") / (
        F.col("b_sz") + F.col("c_sz") - F.col("n_common")
    ).cast("double")
    scored = (
        cand.join(bsz.withColumnRenamed("doc_id", "new_id"), "new_id")
        .join(csz.withColumnRenamed("doc_id", "corpus_id"), "corpus_id")
        .select("new_id", "corpus_id", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= dedup.INC_THRESHOLD)
    )
    best = scored.groupBy("new_id").agg(
        F.min(
            F.struct(
                (-F.col("jaccard")).alias("nj"),
                F.col("corpus_id").alias("corpus_id"),
                F.col("jaccard").alias("jaccard"),
            )
        ).alias("b")
    ).select(
        "new_id",
        F.col("b.corpus_id").alias("corpus_id"),
        F.col("b.jaccard").alias("jaccard"),
    )
    return (
        batch.select("doc_id")
        .join(best, F.col("doc_id") == F.col("new_id"), "left")
        .select(
            "doc_id",
            F.when(F.col("corpus_id").isNull(), "new").otherwise("dup").alias("status"),
            F.col("corpus_id").alias("match_doc_id"),
            "jaccard",
        )
    )


def noop(df):
    df.write.mode("overwrite").format("noop").save()


def main() -> None:
    n_alt = int(sys.argv[1]) if len(sys.argv) > 1 else 4
    spark = get_spark("inc_lab")
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    from insurance_claim_data_pipeline_spark import registry

    ref = registry.all_specs()["dedup_incremental"].fn(spark, SF_DIR)
    ref_rows = sorted(map(tuple, ref.collect()))

    modes = ["fused", "pinned", "perside"]
    for m in modes:
        rows = sorted(map(tuple, build(spark, m).collect()))
        print(f"parity {m}: {'OK' if rows == ref_rows else 'MISMATCH'} ({len(rows)} rows)")

    # executed adaptive plans (ReusedExchange only shows post-execution)
    for m in modes:
        df = build(spark, m)
        noop(df)
        plan = df._jdf.queryExecution().executedPlan().toString()
        n_reuse = plan.count("ReusedExchange")
        n_exch = plan.count("Exchange") - plan.count("ReusedExchange")
        n_scan = plan.count("Scan parquet")
        print(f"executed {m}: ReusedExchange={n_reuse} Exchange={n_exch} scans={n_scan}")

    times: dict[str, list[float]] = {m: [] for m in modes}
    for i in range(n_alt):
        for m in modes:
            df = build(spark, m)
            t0 = time.perf_counter()
            noop(df)
            times[m].append(time.perf_counter() - t0)
    for m in modes:
        ts = ", ".join(f"{t:.3f}" for t in times[m])
        print(f"time {m}: best={min(times[m]):.3f} runs=[{ts}]")


if __name__ == "__main__":
    main()
