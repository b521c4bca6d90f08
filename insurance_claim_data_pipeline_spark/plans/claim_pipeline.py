"""End-to-end claim resubmission pipeline (reference: pipeline(),
claim_pipeline.py:155-233), Spark-first.

Execution shape: one Spark job. The canonical claims frame carries the
nine metric counters as an ``observe`` node, so the candidate
filter+projection and the metrics come out of the same scan, which keeps
the reference's one-traversal property (SURVEY.md §4) without a
driver-side row loop or a cache. Corrupt rows are flagged by the CSV and
JSON readers themselves (sources/claims.py), so no consumer needs the
full rows materialized first. Candidates are collected to the driver only
at the JSON-array sink (O1) and put in file-row order there, justified
because candidates ≪ input by construction; the scalable native variant
is write_candidates_jsonl.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..functions.claims import exclusion_reason, is_eligible, recommended_changes
from ..sources.claims import load_claims

CANDIDATE_COLUMNS = ["claim_id", "resubmission_reason", "source_system", "recommended_changes"]


def candidates_frame(claims: DataFrame) -> DataFrame:
    """E7 filter + P4 projection: eligible claims → candidate records.
    resubmission_reason keeps the ORIGINAL casing (claim_pipeline.py:145
    returns the raw reason; only classify/lookup lowercase internally)."""
    ok_rows = claims.filter(F.col("_corrupt_record").isNull()) if "_corrupt_record" in claims.columns else claims
    return ok_rows.filter(is_eligible()).select(
        "claim_id",
        F.col("denial_reason").alias("resubmission_reason"),
        "source_system",
        recommended_changes().alias("recommended_changes"),
        *[c for c in ("_file_idx", "_block_start", "_row_idx") if c in claims.columns],
    )


def metric_counts() -> list:
    """A1-A4 + intended-semantics A3 as nine conditional counts over the
    router's claims frame, attached to the candidate job with ``observe``
    so no second pass scans the input for them."""
    corrupt = F.col("_corrupt_record").isNotNull()
    eligible = is_eligible()
    excl = exclusion_reason()

    def bucket(name: str):
        return F.count(
            F.when(~corrupt & ~eligible & (excl == name), 1)
        ).alias(name)

    return [
        F.count(F.lit(1)).alias("total_processed"),
        F.count(F.when(F.col("source_system") == "alpha", 1)).alias("alpha"),
        F.count(F.when(F.col("source_system") == "beta", 1)).alias("beta"),
        F.count(F.when(~corrupt & eligible, 1)).alias("flagged_for_resubmission"),
        bucket("not_denied"),
        bucket("patient_missing"),
        bucket("too_recent"),
        bucket("non_retryable_or_ambiguous"),
        F.count(F.when(corrupt, 1)).alias("malformed"),
    ]


@dataclass
class PipelineResult:
    output_path: str
    metrics_path: str
    candidates: list[dict[str, Any]]
    metrics: dict[str, Any]


def run_pipeline(
    spark: SparkSession, input_files: list[str], output_dir: str = "."
) -> PipelineResult:
    """The reference's pipeline(): ingest → normalize → eligibility →
    JSON-array sink (O1) + metrics log sink (O2)."""
    routed = load_claims(spark, input_files)
    observation = Observation()
    claims = routed.claims.observe(observation, *metric_counts())
    # O1 insertion order: file order, then split offset within the file,
    # then scan order within the split. (_block_start comes from
    # _metadata, stable under Spark's split bin-packing;
    # monotonically_increasing_id alone is only ordered within one task,
    # so a multi-split file needs the block offset first.) The candidates
    # are on the driver anyway, so they are sorted there.
    cand_rows = sorted(
        candidates_frame(claims).collect(),
        key=lambda r: (r["_file_idx"], r["_block_start"], r["_row_idx"]),
    )
    m = observation.get

    candidates = [{c: row[c] for c in CANDIDATE_COLUMNS} for row in cand_rows]
    metrics = {
        "total_processed": m["total_processed"],
        "by_source": {"alpha": m["alpha"], "beta": m["beta"]},
        "flagged_for_resubmission": m["flagged_for_resubmission"],
        "excluded_by_reason": {
            "not_denied": m["not_denied"],
            "patient_missing": m["patient_missing"],
            "too_recent": m["too_recent"],
            "non_retryable_or_ambiguous": m["non_retryable_or_ambiguous"],
            # per-file failures count once each, like claim_pipeline.py:215
            "malformed": m["malformed"] + len(routed.failed_files),
        },
    }

    output_path = os.path.join(output_dir, "resubmission_candidates.json")
    with open(output_path, "w", encoding="utf-8") as f:
        json.dump(candidates, f, indent=2)

    metrics_path = os.path.join(output_dir, "pipeline_metrics.log")
    with open(metrics_path, "w", encoding="utf-8") as f:
        f.write("===== Pipeline Metrics Summary =====\n")
        f.write(f"Total processed: {metrics['total_processed']}\n")
        f.write(f"By source: {metrics['by_source']}\n")
        f.write(f"Flagged for resubmission: {metrics['flagged_for_resubmission']}\n")
        f.write("Excluded by reason:\n")
        for reason, count in metrics["excluded_by_reason"].items():
            f.write(f"  - {reason}: {count}\n")

    return PipelineResult(
        output_path=output_path,
        metrics_path=metrics_path,
        candidates=candidates,
        metrics=metrics,
    )


def write_candidates_jsonl(claims: DataFrame, out_dir: str) -> None:
    """Scale-path variant of O1: distributed JSONL write (no driver
    collect). At 100 TB this is the sink you want; the pretty-printed
    single-array file exists for reference parity only."""
    candidates_frame(claims).drop("_file_idx", "_block_start", "_row_idx").write.mode("overwrite").json(out_dir)
