"""Streaming execution of the claim resubmission pipeline.

The reference is a one-shot batch job (claim_pipeline.py:155-233); this
module runs the SAME canonical projections (P1-P3, F1-F4 — the batch
loaders' ``alpha_canonical``/``beta_canonical``) and candidate filter
(E1-E7 + P4 — the batch ``candidates_frame``) over Structured Streaming
file sources, modeling the production shape where claim files land in a
drop-directory continuously. The whole pipeline is stateless
(project + filter), so it runs in append mode with no watermark and
scales linearly with arrival rate — every micro-batch is one narrow
pass, no shuffle at all.

Batch/stream equivalence is asserted in tests/test_streaming.py: the
drained stream must produce exactly the batch candidates for the same
input files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..plans.claim_pipeline import candidates_frame
from ..plans.claim_queries import CANDIDATES_ORACLE
from ..registry import register
from ..schemas import ALPHA_RAW_SCHEMA, BETA_RAW_SCHEMA
from ..sources.claims import alpha_canonical, beta_canonical


def alpha_claims_stream(spark: SparkSession, dir_path: str) -> DataFrame:
    """Streaming S1: watch a directory for alpha CSV files; emit
    canonical claim rows (the projection sources.claims.load_alpha uses,
    claim_pipeline.py:81-99)."""
    raw = (
        spark.readStream.schema(ALPHA_RAW_SCHEMA)
        .option("header", True)
        .option("pathGlobFilter", "*.csv")
        .csv(dir_path)
    )
    return raw.select(*alpha_canonical())


def beta_claims_stream(spark: SparkSession, dir_path: str) -> DataFrame:
    """Streaming S2: watch a directory for beta JSON-array files
    (multiLine, claim_pipeline.py:104 json.load semantics)."""
    raw = (
        spark.readStream.schema(BETA_RAW_SCHEMA)
        .option("multiLine", True)
        .option("pathGlobFilter", "*.json")
        .json(dir_path)
    )
    return raw.select(*beta_canonical())


def claims_stream(spark: SparkSession, dir_path: str) -> DataFrame:
    """Streaming S3: both sources watching one drop-directory, unioned
    into the canonical stream (extension dispatch via pathGlobFilter)."""
    return alpha_claims_stream(spark, dir_path).unionByName(
        beta_claims_stream(spark, dir_path)
    )


# The pipeline is stateless (project + filter), so append mode emits
# every candidate exactly once regardless of micro-batching and the
# drained stream equals the batch twin — claims_candidates' oracle
# (which reads the same fixture files via read_csv/read_json) applies
# verbatim.
@register(
    "claims_candidates_streaming",
    oracle=CANDIDATES_ORACLE,
    tags=("claims", "streaming"),
)
def claims_candidates_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming execution of the candidate pipeline over the
    reference's own fixture files, ORACLE-CHECKED (upgraded from
    rows-only in r06 — see _candidates_oracle; equality vs the batch
    twin is additionally asserted in tests/test_streaming.py)."""
    import os

    from .events_stream import run_stream_to_memory

    fixtures = os.path.abspath(
        os.path.join(os.path.dirname(__file__), "..", "..", "fixtures")
    )
    stream = candidates_frame(claims_stream(spark, fixtures))
    return run_stream_to_memory(stream, spark, output_mode="append")
