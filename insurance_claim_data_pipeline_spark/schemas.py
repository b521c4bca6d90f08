"""Schemas.

The canonical claim schema mirrors the reference's fixed 7-field record
(reference: claim_pipeline.py:91-99 alpha, :106-113 beta) — all nullable;
``submitted_at`` is a proper ``DateType`` internally (the reference keeps
an ISO string; we render ISO strings only at the sink boundary).

Raw source schemas are pinned explicitly — never ``inferSchema`` — so the
scan behaves like the reference's string-typed ``csv.DictReader``
(claim_pipeline.py:84) / ``json.load`` (:104) and stays deterministic.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Canonical claim record (claim_pipeline.py:91-99 / :106-113).
CLAIM_SCHEMA = T.StructType(
    [
        T.StructField("claim_id", T.StringType(), True),
        T.StructField("patient_id", T.StringType(), True),
        T.StructField("procedure_code", T.StringType(), True),
        T.StructField("denial_reason", T.StringType(), True),
        T.StructField("status", T.StringType(), True),
        T.StructField("submitted_at", T.DateType(), True),
        T.StructField("source_system", T.StringType(), True),
    ]
)

# Raw "alpha" CSV columns (reference: emr_alpha.csv header row,
# claim_pipeline.py:92-97). All strings, like csv.DictReader.
ALPHA_RAW_SCHEMA = T.StructType(
    [
        T.StructField("claim_id", T.StringType(), True),
        T.StructField("patient_id", T.StringType(), True),
        T.StructField("procedure_code", T.StringType(), True),
        T.StructField("denial_reason", T.StringType(), True),
        T.StructField("submitted_at", T.StringType(), True),
        T.StructField("status", T.StringType(), True),
    ]
)

# Raw "beta" JSON fields (reference: emr_beta.json, claim_pipeline.py:107-112).
BETA_RAW_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), True),
        T.StructField("member", T.StringType(), True),
        T.StructField("code", T.StringType(), True),
        T.StructField("error_msg", T.StringType(), True),
        T.StructField("date", T.StringType(), True),
        T.StructField("status", T.StringType(), True),
    ]
)
