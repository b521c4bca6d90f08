"""Claim sources: CSV "alpha" (S1), JSON "beta" (S2), and the
extension-dispatch router (S3).

Reference: claim_pipeline.py:81-99 (load_alpha), :101-114 (load_beta),
:172-183 (router loop). The generators' fused scan+normalize becomes a
scan with projection expressions — Catalyst collapses them into the
file scan, preserving the reference's single-pass property.

Fail-soft mapping:
- X1 (per-record, :190-212): PERMISSIVE mode + a _corrupt_record column
  (with CSV column pruning off, so every consumer sees the full-width
  parse); corrupt rows are counted as 'malformed' and excluded from the
  candidates.
- X2 (per-file, :176/:213-215): unreadable/unsupported files are
  skipped with a warning and counted once as malformed. Spark is more
  granular than the reference here (a bad row doesn't abandon the rest
  of the file) — intentional divergence, documented in README.

Row-order contract (O1 sink): each loader emits ``_block_start``
(``_metadata.file_block_start`` — the byte offset of the file split the
row came from) and ``_row_idx`` (``monotonically_increasing_id``, which
is scan-ordered WITHIN a task). A split is always read consecutively by
exactly one task, so sorting by (_file_idx, _block_start, _row_idx)
reconstructs exact in-file row order even when Spark splits a large CSV
into multiple partitions or bin-packs several splits into one task —
the case where mid() alone would interleave.
"""

from __future__ import annotations

import functools
import logging
import os
import stat
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.cleaning import lower_norm, none_to_null, parse_claim_date, trim_null
from ..schemas import ALPHA_RAW_SCHEMA, BETA_RAW_SCHEMA, CLAIM_SCHEMA

logger = logging.getLogger("insurance_claim_data_pipeline_spark.sources")

_CORRUPT = "_corrupt_record"


def _with_corrupt(schema: T.StructType) -> T.StructType:
    return T.StructType(list(schema.fields) + [T.StructField(_CORRUPT, T.StringType(), True)])


def alpha_canonical() -> list:
    """P1+P3+F1-F4: the 7 canonical columns over a raw alpha CSV frame;
    the batch loader and the streaming twin share it."""
    return [
        trim_null("claim_id").alias("claim_id"),
        trim_null("patient_id").alias("patient_id"),
        trim_null("procedure_code").alias("procedure_code"),
        none_to_null("denial_reason").alias("denial_reason"),  # F4: alpha only
        lower_norm("status").alias("status"),
        parse_claim_date("submitted_at").alias("submitted_at"),
        F.lit("alpha").alias("source_system"),
    ]


def beta_canonical() -> list:
    """P2+P3+F1-F3: the 7 canonical columns over a raw beta JSON frame.
    Beta has no 'None'-literal handling (claim_pipeline.py:110), an
    asymmetry with alpha kept on purpose."""
    return [
        trim_null("id").alias("claim_id"),
        trim_null("member").alias("patient_id"),
        trim_null("code").alias("procedure_code"),
        trim_null("error_msg").alias("denial_reason"),
        lower_norm("status").alias("status"),
        parse_claim_date("date").alias("submitted_at"),
        F.lit("beta").alias("source_system"),
    ]


def _row_keys() -> list:
    """The corrupt-record flag and the O1 order keys every batch loader
    adds after the canonical columns."""
    return [
        F.col(_CORRUPT),
        F.col("_metadata.file_block_start").alias("_block_start"),
        F.monotonically_increasing_id().alias("_row_idx"),
    ]


def load_alpha(spark: SparkSession, path: str) -> DataFrame:
    """S1: CSV scan → canonical claim DataFrame.

    Columns are read as raw strings (csv.DictReader semantics,
    claim_pipeline.py:84); all cleanup is expression-level. Column
    pruning is off for this read: a pruned CSV scan tokenizes only the
    columns a query references, so a row with an extra field would not
    be flagged in ``_corrupt_record`` and would reach the candidates.
    """
    raw = spark.read.option("columnPruning", False).csv(
        path,
        header=True,
        schema=_with_corrupt(ALPHA_RAW_SCHEMA),
        mode="PERMISSIVE",
        columnNameOfCorruptRecord=_CORRUPT,
    )
    return raw.select(*alpha_canonical(), *_row_keys())


def load_beta(spark: SparkSession, path: str) -> DataFrame:
    """S2: whole-file JSON array scan → canonical claims.

    multiLine=True because the file is one top-level array, not JSONL
    (claim_pipeline.py:104 json.load).
    """
    raw = spark.read.json(
        path,
        schema=_with_corrupt(BETA_RAW_SCHEMA),
        multiLine=True,
        mode="PERMISSIVE",
        columnNameOfCorruptRecord=_CORRUPT,
    )
    return raw.select(*beta_canonical(), *_row_keys())


@dataclass
class RouterResult:
    claims: DataFrame  # canonical schema + _corrupt_record + _file_idx
    skipped_files: list[str] = field(default_factory=list)
    failed_files: list[str] = field(default_factory=list)


# Driver-side probe budget per router input (ADVICE r07 / VERDICT r07
# item 7): the probe is O(files) on the DRIVER, fine for the
# reference's handful-of-local-files surface but not for a directory
# of many thousands of part files — past the cap the remaining files
# are left to Spark's scan (whose task-level failure the PERMISSIVE
# X1 path and the driver's action-time try/except still surface, just
# later than router time).
_PROBE_MAX_FILES = 1024


def _probe_readable(path: str, _visited: set | None = None, _budget: list | None = None) -> None:
    """X2 readability probe at ROUTER time. Spark's scan is lazy: an
    existing-but-unreadable file (broken symlink, permission error)
    builds a DataFrame fine and only fails at the first ACTION, long
    after the router returned — so ``failed_files`` (and the
    malformed count derived from it) would miss it. The reference
    fails per file at read time inside its try/except
    (claim_pipeline.py:176, :213-215); probing one byte here restores
    that timing. Scheme'd URIs (s3://, hdfs://) are left to Spark's
    own listing — this probe is for the reference's local-file
    surface, not the distributed read path.

    Hardened per ADVICE r07: a non-regular file (FIFO, device, socket)
    is REJECTED before opening — ``open()+read(1)`` on a FIFO with no
    writer blocks forever, which no except clause can reach; directory
    recursion tracks visited (st_dev, st_ino) so a symlink cycle
    terminates by skip instead of by RecursionError; and at most
    ``_PROBE_MAX_FILES`` files are probed per router input."""
    if "://" in path:
        return
    if _visited is None:
        _visited = set()
    if _budget is None:
        _budget = [_PROBE_MAX_FILES]
    if _budget[0] <= 0:
        return
    st = os.stat(path)  # follows symlinks; broken symlink raises here
    if stat.S_ISDIR(st.st_mode):
        key = (st.st_dev, st.st_ino)
        if key in _visited:  # symlink cycle / repeated subtree: probe once
            return
        _visited.add(key)
        _budget[0] -= 1  # directories consume budget too: a partition
        # tree of 100k subdirs is the same unbounded driver-side walk
        # as 100k files, whether or not any file open happens.
        # Spark reads every file under a directory input, so the probe
        # must too — a listable directory with an unreadable part file
        # inside would otherwise still fail at first action.
        for entry in os.scandir(path):
            if _budget[0] <= 0:
                return
            _probe_readable(entry.path, _visited, _budget)
    elif not stat.S_ISREG(st.st_mode):
        raise OSError(f"not a regular file (mode {stat.S_IFMT(st.st_mode):#o}): {path}")
    else:
        _budget[0] -= 1
        with open(path, "rb") as fh:
            fh.read(1)


def load_claims(spark: SparkSession, paths: list[str]) -> RouterResult:
    """S3: extension dispatch (.csv→alpha, .json→beta), warn+skip
    otherwise, union all files into one logical stream. ``_file_idx``
    preserves the reference's file-order output semantics at the sink."""
    dfs: list[DataFrame] = []
    skipped: list[str] = []
    failed: list[str] = []
    for idx, path in enumerate(paths):
        try:
            if path.endswith(".csv"):
                _probe_readable(path)
                df = load_alpha(spark, path)
            elif path.endswith(".json"):
                _probe_readable(path)
                df = load_beta(spark, path)
            else:
                logger.warning("Unsupported file type: %s", path)
                skipped.append(path)
                continue
            dfs.append(df.withColumn("_file_idx", F.lit(idx)))
        except Exception:
            logger.exception("Failed to process file %s", path)
            failed.append(path)
    if dfs:
        claims = functools.reduce(DataFrame.unionByName, dfs)
    else:
        claims = spark.createDataFrame(
            [],
            _with_corrupt(CLAIM_SCHEMA)
            .add("_block_start", T.LongType())
            .add("_row_idx", T.LongType())
            .add("_file_idx", T.IntegerType()),
        )
    return RouterResult(claims=claims, skipped_files=skipped, failed_files=failed)
