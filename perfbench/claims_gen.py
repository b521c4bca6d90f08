"""Seeded claims corpus for the ``claims_etl`` workload, with its ground truth.

Every row is generated from a chosen outcome (eligible, one of the four
exclusion buckets, or corrupt), so the expected sinks are known by
construction rather than recomputed by a second implementation of the
eligibility rules. The value mix follows ``fixtures/emr_alpha.csv`` and
``fixtures/emr_beta.json``: status casing and whitespace; exact,
non-retryable, substring-retryable, ``None`` and blank denial reasons;
blank patients; both date formats; unparseable and too-recent dates.

On top of that mix, about 1% of alpha rows carry one field too many or one
too few (counted as malformed and included in ``total_processed``), and
one ``.csv`` input is a broken symlink (one malformed count, no rows).
"""

from __future__ import annotations

import datetime
import json
import os
import random
from dataclasses import dataclass

DEFAULT_RECOMMENDATION = "Review claim details, supply missing info and resubmit"

# Retryable reasons as written in the source, with the recommendation the
# candidate sink must carry for each.
RETRYABLE = (
    ("Missing modifier", "Add correct CPT modifier, resubmit"),
    ("missing MODIFIER", "Add correct CPT modifier, resubmit"),
    ("Incorrect NPI", "Review provider NPI, correct and resubmit"),
    (" Incorrect NPI  ", "Review provider NPI, correct and resubmit"),
    ("Prior auth required", "Obtain/attach prior authorization and resubmit"),
    ("PRIOR AUTH REQUIRED", "Obtain/attach prior authorization and resubmit"),
    # matched by substring containment, not by the exact retryable set
    ("incorrect procedure", "Verify CPT/HCPCS code mapping, correct if needed and resubmit"),
    ("Incorrect procedure code", DEFAULT_RECOMMENDATION),
    ("Form incomplete", "Fill missing fields and resubmit"),
    ("Form incomplete - box 21", DEFAULT_RECOMMENDATION),
    ("Not billable", "Confirm coverage/payer policy; update claim or appeal"),
    ("Service not billable under plan", DEFAULT_RECOMMENDATION),
)
# Reasons that make a denied claim non-retryable or ambiguous. ``None`` is
# the literal string in alpha and JSON null in beta.
NOT_RETRYABLE = ("Authorization expired", "incorrect provider type", "Duplicate claim", None, "", "  ")

DENIED = ("denied", "Denied", "DENIED", " denied", "denied ", "\tDenied")
NOT_DENIED = ("approved", "Approved", " APPROVED", "pending", "Pending ", "", None)
BLANK_PATIENT = ("", "   ", None)
UNPARSEABLE_DATES = ("07/15/2025", "2025/07/15", "yesterday", "", None)

OLDEST = datetime.date(2024, 1, 1)
LAST_ELIGIBLE = datetime.date(2025, 7, 22)  # strictly more than 7 days before 2025-07-30
FIRST_RECENT = datetime.date(2025, 7, 23)
NEWEST = datetime.date(2025, 8, 15)

# Outcome mix; about 22% of the readable rows are eligible.
OUTCOMES = (
    ("eligible", 0.22),
    ("not_denied", 0.30),
    ("patient_missing", 0.12),
    ("too_recent", 0.16),
    ("non_retryable_or_ambiguous", 0.20),
)
CORRUPT_SHARE = 0.01
BUCKETS = ("not_denied", "patient_missing", "too_recent", "non_retryable_or_ambiguous")


@dataclass
class ClaimsCorpus:
    """Generated input files and the sinks ``run_pipeline`` must produce."""

    files: list[str]
    rows: int
    candidates: list[dict]
    metrics: dict

    def ground_truth(self) -> dict:
        return {"candidates": self.candidates, "metrics": self.metrics}


def _date_text(rng: random.Random, lo: datetime.date, hi: datetime.date, t_format: bool) -> str:
    d = lo + datetime.timedelta(days=rng.randrange((hi - lo).days + 1))
    if rng.random() < 0.1:  # unpadded month/day, as strptime accepts
        text = f"{d.year}-{d.month}-{d.day}"
    else:
        text = d.isoformat()
    if t_format:
        text += f"T{rng.randrange(24):02d}:{rng.randrange(60):02d}:{rng.randrange(60):02d}"
    return text


def _row(rng: random.Random, outcome: str, t_format: bool) -> tuple[dict, tuple[str, str] | None]:
    """Raw field values for one readable claim of the given outcome, and the
    (trimmed reason, recommendation) pair when the claim is a candidate."""
    patient = f"P{rng.randrange(1_000_000):06d}"
    date = _date_text(rng, OLDEST, LAST_ELIGIBLE, t_format)
    reason = rng.choice(RETRYABLE + tuple((r, None) for r in NOT_RETRYABLE))[0]
    status = rng.choice(DENIED)
    picked = None
    if outcome == "eligible":
        picked = rng.choice(RETRYABLE)
        reason = picked[0]
    elif outcome == "not_denied":
        status = rng.choice(NOT_DENIED)
        if rng.random() < 0.5:
            patient = rng.choice(BLANK_PATIENT)
    elif outcome == "patient_missing":
        patient = rng.choice(BLANK_PATIENT)
    elif outcome == "too_recent":
        if rng.random() < 0.5:
            date = _date_text(rng, FIRST_RECENT, NEWEST, t_format)
        else:
            date = rng.choice(UNPARSEABLE_DATES)
    else:
        reason = rng.choice(NOT_RETRYABLE)
    return {
        "patient": patient,
        "code": str(99200 + rng.randrange(300)),
        "reason": reason,
        "date": date,
        "status": status,
    }, picked


def generate_claims(out_dir: str, seed: int, rows: int, alpha_files: int, beta_files: int) -> ClaimsCorpus:
    """Write ``alpha_files`` CSV and ``beta_files`` JSON-array inputs holding
    ``rows`` claims in total, plus one broken-symlink ``.csv``, under
    ``out_dir``. The same seed gives byte-identical files."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    names, weights = zip(*OUTCOMES)
    layout = []
    for i in range(max(alpha_files, beta_files)):
        if i < alpha_files:
            layout.append(("alpha", i))
        if i < beta_files:
            layout.append(("beta", i))
    n_files = len(layout)
    per_file = [rows // n_files + (1 if i < rows % n_files else 0) for i in range(n_files)]

    files: list[str] = []
    candidates: list[dict] = []
    counts = dict.fromkeys(BUCKETS, 0)
    by_source = {"alpha": 0, "beta": 0}
    flagged = corrupt = 0
    broken_at = rng.randrange(1, n_files)
    for pos, ((source, idx), n) in enumerate(zip(layout, per_file)):
        if pos == broken_at:
            link = os.path.join(out_dir, "unreadable_00.csv")
            if os.path.lexists(link):
                os.remove(link)
            os.symlink("missing_target.csv", link)
            files.append(link)
        prefix = "A" if source == "alpha" else "B"
        lines = []
        records = []
        for r in range(n):
            claim_id = f"{prefix}{idx:02d}{r:07d}"
            by_source[source] += 1
            if source == "alpha" and rng.random() < CORRUPT_SHARE:
                corrupt += 1
                fields = [claim_id, "P000001", "99213", "Missing modifier", "2025-01-02", "denied"]
                fields = fields + ["extra"] if rng.random() < 0.5 else fields[:-1]
                lines.append(",".join(fields))
                continue
            outcome = rng.choices(names, weights)[0]
            v, picked = _row(rng, outcome, t_format=(source == "beta") != (rng.random() < 0.2))
            if picked is None:
                counts[outcome] += 1
            else:
                flagged += 1
                candidates.append(
                    {
                        "claim_id": claim_id,
                        "resubmission_reason": picked[0].strip(),
                        "source_system": source,
                        "recommended_changes": picked[1],
                    }
                )
            if source == "alpha":
                reason = "None" if v["reason"] is None else v["reason"]
                lines.append(
                    ",".join(
                        [claim_id, v["patient"] or "", v["code"], reason, v["date"] or "", v["status"] or ""]
                    )
                )
            else:
                records.append(
                    {
                        "id": claim_id,
                        "member": v["patient"],
                        "code": v["code"],
                        "error_msg": v["reason"],
                        "date": v["date"],
                        "status": v["status"],
                    }
                )
        if source == "alpha":
            path = os.path.join(out_dir, f"alpha_{idx:02d}.csv")
            with open(path, "w", encoding="utf-8") as f:
                f.write("claim_id,patient_id,procedure_code,denial_reason,submitted_at,status\n")
                f.write("\n".join(lines) + "\n")
        else:
            path = os.path.join(out_dir, f"beta_{idx:02d}.json")
            with open(path, "w", encoding="utf-8") as f:
                json.dump(records, f, indent=1)
        files.append(path)

    metrics = {
        "total_processed": by_source["alpha"] + by_source["beta"],
        "by_source": by_source,
        "flagged_for_resubmission": flagged,
        "excluded_by_reason": {**counts, "malformed": corrupt + 1},
    }
    return ClaimsCorpus(files=files, rows=rows, candidates=candidates, metrics=metrics)


def metrics_log_text(metrics: dict) -> str:
    """The metrics log sink's exact expected text."""
    lines = [
        "===== Pipeline Metrics Summary =====",
        f"Total processed: {metrics['total_processed']}",
        f"By source: {metrics['by_source']}",
        f"Flagged for resubmission: {metrics['flagged_for_resubmission']}",
        "Excluded by reason:",
    ]
    lines += [f"  - {k}: {v}" for k, v in metrics["excluded_by_reason"].items()]
    return "\n".join(lines) + "\n"


def check_sinks(corpus: ClaimsCorpus, result) -> list[str]:
    """Compare one ``run_pipeline`` result and both of its sink files with the
    ground truth. Returns mismatch descriptions; empty means correct."""
    problems = []
    with open(result.output_path, encoding="utf-8") as f:
        written = json.load(f)
    if written != corpus.candidates:
        first = next((i for i, (a, b) in enumerate(zip(written, corpus.candidates)) if a != b), None)
        problems.append(
            f"candidates sink: {len(written)} records, expected {len(corpus.candidates)}; first difference at {first}"
        )
    if result.metrics != corpus.metrics:
        problems.append(f"metrics: got {result.metrics}, expected {corpus.metrics}")
    with open(result.metrics_path, encoding="utf-8") as f:
        if f.read() != metrics_log_text(corpus.metrics):
            problems.append("metrics log sink text differs from the expected summary")
    return problems
