"""Golden end-to-end parity with the reference claim pipeline
(SURVEY.md §5 items 1 and 3) plus scalar-function edge cases."""

from __future__ import annotations

import datetime
import json
import os

from insurance_claim_data_pipeline_spark.functions import claims as C
from insurance_claim_data_pipeline_spark.plans.claim_pipeline import run_pipeline
from insurance_claim_data_pipeline_spark.plans.claim_queries import ALPHA_PATH, BETA_PATH
from insurance_claim_data_pipeline_spark.sources.claims import load_alpha, load_beta, load_claims

REFERENCE_OUTPUT = os.path.join(
    os.path.dirname(BETA_PATH), "reference", "resubmission_candidates.json"
)

EXPECTED_BOTH = [
    {
        "claim_id": "A123",
        "resubmission_reason": "Missing modifier",
        "source_system": "alpha",
        "recommended_changes": "Add correct CPT modifier, resubmit",
    },
    {
        "claim_id": "A124",
        "resubmission_reason": "Incorrect NPI",
        "source_system": "alpha",
        "recommended_changes": "Review provider NPI, correct and resubmit",
    },
    {
        "claim_id": "A127",
        "resubmission_reason": "Prior auth required",
        "source_system": "alpha",
        "recommended_changes": "Obtain/attach prior authorization and resubmit",
    },
    {
        "claim_id": "B988",
        "resubmission_reason": "Missing modifier",
        "source_system": "beta",
        "recommended_changes": "Add correct CPT modifier, resubmit",
    },
]


def test_golden_both_files(spark, tmp_path):
    res = run_pipeline(spark, [ALPHA_PATH, BETA_PATH], str(tmp_path))
    assert res.candidates == EXPECTED_BOTH
    m = res.metrics
    assert m["total_processed"] == 9
    assert m["by_source"] == {"alpha": 5, "beta": 4}
    assert m["flagged_for_resubmission"] == 4
    # intended semantics (the reference's counter-key bug is fixed here;
    # FIXTURES.md A4 documents these expected buckets)
    assert m["excluded_by_reason"] == {
        "not_denied": 2,
        "patient_missing": 2,
        "too_recent": 0,
        "non_retryable_or_ambiguous": 1,
        "malformed": 0,
    }
    # O1 sink: pretty-printed JSON array, insertion-ordered
    with open(res.output_path, encoding="utf-8") as f:
        assert json.load(f) == EXPECTED_BOTH
    with open(res.metrics_path, encoding="utf-8") as f:
        log = f.read()
    assert "Total processed: 9" in log
    assert "Flagged for resubmission: 4" in log


def test_golden_beta_only_matches_reference_output(spark, tmp_path):
    """The reference repo checks in the output of a beta-only run —
    resubmission_candidates.json (1 candidate, B988, original casing
    preserved), vendored as fixtures/reference/."""
    res = run_pipeline(spark, [BETA_PATH], str(tmp_path))
    with open(REFERENCE_OUTPUT, encoding="utf-8") as f:
        reference_out = json.load(f)
    assert res.candidates == reference_out
    assert res.metrics["total_processed"] == 4
    assert res.metrics["by_source"] == {"alpha": 0, "beta": 4}


def test_unsupported_and_missing_files(spark, tmp_path):
    txt = tmp_path / "notes.txt"
    txt.write_text("hello")
    routed = load_claims(spark, [str(txt), str(tmp_path / "missing.csv"), BETA_PATH])
    assert routed.skipped_files == [str(txt)]
    assert routed.failed_files == [str(tmp_path / "missing.csv")]
    assert routed.claims.count() == 4

    res = run_pipeline(spark, [str(txt), str(tmp_path / "missing.csv"), BETA_PATH], str(tmp_path))
    assert res.metrics["excluded_by_reason"]["malformed"] == 1  # failed file counted once


def test_existing_but_unreadable_file_fails_at_router_time(spark, tmp_path):
    """VERDICT r06 item 4: the router used to check os.path.exists AFTER
    building the (lazy) DataFrame, so an existing-but-unreadable file
    only failed at the first action — after failed_files was already
    returned. A broken symlink is the root-proof stand-in (the entry
    exists, opening it raises): it must land in failed_files at router
    time and in excluded_by_reason.malformed exactly once, matching the
    reference's per-file read-time try/except (claim_pipeline.py:176,
    :213-215)."""
    import os

    link = tmp_path / "ghost.csv"
    os.symlink(str(tmp_path / "no-such-target.csv"), str(link))
    assert os.path.lexists(link)

    routed = load_claims(spark, [str(link), BETA_PATH])
    assert routed.failed_files == [str(link)]
    assert routed.skipped_files == []
    assert routed.claims.count() == 4  # beta still loads

    res = run_pipeline(spark, [str(link), BETA_PATH], str(tmp_path))
    assert res.metrics["excluded_by_reason"]["malformed"] == 1

    # Directory input: Spark reads every file under it, so a listable
    # directory with a bad part file inside must ALSO fail at router
    # time (the probe recurses), not at first action.
    bad_dir = tmp_path / "batch.csv"
    bad_dir.mkdir()
    os.symlink(str(tmp_path / "gone.part"), str(bad_dir / "part-0000.csv"))
    routed2 = load_claims(spark, [str(bad_dir), BETA_PATH])
    assert routed2.failed_files == [str(bad_dir)]
    assert routed2.claims.count() == 4


def test_probe_rejects_fifo_instead_of_blocking(spark, tmp_path):
    """ADVICE r07: open()+read(1) on a FIFO with no writer blocks
    forever — unreachable by any except clause. The probe must stat
    first and reject non-regular files explicitly, landing the input
    in failed_files like any other unreadable file."""
    import os

    fifo = tmp_path / "pipe.csv"
    os.mkfifo(str(fifo))
    routed = load_claims(spark, [str(fifo), BETA_PATH])
    assert routed.failed_files == [str(fifo)]
    assert routed.claims.count() == 4

    # Same for a FIFO hiding inside a directory input.
    d = tmp_path / "dirin.csv"
    d.mkdir()
    os.mkfifo(str(d / "part-0000.csv"))
    routed2 = load_claims(spark, [str(d), BETA_PATH])
    assert routed2.failed_files == [str(d)]


def test_probe_symlink_cycle_terminates(tmp_path):
    """ADVICE r07: a directory symlink cycle used to recurse until
    RecursionError (caught, but misclassifying the cause). The visited
    (st_dev, st_ino) set now terminates the walk by skip — and the
    regular files in the cycle's directory are still probed."""
    import os

    from insurance_claim_data_pipeline_spark.sources.claims import _probe_readable

    d = tmp_path / "loop"
    d.mkdir()
    (d / "ok.csv").write_text("claim_id\n1\n")
    os.symlink(str(d), str(d / "self"))
    _probe_readable(str(d))  # terminates, no RecursionError

    # A cycle THROUGH two directories also terminates.
    a = tmp_path / "a"
    b = tmp_path / "b"
    a.mkdir()
    b.mkdir()
    os.symlink(str(b), str(a / "to_b"))
    os.symlink(str(a), str(b / "to_a"))
    _probe_readable(str(a))


def test_probe_budget_bounds_directory_walk(tmp_path):
    """VERDICT r07 item 7: the probe is O(files) driver-side; a cap
    bounds it for many-part-file directory inputs. Past the budget the
    walk stops (remaining files are left to Spark's scan — the X1
    PERMISSIVE path still surfaces them, just at action time)."""
    from insurance_claim_data_pipeline_spark.sources.claims import _probe_readable

    d = tmp_path / "many"
    d.mkdir()
    for i in range(5):
        (d / f"part-{i:04d}.csv").write_text("x\n")
    budget = [3]
    _probe_readable(str(d), _budget=budget)
    assert budget[0] == 0  # stopped at the cap: the dir + 2 files
    full = [1024]
    _probe_readable(str(d), _budget=full)
    assert full[0] == 1024 - 6  # in-budget walk: the dir + every file

    # Directories consume budget too — a deep/wide partition TREE with
    # no files at all must still stop at the cap, not walk unbounded.
    deep = tmp_path / "tree"
    deep.mkdir()
    for i in range(4):
        (deep / f"p={i}").mkdir()
    tree_budget = [3]
    _probe_readable(str(deep), _budget=tree_budget)
    assert tree_budget[0] == 0  # root + 2 subdirs, then stopped


def test_alpha_none_literal_and_empty_to_null(spark):
    rows = {r["claim_id"]: r for r in load_alpha(spark, ALPHA_PATH).collect()}
    assert rows["A126"]["denial_reason"] is None  # literal 'None' string (F4)
    assert rows["A125"]["patient_id"] is None  # empty CSV field (F1)
    assert rows["A123"]["status"] == "denied"
    assert rows["A123"]["submitted_at"] == datetime.date(2025, 7, 1)


def test_beta_nulls_and_iso_datetime_parse(spark):
    rows = {r["claim_id"]: r for r in load_beta(spark, BETA_PATH).collect()}
    assert rows["B989"]["denial_reason"] is None  # JSON null passthrough
    assert rows["B990"]["patient_id"] is None
    assert rows["B987"]["submitted_at"] == datetime.date(2025, 7, 3)  # T-format parse


def test_seven_day_boundary(spark):
    """Strict `>` at claim_pipeline.py:76: exactly 7 days old is NOT
    eligible (2025-07-23 vs TODAY=2025-07-30); 8 days old is."""
    df = spark.createDataFrame(
        [
            ("C1", "P1", "Missing modifier", "denied", "2025-07-23"),
            ("C2", "P2", "Missing modifier", "denied", "2025-07-22"),
            ("C3", "P3", "Missing modifier", "denied", None),
        ],
        "claim_id string, patient_id string, denial_reason string, status string, submitted_raw string",
    ).selectExpr("*", "cast(submitted_raw as date) as submitted_at")
    eligible = {r["claim_id"] for r in df.filter(C.is_eligible()).collect()}
    assert eligible == {"C2"}
    excl = {
        r["claim_id"]: r["excl"]
        for r in df.filter(~C.is_eligible()).select("claim_id", C.exclusion_reason().alias("excl")).collect()
    }
    assert excl == {"C1": "too_recent", "C3": "too_recent"}


def test_classifier_containment_and_order(spark):
    """E5 containment: 'incorrect procedure code' is retryable; E6 order:
    exact non-retryable wins before containment could apply."""
    df = spark.createDataFrame(
        [
            ("X1", "incorrect procedure code"),
            ("X2", "Authorization Expired"),
            ("X3", "FORM INCOMPLETE today"),
            ("X4", "something else"),
            ("X5", None),
        ],
        "claim_id string, denial_reason string",
    )
    got = {
        r["claim_id"]: r["cls"]
        for r in df.select("claim_id", C.classify_denial("denial_reason").alias("cls")).collect()
    }
    assert got == {
        "X1": "retryable",
        "X2": "non-retryable",
        "X3": "retryable",
        "X4": "ambiguous",
        "X5": "ambiguous",
    }


BAD_ALPHA = (
    "claim_id,patient_id,procedure_code,denial_reason,submitted_at,status\n"
    "A201,P1,99213,Missing modifier,2025-07-01,denied\n"
    '"A202,unterminated-quote,99,x\n'
    "A203,P3,99214,Incorrect NPI,2025-07-02,denied\n"
)


def test_corrupt_rows_counted_as_malformed(spark, tmp_path):
    """X1 (claim_pipeline.py:190-212): a malformed record is counted as
    malformed and skipped; the rest of the file still processes."""
    bad_csv = tmp_path / "emr_bad.csv"
    bad_csv.write_text(BAD_ALPHA)
    m = run_pipeline(spark, [str(bad_csv)], str(tmp_path)).metrics
    assert m["excluded_by_reason"]["malformed"] == 1
    assert m["total_processed"] == 3
    assert m["flagged_for_resubmission"] == 2


def test_extra_field_row_is_corrupt_for_every_consumer(spark, tmp_path):
    """A row with one field too many is corrupt. A column-pruned CSV
    scan tokenizes only the referenced columns and would not flag it, so
    an uncached consumer of load_claims must still see the full-width
    parse: neither the candidate frame nor the JSONL sink may emit it."""
    from insurance_claim_data_pipeline_spark.plans.claim_pipeline import (
        candidates_frame,
        write_candidates_jsonl,
    )

    bad_csv = tmp_path / "emr_extra.csv"
    bad_csv.write_text(BAD_ALPHA + "A204,P4,99215,Missing modifier,2025-07-03,denied,extra\n")
    claims = load_claims(spark, [str(bad_csv)]).claims
    assert sorted(r["claim_id"] for r in candidates_frame(claims).collect()) == ["A201", "A203"]

    out = tmp_path / "jsonl"
    write_candidates_jsonl(claims, str(out))
    written = [json.loads(line) for p in out.glob("part-*.json") for line in p.read_text().splitlines()]
    assert sorted(c["claim_id"] for c in written) == ["A201", "A203"]

    m = run_pipeline(spark, [str(bad_csv)], str(tmp_path)).metrics
    assert m["excluded_by_reason"]["malformed"] == 2
    assert m["flagged_for_resubmission"] == 2


def test_pipeline_runs_as_one_spark_job(spark, tmp_path):
    """Candidates and all nine metric counters come out of one job: the
    metrics are observed on the frame the candidate collect runs, with
    no cache, no range-partitioned sort and no second aggregate."""
    sc = spark.sparkContext
    group = "claims-one-job"
    sc.setJobGroup(group, "run_pipeline")
    try:
        res = run_pipeline(spark, [ALPHA_PATH, BETA_PATH], str(tmp_path))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert res.candidates == EXPECTED_BOTH
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1


def test_empty_plan_yields_zero_metrics(spark, tmp_path):
    """No readable input leaves an empty relation under the observed
    metrics: run_pipeline must still return zero counts and no
    candidates, for an empty input list and for only unsupported
    files."""
    txt = tmp_path / "notes.txt"
    txt.write_text("hello")
    for inputs in ([], [str(txt)]):
        res = run_pipeline(spark, inputs, str(tmp_path))
        assert res.candidates == []
        m = res.metrics
        assert m["total_processed"] == 0
        assert m["by_source"] == {"alpha": 0, "beta": 0}
        assert m["flagged_for_resubmission"] == 0
        assert set(m["excluded_by_reason"].values()) == {0}


def test_cli_subprocess(tmp_path):
    """C1: the module CLI runs end-to-end in a fresh process and writes
    both sinks; no-args exits non-zero with usage (claim_pipeline.py:
    236-239)."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=repo, SPARK_GRAFT_CPUS="4")
    r = subprocess.run(
        [sys.executable, "-m", "insurance_claim_data_pipeline_spark",
         ALPHA_PATH, BETA_PATH, "-o", str(tmp_path)],
        capture_output=True, text=True, env=env, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    cand = json.load(open(tmp_path / "resubmission_candidates.json"))
    assert [c["claim_id"] for c in cand] == ["A123", "A124", "A127", "B988"]
    assert (tmp_path / "pipeline_metrics.log").exists()

    r2 = subprocess.run(
        [sys.executable, "-m", "insurance_claim_data_pipeline_spark"],
        capture_output=True, text=True, env=env, timeout=120,
    )
    assert r2.returncode != 0


def test_o1_order_survives_multisplit_csv(spark, tmp_path):
    """A CSV large enough to be read as several file splits must still
    emit candidates in exact file-row order: the (_file_idx,
    _block_start, _row_idx) sort key — not mid() alone — carries the
    contract once a file spans tasks."""
    n = 5000
    path = str(tmp_path / "big_alpha.csv")
    with open(path, "w", encoding="utf-8") as f:
        f.write("claim_id,patient_id,procedure_code,denial_reason,submitted_at,status\n")
        for i in range(n):
            # every row eligible: denied, patient present, old date, retryable reason
            f.write(f"C{i:06d},P{i:06d},99213,Missing modifier,2025-01-01,denied\n")

    old_mpb = spark.conf.get("spark.sql.files.maxPartitionBytes")
    old_cost = spark.conf.get("spark.sql.files.openCostInBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "16384")  # 16 KiB splits
        spark.conf.set("spark.sql.files.openCostInBytes", "0")
        claims = load_claims(spark, [path]).claims
        assert claims.rdd.getNumPartitions() > 1, "file did not split; test vacuous"
        res = run_pipeline(spark, [path], str(tmp_path))
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old_mpb)
        spark.conf.set("spark.sql.files.openCostInBytes", old_cost)
    got = [c["claim_id"] for c in res.candidates]
    assert got == [f"C{i:06d}" for i in range(n)]


def test_cli_list_queries_and_unknown_query(capsys):
    """The query CLI surfaces the whole registry without touching Spark
    (list mode) and fails cleanly on unknown names; the legacy
    file-args mode is untouched (covered by the golden CLI test)."""
    from insurance_claim_data_pipeline_spark.__main__ import main

    assert main(["list-queries", "--tag", "bench"]) == 0
    out = capsys.readouterr().out
    assert "q1_pricing_summary" in out and "[oracle]" in out
    assert main(["query", "no_such_query"]) == 2


def test_claims_dq_report_finds_fixture_violations(spark):
    """The DQ suite over the reference fixtures: exactly the two
    null-patient claims violate, keys are complete and unique, nothing
    is post-TODAY — and every check reports against the full 9-row
    stream."""
    from insurance_claim_data_pipeline_spark.plans.claim_queries import (
        claims_dq_report,
    )

    rows = {r["check_name"]: r for r in claims_dq_report(spark, "").collect()}
    assert len(rows) == 6
    assert all(r["n_rows"] == 9 for r in rows.values())
    assert rows["patient_id_not_null"]["n_violations"] == 2
    for name in ("claim_id_not_null", "claim_id_unique", "status_in_domain",
                 "submitted_not_future"):
        assert rows[name]["n_violations"] == 0, name


def test_pseudonymize_consistent_and_non_reversible_shape(spark):
    """Same patient -> same token (join keys survive); distinct
    patients -> distinct tokens (cardinality preserved); no raw
    patient_id appears anywhere in the export."""
    from insurance_claim_data_pipeline_spark.plans.claim_queries import (
        claims_normalized,
        claims_pseudonymize,
    )

    norm = claims_normalized(spark, "")
    out = claims_pseudonymize(spark, "")
    pairs = (
        norm.select("claim_id", "patient_id")
        .join(out.select("claim_id", "patient_token"), "claim_id")
        .collect()
    )
    tok_by_patient = {}
    for r in pairs:
        if r["patient_id"] is None:
            assert r["patient_token"] is None
            continue
        tok_by_patient.setdefault(r["patient_id"], set()).add(r["patient_token"])
    # consistency: one token per patient
    assert all(len(v) == 1 for v in tok_by_patient.values())
    # cardinality: distinct patients keep distinct tokens
    toks = [next(iter(v)) for v in tok_by_patient.values()]
    assert len(set(toks)) == len(toks)
    # format + no raw leakage
    raw_ids = set(tok_by_patient)
    for t in toks:
        assert t.startswith("P-") and len(t) == 14
        assert t not in raw_ids
