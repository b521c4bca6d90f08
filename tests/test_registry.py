"""Registry order and tally contract.

``queries()`` lists the claims queries first, then the rest in
registration order (module by module, as ``registry._QUERY_MODULES``
lists them), however the modules were first imported. The documented
registry tallies must match the live registry.
"""

import __spark_entry__
from insurance_claim_data_pipeline_spark import registry

# The batch claims queries in their claim_queries.py order.
CLAIMS_BATCH = [
    "claims_normalized",
    "claims_candidates",
    "claims_exclusion_counts",
    "claims_by_source",
    "claims_classify_denial",
    "claims_dq_report",
    "claims_pseudonymize",
]


def test_queries_list_claims_first_then_registration_order(monkeypatch):
    names = list(__spark_entry__.queries())
    assert names[: len(CLAIMS_BATCH)] == CLAIMS_BATCH
    assert names == list(registry.all_specs())
    # A process that imports an operator module before the registry
    # loads (the driver's entry() imports relational) registers that
    # module's queries first; the order must not follow.
    relational = "insurance_claim_data_pipeline_spark.operators.relational"
    early = sorted(registry._REGISTRY.items(), key=lambda kv: kv[1].fn.__module__ != relational)
    monkeypatch.setattr(registry, "_REGISTRY", dict(early))
    assert list(__spark_entry__.queries()) == names


def test_emission_covers_every_registered_query_exactly_once():
    specs = registry.all_specs()
    names = list(specs)
    assert len(names) == len(set(names))
    assert set(names) == set(registry.queries())
    # oracle_sql is a subset with the same relative order
    osql = list(registry.oracle_sql())
    assert [n for n in names if n in set(osql)] == osql


def test_doc_tallies_current():
    # ADVICE r04 / VERDICT r04 item 4: documented registry tallies were
    # hand-counted and drifted twice in one round. The canonical tally
    # lines in README.md / COVERAGE.md carry a marker and are rewritten
    # by scripts/refresh_tallies.py; this test fails the moment a
    # registration lands without re-running the script.
    import os
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(repo, "scripts"))
    import refresh_tallies

    total, oracled, rows_only = refresh_tallies.tally()
    expected = refresh_tallies.tally_line(total, oracled, rows_only)
    never_checked, rounds = refresh_tallies.backlog()
    expected_backlog = refresh_tallies.backlog_line(never_checked, rounds)
    for doc in ("README.md", "COVERAGE.md"):
        with open(os.path.join(repo, doc)) as f:
            text = f.read().splitlines()
        lines = [ln for ln in text if refresh_tallies.MARKER in ln]
        assert lines, f"{doc} lost its registry-tally marker line"
        for ln in lines:
            assert ln == expected, (
                f"{doc} tally is stale: run scripts/refresh_tallies.py "
                f"(doc: {ln!r}, live: {expected!r})"
            )
        # VERDICT r05 item 5: the backlog figure is generated too (the
        # marker is required in COVERAGE.md; optional elsewhere).
        backlog_lines = [ln for ln in text if refresh_tallies.BACKLOG_MARKER in ln]
        if doc == "COVERAGE.md":
            assert backlog_lines, "COVERAGE.md lost its backlog-tally marker line"
        for ln in backlog_lines:
            assert ln == expected_backlog, (
                f"{doc} backlog figure is stale: run scripts/refresh_tallies.py "
                f"(doc: {ln!r}, live: {expected_backlog!r})"
            )
