"""Tests of the benchmark itself: deterministic inputs, the claims ground
truth check, and failure accounting.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import run  # noqa: E402
from claims_gen import check_sinks, generate_claims  # noqa: E402
from embeddings_gen import make_embeddings  # noqa: E402


def _files(corpus) -> dict[str, bytes | str]:
    out = {}
    for path in corpus.files:
        name = os.path.basename(path)
        if os.path.islink(path):
            out[name] = os.readlink(path)
        else:
            with open(path, "rb") as f:
                out[name] = f.read()
    return out


def test_same_seed_same_claims_files_and_ground_truth(tmp_path):
    a = generate_claims(str(tmp_path / "a"), seed=7, rows=3000, alpha_files=2, beta_files=3)
    b = generate_claims(str(tmp_path / "b"), seed=7, rows=3000, alpha_files=2, beta_files=3)
    c = generate_claims(str(tmp_path / "c"), seed=8, rows=3000, alpha_files=2, beta_files=3)
    assert _files(a) == _files(b)
    assert a.ground_truth() == b.ground_truth()
    assert _files(a) != _files(c)
    assert len(a.files) == 6  # five inputs and the broken symlink
    m = a.metrics
    assert m["total_processed"] == 3000 == sum(m["by_source"].values())
    assert m["flagged_for_resubmission"] == len(a.candidates)
    assert m["flagged_for_resubmission"] + sum(m["excluded_by_reason"].values()) == 3000 + 1
    assert 0.18 < len(a.candidates) / 3000 < 0.26


def test_same_seed_same_embeddings():
    assert make_embeddings(3, 120).equals(make_embeddings(3, 120))
    assert not make_embeddings(3, 120).equals(make_embeddings(4, 120))


def test_planted_neardup_graph_is_seed_independent():
    import numpy as np

    edges = []
    for seed in (1, 2):
        e = np.array(make_embeddings(seed, 200)["embedding"].to_pylist(), dtype=np.float64)
        sim = e @ e.T
        np.fill_diagonal(sim, 0)
        edges.append(sim >= 0.4)
        assert sim[sim < 0.4].max() < 0.39
    assert (edges[0] == edges[1]).all()


@pytest.fixture(scope="module")
def spark():
    from insurance_claim_data_pipeline_spark.session import get_spark

    session = get_spark("perfbench-tests")
    yield session
    session.stop()


def test_ground_truth_check_passes_then_catches_perturbed_candidates(spark, tmp_path):
    from insurance_claim_data_pipeline_spark.plans.claim_pipeline import run_pipeline

    corpus = generate_claims(str(tmp_path / "in"), seed=5, rows=2000, alpha_files=2, beta_files=2)
    result = run_pipeline(spark, corpus.files, str(tmp_path))
    assert check_sinks(corpus, result) == []

    with open(result.output_path, encoding="utf-8") as f:
        written = json.load(f)
    written[3]["claim_id"], written[4]["claim_id"] = written[4]["claim_id"], written[3]["claim_id"]
    with open(result.output_path, "w", encoding="utf-8") as f:
        json.dump(written, f, indent=2)
    problems = check_sinks(corpus, result)
    assert len(problems) == 1 and "candidates sink" in problems[0]


class _Context:
    def setJobGroup(self, group, description):
        pass


class _Session:
    sparkContext = _Context()


class _Workload:
    name = "stub"

    def __init__(self, outcomes):
        self.outcomes = list(outcomes)

    def execute(self, spark, tracer=None, collect=False):
        outcome = self.outcomes.pop(0)
        if outcome == "raise":
            raise RuntimeError("pass failed")
        return outcome

    def check(self, result):
        return [] if result == "ok" else ["wrong output"]


def test_failing_passes_count_toward_fail_ratio():
    r = run.Run(_Workload(["ok", "raise", "wrong", "ok"]))
    walls = [r.one_pass(_Session(), i) for i in range(4)]
    assert r.attempted == 4 and r.failed == 2
    assert walls[1] is None
    assert all(w is not None for w in (walls[0], walls[2], walls[3]))
