"""The benchmark's two workloads.

Each workload generates its inputs from the seed before Spark starts
(:meth:`prepare`), runs one pass (:meth:`execute`, the timed part) and checks
a pass's output (:meth:`check`, untimed). The cold pass runs with
``collect=True``: the dedup workload then collects its output instead of
saving it to the noop sink, and its check compares that output with the
DuckDB oracle record committed under ``records/``, once per run.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from claims_gen import ClaimsCorpus, check_sinks, generate_claims
from embeddings_gen import write_embeddings
from oracle import RECORDS, record

# Claims corpus: 6 files plus one broken symlink. Per-file router cost
# dominates a pass, so the file count sets the pass length far more than the
# row count does (measured on 4 cores: 0.25-0.5 s per file).
CLAIMS_ROWS = 12_000
CLAIMS_FILES_PER_SOURCE = 3

EMBEDDINGS = 150  # the flagship's DuckDB oracle is quadratic in this
# dedup_loop reads embedding set ``seed % EMBEDDING_SETS``. The LSH can miss a
# planted pair for some generator seeds, which changes the output; oracle.py
# checks that every set used here gives the one committed record.
EMBEDDING_SETS = 8
DEDUP_QUERY = "dedup_semantic_components_lsh"


@dataclass
class Workload:
    name: str
    work: str
    seed: int
    min_passes: int
    input_rows: int = 0

    def prepare(self) -> None:
        raise NotImplementedError

    def execute(self, spark, tracer=None, collect=False):
        raise NotImplementedError

    def check(self, result) -> list[str]:
        return []


class ClaimsEtl(Workload):
    corpus: ClaimsCorpus

    def prepare(self) -> None:
        base = os.path.join(self.work, f"claims-{self.seed}")
        self.out_dir = os.path.join(base, "out")
        os.makedirs(self.out_dir, exist_ok=True)
        self.corpus = generate_claims(
            os.path.join(base, "in"), self.seed, CLAIMS_ROWS, CLAIMS_FILES_PER_SOURCE, CLAIMS_FILES_PER_SOURCE
        )
        self.input_rows = self.corpus.rows

    def execute(self, spark, tracer=None, collect=False):
        from insurance_claim_data_pipeline_spark.plans.claim_pipeline import run_pipeline

        if tracer is None:
            return run_pipeline(spark, self.corpus.files, self.out_dir)
        return tracer.span("plans.run_pipeline", run_pipeline, spark, self.corpus.files, self.out_dir)

    def check(self, result) -> list[str]:
        return check_sinks(self.corpus, result)


class DedupLoop(Workload):
    """The semantic-dedup flagship over the generated embeddings: ``fn()``
    plus a noop save, checked once per run against the committed DuckDB
    oracle record, which holds for every embedding set."""

    def prepare(self) -> None:
        embedding_set = self.seed % EMBEDDING_SETS
        self.tables = write_embeddings(
            os.path.join(self.work, f"embeddings-{embedding_set}"), embedding_set, EMBEDDINGS
        )
        self.input_rows = EMBEDDINGS
        with open(os.path.join(RECORDS, f"{DEDUP_QUERY}.json"), encoding="utf-8") as f:
            self.record = json.load(f)

    def execute(self, spark, tracer=None, collect=False):
        from insurance_claim_data_pipeline_spark import registry

        fn = registry.all_specs()[DEDUP_QUERY].fn
        if collect:
            return fn(spark, self.tables).toPandas()
        if tracer is None:
            fn(spark, self.tables).write.mode("overwrite").format("noop").save()
        else:
            tracer.span(f"query.{DEDUP_QUERY}", self._traced_query, tracer, fn, spark)
        return None

    def _traced_query(self, tracer, fn, spark) -> None:
        df = tracer.span(f"operators.fn.{DEDUP_QUERY}", fn, spark, self.tables)
        df.write.mode("overwrite").format("noop").save()

    def check(self, result) -> list[str]:
        if result is None:
            return []
        got = record(result)
        return [] if got == self.record else [f"{DEDUP_QUERY}: spark {got} != oracle {self.record}"]


# name: (class, fewest timed passes). A run times at least this many passes
# however slow the machine is, so that its median is not one stray pass.
WORKLOADS = {
    "claims_etl": (ClaimsEtl, 5),
    "dedup_loop": (DedupLoop, 3),
}


def make(name: str, work: str, seed: int) -> Workload:
    cls, min_passes = WORKLOADS[name]
    return cls(name=name, work=work, seed=seed, min_passes=min_passes)
