"""Output record of the dedup workload: row count and an order-insensitive
hash, computed the way the parity suite compares results
(``tests/oracle_utils.canon_table``).

Run as a script, the module regenerates the committed record
``perfbench/records/dedup_semantic_components_lsh.json`` from the query's
DuckDB oracle. It computes the record for each embedding set the workload
reads and stops if they differ, since the benchmark checks every set against
the one record. Rerun it after changing the embeddings generator::

    python3 perfbench/oracle.py
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RECORDS = os.path.join(HERE, "records")


def record(pdf) -> dict:
    """Row count plus a hash of the sorted canonical rows, column names and
    column kinds of one result frame."""
    from tests.oracle_utils import canon_table

    cols, kinds, rows = canon_table(pdf)
    blob = json.dumps([cols, [kinds[c] for c in cols], rows], ensure_ascii=False)
    return {"rows": len(rows), "hash": hashlib.sha256(blob.encode()).hexdigest()}


def oracle_record(name: str, embeddings: str) -> dict:
    import duckdb

    from insurance_claim_data_pipeline_spark import registry

    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{embeddings}')")
        return record(con.execute(registry.all_specs()[name].oracle).df())
    finally:
        con.close()


def main() -> int:
    from embeddings_gen import write_embeddings
    from workloads import DEDUP_QUERY, EMBEDDING_SETS, EMBEDDINGS

    records = {}
    for seed in range(EMBEDDING_SETS):
        tables = write_embeddings(os.path.join(HERE, ".work", f"embeddings-{seed}"), seed, EMBEDDINGS)
        records[seed] = oracle_record(DEDUP_QUERY, os.path.join(tables, "embeddings.parquet"))
    if len({json.dumps(r) for r in records.values()}) != 1:
        print(f"the embedding sets disagree: {records}", file=sys.stderr)
        return 1
    os.makedirs(RECORDS, exist_ok=True)
    with open(os.path.join(RECORDS, f"{DEDUP_QUERY}.json"), "w", encoding="utf-8") as f:
        json.dump(records[0], f, indent=1)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.path[:0] = [HERE, ROOT]
    sys.exit(main())
