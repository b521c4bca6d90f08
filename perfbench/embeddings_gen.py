"""Seeded ``embeddings`` table for the ``dedup_loop`` workload.

Writes ``embeddings.parquet`` with the schema of the operator catalog's
reference test corpus (FIXTURES.md, part B): ``vec_id``, a unit-norm 64-d
``embedding`` and a ``label``. The same seed gives the same table.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EMBED_DIM = 64
# Near-duplicate structure of the embeddings (see _embeddings); the catalog's
# near-duplicate threshold is cosine 0.4.
NEARDUP_CHAINS = 6
NEARDUP_CHAIN_LEN = 6
NEARDUP_COSINE = 0.6
FAR_COSINE = 0.38


def _unit(v: np.ndarray) -> np.ndarray:
    return v / np.linalg.norm(v, axis=-1, keepdims=True)


def _embeddings(rng: np.random.Generator, n: int) -> np.ndarray:
    """``n`` unit vectors whose near-duplicate graph (cosine ≥ 0.4) is the
    same for every seed: ``NEARDUP_CHAINS`` paths of ``NEARDUP_CHAIN_LEN``
    vectors, neighbours at cosine exactly ``NEARDUP_COSINE``, and every other
    pair below ``FAR_COSINE``. The banded LSH of the catalog finds a pair at
    cosine 0.6 with probability 0.999, so for most seeds the dedup loop sees
    the same graph and runs the same number of rounds (``workloads`` uses
    only seeds for which it does)."""
    planted = min(n, NEARDUP_CHAINS * NEARDUP_CHAIN_LEN)
    out = np.empty((n, EMBED_DIM))
    for i in range(n):
        while True:
            v = _unit(rng.standard_normal(EMBED_DIM))
            if i < planted and i % NEARDUP_CHAIN_LEN:
                prev = out[i - 1]
                ortho = _unit(v - (v @ prev) * prev)
                v = NEARDUP_COSINE * prev + np.sqrt(1 - NEARDUP_COSINE**2) * ortho
                others = out[: i - 1]
            else:
                others = out[:i]
            if not len(others) or np.max(others @ v) < FAR_COSINE:
                break
        out[i] = v
    # A fixed id layout: the loop's round count depends on how ids are
    # spread along each chain, so only the vectors vary with the seed.
    return out[np.random.default_rng(0).permutation(n)].astype(np.float32)


def make_embeddings(seed: int, rows: int) -> pa.Table:
    rng = np.random.default_rng(seed)
    vectors = _embeddings(rng, rows)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(rows), pa.int64()),
            "embedding": pa.array(list(vectors), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, rows), pa.int32()),
        }
    )


def write_embeddings(out_dir: str, seed: int, rows: int) -> str:
    """Write ``<out_dir>/embeddings.parquet``; returns ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(make_embeddings(seed, rows), os.path.join(out_dir, "embeddings.parquet"))
    return out_dir
