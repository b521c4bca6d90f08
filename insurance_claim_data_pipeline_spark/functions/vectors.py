"""Vector math over ``array<float>`` embedding columns — pure
higher-order-function expressions (F.zip_with / F.aggregate), JVM-side,
no UDFs.

Cross-engine determinism: elements are cast to double FIRST, then
multiplied pairwise and summed with a sequential left fold in array
order. IEEE double ops are exact given identical inputs and order, so
Spark's ``aggregate`` and DuckDB's ``list_reduce`` produce bit-identical
dot products — which is what lets cosine similarity be oracle-checked
at full precision (outputs still rounded to 6 dp for belt-and-braces).

Every cosine in the engine is two steps: :func:`live` folds each
vector's norm once where the vectors enter and drops the zero and NULL
ones (their cosine is undefined, and under ANSI the division throws
DIVIDE_BY_ZERO), then :func:`pair_cos` divides each pair's dot by the
two precomputed norms. There is no unguarded one-shot cosine.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def as_double(arr: Column | str) -> Column:
    a = F.col(arr) if isinstance(arr, str) else arr
    return F.transform(a, lambda x: x.cast("double"))


def _fold_dot(a: Column, b: Column, prod) -> Column:
    # The one fold body both dot variants share (ADVICE r06): zip,
    # per-pair product, sequential left fold from double 0.0. Keeping a
    # single source of truth means any change to the accumulate order
    # moves BOTH variants together — the bit-identity property
    # (tests/test_properties.py::test_dot_float_bit_identical_to_dot_as_double)
    # guards the contract, this guards the drift.
    return F.aggregate(F.zip_with(a, b, prod), F.lit(0.0), lambda acc, x: acc + x)


def dot(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product (order-deterministic)."""
    return _fold_dot(a, b, lambda x, y: x * y)


def dot_float(a: Column, b: Column) -> Column:
    """Dot product over RAW ``array<float>`` columns, casting each
    element to double inside the fold. Bit-identical to
    ``dot(as_double(a), as_double(b))`` — float→double is exact and the
    multiply/accumulate order is unchanged — but the operands stay
    4-byte floats until the fold touches them. :func:`pair_cos` says
    when to use it."""
    return _fold_dot(a, b, lambda x, y: x.cast("double") * y.cast("double"))


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def live(df: DataFrame, v: Column | str = "v") -> DataFrame:
    """``df`` plus ``nrm`` = ‖v‖ (one :func:`norm` fold per row),
    keeping only the rows with ``nrm != 0``. A zero or NULL vector has
    no cosine, so it sits out as a query and as a neighbour; ``NULL !=
    0`` is NULL, so NULL vectors drop too. Apply it where the vectors
    enter a cosine path, before any split into queries and corpus."""
    v = F.col(v) if isinstance(v, str) else v
    return df.withColumn("nrm", norm(v)).filter(F.col("nrm") != 0)


def pair_cos(a: str, b: str, a_nrm: str, b_nrm: str, fold=dot) -> Column:
    """Rounded cosine ``round(fold(a, b) / (a_nrm · b_nrm), 6)`` of two
    vector columns whose norms :func:`live` folded once per vector, so
    the pair stage folds only the dot — 1/3 of the per-pair fold work,
    bit-identical to folding all three per pair.

    ``fold`` is :func:`dot` or :func:`dot_float` (A/B-measured at
    sf0.1, semantic-LSH refine):

    - PAIR EQUI-JOINS (candidate ids join vectors from both sides, the
      joined rows materialize between operators): ``dot_float`` over the
      raw float arrays — the pair frame carries half the bytes, and the
      per-element cast runs once per pair either way since nothing
      upstream could share it. Refine stage 16.4 → 13.1 s (−20%) on the
      same loaded machine.
    - BROADCAST Q×N SCANS / nested-loop pair scans (one corpus row
      feeds MANY pairs): ``as_double`` once per row + ``dot`` — there
      the pre-cast is amortized across Q folds, and re-casting per pair
      would ADD work instead of removing bytes. Measured on the
      brute-force cosine BNLJ at sf0.1: double 24.0 s vs float 27.9 s
      (−14% from switching BACK to as_double) — nothing materializes
      between nested-loop probes, so the cast is pure added per-pair
      CPU there."""
    return F.round(fold(F.col(a), F.col(b)) / (F.col(a_nrm) * F.col(b_nrm)), 6)


# Rejected alternative (measured r5, kept as a note so it isn't re-tried):
# unrolling the fold into a fixed 64-term expression tree
# (lit(0.0) + a[1]*b[1] + ... + a[64]*b[64], bit-identical op order) to
# move the dot from the higher-order-function evaluator into whole-stage
# codegen made every pair-scan SLOWER, not faster — A/B on the 40-query
# × 40k-vector broadcast join at sf0.1: fold 0.61 s vs unrolled 1.63 s
# (no-cast variant on materialized double arrays; the cast-per-element
# variant on raw float arrays was equally slow), and the full
# brute-force pair scan regressed 24.5 s → 79.6 s. Spark 4's
# ArrayAggregate over primitive arrays is a tight specialized loop,
# while 64 chained element_at calls pay per-call bounds checks and the
# deep Add tree defeats JIT inlining. The PQ min(struct) rewrite's
# "HOFs are interpreted" lesson does NOT generalize to primitive-array
# folds.


def md5_plane(prefix: str) -> list[float]:
    """The 64 weights of the deterministic random hyperplane keyed
    ``prefix``: weight d is ``md5("{prefix}_{d}")``'s first 15 hex
    digits mod 2001, shifted and scaled into [-1, 1] in steps of 0.001.
    Reproducible across runs and engines, no RNG state to ship. Every
    LSH plane bank draws from it, Spark frame and oracle literal alike
    (``repr`` of these floats is an exact SQL double round-trip)."""
    return [
        (int(hashlib.md5(f"{prefix}_{d}".encode()).hexdigest()[:15], 16) % 2001 - 1000)
        / 1000.0
        for d in range(64)
    ]


# --- DuckDB mirrors (same fold order) --------------------------------------


def dot_sql(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(list_zip({a}, {b}), "
        f"t -> CAST(t[1] AS DOUBLE) * CAST(t[2] AS DOUBLE)), (x, y) -> x + y)"
    )


def norm_sql(a: str) -> str:
    return f"SQRT({dot_sql(a, a)})"


def cosine_sql(a: str, b: str) -> str:
    return f"({dot_sql(a, b)} / ({norm_sql(a)} * {norm_sql(b)}))"
