"""Text-analysis column expressions over the ``documents`` table —
tokenization and shingling.

Everything here is built-in-function composition (split / transform /
sequence): JVM-side, codegen'd, and bit-identical to the DuckDB oracle
mirrors.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SHINGLE_N = 5  # tokens per shingle for near-dup detection


def tokens(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.split(c, " ")


def shingles(toks: Column, n: int = SHINGLE_N) -> Column:
    """Distinct n-token shingles ('w1 w2 .. wn' strings). Empty array for
    docs shorter than n tokens."""
    k = F.size(toks) - (n - 1)
    built = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), k),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        )
    )
    return F.when(k >= 1, built).otherwise(F.array().cast("array<string>"))


def shingle_rows(doc: DataFrame, n: int = SHINGLE_N, distinct: bool = True) -> DataFrame:
    """``(doc_id, shingle)`` rows — n-token shingles per doc, distinct
    per doc by default.

    Same set as ``explode(shingles(tokens(text)))`` but ~10× faster:
    explode a position sequence first, then assemble each shingle with
    flat element_at/concat_ws expressions that stay in whole-stage
    codegen. The transform(sequence, lambda) formulation evaluates the
    lambda interpreted per element — measured 1.2s vs 0.12s at sf0.1.
    The when() guard matters: Spark's sequence(1, 0) counts DOWN, so
    docs shorter than n tokens must yield no positions, not [1, 0].
    distinct() restores the set semantics array_distinct provided — but
    it costs a (doc_id, shingle) shuffle; pass ``distinct=False`` when a
    downstream aggregate dedupes anyway (e.g. countDistinct), keeping
    the shingle stream narrow all the way into a broadcast join.
    """
    toks = F.split("text", " ")
    k = F.size("toks") - (n - 1)
    pos = doc.select("doc_id", toks.alias("toks")).select(
        "doc_id",
        "toks",
        F.explode(F.when(k >= 1, F.sequence(F.lit(1), k))).alias("i"),
    )
    shingle = F.concat_ws(
        " ", *[F.element_at("toks", F.col("i") + j) for j in range(n)]
    )
    out = pos.select("doc_id", shingle.alias("shingle"))
    return out.distinct() if distinct else out


def shingles_sql(toks: str, n: int = SHINGLE_N) -> str:
    """DuckDB mirror of :func:`shingles`."""
    return (
        f"CASE WHEN len({toks}) >= {n} THEN "
        f"list_distinct([array_to_string({toks}[i:i+{n - 1}], ' ') "
        f"FOR i IN generate_series(1, len({toks}) - {n - 1})]) "
        f"ELSE [] END"
    )
