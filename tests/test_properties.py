"""Property-based parity (hypothesis): the cleaning Column expressions
must match pure-Python models of the reference's scalar functions
(claim_pipeline.py:48-76) on arbitrary ASCII inputs — not just the
fixture values. Each example batch becomes one small Spark job.

Scope note: the reference's str.strip() also strips unicode whitespace;
the engine (and these models) pin ASCII whitespace — generating ASCII
keeps the property honest about what is actually promised. Case
mapping alone is also pinned on a fixed non-ASCII list.
"""

from __future__ import annotations

import datetime

from hypothesis import given, settings, strategies as st

from pyspark.sql import functions as F

from insurance_claim_data_pipeline_spark.functions.cleaning import (
    lower_norm,
    none_to_null,
    parse_claim_date,
    trim_null,
)

ASCII_WS = " \t\n\x0b\f\r"
ascii_text = st.text(
    alphabet=st.characters(min_codepoint=0x20, max_codepoint=0x7E) | st.sampled_from(ASCII_WS),
    max_size=12,
)
maybe_text = st.none() | ascii_text
# 'none' literals in assorted casings/padding must be generated often,
# not hoped for
none_ish = st.sampled_from(["none", "None", "NONE", " none ", "\tNoNe\n", "", "  "])
f1_inputs = st.lists(maybe_text | none_ish, min_size=1, max_size=30)


def model_strip(s):
    if s is None:
        return None
    return s.strip(ASCII_WS) or None


def model_lower(s):
    t = model_strip(s)
    return t.lower() if t is not None else None


def model_none_to_null(s):
    t = model_strip(s)
    return None if (t is not None and t.lower() == "none") else t


def model_parse_date(s):
    if s is None:
        return None
    for fmt in ("%Y-%m-%d", "%Y-%m-%dT%H:%M:%S"):
        try:
            return datetime.datetime.strptime(s, fmt).date()
        except ValueError:
            pass
    return None


def _run(spark, values, expr):
    df = spark.createDataFrame([(v,) for v in values], "s string")
    return [r[0] for r in df.select(expr(F.col("s")).alias("out")).collect()]


@settings(max_examples=12, deadline=None)
@given(values=f1_inputs)
def test_trim_null_matches_python_strip(spark, values):
    assert _run(spark, values, trim_null) == [model_strip(v) for v in values]


@settings(max_examples=12, deadline=None)
@given(values=f1_inputs)
def test_lower_norm_matches_model(spark, values):
    assert _run(spark, values, lower_norm) == [model_lower(v) for v in values]


# Non-ASCII case mapping: final sigma, German sharp s, dotted capital I,
# titlecase digraphs, ligatures, a supplementary-plane letter and the
# Angstrom/Kelvin/Ohm signs. Outside ASCII, Spark's lower/upper without
# ICU use the JVM's String case mapping, which must match Python's for
# every case pair both Unicode versions know (the JDK's, 13 in JDK 17,
# is older than Python's).
NON_ASCII = [
    "ΟΔΟΣ", "ΑΣ ΑΣΑ Σ", "Straße", "ẞ", "İstanbul", "DİYARBAKIR",
    "ǅ ǈ ǋ", "ﬁ ﬀ", "ŉ", "𐐀𐐨", "Å K Ω",
]


def test_non_ascii_case_mapping_matches_python(spark):
    assert _run(spark, NON_ASCII, F.lower) == [s.lower() for s in NON_ASCII]
    assert _run(spark, NON_ASCII, F.upper) == [s.upper() for s in NON_ASCII]
    assert _run(spark, NON_ASCII, lower_norm) == [model_lower(s) for s in NON_ASCII]
    assert [model_lower(s) for s in NON_ASCII] == [s.lower() for s in NON_ASCII]


@settings(max_examples=12, deadline=None)
@given(values=f1_inputs)
def test_none_to_null_matches_model(spark, values):
    assert _run(spark, values, none_to_null) == [model_none_to_null(v) for v in values]


# Date strings: structured (valid and invalid component ranges, padded
# and unpadded — strptime's %m accepts '1' AND '01') plus raw garbage.
date_like = st.builds(
    lambda y, m, d, t: f"{y}-{m}-{d}" + (t or ""),
    y=st.integers(1, 9999).map(str),
    m=st.integers(0, 19).map(str) | st.integers(1, 12).map(lambda v: f"{v:02d}"),
    d=st.integers(0, 39).map(str) | st.integers(1, 31).map(lambda v: f"{v:02d}"),
    t=st.none()
    | st.builds(
        lambda h, mi, s: f"T{h}:{mi}:{s}",
        h=st.integers(0, 23).map(str),
        mi=st.integers(0, 59).map(str),
        s=st.integers(0, 59).map(str),
    ),
)
date_inputs = st.lists(date_like | ascii_text | st.none(), min_size=1, max_size=30)


@settings(max_examples=12, deadline=None)
@given(values=date_inputs)
def test_parse_claim_date_matches_strptime(spark, values):
    assert _run(spark, values, parse_claim_date) == [model_parse_date(v) for v in values]


# ---------------------------------------------------------------------------
# Chunking properties (text_chunk_overlap): the sliding-window rules must
# hold for arbitrary word counts, not just the fixture corpus.
# ---------------------------------------------------------------------------


@given(st.lists(st.integers(min_value=0, max_value=200), min_size=1, max_size=8))
@settings(max_examples=10, deadline=None)
def test_chunk_overlap_properties(spark, n_words_list):
    """For documents of arbitrary word counts: chunk count is
    ceil(max(n-SIZE,0)/STRIDE)+1, every chunk is the exact word slice
    [k*STRIDE+1, k*STRIDE+SIZE], and the last chunk reaches the final
    word (full coverage, no runaway offsets)."""
    import hashlib
    import math

    from insurance_claim_data_pipeline_spark.operators.textops import (
        CHUNK_SIZE,
        CHUNK_STRIDE,
        text_chunk_overlap,
    )

    docs = []
    for i, n in enumerate(n_words_list):
        words = [f"w{i}_{j}" for j in range(n)] or [""]
        docs.append((i, " ".join(words)))
    # text_chunk_overlap reads documents.parquet from sf_dir; write one
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(docs, "doc_id long, text string").write.parquet(
            f"{d}/documents.parquet"
        )
        got = {}
        for r in text_chunk_overlap(spark, d).collect():
            got[(r["doc_id"], r["chunk_idx"])] = (r["n_words"], r["chunk_hash"])

    for i, n in enumerate(n_words_list):
        words = ([f"w{i}_{j}" for j in range(n)] or [""])
        # split(' ') tokenization: n=0 text "" becomes [''], 1 token
        toks = " ".join(words).split(" ")
        eff_n = len(toks)
        k_max = math.ceil(max(eff_n - CHUNK_SIZE, 0) / CHUNK_STRIDE)
        idxs = sorted(k for (d_id, k) in got if d_id == i)
        assert idxs == list(range(k_max + 1))
        for k in idxs:
            chunk = toks[k * CHUNK_STRIDE : k * CHUNK_STRIDE + CHUNK_SIZE]
            n_c, h = got[(i, k)]
            assert n_c == len(chunk)
            assert h == hashlib.md5(" ".join(chunk).encode()).hexdigest()
        # coverage: the last chunk must reach the final word
        assert k_max * CHUNK_STRIDE + CHUNK_SIZE >= eff_n


@given(
    st.integers(min_value=1, max_value=400),
    st.integers(min_value=1, max_value=9),
)
@settings(max_examples=60, deadline=None)
def test_ntile_closed_form_matches_sql_semantics(n, k):
    """_ntile_from_rank (the closed-form tile used by the distributed
    RFM twin) must reproduce ntile(k) semantics exactly for any (n, k):
    the first n%k tiles take ceil(n/k) rows, the rest floor(n/k)."""
    base, rem = divmod(n, k)

    def reference_tile(rank):  # textbook ntile
        cut = rem * (base + 1)
        if rank <= cut:
            return (rank + base) // (base + 1)
        return rem + -(-(rank - cut) // base)

    # independent model: assign tiles by walking bucket sizes
    sizes = [base + 1 if i < rem else base for i in range(k)]
    expect, tile = [], 1
    for s in sizes:
        expect += [tile] * s
        tile += 1
    got = [reference_tile(r) for r in range(1, n + 1)]
    assert got == expect[:n]


def test_ntile_closed_form_matches_spark_ntile(spark):
    """And the Column-expression version agrees with F.ntile on a real
    frame (n=103, k=5 → ragged buckets)."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from insurance_claim_data_pipeline_spark.operators.analytics import _ntile_from_rank

    df = spark.range(1, 104).select(F.col("id").alias("v"))
    w = W.orderBy("v")
    out = df.select(
        "v",
        F.ntile(5).over(w).alias("want"),
        _ntile_from_rank(
            F.row_number().over(w).cast("long"), F.lit(103).cast("long"), 5
        ).alias("got"),
    ).collect()
    assert all(r["want"] == r["got"] for r in out)


@given(
    st.lists(
        st.tuples(
            st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, width=32),
            st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, width=32),
        ),
        min_size=1,
        max_size=16,
    )
)
@settings(max_examples=12, deadline=None)
def test_dot_float_bit_identical_to_dot_as_double(spark, pairs):
    """ADVICE r05: dot_float's fold body duplicates dot's — the
    bit-identity contract between the two (float→double cast is exact,
    multiply/accumulate order unchanged) was asserted only in
    docstrings. Property: on arbitrary float32 vectors,
    dot_float(a, b) == dot(as_double(a), as_double(b)) EXACTLY (no
    tolerance), so an edit to either fold that changes op order or cast
    placement is a red test, not a silent oracle drift."""
    from insurance_claim_data_pipeline_spark.functions.vectors import (
        as_double,
        dot,
        dot_float,
    )

    a = [p[0] for p in pairs]
    b = [p[1] for p in pairs]
    df = spark.createDataFrame(
        [(a, b)], "a array<float>, b array<float>"
    ).select(
        dot_float(F.col("a"), F.col("b")).alias("f"),
        dot(as_double("a"), as_double("b")).alias("d"),
    )
    row = df.collect()[0]
    # exact equality, including the sign of zero
    import struct

    assert struct.pack("<d", row["f"]) == struct.pack("<d", row["d"]), row
