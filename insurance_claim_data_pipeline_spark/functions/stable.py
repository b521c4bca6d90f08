"""Order-stable (exactly reproducible) SUM/AVG aggregate helpers.

Floating-point SUM/AVG depend on partial-aggregation order, which differs
between Spark (parallel partial + final agg) and the DuckDB oracle, and —
worse — across runs and cluster sizes. Every monetary aggregate in this
engine therefore rounds each value to a fixed decimal scale and sums
EXACTLY, converting to double only at the end: results are bit-identical
regardless of parallelism — the reproducibility property you want on a
1000-executor cluster, not just a test convenience.

Implementation: a split integer accumulator, not a DECIMAL sum. Each
value becomes a scaled integer ``x = round_half_up(v·10^s)`` (computed
as sign(v)·floor(|v|·10^s + 0.5) — equal to the HALF_UP rounding of
both Spark's and DuckDB's double→DECIMAL cast for all signs), carried
as TWO long sums (quotient/remainder by 2^20, the quotient an
arithmetic right-shift so the whole per-row path stays in LONG
arithmetic — a ``/`` here would promote to double and silently lose
exactness past 2^53) that are recombined exactly in decimal per GROUP
(a handful of rows) and divided back by 10^s. Properties:

- Exact: every step is integer/decimal arithmetic; the single
  double-rounding happens at the final cast — the same nearest-double
  of the same exact rational the oracle's
  ``CAST(SUM(CAST(x AS DECIMAL(18,s))) AS DOUBLE)`` produces.
- Fast: per-row work is long arithmetic inside whole-stage codegen.
  Measured on TPC-H-Q1 at sf0.1: 0.38s vs 0.98s for DECIMAL(18,s)
  sums (whose sum type DECIMAL(28,s) leaves Spark's compact-long
  decimal representation and boxes BigDecimal per row).
- Overflow-safe at 100 TB: each long accumulator is bounded by
  ``Σ|v|·10^s / 2^20`` (quotient) and ``rows·2^20`` (remainder); the
  envelope is ~9.7e24/10^s of absolute column sum — thousands of times
  a 100 TB lineitem's worth even at scale 6.
- Per-row bound: the accumulator itself is exact for any long-range
  ``x`` (|v|·10^s < 2^63). The remaining per-row limit is the HALF_UP
  emulation in ``_scaled_long``: ``|v|·10^s`` is formed in double, so
  faithful rounding needs ``|v|·10^s ≲ 2^53`` (~9e15) — a property of
  double inputs, not of the accumulator.

The SQL-side mirror of ``dec_sum(col, s)`` is
``CAST(SUM(CAST(ROUND(col*10^s)/10^s AS DECIMAL(18,s))) AS DOUBLE)`` —
the ROUND quantizes the same double product the Spark side rounds, so
both engines agree even when a computed value's exact binary expansion
and its double product straddle a .5 boundary (a bare double→DECIMAL
cast in DuckDB rounds the exact expansion and diverges ~1e-6 of rows).

2^53 boundary (r11 skew-sweep finding): the two engines' FINAL
decimal→double conversions differ once ``|sum|·10^s`` exceeds 2^53 —
DuckDB double-rounds (int128 → double, then /10^s) while Spark's
BigDecimal→double is correctly rounded, so sums-of-squares-scale
accumulations (ss ≈ 7.4e16 scaled cents at sf0.1) can sit 1 ulp apart
(caught in feat_scale_numeric's sigma at sf0.1; every per-row scaled
integer and the exact decimal sums were verified equal — only the final
cast differs). Monetary-magnitude sums (≲1e13 scaled) are exact in
double and unaffected. Downstream consumers of a >2^53-scale dec_sum
must ROUND the emitted double (or emit the scaled integer itself)
rather than compare raw last-bit doubles across engines.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_SPLIT_BITS = 20
_SPLIT = 1 << _SPLIT_BITS  # power of two → exact shift-based quotient


def _check_scale(scale: int, fn: str) -> None:
    # r06 guard: the final DECIMAL(38,0)/DECIMAL(20,0) division is
    # scale-adjusted to 6 decimals by Spark's precision-loss rule, so a
    # scale-7+ sum would be silently rounded HERE while the SQL mirrors
    # keep the full scale — a latent cross-engine divergence (it bit
    # the k-means trainers at scale 12). Refuse loudly instead.
    if scale > 6:
        raise ValueError(
            f"{fn} scale {scale} > 6 is silently rounded to 6 decimals by "
            "Spark's decimal-division scale adjustment; use the exact "
            "integer mean (functions/stable.py::mean_e12) instead"
        )


def dec(col: Column | str, scale: int = 2, precision: int = 18) -> Column:
    """double → DECIMAL cast (used directly in window running sums,
    where per-row decimal cost is acceptable and the frame semantics
    need a single column)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal({precision},{scale})")


def _scaled_long(c: Column, scale: int) -> Column:
    # sign-aware HALF_UP: equals double→DECIMAL(p,s) cast rounding
    m = 10**scale
    return (F.floor(F.abs(c) * m + F.lit(0.5)) * F.signum(c)).cast("long")


def dec_sum(col: Column | str, scale: int = 2, precision: int = 18) -> Column:
    """Exact (order-independent) SUM of a double column at the given
    decimal scale, returned as double. ``precision`` is kept for API
    compatibility with the DECIMAL formulation; the split accumulator's
    envelope exceeds any DECIMAL(38) use here.

    scale must be ≤ 6: the final DECIMAL(38,0)/DECIMAL(20,0) division
    lands on Spark's precision-loss-adjusted scale 6, so a scale-7+ sum
    would be silently rounded to 6 decimals HERE while the SQL mirror
    (dec_sum_sql) keeps the full scale — a latent cross-engine
    divergence found in r06 (the k-means trainers' scale-12 means; see
    :func:`mean_e12` below for the exact-integer-mean pattern to use
    instead above scale 6)."""
    _check_scale(scale, "dec_sum")
    c = F.col(col) if isinstance(col, str) else col
    x = _scaled_long(c, scale)
    r = x % _SPLIT  # sign follows x, |r| < 2^20
    # x-r is an exact multiple of 2^20 with the sign of x, so an
    # arithmetic shift IS the exact quotient — long in, long out.
    q = F.shiftright(x - r, _SPLIT_BITS)
    total = F.sum(q).cast("decimal(38,0)") * _SPLIT + F.sum(r).cast("decimal(38,0)")
    return (total / F.lit(10**scale).cast("decimal(20,0)")).cast("double")


def dec_avg(col: Column | str, scale: int = 2, precision: int = 18) -> Column:
    """AVG as exact-decimal sum divided by non-null count, as double."""
    c = F.col(col) if isinstance(col, str) else col
    return dec_sum(c, scale, precision) / F.count(c)


def dec_sum_parts(col: Column | str, scale: int = 2) -> tuple[Column, Column]:
    """The split accumulator's two LONG partial sums ``(q_sum, r_sum)``
    — the mergeable form of :func:`dec_sum`. Long addition is exact and
    associative, so partials from disjoint slices (a base table and a
    delta batch, per-partition partials, per-day increments) combine by
    plain ``+`` with zero drift; recombine with
    :func:`dec_sum_from_parts`. This algebraic-aggregate shape is what
    makes incremental view maintenance EXACT, not approximately-equal."""
    c = F.col(col) if isinstance(col, str) else col
    x = _scaled_long(c, scale)
    r = x % _SPLIT
    q = F.shiftright(x - r, _SPLIT_BITS)
    return F.sum(q), F.sum(r)


def dec_sum_from_parts(q_sum: Column, r_sum: Column, scale: int = 2) -> Column:
    """Recombine (possibly merged) split-accumulator partials into the
    exact decimal total as double — same final step as :func:`dec_sum`
    (and the same scale-6 division clamp, hence the same guard)."""
    _check_scale(scale, "dec_sum_from_parts")
    total = q_sum.cast("decimal(38,0)") * _SPLIT + r_sum.cast("decimal(38,0)")
    return (total / F.lit(10**scale).cast("decimal(20,0)")).cast("double")


# mean_e12's per-row domain bound, just under 2^52/10^12 =
# 4503.599627370496. The binding constraint is NOT int64 (that allows
# |v| < 9.2e6) but faithful HALF_UP emulation: for a scaled product
# x = |v|·10^12 in [2^52, 2^53) the double ULP is 1, so Spark's
# floor(x + 0.5) hits a round-to-even tie on odd integer-valued
# products (yields x+1) while DuckDB's ROUND(x) yields x — a silent
# cross-engine divergence on ~50% of values in that band (ADVICE r06,
# empirically confirmed: v=8320.087321044215 → 8320087321044216 vs
# ...215). Below 2^52 the +0.5 and the floor are both exact, so the
# two engines round identically. The guard literal sits ~2.74e-5 below
# the exact bound (a ~2.7e7-scaled-unit margin, dwarfing the 0.5-ULP
# rounding slack) so no admissible |v| can scale into the tie band.
_MEAN_E12_MAX = 4503.5996


def mean_e12(col: Column | str) -> Column:
    """Exact cross-engine mean at 12-decimal resolution — the sanctioned
    replacement for ``dec_avg`` above scale 6 (k-means centroids,
    embedding statistics): quantize each value with the same sign-aware
    HALF_UP rounding as every dec_* helper (:func:`_scaled_long`), SUM
    as exact DECIMAL(38,0) (no int64 wrap at any corpus size, matching
    the split accumulator's overflow envelope), FLOOR-divide by the
    count in exact integer domain (pmod-subtract makes the quotient the
    floor for negative sums; the decimal division of the exact multiple
    survives Spark's scale-6 adjustment unchanged because the quotient
    is an integer), and only then convert the quotient to double (/1e12
    — the quotient is bounded by max|v|·10^12 < 2^52, so the long→
    double conversion is itself exact). Bit-identical to
    :func:`mean_e12_sql` on every in-domain input — including
    negative-sum groups, where DuckDB's ``//`` truncates toward zero
    and the mirror therefore spells the floor out with the same
    pmod-subtract (r06 review finding: the first mirror used bare
    ``//`` and diverged by 1e-12 on negative remainders).

    Domain: |v| < 2^52/10^12 ≈ 4503.6 (``_MEAN_E12_MAX``) — beyond
    that the scaled product enters the double binade where ULP ≥ 1 and
    the two engines' HALF_UP emulations disagree on round-to-even ties
    (see the constant's comment; the int64 limit at ~9.2e6 is further
    out and was the r06 guard, too loose per ADVICE r06). Enforced per
    row with raise_error in Spark AND the same CASE/error() rejection
    in the SQL mirror, so an out-of-domain value fails loudly in BOTH
    engines rather than silently diverging; 12-decimal resolution on
    thousands-magnitude values is the wrong tool anyway — money-scale
    aggregates belong to dec_sum."""
    c = F.col(col) if isinstance(col, str) else col
    x = F.when(
        F.abs(c) >= F.lit(_MEAN_E12_MAX),
        F.raise_error(
            F.concat(
                F.lit(f"mean_e12 domain: |v| must be < {_MEAN_E12_MAX}, got "),
                c.cast("string"),
            )
        ).cast("long"),
    ).otherwise(_scaled_long(c, 12)).cast("decimal(38,0)")
    s = F.sum(x)
    n = F.count(c).cast("decimal(19,0)")
    q = ((s - F.pmod(s, n)) / n).cast("long")
    return q.cast("double") / F.lit(float(10**12))


def mean_e12_sql(expr: str) -> str:
    """DuckDB mirror of :func:`mean_e12`. The SUM lands in HUGEINT (no
    overflow), the floor is spelled out via pmod-subtract because
    DuckDB's integer ``//`` truncates toward zero (−7//2 = −3, not −4),
    and the domain guard mirrors Spark's raise_error via error() so the
    failure window is symmetric (ADVICE r06: the int64-overflow guard
    alone left [old guard, BIGINT max) erroring in Spark only)."""
    s = (
        f"SUM(CASE WHEN ABS({expr}) >= {_MEAN_E12_MAX} THEN "
        f"CAST(error('mean_e12 domain: |v| must be < {_MEAN_E12_MAX}') AS BIGINT) "
        f"ELSE CAST(ROUND(({expr}) * 1000000000000) AS BIGINT) END)"
    )
    n = f"COUNT({expr})"
    q = f"((({s}) - (((({s}) % ({n})) + ({n})) % ({n}))) // ({n}))"
    return f"CAST({q} AS DOUBLE) / 1000000000000.0"


def _quantize_sql(expr: str, scale: int, precision: int) -> str:
    # ROUND((expr)*10^s)/10^s rounds the DOUBLE PRODUCT — the same value
    # the Spark-side ``_scaled_long`` rounds — then the DECIMAL cast of
    # the already-quantized double is exact. A bare
    # ``CAST(expr AS DECIMAL)`` instead rounds the exact binary
    # expansion of the double, which lands on the other side of a .5
    # boundary than the product for ~1e-6 of computed rows (observed:
    # q9 profit at sf0.01) — raw k-decimal columns never sit near a
    # boundary, but division/multiplication results do.
    m = 10**scale
    return f"CAST(ROUND(({expr}) * {m}) / {m} AS DECIMAL({precision},{scale}))"


def dec_sum_sql(expr: str, scale: int = 2, precision: int = 18) -> str:
    return f"CAST(SUM({_quantize_sql(expr, scale, precision)}) AS DOUBLE)"
