"""Distributed statistical testing: Welch's t-test, chi-square test of
independence, a one-pass Pearson correlation matrix, and a two-sample
Kolmogorov-Smirnov drift statistic.

Beyond-reference extension surface: the hypothesis tests a data-quality
/ drift-monitoring layer runs over production tables. Everything is
expressed as ordinary aggregates so Catalyst keeps the whole hot path
in one partial-aggregated scan; nothing here shuffles the fact table
more than once, and three of the four operators don't shuffle it at
all (map-side partials into a single tiny final aggregate).

Cross-engine exactness:

- All moment sums (Σx, Σx², Σxy) are decimal-stable
  (functions/stable.py) → order-independent, bit-identical to the
  oracle's quantized decimal sums.
- Downstream scalar arithmetic (t statistic, Welch df, Pearson r) is
  a fixed tree of individually-rounded IEEE ops on identical double
  inputs, written with the SAME association in Spark and SQL.
- The chi-square statistic is a sum of per-cell doubles; summing
  doubles is order-dependent, so each cell's contribution is rounded
  to ×1e6 integer first and the total is an exact integer sum (the
  text_bigram_logprob idiom).
- The KS statistic's max runs over exact integer numerators
  ``|F1·n0 − F0·n1|`` — no floating-point CDF at all until the final
  single division.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.stable import dec_sum, dec_sum_sql
from ..functions.guards import nonzero
from ..registry import register
from ..session import load_table, pin, pin_eager

# ---------------------------------------------------------------------------
# Welch's unequal-variance t-test: click vs purchase event values.
# ---------------------------------------------------------------------------

_TT_A, _TT_B = "click", "purchase"

TTEST_ORACLE = f"""
WITH m AS (
  SELECT
    COUNT(*) FILTER (event_type = '{_TT_A}') AS n1,
    COUNT(*) FILTER (event_type = '{_TT_B}') AS n2,
    {dec_sum_sql("CASE WHEN event_type = '" + _TT_A + "' THEN value END")} AS s1,
    {dec_sum_sql("CASE WHEN event_type = '" + _TT_B + "' THEN value END")} AS s2,
    {dec_sum_sql("CASE WHEN event_type = '" + _TT_A + "' THEN value * value END", 4)} AS ss1,
    {dec_sum_sql("CASE WHEN event_type = '" + _TT_B + "' THEN value * value END", 4)} AS ss2
  FROM events
), mm AS (
  SELECT *, s1 / n1 AS m1, s2 / n2 AS m2 FROM m
), v AS (
  SELECT *,
         (ss1 - s1 * m1) / (n1 - 1) AS v1,
         (ss2 - s2 * m2) / (n2 - 1) AS v2
  FROM mm
)
SELECT n1, n2, m1 AS mean_1, m2 AS mean_2,
       (m1 - m2) / sqrt(v1 / n1 + v2 / n2) AS t_stat,
       (v1 / n1 + v2 / n2) * (v1 / n1 + v2 / n2)
         / ((v1 / n1) * (v1 / n1) / (n1 - 1) + (v2 / n2) * (v2 / n2) / (n2 - 1))
         AS welch_df
FROM v
"""


@register("stats_welch_ttest", oracle=TTEST_ORACLE, tags=("stats", "agg"))
def stats_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test of mean event value, click vs
    purchase, in ONE conditional-aggregate pass over events (no
    filter-and-join, no second scan). Map-side partials reduce to a
    single 6-number state; the t statistic and Welch-Satterthwaite df
    are driver-free scalar arithmetic on that state — the same shape at
    100 TB as at 60k rows."""
    ev = load_table(spark, sf_dir, "events")
    val_a = F.when(F.col("event_type") == _TT_A, F.col("value"))
    val_b = F.when(F.col("event_type") == _TT_B, F.col("value"))
    m = ev.agg(
        F.count(val_a).alias("n1"),
        F.count(val_b).alias("n2"),
        dec_sum(val_a).alias("s1"),
        dec_sum(val_b).alias("s2"),
        dec_sum(val_a * val_a, 4).alias("ss1"),
        dec_sum(val_b * val_b, 4).alias("ss2"),
    )
    m = m.withColumn("m1", F.col("s1") / F.col("n1")).withColumn(
        "m2", F.col("s2") / F.col("n2")
    )
    m = m.withColumn(
        "v1", (F.col("ss1") - F.col("s1") * F.col("m1")) / (F.col("n1") - 1)
    ).withColumn("v2", (F.col("ss2") - F.col("s2") * F.col("m2")) / (F.col("n2") - 1))
    se1 = F.col("v1") / F.col("n1")
    se2 = F.col("v2") / F.col("n2")
    return m.select(
        "n1",
        "n2",
        F.col("m1").alias("mean_1"),
        F.col("m2").alias("mean_2"),
        ((F.col("m1") - F.col("m2")) / F.sqrt(se1 + se2)).alias("t_stat"),
        (
            (se1 + se2) * (se1 + se2)
            / (se1 * se1 / (F.col("n1") - 1) + se2 * se2 / (F.col("n2") - 1))
        ).alias("welch_df"),
    )


# ---------------------------------------------------------------------------
# Chi-square test of independence: o_orderpriority × o_orderstatus.
# ---------------------------------------------------------------------------

CHI2_ORACLE = """
WITH obs AS (
  SELECT o_orderpriority AS r, o_orderstatus AS c, COUNT(*) AS o
  FROM orders GROUP BY 1, 2
), rt AS (SELECT r, CAST(SUM(o) AS BIGINT) AS row_n FROM obs GROUP BY 1),
   ct AS (SELECT c, CAST(SUM(o) AS BIGINT) AS col_n FROM obs GROUP BY 1),
   n AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM obs),
   cells AS (
  SELECT obs.o,
         CAST(rt.row_n AS DOUBLE) * ct.col_n / n.n AS e
  FROM obs JOIN rt ON obs.r = rt.r JOIN ct ON obs.c = ct.c, n
)
SELECT CAST(SUM(CAST(ROUND((o - e) * (o - e) / e * 1000000) AS BIGINT)) AS BIGINT)
         AS chi2_e6,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       (SELECT (COUNT(DISTINCT o_orderpriority) - 1)
              * (COUNT(DISTINCT o_orderstatus) - 1) FROM orders) AS dof
FROM cells
"""


@register("stats_chi2_independence", oracle=CHI2_ORACLE, tags=("stats", "agg"))
def stats_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test over the priority × status
    contingency table. One groupBy builds the observed cells; row/
    column margins are re-aggregated from the ≤15-cell frame (never
    from the fact table again) and broadcast back. Each cell's
    (O−E)²/E is quantized to ×1e6 BEFORE the final sum so the statistic
    is an exact integer — immune to aggregation order on any cluster."""
    orders = load_table(spark, sf_dir, "orders")
    obs = orders.groupBy(
        F.col("o_orderpriority").alias("r"), F.col("o_orderstatus").alias("c")
    ).agg(F.count(F.lit(1)).alias("o")).transform(pin)
    # ^ the <=15-cell table feeds margins, total, dof AND the cell pass —
    # one orders scan instead of five
    rt = obs.groupBy("r").agg(F.sum("o").cast("long").alias("row_n"))
    ct = obs.groupBy("c").agg(F.sum("o").cast("long").alias("col_n"))
    n = obs.agg(F.sum("o").cast("long").alias("n"))
    e = F.col("row_n").cast("double") * F.col("col_n") / F.col("n")
    cells = (
        obs.join(F.broadcast(rt), "r")
        .join(F.broadcast(ct), "c")
        .crossJoin(F.broadcast(n))
        .select(
            "o",
            e.alias("e"),
        )
    )
    contrib = F.round(
        (F.col("o") - F.col("e")) * (F.col("o") - F.col("e")) / F.col("e") * 1_000_000
    ).cast("long")
    dims = obs.agg(
        ((F.countDistinct("r") - 1) * (F.countDistinct("c") - 1)).alias("dof")
    )
    return (
        cells.agg(
            F.sum(contrib).cast("long").alias("chi2_e6"),
            F.count(F.lit(1)).cast("long").alias("n_cells"),
        )
        .crossJoin(F.broadcast(dims))
    )


# ---------------------------------------------------------------------------
# One-pass Pearson correlation matrix over lineitem numeric columns.
# ---------------------------------------------------------------------------

# (x, y, scale for Σxy) — scales keep |v·10^s| ≲ 2^53 per row while
# resolving the smallest products (discount·tax ~ 1e-2) finely enough.
# Scale is capped at 6 (dec_sum's decimal division clamps results to 6
# decimals — see functions/stable.py): the raw columns are 2-decimal
# values, so every product here has at most 4 exact decimals and the
# scale-6 quantization is lossless — the former scale-8 entries
# produced byte-identical sums and only tripped the r06 scale guard.
_CORR_COLS = {
    "l_quantity": (2, 4),  # (Σx scale, Σx² scale)
    "l_extendedprice": (2, 2),
    "l_discount": (4, 6),
    "l_tax": (4, 6),
}
_CORR_PAIRS = (
    ("l_quantity", "l_extendedprice", 2),
    ("l_quantity", "l_discount", 6),
    ("l_quantity", "l_tax", 6),
    ("l_extendedprice", "l_discount", 4),
    ("l_extendedprice", "l_tax", 4),
    ("l_discount", "l_tax", 6),
)


def _corr_oracle() -> str:
    aggs = ["COUNT(*) AS n"]
    for col, (s1, s2) in _CORR_COLS.items():
        aggs.append(f"{dec_sum_sql(col, s1)} AS s_{col}")
        aggs.append(f"{dec_sum_sql(f'{col} * {col}', s2)} AS q_{col}")
    for x, y, sxy in _CORR_PAIRS:
        aggs.append(f"{dec_sum_sql(f'{x} * {y}', sxy)} AS p_{x}_{y}")
    arms = []
    for x, y, _ in _CORR_PAIRS:
        arms.append(
            f"""SELECT '{x}' AS col_x, '{y}' AS col_y,
       (n * p_{x}_{y} - s_{x} * s_{y})
         / (sqrt(n * q_{x} - s_{x} * s_{x}) * sqrt(n * q_{y} - s_{y} * s_{y}))
         AS pearson_r
FROM m"""
        )
    return "WITH m AS (\n  SELECT " + ",\n         ".join(aggs) + "\n  FROM lineitem\n)\n" + "\nUNION ALL\n".join(arms)


@register("stats_corr_matrix", oracle=_corr_oracle(), tags=("stats", "agg", "bench"))
def stats_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations of four lineitem measures from ONE
    scan: a single aggregate computes every moment (n, Σx, Σx², Σxy for
    all 6 pairs — 15 decimal-stable sums) as map-side partials, and the
    6-row matrix is unpivoted from the one-row moment state. At 100 TB
    this is exactly one pass over the fact table, no shuffle of it, and
    the moment state is a few hundred bytes."""
    li = load_table(spark, sf_dir, "lineitem")
    aggs = [F.count(F.lit(1)).alias("n")]
    for col, (s1, s2) in _CORR_COLS.items():
        c = F.col(col)
        aggs.append(dec_sum(c, s1).alias(f"s_{col}"))
        aggs.append(dec_sum(c * c, s2).alias(f"q_{col}"))
    for x, y, sxy in _CORR_PAIRS:
        aggs.append(dec_sum(F.col(x) * F.col(y), sxy).alias(f"p_{x}_{y}"))
    m = li.agg(*aggs)
    # one aggregate row -> explode a literal 6-struct array; a UNION of
    # per-pair selects would re-plan the aggregate per branch (6 scans —
    # observed in the physical plan before this formulation).
    structs = []
    for x, y, _ in _CORR_PAIRS:
        n = F.col("n")
        r = (n * F.col(f"p_{x}_{y}") - F.col(f"s_{x}") * F.col(f"s_{y}")) / nonzero(
            F.sqrt(n * F.col(f"q_{x}") - F.col(f"s_{x}") * F.col(f"s_{x}"))
            * F.sqrt(n * F.col(f"q_{y}") - F.col(f"s_{y}") * F.col(f"s_{y}"))
        )
        structs.append(
            F.struct(
                F.lit(x).alias("col_x"), F.lit(y).alias("col_y"), r.alias("pearson_r")
            )
        )
    return m.select(F.explode(F.array(*structs)).alias("p")).select(
        "p.col_x", "p.col_y", "p.pearson_r"
    )


# ---------------------------------------------------------------------------
# Two-sample Kolmogorov-Smirnov drift: o_totalprice before/after 1995.
# ---------------------------------------------------------------------------

_KS_SPLIT = "1998-01-01"

KS_ORACLE = f"""
WITH s AS (
  SELECT o_totalprice AS v,
         CASE WHEN o_orderdate < DATE '{_KS_SPLIT}' THEN 1 ELSE 0 END AS g
  FROM orders
), tot AS (
  SELECT CAST(SUM(g) AS BIGINT) AS n1, CAST(COUNT(*) - SUM(g) AS BIGINT) AS n0 FROM s
), byv AS (
  SELECT v, CAST(SUM(g) AS BIGINT) AS c1, CAST(COUNT(*) - SUM(g) AS BIGINT) AS c0
  FROM s GROUP BY v
), cum AS (
  SELECT SUM(c1) OVER (ORDER BY v) AS f1, SUM(c0) OVER (ORDER BY v) AS f0 FROM byv
)
SELECT CAST(MAX(ABS(f1 * n0 - f0 * n1)) AS BIGINT) AS ks_num, n0, n1,
       CAST(MAX(ABS(f1 * n0 - f0 * n1)) AS DOUBLE) / (CAST(n0 AS DOUBLE) * n1) AS ks_stat
FROM cum, tot GROUP BY n0, n1
"""

@register("drift_ks_twosample", oracle=KS_ORACLE, tags=("stats", "drift", "window", "scale"))
def drift_ks_twosample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic between pre- and
    post-1998 order totals (driver data spans 1995..2001), with NO single-partition pass over
    the data: per-value counts of each sample are cumulated by the
    two-level distributed prefix (per-range-bucket window + a prefix
    over the ≤32-row bucket-totals table — operators/analytics.py's
    scheme). The empirical-CDF difference is kept as the exact integer
    ``F1·n0 − F0·n1`` so the max — and the hash — cannot wobble with
    parallelism; one division at the very end produces the statistic."""
    orders = load_table(spark, sf_dir, "orders")
    s = orders.select(
        F.col("o_totalprice").alias("v"),
        F.when(F.to_date("o_orderdate") < F.lit(_KS_SPLIT).cast("date"), 1)
        .otherwise(0)
        .alias("g"),
    )
    byv = s.groupBy("v").agg(
        F.sum("g").cast("long").alias("c1"),
        (F.count(F.lit(1)) - F.sum("g")).cast("long").alias("c0"),
    ).transform(pin)  # feeds bounds sketch + bucket pass + totals: one orders scan, not four
    from .analytics import with_global_prefix_sums

    cum = with_global_prefix_sums(byv, "v", ["c1", "c0"]).select(
        F.col("cum_c1").alias("f1"),
        F.col("cum_c0").alias("f0"),
        F.col("tot_c0").alias("n0"),
        F.col("tot_c1").alias("n1"),
    )
    diff = F.abs(F.col("f1") * F.col("n0") - F.col("f0") * F.col("n1"))
    return cum.groupBy("n0", "n1").agg(
        F.max(diff).cast("long").alias("ks_num"),
        (
            F.max(diff).cast("double")
            / nonzero(F.col("n0").cast("double") * F.col("n1"))
        ).alias("ks_stat"),
    ).select("ks_num", "n0", "n1", "ks_stat")


# ---------------------------------------------------------------------------
# One-pass skewness / excess kurtosis per group.
# ---------------------------------------------------------------------------

# Skewness and kurtosis are scale-invariant, so the price column is
# pre-divided by 1e6 (making x^4 ~ 1e-4) purely to control quantized
# magnitudes. Moments are summed as plain ROUNDED x1e10 LONGs — not
# dec_sum: its oracle mirror ROUND(v*10^s)/10^s re-rounds through a
# double that is only faithful for small scales (k/1e12 is not exactly
# representable, and the DECIMAL(18,12) cast of that double flips last
# digits — observed here before the switch). A single rounded-long per
# row keeps both engines in exact integer arithmetic end-to-end.
# Headroom: |x^k|*1e10 <= ~1.1e4 per row -> int64 safe beyond 1e14 rows
# per group; sums are order-independent by exactness.
_MOM_DIV = 1_000_000
_MOM_E = 10_000_000_000  # x1e10 quantization

_MOM_X = f"(l_extendedprice / {_MOM_DIV})"


def _mom_sum_sql(expr: str) -> str:
    return f"CAST(SUM(CAST(FLOOR(({expr}) * {_MOM_E} + 0.5) AS BIGINT)) AS DOUBLE) / {_MOM_E}"


SKEWKURT_ORACLE = f"""
WITH m AS (
  SELECT l_returnflag, COUNT(*) AS n,
         {_mom_sum_sql(_MOM_X)} AS s1,
         {_mom_sum_sql(_MOM_X + ' * ' + _MOM_X)} AS s2,
         {_mom_sum_sql(_MOM_X + ' * ' + _MOM_X + ' * ' + _MOM_X)} AS s3,
         {_mom_sum_sql(_MOM_X + ' * ' + _MOM_X + ' * ' + _MOM_X + ' * ' + _MOM_X)} AS s4
  FROM lineitem GROUP BY 1
), c AS (
  SELECT *, s1 / n AS m1 FROM m
), cm AS (
  SELECT *,
         s2 / n - m1 * m1 AS v,
         s3 / n - 3 * m1 * (s2 / n) + 2 * m1 * m1 * m1 AS m3c,
         s4 / n - 4 * m1 * (s3 / n) + 6 * m1 * m1 * (s2 / n)
           - 3 * m1 * m1 * m1 * m1 AS m4c
  FROM c
)
SELECT l_returnflag, n,
       m3c / (v * sqrt(v)) AS skewness,
       m4c / (v * v) - 3 AS excess_kurtosis
FROM cm
"""


def _mom_sum(expr):
    # DECIMAL(38,0) sum, not long: the per-row quantized terms are ~1e14
    # and the r10 full-registry scale sweep measured the LONG sum
    # wrapping at 10x data (stats_power_mde, ARITHMETIC_OVERFLOW under
    # ANSI) — same class as the r08 dec_sum widening. DuckDB's
    # SUM(BIGINT) is already HUGEINT, so this aligns engines; the final
    # cast to double is taken from the identical exact integer.
    return F.sum(F.floor(expr * F.lit(_MOM_E) + F.lit(0.5)).cast("decimal(38,0)")).cast(
        "double"
    ) / F.lit(_MOM_E)


@register("stats_skew_kurtosis", oracle=SKEWKURT_ORACLE, tags=("stats", "agg"))
def stats_skew_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group skewness and excess kurtosis of l_extendedprice from a
    single scan: four x1e10 rounded-integer raw moments reduce map-side
    to a 5-number state per group; central moments and both shape
    statistics are fixed scalar trees on that state (``v*sqrt(v)``, not
    ``pow(v,1.5)`` — sqrt is IEEE-exact, pow is a libm gamble). Same
    one-pass shape at any scale; integer headroom past 1e14 rows/group
    (module comment)."""
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_extendedprice") / _MOM_DIV
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        _mom_sum(x).alias("s1"),
        _mom_sum(x * x).alias("s2"),
        _mom_sum(x * x * x).alias("s3"),
        _mom_sum(x * x * x * x).alias("s4"),
    )
    m = m.withColumn("m1", F.col("s1") / F.col("n"))
    m1, n = F.col("m1"), F.col("n")
    s2n, s3n, s4n = F.col("s2") / n, F.col("s3") / n, F.col("s4") / n
    m = m.withColumn("v", s2n - m1 * m1)
    m = m.withColumn("m3c", s3n - F.lit(3) * m1 * s2n + F.lit(2) * m1 * m1 * m1)
    m = m.withColumn(
        "m4c",
        s4n - F.lit(4) * m1 * s3n + F.lit(6) * m1 * m1 * s2n
        - F.lit(3) * m1 * m1 * m1 * m1,
    )
    v = F.col("v")
    return m.select(
        "l_returnflag",
        "n",
        (F.col("m3c") / (v * F.sqrt(v))).alias("skewness"),
        (F.col("m4c") / (v * v) - 3).alias("excess_kurtosis"),
    )


# ---------------------------------------------------------------------------
# KL-divergence drift of the event-type mix, first half vs second half.
# ---------------------------------------------------------------------------

KL_ORACLE = """
WITH b AS (
  SELECT event_type, epoch_us(ts) AS ts_us FROM events
), mid AS (
  SELECT (MIN(ts_us) + MAX(ts_us)) // 2 AS mid_us FROM b
), g AS (
  SELECT event_type,
         CAST(SUM(CASE WHEN ts_us <= mid_us THEN 1 ELSE 0 END) AS BIGINT) AS c_pre,
         CAST(SUM(CASE WHEN ts_us > mid_us THEN 1 ELSE 0 END) AS BIGINT) AS c_post
  FROM b, mid GROUP BY 1
), t AS (
  SELECT CAST(SUM(c_pre) AS BIGINT) AS n_pre, CAST(SUM(c_post) AS BIGINT) AS n_post
  FROM g
)
SELECT g.event_type, g.c_pre, g.c_post,
       CAST(ROUND((CAST(g.c_pre AS DOUBLE) / t.n_pre)
                  * ln((CAST(g.c_pre AS DOUBLE) / t.n_pre)
                       / (CAST(g.c_post AS DOUBLE) / t.n_post))
                  * 1000000) AS BIGINT) AS kl_term_e6
FROM g, t
WHERE g.c_pre > 0 AND g.c_post > 0
"""


@register("events_kl_drift", oracle=KL_ORACLE, tags=("stats", "drift", "events"))
def events_kl_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-category KL-divergence contributions of the event-type mix,
    first half of the time range vs second half (midpoint computed from
    the data as an exact integer, so the query is regen-proof). The
    ×1e6 term quantization makes downstream totals order-independent;
    complements drift_psi_orders (PSI) and drift_ks_twosample (KS) as
    the distribution-shift triad. One scan, two tiny aggregates, one
    broadcast — the per-type counts frame is lazily pinned because it
    feeds both the totals agg and the final select; unpinned, each
    consumer re-ran the events scan+groupBy (r07 plan-scan audit;
    0.71 → 0.64 s best-of-3 at sf0.1)."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.select("event_type", F.unix_micros("ts").alias("ts_us"))
    mid = b.agg(
        ((F.min("ts_us") + F.max("ts_us")) / 2).cast("long").alias("mid_us")
    )
    g = (
        b.crossJoin(F.broadcast(mid))
        .groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("ts_us") <= F.col("mid_us"), 1).otherwise(0))
            .cast("long")
            .alias("c_pre"),
            F.sum(F.when(F.col("ts_us") > F.col("mid_us"), 1).otherwise(0))
            .cast("long")
            .alias("c_post"),
        )
    ).transform(pin)
    t = g.agg(
        F.sum("c_pre").cast("long").alias("n_pre"),
        F.sum("c_post").cast("long").alias("n_post"),
    )
    p = F.col("c_pre").cast("double") / F.col("n_pre")
    q = F.col("c_post").cast("double") / F.col("n_post")
    term = F.round(p * F.log(p / q) * 1_000_000).cast("long")
    return (
        g.crossJoin(F.broadcast(t))
        .filter((F.col("c_pre") > 0) & (F.col("c_post") > 0))
        .select("event_type", "c_pre", "c_post", term.alias("kl_term_e6"))
    )


# ---------------------------------------------------------------------------
# Burstiness of each type's hourly arrival process.
# ---------------------------------------------------------------------------

_US_1H = 3_600_000_000

BURSTINESS_ORACLE = f"""
WITH hourly AS (
  SELECT event_type, (epoch_us(ts) // {_US_1H}) AS hour_idx,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
), m AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS t_hours,
         CAST(SUM(n) AS BIGINT) AS s1,
         CAST(SUM(n * n) AS BIGINT) AS s2
  FROM hourly GROUP BY 1
), c AS (
  SELECT *, CAST(s1 AS DOUBLE) / t_hours AS mu FROM m
), v AS (
  SELECT *, (CAST(s2 AS DOUBLE) - s1 * mu) / (t_hours - 1) AS var FROM c
)
SELECT event_type, t_hours, s1 AS n_events,
       var / mu AS fano_factor,
       (sqrt(var) - mu) / (sqrt(var) + mu) AS burstiness
FROM v
"""


@register("events_burstiness", oracle=BURSTINESS_ORACLE, tags=("stats", "events", "agg"))
def events_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrival-process burstiness per event type over the observed
    hourly series: Fano factor (variance/mean of hourly counts — 1 for
    Poisson, >1 bursty, <1 regular) and the Goh-Barabási burstiness
    coefficient (σ−μ)/(σ+μ) ∈ [−1, 1]. Counts are integers, so the
    moment sums are exact; the two statistics are fixed IEEE trees on
    identical doubles. Hours with zero events don't appear in the
    series (the driver data has none); an occupancy-complete variant
    would left-join the gap-filled hour spine of
    events_gap_fill_locf.

    Scale: one shuffle of events into (type, hour) counts, then a
    per-type 3-number state."""
    ev = load_table(spark, sf_dir, "events")
    hour_idx = (
        (F.unix_micros("ts") - F.pmod(F.unix_micros("ts"), F.lit(_US_1H))) / F.lit(_US_1H)
    ).cast("long")
    hourly = (
        ev.select("event_type", hour_idx.alias("hour_idx"))
        .groupBy("event_type", "hour_idx")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    m = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("t_hours"),
        F.sum("n").cast("long").alias("s1"),
        F.sum(F.col("n") * F.col("n")).cast("long").alias("s2"),
    )
    m = m.withColumn("mu", F.col("s1").cast("double") / F.col("t_hours"))
    m = m.withColumn(
        "var",
        (F.col("s2").cast("double") - F.col("s1") * F.col("mu"))
        / nonzero(F.col("t_hours") - 1),
    )
    sd = F.sqrt(F.col("var"))
    return m.select(
        "event_type",
        "t_hours",
        F.col("s1").alias("n_events"),
        (F.col("var") / F.col("mu")).alias("fano_factor"),
        ((sd - F.col("mu")) / (sd + F.col("mu"))).alias("burstiness"),
    )


# ---------------------------------------------------------------------------
# Robust (MAD-based) outlier detection.
# ---------------------------------------------------------------------------

MAD_K_E4 = 14_826  # 1.4826 (consistency constant for normal data), x1e4
MAD_CUTOFF = 3.5   # |modified z| above this => outlier

MAD_ORACLE = f"""
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med FROM events GROUP BY 1
), dev AS (
  SELECT e.event_type, e.event_id, e.value, m.med,
         abs(e.value - m.med) AS ad
  FROM events e JOIN med m ON e.event_type = m.event_type
), mad AS (
  SELECT event_type, quantile_cont(ad, 0.5) AS mad FROM dev GROUP BY 1
), scored AS (
  SELECT d.event_type, d.event_id, d.value,
         ROUND((d.value - d.med) / (({MAD_K_E4} / 10000.0) * m.mad), 4) AS mod_z
  FROM dev d JOIN mad m ON d.event_type = m.event_type
)
SELECT event_type, event_id, value, mod_z
FROM scored WHERE abs(mod_z) > {MAD_CUTOFF}
"""


@register("events_outlier_mad", oracle=MAD_ORACLE, tags=("stats", "events", "agg"))
def events_outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection via the modified z-score
    ``(x − median) / (1.4826 · MAD)``: unlike events_anomaly_zscore's
    mean/std (which outliers themselves inflate — masking), median and
    MAD have a 50% breakdown point, so a burst of extreme values cannot
    hide itself. Two grouped exact-percentile aggregates (both engines
    share the (n−1)·p interpolation; scores rounded to 4 dp to absorb
    last-ulp interpolation drift before the threshold compare) and two
    broadcast joins of the tiny per-type medians — the fact table is
    scanned once per percentile pass plus once for scoring (the 3-scan
    floor of median-then-MAD), never shuffled. The tiny medians frame
    is lazily pinned: it feeds BOTH the deviation join and (through it)
    the MAD pass, and unpinned each consumer re-ran the median
    percentile pass (r07 plan-scan audit; 0.79 → 0.67 s best-of-3 at
    sf0.1).

    At 100 TB the exact per-group percentile becomes
    percentile_approx with a high accuracy knob — MAD tolerates sketch
    error by construction; the threshold semantics stay identical."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "event_id", "value")
    med = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    ).transform(pin)
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "ad", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(F.percentile("ad", F.lit(0.5)).alias("mad"))
    mod_z = F.round(
        (F.col("value") - F.col("med"))
        / nonzero((F.lit(MAD_K_E4) / F.lit(10_000.0)) * F.col("mad")),
        4,
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .select("event_type", "event_id", "value", mod_z.alias("mod_z"))
        .filter(F.abs(F.col("mod_z")) > MAD_CUTOFF)
    )


# ---------------------------------------------------------------------------
# Deterministic Poisson bootstrap CI for the mean.
# ---------------------------------------------------------------------------

BOOT_B = 32
# Poisson(1) inverse-CDF thresholds (cumulative, capped at 7) — literal
# doubles inlined identically into both engines.
_POIS_CDF = (
    0.36787944117144233,  # P(X<=0)
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
    0.9999167588507119,
)


def _boot_w_case_sql() -> str:
    """Poisson(1) inverse-CDF CASE over the sliced uniform column ``u``."""
    return "CASE " + " ".join(
        f"WHEN u < {c!r} THEN {i}" for i, c in enumerate(_POIS_CDF)
    ) + " ELSE 7 END"


def _boot_reps_sql(base: str, cols: str) -> str:
    """Oracle CTE fragment replaying :func:`_boot_replicates`: one md5
    per QUAD of replicates keyed on (o_orderkey, g), four 32-bit
    uniforms sliced from hex chars 1-8 / 9-16 / 17-24 / 25-32 of each
    digest, replicate id b = 4g + slot + 1. ``cols`` are the payload
    columns carried through from ``base``."""
    return f"""quads AS (
  SELECT o_orderkey, {cols}, unnest(generate_series(0, {BOOT_B // 4 - 1})) AS g
  FROM {base}
), hq AS (
  SELECT {cols}, g,
         md5(CAST(o_orderkey AS VARCHAR) || ':' || CAST(g AS VARCHAR)) AS h
  FROM quads
), reps AS (
  SELECT {cols}, g * 4 + slot + 1 AS b,
         ('0x' || substr(h, 1 + 8 * slot, 8))::BIGINT / 4294967296.0 AS u
  FROM hq CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS slot) s
)"""


def _boot_replicates(df: DataFrame, keep: list[str]) -> DataFrame:
    """Explode ``df`` ×{BOOT_B} replicates with the deterministic
    Poisson(1) multiplicity ``w`` per (row, replicate ``b``). One md5
    per QUAD of replicates — four independent 32-bit uniforms sliced
    from each 128-bit digest (hex chars 1-8, 9-16, 17-24, 25-32) — so
    hashing, the dominant CPU of the exploded pass, drops 4× vs one
    digest per replicate (the lever BASELINE.md r4 documented as "not
    taken"; taken in r5 with the oracle replaying the same slicing, so
    the resample stream stays bit-reproducible on any partitioning,
    any rerun, and in DuckDB). posexplode materializes the uniforms in
    the Generate output, so each digest and each conv run exactly once
    per quad row regardless of the downstream CASE chain."""
    quads = df.select(
        "o_orderkey",
        *keep,
        F.explode(F.sequence(F.lit(0), F.lit(BOOT_B // 4 - 1))).alias("g"),
    ).withColumn(
        "h",
        F.md5(
            F.concat(
                F.col("o_orderkey").cast("string"),
                F.lit(":"),
                F.col("g").cast("string"),
            )
        ),
    )
    slot_u = [
        (
            F.conv(F.substring("h", 1 + 8 * s, 8), 16, 10).cast("long")
            / F.lit(4294967296.0)
        )
        for s in range(4)
    ]
    rep = quads.select(
        *keep, "g", F.posexplode(F.array(*slot_u)).alias("slot", "u")
    )
    w = F.lit(7)
    for i in range(len(_POIS_CDF) - 1, -1, -1):
        w = F.when(F.col("u") < F.lit(_POIS_CDF[i]), F.lit(i)).otherwise(w)
    return rep.select(
        *keep,
        (F.col("g") * 4 + F.col("slot") + 1).cast("int").alias("b"),
        w.alias("w"),
    )


def _bootstrap_oracle() -> str:
    from ..functions.stable import dec_sum_sql

    return f"""
WITH {_boot_reps_sql('orders', 'o_totalprice')}, weighted AS (
  SELECT b, o_totalprice, {_boot_w_case_sql()} AS w FROM reps
), means AS (
  SELECT b, {dec_sum_sql('w * o_totalprice')} / CAST(SUM(w) AS BIGINT) AS m
  FROM weighted GROUP BY b
), full_m AS (
  SELECT {dec_sum_sql('o_totalprice')} / COUNT(*) AS mean_full FROM orders
)
SELECT CAST({BOOT_B} AS BIGINT) AS n_replicates,
       ROUND(f.mean_full, 4) AS mean_full,
       ROUND(quantile_cont(means.m, 0.025), 4) AS ci_lo,
       ROUND(quantile_cont(means.m, 0.975), 4) AS ci_hi
FROM means, full_m f GROUP BY f.mean_full
"""


@register("agg_bootstrap_ci", oracle=_bootstrap_oracle(), tags=("stats", "agg", "scale"))
def agg_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Poisson bootstrap: a 95% CI for the mean order
    total from {BOOT_B} resamples, where each row's multiplicity in
    replicate b is Poisson(1) drawn by inverse-CDF over a salted-md5
    uniform — the STANDARD distributed bootstrap (per-row independent
    weights, no resample-by-index shuffling), made fully reproducible
    (no RNG: same CI on any cluster, any partitioning, any rerun, and
    in the DuckDB oracle). Replicate means use decimal-stable sums; the
    percentile over the {BOOT_B}-value means frame is exact.

    Scale: one scan exploded ×{BOOT_B} with map-side combine straight
    into B running sums — state is B numbers per partition; B scales
    the CPU of one pass, never the shuffle. Hashing (the pass's
    dominant CPU) runs once per replicate QUAD — see
    :func:`_boot_replicates`."""
    orders = load_table(spark, sf_dir, "orders")
    weighted = _boot_replicates(orders, ["o_totalprice"])
    means = weighted.groupBy("b").agg(
        (
            dec_sum(F.col("w") * F.col("o_totalprice"))
            / nonzero(F.sum("w").cast("long"))
        ).alias("m")
    )
    full_m = orders.agg(
        (dec_sum("o_totalprice") / F.count(F.lit(1))).alias("mean_full")
    )
    return (
        means.crossJoin(F.broadcast(full_m))
        .groupBy("mean_full")
        .agg(
            F.lit(BOOT_B).cast("long").alias("n_replicates"),
            F.round(F.percentile("m", F.lit(0.025)), 4).alias("ci_lo"),
            F.round(F.percentile("m", F.lit(0.975)), 4).alias("ci_hi"),
        )
        .select(
            "n_replicates",
            F.round("mean_full", 4).alias("mean_full"),
            "ci_lo",
            "ci_hi",
        )
    )


# ---------------------------------------------------------------------------
# Difference-in-differences over a deterministic exposure split.
# ---------------------------------------------------------------------------

DID_TREAT_PCT = 50  # md5(user_id) bucket < 50 -> "treated"


def _did_oracle() -> str:
    from ..functions.stable import dec_sum_sql
    from .sampling import _bucket_sql

    b = _bucket_sql("user_id")
    return f"""
WITH base AS (
  SELECT user_id, value, epoch_us(ts) AS ts_us,
         CASE WHEN {b} < {DID_TREAT_PCT} THEN 1 ELSE 0 END AS treated
  FROM events
), mid AS (
  SELECT (MIN(ts_us) + MAX(ts_us)) // 2 AS mid_us FROM base
), cells AS (
  SELECT treated, CASE WHEN ts_us <= mid_us THEN 0 ELSE 1 END AS post,
         CAST(COUNT(*) AS BIGINT) AS n,
         {dec_sum_sql('value')} AS s
  FROM base, mid GROUP BY 1, 2
), m AS (
  SELECT treated, post, n, s / n AS mu FROM cells
)
SELECT
  (SELECT mu FROM m WHERE treated = 1 AND post = 1) AS mu_t_post,
  (SELECT mu FROM m WHERE treated = 1 AND post = 0) AS mu_t_pre,
  (SELECT mu FROM m WHERE treated = 0 AND post = 1) AS mu_c_post,
  (SELECT mu FROM m WHERE treated = 0 AND post = 0) AS mu_c_pre,
  ((SELECT mu FROM m WHERE treated = 1 AND post = 1)
   - (SELECT mu FROM m WHERE treated = 1 AND post = 0))
  - ((SELECT mu FROM m WHERE treated = 0 AND post = 1)
     - (SELECT mu FROM m WHERE treated = 0 AND post = 0)) AS did_estimate
"""


@register("stats_diff_in_diff", oracle=_did_oracle(), tags=("stats", "events", "agg"))
def stats_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences estimator over a deterministic md5
    exposure split (treated = hash bucket < {DID_TREAT_PCT}) and the
    data-derived time midpoint: DiD = (T_post − T_pre) − (C_post −
    C_pre), the workhorse causal estimate when randomization happens at
    assignment time but trends must be netted out. One conditional
    aggregate produces all four cell means (decimal-stable sums); the
    estimate is a fixed IEEE tree on those four doubles. Under a null
    split like this synthetic one, the estimate hovers near zero — the
    A/A sanity reading an experimentation platform checks first."""
    from .sampling import hash_bucket

    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "value",
        F.unix_micros("ts").alias("ts_us"),
        (hash_bucket("user_id") < DID_TREAT_PCT).cast("int").alias("treated"),
    )
    mid = base.agg(((F.min("ts_us") + F.max("ts_us")) / 2).cast("long").alias("mid_us"))
    cells = (
        base.crossJoin(F.broadcast(mid))
        .groupBy(
            "treated",
            F.when(F.col("ts_us") <= F.col("mid_us"), 0).otherwise(1).alias("post"),
        )
        .agg(F.count(F.lit(1)).alias("n"), dec_sum("value").alias("s"))
        .withColumn("mu", F.col("s") / F.col("n"))
    )
    g = cells.agg(
        F.first(F.when((F.col("treated") == 1) & (F.col("post") == 1), F.col("mu")), True).alias("mu_t_post"),
        F.first(F.when((F.col("treated") == 1) & (F.col("post") == 0), F.col("mu")), True).alias("mu_t_pre"),
        F.first(F.when((F.col("treated") == 0) & (F.col("post") == 1), F.col("mu")), True).alias("mu_c_post"),
        F.first(F.when((F.col("treated") == 0) & (F.col("post") == 0), F.col("mu")), True).alias("mu_c_pre"),
    )
    return g.select(
        "*",
        (
            (F.col("mu_t_post") - F.col("mu_t_pre"))
            - (F.col("mu_c_post") - F.col("mu_c_pre"))
        ).alias("did_estimate"),
    )


# ---------------------------------------------------------------------------
# CUPED variance reduction using the pre-period covariate.
# ---------------------------------------------------------------------------

_CUPED_E = 100_000_000  # x1e8 quantization of per-user moment terms


def _cuped_mom_sql(expr: str) -> str:
    # FLOOR over a DECIMAL(38,6) intermediate, not a BIGINT cast: the
    # per-row terms here are PER-USER aggregates squared, so a hot user
    # can push a single quantized term past int64 — the r11 skew shard
    # measured 2.24e20, where the old BIGINT cast made DuckDB error and
    # Spark's floor(double)->long SILENTLY SATURATE at Long.Max (no
    # ANSI error — pinned in tests/test_guards_r10.py). The decimal
    # path is exact to 1e32 and identical in both engines (the Spark
    # twin quantizes through the same DECIMAL(38,6)).
    return (
        f"CAST(SUM(FLOOR(CAST(({expr}) * {_CUPED_E} + 0.5 AS DECIMAL(38,6))))"
        f" AS DOUBLE) / {_CUPED_E}"
    )


def _cuped_mom(expr):
    # Spark twin of _cuped_mom_sql: quantize through DECIMAL(38,6), then
    # a decimal(38,0) sum. The long sum wraps at scale (see _mom_sum_sql) AND
    # floor(double)->long silently saturates per row once a hot key
    # pushes one term past int64 — the decimal path is exact to 1e32.
    return F.sum(
        F.floor((expr * F.lit(_CUPED_E) + F.lit(0.5)).cast("decimal(38,6)"))
        .cast("decimal(38,0)")
    ).cast("double") / F.lit(_CUPED_E)


def _cuped_oracle() -> str:
    from ..functions.stable import dec_sum_sql

    return f"""
WITH base AS (
  SELECT user_id, value, epoch_us(ts) AS ts_us FROM events
), mid AS (
  SELECT (MIN(ts_us) + MAX(ts_us)) // 2 AS mid_us FROM base
), per_user AS (
  SELECT user_id,
         {dec_sum_sql("CASE WHEN ts_us <= mid_us THEN value END")}
           / COUNT(CASE WHEN ts_us <= mid_us THEN 1 END) AS x,
         {dec_sum_sql("CASE WHEN ts_us > mid_us THEN value END")}
           / COUNT(CASE WHEN ts_us > mid_us THEN 1 END) AS y
  FROM base, mid GROUP BY user_id
  HAVING COUNT(CASE WHEN ts_us <= mid_us THEN 1 END) > 0
     AND COUNT(CASE WHEN ts_us > mid_us THEN 1 END) > 0
), m AS (
  SELECT COUNT(*) AS n,
         {_cuped_mom_sql('x')} AS sx, {_cuped_mom_sql('y')} AS sy,
         {_cuped_mom_sql('x * x')} AS sxx,
         {_cuped_mom_sql('x * y')} AS sxy,
         {_cuped_mom_sql('y * y')} AS syy
  FROM per_user
), v AS (
  SELECT n,
         sxx / n - (sx / n) * (sx / n) AS var_x,
         syy / n - (sy / n) * (sy / n) AS var_y,
         sxy / n - (sx / n) * (sy / n) AS cov_xy
  FROM m
)
SELECT CAST(n AS BIGINT) AS n_users,
       ROUND(cov_xy / var_x, 6) AS theta,
       ROUND(var_y, 6) AS var_y,
       ROUND(var_y - cov_xy * cov_xy / var_x, 6) AS var_y_cuped
FROM v
"""


@register("stats_cuped_adjustment", oracle=_cuped_oracle(), tags=("stats", "events", "agg"))
def stats_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (controlled-experiment using pre-existing data): per user,
    the pre-period mean value is the covariate X and the post-period
    mean the metric Y; θ = cov(X,Y)/var(X) and the adjusted metric
    Y − θ(X − X̄) has variance var(Y) − cov²/var(X) — the experiment-
    platform trick that shrinks confidence intervals without touching
    the treatment effect. Per-user means come from one conditional
    decimal-stable pass; the user-level moments are ×1e8 rounded-long
    sums (order-proof), and θ / variances are fixed IEEE trees rounded
    at 6 dp. Pairs with stats_diff_in_diff and agg_bootstrap_ci as the
    experimentation-analytics family."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select("user_id", "value", F.unix_micros("ts").alias("ts_us"))
    mid = base.agg(((F.min("ts_us") + F.max("ts_us")) / 2).cast("long").alias("mid_us"))
    pre = F.when(F.col("ts_us") <= F.col("mid_us"), F.col("value"))
    post = F.when(F.col("ts_us") > F.col("mid_us"), F.col("value"))
    per_user = (
        base.crossJoin(F.broadcast(mid))
        .groupBy("user_id")
        .agg(
            (dec_sum(pre) / F.count(pre)).alias("x"),
            (dec_sum(post) / F.count(post)).alias("y"),
            F.count(pre).alias("_np"),
            F.count(post).alias("_nq"),
        )
        .filter((F.col("_np") > 0) & (F.col("_nq") > 0))
    )

    x, y = F.col("x"), F.col("y")
    m = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        _cuped_mom(x).alias("sx"),
        _cuped_mom(y).alias("sy"),
        _cuped_mom(x * x).alias("sxx"),
        _cuped_mom(x * y).alias("sxy"),
        _cuped_mom(y * y).alias("syy"),
    )
    n = F.col("n")
    var_x = F.col("sxx") / n - (F.col("sx") / n) * (F.col("sx") / n)
    var_y = F.col("syy") / n - (F.col("sy") / n) * (F.col("sy") / n)
    cov = F.col("sxy") / n - (F.col("sx") / n) * (F.col("sy") / n)
    v = m.select(n.alias("n"), var_x.alias("var_x"), var_y.alias("var_y"), cov.alias("cov_xy"))
    return v.select(
        F.col("n").cast("long").alias("n_users"),
        F.round(F.col("cov_xy") / F.col("var_x"), 6).alias("theta"),
        F.round("var_y", 6).alias("var_y"),
        F.round(
            F.col("var_y") - F.col("cov_xy") * F.col("cov_xy") / F.col("var_x"), 6
        ).alias("var_y_cuped"),
    )


# ---------------------------------------------------------------------------
# Sample-ratio-mismatch (SRM) guardrail for the exposure split.
# ---------------------------------------------------------------------------

SRM_CHI2_CRIT_E6 = 3_841_459  # chi-square 1-dof 95% critical value, x1e6


def _srm_oracle() -> str:
    from .sampling import _bucket_sql

    b = _bucket_sql("user_id")
    return f"""
WITH u AS (
  SELECT DISTINCT user_id FROM events
), g AS (
  SELECT CAST(SUM(CASE WHEN {b} < {DID_TREAT_PCT} THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
         CAST(SUM(CASE WHEN {b} < {DID_TREAT_PCT} THEN 0 ELSE 1 END) AS BIGINT) AS n_c
  FROM u
)
SELECT n_t, n_c,
       CAST(ROUND(((n_t - (n_t + n_c) / 2.0) * (n_t - (n_t + n_c) / 2.0))
                  / ((n_t + n_c) / 2.0) * 2 * 1000000) AS BIGINT) AS chi2_e6,
       (CAST(ROUND(((n_t - (n_t + n_c) / 2.0) * (n_t - (n_t + n_c) / 2.0))
                   / ((n_t + n_c) / 2.0) * 2 * 1000000) AS BIGINT)
          > {SRM_CHI2_CRIT_E6}) AS srm_detected
FROM g
"""


@register("stats_srm_check", oracle=_srm_oracle(), tags=("stats", "dq", "agg"))
def stats_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guardrail: chi-square (1 dof) of the
    observed unit split against the intended 50/50 — the first gate an
    experimentation platform runs, because a skewed assignment
    invalidates every downstream estimate (including the DiD and CUPED
    queries this pairs with). Units are DISTINCT users (assignment
    happens per unit, not per event); the statistic is an exact ×1e6
    integer and the verdict a pure integer compare against the 95%
    critical value — no p-value libm in the gate."""
    from .sampling import hash_bucket

    ev = load_table(spark, sf_dir, "events")
    u = ev.select("user_id").distinct()
    t_flag = (hash_bucket("user_id") < DID_TREAT_PCT).cast("int")
    g = u.agg(
        F.sum(t_flag).cast("long").alias("n_t"),
        F.sum(1 - t_flag).cast("long").alias("n_c"),
    )
    exp_half = (F.col("n_t") + F.col("n_c")) / F.lit(2.0)
    chi2 = F.round(
        (F.col("n_t") - exp_half) * (F.col("n_t") - exp_half) / exp_half * 2 * 1_000_000
    ).cast("long")
    return g.select(
        "n_t",
        "n_c",
        chi2.alias("chi2_e6"),
        (chi2 > SRM_CHI2_CRIT_E6).alias("srm_detected"),
    )


# ---------------------------------------------------------------------------
# One-way ANOVA across the event-type groups.
# ---------------------------------------------------------------------------

ANOVA_ORACLE = f"""
WITH g AS (
  SELECT event_type, COUNT(*) AS n,
         {{DS}} AS s,
         {{DSS}} AS ss
  FROM events GROUP BY 1
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(n) AS BIGINT) AS n_tot,
         CAST(SUM(CAST(ROUND(s * 1000000) AS BIGINT)) AS BIGINT) AS s_tot_e6,
         CAST(SUM(CAST(ROUND((s * s / n) * 1000000) AS BIGINT)) AS BIGINT) AS ssb_part_e6,
         CAST(SUM(CAST(ROUND((ss - s * (s / n)) * 1000000) AS BIGINT)) AS BIGINT) AS ssw_e6
  FROM g
)
SELECT k, n_tot,
       ((ssb_part_e6 / 1000000.0
         - (s_tot_e6 / 1000000.0) * (s_tot_e6 / 1000000.0) / n_tot) / (k - 1))
       / ((ssw_e6 / 1000000.0) / (n_tot - k)) AS f_stat
FROM m
"""


def _anova_oracle() -> str:
    from ..functions.stable import dec_sum_sql

    return ANOVA_ORACLE.replace("{DS}", dec_sum_sql("value")).replace(
        "{DSS}", dec_sum_sql("value * value", 4)
    )


@register("stats_anova_oneway", oracle=_anova_oracle(), tags=("stats", "agg"))
def stats_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F statistic for mean event value across the five
    event-type groups — the k-group generalization of
    stats_welch_ttest. Per-group (n, Σx, Σx²) come from one
    decimal-stable pass; the between/within sums of squares are
    assembled from ×1e6-quantized per-group terms so the k-row
    reduction is an exact integer sum, and F is a fixed IEEE tree on
    the two double quotients. Under the synthetic data's identical
    group distributions F ≈ 1 — the null reading."""
    ev = load_table(spark, sf_dir, "events")
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        dec_sum("value").alias("s"),
        dec_sum(F.col("value") * F.col("value"), 4).alias("ss"),
    )
    m = g.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n").cast("long").alias("n_tot"),
        F.sum(F.round(F.col("s") * 1_000_000).cast("long")).cast("long").alias("s_tot_e6"),
        F.sum(
            F.round((F.col("s") * F.col("s") / F.col("n")) * 1_000_000).cast("long")
        ).cast("long").alias("ssb_part_e6"),
        F.sum(
            F.round((F.col("ss") - F.col("s") * (F.col("s") / F.col("n"))) * 1_000_000)
            .cast("long")
        ).cast("long").alias("ssw_e6"),
    )
    ssb = (
        F.col("ssb_part_e6") / F.lit(1_000_000.0)
        - (F.col("s_tot_e6") / F.lit(1_000_000.0))
        * (F.col("s_tot_e6") / F.lit(1_000_000.0))
        / F.col("n_tot")
    )
    ssw = F.col("ssw_e6") / F.lit(1_000_000.0)
    return m.select(
        "k",
        "n_tot",
        (
            (ssb / nonzero(F.col("k") - 1))
            / nonzero(ssw / nonzero(F.col("n_tot") - F.col("k")))
        ).alias("f_stat"),
    )


# ---------------------------------------------------------------------------
# Winsorized mean (robust location estimate).
# ---------------------------------------------------------------------------

WINSOR_P_LO, WINSOR_P_HI = 0.05, 0.95


def _winsorized_oracle() -> str:
    from ..functions.stable import dec_sum_sql

    return f"""
WITH b AS (
  SELECT event_type, quantile_cont(value, {WINSOR_P_LO}) AS lo,
         quantile_cont(value, {WINSOR_P_HI}) AS hi
  FROM events GROUP BY 1
), clipped AS (
  SELECT e.event_type,
         LEAST(GREATEST(e.value, b.lo), b.hi) AS cv
  FROM events e JOIN b ON e.event_type = b.event_type
)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       {dec_sum_sql('cv', 4)} / COUNT(*) AS winsorized_mean
FROM clipped GROUP BY 1
"""


@register("agg_winsorized_mean", oracle=_winsorized_oracle(), tags=("stats", "agg"))
def agg_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean of event value per type: values clipped to the
    exact [p5, p95] group percentiles before averaging — the robust
    location estimate metric pipelines use when trimming would change N
    (revenue-per-user dashboards live on this). Percentile bounds are a
    tiny broadcast; clipping is pure codegen; the mean is a
    decimal-stable sum over the clipped column (quantized at 1e-4 —
    clipped values are percentile interpolations, not 2-dp raw money).
    Complements events_outlier_mad: MAD FLAGS the tails, winsorizing
    NEUTRALIZES them."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    b = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(WINSOR_P_LO)).alias("lo"),
        F.percentile("value", F.lit(WINSOR_P_HI)).alias("hi"),
    )
    clipped = ev.join(F.broadcast(b), "event_type").select(
        "event_type",
        F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi")).alias("cv"),
    )
    return clipped.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (dec_sum("cv", 4) / F.count(F.lit(1))).alias("winsorized_mean"),
    )


# ---------------------------------------------------------------------------
# Power analysis: minimum detectable effect for the experiment family.
# ---------------------------------------------------------------------------

Z_ALPHA_2 = 1.959963984540054  # two-sided 5%
Z_BETA = 0.8416212335729143    # 80% power


def _power_oracle() -> str:
    from ..functions.stable import dec_sum_sql
    from .sampling import _bucket_sql

    b = _bucket_sql("user_id")
    return f"""
WITH per_user AS (
  SELECT user_id,
         CASE WHEN {b} < {DID_TREAT_PCT} THEN 1 ELSE 0 END AS treated,
         {dec_sum_sql('value')} AS y
  FROM events GROUP BY user_id
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_units,
         CAST(SUM(treated) AS BIGINT) AS n_t,
         {_cuped_mom_sql('y')} AS s,
         {_cuped_mom_sql('y * y')} AS ss
  FROM per_user
), v AS (
  SELECT n_units, n_t, s / n_units AS mu,
         (ss - s * (s / n_units)) / (n_units - 1) AS var
  FROM m
)
SELECT n_units, n_t, ROUND(mu, 6) AS mean_metric,
       ROUND(({Z_ALPHA_2!r} + {Z_BETA!r}) * sqrt(2 * var / (n_units / 2.0)), 6)
         AS mde_abs,
       ROUND(({Z_ALPHA_2!r} + {Z_BETA!r}) * sqrt(2 * var / (n_units / 2.0)) / mu, 6)
         AS mde_rel
FROM v
"""


@register("stats_power_mde", oracle=_power_oracle(), tags=("stats", "agg"))
def stats_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment power analysis: the minimum detectable effect at 80%
    power / 5% two-sided alpha for the per-user revenue metric under a
    50/50 split — ``MDE = (z_a/2 + z_b)·sqrt(2σ²/(n/2))`` — the number
    that decides whether an experiment is worth RUNNING before any
    assignment happens (an MDE above the plausible effect size means
    the test can only produce noise). Per-user metric from one
    decimal-stable pass; unit-level variance from ×1e8 rounded-long
    moments; z constants inlined as identical double literals so
    neither engine computes a quantile function. Completes the
    experimentation family: power → SRM gate → DiD → CUPED →
    bootstrap CI."""
    from .sampling import hash_bucket

    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.max((hash_bucket("user_id") < DID_TREAT_PCT).cast("int")).alias("treated"),
        dec_sum("value").alias("y"),
    )

    m = per_user.agg(
        F.count(F.lit(1)).cast("long").alias("n_units"),
        F.sum("treated").cast("long").alias("n_t"),
        _cuped_mom(F.col("y")).alias("s"),
        _cuped_mom(F.col("y") * F.col("y")).alias("ss"),
    )
    mu = F.col("s") / F.col("n_units")
    var = (F.col("ss") - F.col("s") * mu) / nonzero(F.col("n_units") - 1)
    v = m.select("n_units", "n_t", mu.alias("mu"), var.alias("var"))
    mde = (F.lit(Z_ALPHA_2) + F.lit(Z_BETA)) * F.sqrt(
        2 * F.col("var") / (F.col("n_units") / F.lit(2.0))
    )
    return v.select(
        "n_units",
        "n_t",
        F.round("mu", 6).alias("mean_metric"),
        F.round(mde, 6).alias("mde_abs"),
        F.round(mde / F.col("mu"), 6).alias("mde_rel"),
    )


# ---------------------------------------------------------------------------
# Paired t-test: post- vs pre-period metric per user.
# ---------------------------------------------------------------------------


def _paired_ttest_oracle() -> str:
    from ..functions.stable import dec_sum_sql

    return f"""
WITH base AS (
  SELECT user_id, value, epoch_us(ts) AS ts_us FROM events
), mid AS (
  SELECT (MIN(ts_us) + MAX(ts_us)) // 2 AS mid_us FROM base
), per_user AS (
  SELECT user_id,
         {dec_sum_sql("CASE WHEN ts_us > mid_us THEN value END")}
           / COUNT(CASE WHEN ts_us > mid_us THEN 1 END)
         - {dec_sum_sql("CASE WHEN ts_us <= mid_us THEN value END")}
           / COUNT(CASE WHEN ts_us <= mid_us THEN 1 END) AS d
  FROM base, mid GROUP BY user_id
  HAVING COUNT(CASE WHEN ts_us <= mid_us THEN 1 END) > 0
     AND COUNT(CASE WHEN ts_us > mid_us THEN 1 END) > 0
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         {_cuped_mom_sql('d')} AS s, {_cuped_mom_sql('d * d')} AS ss
  FROM per_user
)
SELECT n AS n_pairs,
       ROUND(s / n, 6) AS mean_diff,
       ROUND((s / n) / sqrt(((ss - s * (s / n)) / (n - 1)) / n), 6) AS t_stat
FROM m
"""


@register("stats_paired_ttest", oracle=_paired_ttest_oracle(), tags=("stats", "events", "agg"))
def stats_paired_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired t-test of each user's post-minus-pre mean value: pairing
    on the unit removes between-user variance entirely, which is why a
    paired design detects effects an unpaired Welch test of the same
    size misses — completing the family two-sample (Welch) → k-group
    (ANOVA) → paired. Per-user differences from one conditional
    decimal-stable pass; difference moments as ×1e8 rounded-long sums;
    the t statistic is one fixed IEEE tree rounded at 6 dp."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select("user_id", "value", F.unix_micros("ts").alias("ts_us"))
    mid = base.agg(((F.min("ts_us") + F.max("ts_us")) / 2).cast("long").alias("mid_us"))
    pre = F.when(F.col("ts_us") <= F.col("mid_us"), F.col("value"))
    post = F.when(F.col("ts_us") > F.col("mid_us"), F.col("value"))
    per_user = (
        base.crossJoin(F.broadcast(mid))
        .groupBy("user_id")
        .agg(
            (dec_sum(post) / F.count(post) - dec_sum(pre) / F.count(pre)).alias("d"),
            F.count(pre).alias("_np"),
            F.count(post).alias("_nq"),
        )
        .filter((F.col("_np") > 0) & (F.col("_nq") > 0))
    )

    m = per_user.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        _cuped_mom(F.col("d")).alias("s"),
        _cuped_mom(F.col("d") * F.col("d")).alias("ss"),
    )
    n = F.col("n")
    mean_d = F.col("s") / n
    var_d = (F.col("ss") - F.col("s") * mean_d) / (n - 1)
    return m.select(
        n.alias("n_pairs"),
        F.round(mean_d, 6).alias("mean_diff"),
        F.round(mean_d / F.sqrt(var_d / n), 6).alias("t_stat"),
    )


# ---------------------------------------------------------------------------
# Mann-Whitney U rank-sum test: view vs click event values.
# ---------------------------------------------------------------------------

_MW_A, _MW_B = "view", "click"

MANN_WHITNEY_ORACLE = f"""
WITH s AS (
  SELECT CAST(ROUND(value * 100) AS BIGINT) AS vc,
         CASE WHEN event_type = '{_MW_A}' THEN 1 ELSE 0 END AS g
  FROM events WHERE event_type IN ('{_MW_A}', '{_MW_B}')
), byv AS (
  SELECT vc, CAST(SUM(g) AS BIGINT) AS c1,
         CAST(COUNT(*) - SUM(g) AS BIGINT) AS c0
  FROM s GROUP BY 1
), cum AS (
  SELECT vc, c1, c0, c1 + c0 AS cnt,
         CAST(COALESCE(SUM(c1 + c0) OVER (ORDER BY vc
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS cum_before
  FROM byv
), agg AS (
  SELECT CAST(SUM(c1) AS BIGINT) AS n1,
         CAST(SUM(c0) AS BIGINT) AS n2,
         CAST(SUM(c1 * (2 * cum_before + cnt + 1)) AS BIGINT) AS r1_x2,
         CAST(SUM(cnt * cnt * cnt - cnt) AS BIGINT) AS tie_t
  FROM cum
)
SELECT n1, n2,
       r1_x2 - n1 * (n1 + 1) AS u1_x2,
       (CAST(r1_x2 - n1 * (n1 + 1) AS DOUBLE) / 2 - CAST(n1 AS DOUBLE) * n2 / 2)
         / sqrt(CAST(n1 AS DOUBLE) * n2 / 12
                * ((n1 + n2 + 1) - CAST(tie_t AS DOUBLE)
                   / ((n1 + n2) * (n1 + n2 - 1)))) AS z_stat
FROM agg
"""


def mann_whitney_frame(s: DataFrame) -> DataFrame:
    """Core of :func:`stats_mann_whitney` over a ``(vc BIGINT, g INT)``
    frame (g=1 → group 1). Midranks are carried ×2 so tied-rank halves
    stay integers: midrank2(v) = 2·|{values < v}| + count(v) + 1, and
    the rank sum R1 (×2) is an exact order-independent integer."""
    from .analytics import with_global_prefix_sums

    byv = (
        s.groupBy("vc")
        .agg(
            F.sum("g").cast("long").alias("c1"),
            # cnt directly; c0 (= cnt − c1) was pinned but never read
            # downstream (pin-width audit r09) — n2 derives from the
            # totals as tot_cnt − tot_c1.
            F.count(F.lit(1)).cast("long").alias("cnt"),
        )
        .transform(pin)  # feeds bounds sketch + bucket pass
    )
    cum = with_global_prefix_sums(byv, "vc", ["c1", "cnt"])
    midrank2 = 2 * (F.col("cum_cnt") - F.col("cnt")) + F.col("cnt") + 1
    agg = cum.groupBy("tot_c1", "tot_cnt").agg(
        F.sum(F.col("c1") * midrank2).cast("long").alias("r1_x2"),
        F.sum(F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt"))
        .cast("long")
        .alias("tie_t"),
    )
    n1 = F.col("tot_c1")
    n2 = F.col("tot_cnt") - F.col("tot_c1")
    u1_x2 = F.col("r1_x2") - n1 * (n1 + 1)
    nn = n1 + n2
    z = (u1_x2.cast("double") / 2 - n1.cast("double") * n2 / 2) / F.sqrt(
        n1.cast("double") * n2 / 12
        * ((nn + 1) - F.col("tie_t").cast("double") / (nn * (nn - 1)))
    )
    return agg.select(
        n1.alias("n1"),
        n2.alias("n2"),
        u1_x2.alias("u1_x2"),
        z.alias("z_stat"),
    )


@register("stats_mann_whitney", oracle=MANN_WHITNEY_ORACLE, tags=("stats", "agg", "scale"))
def stats_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) test of view vs click event
    values — the nonparametric complement to stats_welch_ttest: no
    normality assumption, so it is the right two-sample test for the
    heavy-tailed value distributions drift monitors actually see.

    Exactness: values quantize to integer cents, so ties are exact
    cross-engine; midranks are carried ×2 (always integers), making the
    rank sum an exact integer no matter the aggregation order; the only
    floating math is the final z-score on that exact state (tie-
    corrected normal approximation). Distribution: per-value counts
    cumulate through the two-level distributed prefix (range buckets +
    ≤32-row offsets table — drift_ks_twosample's scheme), so there is
    no single-partition rank pass at any scale."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.filter(F.col("event_type").isin(_MW_A, _MW_B)).select(
        F.round(F.col("value") * 100).cast("long").alias("vc"),
        F.when(F.col("event_type") == _MW_A, 1).otherwise(0).alias("g"),
    )
    return mann_whitney_frame(s)


# ---------------------------------------------------------------------------
# Spearman rank correlation: lineitem quantity vs extended price.
# ---------------------------------------------------------------------------

SPEARMAN_ORACLE = """
WITH pts AS (
  SELECT CAST(ROUND(l_quantity * 100) AS BIGINT) AS xv,
         CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS yv
  FROM lineitem
), bx AS (SELECT xv, CAST(COUNT(*) AS BIGINT) AS cnt FROM pts GROUP BY 1),
cx AS (
  SELECT xv, 2 * CAST(COALESCE(SUM(cnt) OVER (ORDER BY xv
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
    + cnt + 1 AS mr2
  FROM bx
), byv AS (SELECT yv, CAST(COUNT(*) AS BIGINT) AS cnt FROM pts GROUP BY 1),
cy AS (
  SELECT yv, 2 * CAST(COALESCE(SUM(cnt) OVER (ORDER BY yv
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
    + cnt + 1 AS mr2
  FROM byv
), r AS (
  SELECT cx.mr2 AS rx, cy.mr2 AS ry
  FROM pts JOIN cx USING (xv) JOIN cy USING (yv)
), mom AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(CAST(SUM(rx) AS DECIMAL(38,0)) AS DOUBLE) AS sx,
         CAST(CAST(SUM(ry) AS DECIMAL(38,0)) AS DOUBLE) AS sy,
         CAST(CAST(SUM(rx * ry) AS DECIMAL(38,0)) AS DOUBLE) AS sxy,
         CAST(CAST(SUM(rx * rx) AS DECIMAL(38,0)) AS DOUBLE) AS sxx,
         CAST(CAST(SUM(ry * ry) AS DECIMAL(38,0)) AS DOUBLE) AS syy
  FROM r
)
SELECT n,
       (n * sxy - sx * sy)
         / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS rho_spearman
FROM mom
"""


def _spearman_midranks(byv: DataFrame, vcol: str) -> DataFrame:
    """``(vcol, mr2)`` — per-value doubled midranks via the two-level
    distributed prefix (no single-partition window over the values)."""
    from .analytics import with_global_prefix_sums

    cum = with_global_prefix_sums(byv, vcol, ["cnt"])
    return cum.select(
        vcol,
        (2 * (F.col("cum_cnt") - F.col("cnt")) + F.col("cnt") + 1).alias("mr2"),
    )


@register("stats_spearman_corr", oracle=SPEARMAN_ORACLE, tags=("stats", "agg", "scale"))
def stats_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation of order quantity vs extended price —
    Pearson over midranks, the monotone-association measure that is
    immune to the outliers and skew that bend stats_corr_matrix's
    moment-based r. Both variables quantize to integer cents (exact
    ties), midranks are carried ×2 (exact integers), and all five
    regression moments are exact DECIMAL(38) integer sums — the only
    floats are the final fixed IEEE expression tree.

    Scale: per-variable rank tables come from the two-level distributed
    prefix over per-value counts (drift_ks_twosample's scheme); rows
    join their two rank tables on value keys (quantity's ~50 distinct
    values broadcast; price's rank table shuffles once on the cent
    key). No N-row window anywhere."""
    pts = load_table(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_quantity") * 100).cast("long").alias("xv"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("yv"),
    )
    return spearman_frame(pts)


def spearman_frame(pts: DataFrame) -> DataFrame:
    """Core of :func:`stats_spearman_corr` over any ``(xv, yv)`` BIGINT
    frame."""
    li = pts.transform(pin)  # feeds both rank passes + the row join
    bx = li.groupBy("xv").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    by = li.groupBy("yv").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    cx = _spearman_midranks(bx, "xv").withColumnRenamed("mr2", "rx")
    cy = _spearman_midranks(by, "yv").withColumnRenamed("mr2", "ry")
    r = li.join(F.broadcast(cx), "xv").join(cy, "yv")
    d = lambda c: F.sum(c.cast("decimal(38,0)")).cast("double")  # noqa: E731
    mom = r.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        d(F.col("rx")).alias("sx"),
        d(F.col("ry")).alias("sy"),
        d(F.col("rx") * F.col("ry")).alias("sxy"),
        d(F.col("rx") * F.col("rx")).alias("sxx"),
        d(F.col("ry") * F.col("ry")).alias("syy"),
    )
    rho = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / nonzero(
        F.sqrt(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * F.sqrt(F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return mom.select("n", rho.alias("rho_spearman"))


# ---------------------------------------------------------------------------
# Bootstrap CI for A/B lift: treated-vs-control difference of mean order value
# ---------------------------------------------------------------------------


def _lift_boot_oracle() -> str:
    from ..functions.stable import dec_sum_sql
    from .sampling import _bucket_sql

    b = _bucket_sql("o_custkey")
    return f"""
WITH base AS (
  SELECT o_orderkey, o_totalprice,
         CASE WHEN {b} < {DID_TREAT_PCT} THEN 1 ELSE 0 END AS treated
  FROM orders
), obs AS (
  SELECT
    (SELECT {dec_sum_sql('o_totalprice')} / COUNT(*) FROM base WHERE treated = 1)
  - (SELECT {dec_sum_sql('o_totalprice')} / COUNT(*) FROM base WHERE treated = 0)
    AS lift_obs
), {_boot_reps_sql('base', 'o_totalprice, treated')}, weighted AS (
  SELECT b, treated, o_totalprice, {_boot_w_case_sql()} AS w FROM reps
), means AS (
  SELECT b, treated,
         {dec_sum_sql('w * o_totalprice')} / CAST(SUM(w) AS BIGINT) AS m
  FROM weighted GROUP BY b, treated
), diffs AS (
  SELECT b, MAX(CASE WHEN treated = 1 THEN m END)
          - MAX(CASE WHEN treated = 0 THEN m END) AS d
  FROM means GROUP BY b
)
SELECT CAST({BOOT_B} AS BIGINT) AS n_replicates,
       ROUND(o.lift_obs, 4) AS lift_obs,
       ROUND(quantile_cont(d.d, 0.025), 4) AS ci_lo,
       ROUND(quantile_cont(d.d, 0.975), 4) AS ci_hi
FROM diffs d, obs o GROUP BY o.lift_obs
"""


@register("stats_lift_bootstrap_ci", oracle=_lift_boot_oracle(), tags=("stats", "agg", "scale"))
def stats_lift_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap 95% CI for the A/B LIFT (treated-minus-control
    difference of mean order value, exposure = the DiD md5 customer
    split) — the interval the experimentation readout actually ships,
    completing the family: power_mde sizes the test, srm_check guards
    the assignment, diff_in_diff/CUPED estimate, this bounds. Each
    Poisson replicate resamples BOTH arms with the same salted-md5
    weights as agg_bootstrap_ci, so the replicate difference
    distribution needs no variance formula and no normality — and is
    bit-reproducible on any partitioning, any rerun, and in the oracle.

    Scale: one scan exploded ×B with map-side combine into 2B running
    decimal-stable sums; the diff/quantile step touches a B-row frame.
    Hashing runs once per replicate QUAD — see
    :func:`_boot_replicates`."""
    from .sampling import hash_bucket

    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey",
        "o_totalprice",
        F.when(hash_bucket("o_custkey") < DID_TREAT_PCT, 1).otherwise(0).alias("treated"),
    ).transform(pin)  # feeds observed means + B replicates
    arm = lambda t: F.when(F.col("treated") == t, F.col("o_totalprice"))  # noqa: E731
    obs = base.agg(
        (dec_sum(arm(1)) / F.count(arm(1)))
        .alias("m1"),
        (dec_sum(arm(0)) / F.count(arm(0))).alias("m0"),
    ).select((F.col("m1") - F.col("m0")).alias("lift_obs"))
    means = (
        _boot_replicates(base, ["o_totalprice", "treated"])
        .groupBy("b", "treated")
        .agg(
            (
                dec_sum(F.col("w") * F.col("o_totalprice"))
                / nonzero(F.sum("w").cast("long"))
            ).alias("m")
        )
    )
    diffs = means.groupBy("b").agg(
        (
            F.max(F.when(F.col("treated") == 1, F.col("m")))
            - F.max(F.when(F.col("treated") == 0, F.col("m")))
        ).alias("d")
    )
    ci = diffs.agg(
        F.lit(BOOT_B).cast("long").alias("n_replicates"),
        F.round(F.expr("percentile(d, 0.025)"), 4).alias("ci_lo"),
        F.round(F.expr("percentile(d, 0.975)"), 4).alias("ci_hi"),
    )
    return ci.crossJoin(F.broadcast(obs)).select(
        "n_replicates", F.round("lift_obs", 4).alias("lift_obs"), "ci_lo", "ci_hi"
    )


# ---------------------------------------------------------------------------
# Brown-Forsythe variance-equality test (Levene on medians)
# ---------------------------------------------------------------------------

BF_ORACLE = """
WITH vc AS (
  SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS v FROM events
), med AS (
  SELECT event_type, CAST(ROUND(2 * quantile_cont(v, 0.5)) AS BIGINT) AS med2
  FROM vc GROUP BY 1
), x AS (
  SELECT vc.event_type, ABS(2 * vc.v - med.med2) / 200.0 AS d
  FROM vc JOIN med ON vc.event_type = med.event_type
), g AS (
  SELECT event_type, COUNT(*) AS n, {DS} AS s, {DSS} AS ss
  FROM x GROUP BY 1
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(n) AS BIGINT) AS n_tot,
         CAST(SUM(CAST(ROUND(s * 1000000) AS BIGINT)) AS BIGINT) AS s_tot_e6,
         CAST(SUM(CAST(ROUND((s * s / n) * 1000000) AS BIGINT)) AS BIGINT) AS ssb_part_e6,
         CAST(SUM(CAST(ROUND((ss - s * (s / n)) * 1000000) AS BIGINT)) AS BIGINT) AS ssw_e6
  FROM g
)
SELECT k, n_tot,
       ((ssb_part_e6 / 1000000.0
         - (s_tot_e6 / 1000000.0) * (s_tot_e6 / 1000000.0) / n_tot) / (k - 1))
       / ((ssw_e6 / 1000000.0) / (n_tot - k)) AS f_stat
FROM m
"""


def _bf_oracle() -> str:
    from ..functions.stable import dec_sum_sql

    return BF_ORACLE.replace("{DS}", dec_sum_sql("d")).replace(
        "{DSS}", dec_sum_sql("d * d", 4)
    )


@register("stats_brown_forsythe", oracle=_bf_oracle(), tags=("stats", "agg"))
def stats_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe variance-equality test: one-way ANOVA run on
    absolute deviations from each group's MEDIAN — the robust check
    that the t-test/ANOVA equal-variance reading isn't an artifact of
    heavy tails (mean-based Levene breaks down exactly when variances
    differ by outliers; the median centre doesn't). Completes the
    location/dispersion pair: anova asks 'same mean?', this asks
    'same spread?'.

    Exactness: values quantize to cents, group medians carried ×2 (the
    0.5-quantile midpoint a+b is an exact integer), deviations are
    |2v−med2|/200 — one division from exact integers — and the F
    assembly is stats_anova_oneway's ×1e6-quantized per-group terms.
    Scale: one cents pass + per-group exact percentile, medians
    broadcast back, one decimal-stable aggregate."""
    ev = load_table(spark, sf_dir, "events")
    vc = ev.select("event_type", F.round(F.col("value") * 100).cast("long").alias("v"))
    med = vc.groupBy("event_type").agg(
        F.round(2 * F.expr("percentile(v, 0.5)")).cast("long").alias("med2")
    )
    x = vc.join(F.broadcast(med), "event_type").select(
        "event_type",
        (F.abs(2 * F.col("v") - F.col("med2")) / F.lit(200.0)).alias("d"),
    )
    g = x.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        dec_sum("d").alias("s"),
        dec_sum(F.col("d") * F.col("d"), 4).alias("ss"),
    )
    m = g.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n").cast("long").alias("n_tot"),
        F.sum(F.round(F.col("s") * 1_000_000).cast("long")).cast("long").alias("s_tot_e6"),
        F.sum(
            F.round((F.col("s") * F.col("s") / F.col("n")) * 1_000_000).cast("long")
        ).cast("long").alias("ssb_part_e6"),
        F.sum(
            F.round((F.col("ss") - F.col("s") * (F.col("s") / F.col("n"))) * 1_000_000)
            .cast("long")
        ).cast("long").alias("ssw_e6"),
    )
    ssb = (
        F.col("ssb_part_e6") / F.lit(1_000_000.0)
        - (F.col("s_tot_e6") / F.lit(1_000_000.0))
        * (F.col("s_tot_e6") / F.lit(1_000_000.0))
        / F.col("n_tot")
    )
    ssw = F.col("ssw_e6") / F.lit(1_000_000.0)
    return m.select(
        "k",
        "n_tot",
        (
            (ssb / nonzero(F.col("k") - 1))
            / nonzero(ssw / nonzero(F.col("n_tot") - F.col("k")))
        ).alias("f_stat"),
    )


# ---------------------------------------------------------------------------
# Distributed sign-flip permutation test with Benjamini-Hochberg FDR.
# ---------------------------------------------------------------------------

PERM_B = 63  # permutations; p denominator B+1 = 64 keeps p exactly dyadic
FDR_Q = 0.10

_PERM_SIGN_SQL = f"""CASE WHEN b = 0 THEN 1 ELSE
  1 - 2 * ((('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || ':' ||
             CAST(b AS VARCHAR)), 1, 8))::BIGINT) % 2) END"""

PERM_BH_ORACLE = f"""
WITH v AS (
  SELECT o_orderkey, o_orderpriority, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v_e2
  FROM orders
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_tot, CAST(SUM(v_e2) AS BIGINT) AS s_tot
  FROM v
), s AS (
  SELECT o_orderpriority, b,
         CAST(COUNT(*) AS BIGINT) AS n_g,
         CAST(SUM(({_PERM_SIGN_SQL}) * (v_e2 * n_tot - s_tot)) AS BIGINT) AS stat
  FROM v CROSS JOIN tot
       CROSS JOIN (SELECT unnest(generate_series(0, {PERM_B})) AS b) bs
  GROUP BY o_orderpriority, b, n_tot
), obs AS (
  SELECT o_orderpriority, n_g, stat AS s0, abs(stat) AS o FROM s WHERE b = 0
), p AS (
  SELECT o.o_orderpriority, o.n_g, o.s0,
         (1.0 + COUNT(*) FILTER (abs(s.stat) >= o.o)) / {PERM_B + 1}.0 AS p_value
  FROM obs o JOIN s ON s.o_orderpriority = o.o_orderpriority AND s.b > 0
  GROUP BY o.o_orderpriority, o.n_g, o.s0, o.o
), ranked AS (
  SELECT *,
         CAST(ROW_NUMBER() OVER (ORDER BY p_value, o_orderpriority) AS BIGINT) AS bh_rank,
         CAST(COUNT(*) OVER () AS BIGINT) AS m
  FROM p
), adj AS (
  SELECT *,
         LEAST(1.0, MIN(p_value * m / bh_rank) OVER (
           ORDER BY bh_rank ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
           AS p_adj
  FROM ranked
)
SELECT o_orderpriority, n_g AS n,
       CAST(s0 AS DOUBLE) / (100.0 * (SELECT n_tot FROM tot)) AS sum_dev,
       p_value, bh_rank, p_adj, p_adj <= {FDR_Q} AS reject
FROM adj
"""


@register("stats_perm_test_bh", oracle=PERM_BH_ORACLE, tags=("stats", "scale"))
def stats_perm_test_bh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed sign-flip permutation test per o_orderpriority (H0: the
    group's values are centered on the global mean) with
    Benjamini-Hochberg step-up FDR control across the group family —
    the screening loop a feature platform runs over thousands of
    candidate segments, where per-test p-values without FDR control
    would drown in false discoveries.

    Exactness: the test statistic is kept in INTEGER arithmetic
    end-to-end — values quantized to cents, centered by multiplying
    through by n_tot (stat = Σ sign·(v·n_tot − Σv), no division), and
    permutation signs drawn from md5(o_orderkey:b) parity, so the
    |stat| ≥ |observed| comparisons and hence every p-value are exact
    rationals with denominator B+1 = 64 (dyadic → bit-identical
    doubles). The only floating point is the two emitted report
    divisions. At 100 TB the Σ sign·c terms outgrow int64 — swap the
    final SUM to DECIMAL(38,0) (same plan shape); B scales compute
    linearly and shuffle stays |groups|×(B+1) rows.

    BH machinery: rank groups by p, scale by m/rank, then the step-up
    suffix running-min over the tiny |groups| frame (tiny_frame_key
    window) — the adjusted p is monotone by construction.

    On this fixture no priority class rejects at q=0.10 (the honest
    answer: a ~3% mean gap under a ~60% CV price distribution is not
    separable at n≈3k) — the reject branch is exercised with planted
    signal in ``tests/test_stats_ops.py``.
    """
    v = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v_e2"),
    )
    return perm_bh_frame(v, "o_orderkey", "o_orderpriority")


def perm_bh_frame(v: DataFrame, id_col: str, group_col: str) -> DataFrame:
    """Core of :func:`stats_perm_test_bh` over any frame with columns
    (id_col, group_col, v_e2) — exposed so tests can drive the reject
    branch with planted effects."""
    from pyspark.sql import Window

    from ..session import tiny_frame_key

    tot = v.agg(
        F.count(F.lit(1)).cast("long").alias("n_tot"),
        F.sum("v_e2").cast("long").alias("s_tot"),
    )
    vb = (
        v.crossJoin(F.broadcast(tot))
        .withColumn("b", F.explode(F.sequence(F.lit(0), F.lit(PERM_B))))
    )
    parity = F.pmod(
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col(id_col).cast("string"),
                        F.lit(":"),
                        F.col("b").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long"),
        F.lit(2),
    )
    sign = F.when(F.col("b") == 0, F.lit(1)).otherwise(F.lit(1) - 2 * parity)
    centered = F.col("v_e2") * F.col("n_tot") - F.col("s_tot")
    s = vb.groupBy(group_col, "b", "n_tot").agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum(sign * centered).cast("long").alias("stat"),
    )
    obs = s.filter(F.col("b") == 0).select(
        group_col, F.col("stat").alias("s0"), F.abs("stat").alias("o")
    )
    p = (
        s.filter(F.col("b") > 0)
        .join(F.broadcast(obs), group_col)
        .groupBy(group_col, "n_tot", "n_g", "s0")
        .agg(
            (
                (
                    F.lit(1.0)
                    + F.sum((F.abs("stat") >= F.col("o")).cast("long"))
                )
                / F.lit(float(PERM_B + 1))
            ).alias("p_value")
        )
    )
    w_all = Window.partitionBy(tiny_frame_key("n_g"))
    ranked = p.withColumn(
        "bh_rank", F.row_number().over(w_all.orderBy("p_value", group_col)).cast("long")
    ).withColumn("m", F.count(F.lit(1)).over(w_all).cast("long"))
    suffix_min = F.min(F.col("p_value") * F.col("m") / F.col("bh_rank")).over(
        w_all.orderBy("bh_rank").rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    adj = ranked.withColumn("p_adj", F.least(F.lit(1.0), suffix_min))
    return adj.select(
        group_col,
        F.col("n_g").alias("n"),
        (F.col("s0").cast("double") / (F.lit(100.0) * F.col("n_tot"))).alias("sum_dev"),
        "p_value",
        "bh_rank",
        "p_adj",
        (F.col("p_adj") <= FDR_Q).alias("reject"),
    )


# ---------------------------------------------------------------------------
# Benford first-digit fraud/DQ screen.
# ---------------------------------------------------------------------------

# round(log10(1 + 1/d) * 1e6) — exact integer literals shared by both
# engines, so no runtime log10 can diverge.
BENFORD_E6 = {
    1: 301030, 2: 176091, 3: 124939, 4: 96910, 5: 79181,
    6: 66947, 7: 57992, 8: 51153, 9: 45757,
}

_BENFORD_CASE = (
    "CASE digit " + " ".join(f"WHEN {d} THEN {p}" for d, p in BENFORD_E6.items()) + " END"
)

BENFORD_ORACLE = f"""
WITH v AS (
  SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT)
           AS digit
  FROM orders WHERE o_totalprice >= 1
), c AS (
  SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM v GROUP BY 1
), t AS (
  SELECT *, SUM(n) OVER () AS n_tot FROM c
)
SELECT digit, n,
       CAST(n AS DOUBLE) / n_tot AS observed,
       CAST({_BENFORD_CASE} AS BIGINT) AS expected_e6,
       CAST(ROUND(
         (CAST(n AS DOUBLE) / n_tot - {_BENFORD_CASE} / 1e6)
         * (CAST(n AS DOUBLE) / n_tot - {_BENFORD_CASE} / 1e6)
         / ({_BENFORD_CASE} / 1e6) * n_tot * 1000000) AS BIGINT) AS chi2_term_e6
FROM t
"""


@register("stats_benford_screen", oracle=BENFORD_ORACLE, tags=("stats", "dq"))
def stats_benford_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit screen over order totals — the classic
    fabricated-numbers detector an audit pipeline runs on monetary
    columns: natural multiplicative amounts follow P(d) = log10(1+1/d);
    invented ones cluster on middle digits. Emits per-digit counts,
    observed share, the expected Benford probability (×1e6 integer
    LITERALS baked into both engines — no runtime log10 to diverge),
    and the per-digit chi-square contribution (×1e6, rounded per term
    so the order-independent integer total is engine-exact).

    The first digit comes from floor → string → first char (explicit
    FLOOR: a bare double→BIGINT cast truncates in Spark but rounds in
    DuckDB):
    pure string arithmetic, identical in both engines, no log10 on
    data. One map-side-combined aggregate to 9 rows; the share/chi2
    arithmetic runs on that tiny frame. (The fixture's uniform-ish
    synthetic prices do NOT follow Benford — the screen correctly
    flags them; the test asserts the chi2 is large, plus bookkeeping
    identities.)"""
    from pyspark.sql import Window

    from ..session import tiny_frame_key

    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    v = o.select(
        F.substring(
            F.floor("o_totalprice").cast("long").cast("string"), 1, 1
        ).cast("long").alias("digit")
    )
    c = v.groupBy("digit").agg(F.count(F.lit(1)).cast("long").alias("n"))
    t = c.withColumn(
        "n_tot", F.sum("n").over(Window.partitionBy(tiny_frame_key("n")))
    )
    exp_col = None
    for d, p in BENFORD_E6.items():
        exp_col = F.when(F.col("digit") == d, F.lit(p)) if exp_col is None else exp_col.when(
            F.col("digit") == d, F.lit(p)
        )
    obs = F.col("n").cast("double") / F.col("n_tot")
    exp_p = exp_col / F.lit(1e6)
    return t.select(
        "digit",
        "n",
        obs.alias("observed"),
        exp_col.cast("long").alias("expected_e6"),
        F.round((obs - exp_p) * (obs - exp_p) / exp_p * F.col("n_tot") * 1_000_000)
        .cast("long")
        .alias("chi2_term_e6"),
    )


# ---------------------------------------------------------------------------
# TOST equivalence test (two one-sided tests) with a margin sweep.
# ---------------------------------------------------------------------------

TOST_MARGINS = (2, 5, 10)  # equivalence margins in value units
TOST_Z_CRIT_E6 = 1_644_854  # z(0.95) ×1e6, a shared literal

TOST_ORACLE = f"""
WITH m AS (
  SELECT
    COUNT(*) FILTER (event_type = '{_TT_A}') AS n1,
    COUNT(*) FILTER (event_type = '{_TT_B}') AS n2,
    {dec_sum_sql("CASE WHEN event_type = '" + _TT_A + "' THEN value END")} AS s1,
    {dec_sum_sql("CASE WHEN event_type = '" + _TT_B + "' THEN value END")} AS s2,
    {dec_sum_sql("CASE WHEN event_type = '" + _TT_A + "' THEN value * value END", 4)} AS ss1,
    {dec_sum_sql("CASE WHEN event_type = '" + _TT_B + "' THEN value * value END", 4)} AS ss2
  FROM events
), st AS (
  SELECT n1, n2, s1 / n1 AS m1, s2 / n2 AS m2,
         sqrt(((ss1 - s1 * (s1 / n1)) / (n1 - 1)) / n1
              + ((ss2 - s2 * (s2 / n2)) / (n2 - 1)) / n2) AS se
  FROM m
)
SELECT CAST(mg.margin AS BIGINT) AS margin,
       CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
       m1 - m2 AS diff, se,
       ((m1 - m2) + mg.margin) / se AS t_lower,
       (mg.margin - (m1 - m2)) / se AS t_upper,
       ((m1 - m2) + mg.margin) / se > {TOST_Z_CRIT_E6} / 1e6
         AND (mg.margin - (m1 - m2)) / se > {TOST_Z_CRIT_E6} / 1e6 AS equivalent
FROM st, (SELECT unnest([{", ".join(str(m) for m in TOST_MARGINS)}]) AS margin) mg
"""


@register("stats_tost_equivalence", oracle=TOST_ORACLE, tags=("stats",))
def stats_tost_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOST equivalence testing (two one-sided tests) of click vs
    purchase mean values — the inferential question a difference test
    cannot answer: is the new variant provably NO WORSE than ±δ? Both
    one-sided z statistics must clear z(0.95) (shared ×1e6 literal —
    no runtime quantile function). Swept over three margins so the
    fixture exercises both decisions: the tight margin fails (can't
    prove equivalence), the wide one passes.

    Same one-pass conditional-aggregate state as stats_welch_ttest —
    six decimal-stable numbers, map-side combined; the margin sweep is
    a 3-row broadcast expansion of the 1-row state."""
    ev = load_table(spark, sf_dir, "events")
    val_a = F.when(F.col("event_type") == _TT_A, F.col("value"))
    val_b = F.when(F.col("event_type") == _TT_B, F.col("value"))
    m = ev.agg(
        F.count(val_a).alias("n1"),
        F.count(val_b).alias("n2"),
        dec_sum(val_a).alias("s1"),
        dec_sum(val_b).alias("s2"),
        dec_sum(val_a * val_a, 4).alias("ss1"),
        dec_sum(val_b * val_b, 4).alias("ss2"),
    )
    st = m.select(
        "n1",
        "n2",
        (F.col("s1") / F.col("n1") - F.col("s2") / F.col("n2")).alias("diff"),
        F.sqrt(
            ((F.col("ss1") - F.col("s1") * (F.col("s1") / F.col("n1"))) / (F.col("n1") - 1))
            / F.col("n1")
            + ((F.col("ss2") - F.col("s2") * (F.col("s2") / F.col("n2"))) / (F.col("n2") - 1))
            / F.col("n2")
        ).alias("se"),
    )
    margins = st.select(
        "*", F.explode(F.array(*[F.lit(mm) for mm in TOST_MARGINS])).alias("margin")
    )
    crit = TOST_Z_CRIT_E6 / 1e6
    t_lower = (F.col("diff") + F.col("margin")) / F.col("se")
    t_upper = (F.col("margin") - F.col("diff")) / F.col("se")
    return margins.select(
        F.col("margin").cast("long").alias("margin"),
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        "diff",
        "se",
        t_lower.alias("t_lower"),
        t_upper.alias("t_upper"),
        ((t_lower > crit) & (t_upper > crit)).alias("equivalent"),
    )


# ---------------------------------------------------------------------------
# Multivariate OLS via normal equations (closed form, one scan).
# ---------------------------------------------------------------------------

OLS_ORACLE = f"""
WITH m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         {dec_sum_sql("l_quantity")} AS sq,
         {dec_sum_sql("l_discount", 4)} AS sd,
         {dec_sum_sql("l_quantity * l_quantity")} AS sqq,
         {dec_sum_sql("l_discount * l_discount", 6)} AS sdd,
         {dec_sum_sql("l_quantity * l_discount", 4)} AS sqd,
         {dec_sum_sql("l_extendedprice")} AS sy,
         {dec_sum_sql("l_quantity * l_extendedprice")} AS sqy,
         {dec_sum_sql("l_discount * l_extendedprice")} AS sdy,
         {dec_sum_sql("l_extendedprice * l_extendedprice")} AS syy
  FROM lineitem
), det AS (
  SELECT *,
    n * (sqq * sdd - sqd * sqd) - sq * (sq * sdd - sqd * sd)
      + sd * (sq * sqd - sqq * sd) AS d0,
    sy * (sqq * sdd - sqd * sqd) - sq * (sqy * sdd - sqd * sdy)
      + sd * (sqy * sqd - sqq * sdy) AS d_b0,
    n * (sqy * sdd - sqd * sdy) - sy * (sq * sdd - sqd * sd)
      + sd * (sq * sdy - sqy * sd) AS d_b1,
    n * (sqq * sdy - sqy * sqd) - sq * (sq * sdy - sqy * sd)
      + sy * (sq * sqd - sqq * sd) AS d_b2
  FROM m
)
SELECT n,
       d_b0 / d0 AS beta0,
       d_b1 / d0 AS beta1,
       d_b2 / d0 AS beta2,
       1.0 - (syy - (d_b0 / d0) * sy - (d_b1 / d0) * sqy - (d_b2 / d0) * sdy)
             / (syy - sy * sy / n) AS r2
FROM det
"""


@register("stats_ols_normal_equations", oracle=OLS_ORACLE, tags=("stats", "mlfeat", "scale"))
def stats_ols_normal_equations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multivariate OLS (price ~ quantity + discount) in closed form:
    ONE map-side-combined scan collects the ten cross-moments of the
    normal equations, the 3×3 system solves by Cramer's rule on the
    driver-free 1-row frame, and R² falls out of the same moments —
    distributed linear regression with zero iterations, the pattern
    that fits a per-segment price model at 100 TB without any
    optimizer loop (extend the moment list for more features; switch
    to QR only when the feature count makes the normal equations
    ill-conditioned).

    Exactness: every moment is a decimal-stable sum (order-independent)
    and the Cramer determinants are one fixed double tree per column,
    written with the same association in both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    q, d, y = F.col("l_quantity"), F.col("l_discount"), F.col("l_extendedprice")
    m = li.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        dec_sum(q).alias("sq"),
        dec_sum(d, 4).alias("sd"),
        dec_sum(q * q).alias("sqq"),
        dec_sum(d * d, 6).alias("sdd"),
        dec_sum(q * d, 4).alias("sqd"),
        dec_sum(y).alias("sy"),
        dec_sum(q * y).alias("sqy"),
        dec_sum(d * y).alias("sdy"),
        dec_sum(y * y).alias("syy"),
    )
    c = {k: F.col(k) for k in ("n", "sq", "sd", "sqq", "sdd", "sqd", "sy", "sqy", "sdy", "syy")}
    d0 = (
        c["n"] * (c["sqq"] * c["sdd"] - c["sqd"] * c["sqd"])
        - c["sq"] * (c["sq"] * c["sdd"] - c["sqd"] * c["sd"])
        + c["sd"] * (c["sq"] * c["sqd"] - c["sqq"] * c["sd"])
    )
    d_b0 = (
        c["sy"] * (c["sqq"] * c["sdd"] - c["sqd"] * c["sqd"])
        - c["sq"] * (c["sqy"] * c["sdd"] - c["sqd"] * c["sdy"])
        + c["sd"] * (c["sqy"] * c["sqd"] - c["sqq"] * c["sdy"])
    )
    d_b1 = (
        c["n"] * (c["sqy"] * c["sdd"] - c["sqd"] * c["sdy"])
        - c["sy"] * (c["sq"] * c["sdd"] - c["sqd"] * c["sd"])
        + c["sd"] * (c["sq"] * c["sdy"] - c["sqy"] * c["sd"])
    )
    d_b2 = (
        c["n"] * (c["sqq"] * c["sdy"] - c["sqy"] * c["sqd"])
        - c["sq"] * (c["sq"] * c["sdy"] - c["sqy"] * c["sd"])
        + c["sy"] * (c["sq"] * c["sqd"] - c["sqq"] * c["sd"])
    )
    b0, b1, b2 = d_b0 / d0, d_b1 / d0, d_b2 / d0
    r2 = 1.0 - (
        c["syy"] - b0 * c["sy"] - b1 * c["sqy"] - b2 * c["sdy"]
    ) / (c["syy"] - c["sy"] * c["sy"] / c["n"])
    return m.select(
        "n",
        b0.alias("beta0"),
        b1.alias("beta1"),
        b2.alias("beta2"),
        r2.alias("r2"),
    )


# ---------------------------------------------------------------------------
# Distributed logistic regression: unrolled Newton/IRLS iterations.
# ---------------------------------------------------------------------------

LOGIT_STEPS = 3  # Newton steps from beta = 0 (fixture converges by 3)

_LOGIT_BASE_SQL = """
  SELECT CASE WHEN r.l_orderkey IS NULL THEN 0 ELSE 1 END AS y,
         o.o_totalprice / 100000 AS x1,
         CAST(substr(o.o_orderpriority, 1, 1) AS INT) / 5.0 AS x2
  FROM orders o LEFT JOIN (SELECT DISTINCT l_orderkey FROM lineitem
                           WHERE l_returnflag = 'R') r
  ON o.o_orderkey = r.l_orderkey
"""

# Shared per-iteration formulas, rendered into BOTH engines verbatim.
_LOGIT_P = "(1.0 / (1.0 + exp(-({b0} + {b1} * x1 + {b2} * x2))))"
_LOGIT_TERMS = {
    "h11": "{w}",
    "h12": "{w} * x1",
    "h13": "{w} * x2",
    "h22": "{w} * x1 * x1",
    "h23": "{w} * x1 * x2",
    "h33": "{w} * x2 * x2",
    "g1": "(y - {p})",
    "g2": "(y - {p}) * x1",
    "g3": "(y - {p}) * x2",
}


def _logit_delta_exprs(c):
    """Cramer's-rule Newton step over moment columns (callable on both
    Spark Columns and plain SQL strings via operator overloading is
    not possible for strings — so this builds the SHARED formula text;
    the Spark side mirrors it 1:1 below)."""
    return {
        "det": "(h11 * (h22 * h33 - h23 * h23) - h12 * (h12 * h33 - h23 * h13)"
        " + h13 * (h12 * h23 - h22 * h13))",
        "d1": "(g1 * (h22 * h33 - h23 * h23) - h12 * (g2 * h33 - h23 * g3)"
        " + h13 * (g2 * h23 - h22 * g3))",
        "d2": "(h11 * (g2 * h33 - g3 * h23) - g1 * (h12 * h33 - h23 * h13)"
        " + h13 * (h12 * g3 - g2 * h13))",
        "d3": "(h11 * (h22 * g3 - h23 * g2) - h12 * (h12 * g3 - g2 * h13)"
        " + g1 * (h12 * h23 - h22 * h13))",
    }


def _logit_oracle() -> str:
    parts = [
        f"base AS ({_LOGIT_BASE_SQL})",
        "bs0 AS (SELECT 0.0 AS b0, 0.0 AS b1, 0.0 AS b2)",
    ]
    p = _LOGIT_P.format(b0="b0", b1="b1", b2="b2")
    w = f"({p} * (1.0 - {p}))"
    d = _logit_delta_exprs(None)
    for t in range(LOGIT_STEPS):
        sums = ", ".join(
            f"CAST(SUM(CAST(ROUND(({expr.format(w=w, p=p)}) * 1000000) AS BIGINT)) AS DOUBLE)"
            f" / 1000000 AS {k}"
            for k, expr in _LOGIT_TERMS.items()
        )
        parts.append(
            f"m{t} AS (SELECT {sums}, ANY_VALUE(b0) AS pb0, ANY_VALUE(b1) AS pb1, "
            f"ANY_VALUE(b2) AS pb2 FROM base, bs{t})"
        )
        parts.append(
            f"bs{t + 1} AS (SELECT "
            f"pb0 + {d['d1']} / {d['det']} AS b0, "
            f"pb1 + {d['d2']} / {d['det']} AS b1, "
            f"pb2 + {d['d3']} / {d['det']} AS b2 FROM m{t})"
        )
    return f"""
WITH {", ".join(parts)}
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       ANY_VALUE(b0) AS beta0, ANY_VALUE(b1) AS beta1, ANY_VALUE(b2) AS beta2,
       CAST(SUM(CAST(ROUND((y * ln({p}) + (1 - y) * ln(1.0 - {p})) * 1000000)
                AS BIGINT)) AS BIGINT) AS loglik_e6
FROM base, bs{LOGIT_STEPS}
"""


@register("stats_logistic_newton", oracle=_logit_oracle(), tags=("stats", "mlfeat", "iterative", "scale"))
def stats_logistic_newton(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed logistic regression (order-returned ~ total price +
    priority) by {LOGIT_STEPS} unrolled Newton/IRLS steps: each step is
    ONE map-side-combined scan collecting the 9 weighted cross-moments
    (Hessian + gradient), then a Cramer 3×3 solve on the 1-row frame —
    the moment-sketch training loop that fits a GLM on 100 TB with
    O(steps) scans and no per-row state, exactly how Spark MLlib's
    normal-equation solvers work internally.

    Cross-engine exactness for an ITERATIVE float algorithm: every
    per-row term (w·x_j·x_k, (y−p)·x_j, per-row log-likelihood) is
    rounded to a ×1e6 integer BEFORE summation, so each iteration's
    moments — and therefore the next β, which feeds the next exp() —
    are bit-identical in both engines; the shared formula strings are
    rendered into the oracle and mirrored 1:1 in Column algebra.
    Convergence: the fixture's β moves < 1e-3 between steps 2 and 3
    (asserted, plus a log-likelihood-improves-over-null gate)."""
    orders = load_table(spark, sf_dir, "orders")
    returned = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey")
        .distinct()
    )
    base = (
        orders.join(returned, orders.o_orderkey == returned.l_orderkey, "left")
        .select(
            F.when(F.col("l_orderkey").isNull(), 0).otherwise(1).alias("y"),
            (F.col("o_totalprice") / 100000).alias("x1"),
            (F.substring("o_orderpriority", 1, 1).cast("int") / 5.0).alias("x2"),
        )
        .transform(pin)
    )

    def rsum(col):
        return F.sum(F.round(col * 1_000_000).cast("long")).cast("double") / 1_000_000

    b = (F.lit(0.0), F.lit(0.0), F.lit(0.0))
    beta_row = None
    for _ in range(LOGIT_STEPS):
        if beta_row is not None:
            src = base.crossJoin(F.broadcast(beta_row))
            b = (F.col("b0"), F.col("b1"), F.col("b2"))
        else:
            src = base
        eta = b[0] + b[1] * F.col("x1") + b[2] * F.col("x2")
        p = 1.0 / (1.0 + F.exp(-eta))
        w = p * (1.0 - p)
        m = src.agg(
            rsum(w).alias("h11"),
            rsum(w * F.col("x1")).alias("h12"),
            rsum(w * F.col("x2")).alias("h13"),
            rsum(w * F.col("x1") * F.col("x1")).alias("h22"),
            rsum(w * F.col("x1") * F.col("x2")).alias("h23"),
            rsum(w * F.col("x2") * F.col("x2")).alias("h33"),
            rsum(F.col("y") - p).alias("g1"),
            rsum((F.col("y") - p) * F.col("x1")).alias("g2"),
            rsum((F.col("y") - p) * F.col("x2")).alias("g3"),
            *( [F.first("b0").alias("pb0"), F.first("b1").alias("pb1"), F.first("b2").alias("pb2")]
               if beta_row is not None else [] ),
        )
        h = {k: F.col(k) for k in ("h11", "h12", "h13", "h22", "h23", "h33", "g1", "g2", "g3")}
        det = (
            h["h11"] * (h["h22"] * h["h33"] - h["h23"] * h["h23"])
            - h["h12"] * (h["h12"] * h["h33"] - h["h23"] * h["h13"])
            + h["h13"] * (h["h12"] * h["h23"] - h["h22"] * h["h13"])
        )
        d1 = (
            h["g1"] * (h["h22"] * h["h33"] - h["h23"] * h["h23"])
            - h["h12"] * (h["g2"] * h["h33"] - h["h23"] * h["g3"])
            + h["h13"] * (h["g2"] * h["h23"] - h["h22"] * h["g3"])
        )
        d2 = (
            h["h11"] * (h["g2"] * h["h33"] - h["g3"] * h["h23"])
            - h["g1"] * (h["h12"] * h["h33"] - h["h23"] * h["h13"])
            + h["h13"] * (h["h12"] * h["g3"] - h["g2"] * h["h13"])
        )
        d3 = (
            h["h11"] * (h["h22"] * h["g3"] - h["h23"] * h["g2"])
            - h["h12"] * (h["h12"] * h["g3"] - h["g2"] * h["h13"])
            + h["g1"] * (h["h12"] * h["h23"] - h["h22"] * h["h13"])
        )
        prev = (
            (F.col("pb0"), F.col("pb1"), F.col("pb2"))
            if beta_row is not None
            else (F.lit(0.0), F.lit(0.0), F.lit(0.0))
        )
        beta_row = m.select(
            (prev[0] + d1 / det).alias("b0"),
            (prev[1] + d2 / det).alias("b1"),
            (prev[2] + d3 / det).alias("b2"),
        ).transform(pin_eager)
    fin = base.crossJoin(F.broadcast(beta_row))
    eta = F.col("b0") + F.col("b1") * F.col("x1") + F.col("b2") * F.col("x2")
    p = 1.0 / (1.0 + F.exp(-eta))
    return fin.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.first("b0").alias("beta0"),
        F.first("b1").alias("beta1"),
        F.first("b2").alias("beta2"),
        F.sum(
            F.round(
                (F.col("y") * F.log(p) + (1 - F.col("y")) * F.log(1.0 - p)) * 1_000_000
            ).cast("long")
        )
        .cast("long")
        .alias("loglik_e6"),
    )


# ---------------------------------------------------------------------------
# One-way fixed-effects (within) estimator vs pooled OLS.
# ---------------------------------------------------------------------------

FE_ORACLE = f"""
WITH g AS (
  SELECT l_partkey,
         CAST(COUNT(*) AS BIGINT) AS n_g,
         {dec_sum_sql("l_discount", 4)} AS sx,
         {dec_sum_sql("l_extendedprice")} AS sy,
         {dec_sum_sql("l_discount * l_discount", 6)} AS sxx,
         {dec_sum_sql("l_discount * l_extendedprice")} AS sxy
  FROM lineitem GROUP BY 1
), corr AS (
  SELECT CAST(SUM(n_g) AS BIGINT) AS n,
         CAST(COUNT(*) AS BIGINT) AS n_groups,
         CAST(SUM(CAST(ROUND(sx * 1000000) AS BIGINT)) AS DOUBLE) / 1000000 AS sx_t,
         CAST(SUM(CAST(ROUND(sy * 100) AS BIGINT)) AS DOUBLE) / 100 AS sy_t,
         CAST(SUM(CAST(ROUND(sxx * 1000000) AS BIGINT)) AS DOUBLE) / 1000000 AS sxx_t,
         CAST(SUM(CAST(ROUND(sxy * 100) AS BIGINT)) AS DOUBLE) / 100 AS sxy_t,
         CAST(SUM(CAST(ROUND(sx * sy / n_g * 100) AS BIGINT)) AS DOUBLE) / 100
           AS sxy_between,
         CAST(SUM(CAST(ROUND(sx * sx / n_g * 1000000) AS BIGINT)) AS DOUBLE) / 1000000
           AS sxx_between
  FROM g
)
SELECT n, n_groups,
       (sxy_t - sx_t * sy_t / n) / (sxx_t - sx_t * sx_t / n) AS slope_pooled,
       (sxy_t - sxy_between) / (sxx_t - sxx_between) AS slope_within
FROM corr
"""


@register("stats_fixed_effects_ols", oracle=FE_ORACLE, tags=("stats", "scale"))
def stats_fixed_effects_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way fixed-effects (within) estimator of price on discount
    with part fixed effects, next to the pooled OLS slope — the
    econometric workhorse that answers "does the relationship hold
    WITHIN each part, or is it an artifact of between-part
    differences?" without materializing a dummy per part: the within
    slope is (Σxy − Σ_g SxSy/n_g) / (Σx² − Σ_g Sx²/n_g), i.e. total
    moments minus between-group moments — one groupBy to the |parts|
    frame, then a second tiny aggregate; demeaning never touches the
    fact rows. The per-group correction terms are rounded to fixed
    point BEFORE the outer sum (order independence), all leaf sums are
    decimal-stable, and the two emitted slopes are single double
    divisions. Verified against an explicitly-demeaned numpy fit in
    tests."""
    li = load_table(spark, sf_dir, "lineitem")
    x, y = F.col("l_discount"), F.col("l_extendedprice")
    g = li.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        dec_sum(x, 4).alias("sx"),
        dec_sum(y).alias("sy"),
        dec_sum(x * x, 6).alias("sxx"),
        dec_sum(x * y).alias("sxy"),
    )

    def rs(col, m):
        return F.sum(F.round(col * m).cast("long")).cast("double") / m

    corr = g.agg(
        F.sum("n_g").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        rs(F.col("sx"), 1_000_000).alias("sx_t"),
        rs(F.col("sy"), 100).alias("sy_t"),
        rs(F.col("sxx"), 1_000_000).alias("sxx_t"),
        rs(F.col("sxy"), 100).alias("sxy_t"),
        rs(F.col("sx") * F.col("sy") / F.col("n_g"), 100).alias("sxy_between"),
        rs(F.col("sx") * F.col("sx") / F.col("n_g"), 1_000_000).alias("sxx_between"),
    )
    return corr.select(
        "n",
        "n_groups",
        (
            (F.col("sxy_t") - F.col("sx_t") * F.col("sy_t") / F.col("n"))
            / nonzero(F.col("sxx_t") - F.col("sx_t") * F.col("sx_t") / F.col("n"))
        ).alias("slope_pooled"),
        (
            (F.col("sxy_t") - F.col("sxy_between"))
            / nonzero(F.col("sxx_t") - F.col("sxx_between"))
        ).alias("slope_within"),
    )


# ---------------------------------------------------------------------------
# Poisson overdispersion screen (count data sanity before modeling).
# ---------------------------------------------------------------------------

OVERDISP_ORACLE = """
WITH daily AS (
  SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
         CAST(COUNT(*) AS BIGINT) AS k
  FROM events GROUP BY 1, 2
), per_user AS (
  SELECT user_id,
         CAST(COUNT(*) AS BIGINT) AS n_days,
         CAST(SUM(k) AS BIGINT) AS total,
         CAST(SUM(k * k) AS BIGINT) AS total_sq
  FROM daily GROUP BY 1
), stats AS (
  SELECT user_id, n_days, total,
         CAST(total AS DOUBLE) / n_days AS mean_k,
         (CAST(total_sq AS DOUBLE) - CAST(total AS DOUBLE) * total / n_days)
           / (n_days - 1) AS var_k
  FROM per_user WHERE n_days >= 10
)
SELECT user_id, n_days, total, mean_k, var_k,
       var_k / mean_k AS dispersion,
       var_k / mean_k > 1.5 AS overdispersed
FROM stats
"""


@register("stats_overdispersion_screen", oracle=OVERDISP_ORACLE, tags=("stats", "events"))
def stats_overdispersion_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson overdispersion screen on per-user daily event counts —
    the sanity gate before any count model or Poisson-based alert
    threshold: a Poisson series has variance ≈ mean (dispersion ≈ 1);
    dispersion ≫ 1 means bursty/contagious behavior and a negative-
    binomial (or per-user) model instead. Emits per-user mean,
    variance, dispersion index and a > 1.5 flag for users with ≥ 10
    active days. Integer count moments (k, k²) per user — exact — with
    two double divisions at emission; two map-side-combined aggregates
    and nothing else."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("k"))
    per_user = daily.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("k").cast("long").alias("total"),
        F.sum(F.col("k") * F.col("k")).cast("long").alias("total_sq"),
    ).filter(F.col("n_days") >= 10)
    mean_k = F.col("total").cast("double") / F.col("n_days")
    var_k = (
        F.col("total_sq").cast("double")
        - F.col("total").cast("double") * F.col("total") / F.col("n_days")
    ) / (F.col("n_days") - 1)
    return per_user.select(
        "user_id",
        "n_days",
        "total",
        mean_k.alias("mean_k"),
        var_k.alias("var_k"),
        (var_k / mean_k).alias("dispersion"),
        (var_k / mean_k > 1.5).alias("overdispersed"),
    )


# ---------------------------------------------------------------------------
# Theil–Sen robust daily trend of the hourly event-volume series
# ---------------------------------------------------------------------------

_US_1D = 86_400_000_000

THEIL_SEN_ORACLE = f"""
WITH hourly AS (
  SELECT (epoch_us(ts) // {_US_1D}) AS day_idx,
         (epoch_us(ts) % {_US_1D}) // {_US_1H} AS h,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
), pairs AS (
  SELECT a.day_idx, a.h AS h1, b.h AS h2,
         (b.c - a.c) * 1000000 // (b.h - a.h) AS slope_e6
  FROM hourly a JOIN hourly b
    ON a.day_idx = b.day_idx AND b.h > a.h
), ranked AS (
  SELECT day_idx, slope_e6,
         ROW_NUMBER() OVER (PARTITION BY day_idx
                            ORDER BY slope_e6, h1, h2) AS rn,
         COUNT(*) OVER (PARTITION BY day_idx) AS n_pairs
  FROM pairs
)
SELECT day_idx, CAST(n_pairs AS BIGINT) AS n_pairs,
       slope_e6 AS theil_sen_slope_e6
FROM ranked WHERE rn = (n_pairs + 1) // 2
"""


@register("stats_theil_sen_slope", oracle=THEIL_SEN_ORACLE, tags=("stats", "events", "window"))
def stats_theil_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust intraday trend: for each day, the (lower)
    median of all pairwise slopes (c₂−c₁)/(h₂−h₁) over that day's
    hour-of-day event-count series — the classic high-breakdown
    (29.3%) alternative to OLS slope, immune to a few outlier hours
    (incident spikes) that would drag ``events_linear_trend``.

    The pairwise enumeration is quadratic ONLY within a day's ≤24-row
    hourly series (≤276 pairs/day, a constant), joined on the day key —
    so total work is linear in days and the plan survives any corpus
    scale; the raw event table is touched once, collapsed to (day,
    hour) counts before any pairing. Slopes are ×1e6 fixed-point with
    truncating integer division (Spark ``div`` and DuckDB ``//`` both
    truncate toward zero, negative slopes included) and the median is
    the deterministic lower median via a total-order rank (slope, h1,
    h2) — engine-exact, no doubles anywhere."""
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.select(
            F.expr(f"unix_micros(ts) div {_US_1D}").alias("day_idx"),
            F.expr(f"(unix_micros(ts) % {_US_1D}) div {_US_1H}").alias("h"),
        )
        .groupBy("day_idx", "h")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    a = hourly.alias("a")
    b = hourly.alias("b")
    pairs = a.join(
        b,
        (F.col("a.day_idx") == F.col("b.day_idx")) & (F.col("b.h") > F.col("a.h")),
    ).select(
        F.col("a.day_idx").alias("day_idx"),
        F.col("a.h").alias("h1"),
        F.col("b.h").alias("h2"),
        F.expr("(b.c - a.c) * 1000000 div (b.h - a.h)").alias("slope_e6"),
    )
    wp = W.partitionBy("day_idx")
    ranked = pairs.select(
        "day_idx",
        "slope_e6",
        F.row_number().over(wp.orderBy("slope_e6", "h1", "h2")).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("n_pairs"),
    )
    return ranked.filter(F.col("rn") == F.expr("(n_pairs + 1) div 2")).select(
        "day_idx",
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.col("slope_e6").alias("theil_sen_slope_e6"),
    )


# ---------------------------------------------------------------------------
# Two-proportion z-test: the canonical A/B conversion-rate test.
# ---------------------------------------------------------------------------

Z_CRIT_95 = 1.959963984540054  # two-sided 5% critical value
PROP_CONV_MIN = 14  # 'power user' conversion: >= 14 purchases (p ~ 0.5 at every SF)

PROP_ZTEST_ORACLE = f"""
WITH u AS (
  SELECT user_id,
         CASE WHEN COUNT(*) FILTER (event_type = 'purchase') >= {PROP_CONV_MIN}
              THEN 1 ELSE 0 END AS converted
  FROM events GROUP BY 1
), armed AS (
  SELECT converted,
         CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 = 0
              THEN 'A' ELSE 'B' END AS arm
  FROM u
), m AS (
  SELECT
    CAST(COUNT(*) FILTER (arm = 'A') AS BIGINT) AS n_a,
    CAST(COUNT(*) FILTER (arm = 'B') AS BIGINT) AS n_b,
    CAST(SUM(converted) FILTER (arm = 'A') AS BIGINT) AS conv_a,
    CAST(SUM(converted) FILTER (arm = 'B') AS BIGINT) AS conv_b
  FROM armed
), s AS (
  SELECT *,
         CAST(conv_a AS DOUBLE) / n_a AS p_a,
         CAST(conv_b AS DOUBLE) / n_b AS p_b,
         CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b) AS p_pool
  FROM m
)
SELECT n_a, n_b, conv_a, conv_b, p_a, p_b,
       (p_a - p_b) / sqrt(p_pool * (1 - p_pool) * (1.0 / n_a + 1.0 / n_b)) AS z_stat,
       ABS((p_a - p_b) / sqrt(p_pool * (1 - p_pool) * (1.0 / n_a + 1.0 / n_b)))
         > {Z_CRIT_95!r} AS significant_95
FROM s
"""


@register("stats_two_proportion_ztest", oracle=PROP_ZTEST_ORACLE, tags=("stats", "agg"))
def stats_two_proportion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pooled two-proportion z-test of purchase conversion (a user
    'converts' when they make >= {PROP_CONV_MIN} purchases — any-purchase
    saturates at 100% in this data, a degenerate test) between a
    deterministic md5 50/50 user split — the single most common A/B
    readout, on the same seeded-assignment convention as
    sample_split_hash (so the 'experiment' is replayable). User-level
    conversion first (MAX over the user's events — a user converts
    once no matter how many purchases), then ONE conditional aggregate
    to a 4-integer state; z and the 95% verdict are scalar arithmetic
    on that state with an identical expression tree in the oracle.

    Scale shape: one user-keyed partial aggregate + one global
    4-number reduce; nothing downstream of the first groupBy scales
    with the fact table. Complements stats_srm_check (which validates
    the assignment itself) and stats_lift_bootstrap_ci (which
    intervals the same lift)."""
    from .sampling import hash_bucket

    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.when(
            F.count(F.when(F.col("event_type") == "purchase", 1)) >= PROP_CONV_MIN, 1
        )
        .otherwise(0)
        .alias("converted")
    )
    armed = u.select(
        "converted",
        F.when(hash_bucket("user_id", 2) == 0, "A").otherwise("B").alias("arm"),
    )
    is_a, is_b = F.col("arm") == "A", F.col("arm") == "B"
    m = armed.agg(
        F.count(F.when(is_a, 1)).cast("long").alias("n_a"),
        F.count(F.when(is_b, 1)).cast("long").alias("n_b"),
        F.sum(F.when(is_a, F.col("converted"))).cast("long").alias("conv_a"),
        F.sum(F.when(is_b, F.col("converted"))).cast("long").alias("conv_b"),
    )
    s = m.select(
        "*",
        (F.col("conv_a").cast("double") / F.col("n_a")).alias("p_a"),
        (F.col("conv_b").cast("double") / F.col("n_b")).alias("p_b"),
        (
            (F.col("conv_a") + F.col("conv_b")).cast("double")
            / (F.col("n_a") + F.col("n_b"))
        ).alias("p_pool"),
    )
    z = (F.col("p_a") - F.col("p_b")) / F.sqrt(
        F.col("p_pool")
        * (1 - F.col("p_pool"))
        * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b"))
    )
    return s.select(
        "n_a",
        "n_b",
        "conv_a",
        "conv_b",
        "p_a",
        "p_b",
        z.alias("z_stat"),
        (F.abs(z) > F.lit(Z_CRIT_95)).alias("significant_95"),
    )


# ---------------------------------------------------------------------------
# Two-sample Wasserstein-1 (earth mover's) drift — KS's integral sibling.
# ---------------------------------------------------------------------------

W1_ORACLE = f"""
WITH s AS (
  SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v,
         CASE WHEN o_orderdate < DATE '{_KS_SPLIT}' THEN 1 ELSE 0 END AS g
  FROM orders
), tot AS (
  SELECT CAST(SUM(g) AS BIGINT) AS n1, CAST(COUNT(*) - SUM(g) AS BIGINT) AS n0 FROM s
), byv AS (
  SELECT v, CAST(SUM(g) AS BIGINT) AS c1, CAST(COUNT(*) - SUM(g) AS BIGINT) AS c0
  FROM s GROUP BY v
), cum AS (
  SELECT v, LEAD(v) OVER (ORDER BY v) AS nv,
         CAST(SUM(c1) OVER (ORDER BY v) AS BIGINT) AS f1,
         CAST(SUM(c0) OVER (ORDER BY v) AS BIGINT) AS f0
  FROM byv
)
SELECT n0, n1,
       CAST(SUM(CAST(ABS(f1 * n0 - f0 * n1) AS HUGEINT) * (nv - v)) // (n0 * n1)
         AS BIGINT) AS w1_cents,
       CAST(CAST(SUM(CAST(ABS(f1 * n0 - f0 * n1) AS HUGEINT) * (nv - v)) // (n0 * n1)
                 AS BIGINT) AS DOUBLE) / 100 AS w1_dollars
FROM cum, tot WHERE nv IS NOT NULL GROUP BY n0, n1
"""


@register("drift_wasserstein_orders", oracle=W1_ORACLE, tags=("stats", "drift", "window", "scale"))
def drift_wasserstein_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Wasserstein-1 (earth mover's) distance between
    pre- and post-{_KS_SPLIT} order totals — the INTEGRAL of the ECDF
    gap where KS takes its supremum, so it sees sustained small shifts
    KS is blind to (and it is the metric of choice for numeric-feature
    drift monitors). W1 = ∫|F1−F0|dx over cent-quantized prices, kept
    exact: per merged value, |f1·n0 − f0·n1| (the KS integer numerator)
    times the gap to the NEXT distinct value, summed in DECIMAL(38)
    and divided once at the end.

    Distributed shape — same no-single-partition discipline as
    drift_ks_twosample, plus a distributed LEAD: percentile_approx
    range buckets (load-balance only), per-bucket windows for the
    cumulative counts AND the within-bucket lead, bucket prefix
    offsets from the tiny totals frame, and each bucket's LAST value
    patched with the NEXT bucket's min from that same tiny frame —
    the global successor function without a global sort."""
    orders = load_table(spark, sf_dir, "orders")
    s = orders.select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
        F.when(F.to_date("o_orderdate") < F.lit(_KS_SPLIT).cast("date"), 1)
        .otherwise(0)
        .alias("g"),
    )
    byv = (
        s.groupBy("v")
        .agg(
            F.sum("g").cast("long").alias("c1"),
            (F.count(F.lit(1)) - F.sum("g")).cast("long").alias("c0"),
        )
        .transform(pin)  # feeds bounds sketch + bucket pass once
    )
    from ..session import tiny_frame_key
    from .analytics import _DIST_BUCKETS

    probs = [i / _DIST_BUCKETS for i in range(1, _DIST_BUCKETS)]
    bounds = byv.agg(F.percentile_approx("v", probs, 10_000).alias("_bounds"))
    bkt = F.aggregate(
        "_bounds", F.lit(0), lambda acc, x: acc + F.when(x < F.col("v"), 1).otherwise(0)
    )
    b = byv.crossJoin(F.broadcast(bounds)).withColumn("_bkt", bkt).drop("_bounds")
    totals = b.groupBy("_bkt").agg(
        F.sum("c1").alias("_bt_c1"),
        F.sum("c0").alias("_bt_c0"),
        F.min("v").alias("_min_v"),
    )
    pre_w = (
        W.partitionBy(tiny_frame_key("_bkt"))
        .orderBy("_bkt")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    all_w = (
        W.partitionBy(tiny_frame_key("_bkt"))
        .orderBy(F.lit(1))
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    lead_w = W.partitionBy(tiny_frame_key("_bkt")).orderBy("_bkt")
    prefix = totals.select(
        "_bkt",
        F.coalesce(F.sum("_bt_c1").over(pre_w), F.lit(0)).alias("_pre_c1"),
        F.coalesce(F.sum("_bt_c0").over(pre_w), F.lit(0)).alias("_pre_c0"),
        F.sum("_bt_c1").over(all_w).cast("long").alias("n1"),
        F.sum("_bt_c0").over(all_w).cast("long").alias("n0"),
        F.lead("_min_v").over(lead_w).alias("_next_bkt_min"),
    )
    in_w = W.partitionBy("_bkt").orderBy("v").rowsBetween(W.unboundedPreceding, 0)
    lead_in_w = W.partitionBy("_bkt").orderBy("v")
    cum = (
        b.join(F.broadcast(prefix), "_bkt")
        .withColumn("f1", (F.col("_pre_c1") + F.sum("c1").over(in_w)).cast("long"))
        .withColumn("f0", (F.col("_pre_c0") + F.sum("c0").over(in_w)).cast("long"))
        .withColumn("nv", F.coalesce(F.lead("v").over(lead_in_w), F.col("_next_bkt_min")))
    )
    term = (
        F.abs(F.col("f1") * F.col("n0") - F.col("f0") * F.col("n1")).cast("decimal(38,0)")
        * (F.col("nv") - F.col("v"))
    )
    return (
        cum.filter(F.col("nv").isNotNull())
        .groupBy("n0", "n1")
        .agg(
            F.floor(F.sum(term) / (F.col("n0") * F.col("n1")).cast("decimal(38,0)"))
            .cast("long")
            .alias("w1_cents")
        )
        .select(
            "n0",
            "n1",
            "w1_cents",
            (F.col("w1_cents").cast("double") / 100).alias("w1_dollars"),
        )
    )


# ---------------------------------------------------------------------------
# Sequential probability ratio test (Wald's SPRT) — the anytime-valid
# alternative to the fixed-horizon z-test above.
# ---------------------------------------------------------------------------

# H0: p = 0.5 vs H1: p = 0.6 for P(purchase value > median≈34), error
# targets alpha = beta = 0.05. Log-likelihood-ratio increments and the
# two Wald boundaries as ×1e6 integers (math.log baked once, identical
# literals in both engines — no libm at query time at all).
SPRT_THRESH = 34.0
SPRT_A_E6 = 182_322  # ln(0.6/0.5) · 1e6, success step
SPRT_B_E6 = -223_144  # ln(0.4/0.5) · 1e6, failure step
SPRT_UP_E6 = 2_944_439  # ln((1-beta)/alpha) · 1e6 → accept H1
SPRT_LO_E6 = -2_944_439  # ln(beta/(1-alpha)) · 1e6 → accept H0

SPRT_ORACLE = f"""
WITH trials AS (
  SELECT event_id, CASE WHEN value > {SPRT_THRESH} THEN 1 ELSE 0 END AS x
  FROM events WHERE event_type = 'purchase'
), cum AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY event_id) AS BIGINT) AS rn,
         CAST(SUM(x) OVER (ORDER BY event_id) AS BIGINT) AS s
  FROM trials
), llr AS (
  SELECT rn, {SPRT_A_E6} * s + {SPRT_B_E6} * (rn - s) AS llr_e6, s FROM cum
), agg AS (
  SELECT CAST(MAX(rn) AS BIGINT) AS n_trials, CAST(MAX(s) AS BIGINT) AS n_success,
         CAST(MIN(CASE WHEN llr_e6 >= {SPRT_UP_E6} THEN rn END) AS BIGINT) AS fc_up,
         CAST(MIN(CASE WHEN llr_e6 <= {SPRT_LO_E6} THEN rn END) AS BIGINT) AS fc_lo
  FROM llr
)
SELECT n_trials, n_success,
       {SPRT_A_E6} * n_success + {SPRT_B_E6} * (n_trials - n_success) AS llr_final_e6,
       CAST(LEAST(COALESCE(fc_up, 9223372036854775807),
                  COALESCE(fc_lo, 9223372036854775807)) AS BIGINT) AS first_cross_rn,
       CASE WHEN fc_up IS NULL AND fc_lo IS NULL THEN 'continue'
            WHEN COALESCE(fc_up, 9223372036854775807)
                 < COALESCE(fc_lo, 9223372036854775807) THEN 'accept_h1'
            ELSE 'accept_h0' END AS decision
FROM agg
"""


@register("stats_sprt_sequential", oracle=SPRT_ORACLE, tags=("stats", "window", "scale"))
def stats_sprt_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's sequential probability ratio test over the purchase
    stream in arrival order — the anytime-valid design that lets an
    experimenter 'peek' after every observation with exact error
    control, where the fixed-horizon z-test forbids it: the cumulative
    log-likelihood ratio A·S_t + B·(t−S_t) walks between Wald's two
    boundaries; the FIRST boundary crossing is the decision. All four
    constants are pre-baked ×1e6 integer literals (no libm at query
    time), so the walk, both crossing indices, and the verdict are
    exact integer arithmetic.

    Distributed shape: the running success count S_t comes from the
    two-level distributed prefix (per-bucket window + tiny bucket-
    offset prefix — no single-partition pass), and because the LLR is
    an AFFINE function of (t, S_t), the whole path collapses to one
    aggregate over the cumulated frame: MIN(rn | llr ≥ up) and
    MIN(rn | llr ≤ lo). First-crossing detection without any ordered
    scan — the sequential test, de-sequentialized."""
    from .analytics import with_global_prefix_sums

    ev = load_table(spark, sf_dir, "events")
    trials = ev.filter(F.col("event_type") == "purchase").select(
        "event_id",
        F.when(F.col("value") > SPRT_THRESH, 1).otherwise(0).alias("x"),
        F.lit(1).alias("one"),
    )
    cum = with_global_prefix_sums(trials, "event_id", ["x", "one"]).select(
        F.col("cum_one").alias("rn"), F.col("cum_x").alias("s")
    )
    llr = F.lit(SPRT_A_E6) * F.col("s") + F.lit(SPRT_B_E6) * (F.col("rn") - F.col("s"))
    agg = cum.select("rn", "s", llr.alias("llr_e6")).agg(
        F.max("rn").cast("long").alias("n_trials"),
        F.max("s").cast("long").alias("n_success"),
        F.min(F.when(F.col("llr_e6") >= SPRT_UP_E6, F.col("rn")))
        .cast("long")
        .alias("fc_up"),
        F.min(F.when(F.col("llr_e6") <= SPRT_LO_E6, F.col("rn")))
        .cast("long")
        .alias("fc_lo"),
    )
    big = F.lit(9223372036854775807).cast("long")
    return agg.select(
        "n_trials",
        "n_success",
        (
            F.lit(SPRT_A_E6) * F.col("n_success")
            + F.lit(SPRT_B_E6) * (F.col("n_trials") - F.col("n_success"))
        )
        .cast("long")
        .alias("llr_final_e6"),
        F.least(F.coalesce("fc_up", big), F.coalesce("fc_lo", big))
        .cast("long")
        .alias("first_cross_rn"),
        F.when(F.col("fc_up").isNull() & F.col("fc_lo").isNull(), "continue")
        .when(F.coalesce("fc_up", big) < F.coalesce("fc_lo", big), "accept_h1")
        .otherwise("accept_h0")
        .alias("decision"),
    )
