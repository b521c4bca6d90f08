"""Custom batch operator via ``applyInPandas``: per-user exponential
moving average over irregularly-spaced event times.

This is the (b)-tier custom-operator case (SURVEY §2.2 / build plan):
the recurrence ``ema_i = w_i·x_i + (1-w_i)·ema_{i-1}`` with a
time-dependent weight ``w_i = 1 - exp(-Δt_i/τ)`` depends on the
previous OUTPUT row, which no built-in window frame can express —
window aggregates fold over inputs, not over their own results. So the
group is handed to a vectorized pandas function; everything around it
(grouping, ordering, schema) stays in the engine.

Scale: one shuffle on user_id, Arrow-batched transfer, O(events) work
per user. Same shape as the streaming stateful twin
(streaming/stateful.py) but for batch backfills.

Correctness / cross-engine exactness: the recurrence runs in ×1e6
integer fixed point. Inputs and weights are quantized once —
``x_e6 = floor(value·1e6 + 0.5)``, ``w_e6 = floor(1e6·(1-exp(-Δt/τ))
+ 0.5)`` — and each step is pure int64 arithmetic
``(w_e6·x + (1e6-w_e6)·prev) // 1e6``, which Spark's Python worker and
DuckDB's recursive CTE compute bit-identically (no float summation
order, no libm-in-the-loop: exp() is evaluated once per step and
rounded at 1e-6, where the two engines' libm can only disagree if the
true value sits within ~1e-16 of a rounding boundary). That turns the
round-2 ``no_oracle`` rows-only check into a full value-hash oracle.
All event values are positive (driver data: 0.01..490), so truncating
(DuckDB ``//``) vs flooring (Python ``//``) integer division never
diverges; quantities stay far below int64 range (w≤1e6 · x≤5e8).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.grouped import keyed_fold, sorted_grouped_map
from ..registry import register
from ..session import load_table, pin

TAU_US = 3_600_000_000  # 1-hour decay constant
E6 = 1_000_000

EMA_SCHEMA = "user_id bigint, event_id bigint, ts_us bigint, value double, ema_e6 bigint"


# Floor division for the oracles: DuckDB's integer // truncates toward
# zero while Python's // floors; subtracting the non-negative residue
# first makes the quotient exact (and floor) in both. Holt's trend and
# Kalman's innovation go negative, and it keeps the EMA oracle correct
# should a testdata regen introduce negative values.
def _floordiv_sql(expr: str, d: int | str) -> str:
    return f"(({expr}) - (((({expr}) % {d}) + {d}) % {d})) // {d}"


EMA_ORACLE = f"""
WITH RECURSIVE base AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us, value,
         CAST(FLOOR(value * {E6} + 0.5) AS BIGINT) AS x_e6,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts), event_id) AS rn,
         LAG(epoch_us(ts)) OVER (PARTITION BY user_id
                                 ORDER BY epoch_us(ts), event_id) AS prev_ts
  FROM events
), weighted AS (
  SELECT user_id, event_id, ts_us, value, x_e6, rn,
         CAST(FLOOR({E6} * (1 - exp(-(ts_us - prev_ts) / {TAU_US}.0)) + 0.5)
              AS BIGINT) AS w_e6
  FROM base
), rec AS (
  SELECT user_id, event_id, ts_us, value, rn, x_e6 AS ema_e6
  FROM weighted WHERE rn = 1
  UNION ALL
  SELECT w.user_id, w.event_id, w.ts_us, w.value, w.rn,
         {_floordiv_sql(f"w.w_e6 * w.x_e6 + ({E6} - w.w_e6) * r.ema_e6", E6)}
  FROM weighted w JOIN rec r ON w.user_id = r.user_id AND w.rn = r.rn + 1
)
SELECT user_id, event_id, ts_us, value, ema_e6 FROM rec
"""


def user_values(events: DataFrame) -> DataFrame:
    """``(user_id, event_id, ts_us, value)``: the measured events the EMA
    and Kalman recurrences fold, batch and streaming alike. Rows with
    no measurement carry no state update, so NULL values sit out
    before the Arrow stage (float(None) would throw in the scan)."""
    return events.filter(F.col("value").isNotNull()).select(
        "user_id", "event_id", F.unix_micros("ts").alias("ts_us"), "value"
    )


# Every recurrence below is a closure built inside a function, like the
# folds that run it: cloudpickle then ships it by value, so Python
# workers never import this package (see keyed_fold).


def ema_fold():
    """Keyed fold of the ×1e6 EMA per user, in (ts, event_id) order;
    state ``(last_ts, ema)``."""
    tau_us, e6 = TAU_US, E6

    def ema(state, ts, value):
        # math.exp, not np.exp — the reproducibility contract is exact
        # equality with the DuckDB oracle and the independent
        # recomputation in tests.
        import math

        last_ts, cur = state if state is not None else (None, 0)
        out: list[int] = []
        for t, v in zip(ts, value):
            t = int(t)
            x = int(math.floor(float(v) * e6 + 0.5))
            if last_ts is None:
                cur = x
            else:
                w = int(math.floor(e6 * (1.0 - math.exp(-(t - last_ts) / tau_us)) + 0.5))
                cur = (w * x + (e6 - w) * cur) // e6
            last_ts = t
            out.append(cur)
        return (last_ts, cur), out

    return keyed_fold(
        "user_id", ["ts_us", "event_id"], ["ts_us", "value"],
        ["user_id", "event_id", "ts_us", "value"], ["ema_e6"], ema,
    )


def ema_frame(events: DataFrame) -> DataFrame:
    fold = ema_fold()
    # ~1.5k users per sf0.1 shard and growing with data size: use the
    # whole-partition grouped map to amortise per-group Arrow overhead.
    return sorted_grouped_map(
        user_values(events), ["user_id"], lambda pdf: fold(pdf)[0], EMA_SCHEMA,
        whole_batch=True,
    )


@register("events_ema_irregular", oracle=EMA_ORACLE, tags=("events", "llm", "pandas"))
def events_ema_irregular(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decayed EMA of event values per user over irregular
    timestamps, in exact ×1e6 fixed point — oracled via a DuckDB
    recursive CTE that replays the same integer recurrence (module
    docstring has the determinism argument)."""
    return ema_frame(load_table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# Holt linear-trend smoothing of each type's hourly count series.
# ---------------------------------------------------------------------------

US_1H = 3_600_000_000
ALPHA_E6 = 300_000  # level smoothing α = 0.3
BETA_E6 = 100_000   # trend smoothing β = 0.1

HOLT_SCHEMA = (
    "event_type string, hour_idx bigint, n bigint, level_e6 bigint,"
    " trend_e6 bigint, forecast_e6 bigint"
)


def hourly_counts(ev: DataFrame) -> DataFrame:
    """``(event_type, hour_idx, n)``: events counted per type and hour,
    the series the Holt, seasonal-Holt and CUSUM recurrences run on."""
    hour_idx = (
        (F.unix_micros("ts") - F.pmod(F.unix_micros("ts"), F.lit(US_1H))) / F.lit(US_1H)
    ).cast("long")
    return (
        ev.select("event_type", hour_idx.alias("hour_idx"))
        .groupBy("event_type", "hour_idx")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def holt_fold():
    """Keyed fold of Holt's ×1e6 level + trend recurrence over each
    type's ``x_e6`` series in hour order; state ``(level, trend)``. One
    definition for the plain and the seasonal Holt operator."""
    e6, alpha, beta = E6, ALPHA_E6, BETA_E6

    def holt(state, x):
        lvl, trd = state if state is not None else (None, 0)
        lv: list[int] = []
        tr: list[int] = []
        fc: list[int] = []
        for xi in x:
            xi = int(xi)
            if lvl is None:
                lvl = xi
            else:
                nl = (alpha * xi + (e6 - alpha) * (lvl + trd)) // e6
                trd = (beta * (nl - lvl) + (e6 - beta) * trd) // e6
                lvl = nl
            lv.append(lvl)
            tr.append(trd)
            fc.append(lvl + trd)
        return (lvl, trd), lv, tr, fc

    return keyed_fold(
        "event_type", ["hour_idx"], ["x_e6"], ["event_type", "hour_idx", "n"],
        ["level_e6", "trend_e6", "forecast_e6"], holt,
    )


# the oracles' hourly series and Holt recursion over a (…, x_e6, rn) seq
_HOURLY_SQL = f"""hourly AS (
  SELECT event_type, (epoch_us(ts) // {US_1H}) AS hour_idx,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
)"""
_HOLT_LEVEL_SQL = _floordiv_sql(
    f"{ALPHA_E6} * s.x_e6 + ({E6} - {ALPHA_E6}) * (r.level_e6 + r.trend_e6)", E6
)
_HOLT_REC_SQL = f"""rec AS (
  SELECT event_type, hour_idx, n, rn,
         x_e6 AS level_e6, CAST(0 AS BIGINT) AS trend_e6
  FROM seq WHERE rn = 1
  UNION ALL
  SELECT s.event_type, s.hour_idx, s.n, s.rn,
         {_HOLT_LEVEL_SQL},
         {_floordiv_sql(
             f"{BETA_E6} * ({_HOLT_LEVEL_SQL} - r.level_e6) + ({E6} - {BETA_E6}) * r.trend_e6", E6
         )}
  FROM seq s JOIN rec r ON s.event_type = r.event_type AND s.rn = r.rn + 1
)"""

HOLT_ORACLE = f"""
WITH RECURSIVE {_HOURLY_SQL}, seq AS (
  SELECT event_type, hour_idx, n, n * {E6} AS x_e6,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hour_idx) AS rn
  FROM hourly
), {_HOLT_REC_SQL}
SELECT event_type, hour_idx, n, level_e6, trend_e6,
       level_e6 + trend_e6 AS forecast_e6
FROM rec
"""


@register("events_holt_linear", oracle=HOLT_ORACLE, tags=("events", "llm", "pandas", "forecast"))
def events_holt_linear(
    spark: SparkSession, sf_dir: str, hourly: DataFrame | None = None
) -> DataFrame:
    """Holt two-parameter (level + trend) exponential smoothing of each
    event type's hourly count series, with the one-step-ahead forecast
    ``level + trend`` per row — the classic operational-forecasting
    primitive (capacity planning, anomaly baselines).

    Same custom-operator shape as events_ema_irregular: the recurrence
    depends on its own previous OUTPUT, which no window frame can
    express, so the tiny per-type hourly series (already reduced
    engine-side by a partial-aggregated groupBy — the ONLY shuffle of
    the raw events) is handed to a per-group pandas scan. Both the
    level and trend updates run in ×1e6 integer fixed point with
    explicit floor division, replayed exactly by the recursive-CTE
    oracle; the trend term goes negative on falling series, which is
    why the floor/truncate reconciliation matters here."""
    if hourly is None:
        # callers composing several models over the SAME series (the
        # forecast ensemble) pass a shared pinned hourly frame instead
        # of re-aggregating the events corpus per model arm
        hourly = hourly_counts(load_table(spark, sf_dir, "events"))
    fold = holt_fold()
    seq = hourly.select("event_type", "hour_idx", "n", (F.col("n") * E6).alias("x_e6"))
    return seq.groupBy("event_type").applyInPandas(
        lambda pdf: fold(pdf)[0], schema=HOLT_SCHEMA
    )


# ---------------------------------------------------------------------------
# One-step-ahead backtest of the Holt forecast vs naive persistence.
# ---------------------------------------------------------------------------

BACKTEST_ORACLE = f"""
WITH holt AS ({HOLT_ORACLE}),
seq AS (
  SELECT event_type, hour_idx, n, forecast_e6,
         LEAD(n) OVER (PARTITION BY event_type ORDER BY hour_idx) AS n_next,
         LEAD(hour_idx) OVER (PARTITION BY event_type ORDER BY hour_idx) AS h_next
  FROM holt
), steps AS (
  -- only true one-hour-ahead steps: a calendar gap breaks the pairing
  SELECT event_type,
         abs(forecast_e6 - n_next * {E6}) AS err_holt_e6,
         abs(n * {E6} - n_next * {E6}) AS err_naive_e6
  FROM seq WHERE n_next IS NOT NULL AND h_next = hour_idx + 1
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_steps,
       CAST(SUM(err_holt_e6) AS BIGINT) AS sum_abs_err_holt_e6,
       CAST(SUM(err_naive_e6) AS BIGINT) AS sum_abs_err_naive_e6,
       ROUND(1.0 - CAST(SUM(err_holt_e6) AS DOUBLE) / SUM(err_naive_e6), 6)
         AS skill_vs_naive
FROM steps GROUP BY 1
"""


@register("events_forecast_backtest", oracle=BACKTEST_ORACLE, tags=("events", "forecast", "stats"))
def events_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-step-ahead backtest of events_holt_linear against the naive
    persistence forecast (next hour = this hour): per type, summed
    absolute errors and the skill score 1 − MAE_holt/MAE_naive (> 0 ⇒
    the model earns its keep; persistence is THE baseline every
    forecast must beat before shipping). Only true consecutive-hour
    steps count — a calendar gap breaks the pairing. Errors live in the
    forecast's own ×1e6 integer domain, so the sums are exact and the
    single division per type is the only float."""
    holt = events_holt_linear(spark, sf_dir)
    w = W.partitionBy("event_type").orderBy("hour_idx")
    seq = holt.select(
        "event_type",
        "hour_idx",
        "n",
        "forecast_e6",
        F.lead("n").over(w).alias("n_next"),
        F.lead("hour_idx").over(w).alias("h_next"),
    ).filter(F.col("n_next").isNotNull() & (F.col("h_next") == F.col("hour_idx") + 1))
    err_h = F.abs(F.col("forecast_e6") - F.col("n_next") * E6)
    err_n = F.abs(F.col("n") * E6 - F.col("n_next") * E6)
    steps = seq.select("event_type", err_h.alias("eh"), err_n.alias("en"))
    return steps.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_steps"),
        F.sum("eh").cast("long").alias("sum_abs_err_holt_e6"),
        F.sum("en").cast("long").alias("sum_abs_err_naive_e6"),
        F.round(
            F.lit(1.0) - F.sum("eh").cast("double") / F.sum("en"), 6
        ).alias("skill_vs_naive"),
    )


# ---------------------------------------------------------------------------
# Seasonal Holt (Holt-Winters-style): deseasonalize -> Holt -> re-seasonalize
# ---------------------------------------------------------------------------

HW_ORACLE = f"""
WITH RECURSIVE {_HOURLY_SQL}, sidx AS (
  SELECT event_type, hour_idx % 24 AS hod,
         (CAST(SUM(n) AS BIGINT) * {E6}) // CAST(COUNT(*) AS BIGINT) AS m_hod_e6
  FROM hourly GROUP BY 1, 2
), overall AS (
  SELECT event_type,
         (CAST(SUM(n) AS BIGINT) * {E6}) // CAST(COUNT(*) AS BIGINT) AS m_all_e6
  FROM hourly GROUP BY 1
), sadj AS (
  SELECT s.event_type, s.hod, s.m_hod_e6 - o.m_all_e6 AS s_e6
  FROM sidx s JOIN overall o ON s.event_type = o.event_type
), seq AS (
  SELECT h.event_type, h.hour_idx, h.n,
         h.n * {E6} - sa.s_e6 AS x_e6,
         ROW_NUMBER() OVER (PARTITION BY h.event_type ORDER BY h.hour_idx) AS rn
  FROM hourly h
  JOIN sadj sa ON sa.event_type = h.event_type AND sa.hod = h.hour_idx % 24
), {_HOLT_REC_SQL}
SELECT r.event_type, r.hour_idx, r.n, r.level_e6, r.trend_e6,
       r.level_e6 + r.trend_e6 + sn.s_e6 AS forecast_e6
FROM rec r
JOIN sadj sn ON sn.event_type = r.event_type AND sn.hod = (r.hour_idx + 1) % 24
"""


@register(
    "events_holt_winters", oracle=HW_ORACLE, tags=("events", "llm", "pandas", "forecast")
)
def events_holt_winters(
    spark: SparkSession, sf_dir: str, hourly: DataFrame | None = None
) -> DataFrame:
    """Seasonal operational forecasting — the classical-decomposition
    composition (seasonal adjustment + Holt, the STL→ETS production
    pattern): per event type, (1) an additive hour-of-day seasonal
    index (mean of that hod minus the overall mean, exact ×1e6 floor
    arithmetic — the denominators are positive counts so truncation IS
    floor on both engines), (2) the existing Holt level+trend
    recurrence run on the DEseasonalized series, (3) the one-hour-ahead
    forecast re-seasonalized with the next wall-clock hour's index.
    The oracle replays the whole chain — index, adjustment, recursion,
    re-seasonalization — so the composition is certified, not just the
    stages (the llm_prep_pipeline pattern applied to forecasting).

    Scale shape: one partial-aggregated shuffle of raw events to the
    hourly grid; the seasonal index is a 24·|types|-row aggregate
    joined back broadcast; only the tiny per-type hourly series enters
    the Arrow closure (the recurrence depends on its own output — no
    window frame can express it)."""
    if hourly is None:
        # the forecast ensemble passes a shared pinned hourly frame so
        # its model arms aggregate the events corpus once, not per arm
        hourly = hourly_counts(load_table(spark, sf_dir, "events")).transform(
            pin  # feeds index build + adjusted series
        )
    sidx = hourly.groupBy(
        "event_type", F.pmod("hour_idx", F.lit(24)).alias("hod")
    ).agg(F.expr(f"(SUM(n) * {E6}) div COUNT(*)").cast("long").alias("m_hod_e6"))
    overall = hourly.groupBy("event_type").agg(
        F.expr(f"(SUM(n) * {E6}) div COUNT(*)").cast("long").alias("m_all_e6")
    )
    # seasonal index under RENAMED key columns: hourly, seq and rec all
    # share lineage with sadj, and qualified self-join refs would be
    # ambiguous.
    sadj = sidx.join(overall, "event_type").select(
        F.col("event_type").alias("s_et"),
        "hod",
        (F.col("m_hod_e6") - F.col("m_all_e6")).alias("s_e6"),
    )
    seq = (
        hourly.join(
            F.broadcast(sadj),
            (F.col("event_type") == F.col("s_et"))
            & (F.col("hod") == F.pmod(F.col("hour_idx"), F.lit(24))),
        )
        .select(
            "event_type",
            "hour_idx",
            "n",
            (F.col("n") * E6 - F.col("s_e6")).alias("x_e6"),
        )
    )
    fold = holt_fold()
    rec = seq.groupBy("event_type").applyInPandas(
        lambda pdf: fold(pdf)[0], schema=HOLT_SCHEMA
    )
    # re-seasonalize the one-hour-ahead forecast with the NEXT hod's index
    nxt = sadj.select(
        F.col("s_et").alias("n_et"), F.col("hod").alias("nhod"), F.col("s_e6").alias("sn_e6")
    )
    return (
        rec.join(
            F.broadcast(nxt),
            (F.col("event_type") == F.col("n_et"))
            & (F.col("nhod") == F.pmod(F.col("hour_idx") + 1, F.lit(24))),
        )
        .select(
            "event_type",
            "hour_idx",
            "n",
            "level_e6",
            "trend_e6",
            (F.col("forecast_e6") + F.col("sn_e6")).alias("forecast_e6"),
        )
    )


# ---------------------------------------------------------------------------
# Croston's method: intermittent weekly part demand
# ---------------------------------------------------------------------------

US_1W = 7 * 86_400_000_000
CROSTON_ALPHA_E6 = 300_000

CROSTON_SCHEMA = (
    "l_partkey bigint, week_idx bigint, demand_c bigint, z_e6 bigint,"
    " p_e6 bigint, rate_e6 bigint"
)

CROSTON_ORACLE = f"""
WITH RECURSIVE wk AS (
  SELECT l_partkey, (epoch_us(l_shipdate) // {US_1W}) AS week_idx,
         CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT) AS demand_c
  FROM lineitem GROUP BY 1, 2
), seq AS (
  SELECT l_partkey, week_idx, demand_c,
         demand_c * {E6} AS x_e6,
         (week_idx - LAG(week_idx) OVER (PARTITION BY l_partkey
                                         ORDER BY week_idx)) * {E6} AS q_e6,
         ROW_NUMBER() OVER (PARTITION BY l_partkey ORDER BY week_idx) AS rn
  FROM wk
), rec AS (
  SELECT l_partkey, week_idx, demand_c, rn,
         x_e6 AS z_e6, CAST({E6} AS BIGINT) AS p_e6
  FROM seq WHERE rn = 1
  UNION ALL
  SELECT s.l_partkey, s.week_idx, s.demand_c, s.rn,
         ({CROSTON_ALPHA_E6} * s.x_e6 + ({E6} - {CROSTON_ALPHA_E6}) * r.z_e6) // {E6},
         ({CROSTON_ALPHA_E6} * s.q_e6 + ({E6} - {CROSTON_ALPHA_E6}) * r.p_e6) // {E6}
  FROM seq s JOIN rec r ON s.l_partkey = r.l_partkey AND s.rn = r.rn + 1
)
SELECT l_partkey, week_idx, demand_c, z_e6, p_e6,
       z_e6 * 1000 // (p_e6 // 1000) AS rate_e6
FROM rec
"""


@register(
    "lineitem_croston_demand",
    oracle=CROSTON_ORACLE,
    tags=("forecast", "pandas", "scale"),
)
def lineitem_croston_demand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston's method over weekly per-part demand — THE intermittent-
    demand forecaster (spare parts, long-tail SKUs): separate
    exponential smoothing of nonzero demand SIZE (z) and of the
    inter-demand INTERVAL (p), forecast rate = z/p per week. Plain
    Holt/EMA systematically lags on sparse series because zero weeks
    drag the level; Croston updates only when demand occurs.

    Determinism: demand in integer cents, both smoothers in ×1e6
    integer fixed point (every quantity positive, so Spark div, DuckDB
    // and Python // agree), interval init p₁ = 1 week (documented
    convention), and the final rate uses a two-stage //1000 division so
    the intermediate product stays in int64. The recursive-CTE oracle
    replays the exact recurrence per part.

    Scale: one partial-aggregated shuffle of lineitem to the
    (part, week) grid — already ~orders-of-magnitude smaller than the
    fact table — then per-part Arrow closures over short demand-event
    series (the recurrence consumes its own output; no window frame
    can express it)."""
    li = load_table(spark, sf_dir, "lineitem")
    wk = (
        li.select(
            "l_partkey",
            F.expr(f"unix_micros(l_shipdate) div {US_1W}").alias("week_idx"),
            F.round(F.col("l_quantity") * 100).cast("long").alias("qc"),
        )
        .groupBy("l_partkey", "week_idx")
        .agg(F.sum("qc").cast("long").alias("demand_c"))
    )
    return croston_frame(wk)


def croston_frame(wk: DataFrame) -> DataFrame:
    """Core of :func:`lineitem_croston_demand` over any
    ``(l_partkey, week_idx, demand_c)`` weekly-demand frame."""
    e6, alpha = E6, CROSTON_ALPHA_E6

    def croston(state, week, demand):
        # Python ints on purpose — the fixed-point products must not
        # overflow int64 silently at larger demand magnitudes.
        prev_w, zz, pp = state if state is not None else (None, 0, e6)
        z: list[int] = []
        p: list[int] = []
        rate: list[int] = []
        for w, dc in zip(week, demand):
            w = int(w)
            xi = int(dc) * e6
            if prev_w is None:
                zz = xi
            else:
                q = (w - prev_w) * e6
                zz = (alpha * xi + (e6 - alpha) * zz) // e6
                pp = (alpha * q + (e6 - alpha) * pp) // e6
            prev_w = w
            z.append(zz)
            p.append(pp)
            rate.append((zz * 1000) // (pp // 1000))
        return (prev_w, zz, pp), z, p, rate

    fold = keyed_fold(
        "l_partkey", ["week_idx"], ["week_idx", "demand_c"],
        ["l_partkey", "week_idx", "demand_c"], ["z_e6", "p_e6", "rate_e6"], croston,
    )
    # 20k part keys at sf0.1 (≈30 weekly rows each): per-group Arrow
    # dispatch dominated the runtime — whole-partition batching cuts it.
    return sorted_grouped_map(
        wk, ["l_partkey"], lambda pdf: fold(pdf)[0], CROSTON_SCHEMA, whole_batch=True
    )


# ---------------------------------------------------------------------------
# CUSUM alarm: online upward-drift detection on hourly event counts
# ---------------------------------------------------------------------------

# allowance k = mu/10, alarm threshold h = 3*mu — integer-exact monitor
# parameters (no sigma, no sqrt): right for count series where the mean
# sets the scale.

CUSUM_SCHEMA = (
    "event_type string, hour_idx bigint, n bigint, s_plus_e6 bigint, alarm boolean"
)

CUSUM_ORACLE = f"""
WITH RECURSIVE {_HOURLY_SQL}, mu AS (
  SELECT event_type,
         (CAST(SUM(n) AS BIGINT) * {E6}) // CAST(COUNT(*) AS BIGINT) AS mu_e6
  FROM hourly GROUP BY 1
), seq AS (
  SELECT h.event_type, h.hour_idx, h.n,
         h.n * {E6} - m.mu_e6 - m.mu_e6 // 10 AS inc_e6,
         m.mu_e6 * 3 AS h_e6,
         ROW_NUMBER() OVER (PARTITION BY h.event_type ORDER BY h.hour_idx) AS rn
  FROM hourly h JOIN mu m ON h.event_type = m.event_type
), rec AS (
  SELECT event_type, hour_idx, n, rn, h_e6,
         GREATEST(CAST(0 AS BIGINT), inc_e6) AS s_plus_e6
  FROM seq WHERE rn = 1
  UNION ALL
  SELECT s.event_type, s.hour_idx, s.n, s.rn, s.h_e6,
         GREATEST(CAST(0 AS BIGINT), r.s_plus_e6 + s.inc_e6)
  FROM seq s JOIN rec r ON s.event_type = r.event_type AND s.rn = r.rn + 1
)
SELECT event_type, hour_idx, n, s_plus_e6, s_plus_e6 > h_e6 AS alarm
FROM rec
"""


@register("events_cusum_alarm", oracle=CUSUM_ORACLE, tags=("events", "pandas", "drift"))
def events_cusum_alarm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM drift monitor on each type's hourly count
    series: S⁺ accumulates excursions above mean+allowance and resets
    at zero; an alarm fires when S⁺ crosses the threshold. This is the
    ONLINE complement to events_changepoint_meanshift (which dates a
    shift retrospectively) — CUSUM is what pagers run, because it
    bounds detection delay for a given false-alarm rate. Allowance
    k = μ/10 and threshold h = 3μ are integer-exact (count series:
    the mean sets the scale; no σ, no sqrt — the all-integer monitor).

    Same recurrence shape as Holt: S⁺ depends on its own previous
    value through a max-with-zero (no window frame can express the
    reset), so the tiny per-type hourly series runs through an Arrow
    closure, replayed exactly by the recursive-CTE oracle (GREATEST is
    exact on integers, so floor/truncate reconciliation never arises)."""
    return cusum_frame(hourly_counts(load_table(spark, sf_dir, "events")))


def cusum_inputs(hourly: DataFrame) -> DataFrame:
    """The monitor input ``(event_type, hour_idx, n, inc_e6, h_e6)``:
    hourly counts joined with their per-type parameters, read by the
    batch monitor and staged as the streaming twin's source."""
    hourly = hourly.transform(pin)  # feeds mu + the series
    mu = hourly.groupBy("event_type").agg(
        F.expr(f"(SUM(n) * {E6}) div COUNT(*)").cast("long").alias("mu_e6")
    )
    return hourly.join(F.broadcast(mu), "event_type").select(
        "event_type",
        "hour_idx",
        "n",
        (F.col("n") * E6 - F.col("mu_e6") - F.expr("mu_e6 div 10")).alias("inc_e6"),
        (F.col("mu_e6") * 3).alias("h_e6"),
    )


def cusum_fold():
    """Keyed fold of the one-sided S⁺ statistic over each type's
    ``cusum_inputs`` rows in hour order; state ``(s_plus_e6,)``."""

    def cusum(state, inc, h):
        (s,) = state if state is not None else (0,)
        out_s: list[int] = []
        alarms: list[bool] = []
        for i, hi in zip(inc, h):
            s = max(0, s + int(i))
            out_s.append(s)
            alarms.append(s > int(hi))
        return (s,), out_s, alarms

    return keyed_fold(
        "event_type", ["hour_idx"], ["inc_e6", "h_e6"], ["event_type", "hour_idx", "n"],
        ["s_plus_e6", "alarm"], cusum,
    )


def cusum_frame(hourly: DataFrame) -> DataFrame:
    """Core of :func:`events_cusum_alarm` over any
    ``(event_type, hour_idx, n)`` hourly-count frame."""
    fold = cusum_fold()
    return cusum_inputs(hourly).groupBy("event_type").applyInPandas(
        lambda pdf: fold(pdf)[0], schema=CUSUM_SCHEMA
    )


# ---------------------------------------------------------------------------
# Forecast model selection: persistence vs Holt vs seasonal Holt
# ---------------------------------------------------------------------------

ENSEMBLE_ORACLE = f"""
WITH holt AS ({HOLT_ORACLE}),
hw AS ({HW_ORACLE}),
j AS (
  SELECT h.event_type, h.hour_idx, h.n,
         h.forecast_e6 AS f_holt, w.forecast_e6 AS f_hw,
         LEAD(h.n) OVER win AS n_next,
         LEAD(h.hour_idx) OVER win AS h_next
  FROM holt h JOIN hw w
    ON h.event_type = w.event_type AND h.hour_idx = w.hour_idx
  WINDOW win AS (PARTITION BY h.event_type ORDER BY h.hour_idx)
), err AS (
  SELECT event_type,
         ABS(n_next * {E6} - n * {E6}) AS e_pers,
         ABS(n_next * {E6} - f_holt) AS e_holt,
         ABS(n_next * {E6} - f_hw) AS e_hw
  FROM j WHERE n_next IS NOT NULL AND h_next = hour_idx + 1
), agg AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_steps,
         CAST(SUM(e_pers) AS BIGINT) // COUNT(*) AS mae_pers_e6,
         CAST(SUM(e_holt) AS BIGINT) // COUNT(*) AS mae_holt_e6,
         CAST(SUM(e_hw) AS BIGINT) // COUNT(*) AS mae_hw_e6
  FROM err GROUP BY 1
)
SELECT event_type, n_steps, mae_pers_e6, mae_holt_e6, mae_hw_e6,
       CASE WHEN mae_pers_e6 <= mae_holt_e6 AND mae_pers_e6 <= mae_hw_e6
              THEN 'persistence'
            WHEN mae_holt_e6 <= mae_hw_e6 THEN 'holt'
            ELSE 'holt_winters' END AS best_model
FROM agg
"""


@register(
    "events_forecast_ensemble", oracle=ENSEMBLE_ORACLE, tags=("events", "forecast", "pandas")
)
def events_forecast_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backtest-driven model selection across the forecasting family:
    for every event type, one-step-ahead MAE of naive persistence,
    Holt (level+trend) and seasonal Holt on the SAME evaluation sample
    — only contiguous-hour steps count, so all three models predict an
    identically-defined target and the comparison is fair — then pick
    the winner (ties resolve simplest-model-first, the parsimony
    rule). This is the selection layer a forecasting service runs per
    series: nobody ships 'the Holt-Winters number', they ship the
    backtest champion.

    All errors are exact integers in the shared ×1e6 forecast domain;
    MAEs are floor divisions of exact sums. Scale: two per-type hourly
    recursions (tiny Arrow closures) + one window + a |types|-row
    aggregate."""
    # aggregate the events corpus to the hourly series ONCE and pin it;
    # both model arms consume the same frame (each arm used to re-run
    # the corpus aggregation internally — a duplicate pass the plan
    # audit could not see past the winters arm's internal pin)
    hourly = hourly_counts(load_table(spark, sf_dir, "events")).transform(pin)
    holt = events_holt_linear(spark, sf_dir, hourly=hourly).select(
        "event_type", "hour_idx", "n", F.col("forecast_e6").alias("f_holt")
    )
    hw = events_holt_winters(spark, sf_dir, hourly=hourly).select(
        "event_type", "hour_idx", F.col("forecast_e6").alias("f_hw")
    )
    win = W.partitionBy("event_type").orderBy("hour_idx")
    j = (
        holt.join(hw, ["event_type", "hour_idx"])
        .select(
            "event_type",
            "hour_idx",
            "n",
            "f_holt",
            "f_hw",
            F.lead("n").over(win).alias("n_next"),
            F.lead("hour_idx").over(win).alias("h_next"),
        )
        .filter(
            F.col("n_next").isNotNull() & (F.col("h_next") == F.col("hour_idx") + 1)
        )
    )
    err = j.select(
        "event_type",
        F.abs(F.col("n_next") * E6 - F.col("n") * E6).alias("e_pers"),
        F.abs(F.col("n_next") * E6 - F.col("f_holt")).alias("e_holt"),
        F.abs(F.col("n_next") * E6 - F.col("f_hw")).alias("e_hw"),
    )
    agg = err.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_steps"),
        F.expr("CAST(SUM(e_pers) AS BIGINT) div COUNT(*)").alias("mae_pers_e6"),
        F.expr("CAST(SUM(e_holt) AS BIGINT) div COUNT(*)").alias("mae_holt_e6"),
        F.expr("CAST(SUM(e_hw) AS BIGINT) div COUNT(*)").alias("mae_hw_e6"),
    )
    best = (
        F.when(
            (F.col("mae_pers_e6") <= F.col("mae_holt_e6"))
            & (F.col("mae_pers_e6") <= F.col("mae_hw_e6")),
            "persistence",
        )
        .when(F.col("mae_holt_e6") <= F.col("mae_hw_e6"), "holt")
        .otherwise("holt_winters")
    )
    return agg.select(
        "event_type",
        "n_steps",
        "mae_pers_e6",
        "mae_holt_e6",
        "mae_hw_e6",
        best.alias("best_model"),
    )


# --- 1-D Kalman filter (state-space smoother) -------------------------------

KAL_Q_E6 = 250_000  # process variance 0.25 — how fast the level may drift
KAL_R_E6 = 4_000_000  # measurement variance 4.0 — sensor noise

KALMAN_SCHEMA = (
    "user_id bigint, event_id bigint, ts_us bigint, value double, "
    "kalman_e6 bigint, p_e6 bigint"
)

def _kalman_oracle() -> str:
    e6, q, r = E6, KAL_Q_E6, KAL_R_E6
    innov = f"(w.z_e6 - r.kalman_e6)"
    pq = f"(r.p_e6 + {q})"
    k = _floordiv_sql(f"{pq} * {e6}", f"({pq} + {r})")
    x_next = f"r.kalman_e6 + {_floordiv_sql(f'({k}) * {innov}', e6)}"
    p_next = _floordiv_sql(f"({e6} - ({k})) * {pq}", e6)
    return f"""
WITH RECURSIVE base AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us, value,
         CAST(FLOOR(value * {e6} + 0.5) AS BIGINT) AS z_e6,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts), event_id) AS rn
  FROM events
), rec AS (
  SELECT user_id, event_id, ts_us, value, rn,
         z_e6 AS kalman_e6, CAST({r} AS BIGINT) AS p_e6
  FROM base WHERE rn = 1
  UNION ALL
  SELECT w.user_id, w.event_id, w.ts_us, w.value, w.rn,
         {x_next}, {p_next}
  FROM base w JOIN rec r ON w.user_id = r.user_id AND w.rn = r.rn + 1
)
SELECT user_id, event_id, ts_us, value, kalman_e6, p_e6 FROM rec
"""


KALMAN_ORACLE = _kalman_oracle()


def kalman_fold():
    """Keyed fold of the ×1e6 1-D Kalman filter per user, in
    (ts, event_id) order; state ``(x, p)``."""
    e6, q_e6, r_e6 = E6, KAL_Q_E6, KAL_R_E6

    def kalman(state, value):
        import math

        x, p = state if state is not None else (None, r_e6)
        xs: list[int] = []
        ps: list[int] = []
        for v in value:
            z = int(math.floor(float(v) * e6 + 0.5))
            if x is None:
                x = z
            else:
                pq = p + q_e6
                k = (pq * e6) // (pq + r_e6)
                x = x + (k * (z - x)) // e6
                p = ((e6 - k) * pq) // e6
            xs.append(x)
            ps.append(p)
        return (x, p), xs, ps

    return keyed_fold(
        "user_id", ["ts_us", "event_id"], ["value"],
        ["user_id", "event_id", "ts_us", "value"], ["kalman_e6", "p_e6"], kalman,
    )


@register("events_kalman_filter", oracle=KALMAN_ORACLE, tags=("events", "llm", "pandas"))
def events_kalman_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D Kalman filter (constant-level state-space model) over each
    user's event-value series — the optimal-in-quadratic-loss online
    smoother, and the state-space generalization of the EMA above: the
    gain k_t = (p+q)/(p+q+r) ADAPTS per step from the running error
    covariance p instead of being a fixed decay, converging to the
    steady-state gain while giving early observations more trust.
    Like the EMA, the per-step dependence on the previous OUTPUT makes
    this inexpressible as a window aggregate, so each user's series
    runs as a vectorized-grouped pandas scan.

    Exactness: the whole recurrence — gain, innovation update,
    covariance update — is int64 ×1e6 fixed point with explicit
    floor division (the innovation can be negative, so the oracle uses
    the subtract-residue floor idiom), making the Python scan and the
    DuckDB recursive CTE bit-identical with NO libm calls at all in
    the loop.

    Scale shape: one shuffle on user_id, Arrow-batched per-group scan,
    O(events/user) work — identical to events_ema_irregular; at 100 TB
    the recurrence shards perfectly by key."""
    fold = kalman_fold()
    return sorted_grouped_map(
        user_values(load_table(spark, sf_dir, "events")), ["user_id"],
        lambda pdf: fold(pdf)[0], KALMAN_SCHEMA, whole_batch=True,
    )
