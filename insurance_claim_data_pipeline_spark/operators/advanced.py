"""Advanced relational surface: outer joins, higher-order array/map
functions, scalar + correlated subqueries, UNION ALL, range window
frames.

Fills the remaining SURVEY.md §2.2 rows the first operator wave left
out. Everything is built-in Catalyst expressions — the higher-order
functions (transform/filter/aggregate) run JVM-side with codegen, which
is exactly why they beat Python UDFs for the embedding math; the
correlated subquery goes through spark.sql so Catalyst's subquery
decorrelation (RewriteCorrelatedScalarSubquery) is exercised, not
hand-rolled.

Scale notes: the right-outer join broadcasts the dim side (the fact
side never shuffles); subquery decorrelation turns the correlated
average into one aggregate + one shuffle join on the correlation key —
the same plan a hand-written window/self-join would produce; the range
frame needs one shuffle on the partition key and a linear sliding-frame
pass per partition.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.stable import dec, dec_sum, dec_sum_sql
from ..registry import register
from ..session import load_table


RIGHT_OUTER_ORACLE = f"""
SELECT c_custkey, c_name,
       COUNT(o_orderkey) AS n_orders,
       {dec_sum_sql('o_totalprice')} AS total_spend
FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
GROUP BY c_custkey, c_name
"""


@register("join_right_outer", oracle=RIGHT_OUTER_ORACLE, tags=("join",))
def join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIGHT OUTER join: every customer, with order count/spend (zero /
    null for order-less customers). The preserved (customer) side is the
    small one, so it is broadcast and the fact side never shuffles for
    the join."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey, "right_outer")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            dec_sum("o_totalprice").alias("total_spend"),
        )
    )


ARRAY_FUNCS_ORACLE = """
SELECT vec_id,
       len(embedding) AS n_dims,
       CAST(embedding[1] AS DOUBLE) AS first_val,
       ROUND(list_sum(CAST(embedding AS DOUBLE[])), 4) AS sum_all,
       CAST(list_max(embedding) AS DOUBLE) AS max_val,
       len(list_filter(embedding, x -> x > 0)) AS n_positive,
       ROUND(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)), 4)
         AS sum_squares
FROM embeddings
"""


@register("scalar_array_funcs", oracle=ARRAY_FUNCS_ORACLE, tags=("scalar", "array"))
def scalar_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions over the embedding column: size,
    element access, F.aggregate fold (sum), array_max, F.filter count,
    transform+aggregate (sum of squares). All JVM-side — this is the
    no-UDF path for vector math. float32→double casts are exact and the
    folds are sequential left-to-right in both engines, so sums are
    deterministic (rounded to absorb nothing — belt and braces)."""
    emb = load_table(spark, sf_dir, "embeddings")
    as_double = F.transform("embedding", lambda x: x.cast("double"))
    fold_sum = lambda arr: F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)  # noqa: E731
    return emb.select(
        "vec_id",
        F.size("embedding").cast("long").alias("n_dims"),
        F.element_at("embedding", 1).cast("double").alias("first_val"),
        F.round(fold_sum(as_double), 4).alias("sum_all"),
        F.array_max("embedding").cast("double").alias("max_val"),
        F.size(F.filter("embedding", lambda x: x > 0)).cast("long").alias("n_positive"),
        F.round(fold_sum(F.transform(as_double, lambda x: x * x)), 4).alias("sum_squares"),
    )


MAP_FUNCS_ORACLE = """
SELECT event_type,
       COUNT(*) AS n_events,
       2 AS n_keys
FROM events
GROUP BY event_type
"""


@register("scalar_map_funcs", oracle=MAP_FUNCS_ORACLE, tags=("scalar", "map"))
def scalar_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map type round-trip: build a map per row (create_map), read it
    back via element_at and map_keys, aggregate on the extracted value.
    The oracle checks the extracted scalars (DuckDB MAP syntax differs;
    the values, not the container, are the contract)."""
    ev = load_table(spark, sf_dir, "events")
    m = F.create_map(
        F.lit("type"), F.col("event_type"),
        F.lit("id"), F.col("event_id").cast("string"),
    )
    return (
        ev.select(
            F.element_at(m, "type").alias("event_type"),
            F.size(F.map_keys(m)).cast("long").alias("n_keys"),
        )
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.first("n_keys").alias("n_keys"))
    )


SCALAR_SUBQUERY_ORACLE = """
SELECT p_partkey, p_retailprice
FROM part
WHERE p_retailprice > (
  SELECT CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) FROM part
)
"""


@register("subquery_scalar", oracle=SCALAR_SUBQUERY_ORACLE, tags=("subquery",))
def subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery: parts above the global average
    price. Catalyst plans the subquery as its own aggregate and feeds
    the scalar into the filter (one broadcast-style reuse, no join)."""
    part = load_table(spark, sf_dir, "part")
    part.createOrReplaceTempView("part_sq")
    return spark.sql(
        """
        SELECT p_partkey, p_retailprice
        FROM part_sq
        WHERE p_retailprice > (
          SELECT CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
          FROM part_sq
        )
        """
    )


CORRELATED_SUBQUERY_ORACLE = """
SELECT o.o_orderkey, o.o_custkey, o.o_totalprice
FROM orders o
WHERE o.o_totalprice > 2 * (
  SELECT CAST(SUM(CAST(i.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
  FROM orders i WHERE i.o_custkey = o.o_custkey
)
"""


@register("subquery_correlated", oracle=CORRELATED_SUBQUERY_ORACLE, tags=("subquery",))
def subquery_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery: orders more than 2× their customer's
    average order value. Catalyst decorrelates this into
    aggregate-then-join on o_custkey — the scalable plan (one shuffle),
    not a per-row re-scan."""
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("orders_sq")
    return spark.sql(
        """
        SELECT o.o_orderkey, o.o_custkey, o.o_totalprice
        FROM orders_sq o
        WHERE o.o_totalprice > 2 * (
          SELECT CAST(SUM(CAST(i.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
          FROM orders_sq i WHERE i.o_custkey = o.o_custkey
        )
        """
    )


UNION_ALL_ORACLE = """
SELECT o_custkey, COUNT(*) AS n_rows
FROM (
  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
  UNION ALL
  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
) u
GROUP BY o_custkey
"""


@register("setop_union_all", oracle=UNION_ALL_ORACLE, tags=("setop",))
def setop_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL (bag semantics — duplicates preserved, unlike the
    distinct set ops): a row can arrive from both branches and both
    copies count."""
    orders = load_table(spark, sf_dir, "orders")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    finished = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return (
        urgent.unionByName(finished)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


COLLECT_ORACLE = """
SELECT c_mktsegment,
       array_to_string(list_sort(list(DISTINCT o_orderstatus)), '|') AS statuses,
       array_to_string(list_sort(list_distinct(list(o_orderpriority))), '|') AS priorities,
       COUNT(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


@register("agg_collect_list", oracle=COLLECT_ORACLE, tags=("agg", "array"))
def agg_collect_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_set / collect_list aggregation into array columns —
    sorted before output because collection order is partition-dependent
    (the determinism rule every array-building aggregate needs at any
    scale, not just for the oracle). Keep collected domains small
    (statuses, priorities): collecting unbounded values per group is the
    classic executor-OOM pattern.

    Arrays are projected as '|'-joined strings: the driver's value-hash
    canonicalizer sorts columns and cannot hash array cells, so every
    registry query emits scalar columns only (same rule as timestamps →
    epoch seconds)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.concat_ws("|", F.sort_array(F.collect_set("o_orderstatus"))).alias(
                "statuses"
            ),
            F.concat_ws(
                "|", F.sort_array(F.array_distinct(F.collect_list("o_orderpriority")))
            ).alias("priorities"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


EXPLODE_ORACLE = """
SELECT tok,
       COUNT(*) AS term_freq,
       COUNT(DISTINCT doc_id) AS doc_freq
FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
GROUP BY tok
ORDER BY term_freq DESC, tok
LIMIT 20
"""


@register("explode_token_freq", oracle=EXPLODE_ORACLE, tags=("scalar", "array", "text"))
def explode_token_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generator/UNNEST surface: explode the token array into rows
    (Spark's lateral-view path), aggregate corpus-wide term and document
    frequencies, global top-20 with a total-order tie-break. The explode
    is a narrow op — rows fan out inside the stage, no shuffle until the
    aggregate."""
    doc = load_table(spark, sf_dir, "documents")
    return (
        doc.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(
            F.count(F.lit(1)).alias("term_freq"),
            F.countDistinct("doc_id").alias("doc_freq"),
        )
        .orderBy(F.desc("term_freq"), "tok")
        .limit(20)
    )


SALTED_AGG_ORACLE = f"""
SELECT event_type,
       COUNT(*) AS n_events,
       {dec_sum_sql('value')} AS sum_value
FROM events
GROUP BY event_type
"""


@register("agg_salted_two_stage", oracle=SALTED_AGG_ORACLE, tags=("agg", "skew"))
def agg_salted_two_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant two-stage aggregation: group keys here have very
    few distinct values (event_type), so a single groupBy puts each key
    on ONE reducer — a straggler at 100 TB. Stage 1 groups on
    (key, salt=hash(row) % 16) so each hot key spreads over 16 reducers;
    stage 2 merges the 16 partials per key. Decimal partials re-sum
    exactly, so the result is identical to the direct aggregate (the
    oracle computes it directly). Spark's partial/final HashAggregate
    gives map-side combining already; explicit salting is the pattern
    for when the FINAL aggregate itself is the bottleneck (huge state
    per key, e.g. count-distinct or collect-type aggregates)."""
    ev = load_table(spark, sf_dir, "events")
    salted = ev.withColumn("salt", F.pmod(F.xxhash64("event_id"), F.lit(16)))
    partial = salted.groupBy("event_type", "salt").agg(
        F.count(F.lit(1)).alias("pn"),
        F.sum(dec("value")).alias("psum"),
    )
    return partial.groupBy("event_type").agg(
        F.sum("pn").alias("n_events"),
        F.sum("psum").cast("double").alias("sum_value"),
    )


RANGE_FRAME_ORACLE = """
SELECT o_orderkey, o_custkey,
       CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS order_day,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
            PARTITION BY o_custkey
            ORDER BY CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
            RANGE BETWEEN 29 PRECEDING AND CURRENT ROW) AS DOUBLE) AS spend_30d
FROM orders
"""


@register("window_range_frame", oracle=RANGE_FRAME_ORACLE, tags=("window",))
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame (value-based, not row-based): per customer, rolling
    30-day spend — all orders whose order-day lies within the 29 days
    preceding the current row's day. Days are epoch-day bigints so the
    frame bound is engine-neutral; equal-day orders share one frame in
    both engines (RANGE peer semantics). Days are computed date-side
    (datediff from epoch), not via unix_micros — o_orderdate is
    TIMESTAMP_NTZ and the date path is timezone-independent."""
    orders = load_table(spark, sf_dir, "orders")
    day = F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date")).cast("long")
    w = W.partitionBy("o_custkey").orderBy("order_day").rangeBetween(-29, W.currentRow)
    return orders.select(
        "o_orderkey",
        "o_custkey",
        day.alias("order_day"),
        dec("o_totalprice").alias("_price_dec"),
    ).select(
        "o_orderkey",
        "o_custkey",
        "order_day",
        F.sum("_price_dec").over(w).cast("double").alias("spend_30d"),
    )


# ---------------------------------------------------------------------------
# Grouped-agg pandas UDF: weighted median (the UDAF surface)
# ---------------------------------------------------------------------------

WMEDIAN_ORACLE = """
WITH w AS (
  SELECT l_returnflag, l_extendedprice AS v, l_quantity AS wt,
         SUM(l_quantity) OVER (PARTITION BY l_returnflag
                               ORDER BY l_extendedprice, l_orderkey, l_linenumber
                               ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(l_quantity) OVER (PARTITION BY l_returnflag) AS tot
  FROM lineitem
)
SELECT l_returnflag,
       MIN(v) FILTER (WHERE cum * 2 >= tot) AS weighted_median,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM w GROUP BY l_returnflag
"""


@register("agg_weighted_median_pandas", oracle=WMEDIAN_ORACLE, tags=("agg", "pandas", "llm"))
def agg_weighted_median_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median per group via a GROUPED_AGG pandas UDF — the
    custom-UDAF surface: Arrow ships each group's value/weight columns
    to one vectorized numpy reduction, the aggregation Spark's built-in
    expression set cannot state (percentile_approx is approximate and
    unweighted).

    Semantics pinned for cross-engine exactness: the LOWER weighted
    median — the smallest value whose running weight (values sorted
    ascending) reaches half the total. No interpolation, so the result
    is an actual data value and hash-comparable.

    Scale: one shuffle on the group key; per-group state is that
    group's rows (fine for bounded groups — the same reduction over a
    billion-row group belongs to the two-pass quantile approximation
    instead). The UDF is a closure, pickled by value, so external
    drivers that never added this repo to the workers' sys.path still
    run it."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def wmedian(v: pd.Series, wt: pd.Series) -> float:
        order = np.lexsort((v.to_numpy(),))  # stable sort by value
        vs = v.to_numpy()[order]
        ws = wt.to_numpy()[order]
        cum = np.cumsum(ws)
        return float(vs[np.searchsorted(cum * 2, cum[-1], side="left")])

    # grouped-agg pandas UDFs can't mix with JVM aggregates in one agg,
    # so the row count is a second (trivial) pandas aggregate
    @pandas_udf("long")
    def nrows(v: pd.Series) -> int:
        return len(v)

    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        wmedian("l_extendedprice", "l_quantity").alias("weighted_median"),
        nrows("l_extendedprice").alias("n_rows"),
    )


STRUCT_FUNCS_ORACLE = """
SELECT o_orderkey,
       CAST(o_orderkey AS VARCHAR) || ':' || o_orderstatus AS packed_key,
       o_totalprice AS unpacked_price,
       CAST(len(o_orderpriority) AS BIGINT) AS prio_len
FROM orders
WHERE o_orderkey <= 1000
"""


@register("scalar_struct_funcs", oracle=STRUCT_FUNCS_ORACLE, tags=("scalar", "struct"))
def scalar_struct_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Struct round-trip: pack columns into a named struct, read fields
    back with dot access, derive scalars from them. Structs are pure
    projection metadata in Tungsten rows — building and unpacking one
    never leaves the codegen'd scan (the oracle checks the unpacked
    scalars; the container is engine-specific)."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 1000)
    s = F.struct(
        F.col("o_orderkey").alias("key"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
        F.col("o_orderpriority").alias("prio"),
    )
    packed = o.select("o_orderkey", s.alias("s"))
    return packed.select(
        "o_orderkey",
        F.concat_ws(":", F.col("s.key").cast("string"), F.col("s.status")).alias("packed_key"),
        F.col("s.price").alias("unpacked_price"),
        F.length(F.col("s.prio")).cast("long").alias("prio_len"),
    )


FUZZY_ORACLE = """
WITH tok AS (
  SELECT DISTINCT unnest(string_split(lower(p_name), ' ')) AS t FROM part
)
SELECT a.t AS t1, b.t AS t2, levenshtein(a.t, b.t) AS dist
FROM tok a JOIN tok b ON a.t < b.t
WHERE levenshtein(a.t, b.t) <= 1
"""


@register("join_fuzzy_levenshtein", oracle=FUZZY_ORACLE, tags=("join", "text"))
def join_fuzzy_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy self-join: distinct part-name tokens within Levenshtein
    distance 1, by symmetric-delete candidate generation (the SymSpell
    scheme). Each token emits itself plus its |t| one-character
    deletions; any edit-distance-1 pair MUST share a variant (equal /
    deletion / substitution all collide on one), so an equi-join on
    the variant finds a complete candidate set and the exact
    levenshtein() filter discards the false positives (same-length
    pairs sharing a delete at different positions, e.g. 'ab'/'ba').

    Scale shape: this replaces the O(V²) all-pairs comparison the
    oracle runs with an inverted index of |t|+1 variants per token —
    the same candidates-then-verify pattern as the shingle dedups, and
    the only formulation that survives a web-scale vocabulary. Pair
    blow-up is bounded by variant-bucket sizes (≈ alphabet × dict
    density, not corpus size); AQE splits any hot short-variant
    buckets."""
    part = load_table(spark, sf_dir, "part")
    tok = (
        part.select(F.explode(F.split(F.lower("p_name"), " ")).alias("t"))
        .distinct()
    )
    variants = tok.select(
        "t",
        F.explode(
            F.array_union(
                F.array(F.col("t")),
                F.transform(
                    F.sequence(F.lit(1), F.length("t")),
                    lambda i: F.concat(
                        F.substring(F.col("t"), F.lit(1), i - 1),
                        F.substring(F.col("t"), i + 1, F.length("t")),
                    ),
                ),
            )
        ).alias("v"),
    )
    a, b = variants.alias("a"), variants.alias("b")
    cand = (
        a.join(b, (F.col("a.v") == F.col("b.v")) & (F.col("a.t") < F.col("b.t")))
        .select(F.col("a.t").alias("t1"), F.col("b.t").alias("t2"))
        .distinct()
    )
    return cand.select(
        "t1", "t2", F.levenshtein("t1", "t2").alias("dist")
    ).filter(F.col("dist") <= 1)


UNPIVOT_ORACLE = """
SELECT l_orderkey, l_linenumber, metric, value FROM (
  SELECT l_orderkey, l_linenumber, 'quantity' AS metric, l_quantity AS value FROM lineitem
  UNION ALL
  SELECT l_orderkey, l_linenumber, 'extendedprice', l_extendedprice FROM lineitem
  UNION ALL
  SELECT l_orderkey, l_linenumber, 'discount', l_discount FROM lineitem
) t
"""


@register("unpivot_metrics", oracle=UNPIVOT_ORACLE, tags=("setop", "scalar"))
def unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot (melt) of three lineitem measures — the
    inverse of pivot_priority_counts. Spark's unpivot plans as a
    single-scan Expand (each input row emits 3 output rows), NOT the
    3-scan UNION ALL the oracle spells out — same rows, one third the
    I/O; at 100 TB the Expand is the only viable formulation."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_quantity", "l_extendedprice", "l_discount"],
        variableColumnName="metric",
        valueColumnName="value",
    ).withColumn("metric", F.regexp_replace("metric", "^l_", ""))


NULL_FUNCS_ORACLE = """
SELECT c_custkey,
       COALESCE(NULLIF(c_mktsegment, 'BUILDING'), 'SEGMENT_REDACTED') AS seg_or_default,
       CAST(NULLIF(c_mktsegment, 'BUILDING') IS NULL AS INT) AS was_building,
       CASE WHEN NULLIF(c_mktsegment, 'BUILDING') IS NOT NULL
            THEN 'has_segment' ELSE 'no_segment' END AS nvl2_style,
       CAST(NULLIF(c_mktsegment, 'BUILDING')
              IS NOT DISTINCT FROM NULLIF(c_mktsegment, 'AUTOMOBILE') AS INT)
         AS nullsafe_eq,
       CAST(c_acctbal > 0 AND c_mktsegment IS NOT NULL AS INT) AS and_3vl
FROM customer
"""


@register("scalar_null_funcs", oracle=NULL_FUNCS_ORACLE, tags=("scalar",))
def scalar_null_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-semantics family: NULLIF / COALESCE / NVL2-style CASE /
    null-safe equality (Spark's <=> vs ANSI IS NOT DISTINCT FROM) /
    three-valued-logic AND — the null edge cases every SQL surface
    must agree on. Pure projection, codegen'd, no shuffle."""
    cust = load_table(spark, sf_dir, "customer")
    seg_b = F.nullif(F.col("c_mktsegment"), F.lit("BUILDING"))
    seg_a = F.nullif(F.col("c_mktsegment"), F.lit("AUTOMOBILE"))
    return cust.select(
        "c_custkey",
        F.coalesce(seg_b, F.lit("SEGMENT_REDACTED")).alias("seg_or_default"),
        seg_b.isNull().cast("int").alias("was_building"),
        F.when(seg_b.isNotNull(), "has_segment")
        .otherwise("no_segment")
        .alias("nvl2_style"),
        seg_b.eqNullSafe(seg_a).cast("int").alias("nullsafe_eq"),
        ((F.col("c_acctbal") > 0) & F.col("c_mktsegment").isNotNull())
        .cast("int")
        .alias("and_3vl"),
    )


BITWISE_ORACLE = """
SELECT o_orderkey,
       o_orderkey & 255 AS and_mask,
       o_orderkey | 4096 AS or_flag,
       xor(o_orderkey, 21845) AS xor_salt,
       bit_count(o_orderkey) AS popcount,
       o_orderkey << 2 AS shl2,
       o_orderkey >> 3 AS shr3
FROM orders
WHERE o_orderkey % 37 = 0
"""


@register("scalar_bitwise_funcs", oracle=BITWISE_ORACLE, tags=("scalar",))
def scalar_bitwise_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise function family (AND/OR/XOR masks, popcount, shifts) —
    the bit-fiddling surface behind bitmap indexes, hash mixing and
    flag packing. Pure codegen'd projection."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 37 == 0)
    k = F.col("o_orderkey")
    return orders.select(
        "o_orderkey",
        k.bitwiseAND(F.lit(255)).alias("and_mask"),
        k.bitwiseOR(F.lit(4096)).alias("or_flag"),
        k.bitwiseXOR(F.lit(21845)).alias("xor_salt"),
        F.bit_count(k).alias("popcount"),
        F.shiftleft(k, 2).alias("shl2"),
        F.shiftright(k, 3).alias("shr3"),
    )


ARGMINMAX_ORACLE = """
SELECT o_orderpriority,
       arg_max(o_orderkey,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) * 10000000 + o_orderkey)
         AS biggest_order,
       arg_min(o_orderkey,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) * 10000000 + o_orderkey)
         AS smallest_order,
       MAX(o_totalprice) AS max_price,
       MIN(o_totalprice) AS min_price
FROM orders
GROUP BY o_orderpriority
"""


@register("agg_argminmax", oracle=ARGMINMAX_ORACLE, tags=("agg",))
def agg_argminmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARGMAX/ARGMIN aggregates (Spark max_by/min_by, DuckDB
    arg_max/arg_min): the order carrying each priority class's extreme
    total. A bare max_by(key, price) is nondeterministic under price
    ties — the classic argmax trap — so the ordering value is the
    composite long ``price_cents·10^7 + orderkey`` (prices are
    2-decimal, so cents are exact; key range is bounded well below the
    multiplier at test scales, and at warehouse scale you'd widen to a
    DECIMAL(38) composite or a struct ordering where the engine
    supports it)."""
    orders = load_table(spark, sf_dir, "orders")
    rank = (
        F.round(F.col("o_totalprice") * 100).cast("long") * F.lit(10_000_000)
        + F.col("o_orderkey")
    )
    return orders.groupBy("o_orderpriority").agg(
        F.max_by("o_orderkey", rank).alias("biggest_order"),
        F.min_by("o_orderkey", rank).alias("smallest_order"),
        F.max("o_totalprice").alias("max_price"),
        F.min("o_totalprice").alias("min_price"),
    )
