"""SQL-surface coverage queries (SURVEY.md §2.5 — the reference reaches these
through its DataFusion SQL passthrough, columnq/src/query/sql.rs:5-18; here
each is an idiomatic Spark DataFrame plan with a DuckDB oracle), and the
behavioral analytics over the ``events`` stream: funnel, retention
cohorts and conversion latency.

Conventions shared with the oracles (driver hash-compares values):
- every computed column is aliased identically on both sides;
- float aggregates are rounded to 4 decimals on both sides;
- timestamps surface as DATE (or truncated timestamps) to avoid ns/us
  representation skew between engines;
- top-k queries carry a deterministic tie-break key.

Scale notes (100 TB design intent) are in each docstring; see also
docs/SCALE.md.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from roapi_spark.plans.registry import register
from roapi_spark.plans.util import maybe_broadcast
from roapi_spark.util import pround


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy parquet scan — never materialized; Catalyst prunes columns and
    pushes filters into the scan (reference equivalent: ListingTable,
    columnq/src/table/parquet.rs:65-94)."""
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# --------------------------------------------------------------------------
# Aggregations (hash aggregate w/ partial map-side combine)
# --------------------------------------------------------------------------


@register(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 4)                                        AS sum_qty,
           ROUND(SUM(l_extendedprice), 4)                                   AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 4)                AS sum_disc_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4)  AS sum_charge,
           FLOOR(AVG(l_quantity) * 10000 + 0.5) / 10000.0                   AS avg_qty,
           FLOOR(AVG(l_extendedprice) * 10000 + 0.5) / 10000.0              AS avg_price,
           FLOOR(AVG(l_discount) * 10000 + 0.5) / 10000.0                   AS avg_disc,
           CAST(COUNT(*) AS BIGINT)                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1 shape: scan-filter-hashagg. Partial aggregation happens "
    "map-side; only |flag x status| groups shuffle. Scales linearly.",
    tags=("agg",),
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(F.sum(disc_price), 4).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 4).alias("sum_charge"),
            pround(F.avg("l_quantity")).alias("avg_qty"),
            pround(F.avg("l_extendedprice")).alias("avg_price"),
            pround(F.avg("l_discount")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "q6_revenue_delta",
    oracle="""
    SELECT ROUND(SUM(l_extendedprice * l_discount), 4) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 25
    """,
    doc="TPC-H Q6 shape: pure scan+filter+agg, all predicates pushed to "
    "parquet (row-group pruning on shipdate at scale).",
    tags=("agg", "filter"),
)
def q6_revenue_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.03, 0.07))
            & (F.col("l_quantity") < 25)
        ).agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 4).alias("revenue"))
    )


@register(
    "q_stat_aggs",
    oracle="""
    SELECT l_returnflag,
           ROUND(MIN(l_extendedprice), 4)          AS min_price,
           ROUND(MAX(l_extendedprice), 4)          AS max_price,
           FLOOR(AVG(l_extendedprice) * 10000 + 0.5) / 10000.0 AS avg_price,
           ROUND(STDDEV_SAMP(l_extendedprice), 4)  AS std_price,
           ROUND(VAR_SAMP(l_discount), 4)          AS var_disc,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Statistical aggregates min/max/avg/stddev/var + exact distinct.",
    tags=("agg",),
)
def q_stat_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.min("l_extendedprice"), 4).alias("min_price"),
        F.round(F.max("l_extendedprice"), 4).alias("max_price"),
        pround(F.avg("l_extendedprice")).alias("avg_price"),
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("std_price"),
        F.round(F.var_samp("l_discount"), 4).alias("var_disc"),
        F.countDistinct("l_orderkey").alias("n_orders"),
    )


@register(
    "q_distinct",
    oracle="""
    SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
    """,
    doc="DISTINCT (reference test columnq/src/query/sql.rs:36).",
    tags=("agg",),
)
def q_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()


@register(
    "q_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(l_quantity), 4) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    doc="GROUP BY ROLLUP (grouping-sets family, SURVEY §2.5).",
    tags=("agg",),
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"), F.round(F.sum("l_quantity"), 4).alias("sum_qty")
    )


@register(
    "q_cube",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    doc="GROUP BY CUBE.",
    tags=("agg",),
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"))
    )


# --------------------------------------------------------------------------
# Joins
# --------------------------------------------------------------------------


@register(
    "q3_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue,
           CAST(o_orderdate AS DATE) AS o_orderdate,
           o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate  > TIMESTAMP '1998-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    doc="TPC-H Q3 shape: 3-way join + agg + top-k. customer is the small "
    "side -> broadcast hint; lineitem never shuffles for the join at scale.",
    tags=("join", "agg", "topk"),
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    # Join order matters for the STATIC plan: joining li to the bare
    # filtered orders scan first lets Catalyst see a 2-col scan estimate
    # under the broadcast threshold and pick BroadcastHashJoin at plan
    # time; a composite (orders JOIN customer) side has a product-of-inputs
    # size estimate, forcing an initial SortMergeJoin that shuffles
    # lineitem before AQE can convert.  At scale the scan estimate exceeds
    # the threshold and this degrades safely to shuffle+AQE.
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(maybe_broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "revenue"
            )
        )
        .select(
            "l_orderkey",
            "revenue",
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@register(
    "q5_local_supplier_volume",
    oracle="""
    SELECT n_name,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
    doc="TPC-H Q5 shape: 6-way join. All dims (region/nation/supplier/"
    "customer) broadcast; the only shuffle is lineitem->orders keyed on "
    "orderkey, then the tiny group-by. Survives 100x scale.",
    tags=("join", "agg"),
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = t(spark, sf_dir, "nation")
    supplier = t(spark, sf_dir, "supplier")
    customer = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = t(spark, sf_dir, "lineitem")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(maybe_broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            maybe_broadcast(supplier),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(maybe_broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(maybe_broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), F.col("n_name"))
    )


@register(
    "q_join_types",
    oracle="""
    SELECT n.n_name,
           CAST(COUNT(c.c_custkey) AS BIGINT) AS n_customers,
           ROUND(COALESCE(SUM(c.c_acctbal), 0), 4) AS total_acctbal
    FROM nation n LEFT JOIN customer c ON n.n_nationkey = c.c_nationkey
    GROUP BY n.n_name
    """,
    doc="Left outer join w/ null-preserving aggregation.",
    tags=("join",),
)
def q_join_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = t(spark, sf_dir, "nation")
    customer = t(spark, sf_dir, "customer")
    return (
        nation.join(customer, nation.n_nationkey == customer.c_nationkey, "left")
        .groupBy("n_name")
        .agg(
            F.count("c_custkey").alias("n_customers"),
            F.round(F.coalesce(F.sum("c_acctbal"), F.lit(0.0)), 4).alias("total_acctbal"),
        )
    )


@register(
    "q_semi_anti_join",
    oracle="""
    SELECT
      CAST((SELECT COUNT(*) FROM customer c
            WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)) AS BIGINT)
        AS with_orders,
      CAST((SELECT COUNT(*) FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)) AS BIGINT)
        AS without_orders
    """,
    doc="Semi + anti join (reference reaches these via SQL subqueries). "
    "Single plan: one left join against the distinct order-customer keys, "
    "conditional aggregation splits EXISTS vs NOT EXISTS — customer and "
    "orders each scan once, one Spark job.",
    tags=("join",),
)
def q_semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = t(spark, sf_dir, "customer").select("c_custkey")
    okeys = t(spark, sf_dir, "orders").select("o_custkey").distinct()
    return (
        customer.join(okeys, customer.c_custkey == okeys.o_custkey, "left")
        .agg(
            F.count(F.when(F.col("o_custkey").isNotNull(), 1)).alias("with_orders"),
            F.count(F.when(F.col("o_custkey").isNull(), 1)).alias("without_orders"),
        )
    )


# --------------------------------------------------------------------------
# Window functions
# --------------------------------------------------------------------------


@register(
    "q_window_topk_per_group",
    oracle="""
    SELECT * FROM (
      SELECT c_mktsegment, c_custkey, c_acctbal,
             CAST(ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                     ORDER BY c_acctbal DESC, c_custkey) AS BIGINT) AS rn,
             CAST(RANK()       OVER (PARTITION BY c_mktsegment
                                     ORDER BY c_acctbal DESC, c_custkey) AS BIGINT) AS rnk
      FROM customer) x
    WHERE rn <= 3
    """,
    doc="ROW_NUMBER/RANK top-k per group: single hash-partition shuffle on "
    "the window key; no global sort.",
    tags=("window",),
)
def q_window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = t(spark, sf_dir, "customer")
    w = W.partitionBy("c_mktsegment").orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
    return (
        customer.select(
            "c_mktsegment",
            "c_custkey",
            "c_acctbal",
            F.row_number().over(w).alias("rn"),
            F.rank().over(w).alias("rnk"),
        )
        .filter(F.col("rn") <= 3)
        .select(
            "c_mktsegment",
            "c_custkey",
            "c_acctbal",
            F.col("rn").cast("bigint").alias("rn"),
            F.col("rnk").cast("bigint").alias("rnk"),
        )
    )


@register(
    "q_window_lag_running",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(o_orderdate AS DATE) AS o_orderdate,
           ROUND(o_totalprice, 4) AS o_totalprice,
           ROUND(COALESCE(LAG(o_totalprice) OVER w, 0), 4)  AS prev_price,
           ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey
                                         ORDER BY o_orderdate, o_orderkey
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
             AS running_total
    FROM orders
    WHERE o_custkey <= 20
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    doc="LAG + running SUM with explicit ROWS frame.",
    tags=("window",),
)
def q_window_lag_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 20)
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wsum = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("o_orderdate"),
        F.round("o_totalprice", 4).alias("o_totalprice"),
        F.round(F.coalesce(F.lag("o_totalprice").over(w), F.lit(0.0)), 4).alias("prev_price"),
        F.round(F.sum("o_totalprice").over(wsum), 4).alias("running_total"),
    )


# --------------------------------------------------------------------------
# Set operations
# --------------------------------------------------------------------------


@register(
    "q_set_ops",
    oracle="""
    WITH big_spenders AS (SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 300000),
         building    AS (SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING')
    SELECT 'union' AS op, CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT custkey FROM big_spenders UNION SELECT custkey FROM building)
    UNION ALL
    SELECT 'intersect', CAST(COUNT(*) AS BIGINT)
      FROM (SELECT custkey FROM big_spenders INTERSECT SELECT custkey FROM building)
    UNION ALL
    SELECT 'except', CAST(COUNT(*) AS BIGINT)
      FROM (SELECT custkey FROM big_spenders EXCEPT SELECT custkey FROM building)
    """,
    doc="UNION / INTERSECT / EXCEPT semantics in ONE plan: full-outer join "
    "of the two distinct key sets + conditional aggregation (|A∪B| = all "
    "rows, |A∩B| = both sides present, |A\\B| = left only), then explode "
    "to the three (op, n) rows. Each input scans once, one Spark job — "
    "the oracle still uses the literal set operators.",
    tags=("setop",),
)
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    spenders = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 300000)
        .select(F.col("o_custkey").alias("custkey"))
        .distinct()
    )
    building = (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("custkey_b"))
        .distinct()
    )
    agg = (
        spenders.join(building, F.col("custkey") == F.col("custkey_b"), "full_outer")
        .agg(
            F.count("*").alias("n_union"),
            F.count(
                F.when(F.col("custkey").isNotNull() & F.col("custkey_b").isNotNull(), 1)
            ).alias("n_intersect"),
            F.count(
                F.when(F.col("custkey").isNotNull() & F.col("custkey_b").isNull(), 1)
            ).alias("n_except"),
        )
    )
    return agg.select(
        F.explode(
            F.array(
                F.struct(F.lit("union").alias("op"), F.col("n_union").alias("n")),
                F.struct(F.lit("intersect").alias("op"), F.col("n_intersect").alias("n")),
                F.struct(F.lit("except").alias("op"), F.col("n_except").alias("n")),
            )
        ).alias("r")
    ).select("r.op", "r.n")


# --------------------------------------------------------------------------
# Scalar functions: strings, dates, case/cast, arrays
# --------------------------------------------------------------------------


@register(
    "q_string_funcs",
    oracle="""
    SELECT p_partkey,
           UPPER(p_name)                                   AS name_upper,
           LOWER(p_brand)                                  AS brand_lower,
           CAST(LENGTH(p_name) AS BIGINT)                  AS name_len,
           SUBSTR(p_name, 1, 5)                            AS name_prefix,
           CONCAT(p_brand, ':', p_type)                    AS brand_type,
           REPLACE(p_type, ' ', '_')                       AS type_snake,
           SPLIT_PART(p_brand, '#', 2)                     AS brand_num,
           CASE WHEN p_name LIKE '%gold%' THEN TRUE ELSE FALSE END AS has_gold,
           REGEXP_EXTRACT(p_brand, '#(\\d+)', 1)           AS brand_digits
    FROM part
    WHERE p_partkey <= 100
    """,
    doc="String function battery (SURVEY §2.5 scalar string fns).",
    tags=("scalar",),
)
def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = t(spark, sf_dir, "part").filter(F.col("p_partkey") <= 100)
    return part.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.lower("p_brand").alias("brand_lower"),
        F.length("p_name").cast("bigint").alias("name_len"),
        F.substring("p_name", 1, 5).alias("name_prefix"),
        F.concat(F.col("p_brand"), F.lit(":"), F.col("p_type")).alias("brand_type"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_snake"),
        F.split_part(F.col("p_brand"), F.lit("#"), F.lit(2)).alias("brand_num"),
        F.col("p_name").like("%gold%").alias("has_gold"),
        F.regexp_extract(F.col("p_brand"), r"#(\d+)", 1).alias("brand_digits"),
    )


@register(
    "q_date_funcs",
    oracle="""
    SELECT CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS order_month,
           CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS order_year,
           CAST(EXTRACT(QUARTER FROM o_orderdate) AS BIGINT) AS order_quarter,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 4) AS total
    FROM orders
    GROUP BY 1, 2, 3
    """,
    doc="date_trunc / extract family over timestamp columns.",
    tags=("scalar", "agg"),
)
def q_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.date_trunc("month", "o_orderdate").cast("date").alias("order_month"),
            F.year("o_orderdate").cast("bigint").alias("order_year"),
            F.quarter("o_orderdate").cast("bigint").alias("order_quarter"),
        )
        .agg(F.count("*").alias("n_orders"), F.round(F.sum("o_totalprice"), 4).alias("total"))
    )


def events_t(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load events with a normalized microsecond `ts` regardless of the
    parquet physical type. Some generations of the fixture store
    TIMESTAMP(NANOS) (Spark's vectorized reader rejects it, so we read
    ns-as-long and rebuild a us timestamp with integer division — `div`,
    not `/`: double rounds above 2^53 and would corrupt the value); newer
    generations store TIMESTAMP(MICROS), which reads as a timestamp
    directly. Branch on the dtype actually read, not on the conf."""
    # get_spark() sets this at session build; external sessions (the
    # driver's) still need it, so guard-set here — write-once to the same
    # value, so no concurrent-query race (VERDICT r1 wrong #4).
    if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # The NTZ->LTZ cast below is a pure type change only when the session
    # TZ is UTC; guard-set it for external sessions too (same write-once-
    # same-value pattern, ADVICE r2 #1).
    if spark.conf.get("spark.sql.session.timeZone", "") != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = t(spark, sf_dir, "events")
    dt = dict(df.dtypes).get("ts")
    if dt in ("bigint", "long"):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif dt == "timestamp_ntz":
        # TIMESTAMP(MICROS, isAdjustedToUTC=false) reads as NTZ; downstream
        # ops (unix_micros, streaming watermarks) need LTZ. Session TZ is
        # UTC, so this cast is a type change, not a wall-clock shift.
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


@register(
    "q_events_hourly",
    oracle="""
    SELECT event_type,
           CAST(DATE_TRUNC('hour', ts) AS TIMESTAMP) AS hour,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(value), 4) AS sum_value,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS uniq_users
    FROM events
    WHERE event_type IN ('click', 'purchase')
    GROUP BY 1, 2
    """,
    doc="Time-bucketed aggregation over the events table (ns timestamps "
    "truncate identically to hour on both engines).",
    tags=("agg", "scalar"),
)
def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_t(spark, sf_dir).filter(F.col("event_type").isin("click", "purchase"))
    return ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 4).alias("sum_value"),
        F.countDistinct("user_id").alias("uniq_users"),
    )


@register(
    "q_case_cast",
    oracle="""
    SELECT CASE WHEN o_totalprice >= 300000 THEN 'large'
                WHEN o_totalprice >= 150000 THEN 'medium'
                ELSE 'small' END AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(CAST(FLOOR(o_totalprice) AS BIGINT)) AS BIGINT) AS min_floor
    FROM orders
    GROUP BY 1
    """,
    doc="CASE WHEN + CAST.",
    tags=("scalar",),
)
def q_case_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    bucket = (
        F.when(F.col("o_totalprice") >= 300000, "large")
        .when(F.col("o_totalprice") >= 150000, "medium")
        .otherwise("small")
        .alias("bucket")
    )
    return orders.groupBy(bucket).agg(
        F.count("*").alias("n"),
        F.min(F.floor("o_totalprice").cast("bigint")).cast("bigint").alias("min_floor"),
    )


@register(
    "q_array_agg",
    oracle="""
    SELECT r_name,
           STRING_AGG(n_name, ',' ORDER BY n_name) AS nations
    FROM region JOIN nation ON r_regionkey = n_regionkey
    GROUP BY r_name
    """,
    doc="array_agg / collect_list surfaced as a deterministic sorted join-"
    "string (collect_list order is nondeterministic, so both sides sort).",
    tags=("agg", "nested"),
)
def q_array_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = t(spark, sf_dir, "region")
    nation = t(spark, sf_dir, "nation")
    return (
        region.join(nation, F.col("r_regionkey") == F.col("n_regionkey"))
        .groupBy("r_name")
        .agg(F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations"))
    )


@register(
    "q_explode_tokens",
    oracle="""
    WITH toks AS (
      SELECT UNNEST(STRING_SPLIT_REGEX(LOWER(text), '[^a-z]+')) AS token
      FROM documents WHERE lang = 'en'
    )
    SELECT token, CAST(COUNT(*) AS BIGINT) AS n
    FROM toks
    WHERE LENGTH(token) >= 3
    GROUP BY token
    ORDER BY n DESC, token
    LIMIT 20
    """,
    doc="explode/unnest: tokenize documents, top-20 tokens. At scale this "
    "is the classic map-side-explode + combine pattern.",
    tags=("nested", "text"),
)
def q_explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").filter(F.col("lang") == "en")
    return (
        docs.select(F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("token"))
        .filter(F.length("token") >= 3)
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("token"))
        .limit(20)
    )


@register(
    "q_approx_aggs",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           TRUE AS parts_ok,
           TRUE AS median_ok,
           TRUE AS p95_ok
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="approx_count_distinct + approx percentiles (DataFusion exposes "
    "approx_distinct/approx_percentile_cont through the passthrough). "
    "Sketch values are engine-specific, so the gated contract is a bounded-"
    "error one: each group emits exact_parts plus booleans asserting the "
    "sketch landed within tolerance (HLL rsd=5% -> 10%; KLL accuracy=1e4 "
    "-> 5%); the oracle pins the booleans TRUE, so sketch drift fails the "
    "hash. The exact-distinct agg runs SEPARATELY from the percentile "
    "agg and joins on the 3-row group keys: mixing them makes the "
    "single-distinct rewrite pre-group by (flag, partkey) and carry "
    "imperative percentile buffers per pre-group — measured 28 s vs "
    "5.4 s split at sf0.1 under full evaluation.",
    tags=("agg", "approx"),
)
def q_approx_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    within = lambda approx, exact, tol: (  # noqa: E731
        F.abs(approx.cast("double") - exact) / exact <= tol
    )
    # Array-form percentiles: ONE exact-percentile buffer (a value->count
    # map over every l_extendedprice in the group) and ONE KLL sketch
    # serve both quantiles, where the scalar form built two of each —
    # same interpolation per element, identical values (round 14).
    pcts = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.expr("percentile(l_extendedprice, array(0.5D, 0.95D))").alias("ep"),
        F.percentile_approx(
            "l_extendedprice", F.array(F.lit(0.5), F.lit(0.95))
        ).alias("ap"),
    )
    pcts = pcts.select(
        "l_returnflag",
        "approx_parts",
        F.col("ep")[0].alias("exact_median"),
        F.col("ap")[0].alias("approx_median"),
        F.col("ep")[1].alias("exact_p95"),
        F.col("ap")[1].alias("approx_p95"),
    )
    parts = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("exact_parts")
    )
    agg = pcts.join(parts, "l_returnflag")
    return agg.select(
        "l_returnflag",
        F.col("exact_parts").cast("bigint").alias("exact_parts"),
        within(F.col("approx_parts"), F.col("exact_parts"), 0.10).alias("parts_ok"),
        within(F.col("approx_median"), F.col("exact_median"), 0.05).alias("median_ok"),
        within(F.col("approx_p95"), F.col("exact_p95"), 0.05).alias("p95_ok"),
    )


# -- behavioral analytics over the events stream ---------------------------

FUNNEL = ("signup", "click", "purchase")


def _funnel_stage_times(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, st{t1,t2,t3}) — per-user stage timestamps (epoch micros,
    null = stage not reached) from the single-shuffle timeline fold."""
    ev = events_t(spark, sf_dir).filter(F.col("event_type").isin(*FUNNEL))
    per_user = ev.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(
                F.struct(F.unix_micros("ts").alias("us"), F.col("event_type").alias("et"))
            )
        ).alias("tl")
    )
    # fold the sorted timeline: first signup, first click strictly after
    # it, first purchase strictly after that — accumulator carries the
    # three stage timestamps (null = not reached)
    walked = per_user.select(
        F.aggregate(
            "tl",
            F.struct(
                F.lit(None).cast("bigint").alias("t1"),
                F.lit(None).cast("bigint").alias("t2"),
                F.lit(None).cast("bigint").alias("t3"),
            ),
            lambda acc, e: F.struct(
                F.when(
                    acc.t1.isNull() & (e.et == FUNNEL[0]), e.us
                ).otherwise(acc.t1).alias("t1"),
                F.when(
                    acc.t2.isNull()
                    & acc.t1.isNotNull()
                    & (e.et == FUNNEL[1])
                    & (e.us > acc.t1),
                    e.us,
                ).otherwise(acc.t2).alias("t2"),
                F.when(
                    acc.t3.isNull()
                    & acc.t2.isNotNull()
                    & (e.et == FUNNEL[2])
                    & (e.us > acc.t2),
                    e.us,
                ).otherwise(acc.t3).alias("t3"),
            ),
        ).alias("st")
    )
    return walked


@register(
    "q_event_funnel",
    oracle="""
    WITH s1 AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ), s2 AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t1
      WHERE e.event_type = 'click' GROUP BY e.user_id
    ), s3 AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t2
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    ), n AS (
      SELECT 1 AS stage_idx, 'signup' AS stage, COUNT(*) AS n_users FROM s1
      UNION ALL SELECT 2, 'click', COUNT(*) FROM s2
      UNION ALL SELECT 3, 'purchase', COUNT(*) FROM s3
    )
    SELECT CAST(stage_idx AS BIGINT) AS stage_idx, stage,
           CAST(n_users AS BIGINT) AS n_users,
           FLOOR(CAST(n_users AS DOUBLE)
                 / GREATEST(MAX(n_users) OVER (), 1) * 10000 + 0.5)
             / 10000.0 AS conv_pct
    FROM n
    """,
    doc="Ordered funnel (signup -> click after signup -> purchase after "
    "click): per-user event timeline folded in ONE pass — array_sort the "
    "(ts, type) structs per user, then a JVM-side aggregate() walk picks "
    "the first qualifying timestamp per stage. The oracle states the same "
    "semantics as three stage joins. Strictly-after (`>`) ordering at "
    "every stage.",
    tags=("events", "funnel"),
)
def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    walked = _funnel_stage_times(spark, sf_dir)
    counts = walked.agg(
        F.count("st.t1").alias("n1"),
        F.count("st.t2").alias("n2"),
        F.count("st.t3").alias("n3"),
    )
    # max-over-stages computed as greatest(n1, n2, n3) on the 1-row
    # aggregate BEFORE the 3-row explode — no window at all (the oracle's
    # MAX() OVER () states the same value; this removes the last
    # unpartitioned WindowExec from this query's plan).
    stages = counts.select(
        F.explode(
            F.array(
                F.struct(F.lit(1).cast("bigint").alias("stage_idx"),
                         F.lit(FUNNEL[0]).alias("stage"),
                         F.col("n1").alias("n_users")),
                F.struct(F.lit(2).cast("bigint").alias("stage_idx"),
                         F.lit(FUNNEL[1]).alias("stage"),
                         F.col("n2").alias("n_users")),
                F.struct(F.lit(3).cast("bigint").alias("stage_idx"),
                         F.lit(FUNNEL[2]).alias("stage"),
                         F.col("n3").alias("n_users")),
            )
        ).alias("s"),
        F.greatest("n1", "n2", "n3").alias("max_users"),
    ).select("s.*", "max_users")
    return stages.select(
        "stage_idx",
        "stage",
        "n_users",
        pround(
            F.col("n_users").cast("double")
            / F.greatest(F.col("max_users"), F.lit(1))
        ).alias("conv_pct"),
    )


@register(
    "q_retention_cohort",
    oracle="""
    WITH first_touch AS (
      SELECT user_id, CAST(DATE_TRUNC('week', MIN(ts)) AS DATE) AS cohort_week
      FROM events GROUP BY user_id
    ), activity AS (
      SELECT DISTINCT user_id, CAST(DATE_TRUNC('week', ts) AS DATE) AS w
      FROM events
    ), hits AS (
      SELECT f.cohort_week,
             CAST((a.w - f.cohort_week) / 7 AS BIGINT) AS week_offset,
             a.user_id
      FROM activity a JOIN first_touch f ON a.user_id = f.user_id
    ), agg AS (
      SELECT cohort_week, week_offset, COUNT(DISTINCT user_id) AS n_active
      FROM hits GROUP BY 1, 2
    )
    SELECT cohort_week, week_offset,
           CAST(n_active AS BIGINT) AS n_active,
           FLOOR(CAST(n_active AS DOUBLE)
                 / MAX(CASE WHEN week_offset = 0 THEN n_active END)
                     OVER (PARTITION BY cohort_week) * 10000 + 0.5)
             / 10000.0 AS retention_pct
    FROM agg
    """,
    doc="Weekly retention cohorts: users bucketed by ISO week of first "
    "event; n_active = distinct users from that cohort active k weeks "
    "later; retention_pct normalized to the cohort's week-0 size. Both "
    "engines truncate weeks to ISO Monday. The user_id shuffle is shared "
    "by first-touch and activity; the final agg is |weeks| x |offsets| "
    "rows.",
    tags=("events", "cohort"),
)
def q_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_t(spark, sf_dir)
    first_touch = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    activity = ev.select(
        "user_id", F.date_trunc("week", "ts").cast("date").alias("w")
    ).distinct()
    agg = (
        activity.join(first_touch, "user_id")
        .select(
            "cohort_week",
            (F.datediff("w", "cohort_week") / 7).cast("bigint").alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_active"))
    )
    wk0 = W.partitionBy("cohort_week")
    return agg.select(
        "cohort_week",
        "week_offset",
        "n_active",
        pround(
            F.col("n_active").cast("double")
            / F.max(
                F.when(F.col("week_offset") == 0, F.col("n_active"))
            ).over(wk0)
        ).alias("retention_pct"),
    )


@register(
    "q_conversion_latency",
    oracle="""
    WITH s1 AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ), s2 AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t1
      WHERE e.event_type = 'click' GROUP BY e.user_id
    ), s3 AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t2
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    ), lat AS (
      SELECT s3.user_id,
             (EPOCH_US(s3.t3) - EPOCH_US(s1.t1)) / 1000000.0 AS sec
      FROM s3 JOIN s1 ON s3.user_id = s1.user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
           FLOOR(MIN(sec) * 10000 + 0.5) / 10000.0 AS min_seconds,
           FLOOR(AVG(sec) * 10000 + 0.5) / 10000.0 AS avg_seconds,
           FLOOR(MAX(sec) * 10000 + 0.5) / 10000.0 AS max_seconds
    FROM lat
    """,
    doc="Conversion-latency summary over the completed funnels: per "
    "converting user, seconds from first signup to the qualifying "
    "purchase (the same single-shuffle timeline fold as q_event_funnel, "
    "shared via _funnel_stage_times), aggregated to count/min/avg/max — "
    "the number a growth dashboard puts next to the funnel counts.",
    tags=("events", "funnel"),
)
def q_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    walked = _funnel_stage_times(spark, sf_dir)
    lat = walked.filter(F.col("st.t3").isNotNull()).select(
        ((F.col("st.t3") - F.col("st.t1")) / 1e6).alias("sec")
    )
    return lat.agg(
        F.count("*").alias("n_converted"),
        pround(F.min("sec")).alias("min_seconds"),
        pround(F.avg("sec")).alias("avg_seconds"),
        pround(F.max("sec")).alias("max_seconds"),
    )
