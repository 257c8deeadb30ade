"""Relational operator surface (SURVEY.md §2.5).

The reference delegates all querying to Postgres over its 23-table model; our
engine provides the equivalent relational surface natively on Catalyst. Each
query below is one operator family — scan/filter/project, the join flavors
(broadcast / shuffle / left / semi / anti / range), hash aggregation,
rollup/cube, window functions (rank, running, lag, as-of, EMA), sort/limit,
set ops, scalar string/date/json/array functions — expressed with the
DataFrame API and paired with a DuckDB oracle.

Scale notes are inline per query; the general rules:
- dimension tables (region/nation/customer at this ratio) are broadcast —
  mirrors the topic_id-indexed FK joins the reference schema is built for
  (/root/reference/sql-migrations/v0.5.1/202409242000*.sql:7-43);
- fact-fact joins shuffle on the join key, which is also the natural
  partition key at 100 TB (orderkey);
- aggregates are partial (map-side) by construction — groupBy over
  decimal-cast columns keeps Tungsten hash aggregation in codegen.

Arithmetic expressions are written once as SQL fragments and used verbatim in
both the Spark plan (F.expr) and the DuckDB oracle, which removes any
transcription drift between the two.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

from allora_indexer_spark.operators.hashutil import md5_hex32_duck, md5_hex32_spark
from allora_indexer_spark.registry import query
from allora_indexer_spark.tables import load_table

# ---------------------------------------------------------------------------
# Shared deterministic arithmetic fragments (see registry.py contract).
# ---------------------------------------------------------------------------

DEC = "DECIMAL(18,4)"
# revenue = extendedprice * (1 - discount), exact in decimal
REV = f"CAST(l_extendedprice AS {DEC}) * (CAST(1 AS {DEC}) - CAST(l_discount AS {DEC}))"
# charge = revenue * (1 + tax); intermediate re-cast keeps precision <= 38.
# Data has <= 2 fractional digits so DECIMAL(18,8) re-cast is exact (no ties).
CHARGE = (
    f"CAST({REV} AS DECIMAL(18,8)) * (CAST(1 AS {DEC}) + CAST(l_tax AS {DEC}))"
)


def _sum_d(expr: str, alias: str) -> str:
    # ROUND(...,4) before the double cast keeps the unscaled decimal < 2^53 so
    # both engines do an exact int→double followed by one correctly-rounded
    # division; without it, high-scale sums double-round differently in DuckDB.
    # Decimal halves round away from zero in both engines, so ties agree too.
    return f"CAST(ROUND(SUM({expr}), 4) AS DOUBLE) AS {alias}"


def _avg_d(expr: str, alias: str) -> str:
    # exact decimal sum, then a single double division — deterministic in both
    return f"CAST(ROUND(SUM({expr}), 4) AS DOUBLE) / COUNT(*) AS {alias}"


# ---------------------------------------------------------------------------
# Aggregation family
# ---------------------------------------------------------------------------

_Q01_AGGS = [
    _sum_d(f"CAST(l_quantity AS {DEC})", "sum_qty"),
    _sum_d(f"CAST(l_extendedprice AS {DEC})", "sum_base_price"),
    _sum_d(REV, "sum_disc_price"),
    _sum_d(CHARGE, "sum_charge"),
    _avg_d(f"CAST(l_quantity AS {DEC})", "avg_qty"),
    _avg_d(f"CAST(l_extendedprice AS {DEC})", "avg_price"),
    _avg_d(f"CAST(l_discount AS {DEC})", "avg_disc"),
    "COUNT(*) AS count_order",
]


@query(
    "q01_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus, {", ".join(_Q01_AGGS)}
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary: scan → filter → hash aggregate.

    Scale: pure map-side-partial aggregate over 4 grouping values — the
    shuffle moves only |groups| x |partitions| rows. Filter and the 7-column
    projection push down to the parquet scan.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(*[F.expr(a) for a in _Q01_AGGS])
    )


@query(
    "q02_revenue_by_nation",
    oracle=f"""
    SELECT n.n_name AS nation, {_sum_d(REV, "revenue")}, COUNT(*) AS line_count
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA' AND o.o_orderstatus <> 'F'
    GROUP BY n.n_name
    """,
)
def q02_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: 5-way join (fact ⋈ fact ⋈ 3 broadcast dims) → hash agg.

    Scale: lineitem⋈orders shuffles on orderkey (the natural co-partition
    key); customer/nation/region are broadcast so the dimension chain adds
    zero shuffles. Region filter prunes before the broadcast.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") != "F")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    dims = F.broadcast(
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("c_custkey", "n_name")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(dims, orders.o_custkey == dims.c_custkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.expr(_sum_d(REV, "revenue")), F.count("*").alias("line_count"))
    )


@query(
    "q03_top_orders_by_segment",
    oracle=f"""
    SELECT o.o_orderkey, o.o_orderdate, o.o_orderpriority, {_sum_d(REV, "revenue")}
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
)
def q03_top_orders_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join → agg → global top-k (TakeOrderedAndProject).

    Scale: top-k is computed per-partition then merged on the driver —
    no global sort materialization.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.expr(_sum_d(REV, "revenue")))
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


@query(
    "q06_revenue_filter",
    oracle=f"""
    SELECT {_sum_d(f"CAST(l_extendedprice AS {DEC}) * CAST(l_discount AS {DEC})", "revenue")},

           COUNT(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.02 AND 0.09
      AND l_quantity < 24
    """,
)
def q06_revenue_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-style selective scan: all predicates push to parquet."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.02, 0.09)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.expr(
                _sum_d(f"CAST(l_extendedprice AS {DEC}) * CAST(l_discount AS {DEC})", "revenue")
            ),
            F.count("*").alias("n_rows"),
        )
    )


@query(
    "q07_brand_volume",
    oracle=f"""
    SELECT p.p_brand, COUNT(*) AS line_count,
           {_sum_d(f"CAST(l_quantity AS {DEC})", "total_qty")},
           {_avg_d(f"CAST(p_retailprice AS {DEC})", "avg_retail")}
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    """,
)
def q07_brand_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast dim join + aggregate (part plays the `topics` dimension role)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("line_count"),
            F.expr(_sum_d(f"CAST(l_quantity AS {DEC})", "total_qty")),
            F.expr(_avg_d(f"CAST(p_retailprice AS {DEC})", "avg_retail")),
        )
    )


# ---------------------------------------------------------------------------
# Join flavors
# ---------------------------------------------------------------------------


@query(
    "q04_semi_join_open_orders",
    oracle="""
    SELECT c.c_custkey, c.c_name
    FROM customer c
    WHERE EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O'
    )
    """,
)
def q04_semi_join_open_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join: customers having at least one open order."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@query(
    "q05_anti_join_quiet_customers",
    oracle="""
    SELECT c.c_custkey, c.c_name, c.c_acctbal
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def q05_anti_join_quiet_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join: customers with no orders at all."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_acctbal"
    )


@query(
    "q08_left_join_order_counts",
    oracle="""
    SELECT c.c_custkey, c.c_mktsegment,
           COUNT(o.o_orderkey) AS order_count,
           CAST(COALESCE(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))), 0) AS DOUBLE) AS total_spend
    FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, c.c_mktsegment
    """,
)
def q08_left_join_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving zero-order customers."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(orders, orders.o_custkey == cust.c_custkey, "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.count("o_orderkey").alias("order_count"),
            F.expr(
                "CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 0) AS DOUBLE)"
            ).alias("total_spend"),
        )
    )


@query(
    "q23_range_join_ship_lag",
    oracle="""
    SELECT o.o_orderpriority, COUNT(*) AS shipped_within_30d
    FROM lineitem l
    JOIN orders o
      ON l.l_orderkey = o.o_orderkey
     AND l.l_shipdate >= o.o_orderdate
     AND l.l_shipdate < o.o_orderdate + INTERVAL 30 DAY
    GROUP BY o.o_orderpriority
    """,
)
def q23_range_join_ship_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi+range join: lineitems shipped within 30 days of their order.

    Scale: the equi key (orderkey) carries the shuffle; the range predicate
    evaluates post-match, so this stays a hash join — never a BNL join.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    return (
        li.join(
            orders,
            (li.l_orderkey == orders.o_orderkey)
            & (li.l_shipdate >= orders.o_orderdate)
            & (li.l_shipdate < orders.o_orderdate + F.expr("INTERVAL 30 DAY")),
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("shipped_within_30d"))
    )


# ---------------------------------------------------------------------------
# Grouping sets / rollup / cube / distinct
# ---------------------------------------------------------------------------


@query(
    "q13_rollup_flag_status",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {_sum_d(f"CAST(l_quantity AS {DEC})", "sum_qty")}, COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q13_rollup_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (flag → flag+status → grand total)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.expr(_sum_d(f"CAST(l_quantity AS {DEC})", "sum_qty")),
        F.count("*").alias("n_rows"),
    )


@query(
    "q14_cube_status_priority",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def q14_cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two dimensions — all 4 grouping-set combinations."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.expr("CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)").alias(
            "total_price"
        ),
    )


@query(
    "q16_distinct_counts",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS distinct_parts,
           COUNT(DISTINCT l_suppkey) AS distinct_suppliers,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q16_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column COUNT(DISTINCT) — Spark expands + partial-aggregates."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("distinct_parts"),
        F.countDistinct("l_suppkey").alias("distinct_suppliers"),
        F.count("*").alias("n_rows"),
    )


@query("q16b_approx_distinct")  # no oracle: approximate by design (rows-only check)
def q16b_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) — the 100 TB-scale variant of
    q16: mergeable sketch, no expand, bounded memory."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", 0.02).alias("approx_parts"),
        F.count("*").alias("n_rows"),
    )


# ---------------------------------------------------------------------------
# Set operators
# ---------------------------------------------------------------------------


@query(
    "q15_setops_nations",
    oracle="""
    SELECT n_nationkey, 'both' AS side
    FROM (SELECT DISTINCT c_nationkey AS n_nationkey FROM customer
          INTERSECT
          SELECT DISTINCT s_nationkey FROM supplier)
    UNION ALL
    SELECT n_nationkey, 'customer_only' AS side
    FROM (SELECT DISTINCT c_nationkey AS n_nationkey FROM customer
          EXCEPT
          SELECT DISTINCT s_nationkey FROM supplier)
    """,
)
def q15_setops_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT / UNION ALL over nation keys."""
    cust_n = (
        load_table(spark, sf_dir, "customer")
        .select(F.col("c_nationkey").alias("n_nationkey"))
        .distinct()
    )
    supp_n = (
        load_table(spark, sf_dir, "supplier")
        .select(F.col("s_nationkey").alias("n_nationkey"))
        .distinct()
    )
    both = cust_n.intersect(supp_n).withColumn("side", F.lit("both"))
    cust_only = cust_n.exceptAll(supp_n).withColumn("side", F.lit("customer_only"))
    return both.unionByName(cust_only)


# ---------------------------------------------------------------------------
# Window functions (K5 latest-per-key, ema_scores EMA, running aggregates)
# ---------------------------------------------------------------------------


@query(
    "q09_topk_orders_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rk
      FROM orders
    ) WHERE rk <= 2
    """,
)
def q09_topk_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 orders per customer via ROW_NUMBER (the K5 'keep latest per key'
    pattern from the reference's last_commit_values upsert,
    /root/reference/db.go:1171-1180, generalized to top-k)."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rk"),
        )
        .filter(F.col("rk") <= 2)
    )


@query(
    "q10_running_user_value",
    oracle="""
    SELECT event_id, user_id, value,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER (
             PARTITION BY user_id ORDER BY event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS running_value,
           COUNT(*) OVER (
             PARTITION BY user_id ORDER BY event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_so_far
    FROM events
    """,
)
def q10_running_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running (cumulative) aggregate per user over the event stream."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        "value",
        F.sum(F.col("value").cast("decimal(18,4)"))
        .over(w)
        .cast("double")
        .alias("running_value"),
        F.count("*").over(w).alias("n_so_far"),
    )


@query(
    "q11_lag_delta",
    oracle="""
    SELECT event_id, user_id, event_type, value,
           value - LAG(value) OVER (PARTITION BY user_id ORDER BY event_id) AS delta,
           LEAD(event_type) OVER (PARTITION BY user_id ORDER BY event_id) AS next_type
    FROM events
    """,
)
def q11_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAG/LEAD analytics over the per-user event sequence."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    return ev.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        (F.col("value") - F.lag("value").over(w)).alias("delta"),
        F.lead("event_type").over(w).alias("next_type"),
    )


@query(
    "q22_asof_last_purchase",
    oracle="""
    SELECT event_id, user_id, ts, event_type,
           LAST_VALUE(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS last_purchase_value
    FROM events
    """,
)
def q22_asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join expressed as a window: each event picks up the most recent
    preceding purchase value for the same user (the reference's
    `last_commit_values` keep-latest semantics, /root/reference/db.go:1171-1180,
    as a point-in-time lookup)."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    purchase_val = F.when(F.col("event_type") == "purchase", F.col("value"))
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.last(purchase_val, ignorenulls=True).over(w).alias("last_purchase_value"),
    )


# ---------------------------------------------------------------------------
# Date/time + JSON + string scalar functions (events table)
# ---------------------------------------------------------------------------


@query(
    "q17_daily_event_stats",
    oracle="""
    SELECT DATE_TRUNC('day', ts) AS day, event_type, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value,
           CAST(MIN(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS min_value,
           CAST(MAX(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS max_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q17_daily_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """date_trunc bucketing + min/max/sum — the block_time rollup pattern."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_trunc("day", "ts").alias("day"), "event_type"
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total_value"),
        F.min(F.col("value").cast("decimal(18,4)")).cast("double").alias("min_value"),
        F.max(F.col("value").cast("decimal(18,4)")).cast("double").alias("max_value"),
    )


@query(
    "q18_tumbling_window_10m",
    oracle="""
    SELECT time_bucket(INTERVAL '10 minutes', ts) AS window_start,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1
    """,
)
def q18_tumbling_window_10m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 10-minute event-time window (the batch twin of the streaming
    windowed aggregation; F.window is the same operator Structured Streaming
    uses with a watermark)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "total_value")
    )


@query(
    "q19_json_extract_props",
    oracle="""
    SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS k_bucket,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1
    """,
)
def q19_json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction from the semi-structured props column — the JSONB
    pattern of the reference's messages.data / events.data columns
    (/root/reference/db.go:223,402)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(
            (F.get_json_object("props", "$.k").cast("int") % 10).alias("k_bucket"),
            "value",
        )
        .groupBy("k_bucket")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)"))
            .cast("double")
            .alias("total_value"),
        )
    )


@query(
    "q20_string_functions",
    oracle="""
    SELECT source,
           TRY_CAST(regexp_extract(source, '([0-9]+)$', 1) AS INTEGER) AS source_num,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN starts_with(source, 'src1') THEN 1 ELSE 0 END) AS BIGINT) AS src1_prefix,
           MIN(upper(lang)) AS min_lang_upper
    FROM documents
    GROUP BY source
    """,
)
def q20_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String scalar family: regexp_extract / startswith / upper — the
    event-type parsing family (F2/F3 in SURVEY §2.3,
    /root/reference/process_events.go:148-154)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(
                F.when(F.col("source").startswith("src1"), 1).otherwise(0)
            ).alias("src1_prefix"),
            F.min(F.upper("lang")).alias("min_lang_upper"),
        )
        .withColumn(
            "source_num", F.regexp_extract("source", r"([0-9]+)$", 1).cast("int")
        )
        .select("source", "source_num", "n_docs", "src1_prefix", "min_lang_upper")
    )


@query(
    "q21_try_cast_gate",
    oracle="""
    SELECT COUNT(*) AS n_events,
           COUNT(TRY_CAST(json_extract_string(props, '$.k') AS INTEGER)) AS parsed_k,
           COUNT(TRY_CAST(event_type AS DOUBLE)) AS bogus_numeric,
           CAST(SUM(COALESCE(TRY_CAST(json_extract_string(props, '$.k') AS INTEGER), 0)) AS BIGINT) AS sum_k
    FROM events
    """,
)
def q21_try_cast_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """try_cast null-on-failure parsing — the reference's float-parse gate
    (/root/reference/process_tx.go:344-367) and Infinity/NaN numeric guard
    (/root/reference/db.go:1715-1717)."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").try_cast("int")
    return ev.agg(
        F.count("*").alias("n_events"),
        F.count(k).alias("parsed_k"),
        F.count(F.col("event_type").try_cast("double")).alias("bogus_numeric"),
        F.sum(F.coalesce(k, F.lit(0))).cast("bigint").alias("sum_k"),
    )


# ---------------------------------------------------------------------------
# Sort / limit
# ---------------------------------------------------------------------------


@query(
    "q24_global_topk_orders",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 15
    """,
)
def q24_global_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: Spark plans TakeOrderedAndProject (no full sort)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(15)
    )


# ---------------------------------------------------------------------------
# Session windows, ordered-arg aggregates, conditional aggs, range frames,
# map functions (second coverage wave)
# ---------------------------------------------------------------------------


@query(
    "q27_user_sessions",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ),
    sessions AS (
      SELECT user_id, ts, event_id,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id
      FROM marked
    )
    SELECT user_id, MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events
    FROM sessions GROUP BY user_id, session_id
    """,
)
def q27_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-minute inactivity gap) via F.session_window — the
    same operator Structured Streaming uses for stateful sessionization; the
    oracle derives identical sessions with the lag/cumsum formulation."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


@query(
    "q28_ordered_arg_aggs",
    oracle="""
    SELECT user_id,
           min_by(event_type, event_id) AS first_type,
           max_by(event_type, event_id) AS last_type,
           min(ts) AS first_ts,
           max(ts) AS last_ts,
           max_by(value, event_id) AS last_value
    FROM events GROUP BY user_id
    """,
)
def q28_ordered_arg_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min_by/max_by ordered-argument aggregates (first/last event per user
    without a window) — event_id is unique, so results are deterministic."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.min_by("event_type", "event_id").alias("first_type"),
        F.max_by("event_type", "event_id").alias("last_type"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        F.max_by("value", "event_id").alias("last_value"),
    )


@query(
    "q29_conditional_aggs",
    oracle="""
    SELECT user_id,
           COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_purchases,
           COUNT(*) FILTER (WHERE event_type = 'error') AS n_errors,
           CAST(COALESCE(SUM(CAST(value AS DECIMAL(18,4)))
                  FILTER (WHERE event_type = 'purchase'), 0) AS DOUBLE)
             AS purchase_value,
           COUNT(DISTINCT event_type) AS distinct_types
    FROM events GROUP BY user_id
    """,
)
def q29_conditional_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation (FILTER / count_if family)."""
    ev = load_table(spark, sf_dir, "events")
    is_purchase = F.col("event_type") == "purchase"
    return ev.groupBy("user_id").agg(
        F.count_if(is_purchase).alias("n_purchases"),
        F.count_if(F.col("event_type") == "error").alias("n_errors"),
        F.coalesce(
            F.sum(F.when(is_purchase, F.col("value")).cast("decimal(18,4)")),
            F.lit(0).cast("decimal(18,4)"),
        ).cast("double").alias("purchase_value"),
        F.countDistinct("event_type").alias("distinct_types"),
    )


@query(
    "q36_range_frame_rolling",
    oracle="""
    SELECT event_id, user_id,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER (
             PARTITION BY user_id ORDER BY epoch(ts)
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS rolling_1h_value,
           COUNT(*) OVER (
             PARTITION BY user_id ORDER BY epoch(ts)
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS rolling_1h_events
    FROM events
    """,
)
def q36_range_frame_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame rolling aggregate: per-user trailing 1-hour totals keyed
    on event time (the hypertable-rollup pattern over block_time).

    The frame orders by FRACTIONAL seconds (timestamp cast to double =
    microsecond-precision epoch), matching DuckDB's epoch(ts).
    unix_timestamp() floors to whole seconds, and a floored frame admits
    pairs whose true gap is in (3600, 3601) s — a real divergence at
    sf0.1 (one row differs) that the sf0.01 gate misses by data
    density."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        # ts is TIMESTAMP_NTZ (no direct double cast): hop through
        # timestamp — the session timezone is pinned UTC, so the hop is
        # value-preserving and the double is the exact fractional epoch
        "epoch_s", F.col("ts").cast("timestamp").cast("double")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("epoch_s")
        .rangeBetween(-3600, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.sum(F.col("value").cast("decimal(18,4)"))
        .over(w).cast("double").alias("rolling_1h_value"),
        F.count("*").over(w).alias("rolling_1h_events"),
    )


@query(
    "q26_props_map_functions",
    oracle="""
    SELECT event_id,
           len(json_keys(props)) AS n_keys,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_value,
           CASE WHEN json_extract_string(props, '$.k') IS NOT NULL
                THEN TRUE ELSE FALSE END AS has_k
    FROM events
    """,
)
def q26_props_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props as a map: from_json to map<string,string> +
    map_keys/element_at — the E6 attribute-map pivot applied to the driver's
    events table (the JSONB access pattern of messages.data/events.data)."""
    ev = load_table(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,string>")
    return ev.select(
        "event_id",
        F.size(F.map_keys(m)).alias("n_keys"),
        F.element_at(m, "k").cast("int").alias("k_value"),
        F.element_at(m, "k").isNotNull().alias("has_k"),
    )


# ---------------------------------------------------------------------------
# Subqueries, statistics, pivot (third coverage wave)
# ---------------------------------------------------------------------------


@query(
    "q25_correlated_subquery",
    oracle="""
    SELECT l.l_partkey,
           COUNT(*) AS n_small_lines,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 4) AS DOUBLE)
             AS small_line_revenue
    FROM lineitem l
    WHERE l.l_quantity < (
      SELECT 0.5 * (CAST(ROUND(SUM(CAST(l2.l_quantity AS DECIMAL(18,4))), 4)
                     AS DOUBLE) / COUNT(*))
      FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey
    )
    GROUP BY l.l_partkey
    """,
)
def q25_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (TPC-H Q17 pattern): lineitems below half
    of their part's average quantity. Catalyst decorrelates this into an
    aggregate + self-join — asserted indirectly by it finishing at sf0.1."""
    li = load_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("q25_lineitem")
    return spark.sql("""
        SELECT l.l_partkey,
               COUNT(*) AS n_small_lines,
               CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 4) AS DOUBLE)
                 AS small_line_revenue
        FROM q25_lineitem l
        WHERE l.l_quantity < (
          SELECT 0.5 * (CAST(ROUND(SUM(CAST(l2.l_quantity AS DECIMAL(18,4))), 4)
                         AS DOUBLE) / COUNT(*))
          FROM q25_lineitem l2 WHERE l2.l_partkey = l.l_partkey
        )
        GROUP BY l.l_partkey
    """)


@query(
    "q35_bpe_token_count",
    oracle=r"""
    SELECT doc_id,
           len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_subword_tokens,
           len(regexp_extract_all(text, '[aeiou]')) AS n_vowels,
           len(string_split(text, ' ')) AS n_whitespace_tokens
    FROM documents
    """,
)
def q35_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace and a BPE-ish regex segmentation
    (letter runs / digit runs / single punctuation) — the pretokenizer
    pattern used before byte-pair merging."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(
            F.regexp_extract_all("text", F.lit(r"[a-z]+|[0-9]+|[^a-z0-9 ]"), F.lit(0))
        ).alias("n_subword_tokens"),
        F.size(
            F.regexp_extract_all("text", F.lit(r"[aeiou]"), F.lit(0))
        ).alias("n_vowels"),
        F.size(F.split("text", " ")).alias("n_whitespace_tokens"),
    )


@query(
    "q38_variance_explicit",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 4) AS DOUBLE) AS sum_v,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4))), 4)
             AS DOUBLE) AS sum_v2,
           (CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4))), 4)
              AS DOUBLE)
            - CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 4) AS DOUBLE)
              * CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 4) AS DOUBLE) / COUNT(*))
           / (COUNT(*) - 1) AS sample_variance
    FROM events GROUP BY event_type
    """,
)
def q38_variance_explicit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample variance from exact decimal moments (sum, sum of squares).

    Spark's built-in stddev/var aggregate doubles in partition order —
    nondeterministic in the last ulp; the decimal-moment formulation is both
    deterministic and oracle-exact, the same trick production pipelines use
    for reproducible metrics."""
    ev = load_table(spark, sf_dir, "events")
    v = F.col("value").cast("decimal(18,4)")
    sum_v = F.round(F.sum(v), 4).cast("double")
    sum_v2 = F.round(F.sum(v * v), 4).cast("double")
    n = F.count("*")
    return ev.groupBy("event_type").agg(
        n.alias("n"),
        sum_v.alias("sum_v"),
        sum_v2.alias("sum_v2"),
        ((sum_v2 - sum_v * sum_v / n) / (n - F.lit(1))).alias("sample_variance"),
    )


@query(
    "q39_pivot_event_counts",
    oracle="""
    SELECT user_id,
           COUNT(*) FILTER (WHERE event_type = 'click') AS click,
           COUNT(*) FILTER (WHERE event_type = 'view') AS view,
           COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
           COUNT(*) FILTER (WHERE event_type = 'error') AS error
    FROM events GROUP BY user_id
    """,
)
def q39_pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: event_type values become columns (explicit value list keeps
    the plan a single pass — Spark needs no extra job to discover values)."""
    ev = load_table(spark, sf_dir, "events")
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", ["click", "view", "purchase", "signup", "error"])
        .count()
    )
    # pivot yields nulls for absent combos; the oracle's FILTER yields 0
    return out.select(
        "user_id",
        *[F.coalesce(F.col(c), F.lit(0)).alias(c)
          for c in ("click", "view", "purchase", "signup", "error")],
    )


@query(
    "q37_percentiles",
    oracle="""
    SELECT event_type,
           median(value) AS median_value,
           quantile_cont(value, 0.9) AS p90_value,
           quantile_cont(value, 0.99) AS p99_value,
           MIN(value) AS min_value, MAX(value) AS max_value
    FROM events GROUP BY event_type
    """,
)
def q37_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median / continuous percentiles (both engines use the same
    (n-1)*q linear interpolation, verified bit-identical). The 100 TB
    variant is q16b's sketch family (approx_percentile) — exact percentile
    needs a per-group sort and is priced accordingly."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.median("value").alias("median_value"),
        F.percentile("value", F.lit(0.9)).alias("p90_value"),
        F.percentile("value", F.lit(0.99)).alias("p99_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )


@query(
    "q46_grouping_sets",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag) AS g_flag,
           GROUPING(l_linestatus) AS g_status,
           {_sum_d(f"CAST(l_quantity AS {DEC})", "sum_qty")}, COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
)
def q46_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form behind q13's ROLLUP and
    q14's CUBE) with GROUPING() flags disambiguating real NULL keys from
    subtotal rows. One shuffle: Spark expands the sets map-side, so the
    three grains cost a single Exchange regardless of set count."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupingSets(
        [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
        "l_returnflag",
        "l_linestatus",
    ).agg(
        F.grouping("l_returnflag").cast("int").alias("g_flag"),
        F.grouping("l_linestatus").cast("int").alias("g_status"),
        F.expr(_sum_d(f"CAST(l_quantity AS {DEC})", "sum_qty")),
        F.count("*").alias("n_rows"),
    )


_UNPIVOT_COMPONENTS = ["quantity", "extendedprice", "discount", "tax"]


@query(
    "q47_unpivot_charges",
    oracle=f"""
    WITH u AS (
      {" UNION ALL ".join(
        f"SELECT l_returnflag, '{c}' AS component,"
        f" CAST(l_{c} AS {DEC}) AS amount FROM lineitem"
        for c in _UNPIVOT_COMPONENTS
      )}
    )
    SELECT l_returnflag, component, COUNT(*) AS n_rows,
           CAST(ROUND(SUM(amount), 4) AS DOUBLE) AS total_amount
    FROM u GROUP BY l_returnflag, component
    """,
)
def q47_unpivot_charges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot (melt) then re-aggregate — the standalone query
    form of E4's value-bundle unpivot (reference insertValueBundle,
    /root/reference/db.go:1540-1652, which unions 6 tagged branches).
    Spark's `unpivot` plans a single Expand node: one pass over the fact
    table emitting 4 rows per input row map-side, no join, one shuffle for
    the final aggregation — at 100 TB this beats the oracle's 4-scan
    UNION ALL formulation 4:1 on input I/O."""
    li = load_table(spark, sf_dir, "lineitem")
    wide = li.select(
        "l_returnflag",
        *[F.col(f"l_{c}").cast(DEC).alias(c) for c in _UNPIVOT_COMPONENTS],
    )
    long = wide.unpivot(
        ["l_returnflag"], _UNPIVOT_COMPONENTS, "component", "amount"
    )
    return long.groupBy("l_returnflag", "component").agg(
        F.count("*").alias("n_rows"),
        F.round(F.sum("amount"), 4).cast("double").alias("total_amount"),
    )


@query(
    "q45_salted_skew_agg",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 4) AS DOUBLE) AS total_value
    FROM events GROUP BY user_id
    """,
)
def q45_salted_skew_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-stage aggregation for skewed keys: stage 1 aggregates on
    (key, salt) spreading one hot key over 16 reducers, stage 2 merges the
    partials. Result is provably identical to the direct groupBy (the oracle)
    because decimal sums are associative. At 100 TB this is the manual
    counterpart of AQE's skew-join splitting, usable when a single groupBy
    key dominates (e.g. one hyperactive topic_id)."""
    ev = load_table(spark, sf_dir, "events")
    salted = ev.withColumn("_salt", F.pmod(F.xxhash64("event_id"), F.lit(16)))
    partial = salted.groupBy("user_id", "_salt").agg(
        F.count("*").alias("pc"),
        F.sum(F.col("value").cast("decimal(18,4)")).alias("pv"),
    )
    return partial.groupBy("user_id").agg(
        F.sum("pc").alias("n_events"),
        F.round(F.sum("pv"), 4).cast("double").alias("total_value"),
    )


@query(
    "q49_analytic_suite",
    oracle="""
    SELECT o_orderkey, o_orderstatus,
           DENSE_RANK() OVER w AS price_dense_rank,
           NTILE(4) OVER w AS price_quartile,
           PERCENT_RANK() OVER w AS price_pct_rank,
           CUME_DIST() OVER w AS price_cume_dist
    FROM orders
    WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
    """,
)
def q49_analytic_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remaining analytic window functions in one pass: dense_rank,
    ntile, percent_rank, cume_dist over a deterministic (totally ordered)
    window. All four share one Window spec → one sort per partition.
    percent_rank/cume_dist are small-integer ratios evaluated in double —
    cross-engine exact.

    Scale note: exact global ranks within a 3-value status key mean each
    partition sorts ~1/3 of the table — inherent to the semantics (like
    q99c's NTILE), not a plan bug; the scale path is approximate ranks
    from sampled boundaries, which this exact-oracle query deliberately
    does not take."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    return orders.select(
        "o_orderkey",
        "o_orderstatus",
        F.dense_rank().over(w).alias("price_dense_rank"),
        F.ntile(4).over(w).alias("price_quartile"),
        F.percent_rank().over(w).alias("price_pct_rank"),
        F.cume_dist().over(w).alias("price_cume_dist"),
    )


@query(
    "q56_string_agg",
    oracle="""
    SELECT o_orderstatus,
           string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority)
             AS priorities,
           COUNT(DISTINCT o_orderpriority) AS n_priorities
    FROM orders GROUP BY o_orderstatus
    """,
)
def q56_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate-into-string (LISTAGG/string_agg): collect_set → array_sort
    → array_join makes the concatenation order deterministic, which is what
    makes the operator usable at all in a distributed engine — unordered
    listagg is nondeterministic under partitioning."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.array_join(
            F.array_sort(F.collect_set("o_orderpriority")), ","
        ).alias("priorities"),
        F.count_distinct("o_orderpriority").alias("n_priorities"),
    )


@query(
    "q57_date_parts",
    oracle="""
    WITH d AS (
      SELECT EXTRACT(YEAR FROM o_orderdate) AS yr,
             EXTRACT(QUARTER FROM o_orderdate) AS qtr,
             EXTRACT(MONTH FROM o_orderdate) AS mo,
             datediff('day', DATE '1994-01-01', CAST(o_orderdate AS DATE)) AS dd
      FROM orders
    )
    SELECT yr, qtr, mo, COUNT(*) AS n_orders,
           MIN(dd) AS min_days_since_epoch, MAX(dd) AS max_days_since_epoch
    FROM d GROUP BY yr, qtr, mo
    """,
)
def q57_date_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar decomposition + day arithmetic (year/quarter/month extract,
    datediff against a fixed epoch) — the date scalar-function family over
    the order timestamps, aggregated to the calendar grain a partitioned
    table would use as its layout key."""
    orders = load_table(spark, sf_dir, "orders")
    d = orders.select(
        F.year("o_orderdate").alias("yr"),
        F.quarter("o_orderdate").alias("qtr"),
        F.month("o_orderdate").alias("mo"),
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1994-01-01").cast("date")
        ).alias("dd"),
    )
    return d.groupBy("yr", "qtr", "mo").agg(
        F.count("*").alias("n_orders"),
        F.min("dd").alias("min_days_since_epoch"),
        F.max("dd").alias("max_days_since_epoch"),
    )


# One ANSI string, two engines: the Spark side runs EXACTLY the oracle text
# through spark.sql() over temp views — the SQL-API surface with provably
# zero transcription drift (TPC-H Q4 shape: EXISTS correlated subquery).
_Q63_SQL = """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
      )
    GROUP BY o_orderpriority
"""


@query("q63_shared_sql_exists", oracle=_Q63_SQL)
def q63_shared_sql_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS correlated subquery via the SQL API: Catalyst decorrelates it
    into a LEFT SEMI join on l_orderkey (same plan as q04's explicit
    semi-join), so at scale this is one shuffle on the natural
    co-partition key, not a per-row probe."""
    from allora_indexer_spark.tables import register_views

    register_views(spark, sf_dir, names=("orders", "lineitem"))
    return spark.sql(_Q63_SQL)


@query("q65_approx_percentile")  # no oracle: sketch internals are engine-specific
def q65_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KLL/GK-style percentile sketch (approx_percentile) per event type —
    the mergeable-summary path that replaces q37's exact per-group sort at
    100 TB: partials are O(1/eps) sketches merged associatively, so the
    shuffle carries sketches, not values. Accuracy is bounded by the
    relative-error parameter; the driver records a rows-only check (sketch
    layouts differ across engines by design)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_percentile("value", F.lit(0.5), F.lit(10000)).alias("p50_approx"),
        F.approx_percentile("value", F.lit(0.99), F.lit(10000)).alias("p99_approx"),
        F.count("*").alias("n_events"),
    )


@query(
    "q66_time_weighted_avg",
    oracle="""
    WITH seg AS (
      SELECT user_id, value,
             CAST(date_diff('second', ts,
                  LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
               AS BIGINT) AS dur_s
      FROM events
    )
    SELECT user_id,
           CAST(SUM(CAST(value AS DECIMAL(18,4)) * dur_s) AS DOUBLE)
             / SUM(dur_s) AS twa_value,
           CAST(SUM(dur_s) AS BIGINT) AS total_s, COUNT(*) AS n_segments
    FROM seg WHERE dur_s IS NOT NULL AND dur_s > 0
    GROUP BY user_id
    """,
)
def q66_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average per user: each reading holds until the next
    one (LEAD over event time), weight = holding duration in seconds —
    the right mean for irregularly-sampled series (a steady score held for
    an hour outweighs a blip held a second). Decimal value x integer
    seconds keeps the weighted sum exact in both engines; one window sort
    + one aggregate, both on the user_id partitioning."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seg = ev.select(
        "user_id",
        "value",
        # Spark 4 refuses a direct TIMESTAMP_NTZ -> BIGINT cast, so hop
        # through TIMESTAMP first. The TZ offset cancels in the
        # subtraction, and LONG-casting floors both endpoints to epoch
        # seconds — the same boundary-crossing count DuckDB's
        # date_diff('second', ...) produces (timestamp_diff would
        # truncate *elapsed* time instead and drift on sub-second parts).
        (
            F.lead("ts").over(w).cast("timestamp").cast("long")
            - F.col("ts").cast("timestamp").cast("long")
        ).alias("dur_s"),
    ).filter(F.col("dur_s").isNotNull() & (F.col("dur_s") > 0))
    return seg.groupBy("user_id").agg(
        (
            F.sum(F.col("value").cast("decimal(18,4)") * F.col("dur_s")).cast(
                "double"
            )
            / F.sum("dur_s")
        ).alias("twa_value"),
        F.sum("dur_s").alias("total_s"),
        F.count("*").alias("n_segments"),
    )


@query(
    "q67_sequence_gaps",
    oracle="""
    WITH k AS (SELECT DISTINCT l_orderkey AS key FROM lineitem),
    g AS (
      SELECT key,
             LAG(key) OVER (ORDER BY key) AS prev_key
      FROM k
    )
    SELECT prev_key + 1 AS gap_start, key - 1 AS gap_end,
           key - prev_key - 1 AS n_missing
    FROM g WHERE prev_key IS NOT NULL AND key - prev_key > 1
    """,
)
def q67_sequence_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap detection over an ordered key sequence (islands-and-gaps) — the
    completeness probe an indexer runs to find unprocessed block heights
    (the reference's catch-up loop implicitly assumes contiguity from
    MAX(height), main.go:221-253; this surfaces holes explicitly).

    Scale: a naive LAG over a global ORDER BY funnels the whole sequence
    through ONE task. Instead, keys are bucketed by range (key div B):
    in-bucket gaps use a window PARTITIONED by bucket (parallel), and
    cross-bucket gaps come from a second window over the per-bucket
    [min,max] summaries — O(#buckets) rows, trivially one task. Same
    answer, no single-partition sort."""
    from pyspark.sql import Window

    B = 1024
    li = load_table(spark, sf_dir, "lineitem")
    k = (
        li.select(F.col("l_orderkey").alias("key"))
        .distinct()
        .withColumn("b", F.floor(F.col("key") / B))
    )
    wb = Window.partitionBy("b").orderBy("key")
    intra = (
        k.select("key", F.lag("key").over(wb).alias("prev_key"))
        .filter(
            F.col("prev_key").isNotNull()
            & ((F.col("key") - F.col("prev_key")) > 1)
        )
    )
    summaries = k.groupBy("b").agg(
        F.min("key").alias("mn"), F.max("key").alias("mx")
    )
    wg = Window.orderBy("b")  # #buckets rows only
    cross = (
        summaries.select("mn", F.lag("mx").over(wg).alias("prev_key"))
        .filter(
            F.col("prev_key").isNotNull()
            & ((F.col("mn") - F.col("prev_key")) > 1)
        )
        .select("prev_key", F.col("mn").alias("key"))
    )
    gaps = intra.select("prev_key", "key").unionByName(cross)
    return gaps.select(
        (F.col("prev_key") + 1).alias("gap_start"),
        (F.col("key") - 1).alias("gap_end"),
        (F.col("key") - F.col("prev_key") - 1).alias("n_missing"),
    )



def _hourly_grid(ev: DataFrame, bucket: str = "bucket") -> DataFrame:
    """Densified (event_type x hour) calendar grid between the corpus'
    min/max observed hour — the gap-filling scaffold shared by q68
    (zero fill), q73 (LOCF) and q99r (linear interpolation).
    Single-sourced so a grain change reaches the whole family (and its
    oracles) together. O(types x hours) — tiny next to the fact table;
    the 1-row bounds aggregate broadcasts."""
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    return (
        ev.select("event_type").distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(
                F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
            ).alias(bucket),
        )
    )


# the decimal-exact hourly mean shared by q73/q99r (and their oracles)
_HOURLY_AVG_SQL = (
    f"CAST(ROUND(SUM(CAST(value AS {DEC})), 4) AS DOUBLE)"
    " / COUNT(*) AS avg_value"
)


@query(
    "q68_densify_hourly",
    oracle="""
    WITH RECURSIVE b AS (
      SELECT date_trunc('hour', MIN(ts)) AS lo, date_trunc('hour', MAX(ts)) AS hi
      FROM events
    ),
    d(day) AS (
      SELECT lo FROM b
      UNION ALL
      SELECT day + INTERVAL 1 HOUR FROM d, b WHERE day < b.hi
    ),
    days AS (
      SELECT t.event_type, d.day
      FROM (SELECT DISTINCT event_type FROM events) t, d
    ),
    actual AS (
      SELECT event_type, date_trunc('hour', ts) AS day, COUNT(*) AS n
      FROM events GROUP BY event_type, date_trunc('hour', ts)
    )
    SELECT days.event_type, days.day AS bucket_start,
           COALESCE(actual.n, 0) AS n_events,
           (actual.n IS NULL) AS is_gap_filled
    FROM days LEFT JOIN actual
      ON days.event_type = actual.event_type AND days.day = actual.day
    """,
)
def q68_densify_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar densification (gap filling): generate the full HOURLY grid
    per event type with sequence()+explode and left-join the actual hourly
    counts, zero-filling missing hours — the step that makes downstream
    window arithmetic (lag deltas, moving averages) correct on sparse
    series. The generated grid is O(types x hours) — tiny next to the fact
    table — and the single left join runs on the (type, hour) grain, so
    densification adds one broadcast-ish join, not a scan."""
    ev = load_table(spark, sf_dir, "events")
    days = _hourly_grid(ev, bucket="day")
    actual = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("day")
    ).agg(F.count("*").alias("n"))
    return days.join(actual, ["event_type", "day"], "left").select(
        "event_type",
        F.col("day").alias("bucket_start"),
        F.coalesce("n", F.lit(0)).alias("n_events"),
        F.col("n").isNull().alias("is_gap_filled"),
    )


@query(
    "q70_full_outer_nation_activity",
    oracle=f"""
    WITH c AS (
      SELECT c_nationkey AS nk, COUNT(*) AS n_customers,
             {_sum_d(f"CAST(c_acctbal AS {DEC})", "cust_bal")}
      FROM customer WHERE c_mktsegment = 'BUILDING' GROUP BY c_nationkey
    ),
    s AS (
      SELECT s_nationkey AS nk, COUNT(*) AS n_suppliers,
             {_sum_d(f"CAST(s_acctbal AS {DEC})", "supp_bal")}
      FROM supplier GROUP BY s_nationkey
    )
    SELECT COALESCE(c.nk, s.nk) AS nationkey,
           n_customers, cust_bal, n_suppliers, supp_bal
    FROM c FULL JOIN s ON c.nk = s.nk
    """,
)
def q70_full_outer_nation_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join of two pre-aggregated sides (BUILDING-segment
    customers vs suppliers per nation), null-preserving on both sides —
    the join flavor the q02-q08 family doesn't cover.

    Scale: both inputs are aggregated to the nation grain BEFORE the join,
    so the full-outer join runs on |nations| rows regardless of fact size;
    the heavy lifting stays in two map-side-partial aggregations."""
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .groupBy(F.col("c_nationkey").alias("nk_c"))
        .agg(
            F.count("*").alias("n_customers"),
            F.expr(_sum_d(f"CAST(c_acctbal AS {DEC})", "cust_bal")),
        )
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk_s"))
        .agg(
            F.count("*").alias("n_suppliers"),
            F.expr(_sum_d(f"CAST(s_acctbal AS {DEC})", "supp_bal")),
        )
    )
    return (
        cust.join(supp, cust.nk_c == supp.nk_s, "full_outer")
        .select(
            F.coalesce("nk_c", "nk_s").alias("nationkey"),
            "n_customers",
            "cust_bal",
            "n_suppliers",
            "supp_bal",
        )
    )


_Q71_SQL = """
    SELECT n.n_name AS nation, t.custkey, t.customer, t.acctbal
    FROM nation n, LATERAL (
      SELECT c_custkey AS custkey, c_name AS customer, c_acctbal AS acctbal
      FROM customer c
      WHERE c.c_nationkey = n.n_nationkey
      ORDER BY c_acctbal DESC, c_custkey
      LIMIT 3
    ) t
"""


@query("q71_lateral_topk_customers", oracle=_Q71_SQL)
def q71_lateral_topk_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with per-group ORDER BY ... LIMIT (top-3
    customers by balance per nation), run from the identical SQL text on
    both engines (q63 pattern).

    Scale: Catalyst decorrelates the lateral into a row_number window
    hash-partitioned on the correlation key — no per-nation re-scan of
    customer. Observed plan cost vs q09's hand-written window top-k: one
    extra range-partitioned exchange, because the subquery's ORDER BY
    survives as a global sort before the window rewrite; prefer the q09
    formulation on hot paths and this one for SQL-surface compatibility.
    The ORDER BY carries the unique c_custkey tie-break (registry
    contract) so both engines pick the same 3 rows on balance ties."""
    from allora_indexer_spark.tables import register_views

    register_views(spark, sf_dir, names=("nation", "customer"))
    return spark.sql(_Q71_SQL)


@query(
    "q73_locf_hourly_fill",
    oracle="""
    WITH RECURSIVE b AS (
      SELECT date_trunc('hour', MIN(ts)) AS lo, date_trunc('hour', MAX(ts)) AS hi
      FROM events
    ),
    g(bucket) AS (
      SELECT lo FROM b
      UNION ALL
      SELECT bucket + INTERVAL 1 HOUR FROM g, b WHERE bucket < b.hi
    ),
    grid AS (
      SELECT t.event_type, g.bucket
      FROM (SELECT DISTINCT event_type FROM events) t, g
    ),
    actual AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket,
             CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 4) AS DOUBLE)
               / COUNT(*) AS avg_value
      FROM events GROUP BY event_type, date_trunc('hour', ts)
    )
    SELECT grid.event_type, grid.bucket,
           (actual.avg_value IS NULL) AS was_gap,
           last_value(actual.avg_value IGNORE NULLS) OVER (
             PARTITION BY grid.event_type ORDER BY grid.bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
    FROM grid LEFT JOIN actual
      ON grid.event_type = actual.event_type AND grid.bucket = actual.bucket
    """,
)
def q73_locf_hourly_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward fill / LOCF (last observation carried forward): densify the
    hourly grid per event type (q68), then carry the last non-null hourly
    average across gap hours with last(..., ignorenulls) over a running
    row frame. Hours before a type's first observation stay NULL — LOCF
    has nothing to carry — and both engines agree on that.

    Scale: the grid is O(types x hours) — tiny next to the fact table —
    so the window sort runs on the densified grain, not the raw events;
    the per-type partition gives the fill embarrassing parallelism."""
    ev = load_table(spark, sf_dir, "events")
    grid = _hourly_grid(ev)
    actual = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bucket")
    ).agg(F.expr(_HOURLY_AVG_SQL))
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(actual, ["event_type", "bucket"], "left")
        .select(
            "event_type",
            "bucket",
            F.col("avg_value").isNull().alias("was_gap"),
            F.last("avg_value", ignorenulls=True).over(w).alias("filled_value"),
        )
    )


@query(
    "q74_bitwise_checksums",
    oracle="""
    SELECT event_type,
           bit_xor(event_id) AS id_xor_checksum,
           bit_and(user_id) AS uid_and,
           bit_or(user_id) AS uid_or,
           bool_and(value >= 0) AS all_nonneg,
           bool_or(value > 100) AS any_large,
           COUNT(*) FILTER (WHERE value > 50) AS n_large
    FROM events GROUP BY event_type
    """,
)
def q74_bitwise_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise / boolean aggregate family: XOR content checksum per group
    (the order- and partition-independent integrity check used to compare
    replicas without sorting), bit AND/OR envelopes, bool_and/bool_or
    predicates, and a filtered count.

    Scale: every one of these is a commutative-associative partial
    aggregate — a 100 TB XOR checksum shuffles exactly one long per
    (group, partition), which is why it's the standard cross-replica
    consistency probe."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.bit_xor("event_id").alias("id_xor_checksum"),
        F.bit_and("user_id").alias("uid_and"),
        F.bit_or("user_id").alias("uid_or"),
        F.bool_and(F.col("value") >= 0).alias("all_nonneg"),
        F.bool_or(F.col("value") > 100).alias("any_large"),
        F.count_if(F.col("value") > 50).alias("n_large"),
    )


@query(
    "q75_multiset_setops",
    oracle="""
    WITH a AS (SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'O'),
    b AS (SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F'),
    inter AS (
      SELECT o_orderpriority, 'in_both' AS side
      FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b)
    ),
    diff AS (
      SELECT o_orderpriority, 'open_excess' AS side
      FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
    )
    SELECT o_orderpriority, side, COUNT(*) AS n
    FROM (SELECT * FROM inter UNION ALL SELECT * FROM diff)
    GROUP BY o_orderpriority, side
    """,
)
def q75_multiset_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset (bag) set operators — INTERSECT ALL keeps min(nA,nB)
    copies per value, EXCEPT ALL keeps max(0, nA-nB) — the
    duplicate-preserving semantics q15's distinct set ops don't cover,
    verified through the per-value cardinalities they imply.

    Scale: Spark plans each bag operator as a replicate-count hash
    aggregate over a union of the two sides (no sort), but plans the two
    operators independently — this formulation scans the fact twice per
    operator. The algebraic twin (one aggregate with per-side conditional
    counts, then least()/greatest() for the bag cardinalities) is the
    single-scan hot-path form; this entry pins the operator surface."""
    orders = load_table(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderstatus") == "O").select("o_orderpriority")
    b = orders.filter(F.col("o_orderstatus") == "F").select("o_orderpriority")
    inter = a.intersectAll(b).withColumn("side", F.lit("in_both"))
    diff = a.exceptAll(b).withColumn("side", F.lit("open_excess"))
    return (
        inter.unionByName(diff)
        .groupBy("o_orderpriority", "side")
        .agg(F.count("*").alias("n"))
    )


@query(
    "q77_modal_event_type",
    oracle="""
    WITH counts AS (
      SELECT user_id, event_type, COUNT(*) AS n
      FROM events GROUP BY user_id, event_type
    ),
    ranked AS (
      SELECT user_id, event_type, n,
             ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY n DESC, event_type) AS rnk
      FROM counts
    )
    SELECT user_id, event_type AS modal_type, n AS modal_count
    FROM ranked WHERE rnk = 1
    """,
)
def q77_modal_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mode (most frequent value) per group with a deterministic tie-break
    — the data-profiling primitive engines expose as mode()/arg_max but
    whose tie behavior is engine-defined; the count+rank formulation pins
    identical winners on both engines (lowest event_type wins ties).

    Scale: partial aggregate on (user, type) then a tiny per-user window —
    the window input is |users| x |types|, already reduced, and
    WindowGroupLimit prunes to the per-user head before any full sort."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))
    w = Window.partitionBy("user_id").orderBy(
        F.col("n").desc(), F.col("event_type")
    )
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("modal_type"),
            F.col("n").alias("modal_count"),
        )
    )


@query(
    "q81_value_histogram",
    oracle="""
    SELECT event_type,
           CAST(floor(value / 25.0) AS BIGINT) AS bin,
           CAST(floor(value / 25.0) AS BIGINT) * 25.0 AS bin_lo,
           (CAST(floor(value / 25.0) AS BIGINT) + 1) * 25.0 AS bin_hi,
           COUNT(*) AS n
    FROM events
    GROUP BY event_type, CAST(floor(value / 25.0) AS BIGINT)
    """,
)
def q81_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram binning (width_bucket-style profiling): map
    each value to floor(value/width) and count per (type, bin). The bin
    key is one IEEE division + floor — bit-identical across engines, no
    decimal-division scale semantics involved; bin edges are exact small
    multiples of the width.

    Scale: binning collapses the fact table to O(types x bins) on the map
    side — the histogram shuffle is the smallest possible partial
    aggregate, which is why fixed-width histograms (not exact quantiles)
    are the first profiling pass at 100 TB; q65's sketch percentiles are
    the refinement."""
    ev = load_table(spark, sf_dir, "events")
    bin_ = F.floor(F.col("value") / 25.0).cast("bigint")
    return (
        ev.groupBy("event_type", bin_.alias("bin"))
        .agg(F.count("*").alias("n"))
        .select(
            "event_type",
            "bin",
            (F.col("bin") * 25.0).alias("bin_lo"),
            ((F.col("bin") + 1) * 25.0).alias("bin_hi"),
            "n",
        )
    )


@query(
    "q82_nullsafe_join",
    oracle="""
    WITH a AS (
      SELECT nullif(event_type, 'click') AS k, COUNT(*) AS n_events
      FROM events GROUP BY nullif(event_type, 'click')
    ),
    b AS (
      SELECT nullif(event_type, 'click') AS k, COUNT(*) AS n_ref
      FROM events WHERE user_id < 50 GROUP BY nullif(event_type, 'click')
    )
    SELECT a.k, a.n_events, b.n_ref
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    """,
)
def q82_nullsafe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (<=> / IS NOT DISTINCT FROM) on a derived
    nullable key: the NULL group matches the NULL group instead of being
    silently dropped as it would under plain equality — the semantics
    needed when joining on optional attributes without a sentinel rewrite.

    Scale: Spark plans <=> as an ordinary hash join (null-safe keys still
    hash-partition, with nulls co-located in one partition) — so this
    costs the same as the plain equi-join, and the null bucket is the
    skew-watch key."""
    ev = load_table(spark, sf_dir, "events")
    k = F.nullif(F.col("event_type"), F.lit("click"))
    a = ev.groupBy(k.alias("k")).agg(F.count("*").alias("n_events"))
    b = (
        ev.filter(F.col("user_id") < 50)
        .groupBy(k.alias("k"))
        .agg(F.count("*").alias("n_ref"))
    )
    return a.join(b, a.k.eqNullSafe(b.k)).select(a.k.alias("k"), "n_events", "n_ref")


@query(
    "q83_fuzzy_match_topk",
    oracle="""
    SELECT p_partkey, p_type,
           levenshtein(p_type, 'PROMO BURNISHED COPPER') AS dist
    FROM part
    ORDER BY dist, p_partkey
    LIMIT 20
    """,
)
def q83_fuzzy_match_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy lookup: edit distance (Levenshtein) of every part type to a
    probe string, keeping the 20 closest. Integer DP distance is
    bit-identical across engines; ties broken by p_partkey for a total
    order. The string-similarity primitive behind catalog entity
    resolution (the reference matches topics by exact metadata equality,
    process_topic.go:44-58 — this is its tolerant generalization).

    Scale: the probe is a literal (broadcast by construction); one scan +
    TakeOrderedAndProject, so no shuffle of the fact table — per-partition
    top-20 heaps merge at the driver. Pairwise all-vs-all fuzzy joins are
    deliberately NOT expressed this way; they go through the q41/q44
    LSH/n-gram banding first."""
    part = load_table(spark, sf_dir, "part")
    return (
        part.select(
            "p_partkey",
            "p_type",
            F.levenshtein(F.col("p_type"), F.lit("PROMO BURNISHED COPPER")).alias(
                "dist"
            ),
        )
        .orderBy("dist", "p_partkey")
        .limit(20)
    )


@query(
    "q84_cumulative_distinct_customers",
    oracle="""
    WITH firsts AS (
      SELECT o_custkey, MIN(o_orderdate) AS first_day
      FROM orders GROUP BY o_custkey
    ),
    per_day AS (
      SELECT first_day AS day, COUNT(*) AS new_customers
      FROM firsts GROUP BY first_day
    )
    SELECT day, new_customers,
           CAST(SUM(new_customers) OVER (
             ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS cum_customers
    FROM per_day
    """,
)
def q84_cumulative_distinct_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users over time (first-touch curve): each
    customer counts once at their first order date; a running sum of the
    per-day first-appearance counts gives COUNT(DISTINCT) over an
    expanding window without any windowed-distinct support. All-integer
    arithmetic — exact in both engines.

    Scale: the naive formulation (expanding window over raw orders with
    COUNT(DISTINCT)) is quadratic state; this one is two partial-agg
    shuffles (per-customer min, then per-day count) that collapse the
    fact table to O(days) rows BEFORE the single-partition running-sum
    window — the window input is tiny by construction, the pattern that
    keeps global running totals viable at 100 TB."""
    orders = load_table(spark, sf_dir, "orders")
    firsts = orders.groupBy("o_custkey").agg(F.min("o_orderdate").alias("first_day"))
    per_day = firsts.groupBy(F.col("first_day").alias("day")).agg(
        F.count("*").alias("new_customers")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return per_day.select(
        "day",
        "new_customers",
        F.sum("new_customers").over(w).alias("cum_customers"),
    )


@query(
    "q91_value_time_correlation",
    oracle="""
    WITH base AS (
      SELECT event_type,
             CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS x,
             date_diff('second', TIMESTAMP '1970-01-01', ts) AS y
      FROM events
    ), sums AS (
      SELECT event_type,
             COUNT(*) AS n,
             CAST(SUM(x) AS DOUBLE) AS sx,
             CAST(SUM(y) AS DOUBLE) AS sy,
             CAST(SUM(x * y) AS DOUBLE) AS sxy,
             CAST(SUM(x * x) AS DOUBLE) AS sx2,
             CAST(SUM(y * y) AS DOUBLE) AS sy2
      FROM base GROUP BY event_type
    )
    SELECT event_type, n,
           (CAST(n AS DOUBLE) * sxy - sx * sy)
             / (sqrt(CAST(n AS DOUBLE) * sx2 - sx * sx)
                * sqrt(CAST(n AS DOUBLE) * sy2 - sy * sy)) AS value_ts_corr
    FROM sums
    """,
)
def q91_value_time_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation between event value and event time per type —
    the regression-aggregate family (corr/regr_*), built from the five
    moment sums instead of corr() because the built-in accumulates doubles
    in partition order and is therefore nondeterministic under shuffling.
    Here x is the value in exact ten-thousandths (scale cancels in r) and
    y is floored epoch seconds, so every SUM is an exact integer in both
    engines; the closed form then runs in IEEE doubles written in the same
    operation order on both sides — bit-identical, and distributed-safe at
    any partition count.

    Scale: one hash aggregate with map-side partials (six sums per group),
    no window, no join; output is |event_type| rows. The decimal(38,0)
    sums are the 128-bit accumulators DuckDB gets from HUGEINT."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        (F.col("value").cast("decimal(18,4)") * 10000)
        .cast("decimal(20,0)")
        .alias("x"),
        F.col("ts").cast("timestamp").cast("long").alias("y"),
    )
    d38 = "decimal(38,0)"
    sums = base.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("x").cast(d38)).cast("double").alias("sx"),
        F.sum(F.col("y").cast(d38)).cast("double").alias("sy"),
        F.sum((F.col("x").cast(d38) * F.col("y").cast(d38))).cast("double")
        .alias("sxy"),
        F.sum((F.col("x").cast(d38) * F.col("x").cast(d38))).cast("double")
        .alias("sx2"),
        F.sum((F.col("y").cast(d38) * F.col("y").cast(d38))).cast("double")
        .alias("sy2"),
    )
    nf = F.col("n").cast("double")
    return sums.select(
        "event_type",
        "n",
        (
            (nf * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (
                F.sqrt(nf * F.col("sx2") - F.col("sx") * F.col("sx"))
                * F.sqrt(nf * F.col("sy2") - F.col("sy") * F.col("sy"))
            )
        ).alias("value_ts_corr"),
    )


@query(
    "q93_asof_tolerance_join",
    oracle="""
    WITH p AS (
      SELECT user_id, ts, arg_max(value, event_id) AS p_value
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id, ts
    ), c AS (
      SELECT event_id, user_id, ts, value AS click_value
      FROM events WHERE event_type = 'click'
    )
    SELECT c.event_id, c.user_id, c.ts, c.click_value,
           CASE WHEN p.ts IS NOT NULL
                 AND date_diff('second', p.ts, c.ts) <= 3600
                THEN p.ts END AS asof_purchase_ts,
           CASE WHEN p.ts IS NOT NULL
                 AND date_diff('second', p.ts, c.ts) <= 3600
                THEN p.p_value END AS asof_purchase_value
    FROM c ASOF LEFT JOIN p
      ON c.user_id = p.user_id AND p.ts <= c.ts
    """,
)
def q93_asof_tolerance_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stream as-of join with tolerance: every click picks up the same
    user's latest purchase at-or-before it, nulled when the purchase is
    more than an hour stale — the kdb/Timescale asof-join semantic. The
    oracle uses DuckDB's NATIVE ASOF LEFT JOIN, cross-validating our
    distributed formulation: tag the two streams, union, and run one
    last_value(ignorenulls) window per key — a single shuffle on user_id,
    no range-join candidate explosion, no per-row probe. Purchases are
    pre-deduped per (user, ts) with max_by so equal-timestamp matches are
    deterministic in both engines; the staleness delta compares floored
    epoch seconds exactly like date_diff('second', ...).

    Scale: the union-window asof is THE shape that survives 100 TB — cost
    is one sort within user partitions; a naive range join would explode
    clicks x purchases candidate pairs per user before filtering."""
    ev = load_table(spark, sf_dir, "events")
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max_by("value", "event_id").alias("p_value"))
        .select(
            "user_id", "ts", F.lit(0).alias("side"),
            "p_value",
            F.lit(None).cast("long").alias("event_id"),
            F.lit(None).cast("double").alias("click_value"),
        )
    )
    c = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.lit(1).alias("side"),
        F.lit(None).cast("double").alias("p_value"),
        "event_id",
        F.col("value").alias("click_value"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    u = p.unionByName(c).select(
        "*",
        F.last(F.when(F.col("side") == 0, F.col("p_value")), ignorenulls=True)
        .over(w)
        .alias("last_p_value"),
        F.last(F.when(F.col("side") == 0, F.col("ts")), ignorenulls=True)
        .over(w)
        .alias("last_p_ts"),
    )
    fresh = (
        F.col("ts").cast("timestamp").cast("long")
        - F.col("last_p_ts").cast("timestamp").cast("long")
    ) <= 3600
    return u.filter(F.col("side") == 1).select(
        "event_id",
        "user_id",
        "ts",
        "click_value",
        F.when(fresh, F.col("last_p_ts")).alias("asof_purchase_ts"),
        F.when(fresh, F.col("last_p_value")).alias("asof_purchase_value"),
    )


@query(
    "q99r_linear_interpolation",
    oracle="""
    WITH RECURSIVE b AS (
      SELECT date_trunc('hour', MIN(ts)) AS lo, date_trunc('hour', MAX(ts)) AS hi
      FROM events
    ),
    g(bucket) AS (
      SELECT lo FROM b
      UNION ALL
      SELECT bucket + INTERVAL 1 HOUR FROM g, b WHERE bucket < b.hi
    ),
    grid AS (
      SELECT t.event_type, g.bucket
      FROM (SELECT DISTINCT event_type FROM events) t, g
    ),
    actual AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket,
             CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 4) AS DOUBLE)
               / COUNT(*) AS avg_value
      FROM events GROUP BY event_type, date_trunc('hour', ts)
    ),
    j AS (
      SELECT grid.event_type, grid.bucket, actual.avg_value,
             last_value(actual.avg_value IGNORE NULLS) OVER (
               PARTITION BY grid.event_type ORDER BY grid.bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
             last_value(CASE WHEN actual.avg_value IS NOT NULL
                             THEN epoch_us(grid.bucket) END IGNORE NULLS)
               OVER (PARTITION BY grid.event_type ORDER BY grid.bucket
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
             first_value(actual.avg_value IGNORE NULLS) OVER (
               PARTITION BY grid.event_type ORDER BY grid.bucket
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
             first_value(CASE WHEN actual.avg_value IS NOT NULL
                              THEN epoch_us(grid.bucket) END IGNORE NULLS)
               OVER (PARTITION BY grid.event_type ORDER BY grid.bucket
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
      FROM grid LEFT JOIN actual
        ON grid.event_type = actual.event_type AND grid.bucket = actual.bucket
    )
    SELECT event_type, bucket,
           (avg_value IS NULL) AS was_gap,
           CASE
             WHEN avg_value IS NOT NULL THEN avg_value
             WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
               pv + (nv - pv) * (CAST(epoch_us(bucket) - pt AS DOUBLE)
                                 / CAST(nt - pt AS DOUBLE))
           END AS interp_value
    FROM j
    """,
)
def q99r_linear_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap filling by LINEAR interpolation on the densified hourly grid —
    the two-sided refinement of q73's LOCF: a missing hour between two
    observed hourly averages takes pv + (nv - pv)·(t - tp)/(tn - tp);
    hours outside a type's observed range stay NULL (interpolation has
    no second anchor there, unlike LOCF's one-sided carry).

    Numerics: microsecond epochs are < 2^53 so their differences are
    exact in doubles; one correctly-rounded division, multiply, add —
    the same literal expression both engines evaluate, no libm.

    Scale: identical to q73 — the four ignore-nulls windows run on the
    densified grid (types × hours), tiny next to the fact table, and all
    four share ONE event_type hash exchange + one sort (forward and
    backward frames reuse the same ascending sort order)."""
    ev = load_table(spark, sf_dir, "events")
    grid = _hourly_grid(ev)
    actual = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bucket")
    ).agg(F.expr(_HOURLY_AVG_SQL))
    back = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fwd = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    us = F.unix_micros(F.col("bucket"))
    observed_us = F.when(F.col("avg_value").isNotNull(), us)
    j = (
        grid.join(actual, ["event_type", "bucket"], "left")
        .select(
            "event_type",
            "bucket",
            "avg_value",
            F.last("avg_value", ignorenulls=True).over(back).alias("pv"),
            F.last(observed_us, ignorenulls=True).over(back).alias("pt"),
            F.first("avg_value", ignorenulls=True).over(fwd).alias("nv"),
            F.first(observed_us, ignorenulls=True).over(fwd).alias("nt"),
        )
    )
    interp = F.col("pv") + (F.col("nv") - F.col("pv")) * (
        (us - F.col("pt")).cast("double") / (F.col("nt") - F.col("pt")).cast("double")
    )
    return j.select(
        "event_type",
        "bucket",
        F.col("avg_value").isNull().alias("was_gap"),
        F.when(F.col("avg_value").isNotNull(), F.col("avg_value"))
        .when(F.col("pv").isNotNull() & F.col("nv").isNotNull(), interp)
        .alias("interp_value"),
    )


@query(
    "q99s_rollup_pyramid",
    oracle="""
    SELECT event_type, date_trunc('week', ts) AS week_start,
           COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 4) AS DOUBLE)
             AS sum_value,
           MIN(value) AS min_value, MAX(value) AS max_value
    FROM events GROUP BY event_type, date_trunc('week', ts)
    """,
)
def q99s_rollup_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical time rollup computed as a PYRAMID: hourly partials →
    daily partials → weekly result, the batch twin of a hypertable's
    continuous-aggregate chain (and of streaming/stream.py's continuous
    rollup): every level re-aggregates the level below, never the raw
    facts. COUNT/SUM/MIN/MAX are commutative-associative, so the pyramid
    is bit-identical to aggregating raw events directly — which is
    exactly what the oracle does, making the equivalence the thing the
    driver verifies.

    Scale: the hourly aggregate collapses the fact table ~10^3-10^4× at
    the FIRST exchange (map-side partials absorb the volume); the daily
    and weekly re-aggregations then shuffle only rollup-grain rows. At
    100 TB the hourly level is what you'd persist (append_dir with a
    partition_by) and the day/week levels are near-free derived views —
    refreshing a late hour touches one hour partition, not the week."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour_start")
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast(DEC)).alias("sum_dec"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )
    daily = hourly.groupBy(
        "event_type",
        F.date_trunc("day", "hour_start").alias("day_start"),
    ).agg(
        F.sum("n_events").alias("n_events"),
        F.sum("sum_dec").alias("sum_dec"),
        F.min("min_value").alias("min_value"),
        F.max("max_value").alias("max_value"),
    )
    return daily.groupBy(
        "event_type",
        F.date_trunc("week", "day_start").alias("week_start"),
    ).agg(
        F.sum("n_events").alias("n_events"),
        F.round(F.sum("sum_dec"), 4).cast("double").alias("sum_value"),
        F.min("min_value").alias("min_value"),
        F.max("max_value").alias("max_value"),
    ).select(
        "event_type", "week_start", "n_events", "sum_value",
        "min_value", "max_value",
    )


_SALTS = 8  # salt fan-out for the skewed join demo


@query(
    "q99t_salted_skew_join",
    oracle="""
    SELECT c.c_mktsegment,
           COUNT(*) AS n_events,
           COUNT(DISTINCT e.user_id) AS n_users,
           CAST(ROUND(SUM(CAST(e.value AS DECIMAL(18,4))), 4) AS DOUBLE)
             AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def q99t_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key mitigation by SALTING, result-invariant: the fact side gets
    a deterministic salt in [0, 8) (xxhash64 of the unique event_id), the
    dimension side is replicated once per salt value, and the join runs
    on (key, salt) — a key owned by one reducer becomes 8 reducers' work.
    The oracle is the UNSALTED join, which is the whole point: salting is
    a pure execution rewrite, bit-identical results.

    This is the manual fallback when AQE's skew-join splitting cannot
    help — AQE splits oversized PARTITIONS of a sort-merge join, but a
    single key's rows are one indivisible group for a hash aggregate
    above the join, and a build-side hot key still hashes to one task;
    the salt moves the split INTO the key itself. The merge hint forces
    the shuffle path so the salted exchange actually exists at test scale
    (AQE would broadcast this dimension and void the demo); at 100 TB
    with a non-broadcastable dimension the plan is what you see here.
    Dimension inflation is ×8 on the SMALL side only — the classic trade.
    """
    ev = load_table(spark, sf_dir, "events").withColumn(
        "salt", F.pmod(F.xxhash64("event_id"), F.lit(_SALTS)).cast("int")
    )
    dim = (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_mktsegment")
        .withColumn(
            "salt",
            F.explode(F.array(*[F.lit(i) for i in range(_SALTS)])),
        )
    )
    j = ev.join(
        dim.hint("merge"),
        (F.col("user_id") == F.col("c_custkey"))
        & (ev["salt"] == dim["salt"]),
    )
    return j.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.round(F.sum(F.col("value").cast(DEC)), 4)
        .cast("double")
        .alias("sum_value"),
    )


_SEL_BUCKET_W = 1000.0  # histogram bucket width for the selection pass


@query(
    "q99v_distributed_median",
    oracle="""
    SELECT COUNT(l_extendedprice) AS n_rows,
           quantile_disc(l_extendedprice, 0.5) AS median_price
    FROM lineitem
    """,
)
def q99v_distributed_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT median of a fact column WITHOUT a global sort — two-pass
    distributed selection (the classic answer to q37's caveat that exact
    percentiles "need a per-group sort"):

    pass 1 — bucket histogram: one map-side-combining aggregate over
    floor(price/W) buckets; a tiny unpartitioned cumulative window over
    the ~hundreds of histogram rows locates the single bucket containing
    rank k = ceil(n/2), entirely declaratively (the selected bucket rides
    a 1-row broadcast — no driver collect());

    pass 2 — re-scan filtered to that ONE bucket (~n/buckets rows) and
    take the (k - cum_below)-th smallest inside it. The only real sort
    ever performed is over one bucket's rows. At 100 TB, narrow W (or
    recurse the same two passes inside the bucket) keeps that final sort
    arbitrarily small; the discrete statistic means the answer is an
    actual data value, bit-identical in both engines — no interpolation
    arithmetic at all."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_extendedprice").alias("price"))
        .filter(F.col("price").isNotNull())
    )
    b = li.withColumn(
        "bucket", F.floor(F.col("price") / F.lit(_SEL_BUCKET_W))
    )
    hist = b.groupBy("bucket").agg(F.count("*").alias("cnt"))
    wcum = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select(
        "bucket", "cnt", F.sum("cnt").over(wcum).alias("cum")
    )
    total = hist.agg(F.sum("cnt").alias("n_rows"))
    k = F.ceil(F.col("n_rows") / 2)
    sel = (
        cum.crossJoin(F.broadcast(total))
        .filter((F.col("cum") >= k) & (F.col("cum") - F.col("cnt") < k))
        .select(
            F.col("bucket").alias("sel_bucket"),
            (k - (F.col("cum") - F.col("cnt"))).alias("rank_in_bucket"),
            "n_rows",
        )
    )
    inbucket = b.crossJoin(F.broadcast(sel)).filter(
        F.col("bucket") == F.col("sel_bucket")
    )
    wrank = Window.orderBy("price")
    return (
        inbucket.withColumn("r", F.row_number().over(wrank))
        .filter(F.col("r") == F.col("rank_in_bucket"))
        .select("n_rows", F.col("price").alias("median_price"))
    )


_IVJ_DAYS = 7  # interval length (each ship-day covers 7 order dates)


@query(
    "q99y_binned_interval_join",
    oracle=f"""
    SELECT o.o_orderkey,
           COUNT(*) AS n_shipments,
           CAST(ROUND(SUM(CAST(l.l_quantity AS DECIMAL(18,4))), 4)
                AS DOUBLE) AS qty_in_window
    FROM orders o JOIN lineitem l
      ON CAST(o.o_orderdate AS DATE) >= CAST(l.l_shipdate AS DATE)
     AND CAST(o.o_orderdate AS DATE)
         < CAST(l.l_shipdate AS DATE) + INTERVAL {_IVJ_DAYS} DAY
    GROUP BY o.o_orderkey
    """,
)
def q99y_binned_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join with NO equi-key — the operator class q23 does not
    cover (there the orderkey carries the shuffle; here point and
    interval are unrelated rows): for every order, the count and quantity
    of ALL lineitems (any order) whose 7-day post-ship window contains
    the order date.

    The naive Spark plan for a pure inequality join is a broadcast
    nested loop — O(|orders|·|lineitem|), the classic scale-killer. The
    first cut here binned both sides at the interval width (equi-join on
    the bucket, exact predicate after) — correct and bucket-bounded, but
    its cost is O(MATCHES): at sf0.1 every order matches ~1,750 shipments
    and the join streams ~260M pairs (measured 280+ s, straggler-bound —
    AQE coalesces the exchange by MAP-side bytes and cannot see the
    join's fan-out). The decisive fix is algebraic, not physical: the
    aggregate is DECOMPOSABLE over lineitems sharing a ship date, so
    pre-aggregate lineitem per day (O(|lineitem|) map-side partial agg to
    ~|days| rows), explode each day-row to the {_IVJ_DAYS} order dates
    its window covers, and broadcast-join that tiny (days × {_IVJ_DAYS})
    calendar onto orders — work O(|orders| + |lineitem|), independent of
    match count. n_shipments = SUM of per-day counts (integers, exact);
    qty = SUM of per-day DECIMAL partials (decimal addition is
    associative-exact, so the oracle's per-row sum matches bit-for-bit).
    DuckDB plans the oracle with its native IEJoin; this is the
    Spark-side plan the optimizer does not derive on its own —
    aggregate pushdown below an interval join.

    Semantics are DAY-granular BY DEFINITION (the "binned" in the name):
    both sides are cast to DATE in plan and oracle alike, so the
    decomposition (group lineitem per ship DAY, explode each day to the
    {_IVJ_DAYS} order DATES its window covers) is exact for arbitrary
    time-of-day values, not just the fixtures' midnight-aligned
    timestamps — the intra-day sub-case an uncast timestamp interval
    predicate would have silently diverged on."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.to_date("o_orderdate").alias("o_date")
    )
    per_day = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy(F.to_date("l_shipdate").alias("ship_date"))
        .agg(
            F.count("*").alias("day_cnt"),
            F.sum(F.col("l_quantity").cast(DEC)).alias("day_qty"),
        )
    )
    # each ship-day's 7-day window covers order dates [d, d+6]
    cand = per_day.select(
        F.explode(
            F.expr(f"sequence(ship_date, date_add(ship_date, {_IVJ_DAYS - 1}))")
        ).alias("o_date"),
        "day_cnt",
        "day_qty",
    )
    j = orders.join(F.broadcast(cand), "o_date")
    return j.groupBy("o_orderkey").agg(
        F.sum("day_cnt").alias("n_shipments"),
        F.round(F.sum("day_qty"), 4).cast("double").alias("qty_in_window"),
    )


@query(
    "q99ze_trimmed_mean",
    oracle="""
    WITH b AS (
      SELECT event_type,
             quantile_disc(value, 0.1) AS lo,
             quantile_disc(value, 0.9) AS hi,
             COUNT(*) AS n_total
      FROM events GROUP BY event_type
    )
    SELECT e.event_type, b.n_total,
           COUNT(*) AS n_kept,
           CAST(ROUND(SUM(CAST(e.value AS DECIMAL(18,4))), 4) AS DOUBLE)
             / COUNT(*) AS trimmed_mean
    FROM events e JOIN b ON e.event_type = b.event_type
    WHERE e.value >= b.lo AND e.value <= b.hi
    GROUP BY e.event_type, b.n_total
    """,
)
def q99ze_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust central tendency: the 10-90 trimmed mean per event type —
    values outside the DISCRETE p10/p90 fences are excluded, the keeper
    set is averaged with a decimal-exact sum. The robust-statistics
    family member between q37's plain percentiles and q58's MAD: immune
    to the heavy tails that drag a plain mean, cheaper than MAD's
    grouped-UDAF pass.

    Determinism: discrete quantile fences are rank-selected data VALUES
    (idx = ceil(q·n), DuckDB's quantile_disc rule), reproduced
    in Spark as a row_number pick — no interpolation arithmetic at all,
    and the inclusive fence comparison is on exact doubles.

    Scale: one per-type rank window (q09's shape) to pick both fences
    from the same sort, fences broadcast back (|types| rows), one
    decimal-aggregating pass over the kept rows."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value", "event_id")
    # rank NON-NULL values only: DuckDB's quantile_disc skips NULLs,
    # while row_number would sort them FIRST and count them into n — a
    # single NULL value would shift both fences (the q99za bug class;
    # latent today, the schema is nullable). n_total stays COUNT(*) over
    # ALL rows, exactly like the oracle's b CTE.
    nn = ev.filter(F.col("value").isNotNull())
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    cnt = Window.partitionBy("event_type")
    ranked = nn.withColumn("rk", F.row_number().over(w)).withColumn(
        "n", F.count("*").over(cnt)
    )
    # DuckDB's quantile_disc picks the smallest element whose cumulative
    # fraction reaches q: idx = ceil(q * n), 1-based, n = non-null count
    lo_idx = F.ceil(F.col("n") * 0.1)
    hi_idx = F.ceil(F.col("n") * 0.9)
    totals = ev.groupBy("event_type").agg(F.count("*").alias("n_total"))
    fences = (
        ranked.filter((F.col("rk") == lo_idx) | (F.col("rk") == hi_idx))
        .groupBy("event_type")
        .agg(
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
        )
        .join(F.broadcast(totals), "event_type")
    )
    kept = ev.join(F.broadcast(fences), "event_type").filter(
        (F.col("value") >= F.col("lo")) & (F.col("value") <= F.col("hi"))
    )
    return kept.groupBy("event_type", "n_total").agg(
        F.count("*").alias("n_kept"),
        (
            F.round(F.sum(F.col("value").cast(DEC)), 4).cast("double")
            / F.count("*")
        ).alias("trimmed_mean"),
    ).select("event_type", "n_total", "n_kept", "trimmed_mean")


@query(
    "q99zh_join_fanout_audit",
    oracle="""
    WITH f AS (
      SELECT o.o_orderkey, COUNT(l.l_orderkey) AS fanout
      FROM orders o LEFT JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      GROUP BY o.o_orderkey
    )
    SELECT COUNT(*) AS n_parents,
           CAST(SUM(CASE WHEN fanout = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_childless,
           MAX(fanout) AS max_fanout,
           CAST(SUM(fanout) AS DOUBLE) / COUNT(*) AS avg_fanout,
           quantile_disc(fanout, 0.99) AS p99_fanout
    FROM f
    """,
)
def q99zh_join_fanout_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality audit for the orders←lineitem edge: the fan-out
    distribution (childless parents, max, mean, discrete p99) — the
    pre-flight a pipeline runs before a fact-fact join to know whether
    row-explosion or skew mitigation (q45/q99t salting, AQE skew split)
    will be needed. The reference leans on Postgres statistics for the
    same judgment; a lake warehouse has to measure it.

    Exactness: fan-out counts are integers; mean is an exact integer-sum
    division; p99 is the rank-selected value at idx = ceil(0.99·n)
    (quantile_disc rule, no interpolation).

    Scale: one aggregate per parent key off the child scan (map-side
    combining; a LEFT join from parents catches childless keys), then
    order statistics on the |parents|-grain — max/avg are plain
    aggregates; the p99 pick is one row_number filter over the parent
    grain — at extreme parent cardinality swap it for q99v's two-pass
    bucket selection, which needs no single-partition sort."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    f = (
        orders.join(li, orders.o_orderkey == li.l_orderkey, "left")
        .groupBy("o_orderkey")
        .agg(F.count("l_orderkey").alias("fanout"))
    )
    w = Window.orderBy("fanout", "o_orderkey")
    cnt = Window.partitionBy()
    ranked = f.withColumn("rk", F.row_number().over(w)).withColumn(
        "n", F.count("*").over(cnt)
    )
    p99 = ranked.filter(
        F.col("rk") == F.ceil(F.col("n") * 0.99)
    ).select(F.col("fanout").alias("p99_fanout"))
    stats = f.agg(
        F.count("*").alias("n_parents"),
        F.sum(F.when(F.col("fanout") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_childless"),
        F.max("fanout").alias("max_fanout"),
        (F.sum("fanout").cast("double") / F.count("*")).alias("avg_fanout"),
    )
    return stats.crossJoin(F.broadcast(p99))


# ---------------------------------------------------------------------------
# q99zk: analytic ranks from SAMPLED boundaries — q49's 100 TB scale twin
# ---------------------------------------------------------------------------

# Deterministic 1-in-_RANK_SAMPLE_MOD (20%) boundary sample over orders.
_RANK_SAMPLE_MOD = 5

_RANK_SAMPLE_DUCK = (
    md5_hex32_duck("CAST(o_orderkey AS VARCHAR)")
    + f" % {_RANK_SAMPLE_MOD} = 0"
)

_RANK_GRID = 20  # vigintile grid: 19 interior boundaries per status

_RANK_BARR_DUCK = (
    "["
    + ", ".join(
        f"quantile_disc(o_totalprice, CAST({i / _RANK_GRID!r} AS DOUBLE))"
        for i in range(1, _RANK_GRID)
    )
    + "]"
)


def analytic_rank_assignments_sampled(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-order approximate rank columns from sampled per-status
    boundaries: (o_orderkey, o_orderstatus, price_quartile,
    price_pct_rank_est).  Exposed separately so the tolerance test can
    compare per-row assignments against q49's exact window functions."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", F.col("o_totalprice").alias("price")
    )
    sampled = (
        F.expr(md5_hex32_spark("CAST(o_orderkey AS STRING)"))
        % _RANK_SAMPLE_MOD
        == 0
    )
    # Pass 1 — per-status bucket histogram of the sample.  Bucket count is
    # bounded by (price range / width) per status, independent of row
    # count; the cumulative window below is partitioned by status and runs
    # over those bounded histogram rows (q99v's two-pass selection shape),
    # never over per-order rows.
    b = orders.filter(sampled).select(
        "o_orderstatus",
        "price",
        F.floor(F.col("price") / F.lit(_SEL_BUCKET_W)).alias("bucket"),
    )
    hist = b.groupBy("o_orderstatus", "bucket").agg(
        F.count("*").alias("cnt")
    )
    wcum = (
        Window.partitionBy("o_orderstatus")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.select(
        "o_orderstatus", "bucket", "cnt", F.sum("cnt").over(wcum).alias("cum")
    )
    totals = hist.groupBy("o_orderstatus").agg(F.sum("cnt").alias("n_s"))
    # 19 grid ranks k_i = ceil(q_i * n_s) per status, q_i as the same IEEE
    # double DuckDB parses from the oracle literal (pinned rule:
    # tests/test_properties.py::test_quantile_disc_index_rule).
    fracs = spark.createDataFrame(
        [(i, i / _RANK_GRID) for i in range(1, _RANK_GRID)], "i INT, q DOUBLE"
    )
    tgt = totals.crossJoin(F.broadcast(fracs)).select(
        "o_orderstatus", "i", F.ceil(F.col("q") * F.col("n_s")).alias("k")
    )
    sel = (
        cum.join(tgt, "o_orderstatus")
        .filter(
            (F.col("cum") >= F.col("k"))
            & (F.col("cum") - F.col("cnt") < F.col("k"))
        )
        .select(
            F.col("o_orderstatus").alias("sel_status"),
            "i",
            F.col("bucket").alias("sel_bucket"),
            (F.col("k") - (F.col("cum") - F.col("cnt"))).alias("rib"),
        )
    )
    # Pass 2 — re-scan the sample filtered to the few selected buckets;
    # rank inside each (status, bucket) — partitions of ~n_s/buckets rows,
    # the only sort anywhere — and pick each boundary value.
    cand = b.join(
        F.broadcast(
            sel.select(
                F.col("sel_status").alias("o_orderstatus"),
                F.col("sel_bucket").alias("bucket"),
            ).distinct()
        ),
        ["o_orderstatus", "bucket"],
    )
    wr = Window.partitionBy("o_orderstatus", "bucket").orderBy("price")
    ranked = cand.withColumn("r", F.row_number().over(wr))
    bounds = ranked.join(
        F.broadcast(sel),
        (F.col("o_orderstatus") == F.col("sel_status"))
        & (F.col("bucket") == F.col("sel_bucket"))
        & (F.col("r") == F.col("rib")),
    ).select("o_orderstatus", "i", F.col("price").alias("bv"))
    barr = (
        bounds.groupBy("o_orderstatus")
        .agg(F.array_sort(F.collect_list(F.struct("i", "bv"))).alias("sb"))
        .select(
            "o_orderstatus",
            F.transform("sb", lambda x: x.getField("bv")).alias("barr"),
        )
    )
    # Assignment rides the scan: |statuses| boundary rows broadcast; the
    # quartile boundaries are grid points 5/10/15 (0.25/0.50/0.75).
    quart = F.array(
        *[F.element_at("barr", i) for i in (5, 10, 15)]
    )
    return orders.join(F.broadcast(barr), "o_orderstatus").select(
        "o_orderkey",
        "o_orderstatus",
        (
            F.lit(1)
            + F.size(F.filter(quart, lambda x: F.col("price") > x))
        ).cast("int").alias("price_quartile"),
        (
            F.size(F.filter("barr", lambda x: F.col("price") > x)).cast(
                "double"
            )
            / F.lit(float(_RANK_GRID))
        ).alias("price_pct_rank_est"),
    )


@query(
    "q99zk_analytic_suite_sampled",
    oracle=f"""
    WITH s AS (
      SELECT o_orderstatus, o_totalprice FROM orders
      WHERE {_RANK_SAMPLE_DUCK}
    ), g AS (
      SELECT o_orderstatus, {_RANK_BARR_DUCK} AS barr
      FROM s GROUP BY o_orderstatus
    )
    SELECT o.o_orderkey, o.o_orderstatus,
           CAST(1 + len(list_filter([g.barr[5], g.barr[10], g.barr[15]],
                                    x -> o.o_totalprice > x)) AS INT)
             AS price_quartile,
           CAST(len(list_filter(g.barr, x -> o.o_totalprice > x)) AS DOUBLE)
             / {_RANK_GRID}.0 AS price_pct_rank_est
    FROM orders o JOIN g USING (o_orderstatus)
    """,
)
def q99zk_analytic_suite_sampled(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """q49's 100 TB twin: per-status quartile (NTILE-4 analog) and percent
    rank estimated from sampled vigintile boundaries instead of exact
    per-status window sorts — the "approximate ranks from sampled
    boundaries" path q49's docstring names, now registered (the same
    exact↔approximate pairing as q51↔q53 and q99c↔q99zj).

    HOW IT SCALES where q49 cannot: q49 sorts ~1/3 of the table inside
    each of 3 status partitions.  Here boundaries come from q99v's
    two-pass distributed selection over a 20% md5 sample: a per-status
    bucket histogram (partial agg), a cumulative window over the BOUNDED
    histogram rows, and a second pass that sorts only the few selected
    buckets — then 19 boundary values per status broadcast and every rank
    column is assigned map-side.  No corpus-scale sort anywhere; the
    heavy lifting is two aggregating scans.

    EXACT oracle despite statistical approximation: deterministic md5
    sample + DuckDB's own quantile_disc selection rule (pinned for every
    grid fraction in tests/test_properties.py), so both engines produce
    bit-identical boundaries and assignments.  Accuracy vs q49's exact
    percent_rank/ntile is gated in tests/test_sampled_boundaries.py
    (agreement improves as 1/sqrt(sample) with corpus size — the sf0.1
    gate is the floor, not the ceiling).

    Grid resolution: pct_rank estimates are quantized to 1/20; quartiles
    use grid points 5/10/15.  dense_rank/cume_dist have no boundary-only
    analog (they need exact tie structure) — the exact q49 remains the
    semantics-complete form."""
    return analytic_rank_assignments_sampled(spark, sf_dir)
