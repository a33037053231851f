"""Relational operator catalog (SURVEY.md §2.3).

The reference runs all relational processing inside Hive (README.md:22-29
``add jar`` → ``create temporary function`` → ``select``); here each
category is re-expressed as declarative DataFrame plans so Catalyst keeps
predicate pushdown, column pruning, join reordering and whole-stage codegen
(SURVEY.md §4 — nothing here needs a custom rule).

Scale notes (100 TB design):
* dimension joins broadcast explicitly (``F.broadcast``) — region/nation/
  supplier/part stay small at every scale factor, so no shuffle on the fact
  side;
* aggregations are expressed as groupBy().agg() → Spark plans partial
  (map-side) aggregation before the shuffle automatically;
* windows partition by high-cardinality keys (custkey), never by a constant
  — no single-partition bottleneck;
* every float output is rounded in BOTH engines so the oracle compare is
  bit-stable.

Each query has a DuckDB oracle (same parquet, ANSI SQL) keyed by the same
name; column names/aliases match exactly (driver hashes value-sorted columns
by name).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hive_udf_neologd_spark.sources import read_table


# --- aggregation: partial+final hash agg, filter pushdown (TPC-H Q1-ish) --
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= "1998-09-02")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "sum_disc_price"
            ),
            F.round(
                F.sum(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
                ),
                2,
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q01_SQL = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2)                                             AS sum_qty,
       ROUND(SUM(l_extendedprice), 2)                                        AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)                     AS sum_disc_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)       AS sum_charge,
       ROUND(AVG(l_quantity), 4)                                             AS avg_qty,
       ROUND(AVG(l_extendedprice), 4)                                        AS avg_price,
       ROUND(AVG(l_discount), 4)                                             AS avg_disc,
       COUNT(*)                                                              AS count_order
FROM lineitem
WHERE l_shipdate <= '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


# --- sort / limit / top-k (deterministic tie-break) -----------------------
def q02_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        read_table(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            "o_custkey",
            F.round("o_totalprice", 2).alias("price"),
            "o_orderpriority",
        )
        .orderBy(F.desc("price"), F.asc("o_orderkey"))
        .limit(10)
    )


Q02_SQL = """
SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) AS price, o_orderpriority
FROM orders
ORDER BY price DESC, o_orderkey ASC
LIMIT 10
"""


# --- shuffle (equi) join + aggregation ------------------------------------
def q03_segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    orders = read_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .orderBy("c_mktsegment")
    )


Q03_SQL = """
SELECT c_mktsegment, COUNT(*) AS n_orders, ROUND(SUM(o_totalprice), 2) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


# --- broadcast dim joins + ROLLUP ----------------------------------------
def q04_region_nation_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer").select("c_nationkey", "c_acctbal")
    nation = F.broadcast(read_table(spark, sf_dir, "nation"))
    region = F.broadcast(read_table(spark, sf_dir, "region"))
    return (
        cust.join(nation, cust.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
        )
        .orderBy("r_name", "n_name")
    )


Q04_SQL = """
SELECT r_name, n_name, COUNT(*) AS n_customers, ROUND(SUM(c_acctbal), 2) AS total_acctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
ORDER BY r_name, n_name
"""


# --- window: per-group top-k via row_number -------------------------------
def q05_topk_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        read_table(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("price"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
        .orderBy("o_custkey", "rn")
    )


Q05_SQL = """
SELECT * FROM (
  SELECT o_custkey, o_orderkey, ROUND(o_totalprice, 2) AS price,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
  FROM orders
) WHERE rn <= 3
ORDER BY o_custkey, rn
"""


# --- window: running aggregate + lag --------------------------------------
def q06_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        read_table(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            "o_orderkey",
            F.round(F.sum("o_totalprice").over(w.rowsBetween(Window.unboundedPreceding, 0)), 2)
            .alias("running_total"),
            F.round(F.lag("o_totalprice", 1).over(w), 2).alias("prev_price"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


Q06_SQL = """
SELECT o_custkey, o_orderkey,
       ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                                     ROWS UNBOUNDED PRECEDING), 2) AS running_total,
       ROUND(LAG(o_totalprice, 1) OVER (PARTITION BY o_custkey
                                        ORDER BY o_orderdate, o_orderkey), 2) AS prev_price
FROM orders
ORDER BY o_custkey, o_orderkey
"""


# --- distinct aggregation -------------------------------------------------
def q07_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        read_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_suppkey").alias("n_supps"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("l_returnflag")
    )


Q07_SQL = """
SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
       COUNT(DISTINCT l_suppkey) AS n_supps, COUNT(*) AS n_rows
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


# --- set operations -------------------------------------------------------
def q08_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    building = (
        read_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("custkey"))
    )
    big_spenders = (
        read_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 300000)
        .select(F.col("o_custkey").alias("custkey"))
        .distinct()
    )
    both = building.intersect(big_spenders).withColumn("tag", F.lit("both"))
    only_building = building.exceptAll(big_spenders).distinct().withColumn(
        "tag", F.lit("building_only")
    )
    return both.unionByName(only_building).orderBy("tag", "custkey")


Q08_SQL = """
WITH building AS (SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
     big AS (SELECT DISTINCT o_custkey AS custkey FROM orders WHERE o_totalprice > 300000)
SELECT custkey, 'both' AS tag FROM (SELECT custkey FROM building INTERSECT SELECT custkey FROM big)
UNION ALL
SELECT custkey, 'building_only' AS tag
FROM (SELECT custkey FROM building EXCEPT SELECT custkey FROM big)
ORDER BY tag, custkey
"""


# --- semi join ------------------------------------------------------------
def q09_parts_sold_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = read_table(spark, sf_dir, "part")
    li = read_table(spark, sf_dir, "lineitem").select("l_partkey")
    return (
        part.join(li, part.p_partkey == li.l_partkey, "left_semi")
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n_parts_sold"))
        .orderBy("p_brand")
    )


Q09_SQL = """
SELECT p_brand, COUNT(*) AS n_parts_sold
FROM part WHERE p_partkey IN (SELECT l_partkey FROM lineitem)
GROUP BY p_brand ORDER BY p_brand
"""


# --- anti join ------------------------------------------------------------
def q10_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders").select("o_custkey")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("c_mktsegment")
    )


Q10_SQL = """
SELECT c_mktsegment, COUNT(*) AS n_customers
FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


# --- JSON extraction (events.props) ---------------------------------------
def q11_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.select(
            "event_type",
            (F.get_json_object("props", "$.k").cast("int") % 10).alias("k_bucket"),
            "value",
        )
        .groupBy("event_type", "k_bucket")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.avg("value"), 4).alias("avg_value"))
        .orderBy("event_type", "k_bucket")
    )


Q11_SQL = """
SELECT event_type, CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS k_bucket,
       COUNT(*) AS n, ROUND(AVG(value), 4) AS avg_value
FROM events
GROUP BY event_type, k_bucket
ORDER BY event_type, k_bucket
"""


# --- date functions + aggregation -----------------------------------------
def q12_events_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.select(F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type", "value")
        .groupBy("day", "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .orderBy("day", "event_type")
    )


Q12_SQL = """
SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
       COUNT(*) AS n, ROUND(SUM(value), 2) AS total_value
FROM events GROUP BY day, event_type ORDER BY day, event_type
"""


# --- broadcast join fact→dim ----------------------------------------------
def q13_brand_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").select("l_partkey", "l_quantity")
    part = F.broadcast(read_table(spark, sf_dir, "part").select("p_partkey", "p_brand"))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("p_brand")
    )


Q13_SQL = """
SELECT p_brand, ROUND(AVG(l_quantity), 4) AS avg_qty, COUNT(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand ORDER BY p_brand
"""


# --- CUBE -----------------------------------------------------------------
def q14_cube_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        read_table(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q14_SQL = """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n, ROUND(SUM(l_quantity), 2) AS sum_qty
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
ORDER BY l_returnflag, l_linestatus
"""


# --- conditional aggregation ----------------------------------------------
def q15_priority_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        read_table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)).alias(
                "n_urgent"
            ),
            F.round(
                F.sum(F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0))
                / F.count(F.lit(1)),
                4,
            ).alias("urgent_share"),
        )
        .orderBy("o_orderstatus")
    )


Q15_SQL = """
SELECT o_orderstatus, COUNT(*) AS n_orders,
       CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS n_urgent,
       ROUND(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 4)
         AS urgent_share
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


# --- join + agg + top-k (revenue per supplier) ----------------------------
def q16_top_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").select("l_suppkey", "l_extendedprice", "l_discount")
    supp = F.broadcast(read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name"))
    rev = li.groupBy("l_suppkey").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue")
    )
    return (
        rev.join(supp, rev.l_suppkey == supp.s_suppkey)
        .select("s_suppkey", "s_name", "revenue")
        .orderBy(F.desc("revenue"), F.asc("s_suppkey"))
        .limit(10)
    )


Q16_SQL = """
SELECT s_suppkey, s_name, revenue FROM (
  SELECT l_suppkey, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
  FROM lineitem GROUP BY l_suppkey
) JOIN supplier ON l_suppkey = s_suppkey
ORDER BY revenue DESC, s_suppkey ASC
LIMIT 10
"""


# --- GROUPING SETS (SQL surface) ------------------------------------------
def q17_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    read_table(spark, sf_dir, "customer").createOrReplaceTempView("gs_customer")
    F.broadcast(read_table(spark, sf_dir, "nation")).createOrReplaceTempView("gs_nation")
    F.broadcast(read_table(spark, sf_dir, "region")).createOrReplaceTempView("gs_region")
    return spark.sql(
        """
        SELECT r_name, n_name, COUNT(*) AS n_customers
        FROM gs_customer
        JOIN gs_nation ON c_nationkey = n_nationkey
        JOIN gs_region ON n_regionkey = r_regionkey
        GROUP BY GROUPING SETS ((r_name), (n_name), ())
        ORDER BY r_name, n_name
        """
    )


Q17_SQL = """
SELECT r_name, n_name, COUNT(*) AS n_customers
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY GROUPING SETS ((r_name), (n_name), ())
ORDER BY r_name, n_name
"""


# --- streaming-semantics in batch: tumbling window ------------------------
def s01_tumbling_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows via F.window — the batch twin of the
    Structured Streaming pipeline in streaming/term_counts.py (same window
    semantics; watermarking only matters on unbounded input)."""
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
        .orderBy("window_start", "event_type")
    )


S01_SQL = """
SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT) AS window_start,
       event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS total_value
FROM events GROUP BY window_start, event_type ORDER BY window_start, event_type
"""


# --- streaming-semantics in batch: session windows ------------------------
def s02_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30 min gap) per user via F.session_window; the
    DuckDB oracle reconstructs identical sessions with a gaps-and-islands
    window query."""
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            "user_id",
            F.unix_timestamp(F.col("w.start")).alias("session_start"),
            "n_events",
            "total_value",
        )
        .orderBy("user_id", "session_start")
    )


S02_SQL = """
WITH marked AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   >= INTERVAL '30 minutes' OR
                   LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
), sessions AS (
  SELECT user_id, ts, value,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked
)
SELECT user_id, CAST(FLOOR(epoch(MIN(ts))) AS BIGINT) AS session_start,
       COUNT(*) AS n_events, ROUND(SUM(value), 2) AS total_value
FROM sessions GROUP BY user_id, session_id
ORDER BY user_id, session_start
"""


# --- skew-safe grouped top-k ----------------------------------------------
def q18_topk_skew_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 lineitems per returnflag — 3 hot keys over the whole fact
    table, the classic skew shape.  Uses operators.topk.grouped_topk:
    skew-safe via the engine's partial WindowGroupLimit (map-side top-k
    before the exchange — plan-asserted in tests/test_skew.py; the
    measured round-5 comparison against manual salting is in
    operators/topk.py and SCALING.md)."""
    from hive_udf_neologd_spark.operators.topk import grouped_topk

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_orderkey", "l_linenumber",
        F.round("l_extendedprice", 2).alias("price"),
    )
    return grouped_topk(
        li,
        keys=["l_returnflag"],
        order_by=[F.desc("price"), F.asc("l_orderkey"), F.asc("l_linenumber")],
        k=3,
    ).orderBy("l_returnflag", "rn")


Q18_SQL = """
SELECT * FROM (
  SELECT l_returnflag, l_orderkey, l_linenumber, ROUND(l_extendedprice, 2) AS price,
         ROW_NUMBER() OVER (PARTITION BY l_returnflag
                            ORDER BY ROUND(l_extendedprice, 2) DESC,
                                     l_orderkey ASC, l_linenumber ASC) AS rn
  FROM lineitem
) WHERE rn <= 3
ORDER BY l_returnflag, rn
"""


# --- pivot ----------------------------------------------------------------
def q19_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    orders = read_table(spark, sf_dir, "orders").select("o_custkey", "o_orderstatus")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
        .select(
            "c_mktsegment",
            F.coalesce("F", F.lit(0)).alias("n_f"),
            F.coalesce("O", F.lit(0)).alias("n_o"),
            F.coalesce("P", F.lit(0)).alias("n_p"),
        )
        .orderBy("c_mktsegment")
    )


Q19_SQL = """
SELECT c_mktsegment,
       CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
       CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
       CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


# --- exact percentiles ----------------------------------------------------
def q20_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete (rank-based) percentiles: value at rank ceil(p·n) per
    group.  Deliberately NOT the interpolating `percentile` — both engines
    then return raw data values, so results are bit-identical with the
    oracle (interpolation differs in the last ulp between engines).  At
    100 TB the single-pass path is `approx_percentile` (t-digest, partial
    aggregation); this exact variant sorts within each group, which is
    acceptable because only the 3 returnflag groups' ranks survive."""
    li = read_table(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    grp = Window.partitionBy("l_returnflag")
    w = grp.orderBy("l_extendedprice")
    ranked = li.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(grp)
    )
    at = lambda p: F.max(  # noqa: E731
        F.when(F.col("rn") == F.ceil(F.col("n") * p), F.col("l_extendedprice"))
    )
    return (
        ranked.groupBy("l_returnflag")
        .agg(at(0.5).alias("p50"), at(0.9).alias("p90"), F.max("l_extendedprice").alias("mx"))
        .orderBy("l_returnflag")
    )


Q20_SQL = """
WITH ranked AS (
  SELECT l_returnflag, l_extendedprice,
         ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS rn,
         COUNT(*) OVER (PARTITION BY l_returnflag) AS n
  FROM lineitem
)
SELECT l_returnflag,
       MAX(CASE WHEN rn = CEIL(n * 0.5) THEN l_extendedprice END) AS p50,
       MAX(CASE WHEN rn = CEIL(n * 0.9) THEN l_extendedprice END) AS p90,
       MAX(l_extendedprice) AS mx
FROM ranked GROUP BY l_returnflag ORDER BY l_returnflag
"""


# --- date arithmetic ------------------------------------------------------
def q21_date_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        read_table(spark, sf_dir, "orders")
        .select(
            F.date_format("o_orderdate", "yyyy-MM").alias("month"),
            F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date")).alias("age_days"),
        )
        .groupBy("month")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.avg("age_days"), 4).alias("avg_age_days"),
        )
        .orderBy("month")
    )


Q21_SQL = """
SELECT strftime(o_orderdate, '%Y-%m') AS month, COUNT(*) AS n_orders,
       ROUND(AVG(datediff('day', DATE '1995-01-01', o_orderdate)), 4) AS avg_age_days
FROM orders GROUP BY month ORDER BY month
"""


# --- decorrelated scalar subquery (TPC-H Q17 pattern) ---------------------
def q24_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery ("below 20% of this part's average
    quantity") decorrelated into join-against-aggregate — the rewrite
    Catalyst itself performs, made explicit.  Per-part averages are exact
    (integer-valued quantities sum exactly in doubles); revenue sums go
    through DECIMAL so the result is order-independent and bit-equal to
    the oracle.  Scale: the aggregate side shrinks to one row per part
    before the join, and AQE picks broadcast when it fits."""
    li = read_table(spark, sf_dir, "lineitem")
    thr = li.groupBy("l_partkey").agg(
        (F.avg("l_quantity") * 0.2).alias("qty_thr")
    )
    return (
        li.join(thr, "l_partkey")
        .filter(F.col("l_quantity") < F.col("qty_thr"))
        .agg(
            F.count(F.lit(1)).alias("n_small"),
            F.round(
                (
                    F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double")
                    / 7.0
                ),
                2,
            ).alias("avg_yearly"),
        )
    )


Q24_SQL = """
WITH thr AS (
  SELECT l_partkey, 0.2 * AVG(l_quantity) AS qty_thr
  FROM lineitem GROUP BY l_partkey
)
SELECT COUNT(*) AS n_small,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0, 2)
         AS avg_yearly
FROM lineitem JOIN thr USING (l_partkey)
WHERE l_quantity < qty_thr
"""


# --- range-frame window (trailing 90-day revenue) -------------------------
def q25_trailing_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame over event time: per customer, each order's revenue plus
    all revenue in the preceding 90 days — ``rangeBetween`` on epoch
    seconds (value-based frame, unlike q06's row frame).  DECIMAL
    accumulation makes the frame sum independent of intra-frame order, so
    ties on o_orderdate cannot flip the comparison with the oracle."""
    orders = read_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_timestamp("o_orderdate"))
        .rangeBetween(-90 * 86400, 0)
    )
    return (
        orders.select(
            "o_orderkey",
            "o_custkey",
            F.unix_timestamp("o_orderdate").alias("order_epoch"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .over(w)
            .cast("double")
            .alias("trailing_90d"),
        )
        .orderBy("o_orderkey")
    )


Q25_SQL = """
SELECT o_orderkey, o_custkey,
       CAST(epoch(o_orderdate) AS BIGINT) AS order_epoch,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
         PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
         RANGE BETWEEN 7776000 PRECEDING AND CURRENT ROW
       ) AS DOUBLE) AS trailing_90d
FROM orders ORDER BY o_orderkey
"""


# --- star join: fact ⋈ snowflaked dimensions (TPC-H Q5 shape) -------------
def q26_star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Four-way star: lineitem ⋈ orders (shuffle, fact-to-fact) ⋈ customer
    (shuffle) ⋈ nation ⋈ region (both broadcast).  The canonical 100 TB
    shape: only the two fact joins shuffle, the snowflaked dimension chain
    rides along broadcast; Catalyst orders the joins, AQE re-plans sizes at
    runtime."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = F.broadcast(
        read_table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey", "n_name")
    )
    region = F.broadcast(
        read_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
        .join(region, F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum(revenue), 2).alias("revenue"),
        )
        .orderBy("r_name", "n_name")
    )


Q26_SQL = """
SELECT r_name, n_name, COUNT(*) AS n_items,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey  = o_orderkey
JOIN customer ON o_custkey   = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
ORDER BY r_name, n_name
"""


# --- ntile quartiles ------------------------------------------------------
def q27_ntile_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE over a total order (price, then key — unique, so both engines
    assign identical tiles), then per-quartile price stats by priority."""
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        read_table(spark, sf_dir, "orders")
        .select(
            "o_orderpriority",
            "o_totalprice",
            F.ntile(4).over(w).alias("quartile"),
        )
        .groupBy("o_orderpriority", "quartile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("o_totalprice"), 2).alias("avg_price"),
        )
        .orderBy("o_orderpriority", "quartile")
    )


Q27_SQL = """
SELECT o_orderpriority, quartile, COUNT(*) AS n, ROUND(AVG(o_totalprice), 2) AS avg_price
FROM (
  SELECT o_orderpriority, o_totalprice,
         NTILE(4) OVER (PARTITION BY o_orderpriority
                        ORDER BY o_totalprice DESC, o_orderkey ASC) AS quartile
  FROM orders
)
GROUP BY o_orderpriority, quartile
ORDER BY o_orderpriority, quartile
"""


# --- from_json struct parsing ---------------------------------------------
def q28_from_json_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``from_json`` with a declared schema (the idiomatic Spark JSON path —
    one parse into a typed struct, unlike q11's per-field
    ``get_json_object``); bucket the extracted value and aggregate."""
    ev = read_table(spark, sf_dir, "events")
    parsed = ev.select(
        "event_type",
        F.from_json("props", "k INT").alias("p"),
    )
    return (
        parsed.select("event_type", (F.col("p.k") % 10).alias("k_bucket"))
        .groupBy("event_type", "k_bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("event_type", "k_bucket")
    )


Q28_SQL = """
SELECT event_type, CAST(json_extract(props, '$.k') AS INTEGER) % 10 AS k_bucket,
       COUNT(*) AS n
FROM events
GROUP BY event_type, k_bucket
ORDER BY event_type, k_bucket
"""


# --- conditional aggregates -----------------------------------------------
def q29_conditional_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional-aggregate surface: count_if, bool_and/bool_or, and
    FILTER-style conditional sums — all fold into the same partial-agg
    shuffle as the plain aggregates beside them."""
    orders = read_table(spark, sf_dir, "orders")
    big = F.col("o_totalprice") > 200000
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_if(big).alias("n_big"),
            F.round(F.sum(F.when(big, F.col("o_totalprice")).otherwise(0.0)), 2).alias(
                "big_revenue"
            ),
            F.bool_or(F.col("o_orderstatus") == "F").alias("any_final"),
            F.bool_and(F.col("o_totalprice") > 0).alias("all_positive"),
        )
        .orderBy("o_orderpriority")
    )


Q29_SQL = """
SELECT o_orderpriority, COUNT(*) AS n,
       COUNT(*) FILTER (WHERE o_totalprice > 200000) AS n_big,
       ROUND(SUM(CASE WHEN o_totalprice > 200000 THEN o_totalprice ELSE 0.0 END), 2)
         AS big_revenue,
       BOOL_OR(o_orderstatus = 'F') AS any_final,
       BOOL_AND(o_totalprice > 0) AS all_positive
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


# --- scalar-function breadth (SURVEY.md §2.3 scalars row) ------------------
def q30_scalar_breadth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String / date / math / array / map scalars in one narrow projection
    — the §2.3 'scalars' inventory row made executable.  All built-ins,
    whole-stage codegen'd, zero shuffles before the final order."""
    nation = read_table(spark, sf_dir, "nation")
    return (
        nation.select(
            "n_nationkey",
            # string
            F.concat_ws("-", F.lower("n_name"), F.lpad(F.col("n_nationkey").cast("string"), 3, "0")).alias("slug"),
            F.substring("n_name", 1, 3).alias("prefix"),
            F.translate("n_name", "AEIOU", "aeiou").alias("xlated"),
            # math
            F.round(F.sqrt(F.col("n_nationkey") + 1), 4).alias("rooted"),
            F.pmod(F.col("n_nationkey") * 7, F.lit(5)).alias("pm"),
            # array
            F.array_contains(F.split("n_name", "A"), "").alias("starts_or_ends_a"),
            F.length("n_name").alias("n_chars"),
            # map
            F.element_at(
                F.map_from_arrays(
                    F.array(F.lit("key"), F.lit("region")),
                    F.array(F.col("n_nationkey").cast("string"), F.col("n_regionkey").cast("string")),
                ),
                "region",
            ).alias("region_str"),
        )
        .orderBy("n_nationkey")
    )


Q30_SQL = """
SELECT n_nationkey,
       concat_ws('-', lower(n_name), lpad(CAST(n_nationkey AS VARCHAR), 3, '0')) AS slug,
       substring(n_name, 1, 3) AS prefix,
       translate(n_name, 'AEIOU', 'aeiou') AS xlated,
       ROUND(sqrt(n_nationkey + 1), 4) AS rooted,
       ((n_nationkey * 7) % 5 + 5) % 5 AS pm,
       list_contains(string_split(n_name, 'A'), '') AS starts_or_ends_a,
       length(n_name) AS n_chars,
       (MAP(['key', 'region'],
            [CAST(n_nationkey AS VARCHAR), CAST(n_regionkey AS VARCHAR)])['region'])[1]
         AS region_str
FROM nation ORDER BY n_nationkey
"""


# --- correlated EXISTS (TPC-H Q4 shape) -----------------------------------
def q31_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-priority checking: orders in one quarter that had at least one
    late-shipped line (l_shipdate > o_orderdate + 60 days) — the TPC-H Q4
    correlated-EXISTS shape, adapted to this schema's columns.  Expressed as
    a LEFT SEMI join whose condition mixes the orderkey equality (hashable,
    drives the shuffle) with the date inequality (residual filter), so Spark
    plans a plain shuffled-hash/sort-merge semi join — no per-row subquery.
    Scale: the quarter filter pushes down to the orders scan, shrinking the
    probe side before the semi join; lineitem prunes to two columns."""
    orders = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1995-04-01")
    )
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    cond = (F.col("o_orderkey") == F.col("l_orderkey")) & (
        F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 60)
    )
    return (
        orders.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("o_orderpriority")
    )


Q31_SQL = """
SELECT o_orderpriority, COUNT(*) AS n_orders
FROM orders o
WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1995-04-01'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
  )
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


# --- HAVING against a global scalar (TPC-H Q11 shape) ----------------------
def q32_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts whose revenue exceeds a fraction of TOTAL revenue: per-group
    aggregate filtered by a global scalar aggregate (TPC-H Q11's HAVING
    ``> SUM(...) * fraction`` shape).  The total is re-aggregated from the
    per-part sums (exact under DECIMAL), broadcast as a 1-row cross join —
    at 100 TB the fact table is scanned ONCE; the threshold side reuses the
    already-shuffled per-part aggregate instead of a second scan."""
    li = read_table(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("rev_dec")
    )
    total = per_part.agg(
        F.sum("rev_dec").cast("double").alias("total_rev")
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("rev_dec").cast("double") > F.col("total_rev") * 0.0005)
        .select(
            "l_partkey",
            F.round(F.col("rev_dec").cast("double"), 2).alias("part_rev"),
        )
        .orderBy(F.desc("part_rev"), "l_partkey")
    )


Q32_SQL = """
WITH per_part AS (
  SELECT l_partkey, SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev_dec
  FROM lineitem GROUP BY l_partkey
), total AS (
  SELECT CAST(SUM(rev_dec) AS DOUBLE) AS total_rev FROM per_part
)
SELECT l_partkey, ROUND(CAST(rev_dec AS DOUBLE), 2) AS part_rev
FROM per_part, total
WHERE CAST(rev_dec AS DOUBLE) > total_rev * 0.0005
ORDER BY part_rev DESC, l_partkey
"""


# --- scalar-subquery threshold + anti join (TPC-H Q22 shape) ---------------
def q33_rich_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with above-average balance and no high-value order, per
    nation — TPC-H Q22 adapted (no phone column → group by nation; "never
    ordered" is vacuous in this data, so the anti side is high-value orders).
    Composes a global scalar subquery (avg positive balance, exact via
    DECIMAL sum / count), a broadcast 1-row cross join, and a LEFT ANTI join
    against filtered orders.  Scale: the anti join shuffles on custkey only
    after the balance filter has cut the customer side; the scalar is one
    broadcast row, not a recomputed subquery per row."""
    cust = read_table(spark, sf_dir, "customer")
    orders = (
        read_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 300000)
        .select("o_custkey")
    )
    thr = cust.filter(F.col("c_acctbal") > 0).agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_bal")
    )
    return (
        cust.crossJoin(F.broadcast(thr))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            F.round(
                F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double"), 2
            ).alias("total_bal"),
        )
        .orderBy("c_nationkey")
    )


Q33_SQL = """
WITH thr AS (
  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_bal
  FROM customer WHERE c_acctbal > 0
)
SELECT c_nationkey, COUNT(*) AS n_cust,
       ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_bal
FROM customer, thr
WHERE c_acctbal > avg_bal
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 300000)
GROUP BY c_nationkey ORDER BY c_nationkey
"""


# --- HLL sketch: approx_count_distinct (oracle-gated via self-check) ------
def q34_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct estimation per market segment — the sketch
    that replaces exact countDistinct at 100 TB (exact needs a second
    shuffle keyed on the value; HLL merges fixed-size sketches map-side).
    DuckDB's HLL yields different raw estimates, so the driver-checkable
    contract is: exact counts (hash-matched against DuckDB) plus a boolean
    ``estimate_within_2pct`` asserting |HLL − exact| / exact ≤ 2 % (rsd=0.01
    → the bound holds with wide margin); the oracle emits TRUE.  The sketch
    itself is therefore what the hash gate exercises — a drifting estimate
    flips the boolean and fails the row."""
    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    agg = (
        orders.join(F.broadcast(cust.select("c_custkey", "c_mktsegment")),
                    F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
            F.approx_count_distinct("o_custkey", rsd=0.01).alias("approx_customers"),
            F.countDistinct("o_custkey").alias("n_customers"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )
    within = (
        F.abs(F.col("approx_customers") - F.col("n_customers"))
        / F.col("n_customers")
        <= 0.02
    )
    return agg.select(
        "c_mktsegment",
        "n_customers",
        "n_orders",
        within.alias("estimate_within_2pct"),
    ).orderBy("c_mktsegment")


Q34_SQL = """
SELECT c_mktsegment,
       COUNT(DISTINCT o_custkey) AS n_customers,
       COUNT(*) AS n_orders,
       TRUE AS estimate_within_2pct
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


# --- q35: sequential conversion funnel ------------------------------------
def q35_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view → click → purchase funnel per market segment: a user advances a
    stage only with a strictly-later event of the next type (min-timestamp
    semantics).  Each stage is one keyed aggregate; all joins are on
    user_id, so the three stages co-partition on the same key — one
    logical shuffle key end-to-end, and the dimension joins in broadcast.
    The canonical product-analytics query a warehouse replaces with three
    correlated subqueries."""
    ev = read_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    mv = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("mv"))
    )
    mc = (
        ev.filter(F.col("event_type") == "click")
        .join(mv, "user_id")
        .filter(F.col("ts") > F.col("mv"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("mc"))
    )
    mp = (
        ev.filter(F.col("event_type") == "purchase")
        .join(mc, "user_id")
        .filter(F.col("ts") > F.col("mc"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("mp"))
    )
    cust = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    return (
        mv.join(mc, "user_id", "left")
        .join(mp, "user_id", "left")
        .join(F.broadcast(cust), "user_id")
        .groupBy("c_mktsegment")
        .agg(
            F.count("mv").alias("n_viewed"),
            F.count("mc").alias("n_clicked_after_view"),
            F.count("mp").alias("n_purchased_after_click"),
        )
        .orderBy("c_mktsegment")
    )


Q35_SQL = """
WITH mv AS (
  SELECT user_id, MIN(ts) AS mv FROM events WHERE event_type = 'view' GROUP BY user_id
),
mc AS (
  SELECT e.user_id, MIN(e.ts) AS mc
  FROM events e JOIN mv ON e.user_id = mv.user_id
  WHERE e.event_type = 'click' AND e.ts > mv.mv
  GROUP BY e.user_id
),
mp AS (
  SELECT e.user_id, MIN(e.ts) AS mp
  FROM events e JOIN mc ON e.user_id = mc.user_id
  WHERE e.event_type = 'purchase' AND e.ts > mc.mc
  GROUP BY e.user_id
)
SELECT c_mktsegment,
       COUNT(mv.mv) AS n_viewed,
       COUNT(mc.mc) AS n_clicked_after_view,
       COUNT(mp.mp) AS n_purchased_after_click
FROM mv
LEFT JOIN mc ON mv.user_id = mc.user_id
LEFT JOIN mp ON mv.user_id = mp.user_id
JOIN customer ON mv.user_id = c_custkey
GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


# --- q36: calendar spine gap-fill ------------------------------------------
def q36_calendar_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense daily revenue series: a generated date spine (min→max order
    date) left-joined to the daily aggregate, gaps filled with zero — the
    time-series shape reporting layers need (missing days must EXIST with
    zeros, not be absent).  The spine derives from a 1-row min/max
    aggregate and explodes driver-free via sequence(); days are broadcast
    against the (already tiny) daily aggregate, so the only corpus-sized
    stage is the first groupBy."""
    orders = read_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2
        ).alias("revenue"),
    )
    spine = (
        orders.agg(
            F.min(F.to_date("o_orderdate")).alias("lo"),
            F.max(F.to_date("o_orderdate")).alias("hi"),
        )
        .select(F.explode(F.expr("sequence(lo, hi, interval 1 day)")).alias("day"))
    )
    return (
        spine.join(F.broadcast(daily), spine.day == daily.d, "left")
        .select(
            F.col("day").cast("string").alias("day"),
            F.coalesce("n", F.lit(0)).alias("n_orders"),
            F.coalesce("revenue", F.lit(0.0)).alias("revenue"),
        )
        .orderBy("day")
    )


Q36_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS n,
         ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS revenue
  FROM orders GROUP BY d
),
bounds AS (SELECT MIN(CAST(o_orderdate AS DATE)) AS lo, MAX(CAST(o_orderdate AS DATE)) AS hi FROM orders),
spine AS (
  SELECT CAST(u.day AS DATE) AS day
  FROM bounds, unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS u(day)
)
SELECT CAST(day AS VARCHAR) AS day,
       COALESCE(n, 0) AS n_orders,
       COALESCE(revenue, 0.0) AS revenue
FROM spine LEFT JOIN daily ON spine.day = daily.d
ORDER BY day
"""


# --- q37: t-digest approx percentile, self-check gated ---------------------
def q37_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The percentile SKETCH path for 100 TB (q20's exact rank method
    sorts within groups; ``percentile_approx``'s t-digest merges
    fixed-size summaries map-side, one pass).  Gated the q34 way: the
    exact rank-based median hash-matches the DuckDB oracle, and
    ``approx_within_2pct`` asserts |t-digest − exact| / exact ≤ 2 % —
    sketch drift flips the boolean and fails the row."""
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = orders.join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
    grp = Window.partitionBy("c_mktsegment")
    ranked = (
        j.select("c_mktsegment", "o_totalprice")
        .withColumn("rn", F.row_number().over(grp.orderBy("o_totalprice")))
        .withColumn("n", F.count(F.lit(1)).over(grp))
    )
    agg = ranked.groupBy("c_mktsegment").agg(
        F.max(
            F.when(F.col("rn") == F.ceil(F.col("n") * 0.5), F.col("o_totalprice"))
        ).alias("p50_exact"),
        F.percentile_approx("o_totalprice", 0.5, 10000).alias("p50_approx"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    within = (
        F.abs(F.col("p50_approx") - F.col("p50_exact")) / F.col("p50_exact") <= 0.02
    )
    return agg.select(
        "c_mktsegment", "p50_exact", "n_orders", within.alias("approx_within_2pct")
    ).orderBy("c_mktsegment")


Q37_SQL = """
WITH ranked AS (
  SELECT c_mktsegment, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY o_totalprice) AS rn,
         COUNT(*) OVER (PARTITION BY c_mktsegment) AS n
  FROM orders JOIN customer ON o_custkey = c_custkey
)
SELECT c_mktsegment,
       MAX(CASE WHEN rn = CEIL(n * 0.5) THEN o_totalprice END) AS p50_exact,
       COUNT(*) AS n_orders,
       TRUE AS approx_within_2pct
FROM ranked GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


CATALOG = {
    "q01_pricing_summary": (q01_pricing_summary, Q01_SQL),
    "q02_top_orders": (q02_top_orders, Q02_SQL),
    "q03_segment_revenue": (q03_segment_revenue, Q03_SQL),
    "q04_region_nation_rollup": (q04_region_nation_rollup, Q04_SQL),
    "q05_topk_orders_per_customer": (q05_topk_orders_per_customer, Q05_SQL),
    "q06_running_totals": (q06_running_totals, Q06_SQL),
    "q07_distinct_counts": (q07_distinct_counts, Q07_SQL),
    "q08_set_ops": (q08_set_ops, Q08_SQL),
    "q09_parts_sold_semi": (q09_parts_sold_semi, Q09_SQL),
    "q10_customers_without_orders": (q10_customers_without_orders, Q10_SQL),
    "q11_json_extract": (q11_json_extract, Q11_SQL),
    "q12_events_daily": (q12_events_daily, Q12_SQL),
    "q13_brand_quantity": (q13_brand_quantity, Q13_SQL),
    "q14_cube_flags": (q14_cube_flags, Q14_SQL),
    "q15_priority_share": (q15_priority_share, Q15_SQL),
    "q16_top_suppliers": (q16_top_suppliers, Q16_SQL),
    "q17_grouping_sets": (q17_grouping_sets, Q17_SQL),
    "q18_topk_skew_safe": (q18_topk_skew_safe, Q18_SQL),
    "q19_pivot_status": (q19_pivot_status, Q19_SQL),
    "q20_percentiles": (q20_percentiles, Q20_SQL),
    "q21_date_arithmetic": (q21_date_arithmetic, Q21_SQL),
    "s01_tumbling_event_counts": (s01_tumbling_event_counts, S01_SQL),
    "s02_session_windows": (s02_session_windows, S02_SQL),
    "q24_small_quantity_revenue": (q24_small_quantity_revenue, Q24_SQL),
    "q25_trailing_window": (q25_trailing_window, Q25_SQL),
    "q26_star_join": (q26_star_join, Q26_SQL),
    "q27_ntile_quartiles": (q27_ntile_quartiles, Q27_SQL),
    "q28_from_json_struct": (q28_from_json_struct, Q28_SQL),
    "q29_conditional_aggs": (q29_conditional_aggs, Q29_SQL),
    "q30_scalar_breadth": (q30_scalar_breadth, Q30_SQL),
    "q31_priority_exists": (q31_priority_exists, Q31_SQL),
    "q32_revenue_share": (q32_revenue_share, Q32_SQL),
    "q33_rich_inactive_customers": (q33_rich_inactive_customers, Q33_SQL),
    "q34_approx_distinct": (q34_approx_distinct, Q34_SQL),
    "q35_funnel": (q35_funnel, Q35_SQL),
    "q36_calendar_gap_fill": (q36_calendar_gap_fill, Q36_SQL),
    "q37_approx_percentile": (q37_approx_percentile, Q37_SQL),
}
