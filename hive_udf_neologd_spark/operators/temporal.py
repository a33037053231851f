"""Temporal join operators: as-of join and range join.

The reference delegates all joins to Hive (SURVEY.md §2.3); these two are
the temporal-join extension tier a training-data pipeline needs (event
attribution, time-bucket enrichment) that plain equi-joins can't express.

* q22 — **as-of join**: each ``purchase`` event is matched to the same
  user's latest ``view`` event at-or-before it.  Implemented with the
  scalable union+window pattern: tag both sides, union, one shuffle on
  ``user_id``, sort within partition, carry the last view forward with
  ``last(..., ignorenulls=True)``.  At 100 TB this beats the naive
  join-then-filter-then-argmax plan (which shuffles the full candidate
  cross product per user); here shuffle volume = |views| + |purchases|,
  exactly once.  The oracle replays the identical window semantics (no
  ASOF JOIN sugar) so tie-breaks match bit-for-bit.

* q23 — **range join**: orders bucketed into a generated monthly calendar
  via a non-equi predicate (``o_orderdate >= m_start AND o_orderdate <
  m_end``).  The calendar is tiny and broadcast, so the non-equi join is a
  BroadcastNestedLoopJoin — linear in the fact side, no shuffle.  At scale
  the generated-dimension + broadcast pattern is the only sane plan for
  range predicates (a shuffle range join would need an interval index).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hive_udf_neologd_spark.sources import read_table


# --- q22: as-of join (purchase ← latest prior view per user) --------------
def q22_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id", F.lit(0).alias("side")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", F.lit(1).alias("side")
    )
    # Order: ts, then side (views before purchases at the same instant →
    # inclusive "at-or-before"), then event_id (deterministic among
    # same-timestamp views: highest id wins via last()).
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    view_id = F.when(F.col("side") == 0, F.col("event_id"))
    view_ts = F.when(F.col("side") == 0, F.col("ts"))
    return (
        views.unionByName(purchases)
        .withColumn("view_id", F.last(view_id, ignorenulls=True).over(w))
        .withColumn("view_ts", F.last(view_ts, ignorenulls=True).over(w))
        .filter(F.col("side") == 1)
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("purchase_ts"),
            "view_id",
            "view_ts",
            (F.unix_micros("ts") - F.unix_micros("view_ts")).alias("lag_us"),
        )
        .orderBy("purchase_id")
    )


Q22_SQL = """
WITH tagged AS (
  SELECT user_id, ts, event_id, 0 AS side FROM events WHERE event_type = 'view'
  UNION ALL
  SELECT user_id, ts, event_id, 1 AS side FROM events WHERE event_type = 'purchase'
),
carried AS (
  SELECT user_id, ts, event_id, side,
         LAST_VALUE(CASE WHEN side = 0 THEN event_id END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, side, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS view_id,
         LAST_VALUE(CASE WHEN side = 0 THEN ts END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, side, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS view_ts
  FROM tagged
)
SELECT event_id AS purchase_id, user_id, ts AS purchase_ts, view_id, view_ts,
       epoch_us(ts) - epoch_us(view_ts) AS lag_us
FROM carried WHERE side = 1 ORDER BY purchase_id
"""


# --- q23: range join against a generated monthly calendar -----------------
def q23_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    # Generated dimension: month starts covering the order range (1995-2001,
    # TESTDATA.md).  Tiny → broadcast; the non-equi join is then a
    # BroadcastNestedLoopJoin, linear in `orders`.
    cal = spark.range(1).select(
        F.explode(
            F.expr(
                "sequence(to_timestamp('1995-01-01'), to_timestamp('2001-08-01'),"
                " interval 1 month)"
            )
        ).alias("m_start")
    ).select("m_start", F.expr("m_start + interval 1 month").alias("m_end"))
    joined = orders.join(
        F.broadcast(cal),
        (F.col("o_orderdate") >= F.col("m_start")) & (F.col("o_orderdate") < F.col("m_end")),
    )
    return (
        joined.groupBy(F.date_format("m_start", "yyyy-MM").alias("month"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .orderBy("month")
    )


Q23_SQL = """
WITH cal AS (
  SELECT m_start, m_start + INTERVAL 1 MONTH AS m_end
  FROM (SELECT unnest(generate_series(TIMESTAMP '1995-01-01',
                                      TIMESTAMP '2001-08-01',
                                      INTERVAL 1 MONTH)) AS m_start)
)
SELECT strftime(m_start, '%Y-%m') AS month,
       COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS revenue
FROM orders JOIN cal
  ON o_orderdate >= m_start AND o_orderdate < m_end
GROUP BY month ORDER BY month
"""


CATALOG = {
    "q22_asof_join": (q22_asof_join, Q22_SQL),
    "q23_range_join": (q23_range_join, Q23_SQL),
}
