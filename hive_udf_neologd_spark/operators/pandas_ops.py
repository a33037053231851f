"""Grouped pandas UDF surface: applyInPandas (grouped map) and
pandas_udf GROUPED_AGG (a true UDAF) as driver-gated catalog entries.

The reference's UDF surface is scalar-only (its UDAF/UDTF needs are
delegated to Hive — SURVEY.md §2.3 "UDF/UDAF/UDTF surface"); these two
entries pin the Spark-side grouped equivalents with exact oracles by
keeping the kernel math FP-free (integer ranks and order statistics — an
order statistic is an actual data value, so both engines agree
bit-for-bit without floating-point gymnastics).

Scale notes: both operators shuffle once on the grouping key; the Arrow
transfer is the whole group per batch, so groups must fit in worker
memory — the documented applyInPandas contract (salt or pre-aggregate
when a key is hot).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from hive_udf_neologd_spark.session import prepare
from hive_udf_neologd_spark.sources import read_table


# --- u01: applyInPandas grouped-map rank percentiles -----------------------
def u01_applyinpandas_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment customer ranking as a GROUPED-MAP pandas UDF: each
    market segment arrives as one pandas DataFrame, the kernel sorts by
    (acctbal desc, custkey asc) and emits the integer rank and the segment
    size — integer arithmetic, so the window-function oracle matches
    exactly.  rank/n is rounded on the JVM: SQL ``ROUND`` rounds a tie
    half away from zero (3/800 → 0.0038), where Python's ``round`` on the
    double gives 0.0037.  Top-3 per segment keeps the output small."""
    prepare(spark)
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )

    def _rank(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["c_acctbal", "c_custkey"], ascending=[False, True]
        ).reset_index(drop=True)
        n = len(pdf)
        pdf["rnk"] = range(1, n + 1)
        pdf["n"] = n
        return pdf[pdf["rnk"] <= 3]

    return (
        cust.groupBy("c_mktsegment")
        .applyInPandas(
            _rank,
            "c_custkey long, c_mktsegment string, c_acctbal double, rnk int, n long",
        )
        .select(
            "c_custkey",
            "c_mktsegment",
            "c_acctbal",
            "rnk",
            F.round(F.col("rnk") / F.col("n"), 4).alias("pct"),
        )
        .orderBy("c_mktsegment", "rnk")
    )


U01_SQL = """
WITH ranked AS (
  SELECT c_custkey, c_mktsegment, c_acctbal,
         CAST(ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                 ORDER BY c_acctbal DESC, c_custkey ASC) AS INTEGER) AS rnk,
         COUNT(*) OVER (PARTITION BY c_mktsegment) AS n
  FROM customer
)
SELECT c_custkey, c_mktsegment, c_acctbal, rnk,
       ROUND(rnk * 1.0 / n, 4) AS pct
FROM ranked WHERE rnk <= 3
ORDER BY c_mktsegment, rnk
"""


# --- u02: pandas GROUPED_AGG UDAF — k-th order statistic --------------------
_KTH = 10


def u02_grouped_agg_kth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A true UDAF via pandas_udf GROUPED_AGG: the k-th smallest
    l_extendedprice per return flag (an order statistic — returns an
    ACTUAL data value, which is why the rank-based SQL oracle matches
    bit-for-bit; a mean/std UDAF would need tolerance gating instead).
    numpy partition finds the k-th element without a full sort."""
    import numpy as np

    prepare(spark)
    li = read_table(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")

    @pandas_udf("double")
    def kth_smallest(v: pd.Series) -> float:
        a = v.to_numpy(dtype="float64")
        if len(a) < _KTH:
            return float(np.min(a))
        return float(np.partition(a, _KTH - 1)[_KTH - 1])

    # Spark disallows mixing a GROUPED_AGG pandas UDF with non-pandas
    # aggregates in one agg (INVALID_PANDAS_UDF_PLACEMENT) — so the row
    # count is a pandas UDAF too.
    @pandas_udf("long")
    def n_rows(v: pd.Series) -> int:
        return len(v)

    return (
        li.groupBy("l_returnflag")
        .agg(
            kth_smallest("l_extendedprice").alias("kth_price"),
            n_rows("l_extendedprice").alias("n_rows"),
        )
        .orderBy("l_returnflag")
    )


U02_SQL = f"""
WITH ranked AS (
  SELECT l_returnflag, l_extendedprice,
         ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS rn,
         COUNT(*) OVER (PARTITION BY l_returnflag) AS n
  FROM lineitem
)
SELECT l_returnflag,
       MAX(CASE WHEN rn = LEAST({_KTH}, n) THEN l_extendedprice END) AS kth_price,
       COUNT(*) AS n_rows
FROM ranked GROUP BY l_returnflag ORDER BY l_returnflag
"""


PANDAS_OPS_QUERIES = {
    "u01_applyinpandas_rank": u01_applyinpandas_rank,
    "u02_grouped_agg_kth": u02_grouped_agg_kth,
}

PANDAS_OPS_ORACLES = {
    "u01_applyinpandas_rank": U01_SQL,
    "u02_grouped_agg_kth": U02_SQL,
}
