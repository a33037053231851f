"""SparkSession factory tuned for this engine.

Local testing runs ``local[N]`` single-JVM, but every conf here is chosen to
hold on a multi-executor cluster at 100 TB: AQE on (runtime re-planning,
skew-join splitting, partition coalescing), adaptive broadcast thresholds,
Arrow for the pandas-UDF tokenizer path, UTC session time so timestamp
results are engine-independent.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "hive-udf-neologd-spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # Shuffle parallelism sized to the local core count; on a real
        # cluster AQE coalesces post-shuffle partitions to target size, so a
        # high initial number is safe at 100 TB.
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow powers the pandas-UDF tokenizer (columnar batches across the
        # Python worker boundary — SURVEY.md §1.3).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Deterministic timestamp semantics for the DuckDB oracle compare.
        .config("spark.sql.session.timeZone", "UTC")
        # events.parquet carries TIMESTAMP(NANOS); Spark reads it as long
        # nanos under this flag and sources.read_table converts back to a
        # proper timestamp column (micros).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # Managed-table warehouse (bucketed tables — sources.write_bucketed);
        # static conf, so it must be set at session build time.
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark_graft_warehouse"),
        )
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()


def prepare(spark: SparkSession) -> SparkSession:
    """Idempotently apply the session confs this engine's queries rely on.

    Two callers: the catalog, which runs it before every ``QUERIES[name]``
    build, so a session created elsewhere (the driver's harness) gets these
    confs and timestamps render in UTC for oracle parity; and
    ``sources.read_table``, whose timestamp normalization needs UTC even
    when it is called outside the catalog.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    # Arrow createDataFrame/toPandas (guide §6); identical values either
    # way — this only picks the path.
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    # Externally-created sessions (the driver's harness) default to 200
    # shuffle partitions — size to the actual parallelism; AQE coalesces
    # further, so this only removes empty-partition overhead.
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism)
    )
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass  # static on some builds; read_table handles both shapes
    return spark
