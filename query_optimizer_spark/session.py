"""SparkSession factory with the engine's standard configuration.

Two profiles (SURVEY.md §4.2):

- ``controlled``: AQE + CBO join reordering + auto-broadcast pinned OFF, so
  measured plans are exactly what the planner emitted (the reference pins
  plan shape the same way by suppressing the original expression,
  setImportance(orig, 0)).  Used for planner-comparison runs.
- ``default`` : AQE on, auto-broadcast on -- the 'spark-default' baseline
  analog of the reference's raw-Postgres planner row, and the profile real
  pipelines should run with at scale.

``events.parquet`` carries TIMESTAMP(NANOS), which Spark's vectorized
reader rejects (PARQUET_TYPE_ILLEGAL); ``spark.sql.legacy.parquet.
nanosAsLong=true`` reads it as epoch-nanos INT64 and ``events_df`` restores
a proper timestamp column.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import sources

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def _base_builder(app: str, cpus: str | int | None = None):
    cpus = str(cpus or DEFAULT_CPUS)
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.warehouse.dir", f"{sources.DEFAULT_WAREHOUSE}/spark")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )


def get_session(
    app: str = "spark-joinlab",
    profile: str = "default",
    cpus: str | int | None = None,
) -> SparkSession:
    b = _base_builder(app, cpus)
    if profile == "controlled":
        b = (
            b.config("spark.sql.adaptive.enabled", "false")
            .config("spark.sql.cbo.enabled", "false")
            .config("spark.sql.cbo.joinReorder.enabled", "false")
            .config("spark.sql.autoBroadcastJoinThreshold", "-1")
        )
    else:
        b = (
            b.config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
            .config("spark.sql.adaptive.skewJoin.enabled", "true")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def configure_runtime(spark: SparkSession) -> None:
    """Apply runtime-settable engine configs to an externally-created
    session (e.g. the driver's)."""
    for k, v in (
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.session.timeZone", "UTC"),
    ):
        try:
            spark.conf.set(k, v)
        except Exception:
            pass


def normalize_ts(df: DataFrame) -> DataFrame:
    """Normalize timestamp storage variants to plain TimestampType.

    The testdata has shipped with two parquet flavors across rounds:
    TIMESTAMP(NANOS) (read as INT64 under nanosAsLong) and
    TIMESTAMP_NTZ (isAdjustedToUTC=false).  With the session timezone
    pinned to UTC, casting NTZ -> TIMESTAMP is epoch-preserving and
    matches DuckDB's naive-timestamp ``epoch_ms`` exactly, so every
    operator downstream can assume one type.
    """
    for name, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            df = df.withColumn(name, F.col(name).cast("timestamp"))
        elif name == "ts" and dtype in ("bigint", "long"):
            # integer division: double math on epoch-nanos (~1e18) would
            # lose precision (double ulp at 1e18 is 128ns)
            df = df.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
    return df


def read_table(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Read one testdata table with engine type normalization applied.
    The relation is resolved once per session (``sources.read_parquet``);
    the runtime configs are still applied, because execution reads
    ``nanosAsLong`` too."""
    configure_runtime(spark)
    return normalize_ts(
        sources.read_parquet(spark, sf_dir, f"{sf_dir}/{table}.parquet")
    )


def events_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events table with ``ts`` normalized to TimestampType."""
    return read_table(spark, sf_dir, "events")
