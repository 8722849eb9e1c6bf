"""SparkSession factory with the engine's required/tuned configuration.

Required for parity: session time zone UTC (the reference normalizes all
timestamps to UTC at parse time, saygox/duckdb-httpd-log
`src/httpd_log_format_parser.cpp:744-762`) and non-ANSI casts (the
reference's converters treat junk as NULL, never error).

Tuned for scale: AQE on (runtime re-planning, skew-join splitting,
partition coalescing), broadcast threshold sized for dimension tables,
Arrow for any pandas boundary.

Tuned for query-build latency: PySpark's DataFrame debugging is off.
When on (its default) every Column function ships its Python call site
to the JVM, a few extra py4j round trips per expression (and an IPython
import on the first); an interactive log query builds hundreds. It
applies only to a session this process creates.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "duckdb-httpd-log-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # local mode runs everything in one JVM, so this IS the executor
        # heap; 16g leaves headroom for 32 concurrent tasks' shuffle and
        # window state at rehearsal scales (the 1000x events probe OOM'd
        # at 8g). Applies only when this process launches the JVM; an
        # externally created session keeps its own sizing.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    return builder.getOrCreate()


def register_tables(spark: SparkSession, sf_dir: str) -> None:
    """Register the benchmark tables as temp views so the full query
    surface is reachable from plain ``spark.sql`` — the same ergonomics
    as the reference's DuckDB session with pre-registered views."""
    from .plans.registry import TABLES, table

    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
