"""Scan instrumentation — the Spark counterpart of the reference's
EXPLAIN ANALYZE counters (saygox/duckdb-httpd-log
`src/httpd_log_table_function.cpp:858-891`: total_rows, files_processed,
parse_errors).

Implemented with `df.observe()`: accumulator-style metrics collected on
the executors during a normal action, zero extra passes over the data.
Timings (time_file_io / time_regex in the reference) are Spark-UI /
QueryExecutionListener territory rather than row metrics, so they are
not replicated here. ``executed_plan`` lists the physical nodes a query
runs, each cached subtree once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def scan_metrics(logs: DataFrame) -> tuple[Observation, DataFrame]:
    """Attach scan counters to a httpd-log DataFrame.

    Returns (observation, observed_df). Run any action on observed_df,
    then read `observation.get` for: total_rows, parse_errors (raw mode
    only, else 0), files_processed, bytes_scanned (sum of raw line
    lengths when available).
    """
    cols = set(logs.columns)
    metrics = [
        F.count(F.lit(1)).alias("total_rows"),
        F.approx_count_distinct("log_file").alias("files_processed"),
    ]
    if "parse_error" in cols:
        metrics.append(
            F.sum(F.col("parse_error").cast("long")).alias("parse_errors")
        )
    else:
        metrics.append(F.lit(0).cast("long").alias("parse_errors"))
    if "raw_line" in cols:
        metrics.append(F.sum(F.length("raw_line").cast("long")).alias("bytes_scanned"))

    obs = Observation("httpd_log_scan")
    return obs, logs.observe(obs, *metrics)


def executed_plan(df: DataFrame) -> str:
    """What executing ``df`` runs: one line per physical node, with each
    pinned (cached) subtree listed once. ``executedPlan().toString()``
    prints a pinned subtree under every reference to it, so counting
    nodes there overstates what runs."""
    jvm, lines, seen = df.sparkSession._jvm, [], set()

    def walk(node):
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            return walk(node.executedPlan())
        if "QueryStage" in name:
            return walk(node.plan())
        lines.append(node.simpleString(25))
        if name == "InMemoryTableScan":
            rel = node.relation()
            key = jvm.System.identityHashCode(rel.cacheBuilder())
            if key not in seen:
                seen.add(key)
                walk(rel.cachedPlan())
        for kids in (node.children(), node.subqueries()):
            it = kids.iterator()
            while it.hasNext():
                walk(it.next())

    walk(df._jdf.queryExecution().executedPlan())
    return "\n".join(lines)
