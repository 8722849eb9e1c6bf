"""duckdb_httpd_log_spark — a PySpark-native HTTP log analytics engine.

A from-scratch reimplementation of the capabilities of the
saygox/duckdb-httpd-log DuckDB extension on Apache Spark, plus the
large-scale training-data-pipeline operators (dedup, similarity search,
text analysis, multimodal plumbing) a 100 TB corpus needs.

Public API:
    read_httpd_log(spark, path, format_type=, format_str=, conf=, raw=)
    read_httpd_conf(spark, path)
    get_spark() — tuned local session helper
    register_datasource(spark) — deprecated: enable spark.read.format("httpd_log")
"""

import warnings

from .session import get_spark, register_tables
from .sources.conf import read_httpd_conf
from .sources.reader import read_httpd_log
from .sources.writer import write_httpd_log


def register_datasource(spark) -> None:
    """Register the `httpd_log` Python Data Source on this session, making
    logs readable via ``spark.read.format("httpd_log").load(path)``.

    Deprecated: it parses every line in Python. For SQL use
    ``read_httpd_log(...).createOrReplaceTempView(name)`` (or
    ``register_log_view``), whose log_file predicates Spark's file index
    prunes; for streams use ``read_httpd_log_stream``."""
    warnings.warn(
        'format("httpd_log") is deprecated: use '
        "read_httpd_log(...).createOrReplaceTempView(...) for SQL and "
        "read_httpd_log_stream(...) for streams",
        DeprecationWarning,
        stacklevel=2,
    )
    from .sources.datasource import HttpdLogDataSource

    # the reader implements pushFilters(); Spark refuses such sources
    # unless python filter pushdown is switched on
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(HttpdLogDataSource)


def register_log_view(spark, name: str, path, **kwargs) -> None:
    """SQL-first workflow parity with the reference: one call replaces
    ``SELECT … FROM read_httpd_log('path', …)`` — after
    ``register_log_view(spark, 'logs', 'access.log*')`` every reference
    query runs as ``spark.sql("SELECT … FROM logs")``. kwargs are
    forwarded to read_httpd_log (format_type=, format_str=, conf=,
    raw=)."""
    read_httpd_log(spark, path, **kwargs).createOrReplaceTempView(name)


__all__ = [
    "read_httpd_log",
    "write_httpd_log",
    "read_httpd_conf",
    "get_spark",
    "register_datasource",
    "register_log_view",
    "register_tables",
]
