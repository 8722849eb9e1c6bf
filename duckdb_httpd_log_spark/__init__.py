"""duckdb_httpd_log_spark — a PySpark-native HTTP log analytics engine.

A from-scratch reimplementation of the capabilities of the
saygox/duckdb-httpd-log DuckDB extension on Apache Spark, plus the
large-scale training-data-pipeline operators (dedup, similarity search,
text analysis, multimodal plumbing) a 100 TB corpus needs.

Public API:
    read_httpd_log(spark, path, format_type=, format_str=, conf=, raw=)
    read_httpd_conf(spark, path)
    get_spark() — tuned local session helper
    register_log_view(spark, name, path, ...) — the SQL surface: a temp
        view over read_httpd_log
"""

from .session import get_spark, register_tables
from .sources.conf import read_httpd_conf
from .sources.reader import read_httpd_log
from .sources.writer import write_httpd_log


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
    "register_log_view",
    "register_tables",
]
