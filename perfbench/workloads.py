"""The benchmark's workloads: each op calls the program's public API.

An op returns whether its answer matched the one the corpus generator
recorded. Spans go around each call into a layer; ``Tracer`` makes them
free when tracing is off. Probe calls that repeat a layer's work on
purpose (``fs.expand``, ``logformat.compile``) run only when tracing.
"""

from __future__ import annotations

import gc
import os
import shutil

from pyspark.sql import functions as F

from corpus import (
    CURATE_HASH_COLS,
    REGISTRY_QUERIES,
    digest,
    paths_pool,
)
from spans import needle_rows, plan_counts


def action(tr, df) -> list:
    """Plan, then execute: the action reuses the forced physical plan."""
    qe = df._jdf.queryExecution()
    with tr.span("plan") as s:
        jplan = qe.executedPlan()
        if s is not None:
            s.update(plan_counts(jplan))
    with tr.span("exec"):
        return df.collect()


class Dashboard:
    """Ops-dashboard queries over a 16-file rotated fleet, plus a curate
    round trip (raw read, drop parse errors, write, read back)."""

    ROUND = ["needle", "needle", "day", "day", "since", "since", "listing",
             "listing", "status5xx", "status5xx", "by_status", "curate"]
    # one untimed round: a shape's second call still runs about a third
    # faster than its first (JIT), and column stats are gathered on a
    # file's second touch, so the timed rounds all see steady state
    PRIME = ROUND

    def __init__(self, spark, data: str, exp: dict, tr):
        from duckdb_httpd_log_spark import read_httpd_log, write_httpd_log
        from duckdb_httpd_log_spark.sources.fs import expand_paths
        from duckdb_httpd_log_spark.sources.logformat import (
            COMBINED_FORMAT,
            generate_regex_pattern,
            parse_format_string,
        )

        self.spark, self.exp, self.tr = spark, exp, tr
        self.read, self.write = read_httpd_log, write_httpd_log
        self._expand = expand_paths
        self._compile = lambda: generate_regex_pattern(parse_format_string(COMBINED_FORMAT))
        self.fleet = os.path.join(data, "fleet", "*.log")
        self.curate_in = os.path.join(data, "curate", "raw.log")
        self.curate_out = os.path.join(data, "curate", "out")
        self.pool = paths_pool()
        self.days = sorted(exp["day"])
        # from the 5th on, the mtime tier always keeps one file of 16
        self.since = sorted(exp["since"])[4:]
        self.files = sorted(exp["file"])

    def bind(self):
        return self.read(self.spark, self.fleet, format_type="combined")

    def draw(self, rng, shape: str):
        pick = {"needle": self.pool, "day": self.days, "since": self.since,
                "listing": self.files}.get(shape)
        return pick[int(rng.integers(0, len(pick)))] if pick else None

    def _probe_layers(self, path) -> int | None:
        """Traced runs only: time the listing and the format compile the
        reader does inside its bind, as separate probe calls."""
        with self.tr.span("fs.expand") as s:
            if s is None:
                return None
            files = self._expand(path, self.spark)
            s["files_listed"] = len(files)
        with self.tr.span("logformat.compile"):
            self._compile()
        return len(files)

    def run(self, shape: str, param):
        if shape == "curate":
            return self._curate()
        tr, exp = self.tr, self.exp
        n_listed = self._probe_layers(self.fleet)
        with tr.span("reader.bind"):
            df = self.read(self.spark, self.fleet, format_type="combined")
        if shape == "by_status":
            rows = action(tr, df.groupBy("status").count())
            return {str(r[0]): r[1] for r in rows} == exp["by_status"]
        pred, want = {
            "needle": (lambda: F.col("path") == param, lambda: exp["path"][param]),
            "day": (lambda: F.to_date("timestamp") == param, lambda: exp["day"][param]),
            "since": (lambda: F.col("timestamp") >= param, lambda: exp["since"][param]),
            "listing": (lambda: F.col("log_file").like(f"%/{param}"),
                        lambda: exp["file"][param]),
            "status5xx": (lambda: F.col("status") >= 500, lambda: exp["status5xx"]),
        }[shape]
        with tr.span("pushdown.filter") as s:
            df = df.filter(pred())
        if s is not None:
            s["files_scanned"] = len(df.inputFiles())
            s["files_listed"] = n_listed
        out = df.agg(F.count(F.lit(1)), F.coalesce(F.sum("bytes"), F.lit(0)))
        rows = action(tr, out)
        if s is not None:
            s["lines_read"], s["needle_pass"] = needle_rows(
                out._jdf.queryExecution().executedPlan())
        return [rows[0][0], rows[0][1]] == want()

    def _curate(self):
        tr, exp = self.tr, self.exp["curate"]
        shutil.rmtree(self.curate_out, ignore_errors=True)
        with tr.span("reader.bind"):
            raw = self.read(self.spark, self.curate_in, format_type="combined", raw=True)
        good = raw.filter(~F.col("parse_error")).drop(
            "line_number", "parse_error", "raw_line", "log_file")
        with tr.span("writer.write") as s:
            self.write(good, self.curate_out, format_type="combined")
        parts = [f for f in os.listdir(self.curate_out) if f.startswith("part-")]
        if s is not None:
            out_bytes = sum(os.path.getsize(os.path.join(self.curate_out, f)) for f in parts)
            s["files_out"] = len(parts)
            s["out_bytes_per_in_byte"] = out_bytes / exp["bytes_in"]
        with tr.span("reader.bind"):
            back = self.read(self.spark, os.path.join(self.curate_out, "part-*"),
                             format_type="combined")
        cols = {"epoch": F.unix_timestamp("timestamp").cast("string"),
                "auth_user": F.coalesce("auth_user", F.lit(""))}
        key = F.concat_ws("|", *[cols.get(c, F.col(c).cast("string")) for c in CURATE_HASH_COLS])
        rows = action(tr, back.agg(F.count(F.lit(1)), F.sum(F.crc32(key))))
        return [rows[0][0], rows[0][1]] == [exp["good"], exp["crc_sum"]]


class RegistryPins:
    """Registry queries whose operators pin, iterate or build eagerly,
    plus two pin-free controls, each checked against its DuckDB oracle."""

    ROUND = list(REGISTRY_QUERIES)
    # the pin-free controls, untimed, take the JVM's one-time warm-up
    # (class loading, the first shuffle and broadcast) out of the first
    # timed query; every op still starts from an empty cache
    PRIME = ["q01_pricing_summary", "q08_join_agg"]

    def __init__(self, spark, data: str, exp: dict, tr):
        import duckdb_httpd_log_spark.operators  # noqa: F401  (registers queries)
        from duckdb_httpd_log_spark.plans.registry import REGISTRY

        self.spark, self.data, self.exp, self.tr = spark, data, exp, tr
        self.registry = REGISTRY
        # CacheManager keeps its entries in a private field; read it by
        # reflection so each cached plan counts, not just "any"
        cm = spark._jsparkSession.sharedState().cacheManager()
        field = cm.getClass().getDeclaredField("cachedData")
        field.setAccessible(True)
        self._cached = lambda: field.get(cm).size()

    def bind(self):
        from duckdb_httpd_log_spark.plans.registry import table

        return table(self.spark, self.data, "events")

    def draw(self, rng, shape):
        return None

    def pins(self) -> int:
        """Persistent RDDs plus CacheManager entries."""
        return self.spark.sparkContext._jsc.getPersistentRDDs().size() + self._cached()

    def run(self, shape: str, param):
        with self.tr.span("operators.build"):
            df = self.registry[shape].spark_fn(self.spark, self.data)
        rows = action(self.tr, df)
        return digest(df.columns, [tuple(r) for r in rows]) == self.exp["oracle"][shape]

    def after(self, rec: dict) -> None:
        """Outside the op's latency: read the pins it left, then release
        them so the next op does a first call's work."""
        rec["pins_left"] = self.pins()
        gc.collect()
        self.spark.catalog.clearCache()


WORKLOADS = {"dashboard": Dashboard, "registry_pins": RegistryPins}
