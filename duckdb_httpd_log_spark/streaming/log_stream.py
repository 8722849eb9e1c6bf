"""Structured Streaming variant of the httpd log source.

The reference engine is strictly batch (no streaming surface exists in
saygox/duckdb-httpd-log); this is a beyond-reference extension: the
same bind-time format compilation and the same Catalyst projection
applied to `spark.readStream.text`, so a directory of arriving log
files becomes an incrementally processed stream. Watermarked windowed
aggregation gives the classic "status counts per minute" rollup with
late-data tolerance.

Raw mode is not offered on the stream path: per-file line numbers
require whole-file ordering, which contradicts incremental splittable
ingestion. (Batch `read_httpd_log(raw=True)` remains the tool for
forensics.)
"""

from __future__ import annotations

from typing import Optional

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.registry import fround
from ..sources.logformat import (
    COMBINED_FORMAT,
    COMMON_FORMAT,
    generate_schema,
    parse_format_string,
)
from ..sources.pushdown import LineFilterableFrame, pushdown_context
from ..sources.reader import _apply_program, _line_keep, _program, _schema_json


def read_httpd_log_stream(
    spark: SparkSession,
    path: str,
    format_type: Optional[str] = None,
    format_str: Optional[str] = None,
    line_filter: Optional[str] = None,
    **options: str,
) -> DataFrame:
    """Streaming httpd log source. `path` is a directory watched for new
    files; format must be given explicitly (no sampling probe on an
    unbounded source). Extra `options` pass through to the file source
    (e.g. maxFilesPerTrigger to bound micro-batch size).

    ``line_filter`` mirrors the batch reader's pre-regex substring skip
    (r9 verdict item 5): a vectorized Contains on the raw line BELOW
    the parse, so non-matching lines never reach the regex. Same
    visible semantics as batch — the needle filters raw lines, false
    positives are not re-filtered.

    The result additionally performs the AUTOMATIC pushdown (exactly
    like the batch fast path): a typed ``.filter(...)`` placed directly
    on it derives sound raw-line needles (sources/pushdown.py) and
    re-plans the stream with them below the regex. The parse is the
    batch fast path's compiled program, shared with batch reads of the
    same format."""
    if format_str is None:
        if format_type == "combined":
            format_str = COMBINED_FORMAT
        elif format_type in ("common", None):
            format_str = COMMON_FORMAT
        else:
            raise ValueError(f"Invalid format_type '{format_type}' for streaming read")
    parsed = parse_format_string(format_str)
    prog = _program(parsed, False)

    def _scan(cnf=None):
        scan = spark.readStream.options(**options).text(path)._jdf
        lines = scan.filter(_line_keep(line_filter, cnf)._jc).select(prog.lines)
        return _apply_program(DataFrame(lines, spark), prog)

    # no bind-time file list: a stream's future files arrive with later
    # mtimes (no sound bound, no stat); a log_file predicate prunes each
    # micro-batch's files through Spark's file index instead
    schema = generate_schema(parsed, False)
    return LineFilterableFrame(
        spark,
        _schema_json(schema),
        _scan,
        pushdown_context(parsed, schema),
    )


def windowed_status_counts(
    logs: DataFrame, window: str = "1 minute", watermark: str = "2 minutes"
) -> DataFrame:
    """Watermarked tumbling-window rollup: requests and error counts per
    (window, status). Late rows beyond the watermark are dropped —
    bounded state at any scale."""
    return (
        logs.withWatermark("timestamp", watermark)
        .groupBy(F.window("timestamp", window).alias("w"), "status")
        .agg(
            F.count(F.lit(1)).alias("n_requests"),
            F.sum(F.col("bytes")).alias("total_bytes"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "status",
            "n_requests",
            "total_bytes",
        )
    )


def dedup_stream(
    logs: DataFrame,
    keys: Optional[list] = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup: first occurrence of each key wins; state for
    a key is dropped once the watermark passes it, so state stays bounded
    no matter how long the stream runs (the streaming twin of
    `dedup_exact`). Defaults to the natural "same request replayed" key."""
    keys = keys or ["client_host", "timestamp", "method", "path"]
    return logs.withWatermark("timestamp", watermark).dropDuplicatesWithinWatermark(keys)


def error_rate_alerts(
    logs: DataFrame,
    window: str = "1 minute",
    watermark: str = "2 minutes",
    min_requests: int = 5,
    threshold: float = 0.5,
) -> DataFrame:
    """Windowed 5xx-rate monitor: emits (window, n_requests, n_5xx, rate)
    for windows whose server-error rate crosses `threshold` with at least
    `min_requests` — the standard streaming alerting rollup."""
    five_xx = F.sum(F.when(F.col("status") >= 500, 1).otherwise(0))
    agg = (
        logs.withWatermark("timestamp", watermark)
        .groupBy(F.window("timestamp", window).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_requests"), five_xx.alias("n_5xx"))
        .filter(
            (F.col("n_requests") >= min_requests)
            & (F.col("n_5xx") / F.col("n_requests") >= threshold)
        )
    )
    return agg.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        "n_requests",
        "n_5xx",
        fround(F.col("n_5xx") / F.col("n_requests"), 4).alias("error_rate"),
    )


def correlate_error_context(
    errors: DataFrame,
    requests: DataFrame,
    lookback: str = "2 minutes",
    watermark: str = "5 minutes",
) -> DataFrame:
    """Stream-stream interval join: for each 5xx response, the same
    client's requests in the preceding `lookback` — incident-context
    assembly as a watermarked join. Both sides carry watermarks and the
    join condition bounds event time, so state on BOTH sides is evicted
    as the watermark advances (bounded memory on an unbounded stream;
    the scale-critical property of stream-stream joins).

    `errors`/`requests` are two streaming log DataFrames (typically two
    `read_httpd_log_stream` readers over the same directory)."""
    errs = (
        errors.filter(F.col("status") >= 500)
        .select(
            F.col("client_host").alias("e_host"),
            F.col("timestamp").alias("e_ts"),
            F.col("path").alias("e_path"),
            F.col("status").alias("e_status"),
        )
        .withWatermark("e_ts", watermark)
    )
    reqs = requests.select(
        F.col("client_host").alias("r_host"),
        F.col("timestamp").alias("r_ts"),
        F.col("path").alias("r_path"),
        F.col("status").alias("r_status"),
    ).withWatermark("r_ts", watermark)
    cond = (
        (F.col("r_host") == F.col("e_host"))
        & (F.col("r_ts") >= F.col("e_ts") - F.expr(f"INTERVAL {lookback}"))
        & (F.col("r_ts") <= F.col("e_ts"))
    )
    return errs.join(reqs, cond, "inner").select(
        "e_host", "e_ts", "e_path", "e_status", "r_ts", "r_path", "r_status"
    )


def flag_contaminated_stream(
    docs_stream: DataFrame,
    benchmark: DataFrame,
    ngram: int = 3,
    threshold: float = 0.5,
    passthrough: tuple = (),
) -> DataFrame:
    """Streaming ingest decontamination (the streaming twin of
    `text_contamination`): score each arriving document's distinct
    word-n-gram overlap against a STATIC benchmark gram set.

    Completely STATELESS: the benchmark grams (eval suites are small)
    are collected once at plan time and shipped as a Spark broadcast;
    each micro-batch computes the overlap per row in an Arrow-batched
    pandas UDF. No shuffle, no streaming state, unbounded runtime —
    a per-doc_id streaming aggregation would instead keep one state row
    per document forever, which is exactly the unbounded-state mistake
    this shape avoids. `benchmark` is a batch DataFrame with a `text`
    column.

    Output: (doc_id, n_grams, n_hit, contamination, contaminated), plus
    any `passthrough` columns carried from the input unchanged (so a
    downstream sink can still partition on e.g. the event date).
    """
    def grams_of(text: str) -> set:
        toks = text.split(" ") if isinstance(text, str) else []
        return {
            " ".join(toks[i : i + ngram]) for i in range(max(len(toks) - ngram + 1, 0))
        }

    # benchmark grams built with the SAME python shingler the per-doc UDF
    # uses, so any `ngram` stays consistent on both sides
    bench_grams = frozenset(
        g for (text,) in benchmark.select("text").collect() for g in grams_of(text)
    )
    spark = docs_stream.sparkSession
    b_grams = spark.sparkContext.broadcast(bench_grams)

    @F.pandas_udf("struct<n_grams: bigint, n_hit: bigint>")
    def overlap(s: pd.Series) -> pd.DataFrame:
        bench = b_grams.value
        n_grams, n_hit = [], []
        for text in s:
            grams = grams_of(text)  # None-safe: NULL text scores 0 grams
            n_grams.append(len(grams))
            n_hit.append(sum(1 for g in grams if g in bench))
        return pd.DataFrame({"n_grams": n_grams, "n_hit": n_hit})

    extra = list(passthrough)
    scored = docs_stream.select("doc_id", *extra, overlap("text").alias("o")).select(
        "doc_id", *extra, F.col("o.n_grams").alias("n_grams"), F.col("o.n_hit").alias("n_hit")
    )
    contamination = F.col("n_hit") / F.greatest(F.col("n_grams"), F.lit(1)).cast("double")
    return scored.select(
        "doc_id",
        *extra,
        "n_grams",
        "n_hit",
        fround(contamination, 4).alias("contamination"),
        (contamination >= threshold).alias("contaminated"),
    )


def hot_paths_stream(
    logs: DataFrame,
    window: str = "1 minute",
    watermark: str = "2 minutes",
    min_hits: int = 10,
) -> DataFrame:
    """Watermarked per-(window, path) request counter emitting only hot
    resources (>= min_hits in the window) — the per-resource twin of the
    per-client token bucket in `ratelimit.py`. Bounded state: one count
    per (window, path), dropped when the watermark passes the window."""
    return (
        logs.withWatermark("timestamp", watermark)
        .groupBy(F.window("timestamp", window).alias("w"), "path")
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .filter(F.col("n_hits") >= min_hits)
        .select(
            F.col("w.start").alias("window_start"),
            "path",
            "n_hits",
        )
    )


def dedup_against_index_stream(
    docs_stream: DataFrame,
    corpus_index: DataFrame,
    prefix_k: int = 8,
    watermark_col: str = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming incremental dedup (the streaming twin of batch
    `dedup_incremental`): classify each arriving document against a
    STATIC corpus fingerprint index as `dup_corpus` (fingerprint already
    in the index), `dup_batch` (seen earlier in this stream), or
    `novel`.

    The fingerprint is the md5 of the first `prefix_k` tokens — the same
    boilerplate-prefix key the batch operator uses, so a doc the batch
    pipeline would drop is dropped here too. Shapes:

    - the corpus side is a stream-static LEFT join against the DISTINCT
      fingerprints of `corpus_index` (at 100 TB that's the persisted
      dedup index, loaded once per micro-batch and broadcast when small
      — Catalyst decides from its size stats, same as the batch op);
    - within-stream first-wins dedup is `dropDuplicatesWithinWatermark`
      when `watermark_col` is given (bounded state: a fingerprint's
      state row is dropped once the watermark passes it) or plain
      `dropDuplicates` for bounded replays/backfills.

    Output: every input column plus `fp` and `status`; rows classified
    `dup_batch` are the within-stream duplicates that got DROPPED on the
    dedup path, so this function returns only `dup_corpus`/`novel` rows
    — the survivors a sink would persist, tagged with why they survived.
    """
    fp = F.md5(
        F.concat_ws(" ", F.slice(F.split("text", " "), 1, prefix_k)).cast("binary")
    )
    tagged = docs_stream.withColumn("fp", fp)
    if watermark_col is not None:
        tagged = tagged.withWatermark(watermark_col, watermark)
        deduped = tagged.dropDuplicatesWithinWatermark(["fp"])
    else:
        deduped = tagged.dropDuplicates(["fp"])
    if "fp" in corpus_index.columns:
        # prebuilt index (sinks.save_fingerprint_index artifact): use as-is
        index = corpus_index.select("fp").distinct().withColumn("in_corpus", F.lit(1))
    else:
        index = (
            corpus_index.select(
                F.md5(
                    F.concat_ws(" ", F.slice(F.split("text", " "), 1, prefix_k)).cast("binary")
                ).alias("fp")
            )
            .distinct()
            .withColumn("in_corpus", F.lit(1))
        )
    return deduped.join(index, "fp", "left").withColumn(
        "status",
        F.when(F.col("in_corpus").isNotNull(), "dup_corpus").otherwise("novel"),
    ).drop("in_corpus")


def dau_stream(
    events_stream: DataFrame,
    ts_col: str = "timestamp",
    user_col: str = "client_host",
    watermark: str = "1 day",
) -> DataFrame:
    """Streaming daily-active-users rollup (the streaming twin of the
    batch events_dau_mau numerator): tumbling 1-day event-time windows
    with approximate distinct counting.

    Exact streaming distinct would keep one state row per (day, user)
    — linear state growth in actives; `approx_count_distinct` keeps one
    HLL sketch per day (~KBs) regardless of cardinality, and the
    watermark expires each day's sketch once its window closes. This is
    the standard accuracy-for-boundedness trade every metrics pipeline
    makes (same trade as batch q20's HLL).
    """
    return (
        events_stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, "1 day").alias("day"))
        .agg(F.approx_count_distinct(user_col).alias("dau_approx"))
        .select(
            F.col("day.start").cast("date").cast("string").alias("day"),
            "dau_approx",
        )
    )


def windowed_percentiles_stream(
    logs: DataFrame,
    value_col: str = "bytes",
    window: str = "1 minute",
    watermark: str = "2 minutes",
    accuracy: int = 10000,
) -> DataFrame:
    """Watermarked windowed sketch percentiles (p50/p95/p99) of a numeric
    column — the streaming latency/size monitor. approx_percentile is a
    mergeable sketch aggregate, so partial buffers combine map-side and
    state per window stays O(sketch), never O(rows); the watermark
    bounds how many window states live at once. The batch twin over the
    same rows (same accuracy) produces identical sketch results —
    pinned by the batch-vs-stream parity test."""
    pct = F.expr(
        f"percentile_approx({value_col}, array(0.5, 0.95, 0.99), {accuracy})"
    )
    return (
        logs.withWatermark("timestamp", watermark)
        .groupBy(F.window("timestamp", window).alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), pct.alias("pct"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n",
            F.col("pct").getItem(0).alias("p50"),
            F.col("pct").getItem(1).alias("p95"),
            F.col("pct").getItem(2).alias("p99"),
        )
    )
