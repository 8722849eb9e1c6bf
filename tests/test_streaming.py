"""Structured Streaming log source tests (file source, availableNow
trigger, memory sink)."""

import shutil

from pyspark.sql import functions as F

from duckdb_httpd_log_spark import read_httpd_log
from duckdb_httpd_log_spark.streaming.log_stream import (
    read_httpd_log_stream,
    windowed_status_counts,
)

from .conftest import data


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _run_stream(df, name):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_stream_parses_arriving_files(spark, tmp_path):
    logdir = tmp_path / "logs"
    logdir.mkdir()
    # an explicit format binds on an empty directory: no rows yet
    empty = read_httpd_log_stream(spark, str(logdir), format_type="combined")
    assert empty.isStreaming and "user_agent" in empty.columns
    _run_stream(empty, "stream_parse_empty")
    assert spark.sql("SELECT * FROM stream_parse_empty").count() == 0

    shutil.copy(data("common", "sample.log"), logdir / "a.log")
    shutil.copy(data("common", "with_errors.log"), logdir / "b.log")

    stream = read_httpd_log_stream(spark, str(logdir), format_type="common")
    assert stream.isStreaming
    _run_stream(stream, "stream_parse")
    out = spark.sql("SELECT * FROM stream_parse")
    # 6 valid lines in sample.log + 3 valid in with_errors.log, the
    # batch reader's rows
    got = _rows(out)
    assert got == _rows(read_httpd_log(spark, str(logdir), format_type="common"))
    assert len(got) == 9
    assert out.filter(F.col("status") == 200).count() >= 2
    assert "timestamp" in out.columns


def test_windowed_rollup(spark, tmp_path):
    logdir = tmp_path / "logs2"
    logdir.mkdir()
    shutil.copy(data("common", "sample.log"), logdir / "a.log")

    stream = read_httpd_log_stream(spark, str(logdir), format_type="common")
    agg = windowed_status_counts(stream, window="1 minute", watermark="10 minutes")
    q = (
        agg.writeStream.format("memory")
        .queryName("stream_rollup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # append mode with watermark only emits closed windows; re-run with a
    # complete-mode count to assert content deterministically
    out = spark.sql("SELECT * FROM stream_rollup")
    assert set(out.columns) == {
        "window_start",
        "window_end",
        "status",
        "n_requests",
        "total_bytes",
    }


def test_streaming_dedup(spark, tmp_path):
    """Duplicate lines across arriving files collapse to one row."""
    from duckdb_httpd_log_spark.streaming.log_stream import dedup_stream

    logdir = tmp_path / "logs3"
    logdir.mkdir()
    shutil.copy(data("common", "sample.log"), logdir / "a.log")
    shutil.copy(data("common", "sample.log"), logdir / "b.log")  # exact replay

    stream = read_httpd_log_stream(spark, str(logdir), format_type="common")
    deduped = dedup_stream(stream)
    _run_stream(deduped, "stream_dedup")
    out = spark.sql("SELECT * FROM stream_dedup")
    assert out.count() == 6  # 12 arriving rows, 6 unique requests


def test_error_rate_alerts(spark, tmp_path):
    from duckdb_httpd_log_spark.streaming.log_stream import error_rate_alerts

    logdir = tmp_path / "logs4"
    logdir.mkdir()
    # craft a window of mostly-500s plus the clean sample
    lines = [
        f'10.0.0.{i} - - [10/Oct/2024:10:00:{i:02d} +0000] "GET /x HTTP/1.1" '
        f"{500 if i < 8 else 200} 10\n"
        for i in range(10)
    ]
    (logdir / "burst.log").write_text("".join(lines))

    stream = read_httpd_log_stream(spark, str(logdir), format_type="common")
    alerts = error_rate_alerts(stream, window="1 minute", min_requests=5, threshold=0.5)
    # complete mode: append would hold the window open until the watermark
    # passes it, which a single availableNow batch never does
    q = (
        alerts.writeStream.format("memory")
        .queryName("stream_alerts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM stream_alerts").collect()
    assert len(rows) == 1
    assert rows[0].n_requests == 10 and rows[0].n_5xx == 8
    assert abs(rows[0].error_rate - 0.8) < 1e-9


def test_streaming_quality_rules_match_batch(spark, tmp_path):
    """The C4/Gopher rule gate is a stateless projection, so it must
    produce identical rows on a file stream and on the batch table."""
    from duckdb_httpd_log_spark.operators.textops import (
        QUALITY_RULE_COLUMNS,
        apply_quality_rules,
    )

    src = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    outdir = tmp_path / "docs_stream"
    src.write.parquet(str(outdir))

    stream = spark.readStream.schema(src.schema).parquet(str(outdir))
    flagged = apply_quality_rules(stream).select("doc_id", *QUALITY_RULE_COLUMNS)
    assert flagged.isStreaming
    _run_stream(flagged, "stream_quality")

    got = {tuple(r) for r in spark.sql("SELECT * FROM stream_quality").collect()}
    want = {
        tuple(r)
        for r in apply_quality_rules(src).select("doc_id", *QUALITY_RULE_COLUMNS).collect()
    }
    assert got == want and len(got) == src.count()


def test_stream_stream_error_context_join(spark, tmp_path):
    from duckdb_httpd_log_spark.streaming.log_stream import correlate_error_context

    logdir = tmp_path / "logs_ss"
    logdir.mkdir()
    lines = [
        # client .1: two requests then a 500 within the 2-minute lookback
        '10.0.0.1 - u [10/Oct/2000:13:55:00 +0000] "GET /a HTTP/1.0" 200 10',
        '10.0.0.1 - u [10/Oct/2000:13:56:00 +0000] "GET /b HTTP/1.0" 200 10',
        '10.0.0.1 - u [10/Oct/2000:13:56:30 +0000] "POST /submit HTTP/1.0" 500 99',
        # client .2: a request far OUTSIDE any error's lookback window
        '10.0.0.2 - u [10/Oct/2000:12:00:00 +0000] "GET /c HTTP/1.0" 200 10',
        # client .2's error has no preceding request within 2 minutes
        '10.0.0.2 - u [10/Oct/2000:13:59:00 +0000] "GET /d HTTP/1.0" 503 0',
    ]
    (logdir / "a.log").write_text("\n".join(lines) + "\n")

    errors = read_httpd_log_stream(spark, str(logdir), format_type="common")
    requests = read_httpd_log_stream(spark, str(logdir), format_type="common")
    joined = correlate_error_context(errors, requests, lookback="2 minutes")
    assert joined.isStreaming
    _run_stream(joined, "stream_err_ctx")
    out = spark.sql("SELECT * FROM stream_err_ctx ORDER BY r_ts").collect()
    # the .1 error matches its two preceding requests plus itself (the
    # 500 row is also a request at the error's own timestamp); the .2
    # error matches only itself
    by_host = {}
    for r in out:
        by_host.setdefault(r.e_host, []).append(r.r_path)
    assert by_host["10.0.0.1"] == ["/a", "/b", "/submit"]
    assert by_host["10.0.0.2"] == ["/d"]


def test_stream_to_partitioned_parquet_sink(spark, tmp_path):
    """End-to-end streaming ETL: parse arriving logs -> partitioned
    parquet with exactly-once checkpointing; batch read-back matches."""
    logdir = tmp_path / "logs_sink"
    logdir.mkdir()
    shutil.copy(data("common", "sample.log"), logdir / "a.log")
    out, ckpt = tmp_path / "out", tmp_path / "ckpt"

    stream = read_httpd_log_stream(spark, str(logdir), format_type="common")
    q = (
        stream.withColumn("status_class", (F.col("status") / 100).cast("int") * 100)
        .writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(ckpt))
        .partitionBy("status_class")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    back = spark.read.parquet(str(out))
    assert back.count() == 6
    # partition pruning works on the sink layout
    assert back.filter(F.col("status_class") == 200).count() == 3
    assert {r.status for r in back.filter(F.col("status_class") == 400).collect()} == {403, 404}


def test_stateful_rate_limit_token_bucket(spark, tmp_path):
    from duckdb_httpd_log_spark.streaming.ratelimit import rate_limit_stream

    logdir = tmp_path / "logs_rl"
    logdir.mkdir()
    # client .1 fires 6 requests in 5 seconds against a 3-per-minute
    # bucket (burst 3): requests 4-6 find an empty bucket (the ~0.05
    # tokens refilled over seconds never reach 1.0); client .2 is quiet
    lines = [
        f'10.0.0.1 - u [10/Oct/2000:13:55:0{i} +0000] "GET /a HTTP/1.0" 200 10'
        for i in range(6)
    ] + ['10.0.0.2 - u [10/Oct/2000:13:55:00 +0000] "GET /b HTTP/1.0" 200 10']
    (logdir / "a.log").write_text("\n".join(lines) + "\n")

    stream = read_httpd_log_stream(spark, str(logdir), format_type="common")
    violations = rate_limit_stream(stream, limit=3, period_seconds=60.0)
    assert violations.isStreaming
    _run_stream(violations, "stream_rl")
    out = spark.sql("SELECT * FROM stream_rl ORDER BY ts").collect()
    assert [r.client_host for r in out] == ["10.0.0.1"] * 3
    assert [r.n_rejected_so_far for r in out] == [1, 2, 3]
    # rejected requests at seconds 3, 4, 5
    assert [r.ts.second for r in out] == [3, 4, 5]


def test_rate_limit_state_persists_across_batches(spark, tmp_path):
    """maxFilesPerTrigger=1 forces one micro-batch per file: the bucket
    drained by batch 1 must still be empty when batch 2 arrives."""
    from duckdb_httpd_log_spark.streaming.ratelimit import rate_limit_stream

    logdir = tmp_path / "logs_rl2"
    logdir.mkdir()
    # file A: 3 requests drain the burst-3 bucket (no violations yet)
    (logdir / "a.log").write_text(
        "\n".join(
            f'10.0.0.9 - u [10/Oct/2000:13:55:0{i} +0000] "GET /a HTTP/1.0" 200 10'
            for i in range(3)
        )
        + "\n"
    )
    # file B: 2 more requests seconds later -> both must be rejected,
    # which can only happen if state survived the batch boundary
    (logdir / "b.log").write_text(
        "\n".join(
            f'10.0.0.9 - u [10/Oct/2000:13:55:1{i} +0000] "GET /b HTTP/1.0" 200 10'
            for i in range(2)
        )
        + "\n"
    )

    stream = read_httpd_log_stream(
        spark, str(logdir), format_type="common", maxFilesPerTrigger="1"
    )
    violations = rate_limit_stream(stream, limit=3, period_seconds=60.0)
    q = (
        violations.writeStream.format("memory")
        .queryName("stream_rl2")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("SELECT * FROM stream_rl2 ORDER BY ts").collect()
    assert [r.n_rejected_so_far for r in out] == [1, 2]
    assert all(r.client_host == "10.0.0.9" for r in out)


def test_stream_contamination_matches_batch(spark, tmp_path):
    """The stateless streaming decontaminator must score docs exactly
    like the batch text_contamination formula, with zero state rows."""
    import json

    from duckdb_httpd_log_spark.streaming.log_stream import flag_contaminated_stream

    # static benchmark: two docs; stream: four docs, one fully contaminated
    bench = spark.createDataFrame(
        [("alpha beta gamma delta",), ("one two three four five",)], ["text"]
    )
    docs = [
        (1, "alpha beta gamma delta"),          # 100% overlap
        (2, "alpha beta gamma nine ten"),       # partial
        (3, "totally clean document here now"), # 0%
        (4, "x y"),                             # shorter than the n-gram
    ]
    srcdir = tmp_path / "docs"
    srcdir.mkdir()
    with open(srcdir / "batch0.json", "w") as fh:
        for doc_id, text in docs:
            fh.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")
    stream = (
        spark.readStream.schema("doc_id bigint, text string").json(str(srcdir))
    )
    flagged = flag_contaminated_stream(stream, bench, ngram=3, threshold=0.5)
    assert flagged.isStreaming
    _run_stream(flagged, "contam_stream")
    rows = {r["doc_id"]: r for r in spark.sql("SELECT * FROM contam_stream").collect()}
    assert rows[1]["contaminated"] and rows[1]["contamination"] == 1.0
    assert rows[1]["n_grams"] == 2 and rows[1]["n_hit"] == 2
    assert not rows[3]["contaminated"] and rows[3]["n_hit"] == 0
    assert rows[4]["n_grams"] == 0 and not rows[4]["contaminated"]
    # partial doc: grams = {a b g, b g n, g n t}; 1 hit of 3
    assert rows[2]["n_hit"] == 1 and rows[2]["n_grams"] == 3
    assert rows[2]["contamination"] == round(1 / 3, 4)


def test_stream_contamination_ngram_and_null_safety(spark, tmp_path):
    """Custom ngram must apply to BOTH the benchmark grams and the doc
    grams (they were inconsistent once), and NULL text must score 0."""
    import json

    from duckdb_httpd_log_spark.streaming.log_stream import flag_contaminated_stream

    bench = spark.createDataFrame([("alpha beta",)], ["text"])
    srcdir = tmp_path / "docs2"
    srcdir.mkdir()
    with open(srcdir / "b.json", "w") as fh:
        fh.write(json.dumps({"doc_id": 1, "text": "alpha beta gamma"}) + "\n")
        fh.write(json.dumps({"doc_id": 2, "text": None}) + "\n")
    stream = spark.readStream.schema("doc_id bigint, text string").json(str(srcdir))
    flagged = flag_contaminated_stream(stream, bench, ngram=2, threshold=0.5)
    _run_stream(flagged, "contam_ngram2")
    rows = {r["doc_id"]: r for r in spark.sql("SELECT * FROM contam_ngram2").collect()}
    # doc 1 bigrams: {alpha beta, beta gamma}; bench bigrams: {alpha beta}
    assert rows[1]["n_grams"] == 2 and rows[1]["n_hit"] == 1
    assert rows[2]["n_grams"] == 0 and not rows[2]["contaminated"]


def test_hot_paths_stream(spark, tmp_path):
    from duckdb_httpd_log_spark.streaming.log_stream import (
        hot_paths_stream,
        read_httpd_log_stream,
    )

    logdir = tmp_path / "hotlogs"
    logdir.mkdir()
    line = '10.0.0.{i} - u [10/Oct/2024:13:55:{s:02d} +0000] "GET {p} HTTP/1.1" 200 10'
    with open(logdir / "a.log", "w") as fh:
        for i in range(12):  # /hot gets 12 hits in one minute
            fh.write(line.format(i=i, s=i % 60, p="/hot") + "\n")
        for i in range(3):  # /cold only 3
            fh.write(line.format(i=i, s=i % 60, p="/cold") + "\n")
    stream = read_httpd_log_stream(spark, str(logdir), format_type="common")
    hot = hot_paths_stream(stream, window="1 minute", min_hits=10)
    # complete mode: append would hold windows until the watermark passes
    q = (
        hot.writeStream.format("memory")
        .queryName("hot_paths")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM hot_paths").collect()
    paths = {r["path"]: r["n_hits"] for r in rows}
    assert paths == {"/hot": 12}


# ---------------------------------------------------------------------------
# end-to-end pipeline: readStream httpd_log -> quality gate ->
# decontamination -> date-partitioned parquet sink, with the query
# KILLED after batch 1 and RESUMED from its checkpoint (the
# exactly-once recovery contract a 100 TB ingest depends on)
# ---------------------------------------------------------------------------
_CLEAN_WORDS = [
    "the", "quick", "engine", "reads", "arriving", "log", "files", "and",
    "turns", "them", "into", "training", "data", "with", "a", "quality",
    "gate", "plus", "benchmark", "decontamination", "before", "every",
    "partitioned", "write",
]
_BENCH_WORDS = [
    "of", "known", "evaluation", "suite", "sentences", "that", "must",
    "never", "leak", "into", "corpus", "shards", "because", "metrics",
    "would", "be", "contaminated", "forever", "across", "all", "future",
    "model", "training", "runs",
]


def _pipeline_lines(day, start, n_clean, n_contam, n_lowq=0):
    lines = []
    i = start
    for k in range(n_clean):
        segs = _CLEAN_WORDS[k % 4 :] + _CLEAN_WORDS[: k % 4]  # rotate: distinct paths
        lines.append(
            f'10.0.0.{i} - u [{day}/Oct/2024:10:00:{i:02d} +0000] '
            f'"GET /{"/".join(segs)} HTTP/1.1" 200 {100 + i}'
        )
        i += 1
    for _ in range(n_contam):
        lines.append(
            f'10.0.0.{i} - u [{day}/Oct/2024:10:00:{i:02d} +0000] '
            f'"GET /{"/".join(_BENCH_WORDS)} HTTP/1.1" 200 {100 + i}'
        )
        i += 1
    for _ in range(n_lowq):
        lines.append(
            f'10.0.0.{i} - u [{day}/Oct/2024:10:00:{i:02d} +0000] '
            f'"GET /too/short/path HTTP/1.1" 200 {100 + i}'
        )
        i += 1
    return "".join(ln + "\n" for ln in lines)


def test_streaming_pipeline_checkpoint_recovery(spark, tmp_path):
    """Kill-and-resume over one checkpoint: batch 1 flows a.log through
    the full pipeline, the query stops (process death equivalent), b.log
    arrives, and the restarted query must process ONLY b.log — no
    duplicated a.log rows in the sink (exactly-once), new date partition
    appended."""
    from duckdb_httpd_log_spark.operators.textops import apply_quality_rules
    from duckdb_httpd_log_spark.streaming.log_stream import (
        flag_contaminated_stream,
        read_httpd_log_stream,
    )

    logdir = tmp_path / "arriving"
    logdir.mkdir()
    sink = str(tmp_path / "curated")
    ckpt = str(tmp_path / "ckpt")
    bench = spark.createDataFrame([(" ".join(_BENCH_WORDS),)], "text string")

    def run_once():
        logs = read_httpd_log_stream(spark, str(logdir), format_type="common")
        docs = logs.select(
            F.xxhash64("log_file", "client_host", "path").alias("doc_id"),
            F.expr("trim(translate(path, '/', ' '))").alias("text"),
            "timestamp",
            "status",
        )
        gated = apply_quality_rules(docs).filter("keep")
        decon = flag_contaminated_stream(
            gated.select("doc_id", "text", "timestamp", "status"),
            bench,
            passthrough=("timestamp", "status"),
        )
        curated = decon.filter(~F.col("contaminated")).withColumn(
            "log_date", F.to_date("timestamp")
        )
        q = (
            curated.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .partitionBy("log_date")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert not q.isActive

    # ---- batch 1: 5 clean + 1 contaminated + 1 low-quality ----
    (logdir / "a.log").write_text(_pipeline_lines(10, 0, 5, 1, 1))
    run_once()
    first = spark.read.parquet(sink)
    assert first.count() == 5  # gate dropped 1, decontamination dropped 1
    assert {str(r.log_date) for r in first.select("log_date").distinct().collect()} == {
        "2024-10-10"
    }

    # ---- kill happened (query stopped); new day's file arrives ----
    (logdir / "b.log").write_text(_pipeline_lines(11, 20, 4, 1))
    run_once()
    final = spark.read.parquet(sink)
    # 5 + 4 exactly: a.log rows NOT reprocessed on resume
    assert final.count() == 9
    assert {str(r.log_date) for r in final.select("log_date").distinct().collect()} == {
        "2024-10-10",
        "2024-10-11",
    }
    # pipeline columns survived to the sink; nothing contaminated got in
    assert final.filter(F.col("contaminated")).count() == 0
    assert final.filter(F.col("n_grams") <= 0).count() == 0
    # hive-partition layout on disk: one directory per log_date
    import os as _os

    assert sorted(
        d for d in _os.listdir(sink) if d.startswith("log_date=")
    ) == ["log_date=2024-10-10", "log_date=2024-10-11"]


def test_stream_incremental_dedup_against_static_index(spark, tmp_path):
    """Stream-static incremental dedup: corpus-known fingerprints tag as
    dup_corpus, within-stream repeats collapse to one row, fresh docs
    pass through as novel — mirroring batch dedup_incremental."""
    import json

    from duckdb_httpd_log_spark.streaming.log_stream import dedup_against_index_stream

    corpus = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta eta theta trailing stuff")],
        ["doc_id", "text"],
    )
    docs = [
        # same 8-token prefix as the corpus doc -> dup_corpus
        (1, "alpha beta gamma delta epsilon zeta eta theta DIFFERENT tail"),
        (2, "a fresh document nobody has ever seen before now"),
        (3, "a fresh document nobody has ever seen before now"),  # stream repeat of 2
        (4, "another genuinely new piece of content arriving late here"),
    ]
    srcdir = tmp_path / "docs_inc"
    srcdir.mkdir()
    with open(srcdir / "batch0.json", "w") as fh:
        for doc_id, text in docs:
            fh.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")
    stream = spark.readStream.schema("doc_id bigint, text string").json(str(srcdir))
    out = dedup_against_index_stream(stream, corpus)
    assert out.isStreaming
    _run_stream(out, "inc_dedup_stream")
    rows = {r["doc_id"]: r for r in spark.sql("SELECT * FROM inc_dedup_stream").collect()}
    # stream repeat collapsed: exactly one of doc 2/3 survives
    assert len({2, 3} & rows.keys()) == 1
    assert rows[1]["status"] == "dup_corpus"
    assert rows[4]["status"] == "novel"
    surviving_2or3 = rows.get(2) or rows.get(3)
    assert surviving_2or3["status"] == "novel"
    # batch twin agreement: the corpus-dup fingerprint matches what
    # dedup_incremental's key would compute for the same text
    from pyspark.sql import functions as F

    fp_batch = corpus.select(
        F.md5(F.concat_ws(" ", F.slice(F.split("text", " "), 1, 8)).cast("binary")).alias("fp")
    ).first()["fp"]
    assert rows[1]["fp"] == fp_batch


def test_fingerprint_index_roundtrip_batch_to_stream(spark, tmp_path):
    """The persisted fingerprint index (batch artifact) drives the
    streaming dedup to the same classifications as passing the raw
    corpus — the batch-maintains / stream-consumes contract."""
    import json

    from duckdb_httpd_log_spark.sinks import save_fingerprint_index
    from duckdb_httpd_log_spark.streaming.log_stream import dedup_against_index_stream

    corpus = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta eta theta trailing stuff")],
        ["doc_id", "text"],
    )
    idx_path = str(tmp_path / "fp_index")
    save_fingerprint_index(corpus, idx_path)
    index = spark.read.parquet(idx_path)
    assert index.columns == ["fp"] and index.count() == 1

    docs = [
        (1, "alpha beta gamma delta epsilon zeta eta theta NEW tail"),
        (2, "some novel content that is not in the corpus index"),
    ]
    srcdir = tmp_path / "docs_idx"
    srcdir.mkdir()
    with open(srcdir / "b0.json", "w") as fh:
        for doc_id, text in docs:
            fh.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")
    stream = spark.readStream.schema("doc_id bigint, text string").json(str(srcdir))
    out = dedup_against_index_stream(stream, index)
    _run_stream(out, "idx_dedup_stream")
    rows = {r["doc_id"]: r for r in spark.sql("SELECT * FROM idx_dedup_stream").collect()}
    assert rows[1]["status"] == "dup_corpus"
    assert rows[2]["status"] == "novel"


def test_cusum_stream_matches_reference_replay(spark, tmp_path):
    """The stateful CUSUM operator must emit exactly the alerts the
    plain-Python recurrence replay produces, with state carried across
    micro-batches."""
    import json

    from duckdb_httpd_log_spark.streaming.cusum import (
        cusum_alerts_stream,
        cusum_replay,
    )

    # two keys; key "a" drifts up in batch 1, key "b" drifts down in batch 2
    batches = [
        [("a", 10.0), ("a", 10.2), ("b", 10.1), ("a", 12.5), ("a", 12.8)],
        [("a", 12.9), ("b", 7.2), ("b", 7.0), ("b", 6.9), ("a", 10.0)],
    ]
    srcdir = tmp_path / "cusum_src"
    srcdir.mkdir()

    # seq preserves within-key order across files (stream reads files in
    # name order; within a key the recurrence only needs per-key order)
    def write_batch(i):
        with open(srcdir / f"b{i}.json", "w") as fh:
            for seq, (k, v) in enumerate(batches[i]):
                fh.write(json.dumps({"event_type": k, "seq": i * 100 + seq, "value": v}) + "\n")

    write_batch(0)
    write_batch(1)
    stream = spark.readStream.schema("event_type string, seq long, value double").json(
        str(srcdir)
    )
    alerts = cusum_alerts_stream(
        stream, target_mean=10.0, slack=0.5, threshold=3.0, order_col="seq"
    )
    assert alerts.isStreaming
    _run_stream(alerts, "cusum_alerts")
    got = sorted(
        (r["key"], r["n_seen"], r["value"], r["direction"])
        for r in spark.sql("SELECT * FROM cusum_alerts").collect()
    )
    seq_rows = sorted(
        ((i * 100 + seq, k, v) for i, b in enumerate(batches) for seq, (k, v) in enumerate(b))
    )
    expected_full = cusum_replay(
        [(k, v) for _, k, v in seq_rows],
        target_mean=10.0,
        slack=0.5,
        threshold=3.0,
    )
    # per-key subsequences are what's guaranteed; compare per-key
    def per_key(rows):
        out = {}
        for r in rows:
            out.setdefault(r[0], []).append(r[1:])
        return out

    exp = per_key([(k, n, v, d) for k, n, v, _, _, d in expected_full])
    assert per_key(got) == exp
    assert exp  # the scenario actually produces alerts


def test_dau_stream_counts_daily_actives(spark, tmp_path):
    import json

    from duckdb_httpd_log_spark.streaming.log_stream import dau_stream

    rows = [
        ("2024-04-01 10:00:00", "u1"),
        ("2024-04-01 11:00:00", "u1"),  # repeat, same day
        ("2024-04-01 12:00:00", "u2"),
        ("2024-04-02 09:00:00", "u1"),
        ("2024-04-02 10:00:00", "u3"),
    ]
    srcdir = tmp_path / "dau_src"
    srcdir.mkdir()
    with open(srcdir / "b0.json", "w") as fh:
        for ts, u in rows:
            fh.write(json.dumps({"ts_s": ts, "client_host": u}) + "\n")
    stream = (
        spark.readStream.schema("ts_s string, client_host string")
        .json(str(srcdir))
        .selectExpr("cast(ts_s as timestamp) as timestamp", "client_host")
    )
    out = dau_stream(stream)
    assert out.isStreaming
    q = (
        out.writeStream.format("memory")
        .queryName("dau_rollup")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["day"]: r["dau_approx"] for r in spark.sql("SELECT * FROM dau_rollup").collect()}
    # HLL at these cardinalities is exact
    assert got == {"2024-04-01": 2, "2024-04-02": 2}


def test_windowed_percentiles_stream_matches_batch(spark, tmp_path):
    """The windowed sketch percentiles computed over the stream must
    equal the batch percentile_approx over the same rows and windows
    (mergeable-sketch determinism at equal accuracy)."""
    from duckdb_httpd_log_spark.streaming import windowed_percentiles_stream

    logdir = tmp_path / "logs_pct"
    logdir.mkdir()
    lines = []
    for m, sizes in [(55, [10, 20, 30, 40, 1000]), (56, [5, 5, 7, 900])]:
        for i, b in enumerate(sizes):
            lines.append(
                f'10.0.0.{i} - u [10/Oct/2000:13:{m}:{i:02d} +0000]'
                f' "GET /x HTTP/1.0" 200 {b}'
            )
    (logdir / "a.log").write_text("\n".join(lines) + "\n")

    stream = read_httpd_log_stream(spark, str(logdir), format_type="common")
    out = windowed_percentiles_stream(stream, value_col="bytes")
    assert out.isStreaming
    # complete mode: append would hold both windows open (watermark
    # never passes them with no later data); the parity check needs the
    # emitted sketch values, not the close semantics
    q = (
        out.writeStream.format("memory")
        .queryName("stream_pct")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.window_start: (r.n, r.p50, r.p95, r.p99)
        for r in spark.sql("SELECT * FROM stream_pct").collect()
    }

    batch = read_httpd_log(spark, str(logdir / "a.log"), format_type="common")
    exp = {
        r.window_start: (r.n, r.p50, r.p95, r.p99)
        for r in batch.groupBy(F.window("timestamp", "1 minute").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr(
                "percentile_approx(bytes, array(0.5, 0.95, 0.99), 10000)"
            ).alias("pct"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "n",
            F.col("pct").getItem(0).alias("p50"),
            F.col("pct").getItem(1).alias("p95"),
            F.col("pct").getItem(2).alias("p99"),
        )
        .collect()
    }
    assert len(got) == 2
    assert got == exp


def test_stream_line_filter_prefilters_below_regex(spark, tmp_path):
    """r9 verdict item 5 (executor-parallel path): line_filter= puts a
    Contains on the raw value BELOW the parse regex in the streaming
    plan, and rows equal the batch reader's line_filter semantics."""
    logdir = tmp_path / "logs_lf"
    logdir.mkdir()
    shutil.copy(data("common", "sample.log"), logdir / "a.log")

    stream = read_httpd_log_stream(
        spark, str(logdir), format_type="common", line_filter="frank"
    )
    # plan shape: Contains(value) below the regexp projection
    plan = stream._jdf.queryExecution().analyzed().toString()
    assert "Contains(value" in plan and "regexp_replace(value" in plan
    assert plan.index("regexp_replace(value") < plan.rindex("Contains(value")
    _run_stream(stream, "stream_lf")
    got = sorted(
        map(str, spark.sql("SELECT * FROM stream_lf").drop("log_file").collect())
    )
    from duckdb_httpd_log_spark import read_httpd_log

    want = sorted(
        map(
            str,
            read_httpd_log(
                spark, str(logdir), format_type="common", line_filter="frank"
            )
            .drop("log_file")
            .collect(),
        )
    )
    assert got == want and len(got) > 0


def test_stream_automatic_pushdown_derives_needles(spark, tmp_path):
    """r10: a typed filter placed directly on the streaming scan derives
    the raw-line needles automatically (no line_filter= anywhere) and
    rows equal the un-pushed streaming plan."""
    from pyspark.sql import functions as F

    from duckdb_httpd_log_spark.sources.pushdown import LineFilterableFrame

    logdir = tmp_path / "logs_auto"
    logdir.mkdir()
    shutil.copy(data("common", "sample.log"), logdir / "a.log")

    stream = read_httpd_log_stream(spark, str(logdir), format_type="common")
    assert isinstance(stream, LineFilterableFrame) and stream.isStreaming
    pushed = stream.filter(F.col("status") == 404)
    plan = pushed._jdf.queryExecution().analyzed().toString()
    assert "Contains(value" in plan  # derived needle below the parse
    _run_stream(pushed, "stream_auto_pushed")
    got = sorted(
        map(str, spark.sql("SELECT * FROM stream_auto_pushed").drop("log_file").collect())
    )
    naive = super(LineFilterableFrame, stream).filter(F.col("status") == 404)
    _run_stream(naive, "stream_auto_naive")
    want = sorted(
        map(str, spark.sql("SELECT * FROM stream_auto_naive").drop("log_file").collect())
    )
    assert got == want and len(got) == 1


def test_stream_year_and_epoch_needles_no_mtime(spark, tmp_path, monkeypatch):
    """r11: bounded year/epoch predicates derive needles in STREAMING
    scans too, but one-sided 'since X' ranges must NOT (the mtime bound
    is batch-only — a stream's future files arrive later)."""
    from pyspark.sql import functions as F

    from duckdb_httpd_log_spark.sources.pushdown import LineFilterableFrame

    logdir = tmp_path / "logs_sfy"
    logdir.mkdir()
    (logdir / "a.log").write_text(
        "1.1.1.1 2023-03-05 10:00:00 200\n"
        "1.1.1.2 2024-03-05 10:00:00 404\n"
    )
    fmt = "%h %{%Y-%m-%d %H:%M:%S}t %>s"
    stream = read_httpd_log_stream(spark, str(logdir), format_str=fmt)
    bounded = stream.filter(F.year("timestamp") == 2024)
    plan = bounded._jdf.queryExecution().analyzed().toString()
    assert "Contains(value" in plan  # bare year digits pushed

    one_sided = read_httpd_log_stream(spark, str(logdir), format_str=fmt).filter(
        F.col("timestamp") >= "2024-01-01 00:00:00"
    )
    plan2 = one_sided._jdf.queryExecution().analyzed().toString()
    assert "Contains(value" not in plan2  # no mtime bound in streams

    _run_stream(bounded, "stream_year_pushed")
    got = spark.sql("SELECT client_host FROM stream_year_pushed").collect()
    assert [r.client_host for r in got] == ["1.1.1.2"]

    # epoch flavor: bounded range pushes digit prefixes in streams
    edir = tmp_path / "logs_epoch"
    edir.mkdir()
    (edir / "e.log").write_text(
        "2.2.2.2 1727740800 200\n2.2.2.3 1730419200 404\n"
    )
    # r12: epoch derivation is cost-gated; lift the gate for this cheap
    # 3-field fixture so the streaming derivation itself is exercised
    from duckdb_httpd_log_spark.sources import pushdown

    with monkeypatch.context() as m:
        m.setattr(pushdown, "EPOCH_MIN_FIELDS", 0)
        es = read_httpd_log_stream(spark, str(edir), format_str="%h %{sec}t %>s")
        eb = es.filter(
            F.col("timestamp").between("2024-10-01 00:00:00", "2024-10-01 23:59:59")
        )
    eplan = eb._jdf.queryExecution().analyzed().toString()
    assert "Contains(value" in eplan
    _run_stream(eb, "stream_epoch_pushed")
    erows = spark.sql("SELECT client_host FROM stream_epoch_pushed").collect()
    assert [r.client_host for r in erows] == ["2.2.2.2"]


# --- per-trigger listing prune (r13): log_file conjunct -> pathGlobFilter ----


def _mklog(p, host, n=3):
    p.write_text(
        "".join(
            f'{host} - u [10/Oct/2024:0{j}:00:00 +0000] "GET /r{j} HTTP/1.1" 200 {j}\n'
            for j in range(1, n + 1)
        )
    )


def _files_read(df, name):
    """Runs ``df`` to completion; the files its one micro-batch's text
    scan read (see conftest.files_read)."""
    from .conftest import files_read

    q = _run_stream(df, name)
    assert len([p for p in q.recentProgress if p["numInputRows"]]) == 1
    return files_read(q)


def test_stream_select_then_filter_prunes_files(spark, tmp_path):
    # a log_file predicate anywhere above the stream reaches Spark's file
    # index, not only a .filter() placed directly on it
    logdir = tmp_path / "logs"
    logdir.mkdir()
    for i in range(8):
        _mklog(logdir / f"server{i}.log", f"10.0.0.{i}")
    stream = read_httpd_log_stream(spark, str(logdir), format_type="common")
    out = stream.select("client_host", "log_file").filter(
        F.col("log_file").like("%server3.log"))
    assert _files_read(out, "prune_select") == 1
    rows = spark.sql("SELECT * FROM prune_select").collect()
    assert {r.client_host for r in rows} == {"10.0.0.3"} and len(rows) == 3


def test_stream_user_glob_and_log_file_filter_prune(spark, tmp_path):
    # a user pathGlobFilter and a log_file predicate both narrow the
    # files read: the glob drops serverC.txt, the predicate serverA.log
    logdir = tmp_path / "logs"
    logdir.mkdir()
    _mklog(logdir / "serverA.log", "1.1.1.1")
    _mklog(logdir / "serverB.log", "2.2.2.2")
    _mklog(logdir / "serverC.txt", "3.3.3.3")
    stream = read_httpd_log_stream(
        spark, str(logdir), format_type="common", pathGlobFilter="*.log"
    )
    out = stream.filter(F.col("log_file").like("%serverB%"))
    assert _files_read(out, "user_glob_prune") == 1
    rows = spark.sql("SELECT * FROM user_glob_prune").collect()
    assert {r.client_host for r in rows} == {"2.2.2.2"} and len(rows) == 3


def test_stream_listing_prune_skips_unopenable_file(spark, tmp_path):
    # serverB.log.gz is CORRUPT: any trigger that opens it fails, so a
    # completed query proves the pruned file was never opened
    logdir = tmp_path / "logs"
    logdir.mkdir()
    _mklog(logdir / "serverA.log", "1.1.1.1")
    (logdir / "serverB.log.gz").write_bytes(b"definitely not gzip data")

    stream = read_httpd_log_stream(spark, str(logdir), format_type="common")
    pruned = stream.filter(F.col("log_file").like("%serverA.log"))
    _run_stream(pruned, "prune_glob")
    out = spark.sql("SELECT * FROM prune_glob")
    assert out.count() == 3
    assert set(r.client_host for r in out.collect()) == {"1.1.1.1"}


def test_stream_prune_new_matching_files_still_flow(spark, tmp_path):
    # the prune is a per-trigger property: files arriving later that
    # match the glob are picked up; non-matching ones stay pruned
    logdir = tmp_path / "logs"
    logdir.mkdir()
    _mklog(logdir / "serverA.log", "1.1.1.1")
    _mklog(logdir / "serverC.log", "3.3.3.3")

    stream = read_httpd_log_stream(spark, str(logdir), format_type="common")
    pruned = stream.filter(
        F.col("log_file").isin(
            str(logdir / "serverA.log"), str(logdir / "serverA2.log")
        )
    )
    _run_stream(pruned, "prune_arrive")
    assert spark.sql("SELECT count(*) c FROM prune_arrive").first().c == 3

    _mklog(logdir / "serverA2.log", "2.2.2.2")  # in the IN-list
    _mklog(logdir / "serverD.log", "4.4.4.4")  # not
    _run_stream(pruned, "prune_arrive2")
    out = spark.sql("SELECT * FROM prune_arrive2")
    assert set(r.client_host for r in out.collect()) == {"1.1.1.1", "2.2.2.2"}


def test_stream_prune_value_parity_with_batch(spark, tmp_path):
    # a typed filter on the stream gives the batch rows of the same
    # predicate: a log_file one (pruned by the file index) and int ones
    # (raw-line needles below the parse, then the row filter)
    logdir = tmp_path / "logs"
    logdir.mkdir()
    for i, host in enumerate(["1.1.1.1", "2.2.2.2", "3.3.3.3"]):
        _mklog(logdir / f"server{i}.log", host)
    # (status, bytes) from (200, 100) and from (500, 900), four rows each
    for name, st, by in (("s0", 200, 100), ("s2", 500, 900)):
        (logdir / f"{name}.log").write_text("".join(
            f'10.0.0.1 - u [10/Oct/2024:01:00:0{j} +0000] '
            f'"GET /r{j} HTTP/1.1" {st + j} {by + j}\n'
            for j in range(4)
        ))
    preds = {
        "log_file": (F.col("log_file").endswith("1.log"), 3),
        "status_bytes": ((F.col("status") >= 500) & (F.col("bytes") < 903), 3),
        "status_in": (F.col("status").isin(200, 502), 11),
    }

    stream = read_httpd_log_stream(spark, str(logdir), format_type="common")
    batch = read_httpd_log(spark, str(logdir) + "/*.log", format_type="common")
    for name, (pred, n) in preds.items():
        _run_stream(stream.filter(pred), f"prune_parity_{name}")
        got = _rows(spark.sql(f"SELECT * FROM prune_parity_{name}"))
        assert got == _rows(batch.filter(pred)) and len(got) == n, name


def test_stream_glob_nesting_safe_with_subdirs(spark, tmp_path):
    # r13 ADVICE (medium): the file stream source lists files inside
    # key=value subdirectories of the watch dir even without
    # recursiveFileLookup, and pathGlobFilter matches only the LEAF
    # filename. Suffix globs stay sound there; contains-needles that
    # match SUBDIR text are no longer glob-translated (the old
    # '*needle*' leaf glob wrongly excluded such files every trigger).
    logdir = tmp_path / "logs"
    (logdir / "host=serverA").mkdir(parents=True)
    _mklog(logdir / "host=serverA" / "x.log", "1.1.1.1")
    _mklog(logdir / "y.log", "2.2.2.2")
    stream = read_httpd_log_stream(spark, str(logdir), format_type="common")
    _run_stream(stream, "nest_all")
    all_rows = spark.sql("SELECT * FROM nest_all").collect()

    pruned = stream.filter(F.col("log_file").endswith("x.log"))
    _run_stream(pruned, "nest_pruned")
    got = {r.client_host for r in spark.sql("SELECT * FROM nest_pruned").collect()}
    assert got == {r.client_host for r in all_rows if r.log_file.endswith("x.log")}

    contains = stream.filter(F.col("log_file").contains("serverA"))
    _run_stream(contains, "nest_contains")
    gotc = {
        r.client_host for r in spark.sql("SELECT * FROM nest_contains").collect()
    }
    assert gotc == {r.client_host for r in all_rows if "serverA" in r.log_file}


def test_stream_user_glob_composes_with_log_file_filter(spark, tmp_path):
    # a user-supplied pathGlobFilter is respected verbatim, and a
    # log_file filter on top of it still keeps only the matching rows
    logdir = tmp_path / "logs"
    logdir.mkdir()
    _mklog(logdir / "serverA.log", "1.1.1.1")
    _mklog(logdir / "serverB.log", "2.2.2.2")
    stream = read_httpd_log_stream(
        spark, str(logdir), format_type="common", pathGlobFilter="*.log"
    )
    out = stream.filter(F.col("log_file").like("%serverB%"))
    _run_stream(out, "user_glob")
    got = spark.sql("SELECT * FROM user_glob").collect()
    assert set(r.client_host for r in got) == {"2.2.2.2"}


def test_stream_glob_prune_remote_watch_dir(spark, tmp_path):
    # a scheme-qualified watch dir prunes too: the log_file predicate
    # reaches Spark's file index, and the corrupt gz proves the pruned
    # file was never opened on a viewfs:// watch (the same Hadoop FS
    # code path an s3a:// watch takes)
    logdir = tmp_path / "vlogs"
    logdir.mkdir()
    _mklog(logdir / "serverA.log", "1.1.1.1")
    (logdir / "serverB.log.gz").write_bytes(b"definitely not gzip data")
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    hconf.set("fs.viewfs.mounttable.vstream.link./logs", "file://" + str(logdir))
    stream = read_httpd_log_stream(
        spark, "viewfs://vstream/logs", format_type="common"
    )
    pruned = stream.filter(F.col("log_file").like("%serverA.log"))
    _run_stream(pruned, "vfs_prune")
    out = spark.sql("SELECT * FROM vfs_prune")
    assert out.count() == 3
    assert {r.client_host for r in out.collect()} == {"1.1.1.1"}
