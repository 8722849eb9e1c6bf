"""Remote-filesystem bind path: `read_httpd_log('scheme://…')`.

The reference resolves globs, sampling, and compression sniffing through
DuckDB's FileSystem abstraction (glob expansion via the MultiFile layer,
`src/httpd_log_multi_file_info.cpp:90-109`; compression auto-detect in
the opener, `src/httpd_log_buffered_reader.cpp:6`), so any registered
filesystem works. Our equivalent routes scheme-qualified paths through
Hadoop's FileSystem via the JVM gateway (`sources/fs.py`). `file://` is
a registered Hadoop scheme, so it exercises the exact same code path an
`s3a://` or `hdfs://` URI takes — minus the network."""

import gzip
import os
import shutil

from pyspark.sql import functions as F

import pytest

from duckdb_httpd_log_spark import read_httpd_conf, read_httpd_log
from duckdb_httpd_log_spark.sources import fs as FS

from .conftest import data, files_read


def uri(*parts: str) -> str:
    return "file://" + data(*parts)


# ---------------------------------------------------------------------------
# scheme routing
# ---------------------------------------------------------------------------
def test_scheme_detection():
    assert FS.scheme_of("s3a://bucket/key.log") == "s3a"
    assert FS.scheme_of("hdfs://nn:8020/logs") == "hdfs"
    assert FS.scheme_of("file:///x/y.log") == "file"
    # Hadoop-canonical single-slash form
    assert FS.scheme_of("file:/x/y.log") == "file"
    assert FS.scheme_of("/var/log/access.log") is None
    assert FS.scheme_of("relative/path.log") is None
    # a Windows drive letter is not a scheme
    assert FS.scheme_of("C:/logs/x.log") is None


# ---------------------------------------------------------------------------
# expansion parity: local path vs file:// through Hadoop FS
# ---------------------------------------------------------------------------
def test_expand_single_file(spark):
    files = FS.expand_paths(uri("common", "sample.log"), spark)
    assert len(files) == 1
    assert files[0].endswith("common/sample.log")


def test_expand_glob_matches_local(spark):
    local = FS.expand_paths(data("common", "*.log"), spark)
    remote = FS.expand_paths(uri("common", "*.log"), spark)
    assert [os.path.basename(f) for f in remote] == [os.path.basename(f) for f in local]
    assert len(local) >= 2


def test_expand_directory_recurses(spark):
    local = FS.expand_paths(data("multi_file"), spark)
    remote = FS.expand_paths(uri("multi_file"), spark)
    assert [os.path.basename(f) for f in remote] == [os.path.basename(f) for f in local]


def test_expand_missing_path_empty(spark):
    assert FS.expand_paths(uri("no_such_dir", "*.log"), spark) == []


def test_expand_mixed_local_and_remote(spark):
    files = FS.expand_paths([data("common", "sample.log"), uri("combined", "combined.log")], spark)
    assert len(files) == 2


# ---------------------------------------------------------------------------
# bounded head reads (sampling / magic sniffing primitive)
# ---------------------------------------------------------------------------
def test_read_head_remote_bounded(spark):
    head = FS.read_head(spark, uri("common", "sample.log"), 10)
    with open(data("common", "sample.log"), "rb") as fh:
        assert head == fh.read(10)


def test_read_head_remote_past_eof(spark):
    head = FS.read_head(spark, uri("common", "sample.log"), 1 << 26)
    assert head == open(data("common", "sample.log"), "rb").read()


def test_read_all_remote(spark):
    assert FS.read_all(spark, uri("conf", "httpd.conf")) == open(
        data("conf", "httpd.conf"), "rb"
    ).read()


# ---------------------------------------------------------------------------
# read_httpd_log end-to-end over file:// (auto-detect samples remotely)
# ---------------------------------------------------------------------------
def test_read_remote_single_matches_local(spark):
    loc = read_httpd_log(spark, data("common", "sample.log"))
    rem = read_httpd_log(spark, uri("common", "sample.log"))
    assert sorted(map(tuple, loc.drop("log_file").collect())) == sorted(
        map(tuple, rem.drop("log_file").collect())
    )


def test_read_remote_glob_matches_local(spark):
    loc = read_httpd_log(spark, data("common", "*.log"))
    rem = read_httpd_log(spark, uri("common", "*.log"))
    assert sorted(map(tuple, loc.drop("log_file").collect())) == sorted(
        map(tuple, rem.drop("log_file").collect())
    )


def test_read_remote_raw_line_numbers(spark):
    loc = read_httpd_log(spark, data("common", "with_errors.log"), raw=True)
    rem = read_httpd_log(spark, uri("common", "with_errors.log"), raw=True)
    key = ["line_number", "parse_error", "raw_line"]
    assert sorted(map(tuple, loc.select(*key).collect())) == sorted(
        map(tuple, rem.select(*key).collect())
    )


def test_read_remote_gzip_extension(spark):
    loc = read_httpd_log(spark, data("compressed", "access.log.gz"))
    rem = read_httpd_log(spark, uri("compressed", "access.log.gz"))
    assert sorted(map(tuple, loc.drop("log_file").collect())) == sorted(
        map(tuple, rem.drop("log_file").collect())
    )


def test_read_remote_misnamed_gzip(spark, tmp_path):
    # gzip content behind a .log name: bind-time magic sniff must run
    # through the Hadoop FS head read, then route to the gunzip branch
    dst = tmp_path / "misnamed.log"
    shutil.copy(data("compressed", "access.log.gz"), dst)
    loc = read_httpd_log(spark, str(dst))
    rem = read_httpd_log(spark, "file://" + str(dst))
    assert loc.count() == rem.count() > 0


def test_remote_sampling_gzip_head(spark, tmp_path):
    # auto-detect over a remote gzip file exercises the bounded
    # head-read + partial-inflate sampling path
    lines = "\n".join(
        f'10.0.0.{i} - u [10/Oct/2000:13:55:3{i % 10} -0700] "GET /p{i} HTTP/1.0" 200 {i}'
        for i in range(50)
    )
    dst = tmp_path / "big.log.gz"
    with gzip.open(dst, "wt") as fh:
        fh.write(lines + "\n")
    df = read_httpd_log(spark, "file://" + str(dst))
    assert df.count() == 50
    assert "status" in df.columns  # auto-detected common, not raw fallback


def test_read_remote_conf_resolution(spark):
    df = read_httpd_log(
        spark, uri("common", "sample.log"), conf=uri("conf", "httpd.conf")
    )
    assert df.count() == 6


def test_read_httpd_conf_remote(spark):
    loc = read_httpd_conf(spark, data("conf", "httpd.conf"))
    rem = read_httpd_conf(spark, uri("conf", "httpd.conf"))
    assert loc.count() == rem.count() == 7
    # config_file column keeps the URI the caller handed us
    assert rem.select("config_file").first()[0].startswith("file:")


# ---------------------------------------------------------------------------
# hive partitioning (MultiFile-layer option parity,
# src/httpd_log_multi_file_info.cpp:232-233)
# ---------------------------------------------------------------------------
LINE = '192.168.1.1 - u [10/Oct/2000:13:55:36 -0700] "GET /x HTTP/1.0" 200 10'


def _mk_partitioned(tmp_path):
    for d, h, n in [("2024-01-01", "web1", 2), ("2024-01-01", "web2", 3), ("2024-01-02", "web1", 1)]:
        p = tmp_path / f"date={d}" / f"host={h}"
        p.mkdir(parents=True)
        (p / "access.log").write_text("\n".join([LINE] * n) + "\n")
    return str(tmp_path)


def test_hive_partitioning_columns(spark, tmp_path):
    base = _mk_partitioned(tmp_path)
    df = read_httpd_log(spark, base + "/*/*/*.log", hive_partitioning=True)
    assert df.columns[-2:] == ["date", "host"]
    agg = {(r["date"], r["host"]): r["n"] for r in df.groupBy("date", "host").count().withColumnRenamed("count", "n").collect()}
    assert agg == {("2024-01-01", "web1"): 2, ("2024-01-01", "web2"): 3, ("2024-01-02", "web1"): 1}


def test_hive_partitioning_filter(spark, tmp_path):
    base = _mk_partitioned(tmp_path)
    df = read_httpd_log(spark, base, hive_partitioning=True)
    assert df.filter("date = '2024-01-02'").count() == 1


def test_hive_partitioning_remote_uri(spark, tmp_path):
    base = _mk_partitioned(tmp_path)
    df = read_httpd_log(spark, "file://" + base, hive_partitioning=True)
    assert df.filter("host = 'web2'").count() == 3


def test_hive_partitioning_url_encoded_value(spark, tmp_path):
    p = tmp_path / "region=us%20west" / "host=a"
    p.mkdir(parents=True)
    (p / "x.log").write_text(LINE + "\n")
    df = read_httpd_log(spark, str(tmp_path), hive_partitioning=True)
    assert df.select("region").first()[0] == "us west"


def test_hive_partitioning_inconsistent_keys_raises(spark, tmp_path):
    (tmp_path / "date=1").mkdir()
    (tmp_path / "host=a").mkdir()
    (tmp_path / "date=1" / "x.log").write_text(LINE + "\n")
    (tmp_path / "host=a" / "y.log").write_text(LINE + "\n")
    with pytest.raises(ValueError, match="partition keys differ"):
        read_httpd_log(spark, str(tmp_path), hive_partitioning=True)


def test_hive_partitioning_no_keys_raises(spark):
    with pytest.raises(ValueError, match="no key=value"):
        read_httpd_log(spark, data("common", "sample.log"), hive_partitioning=True)


# ---------------------------------------------------------------------------
# executor-side reads (raw mode's Python line streamer) go through pyarrow.fs
# ---------------------------------------------------------------------------
def test_iter_log_lines_remote_parity():
    from duckdb_httpd_log_spark.sources.fs import iter_log_lines

    loc = list(iter_log_lines(data("common", "with_errors.log")))
    rem = list(iter_log_lines(uri("common", "with_errors.log")))
    assert loc == rem


def test_iter_log_lines_remote_gzip():
    from duckdb_httpd_log_spark.sources.fs import iter_log_lines

    loc = list(iter_log_lines(data("compressed", "access.log.gz")))
    rem = list(iter_log_lines(uri("compressed", "access.log.gz")))
    assert loc == rem and len(rem) > 0


def test_iter_log_lines_remote_truncated_gzip_raises(tmp_path):
    """Remote and local reads must agree on corrupt input: the streaming
    gz path raises like gzip.open/gzip.decompress instead of silently
    yielding the partial tail (r5 ADVICE)."""
    import pytest

    from duckdb_httpd_log_spark.sources.fs import iter_log_lines

    whole = open(data("compressed", "access.log.gz"), "rb").read()
    # .gz extension: pyarrow's transparent codec raises OSError itself
    trunc = tmp_path / "trunc.log.gz"
    trunc.write_bytes(whole[: len(whole) - 7])
    with pytest.raises((EOFError, OSError)):
        list(iter_log_lines(f"file://{trunc}"))
    # misnamed (no extension): the magic-sniffing gz_chunks path must
    # raise EOFError like the local gzip.open route, not yield a
    # silently truncated tail
    misnamed = tmp_path / "trunc.log"
    misnamed.write_bytes(whole[: len(whole) - 7])
    with pytest.raises(EOFError):
        list(iter_log_lines(f"file://{misnamed}"))
    with pytest.raises((EOFError, OSError)):
        list(iter_log_lines(str(trunc)))


def test_pa_scheme_translation():
    from duckdb_httpd_log_spark.sources.fs import _PA_SCHEME_MAP

    assert _PA_SCHEME_MAP["s3a"] == "s3"  # Hadoop scheme -> pyarrow scheme


def test_sessionless_pyarrow_expansion():
    """A Python worker has no JVM gateway: expansion must work through
    pyarrow.fs alone."""
    from duckdb_httpd_log_spark.sources.fs import _expand_remote_pyarrow

    got = _expand_remote_pyarrow(uri("common", "*.log"))
    import os as _os

    names = sorted(_os.path.basename(f) for f in got)
    assert "sample.log" in names and "with_errors.log" in names


def test_remote_sample_keeps_complete_last_line(spark, tmp_path):
    """A small remote file without a trailing newline must not lose its
    last (complete) line from the bind-time sample."""
    from duckdb_httpd_log_spark.sources.reader import read_sample_lines

    f = tmp_path / "no_trailing.log"
    f.write_text(LINE)  # single line, no trailing newline
    sample = read_sample_lines(["file://" + str(f)], spark=spark)
    assert sample == [LINE]


def test_hive_partitioning_literal_plus_preserved(spark, tmp_path):
    """'+' is a literal character in partition paths (Spark's
    unescapePathName never treats it as space)."""
    p = tmp_path / "tz=UTC+2"
    p.mkdir()
    (p / "x.log").write_text(LINE + "\n")
    df = read_httpd_log(spark, str(tmp_path), hive_partitioning=True)
    assert df.select("tz").first()[0] == "UTC+2"


def test_hive_partitioning_schema_collision_raises(spark, tmp_path):
    p = tmp_path / "status=archived"
    p.mkdir()
    (p / "x.log").write_text(LINE + "\n")
    with pytest.raises(ValueError, match="collides"):
        read_httpd_log(spark, str(tmp_path), hive_partitioning=True)


# ---------------------------------------------------------------------------
# recursive '**' glob parity across all three bind backends (the
# reference's glob surface recurses with '**' at any depth, including
# zero directories: test/sql/multi_file/glob_patterns.test:39-49,95-98;
# Hadoop's native globStatus treats '**' as one level, so the remote
# route must not silently diverge from the local one)
# ---------------------------------------------------------------------------
def _nested_tree(tmp_path):
    (tmp_path / "logs").mkdir()
    (tmp_path / "logs" / "top.log").write_text(LINE + "\n")
    (tmp_path / "logs" / "a").mkdir()
    (tmp_path / "logs" / "a" / "mid.log").write_text(LINE + "\n")
    (tmp_path / "logs" / "a" / "deep").mkdir()
    (tmp_path / "logs" / "a" / "deep" / "bottom.log").write_text(LINE + "\n")
    (tmp_path / "logs" / "a" / "skip.txt").write_text("x\n")
    return str(tmp_path / "logs")


def _names(paths):
    return sorted(p.rsplit("/", 1)[1] for p in paths)


def test_doublestar_parity_three_backends(spark, tmp_path):
    from duckdb_httpd_log_spark.sources.fs import _expand_remote_pyarrow

    root = _nested_tree(tmp_path)
    pattern = "/**/*.log"
    expect = ["bottom.log", "mid.log", "top.log"]  # '**' spans 0..n dirs
    assert _names(FS.expand_paths(root + pattern)) == expect
    assert _names(FS.expand_paths("file://" + root + pattern, spark)) == expect
    assert _names(_expand_remote_pyarrow("file://" + root + pattern)) == expect


def test_doublestar_fixture_corpus_matches_local(spark):
    """Same file set for tests/data/**/*.log whether bound scheme-less,
    via Hadoop file://, or via the session-less pyarrow fallback
    (mirrors the reference counting 53 distinct files over test/data)."""
    from duckdb_httpd_log_spark.sources.fs import _expand_remote_pyarrow, _uri_path

    root = data()
    local = FS.expand_paths(os.path.join(root, "**", "*.log"))
    remote = FS.expand_paths("file://" + root + "/**/*.log", spark)
    fallback = _expand_remote_pyarrow("file://" + root + "/**/*.log")
    assert len(local) > 0
    assert sorted(_uri_path(p) for p in remote) == local
    assert sorted(_uri_path(p) for p in fallback) == local


def test_single_star_does_not_cross_separators(spark, tmp_path):
    from duckdb_httpd_log_spark.sources.fs import _expand_remote_pyarrow

    root = _nested_tree(tmp_path)
    pattern = "/*.log"  # only the top level
    assert _names(FS.expand_paths(root + pattern)) == ["top.log"]
    assert _names(FS.expand_paths("file://" + root + pattern, spark)) == ["top.log"]
    assert _names(_expand_remote_pyarrow("file://" + root + pattern)) == ["top.log"]


def test_glob_regex_semantics():
    from duckdb_httpd_log_spark.sources.fs import _glob_to_regex

    rx = _glob_to_regex("/d/**/*.log")
    assert rx.match("/d/a.log") and rx.match("/d/x/y/a.log")
    assert not rx.match("/d/a.txt")
    rx = _glob_to_regex("/d/*.log")
    assert rx.match("/d/a.log") and not rx.match("/d/x/a.log")
    rx = _glob_to_regex("/d/server?.log")
    assert rx.match("/d/server1.log") and not rx.match("/d/server12.log")
    rx = _glob_to_regex("/d/{access,error}.log")
    assert rx.match("/d/access.log") and rx.match("/d/error.log")
    assert not rx.match("/d/other.log")
    rx = _glob_to_regex("/d/server[12].log")
    assert rx.match("/d/server1.log") and not rx.match("/d/server3.log")
    # descendant mode: files under a glob-matched directory match too
    rx = _glob_to_regex("/d/sub*", match_descendants=True)
    assert rx.match("/d/subdir/deep/file.log")


def test_uri_path_strips_scheme_and_authority():
    from duckdb_httpd_log_spark.sources.fs import _uri_path

    assert _uri_path("file:///a/b.log") == "/a/b.log"
    assert _uri_path("file:/a/b.log") == "/a/b.log"
    assert _uri_path("s3a://bucket/a/b.log") == "/a/b.log"
    assert _uri_path("hdfs://nn:8020/a/b.log") == "/a/b.log"
    # glob metacharacters survive (urlsplit would eat '?' as a query)
    assert _uri_path("file:///d/file?.log") == "/d/file?.log"


def test_pa_uri_preserves_hdfs_authority():
    from duckdb_httpd_log_spark.sources.fs import _pa_uri

    # host-addressed fs: authority re-attached around the absolute path
    assert _pa_uri("hdfs", "nn:8020", "/a/b.log") == "hdfs://nn:8020/a/b.log"
    # bucket-style fs: bucket already leads the fs path
    assert _pa_uri("s3a", "bucket", "bucket/a/b.log") == "s3a://bucket/a/b.log"
    # local fs: no authority
    assert _pa_uri("file", "", "/a/b.log") == "file:///a/b.log"


def test_remote_gzip_sample_drops_cut_line_when_raw_head_truncated(spark, tmp_path, monkeypatch):
    """Truncation must be judged on the RAW byte head, not the inflated
    bytes: a budget-limited read of a large .gz inflates to an arbitrary
    length, but its final sampled line is still cut mid-way and must not
    feed format detection."""
    from duckdb_httpd_log_spark.sources import reader as R

    lines = [
        f'10.0.0.{i} - u [10/Oct/2000:13:55:36 -0700] "GET /page{i} HTTP/1.0" 200 {i}'
        for i in range(60)
    ]
    dst = tmp_path / "big.log.gz"
    with gzip.open(dst, "wt") as fh:
        fh.write("\n".join(lines) + "\n")
    raw_size = os.path.getsize(dst)
    monkeypatch.setattr(R, "_REMOTE_SAMPLE_BYTES", raw_size // 2)
    sample = R._sample_lines_remote(spark, "file://" + str(dst), 1000)
    assert sample  # the head still yields whole lines
    # every sampled line is one of the complete source lines — the
    # mid-cut tail (whatever prefix the partial inflate stopped at) is
    # dropped rather than surfacing as a bogus truncated record
    assert all(s in set(lines) for s in sample)
    assert sample == lines[: len(sample)]


def test_read_remote_misnamed_gzip_raw_mode(spark, tmp_path):
    # r10 verdict stretch item 8: RAW mode on a content-sniffed
    # misnamed-gzip file through a scheme-qualified path — the Python
    # streamer fallback (fs.iter_log_lines) must route via
    # pyarrow.fs on executors, with per-file line numbers intact
    dst = tmp_path / "misnamed_raw.log"
    shutil.copy(data("compressed", "server1.log.gz"), dst)
    loc = read_httpd_log(spark, str(dst), raw=True)
    rem = read_httpd_log(spark, "file://" + str(dst), raw=True)
    lrows = loc.orderBy("line_number").drop("log_file").collect()
    rrows = rem.orderBy("line_number").drop("log_file").collect()
    assert list(map(tuple, lrows)) == list(map(tuple, rrows))
    assert [r.line_number for r in rrows] == [1, 2]
    assert not any(r.parse_error for r in rrows)

    # mixed remote glob: plain + misnamed gz, raw mode, both files
    (tmp_path / "plain2.log").write_bytes(
        gzip.decompress(dst.read_bytes())
    )
    mixed = read_httpd_log(spark, "file://" + str(tmp_path) + "/*", raw=True)
    assert mixed.count() == 4
    assert mixed.select("log_file").distinct().count() == 2


# ---------------------------------------------------------------------------
# Remote file skipping (r14, r13 verdict item 1): Spark's file index on
# a log_file predicate and the per-file range test (mtime, column stats)
# fire on scheme-qualified listings too. viewfs:// is a real non-file
# Hadoop scheme backed by a mount table over local disk — the same
# FileSystem/Path/getFileStatus code path an s3a:// or hdfs:// URI
# takes, minus the network — and _metadata.file_path round-trips
# viewfs URIs verbatim, so these tests exercise the exact machinery a
# remote fleet uses.
# ---------------------------------------------------------------------------
import itertools as _it

_mount_seq = _it.count()


def _viewfs_mount(spark, local_dir: str) -> str:
    """Mount ``local_dir`` at a fresh viewfs authority (FileSystem
    instances are cached per (scheme, authority), so each mount gets
    its own table name) and return the viewfs:// base URI."""
    name = f"graft{next(_mount_seq)}"
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    hconf.set(f"fs.viewfs.mounttable.{name}.link./logs", "file://" + local_dir)
    return f"viewfs://{name}/logs"


def _write_status_fleet(d):
    # disjoint status ranges per file (colstats shape) with 2024 dates
    specs = [
        ("s0.log", 200, "10/Oct/2024"),
        ("s1.log", 301, "11/Oct/2024"),
        ("s2.log", 500, "12/Oct/2024"),
    ]
    for name, st, day in specs:
        (d / name).write_text(
            "".join(
                f'10.0.0.1 - u [{day}:01:00:0{j} +0000] '
                f'"GET /r{j} HTTP/1.1" {st + j} {100 + j}\n'
                for j in range(4)
            )
        )


def test_file_sigs_viewfs_matches_local(spark, tmp_path):
    from duckdb_httpd_log_spark.sources.fs import file_sigs

    d = tmp_path / "sigs"
    d.mkdir()
    _write_status_fleet(d)
    base = _viewfs_mount(spark, str(d))
    remote = [f"{base}/s{i}.log" for i in range(3)]
    sigs = file_sigs(spark, remote)
    assert all(s is not None for s in sigs)
    for f, (mt_ms, ln) in zip(remote, sigs):
        st = os.stat(str(d / f.rsplit("/", 1)[1]))
        assert ln == st.st_size
        assert abs(mt_ms / 1000.0 - st.st_mtime) < 2.0
    # missing file -> None entry, others still answered
    sigs2 = file_sigs(spark, remote + [f"{base}/nope.log"])
    assert sigs2[:3] == sigs and sigs2[3] is None


def test_viewfs_predicate_listing_prune_value_identity(spark, tmp_path):
    from duckdb_httpd_log_spark.sources.pushdown import LineFilterableFrame

    d = tmp_path / "pred"
    d.mkdir()
    _write_status_fleet(d)
    base = _viewfs_mount(spark, str(d))
    df = read_httpd_log(spark, f"{base}/*.log", format_type="common")
    pred = F.col("log_file").endswith("s1.log")
    pushed = df.filter(pred)
    naive = super(LineFilterableFrame, df).filter(pred)
    assert files_read(pushed) == 1  # Spark's file index keeps s1 only
    assert sorted(map(str, pushed.collect())) == sorted(map(str, naive.collect()))
    assert pushed.count() == 4


def test_viewfs_mtime_file_prune_value_identity(spark, tmp_path):
    import time as _time

    from duckdb_httpd_log_spark.sources.pushdown import LineFilterableFrame

    d = tmp_path / "mt"
    d.mkdir()
    # old file: 2019 lines, 2019 mtime (inside the mtime contract);
    # fresh file: 2024 lines, current mtime
    (d / "old.log").write_text(
        '1.1.1.1 - u [10/Oct/2019:01:00:00 +0000] "GET /o HTTP/1.1" 200 1\n'
    )
    m = _time.mktime((2019, 10, 11, 0, 0, 0, 0, 0, 0))
    os.utime(d / "old.log", (m, m))
    (d / "new.log").write_text(
        '2.2.2.2 - u [10/Oct/2024:01:00:00 +0000] "GET /n HTTP/1.1" 200 2\n'
    )
    base = _viewfs_mount(spark, str(d))
    df = read_httpd_log(spark, f"{base}/*.log", format_type="common")
    pred = F.col("timestamp") >= "2024-01-01"
    pushed = df.filter(pred)
    naive = super(LineFilterableFrame, df).filter(pred)
    assert len(pushed.inputFiles()) == 1  # old.log mtime-pruned
    assert sorted(map(str, pushed.collect())) == sorted(map(str, naive.collect()))
    assert [r.client_host for r in pushed.collect()] == ["2.2.2.2"]


def test_viewfs_since_filter_stats_by_parent_listing(spark, tmp_path, monkeypatch):
    # a "since" filter stats the remote listing through ONE listStatus
    # per parent directory and no per-file getFileStatus
    import time as _time

    from duckdb_httpd_log_spark.sources import fs
    from duckdb_httpd_log_spark.sources.pushdown import LineFilterableFrame

    d = tmp_path / "since"
    d.mkdir()
    (d / "old.log").write_text(
        '1.1.1.1 - u [10/Oct/2019:01:00:00 +0000] "GET /o HTTP/1.1" 200 1\n'
    )
    m = _time.mktime((2019, 10, 11, 0, 0, 0, 0, 0, 0))
    os.utime(d / "old.log", (m, m))
    for name in ("a.log", "b.log"):
        (d / name).write_text(
            '2.2.2.2 - u [10/Oct/2024:01:00:00 +0000] "GET /n HTTP/1.1" 200 2\n'
        )
    base = _viewfs_mount(spark, str(d))
    df = read_httpd_log(spark, f"{base}/*.log", format_type="common")

    calls = {"listStatus": 0, "getFileStatus": 0}
    real_fs_for = fs._fs_for

    class Counting:
        def __init__(self, hfs):
            self._hfs = hfs

        def __getattr__(self, name):
            if name in calls:
                calls[name] += 1
            return getattr(self._hfs, name)

    def fs_for(spark_, path):
        jvm, hfs, jpath = real_fs_for(spark_, path)
        return jvm, Counting(hfs), jpath

    monkeypatch.setattr(fs, "_fs_for", fs_for)
    pred = F.col("timestamp") >= "2024-01-01"
    pushed = df.filter(pred)
    assert calls == {"listStatus": 1, "getFileStatus": 0}
    monkeypatch.undo()
    naive = super(LineFilterableFrame, df).filter(pred)
    assert len(pushed.inputFiles()) == 2  # old.log mtime-pruned
    assert sorted(map(str, pushed.collect())) == sorted(map(str, naive.collect()))


def test_viewfs_colstats_prune_value_identity(spark, tmp_path):
    from duckdb_httpd_log_spark.sources.pushdown import LineFilterableFrame

    d = tmp_path / "cs"
    d.mkdir()
    _write_status_fleet(d)
    base = _viewfs_mount(spark, str(d))
    spark.conf.set("spark.graft.pushdown.colStats", "eager")
    try:
        df = read_httpd_log(spark, f"{base}/*.log", format_type="common")
        pred = F.col("status") >= 500
        pushed = df.filter(pred)
        naive = super(LineFilterableFrame, df).filter(pred)
        # stats gathered through Hadoop listStatus sigs; s0/s1 pruned
        assert len(pushed.inputFiles()) == 1
        assert sorted(map(str, pushed.collect())) == sorted(
            map(str, naive.collect())
        )
        assert pushed.count() == 4
    finally:
        spark.conf.unset("spark.graft.pushdown.colStats")
