"""The compiled parse program (sources/reader.py ``_program``).

The Catalyst expressions of a format's parse are built once per format
and mode per process, reused by later binds and by every pushdown
re-plan. Contracts pinned here:

1. KEY: formats that share a regex (and even column names and types)
   but differ in a modifier, a strftime layout or a directive never
   share a program.
2. ONCE: repeated binds and the README's dashboard filter shapes
   compile one program, and each pushdown still fires.
3. SHARING: plans that hold the same Column objects twice (self-join,
   union), raw and fast reads of one format, and a new session in the
   same JVM all return the right rows.
"""

import os
import subprocess
import sys
import textwrap
import time

import pytest
from pyspark.sql import functions as F

from duckdb_httpd_log_spark import read_httpd_log
from duckdb_httpd_log_spark.sources import reader
from duckdb_httpd_log_spark.sources.pushdown import LineFilterableFrame


def _write(tmp_path, name, lines):
    p = tmp_path / name
    p.write_text("".join(line + "\n" for line in lines))
    return str(p)


# --- 1. the key covers the whole format -----------------------------------------
def _read_back_to_back(spark, path, formats, row_value):
    return [
        (fmt, [row_value(r) for r in read_httpd_log(
            spark, path, format_str=fmt).orderBy("client_host").collect()])
        for fmt in formats
    ]


def test_duration_units_never_share_a_program(spark, tmp_path):
    path = _write(tmp_path, "dur.log", ["a 1500", "b 50"])
    got = _read_back_to_back(
        spark, path, ["%h %T", "%h %{ms}T", "%h %{us}T", "%h %T"],
        lambda r: r.duration.total_seconds())
    assert got == [
        ("%h %T", [1500.0, 50.0]),
        ("%h %{ms}T", [1.5, 0.05]),
        ("%h %{us}T", [0.0015, 0.00005]),
        ("%h %T", [1500.0, 50.0]),
    ]


def test_strftime_layouts_never_share_a_program(spark, tmp_path):
    path = _write(tmp_path, "ymd.log", ["a 2024-03-04"])
    got = _read_back_to_back(
        spark, path, ["%h %{%Y-%m-%d}t", "%h %{%Y-%d-%m}t"],
        lambda r: str(r.timestamp))
    assert got == [
        ("%h %{%Y-%m-%d}t", ["2024-03-04 00:00:00"]),
        ("%h %{%Y-%d-%m}t", ["2024-04-03 00:00:00"]),
    ]


def test_connection_status_remap_never_shared(spark, tmp_path):
    # same regex, column name and type: only %X remaps its values
    path = _write(tmp_path, "x.log", ["a +", "b X", "c -"])
    got = _read_back_to_back(
        spark, path, ["%h %X", "%h %{connection_status}e", "%h %X"],
        lambda r: r.connection_status)
    assert got == [
        ("%h %X", ["keepalive", "aborted", "close"]),
        ("%h %{connection_status}e", ["+", "X", None]),
        ("%h %X", ["keepalive", "aborted", "close"]),
    ]


# --- 2. one compile; pushdown still fires ---------------------------------------
@pytest.fixture()
def fleet(tmp_path):
    """Monthly rotated files (mtime just past their content); 5xx rows
    only in October."""
    d = tmp_path / "fleet"
    d.mkdir()
    months = {7: "Jul", 8: "Aug", 9: "Sep", 10: "Oct"}
    for month, mon in months.items():
        p = d / f"2024-{month:02d}.log"
        p.write_text("".join(
            f'10.0.{month}.{i} - u [{10 + i}/{mon}/2024:12:00:00 +0000] '
            f'"GET /m{month} HTTP/1.1" {503 if month == 10 else 200} {i} "-" "ua"\n'
            for i in range(3)
        ))
        mt = time.mktime((2024, month, 28, 0, 0, 0, 0, 0, 0))
        os.utime(p, (mt, mt))
    return str(d)


def test_program_compiles_once_and_pushdown_fires(spark, fleet, monkeypatch):
    calls = []
    real = reader._projection
    monkeypatch.setattr(reader, "_PROGRAMS", {})
    monkeypatch.setattr(
        reader, "_projection", lambda *a: calls.append(1) or real(*a))
    shapes = {  # the dashboard benchmark's filter shapes
        "needle": F.col("path") == "/m8",
        "day": F.to_date("timestamp") == "2024-09-11",
        "since": F.col("timestamp") >= "2024-10-01 00:00:00",
        "listing": F.col("log_file").like("%/2024-08.log"),
        "status5xx": F.col("status") >= 500,
    }
    for rep in range(2):
        for name, pred in shapes.items():
            df = read_httpd_log(spark, fleet + "/*.log", format_type="combined")
            assert len(df.inputFiles()) == 4
            out = df.filter(pred)
            plan = out._jdf.queryExecution().optimizedPlan().toString()
            # column stats prune on a file's second touch
            if not (rep == 0 and name == "status5xx"):
                assert "Contains(value" in plan or len(out.inputFiles()) < 4, name
            naive = super(LineFilterableFrame, df).filter(pred)
            assert out.count() == naive.count() > 0, name
    assert len(calls) == 1


# --- 3. shared Columns in one plan, across modes and sessions -------------------
def test_self_join_and_union_of_one_format(spark, fleet):
    a = read_httpd_log(spark, fleet + "/*.log", format_type="combined")
    b = read_httpd_log(spark, fleet + "/*.log", format_type="combined")
    assert a.unionByName(b).count() == 24
    assert a.join(b, "client_host").count() == 12
    assert a.alias("x").join(a.alias("y"), "path").count() == 4 * 9
    # a pushed re-plan shares the bind's text scan with its parent
    assert a.filter(F.col("path") == "/m8").join(a, "client_host").count() == 3


def test_raw_and_fast_reads_of_one_format(spark, tmp_path):
    path = _write(tmp_path, "mixed.log", [
        '1.1.1.1 - - [10/Oct/2024:13:55:36 +0000] "GET /a HTTP/1.1" 200 5',
        "not a log line",
        "",
        '2.2.2.2 - - [10/Oct/2024:13:55:37 +0000] "GET /b HTTP/1.1" 404 -',
    ])
    for _ in range(2):
        fast = read_httpd_log(spark, path, format_type="common")
        raw = read_httpd_log(spark, path, format_type="common", raw=True)
        assert fast.count() == 2
        assert [(r.line_number, r.parse_error) for r in raw.orderBy("line_number").collect()] == [
            (1, False), (2, True), (4, False)]
        assert raw.join(fast, ["client_host", "path"]).count() == 2


def test_program_survives_session_restart(tmp_path):
    """A new session in the same JVM reuses the cached program. Runs in
    a subprocess so stopping a session leaves the shared one alone."""
    path = _write(tmp_path, "s.log", [
        '1.1.1.1 - - [10/Oct/2024:13:55:36 +0000] "GET /a HTTP/1.1" 200 5',
        '2.2.2.2 - - [10/Oct/2024:13:55:37 +0000] "GET /b HTTP/1.1" 500 7',
    ])
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {repr(str(__file__).rsplit('/tests/', 1)[0])})
        from pyspark.sql import functions as F
        from duckdb_httpd_log_spark import get_spark, read_httpd_log
        from duckdb_httpd_log_spark.sources import reader
        counts = []
        for _ in range(2):
            spark = get_spark(master="local[1]", shuffle_partitions=1)
            df = read_httpd_log(spark, {path!r}, format_type="common")
            counts += [df.count(), df.filter(F.col("path") == "/b").count(),
                       df.unionByName(df).count(), len(reader._PROGRAMS)]
            spark.stop()
        assert counts == [2, 1, 4, 1] * 2, counts
        print("RESTART_OK")
    """)
    env = dict(os.environ, SPARK_DRIVER_MEMORY="1g")
    res = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True,
        timeout=600, env=env,
    )
    assert "RESTART_OK" in res.stdout, f"stdout={res.stdout[-2000:]}\nstderr={res.stderr[-4000:]}"


# --- 4. the cache itself ---------------------------------------------------------
FORMATS = ["%h %T", "%h %{ms}T", "%h %X", '%h "%r" %>s', "%h %b", "%h %{%Y-%m-%d}t"]


def test_cache_is_bounded_least_recently_used(spark, monkeypatch):
    from duckdb_httpd_log_spark.sources.logformat import parse_format_string as pf

    monkeypatch.setattr(reader, "_PROGRAMS", {})
    monkeypatch.setattr(reader, "_PROGRAMS_MAX", 2)
    a = reader._program(pf(FORMATS[0]), False)
    reader._program(pf(FORMATS[1]), False)
    assert reader._program(pf(FORMATS[0]), False) is a  # now most recent
    reader._program(pf(FORMATS[2]), False)  # evicts FORMATS[1]
    assert [k[0] for k in reader._PROGRAMS] == [
        repr(pf(FORMATS[0])), repr(pf(FORMATS[2]))]
    assert reader._program(pf(FORMATS[0]), True) is not a  # raw is its own entry


def test_concurrent_binds_compile_each_format_once(spark, monkeypatch):
    import threading

    from duckdb_httpd_log_spark.sources.logformat import parse_format_string as pf

    compiled = []
    real = reader._compile_program
    monkeypatch.setattr(reader, "_PROGRAMS", {})
    monkeypatch.setattr(
        reader, "_compile_program", lambda p, raw: compiled.append(p) or real(p, raw))
    got = {fmt: set() for fmt in FORMATS}

    def worker(k):
        for i in range(len(FORMATS)):
            fmt = FORMATS[(i + k) % len(FORMATS)]
            got[fmt].add(id(reader._program(pf(fmt), False)))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(k,)) for k in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert len(compiled) == len(FORMATS)
    assert all(len(ids) == 1 for ids in got.values())
