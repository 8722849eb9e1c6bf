"""How a fast-path read builds its scan plan (sources/reader.py,
sources/pushdown.py ``LineFilterableFrame``).

1. LAZY: a bind builds no Spark plan; the all-files parse plan is built
   on first use of the frame, and a pushed-down filter builds only its
   re-planned scan. Filters resolve against a schema-only stand-in whose
   columns match the built frame's.
2. ROUND TRIPS: a bind, each dashboard filter shape and a raw-mode
   bind stay within a py4j round-trip budget, so a per-column
   conversion or a per-call capture creeping back in fails here.
3. GUARD: lines carrying the \\x01/\\x02 control characters the parse
   uses as separator and sentinel give the same rows and parse_error
   values in fast and raw mode as before the split moved under the
   materialization barrier.
"""

import threading

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from duckdb_httpd_log_spark import read_httpd_log
from duckdb_httpd_log_spark.sources import reader

from .conftest import dashboard_shapes


def _write(tmp_path, name, lines):
    p = tmp_path / name
    p.write_text("".join(line + "\n" for line in lines))
    return str(p)


@pytest.fixture()
def builds(monkeypatch):
    """Counts of text scans and parse plans built."""
    got = {"scans": 0, "parses": 0}
    real_scan, real_parse = reader._fast_lines_df, reader._apply_program

    def scan(*a, **k):
        got["scans"] += 1
        return real_scan(*a, **k)

    def parse(*a, **k):
        got["parses"] += 1
        return real_parse(*a, **k)

    monkeypatch.setattr(reader, "_fast_lines_df", scan)
    monkeypatch.setattr(reader, "_apply_program", parse)
    return got


# --- 1. lazy base plan ------------------------------------------------------------
def test_bind_builds_no_plan(spark, fleet, builds):
    df = read_httpd_log(spark, fleet + "/*.log", format_type="combined")
    assert builds == {"scans": 0, "parses": 0}
    assert df._lf_jdf is None and df._lf_stand_in is None
    assert df.count() == 12  # first use builds the all-files plan once
    assert df.columns[-1] == "log_file"
    assert builds == {"scans": 1, "parses": 1}


@pytest.mark.parametrize("shape", ["needle", "listing"])
def test_pushed_filter_builds_one_parse_plan(spark, fleet, builds, shape):
    df = read_httpd_log(spark, fleet + "/*.log", format_type="combined")
    out = df.filter(dashboard_shapes()[shape])
    assert builds == {"scans": 1, "parses": 1}
    if shape == "needle":
        assert df._lf_jdf is None  # the all-files plan was never needed
    assert out.count() == 3
    assert builds == {"scans": 1, "parses": 1}


def test_unpushed_filter_builds_the_base_plan(spark, fleet, builds):
    df = read_httpd_log(spark, fleet + "/*.log", format_type="combined")
    out = df.filter(F.col("bytes") > 0)  # no needle, no prune
    assert builds == {"scans": 1, "parses": 1}
    assert df._lf_jdf is not None
    assert out.count() == 8


@pytest.mark.parametrize(
    "fmt,line",
    [
        ("common", '1.1.1.1 - u [10/Oct/2024:13:55:36 +0000] "GET /a?q=1 HTTP/1.1" 200 5'),
        ("combined", '1.1.1.1 - u [10/Oct/2024:13:55:36 +0000] "GET /a HTTP/1.1" 200 5 "-" "ua"'),
        (
            '%h [%{%d/%b/%Y:%H:%M:%S}t.%{msec_frac}t %{%z}t] "%r" %>s %b %D',
            '1.1.1.1 [10/Oct/2024:13:55:36.250 +0000] "GET /a HTTP/1.1" 200 5 1200',
        ),
    ],
)
@pytest.mark.parametrize("hive", [False, True])
def test_stand_in_schema_matches_built_frame(spark, tmp_path, fmt, line, hive):
    d = tmp_path / "region=eu" / "day=2024-10-10"
    d.mkdir(parents=True)
    path = _write(d, "a.log", [line])
    kw = {"format_type": fmt} if fmt in ("common", "combined") else {"format_str": fmt}
    df = read_httpd_log(spark, path, hive_partitioning=hive, **kw)
    assert df.filter(F.lit(True)).count() == 1  # builds the stand-in, then the frame
    assert df._lf_stand_in is not None and df._lf_jdf is not None
    want = [(f.name, f.dataType) for f in df.schema]
    assert [(f.name, f.dataType) for f in df._lf_stand_in.schema] == want
    assert want[-1][0] == ("day" if hive else "log_file")


@pytest.mark.parametrize("as_sql", [False, True])
def test_unresolvable_filter_raises_the_usual_error(spark, fleet, as_sql):
    df = read_httpd_log(spark, fleet + "/*.log", format_type="combined")
    with pytest.raises(AnalysisException) as err:
        df.filter("nope = 1" if as_sql else F.col("nope") == 1)
    assert err.value.getCondition() == "UNRESOLVED_COLUMN.WITH_SUGGESTION"


def test_column_handle_of_the_frame_still_pushes(spark, fleet):
    # df["path"] is resolved against the built plan, not the stand-in
    df = read_httpd_log(spark, fleet + "/*.log", format_type="combined")
    out = df.filter(df["path"] == "/m8")
    assert "Contains(value" in out._jdf.queryExecution().optimizedPlan().toString()
    assert out.count() == 3


def test_unbuilt_frame_works_everywhere(spark, fleet):
    def bind():
        df = read_httpd_log(spark, fleet + "/*.log", format_type="combined")
        assert df._lf_jdf is None
        return df

    assert bind().schema["status"].dataType.simpleString() == "int"
    assert bind().columns[:2] == ["client_host", "ident"]
    assert bind().count() == 12
    assert bind().unionByName(bind()).count() == 24
    a = bind()
    assert a.alias("x").join(a.alias("y"), "client_host").count() == 12


# --- 2. py4j round-trip budget ------------------------------------------------------
# py4j calls measured per call on the fleet after warm-up (``plan``:
# building a bind's all-files parse plan; ``raw``: a raw-mode bind,
# which builds its numbered parse plan eagerly); each may grow by at
# most a quarter. A filter walks the analyzed condition once (one
# classification of its top-level conjuncts feeds the per-file range
# test and the needles); the rest resolve the predicate and build the
# re-planned scan (``listing``: the all-files plan, which Spark's file
# index prunes).
MEASURED = {"bind": 0, "plan": 16, "needle": 78, "day": 75, "since": 66, "listing": 46,
            "status5xx": 67, "raw": 13}


def test_py4j_round_trips_per_bind_and_filter(spark, fleet, monkeypatch):
    client = spark.sparkContext._gateway._gateway_client
    real, me, n = client.send_command, threading.get_ident(), [0]

    def counting(*a, **k):
        if threading.get_ident() == me:  # not py4j's finalizer thread
            n[0] += 1
        return real(*a, **k)

    def calls(fn):
        monkeypatch.setattr(client, "send_command", counting)
        n[0] = 0
        try:
            out = fn()
        finally:
            monkeypatch.undo()
        return out, n[0]

    path = fleet + "/*.log"
    shapes = dashboard_shapes()
    # warm-up: compiles the program; column stats are gathered on a
    # file's second touch
    for _ in range(2):
        for pred in shapes.values():
            read_httpd_log(spark, path, format_type="combined").filter(pred).count()
        read_httpd_log(spark, path, format_type="combined", raw=True)
    df, got = calls(lambda: read_httpd_log(spark, path, format_type="combined"))
    counts = {"bind": got}
    _raw, counts["raw"] = calls(
        lambda: read_httpd_log(spark, path, format_type="combined", raw=True))
    _jdf, counts["plan"] = calls(lambda: df._jdf)  # the all-files parse plan
    for name, pred in shapes.items():
        df = read_httpd_log(spark, path, format_type="combined")
        out, counts[name] = calls(lambda: df.filter(pred))
        assert out.count() > 0, name
    assert all(counts[k] <= 1.25 * MEASURED[k] for k in MEASURED), counts


# --- 3. guard parity on control characters ------------------------------------------
CTL_LINES = [
    '1.1.1.1 - u [10/Oct/2024:13:55:36 +0000] "GET /a HTTP/1.1" 200 5',
    # matches, but a captured field carries the separator
    '2.2.2.2 - u\x01x [10/Oct/2024:13:55:37 +0000] "GET /b HTTP/1.1" 201 6',
    # no match, starts with the sentinel
    "\x02not a log line",
    # no match, sentinel plus exactly the group count of parts: the
    # guard accepts it (as it always has), every cell from its parts
    "\x02a\x01b\x01c\x01d\x01e\x01f\x01g",
    # one part too many
    "\x02a\x01b\x01c\x01d\x01e\x01f\x01g\x01h",
    # the group count of parts, no sentinel
    "a\x01b\x01c\x01d\x01e\x01f\x01g",
]
GOOD = ("1.1.1.1", None, "u", "2024-10-10 13:55:36", "GET", "/a", None, "HTTP/1.1", 200, 5)
FORGED = ("a", "b", "c", None, "", "", None, "", None, None)
BLANK = ("", "", "", None, "", "", None, "", None, None)


def _cells(r) -> tuple:
    v = list(r[:10])
    v[3] = None if v[3] is None else str(v[3])
    return tuple(v)


def test_guard_on_control_characters(spark, tmp_path):
    path = _write(tmp_path, "ctl.log", CTL_LINES)
    fast = read_httpd_log(spark, path, format_type="common")
    assert sorted(_cells(r) for r in fast.collect()) == [GOOD, FORGED]
    raw = read_httpd_log(spark, path, format_type="common", raw=True)
    got = [(r.line_number, r.parse_error, _cells(r), r.raw_line)
           for r in raw.orderBy("line_number").collect()]
    assert got == [
        (1, False, GOOD, CTL_LINES[0]),
        (2, True, BLANK, CTL_LINES[1]),
        (3, True, BLANK, CTL_LINES[2]),
        (4, False, FORGED, CTL_LINES[3]),
        (5, True, BLANK, CTL_LINES[4]),
        (6, True, BLANK, CTL_LINES[5]),
    ]
