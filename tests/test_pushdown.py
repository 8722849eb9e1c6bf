"""Automatic raw-line Contains pushdown (sources/pushdown.py).

Three contracts:
1. PLAN: a typed filter on the scan result puts a Contains(value, ...)
   filter BELOW the parse regex — non-matching lines never reach it.
2. VALUES: the pushed plan is row-identical to parse-everything-then-
   filter, including the byte-scan's false positives being removed
   (a needle that happens to appear in a different field).
3. SOUNDNESS EDGES: zero-padded integer tokens still match (digit
   needle), bytes == 0 is NOT pushed (the "-" -> 0 rule has no "0" in
   the raw line), and non-derivable predicates fall back unchanged.
"""

import os
import re

import pytest
from pyspark.sql import functions as F

from duckdb_httpd_log_spark import read_httpd_log
from duckdb_httpd_log_spark.sources import pushdown, reader
from duckdb_httpd_log_spark.sources.pushdown import LineFilterableFrame

from .conftest import files_read


LINES = [
    # status 500
    '1.2.3.4 - alice [10/Oct/2024:13:55:36 +0000] "GET /api/x HTTP/1.1" 500 123 "-" "curl/8"',
    # benign 200, but its BYTE COUNT is 500 (false positive for the "500" needle)
    '9.9.9.9 - eve [10/Oct/2024:13:55:38 +0000] "POST /api/z HTTP/1.1" 404 500 "-" "curl/8"',
    # zero-padded status token: casts to 500, must contain needle "500"
    '2.2.2.2 - pad [10/Oct/2024:13:55:39 +0000] "GET /pad HTTP/1.1" 0500 7 "-" "ua"',
    # "-" byte count -> bytes = 0 with NO "0" anywhere else on the line
    '3.3.3.3 - x [11/Nov/2125:13:55:41 +1111] "PUT /b/c HTTP/1.1" 211 - "-" "ua"',
    # ordinary row
    '5.6.7.8 - bob [10/Oct/2024:13:55:37 +0000] "GET /web/y HTTP/1.1" 200 456 "-" "Mozilla"',
]


@pytest.fixture(scope="module")
def log_path(tmp_path_factory):
    p = tmp_path_factory.mktemp("pushdown") / "access.log"
    p.write_text("\n".join(LINES) + "\n")
    return str(p)


def _scan(spark, log_path):
    return read_httpd_log(spark, log_path, format_type="combined")


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _contains_below_regex(plan: str) -> bool:
    """The Contains filter must appear AFTER (deeper than) the regexp
    projection in the plan's top-down print — i.e. the regex only sees
    pre-filtered lines."""
    lines = plan.splitlines()
    regex_at = min(i for i, l in enumerate(lines) if "regexp_replace(value" in l)
    cont_at = [i for i, l in enumerate(lines) if "Contains(value" in l]
    return bool(cont_at) and all(i >= regex_at for i in cont_at)


def test_wrapper_type_and_plan(spark, log_path):
    df = _scan(spark, log_path)
    assert isinstance(df, LineFilterableFrame)
    pushed = df.filter(F.col("status") == 500)
    assert _contains_below_regex(_optimized(pushed))


def test_false_positive_rows_removed(spark, log_path):
    # bytes=500 row contains the "500" needle but must NOT survive the
    # typed predicate
    df = _scan(spark, log_path)
    got = sorted(r.client_host for r in df.filter(F.col("status") == 500).collect())
    assert got == ["1.2.3.4", "2.2.2.2"]  # incl. the zero-padded token


def test_matches_unpushed_reference(spark, log_path):
    df = _scan(spark, log_path)
    preds = [
        F.col("status") == 500,
        (F.col("method") == "POST") | (F.col("client_host") == "5.6.7.8"),
        F.col("path").like("/api/%"),
        F.col("status").isin(200, 404),
        F.col("user_agent").contains("curl"),
        F.col("bytes") == 500,
    ]
    for p in preds:
        pushed = df.filter(p)
        naive = super(LineFilterableFrame, df).filter(p)
        assert sorted(map(str, pushed.collect())) == sorted(map(str, naive.collect())), str(p)


def test_bytes_zero_not_pushed(spark, log_path):
    # "-" parses to bytes=0; the raw line has no "0" — pushing a "0"
    # needle would silently drop the row, so the deriver must skip it
    df = _scan(spark, log_path)
    out = df.filter(F.col("bytes") == 0)
    assert "Contains(value" not in _optimized(out)
    assert [r.client_host for r in out.collect()] == ["3.3.3.3"]


def test_non_derivable_falls_back(spark, log_path):
    df = _scan(spark, log_path)
    out = df.filter(F.col("bytes") > 100)
    assert "Contains(value" not in _optimized(out)
    assert out.count() == 3


def test_future_dated_lines_outside_mtime_contract(spark, log_path):
    # The mtime bound assumes %t <= file mtime (+margin) — true for any
    # real logger writing request-arrival time. The year-2125 fixture
    # row VIOLATES that assumption (a future-dated line in a
    # just-written file), so the pushed plan excludes it by design;
    # spark.graft.pushdown.mtimeBound=false is the documented escape
    # hatch and must recover the exact unpushed semantics.
    df = _scan(spark, log_path)
    pred = F.col("timestamp") >= F.lit("2025-01-01").cast("timestamp")
    pushed = df.filter(pred)
    assert "Contains(value" in _optimized(pushed)  # year needles pushed
    spark.conf.set("spark.graft.pushdown.mtimeBound", "false")
    try:
        out = _scan(spark, log_path).filter(pred)
        assert "Contains(value" not in _optimized(out)
        assert out.count() == 1  # only the year-2125 row
    finally:
        spark.conf.unset("spark.graft.pushdown.mtimeBound")


def test_explicit_line_filter_composes(spark, log_path):
    df = read_httpd_log(spark, log_path, format_type="combined", line_filter="curl")
    out = df.filter(F.col("status") == 500)
    plan = _optimized(out)
    assert "Contains(value" in plan  # both the explicit and derived needles
    assert [r.client_host for r in out.collect()] == ["1.2.3.4"]


def test_derived_transformations_unaffected(spark, log_path):
    # anything after a non-filter transformation is a plain DataFrame
    df = _scan(spark, log_path)
    sel = df.select("status", "bytes")
    assert not isinstance(sel, LineFilterableFrame)
    assert sel.filter(F.col("status") == 500).count() == 2


def test_randomized_pushed_equals_naive_sweep(spark, tmp_path):
    """Seeded random logs x random predicates: the pushed plan must be
    row-identical to parse-then-filter for every derivable predicate
    shape, including needles that collide across fields."""
    import random

    rng = random.Random(77)
    p = tmp_path / "rand.log"
    methods = ["GET", "POST", "PUT"]
    with open(p, "w") as fh:
        for i in range(3000):
            # bytes values deliberately collide with status codes
            fh.write(
                f"10.{rng.randrange(4)}.0.{rng.randrange(9)} - u{rng.randrange(7)} "
                f"[10/Oct/2024:13:{i % 60:02d}:{rng.randrange(60):02d} +0000] "
                f'"{rng.choice(methods)} /p/{rng.randrange(20)} HTTP/1.1" '
                f"{rng.choice([200, 304, 404, 500])} {rng.choice([0, 200, 404, 500, 1234])} "
                f'"-" "ua/{rng.randrange(3)}"\n'
            )
    df = read_httpd_log(spark, str(p), format_type="combined")
    preds = [
        F.col("status") == 404,
        F.col("bytes") == 404,
        F.col("client_host") == "10.1.0.3",
        (F.col("method") == "PUT") | (F.col("status") == 304),
        (F.col("method") == "GET") & F.col("path").like("/p/1%"),
        F.col("path").isin("/p/3", "/p/13"),
        F.col("user_agent").endswith("/2"),
    ]
    for pred in preds:
        pushed = sorted(map(str, df.filter(pred).collect()))
        naive = sorted(
            map(str, super(LineFilterableFrame, df).filter(pred).collect())
        )
        assert pushed == naive and len(pushed) > 0, str(pred)


def test_hive_partitioning_composes_with_pushdown(spark, tmp_path):
    """A conjunction of a hive-partition predicate (pruned to a
    file-path test by Catalyst) and a derivable typed predicate: the
    derivable conjunct still pushes a Contains needle, the hive
    conjunct still prunes, and the rows are exact."""
    for dt, status in (("2024-01-01", 500), ("2024-01-02", 200)):
        d = tmp_path / f"dt={dt}"
        d.mkdir()
        with open(d / "a.log", "w") as fh:
            for i in range(50):
                fh.write(
                    f'1.2.3.{i % 5} - u [10/Oct/2024:13:55:{i % 60:02d} +0000] '
                    f'"GET /x HTTP/1.1" {status} {i} "-" "ua"\n'
                )
    df = read_httpd_log(
        spark, str(tmp_path / "dt=*/*.log"), format_type="combined",
        hive_partitioning=True,
    )
    out = df.filter((F.col("dt") == "2024-01-01") & (F.col("status") == 500))
    plan = _optimized(out)
    assert "Contains(value" in plan  # the status conjunct pushed
    assert files_read(out) == 1  # Spark's file index skips the other dt
    assert out.count() == 50
    # hive key alone: no needle, but the LISTING prunes to one file
    out2 = df.filter(F.col("dt") == "2024-01-02")
    assert "Contains(value" not in _optimized(out2)
    assert files_read(out2) == 1
    assert out2.count() == 50
    naive2 = super(LineFilterableFrame, df).filter(F.col("dt") == "2024-01-02")
    assert sorted(map(str, out2.collect())) == sorted(map(str, naive2.collect()))
    # hive key with %XX-escaped value still prunes identically
    out3 = df.filter(F.col("dt").isin("2024-01-01", "2099-01-01"))
    assert files_read(out3) == 1
    assert out3.count() == 50


def test_like_escape_char_honored(spark, tmp_path):
    """r9 ADVICE: LIKE ... ESCAPE '!' — the deriver must read the
    node's escapeChar; assuming backslash would misparse '/api!%x'
    into the wrong needle '/api!' and silently drop the matching row."""
    p = tmp_path / "esc.log"
    p.write_text(
        '1.1.1.1 - u [10/Oct/2024:13:55:36 +0000] "GET /api%x HTTP/1.1" 200 5 "-" "ua"\n'
        '2.2.2.2 - u [10/Oct/2024:13:55:37 +0000] "GET /apiZx HTTP/1.1" 200 5 "-" "ua"\n'
        '3.3.3.3 - u [10/Oct/2024:13:55:38 +0000] "GET /other HTTP/1.1" 200 5 "-" "ua"\n'
    )
    df = read_httpd_log(spark, str(p), format_type="combined")
    pred = F.expr("path LIKE '/api!%x' ESCAPE '!'")  # literal "/api%x"
    out = df.filter(pred)
    naive = super(LineFilterableFrame, df).filter(pred)
    assert [r.client_host for r in out.collect()] == ["1.1.1.1"]
    assert sorted(map(str, out.collect())) == sorted(map(str, naive.collect()))
    # if the needle pushed, it must be the UNESCAPED literal
    cont = [l for l in _optimized(out).splitlines() if "Contains(value" in l]
    for line in cont:
        assert "/api%x" in line, line


# --- date/day needles (r9 verdict item 1) -----------------------------------


def _day_contains_below_regex(plan: str, frag: str) -> bool:
    """ci day needles fold into one case-insensitive RLIKE alternation;
    it must sit at-or-below the parse regex like plain needles."""
    lines = plan.splitlines()
    regex_at = min(i for i, l in enumerate(lines) if "regexp_replace(value" in l)
    hits = [i for i, l in enumerate(lines) if "RLIKE" in l and frag in l]
    return bool(hits) and all(i >= regex_at for i in hits)


@pytest.fixture(scope="module")
def multiday_path(tmp_path_factory):
    """Oct 08-14 2024, 6 rows/day, mixed offsets; plus adversarial rows:
    a MiXeD-case month (parses -- Spark MMM is case-insensitive) and a
    -0700 line whose UTC date rolls forward a day."""
    p = tmp_path_factory.mktemp("pushdate") / "multi.log"
    lines = []
    for day in range(8, 15):
        for h in range(0, 24, 4):
            lines.append(
                f'10.0.{day}.{h} - u [{day:02d}/Oct/2024:{h:02d}:15:00 +0000] '
                f'"GET /d/{day} HTTP/1.1" 200 {day * 100 + h} "-" "ua"'
            )
    lines.append(
        '7.7.7.7 - mixed [10/oCt/2024:05:00:00 +0000] "GET /mixed HTTP/1.1" 200 1 "-" "ua"'
    )
    lines.append(
        '8.8.8.8 - roll [09/Oct/2024:23:00:00 -0700] "GET /roll HTTP/1.1" 200 1 "-" "ua"'
    )
    p.write_text("\n".join(lines) + "\n")
    return str(p)


def _pushed_vs_naive(spark, path, pred):
    df = read_httpd_log(spark, path, format_type="combined")
    pushed = sorted(map(str, df.filter(pred).collect()))
    naive = sorted(map(str, super(LineFilterableFrame, df).filter(pred).collect()))
    assert pushed == naive, str(pred)
    return df.filter(pred), len(pushed)


def test_date_equality_pushes_and_matches(spark, multiday_path):
    out, n = _pushed_vs_naive(
        spark, multiday_path, F.to_date("timestamp") == "2024-10-10"
    )
    # 6 plain rows + the mixed-case month + the -0700 day-rollover row
    assert n == 8
    assert _day_contains_below_regex(_optimized(out), "/oct/2024")


def test_timestamp_between_pushes_and_matches(spark, multiday_path):
    out, n = _pushed_vs_naive(
        spark,
        multiday_path,
        F.col("timestamp").between("2024-10-09 00:00:00", "2024-10-10 23:59:59"),
    )
    # 12 plain rows + the rollover row (UTC Oct 10 06:00) + the
    # mixed-case-month row (UTC Oct 10 05:00)
    assert n == 14
    assert _day_contains_below_regex(_optimized(out), "/oct/2024")


def test_to_date_in_pushes_and_matches(spark, multiday_path):
    pred = F.to_date("timestamp").isin("2024-10-08", "2024-10-12")
    out, n = _pushed_vs_naive(spark, multiday_path, pred)
    assert n == 12
    assert _day_contains_below_regex(_optimized(out), "/oct/2024")


def test_date_conjunction_with_verbatim(spark, multiday_path):
    pred = (F.to_date("timestamp") == "2024-10-11") & (F.col("client_host") == "10.0.11.8")
    out, n = _pushed_vs_naive(spark, multiday_path, pred)
    assert n == 1
    plan = _optimized(out)
    assert _day_contains_below_regex(plan, "/oct/2024")
    assert "Contains(value" in plan  # the verbatim conjunct pushed too


def test_one_sided_range_pushes_year_needles_from_mtime(spark, multiday_path):
    # r10 verdict item 1: `ts >= lo` (the "since X" filter) closes its
    # open end from the listing's max mtime. The fixture file's mtime
    # is "now" (test run time), so the range is too wide for day
    # needles and degrades to a /yyyy: year group — still pushed below
    # the regex, still value-identical.
    out, n = _pushed_vs_naive(
        spark, multiday_path, F.col("timestamp") >= "2024-10-13 00:00:00"
    )
    assert n == 12
    plan = _optimized(out)
    assert "/oct/" not in plan  # too wide for day needles
    assert re.search(r"Contains\(value#\d+, /2024:\)", plan)
    assert _contains_below_regex(plan)


def test_one_sided_range_pushes_day_needles_when_mtime_close(spark, multiday_path, tmp_path):
    # when the file's mtime is close to the range start, the closed
    # interval is narrow enough for full DAY needles
    import shutil
    import time as _time

    p = tmp_path / "recent.log"
    shutil.copy(multiday_path, p)
    mt = _time.mktime((2024, 10, 15, 12, 0, 0, 0, 0, 0))
    os.utime(p, (mt, mt))
    out, n = _pushed_vs_naive(
        spark, str(p), F.col("timestamp") >= "2024-10-13 00:00:00"
    )
    assert n == 12
    plan = _optimized(out)
    assert _day_contains_below_regex(plan, "/oct/2024")


def test_one_sided_range_mtime_bound_conf_disables(spark, multiday_path):
    spark.conf.set("spark.graft.pushdown.mtimeBound", "false")
    try:
        df = read_httpd_log(spark, multiday_path, format_type="combined")
        out = df.filter(F.col("timestamp") >= "2024-10-13 00:00:00")
        plan = _optimized(out)
        assert "Contains(value" not in plan and "/2024:" not in plan
        assert out.count() == 12
    finally:
        spark.conf.unset("spark.graft.pushdown.mtimeBound")


def test_open_below_range_not_pushed(spark, multiday_path):
    # `ts <= hi` has no sound lower bound (an old line can live in a
    # recently-modified file) — must fall back unchanged
    df = read_httpd_log(spark, multiday_path, format_type="combined")
    out = df.filter(F.col("timestamp") <= "2024-10-10 23:59:59")
    plan = _optimized(out)
    assert "Contains(value" not in plan and "/2024:" not in plan
    assert out.count() == 20


def test_wide_range_degrades_to_year_needles(spark, multiday_path):
    # > _MAX_DAY_NEEDLES days: no day tokens, but the bounded range
    # still pushes its /yyyy: year group
    out, n = _pushed_vs_naive(
        spark,
        multiday_path,
        F.col("timestamp").between("2024-01-01 00:00:00", "2024-12-31 00:00:00"),
    )
    assert n == 44
    plan = _optimized(out)
    assert "/oct/" not in plan
    assert re.search(r"Contains\(value#\d+, /2024:\)", plan)
    assert _contains_below_regex(plan)


def test_date_pushdown_non_utc_session_tz(spark, multiday_path):
    """date semantics follow the session zone; margin widens to 2 days
    and the pushed rows must stay identical to the naive plan."""
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        _pushed_vs_naive(
            spark, multiday_path, F.to_date("timestamp") == "2024-10-10"
        )
        _pushed_vs_naive(
            spark,
            multiday_path,
            F.col("timestamp").between("2024-10-09 12:00:00", "2024-10-10 12:00:00"),
        )
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)


def test_date_or_status_pushes_merged_groups(spark, multiday_path):
    pred = (F.to_date("timestamp") == "2024-10-14") | (F.col("client_host") == "7.7.7.7")
    out, n = _pushed_vs_naive(spark, multiday_path, pred)
    assert n == 7  # 6 day-14 rows + the mixed-case row
    assert _day_contains_below_regex(_optimized(out), "/oct/2024")


def test_year_equality_pushes_and_matches(spark, log_path):
    """year(ts) == Y maps to plain /yyyy: needles (digits only — no
    case issue) with ±1-year margin; the 2125 fixture row must drop
    before the regex while 2024 rows survive."""
    df = _scan(spark, log_path)
    pred = F.year("timestamp") == 2024
    out = df.filter(pred)
    naive = super(LineFilterableFrame, df).filter(pred)
    assert sorted(map(str, out.collect())) == sorted(map(str, naive.collect()))
    assert out.count() == 4  # the 11/Nov/2125 row is gone
    plan = _optimized(out)
    cont = [l for l in plan.splitlines() if "Contains(value" in l]
    assert cont and any("/2024:" in l for l in cont)


def test_year_range_and_conjunction(spark, multiday_path):
    pred = (F.year("timestamp") >= 2024) & (F.year("timestamp") <= 2024) & (
        F.col("client_host") == "7.7.7.7"
    )
    out, n = _pushed_vs_naive(spark, multiday_path, pred)
    assert n == 1
    plan = _optimized(out)
    assert "/2024:" in plan and "Contains(value" in plan


def test_year_wide_range_not_pushed(spark, log_path):
    df = _scan(spark, log_path)
    out = df.filter((F.year("timestamp") >= 2000) & (F.year("timestamp") <= 2200))
    # a 201-year range is over the 4-year cap of the year renderer
    assert "Contains(value" not in _optimized(out)
    assert out.count() == 5  # all rows, incl. 2125


# --- strftime-%Y year needles (r11) ------------------------------------------
@pytest.fixture(scope="module")
def strftime_path(tmp_path_factory):
    p = tmp_path_factory.mktemp("pushsfy") / "app.log"
    lines = []
    for yr in (2022, 2023, 2024):
        for d in (5, 15, 25):
            lines.append(f"10.0.{yr % 100}.{d} {yr}-03-{d:02d} 10:00:00 200")
    p.write_text("\n".join(lines) + "\n")
    return str(p)


_SFMT = "%h %{%Y-%m-%d %H:%M:%S}t %>s"


def _pushed_vs_naive_fmt(spark, path, fmt, pred):
    df = read_httpd_log(spark, path, format_str=fmt)
    pushed = sorted(map(str, df.filter(pred).collect()))
    naive = sorted(map(str, super(LineFilterableFrame, df).filter(pred).collect()))
    assert pushed == naive, str(pred)
    return df.filter(pred), len(pushed)


def test_strftime_year_equality_pushes_bare_digits(spark, strftime_path):
    out, n = _pushed_vs_naive_fmt(
        spark, strftime_path, _SFMT, F.year("timestamp") == 2023
    )
    assert n == 3
    plan = _optimized(out)
    # bare digits, NOT the /yyyy: Apache form
    assert re.search(r"Contains\(value#\d+, 2023\)", plan)
    assert "/2023:" not in plan
    assert _contains_below_regex(plan)


def test_strftime_bounded_range_pushes_year_needles(spark, strftime_path):
    out, n = _pushed_vs_naive_fmt(
        spark,
        strftime_path,
        _SFMT,
        F.col("timestamp").between("2024-01-01 00:00:00", "2024-12-31 23:59:59"),
    )
    assert n == 3
    plan = _optimized(out)
    assert re.search(r"Contains\(value#\d+, 2024\)", plan)


def test_strftime_one_sided_closes_from_mtime(spark, strftime_path, tmp_path):
    import shutil
    import time as _time

    p = tmp_path / "recent_sf.log"
    shutil.copy(strftime_path, p)
    mt = _time.mktime((2024, 6, 1, 0, 0, 0, 0, 0, 0))
    os.utime(p, (mt, mt))
    out, n = _pushed_vs_naive_fmt(
        spark, str(p), _SFMT, F.col("timestamp") >= "2023-06-01 00:00:00"
    )
    assert n == 3  # only the 2024-03 rows
    plan = _optimized(out)
    assert re.search(r"Contains\(value#\d+, 2023\)", plan)
    assert _contains_below_regex(plan)


def test_strftime_to_date_in_pushes_date_union(spark, strftime_path):
    # r12: a %Y-%m-%d layout pushes FULL-DATE needles for an IN list
    # (previously degraded to bare-year digits)
    pred = F.to_date("timestamp").isin("2022-03-15", "2024-03-05")
    out, n = _pushed_vs_naive_fmt(spark, strftime_path, _SFMT, pred)
    assert n == 2
    plan = _optimized(out)
    assert re.search(r"Contains\(value#\d+, 2022-03-15", plan)
    assert re.search(r"Contains\(value#\d+, 2024-03-05", plan)
    assert not re.search(r"Contains\(value#\d+, 2022\)", plan)


# --- full-date strftime needles (r12) -----------------------------------------
def test_strftime_date_equality_pushes_full_date(spark, strftime_path):
    out, n = _pushed_vs_naive_fmt(
        spark, strftime_path, _SFMT, F.to_date("timestamp") == "2023-03-15"
    )
    assert n == 1
    plan = _optimized(out)
    # zero-padded full-date needles over the ±margin window, below regex
    assert re.search(r"Contains\(value#\d+, 2023-03-15", plan)
    assert re.search(r"Contains\(value#\d+, 2023-03-14", plan)
    assert _contains_below_regex(plan)


def test_strftime_narrow_range_pushes_full_dates(spark, strftime_path):
    out, n = _pushed_vs_naive_fmt(
        spark,
        strftime_path,
        _SFMT,
        F.col("timestamp").between("2024-03-04 00:00:00", "2024-03-06 23:59:59"),
    )
    assert n == 1
    plan = _optimized(out)
    assert re.search(r"Contains\(value#\d+, 2024-03-05", plan)
    # the wide-range bare-year form must NOT be the needle here
    assert not re.search(r"Contains\(value#\d+, 2024\)", plan)


def test_strftime_dmy_month_name_layout_pushes_ci_dates(spark, tmp_path):
    # %d/%b/%Y renders the month NAME — Spark's MMM parse is
    # case-insensitive, so the full-date needles must be a ci group
    fmt = "%h %{%d/%b/%Y %H:%M:%S}t %>s"
    p = tmp_path / "dmy.log"
    p.write_text(
        "1.1.1.1 05/Mar/2024 10:00:00 200\n"
        "1.1.1.2 15/mar/2024 11:00:00 404\n"  # lower-case month still parses
        "1.1.1.3 25/Oct/2024 12:00:00 200\n"
    )
    out, n = _pushed_vs_naive_fmt(
        spark, str(p), fmt, F.to_date("timestamp") == "2024-03-15"
    )
    assert n == 1
    plan = _optimized(out)
    # ci needles fold into one (?i) RLike alternation (see cnf_predicate)
    assert "15/mar/2024" in plan and "(?i)" in plan


def test_strftime_time_only_layout_not_date_pushed(spark, tmp_path):
    # a format whose date tokens are NOT contiguous with each other
    # (month in a separate run) must not derive full-date needles
    fmt = "%h %{%d x%Hx %m %Y}t %>s"
    p = tmp_path / "split.log"
    p.write_text("1.1.1.1 05 x10x 03 2024 200\n1.1.1.2 15 x11x 03 2023 404\n")
    df = read_httpd_log(spark, str(p), format_str=fmt)
    pred = F.to_date("timestamp") == "2024-03-05"
    out = df.filter(pred)
    plan = _optimized(out)
    assert not re.search(r"Contains\(value#\d+, [^)]*2024-03", plan)
    naive = super(LineFilterableFrame, df).filter(pred)
    assert sorted(map(str, out.collect())) == sorted(map(str, naive.collect()))


def test_two_digit_year_strftime_not_pushed(spark, tmp_path):
    # %y renders 2 digits — no sound 4-digit needle exists
    fmt = "%h %{%y-%m-%d %H:%M:%S}t %>s"
    p = tmp_path / "y2.log"
    p.write_text("1.1.1.1 23-03-05 10:00:00 200\n1.1.1.2 24-03-05 10:00:00 404\n")
    df = read_httpd_log(spark, str(p), format_str=fmt)
    out = df.filter(F.year("timestamp") == 2023)
    assert "Contains(value" not in _optimized(out)
    assert out.count() == 1


# --- epoch-%t digit-prefix needles (r11) --------------------------------------
@pytest.fixture(scope="module")
def epoch_path(tmp_path_factory):
    # epoch seconds across ~40 days of Oct-Nov 2024 (1727740800 = 2024-10-01)
    p = tmp_path_factory.mktemp("pushepoch") / "epoch.log"
    base = 1727740800
    lines = []
    for d in range(40):
        for h in (0, 8, 16):
            lines.append(f"10.0.{d % 256}.{h} {base + d * 86400 + h * 3600} 200")
    p.write_text("\n".join(lines) + "\n")
    return str(p)


_EFMT = "%h %{sec}t %>s"


@pytest.fixture()
def epoch_push(monkeypatch):
    # r12: epoch needle derivation is gated on parse cost (the r11 A/B
    # showed cheap formats lose); drop the gate so these tests exercise
    # the derivation itself
    monkeypatch.setattr(pushdown, "EPOCH_MIN_FIELDS", 0)


def test_epoch_cheap_format_gated_off_by_default(spark, epoch_path):
    # 3 capture groups < default EPOCH_MIN_FIELDS=6: the byte scan would
    # cost more than the short regex it skips — derivation must bail
    df = read_httpd_log(spark, epoch_path, format_str=_EFMT)
    pred = F.col("timestamp").between("2024-10-10 00:00:00", "2024-10-10 23:59:59")
    out = df.filter(pred)
    assert "Contains(value" not in _optimized(out)
    naive = super(LineFilterableFrame, df).filter(pred)
    assert sorted(map(str, out.collect())) == sorted(map(str, naive.collect()))


def test_epoch_expensive_format_passes_gate_by_default(spark, tmp_path):
    # a 6-field format clears the default gate with no conf set
    fmt = '%h %l %u %{sec}t "%r" %>s'
    p = tmp_path / "rich_epoch.log"
    base = 1727740800
    p.write_text(
        "".join(
            f'1.1.1.{d} - u {base + d * 86400} "GET /x HTTP/1.1" 200\n'
            for d in range(5)
        )
    )
    df = read_httpd_log(spark, str(p), format_str=fmt)
    pred = F.to_date("timestamp") == "2024-10-03"
    out = df.filter(pred)
    plan = _optimized(out)
    assert re.search(r"Contains\(value#\d+, \d+\)", plan)
    naive = super(LineFilterableFrame, df).filter(pred)
    assert sorted(map(str, out.collect())) == sorted(map(str, naive.collect()))


def test_epoch_day_range_pushes_prefix_cover(spark, epoch_path, epoch_push):
    # one UTC day = 86400s: the cover is a handful of epoch prefixes
    out, n = _pushed_vs_naive_fmt(
        spark,
        epoch_path,
        _EFMT,
        F.col("timestamp").between("2024-10-10 00:00:00", "2024-10-10 23:59:59"),
    )
    assert n == 3
    plan = _optimized(out)
    assert re.search(r"Contains\(value#\d+, 17285\d*\)", plan)
    assert _contains_below_regex(plan)


def test_epoch_date_equality_pushes(spark, epoch_path, epoch_push):
    out, n = _pushed_vs_naive_fmt(
        spark, epoch_path, _EFMT, F.to_date("timestamp") == "2024-10-20"
    )
    assert n == 3
    assert re.search(r"Contains\(value#\d+, \d+\)", _optimized(out))


def test_epoch_one_sided_closes_from_mtime(spark, epoch_path, tmp_path, epoch_push):
    import shutil
    import time as _time

    p = tmp_path / "recent_epoch.log"
    shutil.copy(epoch_path, p)
    mt = 1727740800 + 41 * 86400  # just past the data's last day
    os.utime(p, (mt, mt))
    out, n = _pushed_vs_naive_fmt(
        spark, str(p), _EFMT, F.col("timestamp") >= "2024-11-05 00:00:00"
    )
    assert n == 15  # Nov 05..09 inclusive, 3 rows/day
    plan = _optimized(out)
    assert re.search(r"Contains\(value#\d+, \d+\)", plan)
    assert _contains_below_regex(plan)


def test_epoch_in_list_pushes_union(spark, epoch_path, epoch_push):
    pred = F.to_date("timestamp").isin("2024-10-05", "2024-11-01")
    out, n = _pushed_vs_naive_fmt(spark, epoch_path, _EFMT, pred)
    assert n == 6
    assert re.search(r"Contains\(value#\d+, \d+\)", _optimized(out))


def test_epoch_msec_variant_pushes(spark, tmp_path, epoch_push):
    p = tmp_path / "ms.log"
    base = 1727740800
    p.write_text(
        "".join(
            f"1.1.1.{i} {(base + i * 86400) * 1000} 200\n" for i in range(5)
        )
    )
    out, n = _pushed_vs_naive_fmt(
        spark, str(p), "%h %{msec}t %>s",
        F.to_date("timestamp") == "2024-10-03",
    )
    assert n == 1
    assert re.search(r"Contains\(value#\d+, \d+\)", _optimized(out))


def test_epoch_digit_boundary_bails(spark, tmp_path, epoch_push):
    # a range straddling the 999999999 -> 1000000000 digit-count
    # boundary has no fixed-length prefix cover — must fall back
    p = tmp_path / "bd.log"
    p.write_text("1.1.1.1 999999000 200\n1.1.1.2 1000000500 404\n")
    df = read_httpd_log(spark, str(p), format_str=_EFMT)
    pred = F.col("timestamp").between("2001-09-08 00:00:00", "2001-09-10 00:00:00")
    out = df.filter(pred)
    assert "Contains(value" not in _optimized(out)
    naive = super(LineFilterableFrame, df).filter(pred)
    assert sorted(map(str, out.collect())) == sorted(map(str, naive.collect()))


def test_randomized_time_pushdown_equals_naive_sweep(spark, tmp_path, epoch_push):
    """Seeded random time predicates x all three timestamp layouts
    (Apache %t, strftime %Y, epoch sec): the pushed plan must be
    row-identical to parse-then-filter for every derivable-or-not
    shape — equality, bounded ranges (narrow AND wide), one-sided
    ranges under a pinned mtime, year comparisons, IN lists."""
    import random
    import time as _time

    rng = random.Random(1111)
    eb = 1727740800  # 2024-10-01 UTC
    corpora = {}

    ap = tmp_path / "rand_apache.log"
    ap.write_text("".join(
        f'10.0.{d}.{h} - u [{d:02d}/Oct/2024:{h:02d}:00:00 +0000] '
        f'"GET /r/{d} HTTP/1.1" 200 {d * 10 + h}\n'
        for d in range(1, 29) for h in (0, 12)
    ))
    corpora["apache"] = (str(ap), None)  # format_type common default

    sf = tmp_path / "rand_strftime.log"
    sf.write_text("".join(
        f"10.1.{d}.{h} 2024-10-{d:02d} {h:02d}:00:00 200\n"
        for d in range(1, 29) for h in (0, 12)
    ))
    corpora["strftime"] = (str(sf), "%h %{%Y-%m-%d %H:%M:%S}t %>s")

    ep = tmp_path / "rand_epoch.log"
    ep.write_text("".join(
        f"10.2.{d}.{h} {eb + (d - 1) * 86400 + h * 3600} 200\n"
        for d in range(1, 29) for h in (0, 12)
    ))
    corpora["epoch"] = (str(ep), "%h %{sec}t %>s")

    # pin every corpus file's mtime just past the data so one-sided
    # ranges close deterministically
    mt = _time.mktime((2024, 10, 29, 12, 0, 0, 0, 0, 0))
    for path, _f in corpora.values():
        os.utime(path, (mt, mt))

    def rand_day():
        return f"2024-10-{rng.randrange(1, 29):02d}"

    for name, (path, fmt) in corpora.items():
        df = (
            read_httpd_log(spark, path, format_str=fmt)
            if fmt
            else read_httpd_log(spark, path, format_type="common")
        )
        preds = []
        for _ in range(8):
            kind = rng.randrange(6)
            if kind == 0:
                preds.append(F.to_date("timestamp") == rand_day())
            elif kind == 1:
                a, b = sorted((rand_day(), rand_day()))
                preds.append(F.col("timestamp").between(f"{a} 00:00:00", f"{b} 23:59:59"))
            elif kind == 2:
                preds.append(F.col("timestamp") >= f"{rand_day()} {rng.randrange(24):02d}:00:00")
            elif kind == 3:
                preds.append(F.col("timestamp") <= f"{rand_day()} 23:59:59")
            elif kind == 4:
                preds.append(F.year("timestamp") == rng.choice([2023, 2024, 2025]))
            else:
                preds.append(F.to_date("timestamp").isin(rand_day(), rand_day()))
        for pred in preds:
            pushed = sorted(map(str, df.filter(pred).collect()))
            naive = sorted(
                map(str, super(LineFilterableFrame, df).filter(pred).collect())
            )
            assert pushed == naive, (name, str(pred))


def test_pushed_plan_pinned_to_bind_time_listing(spark, tmp_path):
    # review fix: the pushed plan (_rebuild) must scan the BIND-TIME
    # file list, exactly like the naive plan it is value-identical to —
    # a re-expanded glob would see files created since the read, and
    # the stale-list mtime bound would then drop their newest rows
    import shutil
    import time as _time

    d = tmp_path / "rotate"
    d.mkdir()
    old_mt = _time.mktime((2024, 10, 16, 0, 0, 0, 0, 0, 0))
    (d / "monday.log").write_text(
        '1.1.1.1 - u [15/Oct/2024:10:00:00 +0000] "GET /a HTTP/1.1" 200 1 "-" "ua"\n'
    )
    os.utime(d / "monday.log", (old_mt, old_mt))
    df = read_httpd_log(spark, str(d) + "/*.log", format_type="combined")
    assert df.count() == 1  # bound-time listing sees only monday

    new_mt = _time.mktime((2024, 10, 23, 0, 0, 0, 0, 0, 0))
    (d / "tuesday.log").write_text(
        '2.2.2.2 - u [22/Oct/2024:10:00:00 +0000] "GET /b HTTP/1.1" 200 1 "-" "ua"\n'
    )
    os.utime(d / "tuesday.log", (new_mt, new_mt))

    pred = F.col("timestamp") >= "2024-10-14 00:00:00"
    pushed = df.filter(pred)
    naive = super(LineFilterableFrame, df).filter(pred)
    got = sorted(r.client_host for r in pushed.collect())
    want = sorted(r.client_host for r in naive.collect())
    # point-in-time semantics: tuesday.log (created after the read) is
    # invisible to BOTH plans; a fresh read sees both files
    assert got == want == ["1.1.1.1"]
    fresh = read_httpd_log(spark, str(d) + "/*.log", format_type="combined")
    assert sorted(
        r.client_host for r in fresh.filter(pred).collect()
    ) == ["1.1.1.1", "2.2.2.2"]


# --- log_file listing pruning (r12) -------------------------------------------
@pytest.fixture(scope="module")
def fleet_dir(tmp_path_factory):
    """16 per-server log files: log_file predicates should prune the
    LISTING, skipping whole files — the strongest possible pushdown."""
    d = tmp_path_factory.mktemp("fleet")
    for i in range(16):
        (d / f"server{i:02d}.log").write_text(
            "".join(
                f'10.0.{i}.{j} - u [10/Oct/2024:0{j}:00:00 +0000] '
                f'"GET /s{i}/r{j} HTTP/1.1" {200 if j % 2 else 500} {i * 100 + j} '
                f'"-" "ua"\n'
                for j in range(1, 4)
            )
        )
    return str(d)


def _fleet(spark, fleet_dir):
    return read_httpd_log(spark, fleet_dir + "/*.log", format_type="combined")


def test_log_file_like_prunes_listing(spark, fleet_dir):
    df = _fleet(spark, fleet_dir)
    assert len(df.inputFiles()) == 16
    pred = F.col("log_file").like("%server03%")
    pruned = df.filter(pred)
    naive = super(LineFilterableFrame, df).filter(pred)
    assert files_read(pruned) == 1  # whole files skipped
    assert sorted(map(str, pruned.collect())) == sorted(map(str, naive.collect()))
    assert pruned.count() == 3


def test_log_file_equality_and_in_prune(spark, fleet_dir):
    df = _fleet(spark, fleet_dir)
    one = os.path.join(fleet_dir, "server07.log")
    for pred, want in [
        (F.col("log_file") == one, 1),
        (F.col("log_file").isin(one, os.path.join(fleet_dir, "server11.log")), 2),
        (F.col("log_file").endswith("5.log"), 2),  # 05 and 15
        (F.col("log_file").rlike("server(00|01|02)"), 3),
    ]:
        pruned = df.filter(pred)
        naive = super(LineFilterableFrame, df).filter(pred)
        assert files_read(pruned) == want, str(pred)
        assert sorted(map(str, pruned.collect())) == sorted(map(str, naive.collect()))


def test_log_file_prune_composes_with_needles(spark, fleet_dir):
    # log_file conjunct prunes the listing AND the status conjunct
    # pushes a Contains needle below the regex — both re-plans at once
    df = _fleet(spark, fleet_dir)
    pred = F.col("log_file").like("%server0%") & (F.col("status") == 500)
    pruned = df.filter(pred)
    assert files_read(pruned) == 10  # server00..09
    plan = _optimized(pruned)
    assert re.search(r"Contains\(value#\d+, 500\)", plan)
    assert _contains_below_regex(plan)
    naive = super(LineFilterableFrame, df).filter(pred)
    assert sorted(map(str, pruned.collect())) == sorted(map(str, naive.collect()))


def test_log_file_prune_to_empty_set(spark, fleet_dir):
    df = _fleet(spark, fleet_dir)
    pred = F.col("log_file").like("%nonexistent%")
    pruned = df.filter(pred)
    assert pruned.count() == 0
    assert files_read(pruned) == 0  # the file index keeps no file


def test_log_file_disjunction_with_row_predicate_not_pruned(spark, fleet_dir):
    # log_file OR status: files failing the LIKE can still contribute
    # rows through the status branch — pruning would be UNSOUND
    df = _fleet(spark, fleet_dir)
    pred = F.col("log_file").like("%server03%") | (F.col("status") == 500)
    out = df.filter(pred)
    assert files_read(out) == 16
    naive = super(LineFilterableFrame, df).filter(pred)
    assert sorted(map(str, out.collect())) == sorted(map(str, naive.collect()))


def test_log_file_prune_pinned_to_bind_time_listing(spark, tmp_path):
    # point-in-time semantics: the pruned re-plan must not see files
    # created after the original read
    import time as _time

    d = tmp_path / "pinfleet"
    d.mkdir()
    (d / "a.log").write_text(
        '1.1.1.1 - u [10/Oct/2024:10:00:00 +0000] "GET /a HTTP/1.1" 200 1 "-" "ua"\n'
    )
    (d / "c.log").write_text(
        '3.3.3.3 - u [10/Oct/2024:12:00:00 +0000] "GET /c HTTP/1.1" 200 1 "-" "ua"\n'
    )
    df = read_httpd_log(spark, str(d) + "/*.log", format_type="combined")
    (d / "b.log").write_text(
        '2.2.2.2 - u [10/Oct/2024:11:00:00 +0000] "GET /b HTTP/1.1" 200 1 "-" "ua"\n'
    )
    # matches a.log AND the post-read b.log; prunes c.log, so the
    # re-plan genuinely fires — and must still not see b.log
    pred = F.col("log_file").rlike("(a|b)\\.log$")
    pruned = df.filter(pred)
    naive = super(LineFilterableFrame, df).filter(pred)
    assert files_read(pruned) == 1
    got = sorted(r.client_host for r in pruned.collect())
    assert got == sorted(r.client_host for r in naive.collect()) == ["1.1.1.1"]
    fresh = read_httpd_log(spark, str(d) + "/*.log", format_type="combined")
    assert sorted(
        r.client_host for r in fresh.filter(pred).collect()
    ) == ["1.1.1.1", "2.2.2.2"]


# --- file-level mtime pruning (r12) -------------------------------------------
@pytest.fixture()
def rotated_dir(tmp_path):
    """Rotated logs: per-month files whose mtimes sit just past their
    content (the mtime contract every real logger satisfies)."""
    import time as _time

    d = tmp_path / "rotated"
    d.mkdir()
    for month in (7, 8, 9, 10):
        p = d / f"2024-{month:02d}.log"
        p.write_text(
            "".join(
                f'10.0.{month}.{i} - u [{10 + i}/{["Jul","Aug","Sep","Oct"][month - 7]}/2024:12:00:00 +0000] '
                f'"GET /m{month} HTTP/1.1" 200 {i} "-" "ua"\n'
                for i in range(3)
            )
        )
        mt = _time.mktime((2024, month, 28, 0, 0, 0, 0, 0, 0))
        os.utime(p, (mt, mt))
    return str(d)


def test_since_filter_prunes_old_files_by_mtime(spark, rotated_dir):
    df = read_httpd_log(spark, rotated_dir + "/*.log", format_type="combined")
    assert len(df.inputFiles()) == 4
    pred = F.col("timestamp") >= "2024-10-01 00:00:00"
    pruned = df.filter(pred)
    naive = super(LineFilterableFrame, df).filter(pred)
    # Jul/Aug/Sep files: mtime + 2-day slack < Oct 1 -> whole files skipped
    assert len(pruned.inputFiles()) == 1
    assert sorted(map(str, pruned.collect())) == sorted(map(str, naive.collect()))
    assert pruned.count() == 3


def test_date_equality_also_prunes_files(spark, rotated_dir):
    df = read_httpd_log(spark, rotated_dir + "/*.log", format_type="combined")
    pred = F.to_date("timestamp") == "2024-09-11"
    pruned = df.filter(pred)
    naive = super(LineFilterableFrame, df).filter(pred)
    # equality bounds below too: Jul/Aug files are out (their mtime
    # + slack < Sep 11); Sep AND Oct remain (an Oct file CAN contain
    # Sep-dated lines under the contract — only the lower bound prunes)
    assert len(pruned.inputFiles()) == 2
    assert sorted(map(str, pruned.collect())) == sorted(map(str, naive.collect()))


def test_mtime_file_pruning_conf_opt_out(spark, rotated_dir):
    spark.conf.set("spark.graft.pushdown.mtimeBound", "false")
    try:
        df = read_httpd_log(spark, rotated_dir + "/*.log", format_type="combined")
        pred = F.col("timestamp") >= "2024-10-01 00:00:00"
        out = df.filter(pred)
        assert len(out.inputFiles()) == 4  # no pruning, no needles
        assert out.count() == 3
    finally:
        spark.conf.unset("spark.graft.pushdown.mtimeBound")


def test_mtime_pruning_composes_with_listing_prune_and_needles(spark, rotated_dir):
    df = read_httpd_log(spark, rotated_dir + "/*.log", format_type="combined")
    pred = (
        (F.col("timestamp") >= "2024-09-01 00:00:00")
        & F.col("log_file").rlike("2024-(09|10)")
        & (F.col("status") == 200)
    )
    pruned = df.filter(pred)
    naive = super(LineFilterableFrame, df).filter(pred)
    assert len(pruned.inputFiles()) == 2  # time prune ∩ log_file prune
    assert re.search(r"Contains\(value#\d+, 200\)", _optimized(pruned))
    assert sorted(map(str, pruned.collect())) == sorted(map(str, naive.collect()))


def test_disjunctive_time_bound_never_file_prunes(spark, rotated_dir):
    # ts >= X OR status=200: an old file's rows can pass via the OR's
    # other branch — the file-level prune must not fire
    df = read_httpd_log(spark, rotated_dir + "/*.log", format_type="combined")
    pred = (F.col("timestamp") >= "2024-10-01 00:00:00") | (F.col("status") == 200)
    out = df.filter(pred)
    assert len(out.inputFiles()) == 4
    assert out.count() == 12


def test_log_file_prune_escapes_quotes_in_paths(spark, tmp_path):
    # a path with an apostrophe must neither break the predicate nor
    # mis-prune
    d = tmp_path / "quoted"
    d.mkdir()
    for name in ("bob's.log", "plain.log"):
        (d / name).write_text(
            '1.1.1.1 - u [10/Oct/2024:10:00:00 +0000] "GET /a HTTP/1.1" 200 1 "-" "ua"\n'
        )
    df = read_httpd_log(spark, str(d) + "/*.log", format_type="combined")
    pred = F.col("log_file").like("%bob's%")
    pruned = df.filter(pred)
    naive = super(LineFilterableFrame, df).filter(pred)
    assert files_read(pruned) == 1
    assert sorted(map(str, pruned.collect())) == sorted(map(str, naive.collect()))
    assert pruned.count() == 1


def test_strftime_date_needles_non_utc_session_tz(spark, strftime_path):
    # margin must widen to 2 under a non-UTC session zone (to_date
    # follows the session zone); values stay identical to naive
    spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    try:
        out, n = _pushed_vs_naive_fmt(
            spark, strftime_path, _SFMT, F.to_date("timestamp") == "2023-03-15"
        )
        plan = _optimized(out)
        # ±2-day window: 13..17 all present
        assert re.search(r"Contains\(value#\d+, 2023-03-13", plan)
        assert re.search(r"Contains\(value#\d+, 2023-03-17", plan)
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def test_epoch_gate_boundary_exact_field_count(spark, tmp_path, monkeypatch):
    # a format with EXACTLY EPOCH_MIN_FIELDS capture groups passes the
    # gate (>= comparison), one fewer does not
    p = tmp_path / "gate.log"
    base = 1727740800
    p.write_text("".join(f"1.1.1.{d} - {base + d * 86400} 200\n" for d in range(5)))
    fmt4 = "%h %l %{sec}t %>s"  # 4 capture groups
    monkeypatch.setattr(pushdown, "EPOCH_MIN_FIELDS", 4)
    df = read_httpd_log(spark, str(p), format_str=fmt4)
    out = df.filter(F.to_date("timestamp") == "2024-10-03")
    assert re.search(r"Contains\(value#\d+, \d+\)", _optimized(out))
    monkeypatch.setattr(pushdown, "EPOCH_MIN_FIELDS", 5)
    df2 = read_httpd_log(spark, str(p), format_str=fmt4)
    out2 = df2.filter(F.to_date("timestamp") == "2024-10-03")
    assert "Contains(value" not in _optimized(out2)
    assert out2.count() == out.count() == 1


# --- per-file column-stats pruning (r13) --------------------------------------
#
# status/bytes range predicates prune the LISTING once per-file min/max
# stats exist (sources/colstats.py): second touch under the default
# auto policy, first touch under eager. Soundness probes: pushed values
# always equal the naive plan's; stale (mtime, size) keys are never
# consulted (append test).


def _write_colstats_fleet(d):
    # disjoint value ranges per file: statuses/bytes chosen so each
    # predicate has a known surviving file set
    specs = [
        ("s0.log", [(200 + j, 100 + j) for j in range(5)]),       # 200-204
        ("s1.log", [(301 + j, 1000 + j) for j in range(4)]),      # 301-304
        ("s2.log", [(500 + j, 5000 + j) for j in range(5)]),      # 500-504
        ("s3.log", [(200, 50), (503, 10000)]),                    # mixed
    ]
    for name, rows in specs:
        (d / name).write_text(
            "".join(
                f'10.0.0.1 - u [10/Oct/2024:01:00:0{i % 10} +0000] '
                f'"GET /r HTTP/1.1" {st} {by}\n'
                for i, (st, by) in enumerate(rows)
            )
        )
    return str(d)


def _colstats_fleet(spark, path):
    return read_httpd_log(spark, path + "/*.log", format_type="common")


def test_colstats_second_touch_prunes(spark, tmp_path):
    path = _write_colstats_fleet(tmp_path)
    df = _colstats_fleet(spark, path)
    pred = F.col("status") >= 500
    naive_rows = sorted(map(str, super(LineFilterableFrame, df).filter(pred).collect()))
    # first touch: no stats yet — full listing, correct values
    first = df.filter(pred)
    assert len(first.inputFiles()) == 4
    assert sorted(map(str, first.collect())) == naive_rows
    # second touch: stats gathered, s0/s1 pruned
    second = df.filter(pred)
    assert len(second.inputFiles()) == 2  # s2 + s3
    assert sorted(map(str, second.collect())) == naive_rows


def test_colstats_eager_policy_first_touch(spark, tmp_path):
    path = _write_colstats_fleet(tmp_path)
    spark.conf.set("spark.graft.pushdown.colStats", "eager")
    try:
        df = _colstats_fleet(spark, path)
        out = df.filter(F.col("bytes") > 6000)
        assert len(out.inputFiles()) == 1  # s3 only
        assert out.count() == 1
        # bounded range intersects two conjuncts
        both = df.filter((F.col("status") >= 500) & (F.col("status") <= 501))
        assert len(both.inputFiles()) == 2  # s2 + s3 (hull keeps s3)
        naive = super(LineFilterableFrame, df).filter(
            (F.col("status") >= 500) & (F.col("status") <= 501)
        )
        assert sorted(map(str, both.collect())) == sorted(map(str, naive.collect()))
        # IN prunes via its hull
        isin = df.filter(F.col("status").isin(301, 302))
        assert len(isin.inputFiles()) == 2  # s1 + s3 (hull 301..302 vs 200..503)
        assert isin.count() == 2
    finally:
        spark.conf.unset("spark.graft.pushdown.colStats")


def test_colstats_off_policy_never_prunes(spark, tmp_path):
    path = _write_colstats_fleet(tmp_path)
    spark.conf.set("spark.graft.pushdown.colStats", "false")
    try:
        df = _colstats_fleet(spark, path)
        for _ in range(3):
            out = df.filter(F.col("status") >= 500)
            assert len(out.inputFiles()) == 4
    finally:
        spark.conf.unset("spark.graft.pushdown.colStats")


def test_colstats_stale_after_append_rescues_file(spark, tmp_path):
    import time

    path = _write_colstats_fleet(tmp_path)
    spark.conf.set("spark.graft.pushdown.colStats", "eager")
    try:
        df = _colstats_fleet(spark, path)
        pred = F.col("status") >= 500
        assert len(df.filter(pred).inputFiles()) == 2  # stats gathered
        # append a 5xx row to the 2xx-only file: (mtime, size) changes,
        # the cached entry goes stale, the file must come back
        time.sleep(0.02)
        with open(os.path.join(path, "s0.log"), "a") as fh:
            fh.write(
                '10.0.0.1 - u [10/Oct/2024:02:00:00 +0000] '
                '"GET /late HTTP/1.1" 599 77\n'
            )
        out = df.filter(pred)
        # eager: re-gathered under the new sig; new stats include 599
        assert len(out.inputFiles()) == 3
        assert any(r.status == 599 for r in out.collect())
    finally:
        spark.conf.unset("spark.graft.pushdown.colStats")


def test_colstats_all_null_column_prunes(spark, tmp_path):
    # a file whose status is always "-" (NULL) can never satisfy an
    # int conjunct on status — prunable outright
    (tmp_path / "nul.log").write_text(
        '1.1.1.1 - u [10/Oct/2024:01:00:00 +0000] "GET / HTTP/1.1" - 123\n'
    )
    (tmp_path / "ok.log").write_text(
        '1.1.1.1 - u [10/Oct/2024:01:00:00 +0000] "GET / HTTP/1.1" 500 456\n'
    )
    spark.conf.set("spark.graft.pushdown.colStats", "eager")
    try:
        df = _colstats_fleet(spark, str(tmp_path))
        out = df.filter(F.col("status") >= 200)
        assert len(out.inputFiles()) == 1
        assert out.count() == 1
    finally:
        spark.conf.unset("spark.graft.pushdown.colStats")


def test_colstats_randomized_pushed_equals_naive(spark, tmp_path):
    import random

    rng = random.Random(1307)
    for i in range(6):
        (tmp_path / f"r{i}.log").write_text(
            "".join(
                f'10.0.{i}.1 - u [10/Oct/2024:01:00:00 +0000] '
                f'"GET /x HTTP/1.1" {rng.choice([200, 204, 301, 404, 500, 503])} '
                f"{rng.randrange(0, 100000)}\n"
                for _ in range(20)
            )
        )
    spark.conf.set("spark.graft.pushdown.colStats", "eager")
    try:
        df = _colstats_fleet(spark, str(tmp_path))
        preds = [
            F.col("status") >= rng.choice([200, 300, 500, 600]),
            F.col("status") < rng.choice([204, 500]),
            F.col("bytes") > rng.randrange(0, 120000),
            F.col("status").isin(204, 503),
            (F.col("bytes") >= 50000) & (F.col("status") == 500),
            F.col("status") == 404,
        ]
        for pred in preds:
            pushed = sorted(map(str, df.filter(pred).collect()))
            naive = sorted(
                map(str, super(LineFilterableFrame, df).filter(pred).collect())
            )
            assert pushed == naive, str(pred)
    finally:
        spark.conf.unset("spark.graft.pushdown.colStats")


def test_mtime_bound_refreshes_after_staleness_window(spark, tmp_path):
    import time

    # bind, then append a line dated BEYOND the bind-time mtime bound;
    # every filter stats fresh, so the bound covers the appended row
    # and the pushed plan keeps it (a bind-time-pinned bound would
    # have dropped it)
    p = tmp_path / "grow.log"
    p.write_text(
        '1.1.1.1 - u [10/Oct/2024:01:00:00 +0000] "GET /a HTTP/1.1" 200 1\n'
    )
    mt = time.mktime((2024, 10, 11, 0, 0, 0, 0, 0, 0))
    os.utime(p, (mt, mt))
    df = read_httpd_log(spark, str(p), format_type="common")
    pred = F.col("timestamp") >= "2024-10-01 00:00:00"
    assert df.filter(pred).count() == 1  # bound derived
    with open(p, "a") as fh:  # appended row, one month later
        fh.write(
            '2.2.2.2 - u [20/Nov/2024:01:00:00 +0000] "GET /b HTTP/1.1" 200 2\n'
        )
    got = sorted(r.client_host for r in df.filter(pred).collect())
    naive = super(LineFilterableFrame, df).filter(pred)
    assert got == sorted(r.client_host for r in naive.collect()) == [
        "1.1.1.1",
        "2.2.2.2",
    ]


def test_refilter_after_append_keeps_new_row(spark, tmp_path):
    # the open-above bound comes from a stat taken at each filter, not
    # at the first: re-filtering the same frame after its file grew
    # must equal the unpushed plan
    import time

    p = tmp_path / "tail.log"
    p.write_text(
        '1.1.1.1 - u [02/Oct/2024:01:00:00 +0000] "GET /a HTTP/1.1" 200 1\n'
    )
    mt = time.mktime((2024, 10, 3, 0, 0, 0, 0, 0, 0))
    os.utime(p, (mt, mt))
    df = read_httpd_log(spark, str(p), format_type="common")
    pred = F.col("timestamp") >= "2024-10-01 00:00:00"
    assert [r.client_host for r in df.filter(pred).collect()] == ["1.1.1.1"]
    with open(p, "a") as fh:
        fh.write(
            '2.2.2.2 - u [20/Oct/2024:01:00:00 +0000] "GET /b HTTP/1.1" 200 2\n'
        )
    got = sorted(r.client_host for r in df.filter(pred).collect())
    naive = sorted(
        r.client_host for r in super(LineFilterableFrame, df).filter(pred).collect()
    )
    assert got == naive == ["1.1.1.1", "2.2.2.2"]


def test_time_prune_rescues_appended_file(spark, rotated_dir):
    # a file appended after the bind holds rows newer than its
    # bind-time mtime: the filter's fresh stat keeps it
    df = read_httpd_log(spark, rotated_dir + "/*.log", format_type="combined")
    pred = F.col("timestamp") >= "2024-10-01 00:00:00"
    assert len(df.filter(pred).inputFiles()) == 1
    with open(os.path.join(rotated_dir, "2024-07.log"), "a") as fh:
        fh.write(
            '10.0.7.9 - u [15/Oct/2024:12:00:00 +0000] "GET /late HTTP/1.1" 200 9 "-" "ua"\n'
        )
    pruned = df.filter(pred)
    naive = super(LineFilterableFrame, df).filter(pred)
    assert len(pruned.inputFiles()) == 2
    assert sorted(map(str, pruned.collect())) == sorted(map(str, naive.collect()))
    assert pruned.count() == 4


def test_one_stat_per_filter(spark, fleet, monkeypatch):
    # a filter stats the bind-time listing at most once, and only when
    # a time or int conjunct can use it
    from duckdb_httpd_log_spark.sources import fs

    from .conftest import dashboard_shapes

    real, calls = fs.file_sigs, []

    def counting(*a, **k):
        calls.append(1)
        return real(*a, **k)

    monkeypatch.setattr(fs, "file_sigs", counting)
    shapes = {
        **dashboard_shapes(),
        # an Or takes the stat only when a branch needs the open-above bound
        "or_needles": (F.col("path") == "/m8") | (F.col("path") == "/m9"),
        "or_since": (F.col("timestamp") >= "2024-10-01 00:00:00") | (F.col("status") == 200),
    }
    want = {"needle": 0, "listing": 0, "day": 1, "since": 1, "status5xx": 1, "or_needles": 0, "or_since": 1}
    got = {}
    for name, pred in shapes.items():
        df = read_httpd_log(spark, fleet + "/*.log", format_type="combined")
        calls.clear()
        out = df.filter(pred)
        got[name] = len(calls)
        naive = super(LineFilterableFrame, df).filter(pred)
        assert sorted(map(str, out.collect())) == sorted(map(str, naive.collect())), name
    assert got == want


# --- log_file pruning in any query shape ------------------------------------------
# log_file is _metadata.file_path below a Generate barrier, so Catalyst
# moves any deterministic predicate on it (or on a hive key derived from
# it) down to the text scan, and Spark's file index drops the files it
# rules out: no .filter() directly on the read is needed.
@pytest.fixture(scope="module")
def month_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("months")
    for m in range(1, 9):
        sub = d / f"month={m:02d}"
        sub.mkdir()
        (sub / f"2024-{m:02d}.log").write_text("".join(
            f'10.0.{m}.{i} - u [1{i}/Oct/2024:12:00:00 +0000] '
            f'"GET /m{m} HTTP/1.1" {500 if i else 200} {i} "-" "ua"\n'
            for i in range(3)
        ))
    return str(d)


def _march_shape(spark, df, shape):
    march = F.col("log_file").like("%2024-03%")
    if shape == "direct":
        return df.filter(march)
    if shape == "select":
        return df.select("client_host", "path", "log_file").filter(march)
    if shape in ("sql", "hive_sql"):
        df.createOrReplaceTempView("month_logs")
        where = "log_file LIKE '%2024-03%'" if shape == "sql" else "month = '03'"
        return spark.sql(f"SELECT * FROM month_logs WHERE {where}")
    if shape == "join":
        dim = spark.createDataFrame(
            [(f"/m{m}", m) for m in range(1, 9)], "path string, m int")
        return df.join(dim, "path").filter(march)
    sel = df.select("client_host", "log_file")
    return sel.unionByName(sel).filter(march)


@pytest.mark.parametrize(
    "shape,files", [("direct", 1), ("select", 1), ("sql", 1), ("hive_sql", 1),
                    ("join", 1), ("union", 2)])
def test_log_file_prunes_in_any_query_shape(spark, month_dir, shape, files):
    df = read_httpd_log(spark, month_dir + "/*/*.log", format_type="combined",
                        hive_partitioning=True)
    # reference: every file parsed, the predicate applied in Python
    want = sorted((r.client_host, r.log_file) for r in df.collect()
                  if "2024-03" in r.log_file)
    want = sorted(want * 2) if shape == "union" else want
    out = _march_shape(spark, df, shape)
    assert files_read(out) == files  # one per scan, of 8
    assert sorted((r.client_host, r.log_file) for r in out.collect()) == want
    assert len(want) == 3 * files


def test_misnamed_gzip_rows_filtered_by_log_file(spark, tmp_path):
    # a gzip file without a codec extension is read through mapInPandas,
    # which has no _metadata: a log_file predicate filters its rows but
    # skips no file of it, and the result still equals the unpushed plan
    import gzip

    lines = [
        '1.1.1.1 - u [10/Oct/2024:10:00:00 +0000] "GET /a HTTP/1.1" 500 1 "-" "ua"\n',
        '2.2.2.2 - u [10/Oct/2024:11:00:00 +0000] "GET /b HTTP/1.1" 200 2 "-" "ua"\n',
    ]
    (tmp_path / "plain.log").write_text("".join(lines))
    (tmp_path / "packed.log").write_bytes(gzip.compress("".join(lines).encode()))
    df = read_httpd_log(spark, str(tmp_path / "*.log"), format_type="combined")
    for pred, scanned in [
        (F.col("log_file").endswith("plain.log"), 1),
        (F.col("log_file").endswith("packed.log"), 0),
        (F.col("log_file").endswith("packed.log") & (F.col("status") == 500), 0),
    ]:
        out = df.filter(pred)
        naive = super(LineFilterableFrame, df).filter(pred)
        assert files_read(out) == scanned, str(pred)  # text scan of plain.log
        got = sorted(map(str, out.collect()))
        assert got == sorted(map(str, naive.collect())) and got, str(pred)


def test_gzip_magic_probed_once_per_bind(spark, fleet, monkeypatch):
    # which listed files are misnamed gzip is a bind-time fact: the probe
    # reads 2 bytes of each non-codec file once, on the first plan built,
    # not again on every pushed filter's re-plan
    from .conftest import dashboard_shapes

    real, calls = reader._gzip_by_magic, []
    monkeypatch.setattr(
        reader, "_gzip_by_magic", lambda *a: calls.append(a[0]) or real(*a))
    df = read_httpd_log(spark, fleet + "/*.log", format_type="combined")
    assert calls == []  # a bind builds no plan
    shapes = dashboard_shapes()
    for name in ("needle", "day", "since"):
        assert df.filter(shapes[name]).count() > 0, name
    assert len(calls) == 4
