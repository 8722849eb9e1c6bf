"""Second e2e batch: directives not covered in test_reader.py — server
names, peer host/IP, trailers, header collisions with data, duplicate
directives, status original/final values, %b/%B merge values, conf glob,
observation metrics, and the typed value of every directive family on
randomized formats."""

from datetime import datetime, timedelta

from hypothesis import given, settings
from pyspark.sql import functions as F

from duckdb_httpd_log_spark import read_httpd_conf, read_httpd_log
from duckdb_httpd_log_spark.sources.logformat import parse_format_string

from .conftest import data
from .test_logformat_properties import _sample_value, format_strings


def test_server_name_v_and_V(spark):
    df = read_httpd_log(
        spark,
        data("directives", "server_both.log"),
        format_str='%h %v %V %t "%r" %>s %b',
    )
    r = df.first()
    assert r.server_name == "canonical.example.com"
    assert r.server_name_used == "used.example.com"


def test_peer_ip_and_peer_host(spark):
    r = read_httpd_log(
        spark,
        data("directives", "peer_ip.log"),
        format_str='%h %{c}a %t "%r" %>s %b',
    ).first()
    assert (r.client_host, r.peer_ip) == ("192.168.1.100", "10.0.0.1")
    r = read_httpd_log(
        spark,
        data("directives", "hostname.log"),
        format_str='%h %{c}h %t "%r" %>s %b',
    ).first()
    assert (r.client_host, r.peer_host) == ("192.168.1.1", "10.0.0.1")


def test_status_original_and_final_values(spark):
    r = read_httpd_log(
        spark,
        data("directives", "status_both.log"),
        format_str='%h %t "%r" %s %b %>s',
    ).first()
    # %>s keeps `status`, %s becomes `status_original`
    assert (r.status, r.status_original) == (301, 200)


def test_bytes_b_and_B_merged(spark):
    df = read_httpd_log(
        spark,
        data("directives", "bytes_b_and_B.log"),
        format_str='%h %l %u %t "%r" %>s %b %B',
    )
    assert df.columns.count("bytes") == 1
    rows = df.orderBy("client_host").collect()
    # first occurrence (%b) wins; "-" -> 0
    assert [r.bytes for r in rows] == [2326, 0, 0]


def test_full_collision_chain_values(spark):
    df = read_httpd_log(
        spark,
        data("directives", "collision_test.log"),
        format_str="%h %{x}C %{x}e %{x}n %{x}^ti %{x}^to %{x}i %{x}o",
    )
    r = df.orderBy("client_host").first()
    assert r.x == "val_in"  # %i has the best (lowest) collision priority
    assert r.x_cookie == "val_cookie"
    assert r.x_env == "val_env"
    assert r.x_note == "val_note"
    assert r.x_trail_in == "val_trail_in"
    assert r.x_trail_out == "val_trail_out"
    assert r.x_out == "val_out"


def test_typed_header_collision_in_out(spark):
    df = read_httpd_log(
        spark,
        data("directives", "header_collision.log"),
        format_str='%h %l %u %t "%r" %>s %{Content-Length}i %{Content-Length}o',
    )
    rows = df.orderBy("client_host").collect()
    assert dict(df.dtypes)["content_length"] == "bigint"
    assert dict(df.dtypes)["content_length_out"] == "bigint"
    assert (rows[0].content_length, rows[0].content_length_out) == (1024, 2048)
    assert rows[1].content_length is None  # "-" -> NULL for typed headers


def test_duplicate_directive_values(spark, tmp_path):
    p = tmp_path / "dup.log"
    p.write_text("1.2.3.4 first second\n")
    r = read_httpd_log(spark, str(p), format_str="%h %{foo}i %{foo}i").first()
    assert (r.foo, r.foo_2) == ("first", "second")


def test_unknown_directive_value(spark, tmp_path):
    p = tmp_path / "unk.log"
    p.write_text("1.2.3.4 weird\n")
    r = read_httpd_log(spark, str(p), format_str="%h %Q").first()
    assert r.field_Q == "weird"


def test_conf_glob_multiple_files(spark, tmp_path):
    (tmp_path / "a.conf").write_text('LogFormat "%h %t" fmt_a\n')
    (tmp_path / "b.conf").write_text('LogFormat "%h %>s" fmt_b\n')
    df = read_httpd_conf(spark, str(tmp_path / "*.conf"))
    rows = df.orderBy("config_file").collect()
    assert [r.nickname for r in rows] == ["fmt_a", "fmt_b"]


def test_empty_file(spark, tmp_path):
    p = tmp_path / "empty.log"
    p.write_text("")
    df = read_httpd_log(spark, str(p), format_type="common")
    assert df.count() == 0
    df = read_httpd_log(spark, str(p), format_type="common", raw=True)
    assert df.count() == 0


def test_trailing_empty_lines_advance_line_number(spark, tmp_path):
    p = tmp_path / "gaps.log"
    line = '1.2.3.4 - - [10/Oct/2000:13:55:36 -0700] "GET / HTTP/1.0" 200 1\n'
    p.write_text(line + "\n" + "\n" + line)  # valid, empty, empty, valid
    df = read_httpd_log(spark, str(p), format_type="common", raw=True)
    rows = df.orderBy("line_number").collect()
    assert [r.line_number for r in rows] == [1, 4]  # empties counted, not emitted


def test_crlf_lines(spark, tmp_path):
    p = tmp_path / "crlf.log"
    p.write_bytes(
        b'1.2.3.4 - - [10/Oct/2000:13:55:36 -0700] "GET / HTTP/1.0" 200 10\r\n'
        b'1.2.3.5 - - [10/Oct/2000:13:55:37 -0700] "GET / HTTP/1.0" 200 20\r\n'
    )
    df = read_httpd_log(spark, str(p), format_type="common", raw=True)
    rows = df.orderBy("line_number").collect()
    assert len(rows) == 2 and not any(r.parse_error for r in rows)
    assert not rows[0].raw_line.endswith("\r")


def test_keepalive_and_ports_types(spark):
    df = read_httpd_log(
        spark, data("directives", "port.log"), format_str="%h %p %{local}p %{remote}p"
    )
    types = dict(df.dtypes)
    assert types["server_port"] == types["local_port"] == types["remote_port"] == "int"


def test_observe_metrics(spark):
    from duckdb_httpd_log_spark.plans.metrics import scan_metrics

    df = read_httpd_log(spark, data("common", "with_errors.log"), raw=True)
    obs, observed = scan_metrics(df)
    observed.collect()
    m = obs.get
    assert m["total_rows"] == 5
    assert m["parse_errors"] == 2
    assert m["files_processed"] == 1


# --- randomized typed values: every directive family's conversion -------------
# `_sample_value` gives each directive one constant sample, so the typed
# value read_httpd_log must produce for it is a constant too.
_TS = datetime(2000, 10, 10, 20, 55, 36)  # 13:55:36 -0700, in session UTC
_EXPECTED = {
    # %t family: a base field gives the instant, a *_frac field the
    # fraction its group adds to it
    "%t": _TS,
    "%{sec}t": _TS,
    "%{msec}t": _TS + timedelta(milliseconds=123),
    "%{usec}t": _TS + timedelta(microseconds=123456),
    "%{msec_frac}t": timedelta(milliseconds=123),
    "%{usec_frac}t": timedelta(microseconds=123456),
    # durations: %D and %{us}T count µs, %{ms}T ms, %T and %{s}T seconds
    "%D": timedelta(microseconds=1234),
    "%{us}T": timedelta(microseconds=1234),
    "%{ms}T": timedelta(milliseconds=1234),
    "%T": timedelta(seconds=1234),
    "%{s}T": timedelta(seconds=1234),
    "%X": "keepalive",
    "%{hextid}P": "7f9a",
    **dict.fromkeys(
        ["%p", "%k", "%P", "%{canonical}p", "%{local}p", "%{remote}p",
         "%{pid}P", "%{tid}P", "%s", "%>s", "%<s", "%B", "%b", "%I", "%O",
         "%S", "%{Content-Length}i", "%{Age}o", "%{Max-Forwards}i"],
        1234,
    ),
}
# %r's (method, path, query_string, protocol): unquoted, the sample is one
# token, which leaves too few to decompose
_REQUEST = {True: ("GET", "/x", "?a=1", "HTTP/1.1"), False: ("", "", None, "")}


def _expected_row(parsed) -> list:
    def value(f):
        return _EXPECTED.get(parsed.original_format_str[f.raw_start:f.raw_end], "val-x")

    out = []
    for f in parsed.fields:
        if f.should_skip:
            continue
        if f.directive == "%t":
            base, frac = None, timedelta(0)
            for i in parsed.timestamp_groups[f.timestamp_group_id].field_indices:
                v = value(parsed.fields[i])
                if isinstance(v, datetime):
                    base = v
                else:
                    frac = v
            out.append(None if base is None else base + frac)
        elif f.directive == "%r":
            skip = (f.skip_method, f.skip_path, f.skip_query_string, f.skip_protocol)
            out.extend(v for v, s in zip(_REQUEST[f.is_quoted], skip) if not s)
        else:
            out.append(value(f))
    return out


@given(format_strings())
@settings(max_examples=25, deadline=None, derandomize=True)
def test_random_format_typed_values(spark, tmp_path_factory, fmt):
    """For arbitrary directive combinations, each typed column of
    read_httpd_log on a synthetic line equals the directive's expected
    value (timestamp groups resolved from ``parsed.timestamp_groups``)."""
    vals = []
    for tok in fmt.split(" "):
        if tok.startswith('"') and tok.endswith('"'):
            vals.append(f'"{_sample_value(tok[1:-1])}"')
        else:
            v = _sample_value(tok)
            vals.append(v if v.startswith("[") else v.replace(" ", "_"))
    p = tmp_path_factory.mktemp("typed") / "synthetic.log"
    p.write_text(" ".join(vals) + "\n")
    want = _expected_row(parse_format_string(fmt))
    rows = read_httpd_log(spark, str(p), format_str=fmt).collect()
    assert [list(r)[: len(want)] for r in rows] == [want], fmt
