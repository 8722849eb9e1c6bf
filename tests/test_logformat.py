"""Unit tests for the pure-Python LogFormat compiler.

Schema-shape assertions ported from the reference's sqllogictests
(test/sql/core/schema_validation.test, test/sql/directives/*.test).
No SparkSession needed.
"""

from duckdb_httpd_log_spark.sources.logformat import (
    COMBINED_FORMAT,
    COMMON_FORMAT,
    detect_format,
    generate_schema,
    parse_format_string,
)


def names(fmt, raw=False):
    return [n for n, _ in generate_schema(parse_format_string(fmt), raw)]


def schema(fmt, raw=False):
    return generate_schema(parse_format_string(fmt), raw)


# --- schema_validation.test: 11/14/16-column contracts ---------------------
def test_common_schema_11_columns():
    assert names(COMMON_FORMAT) == [
        "client_host",
        "ident",
        "auth_user",
        "timestamp",
        "method",
        "path",
        "query_string",
        "protocol",
        "status",
        "bytes",
        "log_file",
    ]


def test_common_raw_schema_14_columns():
    assert names(COMMON_FORMAT, raw=True)[-3:] == ["line_number", "parse_error", "raw_line"]
    assert len(names(COMMON_FORMAT, raw=True)) == 14


def test_combined_raw_schema_16_columns():
    cols = names(COMBINED_FORMAT, raw=True)
    assert len(cols) == 16
    assert "referer" in cols and "user_agent" in cols


def test_types_common():
    s = dict(schema(COMMON_FORMAT, raw=True))
    assert s["timestamp"] == "timestamp"
    assert s["status"] == "int"
    assert s["bytes"] == "bigint"
    assert s["line_number"] == "bigint"
    assert s["parse_error"] == "boolean"


# --- directive naming ------------------------------------------------------
def test_dynamic_header_names():
    assert names("%h %{User-Agent}i")[:2] == ["client_host", "user_agent"]
    assert names("%h %{X-Forwarded-For}i")[1] == "x_forwarded_for"


def test_typed_headers():
    s = dict(schema("%h %{Content-Length}i %{Age}o %{Max-Forwards}i"))
    assert s["content_length"] == "bigint"
    assert s["age"] == "int"
    assert s["max_forwards"] == "int"


def test_typed_headers_direction():
    # Age is response-only: %{Age}i stays VARCHAR; Max-Forwards request-only
    s = dict(schema("%h %{Age}i %{Max-Forwards}o"))
    assert s["age"] == "string"
    assert s["max_forwards"] == "string"


def test_ip_port_process_variants():
    assert names("%a %{c}a %A")[:3] == ["remote_ip", "peer_ip", "local_ip"]
    assert names("%{c}h")[0] == "peer_host"
    s = dict(schema("%p %{local}p %{remote}p"))
    assert s == {"server_port": "int", "local_port": "int", "remote_port": "int", "log_file": "string"}
    s = dict(schema("%P %{tid}P %{hextid}P"))
    assert s["process_id"] == "int"
    assert s["thread_id"] == "bigint"
    assert s["thread_id_hex"] == "string"


def test_unknown_directive_fallback():
    assert names("%h %Q")[1] == "field_Q"


# --- collisions ------------------------------------------------------------
def test_original_final_status():
    assert names("%h %s %>s")[1:3] == ["status_original", "status"]


def test_server_name_collision():
    assert names("%v %V")[:2] == ["server_name", "server_name_used"]


def test_bytes_first_wins():
    cols = names("%h %b %B")
    assert cols.count("bytes") == 1
    assert len(cols) == 3  # client_host, bytes, log_file


def test_duration_highest_precision_wins():
    # %D (µs) beats %T (s)
    cols = names('%h %l %u %t "%r" %>s %b %D %T')
    assert cols.count("duration") == 1
    p = parse_format_string('%h %l %u %t "%r" %>s %b %D %T')
    kept = [f for f in p.fields if f.column_name == "duration" and not f.should_skip]
    assert len(kept) == 1 and kept[0].directive == "%D"


def test_duration_unit_priority():
    p = parse_format_string("%h %{ms}T %{us}T")
    kept = [f for f in p.fields if not f.should_skip and f.column_name == "duration"]
    assert len(kept) == 1 and kept[0].modifier == "us"


def test_pid_bare_wins():
    p = parse_format_string("%h %{pid}P %P")
    kept = [f for f in p.fields if not f.should_skip and f.column_name == "process_id"]
    assert len(kept) == 1 and kept[0].modifier == ""


def test_same_directive_duplicates_numbered():
    assert names("%h %{foo}i %{foo}i")[1:3] == ["foo", "foo_2"]


def test_cross_directive_collision_suffixes():
    cols = names("%h %{x}C %{x}e %{x}n %{x}^ti %{x}^to %{x}i %{x}o")
    # %i (priority 2) keeps base name; others get their suffixes
    assert set(cols[1:-1]) == {
        "x",
        "x_cookie",
        "x_env",
        "x_note",
        "x_trail_in",
        "x_trail_out",
        "x_out",
    }
    assert cols[-3] == "x"


def test_collision_in_wins_base_name():
    p = parse_format_string("%h %{x}i %{x}o")
    by = {f.directive: f.column_name for f in p.fields if f.modifier == "x"}
    assert by["%i"] == "x"
    assert by["%o"] == "x_out"


def test_duplicates_after_suffixing():
    # mixed: second %i keeps its directive suffix, duplicate %o's get numbered
    cols = names("%h %{x}i %{x}i %{x}o")
    assert cols[1:4] == ["x", "x_in", "x_out"]
    cols = names("%h %{x}i %{x}o %{x}o")
    assert cols[1:4] == ["x", "x_out", "x_out_2"]


def test_content_length_collision():
    cols = names("%h %{Content-Length}i %{Content-Length}o")
    assert cols[1:3] == ["content_length", "content_length_out"]


# --- %r decomposition & overrides ------------------------------------------
def test_request_decomposition():
    assert names('"%r"') == ["method", "path", "query_string", "protocol", "log_file"]


def test_individual_directives_suppress_r_subcolumns():
    cols = names('"%r" %m %U %q %H')
    assert cols.count("method") == 1
    assert cols.count("path") == 1
    assert cols.count("query_string") == 1
    assert cols.count("protocol") == 1


def test_q_only_suppresses_query_string():
    cols = names('"%r" %q')
    assert cols == ["method", "path", "protocol", "query_string", "log_file"]


# --- status-code conditions stripped ---------------------------------------
def test_status_condition_stripped():
    cols = names("%h %t %>s %400,501{User-Agent}i %{Referer}i")
    assert "user_agent" in cols and "referer" in cols


def test_negated_status_condition():
    cols = names("%h %!200,304{Referer}i")
    assert cols[1] == "referer"


def test_status_condition_on_plain_directive():
    cols = names("%h %200s")
    assert "status_original" in cols or "status" in cols


# --- timestamps ------------------------------------------------------------
def test_timestamp_group_combines_consecutive_t():
    p = parse_format_string("%h %l %u %t %{msec_frac}t")
    cols = [n for n, _ in generate_schema(p, False)]
    assert cols.count("timestamp") == 1
    assert len(p.timestamp_groups) == 1
    assert len(p.timestamp_groups[0].field_indices) == 2


def test_begin_end_timestamps():
    p = parse_format_string('%h %{begin:%Y-%m-%d}t %{end:%H:%M:%S}t')
    cols = [n for n, _ in generate_schema(p, False)]
    assert "timestamp" in cols and "timestamp_original" in cols
    # end: keeps the base name
    endf = [f for f in p.fields if f.is_end_timestamp][0]
    assert endf.column_name == "timestamp"


def test_epoch_variants():
    for mod in ("sec", "msec", "usec"):
        p = parse_format_string("%h %{" + mod + "}t")
        assert [n for n, _ in generate_schema(p, False)][1] == "timestamp"


# --- regex generation ------------------------------------------------------
def test_regex_parses_common_line():
    p = parse_format_string(COMMON_FORMAT)
    line = '192.168.1.1 - frank [10/Oct/2000:13:55:36 -0700] "GET /index.html HTTP/1.0" 200 2326'
    groups = p.parse_line(line)
    assert groups is not None
    assert groups[0] == "192.168.1.1"
    assert groups[3] == "10/Oct/2000:13:55:36 -0700"
    assert groups[4] == "GET /index.html HTTP/1.0"
    assert groups[5] == "200"
    assert groups[6] == "2326"


def test_regex_rejects_junk():
    p = parse_format_string(COMMON_FORMAT)
    assert p.parse_line("This is an invalid log line") is None


def test_capture_indices_skip_noncapturing():
    p = parse_format_string("%h %b %B")  # %B skipped, non-capturing
    caps = {f.directive: f.capture_index for f in p.fields}
    assert caps["%h"] == 1 and caps["%b"] == 2 and caps["%B"] is None
    assert p.num_capture_groups == 2
    assert p.parse_line("1.2.3.4 10 20") == ("1.2.3.4", "10")


def test_capture_indices_skipped_before_kept():
    # skipped field BEFORE a kept one must not desync capture indices
    p = parse_format_string("%h %T %D")  # %T loses to %D, appears first
    caps = {f.directive: f.capture_index for f in p.fields}
    assert caps["%T"] is None and caps["%D"] == 2
    assert p.parse_line("1.2.3.4 5 1500000") == ("1.2.3.4", "1500000")


def test_skipped_timestamp_group_members_still_capture():
    p = parse_format_string("%h %t %{msec_frac}t")
    tfields = [f for f in p.fields if f.directive == "%t"]
    assert tfields[0].capture_index == 2
    assert tfields[1].capture_index == 3  # skipped in schema but captured


# --- auto-detect -----------------------------------------------------------
COMMON_LINE = '192.168.1.1 - frank [10/Oct/2000:13:55:36 -0700] "GET / HTTP/1.0" 200 2326'
COMBINED_LINE = COMMON_LINE + ' "http://ref/" "Mozilla/5.0"'


def test_detect_combined_wins_over_common():
    fmt, parsed = detect_format([COMBINED_LINE] * 5)
    assert fmt == "combined"


def test_detect_common():
    fmt, parsed = detect_format([COMMON_LINE] * 5)
    assert fmt == "common"


def test_detect_unknown():
    fmt, parsed = detect_format(["garbage line here"] * 5)
    assert fmt == "unknown"
    assert parsed.regex_pattern == ""


def test_detect_majority_rule():
    lines = [COMMON_LINE] * 5 + ["junk"] * 5
    fmt, _ = detect_format(lines)
    assert fmt == "common"
    lines = [COMMON_LINE] * 2 + ["junk"] * 8
    fmt, _ = detect_format(lines)
    assert fmt == "unknown"


def test_status_condition_regex_consumes_condition_text():
    # ADVICE r10: the regex walker must consume the stripped condition
    # chars — '%400s' must NOT leave a literal '00s' in the pattern
    import re

    for fmt, line in [
        ("%h %400s %b", "1.2.3.4 400 123"),
        ("%h %!200,304s %b", "1.2.3.4 500 99"),
        ("%h %!200{Referer}i %b", '1.2.3.4 http://r 7'),
    ]:
        p = parse_format_string(fmt)
        pat = p.regex_pattern
        assert "00s" not in pat and "200,304" not in pat and "!200" not in pat
        assert re.match(pat.replace("++", "+").replace("*+", "*"), line), (fmt, pat)
