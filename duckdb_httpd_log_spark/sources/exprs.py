"""Catalyst expression builders for the httpd log reader.

Everything here produces JVM-side ``pyspark.sql.Column`` expressions —
no Python UDFs anywhere on the per-row path, so the whole parse pipeline
stays inside whole-stage codegen and scales linearly with executors.

Core trick: the reference (saygox/duckdb-httpd-log) matches each line
once against a single compiled RE2 and reads all capture groups
(``src/httpd_log_format_parser.cpp:790-827``). Spark has no built-in
"match once, return all groups", and per-column ``regexp_extract`` would
re-run the regex N times per row. Instead we run ONE anchored
``regexp_replace`` that rewrites a matching line into
``\\x02<g1>\\x01<g2>…`` and then ``split`` on ``\\x01`` — one regex
execution + one split per line, mirroring the reference's single-match
design. A line that fails to match is left untouched by the anchored
replace and is detected by the missing ``\\x02`` sentinel (log lines
never start with STX).

Value conversion parity: src/httpd_log_file_reader.cpp:410-654
(`-` → NULL/0 rules, %X remap, request decomposition, duration quirk,
timestamp group combination :191-308).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column
from pyspark.sql import functions as F

from .logformat import (
    BIGINT,
    BYTES_COLUMNS,
    INTEGER,
    INTERVAL,
    TIMESTAMP,
    VARCHAR,
    FormatField,
    ParsedFormat,
    TimestampGroup,
    TsFormat,
    _REQUEST_DIRECTIVES,
    _strftime_tokens,
)

# Field/group separators for the single-pass regex projection.
SENTINEL = "\x02"
SEP = "\x01"

APACHE_TS_PATTERN = "dd/MMM/yyyy:HH:mm:ss Z"

_MICROSECOND = "INTERVAL '0.000001' SECOND"


def micros_to_interval(us: Column) -> Column:
    """Exact µs → DayTimeIntervalType (long * 1µs interval, no float math)."""
    return us * F.expr(_MICROSECOND)


def match_tokens(value: Column, pattern: str, num_groups: int) -> Column:
    """The single-pass match, split once: a matching line is rewritten to
    ``\\x02<g1>\\x01<g2>…`` and split on ``\\x01``; a non-matching line
    passes through the replace unchanged. Group 1 keeps the sentinel
    prefix (see group_value)."""
    repl = SENTINEL + SEP.join(f"${i}" for i in range(1, num_groups + 1))
    anchored = pattern + "$" if pattern.startswith("^") else "^" + pattern + "$"
    return F.split(F.regexp_replace(value, anchored, repl), SEP, -1)


def match_ok(parts: Column, num_groups: int) -> Column:
    """True when the line fully matched. The part-count guard rejects
    lines whose captured text contains a literal \\x01 (which would
    shift every later column) and lines that didn't match but happen to
    start with \\x02 — both degrade to parse_error/dropped instead of
    silently mis-typed columns."""
    return (F.substring(F.element_at(parts, 1), 1, 1) == F.lit(SENTINEL)) & (
        F.size(parts) == F.lit(num_groups)
    )


def materialization_barrier(col: Column) -> Column:
    """Wrap a column so Catalyst materializes it once instead of inlining
    it into every consumer.

    Codegen's common-subexpression elimination works within one operator
    only; a Filter above a Project re-evaluates any projected expression
    its predicate references (CollapseProject + PushDownPredicate inline
    the alias). ``explode(array(col))`` is a Generate of exactly one row
    per input row, so it is the identity on any plan, with or without a
    file scan underneath; Catalyst collapses no Project into a Generate
    and pushes no predicate on its output below it, so a filter +
    N-column projection over the line regex costs ONE regex execution
    per row. A deterministic predicate on the Generate's other columns
    (the reader's ``log_file``) still moves below it, down to the file
    scan. Must be the only generator of its select. Pinned by
    tests/test_plans.py::test_log_reader_fast_path_is_narrow."""
    return F.explode(F.array(col))


def group_value(parts: Column, capture_index: int) -> Column:
    """Capture group ``capture_index`` (1-based) of match_tokens' array;
    group 1 drops the sentinel its token carries."""
    if capture_index == 1:
        return F.substring(F.element_at(parts, 1), 2, 2147483646)
    return F.element_at(parts, capture_index)


# ---------------------------------------------------------------------------
# strftime -> Spark datetime pattern (+ value cleanup)
# ---------------------------------------------------------------------------
# Specifiers Spark's formatter can parse directly: strftime -> Spark pattern.
# %I maps to HH on purpose: the reference parses the 12-hour value as the
# hour outright and ignores any AM/PM token (src/httpd_log_file_reader.cpp:92-97,
# no '%p' case in its switch), so hour-as-given is the parity behavior.
_STRFTIME_TO_SPARK = {
    "%Y": "yyyy",
    "%y": "yy",
    "%m": "MM",
    "%-m": "M",
    "%d": "dd",
    "%-d": "d",
    "%b": "MMM",
    "%h": "MMM",
    "%B": "MMMM",
    "%H": "HH",
    "%-H": "H",
    "%I": "HH",
    "%-I": "H",
    "%M": "mm",
    "%S": "ss",
    "%f": "SSSSSS",
    "%z": "xx",
    "%T": "HH:mm:ss",
    "%R": "HH:mm",
}

# Specifiers matched in the input but dropped before parsing (the reference
# either skips them explicitly (%Z) or ignores them in its hand parser).
_STRFTIME_DISCARD_REGEX = {
    "%Z": r"[A-Za-z/_]+",
    "%j": r"\d{3}",
    "%a": r"[A-Za-z]{3}",
    "%A": r"[A-Za-z]+",
    "%p": r"[AaPp][Mm]",
    "%P": r"[AaPp][Mm]",
    "%n": r"\n",
    "%t": r"\t",
}

_REGEX_META = set(".*+?^$()[]{}|\\")


def _re_escape(c: str) -> str:
    return "\\" + c if c in _REGEX_META else c


def _java_quote_literal(text: str) -> str:
    """Quote literal text for a Java DateTimeFormatter pattern."""
    if not text:
        return ""
    if any(ch.isalpha() or ch == "'" for ch in text):
        return "'" + text.replace("'", "''") + "'"
    return text


def translate_strftime(fmt: str) -> tuple[str, str, int]:
    """Translate a strftime format for Spark parsing.

    Returns ``(cleanup_regex, spark_pattern, n_keep_groups)``.

    ``cleanup_regex`` re-matches the already-captured field value and wraps
    the parseable portions in capture groups while leaving discarded tokens
    (%Z zone names, weekday names, AM/PM, %e pad spaces) outside them; the
    caller regexp_replaces the value down to just the kept text, which then
    parses with ``spark_pattern``. When nothing needs discarding the
    cleanup step is skipped entirely (n_keep_groups == 0 sentinel is not
    used; callers check ``needs_cleanup``).
    """
    regex_parts: list[str] = []
    keep_open = False
    n_groups = 0
    spark_pat: list[str] = []
    needs_cleanup = False
    lit_buf: list[str] = []

    def open_keep():
        nonlocal keep_open, n_groups
        if not keep_open:
            regex_parts.append("(")
            keep_open = True
            n_groups += 1

    def close_keep():
        nonlocal keep_open
        if keep_open:
            regex_parts.append(")")
            keep_open = False

    def flush_lit():
        if lit_buf:
            spark_pat.append(_java_quote_literal("".join(lit_buf)))
            lit_buf.clear()

    for kind, tok in _strftime_tokens(fmt):
        if kind == "lit":
            open_keep()
            regex_parts.append(_re_escape(tok))
            lit_buf.append(tok)
            continue
        if tok == "%%":
            open_keep()
            regex_parts.append("%")
            lit_buf.append("%")
            continue
        if tok == "%e":
            # space-padded day: drop the pad, keep the digits -> pattern 'd'
            close_keep()
            regex_parts.append(r"\s?")
            open_keep()
            regex_parts.append(r"\d{1,2}")
            flush_lit()
            spark_pat.append("d")
            needs_cleanup = True
            continue
        sp = _STRFTIME_TO_SPARK.get(tok)
        if sp is not None:
            open_keep()
            regex_parts.append(
                {
                    "%Y": r"\d{4}",
                    "%y": r"\d{2}",
                    "%m": r"\d{2}",
                    "%-m": r"\d{1,2}",
                    "%d": r"\d{2}",
                    "%-d": r"\d{1,2}",
                    "%b": r"[A-Za-z]{3}",
                    "%h": r"[A-Za-z]{3}",
                    "%B": r"[A-Za-z]+",
                    "%H": r"\d{2}",
                    "%-H": r"\d{1,2}",
                    "%I": r"\d{2}",
                    "%-I": r"\d{1,2}",
                    "%M": r"\d{2}",
                    "%S": r"\d{2}",
                    "%f": r"\d{6}",
                    "%z": r"[+-]\d{4}",
                    "%T": r"\d{2}:\d{2}:\d{2}",
                    "%R": r"\d{2}:\d{2}",
                }[tok]
            )
            flush_lit()
            spark_pat.append(sp)
            continue
        # discarded token: matched outside any keep group
        close_keep()
        regex_parts.append("(?:" + _STRFTIME_DISCARD_REGEX.get(tok, r"\S+") + ")")
        needs_cleanup = True

    close_keep()
    flush_lit()
    cleanup = "".join(regex_parts)
    return cleanup, "".join(spark_pat), (n_groups if needs_cleanup else 0)


# strftime -> Java OUTPUT pattern (the writer's inverse of
# translate_strftime). Discarded-on-read tokens render deterministic
# text the reader's discard regexes re-accept (%Z -> the session zone's
# literal 'UTC', %a/%A/%j derive from the date, %p/%P render AM/PM), so
# read(write(read(x))) == read(x) holds at the TYPED level even where
# the raw text can't be byte-identical (%e pad, %I hour-as-given).
_STRFTIME_TO_OUTPUT = {
    **_STRFTIME_TO_SPARK,
    "%e": "dd",      # zero-padded: the reader's [\s\d]\d regex and its
                     # 1-2-digit cleanup both accept it ('d' would emit
                     # 1 char for days < 10 and fail the line regex)
    "%Z": "zzz",     # the SESSION zone's name — a literal 'UTC' would
                     # contradict the other fields under a non-UTC
                     # session zone; reader discards it either way
    "%a": "EEE",
    "%A": "EEEE",
    "%j": "DDD",
    "%p": "a",
    "%P": "a",       # reader's discard regex accepts either case
    "%%": "'%'",
}


def strftime_to_output_pattern(fmt: str, session=None) -> str:
    """Java DateTimeFormatter OUTPUT pattern rendering a timestamp so the
    reader's ``translate_strftime(fmt)`` parse recovers the same instant.
    Raises ValueError on tokens with no deterministic rendering.

    ``session``: the SparkSession whose session zone the %Z guard must
    probe — the WRITER always has one (``df.sparkSession``) and threads
    it here; ``getActiveSession()`` is only the fallback for direct
    callers, and when both are absent the guard is skipped (no session
    means no session zone to validate against)."""
    out: list[str] = []
    lit_buf: list[str] = []

    def flush():
        if lit_buf:
            out.append(_java_quote_literal("".join(lit_buf)))
            lit_buf.clear()

    for kind, tok in _strftime_tokens(fmt):
        if kind == "lit":
            lit_buf.append(tok)
            continue
        if tok == "%Z":
            # 'zzz' renders the session zone's SHORT NAME — for zones
            # without a real abbreviation (GMT+05:30, Etc/GMT-5, and
            # named zones like Asia/Kathmandu) Java falls back to a
            # GMT-offset form whose digits/'+'/':' the reader's %Z
            # discard regex [A-Za-z/_]+ rejects, so written lines
            # would silently fail the line regex on read-back. Probe
            # the ACTUAL rendering (one winter + one summer instant,
            # covering DST abbreviations) and raise up front instead
            # of producing an unreadable corpus. Zone-ID chars are an
            # unreliable proxy: 'Asia/Kathmandu' has none yet renders
            # 'GMT+05:45', while 'EST5EDT' has a digit yet renders
            # pure-letter 'EST'/'EDT'.
            # NOTE: the probe checks two 2024 instants (one winter, one
            # summer — covering the DST pair); a zone whose abbreviation
            # form DIFFERED only historically could still slip through,
            # accepted: written data carries current-era timestamps and
            # the reader's %Z text is discarded anyway (zone names are
            # not instants), so the only risk is a cosmetic mismatch on
            # back-dated rows, never a wrong parse of a kept field.
            import re as _re2

            from pyspark.sql import SparkSession as _SS

            sess = session if session is not None else _SS.getActiveSession()
            if sess is not None:
                zone = sess.conf.get("spark.sql.session.timeZone", "UTC")
                rendered = sess.sql(
                    "SELECT date_format(TIMESTAMP'2024-01-15 10:00:00', 'zzz'),"
                    " date_format(TIMESTAMP'2024-07-15 10:00:00', 'zzz')"
                ).first()
                bad = [
                    s for s in rendered
                    if not _re2.fullmatch(r"[A-Za-z/_]+", s or "")
                ]
                if bad:
                    raise ValueError(
                        f"write_httpd_log cannot render %Z under session "
                        f"zone {zone!r}: 'zzz' renders {bad[0]!r}, which the "
                        "reader's %Z regex (zone NAMES only) rejects; set a "
                        "zone with a real abbreviation or drop %Z"
                    )
        sp = _STRFTIME_TO_OUTPUT.get(tok)
        if sp is None:
            raise ValueError(
                f"write_httpd_log cannot render strftime token {tok!r}"
            )
        flush()
        out.append(sp)
    flush()
    return "".join(out)


def strftime_value_and_pattern(raw: Column, fmt: str) -> tuple[Column, str]:
    """Return (cleaned value column, spark pattern) for one strftime field."""
    cleanup, spark_pat, n_keep = translate_strftime(fmt)
    if n_keep == 0:
        return raw, spark_pat
    repl = "".join(f"${i}" for i in range(1, n_keep + 1))
    return F.regexp_replace(raw, "^" + cleanup + "$", repl), spark_pat


# ---------------------------------------------------------------------------
# Timestamp group combination  (src/httpd_log_file_reader.cpp:191-308)
# ---------------------------------------------------------------------------
def timestamp_group_expr(parsed: ParsedFormat, group: TimestampGroup, parts: Column) -> Column:
    """Combine a group of consecutive %t captures into one TIMESTAMP column."""
    base: Column | None = None
    frac_us: Column | None = None
    strftime_vals: list[Column] = []
    strftime_pats: list[str] = []

    for i in group.field_indices:
        f = parsed.fields[i]
        v = group_value(parts, f.capture_index)
        t = f.timestamp_type
        if t == TsFormat.APACHE_DEFAULT:
            base = F.try_to_timestamp(v, F.lit(APACHE_TS_PATTERN))
        elif t == TsFormat.EPOCH_SEC:
            base = F.timestamp_seconds(v.try_cast("long"))
        elif t == TsFormat.EPOCH_MSEC:
            base = F.timestamp_millis(v.try_cast("long"))
        elif t == TsFormat.EPOCH_USEC:
            base = F.timestamp_micros(v.try_cast("long"))
        elif t == TsFormat.FRAC_MSEC:
            frac_us = v.try_cast("long") * F.lit(1000)
        elif t == TsFormat.FRAC_USEC:
            frac_us = v.try_cast("long")
        else:  # STRFTIME
            cleaned, pat = strftime_value_and_pattern(v, f.strftime_format)
            strftime_vals.append(cleaned)
            strftime_pats.append(pat)

    if base is None and strftime_vals:
        combined = strftime_vals[0] if len(strftime_vals) == 1 else F.concat_ws(" ", *strftime_vals)
        base = F.try_to_timestamp(combined, F.lit(" ".join(strftime_pats)))

    if base is None:
        return F.lit(None).cast("timestamp")
    if frac_us is not None:
        base = base + micros_to_interval(F.coalesce(frac_us, F.lit(0)))
    return base


def single_timestamp_expr(f: FormatField, parts: Column) -> Column:
    """A lone %t not in a group (always APACHE_DEFAULT per grouping rules)."""
    v = group_value(parts, f.capture_index)
    return F.try_to_timestamp(v, F.lit(APACHE_TS_PATTERN))


# ---------------------------------------------------------------------------
# Scalar field conversion  (src/httpd_log_file_reader.cpp:582-654)
# ---------------------------------------------------------------------------
def regular_field_expr(f: FormatField, parts: Column) -> Column:
    v = group_value(parts, f.capture_index)
    if f.type == VARCHAR:
        if f.directive == "%X":
            return (
                F.when(v == "X", F.lit("aborted"))
                .when(v == "+", F.lit("keepalive"))
                .when(v == "-", F.lit("close"))
                .otherwise(v)
            )
        return F.when(v == "-", F.lit(None).cast("string")).otherwise(v)
    if f.type == INTEGER:
        return v.try_cast("int")
    if f.type == BIGINT:
        if f.column_name in BYTES_COLUMNS or (
            f.column_name.rsplit("_", 1)[0] in BYTES_COLUMNS and f.column_name.rsplit("_", 1)[-1].isdigit()
        ):
            # "-" means zero bytes for the byte-count family (%b semantics)
            return F.when(v == "-", F.lit(0).cast("bigint")).otherwise(v.try_cast("bigint"))
        return v.try_cast("bigint")
    if f.type == INTERVAL:
        us = v.try_cast("bigint")
        # Unit multiplier quirk parity: only the exact directive %T applies
        # its unit scaling; %>T / %<T values are taken as raw microseconds
        # (src/httpd_log_file_reader.cpp:639).
        if f.directive == "%T":
            if f.modifier == "ms":
                us = us * F.lit(1000)
            elif f.modifier == "us":
                pass
            else:
                us = us * F.lit(1_000_000)
        elif f.directive in ("%D", "%>D", "%<D", "%>T", "%<T"):
            pass
        return micros_to_interval(us)
    # boolean/timestamp never reach here
    return v


# ---------------------------------------------------------------------------
# %r request-line decomposition  (src/httpd_log_format_parser.cpp:767-788,
# NULL rule src/httpd_log_file_reader.cpp:508-517)
# ---------------------------------------------------------------------------
def request_tokens_expr(f: FormatField, parts: Column) -> Column:
    """The whitespace tokenization of the captured request — the ONE
    expensive step of the %r decomposition. Projected as its own
    barrier-wrapped intermediate column by the reader so the split runs
    once per row; codegen's subexpression elimination does NOT hoist
    expressions out of CASE WHEN branches, so inlining this tree into
    each of the four sub-columns re-ran the regex split per column
    (measured: +1.1 s on a 2M-line pipeline for 3 columns)."""
    req = group_value(parts, f.capture_index)
    return F.split(F.ltrim(req), r"\s+", -1)


def request_subcolumn_exprs(
    f: FormatField, parts: Column, toks: Optional[Column] = None
) -> dict[str, Column]:
    """Decompose the captured request into method/path/query_string/protocol.

    Mirrors `iss >> method >> full_path >> protocol`: needs ≥3 whitespace
    tokens; on failure the string sub-columns are '' and query_string NULL.
    query_string keeps its leading '?'; empty query -> NULL.
    ``toks`` overrides the token source with a pre-projected column (see
    request_tokens_expr)."""
    if toks is None:
        toks = request_tokens_expr(f, parts)
    ok = F.size(toks) >= 3
    method = F.when(ok, F.element_at(toks, 1)).otherwise(F.lit(""))
    full = F.element_at(toks, 2)
    protocol = F.when(ok, F.element_at(toks, 3)).otherwise(F.lit(""))
    qpos = F.instr(full, "?")
    path = F.when(
        ok, F.when(qpos > 0, F.substring(full, F.lit(1), (qpos - 1).cast("int"))).otherwise(full)
    ).otherwise(F.lit(""))
    query = F.when(
        ok & (qpos > 0), F.substring(full, qpos.cast("int"), F.lit(2147483646))
    ).otherwise(F.lit(None).cast("string"))
    return {"method": method, "path": path, "query_string": query, "protocol": protocol}
