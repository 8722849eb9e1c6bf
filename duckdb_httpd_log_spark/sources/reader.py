"""`read_httpd_log` — the PySpark-native Apache access-log source.

Bind-time work (format resolution, 10-line sampling, regex + schema
compilation) runs on the driver, mirroring the reference's bind phase
(saygox/duckdb-httpd-log `src/httpd_log_multi_file_info.cpp:90-234`).
Execution is a narrow, shuffle-free Catalyst plan:

    text scan → one anchored regexp_replace → split → typed projections

which whole-stage-codegen compiles into a single JVM loop. Parallelism is
per file split (plain text additionally splits by byte range — strictly
more parallel than the reference's one-thread-per-file model,
`src/httpd_log_multi_file_info.cpp:236-249`; gzip stays one-partition-
per-file, identical granularity). The Catalyst expressions of that parse
(the parse program) are built once per format and mode per process
(``_program``); later binds and every pushdown re-plan reuse them.

Raw mode (`raw=True`) keeps every non-empty line, flags the unparsed
ones, and numbers lines per file, counting empty and unparseable lines
(`src/httpd_log_file_reader.cpp:377-392`). It uses the same splittable
text scan and the same one-regex parse as the fast path;
``line_number`` comes from per-(file, block) offsets joined back to the
lines (``_raw_lines_df_jvm``). That join is an outer join Catalyst
removes when ``line_number`` is not read, so only a query that selects
or filters on ``line_number`` pays for a second pass over the files.
Gzip files named without a codec extension, which Spark's text scan
cannot decompress, stream through a per-task Python line reader that
numbers lines as it goes (``_raw_lines_df``).
"""

from __future__ import annotations

import gzip as _gzip
import hashlib as _hashlib
import io
import os
import threading
from typing import Any, NamedTuple, Optional, Sequence, Union

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import exprs as X
from . import fs as FS
from .conf import parse_config_file
from .logformat import (
    BOOLEAN,
    COMBINED_FORMAT,
    COMMON_FORMAT,
    _REQUEST_DIRECTIVES,
    ParsedFormat,
    TsFormat,
    detect_format,
    generate_schema,
    parse_format_string,
)
from .pushdown import LineFilterableFrame, cnf_predicate, pushdown_context

PathLike = Union[str, Sequence[str]]

SAMPLE_LINES = 10


# ---------------------------------------------------------------------------
# Driver-side sampling (bind-time probe; mirrors ReadSampleLines,
# src/httpd_log_multi_file_info.cpp:12-29,94-109)
# ---------------------------------------------------------------------------


# Extensions Hadoop's compression-codec factory resolves for Spark's text
# scan. A gzip file NAMED outside this set would be read as raw bytes by
# spark.read.text, so every line would fail the regex and be silently
# dropped — the reference decompresses by content (AUTO_DETECT on open,
# src/httpd_log_buffered_reader.cpp:6), so those files are detected at
# bind time and routed through a per-file binary+gunzip path instead.
_CODEC_EXTS = {".gz", ".gzip", ".bz2", ".deflate", ".zst", ".zstd", ".snappy", ".lz4"}


def _gzip_by_magic(fname: str, spark: Optional[SparkSession] = None) -> bool:
    try:
        return FS.read_head(spark, fname, 2) == b"\x1f\x8b"
    except OSError:
        return False


def _split_misnamed_gzip(
    files: list[str], spark: Optional[SparkSession] = None
) -> tuple[list[str], list[str]]:
    """Partition files into (extension-routed, gzip-by-magic-but-misnamed).

    The 2-byte magic probe runs only for files whose extension is NOT a
    known codec extension, so the bind-time cost is bounded by the number
    of oddly-named files, not total data size."""
    plain, misnamed = [], []
    for f in files:
        ext = os.path.splitext(f)[1].lower()
        if ext not in _CODEC_EXTS and _gzip_by_magic(f, spark):
            misnamed.append(f)
        else:
            plain.append(f)
    return plain, misnamed


def _open_text(fname: str) -> io.TextIOBase:
    """Open a local log file for driver-side sampling, sniffing gzip magic."""
    with open(fname, "rb") as fh:
        magic = fh.read(2)
    if magic == b"\x1f\x8b":
        return io.TextIOWrapper(_gzip.open(fname, "rb"), encoding="utf-8", errors="replace")
    return open(fname, "r", encoding="utf-8", errors="replace")


# Bounded head read for remote sampling: one ranged request per file, big
# enough for 10 lines of any realistic log (the reference's sampler is
# equally buffered — ReadSampleLines pulls lines through a fixed-size
# BufferedReader, src/httpd_log_multi_file_info.cpp:12-29).
_REMOTE_SAMPLE_BYTES = 1 << 20


def _sample_lines_remote(
    spark: Optional[SparkSession], fname: str, budget: int
) -> list[str]:
    data = FS.read_head(spark, fname, _REMOTE_SAMPLE_BYTES)
    # Judge truncation on the RAW head, before gzip inflation replaces
    # `data`: a partially-fetched .gz member inflates to an arbitrary
    # length (so comparing the inflated size to the byte budget is
    # meaningless), yet its tail line is still cut mid-way.
    truncated = len(data) == _REMOTE_SAMPLE_BYTES
    if data[:2] == b"\x1f\x8b":
        try:
            data = _gzip.decompress(data)
        except (OSError, EOFError) as exc:  # truncated member: keep what inflated
            data = getattr(exc, "partial", b"") or _gzip_head_inflate(data)
            truncated = True  # the inflate itself stopped mid-stream
    text = data.decode("utf-8", errors="replace")
    lines = text.splitlines()
    if truncated and lines and not text.endswith(("\n", "\r")):
        lines = lines[:-1]  # last line may be cut mid-way by the byte budget
    return [ln for ln in lines if ln][:budget]


def _gzip_head_inflate(data: bytes) -> bytes:
    import zlib

    try:
        return zlib.decompressobj(wbits=16 + zlib.MAX_WBITS).decompress(data)
    except zlib.error:
        return b""


def read_sample_lines(
    files: list[str],
    max_lines: int = SAMPLE_LINES,
    spark: Optional[SparkSession] = None,
) -> list[str]:
    sample: list[str] = []
    for fname in files:
        try:
            if FS.has_scheme(fname):
                sample.extend(_sample_lines_remote(spark, fname, max_lines - len(sample)))
            else:
                with _open_text(fname) as fh:
                    for line in fh:
                        line = line.rstrip("\n").rstrip("\r")
                        if line:
                            sample.append(line)
                        if len(sample) >= max_lines:
                            break
        except OSError:
            continue
        if len(sample) >= max_lines:
            break
    return sample


# ---------------------------------------------------------------------------
# Bind: resolve the format (precedence: format_str > conf > format_type >
# auto-detect; src/httpd_log_multi_file_info.cpp:126-226)
# ---------------------------------------------------------------------------
def _match_count(sample_lines: list[str], parsed: ParsedFormat) -> int:
    return sum(1 for ln in sample_lines if ln and parsed.parse_line(ln) is not None)


def resolve_format(
    files: list[str],
    format_type: Optional[str],
    format_str: Optional[str],
    conf: Optional[str],
    raw: bool,
    spark: Optional[SparkSession] = None,
) -> tuple[ParsedFormat, str, bool]:
    """Return (parsed_format, resolved_format_type, raw_mode)."""
    if format_str:
        return parse_format_string(format_str), format_type or "custom", raw

    if conf:
        entries = sorted(parse_config_file(conf, spark), key=lambda e: e.line_number)
        if not files:
            raise ValueError("No files found for httpd log reading")
        sample = read_sample_lines(files, spark=spark)
        half = len(sample) // 2

        if format_type:
            for e in entries:
                if e.format_type == "named" and e.nickname == format_type and e.format_string:
                    parsed = parse_format_string(e.format_string)
                    m = _match_count(sample, parsed)
                    if m > 0 and m >= half:
                        return parsed, format_type, raw
            raise ValueError(
                f"Format '{format_type}' in conf file '{conf}' not found or "
                "does not match the log file format"
            )
        for wanted in ("default", "inline", "named"):
            for e in entries:
                if e.format_type == wanted and e.format_string:
                    parsed = parse_format_string(e.format_string)
                    m = _match_count(sample, parsed)
                    if m > 0 and m >= half:
                        return parsed, (e.nickname or wanted), raw
        raise ValueError(f"No matching format found in conf file '{conf}' for the log file")

    if format_type:
        if format_type == "common":
            return parse_format_string(COMMON_FORMAT), "common", raw
        if format_type == "combined":
            return parse_format_string(COMBINED_FORMAT), "combined", raw
        raise ValueError(
            f"Invalid format_type '{format_type}'. Supported formats: 'common', "
            "'combined'. Or use format_str for custom formats, or conf for "
            "httpd.conf lookup."
        )

    if not files:
        raise ValueError("No files found for httpd log reading")
    detected, parsed = detect_format(read_sample_lines(files, spark=spark))
    if detected == "unknown":
        return parsed, "unknown", True  # force raw mode with minimal schema
    return parsed, detected, raw


# ---------------------------------------------------------------------------
# Execution plan assembly
# ---------------------------------------------------------------------------
_SPARK_TYPES = {
    "string": T.StringType(),
    "int": T.IntegerType(),
    "bigint": T.LongType(),
    "timestamp": T.TimestampType(),
    "interval": T.DayTimeIntervalType(T.DayTimeIntervalType.DAY, T.DayTimeIntervalType.SECOND),
    "boolean": T.BooleanType(),
}


def _schema_json(schema: list, hive_keys: Sequence[str] = ()) -> str:
    """JSON of the StructType a scan of ``schema`` (name, type) pairs
    emits, plus the hive partition key columns."""
    fields = [T.StructField(n, _SPARK_TYPES[t]) for n, t in schema]
    fields += [T.StructField(k, T.StringType()) for k in hive_keys]
    return T.StructType(fields).json()


def _normalize_file_uri(col):
    """file:-URI -> plain path with %XX unescaped. `_metadata.file_path`
    percent-encodes special characters, but a literal '+' in a path is a
    plain character — shield it so url_decode (which would turn it into
    a space, form-urlencoding style) leaves it intact. Deterministic, so
    a predicate on the result still reaches Spark's file index."""
    stripped = F.regexp_replace(col, "^file:(//)?", "")
    return F.url_decode(F.regexp_replace(stripped, r"\+", "%2B"))


def _error_fill(typ: str):
    """Cell value for unparseable rows in raw mode: '' for VARCHAR, else
    NULL (src/httpd_log_file_reader.cpp:488-536)."""
    if typ == "string":
        return F.lit("")
    return F.lit(None).cast(_SPARK_TYPES[typ])


def _projection(parsed: ParsedFormat, ok: Optional[Column], parts) -> tuple[list, list]:
    """Build the typed output columns (excluding metadata columns).

    ``ok`` (raw mode) guards each column with ``CASE WHEN ok`` so an
    unparsed row gets its fill value; the fast path passes None, since
    its ``keep`` Filter below has already dropped every row failing
    ``ok``, and a user predicate pushed into that Filter is ANDed after
    it.

    Returns ``(pre, cols)``: ``pre`` is a list of INTERMEDIATE columns
    (currently the %r token arrays, one per request field) that must be
    projected in a select BELOW the one carrying ``cols``. Codegen's
    subexpression elimination does not hoist expressions out of CASE
    WHEN branches, so inlining the whitespace split into each of the
    four request sub-columns re-ran it per column; projecting it once
    as its own attribute makes the decomposition cost one split per
    row. The two-select shape survives optimization WITHOUT a
    materialization barrier because CollapseProject refuses to inline
    a non-cheap producer referenced more than once. ``pre`` is empty
    for request-free formats — the caller skips the extra select
    entirely."""
    cols: list = []
    pre: list = []
    seen_groups: set[int] = set()

    def guard(e, fill):
        return e if ok is None else F.when(ok, e).otherwise(fill)

    for f in parsed.fields:
        if f.should_skip:
            continue
        if f.directive == "%t":
            gid = f.timestamp_group_id
            if gid >= 0:
                if gid in seen_groups:
                    continue
                seen_groups.add(gid)
                e = X.timestamp_group_expr(parsed, parsed.timestamp_groups[gid], parts)
            else:
                e = X.single_timestamp_expr(f, parts)
            cols.append(guard(e, F.lit(None).cast("timestamp")).alias(f.column_name))
        elif f.directive in _REQUEST_DIRECTIVES:
            # no materialization_barrier here: CollapseProject already
            # refuses to inline a NON-CHEAP producer expression
            # referenced more than once, which is exactly the protection
            # the token array needs — and when only one sub-column is
            # selected, collapsing back to a single Project is the
            # better plan anyway. Pinned by
            # tests/test_plans.py::test_request_tokens_split_once.
            tok_name = f"__rq{len(pre)}"
            pre.append(X.request_tokens_expr(f, parts).alias(tok_name))
            sub = X.request_subcolumn_exprs(f, parts, toks=F.col(tok_name))
            for name, flag in (
                ("method", f.skip_method),
                ("path", f.skip_path),
                ("query_string", f.skip_query_string),
                ("protocol", f.skip_protocol),
            ):
                if flag:
                    continue
                fill = F.lit(None).cast("string") if name == "query_string" else F.lit("")
                cols.append(guard(sub[name], fill).alias(name))
        else:
            e = X.regular_field_expr(f, parts)
            cols.append(guard(e, _error_fill(f.type)).alias(f.column_name))
    return pre, cols


class _Program(NamedTuple):
    """The parse program: Catalyst expressions that turn a line frame
    into the schema's columns, the lists held as JVM ``Seq[Column]`` so
    each operator costs one py4j call. Fast path only: ``lines`` projects
    a text scan to (value, __f), ``paths`` splits a path list (see
    _fast_lines_df), ``keep`` drops unparsed rows. ``head`` projects the
    barrier-wrapped match tokens ``__m`` next to the line frame's other
    columns (__f; raw mode: log_file, line_number, line), ``pre`` adds
    the %r token columns (see _projection), ``cols`` selects the output
    columns in schema order; None marks a step that is skipped."""

    lines: Any
    paths: Any
    head: Any
    keep: Optional[Column]
    pre: Any
    cols: Any


def _seq(cols: list) -> Any:
    from pyspark import SparkContext

    return SparkContext._jvm.PythonUtils.toSeq([c._jc for c in cols])


def _compile_program(parsed: ParsedFormat, raw: bool) -> _Program:
    """In both modes the split match tokens are materialized once
    behind a barrier, so every consumer of the match shares ONE regex
    execution and ONE split per line (without it, predicate pushdown
    inlines them into each operator — measured ~15% slower). Fast path
    (raw=False) over (value, __f): the consumers are the drop-unparsed
    Filter and the typed Projection. ``__f`` is the decoded
    ``_metadata.file_path``, deterministic, so a predicate on log_file
    passes the barrier down to the text scan, where Spark's file index
    applies it. Raw mode over (log_file, line_number, line) keeps every
    row and flags the unparsed ones; the consumers are ``parse_error``
    (and a user's filter on it), the %r token columns and the typed
    Projection."""
    from pyspark import SparkContext

    n = parsed.num_capture_groups
    line = F.col("line" if raw else "value")
    parts = F.col("__m")
    ok = X.match_ok(parts, n) if parsed.fields else F.lit(False)
    pre, cols = _projection(parsed, ok if raw else None, parts)
    pre = _seq([F.col("*"), *pre]) if pre else None
    m = X.materialization_barrier(X.match_tokens(line, parsed.regex_pattern, n)).alias("__m")
    if raw:
        cols += [
            F.col("log_file"),
            F.col("line_number"),
            (~ok).alias("parse_error"),
            line.alias("raw_line"),
        ]
        head = [F.col("log_file"), F.col("line_number"), line, m]
        return _Program(None, None, _seq(head) if parsed.fields else None, None, pre, _seq(cols))
    cols.append(F.col("__f").alias("log_file"))
    return _Program(
        _seq([line, _normalize_file_uri(F.col("_metadata.file_path")).alias("__f")]),
        SparkContext._jvm.java.util.regex.Pattern.compile("\x00"),
        _seq([m, F.col("__f")]) if parsed.fields else None,
        ok,
        pre,
        _seq(cols),
    )


# Compiled programs and raw mode's line numbering (_compile_numbering),
# least recently used first. Building a program costs about a thousand
# py4j round trips, which dominated every interactive query's bind and
# pushdown re-plan. Entries are unresolved expressions only (no
# data, no plan, no Spark cache entry), valid in any session of the JVM
# that built them.
_PROGRAMS: dict = {}
_PROGRAMS_MAX = 32
_PROGRAMS_LOCK = threading.Lock()


def _cached(key: tuple, build) -> Any:
    """``build()``, kept in _PROGRAMS under ``key`` plus the live py4j
    gateway, so a relaunched JVM never sees another JVM's expressions."""
    from pyspark import SparkContext

    key = (*key, SparkContext._gateway)
    with _PROGRAMS_LOCK:
        val = _PROGRAMS.pop(key, None) or build()
        _PROGRAMS[key] = val  # (re)inserted as the most recently used
        if len(_PROGRAMS) > _PROGRAMS_MAX:
            del _PROGRAMS[next(iter(_PROGRAMS))]
    return val


def _program(parsed: ParsedFormat, raw: bool) -> _Program:
    """The compiled program for ``parsed`` in the given mode. The key is
    the WHOLE format — its dataclass repr carries every modifier,
    strftime layout and column name, which the regex alone does not
    (%T and %{ms}T share one)."""
    return _cached((repr(parsed), raw), lambda: _compile_program(parsed, raw))


def _apply_program(df: DataFrame, prog: _Program) -> DataFrame:
    jdf = df._jdf
    if prog.head is not None:
        jdf = jdf.select(prog.head)
    if prog.keep is not None:
        jdf = jdf.filter(prog.keep._jc)
    if prog.pre is not None:
        jdf = jdf.select(prog.pre)
    return DataFrame(jdf.select(prog.cols), df.sparkSession)


def _line_keep(line_filter: Optional[str] = None, cnf=None) -> Column:
    """The ONE line Filter: drops empty lines and lines failing the
    raw-line needles (``line_filter``, the pushdown's CNF) before the
    parse regex runs. It goes on the text scan, below the (value, __f)
    projection, so __f is decoded only for the lines it keeps."""
    value = F.col("value")
    keep = F.length(value) > 0
    if line_filter:
        keep = keep & value.contains(line_filter)
    if cnf:
        keep = keep & cnf_predicate(cnf, value)
    return keep


def _attach_hive_cols(df: DataFrame, keys: list[str]) -> DataFrame:
    """Attach hive `key=value` directory segments of ``log_file`` as
    string columns. Shared by the scan projection AND the tiny
    listing-pruning frame (sources/pushdown.py), so a predicate on a
    partition key evaluates identically against rows and against the
    bind-time listing — the basis for whole-file partition pruning."""
    import re as _re

    for key in keys:
        raw_val = F.regexp_extract(
            F.col("log_file"), f"(?:^|/){_re.escape(key)}=([^/]*)/", 1
        )
        # unescape %XX like Spark's unescapePathName; '+' is a literal
        # character in partition paths (url_decode would eat it), so
        # shield it before decoding; fall back to the raw value on
        # invalid escapes
        shielded = F.regexp_replace(raw_val, r"\+", "%2B")
        df = df.withColumn(key, F.coalesce(F.try_url_decode(shielded), raw_val))
    return df


def _hive_partition_keys(files: list[str]) -> list[str]:
    """Ordered `key=value` directory keys shared by every file; raises if
    files disagree (the host MultiFile layer's hive_partitioning option —
    `src/httpd_log_multi_file_info.cpp:232-233` — has the same
    consistent-scheme requirement)."""
    import re as _re

    def keys_of(f: str) -> list[str]:
        out = []
        for seg in f.split("/")[:-1]:
            m = _re.match(r"([^=]+)=(.*)", seg)
            if m:
                out.append(m.group(1))
        return out

    first = keys_of(files[0])
    for f in files[1:]:
        if keys_of(f) != first:
            raise ValueError(
                f"hive_partitioning=True but partition keys differ between "
                f"'{files[0]}' and '{f}'"
            )
    if not first:
        raise ValueError(
            "hive_partitioning=True but no key=value directory segments found "
            f"in '{files[0]}'"
        )
    return first


def read_httpd_log(
    spark: SparkSession,
    path: PathLike,
    format_type: Optional[str] = None,
    format_str: Optional[str] = None,
    conf: Optional[str] = None,
    raw: bool = False,
    hive_partitioning: bool = False,
    line_filter: Optional[str] = None,
) -> DataFrame:
    """Parse Apache httpd access logs into a typed DataFrame.

    Same argument surface and schema contract as the reference's
    ``read_httpd_log`` table function (registration
    `src/httpd_log_table_function.cpp:893-903`); ``hive_partitioning``
    mirrors the MultiFile-layer option the host engine can add
    (`src/httpd_log_multi_file_info.cpp:232-233`): `key=value` directory
    segments become trailing string columns. The columns derive from the
    per-row file path, so Catalyst folds an equality filter on them into
    a file-path predicate evaluated before parsing.

    ``line_filter`` (beyond-reference, fast path only) is a SUBSTRING
    pre-filter applied to the raw line BEFORE the parse regex runs:
    Catalyst cannot push a post-parse predicate below the single-pass
    regexp projection, so a needle-in-haystack scan ("only lines
    mentioning /api/") otherwise pays full parse cost for every line.
    `Contains` is a cheap vectorized byte scan; selective needles cut
    scan time several-fold at log scale. Semantically equal to parsing
    everything then filtering rows whose RAW LINE contains the needle
    (a typed-column filter may differ: e.g. a needle matching the
    user-agent also keeps rows whose path doesn't match). Raw mode
    ignores it — raw mode's per-file line numbers must count every
    line.

    Fast-mode results additionally perform the AUTOMATIC form of this
    pushdown (sources/pushdown.py): ``read_httpd_log(...).filter(
    col("status") == 500)`` derives a sound Contains needle from the
    typed predicate, re-issues the scan with it below the parse regex,
    and re-applies the exact predicate on top — value-identical, but
    non-matching lines never reach the regex. The parse program is
    compiled once per format and mode per process.

    The fast-mode plan is built on first use, not here (a pushed-down
    filter builds only its re-planned scan), so a text-scan error
    surfaces then."""
    files = FS.expand_paths(path, spark)
    parsed, _ftype, raw_mode = resolve_format(files, format_type, format_str, conf, raw, spark)
    if not files:
        raise ValueError("No files found for httpd log reading")
    schema = generate_schema(parsed, raw_mode)
    hive_keys = _hive_partition_keys(files) if hive_partitioning else []
    names = {name for name, _t in schema}
    for key in hive_keys:
        if key in names:
            raise ValueError(
                f"hive_partitioning=True but partition key '{key}' collides "
                "with a log schema column"
            )
    prog = _program(parsed, raw_mode)

    if raw_mode:
        return _attach_hive_cols(_read_raw(spark, files, prog), hive_keys)

    # fast mode: wrap so a typed filter directly on the result can be
    # turned into a raw-line Contains pre-filter (sources/pushdown.py).
    # Verbatim columns = regex captures emitted unchanged: strings
    # except %X's remapped values; int/bigint digit tokens. Timestamps,
    # intervals, booleans, log_file, and hive keys are excluded.
    split: list = []  # (plain, misnamed gzip) of ``files``, probed once

    def _rebuild(cnf=None, subset=None):
        # re-plan over the BIND-TIME file list (or the subset of it the
        # per-file range test kept), not the original pattern: a
        # re-expanded glob could pick up files created since the read,
        # silently making the pushed plan see MORE data than the naive
        # plan it must be value-identical to
        if not split:
            split.append(_split_misnamed_gzip(files, spark))
        plain, misnamed = split[0]
        if subset is not None:
            keep = set(subset)
            plain = [f for f in plain if f in keep]
            misnamed = [f for f in misnamed if f in keep]
        scan = _fast_lines_df(spark, plain, misnamed, prog, _line_keep(line_filter, cnf))
        return _attach_hive_cols(_apply_program(scan, prog), hive_keys)

    # (bind path, row-visible log_file value) pairs for the column-stats
    # range test — only when the mapping is provable: local paths
    # normalize to os.path.abspath (what _metadata.file_path round-trips
    # to through _normalize_file_uri). Remote schemes (s3a/hdfs/viewfs/
    # ...) bind to the listing's own Path.toString URIs, which
    # _metadata.file_path percent-encodes and _normalize_file_uri decodes
    # back — an exact round-trip whenever the listed URI carries no
    # literal '%' of its own (a '%'-bearing remote name is ambiguous
    # between encoded and literal, so the range test disables there;
    # the needles and Spark's file index still apply).
    import os.path as _osp

    from .fs import _uri_path as _fs_uri_path

    def _visible_value(f):
        if not FS.has_scheme(f):
            return _osp.abspath(f)
        if FS.scheme_of(f) == "file":
            return _fs_uri_path(f)
        return f if "%" not in f else None

    _vis = [_visible_value(f) for f in files]
    file_pairs = (
        list(zip(files, _vis)) if all(v is not None for v in _vis) else None
    )

    return LineFilterableFrame(
        spark,
        _schema_json(schema, hive_keys),
        _rebuild,
        pushdown_context(parsed, schema),
        file_pairs=file_pairs,
        files=files,
        # column-stats cache scope: stats describe the rows THIS reader
        # config parses out of a file, so the cache key carries the
        # compiled regex + line_filter (r13 ADVICE: a second reader
        # with a different format/line_filter must not reuse stats
        # computed over a narrower row view)
        colstats_fp=_hashlib.md5(
            f"{parsed.regex_pattern}\x00{line_filter or ''}".encode()
        ).hexdigest(),
    )


def _fast_lines_df(
    spark: SparkSession,
    plain: list[str],
    misnamed: list[str],
    prog: _Program,
    keep: Column,
) -> DataFrame:
    """DataFrame[(value, __f)] of the raw lines passing ``keep`` (see
    _line_keep): the splittable text scan for the extension-routed files
    ``plain``, unioned with a streamed-decompress branch for ``misnamed``,
    the content-detected gzip files lacking a codec extension (see
    _split_misnamed_gzip; the per-file streaming reader inflates through
    a 2 MiB buffer — no whole-file value row, same memory contract as the
    raw path). That branch has no ``_metadata``, so a log_file predicate
    filters its rows but skips none of its files. The path list crosses
    py4j as one NUL-joined string (NUL cannot occur in a path), split in
    the JVM by the program's ``paths``."""
    dfs = []
    if plain:
        # scheme-less paths were expanded against the LOCAL filesystem
        # at bind time (fs.expand_paths), so qualify them as file: URIs
        # here: on a cluster whose defaultFS is hdfs, a bare absolute
        # path would otherwise resolve to a DIFFERENT filesystem than
        # both the bind-time sampling and raw mode's iter_log_lines
        # (r5 ADVICE). log_file output is unchanged — the file: prefix
        # is stripped by _normalize_file_uri.
        from .fs import has_scheme

        import os.path

        qualified = [p if has_scheme(p) else f"file://{os.path.abspath(p)}" for p in plain]
        jdf = spark._jsparkSession.read().text(prog.paths.split("\x00".join(qualified)))
        dfs.append(DataFrame(jdf.filter(keep._jc).select(prog.lines), spark))
    if misnamed:
        dfs.append(
            _raw_lines_df(spark, misnamed).select(
                F.col("line").alias("value"), F.col("log_file").alias("__f")
            ).filter(keep)
        )
    df = dfs[0]
    for d in dfs[1:]:
        df = df.unionByName(d)
    return df


_RAW_BATCH_ROWS = 8192


def _raw_lines_df(spark: SparkSession, files: list[str]) -> DataFrame:
    """DataFrame[(log_file, line_number, line)] streamed file-by-file.

    Per-file line numbers need per-file ordering, but the old
    wholetext+posexplode route held each file as ONE row (~2-3x file
    size of task memory — a 10 GB rotated log OOMs the executor, where
    the reference streams lines through a 2 MB buffer,
    src/httpd_log_buffered_reader.cpp:5-57). Here each task streams its
    files through `iter_log_lines` (lazy local read, gzip sniffed by
    magic bytes, CR-stripped lines, no phantom line after a trailing
    newline) and ships bounded Arrow batches — memory is
    O(batch), not O(file). One file per task preserves the reference's
    one-reader-per-file parallelism unit; line parsing stays downstream
    in the codegen'd Catalyst projection.
    """
    import os.path

    import pandas as pd

    from .fs import has_scheme, iter_log_lines

    # absolutize local paths so log_file matches the fast path's
    # normalized _metadata.file_path form (absolute, file: URI stripped)
    files = [f if has_scheme(f) else os.path.abspath(f) for f in files]
    # one file per task up to a cap: a task streams its files
    # sequentially (per-file numbering is inside the iterator), so a
    # million rotated logs become a bounded number of tasks instead of
    # a million
    n_tasks = min(len(files), max(spark.sparkContext.defaultParallelism * 4, 32))
    paths = spark.createDataFrame([(f,) for f in files], "path string").repartition(
        n_tasks
    )

    def stream(batches):
        fs: list[str] = []
        ns: list[int] = []
        ls: list[str] = []
        for pdf in batches:
            for fname in pdf["path"]:
                for line_number, line in iter_log_lines(fname):
                    if not line:
                        continue  # empty lines advance the counter, emit no row
                    fs.append(fname)
                    ns.append(line_number)
                    ls.append(line)
                    if len(fs) >= _RAW_BATCH_ROWS:
                        yield pd.DataFrame(
                            {"log_file": fs, "line_number": ns, "line": ls}
                        )
                        fs, ns, ls = [], [], []
        if fs:
            yield pd.DataFrame({"log_file": fs, "line_number": ns, "line": ls})

    return paths.mapInPandas(
        stream, schema="log_file string, line_number bigint, line string"
    )


class _Numbering(NamedTuple):
    """Raw mode's per-file line numbering (see _raw_lines_df_jvm) as JVM
    objects, so each of its plan steps costs one py4j call. It does not
    depend on the format, so one instance serves every raw read."""

    paths: Any  # splits the NUL-joined path list
    lines: Any  # text scan -> (line, log_file, __bstart, __mid)
    blocks: Any  # the (file, block) group keys, renamed for the join
    shift: Any  # per block: line_number - __mid
    no_cols: Any  # the empty Seq the broadcast hint takes
    nonempty: Any
    on: Any  # the join condition
    out: Any  # (log_file, line_number, line)


def _compile_numbering() -> _Numbering:
    from pyspark import SparkContext

    per_file = Window.partitionBy("log_file").orderBy("__bstart")
    before = per_file.rowsBetween(Window.unboundedPreceding, -1)
    lines_before = F.coalesce(F.sum(F.count(F.lit(1))).over(before), F.lit(0))
    return _Numbering(
        SparkContext._jvm.java.util.regex.Pattern.compile("\x00"),
        _seq([
            F.col("value").alias("line"),
            _normalize_file_uri(F.col("_metadata.file_path")).alias("log_file"),
            F.col("_metadata.file_block_start").alias("__bstart"),
            F.monotonically_increasing_id().alias("__mid"),
        ]),
        _seq([F.col("log_file").alias("__o_file"), F.col("__bstart").alias("__o_bstart")]),
        (lines_before + 1 - F.min("__mid")).alias("__shift")._jc,
        _seq([]),
        (F.length("line") > 0)._jc,
        ((F.col("log_file") == F.col("__o_file"))
         & (F.col("__bstart") == F.col("__o_bstart")))._jc,
        _seq([
            F.col("log_file"),
            (F.col("__mid") + F.col("__shift")).alias("line_number"),
            F.col("line"),
        ]),
    )


def _raw_lines_df_jvm(spark: SparkSession, files: list[str]) -> DataFrame:
    """Split-parallel JVM raw-line reader: DataFrame[(log_file,
    line_number, line)] for files Spark's codec factory handles by NAME
    (plain text and properly-named .gz). Per-file line numbers are
    recovered WITHOUT per-file tasks:

    1. every split carries `_metadata.file_block_start`, and a split's
       rows are contiguous under `monotonically_increasing_id`, so
       `mid - min(mid)` per (file, block) is the exact in-split line
       index;
    2. per-(file, block) line counts (empty lines INCLUDED — they
       advance the counter) prefix-sum per file over block starts into
       each block's first line number; one small aggregate computes
       both, as the block's ``line_number - mid``, broadcast back;
    3. line_number = mid + that shift; empty lines are dropped after
       ``mid`` is assigned and before the join.

    The offsets join is a LEFT outer join: every line matches exactly
    one block of the same relation, so it is value-identical to an
    inner join. The offsets are unique on the join keys (their group
    keys), so Catalyst drops the whole offsets side (its second read of
    the files, the aggregate, the window and the broadcast) whenever
    ``line_number`` is not referenced. When it is referenced,
    both reads scan the same deterministic file splits (leaf scan,
    fixed listing), so the nondeterministic-by-annotation mid is
    reproducible between them; parity with the Python streamer is
    pinned in tests (CRLF, gzip, junk, multi-split).
    """
    num = _cached(("numbering",), _compile_numbering)
    df = spark._jsparkSession.read().text(num.paths.split("\x00".join(files))).select(num.lines)
    offs = df.groupBy(num.blocks).agg(num.shift, num.no_cols).hint("broadcast", num.no_cols)
    joined = df.filter(num.nonempty).join(offs, num.on, "left")
    return DataFrame(joined.select(num.out), spark)


def _read_raw(spark: SparkSession, files: list[str], prog: _Program) -> DataFrame:
    """Raw mode: per-file line numbers (empty + error lines advance the
    counter; empty lines emit no row; error rows keep parse_error=true and
    the raw text).

    Files whose compression Spark resolves by NAME go through the
    split-parallel JVM reader; gzip-by-magic-but-misnamed files (the
    reference decompresses by content) stay on the per-file Python
    streamer. Results union."""
    import os.path as _osp

    from .fs import has_scheme as _has_scheme

    norm = [f if _has_scheme(f) else _osp.abspath(f) for f in files]
    jvm_files, misnamed = _split_misnamed_gzip(norm, spark)
    parts = []
    if jvm_files:
        parts.append(_raw_lines_df_jvm(spark, jvm_files))
    if misnamed:
        parts.append(_raw_lines_df(spark, misnamed))
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    return _apply_program(df, prog)
