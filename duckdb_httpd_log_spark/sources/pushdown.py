"""Automatic raw-line pre-filter pushdown for the log scan.

``line_filter=`` (reader.py) lets a caller hand the scan a substring
needle that runs as a vectorized byte scan BEFORE the parse regex.
This module derives that needle AUTOMATICALLY from an ordinary typed
filter placed on the scan result — ``read_httpd_log(...).filter(
col("status") == 500)`` — so the optimization needs no user opt-in:

1. ``read_httpd_log`` returns a ``LineFilterableFrame`` (a DataFrame
   subclass; every other method is inherited unchanged);
2. its ``filter``/``where`` analyzes the predicate via the ANALYZED
   catalyst plan (the resolved expression tree — Column objects no
   longer expose ``expr()`` in Spark 4) and extracts substring needles
   that are SOUND: `typed-predicate holds ⇒ raw line contains needle`;
3. on success the scan is re-issued with the needles pushed below the
   parse (reader._line_keep applies them to the raw ``value`` column),
   and the original typed predicate still runs on top — so false
   positives of the byte scan are removed and the result is
   value-identical to the un-pushed plan, only cheaper: lines failing
   the needle never reach the regex.

Soundness per leaf:
- string equality / Contains / StartsWith / EndsWith / LIKE-segments /
  IN on a VERBATIM string column (a regex capture emitted unchanged;
  excludes %X's remapped close/keepalive/aborted values, timestamp,
  interval and boolean columns, log_file, and hive partition keys):
  the typed value is a substring of the raw line, so the literal (or
  each literal LIKE segment) must appear verbatim.
- integer equality / IN on an int/bigint column: any token Spark's
  try_cast maps to value v contains the canonical digit string of
  |v| ("0500" contains "500", "-0500" contains "500"). Literal 0 is
  skipped — the %b byte-count family maps "-" to 0 without a "0" in
  the raw line.
- time predicates (``ts`` compared with a literal, BETWEEN, ``to_date(ts)
  = D`` and ``IN``, their string-coerced forms, ``year(ts)`` ranges) on a
  column with a ``TsLayout`` (``PushdownContext.ts_cols``). A BOUNDED
  instant range is widened by a day margin covering the line's own UTC
  offset and the session zone, then rendered through the layout:
  - Apache ``%t``: the raw text is deterministically
    `[dd/MMM/yyyy:HH:mm:ss Z]` (reference
    src/httpd_log_format_parser.cpp:711-765, bracketed regex :558), so
    a range of at most _MAX_DAY_NEEDLES days maps to TWO groups:
    case-sensitive ``[dd/`` day tokens (2-digit — strict dd: a 1-digit
    day never parses) AND case-insensitive ``/mmm/yyyy:`` month needles
    (Spark's MMM parse accepts any month case, so a fixed-case month
    would be unsound). Year needles are ``/yyyy:``.
  - strftime with ``%Y``: the 4-digit year renders verbatim, so year
    needles are the BARE digits (no layout punctuation is assumed).
    When the format also has a contiguous date run (``%Y-%m-%d``,
    ``%d/%b/%Y``), each in-range day renders through it verbatim: one
    group of full-date needles, case-insensitive when it has a month
    name.
  - epoch (``%{sec}t``/``%{msec}t``/``%{usec}t``): the decimal epoch
    value renders verbatim, so a bounded range pushes a digit-PREFIX
    cover (every in-range token starts with one of <= _MAX_DAY_NEEDLES
    prefixes; most-selective cover chosen; digit-count boundaries
    bail). It renders no year digits.
  A range too wide for day needles degrades to the year group (+-1 year
  margin, at most 4 years) instead of falling back to parse-everything.
  An ``IN`` unions its literals' groups position by position, with the
  same cap and the same year-group retry.
- OPEN-ABOVE ranges (``ts >= lo`` / ``year(ts) >= y`` — the "since X"
  filter) close their open end at filter time from the max
  modification time of a FRESH stat of the bind-time listing
  (fs.file_sigs): a log line's %t is the request-arrival instant,
  written to the file no later than the file's last modification, so
  max mtime (+the usual margins) bounds every instant in a fixed file
  set. Batch scans only — a stream's future files arrive with later
  mtimes, so the streaming source takes no stat. Opt out with
  spark.graft.pushdown.mtimeBound=false for pathological corpora
  carrying future-dated lines (the one assumption this leans on).
Conjunctions push every derivable conjunct and INTERSECT the time
ranges split across their leaves; disjunctions push only if every
branch is derivable (as an OR-of-needles group); anything else falls
back to the unmodified plan. CNF across OR-of-ANDs distributes.

File skipping has two tiers. The listing predicate is not ours: the
scan's log_file is ``_metadata.file_path`` below a Generate barrier
(reader._compile_program), so Catalyst moves a deterministic predicate
on log_file or a hive key down to the text scan and Spark's file index
drops the files it rules out, in any query shape. The per-file range
test is decided in ``LineFilterableFrame.filter`` from ONE
classification pass over the top-level conjuncts (``classify``),
against one fresh stat of the bind-time listing — a file's range is
(-inf, mtime + 2 d] on every recognized time column and its cached
column stats on verbatim int columns (colstats.py); a file whose
range misses a required interval is dropped.

Cited parity anchor: the reference parses every line unconditionally
(src/httpd_log_file_reader.cpp); this pushdown is beyond-reference,
motivated by its TODO-free single-pass design — the only way to beat
"parse everything" is to not parse non-matching lines at all.
"""

from __future__ import annotations

import datetime as _dt
from collections import Counter
from dataclasses import dataclass, field, replace
from functools import reduce
from typing import Callable, List, Optional, Tuple, Union

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.classic.dataframe import DataFrame

from . import fs as FS
from .colstats import _disjoint, narrow, stats_for
from .logformat import BIGINT, INTEGER, VARCHAR, ParsedFormat, TsFormat, _strftime_tokens

# CNF: AND over groups, OR within a group. A needle is either a plain
# string (case-sensitive Contains on the raw line) or ("ci", s) — a
# case-insensitive needle matched against lower(value); s is lowercase.
Needle = Union[str, Tuple[str, str]]
Needles = List[List[Needle]]

_INT_TYPES = {"int", "bigint", "smallint", "tinyint"}

_US_PER_DAY = 86_400_000_000

# fixed English abbreviations of the Apache %t layout (the reference's
# month table, src/httpd_log_format_parser.cpp:711-765); lowercase
# because day needles are matched case-insensitively — Spark's MMM
# parse accepts any case ("oct"/"OCT" parse, so a fixed-case needle
# would be UNSOUND), while a 1-digit day does NOT parse (dd is strict),
# so the zero-padded 2-digit day in the needle is sound.
_MONTHS = (
    "jan", "feb", "mar", "apr", "may", "jun",
    "jul", "aug", "sep", "oct", "nov", "dec",
)

# widest OR group of day (or epoch-prefix, or IN-union) needles worth
# pushing: beyond this the byte scan's selectivity (and its per-line
# cost) stops paying for itself
_MAX_DAY_NEEDLES = 12


@dataclass(frozen=True)
class TsLayout:
    """How the raw text of the ``%t`` field that sets a timestamp
    column renders its instant. ``kind`` is one of:

    - ``"apache"``: plain ``%t``, deterministically
      ``[dd/MMM/yyyy:HH:mm:ss Z]``: day needles, ``/yyyy:`` year needles;
    - ``"strftime"``: ``%{...}t`` whose format has a ``%Y`` token, so
      the 4-digit year renders verbatim (bare year digits: no
      surrounding punctuation is assumed). ``run`` is its contiguous
      date-rendering token run (``%Y-%m-%d``, ``%d/%b/%Y``; strict
      2-digit ``%m``/``%d``, so the zero-padded rendering is the only
      raw text that parses), a tuple of ("lit", ch) / ("spec",
      "Y"|"m"|"d"|"b") items, or None: each in-range day renders
      through it verbatim, far more selective than the year digits;
    - ``"epoch"``: ``%{sec|msec|usec}t``, the decimal epoch value in
      units of ``unit_us`` µs: digit-PREFIX covers, no year digits.
    """

    kind: str
    run: Optional[tuple] = None
    unit_us: int = 1

    @property
    def year_token(self) -> Optional[str]:
        """Template the 4-digit year renders through, or None."""
        return {"apache": "/{}:", "strftime": "{}"}.get(self.kind)


@dataclass
class PushdownContext:
    """What the deriver may assume about the scan's columns.

    ``verbatim_str`` / ``verbatim_int``: columns whose typed value (or
    its canonical digits) appears verbatim in the raw line.
    ``ts_cols``: {column: TsLayout} for every timestamp column with a
    known rendering; every time-needle decision reads its layout.
    ``margin_days``: slack added on each side of a derived day range.
    1 covers the log line's own UTC offset (<= +-14h) when the session
    time zone is UTC; 2 additionally covers a non-UTC session zone
    (date/`to_date` semantics follow the session zone) plus DST.
    """

    verbatim_str: set = field(default_factory=set)
    verbatim_int: set = field(default_factory=set)
    ts_cols: dict = field(default_factory=dict)
    margin_days: int = 2
    # Closes an OPEN-ABOVE time range (``ts >= lo``, the "since X"
    # filter): an upper-bound epoch-µs for any %t instant in the scanned
    # FILE SET, or None. A batch filter sets it on its own copy of the
    # context to the max mtime of its fresh stat of the bind-time
    # listing — a line's request time cannot be later than its file's
    # last write (+margin_days / +1y of skew slack applied downstream).
    # Streams leave it None: future files arrive with later mtimes, so
    # no bound is sound there.
    hi_us: Optional[int] = None


# epoch digit-prefix derivation only pays when the parse it skips is
# expensive (r11 A/B: 9-field combined 0.84->0.67 s, 3-field no win —
# the prefix Contains costs more than the short regex), so formats with
# fewer capture groups skip it entirely
EPOCH_MIN_FIELDS = 6

_EPOCH_UNIT_US = {
    TsFormat.EPOCH_SEC: 1_000_000,
    TsFormat.EPOCH_MSEC: 1_000,
    TsFormat.EPOCH_USEC: 1,
}


def _date_token_run(fmt: str) -> Optional[tuple]:
    """Contiguous date-rendering token run of a strftime format, or None:
    a maximal stretch of %Y/%m/%d/%b/%h specifiers and literal characters
    that contains %Y, %d and a month token (``TsLayout.run``)."""
    spec_map = {"%Y": "Y", "%m": "m", "%d": "d", "%b": "b", "%h": "b"}
    run: list = []
    for kind, tok in [*_strftime_tokens(fmt), ("end", "")]:
        if kind == "lit" or (kind == "spec" and tok in spec_map):
            run.append(("lit", tok) if kind == "lit" else ("spec", spec_map[tok]))
            continue
        specs = {t for k, t in run if k == "spec"}
        if {"Y", "d"} <= specs and specs & {"m", "b"}:
            return tuple(run)
        run = []
    return None


def _is_base(f) -> bool:
    """True for a %t field that sets its group's base instant."""
    return f.timestamp_type == TsFormat.APACHE_DEFAULT or f.timestamp_type in _EPOCH_UNIT_US


def _ts_layout(f, num_capture_groups: int) -> Optional[TsLayout]:
    """Layout of the %t group head ``f``, or None when its rendering
    gives no sound needle (or, for epoch, none that pays)."""
    t = f.timestamp_type
    if t == TsFormat.APACHE_DEFAULT:
        return TsLayout("apache")
    if t == TsFormat.STRFTIME:
        # token walk, not substring: '%%Y' is a literal '%'+'Y', which
        # renders no 4-digit year (bare-year needles would be UNSOUND)
        if any(k == "spec" and s == "%Y" for k, s in _strftime_tokens(f.strftime_format)):
            return TsLayout("strftime", run=_date_token_run(f.strftime_format))
        return None
    if t in _EPOCH_UNIT_US and num_capture_groups >= EPOCH_MIN_FIELDS:
        return TsLayout("epoch", unit_us=_EPOCH_UNIT_US[t])
    return None


def pushdown_context(parsed: ParsedFormat, schema: list) -> PushdownContext:
    """PushdownContext for a scan of ``parsed`` emitting ``schema``
    (name, type) pairs, shared by the batch reader and the streaming
    source: strings are regex captures emitted unchanged (excludes %X's
    remapped close/keepalive/aborted values and log_file), ints are
    digit tokens (try_cast). A timestamp column is its %t group's head
    field (later fields of the group are skipped and combined into it,
    exprs.timestamp_group_expr); it gets the head's layout unless
    another field of the group renders the base instant (an Apache or
    epoch field sets the value, so the head's text need not match it).
    Strftime and fraction fields only add parts to the head's parse, so
    the head's date or year text still renders the value's."""
    non_verbatim = {f.column_name for f in parsed.fields if f.directive == "%X"} | {"log_file"}
    ts_fields = [f for f in parsed.fields if f.directive == "%t"]
    bases = Counter(f.timestamp_group_id for f in ts_fields if _is_base(f))
    ts_cols = {}
    for f in ts_fields:
        if f.should_skip or bases[f.timestamp_group_id] > _is_base(f):
            continue
        layout = _ts_layout(f, parsed.num_capture_groups)
        if layout is not None:
            ts_cols[f.column_name] = layout
    return PushdownContext(
        verbatim_str={n for n, t in schema if t == VARCHAR and n not in non_verbatim},
        verbatim_int={n for n, t in schema if t in (INTEGER, BIGINT)},
        ts_cols=ts_cols,
    )


def _simple(e) -> str:
    return e.getClass().getSimpleName()


def _children(e):
    cs = e.children()
    return [cs.apply(i) for i in range(cs.size())]


def _unwrap_cast(e):
    while True:
        s = _simple(e)
        if s in ("Cast", "AnsiCast", "TryCast"):
            e = _children(e)[0]
            continue
        # to_date(x) / to_timestamp(x) stay RuntimeReplaceable nodes in
        # the ANALYZED plan (the deriver's input); the no-format form is
        # exactly a cast. A format argument changes semantics — don't
        # unwrap it.
        if s in ("ParseToDate", "ParseToTimestamp"):
            kids = _children(e)
            if len(kids) == 1:
                e = kids[0]
                continue
        break
    return e


def _attr_name(e) -> Optional[str]:
    e = _unwrap_cast(e)
    if _simple(e) == "AttributeReference":
        return e.name()
    return None


def _literal(e):
    """(python value, simple dtype) for a Literal, else (None, None)."""
    e = _unwrap_cast(e)
    if _simple(e) != "Literal" or e.value() is None:
        return None, None
    return e.value(), e.dataType().simpleString()


def _int_needle(v) -> Optional[str]:
    try:
        iv = int(str(v))
    except (TypeError, ValueError):
        return None
    if iv == 0:
        return None  # "-" parses to 0 for byte counts: no "0" in the raw line
    return str(abs(iv))


def _eq_needles(left, right, ctx: PushdownContext) -> Optional[Needles]:
    for a, b in ((left, right), (right, left)):
        name = _attr_name(a)
        if name is None:
            continue
        val, dt = _literal(b)
        if val is None:
            continue
        if name in ctx.verbatim_str and dt == "string":
            s = str(val)
            return [[s]] if s else None
        if name in ctx.verbatim_int and dt in _INT_TYPES:
            n = _int_needle(val)
            return [[n]] if n else None
    return None


# --- timestamp day needles --------------------------------------------------
#
# A bounded predicate on an Apache-%t timestamp column maps to an OR
# group of `[dd/mmm/yyyy` substrings (case-insensitive). Soundness:
# a row satisfying the typed predicate has a NON-NULL parsed timestamp,
# which (for a single plain %t field) means its raw text matched
# `dd/MMM/yyyy:HH:mm:ss Z` — strict 2-digit day, a real month
# abbreviation in some case, 4-digit year — inside brackets. The UTC
# instant differs from the raw LOCAL date by at most the line's own
# offset (+-14h) plus, when `to_date`/date casts are involved, the
# session zone's offset (+-14h) — both covered by ``margin_days``.
# All interval arithmetic over-approximates (a larger day set is still
# sound; only a smaller one could drop rows).

_CMP_OPS = {
    "EqualTo": "==",
    "EqualNullSafe": "==",
    "GreaterThan": ">=",  # loosened: over-approximation is sound
    "GreaterThanOrEqual": ">=",
    "LessThan": "<=",
    "LessThanOrEqual": "<=",
}
_FLIP = {"==": "==", ">=": "<=", "<=": ">="}


def _bounds(op: str, flip: bool, lo, hi) -> tuple:
    """(lo, hi) a comparison ``op`` (written attribute-first unless
    ``flip``) against a literal spanning [lo, hi] requires; None = open."""
    o = _FLIP[op] if flip else op
    return (lo, hi) if o == "==" else (lo, None) if o == ">=" else (None, hi)


def _ts_attr(e, ctx) -> Optional[Tuple[str, str]]:
    """(column name, semantic domain 'date'|'timestamp') when ``e`` is
    a ``ctx.ts_cols`` column under casts/to_date.

    A trailing cast TO STRING is skipped: Spark's type coercion turns
    ``to_date(ts) IN ('2024-10-08', ...)`` into a STRING comparison,
    and the canonical ISO renderings of dates/timestamps order
    lexicographically exactly like the underlying values, so the
    comparison still denotes the same date/instant constraint (literals
    that don't parse as ISO yield no needle and fall back). The first
    date/timestamp-producing node below decides the domain."""
    cur = e
    domain = None
    while True:
        s = _simple(cur)
        try:
            dt = cur.dataType().simpleString()
        except Exception:
            return None
        if s == "AttributeReference":
            if dt == "timestamp" and (name := cur.name()) in ctx.ts_cols:
                return name, domain or "timestamp"
            return None
        if s in ("Cast", "AnsiCast", "TryCast"):
            if domain is None and dt in ("date", "timestamp"):
                domain = dt
            elif domain is None and dt != "string":
                return None
            cur = _children(cur)[0]
            continue
        if s in ("ParseToDate", "ParseToTimestamp"):
            kids = _children(cur)
            if len(kids) != 1:
                return None
            if domain is None and dt in ("date", "timestamp"):
                domain = dt
            cur = kids[0]
            continue
        return None


def _time_literal_interval(e, domain: str) -> Optional[Tuple[int, int]]:
    """Closed epoch-µs interval denoted by literal ``e`` compared in
    ``domain`` ('date' or 'timestamp'); None if not derivable."""
    outer = e.dataType().simpleString()
    val, dt = _literal(e)
    if val is None:
        return None
    tgt = outer if outer in ("date", "timestamp") else domain
    if dt == "date":
        days = int(val)  # Catalyst DateType internal: days since epoch
        return days * _US_PER_DAY, (days + 1) * _US_PER_DAY - 1
    if dt == "timestamp":
        us = int(val)  # internal: µs since epoch
        return us, us
    if dt == "string":
        s = str(val).strip()
        try:
            if tgt == "date":
                d = _dt.date.fromisoformat(s[:10])
                if len(s) > 10 and s[10] not in (" ", "T"):
                    return None
                days = (d - _dt.date(1970, 1, 1)).days
                return days * _US_PER_DAY, (days + 1) * _US_PER_DAY - 1
            t = _dt.datetime.fromisoformat(s)
            if t.tzinfo is None:
                # session zone applies; the <= +-14h error vs UTC is
                # absorbed by margin_days (2 when the zone isn't UTC)
                t = t.replace(tzinfo=_dt.timezone.utc)
            us = int(t.timestamp() * 1_000_000)
            return us, us
        except ValueError:
            return None
    return None


def _year_leaf(cls, kids, ctx) -> Optional[Tuple[str, Optional[int], Optional[int]]]:
    """(col, lo_year|None, hi_year|None) for a comparison node of class
    ``cls`` and children ``kids`` on ``year(ts)`` of a column whose
    layout renders the 4-digit year — ``year()`` resolves as
    Year(Cast(ts AS DATE)); a bounded year range maps to the layout's
    year group (_year_needles)."""
    op = _CMP_OPS.get(cls)
    if op is None or not any(lay.year_token for lay in ctx.ts_cols.values()):
        return None
    l, r = kids
    for a, b, flip in ((l, r, False), (r, l, True)):
        au = a
        while _simple(au) in ("Cast", "AnsiCast", "TryCast"):
            au = _children(au)[0]
        if _simple(au) != "Year":
            continue
        kids = _children(au)
        name = _attr_name(kids[0]) if len(kids) == 1 else None
        lay = ctx.ts_cols.get(name)
        if lay is None or lay.year_token is None:
            continue
        val, dt = _literal(b)
        if val is None:
            return None
        try:
            y = int(str(val))
        except (TypeError, ValueError):
            return None
        return (name, *_bounds(op, flip, y, y))
    return None


def _year_needles(layout: TsLayout, lo: int, hi: int) -> Optional[List[Needle]]:
    """Year group for [lo, hi] (+-1 year of zone/offset slack, at most 4
    years) rendered through the layout's year token: ``/yyyy:`` for
    Apache %t, the bare digits for strftime %Y. Digits and punctuation
    only, so a plain case-sensitive Contains; None for a layout that
    renders no year."""
    if layout.year_token is None or lo > hi or hi - lo + 1 > 4:
        return None
    if lo - 1 < 1000 or hi + 1 > 9998:
        return None  # 4-digit years only; don't bet on padding
    return [layout.year_token.format(y) for y in range(lo - 1, hi + 2)]


def _ts_leaf_interval(cls, kids, ctx) -> Optional[Tuple[str, Optional[int], Optional[int]]]:
    """(col, lo_us|None, hi_us|None) for a comparison node of class
    ``cls`` and children ``kids`` on a ``ctx.ts_cols`` column; open ends
    are None."""
    op = _CMP_OPS.get(cls)
    if op is None or not ctx.ts_cols:
        return None
    l, r = kids
    for a, b, flip in ((l, r, False), (r, l, True)):
        side = _ts_attr(a, ctx)
        if side is None:
            continue
        name, domain = side
        iv = _time_literal_interval(b, domain)
        if iv is not None:
            return (name, *_bounds(op, flip, *iv))
    return None


def _day_cnf(lo_us: int, hi_us: int, margin: int) -> Optional[Needles]:
    """CNF fragment for a bounded day range: one case-sensitive group of
    ``[dd/`` tokens (bracket+digits — no letters, so plain Contains) AND
    one case-insensitive group of ``/mmm/yyyy:`` month-year needles.
    The split form measured ~2.3x cheaper than whole-date ci needles:
    the hot group is a Contains over non-alphabetic text, and the ci
    RLike group is usually a single month. Cross-product over-approx
    (day 14 of an adjacent in-set month also passes) is sound — the
    typed predicate on top removes byte-scan false positives."""
    days = _days(lo_us, hi_us, margin)
    if days is None:
        return None
    return [
        sorted({f"[{d.day:02d}/" for d in days}),
        sorted({("ci", f"/{_MONTHS[d.month - 1]}/{d.year}:") for d in days}),
    ]


def _days(lo_us: int, hi_us: int, margin: int) -> Optional[List[_dt.date]]:
    """The calendar days of [lo_us, hi_us] widened by ``margin`` days on
    each side, or None when the range is contradictory (fall back: the
    plan stays exact), wider than _MAX_DAY_NEEDLES days, or outside
    4-digit years (%t and %Y render 4 digits; don't bet on padding)."""
    if lo_us > hi_us:
        return None
    lo_day = lo_us // _US_PER_DAY - margin
    hi_day = hi_us // _US_PER_DAY + margin
    if hi_day - lo_day + 1 > _MAX_DAY_NEEDLES:
        return None
    epoch = _dt.date(1970, 1, 1)
    try:
        days = [epoch + _dt.timedelta(days=day) for day in range(lo_day, hi_day + 1)]
    except OverflowError:
        return None
    return days if days[0].year >= 1000 else None


def _epoch_prefix_needles(
    lo_us: int, hi_us: int, unit_us: int, margin: int
) -> Optional[List[Needle]]:
    """Digit-prefix cover of a bounded epoch range: the raw token is
    the decimal epoch value, so every in-range token starts with one of
    the returned prefixes. Picks the LONGEST prefix length whose cover
    stays within _MAX_DAY_NEEDLES (longest = most selective); bails
    on negative values or a digit-count boundary inside the range
    (999999999 -> 1000000000), where no fixed-length prefix set is
    sound."""
    lo_us -= margin * _US_PER_DAY
    hi_us += margin * _US_PER_DAY
    lo_t = lo_us // unit_us
    hi_t = hi_us // unit_us
    if lo_t < 0 or lo_t > hi_t:
        return None
    slo, shi = str(lo_t), str(hi_t)
    if len(slo) != len(shi):
        return None
    d = len(slo)
    for cut in range(0, d):  # cut = digits dropped from the right
        div = 10 ** cut
        n = hi_t // div - lo_t // div + 1
        if n <= _MAX_DAY_NEEDLES:
            if d - cut <= 4:
                # a <=4-digit prefix matches far too much of any line
                # (status codes, bytes, ports) to pay for the byte scan
                return None
            return [str(p) for p in range(lo_t // div, hi_t // div + 1)]
    return None


def _date_run_needles(
    run: tuple, lo_us: int, hi_us: int, margin: int
) -> Optional[Needles]:
    """Full-date needles for a strftime column whose format carries a
    contiguous date-rendering token run: each in-range day (±margin,
    covering the line's own zone offset and the session zone exactly
    like _day_cnf) renders through the run VERBATIM. Soundness: the
    line regex for the run is the concatenation of strict sub-regexes
    (%Y \\d{4}, %m/%d \\d{2} — a 1-digit token never matches) and
    escaped literals, so a row whose parsed timestamp lands on day D
    must contain D's zero-padded rendering as a substring. Month-name
    runs (%b/%h — Spark's MMM parse is case-insensitive) emit one ci
    group; all-digit runs emit plain case-sensitive Contains needles."""
    days = _days(lo_us, hi_us, margin)
    if days is None:
        return None
    has_month_name = any(k == "spec" and t == "b" for k, t in run)
    out: set = set()
    for d in days:
        spec = {"Y": f"{d.year:04d}", "m": f"{d.month:02d}", "d": f"{d.day:02d}", "b": _MONTHS[d.month - 1]}
        s = "".join(t if k == "lit" else spec[t] for k, t in run)
        out.add(("ci", s.lower()) if has_month_name else s)
    return [sorted(out)]


def _year_cnf(layout: TsLayout, lo_us: int, hi_us: int, margin: int) -> Optional[Needles]:
    """Fallback when a bounded range is too wide for day needles (or
    the layout renders no full date): the year group spanning [lo, hi]
    (+margin days each side; the renderer adds a further +-1 year of
    zone/skew slack). Much coarser than day tokens but still skips
    whole off-year files."""
    if lo_us > hi_us:
        return None
    epoch = _dt.date(1970, 1, 1)
    try:
        ylo = (epoch + _dt.timedelta(days=lo_us // _US_PER_DAY - margin)).year
        yhi = (epoch + _dt.timedelta(days=hi_us // _US_PER_DAY + margin)).year
    except OverflowError:
        return None
    yg = _year_needles(layout, ylo, yhi)
    return [yg] if yg else None


def _bounded_time_groups(
    name: str, lo_us: Optional[int], hi_us: Optional[int], ctx: "PushdownContext"
) -> Optional[Needles]:
    """CNF groups for a time interval on column ``name``, closing an
    open-above end from the file listing's mtime bound (ctx.hi_us)
    when available: an epoch layout's prefix cover; else the layout's
    day needles (Apache day tokens, a strftime date run) when the range
    is narrow enough, and its year group otherwise."""
    if lo_us is not None and hi_us is None:
        hi_us = ctx.hi_us
    if lo_us is None or hi_us is None:
        return None  # open-below (or unclosable) range: no sound needle
    layout, margin = ctx.ts_cols[name], ctx.margin_days
    if layout.kind == "epoch":
        g = _epoch_prefix_needles(lo_us, hi_us, layout.unit_us, margin)
        return [g] if g else None
    if layout.kind == "apache":
        g = _day_cnf(lo_us, hi_us, margin)
    else:
        g = layout.run and _date_run_needles(layout.run, lo_us, hi_us, margin)
    if g:
        return g
    return _year_cnf(layout, lo_us, hi_us, margin)


def _time_in_groups(name: str, domain: str, lits: list, ctx: "PushdownContext") -> Optional[Needles]:
    """Needles of ``to_date(ts) IN (d1, d2, ...)`` (any IN on a
    ``ctx.ts_cols`` column): each literal's interval renders through
    _bounded_time_groups, and the groups union position by position.
    Sound: each position's union covers that position's group of every
    literal, so a row satisfying any one literal passes every union (a
    cross-product over-approximation of the OR; the typed filter on top
    removes the extras). When a literal renders nothing, the literals
    render different group shapes, or the first (day / prefix) union is
    over _MAX_DAY_NEEDLES, it retries with each literal's year group."""
    ivls = [_time_literal_interval(lit, domain) for lit in lits]
    if not ivls or None in ivls:
        return None
    layout, margin = ctx.ts_cols[name], ctx.margin_days
    for render in (
        lambda lo, hi: _bounded_time_groups(name, lo, hi, ctx),
        lambda lo, hi: _year_cnf(layout, lo, hi, margin),
    ):
        per = [render(lo, hi) for lo, hi in ivls]
        if all(per) and len({len(g) for g in per}) == 1:
            union = [sorted(set().union(*groups)) for groups in zip(*per)]
            if len(union[0]) <= _MAX_DAY_NEEDLES:
                return union
    return None


def _close_year_hi(ctx: "PushdownContext") -> Optional[int]:
    """Year of the listing's mtime bound, for closing an open-above
    ``year(ts) >= y`` — None when unavailable or out of calendar range."""
    if ctx.hi_us is None:
        return None
    try:
        return (_dt.date(1970, 1, 1) + _dt.timedelta(days=ctx.hi_us // _US_PER_DAY)).year
    except OverflowError:
        return None


def _flatten_and(e) -> list:
    """[(node, class name)] of the top-level conjuncts of ``e``."""
    cls = _simple(e)
    if cls == "And":
        l, r = _children(e)
        return _flatten_and(l) + _flatten_and(r)
    return [(e, cls)]


def _like_segments(pattern: str, escape: str = "\\") -> List[str]:
    segs, cur, i = [], [], 0
    while i < len(pattern):
        c = pattern[i]
        if c == escape and i + 1 < len(pattern):
            cur.append(pattern[i + 1])
            i += 2
            continue
        if c in ("%", "_"):
            if cur:
                segs.append("".join(cur))
                cur = []
        else:
            cur.append(c)
        i += 1
    if cur:
        segs.append("".join(cur))
    return [s for s in segs if s]


def _or_merge(a: Needles, b: Needles) -> Needles:
    # (A1∧A2) ∨ (B1∧B2) distributes to ∧ over all (Ai ∨ Bj)
    return [ga + gb for ga in a for gb in b]


def _int_leaf(cls, kids, ctx) -> Optional[Tuple[str, Optional[int], Optional[int]]]:
    """(col, lo, hi) closed interval a comparison or IN node requires of
    a verbatim int column, None = open; IN becomes its hull (an
    over-approximation, sound for pruning)."""
    if cls == "In":
        name = _attr_name(kids[0])
        if name not in ctx.verbatim_int:
            return None
        vals = []
        for k in kids[1:]:
            val, dt = _literal(k)
            if val is None or dt not in _INT_TYPES:
                return None
            vals.append(int(str(val)))
        return (name, min(vals), max(vals)) if vals else None
    op = _CMP_OPS.get(cls)
    if op is None:
        return None
    strict = int(cls in ("GreaterThan", "LessThan"))
    for a, b, flip in ((kids[0], kids[1], False), (kids[1], kids[0], True)):
        name = _attr_name(a)
        if name not in ctx.verbatim_int:
            continue
        val, dt = _literal(b)
        if val is None or dt not in _INT_TYPES:
            continue
        v = int(str(val))
        return (name, *_bounds(op, flip, v + strict, v - strict))
    return None


def _leaf_needles(e, cls, kids, ctx: PushdownContext) -> Optional[Needles]:
    """Needles of one conjunct ``e`` (class ``cls``, children ``kids``)
    that is not a time or ``year(ts)`` comparison and not an Or."""
    if cls in ("EqualTo", "EqualNullSafe"):
        return _eq_needles(*kids, ctx)
    if cls in ("Contains", "StartsWith", "EndsWith"):
        l, r = kids
        name = _attr_name(l)
        val, dt = _literal(r)
        if name in ctx.verbatim_str and dt == "string" and val is not None:
            s = str(val)
            return [[s]] if s else None
        return None
    if cls == "Like":
        l, r = kids
        name = _attr_name(l)
        val, dt = _literal(r)
        if name in ctx.verbatim_str and dt == "string" and val is not None:
            # honor LIKE ... ESCAPE 'x': parsing the pattern with the
            # wrong escape char would derive a WRONG needle (e.g.
            # `a!%' ESCAPE '!'` means literal "a%", not prefix "a!")
            # and silently drop matching rows from the pushed scan.
            try:
                esc = str(e.escapeChar())
            except Exception:
                return None
            if len(esc) != 1:
                return None
            segs = _like_segments(str(val), esc)
            return [[s] for s in segs] or None
        return None
    if cls == "In":
        side = _ts_attr(kids[0], ctx)
        if side is not None:
            return _time_in_groups(*side, kids[1:], ctx)
        name = _attr_name(kids[0])
        if name is None:
            return None
        group = []
        for lit in kids[1:]:
            val, dt = _literal(lit)
            if val is None:
                return None
            if name in ctx.verbatim_str and dt == "string" and str(val):
                group.append(str(val))
            elif name in ctx.verbatim_int and dt in _INT_TYPES:
                n = _int_needle(val)
                if n is None:
                    return None
                group.append(n)
            else:
                return None
        return [group] if group else None
    return None


# conjunct classes whose children the leaf classifiers read
_KIDS_READ = {*_CMP_OPS, "In", "Contains", "StartsWith", "EndsWith", "Like", "Or"}


@dataclass
class Conjuncts:
    """The top-level conjuncts of one analyzed condition, each classified
    once by ``classify``: what the per-file range test and the needle
    derivation each read."""

    # time column -> intersected (lo_us, hi_us), None = open
    ts: dict = field(default_factory=dict)
    # time column -> intersected (lo_year, hi_year) of year(ts) leaves
    years: dict = field(default_factory=dict)
    # verbatim int column -> intersected closed (lo, hi)
    ints: dict = field(default_factory=dict)
    # in conjunct order: a needle CNF, or the two classified branches of
    # an Or, derived once the open-above bound is known
    leaves: list = field(default_factory=list)

    def time_lower(self) -> dict:
        """{time column: (lo_us, None)}: the lower bound each time column
        must reach; ``year(ts) >= y`` counts from Jan 1 of y (the session
        zone's offset is inside the 2-day mtime slack)."""
        req: dict = {}
        for name, (lo, _hi) in self.ts.items():
            if lo is not None:
                narrow(req, name, lo, None)
        for name, (y, _hi) in self.years.items():
            if y is None:
                continue
            try:
                days = (_dt.date(y, 1, 1) - _dt.date(1970, 1, 1)).days
            except (ValueError, OverflowError):
                continue
            narrow(req, name, days * _US_PER_DAY, None)
        return req

    def needs_bound(self) -> bool:
        """True when the needles close an open-above time range with the
        listing's max mtime (here or in an Or branch)."""
        return any(
            lo is not None and hi is None
            for iv in (self.ts, self.years)
            for lo, hi in iv.values()
        ) or any(
            isinstance(leaf, tuple) and (leaf[0].needs_bound() or leaf[1].needs_bound())
            for leaf in self.leaves
        )

    def needles(self, ctx: PushdownContext) -> Optional[Needles]:
        groups: Needles = []
        for leaf in self.leaves:
            if isinstance(leaf, tuple):
                dl, dr = (branch.needles(ctx) for branch in leaf)
                if dl and dr:
                    groups += _or_merge(dl, dr)
            else:
                groups += leaf
        for name, (lo, hi) in self.ts.items():
            # open-above closes from the listing's mtime bound; too-wide
            # bounded ranges degrade to year needles
            groups += _bounded_time_groups(name, lo, hi, ctx) or []
        for name, (lo, hi) in self.years.items():
            if lo is not None and hi is None:
                hi = _close_year_hi(ctx)
            if lo is not None and hi is not None:
                g = _year_needles(ctx.ts_cols[name], lo, hi)
                if g:
                    groups.append(g)
        return groups or None


def classify(cond, ctx: PushdownContext) -> Conjuncts:
    """One pass over the top-level conjuncts of ``cond``. A conjunct is a
    time interval (intersected per column, so BOUNDED ranges split across
    leaves — ``ts >= a AND ts < b``, BETWEEN's rewrite, ``to_date ==`` —
    give ONE day group), a ``year(ts)`` range, a needle leaf (an int
    equality or IN is also an int interval), an Or whose branches are
    classified the same way (its needles push only if both branches
    derive some)."""
    out = Conjuncts()
    for c, cls in _flatten_and(cond):
        kids = _children(c) if cls in _KIDS_READ else None
        iv = _ts_leaf_interval(cls, kids, ctx)
        if iv is not None:
            narrow(out.ts, *iv)
            continue
        yv = _year_leaf(cls, kids, ctx)
        if yv is not None:
            narrow(out.years, *yv)
            continue
        iv = _int_leaf(cls, kids, ctx)
        if iv is not None:
            narrow(out.ints, *iv)
        if cls == "Or":
            out.leaves.append((classify(kids[0], ctx), classify(kids[1], ctx)))
            continue
        g = _leaf_needles(c, cls, kids, ctx)
        if g:
            out.leaves.append(g)
    return out


def cnf_predicate(cnf: Needles, value: Column) -> Column:
    """AND of OR-of-needles over the raw line column ``value``.

    Plain needles are case-sensitive Contains; a group's ("ci", s)
    needles fold into ONE case-insensitive RLike alternation of
    escaped literals — measured faster than both lower()+contains
    (avoids the per-line lowered copy) and per-case-variant contains."""
    import re as _re

    def any_of(group) -> Column:
        preds = [value.contains(n) for n in group if isinstance(n, str)]
        ci = [n[1] for n in group if not isinstance(n, str)]
        if ci:
            preds.append(value.rlike("(?i)" + "|".join(_re.escape(s) for s in ci)))
        return reduce(lambda a, b: a | b, preds)

    return reduce(lambda a, b: a & b, map(any_of, cnf))


class LineFilterableFrame(DataFrame):
    """read_httpd_log's fast-path result: a plain DataFrame whose
    ``filter``/``where`` additionally re-plans the scan — the FILE
    LISTING narrowed by a per-file range test against a fresh stat
    (mtime for time columns, cached column stats for int columns), and
    raw-line Contains needles below the parse regex. Both infer
    raw-line facts from typed predicates, so they apply to predicates
    placed directly on the scan result; every derived transformation
    returns a plain DataFrame. (A log_file or hive-key predicate needs
    neither: Spark's file index applies it in any query shape.) Its own
    plan (``rebuild()``) is built on first use of ``_jdf``; ``filter``
    resolves predicates against a schema-only stand-in instead."""

    def __new__(cls, *args, **kwargs):
        # the classic DataFrame.__new__ hard-codes the (jdf, sql_ctx)
        # ctor shape and invokes __init__ itself; bypass it
        return object.__new__(cls)

    def __init__(
        self,
        spark: SparkSession,
        schema_json: str,
        rebuild: Callable[..., DataFrame],
        ctx: PushdownContext,
        file_pairs: Optional[list] = None,
        files: Optional[list] = None,
        colstats_fp: Optional[str] = None,
    ):
        super().__init__(None, spark)  # no plan yet: see _jdf
        self._lf_schema = schema_json
        self._lf_stand_in: Optional[DataFrame] = None
        self._lf_rebuild = rebuild
        self._lf_ctx = ctx
        # the bind-time listing a filter stats for mtimes; None for a
        # stream (its file set grows, so it takes no stat)
        self._lf_paths = files
        # (bind-time path, row-visible log_file value) pairs, aligned
        # with ``files``; None when the reader can't vouch the mapping
        # (a '%'-bearing remote URI) or the rebuild can't take a subset
        # (streams)
        self._lf_files = file_pairs
        # reader-config fingerprint scoping the column-stats cache
        # (format regex + line_filter — see colstats.py); None disables
        # the colstats part of the range test (e.g. streams)
        self._lf_colstats_fp = colstats_fp

    @property
    def _jdf(self):
        if self._lf_jdf is None:
            self._lf_jdf = self._lf_rebuild()._jdf
        return self._lf_jdf

    @_jdf.setter
    def _jdf(self, jdf) -> None:
        self._lf_jdf = jdf

    def _resolve(self, condition):
        """``condition``'s analyzed Filter over an empty LocalRelation of
        ``schema_json``, built on the first filter (three py4j calls)."""
        if self._lf_stand_in is None:
            jss = self.sparkSession._jsparkSession
            jdf = jss.createDataFrame([], jss.parseDataType(self._lf_schema))
            self._lf_stand_in = DataFrame(jdf, self.sparkSession)
        return self._lf_stand_in.filter(condition)._jdf.queryExecution().analyzed()

    # a file's range on a recognized time column is (-inf, mtime +
    # slack]: the 2-day skew margin of the mtime contract (README)
    _MTIME_SLACK_US = 2 * _US_PER_DAY

    def _colstats_policy(self) -> Optional[str]:
        """'auto' or 'eager' when the column-stats part of the range
        test applies to this frame (see sources/colstats.py), else None."""
        if (
            not self._lf_files
            or len(self._lf_files) < 2
            or self._lf_colstats_fp is None
            or not self._lf_ctx.verbatim_int
        ):
            return None
        policy = str(
            self.sparkSession.conf.get("spark.graft.pushdown.colStats", "auto")
        ).lower()
        return policy if policy in ("auto", "eager") else None

    def _ranged_subset(self, sigs, time_req: dict, int_req: dict, policy) -> Optional[list]:
        """Bind-time paths whose per-file range can still meet every
        required interval: (-inf, mtime + slack] on each time column of
        ``time_req``, the cached column stats (keyed by the same stat)
        on each int column of ``int_req``. A file without a stat is
        kept. None when nothing prunes."""
        stats = (
            stats_for(
                self.sparkSession,
                self._lf_rebuild,
                self._lf_colstats_fp,
                self._lf_files,
                sigs,
                self._lf_ctx.verbatim_int,
                policy,
            )
            if int_req
            else {}
        )
        req = {**time_req, **int_req}
        keep = []
        for (b, _v), sig in zip(self._lf_files, sigs):
            rng = dict(stats.get(b, {}))
            if sig is not None:
                hi = sig[0] * 1000 + self._MTIME_SLACK_US
                rng.update((col, (None, hi)) for col in time_req)
            if not _disjoint(rng, req):
                keep.append(b)
        return keep if len(keep) < len(self._lf_files) else None

    def filter(self, condition):  # type: ignore[override]
        try:
            jplan = self._resolve(condition)
        except Exception:
            jplan = None
        if jplan is None:
            # the stand-in cannot resolve it (a column handle of the
            # built frame, a metadata column, or a user error): resolve
            # on the real plan, which raises what a plain frame would
            jplan = super().filter(condition)._jdf.queryExecution().analyzed()
        try:
            if _simple(jplan) != "Filter":
                return super().filter(condition)
            cond = jplan.condition()
            spark = self.sparkSession
            # margin is a session-zone property, so read it at filter
            # time: date semantics follow spark.sql.session.timeZone
            tz = spark.conf.get("spark.sql.session.timeZone", "UTC")
            ctx = replace(
                self._lf_ctx,
                margin_days=1 if tz in ("UTC", "Etc/UTC", "GMT", "+00:00", "Z") else 2,
            )
            conj = classify(cond, ctx)
            subset = None
            mtime_on = (
                self._lf_paths is not None
                and (conj.ts or conj.years or conj.needs_bound())
                and str(spark.conf.get("spark.graft.pushdown.mtimeBound", "true")).lower()
                == "true"
            )
            time_req = conj.time_lower() if mtime_on and self._lf_files else {}
            policy = self._colstats_policy() if conj.ints else None
            int_req = conj.ints if policy else {}
            bound = mtime_on and conj.needs_bound()
            if time_req or int_req or bound:
                # ONE fresh stat of the bind-time listing per filter: a
                # file appended since the bind is seen as it is now
                sigs = FS.file_sigs(spark, self._lf_paths)
                if time_req or int_req:
                    subset = self._ranged_subset(sigs, time_req, int_req, policy)
                if bound and sigs and None not in sigs:
                    ctx.hi_us = max(s[0] for s in sigs) * 1000
            if subset is not None and not subset:
                # no file can produce a passing row: empty result,
                # Catalyst folds the always-false filter to an empty
                # LocalRelation — nothing is listed, opened, or parsed
                return super().filter(F.lit(False))
            cnf = conj.needles(ctx)
            if not cnf and subset is None:
                return super().filter(condition)
            rebuilt = self._lf_rebuild(cnf) if subset is None else self._lf_rebuild(cnf, subset)
            return rebuilt.filter(F.expr(cond.sql()))
        except Exception:
            # introspection is best-effort: any surprise keeps the
            # unmodified (still-correct) plan
            return super().filter(condition)

    where = filter
