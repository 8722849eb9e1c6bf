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
- BOUNDED date/time predicates (to_date(ts) = D, ts BETWEEN a AND b,
  to_date(ts) IN (...), and their string-coerced forms) on a plain
  Apache-%t timestamp column: the raw text is deterministically
  `[dd/MMM/yyyy:HH:mm:ss Z]` (reference
  src/httpd_log_format_parser.cpp:711-765, bracketed regex :558), so
  the bounded instant range maps to TWO groups: case-sensitive
  ``[dd/`` day tokens (2-digit — strict dd: a 1-digit day never
  parses) AND case-insensitive ``/mmm/yyyy:`` month needles (Spark's
  MMM parse accepts any month case, so a fixed-case month would be
  unsound). The range is widened by a day margin covering the line's
  own UTC offset and the session zone, and capped at _MAX_DAY_NEEDLES
  days; wider ranges fall back to parse-everything. Bounded
  ``year(ts)`` predicates map to plain ``/yyyy:`` needles (digits
  only — no case issue), +-1-year margin.
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
- bounded ranges too wide for day tokens (and mtime-closed ranges)
  degrade to a coarser ``/yyyy:`` year-needle group instead of
  falling back to parse-everything.
- single strftime ``%t`` columns whose format contains ``%Y`` render
  the 4-digit year verbatim, so bounded/mtime-closed time and year
  predicates push BARE year-digit needles (no layout punctuation is
  assumed) — day needles stay Apache-%t-only.
- single epoch ``%t`` columns (``%{sec}t``/``%{msec}t``/``%{usec}t``)
  render the decimal epoch value verbatim, so a bounded range pushes a
  digit-PREFIX cover (every in-range token starts with one of <= 12
  prefixes; most-selective cover chosen; digit-count boundaries bail).
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
from dataclasses import dataclass, field, replace
from functools import reduce
from typing import Callable, List, Optional, Tuple, Union

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.classic.dataframe import DataFrame

from . import fs as FS
from .colstats import _disjoint, narrow, stats_for

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

# widest OR-of-days group worth pushing: beyond this the byte scan's
# selectivity (and its per-line cost) stops paying for itself
_MAX_DAY_NEEDLES = 12


@dataclass
class PushdownContext:
    """What the deriver may assume about the scan's columns.

    ``ts_day_cols``: timestamp columns produced by a SINGLE plain
    ``%t`` directive in the Apache default layout — their raw text is
    deterministically ``[dd/MMM/yyyy:HH:mm:ss Z]``, so a bounded
    time predicate maps to an OR-of-day substring group.
    ``margin_days``: slack added on each side of a derived day range.
    1 covers the log line's own UTC offset (<= +-14h) when the session
    time zone is UTC; 2 additionally covers a non-UTC session zone
    (date/`to_date` semantics follow the session zone) plus DST.
    """

    verbatim_str: set = field(default_factory=set)
    verbatim_int: set = field(default_factory=set)
    ts_day_cols: set = field(default_factory=set)
    # single strftime-%t columns whose format contains %Y: the 4-digit
    # year renders VERBATIM somewhere in the raw text, so bounded year
    # sets map to bare year-digit needles (weaker than the anchored
    # /yyyy: form — no surrounding punctuation can be assumed)
    ts_year_cols: set = field(default_factory=set)
    # single epoch-%t columns: name -> µs-per-rendered-unit (1e6 for
    # %{sec}t, 1e3 for %{msec}t, 1 for %{usec}t). The raw token IS the
    # decimal rendering of the epoch value, so a bounded range maps to
    # a covering set of digit-PREFIX needles (every integer in the
    # range starts with one of them)
    ts_epoch_cols: dict = field(default_factory=dict)
    # single strftime-%t columns whose format contains a CONTIGUOUS
    # date-rendering token run (e.g. %Y-%m-%d or %d/%b/%Y — strict
    # 2-digit %m/%d regexes, so the zero-padded rendering is the ONLY
    # raw text that parses): name -> token run, a tuple of ("lit", ch)
    # / ("spec", "Y"|"m"|"d"|"b") items. A bounded range renders each
    # in-range day through the run VERBATIM — far more selective than
    # the bare-year fallback (ts_year_cols) those columns also carry.
    ts_date_cols: dict = field(default_factory=dict)
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


def _ts_attr(e, ctx) -> Optional[Tuple[str, str]]:
    """(column name, semantic domain 'date'|'timestamp') when ``e`` is
    a ts_day column under casts/to_date.

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
            if dt == "timestamp" and (
                cur.name() in ctx.ts_day_cols
                or cur.name() in ctx.ts_year_cols
                or cur.name() in ctx.ts_epoch_cols
            ):
                return cur.name(), domain or "timestamp"
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
    ``cls`` and children ``kids`` on ``year(ts)`` — ``year()`` resolves
    as Year(Cast(ts AS DATE)), and the raw %t text always carries the
    4-digit year before the colon, so a bounded year range maps to an OR
    group of ``/yyyy:`` needles (one per year, +-1 margin for
    zone/offset boundary shifts)."""
    op = _CMP_OPS.get(cls)
    if op is None or not (ctx.ts_day_cols or ctx.ts_year_cols):
        return None
    l, r = kids
    for a, b, flip in ((l, r, False), (r, l, True)):
        au = a
        while _simple(au) in ("Cast", "AnsiCast", "TryCast"):
            au = _children(au)[0]
        if _simple(au) != "Year":
            continue
        kids = _children(au)
        if len(kids) != 1 or _attr_name(kids[0]) not in (
            ctx.ts_day_cols | ctx.ts_year_cols
        ):
            continue
        name = _attr_name(kids[0])
        val, dt = _literal(b)
        if val is None:
            return None
        try:
            y = int(str(val))
        except (TypeError, ValueError):
            return None
        o = _FLIP[op] if flip else op
        if o == "==":
            return name, y, y
        if o == ">=":
            return name, y, None
        return name, None, y
    return None


def _year_needles(lo: int, hi: int) -> Optional[List[Needle]]:
    if lo > hi or hi - lo + 1 > 4:
        return None
    if lo - 1 < 1000 or hi + 1 > 9998:
        return None  # 4-digit years only; don't bet on padding
    # digits + punctuation only: a plain case-sensitive Contains
    return [f"/{y}:" for y in range(lo - 1, hi + 2)]


def _ts_leaf_interval(cls, kids, ctx) -> Optional[Tuple[str, Optional[int], Optional[int]]]:
    """(col, lo_us|None, hi_us|None) for a comparison node of class
    ``cls`` and children ``kids`` on a ts_day / ts_year / ts_epoch
    column; open ends are None."""
    op = _CMP_OPS.get(cls)
    if op is None or not (ctx.ts_day_cols or ctx.ts_year_cols or ctx.ts_epoch_cols):
        return None
    l, r = kids
    for a, b, flip in ((l, r, False), (r, l, True)):
        side = _ts_attr(a, ctx)
        if side is None:
            continue
        name, domain = side
        iv = _time_literal_interval(b, domain)
        if iv is None:
            continue
        lo_v, hi_v = iv
        o = _FLIP[op] if flip else op
        if o == "==":
            return name, lo_v, hi_v
        if o == ">=":
            return name, lo_v, None
        return name, None, hi_v
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
    if lo_us > hi_us:
        return None  # contradictory range: fall back, plan stays exact
    lo_day = lo_us // _US_PER_DAY - margin
    hi_day = hi_us // _US_PER_DAY + margin
    if hi_day - lo_day + 1 > _MAX_DAY_NEEDLES:
        return None
    epoch = _dt.date(1970, 1, 1)
    days: set = set()
    months: set = set()
    try:
        for day in range(lo_day, hi_day + 1):
            d = epoch + _dt.timedelta(days=day)
            if d.year < 1000:
                return None  # %t years are 4-digit; don't bet on padding
            days.add(f"[{d.day:02d}/")
            months.add(("ci", f"/{_MONTHS[d.month - 1]}/{d.year}:"))
    except OverflowError:
        return None
    return [sorted(days), sorted(months)]


def _bare_year_needles(lo: int, hi: int) -> Optional[List[Needle]]:
    """Year needles for strftime-%Y columns: the bare 4-digit strings
    (plain case-sensitive Contains) — no surrounding punctuation can be
    assumed about the layout, so weaker than /yyyy: but still sound
    (the %Y render IS those digits). Same +-1 margin and 4-year cap as
    _year_needles."""
    if lo > hi or hi - lo + 1 > 4:
        return None
    if lo - 1 < 1000 or hi + 1 > 9998:
        return None
    return [str(y) for y in range(lo - 1, hi + 2)]


def _render_years(name: str, ctx: "PushdownContext", lo: int, hi: int) -> Optional[List[Needle]]:
    if name in ctx.ts_day_cols:
        return _year_needles(lo, hi)
    if name in ctx.ts_year_cols:
        return _bare_year_needles(lo, hi)
    return None  # epoch columns carry no year digits


_MAX_EPOCH_NEEDLES = 12


def _epoch_prefix_needles(
    lo_us: int, hi_us: int, unit_us: int, margin: int
) -> Optional[List[Needle]]:
    """Digit-prefix cover of a bounded epoch range: the raw token is
    the decimal epoch value, so every in-range token starts with one of
    the returned prefixes. Picks the LONGEST prefix length whose cover
    stays within _MAX_EPOCH_NEEDLES (longest = most selective); bails
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
        if n <= _MAX_EPOCH_NEEDLES:
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
    if lo_us > hi_us:
        return None
    lo_day = lo_us // _US_PER_DAY - margin
    hi_day = hi_us // _US_PER_DAY + margin
    if hi_day - lo_day + 1 > _MAX_DAY_NEEDLES:
        return None
    has_month_name = any(k == "spec" and t == "b" for k, t in run)
    epoch = _dt.date(1970, 1, 1)
    out: set = set()
    try:
        for day in range(lo_day, hi_day + 1):
            d = epoch + _dt.timedelta(days=day)
            if not (1000 <= d.year <= 9999):
                return None  # %Y is \d{4}: don't bet outside 4-digit years
            parts = []
            for k, t in run:
                if k == "lit":
                    parts.append(t)
                elif t == "Y":
                    parts.append(f"{d.year:04d}")
                elif t == "m":
                    parts.append(f"{d.month:02d}")
                elif t == "d":
                    parts.append(f"{d.day:02d}")
                else:  # month abbreviation (%b/%h)
                    parts.append(_MONTHS[d.month - 1])
            s = "".join(parts)
            out.add(("ci", s.lower()) if has_month_name else s)
    except OverflowError:
        return None
    return [sorted(out)]


def _year_group_from_us(
    name: str, lo_us: int, hi_us: int, ctx: "PushdownContext"
) -> Optional[List[Needle]]:
    """Fallback when a bounded range is too wide for day needles (or
    the column is strftime-%Y): the year group spanning [lo, hi]
    (+margin days each side; the renderer adds a further +-1 year of
    zone/skew slack). Much coarser than day tokens but still skips
    whole off-year files."""
    if lo_us > hi_us:
        return None
    epoch = _dt.date(1970, 1, 1)
    try:
        ylo = (epoch + _dt.timedelta(days=lo_us // _US_PER_DAY - ctx.margin_days)).year
        yhi = (epoch + _dt.timedelta(days=hi_us // _US_PER_DAY + ctx.margin_days)).year
    except OverflowError:
        return None
    return _render_years(name, ctx, ylo, yhi)


def _bounded_time_groups(
    name: str, lo_us: Optional[int], hi_us: Optional[int], ctx: "PushdownContext"
) -> Optional[Needles]:
    """CNF groups for a time interval on column ``name``, closing an
    open-above end from the file listing's mtime bound (ctx.hi_us)
    when available. Apache-%t columns get day needles when the range
    is narrow enough and /yyyy: year needles otherwise; strftime-%Y
    columns get bare year-digit needles only (no layout assumed)."""
    if lo_us is not None and hi_us is None:
        hi_us = ctx.hi_us
    if lo_us is None or hi_us is None:
        return None  # open-below (or unclosable) range: no sound needle
    if name in ctx.ts_epoch_cols:
        g = _epoch_prefix_needles(
            lo_us, hi_us, ctx.ts_epoch_cols[name], ctx.margin_days
        )
        return [g] if g else None
    if name in ctx.ts_day_cols:
        g = _day_cnf(lo_us, hi_us, ctx.margin_days)
        if g:
            return g
    if name in ctx.ts_date_cols:
        # strftime layout rendering a full date: day-level needles
        # (falls through to the bare-year group when the range is wide)
        g = _date_run_needles(ctx.ts_date_cols[name], lo_us, hi_us, ctx.margin_days)
        if g:
            return g
    yg = _year_group_from_us(name, lo_us, hi_us, ctx)
    return [yg] if yg else None


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
        o = _FLIP[op] if flip else op
        if o == "==":
            return name, v, v
        if o == ">=":
            return name, v + strict, None
        return name, None, v - strict
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
            # to_date(ts) IN (d1, d2, ...): union each literal's day
            # and month-year tokens (cross-product over-approximation
            # of the OR — sound, the typed filter removes extras)
            name, domain = side
            if name in ctx.ts_epoch_cols:
                # union each literal's prefix cover into ONE OR group
                toks: set = set()
                for lit in kids[1:]:
                    ivl = _time_literal_interval(lit, domain)
                    if ivl is None:
                        return None
                    g = _epoch_prefix_needles(
                        ivl[0], ivl[1], ctx.ts_epoch_cols[name], ctx.margin_days
                    )
                    if g is None:
                        return None
                    toks.update(g)
                if not toks or len(toks) > _MAX_EPOCH_NEEDLES:
                    return None
                return [sorted(toks)]
            if name in ctx.ts_date_cols:
                # full-date-rendering strftime column: union each
                # literal's day needles into ONE OR group, same cap as
                # the Apache-day branch; any literal too wide for day
                # needles falls through to the coarser bare-year union
                toks = set()
                for lit in kids[1:]:
                    ivl = _time_literal_interval(lit, domain)
                    if ivl is None:
                        toks = None
                        break
                    g = _date_run_needles(
                        ctx.ts_date_cols[name], ivl[0], ivl[1], ctx.margin_days
                    )
                    if g is None:
                        toks = None
                        break
                    toks.update(g[0])
                if toks and len(toks) <= _MAX_DAY_NEEDLES:
                    return [sorted(toks)]
                # fall through to the bare-year union below
            if name in ctx.ts_year_cols:
                # strftime-%Y column: union the bare-year needles,
                # capped like the sibling day/epoch branches — a
                # many-year IN list would otherwise push an arbitrarily
                # wide OR-of-Contains that costs more than the parse
                yrs: set = set()
                for lit in kids[1:]:
                    ivl = _time_literal_interval(lit, domain)
                    if ivl is None:
                        return None
                    g = _year_group_from_us(name, ivl[0], ivl[1], ctx)
                    if g is None:
                        return None
                    yrs.update(g)
                if not yrs or len(yrs) > _MAX_DAY_NEEDLES:
                    return None
                return [sorted(yrs)]
            day_toks: set = set()
            month_toks: set = set()
            for lit in kids[1:]:
                ivl = _time_literal_interval(lit, domain)
                if ivl is None:
                    return None
                g = _day_cnf(ivl[0], ivl[1], ctx.margin_days)
                if g is None:
                    return None
                day_toks.update(g[0])
                month_toks.update(g[1])
            if not day_toks or len(day_toks) > _MAX_DAY_NEEDLES:
                return None
            return [sorted(day_toks), sorted(month_toks)]
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
                g = _render_years(name, ctx, lo, hi)
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
