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
   parse (reader._parse_lines applies them to the raw ``value`` column),
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
  filter) close their open end at derivation time from the FILE
  LISTING's max modification time (fs.max_mtime): a log line's %t is
  the request-arrival instant, written to the file no later than the
  file's last modification, so max mtime (+the usual margins) bounds
  every instant in a fixed file set. Batch scans only — a stream's
  future files arrive with later mtimes, so the streaming source
  never binds this. Opt out with spark.graft.pushdown.mtimeBound=
  false for pathological corpora carrying future-dated lines (the
  one assumption this leans on).
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

Cited parity anchor: the reference parses every line unconditionally
(src/httpd_log_file_reader.cpp); this pushdown is beyond-reference,
motivated by its TODO-free single-pass design — the only way to beat
"parse everything" is to not parse non-matching lines at all.
"""

from __future__ import annotations

import datetime as _dt
from dataclasses import dataclass, field
from typing import Callable, List, Optional, Tuple, Union

from pyspark.sql import functions as F
from pyspark.sql.classic.dataframe import DataFrame

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
    # filter) at derivation time: returns an upper-bound epoch-µs for
    # any %t instant in the scanned FILE SET, or None. Batch scans
    # bind it to the listing's max modification time (fs.max_mtime) —
    # a line's request time cannot be later than its file's last
    # write (+margin_days / +1y of skew slack applied downstream).
    # Streaming scans leave it None: future files arrive with later
    # mtimes, so no bind-time bound is sound there.
    hi_us_fn: Optional[Callable[[], Optional[int]]] = None

    def hi_us(self) -> Optional[int]:
        # deliberately NOT cached here: the reader's hi_us_fn caches the
        # (expensive) mtime stat itself but re-reads the
        # spark.graft.pushdown.mtimeBound conf on every derivation, so
        # toggling the opt-out between filters on the same frame works
        return None if self.hi_us_fn is None else self.hi_us_fn()


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


def _year_leaf(e, ctx) -> Optional[Tuple[str, Optional[int], Optional[int]]]:
    """(col, lo_year|None, hi_year|None) for a comparison on
    ``year(ts)`` — ``year()`` resolves as Year(Cast(ts AS DATE)), and
    the raw %t text always carries the 4-digit year before the colon,
    so a bounded year range maps to an OR group of ``/yyyy:``
    needles (one per year, +-1 margin for zone/offset boundary
    shifts)."""
    op = _CMP_OPS.get(_simple(e))
    if op is None or not (ctx.ts_day_cols or ctx.ts_year_cols):
        return None
    l, r = _children(e)
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


def _ts_leaf_interval(e, ctx) -> Optional[Tuple[str, Optional[int], Optional[int]]]:
    """(col, lo_us|None, hi_us|None) for a comparison leaf on a
    ts_day / ts_year column; open ends are None."""
    op = _CMP_OPS.get(_simple(e))
    if op is None or not (ctx.ts_day_cols or ctx.ts_year_cols or ctx.ts_epoch_cols):
        return None
    l, r = _children(e)
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
        hi_us = ctx.hi_us()
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
    hi_us = ctx.hi_us()
    if hi_us is None:
        return None
    try:
        return (_dt.date(1970, 1, 1) + _dt.timedelta(days=hi_us // _US_PER_DAY)).year
    except OverflowError:
        return None


def _flatten_and(e) -> list:
    if _simple(e) == "And":
        l, r = _children(e)
        return _flatten_and(l) + _flatten_and(r)
    return [e]


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


def derive_needles(e, ctx: PushdownContext) -> Optional[Needles]:
    cls = _simple(e)
    if cls == "And":
        # flatten the conjunction so BOUNDED time ranges split across
        # leaves (ts >= a AND ts < b, BETWEEN's rewrite, to_date ==)
        # intersect into ONE day group; other conjuncts derive as usual
        groups: Needles = []
        intervals: dict = {}
        years: dict = {}
        for c in _flatten_and(e):
            iv = _ts_leaf_interval(c, ctx)
            if iv is not None:
                name, lo, hi = iv
                cur = intervals.get(name, (None, None))
                lo = cur[0] if lo is None else (lo if cur[0] is None else max(cur[0], lo))
                hi = cur[1] if hi is None else (hi if cur[1] is None else min(cur[1], hi))
                intervals[name] = (lo, hi)
                continue
            yv = _year_leaf(c, ctx)
            if yv is not None:
                name, lo, hi = yv
                cur = years.get(name, (None, None))
                lo = cur[0] if lo is None else (lo if cur[0] is None else max(cur[0], lo))
                hi = cur[1] if hi is None else (hi if cur[1] is None else min(cur[1], hi))
                years[name] = (lo, hi)
                continue
            d = derive_needles(c, ctx)
            if d:
                groups += d
        for name, (lo, hi) in intervals.items():
            g = _bounded_time_groups(name, lo, hi, ctx)
            if g:
                groups += g
        for name, (lo, hi) in years.items():
            if lo is not None and hi is None:
                hi = _close_year_hi(ctx)
            if lo is not None and hi is not None:
                g = _render_years(name, ctx, lo, hi)
                if g:
                    groups.append(g)
        return groups or None
    if cls == "Or":
        l, r = _children(e)
        dl = derive_needles(l, ctx)
        dr = derive_needles(r, ctx)
        if dl and dr:
            return _or_merge(dl, dr)
        return None
    iv = _ts_leaf_interval(e, ctx)
    if iv is not None:
        name, lo, hi = iv
        # open-above closes from the listing's mtime bound; too-wide
        # bounded ranges degrade to year needles (_bounded_time_groups)
        return _bounded_time_groups(name, lo, hi, ctx)
    yv = _year_leaf(e, ctx)
    if yv is not None:
        name, lo, hi = yv
        if lo is not None and hi is None:
            hi = _close_year_hi(ctx)
        if lo is not None and hi is not None:
            g = _render_years(name, ctx, lo, hi)
            return [g] if g else None
        return None
    if cls in ("EqualTo", "EqualNullSafe"):
        l, r = _children(e)
        return _eq_needles(l, r, ctx)
    if cls in ("Contains", "StartsWith", "EndsWith"):
        l, r = _children(e)
        name = _attr_name(l)
        val, dt = _literal(r)
        if name in ctx.verbatim_str and dt == "string" and val is not None:
            s = str(val)
            return [[s]] if s else None
        return None
    if cls == "Like":
        l, r = _children(e)
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
        kids = _children(e)
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


def apply_cnf(df: DataFrame, cnf: Needles) -> DataFrame:
    """AND of OR-of-needles over the raw ``value`` column.

    Plain needles are case-sensitive Contains; a group's ("ci", s)
    needles fold into ONE case-insensitive RLike alternation of
    escaped literals — measured faster than both lower()+contains
    (avoids the per-line lowered copy) and per-case-variant contains."""
    import re as _re

    for group in cnf:
        pred = None
        for n in group:
            if isinstance(n, str):
                c = F.col("value").contains(n)
                pred = c if pred is None else (pred | c)
        ci = [n[1] for n in group if not isinstance(n, str)]
        if ci:
            c = F.col("value").rlike(
                "(?i)" + "|".join(_re.escape(s) for s in ci)
            )
            pred = c if pred is None else (pred | c)
        df = df.filter(pred)
    return df


# Catalyst nodes whose value can differ between the scan query and the
# tiny driver-side file-pruning query (per-query "now" snapshots, ids,
# randomness) — a conjunct containing one must never prune files, even
# though Catalyst marks some of them deterministic.
_QUERY_LOCAL_NODES = {
    "CurrentDate",
    "CurrentTimestamp",
    "CurrentTimeZone",
    "Now",
    "LocalTimestamp",
    "CurrentDatabase",
    "CurrentCatalog",
    "CurrentUser",
    "InputFileName",
    "SparkPartitionID",
    "MonotonicallyIncreasingID",
    "Uuid",
    "Rand",
    "Randn",
}


def _attrs_and_pruner_safe(e) -> Tuple[set, bool]:
    """(attribute names referenced, safe-to-evaluate-out-of-query).

    Safe means: no query-local node (see _QUERY_LOCAL_NODES) and no
    subquery expression — those either change value across queries or
    cannot be re-planned against the tiny one-column file frame."""
    s = _simple(e)
    if s in _QUERY_LOCAL_NODES or "Subquery" in s or s in ("Exists", "InSubquery"):
        return set(), False
    names = {e.name()} if s == "AttributeReference" else set()
    ok = True
    for c in _children(e):
        n, o = _attrs_and_pruner_safe(c)
        names |= n
        ok = ok and o
    return names, ok


def file_prune_sql(cond, prune_cols: Optional[set] = None) -> Optional[str]:
    """SQL string of the conjuncts of ``cond`` that reference ONLY
    file-constant columns (``prune_cols``: log_file and, when
    hive_partitioning is on, the partition keys — all deterministic
    functions of the file path), or None when no conjunct qualifies.

    Every row of a file carries the same value for those columns, so
    such a conjunct is file-constant: a file where it evaluates to
    false/NULL contributes no row to the filtered result and can be
    dropped from the LISTING — skipping whole files beats any raw-line
    needle. Evaluation happens through Spark itself (a one-column
    DataFrame of the bind-time listing with the same derived columns
    attached), so LIKE/regexp/substring semantics are exact by
    construction. Reference parallelism anchor: the reference opens one
    reader per listed file (src/httpd_log_multi_file_info.cpp:236-249)
    — pruning the listing is the Spark-native analogue of never
    opening the file."""
    if prune_cols is None:
        prune_cols = {"log_file"}
    keep = []
    for c in _flatten_and(cond):
        try:
            names, safe = _attrs_and_pruner_safe(c)
            if safe and names and names <= prune_cols and c.deterministic():
                keep.append(f"({c.sql()})")
        except Exception:
            continue
    return " AND ".join(keep) if keep else None


_GLOB_META = set("*?[]{}\\,")


def stream_glob_for(cond, watch_path: str) -> Optional[str]:
    """Hadoop filename glob (for the file source's ``pathGlobFilter``
    option) implied by a ``log_file`` conjunct of ``cond``, or None.

    This is the STREAMING twin of the batch listing prune: a batch scan
    re-plans over a pruned bind-time file list, but a stream's file set
    grows per trigger, so the prune must be a property the source
    re-evaluates at every listing — exactly what ``pathGlobFilter``
    is. Time bounds stay excluded (new files arrive with later mtimes);
    path predicates are sound per-trigger because a file's path never
    changes.

    Soundness bar (the ORIGINAL predicate is always re-applied above
    the rebuilt scan, so only wrongly EXCLUDING a file could ever be
    wrong — every guard below protects that direction):

    - the watched path's DIRECTORY portion must be static (no glob
      metacharacters before the leaf);
    - needle text must be '/'-free, glob-metacharacter-free, and
      %/_-free;
    - NESTING-SAFE forms only (r13 ADVICE): the file stream source can
      list files inside key=value SUBDIRECTORIES of the watch dir even
      without recursiveFileLookup, and ``pathGlobFilter`` matches only
      the LEAF filename — so a translated form must stay sound when
      arbitrary subdirectory text sits between the watch dir and the
      leaf. That admits: EndsWith / LIKE '%X' (a '/'-free suffix of
      the full path is always a suffix of the leaf), and full-path
      equality / IN / wildcard-free LIKE anchored at the watch dir (a
      true predicate forces the leaf to equal the anchored name; a
      subdir file can only be OVER-kept, never wrongly excluded).
      Contains / LIKE '%X%' and wildcard-bearing anchored LIKEs are
      NOT translated — their needle can match subdirectory text (or a
      '%' can span '/'), which the leaf-only glob cannot see.
    - remote watch dirs (s3a/hdfs/viewfs/...) qualify exactly like
      local ones: the anchored forms compare the predicate's literal
      against the watch URI itself, and the suffix form never looks at
      the directory — percent-encoding in input_file_name is undone by
      the reader's url_decode, and needles are '%'-free by the guard
      above, so the decoded-leaf == on-disk-leaf equivalence the glob
      needs is the same one the batch pairs already rely on.

    Returns the FIRST translatable conjunct's glob (one glob suffices
    to prune; the rest of the predicate still filters rows)."""
    import os.path as _osp

    from .fs import _uri_path, has_scheme, scheme_of

    if has_scheme(watch_path) and scheme_of(watch_path) != "file":
        # the stream binds log_file to the url-decoded input_file_name
        # URI, so anchored literals are compared against the watch URI
        # verbatim; a '%'-bearing watch URI is ambiguous between
        # encoded and literal (same guard as the batch pairs) — skip
        if "%" in watch_path:
            return None
        prefix = watch_path.rstrip("/") + "/"
    else:
        p = _uri_path(watch_path) if has_scheme(watch_path) else watch_path
        prefix = _osp.abspath(p) + "/"
    # only a GLOB-FREE directory watch qualifies: a glob component can
    # match a DIRECTORY (e.g. /l*gs -> /logs/...), making the anchored
    # prefix comparison meaningless. (The caller additionally disables
    # the prune under recursiveFileLookup and user pathGlobFilter.)
    if set(prefix) & _GLOB_META:
        return None

    def _plain(s: str) -> bool:
        return bool(s) and "/" not in s and not (set(s) & _GLOB_META) and "%" not in s and "_" not in s

    for c in _flatten_and(cond):
        try:
            s = _simple(c)
            if s == "EndsWith":
                l, r = _children(c)
                if _attr_name(l) == "log_file":
                    v, dt = _literal(r)
                    if dt == "string" and _plain(str(v)):
                        return f"*{v}"
            elif s in ("EqualTo", "EqualNullSafe"):
                l, r = _children(c)
                for a, b in ((l, r), (r, l)):
                    if _attr_name(a) == "log_file":
                        v, dt = _literal(b)
                        if dt == "string" and str(v).startswith(prefix):
                            rest = str(v)[len(prefix):]
                            if _plain(rest):
                                return rest
            elif s == "In":
                kids = _children(c)
                if _attr_name(kids[0]) == "log_file":
                    names = []
                    ok = True
                    for k in kids[1:]:
                        v, dt = _literal(k)
                        if dt != "string" or not str(v).startswith(prefix):
                            ok = False
                            break
                        rest = str(v)[len(prefix):]
                        if not _plain(rest):
                            ok = False
                            break
                        names.append(rest)
                    if ok and names:
                        return "{" + ",".join(names) + "}"
            elif s == "Like":
                l, r = _children(c)
                if _attr_name(l) == "log_file":
                    v, dt = _literal(r)
                    if dt != "string":
                        continue
                    pat = str(v)
                    if pat.startswith("%") and not pat.endswith("%"):
                        body = pat.lstrip("%")
                        # LIKE '%X' == EndsWith(X): suffix form,
                        # nesting-safe when X is plain
                        if _plain(body):
                            return f"*{body}"
                    elif pat.startswith(prefix):
                        rest = pat[len(prefix):]
                        # wildcard-free anchored LIKE == equality
                        if _plain(rest):
                            return rest
        except Exception:
            continue
    return None


def cond_ts_lower_us(cond, ctx: PushdownContext) -> Optional[int]:
    """Largest lower time bound (epoch µs) any top-level CONJUNCT of
    ``cond`` places on a recognized %t column, or None.

    Used for FILE-LEVEL mtime pruning: under the documented mtime
    contract (a log line's %t instant is never later than its file's
    last modification + skew margin), a file whose mtime + margin is
    below this bound cannot contain a qualifying row, so the whole
    file is skipped — rotated-log corpora answer "since yesterday"
    without opening years of old files. Only conjuncts count (a
    disjunct's other branch could still match); equality and bounded
    ranges bound below too; year(ts) >= y maps to Jan 1 of y (the
    session-zone offset is inside the 2-day margin)."""
    best: Optional[int] = None
    for c in _flatten_and(cond):
        iv = _ts_leaf_interval(c, ctx)
        if iv is not None:
            lo = iv[1]
            if lo is not None:
                best = lo if best is None else max(best, lo)
            continue
        yv = _year_leaf(c, ctx)
        if yv is not None and yv[1] is not None:
            y = yv[1]
            try:
                days = (_dt.date(y, 1, 1) - _dt.date(1970, 1, 1)).days
            except (ValueError, OverflowError):
                continue
            lo = days * _US_PER_DAY
            best = lo if best is None else max(best, lo)
    return best


class LineFilterableFrame(DataFrame):
    """read_httpd_log's fast-path result: a plain DataFrame whose
    ``filter``/``where`` additionally attempts two scan re-plans —
    pruning the FILE LISTING from log_file-only conjuncts (whole files
    skipped) and the raw-line Contains pushdown (non-matching lines
    never reach the parse regex). Every derived transformation returns
    a plain DataFrame, so the pushdown applies exactly where it is
    sound: predicates placed directly on the scan result."""

    def __new__(cls, *args, **kwargs):
        # the classic DataFrame.__new__ hard-codes the (jdf, sql_ctx)
        # ctor shape and invokes __init__ itself; bypass it
        return object.__new__(cls)

    def __init__(
        self,
        df: DataFrame,
        rebuild: Callable[..., DataFrame],
        ctx: PushdownContext,
        file_pairs: Optional[list] = None,
        prune_prepare: Optional[Callable[[DataFrame], DataFrame]] = None,
        prune_cols: Optional[set] = None,
        file_mtimes_fn: Optional[Callable[[], Optional[list]]] = None,
        stream_glob_fn: Optional[Callable] = None,
        colstats_fp: Optional[str] = None,
    ):
        super().__init__(df._jdf, df.sparkSession)
        self._lf_rebuild = rebuild
        # streaming twin of the listing prune: cond -> pathGlobFilter
        # glob (or None); set only by the stream source, whose rebuild
        # takes the glob where the batch rebuild takes a file subset
        self._lf_stream_glob_fn = stream_glob_fn
        self._lf_ctx = ctx
        # (bind-time path, row-visible log_file value) pairs; None when
        # the reader can't vouch the mapping (remote schemes) or the
        # rebuild can't take a subset (streaming source)
        self._lf_files = file_pairs
        # attaches the same derived file-constant columns (hive
        # partition keys) to the tiny pruning frame that the scan
        # attaches to its rows, so predicates on them evaluate
        # identically; identity when hive_partitioning is off
        self._lf_prune_prepare = prune_prepare
        self._lf_prune_cols = prune_cols or {"log_file"}
        # per-file epoch-second mtimes aligned with file_pairs (None
        # entries = unknown, never pruned); None when the mtime bound
        # is opted out or the scan is a stream — see reader.py
        self._lf_mtimes_fn = file_mtimes_fn
        # reader-config fingerprint scoping the column-stats cache
        # (format regex + line_filter — see colstats.py); None disables
        # the colstats tier (e.g. streams)
        self._lf_colstats_fp = colstats_fp

    # skew slack for FILE-LEVEL mtime pruning: same 2-day contract the
    # mtime-closed open-above bound documents (README "+2-day margin")
    _MTIME_PRUNE_SLACK_US = 2 * _US_PER_DAY

    def _time_pruned_subset(self, cond) -> Optional[list]:
        """Bind-time paths whose mtime (+2-day skew slack) can still
        hold a row passing ``cond``'s lower time bound; None when
        nothing prunes or the machinery is unavailable/opted out."""
        if not self._lf_files or self._lf_mtimes_fn is None:
            return None
        lo = cond_ts_lower_us(cond, self._lf_ctx)
        if lo is None:
            return None
        mts = self._lf_mtimes_fn()
        if mts is None or len(mts) != len(self._lf_files):
            return None
        keep: list = []
        dropped: list = []
        for (b, _v), mt in zip(self._lf_files, mts):
            if mt is None or int(mt * 1_000_000) + self._MTIME_PRUNE_SLACK_US >= lo:
                keep.append(b)
            else:
                dropped.append(b)
        if not dropped:
            return None
        # The recorded mtimes come from the BIND-TIME listing; a file
        # appended since then can hold rows newer than that stale stat.
        # Re-stat ONLY the would-drop set fresh before committing to
        # skipping it (one stat per dropped file — far cheaper than a
        # wrong skip, and the kept set needs no re-check: a newer mtime
        # only ever widens, never shrinks, the keep decision).
        from .fs import file_mtimes

        fresh = file_mtimes(self.sparkSession, dropped, fresh=True)
        rescued = {
            b
            for b, mt in zip(dropped, fresh)
            if mt is None
            or int(mt * 1_000_000) + self._MTIME_PRUNE_SLACK_US >= lo
        }
        if len(rescued) == len(dropped):
            return None
        keep_set = set(keep) | rescued
        return [b for b, _v in self._lf_files if b in keep_set]

    def _colstats_pruned_subset(self, cond) -> Optional[list]:
        """Bind-time paths whose per-file column stats can still satisfy
        every recognized int-column conjunct of ``cond``; None when
        nothing prunes (off, no stats-able conjunct, no fresh stats).
        See sources/colstats.py for the contract and gathering policy."""
        if (
            not self._lf_files
            or len(self._lf_files) < 2
            or self._lf_colstats_fp is None
        ):
            return None
        policy = str(
            self.sparkSession.conf.get("spark.graft.pushdown.colStats", "auto")
        ).lower()
        if policy not in ("auto", "eager"):
            return None
        int_cols = self._lf_ctx.verbatim_int
        if not int_cols:
            return None
        from .colstats import _disjoint, cond_int_intervals, stats_for

        req = cond_int_intervals(cond, int_cols)
        if not req:
            return None
        stats = stats_for(
            self.sparkSession,
            self._lf_rebuild,
            self._lf_colstats_fp,
            self._lf_files,
            int_cols,
            policy,
        )
        if not stats:
            return None
        keep = [
            b
            for b, _v in self._lf_files
            if b not in stats or not _disjoint(stats[b], req)
        ]
        return keep if len(keep) < len(self._lf_files) else None

    def _pruned_subset(self, cond) -> Optional[list]:
        """Bind-time paths surviving the file-constant conjuncts of
        ``cond`` (log_file / hive partition keys); None when nothing
        prunes (or pruning is unavailable)."""
        if not self._lf_files:
            return None
        sql = file_prune_sql(cond, self._lf_prune_cols)
        if sql is None:
            return None
        spark = self.sparkSession
        # the VALUES fast path goes through the SQL PARSER, whose string
        # -literal escaping depends on spark.sql.parser.escapedStringLiterals
        # (default false: \n etc. are unescaped, mangling the value so the
        # membership test silently prunes the file). Quote-doubling is
        # parser-mode-independent, backslashes are not — route any
        # backslash-bearing listing through the parse-free tiny frame.
        if len(self._lf_files) <= 20_000 and not any(
            "\\" in v for _b, v in self._lf_files
        ):
            # VALUES builds a LocalRelation: Catalyst's
            # ConvertToLocalRelation folds the Filter/Project over it in
            # the OPTIMIZER, so collect() runs task-free (~60 ms vs
            # ~450 ms for a parallelized tiny frame — measured; the
            # prune must stay cheap relative to the scan it skips).
            # Beyond the cap the SQL text itself gets megabytes long —
            # fall back to a one-slice distributed frame.
            vals = ", ".join(
                "('" + v.replace("'", "''") + "')" for _b, v in self._lf_files
            )
            tiny = spark.sql(f"SELECT log_file FROM (VALUES {vals}) AS t(log_file)")
        else:
            tiny = spark.createDataFrame(
                spark.sparkContext.parallelize(
                    [(v,) for _b, v in self._lf_files], 1
                ),
                "log_file string",
            )
        if self._lf_prune_prepare is not None:
            tiny = self._lf_prune_prepare(tiny)
        keep = {r[0] for r in tiny.filter(F.expr(sql)).select("log_file").collect()}
        if len(keep) >= len(self._lf_files):
            return None  # nothing pruned: keep the original plan
        return [b for b, v in self._lf_files if v in keep]

    def filter(self, condition):  # type: ignore[override]
        plain = super().filter(condition)
        try:
            jplan = plain._jdf.queryExecution().analyzed()
            if _simple(jplan) != "Filter":
                return plain
            cond = jplan.condition()
            ctx = self._lf_ctx
            # margin is a session-zone property, so read it at filter
            # time: date semantics follow spark.sql.session.timeZone
            tz = self.sparkSession.conf.get("spark.sql.session.timeZone", "UTC")
            ctx.margin_days = 1 if tz in ("UTC", "Etc/UTC", "GMT", "+00:00", "Z") else 2
            subset = self._pruned_subset(cond)
            for extra in (
                self._time_pruned_subset(cond),
                self._colstats_pruned_subset(cond),
            ):
                if extra is not None:
                    # intersect with the predicate-pruned set (each is
                    # sound independently, so the intersection is too)
                    if subset is None:
                        subset = extra
                    else:
                        eset = set(extra)
                        subset = [b for b in subset if b in eset]
            if subset is not None and not subset:
                # no file can produce a passing row: empty result,
                # Catalyst folds the always-false filter to an empty
                # LocalRelation — nothing is listed, opened, or parsed
                return plain.filter(F.lit(False))
            cnf = derive_needles(cond, ctx)
            glob = None
            if subset is None and self._lf_stream_glob_fn is not None:
                # per-trigger listing prune for streams: a log_file
                # conjunct becomes the source's pathGlobFilter, applied
                # by the file stream source at EVERY trigger's listing
                glob = self._lf_stream_glob_fn(cond)
            if not cnf and subset is None and glob is None:
                return plain
            if subset is not None:
                rebuilt = self._lf_rebuild(cnf or [], subset)
            elif glob is not None:
                rebuilt = self._lf_rebuild(cnf or [], glob)
            else:
                rebuilt = self._lf_rebuild(cnf)
            return rebuilt.filter(F.expr(cond.sql()))
        except Exception:
            # introspection is best-effort: any surprise keeps the
            # unmodified (still-correct) plan
            return plain

    where = filter
