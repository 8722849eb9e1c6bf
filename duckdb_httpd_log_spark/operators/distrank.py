"""Distributed global/grouped ranking without a single-task window.

A bare ``row_number() OVER (ORDER BY ...)`` (or a grouped window over a
low-cardinality key) funnels the whole input through one (or a few)
sort tasks — fine on a spine of days, fatal on a fact table at the
100 TB design point. Both helpers decompose the sort into the classic
two-phase scan:

1. assign each row a DETERMINISTIC range-bucket id ``__pid`` from
   driver-pinned composite bounds (below);
2. per-(group, bucket) row counts -> a small offsets table (at most
   ``n_buckets x n_groups`` rows), windowed ONCE over bucket ids for
   each bucket's global offset;
3. bucket-local row_number / cumulative sum + broadcast offset join.

Bucket ids come from a RangePartitioner-style reservoir sample of the
order tuple (one narrow ``mapInArrow`` pass, <=128 rows per input
partition reach the driver) whose selected bounds are embedded as
LITERALS in a comparison expression. That makes ``__pid`` a pure
deterministic function of the row — the r8/r9 design needed a
``localCheckpoint`` to pin ONE evaluation of the nondeterministically
SAMPLED ``repartitionByRange`` between the two passes; pinning the
bounds instead removes the checkpoint materialization AND the full
range shuffle (the window's own hash exchange on ``(__pid, keys)`` is
the only full-width shuffle left), at the cost of re-running the
input's (typically scan-cheap) lineage for the small counts pass.

The result is bit-identical to the naive global/grouped window when
``order_cols`` is a (per-group) total order — include a tiebreak — so
oracles written with plain ``row_number``/``ntile``/cumulative ``sum``
still hash-match. NULL group keys are preserved via a null-safe
offsets join (the naive window keeps NULL as a regular partition).

Descending components are passed as ``(column, False)`` tuples — NOT
``Column.desc()`` (an opaque SortOrder that can't be sampled or
compared); a bare Column means ascending. Sort-null placement follows
Spark's defaults (asc nulls first / desc nulls last), matching what
the previous ``.desc()`` form produced.
"""

from __future__ import annotations

import math
from typing import List, Optional, Sequence, Tuple, Union

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .pins import pin

OrderSpec = Union[Column, Tuple[Column, bool]]

_SAMPLE_PER_PART = 128


def _norm_order(order: Sequence[OrderSpec]) -> List[Tuple[Column, bool]]:
    out: List[Tuple[Column, bool]] = []
    for o in order:
        if isinstance(o, tuple):
            out.append((o[0], bool(o[1])))
        else:
            # a SortOrder-wrapped Column (col.desc()) can't be sampled
            # or compared — fail HERE with the fix, not at codegen time
            # deep inside the bounds job
            s = str(o)
            if " DESC " in s or " ASC " in s:
                raise TypeError(
                    "distrank order components must be plain Columns "
                    "(ascending) or (Column, False) tuples (descending); "
                    f"got a SortOrder: {s}"
                )
            out.append((o, True))
    return out


def _sort_cols(pairs: Sequence[Tuple[Column, bool]]) -> List[Column]:
    return [c if asc else c.desc() for c, asc in pairs]


_SAMPLE_TARGET = 4096
_SAMPLE_CAP = 65536


def _sample_tuples(df: DataFrame, pairs) -> List[tuple]:
    """JVM-side Bernoulli sample of the order tuple — fully inside
    whole-stage codegen (a mapInArrow reservoir measured ~10x slower:
    it streams EVERY row through a Python worker). The fraction comes
    from Catalyst's sizeInBytes estimate and escalates 16x per retry
    when the input turns out smaller than estimated, so the collect is
    bounded at any scale (rand < f plus a hard LIMIT)."""
    proj = df.select([c.alias(f"__s{i}") for i, (c, _) in enumerate(pairs)])
    names = [f.name for f in proj.schema.fields]
    try:
        size = int(str(proj._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    except Exception:
        size = 0
    est_rows = max(size // 32, 1)
    frac = min(1.0, max(_SAMPLE_TARGET / est_rows, 1e-7))
    min_rows = 4 * max(proj.sparkSession.sparkContext.defaultParallelism, 1)
    for _ in range(6):
        samp = (
            proj.withColumn("__r", F.rand(0x5EED))
            .filter(F.col("__r") < frac)
            .drop("__r")
            .limit(_SAMPLE_CAP)
            .collect()
        )
        if len(samp) >= _SAMPLE_CAP and frac > 1e-12:
            # the LIMIT bound: CollectLimit takes the FIRST partitions,
            # which would bias bounds toward early file splits (e.g.
            # early dates in time-ordered data) — resample thinner for
            # an unbiased Bernoulli draw (floor well below the initial
            # 1e-7 so even ~1e12-row inputs converge to an unbound draw)
            frac = max(frac * (_SAMPLE_TARGET / (2.0 * _SAMPLE_CAP)), 1e-12)
            continue
        if len(samp) >= min_rows or frac >= 1.0:
            break
        # unknown stats (defaultSizeInBytes = Long.MaxValue) start the
        # fraction absurdly low on small inputs — escalate aggressively,
        # proportionally when the first probe returned anything
        if samp:
            frac = min(1.0, frac * (2.0 * min_rows / len(samp)))
        else:
            frac = min(1.0, frac * 1024)
    return [tuple(r[n] for n in names) for r in samp]


def _pick_bounds(samples: List[tuple], pairs, nparts: int) -> List[tuple]:
    """Sort the sample under the composite order (asc nulls first /
    desc nulls last, Spark's defaults) and pick nparts-1 deduped
    split points."""
    rows = list(samples)
    # iterative stable sorts, last component first = lexicographic;
    # (not-null, is-nan, value) keys place NULL first under asc and
    # (with reverse) last under desc, and sort NaN greatest among
    # non-null — Spark's null placement and NaN ordering (Python NaN
    # comparisons are all false, so a bare t[i] key would leave NaN
    # rows wherever the stable sort found them)
    def _key(t, i):
        v = t[i]
        nan = isinstance(v, float) and math.isnan(v)
        return (v is not None, nan, 0.0 if nan else v)

    for i in range(len(pairs) - 1, -1, -1):
        asc = pairs[i][1]
        rows.sort(key=lambda t, i=i: _key(t, i), reverse=not asc)
    bounds: List[tuple] = []
    n = len(rows)
    if n == 0:
        return bounds  # empty input: single bucket, trivially correct
    for k in range(1, nparts):
        b = rows[(k * n) // nparts]
        if not bounds or bounds[-1] != b:
            bounds.append(b)
    return bounds


def _lex_after(pairs, b) -> Column:
    """TRUE when the row sorts strictly AFTER tuple ``b`` under the
    composite order (asc nulls first / desc nulls last). Built
    right-to-left: after_i OR (eq_i AND rest). NULL-safe throughout —
    comparisons with NULL collapse to the explicit placement rules."""
    rest = F.lit(False)
    for i in range(len(pairs) - 1, -1, -1):
        c, asc = pairs[i]
        bv = b[i]
        if bv is None:
            # asc nulls-first: after NULL <=> non-null.
            # desc nulls-last: nothing sorts after NULL.
            after = c.isNotNull() if asc else F.lit(False)
            eq = c.isNull()
        else:
            lit = F.lit(bv)
            if asc:
                after = c > lit
            else:
                after = c.isNull() | (c < lit)
            eq = c.eqNullSafe(lit)
        rest = after | (eq & rest)
    return F.coalesce(rest, F.lit(False))


def _bucket_expr(pairs, bounds: List[tuple]) -> Column:
    """#bounds strictly BEFORE the row in the composite order — a pure
    deterministic expression, monotone in the order (bucket(a) <=
    bucket(b) whenever a sorts before b), so bucket-local ranks rebase
    to exact global ranks.

    Monotonicity is STRUCTURAL, independent of the bound values or
    their order: every _lex_after(b) predicate is itself monotone in
    the row order, and left-subtree ids < right-subtree ids, so by
    induction the tree is monotone for ANY bounds list. A mis-sorted
    bounds list (e.g. a NaN-confused sample sort) can therefore only
    skew bucket BALANCE — never ranks (pinned empirically:
    tests/test_distrank.py NaN case was verified correct even under a
    deliberately scrambled bounds permutation).

    Emitted as a BINARY-SEARCH CASE tree: evaluation touches
    O(log nbounds) comparisons per row (a flat sum over all bounds
    measured ~15x more predicate work on a 6M-row input)."""

    def build(lo: int, hi: int) -> Column:
        # bucket id in [lo, hi]; bounds[lo..hi-1] separate them
        if lo == hi:
            return F.lit(lo)
        mid = (lo + hi + 1) // 2
        return F.when(
            _lex_after(pairs, bounds[mid - 1]), build(mid, hi)
        ).otherwise(build(lo, mid - 1))

    return build(0, len(bounds))


# Size-adaptive physical choice (same idea as Spark's broadcast-join
# threshold): below this estimated input size the NAIVE window is
# simply the better plan — a sub-GiB sort is single-node work anywhere,
# and the two-phase scan's extra jobs (bounds sample + counts pass)
# are pure overhead for it. Above it, the two-phase scan is the only
# plan that survives 100 TB (no low-cardinality sort funnel, one full
# shuffle, no full-table materialization). Estimates come from
# Catalyst stats; UNKNOWN sizes (Long.MaxValue) route to the scale
# path — the safe direction. Tests/rehearsals pin the scale path with
# the conf set to 0.
NAIVE_MAX_BYTES_CONF = "spark.graft.distrank.naiveMaxBytes"
_DEFAULT_NAIVE_MAX = str(1 << 30)


def _estimated_bytes(df: DataFrame) -> int:
    try:
        return int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    except Exception:
        return 1 << 62


def use_naive(df: DataFrame, conf_key: str) -> bool:
    """The size-adaptive dispatch: True when ``df``'s estimated size is
    at most the ``conf_key`` threshold (default 1 GiB). An unknown size
    takes the scale path."""
    thr = int(df.sparkSession.conf.get(conf_key, _DEFAULT_NAIVE_MAX))
    return _estimated_bytes(df) <= thr


def _naive_rank(
    df: DataFrame,
    keys: Sequence[str],
    order_cols: Sequence[OrderSpec],
    rn_col: str,
    n_col: Optional[str],
    cum_col: Optional[str],
    cum_src: Optional[str],
) -> DataFrame:
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(
        *_sort_cols(_norm_order(order_cols))
    )
    out = df.withColumn(rn_col, F.row_number().over(w))
    if n_col is not None:
        out = out.withColumn(
            n_col, F.count(F.lit(1)).over(Window.partitionBy(*keys))
        )
    if cum_col is not None:
        out = out.withColumn(
            cum_col,
            F.sum(cum_src).over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    return out


def _two_phase(
    spark: SparkSession,
    df: DataFrame,
    keys: Sequence[str],
    order_cols: Sequence[OrderSpec],
    rn_col: str,
    n_col: Optional[str],
    cum_col: Optional[str],
    cum_src: Optional[str],
    materialize: bool = False,
) -> DataFrame:
    if use_naive(df, NAIVE_MAX_BYTES_CONF):
        return _naive_rank(df, keys, order_cols, rn_col, n_col, cum_col, cum_src)
    if materialize:
        # EXPENSIVE-LINEAGE opt-in: the counts pass re-runs the input
        # lineage (module docstring trade). For a scan-cheap input the
        # re-run is faster than any materialization; for a join/derive-
        # heavy lineage a persist turns the double scan into one
        # (measured on a sha2-derived lineitem x orders lineage at
        # sf0.1: 4.09s -> 2.67s; plain parquet-scan input: 2.03s,
        # where a persist would only add cost).
        df = pin(df)
    nparts = max(spark.sparkContext.defaultParallelism, 1)
    order_pairs = _norm_order(order_cols)
    # bucket on (keys..., order...) like the old repartitionByRange:
    # groups stay contiguous across buckets, so the offsets table is
    # bounded by n_buckets + n_groups rows
    all_pairs = _norm_order([F.col(k) for k in keys]) + order_pairs
    bounds = _pick_bounds(_sample_tuples(df, all_pairs), all_pairs, nparts)
    d = df.withColumn("__pid", _bucket_expr(all_pairs, bounds))

    aggs = [F.count(F.lit(1)).alias("__c")]
    if cum_src is not None:
        aggs.append(F.sum(cum_src).alias("__s"))
    pc = d.groupBy(*keys, "__pid").agg(*aggs)
    woff = (
        Window.partitionBy(*keys)
        .orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    sel = [
        *[F.col(k) for k in keys],
        F.col("__pid"),
        F.coalesce(F.sum("__c").over(woff), F.lit(0)).alias("__coff"),
    ]
    if cum_src is not None:
        sel.append(F.coalesce(F.sum("__s").over(woff), F.lit(0)).alias("__soff"))
    if n_col is not None:
        sel.append(F.sum("__c").over(Window.partitionBy(*keys)).alias(n_col))
    # Null-safe offsets join (r9 ADVICE): a name-list join uses plain
    # EqualTo and silently DROPS rows whose key is NULL, whereas the
    # naive Window.partitionBy this helper must be bit-identical to
    # keeps NULL as a regular partition. __pid is never NULL.
    offs = pc.select(*sel).withColumnRenamed("__pid", "__o_pid")
    for k in keys:
        offs = offs.withColumnRenamed(k, f"__o_{k}")
    cond = F.col("__pid") == F.col("__o_pid")
    for k in keys:
        cond = cond & F.col(k).eqNullSafe(F.col(f"__o_{k}"))
    wloc = Window.partitionBy("__pid", *keys).orderBy(*_sort_cols(order_pairs))
    out = d.join(F.broadcast(offs), cond).withColumn(
        rn_col, F.col("__coff") + F.row_number().over(wloc)
    )
    if cum_col is not None:
        out = out.withColumn(
            cum_col,
            F.col("__soff")
            + F.sum(cum_src).over(wloc.rowsBetween(Window.unboundedPreceding, 0)),
        )
    drop = (
        ["__pid", "__o_pid", "__coff"]
        + [f"__o_{k}" for k in keys]
        + (["__soff"] if cum_src is not None else [])
    )
    return out.drop(*drop)


def with_global_rank(
    spark: SparkSession,
    df: DataFrame,
    order_cols: Sequence[OrderSpec],
    rn_col: str = "rn",
    n_col: Optional[str] = None,
    cum_col: Optional[str] = None,
    cum_src: Optional[str] = None,
    materialize: bool = False,
) -> DataFrame:
    """Attach a global ``rn_col`` (1-based row_number under
    ``order_cols``) and optionally the total row count ``n_col`` and a
    global running sum ``cum_col`` of column ``cum_src`` — all computed
    with bucket-local windows only (module docstring).

    ``order_cols`` must be a total order (include a tiebreak key);
    descending components as ``(col, False)`` tuples. Pass
    ``materialize=True`` when the input lineage is expensive to
    recompute (joins / heavy derivations): the two-phase scan reads
    the input twice, and a persist then halves the work (see
    _two_phase). The pin is released with the registered query's
    result (operators/pins.py), or with ``df`` outside one.
    """
    return _two_phase(
        spark, df, [], order_cols, rn_col, n_col, cum_col, cum_src,
        materialize=materialize,
    )


def with_grouped_rank(
    spark: SparkSession,
    df: DataFrame,
    keys: Sequence[str],
    order_cols: Sequence[OrderSpec],
    rn_col: str = "rn",
    n_col: Optional[str] = None,
    cum_col: Optional[str] = None,
    cum_src: Optional[str] = None,
    materialize: bool = False,
) -> DataFrame:
    """Per-group ``row_number() OVER (PARTITION BY keys ORDER BY
    order_cols)`` without per-group sort tasks (module docstring).
    ``Window.partitionBy(key)`` funnels each group's FULL row set
    through one sort task — fatal for 2..30 distinct key values over a
    fact table; here sort work spreads over all buckets and each
    group's bucket-local ranks rebase by the broadcast offsets.
    ``materialize=True`` persists an expensive input lineage so the
    counts pass doesn't recompute it (see _two_phase).

    ``keys`` are column names; ``order_cols`` must be a per-group
    total order, descending components as ``(col, False)`` tuples.
    Optional outputs mirror ``with_global_rank``: ``n_col`` = the
    group's total row count, ``cum_col`` = the group's running sum of
    ``cum_src`` under the same order.
    """
    return _two_phase(
        spark, df, list(keys), order_cols, rn_col, n_col, cum_col, cum_src,
        materialize=materialize,
    )


def ntile_expr(rn_col: str, n_col: str, k: int) -> Column:
    """Exact SQL ``ntile(k)`` bucket from a 1-based global rank and the
    total count: the first ``n % k`` buckets hold ``n div k + 1`` rows.
    Pure integer arithmetic — portable across engines."""
    return F.expr(
        f"CASE WHEN {rn_col} <= ({n_col} div {k} + 1) * ({n_col} % {k})"
        f"     THEN ({rn_col} - 1) div ({n_col} div {k} + 1) + 1"
        f"     ELSE {n_col} % {k}"
        f"          + ({rn_col} - ({n_col} div {k} + 1) * ({n_col} % {k}) - 1)"
        f"            div ({n_col} div {k}) + 1 END"
    )
