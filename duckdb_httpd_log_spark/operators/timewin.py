"""Ordered-sequence windows per low-cardinality key, without per-key
sort tasks — the boundary-row handoff (r8 verdict item 3).

``lag()/lead()/RANGE BETWEEN`` over ``Window.partitionBy(event_type)``
funnels the whole event stream through |event_type| sort tasks (2-10
distinct values over a fact table at the 100 TB design point). Both
helpers here re-key the window to ``(key, time_slice)`` — a composite
whose cardinality GROWS with the data's time span, so sort tasks stay
bounded by one slice's volume at any scale — and restore exactness at
slice boundaries explicitly:

- ``with_next_us``: slice-local ``lead`` plus a per-(key, slice)
  first-row table (|keys| x |non-empty slices| rows — bounded by the
  time span, not the row count) windowed ONCE over slices to hand each
  slice's last row its true successor. Exact for sparse keys too: the
  hand-off leads over the NON-EMPTY slice sequence, skipping gaps.
- ``sliced_range_frame``: rows within ``lookback`` of a slice's end are
  replicated into the next slice as context-only rows (fraction
  lookback/slice_us of the input, a constant), so a trailing RANGE
  frame evaluated inside one slice sees every physical row exactly
  once — context copies live in a different window partition than
  their originals and are dropped from the output.

Both are value-identical to the naive per-key window (the oracle SQL
keeps stating that form), provided ``slice_us >= lookback_us`` for the
range variant.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .distrank import use_naive

US_PER_DAY = 86_400_000_000

# Size-adaptive dispatch, distrank's with its own conf key: below this
# estimated input size the naive per-key window is the better plan
# (slice machinery is pure overhead for a sub-GiB sort); above it the
# sliced forms are the only plans that survive low-cardinality keys at
# 100 TB. Unknown estimates route to the sliced path. Rehearsals and
# plan pins force the scale path with the conf set to 0.
NAIVE_MAX_BYTES_CONF = "spark.graft.timewin.naiveMaxBytes"


def with_next_us(
    df: DataFrame,
    keys: Sequence[str],
    us_col: str,
    tie_col: str,
    out_col: str = "next_us",
    slice_us: int = US_PER_DAY,
) -> DataFrame:
    """Attach ``out_col`` = the epoch-µs of the next row per ``keys``
    under ``(us_col, tie_col)`` order — ``lead(us) OVER (PARTITION BY
    keys ORDER BY us, tie)`` — NULL on each key's last row.

    One gap multiset serves both directions: ``lag`` consumers read the
    same gaps attached to the later row's predecessor, so operators
    needing per-key inter-arrival gaps use this single helper.
    """
    if use_naive(df, NAIVE_MAX_BYTES_CONF):
        w = Window.partitionBy(*keys).orderBy(us_col, tie_col)
        return df.withColumn(out_col, F.lead(us_col).over(w))
    key_cols = [F.col(k) for k in keys]
    d = df.withColumn("__slice", F.expr(f"{us_col} div {slice_us}"))
    wloc = Window.partitionBy(*keys, "__slice").orderBy(us_col, tie_col)
    d2 = d.withColumn("__next_loc", F.lead(us_col).over(wloc))
    # per-(key, slice) first timestamp: |keys| x |non-empty slices| rows
    firsts = d.groupBy(*keys, "__slice").agg(F.min(us_col).alias("__first_us"))
    wsl = Window.partitionBy(*keys).orderBy("__slice")
    nxt = firsts.select(
        *[F.col(k).alias(f"__h_{k}") for k in keys],
        F.col("__slice").alias("__h_slice"),
        F.lead("__first_us").over(wsl).alias("__next_slice_first"),
    )
    # Null-safe handoff join (r9 ADVICE): a name-list join is plain
    # EqualTo and would hand NULL-keyed rows no successor, while the
    # naive per-key window keeps NULL as a regular partition.
    cond = F.col("__slice").eqNullSafe(F.col("__h_slice"))
    for k in keys:
        cond = cond & F.col(k).eqNullSafe(F.col(f"__h_{k}"))
    # broadcast: the hand-off table is time-span bounded, never fact-sized
    return (
        d2.join(F.broadcast(nxt), cond, "left")
        .withColumn(out_col, F.coalesce("__next_loc", "__next_slice_first"))
        .drop(
            "__slice", "__h_slice", "__next_loc", "__next_slice_first",
            *[f"__h_{k}" for k in keys],
        )
    )


def sliced_range_frame(
    df: DataFrame,
    us_col: str,
    lookback_us: int,
    slice_us: int,
) -> DataFrame:
    """Augment ``df`` for an exact trailing RANGE window inside time
    slices: adds ``__slice`` (window partition key component) and
    ``__ctx`` (True on replicated context rows — filter them out AFTER
    the window). Callers window over ``partitionBy(*keys, "__slice")
    .orderBy(us_col).rangeBetween(-lookback_us, 0)``.

    Requires ``slice_us >= lookback_us`` (asserted): then a real row's
    lookback never reaches past the previous slice, and every row it
    must see is either slice-local or a context copy.
    """
    assert slice_us >= lookback_us, "slice must cover the full lookback"
    if use_naive(df, NAIVE_MAX_BYTES_CONF):
        # one all-covering slice: callers' (keys, __slice) window
        # degenerates to the plain per-key range window
        return df.withColumn("__slice", F.lit(0).cast("long")).withColumn(
            "__ctx", F.lit(False)
        )
    # floor semantics throughout (r9 ADVICE): Spark's % and div keep the
    # dividend's sign, so for pre-1970 (negative) epoch-µs the truncating
    # forms would mis-assign slice ids and never replicate boundary
    # context rows. pmod is non-negative; (us - pmod) is an exact slice
    # multiple, so the div below is a true floor division.
    slice_id = F.expr(
        f"({us_col} - pmod({us_col}, {slice_us})) div {slice_us}"
    )
    base = df.withColumn("__slice", slice_id).withColumn("__ctx", F.lit(False))
    copies = (
        df.filter(
            F.expr(f"pmod({us_col}, {slice_us}) >= {slice_us - lookback_us}")
        )
        .withColumn("__slice", slice_id + 1)
        .withColumn("__ctx", F.lit(True))
    )
    return base.unionByName(copies)
