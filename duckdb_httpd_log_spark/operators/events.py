"""Event-stream analytics operators (batch, over the `events` table):
gap-based sessionization, as-of join, and funnel analysis — the classic
clickstream/log-session workloads a log engine is used for downstream.

All timestamps are projected as epoch microseconds (BIGINT) in the
output contract so the DuckDB oracle comparison never depends on
engine-specific timestamp rendering.

Scale shapes:
- sessionize: one shuffle on user_id, then window lag + running sum —
  the canonical distributed gap-session plan (state per user bounded
  by their own events).
- as-of join: window `last(..., ignorenulls)` over (user_id, ts) — a
  single sort-partition pass, not a per-row subquery (the oracle uses
  the equivalent correlated-max formulation).
- funnel: three staged conditional aggregations joined on user_id —
  each stage is a hash agg + broadcast-joinable per-user table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..plans.registry import fround, register, share_expr, share_sql, table
from .pins import pin

SESSION_GAP_MIN = 30  # minutes of inactivity ending a session
_GAP_US = SESSION_GAP_MIN * 60 * 1_000_000


@register(
    "q15_sessionize",
    f"""
    WITH ordered AS (
        SELECT user_id, event_id, epoch_us(ts) AS us,
               lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        FROM events
    ),
    marked AS (
        SELECT user_id, event_id, us,
               CASE WHEN prev_us IS NULL OR us - prev_us > {_GAP_US} THEN 1 ELSE 0 END AS is_new
        FROM ordered
    ),
    numbered AS (
        SELECT user_id, event_id, us,
               sum(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
        FROM marked
    )
    SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
           min(us) AS session_start_us, max(us) AS session_end_us,
           count(*) AS n_events
    FROM numbered
    GROUP BY user_id, session_idx
    ORDER BY user_id, session_idx
    """,
    f"gap-based sessionization ({SESSION_GAP_MIN} min inactivity) via window lag + running sum",
)
def q15_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("us")
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    marked = ev.withColumn(
        "is_new",
        F.when(
            F.lag("us").over(w).isNull() | ((F.col("us") - F.lag("us").over(w)) > _GAP_US), 1
        ).otherwise(0),
    )
    numbered = marked.withColumn(
        "session_idx",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    return (
        numbered.groupBy("user_id", "session_idx")
        .agg(
            F.min("us").alias("session_start_us"),
            F.max("us").alias("session_end_us"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id", "session_idx")
    )


@register(
    "q16_asof_join",
    """
    SELECT e.event_id AS err_id, e.user_id, epoch_us(e.ts) AS err_us,
           (SELECT max(epoch_us(c.ts)) FROM events c
            WHERE c.user_id = e.user_id AND c.event_type = 'click' AND c.ts <= e.ts
           ) AS prev_click_us
    FROM events e
    WHERE e.event_type = 'error'
    ORDER BY err_id
    """,
    "as-of join: most recent preceding click per error, via a single window pass",
)
def q16_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "error"))
        .select("user_id", "event_id", "event_type", F.unix_micros("ts").alias("us"))
    )
    # clicks sort before errors at identical (us): an err row's window
    # then includes same-instant clicks, matching the oracle's `<=`
    kind = F.when(F.col("event_type") == "click", 0).otherwise(1)
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", kind, "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    click_us = F.last(
        F.when(F.col("event_type") == "click", F.col("us")), ignorenulls=True
    ).over(w)
    return (
        ev.withColumn("prev_click_us", click_us)
        .filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("err_id"),
            "user_id",
            F.col("us").alias("err_us"),
            "prev_click_us",
        )
        .orderBy("err_id")
    )


def funnel_firsts(spark: SparkSession, sf_dir: str):
    """Per user: the first view (v_us), the first click at or after it
    (c_us) and the first purchase at or after that (p_us), as three
    (user_id, us) frames, shared by the funnel queries.

    r15 (guide §2.4/§5): v feeds c AND the caller, c feeds p AND the
    caller, so both are pinned (one InMemoryRelation per frame,
    column-prunable on read, plan stats kept) and each reference reads
    the materialized rows instead of re-deriving the events cascade. A
    stats-less checkpoint here blocked q17's count-path column pruning
    (+75% on the bench action, OPTIMIZATION_r15.md #3) and made
    events_funnel_latency's join estimates explode (measured 250 PB)
    and double-run the query (interleaved A/B 1.0 -> 2.1 s)."""
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )

    def first(event_type: str, col: str, after: DataFrame | None = None) -> DataFrame:
        e = ev.filter(F.col("event_type") == event_type)
        if after is not None:
            e = e.join(after, "user_id").filter(F.col("us") >= F.col(after.columns[1]))
        return e.groupBy("user_id").agg(F.min("us").alias(col))

    v = pin(first("view", "v_us"))
    c = pin(first("click", "c_us", v))
    return v, c, first("purchase", "p_us", c)


@register(
    "q17_funnel",
    """
    WITH v AS (
        SELECT user_id, min(epoch_us(ts)) AS first_view_us
        FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
        SELECT e.user_id, min(epoch_us(e.ts)) AS first_click_us
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'click' AND epoch_us(e.ts) >= v.first_view_us
        GROUP BY e.user_id
    ),
    p AS (
        SELECT e.user_id, min(epoch_us(e.ts)) AS first_purchase_us
        FROM events e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= c.first_click_us
        GROUP BY e.user_id
    )
    SELECT v.user_id, v.first_view_us, c.first_click_us, p.first_purchase_us,
           CASE WHEN p.user_id IS NOT NULL THEN 3
                WHEN c.user_id IS NOT NULL THEN 2
                ELSE 1 END AS stage
    FROM v
    LEFT JOIN c ON v.user_id = c.user_id
    LEFT JOIN p ON v.user_id = p.user_id
    ORDER BY v.user_id
    """,
    "view→click→purchase funnel: staged ordered-min aggregation per user",
)
def q17_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    v, c, p = funnel_firsts(spark, sf_dir)
    stage = (
        F.when(F.col("p_us").isNotNull(), 3)
        .when(F.col("c_us").isNotNull(), 2)
        .otherwise(1)
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id",
            F.col("v_us").alias("first_view_us"),
            F.col("c_us").alias("first_click_us"),
            F.col("p_us").alias("first_purchase_us"),
            stage.alias("stage"),
        )
        .orderBy("user_id")
    )


@register(
    "q21_time_bucketed",
    """
    SELECT epoch_us(date_trunc('hour', ts)) AS hour_us,
           count(*) AS n_events,
           count(*) FILTER (WHERE event_type = 'error') AS n_errors,
           floor((sum(value)) * 1e2 + 0.5) / 1e2 AS total_value
    FROM events
    GROUP BY 1
    ORDER BY 1
    """,
    "hourly time-bucketed rollup (the reference README's requests-per-period idiom)",
)
def q21_time_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.unix_micros(F.date_trunc("hour", "ts")).alias("hour_us"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count(F.when(F.col("event_type") == "error", 1)).alias("n_errors"),
            fround(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("hour_us")
    )


# ---------------------------------------------------------------------------
# Markov transition matrix over per-user event sequences: the
# "what happens after X" clickstream analysis. One shuffle on user_id
# for the lag window, then a tiny (|types|²-row) aggregate; the
# normalizing window runs over that tiny result, never the raw events.
# ---------------------------------------------------------------------------
@register(
    "q27_transition_matrix",
    """
    WITH pairs AS (
        SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
               event_type AS next_type
        FROM events
    ),
    t AS (
        SELECT prev_type, next_type, count(*) AS n_trans
        FROM pairs WHERE prev_type IS NOT NULL
        GROUP BY prev_type, next_type
    )
    SELECT prev_type, next_type, n_trans,
           floor((n_trans * 1.0 / sum(n_trans) OVER (PARTITION BY prev_type)) * 1e4 + 0.5) / 1e4 AS p_next
    FROM t
    ORDER BY prev_type, next_type
    """,
    "per-user event-type transition counts + row-normalized probabilities",
)
def q27_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        F.lag("event_type").over(w).alias("prev_type"), F.col("event_type").alias("next_type")
    ).filter(F.col("prev_type").isNotNull())
    t = pairs.groupBy("prev_type", "next_type").agg(F.count(F.lit(1)).alias("n_trans"))
    wp = Window.partitionBy("prev_type")
    return t.select(
        "prev_type",
        "next_type",
        "n_trans",
        fround(
            F.col("n_trans") / F.sum("n_trans").over(wp).cast("double"), 4
        ).alias("p_next"),
    ).orderBy("prev_type", "next_type")


# ---------------------------------------------------------------------------
# Error-burst detection: per-minute error counts compared against the
# trailing 6-minute average — the alerting idiom over access logs. The
# window runs over the per-minute AGGREGATE (≤ minutes-in-retention
# rows), not raw events; at 100 TB partition the frame by day and the
# plan is unchanged.
# ---------------------------------------------------------------------------
BURST_MIN_ERRORS = 3
BURST_FACTOR = 2.0


@register(
    "q28_error_burst",
    f"""
    WITH m AS (
        SELECT epoch_us(date_trunc('minute', ts)) AS minute_us, count(*) AS n_err
        FROM events WHERE event_type = 'error'
        GROUP BY 1
    ),
    w AS (
        SELECT minute_us, n_err,
               avg(n_err) OVER (ORDER BY minute_us ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING) AS avg_prev
        FROM m
    )
    SELECT minute_us, n_err, floor((avg_prev) * 1e4 + 0.5) / 1e4 AS avg_prev,
           CASE WHEN avg_prev IS NULL THEN FALSE
                ELSE n_err >= {BURST_MIN_ERRORS} AND n_err >= {BURST_FACTOR} * avg_prev END AS burst
    FROM w
    ORDER BY minute_us
    """,
    "per-minute error counts flagged against the trailing 6-minute average",
)
def q28_error_burst(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    m = (
        ev.filter(F.col("event_type") == "error")
        .groupBy(F.unix_micros(F.date_trunc("minute", "ts")).alias("minute_us"))
        .agg(F.count(F.lit(1)).alias("n_err"))
    )
    w = Window.orderBy("minute_us").rowsBetween(-6, -1)
    avg_prev = F.avg("n_err").over(w)
    burst = F.when(avg_prev.isNull(), F.lit(False)).otherwise(
        (F.col("n_err") >= BURST_MIN_ERRORS) & (F.col("n_err") >= BURST_FACTOR * avg_prev)
    )
    return m.select(
        "minute_us",
        "n_err",
        fround(avg_prev, 4).alias("avg_prev"),
        burst.alias("burst"),
    ).orderBy("minute_us")


# ---------------------------------------------------------------------------
# Cohort retention: users grouped by first-seen day, re-activity counted
# at day offsets 0..7 — the standard growth-analytics rollup. Two hash
# aggregates (first-day per user, distinct user-days) and a broadcast
# join on the tiny per-cohort base counts.
# ---------------------------------------------------------------------------
@register(
    "q29_retention_cohort",
    """
    WITH first_day AS (
        SELECT user_id, min(date_trunc('day', ts)) AS d0 FROM events GROUP BY user_id
    ),
    activity AS (
        SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM events
    ),
    counts AS (
        SELECT epoch_us(f.d0) AS cohort_us,
               date_diff('day', f.d0, a.d) AS day_offset,
               count(DISTINCT a.user_id) AS n_users
        FROM activity a JOIN first_day f ON a.user_id = f.user_id
        WHERE date_diff('day', f.d0, a.d) BETWEEN 0 AND 7
        GROUP BY 1, 2
    )
    SELECT c.cohort_us, CAST(c.day_offset AS INTEGER) AS day_offset, c.n_users,
           floor((c.n_users * 1.0 / b.n_users) * 1e4 + 0.5) / 1e4 AS retention
    FROM counts c
    JOIN (SELECT cohort_us, n_users FROM counts WHERE day_offset = 0) b
      ON c.cohort_us = b.cohort_us
    ORDER BY c.cohort_us, c.day_offset
    """,
    "day-0..7 cohort retention: first-seen day x activity-day offsets",
)
def q29_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    first_day = ev.groupBy("user_id").agg(F.min(F.date_trunc("day", "ts")).alias("d0"))
    activity = ev.select("user_id", F.date_trunc("day", "ts").alias("d")).distinct()
    joined = activity.join(first_day, "user_id").withColumn(
        "day_offset", F.datediff(F.col("d"), F.col("d0"))
    )
    counts = (
        joined.filter(F.col("day_offset").between(0, 7))
        .groupBy(F.unix_micros("d0").alias("cohort_us"), "day_offset")
        .agg(F.count_distinct("user_id").alias("n_users"))
    )
    # counts feeds both the result and the offset-0 base; the filter
    # defeats exchange reuse, so materialize the (tiny, |cohorts|x8-row)
    # aggregate once instead of re-scanning events for each branch
    counts = pin(counts)
    base = counts.filter(F.col("day_offset") == 0).select(
        "cohort_us", F.col("n_users").alias("base_users")
    )
    return (
        counts.join(F.broadcast(base), "cohort_us")
        .select(
            "cohort_us",
            F.col("day_offset").cast("int").alias("day_offset"),
            "n_users",
            fround(F.col("n_users") / F.col("base_users").cast("double"), 4).alias("retention"),
        )
        .orderBy("cohort_us", "day_offset")
    )


# ---------------------------------------------------------------------------
# Sequential pattern mining (lite): the most frequent 3-step user paths
# — what funnels/transition matrices aggregate away. Two stacked leads
# per user, hash-agg count, top-k under a total order
# (TakeOrderedAndProject, no global sort). All integers.
# ---------------------------------------------------------------------------
TOP_PATHS = 20


@register(
    "events_top_paths",
    f"""
    WITH seq AS (
        SELECT user_id, event_type AS e1,
               lead(event_type, 1) OVER w AS e2,
               lead(event_type, 2) OVER w AS e3
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT e1 || '>' || e2 || '>' || e3 AS path, count(*) AS n
    FROM seq
    WHERE e2 IS NOT NULL AND e3 IS NOT NULL
    GROUP BY 1
    ORDER BY n DESC, path
    LIMIT {TOP_PATHS}
    """,
    f"top-{TOP_PATHS} 3-step user paths: stacked leads + hash agg + top-k",
)
def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    )
    return (
        seq.filter(F.col("e2").isNotNull() & F.col("e3").isNotNull())
        .select(F.concat_ws(">", "e1", "e2", "e3").alias("path"))
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "path")
        .limit(TOP_PATHS)
    )


# ---------------------------------------------------------------------------
# Burst ratio — per event, what fraction of the last 24 hours' traffic
# of its type arrived in the last hour (8.3h-uniform = ~416 e4; a spike
# pushes toward 10000): the two-frame burst/anomaly shape ops pipelines
# page on. Both trailing RANGE frames run inside 7-day time slices
# (timewin.sliced_range_frame — the r9 primitive): the slice key's
# cardinality grows with the time span, so no |event_type|-task sort
# funnel at any scale, and the 24h lookback costs a one-time ~14%
# (24h/7d) context replication. n_1h <= n_24h by containment, so the
# ratio goes through the widened exact share form.
# ---------------------------------------------------------------------------
BURST_1H_US = 3_600_000_000
BURST_24H_US = 24 * 3_600_000_000
BURST_SLICE_US = 7 * 24 * 3_600_000_000


@register(
    "events_burst_ratio",
    f"""
    WITH v AS (
        SELECT event_id, event_type, epoch_us(ts) AS us FROM events
    ),
    w AS (
        SELECT event_id, event_type,
               CAST(count(*) OVER h AS BIGINT) AS n_1h,
               CAST(count(*) OVER d AS BIGINT) AS n_24h
        FROM v
        WINDOW h AS (PARTITION BY event_type ORDER BY us
                     RANGE BETWEEN {BURST_1H_US} PRECEDING AND CURRENT ROW),
               d AS (PARTITION BY event_type ORDER BY us
                     RANGE BETWEEN {BURST_24H_US} PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, event_type, n_1h, n_24h,
           {share_sql("n_1h", "n_24h")} AS burst_e4
    FROM w
    ORDER BY event_id
    """,
    "per-event burst ratio: trailing 1h vs 24h type traffic, sliced two-frame windows",
)
def events_burst_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .timewin import sliced_range_frame

    ev = table(spark, sf_dir, "events")
    v = ev.select("event_id", "event_type", F.unix_micros("ts").alias("us"))
    aug = sliced_range_frame(v, "us", BURST_24H_US, BURST_SLICE_US)
    base = (
        Window.partitionBy("event_type", "__slice").orderBy("us")
    )
    h = base.rangeBetween(-BURST_1H_US, Window.currentRow)
    d = base.rangeBetween(-BURST_24H_US, Window.currentRow)
    w = (
        aug.select(
            "event_id",
            "event_type",
            F.col("__ctx"),
            F.count(F.lit(1)).over(h).cast("long").alias("n_1h"),
            F.count(F.lit(1)).over(d).cast("long").alias("n_24h"),
        )
        .filter(~F.col("__ctx"))
    )
    return w.select(
        "event_id",
        "event_type",
        "n_1h",
        "n_24h",
        share_expr("n_1h", "n_24h").alias("burst_e4"),
    ).orderBy("event_id")
