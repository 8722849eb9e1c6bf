"""The §2.B relational operator inventory, expressed Spark-first.

Every operator the reference's documented query surface uses
(saygox/duckdb-httpd-log README/docs/test corpus — scan, projection,
filters incl. LIKE/BETWEEN/IS NULL, hash aggregation with all five
aggregates, COUNT(DISTINCT), HAVING, FILTER clauses, DISTINCT,
multi-key ORDER BY + LIMIT top-k, equi-join, range-predicate join,
CTE/scalar subqueries, casts and scalar string/date functions) plus
window functions as a beyond-reference extension.

Scale notes are per query: broadcasts are explicit where a side is a
dimension table, the range join is implemented as a bucketed equi-join
(shuffle on a time bin instead of a broadcast nested-loop cross
product), and every aggregation is a partial+final hash agg Catalyst
plans natively.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.registry import fround, register, share_expr, share_sql, table
from .pins import pin


# ---------------------------------------------------------------------------
# Aggregation: full hash-agg surface (COUNT/SUM/AVG/MIN/MAX + GROUP BY)
# README.md:55, test/sql/core/basic.test:54-64
# ---------------------------------------------------------------------------
@register(
    "q01_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           floor((sum(l_quantity)) * 1e2 + 0.5) / 1e2                              AS sum_qty,
           floor((sum(l_extendedprice)) * 1e2 + 0.5) / 1e2                         AS sum_base_price,
           floor((sum(l_extendedprice * (1 - l_discount))) * 1e2 + 0.5) / 1e2      AS sum_disc_price,
           floor((avg(l_quantity)) * 1e4 + 0.5) / 1e4                              AS avg_qty,
           floor((avg(l_extendedprice)) * 1e4 + 0.5) / 1e4                         AS avg_price,
           floor((avg(l_discount)) * 1e4 + 0.5) / 1e4                              AS avg_disc,
           count(*)                                               AS count_order,
           floor((min(l_extendedprice)) * 1e2 + 0.5) / 1e2                         AS min_price,
           floor((max(l_extendedprice)) * 1e2 + 0.5) / 1e2                         AS max_price
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-06-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    "TPC-H Q1-style pricing summary: partial+final hash agg, no shuffle beyond the group keys",
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-06-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            fround(F.sum("l_quantity"), 2).alias("sum_qty"),
            fround(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            fround(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "sum_disc_price"
            ),
            fround(F.avg("l_quantity"), 4).alias("avg_qty"),
            fround(F.avg("l_extendedprice"), 4).alias("avg_price"),
            fround(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
            fround(F.min("l_extendedprice"), 2).alias("min_price"),
            fround(F.max("l_extendedprice"), 2).alias("max_price"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# Filter / projection: =, >, AND, BETWEEN, LIKE, IS NOT NULL + top-N under
# total order (docs/read_httpd_log.md:228,281; read_httpd_log.test:138)
# ---------------------------------------------------------------------------
@register(
    "q02_filter_project",
    """
    SELECT o_orderkey, o_custkey, floor((o_totalprice) * 1e2 + 0.5) / 1e2 AS total_price, o_orderpriority
    FROM orders
    WHERE o_totalprice BETWEEN 50000 AND 200000
      AND o_orderstatus = 'F'
      AND o_orderpriority LIKE '%URGENT%'
      AND o_custkey IS NOT NULL
    ORDER BY o_orderkey
    LIMIT 500
    """,
    "predicate stack pushed into the parquet scan (PushedFilters), column-pruned read",
)
def q02_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return (
        o.filter(
            F.col("o_totalprice").between(50000, 200000)
            & (F.col("o_orderstatus") == "F")
            & F.col("o_orderpriority").like("%URGENT%")
            & F.col("o_custkey").isNotNull()
        )
        .select(
            "o_orderkey",
            "o_custkey",
            fround("o_totalprice", 2).alias("total_price"),
            "o_orderpriority",
        )
        .orderBy("o_orderkey")
        .limit(500)
    )


# ---------------------------------------------------------------------------
# ORDER BY multi-key + LIMIT — Spark plans TakeOrderedAndProject (top-k
# without a full sort); README.md:117-122
# ---------------------------------------------------------------------------
@register(
    "q03_topk",
    """
    SELECT o_orderkey, floor((o_totalprice) * 1e2 + 0.5) / 1e2 AS total_price, o_orderstatus
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
    "top-k: TakeOrderedAndProject, no global sort",
)
def q03_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "orders")
        .select("o_orderkey", fround("o_totalprice", 2).alias("total_price"), "o_orderstatus")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "total_price", "o_orderstatus")
    )


# ---------------------------------------------------------------------------
# DISTINCT (basic.test:45-50) and COUNT(DISTINCT) (read_httpd_log_combined
# .test:50-53)
# ---------------------------------------------------------------------------
@register(
    "q04_distinct",
    "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem ORDER BY l_returnflag, l_linestatus",
    "SELECT DISTINCT = hash aggregate on all columns",
)
def q04_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_linestatus")
        .distinct()
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "q05_count_distinct",
    """
    SELECT count(DISTINCT c_nationkey) AS n_nations,
           count(DISTINCT c_mktsegment) AS n_segments,
           count(*) AS n_rows
    FROM customer
    """,
    "COUNT(DISTINCT) — Catalyst expands to two-phase aggregate",
)
def q05_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "customer").agg(
        F.countDistinct("c_nationkey").alias("n_nations"),
        F.countDistinct("c_mktsegment").alias("n_segments"),
        F.count(F.lit(1)).alias("n_rows"),
    )


# ---------------------------------------------------------------------------
# HAVING (docs/read_httpd_conf.md:77-82) and FILTER clause aggregation
# (duration.test:71-73)
# ---------------------------------------------------------------------------
@register(
    "q06_having",
    """
    SELECT l_orderkey, count(*) AS n_items, floor((sum(l_quantity)) * 1e2 + 0.5) / 1e2 AS total_qty
    FROM lineitem
    GROUP BY l_orderkey
    HAVING count(*) >= 6
    ORDER BY l_orderkey
    """,
    "GROUP BY + HAVING = agg followed by a filter on aggregates",
)
def q06_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            fround(F.sum("l_quantity"), 2).alias("total_qty"),
        )
        .filter(F.col("n_items") >= 6)
        .orderBy("l_orderkey")
    )


@register(
    "q07_agg_filter",
    """
    SELECT count(*) FILTER (WHERE l_tax > 0.05)              AS high_tax,
           count(*) FILTER (WHERE l_returnflag = 'R')        AS returned,
           floor((sum(l_extendedprice) FILTER (WHERE l_discount > 0.05)) * 1e2 + 0.5) / 1e2 AS discounted_revenue,
           count(*) AS total
    FROM lineitem
    """,
    "FILTER-clause aggregates = count(when(cond)) / sum(when(cond)) — one pass",
)
def q07_agg_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.when(F.col("l_tax") > 0.05, 1)).alias("high_tax"),
        F.count(F.when(F.col("l_returnflag") == "R", 1)).alias("returned"),
        fround(
            F.sum(F.when(F.col("l_discount") > 0.05, F.col("l_extendedprice"))), 2
        ).alias("discounted_revenue"),
        F.count(F.lit(1)).alias("total"),
    )


# ---------------------------------------------------------------------------
# Equi-join + aggregation; dimension sides broadcast explicitly (at 100 TB
# the fact side never shuffles for these joins)
# ---------------------------------------------------------------------------
@register(
    "q08_join_agg",
    """
    SELECT r_name, n_name, count(*) AS n_customers, floor((avg(c_acctbal)) * 1e4 + 0.5) / 1e4 AS avg_acctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    ORDER BY r_name, n_name
    """,
    "fact ⋈ broadcast(dim) ⋈ broadcast(dim): no fact-side shuffle before the agg",
)
def q08_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    n = F.broadcast(table(spark, sf_dir, "nation"))
    r = F.broadcast(table(spark, sf_dir, "region"))
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            fround(F.avg("c_acctbal"), 4).alias("avg_acctbal"),
        )
        .orderBy("r_name", "n_name")
    )


# ---------------------------------------------------------------------------
# Range-predicate join (the docs' BETWEEN self-join,
# docs/read_httpd_log.md:269-283). Implemented as a bucketed equi-join:
# events are assigned to W-second bins; each left row joins its bin and
# the two adjacent bins (explode of 3 bin keys), then the exact range
# predicate filters. This turns an O(n^2) nested-loop into a shuffle
# hash join keyed on the bin — the 100 TB-safe plan shape.
# ---------------------------------------------------------------------------
_RANGE_W = 120  # seconds; window is ±W


@register(
    "q09_range_join",
    f"""
    SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_pairs
    FROM events a
    JOIN events b
      ON b.ts BETWEEN a.ts - INTERVAL {_RANGE_W} SECOND
                  AND a.ts + INTERVAL {_RANGE_W} SECOND
     AND a.event_id <> b.event_id
    GROUP BY a.event_type, b.event_type
    ORDER BY type_a, type_b
    """,
    "time-window self-join via bin-bucketed equi-join instead of BNLJ",
)
def q09_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select("event_id", "ts", "event_type")
    w = F.lit(_RANGE_W * 1_000_000)  # window in exact microseconds
    sec = F.unix_micros("ts")
    left = ev.select(
        F.col("event_id").alias("id_a"),
        sec.alias("sec_a"),
        F.col("event_type").alias("type_a"),
        F.explode(
            F.array(
                (sec / w).cast("long") - 1,
                (sec / w).cast("long"),
                (sec / w).cast("long") + 1,
            )
        ).alias("bin"),
    )
    right = ev.select(
        F.col("event_id").alias("id_b"),
        sec.alias("sec_b"),
        F.col("event_type").alias("type_b"),
        (sec / w).cast("long").alias("bin"),
    )
    pairs = left.join(right, "bin").filter(
        (F.col("sec_b") >= F.col("sec_a") - w)
        & (F.col("sec_b") <= F.col("sec_a") + w)
        & (F.col("id_a") != F.col("id_b"))
    )
    return (
        pairs.groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("type_a", "type_b")
    )


# ---------------------------------------------------------------------------
# CTE / derived table / scalar subquery (docs/read_httpd_log.md:270-276)
# ---------------------------------------------------------------------------
@register(
    "q10_cte_subquery",
    """
    WITH big_orders AS (
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders
        WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
    )
    SELECT c_mktsegment,
           count(*) AS n_big_orders,
           floor((sum(o_totalprice)) * 1e2 + 0.5) / 1e2 AS revenue
    FROM big_orders
    JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
    "CTE + scalar subquery + join-back aggregation",
)
def q10_cte_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    avg_price = o.agg(F.avg("o_totalprice")).first()[0]
    big = o.filter(F.col("o_totalprice") > avg_price).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    return (
        big.join(c, big.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_big_orders"),
            fround(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# Scalar functions: casts, LENGTH, replace, EXTRACT(EPOCH), date trunc,
# JSON extraction (timestamp_format.test:24,122; glob_patterns.test:23,201-206)
# ---------------------------------------------------------------------------
@register(
    "q11_scalar_funcs",
    """
    SELECT event_id,
           CAST(event_id AS VARCHAR)                        AS id_str,
           CAST(floor(value) AS INTEGER)                    AS value_int,
           length(event_type)                               AS type_len,
           replace(event_type, 'e', 'E')                    AS type_replaced,
           upper(event_type)                                AS type_upper,
           CAST(epoch_us(ts) // 1000000 AS BIGINT)          AS epoch_sec,
           strftime(ts, '%Y-%m-%d')                         AS day_str,
           CAST(CASE WHEN json_valid(props)
                    THEN json_extract_string(props, '$.k') END AS INTEGER) AS prop_k
    FROM events
    WHERE event_id < 200
    ORDER BY event_id
    """,
    "scalar expression surface: casts, string fns, epoch extraction, JSON",
)
def q11_scalar_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return (
        ev.filter(F.col("event_id") < 200)
        .select(
            "event_id",
            F.col("event_id").cast("string").alias("id_str"),
            F.floor("value").cast("int").alias("value_int"),
            F.length("event_type").alias("type_len"),
            F.regexp_replace("event_type", "e", "E").alias("type_replaced"),
            F.upper("event_type").alias("type_upper"),
            F.unix_timestamp("ts").alias("epoch_sec"),
            F.date_format("ts", "yyyy-MM-dd").alias("day_str"),
            F.get_json_object("props", "$.k").cast("int").alias("prop_k"),
        )
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# Window functions (beyond the reference's surface — absent there, noted in
# SURVEY §2.B last row): row_number / rank / lag / running aggregate
# ---------------------------------------------------------------------------
@register(
    "q12_window",
    """
    SELECT user_id, event_id,
           row_number() OVER w                          AS rn,
           epoch_us(ts) - lag(epoch_us(ts)) OVER w     AS gap_us,
           floor((sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) * 1e2 + 0.5) / 1e2 AS running_value
    FROM events
    WHERE user_id < 20
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ORDER BY user_id, rn
    """,
    "window functions partitioned by user: single shuffle on user_id",
)
def q12_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = table(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        ev.select(
            "user_id",
            "event_id",
            F.row_number().over(w).alias("rn"),
            (F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)).alias("gap_us"),
            fround(F.sum("value").over(wsum), 2).alias("running_value"),
        )
        .orderBy("user_id", "rn")
    )


# ---------------------------------------------------------------------------
# Set operations (beyond reference; Spark/DuckDB built-ins)
# ---------------------------------------------------------------------------
@register(
    "q13_set_ops",
    """
    SELECT c_nationkey AS k FROM customer
    INTERSECT
    SELECT s_nationkey AS k FROM supplier
    ORDER BY k
    """,
    "INTERSECT of customer and supplier nations",
)
def q13_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("k"))
    s = table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("k"))
    return c.intersect(s).orderBy("k")


# ---------------------------------------------------------------------------
# Grouping sets / rollup (beyond reference)
# ---------------------------------------------------------------------------
@register(
    "q14_rollup",
    """
    SELECT coalesce(o_orderstatus, 'ALL') AS status,
           coalesce(o_orderpriority, 'ALL') AS priority,
           count(*) AS n, floor((sum(o_totalprice)) * 1e2 + 0.5) / 1e2 AS revenue
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    ORDER BY status, priority
    """,
    "ROLLUP aggregation (expand + single hash agg)",
)
def q14_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), fround(F.sum("o_totalprice"), 2).alias("revenue"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n",
            "revenue",
        )
        .orderBy("status", "priority")
    )


# ---------------------------------------------------------------------------
# PIVOT (beyond reference): wide-format conditional aggregation. Spark's
# relational pivot operator compiles to ONE hash aggregation with a
# conditional-count per pivot value — no per-value scans — the same
# plan the hand-written FILTER clauses produce in the oracle.
# ---------------------------------------------------------------------------
_PIVOT_LANGS = ["de", "en", "es", "fr"]


@register(
    "q22_pivot",
    f"""
    SELECT source,
           {", ".join(f"count(*) FILTER (lang = '{v}') AS {v}" for v in _PIVOT_LANGS)}
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
    "PIVOT: docs per (source x lang) in wide format via one hash agg",
)
def q22_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return (
        docs.groupBy("source")
        .pivot("lang", _PIVOT_LANGS)  # explicit values: no extra distinct job
        .count()
        .na.fill(0, _PIVOT_LANGS)  # absent combos: DuckDB's FILTER count yields 0
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# EXISTS / NOT EXISTS (beyond reference): left-semi and left-anti hash
# joins — the decorrelated plan Catalyst produces for both subqueries.
# ---------------------------------------------------------------------------
@register(
    "q23_exists_semi_anti",
    """
    SELECT p_partkey, p_name
    FROM part
    WHERE EXISTS (SELECT 1 FROM lineitem
                  WHERE l_partkey = p_partkey AND l_quantity >= 45)
      AND NOT EXISTS (SELECT 1 FROM lineitem
                      WHERE l_partkey = p_partkey AND l_quantity >= 50)
    ORDER BY p_partkey
    """,
    "EXISTS + NOT EXISTS via left-semi and left-anti joins",
)
def q23_exists_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = table(spark, sf_dir, "part")
    li = table(spark, sf_dir, "lineitem")
    heavy = li.filter(F.col("l_quantity") >= 45).select("l_partkey")
    returned = li.filter(F.col("l_quantity") >= 50).select("l_partkey")
    return (
        part.join(heavy, part.p_partkey == heavy.l_partkey, "left_semi")
        .join(returned, part.p_partkey == returned.l_partkey, "left_anti")
        .select("p_partkey", "p_name")
        .orderBy("p_partkey")
    )


# ---------------------------------------------------------------------------
# Latest-row-per-key (beyond reference): the QUALIFY row_number()=1 idiom
# every CDC/upsert pipeline uses. One per-key window — shuffle on
# user_id only, no global sort.
# ---------------------------------------------------------------------------
@register(
    "q24_latest_per_key",
    """
    WITH r AS (
        SELECT user_id, event_id, ts, event_type, value,
               row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    )
    SELECT user_id, event_id AS last_event_id, epoch_us(ts) AS ts_us,
           event_type AS last_type, floor((value) * 1e2 + 0.5) / 1e2 AS last_value
    FROM r WHERE rn = 1
    ORDER BY user_id
    """,
    "latest event per user via row_number()=1 window dedup",
)
def q24_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.unix_micros("ts").alias("ts_us"),
            F.col("event_type").alias("last_type"),
            fround("value", 2).alias("last_value"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Value histogram (beyond reference): width_bucket binning — one hash
# agg over the bucket id, the standard distribution profile for a
# numeric column at any scale.
# ---------------------------------------------------------------------------
@register(
    "q25_histogram",
    """
    SELECT CASE WHEN value < 0 THEN 0
                WHEN value >= 100 THEN 21
                ELSE 1 + CAST(floor(value / 5) AS INTEGER) END AS bucket,
           count(*) AS n,
           floor((min(value)) * 1e2 + 0.5) / 1e2 AS lo,
           floor((max(value)) * 1e2 + 0.5) / 1e2 AS hi
    FROM events
    GROUP BY 1
    ORDER BY bucket
    """,
    "20-bin histogram of event values (explicit bin expr, underflow/overflow bins)",
)
def q25_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    bucket = (
        F.when(F.col("value") < 0, 0)
        .when(F.col("value") >= 100, 21)
        .otherwise(1 + F.floor(F.col("value") / 5).cast("int"))
    ).cast("int")
    return (
        ev.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            fround(F.min("value"), 2).alias("lo"),
            fround(F.max("value"), 2).alias("hi"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# Statistical aggregates (beyond reference): correlation, sample
# stddev/variance — single-pass partial+final aggregation.
# ---------------------------------------------------------------------------
@register(
    "q26_stats",
    """
    SELECT l_returnflag,
           floor((corr(l_quantity, l_extendedprice)) * 1e4 + 0.5) / 1e4  AS corr_qty_price,
           floor((stddev_samp(l_quantity)) * 1e4 + 0.5) / 1e4            AS sd_qty,
           floor((var_samp(l_discount)) * 1e6 + 0.5) / 1e6               AS var_disc,
           floor((covar_samp(l_quantity, l_discount)) * 1e6 + 0.5) / 1e6 AS cov_qty_disc
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    "corr / stddev_samp / var_samp / covar_samp per return flag",
)
def q26_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            fround(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qty_price"),
            fround(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
            fround(F.var_samp("l_discount"), 6).alias("var_disc"),
            fround(F.covar_samp("l_quantity", "l_discount"), 6).alias("cov_qty_disc"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# Rolling 7-day revenue via a RANGE window frame over day numbers — the
# time-series smoothing idiom. The window runs over the per-day
# AGGREGATE (|distinct days| rows, bounded by the retention period),
# never the raw fact table; at 100 TB partition the frame by month (or
# customer) and the plan shape is unchanged.
# ---------------------------------------------------------------------------
@register(
    "q30_rolling_revenue",
    """
    WITH daily AS (
        SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS day_num,
               count(*) AS n_orders,
               floor((sum(o_totalprice)) * 1e2 + 0.5) / 1e2 AS revenue
        FROM orders
        GROUP BY 1
    )
    SELECT CAST(day_num AS BIGINT) AS day_num, n_orders, revenue,
           floor((sum(revenue) OVER (ORDER BY day_num RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)) * 1e2 + 0.5) / 1e2 AS revenue_7d,
           CAST(sum(n_orders) OVER (ORDER BY day_num RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS orders_7d
    FROM daily
    ORDER BY day_num
    """,
    "per-day order revenue + 7-day RANGE-frame rolling totals",
)
def q30_rolling_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date")).alias("day_num")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        fround(F.sum("o_totalprice"), 2).alias("revenue"),
    )
    w = Window.orderBy("day_num").rangeBetween(-6, 0)
    return daily.select(
        F.col("day_num").cast("bigint").alias("day_num"),
        "n_orders",
        "revenue",
        fround(F.sum("revenue").over(w), 2).alias("revenue_7d"),
        F.sum("n_orders").over(w).cast("bigint").alias("orders_7d"),
    ).orderBy("day_num")


# ---------------------------------------------------------------------------
# UNPIVOT / stack: wide per-group aggregates melted into (metric, value)
# rows — the long-format export idiom. The melt is a per-row expression
# (Spark `stack`), so it adds zero shuffles beyond the aggregate.
# ---------------------------------------------------------------------------
@register(
    "q31_unpivot",
    """
    WITH w AS (
        SELECT l_returnflag,
               floor((sum(l_quantity)) * 1e2 + 0.5) / 1e2      AS sum_qty,
               floor((sum(l_extendedprice)) * 1e2 + 0.5) / 1e2 AS sum_price,
               floor((avg(l_discount)) * 1e4 + 0.5) / 1e4      AS avg_disc
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, metric, value
    FROM (UNPIVOT w ON sum_qty, sum_price, avg_disc INTO NAME metric VALUE value)
    ORDER BY l_returnflag, metric
    """,
    "wide aggregate melted to long (metric, value) rows via UNPIVOT/stack",
)
def q31_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    w = li.groupBy("l_returnflag").agg(
        fround(F.sum("l_quantity"), 2).alias("sum_qty"),
        fround(F.sum("l_extendedprice"), 2).alias("sum_price"),
        fround(F.avg("l_discount"), 4).alias("avg_disc"),
    )
    return (
        w.select(
            "l_returnflag",
            F.expr(
                "stack(3, 'sum_qty', sum_qty, 'sum_price', sum_price,"
                " 'avg_disc', avg_disc) AS (metric, value)"
            ),
        )
        .orderBy("l_returnflag", "metric")
    )


# ---------------------------------------------------------------------------
# Ordered string aggregation: deterministic listagg per group — the
# report/export idiom. Spark has no ORDER BY inside an aggregate, so the
# deterministic form is sort-the-collected-array-then-join, which is
# also the scalable shape (the per-group array is bounded by the group's
# cardinality, and the sort is per-row, not a shuffle).
# ---------------------------------------------------------------------------
@register(
    "q32_string_agg",
    """
    SELECT r.r_name AS region,
           count(*) AS n_nations,
           string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    ORDER BY r.r_name
    """,
    "deterministic ordered string_agg of nation names per region",
)
def q32_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region")
    return (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("r_name").alias("region"))
        .agg(
            F.count(F.lit(1)).alias("n_nations"),
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations"),
        )
        .orderBy("region")
    )


# ---------------------------------------------------------------------------
# Full CUBE with GROUPING() disambiguation — the OLAP superset of q14's
# rollup: all 4 aggregation levels of (returnflag, linestatus) in one
# pass (Spark expands grouping sets before the partial agg, so it is
# still a single shuffle).
# ---------------------------------------------------------------------------
@register(
    "q33_cube",
    """
    SELECT coalesce(l_returnflag, '<all>')  AS returnflag,
           coalesce(l_linestatus, '<all>')  AS linestatus,
           CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS INTEGER) AS grouping_id,
           count(*) AS n,
           floor((sum(l_quantity)) * 1e2 + 0.5) / 1e2 AS sum_qty
    FROM lineitem
    GROUP BY CUBE(l_returnflag, l_linestatus)
    ORDER BY grouping_id, returnflag, linestatus
    """,
    "full CUBE over (returnflag, linestatus) with GROUPING() level ids",
)
def q33_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            fround(F.sum("l_quantity"), 2).alias("sum_qty"),
            (F.grouping("l_returnflag") * 2 + F.grouping("l_linestatus"))
            .cast("int")
            .alias("grouping_id"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("<all>")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("<all>")).alias("linestatus"),
            "grouping_id",
            "n",
            "sum_qty",
        )
        .orderBy("grouping_id", "returnflag", "linestatus")
    )


# ---------------------------------------------------------------------------
# Z-score anomaly flags: per-type mean/stddev as a broadcast-joined
# aggregate (never a per-row correlated subquery), outliers at |z| >= 3.
# The aggregate side is |event types| rows — broadcast at any scale.
# ---------------------------------------------------------------------------
@register(
    "q34_zscore_outliers",
    """
    WITH stats AS (
        SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sigma
        FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type, e.value,
           floor(((e.value - s.mu) / s.sigma) * 1e4 + 0.5) / 1e4 AS z
    FROM events e JOIN stats s USING (event_type)
    WHERE s.sigma > 0 AND abs((e.value - s.mu) / s.sigma) >= 3.0
    ORDER BY e.event_id
    """,
    "z-score outlier detection vs broadcast per-type mean/stddev",
)
def q34_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sigma")
    )
    z = (F.col("value") - F.col("mu")) / F.col("sigma")
    # sigma > 0 guard pinned in both engines: a zero-variance group divides
    # by 0, which DuckDB turns into ±inf (rows pass |z|>=3) while Spark
    # (ANSI off) yields NULL (rows drop) — exclude identically.
    return (
        ev.join(F.broadcast(stats), "event_type")
        .filter((F.col("sigma") > 0) & (F.abs(z) >= 3.0))
        .select("event_id", "event_type", "value", fround(z, 4).alias("z"))
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# One PageRank iteration over the event-transition graph — the iterative-
# algorithm primitive (kmeans_update_step's graph twin): a driver loop
# repeats exactly this shuffle-on-dst aggregation to convergence; the
# graph here is the |types|² transition edge list, but the plan shape is
# the one that scales (edges join ranks on src, aggregate on dst).
# ---------------------------------------------------------------------------
PR_DAMPING = 0.85


@register(
    "q35_pagerank_step",
    f"""
    WITH pairs AS (
        SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src,
               event_type AS dst
        FROM events
    ),
    edges AS (
        SELECT src, dst, count(*) AS w FROM pairs WHERE src IS NOT NULL GROUP BY src, dst
    ),
    nodes AS (SELECT DISTINCT event_type AS node FROM events),
    n AS (SELECT count(*) AS n_nodes FROM nodes),
    out_w AS (SELECT src, sum(w) AS total_w FROM edges GROUP BY src),
    contrib AS (
        SELECT e.dst, sum((1.0 / n.n_nodes) * e.w / o.total_w) AS incoming
        FROM edges e JOIN out_w o USING (src), n
        GROUP BY e.dst
    )
    SELECT nodes.node,
           floor(((1 - {PR_DAMPING}) / (SELECT n_nodes FROM n)
                 + {PR_DAMPING} * coalesce(c.incoming, 0.0)) * 1e6 + 0.5) / 1e6 AS rank
    FROM nodes
    LEFT JOIN contrib c ON c.dst = nodes.node
    ORDER BY node
    """,
    "one PageRank iteration over the event-type transition graph (uniform init)",
)
def q35_pagerank_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        F.lag("event_type").over(w).alias("src"), F.col("event_type").alias("dst")
    ).filter(F.col("src").isNotNull())
    edges = pairs.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("w"))
    nodes = ev.select(F.col("event_type").alias("node")).distinct()
    n_nodes = nodes.count()  # |types|: tiny driver scalar
    out_w = edges.groupBy("src").agg(F.sum("w").alias("total_w"))
    contrib = (
        edges.join(F.broadcast(out_w), "src")
        .groupBy("dst")
        .agg(F.sum((1.0 / n_nodes) * F.col("w") / F.col("total_w")).alias("incoming"))
    )
    return (
        nodes.join(F.broadcast(contrib), nodes.node == contrib.dst, "left")
        .select(
            "node",
            fround(
                (1 - PR_DAMPING) / n_nodes + PR_DAMPING * F.coalesce("incoming", F.lit(0.0)), 6
            ).alias("rank"),
        )
        .orderBy("node")
    )


# ---------------------------------------------------------------------------
# Explicit GROUPING SETS (beyond ROLLUP/CUBE): independent grouping
# clauses in one pass over the data — one shuffle computes all three
# aggregates (per-flag, per-status, grand total) instead of three scans
# + a union. Expressed through Spark SQL, which plans the same Expand +
# hash-aggregate Catalyst uses for rollup/cube.
# ---------------------------------------------------------------------------
@register(
    "q36_grouping_sets",
    """
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS INTEGER) AS grouping_id,
           count(*) AS n,
           CAST(sum(l_quantity) AS BIGINT) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    ORDER BY grouping_id, returnflag, linestatus
    """,
    "explicit GROUPING SETS: three independent groupings in one Expand pass",
)
def q36_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        """
        SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
               coalesce(l_linestatus, 'ALL') AS linestatus,
               CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS INT) AS grouping_id,
               count(*) AS n,
               CAST(sum(l_quantity) AS BIGINT) AS sum_qty
        FROM {lineitem}
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        ORDER BY grouping_id, returnflag, linestatus
        """,
        lineitem=table(spark, sf_dir, "lineitem"),
    )


# ---------------------------------------------------------------------------
# Gaps-and-islands: runs of consecutive same-type events per user (the
# row_number-difference trick). Two window passes, both partitioned on
# user_id-rooted keys so the heavy sort shuffles once per key family —
# the classic streak/run-length primitive (distinct from q15's
# timeout-based sessionization).
# ---------------------------------------------------------------------------
ISLAND_MIN_LEN = 3


@register(
    "q37_gaps_islands",
    f"""
    WITH seq AS (
        SELECT user_id, event_type, event_id,
               row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
               row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn_t
        FROM events
    ),
    isl AS (
        SELECT user_id, event_type, rn - rn_t AS grp,
               count(*) AS island_len, min(event_id) AS first_event
        FROM seq GROUP BY user_id, event_type, rn - rn_t
    )
    SELECT user_id, event_type, island_len, first_event
    FROM isl
    WHERE island_len >= {ISLAND_MIN_LEN}
    ORDER BY user_id, first_event
    """,
    "gaps-and-islands: same-type event streaks per user (rn-difference trick)",
)
def q37_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    w_all = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_type = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        "event_id",
        (F.row_number().over(w_all) - F.row_number().over(w_type)).alias("grp"),
    )
    return (
        seq.groupBy("user_id", "event_type", "grp")
        .agg(
            F.count(F.lit(1)).alias("island_len"),
            F.min("event_id").alias("first_event"),
        )
        .filter(F.col("island_len") >= ISLAND_MIN_LEN)
        .select("user_id", "event_type", "island_len", "first_event")
        .orderBy("user_id", "first_event")
    )


# ---------------------------------------------------------------------------
# Correlated scalar subquery — Catalyst DECORRELATES it into an
# aggregate + join (never a per-row re-execution), which is the whole
# reason it scales: the subquery side becomes one hash agg on
# o_custkey, broadcast back. The oracle runs the same correlated form.
# ---------------------------------------------------------------------------
@register(
    "q38_correlated_subquery",
    """
    SELECT o.o_orderkey, o.o_custkey, floor((o.o_totalprice) * 1e2 + 0.5) / 1e2 AS total_price
    FROM orders o
    WHERE o.o_totalprice > (
        SELECT 2 * avg(o2.o_totalprice) FROM orders o2 WHERE o2.o_custkey = o.o_custkey
    )
    ORDER BY o.o_orderkey
    """,
    "correlated scalar subquery, decorrelated by Catalyst into agg + join",
)
def q38_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        """
        SELECT o.o_orderkey, o.o_custkey, floor((o.o_totalprice) * 1e2 + 0.5) / 1e2 AS total_price
        FROM {orders} o
        WHERE o.o_totalprice > (
            SELECT 2 * avg(o2.o_totalprice) FROM {orders} o2 WHERE o2.o_custkey = o.o_custkey
        )
        ORDER BY o.o_orderkey
        """,
        orders=table(spark, sf_dir, "orders"),
    )


# ---------------------------------------------------------------------------
# Robust outliers via MAD (median absolute deviation) — the
# heavy-tail-safe twin of q34's z-score: median and MAD are computed
# per type as two grouped exact quantiles (percentile == quantile_cont
# interpolation in both engines, see q18) and broadcast-joined back;
# never a per-row subquery. Zero-MAD groups excluded identically in
# both engines (q34's sigma=0 lesson).
# ---------------------------------------------------------------------------
MAD_K = 1.4826  # consistency constant: MAD * 1.4826 ~ sigma for normal data
MAD_CUT = 3.5


@register(
    "q39_mad_outliers",
    f"""
    WITH med AS (
        SELECT event_type, quantile_cont(value, 0.5) AS m
        FROM events GROUP BY event_type
    ),
    mad AS (
        SELECT e.event_type, quantile_cont(abs(e.value - med.m), 0.5) AS mad
        FROM events e JOIN med USING (event_type)
        GROUP BY e.event_type
    )
    SELECT e.event_id, e.event_type, e.value,
           floor((abs(e.value - med.m) / (mad.mad * {MAD_K})) * 1e4 + 0.5) / 1e4 AS robust_z
    FROM events e
    JOIN med USING (event_type)
    JOIN mad USING (event_type)
    WHERE mad.mad > 0
      AND abs(e.value - med.m) / (mad.mad * {MAD_K}) >= {MAD_CUT}
    ORDER BY e.event_id
    """,
    "robust MAD-based outliers per event type (median/MAD broadcast back)",
)
def q39_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(F.expr("percentile(value, 0.5)").alias("m"))
    mad = (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(F.expr("percentile(abs(value - m), 0.5)").alias("mad"))
    )
    z = F.abs(F.col("value") - F.col("m")) / (F.col("mad") * F.lit(MAD_K))
    return (
        ev.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .filter((F.col("mad") > 0) & (z >= MAD_CUT))
        .select("event_id", "event_type", "value", fround(z, 4).alias("robust_z"))
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# Recursive CTE (WITH RECURSIVE) — graph reachability in pure SQL, a
# DuckDB surface Spark only gained in 4.x (UnionLoop execution). The
# edge set is the above-average event-type transitions (integer
# comparison cnt * N_NODES^2 > total, no float threshold parity risk);
# the recursion walks min-hop distances from 'signup' with a depth
# bound. Spark executes the recursion natively — each iteration is a
# distributed join against the (tiny, broadcast) edge list, so the same
# SQL scales to an edge table that doesn't fit one node.
# ---------------------------------------------------------------------------
TC_SEED = "signup"
TC_MAX_HOPS = 4
_TC_SQL = """
    WITH RECURSIVE seq AS (
        SELECT user_id, event_type,
               lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
        FROM {events}
    ),
    trans AS (
        SELECT event_type AS src, nxt AS dst, count(*) AS cnt
        FROM seq WHERE nxt IS NOT NULL
        GROUP BY event_type, nxt
    ),
    tot AS (SELECT sum(cnt) AS n FROM trans),
    edges AS (SELECT src, dst FROM trans, tot WHERE cnt * 25 > n),
    reach(node, hops) AS (
        SELECT '{seed}', 0
        UNION ALL
        SELECT e.dst, r.hops + 1
        FROM reach r JOIN edges e ON e.src = r.node
        WHERE r.hops < {max_hops}
    )
    SELECT node, CAST(min(hops) AS INTEGER) AS hops
    FROM reach
    GROUP BY node
    ORDER BY hops, node
"""


_TC_REC_SQL = """
    WITH RECURSIVE reach(node, hops) AS (
        SELECT {seed}, 0
        UNION ALL
        SELECT e.dst, r.hops + 1
        FROM reach r JOIN {edges} e ON e.src = r.node
        WHERE r.hops < {max_hops}
    )
    SELECT node, CAST(min(hops) AS INTEGER) AS hops
    FROM reach
    GROUP BY node
    ORDER BY hops, node
"""


@register(
    "q40_transitive_closure",
    _TC_SQL.format(events="events", seed=TC_SEED, max_hops=TC_MAX_HOPS),
    "WITH RECURSIVE reachability: min hops from 'signup' over above-average transition edges",
)
def q40_transitive_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Recursion itself is not expressible in the DataFrame API, so the
    # walk is native recursive SQL (Catalyst UnionLoop). The edge
    # DERIVATION however is materialized once up front: inside the
    # recursive WITH, Spark re-evaluates the edge CTE chain (window over
    # the full events table + two aggregates) on every iteration —
    # measured 3.1 s vs 0.4 s at sf0.1 for an identical result.
    ev = table(spark, sf_dir, "events")
    from pyspark.sql import Window

    seq = ev.select(
        "event_type",
        F.lead("event_type").over(Window.partitionBy("user_id").orderBy("ts", "event_id")).alias("nxt"),
    )
    trans = (
        seq.filter(F.col("nxt").isNotNull())
        .groupBy(F.col("event_type").alias("src"), F.col("nxt").alias("dst"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    total = trans.agg(F.sum("cnt").alias("n"))
    edges = (
        trans.crossJoin(F.broadcast(total))
        .filter(F.col("cnt") * 25 > F.col("n"))
        .select("src", "dst")
        # eager checkpoint, not pin: the recursive plan replays a pinned
        # derivation every iteration (65 jobs vs 30 at sf0.1)
        .localCheckpoint()
    )
    return spark.sql(_TC_REC_SQL, edges=edges, seed=TC_SEED, max_hops=TC_MAX_HOPS)


# ---------------------------------------------------------------------------
# Deterministic MODE per group. Spark's built-in mode() picks an
# arbitrary value on ties (non-deterministic across partitionings, so
# it can never pass a hash-parity gate); the portable shape is
# count + row_number with a pinned tie-break — same plan DuckDB's
# mode() would need for determinism anyway.
# ---------------------------------------------------------------------------
@register(
    "q41_mode",
    """
    WITH c AS (
        SELECT o_orderstatus, o_orderpriority, count(*) AS cnt
        FROM orders GROUP BY o_orderstatus, o_orderpriority
    ),
    r AS (
        SELECT o_orderstatus, o_orderpriority, cnt,
               row_number() OVER (PARTITION BY o_orderstatus
                                  ORDER BY cnt DESC, o_orderpriority) AS rn
        FROM c
    )
    SELECT o_orderstatus, o_orderpriority AS modal_priority, cnt AS n_orders
    FROM r WHERE rn = 1
    ORDER BY o_orderstatus
    """,
    "deterministic per-group mode: count + row_number with pinned tie-break",
)
def q41_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = table(spark, sf_dir, "orders")
    c = orders.groupBy("o_orderstatus", "o_orderpriority").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("o_orderstatus").orderBy(F.col("cnt").desc(), "o_orderpriority")
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_orderstatus", F.col("o_orderpriority").alias("modal_priority"), F.col("cnt").alias("n_orders"))
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------------------------------------
# TPC-H Q8-flavored market share: five-table join (lineitem -> orders ->
# customer -> nation -> region) + each nation's revenue share within its
# region. The Catalyst evidence this exists for: all four dimension
# joins must broadcast (no fact-side shuffle until the group-by), and
# join reordering keeps lineitem at the bottom. Float discipline:
# price/discount have 2 decimals, so the revenue term
# round(price*100) * round((1-disc)*100) is an exact BIGINT — integer
# sums, one double division per output row, no summation-order surface.
# ---------------------------------------------------------------------------
@register(
    "q42_market_share",
    """
    WITH rev AS (
        SELECT r.r_name AS region, n.n_name AS nation,
               sum(CAST(floor((l.l_extendedprice * 100) + 0.5) AS BIGINT)
                   * CAST(floor(((1 - l.l_discount) * 100) + 0.5) AS BIGINT)) AS rev_e4
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n   ON c.c_nationkey = n.n_nationkey
        JOIN region r   ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name, n.n_name
    )
    SELECT region, nation,
           floor(((CAST(rev_e4 AS DOUBLE) / 10000.0) / 1.0) * 1e2 + 0.5) / 1e2 AS revenue,
           floor((CAST(rev_e4 AS DOUBLE) / sum(rev_e4) OVER (PARTITION BY region)) * 1e4 + 0.5) / 1e4 AS share
    FROM rev
    ORDER BY region, share DESC, nation
    """,
    "five-table broadcast join + per-region revenue share (exact integer revenue terms)",
)
def q42_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region")
    term = (
        fround(F.col("l_extendedprice") * 100).cast("long")
        * fround((F.lit(1) - F.col("l_discount")) * 100).cast("long")
    )
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(F.sum(term).alias("rev_e4"))
    )
    w = Window.partitionBy("region")
    return rev.select(
        "region",
        "nation",
        fround((F.col("rev_e4").cast("double") / F.lit(10000.0)) / F.lit(1.0), 2).alias("revenue"),
        fround(F.col("rev_e4").cast("double") / F.sum("rev_e4").over(w), 4).alias("share"),
    ).orderBy("region", F.col("share").desc(), "nation")


# ---------------------------------------------------------------------------
# Time-interval RANGE window: per event, the trailing-1-hour average of
# `value` within its event_type — the "rolling sensor average" shape.
# Both engines order by epoch microseconds and use an identical RANGE
# frame (range frames include all peers, so timestamp ties cannot
# diverge); the frame sum runs over scaled-BIGINT values. The 4-decimal
# rounding happens in INTEGER arithmetic — (s6 + 50n) div (100n) —
# because round(s6/1e6/n, 4) hits the engines' half-boundary divergence
# (Spark rounds the shortest decimal repr via BigDecimal.valueOf,
# DuckDB rounds the binary double; 51.19875 split them in testing).
# Valid for the non-negative `value` domain.
# ---------------------------------------------------------------------------
TIW_MICROS = 3_600_000_000  # 1 hour


@register(
    "q43_interval_window",
    f"""
    WITH v AS (
        SELECT event_id, event_type, ts, epoch_us(ts) AS us,
               CAST(floor((value * 1000000.0) + 0.5) AS BIGINT) AS v6
        FROM events
    ),
    w AS (
        SELECT event_id, event_type, ts,
               count(*) OVER fr AS n_window,
               sum(v6) OVER fr AS s6
        FROM v
        WINDOW fr AS (PARTITION BY event_type ORDER BY us
                      RANGE BETWEEN {TIW_MICROS} PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, event_type, ts, CAST(n_window AS BIGINT) AS n_window,
           CAST((s6 + 50 * n_window) // (100 * n_window) AS DOUBLE) / 10000.0 AS avg_1h
    FROM w
    ORDER BY event_id
    """,
    "trailing-1h RANGE window per event_type (epoch-microsecond frame, scaled-integer sum)",
)
def q43_interval_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from .timewin import sliced_range_frame

    ev = table(spark, sf_dir, "events")
    v = ev.select(
        "event_id",
        "event_type",
        "ts",
        F.unix_micros("ts").alias("us"),
        fround(F.col("value") * F.lit(1000000.0)).cast("long").alias("v6"),
    )
    # trailing-1h frame inside 1-day time slices (timewin): the oracle's
    # PARTITION BY event_type would sort the whole stream in ~4 tasks;
    # re-keying to (type, day) keeps sort tasks day-sized at any scale,
    # with rows in the last hour of each day replicated once as
    # context so every frame stays exact across the day boundary.
    aug = sliced_range_frame(v, "us", TIW_MICROS, TIW_MICROS * 24)
    fr = (
        Window.partitionBy("event_type", "__slice")
        .orderBy("us")
        .rangeBetween(-TIW_MICROS, Window.currentRow)
    )
    w = aug.select(
        "event_id",
        "event_type",
        "ts",
        F.col("__ctx"),
        F.count(F.lit(1)).over(fr).cast("bigint").alias("n_window"),
        F.sum("v6").over(fr).alias("s6"),
    ).filter(~F.col("__ctx"))
    avg4 = F.expr("(s6 + 50 * n_window) div (100 * n_window)")
    return w.select(
        "event_id",
        "event_type",
        "ts",
        "n_window",
        (avg4.cast("double") / F.lit(10000.0)).alias("avg_1h"),
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# RFM segmentation — the classic customer-analytics composite: recency
# (days since the customer's last order, against the corpus max date),
# frequency (order count), monetary (exact integer cents). Each
# dimension is tercile-scored via the EXACT integer ntile formula
# (distrank.ntile_expr) spelled out on BOTH sides, so neither engine's
# built-in ntile implementation is in the parity loop — the only
# remaining engine-agreement surface is datediff-on-dates (pinned
# semantics) and row_number under a total order (deterministic).
# Scale note: the tercile windows are global (one row per CUSTOMER,
# already 4-5 orders of magnitude below the fact table) and the Spark
# side runs them through distrank's two-phase scan; at the point even
# the customer dimension outgrows the range sampler, replace the
# terciles with approx-quantile cutpoints (the q34 z-score shape) and
# keep everything else.
# ---------------------------------------------------------------------------
def _ntile3_sql(rn: str) -> str:
    """distrank.ntile_expr with k=3, in DuckDB syntax (// = integer div):
    first n%3 buckets hold n//3+1 rows. Pure integer arithmetic."""
    return (
        f"CASE WHEN {rn} <= (n // 3 + 1) * (n % 3)"
        f" THEN ({rn} - 1) // (n // 3 + 1) + 1"
        f" ELSE n % 3 + ({rn} - (n // 3 + 1) * (n % 3) - 1) // (n // 3) + 1 END"
    )


@register(
    "q44_rfm",
    f"""
    WITH per_cust AS (
        SELECT o_custkey AS custkey,
               max(epoch_us(CAST(o_orderdate AS TIMESTAMP)) // 86400000000) AS last_day,
               count(*) AS frequency,
               CAST(sum(CAST(floor((o_totalprice * 100) + 0.5) AS BIGINT)) AS BIGINT) AS monetary_cents
        FROM orders
        GROUP BY o_custkey
    ),
    mx AS (SELECT max(last_day) AS maxd FROM per_cust),
    ranked AS (
        SELECT custkey,
               maxd - last_day AS recency_days,
               frequency, monetary_cents,
               row_number() OVER (ORDER BY maxd - last_day, custkey) AS r_rn,
               row_number() OVER (ORDER BY frequency DESC, custkey) AS f_rn,
               row_number() OVER (ORDER BY monetary_cents DESC, custkey) AS m_rn,
               count(*) OVER () AS n
        FROM per_cust, mx
    ),
    scored AS (
        SELECT custkey, recency_days, frequency, monetary_cents,
               {_ntile3_sql("r_rn")} AS r_score,
               {_ntile3_sql("f_rn")} AS f_score,
               {_ntile3_sql("m_rn")} AS m_score
        FROM ranked
    )
    SELECT custkey, CAST(recency_days AS BIGINT) AS recency_days, frequency, monetary_cents,
           CAST(r_score AS INTEGER) AS r_score, CAST(f_score AS INTEGER) AS f_score,
           CAST(m_score AS INTEGER) AS m_score,
           CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR) || CAST(m_score AS VARCHAR) AS segment
    FROM scored
    ORDER BY custkey
    """,
    "RFM customer segmentation: integer recency/frequency/cents + ntile(3) composite score",
)
def q44_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = table(spark, sf_dir, "orders")
    # Pure integer epoch-DAY arithmetic (r5 verdict item 2): this query
    # was driver-red with all-integer outputs, so no engine date
    # semantics (CAST AS DATE / datediff) may remain anywhere in the
    # computation — only unix_micros// vs epoch_us// integer division.
    epoch_day = F.expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000")
    per_cust = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max(epoch_day).alias("last_day"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(fround(F.col("o_totalprice") * 100).cast("long")).alias("monetary_cents"),
    )
    mx = per_cust.agg(F.max("last_day").alias("maxd"))
    scored = per_cust.crossJoin(F.broadcast(mx)).withColumn(
        "recency_days", (F.col("maxd") - F.col("last_day")).cast("bigint")
    )
    # three two-phase distributed ranks + the exact ntile formula
    # (distrank.py): three bare ntile windows would each funnel the
    # whole customer dimension through one task
    from .distrank import ntile_expr, with_global_rank

    for score, order in [
        ("r_score", [F.col("recency_days"), F.col("custkey")]),
        ("f_score", [(F.col("frequency"), False), F.col("custkey")]),
        ("m_score", [(F.col("monetary_cents"), False), F.col("custkey")]),
    ]:
        scored = with_global_rank(
            spark, scored, order, rn_col="__rn", n_col="__n"
        ).withColumn(score, ntile_expr("__rn", "__n", 3).cast("int")).drop(
            "__rn", "__n"
        )
    return scored.select(
        "custkey",
        "recency_days",
        "frequency",
        "monetary_cents",
        "r_score",
        "f_score",
        "m_score",
        F.concat(
            F.col("r_score").cast("string"),
            F.col("f_score").cast("string"),
            F.col("m_score").cast("string"),
        ).alias("segment"),
    ).orderBy("custkey")


# ---------------------------------------------------------------------------
# Exact discrete percentiles (inverse-CDF, no interpolation) per group.
# Engines disagree on built-in discrete-quantile tie semantics, so both
# sides compute the SAME window formula: the value at ordered position
# ceil(p * n) (ties broken by value order — positional pick, so
# duplicate values are harmless). Complements q18's continuous
# `percentile`/`quantile_cont` parity. The oracle states the naive
# per-priority window; the Spark side ranks via the grouped two-phase
# scan (distrank.with_grouped_rank) — 5 priority values over all
# orders would otherwise sort the fact table in 5 tasks. Rank
# positions at each o_totalprice are identical to the window form.
# ---------------------------------------------------------------------------
@register(
    "q46_percentile_disc",
    """
    WITH ranked AS (
        SELECT o_orderpriority, o_totalprice,
               row_number() OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_totalprice, o_orderkey) AS rn,
               count(*) OVER (PARTITION BY o_orderpriority) AS n
        FROM orders
    )
    SELECT o_orderpriority,
           max(n) AS n_orders,
           min(CASE WHEN rn >= CAST(ceil(0.5 * n) AS BIGINT) THEN o_totalprice END) AS p50,
           min(CASE WHEN rn >= CAST(ceil(0.9 * n) AS BIGINT) THEN o_totalprice END) AS p90,
           min(CASE WHEN rn >= CAST(ceil(0.99 * n) AS BIGINT) THEN o_totalprice END) AS p99
    FROM ranked
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    "exact discrete (inverse-CDF) percentiles per group via a pinned positional window",
)
def q46_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .distrank import with_grouped_rank

    orders = table(spark, sf_dir, "orders")
    ranked = with_grouped_rank(
        spark,
        orders.select("o_orderpriority", "o_totalprice", "o_orderkey"),
        ["o_orderpriority"],
        [F.col("o_totalprice"), F.col("o_orderkey")],
        rn_col="rn",
        n_col="n",
    ).select("o_orderpriority", "o_totalprice", "rn", "n")

    def pick(p: float):
        pos = F.ceil(F.lit(p) * F.col("n")).cast("long")
        return F.min(F.when(F.col("rn") >= pos, F.col("o_totalprice")))

    return (
        ranked.groupBy("o_orderpriority")
        .agg(
            F.max("n").alias("n_orders"),
            pick(0.5).alias("p50"),
            pick(0.9).alias("p90"),
            pick(0.99).alias("p99"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Multiset (bag) set operations — INTERSECT ALL / EXCEPT ALL keep
# duplicate multiplicity (q13 covers the distinct variants). Spark and
# DuckDB both implement the ANSI bag semantics natively; the query
# compares nation-key multiplicity between the customer and supplier
# tables, tagging each side so one result set carries both ops.
# ---------------------------------------------------------------------------
@register(
    "q47_set_ops_all",
    """
    SELECT 'intersect_all' AS op, k, count(*) AS multiplicity
    FROM (
        SELECT c_nationkey AS k FROM customer
        INTERSECT ALL
        SELECT s_nationkey AS k FROM supplier
    )
    GROUP BY k
    UNION ALL
    SELECT 'except_all' AS op, k, count(*) AS multiplicity
    FROM (
        SELECT c_nationkey AS k FROM customer
        EXCEPT ALL
        SELECT s_nationkey AS k FROM supplier
    )
    GROUP BY k
    ORDER BY op, k
    """,
    "INTERSECT ALL / EXCEPT ALL multiset semantics with per-key multiplicity",
)
def q47_set_ops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("k"))
    supplier = table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("k"))
    ia = (
        customer.intersectAll(supplier)
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("multiplicity"))
        .select(F.lit("intersect_all").alias("op"), "k", "multiplicity")
    )
    ea = (
        customer.exceptAll(supplier)
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("multiplicity"))
        .select(F.lit("except_all").alias("op"), "k", "multiplicity")
    )
    return ia.unionAll(ea).orderBy("op", "k")


# ---------------------------------------------------------------------------
# Rank-distribution window functions — percent_rank, cume_dist, and
# nth_value complete the ANSI window surface (row_number/rank/ntile/
# lead/lag/frames live in q12/q24/q30/q43/q44). Parity subtlety: the
# builtins' (rank−1)/(n−1) ratio rounds differently between engines at
# 6-decimal boundaries (Spark's round is BigDecimal-exact on the
# double; DuckDB's multiplies by 10^k in floats first — found by the
# sf0.1 sweep), so both sides derive the ratios from INTEGER
# row_number/count and quantize through the identical float path:
# round(i·10^6/n) as an integer, then one division. Under the total
# (c_acctbal, c_custkey) order percent_rank == (row_number−1)/(n−1)
# and cume_dist == row_number/n exactly.
# ---------------------------------------------------------------------------
@register(
    "q48_rank_distributions",
    """
    WITH ranked AS (
        SELECT c_nationkey, c_custkey, c_acctbal,
               row_number() OVER w AS rk,
               count(*) OVER (PARTITION BY c_nationkey) AS n,
               nth_value(c_acctbal, 3) OVER
                 (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
                   AS third_bal
        FROM customer
        WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
    )
    SELECT c_nationkey, c_custkey,
           CAST(floor(((rk - 1) * 1000000.0 / greatest(n - 1, 1)) + 0.5) AS BIGINT) / 1000000.0
               AS pct_rank,
           CAST(floor((rk * 1000000.0 / n) + 0.5) AS BIGINT) / 1000000.0 AS cume,
           floor((third_bal) * 1e2 + 0.5) / 1e2 AS third_lowest_bal
    FROM ranked
    ORDER BY c_nationkey, c_custkey
    """,
    "percent_rank / cume_dist / nth_value semantics from integer rank ratios",
)
def q48_rank_distributions(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The oracle states naive per-nation windows; c_nationkey has 25
    # values over the full customer table, so the Spark side ranks via
    # the grouped two-phase scan and recovers nth_value(3) as the
    # rank-3 rows joined back — a 25-row broadcast. NULL for groups
    # with < 3 rows, exactly like nth_value over the full frame.
    from .distrank import with_grouped_rank

    customer = table(spark, sf_dir, "customer")
    rk = with_grouped_rank(
        spark,
        customer.select("c_nationkey", "c_custkey", "c_acctbal"),
        ["c_nationkey"],
        [F.col("c_acctbal"), F.col("c_custkey")],
        rn_col="rk",
        n_col="n",
        # rk feeds the rank-3 pick AND the output join; unpinned, the
        # whole grouped rank (sort/shuffle) ran once per consumer
    ).transform(pin)
    third = rk.filter(F.col("rk") == 3).select(
        "c_nationkey", F.col("c_acctbal").alias("third_bal")
    )
    ranked = rk.join(F.broadcast(third), "c_nationkey", "left")
    m6 = F.lit(1000000.0)
    return (
        ranked.select(
            "c_nationkey",
            "c_custkey",
            (
                fround((F.col("rk") - 1) * m6 / F.greatest(F.col("n") - 1, F.lit(1)))
                .cast("long")
                / m6
            ).alias("pct_rank"),
            (fround(F.col("rk") * m6 / F.col("n")).cast("long") / m6).alias("cume"),
            fround("third_bal", 2).alias("third_lowest_bal"),
        )
        .orderBy("c_nationkey", "c_custkey")
    )


# ---------------------------------------------------------------------------
# Ordered array aggregation — array_agg with a pinned element order on
# both engines (Spark sorts the collected array explicitly —
# collect_list order is partition-dependent — while DuckDB orders
# inside array_agg). The OUTPUT projects the array to three scalar
# columns: the driver's canonicalizer sorts pandas columns and throws
# `unhashable type: 'list'` on array cells (CORRECTNESS_r05 harness
# error), so complex types must never reach the output contract —
# tests/test_registry_sweep.py now guards this for every registry entry.
# ---------------------------------------------------------------------------
@register(
    "q50_array_agg",
    """
    SELECT c_nationkey,
           count(*) AS n_customers,
           (array_agg(c_acctbal ORDER BY c_acctbal DESC, c_custkey))[1] AS bal_1,
           (array_agg(c_acctbal ORDER BY c_acctbal DESC, c_custkey))[2] AS bal_2,
           (array_agg(c_acctbal ORDER BY c_acctbal DESC, c_custkey))[3] AS bal_3
    FROM customer
    GROUP BY c_nationkey
    ORDER BY c_nationkey
    """,
    "sorted-array aggregation: top-3 account balances per nation as scalar columns",
)
def q50_array_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = table(spark, sf_dir, "customer")
    # collect (bal, custkey) structs, sort descending by balance with the
    # custkey tiebreak, then project the balances — element order is then
    # engine-independent (bare collect_list order is partition order)
    pairs = F.collect_list(F.struct(F.col("c_acctbal").alias("b"), F.col("c_custkey").alias("k")))
    ordered = F.expr(
        "transform(slice(reverse(array_sort(collect_pairs, (l, r) ->"
        " case when l.b < r.b then -1 when l.b > r.b then 1"
        " when l.k > r.k then -1 when l.k < r.k then 1 else 0 end)), 1, 3),"
        " p -> p.b)"
    )
    return (
        customer.groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_customers"), pairs.alias("collect_pairs"))
        .select("c_nationkey", "n_customers", ordered.alias("top3_bal"))
        .select(
            "c_nationkey",
            "n_customers",
            F.element_at("top3_bal", 1).alias("bal_1"),
            F.element_at("top3_bal", 2).alias("bal_2"),
            F.element_at("top3_bal", 3).alias("bal_3"),
        )
        .orderBy("c_nationkey")
    )


# ---------------------------------------------------------------------------
# RANGE-framed window (q54, filling the q-series gap): 7-day trailing
# revenue per order day. Unlike the ROWS frames elsewhere (q30), the
# frame here is VALUE-based — RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
# over an integer day key — so days absent from the data still shrink
# the trailing window. Parity: days are exact integer div of epoch
# micros, revenue is parquet-double cents (probe_parquet_double
# contract), and the windowed sum is CAST AS BIGINT on the oracle side
# (DuckDB sums BIGINT into HUGEINT, which pandas would surface as
# float64 — the r3-r6 red-class). Scale: the window runs over the
# |days| daily spine (~2.4k rows for 7 years), not the fact table —
# the fact-scale work is the partial+final hash agg building it.
# ---------------------------------------------------------------------------
@register(
    "q54_range_window",
    """
    WITH daily AS (
        SELECT epoch_us(o_orderdate) // 86400000000 AS day,
               CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents,
               count(*) AS n_orders
        FROM orders
        GROUP BY day
    )
    SELECT day, rev_cents, n_orders,
           CAST(sum(rev_cents) OVER (ORDER BY day
                RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS rev_7d_cents,
           CAST(count(*) OVER (ORDER BY day
                RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_days_7d
    FROM daily
    ORDER BY day
    """,
    "7-day trailing revenue via a VALUE-based RANGE window frame over an integer day key",
)
def q54_range_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    orders = table(spark, sf_dir, "orders")
    daily = (
        orders.select(
            F.expr("unix_micros(o_orderdate) div 86400000000").alias("day"),
            F.expr("cast(floor(o_totalprice * 100.0 + 0.5) as bigint)").alias("cents"),
        )
        .groupBy("day")
        .agg(
            F.sum("cents").cast("long").alias("rev_cents"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )
    # Unpartitioned RANGE window: runs over the bounded daily spine
    # (one row per distinct order day), same contract as q45_date_fill.
    w = Window.orderBy("day").rangeBetween(-6, 0)
    return daily.select(
        "day",
        "rev_cents",
        "n_orders",
        F.sum("rev_cents").over(w).cast("long").alias("rev_7d_cents"),
        F.count(F.lit(1)).over(w).cast("long").alias("n_days_7d"),
    ).orderBy("day")


# ---------------------------------------------------------------------------
# TPC-H Q3 shape (q56): the one join topology the q-series still
# lacked — FACT ⋈ FACT. q08/q42 are star joins (fact against broadcast
# dims); here lineitem is pre-aggregated per order key (partial+final
# hash agg BEFORE the join, shrinking the probe side from line items to
# orders) and then shuffle-joined to orders on the same key. Customer
# is filtered to one segment and joined without a broadcast hint — at
# sf0.1 AQE turns it into a broadcast, at 100 TB (customer scales with
# the corpus) it stays a shuffle join; expressing it declaratively
# lets the planner pick per scale. Revenue is exact: per-row cents
# quantization then BIGINT sums (probe_parquet_double contract) — not
# quantize-after-double-sum, so the hash is partitioning-independent.
# LIMIT needs a total order: (rev_cents DESC, o_orderkey) is one.
# ---------------------------------------------------------------------------
@register(
    "q56_ship_priority",
    """
    WITH r AS (
        SELECT l_orderkey,
               CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0 + 0.5)
                             AS BIGINT)) AS BIGINT) AS rev_cents
        FROM lineitem
        WHERE l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
        GROUP BY l_orderkey
    )
    SELECT o.o_orderkey,
           CAST(epoch_us(o.o_orderdate) // 86400000000 AS BIGINT) AS order_day,
           o.o_orderpriority,
           r.rev_cents
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN r ON r.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
    ORDER BY r.rev_cents DESC, o.o_orderkey
    LIMIT 10
    """,
    "TPC-H Q3-style shipping priority: lineitem pre-agg then fact-to-fact shuffle join, exact cents revenue, top-10",
)
def q56_ship_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cut = F.lit("1998-06-01 00:00:00").cast("timestamp")
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    r = (
        li.filter(F.col("l_shipdate") > cut)
        .select(
            "l_orderkey",
            F.expr(
                "cast(floor(l_extendedprice * (1.0 - l_discount) * 100.0 + 0.5) as bigint)"
            ).alias("cents"),
        )
        .groupBy("l_orderkey")
        .agg(F.sum("cents").cast("long").alias("rev_cents"))
    )
    return (
        o.filter(F.col("o_orderdate") < cut)
        .join(
            c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(r, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            "o_orderkey",
            F.expr("unix_micros(o_orderdate) div 86400000000").alias("order_day"),
            "o_orderpriority",
            "rev_cents",
        )
        .orderBy(F.col("rev_cents").desc(), "o_orderkey")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# TPC-H Q13 shape (q57): order-count distribution per customer — the
# LEFT OUTER fact join + double aggregation topology. The scale trick:
# aggregate orders per customer key FIRST (fact-scale partial+final
# hash agg), then left-join the |customers|-sized count table — the
# outer join never sees individual orders. coalesce(n, 0) preserves
# the oracle's count(o_orderkey)=0 for order-less customers. All
# output columns are BIGINT counts.
# ---------------------------------------------------------------------------
@register(
    "q57_order_count_dist",
    """
    WITH pc AS (
        SELECT c.c_custkey, count(o.o_orderkey) AS n_orders
        FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY c.c_custkey
    )
    SELECT n_orders, count(*) AS n_customers
    FROM pc
    GROUP BY n_orders
    ORDER BY n_customers DESC, n_orders DESC
    """,
    "TPC-H Q13-style order-count distribution: pre-agg before the outer join, histogram of per-customer counts",
)
def q57_order_count_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    oc = o.groupBy("o_custkey").agg(F.count(F.lit(1)).cast("long").alias("n"))
    pc = (
        c.select("c_custkey")
        .join(oc, F.col("o_custkey") == F.col("c_custkey"), "left")
        .select(F.coalesce(F.col("n"), F.lit(0).cast("long")).alias("n_orders"))
    )
    return (
        pc.groupBy("n_orders")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy(F.col("n_customers").desc(), F.col("n_orders").desc())
    )


# ---------------------------------------------------------------------------
# TPC-H Q15 shape (q58): top supplier by quarterly revenue — the
# aggregate-then-match-global-max topology (Q15's revenue view + WHERE
# total = (SELECT max(...))). Spark side: the per-supplier revenue agg
# is computed once, its 1-row max is broadcast back as a cross join,
# and the equality filter picks the winner(s) — no second scan of
# lineitem, no correlated subquery. Revenue cents are exact BIGINTs.
# ---------------------------------------------------------------------------
@register(
    "q58_top_supplier",
    """
    WITH rev AS (
        SELECT l_suppkey,
               CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0 + 0.5)
                             AS BIGINT)) AS BIGINT) AS total_cents
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1998-04-01 00:00:00'
        GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_cents
    FROM supplier s
    JOIN rev r ON s.s_suppkey = r.l_suppkey
    WHERE r.total_cents = (SELECT max(total_cents) FROM rev)
    ORDER BY s.s_suppkey
    """,
    "TPC-H Q15-style top supplier: one revenue agg reused for both the max and the match, broadcast 1-row max",
)
def q58_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    rev = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1998-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-04-01 00:00:00").cast("timestamp"))
        )
        .select(
            "l_suppkey",
            F.expr(
                "cast(floor(l_extendedprice * (1.0 - l_discount) * 100.0 + 0.5) as bigint)"
            ).alias("cents"),
        )
        .groupBy("l_suppkey")
        .agg(F.sum("cents").cast("long").alias("total_cents"))
    )
    mx = rev.agg(F.max("total_cents").alias("mx"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_cents") == F.col("mx"))
        .join(s.select("s_suppkey", "s_name"), F.col("s_suppkey") == F.col("l_suppkey"))
        .select("s_suppkey", "s_name", "total_cents")
        .orderBy("s_suppkey")
    )


# ---------------------------------------------------------------------------
# TPC-H Q12 shape (q59): shipping-latency mix per order priority — the
# fact ⋈ fact join again but grouped to a 5-row priority card, with a
# conditional count (late = shipped > 90 days after the order date).
# Everything is integer: epoch-microsecond arithmetic (probe_parquet_
# timestamp contract), CASE-sum CAST AS BIGINT on the oracle side
# (HUGEINT -> pandas float64 otherwise), exact round-half-up e4 share.
# ---------------------------------------------------------------------------
@register(
    "q59_late_shipment_mix",
    f"""
    SELECT o.o_orderpriority,
           count(*) AS n_lines,
           CAST(sum(CASE WHEN epoch_us(l.l_shipdate) - epoch_us(o.o_orderdate)
                              > 90 * 86400000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
           {share_sql("n_late", "n_lines")} AS late_frac_e4
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
    "TPC-H Q12-style late-shipment mix per order priority: fact-to-fact join, integer lateness counts",
)
def q59_late_shipment_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    late = F.sum(
        F.when(
            F.unix_micros("l_shipdate") - F.unix_micros("o_orderdate")
            > F.lit(90 * 86400000000),
            1,
        ).otherwise(0)
    ).cast("long")
    return (
        o.select("o_orderkey", "o_orderpriority", "o_orderdate")
        .join(
            li.select("l_orderkey", "l_shipdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_lines"), late.alias("n_late"))
        .select(
            "o_orderpriority",
            "n_lines",
            "n_late",
            share_expr("n_late", "n_lines").alias("late_frac_e4"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# TPC-H Q7 shape (q60): nation-to-nation trade flows by year — the
# two-dimension-chain fact⋈fact topology (lineitem needs BOTH its
# supplier's nation and, through orders, its customer's nation). The
# lineitem⋈orders shuffle on the order key is the scale cost; the
# supplier and customer joins are declared without hints (customer
# scales with the corpus — AQE broadcasts at sf0.1, shuffles at
# 100 TB) and the two nation lookups broadcast. Revenue is per-row
# cents quantization then BIGINT sums (q56's probe_parquet_double
# contract). Directional pair filter (supp nation key < cust nation
# key) keeps one row per unordered pair without a second pass.
# ---------------------------------------------------------------------------
@register(
    "q60_nation_trade_volume",
    """
    SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
           CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
           CAST(sum(CAST(floor(l.l_extendedprice * (1.0 - l.l_discount) * 100.0 + 0.5)
                         AS BIGINT)) AS BIGINT) AS rev_cents,
           count(*) AS n_lines
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation ns ON ns.n_nationkey = s.s_nationkey
    JOIN nation nc ON nc.n_nationkey = c.c_nationkey
    WHERE ns.n_nationkey < nc.n_nationkey
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
    GROUP BY supp_nation, cust_nation, o_year
    ORDER BY supp_nation, cust_nation, o_year
    """,
    "TPC-H Q7-style nation trade flows: fact-to-fact join with two broadcast nation chains, exact cents",
)
def q60_nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    s = table(spark, sf_dir, "supplier")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    ns = n.select(
        F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("supp_nation")
    )
    nc = n.select(
        F.col("n_nationkey").alias("nc_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.select(
            "l_orderkey",
            "l_suppkey",
            F.expr(
                "cast(floor(l_extendedprice * (1.0 - l_discount) * 100.0 + 0.5) as bigint)"
            ).alias("cents"),
        )
        .join(
            o.filter(
                (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("1999-01-01 00:00:00").cast("timestamp"))
            ).select("o_orderkey", "o_custkey", F.year("o_orderdate").alias("o_year")),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(s.select("s_suppkey", "s_nationkey"), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(c.select("c_custkey", "c_nationkey"), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("ns_key"))
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("nc_key"))
        .filter(F.col("ns_key") < F.col("nc_key"))
        .groupBy("supp_nation", "cust_nation", "o_year")
        .agg(
            F.sum("cents").cast("long").alias("rev_cents"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy("supp_nation", "cust_nation", "o_year")
    )


# ---------------------------------------------------------------------------
# TPC-H Q21 shape (q61): suppliers who kept multi-supplier orders
# waiting — the EXISTS/NOT-EXISTS double-correlated topology. The
# textbook form self-joins lineitem twice; this expresses both
# correlations as ONE extra per-order aggregate (n_supps, n_ontime)
# over the per-(order, supplier) late flags — the aggregate rewrite
# is the scale-smart physical form of the same logical plan (two
# hash aggs and one shuffle join instead of two fact-sized self-join
# probes), with identical semantics: supp_late=1 AND n_supps >= 2
# AND n_ontime >= 1 <=> EXISTS(other supplier on time) AND this
# supplier late. Late = shipped > 60 days after the order date
# (this schema carries no commit/receipt dates).
# ---------------------------------------------------------------------------
@register(
    "q61_waiting_suppliers",
    """
    WITH ls AS (
        SELECT l.l_orderkey AS okey, l.l_suppkey AS skey,
               max(CASE WHEN epoch_us(l.l_shipdate) - epoch_us(o.o_orderdate)
                             > 60 * 86400000000 THEN 1 ELSE 0 END) AS supp_late
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        GROUP BY okey, skey
    ),
    om AS (
        SELECT okey, count(*) AS n_supps,
               CAST(sum(1 - supp_late) AS BIGINT) AS n_ontime
        FROM ls GROUP BY okey
    )
    SELECT s.s_name, count(*) AS numwait
    FROM ls
    JOIN om USING (okey)
    JOIN supplier s ON s.s_suppkey = ls.skey
    WHERE ls.supp_late = 1 AND om.n_supps >= 2 AND om.n_ontime >= 1
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 10
    """,
    "TPC-H Q21-style waiting suppliers: EXISTS/NOT-EXISTS rewritten as per-order aggregates, top-10",
)
def q61_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    s = table(spark, sf_dir, "supplier")
    ls = (
        li.select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(
            o.select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy(F.col("l_orderkey").alias("okey"), F.col("l_suppkey").alias("skey"))
        .agg(
            F.max(
                F.when(
                    F.unix_micros("l_shipdate") - F.unix_micros("o_orderdate")
                    > F.lit(60 * 86400000000),
                    1,
                ).otherwise(0)
            ).alias("supp_late")
        )
        # ls (the lineitem x orders join + agg — the two largest tables)
        # feeds BOTH the supp_late filter branch and the om rollup; the
        # consumers apply different filters before any exchange, so
        # Catalyst never inserts a ReusedExchange and the join runs
        # twice. Pin it once — at 100 TB this halves the dominant join.
        .transform(pin)
    )
    om = ls.groupBy("okey").agg(
        F.count(F.lit(1)).alias("n_supps"),
        F.sum(1 - F.col("supp_late")).cast("long").alias("n_ontime"),
    )
    return (
        ls.filter(F.col("supp_late") == 1)
        .join(om.filter((F.col("n_supps") >= 2) & (F.col("n_ontime") >= 1)), "okey")
        .join(F.broadcast(s.select("s_suppkey", "s_name")), F.col("skey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# TPC-H Q22 shape (q62): positive-balance customers above the average
# positive balance with no recent orders, rolled up per nation — the
# scalar-subquery + anti-join topology. The average is a 1-row
# broadcast; the NOT EXISTS is a left-anti shuffle join against the
# DISTINCT recent-order custkeys (pre-aggregated before the join so
# raw orders never probe). Balance sums are floor-form rounded AFTER
# the sum (q01's contract for double measures). The above-average
# threshold is EXACT integer cross-multiplication on cent values
# (bal_c * n_pos > sum_c ⟺ bal > avg) — a raw double avg(c_acctbal)
# threshold is summation-order-dependent and can flip boundary
# customers between engines; the cross-multiply runs in
# DECIMAL(38,0)/HUGEINT so bal_c * n_pos can't wrap at fleet-scale
# customer counts either.
# ---------------------------------------------------------------------------
@register(
    "q62_idle_customers",
    """
    WITH cb AS (
        SELECT c_custkey, c_nationkey, c_acctbal,
               CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT) AS bal_c
        FROM customer
    ),
    avg_bal AS (
        SELECT CAST(sum(bal_c) AS BIGINT) AS sum_c, count(*) AS n_pos
        FROM cb WHERE c_acctbal > 0.0
    ),
    recent AS (
        SELECT DISTINCT o_custkey FROM orders
        WHERE o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
    )
    SELECT n.n_name, count(*) AS n_custs,
           floor(sum(c.c_acctbal) * 1e2 + 0.5) / 1e2 AS total_bal
    FROM cb c
    CROSS JOIN avg_bal
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE CAST(c.bal_c AS HUGEINT) * avg_bal.n_pos > avg_bal.sum_c
      AND NOT EXISTS (SELECT 1 FROM recent r WHERE r.o_custkey = c.c_custkey)
    GROUP BY n.n_name
    ORDER BY n.n_name
    """,
    "TPC-H Q22-style idle high-balance customers per nation: exact integer above-avg threshold + left-anti join",
)
def q62_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").withColumn(
        "bal_c", F.expr("cast(floor(c_acctbal * 100.0 + 0.5) as bigint)")
    )
    o = table(spark, sf_dir, "orders")
    n = table(spark, sf_dir, "nation")
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        F.sum("bal_c").cast("long").alias("sum_c"),
        F.count(F.lit(1)).alias("n_pos"),
    )
    recent = (
        o.filter(F.col("o_orderdate") >= F.lit("1999-01-01 00:00:00").cast("timestamp"))
        .select("o_custkey")
        .distinct()
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.expr("cast(bal_c as decimal(38,0)) * n_pos > sum_c"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .join(
            F.broadcast(n.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            fround(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# TPC-H Q10 shape (q63): revenue lost to returned items per customer.
# The oracle states the textbook 4-way join then GROUP BY customer;
# the Spark plan is the scale-defensive reassociation — returned-line
# cents pre-aggregated per ORDER key before touching orders (the
# probe side shrinks from line items to orders; exact because BIGINT
# cent sums reassociate freely), then one shuffle to the customer
# key, then broadcast nation. Top-20 under a total order.
# ---------------------------------------------------------------------------
@register(
    "q63_returned_item_revenue",
    """
    SELECT c.c_custkey, c.c_name, n.n_name,
           CAST(sum(CAST(floor(l.l_extendedprice * (1.0 - l.l_discount) * 100.0 + 0.5)
                         AS BIGINT)) AS BIGINT) AS lost_cents,
           count(*) AS n_lines
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY lost_cents DESC, c.c_custkey
    LIMIT 20
    """,
    "TPC-H Q10-style returned-item revenue: per-order pre-agg, customer rollup, broadcast nation, top-20",
)
def q63_returned_item_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    n = table(spark, sf_dir, "nation")
    per_order = (
        li.filter(F.col("l_returnflag") == "R")
        .select(
            "l_orderkey",
            F.expr(
                "cast(floor(l_extendedprice * (1.0 - l_discount) * 100.0 + 0.5) as bigint)"
            ).alias("cents"),
        )
        .groupBy("l_orderkey")
        .agg(
            F.sum("cents").cast("long").alias("order_cents"),
            F.count(F.lit(1)).alias("order_lines"),
        )
    )
    return (
        o.filter(
            (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
        )
        .select("o_orderkey", "o_custkey")
        .join(per_order, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(
            F.sum("order_cents").cast("long").alias("lost_cents"),
            F.sum("order_lines").cast("long").alias("n_lines"),
        )
        .join(
            c.select("c_custkey", "c_name", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(n.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey", "c_name", "n_name", "lost_cents", "n_lines")
        .orderBy(F.col("lost_cents").desc(), "c_custkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# TPC-H Q18 shape (q64): large-volume orders — the HAVING-subquery
# semi-join topology (find orders whose TOTAL line quantity clears a
# threshold, then pull their order/customer context). The quantity
# rollup is a partial+final hash agg whose HAVING filter runs BEFORE
# any join (the probe side shrinks to the rare big orders), so the
# orders/customer joins only ever see survivors. Quantity is exact
# centi-units (DOUBLE l_quantity floor-quantized per row).
# ---------------------------------------------------------------------------
Q64_QTY_THRESHOLD_C = 21000  # 210.00 quantity units, in centi-units


@register(
    "q64_big_orders",
    f"""
    WITH big AS (
        SELECT l_orderkey,
               CAST(sum(CAST(floor(l_quantity * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS qty_c
        FROM lineitem
        GROUP BY l_orderkey
        HAVING sum(CAST(floor(l_quantity * 100.0 + 0.5) AS BIGINT)) > {Q64_QTY_THRESHOLD_C}
    )
    SELECT c.c_name, c.c_custkey, o.o_orderkey,
           CAST(epoch_us(o.o_orderdate) // 86400000000 AS BIGINT) AS order_day,
           floor(o.o_totalprice * 1e2 + 0.5) / 1e2 AS total_price,
           b.qty_c
    FROM big b
    JOIN orders o ON o.o_orderkey = b.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    ORDER BY b.qty_c DESC, o.o_orderkey
    LIMIT 20
    """,
    "TPC-H Q18-style big orders: HAVING-filtered quantity rollup semi-joins into orders/customer, top-20",
)
def q64_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    big = (
        li.select(
            "l_orderkey",
            F.expr("cast(floor(l_quantity * 100.0 + 0.5) as bigint)").alias("qc"),
        )
        .groupBy("l_orderkey")
        .agg(F.sum("qc").cast("long").alias("qty_c"))
        .filter(F.col("qty_c") > Q64_QTY_THRESHOLD_C)
    )
    return (
        big.join(
            o.select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .join(c.select("c_custkey", "c_name"), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.expr("unix_micros(o_orderdate) div 86400000000").cast("long").alias("order_day"),
            fround(F.col("o_totalprice"), 2).alias("total_price"),
            "qty_c",
        )
        .orderBy(F.col("qty_c").desc(), "o_orderkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# TPC-H Q5 shape (q65): local-supplier volume — the cross-chain
# equality topology: lineitem joins BOTH its supplier chain and (via
# orders) its customer chain, and the revenue only counts when the
# two chains land in the SAME nation (c_nationkey = s_nationkey is a
# join predicate between dimensions, not a filter on either alone).
# The fact⋈fact lineitem⋈orders shuffle dominates; supplier/customer
# go through AQE; nation broadcasts. Exact cents.
# ---------------------------------------------------------------------------
@register(
    "q65_local_supplier_volume",
    """
    SELECT n.n_name,
           CAST(sum(CAST(floor(l.l_extendedprice * (1.0 - l.l_discount) * 100.0 + 0.5)
                         AS BIGINT)) AS BIGINT) AS rev_cents,
           count(*) AS n_lines
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE c.c_nationkey = s.s_nationkey
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n.n_name
    ORDER BY rev_cents DESC, n.n_name
    """,
    "TPC-H Q5-style local-supplier revenue: cross-chain nation equality between dimension chains, exact cents",
)
def q65_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    return (
        li.select(
            "l_orderkey",
            "l_suppkey",
            F.expr(
                "cast(floor(l_extendedprice * (1.0 - l_discount) * 100.0 + 0.5) as bigint)"
            ).alias("cents"),
        )
        .join(
            o.filter(
                (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
            ).select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(c.select("c_custkey", "c_nationkey"), F.col("o_custkey") == F.col("c_custkey"))
        .join(s.select("s_suppkey", "s_nationkey"), F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(
            F.broadcast(n.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_name")
        .agg(
            F.sum("cents").cast("long").alias("rev_cents"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy(F.col("rev_cents").desc(), "n_name")
    )


# ---------------------------------------------------------------------------
# TPC-H Q19 shape (q66): the disjunctive multi-predicate join — an OR
# of per-branch conjunctions that each mix PART predicates with
# LINEITEM predicates. Only the disjunction of the part-side halves
# (brand/size) can prune the broadcast dimension; the cross-side
# residual evaluates after the join, and the l_quantity disjunction
# cannot push into the fact scan at all — exactly the shape that
# separates an optimizer's predicate-split from naive post-filtering.
# Exact cents; per-branch line counts out of one pass (FILTER-clause
# aggregates over the same joined rows).
# ---------------------------------------------------------------------------
@register(
    "q66_promo_revenue",
    """
    SELECT CAST(sum(CAST(floor(l.l_extendedprice * (1.0 - l.l_discount) * 100.0 + 0.5)
                         AS BIGINT)) AS BIGINT) AS rev_cents,
           count(*) AS n_lines,
           CAST(sum(CASE WHEN p.p_brand = 'Brand#1' THEN 1 ELSE 0 END) AS BIGINT) AS n_brand1,
           CAST(sum(CASE WHEN p.p_brand = 'Brand#2' THEN 1 ELSE 0 END) AS BIGINT) AS n_brand2
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 20)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 5 AND 40
           AND l.l_quantity BETWEEN 10 AND 35)
    """,
    "TPC-H Q19-style disjunctive predicate join: OR of brand/size x quantity conjunctions over a broadcast part",
)
def q66_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    b1 = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 20)
    )
    b2 = (
        (F.col("p_brand") == "Brand#2")
        & F.col("p_size").between(5, 40)
        & F.col("l_quantity").between(10, 35)
    )
    return (
        li.select(
            "l_partkey",
            "l_quantity",
            F.expr(
                "cast(floor(l_extendedprice * (1.0 - l_discount) * 100.0 + 0.5) as bigint)"
            ).alias("cents"),
        )
        .join(
            # the part-side disjunction (brand IN + size envelope) is
            # explicit so the broadcast build side prunes before the
            # join even when the optimizer doesn't split the OR itself
            F.broadcast(
                p.filter(
                    ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15))
                    | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(5, 40))
                ).select("p_partkey", "p_brand", "p_size")
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .filter(b1 | b2)
        .agg(
            F.sum("cents").cast("long").alias("rev_cents"),
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.when(F.col("p_brand") == "Brand#1", 1).otherwise(0))
            .cast("long")
            .alias("n_brand1"),
            F.sum(F.when(F.col("p_brand") == "Brand#2", 1).otherwise(0))
            .cast("long")
            .alias("n_brand2"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q2 shape (q67): cheapest supplier per part — the
# correlated-MIN-then-join-back topology (Q2's partsupp is emulated
# with per-(part, supplier) average unit price from lineitem). The
# correlation `price = (SELECT min(price) WHERE same part)` is
# expressed as a per-part min-struct aggregate instead of a correlated
# subquery — one hash agg replaces a per-row re-probe, and the struct
# carries the winning supplier through the min so nothing joins back
# at all (the q24/boilerplate-prefix discipline). Unit price is an
# exact integer milli-cent ratio; ties break on the lowest suppkey
# via the struct's field order.
# ---------------------------------------------------------------------------
@register(
    "q67_cheapest_supplier",
    """
    WITH ps AS (
        SELECT l_partkey, l_suppkey,
               CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS cents,
               CAST(sum(CAST(floor(l_quantity * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS qty_c
        FROM lineitem
        GROUP BY l_partkey, l_suppkey
    ),
    priced AS (
        SELECT l_partkey, l_suppkey,
               CAST((cents * 1000 + qty_c // 2) // qty_c AS BIGINT) AS unit_mc
        FROM ps WHERE qty_c > 0
    ),
    best AS (
        SELECT l_partkey,
               min({'unit_mc': unit_mc, 'l_suppkey': l_suppkey}) AS w
        FROM priced
        GROUP BY l_partkey
    )
    SELECT p.p_partkey, p.p_name, s.s_name,
           b.w.unit_mc AS unit_mc
    FROM best b
    JOIN part p ON p.p_partkey = b.l_partkey
    JOIN supplier s ON s.s_suppkey = b.w.l_suppkey
    ORDER BY unit_mc, p.p_partkey
    LIMIT 25
    """,
    "TPC-H Q2-style cheapest supplier per part: correlated min as a min-struct agg, no join-back",
)
def q67_cheapest_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    s = table(spark, sf_dir, "supplier")
    ps = (
        li.select(
            "l_partkey",
            "l_suppkey",
            F.expr("cast(floor(l_extendedprice * 100.0 + 0.5) as bigint)").alias("c"),
            F.expr("cast(floor(l_quantity * 100.0 + 0.5) as bigint)").alias("q"),
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("c").cast("long").alias("cents"), F.sum("q").cast("long").alias("qty_c"))
        .filter(F.col("qty_c") > 0)
        .select(
            "l_partkey",
            "l_suppkey",
            F.expr("(cents * 1000 + qty_c div 2) div qty_c").cast("long").alias("unit_mc"),
        )
    )
    best = ps.groupBy("l_partkey").agg(
        F.min(F.struct(F.col("unit_mc"), F.col("l_suppkey"))).alias("w")
    )
    return (
        best.join(
            F.broadcast(p.select("p_partkey", "p_name")),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .join(
            F.broadcast(s.select("s_suppkey", "s_name")),
            F.col("s_suppkey") == F.col("w.l_suppkey"),
        )
        .select(
            "p_partkey",
            "p_name",
            "s_name",
            F.col("w.unit_mc").alias("unit_mc"),
        )
        .orderBy("unit_mc", "p_partkey")
        .limit(25)
    )


# ---------------------------------------------------------------------------
# TPC-H Q4 shape (q68): order-priority counts over orders with at
# least one late line — the grouped EXISTS topology. The EXISTS
# collapses to a left-semi join against the DISTINCT late order keys
# (pre-aggregated before the join, so lineitem probes orders exactly
# once regardless of how many late lines an order has). Late = the
# q59/q61 60-day contract (this schema has no commit/receipt dates).
# ---------------------------------------------------------------------------
@register(
    "q68_priority_pending",
    """
    SELECT o.o_orderpriority, count(*) AS n_orders
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey
            AND epoch_us(l.l_shipdate) - epoch_us(o.o_orderdate) > 60 * 86400000000
      )
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
    "TPC-H Q4-style priority counts: grouped EXISTS as a left-semi join on distinct late keys",
)
def q68_priority_pending(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    win = o.filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    ).select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    late_keys = (
        li.select("l_orderkey", "l_shipdate")
        .join(
            win.select(F.col("o_orderkey").alias("k"), "o_orderdate"),
            F.col("l_orderkey") == F.col("k"),
        )
        .filter(
            F.unix_micros("l_shipdate") - F.unix_micros("o_orderdate")
            > F.lit(60 * 86400000000)
        )
        .select(F.col("l_orderkey"))
        .distinct()
    )
    return (
        win.join(late_keys, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# TPC-H Q17 shape (q69): small-quantity-order revenue — the correlated
# SCALAR-AGG-in-WHERE topology (`l_quantity < 0.2 * (SELECT avg(...)
# WHERE same part)`). The correlation decorrelates into one per-part
# aggregate joined back; the 0.2x-average comparison is EXACT integer
# cross-multiplication (qty_c * 5 * n < sum_qc ⟺ qty < 0.2 * avg) so
# no float division ever reaches the predicate. One row out.
# ---------------------------------------------------------------------------
@register(
    "q69_small_qty_revenue",
    """
    WITH q AS (
        SELECT l_partkey,
               CAST(floor(l_quantity * 100.0 + 0.5) AS BIGINT) AS qty_c,
               CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS price_c
        FROM lineitem
    ),
    pa AS (
        SELECT l_partkey,
               CAST(sum(qty_c) AS BIGINT) AS sum_qc,
               count(*) AS n
        FROM q GROUP BY l_partkey
    )
    SELECT count(*) AS n_lines,
           CAST(sum(q.price_c) AS BIGINT) AS rev_cents
    FROM q
    JOIN pa ON pa.l_partkey = q.l_partkey
    WHERE q.qty_c * 5 * pa.n < pa.sum_qc
    """,
    "TPC-H Q17-style small-quantity revenue: correlated scalar avg decorrelated, exact integer 0.2x-avg predicate",
)
def q69_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    q = li.select(
        "l_partkey",
        F.expr("cast(floor(l_quantity * 100.0 + 0.5) as bigint)").alias("qty_c"),
        F.expr("cast(floor(l_extendedprice * 100.0 + 0.5) as bigint)").alias("price_c"),
    )
    pa = q.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum("qty_c").cast("long").alias("sum_qc"),
        F.count(F.lit(1)).alias("n"),
    )
    return (
        q.join(pa, F.col("l_partkey") == F.col("pk"))
        .filter(F.col("qty_c") * 5 * F.col("n") < F.col("sum_qc"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum("price_c").cast("long").alias("rev_cents"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q14 shape (q70): promo revenue share — the conditional-share
# ratio over a broadcast dimension join: what fraction of one month's
# revenue came from promo-class parts. Numerator and denominator come
# out of the SAME pass (conditional sum vs total sum of exact cents);
# the share quantizes through the integer round-half-up form, so no
# float division order can flip the hashed output. The share arithmetic
# runs in DECIMAL(38,0)/HUGEINT (share_expr/share_sql): int64
# promo_cents * 20000 wraps past ~4.6e14 cents of windowed revenue
# (~TPC-H sf600) on the Spark side while DuckDB's HUGEINT stays exact —
# the widening keeps both surfaces identical at fleet scale, and the
# zero guard makes an empty window NULL on both instead of
# error-vs-NULL.
# ---------------------------------------------------------------------------
@register(
    "q70_promo_share",
    f"""
    WITH j AS (
        SELECT CAST(floor(l.l_extendedprice * (1.0 - l.l_discount) * 100.0 + 0.5) AS BIGINT) AS cents,
               CASE WHEN p.p_type LIKE 'SMALL%' THEN 1 ELSE 0 END AS is_promo
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE l.l_shipdate >= TIMESTAMP '1997-06-01 00:00:00'
          AND l.l_shipdate < TIMESTAMP '1997-09-01 00:00:00'
    )
    SELECT CAST(sum(CASE WHEN is_promo = 1 THEN cents ELSE 0 END) AS BIGINT) AS promo_cents,
           CAST(sum(cents) AS BIGINT) AS total_cents,
           {share_sql("promo_cents", "total_cents")} AS promo_share_e4
    FROM j
    """,
    "TPC-H Q14-style promo revenue share: conditional + total cents in one pass, exact e4 share",
)
def q70_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    j = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-06-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-09-01 00:00:00").cast("timestamp"))
        )
        .select(
            "l_partkey",
            F.expr(
                "cast(floor(l_extendedprice * (1.0 - l_discount) * 100.0 + 0.5) as bigint)"
            ).alias("cents"),
        )
        .join(
            F.broadcast(
                p.select(
                    "p_partkey",
                    F.when(F.col("p_type").startswith("SMALL"), 1)
                    .otherwise(0)
                    .alias("is_promo"),
                )
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
    )
    return j.agg(
        F.sum(F.when(F.col("is_promo") == 1, F.col("cents")).otherwise(0))
        .cast("long")
        .alias("promo_cents"),
        F.sum("cents").cast("long").alias("total_cents"),
    ).select(
        "promo_cents",
        "total_cents",
        share_expr("promo_cents", "total_cents").alias("promo_share_e4"),
    )
