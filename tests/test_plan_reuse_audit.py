"""Detector semantics of tools/plan_reuse_audit.py — the round-close
gate step that flags unpinned fan-out duplicates of expensive subplans.
These pin the three behaviors the r13 calibration established:

1. a LINEAR CHAIN of semantically-identical nodes (the analyzer stacks
   a same-output Project on its own child under windows) is ONE
   execution — never a finding;
2. a FAN-OUT of a Join/Window-bearing frame into divergent consumers IS
   a finding — and pinning it clears it;
3. identical copies that Catalyst rescues at runtime (ReusedExchange)
   are not reported.
"""

import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, __file__.rsplit("/tests/", 1)[0])

from duckdb_httpd_log_spark.operators import pins  # noqa: E402
from tools.plan_reuse_audit import candidates, runtime_rescued  # noqa: E402


@pytest.fixture(scope="module")
def orders(spark):
    return spark.read.parquet("/root/testdata/sf0.001/orders.parquet")


@pytest.fixture(scope="module")
def lineitem(spark):
    return spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")


def test_window_chain_is_not_a_finding(spark, orders):
    # single consumer of a window frame: the analyzer's stacked
    # same-output Projects form a chain, which executes once
    from pyspark.sql.window import Window

    w = Window.partitionBy("o_custkey").orderBy("o_orderdate")
    out = (
        orders.select("o_custkey", "o_totalprice", F.row_number().over(w).alias("rn"))
        .filter("rn = 1")
        .select("o_custkey", "o_totalprice")
    )
    assert candidates(out) == []


def test_unpinned_join_fanout_flags_and_pin_clears(spark, orders, lineitem):
    @pins.owned  # the returned frame owns the pin, as a registered query's does
    def build(pin: bool):
        j = (
            lineitem.select("l_orderkey", "l_quantity")
            .join(
                orders.select("o_orderkey", "o_custkey"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .groupBy("o_custkey")
            .agg(F.sum("l_quantity").alias("q"))
        )
        if pin:
            j = pins.pin(j)
        hi = j.filter(F.col("q") > 100).select("o_custkey", F.col("q").alias("hi_q"))
        lo = j.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n")).select(
            F.col("o_custkey").alias("c2"), "n"
        )
        return hi.join(lo, F.col("o_custkey") == F.col("c2"), "full")

    # stage 1 flags the analyzed-plan fan-out of a Join-bearing frame...
    found = candidates(build(pin=False))
    assert found and found[0]["copies"] >= 2
    # ...and stage 2 is what keeps it honest: THIS shape's copies stay
    # canonical-identical through optimization, so Catalyst reuses the
    # exchange at runtime and no finding is reported (the real-defect
    # class — q61 pre-fix — diverges under pushdown and shows no reuse;
    # its regression pin is test_fixed_registry_queries_stay_clean)
    rescued, counts = runtime_rescued(build(pin=False))
    assert rescued and counts.get("ReusedExchange", 0) >= 1
    assert candidates(build(pin=True)) == []  # InMemoryRelation hides the join


@pytest.mark.parametrize(
    "name",
    [
        "q61_waiting_suppliers",
        "dedup_winnow_pairs",
        "q48_rank_distributions",
        "events_time_weighted_avg",
        "dedup_cdc_chunks",
        "emb_split_centroid_shift",
        "orders_open_backlog",
    ],
)
def test_fixed_registry_queries_stay_clean(spark, name):
    # the seven r13 plan fixes: each query's analyzed plan must show no
    # unpinned expensive fan-out (the pins are load-bearing — removing
    # one reintroduces the silent 2-4x double-compute the r12 judge
    # found by hand)
    from duckdb_httpd_log_spark.plans.registry import REGISTRY
    import duckdb_httpd_log_spark.operators  # noqa: F401

    df = REGISTRY[name].spark_fn(spark, "/root/testdata/sf0.001")
    assert candidates(df) == []


def test_identical_agg_fanout_is_runtime_rescued(spark, orders):
    agg = orders.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("s"))
    a = agg.select(F.col("o_custkey").alias("k"), F.col("s").alias("sa"))
    b = agg.select(F.col("o_custkey").alias("k"), F.col("s").alias("sb"))
    out = a.join(b, "k").filter(F.col("sa") > F.col("sb") * 0.5)
    # aggregate-only duplicates are excluded from candidates by design
    # (narrow re-scan aggs are often cheaper than a pin), and even when
    # executed, Catalyst reuses the identical exchange
    assert candidates(out) == []
    rescued, counts = runtime_rescued(out)
    assert rescued and counts.get("ReusedExchange", 0) >= 1
