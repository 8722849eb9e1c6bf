"""Physical-plan regression tests: the properties that matter at 100 TB
must hold in the compiled plan, not just in intent — dimension joins
broadcast, scans prune columns and push filters into parquet, the log
reader stays a narrow (shuffle-free) whole-stage-codegen'd pipeline,
and aggregations keep their map-side partial phase."""

import re

import duckdb_httpd_log_spark.operators  # noqa: F401
from duckdb_httpd_log_spark import read_httpd_log
from duckdb_httpd_log_spark.plans.metrics import executed_plan
from duckdb_httpd_log_spark.plans.registry import REGISTRY

from .conftest import data

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_join_agg_broadcasts_dimensions(spark):
    plan = _plan(REGISTRY["q08_join_agg"].spark_fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # dims must never shuffle the fact side


def test_pricing_summary_prunes_and_pushes(spark):
    plan = _plan(REGISTRY["q01_pricing_summary"].spark_fn(spark, SF_DIR))
    # column pruning: only the 6 referenced lineitem columns reach the scan
    m = re.search(r"FileScan parquet \[([^\]]*)\]", plan)
    assert m, plan
    read_cols = {c.split("#")[0] for c in m.group(1).split(",") if c}
    assert read_cols == {
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_returnflag",
        "l_linestatus",
        "l_shipdate",
    }
    # predicate pushdown into the parquet scan
    assert re.search(r"PushedFilters: \[.*LessThanOrEqual\(l_shipdate", plan)
    # partial+final hash aggregation (map-side combine before the shuffle)
    assert plan.count("HashAggregate") >= 2


def test_log_reader_fast_path_is_narrow(spark):
    df = read_httpd_log(spark, data("common", "sample.log"))
    plan = _plan(df)
    assert "Exchange" not in plan  # parse pipeline must not shuffle
    # '*(1)' = whole-stage-codegen stage marker in the plan tree
    assert plan.lstrip().startswith("*(")
    # the line regex (over the scanned `value` column) must appear ONCE
    # in the plan (materialization barrier): filter + N-column projection
    # share a single execution — without it CollapseProject /
    # PushDownPredicate inline the regexp into every consumer. (The
    # other regexp_replace in the plan is the file-URI normalizer.)
    assert plan.count("regexp_replace(value#") == 1
    # no CASE WHEN ok guard over the typed columns: the match-ok
    # predicate (its size(__m) part count) sits in the drop-unparsed
    # Filter only
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert opt.count("size(__m#") == 1
    assert "CASE WHEN ((substring(element_at(__m#" not in opt

    # a pushed-down filter: the barrier wraps the SPLIT match, so the
    # drop-unparsed Filter and the Project share one split per line, and
    # one line Filter under the barrier carries the empty-line check and
    # the needles
    from pyspark.sql import functions as F

    pushed = read_httpd_log(spark, data("common", "sample.log")).filter(
        F.col("path") == "/index.html")
    opt = pushed._jdf.queryExecution().optimizedPlan().toString().splitlines()
    text = "\n".join(opt)
    assert text.count("split(regexp_replace(value#") == 1
    assert text.count("regexp_replace(value#") == 1
    barrier = [i for i, ln in enumerate(opt) if "Generate " in ln]
    line_filters = [i for i, ln in enumerate(opt) if "Filter" in ln and "value#" in ln]
    assert len(barrier) == 1
    assert "Generate explode(array(split(regexp_replace(value#" in opt[barrier[0]]
    assert len(line_filters) == 1 and line_filters[0] > barrier[0]
    assert "length(value#" in opt[line_filters[0]]
    assert "Contains(value#" in opt[line_filters[0]]
    assert pushed.count() == 1


def test_raw_mode_parses_once_and_numbers_lines_only_when_read(spark, tmp_path):
    # raw mode shares the fast path's barrier: the parse_error Filter,
    # the %r token column and the typed Projection run one line regex.
    # line_number's offsets come from a left outer join Catalyst drops
    # when line_number is unread: no second scan, aggregate or join, and
    # the write runs as one Spark job
    from pyspark.sql import functions as F

    from duckdb_httpd_log_spark import write_httpd_log

    raw = read_httpd_log(spark, data("common", "with_errors.log"), raw=True)
    good = raw.filter(~F.col("parse_error"))
    curated = good.drop("line_number")
    opt = curated._jdf.queryExecution().optimizedPlan().toString().splitlines()
    text = "\n".join(opt)
    assert text.count("regexp_replace(line#") == 1
    assert len([ln for ln in opt if "Generate " in ln]) == 1
    assert "Join" not in text and "Aggregate" not in text

    sc = spark.sparkContext
    sc.setJobGroup("raw_curate_write", "raw curate write")
    try:
        write_httpd_log(curated, str(tmp_path / "out"), format_type="common")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("raw_curate_write")) == 1

    numbered = good._jdf.queryExecution().optimizedPlan().toString()
    assert "Join LeftOuter" in numbered
    assert numbered.count("regexp_replace(line#") == 1
    assert [r.line_number for r in good.orderBy("line_number").collect()] == [1, 3, 5]


def test_exact_dedup_has_partial_agg(spark):
    plan = _plan(REGISTRY["dedup_exact"].spark_fn(spark, SF_DIR))
    # partial_min/partial_count before the exchange = map-side combine
    assert "partial_" in plan


def test_range_join_is_hash_not_nested_loop(spark):
    plan = _plan(REGISTRY["q09_range_join"].spark_fn(spark, SF_DIR))
    assert "NestedLoop" not in plan  # bin-bucketed equi-join, not O(n^2)


def test_topk_uses_take_ordered(spark):
    plan = _plan(REGISTRY["q03_topk"].spark_fn(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan  # no full sort for ORDER BY+LIMIT


def test_string_agg_broadcasts_region(spark):
    plan = _plan(REGISTRY["q32_string_agg"].spark_fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_repetition_signals_are_shuffle_free(spark):
    # all within-row array math: a single scan, no exchange before the
    # final presentation sort
    plan = _plan(REGISTRY["text_repetition"].spark_fn(spark, SF_DIR))
    assert plan.count("FileScan parquet") == 1
    assert "Exchange hashpartitioning" not in plan


def test_unpivot_adds_no_extra_shuffle(spark):
    # the melt is per-row stack(): exactly the aggregate's one exchange
    plan = _plan(REGISTRY["q31_unpivot"].spark_fn(spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 1


def test_dedup_embedding_verify_broadcasts_by_stats_not_hint(spark):
    # The exact-cosine verify joins carry NO broadcast hint (a forced
    # hint would build the full corpus table on every executor at any
    # scale); at test scale Catalyst must still choose broadcast on its
    # own from the parquet size stats, proving the plan degrades to a
    # shuffle join — rather than falling over — once the table outgrows
    # spark.sql.autoBroadcastJoinThreshold.
    df = REGISTRY["dedup_embedding"].spark_fn(spark, SF_DIR)
    assert "ResolvedHint" not in df._jdf.queryExecution().analyzed().toString()
    assert "BroadcastHashJoin" in _plan(df)


def test_rolling_revenue_windows_over_aggregate(spark):
    # the RANGE window must consume the per-day aggregate (tiny), with
    # partial+final agg below it
    plan = _plan(REGISTRY["q30_rolling_revenue"].spark_fn(spark, SF_DIR))
    assert plan.count("HashAggregate") >= 2
    assert "Window" in plan


def test_market_share_broadcasts_all_dims(spark):
    # five-table star join: every dimension hop (orders->customer->
    # nation->region) must broadcast; the lineitem fact side shuffles
    # only for the final group-by
    plan = _plan(REGISTRY["q42_market_share"].spark_fn(spark, SF_DIR))
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 4


def test_bpe_explodes_vocabulary_not_token_stream(spark):
    # the char-pair Generate must sit ABOVE the word-count aggregate
    # (vocab-sized input), not over the raw token stream: at corpus
    # scale the vocab is orders of magnitude smaller than the stream
    plan = _plan(REGISTRY["bpe_merge_step"].spark_fn(spark, SF_DIR))
    gen_positions = [i for i, l in enumerate(plan.splitlines()) if "Generate" in l]
    agg_positions = [i for i, l in enumerate(plan.splitlines()) if "HashAggregate" in l]
    # two Generates (token split, char pairs); the char-pair one must be
    # downstream (printed above) at least one aggregate
    assert len(gen_positions) == 2
    assert min(gen_positions) < max(agg_positions)
    assert "TakeOrderedAndProject" in plan  # top-30 never global-sorts


def test_quantize_broadcasts_dim_stats(spark):
    # the per-dim stats table (DIM rows) must broadcast back onto the
    # exploded values — a shuffle join here would move the full corpus
    plan = _plan(REGISTRY["embedding_quantize"].spark_fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_date_fill_spine_from_single_aggregate(spark):
    # the day spine is sequence() exploded from ONE aggregate row —
    # no driver round-trip — and joins the daily agg via broadcast
    plan = _plan(REGISTRY["q45_date_fill"].spark_fn(spark, SF_DIR))
    assert "explode(sequence(" in plan
    assert "BroadcastHashJoin" in plan


def test_tfidf_pairs_materializes_weights_once(spark):
    # the df-capped weight table feeds norms AND both pair-join sides;
    # the pin must collapse the plan to one scan chain per derivation
    # (unpinned: 12 parquet scans / 38 aggregates)
    plan = executed_plan(REGISTRY["corpus_tfidf_pairs"].spark_fn(spark, SF_DIR))
    assert plan.count("FileScan parquet") <= 3
    assert "TakeOrderedAndProject" in plan  # top-k, not a global sort
    assert "SortMergeJoin" not in plan


def test_pq_topk_scan_and_join_shape(spark):
    # codes + query distance table both derive from ONE pinned distance
    # aggregate, which runs once; the exact-refine stage re-reads the
    # corpus for the two embedding sides but never sort-merges —
    # candidates and queries broadcast (unpinned: 10 parquet scans)
    plan = executed_plan(REGISTRY["ann_pq_topk"].spark_fn(spark, SF_DIR))
    assert plan.count("FileScan parquet") <= 8
    assert "SortMergeJoin" not in plan


def test_moments_single_pass(spark):
    # all four power sums come from ONE partial+final hash agg pair —
    # no second pass over events, no window
    plan = _plan(REGISTRY["q51_moments"].spark_fn(spark, SF_DIR))
    assert plan.count("FileScan parquet") == 1
    assert plan.count("HashAggregate") == 2
    assert "Window" not in plan


def test_winnowing_windows_per_doc(spark):
    # the window-min partitions by doc_id (doc-sized partitions), never
    # a global single-partition window
    plan = _plan(REGISTRY["text_winnowing"].spark_fn(spark, SF_DIR))
    assert "Window" in plan
    import re as _re

    for m in _re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "doc_id" in m.group(1)


def test_two_phase_rank_ops_partition_local(spark):
    # these rank/quantile ops must compile through the distrank
    # two-phase path (partition-local windows + __pid offsets), never a
    # bare global window over the customer/order/user dimension. At
    # test scale the r10 size-adaptive dispatch would (correctly) pick
    # the naive window, so the scale path is forced via its conf — this
    # pin is about the SHAPE available at scale, not the local choice.
    spark.conf.set("spark.graft.distrank.naiveMaxBytes", "0")
    try:
        for name in [
            "orders_pareto",
            "events_activity_gini",
            "q49_equidepth_histogram",
            "q44_rfm",
            "orders_abc_analysis",
            "orders_rfm_migration",
            "events_power_users_share",
            "events_value_deciles",
            # r5: the last two dimension-sized global windows (r4 verdict #5)
            "events_session_stats",
            "orders_customer_lifespan",
        ]:
            plan = executed_plan(REGISTRY[name].spark_fn(spark, SF_DIR))
            assert "pid" in plan, name
    finally:
        spark.conf.unset("spark.graft.distrank.naiveMaxBytes")


def test_distrank_two_phase_physical_shape(spark, tmp_path):
    """r10 pin: the forced two-phase rank must show the pinned-bounds
    shape — NO range exchange (the r9 repartitionByRange is gone), NO
    lineage truncation (the counts pass and the final pass each scan
    the input), a broadcast offsets join, and the window's hash
    exchange."""
    from duckdb_httpd_log_spark.operators.distrank import with_grouped_rank
    from pyspark.sql import functions as F

    p = str(tmp_path / "t.parquet")
    spark.createDataFrame(
        [((None if i % 7 == 0 else f"g{i % 3}"), i, (i * 37) % 11) for i in range(400)],
        "g string, k long, v long",
    ).write.parquet(p)
    df = spark.read.parquet(p)
    spark.conf.set("spark.graft.distrank.naiveMaxBytes", "0")
    try:
        out = with_grouped_rank(spark, df, ["g"], [F.col("v"), F.col("k")])
        out.count()
        plan = out._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.unset("spark.graft.distrank.naiveMaxBytes")
    assert "rangepartitioning" not in plan.lower()
    assert plan.count("FileScan parquet") == 2
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "Exchange hashpartitioning" in plan


def test_r11_ops_plan_shapes(spark):
    """r11 pins: gopher rules are pure projection (no exchange at all);
    repetition filter is explode -> ONE hash-agg exchange chain;
    oov_rate broadcasts the bounded vocab (never a shuffle join of
    tokens x vocab); retention cohort broadcasts cohort sizes."""
    plan = _plan(REGISTRY["text_gopher_rules"].spark_fn(spark, SF_DIR))
    assert "Exchange hashpartitioning" not in plan  # per-row math only

    plan = _plan(REGISTRY["text_repetition_filter"].spark_fn(spark, SF_DIR))
    assert "Generate explode" in plan and "HashAggregate" in plan

    plan = _plan(REGISTRY["text_oov_rate"].spark_fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan

    plan = _plan(REGISTRY["orders_retention_cohort"].spark_fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan


def test_r12_ops_plan_shapes(spark):
    """r12 pins: global shuffle compiles through distrank's two-phase
    shape at scale (never a single-task global window); DSIR joins the
    token stream to the ratio table with the small constant broadcast;
    MSTTR is indexed-explode -> two hash-agg chains; k-anonymity is ONE
    hash agg with no join; lag-autocorr joins only the bounded day
    spine (broadcast)."""
    spark.conf.set("spark.graft.distrank.naiveMaxBytes", "0")
    try:
        plan = executed_plan(REGISTRY["corpus_global_shuffle"].spark_fn(spark, SF_DIR))
        assert "pid" in plan
    finally:
        spark.conf.unset("spark.graft.distrank.naiveMaxBytes")

    plan = _plan(REGISTRY["text_dsir_weights"].spark_fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan  # the 1-row constant c_e6
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan

    plan = _plan(REGISTRY["text_msttr"].spark_fn(spark, SF_DIR))
    assert "Generate posexplode" in plan and "HashAggregate" in plan
    assert "SortMergeJoin" not in plan

    plan = _plan(REGISTRY["docs_k_anonymity"].spark_fn(spark, SF_DIR))
    assert "HashAggregate" in plan
    assert "Join" not in plan

    plan = _plan(REGISTRY["events_lag_autocorr"].spark_fn(spark, SF_DIR))
    assert "SortMergeJoin" not in plan  # day spine stays broadcast


def test_request_tokens_split_once(spark):
    # the %r whitespace split is projected as its own intermediate
    # column (reader._projection), so a multi-subcolumn select runs it
    # ONCE per row — codegen CSE does not hoist it out of the CASE WHEN
    # branches, and CollapseProject must not inline the non-cheap
    # producer back into its 3 consumers (r13 writer-pipeline profile:
    # inlining cost +1.1 s / 2M lines)
    df = read_httpd_log(spark, data("common", "sample.log"), format_type="common")
    multi = (
        df.select("method", "path", "protocol")
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert multi.count("split(ltrim(") == 1
    # single-subcolumn selects collapse back to one Project (referenced
    # once -> inlining is the better plan); either way exactly one split
    single = df.select("path")._jdf.queryExecution().optimizedPlan().toString()
    assert single.count("split(ltrim(") == 1


def test_r14_pca_and_eval_pins_collapse_fanout(spark):
    # r14 fan-out pins: tiny frames referenced 2-3x (the 1-row max-abs
    # global, the DIM-row power vectors, minhash_eval's exact/cands
    # pair frames, triangle count's degree table) are pinned so
    # Catalyst stops re-deriving the full upstream subtree per
    # reference. Unpinned, emb_pca_power_train runs 49 parquet scans /
    # 97 Exchanges, emb_pca_power_step 13 / 25 and dedup_minhash_eval
    # 24 / 71; pinned, each corpus scan runs once and the plan is the
    # linear chain the algorithm is.
    for name, max_scans, max_exchanges in [
        ("emb_pca_power_train", 3, 19),
        ("emb_pca_power_step", 3, 14),
        ("dedup_minhash_eval", 2, 18),
    ]:
        plan = executed_plan(REGISTRY[name].spark_fn(spark, SF_DIR))
        assert plan.count("Scan parquet") <= max_scans, name
        assert plan.count("Exchange") <= max_exchanges, (name, plan.count("Exchange"))


def test_r14_arrow_kernels_evaluate_once(spark):
    # r14 guide-4.4 pins: a Filter referencing a Python-UDF column (the
    # cosine threshold; the bucket join's implicit isnotnull) otherwise
    # gets pushed below the projection and Catalyst re-evaluates the
    # kernel on BOTH sides — every row paid the Arrow round-trip twice.
    # The kernels are marked nondeterministic (they are pure; the marker
    # only pins one evaluation), so each plan carries exactly the
    # semantically-required ArrowEvalPython nodes:
    #   dedup_embedding: 1 signature pass + 1 cosine verify = 2
    #   ann_*_topk / radius / knn_graph: corpus-side + query-side
    #     bucket/cell assignment + 1 cosine = 3
    for name, want in [
        ("dedup_embedding", 2),
        ("ann_lsh_topk", 3),
        ("ann_ivf_topk", 3),
        ("ann_radius_search", 3),
        ("ann_knn_graph", 3),
        ("ann_lsh_trained_topk", 3),
    ]:
        plan = executed_plan(REGISTRY[name].spark_fn(spark, SF_DIR))
        n = plan.count("ArrowEvalPython")
        assert n <= want, f"{name}: {n} ArrowEvalPython nodes (want <= {want})"


def test_r14_jaccard_verify_intersects_once(spark):
    # r14: the Jaccard threshold filter must not be pushed into the join
    # condition — there size(array_intersect(..)) is evaluated twice in
    # the condition plus once in the projection per candidate pair. The
    # barrier around n_shared pins a single evaluation.
    for name in ("dedup_minhash_lsh", "dedup_jaccard_prefix"):
        plan = _plan(REGISTRY[name].spark_fn(spark, SF_DIR))
        assert plan.count("array_intersect") == 1, name


def test_r14_label_propagation_final_plan_is_window_only(spark):
    # r14 LP shape: cluster sizes come from a count window over the
    # label partition, not a groupBy + join back — the old form paid a
    # SortMergeJoin of two unknown-stats ExistingRDD frames per call.
    for name in ("dedup_clusters", "dedup_semantic_clusters"):
        plan = _plan(REGISTRY[name].spark_fn(spark, SF_DIR))
        assert "SortMergeJoin" not in plan, name
        assert "Window" in plan, name


def test_r15_fanout_pins_collapse_scans(spark):
    # r15 fan-out pins (verdict item 1 + the text family): frames
    # consumed 2-3x (the outlier filter's m/cen/dist, the funnel
    # cascade's v/c/counts, the text ops' tokenized projections) are
    # pinned so Catalyst stops re-deriving the full corpus subtree per
    # reference. Unpinned, they run 3-18 parquet scans each (emb_outlier
    # 9 / 20 Exchanges, funnel_dropoff 18 / 38, lm_score 3, dsir 3,
    # heaps_law 4) and their cost depends on AQE's runtime
    # ReusedExchange rescue.
    for name, max_scans, max_exchanges in [
        ("emb_outlier_filter", 3, 12),
        ("events_funnel_dropoff", 3, 11),
        ("text_lm_score", 1, 14),
        ("text_dsir_weights", 2, 12),
        ("text_heaps_law", 2, 18),
    ]:
        plan = executed_plan(REGISTRY[name].spark_fn(spark, SF_DIR))
        n_scans = plan.count("FileScan parquet")
        assert n_scans <= max_scans, f"{name}: {n_scans} parquet scans"
        n_ex = plan.count("Exchange")
        assert n_ex <= max_exchanges, f"{name}: {n_ex} Exchanges"


def test_r15_funnel_latency_uses_cache_substitution(spark):
    # events_funnel_latency and q17_funnel pin v/c(/lat). A pin keeps
    # plan stats (a stats-less checkpoint made join estimates explode,
    # measured 250 PB, and flipped with_grouped_rank's naive/two-phase
    # dispatch: A/B 1.0 -> 2.1 s on the latency query) and the CacheManager
    # substitutes every reference with one InMemoryRelation. So the events
    # cascade runs once: one events scan per pinned stage. Unpinned, the
    # latency query runs 8 scans / 15 Exchanges and q17 6 / 11.
    for name, max_exchanges in [("events_funnel_latency", 12), ("q17_funnel", 8)]:
        plan = executed_plan(REGISTRY[name].spark_fn(spark, SF_DIR))
        assert plan.count("FileScan parquet") <= 3, name
        assert plan.count("Exchange") <= max_exchanges, (name, plan.count("Exchange"))
