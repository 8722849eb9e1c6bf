"""Per-query profiler: plan capture plus isolated noop-sink timing.

For each named registry query (default: the TOP set below, the board's
slowest ones) it
  - writes .explain("formatted") to <out_dir>/<name>_<tag>.txt;
  - times the computation against the noop sink, so the measurement
    excludes the driver-side result pull, through bench._timed (warm-up,
    median of bench.N_RUNS, spike guard, pins released before each run);
  - labels the query's jobs via setJobDescription;
and writes the medians and plan-shape counts to
<out_dir>/profile_<tag>.json.

Usage: python tools/profile_queries.py <out_dir> <tag> [query ...]
  tag names the run, e.g. 'before' or 'after'.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import _timed  # noqa: E402

TOP = [
    "kmeans_train",
    "dedup_semantic_clusters",
    "corpus_tfidf_pairs",
    "dedup_clusters",
    "dedup_jaccard_prefix",
    "dedup_threshold_curve",
    "pipeline_dedup_account",
    "dedup_keep_best",
    "dedup_minhash_eval",
    "dedup_minhash_lsh",
    "emb_threshold_curve",
    "dedup_embedding",
    "dedup_ngram_jaccard",
    "dedup_text_knn",
    "dedup_cross_split_near",
    "kmeans_update_step",
    "emb_pca_power_train",
    "text_ccnet_bucket",
    "dedup_containment",
    "graph_triangle_count",
    "basket_rules",
    "bpe_train",
    "bpe_vocab_stats",
]

def main() -> None:
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    out_dir, tag = sys.argv[1], sys.argv[2]
    names = sys.argv[3:] or TOP
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))

    from duckdb_httpd_log_spark import get_spark
    import duckdb_httpd_log_spark.operators  # noqa: F401
    from duckdb_httpd_log_spark.plans.registry import REGISTRY

    spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(out_dir, exist_ok=True)

    results: dict[str, dict] = {}
    for name in names:
        qd = REGISTRY.get(name)
        if qd is None:
            print(f"{name}: NOT IN REGISTRY", flush=True)
            continue
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            qd.spark_fn(spark, sf_dir).explain("formatted")
        plan = buf.getvalue()
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as fh:
            fh.write(plan)

        spark.sparkContext.setJobDescription(f"profile {tag}: {name}")
        med, ts = _timed(
            lambda: qd.spark_fn(spark, sf_dir).write.format("noop").mode("overwrite").save(),
            guard=True,
        )
        spark.sparkContext.setJobDescription(None)
        results[name] = {
            "noop_median_s": med,
            "min_s": round(ts[0], 4),
            "exchanges": plan.count("Exchange"),
            "scans": plan.count("Scan parquet"),
            "arrow_eval": plan.count("ArrowEvalPython"),
            "batch_eval": plan.count("BatchEvalPython"),
            "smj": plan.count("SortMergeJoin"),
            "bhj": plan.count("BroadcastHashJoin"),
            "shj": plan.count("ShuffledHashJoin"),
        }
        print(f"{name}: {json.dumps(results[name])}", flush=True)

    with open(os.path.join(out_dir, f"profile_{tag}.json"), "w") as fh:
        json.dump(results, fh, indent=1)
        fh.write("\n")


if __name__ == "__main__":
    main()
