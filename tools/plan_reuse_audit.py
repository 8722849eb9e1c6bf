"""Plan-reuse audit: flag registry queries that EXECUTE an expensive
derived subplan more than once with nothing pinning or reusing it.

The defect class (r12 verdict: q61_waiting_suppliers re-ran its
lineitem x orders join+agg, dedup_winnow_pairs re-derived its
fingerprint frame ~4x): a DataFrame built from joins/windows fans out
to several consumers; each consumer pushes DIFFERENT filters or
projections into its copy during optimization, so Catalyst's exchange
reuse never fires and the expensive subtree executes once per
consumer. Value-correct, silently 2-4x the cost — the oracle sweep,
dtype audit and rehearsal ceilings all pass over it, which is exactly
why it needs its own gate step.

Two stages, because neither alone is sound:

1. CANDIDATES from the analyzed plan with cached data substituted
   (``withCachedData``: pre-pushdown, where the fanned-out copies are
   still literally identical): every subtree keyed by Catalyst's own
   ``semanticHash()``; a key seen >= 2 whose subtree contains a Join /
   Window / Arrow-Python map is a candidate. A pinned frame appears as
   an InMemoryRelation leaf, so pinned frames never flag — the fix is
   also what turns the gate green. Aggregate/Deduplicate-only duplicates are NOT candidates:
   the duplicate re-scans with its own (usually narrower) projection,
   frequently cheaper than materializing a pin, and identical copies
   are reliably rescued by exchange reuse anyway.

2. RUNTIME CONFIRMATION: execute the candidate (sf0.001) and inspect
   the FINAL adaptive physical plan. If it contains a ReusedExchange
   (Catalyst deduplicated the identical copies at the exchange) or a
   TableCache/InMemory scan (a persist covers it), the candidate is
   RESCUED and not reported. Divergent copies show neither — each
   runs. Note divergence is sometimes a deliberate optimizer WIN
   (WindowGroupLimit pushes rank predicates below each copy's
   exchange, shrinking both shuffles below the single pinned
   window's); that judgment is per-query, which is what ALLOWLIST
   dispositions record after a bench A/B.

    python tools/plan_reuse_audit.py [sf_dir] [query ...]

Exit 1 when any non-allowlisted CONFIRMED finding exists. Summary JSON
to $PLAN_REUSE_SUMMARY when set.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_EXPENSIVE = {
    "Join",
    "Window",
    "FlatMapGroupsInPandas",
    "MapInPandas",
    "FlatMapGroupsInPandasWithState",
    "CoGroup",
}

# name -> one-line disposition after a bench A/B or plan inspection;
# contract mirrors bench_full.json's duckdb_over2x dispositions. The
# default for a NEW finding is "pin it" — only a measured reason
# (pinned variant slower, or the duplicate is the optimizer's own
# group-limit split) earns an entry here.
ALLOWLIST: dict[str, str] = {}
_ALLOWLIST_PATH = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "plan_reuse_allowlist.json"
)
if os.path.exists(_ALLOWLIST_PATH):
    with open(_ALLOWLIST_PATH) as _f:
        ALLOWLIST = json.load(_f)


def _walk_logical(node, acc, counter):
    """Collect (semanticHash, has_expensive, n_nodes, nodeName, enter,
    exit) for every subtree (pre-order enter / post-order exit indices
    give an ancestor test by interval containment); returns
    (has_expensive, n_nodes)."""
    name = node.nodeName()
    enter = counter[0]
    counter[0] += 1
    n = node.children().size()
    exp = name in _EXPENSIVE
    size = 1
    for i in range(n):
        ce, cs = _walk_logical(node.children().apply(i), acc, counter)
        exp = exp or ce
        size += cs
    try:  # subquery expressions hide whole plans inside expressions
        it = node.subqueries().iterator()
        while it.hasNext():
            ce, cs = _walk_logical(it.next(), acc, counter)
            exp = exp or ce
            size += cs
    except Exception:
        pass
    acc.append((node.semanticHash(), exp, size, name, enter, counter[0]))
    counter[0] += 1
    return exp, size


def candidates(df) -> list[dict]:
    """Largest duplicated expensive analyzed subtrees (nested duplicates
    suppressed — pinning the outermost pins them all). Same-hash nodes
    on one ancestor chain count ONCE: the analyzer routinely stacks a
    semantically-identical Project on its own child (e.g.
    ExtractWindowExpressions), and a linear chain executes once — only
    FAN-OUT copies (neither an ancestor of the other) re-execute."""
    plan = df._jdf.queryExecution().withCachedData()
    acc: list = []
    _walk_logical(plan, acc, [0])
    by_hash: dict = {}
    for h, exp, size, name, enter, exit_ in acc:
        rec = by_hash.setdefault(
            h, {"spans": [], "exp": exp, "size": size, "name": name}
        )
        rec["spans"].append((enter, exit_))
        rec["size"] = max(rec["size"], size)
    dups = {}
    for h, r in by_hash.items():
        if len(r["spans"]) < 2 or not r["exp"] or r["size"] < 3:
            continue
        # maximal occurrences: drop spans contained in another same-hash
        # span (ancestor chain — one execution)
        spans = sorted(r["spans"])  # by enter asc; ancestor sorts first
        maximal = []
        for s in spans:
            if not any(p[0] <= s[0] and s[1] <= p[1] for p in maximal):
                maximal.append(s)
        if len(maximal) >= 2:
            dups[h] = {**r, "n": len(maximal)}
    if not dups:
        return []
    best = max(dups.values(), key=lambda r: r["size"])
    return [
        {
            "root": best["name"],
            "copies": best["n"],
            "subtree_nodes": best["size"],
            "all_dup_count": len(dups),
        }
    ]


def _count_physical(node, counts):
    name = node.nodeName()
    counts[name] = counts.get(name, 0) + 1
    # AdaptiveSparkPlanExec and QueryStageExec are LEAF nodes whose real
    # subtree hangs off an accessor, not children()
    if name == "AdaptiveSparkPlan":
        try:
            _count_physical(node.executedPlan(), counts)
            return
        except Exception:
            pass
    if "QueryStage" in name:
        try:
            _count_physical(node.plan(), counts)
            return
        except Exception:
            pass
    n = node.children().size()
    for i in range(n):
        _count_physical(node.children().apply(i), counts)


def runtime_rescued(df) -> tuple[bool, dict]:
    """Execute df and report whether the final adaptive plan shows any
    reuse/caching that covers duplicated work."""
    df.collect()
    ep = df._jdf.queryExecution().executedPlan()
    counts: dict = {}
    _count_physical(ep, counts)
    rescued = any(
        counts.get(k, 0) > 0
        for k in ("ReusedExchange", "TableCacheQueryStage", "InMemoryTableScan")
    )
    return rescued, counts


def main() -> int:
    from duckdb_httpd_log_spark import get_spark
    from duckdb_httpd_log_spark.plans.registry import REGISTRY
    import duckdb_httpd_log_spark.operators  # noqa: F401

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    spark = get_spark(master="local[4]", shuffle_partitions=4)

    findings: dict[str, dict] = {}
    rescued_n = 0
    allowlisted: dict[str, str] = {}
    errs: dict[str, str] = {}
    for name, qd in REGISTRY.items():
        if only and name not in only:
            continue
        try:
            df = qd.spark_fn(spark, sf_dir)
            cands = candidates(df)
            if not cands:
                continue
            t0 = time.monotonic()
            rescued, counts = runtime_rescued(df)
            wall = round(time.monotonic() - t0, 3)
        except Exception as e:
            errs[name] = repr(e)[:200]
            continue
        if rescued:
            rescued_n += 1
            continue
        rec = {**cands[0], "sec_sf0001": wall}
        if name in ALLOWLIST:
            allowlisted[name] = ALLOWLIST[name]
        else:
            findings[name] = rec
            print(f"DUP  {name:32s} {rec}")
    out = {
        "findings": findings,
        "allowlisted": allowlisted,
        "rescued": rescued_n,
        "errors": errs,
        "checked": len(REGISTRY) if not only else len(only),
    }
    summary_path = os.environ.get("PLAN_REUSE_SUMMARY")
    if summary_path:
        with open(summary_path, "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
    print(
        f"plan-reuse audit: {len(findings)} finding(s), "
        f"{len(allowlisted)} allowlisted, {rescued_n} rescued at runtime, "
        f"{len(errs)} errors over {out['checked']} queries"
    )
    if errs:
        for n, e in errs.items():
            print(f"ERR  {n}: {e}")
    return 1 if findings or errs else 0


if __name__ == "__main__":
    sys.exit(main())
