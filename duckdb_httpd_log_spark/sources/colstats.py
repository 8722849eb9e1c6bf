"""Per-file COLUMN-STATS pruning for non-time value predicates.

``status >= 500`` or ``bytes > 10_000_000`` on a rotated-log fleet
used to open every file: needles cover eq/IN/LIKE and time ranges, and
the listing prune covers file-constant columns, but nothing knew the
VALUE RANGES inside each file. This module gives the scan the same
trick parquet row-group statistics give Catalyst: per-file min/max for
the verbatim INTEGER/BIGINT columns (status, bytes, ports — the ops-
dashboard filter shapes), gathered once per file VERSION and consulted
at filter time to drop whole files whose range cannot satisfy a
conjunct.

Soundness bar (identical to the mtime bound's):

- Stats are keyed on a fresh ``(mtime, size)`` stat taken BEFORE the
  gathering scan. If the file grows between stat and scan, the stats
  describe MORE data than the key claims — a superset interval is
  still sound to prune with. Rewrite races inside the stat's mtime
  resolution that keep the size are outside the contract, same as the
  documented mtime bound.
- Every ``.filter()`` takes ONE fresh stat of the bind-time listing
  (fs.file_sigs — one os.stat per local file, one Hadoop listStatus
  per parent directory for s3a/hdfs/viewfs/...), shared by the mtime
  and column-stats parts of the per-file range test (pushdown.py); a
  cached entry whose key differs from it is never consulted.
- The prune decision is taken at ``.filter()`` time against that
  fresh stat and is BAKED into the returned plan. A pruned DataFrame
  re-EXECUTED much later, after a file was appended with
  newly-qualifying rows, still excludes that file — the mtime range
  absorbs its analogous gap with a 2-day slack, but a value range has
  no slack dimension. Contract: derivation-to-action gaps are covered
  (the stat is fresh at filter time); filter-to-re-execution gaps are
  not — re-apply the filter (any dashboard refresh does) to
  re-validate against current keys.
- Only top-level CONJUNCTS of shape ``col <cmp> int-literal`` / ``col
  IN (...)`` prune, and NULL rows can never satisfy such a conjunct,
  so min/max over non-null values decides. A file with no qualifying
  rows at all (empty, or every value NULL) is prunable for any such
  conjunct.
- Stats describe the rows ONE READER CONFIGURATION produces: the same
  file parsed under a different format, conf, or line_filter yields
  different row sets, so the cache key carries the reader's config
  FINGERPRINT (regex + line_filter — see reader.py) alongside the
  path. Two readers over the same files share stats only when their
  row views provably agree.

Gathering policy (``spark.graft.pushdown.colStats``):

- ``auto`` (default): SECOND-TOUCH — a file's stats are computed the
  second time a prunable filter touches it, never the first. One-shot
  queries pay nothing; a dashboard's second refresh onward prunes. On
  a rotating fleet only the newest file is ever un-statted (old files
  keep their cached entry — their (mtime, size) never changes).
- ``eager``: compute on first touch (for workloads known to repeat).
- ``false``: off.

The gathering pass itself is one projection-pruned scan of ONLY the
files missing stats, aggregated per file (groupBy(log_file) min/max of
every verbatim int column at once — one pass amortizes across future
predicates on any of them). At 100 TB this is the index-build trade:
a narrow one-time scan per file version buys every later query a
listing-time skip of that file.
"""

from __future__ import annotations

from pyspark.sql import functions as F

# (reader-config fingerprint, path) -> ((mtime, size), {col: (lo, hi)});
# (None, None) = the file has no non-NULL value for the column (prunable
# under any interval). The fingerprint keeps a second reader with a
# different format/line_filter from reusing stats computed over a
# narrower row view (r13 ADVICE high).
_COLSTATS: dict[tuple, tuple] = {}
# second-touch counters for the auto policy; insert-capped at _CAP
# (entries for rotated files persist, bounded memory). Both live in
# this process only: a new process gathers its stats afresh.
_TOUCH: dict[tuple, int] = {}
_CAP = 1_000_000


def narrow(req: dict, col: str, lo, hi) -> None:
    """Intersect closed interval [lo, hi] (None = open) into ``req[col]``."""
    lo0, hi0 = req.get(col, (None, None))
    req[col] = (
        lo0 if lo is None else (lo if lo0 is None else max(lo0, lo)),
        hi0 if hi is None else (hi if hi0 is None else min(hi0, hi)),
    )


def _disjoint(rng: dict, req: dict) -> bool:
    """True when some required interval of ``req`` ({col: (lo, hi)},
    None = open) misses the file's range ``rng`` ({col: (lo, hi)}, None
    = open; (None, None) = no non-NULL value, which meets no interval).
    Columns missing from ``rng`` never prune."""
    for col, (rlo, rhi) in req.items():
        if col not in rng:
            continue
        slo, shi = rng[col]
        if slo is None and shi is None:
            return True
        if rlo is not None and shi is not None and shi < rlo:
            return True
        if rhi is not None and slo is not None and slo > rhi:
            return True
    return False


def _gather(rebuild, fp: str, missing: list, cols: set) -> dict:
    """One narrow scan over the files missing stats; per-file min/max of
    every verbatim int column. ``missing`` = [(bind_path, visible, sig)]."""
    frame = rebuild([], [b for b, _v, _s in missing])
    aggs = []
    for c in sorted(cols):
        aggs.append(F.min(c).alias(f"lo_{c}"))
        aggs.append(F.max(c).alias(f"hi_{c}"))
    rows = frame.groupBy("log_file").agg(*aggs).collect()
    by_v = {r["log_file"]: r for r in rows}
    out: dict = {}
    for b, v, sig in missing:
        r = by_v.get(v)
        if r is None:  # no parseable row in the file at all
            stats = {c: (None, None) for c in cols}
        else:
            stats = {c: (r[f"lo_{c}"], r[f"hi_{c}"]) for c in cols}
        _COLSTATS[(fp, b)] = (sig, stats)
        out[b] = stats
    return out


def stats_for(
    spark, rebuild, fp: str, pairs: list, sigs: list, cols: set, policy: str
) -> dict:
    """Fresh-keyed stats for the listing: {bind_path: {col: (lo, hi)}}.
    ``sigs`` is the filter's own fresh stat of ``pairs`` (fs.file_sigs,
    aligned); every returned entry's key equals it, and files without
    fresh stats are simply absent (never pruned). ``fp`` is the
    reader-config fingerprint the cache is scoped by. May run the
    gathering scan per the policy."""
    fresh: dict = {}
    missing: list = []
    for (b, v), sig in zip(pairs, sigs):
        if sig is None:
            continue
        ent = _COLSTATS.get((fp, b))
        if ent is not None and ent[0] == sig:
            fresh[b] = ent[1]
        else:
            missing.append((b, v, sig))
    if missing and policy in ("auto", "eager"):
        if policy == "auto":
            due = []
            for b, v, sig in missing:
                t = _TOUCH.get((fp, b), 0) + 1
                if len(_TOUCH) < _CAP or (fp, b) in _TOUCH:
                    _TOUCH[(fp, b)] = t
                if t >= 2:
                    due.append((b, v, sig))
            missing = due
        if missing:
            fresh.update(_gather(rebuild, fp, missing, cols))
    return fresh
