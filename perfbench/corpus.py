"""Seeded inputs for the benchmark, with the expected answer to every op.

Each workload's corpus is a directory keyed by (workload, seed, size)
under ``perfbench/.cache/``. It is written once and reused by later
runs with the same key; ``expected.json`` beside the data holds the
answers the generator computed while writing it, so results are checked
against numbers the program under test never produced.
"""

from __future__ import annotations

import calendar
import hashlib
import json
import os
import shutil
import time
import zlib

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
CACHE = os.path.join(HERE, ".cache")
KEEP_PER_WORKLOAD = 24  # corpora kept per workload; older seeds are evicted

# -- dashboard: a rotated httpd fleet plus one junk-laden curate file ------

FLEET_MONTHS = [(2023 + (i // 12), 1 + i % 12) for i in range(16)]  # 2023-01..2024-04
FLEET_LINES = 12_000  # per monthly file
CURATE_LINES = 20_000
CURATE_JUNK = 0.20
N_PATHS = 64
STATUSES = np.array([200, 200, 200, 200, 304, 301, 404, 403])
ERR_STATUSES = np.array([500, 502, 503])
MON = ["Jan", "Feb", "Mar", "Apr", "May", "Jun",
       "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]
METHODS = np.array(["GET", "GET", "GET", "POST", "PUT", "DELETE"])
AGENTS = np.array(["Mozilla/5.0 (X11; Linux x86_64)", "curl/8.4.0",
                   "Googlebot/2.1", "python-requests/2.31"])
JUNK = [
    "### truncated-write",
    "\x01\x02 binary noise \x7f",
    "panic: unexpected EOF while tailing",
    '10.1.2.3 - broken [not-a-timestamp] "GET',
]
# columns hashed to compare the curate round trip with its good input
CURATE_HASH_COLS = ("client_host", "auth_user", "epoch", "method", "path",
                    "status", "bytes", "user_agent")


def paths_pool() -> list[str]:
    return [f"/api/v1/items/{i:03d}" if i % 2 else f"/static/page{i:03d}.html"
            for i in range(N_PATHS)]


def _rng(seed: int, *tag: int) -> np.random.Generator:
    return np.random.default_rng([seed, *tag])


def _month_lines(rng, n, year, month, error_month):
    """Columns of n log lines in one month, sorted by time."""
    days = calendar.monthrange(year, month)[1]
    base = calendar.timegm((year, month, 1, 0, 0, 0))
    off = np.sort(rng.integers(0, days * 86400, n))
    status = STATUSES[rng.integers(0, len(STATUSES), n)]
    if error_month:
        hit = rng.random(n) < 0.05
        status = np.where(hit, ERR_STATUSES[rng.integers(0, 3, n)], status)
    return {
        "epoch": base + off,
        "a": rng.integers(0, 256, n), "b": rng.integers(0, 256, n),
        "user": rng.integers(-1, 40, n),  # -1 renders as "-"
        "method": METHODS[rng.integers(0, len(METHODS), n)],
        "path": rng.integers(0, N_PATHS, n),
        "status": status,
        "bytes": rng.integers(1, 50_000, n),  # never 0: %b renders 0 as "-"
        "agent": rng.integers(0, len(AGENTS), n),
    }


def _render(cols, pool, last_octet: int) -> list[str]:
    out = []
    for e, a, b, u, m, p, s, by, ag in zip(
        cols["epoch"].tolist(), cols["a"].tolist(), cols["b"].tolist(),
        cols["user"].tolist(), cols["method"].tolist(), cols["path"].tolist(),
        cols["status"].tolist(), cols["bytes"].tolist(), cols["agent"].tolist(),
    ):
        y, mo, d, hh, mi, ss = _ymdhms(e)
        user = "-" if u < 0 else f"u{u}"
        out.append(
            f"10.{a}.{b}.{last_octet} - {user} "
            f"[{d:02d}/{MON[mo - 1]}/{y}:{hh:02d}:{mi:02d}:{ss:02d} +0000] "
            f'"{m} {pool[p]} HTTP/1.1" {s} {by} "-" "{AGENTS[ag]}"\n'
        )
    return out


def _ymdhms(epoch: int):
    t = time.gmtime(epoch)
    return t.tm_year, t.tm_mon, t.tm_mday, t.tm_hour, t.tm_min, t.tm_sec


def _day_key(epoch_arr) -> np.ndarray:
    return (np.asarray(epoch_arr) // 86400).astype(np.int64)


def gen_dashboard(seed: int, out: str) -> dict:
    pool = paths_pool()
    fleet = os.path.join(out, "fleet")
    os.makedirs(fleet)
    error_months = set(_rng(seed, 99).choice(len(FLEET_MONTHS), 2, replace=False).tolist())
    per_file = []
    for i, (y, m) in enumerate(FLEET_MONTHS):
        cols = _month_lines(_rng(seed, 1, i), FLEET_LINES, y, m, i in error_months)
        p = os.path.join(fleet, f"{y}-{m:02d}.log")
        with open(p, "w") as fh:
            fh.writelines(_render(cols, pool, i))
        # rotated 06:00 UTC on the first of the next month: content <= mtime
        mt = calendar.timegm((y + (m == 12), 1 + m % 12, 1, 6, 0, 0))
        os.utime(p, (mt, mt))
        per_file.append((os.path.basename(p), cols))

    allc = {k: np.concatenate([c[k] for _n, c in per_file]) for k in per_file[0][1]}
    status, nbytes = allc["status"], allc["bytes"]
    exp: dict = {"path": {
        pool[i]: [int((allc["path"] == i).sum()), int(nbytes[allc["path"] == i].sum())]
        for i in range(N_PATHS)
    }}
    days = _day_key(allc["epoch"])
    uniq, inv = np.unique(days, return_inverse=True)
    exp["day"] = {
        _iso_day(int(d)): [int(c), int(s)]
        for d, c, s in zip(uniq, np.bincount(inv), np.bincount(inv, weights=nbytes).astype(np.int64))
    }
    last_y, last_m = FLEET_MONTHS[-1]
    exp["since"] = {}
    for d in range(1, calendar.monthrange(last_y, last_m)[1] + 1):
        lo = calendar.timegm((last_y, last_m, d, 0, 0, 0))
        sel = allc["epoch"] >= lo
        exp["since"][f"{last_y}-{last_m:02d}-{d:02d} 00:00:00"] = [int(sel.sum()), int(nbytes[sel].sum())]
    exp["file"] = {
        name: [int(len(c["status"])), int(c["bytes"].sum())] for name, c in per_file
    }
    sel = status >= 500
    exp["status5xx"] = [int(sel.sum()), int(nbytes[sel].sum())]
    st, cnt = np.unique(status, return_counts=True)
    exp["by_status"] = {str(int(s)): int(c) for s, c in zip(st, cnt)}
    exp["curate"] = _gen_curate(seed, os.path.join(out, "curate"), pool)
    return exp


def _gen_curate(seed: int, out: str, pool: list[str]) -> dict:
    os.makedirs(out)
    rng = _rng(seed, 2)
    cols = _month_lines(rng, CURATE_LINES, 2024, 5, True)
    good = _render(cols, pool, 7)
    junk = rng.random(CURATE_LINES) < CURATE_JUNK
    pick = rng.integers(0, len(JUNK), CURATE_LINES)
    lines = [f"{JUNK[k]} {i}\n" if j else g
             for i, (g, j, k) in enumerate(zip(good, junk.tolist(), pick.tolist()))]
    with open(os.path.join(out, "raw.log"), "w") as fh:
        fh.writelines(lines)
    keep = ~junk
    rows = zip(*(curate_values(cols, c, pool) for c in CURATE_HASH_COLS))
    h = sum(zlib.crc32("|".join(r).encode()) for r, k in zip(rows, keep.tolist()) if k)
    return {"good": int(keep.sum()), "crc_sum": int(h),
            "bytes_in": os.path.getsize(os.path.join(out, "raw.log"))}


def curate_values(cols, name, pool) -> list[str]:
    """Per-line text of one hashed column, as Spark casts it to string."""
    if name == "client_host":
        return [f"10.{a}.{b}.7" for a, b in zip(cols["a"].tolist(), cols["b"].tolist())]
    if name == "auth_user":
        return ["" if u < 0 else f"u{u}" for u in cols["user"].tolist()]
    if name == "epoch":
        return [str(e) for e in cols["epoch"].tolist()]
    if name == "method":
        return cols["method"].tolist()
    if name == "path":
        return [pool[p] for p in cols["path"].tolist()]
    if name == "user_agent":
        return [str(AGENTS[a]) for a in cols["agent"].tolist()]
    return [str(v) for v in cols[name].tolist()]


def _iso_day(day: int) -> str:
    t = time.gmtime(day * 86400)
    return f"{t.tm_year}-{t.tm_mon:02d}-{t.tm_mday:02d}"


# -- registry_pins: the registry's parquet tables at sf0.01 ----------------
# Row counts, column types (µs timestamps with isAdjustedToUTC=false) and
# value distributions follow the registry's sf0.01 tables; the README
# lists what was compared.

REG_SCALE = {"events": 10_000, "documents": 500, "embeddings": 500,
             "lineitem": 60_000, "customer": 1_500}
WORDS = ("key agg row scan slow fast table value part hash a the merge batch "
         "spark sort window line join small big column data query customer "
         "order group filter stream vector").split()
NEAR_DUPS = 25  # documents that copy another one and append " dup"


def gen_registry(seed: int, out: str) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out)
    r = _rng(seed, 3)

    def put(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))

    put("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    put("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    n = REG_SCALE["customer"]
    put("customer", {
        "c_custkey": pa.array(range(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(r.integers(0, 25, n), pa.int32()),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n), 2),
        "c_mktsegment": r.choice(["MACHINERY", "AUTOMOBILE", "FURNITURE",
                                  "HOUSEHOLD", "BUILDING"], n).tolist(),
    })
    n = REG_SCALE["lineitem"]
    qty = r.integers(1, 51, n).astype(float)
    ship = np.datetime64("1995-01-02") + r.integers(0, 2500, n).astype("timedelta64[D]")
    put("lineitem", {
        "l_orderkey": pa.array(r.integers(0, n // 4, n), pa.int64()),
        "l_partkey": pa.array(r.integers(0, 2000, n), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, 100, n), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900, 2100, n), 2),
        "l_discount": np.round(r.integers(0, 11, n) / 100.0, 2),
        "l_tax": np.round(r.integers(0, 9, n) / 100.0, 2),
        "l_returnflag": r.choice(["A", "N", "R"], n).tolist(),
        "l_linestatus": r.choice(["F", "O"], n).tolist(),
        "l_shipdate": pa.array(ship.astype("datetime64[us]"), pa.timestamp("us")),
    })
    n = REG_SCALE["events"]
    ts = np.datetime64("2024-01-01") + np.sort(r.integers(0, 30 * 86400 * 10**6, n)).astype("timedelta64[us]")
    put("events", {
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, 150, n), pa.int64()),
        "event_type": r.choice(["click", "signup", "error", "view", "purchase"], n).tolist(),
        "value": np.round(r.exponential(50.0, n) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n).tolist()],
    })
    n = REG_SCALE["documents"]
    texts = [" ".join(r.choice(WORDS, int(r.integers(10, 100))).tolist()) for _ in range(n)]
    for _ in range(NEAR_DUPS):  # near-duplicates for the dedup ops
        src, dst = r.choice(n, 2, replace=False).tolist()
        texts[dst] = texts[src] + " dup"
    put("documents", {
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": r.choice(["en", "en", "en", "de", "es", "fr", "zh"], n).tolist(),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    n = REG_SCALE["embeddings"]
    # unit vectors in random directions; the label carries no signal
    emb = r.normal(0, 1, (n, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    put("embeddings", {
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n), pa.int32()),
    })
    return {"oracle": registry_oracle(out)}


REGISTRY_QUERIES = [
    # the persist trio
    "events_funnel_latency", "q17_funnel", "text_winnow_dedup",
    # fan-out pins
    "events_funnel_dropoff", "emb_outlier_filter", "text_lm_score",
    # iterative and build-heavy
    "kmeans_train", "dedup_clusters",
    # pin-free controls
    "q01_pricing_summary", "q08_join_agg",
]


def digest(cols, rows) -> dict:
    """Row count and hash of the rows, canonicalised and sorted the way
    the repo's Spark-vs-DuckDB oracle check does it."""
    from oracle_check import row_set

    body = "\n".join(row_set(rows))
    return {"cols": [c.lower() for c in cols], "rows": len(rows),
            "sha": hashlib.sha256(body.encode()).hexdigest()}


def registry_oracle(sf_dir: str) -> dict:
    """DuckDB answers to each registry op, computed once per corpus."""
    import duckdb

    import duckdb_httpd_log_spark.operators  # noqa: F401  (registers queries)
    from duckdb_httpd_log_spark.plans.registry import REGISTRY

    con = duckdb.connect()
    for f in sorted(os.listdir(sf_dir)):
        con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{sf_dir}/{f}')")
    out = {}
    for q in REGISTRY_QUERIES:
        rel = con.execute(REGISTRY[q].oracle_sql)
        out[q] = digest([d[0] for d in rel.description], rel.fetchall())
    con.close()
    return out


GENERATORS = {"dashboard": gen_dashboard, "registry_pins": gen_registry}


def ensure(workload: str, seed: int) -> tuple[str, dict]:
    """Corpus directory and expected answers for (workload, seed, size)."""
    size = {"dashboard": f"{len(FLEET_MONTHS)}x{FLEET_LINES}+{CURATE_LINES}",
            "registry_pins": "sf0.01"}[workload]
    key = f"{workload}-s{seed}-{size}"
    path = os.path.join(CACHE, key)
    exp_path = os.path.join(path, "expected.json")
    if not os.path.exists(exp_path):
        shutil.rmtree(path, ignore_errors=True)
        _evict(workload)
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        exp = GENERATORS[workload](seed, os.path.join(tmp, "data"))
        with open(os.path.join(tmp, "expected.json"), "w") as fh:
            json.dump(exp, fh)
        os.rename(tmp, path)
    os.utime(exp_path)  # marks the entry recently used
    with open(exp_path) as fh:
        return os.path.join(path, "data"), json.load(fh)


def _evict(workload: str) -> None:
    if not os.path.isdir(CACHE):
        return
    mine = [os.path.join(CACHE, d) for d in os.listdir(CACHE)
            if d.startswith(workload + "-s") and not d.endswith(".tmp")]
    mine.sort(key=lambda d: os.path.getmtime(os.path.join(d, "expected.json"))
              if os.path.exists(os.path.join(d, "expected.json")) else 0)
    for d in mine[: max(0, len(mine) - KEEP_PER_WORKLOAD + 1)]:
        shutil.rmtree(d, ignore_errors=True)
