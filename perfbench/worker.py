"""One benchmark process: set up, warm up, run the timed window, report.

``run.py`` starts this script several times per run. In ``probe`` mode
it stops once set-up is done and reports only ``setup_s``; in ``main``
mode it goes on to the timed window. Set-up is timed from the moment the
parent launched the process (``--t0``, a CLOCK_MONOTONIC reading) to the
return of the workload's first bind: imports, the JVM launch in
``get_spark`` and the first bind. The result is one JSON line on
stdout.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import threading
import time

import numpy as np


def _tree_rss_bytes(root: int) -> int:
    """Resident memory of ``root`` and all its descendants (the driver
    Python process, its JVM and the JVM's Python workers)."""
    kids: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                st = fh.read()
        except OSError:
            continue
        f = st[st.rindex(")") + 2:].split()
        kids.setdefault(int(f[1]), []).append(int(d))
        rss[int(d)] = int(f[21])
    total, todo = 0, [root]
    while todo:
        p = todo.pop()
        total += rss.get(p, 0)
        todo.extend(kids.get(p, ()))
    return total * os.sysconf("SC_PAGE_SIZE")


class RssSampler(threading.Thread):
    def __init__(self, every_s: float = 0.05):
        super().__init__(daemon=True)
        self.every_s, self.peak, self._stop_ev = every_s, 0, threading.Event()

    def run(self):
        me = os.getpid()
        while not self._stop_ev.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(me))
            self._stop_ev.wait(self.every_s)

    def stop(self) -> int:
        self._stop_ev.set()
        self.join()
        return self.peak


def host_probes(spark) -> dict:
    """Fixed-work references that depend on the host, not on the code."""
    py, jvm = [], []
    for _ in range(3):
        t = time.perf_counter()
        buf = b"\x5a" * 65536
        for _ in range(1000):
            buf = hashlib.sha256(buf).digest() * 2048
        py.append(time.perf_counter() - t)
    for _ in range(3):
        t = time.perf_counter()
        spark.range(100_000_000).selectExpr("sum(id * 2 + 1)").collect()
        jvm.append(time.perf_counter() - t)
    return {"py_sha256_s": min(py), "jvm_range_sum_s": min(jvm)}


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks since boot, from /proc/stat.
    Steal is time a virtual CPU was ready but the hypervisor ran another
    guest: the share of it over the window measures neighbours' load."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return (f[7] if len(f) > 7 else 0), sum(f[:8])


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--mode", choices=("probe", "main"), default="main")
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--expected", required=True)
    ap.add_argument("--spans", default="")
    a = ap.parse_args()

    from duckdb_httpd_log_spark import get_spark

    from spans import Tracer
    from workloads import WORKLOADS

    cpus = len(os.sched_getaffinity(0))
    t = time.perf_counter()
    spark = get_spark(app_name="perfbench", master=f"local[{cpus}]")
    out: dict = {"session_s": time.perf_counter() - t, "errors": []}
    with open(a.expected) as fh:
        exp = json.load(fh)
    tr = Tracer(spark, bool(a.trace))
    wl = WORKLOADS[a.workload](spark, a.data, exp, tr)
    after = getattr(wl, "after", lambda rec: None)
    rng = np.random.default_rng([a.seed, 7])

    def one(op_id: int, shape: str, param, traced: bool) -> dict:
        tr.enabled = traced
        t = time.perf_counter()
        try:
            with tr.op(op_id, shape):
                ok = wl.run(shape, param)
        except Exception as e:  # an op that raises counts as failed
            ok = False
            out["errors"].append(f"{shape}({param}): {type(e).__name__}: {str(e)[:300]}")
        rec = {"op": op_id, "shape": shape, "param": param, "traced": traced,
               "latency_s": time.perf_counter() - t, "ok": ok}
        if not ok and len(out["errors"]) < 20:
            out["errors"].append(f"{shape}({param}): wrong answer")
        tr.settle()
        after(rec)
        return rec

    wl.bind()  # the first bind ends set-up
    out["setup_s"] = time.monotonic() - a.t0
    if a.mode == "probe":
        stop_spark(spark)
        print(json.dumps(out), flush=True)
        return

    # priming: untimed calls, so the window starts from a warm JVM
    op_id = 0
    out["warmup_ok"] = True
    for shape in wl.PRIME:
        op_id += 1
        out["warmup_ok"] &= one(-op_id, shape, wl.draw(rng, shape), traced=False)["ok"]

    tr.spans.clear()
    sampler = RssSampler()
    sampler.start()
    ops: list[dict] = []
    rounds = 0
    steal0, total0 = cpu_ticks()
    t_start = time.perf_counter()
    # Whole rounds of the workload's op list, in a fixed order, so every
    # run sees the same mix (the seed picks the inputs and parameters).
    # Another round starts only while it is expected to end nearer the
    # --seconds target than stopping now. A traced run alternates traced
    # and untraced rounds and ends on an even count; the difference of
    # the halves is the tracing cost.
    while True:
        elapsed = time.perf_counter() - t_start
        if rounds and elapsed + elapsed / rounds / 2 >= a.seconds and not (
                a.trace and rounds % 2):
            break
        traced = bool(a.trace) and rounds % 2 == 0
        for shape in wl.ROUND:
            op_id += 1
            ops.append(one(op_id, shape, wl.draw(rng, shape), traced))
        rounds += 1
    out["window_s"] = time.perf_counter() - t_start
    steal1, total1 = cpu_ticks()
    out["peak_rss_bytes"] = sampler.stop()
    out["rounds"] = rounds
    out["ops"] = ops
    out["probes"] = host_probes(spark)
    out["probes"]["cpu_steal_frac"] = (steal1 - steal0) / max(1, total1 - total0)
    out["spans"] = tr.spans if a.trace else []
    out["cores"] = cpus
    if a.spans:
        tr.write(a.spans)
    stop_spark(spark)
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    sys.exit(main())
