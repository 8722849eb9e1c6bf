"""The repo benchmark: seeded closed-loop workloads over the public API.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

Run from the repository root. It builds (or reuses) the seeded corpus,
starts ``worker.py`` ``SETUPS`` times to time set-up, lets the last one
run the timed window, checks every answer, and prints as its last
stdout line one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``). The line before it holds diagnostics: host
probes, Spark ERROR log lines, the tail percentile used, and errors.
See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import re
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# the program under test, the benchmark, and the oracle check's row
# canonicalisation (tests/oracle_check.py)
SYS_PATH = [ROOT, HERE, os.path.join(ROOT, "tests")]
OUT = os.path.join(HERE, ".out")
SETUPS = 2  # processes timed per run; setup_s is their median
CHILD_TIMEOUT_S = 150

E2E_UNITS = {"setup_s": "s", "ops_per_s": "1/s", "op_geomean_s": "s",
             "peak_rss_mb": "MB"}


def _session_pids(sid: int) -> list[int]:
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                st = fh.read()
        except OSError:
            continue
        if int(st[st.rindex(")") + 2:].split()[3]) == sid:
            pids.append(int(d))
    return pids


def _reap(sid: int) -> None:
    """Kill whatever the child's session left behind and wait for it."""
    deadline = time.monotonic() + 30
    while _session_pids(sid) and time.monotonic() < deadline:
        try:
            os.killpg(sid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        time.sleep(0.1)


def spawn(args, mode: str, log_path: str, spans_path: str = "") -> dict:
    # a 1 GB heap cap (get_spark's own SPARK_DRIVER_MEMORY knob) keeps the
    # JVM small on a shared host; scratch files stay inside the checkout,
    # and -UsePerfData stops the JVM writing its counters under /tmp
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(SYS_PATH),
               SPARK_DRIVER_MEMORY="1g", TMPDIR=tmp, SPARK_LOCAL_DIRS=tmp,
               JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--mode", mode,
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--data", args.data, "--expected", args.expected, "--spans", spans_path]
    with open(log_path, "w") as log:
        t0 = time.monotonic()
        proc = subprocess.Popen(cmd + ["--t0", repr(t0)], stdout=subprocess.PIPE,
                                stderr=log, cwd=OUT, env=env, start_new_session=True)
        try:
            stdout, _ = proc.communicate(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.communicate()
            raise
        finally:
            _reap(proc.pid)
    lines = stdout.decode().strip().splitlines()
    if proc.returncode != 0 or not lines:
        with open(log_path) as fh:
            tail = fh.read()[-3000:]
        raise RuntimeError(f"worker {mode} exited {proc.returncode}:\n{tail}")
    return json.loads(lines[-1])


def tail(lat: list[float]) -> tuple[float, float]:
    """Highest percentile with at least 10 samples beyond it."""
    xs = sorted(lat)
    k = max(1, len(xs) - 10)  # 1-based rank
    return xs[k - 1], 100.0 * k / len(xs)


def e2e_metrics(res: dict, setups: list[float]) -> dict:
    ops, win = res["ops"], res["window_s"]
    lat = [o["latency_s"] for o in ops]
    return {
        "setup_s": statistics.median(setups),
        "ops_per_s": len(ops) / win,
        "op_geomean_s": statistics.geometric_mean(lat),
        "peak_rss_mb": res["peak_rss_bytes"] / 2**20,
    }


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def layer_metrics(res: dict, session_s: list[float]) -> dict:
    """Per-layer metrics from the spans of the traced rounds."""
    spans = res["spans"]
    by: dict[str, list[dict]] = {}
    for s in spans:
        by.setdefault(s["name"], []).append(s)

    def dur(name):
        return _mean(s["end"] - s["start"] for s in by.get(name, []))

    def avg(name, key):
        return _mean(s.get(key, 0) for s in by.get(name, []))

    def frac(name, num, den):
        d = sum(s.get(den) or 0 for s in by.get(name, []))
        return sum(s.get(num) or 0 for s in by.get(name, [])) / d if d else 0.0

    m = {
        "session.start_s": statistics.median(session_s),
        "fs.expand_s": dur("fs.expand"),
        "fs.files_listed": avg("fs.expand", "files_listed"),
        "logformat.compile_s": dur("logformat.compile"),
        "reader.bind_s": dur("reader.bind"),
        "reader.bind_jobs": avg("reader.bind", "jobs"),
        "pushdown.filter_s": dur("pushdown.filter"),
        "pushdown.filter_jobs": avg("pushdown.filter", "jobs"),
        "pushdown.files_scanned_frac": frac("pushdown.filter", "files_scanned", "files_listed"),
        "pushdown.needle_pass_frac": frac("pushdown.filter", "needle_pass", "lines_read"),
        "plan.s": dur("plan"),
        "plan.scan_nodes": avg("plan", "scan_nodes"),
        "plan.exchanges": avg("plan", "exchanges"),
        "exec.s": dur("exec"),
    }
    for k in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
              "input_records", "input_bytes", "shuffle_read_bytes",
              "shuffle_write_bytes", "spill_bytes", "gc_s"):
        m[f"exec.{k}"] = avg("exec", k)
    busy = sum(s["end"] - s["start"] for s in by.get("exec", []))
    m["exec.core_util"] = (sum(s.get("executor_run_s", 0) for s in by.get("exec", []))
                           / (busy * res["cores"]) if busy else 0.0)
    m["writer.write_s"] = dur("writer.write")
    m["writer.out_bytes_per_in_byte"] = avg("writer.write", "out_bytes_per_in_byte")
    m["writer.files_out"] = avg("writer.write", "files_out")
    m["operators.build_s"] = dur("operators.build")
    m["operators.build_jobs"] = avg("operators.build", "jobs")
    traced = [o for o in res["ops"] if o["traced"]]
    plain = [o for o in res["ops"] if not o["traced"]]
    m["operators.pins_left"] = _mean(o.get("pins_left", 0) for o in traced)
    m["op.s"] = dur("op")
    # the op's self time: what no layer span covers (the benchmark's own
    # checks and the lazy DataFrame calls between the layer calls)
    kids: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]] = kids.get(s["parent"], 0.0) + s["end"] - s["start"]
    m["op.self_s"] = _mean(s["end"] - s["start"] - kids.get(s["id"], 0.0)
                           for s in by.get("op", []))
    t = statistics.geometric_mean(o["latency_s"] for o in traced)
    p = statistics.geometric_mean(o["latency_s"] for o in plain)
    m["trace.overhead_s"] = t - p
    m["trace.overhead_frac"] = (t - p) / p
    return m


def layer_units(name: str) -> str:
    if name.endswith("_s") or name in ("plan.s", "exec.s", "op.s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith(("_frac", "_util", "_per_in_byte")):
        return "ratio"
    return "count"


def by_shape(ops: list[dict]) -> dict:
    out: dict = {}
    for o in ops:
        out.setdefault(o["shape"], []).append(o["latency_s"])
    return {k: {"n": len(v), "p50_s": statistics.median(v)} for k, v in sorted(out.items())}


def layers_by_shape(spans: list[dict]) -> dict:
    """Per op shape and span name: mean seconds and mean Spark jobs per
    call, and the share of listed files scanned where pushdown ran."""
    shape = {s["op"]: s["shape"] for s in spans if s["name"] == "op"}
    acc: dict = {}
    for s in spans:
        acc.setdefault(shape[s["op"]], {}).setdefault(s["name"], []).append(s)
    out: dict = {}
    for sh, names in sorted(acc.items()):
        for name, ss in sorted(names.items()):
            rec = {"s": _mean(s["end"] - s["start"] for s in ss),
                   "jobs": _mean(s.get("jobs", 0) for s in ss)}
            if name == "pushdown.filter":
                rec["files_scanned_frac"] = _mean(s["files_scanned"] / s["files_listed"] for s in ss)
            out.setdefault(sh, {})[name] = rec
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["dashboard", "registry_pins"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # the program under test must be present before anything is generated
    sys.path[:0] = SYS_PATH
    for mod in ("duckdb_httpd_log_spark", "oracle_check"):
        spec = importlib.util.find_spec(mod)
        if spec is None or not spec.origin.startswith(ROOT + os.sep):
            print(f"perfbench: {mod} not found under {ROOT}", file=sys.stderr)
            return 2
    import corpus

    args.data, _ = corpus.ensure(args.workload, args.seed)
    args.expected = os.path.join(os.path.dirname(args.data), "expected.json")
    os.makedirs(OUT, exist_ok=True)
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    log = os.path.join(OUT, f"{tag}.log")
    spans_path = os.path.join(OUT, f"spans-{tag}.jsonl") if args.trace else ""

    probes = [spawn(args, "probe", log) for _ in range(SETUPS - 1)]
    res = spawn(args, "main", log, spans_path)
    with open(log) as fh:
        spark_errors = sum(1 for line in fh if re.search(r"\bERROR\b", line))

    setups = [p["setup_s"] for p in probes] + [res["setup_s"]]
    ops = res["ops"]
    failed = sum(1 for o in ops if not o["ok"])
    correct = failed == 0 and res["warmup_ok"]
    if args.trace:
        metrics = layer_metrics(res, [p["session_s"] for p in probes] + [res["session_s"]])
        units = {k: layer_units(k) for k in metrics}
    else:
        metrics = e2e_metrics(res, setups)
        units = E2E_UNITS
    lat = [o["latency_s"] for o in ops]
    tail_s, pct = tail(lat)
    diag = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "setups_s": setups, "rounds": res["rounds"], "window_s": res["window_s"],
        "op_p50_s": statistics.median(lat), "op_max_s": max(lat), "op_tail_s": tail_s,
        "tail_percentile": pct, "tail_samples": len(ops),
        "error_rate": failed / len(ops), "spark_error_lines": spark_errors,
        **res["probes"], "by_shape": by_shape(ops), "errors": res["errors"],
    }
    if args.trace:
        diag["layers_by_shape"] = layers_by_shape(res["spans"])
    result = {"correct": correct, "attempted": len(ops), "failed": failed,
              "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}
    with open(os.path.join(OUT, "runs.jsonl"), "a") as fh:
        fh.write(json.dumps({"diagnostics": diag, **result}) + "\n")
    print(json.dumps({"diagnostics": diag}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
