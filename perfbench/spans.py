"""Spans around the benchmark's calls into each layer of the program.

A span has a name, start, end, parent and op id. Every span gets its own
Spark job group, so the jobs it launched, and their stages, can be read
back from the status tracker and the status store. Spans stay in memory
and are written as one JSON-lines file when the run ends. With tracing
off, ``span`` records nothing and sets no job group.
"""

from __future__ import annotations

import contextlib
import json
import time

# StageData fields summed per span; time fields are converted to seconds
STAGE_FIELDS = {
    "executor_run_s": ("executorRunTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "input_records": ("inputRecords", 1),
    "input_bytes": ("inputBytes", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spill_bytes": (("memoryBytesSpilled", "diskBytesSpilled"), 1),
    "gc_s": ("jvmGcTime", 1e-3),
}
SCAN_NODES = ("Scan", "InMemoryTableScan", "LocalTableScan", "RDDScan", "ExistingRDD")


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._op = None
        self._seq = 0

    @contextlib.contextmanager
    def op(self, op_id: int, shape: str):
        """Root span of one op; its children are the layer spans."""
        if not self.enabled:
            yield None
            return
        self._op = op_id
        with self.span("op", shape=shape) as root:
            yield root
        self.spark.sparkContext._jsc.clearJobGroup()
        self._op = None

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        self._seq += 1
        rec = {"id": self._seq, "name": name, "op": self._op,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "group": f"pb-{self._seq}", **attrs}
        sc = self.spark.sparkContext
        sc.setJobGroup(rec["group"], name)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(rec)
            if self._stack:
                sc.setJobGroup(self._stack[-1]["group"], self._stack[-1]["name"])

    def settle(self) -> None:
        """Attach job, stage and task counts to the spans of the last op.

        Runs after the op's latency was taken: it waits for the listener
        bus, so the status store has seen every stage the op ran."""
        if not self.enabled or not self.spans:
            return
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        op = self.spans[-1]["op"]
        for rec in reversed(self.spans):
            if rec["op"] != op:
                break
            jobs = list(tracker.getJobIdsForGroup(rec["group"]))
            rec["jobs"] = len(jobs)
            if rec["name"] not in ("exec", "writer.write", "operators.build",
                                   "pushdown.filter", "reader.bind"):
                continue
            tot = {"stages": 0, "tasks": 0, **{k: 0 for k in STAGE_FIELDS}}
            for j in jobs:
                info = tracker.getJobInfo(j)
                for sid in (info.stageIds if info else []):
                    try:
                        sd = store.lastStageAttempt(sid)
                    except Exception:  # never submitted (skipped stage)
                        continue
                    if sd.status().toString() != "COMPLETE":
                        continue
                    tot["stages"] += 1
                    tot["tasks"] += sd.numCompleteTasks()
                    for k, (field, scale) in STAGE_FIELDS.items():
                        fields = field if isinstance(field, tuple) else (field,)
                        tot[k] += sum(getattr(sd, f)() for f in fields) * scale
            rec.update(tot)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for rec in self.spans:
                fh.write(json.dumps(rec) + "\n")


def plan_nodes(jplan):
    """Every node of a physical plan, descending into AQE query stages."""
    stack = [jplan]
    while stack:
        n = stack.pop()
        yield n
        name = n.nodeName()
        if name == "AdaptiveSparkPlan":
            stack.append(n.executedPlan())
            continue
        if name.endswith("QueryStage"):
            stack.append(n.plan())
        kids = n.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))


def plan_counts(jplan) -> dict:
    names = [n.nodeName() for n in plan_nodes(jplan)]
    return {"scan_nodes": sum(1 for n in names if n.startswith(SCAN_NODES)),
            "exchanges": sum(1 for n in names if n.endswith("Exchange"))}


def _rows_out(node):
    m = node.metrics().get("numOutputRows")
    return m.get().value() if m.isDefined() else None


def needle_rows(jplan):
    """(lines read, lines passing the needle Filter) of an executed log
    scan: the Filter directly above each text scan, from SQL metrics."""
    read = passed = 0
    for n in plan_nodes(jplan):
        if n.nodeName() != "Filter":
            continue
        child = n.child()
        while child.nodeName() in ("InputAdapter", "Project"):
            child = child.child()
        if child.nodeName().startswith("Scan text"):
            read += _rows_out(child) or 0
            passed += _rows_out(n) or 0
    return read, passed
