"""Per-layer metrics of a traced run.

The harness records, for every traced pass, its own spans (pass, entry,
build, execute) and, from its listeners, one record per Spark job,
stage, streaming micro-batch and query plan. This module places the
job, stage and batch records in the span tree (a stage under its job, a
job or batch under the innermost span that contains its start), then
charges every instant of an entry's wall time to exactly one span: the
deepest one active then, the latest started among equals. A span's self
time is what it was charged, so the self times of an entry's tree add up
to the entry's wall time even where sibling jobs overlap.
"""
import json
import statistics
from collections import defaultdict

HARNESS = ("pass", "entry", "build", "execute")


class Node:
    def __init__(self, kind, start, end, rec=None):
        self.kind, self.start, self.end, self.rec = kind, start, end, rec or {}
        self.children = []

    def adopt(self, child):
        child.start = min(max(child.start, self.start), self.end)
        child.end = min(max(child.end, child.start), self.end)
        self.children.append(child)


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def build_tree(recs):
    """Root pass node of one pass's records."""
    by_id = {}
    for r in recs:
        if r["kind"] in HARNESS:
            by_id[r["id"]] = Node(r["kind"], r["start"], r["end"], r)
    root = next(n for n in by_id.values() if n.kind == "pass")
    for n in by_id.values():
        if n.kind != "pass":
            by_id[n.rec["parent"]].adopt(n)
    phases = [n for n in by_id.values() if n.kind in ("build", "execute")]

    def innermost(t, candidates):
        inside = [c for c in candidates if c.start <= t <= c.end]
        return max(inside, key=lambda c: c.start) if inside else root

    batches = [Node("batch", r["start"], r["end"], r) for r in recs if r["kind"] == "batch"]
    for b in batches:
        innermost(b.start, phases).adopt(b)
    jobs = {}
    for r in recs:
        if r["kind"] == "job":
            j = Node("job", r["start"], r["end"], r)
            innermost(j.start, batches + phases).adopt(j)
            jobs[r["id"]] = j
    for r in recs:
        if r["kind"] == "stage":
            s = Node("stage", r["start"], r["end"], r)
            parent = jobs.get(r["job"]) or innermost(s.start, list(jobs.values()) + phases)
            parent.adopt(s)
    return root


def self_times(entry):
    """{node: seconds charged}; the values sum to the entry's wall time."""
    nodes = []

    def walk(n, depth):
        nodes.append((n, depth))
        for c in n.children:
            walk(c, depth + 1)
    walk(entry, 0)
    nodes.sort(key=lambda nd: nd[0].start)
    points = sorted({p for n, _ in nodes for p in (n.start, n.end)})
    charged = defaultdict(float)
    active, i = [], 0
    for a, b in zip(points, points[1:]):
        while i < len(nodes) and nodes[i][0].start <= a:
            active.append(nodes[i])
            i += 1
        active = [nd for nd in active if nd[0].end > a]
        if active:
            n, _ = max(active, key=lambda nd: (nd[1], nd[0].start))
            charged[n] += (b - a) / 1e3
    return charged


def pass_metrics(recs):
    root = build_tree(recs)
    m = defaultdict(float)
    residual = 0.0
    for entry in (c for c in root.children if c.kind == "entry"):
        charged = self_times(entry)
        wall = (entry.end - entry.start) / 1e3
        residual = max(residual, abs(sum(charged.values()) - wall))
        for n, s in charged.items():
            m[f"{n.kind}_self_s"] += s
            if n.kind in ("entry", "build", "execute", "batch"):
                m["driver_idle_s"] += s
        for phase in entry.children:
            if phase.kind == "build":
                m["build_s"] += (phase.end - phase.start) / 1e3
                m["build_jobs"] += sum(1 for _ in _jobs_under(phase))
    stages = [r for r in recs if r["kind"] == "stage"]
    plans = [r for r in recs if r["kind"] == "plan"]
    batches = [r for r in recs if r["kind"] == "batch"]
    m["jobs"] = sum(1 for r in recs if r["kind"] == "job")
    m["stages"] = len(stages)
    sums = {k: sum(s[k] for s in stages) for k in (
        "tasks", "failed_tasks", "task_ms", "run_ms", "cpu_ns", "gc_ms",
        "in_bytes", "in_rows", "scan_task_ms", "out_bytes", "out_rows",
        "write_task_ms", "sw_bytes", "sr_bytes", "fetch_wait_ms", "spill_bytes")}
    m["tasks"] = sums["tasks"]
    m["failed_tasks"] = sums["failed_tasks"]
    m["task_overhead_s"] = (sums["task_ms"] - sums["run_ms"]) / 1e3
    m["scan_bytes"] = sums["in_bytes"]
    m["scan_rows"] = sums["in_rows"]
    m["scan_task_s"] = sums["scan_task_ms"] / 1e3
    m["scan_mb_per_task_s"] = (sums["in_bytes"] / 1e6 / m["scan_task_s"]
                               if m["scan_task_s"] else 0.0)
    m["shuffle_write_bytes"] = sums["sw_bytes"]
    m["shuffle_read_bytes"] = sums["sr_bytes"]
    m["shuffle_fetch_wait_s"] = sums["fetch_wait_ms"] / 1e3
    m["spill_bytes"] = sums["spill_bytes"]
    m["executor_cpu_s"] = sums["cpu_ns"] / 1e9
    m["executor_run_s"] = sums["run_ms"] / 1e3
    m["gc_s"] = sums["gc_ms"] / 1e3
    m["write_bytes"] = sums["out_bytes"]
    m["write_rows"] = sums["out_rows"]
    m["write_task_s"] = sums["write_task_ms"] / 1e3
    m["analysis_s"] = sum(p["analysis_ms"] for p in plans) / 1e3
    m["optimizer_s"] = sum(p["optimizer_ms"] for p in plans) / 1e3
    m["physical_planning_s"] = sum(p["planning_ms"] for p in plans) / 1e3
    m["plan_nodes"] = sum(p["nodes"] for p in plans)
    m["exchanges"] = sum(p["exchanges"] for p in plans)
    m["micro_batches"] = len(batches)
    m["empty_batch_frac"] = (sum(1 for b in batches if b["rows"] == 0) / len(batches)
                             if batches else 0.0)
    m["trigger_s"] = sum(b["end"] - b["start"] for b in batches) / 1e3
    m["add_batch_s"] = sum(b["add_batch_ms"] for b in batches) / 1e3
    m["wal_commit_s"] = sum(b["wal_commit_ms"] for b in batches) / 1e3
    m["stream_planning_s"] = sum(b["planning_ms"] for b in batches) / 1e3
    m["state_rows"] = sum(b["state_rows"] for b in batches)
    m["late_rows_dropped"] = sum(b["late_rows"] for b in batches)
    return m, residual


def _jobs_under(n):
    for c in n.children:
        if c.kind == "job":
            yield c
        yield from _jobs_under(c)


def layer_metrics(spans_path, passes):
    """Median over the traced passes of each per-pass metric, and the
    largest gap between an entry's summed self times and its wall time."""
    recs = load(spans_path)
    per_pass, residual = [], 0.0
    for p in passes:
        if p["traced"]:
            m, r = pass_metrics([x for x in recs if x["pass"] == p["pass"]])
            per_pass.append(m)
            residual = max(residual, r)
    keys = sorted({k for m in per_pass for k in m})
    return {k: statistics.median(m.get(k, 0.0) for m in per_pass) for k in keys}, residual
