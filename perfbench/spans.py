"""Reads a run's trace (trace.jsonl: one span per line) into per-layer
metrics and per-layer self time.

A span is {req, layer, name, start, end, attrs}; times are seconds on
one clock. Spans of one request share `req`; a stream micro-batch's
spans share req "batch-<id>". The parent of a span is the innermost
span of the same request, at a shallower level, whose interval holds
its start. Self time is a span's duration minus the part of it that its
children cover."""
import json
from collections import defaultdict

# depth of each (layer, name) in the span tree
LEVEL = {("client", "request"): 0, ("streaming", "batch"): 0,
         ("front_door", "resolve"): 1, ("operators", "build"): 1,
         ("snapshots", "read_resolve"): 1, ("action", None): 1,
         ("catalyst", None): 2, ("scheduler", "job"): 2,
         ("scheduler", "stage"): 3}


def level(s):
    return LEVEL.get((s["layer"], s["name"]), LEVEL.get((s["layer"], None), 2))


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of `intervals`."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def tree(spans):
    """Assigns each span its parent index ('parent') and children list."""
    by_req = defaultdict(list)
    for i, s in enumerate(spans):
        s["parent"], s["children"] = None, []
        by_req[s["req"]].append(i)
    for idxs in by_req.values():
        for i in idxs:
            s, best = spans[i], None
            for j in idxs:
                p = spans[j]
                if level(p) < level(s) and p["start"] <= s["start"] <= p["end"]:
                    if best is None or (level(p), -(p["end"] - p["start"])) > \
                            (level(spans[best]), -(spans[best]["end"] - spans[best]["start"])):
                        best = j
            if best is not None:
                s["parent"] = best
                spans[best]["children"].append(i)
    return spans


def self_times(spans):
    """{(layer, name): [total seconds, total self seconds, count]}"""
    out = defaultdict(lambda: [0.0, 0.0, 0])
    for s in spans:
        dur = max(0.0, s["end"] - s["start"])
        kids = [(spans[c]["start"], spans[c]["end"]) for c in s["children"]]
        row = out[(s["layer"], s["name"])]
        row[0] += dur
        row[1] += dur - covered(kids, s["start"], s["end"])
        row[2] += 1
    return dict(out)


def per_layer(spans, ops, result, window, cpus):
    """The per-layer metrics of one traced run (see README.md for each
    definition). Per-operation metrics are totals over the timed
    operations divided by their number; stream metrics are means per
    micro-batch of the window."""
    timed = {o["req"]: o for o in ops}
    n = max(len(timed), 1)
    w0, w1 = window
    mine = [s for s in spans if s["req"] in timed]

    def total(layer, name=None, attr=None):
        return sum((s["attrs"].get(attr, 0.0) if attr else s["end"] - s["start"])
                   for s in mine if s["layer"] == layer
                   and (name is None or s["name"] == name))

    jobs = defaultdict(list)
    for s in mine:
        if (s["layer"], s["name"]) == ("scheduler", "job"):
            jobs[s["req"]].append((s["start"], s["end"]))
    action_start = {s["req"]: s["start"] for s in mine if s["layer"] == "action"}
    eager = sum(1 for r, js in jobs.items() for a, _ in js
                if a < action_start.get(r, float("inf")))
    gap = wall = 0.0
    for r, o in timed.items():
        wall += o["end"] - o["start"]
        gap += (o["end"] - o["start"]) - covered(jobs.get(r, []), o["start"], o["end"])
    stages = [s for s in mine if (s["layer"], s["name"]) == ("scheduler", "stage")]
    all_stages = [s for s in spans if s["name"] == "stage" and s["end"] >= w0
                  and s["start"] <= w1]
    cpu_all = sum(s["attrs"].get("task_cpu_s", 0.0) for s in all_stages)
    # the window's micro-batches (set-up's base commit ends before it)
    batches = [b for b in result.get("batches_log", []) if b["end"] >= w0]
    nb = max(len(batches), 1)

    def bmean(*keys):
        return sum(sum(b.get(k, 0.0) for k in keys) for b in batches) / nb

    cg = result.get("codegen_compiles", 0)
    return {
        "resolve_s": total("front_door", "resolve") / n,
        "build_s": total("operators", "build") / n,
        "eager_jobs": eager / n,
        "optimize_s": total("catalyst", "optimization") / n,
        "physical_plan_s": total("catalyst", "planning") / n,
        "codegen_compiles": cg / n,
        "codegen_compile_s": cg * result.get("codegen_mean_ms", 0.0) / 1e3 / n,
        "jobs": sum(len(v) for v in jobs.values()) / n,
        "stages": len(stages) / n,
        "tasks": total("scheduler", "stage", "tasks") / n,
        "driver_gap_s": gap / n,
        "driver_share": gap / wall if wall else 0.0,
        "slot_wait_s": total("scheduler", "stage", "slot_wait_s") / n,
        "task_run_s": total("scheduler", "stage", "task_run_s") / n,
        "task_cpu_s": total("scheduler", "stage", "task_cpu_s") / n,
        "gc_s": total("scheduler", "stage", "gc_s") / n,
        "cpu_util": cpu_all / ((w1 - w0) * cpus),
        "input_bytes": total("scheduler", "stage", "input_bytes") / n,
        "peak_exec_mem_bytes": max([s["attrs"].get("peak_exec_mem_bytes", 0.0)
                                    for s in stages] or [0.0]),
        "shuffle_write_bytes": total("scheduler", "stage", "shuffle_write_bytes") / n,
        "shuffle_read_bytes": total("scheduler", "stage", "shuffle_read_bytes") / n,
        "shuffle_fetch_wait_s": total("scheduler", "stage", "shuffle_fetch_wait_s") / n,
        "spill_bytes": total("scheduler", "stage", "spill_bytes") / n,
        "batches": float(len(batches)),
        "rows_per_batch": bmean("rows"),
        "batch_add_s": bmean("addBatch_s"),
        "batch_offsets_s": bmean("latestOffset_s", "getBatch_s"),
        "batch_plan_s": bmean("queryPlanning_s"),
        "batch_wal_s": bmean("walCommit_s", "commitOffsets_s"),
        "batch_trigger_s": bmean("triggerExecution_s"),
        "snap_versions": float(result.get("snap_versions", 0)),
        "snap_files": float(result.get("snap_files", 0)),
        "write_amp": float(result.get("write_amp", 0.0)),
        "read_resolve_s": total("snapshots", "read_resolve") / n,
    }
