#!/usr/bin/env python3
"""Per-layer self time from a traced benchmark run.

    python3 perfbench/trace_report.py .bench_build/perfbench/traces/analyst-s1.jsonl
    python3 perfbench/trace_report.py --compare

The first form prints, for each (layer, span name), the total time, the
self time (time not covered by child spans) and the span count, over
every request of the run. `--compare` reads the traced results the runs
left in .bench_build/perfbench/results/ and says whether the workloads
separate the layers as designed: `analyst` should be driver-bound (a
larger share of request time with no Spark job running) and `pipeline`
executor-bound (higher task CPU per core-second).
"""
import glob
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import spans  # noqa: E402


def self_time_table(path):
    sp = spans.tree(spans.load(path))
    rows = sorted(spans.self_times(sp).items(), key=lambda kv: -kv[1][1])
    print(f"{'layer':<12} {'span':<14} {'total_s':>10} {'self_s':>10} {'count':>7}")
    for (layer, name), (tot, own, n) in rows:
        print(f"{layer:<12} {name:<14} {tot:>10.3f} {own:>10.3f} {n:>7d}")


def compare():
    root = os.path.join(os.path.dirname(HERE),
                        os.environ.get("CARGO_TARGET_DIR") or ".bench_build",
                        "perfbench", "results")
    by = {}
    for p in sorted(glob.glob(os.path.join(root, "*-t1.json"))):
        r = json.load(open(p))
        by.setdefault(r["workload"], []).append(r["per_layer"])
    if not by:
        print("no traced results yet: run perfbench/run.py --trace 1 first")
        return 1

    def mean(w, k):
        xs = [pl[k] for pl in by.get(w, [])]
        return sum(xs) / len(xs) if xs else None

    for w in sorted(by):
        print(f"{w:<9} runs={len(by[w])} driver_share={mean(w, 'driver_share'):.3f} "
              f"cpu_util={mean(w, 'cpu_util'):.3f} "
              f"task_cpu_s/op={mean(w, 'task_cpu_s'):.3f}")
    a, p = "analyst", "pipeline"
    if a in by and p in by:
        ok = (mean(a, "driver_share") > mean(p, "driver_share")
              and mean(p, "cpu_util") > mean(a, "cpu_util"))
        print("layers separate as designed" if ok else
              "layers do NOT separate as designed: analyst is not more "
              "driver-bound than pipeline, or pipeline is not more "
              "executor-bound than analyst")
    return 0


if __name__ == "__main__":
    if sys.argv[1:] == ["--compare"]:
        sys.exit(compare())
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    self_time_table(sys.argv[1])
