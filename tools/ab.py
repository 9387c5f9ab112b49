#!/usr/bin/env python3
"""Paired A/B of two revisions on a perfbench workload.

    python3 tools/ab.py --base REV [--change REV] --workload ingest \\
        --seeds 8000-8009 [--seconds 15] [--trace 0] [--workdir DIR] \\
        [--out runs.json]

Each side is exported with `git archive` into its own directory (without
--change, the change side is the working tree: tracked files plus the
untracked ones .gitignore does not exclude) and built by its own
perfbench/build.py into its own build directory. For every seed the two
sides run `perfbench/run.py` once each, alternating which side goes
first, so a slow spell on the host falls on both sides alike. The sf0.1
tables are generated once and shared when both sides carry the same
tools/gen_sf.py.

For every metric in a run's result line it prints each side's median and
quartiles, how many pairs the change won (ties count for neither side,
the direction comes from BENCHMARK.json), the median change, and whether
that change exceeds the distance between the base's quartiles. For
analyst runs it prints the same for each run's median latency by request
kind: patient-scope cohorts, encounter-using cohorts with and without a
date window, and reports (perfbench/plans.py classifies them). Give
--workdir to keep builds and tables for a later call; without it
everything lives in a temporary directory that is removed at the end.
"""
import argparse
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import tarfile
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))
import plans  # noqa: E402  (perfbench/plans.py: the analyst request plan)


def git(*args):
    return subprocess.run(["git", "-C", ROOT, *args], check=True,
                          capture_output=True).stdout


def export(rev, dest):
    """The tree of `rev` (or, for None, the working tree) at `dest`."""
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    if rev is not None:
        with tarfile.open(fileobj=io.BytesIO(git("archive", "--format=tar", rev))) as t:
            t.extractall(dest)
        return git("rev-parse", rev).decode().strip()
    files = git("ls-files", "-z", "--cached", "--others", "--exclude-standard")
    for rel in filter(None, files.decode().split("\0")):
        src = os.path.join(ROOT, rel)
        if os.path.isfile(src):
            os.makedirs(os.path.dirname(os.path.join(dest, rel)), exist_ok=True)
            shutil.copy2(src, os.path.join(dest, rel))
    return "working tree"


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def request_kind(key, defs):
    """An analyst request's kind, from its key in the seed's plan."""
    if key in plans.REPORTS:
        return "report"
    d = defs[key]
    if not plans.uses_encounters(d):
        return "patient"
    return "encounter_window" if "from" in d or "until" in d else "encounter_no_window"


def kind_medians(ops, seed):
    """{kind: median latency} over a run's timed (key, seconds) ops."""
    defs = plans.analyst_plan(seed, 1)["defs"]
    by = {}
    for key, secs in ops:
        by.setdefault(request_kind(key, defs), []).append(secs)
    return {k: statistics.median(v) for k, v in sorted(by.items())}


def run(tree, build, workload, seed, seconds, trace):
    """The metrics of one perfbench run, or an error string."""
    env = dict(os.environ, CARGO_TARGET_DIR=build)
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds),
                        "--trace", str(trace)],
                       cwd=tree, env=env, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return {"error": f"exit {p.returncode}: {p.stderr.strip()[-400:]}"}
    last = json.loads(lines[-1])
    # the run's full record carries the host annotations
    with open(os.path.join(build, "perfbench", "results",
                           f"{workload}-s{seed}-t{trace}.json")) as f:
        record = json.load(f)
    out = {"correct": last["correct"], "failed": last["failed"],
           "attempted": last["attempted"], "steal_share": record["host"]["steal_share"],
           "metrics": {k: v["value"] for k, v in last["metrics"].items()}}
    if workload == "analyst":
        out["kind_latency_p50_s"] = kind_medians(record["ops"], seed)
    return out


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def summary(runs, better, field="metrics"):
    """Per-metric paired comparison of each run's `field` values."""
    pairs = {}
    for r in runs:
        if field in r:
            pairs.setdefault(r["seed"], {})[r["side"]] = r[field]
    pairs = [p for p in pairs.values() if len(p) == 2]
    names = list(dict.fromkeys(k for p in pairs for k in p["base"]))
    if field == "metrics":
        print(f"{len(pairs)} complete pairs; failed runs: "
              f"{sum('error' in r for r in runs)}; runs with wrong answers: "
              f"{sum(not r.get('correct', True) for r in runs)}")
        for side in ("base", "change"):
            st = [r["steal_share"] for r in runs if r["side"] == side and "metrics" in r]
            if st:
                print(f"{side} CPU steal share: median {statistics.median(st):.3f}, "
                      f"max {max(st):.3f}")
    else:
        print(f"\n{field}, by request kind:")
    print(f"{'metric':<22} {'base median [q1, q3]':>30} "
          f"{'change median [q1, q3]':>30} {'wins':>6} {'change':>8}  beyond base IQR")
    rows = []
    for k in names:
        pairs_k = [p for p in pairs if k in p["base"] and k in p["change"]]
        b = [p["base"][k] for p in pairs_k]
        c = [p["change"][k] for p in pairs_k]
        sign = -1 if better.get(k, "lower") == "lower" else 1
        wins = sum((y - x) * sign > 0 for x, y in zip(b, c))
        bq, cq = quartiles(b), quartiles(c)
        delta = cq[1] - bq[1]
        rel = delta / bq[1] if bq[1] else float("nan")
        beyond = delta * sign > 0 and abs(delta) > bq[2] - bq[0]
        print(f"{k:<22} {bq[1]:>10.4g} [{bq[0]:.4g}, {bq[2]:.4g}]".ljust(53)
              + f" {cq[1]:>10.4g} [{cq[0]:.4g}, {cq[2]:.4g}]".ljust(31)
              + f" {wins:>2}/{len(pairs_k):<3} {rel:>+8.1%}  {'yes' if beyond else 'no'}")
        rows.append({"metric": k, "better": better.get(k, "lower"), "base": bq,
                     "change": cq, "wins": wins, "pairs": len(pairs_k),
                     "beyond_base_iqr": beyond})
    return rows


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", required=True, help="revision of the base side")
    ap.add_argument("--change", help="revision of the change side "
                    "(default: the working tree)")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 8000-8009 or 8000,9001")
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--workdir")
    ap.add_argument("--out", help="write every run's metrics and the summary here")
    a = ap.parse_args()

    work = a.workdir or tempfile.mkdtemp(prefix="graft-ab-")
    os.makedirs(work, exist_ok=True)
    try:
        sides = {}
        for side, rev in (("base", a.base), ("change", a.change)):
            tree = os.path.join(work, f"tree-{side}")
            sides[side] = {"tree": tree, "rev": export(rev, tree),
                           "build": os.path.join(work, f"build-{side}")}
        gens = {open(os.path.join(s["tree"], "tools", "gen_sf.py"), "rb").read()
                for s in sides.values()}
        if len(gens) == 1:
            os.makedirs(os.path.join(work, "data"), exist_ok=True)
            for s in sides.values():
                link = os.path.join(s["build"], "perfbench", "data")
                os.makedirs(os.path.dirname(link), exist_ok=True)
                if not os.path.islink(link):
                    shutil.rmtree(link, ignore_errors=True)
                    os.symlink(os.path.join(work, "data"), link)
        for side, s in sides.items():
            print(f"{side}: {s['rev']}; building", flush=True)
            subprocess.run([sys.executable, "perfbench/build.py",
                            os.path.join(s["build"], "perfbench")],
                           cwd=s["tree"], check=True)
        with open(os.path.join(sides["change"]["tree"], "BENCHMARK.json")) as f:
            bench = json.load(f)
        better = {m["name"]: m["better"]
                  for m in bench["end_to_end"] + bench["per_layer"]}

        runs = []
        for i, seed in enumerate(seeds(a.seeds)):
            order = ("base", "change") if i % 2 == 0 else ("change", "base")
            for side in order:
                s = sides[side]
                r = run(s["tree"], s["build"], a.workload, seed, a.seconds, a.trace)
                r.update(side=side, seed=seed, first=order[0])
                runs.append(r)
                shown = r.get("error") or " ".join(
                    [f"{k}={v:.4g}" for k, v in r["metrics"].items()
                     if k in [m["name"] for m in bench["end_to_end"]]]
                    + [f"steal={r['steal_share']:.3f}"])
                print(f"seed {seed} {side:<6} {shown}", flush=True)
        print(f"\n{a.workload}, trace={a.trace}, {a.seconds:g} s windows; "
              f"base {sides['base']['rev']}, change {sides['change']['rev']}")
        rows = summary(runs, better)
        kinds = summary(runs, better, "kind_latency_p50_s") \
            if a.workload == "analyst" else []
        if a.out:
            with open(a.out, "w") as f:
                json.dump({"workload": a.workload, "trace": a.trace,
                           "seconds": a.seconds,
                           "base": sides["base"]["rev"],
                           "change": sides["change"]["rev"],
                           "runs": runs, "summary": rows,
                           "kind_summary": kinds}, f, indent=1)
        return 0
    finally:
        if not a.workdir:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
