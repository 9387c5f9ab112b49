#!/usr/bin/env python3
"""graft's benchmark.

    python3 perfbench/run.py --workload analyst|pipeline|ingest \
        --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --self-test

Checks the benchmark's Spark confs against graft.Bench's, compiles
graft's sources plus perfbench/src with the Scala compiler in Spark's
jars on first use, generates the workload's inputs from the seed, runs one JVM
on local[nproc], checks the outputs (DuckDB, tools/localgate.py, the
ingest model) outside the timed window, and prints a summary followed
by one JSON line: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. See perfbench/README.md for every definition.
"""
import argparse
import glob
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402
import plans  # noqa: E402
import spans  # noqa: E402

WORKLOADS = ("analyst", "pipeline", "ingest")
# Every workload reads one fixed sf0.1 table set (see plans.PIPELINE_OPS
# for why the tables are not generated per seed).
DATA_SEED = 42
# Untimed load before the window (analyst, ingest): after set-up the JIT
# is still warming, and latency fell by a third over a window's first 7 s.
RAMP_S = 12
# A fixed heap and young generation: with G1 sizing them adaptively the
# JVM's peak RSS moved by about 25% between identical runs.
# No hsperfdata file: the JVM would write it under /tmp, outside the checkout.
JVM_OPTS = ["-Xms3g", "-Xmx3g", "-Xmn512m", "-XX:-G1UseAdaptiveIHOP",
            "-XX:-UsePerfData"]
RUN_LIMIT_S = 170    # the whole run, build excluded
REQUIRED = ["src/main/scala/graft/SparkEntry.scala", "tools/gen_sf.py",
            "tools/localgate.py", "build.sbt", "BENCHMARK.json"]
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]


def metric_units():
    """(end-to-end, per-layer) {name: unit}, in BENCHMARK.json's order."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return ({m["name"]: m["unit"] for m in b["end_to_end"]},
            {m["name"]: m["unit"] for m in b["per_layer"]})


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ------------------------------------------------------------------ inputs

def tables(seed, dest):
    """sf0.1 tables from tools/gen_sf.py with `seed`, generated once."""
    if not os.path.exists(os.path.join(dest, ".done")):
        tmp = dest + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        subprocess.run([sys.executable, os.path.join(ROOT, "tools", "gen_sf.py"),
                        "0.1", tmp, str(seed)], check=True,
                       stdout=subprocess.DEVNULL)
        shutil.rmtree(dest, ignore_errors=True)
        os.rename(tmp, dest)
        open(os.path.join(dest, ".done"), "w").close()
    return dest


def read_orders(con, data):
    return con.execute(
        f"SELECT o_orderkey, o_orderstatus, o_totalprice "
        f"FROM '{data}/orders.parquet' ORDER BY o_orderkey").fetchnumpy()


# ------------------------------------------------------------------ checks

def localgate(data, dump, names, flags=()):
    """{name: passed} from tools/localgate.py over the dumped results; a
    result that was never dumped fails."""
    cmd = [sys.executable, os.path.join(ROOT, "tools", "localgate.py"), *flags]
    p = subprocess.run(cmd + [data, dump] + names, capture_output=True,
                       text=True, env=dict(os.environ, GATE_DUCKDB_MEM="2GB"),
                       timeout=120)
    verdict = {n: False for n in names}
    for line in p.stdout.splitlines():
        m = re.match(r"(PASS|FAIL) (\S+?):?( |$)", line)
        if m and m.group(2) in verdict:
            verdict[m.group(2)] = m.group(1) == "PASS"
    if not all(verdict.values()):
        sys.stderr.write(p.stdout[-3000:] + p.stderr[-3000:])
    return verdict


def check_analyst(con, data, plan, ops, dump):
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{data}/events.parquet'")
    con.execute(plans.ENCOUNTERS_SQL)
    used = {o["key"] for o in ops if o["kind"] == "cohort"}
    expect = plans.cohort_counts(con, {k: plan["defs"][k] for k in sorted(used)})
    wrong = [o["req"] for o in ops if o["kind"] == "cohort" and o["ok"]
             and o["result"] != expect[o["key"]]]
    gate = localgate(data, dump, plan["reports"])
    bad = sorted(n for n, ok in gate.items() if not ok)
    return wrong, bad, {"cohort_mismatches": wrong[:20], "reports_failing": bad}


def check_ingest(con, plan, incoming, landed, dump):
    """Final HEAD, and the report over it, against the latest-wins model
    of the base and every delta that landed in `incoming`."""
    files = [os.path.join(incoming, os.path.basename(f)) for f in
             [plan["base"]] + [d["file"] for d in plan["deltas"][:landed]]]
    con.execute(f"CREATE TABLE model AS {plans.ingest_model_sql(files)}")
    con.execute(f"CREATE TABLE head AS SELECT * FROM '{dump}/head/*.parquet'")
    n_model, n_head = (con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
                       for t in ("model", "head"))
    diff = con.execute(
        "SELECT count(*) FROM model FULL JOIN head ON k = o_orderkey "
        "WHERE k IS NULL OR o_orderkey IS NULL OR v <> __v "
        "OR s <> o_orderstatus OR p <> o_totalprice").fetchone()[0]
    by_status = {s: (n, int(c)) for s, n, c in con.execute(
        "SELECT s, count(*), sum(round(p * 100)) FROM model GROUP BY s").fetchall()}
    rep = con.execute(f"SELECT o_orderstatus, n, revenue "
                      f"FROM '{dump}/report/*.parquet'").fetchall()
    report_ok = {s: (n, round(r * 100)) for s, n, r in rep} == by_status
    return diff == 0, report_ok, {"head_rows": n_head, "model_rows": n_model,
                                  "head_mismatched_keys": diff}


# ------------------------------------------------------------------ metrics

def quantile(xs, q):
    xs = sorted(xs)
    if not xs:
        return 0.0
    i = q * (len(xs) - 1)
    lo = int(i)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (i - lo)


def consumed_by(checkpoint):
    """{file name: micro-batch id}, from the file source's own log in the
    stream checkpoint (`numInputRows` is no guide: it counts a row again
    each time the sink scans the batch)."""
    out = {}
    for p in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        with open(p) as f:
            for line in f:
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = e["batchId"]
    return out


def freshness_ingest(result, plan):
    """Per landed file: due time → end of the micro-batch that read it.
    Also sets each logged batch's `rows` to the rows of the files it read."""
    consumed = consumed_by(os.path.join(
        os.path.dirname(result["table_root"]), "checkpoint"))
    ends = {b["id"]: b["end"] for b in result["batches_log"]}
    rows_in = {consumed.get("base.csv"): plan["base_rows"]}
    out, missing = [], 0
    w0 = result["window"][0]
    for i, due, _, rows in sorted(result["landed"]):
        b = consumed.get(os.path.basename(plan["deltas"][int(i)]["file"]))
        if b in ends:
            rows_in[b] = rows_in.get(b, 0) + rows
            if due >= w0:
                out.append((due, ends[b]))
        else:
            missing += 1
    for b in result["batches_log"]:
        b["rows"] = rows_in.get(b["id"], 0)
    return out, missing


def end_to_end(name, result, ops, plan, seconds):
    w0, w1 = result["window"]
    lat = [o["end"] - o["start"] for o in ops]
    # completions inside the window over the time they took: continuous,
    # unlike a count over the fixed window length
    ends = sorted(o["end"] for o in ops if o["end"] <= w0 + seconds)
    rate = len(ends) / (ends[-1] - w0) if ends else 0.0
    extra = {}
    if name == "pipeline":
        # one batch: every operator's input is due when the batch starts
        fresh = [o["end"] - w0 for o in ops]
        extra["makespan_s"] = w1 - w0
        tput = len(ops) / (w1 - w0)
    elif name == "ingest":
        pairs, missing = freshness_ingest(result, plan)
        fresh = [e - d for d, e in pairs]
        tput = rate
        extra["files_never_visible"] = missing
        late = [landed - due for _, due, landed, _ in result["landed"]]
        extra["generator_late_p50_s"] = quantile(late, 0.5)
        extra["generator_late_max_s"] = max(late) if late else 0.0
    else:
        # a closed-loop request is due when it is sent: freshness is latency
        fresh = lat
        tput = rate
    metrics = {
        # JVM launch to the end of the one, cold set-up
        "setup_s": result["jvm_boot_s"] + result["setup_s"],
        "latency_p50_s": quantile(lat, 0.5),
        "throughput_rps": tput,
        "freshness_p50_s": quantile(fresh, 0.5),
        "peak_rss_mb": result["peak_rss_mb"],
    }
    # tails, printed but not in BENCHMARK.json: too few independent samples
    # beyond them in a window to be steady from run to run (README)
    extra["tails"] = {"latency_p75_s": quantile(lat, 0.75),
                      "latency_p95_s": quantile(lat, 0.95),
                      "freshness_p95_s": quantile(fresh, 0.95)}
    samples = {"latency": len(lat), "freshness": len(fresh)}
    return metrics, samples, extra


# ------------------------------------------------------------------ annotations

def cpu_times():
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def host_note(stat0, stat1, load0):
    d = [b - a for a, b in zip(stat0, stat1)]
    tot = sum(d) or 1
    rev = None
    if os.path.exists(os.path.join(ROOT, ".git")):
        rev = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True).stdout.strip() or None
    return {"loadavg_before": load0, "loadavg_after": os.getloadavg(),
            "iowait_share": d[4] / tot, "steal_share": d[7] / tot if len(d) > 7 else 0.0,
            "nproc": len(os.sched_getaffinity(0)), "git_revision": rev}


def traffic_note(name, plan, ops, extra, ingest_stats=None):
    if name == "analyst":
        cohort = sorted((o for o in ops if o["kind"] == "cohort"),
                        key=lambda o: o["start"])
        seen, rep = set(), 0
        for o in cohort:
            rep += o["key"] in seen
            seen.add(o["key"])
        enc = sum(plans.uses_encounters(plan["defs"][o["key"]]) for o in cohort)
        return {"cohort_requests": len(cohort),
                "report_requests": len(ops) - len(cohort),
                "repeat_share": rep / max(len(cohort), 1),
                "encounter_scope_share": enc / max(len(cohort), 1)}
    if name == "ingest":
        return dict(ingest_stats, **extra)
    return {"operator_order": plan["ops"]}


# ------------------------------------------------------------------ self-test

def _code(text):
    """Scala source with `//` comments blanked out (strings kept)."""
    out, i, q = [], 0, False
    while i < len(text):
        c = text[i]
        if c == '"':
            q = not q
        elif not q and text.startswith("//", i):
            while i < len(text) and text[i] != "\n":
                i += 1
            continue
        out.append(c)
        i += 1
    return "".join(out)


def _args(text, i):
    """The top-level comma-separated arguments of the call whose opening
    parenthesis is at text[i]."""
    args, depth, q, j = [], 0, False, i + 1
    for k in range(i, len(text)):
        c = text[k]
        if c == '"':
            q = not q
        elif q:
            continue
        elif c in "([{":
            depth += 1
        elif c in ")]}":
            depth -= 1
            if depth == 0:
                return args + [text[j:k].strip()]
        elif c == "," and depth == 1:
            args.append(text[j:k].strip())
            j = k + 1
    raise ValueError("unbalanced call")


def conf_value(expr):
    """What a conf value expression sets: a literal; the literal default
    of an environment override; the session's core count; or graft's
    data-sized AQE shuffle width. None if it is none of these."""
    e = " ".join(expr.split())
    if "GraftConf.initShufflePartitions(" in e:
        return "GraftConf.initShufflePartitions(data, cores)"
    if e in ("cpus", "cpus.toString"):
        return "cores"
    m = re.fullmatch(r'"([^"]*)"', e) or re.fullmatch(
        r'sys\.env\.getOrElse\("[^"]*",\s*"([^"]*)"\)', e)
    return m.group(1) if m else None


def conf_drift():
    """Pins the benchmark session to Bench's production confs: every
    `.config(key, value)` in Bench.scala must appear in
    Session.production with the value it means, and vice versa. Returns
    (Bench conf count, perfbench conf count, problems)."""
    bench = _code(open(os.path.join(
        ROOT, "src/main/scala/graft/Bench.scala")).read())
    mine = _code(open(os.path.join(
        HERE, "src/main/scala/graft/perfbench/Session.scala")).read())
    b = {}
    for m in re.finditer(r"\.config\(", bench):
        k, v = _args(bench, m.end() - 1)
        b[k.strip('"')] = v
    prod = re.search(r"def production\(.*?\) *: *Map\[String, String\] *= *Map\(",
                     mine, re.S)
    if not prod:
        return len(b), 0, ["Session.production not found"]
    s = {}
    for item in _args(mine, prod.end() - 1):
        k, v = item.split("->", 1)
        s[k.strip().strip('"')] = v
    problems = [f"{k}: only in {'Bench' if k in b else 'perfbench'}"
                for k in sorted(set(b) ^ set(s))]
    for k in sorted(set(b) & set(s)):
        bv, sv = conf_value(b[k]), conf_value(s[k])
        if bv is None or sv is None or bv != sv:
            problems.append(f"{k}: Bench {' '.join(b[k].split())} "
                            f"vs perfbench {' '.join(s[k].split())}")
    return len(b), len(s), problems


# ------------------------------------------------------------------ main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        fail("graft's sources are not beside perfbench/ (missing "
             + ", ".join(missing) + "); run from a full checkout")
    n_bench, n_mine, drift = conf_drift()
    if a.self_test:
        for p in drift:
            print(f"conf drift: {p}")
        print(f"self-test: {n_bench} Bench confs, {n_mine} perfbench confs, "
              f"{'FAIL' if drift else 'PASS'}")
        return 1 if drift else 0
    if drift:
        fail("the session's confs drifted from graft.Bench's: " + "; ".join(drift))
    if not a.workload:
        fail("--workload is required")

    broot = build.build_root()
    os.makedirs(broot, exist_ok=True)
    try:
        classes, stamp = build.build(broot)
        jars = build.spark_jars()
    except build.BuildError as e:
        fail(f"build failed: {e}", 1)
    t_start = time.time()
    import duckdb

    run = os.path.join(broot, "runs", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(run, ignore_errors=True)    # left by a killed run
    os.makedirs(os.path.join(run, "tmp"))
    try:
        con = duckdb.connect()
        cpus = len(os.sched_getaffinity(0))   # nproc
        ingest_stats = None
        data = tables(DATA_SEED, os.path.join(broot, "data", f"sf0.1-s{DATA_SEED}"))
        if a.workload == "pipeline":
            plan = {"ops": plans.PIPELINE_OPS}
        elif a.workload == "analyst":
            plan = plans.analyst_plan(a.seed, cpus)
        else:
            plan, ingest_stats = plans.ingest_plan(
                a.seed, read_orders(con, data), RAMP_S + a.seconds,
                os.path.join(run, "input"))
        plan_path = os.path.join(run, "plan.json")
        with open(plan_path, "w") as f:
            json.dump(plan, f)

        t_jvm = time.time()
        stat0, load0 = cpu_times(), os.getloadavg()
        cmd = ["java", *JVM_OPTS, f"-Djava.io.tmpdir={run}/tmp",
               "-Dspark.ui.enabled=false"]
        for p in OPENS:
            cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
        cmd += ["-cp", f"{classes}:{jars}/*", "graft.perfbench.Main",
                a.workload, data, run, plan_path, str(RAMP_S), str(a.seconds),
                str(a.trace), str(cpus)]
        env = dict(os.environ, GRAFT_SCRATCH=os.path.join(run, "scratch"),
                   SPARK_LOCAL_DIRS=os.path.join(run, "spark-local"))
        with open(os.path.join(run, "jvm.log"), "w") as log:
            try:
                rc = subprocess.run(cmd, cwd=run, env=env, stdout=log,
                                    stderr=subprocess.STDOUT,
                                    timeout=RUN_LIMIT_S - 30 - (time.time() - t_start)
                                    ).returncode
            except subprocess.TimeoutExpired:
                rc = "timeout"
        stat1 = cpu_times()
        t_checks = time.time()
        if rc != 0:
            sys.stderr.write(open(os.path.join(run, "jvm.log")).read()[-6000:])
            fail(f"the {a.workload} JVM ended with {rc}", 1)

        with open(os.path.join(run, "result.json")) as f:
            result = json.load(f)
        with open(os.path.join(run, "ops.jsonl")) as f:
            all_ops = [json.loads(line) for line in f]
        # the window's operations: those sent after the ramp
        ops = [o for o in all_ops if o["start"] >= result["window"][0]
               and not o["req"].startswith("setup")]
        dump = os.path.join(run, "dump")
        metrics, samples, extra = end_to_end(a.workload, result, ops, plan, a.seconds)

        # correctness, outside the timed window
        failed_ops = [o["req"] for o in ops if not o["ok"]]
        checks = {}
        if a.workload == "analyst":
            wrong, bad, checks = check_analyst(con, data, plan, all_ops, dump)
            n_checks, n_bad = len(plan["reports"]), len(bad) + len(wrong)
        elif a.workload == "pipeline":
            # union-find and numpy pair oracles: localgate's validated
            # fast forms of the recursive-CTE and unrolled-dot oracles
            gate = localgate(data, dump, plan["ops"], ("--uf", "--emb-numpy"))
            bad = sorted(n for n, ok in gate.items() if not ok)
            checks = {"operators_failing": bad}
            n_checks, n_bad = len(gate), len(bad)
        else:
            landed = len(result["landed"])
            root = result["table_root"]
            head_ok, report_ok, checks = check_ingest(
                con, plan, os.path.join(os.path.dirname(root), "incoming"),
                landed, dump)
            stored = sum(os.path.getsize(p) for p in glob.glob(
                f"{root}/**/*", recursive=True) if os.path.isfile(p))
            ingested = plan["base_bytes"] + sum(
                d["bytes"] for d in plan["deltas"][:landed])
            result["write_amp"] = stored / ingested
            n_checks = 2
            n_bad = (not head_ok) + (not report_ok) + extra["files_never_visible"]
        attempted = len(ops) + n_checks
        failed = len(failed_ops) + n_bad

        record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                  "trace": a.trace, "end_to_end": metrics, "samples": samples,
                  "attempted": attempted, "failed": failed,
                  "error_rate": failed / attempted, "failed_ops": failed_ops[:20],
                  "ops": [(o["key"], o["end"] - o["start"]) for o in ops],
                  "tails": extra.pop("tails"),
                  "setup_parts_s": {"jvm_boot": result["jvm_boot_s"],
                                    "setup": result["setup_s"]},
                  "setup_ops": [(o["req"], o["key"], o["end"] - o["start"])
                                for o in all_ops if o["req"].startswith("setup")],
                  "checks": checks,
                  "traffic": traffic_note(a.workload, plan, ops, extra, ingest_stats),
                  "host": dict(host_note(stat0, stat1, load0), seed=a.seed,
                               source_stamp=stamp[:16]),
                  "harness_s": {"inputs": t_jvm - t_start, "jvm": t_checks - t_jvm,
                                "checks": time.time() - t_checks}}
        if a.workload == "pipeline":
            record["makespan_s"] = extra["makespan_s"]
        if a.workload == "ingest":
            record["micro_batches"] = [(b["id"], b["start"], b["end"], b["rows"])
                                       for b in result["batches_log"]]
            record["window"] = result["window"]
        if a.trace:
            sp = spans.tree(spans.load(os.path.join(run, "trace.jsonl")))
            record["per_layer"] = spans.per_layer(sp, ops, result,
                                                  result["window"], result["cpus"])
            os.makedirs(os.path.join(broot, "traces"), exist_ok=True)
            shutil.copy(os.path.join(run, "trace.jsonl"), os.path.join(
                broot, "traces", f"{a.workload}-s{a.seed}.jsonl"))
        os.makedirs(os.path.join(broot, "results"), exist_ok=True)
        with open(os.path.join(broot, "results",
                               f"{a.workload}-s{a.seed}-t{a.trace}.json"), "w") as f:
            json.dump(record, f, indent=1)
        e2e_units, layer_units = metric_units()
        report(record, broot, e2e_units, layer_units)
        values, units = (record["per_layer"], layer_units) if a.trace \
            else (metrics, e2e_units)
        out = {"correct": failed == 0, "attempted": attempted, "failed": failed,
               "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()}}
        print(json.dumps(out))
        return 0
    finally:
        shutil.rmtree(run, ignore_errors=True)


def report(r, broot, e2e_units, layer_units):
    """Human-readable summary, printed above the result line."""
    def tail_note(k):
        s, q = r["samples"][k.split("_")[0]], int(k.split("_")[1][1:]) / 100
        return f"n={s}, {int(s * (1 - q))} beyond p{int(q * 100)}"
    print(f"perfbench {r['workload']} seed={r['seed']} trace={r['trace']}: "
          f"correct={r['failed'] == 0} attempted={r['attempted']} "
          f"failed={r['failed']} error_rate={r['error_rate']:.4f}")
    for k, u in e2e_units.items():
        note = ""
        if k.startswith(("latency", "freshness")):
            note = f"({tail_note(k)})"
        elif k == "setup_s":
            p = r["setup_parts_s"]
            note = f"(JVM boot {p['jvm_boot']:.2f} + set-up {p['setup']:.2f})"
        print(f"  {k:<18} {r['end_to_end'][k]:>12.4f} {u:<4} {note}")
    for k, v in r["tails"].items():
        print(f"  {k:<18} {v:>12.4f} s    (annotation; {tail_note(k)})")
    if "makespan_s" in r:
        print(f"  makespan (annotation): {r['makespan_s']:.4f} s")
    if r["checks"]:
        print("  checks: " + json.dumps(r["checks"]))
    print("  traffic: " + json.dumps(r["traffic"]))
    print("  host: " + json.dumps(r["host"]))
    print("  harness_s: " + json.dumps(r["harness_s"]))
    if r["trace"]:
        pl = r["per_layer"]
        for k, u in layer_units.items():
            print(f"  {k:<22} {pl[k]:>16.6g} {u}")
        base = os.path.join(broot, "results",
                            f"{r['workload']}-s{r['seed']}-t0.json")
        if os.path.exists(base):
            b = json.load(open(base))["end_to_end"]
            over = {k: r["end_to_end"][k] / b[k] - 1 for k in
                    ("latency_p50_s", "throughput_rps") if b[k]}
            print("  tracing overhead vs the untraced run of this seed: "
                  + ", ".join(f"{k} {v:+.1%}" for k, v in over.items()))
        else:
            print("  tracing overhead: run this seed with --trace 0 first")
        print(f"  driver-side share (no job running) {pl['driver_share']:.1%}; "
              f"task CPU per core-second {pl['cpu_util']:.1%}")


if __name__ == "__main__":
    code = main()
    sys.stdout.flush()
    os._exit(code or 0)
