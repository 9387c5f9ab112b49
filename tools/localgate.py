#!/usr/bin/env python3
"""Local replica of the driver's correctness gate.

Usage: python3 tools/localgate.py [--uf] [--emb-numpy] <sfDir> <verifyOutDir> [query ...]

Reads each <verifyOutDir>/<name> parquet (written by graft.Verify), runs the
matching oracle SQL from <verifyOutDir>/oracle_sql.json in DuckDB over the
same sf parquet tables, sorts columns by name + rows by all columns, and
compares row counts, dtypes and values. Queries without oracle SQL get a
rows>0 check only.

Scale flags (for the sf>=1 evidence legs; default off so the driver-gate
behavior is byte-identical):
  --uf         replace the recursive-CTE connected-components chains
               (d06/d09/d11/d12/p01/p04 oracles) with a linear Python
               union-find over the SAME pair SQL output. The recursion's
               working set is O(sum of component^2) rows and re-runs the
               pair CTEs per consumer; the union-find runs the pair SQL
               once and is linear -- same verdict, gate-side only.
  --emb-numpy  compute d05's embedding near-dup pairs in numpy instead of
               DuckDB's unrolled 64-term dot SQL (O(n^2/labels) dots --
               hours at sf10 in the SQL interpreter, seconds in numpy).
               Bit-equal by construction: the accumulation replays the
               engines' fixed left-to-right float64 order per dimension.
"""
import json, sys, glob, os
import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

COSINE_T = 0.4  # Dedup.COSINE_T -- d05's raw-cosine threshold

# suite-exported rows-only evidence (see graft.Evidence); absent -> the
# plain rows>0 check, exactly the driver gate's behavior
_EV_PATH = os.path.join(os.path.dirname(__file__), "..",
                        "docs", "rowsonly_evidence.json")
ROWSONLY_EVIDENCE = json.load(open(_EV_PATH)) if os.path.exists(_EV_PATH) else {}


def uf_components(pairs):
    """Union-find with union-by-min: root IS the component's min id.
    Returns {member: min_id} for every id appearing in a pair."""
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def emb_pairs_numpy(sf_dir):
    """d05's pair list (vec_a, vec_b, cosine) from embeddings.parquet,
    replaying the engines' EXACT arithmetic: per-dimension products
    accumulated left-to-right in float64 (FloatVecDot and sqlDotFixed
    both sum left to right, and IEEE addition is reproducible for a
    fixed order), raw-cosine threshold, THEN round to 6."""
    t = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    ids = t["vec_id"].to_numpy()
    labels = t["label"].to_numpy()
    V = np.stack(t["embedding"].to_numpy()).astype(np.float32)
    out_a, out_b, out_c = [], [], []
    for lab in np.unique(labels):
        sel = np.where(labels == lab)[0]
        lv, lids = V[sel], ids[sel]
        dim, n = lv.shape[1], len(sel)
        # self-norms in the same fixed order
        nrm = np.zeros(n)
        for i in range(dim):
            x = lv[:, i].astype(np.float64)
            nrm += x * x
        for lo in range(0, n, 2048):
            hi = min(lo + 2048, n)
            acc = np.zeros((hi - lo, n))
            for i in range(dim):
                acc += np.multiply.outer(lv[lo:hi, i].astype(np.float64),
                                         lv[:, i].astype(np.float64))
            cos = acc / np.sqrt(np.multiply.outer(nrm[lo:hi], nrm))
            ra, cb = np.where(cos >= COSINE_T)
            keep = lids[lo + ra] < lids[cb]
            out_a.append(lids[lo + ra][keep])
            out_b.append(lids[cb][keep])
            out_c.append(np.round(cos[ra[keep], cb[keep]], 6))
    df = pd.DataFrame({"vec_a": np.concatenate(out_a).astype("int64"),
                       "vec_b": np.concatenate(out_b).astype("int64"),
                       "cosine": np.concatenate(out_c)})
    return df.sort_values(["vec_a", "vec_b"], ignore_index=True)


def rewrite_uf(oracles, con, emb_numpy, sf_dir):
    """Swap the recursive component chains for precomputed union-find
    tables; every downstream rollup keeps its original SQL."""
    oracles = dict(oracles)
    # the exact D06_CTES text, recovered from d06's own oracle so the
    # surgery can never drift from the Scala-side constant
    d06_sql = oracles["d06_dedup_clusters"]
    prefix = "WITH RECURSIVE "
    suffix = "\nSELECT doc_id, keep_id FROM d06 ORDER BY 1"
    assert d06_sql.startswith(prefix) and d06_sql.endswith(suffix), "d06 oracle shape changed"
    d06_ctes = d06_sql[len(prefix):-len(suffix)]
    d02p = con.execute(oracles["d02_dedup_ngram_jaccard"]).df()
    comp = uf_components(zip(d02p["doc_a"], d02p["doc_b"]))
    con.register("d06_uf", pd.DataFrame(
        {"doc_id": list(comp.keys()), "keep_id": list(comp.values())}))
    sub = "d06 AS (SELECT doc_id, keep_id FROM d06_uf)"
    for name in ("d06_dedup_clusters", "d11_dedup_savings",
                 "d12_dedup_canonical_quality", "p01_pipeline_e2e",
                 "p04_pipeline_release"):
        if name in oracles:
            assert d06_ctes in oracles[name], f"{name} lost D06_CTES"
            oracles[name] = oracles[name].replace(
                "WITH RECURSIVE ", "WITH ").replace(d06_ctes, sub)
    if emb_numpy:
        d05p = emb_pairs_numpy(sf_dir)
        con.register("d05p_np", d05p)
        oracles["d05_dedup_embedding"] = \
            "SELECT vec_a, vec_b, cosine FROM d05p_np ORDER BY 1, 2"
    else:
        d05p = con.execute(oracles["d05_dedup_embedding"]).df()
    comp9 = uf_components(zip(d05p["vec_a"], d05p["vec_b"]))
    con.register("d09_uf", pd.DataFrame(
        {"vec_id": list(comp9.keys()), "keep_id": list(comp9.values())}))
    oracles["d09_dedup_semantic"] = \
        "SELECT vec_id, keep_id FROM d09_uf ORDER BY 1"
    return oracles


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df.reset_index(drop=True)


def main():
    argv = sys.argv[1:]
    json_out = None
    if "--json" in argv:
        i = argv.index("--json")
        json_out = argv[i + 1]
        argv = argv[:i] + argv[i + 2:]
    args = [a for a in argv if not a.startswith("--")]
    flags = {a for a in argv if a.startswith("--")}
    sf_dir, out_dir = args[0], args[1]
    only = set(args[2:])
    records = {}
    con = duckdb.connect()
    # bound the oracle engine: an unbounded spill (d08's r11 pre-fix
    # form needed ~75 GB) fills the disk AND leaves the connection in a
    # bad-allocation state that fails NEIGHBORING queries' oracles
    con.execute("SET memory_limit='%s'"
                % os.environ.get("GATE_DUCKDB_MEM", "48GB"))
    con.execute("SET temp_directory='/tmp/duckgate.tmp'")
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    if "--uf" in flags:
        oracles = rewrite_uf(oracles, con, "--emb-numpy" in flags, sf_dir)
    names = sorted(os.path.basename(d) for d in glob.glob(f"{out_dir}/*")
                   if os.path.isdir(d))
    n_pass = n_fail = 0
    import time
    for name in names:
        if only and name not in only:
            continue
        t0 = time.time()
        spark_df = pd.concat([pd.read_parquet(f) for f in
                              sorted(glob.glob(f"{out_dir}/{name}/*.parquet"))],
                             ignore_index=True)
        if name not in oracles:
            # rows-only queries: rows>0 plus, when the suite has exported
            # its quantitative evidence (graft.Evidence ->
            # docs/rowsonly_evidence.json), the recorded bound must hold —
            # machine-checked recall/error/twin-equality instead of prose
            ev = ROWSONLY_EVIDENCE.get(name)
            ok = len(spark_df) > 0 and (ev is None or ev.get("pass") is True)
            detail = "" if ev is None else \
                f", evidence {ev['metric']}={ev['value']} {ev['op']} {ev['bound']}"
            print(f"{'PASS' if ok else 'FAIL'} {name} (rows-only: {len(spark_df)}{detail})")
            records[name] = {"pass": bool(ok), "mode": "rows_only",
                             "spark_rows": int(len(spark_df)),
                             "evidence": ev, "secs": round(time.time() - t0, 2)}
            n_pass += ok; n_fail += (not ok)
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"FAIL {name} oracle err: {e}")
            records[name] = {"pass": False, "mode": "oracle",
                             "err": f"oracle: {e}",
                             "secs": round(time.time() - t0, 2)}
            n_fail += 1
            continue
        s, o = norm(spark_df), norm(odf)
        problems = []
        if list(s.columns) != list(o.columns):
            problems.append(f"cols {list(s.columns)} vs {list(o.columns)}")
        elif len(s) != len(o):
            problems.append(f"rows {len(s)} vs {len(o)}")
        else:
            for c in s.columns:
                # driver's gate accepts int32 vs int64; flag cross-kind only
                # (e.g. DuckDB HUGEINT -> float/object vs Spark int)
                if s[c].dtype.kind != o[c].dtype.kind:
                    problems.append(f"dtype[{c}] {s[c].dtype} vs {o[c].dtype}")
                elif s[c].dtype.kind == 'i':
                    s[c] = s[c].astype('int64'); o[c] = o[c].astype('int64')
            if not problems:
                neq = (s != o) & ~(s.isna() & o.isna())
                if neq.any().any():
                    bad = neq.any(axis=1)
                    problems.append(f"{int(bad.sum())} differing rows; first:\n"
                                    f"spark:\n{s[bad].head(3)}\noracle:\n{o[bad].head(3)}")
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            n_fail += 1
        else:
            print(f"PASS {name} ({len(s)} rows, {time.time() - t0:.1f}s)")
            n_pass += 1
        records[name] = {"pass": not problems, "mode": "oracle",
                         "spark_rows": int(len(s)), "oracle_rows": int(len(o)),
                         "problems": [p.split("\n")[0] for p in problems],
                         "secs": round(time.time() - t0, 2)}
    print(f"== {n_pass} pass, {n_fail} fail")
    if json_out:
        summary = {"sf_dir": sf_dir, "flags": sorted(flags),
                   "n_pass": n_pass, "n_fail": n_fail, "queries": records}
        with open(json_out, "w") as f:
            json.dump(summary, f, indent=1, sort_keys=True)
        print(f"wrote {json_out}")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
