#!/usr/bin/env python3
"""Local mirror of the driver's DuckDB correctness gate.

Usage: python3 tools/check.py <sfDir> <verifyOutDir> [queryName...]

Registers every parquet in <sfDir> as a DuckDB view, runs each query from
<verifyOutDir>/oracle_sql.json (optionally only the named ones), and
compares against the Spark result parquet written by graft.Verify —
columns sorted by name, rows sorted by all columns, exact value equality,
and dtype-kind equality (mirrors the driver's hash sensitivity).

Run the audit at BOTH sf0.001 and sf0.01 before declaring a query done:
some divergence classes (round-at-a-tie after division, short-document
edge cases) only materialize under one fixture's value distribution.
Always rm -rf the verify out dir first — stale parquet from a previously
passing run silently masks a now-failing query.

The oracle queries run in a process pool of os.cpu_count() workers, each
with its own DuckDB connection; results print in sorted name order.
"""
import duckdb, glob, json, sys, os
import multiprocessing as mp
import pandas as pd
import numpy as np

con = None


def connect(sf):
    """Pool initializer: one DuckDB connection per worker, every fixture
    parquet registered as a view."""
    global con
    con = duckdb.connect()
    for f in sorted(glob.glob(f"{sf}/*.parquet")):
        name = os.path.basename(f).replace(".parquet", "")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}')")


def check(job):
    """Compare one query's oracle with its Spark result: (output lines,
    evidence record)."""
    name, sql, out = job
    lines = []
    fail = (lines, {"query": name, "result": "FAIL"})
    try:
        exp = con.execute(sql).df()
    except Exception as e:
        lines.append(f"FAIL {name}: oracle error: {e}")
        return fail
    try:
        got = pd.concat([pd.read_parquet(p) for p in
                         sorted(glob.glob(f"{out}/{name}/*.parquet"))],
                        ignore_index=True)
    except Exception as e:
        lines.append(f"FAIL {name}: spark result missing: {e}")
        return fail
    exp = exp.reindex(sorted(exp.columns), axis=1)
    got = got.reindex(sorted(got.columns), axis=1)
    if list(exp.columns) != list(got.columns):
        lines.append(f"FAIL {name}: columns exp={list(exp.columns)} got={list(got.columns)}")
        return fail
    exp = exp.sort_values(list(exp.columns)).reset_index(drop=True)
    got = got.sort_values(list(got.columns)).reset_index(drop=True)
    if len(exp) != len(got):
        lines.append(f"FAIL {name}: rows exp={len(exp)} got={len(got)}")
        return fail
    for c in exp.columns:
        e, g = exp[c], got[c]
        if pd.api.types.is_datetime64_any_dtype(e) or pd.api.types.is_datetime64_any_dtype(g):
            e = pd.to_datetime(e, utc=True).dt.tz_localize(None)
            g = pd.to_datetime(g, utc=True).dt.tz_localize(None)
        elif e.dtype.kind != g.dtype.kind:
            # The driver's hash gate tolerates integer-width drift
            # (int32 vs int64 passed in r1) but NOT kind drift: DuckDB
            # HUGEINT (from SUM over INTEGER) lands as float64 in pandas
            # while Spark emits int64, and the driver records
            # hash_match:false even with equal values. Compare dtype
            # *kind* (i/u/f/O/b) to surface exactly that class locally.
            lines.append(f"FAIL {name}: col {c} dtype drift: oracle={e.dtype} spark={g.dtype}")
            return fail
        try:
            same = (e.isna() & g.isna()) | (e == g)
        except Exception:
            same = e.astype(str) == g.astype(str)
        if not bool(same.all()):
            bad = (~same).to_numpy().nonzero()[0][:3]
            lines.append(f"FAIL {name}: col {c} mismatch at rows {bad.tolist()}:")
            for i in bad:
                lines.append(f"    exp={exp[c].iloc[i]!r} got={got[c].iloc[i]!r}")
            return fail
    lines.append(f"PASS {name} ({len(exp)} rows)")
    return lines, {"query": name, "result": "PASS", "rows": int(len(exp))}


def main():
    sf, out = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    oracle = json.load(open(f"{out}/oracle_sql.json"))
    if only:
        oracle = {k: v for k, v in oracle.items() if k in only}
    fails = 0
    results = []
    jobs = [(name, oracle[name], out) for name in sorted(oracle)]
    with mp.Pool(os.cpu_count(), initializer=connect, initargs=(sf,)) as pool:
        for lines, record in pool.imap(check, jobs):
            for line in lines:
                print(line, flush=True)
            results.append(record)
            fails += record["result"] == "FAIL"

    print(f"\n{len(oracle) - fails}/{len(oracle)} passed")
    # optional machine-readable evidence artifact (committed per round for
    # out-of-band checks like the louvain uneven-toy cross-check)
    out_json = os.environ.get("CHECK_OUT")
    if out_json:
        with open(out_json, "w") as f:
            json.dump({"sf": os.path.abspath(sf), "out": os.path.abspath(out),
                       "fails": fails, "checks": results}, f, indent=1)
            f.write("\n")
        print(f"evidence artifact written: {out_json}")
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
