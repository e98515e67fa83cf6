"""Metrics of one benchmark run, computed from the harness's raw record, and
the DuckDB oracle check of the query results.
"""
import glob
import os
import statistics

# Seed kept out of every tuning run; a later performance claim must also hold
# on it.
HELD_OUT_SEED = 4242

# Per-layer metrics, in the order BENCHMARK.json lists them; every workload
# reports all of them (0 for a layer the workload does not reach).
SPAN_SELF = {  # metric -> span layer or span name whose self time it sums
    "sources.extract_s": "sources", "pipeline.cleanse_s": "pipeline.cleanse",
    "pipeline.enrich_s": "pipeline.enrich", "scd.merge_s": "scd.merge",
    "sinks.write_s": "sinks", "self.op_s": "op", "self.engine_s": "engine",
}
COUNTS = [
    "sources.pages", "sources.rows", "pipeline.quarantined_rows",
    "scd.target_rows", "scd.rows_out", "sinks.writes", "memo.builds",
    "memo.build_s", "tables.scan_files", "tables.scan_bytes",
    "tables.scan_rows", "plan.analysis_s", "plan.optimization_s",
    "plan.planning_s", "exec.jobs", "exec.tasks", "exec.task_cpu_s",
    "exec.gc_s", "exec.shuffle_read_bytes", "exec.shuffle_write_bytes",
    "exec.spill_bytes", "stream.batches", "stream.trigger_s",
    "stream.add_batch_s", "stream.planning_s", "stream.commit_s",
]
PEAKS = ["stream.state_rows", "stream.state_bytes"]


def unit(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith(("_ratio", "_amp")):
        return "ratio"
    return "count"


def tail(values):
    """Latency at the highest percentile with at least ten samples beyond it:
    the (n-10)-th smallest of n. Returns (value, percentile, n); with fewer
    than 11 samples no percentile qualifies and the maximum is returned, with
    percentile 100.
    """
    xs = sorted(values)
    n = len(xs)
    if n < 11:
        return xs[-1], 100.0, n
    i = n - 11
    return xs[i], 100.0 * (i + 1) / n, n


def steady_latencies(result, key="s"):
    """One value per op: the median of its untraced steady runs. An ETL
    batch runs once; a query runs once per steady pass, and its median keeps
    a pass that is still warming the JIT from standing in for the query.
    """
    runs = {}
    for o in result["ops"]:
        if o["phase"] == "steady" and not o["traced"]:
            runs.setdefault(o["name"], []).append(o[key])
    return [statistics.median(v) for v in runs.values()]


def end_to_end(workload, result, setup_s, ctx, failed):
    """The bounded metrics. Whole-workload times: on a shared host the warm
    units of a whole run can read 40% slow together, while the cold unit and
    the whole run's sum move far less (see README.md).
    """
    ops = result["ops"]
    total = sum(o["s"] for o in ops if o["phase"] == "cold") + \
        sum(result["unit_walls_s"])
    if workload == "query_mix":
        rows = ctx["fixture_rows"] * (1 + len(result["unit_walls_s"]))
    else:
        rows = sum(b["rows"] for b in ctx["batches"])
    m = {
        "setup_s": (setup_s, "s"),
        "cold_s": (sum(o["s"] for o in ops if o["phase"] == "cold"), "s"),
        "total_s": (total, "s"),
        "rows_per_s": (rows / total, "rows/s"),
        "ok_ratio": ((len(ops) - failed) / len(ops), "ratio"),
        "heap_peak_mb": (max(result["heap_after_gc_mb"]), "MB"),
        "disk_mb": (ctx["disk_bytes"] / 2**20, "MB"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def warm_metrics(result):
    """Steady-phase wall times, recorded beside the bounded metrics: the
    phase's length (unit count x median unit) and the op median and tail.
    """
    units = result["unit_walls_s"]
    lat = steady_latencies(result)
    v, p, n = tail(lat)
    return {"run_s": len(units) * statistics.median(units),
            "op_p50_s": statistics.median(lat), "op_tail_s": v,
            "tail_percentile": p, "ops": n}


def self_times(spans):
    """Span id -> duration minus the part of it its child spans cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, end = 0.0, s["t0"]
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["t0"]):
            lo, hi = max(c["t0"], end), min(c["t1"], s["t1"])
            if hi > lo:
                covered += hi - lo
                end = hi
        out[s["id"]] = (s["t1"] - s["t0"]) - covered
    return out


def per_layer(result):
    spans = result.get("spans", [])
    selfs = self_times(spans)
    m = {}
    for metric, key in SPAN_SELF.items():
        m[metric] = sum(selfs[s["id"]] for s in spans
                        if key in (s["layer"], s["name"]))
    for k in COUNTS:
        m[k] = sum(s["counts"].get(k, 0.0) for s in spans)
    for k in PEAKS:
        m[k] = max([s["counts"].get(k, 0.0) for s in spans] or [0.0])
    m["entry.build_s"] = sum(s["t1"] - s["t0"] for s in spans
                             if s["name"] == "entry.build")
    sink_spans = [s for s in spans if s["layer"] == "sinks"]
    m["sinks.bytes_written"] = sum(s["counts"].get("exec.output_bytes", 0.0)
                                   for s in sink_spans)
    raw = sum(s["counts"].get("sources.input_bytes", 0.0) for s in spans)
    m["sinks.write_amp"] = m["sinks.bytes_written"] / raw if raw else 0.0
    m["memo.resident_bytes"] = float(result.get("memo_resident_bytes", 0))
    leaves = sum(s["counts"].get("scan.leaves", 0.0) for s in spans)
    m["memo.cached_scan_ratio"] = (
        sum(s["counts"].get("scan.in_memory", 0.0) for s in spans) / leaves
        if leaves else 0.0)
    steady = [o for o in result["ops"] if o["phase"] == "steady"]
    traced = [o["s"] for o in steady if o["traced"]]
    plain = [o["s"] for o in steady if not o["traced"]]
    # steady ops alternate traced / untraced, so both means cover the same
    # queries (query_mix) or interleaved batches (etl)
    m["trace.overhead_s"] = (statistics.mean(traced) - statistics.mean(plain)
                             if traced and plain else 0.0)
    m["trace.ops"] = float(sum(1 for o in result["ops"] if o["traced"]))
    return {k: {"value": v, "unit": unit(k)} for k, v in m.items()}


def check_queries(fixture, check_dir, oracle_sql, queries):
    """Compare each query's result parquet against DuckDB running the query's
    oracle SQL over the same fixture: columns by name, rows sorted on every
    column, exact values, same dtype kind. Returns [(query, message)].
    """
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for f in sorted(glob.glob(os.path.join(fixture, "*.parquet"))):
        name = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}')")
    fails = []
    for q in queries:
        if q not in oracle_sql:
            fails.append((q, "no oracle SQL registered"))
            continue
        try:
            exp = con.execute(oracle_sql[q]).df()
            got = pd.concat([pd.read_parquet(p) for p in sorted(
                glob.glob(os.path.join(check_dir, q, "*.parquet")))],
                ignore_index=True)
        except Exception as e:  # noqa: BLE001 - reported as a failure
            fails.append((q, f"{type(e).__name__}: {e}"[:300]))
            continue
        msg = compare_frames(exp, got)
        if msg:
            fails.append((q, msg))
    return fails


def compare_frames(exp, got):
    import pandas as pd
    exp = exp.reindex(sorted(exp.columns), axis=1)
    got = got.reindex(sorted(got.columns), axis=1)
    if list(exp.columns) != list(got.columns):
        return f"columns {list(exp.columns)} != {list(got.columns)}"
    if len(exp) != len(got):
        return f"rows {len(exp)} != {len(got)}"
    if len(exp) == 0:
        return None
    exp = exp.sort_values(list(exp.columns)).reset_index(drop=True)
    got = got.sort_values(list(got.columns)).reset_index(drop=True)
    for c in exp.columns:
        e, g = exp[c], got[c]
        if (pd.api.types.is_datetime64_any_dtype(e)
                or pd.api.types.is_datetime64_any_dtype(g)):
            e = pd.to_datetime(e, utc=True).dt.tz_localize(None)
            g = pd.to_datetime(g, utc=True).dt.tz_localize(None)
        elif e.dtype.kind != g.dtype.kind:
            return f"column {c} dtype {e.dtype} != {g.dtype}"
        try:
            same = (e.isna() & g.isna()) | (e == g)
        except Exception:  # noqa: BLE001 - unhashable/array cells
            same = e.astype(str) == g.astype(str)
        if not bool(same.all()):
            i = int((~same).to_numpy().nonzero()[0][0])
            return f"column {c} row {i}: expected {e.iloc[i]!r}, got {g.iloc[i]!r}"
    return None
