#!/usr/bin/env python3
"""Benchmark of the World-Banks ETL library: one workload per run, in a fresh
JVM, with its outputs checked.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of the repository. The first run builds the library and the
harness with sbt (offline); later runs reuse the build while the sources are
unchanged. `--trace 0` prints the end-to-end metrics, `--trace 1` the
per-layer metrics of a traced run. The last line of standard output is one
JSON object; the full record of the run (configuration, every op, spans) is
written under `.perfbench/results/`. Exits non-zero when any op fails or any
output is wrong.
"""
import argparse
import hashlib
import json
import os
import resource
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402
import workloads  # noqa: E402

WORKLOADS = ("etl_reference", "etl_scaled", "query_mix")
WORK = os.path.join(ROOT, ".perfbench")
HEAP = "3g"
# Seconds one steady unit (an ETL batch, a pass over the query list) took on
# a 4-core x86 host. The steady phase runs --seconds worth of units at that
# speed, and at least two: a fixed amount of work, so two commits always do
# the same work.
UNIT_S = {"etl_reference": 4.5, "etl_scaled": 5.0, "query_mix": 5.0}
MIN_UNITS = 2
QUERIES_PER_FAMILY = 1
# Spark 4 on JDK 17 outside spark-submit needs these module openings; the
# list is org.apache.spark.launcher.JavaModuleOptions.defaultModuleOptions().
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def build():
    """Compile the library and the harness; return the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("run from the root of the repository: no build.sbt or src/main/scala")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are needed to build the library")
    stamp = os.path.join(WORK, "build", sources_digest() + ".classpath")
    if os.path.exists(stamp):
        with open(stamp) as f:
            return f.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    log = os.path.join(WORK, "build", "sbt.log")
    with open(log, "w") as out:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "export Runtime/fullClasspath"], cwd=HERE, env=env,
                           stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=700)
    with open(log) as f:
        lines = [ln.strip() for ln in f if ln.strip()]
    if p.returncode != 0 or not lines or ":" not in lines[-1]:
        fail(f"build failed, see {log}")
    with open(stamp, "w") as f:
        f.write(lines[-1])
    return lines[-1]


def jvm(classpath, plan, out, run_dir):
    """Run the harness; return (launch wall time, result dict)."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{HEAP}", *ADD_OPENS, f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
           "-cp", classpath, "perfbench.Harness", plan, out]
    launch = time.time()
    with open(os.path.join(run_dir, "harness.log"), "w") as log:
        p = subprocess.run(cmd, cwd=run_dir, stdout=log, stderr=log,
                           stdin=subprocess.DEVNULL, timeout=150)
    if p.returncode != 0 or not os.path.exists(out):
        raise RuntimeError(f"harness exited {p.returncode}, "
                           f"see {run_dir}/harness.log")
    with open(out) as f:
        return launch, json.load(f)


def cpu_ticks():
    """(steal, total) jiffies of all CPUs from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def du(path):
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def make_inputs(workload, seed, seconds, run_dir, trace):
    """Generate the workload's inputs from the seed; return (plan, context)."""
    steady = max(MIN_UNITS, round(seconds / UNIT_S[workload]))
    plan = {"workload": workload, "trace": trace}
    if workload == "query_mix":
        fixture = os.path.join(run_dir, "fixture")
        workloads.write_fixture(fixture, seed)
        queries = workloads.sample_queries(workloads.load_pool(),
                                           QUERIES_PER_FAMILY, seed)
        plan.update(fixture=fixture, queries=queries, passes=1 + steady,
                    check_dir=os.path.join(run_dir, "check"))
        rows = sum(workloads.fixture_rows(fixture).values())
        return plan, {"queries": queries, "fixture_rows": rows,
                      "input_dirs": [fixture]}
    sizes = dict(workloads.ETL_SIZES[workload], batches=1 + steady)
    pages = os.path.join(run_dir, "pages")
    batches = workloads.write_etl(sizes, seed, pages)
    plan.update(batches=batches, sinks_dir=os.path.join(run_dir, "sinks"))
    return plan, {"sizes": sizes, "batches": batches,
                  "input_dirs": [pages, plan["sinks_dir"]]}


def check(workload, seed, plan, ctx, result):
    """Return every failure as (op name, message): ops that raised, and
    outputs that differ from the oracle or the model."""
    fails = [(o["name"], f"pass {o['pass']}: {o['error']}")
             for o in result["ops"] if o["error"]]
    if workload == "query_mix":
        fails += list(result["check_errors"].items())
        fails += stats.check_queries(plan["fixture"], plan["check_dir"],
                                     result["oracle_sql"],
                                     [q for q in plan["queries"]
                                      if q not in result["check_errors"]])
    else:
        feed = workloads.etl_batches(ctx["sizes"], seed)
        fails += workloads.check_etl(feed, result)
    return fails


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    classpath = build()
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    t0 = time.time()
    plan, ctx = make_inputs(a.workload, a.seed, a.seconds, run_dir, a.trace)
    t1 = time.time()
    plan_path = os.path.join(run_dir, "plan.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    with open("/proc/loadavg") as f:
        load_before = f.read().split()[:3]
    steal0, total0 = cpu_ticks()
    ru0 = resource.getrusage(resource.RUSAGE_CHILDREN)
    launch, result = jvm(classpath, plan_path,
                         os.path.join(run_dir, "result.json"), run_dir)
    ru1 = resource.getrusage(resource.RUSAGE_CHILDREN)
    steal1, total1 = cpu_ticks()
    ph = result["setup_phases_ms"]
    setup_phases = {
        "to_jvm_start_s": ph["jvm_start"] / 1e3 - launch,
        "to_main_s": (ph["main"] - ph["jvm_start"]) / 1e3,
        "session_s": (ph["session"] - ph["main"]) / 1e3,
        "register_s": (ph["ready"] - ph["session"]) / 1e3}
    setup_s = ph["ready"] / 1e3 - launch
    t2 = time.time()
    fails = check(a.workload, a.seed, plan, ctx, result)
    wall = {"inputs_s": t1 - t0, "jvm_s": t2 - launch, "check_s": time.time() - t2}
    attempted = len(result["ops"])
    # an op whose output is wrong fails on every run of it
    failed_ops = sum(1 for o in result["ops"] if o["name"] in dict(fails))
    ctx["disk_bytes"] = sum(du(d) for d in ctx.pop("input_dirs"))
    if a.trace:
        metrics = stats.per_layer(result)
    else:
        metrics = stats.end_to_end(a.workload, result, setup_s, ctx, failed_ops)
    with open("/proc/loadavg") as f:
        load_after = f.read().split()[:3]
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "held_out_seed": stats.HELD_OUT_SEED,
        "config": dict(result["config"], heap=HEAP, loadavg_before=load_before,
                       loadavg_after=load_after, cpu_count=os.cpu_count(),
                       steal_share=(steal1 - steal0) / max(1, total1 - total0),
                       jvm_cpu_s=(ru1.ru_utime + ru1.ru_stime)
                       - (ru0.ru_utime + ru0.ru_stime)),
        "inputs": {k: v for k, v in ctx.items() if k != "batches"},
        "setup_s": setup_s, "setup_phases": setup_phases,
        "unit_walls_s": result["unit_walls_s"],
        "unit_cpu_s": result["unit_cpu_s"], "wall": wall,
        "failures": [f"{name}: {msg}" for name, msg in fails],
        "ops": result["ops"],
        "heap_after_gc_mb": result["heap_after_gc_mb"],
        "metrics": metrics, "warm_metrics": stats.warm_metrics(result),
        "spans": result.get("spans", [])}
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results",
                           f"{a.workload}-{a.seed}-{a.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)
    for name, msg in fails:
        print(f"FAIL {name}: {msg}", file=sys.stderr)
    print(json.dumps({"correct": not fails, "attempted": attempted,
                      "failed": failed_ops, "metrics": metrics}))
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
