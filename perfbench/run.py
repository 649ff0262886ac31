#!/usr/bin/env python3
"""Layered benchmark of the fabrix Spark engine.

Usage, from the repository root:

    python3 perfbench/run.py --workload <gates|etl_sinks> \
        --seed <n> --seconds <s> --trace <0|1>

The first run builds the engine and the benchmark driver with sbt (the
benchmark's own build in perfbench/, which compiles the engine from the
repository's build). Later runs reuse the build until a source file
changes. Build output and run files go under $CARGO_TARGET_DIR (default
.bench_build) in the repository root.

Each run starts one JVM at local[4]: it generates the workload's inputs
from the seed, stages its stores, runs one untimed warm-up pass, then
runs timed passes for --seconds. Afterwards every gate's warm-up output
is checked against its oracle SQL in DuckDB. The last line of standard
output is one JSON object: the end-to-end metrics with --trace 0, the
per-layer metrics with --trace 1. See perfbench/README.md.
"""
import argparse
import hashlib
import importlib.util
import json
import math
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("gates", "etl_sinks")
CORES = 4
JVM_TIMEOUT_S = 150
# Spark on JDK 17 needs these outside spark-submit (the engine's build.sbt
# passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(code)


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")


def source_stamp():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"), os.path.join(ROOT, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        for d, dirs, names in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def classpath(out):
    """Builds once per source state and returns the runtime classpath."""
    cp_file, stamp_file = os.path.join(out, "classpath.txt"), os.path.join(out, "stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(out, "build.log")
    with open(log, "w") as fh:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "export perfbench/Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=fh,
                           text=True, timeout=840)
        fh.write(r.stdout)
    lines = [ln for ln in r.stdout.splitlines() if ln.strip()]
    if r.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(open(log).read()[-3000:])
        fail("build failed", 1)
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return lines[-1]


def run_jvm(cp, work, args):
    # every file the JVM writes stays under `work`; -UsePerfData drops the
    # JVM's own statistics file in the system temp directory
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Xmx3g", "-XX:-UsePerfData", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={work}/tmp",
            f"-Dderby.system.home={work}/derby", f"-Dderby.stream.error.file={work}/derby.log",
            "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", work, "--cores", str(CORES)])
    with open(os.path.join(work, "jvm.log"), "w") as log:
        try:
            r = subprocess.run(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                               timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"the benchmark JVM ran longer than {JVM_TIMEOUT_S}s", 1)
    result = os.path.join(work, "result.json")
    if r.returncode != 0 or not os.path.exists(result):
        sys.stderr.write(open(os.path.join(work, "jvm.log")).read()[-4000:])
        fail(f"the benchmark JVM exited with {r.returncode}", 1)
    with open(result) as fh:
        return json.load(fh)


def oracle_failures(res):
    """Checks each gate's warm-up output against its oracle SQL in DuckDB,
    canonicalized as tools/verify_local.py does. Returns {gate: reason}."""
    if not res["oracle"]:
        return {}
    import duckdb
    spec = importlib.util.spec_from_file_location("verify_local", os.path.join(ROOT, "tools", "verify_local.py"))
    vl = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(vl)
    con = duckdb.connect()
    con.execute(f"SET threads TO {CORES}")
    for name, path in res["inputs"].items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM parquet_scan('{path}/*.parquet')")
    bad = {}
    for o in res["oracle"]:
        try:
            got_rel = con.sql(f"SELECT * FROM parquet_scan('{o['out']}/*.parquet')")
            got_cols, got = vl.canon(got_rel.fetchall(), got_rel.columns)
            exp_rel = con.sql(o["sql"])
            exp_cols, exp = vl.canon(exp_rel.fetchall(), exp_rel.columns)
        except Exception as e:  # an unreadable output or a failing oracle is a failure
            bad[o["gate"]] = f"oracle error: {str(e).splitlines()[0][:200]}"
            continue
        if got_cols != exp_cols:
            bad[o["gate"]] = f"columns {got_cols} != oracle {exp_cols}"
        elif len(got) != len(exp):
            bad[o["gate"]] = f"{len(got)} rows != oracle {len(exp)}"
        else:
            diff = next((i for i, (g, e) in enumerate(zip(got, exp)) if g != e), None)
            if diff is not None:
                bad[o["gate"]] = f"row {diff}: {got[diff]} != oracle {exp[diff]}"
    con.close()
    return bad


def tail(latencies):
    """The highest percentile with at least ten samples beyond it (nearest
    rank), as (percentile, value). Below 20 samples that percentile would
    sit under the median, so the maximum is reported, as p100."""
    xs = sorted(latencies)
    n = len(xs)
    if n < 20:
        return 100, xs[-1]
    p = math.floor(100 * (n - 10) / n)
    return p, xs[math.ceil(p / 100 * n) - 1]


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft"), os.path.join("tools", "verify_local.py")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} is missing: run from a checkout of the engine's repository")

    out = build_dir()
    os.makedirs(out, exist_ok=True)
    cp = classpath(out)
    work = os.path.join(out, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = run_jvm(cp, work, args)
        bad_gates = oracle_failures(res)
    finally:
        for d in ("data", "out", "etl", "tmp", "spark-local", "warehouse", "derby"):
            shutil.rmtree(os.path.join(work, d), ignore_errors=True)

    passes = res["traced_passes"] if args.trace else res["passes"]
    ops = [o for p in passes for o in p["ops"]]
    failures = [(o["name"], o["error"]) for o in ops if o["error"]]
    failures += [(o["name"], f"oracle mismatch: {bad_gates[o['name']]}")
                 for o in ops if not o["error"] and o["name"] in bad_gates]
    warm_failures = [(w["name"], w["error"]) for w in res["warmup_failures"]]
    for name, why in sorted(set(warm_failures)):
        print(f"FAILED {name} (warm-up): {why}")
    for name, why in sorted(set(failures)):
        print(f"FAILED {name}: {why}")

    lat = [o["s"] for o in ops]
    p, tail_v = tail(lat)
    walls = [x["wall_s"] for x in passes]
    if args.trace:
        metrics = {m["name"]: {"value": m["value"], "unit": m["unit"]} for m in res["layers"]}
    else:
        metrics = {
            "setup_s": {"value": res["setup"]["setup_s"], "unit": "s"},
            "wall_s": {"value": statistics.median(walls), "unit": "s"},
            "op_p50_s": {"value": statistics.median(lat), "unit": "s"},
            "op_tail_s": {"value": tail_v, "unit": "s"},
            "rows_per_s": {"value": statistics.median(
                sum(o["rows"] for o in x["ops"]) / x["wall_s"] for x in passes), "unit": "rows/s"},
        }
    print(f"# {args.workload} seed={args.seed} trace={args.trace}: {len(passes)} timed passes, "
          f"{len(ops)} operations, op_tail_s is p{p} of {len(lat)} samples, "
          f"fail_rate {len(failures)}/{len(ops)} = {len(failures) / len(ops):.4f}")
    for k, v in metrics.items():
        print(f"{k:<32} {v['value']:>16.6f} {v['unit']}")
    line = {"correct": not failures and not warm_failures, "attempted": len(ops),
            "failed": len(failures), "metrics": metrics}
    results = os.path.join(out, "results")
    os.makedirs(results, exist_ok=True)
    stem = os.path.join(results, f"{args.workload}.seed{args.seed}.trace{args.trace}")
    with open(stem + ".json", "w") as fh:
        json.dump(line, fh)
    shutil.copy(os.path.join(work, "result.json"), stem + ".raw.json")
    print(json.dumps(line))


if __name__ == "__main__":
    main()
