#!/usr/bin/env python3
"""Repository benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload <etl_star|curate_batch|ingest_stream>
        --seed <n> --seconds <n> --trace <0|1>

Run from the root of a checkout. The first run builds the library together
with the benchmark runner (`perfbench/build.sbt`) into `.bench_build/`; later
runs reuse that build while the sources are unchanged. Inputs are generated
from the seed (`perfbench/gen.py`) at the sizes of `SCALE`, and every output
is checked: the DuckDB oracle once per seed and tree, and on every call a
digest, compared with the digests the oracle's run checked. The last line of
standard output is the result object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end metrics of BENCHMARK.json,
with `--trace 1` the per-layer ledger (spans go to `.bench_build/traces/`).
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)
import gen  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("etl_star", "curate_batch", "ingest_stream")
# Input sizes as a fraction of the reference sizes (gen.py). Per-call fixed
# costs dominate at these sizes; they keep a run (set-up, one pass, checks)
# near a minute on a 4-core host, so the full set of runs fits its budget.
# A run at the reference sizes calls gen.py and the runner's Main directly.
SCALE = {"etl_star": 0.01, "curate_batch": 0.1, "ingest_stream": 0.1}
TINY_SCALE = 0.02
XMX = "2g"
# A run must end within 180 s once the build is in place.
JVM_BUDGET_S = 165
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files.extend(os.path.join(d, f) for f in fs)
    return sorted(files)


def tree_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.autostart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build(stamp):
    """Compile once per source tree; returns the runtime classpath."""
    cp_file = os.path.join(BUILD, "sbt", "classpath.txt")
    stamp_file = os.path.join(BUILD, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                             cwd=HERE, env=sbt_env(), stdout=fh, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, timeout=840)
    if rc != 0 or not os.path.exists(cp_file):
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"build failed (exit {rc}); see {log}", 3)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return open(cp_file).read().strip()


def fs_type(path):
    best, kind = "", "unknown"
    with open("/proc/mounts") as fh:
        for line in fh:
            parts = line.split()
            if len(parts) > 2 and path.startswith(parts[1]) and len(parts[1]) > len(best):
                best, kind = parts[1], parts[2]
    return kind


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return None


def input_tables(data):
    import pyarrow.parquet as pq
    tables = {}
    for d, _, fs in os.walk(data):
        parts = [f for f in fs if f.endswith(".parquet")]
        if not parts:
            continue
        name = os.path.relpath(d, data) if d != data else None
        for f in parts:
            key = name or f
            meta = pq.ParquetFile(os.path.join(d, f)).metadata
            row = tables.setdefault(key, {"rows": 0, "bytes": 0})
            row["rows"] += meta.num_rows
            row["bytes"] += os.path.getsize(os.path.join(d, f))
    return tables


def run_jvm(cp, args, log, deadline):
    cmd = (["java"] + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Xms{XMX}", f"-Xmx{XMX}", "-XX:+UseG1GC", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={args['tmp']}",
            "-cp", cp, "graft.perfbench.Main"])
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    env = dict(os.environ, SPARK_GRAFT_LOCAL_DIR=args["local"])
    env.pop("SPARK_GRAFT_TMPDIR", None)
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=fh, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    return rc


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()
    load_start = os.getloadavg()[0]
    if not (os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) and
            os.path.isfile(os.path.join(HERE, "build.sbt"))):
        fail("run from the root of a checkout that holds the library sources")
    stamp = tree_hash()
    cp = build(stamp)
    t_built = time.time()

    scale = SCALE[a.workload]
    data = os.path.join(BUILD, "data", f"{a.workload}-s{a.seed}")
    tiny = os.path.join(BUILD, "data", f"{a.workload}-s{a.seed}-tiny")
    gen.generate(a.workload, a.seed, scale, data)
    gen.generate(a.workload, a.seed, TINY_SCALE, tiny)

    run = os.path.join(BUILD, "run")
    shutil.rmtree(run, ignore_errors=True)
    os.makedirs(run)
    traces = os.path.join(BUILD, "traces")
    os.makedirs(traces, exist_ok=True)
    spans = os.path.join(traces, f"{a.workload}-s{a.seed}-{int(t_start)}.jsonl")
    # Once per seed and tree the DuckDB oracle checks a run's outputs, and
    # the digests of those outputs are kept; every later run's calls must
    # reproduce them. The key covers the generator and the oracle too.
    key = hashlib.sha256((stamp + "".join(
        hashlib.sha256(open(os.path.join(HERE, f), "rb").read()).hexdigest()
        for f in ("gen.py", "oracle.py"))).encode()).hexdigest()[:16]
    cache = os.path.join(BUILD, "checked", f"{a.workload}-s{a.seed}-{key}.json")
    checked = json.load(open(cache)) if os.path.exists(cache) else None
    expect = os.path.join(run, "expect.json")
    with open(expect, "w") as fh:
        json.dump(checked["digests"] if checked else {}, fh)
    args = {"workload": a.workload, "data": data, "tiny": tiny, "tmp": os.path.join(run, "tmp"),
            "local": os.path.join(run, "local"), "seconds": a.seconds, "trace": a.trace,
            "check-dir": os.path.join(run, "check"), "expect": expect,
            "result": os.path.join(run, "result.json"), "spans": spans}
    os.makedirs(args["local"])
    jvm_log = os.path.join(run, "jvm.log")
    rc = run_jvm(cp, args, jvm_log, t_built + JVM_BUDGET_S)
    if rc != 0 or not os.path.exists(args["result"]):
        sys.stderr.write(open(jvm_log).read()[-6000:])
        fail(f"benchmark process failed ({rc})", 4)
    res = json.load(open(args["result"]))

    attempted, failed = res["attempted"], res["failed"]
    if checked:
        verdict = checked
    else:
        oracle_data = os.path.join(data, "all") if a.workload == "ingest_stream" else data
        verdict = oracle.check(oracle_data, args["check-dir"], res["oracle_steps"])
        if not verdict["fail"] and not res["check_errors"] and failed == 0:
            verdict["digests"] = res["digests"]
            os.makedirs(os.path.dirname(cache), exist_ok=True)
            with open(cache, "w") as fh:
                json.dump(verdict, fh)
    shutil.rmtree(run, ignore_errors=True)

    correct = (not verdict["fail"]) and not res["check_errors"] and failed == 0
    stamp_info = {
        "commit": git_commit() or f"tree:{stamp}",
        "nproc": res["nproc"], "xmx": XMX, "spark_version": res["spark_version"],
        "seed": a.seed, "scale": scale, "workload": a.workload,
        "inputs": input_tables(data),
        "temp_root_fs": fs_type(run),
        "loadavg_1m_start": load_start, "loadavg_1m_end": os.getloadavg()[0],
        "build_s": round(t_built - t_start, 3), "warm_s": res["warm_s"],
        "prepare_s": res["prepare_s"],
        "check_s": res["check_s"], "timed_s": res["timed_s"], "passes": res["passes"],
    }
    report = {
        "stamp": stamp_info,
        "oracle": {"pass": verdict["pass"], "fail": verdict["fail"]},
        "digests_compared_with": "checked run" if checked else "first pass",
        "check_errors": res["check_errors"], "failures": res["failures"],
        "ops_failed_frac": failed / attempted if attempted else 1.0,
        "end_to_end": res["end_to_end"], "workload_metrics": res["workload_metrics"],
        "steps": res["steps"],
    }
    if a.trace:
        report["per_layer"] = res["per_layer"]
        report["spans"] = os.path.relpath(spans, ROOT)
    print("perfbench report " + json.dumps(report, sort_keys=True))
    print_table(report, a.trace)
    metrics = res["per_layer"] if a.trace else res["end_to_end"]
    print(json.dumps({"correct": bool(correct), "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def print_table(report, trace):
    def fmt(m):
        return f"{m['value']:.4g} {m['unit']}" if m["value"] is not None else "n/a"
    for name, m in list(report["end_to_end"].items()) + list(report["workload_metrics"].items()):
        print(f"  {name:<22} {fmt(m)}")
    print(f"  {'ops_failed_frac':<22} {report['ops_failed_frac']:.4g} ratio")
    if not trace:
        return
    cols = ["wall_ms", "traced_wall_ms", "executor_cpu_ms", "driver_self_ms", "jobs", "tasks"]
    print(f"  {'step':<26} {'layer':<10}" + "".join(f"{c:>16}" for c in cols))
    for step, row in report["steps"].items():
        vals = "".join(f"{row.get(c, float('nan')) or 0:>16.1f}" for c in cols)
        print(f"  {step:<26} {row['layer']:<10}{vals}")
    for name, m in report["per_layer"].items():
        print(f"  {name:<34} {fmt(m)}")


if __name__ == "__main__":
    main()
