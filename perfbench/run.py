#!/usr/bin/env python3
"""CDC benchmark: one command per run.

    python3 perfbench/run.py --workload replicate|analytics \
        --seed N --seconds S --trace 0|1 [--plant-fault poison|hash]

Run from the repository root. The first run builds the library and the
benchmark program from source with sbt (offline) into the build directory
(`$CARGO_TARGET_DIR`, default `.bench_build`); later runs reuse the build
while the sources are unchanged. Each run starts one JVM
(`perfbench.Main`), which generates its inputs from the seed, sets up,
measures for S seconds and checks its outputs. For `analytics` this
script then compares every catalog query's result with the stored DuckDB
oracle (perfbench/oracle.json).

The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the
metrics are BENCHMARK.json's end_to_end list, with --trace 1 its
per_layer list. The line before it stamps the box, the load and the
run's sample counts. The exit code is 0 only when every check passed.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("replicate", "analytics")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(build_dir):
    """Compile with sbt when the sources changed; return the classpath."""
    stamp = os.path.join(build_dir, "build.stamp")
    cp_file = os.path.join(build_dir, "classpath.txt")
    digest = source_digest()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        if open(stamp).read().strip() == digest:
            return open(cp_file).read().strip(), digest
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S, start_new_session=True)
    lines = [l for l in proc.stdout.splitlines()
             if ".jar" in l and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        die("build failed")
    print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)
    os.makedirs(build_dir, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp, "w") as f:
        f.write(digest)
    return lines[-1].strip(), digest


def box_stamp():
    def read(p):
        try:
            return open(p).read()
        except OSError:
            return ""
    mem = [l for l in read("/proc/meminfo").splitlines() if l.startswith("MemTotal")]
    return {"nproc": os.cpu_count(),
            "mem_total_kb": int(mem[0].split()[1]) if mem else None,
            "loadavg": read("/proc/loadavg").strip()}


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, timeout=10,
                             stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                             text=True)
        return out.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(classpath, build_dir, work, out, args):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if "JAVA_HOME" in os.environ else "java"
    tmp = os.path.join(build_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java, "-Xmx4g", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}",
           "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", os.path.join(HERE, "data", "sf0.01"),
            "--work", work, "--out", out,
            "--fault", args.plant_fault or "none"]
    log = open(os.path.join(build_dir, f"jvm-{args.workload}.log"), "w")
    proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                            start_new_session=True)
    try:
        proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        die(f"run exceeded {RUN_TIMEOUT_S} s (log: {log.name})")
    finally:
        log.close()
    if proc.returncode != 0 or not os.path.exists(out):
        die(f"benchmark program exited with {proc.returncode} (log: {log.name})")


def oracle_checks(result, results_dir, plant_fault):
    """Hash every query result against the stored DuckDB oracle."""
    sys.path.insert(0, HERE)
    import duckdb
    from oracle import ORACLE, canon
    stored = json.load(open(ORACLE)) if os.path.exists(ORACLE) else {}
    if plant_fault == "hash":
        first = sorted(stored)[0]
        stored[first]["hash"] = "0" * 64
    sqls = json.load(open(os.path.join(results_dir, "oracle_sql.json")))
    con = duckdb.connect()
    for name in sorted(sqls):
        exp = stored.get(name)
        try:
            rel = con.sql(f"SELECT * FROM '{results_dir}/{name}/*.parquet'")
            h, n = canon(rel.fetchall(), [c.lower() for c in rel.columns])
        except Exception as e:  # a missing or unreadable result fails the check
            h, n = f"error: {e}", -1
        ok = bool(exp) and exp["sql"] == sqls[name] and exp["hash"] == h
        detail = f"{n} rows" + ("" if ok else f", expected {exp and exp['rows']}")
        result["checks"].append({"name": f"oracle_{name}", "ok": ok, "detail": detail})
        result["attempted"] += 1
        if not ok:
            result["failed"] += 1
            print(f"perfbench: CHECK FAILED oracle_{name}: {detail}", file=sys.stderr)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant-fault", choices=("poison", "hash"), default=None,
                    help="plant a known fault to show the checks catch it")
    args = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"{need} not found: run from a full checkout of the repository")
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    start = box_stamp()
    build_dir = os.path.abspath(os.path.join(
        ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench"))
    os.makedirs(build_dir, exist_ok=True)
    classpath, digest = build(build_dir)

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(build_dir, "work", f"{tag}-{os.getpid()}")
    out_dir = os.path.join(build_dir, "out")
    os.makedirs(out_dir, exist_ok=True)
    out = os.path.join(out_dir, f"{tag}.json")
    if os.path.exists(out):
        os.remove(out)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        run_jvm(classpath, build_dir, work, out, args)
        result = json.load(open(out))
        if args.workload == "analytics":
            results = os.path.join(work, "results")
            shutil.copy(os.path.join(results, "oracle_sql.json"),
                        os.path.join(build_dir, "oracle_sql.json"))
            oracle_checks(result, results, args.plant_fault)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    wanted = bench["per_layer"] if args.trace else bench["end_to_end"]
    metrics, not_exercised = {}, []
    for m in wanted:
        got = result["metrics"].get(m["name"])
        if got is None and args.trace:
            # the workload does no work in this layer
            not_exercised.append(m["name"])
            got = {"value": 0, "unit": m["unit"]}
        if got is None:
            result["checks"].append({"name": f"metric_{m['name']}", "ok": False,
                                     "detail": "not measured"})
            result["attempted"] += 1
            result["failed"] += 1
            continue
        metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}
    correct = result["failed"] == 0

    info = dict(result["info"])
    info.update({"box_start": start, "box_end": box_stamp(),
                 "git_commit": git_commit(), "source_sha256": digest,
                 "not_exercised": not_exercised,
                 "checks_failed": [c["name"] for c in result["checks"] if not c["ok"]],
                 "workload_metrics": {k: v for k, v in result["metrics"].items()
                                      if k not in metrics}})
    record = {"correct": correct, "attempted": result["attempted"],
              "failed": result["failed"], "metrics": metrics}
    with open(out, "w") as f:
        json.dump({"info": info, "checks": result["checks"], **record}, f, indent=1)
    print(json.dumps({"perfbench_info": info}))
    print(json.dumps(record))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
