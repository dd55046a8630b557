#!/usr/bin/env python3
"""Benchmark of the flight-delay engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload {train,score,gates} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout. The first run builds the engine and the
harness from source (sbt, offline, into perfbench/target); later runs reuse
the build while the sources are unchanged. Inputs are generated from the
seed under .bench_build/perfbench/. The last line of standard output is
one JSON object: {"correct", "attempted", "failed", "metrics"} with the
end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1) named in
BENCHMARK.json. The line before it carries the host and config stamp and
the per-run details. The exit code is 0 only when every operation and
output check passed.
"""

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import fixture  # noqa: E402
import oracle  # noqa: E402

XMX = "4g"
SETUPS = 3
DEADLINE_S = 170

# Input sizes are part of each workload's definition.
WORKLOADS = {
    "train": {"rows": 6_000, "tail-pool": 1_000, "warmups": 1},
    "gates": {"fixture": "bench", "warmups": 0},
}
# tables each gate reads; the gate workload's input rows are their sum
GATE_TABLES = {
    "q_x_pagerank": "lineitem", "q_x_golden": "supplier",
    "q_x_dbscan": "embeddings", "q_x_pipeline4": "embeddings",
    "q_x_setjoin": "documents", "q_x_dup_clusters": "documents",
}

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash():
    """Hash of every file the build reads."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project",
                                                           "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(digest):
    stamp = os.path.join(HERE, "target", "perfbench.stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return
    log = os.path.join(HERE, "target", "build.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as out:
        rc = subprocess.call(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
            cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL)
    if rc != 0:
        die(f"build failed (exit {rc}); see {os.path.relpath(log, ROOT)}")
    with open(stamp, "w") as f:
        f.write(digest)


def host_stamp(digest):
    mem = "unknown"
    try:
        with open("/proc/meminfo") as f:
            mem = next(line.split(":")[1].strip() for line in f
                       if line.startswith("MemTotal"))
    except (OSError, StopIteration):
        pass
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                                capture_output=True, text=True, timeout=10)
        commit = commit.stdout.strip() if commit.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        commit = None
    return {"nproc": os.cpu_count(), "mem_total": mem,
            "git_commit": commit or "not a git checkout",
            "source_sha256": digest, "xmx": XMX}


def java_cmd(spark_home, work, args):
    cp = os.pathsep.join([
        os.path.join(HERE, "target", "scala-2.13", "classes"),
        os.path.join(ROOT, "src", "main", "resources"),
        os.path.join(spark_home, "jars", "*")])
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return ["java", *opens, f"-Xmx{XMX}", "-XX:-DontCompileHugeMethods",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "-cp", cp, "perfbench.Harness", *args]


def run_harness(cmd, work, deadline):
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(os.cpu_count())
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "tmp")
    env.pop("SPARK_GRAFT_MASTER", None)
    log_path = os.path.join(work, "harness.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log,
                                stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=max(1, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die(f"harness exceeded the time limit; see {log_path}", 3)
    result = os.path.join(work, "harness.json")
    if rc != 0 or not os.path.exists(result):
        with open(log_path) as f:
            tail = f.read()[-3000:]
        die(f"harness failed (exit {rc}):\n{tail}", 3)
    with open(result) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # self-test hooks: smaller inputs and planted failures
    ap.add_argument("--tiny", action="store_true", help=argparse.SUPPRESS)
    ap.add_argument("--plant", default="", help=argparse.SUPPRESS)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("the engine sources (src/main/scala/graft) are not in this checkout")
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        die("SPARK_HOME must point at a Spark distribution")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    digest = source_hash()
    build(digest)
    deadline = time.monotonic() + DEADLINE_S

    out_root = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    work = os.path.join(ROOT, out_root, "perfbench",
                        f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    size = dict(WORKLOADS[a.workload])
    if a.tiny:
        size.update({"train": {"rows": 3000},
                     "gates": {"fixture": "tiny"}}[a.workload])
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--setups", str(SETUPS)]
    if a.workload == "gates":
        fx = os.path.join(work, "fixture")
        tables = fixture.generate(a.seed, fx, size.pop("fixture"))
        rows = sum(tables[t] for t in GATE_TABLES.values())
        args += ["--fixture", fx, "--rows", str(rows)]
    args += [x for k, v in size.items() for x in (f"--{k}", str(v))]
    if a.plant:
        args += ["--plant", a.plant]

    t0 = time.monotonic()
    h = run_harness(java_cmd(spark_home, work, args), work, deadline)
    t1 = time.monotonic()
    attempted, failed = h["attempted"], h["failed"]
    failures = list(h["failures"])
    if a.workload == "gates":
        checks = oracle.check(os.path.join(work, "fixture"), work,
                              list(GATE_TABLES), plant=a.plant)
        matching = h["details"]["gate_matching_runs"]
        for gate, (ok, why) in checks.items():
            attempted += 1
            if not ok:
                # every run that reproduced the first run's output is wrong too
                failed += 1 + matching.get(gate, 0)
                failures.append(f"gate {gate} oracle check: {why}")

    t2 = time.monotonic()
    kind = "per_layer" if a.trace else "end_to_end"
    values = h["layers"] if a.trace else h["e2e"]
    metrics = {}
    for m in spec[kind]:
        v = values.get(m["name"])
        if v is None:
            die(f"metric {m['name']} was not measured", 4)
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}

    stamp = host_stamp(digest)
    stamp.update(h["stamp"])
    stamp.update({"seed": a.seed, "workload": a.workload,
                  "sizes": h["sizes"], "setups": SETUPS,
                  "sentinel_median_s": statistics.median(h["sentinel_s"])})
    detail = {"stamp": stamp, "passes": h["passes"],
              "samples": {k: h[k] for k in ("setup_s", "job_s", "cpu_s",
                                            "retained_heap_mb", "sentinel_s")},
              "details": h["details"], "failures": failures,
              "failed_frac": failed / attempted if attempted else 1.0,
              "wall_s": {"harness": t1 - t0, "oracle": t2 - t1}}
    if a.trace:
        with open(os.path.join(work, "spans.json"), "w") as f:
            json.dump(h["spans"], f)
        detail["spans_file"] = os.path.relpath(os.path.join(work, "spans.json"), ROOT)
    print(json.dumps({"perfbench": detail}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
