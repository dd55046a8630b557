#!/usr/bin/env python3
"""Self-test of the benchmark on tiny inputs.

    python3 perfbench/selftest.py

Runs each workload untraced and traced on tiny inputs (3,000 flights; a
gate fixture near the 0.001 scale factor) and asserts that every metric
BENCHMARK.json names is printed with its unit and a numeric value. Then runs
`gates` with a planted failing gate and a planted wrong oracle fingerprint
and asserts that both are reported as failed and the run exits non-zero.
Takes about seven minutes on 4 cores.
"""

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, trace, plant=""):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--tiny"]
    if plant:
        cmd += ["--plant", plant]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    assert len(lines) >= 2, f"{cmd}: no result\n{p.stderr[-2000:]}"
    return p.returncode, json.loads(lines[-2])["perfbench"], json.loads(lines[-1])


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in spec["workloads"]:
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            rc, detail, res = run(w["name"], trace)
            assert rc == 0 and res["correct"] and res["failed"] == 0, \
                (w["name"], trace, detail["failures"])
            assert set(res) == {"correct", "attempted", "failed", "metrics"}
            want = {m["name"]: m["unit"] for m in spec[kind]}
            got = res["metrics"]
            assert set(got) == set(want), (w["name"], set(want) ^ set(got))
            for name, unit in want.items():
                v = got[name]
                assert v["unit"] == unit and isinstance(v["value"], (int, float)), \
                    (name, v)
            print(f"ok  {w['name']} trace={trace}: {len(got)} metrics")

    rc, detail, res = run("gates", 0, plant="failing-gate,wrong-fingerprint")
    assert rc != 0 and not res["correct"] and res["failed"] >= 2, res
    failures = "\n".join(detail["failures"])
    assert "gate q_planted_failing_gate" in failures, failures
    assert "oracle check" in failures, failures
    print(f"ok  planted failures reported: {res['failed']} of {res['attempted']} failed")


if __name__ == "__main__":
    main()
