#!/usr/bin/env python3
"""Smoke test of the benchmark itself, at a tiny size of each workload.

Usage, from the repository root:  python3 perfbench/smoke.py

Checks that every workload prints every end-to-end metric (--trace 0) and
every per-layer metric (--trace 1) named in BENCHMARK.json, with its unit,
and that a deliberately corrupted KV row is caught by the oracle. Exits 0
when all checks pass.
"""
import json
import os
import subprocess
import sys


def run(workload, trace, *extra):
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "2", "--trace", str(trace), "--size", "tiny", *extra]
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return None, p.stdout + p.stderr
    return json.loads(lines[-1]), p.stdout


def main():
    spec = json.load(open("BENCHMARK.json"))
    failures = []
    for w in (x["name"] for x in spec["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            result, out = run(w, trace)
            if result is None:
                failures.append(f"{w} trace={trace}: no result\n{out[-2000:]}")
                continue
            if not result["correct"] or result["failed"]:
                failures.append(f"{w} trace={trace}: outputs incorrect\n{out[-2000:]}")
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            if got != want:
                failures.append(f"{w} trace={trace}: metrics differ from BENCHMARK.json: "
                                f"missing {sorted(set(want) - set(got))}, "
                                f"extra {sorted(set(got) - set(want))}, "
                                f"unit {sorted(k for k in want if k in got and got[k] != want[k])}")
            print(f"ok {w} trace={trace}: {len(got)} metrics", flush=True)

    result, out = run("pipeline_trickle", 0, "--corrupt-kv")
    if result is None or result["correct"] or result["failed"] < 1 or \
            "order_kpi" not in "".join(l for l in out.splitlines() if l.startswith("# FAILED")):
        failures.append(f"corrupted KV row not caught\n{out[-2000:]}")
    else:
        print("ok corrupted KV row caught", flush=True)

    for f in failures:
        print("FAIL " + f)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
