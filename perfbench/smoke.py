#!/usr/bin/env python3
"""Smoke self-test of the benchmark at a tiny size.

    python3 perfbench/smoke.py

Runs every workload of BENCHMARK.json twice at --scale smoke (a queue of a
few hundred records, sf 0.001 tables): untraced, then traced. Fails unless
every run's correctness checks pass, the untraced result line carries every
end-to-end metric and the traced one every per-layer metric, each with the
unit BENCHMARK.json gives it. Prints the tracing overhead of each workload:
the traced run's timed region minus the untraced run's.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, trace: int):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "1", "--trace", str(trace),
           "--scale", "smoke"]
    p = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"{workload} trace={trace}: exit {p.returncode}")
    return json.loads(lines[-2])["report"], json.loads(lines[-1])


def check(result: dict, specs: list, what: str) -> list:
    errors = []
    for m in specs:
        got = result["metrics"].get(m["name"])
        if got is None:
            errors.append(f"{what}: metric {m['name']} missing")
        elif got["unit"] != m["unit"] or not isinstance(got["value"], (int, float)):
            errors.append(f"{what}: metric {m['name']} printed as {got}")
    extra = set(result["metrics"]) - {m["name"] for m in specs}
    if extra:
        errors.append(f"{what}: unlisted metrics {sorted(extra)}")
    if not result["correct"]:
        errors.append(f"{what}: correctness checks failed")
    if result["attempted"] < 1:
        errors.append(f"{what}: nothing attempted")
    return errors


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    errors = []
    for w in bench["workloads"]:
        name = w["name"]
        rep0, res0 = run(name, 0)
        errors += check(res0, bench["end_to_end"], f"{name} untraced")
        errors += [f"{name} untraced: {f}" for f in rep0["failures"]]
        rep1, res1 = run(name, 1)
        errors += check(res1, bench["per_layer"], f"{name} traced")
        errors += [f"{name} traced: {f}" for f in rep1["failures"]]
        overhead = rep1["timed_s"]["value"] - rep0["timed_s"]["value"]
        print(f"{name}: untraced {rep0['timed_s']['value']:.2f} s, traced "
              f"{rep1['timed_s']['value']:.2f} s, tracing overhead {overhead:+.2f} s")
    for e in errors:
        print(f"FAIL {e}")
    print("smoke: " + ("FAIL" if errors else "PASS"))
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
