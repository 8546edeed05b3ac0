#!/usr/bin/env python3
"""Self-test of the benchmark, run from the checkout root:

    python3 perfbench/selftest.py [workload ...]

For each workload, at a small input scale: a traced and an untraced run
must be correct and print every metric of BENCHMARK.json with its unit,
and a run with --corrupt must be reported incorrect with failed
iterations. Exits non-zero on the first broken expectation.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
from run import SCALE  # noqa: E402

SF = "0.002"


def run(workload, trace, corrupt=False):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "5", "--seconds", "1", "--trace", str(trace), "--sf", SF]
    if corrupt:
        cmd.append("--corrupt")
    p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
    if p.returncode != 0:
        raise SystemExit(f"selftest: {' '.join(cmd[1:])} exited with {p.returncode}")
    lines = p.stdout.strip().splitlines()
    return lines, json.loads(lines[-1])


def main():
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    for workload in sys.argv[1:] or sorted(SCALE):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            lines, r = run(workload, trace)
            assert r["correct"] and r["failed"] == 0 and r["attempted"] >= 1, (workload, trace, r)
            for m in spec[key]:
                got = r["metrics"].get(m["name"])
                assert got is not None, (workload, trace, m["name"], "missing")
                assert got["unit"] == m["unit"], (workload, m["name"], got)
                assert isinstance(got["value"], (int, float)), (workload, m["name"], got)
                assert any(l.startswith(f"metric {m['name']} ") and l.endswith(f" {m['unit']}")
                           for l in lines), (workload, m["name"], "no metric line")
            if trace == 0:
                assert any(l.startswith("metric failed_frac 0.0 ") for l in lines), workload
            print(f"selftest: {workload} trace {trace}: {len(spec[key])} metrics ok", flush=True)
        _, r = run(workload, 0, corrupt=True)
        assert not r["correct"] and r["failed"] >= 1, (workload, "corruption not detected", r)
        print(f"selftest: {workload} corrupted output counted: {r['failed']}/{r['attempted']} failed",
              flush=True)
    print("selftest: ok")


if __name__ == "__main__":
    main()
