#!/usr/bin/env python3
"""graft benchmark: one workload, one JVM, one result.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the checkout root. Builds graft and the benchmark (build.py),
writes the run's inputs and expected outputs in one JVM
(`perfbench.Prepare`), runs `perfbench.Main` on local[nproc] in a second
one, prints every metric as `metric <name> <value> <unit>` with the unit
BENCHMARK.json gives it, and as the last line one JSON object:
{"correct", "attempted", "failed", "metrics"} holding the `end_to_end`
metrics of BENCHMARK.json (--trace 0) or its `per_layer` ones
(--trace 1). The full result (host facts, iterations, failures) and,
traced, the spans are kept under <build dir>/perfbench/results.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

# Input scale per workload: sf 0.1 is the fixtures' size (600,000 lineitem rows).
# See README.md, "Scale", for why corpus runs below it.
SCALE = {"export_full": 0.1, "corpus": 0.02}

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]

RUN_TIMEOUT_S = 170


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(SCALE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, help="input scale (default: per workload)")
    ap.add_argument("--data", help="take the tables from this fixture directory instead of "
                    "generating them (to compare the two; see README.md)")
    ap.add_argument("--corrupt", action="store_true",
                    help="corrupt each output on purpose; the checks must count failures")
    a = ap.parse_args()

    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    build.build(root)

    out = build.build_dir(root)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}-{os.getpid()}"
    work = os.path.join(out, "runs", tag)
    results = os.path.join(out, "results", tag + ".json")
    inputs = os.path.join(work, "inputs")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(os.path.dirname(results), exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    sf = a.sf or SCALE[a.workload]
    inputs_tag = f"seed{a.seed}-" + (f"data-{os.path.basename(os.path.normpath(a.data))}"
                                     if a.data else f"sf{sf}")
    jvm = [build.java(), "-XX:-UsePerfData", "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
    for p in JDK_OPENS:
        jvm += ["--add-opens", p + "=ALL-UNNAMED"]
    jvm += ["-cp", build.classpath(root)]
    prepare = jvm[:1] + ["-Xmx1g"] + jvm[1:] + [
        "perfbench.Prepare", "--workload", a.workload, "--seed", str(a.seed), "--sf", str(sf),
        "--cores", str(cores), "--inputs", inputs] + (["--data", a.data] if a.data else [])
    bench = jvm[:1] + ["-Xmx3g", "-Xmn512m", "-XX:ReservedCodeCacheSize=1g",
                       "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + jvm[1:] + [
        "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace), "--cores", str(cores),
        "--inputs", inputs, "--inputs-tag", inputs_tag, "--work", work,
        "--references", build.references_dir(root), "--results", results]
    if a.corrupt:
        bench.append("--corrupt")
    # a terminated run must not leave a JVM behind
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        walls = {}
        for name, cmd in (("input preparation", prepare), ("benchmark", bench)):
            t0 = time.monotonic()
            code = run_jvm(cmd)
            walls[name] = time.monotonic() - t0
            if code is None:
                raise SystemExit(f"perfbench: {name} JVM did not finish within {RUN_TIMEOUT_S}s")
            if code != 0:
                raise SystemExit(f"perfbench: {name} JVM exited with {code}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if not os.path.exists(results):
        raise SystemExit("perfbench: the benchmark JVM wrote no result")
    with open(results) as f:
        r = json.load(f)
    print(f"# wall: input preparation {walls['input preparation']:.1f} s, "
          f"benchmark JVM {walls['benchmark']:.1f} s")
    report(r, wanted, cores)


def run_jvm(cmd):
    """Exit code of `cmd`, or None if it ran out of time; never leaves it running."""
    proc = subprocess.Popen(cmd, stdout=sys.stderr)
    try:
        return proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        return None
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()


def report(r, wanted, cores):
    h = r["host"]
    print(f"# workload {r['workload']} inputs {r['inputs']} trace {int(r['trace'])}")
    print(f"# host nproc {h['nproc']} local[{h['local_n']}] {h['jvm']}")
    print(f"# host load start {h['load_start']} end {h['load_end']}")
    print(f"# host jvm flags {' '.join(h['jvm_flags'])}")
    load1 = float(h["load_start"].split()[0])
    if load1 > cores:
        print(f"# WARNING: host already loaded at start (1-min load {load1} on {cores} cores)")
    for msg in r["failures"]:
        print(f"# FAILED {msg}")
    s = r["setup_s"]
    print(f"# set-up: jvm {s['jvm']} s, session {s['session']} s, workload {s['workload']} s")
    print(f"# iterations {len(r['iterations'])}, counted warm untraced samples {r['counted']}")
    m = r["metrics"]
    # not contract metrics: failed_frac is 0 on a correct run, and the
    # high percentile exists only when enough samples are counted
    print(f"metric failed_frac {m['failed_frac']} ratio")
    for name in (n for n in m if n.startswith("iter_s_p") and n != "iter_s_p50"):
        print(f"metric {name} {m[name]} s")
    metrics = {}
    for w in wanted:
        if w["name"] not in m:
            if r["trace"]:
                # the layer is not used by this workload
                print(f"metric {w['name']} n/a {w['unit']}")
                metrics[w["name"]] = {"value": 0.0, "unit": w["unit"]}
                continue
            raise SystemExit(f"perfbench: metric {w['name']} missing from the result")
        v = m[w["name"]]
        if v is None:
            raise SystemExit(f"perfbench: metric {w['name']} has no value")
        print(f"metric {w['name']} {v} {w['unit']}")
        metrics[w["name"]] = {"value": v, "unit": w["unit"]}
    print(json.dumps({"correct": r["failed"] == 0 and r["attempted"] > 0,
                      "attempted": r["attempted"], "failed": r["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
