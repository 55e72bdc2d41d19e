#!/usr/bin/env python3
"""Run the benchmark on several seeds and report each metric's spread: the
distance between the first and third quartiles of its values, as a share
of their median, next to the bound BENCHMARK.json gives it.

    python3 perfbench/spread.py ops_interactive --seeds 1-10 [--trace 1]

Run it from the repository root; every run's last line is kept in
.bench_build/spread-<workload>.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("workload")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", default="0")
    a = ap.parse_args()
    bench = json.load(open("BENCHMARK.json"))
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    values, log = {}, os.path.join(".bench_build", f"spread-{a.workload}.jsonl")
    for s in seeds(a.seeds):
        out = subprocess.run(
            bench["command"] + ["--workload", a.workload, "--seed", str(s),
                                "--seconds", str(bench["run_seconds"]),
                                "--trace", a.trace],
            capture_output=True, text=True)
        if out.returncode != 0:
            sys.exit(f"seed {s} failed:\n{out.stderr[-2000:]}")
        last = json.loads(out.stdout.strip().splitlines()[-1])
        with open(log, "a") as fh:
            fh.write(json.dumps(dict(last, seed=s)) + "\n")
        print(s, last["correct"], last["failed"],
              {k: v["value"] for k, v in last["metrics"].items()}, flush=True)
        for k, v in last["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        vs = [v for v in vs if v is not None]
        if len(vs) < 2:
            continue
        q1, med, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        print(f"{k:24s} median {med:12.4f} spread {spread:.4f}"
              f" bound {bounds.get(k)}")


if __name__ == "__main__":
    main()
