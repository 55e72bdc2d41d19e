#!/usr/bin/env python3
"""Interleaved A/B of the benchmark on two checkouts: for each seed, one run
on the parent and one on the change, alternating which side runs first.
Prints each pair as it lands, then per end-to-end metric each side's median
and quartiles, the pairs the change wins, and whether that is a gain: the
change wins at least nine tenths of the pairs run (ties count for neither),
the medians differ, in the better direction, by more than the distance
between the parent's quartiles, and the change fails no more operations in
total than the parent. A side whose run errored or printed "correct": false
loses its pair. Also prints the median and quartiles of the per-pair
difference (change - parent, over the pairs where both sides ran correctly),
which a seed-to-seed spread larger than the gain does not hide, and how far
the change's median sits from the parent's, as a share of it, next to the
BENCHMARK.json bound.

    python3 tools/ab_pairs.py PARENT_DIR CHANGE_DIR --workload ask_serial \\
        --seeds 201-210

Each checkout is a full source tree; its perfbench/run.py builds it on the
first run (discard that pair with a warm-up seed if it hits the deadline).
Metric names, directions, bounds and the run length (`run_seconds`) come
from CHANGE_DIR/BENCHMARK.json.
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


def quartiles(vs):
    """(q1, median, q3) of `vs`, as perfbench/spread.py takes them; NaNs
    when `vs` is empty."""
    if not vs:
        return (float("nan"),) * 3
    if len(vs) == 1:
        return vs[0], vs[0], vs[0]
    q1, _, q3 = statistics.quantiles(vs, n=4)
    return q1, statistics.median(vs), q3


def summarize(pairs, better, failed=(0, 0)):
    """`pairs` holds (parent, change) values of one metric, one per pair
    run; a side whose run errored or was not correct holds None and loses
    the pair. `better` is "lower" or "higher"; `failed` is each side's
    (parent, change) failed operations summed over its runs. Returns each
    side's quartiles, the quartiles of the per-pair difference (change -
    parent, over the pairs where both sides hold a value), the change's wins
    and ties, and whether the pairs show a gain. The difference does not
    enter the verdict."""
    sign = 1 if better == "lower" else -1

    def won(p, c):
        return c is not None and (p is None or sign * (p - c) > 0)

    wins = sum(1 for p, c in pairs if won(p, c))
    ties = sum(1 for p, c in pairs if p is not None and p == c)
    parent = quartiles([p for p, _ in pairs if p is not None])
    change = quartiles([c for _, c in pairs if c is not None])
    diff = quartiles([c - p for p, c in pairs if p is not None and c is not None])
    gain = (failed[1] <= failed[0] and wins >= 0.9 * len(pairs) and
            sign * (parent[1] - change[1]) > parent[2] - parent[0])
    worse = sign * (change[1] - parent[1]) / parent[1] if parent[1] else float("nan")
    return {"n": len(pairs), "wins": wins, "ties": ties, "parent": parent,
            "change": change, "diff": diff, "gain": gain, "worse_by": worse}


def run(checkout, workload, seed, seconds):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        return {"error": (out.stderr or out.stdout)[-2000:]}
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    a = ap.parse_args()
    bench = json.load(open(os.path.join(a.change, "BENCHMARK.json")))
    values = {m["name"]: [] for m in bench["end_to_end"]}
    failed = {"parent": 0, "change": 0}
    for i, s in enumerate(seeds(a.seeds)):
        sides = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        res = {side: run(getattr(a, side), a.workload, s, bench["run_seconds"])
               for side in sides}
        for side in sides:
            r = res[side]
            print(s, side, "error" if "error" in r else
                  (r["correct"], r["failed"],
                   {k: v["value"] for k, v in r["metrics"].items()}), flush=True)
            failed[side] += r.get("failed", 0)

        def value(side, name):
            r = res[side]
            if "error" in r or not r["correct"]:
                return None
            return r["metrics"].get(name, {}).get("value")
        for name, pairs in values.items():
            pairs.append((value("parent", name), value("change", name)))
    for m in bench["end_to_end"]:
        r = summarize(values[m["name"]], m["better"],
                      (failed["parent"], failed["change"]))
        fmt = lambda q: f"{q[1]:.4g} [{q[0]:.4g}-{q[2]:.4g}]"
        print(f"{a.workload} {m['name']:14s} parent {fmt(r['parent'])}"
              f"  change {fmt(r['change'])}  change-parent {fmt(r['diff'])}"
              f"  change wins {r['wins']}/{r['n']}"
              f" (ties {r['ties']})  gain {r['gain']}"
              f"  worse by {r['worse_by']:+.1%} (bound {m['bound']:.0%})")
    print(f"{a.workload} failed operations  parent {failed['parent']}"
          f"  change {failed['change']}")


if __name__ == "__main__":
    main()
