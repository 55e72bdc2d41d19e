"""Turns the harness's per-op records into the benchmark's metrics.

Pure functions over the JSON perfbench.Main writes, so the failure rules
are unit-tested (test_metrics.py): an op that threw, timed out or returned
a wrong output counts as failed, enters the latency percentiles as a miss
(+inf), and voids the pass it ran in, so no failure is ever published as
a time.
"""
import math
import statistics

MISS = math.inf


def median(values):
    """Median, or None when there is none or it is a miss."""
    if not values:
        return None
    m = statistics.median(values)
    return None if math.isinf(m) else m


def nearest_rank(values, q):
    """Nearest-rank percentile q (0..1) of values, or None."""
    if not values:
        return None
    s = sorted(values)
    v = s[max(0, math.ceil(q * len(s)) - 1)]
    return None if math.isinf(v) else v


def failed(rec):
    return rec["status"] != "ok"


def latency(rec, key="ms"):
    return MISS if failed(rec) else rec[key]


def mark_wrong(segments, verdicts):
    """Apply the oracle verdicts to the timed records: an op whose checked
    output was wrong, or whose row count differs from the oracle's, is
    wrong. verdicts: op -> (ok, oracle_rows or None)."""
    for seg in segments:
        for r in seg["recs"]:
            if r["op"] not in verdicts or r["status"] != "ok":
                continue
            ok, rows = verdicts[r["op"]]
            if not ok:
                r["status"], r["error"] = "wrong", "output differs from the oracle"
            elif rows is not None and r["rows"] != rows:
                r["status"] = "wrong"
                r["error"] = f"{r['rows']} rows, oracle has {rows}"


def pass_times(seg, key="wallS"):
    """Wall (or CPU) time of every pass in which no op failed."""
    void = {r["pass"] for r in seg["recs"] if failed(r)}
    return [p[key] for p in seg["passes"] if p["index"] not in void]


def _by_op(recs):
    """Records grouped by op: one group per (op, kind, client)."""
    groups = {}
    for r in recs:
        groups.setdefault((r["op"], r["kind"], r["client"]), []).append(r)
    return groups.values()


def best_pass(seg, key="ms"):
    """Seconds of one pass made of each op's best run: the sum over ops of
    the op's minimum over the passes in which no op failed (Bench's
    min-of-N). A burst of machine noise must then hit every pass of an op
    to show. None when every pass holds a failure."""
    void = {r["pass"] for r in seg["recs"] if failed(r)}
    clean = [r for r in seg["recs"] if r["pass"] not in void]
    if not clean:
        return None
    return sum(min(r[key] for r in g) for g in _by_op(clean)) / 1e3


def best_latencies(recs, key="ms"):
    """Each op's minimum over its runs, or a miss when any run of it
    failed: a failure is never hidden behind a good run."""
    return [MISS if any(map(failed, g)) else min(r[key] for r in g)
            for g in _by_op(recs)]


def end_to_end(result):
    """The end-to-end metrics, from the untraced segment: the cold set-up's
    CPU time, the CPU time of a pass made of each op's best run, and the
    live heap."""
    return {
        "setup_s": result["setup_cpu_s"],
        "pass_cpu_s": best_pass(result["segments"][0], "cpuMs"),
        "live_heap_mb": result["live_heap_mb"],
    }


def per_layer(result):
    """The per-layer metrics: the traced segment's layer counts, plus the
    wall times of the untraced segment (a pass and an op from each op's
    best run, and the class latencies) and the tracing overhead, which
    compares the untraced segment with the traced one."""
    plain, traced = result["segments"]
    recs = plain["recs"]
    out = {"tables.resolve_ms": result["resolve_ms"],
           "setup.wall_s": result["setup_wall_s"],
           "jvm.peak_rss_mb": result["peak_rss_mb"]}
    out.update(traced["layers"])
    for kind in ("cold", "hit", "retry"):
        lat = [latency(r) for r in recs if r["kind"] == kind]
        out[f"ask.{kind}_p50_ms"] = median(lat) if lat else 0.0
    out["pass_s"] = best_pass(plain)
    out["op_p50_ms"] = median(best_latencies(recs))
    out["op.cpu_p50_ms"] = median([latency(r, "cpuMs") for r in recs])
    out["op.p90_ms"] = nearest_rank([latency(r) for r in recs], 0.9)
    out["op.samples"] = len(recs)
    everything = recs + traced["recs"]
    out["fail_ratio"] = sum(map(failed, everything)) / max(1, len(everything))
    plain_s, traced_s = median(pass_times(plain)), median(pass_times(traced))
    out["trace.overhead"] = (traced_s / plain_s - 1
                             if plain_s and traced_s else None)
    return out


def summary(result, trace, units):
    """The benchmark's last output line, as a dict."""
    recs = [r for seg in result["segments"] for r in seg["recs"]]
    n_failed = sum(map(failed, recs))
    values = per_layer(result) if trace else end_to_end(result)
    return {
        "correct": n_failed == 0,
        "attempted": len(recs),
        "failed": n_failed,
        "metrics": {name: {"value": values.get(name), "unit": unit}
                    for name, unit in units.items()},
    }
