"""Self-test of the benchmark's failure rules.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

A deliberately throwing op and a deliberately wrong op must both count as
failures, and neither may be published as a time.
"""
import math
import unittest

import metrics

UNITS = {"setup_s": "s", "pass_cpu_s": "s", "live_heap_mb": "MB"}


def rec(op, p, ms, status="ok", rows=10, kind="op"):
    return {"op": op, "kind": kind, "client": 0, "pass": p, "ms": ms,
            "cpuMs": ms / 2, "status": status, "rows": rows, "error": None}


def result(recs, passes, traced_recs=()):
    segs = [{"traced": False, "recs": list(recs), "layers": {},
             "passes": [{"index": i, "wallS": w, "cpuS": w / 2}
                        for i, w in passes]}]
    segs.append({"traced": True, "recs": list(traced_recs), "layers": {},
                 "passes": [{"index": len(passes), "wallS": 1.0,
                             "cpuS": 0.5}]})
    return {"setup_cpu_s": 9.0, "setup_wall_s": 4.0, "resolve_ms": 5.0,
            "peak_rss_mb": 100.0, "live_heap_mb": 50.0, "checks": [], "segments": segs}


class FailureRules(unittest.TestCase):

    def test_throwing_and_wrong_ops_are_failures_not_times(self):
        # pass 0 is clean; in pass 1 one op throws fast and one returns a
        # wrong row count (found by the oracle's count)
        r = result([rec("a", 0, 100.0), rec("b", 0, 200.0),
                    rec("a", 1, 1.0, status="threw", rows=-1),
                    rec("b", 1, 2.0, rows=7)],
                   passes=[(0, 0.3), (1, 0.003)])
        metrics.mark_wrong(r["segments"], {"a": (True, 10), "b": (True, 10)})
        out = metrics.summary(r, trace=0, units=UNITS)
        self.assertFalse(out["correct"])
        self.assertEqual((out["attempted"], out["failed"]), (4, 2))
        m = {k: v["value"] for k, v in out["metrics"].items()}
        layers = metrics.per_layer(r)
        # the failed pass is void: only the clean pass's op times count
        self.assertEqual(m["pass_cpu_s"], 0.15)
        self.assertEqual(layers["pass_s"], 0.3)
        # the fast failures are misses, not 1 ms and 2 ms latencies, and
        # an op's good run does not hide its failed one
        lat = sorted(metrics.latency(x) for x in r["segments"][0]["recs"])
        self.assertEqual(lat[:2], [100.0, 200.0])
        self.assertTrue(all(math.isinf(x) for x in lat[2:]))
        best = metrics.best_latencies(r["segments"][0]["recs"])
        self.assertTrue(all(math.isinf(x) for x in best))
        self.assertEqual(layers["op_p50_ms"], None)
        self.assertEqual(layers["op.cpu_p50_ms"], None)

    def test_wrong_output_fails_every_run_of_the_op(self):
        r = result([rec("a", 0, 100.0), rec("a", 1, 90.0)],
                   passes=[(0, 0.1), (1, 0.09)])
        metrics.mark_wrong(r["segments"], {"a": (False, None)})
        out = metrics.summary(r, trace=0, units=UNITS)
        self.assertEqual(out["failed"], 2)
        self.assertIsNone(out["metrics"]["pass_cpu_s"]["value"])
        layers = metrics.per_layer(r)
        self.assertIsNone(layers["pass_s"])
        self.assertIsNone(layers["op_p50_ms"])

    def test_clean_run_publishes_each_ops_best_run(self):
        r = result([rec("a", 0, 100.0), rec("b", 0, 300.0),
                    rec("a", 1, 110.0), rec("b", 1, 290.0)],
                   passes=[(0, 0.4), (1, 0.5)])
        metrics.mark_wrong(r["segments"], {"a": (True, 10), "b": (True, 10)})
        out = metrics.summary(r, trace=0, units=UNITS)
        self.assertTrue(out["correct"])
        m = {k: v["value"] for k, v in out["metrics"].items()}
        self.assertEqual(m["setup_s"], 9.0)
        # min of a (50) + min of b (145), in CPU time
        self.assertEqual(m["pass_cpu_s"], 0.195)
        self.assertEqual(m["live_heap_mb"], 50.0)
        layers = metrics.per_layer(r)
        # min of a (100) + min of b (290), in wall time
        self.assertEqual(layers["pass_s"], 0.39)
        self.assertEqual(layers["op_p50_ms"], 195.0)
        self.assertEqual((layers["op.cpu_p50_ms"], layers["setup.wall_s"]),
                         (100.0, 4.0))

    def test_traced_failures_count_too(self):
        r = result([rec("a", 0, 100.0)], passes=[(0, 0.1)],
                   traced_recs=[rec("a", 1, 5.0, status="timeout")])
        out = metrics.summary(r, trace=1, units={"fail_ratio": "ratio"})
        self.assertEqual(out["failed"], 1)
        self.assertEqual(out["metrics"]["fail_ratio"]["value"], 0.5)


if __name__ == "__main__":
    unittest.main()
