"""Self-tests for the benchmark's own arithmetic.

Run: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import unittest
from pathlib import Path

import metrics

BENCHMARK = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_keeps_ten_samples_beyond(self):
        self.assertEqual(metrics.highest_percentile(100), 90)
        self.assertEqual(metrics.highest_percentile(99), 75)   # only 9 lie beyond p90
        self.assertEqual(metrics.highest_percentile(1000), 99)
        self.assertEqual(metrics.highest_percentile(20), 50)
        self.assertIsNone(metrics.highest_percentile(19))

    def test_beyond_counts_samples_above_the_percentile(self):
        self.assertEqual(metrics.beyond(100, 90), 10)
        self.assertEqual(metrics.beyond(99, 90), 9)
        self.assertEqual(metrics.beyond(40, 75), 10)

    def test_percentile_interpolates(self):
        self.assertEqual(metrics.percentile([4, 1, 3, 2], 50), 2.5)
        self.assertEqual(metrics.percentile([5], 90), 5)
        self.assertAlmostEqual(metrics.percentile(list(range(11)), 90), 9.0)


class SelfTime(unittest.TestCase):
    def test_children_are_subtracted_once(self):
        span = {"start": 0.0, "end": 10.0}
        kids = [{"start": 1, "end": 3}, {"start": 2, "end": 5},   # overlap: covers [1, 5]
                {"start": 7, "end": 8},
                {"start": 9, "end": 12}]                          # clipped to [9, 10]
        self.assertAlmostEqual(metrics.self_time(span, kids), 10 - 4 - 1 - 1)

    def test_span_without_children_is_all_self(self):
        self.assertAlmostEqual(metrics.self_time({"start": 2.0, "end": 2.5}, []), 0.5)

    def test_children_outside_the_span_do_not_count(self):
        span = {"start": 5.0, "end": 6.0}
        self.assertAlmostEqual(metrics.self_time(span, [{"start": 0, "end": 4}, {"start": 7, "end": 9}]), 1.0)


class OpenLoop(unittest.TestCase):
    @staticmethod
    def timeline(drops, service=0.2):
        # due every second; each object commits `service` after its drop
        return [{"id": i, "kind": "ok", "due": float(i), "drop": d, "commit": d + service}
                for i, d in enumerate(drops)]

    def test_latency_runs_from_due_time(self):
        lat, missing = metrics.open_loop_latencies(self.timeline([0.0, 1.0, 2.0]))
        self.assertEqual(missing, [])
        for x in lat:
            self.assertAlmostEqual(x, 0.2)

    def test_stalled_generator_shows_as_latency(self):
        # the generator stalls 1.5 s before object 2 and then catches up
        tl = self.timeline([0.0, 1.0, 3.5, 3.5])
        lat, _ = metrics.open_loop_latencies(tl)
        self.assertAlmostEqual(lat[2], 1.7)   # 1.5 s late + 0.2 s service
        self.assertAlmostEqual(lat[3], 0.7)
        self.assertAlmostEqual(metrics.generator_lag(tl), 1.5)

    def test_decoys_are_not_timed_and_lost_objects_are_reported(self):
        tl = self.timeline([0.0, 1.0, 2.0])
        tl[1]["kind"] = "csv"
        tl[2]["commit"] = -1.0
        lat, missing = metrics.open_loop_latencies(tl)
        self.assertEqual(len(lat), 1)
        self.assertEqual(missing, [2])


class OutputChecks(unittest.TestCase):
    def test_every_mismatch_counts(self):
        raw = {
            "checks": [{"name": "q1", "rows": 3, "hash": "1:2"}, {"name": "q2", "rows": 4, "hash": "9:9"},
                       {"name": "q3", "rows": 1, "hash": "0:0"}],
            "samples": [{"name": "q1", "pass": 0, "ok": True}, {"name": "q2", "pass": 0, "ok": False}],
            "reconcile": [
                {"id": 1, "kind": "ok", "rows": 200, "warehouse_rows": 200, "dirs": 1},
                {"id": 2, "kind": "ok", "rows": 200, "warehouse_rows": 400, "dirs": 2},   # duplicated
                {"id": 3, "kind": "csv", "rows": 0, "warehouse_rows": 50, "dirs": 1},     # decoy ingested
                {"id": 4, "kind": "null", "rows": 0, "warehouse_rows": 0, "dirs": 0}],
        }
        golden = {"q1": {"rows": 3, "hash": "1:2"}, "q2": {"rows": 4, "hash": "1:1"}}
        attempted, failed, problems = metrics.check_outputs(raw, golden)
        self.assertEqual(attempted, 3 + 2 + 4)
        self.assertEqual(failed, 5)   # q2 hash, q3 no golden, q2 failed run, object 2, object 3
        self.assertEqual(len(problems), 5)



class MetricNames(unittest.TestCase):
    """Every run must print exactly the metrics BENCHMARK.json lists."""

    @staticmethod
    def traced_raw():
        spans, n = [], 0

        def span(name, parent, start, end, **attrs):
            nonlocal n
            n += 1
            spans.append({"id": n, "parent": parent, "name": name, "start": start, "end": end, "attrs": attrs})
            return n
        p = span("pass:1", 0, 0.0, 1.0)
        q = span("query:q1", p, 0.0, 1.0)
        span("construct", q, 0.0, 0.2)
        span("plan", q, 0.2, 0.3, nodes=7, analysis_ms=1, optimization_ms=2, planning_ms=3)
        e = span("exec", q, 0.3, 1.0)
        r = span("tables:round0", 0, 2.0, 3.0)
        span("tables.region", r, 2.0, 2.1)
        span("xlsx.parse", 0, 4.0, 4.5, rows=200)
        span("xlsx.infer", 0, 4.5, 4.6)
        span("sink.write", 0, 4.6, 4.9)
        d = span("stream:drain", 0, 5.0, 6.0)
        return {
            "cores": 4, "spans": spans,
            "jobs": [{"id": 1, "span": e}, {"id": 2, "span": d}],
            "stages": [{"span": e, "tasks": 4, "run_s": 0.5, "gc_s": 0.0, "shuffle_read": 10,
                        "shuffle_write": 10, "spill": 0}],
            "passes": [{"pass": 0, "start": 0.0, "end": 0.9, "complete": True, "traced": False},
                       {"pass": 1, "start": 0.0, "end": 1.0, "complete": True, "traced": True}],
            "samples": [{"start": 0.0, "end": 0.9}, {"start": 1.0, "end": 2.0}],
            "probes": {"workbooks": [{"files": 1}],
                       "stream": {"notified": 5, "progress": [{"input_rows": 3, "add_batch_ms": 300, "trigger_ms": 400}],
                                  "reconcile": [{"warehouse_rows": 200}] * 4}},
        }

    def test_per_layer_names_and_units(self):
        out = metrics.per_layer(self.traced_raw())
        want = {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]}
        self.assertEqual(set(out), set(want))
        for name, unit in want.items():
            self.assertEqual(metrics.unit_of(name), unit, name)
        self.assertAlmostEqual(out["streaming.accept_share"], 0.8)
        self.assertAlmostEqual(out["exec.busy_share"], 0.5 / (0.7 * 4))

    def test_end_to_end_names_and_units(self):
        raw = {"session_s": 1.0, "gen_s": 0.2, "warm_s": 2.0,
               "samples": [{"latency": 0.5, "ok": True}], "measure_start": 0.0, "measure_end": 1.0,
               "passes": [{"start": 0.0, "end": 0.5, "complete": True}]}
        out, _, _ = metrics.end_to_end(raw)
        self.assertEqual({k: v["unit"] for k, v in out.items()},
                         {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]})
        self.assertAlmostEqual(out["setup_s"]["value"], 1.0 + 2.0)   # table generation left out

    def test_drain_workload_gates_the_median_drain(self):
        drains = [{"drain": i, "start": 10.0 * i, "end": 10.0 * i + d, "traced": False, "accepted": 6,
                   "notified": 10, "query": f"q{i}"} for i, d in enumerate([3.0, 9.0, 2.0, 3.5, 2.5])]
        raw = {"session_s": 1.0, "warm_s": 2.0, "workbook_s": 0.5, "drains": drains,
               "open": {"rate": 0.5, "timeline": [{"id": 1, "kind": "ok", "due": 0.0, "drop": 0.0,
                                                   "commit": 0.4}]}}
        out, lat, _ = metrics.end_to_end(raw)
        self.assertAlmostEqual(out["pass_s"]["value"], 3.0)   # one slow drain does not move it
        self.assertAlmostEqual(out["setup_s"]["value"], 3.5)
        self.assertEqual(len(lat), 1)

    def test_accept_share_counts_traced_drains_only(self):
        raw = self.traced_raw()
        del raw["probes"]["stream"]
        raw["drains"] = [{"drain": 0, "start": 0.0, "end": 3.0, "traced": False, "notified": 10, "query": "a"},
                         {"drain": 1, "start": 4.0, "end": 7.3, "traced": True, "notified": 10, "query": "b"}]
        raw["open"] = {"traced": False, "query": "c", "timeline": []}
        ok = {"kind": "ok", "warehouse_rows": 200}
        raw["reconcile"] = [dict(ok, drain=0)] * 6 + [dict(ok, drain=1)] * 6 + \
            [{"kind": "csv", "warehouse_rows": 0, "drain": 1}] * 4
        raw["progress"] = [{"query": "b", "input_rows": 3, "add_batch_ms": 300, "trigger_ms": 400},
                           {"query": "a", "input_rows": 3, "add_batch_ms": 300, "trigger_ms": 400}]
        out = metrics.per_layer(raw)
        self.assertAlmostEqual(out["streaming.accept_share"], 0.6)
        self.assertEqual(out["streaming.batches"], 1)
        self.assertAlmostEqual(out["trace.overhead_share"], 0.1)


if __name__ == "__main__":
    unittest.main()
