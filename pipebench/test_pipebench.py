"""Tests of the benchmark's own code: plan determinism, the tail rule,
the self-time arithmetic and the host-speed scale.

    python3 -m unittest discover -s pipebench -p 'test_*.py'
"""
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import plan  # noqa: E402
import stats  # noqa: E402


class PlanTest(unittest.TestCase):
    def test_same_seed_same_plan(self):
        for w in ("pipeline_service", "bulk_pipeline", "query_battery"):
            a = json.dumps(plan.make(w, 7, 10, 4, "/data"), sort_keys=True)
            b = json.dumps(plan.make(w, 7, 10, 4, "/data"), sort_keys=True)
            self.assertEqual(a, b, w)

    def test_other_seed_other_plan(self):
        for w in ("pipeline_service", "bulk_pipeline", "query_battery"):
            a = plan.make(w, 7, 10, 4, "/data")
            b = plan.make(w, 8, 10, 4, "/data")
            self.assertNotEqual(json.dumps(a, sort_keys=True), json.dumps(b, sort_keys=True), w)

    def test_op_count_depends_only_on_seconds(self):
        a = plan.make("pipeline_service", 1, 10, 4, "/data")
        b = plan.make("pipeline_service", 2, 10, 4, "/data")
        self.assertEqual([len(c) for c in a["clients"]], [len(c) for c in b["clients"]])
        self.assertEqual(len(plan.make("bulk_pipeline", 1, 10, 4, "/d")["ops"]),
                         len(plan.make("bulk_pipeline", 2, 10, 4, "/d")["ops"]))

    def test_service_mix(self):
        p = plan.make("pipeline_service", 3, 10, 4, "/data")
        ops = [o for c in p["warmup"] + p["clients"] for o in c]
        resumes = [o for o in ops if o["kind"] == "resume"]
        self.assertTrue(0.1 < len(resumes) / len(ops) < 0.4)
        widths = {o["input"]["user_prompt"].count(",") + 1 for o in ops if o["kind"] == "start"}
        self.assertTrue(min(widths) >= 1 and max(widths) <= 16)
        for c in p["warmup"] + p["clients"]:
            for o in c:
                if o["kind"] == "resume":
                    self.assertTrue(o["pid"].split("-", 1)[1].startswith(("w", "c")))
        for c, (warm, window) in enumerate(zip(p["warmup"], p["clients"])):
            own = {o["pid"] for o in warm + window if o["kind"] == "start"}
            self.assertTrue(all(o["pid"] in own for o in warm + window))

    def test_service_clients_pair_up(self):
        p = plan.make("pipeline_service", 4, 8, 4, "/data")

        def shape(ops):
            return [(o["kind"], o["spec"], o.get("width")) for o in ops]
        for key in ("warmup", "clients"):
            a, b = p[key]
            self.assertEqual(shape(a), shape(b), key)
            self.assertNotEqual([o.get("input") for o in a], [o.get("input") for o in b], key)
        widths = [{o["width"] for o in c[0] if o["kind"] == "start"}
                  for c in (p["warmup"], p["clients"])]
        self.assertEqual(max(widths[0]), max(widths[1]))  # the warm-up covers the widest

    def test_service_expectations(self):
        self.assertEqual(plan.service_expect("fanout-text", "t", ["a0", "b1"]), "<Ra0|Rb1>")
        self.assertEqual(plan.service_expect("fanout-image", "t", ["a0"]), "img:t")

    def test_query_window_is_a_fixed_eighth(self):
        names = sorted(plan.query_digests())
        self.assertEqual(len(names), 56)
        eighth = plan.window_queries()
        self.assertEqual(len(eighth), 10)
        self.assertEqual({stats.family(q) for q in eighth}, {m for _, m in stats.FAMILIES})
        a = plan.make("query_battery", 5, 10, 4, "/data")
        b = plan.make("query_battery", 6, 10, 4, "/data")
        for p in (a, b):
            self.assertEqual(sorted(o["query"] for o in p["warmup"]), sorted(eighth * 2))
            self.assertEqual(sorted(o["query"] for o in p["ops"]), sorted(eighth * 3))
        self.assertNotEqual([o["query"] for o in a["ops"]], [o["query"] for o in b["ops"]])


class TailTest(unittest.TestCase):
    def test_ten_beyond(self):
        value, pct, n = stats.tail(list(range(1, 101)))
        self.assertEqual((value, pct, n), (90, 90.0, 100))

    def test_small_counts(self):
        self.assertIsNone(stats.tail(list(range(10))))
        self.assertEqual(stats.tail(list(range(11))), (0, 100.0 / 11, 11))

    def test_56_ops(self):
        value, pct, n = stats.tail(list(range(56)))
        self.assertEqual(value, 45)
        self.assertAlmostEqual(pct, 82.142857, places=5)
        self.assertEqual(sum(1 for x in range(56) if x > value), 10)


class SelfTimeTest(unittest.TestCase):
    def test_covered_merges_and_clips(self):
        self.assertEqual(stats.covered(0, 100, [(10, 20), (15, 30), (90, 120), (-5, 2)]), 32)
        self.assertEqual(stats.covered(0, 10, []), 0)
        self.assertEqual(stats.covered(0, 10, [(20, 30)]), 0)

    def test_layer_times_count_each_instant_once(self):
        # innermost first: b1/b2 inside b, b overlapping a
        own = stats.layer_times(0, 100, [("leaf", [(35, 50), (45, 60)]),
                                         ("mid", [(30, 90)]), ("outer", [(0, 40)])])
        self.assertEqual(own, {"leaf": 25, "mid": 35, "outer": 30})
        self.assertEqual(sum(own.values()), 90)  # [90, 100] is covered by none

    def _op(self, run_end, rtt_end):
        op = {"start": 0, "end": 1000}
        ss = [
            {"id": 7, "name": "runner.run", "start": 100, "end": run_end, "parent": 0},
            {"id": 8, "name": "api.admission_wait", "start": 60, "end": 100, "parent": 0},
            {"id": 6, "name": "api.start_rtt", "start": 0, "end": rtt_end, "parent": 0},
            {"id": 9, "name": "checkpoint.save_output", "start": 300, "end": 400, "parent": 7},
            {"id": 10, "name": "blocks.driver", "start": 120, "end": 300, "parent": 0},
            {"id": 11, "name": "checkpoint.read_documents", "start": 1100, "end": 1200,
             "parent": 0},
        ]
        return op, stats.layer_times(op["start"], op["end"], stats.op_layers(op, ss))

    def test_op_layers_cover_the_latency(self):
        _, own = self._op(run_end=1010, rtt_end=150)
        self.assertEqual(own, {"blocks": 180, "checkpoint": 100, "runner": 620,
                               "admission": 40, "api": 60})
        self.assertEqual(sum(own.values()), 1000)

    def test_gaps_leave_latency_unaccounted(self):
        # the start request returns at 50, admission begins at 60 and the
        # run ends at 900: 10 + 100 of the 1000 belong to no layer
        _, own = self._op(run_end=900, rtt_end=50)
        self.assertEqual(sum(own.values()), 890)


class PassTailTest(unittest.TestCase):
    def test_tail_is_the_median_of_the_passes(self):
        ms = 10**6
        # three passes of 20 ops: 1..20 ms, 101..120 ms, 201..220 ms; the
        # tail rule takes the 10th of each (p50 of 20), 10, 110 and 210
        ops = [{"id": f"p{p}-{i}", "start": 0, "end": (100 * p + i) * ms}
               for p in range(3) for i in range(1, 21)]
        r = {"ops": ops, "window_start": 0, "window_end": 10**9, "live_heap_mb": 1.0,
             "probes": [(2 * 10**9, 3 * 10**9, stats.PROBE_REF_MS * ms)]}
        passes = [[f"p{p}-{i}" for i in range(1, 21)] for p in range(3)]
        e2e, t = stats.end_to_end(r, 1.0, set(), passes=passes)
        self.assertAlmostEqual(e2e["latency_tail_ms"][0], 110.0)
        self.assertEqual(t, (50.0, 20, 3))
        # as one pass of 60 ops the tail is the 50th, 210 ms (p83.3)
        e2e, t = stats.end_to_end(r, 1.0, set())
        self.assertAlmostEqual(e2e["latency_tail_ms"][0], 210.0)
        self.assertEqual(t[1:], (60, 1))

    def test_small_pass_reports_its_maximum(self):
        ms = 10**6
        ops = [{"id": f"b{i}", "start": 0, "end": v * ms} for i, v in enumerate((1, 2, 3, 5, 6, 9))]
        r = {"ops": ops, "window_start": 0, "window_end": 10**9, "live_heap_mb": 1.0,
             "probes": [(2 * 10**9, 3 * 10**9, stats.PROBE_REF_MS * ms)]}
        passes = plan.make("bulk_pipeline", 1, 16, 4, "/data")["passes"]
        self.assertEqual(passes, [["b0", "b1", "b2"], ["b3", "b4", "b5"]])
        e2e, t = stats.end_to_end(r, 1.0, set(), passes=passes)
        self.assertAlmostEqual(e2e["latency_tail_ms"][0], 6.0)  # median of 3 and 9
        self.assertAlmostEqual(e2e["latency_p50_ms"][0], 4.0)
        self.assertEqual(t, (100.0, 3, 2))

    def test_service_passes_share_one_mix(self):
        p = plan.make("pipeline_service", 2, 16, 4, "/data")
        self.assertEqual(len(p["passes"]), 2)
        by_id = {o["id"]: o for c in p["clients"] for o in c}
        self.assertEqual(sorted(i for ids in p["passes"] for i in ids), sorted(by_id))

        def mix(ids):
            return sorted((by_id[i]["kind"], by_id[i]["spec"], by_id[i].get("width", 0))
                          for i in ids if by_id[i]["kind"] == "start")
        self.assertEqual(mix(p["passes"][0]), mix(p["passes"][1]))
        self.assertEqual(len(plan.make("pipeline_service", 2, 8, 4, "/data")["passes"]), 1)


class EndToEndTest(unittest.TestCase):
    MS = 10**6

    def report(self, probe_ms):
        # four ops of 100..400 ms, one a second, with a probe point before
        # the last three and one after the window; each point takes three
        # times its probe time (three probes, the middle one kept)
        ms = self.MS
        ops = [{"id": f"o{i}", "start": 1000 * i * ms, "end": (1000 * i + 100 * (i + 1)) * ms}
               for i in range(4)]
        probes = [(t * ms, (t + 3 * p) * ms, p * ms)
                  for t, p in zip((700, 1700, 2700, 3500), probe_ms)]
        return {"ops": ops, "window_start": 0, "window_end": 3400 * ms, "live_heap_mb": 50.0,
                "probes": probes}

    def test_times_go_on_the_reference_scale(self):
        ref = stats.PROBE_REF_MS
        all4 = {"o0", "o1", "o2", "o3"}
        r = self.report([ref] * 4)
        self.assertEqual(stats.host_scale(r), 1.0)
        e2e, _ = stats.end_to_end(r, 30.0, all4)
        self.assertAlmostEqual(e2e["setup_s"][0], 30.0)
        self.assertAlmostEqual(e2e["latency_p50_ms"][0], 250.0)
        # three probe points fall inside the window and are left out of its time
        self.assertAlmostEqual(e2e["ops_per_s"][0], 4 / (3.4 - 9 * ref / 1000))
        # the host ran at half speed: the median probe took twice the reference
        r = self.report([2 * ref, 2 * ref, 1.5 * ref, 3 * ref])
        self.assertEqual(stats.host_scale(r), 0.5)
        e2e, _ = stats.end_to_end(r, 30.0, all4)
        self.assertAlmostEqual(e2e["setup_s"][0], 15.0)
        self.assertAlmostEqual(e2e["latency_p50_ms"][0], 125.0)
        raw, _ = stats.end_to_end(r, 30.0, all4, scaled=False)
        self.assertAlmostEqual(raw["latency_p50_ms"][0], 250.0)
        self.assertAlmostEqual(raw["setup_s"][0], 30.0)

    def test_only_checked_ops_count_as_done(self):
        ref = stats.PROBE_REF_MS
        e2e, _ = stats.end_to_end(self.report([ref] * 4), 30.0, {"o0", "o2"})
        self.assertAlmostEqual(e2e["ops_per_s"][0], 2 / (3.4 - 9 * ref / 1000))


if __name__ == "__main__":
    unittest.main()
