"""Unit tests of the benchmark's own helpers.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import math
import os
import unittest

import gen
import report
import run


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(report.percentile(xs, 0.5), 50)
        self.assertEqual(report.percentile(xs, 0.9), 90)

    def test_p90_needs_ten_samples_beyond(self):
        self.assertEqual(report.percentile(list(range(100)), 0.9), 89)
        with self.assertRaises(ValueError):
            report.percentile(list(range(99)), 0.9)

    def test_p80_needs_fifty_samples(self):
        self.assertEqual(report.percentile(list(range(50)), 0.8), 39)
        with self.assertRaises(ValueError):
            report.percentile(list(range(49)), 0.8)

    def test_median_of_few_samples_is_allowed(self):
        self.assertEqual(report.percentile([3, 1, 2], 0.5), 2)
        with self.assertRaises(ValueError):
            report.percentile([], 0.5)


def span(i, start, end, parent=0, name="x"):
    return {"id": i, "name": name, "parent": parent, "tag": "",
            "start_us": start, "end_us": end}


class SelfTimeTest(unittest.TestCase):
    def test_children_are_subtracted_once(self):
        parent = span(1, 0, 100)
        kids = [span(2, 10, 30, 1), span(3, 20, 40, 1), span(4, 60, 70, 1)]
        self.assertEqual(report.self_time(parent, kids), 100 - 30 - 10)

    def test_children_are_clipped_to_the_parent(self):
        parent = span(1, 50, 100)
        self.assertEqual(report.self_time(parent, [span(2, 0, 60, 1), span(3, 90, 200, 1)]),
                         50 - 10 - 10)

    def test_no_children(self):
        self.assertEqual(report.self_time(span(1, 5, 9), []), 4)


class AttributionTest(unittest.TestCase):
    spans = {7: span(7, 0, 10, name="lifecycle.put_reviewed")}

    def test_span_property_charges_the_open_span(self):
        self.assertEqual(report.job_owner({"span": "7", "group": ""}, self.spans), 7)

    def test_compaction_group_wins_over_an_inherited_span(self):
        job = {"span": "7", "group": "helixstore-compact-store"}
        self.assertEqual(report.job_owner(job, self.spans), "compact")

    def test_jobs_outside_any_span_are_unattributed(self):
        self.assertIsNone(report.job_owner({"span": "", "group": ""}, self.spans))
        self.assertIsNone(report.job_owner({"span": "99", "group": ""}, self.spans))

    def test_a_stage_is_charged_to_the_first_job_listing_it(self):
        rec = {"spans": [span(1, 0, 10), span(2, 10, 20)],
               "jobs": [{"id": 0, "span": "1", "group": "", "stages": [0]},
                        {"id": 1, "span": "2", "group": "", "stages": [0, 1]}],
               "stages": [{"id": 0, "run_ms": 5}, {"id": 1, "run_ms": 7}]}
        t = report.Trace(rec)
        self.assertEqual(t.stage_sum(t.jobs_of({1}), "run_ms"), 5)
        self.assertEqual(t.stage_sum(t.jobs_of({2}), "run_ms"), 7)


class PutSplitTest(unittest.TestCase):
    def test_outdate_wait_is_not_write_time(self):
        # putReviewed from 0 to 900 ms: max-ts probe until 100 ms, the
        # write until 400 ms, then an outdate waiting on compaction
        jobs = [{"id": 0, "span": "1", "group": "", "stages": [],
                 "first_stage": "head at Lifecycle.scala:82", "start_ms": 0, "end_ms": 100},
                {"id": 1, "span": "1", "group": "", "stages": [],
                 "first_stage": "save at HelixStore.scala:1", "start_ms": 150, "end_ms": 400},
                {"id": 2, "span": "1", "group": "helixstore-compact-store", "stages": [],
                 "first_stage": "save at HelixStore.scala:1", "start_ms": 420, "end_ms": 880}]
        rec = {"spans": [dict(span(1, 0, 900_000, name="lifecycle.put_reviewed"), tag="0")],
               "jobs": jobs, "stages": [],
               "samples": [{"op": "put", "tag": "0", "start_us": 0, "end_us": 900_000,
                            "result": "compact:0:9 outdate:9"}],
               "counters": {}, "jvm_start_ms": 0, "session_ready_us": 0,
               "loop_start_us": 0, "loop_end_us": 1}
        m = report.per_layer("store_serve", rec, 4, [])
        self.assertAlmostEqual(m["store.put.busy_s"], 0.3)
        self.assertAlmostEqual(m["store.outdate.busy_s"], 0.5)
        self.assertAlmostEqual(m["store.compact.busy_s"], 0.46)
        self.assertEqual(m["lifecycle.outdate_actions"], 1)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        a = gen.plan_store_serve(5, 10, 4).text()
        self.assertEqual(a, gen.plan_store_serve(5, 10, 4).text())
        self.assertNotEqual(a, gen.plan_store_serve(6, 10, 4).text())
        a = gen.plan_ops_sf001(5, 10, 4, "d").text()
        self.assertEqual(a, gen.plan_ops_sf001(5, 10, 4, "d").text())
        self.assertNotEqual(a, gen.plan_ops_sf001(6, 10, 4, "d").text())

    def test_ops_seed_only_shuffles_the_fixed_slice(self):
        names = lambda s: sorted(o[0] for o in gen.plan_ops_sf001(s, 10, 4, "d").ops)
        self.assertEqual(names(1), names(2))
        self.assertEqual(names(1), sorted(gen.load_slice()["expected_rows"]))
        warm = {w[0] for w in gen.plan_ops_sf001(1, 10, 4, "d").warm}
        self.assertTrue(warm and warm.isdisjoint(names(1)))

    def test_serve_hot_set_fits_both_caches(self):
        p = gen.plan_store_serve(3, 10, 4)
        hot = {(k, t) for op, k, t in (w for w in p.warm if w[0] == "get")}
        self.assertLessEqual(len(hot), 256)
        blocks = {(k, t // gen.SERVE["rick"]) for k, t in hot}
        self.assertLessEqual(len(blocks), 256)
        live = p.params["keys"] * (p.params["ts"] + p.params["tail"] - gen.live_from())
        self.assertGreater(live, 100 * 256)

    def test_serve_percentiles_lie_inside_the_uncached_gets(self):
        for seed in range(1, 21):
            p = gen.plan_store_serve(seed, 10, 4)
            hot = [(k, t) for op, k, t in (w for w in p.warm if w[0] == "get")]
            blocks = {(k, t // gen.SERVE["rick"]) for k, t in hot}
            n = p.params["min_samples"]
            gets = [o for o in p.ops if o[0] == "get"][:n]
            cached = sum((k, t // gen.SERVE["rick"]) in blocks for _, k, t in gets)
            # uncached gets hold the ranks above the cached ones: p50 and
            # p80 stay ten ranks clear of them
            self.assertGreaterEqual(cached, 0.2 * n)
            self.assertLessEqual(cached + 10, math.ceil(0.5 * n))

    def test_serve_reads_only_live_entries(self):
        lo = gen.live_from()
        self.assertGreater(lo, 0)
        p = gen.plan_store_serve(3, 10, 4)
        for op in p.warm + p.ops:
            if op[0] in ("get", "mget"):
                self.assertTrue(all(t >= lo for t in op[2::2]))
            else:
                self.assertGreaterEqual(op[1], lo)

    def test_value_is_stable(self):
        self.assertEqual(gen.value(1, "k000001", 2), gen.value(1, "k000001", 2))
        self.assertEqual(len(gen.value(1, "k000001", 2)), 24)
        self.assertNotEqual(gen.value(1, "k000001", 2), gen.value(2, "k000001", 2))

    def test_reviewer_compacts_every_rick_range_and_ages_out(self):
        acts = gen.simulate_reviewer([3, 7, 11, 15, 19, 23, 27, 31, 35, 39, 43, 47],
                                     rick=16, outdate_range=48)
        self.assertEqual(acts[3], "compact:0:15")
        self.assertEqual(acts[7], "compact:16:31")
        self.assertEqual(acts[11], "compact:32:47 outdate:15")
        self.assertEqual(sum(bool(a) for a in acts), 3)


class BenchmarkJsonTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            self.bench = json.load(f)

    def test_lists_exactly_the_metrics_run_prints(self):
        e2e = {m["name"]: m["unit"] for m in self.bench["end_to_end"]}
        self.assertEqual(e2e, run.END_TO_END_UNITS)
        layers = [(m["name"], m["unit"]) for m in self.bench["per_layer"]]
        names = report.per_layer_names(gen.load_slice()["prefixes"])
        self.assertEqual(layers, [(n, report.unit_of(n)) for n in names])

    def test_workloads_match(self):
        self.assertEqual(tuple(w["name"] for w in self.bench["workloads"]), run.WORKLOADS)


if __name__ == "__main__":
    unittest.main()
