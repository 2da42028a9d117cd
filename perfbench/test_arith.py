"""Tests of the benchmark's own arithmetic.

Run from the root of a checkout: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import math
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import arith  # noqa: E402


def span(i, start, end, parent=None, name="engine.build"):
    return {"id": i, "parent": parent, "name": name, "query": "q", "pass": 0,
            "start_ms": start, "end_ms": end}


class SelfTime(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        # children [10,40] and [30,60] overlap on [30,40]: union is 50 ms
        s = span("a", 0, 100)
        kids = [{"start_ms": 10, "end_ms": 40}, {"start_ms": 30, "end_ms": 60}]
        self.assertEqual(arith.self_ms(s, kids), 50)

    def test_nested_and_duplicate_children(self):
        s = span("a", 0, 100)
        kids = [{"start_ms": 10, "end_ms": 90}, {"start_ms": 20, "end_ms": 30},
                {"start_ms": 10, "end_ms": 90}]
        self.assertEqual(arith.self_ms(s, kids), 20)

    def test_children_past_the_span_are_clipped(self):
        # listener times are whole ms: a job may read as starting before its phase
        s = span("a", 100, 200)
        kids = [{"start_ms": 90, "end_ms": 150}, {"start_ms": 180, "end_ms": 260}]
        self.assertEqual(arith.self_ms(s, kids), 30)

    def test_never_negative(self):
        s = span("a", 0, 10)
        kids = [{"start_ms": -5, "end_ms": 50}, {"start_ms": 2, "end_ms": 8}]
        self.assertEqual(arith.self_ms(s, kids), 0)

    def test_disjoint_children(self):
        self.assertEqual(arith.union_ms([(0, 1), (2, 3), (5, 9)], 0, 10), 6)


class Percentiles(unittest.TestCase):
    def test_p90_needs_ten_beyond(self):
        self.assertEqual(arith.supported_percentile(100, 90), 90)
        self.assertEqual(arith.supported_percentile(1000, 90), 90)
        # 99 samples: p90 is the 90th value with only 9 beyond it
        self.assertEqual(arith.supported_percentile(99, 90), 89)
        self.assertEqual(arith.supported_percentile(50, 90), 80)
        self.assertEqual(arith.supported_percentile(11, 90), 9)

    def test_too_few_samples(self):
        self.assertIsNone(arith.supported_percentile(10, 90))
        self.assertIsNone(arith.supported_percentile(0, 50))

    def test_rule_holds_for_every_n(self):
        for n in range(11, 400):
            p = arith.supported_percentile(n, 90)
            k = math.ceil(p / 100 * n)
            self.assertGreaterEqual(n - k, 10, n)
            if p < 90:  # one percentile higher would leave fewer than 10 beyond
                self.assertLess(n - math.ceil((p + 1) / 100 * n), 10, n)

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(arith.nearest_rank(xs, 50), 50)
        self.assertEqual(arith.nearest_rank(xs, 90), 90)
        self.assertEqual(arith.nearest_rank([7], 90), 7)

    def test_batch_stats(self):
        batches = [{"rows": 10, "duration_ms": {"triggerExecution": t}} for t in range(1, 101)]
        b = arith.batch_stats(batches)
        self.assertEqual((b["batch_p50_ms"], b["batch_p90_ms"], b["batch_p90_rank"]), (50, 90, 90))
        self.assertAlmostEqual(b["drain_rows_per_s"], 1000 / (5050 / 1000.0))
        b = arith.batch_stats(batches[:42])
        self.assertEqual(b["batch_p90_rank"], 76)


class Geomean(unittest.TestCase):
    def test_values(self):
        self.assertAlmostEqual(arith.geomean([1, 4]), 2)
        self.assertAlmostEqual(arith.geomean([2, 2, 2]), 2)
        self.assertAlmostEqual(arith.geomean([0.01, 100]), 1)
        self.assertEqual(arith.geomean([]), 0.0)

    def test_weights_each_query_equally(self):
        # halving one short query moves the geomean as much as halving a long one
        a = arith.geomean([0.1, 10])
        self.assertAlmostEqual(arith.geomean([0.05, 10]), arith.geomean([0.1, 5]))
        self.assertLess(arith.geomean([0.05, 10]), a)

    def test_rejects_non_positive(self):
        with self.assertRaises(ValueError):
            arith.geomean([1, 0])


class Attribution(unittest.TestCase):
    EVENTS = [
        # delivered out of order: job 2 ends before any start arrives, job 1's
        # end precedes its start, and job 3 runs inside plan's time window
        # but names build as its launching phase
        {"event": "end", "job_id": 2, "time_ms": 70.0},
        {"event": "end", "job_id": 1, "time_ms": 40.0},
        {"event": "start", "job_id": 3, "time_ms": 110.0, "stage_ids": [5], "span": "p0.q.build"},
        {"event": "start", "job_id": 1, "time_ms": 10.0, "stage_ids": [1, 2], "span": "p0.q.build"},
        {"event": "start", "job_id": 2, "time_ms": 50.0, "stage_ids": [3], "span": "p0.q.run"},
        {"event": "end", "job_id": 3, "time_ms": 120.0},
        {"event": "start", "job_id": 4, "time_ms": 60.0, "stage_ids": [4], "span": None},
        {"event": "end", "job_id": 4, "time_ms": 65.0},
    ]

    def test_assemble_in_any_order(self):
        jobs = {j["job_id"]: j for j in arith.assemble_jobs(self.EVENTS)}
        self.assertEqual((jobs[1]["start_ms"], jobs[1]["end_ms"]), (10.0, 40.0))
        self.assertEqual((jobs[2]["start_ms"], jobs[2]["end_ms"]), (50.0, 70.0))
        self.assertEqual(jobs[1]["stage_ids"], [1, 2])
        for perm in (self.EVENTS[::-1], sorted(self.EVENTS, key=lambda e: e["event"])):
            self.assertEqual(arith.assemble_jobs(perm), arith.assemble_jobs(self.EVENTS))

    def test_by_property_not_by_time(self):
        jobs = arith.assemble_jobs(self.EVENTS)
        ids = {"p0.q.build", "p0.q.plan", "p0.q.run"}
        by_span, lost = arith.attribute(jobs, ids)
        self.assertEqual([j["job_id"] for j in by_span["p0.q.build"]], [1, 3])
        self.assertEqual([j["job_id"] for j in by_span["p0.q.run"]], [2])
        self.assertNotIn("p0.q.plan", by_span)
        self.assertEqual([j["job_id"] for j in lost], [4])

    def test_span_pass(self):
        self.assertEqual(arith.span_pass("p12.q_agg_hash.run"), 12)
        self.assertIsNone(arith.span_pass(None))


class Steal(unittest.TestCase):
    def test_granted_share(self):
        # 400 jiffies: 100 idle, 60 stolen, 240 busy -> 240 of 300 wanted granted
        self.assertAlmostEqual(arith.granted_share([400, 60, 100]), 0.8)
        self.assertEqual(arith.granted_share([400, 0, 100]), 1.0)
        self.assertEqual(arith.granted_share([0, 0, 0]), 1.0)

    def test_unstolen(self):
        self.assertAlmostEqual(arith.unstolen_s(10.0, [400, 60, 100]), 8.0)
        self.assertEqual(arith.unstolen_s(3.5, [100, 0, 20]), 3.5)

    def test_steal_frac(self):
        passes = [{"host_jiffies": [100, 10]}, {"host_jiffies": [300, 30]}]
        self.assertAlmostEqual(arith.steal_frac(passes), 0.1)


class TimedPasses(unittest.TestCase):
    def test_count_is_fixed_by_seconds(self):
        import run
        self.assertEqual(run.traced_passes(8, 0), [False, False])
        self.assertEqual(run.traced_passes(1, 0), [False])
        # traced passes always sit between two untraced ones
        self.assertEqual(run.traced_passes(8, 1), [False, True, False, True, False])
        self.assertEqual(run.traced_passes(1, 1), [False, True, False])

    def test_orders_follow_the_seed(self):
        import run
        qs = ["a", "b", "c", "d"]
        self.assertEqual(run.pass_orders(qs, 7), run.pass_orders(qs, 7))
        self.assertNotEqual(run.pass_orders(qs, 7), run.pass_orders(qs, 8))
        self.assertTrue(all(sorted(o) == qs for o in run.pass_orders(qs, 7)))


class Inputs(unittest.TestCase):
    def test_seed_sets_only_the_row_order(self):
        import gen
        import pyarrow as pa
        a, b, c = gen.tables(0.001, 3), gen.tables(0.001, 3), gen.tables(0.001, 4)
        for t in gen.TABLES:
            self.assertTrue(a[t].equals(b[t]), t)
            key = [(f.name, "ascending") for f in a[t].schema if not pa.types.is_list(f.type)]
            self.assertTrue(a[t].sort_by(key).equals(c[t].sort_by(key)), t)
        self.assertFalse(a["lineitem"].equals(c["lineitem"]))
        self.assertEqual(a["lineitem"].num_rows, 6000)
        self.assertEqual(a["documents"].num_rows, 500)


class PassLayers(unittest.TestCase):
    def test_small_pass(self):
        spans = [span("p0.q", 0, 100, name="query"),
                 span("p0.q.build", 0, 40, "p0.q", "engine.build"),
                 span("p0.q.plan", 40, 50, "p0.q", "plans.plan"),
                 span("p0.q.run", 50, 100, "p0.q", "exec.run")]
        jobs = arith.assemble_jobs(Attribution.EVENTS[:6])
        # job 3 (110-120 ms) ran past its build span; its stage still counts
        stages = [{"stage_id": 1, "task_sums": {"tasks": 4, "run_ms": 200, "read_bytes": 1000}},
                  {"stage_id": 3, "task_sums": {"tasks": 4, "run_ms": 100, "write_bytes": 500}},
                  {"stage_id": 9, "task_sums": {"tasks": 8, "run_ms": 999}}]  # another pass's stage
        batches = [{"run_id": "r1", "rows": 100, "start_ms": 5.0,
                    "duration_ms": {"triggerExecution": 10, "addBatch": 6}}]
        pass_rec = {"index": 0, "start_ms": 0.0, "end_ms": 100.0,
                    "samples": [{"query": "q", "gc_ms": 3, "gc_count": 1,
                                 "plan": {"exchanges": 2, "broadcasts": 1, "smj": 0,
                                          "codegen_stages": 3}}]}
        m, least = arith.pass_layers(pass_rec, spans, jobs, stages, batches,
                                 {"r1": "p0.q.build"}, cores=4)
        self.assertEqual(m["engine.build_jobs"], 2)
        self.assertEqual(m["exec.jobs"], 3)
        self.assertEqual(m["exec.stages"], 2)
        self.assertEqual(m["exec.tasks"], 8)
        self.assertAlmostEqual(m["exec.busy_frac"], 300 / (100 * 4))
        # build [0,40] minus jobs [10,40] and the batch [5,15]: 5 ms of self time
        self.assertAlmostEqual(m["engine.build_self_s"], 0.005)
        # no job ran in [0,10], [40,50] or [70,100]
        self.assertAlmostEqual(m["exec.driver_gap_s"], 0.050)
        self.assertAlmostEqual(m["io.write_amp"], 0.5)
        self.assertEqual(m["plans.exchanges"], 2)
        self.assertEqual(m["sources.batches"], 1)
        self.assertAlmostEqual(m["sources.add_batch_s"], 0.006)
        self.assertGreaterEqual(least, 0)


if __name__ == "__main__":
    unittest.main()
