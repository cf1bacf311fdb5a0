"""Self-tests of the benchmark's own logic: sampling, statistics, spans.

Run: python3 perfbench/run.py --self-test   (or python3 -m unittest in perfbench/)
"""
import math
import unittest

import stats
import workloads


class SamplingTest(unittest.TestCase):
    costs = workloads.load_costs()

    def test_populations_partition_every_key(self):
        pops = {w: {k for k in self.costs if workloads.workload_of(k) == w}
                for w in workloads.WORKLOADS}
        self.assertEqual(len(self.costs), 322)
        self.assertEqual(sum(map(len, pops.values())), len(self.costs))
        self.assertEqual(set().union(*pops.values()), set(self.costs))
        self.assertEqual(len(pops["kernels"]), 44)
        self.assertEqual(len(pops["lake_write"]), 46)
        self.assertEqual(len(pops["batch_sql"]), 232)

    def test_slots_are_disjoint_and_in_their_population(self):
        seen = set()
        for w, spec in workloads.WORKLOADS.items():
            for slot in spec["slots"]:
                self.assertFalse(seen & set(slot), "a key sits in two slots")
                seen |= set(slot)
                for k in slot:
                    self.assertIn(k, self.costs)
                    self.assertEqual(workloads.workload_of(k), w, k)

    def test_slot_keys_cost_the_same(self):
        for spec in workloads.WORKLOADS.values():
            for slot in spec["slots"]:
                for phase in ("warm_s", "cold_s"):
                    xs = [self.costs[k][phase] for k in slot]
                    self.assertLessEqual(max(xs) / min(xs), 1.35, f"{slot} {phase}")

    def test_slots_cover_distinct_families(self):
        for w, spec in workloads.WORKLOADS.items():
            families = {workloads.family(k) for slot in spec["slots"] for k in slot}
            self.assertGreaterEqual(len(families), len(spec["slots"]), w)

    def test_same_seed_same_sample_and_order(self):
        for w in workloads.WORKLOADS:
            a = workloads.sample(w, 7)
            self.assertEqual(a, workloads.sample(w, 7))
            self.assertEqual(workloads.pass_orders(a, 7, 5), workloads.pass_orders(a, 7, 5))
            self.assertGreater(len({tuple(workloads.sample(w, s)) for s in range(10)}), 1,
                               "the seed must move the sample")

    def test_sample_takes_one_key_per_slot_and_reaches_every_key(self):
        for w, spec in workloads.WORKLOADS.items():
            reached = set()
            for seed in range(200):
                picks = workloads.sample(w, seed)
                self.assertTrue(all(k in s for k, s in zip(picks, spec["slots"])))
                reached |= set(picks)
            self.assertEqual(reached, {k for s in spec["slots"] for k in s})

    def test_orders_are_permutations_and_vary_by_pass(self):
        keys = workloads.sample("batch_sql", 3)
        orders = workloads.pass_orders(keys, 3, 6)
        for o in orders:
            self.assertEqual(sorted(o), sorted(keys))
        self.assertGreater(len({tuple(o) for o in orders}), 1)


class StatsTest(unittest.TestCase):
    def test_percentile(self):
        xs = [5, 1, 4, 2, 3]
        self.assertEqual(stats.percentile(xs, 50), 3)
        self.assertEqual(stats.percentile(xs, 0), 1)
        self.assertEqual(stats.percentile(xs, 100), 5)
        self.assertAlmostEqual(stats.percentile(xs, 90), 4.6)
        self.assertEqual(stats.percentile([2.0], 90), 2.0)
        with self.assertRaises(ValueError):
            stats.percentile([], 50)

    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([1, 100]), 10)
        self.assertAlmostEqual(stats.geomean([3, 3, 3]), 3)
        with self.assertRaises(ValueError):
            stats.geomean([1, 0])

    def test_union_length(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(stats.union_length([(0, 10)], 2, 4), 2)
        self.assertEqual(stats.union_length([(3, 3), (5, 4)]), 0)
        self.assertEqual(stats.union_length([]), 0)


class SpanTest(unittest.TestCase):
    def key(self):
        k = stats.Span("key", 0, 100)
        k.children = [stats.Span("ops.build", 0, 60), stats.Span("exec.materialize", 60, 90),
                      stats.Span("housekeeping.release", 90, 100)]
        return k

    def test_self_time_subtracts_covered_children(self):
        k = stats.nest(self.key(), [
            stats.Span("stream.trigger", 10, 40),
            stats.Span("spark.job", 15, 25), stats.Span("spark.job", 20, 30),
            stats.Span("spark.job", 50, 70), stats.Span("spark.job", 65, 80)])
        build, mat, rel = k.children
        trig = build.children[0]
        self.assertEqual(trig.name, "stream.trigger")
        self.assertEqual([c.name for c in trig.children], ["spark.job", "spark.job"])
        self.assertEqual(trig.self_ms(), 30 - 15)       # jobs cover 15..30
        self.assertEqual(build.self_ms(), 60 - 30 - 10)  # trigger 10..40, job 50..70 clipped to 60
        self.assertEqual(mat.self_ms(), 30 - 15)         # job 65..80
        self.assertEqual(rel.self_ms(), 10)
        self.assertEqual(k.self_ms(), 0)
        by_name = stats.self_time_by_name(k)
        self.assertEqual(by_name["spark.job"], 10 + 10 + 20 + 15)

    def test_concurrent_spans_of_one_name_stay_siblings(self):
        k = stats.nest(self.key(), [stats.Span("spark.job", 5, 20), stats.Span("spark.job", 10, 15)])
        self.assertEqual([c.name for c in k.children[0].children], ["spark.job", "spark.job"])
        self.assertEqual(k.children[0].self_ms(), 60 - 15)

    def test_nest_goes_to_innermost_span(self):
        k = stats.nest(self.key(), [stats.Span("spark.job", 95, 99)])
        self.assertEqual(k.children[2].children[0].name, "spark.job")

    def test_to_json_carries_self_time(self):
        j = stats.nest(self.key(), [stats.Span("spark.job", 1, 2, job=4)]).to_json()
        self.assertEqual(j["children"][0]["children"][0]["job"], 4)
        self.assertTrue(math.isclose(j["children"][0]["self_ms"], 59))


if __name__ == "__main__":
    unittest.main()
