"""Tests of the benchmark's own maths and of its key selection rules.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import statistics
import unittest
from unittest import mock

import layers
import probe
import stats


class PercentileTest(unittest.TestCase):
    def test_interpolates_between_order_statistics(self):
        v = list(range(1, 101))  # 1..100
        self.assertEqual(stats.percentile(v, 0), 1)
        self.assertEqual(stats.percentile(v, 100), 100)
        self.assertAlmostEqual(stats.percentile(v, 50), 50.5)
        self.assertAlmostEqual(stats.percentile(v, 90), 90.1)

    def test_order_of_input_does_not_matter(self):
        v = [5.0, 1.0, 4.0, 2.0, 3.0]
        self.assertEqual(stats.percentile(v, 50), 3.0)
        self.assertEqual(stats.percentile(list(reversed(v)), 25), 2.0)

    def test_highest_percentile_keeps_ten_samples_beyond(self):
        for n in (11, 20, 50, 100, 244, 1000):
            q = stats.highest_supported_percentile(n)
            v = list(range(n))
            beyond = sum(1 for x in v if x > stats.percentile(v, q))
            self.assertGreaterEqual(beyond, 10, n)
        self.assertEqual(stats.highest_supported_percentile(100), 90)
        self.assertEqual(stats.highest_supported_percentile(200), 95)
        self.assertIsNone(stats.highest_supported_percentile(10))

    def test_quartiles_match_statistics_module(self):
        v = [3.1, 2.7, 3.3, 2.9, 3.0, 3.2, 2.8, 3.5, 2.6, 3.4]
        self.assertEqual(list(stats.quartiles(v)), statistics.quantiles(v, n=4))
        q1, med, q3 = stats.quartiles(v)
        self.assertAlmostEqual(stats.spread(v), (q3 - q1) / med)

    def test_empty_input_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)


class SelfTimeTest(unittest.TestCase):
    def test_union_merges_overlaps_and_skips_empty(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6), (4, 4)]), 4)
        self.assertEqual(stats.union_length([(2, 3), (0, 10)]), 10)
        self.assertEqual(stats.union_length([]), 0)

    def test_self_time_subtracts_covered_part_once(self):
        # two overlapping children cover [2, 7] of a [0, 10] span
        self.assertEqual(stats.self_time((0, 10), [(2, 5), (4, 7)]), 5)

    def test_children_are_clipped_to_the_span(self):
        self.assertEqual(stats.self_time((0, 10), [(-5, 2), (8, 20)]), 6)
        self.assertEqual(stats.self_time((0, 10), [(11, 12)]), 10)

    def test_per_key_medians(self):
        self.assertEqual(stats.per_key_medians({"a": [3, 1, 2], "b": [4, 6], "c": []}),
                         {"a": 2, "b": 5})


class CompareRuleTest(unittest.TestCase):
    parent = [10.0, 10.2, 9.9, 10.1, 10.0, 9.8, 10.3, 10.1, 9.9, 10.0]

    def test_gain_needs_nine_tenths_wins_and_a_gap_beyond_the_spread(self):
        change = [x - 1.0 for x in self.parent]
        v = stats.compare(self.parent, change, "lower", 0.1)
        self.assertEqual(v["win_fraction"], 1.0)
        self.assertEqual(v["verdict"], "better")

    def test_eight_tenths_wins_is_not_a_gain(self):
        change = [x - 1.0 for x in self.parent]
        change[0] += 5
        change[1] += 5
        v = stats.compare(self.parent, change, "lower", 0.1)
        self.assertEqual(v["win_fraction"], 0.8)
        self.assertNotEqual(v["verdict"], "better")

    def test_a_shift_inside_the_parents_spread_is_not_a_gain(self):
        change = [x - 0.01 for x in self.parent]
        self.assertEqual(stats.compare(self.parent, change, "lower", 0.1)["verdict"], "same")

    def test_worse_beyond_the_bound(self):
        change = [x * 1.2 for x in self.parent]
        self.assertEqual(stats.compare(self.parent, change, "lower", 0.1)["verdict"], "worse")
        self.assertEqual(stats.compare(self.parent, change, "lower", 0.25)["verdict"], "same")

    def test_higher_is_better_flips_the_direction(self):
        change = [x * 1.2 for x in self.parent]
        self.assertEqual(stats.compare(self.parent, change, "higher", 0.1)["verdict"], "better")

    def test_wide_parent_spread_is_unresolved(self):
        parent = [10, 14, 8, 12, 9, 13, 7, 11, 10, 12]
        change = [11, 13, 9, 12, 10, 12, 8, 12, 11, 11]
        v = stats.compare(parent, change, "lower", 0.1)
        self.assertGreater(v["parent_spread"], 0.1)
        self.assertEqual(v["verdict"], "unresolved")

    def test_unequal_lengths_are_refused(self):
        with self.assertRaises(ValueError):
            stats.compare([1, 2, 3], [1, 2], "lower", 0.1)


class FloorSlopeTest(unittest.TestCase):
    def test_line_through_base_and_scaled_walls(self):
        ops = [{"name": "k", "kind": "base", "traced": True, "error": None, "wall_ms": 1500.0},
               {"name": "k", "kind": "key", "traced": True, "error": None, "wall_ms": 2500.0},
               {"name": "k", "kind": "key", "traced": False, "error": None, "wall_ms": 9e9}]
        fs = layers.floor_slope({"ops": ops}, 3)["k"]
        self.assertAlmostEqual(fs["slope_s"], 0.5)
        self.assertAlmostEqual(fs["floor_s"], 1.0)


class UnboundedCompareTest(unittest.TestCase):
    parent = [10.0, 10.2, 9.9, 10.1, 10.0, 9.8, 10.3, 10.1, 9.9, 10.0]

    def test_never_worse(self):
        change = [x * 2 for x in self.parent]
        self.assertEqual(stats.compare(self.parent, change, "lower", None)["verdict"], "same")

    def test_better_only_when_every_change_run_beats_every_parent_run(self):
        change = [x - 1.0 for x in self.parent]
        self.assertEqual(stats.compare(self.parent, change, "lower", None)["verdict"], "better")
        change[0] = 10.0  # wins its own pair, but not against the parent's best run
        v = stats.compare(self.parent, change, "lower", None)
        self.assertGreaterEqual(v["win_fraction"], 0.9)
        self.assertEqual(v["verdict"], "same")

    def test_wide_spread_is_unresolved(self):
        parent = [10, 16, 7, 13, 9, 14, 6, 11, 10, 15]
        change = [x - 1 for x in parent]
        v = stats.compare(parent, change, "lower", None)
        self.assertGreater(v["parent_spread"], stats.UNBOUNDED_SPREAD)
        self.assertEqual(v["verdict"], "unresolved")


def _op(name, pass_, traced, wall, cpu, module="m", span=-1):
    return {"name": name, "kind": "key", "module": module, "pass": pass_, "traced": traced,
            "error": None, "wall_ms": wall, "cpu_ms": cpu, "build_ms": 0.0, "span": span,
            "compiles": 0.0, "gc_ms": 0.0, "jit_ms": 0.0}


class EndToEndTest(unittest.TestCase):
    def test_keys_take_their_median_over_the_timed_passes(self):
        ops = []
        for p, (wa, wb) in enumerate([(100, 300), (120, 200), (110, 250)]):
            ops += [_op("a", p, False, wa, 2 * wa), _op("b", p, False, wb, 2 * wb)]
        ops.append(_op("b", 3, True, 9000, 9000))  # traced ops stay out
        result = {"ops": ops, "setup_s": 12.5}
        self.assertEqual(layers.end_to_end(result), {"setup_s": 12.5, "cpu_s": 0.72})
        u = layers.unbounded(result)
        self.assertAlmostEqual(u["run.wall_s"][0], 0.36)
        self.assertAlmostEqual(u["run.op_p50_ms"][0], 180.0)


class CatalogSelfTimeTest(unittest.TestCase):
    def test_catalog_key_wall_outside_phases_and_jobs(self):
        spans = [
            {"id": 0, "parent": -1, "kind": "op", "name": "catalog_x", "t0": 0, "t1": 100, "counts": {
                "catalog_commits": 2, "catalog_files": 5, "catalog_bytes": 2**20}},
            {"id": 1, "parent": 0, "kind": "build", "name": "catalog_x", "t0": 0, "t1": 60, "counts": {}},
            {"id": 2, "parent": 0, "kind": "execute", "name": "catalog_x", "t0": 60, "t1": 100, "counts": {}},
            {"id": 3, "parent": -1, "kind": "statement", "name": "sql", "t0": 5, "t1": 30, "counts": {}},
            {"id": 4, "parent": 3, "kind": "phase", "name": "analysis", "t0": 5, "t1": 30, "counts": {}},
            {"id": 5, "parent": 0, "kind": "job", "name": "job-0", "t0": 70, "t1": 90, "counts": {}},
        ]
        ops = [_op("catalog_x", 0, False, 100, 100, span=-1),
               _op("catalog_x", 1, True, 100, 100, span=0)]
        m = layers.per_layer("suite", {"ops": ops, "session_s": 1.0, "live_heap_mb": 1.0,
                                       "hygiene_ms": 0.0}, spans, None, 4)
        self.assertAlmostEqual(m["catalog.self_ms"], 55.0)
        self.assertEqual(m["catalog.commits"], 2)
        self.assertEqual(m["catalog.mb"], 1.0)
        self.assertAlmostEqual(m["plan.analysis_ms"], 25.0)
        self.assertAlmostEqual(m["trace.coverage"], 1.0)


class SelectionTest(unittest.TestCase):
    def test_systematic_sample_keeps_each_stratum_in_proportion(self):
        keys = {f"catalog_{i}": {"module": "relational", "wall_s": 0.5 + (i / 100) ** 2}
                for i in range(40)}
        keys.update({f"stream_{i}": {"module": "streaming", "wall_s": 1.0 + i / 100} for i in range(20)})
        keys.update({f"agg_{i}": {"module": "aggregates", "wall_s": 0.2 + i / 100} for i in range(39)})
        keys["udaf_x"] = {"module": "udaf", "wall_s": 0.1}
        picked = probe.systematic(keys, 10)
        self.assertEqual(sum(k.startswith("catalog_") for k in picked), 4)
        self.assertEqual(sum(k.startswith("stream_") for k in picked), 2)
        # each slice of ten keys gives the one nearest its mean wall
        self.assertEqual(sorted(k for k in picked if k.startswith("catalog_")),
                         ["catalog_15", "catalog_25", "catalog_35", "catalog_5"])
        # the rest sorts by module first: the udaf key ends the last slice,
        # whose mean wall it pulls down to agg_30's
        self.assertIn("agg_30", picked)
        self.assertNotIn("udaf_x", picked)
        full = sum(v["wall_s"] for v in keys.values())
        sample = sum(keys[k]["wall_s"] for k in picked)
        cat = lambda names, w: sum(keys[k]["wall_s"] for k in names if k.startswith("catalog_")) / w  # noqa: E731
        self.assertAlmostEqual(cat(picked, sample), cat(keys, full), delta=0.02)

    def test_batch_takes_fastest_growers_that_fit(self):
        keys = {k: {"module": "m", "wall_x1_s": 1.0, "wall_s": 2.5} for k in probe.BATCH_CANDIDATES}
        keys["llm_dedup_near"]["wall_s"] = 4.0           # growth 4, fits
        keys["graph_pagerank"]["wall_s"] = 12.0          # growth 12, does not fit
        keys["stat_crosstab"]["wall_s"] = 1.5            # growth 1.5, too slow a grower
        keys["join_asof_nearest"] = {"module": "m", "error": "boom"}
        with mock.patch.object(probe, "BATCH_PASS_S", 10.0):
            picked, _ = probe.select_batch(keys, 4)
        self.assertIn("llm_dedup_near", picked)
        self.assertNotIn("graph_pagerank", picked)
        self.assertNotIn("stat_crosstab", picked)
        self.assertNotIn("join_asof_nearest", picked)
        self.assertEqual(len(picked), 3)  # 4.0 + 2.5 + 2.5 <= 10.0 < 4.0 + 3 * 2.5


if __name__ == "__main__":
    unittest.main()
