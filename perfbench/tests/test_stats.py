"""Percentiles, self-time arithmetic, per-layer sums and the compare
verdict, on synthetic runs."""
import os
import sys
import unittest

sys.dont_write_bytecode = True
HERE = os.path.dirname(__file__)
sys.path.insert(0, os.path.join(HERE, ".."))

import compare  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402


def span(id, parent, kind, start, end, name="", **attrs):
    return {"id": id, "parent": parent, "kind": kind, "name": name,
            "start_ms": float(start), "end_ms": float(end), "attrs": attrs}


class PercentileTest(unittest.TestCase):
    def test_value_and_sample_count(self):
        xs = list(range(1, 101))  # 1..100
        self.assertEqual(stats.percentile(xs, 50), (50.5, 100))
        self.assertAlmostEqual(stats.percentile(xs, 90)[0], 90.1)
        self.assertEqual(stats.percentile([7.0], 90), (7.0, 1))
        self.assertEqual(stats.percentile([3, 1, 2], 0), (1, 3))
        self.assertEqual(stats.percentile([3, 1, 2], 100), (3, 3))

    def test_no_samples(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)

    def test_highest_percentile_keeps_ten_beyond(self):
        self.assertIsNone(stats.highest_supported_percentile(10))
        self.assertEqual(stats.highest_supported_percentile(100), 90.0)
        self.assertEqual(stats.highest_supported_percentile(1000), 99.0)

    def test_quartiles_match_statistics_module(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 7.0, 6.0, 8.0, 10.0]
        q1, med, q3 = stats.quartiles(xs)
        self.assertEqual((q1, med, q3), (2.75, 5.5, 8.25))
        self.assertAlmostEqual(stats.spread(xs), (8.25 - 2.75) / 5.5)
        self.assertEqual(stats.quartiles([4.0]), (4.0, 4.0, 4.0))


class SelfTimeTest(unittest.TestCase):
    def test_children_subtracted_once_and_clipped(self):
        parent = span(1, 0, "execute", 0, 100)
        kids = [span(2, 1, "job", 10, 30), span(3, 1, "job", 20, 40),  # overlap
                span(4, 1, "job", 90, 120)]                            # runs past the end
        # covered: [10, 40] = 30 and [90, 100] = 10
        self.assertEqual(stats.self_time(parent, kids), 60.0)

    def test_leaf_self_time_is_duration(self):
        self.assertEqual(stats.self_time(span(1, 0, "stage", 5, 17), []), 12.0)

    def test_disjoint_children(self):
        parent = span(1, 0, "query", 0, 50)
        kids = [span(2, 1, "build", 0, 10), span(3, 1, "execute", 10, 45)]
        self.assertEqual(stats.self_time(parent, kids), 5.0)

    def test_orphans_attach_to_the_query_span_holding_them(self):
        spans = [span(1, 0, "build", 0, 10), span(2, 0, "execute", 10, 20),
                 span(3, 0, "plan", 12, 13, name="planning"),
                 span(4, 0, "plan", 50, 51, name="analysis")]  # outside: dropped
        got = {s["id"]: s["parent"] for s in stats.attach_orphans(spans)}
        self.assertEqual(got, {1: 0, 2: 0, 3: 2})


class LayersTest(unittest.TestCase):
    def test_pass_sums_and_self_times(self):
        spans = [
            span(1, 0, "pass", 0, 1000),
            span(2, 1, "query", 0, 1000, name="q"),
            span(3, 2, "build", 0, 200, name="q"),
            span(4, 2, "execute", 200, 1000, name="q"),
            span(5, 3, "job", 50, 150, delay_ms=5),
            span(6, 4, "job", 300, 900, delay_ms=7),
            span(7, 5, "stage", 60, 140, tasks=4, run_ms=200, shuffle_write_bytes=2e6),
            span(8, 6, "stage", 310, 890, tasks=4, run_ms=2000, input_bytes=10),
            span(9, 0, "plan", 210, 230, name="planning"),
        ]
        record = {"cores": 4, "passes": [{"traced": True, "total_s": 1.0, "queries": []}],
                  "warm_ms": 1.0, "setups_s": [3.0], "staging_s": {"islands": 2.5}}
        out = layers.run_layers(record, spans, tokens=0)
        self.assertEqual(out["scheduler.jobs"], 2)
        self.assertEqual(out["scheduler.stages"], 2)
        self.assertEqual(out["scheduler.tasks"], 8)
        self.assertEqual(out["scheduler.delay_ms"], 12)
        self.assertEqual(out["SparkEntry.build_jobs"], 1)
        self.assertEqual(out["shuffle.write_mb"], 2.0)
        self.assertEqual(out["catalyst.planning_ms"], 20)
        self.assertEqual(out["executor.core_util"], 2200 / (1000 * 4))
        self.assertEqual(out["self.build_ms"], 100)       # 200 - job 100
        self.assertEqual(out["self.execute_ms"], 180)     # 800 - job 600 - plan 20
        self.assertEqual(out["self.job_ms"], 20 + 20)      # 100-80, 600-580
        self.assertEqual(out["setup.first_s"], 3.0)
        self.assertEqual(out["staging.islands_s"], 2.5)


class VerdictTest(unittest.TestCase):
    def test_pair_wins_ignores_ties(self):
        self.assertEqual(stats.pair_wins([10, 10, 10, 10], [9, 10, 11, 9], "lower"), 0.5)
        self.assertEqual(stats.pair_wins([1, 1], [2, 2], "higher"), 1.0)

    def test_improved(self):
        parent = [10.0, 10.2, 9.9, 10.1, 10.0, 10.3, 9.8, 10.1, 10.0, 10.2]
        change = [x * 0.8 for x in parent]
        self.assertEqual(stats.verdict(parent, change, "lower", 0.1), "improved")

    def test_regressed(self):
        parent = [10.0, 10.2, 9.9, 10.1, 10.0, 10.3, 9.8, 10.1, 10.0, 10.2]
        change = [x * 1.3 for x in parent]
        self.assertEqual(stats.verdict(parent, change, "lower", 0.1), "regressed")

    def test_unchanged_within_bound(self):
        parent = [10.0, 10.2, 9.9, 10.1, 10.0, 10.3, 9.8, 10.1, 10.0, 10.2]
        change = [10.1, 10.0, 10.2, 9.9, 10.1, 10.0, 10.2, 9.9, 10.1, 10.0]
        self.assertEqual(stats.verdict(parent, change, "lower", 0.1), "unchanged")

    def test_unresolved_when_spread_exceeds_bound(self):
        parent = [5.0, 15.0, 8.0, 12.0, 6.0, 14.0, 9.0, 11.0, 7.0, 13.0]
        change = [x + 0.5 for x in parent]
        self.assertEqual(stats.verdict(parent, change, "lower", 0.1), "unresolved")

    def test_noisy_but_every_change_run_better_is_resolved(self):
        parent = [20.0, 30.0, 24.0, 28.0, 22.0, 29.0, 25.0, 27.0, 23.0, 26.0]
        change = [5.0, 9.0, 6.0, 8.0, 5.5, 9.5, 6.5, 8.5, 7.0, 7.5]
        self.assertEqual(stats.verdict(parent, change, "lower", 0.1), "improved")

    def test_report_rows(self):
        bench = {"end_to_end": [{"name": "total_s", "unit": "s", "better": "lower",
                                 "bound": 0.1}],
                 "per_layer": [{"name": "scheduler.jobs", "unit": "count",
                                "better": "lower"}]}

        def row(side, pair, total, trace=0, jobs=None):
            m = {"total_s": {"value": total, "unit": "s"}}
            if jobs is not None:
                m = {"scheduler.jobs": {"value": jobs, "unit": "count"}}
            return {"side": side, "pair": pair, "workload": "w", "seed": pair,
                    "trace": trace, "result": {"correct": True, "metrics": m}}
        rows = [row("parent", i, 10.0 + 0.01 * i) for i in range(10)]
        rows += [row("change", i, 8.0 + 0.01 * i) for i in range(10)]
        rows += [row("parent", 10, 0, 1, jobs=20), row("change", 10, 0, 1, jobs=10)]
        lines = compare.report(rows, bench)
        self.assertTrue(lines[1].startswith("w total_s"))
        self.assertTrue(lines[1].endswith("1.00 10 improved"))
        self.assertIn("  scheduler.jobs 20 -> 10 count (-50.0%)", lines)


if __name__ == "__main__":
    unittest.main()
