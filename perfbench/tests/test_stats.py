"""Self-time arithmetic, the percentile/sample-count rule and the layer
metrics built on them.

    python3 -m unittest discover -s perfbench/tests
"""

import json
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import layers  # noqa: E402
import stats  # noqa: E402


def span(i, parent, name, start, end, jobs=0, tasks=0, task_s=0.0, write=0):
    return {"id": i, "parent": parent, "name": name, "detail": "", "run": 0,
            "start_s": start, "end_s": end,
            "spark": {"jobs": jobs, "stages": jobs, "tasks": tasks, "task_s": task_s,
                      "shuffle_write_bytes": 0, "spill_bytes": 0, "write_bytes": write}}


class SelfTimeTest(unittest.TestCase):
    def test_no_children(self):
        self.assertAlmostEqual(stats.self_time({"start_s": 1.0, "end_s": 3.5}, []), 2.5)

    def test_disjoint_children(self):
        parent = {"start_s": 0.0, "end_s": 10.0}
        kids = [{"start_s": 1.0, "end_s": 2.0}, {"start_s": 5.0, "end_s": 8.0}]
        self.assertAlmostEqual(stats.self_time(parent, kids), 6.0)

    def test_overlapping_children_count_once(self):
        parent = {"start_s": 0.0, "end_s": 10.0}
        kids = [{"start_s": 1.0, "end_s": 4.0}, {"start_s": 3.0, "end_s": 6.0},
                {"start_s": 5.5, "end_s": 5.8}]
        self.assertAlmostEqual(stats.self_time(parent, kids), 5.0)

    def test_children_clipped_to_the_parent(self):
        parent = {"start_s": 2.0, "end_s": 4.0}
        kids = [{"start_s": 0.0, "end_s": 3.0}, {"start_s": 3.5, "end_s": 9.0}]
        self.assertAlmostEqual(stats.self_time(parent, kids), 0.5)

    def test_covered(self):
        self.assertAlmostEqual(stats.covered([(0, 1), (0.5, 2), (3, 4)]), 3.0)
        self.assertEqual(stats.covered([]), 0.0)


class PercentileRuleTest(unittest.TestCase):
    def test_median_only_below_twenty_samples(self):
        for n in (1, 3, 10, 19):
            self.assertIsNone(stats.tail_percentile(list(range(n))), n)
            self.assertNotIn("p75", stats.summary(list(range(1, n + 1))))

    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(stats.tail_percentile(list(range(1, 41)))[0], 75)
        self.assertEqual(stats.tail_percentile(list(range(1, 100)))[0], 75)
        self.assertEqual(stats.tail_percentile(list(range(1, 101)))[0], 90)
        self.assertEqual(stats.tail_percentile(list(range(1, 201)))[0], 95)
        self.assertEqual(stats.tail_percentile(list(range(1, 1001)))[0], 99)

    def test_nearest_rank_value_and_count(self):
        values = [float(v) for v in range(100, 0, -1)]
        self.assertEqual(stats.tail_percentile(values), (90, 90.0))
        s = stats.summary(values)
        self.assertEqual((s["median"], s["n"], s["p90"]), (50.5, 100, 90.0))

    def test_median_needs_samples(self):
        with self.assertRaises(ValueError):
            stats.median([])


class LayerMetricsTest(unittest.TestCase):
    def run_record(self):
        spans = [
            span(0, -1, "run", 0.0, 10.0),
            span(1, 0, "config", 0.0, 0.1),
            span(2, 0, "session.register", 0.1, 0.3),
            span(3, 0, "ingest", 0.3, 1.3, jobs=2, tasks=2, task_s=0.4),
            span(4, 0, "session.register", 1.3, 1.5),
            span(5, 0, "planner", 1.5, 2.5),
            span(6, 5, "analyzer", 1.6, 1.9),
            span(7, 5, "dialect", 1.9, 2.1),
            span(8, 0, "executor", 2.5, 7.5, jobs=10, tasks=20, task_s=8.0, write=4 << 20),
            span(9, 0, "export", 7.5, 9.5, jobs=3, tasks=3, task_s=1.0),
            span(10, 0, "export", 9.5, 9.9),
        ]
        return {"spans": spans, "wall_s": 10.0, "gc_s": 0.2, "input_bytes": 1 << 20,
                "warehouse_bytes": 2 << 20, "out_bytes": 3 << 20, "rows": 1000,
                "unattributed_jobs": 0,
                "batches": [[{"name": "a", "s": 1.0, "statements": 1},
                             {"name": "b", "s": 3.0, "statements": 2}],
                            [{"name": "c", "s": 1.5, "statements": 1}]]}

    def test_run_layers(self):
        m = layers.run_layers(self.run_record(), threads=4, n_inputs=6)
        self.assertAlmostEqual(m["session.register_s"], 0.4)
        self.assertAlmostEqual(m["planner.self_s"], 0.5)
        self.assertAlmostEqual(m["trace.unattributed_s"], 0.1)
        self.assertAlmostEqual(m["executor.critical_path_s"], 4.5)
        self.assertAlmostEqual(m["executor.barrier_idle_s"], 2.0)
        self.assertAlmostEqual(m["executor.core_util"], 8.0 / (5.0 * 4))
        self.assertAlmostEqual(m["executor.write_amp"], 2.0)
        self.assertAlmostEqual(m["export.busy_s"], 2.4)
        self.assertEqual((m["planner.batches"], m["planner.max_width"]), (2, 2))
        self.assertEqual(m["dialect.statements"], 4)
        self.assertEqual((m["ingest.tables"], m["ingest.jobs"]), (6, 2))

    def test_coverage_check(self):
        ok = self.run_record()
        self.assertEqual(layers.coverage_failures({"traced": [ok]}, 0.05), [])
        gap = self.run_record()
        gap["spans"][9]["end_s"] = 8.5  # one second outside every layer span
        loose = self.run_record()
        loose["unattributed_jobs"] = 1
        self.assertEqual(layers.coverage_failures({"traced": [ok, gap, loose]}, 0.05), [1, 2])

    def test_every_layer_metric_is_declared(self):
        bench = json.loads((Path(__file__).resolve().parents[2] / "BENCHMARK.json").read_text())
        declared = {m["name"] for m in bench["per_layer"]}
        rec = self.run_record()
        rnd = {"spans": [span(i, -1, name, 0.0, 1.0)
                         for i, name in enumerate(layers.ACTION_SPANS.values())]}
        result = {"traced": [rec], "traced_actions": [rnd], "paired": [{"wall_s": 9.0}],
                  "setup": [{"build_s": 1.0, "register_s": 0.1}]}
        self.assertEqual(set(layers.per_layer(result, 4, 6, job_rss_mb=900.0)), declared)


if __name__ == "__main__":
    unittest.main()
