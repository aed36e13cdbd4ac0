"""Tests of the benchmark itself. Run from the root of a checkout:

    python3 -m unittest discover -s perfbench/tests -v

They build the benchmark if needed and start one JVM per test.
"""
import json
import shutil
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
import capture_diff  # noqa: E402
import run  # noqa: E402


def java(mode, *args):
    work = run.ROOT / ".bench_work" / f"test-{mode}"
    try:
        lines = run.java(mode, list(args), work, 600)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return json.loads(lines["PERFBENCH_RESULT"])


class BenchmarkTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        run.build()

    def test_metric_names_match_benchmark_json(self):
        printed = java("list-metrics")
        e2e, layer = run.declared()
        self.assertEqual({m["name"]: m["unit"] for m in printed["end_to_end"]}, e2e)
        self.assertEqual({m["name"]: m["unit"] for m in printed["per_layer"]}, layer)
        spec = json.loads((run.ROOT / "BENCHMARK.json").read_text())
        names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
        self.assertEqual(len(names), len(set(names)))

    def test_same_seed_stages_identical_inputs(self):
        for w in ("gridmet_conus", "cfsv2_region"):
            a, b, c = java("checksum", "--workload", w, "--seed", "5,5,6")
            self.assertEqual(a, b, w)
            self.assertNotEqual(a, c, w)

    def test_checker_rejects_corrupted_contract(self):
        for w in ("gridmet_conus", "cfsv2_region"):
            r = java("corrupt-check", "--workload", w, "--seed", "3")
            self.assertEqual(r["clean_errors"], 0, w)
            self.assertGreater(r["corrupt_errors"], 0, w)


class CaptureDiffTest(unittest.TestCase):
    def capture(self, shuffle, cpu, rows):
        return {"workload": "w", "trace": 1,
                "counts": {"jobs": 10, "shuffle_write_mb": shuffle, "task_cpu_s": cpu},
                "result": {"metrics": {"WeightedMean.out_rows": {"value": rows, "unit": "rows"},
                                       "job_s": {"value": 1.0, "unit": "s"}}},
                "spans": [{"name": "WeightedMean", "op": 1, "jobs": 3, "stages": 3,
                           "tasks": 8, "rows": rows, "shuffle_write_mb": shuffle,
                           "spill_mb": 0, "task_cpu_s": cpu}]}

    def moved(self, a, b):
        return {r[0] for r in capture_diff.diff(a, b, 0.02, 0.25) if r[3]}

    def test_identical_captures_do_not_move(self):
        self.assertEqual(self.moved(self.capture(10.0, 2.0, 100), self.capture(10.0, 2.0, 100)), set())

    def test_load_invariant_changes_are_flagged(self):
        moved = self.moved(self.capture(10.0, 2.0, 100), self.capture(20.0, 2.1, 101))
        self.assertIn("counts.shuffle_write_mb", moved)
        self.assertIn("metric.WeightedMean.out_rows", moved)
        self.assertIn("span.WeightedMean.rows", moved)
        self.assertNotIn("counts.task_cpu_s", moved)  # within the CPU tolerance


if __name__ == "__main__":
    unittest.main()
