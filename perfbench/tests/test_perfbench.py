"""Tests of the benchmark's own logic.

Run from the root of the repo: python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.dont_write_bytecode = True

import ingest  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def fake_result():
    """A result.json as the harness writes it, with one traced op."""
    samples = [{"op": f"q{i}", "kind": "read", "pass": 1, "lat_s": 0.1 + i / 100,
                "ok": True, "err": ""} for i in range(20)]
    spans = [
        {"op": 1, "name": "op", "parent": "", "start_ns": 0, "end_ns": 1000,
         "latency_end_ns": 900},
        {"op": 1, "name": "exec.action", "parent": "op", "start_ns": 200, "end_ns": 900},
        {"op": 1, "name": "exec.job", "parent": "exec.action", "start_ns": 300, "end_ns": 500},
        {"op": 1, "name": "exec.job", "parent": "exec.action", "start_ns": 400, "end_ns": 700},
    ]
    return {"samples": samples, "setup_s": [3.0, 1.0, 1.2], "timed_wall_s": 4.0,
            "timed_cpu_s": 8.0, "peak_rss_kb": 1024000, "cpus": 4, "spans": spans,
            "op_records": [{"op": 1, "op_name": "q1", "lat_s": 9e-7, "ok": True,
                            "cpu_ms": 1.0, "scan_rows": 10}]}


class StatsTest(unittest.TestCase):
    def test_median_even_and_odd(self):
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)
        self.assertEqual(stats.median([3, 1, 2]), 2)
        with self.assertRaises(ValueError):
            stats.median([])

    def test_percentile_needs_ten_samples_beyond(self):
        self.assertEqual([stats.beyond(n, 50) for n in (19, 20)], [9, 10])
        self.assertEqual([stats.beyond(n, 90) for n in (99, 100)], [9, 10])
        res = fake_result()
        rec = res["op_records"][0]
        res["op_records"] = [dict(rec, lat_s=0.1 + i / 100) for i in range(20)]
        self.assertAlmostEqual(stats.per_layer(res)["traced.op_p50_s"]["value"], 0.195)
        res["op_records"] = res["op_records"][:19]
        self.assertEqual(stats.per_layer(res)["traced.op_p50_s"]["value"], 0.0)

    def test_timed_op_count_is_whole_units_fixed_by_seconds(self):
        self.assertEqual(stats.timed_ops(10, 1.0, 11), 11)
        self.assertEqual(stats.timed_ops(10, 7.8, ingest.CYCLE_OPS), 3 * ingest.CYCLE_OPS)
        self.assertEqual(stats.timed_ops(12, 1.0, 11), 22)
        self.assertEqual(stats.timed_ops(0, 1.0, 11), 11)

    def test_self_time_with_overlapping_children(self):
        children = [(10, 30), (20, 50), (90, 120), (200, 300)]
        self.assertEqual(stats.covered(0, 100, children), 50)
        self.assertEqual(stats.self_time((0, 100), children), 50)
        self.assertEqual(stats.self_time((0, 100), []), 100)

    def test_driver_gap_is_op_time_outside_jobs(self):
        m = stats.per_layer(fake_result())
        # op latency window 0..900 ns, jobs cover 300..700 -> 500 ns gap
        self.assertAlmostEqual(m["exec.driver_gap_ms"]["value"], 500 / 1e6)
        self.assertAlmostEqual(stats.self_times(fake_result())["exec.action"],
                               300 / 1e6)

    def test_metric_names(self):
        for ok in ("setup_s", "exec.cpu_ms", "q1", "a-b.c_d"):
            self.assertTrue(stats.valid_name(ok), ok)
        for bad in ("", "_x", ".x", "has space", "x/y", "a" * 65):
            self.assertFalse(stats.valid_name(bad), bad)


class SpecTest(unittest.TestCase):
    def test_every_declared_metric_is_printed_with_its_unit(self):
        res = fake_result()
        for key, got in (("end_to_end", stats.end_to_end(res)),
                         ("per_layer", stats.per_layer(res))):
            want = {m["name"]: m["unit"] for m in SPEC[key]}
            self.assertEqual(set(got), set(want), key)
            for name, m in got.items():
                self.assertEqual(m["unit"], want[name], name)
                self.assertIsInstance(m["value"], (int, float), name)

    def test_names_and_units_are_valid(self):
        names = [w["name"] for w in SPEC["workloads"]]
        names += [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertTrue(stats.valid_name(n), n)
        for m in SPEC["end_to_end"] + SPEC["per_layer"]:
            self.assertTrue(stats.UNIT_RE.fullmatch(m["unit"]), m["unit"])

    def test_workloads_match_the_harness_config(self):
        with open(os.path.join(BENCH, "workloads.json")) as f:
            self.assertEqual({w["name"] for w in SPEC["workloads"]}, set(json.load(f)))


class IngestTest(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        a = ingest.dumps(ingest.sequence(7, 3))
        self.assertEqual(a, ingest.dumps(ingest.sequence(7, 3)))
        self.assertNotEqual(a, ingest.dumps(ingest.sequence(8, 3)))

    def test_every_seed_runs_the_same_ops_on_the_same_number_of_keys(self):
        def shape(seed):
            return [(o["op"], len(o.get("ids", o.get("rows", [])))) for o in
                    ingest.sequence(seed, 3)[1:] if o["op"] != "append"]
        self.assertEqual(shape(7), shape(8))
        for op, n in shape(7):
            if op in ("pdelete", "edelete"):
                self.assertEqual(n, ingest.CHANGED_KEYS)
            if op in ("upsert", "merge_mor"):
                self.assertEqual(n, ingest.CHANGED_KEYS + 1)

    def test_cycles_close_with_maintenance_and_reads_carry_answers(self):
        ops = ingest.sequence(3, 4)
        self.assertEqual(ops[0]["op"], "create")
        self.assertEqual(len(ops), 1 + 4 * ingest.CYCLE_OPS)
        for c in range(4):
            end = c * ingest.CYCLE_OPS + ingest.CYCLE_OPS
            self.assertEqual([o["op"] for o in ops[end - 1:end + 1]], ["compact", "expire"])
        writes = {o["i"] for o in ops if o["op"] not in ingest.READS}
        for o in ops:
            if o["op"] in ingest.READS:
                self.assertIn("expect", o)
            if o["op"] == "travel":
                self.assertIn(o["at"], writes)
                self.assertLess(o["at"], o["i"])

    def test_model_answers_follow_writes(self):
        m = ingest.Model()
        m.put([1, 7, "click", 0, "eu-west-1", 100])
        m.put([2, 7, "click", 0, "eu-west-1", 50])
        m.put([1, 7, "click", 0, "eu-west-1", 30])   # upsert of key 1
        self.assertEqual(m.agg_answer("eu-west-1"), "click:2:80")
        m.drop(2)
        self.assertEqual(m.scan_answer(7), "1:30")
        self.assertEqual((m.count, m.total), (1, 30))


class CheckTest(unittest.TestCase):
    def test_compare_normalisation_is_taken_from_the_repo_script(self):
        norm, _ = oracle.compare_helpers(ROOT)
        self.assertNotEqual(norm(480.0), norm(480))
        self.assertEqual(norm(None), "nan")


class CommandTest(unittest.TestCase):
    def test_fails_without_program_sources(self):
        os.makedirs(os.path.join(ROOT, ".bench_build"), exist_ok=True)
        with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".bench_build")) as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(BENCH, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            r = subprocess.run(SPEC["command"] + ["--workload", SPEC["workloads"][0]["name"],
                                                  "--seed", "1", "--seconds", "1",
                                                  "--trace", "0"],
                               cwd=d, capture_output=True, text=True, timeout=60)
            self.assertNotEqual(r.returncode, 0)
            self.assertEqual(r.stdout, "")


if __name__ == "__main__":
    unittest.main()
