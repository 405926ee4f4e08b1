"""Planted-fault tests for the benchmark's correctness checks: every check
must pass on right outputs and fail on a single planted fault.

  python3 perfbench/test_checks.py
"""
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


def write_jsonl(path, rows):
    with open(path, "w", encoding="utf-8") as f:
        f.writelines(json.dumps(list(r)) + "\n" for r in rows)


class EtlModelCheck(unittest.TestCase):
    """The generator's own expected tables stand in for the program's dumps;
    the same tables with one cascade delete skipped play a faulty program."""

    @classmethod
    def setUpClass(cls):
        with tempfile.TemporaryDirectory() as work:
            cls.expected = gen.gen_etl(3, work, 1)[1]
        cls.result = {"fingerprints_before": ["1:2"], "fingerprints_after": ["1:2"]}

    def run_check(self, tables):
        with tempfile.TemporaryDirectory() as work:
            for name in ("genres", "recordings", "top", "torrents"):
                write_jsonl(os.path.join(work, f"dump_{name}.jsonl"), tables[name])
            return checks.check_etl(work, self.expected, self.result)

    def test_right_tables_pass(self):
        self.assertEqual(self.run_check(self.expected), [])

    def test_skipped_delete_fails(self):
        self.assertTrue(self.expected["removed_tops"])
        tables = dict(self.expected, top=self.expected["top"] + self.expected["removed_tops"][:1])
        fails = self.run_check(tables)
        self.assertTrue(any("should have deleted" in f for f in fails), fails)

    def test_model_matches_its_own_inputs(self):
        keys = [tuple(r[:2]) for r in self.expected["recordings"]]
        self.assertEqual(len(keys), len(set(keys)))
        self.assertIn("1900_01_01", {k[0] for k in keys})
        self.assertIn("Sonstiges", {r[2] for r in self.expected["recordings"]})
        tops = {r[1] for r in self.expected["top"]}
        self.assertTrue(tops and all(r[0] in tops for r in self.expected["torrents"]))


class EtlChecks(unittest.TestCase):
    expected = {
        "genres": [["all", "1", 1, "Krimi"]],
        "recordings": [["2021_03_01", "7", "Krimi", "Nacht"], ["2021_03_01", "8", "Sonstiges", "Zeit"]],
        "top": [["top", "7"]],
        "torrents": [["7", "HD", "http://t/7.HD"]],
        "removed_tops": [["top", "8"]],
    }
    result = {"fingerprints_before": ["1:2"], "fingerprints_after": ["1:2"]}

    def run_check(self, tables, result=None):
        with tempfile.TemporaryDirectory() as work:
            for name, rows in tables.items():
                write_jsonl(os.path.join(work, f"dump_{name}.jsonl"), rows)
            return checks.check_etl(work, self.expected, result or self.result)

    def test_right_tables_pass(self):
        self.assertEqual(self.run_check(self.expected), [])

    def test_duplicate_key_fails(self):
        tables = dict(self.expected, top=[["top", "7"], ["top", "7"]])
        self.assertTrue(any("duplicate keys" in f for f in self.run_check(tables)))

    def test_orphan_torrent_fails(self):
        tables = dict(self.expected, torrents=self.expected["torrents"] + [["9", "HQ", "x"]])
        self.assertTrue(any("without a surviving top" in f for f in self.run_check(tables)))

    def test_non_idempotent_rerun_fails(self):
        result = {"fingerprints_before": ["1:2"], "fingerprints_after": ["1:3"]}
        self.assertTrue(any("repeated tick" in f for f in self.run_check(self.expected, result)))


class OracleCompare(unittest.TestCase):
    cols = ["k", "v"]
    want = [("a", 3958628371.9480996), ("b", 1.5)]

    def test_right_result_passes_within_ulps(self):
        got = [("b", 1.5), ("a", 3958628371.9481)]  # any row order, 1 ulp apart
        self.assertEqual(checks.compare_result("q", self.cols, got, self.cols, self.want), [])

    def test_wrong_row_fails(self):
        got = [("a", 3958628371.9481), ("b", 1.5000001)]
        self.assertTrue(checks.compare_result("q", self.cols, got, self.cols, self.want))

    def test_missing_row_fails(self):
        self.assertTrue(checks.compare_result("q", self.cols, self.want[:1], self.cols, self.want))


class BenchmarkFile(unittest.TestCase):
    def test_metrics_match_the_runner(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in bench["end_to_end"]], run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in bench["per_layer"]], run.PER_LAYER)
        self.assertEqual({w["name"] for w in bench["workloads"]}, set(gen.GENERATORS))


if __name__ == "__main__":
    unittest.main()
