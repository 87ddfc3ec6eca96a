"""Tests of the benchmark's own logic: output checks and metric contract.

    python3 -m unittest discover perfbench/tests
"""
import io
import json
import random
import sys
import tempfile
import unittest
from pathlib import Path

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))
import checks  # noqa: E402
import run  # noqa: E402

SPEC = json.loads((HERE.parent.parent / "BENCHMARK.json").read_text())


def quiet():
    return io.StringIO()


class SkyCheckTest(unittest.TestCase):
    """Two samples over a catalog whose separations are known: sample 0 at
    (34, -7) has objects 3", 10", 30", 60" and 180" due north, so n=3 (3"
    is inside the 5" minimum, 180" outside the 2' cone) and inv=100."""

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        root = Path(self.tmp.name)
        offsets = [3, 10, 30, 60, 180]
        pq.write_table(pa.table({
            "ra": [34.0] * 5 + [36.0],
            "dec": [-7.0 + o / 3600 for o in offsets] + [-5.0]}), root / "catalog.parquet")
        self.catalog = str(root / "catalog.parquet")
        self.out = root / "out"
        self.out.mkdir()
        self.good = pd.DataFrame({"sample_id": [0, 1], "ra": [34.0, 33.0], "dec": [-7.0, -9.0],
                                  "n": [3, 0], "inv": [100.0, 0.0]})

    def tearDown(self):
        self.tmp.cleanup()

    def failures(self, rows):
        rows.to_csv(self.out / "part-0.csv", index=False)
        op = {"name": "cosmap_run", "pass": "pass0", "ok": True,
              "input": self.catalog, "output": str(self.out)}
        return checks.check_sky([op], 2, seed=1, log=quiet())

    def test_correct_output_passes(self):
        self.assertEqual(self.failures(self.good), set())

    def test_corrupted_count_is_a_failure(self):
        bad = self.good.copy()
        bad.loc[0, "n"] = 4
        bad.loc[0, "inv"] = 105.0
        self.assertEqual(self.failures(bad), {0})

    def test_corrupted_inv_is_a_failure(self):
        bad = self.good.copy()
        bad.loc[0, "inv"] = 101.0
        self.assertEqual(self.failures(bad), {0})

    def test_missing_row_is_a_failure(self):
        self.assertEqual(self.failures(self.good.iloc[:1]), {0})

    def test_brute_force_skips_boundary_pairs(self):
        cat = checks.read_catalog(self.catalog)
        self.assertEqual(checks.brute_force(cat, 34.0, -7.0), (3, 100.0))
        self.assertIsNone(checks.brute_force(cat, 34.0, -7.0 + 60 / 3600 - 2 / 60))

    def test_subset_is_seeded(self):
        a = random.Random(5).sample(range(1000), 100)
        self.assertEqual(a, random.Random(5).sample(range(1000), 100))


class QueryCheckTest(unittest.TestCase):
    """A one-query corpus checked by the DuckDB oracle tool."""

    QUERY = "qx"

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        root = Path(self.tmp.name)
        self.corpus = root / "corpus"
        self.corpus.mkdir()
        pq.write_table(pa.table({"doc_id": [1, 2, 3], "n_chars": [2, 5, 9]}),
                       self.corpus / "documents.parquet")
        self.root = root

    def tearDown(self):
        self.tmp.cleanup()

    def op(self, pass_name, rows):
        out = self.root / pass_name
        (out / self.QUERY).mkdir(parents=True)
        (out / "oracle_sql.json").write_text(json.dumps(
            {self.QUERY: "SELECT doc_id, n_chars FROM documents WHERE n_chars > 3"}))
        if rows is not None:
            pq.write_table(pa.table(rows), out / self.QUERY / "part-0.parquet")
        return {"name": self.QUERY, "pass": pass_name, "ok": True,
                "input": str(self.corpus), "output": str(out)}

    def test_correct_outputs_pass(self):
        good = {"doc_id": [2, 3], "n_chars": [5, 9]}
        ops = [self.op("pass0", good), self.op("pass1", good)]
        self.assertEqual(checks.check_queries(ops, log=quiet()), set())

    def test_output_differing_from_the_oracle_is_a_failure(self):
        ops = [self.op("pass0", {"doc_id": [2, 3], "n_chars": [5, 8]})]
        self.assertEqual(checks.check_queries(ops, log=quiet()), {0})

    def test_later_output_differing_from_the_checked_one_is_a_failure(self):
        ops = [self.op("pass0", {"doc_id": [2, 3], "n_chars": [5, 9]}),
               self.op("pass1", {"doc_id": [2], "n_chars": [5]})]
        self.assertEqual(checks.check_queries(ops, log=quiet()), {1})

    def test_missing_output_is_a_failure(self):
        self.assertEqual(checks.check_queries([self.op("pass0", None)], log=quiet()), {0})


class MetricContractTest(unittest.TestCase):

    def test_names_are_well_formed_and_unique(self):
        names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
        names += [w["name"] for w in SPEC["workloads"]]
        for n in names:
            self.assertRegex(n, r"^[A-Za-z0-9][A-Za-z0-9_.-]*$")
            self.assertLessEqual(len(n), 64)
        self.assertEqual(len(names), len(set(names)))

    def test_limits(self):
        self.assertLessEqual(len(SPEC["end_to_end"]), 16)
        self.assertLessEqual(len(SPEC["per_layer"]), 128)
        self.assertTrue(2 <= len(SPEC["workloads"]) <= 8)
        for m in SPEC["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertLessEqual(m["bound"], 0.25)
        setup = [m for m in SPEC["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup[0]["unit"], "s")
        self.assertEqual(setup[0]["bound"], max(m["bound"] for m in SPEC["end_to_end"]))

    def test_end_to_end_metrics_are_the_declared_ones(self):
        rec = {"setup_s": 3.5, "pass_s": [2.0, 1.0, 3.0], "items_per_pass": 500,
               "retained_heap_mb": 212.5}
        metrics = run.end_to_end(rec)
        run.validate(metrics, run.declared()[0])
        self.assertEqual(metrics["wall_s"]["value"], 2.0)
        self.assertEqual(metrics["items_per_s"]["value"], 250.0)

    def test_validate_rejects_undeclared_and_malformed_names(self):
        declared = {"wall_s": "s"}
        run.validate({"wall_s": {"value": 1.0, "unit": "s"}}, declared)
        for metrics in ({"wall s": {"value": 1.0, "unit": "s"}},
                        {"wall_s": {"value": 1.0, "unit": "s"}, "extra": {"value": 1, "unit": "s"}},
                        {"wall_s": {"value": None, "unit": "s"}},
                        {"wall_s": {"value": 1.0, "unit": "ms"}}):
            with self.assertRaises(ValueError):
                run.validate(metrics, declared)


if __name__ == "__main__":
    unittest.main()
