"""The suite times full consumption: the plans its timed action executes
for q02 and q04 keep the final Sort and every output column (a bare
count() would prune both). Runs a traced two-query suite, whose
QueryExecutionListener records each executed plan under its op.
Builds the harness if needed and starts one JVM, so it takes about a
minute.

    python3 -m unittest discover -s graftbench/tests
"""
import shutil
import sys
import tempfile
import time
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import run  # noqa: E402

QUERIES = ("q02_project_cast", "q04_price_bands")


class TimedPlans(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        run.build(time.monotonic() + 850)
        (HERE / ".work").mkdir(exist_ok=True)
        cls.work = Path(tempfile.mkdtemp(dir=HERE / ".work"))
        gen.write(str(cls.work / "data"), run.DATA_SEED, 0.001, 200)
        out = run.run_jvm({"workload": "suite", "data": cls.work / "data", "work": cls.work,
                           "out": cls.work / "out.json", "seed": 1, "trace": 1,
                           "queries": ",".join(QUERIES)},
                          cls.work, time.monotonic() + 170)
        # the last plan executed inside each query's op is the timed action's
        cls.ops = {o["name"]: o for o in out["ops"]}
        cls.timed = {name: [q for q in out["qes"] if q["op"] == o["id"]][-1]
                     for name, o in cls.ops.items()}

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.work, ignore_errors=True)

    def test_both_queries_ran(self):
        self.assertEqual(sorted(self.ops), sorted(QUERIES))
        for q in QUERIES:
            self.assertEqual(self.ops[q]["err"], "", q)

    def test_every_output_column_is_produced(self):
        for q in QUERIES:
            self.assertEqual(self.timed[q]["output"], self.ops[q]["columns"], q)
        self.assertIn("net_sum", self.timed["q04_price_bands"]["output"])

    def test_final_sort_is_executed(self):
        for q in QUERIES:
            self.assertIn("Sort", self.timed[q]["nodes"], q)


if __name__ == "__main__":
    unittest.main()
