"""The benchmark's own tests: a vetoed table is a failed operation with a
passing invariant check, and a row missing from a sink fails the check.

    python3 -m unittest runbench/test_bench.py     (from the checkout root)

One archival run (about half a minute) serves every test: it runs
archive_initial with a parquet sink that throws for ``events``.
"""
import glob
import os
import shutil
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import check  # noqa: E402
import run  # noqa: E402

SEED = 5
SINKS = run.SINKS["archive_initial"]


class ArchiveCheckTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        classes = run.build()
        base, cls.store, _ = run.inputs("archive_initial", SEED)
        cls.work = f"{run.BUILD}/work/test-{os.getpid()}"
        shutil.rmtree(cls.work, ignore_errors=True)
        os.makedirs(cls.work)
        raw = run.run_jvm(classes, [
            "--workload", "archive_initial", "--seed", str(SEED), "--seconds", "0",
            "--trace", "0", "--base", base, "--store", cls.store, "--queries", "",
            "--fail-table", "events"], cls.work)
        cls.rep, cls.cut = raw["reps"][-1], raw["cut"]

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.work, ignore_errors=True)

    def checked(self):
        return check.check_archive(self.rep["dir"], self.store, None, self.cut,
                                   self.rep["results"], SINKS)

    def test_throwing_sink_is_a_failed_operation_and_a_passing_check(self):
        by_table = {r["table"]: r for r in self.rep["results"]}
        self.assertTrue(by_table["events"]["vetoed"])
        self.assertEqual(by_table["events"]["deleted"], 0)
        self.assertEqual([t for t, r in by_table.items() if r["vetoed"]], ["events"])
        ok, problems, moved = self.checked()
        self.assertTrue(ok, problems)
        self.assertEqual(moved, by_table["orders"]["archived"] + by_table["lineitem"]["archived"])

    def test_dropped_row_fails_the_check(self):
        part = sorted(glob.glob(f"{self.rep['dir']}/csv/{check.DB}.orders.csv/part-*"))[0]
        with open(part) as f:
            lines = f.readlines()
        try:
            with open(part, "w") as f:
                f.writelines(lines[:-1])
            ok, problems, _ = self.checked()
            self.assertFalse(ok)
            self.assertIn("orders: csv sink lacks 1 archived rows", problems)
        finally:
            with open(part, "w") as f:
                f.writelines(lines)


if __name__ == "__main__":
    unittest.main()
