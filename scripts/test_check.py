"""Self-test for scripts/check.py: a query with an oracle but no output
directory must fail the check, not drop out of the count.

Run: python3 -m unittest scripts/test_check.py
"""
import json, os, subprocess, sys, tempfile, unittest
import duckdb

CHECK = os.path.join(os.path.dirname(os.path.abspath(__file__)), "check.py")


class MissingOutputTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.sf = os.path.join(self.tmp.name, "sf")
        self.out = os.path.join(self.tmp.name, "out")
        os.makedirs(self.sf)
        os.makedirs(os.path.join(self.out, "present"))
        duckdb.connect().execute(
            "COPY (SELECT 1 AS x) TO "
            f"'{self.out}/present/part-0.parquet' (FORMAT PARQUET)")
        # "planted_missing" has an oracle but Verify left no output
        with open(os.path.join(self.out, "oracle_sql.json"), "w") as f:
            json.dump({"present": "SELECT 1 AS x",
                       "planted_missing": "SELECT 2 AS x"}, f)

    def tearDown(self):
        self.tmp.cleanup()

    def check(self, *only):
        return subprocess.run(
            [sys.executable, CHECK, self.sf, self.out, *only],
            capture_output=True, text=True)

    def test_missing_output_fails(self):
        r = self.check()
        self.assertEqual(r.returncode, 1, r.stdout + r.stderr)
        self.assertIn("X planted_missing: MISSING", r.stdout)
        self.assertIn("PASS=1 FAIL=1", r.stdout)

    def test_subset_checks_only_named_queries(self):
        r = self.check("present")
        self.assertEqual(r.returncode, 0, r.stdout + r.stderr)
        self.assertNotIn("MISSING", r.stdout)
        self.assertIn("PASS=1 FAIL=0", r.stdout)


if __name__ == "__main__":
    unittest.main()
