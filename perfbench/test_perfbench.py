"""Self-tests of the benchmark's harness logic (no JVM needed).

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import shutil
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

import gen
import run
import workloads


def _op(p, name, wall, ok=True, exc=None):
    return {"kind": "op", "pass": p, "op": name, "out": f"/x/p{p}/{name}",
            "ok": ok, "exc": exc, "wall_s": wall, "traced": False, "layers": {}}


def _pass(p, wall, traced=False):
    return {"kind": "pass", "pass": p, "wall_s": wall, "traced": traced, "layers": {}}


JVM = {"kind": "jvm", "session_build_s": 2.0, "peak_rss_mb": 900.0}
S = run.STEADY_FROM  # first steady pass


def _warmup(names, wall):
    """Records of the cold and warm-up passes, every op taking `wall`."""
    return [r for p in range(S) for r in
            [_op(p, n, wall) for n in names] + [_pass(p, wall * len(names))]]


class FailureAccounting(unittest.TestCase):

    def test_thrown_op_is_reported_and_not_summed(self):
        records = _warmup(["a", "b"], 3.0) + [
            _op(S, "a", 1.0), _op(S, "b", 1.0), _pass(S, 2.0),
            _op(S + 1, "a", 1.2), _op(S + 1, "b", 50.0, ok=False,
                                      exc="java.lang.IllegalStateException"),
            _pass(S + 1, 51.2),
            _op(S + 2, "a", 1.1), _op(S + 2, "b", 0.9), _pass(S + 2, 2.0), JVM]
        result, report = run.summarize(records, {}, [1.0, 1.0, 1.0], 10**6, 0, 0.1)
        attempted = 2 * (S + 3)
        self.assertFalse(result["correct"])
        self.assertEqual(result["attempted"], attempted)
        self.assertEqual(result["failed"], 1)
        self.assertEqual(report["failures"], {"b": "java.lang.IllegalStateException"})
        self.assertAlmostEqual(report["failed_ops"], 1 / attempted)
        m = result["metrics"]
        # the failed op's 50 s is in no latency and its pass in no pass median
        self.assertEqual(report["op_samples"], 5)
        self.assertLess(m["op_p90_s"]["value"], 2.0)
        self.assertEqual(m["steady_run_s"]["value"], 2.0)

    def test_oracle_rejection_counts_as_failure(self):
        records = _warmup(["a"], 1.0) + [_op(S, "a", 1.0), _pass(S, 1.0), JVM]
        result, report = run.summarize(records, {(1, "a"): "oracle mismatch (digest)"},
                                       [1.0], 1, 0, 0.1)
        self.assertEqual(result["failed"], 1)
        self.assertEqual(report["failures"], {"a": "oracle mismatch (digest)"})

    def test_clean_run_is_correct(self):
        records = ([_op(0, "a", 2.0), _pass(0, 2.0)] + _warmup(["a"], 1.0)[2:] +
                   [_op(S, "a", 1.0), _pass(S, 1.0), JVM])
        result, _ = run.summarize(records, {}, [1.0, 2.0, 3.0], 2 * 10**6, 0, 0.1)
        self.assertTrue(result["correct"])
        m = result["metrics"]
        self.assertEqual(m["setup_s"]["value"], 2.0)
        self.assertEqual(m["first_run_s"]["value"], 2.0)
        self.assertEqual(m["input_mrows_per_s"]["value"], 2.0)


class OracleCheck(unittest.TestCase):

    def setUp(self):
        self.dir = tempfile.mkdtemp()
        self.data = os.path.join(self.dir, "data")
        os.makedirs(self.data)
        pq.write_table(pa.table({"k": pa.array([1, 2, 3], pa.int64()),
                                 "v": [0.5, 1.25, 2.0]}),
                       os.path.join(self.data, "lineitem.parquet"))

    def tearDown(self):
        shutil.rmtree(self.dir)

    def _output(self, name, rows):
        out = os.path.join(self.dir, "out", name)
        os.makedirs(out)
        pq.write_table(pa.table({"v": [r[1] for r in rows],
                                 "k": pa.array([r[0] for r in rows], pa.int64())}),
                       os.path.join(out, "part-00000.parquet"))
        return {"kind": "op", "pass": 1, "op": name, "out": out, "ok": True}

    def test_planted_wrong_row_is_caught(self):
        sql = {"good": "SELECT k, v FROM lineitem ORDER BY k",
               "bad": "SELECT k, v FROM lineitem ORDER BY k"}
        want = run.oracle_digests(self.data, sql)
        good = self._output("good", [(3, 2.0), (1, 0.5), (2, 1.25)])
        bad = self._output("bad", [(1, 0.5), (2, 1.26), (3, 2.0)])
        spec = workloads.WORKLOADS["query_mix"]
        rejected = run.check_outputs([good, bad], want, spec)
        self.assertEqual(rejected, {(1, "bad"): "oracle mismatch (digest)"})

    def test_no_oracle_output_must_be_stable(self):
        first = self._output("p1", [(1, 0.5)])
        second = self._output("p2", [(1, 0.75)])
        first["op"] = second["op"] = "q"
        second["pass"] = 2
        rejected = run.check_outputs([first, second], {}, workloads.WORKLOADS["query_mix"])
        self.assertEqual(rejected, {(2, "q"): "output differs from the first pass"})


class SeededInputs(unittest.TestCase):

    def setUp(self):
        self.dir = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.dir)

    def _gen(self, name, seed):
        d = os.path.join(self.dir, name)
        gen.generate(d, seed, 0.001, lineitem_files=2)
        files = sorted(os.path.relpath(os.path.join(r, f), d)
                       for r, _, fs in os.walk(d) for f in fs)
        out = {}
        for f in files:
            with open(os.path.join(d, f), "rb") as fh:
                out[f] = fh.read()
        return out

    def test_same_seed_gives_identical_bytes(self):
        a, b = self._gen("a", 7), self._gen("b", 7)
        self.assertEqual(sorted(a), sorted(b))
        self.assertEqual(a, b)

    def test_different_seeds_differ(self):
        a, c = self._gen("a", 7), self._gen("c", 8)
        for name in a:
            if name not in ("region.parquet", "nation.parquet"):
                self.assertNotEqual(a[name], c[name], name)

    def test_op_order_is_seeded(self):
        self.assertEqual(workloads.op_order("query_mix", 3),
                         workloads.op_order("query_mix", 3))
        self.assertNotEqual(workloads.op_order("query_mix", 3),
                            workloads.op_order("query_mix", 4))


if __name__ == "__main__":
    unittest.main()
