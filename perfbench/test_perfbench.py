"""The benchmark's own tests.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

Covers the query_mix table generator and oracle digests, the shape of
BENCHMARK.json, and (through perfbench/scala/SelfTest.scala) the tick
generators, the Spark-side digest, and the percentile and self-time
arithmetic. PERFBENCH_SLOW=1 also runs query_mix with a corrupted oracle
digest and expects the run to report wrong output.
"""
import decimal
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import mixdata  # noqa: E402
import run  # noqa: E402


class MixDataTest(unittest.TestCase):
    def setUp(self):
        base = os.path.join(run.build_dir(), "tmp")
        os.makedirs(base, exist_ok=True)
        self.tmp = tempfile.mkdtemp(dir=base)

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def files(self, seed, name):
        d = os.path.join(self.tmp, name)
        mixdata.write_tables(seed, 0.002, d)
        out = {}
        for t in mixdata.TABLES:
            with open(os.path.join(d, f"{t}.parquet"), "rb") as f:
                out[t] = f.read()
        return out

    def test_same_seed_same_bytes(self):
        self.assertEqual(self.files(7, "a"), self.files(7, "b"))

    def test_other_seed_other_bytes(self):
        a, c = self.files(7, "a"), self.files(8, "c")
        self.assertNotEqual(a["lineitem"], c["lineitem"])
        self.assertNotEqual(a["documents"], c["documents"])

    def test_digest_ignores_column_and_row_order(self):
        d1 = mixdata.digest(["b", "a"], [(1, "x"), (2, "y")])
        d2 = mixdata.digest(["a", "b"], [("y", 2), ("x", 1)])
        self.assertEqual(d1, d2)
        self.assertTrue(d1.startswith("2:"))

    def test_digest_equal_decimals_and_signed_zero(self):
        self.assertEqual(mixdata.digest(["a"], [(decimal.Decimal("1.50"),)]),
                         mixdata.digest(["a"], [(decimal.Decimal("1.5"),)]))
        self.assertNotEqual(mixdata.digest(["a"], [(0.0,)]), mixdata.digest(["a"], [(-0.0,)]))
        self.assertNotEqual(mixdata.digest(["a"], [(1,)]), mixdata.digest(["a"], [(2,)]))

    def test_oracle_digest_matches_its_own_parquet(self):
        d = os.path.join(self.tmp, "o")
        mixdata.write_tables(3, 0.002, d)
        sql = {"agg": "SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY 1"}
        want = mixdata.oracle_digests(d, sql)["agg"]
        out = os.path.join(self.tmp, "res")
        os.makedirs(out)
        mixdata.connect(d).execute(
            f"COPY ({sql['agg']} ORDER BY n) TO '{out}/part-0.parquet' (FORMAT PARQUET)")
        self.assertEqual(mixdata.result_digest(d, out), want)


class BenchmarkJsonTest(unittest.TestCase):
    def test_contract_shape(self):
        b = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
        self.assertEqual(set(b), {"command", "paths", "run_seconds", "workloads",
                                  "end_to_end", "per_layer"})
        names = [w["name"] for w in b["workloads"]]
        self.assertEqual(sorted(names), sorted(run.WORKLOADS))
        metric_names = [m["name"] for m in b["end_to_end"] + b["per_layer"]]
        self.assertEqual(len(metric_names), len(set(metric_names)))
        for n in metric_names + names:
            self.assertRegex(n, r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
        for m in b["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertLessEqual(m["bound"], 0.25)
        setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup[0]["unit"], "s")
        self.assertEqual(max(m["bound"] for m in b["end_to_end"]), setup[0]["bound"])
        for m in b["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
            self.assertTrue(m["name"].startswith(sum(run.FAMILY.values(), ())), m["name"])
        for w in b["workloads"]:
            self.assertLessEqual(len(w["why"]), 200)


@unittest.skipIf(shutil.which("java") is None, "needs a JDK")
class ScalaSelfTest(unittest.TestCase):
    def test_selftest(self):
        classes = os.path.join(run.build_dir(), "classes")
        run.build(classes)
        work = os.path.join(run.build_dir(), "work", "selftest")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(os.path.join(work, "tmp"))
        p = subprocess.run(run.java_cmd(classes, "perfbench.SelfTest", [], work), cwd=work,
                           capture_output=True, text=True, timeout=300)
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        self.assertRegex(p.stdout, r"selftest: \d+ checks passed")


@unittest.skipUnless(os.environ.get("PERFBENCH_SLOW") == "1", "set PERFBENCH_SLOW=1")
class CorruptOracleTest(unittest.TestCase):
    def test_wrong_expected_digest_fails_the_run(self):
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", "query_mix",
                            "--seed", "1", "--seconds", "1", "--trace", "0",
                            "--corrupt-oracle", "q67_sliding_median"],
                           cwd=ROOT, capture_output=True, text=True, timeout=600)
        res = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertFalse(res["correct"])
        self.assertGreater(res["failed"], 0)
        self.assertIn("WRONG OUTPUT: q67_sliding_median", p.stderr)


if __name__ == "__main__":
    unittest.main()
