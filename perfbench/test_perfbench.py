"""Tests of the benchmark itself.

    python3 perfbench/test_perfbench.py

Builds the benchmark like a run does, then checks the input generators
(same seed, same inputs; another seed, other inputs), the failure
accounting (a failing or mismatching operation is counted and never
timed) and the JVM side's own checks (perfbench.SelfTest).
"""
import filecmp
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402


def raw_record(ops, workload="corpus", calls=()):
    return {"workload": workload, "ops": ops, "calls": list(calls),
            "setup_s": [1.0, 1.2, 1.1], "peak_rss_mb": 900.0}


def op(name, pass_, seconds, error=None):
    return {"name": name, "pass": pass_, "seconds": seconds, "error": error}


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_tables_other_seed_other_tables(self):
        with tempfile.TemporaryDirectory(dir=run.build_dir()) as d:
            a, b, c = (os.path.join(d, x) for x in "abc")
            gen.generate(5, a)
            gen.generate(5, b)
            gen.generate(6, c)
            names = sorted(os.listdir(a))
            self.assertEqual(len(names), 10)
            _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
            self.assertEqual((mismatch, errors), ([], []))
            _, mismatch, _ = filecmp.cmpfiles(a, c, names, shallow=False)
            self.assertIn("documents.parquet", mismatch)
            self.assertIn("embeddings.parquet", mismatch)


class FailureAccountingTest(unittest.TestCase):
    def test_failed_and_mismatched_queries_are_counted_not_timed(self):
        ops = [op("q_ok", 0, 2.0), op("q_throws", 0, None, "java.lang.IllegalStateException: x"),
               op("q_wrong", 0, 5.0),
               op("q_ok", 1, 1.0), op("q_throws", 1, 0.1), op("q_wrong", 1, 7.0),
               op("q_ok", 2, 3.0), op("q_throws", 2, 0.1), op("q_wrong", 2, 7.0)]
        checks = [("q_ok", True, ""), ("q_wrong", False, "rows: engine 3 oracle 4")]
        m, attempted, failed, failures, n = run.aggregate(raw_record(ops), checks)
        self.assertEqual((attempted, failed), (9, 6))
        self.assertEqual([f["name"] for f in failures], ["q_throws", "q_wrong"])
        self.assertEqual(failures[0]["error"], "java.lang.IllegalStateException")
        self.assertEqual(failures[1]["error"], "OutputMismatch")
        self.assertEqual(m["cold_s"], 2.0)
        self.assertEqual(m["warm_s"], 2.0)  # median of the q_ok-only passes 1.0 and 3.0
        self.assertEqual(n, 2)
        self.assertEqual((m["query_p50_s"], m["setup_s"]), (2.0, 1.1))

    def test_failed_coach_session_is_excluded_from_session_and_call_timings(self):
        ops = [op("phase0", 0, 12.0), op("session:#W", 0, 8.0), op("session:#A", 1, 5.0),
               op("session:#B", 2, 50.0), op("session:#C", 3, 6.0)]
        calls = [{"op": "session:#A", "name": "answer:user", "seconds": 1.0},
                 {"op": "session:#B", "name": "answer:user", "seconds": 40.0},
                 {"op": "session:#C", "name": "answer:user", "seconds": 2.0}]
        checks = [("phase0", True, ""), ("session:#B", False, "games 3, expected 4")]
        m, attempted, failed, _, n = run.aggregate(raw_record(ops, "coach", calls), checks)
        self.assertEqual((attempted, failed, n), (5, 1, 2))
        # cold_s is Phase 0 plus the warm-up session
        self.assertEqual((m["cold_s"], m["warm_s"], m["query_p50_s"]), (20.0, 5.5, 1.5))


class JvmSelfTest(unittest.TestCase):
    def test_jvm_side(self):
        classes, jars = run.build()
        tmp = tempfile.mkdtemp(dir=run.build_dir())
        try:
            r = subprocess.run(
                ["java"] + run.JVM_FLAGS + run.ADD_OPENS +
                [f"-Djava.io.tmpdir={tmp}", "-cp", f"{classes}:{jars}/*", "perfbench.SelfTest"],
                cwd=tmp, capture_output=True, text=True, timeout=600,
                env=dict(os.environ, JDK_JAVA_OPTIONS=""))
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        print(r.stdout)
        self.assertEqual(r.returncode, 0, r.stdout + r.stderr[-2000:])


if __name__ == "__main__":
    os.makedirs(run.build_dir(), exist_ok=True)
    unittest.main()
