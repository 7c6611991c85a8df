"""End-to-end test of the JVM harness: builds it, runs perfbench.SelfTest
(a stand-in registry with one working query, one whose construction throws and
one whose execution throws) in a small Spark session, and checks what the
records and metrics say about it.

Run: python3 -m unittest discover -s perfbench
"""
import json
import os
import shutil
import subprocess
import unittest

import build
import metrics
import run


class HarnessTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        classpath, _ = build.build()
        cls.out = os.path.join(build.BUILD, "selftest")
        shutil.rmtree(cls.out, ignore_errors=True)
        os.makedirs(os.path.join(cls.out, "tmp"))
        try:
            subprocess.run(["java"] + run.JVM_OPTS + [
                f"-Djava.io.tmpdir={cls.out}/tmp", "-cp", classpath,
                "perfbench.SelfTest", cls.out, cls.out],
                check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                timeout=170)
            with open(os.path.join(cls.out, "result.json")) as fh:
                cls.rec = json.load(fh)
        finally:
            shutil.rmtree(cls.out, ignore_errors=True)

    def test_throwing_queries_count_as_failed_with_their_error(self):
        ok, failed = metrics.timed_ops(self.rec)
        passes = 1 + max(s["attrs"]["pass"] for s in ok)
        self.assertGreaterEqual(passes, 4)  # cold + at least three warm passes
        self.assertEqual(len(ok), passes)
        self.assertEqual(len(failed), 2 * passes)
        errors = {s["attrs"]["query"]: s["error"] for s in failed}
        self.assertIn("build boom", errors["throws_in_build"])
        self.assertIn("exec boom", errors["throws_in_exec"])
        self.assertTrue(all(c["ok"] for c in self.rec["checks"]), self.rec["checks"])

    def test_throwing_queries_take_no_time(self):
        cold, warm = metrics.query_seconds(metrics.Trace(self.rec))
        self.assertEqual(set(cold), {"works"})
        self.assertEqual(set(warm), {"works"})
        m = metrics.end_to_end(self.rec, "ops", run.TAIL)
        self.assertEqual(m["cold_s"], cold["works"])
        self.assertGreater(m["p50_ms"], 0)

    def test_jobs_and_planning_are_attributed_to_the_op_that_ran_them(self):
        tr = metrics.Trace(self.rec)
        execs = [c for op in tr.ops("query", query="works") for c in tr.children[op]
                 if tr.spans[c]["name"] == "exec.run"]
        self.assertGreaterEqual(len(execs), 4)
        for e in execs:
            self.assertGreaterEqual(len(tr.jobs[e]), 1)
            self.assertIn(e, tr.phases)


if __name__ == "__main__":
    unittest.main()
