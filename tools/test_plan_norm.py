"""Tests for tools/plan_norm.py: run-varying tokens compare equal, an
operator change does not.

    python3 -m unittest discover -s tools -p 'test_*.py'
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.dont_write_bytecode = True
import plan_norm  # noqa: E402

PLAN = """[info] running (fork) graft.Explain sf g1_pagerank
26/10/19 13:08:30 INFO SparkContext: Running Spark version 4.1.2
===== g1_pagerank =====
== Physical Plan ==
AdaptiveSparkPlan (3)
+- {op} (2)
   +- Scan ExistingRDD (1)

(1) Scan ExistingRDD
Output [2]: [src#{a}L, dst#{b}L]
Arguments: [src#{a}L, dst#{b}L], MapPartitionsRDD[{rdd}] at localCheckpoint at Analytics.scala:{line}, ExistingRDD, UnknownPartitioning(0)

(2) {op}
Input [2]: [src#{a}L, dst#{b}L]
Arguments: hashpartitioning(src#{a}L, 32), [plan_id={pid}], file:/tmp/graft-scratch-{proc}/x, filter(w#{a}, lambdafunction((length(lambda x_{lam}#{b}) > 0), lambda x_{lam}#{b}, false))
[count] g1_pagerank Exchange = 1
[success] Total time: 76 s
"""


def norm(**kw):
    return list(plan_norm.normalize(PLAN.format(**kw).splitlines()))


RUN1 = dict(op="Exchange", a=6, b=9, rdd=8, line=937, pid=116, proc=4242,
            lam=1)
RUN2 = dict(op="Exchange", a=35, b=36, rdd=22, line=131, pid=7, proc=99,
            lam=88)


class PlanNormTest(unittest.TestCase):
    def test_run_varying_tokens_compare_equal(self):
        self.assertNotEqual(PLAN.format(**RUN1), PLAN.format(**RUN2))
        self.assertEqual(norm(**RUN1), norm(**RUN2))
        out = "\n".join(norm(**RUN1))
        self.assertNotIn("[info]", out)
        self.assertNotIn("INFO SparkContext", out)
        self.assertIn("[count] g1_pagerank Exchange = 1", out)

    def test_operator_change_differs(self):
        self.assertNotEqual(norm(**RUN1), norm(**dict(RUN1, op="Sort")))


if __name__ == "__main__":
    unittest.main()
