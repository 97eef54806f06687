"""Tests for tools/jfr_top.py: the anchor's span bounds the window, every
thread in it is counted by its digit-free group, and a frame counts once
per sample.

    python3 -m unittest discover -s tools -p 'test_*.py'
"""
import contextlib
import io
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.dont_write_bytecode = True
import jfr_top  # noqa: E402

LOOP = "churnbench/Main$.loop$1"


def frame(qual):
    cls, _, meth = qual.rpartition(".")
    return {"method": {"type": {"name": cls}, "name": meth}, "lineNumber": 1}


def sample(sec, thread, *frames):
    return {"type": "jdk.ExecutionSample", "values": {
        "startTime": f"2026-10-20T00:00:{sec}Z",
        "sampledThread": {"javaName": thread},
        "stackTrace": {"truncated": False, "frames": [frame(f) for f in frames]}}}


TASK = "Executor task launch worker for task {} in stage 2.0 (TID {})"
COMPILE = "org/apache/spark/sql/catalyst/expressions/codegen/CodeGenerator$.doCompile"
DOC = {"recording": {"events": [
    # before the loop: outside the window
    sample("01.5", TASK.format("0.0", 1), COMPILE, "java/lang/Thread.run"),
    sample("02", "main", "churnbench/Main$.main", LOOP.replace("loop$1", "dump")),
    # the loop: 02.25 .. 04.125 (fraction lengths differ on purpose)
    sample("02.25", "main", "graft/Tables$.parquet", LOOP, "churnbench/Main$.main"),
    sample("03", TASK.format("1.0", 7), COMPILE, COMPILE, "java/lang/Thread.run"),
    sample("03.5", TASK.format("2.0", 12), "java/net/URLClassPath.getResource",
           COMPILE, "java/lang/Thread.run"),
    sample("04", TASK.format("3.0", 13), "java/lang/Math.sqrt", "java/lang/Thread.run"),
    sample("04.125", "main", LOOP, "churnbench/Main$.main"),
    {"type": "jdk.GCPhasePause", "values": {"startTime": "2026-10-20T00:00:03Z"}},
    # after the loop
    sample("05", TASK.format("4.0", 20), COMPILE, "java/lang/Thread.run"),
]}}


def run(*args):
    with tempfile.NamedTemporaryFile("w", suffix=".json", delete=False) as f:
        json.dump(DOC, f)
    out = io.StringIO()
    try:
        with contextlib.redirect_stdout(out), contextlib.redirect_stderr(io.StringIO()):
            rc = jfr_top.main([f.name, *args])
    finally:
        os.unlink(f.name)
    return rc, out.getvalue()


class JfrTopTest(unittest.TestCase):
    def test_window_is_the_anchor_span(self):
        ss = list(jfr_top.samples(DOC))
        w = jfr_top.window(ss, LOOP)
        self.assertEqual(w[1] - w[0], 1_875_000_000)
        self.assertEqual(jfr_top.window(ss, LOOP.replace("/", ".")), w)

    def test_groups_and_inclusive_counts(self):
        ss = list(jfr_top.samples(DOC))
        w = jfr_top.window(ss, LOOP)
        got = jfr_top.rank([s for s in ss if w[0] <= s[0] <= w[1]], 3, False)
        task = "Executor task launch worker for task N.N in stage N.N (TID N)"
        self.assertEqual(list(got), [task, "main"])
        n, frames = got[task]
        self.assertEqual(n, 3)
        # doCompile twice on one stack still counts once for that sample
        self.assertEqual(dict(frames)[COMPILE.replace("/", ".")], 2)
        self.assertEqual(dict(frames)["java.lang.Thread.run"], 3)
        self.assertEqual(got["main"][0], 2)

    def test_self_counts_leaves_only(self):
        ss = list(jfr_top.samples(DOC))
        got = jfr_top.rank(ss, 10, True)
        task = "Executor task launch worker for task N.N in stage N.N (TID N)"
        self.assertEqual(dict(got[task][1])[COMPILE.replace("/", ".")], 3)
        self.assertNotIn("java.lang.Thread.run", dict(got[task][1]))

    def test_cli(self):
        rc, out = run("--top", "2")
        self.assertEqual(rc, 0)
        self.assertTrue(out.startswith(f"5 samples in 1.88 s under {LOOP}"), out)
        self.assertIn("main: 2 samples", out)
        rc, _ = run("--anchor", "no/such/Frame.f")
        self.assertEqual(rc, 1)


if __name__ == "__main__":
    unittest.main()
