#!/usr/bin/env python3
"""Print `graft.Explain` output normalized, so two runs diff cleanly.

Usage:
  python3 tools/plan_norm.py <explain-output> ...   (or stdin)

  diff <(python3 tools/plan_norm.py before.txt) \\
       <(python3 tools/plan_norm.py after.txt)

Drops sbt and Spark log lines and blank lines. Replaces the tokens that
differ between two runs of the same plan: expression ids (`cents#12L`),
exchange ids (`plan_id=34`), RDD ids and call-site lines
(`MapPartitionsRDD[8] at localCheckpoint at Analytics.scala:937`), the
pid in the scratch dir (`graft-scratch-4242`) and the JVM-global
lambda-variable counters (`x_88`), which move whenever an earlier plan
in the same JVM built a lambda.
"""
import re
import sys

LOG = re.compile(r"^(\[(info|warn|error|success|debug)\] "
                 r"|\d\d/\d\d/\d\d \d\d:\d\d:\d\d "
                 r"|Using Spark's default log4j profile)")

SUBS = [
    (re.compile(r"RDD\[\d+\] at (.*?) at (\w+\.scala):\d+"),
     r"RDD[_] at \1 at \2:_"),
    (re.compile(r"plan_id=\d+"), "plan_id=_"),
    (re.compile(r"graft-scratch-\d+"), "graft-scratch-_"),
    (re.compile(r"\b([xyz])_\d+\b"), r"\1_"),
    (re.compile(r"#\d+"), "#_"),
]


def normalize(lines):
    for line in lines:
        line = line.rstrip("\n")
        if not line.strip() or LOG.match(line):
            continue
        for pat, rep in SUBS:
            line = pat.sub(rep, line)
        yield line


def main(paths):
    if not paths:
        for line in normalize(sys.stdin):
            print(line)
    for p in paths:
        with open(p) as f:
            for line in normalize(f):
                print(line)


if __name__ == "__main__":
    main(sys.argv[1:])
