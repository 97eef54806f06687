#!/usr/bin/env python3
"""Rank the hot frames of a JFR recording inside one call, per thread group.

Usage:
  jfr print --json --events jdk.ExecutionSample --stack-depth 512 rec.jfr > rec.json
  python3 tools/jfr_top.py rec.json [--anchor 'churnbench/Main$.loop$1'] [--top 15] [--self]

The window is the span of the samples whose stack holds the anchor frame
(`<class>.<method>`, `/` or `.` between package parts; default the
churnbench timed loop). Every thread's samples inside that window are
counted, so the executor threads running the loop's tasks are ranked
too, not only the thread that holds the anchor. A thread group is the
thread's name with each digit run replaced by `N`, so all executor task
threads form one group.

Each group lists its sample count and its frames ranked by the number of
samples whose stack holds the frame (a frame counts once per sample), or
with --self by the number of samples whose leaf it is.
"""
import argparse
import collections
import datetime
import json
import re
import sys


def frame_name(f):
    m = f["method"]
    return f"{m['type']['name']}.{m['name']}".replace("/", ".")


def epoch_ns(ts):
    """`2026-10-20T00:27:41.404162776Z` as integer nanoseconds."""
    whole, _, frac = ts.rstrip("Z").partition(".")
    t = datetime.datetime.fromisoformat(whole).replace(tzinfo=datetime.timezone.utc)
    return int(t.timestamp()) * 10**9 + int((frac + "000000000")[:9])


def samples(doc):
    """(time ns, thread group, frames leaf first) per execution sample."""
    for e in doc["recording"]["events"]:
        if e["type"] != "jdk.ExecutionSample":
            continue
        v = e["values"]
        st = v.get("stackTrace") or {"frames": []}
        th = v.get("sampledThread") or {}
        name = th.get("javaName") or th.get("osName") or "?"
        yield (epoch_ns(v["startTime"]), re.sub(r"\d+", "N", name),
               [frame_name(f) for f in st["frames"]])


def window(ss, anchor):
    """[first, last] time of the samples that hold `anchor`, or None."""
    a = anchor.replace("/", ".")
    ts = [t for t, _, fs in ss if a in fs]
    return (min(ts), max(ts)) if ts else None


def rank(ss, top, leaf_only):
    """{group: (samples, [(frame, count), ...])}, groups by samples."""
    n = collections.Counter()
    per = collections.defaultdict(collections.Counter)
    for _, g, fs in ss:
        n[g] += 1
        per[g].update(fs[:1] if leaf_only else set(fs))
    return {g: (c, per[g].most_common(top)) for g, c in n.most_common()}


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("json", help="`jfr print --json` output, or - for stdin")
    ap.add_argument("--anchor", default="churnbench/Main$.loop$1")
    ap.add_argument("--top", type=int, default=15)
    ap.add_argument("--self", dest="leaf_only", action="store_true")
    args = ap.parse_args(argv)
    if args.json == "-":
        doc = json.load(sys.stdin)
    else:
        with open(args.json) as f:
            doc = json.load(f)
    ss = list(samples(doc))
    w = window(ss, args.anchor)
    if w is None:
        print(f"no sample holds {args.anchor}", file=sys.stderr)
        return 1
    inside = [s for s in ss if w[0] <= s[0] <= w[1]]
    print(f"{len(inside)} samples in {(w[1] - w[0]) / 1e9:.2f} s under {args.anchor}")
    for g, (c, frames) in rank(inside, args.top, args.leaf_only).items():
        print(f"\n{g}: {c} samples")
        for fr, k in frames:
            print(f"  {k:6d} {100.0 * k / c:5.1f}%  {fr}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
