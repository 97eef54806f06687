#!/usr/bin/env python3
"""Churn benchmark: one seeded workload, timed end to end and by layer.

    python3 churnbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first call builds the engine and the
harness with sbt (churnbench/build.sbt); later calls reuse the build
while no source changed. Each call then

  1. generates the workload's input from the seed (gen.py; untimed,
     cached per workload and seed under .bench_build/churnbench),
  2. starts one JVM with a pinned heap, GC thread count and local[N],
     and a fresh tmpdir, Spark local dir and warehouse,
  3. in it: sets the workload up (feature_adhoc: the check dump of
     every request on the session the loop uses, which doubles as the
     warm-up, and the ANN artifact training), runs whole timed passes for
     at least --seconds (churnbench/src); churn_train dumps its oracled
     entry through graft.Verify after the pass,
  4. checks those dumps against DuckDB with tools/check_oracle.py and
     checks that every ChurnML.trainEval row repeats exactly,
  5. prints the metrics as the last stdout line, one JSON object.

--trace 0 reports the end-to-end metrics of the timed loop. --trace 1
turns the bench's SparkListener and job groups on for the loop and
reports the per-layer metrics instead, each per pass, with the tracing
overhead against the median wall of this tree's untraced runs.
The exit code is non-zero only when the run could not complete or a
check failed.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
import gen  # noqa: E402

# workload -> input scale factor. Both are fixed-cost bound at this
# size (churn_train times the same at sf 0.003), so a larger input only
# lengthens the run.
WORKLOADS = {"churn_train": 0.01, "feature_adhoc": 0.01}
# a batch job's client waits for the whole job, so its request is the pass
BATCH = {"churn_train"}
CORES = max(1, min(4, os.cpu_count() or 1))
HEAP = "2g"
JVM_TIMEOUT_S = 165
SERVED = ["sim_topk_pq"]
FAMILIES = ["gbt"]

END_TO_END = {
    "setup_s": "s", "wall_s": "s", "rows_per_s": "1/s", "query_p50_s": "s",
    "query_p90_s": "s", "ok_ratio": "ratio", "heap_live_peak_mb": "MB",
}
PER_LAYER = dict(
    [("sessions.start_s", "s"), ("tables.load_s", "s"), ("tables.load_jobs", "count"),
     ("tables.load_calls", "count"), ("build.s", "s"), ("build.jobs", "count"),
     ("plan.s", "s"), ("exec.s", "s"), ("exec.jobs", "count"), ("stages", "count"),
     ("stage_skip_ratio", "ratio"), ("tasks", "count"), ("task_run_s", "s"),
     ("task_cpu_s", "s"), ("sched_delay_s", "s"), ("slot_busy_ratio", "ratio"),
     ("shuffle_write_mb", "MB"), ("shuffle_read_mb", "MB"), ("spill_mb", "MB"),
     ("gc_s", "s"), ("ml.wide_s", "s")]
    + [(f"ml.fit_s.{f}", "s") for f in FAMILIES]
    + [(f"ml.fit_jobs.{f}", "count") for f in FAMILIES]
    + [("ml.persist_s", "s"), ("ml.score_s", "s"), ("eval.s", "s"), ("eval.jobs", "count"),
       ("ann.ensure_s", "s"), ("ann.sig_s", "s"), ("ann.store_mb", "MB"), ("ann.serve_s", "s")]
    + [("sinks.write_s", "s"), ("sinks.output_mb", "MB")]
    + [(f"{k}.{l}", u) for l in ["queries", "encode", "llm", "ml", "other"]
       for k, u in [("jobs", "count"), ("job_s", "s")]]
    + [("failed_tasks", "count"), ("failed_jobs", "count"),
       ("trace.wall_s", "s"), ("trace.overhead_ratio", "ratio")])
# listener totals that are divided by the traced loop's pass count
PER_PASS = {k for k in PER_LAYER if k not in (
    "sessions.start_s", "ann.ensure_s", "ann.sig_s", "ann.store_mb", "stage_skip_ratio",
    "slot_busy_ratio", "trace.wall_s", "trace.overhead_ratio")}


def tail_latency(samples, q=0.9, beyond=10):
    """The latency at the highest percentile up to q that still has at
    least `beyond` samples above it; the median when there are too few."""
    xs = sorted(samples)
    n = len(xs)
    k = min(math.ceil(q * n) - 1, n - 1 - beyond)
    return xs[k] if k >= (n - 1) // 2 else statistics.median(xs)


def log(msg):
    print(f"# {msg}", flush=True)


def fail(msg, code):
    print(f"churnbench: {msg}", file=sys.stderr, flush=True)
    sys.exit(code)


def source_key(root):
    """Hash of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    files = [os.path.join(root, "build.sbt"), os.path.join(root, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for base in (os.path.join(root, "src", "main"), os.path.join(BENCH, "src", "main")):
        files += sorted(glob.glob(os.path.join(base, "**", "*"), recursive=True))
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build(root, work):
    """Compile engine + harness once per source tree; returns the
    classpath and the tree's key."""
    key = source_key(root)
    cp_file = os.path.join(work, "build", f"{key}.classpath")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip(), key
    os.makedirs(os.path.dirname(cp_file), exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    logf = os.path.join(work, "build", "sbt.log")
    log("building engine and harness with sbt (first run in this tree)")
    with open(logf, "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                             "export Runtime/fullClasspath"], cwd=BENCH, env=env,
                            stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                            timeout=600).returncode
    with open(logf) as fh:
        lines = fh.read().splitlines()
    cps = [l.strip() for l in lines if not l.startswith("[") and "churnbench" in l and ":" in l]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail("build failed", 3)
    with open(cp_file + ".tmp", "w") as fh:
        fh.write(cps[-1])
    os.replace(cp_file + ".tmp", cp_file)
    return cps[-1], key


def inputs(work, workload, seed):
    """The workload's input for this seed, generated on first use."""
    root = os.path.join(work, "inputs")
    d = os.path.join(root, f"{workload}-sf{WORKLOADS[workload]}-seed{seed}")
    rows_file = d + ".rows.json"
    if not os.path.exists(rows_file):
        shutil.rmtree(d, ignore_errors=True)
        rows = gen.generate(d, seed, WORKLOADS[workload])
        with open(rows_file, "w") as fh:
            json.dump(rows, fh)
    # keep the cache small: the three newest inputs per workload
    for old in sorted(glob.glob(os.path.join(root, f"{workload}-*.rows.json")),
                      key=os.path.getmtime)[:-3]:
        shutil.rmtree(old[:-len(".rows.json")], ignore_errors=True)
        os.remove(old)
    with open(rows_file) as fh:
        return d, json.load(fh)


def jvm_args(cp, run_dir):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    args = ["java"]
    for p in opens:
        args += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return args + [
        f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+AlwaysPreTouch", f"-XX:ParallelGCThreads={CORES}",
        # no hsperfdata file in the system tmp dir: the run writes only under the checkout
        "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={run_dir}/tmp", f"-Dspark.local.dir={run_dir}/local",
        f"-Dderby.stream.error.file={run_dir}/derby.log",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        # long call sites, so every job's stack reaches its graft frame
        "-Dspark.callstack.depth=200",
        "-cp", cp, "churnbench.Main"]


def run_jvm(cp, run_dir, argv):
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.makedirs(os.path.join(run_dir, "local"))
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(CORES))
    launched = time.time()
    with open(os.path.join(run_dir, "jvm.log"), "w") as out:
        p = subprocess.Popen(jvm_args(cp, run_dir) + argv, cwd=run_dir, env=env, stdout=out,
                             stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            # on a timeout or a signal to this process, too
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if rc != 0:
        with open(os.path.join(run_dir, "jvm.log")) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"benchmark JVM failed ({rc})", 4)
    return launched


def oracle_check(root, input_dir, check_dir, names):
    """graft.Verify dumped `names` into check_dir; compare each with its
    DuckDB oracle through the repository's checker. Returns failures."""
    path = os.path.join(check_dir, "oracle_sql.json")
    with open(path) as fh:
        sql = json.load(fh)
    with open(path, "w") as fh:
        json.dump({n: sql[n] for n in names}, fh)
    p = subprocess.run([sys.executable, os.path.join(root, "tools", "check_oracle.py"),
                        input_dir, check_dir], capture_output=True, text=True, timeout=170)
    bad = [l for l in p.stdout.splitlines() if l.startswith(("FAIL", "ERROR"))]
    passed = [l for l in p.stdout.splitlines() if l.startswith("PASS")]
    for l in bad:
        log(l[:300])
    if p.returncode not in (0, 1) or len(passed) + len(bad) != len(names):
        sys.stderr.write(p.stdout[-2000:] + p.stderr[-2000:])
        return max(1, len(names) - len(passed))
    return len(bad)


def ml_check(work, ref_key, rows):
    """Every trainEval row repeats exactly: across the passes of this run
    and across all runs, traced or not, of one seed on one source tree."""
    if not rows:
        return 0, 0
    fails = 0
    per_pass = [tuple(rows[i:i + len(FAMILIES)]) for i in range(0, len(rows), len(FAMILIES))]
    first = per_pass[0]
    fails += sum(1 for p in per_pass[1:] if p != first)
    ref = os.path.join(work, "ml_rows", f"{ref_key}.json")
    os.makedirs(os.path.dirname(ref), exist_ok=True)
    if os.path.exists(ref):
        with open(ref) as fh:
            fails += int(tuple(json.load(fh)) != first)
    else:
        with open(ref, "w") as fh:
            json.dump(list(first), fh)
    for r in first:
        log(f"trainEval {r}")
    return len(per_pass) + 1, fails


def end_to_end(res, workload, launched, rows, attempted, failed):
    u = res["loop"]
    lat = u["passes"] if workload in BATCH else [r["s"] for r in u["requests"]]
    wall = statistics.median(u["passes"])
    return {
        "setup_s": res["setup_end_epoch_s"] - launched,
        "wall_s": wall,
        "rows_per_s": sum(rows.values()) / wall,
        "query_p50_s": statistics.median(lat),
        "query_p90_s": tail_latency(lat),
        "ok_ratio": 1.0 - failed / attempted,
        "heap_live_peak_mb": u["heap_live_peak_mb"],
    }


def per_layer(res, untraced_walls):
    t, layers = res["loop"], res["layers"]
    n = len(t["passes"])
    reqs = t["requests"]

    def req_sum(field, pred=lambda r: True):
        return sum(r[field] for r in reqs if pred(r))

    m = {k: 0.0 for k in PER_LAYER}
    m.update(layers)
    m.update({
        "sessions.start_s": res["sessions_start_s"],
        "build.s": req_sum("build_s"), "plan.s": req_sum("plan_s"), "exec.s": req_sum("exec_s"),
        "gc_s": t["gc_s"],
        "ml.wide_s": req_sum("build_s", lambda r: r["name"] == "ml.wide"),
        "ann.ensure_s": res.get("ann_ensure_s", 0.0), "ann.sig_s": res.get("ann_sig_s", 0.0),
        "ann.store_mb": res.get("ann_store_mb", 0.0),
        "ann.serve_s": req_sum("s", lambda r: r["name"] in SERVED),
        "slot_busy_ratio": layers["task_run_s"] / (sum(t["passes"]) * res["cores"]),
        "trace.wall_s": statistics.median(t["passes"]),
        "trace.overhead_ratio": (statistics.median(t["passes"]) / statistics.median(untraced_walls)
                                 - 1.0) if untraced_walls else 0.0,
    })
    return {k: (v / n if k in PER_PASS else v) for k, v in m.items()}


def main():
    # a SIGTERM unwinds like ^C, so the JVM is stopped and the run dir removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail("run from the repository root: the engine sources (src/main/scala/graft) "
             "are not here", 2)
    work = os.path.join(root, ".bench_build", "churnbench")
    cp, key = build(root, work)
    input_dir, rows = inputs(work, a.workload, a.seed)
    run_dir = os.path.join(work, "runs", str(os.getpid()))
    out = os.path.join(run_dir, "out")
    walls_file = os.path.join(work, "walls", f"{key}-{a.workload}.json")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        log(f"launch: heap={HEAP} ParallelGCThreads={CORES} local[{CORES}] "
            f"input={os.path.relpath(input_dir, root)} rows={sum(rows.values())}")
        launched = run_jvm(cp, run_dir, [a.workload, input_dir, str(a.seconds), str(a.trace),
                                         out, str(a.seed)])
        with open(os.path.join(out, "result.json")) as fh:
            res = json.load(fh)
        loop = res["loop"]
        log(f"set-up: session {res['sessions_start_s']:.2f} s, ANN training "
            f"{res.get('ann_ensure_s', 0.0):.2f} s, check dump and warm-up "
            f"{res.get('warm_s', 0.0):.2f} s, warm-up pass {res.get('warm_pass_s', 0.0):.2f} s; "
            f"JVM exit after {time.time() - launched:.1f} s")
        dumps = {k[len("dump_s."):]: v for k, v in res.items() if k.startswith("dump_s.")}
        if dumps:
            log("check dump: " + " ".join(f"{k}={v:.2f}" for k, v in dumps.items()) + " s")
        log(f"{len(loop['requests'])} requests in {len(loop['passes'])} passes, "
            f"{loop['gc_between_s']:.2f} s of GC between them; pass walls: " +
            " ".join(f"{p:.2f}" for p in loop["passes"]) + " s; requests: " +
            " ".join(f"{r['name']}={r['s']:.2f}" for r in loop["requests"]))
        t_check = time.time()
        names = res["oracled"]
        failed = oracle_check(root, input_dir, os.path.join(out, "check"), names)
        ml_attempted, ml_failed = ml_check(
            work, f"{key}-{os.path.basename(input_dir)}", res["ml_rows"])
        attempted = len(loop["requests"]) + len(names) + ml_attempted
        failed += ml_failed
        log(f"checks: {len(names)} oracled entries, {ml_attempted} trainEval comparisons, "
            f"{failed} failed, {time.time() - t_check:.1f} s")
        walls = []
        if os.path.exists(walls_file):
            with open(walls_file) as fh:
                walls = json.load(fh)
        if a.trace:
            keep = os.path.join(work, "traces", f"{a.workload}-seed{a.seed}-{os.getpid()}.jsonl")
            os.makedirs(os.path.dirname(keep), exist_ok=True)
            shutil.copyfile(os.path.join(out, "spans.jsonl"), keep)
            log(f"spans: {os.path.relpath(keep, root)}; tracing overhead against the median "
                f"of {len(walls)} untraced runs of this tree")
            metrics, units = per_layer(res, walls), PER_LAYER
        else:
            metrics = end_to_end(res, a.workload, launched, rows, attempted, failed)
            units = END_TO_END
            os.makedirs(os.path.dirname(walls_file), exist_ok=True)
            with open(walls_file, "w") as fh:
                json.dump(walls + [metrics["wall_s"]], fh)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units}}), flush=True)
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
