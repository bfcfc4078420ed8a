#!/usr/bin/env python3
"""Layer-attributed benchmark of graft.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
harness from source into .bench_build/ with sbt; later runs reuse the
build while the sources are unchanged.

A run is a closed loop with one client, on local[nproc]. Set-up is JVM
start, SparkSession and the program's entry point, up to the point where
the first query could start. A run sets up SETUP_SAMPLES times, each in a
fresh JVM, and setup_s is their median; all but the last JVM stop there.
The last runs a priming pass, which pays class loading, JIT and code
generation (jvm.first_pass_s of a traced run), then the measured passes:
--seconds over the workload's nominal warm pass time (pass_s in
workloads.json), at least two. Each pass runs every query of the
workload once, in the seed's order rotated by the pass number, built,
planned and executed to the noop sink, on a new session after the
program's reset hooks. The priming pass writes every result to parquet
instead, for the check against the DuckDB oracle (see oracle.py).

With --trace 1, measured passes alternate untraced and traced (U T T U
...); the per-layer metrics come from the traced ones and the tracing
overhead is the difference of their median wall times. Spans go to
.bench_build/out/spans_<workload>_<seed>.json and every run's full record
to .bench_build/out/<workload>_<seed>_trace<t>.json, which compare.py reads.

The last line of stdout is the JSON result.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
OUT = os.path.join(BUILD, "out")
CLASSES = os.path.join(BUILD, "sbt", "scala-2.13", "classes")
STAMP = os.path.join(BUILD, "stamp")
PROGRAM = os.path.join(ROOT, "src", "main", "scala")
sys.path.insert(0, HERE)
import metrics  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = json.load(open(os.path.join(HERE, "workloads.json")))
BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
DATA = "sf0.01"
SETUP_SAMPLES = 2
MIN_PASSES = 2
HEAP = "3g"
RUN_BUDGET_S = 150.0
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
SBT_ENV = {"COURSIER_MODE": "offline",
           "SBT_OPTS": "-Dsbt.override.build.repos=true "
                       "-Dsbt.repository.config=%s/.sbt/repositories "
                       "-Dsbt.offline=true -Xmx3g" % os.path.expanduser("~")}


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def source_digest():
    h = hashlib.sha256()
    roots = [PROGRAM, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def java_args():
    """The harness command line."""
    opens = [a for p in ADD_OPENS for a in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)]
    tmp = os.path.join(BUILD, "tmp")
    return (["java"] + opens +
            ["-Xmx" + HEAP, "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             # deep enough that the first graft frame of a job's call site
             # survives Spark's and Spark ML's own frames
             "-Dspark.callstack.depth=200",
             "-cp", CLASSES + ":" + os.path.join(os.environ["SPARK_HOME"], "jars", "*"),
             "perfbench.Harness"])


def jvm_env():
    env = dict(os.environ)
    # no funnel table may carry over from an earlier run
    env.pop("SPARK_GRAFT_FUNNEL_DIR", None)
    env["SPARK_LOCAL_DIRS"] = os.path.join(BUILD, "tmp")
    return env


def prepare():
    """Build the harness with the program when their sources changed."""
    if not os.path.isfile(os.path.join(PROGRAM, "graft", "SparkEntry.scala")):
        fail("program sources not found under " + PROGRAM)
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME is not set; the build and the harness take Spark's jars from it")
    digest = source_digest()
    if os.path.isfile(STAMP) and open(STAMP).read() == digest and os.path.isdir(CLASSES):
        return
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    if os.path.exists(STAMP):
        os.remove(STAMP)
    log = open(os.path.join(BUILD, "build.log"), "w")
    env = dict(os.environ, **SBT_ENV)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        fail("build failed, see .bench_build/build.log")
    with open(STAMP, "w") as f:
        f.write(digest)


def cores():
    return len(os.sched_getaffinity(0))


def steal_s():
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def load1():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def mem_total_mb():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024.0
    return None


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              capture_output=True, check=True).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        return None


def run_jvm(args, deadline, log):
    """Start the harness JVM and wait for it; returns (set-up seconds, its
    record, or None when it ran no passes). A JVM still running at the
    deadline is killed."""
    t0 = time.perf_counter()
    p = subprocess.Popen(java_args() + args, env=jvm_env(), stdout=subprocess.PIPE,
                         stderr=log, text=True)
    watchdog = threading.Timer(max(1.0, deadline - time.monotonic()), p.kill)
    watchdog.start()
    setup = None
    try:
        for line in p.stdout:
            if line.strip() == "READY" and setup is None:
                setup = time.perf_counter() - t0
        p.wait()
    finally:
        watchdog.cancel()
    if p.returncode != 0 or setup is None:
        fail("the harness JVM failed (exit %s), see .bench_build/out/jvm.log"
             % p.returncode, 3)
    if "--out" not in args:
        return setup, None
    with open(args[args.index("--out") + 1]) as f:
        return setup, json.load(f)


def end_to_end(passes, setup):
    """End-to-end metrics of one run, and the tail of its per-query walls.
    Each is a median over the measured passes, so that a pass slowed by a
    burst of steal does not move it. query_p50_s is the median over the
    passes of each pass's median query wall: pooled, the walls of a
    workload with a shared build split into the query that pays the build
    and the ones that reuse it, and a pooled median would fall in the gap
    between the two groups."""
    def qwall(q):
        return (q["s1"] - q["c0"]) / 1000.0
    t, pct, n = metrics.tail([qwall(q) for p in passes for q in p["queries"]
                              if q["err"] is None])
    return {
        "setup_s": setup,
        "wall_s": statistics.median(metrics.pass_wall_s(p) for p in passes),
        "query_p50_s": statistics.median(
            statistics.median(qwall(q) for q in p["queries"]) for p in passes),
        "cpu_s": statistics.median(p["cpu_s"] for p in passes),
        "heap_peak_mb": statistics.median(p["heap_peak_mb"] for p in passes),
    }, {"query_tail_s": t, "query_tail_percentile": pct, "query_tail_n": n}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", default=DATA, help="table set under perfbench/data")
    a = ap.parse_args()
    w = WORKLOADS[a.workload]
    data_dir = os.path.join(HERE, "data", a.data)
    expected_file = os.path.join(HERE, "expected", a.data + ".json")
    if not os.path.isfile(expected_file):
        fail("no expected results for " + a.data)
    expected = json.load(open(expected_file))
    prepare()
    # a fresh checkout's build may take minutes; the measured part may not
    deadline = time.monotonic() + RUN_BUDGET_S

    # --seconds over the workload's nominal warm pass time (pass_s)
    n = max(MIN_PASSES, round(a.seconds / w["pass_s"]))
    kinds = ["U"] * n
    if a.trace:
        n = max(4, n + n % 2)
        kinds = ["T" if i % 4 in (1, 2) else "U" for i in range(n)]
    # Pass i runs the seed's order rotated by i, so over the passes every
    # query takes every place in the order about equally often: a query
    # that is slower or faster for running first (a shared build, say)
    # then weighs the same in every seed's medians.
    base_order = random.Random("%s:%d" % (a.workload, a.seed)).sample(
        w["queries"], len(w["queries"]))
    orders = [base_order[i % len(base_order):] + base_order[:i % len(base_order)]
              for i in range(n + 1)]
    os.makedirs(OUT, exist_ok=True)
    run_tmp = os.path.join(BUILD, "tmp", "run_%d" % os.getpid())
    dump_dir = os.path.join(run_tmp, "results")
    os.makedirs(run_tmp, exist_ok=True)
    header = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
              "trace": a.trace, "data": a.data, "nproc": cores(),
              "mem_total_mb": mem_total_mb(), "load1_start": load1(),
              "git_commit": git_commit(), "source_sha256": source_digest(),
              "spark_graft_env": {k: v for k, v in sorted(os.environ.items())
                                  if k.startswith("SPARK_GRAFT_")
                                  and k != "SPARK_GRAFT_FUNNEL_DIR"},
              "passes": n, "client": "closed loop, 1 client"}
    steal0 = steal_s()
    plan = ";".join("%s:%s" % (k, ",".join(o)) for k, o in zip(["P"] + kinds, orders))
    base = ["--sf", data_dir, "--cores", str(cores())]
    with open(os.path.join(OUT, "jvm.log"), "w") as log:
        setups = [run_jvm(base + ["--passes", ""], deadline, log)[0]
                  for _ in range(SETUP_SAMPLES - 1)]
        setup, rec = run_jvm(
            base + ["--passes", plan, "--out", os.path.join(run_tmp, "passes.json"),
                    "--dump", dump_dir],
            deadline, log)
    setups.append(setup)
    priming, passes = rec["passes"][0], rec["passes"][1:]
    header.update(java_version=rec["java_version"], spark_version=rec["spark_version"],
                  spark_graft_conf=rec["graft_conf"], load1_end=load1(),
                  steal_s=steal_s() - steal0)

    # Correctness: an execution that threw is a failure, and so is every
    # execution of a query whose result differs from the oracle's. A
    # shared-build count that does not repeat from pass to pass makes the
    # run incorrect too.
    wrong = oracle.check(dump_dir, expected, w["queries"])
    everything = [priming] + passes
    attempted = sum(len(p["queries"]) for p in everything)
    failed = sum(1 for p in everything for q in p["queries"]
                 if q["err"] is not None or q["name"] in wrong)
    problems = dict(wrong)
    for p in everything:
        for q in p["queries"]:
            if q["err"] is not None:
                problems.setdefault(q["name"], "threw: " + q["err"])
    for key in ("funnel_builds", "fit_builds"):
        counts = sorted({p[key] for p in everything})
        if len(counts) > 1:
            problems["ops." + key] = "differs between passes: %s" % counts
    correct = not problems

    e2e, tail_info = end_to_end([p for p in passes if p["kind"] != "T"],
                                statistics.median(setups))
    result = {"header": header, "priming": priming, "passes": passes,
              "problems": problems, "attempted": attempted, "failed": failed,
              "fail_ratio": failed / attempted, "setup_samples_s": setups, **tail_info}
    if a.trace:
        traced = [p for p in passes if p["kind"] == "T"]
        untraced = [p for p in passes if p["kind"] != "T"]
        per_pass, all_spans = [], []
        for p in traced:
            m, sp, selfs = metrics.layer_metrics(p, cores())
            per_pass.append(m)
            for s in sp:
                s["self_ms"] = selfs[s["id"]]
            all_spans.extend(sp)
        layer = {k: statistics.median(m[k] for m in per_pass) for k in per_pass[0]}
        layer["jvm.first_pass_s"] = metrics.pass_wall_s(priming)
        layer["trace.overhead_s"] = (
            statistics.median(metrics.pass_wall_s(p) for p in traced)
            - statistics.median(metrics.pass_wall_s(p) for p in untraced))
        reported = layer
        with open(os.path.join(OUT, "spans_%s_%d.json" % (a.workload, a.seed)), "w") as f:
            json.dump(all_spans, f)
        result["layer"] = layer
    else:
        reported = e2e
    result["metrics"] = e2e
    for p in passes:
        p.pop("trace", None)
    with open(os.path.join(OUT, "%s_%d_trace%d.json" % (a.workload, a.seed, a.trace)), "w") as f:
        json.dump(result, f, indent=1)
    shutil.rmtree(run_tmp, ignore_errors=True)

    print("header " + json.dumps(header, sort_keys=True))
    declared = {m["name"]: m for m in BENCH["end_to_end"] + BENCH["per_layer"]}
    lines = list(e2e.items()) + (sorted(reported.items()) if a.trace else [])
    for k, v in lines:
        print("  %-24s %12.4f %s" % (k, v, declared[k]["unit"]))
    print("  %-24s %12.4f ratio (%d failed of %d)" % (
        "fail_ratio", failed / attempted, failed, attempted))
    # Not a bounded metric: below 20 samples per run it is the median.
    print("  %-24s %12.4f s (p%.1f of n=%d)" % (
        "query_tail_s", tail_info["query_tail_s"], tail_info["query_tail_percentile"],
        tail_info["query_tail_n"]))
    for q, why in sorted(problems.items()):
        print("  FAIL %s: %s" % (q, why))
    names = [m["name"] for m in BENCH["per_layer" if a.trace else "end_to_end"]]
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": reported[k], "unit": declared[k]["unit"]}
                                  for k in names}}))


if __name__ == "__main__":
    main()
