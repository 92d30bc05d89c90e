#!/usr/bin/env python3
"""Benchmark of the graft engine's registry queries, one workload per run.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the engine and the harness from source (scalac from the Spark
distribution's jars, cached by source hash under $CARGO_TARGET_DIR or
.bench_build), runs the workload's query list in one JVM at local[4] and
checks every execution's row count and digest against
perfbench/expected.json. The run times ceil(S / 8) passes, the same number
in every run, as a pass of either workload takes about 8 s on 4 cores.
All on-disk state of the run lives in a fresh directory under the build
dir, deleted on exit.

The last stdout line is one JSON object: the end-to-end metrics with
--trace 0, the per-layer metrics of a traced run with --trace 1. Lines
above it name every metric with its unit and sample count, the error rate,
the yardstick and the seed. Each wrong or failed execution gets a
`# WRONG` line, printed on stderr as well, after the end of the JVM's log.
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

HERE = os.path.dirname(os.path.abspath(__file__))
CONFIG = json.load(open(os.path.join(HERE, "workloads.json")))
# A run must end within 180 s; the first build of a checkout gets its own
# budget on top of this.
RUN_TIMEOUT_S = 170
# Pass time of either workload on 4 cores, which turns --seconds into a
# fixed pass count: a run that times more passes when the box is fast
# would weigh its later, warmer passes more and widen the spread.
NOMINAL_PASS_S = 8

# Spark 4 on JDK 17 outside spark-submit needs these (as build.sbt sets).
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        fail("no Spark distribution found (set SPARK_HOME)")
    return jars


def build(root, jars):
    """Compile src/main/scala and the harness once per source hash."""
    sources = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not sources:
        fail("no engine sources under src/main/scala: run from the root of a checkout")
    sources += sorted(glob.glob(os.path.join(HERE, "*.scala")))
    h = hashlib.sha256()
    for s in sources:
        h.update(os.path.relpath(s, root).encode())
        h.update(open(s, "rb").read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    out_root = os.path.join(root, os.environ.get("CARGO_TARGET_DIR") or ".bench_build", "perfbench")
    out = os.path.join(out_root, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", tmp] + sources
    t0 = time.time()
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        print(r.stdout[-4000:], file=sys.stderr)
        fail("build failed")
    os.rename(tmp, out)
    print(f"# built {len(sources)} sources in {time.time() - t0:.1f} s", flush=True)
    return out


def run_harness(root, classes, jars, wl, seed, passes, trace):
    """Run the JVM in a fresh state dir; return (launch time, PB records,
    the tail of the JVM's stderr)."""
    state = os.path.join(root, os.environ.get("CARGO_TARGET_DIR") or ".bench_build",
                         "perfbench", f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(os.path.join(state, "tmp"))
    jvm = CONFIG["jvm"]
    cmd = (["java"] + jvm["flags"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in OPENS]
           + [f"-Djava.io.tmpdir={state}/tmp", f"-Dderby.system.home={state}",
              "-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.PerfBench",
              os.path.join(root, wl["data"]), ",".join(wl["queries"]), str(seed), str(passes),
              "1" if trace else "0", str(jvm["cores"]), state])
    log = open(os.path.join(state, "jvm.log"), "w")
    launch = time.time()
    # cwd is the state dir, so nothing Spark or Derby writes relative to
    # the working directory lands in the checkout
    p = subprocess.Popen(cmd, cwd=state, stdout=subprocess.PIPE, stderr=log, text=True,
                         start_new_session=True)
    try:
        out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        out = None
    finally:
        log.close()
    try:
        log_tail = open(os.path.join(state, "jvm.log"), errors="replace").read()[-4000:]
        if out is None or p.returncode != 0:
            print(log_tail, file=sys.stderr)
            fail("harness timed out" if out is None else f"harness exited with {p.returncode}")
        recs = [json.loads(line[3:]) for line in out.splitlines() if line.startswith("PB ")]
    finally:
        shutil.rmtree(state, ignore_errors=True)
    return launch, recs, log_tail


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(CONFIG["workloads"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    root = os.getcwd()
    wl = CONFIG["workloads"][a.workload]
    expected = json.load(open(os.path.join(HERE, "expected.json")))
    jars = spark_jars()
    classes = build(root, jars)
    n_passes = max(1, math.ceil(a.seconds / NOMINAL_PASS_S))
    launch, recs, log_tail = run_harness(root, classes, jars, wl, a.seed, n_passes, a.trace)

    setup = next(r for r in recs if r["kind"] == "setup")
    # set-up runs from process launch, JVM start included
    setup_s = setup["end_epoch_ms"] / 1000.0 - launch
    queries = [r for r in recs if r["kind"] == "query"]
    passes = [r for r in recs if r["kind"] == "pass"]
    yard = [r["s"] for r in recs if r["kind"] == "yardstick"]

    # every execution is checked, the warm pass's too; a null expected
    # digest marks a row whose digest does not repeat (row count only)
    checked = [r for r in recs if r["kind"] in ("warm", "query")]
    wrong = []
    for q in checked:
        exp = expected[q["name"]]
        if "error" in q or q["rows"] != exp["rows"] or exp["digest"] not in (None, q["digest"]):
            wrong.append(f"# WRONG {q['name']} ({q['kind']}, pass {q.get('pass', 0)}): "
                         f"{q.get('error') or (q['rows'], q['digest'])}, "
                         f"expected {(exp['rows'], exp['digest'])}")
    failed = len(wrong)
    attempted = len(checked)
    if wrong:
        # the JVM's log, then the wrong executions last, so that a log
        # that keeps only the end of stderr still names them
        print(log_tail[-2000:], file=sys.stderr)
        print("\n".join(wrong), file=sys.stderr)
        print("\n".join(wrong))

    # a traced run's first pass is a discarded warm-up (see PerfBench)
    plain = [p for p in passes if not p["traced"] and (a.trace == 0 or p["pass"] > 1)]
    traced = [p for p in passes if p["traced"]]
    plain_q = [q for q in queries if not q["traced"] and (a.trace == 0 or q["pass"] > 1)]
    if a.trace == 0:
        # the lowest per-pass peak: the first timed pass still allocates
        # more while the JIT settles
        heap = [p["heap_peak_mb"] for p in plain]
        metrics = {
            "setup_s": (setup_s, "s", 1),
            "pass_s": (median([p["wall_s"] for p in plain]), "s", len(plain)),
            "query_s_p50": (median([q["wall_s"] for q in plain_q]), "s", len(plain_q)),
            "heap_peak_mb": (min(heap), "MB", len(heap)),
        }
    else:
        def per_pass(field):
            return median([sum(q.get(field, 0) for q in queries if q["pass"] == p["pass"]) for p in traced])

        def layer(field):
            return median([p[field] for p in traced])
        n = len(traced)
        metrics = {
            "queries.construct_s": (per_pass("construct_s"), "s", n),
            "queries.execute_s": (per_pass("execute_s"), "s", n),
            "queries.plan_ms": (per_pass("plan_ms"), "ms", n),
            "scheduler.jobs": (layer("jobs"), "count", n),
            "scheduler.stages": (layer("stages"), "count", n),
            "scheduler.tasks": (layer("tasks"), "count", n),
            "scheduler.driver_only_s": (layer("driver_only_s"), "s", n),
            "executor.task_s": (layer("task_s"), "s", n),
            "executor.cpu_s": (layer("cpu_s"), "s", n),
            "executor.gc_s": (layer("exec_gc_s"), "s", n),
            "executor.parallelism": (layer("parallelism"), "ratio", n),
            "sources.input_mb": (layer("input_mb"), "MB", n),
            "sources.input_rows": (layer("input_rows"), "count", n),
            "sources.scan_tasks": (layer("scan_tasks"), "count", n),
            "shuffle.write_mb": (layer("shuffle_write_mb"), "MB", n),
            "shuffle.read_mb": (layer("shuffle_read_mb"), "MB", n),
            "shuffle.spill_mb": (layer("spill_mb"), "MB", n),
            "storage.pinned_mb": (per_pass("pinned_mb"), "MB", n),
            "storage.pinned_rdds": (per_pass("pinned_rdds"), "count", n),
            "pipeline.scratch_mb": (layer("scratch_mb"), "MB", n),
            "jvm.gc_pause_s": (layer("gc_pause_s"), "s", n),
            "env.yardstick_s": (median(yard), "s", len(yard)),
            "trace.pass_s": (layer("wall_s"), "s", n),
            "trace.overhead_s": (layer("wall_s") - median([p["wall_s"] for p in plain]), "s", n),
        }

    print(f"# workload {a.workload} seed {a.seed} trace {a.trace}: {len(passes)} passes of "
          f"{len(wl['queries'])} queries at local[{CONFIG['jvm']['cores']}], data {wl['data']}")
    for k, (v, unit, n) in metrics.items():
        print(f"# {k} = {v:.6g} {unit} (n={n})")
    print(f"# set-up: session {setup['session_s']:.3f} s, tables {setup['tables_s']:.3f} s, warm "
          + ", ".join(f"{w['name']} {w['wall_s']:.3f}" for w in recs if w["kind"] == "warm") + " s")
    print(f"# set-up {setup_s:.3f} s; passes: "
          + ", ".join(f"{p['wall_s']:.3f}{'T' if p['traced'] else ''}" for p in passes) + " s; heap peaks: "
          + ", ".join(f"{p['heap_peak_mb']:.1f}" for p in passes) + " MB")
    for name in wl["queries"]:
        ts = [q["wall_s"] for q in plain_q if q["name"] == name]
        print(f"# query {name}: median {median(ts):.3f} s (n={len(ts)})")
    print(f"# error_rate = {failed / max(attempted, 1):.6g} ({failed}/{attempted})")
    print(f"# env.yardstick_s = {median(yard):.6g} s")
    print(json.dumps({"correct": failed == 0 and attempted > 0, "attempted": attempted,
                      "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u, _) in metrics.items()}}))


if __name__ == "__main__":
    main()
