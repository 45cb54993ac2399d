#!/usr/bin/env python3
"""Cold-JVM end-to-end benchmark of the graft ETL engine.

Usage, from the root of a checkout:
    python3 etlbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

One run:
  1. builds the engine and the harness from source with sbt (cached by
     a hash of the sources, under .etlbench/build);
  2. generates the workload's inputs from the seed (cached by seed and
     generator version, under .etlbench/inputs; never timed);
  3. starts fresh JVMs one after another, each in its own empty working
     directory, with local[<cores>] and an explicit heap
     (etlbench.Harness). The first sets up a session, runs the job once
     cold and then a fixed number of warm reps; the next ones run the
     cold job alone, two cold jobs in all and more while --seconds
     lasts; set-up-only JVMs then bring the set-up samples to three;
  4. checks every rep's committed output against a DuckDB oracle;
  5. prints a detail line, then the result line (the last line).

With --trace 0 it reports the end-to-end metrics as medians; with
--trace 1 it runs one untraced and one traced JVM and reports the
per-layer split of the traced cold job (of every drop, for
ingest_drops) and the tracing overhead.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

# BENCHMARK.json lists ref_etl and ingest_drops. graph_iter runs by hand:
# its cold JVMs cost as much as ref_etl's, and three workloads' runs do
# not fit the benchmark's time budget.
WORKLOADS = ("ref_etl", "ingest_drops", "graph_iter")

# Warm reps after the cold job in a run's first JVM. Fixed, so that
# peak_rss_mb compares like with like.
WARM_REPS = {"ref_etl": 2, "graph_iter": 3, "ingest_drops": 16}
# JVMs after the first run the cold job alone, MIN_COLD cold jobs in all
# and more while --seconds lasts. Set-up-only JVMs then bring the set-up
# samples to SETUPS.
MIN_COLD = 2
SETUPS = 3
# Every JVM of a run must end within RUN_LIMIT_S of the run's start (the
# build, on a checkout's first run, comes before that start).
RUN_LIMIT_S = 170
BUILD_TIMEOUT_S = 840

# The result line's metrics. The detail line adds peak_rss_mb and, for
# ingest_drops, ingest_p50_s and ingest_tail_s.
END_TO_END = {"setup_s": "s", "job_s": "s", "warm_job_s": "s", "cpu_s": "s"}

PER_LAYER = {
    "pipeline.extract_s": "s", "pipeline.transform_s": "s", "pipeline.load_s": "s",
    "sources.scan_rows": "count", "sources.scan_mb": "MB", "sources.scan_s": "s",
    "catalog.constraints_s": "s",
    "operators.construct_s": "s", "operators.eager_jobs": "count",
    "derived.mb_written": "MB", "derived.files": "count",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s", "catalyst.executions": "count",
    "codegen.classes": "count", "codegen.compile_s": "s",
    "jvm.jit_s": "s", "jvm.gc_s": "s", "jvm.classes_loaded": "count",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_run_s": "s", "exec.task_cpu_s": "s",
    "exec.shuffle_write_mb": "MB", "exec.shuffle_read_mb": "MB", "exec.spill_mb": "MB",
    "exec.cached_mb": "MB", "exec.skew": "ratio", "exec.failed_tasks": "count",
    "sinks.write_s": "s", "sinks.files": "count", "sinks.mb": "MB",
    "streaming.batches": "count", "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s", "streaming.commit_s": "s", "streaming.list_s": "s",
    "streaming.store_mb": "MB", "streaming.rows_in": "count",
    "streaming.rows_kept": "count",
    "trace.overhead_ratio": "ratio",
}

# Which end-to-end metric each layer's figures should move, and where.
LAYER_MOVES = {
    "pipeline": "job_s on ref_etl",
    "sources": "job_s on ref_etl; no change expected on graph_iter",
    "catalog": "job_s on ref_etl",
    "operators": "job_s on graph_iter",
    "derived": "job_s on graph_iter",
    "catalyst": "warm_job_s on graph_iter and ref_etl",
    "codegen": "job_s on every workload, and setup_s",
    "jvm": "job_s on every workload, and setup_s",
    "exec": "warm_job_s and cpu_s on ref_etl and graph_iter; peak_rss_mb through exec.cached_mb",
    "sinks": "job_s on ref_etl; warm_job_s (per-drop latency) on ingest_drops",
    "streaming": "warm_job_s (per-drop latency) on ingest_drops",
    "trace": "nothing: the cost of tracing itself",
}


def fail(msg):
    print(f"etlbench: {msg}", file=sys.stderr)
    sys.exit(2)


def cores():
    return len(os.sched_getaffinity(0))


def heap():
    """Half the box's memory in whole GB, clamped to 2..8 GB: the same
    rule the repository's tier-1 test run uses."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return f"{min(8, max(2, kb // 2097152))}g"


def host_ticks():
    """(steal, total) CPU ticks of the host since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return (ticks[7] if len(ticks) > 7 else 0), sum(ticks)


# -- build ---------------------------------------------------------------

def _sources(root):
    yield os.path.join(root, "build.sbt")
    for top in ("project", os.path.join("src", "main"),
                os.path.join("etlbench", "harness")):
        for d, dirs, files in os.walk(os.path.join(root, top)):
            # build outputs and sbt's meta-meta build are not sources
            dirs[:] = sorted(x for x in dirs if x != "target" and
                             not (x == "project" and os.path.basename(d) == "project"))
            for f in sorted(files):
                if f.endswith((".scala", ".sbt", ".properties", ".java")):
                    yield os.path.join(d, f)


def build(root, state):
    """Compiles the engine and the harness; returns (jvm options, classpath)."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"no {need} here: run from the root of a checkout of the engine")
    h = hashlib.sha256()
    for p in _sources(root):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    out = os.path.join(state, "build")
    launch = os.path.join(out, "launch.txt")
    os.makedirs(out, exist_ok=True)
    stamp_file = os.path.join(out, "stamp")
    if not (os.path.exists(launch) and os.path.exists(stamp_file)
            and open(stamp_file).read() == stamp):
        env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
        # offline, from the local caches only, as the repository's own
        # test run builds
        env["COURSIER_MODE"] = "offline"
        repos = os.path.expanduser("~/.sbt/repositories")
        env["SBT_OPTS"] = " ".join(
            (["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
             if os.path.exists(repos) else []) +
            ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"])
        harness = os.path.join(root, "etlbench", "harness")
        with open(os.path.join(out, "sbt.log"), "w") as log:
            rc = _run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                      BUILD_TIMEOUT_S, cwd=harness, env=env, stdout=log,
                      stderr=subprocess.STDOUT)
        if rc != 0:
            with open(os.path.join(out, "sbt.log")) as log:
                sys.stderr.write("".join(log.readlines()[-40:]))
            fail(f"build failed (sbt exit {rc})")
        shutil.copy(os.path.join(harness, "target", "launch.txt"), launch)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    opts, cp = [], []
    with open(launch) as f:
        for line in f:
            kind, _, value = line.rstrip("\n").partition(" ")
            (opts if kind == "opt" else cp).append(value)
    return opts, os.pathsep.join(cp)


_live = set()


def _run(cmd, timeout, **kw):
    """Runs `cmd` in its own process group and waits for it. On timeout,
    or when this process is told to stop, the whole group is killed and
    still waited for. Returns the exit code (None on timeout)."""
    p = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, start_new_session=True, **kw)
    _live.add(p)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        _kill(p)
        return None
    finally:
        _live.discard(p)


def _kill(p):
    try:
        os.killpg(p.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    p.wait()


def _stop(signum, _frame):
    for p in list(_live):
        _kill(p)
    sys.exit(128 + signum)


# -- inputs --------------------------------------------------------------

def inputs(state, workload, seed):
    d = os.path.join(state, "inputs", f"{workload}-s{seed}-v{gen.VERSION}")
    meta = os.path.join(d, "inputs.json")
    if not os.path.exists(meta):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(os.path.dirname(d), exist_ok=True)
        tmp = tempfile.mkdtemp(prefix=".gen-", dir=os.path.dirname(d))
        info = gen.generate(workload, seed, tmp)
        with open(os.path.join(tmp, "inputs.json"), "w") as f:
            f.write(stats.dumps(info))
        os.replace(tmp, d)
    with open(meta) as f:
        return d, json.load(f)


# -- one JVM -------------------------------------------------------------

class Jvm:
    """What one harness JVM printed."""

    def __init__(self):
        self.setup_s = None
        self.jobs = []          # (rep, wall_s, cpu_s)
        self.outs = {}          # rep -> committed output path
        self.layers = {}
        self.trace_complete = None
        self.peak_rss_mb = None
        self.rc = None
        self.oracle_sql = None


def run_jvm(launch, state, workload, in_dir, reps, trace, deadline):
    opts, cp = launch
    work = tempfile.mkdtemp(prefix=f"{workload}-", dir=os.path.join(state, "runs"))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    cmd = (["java", f"-Xmx{heap()}", f"-Djava.io.tmpdir={tmp}"] + opts +
           ["-cp", cp, "etlbench.Harness", workload, in_dir, str(cores()), str(reps), str(trace)])
    r = Jvm()
    with open(os.path.join(work, "stdout.log"), "w") as out, \
            open(os.path.join(work, "stderr.log"), "w") as err:
        r.rc = _run(cmd, max(1.0, deadline - time.monotonic()),
                    cwd=work, env=env, stdout=out, stderr=err)
    with open(os.path.join(work, "stdout.log")) as f:
        for line in f:
            parts = line.split()
            if len(parts) < 3 or parts[0] != "PB":
                continue
            key, vals = parts[1], parts[2:]
            if key == "setup_s":
                r.setup_s = float(vals[0])
            elif key == "job":
                r.jobs.append((int(vals[0]), float(vals[1]), float(vals[2])))
            elif key == "out":
                r.outs[int(vals[0])] = vals[1]
            elif key == "layer":
                r.layers[vals[0]] = float(vals[1])
            elif key == "trace_complete":
                r.trace_complete = vals[0] == "1"
            elif key == "peak_rss_mb":
                r.peak_rss_mb = float(vals[0])
    sql = os.path.join(work, "oracle.sql")
    if os.path.exists(sql):
        with open(sql) as f:
            r.oracle_sql = f.read()
    if r.rc != 0:
        with open(os.path.join(work, "stderr.log")) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        print(f"etlbench: JVM exit {r.rc}", file=sys.stderr)
    return r, work


def check(workload, in_dir, r, ops, planned):
    """Counts `planned` ops for this JVM and the ones that failed:
    reps that never reported, and reps whose output missed the oracle."""
    errors = planned - len(r.jobs)
    mismatches = 0
    try:
        if workload == "ingest_drops":
            if r.jobs:
                exp = oracle.expected(workload, in_dir, n_drops=len(r.jobs))
                why = oracle.mismatch(exp, oracle.actual(workload, r.outs[r.jobs[-1][0]], exp))
                if why:
                    # one check covers every drop this JVM ingested
                    print(f"etlbench: oracle mismatch: {why}", file=sys.stderr)
                    mismatches = len(r.jobs)
        else:
            for rep, _, _ in r.jobs:
                exp = oracle.expected(workload, in_dir, r.oracle_sql)
                why = oracle.mismatch(exp, oracle.actual(workload, r.outs[rep], exp))
                if why:
                    print(f"etlbench: oracle mismatch in rep {rep}: {why}", file=sys.stderr)
                    mismatches += 1
    except Exception as e:  # an unreadable output is a mismatch, not a crash
        print(f"etlbench: output check failed: {e!r}", file=sys.stderr)
        mismatches = len(r.jobs)
    ops.add(planned, errors=errors, mismatches=mismatches)


# -- metrics -------------------------------------------------------------

def summarise(workload, jvms, setups):
    """End-to-end figures over the job JVMs and every set-up sample:
    {name: {value, unit, samples, tail_percentile, tail, values}}.
    Peak RSS comes from the JVMs that ran every rep."""
    done = [j for j in jvms if j.jobs and j.jobs[0][0] == 0 and j.setup_s is not None]
    if not done:
        fail("no JVM completed its cold job")
    cold = [j.jobs[0] for j in done]
    warm = [w for j in done for (rep, w, _) in j.jobs if rep > 0]
    out = {
        "setup_s": setups,
        "job_s": [w for (_, w, _) in cold],
        "warm_job_s": warm,
        "cpu_s": [c for (_, _, c) in cold],
        "peak_rss_mb": [j.peak_rss_mb for j in done
                        if j.peak_rss_mb and len(j.jobs) == max(len(d.jobs) for d in done)],
    }
    if workload == "ingest_drops":
        drops = [w for j in done for (_, w, _) in j.jobs]
        out["ingest_p50_s"] = drops
        out["ingest_tail_s"] = drops
    units = dict(END_TO_END, peak_rss_mb="MB", ingest_p50_s="s", ingest_tail_s="s")
    res = {}
    for k, vals in out.items():
        p, t = stats.tail(vals)
        v = t if k == "ingest_tail_s" else stats.median(vals)
        if v is None:
            continue
        res[k] = {"value": v, "unit": units[k], "samples": len(vals),
                  "tail_percentile": p, "tail": t, "values": vals}
    return res


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    signal.signal(signal.SIGTERM, _stop)
    signal.signal(signal.SIGINT, _stop)

    root = os.getcwd()
    state = os.path.join(root, ".etlbench")
    launch = build(root, state)
    in_dir, info = inputs(state, a.workload, a.seed)
    os.makedirs(os.path.join(state, "runs"), exist_ok=True)

    ops = stats.Ops()
    reps = 1 + WARM_REPS[a.workload]
    jvms, setups = [], []

    def launch_jvm(n, trace=0):
        r, work = run_jvm(launch, state, a.workload, in_dir, n, trace, t0 + RUN_LIMIT_S)
        if r.setup_s is not None:
            setups.append(r.setup_s)
        if n:
            check(a.workload, in_dir, r, ops, n)
        elif r.rc != 0:
            ops.add(1, errors=1)
        shutil.rmtree(work, ignore_errors=True)
        return r

    t0 = time.monotonic()
    ticks0 = host_ticks()
    if a.trace:
        # the untraced cold job is the base of trace.overhead_ratio; a
        # traced batch job needs only its cold rep, ingest traces every drop
        jvms.append(launch_jvm(1))
        traced = launch_jvm(reps if a.workload == "ingest_drops" else 1, trace=1)
        if not traced.trace_complete:
            print("etlbench: listener bus did not drain; traced run invalid",
                  file=sys.stderr)
            ops.add(0, errors=1)
    else:
        first = launch_jvm(reps)
        jvms.append(first)
        # a cold-only JVM costs about the first one less its warm reps
        est = time.monotonic() - t0 - sum(w for rep, w, _ in first.jobs if rep > 0)

        def in_time(limit):
            return time.monotonic() + est <= t0 + limit

        while in_time(RUN_LIMIT_S) and (len(jvms) < MIN_COLD or in_time(a.seconds)):
            jvms.append(launch_jvm(1))
        while len(setups) < SETUPS and in_time(RUN_LIMIT_S):
            launch_jvm(0)

    ticks1 = host_ticks()
    e2e = summarise(a.workload, jvms, setups)
    detail = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "cores": cores(), "heap": heap(), "job_jvms": len(jvms),
              "setup_samples": len(setups), "reps_per_jvm": reps, "inputs": info,
              "attempted": ops.attempted, "failed": ops.failed,
              "fail_ratio": stats.fail_ratio(ops.attempted, ops.failed),
              # CPU time the hypervisor gave to other guests while this run
              # measured: a high share marks figures taken on a busy host
              "host_steal_share": (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1]),
              "end_to_end": e2e}
    if a.trace:
        layers = traced.layers
        if traced.jobs:
            detail["traced_job_s"] = traced.jobs[0][1]
            layers["trace.overhead_ratio"] = traced.jobs[0][1] / e2e["job_s"]["value"]
        # a layer none of whose figures moved was idle on this workload
        busy = {k.split(".")[0] for k, v in layers.items() if v}
        detail["per_layer"] = {
            k: {"value": layers.get(k, 0.0) if k.split(".")[0] in busy else "n/a",
                "unit": u, "moves": LAYER_MOVES[k.split(".")[0]]}
            for k, u in PER_LAYER.items()}
        metrics = {k: (layers.get(k, 0.0), u) for k, u in PER_LAYER.items()}
    else:
        missing = [k for k in END_TO_END if k not in e2e]
        if missing:
            print(stats.dumps(detail))
            fail(f"no samples of {', '.join(missing)}")
        metrics = {k: (e2e[k]["value"], u) for k, u in END_TO_END.items()}
    print(stats.dumps(detail))
    print(stats.result_line(ops.failed == 0, ops, metrics))


if __name__ == "__main__":
    main()
