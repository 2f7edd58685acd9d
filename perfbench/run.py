#!/usr/bin/env python3
"""Graph-engine benchmark: one workload per call, each in its own JVM.

    python3 perfbench/run.py --workload graph-small --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload all          # every workload, one after another

Run from the repository root. The first call builds the engine and the
harness with sbt into the checkout (`target/`, `perfbench/target/`);
later calls reuse the build while the sources are unchanged. Inputs are
generated from the seed into `.bench_build/data/`, and each run leaves its
record, the outputs it checked and (traced) its spans under
`.bench_build/runs/`.

Prints one line per metric with its unit, then, as the last line, one JSON
object {"correct", "attempted", "failed", "metrics"}: the end-to-end
metrics of BENCHMARK.json with --trace 0, the per-layer ones with
--trace 1. See perfbench/README.md for what each workload and metric is.
"""
import argparse
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

import checks
import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")

# tables each workload reads, generated at scale factor sf; how many times
# in a row a timed pass issues each operator (reps); the nominal wall of
# one timed pass on 4 vCPUs. A run times round(--seconds / pass_s) passes
# (at least one): counts fixed before the run, so a faster program gets no
# more or warmer passes than a slower one. At sf 0.05 the part co-order
# graph (minShared = 2) has ~4.9k vertices and ~3.5k edges in components
# of at most ~45 vertices, like the sf 0.1 reference data, at half the
# set-up cost. A graph-small call runs tens of rounds of the same loop and
# so warms itself; a tables-oneshot call takes ~0.6 s, and one execution
# of each after the checking pass spread 0.2-0.3 (IQR / median) over
# seeds, so each is issued twice in a row and its mean wall taken
# (perfbench/README.md, "Steadiness").
WORKLOADS = {
    "graph-small": {"sf": 0.05, "reps": 1, "pass_s": 15, "tables": ["lineitem"]},
    "tables-oneshot": {"sf": 0.05, "reps": 2, "pass_s": 16, "tables": [
        "lineitem", "orders", "customer", "nation", "documents", "embeddings", "events"]},
}
SETUP_REPS = 3
# ParallelGC, not the JDK's default G1: Spark's 1 MB+ buffers are
# humongous objects to G1 (1 MB regions at this heap), each starting a
# concurrent mark cycle (~150 a run) whose threads take CPU from four
# vCPUs; with G1 a graph-small pass took 12-17 s and 36-54 CPU s, with
# ParallelGC 9.5-11.6 s and 26-32 CPU s (same seed, runs alternated).
JVM_OPTS = ["-Xmx3g", "-XX:+UseParallelGC"]
DEADLINE_S = 170  # every run must end within 180 s

# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of everything the build compiles, so a stale build is rebuilt."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(deadline):
    """sbt build of engine + harness; returns the runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found under {ROOT}: run from a checkout of the repository")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")
    digest = source_digest()
    stamp = os.path.join(BUILD, "build.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            st = json.load(f)
        if st.get("digest") == digest:
            return st["classpath"], digest
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") +
                       " -Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g").strip()
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as lf:
        rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=HERE, env=env,
                       stdout=lf, timeout=deadline - time.time())
    lines = open(log).read().splitlines()
    cp = [ln for ln in lines if "perfbench" in ln and ln.count(os.pathsep) > 2]
    if rc != 0 or not cp:
        fail(f"build failed (exit {rc}), see {log}")
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": cp[-1].strip()}, f)
    return cp[-1].strip(), digest


def run_child(cmd, timeout, **kw):
    """Runs `cmd` in its own process group; kills the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, stderr=subprocess.STDOUT, **kw)
    try:
        return p.wait(timeout=max(1.0, timeout))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} did not finish within {timeout:.0f} s")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def data_dir(workload, seed):
    sf, tables = WORKLOADS[workload]["sf"], WORKLOADS[workload]["tables"]
    d = os.path.join(BUILD, "data", f"sf{sf}-seed{seed}")
    missing = [t for t in tables if not os.path.exists(os.path.join(d, f"{t}.parquet"))]
    if missing:
        gen.generate(d, seed, sf, missing)
    return d


def git_sha():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def median(xs):
    return statistics.median(xs) if xs else 0.0


def quartiles(xs):
    return statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3


def run_workload(workload, seed, seconds, trace, deadline):
    t0 = time.time()
    cp, digest = build(deadline)
    t1 = time.time()
    data = data_dir(workload, seed)
    t_gen = time.time()
    n_passes = max(1, round(seconds / WORKLOADS[workload]["pass_s"]))
    out = os.path.join(BUILD, "runs", f"{workload}-seed{seed}-trace{trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "tmp"))
    cores = len(os.sched_getaffinity(0))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, *JVM_OPTS, f"-Djava.io.tmpdir={out}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.GraftBench", workload, data, out, str(seed),
            str(WORKLOADS[workload]["reps"]), str(n_passes), str(trace), str(cores),
            str(SETUP_REPS)]
    with open(os.path.join(out, "jvm.log"), "w") as lf:
        rc = run_child(cmd, cwd=ROOT, stdout=lf, timeout=deadline - time.time())
    rec_path = os.path.join(out, "record.json")
    if rc != 0 or not os.path.exists(rec_path):
        fail(f"{workload}: engine process failed (exit {rc}), see {out}/jvm.log")
    with open(rec_path) as f:
        rec = json.load(f)
    t2 = time.time()

    # ---- output checks (untimed), once per process
    check = os.path.join(out, "check")
    ok_ops = [c["op"] for c in rec["calls"] if c["pass"] < 0 and c["error"] is None]
    verdict = checks.oracle(data, check, ok_ops)
    mismatches = {k: v for k, v in verdict.items() if v is not None}
    errors = [f"{c['op']} (pass {c['pass']}): {c['error']}"
              for c in rec["calls"] if c["error"] is not None]
    attempted = len(rec["calls"])
    failed = len(errors) + len(mismatches)
    phases = {"build": t1 - t0, "generate": t_gen - t1, "engine": t2 - t_gen,
              "check": time.time() - t2}
    phases.update({f"engine.{k}": v for k, v in rec["phase_s"].items()})

    # a timed pass issues each operator `reps` times in a row: one pass
    # over the operator list costs the pass's sum over `reps`
    reps = rec["reps"]
    timed = [c for c in rec["calls"] if c["pass"] >= 0]
    untraced = [c for c in timed if not c["traced"]]
    passes = {}
    for c in untraced:
        p = passes.setdefault(c["pass"], [0.0, 0.0])
        p[0] += c["wall_s"] / reps
        p[1] += c["cpu_s"] / reps
    walls = [w for w, _ in passes.values()]
    per_op = {}
    for c in untraced:
        per_op.setdefault(c["op"], []).append(c["wall_s"])
    values = {
        "setup_s": median([s["total_s"] for s in rec["setups"]]),
        "pass_s": median(walls),
        "query_geomean_s": math.exp(statistics.fmean(
            math.log(max(statistics.fmean(v), 1e-9)) for v in per_op.values())),
        "cpu_s": median([c for _, c in passes.values()]),
        "peak_rss_mb": rec["peak_rss_mb"],
        "failed_frac": failed / attempted,
    }
    values.update(rec["per_layer"] or {})
    run = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
        "git_sha": git_sha(), "source_digest": digest, "nproc": cores,
        "java_version": rec["java_version"], "spark_version": rec["spark_version"],
        "scala_version": rec["scala_version"], "session_configs": rec["session_configs"],
        "jvm_options": JVM_OPTS, "sf": WORKLOADS[workload]["sf"], "setup_reps": rec["setup_reps"],
        "reps": reps, "passes": len(walls),
        "pass_s_quartiles": quartiles(walls) if walls else None,
        "phase_s": phases, "setups": rec["setups"], "failed_calls": errors, "mismatches": mismatches,
        "values": values,
    }
    with open(os.path.join(out, "result.json"), "w") as f:
        json.dump(run, f, indent=1)
    return run, attempted, failed


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    bench_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bench_path):
        fail("BENCHMARK.json not found: run from the repository root")
    with open(bench_path) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    names = sorted(WORKLOADS) if a.workload == "all" else [a.workload]
    start = time.time()
    results = []
    for wl in names:
        # the first call in a fresh checkout also builds
        deadline = time.time() + DEADLINE_S + (0 if os.path.exists(
            os.path.join(BUILD, "build.json")) else 700)
        results.append(run_workload(wl, a.seed, a.seconds, a.trace, deadline))
    metrics = {}
    for run, _, _ in results:
        v = run["values"]
        prefix = f"{run['workload']}." if a.workload == "all" else ""
        for m in wanted:
            # operators outside this workload never ran: 0 calls, 0 cost
            val = v.get(m["name"], 0.0 if m["name"].startswith("op.") else None)
            if val is None:
                fail(f"{run['workload']}: metric {m['name']} was not measured")
            metrics[prefix + m["name"]] = {"value": val, "unit": m["unit"]}
        q = run["pass_s_quartiles"]
        print(f"# {run['workload']} seed={run['seed']} passes={run['passes']} "
              f"pass_s quartiles={[round(x, 3) for x in q] if q else None} "
              f"phase_s={ {k: round(x, 1) for k, x in run['phase_s'].items()} } "
              f"failed_calls={len(run['failed_calls'])} mismatches={run['mismatches']}")
    for k, m in metrics.items():
        print(f"{k:40s} {m['value']:14.6f} {m['unit']}")
    attempted = sum(r[1] for r in results)
    failed = sum(r[2] for r in results)
    print(f"# output check: {'PASS' if failed == 0 else 'FAIL'} "
          f"({failed} of {attempted} calls failed or mismatched), "
          f"{time.time() - start:.1f} s")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
