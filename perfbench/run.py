#!/usr/bin/env python3
"""Benchmark of the graft engine, driven from outside the engine.

Run from the repository root:

    python3 perfbench/run.py --workload short-queries --seed 1 --seconds 20 --trace 0

It builds the engine's sources together with the JVM harness in
perfbench/src (sbt, offline; rebuilt whenever a source changes), runs one
workload against the sf0.1 tables in perfbench/data, checks every output
of the last steady pass against the fingerprints in perfbench/pins.json, and
prints two JSON lines: a report (seed, every pass total, sample counts,
failures), then the result line. With --trace 0 the result carries the
end-to-end metrics; with --trace 1 the per-layer metrics, and the spans go
to .bench_out/. Self-tests of the arithmetic: python3 perfbench/selftest.py
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import metrics

BENCH = os.path.dirname(os.path.abspath(__file__))

# Sequential closed loop, one client. Each steady pass runs the whole list
# once in an order drawn from the seed. The lists are fixed subsets, sized
# so that a run (setup, cold pass, two steady passes and the output check)
# takes about a minute on 4 cores.
WORKLOADS = {
    # The per-query floor: every SQL-text query loads all 10 tables through
    # Tables.registerViews (one schema-inference job each), and q32 is the
    # scan-project-sort floor of a DataFrame query over one table.
    "short-queries": [
        "q32_scalar_funcs", "q146_sql_dedup", "q147_sql_funnel", "q148_sql_drift",
        "q149_sql_sessionize", "q153_sql_ann", "q154_sql_star_join", "q167_sql_bm25",
    ],
    # Executor work, many actions per query and micro-batch commits: a
    # SeqForward RTRL trainer, the irlsLoop fanOut site and a stateful
    # streaming sketch.
    "heavy-pipelines": ["q420_rnn_rtrl_train", "q189_irls_logistic", "q221_stream_cms"],
}

# Steady passes per --seconds of measurement; at least two, as one pass
# spreads twice as much from run to run.
NOMINAL_PASS_S = 10.0
HEAP = ["-Xms3g", "-Xmx3g"]
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=1):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def run_process(cmd, cwd, env, log_path, timeout):
    """Run cmd in its own process group, logging to log_path; on timeout
    kill the whole group and wait for it."""
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            return proc.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None


def source_stamp(root):
    h = hashlib.sha256()
    dirs = [os.path.join(root, "src", "main", "scala"), os.path.join(root, "project"),
            os.path.join(BENCH, "src"), os.path.join(BENCH, "project")]
    files = [os.path.join(root, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for d in dirs:
        for base, subdirs, names in os.walk(d):
            subdirs[:] = sorted(x for x in subdirs if x not in ("target", "project"))
            files += [os.path.join(base, n) for n in names
                      if n.endswith((".scala", ".sbt", ".properties"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root, build_dir, deadline):
    """Compile engine + harness with sbt unless the last build used the same
    sources; returns the runtime classpath."""
    stamp = source_stamp(root)
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp_file = os.path.join(build_dir, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt is not on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true", "-Xmx3g"]
    if os.path.exists(repos):
        opts.append("-Dsbt.repository.config=" + repos)
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(build_dir, "build.log")
    rc = run_process([sbt, "--batch", "-Dsbt.log.noformat=true", "compile",
                      "export Runtime/fullClasspath"], BENCH, env, log, deadline - time.time())
    with open(log) as f:
        lines = f.read().splitlines()
    cp = [ln for ln in lines if "perfbench" in ln and ln.endswith(".jar") and ":" in ln]
    if rc != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed (log: %s)" % log)
    with open(cp_file, "w") as f:
        f.write(cp[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.time()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the repository root: the engine's sources (src/main/scala/graft) "
             "are not here", code=2)
    data = os.path.join(BENCH, "data", "sf0.1")
    pins_path = os.path.join(BENCH, "pins.json")
    build_dir = os.path.join(root, ".bench_build", "perfbench")
    out_dir = os.path.join(root, ".bench_out")
    tmp = os.path.join(out_dir, "tmp")
    os.makedirs(build_dir, exist_ok=True)
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)

    cp = build(root, build_dir, started + 840)
    built = time.time()

    steady = max(2, round(args.seconds / NOMINAL_PASS_S))
    cores = min(4, len(os.sched_getaffinity(0)))
    tag = "%s-seed%d-trace%d" % (args.workload, args.seed, args.trace)
    raw_path = os.path.join(out_dir, tag + ".raw.json")
    if os.path.exists(raw_path):
        os.remove(raw_path)
    java = shutil.which("java") or os.path.join(os.environ.get("JAVA_HOME", ""), "bin", "java")
    cmd = [java] + [x for p in JDK_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] + [
        *HEAP, "-Djava.io.tmpdir=" + tmp, "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "perfbench.Harness",
        "--data", data, "--out", raw_path, "--queries", ",".join(WORKLOADS[args.workload]),
        "--cores", str(cores), "--seed", str(args.seed), "--steady", str(steady),
        "--trace", str(args.trace)]
    env = dict(os.environ, GRAFT_TMP_ROOT=tmp)
    for k in ("SPARK_GRAFT_CATALOG", "SPARK_LOCAL_DIRS", "SPARK_CONF_DIR"):
        env.pop(k, None)
    log = os.path.join(out_dir, tag + ".log")
    rc = run_process(cmd, root, env, log, 170 - (time.time() - built))
    shutil.rmtree(tmp, ignore_errors=True)
    if rc != 0 or not os.path.exists(raw_path):
        fail("harness %s (log: %s)" % ("timed out" if rc is None else "exited %s" % rc, log))
    with open(raw_path) as f:
        raw = json.load(f)
    with open(pins_path) as f:
        pins = {q: v["fp"] for q, v in json.load(f)["queries"].items()}

    attempted, failures = metrics.check_outputs(raw, pins)
    report = {"workload": args.workload, "trace": args.trace, "attempted": attempted,
              "failed": len(failures), "failed_frac": len(failures) / attempted,
              "failures": failures[:20]}
    # The tracing overhead compares this run with the untraced runs of the
    # same workload made earlier in this checkout.
    untraced_path = os.path.join(out_dir, args.workload + ".untraced_pass_s.json")
    untraced = []
    if os.path.exists(untraced_path):
        with open(untraced_path) as f:
            untraced = json.load(f)
    if args.trace:
        values, spans, remainder = metrics.per_layer(raw, untraced)
        report["trace_overhead_basis_runs"] = len(untraced)
        trace_path = os.path.join(out_dir, tag + ".trace.json")
        with open(trace_path, "w") as f:
            json.dump({"seed": args.seed, "workload": args.workload, "spans": spans,
                       "unattributed_ms": remainder}, f)
        report["trace_file"] = os.path.relpath(trace_path, root)
        report["spans"] = len(spans)
    else:
        values, e2e = metrics.end_to_end(raw)
        report.update(e2e)
        with open(untraced_path, "w") as f:
            json.dump((untraced + [values["pass_s"][0]])[-20:], f)
    print(json.dumps({"report": report}))
    print(json.dumps({
        "correct": not failures, "attempted": attempted, "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(values.items())}}))


if __name__ == "__main__":
    main()
