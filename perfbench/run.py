#!/usr/bin/env python3
"""Replication benchmark runner.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload stream_ops --seed 1 --seconds 16 --trace 0

Builds the program and the benchmark from source with sbt on first use (the
classpath is cached under perfbench/target, keyed by a hash of every source
and build file), then runs one workload in a fresh JVM and prints one JSON
object as the last line of standard output. With --trace 0 it carries every
end-to-end metric named in BENCHMARK.json; with --trace 1 every per-layer
metric. All run data lives under .perfbench_work/ in the checkout.
"""
import argparse
import ctypes
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
CP_FILE = os.path.join(HERE, "target", "bench-classpath.txt")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Per-layer metrics of layers a workload does not run; a traced run
# reports them as 0. Any other per-layer metric it does not measure fails
# the run.
NOT_EXERCISED = {
    "stream_ops": ("supplier_state.", "backfill.", "augment.", "sink.validation_ms",
                   "timetravel_s", "timetravel.rows_as_of_s", "timetravel.incremental_s",
                   "timetravel.scd2_s", "timetravel.snapshot_diff_s", "library_s",
                   "passes", "operators."),
    "batch_mix": ("sources.read_ms", "sources.frontier_ms", "sources.log_lines",
                  "sources.backlog_events", "gen.late_ms", "checkpoint.restore_s",
                  "lag_miss_frac", "lag.", "catchup.", "scaling."),
}

# Spark 4 on JDK 17 outside spark-submit needs these (the root build passes
# the same list to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def die_with_parent():
    """Runs in the child before exec: SIGKILL it when this runner dies."""
    try:
        ctypes.CDLL("libc.so.6", use_errno=True).prctl(1, signal.SIGKILL)  # PR_SET_PDEATHSIG
    except OSError:
        pass


def source_hash():
    h = hashlib.sha256(ROOT.encode())
    for top in ("src/main", "project", "perfbench/src", "perfbench/project"):
        base = os.path.join(ROOT, top)
        for d, dirs, files in sorted(os.walk(base)):
            dirs[:] = sorted(x for x in dirs if x != "target")
            for f in sorted(files):
                if f.endswith((".scala", ".java", ".sbt", ".properties")):
                    p = os.path.join(d, f)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    for f in ("build.sbt", "perfbench/build.sbt"):
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    # keep the build's scratch files inside the checkout. sbt puts its boot
    # socket under the temp dir; in a deep checkout that path is longer than
    # a unix socket name may be, so let it boot without the socket.
    tmp = os.path.join(WORK, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    env["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    env["SBT_OPTS"] += (f" -Djava.io.tmpdir={tmp} -Djna.tmpdir={tmp}"
                        f" -Dsbt.server.forcestart=true -Dsbt.boot.lock=false"
                        f" -Dsbt.ivy.home={os.path.join(WORK, 'ivy2')}")
    return env


def classpath():
    """Compile program + benchmark if the sources changed; return the
    runtime classpath."""
    digest = source_hash()
    if os.path.exists(CP_FILE):
        with open(CP_FILE) as fh:
            stamp, cp = fh.read().split("\n", 1)
        if stamp == digest:
            return cp.strip()
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt not found on PATH")
    t0 = time.time()
    proc = subprocess.run(
        [sbt, "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        fail(f"build failed (exit {proc.returncode})")
    lines = [l for l in proc.stdout.splitlines() if "scala-2.13/classes" in l and ":" in l]
    if not lines:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build printed no classpath")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(CP_FILE), exist_ok=True)
    with open(CP_FILE, "w") as fh:
        fh.write(digest + "\n" + cp + "\n")
    print(f"[perfbench] built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    bench_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("run from the root of a checkout: build.sbt and src/main/scala/graft are missing")
    with open(bench_file) as fh:
        spec = json.load(fh)
    names = {w["name"] for w in spec["workloads"]}
    if args.workload not in names:
        fail(f"unknown workload {args.workload}; expected one of {sorted(names)}")
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    cp = classpath()
    run_dir = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    out_file = os.path.join(run_dir, "result.json")
    # Spark's task threads take all processors but one, which is left to the
    # driver, the load generator and the JVM's own threads
    cores = max(1, len(os.sched_getaffinity(0)) - 1)
    cmd = (["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--cores", str(cores), "--work", run_dir, "--out", out_file,
              "--record", os.path.join(HERE, "record.json")])
    proc = subprocess.Popen(cmd, cwd=run_dir, stdout=sys.stderr, stderr=sys.stderr,
                            preexec_fn=die_with_parent)
    try:
        rc = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    if rc != 0 or not os.path.exists(out_file):
        shutil.rmtree(run_dir, ignore_errors=True)
        fail(f"benchmark JVM exited with {rc}")
    with open(out_file) as fh:
        res = json.load(fh)
    print("[perfbench] all metrics: " + json.dumps(res, sort_keys=True), file=sys.stderr)
    if args.trace:
        # keep the span log beside the work dir; drop the bulky run data
        trace_dir = os.path.join(WORK, "trace")
        os.makedirs(trace_dir, exist_ok=True)
        spans = os.path.join(run_dir, "spans.jsonl")
        if os.path.exists(spans):
            shutil.move(spans, os.path.join(trace_dir, f"{args.workload}-{args.seed}.spans.jsonl"))
    shutil.rmtree(run_dir, ignore_errors=True)

    got = dict(res["metrics"])
    got["failed_frac"] = res["failed"] / max(1, res["attempted"])
    for m in spec["end_to_end"]:
        # a traced run's end-to-end values; minus the untraced ones, the
        # tracing overhead
        if m["name"] in got:
            got["trace." + m["name"]] = got[m["name"]]
    metrics = {}
    for m in wanted:
        if m["name"] in got:
            metrics[m["name"]] = {"value": got[m["name"]], "unit": m["unit"]}
        elif args.trace and m["name"].startswith(NOT_EXERCISED[args.workload]):
            metrics[m["name"]] = {"value": 0, "unit": m["unit"]}
        else:
            fail(f"metric {m['name']} was not measured")
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
