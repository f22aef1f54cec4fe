#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload feed_catchup_state --seed 1 \
        --seconds 12 --trace 0

The first run builds the program and the harness from source with sbt
(`perfbench/build.sbt`); later runs reuse the build while the sources are
unchanged. Each run starts one JVM at local[N], N = min(4, usable CPUs).
Every metric is printed as `name value unit`; the last line of stdout is
one JSON object with the keys correct, attempted, failed and metrics.
`--trace 1` reports the per-layer metrics instead of the end-to-end ones
and writes the run's spans to .bench_work/traces/. Every run also writes a
stamped result (cpus, seed, scale, git rev, source digest, class-data
archive use, disk MB/s) to .bench_work/results/, named by workload, seed,
trace mode and source digest; compare them with perfbench/compare.py.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
JAR = os.path.join(HERE, "target", "perfbench.jar")
# class-data archive of one pass over every workload: cuts JVM and Spark
# start-up, which otherwise costs more than a run measures
CDS = os.path.join(HERE, "target", "perfbench.jsa")
STAMP = os.path.join(HERE, "target", "perfbench-build.stamp")
# seconds a run may take once the build is done, and a whole invocation,
# build included
RUN_LIMIT_S = 170
TOTAL_LIMIT_S = 890
WORKLOADS = ("feed_catchup_state", "feed_bulk_mysql", "diff_sync_check")

# name -> unit; the order is the print order
END_TO_END = {
    "setup_s": "s",
    "rows_per_s": "rows/s",
    "op_p50_ms": "ms",
    "op_tail_ms": "ms",
    "cpu_s_per_mrow": "s/Mrow",
    "out_mb": "MB",
}
PER_LAYER = {
    "changefeed.source_reread": "ratio",
    "changefeed.jobs_per_batch": "count",
    "changefeed.stages_per_batch": "count",
    "changefeed.add_ms": "ms",
    "changefeed.control_ms": "ms",
    "changefeed.plan_ms": "ms",
    "changefeed.offsets_ms": "ms",
    "changefeed.commit_ms": "ms",
    "sinks.busy_ms": "ms",
    "sinks.write_amp": "ratio",
    "sinks.buckets_per_batch": "count",
    "sinks.bytes_written_mb": "MB",
    "operators.pipeline_ms": "ms",
    "operators.compact_ms": "ms",
    "operators.compact_fold": "ratio",
    "diff.checksum_ms": "ms",
    "diff.bad_chunk_share": "ratio",
    "diff.rowdiff_ms": "ms",
    "diff.rowdiff_hit": "ratio",
    "diff.fixsql_ms": "ms",
    "spark.exec_cpu_s": "s",
    "spark.exec_run_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.tasks": "count",
    "spark.task_skew": "ratio",
    "host.disk_mbps": "MB/s",
    "trace.overhead_ms": "ms",
    "trace.overhead_pct": "%",
}

# Spark 4 on JDK 17 outside spark-submit needs these opens.
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def source_digest():
    """Digest of everything the build compiles."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def java_cmd(jvm_opts, main_args):
    cp = JAR + os.pathsep + os.path.join(os.environ["SPARK_HOME"], "jars", "*")
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    # a fixed heap, so how far the heap has grown does not differ by run
    return cmd + ["-Xms3g", "-Xmx3g"] + jvm_opts + ["-cp", cp, "perfbench.Main"] + main_args


def run_proc(cmd, deadline, stdout):
    """Run cmd in its own process group; kill the group at the deadline."""
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=stdout, stderr=sys.stderr,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(1, deadline - time.time()))
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return proc.returncode, out


def jvm_opts(work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return ["-Djava.io.tmpdir=" + tmp, "-Dderby.system.home=" + tmp]


def build(digest):
    """Build the jar and its class-data archive. The stamp is written only
    when both exist, so a failed archive pass is retried by the next run."""
    if (os.path.exists(STAMP) and os.path.exists(CDS)
            and open(STAMP).read() == digest):
        return
    if os.path.exists(STAMP):
        os.remove(STAMP)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    print("perfbench: building with sbt ...", file=sys.stderr)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "compile", "package"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       timeout=480)
    if r.returncode != 0:
        fail("build failed", 3)
    # record the classes one tiny pass over the workloads loads
    work = os.path.join(WORK, "train-%d" % os.getpid())
    if os.path.exists(CDS):
        os.remove(CDS)
    try:
        code, _ = run_proc(java_cmd(jvm_opts(work) + [
            "-XX:ArchiveClassesAtExit=" + CDS], [
            "--workload", "feed_catchup_state,diff_sync_check", "--seed", "0",
            "--seconds", "0", "--trace", "0", "--scale", "tiny", "--cpus", "1",
            "--work", work,
            "--trace-dir", os.path.join(work, "traces")]),
            time.time() + 180, subprocess.DEVNULL)
    except subprocess.TimeoutExpired:
        code = -1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.exists(CDS):
        if os.path.exists(CDS):
            os.remove(CDS)
        # without the archive, start-up (part of setup_s) would be slower
        # than in a run that has it: refuse rather than measure differently
        fail("class-data archive pass failed (code %d)" % code, 3)
    with open(STAMP, "w") as f:
        f.write(digest)


def cpu_ticks():
    """(steal, total) CPU ticks of the machine since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    # guest and guest_nice (fields 9 and 10) are already counted in user
    return ticks[7], sum(ticks[:8])


def git_rev():
    """HEAD, marked +dirty when tracked files differ from it; None in a
    checkout without git history (the source digest still names it)."""
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                       capture_output=True, text=True)
    if r.returncode != 0:
        return None
    d = subprocess.run(["git", "-C", ROOT, "status", "--porcelain",
                        "--untracked-files=no"], capture_output=True, text=True)
    return r.stdout.strip() + ("+dirty" if d.stdout.strip() else "")


def run_jvm(args, work, cpus, deadline):
    opts = jvm_opts(work) + ["-XX:SharedArchiveFile=" + CDS]
    main_args = [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--scale", args.scale, "--cpus", str(cpus), "--work", work,
        "--trace-dir", os.path.join(WORK, "traces")]
    if args.defect:
        main_args += ["--defect", args.defect]
    try:
        code, out = run_proc(java_cmd(opts, main_args), deadline,
                             subprocess.PIPE)
    except subprocess.TimeoutExpired:
        fail("run exceeded its time limit", 4)
    if code != 0:
        fail("benchmark JVM exited with code %d" % code, 5)
    lines = [l for l in out.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if not lines:
        fail("benchmark JVM printed no result", 5)
    # the JVM warns on stdout when it cannot map the archive, and then
    # starts slower
    cds = not any("[warning][cds" in l for l in out.splitlines())
    return json.loads(lines[-1][len("PERFBENCH_RESULT "):]), cds


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("standard", "tiny"), default="standard")
    ap.add_argument("--defect", choices=("skip_batch",),
                    help="plant a defect (a feed sink that drops batch 1, a "
                         "sync check that loses one difference)")
    args = ap.parse_args()
    started = time.time()
    # a terminated run still stops its JVM (run_proc kills it on exit)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no program sources at src/main/scala/graft; run from the "
             "root of a full checkout")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME must point at a Spark 4 installation")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")

    digest = source_digest()
    build(digest)
    cpus = max(1, min(4, len(os.sched_getaffinity(0))))
    work = os.path.join(WORK, "run-%s-%d-%d" % (args.workload, args.seed,
                                                os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    # start from clean page cache writeback: the previous run's files
    # would otherwise be flushed (and their deletes discarded) mid-run
    os.sync()
    try:
        deadline = min(time.time() + RUN_LIMIT_S, started + TOTAL_LIMIT_S)
        ticks0 = cpu_ticks()
        res, cds = run_jvm(args, work, cpus, deadline)
        ticks1 = cpu_ticks()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        os.sync()

    stamp = {"workload": args.workload, "seed": args.seed, "scale": args.scale,
             "cpus": res["cpus"], "git_rev": git_rev(),
             "src_digest": digest[:16], "cds": cds,
             "host.disk_mbps": res["host.disk_mbps"], "trace": args.trace,
             # share of CPU time a hypervisor gave to other guests during
             # the run: on a shared host, wall times rise with it
             "host_steal_pct": round(100.0 * (ticks1[0] - ticks0[0]) /
                                     max(1, ticks1[1] - ticks0[1]), 1),
             "seconds": args.seconds}
    if args.trace:
        names, values = PER_LAYER, res["layers"]
    else:
        names, values = END_TO_END, res["metrics"]
    metrics = {}
    for name, unit in names.items():
        v = values.get(name)
        note = ""
        if v is None:
            v = 0.0
            note = "  (absent: %s)" % res["absent"].get(name, "not measured")
        metrics[name] = {"value": v, "unit": unit}
        print("%s %r %s%s" % (name, v, unit, note))
    print("error_rate %r ratio" % res["error_rate"])
    print("ops %d (tail is p%.1f over %d rounds)" % (
        res["ops"], res["tail_percentile"], res["rounds"]))
    print("round_s " + " ".join("%.2f" % s for s in res["round_s"]))
    print("check %s: %s" % ("ok" if res["correct"] else "FAILED",
                            "; ".join(res["check"]) or "no output checked"))
    for e in res["errors"]:
        print("error %s" % e)
    print("stamp " + " ".join("%s=%s" % kv for kv in sorted(stamp.items())))
    if res["trace_file"]:
        print("trace %s" % os.path.relpath(res["trace_file"], ROOT))

    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    out = os.path.join(WORK, "results", "%s-seed%d-trace%d-%s.json" % (
        args.workload, args.seed, args.trace, digest[:12]))
    with open(out, "w") as f:
        json.dump({"stamp": stamp, "result": res, "metrics": metrics}, f,
                  indent=1, sort_keys=True)
    print("result %s" % os.path.relpath(out, ROOT))
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
