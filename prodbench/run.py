#!/usr/bin/env python3
"""Product-path benchmark: builds the program from source, generates a
seeded workload, drives it in one JVM and prints the result.

    python3 prodbench/run.py --workload etl_glob --seed 1 --seconds 15 --trace 0

Run it from the root of a checkout. The last line of standard output is
one JSON object: {"correct", "attempted", "failed", "metrics"}; the lines
before it name every metric with its unit, the host facts and the input
hash. --trace 1 prints the per-layer metrics instead of the end-to-end
ones and writes the spans to prodbench/out/. Exits non-zero when an
output check fails, an operation fails, or the program cannot be built.

    python3 prodbench/run.py --selftest

shows that every output check fails on a deliberately perturbed output.
See prodbench/README.md.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402

BUILD_BUDGET_S = 890.0
RUN_BUDGET_S = 175.0
TARGET = os.path.join(HERE, "target")
OUT = os.path.join(HERE, "out")
WORKLOADS = ["etl_glob", "etl_batch", "index_ingest"]

# the metrics BENCHMARK.json gates; peak_rss_mb, wrong_results and
# failed_frac are printed too, but the result line carries the last two
# as "correct" and "failed", and peak RSS varies too much between runs
# to be bounded; files_per_s is printed for etl_batch only, which is not
# gated (README.md)
END_TO_END = [("setup_s", "s"), ("wall_s", "s"), ("rows_per_s", "rows/s")]
PER_LAYER = [
    ("pipeline.summary_s", "s"), ("pipeline.valid_sink_s", "s"),
    ("pipeline.error_sink_s", "s"), ("pipeline.driver_s", "s"),
    ("pipeline.archive_s", "s"), ("pipeline.jobs_per_run", "count"),
    ("pipeline.stages_per_run", "count"), ("pipeline.tasks_per_run", "count"),
    ("scan.passes", "ratio"), ("scan.input_bytes", "bytes"),
    ("shuffle.write_bytes", "bytes"), ("shuffle.read_bytes", "bytes"),
    ("spill_bytes", "bytes"), ("cache.bytes", "bytes"),
    ("executor.cpu_s", "s"), ("executor.gc_s", "s"), ("executor.busy_frac", "ratio"),
    ("sink.valid_rows", "count"), ("sink.error_rows", "count"),
    ("sink.bytes_per_input_byte", "ratio"), ("index.build_s", "s"),
    ("fold.dedup.step_s", "s"), ("fold.pq.step_s", "s"),
    ("fold.stream_overhead_s", "s"), ("fold.dedup.jobs_per_batch", "count"),
    ("fold.pq.jobs_per_batch", "count"), ("fold.dedup.novel_frac", "ratio"),
    ("index.bytes_per_row", "bytes"), ("trace.wall_s", "s"),
    ("trace.overhead_frac", "ratio"),
]

# added to the program build's javaOptions: keeps HotSpot's perf-counter
# file out of the system temp directory, so a run writes only inside its
# checkout
EXTRA_JVM_OPTS = ["-XX:+PerfDisableSharedMem"]


class BenchError(Exception):
    pass


def log(msg):
    print("[prodbench] " + msg, file=sys.stderr, flush=True)


def tree_files(path):
    if os.path.isfile(path):
        yield path
        return
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames.sort()
        for fn in sorted(filenames):
            yield os.path.join(dirpath, fn)


def source_stamp():
    """SHA-256 over the program's and the benchmark's sources and builds."""
    h = hashlib.sha256()
    for p in [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
              os.path.join(ROOT, "project", "build.properties"), os.path.join(HERE, "src"),
              os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]:
        if not os.path.exists(p):
            continue
        for f in tree_files(p):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    # the program build reads it into its -Xmx
    h.update(os.environ.get("SPARK_DRIVER_MEM", "").encode())
    return h.hexdigest()


def build(deadline):
    """Compile with the benchmark's own sbt build unless the sources are
    unchanged since the last build. Returns the runtime classpath, the
    workload JVM's options (the program build's javaOptions plus
    EXTRA_JVM_OPTS), the source stamp and whether it built."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise BenchError("program sources not found under %s/src/main/scala" % ROOT)
    stamp = source_stamp()
    stamp_file = os.path.join(TARGET, "prodbench.stamp")
    cp_file = os.path.join(TARGET, "prodbench.classpath")
    opts_file = os.path.join(TARGET, "program.javaOptions")
    if all(os.path.exists(f) for f in (stamp_file, cp_file, opts_file)):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return read_build(cp_file, opts_file) + (stamp, False)
    sbt = shutil.which("sbt")
    if sbt is None:
        raise BenchError("sbt not found on PATH")
    # sbt's sockets, file watcher and perf counters go to the system temp
    # directory unless told otherwise
    tmp = os.path.join(TARGET, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS="-Xmx2g -XX:+PerfDisableSharedMem -Djava.io.tmpdir=" + tmp)
    cmd = [sbt, "-Dsbt.offline=true", "-Dsbt.server.autostart=false",
           "-Dsbt.global.base=" + os.path.join(TARGET, "sbt-global"),
           "--batch", "-Dsbt.log.noformat=true"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        cmd[1:1] = ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    cmd += ["compile", "export Runtime/fullClasspath", "programJavaOptions"]
    log("building (sbt compile) ...")
    t0 = time.time()
    out = run_child(cmd, HERE, env, os.path.join(TARGET, "build.log"), deadline)
    lines = [l for l in out.splitlines() if "scala-2.13" in l and os.pathsep in l]
    if not lines:
        raise BenchError("sbt did not print the runtime classpath; see %s/build.log" % TARGET)
    if not os.path.exists(opts_file):
        raise BenchError("sbt did not write the program's javaOptions; see %s/build.log" % TARGET)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log("built in %.1f s" % (time.time() - t0))
    return read_build(cp_file, opts_file) + (stamp, True)


def read_build(cp_file, opts_file):
    with open(cp_file) as f:
        cp = f.read().strip()
    with open(opts_file) as f:
        opts = [l for l in f.read().splitlines() if l]
    return cp, opts + EXTRA_JVM_OPTS


def run_child(cmd, cwd, env, log_path, deadline):
    """Runs cmd in its own process group, output to log_path; kills the
    whole group when the deadline passes. Returns the captured output."""
    with open(log_path, "w") as logf:
        proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=logf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise BenchError("%s timed out; see %s" % (os.path.basename(cmd[0]), log_path))
        finally:
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    with open(log_path, errors="replace") as f:
        text = f.read()
    if rc != 0:
        tail = "\n".join(text.splitlines()[-30:])
        raise BenchError("%s exited %d; tail of %s:\n%s" % (os.path.basename(cmd[0]), rc, log_path, tail))
    return text


def host_facts(stamp):
    mem_kb = None
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            commit = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                                    text=True, timeout=10).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            commit = None
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_mb": mem_kb // 1024 if mem_kb else None,
            "git_commit": commit, "source_sha256": stamp}


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_times():
    """(steal, total) jiffies from /proc/stat: on a virtual machine the
    host's other tenants show up as steal."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v[:8])


def median(xs):
    xs = [x for x in xs if x == x]
    return statistics.median(xs) if xs else float("nan")


def run_workload(args, started):
    cp, jvm_opts, stamp, built = build(started + BUILD_BUDGET_S)
    # a run that had to build may use the first-run budget; others must
    # finish well inside the per-run limit
    deadline = started + (BUILD_BUDGET_S if built else RUN_BUDGET_S)
    facts = host_facts(stamp)
    facts["loadavg_before"] = loadavg()
    steal0, total0 = cpu_times()
    tag = "%s-seed%d-trace%d" % (args.workload, args.seed, args.trace)
    work = os.path.join(OUT, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    expected = gen.generate(args.workload, args.seed, inputs)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
    result_path = os.path.join(work, "result.json")
    spans_path = os.path.join(OUT, "results", tag + ".spans.json")
    cpus = facts["nproc"]
    cmd = ([shutil.which("java") or "java"] + jvm_opts + ["-Djava.io.tmpdir=" + tmp, "-cp", cp,
           "prodbench.Main", "--workload", args.workload, "--inputs", inputs,
           "--work", os.path.join(work, "run"), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--cpus", str(cpus), "--result", result_path,
           "--config", os.path.join(HERE, "mapping_config.xml")])
    if args.trace:
        cmd += ["--spans", spans_path]
    run_child(cmd, ROOT, dict(os.environ), os.path.join(OUT, "results", tag + ".jvm.log"), deadline)
    with open(result_path) as f:
        res = json.load(f)
    facts["loadavg_after"] = loadavg()
    steal1, total1 = cpu_times()
    facts["cpu_steal_frac"] = (steal1 - steal0) / max(1, total1 - total0)
    facts["java_version"] = res["java_version"]
    facts["spark_version"] = res["spark_version"]
    shutil.rmtree(work, ignore_errors=True)

    wall = median(res["wall_s"])
    e2e = {"setup_s": res["setup_s"], "wall_s": wall, "rows_per_s": res["rows"] / wall}
    if args.workload == "etl_batch":
        e2e["files_per_s"] = res["files"] / wall
    summary = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
               "input_sha256": expected["input_sha256"], "host": facts,
               "rows": res["rows"], "files": res["files"], "samples": len(res["wall_s"]),
               "wall_s_samples": res["wall_s"], "warmup_wall_s": res["warmup_wall_s"],
               "jit_s_samples": res["jit_s"], "warmup_jit_s": res["warmup_jit_s"],
               "wrong_results": res["wrong_results"], "check_failures": res["check_failures"],
               "attempted": res["attempted"], "failed": res["failed"],
               "failed_frac": res["failed"] / max(1, res["attempted"]), "end_to_end": e2e,
               "session_s": res["session_s"], "setup_work_s": res["setup_work_s"],
               "timed_phase_s": res["timed_phase_s"], "check_s": res["check_s"],
               "peak_rss_mb": res["peak_rss_mb"]}
    if args.trace:
        layers = dict(res.get("layers", {}))
        traced = median(res["traced_wall_s"])
        layers["trace.wall_s"] = traced
        layers["trace.overhead_frac"] = (traced - wall) / wall
        summary["layers"] = layers
        summary["traced_wall_s_samples"] = res["traced_wall_s"]
        summary["spans_file"] = os.path.relpath(spans_path, ROOT)
    with open(os.path.join(OUT, "results", tag + ".json"), "w") as f:
        json.dump(summary, f, indent=1, sort_keys=True)

    print("host: nproc=%d mem_total_mb=%s loadavg_before=%s loadavg_after=%s cpu_steal_frac=%.3f "
          "java=%s spark=%s git_commit=%s source_sha256=%s" % (
              facts["nproc"], facts["mem_total_mb"], facts["loadavg_before"], facts["loadavg_after"],
              facts["cpu_steal_frac"], facts["java_version"], facts["spark_version"],
              facts["git_commit"], stamp[:16]))
    print("input_sha256: %s" % expected["input_sha256"])
    print("workload %s seed %d: %d rows, %d files per operation; %d timed samples, %d warm-up reps"
          % (args.workload, args.seed, res["rows"], res["files"], len(res["wall_s"]),
             len(res["warmup_wall_s"])))
    for name, unit in END_TO_END:
        print("%-28s %14.6g %s" % (name, e2e[name], unit))
    if "files_per_s" in e2e:
        print("%-28s %14.6g files/s" % ("files_per_s", e2e["files_per_s"]))
    print("%-28s %14.6g MB" % ("peak_rss_mb", res["peak_rss_mb"]))
    print("%-28s %14d count" % ("wrong_results", res["wrong_results"]))
    print("%-28s %14.6g ratio" % ("failed_frac", summary["failed_frac"]))
    if args.trace:
        for name, unit in PER_LAYER:
            print("%-28s %14.6g %s" % (name, summary["layers"].get(name, 0.0), unit))
        print("spans: %s" % summary["spans_file"])
    for msg in res["check_failures"]:
        print("check failed: " + msg)
    if args.trace:
        metrics = {n: {"value": float(summary["layers"].get(n, 0.0)), "unit": u} for n, u in PER_LAYER}
    else:
        metrics = {n: {"value": float(e2e[n]), "unit": u} for n, u in END_TO_END}
    line = {"correct": res["wrong_results"] == 0, "attempted": res["attempted"],
            "failed": res["failed"], "metrics": metrics}
    print(json.dumps(line), flush=True)
    return 0 if res["wrong_results"] == 0 and res["failed"] == 0 else 1


def self_test(args, started):
    cp, jvm_opts, _, _ = build(started + BUILD_BUDGET_S)
    work = os.path.join(OUT, "work", "selftest")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    for w in WORKLOADS:
        gen.generate(w, args.seed, os.path.join(work, "inputs", w), small=True)
    cmd = ([shutil.which("java") or "java"] + jvm_opts + ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-cp", cp, "prodbench.SelfTest", "--inputs", os.path.join(work, "inputs"),
           "--work", os.path.join(work, "run"), "--cpus", str(len(os.sched_getaffinity(0))),
           "--config", os.path.join(HERE, "mapping_config.xml")])
    log_path = os.path.join(work, "selftest.log")
    try:
        run_child(cmd, ROOT, dict(os.environ), log_path, started + BUILD_BUDGET_S)
        ok = True
    except BenchError as e:
        log(str(e))
        ok = False
    with open(log_path, errors="replace") as f:
        for line in f:
            if line.startswith("selftest"):
                print(line.rstrip())
    shutil.rmtree(work, ignore_errors=True)
    return 0 if ok else 1


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=15)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--selftest", action="store_true")
    args = p.parse_args()
    started = time.time()
    try:
        if args.selftest:
            return self_test(args, started)
        if not args.workload:
            p.error("--workload is required")
        return run_workload(args, started)
    except BenchError as e:
        log("error: %s" % e)
        return 2


if __name__ == "__main__":
    sys.exit(main())
