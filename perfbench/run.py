"""carmenspark benchmark: one command, four seeded workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. The first run compiles the program and the
benchmark (build.py); later runs reuse the classes. Each run starts one JVM
with Spark local[min(nproc, 4)], generates the workload's inputs from the
seed, times the workload's operation in a closed loop with one client for
--seconds seconds, checks the outputs, and prints one JSON object as its
last line: the end-to-end metrics with --trace 0, the per-layer metrics of
a traced pass with --trace 1. See perfbench/README.md.

Everything a run writes stays inside the checkout: inputs and Spark scratch
under .bench_work/ (removed at exit), the JVM's stderr and the trace under
<build dir>/logs/ (kept).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("fwd_bcast", "fwd_ckpt", "rev_points", "fwd_requests")
JVM_SECONDS = 170  # the JVM's wall-clock limit, after the build

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def mem_total_mb():
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) // 1024
    except OSError:
        pass
    return 8192


def memory(workload):
    """(heap MB, spark.memory.fraction, child heap MB), derived from the
    box's memory. fwd_ckpt runs with a 1 GB heap and memory fraction 0.06 on
    purpose: Spark's unified memory is then (1024 - 300) x 0.06 = 43 MB,
    below its persisted frames (about 45 MB), so eviction shows. (At 0.04
    the stack join cannot get memory for its hash relation and fails.)"""
    total = mem_total_mb()
    child = max(1024, min(2048, total // 8))
    if workload == "fwd_ckpt":
        return 1024, "0.06", child
    return max(1024, min(3072, total // 5)), "0.6", child


def log(msg):
    print("[perfbench %s] %s" % (time.strftime("%H:%M:%S"), msg), file=sys.stderr, flush=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "smoke"), default="full",
                    help="smoke: tiny inputs, for selfcheck.py")
    a = ap.parse_args()

    log("phase build")
    try:
        classes = build.ensure_built()
        jars = build.spark_jars()
        java = build.java()
    except build.BuildError as e:
        log("build failed: %s" % e)
        return 2

    root = build.ROOT
    tag = "%s-%d-%d-t%d" % (a.workload, a.seed, os.getpid(), a.trace)
    work = os.path.join(root, ".bench_work", tag)
    logs = os.path.join(build.build_dir(), "logs")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(logs, exist_ok=True)
    heap, fraction, child_heap = memory(a.workload)
    cores = max(1, min(4, os.cpu_count() or 1))
    # the JIT compiler threads live for the whole run, so their CPU time can
    # be read per thread (jvm.jit_cpu_s, Cpu in Trace.scala)
    cmd = [java, "-XX:-UseDynamicNumberOfCompilerThreads", "-Xmx%dm" % heap, "-Xms%dm" % heap,
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dspark.ui.enabled=false", "-Djava.awt.headless=true"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--scale", a.scale, "--work", work, "--log-dir", logs,
            "--profile", os.path.join(build.HERE, "profile", "sf0.1.json"),
            "--cores", str(cores), "--child-heap", "%dm" % child_heap,
            "--memory-fraction", fraction]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    err_path = os.path.join(logs, tag + ".stderr.log")
    log("phase jvm: heap %d MB, local[%d], stderr in %s" % (heap, cores, err_path))

    proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=subprocess.PIPE,
                            stderr=subprocess.PIPE, text=True, start_new_session=True)

    def kill_group():
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    def on_signal(signum, _frame):
        kill_group()
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)

    out_lines = []

    def pump_err():
        with open(err_path, "w") as f:
            for line in proc.stderr:
                f.write(line)
                if line.startswith("[perfbench "):
                    sys.stderr.write(line)
                    sys.stderr.flush()

    def pump_out():
        for line in proc.stdout:
            out_lines.append(line.rstrip("\n"))
            if not line.startswith("{"):
                sys.stdout.write(line)
                sys.stdout.flush()

    threads = [threading.Thread(target=pump_err), threading.Thread(target=pump_out)]
    for t in threads:
        t.start()
    try:
        try:
            rc = proc.wait(timeout=JVM_SECONDS)
        except subprocess.TimeoutExpired:
            kill_group()
            proc.wait()
            for t in threads:
                t.join()
            log("TIMEOUT after %d s; the last phase line above shows where; full log %s"
                % (JVM_SECONDS, err_path))
            return 1
        for t in threads:
            t.join()
        kill_group()  # a child the JVM left behind, if any
        result = None
        if out_lines and out_lines[-1].startswith("{"):
            try:
                result = json.loads(out_lines[-1])
            except ValueError:
                result = None
        if result is None or set(result) != {"correct", "attempted", "failed", "metrics"}:
            log("the JVM exited %d without a result line; see %s" % (rc, err_path))
            with open(err_path) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            return rc or 1
        print(out_lines[-1])
        sys.stdout.flush()
        if rc != 0:
            log("the run failed (exit %d, correct=%s); see %s" % (rc, result["correct"], err_path))
        return rc
    finally:
        kill_group()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
