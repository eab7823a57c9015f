"""Sync-engine benchmark: one workload per invocation.

    python3 syncbench/run.py --workload file_sync --seed 1 --seconds 10 --trace 0

Run from the repository root. The first call compiles the engine and
the benchmark (syncbench/build.py, untimed); the benchmark JVM is then
started directly, so no build-tool start-up is inside `setup_s`. Every
run works in a fresh directory under .bench_build/work that is deleted
when the run ends. The last line of standard output is the result
object: {"correct", "attempted", "failed", "metrics"}.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("file_sync", "jdbc_sync", "dedup_index")
# The benchmark JVM's heap is pinned so `peak_rss_mb` compares like
# with like across commits.
HEAP = "3g"
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs the module opens that
# spark-submit would inject (same list as the engine's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def cpu_count():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    root = os.getcwd()
    try:
        cp = build.build(root)
    except RuntimeError as e:
        print("syncbench: build failed: %s" % e, file=sys.stderr)
        return 2

    out = os.path.join(root, build.BUILD_DIR)
    work = os.path.join(out, "work", "%s-%d" % (args.workload, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d))
    trace_dir = os.path.join(out, "traces")
    os.makedirs(trace_dir, exist_ok=True)

    # Default engine knobs: every GRAFT_* variable is removed, and the
    # JVM reports that none reached it.
    env = {k: v for k, v in os.environ.items() if not k.startswith("GRAFT_")}
    cmd = ["java", "-Xmx" + HEAP, "-Xss4m", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dspark.local.dir=" + os.path.join(work, "spark-local"),
           "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
           "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           # commits do not wait for Derby's log to reach the disk: the
           # host's flush latency swung jdbc_sync by a quarter from
           # run to run, and the sink's statements are what is measured
           "-Dderby.system.durability=test",
           "-Dderby.system.home=" + work,
           "-Dderby.stream.error.file=" + os.path.join(work, "derby.log")]
    for o in ADD_OPENS:
        cmd += ["--add-opens", o + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "syncbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cpus", str(cpu_count()), "--work", work,
            "--trace-dir", trace_dir]
    proc = subprocess.Popen(cmd, env=env, cwd=work, stdout=subprocess.PIPE,
                            text=True)
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print("syncbench: run exceeded %d s" % RUN_TIMEOUT_S, file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stdout.write(stdout)
        print("syncbench: benchmark JVM exited with code %d"
              % proc.returncode, file=sys.stderr)
        return proc.returncode or 4
    try:
        result = json.loads(lines[-1])
    except ValueError:
        sys.stdout.write(stdout)
        print("syncbench: last line is not a result object", file=sys.stderr)
        return 5
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
