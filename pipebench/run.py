"""Pipeline benchmark runner.

    python3 pipebench/run.py --workload enc_dedup --seed 1 --seconds 10 --trace 0

Builds the library and the benchmark from source when they changed (see
build.py), then runs one workload in a fresh JVM against local[N], N the
number of usable cores. The human-readable report goes to standard output
as lines starting with '#'; the last line is the JSON result. Spark's own
log goes to .bench_build/pipebench/work/<workload>-<seed>.log.
"""

import argparse
import os
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

# a run must end within 180 s; the JVM gets this long
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def main():
    ap = argparse.ArgumentParser(description="graft pipeline benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    build.ensure_built()
    work = os.path.join(build.OUT, "work")
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the JIT compiler threads stay alive, so their CPU can be read apart
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UseDynamicNumberOfCompilerThreads",
            "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dderby.system.home={os.path.join(work, 'warehouse')}",
            "-Dspark.sql.session.timeZone=UTC", "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", build.classpath(), "graft.pipebench.PipeBench",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--cores", str(cores), "--work", work])
    log_path = os.path.join(work, f"{a.workload}-{a.seed}.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, env=env,
                                cwd=build.ROOT, text=True)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.communicate()
            print(f"pipebench: run exceeded {JVM_TIMEOUT_S} s; log in {log_path}", file=sys.stderr)
            return 1
    sys.stdout.write(out)
    sys.stdout.flush()
    if proc.returncode != 0:
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        print(f"pipebench: JVM exited with {proc.returncode}; log in {log_path}", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
