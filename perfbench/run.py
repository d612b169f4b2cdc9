#!/usr/bin/env python3
"""graft benchmark driver.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds graft and the benchmark (see build.py), then runs one workload in one
Spark JVM and prints the result as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` prints the end-to-end metrics, `--trace 1` the per-layer ones.
The full artifact (machine header, pass walls, failures, both metric sets)
and, for traced runs, the span tree land in perfbench/work/.

Other modes:
    python3 perfbench/run.py --selftest      the benchmark's own test
    python3 perfbench/run.py --dump          write results, digests and oracle
                                             SQL for oracle.py (perfbench/work/dump)
"""
import argparse
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
sys.path.insert(0, HERE)
import build  # noqa: E402

# A run must end within 180 s; the JVM gets what is left after the build.
RUN_BUDGET_S = 170
WORKLOADS = ("dedup_stages", "relational_export")

# Spark 4 on JDK 17 outside spark-submit (the same list build.sbt passes).
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def driver_mem():
    """Half of MemTotal in whole GiB, clamped to 2..8 (the tier-1 rule);
    build.sbt's 16g fallback is larger than small machines."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(max(g, 2), 8)}g"


def commit():
    """The git commit, or a hash of the sources outside a git checkout."""
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                               capture_output=True, text=True, timeout=10)
            if r.returncode == 0:
                return r.stdout.strip()
        except (OSError, subprocess.TimeoutExpired):
            pass
    return "src-" + build.source_hash(build.sources())[:16]


def run_jvm(cp, args, log_name, timeout):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    mem = driver_mem()
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus()), SPARK_DRIVER_MEM=mem,
               SPARK_LOCAL_DIRS=tmp)
    # The throughput collector with a 2 GiB starting heap: on 4 cores G1's
    # concurrent threads and early heap resizing took CPU from the tasks
    # and made passes slower and less steady.
    cmd = (["java"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-XX:+UseParallelGC", "-Xms2g", f"-Xmx{mem}", "-XX:-UsePerfData",
              f"-Djava.io.tmpdir={tmp}", f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
              "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Main"]
           + args)
    log_path = os.path.join(WORK, log_name)
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                             cwd=ROOT, env=env, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            sys.exit(f"perfbench: JVM did not finish within {timeout:.0f} s (log {log_path})")
    if p.returncode != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-3000:])
        sys.exit(f"perfbench: JVM exited with {p.returncode} (log {log_path})")
    return out


def main():
    t0 = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--dump", action="store_true")
    a = ap.parse_args()
    os.makedirs(WORK, exist_ok=True)
    try:
        cp = build.build()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        sys.exit(f"perfbench: build failed: {e}")
    data = os.path.join(HERE, "data")

    if a.selftest:
        out = run_jvm(cp, ["--mode", "selftest", "--data", data], "selftest.log", 600)
        sys.stdout.write(out)
        sys.exit(0 if out.rstrip().endswith("passed") and "FAIL" not in out else 1)
    if a.dump:
        out_dir = os.path.join(WORK, "dump")
        run_jvm(cp, ["--mode", "dump", "--data", data, "--out", out_dir], "dump.log", 1800)
        print(out_dir)
        return
    if not a.workload:
        ap.error("--workload is required")

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    remaining = RUN_BUDGET_S - (time.monotonic() - t0)
    if remaining < 60:
        # The first run in a checkout compiles; its measurement still gets
        # the full budget.
        remaining = RUN_BUDGET_S
    out = run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed),
                       "--seconds", str(a.seconds), "--trace", str(a.trace),
                       "--data", data, "--work", WORK,
                       "--expected", os.path.join(HERE, "expected", "digests.tsv"),
                       "--commit", commit()],
                  f"{tag}.log", remaining)
    lines = [l for l in out.splitlines() if l.startswith('{"correct"')]
    if not lines:
        sys.exit("perfbench: no result line from the JVM")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.exit("perfbench: malformed result line")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
