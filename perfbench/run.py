#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload etl-sync --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --selftest

Builds the engine and the benchmark from source (perfbench/build.py), then
starts one JVM that sets up, builds and serves the workload. Every file a
run writes stays under perfbench/out/; the per-run scratch directory is
removed when the run ends. The last stdout line is one JSON object with
`correct`, `attempted`, `failed` and `metrics`; with `--trace 1` the
metrics are the per-layer ones and the spans land in perfbench/out/trace/.
"""
import argparse
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # runs write only under perfbench/out
import build  # noqa: E402

WORKLOADS = ["etl-sync", "prep-daily", "ann-serve"]
JVM_TIMEOUT_S = 170
# Workloads bound by driver-side planning, job scheduling and per-statement
# JDBC work run with the C1 JIT only: a run lasts under a minute, and C2
# compiler threads would burn the cores the run itself measures (and make
# cpu_s swing with compile timing). ann-serve's kernels run hot enough for
# C2 to pay back.
C1_ONLY = {"etl-sync", "prep-daily"}
# Spark on JDK 17 outside spark-submit needs these (build.sbt passes the
# same list to forked runs and tests).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def sf_dir():
    """SPARK_GRAFT_SF_DIR, else the sf0.1 default of the engine's own bench."""
    env = os.environ.get("SPARK_GRAFT_SF_DIR")
    if env:
        return env
    with open(os.path.join(ROOT, "src", "main", "scala", "graft", "Bench.scala")) as f:
        m = re.search(r'"SPARK_GRAFT_SF_DIR",\s*"([^"]+)"', f.read())
    if not m:
        raise SystemExit("no testdata directory: set SPARK_GRAFT_SF_DIR")
    return m.group(1)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(cp, run_dir, workload, extra, jvm_flags=()):
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    # -UsePerfData: no hsperfdata file in the system temp directory
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData"] + list(jvm_flags)
    if os.path.exists(build.ARCHIVE):
        cmd.append(f"-XX:SharedArchiveFile={build.ARCHIVE}")
    if workload in C1_ONLY:
        cmd.append("-XX:TieredStopAtLevel=1")
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += [
        f"-Dlog4j.configurationFile={HERE}/log4j2.properties",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.local.dir={run_dir}/spark-local",
        f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
        f"-Djava.io.tmpdir={run_dir}/tmp",
        f"-Dderby.system.home={run_dir}",
        f"-Dderby.stream.error.file={run_dir}/derby.log",
        # the Derby target's flush policy: no fsync on commit
        "-Dderby.system.durability=test",
        "-cp", cp, "perfbench.Bench",
        "--dir", run_dir, "--sf", sf_dir(), "--cores", str(cores()),
        "--trace-dir", os.path.join(HERE, "out", "trace"),
        "--launch-ns", str(time.time_ns()),
    ] + extra
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s")
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    lines = out.splitlines()
    for line in lines[:-1]:
        sys.stderr.write(line + "\n")
    if proc.returncode != 0 or not lines or not lines[-1].startswith("RESULT "):
        raise SystemExit(f"benchmark JVM failed (exit {proc.returncode})")
    return lines, lines[-1][len("RESULT "):]


def ensure_archive(cp, out_root):
    """Once per build: the etl-sync self-test dumps the classes it loaded
    (session, parquet, JDBC, joins, CSV) into a class-data-sharing
    archive. Later JVMs map it instead of reading and verifying classes
    from some 300 jars, which halves JVM plus SparkSession start-up."""
    if os.path.exists(build.ARCHIVE):
        return
    run_dir = os.path.join(out_root, "run", f"archive-{os.getpid()}")
    tmp = build.ARCHIVE + ".tmp"
    try:
        run_jvm(cp, run_dir, "etl-sync",
                ["--workload", "etl-sync", "--seed", "0", "--selftest", "1"],
                jvm_flags=[f"-XX:ArchiveClassesAtExit={tmp}", "-Xlog:cds=off", "-Xlog:cds+dynamic=off"])
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if os.path.exists(tmp):
        os.replace(tmp, build.ARCHIVE)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="corrupt each workload's outputs and show every check rejects them")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")

    cp = build.build(quiet=True)
    out_root = os.path.join(HERE, "out")
    ensure_archive(cp, out_root)
    if a.selftest:
        ok = True
        for w in WORKLOADS:
            run_dir = os.path.join(out_root, "run", f"selftest-{w}-{os.getpid()}")
            try:
                lines, verdict = run_jvm(cp, run_dir, w, ["--workload", w, "--seed", str(a.seed),
                                                       "--seconds", "0", "--selftest", "1"])
            finally:
                shutil.rmtree(run_dir, ignore_errors=True)
            for line in lines[:-1]:
                if line.startswith("selftest "):
                    print(line)
            ok = ok and verdict == "selftest-ok"
        print("selftest", "passed" if ok else "FAILED")
        sys.exit(0 if ok else 1)

    run_dir = os.path.join(out_root, "run", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    try:
        _, result = run_jvm(cp, run_dir, a.workload, [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace)])
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    r = json.loads(result)
    for name, m in r["metrics"].items():
        print(f"{name} = {m['value']} {m['unit']}")
    print(f"attempted = {r['attempted']}, failed = {r['failed']}, correct = {r['correct']}")
    print(json.dumps(r))


if __name__ == "__main__":
    main()
