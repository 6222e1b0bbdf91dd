"""Run one benchmark workload and print its result.

    python3 graftbench/run.py --workload {ingest,lake} --seed N \
        --seconds S --trace {0,1} [--smoke] [--fault {wrong,recall}]
    python3 graftbench/run.py --workload W --seed N --generate-only

Builds the engine and the benchmark from source on first use (see build.py),
then runs the workload in one JVM at local[n], n = the CPUs this process may
use. The last stdout line is the result object
`{"correct", "attempted", "failed", "metrics"}`; the line before it,
prefixed `REPORT `, carries run health, input sizes and per-kind timings.
`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer ones.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

import build

WORKLOADS = ("ingest", "lake")
RUN_LIMIT_S = 170  # a run must end within 180 s; leave room to clean up
TRACE_DIR = os.path.join(build.ROOT, ".bench_traces")

# Spark 4 on JDK 17 outside spark-submit needs the launcher's module opens.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="tiny inputs and one set-up: checks the harness, not speed")
    p.add_argument("--fault", choices=("wrong", "recall"),
                   help="inject a wrong expected result or an unreachable recall floor")
    p.add_argument("--generate-only", action="store_true",
                   help="write the seed's inputs, print their digests, and exit")
    return p.parse_args(argv)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def main(argv):
    args = parse_args(argv)
    try:
        classes = build.ensure_built()
    except build.BuildError as e:
        print(f"[graftbench] {e}", file=sys.stderr)
        return 2
    started = time.time()  # a first run's build has its own, longer allowance
    jars = os.path.join(build.spark_jars(), "*")
    work = os.path.join(build.ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    n = cores()
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xms2g", "-Xmx2g",
           f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}{os.pathsep}{jars}", "graft.bench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(n), "--work", work]
    if args.smoke:
        cmd.append("--smoke")
    if args.fault:
        cmd += ["--fault", args.fault]
    if args.generate_only:
        cmd.append("--generate-only")
    log_path = os.path.join(work, "jvm.log")
    budget = RUN_LIMIT_S - (time.time() - started)
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True)
            try:
                out, _ = proc.communicate(timeout=max(budget, 30))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                with open(log_path) as fh:
                    sys.stderr.write("".join(l for l in fh if l.startswith("[graftbench]")))
                print("[graftbench] run exceeded its time limit", file=sys.stderr)
                return 1
        with open(log_path) as fh:
            sys.stderr.write("".join(l for l in fh if l.startswith("[graftbench]")))
        lines = out.splitlines()
        report = next((l for l in lines if l.startswith("REPORT ")), None)
        result = next((l for l in reversed(lines) if l.startswith("RESULT ")), None)
        if proc.returncode != 0 or result is None:
            with open(log_path) as fh:
                sys.stderr.write(fh.read()[-6000:])
            print(f"[graftbench] JVM exited {proc.returncode} without a result",
                  file=sys.stderr)
            return 1
        for l in lines:
            if l.startswith("DIGEST "):
                print(l)
        spans = os.path.join(work, "spans.jsonl")
        if os.path.exists(spans):
            os.makedirs(TRACE_DIR, exist_ok=True)
            kept = os.path.join(TRACE_DIR, f"{args.workload}-{args.seed}.jsonl")
            shutil.copyfile(spans, kept)
            print(f"[graftbench] spans written to {kept}", file=sys.stderr)
        if report:
            print(report)
        print(json.dumps(json.loads(result[len("RESULT "):])))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
