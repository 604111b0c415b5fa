#!/usr/bin/env python3
"""Run one benchmark workload against the library, in one JVM.

    python3 perfbench/run.py --workload archive_read --seed 1 --seconds 15 --trace 0

Builds the library and the benchmark program from source when needed (build.py),
starts one JVM running `graft.perfbench.Main`, and passes its output
through. The last stdout line is the result object:
`{"correct", "attempted", "failed", "metrics"}`. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer metrics (and writes the
span file under `.bench_out/`). Every result is also appended, with its
stamp (nproc, host, heap limit, seed), to `.bench_out/results.jsonl`;
`compare.py` reads that file.

Exit code 0 only when the run completed and every result check passed.
"""

import argparse
import json
import os
import shutil
import signal
import socket
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import oracle  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ("archive_read", "archive_ingest", "battery")
JVM_LIMIT_S = 165  # the whole run must end within 180 s
HEAP = "3g"

# Spark 4 on JDK 17 outside spark-submit needs these module openings
# (org.apache.spark.launcher.JavaModuleOptions)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def parse_args():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def main():
    args = parse_args()
    t_start = time.time()
    try:
        jar = build.build()
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2
    jars = build.spark_jars()
    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".bench_out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(out_dir, exist_ok=True)
    # the first run after a build writes the class-data archive (under a
    # temporary name, kept only if the run ends well), later runs map it
    archive = build.class_archive()
    have_archive = os.path.exists(archive)
    cds = (f"-XX:SharedArchiveFile={archive}" if have_archive
           else f"-XX:ArchiveClassesAtExit={archive}.tmp")
    # -XX:-UsePerfData: no hsperfdata file outside the checkout; JVM
    # warnings go to stderr, so stdout carries only the benchmark's lines
    cmd = ["java", f"-Xmx{HEAP}", "-Xss4m", "-XX:+UseG1GC", "-XX:-UsePerfData", cds,
           "-Xlog:disable", "-Xlog:all=warning:stderr",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([jar, os.path.join(jars, "*")]),
            "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", out_dir, "--nproc", str(nproc),
            "--heap", HEAP, "--host", socket.gethostname()]
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE,
                            stderr=subprocess.PIPE, text=True)

    def stop(*_):
        proc.kill()
    signal.signal(signal.SIGTERM, stop)
    timed_out = False
    try:
        out, err = proc.communicate(timeout=max(30.0, JVM_LIMIT_S - (time.time() - t_start)))
    except subprocess.TimeoutExpired:
        timed_out = True
        proc.kill()
        out, err = proc.communicate()
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if not have_archive and os.path.exists(archive + ".tmp"):
        if proc.returncode == 0 and not timed_out:
            os.replace(archive + ".tmp", archive)
        else:
            os.remove(archive + ".tmp")
    mismatches = []
    if args.workload == "battery" and proc.returncode == 0 and not timed_out:
        # outside the timed region: the battery's results against DuckDB
        mismatches = oracle.check(os.path.join(work, "battery-results"),
                                  os.path.join(work, "tables"))
    shutil.rmtree(work, ignore_errors=True)
    log = os.path.join(out_dir, f"stderr-{args.workload}-{args.seed}.log")
    with open(log, "w") as fh:
        fh.write(err)
    if timed_out:
        print(f"perfbench: the run exceeded its time limit; log in {log}", file=sys.stderr)
        return 3
    lines = [l for l in out.splitlines() if l.strip()]
    # exit code 1 is a completed run with failed checks: its result prints
    if proc.returncode not in (0, 1) or not lines:
        sys.stderr.write(err[-3000:])
        print(f"perfbench: the benchmark JVM exited with {proc.returncode}; full log in {log}",
              file=sys.stderr)
        return 1
    try:
        result = json.loads(lines[-1])
    except ValueError:
        sys.stderr.write(err[-6000:])
        print("perfbench: the benchmark JVM printed no result line", file=sys.stderr)
        return 1
    for m in mismatches:
        print(f"perfbench: CHECK FAILED: {m}", file=sys.stderr)
    if mismatches:
        result["failed"] += len(mismatches)
        result["correct"] = False
    for l in lines[:-1]:
        print(l)
    stamp = next((json.loads(l)["stamp"] for l in lines if l.startswith('{"stamp"')), {})
    with open(os.path.join(out_dir, "results.jsonl"), "a") as fh:
        fh.write(json.dumps({"stamp": stamp, "result": result}) + "\n")
    print(json.dumps(result))
    return 0 if result.get("correct") else 1


if __name__ == "__main__":
    sys.exit(main())
