#!/usr/bin/env python3
"""graft extraction benchmark: one workload, one run.

  python3 perfbench/run.py --workload colocated|recrawl --seed N \
      --seconds S --trace 0|1
  python3 perfbench/run.py --selftest     # the output checker's planted faults

Run from the repository root. Builds the program and the benchmark from
source (perfbench/build.py), then runs one Spark JVM on local[nproc] with
its heap sized from MemTotal like the tier-1 test command. The last line of
stdout is the result: {"correct", "attempted", "failed", "metrics"}, with the
end-to-end metrics for --trace 0 and the per-layer metrics for --trace 1. The
line before it is the full record (host stamps, samples, per-stage records).
Exits non-zero on incorrect output or a failed job. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("colocated", "recrawl")
JVM_DEADLINE_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def mem_total_kb():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    sys.exit("perfbench: MemTotal not found")


def heap_gb():
    """SPARK_DRIVER_MEM if set, else MemTotal/2 GiB clamped to [2, 8] (the
    tier-1 rule). Refuses a heap above half of MemTotal."""
    mem_kb = mem_total_kb()
    conf = os.environ.get("SPARK_DRIVER_MEM")
    if conf:
        if not conf.lower().endswith("g") or not conf[:-1].isdigit():
            sys.exit(f"perfbench: SPARK_DRIVER_MEM={conf!r}: expected whole gigabytes like 4g")
        gb = int(conf[:-1])
    else:
        gb = min(8, max(2, mem_kb // 2097152))
    if gb * 1048576 > mem_kb // 2:
        sys.exit(f"perfbench: heap {gb}g exceeds half of MemTotal ({mem_kb // 1024} MB); "
                 "set SPARK_DRIVER_MEM lower")
    return gb


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and a.workload is None:
        ap.error("--workload is required")
    if a.seed < 0:
        ap.error("--seed must be >= 0")
    for need in ("build.sbt", "src/main/scala", "fixtures/expected.tsv"):
        if not os.path.exists(need):
            sys.exit(f"perfbench: {need} not found; run from the root of a graft checkout")

    heap = heap_gb()
    classes = build.build()
    name = "selftest" if a.selftest else a.workload
    work = os.path.join(build.build_dir(), "work", name)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    main_args = (["graftbench.SelfTest", os.getcwd()] if a.selftest else
                 ["graftbench.Main", a.workload, str(a.seed), str(a.seconds), str(a.trace),
                  work, os.getcwd()])
    cmd = (["java", f"-Xmx{heap}g", "-XX:+UseParallelGC",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={work}/tmp",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])]
           + main_args)
    log_path = os.path.join(work, "jvm.log")
    result = detail = None
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True)
        deadline = time.monotonic() + JVM_DEADLINE_S
        try:
            for line in proc.stdout:
                if line.startswith("BENCH_RESULT "):
                    result = json.loads(line[len("BENCH_RESULT "):])
                elif line.startswith("BENCH_DETAIL "):
                    detail = line[len("BENCH_DETAIL "):].strip()
                else:
                    print(line, end="", flush=True)
                if time.monotonic() > deadline:
                    raise TimeoutError
            proc.wait(timeout=max(1, deadline - time.monotonic()))
        except (TimeoutError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait()
            print(f"perfbench: JVM exceeded {JVM_DEADLINE_S} s", file=sys.stderr)
            result = None
    if result is None:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        sys.exit(f"perfbench: no result (JVM exit {proc.returncode}); log {log_path}")

    if not a.selftest:
        results = os.path.join(build.build_dir(), "results")
        os.makedirs(results, exist_ok=True)
        tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
        shutil.copy(os.path.join(work, "detail.json"), os.path.join(results, tag + ".json"))
        if a.trace:
            shutil.copy(os.path.join(work, "spans.jsonl"), os.path.join(results, tag + ".spans.jsonl"))
    if detail:
        print(detail)
    print(json.dumps(result), flush=True)
    sys.exit(0 if proc.returncode == 0 and result["correct"] and result["failed"] == 0 else 1)


if __name__ == "__main__":
    main()
