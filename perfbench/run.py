#!/usr/bin/env python3
"""Incremental-ETL benchmark: one command that builds, runs a workload,
checks its outputs and prints every metric by name with its unit.

Usage:
  python3 perfbench/run.py --workload <trickle|backfill|rds_redshift|near_dup|all>
                           --seed <n> --seconds <s> --trace <0|1> [--scale <f>]

Run from the root of a checkout. The first call builds the engine and the
benchmark offline (see build.py). The inputs are generated from --seed
(gen.py), the engine's job runs in a closed loop with one client for
--seconds (scala/perfbench/Main.scala), and every run's output is checked
against DuckDB over the generated inputs (check.py). The last stdout line
is one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (README.md lists both). `--workload all` runs every
workload in turn, each ending with its own JSON line. Exits 1 when a check
fails and 2 when the benchmark cannot run at all.
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
import check  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("trickle", "backfill", "rds_redshift", "near_dup")
# JIT warm-up keeps lowering run times for several runs after the cold
# initial load; these counts flatten that trend before the timed window
WARMUPS = {"trickle": 8, "backfill": 3, "rds_redshift": 10, "near_dup": 4}
# fastest plausible run per workload: bounds the inputs to pre-generate
MIN_RUN_S = {"trickle": 0.1, "backfill": 0.2, "rds_redshift": 0.2, "near_dup": 0.3}
JVM_TIMEOUT_S = 150


def now_us():
    return time.time_ns() // 1000


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def write_inputs(workload, work, seed, scale, seconds):
    runs = WARMUPS[workload] + 2 + int(seconds / MIN_RUN_S[workload])
    ledger = gen.generate(workload, work, seed, scale, runs)
    if workload == "backfill":
        lines = [str(m) for m in ledger["midpoints"]]
        name = "midpoints.txt"
    elif workload == "near_dup":
        lines = [b["dir"] for b in ledger["batches"]]
        name = "batches.txt"
    else:
        lines = [b["file"] for b in ledger["batches"]]
        name = "batches.txt"
    with open(os.path.join(work, name), "w") as f:
        f.write("\n".join(lines) + "\n")
    return ledger


def run_jvm(classpath, workload, work, seconds, trace, n_cores, deadline):
    conf = os.path.join(work, "config.properties")
    with open(conf, "w") as f:
        f.write(f"workload={workload}\nwork={work}\nseconds={seconds}\n"
                f"trace={trace}\ncores={n_cores}\nwarmups={WARMUPS[workload]}\n")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = build.java_command(classpath, "2g", tmp) + ["perfbench.Main", conf]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            code = proc.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError(f"JVM run exceeded its time budget; see {log_path}")
    if code != 0:
        with open(log_path) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"JVM exited with code {code}:\n{tail}")
    with open(os.path.join(work, "result.jsonl")) as f:
        return [json.loads(line) for line in f if line.strip()]


def run_workload(classpath, workload, a):
    started = time.time()
    # set-up time starts here: everything after the (cached) build
    t0 = now_us()
    deadline = time.time() + JVM_TIMEOUT_S
    work = os.path.join(build.BUILD, "work", workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    ledger = write_inputs(workload, work, a.seed, a.scale, a.seconds)
    try:
        records = run_jvm(classpath, workload, work, a.seconds, a.trace, cores(), deadline)
    except RuntimeError as e:
        print(f"benchmark run failed: {e}", file=sys.stderr)
        return 2
    verdicts = check.check(workload, work, ledger, records)
    result = metrics.summarize(workload, records, verdicts, t0, a.trace == 1)
    for line in metrics.report_lines(workload, result):
        print(line)
    print(f"# {workload} total wall {time.time() - started:.1f} s", file=sys.stderr)
    print(json.dumps(result["json"]), flush=True)
    return 0 if result["json"]["correct"] else 1


def main(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size multiplier (the smoke test uses a small one)")
    a = p.parse_args(argv)
    try:
        classpath = build.build()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    workloads = WORKLOADS if a.workload == "all" else (a.workload,)
    return max(run_workload(classpath, w, a) for w in workloads)


if __name__ == "__main__":
    sys.exit(main())
