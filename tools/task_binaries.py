#!/usr/bin/env python3
"""How many task-binary bytes does each request of a perfbench run ship?

Every stage the scheduler submits broadcasts one task binary (the stage's
RDD with its dependency or result function: the plan, its closures and
the objects code generation references), and every task of the stage
deserializes it. This reads a perfbench JVM log written with
tools/log4j2-task-binaries.properties and sums, over the stages submitted
in the last --window seconds of the log (the timed phase), the binary
size times the stage's task count, per timed request.

Usage:
  JAVA_TOOL_OPTIONS="-Dlog4j2.configurationFile=$PWD/tools/log4j2-task-binaries.properties" \\
    python3 perfbench/run.py --workload curation_pipeline --seed 1 --seconds 30 --trace 0
  python3 tools/task_binaries.py .bench_build/logs/curation_pipeline-seed1-trace0.log \\
    .bench_build/results/curation_pipeline-seed1-trace0.json --window 30

Sizes are the MemoryStore's estimate of the broadcast byte array (its
length plus a few bytes of header). The window is cut at whole log
timestamps, so the per-request figures can be off by part of one request.
"""
import argparse
import json
import re

# the scheduler's own thread broadcasts nothing but task binaries
BINARY = re.compile(r"\[dag-scheduler-event-loop\] INFO MemoryStore: Block broadcast_\d+ "
                    r"stored as values in memory \(estimated size ([\d.]+) (B|KiB|MiB)")
SUBMIT = re.compile(r"Submitting (\d+) missing tasks from (ShuffleMapStage|ResultStage) (\d+)")
UNIT = {"B": 1, "KiB": 1024, "MiB": 1024 * 1024}


def seconds(line):
    h, m, s = line[:12].split(":")
    return int(h) * 3600 + int(m) * 60 + float(s)


def stages(log):
    """(time, kind, tasks, binary bytes) per submitted stage, in log order.
    The scheduler's one thread broadcasts a stage's binary and then
    submits its tasks, so each submission takes the last binary stored."""
    binary, out = None, []
    for line in open(log, errors="replace"):
        if m := BINARY.search(line):
            binary = float(m.group(1)) * UNIT[m.group(2)]
        elif (m := SUBMIT.search(line)) and binary is not None:
            out.append((seconds(line), m.group(2), int(m.group(1)), binary))
            binary = None
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("log")
    ap.add_argument("result")
    ap.add_argument("--window", type=float, required=True)
    ap.add_argument("--top", type=int, default=8)
    a = ap.parse_args()
    st = stages(a.log)
    if not st:
        raise SystemExit("no task binaries in the log: was it written with "
                         "tools/log4j2-task-binaries.properties?")
    end = st[-1][0]
    timed = [s for s in st if s[0] >= end - a.window]
    n = json.load(open(a.result))["attempted"]
    print(json.dumps({
        "requests": n,
        "stages_per_request": round(len(timed) / n, 2),
        "tasks_per_request": round(sum(s[2] for s in timed) / n, 1),
        "binary_mb_x_tasks_per_request": round(sum(s[2] * s[3] for s in timed) / n / 1e6, 2),
        "largest_binaries_kib": sorted({(round(s[3] / 1024, 1), s[1], s[2]) for s in timed},
                                       reverse=True)[:a.top],
    }))


if __name__ == "__main__":
    main()
