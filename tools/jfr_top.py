#!/usr/bin/env python3
"""Where do a JFR recording's executor CPU samples go?

Runs `jfr print --events jdk.ExecutionSample --stack-depth 2048` on a
recording, keeps the samples taken on Spark executor threads ("Executor
task launch worker ...") from an optional start time on, and prints the
top groups three ways:

  expression path   "(task deserialization)" for a sample under
                    `JavaSerializerInstance.deserialize` (a task reading
                    its task binary: the plan, its closures and the
                    objects code generation references); otherwise the
                    Catalyst expression classes on the stack, from the
                    operator's root expression inward (generated classes,
                    row plumbing and consecutive repeats dropped), cut at
                    --depth; without one, the innermost operator frame
  graft frame       the innermost frame of the graft library (`graft.` or
                    `org.apache.spark.sql.graft.`), "(none)" when absent
  leaf frame        the method that was running

Usage:
  python3 tools/jfr_top.py REC.jfr [--since HH:MM:SS[.fff] | --since -SECONDS]
                           [--top N] [--depth D]

`--since HH:MM:SS` keeps samples taken at or after that time of day (the
clock `jfr print` shows); `--since -60` keeps the last 60 s of samples.

The JVM records 64 frames per stack by default, too few to see which
frame a deep deserialization sample sits under; record with
`-XX:FlightRecorderOptions:stackdepth=2048`.
"""
import argparse
import collections
import datetime
import re
import shutil
import subprocess
import sys

EXECUTOR = "Executor task launch worker"
CATALYST = "org.apache.spark.sql.catalyst.expressions."
GRAFT = ("graft.", "org.apache.spark.sql.graft.")
DESERIALIZE = "org.apache.spark.serializer.JavaSerializerInstance.deserialize"
STACK_DEPTH = "2048"
TIME = re.compile(r"startTime = (\d+):(\d+):(\d+(?:\.\d+)?)")


def samples(path):
    """Yield (seconds since midnight, thread name, frames leaf first)."""
    jfr = shutil.which("jfr") or sys.exit("jfr_top: no `jfr` on PATH")
    cmd = [jfr, "print", "--events", "jdk.ExecutionSample", "--stack-depth", STACK_DEPTH, path]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, errors="replace")
    t, thread, frames, in_stack = None, "", [], False
    for line in proc.stdout:
        s = line.strip()
        if s.startswith("jdk.ExecutionSample"):
            t, thread, frames, in_stack = None, "", [], False
        elif s.startswith("startTime ="):
            m = TIME.search(s)
            if m:
                t = int(m.group(1)) * 3600 + int(m.group(2)) * 60 + float(m.group(3))
        elif s.startswith("sampledThread ="):
            thread = s.split("=", 1)[1].strip()
        elif s.startswith("stackTrace = ["):
            in_stack = True
        elif in_stack and s == "]":
            in_stack = False
        elif in_stack and s and s != "...":
            frames.append(s.split("(", 1)[0])
        elif s == "}" and t is not None:
            yield t, thread, frames
            t = None
    if proc.wait() != 0:
        sys.exit(f"jfr_top: `{' '.join(cmd)}` failed")


def parse_since(v):
    if v is None or v.startswith("-"):
        return v
    h, m, s = v.split(":")
    return int(h) * 3600 + int(m) * 60 + float(s)


# row and projection plumbing in the expressions package, not expressions
PLUMBING = ("Unsafe", "InterpretedUnsafeProjection", "CodeGeneratorWithInterpretedFallback",
            "GenericInternalRow", "SpecificInternalRow", "JoinedRow")


def expression_path(frames, depth):
    if any(f.startswith(DESERIALIZE) for f in frames):
        return "(task deserialization)"
    path = []
    for f in reversed(frames):  # root first
        if f.startswith(CATALYST) and "GeneratedClass" not in f and ".codegen." not in f:
            cls = f[len(CATALYST):].rsplit(".", 1)[0]
            if not cls.startswith(PLUMBING) and (not path or path[-1] != cls):
                path.append(cls)
    if path:
        return " > ".join(path[:depth])
    # no expression: name the innermost operator frame instead
    for f in frames:
        if "GeneratedClass" in f:
            return "(no expression) codegen stage"
        if f.startswith("org.apache.spark.sql.execution."):
            return "(no expression) " + f.rsplit(".", 2)[-2]
    return "(no expression) " + (frames[0].rsplit(".", 2)[0] if frames else "")


def graft_frame(frames):
    return next((f for f in frames if f.startswith(GRAFT)), "(none)")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("recording")
    ap.add_argument("--since", help="HH:MM:SS[.fff] time of day, or -SECONDS before the last sample")
    ap.add_argument("--top", type=int, default=15)
    ap.add_argument("--depth", type=int, default=4)
    a = ap.parse_args()
    since = parse_since(a.since)

    kept = [(t, f) for t, th, f in samples(a.recording) if EXECUTOR in th]
    if isinstance(since, str):
        last = max((t for t, _ in kept), default=0.0)
        since = last + float(since)
    if since is not None:
        kept = [(t, f) for t, f in kept if t >= since]
    n = len(kept)
    print(f"executor samples: {n}" + (
        f" (since {datetime.timedelta(seconds=round(since, 3))})" if since is not None else ""))
    if not n:
        return
    for title, key in (("expression path", lambda f: expression_path(f, a.depth)),
                       ("graft frame", graft_frame),
                       ("leaf frame", lambda f: f[0] if f else "(empty)")):
        counts = collections.Counter(key(f) for _, f in kept)
        print(f"\n== by {title} ==")
        for k, c in counts.most_common(a.top):
            print(f"{c:7d} {100.0 * c / n:5.1f}%  {k}")


if __name__ == "__main__":
    main()
