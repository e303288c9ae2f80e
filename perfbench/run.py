"""Run one workload of the benchmark and print its result.

    python3 perfbench/run.py --workload groupby_reuse --seed 1 --seconds 20 --trace 0

Builds the library and the benchmark from source on first use (see
build.py), runs the workload in one JVM with a single closed-loop client,
prints every metric with its unit, and ends with one JSON line:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
--trace 0 reports the end-to-end metrics of BENCHMARK.json, --trace 1 the
per-layer ones. The full record (per-type latencies, set-up breakdown,
Spark conf, host load, and in traced runs every span) is written to
.bench_build/results/.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = build.ROOT
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text()) if (ROOT / "BENCHMARK.json").exists() else None
JVM_TIMEOUT_S = 170
HEAP = "3g"
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def proc_stat():
    """Aggregate CPU jiffies from /proc/stat (None where unavailable)."""
    try:
        f = Path("/proc/stat").read_text().splitlines()[0].split()[1:]
        keys = ["user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal"]
        return dict(zip(keys, map(int, f[:8])))
    except (OSError, IndexError, ValueError):
        return None


def loadavg():
    try:
        return [float(x) for x in Path("/proc/loadavg").read_text().split()[:3]]
    except (OSError, ValueError):
        return None


def cpu_probe_ms():
    """Median time of a fixed single-thread Python loop: how fast the host
    ran plain CPU work just before or after the run."""
    times = []
    for _ in range(3):
        t = time.perf_counter()
        s = 0
        for i in range(300000):
            s += i * i
        times.append((time.perf_counter() - t) * 1000)
    return sorted(times)[1]


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def host_record(before, after, load0, load1, probes, source_digest, seed):
    rec = {"nproc": os.cpu_count(), "loadavg_start": load0, "loadavg_end": load1,
           "cpu_probe_ms_start": probes[0], "cpu_probe_ms_end": probes[1],
           "git_commit": git_commit(), "source_digest": source_digest, "seed": seed}
    if before and after:
        d = {k: after[k] - before[k] for k in before}
        total = sum(d.values()) or 1
        rec.update({"steal_frac": d["steal"] / total, "iowait_frac": d["iowait"] / total,
                    "busy_frac": 1 - (d["idle"] + d["iowait"]) / total})
    return rec


UNITS = {"setup_s": "s", "latency_p50_ms": "ms", "latency_tail_ms": "ms", "rows_per_s": "rows/s",
         "cpu_ms_per_request": "ms", "cache_mb": "MB", "failed_frac": "ratio"}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if SPEC is None:
        sys.exit("perfbench: BENCHMARK.json not found at the checkout root")
    if a.workload not in [w["name"] for w in SPEC["workloads"]]:
        sys.exit(f"perfbench: unknown workload {a.workload}")
    source_digest = build.build()

    out = build.OUT
    work = out / "work" / f"{a.workload}-{a.seed}-{a.trace}"
    shutil.rmtree(work, ignore_errors=True)
    for d in (out / "results", out / "logs", work / "tmp"):
        d.mkdir(parents=True, exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    result_file = out / "results" / f"{tag}.json"
    if result_file.exists():
        result_file.unlink()
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work / 'tmp'}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", build.classpath(), "perfbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--out", str(result_file), "--work", str(work)]

    probe0 = cpu_probe_ms()
    stat0, load0 = proc_stat(), loadavg()
    t0 = time.time()
    with open(out / "logs" / f"{tag}.log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=ROOT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            sys.exit(f"perfbench: run exceeded {JVM_TIMEOUT_S}s; see .bench_build/logs/{tag}.log")
    shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not result_file.exists():
        sys.exit(f"perfbench: JVM exited with {rc}; see .bench_build/logs/{tag}.log")
    res = json.loads(result_file.read_text())
    stat1, load1 = proc_stat(), loadavg()
    res["host"] = host_record(stat0, stat1, load0, load1, (probe0, cpu_probe_ms()),
                              source_digest, a.seed)
    res["host"]["wall_s"] = time.time() - t0
    result_file.write_text(json.dumps(res, indent=1))

    e2e = res["end_to_end"]
    print(f"# {a.workload} seed={a.seed} trace={a.trace} requests={res['attempted']} "
          f"failed={res['failed']} correct={res['correct']}")
    for k, v in e2e.items():
        print(f"{k:22s} {v:14.4f} {UNITS[k]}")
    tails = {k: (t["tail_percentile"], t["samples"]) for k, t in res["per_type"].items()}
    print("tail percentile/samples per type: " +
          ", ".join(f"{k}=p{p:.0f}/{n}" for k, (p, n) in sorted(tails.items())))
    for e in res["errors"]:
        print(f"error: {e}")
    h = res["host"]
    print(f"host: nproc={h['nproc']} load={h['loadavg_start']}->{h['loadavg_end']} "
          f"steal={h.get('steal_frac', 0):.3f} iowait={h.get('iowait_frac', 0):.3f} "
          f"cpu_probe_ms={h['cpu_probe_ms_start']:.1f}->{h['cpu_probe_ms_end']:.1f}")

    if a.trace:
        layers = res["per_layer"]
        for k in sorted(layers):
            print(f"{k:28s} {layers[k]:14.4f}")
        chosen = {m["name"]: (layers[m["name"]], m["unit"]) for m in SPEC["per_layer"]}
    else:
        chosen = {m["name"]: (e2e[m["name"]], m["unit"]) for m in SPEC["end_to_end"]}
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"],
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()}}))


if __name__ == "__main__":
    main()
