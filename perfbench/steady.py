"""Steadiness self-check: run a workload repeatedly on the same code and
report, for each end-to-end metric, the median, the quartiles and the
spread (Q3 - Q1) / median against the metric's bound in BENCHMARK.json.

    python3 perfbench/steady.py --workload groupby_reuse --runs 10
    python3 perfbench/steady.py --runs 10 --first-seed 101    # every workload

Seeds are first-seed, first-seed + 1, ... Quartiles are those of
Python's statistics.quantiles(values, n=4). A spread above its bound
means the metric cannot tell a regression of that size from noise; a
later change can be compared against the medians and quartiles printed
here. Every run lasts BENCHMARK.json's run_seconds. The exit code is 0
only when every spread is within its bound and every run was correct.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
SECONDS = SPEC["run_seconds"]


def run_once(workload, seed):
    proc = subprocess.run([sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload",
                           workload, "--seed", str(seed), "--seconds", str(SECONDS),
                           "--trace", "0"], cwd=ROOT, capture_output=True, text=True)
    if proc.returncode != 0:
        raise SystemExit(f"run failed ({workload}, seed {seed}):\n{proc.stderr[-2000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def summarize(workload, results):
    ok = True
    for m in SPEC["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in results]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med
        within = spread <= m["bound"]
        ok = ok and within
        flag = ("ok" if spread <= m["bound"] / 3 else "ok(>1/3 bound)") if within else "TOO NOISY"
        print(f"{workload:18s} {m['name']:20s} median={med:14.4f} {m['unit']:7s} "
              f"q1={q1:.4f} q3={q3:.4f} spread={spread:.4f} bound={m['bound']} {flag}")
    failed = sum(r["failed"] for r in results)
    correct = all(r["correct"] for r in results)
    print(f"{workload:18s} runs={len(results)} correct={correct} failed_requests={failed}")
    return ok and correct and failed == 0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", action="append",
                    help="workload to check (repeatable; default: all)")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()
    workloads = a.workload or [w["name"] for w in SPEC["workloads"]]
    all_ok = True
    for w in workloads:
        results = []
        for i in range(a.runs):
            results.append(run_once(w, a.first_seed + i))
            print(f"  {w} seed={a.first_seed + i}: " + ", ".join(
                f"{k}={v['value']:.4g}" for k, v in results[-1]["metrics"].items()), flush=True)
        all_ok = summarize(w, results) and all_ok
    sys.exit(0 if all_ok else 1)


if __name__ == "__main__":
    main()
