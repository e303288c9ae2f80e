"""Interleaved A/B of one perfbench workload between two checkouts.

    python3 tools/ab_pairs.py PARENT_DIR CHANGE_DIR --workload groupby_reuse \
        --seeds 1-10 [--seconds 12] [--trace 0]

For each seed it runs `perfbench/run.py` once in each checkout, one run at
a time; odd seeds run the parent first, even seeds the change first, so a
drift in host speed lands on both sides alike. Each checkout builds its
own `.bench_build/`. It then prints, for every end-to-end metric of the
change's BENCHMARK.json:

  - the median and the interquartile range (IQR) of each side;
  - in how many seed pairs the change was better;
  - the gap between the medians against the parent's IQR.

and the per-type p50 medians of both sides next to each other, read from
each run's `.bench_build/results/` record. It exits non-zero when any run
fails, reports an incorrect output or a failed request.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def run(checkout, workload, seed, seconds, trace):
    """One perfbench run in `checkout`; returns its result record."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stdout + p.stderr)
        raise SystemExit(f"ab_pairs: run failed in {checkout} (seed {seed})")
    rec = Path(checkout) / ".bench_build" / "results" / f"{workload}-seed{seed}-trace{trace}.json"
    return json.loads(rec.read_text())


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="A-B, inclusive")
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    lo, hi = (int(x) for x in a.seeds.split("-"))
    sides = {"parent": Path(a.parent).resolve(), "change": Path(a.change).resolve()}
    spec = json.loads((sides["change"] / "BENCHMARK.json").read_text())
    recs = {"parent": [], "change": []}
    bad = []
    for seed in range(lo, hi + 1):
        order = ["parent", "change"] if seed % 2 else ["change", "parent"]
        for side in order:
            r = run(sides[side], a.workload, seed, a.seconds, a.trace)
            recs[side].append(r)
            e = r["end_to_end"]
            print(f"seed {seed:3d} {side:6s} requests={r['attempted']} failed={r['failed']} "
                  f"correct={r['correct']} " +
                  " ".join(f"{m['name']}={e[m['name']]:.4g}" for m in spec["end_to_end"]),
                  flush=True)
            if not r["correct"] or r["failed"]:
                bad.append(f"{side} seed {seed}: correct={r['correct']} failed={r['failed']} "
                           f"errors={r['errors'][:3]}")

    n = len(recs["parent"])
    print(f"\n# {a.workload}: {n} seed pairs ({lo}-{hi}), --seconds {a.seconds:g} "
          f"--trace {a.trace}")
    print(f"{'metric':20s} {'parent median':>14s} {'IQR':>10s} {'change median':>14s} "
          f"{'IQR':>10s} {'wins':>6s} {'gap':>10s}  gap > parent IQR")
    for m in spec["end_to_end"]:
        k, lower = m["name"], m["better"] == "lower"
        p = [r["end_to_end"][k] for r in recs["parent"]]
        c = [r["end_to_end"][k] for r in recs["change"]]
        pq, cq = quartiles(p), quartiles(c)
        wins = sum((y < x) if lower else (y > x) for x, y in zip(p, c))
        gap = cq[1] - pq[1]
        iqr = pq[2] - pq[0]
        rel = f"{100 * gap / pq[1]:+.1f}%" if pq[1] else "n/a"
        print(f"{k:20s} {pq[1]:14.4f} {iqr:10.4f} {cq[1]:14.4f} {cq[2] - cq[0]:10.4f} "
              f"{wins:3d}/{n:<2d} {gap:10.4f}  {'yes' if abs(gap) > iqr else 'no'} ({rel})")

    types = sorted(set().union(*(r["per_type"] for r in recs["parent"] + recs["change"])))
    if types:
        print(f"\n{'per-type p50 ms':24s} {'parent':>10s} {'change':>10s} {'change/parent':>14s}")
        for t in types:
            med = {s: statistics.median([r["per_type"][t]["p50_ms"] for r in recs[s]
                                         if t in r["per_type"]] or [float("nan")])
                   for s in recs}
            ratio = med["change"] / med["parent"] if med["parent"] else float("nan")
            print(f"{t:24s} {med['parent']:10.1f} {med['change']:10.1f} {ratio:14.3f}")

    if bad:
        print("\nincorrect or failed runs:\n" + "\n".join(bad))
        sys.exit(1)


if __name__ == "__main__":
    main()
