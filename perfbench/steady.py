#!/usr/bin/env python3
"""Steadiness check: two sets of benchmark runs of one checkout, in
alternating order, with a different seed per run pair.

    python3 perfbench/steady.py [--runs N] [--workloads crawl,ops]

For every workload and end-to-end metric it prints each set's median and
quartiles, the spread (Q3 - Q1) / median, and the drift of set B's median
from set A's, against the metric's bound in BENCHMARK.json. It also
compares the failed share of operations between the sets, which must be
identical. Exits 1 when a spread (setup_s excepted) or a drift exceeds
its bound, or the failed shares differ.
"""
import argparse
import json
import statistics
import subprocess
import sys


def one_run(workload, seed, seconds):
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       capture_output=True, text=True, timeout=900)
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-3000:])
        raise SystemExit(f"run failed: {workload} seed {seed}")
    return json.loads(r.stdout.strip().splitlines()[-1])


def main():
    bench = json.load(open("BENCHMARK.json"))
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    bad = []
    for w in a.workloads.split(","):
        sets = {"A": [], "B": []}
        for i in range(a.runs):
            order = ["A", "B"] if i % 2 == 0 else ["B", "A"]
            for s in order:
                seed = 1000 + 2 * i + (0 if s == "A" else 1)
                sets[s].append(one_run(w, seed, bench["run_seconds"]))
                print(f"{w} run {i} set {s} seed {seed}: "
                      + json.dumps({k: round(v["value"], 4) for k, v in sets[s][-1]["metrics"].items()}),
                      file=sys.stderr, flush=True)
        shares = {s: sum(r["failed"] for r in rs) / sum(r["attempted"] for r in rs)
                  for s, rs in sets.items()}
        per_run = {s: sorted({r["failed"] / r["attempted"] for r in rs}) for s, rs in sets.items()}
        if per_run["A"] != per_run["B"] or len(per_run["A"]) != 1:
            bad.append(f"{w}: failed shares per run differ: {per_run}")
        if not all(r["correct"] for rs in sets.values() for r in rs):
            bad.append(f"{w}: a run reported incorrect output")
        print(f"\n{w}: failed share A={shares['A']:.6f} B={shares['B']:.6f}")
        print(f"{'metric':<12}{'set':>4}{'median':>10}{'q1':>10}{'q3':>10}{'spread':>8}  bound")
        for m, bound in bounds.items():
            row = {}
            for s, rs in sets.items():
                v = [r["metrics"][m]["value"] for r in rs]
                q1, med, q3 = statistics.quantiles(v, n=4)
                row[s] = {"median": statistics.median(v), "spread": (q3 - q1) / statistics.median(v)}
                print(f"{m:<12}{s:>4}{row[s]['median']:>10.4f}{q1:>10.4f}{q3:>10.4f}"
                      f"{row[s]['spread']:>8.3f}  {bound}")
                if m != "setup_s" and row[s]["spread"] > bound:
                    bad.append(f"{w} {m} set {s}: spread {row[s]['spread']:.3f} > {bound}")
            drift = row["B"]["median"] / row["A"]["median"] - 1
            print(f"{'':<12}{'':>4} drift B vs A {drift:+.3f}")
            if abs(drift) > bound:
                bad.append(f"{w} {m}: drift {drift:+.3f} beyond {bound}")
    print("\n" + ("\n".join(bad) if bad else "steady: every spread and drift within its bound"))
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
