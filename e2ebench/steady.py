"""Steadiness check: runs two sets of the same build alternately, one run
from each in turn, each run on its own seed (set A seeds 1..N, set B
101..100+N), and reports for every end-to-end metric each set's median and
quartiles, the spread (Q3 - Q1) as a share of the median against the
metric's bound, and how far set B's median moved from set A's.

    python3 e2ebench/steady.py [--runs 10] [--workload NAME ...]

A metric passes when its spread in each set is under a third of its bound
and B's median is no worse than A's by more than the bound. Exits 1 if any
metric fails or any run is incorrect.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def run(workload, seed, seconds):
    p = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-2000:])
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workload", action="append")
    args = ap.parse_args()
    workloads = args.workload or [w["name"] for w in spec["workloads"]]
    ok = True
    for w in workloads:
        sets = ([], [])
        for i in range(args.runs):
            for s in ((0, 1) if i % 2 == 0 else (1, 0)):
                res = run(w, 1 + i + 100 * s, spec["run_seconds"])
                ok &= res["correct"] and res["failed"] == 0
                sets[s].append(res)
                print(f"{w} set {'AB'[s]} run {i}: " + " ".join(
                    f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        print(f"\n{w}: metric, set, median [Q1, Q3], spread/bound")
        for m in spec["end_to_end"]:
            name, b = m["name"], m["bound"]
            meds = []
            for s, runs in enumerate(sets):
                vals = [r["metrics"][name]["value"] for r in runs]
                q1, _, q3 = statistics.quantiles(vals, n=4)
                med = statistics.median(vals)
                spread = (q3 - q1) / med
                meds.append(med)
                good = spread < b / 3
                ok &= good
                print(f"  {name:<16} {'AB'[s]} {med:>12.5g} [{q1:.5g}, {q3:.5g}] "
                      f"spread {spread:.3f} / bound {b} {'ok' if good else 'TOO WIDE'}")
            worse = (meds[1] - meds[0]) / meds[0] * (1 if m["better"] == "lower" else -1)
            good = worse <= b
            ok &= good
            print(f"  {name:<16} B vs A: {worse:+.3f} worse {'ok' if good else 'FAIL'}", flush=True)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
