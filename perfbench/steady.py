"""Steadiness command: runs one workload K times, each with another seed, and
prints each metric's median, quartiles and spread (quartile distance over
median) — the figures the bounds in BENCHMARK.json are set from.

    python3 perfbench/steady.py --workload batch_dedup --runs 10 [--trace 0]
        [--first-seed 1]

Runs are sequential; each is `run.py` exactly as the benchmark command runs
it, measuring BENCHMARK.json's run_seconds.
Exits non-zero if any run failed or was incorrect.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    print(f"seed {seed}: run took {time.time() - t0:.1f} s of wall time")
    lines = p.stdout.strip().splitlines()
    try:
        return p.returncode, json.loads(lines[-1])
    except (IndexError, ValueError):
        sys.stderr.write(p.stdout[-3000:])
        return p.returncode or 1, None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        seconds = json.load(fh)["run_seconds"]

    values, shares, bad = {}, [], 0
    for i in range(args.runs):
        seed = args.first_seed + i
        code, res = run_once(args.workload, seed, seconds, args.trace)
        if code != 0 or res is None or not res["correct"]:
            bad += 1
            print(f"seed {seed}: exit {code}, result {res}")
            continue
        shares.append(res["failed"] / res["attempted"])
        for name, m in res["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(f"seed {seed}: " + ", ".join(f"{k}={m['value']:.4g}"
                                            for k, m in res["metrics"].items()))
    print(f"{args.workload}: {args.runs - bad}/{args.runs} runs correct; "
          f"failed share per run {sorted(set(shares))}")
    for name, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (med, med, med)
        spread = (q3 - q1) / med if med else float("nan")
        print(f"{name:<34} median {med:.5g}  q1 {q1:.5g}  q3 {q3:.5g}  spread {spread:.3f}  "
              f"(n={len(vs)})")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
