#!/usr/bin/env python3
"""Steadiness check: runs the benchmark in sets of runs, one seed per run,
and prints for every end-to-end metric its spread (quartile distance over
median) in each set and the shift of the median between sets, next to the
metric's bound from BENCHMARK.json. Also prints each set's share of failed
operations, which must be equal. Exits non-zero when a spread (other than
setup_s's) or a median shift exceeds its bound, a share differs, or a run
is not correct. Every run's result is appended to
perfbench/target/steady/<workload>.jsonl.

Usage (from the repository root):
  python3 perfbench/steady.py [--runs 10] [--sets 2] [--workload NAME ...]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(bench, workload, seed):
    cmd = [sys.executable if a == "python3" else a for a in bench["command"]]
    cmd += ["--workload", workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", "0"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-2000:])
        sys.exit(f"run failed: {workload} seed {seed}")
    return json.loads(lines[-1])


def spread(xs):
    q = statistics.quantiles(xs, n=4)
    return (q[2] - q[0]) / statistics.median(xs)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--workload", action="append")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    log_dir = os.path.join(HERE, "target", "steady")
    os.makedirs(log_dir, exist_ok=True)
    ok = True
    for w in workloads:
        sets = []
        for s in range(args.sets):
            runs = []
            for i in range(args.runs):
                seed = 1000 * (s + 1) + i
                r = run_once(bench, w, seed)
                with open(os.path.join(log_dir, f"{w}.jsonl"), "a") as fh:
                    fh.write(json.dumps({"set": s, "seed": seed, **r}) + "\n")
                runs.append(r)
            sets.append(runs)
        print(f"== {w}: {args.sets} sets of {args.runs} runs")
        shares = [sum(r["failed"] for r in rs) / sum(r["attempted"] for r in rs) for rs in sets]
        print(f"failed share per set: {shares}")
        ok &= len(set(shares)) == 1 and all(r["correct"] for rs in sets for r in rs)
        for m in bench["end_to_end"]:
            vals = [[r["metrics"][m["name"]]["value"] for r in rs] for rs in sets]
            meds = [statistics.median(v) for v in vals]
            sp = [spread(v) for v in vals]
            worse = [(b - meds[0]) / meds[0] * (1 if m["better"] == "lower" else -1)
                     for b in meds[1:]]
            # setup_s is held to its median shift only.
            steady = m["name"] == "setup_s" or max(sp) <= m["bound"]
            ok &= all(x <= m["bound"] for x in worse) and steady
            print(f"{m['name']:>10} bound {m['bound']:.2f}  medians "
                  + " ".join(f"{x:.4g}" for x in meds)
                  + "  spread " + " ".join(f"{x:.3f}" for x in sp)
                  + ("  (above a third of the bound)" if max(sp) > m["bound"] / 3 else "")
                  + "  worse-than-first " + " ".join(f"{x:+.3f}" for x in worse))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
