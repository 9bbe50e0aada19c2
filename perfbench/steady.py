#!/usr/bin/env python3
"""Steadiness and tracing-overhead report for one workload.

    python3 perfbench/steady.py --workload NAME [--runs K] [--sets N]
                                [--first-seed S] [--traced M] [--seconds T]

Runs the workload K times per set (each run with its own seed), N sets in a
row, and prints for every end-to-end metric its median, quartiles and
spread, the (q3 - q1) / median that BENCHMARK.json's bound is checked
against (quartiles as Python's statistics.quantiles(values, n=4) gives
them). With two or more sets it also prints each further set's spread and
how far its median lies from the first set's, as a share of that median. With --traced M it then
makes M traced runs and reports the tracing overhead: the traced runs'
median trace.batch_s minus the untraced runs' median batch_s, and the median
of the in-run trace.overhead_s. Run it from the root of a checkout.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload, seed, seconds, trace):
    r = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.exit(f"run failed (seed {seed}, exit {r.returncode}):\n{r.stderr[-2000:]}")
    res = json.loads(lines[-1])
    if not res["correct"]:
        sys.exit(f"output check failed (seed {seed}): {res}")
    return {k: v["value"] for k, v in res["metrics"].items()}


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--traced", type=int, default=0)
    ap.add_argument("--seconds", type=float)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = a.seconds or bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    sets = []
    seed = a.first_seed
    for s in range(a.sets):
        runs = []
        for _ in range(a.runs):
            runs.append(run_once(a.workload, seed, seconds, 0))
            seed += 1
            print(f"set {s + 1} run {len(runs)}: " + " ".join(
                f"{k}={v:.4g}" for k, v in runs[-1].items()), flush=True)
        sets.append(runs)

    print(f"\n{a.workload}: {a.runs} runs per set, {a.sets} set(s), {seconds:g} s each")
    print(f"{'metric':<14}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}{'bound/3':>9}"
          + "".join(f"{'set' + str(i + 1) + ' spread':>13}{'shift':>8}"
                    for i in range(1, a.sets)))
    for name in sets[0][0]:
        med, q1, q3, sp = spread([r[name] for r in sets[0]])
        b = bounds.get(name)
        wide = b is not None and name != "setup_s" and sp >= b / 3
        others = []
        for other in sets[1:]:
            m2, _, _, sp2 = spread([r[name] for r in other])
            wide = wide or (b is not None and name != "setup_s" and sp2 >= b / 3)
            others.append(f"{sp2:>13.3f}{(m2 - med) / med:>+8.3f}")
        print(f"{name:<14}{med:>12.4f}{q1:>12.4f}{q3:>12.4f}{sp:>9.3f}"
              f"{(b / 3 if b else float('nan')):>9.3f}" + "".join(others)
              + ("  WIDE" if wide else ""))

    if a.traced:
        traced = [run_once(a.workload, seed + i, seconds, 1) for i in range(a.traced)]
        tb = statistics.median(r["trace.batch_s"] for r in traced)
        ub = statistics.median(r["batch_s"] for runs in sets for r in runs)
        inrun = statistics.median(r["trace.overhead_s"] for r in traced)
        print(f"\ntracing overhead: traced batch_s {tb:.4f} s - untraced batch_s {ub:.4f} s"
              f" = {tb - ub:+.4f} s ({(tb - ub) / ub:+.1%});"
              f" in-run traced-minus-untraced pass median {inrun:+.4f} s")


if __name__ == "__main__":
    main()
