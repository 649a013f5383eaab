#!/usr/bin/env python3
"""Steadiness self-check: two sets of untraced runs of the same tree.

    python3 benchmark/steady.py --runs 10 [--workloads cluster,ingest]
                                [--traced-runs 3] [--out steady.json]

Run from the root of a checkout. Each run uses a fresh seed and the
command, ``run_seconds`` and metrics of ``BENCHMARK.json``. For every
end-to-end metric on every workload it prints each set's median and
quartiles, the set's spread (quartile distance over the median), and
whether the two sets agree: each set's spread is within the metric's bound
and the two medians differ, either way, by no more than the bound as a
share of the first. It also checks that the share of failed ops is the
same in both sets. With ``--traced-runs N`` it then makes N traced runs per
workload and prints the median of every per-layer metric, and the tracing
overhead as traced minus untraced median op latency.

Exit code 0 when every comparison agrees.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys


def _run(cmd: list[str], workload: str, seed: int, seconds: int,
         trace: int) -> dict:
    proc = subprocess.run(
        cmd + ["--workload", workload, "--seed", str(seed),
               "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, timeout=900)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-3000:])
        raise RuntimeError(f"{workload} seed {seed} exited {proc.returncode}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--runs", type=int, default=10, help="runs per set")
    p.add_argument("--workloads", help="comma-separated (default: all)")
    p.add_argument("--traced-runs", type=int, default=0)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--out", help="also write every run's result here")
    args = p.parse_args(argv)

    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    names = (args.workloads.split(",") if args.workloads
             else [w["name"] for w in bench["workloads"]])
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    seconds = bench["run_seconds"]

    seed = args.first_seed
    results: dict = {"untraced": {w: [[], []] for w in names},
                     "traced": {w: [] for w in names}}
    for s in range(2):
        for w in names:
            for _ in range(args.runs):
                r = _run(bench["command"], w, seed, seconds, 0)
                r["seed"] = seed
                seed += 1
                results["untraced"][w][s].append(r)
                print(f"set {s + 1} {w} seed {r['seed']}: "
                      + " ".join(f"{k}={v['value']:.4g}"
                                 for k, v in r["metrics"].items()),
                      flush=True)

    agree = True
    print(f"\n{'workload':8} {'metric':14} {'set':3} {'q1':>10} "
          f"{'median':>10} {'q3':>10} {'spread':>7} {'bound':>6}")
    for w in names:
        sets = results["untraced"][w]
        shares = [sum(r["failed"] for r in runs)
                  / sum(r["attempted"] for r in runs) for runs in sets]
        if shares[0] != shares[1] or not all(r["correct"] for runs in sets
                                             for r in runs):
            agree = False
            print(f"{w}: failed share {shares} or incorrect output")
        for m, spec in e2e.items():
            meds = []
            for s, runs in enumerate(sets):
                q1, med, q3 = statistics.quantiles(
                    [r["metrics"][m]["value"] for r in runs], n=4)
                spread = (q3 - q1) / med
                meds.append(med)
                ok = spread <= spec["bound"]
                agree &= ok
                print(f"{w:8} {m:14} {s + 1:3} {q1:10.4g} {med:10.4g} "
                      f"{q3:10.4g} {spread:7.3f} {spec['bound']:6.2f}"
                      f"{'' if ok else '  SPREAD > BOUND'}")
            # signed so that + is worse; either direction past the bound
            # means the sets disagree
            worse = ((meds[1] - meds[0]) if spec["better"] == "lower"
                     else (meds[0] - meds[1])) / meds[0]
            ok = abs(worse) <= spec["bound"]
            agree &= ok
            print(f"{'':8} {'':14} set 2 vs 1: {worse:+.3f} of the first "
                  f"median{'' if ok else '  APART BY MORE THAN BOUND'}")

    for w in names:
        for _ in range(args.traced_runs):
            r = _run(bench["command"], w, seed, seconds, 1)
            r["seed"] = seed
            seed += 1
            results["traced"][w].append(r)
    if args.traced_runs:
        print(f"\nper-layer medians over {args.traced_runs} traced runs")
        layer_names = [m["name"] for m in bench["per_layer"]]
        print(f"{'metric':26} " + " ".join(f"{w:>12}" for w in names))
        for m in layer_names:
            print(f"{m:26} " + " ".join(
                f"{statistics.median(r['metrics'][m]['value'] for r in results['traced'][w]):12.4g}"
                for w in names))
        for w in names:
            untraced = statistics.median(
                r["metrics"]["latency_p50_s"]["value"]
                for runs in results["untraced"][w] for r in runs)
            traced = statistics.median(
                r["metrics"]["traced.latency_p50_s"]["value"]
                for r in results["traced"][w])
            print(f"{w}: tracing overhead {traced - untraced:+.4f} s per op "
                  f"({(traced - untraced) / untraced:+.1%} of {untraced:.4g} s)")

    if args.out:
        with open(args.out, "w") as fh:
            json.dump(results, fh, indent=1)
    print("\nall agree" if agree else "\nNOT STEADY")
    return 0 if agree else 1


if __name__ == "__main__":
    sys.exit(main())
