#!/usr/bin/env python3
"""Steadiness check: run one workload in two sets of runs, each run on its
own seed, and print every metric's spread against its bound.

    python3 perfbench/steady.py --workload ingest --runs 10

Run from the repository root. For each end-to-end metric it prints, per set,
the median and the spread (the distance between the first and third
quartile as a share of the median), the bound from BENCHMARK.json, how far
the second set's median moved against the first, and a suggested bound of
three times the widest spread seen. It exits non-zero when a spread
exceeds its bound, when the second median is worse than the first by more
than the bound, or when the share of failed operations differs between
the sets.
"""
import argparse
import os
import sys

import runs

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10, help="runs per set")
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--seed-base", type=int, default=1000)
    ap.add_argument("--seconds", type=int, default=None,
                    help="run length (default: BENCHMARK.json run_seconds)")
    a = ap.parse_args()
    spec = runs.spec(ROOT)
    seconds = a.seconds or spec["run_seconds"]
    metrics = spec["end_to_end"]
    runs.build(ROOT)

    sets = []
    for s in range(a.sets):
        values = {m["name"]: [] for m in metrics}
        attempted = failed = 0
        for i in range(a.runs):
            seed = a.seed_base + s * a.runs + i
            res, ref = runs.run_once(ROOT, a.workload, seed, seconds)
            if not res["correct"]:
                sys.exit(f"seed {seed}: a check failed")
            attempted += res["attempted"]
            failed += res["failed"]
            for m in metrics:
                values[m["name"]].append(res["metrics"][m["name"]]["value"])
            print(f"set {s + 1} seed {seed}: rounds {ref['rounds']} " +
                  " ".join(f"{k}={v[-1]:.4g}" for k, v in values.items()),
                  flush=True)
        sets.append((values, attempted, failed))

    ok = True
    print(f"\n{a.workload}: {a.runs} runs x {a.sets} sets, {seconds} s each")
    print(f"{'metric':<14}{'bound':>7}" +
          "".join(f"{'median' + str(i + 1):>12}{'spread' + str(i + 1):>9}"
                  for i in range(a.sets)) + f"{'moved':>8}{'suggest':>9}")
    for m in metrics:
        name, bound = m["name"], m["bound"]
        meds = [runs.quartiles(v[name])[1] for v, _, _ in sets]
        spreads = [runs.spread(v[name]) for v, _, _ in sets]
        sign = 1 if m["better"] == "lower" else -1
        moved = max(sign * (x - meds[0]) / meds[0] for x in meds[1:]) if len(meds) > 1 else 0.0
        bad = moved > bound or max(spreads) > bound
        ok &= not bad
        print(f"{name:<14}{bound:>7.3f}" +
              "".join(f"{med:>12.4g}{sp:>9.3f}" for med, sp in zip(meds, spreads)) +
              f"{moved:>8.3f}{min(0.25, 3 * max(spreads)):>9.3f}" + ("  OVER" if bad else ""))
    shares = {f / at if at else 0.0 for _, at, f in sets}
    if len(shares) > 1:
        ok = False
        print(f"failed share differs between sets: {sorted(shares)}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
