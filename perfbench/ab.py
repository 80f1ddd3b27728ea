#!/usr/bin/env python3
"""A/B comparison of two checkouts on one workload.

    python3 perfbench/ab.py --parent ../graft-parent --change . \\
        --workload ingest --pairs 10

Each checkout is a full copy of the repository (for instance a `git clone`
or `git archive` of the parent commit and of the change). Both are
compiled once before any timed run. Then PAIRS pairs run, each pair on its
own seed, alternating which side runs first. For every end-to-end metric,
and for the per-operation medians each run reports, it prints both
sides' medians and quartiles and the share of pairs the change won (ties
count for neither side).
"""
import argparse
import os

import runs


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed-base", type=int, default=5000)
    ap.add_argument("--seconds", type=int, default=None)
    a = ap.parse_args()
    sides = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    spec = runs.spec(sides["change"])
    seconds = a.seconds or spec["run_seconds"]
    better = {m["name"]: m["better"] for m in spec["end_to_end"]}
    for d in sides.values():
        runs.build(d)

    vals = {"parent": [], "change": []}
    for i in range(a.pairs):
        seed = a.seed_base + i
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            res, ref = runs.run_once(sides[side], a.workload, seed, seconds)
            row = {k: v["value"] for k, v in res["metrics"].items()}
            row.update({f"op.{k}_p50_s": v["p50_s"] for k, v in ref["ops"].items()})
            row["correct"] = res["correct"]
            vals[side].append(row)
        print(f"pair {i + 1}/{a.pairs} seed {seed} done ({order[0]} first)", flush=True)

    names = [n for n in vals["parent"][0] if n != "correct"]
    print(f"\n{a.workload}: {a.pairs} pairs, {seconds} s runs")
    print(f"{'metric':<26}{'parent q1/med/q3':>30}{'change q1/med/q3':>30}{'wins':>7}")
    for n in names:
        lower = better.get(n, "lower") == "lower"
        p = [r[n] for r in vals["parent"]]
        c = [r[n] for r in vals["change"]]
        wins = sum(1 for x, y in zip(p, c) if (y < x if lower else y > x))
        fmt = lambda q: "/".join(f"{x:.4g}" for x in q)
        print(f"{n:<26}{fmt(runs.quartiles(p)):>30}{fmt(runs.quartiles(c)):>30}"
              f"{wins / a.pairs:>7.2f}")
    bad = [s for s, rows in vals.items() if not all(r["correct"] for r in rows)]
    if bad:
        print(f"checks failed on: {', '.join(bad)}")


if __name__ == "__main__":
    main()
