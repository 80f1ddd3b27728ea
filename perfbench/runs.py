"""Helpers shared by the steadiness and A/B commands: run one workload of a
checkout's benchmark and read back its result lines."""
import json
import os
import statistics
import subprocess
import sys


def spec(checkout):
    with open(os.path.join(checkout, "BENCHMARK.json")) as f:
        return json.load(f)


def build(checkout):
    """Compile the checkout's program and benchmark once, untimed."""
    subprocess.run([sys.executable, os.path.join("perfbench", "run.py"),
                    "--build-only"], cwd=checkout, check=True)


def run_once(checkout, workload, seed, seconds, trace=0):
    """One run; returns (result, reference) as parsed from the last two
    lines of standard output, or raises when the run failed."""
    p = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"),
         "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or len(lines) < 2:
        sys.stderr.write(p.stderr[-3000:])
        raise RuntimeError(f"{workload} seed {seed} in {checkout} exited {p.returncode}")
    return json.loads(lines[-1]), json.loads(lines[-2])


def quartiles(values):
    """(q1, median, q3) as statistics.quantiles(values, n=4) gives them."""
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / med if med else float("inf")
