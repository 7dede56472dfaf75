"""Interleaved A/B pairs of the benchmark between two checkouts.

    python3 scripts/ab_pairs.py --parent ../graft-parent --change . \
        --workload api_serve --seeds 101-110

Runs `perfbench/run.py` (untraced, for the `run_seconds` that the
change's `BENCHMARK.json` sets) in each checkout once per seed. The
two sides of a pair use the same seed and alternate which one runs
first, so drift of the host's speed lands on both. Then prints, for
each end-to-end metric of `BENCHMARK.json`, each side's median and
quartiles over its correct runs, each side's failed runs, the change's
win count over all pairs run (a pair with a failed side is no win for
the change; ties count for neither) and whether a gain holds: the
change wins at least nine tenths of all pairs, fails no more runs than
the parent, and the medians differ by more than the parent's
interquartile range.

The checkouts are only read and run; the script writes nothing into
them beyond what a benchmark run itself leaves (its build cache).
Every run's metrics are printed as it finishes.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys


def parse_seeds(text):
    seeds = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds += range(int(lo), int(hi or lo) + 1)
    return seeds


def run_once(checkout, workload, seed, seconds):
    """The run's last output line as a dict; `correct` False on failure."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [x for x in p.stdout.splitlines() if x.startswith("{")]
    try:
        res = json.loads(lines[-1])
    except (IndexError, ValueError):
        sys.stderr.write(p.stderr[-2000:])
        return {"correct": False, "metrics": {}}
    res["correct"] = res.get("correct", False) and p.returncode == 0
    return res


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def value(run, name):
    """The metric's value in a correct run, else None."""
    m = run["metrics"].get(name) if run["correct"] else None
    return m["value"] if m else None


def summarize(pairs, metrics):
    """One row per metric: (name, parent q1/med/q3, change q1/med/q3,
    wins, pairs run, gain holds). Failed runs stay in the pair count."""
    fails = {side: sum(1 for p in pairs if not p[side]["correct"])
             for side in ("parent", "change")}
    rows = []
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        both = [(value(p["parent"], name), value(p["change"], name)) for p in pairs]
        par = [a for a, _ in both if a is not None]
        chg = [b for _, b in both if b is not None]
        if not par or not chg:
            continue
        wins = sum(1 for a, b in both
                   if b is not None and (a is None or (b < a if lower else b > a)))
        pq, cq = quartiles(par), quartiles(chg)
        better = cq[1] < pq[1] if lower else cq[1] > pq[1]
        holds = (wins >= 0.9 * len(pairs) and fails["change"] <= fails["parent"]
                 and better and abs(cq[1] - pq[1]) > pq[2] - pq[0])
        rows.append((name, pq, cq, wins, len(pairs), holds))
    return fails, rows


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 101-110 or 1,4,7")
    args = ap.parse_args()
    sides = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    with open(os.path.join(sides["change"], "BENCHMARK.json")) as f:
        bench = json.load(f)
    pairs = []
    for i, seed in enumerate(parse_seeds(args.seeds)):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        res = {}
        for side in order:
            res[side] = run_once(sides[side], args.workload, seed, bench["run_seconds"])
            vals = {k: round(v["value"], 3) for k, v in res[side]["metrics"].items()}
            print(f"pair {i} seed {seed} {side:6s} correct={res[side]['correct']} {vals}",
                  flush=True)
        pairs.append(res)
    fails, rows = summarize(pairs, bench["end_to_end"])
    print(f"\n{args.workload}: {len(pairs)} pairs, failed runs: "
          f"parent {fails['parent']}, change {fails['change']}")
    print(f"{'metric':14s} {'parent q1 / median / q3':>28s} {'change q1 / median / q3':>28s}"
          f" {'wins':>6s}  gain")
    for name, pq, cq, wins, n, holds in rows:
        fmt = lambda q: " / ".join(f"{v:8.3f}" for v in q)  # noqa: E731
        print(f"{name:14s} {fmt(pq):>28s} {fmt(cq):>28s} {wins:>3d}/{n:<2d}  "
              f"{'holds' if holds else '-'}")
    return 0 if not any(fails.values()) else 1


if __name__ == "__main__":
    sys.exit(main())
