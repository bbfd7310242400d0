#!/usr/bin/env python3
"""Alternating A/B runs of perfbench between two checkouts of the repository:
the parent commit and the change.

    python3 tools/ab_pairs.py PARENT_DIR CHANGE_DIR --seeds 1501-1510 \\
        [--workload billmatch-kmeans --workload corpus-build] [--seconds 40] \\
        [--out results.json]

Each seed is one pair: `perfbench/run.py --trace 0` runs once in each
checkout, the parent first on even pairs and the change first on odd ones.
The two sides must give the same output digest and the same printed pair
count on every workload:seed. The table gives, per end-to-end metric of
BENCHMARK.json, both medians, the parent's quartiles, how many pairs the
change won and lost (ties count for neither), and whether a gain holds: the
change wins at least nine tenths of the pairs and its median is better by
more than the parent's interquartile distance. Exits non-zero when a run
fails or an output differs.

The checkouts can be made with `git worktree add` or `git clone`; each
builds its own engine under its .bench_build/.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def parse_seeds(spec):
    """'1501-1503,1510' -> [1501, 1502, 1503, 1510]."""
    seeds = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds += list(range(int(lo), int(hi or lo) + 1))
    return seeds


def quartiles(values):
    if len(values) < 2:
        return values[0], values[0]
    q1, _, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q3


def summarize(pairs, better):
    """One metric over (parent, change) pairs; `better` is 'lower' or 'higher'."""
    sign = -1 if better == "lower" else 1
    parent = [p for p, _ in pairs]
    change = [c for _, c in pairs]
    wins = sum(1 for p, c in pairs if sign * (c - p) > 0)
    losses = sum(1 for p, c in pairs if sign * (c - p) < 0)
    q1, q3 = quartiles(parent)
    pm, cm = statistics.median(parent), statistics.median(change)
    return {"n": len(pairs), "parent_median": pm, "change_median": cm,
            "parent_q1": q1, "parent_q3": q3, "wins": wins, "losses": losses,
            "gain": wins >= 0.9 * len(pairs) and sign * (cm - pm) > q3 - q1}


def run_once(checkout, workload, seed, seconds):
    """metrics, (digest, pairs) and an error or None of one perfbench run."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1])
    except (IndexError, ValueError):
        return {}, None, f"no result line (exit {proc.returncode}): {proc.stderr[-500:]}"
    report = json.loads((Path(checkout) / ".bench_build" / "logs"
                         / f"{workload}.result.json").read_text())
    output = (report["call"]["digest"], report["call"]["pairs"]) if report else None
    metrics = {name: m["value"] for name, m in res["metrics"].items()}
    error = None if res["correct"] else f"incorrect run: {proc.stderr[-500:]}"
    return metrics, output, error


def table(workload, runs, directions):
    print(f"\n{workload}: {len(runs)} pairs")
    print(f"  {'metric':18s} {'parent median':>14s} {'parent q1..q3':>22s} "
          f"{'change median':>14s} {'wins':>6s} {'losses':>6s}  gain")
    for name, better in directions.items():
        pairs = [(r["parent"][name], r["change"][name]) for r in runs
                 if name in r["parent"] and name in r["change"]]
        if not pairs:
            continue
        s = summarize(pairs, better)
        print(f"  {name:18s} {s['parent_median']:14.4g} "
              f"{s['parent_q1']:10.4g}..{s['parent_q3']:<10.4g} {s['change_median']:14.4g} "
              f"{s['wins']:>6d} {s['losses']:>6d}  {'yes' if s['gain'] else 'no'}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--seeds", required=True, type=parse_seeds)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--out")
    a = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    workloads = a.workload or [w["name"] for w in bench["workloads"]]
    seconds = a.seconds or bench["run_seconds"]
    directions = {m["name"]: m["better"] for m in bench["end_to_end"]}

    results, problems = {w: [] for w in workloads}, []
    for i, seed in enumerate(a.seeds):
        for w in workloads:
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            run = {"seed": seed, "first": order[0]}
            for side in order:
                metrics, output, error = run_once(getattr(a, side), w, seed, seconds)
                run[side], run[f"{side}_output"] = metrics, output
                if error:
                    problems.append(f"{w}:{seed} {side}: {error}")
            if run["parent_output"] != run["change_output"]:
                problems.append(f"{w}:{seed} outputs differ: parent {run['parent_output']}, "
                                f"change {run['change_output']}")
            results[w].append(run)
            print(f"{w}:{seed} first={order[0]} " + " ".join(
                f"{side}.cpu_s={run[side].get('cpu_s', float('nan')):.3f}"
                for side in ("parent", "change")), file=sys.stderr, flush=True)
            if a.out:
                Path(a.out).write_text(json.dumps(results, indent=1))

    for w in workloads:
        table(w, [r for r in results[w] if r["parent"] and r["change"]], directions)
    for p in problems:
        print(f"ab_pairs: {p}", file=sys.stderr)
    if not problems:
        print("\noutputs: digest and pairs identical on every workload:seed")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
