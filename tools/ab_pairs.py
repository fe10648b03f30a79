#!/usr/bin/env python3
"""Alternating A/B pairs of the repo benchmark on two checkouts.

    python3 tools/ab_pairs.py <parent_dir> <change_dir> --workload serve \
        --pairs 10 [--seed 1]

Pair i runs `python3 perfbench/run.py --workload W --seed <seed+i>
--seconds S --trace 0` once in each checkout, with S the `run_seconds` of
the parent's BENCHMARK.json and the same seed on both sides. The parent goes
first in even pairs and the change in odd ones, so drift on a shared box
falls on both sides alike. Each run's last stdout line is its JSON result. A run that is not `correct`, has `failed > 0` or prints
no result is reported and not counted; a pair counts only when both of its
runs count.

For each end-to-end metric of the parent's BENCHMARK.json it prints each
side's median and quartiles, the change/parent ratio of the medians against
the metric's bound, the pairs the change wins (ties count for neither), and
whether a gain holds by the rule: the change wins at least 9/10 of the
counted pairs and the medians differ, in the better direction, by more than
the parent's interquartile range.

Create each side with `git clone` (or `git worktree add`) from the commit it
measures, never with `cp -a` of a checkout that has been built: the copy
carries the original's sbt build state, which names the original's absolute
paths, so building one side can delete the other's
`target/scala-2.13/classes`, and that side's next run dies with
`NoClassDefFoundError`.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

RUN_TIMEOUT_S = 900


def run_once(checkout, workload, seed, seconds):
    """One benchmark run; returns (result dict or None, reason if rejected)."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    try:
        p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True,
                           timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        return None, f"timed out after {RUN_TIMEOUT_S} s"
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    try:
        res = json.loads(lines[-1])
    except (IndexError, ValueError):
        tail = p.stderr.strip().splitlines()[-1:] or ["no output"]
        return None, f"exit {p.returncode}, no JSON result: {tail[0]}"
    if not res.get("correct") or res.get("failed", 0) > 0:
        return res, f"correct={res.get('correct')} failed={res.get('failed')}"
    return res, None


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q1, _, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q3


def report(metrics, pairs):
    """Prints one row per metric over the counted pairs."""
    print(f"{len(pairs)} counted pairs")
    if not pairs:
        return
    print(f"{'metric':<16} {'parent med [q1, q3]':<30} {'change med [q1, q3]':<30} "
          f"{'ratio':>7} {'bound':>6} {'wins':>6}  gain")
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        par = [p[name] for p, _ in pairs]
        chg = [c[name] for _, c in pairs]
        pm, cm = statistics.median(par), statistics.median(chg)
        (p1, p3), (c1, c3) = quartiles(par), quartiles(chg)
        wins = sum(1 for p, c in zip(par, chg) if (c < p if lower else c > p))
        gap = (pm - cm) if lower else (cm - pm)
        gain = wins >= 0.9 * len(pairs) and gap > p3 - p1
        ratio = cm / pm if pm else float("nan")
        worse = (ratio - 1) if lower else (1 - ratio)
        within = "ok" if worse <= m["bound"] else "OVER"
        print(f"{name:<16} {pm:>9.3f} [{p1:.3f}, {p3:.3f}]".ljust(47) +
              f"{cm:>9.3f} [{c1:.3f}, {c3:.3f}]".ljust(31) +
              f"{ratio:>7.3f} {within:>6} {wins:>3}/{len(pairs):<2}  {'yes' if gain else 'no'}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent_dir", type=Path)
    ap.add_argument("change_dir", type=Path)
    ap.add_argument("--workload", required=True, choices=["suite", "serve"])
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed", type=int, default=1, help="seed of the first pair")
    a = ap.parse_args()

    bench = json.loads((a.parent_dir / "BENCHMARK.json").read_text())
    metrics, seconds = bench["end_to_end"], bench["run_seconds"]
    sides = {"parent": a.parent_dir, "change": a.change_dir}
    pairs = []
    for i in range(a.pairs):
        seed = a.seed + i
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        got = {}
        for side in order:
            res, why = run_once(sides[side], a.workload, seed, seconds)
            if why:
                print(f"pair {i} seed {seed} {side}: run not counted ({why})", flush=True)
            else:
                got[side] = {k: v["value"] for k, v in res["metrics"].items()}
        if len(got) == 2:
            pairs.append((got["parent"], got["change"]))
            print(f"pair {i} seed {seed} ({order[0]} first): " + ", ".join(
                f"{m['name']} {got['parent'][m['name']]:.3f} -> {got['change'][m['name']]:.3f}"
                for m in metrics), flush=True)
    report(metrics, pairs)


if __name__ == "__main__":
    main()
