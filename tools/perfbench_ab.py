#!/usr/bin/env python3
"""Alternating A/B runs of one perfbench workload in two checkouts.

Usage: python3 tools/perfbench_ab.py --parent DIR --change DIR \\
           --workload W --pairs N --seed0 S

Pair i runs `python3 perfbench/run.py --workload W --seed S+i --seconds 3
--trace 0` in each checkout, one after the other; the parent goes first in
even-numbered pairs and the change first in odd ones, so a host that
drifts during the session does not favour either side. For every
end-to-end metric of the change's BENCHMARK.json it prints the per-pair
values, each side's median and quartiles, the pairs the change won and
the change in median, and for every run its `correct` and `failed`
fields. It exits non-zero if any run was not correct or printed no
result.

Make each side a clean checkout of committed files (`git worktree add`,
or `git archive REV | tar -x -C DIR`) and never copy `target/` between
them: zinc's analysis records absolute source paths, so an sbt build in
one copy can delete the other copy's compiled classes. Each checkout
builds its own harness on its first run; do one untimed warm-up run per
side first if build time must stay out of the first pair.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run_once(checkout, workload, seed):
    """One perfbench run; returns its parsed last stdout line, or None."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", "3", "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    try:
        return json.loads(lines[-1])
    except (IndexError, ValueError):
        sys.stderr.write(f"{checkout} seed {seed}: no result (exit {p.returncode})\n"
                         + p.stderr[-2000:] + "\n")
        return None


def quartiles(xs):
    """(first quartile, median, third quartile) of `xs`."""
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    return tuple(statistics.quantiles(xs, n=4, method="inclusive"))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, required=True)
    a = ap.parse_args()

    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]
    sides = {"parent": a.parent, "change": a.change}
    runs = {"parent": [], "change": []}
    for i in range(a.pairs):
        seed = a.seed0 + i
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            res = run_once(sides[side], a.workload, seed)
            runs[side].append(res)
            status = ("no result" if res is None else
                      f"correct={res.get('correct')} failed={res.get('failed')}")
            print(f"pair {i + 1} seed {seed} {side}: {status}", flush=True)

    ok = all(r is not None and r.get("correct") is True
             for side in runs.values() for r in side)
    print()
    print(f"workload {a.workload}, {a.pairs} pairs, seeds {a.seed0}-{a.seed0 + a.pairs - 1}")
    print("| metric | parent median (IQR) | change median (IQR) "
          "| change better | Δ median |")
    print("|---|---|---|---|---|")
    per_pair = []
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        pairs = [(p["metrics"][name]["value"], c["metrics"][name]["value"])
                 for p, c in zip(runs["parent"], runs["change"])
                 if p is not None and c is not None
                 and name in p["metrics"] and name in c["metrics"]]
        if not pairs:
            print(f"| {name} | no complete pair | | | |")
            continue
        ps, cs = [p for p, _ in pairs], [c for _, c in pairs]
        wins = sum((c < p) if lower else (c > p) for p, c in pairs)
        (p1, pm, p3), (c1, cm, c3) = quartiles(ps), quartiles(cs)
        delta = (cm - pm) / pm * 100 if pm else float("nan")
        print(f"| {name} | {pm:.2f} ({p1:.2f}–{p3:.2f}) | {cm:.2f} ({c1:.2f}–{c3:.2f}) "
              f"| {wins}/{len(pairs)} | {delta:+.1f} % |")
        per_pair.append(f"- `{name}`: " + ", ".join(f"{p:.2f} → {c:.2f}" for p, c in pairs))
    print()
    print("Per pair, parent → change:")
    print("\n".join(per_pair))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
