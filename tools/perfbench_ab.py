#!/usr/bin/env python3
"""Alternating A/B runs of two checkouts: a perfbench workload, or a list
of declared queries timed by graft.tools.BenchOne.

Usage: python3 tools/perfbench_ab.py --parent DIR --change DIR \\
           --workload W --pairs N --seed0 S
       python3 tools/perfbench_ab.py --parent DIR --change DIR \\
           --queries q1,q2,... --sf SFDIR --pairs N

Workload mode: pair i runs `python3 perfbench/run.py --workload W --seed
S+i --seconds 3 --trace 0` in each checkout. For every end-to-end metric
of the change's BENCHMARK.json it prints the per-pair values, each side's
median and quartiles, the pairs the change won and the change in median,
and for every run its `correct` and `failed` fields. It exits non-zero if
any run was not correct or printed no result.

Query mode: pair i runs `sbt -batch "runMain graft.tools.BenchOne SFDIR
q1 q2 ... q1 q2 ..."` in each checkout: the list twice in one JVM, so the
second pass runs with the session and the generated classes warm.
BenchOne starts the second pass with `CorpusMemo.invalidate`, as
perfbench's passes do, so the pass builds its per-corpus memos again and
a memo-building query's time includes its build. A checkout whose
BenchOne predates that reads the first pass's memos instead; give both
sides the same BenchOne before comparing them. It keeps each query's
second `TIMING` line and prints the same table per query (lower is
better). It exits non-zero if
any query failed or printed no timing. sbt and BenchOne read their
settings from the environment (`COURSIER_MODE`, `SBT_OPTS`,
`SPARK_DRIVER_MEM`, `SPARK_GRAFT_CPUS`, which defaults to 32 cores).

In both modes the parent goes first in even-numbered pairs and the change
first in odd ones, so a host that drifts during the session does not
favour either side.

Make each side a clean checkout of committed files (`git worktree add`,
or `git archive REV | tar -x -C DIR`) and never copy `target/` between
them: zinc's analysis records absolute source paths, so an sbt build in
one copy can delete the other copy's compiled classes. Each checkout
builds its own harness (or classes) on its first run; do one untimed
warm-up run per side first if build time must stay out of the first pair.
"""
import argparse
import json
import os
import re
import statistics
import subprocess
import sys

# sbt may prefix a forked JVM's lines with a log tag such as "[info] "
TIMING = re.compile(r"TIMING (\S+)\s+([0-9.]+) s\s*$")


def run_workload(checkout, workload, seed):
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


def run_queries(checkout, sf, queries):
    """One BenchOne JVM over the list twice; returns {query: second-pass
    seconds} for the queries that timed twice."""
    args = " ".join([sf] + queries + queries)
    cmd = ["sbt", "-batch", f"runMain graft.tools.BenchOne {args}"]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    seen = {}
    for ln in p.stdout.splitlines():
        m = TIMING.search(ln)
        if m:
            seen.setdefault(m.group(1), []).append(float(m.group(2)))
    if p.returncode != 0 or any(len(seen.get(q, [])) < 2 for q in queries):
        sys.stderr.write(f"{checkout}: missing timings (exit {p.returncode})\n"
                         + "\n".join(ln for ln in p.stdout.splitlines()
                                     if "TIMING" in ln) + "\n"
                         + p.stderr[-2000:] + "\n")
    return {q: ts[1] for q, ts in seen.items() if len(ts) >= 2}


def quartiles(xs):
    """(first quartile, median, third quartile) of `xs`."""
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    return tuple(statistics.quantiles(xs, n=4, method="inclusive"))


def report(rows, label):
    """Print the median/IQR/wins/Δ table and the per-pair values; `rows`
    is a list of (name, [(parent, change), ...], lower_is_better)."""
    print(f"| {label} | parent median (IQR) | change median (IQR) "
          "| change better | Δ median |")
    print("|---|---|---|---|---|")
    per_pair = []
    for name, pairs, lower in rows:
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


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--workload")
    ap.add_argument("--seed0", type=int)
    ap.add_argument("--queries", help="comma-separated declared query names")
    ap.add_argument("--sf", help="fixture dir for --queries")
    a = ap.parse_args()
    if (a.workload is None) == (a.queries is None):
        ap.error("give exactly one of --workload or --queries")
    if a.workload is not None and a.seed0 is None:
        ap.error("--workload needs --seed0")
    if a.queries is not None and a.sf is None:
        ap.error("--queries needs --sf")
    queries = a.queries.split(",") if a.queries else []

    sides = {"parent": a.parent, "change": a.change}
    runs = {"parent": [], "change": []}
    for i in range(a.pairs):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            if a.workload:
                seed = a.seed0 + i
                res = run_workload(sides[side], a.workload, seed)
                status = ("no result" if res is None else
                          f"correct={res.get('correct')} failed={res.get('failed')}")
                print(f"pair {i + 1} seed {seed} {side}: {status}", flush=True)
            else:
                res = run_queries(sides[side], a.sf, queries)
                print(f"pair {i + 1} {side}: " + ", ".join(
                    f"{q} {res[q]:.2f}" if q in res else f"{q} FAILED"
                    for q in queries), flush=True)
            runs[side].append(res)
    print()

    if a.workload:
        ok = all(r is not None and r.get("correct") is True
                 for side in runs.values() for r in side)
        print(f"workload {a.workload}, {a.pairs} pairs, "
              f"seeds {a.seed0}-{a.seed0 + a.pairs - 1}")
        with open(os.path.join(a.change, "BENCHMARK.json")) as f:
            metrics = json.load(f)["end_to_end"]
        rows = [(m["name"],
                 [(p["metrics"][m["name"]]["value"], c["metrics"][m["name"]]["value"])
                  for p, c in zip(runs["parent"], runs["change"])
                  if p is not None and c is not None
                  and m["name"] in p["metrics"] and m["name"] in c["metrics"]],
                 m["better"] == "lower") for m in metrics]
        report(rows, "metric")
    else:
        ok = all(q in r for side in runs.values() for r in side for q in queries)
        print(f"BenchOne second-pass seconds, {a.pairs} pairs, {a.sf}")
        rows = [(q, [(p[q], c[q]) for p, c in zip(runs["parent"], runs["change"])
                     if q in p and q in c], True) for q in queries]
        report(rows, "query")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
