#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. It builds the harness (perfbench/harness,
an sbt project compiled against the repository's own build) once per
source state, generates the workload's corpus from the seed
(corpus.py), runs one harness JVM on it (a closed loop, one client,
`local[<cores>]`), checks every query's output against the DuckDB oracle
with tools/compare.py, and prints the metrics. The last line of standard
output is one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 they
are the per-layer ones of BENCHMARK.json, from traced passes, and the
spans of those passes are written to perfbench/.work/run/spans.json.
Everything the run writes stays under perfbench/.work.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import corpus  # noqa: E402
import stats  # noqa: E402
import spans  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
WORK = os.path.join(HERE, ".work")
# The program under test; without these the benchmark has nothing to run.
REQUIRED = ["build.sbt", "project/build.properties",
            "src/main/scala/graft/SparkEntry.scala", "tools/compare.py"]
BUILD_TIMEOUT_S = 840
JVM_TIMEOUT_S = 150
# A heap cap only: the heap grows as the program touches it, so peak RSS
# follows what the run allocates.
HEAP = ["-Xmx2g"]
# What spark-submit passes to a JDK 17 driver (the root build's javaOptions).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_proc(cmd, timeout, **kw):
    """Run `cmd` in its own process group; on timeout kill the whole group
    (sbt's launcher forks a JVM) and wait for it."""
    p = subprocess.Popen(cmd, start_new_session=True,
                         stdin=subprocess.DEVNULL, **kw)
    try:
        p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        die(f"{cmd[0]} timed out after {timeout}s")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    return p.returncode


def source_stamp():
    """Hash of everything the harness build compiles."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, f) for f in
             ("build.sbt", "project/build.properties")]
    files += [os.path.join(HARNESS, f) for f in
              ("build.sbt", "project/build.properties")]
    for base in (os.path.join(ROOT, "src", "main"),
                 os.path.join(HARNESS, "src")):
        for d, dirs, names in os.walk(base):
            dirs.sort()
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the harness and the repository (sbt), once per source
    state; returns the runtime classpath."""
    out = os.path.join(WORK, "build")
    cp_file, stamp_file = (os.path.join(out, n)
                           for n in ("classpath.txt", "stamp.txt"))
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(out, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(out, "sbt.log")
    with open(log, "w") as fh:
        rc = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                       "export Runtime/fullClasspath"], BUILD_TIMEOUT_S,
                      cwd=HARNESS, env=env, stdout=fh,
                      stderr=subprocess.STDOUT)
    with open(log) as fh:
        lines = [ln.strip() for ln in fh if ln.strip()]
    if rc != 0 or not lines:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        die(f"harness build failed (exit {rc}); log: {log}")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return lines[-1]


def run_harness(cp, queries, dirs, seconds, traced):
    out = os.path.join(dirs["run"], "result.json")
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_LOCAL_DIRS"] = os.path.join(dirs["run"], "spark-local")
    # few malloc arenas, so native memory (RocksDB, Netty) and with it
    # peak RSS do not depend on which threads happened to allocate
    env["MALLOC_ARENA_MAX"] = "2"
    cmd = ["java", *ADD_OPENS, *HEAP, f"-Djava.io.tmpdir={dirs['tmp']}",
           "-cp", cp, "perfbench.Main", "--corpus", dirs["corpus"],
           "--dump", dirs["dump"], "--out", out,
           "--queries", ",".join(queries), "--seconds", str(seconds),
           "--trace", "1" if traced else "0", "--work", dirs["run"]]
    log = os.path.join(dirs["run"], "harness.log")
    with open(log, "w") as fh:
        rc = run_proc(cmd, JVM_TIMEOUT_S, env=env, stdout=fh,
                      stderr=subprocess.STDOUT)
    if rc != 0 or not os.path.exists(out):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        die(f"harness exited with {rc}; log: {log}")
    with open(out) as fh:
        return json.load(fh)


def oracle_check(oracle_dir, dump_dir, queries):
    """Queries whose output does not match the DuckDB oracle, with the
    compare tool's verdict line."""
    r = subprocess.run([sys.executable, os.path.join(ROOT, "tools",
                                                     "compare.py"),
                        oracle_dir, dump_dir],
                       capture_output=True, text=True, timeout=120,
                       stdin=subprocess.DEVNULL)
    verdict = {}
    for line in r.stdout.splitlines():
        word, _, rest = line.partition(" ")
        if word in ("PASS", "FAIL", "ERROR"):
            verdict[rest.split(":")[0].split(" ")[0]] = line
    return {q: verdict.get(q, "MISSING") for q in queries
            if not verdict.get(q, "").startswith("PASS")}


def end_to_end(res):
    """The end-to-end metrics of the untraced timed passes. Times are
    steal-adjusted (stats.steal_adjusted) so a busy host shifts them less;
    the raw wall times are printed beside them."""
    timed = [p for p in res["passes"] if not p["traced"]]
    adj = lambda w, r: stats.steal_adjusted(w, r["busy_jiffies"],
                                             r["steal_jiffies"])
    raw_pass = [(p["end"] - p["start"]) / 1e3 for p in timed]
    pass_s = [adj(w, p) for w, p in zip(raw_pass, timed)]
    calls = [c for p in timed for c in p["calls"]]
    raw_lat = [(c["end"] - c["start"]) / 1e3 for c in calls]
    lat = [adj(w, c) for w, c in zip(raw_lat, calls)]
    raw_setup = (res["setup_end"] - res["jvm_start"]) / 1e3
    q1, med, q3 = stats.quartiles(pass_s)
    metrics = {
        "setup_s": (adj(raw_setup, res["setup_jiffies"]), raw_setup, "s", 1),
        "pass_s": (med, stats.median(raw_pass), "s", len(pass_s)),
        "live_heap_mb": (stats.median([p["live_heap_mb"] for p in timed]),
                         None, "MB", len(timed)),
    }
    # printed, not gated: with one call per query and pass, a run has too
    # few latency samples for a steady percentile; peak RSS follows when G1
    # grows the heap more than what the program keeps (README)
    shown = dict(metrics, **{
        f"query_p{p}_s": (stats.percentile(lat, p),
                          stats.percentile(raw_lat, p), "s", len(lat))
        for p in (50, 90)},
        peak_rss_mb=(res["vm_hwm_kb"] / 1024.0, None, "MB", 1))
    for k, (v, raw, unit, n) in shown.items():
        extra = f" q1={q1:.4f} q3={q3:.4f}" if k == "pass_s" else ""
        extra += f" raw={raw:.4f}" if raw is not None else ""
        print(f"{k} {v:.4f} {unit} n={n}{extra}")
    return {k: {"value": v, "unit": u} for k, (v, _, u, _) in metrics.items()}


def per_layer(res, name, spec, run_dir):
    """Medians over the traced passes of spans.layer_metrics, plus the
    set-up split and the tracing overhead (steal-adjusted traced minus
    untraced pass time)."""
    traced = [p for p in res["passes"] if p["traced"]]
    untraced = [p for p in res["passes"] if not p["traced"]]
    rows, all_spans = [], []
    for p in traced:
        m, sp = spans.layer_metrics(name, spec, p, res["trace"], res["cores"])
        rows.append(m)
        all_spans += sp
    with open(os.path.join(run_dir, "spans.json"), "w") as fh:
        json.dump([s.to_dict() for s in all_spans], fh)
    out = {k: stats.median([r[k] for r in rows]) for k in rows[0]}
    wall = lambda ps: stats.median([stats.steal_adjusted(
        (p["end"] - p["start"]) / 1e3, p["busy_jiffies"], p["steal_jiffies"])
        for p in ps])
    out["trace.overhead_s"] = wall(traced) - wall(untraced)
    out["engine.session_s"] = (res["session_end"] - res["jvm_start"]) / 1e3
    out["engine.warm_s"] = (res["setup_end"] - res["session_end"]) / 1e3
    keys = sorted({k for p in traced for c in p["calls"]
                   for k in c["conf_changed"]})
    print("engine.conf_changed keys: " + (", ".join(keys) or "none"))
    for s in all_spans:
        if s.layer == "query" and s.duration > 0:
            print(f"unattributed {s.name} "
                  f"{spans.unattributed(s) / s.duration:.3f}")
    for k in sorted(out):
        print(f"{k} {out[k]:.6g}")
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    missing = [f for f in REQUIRED if not os.path.exists(os.path.join(ROOT, f))]
    if missing:
        die("not a graft checkout (missing " + ", ".join(missing) + ")")
    spec = WORKLOADS[a.workload]
    queries = spec["queries"]
    cp = build()

    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    dirs = {k: os.path.join(run_dir, k)
            for k in ("corpus", "oracle", "dump", "tmp")}
    dirs["run"] = run_dir
    for k in ("dump", "tmp"):
        os.makedirs(dirs[k])
    split = spec["corpus"].get("event_parts", 1) > 1
    summary = corpus.write(spec["corpus"], a.seed, dirs["corpus"],
                           dirs["oracle"] if split else None)
    print(f"workload {a.workload} seed {a.seed} corpus "
          f"{summary['fingerprint']} " + json.dumps(summary))

    res = run_harness(cp, queries, dirs, a.seconds, a.trace == 1)
    bad = oracle_check(dirs["oracle"] if split else dirs["corpus"],
                       dirs["dump"], queries)
    calls = [c for p in [res["warm"]] + res["passes"] for c in p["calls"]]
    crashed = [c["query"] for c in calls if c["error"]]
    for q, line in sorted(bad.items()):
        print(f"oracle mismatch {q}: {line}")
    failed = len(crashed) + len(bad)
    print(f"failed_frac {failed / len(calls):.4f} ratio "
          f"({len(crashed)} crashed calls + {len(bad)} oracle mismatches "
          f"of {len(calls)} calls)")
    if a.trace:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            units = {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}
        layers = per_layer(res, a.workload, spec, run_dir)
        metrics = {k: {"value": layers[k], "unit": u}
                   for k, u in units.items()}
    else:
        metrics = end_to_end(res)
    print(json.dumps({"correct": failed == 0, "attempted": len(calls),
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
