"""Spans and per-layer metrics of a traced pass.

The harness records, per query call, when the call into
`SparkEntry.queries` started, when the DataFrame came back (construct)
and when the noop write returned (exec), plus what Spark's listeners
reported (jobs, stages with task totals, planning phases and final-plan
census per action, streaming progress). This module places all of it as
spans on one clock, nests them, and reduces a pass to the metrics listed
under `per_layer` in BENCHMARK.json.
"""
from stats import median, percentile

# Nesting rank: a span's parent is the innermost span of lower rank that
# contains its start.
RANK = {"query": 0, "construct": 1, "exec": 1, "memo.build": 2,
        "stream.batch": 3, "plan": 4, "job": 4, "stage": 5}
# Layers whose time counts as attributed inside a query span.
INNER = {"memo.build", "stream.batch", "plan", "job", "stage"}
SLACK_MS = 1.0  # listener times are whole milliseconds


class Span:
    __slots__ = ("layer", "name", "start", "end", "parent", "children",
                 "parent_name")

    def __init__(self, layer, name, start, end, parent_name=None):
        self.layer, self.name = layer, name
        self.start, self.end = float(start), max(float(end), float(start))
        self.parent, self.children = None, []
        self.parent_name = parent_name  # known parent, e.g. a stage's job

    @property
    def duration(self):
        return self.end - self.start

    def to_dict(self):
        return {"layer": self.layer, "name": self.name, "start": self.start,
                "end": self.end,
                "parent": self.parent.name if self.parent else None}


def union_length(intervals, lo, hi):
    """Length of the union of intervals, each clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def nest(spans):
    """Give each span its parent: the span named as its parent if any,
    else the innermost lower-rank span whose interval holds its start
    (within SLACK_MS only when no interval holds it exactly). Only ranks
    below 4 contain anything found by time (a stage names its job), which
    keeps this linear in the number of leaf spans."""
    named = {s.name: s for s in spans}
    containers = sorted((s for s in spans if RANK[s.layer] < 4),
                        key=lambda s: s.start)
    for s in spans:
        best = named.get(s.parent_name)
        if best is None:
            exact, near = [], []
            for p in containers:
                if p.start - SLACK_MS > s.start:
                    break
                if RANK[p.layer] < RANK[s.layer]:
                    if p.start <= s.start < p.end:
                        exact.append(p)
                    elif s.start <= p.end + SLACK_MS:
                        near.append(p)
            pool = exact or near
            if pool:
                best = max(pool, key=lambda p: (RANK[p.layer], p.start))
        s.parent = best
        if best is not None:
            best.children.append(s)
    return spans


def self_time(span):
    """A span's duration minus the part of it its children cover."""
    return span.duration - union_length(
        [(c.start, c.end) for c in span.children], span.start, span.end)


def _in(t, lo, hi):
    return lo - SLACK_MS <= t <= hi + SLACK_MS


def pass_spans(workload, p, trace):
    """All spans of one traced pass."""
    spans = []
    for c in p["calls"]:
        qid = f"{workload}/{p['pass']}/{c['query']}"
        spans.append(Span("query", qid, c["start"], c["end"]))
        spans.append(Span("construct", qid + "/construct", c["start"],
                          c["built"]))
        spans.append(Span("exec", qid + "/exec", c["built"], c["end"]))
        if c["memo_after"] > c["memo_before"]:
            spans.append(Span("memo.build", qid + "/memo.build", c["start"],
                              c["built"]))
    lo, hi = p["start"], p["end"]
    for a in _actions(trace, lo, hi):
        for phase, (s, e) in sorted(a["phases"].items()):
            spans.append(Span("plan", f"plan.{phase}", s, e))
    for j in trace["jobs"]:
        if _in(j["start"], lo, hi):
            spans.append(Span("job", f"job.{j['job']}", j["start"], j["end"]))
    for s in trace["stages"]:
        if s["start"] and _in(s["start"], lo, hi):
            spans.append(Span("stage", f"stage.{s['stage']}", s["start"],
                              s["end"] or s["start"], f"job.{s['job']}"))
    for b in _batches(trace, lo, hi):
        spans.append(Span("stream.batch", f"batch.{b['run'][:8]}.{b['batch']}",
                          b["start"], b["start"] + b["duration_ms"].get(
                              "triggerExecution", 0)))
    return nest(spans)


def _actions(trace, lo, hi):
    """Actions whose planning finished inside [lo, hi]."""
    out = []
    for a in trace["actions"]:
        ends = [e for _, e in a["phases"].values()]
        if ends and _in(max(ends), lo, hi):
            out.append(a)
    return out


def _batches(trace, lo, hi):
    return [b for b in trace["batches"] if _in(b["start"], lo, hi)]


def layer_metrics(workload, spec, p, trace, cores):
    """The per-layer metrics of one traced pass (sums over the pass)."""
    lo, hi = p["start"], p["end"]
    wall = (hi - lo) / 1e3
    calls = p["calls"]
    m = {}
    spans = pass_spans(workload, p, trace)
    by_layer = {}
    for s in spans:
        by_layer.setdefault(s.layer, []).append(s)

    jobs = [j for j in trace["jobs"] if _in(j["start"], lo, hi)]
    job_ids = {j["job"] for j in jobs}
    stages = [s for s in trace["stages"] if s["job"] in job_ids]
    construct_jobs = {j["job"] for j in jobs
                      if any(_in(j["start"], c["start"], c["built"])
                             for c in calls)}

    # engine
    m["engine.conf_changed"] = sum(len(c["conf_changed"]) for c in calls)
    # construct
    m["construct.s"] = sum(c["built"] - c["start"] for c in calls) / 1e3
    m["construct.jobs"] = len(construct_jobs)
    # memo
    consumers = set(spec["memo_consumers"])
    cons = [c for c in calls if c["query"] in consumers]
    m["memo.builds"] = p["memo_live_end"] - p["memo_live_start"]
    m["memo.build_s"] = sum(c["built"] - c["start"] for c in calls
                            if c["memo_after"] > c["memo_before"]) / 1e3
    m["memo.hit_ratio"] = (sum(c["memo_after"] == c["memo_before"]
                               for c in cons) / len(cons)) if cons else 0.0
    m["memo.stored_bytes"] = p["stored_bytes"]
    # plan
    actions = _actions(trace, lo, hi)
    for phase in ("analysis", "optimization", "planning"):
        m[f"plan.{phase}_ms"] = float(sum(
            a["phases"][phase][1] - a["phases"][phase][0]
            for a in actions if phase in a["phases"]))
    census = {}
    for a in actions:
        for k, v in a["census"].items():
            census[k] = census.get(k, 0.0) + v
    m["plan.exchanges"] = census.get("exchanges", 0.0)
    m["plan.codegen_fallback_nodes"] = census.get("codegen_fallback_nodes", 0.0)
    # exec
    tot = lambda k: sum(s[k] for s in stages)
    m["exec.jobs"] = len(jobs)
    m["exec.stages"] = len(stages)
    m["exec.tasks"] = tot("tasks")
    m["exec.failed_tasks"] = tot("failed_tasks")
    m["exec.task_busy_s"] = tot("busy_ms") / 1e3
    m["exec.cpu_s"] = tot("cpu_ns") / 1e9
    m["exec.gc_s"] = tot("gc_ms") / 1e3
    m["exec.sched_wait_s"] = tot("sched_wait_ms") / 1e3
    m["exec.core_util"] = m["exec.task_busy_s"] / (wall * cores) if wall else 0.0
    job_iv = [(j["start"], j["end"]) for j in jobs]
    m["exec.driver_s"] = sum(
        (c["end"] - c["start"]) - union_length(job_iv, c["start"], c["end"])
        for c in calls) / 1e3
    m["exec.peak_task_mem_bytes"] = max([s["peak_mem"] for s in stages] or [0])
    # scan
    m["scan.tasks"] = tot("scan_tasks")
    m["scan.bytes"] = tot("in_bytes")
    m["scan.rows"] = tot("in_rows")
    m["scan.time_s"] = census.get("scan_time_s", 0.0)
    # shuffle
    m["shuffle.write_bytes"] = tot("sh_write_bytes")
    m["shuffle.read_bytes"] = tot("sh_read_bytes")
    m["shuffle.records"] = tot("sh_records")
    m["shuffle.write_s"] = tot("sh_write_ns") / 1e9
    m["shuffle.fetch_wait_s"] = tot("fetch_wait_ms") / 1e3
    m["shuffle.reduce_tasks"] = tot("reduce_tasks")
    m["spill.bytes"] = tot("spill_bytes")
    # operator classes
    m["agg.time_s"] = census.get("agg_time_s", 0.0)
    m["join.build_s"] = census.get("join_build_s", 0.0)
    m["join.broadcast"] = census.get("join_broadcast", 0.0)
    m["join.shuffled"] = census.get("join_shuffled", 0.0)
    m["generate.rows"] = census.get("generate_rows", 0.0)
    m["sort.time_s"] = census.get("sort_time_s", 0.0)
    # mr plugin path vs its declarative twins
    dur = {c["query"]: (c["end"] - c["start"]) / 1e3 for c in calls}
    twins = spec["mr_twins"]
    m["mr.s"] = sum(dur.get(q, 0.0) for q in twins)
    twin_s = sum(dur.get(t, 0.0) for t in twins.values())
    m["mr.plugin_ratio"] = m["mr.s"] / twin_s if twin_s else 0.0
    # sinks: tasks of construct-time jobs (eager writes) that wrote records
    sink = [s for s in stages if s["job"] in construct_jobs]
    m["sink.files"] = sum(s["sink_tasks"] for s in sink)
    m["sink.bytes"] = sum(s["out_bytes"] for s in sink)
    m["sink.s"] = sum(s["sink_busy_ms"] for s in sink) / 1e3
    # streams
    streams = [s for s in trace["streams"] if _in(s["start"], lo, hi)]
    batches = _batches(trace, lo, hi)
    trig = [b["duration_ms"].get("triggerExecution", 0) for b in batches]
    dsum = lambda k: float(sum(b["duration_ms"].get(k, 0) for b in batches))
    first = {}
    state_rows, state_mem = {}, {}
    for b in batches:
        first[b["run"]] = min(first.get(b["run"], b["start"]), b["start"])
        state_rows[b["run"]] = max(state_rows.get(b["run"], 0), b["state_rows"])
        state_mem[b["run"]] = max(state_mem.get(b["run"], 0),
                                  b["state_mem_bytes"])
    m["stream.queries"] = len(streams)
    m["stream.batches"] = len(batches)
    m["stream.rows_in"] = sum(b["rows_in"] for b in batches)
    m["stream.init_s"] = sum(max(0.0, first[s["run"]] - s["start"])
                             for s in streams if s["run"] in first) / 1e3
    m["stream.batch_ms_p50"] = float(median(trig)) if trig else 0.0
    m["stream.batch_ms_p90"] = float(percentile(trig, 90)) if trig else 0.0
    m["stream.add_batch_ms"] = dsum("addBatch")
    m["stream.query_planning_ms"] = dsum("queryPlanning")
    m["stream.wal_ms"] = dsum("walCommit")
    m["stream.state_rows"] = sum(state_rows.values())
    m["stream.state_mem_bytes"] = sum(state_mem.values())
    m["stream.state_commit_ms"] = float(sum(b["state_commit_ms"]
                                            for b in batches))
    # jvm
    m["jvm.heap_peak_mb"] = p["heap_peak_mb"]
    # span self time per layer, and the unattributed share of query spans
    for layer in ("construct", "exec", "memo.build", "stream.batch", "plan",
                  "job", "stage"):
        m[f"self.{layer.replace('.', '_')}_s"] = sum(
            self_time(s) for s in by_layer.get(layer, [])) / 1e3
    queries = by_layer.get("query", [])
    total = sum(q.duration for q in queries)
    m["trace.unattributed_share"] = (
        sum(unattributed(q) for q in queries) / total if total else 0.0)
    return m, spans


def unattributed(query):
    """Time in a query span covered by no inner-layer span."""
    inner = []
    stack = list(query.children)
    while stack:
        s = stack.pop()
        if s.layer in INNER:
            inner.append((s.start, s.end))
        else:
            stack.extend(s.children)
    return query.duration - union_length(inner, query.start, query.end)
