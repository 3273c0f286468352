"""Arithmetic over one run's raw records (the JSON lines the JVM harness
writes): end-to-end metrics from the untraced passes, per-layer metrics and
span self times from the traced passes.

Times in records are epoch milliseconds. Every function here is pure, so
`perfbench/tests/test_metrics.py` checks it without a JVM.
"""
import math
import statistics
from collections import defaultdict


# --------------------------------------------------------------- statistics

def median(xs):
    return statistics.median(xs)


def high_percentile(xs, beyond=10):
    """The highest percentile that has at least `beyond` samples above it:
    the sample with exactly `beyond` larger order positions. Returns
    (percentile, value), or None when there are not enough samples."""
    n = len(xs)
    if n <= beyond:
        return None
    s = sorted(xs)
    return 100.0 * (n - beyond) / n, s[n - beyond - 1]


def geomean(xs):
    if not xs or any(x <= 0 for x in xs):
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def summary(xs, unit):
    """Median, the highest percentile with ten samples beyond it, and n."""
    out = {"median": median(xs), "n": len(xs), "unit": unit}
    hp = high_percentile(xs)
    if hp:
        out["p%g" % round(hp[0], 1)] = hp[1]
    return out


# ---------------------------------------------------------------- intervals

def clip(intervals, lo, hi):
    return [(max(a, lo), min(b, hi)) for a, b in intervals
            if min(b, hi) > max(a, lo)]


def union_length(intervals):
    """Length of the union of [start, end) intervals."""
    return sum(b - a for a, b in merge(i for i in intervals if i[1] > i[0]))


def concurrency(intervals, k=2):
    """(time with at least k intervals active, highest number active)."""
    events = []
    for a, b in intervals:
        if b > a:
            events += [(a, 1), (b, -1)]
    events.sort(key=lambda e: (e[0], e[1]))  # ends before starts at a tie
    active, peak, covered, last = 0, 0, 0.0, None
    for t, d in events:
        if last is not None and active >= k:
            covered += t - last
        active += d
        peak = max(peak, active)
        last = t
    return covered, peak


def action_overlap(jobs, jobs_end, lo, hi):
    """Concurrency of actions, not of jobs: one SQL execution's jobs
    (AQE query stages, broadcasts, subqueries) overlap on their own, so
    jobs are first merged per execution; a job outside any execution is
    its own action. Returns (ms with two or more actions running, most
    actions running at once) -- what `Par`'s fan-out adds."""
    groups = defaultdict(list)
    for j in jobs:
        key = j["exec"] if j["exec"] >= 0 else ("job", j["job"])
        groups[key].append((j["ms"], jobs_end[j["job"]]))
    merged = []
    for iv in groups.values():
        merged += merge(clip(iv, lo, hi))
    return concurrency(merged, 2)


def merge(intervals):
    out = []
    for a, b in sorted(intervals):
        if out and a <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], b))
        else:
            out.append((a, b))
    return out


# -------------------------------------------------------------------- spans

LAYERS = ["run", "workload", "pass", "query", "build", "action", "trigger",
          "exec", "job", "stage"]


def self_times(spans):
    """Self time per layer: each span's duration minus the part of its
    interval that its children cover (children may overlap each other)."""
    kids = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append((s["start"], s["end"]))
    out = defaultdict(float)
    for s in spans:
        covered = union_length(clip(kids[s["id"]], s["start"], s["end"]))
        out[s["kind"]] += max(0.0, s["end"] - s["start"] - covered)
    return dict(out)


def build_spans(recs):
    """run -> workload -> pass -> query -> {build, action} -> [trigger] ->
    SQL execution -> job -> stage, from the records. A listener span is
    parented by time: the innermost enclosing span of the right layer.
    Spans of one query carry its id `"<pass>:<query>"`."""
    spans = []

    def add(kind, name, start, end, parent, qid=None):
        sid = len(spans)
        spans.append({"id": sid, "kind": kind, "name": name, "start": start,
                      "end": max(start, end), "parent": parent, "qid": qid})
        return sid

    meta = one(recs, "meta")
    timed = one(recs, "timed_done")
    run = add("run", "run", meta["jvm_start_ms"], timed["end_ms"], None)
    wl = add("workload", "workload", timed["start_ms"], timed["end_ms"], run)
    passes = {p["pass"]: add("pass", str(p["pass"]), p["start_ms"],
                             p["end_ms"], wl) for p in of(recs, "pass")}
    phases = []  # (start, end, span id, qid) of build/action spans
    for q in of(recs, "query"):
        qid = "%d:%s" % (q["pass"], q["query"])
        qs = add("query", q["query"], q["start_ms"], q["end_ms"],
                 passes.get(q["pass"]), qid)
        phases.append((q["start_ms"], q["built_ms"],
                       add("build", q["query"], q["start_ms"], q["built_ms"],
                           qs, qid), qid))
        phases.append((q["built_ms"], q["end_ms"],
                       add("action", q["query"], q["built_ms"], q["end_ms"],
                           qs, qid), qid))

    def enclosing(cands, t):
        best = None
        for a, b, sid, qid in cands:
            if a <= t <= b and (best is None or b - a < best[1] - best[0]):
                best = (a, b, sid, qid)
        return best

    triggers = []
    for t in of(recs, "trigger"):
        start = t["start_ms"]
        host = enclosing(phases, start)
        if host:
            end = start + t["duration_ms"].get("triggerExecution", 0)
            triggers.append((start, end, add("trigger", t["run"], start, end,
                                             host[2], host[3]), host[3]))

    def parent_of(t):
        return enclosing(triggers, t) or enclosing(phases, t)

    execs = {}
    ends = {e["exec"]: e["ms"] for e in of(recs, "exec_end")}
    for e in of(recs, "exec_start"):
        host = parent_of(e["ms"])
        if host and e["exec"] in ends:
            execs[e["exec"]] = add("exec", str(e["exec"]), e["ms"],
                                   ends[e["exec"]], host[2], host[3])
    jobs_end = {j["job"]: j["ms"] for j in of(recs, "job_end")}
    stage_job = {}
    for j in of(recs, "job_start"):
        host = parent_of(j["ms"])
        if j["job"] not in jobs_end or not host:
            continue
        parent = execs.get(j["exec"], host[2])
        sid = add("job", str(j["job"]), j["ms"], jobs_end[j["job"]], parent,
                  host[3])
        for st in j["stages"]:
            stage_job.setdefault(st, (sid, host[3]))
    for st in of(recs, "stage"):
        if st["stage"] in stage_job and st["start_ms"] >= 0:
            sid, qid = stage_job[st["stage"]]
            add("stage", str(st["stage"]), st["start_ms"], st["end_ms"], sid,
                qid)
    return spans


# ------------------------------------------------------------------ records

def of(recs, kind):
    return [r for r in recs if r["kind"] == kind]


def one(recs, kind):
    rs = of(recs, kind)
    if len(rs) != 1:
        raise ValueError("expected one %s record, found %d" % (kind, len(rs)))
    return rs[0]


def within(recs, kind, lo, hi, key="ms"):
    return [r for r in of(recs, kind) if lo <= r[key] <= hi]


def query_seconds(recs, passes):
    """{query: [seconds per ok run]} over the given passes."""
    per = defaultdict(list)
    for q in of(recs, "query"):
        if q["pass"] in passes and not q["error"]:
            per[q["query"]].append((q["end_ms"] - q["start_ms"]) / 1000.0)
    return per


def trigger_ms(recs, passes):
    """Spark's triggerExecution time of every trigger in the passes."""
    return [t["duration_ms"].get("triggerExecution", 0)
            for p in passes
            for t in within(recs, "trigger", p["start_ms"], p["end_ms"],
                            "start_ms")]


def end_to_end(recs):
    """Metrics of the untraced passes, each with its sample summary."""
    meta = one(recs, "meta")
    setup = (one(recs, "setup_done")["ms"] - meta["jvm_start_ms"]) / 1000.0
    untraced = [p for p in of(recs, "pass") if not p["traced"]]
    ids = {p["pass"] for p in untraced}
    pass_s = [(p["end_ms"] - p["start_ms"]) / 1000.0 for p in untraced]
    per = query_seconds(recs, ids)
    all_q = [x for v in per.values() for x in v]
    heap = [p["heap_retained_mb"] for p in untraced]
    trig = trigger_ms(recs, untraced)
    values = {
        "setup_s": setup,
        "pass_s": median(pass_s),
        "query_geomean_s": geomean([median(v) for v in per.values()]),
        "heap_retained_mb": median(heap),
    }
    detail = {
        "setup_s": {"median": setup, "n": 1, "unit": "s"},
        "pass_s": summary(pass_s, "s"),
        "query_s": summary(all_q, "s"),
        "heap_retained_mb": summary(heap, "MB"),
        "pass_cpu_s": summary([p["cpu_ms"] / 1000.0 for p in untraced], "s"),
        "steal_ratio": summary([p["steal_ratio"] for p in untraced], "ratio"),
    }
    if trig:
        detail["trigger_ms"] = summary(trig, "ms")
    return values, detail


def pass_layers(recs, p, cpus, traced_queries):
    """Per-layer counts and times of one traced pass."""
    lo, hi = p["start_ms"], p["end_ms"]
    jobs_end = {j["job"]: j["ms"] for j in of(recs, "job_end")}
    jobs = [j for j in within(recs, "job_start", lo, hi) if j["job"] in jobs_end]
    job_iv = clip([(j["ms"], jobs_end[j["job"]]) for j in jobs], lo, hi)
    active_ms = union_length(job_iv)
    overlap_ms, in_flight = action_overlap(jobs, jobs_end, lo, hi)
    stages = within(recs, "stage", lo, hi, "start_ms")
    acts = within(recs, "action", lo, hi) + within(recs, "built", lo, hi)
    trig = within(recs, "trigger", lo, hi, "start_ms")
    comp = within(recs, "compile", lo, hi)
    qs = [q for q in of(recs, "query") if q["pass"] == p["pass"]]
    task_ms = sum(s["task_ms"] for s in stages)

    def phase(name):
        return sum(a["phases_ms"].get(name, 0) for a in acts)

    def dur(t, key):
        return sum(x["duration_ms"].get(key, 0) for x in t)

    m = {
        "spark.codegen.compiles": p["codegen_compiles"],
        "spark.codegen.compile_ms": sum(c["compile_ms"] for c in comp),
        "spark.catalyst.analysis_ms": phase("analysis"),
        "spark.catalyst.optimization_ms": phase("optimization"),
        "spark.catalyst.planning_ms": phase("planning"),
        "spark.sql.executions": len(within(recs, "exec_start", lo, hi)),
        "spark.jobs": len(job_iv),
        "spark.stages": len(stages),
        "spark.tasks": sum(s["tasks"] for s in stages),
        "spark.driver_only_s": (hi - lo - active_ms) / 1000.0,
        "spark.job_active_s": active_ms / 1000.0,
        "spark.task_cpu_s": sum(s["cpu_ns"] for s in stages) / 1e9,
        "spark.slot_busy_ratio":
            task_ms / (cpus * active_ms) if active_ms else 0.0,
        "spark.shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in stages),
        "spark.shuffle_read_bytes": sum(s["shuffle_read_bytes"] for s in stages),
        "spark.spill_bytes": sum(s["spill_bytes"] for s in stages),
        "spark.output_bytes": sum(s["output_bytes"] for s in stages),
        "spark.gc_s": p["gc_ms"] / 1000.0,
        "spark.task_failures": sum(s["task_failures"] for s in stages),
        "spark.stage_retries": sum(1 for s in stages if s["attempt"] > 0),
        "graft.core.jobs_in_flight_max": in_flight,
        "graft.core.job_overlap_s": overlap_ms / 1000.0,
        "graft.sources.rows_scanned": sum(a.get("scan_rows", 0) for a in acts),
        "graft.sources.bytes_scanned": sum(a.get("scan_bytes", 0) for a in acts),
        "graft.sources.files_scanned": sum(a.get("scan_files", 0) for a in acts),
        "graft.sources.scan_ms": sum(a.get("scan_ms", 0) for a in acts),
        "graft.queries.build_s":
            sum(q["built_ms"] - q["start_ms"] for q in qs) / 1000.0,
        "graft.queries.action_s":
            sum(q["end_ms"] - q["built_ms"] for q in qs) / 1000.0,
        "graft.streaming.triggers": len(trig),
        "graft.streaming.add_batch_ms": dur(trig, "addBatch"),
        "graft.streaming.query_planning_ms": dur(trig, "queryPlanning"),
        "graft.streaming.wal_commit_ms": dur(trig, "walCommit"),
        "graft.streaming.input_rows": sum(t["input_rows"] for t in trig),
        "graft.streaming.store_bytes": p["store_bytes"],
        "graft.streaming.store_files": p["store_files"],
    }
    for name in traced_queries:
        m["query.%s_s" % name] = sum(
            q["end_ms"] - q["start_ms"] for q in qs if q["query"] == name) / 1000.0
    return m


def per_layer(recs, cpus, traced_queries):
    """Per-layer metrics: the median over traced passes of each pass's
    value, span self time per layer, the tracing overhead, and the
    trigger median of the untraced passes."""
    all_p = of(recs, "pass")
    traced = [p for p in all_p if p["traced"]]
    untraced = [p for p in all_p if not p["traced"]]
    rows = [pass_layers(recs, p, cpus, traced_queries) for p in traced]
    out = {k: median([r[k] for r in rows]) for k in rows[0]}

    def wall(ps):
        return median([(p["end_ms"] - p["start_ms"]) / 1000.0 for p in ps])

    out["trace.overhead_s"] = wall(traced) - wall(untraced)
    out["trace.overhead_ratio"] = out["trace.overhead_s"] / wall(untraced)
    trig = trigger_ms(recs, untraced)
    out["graft.streaming.trigger_p50_ms"] = median(trig) if trig else 0.0

    ids = {p["pass"] for p in traced}
    spans = build_spans(recs)
    pass_span = {s["id"] for s in spans
                 if s["kind"] == "pass" and int(s["name"]) in ids}
    keep = set(pass_span)
    for s in spans:  # spans are added parents first
        if s["parent"] in keep:
            keep.add(s["id"])
    st = self_times([s for s in spans if s["id"] in keep])
    for layer in LAYERS[2:]:
        out["self.%s_s" % layer] = st.get(layer, 0.0) / 1000.0 / len(traced)
    return out, spans
