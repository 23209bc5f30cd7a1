"""Per-layer metrics of a traced run (run.py --trace 1).

The traced run measures its first half untraced and its second half
with spans and Spark listeners on. Spans form the tree

    request -> module call | action -> Spark job -> stage
    invocation (ingest request) -> micro-batch

A job is linked to its request by the job group the harness sets, and
to the innermost harness span whose interval holds the job's start; a
stage to the job that submitted it. A span's self time is its duration
minus the part of it its child spans cover.
"""
import math
import statistics

MB = 1048576.0

# per_layer metric -> unit; every traced run reports every one of them
MODULE_METRICS = {
    "sessions.call_ms": "sessions", "messages.call_ms": "messages",
    "analytics.call_ms": "analytics", "relational.call_ms": "relational",
    "vectors.call_ms": "vectors", "mcp.call_ms": "mcp",
    "vectorindex.probe_ms": "vectorindex.probe",
    "dedup.call_ms": "dedup", "dupgraph.call_ms": "dupgraph",
    "curation.call_ms": "curation", "textanalysis.call_ms": "textanalysis",
    "vectorindex.build_ms": "vectorindex.build", "pq.build_ms": "pq.build",
    "streaming.invocation_ms": "streaming",
}
UNITS = dict({k: "ms" for k in MODULE_METRICS}, **{
    "index.files": "count", "index.mb": "MB",
    "driver.construct_ms": "ms", "driver.analysis_ms": "ms", "driver.optimization_ms": "ms",
    "driver.planning_ms": "ms", "driver.actions": "count", "driver.gap_ms": "ms",
    "driver.gap_share": "ratio",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.job_ms": "ms", "exec.job_share": "ratio", "exec.task_cpu_ms": "ms",
    "exec.task_run_ms": "ms", "exec.input_mb": "MB", "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB", "exec.spill_mb": "MB", "exec.output_mb": "MB",
    "exec.task_gc_ms": "ms",
    "probe.input_mb": "MB", "probe.pruning_ratio": "ratio",
    "codegen.compiles": "count", "codegen.compile_ms": "ms", "jvm.jit_ms": "ms",
    "jvm.gc_ms": "ms", "cache.persisted_rdds": "count", "cache.storage_mb": "MB",
    "streaming.batches": "count", "streaming.input_rows": "rows", "streaming.harness_ms": "ms",
    "streaming.trigger_ms": "ms", "streaming.planning_ms": "ms", "streaming.addbatch_ms": "ms",
    "streaming.getbatch_ms": "ms", "streaming.walcommit_ms": "ms", "streaming.state_rows": "rows",
    "streaming.state_mb": "MB", "streaming.state_commit_ms": "ms",
    "self.request_ms": "ms", "self.call_ms": "ms", "self.action_ms": "ms",
    "self.job_ms": "ms", "self.stage_ms": "ms", "self.batch_ms": "ms",
    "trace.spans": "count", "trace.overhead_ms": "ms",
})
PROBE_MODULES = ("vectorindex.probe",)


def med(xs):
    xs = [x for x in xs if x is not None and not (isinstance(x, float) and math.isnan(x))]
    return statistics.median(xs) if xs else 0.0


def union_ms(intervals):
    """Length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """Duration of `span` minus the part of it its children cover."""
    covered = union_ms([(max(c["start_ms"], span["start_ms"]), min(c["end_ms"], span["end_ms"]))
                        for c in children if c["end_ms"] > span["start_ms"] and c["start_ms"] < span["end_ms"]])
    return span["end_ms"] - span["start_ms"] - covered


def build_tree(spans, events, progress):
    """Span tree per request: harness spans plus job, stage and micro-batch spans."""
    by_req = {}
    for s in spans:
        by_req.setdefault(s["req"], []).append(dict(s))
    jobs, stage_job, stages = {}, {}, {}
    for e in events:
        if e["ev"] == "job_start":
            jobs[e["job"]] = {"layer": "job", "req": e["group"], "start_ms": e["ts_ms"],
                              "end_ms": e["ts_ms"], "stages": e["stages"]}
            for sid in e["stages"]:
                stage_job[sid] = e["job"]
        elif e["ev"] == "job_end" and e["job"] in jobs:
            jobs[e["job"]]["end_ms"] = e["ts_ms"]
        elif e["ev"] == "stage":
            stages[e["stage"]] = e
    next_id = max([s["span"] for s in spans] + [0]) + 1

    def innermost(tree, t):
        holders = [s for s in tree if s["layer"] in ("request", "call", "action") and s["start_ms"] <= t <= s["end_ms"]]
        return max(holders, key=lambda s: s["start_ms"]) if holders else None

    for jid, j in jobs.items():
        tree = by_req.get(j["req"])
        parent = innermost(tree, j["start_ms"]) if tree else None
        if parent is None:
            continue
        j.update(span=next_id, parent=parent["span"], name=f"job {jid}")
        next_id += 1
        tree.append(j)
        for sid in j["stages"]:
            st = stages.get(sid)
            if st and st["start_ms"] and st["end_ms"]:
                tree.append({"layer": "stage", "req": j["req"], "span": next_id, "parent": j["span"],
                             "name": f"stage {sid}", "start_ms": st["start_ms"], "end_ms": st["end_ms"],
                             "metrics": st})
                next_id += 1
    # micro-batches run on the stream's own thread, outside the request's job group: link by time
    for p in progress:
        for tree in by_req.values():
            parent = innermost(tree, p["ts_ms"])
            if parent is not None:
                d = p["durations"].get("triggerExecution", 0)
                tree.append({"layer": "batch", "req": parent["req"], "span": next_id, "parent": parent["span"],
                             "name": f"batch {p['batch']}", "start_ms": p["ts_ms"], "end_ms": p["ts_ms"] + d,
                             "progress": p})
                next_id += 1
                break
    return by_req


def per_layer(ops, summary, progress, spans, events):
    traced = [o for o in ops if o["phase"] == "traced" and o["ok"]]
    untraced = [o for o in ops if o["phase"] == "timed" and o["ok"]]
    trees = build_tree(spans, events, progress)
    plans = [e for e in events if e["ev"] == "plan"]
    m = {k: 0.0 for k in UNITS}

    for metric, module in MODULE_METRICS.items():
        m[metric] = med([o["ms"] for o in traced if o["module"] == module])

    per_req = []
    for o in traced:
        tree = trees.get(o["id"], [])
        if not tree:
            continue
        root = next(s for s in tree if s["layer"] == "request")
        kids = {}
        for s in tree:
            kids.setdefault(s.get("parent"), []).append(s)
        selfs = {}
        for s in tree:
            selfs[s["layer"]] = selfs.get(s["layer"], 0.0) + self_time(s, kids.get(s["span"], []))
        jobs = [s for s in tree if s["layer"] == "job"]
        st = [s["metrics"] for s in tree if s["layer"] == "stage"]
        wall = root["end_ms"] - root["start_ms"]
        job_ms = union_ms([(j["start_ms"], j["end_ms"]) for j in jobs])
        ph = [p["phases"] for p in plans if root["start_ms"] <= p["start_ms"] <= root["end_ms"]]
        batches = [s["progress"] for s in tree if s["layer"] == "batch"]
        per_req.append({
            "module": o["module"], "wall": wall, "construct": o["construct_ms"],
            "self": selfs, "jobs": len(jobs), "stages": len(st), "job_ms": job_ms,
            "tasks": sum(s["tasks"] for s in st), "cpu_ms": sum(s["cpu_ns"] for s in st) / 1e6,
            "run_ms": sum(s["run_ms"] for s in st), "gc_ms": sum(s["gc_ms"] for s in st),
            "input": sum(s["input_bytes"] for s in st), "output": sum(s["output_bytes"] for s in st),
            "sread": sum(s["shuffle_read_bytes"] for s in st),
            "swrite": sum(s["shuffle_write_bytes"] for s in st),
            "spill": sum(s["spill_bytes"] for s in st),
            "analysis": sum(p.get("analysis", 0) for p in ph),
            "optimization": sum(p.get("optimization", 0) for p in ph),
            "planning": sum(p.get("planning", 0) for p in ph), "actions": len(ph),
            "batches": batches,
        })

    def rmed(f, rows=per_req):
        return med([f(r) for r in rows])
    m["driver.construct_ms"] = rmed(lambda r: r["construct"])
    m["driver.analysis_ms"] = rmed(lambda r: r["analysis"])
    m["driver.optimization_ms"] = rmed(lambda r: r["optimization"])
    m["driver.planning_ms"] = rmed(lambda r: r["planning"])
    m["driver.actions"] = rmed(lambda r: r["actions"])
    m["driver.gap_ms"] = rmed(lambda r: r["wall"] - r["job_ms"])
    m["driver.gap_share"] = rmed(lambda r: (r["wall"] - r["job_ms"]) / r["wall"] if r["wall"] else 0.0)
    m["exec.jobs"] = rmed(lambda r: r["jobs"])
    m["exec.stages"] = rmed(lambda r: r["stages"])
    m["exec.tasks"] = rmed(lambda r: r["tasks"])
    m["exec.job_ms"] = rmed(lambda r: r["job_ms"])
    m["exec.job_share"] = rmed(lambda r: r["job_ms"] / r["wall"] if r["wall"] else 0.0)
    m["exec.task_cpu_ms"] = rmed(lambda r: r["cpu_ms"])
    m["exec.task_run_ms"] = rmed(lambda r: r["run_ms"])
    m["exec.task_gc_ms"] = rmed(lambda r: r["gc_ms"])
    m["exec.input_mb"] = rmed(lambda r: r["input"] / MB)
    m["exec.output_mb"] = rmed(lambda r: r["output"] / MB)
    m["exec.shuffle_read_mb"] = rmed(lambda r: r["sread"] / MB)
    m["exec.shuffle_write_mb"] = rmed(lambda r: r["swrite"] / MB)
    m["exec.spill_mb"] = rmed(lambda r: r["spill"] / MB)
    probes = [r for r in per_req if r["module"] in PROBE_MODULES]
    m["probe.input_mb"] = rmed(lambda r: r["input"] / MB, probes)
    if summary.get("interactive_index_bytes"):
        m["probe.pruning_ratio"] = rmed(lambda r: r["input"] / summary["interactive_index_bytes"], probes)
    for layer in ("request", "call", "action", "job", "stage", "batch"):
        m[f"self.{layer}_ms"] = rmed(lambda r: r["self"].get(layer, 0.0))

    passes = [r for r in summary["rounds"] if r["index_files"]]
    m["index.files"] = med([p["index_files"] for p in passes])
    m["index.mb"] = med([p["index_bytes"] / MB for p in passes])
    m["codegen.compiles"] = float(summary["codegen_compiles"])
    m["codegen.compile_ms"] = summary["codegen_compile_ms"]
    m["jvm.jit_ms"] = float(summary["jvm_jit_ms"])
    m["jvm.gc_ms"] = float(summary["jvm_gc_ms"])
    m["cache.persisted_rdds"] = float(summary["persisted_rdds"])
    m["cache.storage_mb"] = summary["storage_mb"]

    inv = [r for r in per_req if r["module"] == "streaming"]
    batches = [b for r in inv for b in r["batches"]]
    if inv:
        m["streaming.batches"] = rmed(lambda r: len(r["batches"]), inv)
        m["streaming.input_rows"] = rmed(lambda r: sum(b["rows"] for b in r["batches"]), inv)
        m["streaming.harness_ms"] = rmed(
            lambda r: r["wall"] - sum(b["durations"].get("triggerExecution", 0) for b in r["batches"]), inv)
    if batches:
        for metric, key in (("trigger_ms", "triggerExecution"), ("planning_ms", "queryPlanning"),
                            ("addbatch_ms", "addBatch"), ("getbatch_ms", "getBatch"),
                            ("walcommit_ms", "walCommit")):
            m[f"streaming.{metric}"] = med([b["durations"].get(key, 0) for b in batches])
        m["streaming.state_rows"] = med([b["state_rows"] for b in batches])
        m["streaming.state_mb"] = med([b["state_bytes"] / MB for b in batches])
        m["streaming.state_commit_ms"] = med([b["state_commit_ms"] for b in batches])

    m["trace.spans"] = float(sum(len(t) for t in trees.values()))
    # tracing overhead: per call key, traced minus untraced median, then the median over keys
    diffs = []
    for key in {o["key"] for o in traced}:
        a = [o["ms"] for o in traced if o["key"] == key]
        b = [o["ms"] for o in untraced if o["key"] == key]
        if a and b:
            diffs.append(statistics.median(a) - statistics.median(b))
    m["trace.overhead_ms"] = med(diffs)

    extra = {"traced_requests": (len(per_req), "count"), "untraced_requests": (len(untraced), "count")}
    return {k: (float(v), UNITS[k]) for k, v in m.items()}, extra
