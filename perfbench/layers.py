"""Per-layer metrics of a traced run, computed from its spans and the Spark
and streaming listener records attributed to them.

For the url workloads the figures are per reference job (the median over
the run's jobs), so a run that fits more jobs into its time does not read
as more work. For the session they cover both passes.

`LAYERS` names every per-layer metric with its unit, the end-to-end metric
it is expected to move and the workload where it should show.
"""
import os

import stats

# name -> (unit, expected to move, on workload)
LAYERS = {
    # GraftSession / GraftExtensions set-up
    "setup.jvm_start_s": ("s", "setup_s", "all"),
    "setup.session_s": ("s", "setup_s", "all"),
    "setup.warmup_s": ("s", "setup_s", "all"),
    "jvm.jit_compile_ms": ("ms", "setup_s", "all"),
    # Catalyst planning (includes plans.TokenCountRewrite)
    "plan.s": ("s", "warm_cpu_s", "session"),
    "plan.p90_s": ("s", "warm_cpu_s", "session"),
    # SparkEntry query construction
    "entry.build_s": ("s", "first_cpu_s", "session"),
    "entry.build_jobs": ("count", "first_cpu_s", "session"),
    "plan_build.share": ("1", "warm_cpu_s", "session"),
    # ArtifactStore
    "store.builds_first": ("count", "first_cpu_s", "session"),
    "store.builds_warm": ("count", "warm_cpu_s", "session"),
    "store.first_minus_warm_s": ("s", "first_cpu_s", "session"),
    # ops.UrlCount map side: scan + tokenize + partial aggregation
    "map.stage_s": ("s", "warm_cpu_s", "url_uniform"),
    "map.cpu_s": ("s", "warm_cpu_s", "url_uniform"),
    "map.input_bytes": ("bytes", "warm_cpu_s", "url_uniform"),
    "map.output_records": ("count", "warm_cpu_s", "url_zipf"),
    "partial_agg.ratio": ("1", "warm_cpu_s", "url_zipf"),
    # Exchange
    "shuffle.write_bytes": ("bytes", "warm_cpu_s", "url_zipf"),
    "shuffle.read_bytes": ("bytes", "warm_cpu_s", "url_zipf"),
    "shuffle.write_s": ("s", "warm_cpu_s", "url_zipf"),
    "shuffle.fetch_wait_s": ("s", "warm_cpu_s", "url_zipf"),
    "shuffle.partition_skew": ("1", "warm_cpu_s", "url_zipf"),
    "shuffle.bytes_per_input_byte": ("1", "warm_cpu_s", "url_zipf"),
    # memory and spill
    "spill.memory_bytes": ("bytes", "warm_cpu_s", "url_zipf"),
    "spill.disk_bytes": ("bytes", "warm_cpu_s", "url_zipf"),
    "memory.peak_execution_bytes": ("bytes", "warm_cpu_s", "url_zipf"),
    "gc.pause_ms": ("ms", "warm_cpu_s, retained_heap_mb", "session"),
    "gc.count": ("count", "warm_cpu_s, retained_heap_mb", "session"),
    "heap.peak_mb": ("MB", "retained_heap_mb", "session"),
    # final aggregation and top-K
    "reduce.stage_s": ("s", "warm_cpu_s", "url_zipf"),
    "topk.stage_s": ("s", "warm_cpu_s", "url_zipf"),
    "topk.driver_s": ("s", "warm_cpu_s", "url_zipf"),
    # sinks (writeJsonSink / writeTextSink)
    "sink.bytes_written": ("bytes", "warm_cpu_s", "url_zipf"),
    "sink.records_written": ("count", "warm_cpu_s", "url_zipf"),
    "sink.files": ("count", "warm_cpu_s", "url_zipf"),
    "sink.task_s": ("s", "warm_cpu_s", "url_zipf"),
    # scheduler
    "sched.jobs": ("count", "warm_cpu_s", "session"),
    "sched.stages": ("count", "warm_cpu_s", "session"),
    "sched.tasks": ("count", "warm_cpu_s", "session"),
    "sched.task_run_s": ("s", "warm_cpu_s", "all"),
    "sched.cpu_util": ("1", "warm_cpu_s", "all"),
    "sched.speedup_1_to_n": ("1", "warm_cpu_s", "url_uniform"),
    # streaming.StreamingOps, from StreamingQueryListener progress
    "stream.batches": ("count", "warm_cpu_s", "session"),
    "stream.trigger_s": ("s", "warm_cpu_s", "session"),
    "stream.add_batch_s": ("s", "warm_cpu_s", "session"),
    "stream.query_planning_s": ("s", "warm_cpu_s", "session"),
    "stream.wal_commit_s": ("s", "warm_cpu_s", "session"),
    "stream.input_rows": ("count", "warm_cpu_s", "session"),
    "stream.state_rows": ("count", "warm_cpu_s", "session"),
    "stream.state_memory_bytes": ("bytes", "warm_cpu_s", "session"),
    "stream.start_stop_s": ("s", "warm_cpu_s", "session"),
    # tracing overhead: traced minus untraced, per end-to-end metric
    **{f"trace.overhead.{m}": (stats.UNITS[m], m, "all") for m in stats.END_TO_END},
}


# ------------------------------------------------------------------ spans

def self_time(span, children):
    """Seconds of `span` not covered by any of its child spans."""
    lo, hi = span["start_ns"], span["end_ns"]
    covered, reach = 0, lo
    for c in sorted(children, key=lambda c: c["start_ns"]):
        s, e = max(c["start_ns"], reach), min(c["end_ns"], hi)
        if e > s:
            covered += e - s
            reach = e
    return (hi - lo - covered) / 1e9


class Tree:
    def __init__(self, trace):
        self.spans = {s["id"]: s for s in trace["spans"]}
        self.children = {}
        for s in trace["spans"]:
            self.children.setdefault(s["parent"], []).append(s)
        self.jobs = {j["id"]: j for j in trace["jobs"]}
        self.stages = trace["stages"]
        self.streams = trace["streams"]

    def path(self, span_id):
        """Spans from the root down to `span_id`."""
        out = []
        while span_id in self.spans:
            out.append(self.spans[span_id])
            span_id = self.spans[span_id]["parent"]
        return out[::-1]

    def descendants(self, root_id):
        out, todo = [], [root_id]
        while todo:
            for c in self.children.get(todo.pop(), []):
                out.append(c)
                todo.append(c["id"])
        return out

    def self_times(self):
        return {i: self_time(s, self.children.get(i, [])) for i, s in self.spans.items()}


def _stage_wall(st):
    if st["submitted_ms"] and st["completed_ms"]:
        return (st["completed_ms"] - st["submitted_ms"]) / 1000.0
    return 0.0


def _scope(tree, roots, phase=None):
    """Jobs and stages attributed to spans under `roots`, optionally only
    under a phase span of that name."""
    def inside(span_id):
        path = tree.path(span_id)
        if not path or path[0]["id"] not in roots:
            return False
        return phase is None or any(s["kind"] == "phase" and s["name"] == phase for s in path)
    jobs = {j["id"] for j in tree.jobs.values() if inside(j["span"])}
    stages = [st for st in tree.stages if st["job"] in jobs]
    return jobs, stages


def _sum(stages, key, scale=1.0):
    return sum(st[key] for st in stages) / scale


def _skew(stages):
    reads = max((st for st in stages if len(st["read_per_task"]) > 0),
                key=lambda st: st["shuffle_read_bytes"], default=None)
    if reads is None:
        return 0.0
    per_task = reads["read_per_task"]
    return max(per_task) / max(1, stats.median(per_task))


def _flow(tree, roots, phase=None):
    """Map, exchange, memory and scheduler figures for one scope."""
    jobs, stages = _scope(tree, roots, phase)
    maps = [st for st in stages if st["input_bytes"] > 0]
    return {
        "map.stage_s": sum(_stage_wall(st) for st in maps),
        "map.cpu_s": _sum(maps, "cpu_ns", 1e9),
        "map.input_bytes": _sum(maps, "input_bytes"),
        "map.output_records": _sum(maps, "shuffle_write_records"),
        "map.input_records": _sum(maps, "input_records"),
        "shuffle.write_bytes": _sum(stages, "shuffle_write_bytes"),
        "shuffle.read_bytes": _sum(stages, "shuffle_read_bytes"),
        "shuffle.write_s": _sum(stages, "shuffle_write_ns", 1e9),
        "shuffle.fetch_wait_s": _sum(stages, "fetch_wait_ms", 1000.0),
        "shuffle.partition_skew": _skew(stages),
        "reduce.stage_s": sum(_stage_wall(st) for st in stages if st["shuffle_read_bytes"] > 0),
        "stage_s": sum(_stage_wall(st) for st in stages),
        "spill.memory_bytes": _sum(stages, "memory_spill"),
        "spill.disk_bytes": _sum(stages, "disk_spill"),
        "memory.peak_execution_bytes": max((st["peak_execution"] for st in stages), default=0),
        "sched.jobs": len(jobs),
        "sched.stages": len(stages),
        "sched.tasks": _sum(stages, "tasks"),
        "sched.task_run_s": _sum(stages, "run_ms", 1000.0),
        "output_bytes": _sum(stages, "output_bytes"),
        "output_records": _sum(stages, "output_records"),
    }


def _spans_of(tree, roots, kind):
    return [s for r in roots for s in tree.descendants(r) if s["kind"] == kind]


def _dur(s):
    return (s["end_ns"] - s["start_ns"]) / 1e9


def _build_jobs(tree, roots):
    builds = {s["id"] for s in _spans_of(tree, roots, "build")}
    return sum(1 for j in tree.jobs.values()
               if any(s["id"] in builds for s in tree.path(j["span"])))


def _streams(tree, roots):
    out = dict.fromkeys(("stream.batches", "stream.trigger_s", "stream.add_batch_s",
                         "stream.query_planning_s", "stream.wal_commit_s",
                         "stream.input_rows", "stream.state_rows",
                         "stream.state_memory_bytes", "stream.start_stop_s"), 0.0)
    for q in tree.streams:
        path = tree.path(q["span"])
        if not path or path[0]["id"] not in roots:
            continue
        b = q["batches"]
        trigger = sum(x["trigger_ms"] for x in b) / 1000.0
        out["stream.batches"] += len(b)
        out["stream.trigger_s"] += trigger
        out["stream.add_batch_s"] += sum(x["add_batch_ms"] for x in b) / 1000.0
        out["stream.query_planning_s"] += sum(x["query_planning_ms"] for x in b) / 1000.0
        out["stream.wal_commit_s"] += sum(x["wal_commit_ms"] for x in b) / 1000.0
        out["stream.input_rows"] += sum(x["input_rows"] for x in b)
        out["stream.state_rows"] += max((x["state_rows"] for x in b), default=0)
        out["stream.state_memory_bytes"] += max((x["state_memory_bytes"] for x in b), default=0)
        if q["terminated_ns"]:
            out["stream.start_stop_s"] += (q["terminated_ns"] - q["started_ns"]) / 1e9 - trigger
    return out


def _store(tree, rec):
    """Artifact-store builds per pass: distinct (query, call site asking
    for the build) among jobs run inside ArtifactStore.getOrBuild."""
    first, warm = set(), set()
    for j in tree.jobs.values():
        path = tree.path(j["span"])
        if j["store_caller"] and path and path[0]["kind"] == "query":
            p, q = path[0]["name"].split(":", 1)
            (first if p == "pass1" else warm).add((p, q, j["store_caller"]))
    consumers = {q for _, q, _ in first}
    times = {}
    for e in rec["executions"]:
        times.setdefault(e["query"], {})[e["pass"]] = e["total_s"]
    return {
        "store.builds_first": len(first),
        "store.builds_warm": len(warm),
        "store.first_minus_warm_s": sum(
            t[1] - stats.median([v for p, v in t.items() if p > 1])
            for q, t in times.items() if q in consumers and len(t) > 1),
        "store.consumers": sorted(consumers),
    }


def _sink_files(rec):
    n = 0
    for it in rec["iterations"]:
        for d in (it["json_dir"], it["text_dir"]):
            n += sum(1 for f in os.listdir(d) if f.startswith("part-"))
    return n / len(rec["iterations"])


def per_layer(rec, meta, summary, untraced):
    """(metrics for the result line, detail for the record)."""
    tree = Tree(rec["trace"])
    cores = rec["system"]["cores"]
    setup = rec["setup"]
    m = {
        "setup.jvm_start_s": rec["main_epoch_ms"] / 1000.0 - rec["launch_epoch"],
        "setup.session_s": setup["session_s"],
        "setup.warmup_s": setup["warmup_s"],
        "jvm.jit_compile_ms": setup["jit_compile_ms"],
        "gc.pause_ms": rec["gc"]["pause_ms"],
        "gc.count": rec["gc"]["count"],
        "heap.peak_mb": rec.get("heap_peak_bytes", 0) / 2 ** 20,
    }
    roots = [s for s in tree.children.get(0, []) if s["kind"] in ("job", "query")]
    detail = {}
    if rec["workload"] == "url":
        per_job = []
        for r in roots:
            ids = {r["id"]}
            count, whole = _flow(tree, ids, "count"), _flow(tree, ids)
            topk_stage = _flow(tree, ids, "topk")["stage_s"]
            sink = _flow(tree, ids, "sink")
            plans = _spans_of(tree, ids, "plan")
            topk_span = [s for s in tree.descendants(r["id"])
                         if s["kind"] == "phase" and s["name"] == "topk"]
            row = {k: count[k] for k in count if k.startswith(("map.", "shuffle.", "reduce."))}
            row.update({k: whole[k] for k in whole if k.startswith(("spill.", "memory.", "sched."))})
            row.update({
                "partial_agg.ratio": count["map.output_records"] / meta["tokens"],
                "shuffle.bytes_per_input_byte":
                    count["shuffle.write_bytes"] / max(1.0, count["map.input_bytes"]),
                "plan.s": sum(_dur(s) for s in plans),
                "entry.build_s": sum(_dur(s) for s in _spans_of(tree, ids, "build")),
                "entry.build_jobs": _build_jobs(tree, ids),
                "topk.stage_s": topk_stage,
                "topk.driver_s": sum(_dur(s) for s in topk_span) - topk_stage,
                "sink.bytes_written": sink["output_bytes"],
                "sink.records_written": sink["output_records"],
                "sink.task_s": sink["sched.task_run_s"],
                "sched.cpu_util": whole["sched.task_run_s"] / (_dur(r) * cores),
                "_plan_durations": [_dur(s) for s in plans],
            })
            row["plan_build.share"] = (row["plan.s"] + row["entry.build_s"]) / _dur(r)
            per_job.append(row)
        for k in per_job[0]:
            if not k.startswith("_"):
                m[k] = stats.median([row[k] for row in per_job])
        m["plan.p90_s"] = stats.percentile(
            [d for row in per_job for d in row["_plan_durations"]], 90)
        m["sink.files"] = _sink_files(rec)
        m["sched.speedup_1_to_n"] = rec["count_local1"]["count_s"] / summary["count_s"]
        m.update(dict.fromkeys(("store.builds_first", "store.builds_warm",
                                "store.first_minus_warm_s"), 0.0))
        m.update(_streams(tree, {r["id"] for r in roots}))
    else:
        ids = {r["id"] for r in roots}
        flow = _flow(tree, ids)
        wall = sum(_dur(r) for r in roots)
        plans = [_dur(s) for s in _spans_of(tree, ids, "plan")]
        m.update({k: flow[k] for k in flow if k.startswith(
            ("map.", "shuffle.", "reduce.", "spill.", "memory.", "sched."))})
        m.update({
            "partial_agg.ratio": flow["map.output_records"] / max(1.0, flow["map.input_records"]),
            "shuffle.bytes_per_input_byte":
                flow["shuffle.write_bytes"] / max(1.0, flow["map.input_bytes"]),
            "plan.s": sum(plans),
            "plan.p90_s": stats.percentile(plans, 90) if plans else 0.0,
            "entry.build_s": sum(_dur(s) for s in _spans_of(tree, ids, "build")),
            "entry.build_jobs": _build_jobs(tree, ids),
            "sched.cpu_util": flow["sched.task_run_s"] / (wall * cores),
            "sched.speedup_1_to_n": 0.0,
            "topk.stage_s": 0.0, "topk.driver_s": 0.0,
            "sink.bytes_written": 0.0, "sink.records_written": 0.0,
            "sink.files": 0.0, "sink.task_s": 0.0,
        })
        m["plan_build.share"] = (m["plan.s"] + m["entry.build_s"]) / wall
        store = _store(tree, rec)
        detail["store_consumers"] = store.pop("store.consumers")
        m.update(store)
        m.update(_streams(tree, ids))
    for name in stats.END_TO_END:
        base = (untraced or {}).get(name)
        m[f"trace.overhead.{name}"] = summary[name] - base if base is not None else 0.0
    detail["overhead_base"] = "untraced record" if untraced else "none found"
    self_s = tree.self_times()
    by_kind = {}
    for i, s in tree.spans.items():
        by_kind[s["kind"]] = by_kind.get(s["kind"], 0.0) + self_s[i]
    detail["self_s_by_kind"] = by_kind
    detail["span_self_s"] = self_s
    metrics = {k: {"value": float(m[k]), "unit": LAYERS[k][0]} for k in LAYERS}
    return metrics, detail
