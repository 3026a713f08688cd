"""Trace summarizer: per-layer metrics, per-layer self time and per-op
values from the raw record of a traced run.

Per-pass figures are averaged over the traced warm passes; set-up figures
are medians over the run's set-ups."""
from collections import defaultdict

import stats

MB = 1048576.0

# (name, unit): the per-layer metrics a traced run reports.
PER_LAYER = [
    ("sources.tables_s", "s"), ("sources.graph_build_s", "s"),
    ("queries.stage_s", "s"), ("sources.cached_mb", "MB"),
    ("engine.retained_heap_mb", "MB"),
    ("queries.cold_extra_s", "s"), ("cypher.parse_s", "s"),
    ("cypher.compile_s", "s"), ("spark.plan_s", "s"), ("spark.jobs", "count"),
    ("cypher.mutate_s", "s"), ("queries.write_p50_s", "s"),
    ("spark.stages", "count"), ("queries.build_s", "s"),
    ("engine.driver_only_s", "s"), ("engine.collect_mb", "MB"),
    ("queries.exec_s", "s"), ("functions.cpu_ns_per_row", "ns/row"),
    ("spark.task_cpu_s", "s"), ("spark.input_rows", "count"),
    ("spark.slot_idle_frac", "ratio"), ("spark.tasks", "count"),
    ("spark.task_run_s", "s"), ("spark.shuffle_write_mb", "MB"),
    ("spark.shuffle_read_mb", "MB"), ("spark.spill_mb", "MB"),
    ("spark.gc_s", "s"), ("streaming.batches", "count"),
    ("streaming.batch_p50_s", "s"), ("streaming.add_batch_s", "s"),
    ("streaming.protocol_s", "s"), ("streaming.state_rows", "count"),
    ("streaming.state_mb", "MB"), ("perfbench.trace_overhead_s", "s"),
]

SPAN_METRICS = {
    "cypher.parse_s": "cypher.parse", "cypher.compile_s": "cypher.compile",
    "cypher.mutate_s": "cypher.mutate", "queries.build_s": "queries.build",
    "queries.exec_s": "queries.exec",
}


def _pass_of(tag):
    """Pass index of an op tag `<pass>:<i>:<op>`, or None for untagged
    and check jobs."""
    if not tag or tag == "check":
        return None
    return int(tag.split(":", 1)[0])


def _latency(s):
    return (s["end_ms"] - s["start_ms"]) / 1e3


def summarize(raw):
    """Return (metrics, summary): metrics maps every PER_LAYER name to a
    number; summary holds per-layer self time and per-op values."""
    passes = raw["passes"]
    traced = [p for p in passes if p["warm"] and p["traced"]]
    untraced = [p for p in passes if p["warm"] and not p["traced"]]
    tp = {p["pass"] for p in traced}
    k = max(1, len(traced))
    samples = [s for s in raw["samples"] if s["pass"] in tp]
    jobs = [j for j in raw["jobs"] if _pass_of(j["op"]) in tp]
    stages = [s for s in raw["stages"] if _pass_of(s["op"]) in tp]
    windows = [(p["start_ms"], p["end_ms"]) for p in traced]
    batches = [b for b in raw["batches"]
               if any(s <= b["start_ms"] <= e for s, e in windows)]
    spans = raw["spans"]
    by_id = {s["id"]: s for s in spans}

    def in_traced_pass(span):
        while span is not None and span["name"] != "pass":
            span = by_id.get(span["parent"])
        return span is not None and span.get("pass") in tp

    m = {}
    setups = raw["setups"]
    m["sources.tables_s"] = stats.median([s["tables_s"] for s in setups])
    m["sources.graph_build_s"] = stats.median(
        [s["graph_build_s"] for s in setups])
    m["queries.stage_s"] = stats.median([s["stage_s"] for s in setups])
    m["sources.cached_mb"] = raw["cached_mb"]
    m["engine.retained_heap_mb"] = raw["retained_heap_mb"]

    warm_by_op = defaultdict(list)
    for s in raw["samples"]:
        if s["warm"]:
            warm_by_op[s["op"]].append(_latency(s))
    m["queries.cold_extra_s"] = sum(
        _latency(s) - stats.median(warm_by_op[s["op"]])
        for s in raw["samples"] if s["pass"] == 0 and warm_by_op[s["op"]])

    for metric, name in SPAN_METRICS.items():
        m[metric] = sum(s["end_ms"] - s["start_ms"] for s in spans
                        if s["name"] == name and in_traced_pass(s)) / 1e3 / k
    m["spark.plan_s"] = sum(s.get("plan_ms", 0.0) for s in samples) / 1e3 / k
    writes = [_latency(s) for s in raw["samples"]
              if s["warm"] and s["write"]]
    m["queries.write_p50_s"] = (stats.harrell_davis(writes, 0.5)
                                if writes else 0.0)

    m["spark.jobs"] = len(jobs) / k
    m["spark.stages"] = len(stages) / k
    m["spark.tasks"] = sum(s["tasks"] for s in stages) / k

    def total(key):
        return sum(s.get(key, 0) for s in stages)

    jobs_by_tag = defaultdict(list)
    for j in jobs:
        jobs_by_tag[j["op"]].append((j["start_ms"], j["end_ms"]))
    driver_only = 0.0
    for s in samples:
        busy = stats.union_length(
            (max(a, s["start_ms"]), min(b, s["end_ms"]))
            for a, b in jobs_by_tag[s["tag"]])
        driver_only += max(0.0, s["end_ms"] - s["start_ms"] - busy
                           - s.get("plan_ms", 0.0))
    m["engine.driver_only_s"] = driver_only / 1e3 / k
    m["engine.collect_mb"] = total("result_bytes") / MB / k
    cpu_ns, rows = total("cpu_ns"), total("input_rows")
    m["spark.task_cpu_s"] = cpu_ns / 1e9 / k
    m["spark.input_rows"] = rows / k
    m["functions.cpu_ns_per_row"] = cpu_ns / rows if rows else 0.0
    run_s = total("run_ms") / 1e3
    m["spark.task_run_s"] = run_s / k
    wall = sum(p["wall_s"] for p in traced)
    m["spark.slot_idle_frac"] = (1 - run_s / (wall * raw["slots"])
                                 if wall else 0.0)
    m["spark.shuffle_write_mb"] = total("shuffle_write_bytes") / MB / k
    m["spark.shuffle_read_mb"] = total("shuffle_read_bytes") / MB / k
    m["spark.spill_mb"] = total("spill_bytes") / MB / k
    m["spark.gc_s"] = total("gc_ms") / 1e3 / k

    m["streaming.batches"] = len(batches) / k
    m["streaming.batch_p50_s"] = (
        stats.median([b["trigger_ms"] for b in batches]) / 1e3
        if batches else 0.0)
    m["streaming.add_batch_s"] = sum(b["add_batch_ms"] for b in batches) \
        / 1e3 / k
    m["streaming.protocol_s"] = sum(b["trigger_ms"] - b["add_batch_ms"]
                                    for b in batches) / 1e3 / k
    m["streaming.state_rows"] = max((b["state_rows"] for b in batches),
                                    default=0)
    m["streaming.state_mb"] = max((b["state_bytes"] for b in batches),
                                  default=0) / MB

    m["perfbench.trace_overhead_s"] = (
        sum(p["wall_s"] for p in traced) / len(traced)
        - sum(p["wall_s"] for p in untraced) / len(untraced)
        if traced and untraced else 0.0)

    summary = {
        "self_time_s": self_times(spans, jobs, stages, in_traced_pass, k),
        "per_op": per_op(samples, jobs, stages, k),
        "tracing_overhead": {
            "traced_pass_wall_s": [p["wall_s"] for p in traced],
            "untraced_pass_wall_s": [p["wall_s"] for p in untraced],
            "overhead_s": m["perfbench.trace_overhead_s"],
        },
    }
    return m, summary


def self_times(spans, jobs, stages, in_traced_pass, k):
    """Per-layer self time per traced warm pass: each span's duration
    minus what its children cover. Harness spans nest by parent id; a
    Spark job is a child of the op-level spans it overlaps, and a stage
    a child of the jobs of its op it overlaps. Stages are leaves."""
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append((s["start_ms"], s["end_ms"]))
    op_tag = {s["id"]: s.get("tag") for s in spans if s["name"] == "op"}
    jobs_by_tag = defaultdict(list)
    for j in jobs:
        jobs_by_tag[j["op"]].append((j["start_ms"], j["end_ms"]))
    stages_by_tag = defaultdict(list)
    for s in stages:
        stages_by_tag[s["op"]].append((s["start_ms"], s["end_ms"]))

    out = defaultdict(float)
    for s in spans:
        if s["name"] in ("setup", "pass") or not in_traced_pass(s):
            continue
        kids = list(children[s["id"]])
        if s["name"] != "op":  # leaf harness spans contain the jobs
            kids += jobs_by_tag[op_tag.get(s["parent"])]
        out[s["name"]] += stats.self_time(s["start_ms"], s["end_ms"], kids)
    for j in jobs:
        out["spark.job"] += stats.self_time(j["start_ms"], j["end_ms"],
                                            stages_by_tag[j["op"]])
    # stages of one op may run side by side: their time counts once
    for intervals in stages_by_tag.values():
        out["spark.stage"] += stats.union_length(intervals)
    return {name: v / 1e3 / k for name, v in sorted(out.items())}


def per_op(samples, jobs, stages, k):
    """Per-op values over the traced warm passes."""
    ops = defaultdict(lambda: defaultdict(float))
    tag_op = {}
    for s in samples:
        o = ops[s["op"]]
        o["latency_s"] += _latency(s) / k
        o["plan_s"] += s.get("plan_ms", 0.0) / 1e3 / k
        o["failed"] += 0 if s["ok"] else 1
        tag_op[s["tag"]] = s["op"]
    for j in jobs:
        if j["op"] in tag_op:
            ops[tag_op[j["op"]]]["jobs"] += 1 / k
    for st in stages:
        if st["op"] in tag_op:
            o = ops[tag_op[st["op"]]]
            o["stages"] += 1 / k
            o["tasks"] += st["tasks"] / k
            o["task_cpu_s"] += st.get("cpu_ns", 0) / 1e9 / k
            o["shuffle_mb"] += (st.get("shuffle_read_bytes", 0)
                                + st.get("shuffle_write_bytes", 0)) / MB / k
            o["spill_mb"] += st.get("spill_bytes", 0) / MB / k
    return {name: dict(v) for name, v in sorted(ops.items())}
