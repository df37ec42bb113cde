"""Per-layer metrics of a traced run: named spans, event-log Spark
breakdown per layer, and the figures the workload reports itself."""

from __future__ import annotations

from collections import defaultdict

from perfbench import metrics
from perfbench.trace import layer_totals, parse_event_log

#: named span → (seconds metric, jobs metric); values are the mean per
#: call of the span
SPAN_METRICS = {
    "task.execute": ("task.execute_s", "task.jobs"),
    "task.migration": ("task.migration_s", None),
    "dq.write": ("dq.write_s", None),
    "sinks.write": ("sinks.write_s", "sinks.jobs"),
    "text.score": ("text.score_s", None),
    "dedup.exact": ("dedup.exact_s", None),
    "dedup.pairs": ("dedup.pairs_s", None),
    "graph.cluster": ("graph.cluster_s", None),
    "merge.create": ("merge.create_s", None),
    "merge.merge": ("merge.merge_s", "merge.merge_jobs"),
    "merge.lookup": ("merge.lookup_s", "merge.lookup_jobs"),
    "index_sync.minhash": ("index_sync.minhash_s", None),
    "index_sync.ivf": ("index_sync.ivf_s", None),
    "dedup_index.build": ("dedup_index.build_s", None),
    "dedup_index.probe": ("dedup_index.probe_s", "dedup_index.probe_jobs"),
    "ann_index.build": ("ann_index.build_s", None),
    "ann_index.probe": ("ann_index.probe_s", "ann_index.probe_jobs"),
    "maintain": ("maintain.s", None),
}


def per_layer(run, result: dict, session_s: float, warm_s: float,
              loop_s: float, clock_offset: float) -> dict[str, float]:
    tracer = run.tracer
    jobs, broadcast = parse_event_log(f"{run.workdir}/eventlog")
    out = {name: 0.0 for name in metrics.per_layer()}
    out["session.start_s"] = session_s
    out["session.warm_s"] = warm_s

    children = tracer.children()

    def subtree_jobs(sp) -> int:
        return len(sp.jobs) + sum(subtree_jobs(c) for c in children[sp.id])

    # a call's spans in the measured loop; set-up-only calls (builds)
    # are taken from set-up
    every: dict[str, list] = defaultdict(list)
    measured: dict[str, list] = defaultdict(list)
    for sp in tracer.spans:
        every[sp.name].append(sp)
        if sp.phase == "measure":
            measured[sp.name].append(sp)
    calls = {name: measured.get(name) or spans
             for name, spans in every.items()}
    for name, (secs, njobs) in SPAN_METRICS.items():
        spans = calls.get(name)
        if not spans:
            continue
        out[secs] = sum(s.end - s.start for s in spans) / len(spans)
        if njobs:
            out[njobs] = sum(subtree_jobs(s) for s in spans) / len(spans)
    execs = calls.get("task.execute", [])
    if execs:
        out["task.self_s"] = sum(
            (s.end - s.start) - sum(c.end - c.start for c in children[s.id])
            for s in execs) / len(execs)
    sync = calls.get("index_sync.minhash", []) + calls.get(
        "index_sync.ivf", [])
    if sync:
        out["index_sync.jobs"] = sum(subtree_jobs(s) for s in sync) / len(
            sync)

    n_ops = max(1, len(result["walls"]))
    for layer, acc in layer_totals(tracer, jobs, clock_offset).items():
        if layer not in metrics.SPARK_LAYERS:
            continue
        for m in metrics.SPARK_METRICS:
            out[f"{layer}.{m}"] = acc.get(m, 0.0) / n_ops
    # the lookups' broadcasts run in the task's own force/cache jobs
    task_jobs = {j for sp in tracer.spans
                 if sp.phase == "measure" and sp.layer == "task"
                 for j in sp.jobs}
    executions = {jobs[j].execution for j in task_jobs if j in jobs}
    out["lookup.broadcast_bytes"] = sum(
        broadcast.get(e, 0) for e in executions if e is not None) / n_ops
    for name, value in result.get("layer", {}).items():
        out[name] = float(value)
    out["trace.overhead_frac"] = tracer.self_cost_s / loop_s
    return out
