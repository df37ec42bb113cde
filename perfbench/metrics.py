"""Metric names the benchmark emits — the single list ``BENCHMARK.json``
must match (checked by the benchmark's tests)."""

from __future__ import annotations

#: end-to-end metrics (tracing off), emitted by every workload:
#: name → (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "op_p50_s": ("s", "lower"),
    "items_per_s": ("items/s", "higher"),
}

#: layers whose spans get the Spark event-log breakdown
SPARK_LAYERS = ("task", "sinks", "text", "dedup", "graph", "merge",
                "index_sync", "dedup_index", "ann_index", "maintain")
SPARK_METRICS = {
    "spark_jobs": "count",
    "spark_stages": "count",
    "spark_tasks": "count",
    "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes",
    "gc_s": "s",
    "task_s": "s",
    "driver_s": "s",
}

#: per-layer metrics named by layer (traced run); values are per
#: measured operation unless the unit says otherwise
NAMED = {
    "session.start_s": "s",
    "session.warm_s": "s",
    "task.execute_s": "s",
    "task.migration_s": "s",
    "task.self_s": "s",
    "task.jobs": "count",
    "lookup.hit_ratio": "ratio",
    "lookup.broadcast_bytes": "bytes",
    "dq.issues": "count",
    "dq.write_s": "s",
    "sinks.write_s": "s",
    "sinks.jobs": "count",
    "sinks.bytes_written": "bytes",
    "sinks.files_written": "count",
    "text.score_s": "s",
    "dedup.exact_s": "s",
    "dedup.pairs_s": "s",
    "dedup.pairs": "count",
    "dedup.recall": "ratio",
    "graph.cluster_s": "s",
    "graph.rounds": "count",
    "merge.create_s": "s",
    "merge.merge_s": "s",
    "merge.merge_jobs": "count",
    "merge.rewritten_files": "count",
    "merge.pruned_ratio": "ratio",
    "merge.lookup_s": "s",
    "merge.lookup_jobs": "count",
    "index_sync.minhash_s": "s",
    "index_sync.ivf_s": "s",
    "index_sync.jobs": "count",
    "index_sync.applied": "count",
    "dedup_index.build_s": "s",
    "dedup_index.probe_s": "s",
    "dedup_index.probe_jobs": "count",
    "dedup_index.hits": "count",
    "ann_index.build_s": "s",
    "ann_index.probe_s": "s",
    "ann_index.probe_jobs": "count",
    "maintain.s": "s",
    "maintain.compactions": "count",
    "index_fs.generations": "count",
    "index_fs.versions": "count",
    "index_fs.files": "count",
    "index_fs.bytes": "bytes",
    "trace.overhead_frac": "ratio",
}


#: per-layer metrics where more is better (the rest: less is better)
HIGHER = {"lookup.hit_ratio", "dedup.recall", "merge.pruned_ratio",
          "dedup.pairs", "dedup_index.hits", "index_sync.applied"}


def per_layer() -> dict[str, str]:
    """Every per-layer metric name → unit, in emission order."""
    out = dict(NAMED)
    for layer in SPARK_LAYERS:
        for m, unit in SPARK_METRICS.items():
            out[f"{layer}.{m}"] = unit
    return out


def better(name: str) -> str:
    return "higher" if name in HIGHER else "lower"
