#!/usr/bin/env python
"""Per-phase breakdown of the two index syncs of one ``cdc`` epoch.

Runs the ``cdc`` benchmark workload's set-up and ONE traced epoch
(``perfbench/cdc.py``: MERGE, then the MinHash and the IVF sync)
against the checkout at ``--root``, with Spark's event log on, and
prints one JSON document:

- per sync span: wall, Spark jobs, stages, tasks, and ``driver_s`` —
  the span wall no running job covers (planning, listing, manifest
  I/O, driver-side collects);
- per phase inside it: calls, inclusive wall, jobs started and
  ``driver_s``. A phase is one engine function, timed by wrapping the
  module attribute the engine calls it through (functions a checkout
  does not have are skipped, so the same phase list serves the
  composed and the single-commit sync).

    python scripts/cdc_sync_phases.py --root . --seed 501 > after.json

Run it from the root of the checkout it measures, so that Spark's
Python workers import that checkout's engine too. Reuses the benchmark's session, spans and event-log parser; nothing
is written outside ``<root>/.perfbench_work``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import time

#: (module, function) pairs timed as phases, outermost first
PHASES = [
    ("merge", "table_change_window"),
    ("merge", "table_changes_classified"),
    ("merge", "table_changes_joined"),
    ("index_sync", "_commit_synced_marker"),
    ("dedup_index", "apply_mutation"),
    ("dedup_index", "delete_from_minhash_index"),
    ("dedup_index", "unblock_minhash_ids"),
    ("dedup_index", "append_to_minhash_index"),
    ("ann_index", "apply_mutation"),
    ("ann_index", "delete_from_ivf_index"),
    ("ann_index", "unblock_ivf_ids"),
    ("ann_index", "append_to_ivf_index"),
    ("index_fs", "live_unions"),
    ("index_fs", "collect_id_rows"),
    ("index_fs", "tagged_membership"),
    ("index_fs", "write_tombstones"),
    ("index_fs", "commit_manifest"),
]


def _wrap(calls: list, name: str, fn):
    def timed(*args, **kwargs):
        t0 = time.time()
        try:
            return fn(*args, **kwargs)
        finally:
            calls.append((name, t0, time.time()))

    return timed


def _instrument(calls: list) -> None:
    for mod_name, fn_name in PHASES:
        mod = importlib.import_module(
            f"sqltask_spark.operators.{mod_name}"
        )
        fn = getattr(mod, fn_name, None)
        if fn is not None:
            setattr(mod, fn_name,
                    _wrap(calls, f"{mod_name}.{fn_name}", fn))


def _covered(start: float, end: float, jobs) -> float:
    """Seconds of [start, end] during which some job ran."""
    ivs = sorted((max(j.start_s, start), min(j.end_s, end))
                 for j in jobs if j.end_s > start and j.start_s < end)
    total, cur = 0.0, start
    for a, b in ivs:
        if b > cur:
            total += b - max(a, cur)
            cur = b
    return total


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--root", default=".")
    p.add_argument("--seed", type=int, default=501)
    args = p.parse_args(argv)
    root = os.path.abspath(args.root)
    sys.path.insert(0, root)
    from perfbench import cdc
    from perfbench.harness import Run, start_session, stop_session
    from perfbench.trace import parse_event_log

    workdir = f"{root}/.perfbench_work/phases-{os.getpid()}"
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(f"{workdir}/tmp")
    run = Run("cdc", args.seed, True, "full", workdir)
    calls: list = []
    spark = run.spark = start_session(workdir, True)
    try:
        run.begin_tracing()
        state = cdc.setup(run, f"{workdir}/corpus")
        cdc.setup_once(run, state)
        _instrument(calls)
        run.phase("measure")
        # perf_counter → epoch seconds, the event log's clock
        offset = time.time() - time.perf_counter()
        cdc._epoch(run, state)
        spans = [s for s in run.tracer.spans
                 if s.phase == "measure" and s.layer == "index_sync"]
    finally:
        stop_session(spark)
    jobs, _ = parse_event_log(f"{workdir}/eventlog")
    out = {"seed": args.seed, "syncs": []}
    for sp in spans:
        start, end = sp.start + offset, sp.end + offset
        own = [jobs[j] for j in sp.jobs if j in jobs]
        phases: dict = {}
        for name, t0, t1 in calls:
            if t0 < start or t1 > end:
                continue
            inner = [j for j in own if t0 <= j.start_s < t1]
            ph = phases.setdefault(name, {"calls": 0, "wall_s": 0.0,
                                          "jobs": 0, "driver_s": 0.0})
            ph["calls"] += 1
            ph["wall_s"] += t1 - t0
            ph["jobs"] += len(inner)
            ph["driver_s"] += (t1 - t0) - _covered(t0, t1, own)
        out["syncs"].append({
            "span": sp.name,
            "wall_s": round(end - start, 3),
            "jobs": len(sp.jobs),
            "stages": sum(len(j.stages) for j in own),
            "tasks": sum(j.tasks for j in own),
            "driver_s": round((end - start) - _covered(start, end, own), 3),
            "phases": {
                k: {kk: round(vv, 3) if isinstance(vv, float) else vv
                    for kk, vv in v.items()}
                for k, v in phases.items()
            },
        })
    shutil.rmtree(workdir, ignore_errors=True)
    print(json.dumps(out, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
