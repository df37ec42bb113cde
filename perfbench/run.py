"""Benchmark entry point.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 20 --trace 0

Run from the repository root. One process, one ``local[N]`` Spark
session (N = min(4, cores)), one closed-loop client: every operation
is issued after the previous one returns, for at least ``--seconds``
and at least the workload's ``MIN_OPS`` operations. Prints, as the
last line of stdout, ``{"correct", "attempted", "failed", "metrics"}``
— the end-to-end metrics with ``--trace 0``, the per-layer metrics
with ``--trace 1`` — and writes the full record (including the
workload-specific figures) to ``.perfbench_out/``. See
``perfbench/NOTES.md`` for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.getcwd()
WORKLOADS = ("batch", "cdc")
#: repetitions of the workload's repeatable set-up; ``setup_s`` adds
#: their median to the session start and the one-time set-up
SETUP_REPS = 3


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full")
    return p.parse_args(argv)


def _module(workload: str):
    if workload == "batch":
        from perfbench import batch as mod
    else:
        from perfbench import cdc as mod
    return mod


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, "sqltask_spark", "__init__.py")):
        print("perfbench: run from the repository root; the engine "
              "package sqltask_spark/ is not here", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import metrics
    from perfbench.harness import Run, start_session, stop_session

    workdir = os.path.join(
        ROOT, ".perfbench_work",
        f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(f"{workdir}/tmp")
    # nothing is written outside the checkout: no bytecode caches (the
    # Python workers inherit the environment) and temp files stay here
    sys.dont_write_bytecode = True
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    os.environ["TMPDIR"] = f"{workdir}/tmp"
    import tempfile

    tempfile.tempdir = f"{workdir}/tmp"
    run = Run(args.workload, args.seed, bool(args.trace), args.scale,
              workdir)
    mod = _module(args.workload)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = run.spark = start_session(workdir, run.trace)
        spark.range(1).count()
        session_s = time.perf_counter() - t0
        run.begin_tracing()
        clock_offset = time.time() - time.perf_counter()

        reps = []
        state = None
        for r in range(SETUP_REPS):
            base = f"{workdir}/setup{r}"
            t0 = time.perf_counter()
            state = mod.setup(run, base)
            reps.append(time.perf_counter() - t0)
            if r + 1 < SETUP_REPS:
                shutil.rmtree(base, ignore_errors=True)

        t0 = time.perf_counter()
        mod.setup_once(run, state)
        once_s = time.perf_counter() - t0

        run.phase("measure")
        t0 = time.perf_counter()
        result = mod.measure(run, state, t0 + args.seconds,
                             time.perf_counter)
        loop_s = time.perf_counter() - t0
    finally:
        if spark is not None:
            stop_session(spark)

    e2e = {
        "setup_s": session_s + statistics.median(reps) + once_s,
        "op_p50_s": statistics.median(result["walls"]),
        "items_per_s": result["items"] / result["items_wall"],
    }
    record = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "scale": args.scale,
        "ops": len(result["walls"]), "op_walls_s": result["walls"],
        "loop_s": loop_s, "session_s": session_s, "setup_reps_s": reps,
        "setup_once_s": once_s,
        "end_to_end": e2e, "workload_metrics": result.get("extra", {}),
        "failures": run.failures[:20],
    }
    if run.trace:
        from perfbench.report import per_layer

        layer = per_layer(run, result, session_s, once_s, loop_s,
                          clock_offset)
        record["per_layer"] = layer
        record["spans"] = [
            {"name": sp.name, "layer": sp.layer, "phase": sp.phase,
             "run_id": run.tracer.run_id, "id": sp.id, "parent": sp.parent,
             "start": sp.start, "end": sp.end, "jobs": sp.jobs}
            for sp in run.tracer.spans]
        out_metrics = {n: {"value": layer[n], "unit": u}
                       for n, u in metrics.per_layer().items()}
    else:
        out_metrics = {n: {"value": e2e[n], "unit": u}
                       for n, (u, _) in metrics.END_TO_END.items()}
    shutil.rmtree(workdir, ignore_errors=True)
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    stem = f"{out_dir}/{args.workload}-{args.seed}-trace"
    if run.trace and os.path.exists(f"{stem}0.json"):
        # tracing overhead: this traced run against the untraced run of
        # the same workload and seed
        with open(f"{stem}0.json", encoding="utf-8") as f:
            base = json.load(f)["end_to_end"]
        record["tracing_overhead"] = {
            n: e2e[n] / base[n] - 1 for n in base if base[n]}
    with open(f"{stem}{args.trace}.json", "w", encoding="utf-8") as f:
        json.dump(record, f, indent=1, default=float)
    summary = {k: round(v, 4) if isinstance(v, float) else v
               for k, v in result.get("extra", {}).items()}
    if "tracing_overhead" in record:
        summary["tracing_overhead"] = {
            k: round(v, 4) for k, v in record["tracing_overhead"].items()}
    print(f"# {args.workload} seed={args.seed} session={session_s:.2f} "
          f"setup_reps={[round(r, 2) for r in reps]} once={once_s:.2f} "
          f"loop={loop_s:.2f} {summary}")
    print(json.dumps({
        "correct": run.failed == 0 and not run.failures,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": out_metrics,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
