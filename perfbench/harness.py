"""The Spark session's lifecycle and the run state shared by every
workload: spans, operation counting and correctness checks."""

from __future__ import annotations

import os
import subprocess
import time
from dataclasses import dataclass, field

from perfbench.trace import NullTracer, Tracer

#: N of local[N]: the cores this process may use, at most 4
CORES = max(1, min(4, len(os.sched_getaffinity(0))))


def session_conf(workdir: str, trace: bool) -> dict[str, str]:
    """The benchmark's settings on top of the engine's own
    ``sqltask_spark.session.DEFAULT_CONF``: a small local session whose
    scratch space stays inside the work directory, plus the event log
    when traced."""
    conf = {
        "spark.sql.shuffle.partitions": str(CORES),
        "spark.default.parallelism": str(CORES),
        "spark.driver.memory": "2g",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": f"{workdir}/spark-local",
        "spark.sql.warehouse.dir": f"{workdir}/warehouse",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={workdir}/tmp "
            f"-Dderby.system.home={workdir}/tmp -XX:-UsePerfData",
    }
    if trace:
        os.makedirs(f"{workdir}/eventlog", exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{workdir}/eventlog",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def start_session(workdir: str, trace: bool):
    from sqltask_spark.session import get_spark

    for d in ("spark-local", "warehouse", "tmp"):
        os.makedirs(f"{workdir}/{d}", exist_ok=True)
    # the JVM that spark-submit runs first to build the driver's command
    # line takes its options from here
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={workdir}/tmp")
    spark = get_spark(app_name="perfbench", master=f"local[{CORES}]",
                      conf=session_conf(workdir, trace))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session, then the JVM behind it, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)


@dataclass
class Run:
    """State of one benchmark run, passed to the workload."""

    workload: str
    seed: int
    trace: bool
    scale: str
    workdir: str
    spark: object = None
    tracer: object = field(default_factory=NullTracer)
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)

    def begin_tracing(self) -> None:
        if self.trace:
            self.tracer = Tracer(self.spark, f"{self.workload}-{self.seed}")

    def span(self, name: str, layer: str):
        return self.tracer.span(name, layer)

    def phase(self, name: str) -> None:
        """Tag later spans as ``setup`` or ``measure``."""
        self.tracer.phase = name

    def check(self, ok: bool, what: str) -> bool:
        """Count one correctness check; a failed check fails the
        operation it belongs to (see :meth:`op`)."""
        if not ok:
            self.failures.append(what)
        return ok

    def op(self, fn, *args, **kwargs):
        """Run one closed-loop operation; an exception or a failed
        check inside it counts the operation as failed."""
        self.attempted += 1
        before = len(self.failures)
        try:
            out = fn(*args, **kwargs)
        except Exception as exc:  # noqa: BLE001 — counted, reported
            self.failures.append(f"{type(exc).__name__}: {exc}"[:500])
            self.failed += 1
            return None
        if len(self.failures) > before:
            self.failed += 1
        return out


def timed(fn, *args, **kwargs):
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return time.perf_counter() - t0, out

