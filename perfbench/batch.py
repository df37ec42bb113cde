"""``batch``: the nightly ETL scheduler, one closed-loop client. Each
operation is one ``SparkTask.execute()`` for one ship year (the batch
parameter) that loads two target tables:

- ``fact_lineitem`` — the reference's computational model
  (:mod:`perfbench.etl`): lookups, DQ rules, validation, dynamic
  partition overwrite of the fact table and its ``_dq`` shadow;
- ``clean_documents`` — the year's corpus shard through the dedup
  operators (:mod:`perfbench.corpus`), duplicates flagged in the
  shadow table.

The untimed warm-up loads a seed-chosen year with a smaller corpus
shard. Every measured operation re-runs a loaded year in seed order
with its full shard, overwriting its partitions. After the loop
every loaded partition must hold exactly one copy of its batch, with
fact rows, revenue sum and DQ issue counts equal to a DuckDB
recomputation over the same input parquet; every shard's exact
copies must collapse and its planted near-dup families land in one
cluster each.
"""

from __future__ import annotations

import os

from perfbench import gen
from perfbench.corpus import CLEAN_SCHEMA, check_shard, clean_output
from perfbench.etl import DQ_COLUMNS, FACT_SCHEMA, fact_output, oracle, written
from perfbench.harness import Run, timed

from sqltask_spark.sinks.files import ParquetSink
from sqltask_spark.table import TableContext
from sqltask_spark.task import SparkTask


#: years the warm-up loads; every measured batch re-runs one of them
LOADS = 1
#: measured batches per run at least (one outlasts the measured window)
MIN_OPS = 1


class TracedSink:
    """ParquetSink with a span around each write: the fact write is
    the ``sinks`` layer, the shadow write the ``dq`` layer."""

    def __init__(self, run: Run) -> None:
        self.run = run
        self.inner = ParquetSink()

    def write_batch(self, df, table: TableContext) -> None:
        dq = table.name.endswith("_dq")
        name, layer = ("dq.write", "dq") if dq else ("sinks.write", "sinks")
        with self.run.span(name, layer):
            self.inner.write_batch(df, table)


class NightlyBatchTask(SparkTask):
    min_row_count = 1

    def __init__(self, run: Run, inputs: gen.EtlInputs,
                 shard: gen.CorpusShard, out_dir: str) -> None:
        super().__init__(run.spark, ship_year=shard.shard_id)
        self.run = run
        self.inputs = inputs
        self.shard = shard
        self.figures: dict = {}
        self._cached: list = []
        for name, schema in (("fact_lineitem", FACT_SCHEMA),
                             ("clean_documents", CLEAN_SCHEMA)):
            self.add_table(
                TableContext(
                    name=name, schema=schema,
                    batch_params={"ship_year": shard.shard_id},
                    timestamp_column_name=(
                        "etl_timestamp" if "etl_timestamp"
                        in schema.fieldNames() else None),
                    path=f"{out_dir}/{name}",
                ),
                sink=TracedSink(run),
            )

    def transform(self) -> None:
        with self.run.span("task.transform", "task"):
            year = self.batch_params["ship_year"]
            self.set_output("fact_lineitem",
                            fact_output(self.run, self.inputs, year))
            docs = self.spark.read.parquet(self.shard.path)
            out, self._cached, self.figures = clean_output(self.run, docs)
            self.set_output("clean_documents", out)

    def validate(self) -> None:
        with self.run.span("task.validate", "task"):
            super().validate()

    def post_insert(self) -> None:
        with self.run.span("task.post_insert", "task"):
            super().post_insert()

    def release(self) -> None:
        for df in self._cached:
            df.unpersist()


def execute(task: SparkTask, run: Run) -> None:
    """``SparkTask.execute()`` with its two phases in their own spans
    (``execute`` is exactly ``execute_migration(); execute_etl()``)."""
    with run.span("task.execute", "task"):
        with run.span("task.migration", "task"):
            task.execute_migration()
        task.execute_etl()


def dir_usage(path: str) -> tuple[int, int]:
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def run_batch(run: Run, inputs: gen.EtlInputs, shard: gen.CorpusShard,
              out_dir: str) -> dict:
    task = NightlyBatchTask(run, inputs, shard, out_dir)
    try:
        execute(task, run)
    finally:
        task.release()
    return task.figures


def setup(run: Run, base: str) -> dict:
    """Generate the star schema, the loaded years' corpus shards and
    the warm-up's smaller shards."""
    size = gen.SIZES[run.scale]
    inputs = gen.etl_inputs(run.seed, f"{base}/in",
                            size["etl_rows_per_batch"], n_loads=LOADS)
    shards = {y: gen.corpus_shard(run.seed, f"{base}/in", y,
                                  size["dedup_docs_per_shard"])
              for y in sorted(set(inputs.order))}
    warmup = {y: gen.corpus_shard(run.seed, f"{base}/warmup", y,
                                  size["warmup_docs_per_shard"])
              for y in inputs.order[:LOADS]}
    return {"inputs": inputs, "shards": shards, "warmup": warmup}


def setup_once(run: Run, state: dict) -> None:
    """The untimed warm-up: the first load of each loaded year, with a
    smaller corpus shard whose doc ids are the full shard's lowest. It
    pays the JVM's and Spark's first-use costs (class loading, JIT,
    codegen), and the measured re-runs must replace its rows."""
    for year in state["inputs"].order[:LOADS]:
        run_batch(run, state["inputs"], state["warmup"][year],
                  f"{run.workdir}/out")


def measure(run: Run, state: dict, deadline: float, clock) -> dict:
    """Re-run loaded years in seed order; each re-run overwrites its
    year's partitions, which must end up holding one full copy."""
    inputs: gen.EtlInputs = state["inputs"]
    out = f"{run.workdir}/out"
    loaded = inputs.order[:LOADS]
    walls: list[float] = []
    items = 0
    pairs = rounds = 0
    i = LOADS
    while (len(walls) < MIN_OPS
           or (clock() < deadline and i < len(inputs.order))):
        year = inputs.order[i]
        shard = state["shards"][year]
        wall, figures = timed(run.op, run_batch, run, inputs, shard, out)
        walls.append(wall)
        items += inputs.rows_per_year[year] + shard.n_docs
        pairs += (figures or {}).get("pairs", 0)
        rounds += (figures or {}).get("rounds", 0)
        i += 1

    # -- correctness, one checked operation per loaded year (untimed) --
    want, got = oracle(inputs), written(out)
    recall = [0, 0]

    def check_year(year: int) -> None:
        w, g = want[year], got.get(year)
        run.check(
            g is not None
            and g["rows"] == w["rows"] == g["keys"]
            and abs(g["revenue"] - w["revenue"])
            <= 1e-9 * max(1.0, abs(w["revenue"]))
            and g["dq"] == w["dq"],
            f"year {year}: engine {g} != oracle {w}")
        found, planted = check_shard(run, state["shards"][year], out)
        recall[0] += found
        recall[1] += planted

    for year in sorted(loaded):
        run.op(check_year, year)
    run.op(lambda: run.check(
        set(got) == set(loaded),
        f"partitions {sorted(got)} != loaded years {sorted(loaded)}"))

    # from what the engine wrote: each fact row probes orders, customer
    # and nation; a missing order misses all three lookups, a missing
    # customer two, a missing nation one
    probed = hit = 0
    for g in got.values():
        dq = g["dq"]
        probed += 3 * g["rows"]
        hit += 3 * g["rows"] - (
            3 * dq["o_orderdate"] + 2 * dq["c_mktsegment"] + dq["n_name"])
    n_years = max(1, len(got))
    files, size_b = 0, 0
    for table in ("fact_lineitem", "fact_lineitem_dq", "clean_documents",
                  "clean_documents_dq"):
        f, b = dir_usage(f"{out}/{table}")
        files, size_b = files + f, size_b + b
    return {
        "walls": walls,
        "items": items,
        "items_wall": sum(walls),
        "extra": {"batch_s": walls,
                  "years": inputs.order[LOADS:LOADS + len(walls)]},
        "layer": {
            "lookup.hit_ratio": hit / probed if probed else 0.0,
            "dq.issues": sum(sum(g["dq"][c] for c in DQ_COLUMNS)
                             for g in got.values()) / n_years,
            "sinks.bytes_written": size_b / n_years,
            "sinks.files_written": files / n_years,
            "dedup.pairs": pairs / len(walls),
            "dedup.recall": recall[0] / recall[1] if recall[1] else 1.0,
            "graph.rounds": rounds / len(walls),
        },
    }
