"""``cdc``: one versioned corpus table (``doc_id``, text, 64-dim
embedding) served by a MinHash index and an IVF index, kept in sync
from the table's change feed. One closed-loop client; each cycle is

1. an epoch of 32 seed-chosen inserts, updates and deletes:
   ``merge_into_parquet``, then ``sync_minhash_index_with_table`` and
   ``sync_ivf_index_with_table`` — all under the engine's 512-row
   driver-side fast-path caps, so fixed per-call cost (jobs, collects,
   manifest I/O) dominates. The epoch is the timed operation: merge
   start until both syncs commit (change → searchable);
2. maintenance of the table and both indexes with fixed thresholds
   (compaction whenever an epoch added a generation or file);
3. point reads beside the writes, served by the maintained table and
   indexes: ``read_parquet_table_keys``, ``probe_minhash_index``
   (twins of a just-inserted and a just-deleted document) and
   ``probe_ivf_index``, each result checked.

The table is compared with the generator's model of the live set
after every epoch and again after its maintenance, and the table and
index directories are walked for the on-disk accounting.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
from pyspark.sql import functions as F

from perfbench import gen
from perfbench.harness import CORES, Run, timed

from sqltask_spark.operators import ann_index as ai
from sqltask_spark.operators import dedup_index as di
from sqltask_spark.operators import index_maintenance as im
from sqltask_spark.operators.index_sync import (
    sync_ivf_index_with_table,
    sync_minhash_index_with_table,
)
from sqltask_spark.operators.merge import (
    create_parquet_table,
    merge_into_parquet,
    read_parquet_table,
    read_parquet_table_keys,
)

#: cycles per run at least (one cycle outlasts the measured window)
MIN_OPS = 1
N_CELLS = 16
LOOKUP_KEYS = 4
#: maintenance thresholds: compact as soon as an epoch adds a
#: generation (indexes) or a file beyond one per core (table)
MAX_FILES = CORES
MAX_GENERATIONS = 1
KEEP_VERSIONS = 2


class Corpus:
    """Paths of the table and its two indexes under one base dir."""

    def __init__(self, base: str) -> None:
        self.base = base
        self.table = f"{base}/table"
        self.minhash = f"{base}/minhash"
        self.ivf = f"{base}/ivf"


def setup(run: Run, base: str) -> dict:
    """Generate the corpus and create the table (repeated)."""
    size = gen.SIZES[run.scale]
    model = gen.CorpusModel(run.seed, f"{base}/in", size["cdc_docs"])
    c = Corpus(base)
    init = run.spark.read.parquet(model.initial_path)
    with run.span("merge.create", "merge"):
        create_parquet_table(init.repartitionByRange(CORES, "doc_id"),
                             c.table, stats_col="doc_id")
    return {"model": model, "corpus": c, "epoch": 0, "synced": False,
            "size": size}


def setup_once(run: Run, state: dict) -> None:
    """Build both indexes over the table's initial rows (once: a build
    costs ≈ 6 s warm and ≈ 12 s cold, and there is no warm-up epoch
    because an epoch costs as much as the measured one)."""
    c: Corpus = state["corpus"]
    init = run.spark.read.parquet(state["model"].initial_path)
    with run.span("dedup_index.build", "dedup_index"):
        di.build_minhash_index(init.select("doc_id", "text"), c.minhash)
    with run.span("ann_index.build", "ann_index"):
        ai.build_ivf_index(init.select("doc_id", "embedding"), c.ivf,
                           "doc_id", n_cells=N_CELLS)


def _epoch(run: Run, state: dict) -> tuple[float, gen.Epoch, dict]:
    """Apply one epoch: MERGE, then both syncs. Returns its wall (merge
    start → both syncs committed), the epoch and the engine's counts."""
    spark = run.spark
    c: Corpus = state["corpus"]
    ep = state["model"].epoch(state["epoch"],
                              state["size"]["epoch_changes"])
    state["epoch"] += 1
    src = spark.read.parquet(ep.path)
    first = None if state["synced"] else 0

    def apply() -> dict:
        with run.span("merge.merge", "merge"):
            m = merge_into_parquet(spark, c.table, src, ["doc_id"],
                                   batch_id=f"epoch-{ep.index}",
                                   delete_col="is_del")
        with run.span("index_sync.minhash", "index_sync"):
            s1 = sync_minhash_index_with_table(
                spark, c.table, c.minhash, "doc_id", "text",
                from_seq=first)
        with run.span("index_sync.ivf", "index_sync"):
            s2 = sync_ivf_index_with_table(
                spark, c.table, c.ivf, "doc_id", "embedding",
                from_seq=first)
        return {"merge": m, "minhash": s1, "ivf": s2}

    wall, out = timed(run.op, apply)
    state["synced"] = True
    return wall, ep, out or {}


def _twin_queries(model: gen.CorpusModel, ep: gen.Epoch, deleted: dict):
    """A copy of a just-inserted document (must be found) and of a
    just-deleted one (must not be), under fresh query ids."""
    ins = ep.inserted[0]
    dele = ep.deleted[0]
    return ins, dele, [
        (10**12 + ins, model.live[ins][0], model.live[ins][1].tolist()),
        (10**12 + dele, deleted[dele][0], deleted[dele][1].tolist()),
    ]


def _reads(run: Run, state: dict, ep: gen.Epoch, deleted: dict,
           lat: dict) -> None:
    spark = run.spark
    c: Corpus = state["corpus"]
    model: gen.CorpusModel = state["model"]
    ids = model.read_ids(ep.index, LOOKUP_KEYS)

    def lookup():
        with run.span("merge.lookup", "merge"):
            rows = read_parquet_table_keys(spark, c.table, ids).select(
                "doc_id", F.md5("text").alias("h")).collect()
        got = {r["doc_id"]: r["h"] for r in rows}
        want = {i: hashlib.md5(model.live[i][0].encode("utf-8")).hexdigest()
                for i in ids}
        run.check(got == want, f"lookup {ids}: {got} != {want}")

    ins, dele, q = _twin_queries(model, ep, deleted)
    qdf = spark.createDataFrame(
        q, "doc_id long, text string, embedding array<float>")

    def probe():
        with run.span("dedup_index.probe", "dedup_index"):
            rows = di.probe_minhash_index(
                spark, c.minhash, qdf.select("doc_id", "text")).collect()
        hits = {(r["batch_id"] - 10**12, r["corpus_id"]) for r in rows}
        state["hits"] = state.get("hits", 0) + len(rows)
        run.check((ins, ins) in hits, f"twin of inserted {ins} not found")
        run.check(not any(b == dele or cid == dele for b, cid in hits),
                  f"twin of deleted {dele} matched: {sorted(hits)}")

    def knn():
        with run.span("ann_index.probe", "ann_index"):
            rows = ai.probe_ivf_index(
                spark, c.ivf, qdf.select("doc_id", "embedding"), "doc_id",
                k=3).collect()
        top = {r["query_id"] - 10**12: r["neighbor_id"] for r in rows
               if r["rank"] == 1}
        run.check(top.get(ins) == ins, f"knn of inserted {ins}: {top}")
        run.check(all(r["neighbor_id"] != dele for r in rows),
                  f"knn returned deleted {dele}")

    for name, fn in (("lookup", lookup), ("probe", probe), ("knn", knn)):
        wall, _ = timed(run.op, fn)
        lat[name].append(wall)


def _check_table(run: Run, state: dict, ep: gen.Epoch, after: str) -> None:
    """The committed table equals the model's live set: same keys, same
    text and embedding bytes."""
    model: gen.CorpusModel = state["model"]
    pdf = read_parquet_table(run.spark, state["corpus"].table).select(
        "doc_id", "text", "embedding").toPandas()
    got = {
        int(i): hashlib.md5(t.encode("utf-8") + np.asarray(
            e, dtype=np.float32).tobytes()).hexdigest()
        for i, t, e in zip(pdf["doc_id"], pdf["text"], pdf["embedding"])
    }
    ok = len(got) == len(pdf) == len(model.live) and all(
        got.get(i) == model.content_hash(i) for i in model.live)
    run.check(ok, f"epoch {ep.index}, after {after}: table ({len(pdf)} "
                  f"rows) != model ({len(model.live)} live)")


def _maintain(run: Run, state: dict) -> tuple[float, int]:
    spark = run.spark
    c: Corpus = state["corpus"]

    def go() -> int:
        with run.span("maintain", "maintain"):
            t = im.maintain_parquet_table(
                spark, c.table, max_files=MAX_FILES,
                min_mean_file_bytes=1 << 30,
                vacuum_keep_versions=KEEP_VERSIONS)
        with run.span("maintain", "maintain"):
            m = im.maintain_minhash_index(
                spark, c.minhash, max_generations=MAX_GENERATIONS,
                vacuum_keep_versions=KEEP_VERSIONS)
        with run.span("maintain", "maintain"):
            v = im.maintain_ivf_index(
                spark, c.ivf, max_generations=MAX_GENERATIONS,
                vacuum_keep_versions=KEEP_VERSIONS)
        return int(t["compacted"]) + int(m["compacted"]) + int(
            v["compacted"])

    wall, n = timed(run.op, go)
    return wall, n or 0


def disk_usage(corpus: Corpus, run: Run) -> dict:
    """Files and bytes under the table and index directories (every
    file, checksums and manifests included), walked from outside the
    engine, plus generation and version counts from the public health
    functions."""
    files = size = 0
    for root in (corpus.table, corpus.minhash, corpus.ivf):
        for dirpath, _, names in os.walk(root):
            files += len(names)
            size += sum(os.path.getsize(os.path.join(dirpath, n))
                        for n in names)
    spark = run.spark
    th = im.parquet_table_health(spark, corpus.table)
    mh = im.minhash_index_health(spark, corpus.minhash)
    ih = im.ivf_index_health(spark, corpus.ivf)
    return {
        "files": files, "bytes": size,
        "generations": mh["n_generations"] + ih["n_generations"],
        "versions": th["n_versions"] + mh["n_versions"] + ih["n_versions"],
    }


def measure(run: Run, state: dict, deadline: float, clock) -> dict:
    model: gen.CorpusModel = state["model"]
    epochs, maint = [], []
    lat = {"lookup": [], "probe": [], "knn": []}
    changes = 0
    counts = {"rewritten": 0, "pruned": 0, "files": 0, "applied": 0,
              "compactions": 0}
    disk = {}
    while len(epochs) < MIN_OPS or clock() < deadline:
        before = dict(model.live)
        wall, ep, out = _epoch(run, state)
        epochs.append(wall)
        changes += ep.n_changes
        m = out.get("merge") or {}
        counts["rewritten"] += m.get("rewritten_files", 0)
        counts["pruned"] += m.get("stats_pruned_files", 0)
        counts["files"] += m.get("total_files", 0)
        for k in ("minhash", "ivf"):
            s = out.get(k) or {}
            counts["applied"] += (s.get("tombstoned", 0)
                                  + s.get("appended", 0)
                                  + s.get("unblocked", 0))
        run.op(_check_table, run, state, ep, "epoch")
        wall, n = _maintain(run, state)
        maint.append(wall)
        counts["compactions"] += n
        # the maintained table and indexes serve the reads
        run.op(_check_table, run, state, ep, "maintenance")
        _reads(run, state, ep, {i: before[i] for i in ep.deleted}, lat)
        disk = disk_usage(state["corpus"], run)
    n = len(epochs)
    return {
        "walls": epochs,
        "items": changes,
        "items_wall": sum(epochs) + sum(maint),
        "extra": {
            "epoch_s": epochs,
            "maintain_s": maint,
            "lookup_s": lat["lookup"],
            "probe_s": lat["probe"],
            "knn_s": lat["knn"],
            "bytes_per_live_byte": disk["bytes"] / model.live_bytes(),
            "disk": disk,
        },
        "layer": {
            "merge.rewritten_files": counts["rewritten"] / n,
            "merge.pruned_ratio": counts["pruned"] / max(1, counts["files"]),
            "index_sync.applied": counts["applied"] / n,
            "dedup_index.hits": state.get("hits", 0) / n,
            "maintain.compactions": counts["compactions"],
            "index_fs.generations": disk["generations"],
            "index_fs.versions": disk["versions"],
            "index_fs.files": disk["files"],
            "index_fs.bytes": disk["bytes"],
        },
    }
