"""Ingest-loop lifecycle of the persistent indexes: idempotent
re-append, crash-atomic publish, orphan sweep, layout-from-meta.

These pin the :mod:`sqltask_spark.operators.index_fs` commit protocol
shared by the MinHash-LSH index and the IVF index: a mutation is
visible IFF its manifest landed, a retried batch is a no-op, and
debris from a crashed append is mechanically detected and swept.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from sqltask_spark.operators import index_fs
from sqltask_spark.operators.ann_index import (
    append_to_ivf_index,
    build_ivf_index,
    compact_ivf_index,
    delete_from_ivf_index,
    ivf_occupancy_stats,
    probe_ivf_index,
)
from sqltask_spark.operators.dedup_index import (
    append_to_minhash_index,
    build_minhash_index,
    compact_minhash_index,
    delete_from_minhash_index,
    probe_minhash_index,
)

NOVEL = "xq zz yy ww vv uu tt ss rr qq pp oo nn mm"


def _mh_canon(spark, path, probe_df):
    return {
        (r.batch_id, r.corpus_id): (r.n_shared_bands, round(r.jaccard, 9))
        for r in probe_minhash_index(
            spark, path, probe_df, threshold=0.5
        ).collect()
    }


def _ivf_canon(spark, path, q, **kw):
    return [
        (r["query_id"], r["rank"], r["neighbor_id"], r["score"])
        for r in probe_ivf_index(
            spark, path, q, "vec_id", "embedding", k=5, n_probe=8, **kw
        ).orderBy("query_id", "rank").collect()
    ]


def test_minhash_append_is_idempotent(spark, tables, tmp_path):
    """Re-appending an already-committed batch (the W1/L2 re-run
    scenario) is a NO-OP: returns 0, writes no generation, and the
    probe result is bit-identical — no silent posting double-insert."""
    docs = tables["documents"]
    idx = str(tmp_path / "mh")
    build_minhash_index(docs, idx)
    batch = spark.createDataFrame(
        [(900002, NOVEL)], "doc_id long, text string"
    )
    probe = spark.createDataFrame(
        [(900003, NOVEL + " extra")], "doc_id long, text string"
    )
    assert append_to_minhash_index(idx, batch) == 1
    before = _mh_canon(spark, idx, probe)
    gens_before = index_fs.list_names(spark, f"{idx}/data")
    assert append_to_minhash_index(idx, batch) == 0  # retried batch
    assert index_fs.list_names(spark, f"{idx}/data") == gens_before
    assert _mh_canon(spark, idx, probe) == before and before


def test_minhash_append_crash_leaves_preappend_state(
    spark, tables, tmp_path, monkeypatch
):
    """A crash at ANY point before the manifest lands (injected at
    the commit itself — the latest possible point, after every data
    file is on disk) leaves probes serving the pre-append state
    bit-for-bit; re-running the append sweeps the orphan generation
    and heals."""
    docs = tables["documents"]
    idx = str(tmp_path / "mh_crash")
    build_minhash_index(docs, idx)
    batch = spark.createDataFrame(
        [(900002, NOVEL)], "doc_id long, text string"
    )
    probe = spark.createDataFrame(
        [(900003, NOVEL + " extra")], "doc_id long, text string"
    )
    pre = _mh_canon(spark, idx, probe)
    assert pre == {}

    real = index_fs.commit_manifest

    def crash(*a, **kw):
        raise RuntimeError("injected crash before manifest commit")

    monkeypatch.setattr(index_fs, "commit_manifest", crash)
    with pytest.raises(RuntimeError, match="injected"):
        append_to_minhash_index(idx, batch)
    monkeypatch.setattr(index_fs, "commit_manifest", real)

    # orphan generation data IS on disk, yet invisible to the probe
    assert len(index_fs.list_names(spark, f"{idx}/data")) == 2
    assert _mh_canon(spark, idx, probe) == pre
    # re-run heals: orphan swept, append lands, probe sees the batch
    assert append_to_minhash_index(idx, batch) == 1
    assert len(index_fs.list_names(spark, f"{idx}/data")) == 2
    hits = _mh_canon(spark, idx, probe)
    assert set(hits) == {(900003, 900002)}


def test_minhash_torn_manifest_falls_back(spark, tables, tmp_path):
    """A torn (half-written) newest manifest is skipped in favor of
    its parseable predecessor — a crash DURING the manifest write is
    also safe."""
    docs = tables["documents"]
    idx = str(tmp_path / "mh_torn")
    build_minhash_index(docs, idx)
    batch = spark.createDataFrame(
        [(900002, NOVEL)], "doc_id long, text string"
    )
    append_to_minhash_index(idx, batch)
    good = index_fs.read_manifest(spark, idx)
    with open(
        os.path.join(idx, "manifests", "manifest-%012d.json" % 99), "w"
    ) as f:
        f.write('{"generations": ["g000000", "g0')  # torn mid-write
    m = index_fs.read_manifest(spark, idx)
    assert m["generations"] == good["generations"]
    assert m["_seq"] == good["_seq"]


def test_ivf_append_is_idempotent(spark, sf_dir, tmp_path):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") == 1)
    idx = str(tmp_path / "ivf")
    build_ivf_index(emb, idx, "vec_id", "embedding", n_cells=16)
    clone = q.select(
        F.lit(990001).cast("long").alias("vec_id"), F.col("embedding")
    )
    assert append_to_ivf_index(idx, clone, "vec_id", "embedding") == 1
    before = _ivf_canon(spark, idx, q)
    gens_before = index_fs.list_names(spark, f"{idx}/vectors")
    assert append_to_ivf_index(idx, clone, "vec_id", "embedding") == 0
    assert index_fs.list_names(spark, f"{idx}/vectors") == gens_before
    assert _ivf_canon(spark, idx, q) == before
    # exactly ONE appended copy: a double-insert would duplicate the
    # rank-1 clone row
    assert [r for r in before if r[3] == 1.0][0][2] == 990001
    assert sum(1 for r in before if r[2] == 990001) == 1


def test_ivf_append_crash_leaves_preappend_state(
    spark, sf_dir, tmp_path, monkeypatch
):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") == 1)
    idx = str(tmp_path / "ivf_crash")
    build_ivf_index(emb, idx, "vec_id", "embedding", n_cells=16)
    pre = _ivf_canon(spark, idx, q)
    clone = q.select(
        F.lit(990001).cast("long").alias("vec_id"), F.col("embedding")
    )
    real = index_fs.commit_manifest

    def crash(*a, **kw):
        raise RuntimeError("injected crash before manifest commit")

    monkeypatch.setattr(index_fs, "commit_manifest", crash)
    with pytest.raises(RuntimeError, match="injected"):
        append_to_ivf_index(idx, clone, "vec_id", "embedding")
    monkeypatch.setattr(index_fs, "commit_manifest", real)

    assert len(index_fs.list_names(spark, f"{idx}/vectors")) == 2
    assert _ivf_canon(spark, idx, q) == pre  # orphan gen invisible
    assert append_to_ivf_index(idx, clone, "vec_id", "embedding") == 1
    assert len(index_fs.list_names(spark, f"{idx}/vectors")) == 2
    after = _ivf_canon(spark, idx, q)
    assert [r for r in after if r[1] == 1][0][2] == 990001


def test_ivf_pq_append_encodes_against_stored_codebooks(
    spark, sf_dir, tmp_path
):
    """PQ-layout append: the layout is detected from the stored META
    (not a driver-local filesystem probe), so appended rows carry
    byte codes and the ADC probe ranks them — an appended exact clone
    of the query must win rank 1 through the PQ path."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") == 1)
    idx = str(tmp_path / "ivfpq_app")
    build_ivf_index(
        emb, idx, "vec_id", "embedding", n_cells=16, m=16, pq_k=16
    )
    clone = q.select(
        F.lit(990001).cast("long").alias("vec_id"), F.col("embedding")
    )
    assert append_to_ivf_index(idx, clone, "vec_id", "embedding") == 1
    m = index_fs.read_manifest(spark, idx)
    appended = (
        spark.read.option("basePath", f"{idx}/vectors")
        .parquet(*[f"{idx}/vectors/gen={g}" for g in m["generations"]])
        .filter(F.col("neighbor_id") == 990001)
        .collect()
    )
    assert len(appended) == 1 and appended[0]["codes"] is not None
    top = _ivf_canon(spark, idx, q, use_pq=True)[0]
    assert top[2] == 990001 and top[3] == 1.0


def test_ivf_occupancy_drift_signal_moves(spark, sf_dir, tmp_path):
    """The frozen-quantizer operating contract: appending a skewed
    batch (many vectors collapsing into one cell) must move the
    concentration ratio UP — the rebuild trigger is observable."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    idx = str(tmp_path / "ivf_occ")
    build_ivf_index(emb, idx, "vec_id", "embedding", n_cells=16)
    s0 = ivf_occupancy_stats(spark, idx).first()
    assert s0["n_vectors"] == emb.count()
    assert s0["concentration_micro"] >= 1_000_000  # max ≥ mean always

    one = emb.filter(F.col("vec_id") == 1)
    skewed = one.crossJoin(
        spark.range(64).select((F.col("id") + 990001).alias("new_id"))
    ).select(
        F.col("new_id").alias("vec_id"), F.col("embedding")
    )
    assert append_to_ivf_index(idx, skewed, "vec_id", "embedding") == 64
    s1 = ivf_occupancy_stats(spark, idx).first()
    assert s1["n_vectors"] == s0["n_vectors"] + 64
    # all 64 clones share ONE cell (they are copies of one vector),
    # so some cell now holds ≥ 64 + its prior load — max outgrew the
    # barely-moved mean
    assert s1["max_occupancy"] > s0["max_occupancy"]
    assert s1["max_occupancy"] >= 64
    assert s1["concentration_micro"] > s0["concentration_micro"]


def test_minhash_delete_compact_lifecycle(spark, tables, tmp_path):
    """The full mutation lifecycle: tombstone delete takes effect
    immediately (probe stops matching the deleted doc, others
    untouched), is idempotent, blocks id re-use until compaction;
    compaction collapses the generations, is probe-invariant, and
    frees the deleted id for re-admission."""
    docs = tables["documents"]
    idx = str(tmp_path / "mh_del")
    build_minhash_index(docs, idx)
    batch = spark.createDataFrame(
        [(900002, NOVEL)], "doc_id long, text string"
    )
    probe = spark.createDataFrame(
        [(900003, NOVEL + " extra")], "doc_id long, text string"
    )
    append_to_minhash_index(idx, batch)
    full_probe = docs.select("doc_id", "text").unionByName(probe)
    before = _mh_canon(spark, idx, full_probe)
    assert any(c == 900002 for _, c in before)

    # delete the appended doc: immediate, idempotent, others intact
    ids = spark.createDataFrame([(900002,)], "doc_id long")
    assert delete_from_minhash_index(idx, ids) == 1
    assert delete_from_minhash_index(idx, ids) == 0  # idempotent
    # never-indexed ids tombstone nothing
    assert delete_from_minhash_index(
        idx, spark.createDataFrame([(123456789,)], "doc_id long")
    ) == 0
    after_del = _mh_canon(spark, idx, full_probe)
    assert after_del == {
        k: v for k, v in before.items() if k[1] != 900002
    }
    # the tombstoned id is NOT re-admittable before compaction
    assert append_to_minhash_index(idx, batch) == 0

    # compaction: probe-invariant, one generation, tombstones cleared
    compact_minhash_index(spark, idx)
    assert _mh_canon(spark, idx, full_probe) == after_del
    assert len(index_fs.list_names(spark, f"{idx}/data")) == 1
    assert index_fs.read_manifest(spark, idx)["tombstones"] == []
    assert index_fs.list_names(spark, f"{idx}/tombstones") == []
    # the id is free again — re-admission works and matches again
    assert append_to_minhash_index(idx, batch) == 1
    assert any(
        c == 900002 for _, c in _mh_canon(spark, idx, full_probe)
    )


def test_minhash_compact_crash_leaves_precompact_state(
    spark, tables, tmp_path, monkeypatch
):
    """Compaction is atomic too: a crash before its manifest lands
    leaves probes serving the multi-generation + tombstone state
    bit-for-bit; re-running completes it."""
    docs = tables["documents"]
    idx = str(tmp_path / "mh_cc")
    build_minhash_index(docs, idx)
    batch = spark.createDataFrame(
        [(900002, NOVEL)], "doc_id long, text string"
    )
    probe = spark.createDataFrame(
        [(900003, NOVEL + " extra")], "doc_id long, text string"
    )
    append_to_minhash_index(idx, batch)
    delete_from_minhash_index(
        idx, spark.createDataFrame([(900002,)], "doc_id long")
    )
    pre = _mh_canon(spark, idx, probe)

    real = index_fs.commit_manifest

    def crash(*a, **kw):
        raise RuntimeError("injected crash before manifest commit")

    monkeypatch.setattr(index_fs, "commit_manifest", crash)
    with pytest.raises(RuntimeError, match="injected"):
        compact_minhash_index(spark, idx)
    monkeypatch.setattr(index_fs, "commit_manifest", real)
    assert _mh_canon(spark, idx, probe) == pre
    m = index_fs.read_manifest(spark, idx)
    assert len(m["generations"]) == 2 and m["tombstones"]

    compact_minhash_index(spark, idx)
    assert _mh_canon(spark, idx, probe) == pre
    assert len(index_fs.read_manifest(spark, idx)["generations"]) == 1


def test_ivf_delete_compact_lifecycle(spark, sf_dir, tmp_path):
    """IVF mutation lifecycle: tombstoned vectors stop ranking
    immediately (the clone at rank 1 disappears, the pre-append
    ranking returns exactly), occupancy reflects the live view, id
    re-use is blocked until compaction, and compaction is
    probe-invariant with cell pruning intact."""
    from tests.test_plans import plan_report

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") == 1)
    idx = str(tmp_path / "ivf_del")
    build_ivf_index(emb, idx, "vec_id", "embedding", n_cells=16)
    before = _ivf_canon(spark, idx, q)
    occ0 = ivf_occupancy_stats(spark, idx).first()
    clone = q.select(
        F.lit(990001).cast("long").alias("vec_id"), F.col("embedding")
    )
    append_to_ivf_index(idx, clone, "vec_id", "embedding")
    assert _ivf_canon(spark, idx, q)[0][2] == 990001

    ids = spark.createDataFrame([(990001,)], "vec_id long")
    assert delete_from_ivf_index(idx, ids, "vec_id") == 1
    assert delete_from_ivf_index(idx, ids, "vec_id") == 0
    assert _ivf_canon(spark, idx, q) == before  # ranking restored
    occ1 = ivf_occupancy_stats(spark, idx).first()
    assert occ1["n_vectors"] == occ0["n_vectors"]  # live view
    # cell pruning survives the tombstone anti-join
    pr = plan_report(
        probe_ivf_index(
            spark, idx, q, "vec_id", "embedding", k=5, n_probe=8
        )
    )
    assert any("cell" in p for p in pr.partition_filters)
    # blocked re-use until compaction, then free again
    assert append_to_ivf_index(idx, clone, "vec_id", "embedding") == 0
    compact_ivf_index(spark, idx)
    assert _ivf_canon(spark, idx, q) == before  # probe-invariant
    assert len(index_fs.list_names(spark, f"{idx}/vectors")) == 1
    assert append_to_ivf_index(idx, clone, "vec_id", "embedding") == 1
    assert _ivf_canon(spark, idx, q)[0][2] == 990001


def test_corpus_ingest_loop_learns_across_batches(spark, sf_dir):
    """The catalog entry composing the ingest hour: batch 2 carries
    one near-dup per fifth batch-1 doc, and catching them requires
    the index to have learned batch 1's admits (or their original
    near-partners) — every planted near-dup must be flagged, and
    flag/admit must partition each batch exactly."""
    from sqltask_spark.queries.textops import corpus_ingest_loop

    rows = {r["batch_no"]: r for r in
            corpus_ingest_loop(spark, sf_dir).collect()}
    assert set(rows) == {1, 2}
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_planted = docs.filter(
        (F.col("doc_id") % 3 == 1) & (F.col("doc_id") % 5 == 0)
    ).count()
    assert n_planted > 0
    for r in rows.values():
        assert r["n_flagged"] + r["n_admitted"] == r["n_docs"]
    # every planted near-dup of a batch-1 doc is caught at batch 2
    assert rows[2]["n_flagged"] >= n_planted
    # and the index grew monotonically by exactly the admits
    assert rows[2]["index_docs"] == (
        rows[1]["index_docs"] + rows[2]["n_admitted"]
    )


def test_corpus_takedown_screen_deleted_docs_never_match(spark, sf_dir):
    """The takedown entry's own zero is real: near-dups targeting
    tombstoned docs must produce no hit against them, while the
    alive half of the batch still matches."""
    from sqltask_spark.queries.textops import corpus_takedown_screen

    r = corpus_takedown_screen(spark, sf_dir).first()
    assert r["n_deleted"] > 0
    assert r["hits_on_deleted"] == 0
    assert r["n_hits"] > 0 and r["batch_docs_matched"] > 0


def test_manifest_commit_is_create_exclusive(spark, tmp_path):
    """Two writers racing for the same manifest slot: the second
    create MUST fail loudly (single-writer violations error instead
    of silently clobbering a committed state)."""
    path = str(tmp_path / "idx")
    index_fs.commit_manifest(spark, path, {"generations": ["g000000"]}, -1)
    with pytest.raises(Exception):
        index_fs.commit_manifest(
            spark, path, {"generations": ["gXXXXXX"]}, -1
        )
    m = index_fs.read_manifest(spark, path)
    assert m["generations"] == ["g000000"]


def test_minhash_time_travel_probe(spark, tables, tmp_path):
    """as_of probes a PAST committed version: after an append AND a
    tombstone delete, probing version 0 reproduces the original
    screening decision bit-for-bit; compaction is the retention
    boundary (travel past it errors loudly)."""
    docs = tables["documents"]
    idx = str(tmp_path / "mh_tt")
    build_minhash_index(docs, idx)
    v0 = index_fs.read_manifest(spark, idx)["_seq"]
    probe = spark.createDataFrame(
        [(900003, NOVEL + " extra")], "doc_id long, text string"
    )
    before = _mh_canon(spark, idx, probe)
    # mutate: admit a doc the probe matches, then tombstone one
    append_to_minhash_index(
        idx,
        spark.createDataFrame([(900002, NOVEL)], "doc_id long, text string"),
    )
    delete_from_minhash_index(idx, docs.limit(1).select("doc_id"))
    now = _mh_canon(spark, idx, probe)
    assert (900003, 900002) in now and (900003, 900002) not in before
    # time travel: version 0 still serves the pre-mutation state
    tt = {
        (r.batch_id, r.corpus_id): (r.n_shared_bands, round(r.jaccard, 9))
        for r in probe_minhash_index(
            spark, idx, probe, threshold=0.5, as_of=v0
        ).collect()
    }
    assert tt == before
    # nonexistent version errors with the available list
    with pytest.raises(ValueError, match="does not exist"):
        probe_minhash_index(spark, idx, probe, as_of=99).collect()
    # compaction reclaims: version 0 becomes unreadable, loudly
    compact_minhash_index(spark, idx)
    with pytest.raises(ValueError, match="no longer readable"):
        probe_minhash_index(spark, idx, probe, as_of=v0).collect()


def test_ivf_time_travel_probe_and_occupancy(spark, sf_dir, tmp_path):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") == 1)
    idx = str(tmp_path / "ivf_tt")
    build_ivf_index(emb, idx, "vec_id", "embedding", n_cells=16)
    v0 = index_fs.read_manifest(spark, idx)["_seq"]
    before = _ivf_canon(spark, idx, q)
    occ0 = ivf_occupancy_stats(spark, idx).collect()[0]
    clone = q.select(
        F.lit(990001).cast("long").alias("vec_id"), F.col("embedding")
    )
    append_to_ivf_index(idx, clone, "vec_id", "embedding")
    assert _ivf_canon(spark, idx, q) != before  # clone now rank 1
    assert _ivf_canon(spark, idx, q, as_of=v0) == before
    occ_tt = ivf_occupancy_stats(spark, idx, as_of=v0).collect()[0]
    assert tuple(occ_tt) == tuple(occ0)
    assert (
        ivf_occupancy_stats(spark, idx).collect()[0]["n_vectors"]
        == occ0["n_vectors"] + 1
    )
    compact_ivf_index(spark, idx)
    with pytest.raises(ValueError, match="no longer readable"):
        probe_ivf_index(
            spark, idx, q, "vec_id", "embedding", as_of=v0
        ).collect()


def test_maintain_minhash_index_policy(spark, tables, tmp_path):
    """The closed maintenance loop: below thresholds maintain is a
    manifest-read no-op; once appends push the generation count over
    max_generations it compacts — generation count drops to 1, probe
    bit-identical, ledgered health numbers returned."""
    from sqltask_spark.operators.index_maintenance import (
        maintain_minhash_index,
        minhash_index_health,
    )

    docs = tables["documents"]
    idx = str(tmp_path / "mh_maint")
    build_minhash_index(docs, idx)
    for i in range(3):
        batch = spark.createDataFrame(
            [(910000 + i, NOVEL + f" batch{i}")],
            "doc_id long, text string",
        )
        assert append_to_minhash_index(idx, batch) == 1
    assert minhash_index_health(spark, idx)["n_generations"] == 4
    probe = docs.select("doc_id", "text").limit(50)
    before = _mh_canon(spark, idx, probe)
    # under threshold: no-op
    r = maintain_minhash_index(spark, idx, max_generations=10)
    assert r["compacted"] is False
    assert len(index_fs.list_names(spark, f"{idx}/data")) == 4
    # over threshold: compacts to one generation, probe-invariant
    r = maintain_minhash_index(spark, idx, max_generations=3)
    assert r["compacted"] is True and r["n_generations"] == 4
    assert len(index_fs.list_names(spark, f"{idx}/data")) == 1
    assert _mh_canon(spark, idx, probe) == before


def test_maintain_minhash_index_tombstone_ratio(spark, tables, tmp_path):
    """The tombstone-ratio trigger: deleting a big slice of the index
    trips max_tombstone_ratio and the compaction physically drops the
    tombstoned rows."""
    from sqltask_spark.operators.index_maintenance import (
        maintain_minhash_index,
    )

    docs = tables["documents"].limit(40)
    idx = str(tmp_path / "mh_maint_tomb")
    build_minhash_index(docs, idx)
    ids = docs.select("doc_id").limit(15)
    n_del = delete_from_minhash_index(idx, ids)
    assert n_del == 15
    r = maintain_minhash_index(
        spark, idx, max_generations=100, max_tombstone_ratio=0.9
    )
    assert r["compacted"] is False and r["n_tombstoned"] == 15
    r = maintain_minhash_index(
        spark, idx, max_generations=100, max_tombstone_ratio=0.2
    )
    assert r["compacted"] is True
    assert index_fs.read_manifest(spark, idx)["tombstones"] == []


def test_maintain_ivf_index_policy(spark, sf_dir, tmp_path):
    """IVF auto-compaction: generation accumulation over the
    threshold compacts with the FROZEN quantizer — probe results
    bit-identical before/after."""
    from sqltask_spark.operators.index_maintenance import (
        maintain_ivf_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") <= 3)
    idx = str(tmp_path / "ivf_maint")
    build_ivf_index(emb, idx, "vec_id", "embedding", n_cells=16)
    for i in range(3):
        clone = emb.filter(F.col("vec_id") == 1).select(
            F.lit(990001 + i).cast("long").alias("vec_id"),
            F.col("embedding"),
        )
        assert append_to_ivf_index(idx, clone, "vec_id", "embedding") == 1
    before = _ivf_canon(spark, idx, q)
    quant_before = index_fs.read_manifest(spark, idx)["quantizer"]
    r = maintain_ivf_index(spark, idx, max_generations=10)
    assert r["compacted"] is False and r["n_generations"] == 4
    r = maintain_ivf_index(spark, idx, max_generations=3)
    assert r["compacted"] is True
    m = index_fs.read_manifest(spark, idx)
    assert len(m["generations"]) == 1
    assert m["quantizer"] == quant_before  # compaction never retrains
    assert _ivf_canon(spark, idx, q) == before


def test_rebuild_ivf_on_drift_policy(spark, sf_dir, tmp_path):
    """Planted drift (64 clones collapsing into one cell) trips the
    concentration threshold → the quantizer RETRAINS on the current
    live vectors and occupancy re-balances; below the threshold the
    frozen quantizer is untouched."""
    from sqltask_spark.operators.ann_index import ivf_occupancy_stats
    from sqltask_spark.operators.index_maintenance import (
        rebuild_ivf_on_drift,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    idx = str(tmp_path / "ivf_drift")
    build_ivf_index(emb, idx, "vec_id", "embedding", n_cells=16)
    skewed = emb.filter(F.col("vec_id") == 1).crossJoin(
        spark.range(64).select((F.col("id") + 990001).alias("new_id"))
    ).select(F.col("new_id").alias("vec_id"), F.col("embedding"))
    assert append_to_ivf_index(idx, skewed, "vec_id", "embedding") == 64
    conc = int(ivf_occupancy_stats(spark, idx).first()["concentration_micro"])
    quant_before = index_fs.read_manifest(spark, idx)["quantizer"]
    # threshold above the observed concentration: frozen, untouched
    r = rebuild_ivf_on_drift(
        spark, idx, max_concentration_micro=conc + 1
    )
    assert r["rebuilt"] is False
    assert index_fs.read_manifest(spark, idx)["quantizer"] == quant_before
    # threshold below: retrain fires, quantizer generation moves, and
    # the retrained occupancy is tighter than the drifted one
    r = rebuild_ivf_on_drift(
        spark, idx, max_concentration_micro=conc - 1
    )
    assert r["rebuilt"] is True
    m = index_fs.read_manifest(spark, idx)
    assert m["quantizer"] != quant_before
    after = int(
        ivf_occupancy_stats(spark, idx).first()["concentration_micro"]
    )
    assert after <= conc
    # every live vector survived the rebuild
    assert int(
        ivf_occupancy_stats(spark, idx).first()["n_vectors"]
    ) == emb.count() + 64


def test_sync_minhash_index_with_table_cdc(spark, tables, tmp_path):
    """The index is a materialized view of the corpus table: after
    merging inserts + updates + deletes into the table and syncing
    the change feed, probing the synced index equals probing a FRESH
    index built from the table's current state — and a re-run of the
    same sync window is a no-op (idempotent mutations)."""
    from sqltask_spark.operators import index_fs
    from sqltask_spark.operators.index_sync import (
        sync_minhash_index_with_table,
    )
    from sqltask_spark.operators.merge import (
        create_parquet_table,
        merge_into_parquet,
        read_parquet_table,
    )

    docs = tables["documents"].select("doc_id", "text").limit(60)
    tbl = str(tmp_path / "corpus_tbl")
    idx = str(tmp_path / "corpus_idx")
    create_parquet_table(docs, tbl)
    build_minhash_index(docs, idx)
    v0 = index_fs.read_manifest(spark, tbl)["_seq"]

    # mutate the table: delete one doc, rewrite another, insert a novel
    some = [r["doc_id"] for r in docs.orderBy("doc_id").limit(2).collect()]
    changes = spark.createDataFrame(
        [
            (some[0], None, True),                       # delete
            (some[1], NOVEL + " rewritten", False),      # update
            (990001, NOVEL, False),                      # insert
        ],
        "doc_id long, text string, is_del boolean",
    )
    merge_into_parquet(
        spark, tbl, changes, ["doc_id"], delete_col="is_del"
    )

    r = sync_minhash_index_with_table(
        spark, tbl, idx, "doc_id", "text", from_seq=v0
    )
    # the updated id is blocked by its own fresh tombstone and freed
    # by the TARGETED unblock (one rewritten generation, not a
    # full-index compaction)
    assert (r["tombstoned"], r["appended"], r["had_updates"]) == (
        2, 2, True
    )
    assert r["unblocked"] == 1 and len(r["rewritten_generations"]) == 1
    current = read_parquet_table(spark, tbl)
    fresh = str(tmp_path / "fresh_idx")
    build_minhash_index(current, fresh)
    probe = current.unionByName(
        spark.createDataFrame(
            [(990002, NOVEL + " probe")], "doc_id long, text string"
        )
    )
    assert _mh_canon(spark, idx, probe) == _mh_canon(spark, fresh, probe)
    # same window again: deletes and inserts no-op outright; the
    # update is RE-APPLIED (tombstone + re-append of the identical
    # post-image) but the state CONVERGES — probe unchanged
    r2 = sync_minhash_index_with_table(
        spark, tbl, idx, "doc_id", "text", from_seq=v0
    )
    assert r2["tombstoned"] == 1 and r2["appended"] == 1  # update id
    # marker-resumed call (from_seq omitted): the synced marker says
    # the window is already applied — a strict no-op
    r3 = sync_minhash_index_with_table(spark, tbl, idx, "doc_id", "text")
    assert (r3["tombstoned"], r3["appended"], r3["unblocked"]) == (0, 0, 0)
    assert r3["from_seq"] == r3["to_seq"]
    assert _mh_canon(spark, idx, probe) == _mh_canon(spark, fresh, probe)


def test_sync_reinsert_after_delete_only_window(spark, tables, tmp_path):
    """The cross-window id-reuse hazard: a delete-only sync leaves a
    live tombstone (no compaction needed), and a LATER window
    re-inserting that key must detect the blocked id, compact, and
    re-admit it — a naive append would anti-join it out silently and
    permanently diverge the view."""
    from sqltask_spark.operators import index_fs
    from sqltask_spark.operators.index_sync import (
        sync_minhash_index_with_table,
    )
    from sqltask_spark.operators.merge import (
        create_parquet_table,
        merge_into_parquet,
    )

    docs = tables["documents"].select("doc_id", "text").limit(40)
    tbl = str(tmp_path / "reins_tbl")
    idx = str(tmp_path / "reins_idx")
    create_parquet_table(docs, tbl)
    build_minhash_index(docs, idx)
    x = docs.orderBy("doc_id").limit(1).collect()[0]["doc_id"]
    v0 = index_fs.read_manifest(spark, tbl)["_seq"]
    # window 1: delete-only — tombstone lives on, nothing compacts
    merge_into_parquet(
        spark, tbl,
        spark.createDataFrame([(x, None, True)],
                              "doc_id long, text string, is_del boolean"),
        ["doc_id"], delete_col="is_del",
    )
    r1 = sync_minhash_index_with_table(
        spark, tbl, idx, "doc_id", "text", from_seq=v0
    )
    assert (r1["tombstoned"], r1["appended"], r1["had_updates"]) == (
        1, 0, False
    )
    assert r1["unblocked"] == 0 and r1["rewritten_generations"] == []
    v1 = index_fs.read_manifest(spark, tbl)["_seq"]
    # window 2: the SAME key returns with new content
    merge_into_parquet(
        spark, tbl,
        spark.createDataFrame([(x, NOVEL, False)],
                              "doc_id long, text string, is_del boolean"),
        ["doc_id"], delete_col="is_del",
    )
    r2 = sync_minhash_index_with_table(
        spark, tbl, idx, "doc_id", "text", from_seq=v1
    )
    assert r2["unblocked"] == 1 and r2["appended"] == 1
    # the re-admitted doc is findable again
    twin = spark.createDataFrame(
        [(900_000, NOVEL + " twin")], "doc_id long, text string"
    )
    assert any(c == x for _, c in _mh_canon(spark, idx, twin))


def test_sync_ivf_index_with_table_cdc(spark, sf_dir, tmp_path):
    """IVF symmetry of the CDC sync: after merging vector inserts +
    updates + deletes into the embeddings table and syncing, probing
    the synced index equals probing a fresh build over the table's
    current state (same frozen-quantizer params)."""
    from sqltask_spark.operators import index_fs
    from sqltask_spark.operators.index_sync import (
        sync_ivf_index_with_table,
    )
    from sqltask_spark.operators.merge import (
        create_parquet_table,
        merge_into_parquet,
        read_parquet_table,
    )

    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", "embedding")
        .limit(100)
    )
    tbl = str(tmp_path / "emb_tbl")
    idx = str(tmp_path / "emb_idx")
    create_parquet_table(emb, tbl)
    build_ivf_index(emb, idx, "vec_id", "embedding", n_cells=16)
    v0 = index_fs.read_manifest(spark, tbl)["_seq"]

    two = emb.orderBy("vec_id").limit(2).collect()
    dim = len(two[0]["embedding"])
    # unique directions: the flipped update anti-aligns with every
    # vector parallel to its original; the ramp insert is parallel to
    # nothing in the synthetic data — so both own their score-1 hit
    upd_vec = [float(x) * -1.0 for x in two[1]["embedding"]]
    new_vec = [0.5 + 0.01 * i for i in range(dim)]
    changes = spark.createDataFrame(
        [
            (two[0]["vec_id"], None, True),       # delete
            (two[1]["vec_id"], upd_vec, False),   # update (flipped)
            (990001, new_vec, False),             # insert (clone)
        ],
        "vec_id long, embedding array<float>, is_del boolean",
    )
    merge_into_parquet(
        spark, tbl, changes, ["vec_id"], delete_col="is_del"
    )
    r = sync_ivf_index_with_table(
        spark, tbl, idx, "vec_id", "embedding", from_seq=v0
    )
    assert (r["tombstoned"], r["appended"], r["had_updates"]) == (
        2, 2, True
    )
    assert r["unblocked"] == 1
    current = read_parquet_table(spark, tbl)
    # the probe excludes self-matches by design, so probe with TWIN
    # ids carrying the exact synced vectors: each must find its
    # synced original at cosine 1.0 (unique directions — see above)
    q = spark.createDataFrame(
        [(555001, new_vec), (555002, upd_vec)],
        "vec_id long, embedding array<float>",
    )
    got = {
        (r2["query_id"], r2["neighbor_id"]): r2["score"]
        for r2 in probe_ivf_index(
            spark, idx, q, "vec_id", "embedding", k=5, n_probe=16
        ).collect()
    }
    assert got[(555001, 990001)] == 1.0           # insert landed
    assert got[(555002, two[1]["vec_id"])] == 1.0  # update landed
    # the deleted vector is gone: no probe may return it
    hits = probe_ivf_index(
        spark, idx, current, "vec_id", "embedding", k=5, n_probe=16
    )
    assert (
        hits.filter(F.col("neighbor_id") == two[0]["vec_id"]).count()
        == 0
    )


def test_unblock_minhash_rewrites_only_affected_generation(
    spark, tables, tmp_path
):
    """VERDICT r10 #4: freeing a blocked id must rewrite ONLY the
    generation(s) physically holding its rows. Build a 3-generation
    index, tombstone one doc from the MIDDLE generation, unblock it:
    the manifest must keep the other two generation names unchanged,
    replace exactly the affected one, clear the freed id's tombstone,
    and a post-unblock re-append + probe must equal a fresh build
    over the same corpus."""
    from sqltask_spark.operators.dedup_index import (
        committed_manifest,
        unblock_minhash_ids,
    )

    docs = tables["documents"].select("doc_id", "text").limit(60)
    b0 = docs.filter(F.col("doc_id") % 3 == 0)
    b1 = docs.filter(F.col("doc_id") % 3 == 1)
    b2 = docs.filter(F.col("doc_id") % 3 == 2)
    idx = str(tmp_path / "unb_idx")
    build_minhash_index(b0, idx)
    append_to_minhash_index(idx, b1, "doc_id", "text")
    append_to_minhash_index(idx, b2, "doc_id", "text")
    m0 = committed_manifest(spark, idx)
    assert len(m0["generations"]) == 3
    # every generation carries id-range stats for pruning
    assert set(m0["gen_stats"]) == set(m0["generations"])
    victim = b1.orderBy("doc_id").limit(1)
    delete_from_minhash_index(idx, victim, "doc_id")
    r = unblock_minhash_ids(spark, idx, victim, "doc_id")
    assert r["unblocked"] == 1
    assert r["rewritten_generations"] == [m0["generations"][1]]
    m1 = committed_manifest(spark, idx)
    # untouched generations keep their NAMES (hence their files)
    assert m1["generations"][0] == m0["generations"][0]
    assert m1["generations"][2] == m0["generations"][2]
    assert m1["generations"][1] != m0["generations"][1]
    assert m1["tombstones"] == []
    # the freed id is re-admittable and the view re-converges: after
    # re-appending it, probing equals a fresh build over the corpus
    vrow = victim.collect()[0]
    assert (
        append_to_minhash_index(
            idx,
            spark.createDataFrame(
                [(vrow["doc_id"], NOVEL)], "doc_id long, text string"
            ),
            "doc_id",
            "text",
        )
        == 1
    )
    fresh = str(tmp_path / "unb_fresh")
    current = (
        docs.filter(F.col("doc_id") != vrow["doc_id"]).unionByName(
            spark.createDataFrame(
                [(vrow["doc_id"], NOVEL)], "doc_id long, text string"
            )
        )
    )
    build_minhash_index(current, fresh)
    probe = spark.createDataFrame(
        [(900_000, NOVEL + " twin")], "doc_id long, text string"
    )
    assert _mh_canon(spark, idx, probe) == _mh_canon(spark, fresh, probe)
    # idempotent: nothing left to unblock
    r2 = unblock_minhash_ids(spark, idx, victim, "doc_id")
    assert r2 == {"unblocked": 0, "rewritten_generations": [],
                  "candidate_generations": 0}


def test_unblock_ivf_rewrites_only_affected_generation(
    spark, sf_dir, tmp_path
):
    """IVF symmetry of the targeted unblock: only the generation
    holding the blocked vector is rewritten, the quantizer and the
    other generations' names survive, and the freed id re-appends."""
    from sqltask_spark.operators.ann_index import (
        committed_manifest,
        unblock_ivf_ids,
    )

    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", "embedding")
        .limit(90)
    )
    b0 = emb.filter(F.col("vec_id") % 3 == 0)
    b1 = emb.filter(F.col("vec_id") % 3 == 1)
    b2 = emb.filter(F.col("vec_id") % 3 == 2)
    idx = str(tmp_path / "unb_ivf")
    build_ivf_index(b0, idx, "vec_id", "embedding", n_cells=8)
    append_to_ivf_index(idx, b1, "vec_id", "embedding")
    append_to_ivf_index(idx, b2, "vec_id", "embedding")
    m0 = committed_manifest(spark, idx)
    assert len(m0["generations"]) == 3
    assert set(m0["gen_stats"]) == set(m0["generations"])
    victim = b2.orderBy("vec_id").limit(1)
    delete_from_ivf_index(idx, victim, "vec_id")
    r = unblock_ivf_ids(spark, idx, victim, "vec_id")
    assert r["unblocked"] == 1
    assert r["rewritten_generations"] == [m0["generations"][2]]
    m1 = committed_manifest(spark, idx)
    assert m1["generations"][:2] == m0["generations"][:2]
    assert m1["generations"][2] != m0["generations"][2]
    assert m1["quantizer"] == m0["quantizer"]  # frozen, untouched
    assert m1["tombstones"] == []
    vrow = victim.collect()[0]
    assert (
        append_to_ivf_index(
            idx,
            spark.createDataFrame(
                [(vrow["vec_id"], list(vrow["embedding"]))],
                "vec_id long, embedding array<float>",
            ),
            "vec_id",
            "embedding",
        )
        == 1
    )
    # the re-admitted vector is findable again: a twin query carrying
    # its exact vector must rank it at cosine 1.0
    q = spark.createDataFrame(
        [(555001, list(vrow["embedding"]))],
        "vec_id long, embedding array<float>",
    )
    got = {
        (g[0], g[2]): g[3] for g in _ivf_canon(spark, idx, q)
    }
    assert got[(555001, vrow["vec_id"])] == 1.0
    # re-run: nothing blocked anymore
    assert unblock_ivf_ids(spark, idx, victim, "vec_id") == {
        "unblocked": 0,
        "rewritten_generations": [],
        "candidate_generations": 0,
    }


def test_vacuum_minhash_index_retention(spark, tables, tmp_path):
    """Version-ledger retention: a build + two appends + a sync
    marker leave four manifests; vacuum(keep_versions=1) drops all
    but the newest, sweeps the superseded sizes versions, keeps the
    probe bit-identical, makes time travel to a dropped version a
    loud error, and the index stays fully mutable afterwards."""
    from sqltask_spark.operators.dedup_index import (
        committed_manifest,
        probe_minhash_index,
        vacuum_minhash_index,
    )

    docs = tables["documents"].select("doc_id", "text").limit(45)
    b0 = docs.filter(F.col("doc_id") % 3 == 0)
    b1 = docs.filter(F.col("doc_id") % 3 == 1)
    b2 = docs.filter(F.col("doc_id") % 3 == 2)
    idx = str(tmp_path / "vac_idx")
    build_minhash_index(b0, idx)
    append_to_minhash_index(idx, b1, "doc_id", "text")
    append_to_minhash_index(idx, b2, "doc_id", "text")
    seqs = index_fs.list_manifest_seqs(spark, idx)
    assert len(seqs) == 3
    sizes_before = set(index_fs.list_names(spark, f"{idx}/sizes"))
    assert len(sizes_before) == 3  # one merged sizes version each
    probe = spark.createDataFrame(
        [(900_000, NOVEL)], "doc_id long, text string"
    )
    before = _mh_canon(spark, idx, docs.unionByName(probe))
    r = vacuum_minhash_index(spark, idx, keep_versions=1)
    assert r["dropped_versions"] == seqs[:-1]
    assert index_fs.list_manifest_seqs(spark, idx) == [seqs[-1]]
    # superseded sizes versions reclaimed; the committed one survives
    m = committed_manifest(spark, idx)
    assert set(index_fs.list_names(spark, f"{idx}/sizes")) == {
        m["sizes"]
    }
    assert _mh_canon(spark, idx, docs.unionByName(probe)) == before
    # time travel past the retention boundary errors loudly
    import pytest

    with pytest.raises(ValueError, match="does not exist"):
        probe_minhash_index(
            spark, idx, probe, as_of=seqs[0]
        )
    # still mutable: append a novel doc and find it
    novel_doc = spark.createDataFrame(
        [(990_009, NOVEL)], "doc_id long, text string"
    )
    assert append_to_minhash_index(idx, novel_doc, "doc_id", "text") == 1
    assert any(
        c == 990_009 for _, c in _mh_canon(spark, idx, probe)
    )


def test_vacuum_ivf_index_retention(spark, sf_dir, tmp_path):
    """IVF symmetry: after an append and a quantizer REBUILD (which
    leaves the superseded quantizer directory readable for time
    travel), vacuum(keep_versions=1) drops the old manifests, sweeps
    the orphaned vector generations AND the superseded quantizer,
    and probing the newest state is unchanged."""
    from sqltask_spark.operators.ann_index import (
        committed_manifest,
        vacuum_ivf_index,
    )

    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", "embedding")
        .limit(80)
    )
    idx = str(tmp_path / "vac_ivf")
    build_ivf_index(
        emb.filter(F.col("vec_id") % 2 == 0), idx, "vec_id",
        "embedding", n_cells=8,
    )
    append_to_ivf_index(
        idx, emb.filter(F.col("vec_id") % 2 == 1), "vec_id",
        "embedding",
    )
    # atomic REBUILD over the full corpus: new quantizer generation,
    # old one stays on disk for time travel until vacuumed
    build_ivf_index(emb, idx, "vec_id", "embedding", n_cells=8)
    assert len(index_fs.list_manifest_seqs(spark, idx)) == 3
    assert len(index_fs.list_names(spark, f"{idx}/quantizer")) > 1
    q = emb.limit(4)
    before = _ivf_canon(spark, idx, q)
    m = committed_manifest(spark, idx)
    r = vacuum_ivf_index(spark, idx, keep_versions=1)
    assert len(r["dropped_versions"]) == 2
    assert index_fs.list_names(spark, f"{idx}/quantizer") == [
        m["quantizer"]
    ]
    assert {
        n[len("gen="):]
        for n in index_fs.list_names(spark, f"{idx}/vectors")
    } == set(m["generations"])
    assert _ivf_canon(spark, idx, q) == before


def test_maintain_policies_vacuum_keep_versions(spark, tables, tmp_path):
    """The maintenance policies act on the version ledger too: with
    ``vacuum_keep_versions`` set, a maintain call on an index whose
    manifest count exceeds the bound vacuums it down; below the
    bound it is a pure observer."""
    from sqltask_spark.operators.index_maintenance import (
        maintain_minhash_index,
    )

    docs = tables["documents"].select("doc_id", "text").limit(30)
    idx = str(tmp_path / "vacpol_idx")
    build_minhash_index(docs.filter(F.col("doc_id") % 2 == 0), idx)
    append_to_minhash_index(
        idx, docs.filter(F.col("doc_id") % 2 == 1), "doc_id", "text"
    )
    r = maintain_minhash_index(
        spark, idx, max_generations=10, vacuum_keep_versions=2
    )
    assert r["n_versions"] == 2 and r["vacuum"] == {}
    append_to_minhash_index(idx, docs.limit(0), "doc_id", "text")
    # a no-op append commits nothing; force a third version with a
    # real append of one novel doc
    novel_doc = spark.createDataFrame(
        [(990_011, NOVEL)], "doc_id long, text string"
    )
    append_to_minhash_index(idx, novel_doc, "doc_id", "text")
    r2 = maintain_minhash_index(
        spark, idx, max_generations=10, vacuum_keep_versions=2
    )
    assert r2["n_versions"] == 3
    assert r2["vacuum"]["dropped_versions"] != []
    assert len(index_fs.list_manifest_seqs(spark, idx)) == 2


def test_unblock_crash_leaves_prestate_and_heals(
    spark, tables, tmp_path, monkeypatch
):
    """Crash-atomicity of the targeted unblock: a crash at the
    manifest commit (latest possible point — every rewritten file is
    already on disk) leaves probes serving the PRE-unblock state
    bit-for-bit, and re-running the unblock converges to the same
    freed state."""
    from sqltask_spark.operators.dedup_index import (
        committed_manifest,
        unblock_minhash_ids,
    )

    docs = tables["documents"].select("doc_id", "text").limit(40)
    idx = str(tmp_path / "unb_crash")
    build_minhash_index(docs.filter(F.col("doc_id") % 2 == 0), idx)
    append_to_minhash_index(
        idx, docs.filter(F.col("doc_id") % 2 == 1), "doc_id", "text"
    )
    victim = docs.orderBy("doc_id").limit(1)
    delete_from_minhash_index(idx, victim, "doc_id")
    m_pre = committed_manifest(spark, idx)
    probe = spark.createDataFrame(
        [(900_000, NOVEL)], "doc_id long, text string"
    )
    pre = _mh_canon(spark, idx, docs.unionByName(probe))

    real = index_fs.commit_manifest

    def crash(*a, **kw):
        raise RuntimeError("injected crash before manifest commit")

    monkeypatch.setattr(index_fs, "commit_manifest", crash)
    with pytest.raises(RuntimeError, match="injected"):
        unblock_minhash_ids(spark, idx, victim, "doc_id")
    monkeypatch.setattr(index_fs, "commit_manifest", real)

    # rewritten directories exist as orphans, yet the committed state
    # is exactly the pre-unblock one
    assert committed_manifest(spark, idx)["_seq"] == m_pre["_seq"]
    assert _mh_canon(spark, idx, docs.unionByName(probe)) == pre
    # re-run heals: the id frees, tombstones clear, probe serves the
    # unblocked state
    r = unblock_minhash_ids(spark, idx, victim, "doc_id")
    assert r["unblocked"] == 1
    assert committed_manifest(spark, idx)["tombstones"] == []
    vid = victim.collect()[0]["doc_id"]
    assert append_to_minhash_index(
        idx,
        spark.createDataFrame(
            [(vid, NOVEL)], "doc_id long, text string"
        ),
        "doc_id",
        "text",
    ) == 1


def test_sync_marker_crash_rerun_converges(spark, tables, tmp_path,
                                           monkeypatch):
    """The synced marker is an at-most-once-cost optimization, never
    a correctness dependency: a crash AFTER the window's mutations
    but BEFORE the marker commit leaves the next marker-resumed call
    unable to skip — it re-applies the window — and the state
    CONVERGES (probe unchanged), after which the marker lands. Only
    a window past the change feed's fast path commits its marker
    separately (a fast-path window commits mutations and marker in
    one manifest), so the window is forced past it."""
    from sqltask_spark.operators import index_sync
    from sqltask_spark.operators import merge as mg
    from sqltask_spark.operators.index_sync import (
        sync_minhash_index_with_table,
    )
    from sqltask_spark.operators.dedup_index import committed_manifest
    from sqltask_spark.operators.merge import (
        create_parquet_table,
        merge_into_parquet,
        read_parquet_table,
    )

    docs = tables["documents"].select("doc_id", "text").limit(40)
    tbl = str(tmp_path / "mkc_tbl")
    idx = str(tmp_path / "mkc_idx")
    create_parquet_table(docs, tbl)
    build_minhash_index(docs, idx)
    v0 = index_fs.read_manifest(spark, tbl)["_seq"]
    merge_into_parquet(
        spark, tbl,
        spark.createDataFrame(
            [(990_001, NOVEL, False)],
            "doc_id long, text string, is_del boolean",
        ),
        ["doc_id"], delete_col="is_del",
    )

    monkeypatch.setattr(mg, "_INLINE_CAP", 0)
    real = index_sync._commit_synced_marker

    def crash(*a, **kw):
        raise RuntimeError("injected crash before marker commit")

    monkeypatch.setattr(index_sync, "_commit_synced_marker", crash)
    with pytest.raises(RuntimeError, match="injected"):
        sync_minhash_index_with_table(
            spark, tbl, idx, "doc_id", "text", from_seq=v0
        )
    monkeypatch.setattr(index_sync, "_commit_synced_marker", real)
    # the window's mutations DID land (append committed before the
    # marker), but no marker exists yet
    assert "synced" not in committed_manifest(spark, idx) or (
        tbl not in committed_manifest(spark, idx).get("synced", {})
    )
    # marker-less resume must fail loudly, seeded re-run converges
    with pytest.raises(ValueError, match="no synced marker"):
        sync_minhash_index_with_table(spark, tbl, idx, "doc_id", "text")
    r = sync_minhash_index_with_table(
        spark, tbl, idx, "doc_id", "text", from_seq=v0
    )
    assert r["appended"] == 0  # the insert idempotently no-ops
    assert committed_manifest(spark, idx)["synced"][tbl] == r["to_seq"]
    # converged: synced probe == fresh build over the current table
    current = read_parquet_table(spark, tbl)
    fresh = str(tmp_path / "mkc_fresh")
    build_minhash_index(current, fresh)
    probe = spark.createDataFrame(
        [(900_000, NOVEL + " twin")], "doc_id long, text string"
    )
    assert _mh_canon(spark, idx, probe) == _mh_canon(spark, fresh, probe)


def test_unblock_stats_pruning_never_reads_pruned_generation(
    spark, tables, tmp_path
):
    """The gen_stats claim, pinned behaviorally: a generation whose
    [min,max] id range is provably disjoint from the blocked ids is
    not read AT ALL during unblock. Proven by making it unreadable —
    the pruned generation's shingle files are physically deleted
    (simulating e.g. an HDFS cold-tier outage) and the unblock still
    succeeds, because pruning decided from the manifest alone."""
    import shutil

    from sqltask_spark.operators.dedup_index import (
        committed_manifest,
        unblock_minhash_ids,
    )

    docs = tables["documents"].select("doc_id", "text").limit(40)
    low = docs.filter(F.col("doc_id") < 100)     # ids 0..~
    high = docs.filter(F.col("doc_id") >= 100).unionByName(
        spark.createDataFrame(
            [(10_000 + i, NOVEL + f" v{i}") for i in range(5)],
            "doc_id long, text string",
        )
    )
    idx = str(tmp_path / "prune_idx")
    build_minhash_index(low, idx)
    append_to_minhash_index(idx, high, "doc_id", "text")
    m = committed_manifest(spark, idx)
    g_low, g_high = m["generations"]
    assert m["gen_stats"][g_high]["min_id"] >= 100
    victim = low.orderBy("doc_id").limit(1)
    delete_from_minhash_index(idx, victim, "doc_id")
    # make the HIGH generation's shingles unreadable: stats pruning
    # must mean it is never opened (the blocked id is < 100)
    shutil.rmtree(f"{idx}/data/{g_high}/shingles")
    r = unblock_minhash_ids(spark, idx, victim, "doc_id")
    assert r["rewritten_generations"] == [g_low]


def test_delete_gen_pruning_never_reads_pruned_generation(
    spark, tmp_path
):
    """r12: the DELETE paths prune the stored-id semi-join by
    gen_stats once the index holds >= GEN_PRUNE_MIN generations
    (same machinery as targeted unblock). Pinned behaviorally for
    BOTH index kinds: generations provably disjoint from the batch
    ids are never opened — their data files are physically deleted
    and the delete still succeeds; a batch wholly outside every
    generation's [min,max] returns 0 without reading anything."""
    import shutil

    from sqltask_spark.operators.dedup_index import committed_manifest

    assert index_fs.GEN_PRUNE_MIN <= 5
    # --- MinHash: 5 generations with disjoint id ranges ---
    def docs(lo):
        return spark.createDataFrame(
            [(lo + i, NOVEL + f" g{lo} d{i}") for i in range(10)],
            "doc_id long, text string",
        )

    idx = str(tmp_path / "mh_del_prune")
    build_minhash_index(docs(0), idx)
    for lo in (100, 200, 300, 400):
        append_to_minhash_index(idx, docs(lo), "doc_id", "text")
    m = committed_manifest(spark, idx)
    assert len(m["generations"]) == 5
    # make every generation except the first unreadable: pruning by
    # [min,max] disjointness must mean they are never opened
    for g in m["generations"][1:]:
        shutil.rmtree(f"{idx}/data/{g}/shingles")
    victim = spark.createDataFrame([(5,)], "doc_id long")
    assert delete_from_minhash_index(idx, victim, "doc_id") == 1
    assert delete_from_minhash_index(idx, victim, "doc_id") == 0
    # a batch outside EVERY generation's range: all gens prune, no
    # file is read (gen 0's files could be gone too) — returns 0
    far = spark.createDataFrame([(10_000_000,)], "doc_id long")
    assert delete_from_minhash_index(idx, far, "doc_id") == 0

    # --- IVF: same contract ---
    from sqltask_spark.operators.ann_index import (
        committed_manifest as ivf_manifest,
    )

    def vecs(lo):
        return spark.createDataFrame(
            [
                (
                    lo + i,
                    [float((lo + i) % 7), float(i), 1.0, 0.5],
                )
                for i in range(16)
            ],
            "vec_id long, embedding array<float>",
        )

    vidx = str(tmp_path / "ivf_del_prune")
    build_ivf_index(vecs(0), vidx, "vec_id", "embedding", n_cells=2)
    for lo in (100, 200, 300, 400):
        append_to_ivf_index(vidx, vecs(lo), "vec_id", "embedding")
    vm = ivf_manifest(spark, vidx)
    assert len(vm["generations"]) == 5
    for g in vm["generations"][1:]:
        shutil.rmtree(f"{vidx}/vectors/gen={g}")
    vvictim = spark.createDataFrame([(3,)], "vec_id long")
    assert delete_from_ivf_index(vidx, vvictim, "vec_id") == 1
    assert delete_from_ivf_index(vidx, vvictim, "vec_id") == 0
    vfar = spark.createDataFrame([(10_000_000,)], "vec_id long")
    assert delete_from_ivf_index(vidx, vfar, "vec_id") == 0


def test_append_gen_pruning_never_reads_pruned_generation(
    spark, tmp_path
):
    """r12: the APPEND paths prune the idempotency anti-join's
    stored-id scan by gen_stats once the index holds >=
    GEN_PRUNE_MIN generations — the delete-path contract applied to
    the other per-batch corpus-id scan. Pinned behaviorally for BOTH
    index kinds: generations provably disjoint from the batch ids
    are never opened (their data files are physically deleted and
    the append still succeeds, admitting exactly the novel ids and
    anti-joining the already-indexed one)."""
    import shutil

    from sqltask_spark.operators.dedup_index import committed_manifest

    assert index_fs.GEN_PRUNE_MIN <= 5
    # --- MinHash: 5 generations with disjoint id ranges ---
    def docs(lo):
        return spark.createDataFrame(
            [(lo + i, NOVEL + f" g{lo} d{i}") for i in range(10)],
            "doc_id long, text string",
        )

    idx = str(tmp_path / "mh_app_prune")
    build_minhash_index(docs(0), idx)
    for lo in (100, 200, 300, 400):
        append_to_minhash_index(idx, docs(lo), "doc_id", "text")
    m = committed_manifest(spark, idx)
    assert len(m["generations"]) == 5
    for g in m["generations"][1:]:
        shutil.rmtree(f"{idx}/data/{g}/shingles")
    batch = spark.createDataFrame(
        [(5, NOVEL + " g0 d5"), (10_000_001, NOVEL + " fresh one")],
        "doc_id long, text string",
    )
    # id 5 lives in gen 0 (readable) -> anti-joined out; gens 1-4 are
    # provably disjoint -> never opened despite their files being gone
    assert append_to_minhash_index(idx, batch, "doc_id", "text") == 1

    # --- IVF: same contract ---
    from sqltask_spark.operators.ann_index import (
        committed_manifest as ivf_manifest,
    )

    def vecs(lo):
        return spark.createDataFrame(
            [
                (lo + i, [float((lo + i) % 7), float(i), 1.0, 0.5])
                for i in range(16)
            ],
            "vec_id long, embedding array<float>",
        )

    vidx = str(tmp_path / "ivf_app_prune")
    build_ivf_index(vecs(0), vidx, "vec_id", "embedding", n_cells=2)
    for lo in (100, 200, 300, 400):
        append_to_ivf_index(vidx, vecs(lo), "vec_id", "embedding")
    vm = ivf_manifest(spark, vidx)
    assert len(vm["generations"]) == 5
    for g in vm["generations"][1:]:
        shutil.rmtree(f"{vidx}/vectors/gen={g}")
    vbatch = spark.createDataFrame(
        [
            (3, [3.0, 3.0, 1.0, 0.5]),
            (10_000_001, [1.0, 2.0, 1.0, 0.5]),
        ],
        "vec_id long, embedding array<float>",
    )
    assert append_to_ivf_index(vidx, vbatch, "vec_id", "embedding") == 1


def test_manifest_reader_schemas_pin_jobfree_reads(
    spark, tables, tmp_path
):
    """r12 optimization: the manifests record every relation's reader
    schema, so index reads plan with ZERO Spark jobs (an unpinned
    multi-file ``spark.read.parquet`` pays a distributed
    footer-inference job per call site — measured one job per site,
    ~10 per ingest cycle). Pinned here:

    - the committed manifest carries ``schemas``;
    - planning `_read_postings`/`_read_shingles`/`_read_vectors`
      against it launches NO job;
    - a PRE-SCHEMA manifest (``schemas`` stripped) still reads
      identical rows via the inference fallback;
    - the next mutation BACKFILLS ``schemas`` (old indexes heal).
    """
    from sqltask_spark.operators import ann_index as ai
    from sqltask_spark.operators import dedup_index as di

    sc = spark.sparkContext

    def njid():
        return int(sc._jsc.sc().dagScheduler().nextJobId())

    docs = tables["documents"].select("doc_id", "text")
    idx = str(tmp_path / "mh_schemas")
    build_minhash_index(docs.filter(F.col("doc_id") < 40), idx)
    m = di.committed_manifest(spark, idx)
    assert set(m["schemas"]) == {
        "postings", "shingles", "sizes", "tombstones"
    }
    j0 = njid()
    pinned = di._read_shingles(spark, idx, m)
    _ = di._read_postings(spark, idx, m)
    _ = di._read_sizes(spark, idx, m)
    assert njid() - j0 == 0, "pinned reads must plan job-free"
    # pre-schema manifest: inference fallback reads the same rows
    m_old = {k: v for k, v in m.items() if k != "schemas"}
    legacy = di._read_shingles(spark, idx, m_old)
    assert pinned.schema == legacy.schema
    assert sorted(r["id"] for r in pinned.collect()) == sorted(
        r["id"] for r in legacy.collect()
    )
    # a mutation on a pre-schema manifest backfills the entry: strip
    # `schemas` from the committed manifest via a manifest-only
    # commit, then append
    index_fs.commit_manifest(spark, idx, m_old, m["_seq"])
    more = docs.filter(
        (F.col("doc_id") >= 40) & (F.col("doc_id") < 60)
    )
    assert append_to_minhash_index(idx, more) > 0
    m2 = di.committed_manifest(spark, idx)
    assert set(m2["schemas"]) == {
        "postings", "shingles", "sizes", "tombstones"
    }

    # --- IVF: same contract ---
    emb = tables["embeddings"]
    vidx = str(tmp_path / "ivf_schemas")
    build_ivf_index(
        emb.filter(F.col("vec_id") < 200), vidx, "vec_id",
        "embedding", n_cells=4,
    )
    vm = ai.committed_manifest(spark, vidx)
    assert {"vectors", "centroids", "tombstones"} <= set(vm["schemas"])
    j0 = njid()
    vpin = ai._read_vectors(spark, vidx, vm)
    assert njid() - j0 == 0, "pinned vector read must plan job-free"
    vm_old = {k: v for k, v in vm.items() if k != "schemas"}
    vleg = ai._read_vectors(spark, vidx, vm_old)
    assert sorted(r["neighbor_id"] for r in vpin.collect()) == sorted(
        r["neighbor_id"] for r in vleg.collect()
    )


def test_rebuild_carries_manifest_keys(spark, tables, tmp_path):
    """ADVICE r11: the rebuild path (build_*_index over an existing
    index — the arm rebuild_ivf_on_drift commits through) used to
    carry only 'batches' forward, silently stripping sync markers.
    Now the rebuild spreads the previous manifest like every other
    mutation: 'synced' (and any future key) survives, the batch
    ledger survives for BOTH kinds, and the tombstone set resets
    explicitly (the rebuild writes exactly its input corpus — the
    retention boundary, like compaction)."""
    from pyspark.sql import functions as F

    from sqltask_spark.operators import index_fs
    from sqltask_spark.operators import ann_index as ai
    from sqltask_spark.operators import dedup_index as di
    from sqltask_spark.operators.index_sync import _commit_synced_marker

    docs = tables["documents"].select("doc_id", "text").limit(30)
    emb = tables["embeddings"].select("vec_id", "embedding").limit(64)

    def stamp(path, committed, extra):
        m = committed(spark, path)
        index_fs.commit_manifest(
            spark, path,
            {**{k: v for k, v in m.items() if k != "_seq"}, **extra},
            m["_seq"],
        )

    midx = str(tmp_path / "carry_mh")
    di.build_minhash_index(docs, midx)
    stamp(midx, di.committed_manifest,
          {"batches": ["seed#mh"], "future_key": 42})
    _commit_synced_marker(spark, midx, "/t/docs", 7, di.committed_manifest)
    di.build_minhash_index(docs, midx)  # rebuild in place
    m = di.committed_manifest(spark, midx)
    assert m["synced"] == {"/t/docs": 7}
    assert m["batches"] == ["seed#mh"]
    assert m["future_key"] == 42
    assert m["tombstones"] == []

    vidx = str(tmp_path / "carry_ivf")
    ai.build_ivf_index(emb, vidx, "vec_id", n_cells=4)
    stamp(vidx, ai.committed_manifest,
          {"batches": ["seed#ivf"], "future_key": 43})
    _commit_synced_marker(spark, vidx, "/t/emb", 9, ai.committed_manifest)
    ai.build_ivf_index(emb, vidx, "vec_id", n_cells=4)  # rebuild
    m = ai.committed_manifest(spark, vidx)
    assert m["synced"] == {"/t/emb": 9}
    assert m["batches"] == ["seed#ivf"]
    assert m["future_key"] == 43
    assert m["tombstones"] == []


def test_unblock_filter_pruning_interleaved_ids(
    spark, tables, sf_dir, tmp_path
):
    """VERDICT r11 #1: [min,max] pruning degenerates under
    interleaved ids (every generation spans the id space), which
    used to force the census to read the id column of the WHOLE
    index per unblock. The manifests now carry a per-generation id
    Bloom filter (built in the SAME aggregate action as
    count+bounds), and pruning probes it by CONTENT. Pinned the
    strong way for BOTH index kinds: generations that do not hold
    the blocked id have their data files physically DELETED, and the
    unblock still succeeds — pruning decided from the manifest
    alone."""
    import shutil

    from sqltask_spark.operators import ann_index as ai
    from sqltask_spark.operators import dedup_index as di

    # --- MinHash: three generations with fully interleaved doc_ids
    docs = tables["documents"].select("doc_id", "text").limit(60)
    parts = [docs.filter(F.pmod("doc_id", F.lit(3)) == i)
             for i in range(3)]
    midx = str(tmp_path / "ileave_mh")
    build_minhash_index(parts[0], midx)
    append_to_minhash_index(midx, parts[1], "doc_id", "text")
    append_to_minhash_index(midx, parts[2], "doc_id", "text")
    m = di.committed_manifest(spark, midx)
    g0, g1, g2 = m["generations"]
    # ranges overlap — range pruning alone proves nothing
    assert not index_fs.bounds_disjoint(
        m["gen_stats"][g0], m["gen_stats"][g1]
    )
    # every generation carries the content filter
    assert all(
        "filter" in m["gen_stats"][g] for g in m["generations"]
    )
    victim = parts[1].orderBy("doc_id").limit(1)
    di.delete_from_minhash_index(midx, victim, "doc_id")
    # untouched generations become unreadable: content pruning must
    # mean they are never opened
    shutil.rmtree(f"{midx}/data/{g0}/shingles")
    shutil.rmtree(f"{midx}/data/{g2}/shingles")
    r = di.unblock_minhash_ids(spark, midx, victim, "doc_id")
    assert r["unblocked"] == 1
    assert r["rewritten_generations"] == [g1]

    # --- IVF: same shape over interleaved vec_ids
    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", "embedding")
        .limit(90)
    )
    vparts = [emb.filter(F.pmod("vec_id", F.lit(3)) == i)
              for i in range(3)]
    vidx = str(tmp_path / "ileave_ivf")
    build_ivf_index(vparts[0], vidx, "vec_id", "embedding", n_cells=8)
    append_to_ivf_index(vidx, vparts[1], "vec_id", "embedding")
    append_to_ivf_index(vidx, vparts[2], "vec_id", "embedding")
    vm = ai.committed_manifest(spark, vidx)
    v0, v1, v2 = vm["generations"]
    assert not index_fs.bounds_disjoint(
        vm["gen_stats"][v0], vm["gen_stats"][v1]
    )
    vvictim = vparts[1].orderBy("vec_id").limit(1)
    ai.delete_from_ivf_index(vidx, vvictim, "vec_id")
    shutil.rmtree(f"{vidx}/vectors/gen={v0}")
    shutil.rmtree(f"{vidx}/vectors/gen={v2}")
    vr = ai.unblock_ivf_ids(spark, vidx, vvictim, "vec_id")
    assert vr["unblocked"] == 1
    assert vr["rewritten_generations"] == [v1]


def test_tombstone_set_sharded_write_multi_file(
    spark, tables, tmp_path, monkeypatch
):
    """VERDICT r11 #6: tombstone sets used to funnel through ONE
    writer task (coalesce(1)) regardless of size. Above the shard
    threshold the write now partitions; the manifest still names ONE
    tombstone set whose directory spans several files, and every
    read path (probe anti-join, unblock, delete idempotency) is
    indifferent. Threshold dropped to 2 rows here so the multi-file
    path runs at test scale."""
    import glob

    from sqltask_spark.operators import dedup_index as di

    monkeypatch.setattr(index_fs, "TOMBSTONE_SHARD_ROWS", 2)
    docs = tables["documents"].select("doc_id", "text").limit(30)
    idx = str(tmp_path / "shard_mh")
    build_minhash_index(docs, idx)
    victims = docs.orderBy("doc_id").limit(5)
    assert di.delete_from_minhash_index(idx, victims, "doc_id") == 5
    m = di.committed_manifest(spark, idx)
    assert len(m["tombstones"]) == 1  # one logical set...
    files = glob.glob(f"{idx}/tombstones/{m['tombstones'][0]}/*.parquet")
    assert len(files) > 1  # ...spanning multiple physical files
    # all 5 ids served from the multi-file set
    tombs = di.read_tombstones(spark, idx)
    assert tombs.count() == 5
    # delete is idempotent across the multi-file read
    assert di.delete_from_minhash_index(idx, victims, "doc_id") == 0
    # unblock rewrites the remaining set (also >threshold) correctly
    one = victims.orderBy("doc_id").limit(1)
    r = di.unblock_minhash_ids(spark, idx, one, "doc_id")
    assert r["unblocked"] == 1
    assert di.read_tombstones(spark, idx).count() == 4


def test_ivf_append_ledger_trim_antijoin_backstop(
    spark, sf_dir, tmp_path
):
    """r12: maintain_ivf_index(ledger_keep_batches=...) bounds the
    append ledger; a replayed append whose id was trimmed out falls
    through to the anti-join idempotency backstop and appends ZERO
    rows — trimming is safe at any horizon for the index, unlike the
    merge tables' content-convergence contract."""
    from sqltask_spark.operators import ann_index as ai
    from sqltask_spark.operators.index_maintenance import (
        maintain_ivf_index,
    )

    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", "embedding")
        .limit(60)
    )
    parts = [emb.filter(F.pmod("vec_id", F.lit(3)) == i)
             for i in range(3)]
    idx = str(tmp_path / "ledger_ivf")
    build_ivf_index(parts[0], idx, "vec_id", "embedding", n_cells=4)
    for i, p in enumerate(parts[1:], 1):
        assert append_to_ivf_index(
            idx, p, "vec_id", "embedding", batch_id=f"a{i}"
        ) > 0
    r = maintain_ivf_index(spark, idx, ledger_keep_batches=1)
    assert r["ledger_trimmed"] == 1
    m = ai.committed_manifest(spark, idx)
    assert m["batches"] == ["a2"]
    # kept id: one-manifest-read fast path (0 appended)
    assert append_to_ivf_index(
        idx, parts[2], "vec_id", "embedding", batch_id="a2"
    ) == 0
    # trimmed id: the anti-join backstop still no-ops the replay
    assert append_to_ivf_index(
        idx, parts[1], "vec_id", "embedding", batch_id="a1"
    ) == 0


def _orphan_dirs(spark, path, parents):
    """Directories under ``parents`` that no parseable manifest
    names — the debris a crashed writer leaves."""
    live = set()
    for m in index_fs.read_all_manifests(spark, path):
        for key in ("generations", "sizes", "tombstones", "quantizer"):
            v = m.get(key, [])
            live |= {v} if isinstance(v, str) else set(v)
    return sorted(
        f"{p}/{n}"
        for p in parents
        for n in index_fs.list_names(spark, f"{path}/{p}")
        if n.removeprefix("gen=") not in live
    )


def _crash_commit(monkeypatch):
    real = index_fs.commit_manifest

    def crash(*a, **kw):
        raise RuntimeError("injected crash at the sync commit")

    monkeypatch.setattr(index_fs, "commit_manifest", crash)
    return lambda: monkeypatch.setattr(index_fs, "commit_manifest", real)


def test_sync_commit_crash_leaves_presync_state_minhash(
    spark, tables, tmp_path, monkeypatch
):
    """A fast-path sync is ONE commit: a crash inside it — after every
    rewritten generation, tombstone set, appended generation and
    sizes version is on disk — leaves the committed manifest, the
    synced marker and the probe results exactly at their pre-sync
    values. A marker-resumed re-run sweeps the debris and converges
    to a fresh build over the table."""
    from sqltask_spark.operators.dedup_index import committed_manifest
    from sqltask_spark.operators.index_sync import (
        sync_minhash_index_with_table,
    )
    from sqltask_spark.operators.merge import (
        create_parquet_table,
        merge_into_parquet,
        read_parquet_table,
    )

    docs = tables["documents"].select("doc_id", "text").limit(40)
    tbl = str(tmp_path / "sc_tbl")
    idx = str(tmp_path / "sc_idx")
    create_parquet_table(docs, tbl)
    build_minhash_index(docs, idx)
    ids = [r["doc_id"] for r in docs.orderBy("doc_id").limit(3).collect()]
    schema = "doc_id long, text string, is_del boolean"
    # window 1 (committed): delete ids[0] — its tombstone stays live
    v0 = index_fs.read_manifest(spark, tbl)["_seq"]
    merge_into_parquet(
        spark, tbl, spark.createDataFrame([(ids[0], None, True)], schema),
        ["doc_id"], delete_col="is_del",
    )
    sync_minhash_index_with_table(
        spark, tbl, idx, "doc_id", "text", from_seq=v0
    )
    # window 2 (crashes): re-insert ids[0], update ids[1], delete
    # ids[2], insert a novel doc
    merge_into_parquet(
        spark, tbl,
        spark.createDataFrame(
            [
                (ids[0], NOVEL + " back", False),
                (ids[1], NOVEL + " rewritten", False),
                (ids[2], None, True),
                (990_001, NOVEL, False),
            ],
            schema,
        ),
        ["doc_id"], delete_col="is_del",
    )
    probe = read_parquet_table(spark, tbl).unionByName(
        spark.createDataFrame(
            [(990_002, NOVEL + " probe")], "doc_id long, text string"
        )
    )
    m_pre = committed_manifest(spark, idx)
    pre = _mh_canon(spark, idx, probe)
    parents = ("data", "sizes", "tombstones")
    assert _orphan_dirs(spark, idx, parents) == []

    restore = _crash_commit(monkeypatch)
    with pytest.raises(RuntimeError, match="injected"):
        sync_minhash_index_with_table(spark, tbl, idx, "doc_id", "text")
    restore()

    assert committed_manifest(spark, idx) == m_pre
    assert _mh_canon(spark, idx, probe) == pre
    assert _orphan_dirs(spark, idx, parents)  # debris on disk
    r = sync_minhash_index_with_table(spark, tbl, idx, "doc_id", "text")
    assert (r["tombstoned"], r["appended"], r["unblocked"]) == (2, 3, 2)
    assert _orphan_dirs(spark, idx, parents) == []
    m = committed_manifest(spark, idx)
    assert m["_seq"] == m_pre["_seq"] + 1
    assert m["synced"][tbl] == r["to_seq"]
    fresh = str(tmp_path / "sc_fresh")
    build_minhash_index(read_parquet_table(spark, tbl), fresh)
    assert _mh_canon(spark, idx, probe) == _mh_canon(spark, fresh, probe)


def test_sync_commit_crash_leaves_presync_state_ivf(
    spark, sf_dir, tmp_path, monkeypatch
):
    """IVF symmetry of the single-commit sync crash: the committed
    manifest, marker and probes stay at the pre-sync state; the
    re-run sweeps the debris and lands the window — twin probes find
    the synced vectors at cosine 1.0 and never the deleted one."""
    from sqltask_spark.operators.ann_index import committed_manifest
    from sqltask_spark.operators.index_sync import (
        sync_ivf_index_with_table,
    )
    from sqltask_spark.operators.merge import (
        create_parquet_table,
        merge_into_parquet,
        read_parquet_table,
    )

    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", "embedding")
        .limit(100)
    )
    tbl = str(tmp_path / "sci_tbl")
    idx = str(tmp_path / "sci_idx")
    create_parquet_table(emb, tbl)
    build_ivf_index(emb, idx, "vec_id", "embedding", n_cells=16)
    v0 = index_fs.read_manifest(spark, tbl)["_seq"]
    two = emb.orderBy("vec_id").limit(2).collect()
    dim = len(two[0]["embedding"])
    # unique directions, as in test_sync_ivf_index_with_table_cdc
    upd_vec = [float(x) * -1.0 for x in two[1]["embedding"]]
    new_vec = [0.5 + 0.01 * i for i in range(dim)]
    merge_into_parquet(
        spark, tbl,
        spark.createDataFrame(
            [
                (two[0]["vec_id"], None, True),
                (two[1]["vec_id"], upd_vec, False),
                (990001, new_vec, False),
            ],
            "vec_id long, embedding array<float>, is_del boolean",
        ),
        ["vec_id"], delete_col="is_del",
    )
    q = spark.createDataFrame(
        [(555001, new_vec), (555002, upd_vec)],
        "vec_id long, embedding array<float>",
    )
    current = read_parquet_table(spark, tbl)

    def twins():
        return {
            (r["query_id"], r["neighbor_id"]): r["score"]
            for r in probe_ivf_index(
                spark, idx, q, "vec_id", "embedding", k=5, n_probe=16
            ).collect()
        }

    def deleted_hits():
        return probe_ivf_index(
            spark, idx, current, "vec_id", "embedding", k=5, n_probe=16
        ).filter(F.col("neighbor_id") == two[0]["vec_id"]).count()

    m_pre = committed_manifest(spark, idx)
    pre = twins()
    assert pre.get((555001, 990001)) is None
    parents = ("vectors", "quantizer", "tombstones")

    restore = _crash_commit(monkeypatch)
    with pytest.raises(RuntimeError, match="injected"):
        sync_ivf_index_with_table(
            spark, tbl, idx, "vec_id", "embedding", from_seq=v0
        )
    restore()

    assert committed_manifest(spark, idx) == m_pre
    assert "synced" not in m_pre
    assert twins() == pre
    assert deleted_hits() > 0  # the delete did not land either
    assert _orphan_dirs(spark, idx, parents)
    r = sync_ivf_index_with_table(
        spark, tbl, idx, "vec_id", "embedding", from_seq=v0
    )
    assert (r["tombstoned"], r["appended"], r["unblocked"]) == (2, 2, 1)
    assert _orphan_dirs(spark, idx, parents) == []
    assert committed_manifest(spark, idx)["synced"][tbl] == r["to_seq"]
    got = twins()
    assert got[(555001, 990001)] == 1.0
    assert got[(555002, two[1]["vec_id"])] == 1.0
    assert deleted_hits() == 0
