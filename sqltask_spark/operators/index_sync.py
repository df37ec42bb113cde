"""Index ↔ table synchronization from the change feed.

The integration piece between the two storage primitives: a corpus
lives in a versioned MERGE parquet table
(:mod:`sqltask_spark.operators.merge` — upserts, deletes, change
feed) and is SERVED through the persistent MinHash and IVF indexes
(:mod:`sqltask_spark.operators.dedup_index`,
:mod:`sqltask_spark.operators.ann_index`). Without this operator a
user must re-derive index mutations by hand; with it, each index is
a materialized view maintained INCREMENTALLY from the change feed —
work bounded by what the merges touched, never the corpus.

Id re-use is where the LSM hazard lives: a tombstoned id is
deliberately unavailable to the append paths until its rows are
physically gone (its own tombstone would kill the re-admission) —
and that covers not just this window's updates but a LATER window
re-inserting a previously deleted key, or an id taken down directly
via ``delete_from_*_index``. A window within the change feed's fast
path (:func:`~sqltask_spark.operators.merge.table_change_window` —
the changed keys classified on the driver, at most ``_INLINE_CAP``
of them) is applied as ONE index mutation
(``apply_mutation`` of the index module):

- deleted ids and update pre-images are tombstoned;
- every incoming id (inserts and update post-images) that is stored
  and tombstoned — an earlier delete, a direct takedown — or that
  this window updates has its rows removed DIRECTLY: only the
  generations holding them are rewritten, never the whole index, and
  an updated id is never tombstoned and then freed;
- the incoming rows are appended as one generation;
- the manifest commit that publishes all of it also records the
  ``synced`` marker.

One membership read decides every id, each relation is written once,
and the sync commits once: a crash anywhere leaves the index, its
marker and every probe exactly at the pre-sync state, and a re-run
sweeps the debris and converges. A window past those bounds keeps the
composition of the public mutations — delete, targeted unblock, one
append, then the marker as its own commit — each idempotent and
crash-atomic, so a crash between them re-applies the window on
restart and converges.

Window bookkeeping lives IN THE INDEX MANIFEST: after a successful
sync the index records ``synced[table_path] = to_seq``, so the next
call may omit ``from_seq`` entirely and the sync resumes exactly
where the last one committed — the checkpoint the streaming sink
(:func:`~sqltask_spark.streaming.tables.merge_upsert_sink` with
``sync_indexes``) relies on. Every mutation converges, making the
marker an at-most-once-cost optimization, never a correctness
dependency.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def _resolve_window(
    spark: SparkSession,
    table_path: str,
    index_path: str,
    from_seq: int | None,
    to_seq: int | None,
    committed_manifest,
) -> "tuple[int, int]":
    """(from, to) for this sync. ``from_seq=None`` resumes from the
    index manifest's ``synced`` marker; a marker-less index must be
    seeded with an explicit ``from_seq`` (the table version the index
    was built from) exactly once."""
    from sqltask_spark.operators import index_fs

    if from_seq is None:
        marker = committed_manifest(spark, index_path).get(
            "synced", {}
        )
        if table_path not in marker:
            raise ValueError(
                f"index {index_path} has no synced marker for"
                f" {table_path} — pass from_seq explicitly on the"
                " first sync (the table version the index was built"
                " from); subsequent syncs may omit it"
            )
        from_seq = int(marker[table_path])
    if to_seq is None:
        tm = index_fs.read_manifest(spark, table_path)
        if tm is None:
            raise ValueError(f"no committed table at {table_path}")
        to_seq = int(tm["_seq"])
    return from_seq, to_seq


def _commit_synced_marker(
    spark: SparkSession,
    index_path: str,
    table_path: str,
    to_seq: int,
    committed_manifest,
) -> None:
    """Persist ``synced[table_path] = to_seq`` as one manifest-only
    commit (no data files change — every mutation carries unknown
    keys forward, so the marker survives appends/deletes/unblocks)."""
    from sqltask_spark.operators import index_fs

    m = committed_manifest(spark, index_path)
    synced = dict(m.get("synced", {}))
    synced[table_path] = int(to_seq)
    index_fs.commit_manifest(
        spark,
        index_path,
        {**{k: v for k, v in m.items() if k != "_seq"},
         "synced": synced},
        m["_seq"],
    )


def last_synced_seq(
    spark: SparkSession,
    index_path: str,
    table_path: str,
    kind: str,
) -> int | None:
    """The table version up to which ``index_path`` has been synced
    with ``table_path`` (the manifest's ``synced`` marker), or
    ``None`` when no sync has recorded one. ``kind`` is ``minhash``
    or ``ivf`` (the marker lives in that index's manifest)."""
    marker = _index_module(kind).committed_manifest(
        spark, index_path
    ).get("synced", {})
    seq = marker.get(table_path)
    return int(seq) if seq is not None else None


def _index_module(kind: str):
    if kind == "minhash":
        from sqltask_spark.operators import dedup_index

        return dedup_index
    if kind == "ivf":
        from sqltask_spark.operators import ann_index

        return ann_index
    raise ValueError(f"unknown index kind {kind!r}")


def _sync(
    spark: SparkSession,
    kind: str,
    table_path: str,
    index_path: str,
    id_col: str,
    payload_col: str,
    from_seq: int | None,
    to_seq: int | None,
) -> dict:
    """The sync both index kinds share: resolve the window, classify
    it once, and apply it as one mutation (or, past the fast-path
    bounds, as the composed public mutations)."""
    from sqltask_spark.operators import index_fs
    from sqltask_spark.operators.merge import table_change_window

    mod = _index_module(kind)
    from_seq, to_seq = _resolve_window(
        spark, table_path, index_path, from_seq, to_seq,
        mod.committed_manifest,
    )
    if to_seq <= from_seq:
        return {
            "tombstoned": 0, "appended": 0, "had_updates": False,
            "unblocked": 0, "rewritten_generations": [],
            "from_seq": from_seq, "to_seq": to_seq,
        }
    w = table_change_window(spark, table_path, id_col, from_seq, to_seq)
    if w is None:
        r = _sync_composed(
            spark, mod, kind, table_path, index_path, id_col,
            payload_col, from_seq, to_seq,
        )
    else:
        incoming = w.inserted + w.updated
        r = mod.apply_mutation(
            spark,
            index_path,
            index_fs.IndexMutation(
                id_type=w.key_type,
                gone=w.deleted + w.updated,
                free=incoming,
                rows=w.rows(incoming, [id_col, payload_col]),
                row_ids=incoming,
                synced={table_path: int(to_seq)},
            ),
            id_col,
            payload_col,
        )
        r["had_updates"] = bool(w.updated)
    return {
        "tombstoned": r["tombstoned"],
        "appended": r["appended"],
        "had_updates": r["had_updates"],
        "unblocked": r["unblocked"],
        "rewritten_generations": r["rewritten_generations"],
        "from_seq": from_seq,
        "to_seq": to_seq,
    }


def _sync_composed(
    spark: SparkSession,
    mod,
    kind: str,
    table_path: str,
    index_path: str,
    id_col: str,
    payload_col: str,
    from_seq: int,
    to_seq: int,
) -> dict:
    """A window past the fast-path bounds: the public mutations in
    order — (1) tombstone deleted AND updated ids, (2) targeted-unblock
    every incoming id a live tombstone blocks, (3) ONE append of
    inserts ∪ update post-images, (4) the ``synced`` marker — over
    the persisted join-formulated change feed."""
    from sqltask_spark.operators.merge import table_changes_joined

    changes = table_changes_joined(
        spark, table_path, [id_col], from_seq, to_seq
    ).persist()
    try:
        # ONE counts job over the persisted window decides which
        # mutations can run at all: walking a no-op mutation costs
        # 10+ tiny Spark jobs before it discovers there is nothing to
        # do, and skipping on an empty input is exactly its own no-op
        # result
        by_type = {
            r["_change_type"]: r["n"]
            for r in changes.groupBy("_change_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        gone = changes.filter(
            F.col("_change_type").isin("delete", "update_preimage")
        ).select(id_col)
        incoming = changes.filter(
            F.col("_change_type").isin("insert", "update_postimage")
        ).select(id_col, payload_col)
        n_in = by_type.get("insert", 0) + by_type.get(
            "update_postimage", 0
        )
        delete, unblock, append = (
            (mod.delete_from_minhash_index, mod.unblock_minhash_ids,
             mod.append_to_minhash_index)
            if kind == "minhash"
            else (mod.delete_from_ivf_index, mod.unblock_ivf_ids,
                  mod.append_to_ivf_index)
        )
        n_tombstoned = (
            delete(index_path, gone, id_col)
            if by_type.get("delete", 0) + by_type.get("update_preimage", 0)
            else 0
        )
        ub = (
            unblock(spark, index_path, incoming, id_col)
            if n_in
            else {"unblocked": 0, "rewritten_generations": []}
        )
        n_appended = (
            append(index_path, incoming, id_col, payload_col) if n_in else 0
        )
        _commit_synced_marker(
            spark, index_path, table_path, to_seq, mod.committed_manifest
        )
        return {
            "tombstoned": n_tombstoned,
            "appended": n_appended,
            "had_updates": bool(by_type.get("update_postimage", 0)),
            "unblocked": ub["unblocked"],
            "rewritten_generations": ub["rewritten_generations"],
        }
    finally:
        changes.unpersist()


def sync_minhash_index_with_table(
    spark: SparkSession,
    table_path: str,
    index_path: str,
    id_col: str,
    text_col: str,
    from_seq: int | None = None,
    to_seq: int | None = None,
) -> dict:
    """Apply the table's row-level changes in ``(from_seq, to_seq]``
    to the index. Returns counts per action plus the resolved window:
    ``tombstoned`` (ids newly tombstoned — deletes and updated ids),
    ``appended``, ``unblocked`` (incoming ids whose stored rows had
    to go first — updates, re-inserted deleted keys) and
    ``rewritten_generations`` (the generations that held them). After
    the sync, probing the index is equivalent to probing a fresh
    build over the table's current state (pytest-pinned), and the
    index manifest's ``synced`` marker records ``to_seq`` so the next
    call may omit ``from_seq``.

    Re-running the same window CONVERGES but is not a strict no-op:
    deletes and inserts no-op outright (idempotent mutations), while
    an update is re-applied — its current version removed and the
    identical post-image re-appended — landing on the same state.
    The marker exists to avoid paying that re-apply on retries.
    """
    return _sync(
        spark, "minhash", table_path, index_path, id_col, text_col,
        from_seq, to_seq,
    )


def sync_ivf_index_with_table(
    spark: SparkSession,
    table_path: str,
    index_path: str,
    id_col: str,
    vec_col: str,
    from_seq: int | None = None,
    to_seq: int | None = None,
) -> dict:
    """The vector symmetry: apply an embeddings table's change feed
    to the persistent IVF index — deletes tombstone, inserts append
    under the FROZEN quantizer, updates replace the stored vector
    (the same LSM id-reuse rule as the MinHash sync). Distribution
    drift introduced by the synced batches is the monitored quantity,
    not this operator's job — run
    :func:`~sqltask_spark.operators.index_maintenance.
    rebuild_ivf_on_drift` on its own cadence. Re-running a window
    converges (updates re-applied, same state); the ``synced``
    marker makes retries skip instead."""
    return _sync(
        spark, "ivf", table_path, index_path, id_col, vec_col,
        from_seq, to_seq,
    )
