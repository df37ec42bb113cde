"""Persisted MinHash-LSH near-dup index: build once, screen batches.

No reference counterpart (north-star extension). The per-call pair
operators (:func:`sqltask_spark.operators.dedup.minhash_dedup_pairs`)
re-shingle and re-sign the WHOLE corpus per invocation — right for a
one-shot dedup pass, wrong for the production ingest loop where a
small new batch must be screened against a 100 TB corpus every hour.
This module is the batch analog of the streaming screen
(:mod:`sqltask_spark.streaming.corpus`), shaped like the persistent
ANN index (:mod:`sqltask_spark.operators.ann_index`):

- **build** pays the corpus pass once and stores four relations:
  the LSH bucket postings ``(band, band_hash, id)``, the bucket
  SIZES ``(band, band_hash, bucket_size)`` (kept separate from the
  postings precisely so they stay mergeable — see append), the
  shingle-hash sets ``(id, h)`` for exact-Jaccard verification, and
  the signature parameters (a probe MUST band identically — they're
  read back, never re-specified).
- **probe** touches only batch-sized data plus the posting/shingle
  rows its buckets actually hit: signatures for the batch, one
  equi-join on (band, band_hash), exact Jaccard against the stored
  shingle sets of the candidates only. ``bucket_size`` is a stored
  join so hot boilerplate buckets are skipped without a runtime
  census.
- **append** closes the production ingest loop: after a probe
  admits a batch's novel documents, appending them makes the NEXT
  batch screen against them too — batch-sized work only (new
  postings and shingles land as a fresh GENERATION directory; the
  skinny sizes relation is re-derived as old ∪ new → sum into a
  fresh VERSION directory). At 100 TB the index is built once and
  appended on every ingest.
- **delete / compact** complete the mutation lifecycle LSM-style:
  :func:`delete_from_minhash_index` commits a skinny tombstone set
  probes anti-join (takedowns take effect immediately, rows stay on
  disk); :func:`compact_minhash_index` merges the generations,
  physically drops tombstoned docs, refreshes sizes, clears the
  tombstones, and frees deleted ids for re-admission — bounding
  probe read amplification on the LSM cadence.

Durability layout (the :mod:`~sqltask_spark.operators.index_fs`
commit protocol — new-files-only + numbered-manifest publish)::

    path/manifests/manifest-*.json newest parseable wins; carries
                                   the signature params (atomic with
                                   the generation set they sign)
    path/data/g000001/postings     one generation per commit
    path/data/g000001/shingles
    path/sizes/g000001             full merged sizes per commit
    path/tombstones/g000001        committed logical deletes

Every mutation (append, delete, compact, rebuild) is IDEMPOTENT and
CRASH-ATOMIC, matching the engine-wide
batch-idempotency principle (re-running a batch never corrupts —
cf. the W1/W2 sinks): ids already committed are anti-joined out of
the batch, so a retried ingest is a no-op rather than a silent
posting double-insert; a crash anywhere before the manifest lands
leaves every reader serving the pre-append state bit-for-bit (the
orphan generation is swept by the next writer). Re-running the
crashed append heals. Single WRITER at a time is the contract
(standard for LSM-ish indexes); concurrent readers are always safe.

Probing with the corpus itself reproduces the per-call operator's
pairs exactly (tested) — the index changes WHEN work happens, never
WHAT the result is; probe-after-append is bit-identical to a probe
of a fresh build over the union corpus (tested).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sqltask_spark.operators.dedup import (
    _banded_signatures,
    _signatures_wide,
    shingled_docs,
)
from sqltask_spark.operators import index_fs


def _committed(
    spark: SparkSession, path: str, as_of: int | None = None
) -> dict:
    """The newest committed manifest, or — time travel — the exact
    version ``as_of``. Every version committed since the last
    compaction stays readable (mutations write only new files and
    sweeps respect the union of ALL manifests' references);
    compaction is the retention boundary, and travelling past it
    errors loudly instead of serving a partial index."""
    if as_of is None:
        m = index_fs.read_manifest(spark, path)
        if m is None:
            raise ValueError(f"no committed manifest under {path}")
        return m
    m = index_fs.read_manifest_at(spark, path, as_of)
    if m is None:
        raise ValueError(
            f"version {as_of} of {path} does not exist (never"
            f" committed, or torn); available:"
            f" {index_fs.list_manifest_seqs(spark, path)}"
        )
    missing = [
        f"data/{g}"
        for g in m["generations"]
        if not index_fs.path_exists(spark, f"{path}/data/{g}")
    ]
    if not index_fs.path_exists(spark, f"{path}/sizes/{m['sizes']}"):
        missing.append(f"sizes/{m['sizes']}")
    if missing:
        raise ValueError(
            f"version {as_of} of {path} is no longer readable —"
            f" compaction reclaimed {missing}; time travel reaches"
            f" back only to the last compaction"
        )
    return m


_pinned_read = index_fs.pinned_read


def _read_postings(spark: SparkSession, path: str, m: dict) -> DataFrame:
    return _pinned_read(
        spark, m, "postings",
        *[f"{path}/data/{g}/postings" for g in m["generations"]],
    )


def _read_shingles(spark: SparkSession, path: str, m: dict) -> DataFrame:
    return _pinned_read(
        spark, m, "shingles",
        *[f"{path}/data/{g}/shingles" for g in m["generations"]],
    )


def _read_sizes(spark: SparkSession, path: str, m: dict) -> DataFrame:
    return _pinned_read(
        spark, m, "sizes", f"{path}/sizes/{m['sizes']}"
    )


def _read_tombstones(
    spark: SparkSession, path: str, m: dict
) -> DataFrame | None:
    """Union of committed tombstone sets (``(id)``), or ``None``."""
    gens = m.get("tombstones", [])
    if not gens:
        return None
    return _pinned_read(
        spark, m, "tombstones",
        *[f"{path}/tombstones/{g}" for g in gens],
    )


def committed_manifest(
    spark: SparkSession, path: str, as_of: int | None = None
) -> dict:
    """Public read API: the committed manifest (newest, or the exact
    version ``as_of``) — the supported way for OTHER modules (sync,
    maintenance, sinks) to observe index state without touching
    manifest internals. The dict carries ``generations`` / ``sizes`` /
    ``params`` / ``tombstones`` / optional ``gen_stats`` + ``synced``
    and the ``_seq`` expected by the next commit."""
    return _committed(spark, path, as_of)


def read_tombstones(
    spark: SparkSession, path: str, manifest: dict | None = None
) -> DataFrame | None:
    """Public read API: the committed tombstone id set ``(id)`` as a
    DataFrame, or ``None`` when no tombstone set is committed.
    ``manifest`` (from :func:`committed_manifest`) avoids a second
    manifest read when the caller already holds one."""
    m = manifest if manifest is not None else _committed(spark, path)
    return _read_tombstones(spark, path, m)


def read_index_ids(
    spark: SparkSession, path: str, manifest: dict | None = None
) -> DataFrame:
    """Public read API: the PHYSICAL document ids stored across the
    committed generations, one row per id (``(id)``), tombstoned rows
    included — the denominator for tombstone-ratio health checks and
    the membership relation for sync planning. One row per stored
    document (appends anti-join committed ids, so generations never
    overlap — no distinct needed)."""
    m = manifest if manifest is not None else _committed(spark, path)
    return _read_shingles(spark, path, m).select("id")


def build_minhash_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 64,
    bands: int = 16,
    seed: int = 42,
    shingle_n: int = 3,
) -> None:
    """One corpus pass → postings + sizes + shingles + meta under
    ``path``, published atomically by the next manifest. REBUILD of
    an existing index is safe (and itself atomic): the new state
    writes to a FRESH generation and becomes visible only at the
    manifest commit; prior generations turn into orphans swept by the
    next writer."""
    assert num_perm % bands == 0, "bands must divide num_perm"
    spark = corpus.sparkSession
    prev = index_fs.read_manifest(spark, path)
    gen = index_fs.fresh_gen(
        spark, [f"{path}/data", f"{path}/sizes"], prev
    )
    shingled = shingled_docs(corpus, id_col, text_col, shingle_n).persist()
    try:
        wide = _signatures_wide(shingled, num_perm, seed)
        banded = _banded_signatures(wide, bands, num_perm // bands)
        banded.write.mode("overwrite").parquet(
            f"{path}/data/{gen}/postings"
        )
        # sizes from the postings just WRITTEN, not from the banded
        # plan (r12): re-evaluating `banded` would run the exploded
        # 64-min-aggregate signature shuffle a second time over the
        # whole corpus — reading back the skinny (band, band_hash)
        # columns is one column-pruned scan of data the page cache
        # still holds (the shape compact_minhash_index already uses),
        # and at 100 TB it avoids pinning corpus-scale signatures in
        # executor memory that a persist would cost.
        # (schema pinned from the plan just written — no inference job)
        sizes_df = (
            spark.read.schema(banded.schema)
            .parquet(f"{path}/data/{gen}/postings")
            .groupBy("band", "band_hash")
            .agg(F.count(F.lit(1)).cast("long").alias("bucket_size"))
        )
        sizes_df.write.mode("overwrite").parquet(f"{path}/sizes/{gen}")
        shingled.write.mode("overwrite").parquet(
            f"{path}/data/{gen}/shingles"
        )
        st = index_fs.id_bounds(shingled, "id")
        # reader schemas ride the manifest (like the MERGE tables'
        # ``schema``): every later read plans with ZERO jobs instead
        # of a distributed footer-inference job per call site
        schemas = index_fs.relation_schemas(
            postings=banded, shingles=shingled, sizes=sizes_df,
            tombstones=shingled.select("id"),
        )
        index_fs.commit_manifest(
            spark,
            path,
            {
                # unknown manifest keys (sync markers, batch ledger,
                # future metadata) carry forward verbatim — a rebuild
                # must never strip another subsystem's state
                **{k: v for k, v in (prev or {}).items()
                   if k != "_seq"},
                "generations": [gen],
                "sizes": gen,
                "schemas": schemas,
                # a rebuild writes exactly its input corpus; the
                # tombstone set resets (retention boundary)
                "tombstones": [],
                # per-generation id range: lets targeted rewrites
                # (unblock_minhash_ids) prune untouched generations
                # without reading them
                "gen_stats": {gen: st} if st else {},
                # signature params ride IN the manifest: a probe must
                # band exactly as the generation set it reads was
                # signed, and the manifest is the only artifact that
                # changes atomically with that set (a separate meta
                # file could tear against it on rebuild)
                "params": {
                    "num_perm": num_perm,
                    "bands": bands,
                    "seed": seed,
                    "shingle_n": shingle_n,
                },
            },
            prev["_seq"] if prev else -1,
        )
    finally:
        shingled.unpersist()


def _sweep(spark: SparkSession, path: str) -> list[str]:
    """Sweep data/sizes/tombstone directories no manifest names — the
    debris of a crashed writer. Committed = the UNION over all
    manifests, not just the newest: older versions stay time-travel
    readable until compaction or vacuum. Returns the swept names."""
    live = index_fs.live_unions(
        spark, path, ("generations", "sizes", "tombstones")
    )
    return (
        index_fs.sweep_orphans(
            spark, f"{path}/data", live["generations"], "g"
        )
        + index_fs.sweep_orphans(spark, f"{path}/sizes", live["sizes"], "g")
        + index_fs.sweep_orphans(
            spark, f"{path}/tombstones", live["tombstones"], "g"
        )
    )


def apply_mutation(
    spark: SparkSession,
    path: str,
    plan: index_fs.IndexMutation,
    id_col: str = "doc_id",
    text_col: str = "text",
    manifest: dict | None = None,
) -> dict:
    """Apply one driver-planned mutation (tombstone ``plan.gone``,
    free ``plan.free``, append ``plan.rows`` — columns ``id_col``,
    ``text_col``) as ONE commit — the core behind the small-batch
    arms of :func:`append_to_minhash_index`,
    :func:`delete_from_minhash_index` and :func:`unblock_minhash_ids`
    and behind the CDC index sync.

    One manifest-history read sweeps orphans; generations the
    manifest's stats prove disjoint from every planned id are never
    opened; ONE generation-tagged membership read
    (:func:`~sqltask_spark.operators.index_fs.tagged_membership`)
    tells, for every planned id, whether it is stored, in which
    generation, and whether it is tombstoned. Each relation is then
    written at most once: the generations holding freed ids,
    rewritten without them; one tombstone set; one appended
    generation; one sizes version (minus the dropped postings, plus
    the new ones). The commit is one manifest, carrying
    ``plan.synced`` — a crash anywhere before it leaves the index
    exactly as it was.

    Returns ``{"tombstoned", "appended", "unblocked",
    "rewritten_generations", "candidate_generations"}`` — the counts
    delete, unblock and append would return applied one after
    another.
    """
    m = manifest if manifest is not None else _committed(spark, path)
    _sweep(spark, path)
    census = index_fs.take_census(
        plan,
        m,
        lambda g: _pinned_read(
            spark, m, "shingles", f"{path}/data/{g}/shingles"
        ),
        lambda t: _pinned_read(
            spark, m, "tombstones", f"{path}/tombstones/{t}"
        ),
        "id",
    )
    if census.changes_nothing() and not plan.synced:
        return census.counts()
    alloc = index_fs.name_allocator(
        spark,
        [f"{path}/data", f"{path}/sizes", f"{path}/tombstones"],
        m,
    )
    gens = list(m["generations"])
    stats = dict(m.get("gen_stats", {}))
    schemas = dict(m.get("schemas", {}))
    removed = sorted(census.removed)
    for g in census.affected:
        st = stats.pop(g, None)
        if census.fully_removed(g):
            # every row goes: drop the generation instead of writing
            # an empty (hence unreadable) directory
            gens.remove(g)
            continue
        gnew = alloc()
        for rel in ("postings", "shingles"):
            _pinned_read(spark, m, rel, f"{path}/data/{g}/{rel}").filter(
                index_fs.keep_ids_filter("id", removed)
            ).write.mode("overwrite").parquet(f"{path}/data/{gnew}/{rel}")
        gens[gens.index(g)] = gnew
        if st:
            # a conservative superset range stays valid for pruning
            stats[gnew] = st
    tombs, tomb_schema = index_fs.write_tombstones(
        spark, path, m, census, "id", plan.id_type, alloc
    )
    if tomb_schema is not None:
        schemas.setdefault("tombstones", tomb_schema.json())
    # sizes deltas, one row per posting: -1 for each the rewrites
    # dropped, +1 for each appended — folded into ONE new sizes
    # version by one aggregate
    deltas = []
    if census.affected:
        deltas.append(
            _pinned_read(
                spark, m, "postings",
                *[f"{path}/data/{g}/postings" for g in census.affected],
            )
            .filter(F.col("id").isin(removed))
            .select("band", "band_hash",
                    F.lit(-1).cast("long").alias("bucket_size"))
        )
    bsh = banded = None
    try:
        if census.novel:
            meta = m["params"]
            skip = sorted(
                census.stored & {t[0] for t in plan.row_ids}
            )
            novel = (
                plan.rows.filter(index_fs.keep_ids_filter(id_col, skip))
                if skip
                else plan.rows
            )
            # size the CPU-spread guard to the KNOWN batch (~256 docs
            # per task): repartitioning a 1-row window into the
            # session's partitions is an exchange of pure overhead
            mp = max(
                1,
                min(
                    spark.sparkContext.defaultParallelism,
                    -(-len(census.novel) // 256),
                ),
            )
            bsh = shingled_docs(
                novel, id_col, text_col, meta["shingle_n"],
                min_partitions=mp,
            ).persist()
            gen = alloc()
            wide = _signatures_wide(bsh, meta["num_perm"], meta["seed"])
            banded = _banded_signatures(
                wide, meta["bands"], meta["num_perm"] // meta["bands"]
            ).persist()
            banded.write.mode("overwrite").parquet(
                f"{path}/data/{gen}/postings"
            )
            bsh.write.mode("overwrite").parquet(
                f"{path}/data/{gen}/shingles"
            )
            new_sizes = banded.select(
                "band", "band_hash",
                F.lit(1).cast("long").alias("bucket_size"),
            )
            deltas.append(new_sizes)
            gens.append(gen)
            st = index_fs.stats_from_id_rows(census.novel)
            if st:
                stats[gen] = st
            # BACKFILL reader schemas for pre-schema manifests (every
            # relation's schema is in hand) — old indexes heal here
            for rel, df in (
                ("postings", banded), ("shingles", bsh),
                ("sizes", new_sizes), ("tombstones", bsh.select("id")),
            ):
                schemas.setdefault(rel, df.schema.json())
        sizes = m["sizes"]
        if deltas:
            # a NEW version directory — the committed one is never
            # touched — and never a driver collect (the sizes relation
            # is bucket-count-sized, corpus-scaled at 100 TB)
            sizes = alloc()
            (
                reduce(
                    DataFrame.unionByName,
                    [_read_sizes(spark, path, m)] + deltas,
                )
                .groupBy("band", "band_hash")
                .agg(F.sum("bucket_size").cast("long").alias("bucket_size"))
                .filter(F.col("bucket_size") > 0)
                .write.mode("overwrite")
                .parquet(f"{path}/sizes/{sizes}")
            )
        if not gens:
            raise ValueError(
                f"mutation would leave {path} with zero generations"
                " (every stored row is freed) — rebuild the index"
                " instead"
            )
        # the COMMIT: everything above was invisible until this line.
        # Unknown manifest keys (sync markers, future metadata) carry
        # forward verbatim — a mutation must never strip another
        # subsystem's state
        new_m = {
            **{k: v for k, v in m.items() if k != "_seq"},
            "generations": gens,
            "sizes": sizes,
            "tombstones": tombs,
            "gen_stats": stats,
            "schemas": schemas,
            "batches": m.get("batches", [])
            + ([plan.batch_id] if plan.batch_id else []),
        }
        if plan.synced:
            new_m["synced"] = {**m.get("synced", {}), **plan.synced}
        index_fs.commit_manifest(spark, path, new_m, m["_seq"])
        return census.counts()
    finally:
        # release BOTH caches on every exit — a crash between the
        # postings write and the commit must not leak the banded
        # signatures for the session
        if banded is not None:
            banded.unpersist()
        if bsh is not None:
            bsh.unpersist()


def append_to_minhash_index(
    path: str,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    batch_id: str | None = None,
) -> int:
    """Add ``batch`` to an existing index — the admit step of the
    ingest loop (screen with :func:`probe_minhash_index`, keep the
    novel documents, append exactly those). Returns the number of
    documents actually appended.

    Batch-sized work plus one skinny corpus-id pass: ids already in
    the index are ANTI-JOINED out first (one shuffle of the
    column-pruned id column against the batch — linear, id-only), so
    a retried ingest batch is a NO-OP (returns 0) instead of a
    silent posting double-insert; the engine-wide batch-idempotency
    principle applied to the index. New postings and shingles land
    as a fresh generation directory, the merged sizes as a fresh
    version directory, and the commit is the manifest write — a
    crash at ANY earlier point leaves probes serving the pre-append
    state exactly (the orphan directories are swept on the next
    append, and re-running the append heals). Single writer at a
    time; readers never block.

    ``batch_id`` (r12, IVF-append parity) rides the manifest ledger:
    a committed id makes the whole retried append ONE manifest read
    — the streaming sink's exactly-once fast path — while the
    anti-join recheck stays the correctness backstop for un-ledgered
    callers and for ids trimmed past the retention horizon
    (:func:`~sqltask_spark.operators.index_fs.trim_batches`).

    A batch under the collect cap (one narrow job: ids + filter-bit
    positions) is applied by :func:`apply_mutation` — a bounded
    isin membership read instead of the distinct + anti-join
    exchanges; larger batches keep the join formulation below.
    """
    spark = batch.sparkSession
    m = _committed(spark, path)
    if batch_id is not None and batch_id in m.get("batches", []):
        return 0
    id_rows = index_fs.collect_id_rows(batch, id_col)
    if id_rows is not None:
        plan = index_fs.IndexMutation(
            id_type=batch.schema[id_col].dataType,
            rows=batch, row_ids=id_rows, batch_id=batch_id,
        )
        return apply_mutation(
            spark, path, plan, id_col, text_col, manifest=m
        )["appended"]
    _sweep(spark, path)
    meta = m["params"]
    gens = list(m["generations"])
    gen_stats = m.get("gen_stats", {})
    # generation pruning for the idempotency anti-join (r12): the
    # join exists to drop already-indexed ids, so generations
    # PROVABLY holding none of the batch ids ([min,max] + id Bloom —
    # the delete/unblock machinery) need not be read at all. Gated on
    # generation count like the delete path: two batch-sized stats
    # jobs buy a pruned corpus-id scan only once the index has
    # accumulated generations worth skipping.
    if len(gens) >= index_fs.GEN_PRUNE_MIN and gen_stats:
        bk = batch.select(F.col(id_col).alias("id")).distinct().persist()
        try:
            _, bounds = index_fs.count_and_bounds(bk, "id")
            probe_pos = index_fs.filter_probe_positions(bk, "id")
            gens = [
                g
                for g in gens
                if not index_fs.generation_prunable(
                    gen_stats.get(g), bounds, probe_pos
                )
            ]
        finally:
            bk.unpersist()
    if gens:
        stored_ids = (
            _read_shingles(spark, path, {**m, "generations": gens})
            .select("id")
            .distinct()
        )
        novel = batch.join(
            stored_ids, batch[id_col] == stored_ids["id"], "left_anti"
        )
    else:
        # every generation provably disjoint from the batch — the
        # whole batch is novel
        novel = batch
    bsh = shingled_docs(novel, id_col, text_col, meta["shingle_n"]).persist()
    banded = None
    try:
        # the count the append needs anyway + the generation's id
        # bounds in one aggregate action
        n_novel, st = index_fs.count_and_bounds(bsh, "id")
        if n_novel == 0:
            return 0
        gen = index_fs.next_gen(m)
        wide = _signatures_wide(bsh, meta["num_perm"], meta["seed"])
        banded = _banded_signatures(
            wide, meta["bands"], meta["num_perm"] // meta["bands"]
        ).persist()
        banded.write.mode("overwrite").parquet(
            f"{path}/data/{gen}/postings"
        )
        bsh.write.mode("overwrite").parquet(f"{path}/data/{gen}/shingles")
        new_sizes = banded.groupBy("band", "band_hash").agg(
            F.count(F.lit(1)).cast("long").alias("bucket_size")
        )
        # merged sizes go to a NEW version directory — the committed
        # one is never touched, and never a driver collect
        (
            _read_sizes(spark, path, m)
            .unionByName(new_sizes)
            .groupBy("band", "band_hash")
            .agg(F.sum("bucket_size").cast("long").alias("bucket_size"))
            .write.mode("overwrite")
            .parquet(f"{path}/sizes/{gen}")
        )
        stats = dict(m.get("gen_stats", {}))
        if st:
            stats[gen] = st
        # reader schemas: carried forward by the **m spread below;
        # BACKFILLED here for pre-schema manifests
        schemas = m.get("schemas") or index_fs.relation_schemas(
            postings=banded, shingles=bsh, sizes=new_sizes,
            tombstones=bsh.select("id"),
        )
        index_fs.commit_manifest(
            spark,
            path,
            {
                **{k: v for k, v in m.items() if k != "_seq"},
                "generations": m["generations"] + [gen],
                "sizes": gen,
                "schemas": schemas,
                "gen_stats": stats,
                "batches": m.get("batches", [])
                + ([batch_id] if batch_id else []),
            },
            m["_seq"],
        )
        return n_novel
    finally:
        if banded is not None:
            banded.unpersist()
        bsh.unpersist()


def delete_from_minhash_index(
    path: str,
    ids: DataFrame,
    id_col: str = "doc_id",
) -> int:
    """Tombstone documents out of the index (takedowns, quality
    purges). Returns the number of ids newly tombstoned.

    LSM-style logical delete: a skinny tombstone set commits as its
    own versioned relation, and probes anti-join it — the deleted
    documents stop matching IMMEDIATELY while the posting/shingle
    rows stay on disk until :func:`compact_minhash_index` removes
    them physically. Idempotent (already-tombstoned and never-indexed
    ids are filtered out, so a re-run returns 0) and crash-atomic
    (same manifest protocol as append). A tombstoned id stays
    UNAVAILABLE to :func:`append_to_minhash_index` until compaction —
    re-admitting it earlier would be killed by its own tombstone
    (the classic LSM id-reuse hazard, excluded by construction).

    Ids under the collect cap are applied by :func:`apply_mutation`;
    takedown waves past it keep the join formulation below.
    """
    spark = ids.sparkSession
    sel = ids.select(F.col(id_col).alias("id"))
    id_rows = index_fs.collect_id_rows(sel, "id")
    if id_rows is not None:
        plan = index_fs.IndexMutation(
            id_type=sel.schema["id"].dataType, gone=id_rows
        )
        return apply_mutation(spark, path, plan)["tombstoned"]
    m = _committed(spark, path)
    index_fs.sweep_orphans(
        spark, f"{path}/tombstones",
        index_fs.live_union(spark, path, "tombstones"), "g",
    )
    blocked = sel.distinct()
    gens = list(m["generations"])
    gen_stats = m.get("gen_stats", {})
    # generation pruning for the stored-id semi-join (r12): the join
    # exists to drop never-indexed ids, so generations PROVABLY
    # holding none of the batch ids (per-generation [min,max] + id
    # Bloom filter — the unblock machinery) need not be read at all.
    # Gated on generation count: two tiny batch-sized stats jobs buy
    # a pruned corpus scan only once the index has accumulated
    # generations worth skipping (scale-adaptive, results identical —
    # a pruned generation contributes nothing to the semi-join).
    if len(gens) >= index_fs.GEN_PRUNE_MIN and gen_stats:
        blocked = blocked.persist()
        n_b, bounds = index_fs.count_and_bounds(blocked, "id")
        if n_b == 0:
            blocked.unpersist()
            return 0
        probe_pos = index_fs.filter_probe_positions(blocked, "id")
        gens = [
            g
            for g in gens
            if not index_fs.generation_prunable(
                gen_stats.get(g), bounds, probe_pos
            )
        ]
        if not gens:
            blocked.unpersist()
            return 0
    stored = _read_shingles(
        spark, path, {**m, "generations": gens}
    ).select("id")
    target = blocked.join(stored, "id", "left_semi")
    prior = _read_tombstones(spark, path, m)
    if prior is not None:
        target = target.join(prior, "id", "left_anti")
    target = target.persist()
    try:
        n = target.count()
        if n == 0:
            return 0
        gen = index_fs.fresh_gen(spark, [f"{path}/tombstones"], None)
        index_fs.shard_for_write(target, n).write.mode(
            "overwrite"
        ).parquet(f"{path}/tombstones/{gen}")
        # backfill the tombstone reader schema for pre-schema
        # manifests (carried forward verbatim otherwise)
        schemas = dict(m.get("schemas", {}))
        schemas.setdefault("tombstones", target.schema.json())
        index_fs.commit_manifest(
            spark,
            path,
            {
                **{k: v for k, v in m.items() if k != "_seq"},
                "tombstones": m.get("tombstones", []) + [gen],
                "schemas": schemas,
            },
            m["_seq"],
        )
        return n
    finally:
        target.unpersist()
        blocked.unpersist()


def compact_minhash_index(spark: SparkSession, path: str) -> None:
    """Rewrite the committed state as ONE generation: merge all
    generations, physically drop tombstoned documents, recompute the
    sizes relation over the surviving postings, clear the tombstone
    set — the LSM compaction step that bounds read amplification
    (every probe joins #generations file lists) and frees deleted
    ids for re-admission.

    Full-index work by definition (run it on the amortization cadence
    appropriate to the append rate, exactly like LSM engines do); the
    commit is atomic like every other mutation — probes serve the old
    state until the manifest lands, and the superseded directories
    are swept once it has.
    """
    m = _committed(spark, path)
    _sweep(spark, path)
    gen = index_fs.fresh_gen(
        spark, [f"{path}/data", f"{path}/sizes"], m
    )
    postings = _read_postings(spark, path, m)
    shingles = _read_shingles(spark, path, m)
    tombs = _read_tombstones(spark, path, m)
    if tombs is not None:
        postings = postings.join(tombs, "id", "left_anti")
        shingles = shingles.join(tombs, "id", "left_anti")
    postings.write.mode("overwrite").parquet(
        f"{path}/data/{gen}/postings"
    )
    shingles.write.mode("overwrite").parquet(
        f"{path}/data/{gen}/shingles"
    )
    (
        _pinned_read(spark, m, "postings", f"{path}/data/{gen}/postings")
        .groupBy("band", "band_hash")
        .agg(F.count(F.lit(1)).cast("long").alias("bucket_size"))
        .write.mode("overwrite")
        .parquet(f"{path}/sizes/{gen}")
    )
    st = index_fs.id_bounds(
        _pinned_read(spark, m, "shingles", f"{path}/data/{gen}/shingles"),
        "id",
    )
    index_fs.commit_manifest(
        spark,
        path,
        {
            **{k: v for k, v in m.items() if k != "_seq"},
            "generations": [gen],
            "sizes": gen,
            "tombstones": [],
            "gen_stats": {gen: st} if st else {},
        },
        m["_seq"],
    )
    # post-commit cleanup of the superseded state. In-flight probes
    # that PLANNED against the old manifest may need a retry — the
    # standard compaction caveat; probes in this module eagerly
    # materialize, so a returned result is never invalidated.
    index_fs.sweep_orphans(spark, f"{path}/data", {gen}, "g")
    index_fs.sweep_orphans(spark, f"{path}/sizes", {gen}, "g")
    index_fs.sweep_orphans(spark, f"{path}/tombstones", set(), "g")


def vacuum_minhash_index(
    spark: SparkSession, path: str, keep_versions: int = 1
) -> dict:
    """Retention for the index's VERSION ledger: drop all but the
    newest ``keep_versions`` manifests, then sweep data/sizes/
    tombstone directories no surviving manifest references.

    Why this matters at scale: every mutation — append, delete,
    unblock, compaction, sync marker — commits one small manifest
    JSON, so a long-running ingest loop accumulates thousands of
    them; each ``committed_manifest`` read lists that directory, and
    superseded sizes versions (one FULL merged sizes relation per
    append) plus unblock-superseded generation directories stay on
    disk for time travel until something reclaims them. Vacuum is
    that something, on the same retention contract as
    :func:`~sqltask_spark.operators.merge.vacuum_parquet_table`:
    time travel to a dropped version errors loudly afterwards, the
    newest committed state is untouched (probe-invariance
    pytest-pinned). Writer-context only, like every mutation."""
    dropped = index_fs.drop_manifests(spark, path, keep_versions)
    return {"dropped_versions": dropped, "swept_dirs": _sweep(spark, path)}


def unblock_minhash_ids(
    spark: SparkSession,
    path: str,
    ids: DataFrame,
    id_col: str = "doc_id",
) -> dict:
    """Free SPECIFIC tombstoned ids for re-admission by rewriting
    ONLY the generations that physically hold their rows — the
    targeted alternative to :func:`compact_minhash_index` when a sync
    window re-inserts a previously deleted key and a full-index
    rewrite would be paid to drop a handful of rows.

    Work is bounded by the AFFECTED generations: candidates are
    pruned first against the manifest's per-generation [min,max] id
    stats and id filters (``gen_stats`` — no read at all when they
    prove a generation disjoint), then confirmed by ONE census job
    over all candidates at once; only confirmed generations are
    rewritten (their rows minus the blocked ids), the sizes relation
    is adjusted by subtracting exactly the dropped postings' bucket
    counts, and the tombstone sets holding the freed ids are
    rewritten without them. Untouched generations keep their
    directories AND their manifest names, so the commit is one
    manifest write naming mostly-old files — the Iceberg-style
    partial-rewrite shape.

    Returns ``{"unblocked", "rewritten_generations",
    "candidate_generations"}``. Idempotent
    (ids not currently tombstoned are ignored; re-run returns 0) and
    crash-atomic like every mutation: the new directories are
    invisible until the manifest lands, and superseded directories
    stay readable for time travel until the next compaction sweeps
    them. Ids under the collect cap are applied by
    :func:`apply_mutation`; larger sets keep the join formulation
    below.
    """
    sel = ids.select(F.col(id_col).alias("id"))
    id_rows = index_fs.collect_id_rows(sel, "id")
    if id_rows is not None:
        plan = index_fs.IndexMutation(
            id_type=sel.schema["id"].dataType, free=id_rows
        )
        r = apply_mutation(spark, path, plan)
        return {
            k: r[k]
            for k in ("unblocked", "rewritten_generations",
                      "candidate_generations")
        }
    m = _committed(spark, path)
    tombs = _read_tombstones(spark, path, m)
    if tombs is None:
        return {"unblocked": 0, "rewritten_generations": [],
                "candidate_generations": 0}
    blocked = sel.distinct().join(tombs, "id", "left_semi").persist()
    try:
        # one action: blocked count + its id bounds + its bitmap for
        # stats pruning
        n, bounds = index_fs.count_and_bounds(blocked, "id")
        if n == 0:
            return {"unblocked": 0, "rewritten_generations": [],
                    "candidate_generations": 0}
        # per-id filter probe: bounded collect of hash positions (a
        # set past the cap falls back to the bitmap-intersection test
        # inside generation_prunable). Under hashed/interleaved ids
        # the [min,max] ranges all overlap; the CONTENT filter is what
        # keeps the census off untouched generations then.
        probe_pos = index_fs.filter_probe_positions(blocked, "id")
        gen_stats = m.get("gen_stats", {})
        candidates = [
            g
            for g in m["generations"]
            if not index_fs.generation_prunable(
                gen_stats.get(g), bounds, probe_pos
            )
        ]
        # ONE job decides, for every candidate generation at once,
        # whether it holds blocked rows AND whether anything would
        # survive its rewrite (a per-generation semi-join loop costs
        # one Spark job per generation)
        affected: list[str] = []
        fully_blocked: set[str] = set()
        if candidates:
            tagged = reduce(
                DataFrame.unionByName,
                [
                    _pinned_read(
                        spark, m, "shingles",
                        f"{path}/data/{g}/shingles",
                    )
                    .select("id")
                    .withColumn("_g", F.lit(g))
                    for g in candidates
                ],
            )
            census = tagged.join(
                blocked.withColumn("_b", F.lit(1)), "id", "left"
            ).groupBy("_g").agg(
                F.count(F.lit(1)).alias("_total"),
                F.sum(F.coalesce("_b", F.lit(0))).alias("_hit"),
            ).collect()
            affected = sorted(
                r["_g"] for r in census if r["_hit"]
            )
            fully_blocked = {
                r["_g"]
                for r in census
                if r["_hit"] and r["_hit"] == r["_total"]
            }
        alloc = index_fs.name_allocator(
            spark,
            [f"{path}/data", f"{path}/sizes", f"{path}/tombstones"],
            m,
        )
        mapping: dict[str, str | None] = {}
        for g in affected:
            # a generation whose every row is blocked REWRITES TO
            # NOTHING — drop it from the manifest instead of writing
            # an empty (hence unreadable) parquet directory
            if g in fully_blocked:
                mapping[g] = None
                continue
            gnew = alloc()
            for rel in ("postings", "shingles"):
                _pinned_read(
                    spark, m, rel, f"{path}/data/{g}/{rel}"
                ).join(blocked, "id", "left_anti").write.mode(
                    "overwrite"
                ).parquet(f"{path}/data/{gnew}/{rel}")
            mapping[g] = gnew
        # sizes: subtract exactly the dropped postings' bucket counts
        # (never a full recount — the sizes relation stays the same
        # conservative as-built census compaction would refresh).
        # No affected generation (a phantom tombstone whose rows are
        # already gone) drops no postings — the committed sizes
        # version carries over unchanged.
        sizes_gen = m["sizes"]
        if affected:
            dropped = (
                _pinned_read(
                    spark, m, "postings",
                    *[f"{path}/data/{g}/postings" for g in affected],
                )
                .join(blocked, "id", "left_semi")
                .groupBy("band", "band_hash")
                .agg(F.count(F.lit(1)).cast("long").alias("c"))
            )
            sizes_gen = alloc()
            (
                _read_sizes(spark, path, m)
                .join(dropped, ["band", "band_hash"], "left")
                .select(
                    "band",
                    "band_hash",
                    (
                        F.col("bucket_size")
                        - F.coalesce(F.col("c"), F.lit(0))
                    ).cast("long").alias("bucket_size"),
                )
                .filter(F.col("bucket_size") > 0)
                .write.mode("overwrite")
                .parquet(f"{path}/sizes/{sizes_gen}")
            )
        # tombstones minus the freed ids, as ONE fresh set
        remaining = tombs.join(blocked, "id", "left_anti").persist()
        try:
            new_tombs: list[str] = []
            n_rem = remaining.count()
            if n_rem:
                tg = alloc()
                index_fs.shard_for_write(remaining, n_rem).write.mode(
                    "overwrite"
                ).parquet(f"{path}/tombstones/{tg}")
                new_tombs = [tg]
            new_gens = [
                mapping.get(g, g)
                for g in m["generations"]
                if mapping.get(g, g) is not None
            ]
            if not new_gens:
                raise ValueError(
                    f"unblock would leave {path} with zero"
                    " generations (every stored row is blocked) —"
                    " rebuild the index instead"
                )
            # rewritten generations keep their OLD bounds — a
            # conservative superset range stays valid for pruning
            stats = {
                mapping.get(g, g): gen_stats[g]
                for g in m["generations"]
                if g in gen_stats and mapping.get(g, g) is not None
            }
            index_fs.commit_manifest(
                spark,
                path,
                {
                    **{k: v for k, v in m.items() if k != "_seq"},
                    "generations": new_gens,
                    "sizes": sizes_gen,
                    "tombstones": new_tombs,
                    "gen_stats": stats,
                },
                m["_seq"],
            )
        finally:
            remaining.unpersist()
        return {
            "unblocked": n,
            "rewritten_generations": affected,
            # observability for the pruning claim: how many
            # generations survived stats+filter pruning and were
            # actually read by the census job
            "candidate_generations": len(candidates),
        }
    finally:
        blocked.unpersist()


def probe_minhash_index(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    max_bucket_size: int = 1000,
    as_of: int | None = None,
) -> DataFrame:
    """Near-dup matches of ``batch`` against the indexed corpus.

    Returns (batch_id, corpus_id, n_shared_bands, jaccard) for every
    batch document whose exact shingle Jaccard with an indexed
    document reaches ``threshold``. Self-matches (same id) are
    dropped so a corpus can be probed against its own index. Reads
    only the generation set named by the newest committed manifest —
    an in-flight or crashed append is invisible. ``as_of`` probes a
    PAST committed version instead (time travel: "what would this
    batch have matched before yesterday's ingest?" — reproducible
    audit of an earlier screening decision); versions reclaimed by
    compaction error loudly.
    """
    from sqltask_spark.data import materialize_and_release

    m = _committed(spark, path, as_of)
    meta = m["params"]
    # TINY-BATCH serving fast path (r13, VERDICT r12 next #5, guide
    # §1.2/§6): a probe of a handful of documents — the CDC sync
    # loops' post-mutation probes, point screening in a serving loop —
    # pays the corpus-postings bucket join and a full shingle-column
    # scan for candidate sets of a few rows. When the batch is small
    # enough that its banded signatures fit the isin-literal budget
    # (≤ SMALL_BATCH_CAP banded rows, i.e. ≤ cap/bands documents —
    # gated by ONE bounded narrow collect of the raw batch ids; an
    # index banded wider than the cap never inlines, and a cap of 0
    # disables the path), the batch's band hashes are collected and
    # every corpus-scale scan is PREFILTERED by literal membership
    # that pushes down to
    # parquet: sizes and postings by ``band_hash IN (...)``, and —
    # after a second bounded collect of the candidate pairs — the
    # shingle verify scan by ``corpus_id IN (...)``. The original
    # equi-join conditions stay on top of every prefilter, so a
    # prefilter only removes rows that provably cannot match; results
    # are identical, and larger batches keep the join formulation
    # (their probe work is corpus-shaped anyway).
    cap = index_fs.SMALL_BATCH_CAP
    bands = int(meta["bands"])
    id_rows = (
        index_fs.collect_id_rows(batch, id_col, cap=cap // bands)
        if bands <= cap
        else None
    )
    sizes = _read_sizes(spark, path, m).filter(
        F.col("bucket_size") <= F.lit(max_bucket_size)
    )
    postings = _read_postings(spark, path, m)
    corpus_sh = _read_shingles(spark, path, m).select(
        F.col("id").alias("corpus_id"), F.col("h").alias("h_c")
    )
    tombs = _read_tombstones(spark, path, m)
    bsh = shingled_docs(
        batch, id_col, text_col, meta["shingle_n"],
        min_partitions=1 if id_rows is not None else None,
    ).persist()
    release = [bsh]
    try:
        wide = _signatures_wide(bsh, meta["num_perm"], meta["seed"])
        banded = _banded_signatures(
            wide, meta["bands"], meta["num_perm"] // meta["bands"]
        ).select(
            F.col("id").alias("batch_id"), "band", "band_hash"
        )
        cand_hint = None
        if id_rows is not None:
            # ≤ cap banded rows by construction; the collect also
            # materializes the shingle cache for the verify join
            brows = banded.collect()
            bh = sorted({int(r["band_hash"]) for r in brows})
            keep = (
                F.col("band_hash").isin(bh) if bh else F.lit(False)
            )
            sizes = sizes.filter(keep)
            postings = postings.filter(keep)
            cand_hint = F.broadcast
        if tombs is not None:
            # deleted docs stop matching IMMEDIATELY (tombstone
            # anti-joins on the skinny id — broadcast-small until
            # compaction removes the rows physically); sizes stay
            # as-built, a conservative cap (compaction refreshes them)
            postings = postings.join(tombs, "id", "left_anti")
            corpus_sh = corpus_sh.join(
                tombs.select(F.col("id").alias("corpus_id")),
                "corpus_id",
                "left_anti",
            )
        postings = postings.join(
            sizes.select("band", "band_hash"), ["band", "band_hash"]
        )
        cand = (
            (F.broadcast(banded) if cand_hint else banded)
            .join(postings, ["band", "band_hash"])
            .filter(F.col("batch_id") != F.col("id"))
            .groupBy(
                "batch_id", F.col("id").alias("corpus_id")
            )
            .agg(F.count(F.lit(1)).alias("n_shared_bands"))
        )
        if id_rows is not None:
            # bounded candidate collect → pushdown on the shingle
            # verify scan; an adversarial bucket blowup (> cap pairs)
            # keeps the join formulation on the already-prefiltered
            # postings — reading the candidates persisted by the
            # collect instead of running the bucket join again. One
            # cached partition: a batch of at most cap/bands documents
            # has few candidates, and one partition keeps the bounded
            # collect to one job
            cand = cand.coalesce(1).persist()
            release.append(cand)
            crows = cand.limit(cap + 1).collect()
            if len(crows) <= cap:
                cids = sorted({r["corpus_id"] for r in crows})
                corpus_sh = corpus_sh.filter(
                    F.col("corpus_id").isin(cids)
                    if cids
                    else F.lit(False)
                )
                cand = F.broadcast(
                    index_fs.small_relation(spark, crows, cand.schema)
                )
        b = bsh.select(F.col("id").alias("batch_id"), F.col("h").alias("h_b"))
        jac = F.size(F.array_intersect("h_b", "h_c")).cast("double") / F.size(
            F.array_union("h_b", "h_c")
        )
        out = (
            cand.join(F.broadcast(b) if cand_hint else b, "batch_id")
            .join(corpus_sh, "corpus_id")
            .withColumn("jaccard", jac)
            .filter(F.col("jaccard") >= F.lit(threshold))
            .select("batch_id", "corpus_id", "n_shared_bands", "jaccard")
        )
        return materialize_and_release(out, *release)
    except BaseException:
        for df in release:
            df.unpersist()
        raise
