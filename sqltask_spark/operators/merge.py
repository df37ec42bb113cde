"""MERGE INTO for parquet tables — copy-on-write upserts under the
versioned-manifest commit protocol of :mod:`.index_fs`.

No reference counterpart (north-star extension): the reference's only
write repair is batch-scoped DELETE + INSERT against a live database
(`/root/reference/sqltask/base.py` upload path); plain Spark parquet
has no upsert at all — ``mode("overwrite")`` rewrites the world and a
crash mid-write corrupts readers. This module provides the missing
primitive the way Delta/Iceberg/Hudi do:

- a table is a numbered-manifest directory; the CURRENT state is the
  explicit FILE LIST in the newest parseable manifest (not "whatever
  parquet files exist" — so concurrent readers never see a torn
  write);
- MERGE rewrites ONLY the files that contain matched keys
  (copy-on-write file pruning: at 100 TB a merge touching 0.1% of
  keys rewrites ~0.1% of files, not the table), unions the surviving
  rows with the upserts, writes them as a fresh generation directory,
  and publishes untouched-files + new-files in one manifest write;
- a crash at ANY point before the manifest lands leaves readers on
  the previous state bit-for-bit; debris is swept by the next writer;
- a ``batch_id`` ledger rides in the manifest, so a retried merge of
  an already-committed batch is a NO-OP — the engine-wide W1/L2
  batch-idempotency principle applied to file tables;
- every committed version stays readable (``read_parquet_table(...,
  as_of=seq)`` — time travel) until :func:`vacuum_parquet_table`
  reclaims it.

Scale notes: the only driver-side materializations are the
touched-file list (bounded by the table's file count, the same thing
the driver already holds to plan a scan), the per-file [min, max]
statistics (file-count-bounded), and the 5-long counts row.
Source-key uniqueness is validated with one aggregate (MERGE's
standard multiple-rows-matched error). The source relation is
persisted once and feeds the prune, the validation, the counts, and
the rewrite. The matched-file search itself is bounded by DATA
SKIPPING: when the table declares ``stats_col``, every commit
records per-file [min, max] of that column in the manifest, and a
merge first drops files whose range cannot intersect the batch —
on a range-clustered table the key-column scan reads only the files
the batch can actually touch, not the whole table.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sqltask_spark.operators import index_fs

_DATA = "data"

# Bounded-collect caps for the driver-side fast paths (module level
# so tests can force the join formulations and pin fast ≡ join).
# index_fs.KEYS_CAP bounds the per-key collects — the one MERGE always
# does, and each manifest-diff side's digests in the change-feed
# window; _INLINE_CAP bounds the keys inlined into isin literals (the
# MERGE decide fast path, and the changed keys of a change-feed
# window).
#
# The isin caps sit at the MEASURED isin-vs-join crossover (r12
# session 4): an N-literal isin costs analysis/codegen time that grows
# superlinearly in N — per-merge min-of-3 walls on a 100k-row table
# were 64 keys 1.8s / 512 keys 2.2s / 2048 keys 5.2s / 4096 keys 10.8s
# against a FLAT ~2.6s for the join arm — so past ~512 literals the
# "fast" path loses to the exchange it avoids. The caps bound the
# literal count, not correctness: bigger batches take the join
# formulation, which is also the right shape at 100 TB.
_INLINE_CAP = 512


def _data_dir(path: str) -> str:
    return f"{path.rstrip('/')}/{_DATA}"


def _list_gen_files(spark: SparkSession, path: str, gen: str) -> list[str]:
    """Committed-relative file names (``gen/part-*.parquet``) under a
    generation directory."""
    return [
        f"{gen}/{n}"
        for n in index_fs.list_names(spark, f"{_data_dir(path)}/{gen}")
        if n.endswith(".parquet")
    ]


def _abs_files(path: str, rels: list[str]) -> list[str]:
    return [f"{_data_dir(path)}/{rel}" for rel in rels]


def _schema_of(manifest: dict):
    from pyspark.sql.types import StructType

    return StructType.fromJson(json.loads(manifest["schema"]))


def _nullable_norm(dt):
    """Type equality modulo nullability, recursively: nullability is
    a property of the data (unionByName reconciles it), not a parquet
    physical-type conflict."""
    from pyspark.sql import types as T

    if isinstance(dt, T.StructType):
        return T.StructType([
            T.StructField(f.name, _nullable_norm(f.dataType), True)
            for f in dt.fields
        ])
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_nullable_norm(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(
            _nullable_norm(dt.keyType), _nullable_norm(dt.valueType), True
        )
    return dt


def _sweep_uncommitted_gens(spark: SparkSession, path: str) -> None:
    """Delete generation dirs no PARSEABLE manifest references — the
    debris of a crashed merge. Time travel keeps OLD manifests'
    generations live, so the live set is the union over all of them,
    not just the newest."""
    live: set[str] = set()
    for m in index_fs.read_all_manifests(spark, path):
        live |= {rel.split("/", 1)[0] for rel in m.get("files", [])}
    index_fs.sweep_orphans(spark, _data_dir(path), live, "g")


def _file_stats(
    spark: SparkSession, path: str, rels: list[str], stats_col: str,
    schema=None,
) -> dict:
    """Per-file data-skipping statistics of ``stats_col`` over the
    given committed files — ``[min, max, filter_words]``, the stats
    Delta/Iceberg keep per data file plus the same tiny key Bloom
    filter the index generations carry (k=2, 8192 bits, ~1 KB of
    manifest per file; a 100 TB deployment would move the per-file
    blocks to Avro/puffin sidecars exactly as Iceberg does — the
    JSON manifest is this repo's honest stand-in). [min,max] prunes
    range-clustered tables; the filter prunes by CONTENT, so a merge
    of hashed/interleaved keys still touches only the files that
    hold them. One skinny scan of the stats column grouped by file,
    file-count-bounded collect — same job count as before."""
    if not rels:
        return {}
    # sparse shape (index_fs.explode_pos_rows): positions as rows
    # grouped by (file, word) with ONE bit_or — the former per-file
    # 128-expression aggregate paid ~1.4s of codegen compile per
    # merge commit. Collect is rels × ≤129 group rows.
    # Schema pinned by every caller (the table schema both already
    # hold) — an unpinned multi-file read pays a distributed
    # footer-inference JOB per commit (guide §6 planning cost).
    reader = spark.read if schema is None else spark.read.schema(schema)
    src = reader.parquet(*_abs_files(path, rels)).select(
        F.col("_metadata.file_path").alias("__file"),
        F.col(stats_col).alias("__k"),
    )
    rows = (
        index_fs.explode_pos_rows(src, "__k", keep=("__file",))
        .groupBy("__file", "w")
        .agg(
            F.bit_or("m").alias("bits"),
            F.min("_id").alias("lo"),
            F.max("_id").alias("hi"),
        )
        .collect()
    )
    by_file: dict[str, list] = {}
    for r in rows:
        by_file.setdefault(r["__file"], []).append(r)
    out = {}
    for fpath, grp in by_file.items():
        rel = next(
            (x for x in rels if fpath.endswith("/" + x)), None
        )
        if rel is None:
            continue
        words = [0] * index_fs.ID_FILTER_WORDS
        for r in grp:
            words[int(r["w"])] = int(r["bits"])
        los = [r["lo"] for r in grp if r["lo"] is not None]
        lo = min(los) if los else None
        hi = (
            max(r["hi"] for r in grp if r["hi"] is not None)
            if los
            else None
        )
        set_bits = sum(
            bin(w & 0xFFFFFFFFFFFFFFFF).count("1") for w in words
        )
        # saturated filters never prune — store the 2-element
        # range-only form instead of ~1 KB of all-ones per file
        # (same cut as index_fs._stats_agg)
        if set_bits < int(0.9 * index_fs.ID_FILTER_WORDS * 64):
            out[rel] = [lo, hi, words]
        else:
            out[rel] = [lo, hi]
    return out


def create_parquet_table(
    df: DataFrame,
    path: str,
    batch_id: str | None = None,
    stats_col: str | None = None,
) -> None:
    """Materialize ``df`` as version 0 of a merge-able table.

    ``stats_col`` declares the column (typically the merge key) for
    which every commit records per-file [min, max] in the manifest —
    the data-skipping statistics that let MERGE find its matched
    files WITHOUT scanning the whole table's key column. Cluster the
    data on that column (``repartitionByRange``) for the stats to
    prune; an unclustered table keeps correct but overlapping ranges.
    Only orderable JSON-stable types (integers, strings) are
    supported.

    When ``stats_col`` is declared it is the merge key, and the seed
    must be key-unique — MERGE validates every SOURCE but never
    re-validates the table, and both the change feed's pre/post join
    and the file-pruning assumption (a key lives in exactly one file)
    require it. Enforced here with one aggregate action, the same
    loud error MERGE raises for a duplicate-key source.
    """
    spark = df.sparkSession
    if index_fs.read_manifest(spark, path) is not None:
        raise ValueError(f"table already exists at {path}")
    if stats_col is not None:
        dup = (
            df.groupBy(stats_col)
            .agg(F.count(F.lit(1)).alias("c"))
            .filter(F.col("c") > 1)
            .limit(1)
            .collect()
        )
        if dup:
            raise ValueError(
                f"create_parquet_table: seed data has duplicate"
                f" {stats_col}={dup[0][stats_col]!r} — the declared"
                f" stats/merge key must be unique (MERGE, the change"
                f" feed, and file pruning all assume one row per key)"
            )
    gen = index_fs.fresh_gen(spark, [_data_dir(path)], None)
    df.write.mode("overwrite").parquet(f"{_data_dir(path)}/{gen}")
    files = _list_gen_files(spark, path, gen)
    manifest = {
        "files": files,
        "batches": [batch_id] if batch_id else [],
        "schema": df.schema.json(),
    }
    if stats_col is not None:
        manifest["stats_col"] = stats_col
        manifest["stats"] = _file_stats(
            spark, path, files, stats_col, schema=df.schema
        )
    index_fs.commit_manifest(spark, path, manifest, -1)


def read_parquet_table(
    spark: SparkSession,
    path: str,
    as_of: int | None = None,
    as_of_ts: int | None = None,
) -> DataFrame:
    """The committed table state — newest, the exact manifest
    ``as_of`` (time travel; raises when that version was vacuumed or
    never existed), or TIMESTAMP AS OF ``as_of_ts`` (epoch millis —
    resolved to the newest version committed at or before that wall
    time via the manifests' ``_committed_at`` stamps)."""
    if as_of is not None and as_of_ts is not None:
        raise ValueError("pass as_of or as_of_ts, not both")
    if as_of_ts is not None:
        as_of = index_fs.seq_at_timestamp(spark, path, as_of_ts)
    if as_of is None:
        m = index_fs.read_manifest(spark, path)
        if m is None:
            raise ValueError(f"no committed table at {path}")
    else:
        m = index_fs.read_manifest_at(spark, path, as_of)
        if m is None:
            raise ValueError(
                f"version {as_of} of {path} does not exist (vacuumed,"
                f" torn, or never committed); available:"
                f" {index_fs.list_manifest_seqs(spark, path)}"
            )
    files = m.get("files", [])
    if not files:
        return spark.createDataFrame([], _schema_of(m))
    return spark.read.schema(_schema_of(m)).parquet(
        *_abs_files(path, files)
    )


def read_parquet_table_keys(
    spark: SparkSession,
    path: str,
    keys: list,
    as_of: int | None = None,
    as_of_ts: int | None = None,
) -> DataFrame:
    """Point-lookup read: the committed rows whose ``stats_col``
    value is in ``keys``, scanning ONLY the files the manifest's
    per-file statistics cannot rule out — [min, max] range plus the
    per-file key Bloom filter (r12), so the lookup stays
    file-bounded on BOTH range-clustered and hashed layouts. The
    serving-state primitive: fetching K users' current rows from a
    100 TB SCD2/state table must open a handful of files, not list
    the table through a full scan.

    ``keys`` is a driver-side list (a point lookup is by definition
    driver-small; for relation-sized key sets use a join against
    :func:`read_parquet_table` — that is a different query shape).
    Requires the table to declare ``stats_col``
    (:func:`create_parquet_table`); correctness never depends on the
    stats — files without statistics stay candidates.

    ``as_of`` / ``as_of_ts`` time-travel exactly as in
    :func:`read_parquet_table` ("what was this user's row yesterday"
    — the wall-clock axis matters most on serving state)."""
    if as_of is not None and as_of_ts is not None:
        raise ValueError("pass as_of or as_of_ts, not both")
    if as_of_ts is not None:
        as_of = index_fs.seq_at_timestamp(spark, path, as_of_ts)
    if as_of is None:
        m = index_fs.read_manifest(spark, path)
        if m is None:
            raise ValueError(f"no committed table at {path}")
    else:
        m = index_fs.read_manifest_at(spark, path, as_of)
        if m is None:
            raise ValueError(
                f"version {as_of} of {path} does not exist (vacuumed,"
                f" torn, or never committed); available:"
                f" {index_fs.list_manifest_seqs(spark, path)}"
            )
    stats_col = m.get("stats_col")
    if stats_col is None:
        raise ValueError(
            f"table at {path} declares no stats_col — point lookups"
            " need the per-file key statistics recorded at write"
            " time (create_parquet_table(..., stats_col=...))"
        )
    schema = _schema_of(m)
    files = m.get("files", [])
    if not files or not keys:
        return spark.createDataFrame([], schema)
    stats = m.get("stats", {})
    lo_k, hi_k = min(keys), max(keys)
    from pyspark.sql.types import StructField, StructType

    key_df = index_fs.small_relation(
        spark,
        [(k,) for k in keys],
        StructType(
            [StructField(stats_col, schema[stats_col].dataType, True)]
        ),
    )
    probe_pos = index_fs.filter_probe_positions(key_df, stats_col)

    def _skippable(rel: str) -> bool:
        ent = stats.get(rel)
        if not ent or ent[0] is None:
            return False
        if ent[1] < lo_k or ent[0] > hi_k:
            return True
        if len(ent) < 3 or probe_pos is None:
            return False
        return index_fs.generation_prunable(
            {
                "min_id": ent[0],
                "max_id": ent[1],
                "filter": {
                    "k": index_fs.ID_FILTER_K,
                    "bits": index_fs.ID_FILTER_WORDS * 64,
                    "words": ent[2],
                },
            },
            None,
            probe_pos,
        )

    candidates = [rel for rel in files if not _skippable(rel)]
    if not candidates:
        return spark.createDataFrame([], schema)
    return (
        spark.read.schema(schema)
        .parquet(*_abs_files(path, candidates))
        .filter(F.col(stats_col).isin(keys))
    )


def trim_batch_ledger(
    spark: SparkSession, path: str, keep: int
) -> int:
    """Truncate the manifest's batch LEDGER to the newest ``keep``
    ids — the missing retention axis (r12): version vacuums bound
    the MANIFEST COUNT, but the ``batches`` list itself accumulates
    one string per ingest epoch in every newer manifest, so a
    year-long minute-cadence stream carries ~0.5M ledger entries
    (megabytes parsed on EVERY read). Returns the number trimmed;
    no-op (and no commit) when already within bound.

    Correctness contract — ``keep`` must exceed the redelivery
    horizon of the source (the standard ledger-truncation trade,
    exactly as stream processors bound their dedup state): a replay
    YOUNGER than the kept tail still ledger-skips; one OLDER than it
    re-applies, which converges for idempotent mutations (MERGE with
    the same content lands on the same state; the index appends have
    the anti-join backstop) but DOUBLE-COUNTS a non-idempotent SUM
    fold (the histogram store) — size ``keep`` accordingly there.
    One manifest-only commit, everything else carried forward."""
    return index_fs.trim_batches(spark, path, keep)


def table_history(spark: SparkSession, path: str) -> list[dict]:
    """(seq, n_files, batches) per committed version, ascending."""
    return [
        {
            "seq": m["_seq"],
            "n_files": len(m.get("files", [])),
            "batches": list(m.get("batches", [])),
        }
        for m in index_fs.read_all_manifests(spark, path)
    ]


def table_schema(spark: SparkSession, path: str):
    """The committed schema of the table at ``path``."""
    m = index_fs.read_manifest(spark, path)
    if m is None:
        raise ValueError(f"no committed table at {path}")
    return _schema_of(m)


def merge_into_parquet(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    key_cols: list[str],
    batch_id: str | None = None,
    delete_col: str | None = None,
) -> dict:
    """MERGE ``source`` into the table at ``path``.

    Semantics (one source row per key, validated):

    - key matches a target row → the source row REPLACES it
      (``when matched then update``), unless ``delete_col`` names a
      boolean source column and it is true → the target row is
      removed (``when matched and <cond> then delete``);
    - key matches nothing → the source row is inserted, unless it is
      a delete marker (those are no-ops, counted separately).

    Returns ``{"inserted", "updated", "deleted", "noop_deletes",
    "rewritten_files", "stats_pruned_files", "total_files",
    "skipped"}``. ``skipped=True`` means the batch ledger already
    holds ``batch_id`` (idempotent retry — nothing was written);
    ``stats_pruned_files`` counts files excluded from the matched-file
    search by the manifest's per-file [min, max] statistics without
    being read at all (see :func:`create_parquet_table`).
    """
    m = index_fs.read_manifest(spark, path)
    if m is None:
        raise ValueError(f"no committed table at {path}")
    if batch_id is not None and batch_id in m.get("batches", []):
        return {
            "inserted": 0,
            "updated": 0,
            "deleted": 0,
            "noop_deletes": 0,
            "rewritten_files": 0,
            "stats_pruned_files": 0,
            "total_files": len(m.get("files", [])),
            "skipped": True,
        }
    _sweep_uncommitted_gens(spark, path)

    is_del = (
        F.coalesce(F.col(delete_col).cast("boolean"), F.lit(False))
        if delete_col is not None
        else F.lit(False)
    )
    src = source.withColumn("__is_del", is_del)
    if delete_col is not None:
        src = src.drop(delete_col)
    want = [f.name for f in _schema_of(m).fields]
    have = [c for c in src.columns if c != "__is_del"]
    if sorted(have) != sorted(want):
        raise ValueError(
            f"MERGE source columns {sorted(have)} do not match the"
            f" table schema {sorted(want)} — project the source onto"
            f" the table's columns first (updates replace whole rows)"
        )
    # Name match is not enough: a mistyped source column (int where
    # the table holds long/string) would survive unionByName widening
    # and publish a generation whose parquet physical types conflict
    # with the manifest schema — committed, then unreadable for every
    # reader. Fail loudly BEFORE any work instead (nullability is a
    # property of the data, not the type — ignore it).
    want_types = {
        f.name: _nullable_norm(f.dataType)
        for f in _schema_of(m).fields
    }
    bad = [
        (f.name, f.dataType.simpleString(),
         want_types[f.name].simpleString())
        for f in src.schema.fields
        if f.name != "__is_del"
        and _nullable_norm(f.dataType) != want_types[f.name]
    ]
    if bad:
        raise ValueError(
            "MERGE source column types do not match the table schema:"
            + "; ".join(
                f" {n} is {got}, table has {exp}" for n, got, exp in bad
            )
            + " — cast the source before merging"
        )
    src = src.persist()
    try:
        files = m.get("files", [])
        stats_col = m.get("stats_col")

        # ONE bounded collect of the per-key aggregate serves three
        # formerly separate actions: the MERGE duplicate-key check,
        # the batch's [lo, hi] key bounds for file-range pruning, and
        # the keys' filter-probe positions for per-file Bloom pruning
        # (the bounds/positions are per-KEY quantities — for the key
        # column, rows ≡ keys once the dup check passes, so driver-
        # side derivation is exact). A batch past the collect cap
        # falls back to the aggregate-job formulation; certificates
        # and CDC epochs — the callers that pay per-job overhead
        # hardest — stay under it by orders of magnitude.
        per_key = src.groupBy(*key_cols).agg(
            F.count(F.lit(1)).alias("__c"),
            # per-key delete flag (never null — coalesced at entry;
            # max over the single row each key has once the dup check
            # passes): feeds the driver-side decide fast path below
            F.max(F.col("__is_del").cast("int")).alias("__d"),
        )
        probe_on = bool(files) and stats_col in key_cols
        extra = []
        if probe_on:
            p0, p1 = index_fs.filter_pos_cols(stats_col)
            extra = [p0.alias("__p0"), p1.alias("__p1")]
        key_rows = (
            per_key.select(*key_cols, "__c", "__d", *extra)
            .limit(index_fs.KEYS_CAP + 1)
            .collect()
        )
        capped = len(key_rows) > index_fs.KEYS_CAP
        if capped:
            dup = (
                per_key.filter(F.col("__c") > 1).limit(1).collect()
            )
            if dup:
                raise ValueError(
                    f"MERGE source has multiple rows for key "
                    f"{[dup[0][k] for k in key_cols]}"
                )
        else:
            dups = [r for r in key_rows if r["__c"] > 1]
            if dups:
                raise ValueError(
                    f"MERGE source has multiple rows for key "
                    f"{[dups[0][k] for k in key_cols]}"
                )

        src_keys = src.select(*key_cols).distinct()

        # DATA SKIPPING: when the manifest carries per-file [min, max]
        # of a key column, prune candidate files by range BEFORE any
        # scan — at 100 TB the matched-file search must not read the
        # whole table's key column, and on a range-clustered table
        # this bounds it to the files the batch can actually touch.
        # A file without stats (or with an all-null key) stays a
        # candidate; correctness never depends on the stats.
        stats = m.get("stats", {})
        candidates = files
        stats_pruned = 0
        if probe_on:
            if capped:
                b = src.agg(
                    F.min(stats_col).alias("lo"),
                    F.max(stats_col).alias("hi"),
                ).collect()[0]
                bounds = {"lo": b["lo"], "hi": b["hi"]}
            else:
                ks = [
                    r[stats_col]
                    for r in key_rows
                    if r[stats_col] is not None
                ]
                bounds = {
                    "lo": min(ks) if ks else None,
                    "hi": max(ks) if ks else None,
                }
            if bounds["lo"] is None:
                candidates = []
            else:
                # content pruning: per-file key Bloom filters (third
                # stats element, r12) catch what [min,max] cannot —
                # hashed/interleaved keys make every file's range
                # span the key space. The batch keys' hash positions
                # came back with the same collect; a batch past the
                # cap falls back to range-only (it touches most files
                # anyway). Old-format 2-element stats entries prune
                # by range alone — correctness never depends on
                # either statistic.
                probe_pos = (
                    None
                    if capped
                    else [
                        (int(r["__p0"]), int(r["__p1"]))
                        for r in key_rows
                        if r[stats_col] is not None
                    ]
                )

                def _skippable(rel: str) -> bool:
                    ent = stats.get(rel)
                    if not ent or ent[0] is None:
                        return False
                    if (ent[1] < bounds["lo"]
                            or ent[0] > bounds["hi"]):
                        return True
                    if len(ent) < 3 or probe_pos is None:
                        return False
                    return index_fs.generation_prunable(
                        {
                            "min_id": ent[0],
                            "max_id": ent[1],
                            "filter": {
                                "k": index_fs.ID_FILTER_K,
                                "bits": index_fs.ID_FILTER_WORDS * 64,
                                "words": ent[2],
                            },
                        },
                        None,
                        probe_pos,
                    )

                candidates = [
                    rel for rel in files if not _skippable(rel)
                ]
            stats_pruned = len(files) - len(candidates)

        # ONE decide job (r12, guide §2.4): the matched-file search
        # and the insert/update/delete counts both derive from the
        # same key-level src ⋈ target relation, so compute them in a
        # single full-outer join + aggregate instead of a semi-join
        # collect followed by a second flagged aggregate over a
        # re-scan of the touched files' key column. src rows carry a
        # non-null __is_del (coalesced at entry), target rows a
        # non-null _metadata.file_path — null-ness of the opposite
        # side classifies every row exactly as the two former jobs
        # did; the touched-file set rides the same aggregate as a
        # file-count-bounded collect_set.
        # SMALL-BATCH decide fast path (r12 session 3, guide §1.2 +
        # §2.4): with every source key already collected (single key
        # column, int/str keys, under the inline cap), the matched-row
        # search is ONE narrow pushdown scan of the candidate files
        # (`key IN (batch keys)` — exact membership, no exchange, and
        # the IN pushes to parquet as a range past the pushdown
        # threshold) instead of the full-outer decide join, whose two
        # sort exchanges + aggregate cost 3-4 AQE stage jobs per merge
        # — per EPOCH in the CDC loops. Counts and the touched-file
        # set derive driver-side from the hit rows exactly as the join
        # classified them (hit rows are target rows whose key the
        # batch carries — bounded by the batch for the key-unique
        # tables every MERGE maintains). Larger batches, multi-column
        # keys, and exotic key types keep the join formulation.
        kc = key_cols[0]
        inline_keys: list | None = None
        if (
            not capped
            and len(key_cols) == 1
            and len(key_rows) <= _INLINE_CAP
            and all(
                r[kc] is None
                or (
                    isinstance(r[kc], (int, str))
                    and not isinstance(r[kc], bool)
                )
                for r in key_rows
            )
        ):
            inline_keys = [
                r[kc] for r in key_rows if r[kc] is not None
            ]
        touched_rels: list[str] = []
        if candidates and inline_keys is not None:
            tgt = spark.read.schema(_schema_of(m)).parquet(
                *_abs_files(path, candidates)
            )
            hit_rows = (
                tgt.select(
                    F.col(kc).alias("__k"),
                    F.col("_metadata.file_path").alias("__file"),
                )
                .filter(
                    F.col("__k").isin(inline_keys)
                    if inline_keys
                    else F.lit(False)
                )
                .collect()
            )
            # classify exactly as the full-outer join did: a target
            # row whose key the batch carries is matched (null keys
            # never match on either side); a batch key with no target
            # row is source-only
            del_of = {r[kc]: bool(r["__d"]) for r in key_rows}
            matched_keys = {r["__k"] for r in hit_rows}
            counts_row = {
                "updated": sum(
                    1 for r in hit_rows if not del_of[r["__k"]]
                ),
                "deleted": sum(
                    1 for r in hit_rows if del_of[r["__k"]]
                ),
                "inserted": sum(
                    int(r["__c"])
                    for r in key_rows
                    if r[kc] not in matched_keys and not r["__d"]
                ),
                "noop_deletes": sum(
                    int(r["__c"])
                    for r in key_rows
                    if r[kc] not in matched_keys and r["__d"]
                ),
            }
            touched_uris = {r["__file"] for r in hit_rows}
            touched_rels = [
                rel
                for rel in candidates
                if any(u.endswith("/" + rel) for u in touched_uris)
            ]
        elif candidates:
            # ONE decide job (r12, guide §2.4): the matched-file
            # search and the insert/update/delete counts both derive
            # from the same key-level src ⋈ target relation, so
            # compute them in a single full-outer join + aggregate.
            # src rows carry a non-null __is_del (coalesced at entry),
            # target rows a non-null _metadata.file_path — null-ness
            # of the opposite side classifies every row; the
            # touched-file set rides the same aggregate as a
            # file-count-bounded collect_set.
            tgt = spark.read.schema(_schema_of(m)).parquet(
                *_abs_files(path, candidates)
            )
            j = tgt.select(
                *key_cols, F.col("_metadata.file_path").alias("__file")
            ).join(
                src.select(*key_cols, "__is_del"),
                key_cols,
                "full_outer",
            )
            matched = (
                F.col("__file").isNotNull()
                & F.col("__is_del").isNotNull()
            )
            src_only = F.col("__file").isNull()
            counts_row = j.agg(
                F.sum(
                    (matched & ~F.col("__is_del")).cast("long")
                ).alias("updated"),
                F.sum(
                    (matched & F.col("__is_del")).cast("long")
                ).alias("deleted"),
                F.sum(
                    (src_only & ~F.col("__is_del")).cast("long")
                ).alias("inserted"),
                F.sum(
                    (src_only & F.col("__is_del")).cast("long")
                ).alias("noop_deletes"),
                F.collect_set(
                    F.when(matched, F.col("__file"))
                ).alias("touched"),
            ).collect()[0]
            touched_uris = set(counts_row["touched"] or [])
            touched_rels = [
                rel
                for rel in candidates
                if any(u.endswith("/" + rel) for u in touched_uris)
            ]
        elif inline_keys is not None:
            # everything stats-pruned + keys in hand: zero jobs
            counts_row = {
                "updated": 0,
                "deleted": 0,
                "inserted": sum(
                    int(r["__c"]) for r in key_rows if not r["__d"]
                ),
                "noop_deletes": sum(
                    int(r["__c"]) for r in key_rows if r["__d"]
                ),
            }
        else:
            counts_row = src.agg(
                F.lit(0).cast("long").alias("updated"),
                F.lit(0).cast("long").alias("deleted"),
                F.sum((~F.col("__is_del")).cast("long")).alias(
                    "inserted"
                ),
                F.sum(F.col("__is_del").cast("long")).alias(
                    "noop_deletes"
                ),
            ).collect()[0]
        untouched = [rel for rel in files if rel not in set(touched_rels)]

        if touched_rels:
            touched_df = spark.read.schema(_schema_of(m)).parquet(
                *_abs_files(path, touched_rels)
            )
            if inline_keys is not None:
                # exact anti-join semantics as a FILTER: null target
                # keys never match (kept, as the anti-join kept them);
                # non-null keys survive iff outside the batch key set
                survivors = touched_df.filter(
                    F.col(kc).isNull() | ~F.col(kc).isin(inline_keys)
                )
            else:
                survivors = touched_df.join(
                    src_keys, key_cols, "left_anti"
                )
        else:
            survivors = None

        upserts = src.filter(~F.col("__is_del")).drop("__is_del")
        new_data = (
            upserts
            if survivors is None
            else survivors.unionByName(upserts)
        )
        # non-empty is already known when the batch carries any upsert
        # (inserted/updated counts them); only a delete-only batch
        # needs the probe job to learn whether survivors exist
        n_new = (
            1
            if (counts_row["inserted"] or 0)
            or (counts_row["updated"] or 0)
            else new_data.limit(1).count()
        )
        new_files: list[str] = []
        gen = None
        if n_new:
            gen = index_fs.fresh_gen(spark, [_data_dir(path)], None)
            new_data.write.mode("overwrite").parquet(
                f"{_data_dir(path)}/{gen}"
            )
            new_files = _list_gen_files(spark, path, gen)

        manifest = {
            "files": untouched + new_files,
            "batches": m.get("batches", [])
            + ([batch_id] if batch_id else []),
            "schema": m["schema"],
        }
        if stats_col is not None:
            manifest["stats_col"] = stats_col
            manifest["stats"] = {
                **{r: stats[r] for r in untouched if r in stats},
                **_file_stats(
                    spark, path, new_files, stats_col,
                    schema=_schema_of(m),
                ),
            }
        # THE commit — everything above is invisible until this line
        index_fs.commit_manifest(spark, path, manifest, m["_seq"])
        return {
            "inserted": int(counts_row["inserted"] or 0),
            "updated": int(counts_row["updated"] or 0),
            "deleted": int(counts_row["deleted"] or 0),
            "noop_deletes": int(counts_row["noop_deletes"] or 0),
            "rewritten_files": len(touched_rels),
            "stats_pruned_files": stats_pruned,
            "total_files": len(untouched + new_files),
            "skipped": False,
        }
    finally:
        src.unpersist()


def table_changes(
    spark: SparkSession,
    path: str,
    key_cols: list[str],
    from_seq: int,
    to_seq: int | None = None,
) -> DataFrame:
    """See :func:`table_changes_classified` — this is the DataFrame
    half of it (the public CDF read API)."""
    return table_changes_classified(
        spark, path, key_cols, from_seq, to_seq
    )[0]


@dataclass
class ChangeWindow:
    """The change feed of one window, classified on the driver (the
    WINDOW fast path of :func:`table_changes_classified`): the changed
    keys per type as ``(key, p0, p1)`` rows — the key's id-filter bit
    positions (:func:`~sqltask_spark.operators.index_fs.
    filter_pos_cols`) ride the same collect, so an index sync can
    prune generations without another job — plus the window's two
    file sets: ``pre`` (files the window removed) and ``post`` (files
    it added)."""

    key_col: str
    key_type: object
    val_cols: list
    pre: DataFrame
    post: DataFrame
    inserted: list
    deleted: list
    updated: list

    def _keyed(self, df: DataFrame, entries: list) -> DataFrame:
        keys = [k for k, _, _ in entries]
        return df.filter(
            F.col(self.key_col).isin(keys) if keys else F.lit(False)
        )

    def rows(self, entries: list, cols: list) -> DataFrame:
        """The post-image rows (``cols``) of the keys of ``entries``."""
        return self._keyed(self.post, entries).select(*cols)

    def changes(self) -> DataFrame:
        """The feed relation: four FILTERED reads of the window files,
        no exchange."""

        def arm(df, entries, tag):
            return self._keyed(df, entries).select(
                self.key_col,
                *self.val_cols,
                F.lit(tag).alias("_change_type"),
            )

        return (
            arm(self.post, self.inserted, "insert")
            .unionByName(arm(self.pre, self.deleted, "delete"))
            .unionByName(arm(self.pre, self.updated, "update_preimage"))
            .unionByName(
                arm(self.post, self.updated, "update_postimage")
            )
        )

    def by_type(self) -> dict:
        return {
            "insert": len(self.inserted),
            "delete": len(self.deleted),
            "update_preimage": len(self.updated),
            "update_postimage": len(self.updated),
        }


def _window_manifests(
    spark: SparkSession, path: str, from_seq: int, to_seq: int | None
) -> "tuple[dict, dict]":
    """The committed manifests bounding a change window."""
    m_from = index_fs.read_manifest_at(spark, path, from_seq)
    if m_from is None:
        raise ValueError(
            f"version {from_seq} of {path} does not exist (vacuumed,"
            f" torn, or never committed); available:"
            f" {index_fs.list_manifest_seqs(spark, path)}"
        )
    if to_seq is None:
        m_to = index_fs.read_manifest(spark, path)
        if m_to is None:
            raise ValueError(f"no committed table at {path}")
    else:
        m_to = index_fs.read_manifest_at(spark, path, to_seq)
        if m_to is None:
            raise ValueError(
                f"version {to_seq} of {path} does not exist; available:"
                f" {index_fs.list_manifest_seqs(spark, path)}"
            )
    return m_from, m_to


def _window_reads(spark: SparkSession, path: str, m_from, m_to):
    """(schema, pre, post): the table schema and the reads of the
    files the window removed (pre-images) and added (post-images)."""
    schema = _schema_of(m_to)
    files_from = set(m_from.get("files", []))
    files_to = set(m_to.get("files", []))

    def read(rels):
        if not rels:
            return index_fs.small_relation(spark, [], schema)
        return spark.read.schema(schema).parquet(*_abs_files(path, rels))

    return (
        schema,
        read(sorted(files_from - files_to)),
        read(sorted(files_to - files_from)),
    )


def _classify_window(
    spark: SparkSession, path: str, key_cols: list, m_from, m_to
) -> "ChangeWindow | None":
    """The window fast path: each manifest-diff side's ``(key, h1,
    h2)`` digests — two independently-seeded xxhash64 row digests
    with per-column null indicators, 128 collision bits, the
    :func:`~sqltask_spark.data.content_fingerprint` trust class — are
    collected in one bounded collect (``index_fs.KEYS_CAP`` per
    side) and classified on the driver. ``None`` when the window does
    not qualify: a composite key, a side past ``index_fs.KEYS_CAP``,
    a null or non-int/str key, or more changed keys than
    ``_INLINE_CAP`` (they become the arms' isin literals). The gate
    is the CHANGED keys, not the side sizes: a MERGE rewrites whole
    files, so a handful of changes can put thousands of carried
    survivor rows on each side."""
    if len(key_cols) != 1:
        return None
    kc = key_cols[0]
    schema, pre, post = _window_reads(spark, path, m_from, m_to)
    val_cols = [f.name for f in schema.fields if f.name != kc]
    p0, p1 = index_fs.filter_pos_cols(kc)

    def digest(seed: int):
        if not val_cols:
            return F.lit(seed).cast("long")
        parts = []
        for c in val_cols:
            parts.append(F.isnull(F.col(c)))
            parts.append(F.col(c))
        return F.xxhash64(F.lit(seed), *parts)

    def side(df, tag):
        return df.select(
            F.lit(tag).alias("_s"),
            F.col(kc).alias("_k"),
            digest(11).alias("_h1"),
            digest(23).alias("_h2"),
            p0.alias("_p0"),
            p1.alias("_p1"),
        )

    # both sides in ONE bounded collect
    rows = (
        side(pre, 0)
        .unionByName(side(post, 1))
        .limit(2 * index_fs.KEYS_CAP + 1)
        .collect()
    )
    if len(rows) > 2 * index_fs.KEYS_CAP or not all(
        isinstance(r["_k"], (int, str)) and not isinstance(r["_k"], bool)
        for r in rows
    ):
        return None
    pre_map = {r["_k"]: tuple(r[2:]) for r in rows if r["_s"] == 0}
    post_map = {r["_k"]: tuple(r[2:]) for r in rows if r["_s"] == 1}
    if max(len(pre_map), len(post_map)) > index_fs.KEYS_CAP:
        return None

    def entry(k, v):
        return (k, v[2], v[3])

    inserted = [entry(k, v) for k, v in sorted(post_map.items()) if k not in pre_map]
    deleted = [entry(k, v) for k, v in sorted(pre_map.items()) if k not in post_map]
    updated = [
        entry(k, v)
        for k, v in sorted(pre_map.items())
        if k in post_map and v[:2] != post_map[k][:2]
    ]
    if len(inserted) + len(deleted) + len(updated) > _INLINE_CAP:
        return None
    return ChangeWindow(
        key_col=kc,
        key_type=schema[kc].dataType,
        val_cols=val_cols,
        pre=pre,
        post=post,
        inserted=inserted,
        deleted=deleted,
        updated=updated,
    )


def table_change_window(
    spark: SparkSession,
    path: str,
    key_col: str,
    from_seq: int,
    to_seq: int | None = None,
) -> "ChangeWindow | None":
    """The change window ``(from_seq, to_seq]`` classified on the
    driver, or ``None`` past the fast-path bounds (then read the feed
    with :func:`table_changes_classified`). The incremental consumer's
    entry point: the changed keys arrive as lists, so planning a
    mutation from them costs no job beyond the two digest collects."""
    return _classify_window(
        spark, path, [key_col],
        *_window_manifests(spark, path, from_seq, to_seq),
    )


def table_changes_classified(
    spark: SparkSession,
    path: str,
    key_cols: list[str],
    from_seq: int,
    to_seq: int | None = None,
) -> "tuple[DataFrame, dict | None]":
    """Row-level change feed between two committed versions — the
    read-side complement of time travel (Delta's CDF shape): an
    incremental consumer asks "what changed since version N" instead
    of diffing snapshots.

    Scale shape: rows living in files CARRIED between the two
    manifests cannot have changed (merges rewrite whole files), so
    only the file-level manifest diff is read — removed files hold
    the pre-images, added files the post-images — and the join is
    bounded by the data the merges actually touched, never the table.
    Survivor rows that merely moved files during a rewrite fall out
    as all-columns-equal and are filtered.

    Returns ``(changes, by_type)``: the table columns plus
    ``_change_type`` ∈ {'insert', 'delete', 'update_preimage',
    'update_postimage'}, one row per change (two for updates), and —
    when the WINDOW fast path ran — the per-type row counts, sparing
    incremental consumers their counts job (``None`` otherwise; the
    caller counts).

    WINDOW fast path (:func:`table_change_window`): the digests of
    both manifest-diff sides are classified on the driver, and the
    returned relation is four FILTERED reads of the window files (no
    exchange at all) instead of the full-outer join + 4-way union,
    which cost 3-4 AQE stage jobs per CDC epoch. Row-identical output
    (hash equality stands in for the all-columns ``<=>`` conjunction;
    the null indicators break xxhash64's null-skip symmetry so column
    shifts cannot collide).

    Precondition: ``key_cols`` uniquely identify rows in every
    compared version. MERGE enforces this for every merged source,
    and ``create_parquet_table`` enforces it on the seed when
    ``stats_col`` (the merge key) is declared — a table seeded with
    duplicate keys outside that path would make the pre/post
    full-outer join explode rows and misclassify changes.
    """
    m_from, m_to = _window_manifests(spark, path, from_seq, to_seq)
    w = _classify_window(spark, path, key_cols, m_from, m_to)
    if w is not None:
        return w.changes(), w.by_type()
    return _changes_joined(spark, path, key_cols, m_from, m_to), None


def table_changes_joined(
    spark: SparkSession,
    path: str,
    key_cols: list[str],
    from_seq: int,
    to_seq: int | None = None,
) -> DataFrame:
    """The change feed of :func:`table_changes_classified` in its
    join formulation only — for a consumer that already knows the
    window fails the fast path (:func:`table_change_window` returned
    ``None``) and must not pay its digest collects twice."""
    return _changes_joined(
        spark, path, key_cols,
        *_window_manifests(spark, path, from_seq, to_seq),
    )


def _changes_joined(
    spark: SparkSession, path: str, key_cols: list, m_from, m_to
) -> DataFrame:
    """Full-outer join of the window's pre and post files + 4-way
    union — the formulation for windows past the fast path."""
    schema, pre_df, post_df = _window_reads(spark, path, m_from, m_to)
    val_cols = [f.name for f in schema.fields if f.name not in key_cols]
    pre = pre_df.select(
        *key_cols,
        *[F.col(c).alias(f"__pre_{c}") for c in val_cols],
        F.lit(1).alias("__in_pre"),
    )
    post = post_df.select(
        *key_cols,
        *[F.col(c).alias(f"__post_{c}") for c in val_cols],
        F.lit(1).alias("__in_post"),
    )
    j = pre.join(post, key_cols, "full_outer")
    differs = (
        F.lit(False)
        if not val_cols
        else ~F.expr(
            " AND ".join(
                f"__pre_{c} <=> __post_{c}" for c in val_cols
            )
        )
    )
    ins = j.filter(F.col("__in_pre").isNull()).select(
        *key_cols,
        *[F.col(f"__post_{c}").alias(c) for c in val_cols],
        F.lit("insert").alias("_change_type"),
    )
    dele = j.filter(F.col("__in_post").isNull()).select(
        *key_cols,
        *[F.col(f"__pre_{c}").alias(c) for c in val_cols],
        F.lit("delete").alias("_change_type"),
    )
    upd = j.filter(
        F.col("__in_pre").isNotNull()
        & F.col("__in_post").isNotNull()
        & differs
    )
    upd_pre = upd.select(
        *key_cols,
        *[F.col(f"__pre_{c}").alias(c) for c in val_cols],
        F.lit("update_preimage").alias("_change_type"),
    )
    upd_post = upd.select(
        *key_cols,
        *[F.col(f"__post_{c}").alias(c) for c in val_cols],
        F.lit("update_postimage").alias("_change_type"),
    )
    return ins.unionByName(dele).unionByName(upd_pre).unionByName(
        upd_post
    )


def compact_parquet_table(spark: SparkSession, path: str) -> int:
    """Rewrite the current state as ONE fresh generation (the
    small-files compaction merges accumulate); row-identical,
    committed atomically. Returns the new file count."""
    m = index_fs.read_manifest(spark, path)
    if m is None:
        raise ValueError(f"no committed table at {path}")
    _sweep_uncommitted_gens(spark, path)
    files = m.get("files", [])
    gen = index_fs.fresh_gen(spark, [_data_dir(path)], None)
    if files:
        spark.read.schema(_schema_of(m)).parquet(
            *_abs_files(path, files)
        ).write.mode("overwrite").parquet(f"{_data_dir(path)}/{gen}")
        new_files = _list_gen_files(spark, path, gen)
    else:
        new_files = []
    manifest = {
        "files": new_files,
        "batches": m.get("batches", []),
        "schema": m["schema"],
    }
    if m.get("stats_col") is not None:
        manifest["stats_col"] = m["stats_col"]
        manifest["stats"] = _file_stats(
            spark, path, new_files, m["stats_col"],
            schema=_schema_of(m),
        )
    index_fs.commit_manifest(spark, path, manifest, m["_seq"])
    return len(new_files)


def add_table_column(
    spark: SparkSession,
    path: str,
    name: str,
    data_type: str,
) -> None:
    """Schema evolution (the add-column half — M2's lake analog for
    versioned tables): commit a manifest whose schema carries the new
    NULLABLE column. No data file is touched — existing files simply
    lack the column and every reader projects it as NULL (the
    explicit read schema makes that uniform across files), while
    subsequent merges carry real values for the rows they rewrite.
    Atomic like every mutation; time travel to older versions keeps
    serving the old schema.

    Drop/rename stay out by design: they change the meaning of bytes
    already on disk, which is a rewrite (:func:`compact_parquet_table`
    after projecting) — the same posture as
    :mod:`sqltask_spark.migration`'s opt-in drop rewrite.
    """
    from pyspark.sql import types as T

    m = index_fs.read_manifest(spark, path)
    if m is None:
        raise ValueError(f"no committed table at {path}")
    schema = _schema_of(m)
    if name in [f.name for f in schema.fields]:
        raise ValueError(f"column {name!r} already exists at {path}")
    added = T.StructType.fromDDL(f"`{name}` {data_type}").fields[0]
    new_schema = T.StructType(
        list(schema.fields)
        + [T.StructField(added.name, added.dataType, True)]
    )
    index_fs.commit_manifest(
        spark,
        path,
        {**{k: v for k, v in m.items() if k != "_seq"},
         "schema": new_schema.json()},
        m["_seq"],
    )


def vacuum_parquet_table(
    spark: SparkSession, path: str, keep_versions: int = 1,
    min_keep_seq: int | None = None,
) -> dict:
    """Reclaim storage: drop all but the newest ``keep_versions``
    manifests, then delete data files no surviving manifest
    references. Time travel to a vacuumed version errors loudly
    afterwards (the standard retention trade, exactly as table
    formats define it). ``min_keep_seq`` floors retention so
    incremental consumers (CDC sync markers) keep their resume
    version readable — see :func:`index_fs.drop_manifests`."""
    drop = index_fs.drop_manifests(
        spark, path, keep_versions, min_keep_seq=min_keep_seq
    )
    live: set[str] = set()
    for m in index_fs.read_all_manifests(spark, path):
        live |= set(m.get("files", []))
    removed = 0
    for gen in index_fs.list_names(spark, _data_dir(path)):
        gen_dir = f"{_data_dir(path)}/{gen}"
        kept_any = False
        for n in index_fs.list_names(spark, gen_dir):
            rel = f"{gen}/{n}"
            if n.endswith(".parquet") and rel not in live:
                index_fs.delete_path(spark, f"{gen_dir}/{n}")
                removed += 1
            elif n.endswith(".parquet"):
                kept_any = True
        if not kept_any:
            index_fs.delete_path(spark, gen_dir)
    return {"dropped_versions": drop, "removed_files": removed}
