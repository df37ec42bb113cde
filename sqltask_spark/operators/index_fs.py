"""Versioned-manifest plumbing shared by the persistent indexes.

No reference counterpart (north-star extension; the reference,
``/root/reference/sqltask``, has no index artifacts at all). Both
persistent indexes (:mod:`sqltask_spark.operators.dedup_index`,
:mod:`sqltask_spark.operators.ann_index`) follow the same commit
protocol, the one Delta/Iceberg-style table formats use for exactly
this problem:

- every mutation writes ONLY NEW files (a fresh ``gen=g%06d``
  generation directory; for relations that must be rewritten whole,
  a fresh versioned directory) — nothing a committed reader can see
  is ever modified or truncated in place;
- the mutation becomes visible by writing the next numbered manifest
  (``manifests/manifest-%012d.json``) listing exactly the committed
  generation set. Readers take the NEWEST PARSEABLE manifest, so a
  crash at any point before the manifest lands leaves the index
  serving the pre-append state bit-for-bit, and a torn manifest file
  (partial write) is skipped in favor of its predecessor;
- orphan data directories (written by a crashed append, never named
  by the newest manifest) are detectable mechanically and swept by
  the next writer before it starts.

All filesystem access goes through the Hadoop ``FileSystem`` API of
the live SparkSession — NOT ``os``/``shutil`` — so the identical code
path serves ``file:``, ``hdfs:``, and object stores. Manifests are
created with ``overwrite=False``: on HDFS/posix, two racing writers
cannot both win the same sequence number (create-exclusive), which
turns the documented single-writer contract into a loud error instead
of silent corruption. (On S3 create-exclusivity is weaker; a
production deployment there would layer a conditional-PUT or a lock,
exactly as the table formats do.)
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

MANIFEST_DIR = "manifests"
_MANIFEST_FMT = "manifest-%012d.json"


def _fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` under the session's Hadoop
    conf."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def path_exists(spark: SparkSession, path: str) -> bool:
    fs, p = _fs(spark, path)
    return bool(fs.exists(p))


def delete_path(spark: SparkSession, path: str) -> None:
    fs, p = _fs(spark, path)
    fs.delete(p, True)


def list_names(spark: SparkSession, path: str) -> list[str]:
    """Child names under ``path`` (empty when absent)."""
    fs, p = _fs(spark, path)
    if not fs.exists(p):
        return []
    return sorted(s.getPath().getName() for s in fs.listStatus(p))


def _read_manifest_file(spark: SparkSession, full: str) -> dict | None:
    """Parse one manifest file; ``None`` when torn/unparseable."""
    fs, jp = _fs(spark, full)
    jvm = spark._jvm
    stream = fs.open(jp)
    try:
        text = jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()
    try:
        data = json.loads(text)
    except ValueError:
        return None
    return data if isinstance(data, dict) else None


def list_manifest_seqs(spark: SparkSession, path: str) -> list[int]:
    """Committed manifest sequence numbers under ``path``, ascending
    (torn files included — they are filtered at read time)."""
    return sorted(
        int(n[len("manifest-"):-len(".json")])
        for n in list_names(spark, f"{path}/{MANIFEST_DIR}")
        if n.startswith("manifest-") and n.endswith(".json")
    )


def read_manifest_at(
    spark: SparkSession, path: str, seq: int
) -> dict | None:
    """The manifest with exactly sequence ``seq`` (time-travel read),
    or ``None`` when absent or torn. Unlike :func:`read_manifest`
    there is no fallback — a travel request names ONE version."""
    full = f"{path}/{MANIFEST_DIR}/{_MANIFEST_FMT % seq}"
    if not path_exists(spark, full):
        return None
    data = _read_manifest_file(spark, full)
    if data is not None:
        data["_seq"] = seq
    return data


def read_all_manifests(spark: SparkSession, path: str) -> list[dict]:
    """Every parseable manifest under ``path``, ascending by seq —
    the union of their file references is what a vacuum/orphan sweep
    must treat as live when older versions stay readable."""
    out = []
    for seq in list_manifest_seqs(spark, path):
        data = read_manifest_at(spark, path, seq)
        if data is not None:
            out.append(data)
    return out


def live_union(spark: SparkSession, path: str, key: str) -> set[str]:
    """Union of manifest field ``key`` (a name or list of names)
    over ALL parseable manifests — the set a writer's orphan sweep
    must treat as committed when older versions stay time-travel
    readable. Names referenced only by pre-compaction manifests may
    already be gone from disk; a sweep against this set simply never
    resurrects or deletes them."""
    out: set[str] = set()
    for m in read_all_manifests(spark, path):
        v = m.get(key, [])
        out |= {v} if isinstance(v, str) else set(v)
    return out


def live_unions(
    spark: SparkSession, path: str, keys: "tuple[str, ...]"
) -> "dict[str, set[str]]":
    """:func:`live_union` for several fields with ONE manifest-history
    read. The orphan sweeps at the head of every mutation need the
    live set of three different directories; reading the (possibly
    hundreds-long) manifest chain once instead of once per field cuts
    the py4j/filesystem round trips threefold."""
    out: dict[str, set[str]] = {k: set() for k in keys}
    for m in read_all_manifests(spark, path):
        for k in keys:
            v = m.get(k, [])
            out[k] |= {v} if isinstance(v, str) else set(v)
    return out


def read_manifest(spark: SparkSession, path: str) -> dict | None:
    """Newest parseable manifest under ``path``, or ``None``.

    A partially written newest file (torn by a crash mid-create) is
    skipped — its predecessor still describes a complete, committed
    index state. The manifest's own sequence number rides along as
    ``_seq`` for the next :func:`commit_manifest`.
    """
    for seq in reversed(list_manifest_seqs(spark, path)):
        data = read_manifest_at(spark, path, seq)
        if data is not None:
            return data  # torn write — fall back to the predecessor
    return None


def commit_manifest(
    spark: SparkSession, path: str, data: dict, prev_seq: int
) -> None:
    """Atomically publish ``data`` as manifest ``prev_seq + 1``.

    ``overwrite=False`` makes the sequence number a create-exclusive
    claim: a second writer racing for the same slot errors instead of
    clobbering (single-writer is the documented contract; this makes
    violating it loud).
    """
    payload = dict(data)
    payload.pop("_seq", None)
    # wall-clock commit stamp for TIMESTAMP-AS-OF reads
    # (:func:`seq_at_timestamp`). Set HERE, at publish, so the
    # carry-forward rule (mutations spread every prior key) can never
    # propagate a stale stamp; seq order stays the authoritative
    # history, the stamp is the advisory wall-clock axis.
    import time

    payload["_committed_at"] = int(time.time() * 1000)
    fs, _ = _fs(spark, path)
    jvm = spark._jvm
    jp = jvm.org.apache.hadoop.fs.Path(
        f"{path}/{MANIFEST_DIR}/{_MANIFEST_FMT % (prev_seq + 1)}"
    )
    out = fs.create(jp, False)
    try:
        out.write(bytearray(json.dumps(payload).encode("utf-8")))
    finally:
        out.close()


def next_gen(manifest: dict | None) -> str:
    """Next generation name after the committed ones (``g%06d``)."""
    gens = (manifest or {}).get("generations", [])
    if not gens:
        return "g%06d" % 0
    return "g%06d" % (1 + max(int(g[1:]) for g in gens))


def fresh_gen(
    spark: SparkSession, parents: list[str], manifest: dict | None
) -> str:
    """Generation name unused by the committed manifest AND by any
    directory on disk under ``parents`` — so an atomic REBUILD of an
    existing index writes only new files (a committed reader keeps
    scanning the old generation untouched until the new manifest
    lands) instead of overwriting in place."""
    return name_allocator(spark, parents, manifest or {})()


def drop_manifests(
    spark: SparkSession, path: str, keep_versions: int,
    min_keep_seq: int | None = None,
) -> list[int]:
    """Delete all but the newest ``keep_versions`` manifest files —
    the retention step every vacuum starts with. Returns the dropped
    sequence numbers. Time travel to a dropped version errors loudly
    afterwards (the standard retention trade, exactly as the table
    formats define it). Writer-context only, like every mutation.

    ``min_keep_seq`` is a retention FLOOR: versions >= it survive
    regardless of ``keep_versions``. Incremental consumers (the CDC
    index sync's ``synced`` marker) read ``table_changes(from_seq=
    marker)``, which needs manifest ``marker`` alive — an unclamped
    vacuum racing such a consumer would wedge it permanently on
    'version does not exist'."""
    if keep_versions < 1:
        raise ValueError(
            f"keep_versions must be >= 1, got {keep_versions}"
        )
    seqs = list_manifest_seqs(spark, path)
    drop = seqs[:-keep_versions] if len(seqs) > keep_versions else []
    if min_keep_seq is not None:
        drop = [s for s in drop if s < min_keep_seq]
    for seq in drop:
        delete_path(
            spark, f"{path}/{MANIFEST_DIR}/{_MANIFEST_FMT % seq}"
        )
    return drop


def relation_schemas(**dfs) -> dict:
    """``{relation_name: schema-json}`` for the manifest's reader
    schemas (the MERGE tables' ``schema`` convention, extended to the
    indexes' multi-relation layouts). A read planned with a recorded
    schema costs ZERO Spark jobs; unpinned multi-file reads each pay
    a distributed footer-inference job per call site — fixed overhead
    locally, a real footer sweep at 100 TB."""
    return {name: df.schema.json() for name, df in dfs.items()}


def id_bounds(df, id_col: str) -> dict | None:
    """``{"min_id", "max_id"}`` of ``df[id_col]`` for the manifest's
    per-generation statistics, or ``None`` when the id type is not
    JSON-stable-orderable (only int and str are: their Python
    comparison matches Spark's — numeric order for ints, and UTF-8
    binary order for strings, which equals code-point order). One
    column-pruned aggregate over data the caller is writing anyway.

    The stats serve GENERATION PRUNING for targeted rewrites
    (:func:`~sqltask_spark.operators.dedup_index.unblock_minhash_ids`)
    — a conservative superset range is always valid, so rewrites keep
    a generation's old bounds rather than re-measuring."""
    from pyspark.sql import functions as F

    return _stats_agg(df, id_col)[1]


# Per-generation approximate-membership filter: a tiny Bloom filter
# (k=2, 8192 bits = 128 manifest longs, ~1 KB) recorded alongside the
# [min,max] id range. Range pruning is perfect under monotonic ingest
# ids but degenerates under hashed/interleaved ids (every generation
# spans the id space); the filter prunes by CONTENT, so targeted
# rewrites stay bounded by the generations that actually hold the
# blocked ids regardless of id layout. Saturates (stops pruning,
# stays conservative) past a few thousand ids per generation — the
# change-window generations it exists for sit well under that.
ID_FILTER_WORDS = 128
ID_FILTER_K = 2


def filter_pos_cols(id_col: str):
    """The k hash-bit positions of ``id_col`` — MUST be identical at
    build and probe (xxhash64 is Spark-version-stable and typed: a
    long id and its string form hash differently, consistently)."""
    from pyspark.sql import functions as F

    bits = ID_FILTER_WORDS * 64
    return [
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(bits)),
        F.pmod(F.xxhash64(F.col(id_col), F.lit(1)), F.lit(bits)),
    ]


def filter_word_aggs(p0: str = "_p0", p1: str = "_p1") -> list:
    """The 128 ``bit_or`` aggregate expressions that fold each row's
    two hash-bit positions (columns ``p0``/``p1``) into the filter's
    words — shared by the generation stats (one global aggregate) and
    the MERGE table's per-file stats (the same expressions under a
    per-file groupBy)."""
    from pyspark.sql import functions as F

    return [
        F.expr(
            f"bit_or("
            f"if({p0} div 64 = {w},"
            f" shiftleft(1L, cast({p0} % 64 as int)), 0L)"
            f" | if({p1} div 64 = {w},"
            f" shiftleft(1L, cast({p1} % 64 as int)), 0L))"
        ).alias(f"_w{w}")
        for w in range(ID_FILTER_WORDS)
    ]


def words_from_row(r) -> list:
    """Decode one aggregate result row's ``_w*`` columns into the
    filter's word list (an empty group yields NULL words → 0)."""
    return [int(r[f"_w{w}"] or 0) for w in range(ID_FILTER_WORDS)]


def explode_pos_rows(df, id_col: str, keep: "tuple[str, ...]" = ()):
    """``(*keep, _id, j, w, m)`` — each row twice, once per hash
    position, carrying the filter word index and bit mask. The sparse
    shape shared by the stats aggregates: grouping these by ``w``
    with ONE ``bit_or`` replaces the 128-expression wide aggregate,
    whose whole-stage codegen compile alone cost ~1.4s PER CALL
    (measured; every index mutation pays the stats action)."""
    from pyspark.sql import functions as F

    p0, p1 = filter_pos_cols(id_col)
    return df.select(
        *keep,
        F.col(id_col).alias("_id"),
        p0.alias("_p0"),
        p1.alias("_p1"),
    ).select(
        *keep,
        "_id",
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("j"), F.col("_p0").alias("p")),
                F.struct(F.lit(1).alias("j"), F.col("_p1").alias("p")),
            )
        ).alias("e"),
    ).select(
        *keep,
        "_id",
        F.col("e.j").alias("j"),
        F.expr("e.p DIV 64").alias("w"),
        F.expr(
            "shiftleft(CAST(1 AS BIGINT), CAST(e.p % 64 AS INT))"
        ).alias("m"),
    )


def _stats_agg(df, id_col: str) -> "tuple[int, dict | None]":
    """(row_count, stats) in ONE aggregate action: count, [min,max]
    id bounds, and the generation id filter's words. Sparse
    formulation — positions explode to (word, mask) rows grouped by
    word (≤ 2·rows exploded, ≤ 128 groups collected); the count and
    bounds ride the same groups (count = the j=0 rows, each input
    row contributes exactly one; bounds fold across groups on the
    driver). Values are identical to the former wide 131-expression
    aggregate, whose codegen compile dominated small-batch mutations.
    """
    from pyspark.sql import functions as F

    rows = (
        explode_pos_rows(df, id_col)
        .groupBy("w")
        .agg(
            F.bit_or("m").alias("bits"),
            F.sum((F.col("j") == 0).cast("long")).alias("n"),
            F.min("_id").alias("lo"),
            F.max("_id").alias("hi"),
        )
        .collect()
    )
    n = sum(int(r["n"]) for r in rows)
    los = [r["lo"] for r in rows if r["lo"] is not None]
    if not los:
        return n, None
    lo = min(los)
    hi = max(r["hi"] for r in rows if r["hi"] is not None)
    if isinstance(lo, bool) or not isinstance(lo, (int, str)):
        return n, None
    words = [0] * ID_FILTER_WORDS
    for r in rows:
        words[int(r["w"])] = int(r["bits"])
    stats = {"min_id": lo, "max_id": hi}
    set_bits = sum(
        bin(w & 0xFFFFFFFFFFFFFFFF).count("1") for w in words
    )
    # a saturated filter can never prune (every probe bit is set) —
    # omit it rather than spend ~1 KB of manifest per generation on
    # all-ones. Only small (change-window-sized) generations carry
    # filters, which is exactly where content pruning matters; big
    # compacted generations fall back to [min,max] + census.
    if set_bits < int(0.9 * ID_FILTER_WORDS * 64):
        stats["filter"] = {
            "k": ID_FILTER_K,
            "bits": ID_FILTER_WORDS * 64,
            "words": words,
        }
    return n, stats


def count_and_bounds(df, id_col: str) -> "tuple[int, dict | None]":
    """``(row_count, generation stats)`` in ONE aggregate action —
    the append paths already pay a count job on the batch, so the
    [min,max] bounds AND the id filter ride along for free instead
    of adding a second job per mutation."""
    return _stats_agg(df, id_col)


# Small-batch fast-path cap (r12 session 3): a mutation batch whose
# ids fit under this bound is collected ONCE (ids + filter-bit
# positions, one narrow job, no exchange) and every per-batch
# quantity — count, [min,max] bounds, the generation id filter,
# membership probes — derives driver-side, replacing the
# distinct/anti-join/aggregate formulations that cost 3-5 AQE stage
# jobs per mutation. Bounded by construction (≤ cap ids on the
# driver, isin literals ≤ cap); larger batches keep the join
# formulation. Sized at the measured isin-vs-join crossover (r12
# session 4, see merge._INLINE_CAP): N-literal isin analysis/codegen
# grows superlinearly in N and overtakes the join arm's flat ~2.6s
# past ~512 literals, so a bigger cap makes the "fast" path slower
# than the exchange it avoids.
SMALL_BATCH_CAP = 512


def collect_id_rows(
    df, id_col: str, cap: int = SMALL_BATCH_CAP
) -> "list[tuple] | None":
    """Bounded collect of ``(id, p0, p1)`` per batch row (duplicates
    kept, order preserved; positions are Spark-computed xxhash64 —
    identical bits to the aggregate formulation), or ``None`` past
    ``cap``."""
    from pyspark.sql import functions as F

    p0, p1 = filter_pos_cols(id_col)
    rows = (
        df.select(
            F.col(id_col).alias("_id"), p0.alias("_p0"), p1.alias("_p1")
        )
        .limit(cap + 1)
        .collect()
    )
    if len(rows) > cap:
        return None
    return [(r["_id"], r["_p0"], r["_p1"]) for r in rows]


def stats_from_id_rows(rows: "list[tuple]") -> dict | None:
    """Driver-side fold of collected ``(id, p0, p1)`` rows into the
    generation stats dict — probe-identical to :func:`_stats_agg`'s
    output for the same input: same bounds rule (int/str only, bool
    excluded, nulls skipped), same filter BITS (the positions came
    from Spark's xxhash64; the stored word for bit 63 is the
    unsigned form where Spark's ``shiftleft`` yields the negative
    two's-complement twin — :func:`_bit` and the popcount treat both
    identically), same ≥90%-saturation cut."""
    ids = [i for i, _, _ in rows if i is not None]
    if not ids:
        return None
    lo, hi = min(ids), max(ids)
    if isinstance(lo, bool) or not isinstance(lo, (int, str)):
        return None
    words = [0] * ID_FILTER_WORDS
    for _, p0, p1 in rows:
        for p in (p0, p1):
            if p is not None:
                words[p >> 6] |= 1 << (p & 63)
    stats = {"min_id": lo, "max_id": hi}
    set_bits = sum(
        bin(w & 0xFFFFFFFFFFFFFFFF).count("1") for w in words
    )
    if set_bits < int(0.9 * ID_FILTER_WORDS * 64):
        stats["filter"] = {
            "k": ID_FILTER_K,
            "bits": ID_FILTER_WORDS * 64,
            "words": words,
        }
    return stats


def small_relation(spark: SparkSession, rows: "list", schema):
    """A driver-built relation of ``rows`` (tuples, or Rows, in
    ``schema`` field order) under the explicit StructType ``schema``,
    shipped to the JVM as one Arrow batch — no Python worker, unlike
    ``createDataFrame(list_of_tuples)``, whose pickled rows cost a
    worker round trip per small id set (~1 s measured per call)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    aschema = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(schema.fields)
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, aschema)],
        schema=aschema,
    )
    return spark.createDataFrame(table, schema)


def prune_generations(
    generations: "list[str]",
    gen_stats: dict,
    id_rows: "list[tuple]",
) -> "list[str]":
    """The generations that may hold any id of ``id_rows`` (collected
    ``(id, p0, p1)`` rows) — every generation whose stats prove it
    holds none of them is dropped, decided from the manifest alone."""
    if not gen_stats:
        return list(generations)
    bounds = stats_from_id_rows(id_rows)
    pos = [
        (p0, p1) for _, p0, p1 in id_rows
        if p0 is not None and p1 is not None
    ] or None
    return [
        g for g in generations
        if not generation_prunable(gen_stats.get(g), bounds, pos)
    ]


def unique_ids(id_rows: "list[tuple]") -> list:
    """Sorted distinct non-null ids of collected ``(id, p0, p1)``
    rows."""
    return sorted({t[0] for t in id_rows if t[0] is not None})


def tagged_membership(
    parts: "list[tuple[str, object]]",
    id_col: str,
    ids: list,
    totals: bool,
) -> "dict[str, tuple[int, list]]":
    """ONE action over ``parts`` — ``(tag, relation)`` pairs, one per
    generation or tombstone set — answering for every id of ``ids``
    where it is stored: ``{tag: (rows, hits)}`` with ``hits`` the
    ``ids`` members the relation holds (one entry per row).
    ``totals`` adds each relation's full row count (a scan of its id
    column — needed only when a rewrite must know whether anything
    survives it); without it the isin filter pushes down to the scan
    and ``rows`` counts the hits only. Tags holding no row are absent.
    """
    from functools import reduce

    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    if not parts:
        return {}
    hit = F.col("_id").isin(ids) if ids else F.lit(False)
    tagged = reduce(
        DataFrame.unionByName,
        [
            df.select(F.col(id_col).alias("_id")).withColumn(
                "_t", F.lit(tag)
            )
            for tag, df in parts
        ],
    )
    if not totals:
        tagged = tagged.filter(hit)
    rows = (
        tagged.groupBy("_t")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.collect_list(F.when(hit, F.col("_id"))).alias("_hits"),
        )
        .collect()
    )
    return {r["_t"]: (int(r["_n"]), list(r["_hits"])) for r in rows}


@dataclass
class IndexMutation:
    """One index mutation, planned on the driver: every id arrives as
    a collected ``(id, p0, p1)`` row (the filter-bit positions drive
    generation pruning). The per-index cores
    (``dedup_index.apply_mutation``, ``ann_index.apply_mutation``)
    apply it with one membership read and ONE manifest commit.

    - ``gone``: ids to tombstone (deletes, update pre-images);
    - ``free``: ids to free from the tombstones — their stored rows
      are removed physically, so they can be re-admitted;
    - ``rows``/``row_ids``: rows to append and their ids (an id
      already stored, and not freed, is skipped — idempotency);
    - ``batch_id``: ledger entry committed with the mutation (the
      append arms skip a ledgered batch before planning it);
    - ``synced``: ``{table_path: to_seq}`` markers committed with it.
    """

    id_type: object
    gone: list = field(default_factory=list)
    free: list = field(default_factory=list)
    rows: object = None
    row_ids: list = field(default_factory=list)
    batch_id: str | None = None
    synced: dict | None = None

    def probe_rows(self) -> list:
        return list(self.gone) + list(self.free) + list(self.row_ids)


@dataclass
class MutationCensus:
    """Where a plan's ids live and what applying it decides — exactly
    the outcome of applying delete, then unblock, then append one
    after another:

    - ``candidates``: the generations left after stats pruning;
    - ``gens`` / ``tombs``: the membership read per generation and
      per tombstone set, ``{name: (rows, hits)}``;
    - ``tombstoned``: ``gone`` ids stored and not yet tombstoned;
    - ``freed``: ``free`` ids tombstoned after that;
    - ``removed``: freed ids with stored rows, dropped physically;
    - ``stored``: the stored ids that stay;
    - ``novel``: the ``row_ids`` rows whose id is not in ``stored``;
    - ``affected``: the generations holding rows of removed ids.
    """

    candidates: list
    gens: dict
    tombs: dict
    tombstoned: list
    freed: list
    removed: set
    stored: set
    novel: list
    affected: list

    def changes_nothing(self) -> bool:
        return not (self.tombstoned or self.freed or self.novel)

    def counts(self) -> dict:
        return {
            "tombstoned": len(self.tombstoned),
            "appended": len(self.novel),
            "unblocked": len(self.freed),
            "rewritten_generations": self.affected,
            "candidate_generations": (
                len(self.candidates) if self.freed else 0
            ),
        }

    def fully_removed(self, g: str) -> bool:
        """Every row of generation ``g`` goes (needs the totals the
        census reads whenever the plan frees ids)."""
        rows, hits = self.gens[g]
        return rows == sum(1 for i in hits if i in self.removed)


def take_census(
    plan: IndexMutation,
    manifest: dict,
    read_gen,
    read_tombstones,
    id_col: str,
) -> MutationCensus:
    """Prune the generations by the manifest's stats, then ONE
    :func:`tagged_membership` read over the relations the plan can
    need — ``read_gen(g)`` for candidate generations, and
    ``read_tombstones(t)`` for the tombstone sets — and decide the
    plan. Tombstone sets matter only for ids to free or stored ids to
    tombstone; generations only for ids to tombstone, append or free
    from live sets. A plan nothing can come of reads nothing."""
    tomb_sets = list(manifest.get("tombstones", []))
    probe_rows = plan.probe_rows()
    candidates = prune_generations(
        manifest["generations"], manifest.get("gen_stats", {}),
        probe_rows,
    )
    ids = unique_ids(probe_rows)
    parts = []
    if candidates and (
        plan.gone or plan.row_ids or (plan.free and tomb_sets)
    ):
        parts += [("d" + g, read_gen(g)) for g in candidates]
    if tomb_sets and (plan.free or (plan.gone and candidates)):
        parts += [("t" + t, read_tombstones(t)) for t in tomb_sets]
    census = (
        tagged_membership(parts, id_col, ids, totals=bool(plan.free))
        if ids and parts
        else {}
    )
    gens = {g: census.get("d" + g, (0, [])) for g in candidates}
    tombs = {t: census.get("t" + t, (0, [])) for t in tomb_sets}
    stored = {i for _, hits in gens.values() for i in hits}
    tombed = {i for _, hits in tombs.values() for i in hits}
    newly = [
        i for i in unique_ids(plan.gone) if i in stored and i not in tombed
    ]
    blocked = tombed | set(newly)
    freed = [i for i in unique_ids(plan.free) if i in blocked]
    removed = stored & set(freed)
    keep = stored - removed
    return MutationCensus(
        candidates=candidates,
        gens=gens,
        tombs=tombs,
        tombstoned=newly,
        freed=freed,
        removed=removed,
        stored=keep,
        novel=[t for t in plan.row_ids if t[0] not in keep],
        affected=sorted(
            g for g in candidates
            if any(i in removed for i in gens[g][1])
        ),
    )


def name_allocator(
    spark: SparkSession, parents: "list[str]", manifest: dict
):
    """Allocator of fresh sequential ``g%06d`` names past every
    generation the manifest commits AND every name on disk under
    ``parents`` — the :func:`fresh_gen` rule for a mutation that
    writes several new directories in one commit."""
    import itertools
    import re

    nums = [-1] + [int(g[1:]) for g in manifest.get("generations", [])]
    for parent in parents:
        for n in list_names(spark, parent):
            mm = re.search(r"g(\d{6})$", n)
            if mm:
                nums.append(int(mm.group(1)))
    counter = itertools.count(1 + max(nums))
    return lambda: "g%06d" % next(counter)


def write_tombstones(
    spark: SparkSession,
    path: str,
    manifest: dict,
    census: MutationCensus,
    id_col: str,
    id_type,
    alloc,
) -> "tuple[list[str], object]":
    """The tombstone side of a mutation, as at most ONE written set:
    the sets holding freed ids (the census carries their totals) are
    rewritten without them, together with the newly tombstoned ids
    that the same mutation does not free; sets holding no freed id
    keep their names. Returns the committed set list and the written
    relation's schema (``None`` when nothing was written)."""
    from pyspark.sql.types import StructField, StructType

    freed = set(census.freed)
    new_ids = [i for i in census.tombstoned if i not in freed]
    sets = list(manifest.get("tombstones", []))
    touched = [
        t for t in sets if any(i in freed for i in census.tombs[t][1])
    ]
    kept = [t for t in sets if t not in touched]
    n = len(new_ids) + sum(
        census.tombs[t][0]
        - sum(1 for i in census.tombs[t][1] if i in freed)
        for t in touched
    )
    if n == 0:
        return kept, None
    rel = small_relation(
        spark, [(i,) for i in new_ids],
        StructType([StructField(id_col, id_type)]),
    )
    if touched:
        rel = (
            pinned_read(
                spark, manifest, "tombstones",
                *[f"{path}/tombstones/{t}" for t in touched],
            )
            .filter(keep_ids_filter(id_col, sorted(freed)))
            .unionByName(rel)
        )
    name = alloc()
    shard_for_write(rel, n).write.mode("overwrite").parquet(
        f"{path}/tombstones/{name}"
    )
    return kept + [name], rel.schema


def pinned_read(spark: SparkSession, m: dict, rel: str, *paths: str):
    """Parquet read with the manifest-recorded schema for ``rel``
    when present — planning then costs ZERO Spark jobs, where schema
    inference over a multi-file relation runs a distributed
    footer-read job per ``spark.read.parquet`` call (measured: one
    job per unpinned read site; at 100 TB the footer sweep is real
    work, repeated on every probe/mutation). Falls back to inference
    for manifests committed before schemas were recorded — mutations
    backfill the entry, so old indexes heal on their next write."""
    from pyspark.sql.types import StructType

    s = m.get("schemas", {}).get(rel)
    reader = spark.read
    if s:
        reader = reader.schema(StructType.fromJson(json.loads(s)))
    return reader.parquet(*paths)


def keep_ids_filter(id_col: str, drop_ids: "list"):
    """Filter column reproducing a LEFT ANTI join against
    ``drop_ids`` exactly: null ids never match (kept), non-null ids
    survive iff outside the set."""
    from pyspark.sql import functions as F

    if not drop_ids:
        return F.lit(True)
    return F.col(id_col).isNull() | ~F.col(id_col).isin(drop_ids)


def filter_probe_positions(
    df, id_col: str, cap: int = 65536
) -> "list[tuple[int, int]] | None":
    """The blocked ids' hash-bit position pairs for per-id filter
    probing, or ``None`` when the set exceeds ``cap`` (a takedown
    wave of millions of ids touches every generation anyway — the
    caller falls back to the bitmap-intersection test, which needs
    no collect). Bounded: at most ``cap`` (int, int) rows reach the
    driver."""
    from pyspark.sql import functions as F

    p0, p1 = filter_pos_cols(id_col)
    rows = (
        df.select(p0.alias("p0"), p1.alias("p1"))
        .limit(cap + 1)
        .collect()
    )
    if len(rows) > cap:
        return None
    return [(int(r["p0"]), int(r["p1"])) for r in rows]


def trim_batches(spark: SparkSession, path: str, keep: int) -> int:
    """Truncate the newest manifest's ``batches`` ledger to its
    newest ``keep`` ids with one manifest-only commit (everything
    else carried forward); no-op without a commit when already
    within bound. Shared by the merge tables and the IVF index —
    see :func:`sqltask_spark.operators.merge.trim_batch_ledger` for
    the correctness contract (``keep`` must exceed the source's
    redelivery horizon)."""
    if keep < 1:
        raise ValueError(f"keep must be >= 1, got {keep}")
    m = read_manifest(spark, path)
    if m is None:
        raise ValueError(f"no committed state at {path}")
    batches = m.get("batches", [])
    if len(batches) <= keep:
        return 0
    commit_manifest(
        spark,
        path,
        {
            **{k: v for k, v in m.items() if k != "_seq"},
            "batches": batches[-keep:],
        },
        m["_seq"],
    )
    return len(batches) - keep


# Generation-pruning gate for the DELETE paths (r12): pruning the
# stored-id semi-join scan by per-generation stats costs two tiny
# batch-sized jobs (count+bounds, probe positions) before any file is
# read — pure overhead on a freshly built index with a handful of
# generations, a corpus-scan saved on a long-ingesting index with
# many. Scale-adaptive by generation COUNT, not by a local[] tuning.
GEN_PRUNE_MIN = 5


# Tombstone-set writes stay ONE skinny file (cheap probe-side read)
# up to this many ids; past it — a takedown wave of tens of millions
# — the write shards so it never funnels through a single task.
TOMBSTONE_SHARD_ROWS = 4_000_000


def shard_for_write(df, n_rows: int):
    """``df`` coalesced to one output file for ordinary tombstone
    counts, repartitioned into ``ceil(n/TOMBSTONE_SHARD_ROWS)``
    shards above the threshold. Readers are indifferent (a tombstone
    directory is read whole); only the write-path parallelism
    changes."""
    k = max(1, -(-n_rows // TOMBSTONE_SHARD_ROWS))
    return df.coalesce(1) if k == 1 else df.repartition(k)


def _bit(words: list, pos: int) -> int:
    # (w >> b) & 1 is two's-complement-correct for Python ints
    return (words[pos >> 6] >> (pos & 63)) & 1


def generation_prunable(
    stats: dict | None,
    blocked_stats: dict | None,
    probe_positions: "list[tuple[int, int]] | None",
) -> bool:
    """True iff the generation PROVABLY holds none of the blocked
    ids — the only case a targeted rewrite may skip the physical
    census for it. Two independent proofs, either suffices:

    - [min,max] range disjointness (perfect for monotonic ids);
    - the id filter: with positions collected, a generation is a
      candidate only if SOME blocked id has ALL its k bits set;
      above the collect cap, the weaker-but-collect-free bitmap
      intersection (no shared bit → no shared id).

    Missing stats/filter (pre-filter manifests, non-int/str ids)
    are never provable → False, the conservative arm."""
    if bounds_disjoint(stats, blocked_stats):
        return True
    f = (stats or {}).get("filter")
    if (
        not f
        or f.get("k") != ID_FILTER_K
        or f.get("bits") != ID_FILTER_WORDS * 64
    ):
        return False
    words = f["words"]
    if probe_positions is not None:
        return not any(
            _bit(words, p0) and _bit(words, p1)
            for p0, p1 in probe_positions
        )
    bf = (blocked_stats or {}).get("filter")
    if not bf or bf.get("bits") != f.get("bits"):
        return False
    return not any(a & b for a, b in zip(words, bf["words"]))


def bounds_disjoint(stats: dict | None, bounds: dict | None) -> bool:
    """True iff the two [min,max] id ranges PROVABLY do not overlap —
    the only case generation pruning may skip a physical check.
    Missing stats or mismatched types (an index whose id column
    changed representation) are never provable → False."""
    if not stats or not bounds:
        return False
    a_lo, a_hi = stats["min_id"], stats["max_id"]
    b_lo, b_hi = bounds["min_id"], bounds["max_id"]
    if {type(a_lo), type(b_lo)} not in ({int}, {str}):
        return False
    return a_hi < b_lo or a_lo > b_hi


def sweep_orphans(
    spark: SparkSession, parent: str, committed: set[str], prefix: str
) -> list[str]:
    """Delete child dirs of ``parent`` matching ``prefix`` that no
    committed manifest names — the debris of a crashed append. Returns
    the swept names. Safe under the single-writer contract (only the
    next WRITER sweeps, never a reader)."""
    swept = []
    for name in list_names(spark, parent):
        if name.startswith(prefix) and name not in committed:
            delete_path(spark, f"{parent}/{name}")
            swept.append(name)
    return swept


def seq_at_timestamp(
    spark: SparkSession, path: str, ts_millis: int
) -> int:
    """TIMESTAMP-AS-OF resolution: the newest committed sequence whose
    ``_committed_at`` stamp is <= ``ts_millis`` (epoch millis).

    Sequence order is the authoritative history; the wall-clock stamp
    is advisory (single-writer contract, but clocks can step), so the
    scan walks seqs NEWEST-FIRST and returns the first one stamped at
    or before the cutoff — under a backwards clock step this picks the
    latest version a reader at that wall time could have seen, never
    an older one resurrected by the skew. Manifests from before the
    stamp existed (no ``_committed_at``) cannot prove their time and
    are skipped; if NO manifest qualifies the error is loud, exactly
    like a vacuumed ``as_of`` version."""
    manifests = read_all_manifests(spark, path)
    if not manifests:
        raise ValueError(f"no committed table at {path}")
    for m in sorted(manifests, key=lambda m: -int(m["_seq"])):
        at = m.get("_committed_at")
        if at is not None and int(at) <= int(ts_millis):
            return int(m["_seq"])
    raise ValueError(
        f"no version of {path} committed at or before {ts_millis}"
        " (older manifests may be vacuumed or predate commit stamps)"
    )
