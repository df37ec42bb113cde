"""Distributed connected components — dedup-pair clustering.

Near-dup detection (minhash / simhash / n-gram Jaccard in
:mod:`sqltask_spark.operators.dedup`) emits PAIRS; a training-data
pipeline needs CLUSTERS — every document labeled with a canonical
representative so one survivor per group can be kept. That is
connected components over the pair graph.

Most pair graphs are small: a 20k-document shard yields ~10⁴ edges.
:func:`connected_components` therefore first makes ONE bounded collect
of the cleaned edge list (at most ``index_fs.KEYS_CAP`` rows, the
engine's driver-collect bound). If the edges fit, a union-find on the
driver solves the graph — union by smaller root, so every root is its
component's minimum — and the labels return as one Arrow-shipped
relation (``index_fs.small_relation``): one job instead of a few per
round. Graphs past the bound take one of two distributed algorithms,
same join+min-aggregate primitive:

- ``label`` — min-label propagation. Each node starts labeled with
  its own id; every round each node takes the min of its label and
  its neighbors' labels. Rounds needed = graph diameter, which for
  dedup graphs is small (near-dup clusters are dense, quasi-clique
  blobs — diameter 2-4 in practice). One join + one min-agg per
  round: the cheapest option when the diameter is known-small.
- ``star`` — alternating large-star/small-star (Kiveris et al.,
  "Connected Components in MapReduce and Beyond", SoCC'14).
  Large-star hangs every neighbor bigger than a node off the
  neighborhood minimum; small-star does the same for the smaller
  neighbors. Each phase can halve tree heights, so convergence is
  O(log² n) phases REGARDLESS of diameter — the safe choice when an
  adversarial input (a 10⁴-link chain of pairwise near-dups) could
  exceed any fixed diameter bound.

Scale design (distributed arm):
- Every round is shuffle-join + map-side-combined min-aggregate —
  no driver-side graph state, no per-node collected neighbor lists
  (the groupBy-min formulation sidesteps hub-node skew that a
  collect_list neighborhood would hit).
- Convergence is detected from an aggregate the round already pays
  for: label sums only ever decrease (label mode), and the star edge
  set's (count, hash-sum) fingerprint is stationary exactly at the
  star fixpoint.
- Lineage is truncated every round — without it the plan doubles per
  iteration and Catalyst analysis time, not the data, becomes the
  bottleneck (the classic iterative-algorithm failure mode on
  Spark). Two modes:
  * default ``localCheckpoint(eager=True)``: blocks live on
    executors; fast, but an executor loss mid-iteration kills the
    job (no recompute path once lineage is cut);
  * ``checkpoint_dir=...``: reliable ``checkpoint()`` to a
    fault-tolerant filesystem (HDFS/S3) — the mode a 100 TB run on a
    preemptible fleet should use; surviving executor loss costs one
    round-trip write per iteration.

The reference engine has no graph operator (it delegates everything
to the source DB); this is part of the training-data-pipeline surface
the rebuild adds on top of reference parity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sqltask_spark.operators import index_fs

_COMPONENT_SCHEMA = T.StructType([
    T.StructField("node", T.LongType()),
    T.StructField("component", T.LongType()),
])


def _truncate_lineage(df: DataFrame, reliable: bool) -> DataFrame:
    if reliable:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
    algorithm: str = "label",
    checkpoint_dir: str | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Label every node of an undirected edge list with its component.

    Parameters
    ----------
    edges : DataFrame with two node-id columns (long-castable).
        Undirected interpretation; self-loops and duplicate edges are
        fine (dropped / deduped internally).
    src, dst : the two column names.
    max_iter : hard round cap. Raises if the fixpoint is not reached —
        silent partial clustering would corrupt a dedup pass. For
        ``label`` this bounds the graph diameter; for ``star`` it
        bounds alternating phases (O(log² n) suffices).
    algorithm : the distributed algorithm for edge lists past
        ``index_fs.KEYS_CAP`` rows (smaller ones are solved by a
        driver union-find): ``"label"`` (min-label propagation, 1
        join/round, best for low-diameter dedup blobs) or ``"star"``
        (large-star/small-star, diameter-independent).
    checkpoint_dir : when set, per-round lineage truncation uses
        reliable ``checkpoint()`` into this directory (fault-tolerant
        at the cost of a write per round) instead of
        ``localCheckpoint`` (executor-memory blocks, lost on executor
        failure). Sets the session's checkpoint dir if none is set.
    stats : optional dict; on return ``stats["arm"]`` is
        ``"driver"`` or the distributed algorithm that ran, and
        ``stats["rounds"]`` how many propagation rounds / star phases
        it took (0 on the driver arm).

    Returns
    -------
    DataFrame(node: long, component: long) — one row per node that
    appears in any edge; ``component`` is the smallest node id in the
    node's connected component. Singleton nodes (no edges) are not
    emitted; callers keep them as their own cluster.
    """
    if algorithm not in ("label", "star"):
        raise ValueError(f"unknown algorithm {algorithm!r}")
    reliable = checkpoint_dir is not None
    if reliable:
        edges.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)

    e = (
        edges.select(
            F.col(src).cast("long").alias("u"),
            F.col(dst).cast("long").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .filter(F.col("u").isNotNull() & F.col("v").isNotNull())
    )
    cap = index_fs.KEYS_CAP  # 0 forces the distributed arm
    # Arrow collect: no per-row Python objects, and one limit stage
    # where collect()'s incremental scan runs a job per scale-up step
    # over a many-partition input
    got = e.limit(cap + 1).toArrow() if cap > 0 else None
    if got is not None and got.num_rows <= cap:
        if stats is not None:
            stats.update(arm="driver", rounds=0)
        pairs = zip(got.column("u").to_pylist(), got.column("v").to_pylist())
        return index_fs.small_relation(
            edges.sparkSession, _union_find(pairs), _COMPONENT_SCHEMA
        )
    if stats is not None:
        stats["arm"] = algorithm
    if algorithm == "star":
        return _connected_components_star(
            e, max_iter, reliable, stats
        )
    # symmetrize once so each round is a single directed join
    sym = e.union(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).distinct()
    sym = _truncate_lineage(sym, reliable)

    labels = sym.select(F.col("u").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    prev_sum = labels.agg(F.sum("label").alias("s")).collect()[0]["s"]
    if prev_sum is None:  # empty edge set
        if stats is not None:
            stats["rounds"] = 0
        return labels.select("node", F.col("label").alias("component"))

    for rounds in range(1, max_iter + 1):
        msgs = sym.join(
            labels.withColumnRenamed("node", "v"), "v"
        ).select(F.col("u").alias("node"), "label")
        labels = _truncate_lineage(
            labels.union(msgs)
            .groupBy("node")
            .agg(F.min("label").alias("label")),
            reliable,
        )
        new_sum = labels.agg(F.sum("label").alias("s")).collect()[0]["s"]
        if new_sum == prev_sum:
            if stats is not None:
                stats["rounds"] = rounds
            return labels.select("node", F.col("label").alias("component"))
        prev_sum = new_sum
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds "
        "(graph diameter exceeds max_iter; use algorithm='star')"
    )


def _union_find(edges) -> list[tuple[int, int]]:
    """(node, component) of the ``(u, v)`` edges: union by smaller
    root with path halving, so each root is its component's minimum
    node — the label both distributed algorithms converge to."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return [(x, find(x)) for x in parent]


def _connected_components_star(
    e: DataFrame,
    max_iter: int,
    reliable: bool,
    stats: dict | None,
) -> DataFrame:
    """Alternating large-star/small-star (Kiveris et al., SoCC'14).

    Large-star (per node u over its full neighborhood N(u)):
    connect every neighbor v > u to m = min(N(u) ∪ {u}).
    Small-star (per node u over smaller neighbors N⁻(u)):
    connect every v ∈ N⁻(u) and u itself to m = min(N⁻(u)).
    Every emitted edge stays within u's component, and the fixpoint is
    a star per component centered at its minimum id.

    DataFrame form: neighborhood minima come from a groupBy-min (never
    a collected neighbor list — hub nodes would skew), each phase is
    join + agg + union, and the fixpoint test is a (count, hash-sum)
    fingerprint of the canonicalized edge set — an aggregate, not a
    subtract-join.
    """
    # canonical undirected form (small, large), deduped
    edges_c = e.select(
        F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
    ).distinct()
    edges_c = _truncate_lineage(edges_c, reliable)

    def fingerprint(df: DataFrame):
        # order-independent, overflow-free: xor of per-edge hashes
        # (edges are distinct, so xor-cancellation can't occur)
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ).collect()[0]
        return row["n"], row["h"]

    fp = fingerprint(edges_c)
    if fp[0] == 0:
        if stats is not None:
            stats["rounds"] = 0
        return edges_c.select(
            F.col("u").alias("node"), F.col("v").alias("component")
        )

    for rounds in range(1, max_iter + 1):
        # ---- large-star: full neighborhoods → symmetrize
        sym = edges_c.union(
            edges_c.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
        m = F.least("u", "mn").alias("m")
        big = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("a"), m.alias("b"))
        )
        edges_c = (
            big.filter(F.col("a") != F.col("b"))
            .select(
                F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
            )
            .distinct()
        )
        # ---- small-star: orient max→min, hang everything off the min
        # edges_c is already (u=min, v=max): neighbors-smaller-than-x
        # of node x are exactly the u's of edges with v = x.
        smins = edges_c.groupBy("v").agg(F.min("u").alias("mn"))
        hang_nbrs = (
            edges_c.join(smins, "v")
            .select(F.col("u").alias("a"), F.col("mn").alias("b"))
        )
        hang_self = smins.select(
            F.col("v").alias("a"), F.col("mn").alias("b")
        )
        edges_c = _truncate_lineage(
            hang_nbrs.union(hang_self)
            .filter(F.col("a") != F.col("b"))
            .select(
                F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
            )
            .distinct(),
            reliable,
        )
        new_fp = fingerprint(edges_c)
        if new_fp == fp:
            if stats is not None:
                stats["rounds"] = rounds
            # fixpoint is a star (center=min, u) per edge: u is the
            # component id for every v, and for itself
            centers = edges_c.select(F.col("u").alias("node")).distinct()
            return (
                edges_c.select(
                    F.col("v").alias("node"), F.col("u").alias("component")
                )
                .union(
                    centers.select(
                        "node", F.col("node").alias("component")
                    )
                )
                # a node can transiently appear in two stars only
                # before the fixpoint; at fixpoint this min is a no-op
                .groupBy("node")
                .agg(F.min("component").alias("component"))
            )
        fp = new_fp
    raise RuntimeError(
        f"connected_components(star) did not converge in {max_iter} phases"
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 10,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Undirected PageRank in exact integer fixed-point arithmetic.

    Damping is fixed at 0.85 with micro-unit ranks: every node starts
    at 1,000,000 and each iteration computes

        rank'(v) = 150000 + Σ_{u ∈ N(v)} (rank(u) · 85) div (100 · deg(u))

    entirely in BIGINT (floor division) — so the result is
    bit-identical under any partitioning AND reproducible by any
    engine with integer division, which is what lets the catalog
    entry carry a DuckDB oracle (floating-point PageRank never hashes
    across engines). Overflow-safe: Σ ranks stays ≈ n·10⁶, a single
    rank is ≤ that, ×85 ≤ 8.5·10¹⁵ ≪ 2⁶³.

    Per iteration: one equi-join (edges ⋈ ranks) + one map-side-
    combined sum — the same shuffle shape as a label-propagation
    round; lineage is truncated per round (``checkpoint_dir`` selects
    the fault-tolerant mode, exactly as
    :func:`connected_components`). Nodes are those appearing in at
    least one edge (symmetric graph ⇒ no dangling mass).

    Returns (node: long, rank_micro: long, rank: double).
    """
    reliable = checkpoint_dir is not None
    if reliable:
        edges.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)
    e = (
        edges.select(
            F.col(src).cast("long").alias("u"),
            F.col(dst).cast("long").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .filter(F.col("u").isNotNull() & F.col("v").isNotNull())
        .select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        )
        .distinct()
    )
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    # (u, v, deg(u)) — the per-iteration join probe side, computed once
    sd = _truncate_lineage(sym.join(deg, "u"), reliable)

    ranks = deg.select(
        F.col("u").alias("node"),
        F.lit(1_000_000).cast("long").alias("r"),
    )
    for _ in range(n_iter):
        contribs = sd.join(
            ranks.withColumnRenamed("node", "u"), "u"
        ).select(
            F.col("v").alias("node"),
            F.expr("(r * 85) div (100 * deg)").alias("c"),
        )
        ranks = _truncate_lineage(
            contribs.groupBy("node").agg(
                (F.lit(150_000).cast("long") + F.sum("c")).alias("r")
            ),
            reliable,
        )
    return ranks.select(
        "node",
        F.col("r").alias("rank_micro"),
        F.round(F.col("r") / F.lit(1_000_000.0), 6).alias("rank"),
    )


def cluster_documents(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    algorithm: str = "label",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Dedup-pair list → per-document cluster assignment.

    Returns (doc_id, cluster_id, is_canonical): ``cluster_id`` is the
    smallest doc id in the connected component, ``is_canonical`` marks
    the one survivor a keep-one-per-cluster pass retains. Only
    documents that appear in at least one pair are emitted — all other
    documents are trivially their own cluster and need no row at
    100 TB scale (emitting them would turn a pair-sized result into a
    corpus-sized one). ``algorithm`` / ``checkpoint_dir`` pass through
    to :func:`connected_components`.
    """
    cc = connected_components(
        pairs, src=id_a, dst=id_b,
        algorithm=algorithm, checkpoint_dir=checkpoint_dir,
    )
    return cc.select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        (F.col("node") == F.col("component")).alias("is_canonical"),
    )
