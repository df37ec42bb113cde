"""The corpus half of the ``batch`` workload: text quality and
language, exact dedup, MinHash near-dup pairs and connected-component
clusters of one document shard, whose DQ shadow flags every
duplicate. The only place the benchmark drives the shuffle-heavy
north-star operators (``operators.text``, ``operators.dedup``,
``operators.graph``)."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F
from pyspark.sql import types as T

from perfbench import gen
from perfbench.harness import Run

from sqltask_spark.dq import Category, Priority, Source, dq_issue, with_dq
from sqltask_spark.operators import text as tx
from sqltask_spark.operators.dedup import exact_dedup, minhash_dedup_pairs
from sqltask_spark.operators.graph import connected_components
from sqltask_spark.table import column

#: verified-Jaccard floor of a near-duplicate pair; planted families
#: sit at ≥ 0.85, unrelated documents near 0
PAIR_THRESHOLD = 0.6

CLEAN_SCHEMA = T.StructType([
    column("ship_year", T.IntegerType(), primary_key=True),
    column("doc_id", T.LongType(), primary_key=True),
    column("source", T.StringType()),
    column("lang", T.StringType()),
    column("quality", T.DoubleType()),
    column("kept_id", T.LongType()),
    column("cluster_id", T.LongType()),
])


def clean_output(run: Run, docs) -> tuple:
    """Score, dedup and cluster one shard. Returns the output with its
    DQ issue column, the persisted intermediates (release after the
    write) and the figures the checks report."""
    with run.span("text.score", "text"):
        scored = docs.select(
            "doc_id", "source", tx.lang_id(F.col("text")).alias("lang"),
            tx.quality_score(F.col("text")).alias("quality"),
            tx.fingerprint_md5(F.col("text")).alias("fingerprint"),
        ).persist()
        scored.count()
    with run.span("dedup.exact", "dedup"):
        exact = exact_dedup(docs, "text", "doc_id").persist()
        exact.count()
    with run.span("dedup.pairs", "dedup"):
        pairs = minhash_dedup_pairs(docs, "doc_id", "text",
                                    threshold=PAIR_THRESHOLD)
    with run.span("graph.cluster", "graph"):
        stats: dict = {}
        clusters = connected_components(
            pairs, "id_a", "id_b", stats=stats
        ).select(F.col("node").alias("doc_id"),
                 F.col("component").alias("cluster_id")).persist()
        clusters.count()
    figures = {"rounds": stats.get("rounds", 0), "pairs": pairs.count()}
    out = (
        scored.join(exact.select("fingerprint", "kept_id"), "fingerprint",
                    "left")
        .join(clusters, "doc_id", "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", "doc_id"))
    )
    issues = [
        dq_issue(F.col("kept_id") != F.col("doc_id"), "doc_id",
                 Category.DUPLICATE, Priority.HIGH, Source.TRANSFORM,
                 F.concat(F.lit("exact duplicate of "), F.col("kept_id"))),
        dq_issue((F.col("kept_id") == F.col("doc_id"))
                 & (F.col("cluster_id") != F.col("doc_id")), "doc_id",
                 Category.DUPLICATE, Priority.MEDIUM, Source.TRANSFORM,
                 F.concat(F.lit("near duplicate in cluster "),
                          F.col("cluster_id"))),
    ]
    return with_dq(out, issues), [scored, exact, pairs, clusters], figures


def check_shard(run: Run, shard: gen.CorpusShard,
                out_dir: str) -> tuple[int, int]:
    """Exact copies collapse onto their smallest id and every planted
    near-dup family lands in one cluster. Returns (planted pairs
    found, planted pairs) for the recall figure."""
    rows = (
        run.spark.read.parquet(f"{out_dir}/clean_documents")
        .filter(F.col("ship_year") == shard.shard_id)
        .select("doc_id", "kept_id", "cluster_id").collect()
    )
    by_id = {r["doc_id"]: r for r in rows}
    run.check(len(by_id) == len(rows) == shard.n_docs,
              f"shard {shard.shard_id}: {len(rows)} rows, {len(by_id)} ids, "
              f"want {shard.n_docs}")
    for g in shard.exact_groups:
        run.check(all(by_id[i]["kept_id"] == min(g) for i in g),
                  f"shard {shard.shard_id}: exact group {g} not collapsed")
    found = 0
    for fam in shard.families:
        sizes = Counter(by_id[i]["cluster_id"] for i in fam)
        run.check(len(sizes) == 1, f"shard {shard.shard_id}: family {fam} "
                                   f"split over clusters {sorted(sizes)}")
        found += sum(k * (k - 1) // 2 for k in sizes.values())
    dq = (
        run.spark.read.parquet(f"{out_dir}/clean_documents_dq")
        .filter(F.col("ship_year") == shard.shard_id).count()
    )
    want_dq = sum(len(g) - 1 for g in shard.exact_groups) + sum(
        len(f) - 1 for f in shard.families)
    run.check(dq >= want_dq, f"shard {shard.shard_id}: {dq} DUPLICATE "
                             f"flags, planted {want_dq}")
    return found, shard.planted_pairs
