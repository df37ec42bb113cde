"""Hot-bucket control for LSH-style candidate generation.

Every banded/bucketed near-dup or ANN operator in this package turns
an all-pairs problem into per-bucket self-joins or probe joins. That
shape is O(Σ bucket²), so one pathological bucket — boilerplate
documents collapsing to the same signature, near-empty docs hashing
to ~0 — re-introduces the quadratic blowup as a single skewed key.
The standard mitigation is to drop buckets above a size cap: a bucket
with thousands of colliding members signals boilerplate that exact
dedup already handles better, and its members almost always co-occur
in other (healthier) buckets/tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def drop_hot_buckets(
    df: DataFrame,
    keys: list[str],
    max_bucket_size: int | None,
    min_size: int = 1,
) -> DataFrame:
    """Drop all rows belonging to buckets larger than the cap (or
    smaller than ``min_size``).

    ``df`` is an exploded (member, bucket-key...) relation; buckets
    are identified by ``keys``. Implemented as a single-pass count
    window over the bucket keys: ``df`` — typically the output of an
    expensive signature stage (a Pandas-UDF over the whole corpus) —
    is scanned exactly ONCE. The earlier aggregate + broadcast-anti-
    join formulation avoided this shuffle but recomputed the upstream
    plan twice, which at corpus scale means two full signature passes;
    one shuffle of the skinny (member, keys) relation is the cheaper
    side of that trade, and the bucket keys are the very keys the
    downstream candidate join shuffles on anyway, so the exchange is
    reusable. Callers should keep ``df`` skinny (ids + bucket keys,
    no vector/text payload) so the shuffled bytes stay minimal.

    ``max_bucket_size=None`` disables the cap (exact mode).
    ``min_size=2`` also drops singleton buckets in the same window —
    the candidate-pair callers, whose singletons pair with nothing
    and are most of an LSH band relation, keep only ``2 ≤ n ≤ cap``
    before their ``collect_list``.

    To see what was dropped, run
    ``hot_bucket_report(df, keys, cap)`` — kept separate so the main
    path never pays an extra action.
    """
    if max_bucket_size is None and min_size <= 1:
        return df
    from pyspark.sql import Window

    n = F.col("__bucket_n")
    keep = n >= min_size
    if max_bucket_size is not None:
        keep = keep & (n <= max_bucket_size)
    w = Window.partitionBy(*keys)
    return (
        df.withColumn("__bucket_n", F.count(F.lit(1)).over(w))
        .filter(keep)
        .drop("__bucket_n")
    )


def hot_bucket_report(
    df: DataFrame,
    keys: list[str],
    max_bucket_size: int,
) -> DataFrame:
    """(bucket keys..., bucket_n) for buckets the cap would drop.

    Diagnostic companion to :func:`drop_hot_buckets`: callers log
    ``report.count()`` / inspect the largest offenders when tuning the
    cap. Runs as its own action so the candidate pipeline itself stays
    single-pass.
    """
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("bucket_n"))
        .filter(F.col("bucket_n") > max_bucket_size)
        .orderBy(F.desc("bucket_n"))
    )
