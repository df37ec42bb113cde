"""Deduplication operators: exact, MinHash-LSH, SimHash, n-gram Jaccard.

North-star extensions (no reference counterpart). Scale notes:

- **exact_dedup**: hash-groupBy on a 128-bit fingerprint — one shuffle
  keyed by the digest, which is uniformly distributed, so no skew.
  At 100 TB this is the cheapest possible dedup (shuffle carries only
  digest + id + tiny payload after the map-side projection).
- **MinHash-LSH**: per-doc signature computation is shuffle-free JVM
  expression work; candidate generation explodes ``bands`` rows per
  doc (a constant factor) and groups by (band, band-hash) — the
  classic O(n·bands) near-dup join that avoids the O(n²) cross
  product entirely. Bucket skew (e.g. boilerplate docs) is bounded by
  ``max_bucket_size``: buckets above the cap are dropped (standard
  practice — a bucket with thousands of colliding docs signals
  boilerplate that exact-dedup already handles better).
- **SimHash**: 64-bit signature via per-token hashes; near-dup =
  Hamming distance ≤ k, found by banding the 64 bits into chunks
  (pigeonhole: distance ≤ k ⇒ some chunk of ⌈64/(k+1)⌉ is equal).
- **n-gram Jaccard**: exact verification step for LSH candidates —
  only ever computed on candidate pairs, never all pairs.

Hashes: ``xxhash64`` (Spark-native, seedable, fast). The MinHash
permutation family is ``xxhash64(seed, i, shingle_hash)`` — one
independent 64-bit hash per permutation index, stable across
runs/partitionings.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sqltask_spark.operators.text import normalize_text, tokenize

MERSENNE_P = (1 << 61) - 1


def _shingles_of(toks: Column, norm: Column, n: int) -> Column:
    """Word n-gram shingles of the token array ``toks`` of the
    normalized text ``norm`` (see :func:`word_shingles`)."""
    k = F.size(toks)
    m = F.greatest(k - (n - 1), F.lit(1))  # gram count when k >= n
    grams = F.slice(toks, 1, m)
    for j in range(1, n):
        grams = F.zip_with(
            grams,
            F.slice(toks, 1 + j, m),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    return F.when(k >= n, grams).otherwise(F.array(norm))


def word_shingles(col: Column, n: int = 3) -> Column:
    """Word n-gram shingles of normalized text → array<string>.

    Short documents (< n tokens) fall back to one whole-text shingle
    so every doc has a non-empty shingle set.

    Built as a ``zip_with`` fold over ``n`` shifted slices of the
    token array rather than a ``transform`` over gram indices, whose
    lambda would re-run the tokenizer once PER SHINGLE. The Column
    form still inlines the tokenizer into every slice and slice bound
    and into the short-text fallback — ``2n + 2`` copies in the plan,
    8 for trigrams — and the ``zip_with`` arguments are evaluated by
    an interpreted higher-order function, outside codegen's
    subexpression elimination, so those copies are not shared.
    DataFrame callers use :func:`shingle_sets`, which tokenizes each
    document once; this form stays for Column-only call sites.
    """
    return _shingles_of(tokenize(col), normalize_text(col), n)


def shingle_sets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    min_partitions: int | None = None,
    carry: tuple[Column, ...] = (),
) -> DataFrame:
    """(id, *carry, shingles: array<string>) — :func:`word_shingles`
    of every document with the text normalized and split ONCE.

    The normalized text and its token array are projected as columns
    first and the shingles built from those references; the optimizer
    keeps the projections apart because collapsing them would
    duplicate the non-trivial producers, so the plan holds a single
    ``regexp_replace``. The input is widened via
    :func:`~sqltask_spark.data.ensure_min_partitions` (shingling is
    CPU-bound per-row work); ``min_partitions`` sizes that guard
    for callers that know their batch is small. ``carry`` are extra
    (aliased) columns of ``df`` projected alongside the id.
    """
    from sqltask_spark.data import ensure_min_partitions

    norm = ensure_min_partitions(df, min_partitions).select(
        F.col(id_col).alias("id"),
        *carry,
        normalize_text(F.col(text_col)).alias("__norm"),
    )
    kept = norm.columns[:-1]
    return norm.select(
        *kept, "__norm", F.split("__norm", " ").alias("__toks")
    ).select(
        *kept,
        _shingles_of(F.col("__toks"), F.col("__norm"), shingle_n).alias(
            "shingles"
        ),
    )


def shingled_docs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    min_partitions: int | None = None,
) -> DataFrame:
    """(id, h: array<bigint>) — distinct shingle hashes per doc.

    The shared upstream of MinHash signatures and Jaccard
    verification: computing it once (and persisting when both
    consumers run in one job) halves the per-doc text work, which
    dominates the dedup pipeline. Built on :func:`shingle_sets`, so
    each document is tokenized once. ``min_partitions`` lets a caller
    who KNOWS the batch is small (the index small-batch fast paths)
    size the partition guard to the batch instead of the session —
    repartitioning a 1-row CDC window into 32 partitions is an
    exchange plus 32-task stages of pure overhead.
    """
    return shingle_sets(
        df, id_col, text_col, shingle_n, min_partitions
    ).select(
        "id",
        F.array_distinct(
            F.transform(
                "shingles",
                lambda s: F.abs(F.xxhash64(s)) % F.lit(MERSENNE_P),
            )
        ).alias("h"),
    )


def _signatures_wide(
    shingled: DataFrame, num_perm: int, seed: int
) -> DataFrame:
    """MinHash signatures from (id, h) shingle hashes → (id, m0..mN).

    Scalable shape: explode the shingle-hash set once, then compute
    all permutations as ``num_perm`` ``min()`` aggregates over the
    exploded rows — shingle hashing happens exactly once per doc
    (an expression-tree formulation gets re-inlined per permutation by
    projection collapse and blows up codegen), partial aggregation
    combines map-side, and the single shuffle carries only
    num_docs × num_perm longs.

    The permutation family is ``xxhash64(seed, i, h)`` — an
    independent 64-bit hash per permutation index, pure long
    arithmetic inside whole-stage codegen. (A first cut used
    ``(a·h+b) mod p`` in decimal(38,0) to dodge 64-bit overflow;
    BigDecimal mod arithmetic plus the giant generated aggregate made
    it ~10× slower for identical collision behavior.)
    """
    exploded = shingled.select("id", F.explode("h").alias("h"))
    aggs = [
        F.min(F.xxhash64(F.lit(seed), F.lit(i), F.col("h"))).alias(f"m{i}")
        for i in range(num_perm)
    ]
    return exploded.groupBy("id").agg(*aggs)


def _signatures_from_shingles(
    shingled: DataFrame, num_perm: int, seed: int
) -> DataFrame:
    """MinHash signatures from (id, h) → (id, sig: array<bigint>)."""
    wide = _signatures_wide(shingled, num_perm, seed)
    return wide.select(
        "id", F.array(*[F.col(f"m{i}") for i in range(num_perm)]).alias("sig")
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 64,
    seed: int = 42,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash signatures → (id, sig: array<bigint>[num_perm])."""
    return _signatures_from_shingles(
        shingled_docs(df, id_col, text_col, shingle_n), num_perm, seed
    )


def _banded_signatures(
    wide: DataFrame, bands: int, rows_per_band: int
) -> DataFrame:
    """(id, band, band_hash) from wide signatures (id, m0..mN).

    Band hashes are multi-argument ``xxhash64`` directly over the
    band's signature columns — no array building, no string concat.
    The shared banding of the in-memory pair path and the persisted
    index (:mod:`sqltask_spark.operators.dedup_index`) — identical
    expressions guarantee probe/per-call bucket agreement.
    """
    band_hashes = [
        F.xxhash64(
            *[
                F.col(f"m{b * rows_per_band + j}")
                for j in range(rows_per_band)
            ]
        )
        for b in range(bands)
    ]
    return wide.select(
        "id",
        F.posexplode(F.array(*band_hashes)).alias("band", "band_hash"),
    )


def _lsh_pairs_from_signatures(
    wide: DataFrame, bands: int, rows_per_band: int, max_bucket_size: int
) -> DataFrame:
    """Candidate pairs from wide signatures (id, m0..mN)."""
    banded = _banded_signatures(wide, bands, rows_per_band)
    return _pairs_from_banded(banded, max_bucket_size)


def _pairs_from_banded(
    banded: DataFrame, max_bucket_size: int
) -> DataFrame:
    """(id, band, band_hash) → (id_a, id_b, n_shared_bands).

    Shared by the xxhash64 production path and the md5 oracled twin —
    bucket capping and pair explosion are hash-family independent.

    Hot AND singleton buckets are dropped BEFORE the ``collect_list``
    aggregation, in one count window
    (:func:`sqltask_spark.operators.bucketing.drop_hot_buckets` with
    ``min_size=2``, the same skinny pre-cap the SimHash path uses): a
    boilerplate band-collision bucket with millions of members must
    never be materialized as one giant array row (spill pressure,
    2 GB array-row limit) only to be discarded, and the singleton
    buckets — most band rows of a corpus — pair with nothing. The
    output is identical to post-agg filtering: the same buckets are
    dropped, just earlier.
    """
    from sqltask_spark.operators.bucketing import drop_hot_buckets

    kept = drop_hot_buckets(
        banded, ["band", "band_hash"], max_bucket_size, min_size=2
    )
    buckets = kept.groupBy("band", "band_hash").agg(
        F.collect_list("id").alias("ids")
    )
    pairs = buckets.select(
        F.explode(
            F.filter(
                F.flatten(
                    F.transform(
                        F.col("ids"),
                        lambda a: F.transform(
                            F.col("ids"), lambda b: F.struct(a.alias("a"), b.alias("b"))
                        ),
                    )
                ),
                lambda s: s["a"] < s["b"],
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy(
            F.col("pair.a").alias("id_a"), F.col("pair.b").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 64,
    bands: int = 16,
    seed: int = 42,
    shingle_n: int = 3,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash-LSH.

    Returns (id_a, id_b, n_shared_bands) with id_a < id_b. Similarity
    verification is the caller's job (``jaccard_pairs``) — LSH only
    prunes the pair space.
    """
    assert num_perm % bands == 0, "bands must divide num_perm"
    wide = _signatures_wide(
        shingled_docs(df, id_col, text_col, shingle_n), num_perm, seed
    )
    return _lsh_pairs_from_signatures(
        wide, bands, num_perm // bands, max_bucket_size
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 64,
    bands: int = 16,
    seed: int = 42,
    shingle_n: int = 3,
    max_bucket_size: int = 1000,
    threshold: float = 0.0,
    eager: bool = True,
) -> DataFrame:
    """LSH candidates + exact Jaccard verification in one pipeline.

    Single-pass composition: shingle hashes are computed once and
    persisted, feeding both the signature/banding path and the
    verification join — vs. three full text passes when composing
    ``minhash_lsh_pairs`` + ``jaccard_pairs`` naively. Verification
    Jaccard runs on the 61-bit shingle-hash sets (``array_intersect``
    on longs — cheaper than strings; collisions at p = 2^61−1 are
    negligible). Returns (id_a, id_b, n_shared_bands, jaccard).

    Cache lifecycle: with ``eager=True`` (default) the small pair
    result is materialized inside the call and the corpus-sized
    shingle cache is released before returning — no leaked blocks in
    long-lived sessions. ``eager=False`` keeps the pipeline fully
    lazy and instead skips the persist (shingling recomputes once per
    consuming action).
    """
    assert num_perm % bands == 0, "bands must divide num_perm"
    from sqltask_spark.data import materialize_and_release

    shingled = shingled_docs(df, id_col, text_col, shingle_n)
    if eager:
        shingled = shingled.persist()
    wide = _signatures_wide(shingled, num_perm, seed)
    cand = _lsh_pairs_from_signatures(
        wide, bands, num_perm // bands, max_bucket_size
    )
    a = shingled.select(F.col("id").alias("id_a"), F.col("h").alias("h_a"))
    b = shingled.select(F.col("id").alias("id_b"), F.col("h").alias("h_b"))
    inter = F.size(F.array_intersect("h_a", "h_b"))
    union = F.size(F.array_union("h_a", "h_b"))
    # a/b carry per-doc shingle arrays — corpus-scaled relations
    # whose in-memory size dwarfs the planner's compressed estimate;
    # pin shuffle joins so no scale tips them into a driver broadcast
    # (observed at 500k docs in ngram_jaccard_pairs before the same
    # fix there)
    out = (
        cand.join(a.hint("merge"), "id_a")
        .join(b.hint("merge"), "id_b")
        .withColumn("jaccard", inter.cast("double") / union)
        .drop("h_a", "h_b")
    )
    if threshold > 0:
        out = out.filter(F.col("jaccard") >= threshold)
    if eager:
        out = materialize_and_release(out, shingled)
    return out


def _md5_long_of(col: Column) -> Column:
    """Portable 60-bit hash: first 15 md5 nibbles as a BIGINT.

    Same construction as ``operators.retrieval.md5_long`` (kept as a
    local helper to avoid a cross-module import in the hot path);
    DuckDB mirrors it as ``('0x' || substring(md5(e),1,15))::BIGINT``.
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def md5_shingled_docs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, h: array<bigint>) with 60-bit **md5** shingle hashes.

    The engine-portable twin of :func:`shingled_docs` — md5 instead of
    xxhash64 so an external SQL engine (the DuckDB oracle) reproduces
    every hash bit-for-bit.
    """
    return shingle_sets(df, id_col, text_col, shingle_n).select(
        "id",
        F.array_distinct(F.transform("shingles", _md5_long_of)).alias("h"),
    )


def md5_minhash_wide(
    exploded: DataFrame, num_perm: int, seed: int
) -> DataFrame:
    """(id, h) exploded shingle hashes → one row per id with MinHash
    signature columns ``m0..m{num_perm-1}`` under the md5 permutation
    family (permutation i = md5 of ``"seed:i:shingle_hash"``).

    THE single definition of the signature construction: the dedup
    pair operators, the contamination screen, and the calibration
    certificate (queries/textops.py) all call this, so a change to
    the permutation format cannot silently desynchronize the
    certificate from the operator it certifies."""
    return md5_minhash_wide_carry(exploded, num_perm, seed)


def md5_minhash_wide_carry(
    exploded: DataFrame,
    num_perm: int,
    seed: int,
    carry_cols: tuple = (),
) -> DataFrame:
    """:func:`md5_minhash_wide` with optional carried grouping
    columns: ``carry_cols`` must be functions of ``id`` (one value
    per document — e.g. a train/eval side flag); adding them to the
    groupBy keys yields the identical per-id signature while keeping
    the columns available WITHOUT a corpus-scale re-attach join
    (r12 optimization, guide §2.4)."""

    def perm(i: int) -> Column:
        return _md5_long_of(
            F.concat_ws(
                ":",
                F.lit(str(seed)),
                F.lit(str(i)),
                F.col("h").cast("string"),
            )
        )

    return exploded.groupBy("id", *carry_cols).agg(
        *[F.min(perm(i)).alias(f"m{i}") for i in range(num_perm)]
    )


def md5_band_hash_cols(num_perm: int, bands: int) -> list:
    """Band hashes over a :func:`md5_minhash_wide` row — band b =
    md5 of the comma-joined signature values in its rows-per-band
    slice. Shared for the same reason as the signature builder."""
    rpb = num_perm // bands
    return [
        _md5_long_of(
            F.concat_ws(
                ",",
                *[
                    F.col(f"m{b * rpb + j}").cast("string")
                    for j in range(rpb)
                ],
            )
        )
        for b in range(bands)
    ]


def minhash_dedup_pairs_md5(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 32,
    bands: int = 8,
    seed: int = 42,
    shingle_n: int = 3,
    max_bucket_size: int = 1000,
    threshold: float = 0.0,
    eager: bool = True,
) -> DataFrame:
    """:func:`minhash_dedup_pairs` with an md5-based hash family —
    the ORACLED twin of the production xxhash64 pipeline.

    Same algorithm shape end to end (shingle → permute → min-agg →
    band → bucket-cap → pair → exact-Jaccard verify); only the hash
    family differs:

    - shingle hash: first 15 md5 nibbles → 60-bit long;
    - permutation ``i``: md5 of ``"seed:i:shingle_hash"``;
    - band hash: md5 of the comma-joined band signature values.

    Every step is reproducible in DuckDB (``md5`` + hex→BIGINT cast),
    which converts this operator class from a permanent rows-only
    driver row into a hash-checked one. The xxhash64 form stays the
    production path — md5-over-strings costs several× more CPU per
    (shingle × permutation), which is why ``num_perm`` defaults lower
    here (32×8 bands vs 64×16; collision behavior per band is
    equivalent at rows_per_band=4). Collision quality is unchanged:
    both families are uniform 60+-bit hashes.
    """
    assert num_perm % bands == 0, "bands must divide num_perm"
    from sqltask_spark.data import materialize_and_release

    shingled = md5_shingled_docs(df, id_col, text_col, shingle_n)
    if eager:
        shingled = shingled.persist()
    exploded = shingled.select("id", F.explode("h").alias("h"))
    wide = md5_minhash_wide(exploded, num_perm, seed)
    band_hashes = md5_band_hash_cols(num_perm, bands)
    banded = wide.select(
        "id",
        F.posexplode(F.array(*band_hashes)).alias("band", "band_hash"),
    )
    cand = _pairs_from_banded(banded, max_bucket_size)
    a = shingled.select(F.col("id").alias("id_a"), F.col("h").alias("h_a"))
    b = shingled.select(F.col("id").alias("id_b"), F.col("h").alias("h_b"))
    inter = F.size(F.array_intersect("h_a", "h_b"))
    union = F.size(F.array_union("h_a", "h_b"))
    # a/b carry per-doc shingle arrays — corpus-scaled relations
    # whose in-memory size dwarfs the planner's compressed estimate;
    # pin shuffle joins so no scale tips them into a driver broadcast
    # (observed at 500k docs in ngram_jaccard_pairs before the same
    # fix there)
    out = (
        cand.join(a.hint("merge"), "id_a")
        .join(b.hint("merge"), "id_b")
        .withColumn("jaccard", inter.cast("double") / union)
        .drop("h_a", "h_b")
    )
    if threshold > 0:
        out = out.filter(F.col("jaccard") >= threshold)
    if eager:
        out = materialize_and_release(out, shingled)
    return out


def minhash_contamination_pairs_md5(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    side_col: str,
    num_perm: int = 32,
    bands: int = 8,
    seed: int = 42,
    shingle_n: int = 3,
    max_bucket_size: int = 1000,
    threshold: float = 0.0,
    eager: bool = True,
) -> DataFrame:
    """Cross-corpus fuzzy contamination screen: banded md5 MinHash
    pairs ONLY between side 0 (index/train) and side 1 (probe/eval).

    The fuzzy complement of exact n-gram ``contamination_overlap``:
    an eval document that was paraphrased or lightly edited into the
    training set shares most shingles but no exact n-gram window, and
    only a near-dup screen catches it (the decontamination step of
    every published LLM data pipeline, e.g. GPT-3 appendix C's 13-gram
    + fuzzy dedup combination).

    Scale shape: ONE signature pass over the union corpus (the index
    side is not re-signed per probe batch), then the banded bucket
    join emits only cross-side pairs — train×train collisions, the
    overwhelming bulk of every bucket, are never materialized. Bucket
    cap bounds the worst hot bucket exactly as in
    :func:`minhash_dedup_pairs_md5`; the md5 permutation family keeps
    every step DuckDB-replayable, so the driver hash-checks the whole
    screen.

    Returns (index_id, probe_id, n_shared_bands, jaccard) with exact
    shingle-set Jaccard ≥ ``threshold``. ``side_col`` must be 0
    (index) or 1 (probe); rows with any other side value enter the
    bucket census (and count toward the cap) but never pair.
    """
    assert num_perm % bands == 0, "bands must divide num_perm"
    from sqltask_spark.data import materialize_and_release

    # side rides the shingling projection and the signature groupBy
    # (r12 optimization, guide §2.4): the former shape re-attached it
    # with TWO corpus-scale joins (shingled⋈sides, wide⋈shingled) —
    # both removable because side is a function of id, so carrying it
    # as an extra groupBy key yields identical signatures.
    shingled = shingle_sets(
        docs, id_col, text_col, shingle_n,
        carry=(F.col(side_col).cast("int").alias("side"),),
    ).select(
        "id",
        F.array_distinct(F.transform("shingles", _md5_long_of)).alias("h"),
        "side",
    )
    if eager:
        shingled = shingled.persist()
    exploded = shingled.select("id", "side", F.explode("h").alias("h"))
    wide = md5_minhash_wide_carry(
        exploded, num_perm, seed, carry_cols=("side",)
    )
    band_hashes = md5_band_hash_cols(num_perm, bands)
    banded = wide.select(
        "id",
        "side",
        F.posexplode(F.array(*band_hashes)).alias("band", "band_hash"),
    )
    from sqltask_spark.operators.bucketing import drop_hot_buckets

    banded = drop_hot_buckets(
        banded, ["band", "band_hash"], max_bucket_size, min_size=2
    )
    buckets = banded.groupBy("band", "band_hash").agg(
        F.collect_list(F.struct("id", "side")).alias("members")
    )
    pairs = buckets.select(
        F.explode(
            F.filter(
                F.flatten(
                    F.transform(
                        F.col("members"),
                        lambda a: F.transform(
                            F.col("members"),
                            lambda b: F.struct(a.alias("a"), b.alias("b")),
                        ),
                    )
                ),
                lambda s: (s["a"]["side"] == 0) & (s["b"]["side"] == 1),
            )
        ).alias("pair")
    )
    cand = pairs.groupBy(
        F.col("pair.a.id").alias("index_id"),
        F.col("pair.b.id").alias("probe_id"),
    ).agg(F.count(F.lit(1)).alias("n_shared_bands"))
    a = shingled.select(
        F.col("id").alias("index_id"), F.col("h").alias("h_a")
    )
    b = shingled.select(
        F.col("id").alias("probe_id"), F.col("h").alias("h_b")
    )
    inter = F.size(F.array_intersect("h_a", "h_b"))
    union = F.size(F.array_union("h_a", "h_b"))
    out = (
        cand.join(a.hint("merge"), "index_id")
        .join(b.hint("merge"), "probe_id")
        .withColumn("jaccard", inter.cast("double") / union)
        .drop("h_a", "h_b")
    )
    if threshold > 0:
        out = out.filter(F.col("jaccard") >= threshold)
    if eager:
        out = materialize_and_release(out, shingled)
    return out


def jaccard_pairs(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.0,
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs.

    ``pairs`` has (id_a, id_b); joins the shingle sets in (two
    broadcast-or-shuffle equi-joins) and computes
    |A∩B| / |A∪B| JVM-side.
    """
    shingled = shingle_sets(docs, id_col, text_col, shingle_n).select(
        "id", F.array_distinct("shingles").alias("shingles")
    )
    a = shingled.select(
        F.col("id").alias("id_a"), F.col("shingles").alias("sh_a")
    )
    b = shingled.select(
        F.col("id").alias("id_b"), F.col("shingles").alias("sh_b")
    )
    joined = pairs.join(a.hint("merge"), "id_a").join(b.hint("merge"), "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    out = joined.withColumn(
        "jaccard", inter.cast("double") / union
    ).drop("sh_a", "sh_b")
    if threshold > 0:
        out = out.filter(F.col("jaccard") >= threshold)
    return out


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
    eager: bool = True,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via an inverted-index join.

    Candidates are pairs sharing ≥1 shingle (so every pair with
    jaccard > 0 is reachable — exact, unlike the MinHash screen),
    found by exploding shingles and self-joining on the shingle
    string; exact Jaccard then filters to ``threshold``. Returns
    (id_a, id_b, jaccard) with id_a < id_b.

    Scale note: the inverted index explodes O(total shingles) rows
    and the self-join is quadratic in per-shingle document frequency;
    ``max_shingle_df`` drops boilerplate shingles above that df
    (candidates they alone would contribute are, at a sane threshold,
    already unreachable). Left None, results match the exact
    definition — the mode the DuckDB oracle reproduces.

    Cache lifecycle: as in :func:`minhash_dedup_pairs` — ``eager=True``
    materializes the small pair result and releases the shingle cache
    before returning; ``eager=False`` stays lazy without persisting.
    """
    from sqltask_spark.data import materialize_and_release

    shingled = shingle_sets(docs, id_col, text_col, shingle_n).select(
        "id", F.array_distinct("shingles").alias("shingles")
    )
    if eager:
        shingled = shingled.persist()
    inv = shingled.select("id", F.explode("shingles").alias("shingle"))
    if max_shingle_df is not None:
        # CAPPED MODE — one exchange instead of four (r12 optimization,
        # guide §2.4): the df cap bounds every shingle bucket at
        # ``max_shingle_df`` members, so candidates can be generated
        # IN-PARTITION exactly like the banded-LSH path
        # (:func:`_pairs_from_banded`): a count-window pre-cap over the
        # shingle key (``drop_hot_buckets`` — identical df semantics to
        # the former groupBy+join: count per shingle STRING, keep
        # df <= cap; singleton shingles, which pair with nothing, go
        # in the same window), then a same-key collect_list (reuses
        # the window's hash partitioning — no second exchange) and a
        # bounded a<b pair explode (<= cap² transient structs per
        # bucket). The former formulation paid a df-aggregate
        # exchange, an SMJ cap join and an SMJ candidate self-join —
        # three extra full exchanges plus four sorts of the exploded
        # inverted index.
        from sqltask_spark.operators.bucketing import drop_hot_buckets

        buckets = drop_hot_buckets(
            inv, ["shingle"], max_shingle_df, min_size=2
        ).groupBy("shingle").agg(F.collect_list("id").alias("ids"))
        cand = (
            buckets.select(
                F.explode(
                    F.filter(
                        F.flatten(
                            F.transform(
                                F.col("ids"),
                                lambda a: F.transform(
                                    F.col("ids"),
                                    lambda b: F.struct(
                                        a.alias("a"), b.alias("b")
                                    ),
                                ),
                            )
                        ),
                        lambda s: s["a"] < s["b"],
                    )
                ).alias("pair")
            )
            .groupBy(
                F.col("pair.a").alias("id_a"),
                F.col("pair.b").alias("id_b"),
            )
            .agg(F.count(F.lit(1)).alias("__n_surv"))
        )
        # EXACT upper-bound prefilter before the array verify (r12):
        # the pair dedup already counts each pair's shared SURVIVING
        # shingles (__n_surv); with per-doc totals and hot-shingle
        # counts, |A∩B| <= __n_surv + min(hot_a, hot_b) — a provable
        # bound, so dropping pairs whose bound cannot reach the
        # threshold never drops a true pair, and the expensive
        # array_intersect/union join runs over the few survivors
        # (measured 1.13M -> ~10³ pairs at sf0.1) instead of every
        # candidate. Skinny per-doc relations (3 ints), one extra
        # exchange of the capped postings by id. The surviving count
        # keeps singleton shingles: only the hot ones may be shared
        # uncounted, so only they loosen the bound.
        capped = drop_hot_buckets(inv, ["shingle"], max_shingle_df)
        doc_tot = shingled.select(
            "id", F.size("shingles").alias("__tot")
        )
        doc_surv = capped.groupBy("id").agg(
            F.count(F.lit(1)).alias("__surv")
        )
        doc = doc_tot.join(doc_surv, "id", "left").select(
            "id",
            "__tot",
            (
                F.col("__tot")
                - F.coalesce("__surv", F.lit(0))
            ).alias("__hot"),
        )
        cand = (
            cand.join(
                doc.select(
                    F.col("id").alias("id_a"),
                    F.col("__tot").alias("__tot_a"),
                    F.col("__hot").alias("__hot_a"),
                ).hint("merge"),
                "id_a",
            )
            .join(
                doc.select(
                    F.col("id").alias("id_b"),
                    F.col("__tot").alias("__tot_b"),
                    F.col("__hot").alias("__hot_b"),
                ).hint("merge"),
                "id_b",
            )
            .withColumn(
                "__ub",
                F.col("__n_surv")
                + F.least("__hot_a", "__hot_b"),
            )
            .filter(
                F.col("__ub").cast("double")
                / (F.col("__tot_a") + F.col("__tot_b") - F.col("__ub"))
                >= F.lit(threshold) - F.lit(1e-9)
            )
            .select("id_a", "id_b")
        )
    else:
        # EXACT MODE — per-shingle df is unbounded, so a collected
        # bucket array could hit spill pressure / the 2 GB array-row
        # limit on a boilerplate shingle; keep the self-join, whose
        # AQE skew splitting handles hot shingles gracefully.
        # Candidate self-join on the HASH of the shingle, not the
        # string: this is the heaviest exchange (quadratic in
        # per-shingle df) and longs shuffle ~3-5x fewer bytes than
        # 3-gram text. A hash collision only adds a spurious candidate
        # pair, which the exact Jaccard verify below filters — the
        # result set is unchanged.
        inv_h = inv.select("id", F.xxhash64("shingle").alias("sh"))
        a = inv_h.select(F.col("id").alias("id_a"), "sh")
        b = inv_h.select(F.col("id").alias("id_b"), "sh")
        cand = (
            # equal corpus-scaled sides: the planner's static estimate
            # of the inverted index sat under the broadcast threshold
            # at 500k docs and built a ~1 GiB driver relation — pin SMJ
            # (AQE skew-split still applies to hot shingles)
            a.join(b.hint("merge"), "sh")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .dropDuplicates(["id_a", "id_b"])
        )
    sh_a = shingled.select(
        F.col("id").alias("id_a"), F.col("shingles").alias("sh_a")
    )
    sh_b = shingled.select(
        F.col("id").alias("id_b"), F.col("shingles").alias("sh_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    # the shingle-array sides are corpus-scaled: pin shuffle joins
    # (see the self-join note above — same 500k-doc broadcast OOM)
    out = (
        cand.join(sh_a.hint("merge"), "id_a")
        .join(sh_b.hint("merge"), "id_b")
        .withColumn("jaccard", inter.cast("double") / union)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    if eager:
        out = materialize_and_release(out, shingled)
    return out


def simhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 2,
) -> DataFrame:
    """64-bit SimHash per doc → (id, sig: bigint).

    Majority vote per bit over the shingle-hash set. Same scalable
    shape as :func:`minhash_signatures`: explode the hash set once,
    64 conditional-sum aggregates (map-side combined), one shuffle
    keyed by id, then pack the sign bits into one long.
    """
    hashes = F.array_distinct(
        F.transform("shingles", lambda s: F.xxhash64(s))
    )
    exploded = shingle_sets(df, id_col, text_col, shingle_n).select(
        "id", F.explode(hashes).alias("h")
    )
    aggs = [F.count(F.lit(1)).alias("n")]
    for bit in range(64):
        mask = F.lit(1 << bit if bit < 63 else -(2**63)).cast("long")
        aggs.append(
            F.sum(
                F.when(F.col("h").bitwiseAND(mask) != 0, 1).otherwise(0)
            ).alias(f"b{bit}")
        )
    counted = exploded.groupBy("id").agg(*aggs)
    sig = F.lit(0).cast("long")
    for bit in range(64):
        bit_value = F.lit(1 << bit if bit < 63 else -(2**63)).cast("long")
        sig = sig.bitwiseOR(
            F.when(
                F.col(f"b{bit}") * 2 >= F.col("n"), bit_value
            ).otherwise(F.lit(0).cast("long"))
        )
    return counted.select("id", sig.alias("sig"))


def simhash_near_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_distance: int = 3,
    shingle_n: int = 2,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) ≤ max_distance.

    Pigeonhole banding: split 64 bits into ``max_distance + 1`` chunks;
    any pair within distance k must agree exactly on ≥1 chunk → group
    by (chunk index, chunk value), verify distance on candidates.

    The (chunk, value) self-join is quadratic in per-bucket membership,
    and degenerate corpora (near-empty docs collapse to sig ≈ 0)
    concentrate into one value — ``max_bucket_size`` drops such hot
    buckets (see :mod:`sqltask_spark.operators.bucketing`); members
    remain reachable through their other chunks. ``None`` restores the
    exact pigeonhole guarantee.
    """
    from sqltask_spark.operators.bucketing import drop_hot_buckets

    chunks = max_distance + 1
    width = 64 // chunks
    sigs = simhash_signatures(df, id_col, text_col, shingle_n)
    chunk_cols = []
    for i in range(chunks):
        shifted = F.shiftrightunsigned(F.col("sig"), i * width)
        mask = (1 << width) - 1 if i < chunks - 1 else (1 << (64 - i * width)) - 1
        chunk_cols.append(shifted.bitwiseAND(F.lit(mask)))
    # one (chunk index, chunk value) self-join instead of `chunks`
    # separate joins — a single shuffle keyed by (ci, cv). NOTE
    # (r12 optimization round): an in-partition collect_list + pair
    # explode off the cap window's exchange (the capped-Jaccard
    # shape) was implemented and measured FLAT-to-slower here
    # (min-of-5 3.73→3.91s / 4.82→5.56s at sf0.1, job count 7→7):
    # the SMJ's inputs are already partitioned by the cap window, so
    # only sorts remain, and ReusedExchange serves the b side — the
    # struct collect_list just added serialization. Reverted; the
    # exchange-count argument that motivated the Jaccard rewrite does
    # not apply where the join keys equal the window keys.
    exploded = sigs.select(
        "id", "sig", F.posexplode(F.array(*chunk_cols)).alias("ci", "cv")
    )
    exploded = drop_hot_buckets(exploded, ["ci", "cv"], max_bucket_size)
    a = exploded.select(
        F.col("id").alias("id_a"), F.col("sig").alias("sig_a"), "ci", "cv"
    )
    b = exploded.select(
        F.col("id").alias("id_b"), F.col("sig").alias("sig_b"), "ci", "cv"
    )
    cands = a.join(b.hint("merge"), ["ci", "cv"]).filter(
        F.col("id_a") < F.col("id_b")
    )
    return (
        cands.dropDuplicates(["id_a", "id_b"])
        .withColumn(
            "hamming",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))),
        )
        .filter(F.col("hamming") <= max_distance)
        .select("id_a", "id_b", "hamming")
    )


def simhash_near_pairs_md5(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_distance: int = 3,
    shingle_n: int = 2,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """:func:`simhash_near_pairs` with a 60-bit md5 hash family —
    the ORACLED twin of the SimHash pipeline (cf.
    :func:`minhash_dedup_pairs_md5` for the pattern and rationale).

    Same shape end to end: per-shingle hash → per-bit majority vote →
    pigeonhole banding (``max_distance + 1`` chunks) → hot-bucket cap
    → candidate join → exact Hamming verify. 60 bits (md5_long's
    width) instead of 64 — with distance 3 that banding is 4 clean
    15-bit chunks, and every operation (shifts, masks, bit_count,
    xor) is reproducible in DuckDB. Production stays on the xxhash64
    64-bit form.
    """
    from sqltask_spark.operators.bucketing import drop_hot_buckets

    bits = 60
    chunks = max_distance + 1
    assert bits % chunks == 0, "chunks must divide 60"
    width = bits // chunks

    hashes = F.array_distinct(F.transform("shingles", _md5_long_of))
    exploded = shingle_sets(df, id_col, text_col, shingle_n).select(
        "id", F.explode(hashes).alias("h")
    )
    aggs = [F.count(F.lit(1)).alias("n")]
    for bit in range(bits):
        mask = F.lit(1 << bit).cast("long")
        aggs.append(
            F.sum(
                F.when(F.col("h").bitwiseAND(mask) != 0, 1).otherwise(0)
            ).alias(f"b{bit}")
        )
    counted = exploded.groupBy("id").agg(*aggs)
    sig = F.lit(0).cast("long")
    for bit in range(bits):
        sig = sig.bitwiseOR(
            F.when(
                F.col(f"b{bit}") * 2 >= F.col("n"),
                F.lit(1 << bit).cast("long"),
            ).otherwise(F.lit(0).cast("long"))
        )
    sigs = counted.select("id", sig.alias("sig"))

    chunk_cols = [
        F.shiftrightunsigned(F.col("sig"), i * width).bitwiseAND(
            F.lit((1 << width) - 1)
        )
        for i in range(chunks)
    ]
    banded = sigs.select(
        "id", "sig", F.posexplode(F.array(*chunk_cols)).alias("ci", "cv")
    )
    banded = drop_hot_buckets(banded, ["ci", "cv"], max_bucket_size)
    a = banded.select(
        F.col("id").alias("id_a"), F.col("sig").alias("sig_a"), "ci", "cv"
    )
    b = banded.select(
        F.col("id").alias("id_b"), F.col("sig").alias("sig_b"), "ci", "cv"
    )
    return (
        a.join(b.hint("merge"), ["ci", "cv"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn(
            "hamming",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))),
        )
        .filter(F.col("hamming") <= max_distance)
        .select("id_a", "id_b", "hamming")
    )


def exact_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    keep: str = "min",
) -> DataFrame:
    """Exact dedup groups by md5 fingerprint.

    Returns one row per distinct text: (fingerprint, kept id, n_copies).
    ``keep='min'`` keeps the smallest id — deterministic, matching the
    reference lookup first-wins spirit (``lookup_source.py:28-31``).

    NULL policy (pytest-pinned, ``test_null_and_empty_text_semantics``):
    NULL-text documents fingerprint to NULL and GROUP TOGETHER (SQL
    GROUP BY semantics — identical in the DuckDB oracle, so the
    cross-engine-stable choice); the empty string is a real value with
    its own md5('') group. Callers that want nulls ignored filter
    them upstream.

    The input is widened via :func:`~sqltask_spark.data
    .ensure_min_partitions`: the md5 of normalized text is CPU-bound
    per-row work, and a one-split shard would hash on one core.
    """
    from sqltask_spark.data import ensure_min_partitions
    from sqltask_spark.operators.text import fingerprint_md5

    agg = F.min(id_col) if keep == "min" else F.max(id_col)
    return (
        ensure_min_partitions(df).select(
            fingerprint_md5(F.col(text_col)).alias("fingerprint"),
            F.col(id_col),
        )
        .groupBy("fingerprint")
        .agg(
            agg.alias("kept_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    min_shingles: int = 1,
) -> DataFrame:
    """Per-document maximal duplicated token spans (exact-substring
    dedup signal with POSITIONS — the span-level refinement of
    ``dup_span_stats``; cf. Lee et al., "Deduplicating Training Data
    Makes Language Models Better", which removes repeated substrings
    rather than whole documents).

    A token position is *duplicated* when the ``shingle_n``-gram
    starting there occurs in at least one OTHER document; maximal runs
    of consecutive duplicated positions become spans
    ``[start_token, end_token]`` (token coordinates; ``end_token``
    covers the last gram's tail). A downstream cut pass can splice
    these spans out of the text — this operator emits the coordinates.

    Scale shape (never all-pairs): one positional shingle explode
    (shingles hashed to longs at the explode — shuffle carries 8 bytes,
    not 3-gram text), one distinct + map-side-combined census for the
    cross-document frequency, one equi-join back on the hashed shingle
    (df is one row per shingle so the join never explodes; hot
    boilerplate shingles are AQE skew-join territory), then one
    gaps-and-islands window per document (``pos − row_number`` is
    constant within a consecutive run). Short documents (< n tokens)
    collapse to a single whole-text shingle at position 0, so their
    one possible span is nominal.

    Returns (doc_id, span_idx, start_token, end_token,
    n_dup_shingles) ordered within each doc by span start.
    """
    from pyspark.sql import Window

    from sqltask_spark.data import materialize_and_release

    sh = (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(word_shingles(F.col(text_col), shingle_n)).alias(
                "pos", "sh_str"
            ),
        )
        .select("doc_id", "pos", F.xxhash64("sh_str").alias("shingle"))
        .persist()
    )
    dfreq = (
        sh.select("doc_id", "shingle")
        .distinct()
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("ndocs"))
        .filter(F.col("ndocs") >= 2)
    )
    dup_pos = sh.join(dfreq, "shingle").select("doc_id", "pos")
    w_pos = Window.partitionBy("doc_id").orderBy("pos")
    runs = dup_pos.withColumn(
        "island", F.col("pos") - F.row_number().over(w_pos)
    )
    spans = (
        runs.groupBy("doc_id", "island")
        .agg(
            F.min("pos").alias("start_token"),
            (F.max("pos") + F.lit(shingle_n - 1)).alias("end_token"),
            F.count(F.lit(1)).alias("n_dup_shingles"),
        )
        .filter(F.col("n_dup_shingles") >= min_shingles)
    )
    w_span = Window.partitionBy("doc_id").orderBy("start_token")
    out = spans.select(
        "doc_id",
        F.row_number().over(w_span).alias("span_idx"),
        "start_token",
        "end_token",
        "n_dup_shingles",
    )
    return materialize_and_release(out, sh)


def cut_spans(
    docs: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Splice token spans OUT of documents — the cut half of
    exact-substring dedup (:func:`duplicate_spans` emits coordinates;
    this removes them). Policy-free by design: pass exactly the spans
    you decided to cut (e.g. filter :func:`duplicate_spans` output to
    every doc except a cluster's keeper, so one copy of each
    duplicated run survives — the Lee-et-al production policy).

    Scale shape: spans aggregate to one array per doc (bounded by the
    doc's own span count), ONE equi-join back to the corpus, then the
    splice is a pure JVM index-filter over the token array — no
    shuffle of text beyond the single join, no UDF. Docs with no
    spans pass through unchanged (left join + empty-array coalesce).

    Returns (id, text, n_tokens_removed) with ``text`` rebuilt from
    the surviving tokens (single-space joined — token coordinates,
    not byte coordinates, are the contract throughout).
    """
    from sqltask_spark.operators.text import tokenize

    sp = spans.groupBy(F.col("doc_id").alias("__sid")).agg(
        F.collect_list(F.array("start_token", "end_token")).alias("__spans")
    )
    toks = tokenize(F.col(text_col))
    in_span = lambda i: F.exists(  # noqa: E731
        "__spans", lambda s: (i >= s[0]) & (i <= s[1])
    )
    kept = F.filter(toks, lambda x, i: ~in_span(i))
    out = (
        docs.join(sp, docs[id_col] == F.col("__sid"), "left")
        .withColumn(
            "__spans", F.coalesce("__spans", F.array().cast(
                "array<array<int>>"
            ))
        )
        .select(
            id_col,
            F.concat_ws(" ", kept).alias(text_col),
            (F.size(toks) - F.size(kept)).alias("n_tokens_removed"),
        )
    )
    return out


def cut_duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
) -> DataFrame:
    """End-to-end exact-substring dedup (Lee et al.): find duplicated
    token runs, keep ONE copy, splice the rest out of the text.

    Keeper policy — deterministic and per-shingle: the minimum
    ``id_col`` among the documents containing a duplicated shingle
    keeps it; every other occurrence's position is marked for cutting.
    Marked positions coalesce into maximal runs (gaps-and-islands)
    and :func:`cut_spans` splices them out, so exactly one copy of
    each duplicated run survives in the corpus — the production cut
    policy, with a min-id tie-break instead of arrival order so the
    result is reproducible across partitionings.

    Scale shape is :func:`duplicate_spans` plus the one extra
    ``min(id)`` in the same shingle census — still one positional
    explode (8-byte hashed shingles), one map-side-combined census,
    one equi-join back, one window per doc, one join for the splice.
    Never all-pairs.

    Returns (id, text, n_tokens_removed) for EVERY input document
    (uncut docs pass through with 0 removed).
    """
    from pyspark.sql import Window

    from sqltask_spark.data import materialize_and_release

    sh = (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(word_shingles(F.col(text_col), shingle_n)).alias(
                "pos", "sh_str"
            ),
        )
        .select("doc_id", "pos", F.xxhash64("sh_str").alias("shingle"))
        .persist()
    )
    keepers = (
        sh.groupBy("shingle")
        .agg(
            F.min("doc_id").alias("keeper"),
            F.count_distinct("doc_id").alias("ndocs"),
        )
        .filter(F.col("ndocs") >= 2)
    )
    cut_pos = (
        sh.join(keepers, "shingle")
        .filter(F.col("doc_id") != F.col("keeper"))
        .select("doc_id", "pos")
    )
    w_pos = Window.partitionBy("doc_id").orderBy("pos")
    spans = (
        cut_pos.withColumn(
            "island", F.col("pos") - F.row_number().over(w_pos)
        )
        .groupBy("doc_id", "island")
        .agg(
            F.min("pos").alias("start_token"),
            (F.max("pos") + F.lit(shingle_n - 1)).alias("end_token"),
        )
    )
    out = cut_spans(
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col)),
        spans,
        id_col="doc_id",
        text_col=text_col,
    ).select(F.col("doc_id").alias(id_col), text_col, "n_tokens_removed")
    return materialize_and_release(out, sh)
