"""Property-based tests (hypothesis) for row-level operators.

Each property batches all generated examples into ONE DataFrame and
one Spark action, so hypothesis's example count doesn't multiply JVM
round-trips.
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from sqltask_spark.operators import index_fs

# no surrogates/control-plane exotica, but INCLUDES the exotic
# whitespace the engine's pinned class must handle (NEL \x85, NBSP
# \xa0, plus U+2000-block spaces and line/para separators)
_TEXT = st.text(
    alphabet=st.one_of(
        st.characters(min_codepoint=32, max_codepoint=0x2FF),
        st.sampled_from("\t\n\x0b\f\r\x1c\x85\xa0\u2000\u2028\u3000"),
    ),
    min_size=0,
    max_size=80,
)


def _ref_rolling(text: str, base=31, mod=1_000_000_007, init=7) -> int:
    """Python model of normalize+fold. The engine pins an explicit
    Unicode-whitespace class (tx.UNICODE_WS_CLASS) equal to Python's
    ``\\s``, so the model is plain Python regex semantics: collapse
    whitespace runs, then strip the remaining edge spaces."""
    import re

    norm = re.sub(r"\s+", " ", text.lower()).strip(" ")
    h = init
    for c in norm:
        h = (h * base + ord(c)) % mod
    return h


@settings(max_examples=8, deadline=None)
@given(st.lists(_TEXT, min_size=1, max_size=20))
def test_rolling_hash_matches_reference_fold(spark, texts):
    from sqltask_spark.operators.text import rolling_hash

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["id", "text"]
    )
    got = {
        r["id"]: r["rh"]
        for r in df.select(
            "id", rolling_hash(F.col("text")).alias("rh")
        ).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == _ref_rolling(t)
        assert 0 <= got[i] < 1_000_000_007


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 5),          # key
            st.integers(-1000, 1000),   # value
        ),
        min_size=1,
        max_size=30,
    )
)
def test_first_wins_picks_earliest_input_row(spark, rows):
    from sqltask_spark.operators.lookup import first_wins

    df = spark.createDataFrame(
        [(k, v, i) for i, (k, v) in enumerate(rows)], ["k", "v", "ord"]
    )
    got = {r["k"]: r["v"] for r in first_wins(df, ["k"], "ord").collect()}
    want = {}
    for k, v in rows:  # first occurrence wins, like the reference
        want.setdefault(k, v)
    assert got == want


@settings(max_examples=6, deadline=None)
@given(st.lists(_TEXT, min_size=1, max_size=15))
def test_exact_dedup_partitions_by_normalized_text(spark, texts):
    from sqltask_spark.operators.dedup import exact_dedup
    import re

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    out = exact_dedup(df, "text", "doc_id").collect()
    norm = lambda t: re.sub(r"\s+", " ", t.strip().lower())  # noqa: E731
    groups: dict[str, list[int]] = {}
    for i, t in enumerate(texts):
        groups.setdefault(norm(t), []).append(i)
    assert len(out) == len(groups)
    assert sum(r["n_copies"] for r in out) == len(texts)
    kept = sorted(r["kept_id"] for r in out)
    assert kept == sorted(min(g) for g in groups.values())


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.lists(
            st.floats(-10, 10, allow_nan=False, allow_infinity=False),
            min_size=4,
            max_size=4,
        ),
        min_size=2,
        max_size=10,
    )
)
def test_cosine_near_pairs_bounds_and_symmetry(spark, vecs):
    from sqltask_spark.operators.similarity import cosine_near_pairs

    # skip all-zero vectors (cosine undefined → NULL, filtered out)
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], ["vec_id", "embedding"]
    )
    out = cosine_near_pairs(df, "vec_id", threshold=-1.0).collect()
    for r in out:
        assert r["id_a"] < r["id_b"]  # each unordered pair once
        assert -1.000001 <= r["cosine"] <= 1.000001


_EDGES = st.lists(
    st.tuples(st.integers(0, 14), st.integers(0, 14)),
    min_size=0,
    max_size=25,
)


def _check_components_match_union_find(
    spark, edges, algorithm: str
) -> None:
    """On both arms — the driver union-find (edge list within
    ``index_fs.KEYS_CAP``) and, with the bound forced to 0, the
    distributed ``algorithm`` — connected_components labels every
    edge node with the minimum of its component, as a plain
    union-find does."""
    from sqltask_spark.operators.graph import connected_components

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        if u != v:
            ru, rv = find(u), find(v)
            if ru != rv:
                parent[max(ru, rv)] = min(ru, rv)
    nodes = {x for u, v in edges if u != v for x in (u, v)}
    # find() path-halving leaves roots correct, but map every node to
    # the MIN member of its component for comparison
    roots: dict[int, int] = {}
    for n in nodes:
        r = find(n)
        roots[r] = min(roots.get(r, n), n)
    want = {n: roots[find(n)] for n in nodes}

    df = spark.createDataFrame(edges or [(0, 0)], "src LONG, dst LONG")
    if not edges:
        df = df.filter("src IS NULL")
    for cap, arm in ((index_fs.KEYS_CAP, "driver"), (0, algorithm)):
        stats: dict = {}
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(index_fs, "KEYS_CAP", cap)
            got = {
                r["node"]: r["component"]
                for r in connected_components(
                    df, algorithm=algorithm, stats=stats
                ).collect()
            }
        assert got == want, arm
        assert stats["arm"] == arm


@settings(max_examples=8, deadline=None)
@given(_EDGES)
def test_connected_components_matches_union_find(spark, edges):
    _check_components_match_union_find(spark, edges, "label")


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.lists(
            st.floats(
                min_value=-100, max_value=100,
                allow_nan=False, allow_infinity=False,
            ),
            min_size=2, max_size=8,
        ),
        min_size=1, max_size=6,
    )
)
def test_quantize_symmetric_error_bound(spark, vecs):
    """For any real vectors: quantized values stay in [-127, 127] and
    per-element reconstruction error never exceeds scale/2 (so L2
    error <= scale/2 * sqrt(dim)) — the worst case of round()."""
    import math

    from sqltask_spark.operators.similarity import quantize_symmetric

    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    for r in quantize_symmetric(df, "vec_id").collect():
        dim = len(r["qvec"])
        assert all(-127 <= q <= 127 for q in r["qvec"])
        assert r["recon_err"] <= r["scale"] / 2 * math.sqrt(dim) + 1e-9


@settings(max_examples=6, deadline=None)
@given(_EDGES)
def test_star_components_match_union_find(spark, edges):
    """The large-star/small-star algorithm agrees with a reference
    union-find on arbitrary small graphs (self-loops, duplicates,
    disconnected nodes included)."""
    _check_components_match_union_find(spark, edges, "star")


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.text(alphabet="abcd", min_size=1, max_size=10),
        min_size=1,
        max_size=12,
    )
)
def test_bpe_encode_reconstructs_words(spark, words):
    """BPE invariants on arbitrary corpora: (1) concatenating a
    word's subword tokens reproduces the word — merging never loses
    or reorders characters; (2) the Arrow-UDF encoder agrees with the
    chained-JVM-fold encoder for the learned table."""
    from sqltask_spark.operators.bpe import (
        encode_corpus,
        encode_with_merges,
        learn_bpe_merges,
    )

    docs = spark.createDataFrame(
        [(1, " ".join(words))], ["doc_id", "text"]
    )
    merges = [
        (r["left"], r["right"])
        for r in learn_bpe_merges(docs, n_merges=4, min_pair_freq=1)
        .orderBy("rank")
        .collect()
    ]
    jvm = sorted(
        "".join(r["tokens"]) for r in encode_with_merges(docs, merges).collect()
    )
    assert jvm == sorted(words)
    udf = sorted(
        tuple(r["tokens"]) for r in encode_corpus(docs, merges).collect()
    )
    jvm_tok = sorted(
        tuple(r["tokens"]) for r in encode_with_merges(docs, merges).collect()
    )
    assert udf == jvm_tok


def test_bigram_lm_scores_partition_invariant(spark):
    """The fixed-point micro-nat sums make per-doc LM scores exact
    integers under the hood — identical results no matter how the
    corpus is partitioned (the property that makes the entry
    oracle-hashable on any cluster layout)."""
    from pyspark.sql import functions as F

    from sqltask_spark.operators.text import bigram_lm_nll

    rows = [
        (i, " ".join(f"w{(i * j) % 17}" for j in range(30)))
        for i in range(1, 41)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    outs = []
    for parts in (1, 3, 13):
        got = {
            r["doc_id"]: (r["n_bigrams"], r["avg_nll"], r["ppl"])
            for r in bigram_lm_nll(
                docs.repartition(parts), "doc_id", "text"
            ).collect()
        }
        outs.append(got)
    assert outs[0] == outs[1] == outs[2]
    assert len(outs[0]) == 40


_WORDS = st.lists(
    st.sampled_from("alpha beta gamma delta eps zeta eta theta".split()),
    min_size=1,
    max_size=12,
)


@settings(max_examples=6, deadline=None)
@given(st.lists(_WORDS, min_size=2, max_size=12))
def test_bm25_matches_reference_on_random_corpora(spark, docs_words):
    from test_retrieval import _ref_bm25

    from sqltask_spark.operators.retrieval import _query_frame, bm25_search

    corpus = [(i, " ".join(w)) for i, w in enumerate(docs_words)]
    queries = [(1, "alpha beta"), (2, "theta")]
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    got = [
        (r.query_id, r.rank, r.doc_id, r.n_matched, r.score)
        for r in bm25_search(df, _query_frame(spark, queries), k=50)
        .orderBy("query_id", "rank")
        .collect()
    ]
    want = _ref_bm25(corpus, queries, k=50)
    assert [g[:4] for g in got] == [w[:4] for w in want]
    for g, w in zip(got, want):
        assert abs(g[4] - w[4]) < 1e-9


@settings(max_examples=6, deadline=None)
@given(st.lists(_WORDS, min_size=2, max_size=8))
def test_tfidf_cosine_matches_reference_on_random_corpora(
    spark, docs_words
):
    from test_retrieval import _ref_tfidf_cosine

    from sqltask_spark.operators.retrieval import tfidf_near_pairs

    corpus = [(i, " ".join(w)) for i, w in enumerate(docs_words)]
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b): r.cosine
        for r in tfidf_near_pairs(df, threshold=0.0).collect()
    }
    want = _ref_tfidf_cosine(corpus)
    assert set(got) == set(want)
    for p, c in want.items():
        assert abs(got[p] - round(c, 6)) < 1e-9


def test_ws_class_equals_python_unicode_ws_exhaustive():
    """The pinned engine whitespace class (UNICODE_WS_CLASS, compiled
    into Spark's Java regex and DuckDB's RE2 oracle fragments) matches
    Python's unicode-aware \\s on every BMP codepoint — the contract
    that lets the pytest models use plain Python regex semantics."""
    import re

    from sqltask_spark.operators.text import UNICODE_WS_CLASS

    pat = re.compile(UNICODE_WS_CLASS)
    ws = re.compile(r"\s")
    diff = [
        hex(c)
        for c in range(0x10000)
        if bool(pat.match(chr(c))) != bool(ws.match(chr(c)))
    ]
    assert diff == []


@settings(max_examples=6, deadline=None)
@given(st.lists(_TEXT, min_size=1, max_size=15))
def test_script_counts_match_python_model(spark, texts):
    """Per-script counts equal a Python model applying the same
    literal codepoint-range classes (Python re, Java regex, and RE2
    agree on literal classes — the property the operator relies on),
    and the dominant script is the alphabetical-first argmax."""
    import re

    from sqltask_spark.operators.text import (
        SCRIPT_CLASSES,
        dominant_script,
        script_counts,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["id", "text"]
    )
    counts = script_counts(F.col("text"))
    rows = {
        r["id"]: r
        for r in df.select(
            "id",
            dominant_script(F.col("text")).alias("dom"),
            *[counts[n].alias(n) for n, _ in SCRIPT_CLASSES],
        ).collect()
    }
    for i, t in enumerate(texts):
        model = {
            n: len(re.findall(cls, t)) for n, cls in SCRIPT_CLASSES
        }
        for n, want in model.items():
            assert rows[i][n] == want, (i, n, t)
        best, best_c = "none", 0
        for n in sorted(model):
            if model[n] > best_c:
                best, best_c = n, model[n]
        assert rows[i]["dom"] == best


@settings(max_examples=6, deadline=None)
@given(st.lists(_TEXT, min_size=1, max_size=12))
def test_redact_pii_cascade_matches_python_model(spark, texts):
    """The 4-stage redaction cascade equals a Python model running
    the same portable patterns in the same order on the normalized
    text — counts and the final redacted string."""
    import re

    from sqltask_spark.operators.text import (
        EMAIL_PATTERN,
        IPV4_PATTERN,
        LONG_NUM_PATTERN,
        PHONE_PATTERN,
        redact_pii_extended,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["id", "text"]
    )
    cols = redact_pii_extended(F.col("text"))
    rows = {
        r["id"]: r
        for r in df.select(
            "id",
            *[
                cols[k].alias(k)
                for k in (
                    "n_emails", "n_ipv4", "n_phones", "n_nums", "redacted"
                )
            ],
        ).collect()
    }
    stages = (
        ("n_emails", EMAIL_PATTERN, "<email>"),
        ("n_ipv4", IPV4_PATTERN, "<ip>"),
        ("n_phones", PHONE_PATTERN, "<phone>"),
        ("n_nums", LONG_NUM_PATTERN, "<num>"),
    )
    for i, t in enumerate(texts):
        cur = re.sub(r"\s+", " ", t.lower()).strip(" ")
        for key, pat, token in stages:
            assert rows[i][key] == len(re.findall(pat, cur)), (i, key)
            cur = re.sub(pat, token, cur)
        assert rows[i]["redacted"] == cur, i


# --------------------------------------------------------------------------
# fixed-point k-means: the Spark recurrence must equal a direct
# Python re-implementation of the pinned contract (md5-rank init,
# BIGINT argmin with (dist, cid) ties, truncating-integer-mean
# update, keep-previous empty clusters) on arbitrary integer points.
# --------------------------------------------------------------------------


def _kmeans_model(pts, k, iters):
    """pts: dict id -> dict pos -> el (sparse, absent = 0)."""
    import hashlib

    ids = sorted(pts, key=lambda i: (
        hashlib.md5(str(i).encode()).hexdigest(), i))
    cents = {c: dict(pts[i]) for c, i in enumerate(ids[:k])}

    def dist(v, c):
        keys = set(v) | set(c)
        return sum((v.get(p, 0) - c.get(p, 0)) ** 2 for p in keys)

    def assign():
        return {
            i: min(cents, key=lambda c: (dist(pts[i], cents[c]), c))
            for i in pts
        }

    for _ in range(iters):
        a = assign()
        new = {}
        for c in cents:
            members = [i for i in a if a[i] == c]
            if not members:
                new[c] = cents[c]
                continue
            sums = {}
            for i in members:
                for p, v in pts[i].items():
                    sums[p] = sums.get(p, 0) + v
            n = len(members)
            # int() truncates toward zero like Spark div / DuckDB //
            cd = {p: int(s / n) if s >= 0 else -int(-s / n)
                  for p, s in sums.items()}
            new[c] = {p: v for p, v in cd.items() if v != 0}
        cents = new
    return assign(), cents


@settings(max_examples=10, deadline=None)
@given(
    st.dictionaries(
        st.integers(min_value=0, max_value=30),       # id
        st.dictionaries(
            st.integers(min_value=0, max_value=7),    # pos
            st.integers(min_value=-1000, max_value=1000),
            min_size=1,
            max_size=5,
        ),
        min_size=2,
        max_size=12,
    ),
    st.integers(min_value=1, max_value=4),            # k
    st.integers(min_value=1, max_value=3),            # iters
)
def test_sparse_kmeans_matches_python_model(spark, data, k, iters):
    from sqltask_spark.operators.kmeans_fixed import kmeans_fixed_sparse

    k = min(k, len(data))
    rows = [
        (i, p, v)
        for i, vec in data.items()
        for p, v in vec.items()
        if v != 0
    ]
    # drop ids whose vector became empty (all-zero): the operator's
    # contract is long-format NON-ZERO components
    live = {i for i, _, _ in rows}
    data = {i: {p: v for p, v in vec.items() if v != 0}
            for i, vec in data.items() if i in live}
    if len(data) < 2:
        return
    k = min(k, len(data))
    pts = spark.createDataFrame(rows, "id bigint, pos int, el bigint")
    assign, cents = kmeans_fixed_sparse(pts, k=k, iters=iters)
    got_a = {r.id: r.cid for r in assign.collect()}
    got_c = {}
    for r in cents.collect():
        got_c.setdefault(r.cid, {})[r.pos] = r.c
    assign.unpersist()
    want_a, want_c = _kmeans_model(data, k, iters)
    assert got_a == want_a
    assert got_c == {c: v for c, v in want_c.items() if v}


@settings(max_examples=4, deadline=None)
@given(
    st.lists(  # a sequence of merge batches
        st.lists(  # each batch: (key, value, is_delete) changes
            st.tuples(
                st.integers(min_value=1, max_value=12),
                st.integers(min_value=-1000, max_value=1000),
                st.booleans(),
            ),
            min_size=1,
            max_size=6,
            unique_by=lambda t: t[0],  # MERGE requires key-unique
        ),
        min_size=1,
        max_size=4,
    )
)
def test_merge_table_matches_dict_model(spark, tmp_path_factory, batches):
    """Model-based check: any sequence of key-unique merge batches
    leaves the versioned parquet table equal to a plain Python dict
    applying the same upsert/delete semantics — and the version
    count equals the merge count, each version time-travel readable."""
    from sqltask_spark.operators import index_fs
    from sqltask_spark.operators.merge import (
        create_parquet_table,
        merge_into_parquet,
        read_parquet_table,
    )

    path = str(tmp_path_factory.mktemp("merge_prop") / "t")
    base = {1: 100, 2: 200}
    create_parquet_table(
        spark.createDataFrame(
            [(k, v) for k, v in base.items()], "k long, v long"
        ),
        path,
        stats_col="k",
    )
    model = dict(base)
    for i, batch in enumerate(batches):
        src = spark.createDataFrame(
            batch, "k long, v long, is_del boolean"
        )
        merge_into_parquet(
            spark, path, src, ["k"],
            batch_id=f"b{i}", delete_col="is_del",
        )
        for k, v, is_del in batch:
            if is_del:
                model.pop(k, None)
            else:
                model[k] = v
    got = {
        r["k"]: r["v"]
        for r in read_parquet_table(spark, path).collect()
    }
    assert got == model
    seqs = index_fs.list_manifest_seqs(spark, path)
    assert len(seqs) == 1 + len(batches)
    # version 0 still serves the original rows
    v0 = {
        r["k"]: r["v"]
        for r in read_parquet_table(spark, path, as_of=0).collect()
    }
    assert v0 == base
