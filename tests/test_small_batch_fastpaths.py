"""Fast ≡ join equivalence for the r12 small-batch driver-side paths.

Every mutation below runs twice — once on the bounded-collect fast
path (the default at test sizes) and once with the caps forced to 0
so the original join/aggregate formulations run — and the OUTCOMES
are compared exactly: merge result counts, final table rows, change
feed rows, index probe hits, tombstone sets. The fast paths must be
invisible to every reader.
"""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from sqltask_spark.operators import index_fs
from sqltask_spark.operators import merge as mg


def _rows(df, cols=None):
    cols = cols or sorted(df.columns)
    return sorted(
        tuple(r[c] for c in cols) for r in df.select(*cols).collect()
    )


@pytest.fixture
def tmpdir():
    d = tempfile.mkdtemp(prefix="fastpath_eq_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _mk_table(spark, path):
    seed = spark.createDataFrame(
        [(i, f"v{i}", i % 3) for i in range(40)],
        "k long, v string, grp long",
    )
    mg.create_parquet_table(
        seed.repartition(4, "k"), path, stats_col="k"
    )


_BATCH = [
    (1, "v1", 1),          # identical-value update: NOT a change
    (2, "V2-new", 2),      # real update
    (100, "brand-new", 0),  # insert
    (3, None, 0),          # update to null value
    (None, "null-key", 9),  # null key: insert by join semantics
]


def _merge_batch(spark, path, delete_keys=(), include_null=True):
    batch = _BATCH if include_null else [
        b for b in _BATCH if b[0] is not None
    ]
    rows = [(k, v, g, False) for k, v, g in batch] + [
        (k, None, 0, True) for k in delete_keys
    ]
    src = spark.createDataFrame(
        rows, "k long, v string, grp long, is_del boolean"
    )
    return mg.merge_into_parquet(
        spark, path, src, ["k"], delete_col="is_del"
    )


def test_merge_decide_fast_matches_join(spark, tmpdir, monkeypatch):
    pa, pb = f"{tmpdir}/a", f"{tmpdir}/b"
    _mk_table(spark, pa)
    _mk_table(spark, pb)
    res_fast = _merge_batch(spark, pa, delete_keys=(5, 7, 999))
    monkeypatch.setattr(mg, "_INLINE_CAP", 0)
    res_join = _merge_batch(spark, pb, delete_keys=(5, 7, 999))
    assert res_fast == res_join
    assert _rows(mg.read_parquet_table(spark, pa)) == _rows(
        mg.read_parquet_table(spark, pb)
    )


def test_table_changes_fast_matches_join(spark, tmpdir, monkeypatch):
    path = f"{tmpdir}/t"
    _mk_table(spark, path)
    v0 = index_fs.read_manifest(spark, path)["_seq"]
    _merge_batch(spark, path, delete_keys=(5,), include_null=False)
    df_fast, by_type = mg.table_changes_classified(
        spark, path, ["k"], v0
    )
    assert by_type is not None  # the window fast path fired
    rows_fast = _rows(df_fast)
    monkeypatch.setattr(mg, "_INLINE_CAP", 0)
    df_join, by_join = mg.table_changes_classified(
        spark, path, ["k"], v0
    )
    assert by_join is None  # the join path never carries counts
    assert rows_fast == _rows(df_join)
    # identical-value update (k=1) must appear in NEITHER feed;
    # the real update must appear as pre+post
    types = {}
    for r in df_fast.collect():
        types.setdefault(r["_change_type"], set()).add(r["k"])
    assert 1 not in types.get("update_preimage", set())
    assert 2 in types.get("update_preimage", set())
    assert 2 in types.get("update_postimage", set())
    assert 3 in types.get("update_preimage", set())  # null-value upd
    assert 5 in types.get("delete", set())
    assert 100 in types.get("insert", set())
    assert by_type == {
        t: len(ks) for t, ks in types.items()
    } | {
        t: 0
        for t in (
            "insert", "delete", "update_preimage", "update_postimage"
        )
        if t not in types
    }


def test_table_changes_null_key_falls_back(spark, tmpdir):
    # a null key in the window makes driver classification ambiguous
    # — the fast path must decline and the join path classify it as
    # an insert (null joins nothing on either side)
    path = f"{tmpdir}/tn"
    _mk_table(spark, path)
    v0 = index_fs.read_manifest(spark, path)["_seq"]
    _merge_batch(spark, path, include_null=True)
    df, by_type = mg.table_changes_classified(spark, path, ["k"], v0)
    assert by_type is None
    ins = {
        r["k"]
        for r in df.filter(
            F.col("_change_type") == "insert"
        ).collect()
    }
    assert None in ins and 100 in ins


def test_index_mutations_fast_match_join(spark, tmpdir, monkeypatch):
    from sqltask_spark.operators import dedup_index as di

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i} epsilon zeta") for i in range(60)],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (3, "alpha beta gamma delta 3 epsilon zeta"),  # stored
            (900, "totally novel words here now ok"),      # novel
        ],
        "doc_id long, text string",
    )
    take = spark.createDataFrame(
        [(0,), (7,), (4444,)], "doc_id long"
    )
    outcomes = []
    for force_join in (False, True):
        p = f"{tmpdir}/idx{int(force_join)}"
        if force_join:
            monkeypatch.setattr(index_fs, "SMALL_BATCH_CAP", 0)
        di.build_minhash_index(docs, p)
        n_app = di.append_to_minhash_index(p, batch)
        n_del = di.delete_from_minhash_index(p, take)
        ub = di.unblock_minhash_ids(spark, p, take)
        m = di.committed_manifest(spark, p)
        tombs = di.read_tombstones(spark, p, m)
        probe = di.probe_minhash_index(
            spark, p, docs.limit(10), threshold=0.4
        )
        outcomes.append(
            (
                n_app,
                n_del,
                ub["unblocked"],
                sorted(ub["rewritten_generations"]),
                sorted(
                    r["id"] for r in (tombs.collect() if tombs is not None else [])
                ),
                _rows(probe),
            )
        )
        probe.unpersist()
    assert outcomes[0] == outcomes[1]
    assert outcomes[0][0] == 1  # only the novel doc appended
    assert outcomes[0][1] == 2  # two stored ids tombstoned
    assert outcomes[0][2] == 2  # both freed again


def test_content_fingerprint_fast_matches_agg(spark):
    import sqltask_spark.data as data_mod

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (None, "c"), (3, "d")] * 5,
        "k long, v string",
    )
    fast = data_mod.content_fingerprint(df, ["k", "v"])
    # force the aggregate arm by shrinking the collect to nothing:
    # monkeypatch-free — recompute via the documented formula over a
    # deliberately over-cap-free call is impossible without the cap,
    # so compare against a manual Spark aggregate instead
    from pyspark.sql import functions as F

    hashed = df.select(F.expr("xxhash64(`k`, `v`)").alias("__h"))
    agg = hashed.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("bit_xor(__h)").alias("x"),
        F.expr(
            "CAST(pmod(sum(CAST(__h AS DECIMAL(38,0))),"
            " CAST(18446744073709551616 AS DECIMAL(38,0)))"
            " AS DECIMAL(38,0))"
        ).alias("s"),
    ).collect()[0]
    x = (agg["x"] or 0) & 0xFFFFFFFFFFFFFFFF
    s = int(agg["s"] or 0) & 0xFFFFFFFFFFFFFFFF
    assert fast == f"{agg['n']}:{x:x}:{s:x}"
    # empty relation: both arms agree on the zero fingerprint
    assert (
        data_mod.content_fingerprint(df.filter(F.lit(False)), ["k", "v"])
        == "0:0:0"
    )


def test_ivf_mutations_fast_match_join(spark, tmpdir, monkeypatch):
    from sqltask_spark.operators import ann_index as ai

    corpus = spark.createDataFrame(
        [
            (i, [float((i * 7 + j * 3) % 11) for j in range(8)])
            for i in range(50)
        ],
        "vec_id long, embedding array<double>",
    )
    batch = spark.createDataFrame(
        [
            (3, [1.0] * 8),      # stored id: idempotency drop
            (901, [0.5] * 8),    # novel
        ],
        "vec_id long, embedding array<double>",
    )
    take = spark.createDataFrame([(1,), (9_999,)], "vec_id long")
    outcomes = []
    for force_join in (False, True):
        p = f"{tmpdir}/ivf{int(force_join)}"
        if force_join:
            monkeypatch.setattr(index_fs, "SMALL_BATCH_CAP", 0)
        ai.build_ivf_index(corpus, p, "vec_id", n_cells=4)
        n_app = ai.append_to_ivf_index(p, batch, "vec_id")
        n_del = ai.delete_from_ivf_index(p, take, "vec_id")
        ub = ai.unblock_ivf_ids(spark, p, take, "vec_id")
        m = ai.committed_manifest(spark, p)
        tombs = ai.read_tombstones(spark, p, m)
        hits = ai.probe_ivf_index(
            spark, p, corpus.limit(5), "vec_id", k=3, n_probe=2
        )
        outcomes.append(
            (
                n_app,
                n_del,
                ub["unblocked"],
                sorted(
                    r["neighbor_id"]
                    for r in (tombs.collect() if tombs is not None else [])
                ),
                _rows(hits),
            )
        )
    assert outcomes[0] == outcomes[1]
    assert outcomes[0][0] == 1
    assert outcomes[0][1] == 1
    assert outcomes[0][2] == 1


def test_table_changes_fast_path_survives_file_rewrites(
    spark, tmpdir, monkeypatch
):
    # a MERGE rewrites whole files: three changed keys in a 1200-row,
    # two-file table put ~600 carried rows on each manifest-diff side.
    # The window gate is the CHANGED keys, so the fast path still
    # fires — and matches the join arm row for row
    path = f"{tmpdir}/wide"
    seed = spark.createDataFrame(
        [(i, f"v{i}", i % 3) for i in range(1200)],
        "k long, v string, grp long",
    )
    mg.create_parquet_table(
        seed.repartitionByRange(2, "k"), path, stats_col="k"
    )
    v0 = index_fs.read_manifest(spark, path)["_seq"]
    src = spark.createDataFrame(
        [(5, "new", 5, False), (900, None, 0, True), (5000, "in", 1, False)],
        "k long, v string, grp long, is_del boolean",
    )
    res = mg.merge_into_parquet(spark, path, src, ["k"], delete_col="is_del")
    assert res["rewritten_files"] == 2
    df_fast, by_type = mg.table_changes_classified(spark, path, ["k"], v0)
    assert by_type == {
        "insert": 1, "delete": 1, "update_preimage": 1,
        "update_postimage": 1,
    }
    w = mg.table_change_window(spark, path, "k", v0)
    assert [k for k, _, _ in w.inserted] == [5000]
    assert [k for k, _, _ in w.deleted] == [900]
    assert [k for k, _, _ in w.updated] == [5]
    monkeypatch.setattr(mg, "_INLINE_CAP", 0)
    df_join, by_join = mg.table_changes_classified(spark, path, ["k"], v0)
    assert by_join is None and mg.table_change_window(
        spark, path, "k", v0
    ) is None
    assert _rows(df_fast) == _rows(df_join)


def test_small_relation_round_trips_ids(spark):
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    for dtype, ids in (
        (LongType(), [2**40, -3, None, 0]),
        (IntegerType(), [7, None, -2**31]),
        (StringType(), ["a", None, "é-ü", ""]),
    ):
        schema = StructType([StructField("id", dtype, True)])
        df = index_fs.small_relation(spark, [(i,) for i in ids], schema)
        assert df.schema == schema
        assert [r["id"] for r in df.collect()] == ids
    two = StructType(
        [StructField("a", LongType()), StructField("b", StringType())]
    )
    df = index_fs.small_relation(spark, [(1, "x"), (None, None)], two)
    assert df.schema == two
    assert [tuple(r) for r in df.collect()] == [(1, "x"), (None, None)]
    empty = index_fs.small_relation(spark, [], two)
    assert empty.schema == two and empty.collect() == []


def _mh_docs(spark, n=30):
    return spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i} epsilon zeta") for i in range(n)],
        "doc_id long, text string",
    )


def test_probe_fast_path_gated_on_bands(spark, tmpdir, monkeypatch):
    # the probe inlines the batch's band hashes only when one
    # document's bands fit the literal budget: a cap of 0 disables
    # the path and a cap below the band count (16) never inlines —
    # the ids are never even collected, and the result is the join
    # formulation's
    from sqltask_spark.operators import dedup_index as di

    p = f"{tmpdir}/mh_gate"
    docs = _mh_docs(spark)
    di.build_minhash_index(docs, p)
    q = docs.limit(2).select(
        (F.col("doc_id") + 1000).alias("doc_id"), "text"
    )
    want = _rows(di.probe_minhash_index(spark, p, q, threshold=0.4))
    assert want
    calls = []
    real = index_fs.collect_id_rows

    def spy(df, id_col, cap=index_fs.SMALL_BATCH_CAP):
        calls.append(cap)
        return real(df, id_col, cap)

    monkeypatch.setattr(index_fs, "collect_id_rows", spy)
    for cap in (0, 8):
        monkeypatch.setattr(index_fs, "SMALL_BATCH_CAP", cap)
        assert _rows(
            di.probe_minhash_index(spark, p, q, threshold=0.4)
        ) == want
    assert calls == []


def test_probe_bucket_blowup_runs_candidates_once(
    spark, tmpdir, monkeypatch
):
    # a tiny batch whose candidate pairs exceed the cap (40 identical
    # documents share every bucket) takes the join formulation on the
    # candidates the bounded collect already computed: they are
    # persisted before it, so the bucket join is not run a second
    # time. Counted through a job group: 15 jobs on the test session
    # (19 when the candidates ran twice)
    from sqltask_spark.operators import dedup_index as di

    text = "alpha beta gamma delta epsilon zeta eta theta"
    p = f"{tmpdir}/mh_blowup"
    di.build_minhash_index(
        spark.createDataFrame(
            [(i, text) for i in range(40)], "doc_id long, text string"
        ),
        p,
    )
    q = spark.createDataFrame([(900, text)], "doc_id long, text string")
    monkeypatch.setattr(index_fs, "SMALL_BATCH_CAP", 16)
    sc = spark.sparkContext
    jobs = []
    for rep in range(2):  # the first probe pays one-time planning
        group = f"probe_blowup_{rep}"
        sc.setJobGroup(group, group)
        try:
            out = di.probe_minhash_index(spark, p, q, threshold=0.4)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert out.count() == 40
        out.unpersist()
        jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    assert jobs[1] <= 15, jobs


def _sync_state(spark, di, ai, mh, ivf, probe):
    mt = di.read_tombstones(spark, mh)
    it = ai.read_tombstones(spark, ivf)
    knn = ai.probe_ivf_index(
        spark, ivf, probe.select("doc_id", "embedding"), "doc_id",
        k=3, n_probe=4,
    )
    return (
        _rows(di.probe_minhash_index(
            spark, mh, probe.select("doc_id", "text"), threshold=0.4
        )),
        _rows(knn, ["query_id", "rank", "neighbor_id", "score"]),
        sorted(r["id"] for r in (mt.collect() if mt is not None else [])),
        sorted(
            r["neighbor_id"]
            for r in (it.collect() if it is not None else [])
        ),
    )


def test_sync_single_commit_matches_composed(spark, tmpdir, monkeypatch):
    # the fast-path sync (one mutation, one commit) against the
    # composition of the public mutations it replaces (forced by a
    # zero inline cap): same counts, same tombstones, same probes —
    # across deletes, updates, inserts, a key taken down straight on
    # the indexes and then updated, and a deleted key re-inserted by
    # a later window
    from sqltask_spark.operators import ann_index as ai
    from sqltask_spark.operators import dedup_index as di
    from sqltask_spark.operators.index_sync import (
        sync_ivf_index_with_table,
        sync_minhash_index_with_table,
    )

    schema = "doc_id long, text string, embedding array<float>, is_del boolean"

    def row(i, tag="", is_del=False):
        return (
            i,
            f"alpha beta gamma {tag} delta {i} epsilon zeta",
            [float((i * 7 + j * 3) % 11) + (0.5 if tag else 0.0)
             for j in range(8)],
            is_del,
        )

    windows = [
        [row(3, is_del=True), row(5, "upd"), row(7, "back"),
         row(100, "new")],
        [row(3, "again"), row(5, "twice"), row(11, is_del=True)],
    ]
    probe = spark.createDataFrame(
        [row(i + 10**6, t)[:3] for i, t in
         ((3, "again"), (5, "twice"), (7, "back"), (100, "new"), (12, ""))],
        "doc_id long, text string, embedding array<float>",
    )
    outcomes = []
    for composed in (False, True):
        root = f"{tmpdir}/arm{int(composed)}"
        tbl, mh, ivf = f"{root}/t", f"{root}/mh", f"{root}/ivf"
        docs = spark.createDataFrame(
            [row(i)[:3] for i in range(40)],
            "doc_id long, text string, embedding array<float>",
        )
        mg.create_parquet_table(docs.repartition(2), tbl, stats_col="doc_id")
        di.build_minhash_index(docs.select("doc_id", "text"), mh)
        ai.build_ivf_index(docs, ivf, "doc_id", "embedding", n_cells=4)
        take = spark.createDataFrame([(7,)], "doc_id long")
        assert di.delete_from_minhash_index(mh, take) == 1
        assert ai.delete_from_ivf_index(ivf, take, "doc_id") == 1
        seq = index_fs.read_manifest(spark, tbl)["_seq"]
        got = []
        for w in windows:
            mg.merge_into_parquet(
                spark, tbl, spark.createDataFrame(w, schema),
                ["doc_id"], delete_col="is_del",
            )
            commits = [
                index_fs.read_manifest(spark, p)["_seq"] for p in (mh, ivf)
            ]
            with monkeypatch.context() as mp:
                if composed:
                    mp.setattr(mg, "_INLINE_CAP", 0)
                for fn, p, col in (
                    (sync_minhash_index_with_table, mh, "text"),
                    (sync_ivf_index_with_table, ivf, "embedding"),
                ):
                    r = fn(spark, tbl, p, "doc_id", col, from_seq=seq)
                    got.append(
                        {**r, "rewritten_generations":
                         len(r["rewritten_generations"])}
                    )
            if not composed:  # ONE commit per sync
                assert [
                    index_fs.read_manifest(spark, p)["_seq"]
                    for p in (mh, ivf)
                ] == [c + 1 for c in commits]
            seq = index_fs.read_manifest(spark, tbl)["_seq"]
        outcomes.append((got, _sync_state(spark, di, ai, mh, ivf, probe)))
    assert outcomes[0] == outcomes[1]
    first = outcomes[0][0][0]
    assert (first["tombstoned"], first["appended"], first["unblocked"]) == (
        2, 3, 2
    )
