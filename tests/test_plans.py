"""Plan-shape tests: lock in that the headline queries produce the
physical plans the 100 TB design expects — pushdown at the scan,
broadcast dims, codegen, bounded shuffles. A regression here means a
plan silently degraded even if results stay correct."""

from __future__ import annotations

from pyspark.sql import functions as F

from sqltask_spark.plans import plan_report
from sqltask_spark.queries import QUERIES


def test_q1_pushdown_and_pruning(spark, sf_dir):
    r = plan_report(QUERIES["q1_pricing_summary"](spark, sf_dir))
    assert any("l_shipdate" in f for f in r.pushed_filters)
    assert r.has_codegen
    # scan reads only the 7 needed of 11 lineitem columns
    assert all("l_orderkey" not in s for s in r.read_schemas)
    assert r.n_exchanges <= 2  # partial agg → one shuffle (+AQE read)


def test_q3_broadcasts_and_topk(spark, sf_dir):
    r = plan_report(QUERIES["q3_shipping_priority"](spark, sf_dir))
    assert "BroadcastHashJoin" in r.join_strategies
    assert "CartesianProduct" not in r.join_strategies
    assert r.top_k  # TakeOrderedAndProject, not a global sort


def test_q5_all_dims_broadcast(spark, sf_dir):
    r = plan_report(QUERIES["q5_region_revenue"](spark, sf_dir))
    # 4 broadcast dims; only the fact-fact join may shuffle
    assert r.join_strategies.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in r.join_strategies


def test_asof_join_single_shuffle_no_join(spark, sf_dir):
    r = plan_report(QUERIES["asof_click_purchase"](spark, sf_dir))
    # union-sort as-of: a window over one shuffle, NO join operator
    assert r.join_strategies == []


def test_anti_semi_plans(spark, sf_dir):
    anti = plan_report(QUERIES["customers_without_orders"](spark, sf_dir))
    assert anti.join_strategies  # some join, never a cartesian
    assert "CartesianProduct" not in anti.join_strategies


def test_q6_full_pushdown_no_join(spark, sf_dir):
    # Q6 is the pushdown litmus test: every predicate reaches the scan,
    # nothing joins, the agg is one partial+final pair
    r = plan_report(QUERIES["q6_forecast_revenue"](spark, sf_dir))
    pushed = " ".join(r.pushed_filters)
    assert "l_shipdate" in pushed
    assert "l_discount" in pushed
    assert "l_quantity" in pushed
    assert r.join_strategies == []
    assert r.has_codegen


def test_q2_correlated_min_no_cartesian(spark, sf_dir):
    r = plan_report(QUERIES["q2_min_cost_supplier"](spark, sf_dir))
    assert "CartesianProduct" not in r.join_strategies
    assert "BroadcastHashJoin" in r.join_strategies
    assert r.top_k  # ordered limit → TakeOrderedAndProject


def test_q21_exists_shapes_no_cartesian(spark, sf_dir):
    # EXISTS / NOT EXISTS become semi/anti equi-joins, never
    # correlated per-row execution or a cartesian
    r = plan_report(QUERIES["q21_returns_blame"](spark, sf_dir))
    assert "CartesianProduct" not in r.join_strategies
    assert "BroadcastNestedLoopJoin" not in r.join_strategies


def test_dedup_embedding_pairs_no_nested_loop(spark, sf_dir):
    # the blocked exact pair join must be a shuffle equi-join on the
    # block-pair key — never a broadcast nested loop / cartesian
    r = plan_report(QUERIES["dedup_embedding_pairs"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in r.join_strategies
    assert "CartesianProduct" not in r.join_strategies
    assert r.join_strategies  # it IS a join, just an equi-join


def test_partition_pruning_reaches_scan(spark, tables, tmp_path):
    # a filter on the physical partition column must become a
    # PartitionFilter (directory pruning), not a data filter
    path = str(tmp_path / "events_part")
    (
        tables["events"]
        .withColumn("event_date", F.to_date("ts"))
        .write.partitionBy("event_date")
        .parquet(path)
    )
    df = spark.read.parquet(path).filter(
        F.col("event_date") == "2024-01-02"
    )
    r = plan_report(df)
    assert any("event_date" in p for p in r.partition_filters)
    # the partition predicate must NOT appear among data-pushed filters
    assert not any("event_date" in p for p in r.pushed_filters)


def test_bucketed_join_zero_exchanges(spark, tables, tmp_path):
    # co-located bucketed tables: the fact-fact join plan must contain
    # ZERO Exchange operators — the write-time shuffle is the only one
    from sqltask_spark.operators.colocate import colocated_join, write_bucketed

    write_bucketed(
        tables["orders"].select("o_custkey", "o_orderkey", "o_totalprice"),
        "b_orders", ["o_custkey"], 4, path=str(tmp_path / "b_orders"),
    )
    write_bucketed(
        tables["customer"]
        .select(F.col("c_custkey").alias("o_custkey"), "c_mktsegment"),
        "b_customer", ["o_custkey"], 4, path=str(tmp_path / "b_customer"),
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force the sort-merge path so the exchange count is the signal
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = colocated_join(spark, "b_orders", "b_customer", "o_custkey")
        r = plan_report(joined)
        assert "SortMergeJoin" in r.join_strategies
        assert r.n_exchanges == 0
        # and the result is the same as the plain join
        want = (
            tables["orders"]
            .join(
                tables["customer"],
                F.col("o_custkey") == F.col("c_custkey"),
            )
            .count()
        )
        assert joined.count() == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


def test_ann_lsh_windows_share_one_exchange(spark, sf_dir):
    """The LSH top-k scoring stage: candidate dedup AND the top-k rank
    both hang off the single explicit repartition(query_id) — one hash
    exchange on query_id in the whole plan (the only other hash
    exchange is the skinny bucket census on (t, bucket)), and never a
    cartesian/nested-loop join."""
    import re

    df = QUERIES["ann_topk_lsh"](spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    parts = set(re.findall(r"Exchange (\w+partitioning\([^)]*\))", plan))
    qid_hash = [
        p
        for p in parts
        if p.startswith("hashpartitioning")
        and "query_id" in p
        and "neighbor_id" not in p
    ]
    assert len(qid_hash) == 1, qid_hash
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_repetition_stats_two_aggregations_only(spark, sf_dir):
    """Repetition screen = explode + (doc,gram) agg + doc agg: at most
    two hash exchanges, no joins at all."""
    r = plan_report(QUERIES["repetition_stats"](spark, sf_dir))
    assert r.join_strategies == []
    assert r.n_exchanges <= 3  # 2 aggs + final orderBy range exchange


def test_dedup_incremental_anti_join_no_cartesian(spark, sf_dir):
    r = plan_report(QUERIES["dedup_incremental"](spark, sf_dir))
    assert "CartesianProduct" not in r.join_strategies
    assert "BroadcastNestedLoopJoin" not in r.join_strategies
    # fingerprints only: neither scan reads the raw text twice over —
    # both sides prune to (doc_id, text) before hashing
    assert r.join_strategies  # one anti join present


def test_dup_span_stats_no_cartesian(spark, sf_dir):
    # r12: the shingle-df census join was replaced by a count window
    # over the SAME shingle partitioning (one exchange instead of
    # census agg + join back) — the plan must stay join-free with the
    # window's exchange + the per-doc agg + the final sort only
    r = plan_report(QUERIES["dup_span_stats"](spark, sf_dir))
    assert "CartesianProduct" not in r.join_strategies
    assert "BroadcastNestedLoopJoin" not in r.join_strategies
    assert r.join_strategies == []  # df rides a window, no join back
    assert r.n_exchanges <= 3  # shingle window + doc agg + orderBy


def test_semdedup_cell_join_no_nested_loop(spark, sf_dir):
    # within-cell prune is an equi-join on the cell id: the quadratic
    # stays confined to cells, the plan must never fall back to a
    # nested-loop/cartesian over the full corpus
    r = plan_report(QUERIES["semdedup_keep"](spark, sf_dir))
    assert "CartesianProduct" not in r.join_strategies
    assert "BroadcastNestedLoopJoin" not in r.join_strategies


def test_domain_mix_single_aggregation(spark, sf_dir):
    # one corpus-sized agg; corpus totals arrive as a 1-ROW broadcast
    # join (replacing the former partition-less window — the global-
    # window invariant now holds catalog-wide with no exceptions), so
    # the only joins allowed are broadcast nested-loop against that
    # single-row relation; never a shuffle join, never a cartesian
    r = plan_report(QUERIES["domain_mix_weights"](spark, sf_dir))
    assert set(r.join_strategies) <= {"BroadcastNestedLoopJoin"}, (
        r.join_strategies
    )
    assert "CartesianProduct" not in r.join_strategies
    assert r.has_codegen


def test_corpus_to_training_data_single_chain(spark, sf_dir):
    # clean → dedup → split → pack composes into ONE scan chain:
    # no joins anywhere, the length floor reaches the parquet scan
    r = plan_report(QUERIES["corpus_to_training_data"](spark, sf_dir))
    assert r.join_strategies == []
    assert any("n_chars" in f for f in r.pushed_filters)
    assert r.has_codegen


def test_source_quality_cap_partial_topk_before_shuffle(spark, sf_dir):
    """The per-source cap must plan as WindowGroupLimit Partial →
    Exchange → Final, so the shuffle carries ~K rows per source
    instead of the whole source — the property that makes a
    per-domain cap feasible against a mega-domain at 100 TB."""
    import re

    df = QUERIES["source_quality_cap"](spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # anchor to the WindowGroupLimit node's own mode marker — a bare
    # "Partial" substring can hit partial aggregates elsewhere
    partial_wgl = re.search(r"WindowGroupLimit .*\bPartial\b", plan)
    assert partial_wgl, "no Partial-mode WindowGroupLimit in plan"
    # the Partial limit sits BELOW (after, in toString order) the
    # per-source hash exchange it protects
    exch = plan.index("Exchange hashpartitioning(source")
    assert exch < partial_wgl.start()
    assert "CartesianProduct" not in plan


def test_lm_perplexity_no_cartesian_vocab_broadcast(spark, sf_dir):
    # count-table joins are equi-joins on the bigram hash; the only
    # nested-loop is the 1-row vocab scalar Spark broadcasts
    r = plan_report(QUERIES["lm_perplexity"](spark, sf_dir))
    assert "CartesianProduct" not in r.join_strategies
    assert r.has_codegen


def test_knn_graph_blocked_equi_join_only(spark, sf_dir):
    # exact kNN graph scores pairs via the triangle block equi-join —
    # never a nested-loop or cartesian pair enumeration
    r = plan_report(QUERIES["knn_graph"](spark, sf_dir))
    assert "CartesianProduct" not in r.join_strategies
    assert "BroadcastNestedLoopJoin" not in r.join_strategies


def test_exact_dup_spans_equi_join_on_hash(spark, sf_dir):
    # positional dup spans: df census joins back on the hashed
    # shingle (one row per shingle) — no pair explosion paths
    r = plan_report(QUERIES["exact_dup_spans"](spark, sf_dir))
    assert "CartesianProduct" not in r.join_strategies
    assert "BroadcastNestedLoopJoin" not in r.join_strategies


def test_ivf_index_probe_matches_percall_and_prunes(spark, sf_dir, tmp_path):
    """build→probe must (a) reproduce the per-call IVF operator
    bit-for-bit (same seeded training, same tie-breaks) and (b) read
    ONLY the probed cells: the cell predicate must appear as a
    PartitionFilter on the vectors scan, not a data filter."""
    from sqltask_spark.operators.ann_index import (
        build_ivf_index,
        probe_ivf_index,
    )
    from sqltask_spark.operators.similarity import cosine_topk_ivf

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") <= 3)
    idx = str(tmp_path / "ivf")
    n_cells = build_ivf_index(emb, idx, "vec_id", "embedding", n_cells=16)
    assert n_cells == 16
    probed = probe_ivf_index(
        spark, idx, queries, "vec_id", "embedding", k=5, n_probe=8
    )
    want = {
        (r["query_id"], r["rank"], r["neighbor_id"], r["score"])
        for r in cosine_topk_ivf(
            queries, emb, "vec_id", "vec_id", k=5, n_cells=16, n_probe=8
        ).collect()
    }
    got = {
        (r["query_id"], r["rank"], r["neighbor_id"], r["score"])
        for r in probed.collect()
    }
    assert got == want
    r = plan_report(probed)
    assert any("cell" in p for p in r.partition_filters)
    assert not any("cell" in p for p in r.pushed_filters)


def test_ivf_index_append_frozen_quantizer(spark, sf_dir, tmp_path):
    """The ingest-loop append: an exact clone of the query vector
    appended under the FROZEN quantizer must land at rank 1 with
    cosine exactly 1.0 (it assigned to the query's own cell — the
    frozen-centroid assignment is arrival-order independent), and
    every pre-append neighbor must still appear, shifted down by
    exactly one rank with its score unchanged — appends never perturb
    existing results."""
    from sqltask_spark.operators.ann_index import (
        append_to_ivf_index,
        build_ivf_index,
        probe_ivf_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") == 1)
    idx = str(tmp_path / "ivf_app")
    build_ivf_index(emb, idx, "vec_id", "embedding", n_cells=16)
    before = probe_ivf_index(
        spark, idx, q, "vec_id", "embedding", k=5, n_probe=8
    ).collect()
    assert len(before) == 5

    clone = q.select(
        F.lit(990001).cast("long").alias("vec_id"), F.col("embedding")
    )
    append_to_ivf_index(idx, clone, "vec_id", "embedding")
    after = probe_ivf_index(
        spark, idx, q, "vec_id", "embedding", k=5, n_probe=8
    ).collect()
    top = [r for r in after if r["rank"] == 1][0]
    assert top["neighbor_id"] == 990001 and top["score"] == 1.0
    assert [
        (r["neighbor_id"], r["score"]) for r in after if r["rank"] >= 2
    ] == [
        (r["neighbor_id"], r["score"]) for r in before if r["rank"] <= 4
    ]


def test_ivf_pq_index_probe_matches_and_prunes_columns(
    spark, sf_dir, tmp_path
):
    """PQ-mode index: probe must reproduce the per-call IVF-PQ
    operator bit-for-bit; the ADC candidate scan must read codes
    WITHOUT the raw-vector column (column pruning), and the cell
    predicate must still prune partitions."""
    from sqltask_spark.operators.ann_index import (
        build_ivf_index,
        probe_ivf_index,
    )
    from sqltask_spark.operators.similarity import cosine_topk_ivf_pq

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") <= 3)
    idx = str(tmp_path / "ivfpq")
    build_ivf_index(
        emb, idx, "vec_id", "embedding", n_cells=16, m=16, pq_k=16
    )
    probed = probe_ivf_index(
        spark, idx, queries, "vec_id", "embedding",
        k=5, n_probe=8, use_pq=True,
    )
    want = {
        (r["query_id"], r["rank"], r["neighbor_id"], r["score"])
        for r in cosine_topk_ivf_pq(
            queries, emb, "vec_id", "vec_id", k=5,
            n_cells=16, n_probe=8, m=16, pq_k=16,
        ).collect()
    }
    got = {
        (r["query_id"], r["rank"], r["neighbor_id"], r["score"])
        for r in probed.collect()
    }
    assert got == want
    r = plan_report(probed)
    assert any("cell" in p for p in r.partition_filters)
    # the ADC pass reads codes only — some vectors scan must omit cv
    assert any("codes" in s and "cv" not in s for s in r.read_schemas)


def test_ivf_index_distributed_probe_matches_driver_probe(
    spark, sf_dir, tmp_path
):
    """The no-driver-collect probe path must reproduce the driver-side
    probe bit-for-bit (same Arrow-batched cell argsort, same salted
    join result, same tie-breaks)."""
    from sqltask_spark.operators.ann_index import (
        build_ivf_index,
        probe_ivf_index,
        probe_ivf_index_distributed,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") <= 7)
    idx = str(tmp_path / "ivf_dist")
    build_ivf_index(emb, idx, "vec_id", "embedding", n_cells=16)
    want = {
        (r["query_id"], r["rank"], r["neighbor_id"], r["score"])
        for r in probe_ivf_index(
            spark, idx, queries, "vec_id", "embedding", k=5, n_probe=8
        ).collect()
    }
    got = {
        (r["query_id"], r["rank"], r["neighbor_id"], r["score"])
        for r in probe_ivf_index_distributed(
            spark, idx, queries, "vec_id", "embedding", k=5, n_probe=8
        ).collect()
    }
    assert got == want


def test_lsh_fixed_plan_broadcast_matrix_no_cartesian(spark, sf_dir):
    """The oracled fixed-point LSH twin must keep the production
    shape: the plane matrix joins as a broadcast (it is ~dim·planes/3
    rows — never shuffled against the corpus), the candidate stage is
    an equi-join on (t, bucket), and nothing degenerates into a
    cartesian product."""
    r = plan_report(QUERIES["dedup_embedding_pairs_lsh_fixed"](spark, sf_dir))
    assert "CartesianProduct" not in r.join_strategies
    assert "BroadcastHashJoin" in r.join_strategies
    assert r.has_codegen


def test_minhash_md5_plan_no_cartesian(spark, sf_dir):
    """The md5 MinHash twin keeps the banded-LSH shape: bucket
    equi-joins only — the O(n²) cross product must never appear even
    though the twin exists for oracle parity, not speed."""
    r = plan_report(QUERIES["dedup_minhash_pairs_md5"](spark, sf_dir))
    assert "CartesianProduct" not in r.join_strategies
    assert r.has_codegen


def test_q17_broadcast_dim_single_window_shuffle(spark, sf_dir):
    """Q17: the part dim broadcasts into lineitem and the per-part
    stats come from ONE window (no stats re-join, no second fact
    scan) — the correlated-subquery shape flattened to a single hash
    exchange plus the 1-row final aggregate."""
    r = plan_report(QUERIES["q17_small_quantity"](spark, sf_dir))
    assert "BroadcastHashJoin" in r.join_strategies
    assert "CartesianProduct" not in r.join_strategies
    assert r.n_exchanges <= 3  # window hash + final agg single-part


def test_r8_diagnostics_plan_shapes(spark, sf_dir):
    """The r8 per-source diagnostics keep their designed shapes:
    adaptive filtering broadcasts its |sources|-row thresholds (never
    shuffles the corpus for the join), the census-rollup entries plan
    no cartesian and no window anywhere, entropy's only exchanges are
    the census + per-source aggregates, and the scans prune to the
    2-3 columns each entry actually reads."""
    qf = plan_report(QUERIES["quality_filter_adaptive"](spark, sf_dir))
    assert "BroadcastHashJoin" in qf.join_strategies
    assert "CartesianProduct" not in qf.join_strategies
    assert all(
        "doc_id" not in s for s in qf.read_schemas
    ), "quality filter must not read doc_id"

    ent = plan_report(QUERIES["source_unigram_entropy"](spark, sf_dir))
    assert ent.join_strategies == []
    assert ent.n_exchanges <= 3  # census + per-source agg (+ sort)

    for name in ("dup_rate_by_source", "source_overlap_matrix",
                 "event_key_skew_profile"):
        r = plan_report(QUERIES[name](spark, sf_dir))
        assert "CartesianProduct" not in r.join_strategies, name
        assert "BroadcastNestedLoopJoin" not in r.join_strategies, name


def test_minhash_calibration_no_driver_broadcast_of_corpus(spark, sf_dir):
    """The calibration's four corpus-scaled joins (signatures a/b,
    shingle sets a/b) must stay shuffle joins — the merge hints exist
    because the planner's compressed estimate can undershoot the
    broadcast threshold and collect a 32-BIGINT-per-doc relation to
    the driver (observed failure class at 500k docs)."""
    r = plan_report(QUERIES["dedup_minhash_calibration"](spark, sf_dir))
    assert r.join_strategies.count("SortMergeJoin") >= 4
    assert "CartesianProduct" not in r.join_strategies


def test_catalog_no_global_sort_window(spark, sf_dir):
    """Catalog-WIDE plan invariant (r6's only named scale-killer was a
    partition-less row_number window that no per-entry test caught):
    no entry may plan a Window whose spec has sort columns but NO
    partition columns — that is a single-task sort of its whole input.

    Window specs print as ``windowspecdefinition(part..., sort ASC
    ..., specifiedwindowframe(...))``; args carrying ASC/DESC are sort
    keys, bare args are partition keys. Global-TOTAL windows (no
    partition, no sort — e.g. ``sum(x) over ()``) are banned too: the
    two entries that used them over bounded per-source aggregates now
    express the totals as agg + 1-row broadcast join, so the invariant
    holds UNCONDITIONALLY — the whitelist is empty and should stay
    that way."""
    import re

    from sqltask_spark.queries import QUERIES

    GLOBAL_TOTAL_OK: set[str] = set()

    def split_top_level(s: str) -> list[str]:
        """Split on commas OUTSIDE parentheses only — a sort key that
        is itself a function call (``cast(x as int) ASC``) must stay
        one arg, or its fragments would miscount as partition keys
        and a global-sort window over a computed key would slip
        through (ADVICE r7)."""
        out, depth, cur = [], 0, []
        for ch in s:
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            if ch == "," and depth == 0:
                out.append("".join(cur))
                cur = []
            else:
                cur.append(ch)
        out.append("".join(cur))
        return out

    bad: dict[str, list[str]] = {}
    for name, fn in QUERIES.items():
        df = fn(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        for m in re.finditer(
            r"windowspecdefinition\((.*?)specifiedwindowframe", plan
        ):
            head = m.group(1)
            parts = [p.strip() for p in split_top_level(head) if p.strip()]
            sorts = [p for p in parts if " ASC" in p or " DESC" in p]
            partition = [
                p for p in parts if " ASC" not in p and " DESC" not in p
            ]
            if sorts and not partition:
                bad.setdefault(name, []).append(
                    f"global-sort window: {head[:120]}"
                )
            elif not sorts and not partition and name not in GLOBAL_TOTAL_OK:
                bad.setdefault(name, []).append(
                    f"global-total window: {head[:120]}"
                )
        spark.catalog.clearCache()
    assert not bad, bad


def test_contamination_bloom_broadcast_probe_no_cartesian(spark, sf_dir):
    r = plan_report(QUERIES["contamination_bloom"](spark, sf_dir))
    # the bitmap probe must be a broadcast join (the whole point at
    # 100 TB: the filter ships to the data, not the reverse)
    assert "BroadcastHashJoin" in r.join_strategies
    assert "CartesianProduct" not in r.join_strategies
    assert "BroadcastNestedLoopJoin" not in r.join_strategies
    assert r.has_codegen


def test_scd2_single_user_exchange(spark, sf_dir):
    r = plan_report(QUERIES["scd2_user_state"](spark, sf_dir))
    # both windows stack over ONE user_id hash exchange; the only
    # other exchange is the presentation orderBy's range partition
    assert r.n_exchanges <= 2
    assert r.join_strategies == []


def test_source_distinct_hll_no_joins_on_corpus(spark, sf_dir):
    r = plan_report(QUERIES["source_distinct_hll"](spark, sf_dir))
    # joins touch only register/exact summaries (sources x m rows);
    # nothing fingerprint-sized may cartesian or nested-loop
    assert "CartesianProduct" not in r.join_strategies
    assert "BroadcastNestedLoopJoin" not in r.join_strategies


def test_count_min_grid_probe_broadcast(spark, sf_dir):
    r = plan_report(QUERIES["count_min_tokens"](spark, sf_dir))
    assert "BroadcastHashJoin" in r.join_strategies
    assert "CartesianProduct" not in r.join_strategies


def test_events_k_anonymity_census_only(spark, sf_dir):
    r = plan_report(QUERIES["events_k_anonymity"](spark, sf_dir))
    # two stacked aggregations, no joins anywhere
    assert r.join_strategies == []


def test_part_basket_affinity_topk_no_cartesian(spark, sf_dir):
    r = plan_report(QUERIES["part_basket_affinity"](spark, sf_dir))
    assert r.top_k  # TakeOrderedAndProject, not a global sort
    assert "CartesianProduct" not in r.join_strategies


def test_customer_cohort_ltv_partitioned_window(spark, sf_dir):
    plan = (
        QUERIES["customer_cohort_ltv"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the cumulative sum must stay partitioned by cohort — a global
    # (empty-partition-spec) window would serialize on one task
    assert "windowspecdefinition(cohort_ts" in plan


def test_weighted_median_udaf_single_aggregation_no_window(spark, sf_dir):
    """The custom-UDAF exemplar keeps the aggregation shape: ONE
    AggregateInPandas node (both the percentile and its companion
    total are pandas aggregates in the same agg()), no window, no
    join, no cartesian — the escape-hatch aggregate plans like a
    built-in one."""
    df = QUERIES["source_weighted_median_chars"](spark, sf_dir)
    r = plan_report(df)
    assert r.join_strategies == []
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    # Spark 4 names the grouped-pandas aggregate ArrowAggregatePython
    # (AggregateInPandas in 3.x) — exactly one, whatever the name
    n_agg = final.count("ArrowAggregatePython") + final.count(
        "AggregateInPandas"
    )
    assert n_agg == 1, final
    assert "Window" not in final


def test_bpe_distributed_argmax_is_topk_not_global_sort(spark, sf_dir):
    """The distributed BPE round's argmax must plan as a partial
    top-1 (TakeOrderedAndProject) over a map-side-combined census —
    never a global sort of the pair relation."""
    from sqltask_spark.data import load_table
    from sqltask_spark.operators.bpe import word_freq_table

    docs = load_table(spark, sf_dir, "documents").limit(500)
    wf = word_freq_table(docs)
    vocab = wf.select(F.split("word", "").alias("syms"), "freq")
    pairs = (
        vocab.select(
            F.explode(
                F.arrays_zip(
                    F.slice("syms", F.lit(1), F.size("syms") - 1).alias("l"),
                    F.slice("syms", F.lit(2), F.size("syms") - 1).alias("r"),
                )
            ).alias("p"),
            "freq",
        )
        .groupBy(F.col("p.l").alias("left"), F.col("p.r").alias("right"))
        .agg(F.sum("freq").alias("pair_freq"))
    )
    best = pairs.orderBy(F.desc("pair_freq"), "left", "right").limit(1)
    best.collect()
    plan = best._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "TakeOrderedAndProject" in final
    assert "Sort [" not in final  # no global sort operator
    # census is map-side combined: partial + final aggregate pair
    assert final.count("HashAggregate") >= 2


def test_cm_probe_grid_is_broadcast(spark, tables, tmp_path):
    """The CM store probe must broadcast the (bounded ≤ g×d×w) grid
    — a shuffle join against probe tokens would shuffle the corpus
    side for a 64 KB state."""
    from sqltask_spark.operators.sketch_store import (
        cm_cell_rows,
        create_cm_store,
        read_cm_estimates,
    )
    from sqltask_spark.operators.text import tokenize

    docs = tables["documents"].filter(F.col("text").isNotNull()).limit(100)
    census = (
        docs.select(F.explode(tokenize(F.col("text"))).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("g", F.lit("__ALL__"))
    )
    store = str(tmp_path / "cm_plan")
    create_cm_store(cm_cell_rows(census, "g", "tok", "c"), store)
    probes = census.limit(10)
    est = read_cm_estimates(spark, store, probes, "g", "tok")
    r = plan_report(est)
    assert "BroadcastHashJoin" in r.join_strategies
    assert "SortMergeJoin" not in r.join_strategies
    assert "CartesianProduct" not in r.join_strategies


def test_weighted_p75_double_udaf_plan_and_values(spark, sf_dir):
    """The generalized (double-valued) weighted-percentile UDAF keeps
    the exemplar's plan shape — ONE grouped-pandas aggregation node,
    no window — and returns exact doubles: each group's hit is one of
    its input values verbatim, with at least 75% of the group's
    weight at or below it."""
    df = QUERIES["source_weighted_p75_density"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    n_agg = final.count("ArrowAggregatePython") + final.count(
        "AggregateInPandas"
    )
    assert n_agg == 1, final
    assert "Window" not in final
    rows = df.collect()
    assert rows and all(
        isinstance(r["wp75_density"], float) for r in rows
    )
    # semantic spot-check against a driver-side recompute of one group
    from sqltask_spark.data import load_table

    g = rows[0]["source"]
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("n_chars").isNotNull())
        .filter(F.col("source") == g)
        .select(
            (F.col("n_chars").cast("double") / F.lit(16.0)).alias("v"),
            (F.lit(1) + F.col("doc_id") % 10).alias("w"),
        )
        .collect()
    )
    pairs = sorted((r["v"], r["w"]) for r in docs)
    tot = sum(w for _, w in pairs)
    cum = 0
    expect = None
    for v, w in pairs:
        cum += w
        if 4 * cum >= 3 * tot:
            expect = v
            break
    assert rows[0]["wp75_density"] == expect


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_text_scores_plan_no_lambdas_one_tokenizer_per_language(spark):
    """lang_id, quality_score and stopword_ratio are plain expressions:
    no higher-order lambda (interpreted, outside subexpression
    elimination) and, for lang_id, one tokenizer per language instead
    of a CASE tree that re-inlines every earlier score per branch."""
    from sqltask_spark.operators import text as tx

    df = spark.createDataFrame([(1, "the a")], "id long, text string")
    t = F.col("text")
    for score in (tx.lang_id(t), tx.quality_score(t), tx.stopword_ratio(t)):
        assert "lambdafunction" not in _executed(df.select(score.alias("s")))
    plan = _executed(df.select(tx.lang_id(t).alias("lang")))
    assert plan.count("regexp_replace") == len(tx.STOPWORDS)


def test_shingled_docs_tokenizes_once(spark):
    """The shingle projection normalizes each document once: the
    executed plan holds exactly one regexp_replace, however many
    slices and hashes read the token array."""
    from sqltask_spark.operators.dedup import shingled_docs

    df = spark.createDataFrame([(1, "a b c d")], "id long, text string")
    plan = _executed(shingled_docs(df, "id", "text"))
    assert plan.count("regexp_replace") == 1
