"""Physical-plan regression tests: the scale invariants the engine's
operators were designed around, pinned so a refactor cannot silently
reintroduce a shuffle/skew anti-pattern. These complement the value
parity gates — a query can be correct at sf0.01 and catastrophic at
100 TB; these assertions are the difference."""

from __future__ import annotations

import pytest

from demo_pgvector_spark import registry

SF = "/root/testdata/sf0.001"


def _plan(spark, key):
    # Consolidated-away keys (filt_model_eq, stream_window_counts, ...)
    # keep their standalone query functions; pin those plans directly.
    entry = registry.REGISTRY.get(key)
    fn = entry[0] if entry else getattr(registry, f"q_{key}")
    return fn(spark, SF)._jdf.queryExecution().executedPlan().toString()


def _shuffles(plan: str) -> int:
    """Count data shuffles: hash/range repartition exchanges. Broadcast
    exchanges move only the small side and don't count against a plan."""
    import re

    return len(re.findall(r"Exchange (?:hash|range|Single)", plan))


def test_flagship_topk_never_shuffles(spark):
    """orderBy+limit must plan as TakeOrderedAndProject (per-partition
    partial top-k), and the post-limit payload join must broadcast the
    k-row side — no sort-merge join, no exchange feeding the top-k."""
    plan = _plan(spark, "vec_sim_topk")
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_knn_join_has_no_window(spark):
    """The kNN join's top-k is the two-stage partial aggregation — a
    per-probe row_number window (single partition per probe over the
    whole scored table) must never come back."""
    plan = _plan(spark, "vec_knn_join")
    assert "Window" not in plan
    assert plan.count("HashAggregate") >= 4  # partial+final × two stages


def test_single_exchange_aggregations(spark):
    """Plain groupBy aggregations must shuffle exactly once (map-side
    partial combine before the exchange)."""
    for key in ("dedup_simhash", "stream_window_counts", "agg_word_counts"):
        plan = _plan(spark, key)
        assert _shuffles(plan) == 1, (key, _shuffles(plan))
        assert "partial" in plan.lower(), key
    # tpch_q1 adds one legitimate range exchange for its output ORDER BY
    plan = _plan(spark, "tpch_q1")
    assert _shuffles(plan) == 2, _shuffles(plan)


def test_pure_map_operators_have_zero_exchanges(spark):
    """Scan-fused projections must not shuffle at all."""
    for key in (
        "emb_hash_embed",
        "proj_similarity",
        "text_fingerprint",
        "text_quality",
        "src_route",
        "chunk_docling",
        "mm_decode_image",
    ):
        plan = _plan(spark, key)
        assert _shuffles(plan) == 0, key


def test_predicate_pushdown_reaches_scan(spark):
    """A filter on a scanned column must appear in the parquet scan's
    PushedFilters, not only as a post-scan Filter."""
    plan = _plan(spark, "filt_model_eq")
    assert "PushedFilters: [" in plan
    assert "PushedFilters: []" not in plan.split("PushedFilters:")[1][:5]


def test_sidecar_join_broadcasts_dimension(spark):
    plan = _plan(spark, "meta_sidecar")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_column_pruning(spark):
    """A 2-column projection over documents must not read the text-heavy
    columns it doesn't use. Cached plans from other test modules would
    satisfy the lookup with an InMemoryRelation (no file-scan pruning to
    observe), so the cache is cleared first — cached fixtures elsewhere
    recompute lazily."""
    from demo_pgvector_spark import tables

    spark.catalog.clearCache()
    df = tables.load(spark, SF, "documents").select("doc_id", "lang")
    plan = df._jdf.queryExecution().executedPlan().toString()
    rs = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "text" not in rs, rs


def test_bucketed_join_needs_no_exchange(spark):
    """Bucketed tables co-locate join keys at write time: a join between
    two tables bucketed on the key must plan with ZERO shuffles — the
    100 TB recipe for repeated big-big joins. Broadcast is disabled so
    the planner must prove it can use bucket-to-bucket sort-merge (at
    real scale neither side would fit a broadcast anyway)."""
    from demo_pgvector_spark import tables

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        import shutil

        wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        for t in ("b_docs", "b_emb"):
            # the in-memory catalog forgets tables across sessions but the
            # warehouse directory persists — clear both
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            shutil.rmtree(f"{wh}/{t}", ignore_errors=True)
        docs = tables.load(spark, SF, "documents")
        emb = tables.load(spark, SF, "embeddings")
        docs.write.mode("overwrite").bucketBy(8, "doc_id").sortBy(
            "doc_id"
        ).saveAsTable("b_docs")
        emb.select("vec_id", "label").write.mode("overwrite").bucketBy(
            8, "vec_id"
        ).sortBy("vec_id").saveAsTable("b_emb")
        a, b = spark.table("b_docs"), spark.table("b_emb")
        j = a.join(b, a.doc_id == b.vec_id)
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert _shuffles(plan) == 0, plan
        assert "SortMergeJoin" in plan
        assert "Bucketed: true" in plan
        assert j.count() == 500
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        for t in ("b_docs", "b_emb"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_chunk_bpe_single_exchange(spark):
    """chunk_bpe shuffles exactly once: the per-document cumsum window's
    hash exchange on doc_id. The chunk regroup's (doc_id, chunk_number)
    clustering is satisfied by the same partitioning, so the aggregate
    planner reuses it (partial+final ObjectHashAggregate, no second
    exchange)."""
    plan = _plan(spark, "chunk_bpe")
    assert _shuffles(plan) == 1, plan
    assert "ObjectHashAggregate" in plan


def test_kmeans_assignment_is_shuffle_free_projection(spark):
    """The kmeans output (final assignment) must be the inlined-centroid
    argmax PROJECTION — no join, no aggregation, no exchange of any kind
    over the vector table (round 3: replaced the broadcast-join +
    groupBy(vec_id) shape, which exchanged every row per Lloyd step)."""
    plan = _plan(spark, "cluster_kmeans")
    assert "array_position" in plan  # the inlined argmax
    for op in ("Exchange", "Join", "HashAggregate"):
        assert op not in plan, f"unexpected {op} in:\n{plan}"


def test_minhash_pairs_bucket_local_enumeration(spark):
    """Round-4 shape: candidate pairs come from ONE bucket aggregation
    (collect_list per (band, key)) + an array-lambda pair projection —
    no self-join of the exploded band rows, so no second shuffle+sort of
    the banded data. Remaining exchanges: the bucket groupBy, the
    cross-band pair dedup, and the rank-window's single partition."""
    plan = _plan(spark, "dedup_minhash_pairs")
    assert "collect_list" in plan
    # the old shape merge-joined banded ON (band, key): no join may
    # consume the band columns now
    import re

    assert not re.search(r"SortMergeJoin.*band", plan), plan
    assert plan.count("Exchange hashpartitioning(band") == 1, plan


@pytest.mark.parametrize(
    "key, bucket",
    [
        ("mm_phash_dedup", ("band", "key")),
        ("mm_audio_dedup", ("band", "key")),
        ("dedup_embedding", ("t", "sig")),
        ("vec_ann_join", ("t", "sig")),
    ],
)
def test_bucket_pair_candidates_come_from_one_bucket_equi_join(spark, key, bucket):
    """The self-join family (fingerprint bands, embedding LSH tables,
    the ANN probe lookup): candidates come from exactly ONE equi-join on
    the bucket columns, and no join in the plan is a product."""
    import re

    plan = _plan(spark, key)
    keys = re.findall(
        r"(?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \[([^\]]*)\]", plan
    )
    band, k = bucket
    on_bucket = [j for j in keys if re.fullmatch(rf"{band}#\d+L?, {k}#\d+L?", j)]
    assert len(on_bucket) == 1, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_percentiles_are_range_partitioned_not_buffered(spark):
    """Round-4 shape: exact percentiles must run the distributed-rank
    plan — a RANGE repartition of (key, value) with parallel partition
    sorts — never the builtin percentile() aggregate, whose buffer holds
    every group value on one reducer."""
    plan = _plan(spark, "agg_percentiles")
    assert "rangepartitioning" in plan, plan
    assert "percentile(" not in plan, plan
    assert "monotonically_increasing_id" in plan


def test_tpch_q5_broadcasts_dimension_chain(spark):
    """The region→nation→supplier dim chain must broadcast (never a
    fact-side shuffle for dimensions) and the region literal filter must
    reach the region scan as a pushed data filter."""
    plan = _plan(spark, "tpch_q5")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "r_name" in plan and "= ASIA" in plan.replace("ASIA)", "ASIA) ")
    # at test SF every join broadcasts; the single exchange is the
    # per-nation aggregation
    assert "SortMergeJoin" not in plan


def test_bucketed_join_plan_is_exchange_free(spark, tmp_path):
    """The co-bucketed layout contract: join + same-key aggregation over
    two tables bucketed on the join key run with ZERO exchanges — the
    shuffle was paid once at write time. (Two in-partition no-shuffle
    sorts remain: Spark only trusts sortBy file ordering behind the
    legacy bucketedTableScan.outputOrdering conf.)"""
    import os

    from demo_pgvector_spark import tables
    from demo_pgvector_spark.operators import relational as rel

    sf = SF
    rel.write_bucketed(
        tables.load(spark, sf, "lineitem"), "t_li_bkt", "l_orderkey",
        os.path.join(str(tmp_path), "li"),
    )
    rel.write_bucketed(
        tables.load(spark, sf, "orders"), "t_ord_bkt", "o_orderkey",
        os.path.join(str(tmp_path), "ord"),
    )
    try:
        out = rel.bucketed_revenue_join(spark, "t_li_bkt", "t_ord_bkt")
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        # one parquet file per bucket: the small-file contract
        li_files = [f for f in os.listdir(str(tmp_path / "li")) if f.endswith(".parquet")]
        assert len(li_files) == 8
    finally:
        spark.sql("DROP TABLE IF EXISTS t_li_bkt")
        spark.sql("DROP TABLE IF EXISTS t_ord_bkt")


def test_pq_topk_plan_zero_exchange_two_heaps(spark):
    """PQ search is scan → fold projection → TakeOrdered(shortlist) →
    re-rank projection → TakeOrdered(k): no exchange, no join, no
    Python anywhere."""
    plan = _plan(spark, "vec_pq_topk")
    assert plan.count("TakeOrderedAndProject") == 2
    assert _shuffles(plan) == 0
    assert "Join" not in plan
    assert "EvalPython" not in plan


def test_ivfpq_plan_zero_exchange(spark):
    """IVFADC composite: cluster assignment + IN filter + PQ folds +
    two heaps fuse into one zero-exchange, join-free, Python-free plan."""
    plan = _plan(spark, "vec_ivfpq_topk")
    assert plan.count("TakeOrderedAndProject") == 2
    assert _shuffles(plan) == 0
    assert "Join" not in plan
    assert "EvalPython" not in plan


def test_ivfpq_pruned_probe_prunes_partitions_and_scans_stored_codes(
    spark, tmp_path
):
    """The IVFADC serving layout (ann.ivfpq_write): the probe's cluster
    predicate must be a PARTITION filter (nprobe of k directories read,
    not a row filter over everything), and ADC scoring must read the
    STORED code columns — constant-array lookups only; the only
    zip_with fold left is the exact re-rank over the ≤shortlist rows
    after the first TakeOrdered heap."""
    from demo_pgvector_spark import tables
    from demo_pgvector_spark.operators import ann as ann_ops

    emb = tables.load(spark, SF, "embeddings")
    cents_rows = emb.orderBy("vec_id").limit(16).collect()
    cents = [[float(x) for x in r["embedding"]] for r in cents_rows]
    books = ann_ops.train_pq_codebooks(emb, m=8, k=16, sample=256, iters=2)
    q = [float(x) for x in cents_rows[0]["embedding"]]

    path = str(tmp_path / "ivfpq")
    ann_ops.ivfpq_write(emb, cents, books, path)
    out = ann_ops.ivfpq_topk_pruned(spark, path, cents, books, q, nprobe=4)
    plan = out._jdf.queryExecution().executedPlan().toString()

    assert "PartitionFilters" in plan and "cluster" in plan.split(
        "PartitionFilters", 1
    )[1].split("]", 1)[0]
    assert plan.count("element_at") >= 8      # stored-code ADC lookups
    # no per-row quantization folds over the scan: at most the single
    # exact re-rank fold (post-TakeOrdered) may surface in the plan text
    assert plan.count("zip_with") <= 1
    assert _shuffles(plan) == 0
    assert plan.count("TakeOrderedAndProject") == 2
    # only nprobe of the 16 cluster directories are listed by the scan
    import re

    m = re.search(r"PartitionCount: (\d+)", plan)
    if m:  # Spark prints it for file scans
        assert int(m.group(1)) == 4


def test_tpch_q4_exists_is_semi_join(spark):
    """The EXISTS screen must plan as a LEFT SEMI join (never an inner
    join + dedup, never a correlated per-row subquery), with the
    correlated late-ship predicate inside the join condition and both
    date filters pushed to their scans."""
    plan = _plan(spark, "tpch_q4")
    assert "LeftSemi" in plan
    assert "INTERVAL '60' DAY" in plan
    assert _shuffles(plan) == 2  # grouped count + output ORDER BY


def test_tpch_q19_disjunction_pushes_per_side_residuals(spark):
    """Catalyst must derive per-side residual filters from the OR'd
    (brand, size, quantity) branches: the lineitem scan keeps a
    quantity-range disjunction, the part scan a brand/size disjunction —
    neither side scans rows no branch could accept."""
    plan = _plan(spark, "tpch_q19")
    # quantity bounds reached the lineitem side pre-join
    assert "l_quantity" in plan.split("BroadcastHashJoin")[1]
    scans = plan.split("FileScan parquet")
    li_scan = next(s for s in scans[1:] if "l_quantity" in s[:400])
    part_scan = next(s for s in scans[1:] if "p_brand" in s[:400])
    assert "l_quantity" in li_scan[:400]
    # the scan string elides long filter lists ("...") once session
    # column ids grow, so pin the pushed disjunction structurally: a
    # brand equality inside an Or tree on the part scan
    assert "p_brand" in part_scan[:600] and "Or(" in part_scan[:600]
    assert _shuffles(plan) == 1  # the single global-aggregate exchange


def test_tpch_q17_correlated_avg_is_single_exchange_window(spark):
    """The per-part average must be a window over the brand-filtered
    subset — ONE hash exchange on l_partkey, no second lineitem scan,
    no driver-side loop."""
    plan = _plan(spark, "tpch_q17")
    assert "Window" in plan
    assert plan.count("FileScan parquet") == 2  # lineitem once, part once
    assert _shuffles(plan) == 2  # partkey window + global aggregate


def test_tpch_q22_threshold_is_integer_cents(spark):
    """The above-average screen must compare BIGINT cents (no double
    summation-order sensitivity) via a 1-row broadcast, and the
    inactivity screen must be an ANTI join."""
    plan = _plan(spark, "tpch_q22")
    assert "LeftAnti" in plan
    assert "round" in plan and "as bigint" in plan


def test_tpch_q2_min_rejoin_broadcasts_dims(spark):
    """The decorrelated MIN rejoin: the bridge aggregate partial-combines
    before its exchange, the supplier/nation/region chain broadcasts
    (never a fact-side shuffle for dimensions), and the per-part min
    joins back by key+cost equality — no window over the fact side."""
    plan = _plan(spark, "tpch_q2")
    assert "partial_min" in plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert "Window" not in plan
    assert "= ASIA" in plan.replace("ASIA)", "ASIA) ")


def test_tpch_q9_dims_broadcast_before_fact(spark):
    """Q9's join-order property: the LIKE-filtered part dim and the
    supplier/nation chain must all be BROADCAST build sides against the
    single lineitem scan — never a fact-side shuffle for a dimension,
    never fact×fact first. Only the grouped aggregate and the output
    sort may exchange."""
    plan = _plan(spark, "tpch_q9")
    assert plan.count("BroadcastHashJoin") == 4
    assert "SortMergeJoin" not in plan
    assert _shuffles(plan) == 2  # (nation, year) agg + output sort


def test_tpch_q20_decorrelates_fully(spark):
    """Q20 is written as SQL with a nested IN and a CORRELATED scalar
    aggregate; Catalyst must decorrelate both — the correlated SUM
    becomes a grouped aggregate joined back on l_partkey and the INs
    become semi joins. NO per-row subquery may survive physical
    planning."""
    plan = _plan(spark, "tpch_q20")
    assert "Subquery" not in plan and "InSubquery" not in plan
    assert "LeftSemi" in plan
    # the dominance test joins the per-(supp,part) sums to the per-part
    # totals as an aggregate-vs-aggregate join, not a re-scan per row
    assert plan.count("HashAggregate") >= 4


def test_dedup_containment_never_goes_quadratic(spark):
    """The asymmetric AllPairs join must stay an equi-join on gram keys —
    no cartesian/nested-loop pair enumeration — and its aggregates must
    partial-combine."""
    plan = _plan(spark, "dedup_containment")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial" in plan.lower()


def test_win_range_numeric_single_partition_exchange(spark):
    """The numeric RANGE frame: exactly one hash exchange (the part
    key), a Window with a RANGE frame spec, and the partkey filter
    pushed to the scan."""
    plan = _plan(spark, "win_range_numeric")
    assert "Window" in plan
    assert _shuffles(plan) == 1
    assert "RangeFrame, -5, 5" in plan
    assert "LessThan(l_partkey,200)" in plan.replace(" ", "")


def test_semdedup_pairs_one_cluster_exchange_arrow_matmul(spark):
    """SemDeDup's pair stage: exactly ONE hash exchange (the cluster
    key) feeding an Arrow FlatMapGroupsInPandas (the per-cluster BLAS
    matmul) — never a pair self-join, never a cartesian. The candidate
    volume is Σ C(n_i, 2), bounded by the clustering."""
    from demo_pgvector_spark.operators import dedup as dedup_ops
    from demo_pgvector_spark import tables

    emb = tables.load(spark, SF, "embeddings").select("vec_id", "embedding")
    cents = registry._seed_vectors(spark, SF)
    pairs = dedup_ops.semantic_pairs(dedup_ops.semantic_assign(emb, cents), 0.35)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan
    assert plan.count("Exchange hashpartitioning(cluster") == 1, plan
    assert _shuffles(plan) == 1, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" not in plan, plan


def test_quality_model_broadcasts_weights_single_exchange(spark):
    """The model-based quality filter: the weight table must BROADCAST
    (vocabulary-bounded — never a corpus-side shuffle for the model) and
    the per-doc aggregation must be the plan's only data exchange."""
    plan = _plan(spark, "text_quality_model")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert _shuffles(plan) == 1, plan


def test_edit_distance_join_broadcasts_grid_and_verify_is_scan_fused(spark):
    """join_edit_distance (operators/fuzzy.py PassJoin): the (dl, i,
    shift) probe grid and the tau+1 segment index must enter as
    BROADCAST nested-loop cross joins (45 and 3 rows — never shuffled);
    the candidate join is a real equi hash join on (L, i, seg); the
    levenshtein verify is a Filter, not another join; and nothing plans
    as a CartesianProduct over the names themselves."""
    plan = _plan(spark, "join_edit_distance")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the literal grids
    assert "levenshtein" in plan
    # candidate equi-join + the two name re-joins are hash joins
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan)


def test_stateful_funnel_plans_the_state_operator(spark):
    """stream_stateful_funnel: the batch-mode plan of the funnel query
    is not pinnable (it only exists as a streaming query), so pin the
    ANALYZED streaming plan instead: the FlatMapGroupsInPandasWithState
    node with EventTimeTimeout and the watermark node feeding it."""
    from pyspark.sql import functions as F

    from demo_pgvector_spark import tables
    from demo_pgvector_spark.streaming.stateful import funnel_sessions

    ev = tables.load(spark, SF, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    # a bounded df exercises the same analyzed operator tree the stream
    # uses; funnel_sessions only adds the stateful node
    plan = funnel_sessions(
        ev.withWatermark("ts", "1 day")
    )._jdf.queryExecution().analyzed().toString()
    assert "FlatMapGroupsInPandasWithState" in plan
    assert "EventTimeTimeout" in plan


def test_sample_priority_is_scan_fused_topk(spark):
    """sample_priority: the whole operator must be a scan-fused
    projection feeding TakeOrderedAndProject — per-partition k-row
    heaps, NO exchange, NO global Sort (the one-pass contract that
    holds at any corpus size)."""
    plan = _plan(spark, "sample_priority")
    assert "TakeOrderedAndProject" in plan
    assert _shuffles(plan) == 0
    assert "Join" not in plan


def test_layout_zorder_single_exchange_no_joins(spark):
    """layout_zorder: Morton code + bucket are pure projections over
    the scan; the only exchange is the partial-combined envelope
    aggregation (HashAggregate both sides of ONE shuffle)."""
    plan = _plan(spark, "layout_zorder")
    assert _shuffles(plan) == 1
    assert "Join" not in plan
    assert "HashAggregate" in plan


def test_graph_triangles_no_cartesian_all_hash_joins(spark):
    """graph_triangles: the wedge join and the closing semi-join must
    plan as hash joins on real keys — never a CartesianProduct or
    BroadcastNestedLoopJoin over the edge list (the shape that dies at
    scale)."""
    plan = _plan(spark, "graph_triangles")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftSemi" in plan  # closing edge check never widens rows


def test_graph_bfs_compiles_rounds_without_cartesian(spark):
    """graph_bfs: every relaxation round is a keyed join + min-agg;
    nothing may plan as a cartesian/nested-loop join, and the seed
    table side stays a proper join input."""
    plan = _plan(spark, "graph_bfs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_join_interval_is_hash_join_not_nested_loop(spark):
    """join_interval: the overlap predicate alone would plan as a
    BroadcastNestedLoopJoin; the exploded grid cell must carry the join
    as a HASH join with the overlap + ownership as residual."""
    plan = _plan(spark, "join_interval")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Generate explode" in plan  # the cell explode
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_graph_ppr_compiles_rounds_without_cartesian(spark):
    """graph_ppr: same Pregel shape as graph_pagerank — K iterations in
    one job, keyed joins + partial-combining sums; no cartesian/nested-
    loop join anywhere, no window over the edge stream."""
    plan = _plan(spark, "graph_ppr")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" not in plan


def test_win_sessionize_one_exchange_one_sort(spark):
    """win_sessionize: one hash exchange on user_id must feed ALL the
    window passes (lag → island cumsum → per-session row_number) with a
    single in-partition sort — no joins, no second shuffle."""
    plan = _plan(spark, "win_sessionize")
    assert _shuffles(plan) == 1
    assert "Join" not in plan
    assert plan.count("Sort ") <= 2  # ≤1 per window partitioning spec


def test_vec_mmr_pool_is_takeordered_no_corpus_join(spark):
    """vec_mmr_rerank: the only corpus-sized stage is the pool
    construction, which must plan as TakeOrderedAndProject (per-
    partition heaps, no exchange before the top-k); everything after
    runs on k-bounded checkpointed frames."""
    from demo_pgvector_spark import tables
    from demo_pgvector_spark.functions.vector import (
        cosine_similarity,
        query_vector_literal,
    )
    from pyspark.sql import functions as F

    from demo_pgvector_spark.registry import _query_vec

    emb = tables.load(spark, SF, "embeddings")
    q = query_vector_literal(_query_vec(spark, SF))
    pool = (
        emb.select(
            "vec_id",
            F.round(cosine_similarity(F.col("embedding"), q), 6).alias("simq"),
        )
        .orderBy(F.col("simq").desc(), F.col("vec_id").asc())
        .limit(20)
    )
    plan = pool._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert _shuffles(plan) == 0


def test_ts_resample_grid_not_event_sized_no_cartesian(spark):
    """ts_resample: the fill window must sort GRID rows (span×keys),
    never the raw event stream — the plan carries the explode(sequence)
    grid generator, hash joins only, and no window over the un-bucketed
    events."""
    plan = _plan(spark, "ts_resample")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Generate explode" in plan  # the sequence-exploded grid


def test_graph_lpa_hash_joins_and_aggs_only(spark):
    """graph_lpa: every round is a keyed join + two partial-combining
    aggregates; nothing may plan as a cartesian/nested-loop join, and
    the argmax is a min_by aggregate (r8: tie-break negates the COUNT,
    not the label, so any orderable label domain works — ADVICE r7 #3),
    not a window over the full (node, label) stream."""
    plan = _plan(spark, "graph_lpa")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "min_by" in plan
    assert "Window" not in plan


def test_profile_table_two_scans_stats_not_expanded(spark):
    """profile_table: exactly TWO FileScans — plain stats and the
    exact-distinct Expand — and NO first() wrappers: fusing both into
    one agg routes the plain stats through ``first() FILTER (gid=...)``
    over the 6-way-expanded stream (~8x slower, measured 8-10 s vs ~2 s
    at sf0.1). A SortAggregate with EMPTY grouping keys remains for the
    string min/max (non-mutable buffer, declarative — no
    ObjectHashAggregate eligibility), which sorts nothing; the first()
    shape is the regression signature, so that is what is pinned."""
    plan = _plan(spark, "profile_table")
    assert plan.count("FileScan") == 2
    assert "Expand" in plan
    assert "first(" not in plan
    assert "SortMergeJoin" not in plan


def test_retrieval_rrf_adds_no_corpus_pass(spark):
    """VERDICT r9 #3's plan contract: the fused plan is EXACTLY the two
    retrieval pipelines' corpus scans (1 embeddings scan for dense, 2
    documents scans for BM25's corpus-stats + score passes) plus k-row
    fusion — no additional corpus pass, no cartesian, and the fusion
    inputs stay TakeOrderedAndProject-bounded."""
    plan = _plan(spark, "retrieval_rrf")
    assert plan.count("Scan parquet") == 3
    assert plan.count("TakeOrderedAndProject") == 3  # top15 + top15 + top10
    assert "CartesianProduct" not in plan
    # exactly ONE nested-loop join: bm25's own 1-row corpus-stats
    # broadcast (the scalar-join shape its standalone plan always had);
    # the fusion itself must not add another
    assert plan.count("BroadcastNestedLoopJoin") == 1


def test_ccnet_buckets_no_global_ntile_window(spark):
    """VERDICT r10 #3's plan contract: the head/middle/tail split must
    run the distributed-rank plan — a RANGE repartition of the scored
    docs with parallel partition sorts + monotonically_increasing_id —
    with NTILE's bucket arithmetic applied as a scan-fused expression.
    No ntile window (the old shape single-partitioned the entire scored
    corpus; Spark itself warned 'Moving all data to a single
    partition'); the one unpartitioned window left is the offset
    aggregate over per-partition rows (<= shuffle partitions of them)."""
    plan = _plan(spark, "text_ccnet_buckets")
    assert "ntile" not in plan.lower(), plan
    assert "rangepartitioning" in plan, plan
    assert "monotonically_increasing_id" in plan
    # the offsets frame joins back as a broadcast, never a corpus shuffle
    assert "BroadcastHashJoin" in plan


def test_graph_hits_final_segment_equi_joins_no_cartesian(spark):
    """hits(): the per-round a_raw/h_raw frames feed TWO consumers each
    (the max scalar and the normalize), so each round lazily
    checkpoints — without that the plan doubles per half-step (2^8
    copies by round 4). The checkpoints truncate the visible executed
    plan to the final segment, so this pins that segment (the two
    payload equi-joins over checkpointed score frames: no cartesian,
    no nested-loop) — the per-round recurrence itself is pinned
    semantically against the Python replay in tests/test_graph.py,
    and the scalar-max joins are crossJoin(broadcast(1-row)) by
    construction in the operator source."""
    plan = _plan(spark, "graph_hits")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("SortMergeJoin") <= 2


def test_dedup_lines_explodes_once_no_cartesian(spark):
    """dedup_lines: the exploded line relation materializes ONCE (an
    eager localCheckpoint — without it the corpus scan+posexplode
    re-ran per consuming branch, 3 Generates in the round-11 first
    cut), so the final plan shows ZERO Generates and exactly TWO
    RDD-scan leaves (the verdict-aggregate side and the join probe
    side of the same materialized relation); equi-joins only, verdict
    aggregate partial-combining, no cartesian anywhere."""
    plan = _plan(spark, "dedup_lines")
    assert plan.count("Generate") == 0, plan
    assert plan.count("Scan ExistingRDD") == 2, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashAggregate" in plan


def test_sample_temperature_corpus_never_shuffles(spark):
    """sample_temperature: the corpus-sized path is scan → broadcast
    threshold join → scan-fused integer filter; the only exchanges
    carry the |domains|-row count/denominator frames, and the corpus
    reaches the filter without repartitioning (no range/single
    partition exchange; hash exchanges only on the tiny aggregates)."""
    plan = _plan(spark, "sample_temperature")
    assert "CartesianProduct" not in plan
    assert "Exchange rangepartitioning" not in plan
    assert "BroadcastHashJoin" in plan  # thresholds broadcast onto the scan
    # the documents scan feeds the broadcast join directly — no exchange
    # between scan and join on the corpus side: every hash exchange in
    # the plan belongs to a groupBy over domain counts (<= 2 of them)
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def _exec_tree(node):
    """The executed plan's operators below ``node``, as (name, node,
    children) triples: AQE wrappers and stage boundaries are looked
    through, so the tree is the final plan's operators."""
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return _exec_tree(node.executedPlan())
    if name.endswith("QueryStageExec"):
        return _exec_tree(node.plan())
    kids = [node.children().apply(i) for i in range(node.children().size())]
    return name, node, [_exec_tree(k) for k in kids]


def test_curation_audit_streams_the_corpus_past_batch_broadcasts(
    spark, tmp_path
):
    """curate_incremental over parquet corpus, band-index and batch
    inputs: (a) no exchange carries corpus rows — between every corpus
    text or band scan and the nearest exchange above it sits a join (in
    this plan each one streams the corpus past a batch-sized broadcast),
    so only candidate and match rows are shuffled; (b) the corpus
    shingle projection sits above the join with the candidate ids, so
    only candidates are shingled."""
    from pyspark.sql import functions as F

    from demo_pgvector_spark.operators import curation, dedup

    ddl = "doc_id long, text string"

    def doc(i, n=30):
        return " ".join(f"t{(i * 7 + j) % 97}x{j % 5}" for j in range(n))

    def parquet(name, rows):
        path = str(tmp_path / name)
        spark.createDataFrame(rows, ddl).write.parquet(path)
        return spark.read.parquet(path)

    corpus = parquet("corpus", [(i, doc(i)) for i in range(40)])
    batch = parquet(
        "batch",
        [(100, doc(3)), (101, doc(5).replace("x0", "y0", 1)), (102, doc(500)),
         (103, doc(500)), (104, "short text")],
    )
    eval_docs = spark.createDataFrame([(900, doc(7))], ddl)
    dedup.band_index_write(corpus, str(tmp_path / "bands"))
    bands = spark.read.parquet(str(tmp_path / "bands")).select(
        "doc_id", F.col("band").cast("int").alias("band"), "key"
    )
    out = curation.curate_incremental(corpus, batch, eval_docs, corpus_bands=bands)
    got = {r["doc_id"]: r for r in out.collect()}
    assert got[100]["exact_dup"] and got[101]["near_dup"] and got[103]["exact_dup"]

    corpus_dirs = {str(tmp_path / "corpus"), str(tmp_path / "bands")}
    scanned, exchanged, shingled = set(), [], []

    def walk(tree, nearest, below_shingles):
        name, node, kids = tree
        if name.endswith("ExchangeExec") and name != "ReusedExchangeExec":
            nearest = "exchange"
        elif "Join" in name or name == "CartesianProductExec":
            nearest = "join"
            below_shingles = below_shingles and "join"
        elif name == "ProjectExec" and "array_distinct(transform(sequence(0" in (
            node.simpleString(1000)
        ):
            below_shingles = "projection"
        if name == "FileSourceScanExec":
            root = node.relation().location().rootPaths().apply(0).toString()
            if root.removeprefix("file:") in corpus_dirs:
                scanned.add(root.removeprefix("file:"))
                if nearest == "exchange":
                    exchanged.append(root)
                if below_shingles:
                    shingled.append(below_shingles)
        for kid in kids:
            walk(kid, nearest, below_shingles)

    walk(_exec_tree(out._jdf.queryExecution().executedPlan()), None, None)
    assert scanned == corpus_dirs
    assert exchanged == [], "corpus rows reach an exchange"
    assert shingled and set(shingled) == {"join"}, shingled


def test_layouts_are_written_and_read_back_only_through_tables():
    """Every DataFrameWriter ``.partitionBy(`` in the package is in
    tables.py (``write_layout``, the one partitioned writer; a
    ``Window.partitionBy`` spec is not a write). And no package module
    reads a directory the engine wrote with a bare
    ``spark.read.parquet(``, which launches a schema-inference job: the
    only bare reads left are of user-supplied inputs in cli.py and of
    the testdata and golden files that ship beside the package."""
    import ast
    import pathlib

    import demo_pgvector_spark

    def root_name(node):
        while isinstance(node, (ast.Attribute, ast.Call)):
            node = node.value if isinstance(node, ast.Attribute) else node.func
        return getattr(node, "id", None)

    pkg = pathlib.Path(demo_pgvector_spark.__file__).parent
    writers, bare = set(), set()
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        tree = ast.parse(path.read_text(encoding="utf-8"))
        for top in tree.body:
            name = getattr(top, "name", "<module>")
            for n in ast.walk(top):
                if not (isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)):
                    continue
                if n.func.attr == "partitionBy" and root_name(n.func.value) != "Window":
                    writers.add((rel, name))
                if (
                    n.func.attr == "parquet"
                    and isinstance(n.func.value, ast.Attribute)
                    and n.func.value.attr == "read"
                ):
                    bare.add((rel, name))
    assert writers == {("tables.py", "write_layout")}
    assert bare == {
        ("cli.py", "curate"),
        ("cli.py", "mix"),
        ("cli.py", "quality_filter"),
        ("cli.py", "semdedup"),
        ("registry.py", "q_text_quality_model"),
        ("streaming/windows.py", "read_events_stream"),
        ("tables.py", "load"),
    }
