"""IVF + Lloyd's k-means tests (operators/ivf.py). The vec_ivf_topk
parity row gates the search path; here: clustering quality, determinism,
and the iterative algorithm's convergence on data with known structure."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from demo_pgvector_spark import tables
from demo_pgvector_spark.operators import ivf
from tests.test_ann import _clustered


@pytest.fixture(scope="module")
def clustered_df(spark):
    return spark.createDataFrame(
        _clustered(), "vec_id long, embedding array<double>"
    ).cache()


def test_kmeans_recovers_separated_clusters(spark, clustered_df):
    """On 8 well-separated clusters, 3 Lloyd iterations from first-8
    init must produce assignments that agree with ground truth (every
    learned cluster maps to exactly one true cluster)."""
    assigned, cents = ivf.kmeans_lloyd(clustered_df, k=8, iters=3)
    rows = assigned.select("vec_id", "cluster").collect()
    truth = {r["vec_id"]: r["vec_id"] // 60 for r in rows}
    by_learned = {}
    for r in rows:
        by_learned.setdefault(r["cluster"], set()).add(truth[r["vec_id"]])
    # purity: each learned cluster contains points of exactly one truth cluster
    assert all(len(s) == 1 for s in by_learned.values()), by_learned
    assert len(by_learned) == 8


def test_kmeans_deterministic(spark, clustered_df):
    _, c1 = ivf.kmeans_lloyd(clustered_df, k=4, iters=2)
    _, c2 = ivf.kmeans_lloyd(clustered_df, k=4, iters=2)
    assert c1 == c2


def test_kmeans_iterations_reduce_inertia(spark, clustered_df):
    rows = _clustered()
    V = np.array([r[1] for r in rows])

    def inertia(cents):
        C = np.array(cents)
        Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
        Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
        return float((1 - (Vn @ Cn.T).max(axis=1)).sum())

    _, c1 = ivf.kmeans_lloyd(clustered_df, k=8, iters=1)
    _, c3 = ivf.kmeans_lloyd(clustered_df, k=8, iters=3)
    assert inertia(c3) <= inertia(c1) + 1e-9


def test_ivf_search_on_clustered_data(spark, clustered_df):
    """With trained centroids and nprobe=2 on separated clusters, IVF
    must return exactly the brute-force top-10 (all true neighbors live
    in the probe's own cluster)."""
    _, cents = ivf.kmeans_lloyd(clustered_df, k=8, iters=3)
    cdf = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cents)], "cid int, cv array<double>"
    )
    rows = _clustered()
    q = rows[0][1]
    got = [r["vec_id"] for r in ivf.ivf_topk(clustered_df, cdf, q, k=10, nprobe=2).collect()]
    from tests.test_ann import _exact_topk

    assert got == _exact_topk(rows, np.array(q), 10)


def test_ivf_inline_matches_dataframe_path(spark, clustered_df):
    """``ivf_topk_inline`` (driver-known centroids, zero-shuffle probe)
    must return exactly what the DataFrame-centroid ``ivf_topk`` does —
    same hits, same ranks — and its physical plan must contain no hash or
    range exchange (the big side never shuffles)."""
    import re

    _, cents = ivf.kmeans_lloyd(clustered_df, k=8, iters=3)
    cdf = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cents)], "cid int, cv array<double>"
    )
    rows = _clustered()
    q = rows[0][1]
    df_out = ivf.ivf_topk(clustered_df, cdf, q, k=10, nprobe=2)
    inline_out = ivf.ivf_topk_inline(clustered_df, cents, q, k=10, nprobe=2)
    want = [(r["vec_id"], r["rank"]) for r in df_out.collect()]
    got = [(r["vec_id"], r["rank"]) for r in inline_out.collect()]
    assert got == want

    plan = inline_out._jdf.queryExecution().executedPlan().toString()
    # post-limit rank window over <=k rows is a SinglePartition exchange;
    # hash/range exchanges over the data are what must not appear
    assert not re.findall(r"Exchange (hash|range)partitioning", plan), plan


def test_ivf_pruned_probe_reads_only_nprobe_partitions(spark, clustered_df, tmp_path):
    """Write-time clustering (``ivf_write_clustered``) must make the
    probe's cluster filter a pushed PARTITION filter — the scan lists
    only nprobe of k directories — with results identical to the
    zero-shuffle inline probe over the same centroids."""
    _, cents = ivf.kmeans_lloyd(clustered_df, k=8, iters=3)
    path = str(tmp_path / "ivf_table")
    ivf.ivf_write_clustered(clustered_df, cents, path)

    rows = _clustered()
    q = rows[0][1]
    pruned = ivf.ivf_topk_pruned(spark, path, cents, q, k=10, nprobe=2)
    inline = ivf.ivf_topk_inline(clustered_df, cents, q, k=10, nprobe=2)
    assert [(r["vec_id"], r["rank"]) for r in pruned.collect()] == [
        (r["vec_id"], r["rank"]) for r in inline.collect()
    ]

    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cluster" in plan.split("PartitionFilters")[1][:200], plan
    # the scan's selected partition count is nprobe, not k
    import re

    m = re.search(r"partition count: (\d+)", plan)
    if m:  # formatting varies by Spark version; the filter assert above is the contract
        assert int(m.group(1)) == 2, plan


def _spark_rank(spark, cases):
    """The Spark ranking ``_rank_centroids`` replaced, kept as its
    oracle: ``cosine_similarity(cv, q)`` ordered by (_csim DESC, cid ASC),
    the full order of every (centroids, query) case, one job for all."""
    from pyspark.sql import Window

    from demo_pgvector_spark.functions.vector import cosine_similarity

    cdf = spark.createDataFrame(
        [
            (n, cid, [float(x) for x in c], [float(x) for x in q])
            for n, (cents, q) in enumerate(cases)
            for cid, c in enumerate(cents)
        ],
        "case int, cid int, cv array<double>, q array<double>",
    )
    w = Window.partitionBy("case").orderBy(F.col("_csim").desc(), F.col("cid").asc())
    ranked = (
        cdf.select("case", "cid", cosine_similarity(F.col("cv"), F.col("q")).alias("_csim"))
        .select("case", "cid", F.row_number().over(w).alias("rn"))
        .collect()
    )
    orders = [[] for _ in cases]
    for r in sorted(ranked, key=lambda r: (r["case"], r["rn"])):
        orders[r["case"]].append(r["cid"])
    return orders


def test_rank_centroids_matches_spark_ranking(spark):
    """The driver ranking must equal Spark's full order (nprobe = k) on
    exact ties (a duplicate and a scaled duplicate centroid), a zero-norm
    centroid (null score: ranks last), a NaN centroid (Spark orders NaN
    above every double), a query equal to a centroid, and random rounded
    centroids."""
    rng = np.random.RandomState(11)
    base = np.round(rng.normal(0, 1, (6, 8)), 2).tolist()
    q = np.round(rng.normal(0, 1, 8), 2).tolist()
    zero = [0.0] * 8
    ties = [base[0], base[1], list(base[1]), [2 * x for x in base[1]], base[2]]
    special = [
        (ties, q),
        ([zero] + base, q),
        ([base[3], zero, [float("nan")] + base[0][1:], base[4]], q),
        (base, base[3]),
        (ties + [zero], ties[3]),
    ]
    randoms = [
        (np.round(rng.normal(0, 1, (16, 8)), 1).tolist(),
         np.round(rng.normal(0, 1, 8), 1).tolist())
        for _ in range(60)
    ]
    cases = special + randoms
    want = _spark_rank(spark, cases)
    got = [ivf._rank_centroids(cents, qv, len(cents)) for cents, qv in cases]
    assert got == want
    tied = got[0].index(1)
    assert got[0][tied:tied + 3] == [1, 2, 3]  # three tied centroids, cid ASC
    assert got[1][-1] == 0  # the zero-norm centroid ranks last
    assert got[2][0] == 2 and got[2][-1] == 1  # NaN first, null last
    assert got[3][0] == 3  # the query's own centroid ranks first


def test_rank_centroids_rejects_a_dimension_mismatch():
    """A query whose length differs from the centroids' must fail loudly:
    zip_with pads with nulls, so every score would be null and the probe
    would silently rank clusters by cid."""
    with pytest.raises(ValueError, match="centroid 0 has 3 dimensions, the query 2"):
        ivf._rank_centroids([[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]], [1.0, 0.0], 1)
    with pytest.raises(ValueError, match="centroid 1 has 2 dimensions, the query 3"):
        ivf._rank_centroids([[1.0, 0.0, 0.0], [0.0, 1.0]], [1.0, 0.0, 0.0], 1)


def test_pruned_probe_plans_without_a_job_and_skips_an_empty_cluster(
    spark, clustered_df, tmp_path
):
    """Building ``ivf_topk_pruned`` launches no Spark job (driver
    ranking, declared footer schema, only the probed directories listed)
    and its collect launches one. A scaled duplicate of the query's
    nearest centroid ties with it, so it is probed, yet owns no vector
    (assignment ties go to the lower cid) and has no directory: the
    probe must skip it and still equal the inline probe."""
    import os

    from tests.conftest import spark_jobs

    rows = _clustered()
    cents = [rows[c * 60][1] for c in range(8)]
    cents.append([2 * x for x in cents[0]])
    path = str(tmp_path / "ivf_empty_cluster")
    ivf.ivf_write_clustered(clustered_df, cents, path)
    q = rows[1][1]
    assert ivf._rank_centroids(cents, q, 2) == [0, 8]
    assert not os.path.isdir(os.path.join(path, "cluster=8"))

    with spark_jobs(spark) as jobs:
        pruned = ivf.ivf_topk_pruned(spark, path, cents, q, k=10, nprobe=2)
    assert jobs() == 0
    with spark_jobs(spark) as jobs:
        got = pruned.collect()
    assert jobs() == 1
    inline = ivf.ivf_topk_inline(clustered_df, cents, q, k=10, nprobe=2).collect()
    assert [(r["vec_id"], r["rank"]) for r in got] == [
        (r["vec_id"], r["rank"]) for r in inline
    ]

    empty = tables.read_partitions(spark, path, "cluster", [8])
    assert empty.dtypes == [
        ("vec_id", "bigint"), ("embedding", "array<double>"), ("cluster", "int")
    ]
    assert empty.collect() == []


def test_assign_auto_strategy_switch(spark, clustered_df, monkeypatch):
    """``assign_clusters_auto`` must pick the inlined-literal projection
    below INLINE_MAX_LITERALS and the broadcast-join path above it, with
    IDENTICAL assignments either way (same argmax, same lowest-cid
    tie-break)."""
    _, cents = ivf.kmeans_lloyd(clustered_df, k=8, iters=1)

    inline = ivf.assign_clusters_auto(clustered_df, cents)
    monkeypatch.setattr(ivf, "INLINE_MAX_LITERALS", 1)
    joined = ivf.assign_clusters_auto(clustered_df, cents)

    inline_plan = inline._jdf.queryExecution().executedPlan().toString()
    joined_plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "array_position" in inline_plan and "Join" not in inline_plan
    assert "BroadcastNestedLoopJoin" in joined_plan or "BroadcastHashJoin" in joined_plan
    assert "array_position" not in joined_plan

    want = {r["vec_id"]: r["cluster"] for r in inline.collect()}
    got = {r["vec_id"]: r["cluster"] for r in joined.collect()}
    assert got == want


def test_kmeans_large_k_avoids_plan_blowup(spark, clustered_df):
    """kmeans_lloyd(k=256, dim=64) crosses INLINE_MAX_LITERALS (16384
    literals) — the assignment must come out of the broadcast-join path
    (no quarter-million-char inline expression) and still be a valid
    total assignment (VERDICT r3 #3)."""
    assert 256 * 64 >= ivf.INLINE_MAX_LITERALS
    assigned, cents = ivf.kmeans_lloyd(clustered_df, k=256, iters=1)
    assert len(cents) == 256
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    assert "array_position" not in plan, "inline path used past the ceiling"
    rows = assigned.select("vec_id", "cluster").collect()
    assert len(rows) == clustered_df.count()
    assert all(0 <= r["cluster"] < 256 for r in rows)


def test_sample_init_deterministic_and_spread(spark, clustered_df):
    """One-pass sampled init: deterministic across calls, returns k
    distinct seeds, and greedy max-min refinement spreads them — on 8
    well-separated clusters the 8 seeds land in 8 different truth
    clusters (plain hash-order first-k would almost surely collide)."""
    s1 = ivf.sample_init(clustered_df, k=8)
    s2 = ivf.sample_init(clustered_df, k=8)
    assert s1 == s2
    assert len(s1) == 8
    rows = {tuple(r["embedding"]): r["vec_id"] for r in clustered_df.collect()}
    truth = {rows[tuple(s)] // 60 for s in s1}
    assert len(truth) == 8


def test_ivf_append_equals_full_rebuild(spark, clustered_df, tmp_path):
    """Incremental maintenance contract (VERDICT r7 #3): appending a
    new batch against the existing trained centroids must leave the
    layout ROW-FOR-ROW identical to a full rebuild over the union —
    same (vec_id, cluster) everywhere, so every probe is too."""
    _, cents = ivf.kmeans_lloyd(clustered_df, k=8, iters=3)
    base = clustered_df.filter(F.col("vec_id") % 5 != 0)
    batch = clustered_df.filter(F.col("vec_id") % 5 == 0)

    grown = str(tmp_path / "grown")
    ivf.ivf_write_clustered(base, cents, grown)
    ivf.ivf_write_clustered(batch, cents, grown, append=True)

    rebuilt = str(tmp_path / "rebuilt")
    ivf.ivf_write_clustered(clustered_df, cents, rebuilt)

    read = lambda p: sorted(
        (r["vec_id"], r["cluster"])
        for r in spark.read.parquet(p).select("vec_id", "cluster").collect()
    )
    assert read(grown) == read(rebuilt)

    # probes agree with the inline (layout-free) reference
    q = _clustered()[0][1]
    pruned = ivf.ivf_topk_pruned(spark, grown, cents, q, k=10, nprobe=2)
    inline = ivf.ivf_topk_inline(clustered_df, cents, q, k=10, nprobe=2)
    key = lambda df: [(r["vec_id"], r["rank"]) for r in df.collect()]
    assert key(pruned) == key(inline)


def test_ivf_compact_preserves_rows_and_merges_files(spark, clustered_df, tmp_path):
    import os

    _, cents = ivf.kmeans_lloyd(clustered_df, k=8, iters=3)
    grown = str(tmp_path / "grown")
    ivf.ivf_write_clustered(clustered_df.filter(F.col("vec_id") % 5 != 0), cents, grown)
    for m in range(3):  # three append batches -> multiple files per dir
        ivf.ivf_write_clustered(
            clustered_df.filter(
                (F.col("vec_id") % 5 == 0) & (F.col("vec_id") % 3 == m)
            ),
            cents,
            grown,
            append=True,
        )

    def n_files(p):
        return sum(
            len([f for f in files if f.endswith(".parquet")])
            for _, _, files in os.walk(p)
        )

    compacted = str(tmp_path / "compacted")
    tables.compact_layout(spark, grown, compacted, "cluster")
    rows = lambda p: sorted(
        (r["vec_id"], r["cluster"])
        for r in spark.read.parquet(p).select("vec_id", "cluster").collect()
    )
    assert rows(compacted) == rows(grown)
    assert n_files(compacted) < n_files(grown)


def test_ivf_drift_trigger_fires_on_skewed_append_only(spark):
    """ivf_drift (the maintenance loop's re-train trigger): a uniform
    append leaves every cluster's occupancy share in place → retrain=0;
    an append concentrated on one cluster moves shares past the
    per-mille gate → retrain=1 on every row (global flag)."""
    from demo_pgvector_spark.operators import ivf

    train = spark.createDataFrame(
        [(c, 25) for c in range(4)], "cluster int, n_train long"
    )

    def layout(extra_in_zero: int):
        rows = [(c * 25 + i, c) for c in range(4) for i in range(25)]
        rows += [(1000 + i, 0) for i in range(extra_in_zero)]
        return spark.createDataFrame(rows, "vec_id long, cluster int")

    steady = {r["cluster"]: r for r in ivf.ivf_drift(layout(0), train).collect()}
    assert all(r["drift_pm"] == 0 and r["retrain"] == 0 for r in steady.values())

    # 25 extra rows all in cluster 0: share 250‰ -> 400‰, drift 150
    skewed = {r["cluster"]: r for r in ivf.ivf_drift(layout(25), train).collect()}
    assert skewed[0]["drift_pm"] == 150
    assert all(r["retrain"] == 1 for r in skewed.values())
    # a cluster unseen at training time surfaces with n_train=0
    ghost = ivf.ivf_drift(
        layout(0).withColumn(
            "cluster", F.when(F.col("vec_id") == 0, 9).otherwise(F.col("cluster"))
        ),
        train,
    ).filter(F.col("cluster") == 9).first()
    assert ghost["n_train"] == 0 and ghost["n_now"] == 1


def test_ivf_drift_raises_on_empty_totals(spark):
    """ADVICE r9: a 0/NULL total must fail loudly, not emit NULL share
    columns (Spark `div`) while DuckDB's `//` errors — the engines
    would silently diverge on the degenerate input."""
    import pytest as _pytest

    from demo_pgvector_spark.operators import ivf

    empty_layout = spark.createDataFrame([], "vec_id long, cluster int")
    empty_train = spark.createDataFrame([], "cluster int, n_train long")
    train = spark.createDataFrame([(0, 5)], "cluster int, n_train long")
    layout = spark.createDataFrame([(1, 0)], "vec_id long, cluster int")
    with _pytest.raises(ValueError, match="total count is 0"):
        ivf.ivf_drift(empty_layout, empty_train)
    with _pytest.raises(ValueError, match="total count is 0"):
        ivf.ivf_drift(empty_layout, train)
    with _pytest.raises(ValueError, match="total count is 0"):
        ivf.ivf_drift(layout, empty_train)


# ---------------------------------------------------------------------------
# Filtered ANN (ivf_write_filtered / ivf_topk_filtered)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def labeled_df(spark):
    rows = [(i, v, i % 10) for i, v in _clustered()]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    ).cache()


def _filtered_replay(layout_rows, order, q, pred, k):
    """Python replay of the deterministic filtered-ANN semantics:
    minimal prefix of ``order`` whose predicate-surviving count reaches
    k (all clusters if none does), exact cosine top-k among survivors
    in that prefix."""
    surv = [r for r in layout_rows if pred(r)]
    pos = {c: i + 1 for i, c in enumerate(order)}
    npos = len(order)
    counts = {}
    for r in surv:
        counts[pos[r["cluster"]]] = counts.get(pos[r["cluster"]], 0) + 1
    cum, pstar = 0, npos
    for p in range(1, npos + 1):
        cum += counts.get(p, 0)
        if cum >= k:
            pstar = p
            break
    qn = np.array(q)
    cand = [r for r in surv if pos[r["cluster"]] <= pstar]
    scored = [
        (
            float(np.dot(r["embedding"], qn)
                  / (np.linalg.norm(r["embedding"]) * np.linalg.norm(qn))),
            r["vec_id"],
        )
        for r in cand
    ]
    scored.sort(key=lambda t: (-t[0], t[1]))
    return [v for _s, v in scored[:k]]


def test_filtered_probe_equals_minimal_prefix_replay(spark, labeled_df, tmp_path):
    """The operator must implement EXACTLY the minimal-prefix
    semantics: equality against a Python replay over the layout's own
    assignment, for a ~10% filter (iterative expansion fires: one
    cluster holds ~6 survivors < k=10)."""
    _, cents = ivf.kmeans_lloyd(labeled_df.select("vec_id", "embedding"), k=8, iters=3)
    path = str(tmp_path / "ivf_filtered")
    ivf.ivf_write_filtered(labeled_df, cents, path)

    rows = _clustered()
    q = rows[0][1]
    out = ivf.ivf_topk_filtered(
        spark, path, cents, q, F.col("label") == 3, k=10, nprobe0=2
    ).collect()
    order = ivf._rank_centroids(cents, q, len(cents))
    layout = spark.read.parquet(path).collect()
    want = _filtered_replay(layout, order, q, lambda r: r["label"] == 3, 10)
    assert [r["vec_id"] for r in out] == want
    assert [r["rank"] for r in out] == list(range(1, len(want) + 1))
    assert all(r["label"] == 3 for r in out)
    # the filter did not starve the result (pgvector iterative_scan's
    # whole point): a 10% filter still returns a full k rows
    assert len(out) == 10


def test_filtered_probe_starved_filter_returns_all_survivors(
    spark, labeled_df, tmp_path
):
    """When fewer than k rows survive the predicate ANYWHERE, the probe
    set must expand to all clusters and return every survivor."""
    _, cents = ivf.kmeans_lloyd(labeled_df.select("vec_id", "embedding"), k=8, iters=3)
    path = str(tmp_path / "ivf_starved")
    ivf.ivf_write_filtered(labeled_df, cents, path)
    rows = _clustered()
    q = rows[0][1]
    pred = (F.col("label") == 3) & (F.col("vec_id") < 40)
    out = ivf.ivf_topk_filtered(spark, path, cents, q, pred, k=10, nprobe0=2).collect()
    want = sorted(
        i for i, _v in rows if i % 10 == 3 and i < 40
    )
    assert sorted(r["vec_id"] for r in out) == want
    assert len(want) < 10


def test_filtered_probe_pushes_filter_into_pruned_scan(
    spark, labeled_df, tmp_path
):
    """The probe's scan must show BOTH prunings: cluster as a partition
    filter and the metadata predicate as pushed parquet filters — the
    100 TB contract that a filtered probe reads only probed directories
    and row-group-skips inside them."""
    _, cents = ivf.kmeans_lloyd(labeled_df.select("vec_id", "embedding"), k=8, iters=3)
    path = str(tmp_path / "ivf_filtered_plan")
    ivf.ivf_write_filtered(labeled_df, cents, path)
    rows = _clustered()
    q = rows[0][1]
    out = ivf.ivf_topk_filtered(
        spark, path, cents, q, F.col("label") == 3, k=10, nprobe0=2
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan, plan
    pf = plan.split("PartitionFilters")[1][:200]
    assert "cluster" in pf, plan
    assert "PushedFilters" in plan, plan
    pushed = plan.split("PushedFilters")[1][:200]
    assert "label" in pushed and ("EqualTo" in pushed or "label,3" in pushed), plan
