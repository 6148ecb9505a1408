"""Similarity search operators — the engine's core domain.

Re-expresses the reference's flagship retrieval query
(``retrieve_similar_source_chunks``, src/lib/database.py:282-337):

    SELECT sc.id, 1 - (embedding <=> :q) AS similarity_score,
           scd.chunk_text, scd.metadata
    FROM source_chunks sc JOIN source_chunk_data scd ON sc.id = scd.chunk_id
    WHERE 1 - (embedding <=> :q) >= :threshold
    ORDER BY embedding <=> :q ASC LIMIT :k

as the DataFrame composition  project → filter → orderBy → limit → join.

Scale notes (100 TB posture):
- The query vector is a plan literal → broadcast with the task binaries;
  there is NO shuffle on the top-k path: Spark plans orderBy+limit as
  ``TakeOrderedAndProject`` (per-partition partial top-k, k rows per
  partition to the driver).
- The similarity expression is computed ONCE via an aliased column and
  reused for filter + sort (the reference writes it 3×; Postgres may or
  may not CSE it — SURVEY §4).
- The payload join happens AFTER the limit, so only k rows join against
  the chunk-data table — with a selective top-k this is a broadcast join
  of k rows against a big table, which Catalyst turns into a broadcast
  hash join with the tiny side broadcast.
- kNN join (table × table) broadcasts the probe side and does a
  two-stage partial top-k per probe (``topk_per_group``) — never a
  single per-probe window partition; for sublinear candidate generation
  see operators/ann.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from demo_pgvector_spark.functions.vector import (
    cosine_similarity,
    dot,
    dot_sql,
    query_vector_literal,
)


def similarity_scores(
    vectors: DataFrame,
    query_vec: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    normalized: bool = False,
) -> DataFrame:
    """Project (id, similarity_score) for every row — ``proj_similarity``.

    ``normalized=True`` uses the dot product directly (valid when stored
    vectors are L2-normalized, as the reference guarantees — SURVEY Q5).
    """
    q = query_vector_literal(query_vec)
    sim = dot(F.col(vec_col), q) if normalized else cosine_similarity(F.col(vec_col), q)
    return vectors.select(F.col(id_col), sim.alias("similarity_score"))


def sim_topk(
    vectors: DataFrame,
    payload: DataFrame,
    query_vec: list[float],
    top_k: int = 10,
    threshold: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    payload_id_col: str = "doc_id",
    normalized: bool = False,
) -> DataFrame:
    """Flagship: exact brute-force top-k cosine with threshold + payload join.

    Deterministic tie-break on id (documented divergence from the
    reference, which has no secondary sort key — SURVEY Q5).
    """
    if not 0.0 <= threshold <= 1.0:
        # Parameter validation mirrors cli/search_doc_chunks.py:51-55.
        raise ValueError(f"similarity_threshold must be in [0, 1], got {threshold}")
    scored = similarity_scores(vectors, query_vec, id_col, vec_col, normalized)
    hits = (
        scored.filter(F.col("similarity_score") >= F.lit(float(threshold)))
        .orderBy(F.col("similarity_score").desc(), F.col(id_col).asc())
        .limit(int(top_k))
    )
    # Broadcast the k-row side: the payload table is the big one at scale.
    joined = F.broadcast(hits).join(
        payload, hits[id_col] == payload[payload_id_col], "inner"
    )
    return joined


def topk_per_group(
    scored: DataFrame,
    group_col: str,
    id_col: str,
    score_col: str = "similarity_score",
    k: int = 3,
) -> DataFrame:
    """Two-stage distributed top-k per group — the scale-safe replacement
    for ``Window.partitionBy(group).orderBy(score)`` + ``row_number``.

    A single per-group window shuffles EVERY scored row into one partition
    per group: with few groups over a big table that is a per-group
    full-table single-partition sort. Instead:

    1. local top-k: group by (group, spark_partition_id()) and keep
       ``slice(array_sort(collect_list(struct(-score, id))), 1, k)``.
       Each group of the first aggregation lives entirely inside one input
       partition, so the exchange is spread over |groups| × |partitions|
       keys — no skew, no single-partition sort.
    2. merge: re-aggregate by group over the already-k-bounded arrays —
       only k × num_input_partitions rows per group ever reach stage 2.

    Sorting on struct(-score, id) gives descending score with ascending-id
    tie-break in one lexicographic array_sort. Ranks are assigned by
    ``posexplode`` over the final k-array (1-based).
    """
    neg = F.struct(
        (-F.col(score_col)).cast("double").alias("ns"),
        F.col(id_col).alias("id"),
    )
    local = (
        scored.withColumn("_pid", F.spark_partition_id())
        .groupBy(group_col, "_pid")
        .agg(F.slice(F.array_sort(F.collect_list(neg)), 1, k).alias("topk"))
    )
    merged = local.groupBy(group_col).agg(
        F.slice(F.array_sort(F.flatten(F.collect_list("topk"))), 1, k).alias("topk")
    )
    exploded = merged.select(
        group_col, F.posexplode("topk").alias("pos", "hit")
    )
    return exploded.select(
        group_col,
        F.col("hit.id").alias(id_col),
        (-F.col("hit.ns")).alias(score_col),
        (F.col("pos") + 1).alias("rank"),
    )


def knn_join(
    probes: DataFrame,
    vectors: DataFrame,
    k: int = 3,
    probe_id: str = "probe_id",
    probe_vec: str = "probe_vec",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    normalized: bool = True,
    exclude_self: bool = False,
) -> DataFrame:
    """Table×table k-nearest-neighbor join (extension beyond the reference,
    which only ever probes with a single parameter vector).

    Physical shape: broadcast the (small) probe side → per-row distance →
    two-stage partial top-k per probe (``topk_per_group``). The cross
    product itself never shuffles the big side; the scored rows shuffle
    once, hashed over (probe, input-partition) keys — evenly distributed —
    and the final merge sees only k rows per (probe, partition). For
    sublinear candidate generation (avoid scoring every pair at all) see
    ``operators/ann.py``.

    ``exclude_self`` drops ``probe_id == vec_id`` pairs *before* ranking,
    so ranks are a true 1..k over the other vectors.
    """
    pairs = vectors.crossJoin(F.broadcast(probes))
    sim = (
        dot(F.col(vec_col), F.col(probe_vec))
        if normalized
        else cosine_similarity(F.col(vec_col), F.col(probe_vec))
    )
    scored = pairs.select(
        F.col(probe_id), F.col(id_col), sim.alias("similarity_score")
    )
    if exclude_self:
        scored = scored.filter(F.col(probe_id) != F.col(id_col))
    return topk_per_group(scored, probe_id, id_col, "similarity_score", k)


def mmr_rerank(
    vectors: DataFrame,
    query_vec: list[float],
    pool_size: int = 20,
    k: int = 8,
    lam: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance re-rank (Carbonell & Goldstein,
    SIGIR'98) — the diversity stage of a RAG retrieval path: greedily
    pick k results maximizing

        mmr(c) = λ·sim(q, c) − (1−λ)·max_{s ∈ selected} sim(c, s)

    over a relevance pool, so near-duplicate chunks don't crowd the
    context window. Returns (id, mmr_rank, mmr_score).

    Determinism contract: every similarity is rounded to 6dp BEFORE any
    comparison, each greedy argmax orders on the ROUNDED score with an
    ascending-id tie-break, and the combination arithmetic runs on
    doubles identical across engines — the established vec-row parity
    contract (margins gated by the sweeps).

    100 TB posture: the scan-side cost is the pool construction —
    TakeOrderedAndProject over the full vector table (the flagship's
    zero-shuffle shape). Everything after operates on the pool, which is
    ≤ pool_size rows BY CONSTRUCTION — and since round 13 the ENTIRE
    greedy recursion is ONE Catalyst ``aggregate()`` fold over the
    pool collected into a single array row: the per-step argmax, the
    max-penalty lookup, and the tie-break all run as array
    higher-order functions inside one projection. The previous shape
    ran k driver round-trips with an EAGER localCheckpoint per step
    (each ~0.3-0.5 s of pure job-scheduling latency — measured as the
    whole cost of the operator at sf0.1); the fold removes every
    round-trip, leaving exactly two jobs: the TakeOrdered pool
    construction and the 1-row selection projection. The arithmetic is
    expression-for-expression the old one (6dp HALF_UP rounds on the
    same doubles, max over 6dp pair cosines, score-desc/id-asc
    argmax), so the output is bit-identical — gated by the pure-Python
    replay + margin test (tests/test_vector.py).
    """
    lam = float(lam)
    k = int(k)
    q = query_vector_literal(query_vec)
    pool = (
        vectors.select(
            F.col(id_col),
            F.col(vec_col).alias("_v"),
            F.round(cosine_similarity(F.col(vec_col), q), 6).alias("simq"),
        )
        .orderBy(F.col("simq").desc(), F.col(id_col).asc())
        .limit(int(pool_size))
    )
    packed = pool.agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col(id_col).alias("id"),
                    F.col("_v").alias("v"),
                    F.col("simq").alias("simq"),
                )
            )
        ).alias("pool")
    )

    def _cos6(a: str, b: str) -> str:
        # round(cosine, 6) — identical to round(cosine_similarity(), 6)
        return (
            f"round(try_divide({dot_sql(a, b)},"
            f" sqrt({dot_sql(a, a)} * {dot_sql(b, b)})), 6)"
        )

    lam_r = repr(lam)
    mu_r = repr(1.0 - lam)
    # argmax convention (the topk_per_group struct trick): sort
    # ascending on (ns_sort, id) where ns = -score; a NULL score (zero
    # -norm vector) coalesces to +Inf in the SORT KEY ONLY so non-null
    # scores always win — the exact nulls-last behavior of the old
    # ``orderBy(score.desc(), id.asc())``.
    def _pick(scored: str) -> str:
        return f"slice(array_sort({scored}), 1, 1)"

    first_scored = (
        "transform(pool, p -> struct("
        f"coalesce(-round({lam_r}D * p.simq, 6), cast('Infinity' as double))"
        " as ns_sort, p.id as id,"
        f" round({lam_r}D * p.simq, 6) as score))"
    )
    init = (
        f"transform({_pick(first_scored)}, b -> named_struct("
        "'id', b.id, 'mmr_rank', 1L, 'mmr_score', b.score))"
    )
    if k >= 2:
        penalty = (
            "array_max(transform(sel, s -> "
            + _cos6("p.v", "element_at(filter(pool, pp -> pp.id = s.id), 1).v")
            + "))"
        )
        step_scored = (
            "transform(filter(pool, p -> not exists(sel, s -> s.id = p.id)),"
            " p -> struct("
            f"coalesce(-round({lam_r}D * p.simq - {mu_r}D * {penalty}, 6),"
            " cast('Infinity' as double)) as ns_sort, p.id as id,"
            f" round({lam_r}D * p.simq - {mu_r}D * {penalty}, 6) as score))"
        )
        selection = (
            f"aggregate(sequence(2, {k}), {init}, (sel, t) -> "
            "case when size(sel) >= size(pool) then sel else "
            f"sel || transform({_pick(step_scored)}, b -> named_struct("
            "'id', b.id, 'mmr_rank', cast(t as bigint),"
            " 'mmr_score', b.score)) end)"
        )
    else:
        selection = init
    return packed.select(
        F.inline(F.expr(selection))
    ).select(
        F.col("id").alias(id_col), "mmr_rank", "mmr_score"
    )
