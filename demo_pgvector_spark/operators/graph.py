"""Iterative graph analytics — static PageRank, per-node triangle
counts, and fixed-depth BFS over DataFrame edge lists.

The reference has no graph surface (it is psycopg2 CRUD + one similarity
query); this is LLM-pipeline breadth: link-graph centrality is a
standard corpus-quality signal at web scale (Common Crawl pipelines rank
hosts by harmonic/PageRank-style centrality to weight or filter training
documents — the same role the model-based quality filter plays at the
document level). Triangle counts are the clustering-coefficient
numerator (spam-farm and mirror-cluster detection in host graphs); BFS
hop distance from a trusted seed set is the TrustRank-style propagation
radius.

Semantics: GraphX's ``staticPageRank`` contract (public Apache Spark
code) — the UNNORMALIZED fixed-iteration variant:

    rank_0(v)     = 1.0
    rank_{t+1}(v) = 0.15 + 0.85 * Σ_{u→v} rank_t(u) / outdeg(u)

Dangling-node mass is NOT redistributed (GraphX's choice), so the total
mass is not conserved — ranks are relative scores, not a probability
distribution.

Exactness contract (round 7 fix): the recurrence runs ENTIRELY in
64-bit integer fixed point — ranks in micro-units (r₀ = 1 000 000),
per-edge contributions truncated to nano-units (``(r·1000) div
outdeg``), damping as the exact rational 17/20 (``150000 + (17·S) div
20000``). Integer sums are order-independent, so Spark and the DuckDB
oracle agree BIT-IDENTICALLY with no rounding-boundary luck. (The
round-6 design quantized DOUBLE ranks to 6dp per step; at sf0.001 two
nodes landed within 1e-16 of a .5 ulp boundary and the engines'
summation order flipped the rounding — per-step quantization of floats
shrinks the disagreement window but cannot close it. Fixed point
closes it: truncation error ~1e-9 rank/step, below the old 6dp grid.)

Every operator reads ``(src, dst)`` edges and turns them into one of
two edge relations: ``_directed`` (pagerank, hits) or ``_undirected``
(every other iterative operator here, and ``dedup.dedup_assign``).
Both are SETS — duplicate rows never count twice — hash-partitioned on
``src`` behind a lazy localCheckpoint. ``triangle_counts`` keeps its
own canonical ``(least, greatest)`` pairs, a different relation.

100 TB posture: each iteration is the canonical Pregel shape — one
shuffle keyed on edge src (rank lookup join), one keyed on dst
(contribution sum), one rank re-join on node id; the edge list is
read from a LAZY localCheckpoint so the distinct-edges shuffle runs
once, not once per iteration. ALL K iterations compile into ONE job
(no per-iteration action, no driver round-trips) — the fixed-K loop
needs no convergence count, which is what makes that possible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from demo_pgvector_spark.session import width_for

# Fixed-point units: ranks in micro (1e-6), contributions in nano (1e-9);
# damping 0.85 applied as the exact rational 17/20. All arithmetic BIGINT.
MICRO = 1_000_000
RESET_MICRO = 150_000  # 0.15 in micro-units; rank_0 = 1.0 = 1_000_000


def _pinned(df: DataFrame, key: str, like: DataFrame) -> DataFrame:
    """``df`` hash-partitioned on ``key`` at ``width_for(like)`` behind
    a lazy localCheckpoint. Every round joins the static frames of a
    loop on one key (round 13, guide §2.4 "share one exchange"):
    partitioning them once freezes ``hashpartitioning(key)`` into the
    cached blocks, so EnsureRequirements shuffles only the small
    per-round side. Lazy: the final action's first pass materializes
    it. ``like`` is the operator's input, whose scan sets the width."""
    return df.repartition(width_for(like), F.col(key)).localCheckpoint(
        eager=False
    )


def _both_directions(edges: DataFrame) -> DataFrame:
    """``(src, dst)`` rows plus their reverses, duplicates kept."""
    return edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def _directed(edges: DataFrame) -> DataFrame:
    """The DISTINCT directed edge set of ``(src, dst)``, pinned on src."""
    return _pinned(edges.select("src", "dst").distinct(), "src", edges)


def _undirected(edges: DataFrame) -> DataFrame:
    """The symmetric simple graph of ``(src, dst)``: both directions,
    self-loops dropped, distinct, pinned on src. Every ``(u, v)`` has
    its ``(v, u)``, so a round may join on either column."""
    return _pinned(
        _both_directions(edges).filter(F.col("src") != F.col("dst")).distinct(),
        "src",
        edges,
    )


def _rank_rounds(e: DataFrame, nodes: DataFrame, iterations: int) -> DataFrame:
    """(id, r): the module's integer rank recurrence over edge relation
    ``e`` from ``nodes`` (id, reset), ``iterations`` fixed steps:

        r_0(v)     = (reset(v) · 20) div 3
        r_{t+1}(v) = reset(v) + (17 · Σ_{u→v} (r_t(u)·1000) div outdeg(u)) div 20000

    A reset of RESET_MICRO gives r_0 = MICRO exactly. ``nodes`` comes
    pinned on id: it is joined on id every round."""
    # deg inherits hashpartitioning(src) from e (groupBy over the
    # co-partitioned input needs no exchange); checkpoint so the agg
    # runs once, not once per round.
    deg = (
        e.groupBy("src")
        .agg(F.count(F.lit(1)).alias("outdeg"))
        .localCheckpoint(eager=False)
    )
    ranks = nodes.select("id", F.expr("(reset * 20) div 3").alias("r"))
    for _ in range(iterations):
        contrib = (
            e.join(ranks, e["src"] == ranks["id"])
            .join(deg, "src")
            # nano-unit truncated contribution: BIGINT `div`, never float
            .select("dst", F.expr("(r * 1000) div outdeg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        ranks = nodes.join(
            contrib, nodes["id"] == contrib["dst"], "left"
        ).select(
            "id",
            (
                F.col("reset") + F.expr("(17 * coalesce(s, 0L)) div 20000")
            ).alias("r"),
        )
    return ranks


def pagerank(edges: DataFrame, iterations: int = 5) -> DataFrame:
    """(node_id, pr) after ``iterations`` fixed PageRank steps over the
    DISTINCT directed edge set. Nodes = every id appearing as src or
    dst, each a seed of the personalized recurrence (reset 0.15);
    integer fixed-point per the module contract, reported as
    ``pr = r_micro / 1e6`` (one exact-operand double division at the
    very end — identical on every IEEE-754 engine)."""
    e = _directed(edges)
    nodes = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
        .withColumn("reset", F.lit(RESET_MICRO).cast("bigint"))
    )
    ranks = _rank_rounds(e, _pinned(nodes, "id", edges), iterations)
    # `pr`, not `rank`: RANK is a window-function keyword in ANSI SQL and
    # the oracle must use the identical column name
    return ranks.select(
        F.col("id").alias("node_id"),
        (F.col("r") / F.lit(MICRO)).alias("pr"),
    )


def personalized_pagerank(
    edges: DataFrame, seeds: DataFrame, iterations: int = 5
) -> DataFrame:
    """Personalized PageRank from a seed SET (``seeds.id``) over the
    UNDIRECTED graph — the TrustRank primitive (Gyöngyi et al., VLDB
    2004): random walks restart only at vetted seeds, so rank measures
    proximity-weighted trust rather than global centrality. The rank
    complement of ``bfs_hops``' hop radius, over the same symmetrized
    edge contract (self-loops dropped):

        rank_0(v)     = 1.0·[v ∈ seeds]
        rank_{t+1}(v) = 0.15·[v ∈ seeds] + 0.85 · Σ_{u~v} rank_t(u)/deg(u)

    ``pagerank``'s recurrence (``_rank_rounds``) with reset 0 off the
    seeds: integer fixed point, every intermediate BIGINT,
    order-independent sums, bit-identical parity with the unrolled
    DuckDB recurrence.

    100 TB posture: identical plan shape to ``pagerank`` — K iterations
    compile into ONE job. The seed flag rides the node frame (one
    broadcast-size semi-join at build, zero per-iteration seed joins).
    Mass is seed-proportional: far-from-seed regions hold ~zero rank,
    which is exactly the signal — spam farms score low however well
    they interlink."""
    e = _undirected(edges)
    seed_ids = seeds.select(F.col("id").alias("sid")).distinct()
    nodes = (
        e.select(F.col("src").alias("id"))
        .distinct()
        .join(seed_ids, F.col("id") == F.col("sid"), "left")
        .select(
            "id",
            F.when(F.col("sid").isNotNull(), F.lit(RESET_MICRO))
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("reset"),
        )
    )
    ranks = _rank_rounds(e, _pinned(nodes, "id", edges), iterations)
    return ranks.select(
        F.col("id").alias("node_id"),
        (F.col("r") / F.lit(MICRO)).alias("ppr"),
    )


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts — GraphX ``triangleCount`` contract
    (public Apache Spark code): triangles of the DEDUPLICATED UNDIRECTED
    graph, self-loops dropped; every triangle increments all three
    corner nodes. Output (node_id, triangles) for EVERY node of the
    graph (0 for triangle-free nodes).

    Algorithm: degree orientation (the node-iterator++ / forward
    algorithm, Schank & Wagner 2005) — orient each undirected edge from
    the lower-(degree, id) endpoint to the higher one, making the graph
    a DAG in which each triangle {a ≺ b ≺ c} survives exactly once as
    the path a→b→c closed by a→c. The wedge join therefore fans out
    from ORIENTED out-degree, which is at most O(√m) per node
    regardless of raw degree — the property that keeps the candidate
    volume at O(m^1.5) instead of Σ deg² and caps hub-node skew at
    100 TB (a celebrity node with 10⁹ followers has oriented out-degree
    bounded by the arboricity, so no reducer sees its raw fan-out).

    Shuffles: one dedup exchange on (a, b), one degree exchange, the
    wedge self-join keyed on the shared low vertex, the closing
    LEFT SEMI join keyed on (b, c), and the final per-corner count —
    all hash-partitioned joins, no cartesian, no driver round-trips;
    the whole computation is ONE job.
    """
    und = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .dropDuplicates(["a", "b"])
        .localCheckpoint(eager=False)
    )
    nodes = (
        und.select(F.col("a").alias("id"))
        .union(und.select(F.col("b").alias("id")))
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("v"))
        .union(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    da = deg.select(F.col("v").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("v").alias("b"), F.col("deg").alias("deg_b"))
    rank_a_lower = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    oriented = (
        und.join(da, "a")
        .join(db, "b")
        .select(
            F.when(rank_a_lower, F.col("a")).otherwise(F.col("b")).alias("lo"),
            F.when(rank_a_lower, F.col("b")).otherwise(F.col("a")).alias("hi"),
        )
        .localCheckpoint(eager=False)
    )
    o1 = oriented.select(F.col("lo").alias("x"), F.col("hi").alias("y"))
    o2 = oriented.select(F.col("lo").alias("y"), F.col("hi").alias("z"))
    wedges = o1.join(o2, "y").select("x", "y", "z")
    closing = oriented.select(F.col("lo").alias("x"), F.col("hi").alias("z"))
    tris = wedges.join(closing, ["x", "z"], "left_semi")
    corner_counts = (
        tris.select(F.col("x").alias("id"))
        .union(tris.select(F.col("y").alias("id")))
        .union(tris.select(F.col("z").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("t"))
    )
    return nodes.join(corner_counts, "id", "left").select(
        F.col("id").alias("node_id"),
        F.coalesce(F.col("t"), F.lit(0)).alias("triangles"),
    )


def bfs_hops(edges: DataFrame, seeds: DataFrame, max_hops: int = 4) -> DataFrame:
    """Minimum hop distance from a seed set (``seeds.id``) over the
    UNDIRECTED graph, bounded at ``max_hops`` — multi-source BFS, the
    propagation-radius primitive of TrustRank-style corpus curation (how
    many link hops from a vetted seed is this host?). Output (node_id, hops) for every
    REACHED node (hops ≤ max_hops); unreached nodes emit no row, so the
    result is exact with a fixed iteration count rather than an
    unbounded fixed point.

    Each round is one Bellman-Ford-style relaxation:
    ``dist' = min(dist, 1 + min over in-neighbors dist)`` — a join
    keyed on the edge source, a min-agg keyed on the destination, and a
    full outer merge with the running distance table. Fixed ``max_hops``
    means NO convergence action: all rounds compile into ONE Spark job
    (the graph_pagerank shape), with the symmetrized edge list a lazy
    localCheckpoint materialized on the job's first pass. Integer-exact
    end to end — no float anywhere, so the DuckDB oracle replays
    bit-identically by unrolling the same recurrence.
    """
    e = _undirected(edges)
    dist = seeds.select("id").distinct().withColumn(
        "hops", F.lit(0).cast("bigint")
    )
    for _ in range(max_hops):
        relaxed = (
            e.join(dist, e["src"] == dist["id"])
            .select("dst", (F.col("hops") + F.lit(1)).alias("h"))
            .groupBy("dst")
            .agg(F.min("h").alias("h"))
        )
        dist = (
            dist.join(relaxed, dist["id"] == relaxed["dst"], "full_outer")
            .select(
                F.coalesce(F.col("id"), F.col("dst")).alias("id"),
                F.least(
                    F.coalesce(F.col("hops"), F.lit(max_hops + 1)),
                    F.coalesce(F.col("h"), F.lit(max_hops + 1)),
                ).alias("hops"),
            )
        )
    return dist.select(F.col("id").alias("node_id"), "hops")


def label_propagation(edges: DataFrame, iterations: int = 3) -> DataFrame:
    """Community detection via synchronous label propagation (Raghavan
    2007; the GraphX ``LabelPropagation`` contract) over the UNDIRECTED
    graph: label_0(v) = v, then every round each node adopts its
    neighbors' most frequent label. GraphX breaks frequency ties by hash
    order (nondeterministic across runs); here ties break on the
    SMALLEST label — a total order, so the whole computation is
    integer-exact and replayable (the DuckDB oracle unrolls the same
    rounds). Fixed iteration count (the classic LPA termination, since
    synchronous LPA can oscillate on bipartite structures): all rounds
    compile into ONE job, no convergence action — the pagerank shape.

    Per round: one join keyed on the edge source, one (node, label)
    count aggregate, one max_by argmax per node — all partial-combining
    hash aggregates; per-round state is one BIGINT label per node.
    """
    e = _undirected(edges)
    nodes = e.select(F.col("src").alias("id")).distinct().localCheckpoint(
        eager=False
    )
    labels = nodes.withColumn("label", F.col("id"))
    for _ in range(iterations):
        counts = (
            e.join(labels, e["src"] == labels["id"])
            .groupBy("dst", "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        # most frequent neighbor label, smallest label on ties:
        # min_by over (-cnt, label) — negating only the count (always a
        # positive BIGINT) keeps the label itself un-negated, so the
        # tie-break holds for ANY orderable label domain, including
        # negative ids or strings (ADVICE r7 #3: the earlier
        # max_by(label, (cnt, -label)) silently assumed numeric labels).
        labels = counts.groupBy("dst").agg(
            F.min_by("label", F.struct(-F.col("cnt"), F.col("label"))).alias(
                "label"
            )
        ).select(F.col("dst").alias("id"), "label")
    return labels.select(F.col("id").alias("node_id"), "label")


# k chosen where the co-order graph genuinely peels but keeps a
# non-empty core at every tested scale (probed: k=6 is near-trivial,
# k>=20 cascades to empty; k=14 peels 0.5-5% with convergence <= 12
# rounds at sf0.001/sf0.01/sf0.1)
KCORE_K = 14
KCORE_ROUNDS = 12


def kcore_membership(
    edges: DataFrame,
    nodes: DataFrame,
    k: int = KCORE_K,
    rounds: int = KCORE_ROUNDS,
) -> DataFrame:
    """k-core membership by iterative peeling (Seidman 1983; the
    Batagelj-Zaversnik fixpoint): repeatedly drop nodes whose degree in
    the INDUCED subgraph is < k; survivors after convergence form the
    k-core — the cohesion screen that separates densely-interlinked
    hosts/mirror farms from the long tail in corpus link graphs (the
    role sketched for the family in this module's docstring).

    Contract: a FIXED number of peeling rounds, each round one
    grouped-degree pass over the induced subgraph — converged rounds
    are no-ops. The result SELF-REPORTS convergence (ADVICE r10 #3): a
    ``converged`` column carries whether the final two rounds kept the
    same survivor count (peeling is monotone, so equal counts ⟺ equal
    sets ⟺ fixpoint reached), computed lazily inside the same job — a
    dataset needing more than ``rounds`` rounds now announces itself in
    the output instead of silently returning a non-fixpoint that a
    round-unrolling oracle would agree with. Convergence at the tested
    scales remains pytest-pinned (tests/test_graph.py runs one extra
    round and asserts stability). All comparisons integer; the DuckDB
    oracle unrolls the identical rounds as a CTE chain and derives the
    same flag from its last two CTEs. ``edges`` is a ``(src, dst)``
    list and ``nodes.node`` the node set; degrees are counted over the
    undirected edge SET (``_undirected``), so a duplicated or reversed
    pair counts once.

    100 TB posture: like the pagerank family the loop compiles into ONE
    job — no per-round action — with a lazy localCheckpoint per round
    to keep the plan linear in ``rounds``; each round is the canonical
    join-aggregate Pregel shape keyed on the node id."""
    # the dst-side join of each round still shuffles the induced
    # intermediate — that one is fundamental
    e = _undirected(edges)
    kept = _pinned(nodes.select(F.col("node").alias("n")), "n", edges)
    prev = kept
    for _ in range(rounds):
        deg = (
            e.join(kept.withColumnRenamed("n", "src"), "src")
            .join(kept.withColumnRenamed("n", "dst"), "dst")
            .groupBy("src")
            .agg(F.count(F.lit(1)).alias("_deg"))
        )
        prev = kept
        kept = (
            deg.filter(F.col("_deg") >= k)
            .select(F.col("src").alias("n"))
            .localCheckpoint(eager=False)
        )
    # Lazy 1-row convergence probe: survivor sets only shrink, so
    # |round rounds-1| == |round rounds| ⟺ the peeling reached its
    # fixpoint. Two tiny aggregates cross-joined onto the result —
    # still one job, no driver-side action.
    stable = (
        prev.agg(F.count(F.lit(1)).alias("_n_prev"))
        .crossJoin(kept.agg(F.count(F.lit(1)).alias("_n_last")))
        .select(
            (F.col("_n_prev") == F.col("_n_last")).alias("converged")
        )
    )
    return (
        nodes.join(
            kept.withColumnRenamed("n", "node").withColumn("_in", F.lit(True)),
            "node",
            "left",
        )
        .crossJoin(F.broadcast(stable))
        .select(
            F.col("node").alias("node_id"),
            F.coalesce(F.col("_in"), F.lit(False)).alias("in_kcore"),
            "converged",
        )
    )


def hits(edges: DataFrame, iterations: int = 4) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999) over the DISTINCT
    directed edge set: ``iterations`` fixed power-iteration rounds of
    a ← Aᵀh, h ← Aa with MAX-normalization each half-step — the
    mutual-reinforcement centrality pair (a good hub points at good
    authorities, a good authority is pointed at by good hubs) that
    pagerank's single score can't express; in corpus link analysis the
    hub side finds index/portal pages and the authority side finds the
    canonical documents they concentrate on.

    Integer fixed-point per the module contract: scores live in
    micro-units, each half-step is one join + one partial-combining
    SUM, and normalization is ``(s · MICRO) div max(s)`` with the
    1-row max broadcast — every intermediate BIGINT (headroom: Σ over
    in-degree ≤ deg·MICRO ≤ 1.5e11, ×MICRO ≤ 1.5e17 < 2^63), so the
    DuckDB oracle unrolls the identical rounds with `//` and agrees
    bit-for-bit; the ONLY float is the final display division by
    MICRO. MAX-normalization (max score = 1.0) replaces the classic
    L2 norm — scale choice does not affect the power iteration's
    direction, and it keeps the chain in integers. Like pagerank the
    K rounds compile into ONE job: lazy localCheckpoints per round
    keep the plan linear, no per-round action, no driver collect.

    Output: one row per node, ``(node_id, kind, score)`` with kind ∈
    ('hub', 'authority') — a node appearing on both sides gets both
    rows. Every hub has out-degree ≥ 1 and every authority in-degree
    ≥ 1 by construction, so both max() scalars are positive and the
    integer divisions are total."""
    if iterations < 1:
        raise ValueError(
            f"hits() needs iterations >= 1 (got {iterations}): the "
            "authority relation only exists after the first a <- A'h "
            "half-step"
        )
    # HITS joins the static edge list on BOTH keys, alternating per
    # half-step — keep TWO pinned copies: e_src feeds the a ← Aᵀh half
    # (join on src), e_dst the h ← Aa half (join on dst). e_dst is
    # derived FROM e_src's cache so the dedup runs once. Two cached
    # copies of the edge list is the standard price for alternating-key
    # iteration (both are narrow 2-column frames).
    e_src = _directed(edges)
    e_dst = _pinned(e_src, "dst", edges)
    hubs = e_src.select(F.col("src").alias("id")).distinct().localCheckpoint(
        eager=False
    )
    auths = e_dst.select(F.col("dst").alias("id")).distinct().localCheckpoint(
        eager=False
    )
    h = hubs.withColumn("h", F.lit(MICRO).cast("bigint"))
    a = None
    for _ in range(iterations):
        a_raw = (
            e_src.join(h.withColumnRenamed("id", "src"), "src")
            .groupBy("dst")
            .agg(F.sum("h").alias("s"))
        )
        a_max = a_raw.agg(F.max("s").alias("m"))
        a = (
            a_raw.crossJoin(F.broadcast(a_max))
            .select(
                F.col("dst").alias("id"),
                F.expr("(s * 1000000) div m").alias("a"),
            )
            .localCheckpoint(eager=False)
        )
        h_raw = (
            e_dst.join(a.withColumnRenamed("id", "dst"), "dst")
            .groupBy("src")
            .agg(F.sum("a").alias("s"))
        )
        h_max = h_raw.agg(F.max("s").alias("m"))
        h = (
            h_raw.crossJoin(F.broadcast(h_max))
            .select(
                F.col("src").alias("id"),
                F.expr("(s * 1000000) div m").alias("h"),
            )
            .localCheckpoint(eager=False)
        )
    hub_rows = hubs.join(h, "id").select(
        F.col("id").alias("node_id"),
        F.lit("hub").alias("kind"),
        (F.col("h") / F.lit(MICRO)).alias("score"),
    )
    auth_rows = auths.join(a, "id").select(
        F.col("id").alias("node_id"),
        F.lit("authority").alias("kind"),
        (F.col("a") / F.lit(MICRO)).alias("score"),
    )
    return hub_rows.unionByName(auth_rows)


def hyperball_harmonic(
    edges: DataFrame,
    nodes: DataFrame,
    rounds: int = 3,
    p: int = 6,
) -> DataFrame:
    """Bounded-radius harmonic centrality via HyperBall (Boldi & Vigna,
    2013) — the algorithm web-scale corpus pipelines actually use to
    rank hosts for quality weighting (exact harmonic centrality needs
    all-pairs distances; HyperBall replaces each node's ball with an
    HLL counter and gets every node's centrality in K register-merge
    rounds over the edge list). Ninth graph member, and the second
    composition of the sketch machinery into another pillar (after the
    streaming HLL sink): ball(v, r) = ball(v, r−1) ∪ ⋃_{u∼v}
    ball(u, r−1) becomes a per-(node, register) MAX merge of the
    operators/sketch.py register relation — idempotent, sparse (rows
    only for set registers, ≤ min(|ball|, m) per node), and
    partial-combining.

    harmonic(v) ≈ Σ_{r=1..K} (|ball(v,r)| − |ball(v,r−1)|) / r — each
    |ball| the module's deterministic HLL estimate: registers are
    md5-bridge integers (bit-identical on any engine), z_num an exact
    BIGINT, the estimate one shared-literal division (+ ln in the
    linear-counting branch) rounded to 4dp, and the harmonic fold a
    FIXED left-to-right expression over those 4dp values — so Spark,
    DuckDB, and a Python replay agree exactly. Raw-branch estimates
    grow monotonically with the registers; the one documented HLL
    artifact is the LC→raw branch switch, which can wiggle a delta
    slightly negative — HyperBall sums counter estimates as-is.

    Scale shape: K rounds compile into ONE job (lazy checkpoint per
    round, no per-round action); each round is edges ⋈ state (shuffle
    keyed on the node id) + one partial-combining MAX aggregate; state
    is nodes × set-registers, never ball membership. Per-node counters
    use SMALL registers — ``p = 6`` (m = 64, ~13 % std err), the
    HyperANF operating point (Boldi-Vigna run 2^4–2^7 registers per
    node; web-scale centrality ranking needs ordering, not exact
    counts) — because the round-merge join volume is edges ×
    set-registers: m = 1024 measured 95 s at sf0.1 where m = 64 keeps
    the same chain tens of seconds with the identical parity contract.
    At 100 TB the register relation is exactly the ingest-maintained
    artifact class the sketch family already ships.

    Round 14 examined and REJECTED a packed-state restructure (one row
    per node with m register COLUMNS: round join |E| rows instead of
    |E|×set-registers, merge = m partial-combining MAXes, per-round
    estimate a projection instead of a groupBy) — output bit-identical
    (replay test green) but the interleaved same-process A/B measured
    it ~40 % SLOWER at bench scale (packed median 10.5 s vs sparse
    7.6 s at width 8 over 5 rotated reps; the 65-column rows make every
    round's sort/shuffle/agg row fatter than the sparse rows the small
    balls of early rounds produce). The sparse register relation stays
    — it is also the representation the sketch family's ingest
    artifacts ship, so the streaming HLL sinks compose with it
    directly."""
    from demo_pgvector_spark.operators import sketch as sketch_ops

    e = _undirected(edges)
    items0 = nodes.select("node", F.col("node").alias("member"))
    state = sketch_ops.hll_build(
        items0, "member", group_cols=("node",), p=p
    ).localCheckpoint(eager=False)

    def est(s: DataFrame, alias: str) -> DataFrame:
        return sketch_ops.hll_estimate(s, ("node",), p=p).select(
            "node", F.col("hll_est").alias(alias)
        )

    ests = [est(state, "e0")]
    for r in range(1, rounds + 1):
        # e is symmetric: u's registers flow to every v with (u, v)
        neigh = e.join(state, e["src"] == state["node"]).select(
            e["dst"].alias("node"), "register", "rho"
        )
        state = (
            state.unionByName(neigh)
            .groupBy("node", "register")
            .agg(F.max("rho").alias("rho"))
            .localCheckpoint(eager=False)
        )
        ests.append(est(state, f"e{r}"))
    joined = ests[0]
    for later in ests[1:]:
        joined = joined.join(later, "node")
    harmonic = F.lit(0.0)
    for r in range(1, rounds + 1):
        harmonic = harmonic + (F.col(f"e{r}") - F.col(f"e{r-1}")) / F.lit(
            float(r)
        )
    # Display contract: the ts_interpolate floor(x·1e4 + 0.5) BIGINT —
    # round() here is the one op the engines implement differently
    # (Spark exact-decimal HALF_UP vs DuckDB float round), and the sum
    # of three rounded-quotient terms lands near a 4dp boundary often
    # enough to flip last digits (8/2000 at sf0.01); floor of the same
    # double expression is bit-identical everywhere.
    return joined.withColumn("__harm", harmonic).select(
        F.col("node").alias("node_id"),
        *[F.col(f"e{r}").alias(f"ball_{r}") for r in range(1, rounds + 1)],
        F.expr("cast(floor(__harm * 10000 + 0.5) as bigint)").alias(
            "harmonic_e4"
        ),
    )
