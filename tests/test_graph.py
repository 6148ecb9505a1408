"""Graph operators (operators/graph.py) — semantics on small known
graphs. Oracle parity at data scale is gated by the graph_* CORRECTNESS
rows; here: each recurrence against an independent Python replay, plus
structural properties."""

from __future__ import annotations

import pytest

from demo_pgvector_spark.operators import graph


def _replay(edges, iters):
    # integer fixed point, mirroring the module contract: micro ranks,
    # nano contributions via floor division, damping as 17/20
    edges = sorted(set(edges))
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    outdeg = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    ranks = {n: 1_000_000 for n in nodes}
    for _ in range(iters):
        contrib = {}
        for s, d in edges:
            contrib[d] = contrib.get(d, 0) + (ranks[s] * 1000) // outdeg[s]
        ranks = {
            n: 150_000 + (17 * contrib.get(n, 0)) // 20_000 for n in nodes
        }
    return {n: r / 1_000_000 for n, r in ranks.items()}


EDGES = [
    (1, 2), (1, 3), (2, 3), (3, 1),  # a cycle with a split
    (4, 3),                          # 4 is dangling-source only
    (5, 6),                          # isolated pair; 6 is a sink (dangling)
    (1, 2),                          # duplicate edge — must dedupe
]


def test_matches_python_replay(spark):
    df = spark.createDataFrame(EDGES, "src long, dst long")
    got = {r["node_id"]: r["pr"] for r in graph.pagerank(df, 4).collect()}
    assert got == _replay(EDGES, 4)


def test_sink_and_source_shapes(spark):
    df = spark.createDataFrame(EDGES, "src long, dst long")
    got = {r["node_id"]: r["pr"] for r in graph.pagerank(df, 4).collect()}
    # a node with no in-edges settles at exactly the reset mass
    assert got[4] == 0.15 and got[5] == 0.15
    # the sink keeps receiving 0.85 * rank(5) = 0.85 * 0.15 + 0.15
    assert got[6] == round(0.15 + 0.85 * 0.15, 6)
    # every node present exactly once, even dedup'd-edge endpoints
    assert set(got) == {1, 2, 3, 4, 5, 6}


# --- triangle_counts -------------------------------------------------------

# Known graph: K4 on {1,2,3,4} (every vertex in C(3,2)=3 triangles),
# a pendant 5-1, an isolated edge 6-7, plus duplicate/reversed/self
# edges that must all normalize away.
TRI_EDGES = [
    (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),   # K4
    (5, 1),                                           # pendant
    (6, 7),                                           # triangle-free pair
    (2, 1), (1, 2), (3, 3),                           # dup, reverse, loop
]


def test_triangle_counts_on_k4_plus_tail(spark):
    df = spark.createDataFrame(TRI_EDGES, "src long, dst long")
    got = {
        r["node_id"]: r["triangles"]
        for r in graph.triangle_counts(df).collect()
    }
    assert got == {1: 3, 2: 3, 3: 3, 4: 3, 5: 0, 6: 0, 7: 0}


def test_triangle_counts_matches_bruteforce_on_random_graph(spark):
    # deterministic pseudo-random graph; brute force = check every
    # vertex triple against the undirected edge set
    edges = [((7 * i) % 23, (11 * i + 3) % 23) for i in range(90)]
    und = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    nodes = sorted({v for e in und for v in e})
    want = {n: 0 for n in nodes}
    import itertools

    for a, b, c in itertools.combinations(nodes, 3):
        if {(a, b), (a, c), (b, c)} <= und:
            for v in (a, b, c):
                want[v] += 1
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node_id"]: r["triangles"]
        for r in graph.triangle_counts(df).collect()
    }
    assert got == want


# --- bfs_hops --------------------------------------------------------------


def _bfs_replay(edges, seeds, max_hops):
    sym = set()
    for s, d in edges:
        if s != d:
            sym.add((s, d))
            sym.add((d, s))
    dist = {s: 0 for s in seeds}
    for _ in range(max_hops):
        relaxed = {}
        for s, d in sym:
            if s in dist:
                relaxed[d] = min(relaxed.get(d, 1 << 30), dist[s] + 1)
        for d, h in relaxed.items():
            dist[d] = min(dist.get(d, 1 << 30), h)
    return dist


BFS_EDGES = [
    (1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 7),  # a path
    (10, 2),                                          # branch near seed
    (20, 21),                                         # unreachable island
    (2, 1), (1, 1),                                   # reverse dup, loop
]


def test_bfs_hops_path_graph(spark):
    df = spark.createDataFrame(BFS_EDGES, "src long, dst long")
    seeds = spark.createDataFrame([(1,)], "id long")
    got = {
        r["node_id"]: r["hops"]
        for r in graph.bfs_hops(df, seeds, max_hops=3).collect()
    }
    # traversal is undirected; island {20,21} and nodes >3 hops emit no row
    assert got == {1: 0, 2: 1, 3: 2, 4: 3, 10: 2}
    assert got == _bfs_replay(BFS_EDGES, [1], 3)


def test_bfs_hops_multi_source_takes_min(spark):
    df = spark.createDataFrame(BFS_EDGES, "src long, dst long")
    seeds = spark.createDataFrame([(1,), (6,), (6,)], "id long")  # dup seed
    got = {
        r["node_id"]: r["hops"]
        for r in graph.bfs_hops(df, seeds, max_hops=2).collect()
    }
    assert got == _bfs_replay(BFS_EDGES, [1, 6], 2)
    assert got[4] == 2 and got[5] == 1 and got[7] == 1  # from seed 6


# --- label_propagation -------------------------------------------------------


def _lpa_replay(edges, iters):
    sym = set()
    for s, d in edges:
        if s != d:
            sym.add((s, d))
            sym.add((d, s))
    nodes = sorted({s for s, _ in sym})
    labels = {n: n for n in nodes}
    for _ in range(iters):
        nxt = {}
        for n in nodes:
            counts = {}
            for s, d in sym:
                if d == n:
                    counts[labels[s]] = counts.get(labels[s], 0) + 1
            nxt[n] = sorted(counts, key=lambda l: (-counts[l], l))[0]
        labels = nxt
    return labels


LPA_EDGES = [
    # two triangles bridged by one edge — classic two-community shape
    (1, 2), (2, 3), (1, 3),
    (7, 8), (8, 9), (7, 9),
    (3, 7),
    (2, 1), (1, 1),  # reverse dup, loop
]


def test_lpa_matches_python_replay_and_finds_communities(spark):
    df = spark.createDataFrame(LPA_EDGES, "src long, dst long")
    for iters in (1, 2, 3):
        got = {
            r["node_id"]: r["label"]
            for r in graph.label_propagation(df, iterations=iters).collect()
        }
        assert got == _lpa_replay(LPA_EDGES, iters), iters
    got3 = _lpa_replay(LPA_EDGES, 3)
    # after 3 rounds the two triangles carry distinct dominant labels
    assert len({got3[1], got3[7]}) == 2


def test_lpa_tie_breaks_on_smallest_label(spark):
    # node 5 sees labels {1, 2} once each — the smaller must win
    edges = [(1, 5), (2, 5)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node_id"]: r["label"]
        for r in graph.label_propagation(df, iterations=1).collect()
    }
    assert got[5] == 1
    assert got == _lpa_replay(edges, 1)


# --- personalized_pagerank -------------------------------------------------


def _replay_ppr(edges, seeds, iters):
    # undirected symmetrization, self-loops dropped, integer fixed point
    sym = sorted({(s, d) for a, b in edges for s, d in ((a, b), (b, a)) if s != d})
    nodes = sorted({s for s, _ in sym})
    outdeg = {}
    for s, _ in sym:
        outdeg[s] = outdeg.get(s, 0) + 1
    seeds = set(seeds)
    ranks = {n: 1_000_000 if n in seeds else 0 for n in nodes}
    for _ in range(iters):
        contrib = {}
        for s, d in sym:
            contrib[d] = contrib.get(d, 0) + (ranks[s] * 1000) // outdeg[s]
        ranks = {
            n: (150_000 if n in seeds else 0)
            + (17 * contrib.get(n, 0)) // 20_000
            for n in nodes
        }
    return {n: r / 1_000_000 for n, r in ranks.items()}


def test_ppr_matches_python_replay(spark):
    df = spark.createDataFrame(EDGES, "src long, dst long")
    seeds = spark.createDataFrame([(1,), (5,)], "id long")
    got = {
        r["node_id"]: r["ppr"]
        for r in graph.personalized_pagerank(df, seeds, 4).collect()
    }
    assert got == _replay_ppr(EDGES, [1, 5], 4)


def test_ppr_mass_is_seed_local(spark):
    # two disconnected components; seeding only one must leave the
    # other at EXACTLY zero — the TrustRank property
    edges = [(1, 2), (2, 3), (10, 11), (11, 12)]
    df = spark.createDataFrame(edges, "src long, dst long")
    seeds = spark.createDataFrame([(1,)], "id long")
    got = {
        r["node_id"]: r["ppr"]
        for r in graph.personalized_pagerank(df, seeds, 5).collect()
    }
    assert got[10] == got[11] == got[12] == 0.0
    assert got[1] > 0 and got[2] > 0 and got[3] > 0
    # non-seed rank comes only from propagation; seed holds restart mass
    assert got[1] > got[3]


def test_kcore_converges_and_is_a_proper_core(spark):
    """kcore_membership: one EXTRA peeling round must not change the
    survivor set (the fixed-round result IS the fixpoint), the core
    must be non-trivial (some peeled, some kept), and every survivor
    must have induced degree >= k."""
    from demo_pgvector_spark import registry
    from demo_pgvector_spark.operators import graph as g
    from tests.conftest import SF_SMALL

    pairs, nodes = registry._co_order_graph(spark, SF_SMALL)
    base = {
        r["node_id"]: r["in_kcore"]
        for r in g.kcore_membership(pairs, nodes).collect()
    }
    extra = {
        r["node_id"]: r["in_kcore"]
        for r in g.kcore_membership(
            pairs, nodes, rounds=g.KCORE_ROUNDS + 1
        ).collect()
    }
    assert base == extra  # fixpoint reached within KCORE_ROUNDS
    # the operator's own lazy convergence flag agrees (ADVICE r10 #3)
    flags = {
        r["converged"]
        for r in g.kcore_membership(pairs, nodes).collect()
    }
    assert flags == {True}
    kept = {n for n, f in base.items() if f}
    assert 0 < len(kept) < len(base)  # proper, non-trivial core
    sym = {(x, y) for r in pairs.collect() for x, y in
           ((r["src"], r["dst"]), (r["dst"], r["src"]))}
    for n in kept:
        deg = sum(1 for x, y in sym if x == n and y in kept)
        assert deg >= g.KCORE_K, (n, deg)


def test_hits_rejects_zero_iterations(spark):
    """hits(iterations=0) has no authority relation to return — the
    guard raises a meaningful ValueError instead of crashing at the
    auth join (ADVICE r11)."""
    import pytest

    from demo_pgvector_spark.operators import graph as g

    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError, match="iterations >= 1"):
        g.hits(edges, iterations=0)


def test_hits_matches_python_replay_and_reinforces(spark):
    """hits(): the integer fixed-point chain equals a pure-Python replay
    of the same max-normalized recurrence on a crafted directed graph,
    and mutual reinforcement holds — the authority pointed at by more
    hubs outranks its peers, the hub pointing at better authorities
    outranks its peers."""
    from demo_pgvector_spark.operators import graph as g

    # hubs 1,2,3 -> authorities 10,11,12 (ids pre-namespaced/disjoint):
    # authority 10 has in-degree 3, 11 has 2, 12 has 1;
    # hub 1 points at all three, 2 at two, 3 at one.
    edges = [(1, 10), (1, 11), (1, 12), (2, 10), (2, 11), (3, 10)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        (r["kind"], r["node_id"]): r["score"]
        for r in g.hits(df).collect()
    }

    MICRO = 1_000_000
    h = {u: MICRO for u in {s for s, _ in edges}}
    a = {}
    for _ in range(4):
        raw_a = {}
        for s, d in edges:
            raw_a[d] = raw_a.get(d, 0) + h[s]
        m = max(raw_a.values())
        a = {d: (v * MICRO) // m for d, v in raw_a.items()}
        raw_h = {}
        for s, d in edges:
            raw_h[s] = raw_h.get(s, 0) + a[d]
        m = max(raw_h.values())
        h = {s: (v * MICRO) // m for s, v in raw_h.items()}
    for u, v in h.items():
        assert got[("hub", u)] == v / MICRO, (u, got[("hub", u)], v)
    for d, v in a.items():
        assert got[("authority", d)] == v / MICRO, (d,)
    assert got[("authority", 10)] > got[("authority", 11)] > got[("authority", 12)]
    assert got[("hub", 1)] > got[("hub", 2)] > got[("hub", 3)]
    assert got[("hub", 1)] == 1.0 and got[("authority", 10)] == 1.0  # max-norm


def test_hyperball_matches_python_replay(spark):
    """hyperball_harmonic: registers, per-round ball estimates, and the
    floor-scaled harmonic all equal a pure-Python replay of the same
    md5-bridge/HLL/merge chain on a known graph, and the structural
    ordering holds (the star hub sees more of the graph per hop than
    the path tail)."""
    import hashlib
    import math

    from demo_pgvector_spark.operators import graph as g
    from demo_pgvector_spark.operators import sketch as sketch_ops

    P, ROUNDS = 6, 3
    M = 1 << P
    Q = sketch_ops.HLL_BITS - P

    edges = [(1, 2), (1, 3), (1, 4), (1, 5), (1, 6), (6, 7), (7, 8)]
    df = spark.createDataFrame(edges, "src long, dst long")
    nodes_df = spark.createDataFrame(
        sorted({(v,) for e in edges for v in e}), "node long"
    )
    got = {
        r["node_id"]: (r["ball_1"], r["ball_2"], r["ball_3"], r["harmonic_e4"])
        for r in g.hyperball_harmonic(df, nodes_df, rounds=ROUNDS, p=P).collect()
    }

    sym = {}
    for a, b in edges:
        sym.setdefault(a, set()).add(b)
        sym.setdefault(b, set()).add(a)
    nodes = sorted(sym)

    def regs_of(members):
        regs = {}
        for v in members:
            h = int(hashlib.md5(str(v).encode()).hexdigest()[:8], 16)
            reg, suf = h % M, h // M
            rho = Q + 1 if suf == 0 else Q - suf.bit_length() + 1
            regs[reg] = max(regs.get(reg, 0), rho)
        return regs

    def est(regs):
        zeros = M - len(regs)
        z_num = zeros * (1 << (Q + 1)) + sum(
            1 << (Q + 1 - rho) for rho in regs.values()
        )
        raw = sketch_ops.hll_alpha_num(P) / z_num
        if raw <= 2.5 * M and zeros > 0:
            return round(float(M) * math.log(float(M) / zeros), 4)
        return round(raw, 4)

    balls = {v: {v} for v in nodes}
    ests = {v: [est(regs_of(balls[v]))] for v in nodes}
    for _ in range(ROUNDS):
        balls = {
            v: balls[v] | set().union(*(balls[u] for u in sym[v]))
            for v in nodes
        }
        for v in nodes:
            ests[v].append(est(regs_of(balls[v])))
    for v in nodes:
        e = ests[v]
        harm = 0.0
        for r in range(1, ROUNDS + 1):
            harm = harm + (e[r] - e[r - 1]) / float(r)
        want = (e[1], e[2], e[3], int(math.floor(harm * 10000 + 0.5)))
        assert got[v] == want, (v, got[v], want)
    # structural ordering: the hub's 1-ball dominates the tail's
    assert got[1][0] > got[8][0]
    assert got[1][3] > got[8][3]


def test_loop_partitions_is_result_invariant(spark):
    """The iterative ops pre-partition their static frames at an explicit
    loop width (``session.width_for``: the session width for an in-memory
    edge frame). The width is a pure physical-plan knob — results must be
    bit-identical across session widths."""
    from demo_pgvector_spark.session import scoped_conf

    df = spark.createDataFrame(EDGES, "src long, dst long")
    base = sorted(map(tuple, graph.pagerank(df, 3).collect()))
    lpa_base = sorted(map(tuple, graph.label_propagation(df, 2).collect()))
    for w in (1, 3, 8):
        with scoped_conf(spark, "spark.sql.shuffle.partitions", w):
            got = sorted(map(tuple, graph.pagerank(df, 3).collect()))
            lpa_w = sorted(
                map(tuple, graph.label_propagation(df, 2).collect())
            )
        assert got == base, f"session width {w} changed the pagerank result"
        assert lpa_w == lpa_base, f"session width {w} changed the LPA result"


# --- one edge relation -------------------------------------------------------

# A triangle with a two-hop tail and a separate pair; the dirty copy adds
# duplicated rows, reversed copies and self-loops, none of which may
# change an undirected operator's output.
CLEAN_EDGES = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (6, 7)]
DIRTY_EDGES = CLEAN_EDGES + [
    (2, 1), (4, 5), (5, 4), (4, 3), (4, 5),  # duplicates and reverses
    (5, 5), (1, 1), (7, 7),                  # self-loops
]


def _undirected_ops(spark):
    from pyspark.sql import functions as F

    from demo_pgvector_spark.operators import dedup

    seeds = spark.createDataFrame([(1,)], "id long")
    nodes = spark.createDataFrame([(v,) for v in range(1, 8)], "node long")
    return {
        "ppr": lambda e: graph.personalized_pagerank(e, seeds, 3),
        "bfs": lambda e: graph.bfs_hops(e, seeds, max_hops=3),
        "lpa": lambda e: graph.label_propagation(e, iterations=2),
        "kcore": lambda e: graph.kcore_membership(e, nodes, k=2, rounds=4),
        "hyperball": lambda e: graph.hyperball_harmonic(e, nodes, rounds=2),
        "dedup_assign": lambda e: dedup.dedup_assign(
            nodes.withColumnRenamed("node", "doc_id"),
            e.select(F.col("src").alias("id_a"), F.col("dst").alias("id_b")),
        ),
    }


@pytest.mark.parametrize(
    "op", ["ppr", "bfs", "lpa", "kcore", "hyperball", "dedup_assign"]
)
def test_undirected_operators_read_their_edges_as_a_set(spark, op):
    """Every undirected operator reads ``graph._undirected``: duplicated
    rows, reversed copies and self-loops give the same output as the
    clean edge set (k-core membership once counted a duplicated pair
    twice toward a node's degree)."""
    run = _undirected_ops(spark)[op]

    def rows(edges):
        df = spark.createDataFrame(edges, "src long, dst long")
        return sorted(map(tuple, run(df).collect()))

    clean = rows(CLEAN_EDGES)
    assert clean and rows(DIRTY_EDGES) == clean
    if op == "kcore":  # the clean 2-core is the triangle
        assert {r[0] for r in clean if r[1]} == {1, 2, 3}


def test_package_spells_the_reversed_edge_union_once():
    """The package has ONE spelling of "an edge list plus its reverses":
    ``graph._both_directions``. No other function selects an edge
    frame with its two endpoint columns swapped, whether it unions the
    swapped select onto a select of the same columns (``union`` or
    ``unionByName``) or swaps two literal column names in place."""
    import ast
    import pathlib

    import demo_pgvector_spark

    def renames(call):
        # alias -> the F.col(...) argument, over one select's arguments
        out = {}
        for a in call.args:
            if (
                isinstance(a, ast.Call)
                and getattr(a.func, "attr", None) == "alias"
                and a.args
                and isinstance(a.args[0], ast.Constant)
                and isinstance(a.func.value, ast.Call)
                and getattr(a.func.value.func, "attr", None) == "col"
                and len(a.func.value.args) == 1
            ):
                out[a.args[0].value] = a.func.value.args[0]
        return out

    def is_select(n):
        return isinstance(n, ast.Call) and getattr(n.func, "attr", None) == "select"

    def dumped(node):
        return [
            {x: ast.dump(c) for x, c in renames(n).items()}
            for n in ast.walk(node)
            if is_select(n)
        ]

    def swapped(r, s):
        return any(
            r[x] == s[y] and r[y] == s[x] != r[x]
            for x in r
            for y in r
            if x != y and x in s and y in s
        )

    root = pathlib.Path(demo_pgvector_spark.__file__).parent
    found = set()
    for path in sorted(root.rglob("*.py")):
        for top in ast.parse(path.read_text(encoding="utf-8")).body:
            owner = (path.relative_to(root).as_posix(), getattr(top, "name", None))
            for n in ast.walk(top):
                if is_select(n):
                    lit = {
                        x: c.value
                        for x, c in renames(n).items()
                        if isinstance(c, ast.Constant)
                    }
                    if any(lit.get(c) == x != c for x, c in lit.items()):
                        found.add(owner)
                if getattr(getattr(n, "func", None), "attr", None) in (
                    "union",
                    "unionByName",
                ) and any(
                    swapped(r, s)
                    for r in dumped(n.func.value)
                    for a in n.args
                    for s in dumped(a)
                ):
                    found.add(owner)
    assert found == {("operators/graph.py", "_both_directions")}
