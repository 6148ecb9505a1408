"""Property tests for the vector function / similarity operator core."""

from __future__ import annotations

from pyspark.sql import functions as F

from demo_pgvector_spark import tables
from demo_pgvector_spark.functions.vector import (
    cosine_similarity,
    dot,
    dot_sql,
    l2_norm,
    l2_normalize,
    l2sq_sql,
    query_vector_literal,
    sequential_fold,
)
from demo_pgvector_spark.operators.similarity import sim_topk
from demo_pgvector_spark.registry import _query_vec


def test_stored_vectors_are_normalized(spark, sf_dir):
    # faithful to reference src/lib/embedding.py:115-118 (L2-normalized store)
    emb = tables.load(spark, sf_dir, "embeddings")
    bad = emb.filter(
        F.abs(l2_norm(F.col("embedding")) - 1.0) > 1e-5
    ).count()
    assert bad == 0


def test_cosine_bounds(spark, sf_dir):
    emb = tables.load(spark, sf_dir, "embeddings")
    qv = query_vector_literal(_query_vec(spark, sf_dir))
    sims = emb.select(cosine_similarity(F.col("embedding"), qv).alias("s"))
    out_of_range = sims.filter((F.col("s") < -1.0 - 1e-9) | (F.col("s") > 1.0 + 1e-9))
    assert out_of_range.count() == 0


def test_self_similarity_is_one(spark, sf_dir):
    emb = tables.load(spark, sf_dir, "embeddings")
    row = emb.select(
        cosine_similarity(F.col("embedding"), F.col("embedding")).alias("s")
    ).agg(F.min("s"), F.max("s")).first()
    assert abs(row[0] - 1.0) < 1e-9 and abs(row[1] - 1.0) < 1e-9


def test_normalize_idempotent(spark, sf_dir):
    emb = tables.load(spark, sf_dir, "embeddings").limit(50)
    renorm = emb.select(l2_norm(l2_normalize(F.col("embedding"))).alias("n"))
    bad = renorm.filter(F.abs(F.col("n") - 1.0) > 1e-9).count()
    assert bad == 0


def test_topk_subset_of_threshold_set(spark, sf_dir):
    emb = tables.load(spark, sf_dir, "embeddings")
    docs = tables.load(spark, sf_dir, "documents")
    q = _query_vec(spark, sf_dir)
    topk = sim_topk(emb, docs, q, top_k=5, threshold=0.1)
    ids = {r["vec_id"] for r in topk.select("vec_id").collect()}
    qv = query_vector_literal(q)
    allowed = {
        r["vec_id"]
        for r in emb.select(
            "vec_id", cosine_similarity(F.col("embedding"), qv).alias("s")
        )
        .filter(F.col("s") >= 0.1)
        .collect()
    }
    assert ids <= allowed and len(ids) <= 5


def test_threshold_validation(spark, sf_dir):
    # mirrors cli/search_doc_chunks.py:51-55 range check
    import pytest

    emb = tables.load(spark, sf_dir, "embeddings")
    docs = tables.load(spark, sf_dir, "documents")
    with pytest.raises(ValueError):
        sim_topk(emb, docs, [0.0] * 64, threshold=1.5)


def test_dot_matches_numpy(spark, sf_dir):
    import numpy as np

    emb = tables.load(spark, sf_dir, "embeddings").limit(20)
    rows = emb.select("vec_id", "embedding").collect()
    q = _query_vec(spark, sf_dir)
    qv = query_vector_literal(q)
    got = {
        r["vec_id"]: r["d"]
        for r in emb.select("vec_id", dot(F.col("embedding"), qv).alias("d")).collect()
    }
    for r in rows:
        expect = float(np.dot(np.asarray(r["embedding"], dtype=np.float64), np.asarray(q)))
        assert abs(got[r["vec_id"]] - expect) < 1e-12


def test_mmr_rerank_matches_python_replay(spark, sf_dir):
    """Pure-Python replay of the MMR greedy recursion on the real
    testdata (query vec excluded, 6dp rounding, id tie-break) — and the
    margin gate (the ADVICE-r6 pattern): at every greedy step the gap
    between the chosen and runner-up ROUNDED scores must clear 2e-6, so
    the argmax can never hinge on a cross-engine rounding boundary."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from demo_pgvector_spark.operators.similarity import mmr_rerank
    from demo_pgvector_spark.registry import QUERY_VEC_ID

    def rnd6(x):
        # Spark's round() = BigDecimal.valueOf(double).setScale(6,
        # HALF_UP), i.e. HALF_UP over the double's SHORTEST decimal
        # repr — python round() is half-even and flips every score
        # whose 7th digit is exactly 5, which here is every step where
        # (simq − maxp) has an odd last digit (the λ=0.5 halving)
        return float(Decimal(repr(x)).quantize(
            Decimal("0.000001"), rounding=ROUND_HALF_UP))

    emb = tables.load(spark, sf_dir, "embeddings")
    rows = {r["vec_id"]: [float(x) for x in r["embedding"]]
            for r in emb.collect()}
    qv = [float(x) for x in _query_vec(spark, sf_dir)]

    def _dot(a, b):
        # sequential left-to-right fold — bit-for-bit the Spark
        # aggregate(zip_with(...)) expression (numpy's BLAS dot sums
        # pairwise and diverges in the last ulp, which flips 6dp
        # rounding on boundary-sitting sims)
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    def cos(a, b):
        return _dot(a, b) / math.sqrt(_dot(a, a) * _dot(b, b))

    pool_size, k, lam = 12, 5, 0.5
    cands = {i: rnd6(cos(v, qv)) for i, v in rows.items()
             if i != QUERY_VEC_ID}
    pool = sorted(cands, key=lambda i: (-cands[i], i))[:pool_size]
    selected, want = [], []
    for t in range(1, k + 1):
        scores = {}
        for c in pool:
            if c in selected:
                continue
            if not selected:
                scores[c] = rnd6(lam * cands[c])
            else:
                maxp = max(rnd6(cos(rows[c], rows[s])) for s in selected)
                scores[c] = rnd6(lam * cands[c] - (1 - lam) * maxp)
        ranked = sorted(scores, key=lambda i: (-scores[i], i))
        pick = ranked[0]
        if len(ranked) > 1:  # margin gate: argmax never decided by <2e-6
            assert scores[pick] - scores[ranked[1]] >= 2e-6 or (
                scores[pick] == scores[ranked[1]]  # id tie is deterministic
            ), (t, scores[pick], scores[ranked[1]])
        selected.append(pick)
        want.append((pick, t, scores[pick]))

    got = [
        (r["vec_id"], r["mmr_rank"], r["mmr_score"])
        for r in mmr_rerank(
            emb.filter(F.col("vec_id") != QUERY_VEC_ID),
            _query_vec(spark, sf_dir),
            pool_size=pool_size,
            k=k,
            lam=lam,
        ).collect()
    ]
    assert sorted(got, key=lambda r: r[1]) == want


def test_mmr_scores_are_nondegenerate(spark, sf_dir):
    # with the query vector excluded, later picks must carry varied,
    # informative scores (the vec-0-in-pool regression collapsed every
    # rank>1 score to exactly 0.0 and the gate to an id-order sort)
    from demo_pgvector_spark.registry import q_vec_mmr_rerank

    got = q_vec_mmr_rerank(spark, sf_dir).collect()
    assert len(got) == 8
    tail_scores = {r["mmr_score"] for r in got if r["mmr_rank"] > 1}
    assert len(tail_scores) > 1


def test_rrf_fuse_integer_scores_and_missing_lists(spark):
    """rrf_fuse: fused score is the exact BIGINT floor sum, documents
    missing from one list contribute only the other list's term (NULL
    rank carried through), ties break by ascending id."""
    from demo_pgvector_spark.operators import retrieval

    dense = spark.createDataFrame(
        [(1, 1), (2, 2), (3, 3)], "doc_id long, rank int"
    )
    sparse = spark.createDataFrame(
        [(2, 1), (4, 2)], "doc_id long, rank int"
    )
    out = {
        r["doc_id"]: r
        for r in retrieval.rrf_fuse(
            {"dense": dense, "sparse": sparse}, topk=10
        ).collect()
    }
    s = 1_000_000_000
    assert out[2]["rrf_scaled"] == s // 62 + s // 61  # both lists
    assert out[1]["rrf_scaled"] == s // 61  # dense only
    assert out[1]["rank_sparse"] is None
    assert out[4]["rrf_scaled"] == s // 62
    assert out[4]["rank_dense"] is None
    # doc 1 (dense rank 1) and doc 4 (sparse rank 2): 1/61 > 1/62
    ordered = [
        r["doc_id"]
        for r in retrieval.rrf_fuse(
            {"dense": dense, "sparse": sparse}, topk=10
        ).collect()
    ]
    assert ordered[0] == 2 and ordered[1] == 1


def test_ood_score_matches_numpy_replay(spark, monkeypatch):
    """q_vec_ood_score vs a pure-numpy replay of the full definition:
    argmax-cosine assignment to the seed centroids, 6dp-rounded scaled
    sims, exact integer cluster moments, z = (n·x − s1)/sqrt(n·s2 −
    s1²), flag at z < −2 (zero-variance clusters flag nothing)."""
    import math

    import numpy as np

    import demo_pgvector_spark.registry as reg

    rng = np.random.RandomState(3)
    vecs = rng.normal(0, 1, (80, 16))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    rows = [(i, [float(x) for x in vecs[i]], 0) for i in range(80)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    monkeypatch.setattr(reg.tables, "load", lambda _s, _d, _t: df)
    got = {
        r["vec_id"]: r for r in reg.q_vec_ood_score(spark, "x").collect()
    }

    cents = vecs[:16]
    sims_to = vecs @ cents.T  # unit vectors: dot == cosine
    cluster = sims_to.argmax(axis=1)
    scaled = {
        i: int(math.floor(round(sims_to[i, cluster[i]], 6) * 1e6 + 0.5))
        for i in range(80)
    }
    for cl in set(cluster):
        members = [i for i in range(80) if cluster[i] == cl]
        n = len(members)
        s1 = sum(scaled[i] for i in members)
        s2 = sum(scaled[i] ** 2 for i in members)
        den = math.sqrt(n * s2 - s1 * s1) if n * s2 - s1 * s1 > 0 else None
        for i in members:
            assert got[i]["cluster"] == cl
            assert got[i]["sim_scaled"] == scaled[i]
            if den is None or den == 0.0:
                assert got[i]["z"] is None and not got[i]["is_outlier"]
            else:
                want = (n * scaled[i] - s1) / den
                assert abs(got[i]["z"] - round(want, 4)) <= 1e-9
                assert got[i]["is_outlier"] == (want < -2.0)


def test_sql_column_and_driver_folds_agree_bit_for_bit(spark):
    """``dot_sql``/``l2sq_sql``, the Column ``dot``/``cosine_similarity``
    and the driver's ``sequential_fold`` give the same doubles, for
    float32 and float64 rows, zero vectors included (cosine null)."""
    import math

    import numpy as np

    rng = np.random.RandomState(7)
    for etype, dtype in (("float", np.float32), ("double", np.float64)):
        pairs = [rng.normal(0, 1, (2, 37)).astype(dtype) for _ in range(40)]
        zero = np.zeros(37)
        pairs += [np.stack([zero, zero]), np.stack([zero, rng.normal(0, 1, 37)])]
        rows = [
            (i, [float(x) for x in dtype(a)], [float(x) for x in dtype(b)])
            for i, (a, b) in enumerate(pairs)
        ]
        df = spark.createDataFrame(rows, f"i int, a array<{etype}>, b array<{etype}>")
        got = df.select(
            "i",
            F.expr(dot_sql("a", "b")).alias("dot_sql"),
            dot(F.col("a"), F.col("b")).alias("dot"),
            F.expr(l2sq_sql("a", "b")).alias("l2sq"),
            cosine_similarity(F.col("a"), F.col("b")).alias("cos"),
        ).collect()
        for r in got:
            _, a, b = rows[r["i"]]
            d = sequential_fold(a, b)
            norm = math.sqrt(sequential_fold(a, a) * sequential_fold(b, b))
            assert r["dot_sql"] == r["dot"] == d
            assert r["l2sq"] == sequential_fold(a, b, l2=True)
            assert r["cos"] == (d / norm if norm else None)


def test_vector_kernels_are_spelled_only_in_functions_vector():
    """No operator writes its own vector kernel: no ``aggregate(zip_with``
    fold text, no hand-joined ``{x!r}D`` double-array literal and no
    ``F.array(*[F.lit(float(...))])`` literal outside docstrings under
    ``operators/`` — they come from ``functions/vector.py``, the one
    module that spells them (``_f16_round_sql``'s rounding ``zip_with``
    is not a fold)."""
    import ast
    import pathlib

    from demo_pgvector_spark.functions import vector
    from demo_pgvector_spark.operators import ann

    def kernels(path):
        tree = ast.parse(path.read_text(encoding="utf-8"))
        docs = {
            id(n.body[0].value)
            for n in ast.walk(tree)
            if isinstance(n, (ast.Module, ast.FunctionDef, ast.ClassDef))
            and n.body
            and isinstance(n.body[0], ast.Expr)
            and isinstance(n.body[0].value, ast.Constant)
        }
        found = set()
        for n in ast.walk(tree):
            if (
                isinstance(n, ast.Constant)
                and isinstance(n.value, str)
                and "aggregate(zip_with(" in n.value
                and id(n) not in docs
            ):
                found.add("fold")
            if (
                isinstance(n, ast.JoinedStr)
                and len(n.values) == 2
                and isinstance(n.values[0], ast.FormattedValue)
                and n.values[0].conversion == ord("r")
                and getattr(n.values[1], "value", None) == "D"
            ):
                found.add("literal")
            if (
                isinstance(n, ast.Call)
                and getattr(n.func, "attr", None) == "array"
                and any(
                    isinstance(c, ast.Call)
                    and getattr(c.func, "attr", None) == "lit"
                    and c.args
                    and isinstance(c.args[0], ast.Call)
                    and getattr(c.args[0].func, "id", None) == "float"
                    for a in n.args
                    if isinstance(a, ast.Starred)
                    for c in ast.walk(a)
                )
            ):
                found.add("lit_array")
        return found

    vector_py = pathlib.Path(vector.__file__)
    assert kernels(vector_py) == {"fold", "literal"}
    operators = sorted(pathlib.Path(ann.__file__).parent.glob("*.py"))
    assert {p.name: kernels(p) for p in operators if kernels(p)} == {}
