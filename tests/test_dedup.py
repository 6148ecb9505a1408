"""Property tests for the dedup family (operators/dedup.py). Oracle
parity is gated by the dedup_* CORRECTNESS rows; here: semantic
properties on corpora with KNOWN duplicate structure."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from demo_pgvector_spark import tables
from demo_pgvector_spark.operators import dedup

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the tall green trees "
    "near the old stone bridge across the quiet river"
)
# doc 1 = doc 0 verbatim; doc 2 = one word changed (near-dup);
# doc 3 = half replaced (weak overlap); doc 4 = unrelated.
CORPUS = [
    (0, BASE),
    (1, BASE),
    (2, BASE.replace("lazy", "sleepy")),
    (3, BASE[: len(BASE) // 2] + " completely different ending with many new words "
        "about ships and oceans and storms far away from any bridge"),
    (4, "entirely unrelated content discussing compilers registers and "
        "instruction scheduling on modern superscalar processors with wide "
        "pipelines and speculative execution units everywhere"),
]


@pytest.fixture(scope="module")
def corpus_df(spark):
    return spark.createDataFrame(CORPUS, "doc_id long, text string").cache()


def test_exact_dedup_finds_verbatim_copy(corpus_df):
    rows = {r["text_sha"]: r for r in dedup.exact_dedup(corpus_df).collect()}
    assert len(rows) == 4  # 5 docs, one exact dupe
    counts = sorted(r["dup_count"] for r in rows.values())
    assert counts == [1, 1, 1, 2]
    dup = next(r for r in rows.values() if r["dup_count"] == 2)
    assert dup["keeper_id"] == 0


def test_exact_dedup_partitions_the_corpus(corpus_df):
    total = dedup.exact_dedup(corpus_df).agg(F.sum("dup_count")).first()[0]
    assert total == corpus_df.count()


def test_minhash_identical_and_neardup(corpus_df):
    sigs = {r["doc_id"]: r["minhash"] for r in dedup.minhash_signatures(corpus_df).collect()}
    assert sigs[0] == sigs[1]  # identical text → identical signature
    same_02 = sum(a == b for a, b in zip(sigs[0], sigs[2]))
    same_04 = sum(a == b for a, b in zip(sigs[0], sigs[4]))
    assert same_02 > same_04  # near-dup agrees on more hashes than unrelated
    assert same_04 == 0


def test_minhash_pairs_catch_neardups_not_unrelated(corpus_df):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in dedup.minhash_pairs(corpus_df).collect()}
    assert pairs[(0, 1)] == 1.0  # verbatim pair surfaces with jaccard 1
    assert (0, 2) in pairs and pairs[(0, 2)] > 0.5  # near-dup caught
    assert (0, 4) not in pairs and (1, 4) not in pairs  # unrelated never pairs
    assert all(0.0 <= j <= 1.0 for j in pairs.values())


def test_minhash_bucket_cap_drops_pathological_buckets(spark):
    """With 12 identical docs (one giant bucket), a cap below the bucket
    size must eliminate their pairs while distinct docs still pair."""
    rows = [(i, BASE) for i in range(12)] + [
        (100, BASE.replace("lazy", "sleepy")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = dedup.minhash_pairs(df).count()
    capped = dedup.minhash_pairs(df, max_bucket_size=5)
    assert uncapped >= 66  # 12*11/2 identical pairs at least
    # the 12-doc bucket exceeds the cap → its pairs vanish
    pairs = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert not any(a < 12 and b < 12 for a, b in pairs)


def test_simhash_hamming_tracks_similarity(corpus_df):
    sh = {r["doc_id"]: r["simhash"] for r in dedup.simhash(corpus_df).collect()}
    assert sh[0] == sh[1]
    ham = lambda a, b: bin(a ^ b).count("1")
    assert ham(sh[0], sh[2]) < ham(sh[0], sh[4])
    assert ham(sh[0], sh[2]) <= 6  # one-word change moves few bits


def test_embedding_pairs_threshold(spark):
    import numpy as np

    rng = np.random.RandomState(3)
    base = rng.normal(0, 1, 64)
    near = base + rng.normal(0, 0.05, 64)
    far = rng.normal(0, 1, 64)
    df = spark.createDataFrame(
        [(0, base.tolist()), (1, near.tolist()), (2, far.tolist())],
        "vec_id long, embedding array<double>",
    )
    pairs = {(r["id_a"], r["id_b"]): r["cosine"] for r in dedup.embedding_pairs(df, threshold=0.9).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] > 0.99
    assert (0, 2) not in pairs and (1, 2) not in pairs


def test_dedup_assign_connected_components(spark):
    """Chains must collapse to one component labeled by the min id even
    though the ends never share a pair (1-2, 2-3, 3-4 → all keeper 1),
    and isolated docs keep themselves."""
    docs = spark.createDataFrame([(i,) for i in range(1, 8)], "doc_id long")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (6, 7)], "id_a long, id_b long"
    )
    out = {r["id"]: (r["keeper_id"], r["is_keeper"])
           for r in dedup.dedup_assign(docs, pairs).collect()}
    assert out == {
        1: (1, True), 2: (1, False), 3: (1, False), 4: (1, False),
        5: (5, True), 6: (6, True), 7: (6, False),
    }


def test_dedup_assign_on_real_minhash_pairs(spark, corpus_df):
    """End-to-end: minhash pairs → keeper assignment. Every non-keeper
    must be reachable from its keeper in the pair graph, and keepers are
    component minima (keeper_id <= id always)."""
    pairs = dedup.minhash_pairs(corpus_df).filter("jaccard >= 0.5")
    out = dedup.dedup_assign(corpus_df, pairs).collect()
    assert all(r["keeper_id"] <= r["id"] for r in out)
    paired = {r["id_a"] for r in pairs.collect()} | {r["id_b"] for r in pairs.collect()}
    for r in out:
        if r["id"] not in paired:
            assert r["is_keeper"] and r["keeper_id"] == r["id"]


def test_embedding_pairs_bucket_cap(spark):
    """With a cap of 1 every bucket is dropped (each bucket holds >=2 of
    the duplicated vectors), so no pairs emerge; uncapped, the
    duplicated vectors pair up."""
    import numpy as np

    rng = np.random.RandomState(7)
    base = rng.randn(8, 64)
    rows = [(i, [float(x) for x in base[i % 8]]) for i in range(16)]  # each vec twice
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    full = dedup.embedding_pairs(df, threshold=0.99)
    assert full.count() >= 8  # the 8 exact-duplicate pairs at least
    capped = dedup.embedding_pairs(df, threshold=0.99, max_bucket_size=1)
    assert capped.count() == 0


def test_dedup_assign_deep_chain_converges_logarithmically(spark):
    """A 200-node chain has diameter 199 — plain min-label propagation
    needs 199 rounds and would blow the 20-round cap. The adaptive
    pointer-doubling (round 3+) must resolve it to one component within
    the default max_iters."""
    n = 200
    docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    out = {r["id"]: (r["keeper_id"], r["is_keeper"])
           for r in dedup.dedup_assign(docs, pairs).collect()}
    assert all(k == 0 for k, _ in out.values())
    assert [i for i, (_, keep) in out.items() if keep] == [0]


def test_ngram_jaccard_exact_vs_bruteforce(spark, corpus_df):
    """The prefix-filtered pairs must equal the brute-force all-pairs
    exact Jaccard at the same threshold — the AllPairs completeness
    guarantee, checked in pure Python over the toy corpus."""
    tau, k = 0.2, 3
    out = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(corpus_df, threshold=tau, k=k).collect()
    }

    def grams(text):
        toks = text.lower().split(" ")
        if len(toks) < k:
            return {" ".join(toks)}
        return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}

    docs = {i: grams(t) for i, t in CORPUS}
    expect = {}
    for a in docs:
        for b in docs:
            if a < b:
                j = round(
                    len(docs[a] & docs[b]) / len(docs[a] | docs[b]), 6
                )
                if j >= tau:
                    expect[(a, b)] = j
    assert out == expect
    assert (0, 1) in out and out[(0, 1)] == 1.0  # verbatim copy
    assert (0, 2) in out  # near-dup survives
    assert not any(4 in p for p in out)  # unrelated never pairs


def test_ngram_prefix_filter_prunes_candidates(spark):
    """Docs sharing only COMMON grams (present in most documents) must
    never meet in the prefix join when their true Jaccard is below
    threshold — the hot-gram pruning that makes the operator safe on
    boilerplate-heavy corpora."""
    # 8 docs all share the same 3-word boilerplate prefix, bodies unique
    rows = [
        (i, f"shared legal header unique{i} body{i} words{i} tail{i}")
        for i in range(8)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup.ngram_jaccard_pairs(df, threshold=0.5, k=3).collect()
    assert out == []  # no pair reaches τ; boilerplate alone never pairs


def test_semdedup_keep_rule_and_components(spark):
    """SemDeDup end to end on a hand-built case: two clusters, one
    near-dup pair in cluster 0. The keeper must be the pair member with
    the LOWER cosine-to-centroid (the paper's least-redundant rule) —
    NOT the lower id — and singletons keep themselves."""
    cents = [[1.0, 0.0], [0.0, 1.0]]
    # id 1: cl0, cent_cos ≈ 0.99995 (higher); id 2: cl0, ≈ 0.99993
    # (lower → keeper despite the larger id); cos(1,2) ≈ 1 ≥ τ.
    # id 3: cl1 singleton.
    df = spark.createDataFrame(
        [(1, [1.0, 0.01]), (2, [0.99, 0.012]), (3, [0.01, 1.0])],
        "vec_id long, embedding array<double>",
    )
    out = {r["vec_id"]: r for r in dedup.semdedup(df, cents, 0.9).collect()}
    assert out[1]["cluster"] == 0 and out[2]["cluster"] == 0
    assert out[3]["cluster"] == 1
    # 1 and 2 share a component labeled by the min id
    assert out[1]["component"] == out[2]["component"] == 1
    assert out[3]["component"] == 3 and out[3]["is_keeper"]
    # keep rule: 2 has the lower cent_cos, so 2 keeps — 1 drops
    assert out[1]["cent_cos"] > out[2]["cent_cos"]
    assert out[1]["keeper_id"] == 2 and not out[1]["is_keeper"]
    assert out[2]["keeper_id"] == 2 and out[2]["is_keeper"]


def test_semdedup_pairs_match_bruteforce(spark):
    """The cluster-bounded BLAS pair enumeration must equal brute force
    ON THE SAME CLUSTERING: every within-cluster pair ≥ τ appears (the
    cross-cluster blind spot is the method's contract, not a bug)."""
    import numpy as np

    rng = np.random.RandomState(7)
    cents = rng.normal(0, 1, (4, 16)).tolist()
    vecs = [(i, rng.normal(0, 1, 16).tolist()) for i in range(40)]
    # plant near-dups
    for dup, src in ((40, 3), (41, 17)):
        v = np.array(vecs[src][1]) + rng.normal(0, 0.01, 16)
        vecs.append((dup, v.tolist()))
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    assigned = dedup.semantic_assign(df, cents)
    got = {
        (r["id_a"], r["id_b"])
        for r in dedup.semantic_pairs(assigned, 0.5).collect()
    }
    rows = assigned.collect()
    by_id = {r["vec_id"]: (r["cluster"], np.array(r["embedding"])) for r in rows}
    want = set()
    ids = sorted(by_id)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            ca, va = by_id[a]
            cb, vb = by_id[b]
            cos = float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb)))
            if ca == cb and cos >= 0.5:
                want.add((a, b))
    assert got == want and {(3, 40), (17, 41)} <= want


def test_semdedup_zero_vector_and_singletons(spark):
    """A zero vector must not produce NaN (cent_cos 0, first cluster,
    keeps itself); the matmul stage must not pair it with anything at a
    positive τ."""
    cents = [[1.0, 0.0], [0.0, 1.0]]
    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    out = {r["vec_id"]: r for r in dedup.semdedup(df, cents, 0.5).collect()}
    assert out[1]["cent_cos"] == 0.0 and out[1]["is_keeper"]
    assert out[2]["is_keeper"] and out[2]["component"] == 2


def test_semdedup_margins_hold_on_real_testdata():
    """ADVICE r6: the SEMDEDUP_TAU safety argument rested on a one-off
    measured margin recorded in a comment. Recompute both margins on the
    REAL testdata (every sf dir present) against fixed floors, so
    regenerated testdata that lands inside float noise fails HERE
    instead of silently flipping a gate row:

    - τ-margin: min |cosine − τ| over every within-cluster pair of the
      16-seed clustering (measured: 3.6e-4 @ sf0.01, 7.8e-6 @ sf0.1);
    - argmax margin: per-vector cosine gap between the best and
      second-best centroid (Spark ranks on |v|·cos, the oracle on
      cosine — the gap is what keeps both argmaxes identical; measured:
      2.3e-4 @ sf0.01, 1.1e-5 @ sf0.1).
    """
    import os

    import duckdb
    import numpy as np

    root = os.environ.get("SPARK_GRAFT_TESTDATA_ROOT", "/root/testdata")
    sf_dirs = sorted(
        os.path.join(root, d)
        for d in os.listdir(root)
        if d.startswith("sf") and os.path.isdir(os.path.join(root, d))
    )
    assert sf_dirs, f"no testdata under {root}"
    for sf_dir in sf_dirs:
        rows = duckdb.sql(
            f"SELECT vec_id, embedding FROM '{sf_dir}/embeddings.parquet'"
            " ORDER BY vec_id"
        ).fetchall()
        m = np.array([r[1] for r in rows], dtype=np.float64)
        cents = m[:16]  # the _seed_vectors contract: vec_id 0-15, id order
        units = cents / np.linalg.norm(cents, axis=1, keepdims=True)
        scores = m @ units.T
        norms = np.linalg.norm(m, axis=1)
        top2 = np.sort(scores, axis=1)[:, -2:]
        argmax_margin = (
            (top2[:, 1] - top2[:, 0]) / np.where(norms > 0, norms, 1.0)
        ).min()
        cl = scores.argmax(axis=1)  # first max = lowest cid, the Spark tie rule
        tau_margin = np.inf
        for c in range(16):
            sub = m[cl == c]
            if len(sub) < 2:
                continue
            g = sub @ sub.T
            d = np.sqrt(np.outer(np.diag(g), np.diag(g)))
            iu = np.triu_indices(len(sub), 1)
            tau_margin = min(
                tau_margin, np.abs(g[iu] / d[iu] - dedup.SEMDEDUP_TAU).min()
            )
        assert argmax_margin >= 1e-6, (sf_dir, argmax_margin)
        assert tau_margin >= 1e-6, (sf_dir, tau_margin)


def test_incremental_equals_full_restricted_to_batch(corpus_df, spark):
    """minhash_pairs_incremental must emit EXACTLY the full
    minhash_pairs output restricted to pairs touching the batch — no
    lost cross pair, no invented one, never corpus x corpus."""
    batch_ids = {1, 4}
    corpus = corpus_df.filter(~F.col("doc_id").isin(list(batch_ids)))
    batch = corpus_df.filter(F.col("doc_id").isin(list(batch_ids)))
    inc = dedup.minhash_pairs_incremental(corpus, batch).collect()
    full = dedup.minhash_pairs(corpus_df).collect()
    want = sorted(
        (r["id_a"], r["id_b"], round(r["jaccard"], 6))
        for r in full
        if r["id_a"] in batch_ids or r["id_b"] in batch_ids
    )
    got = sorted(
        (r["id_a"], r["id_b"], round(r["jaccard"], 6)) for r in inc
    )
    assert got == want and len(got) > 0
    for r in inc:
        both = r["id_a"] in batch_ids and r["id_b"] in batch_ids
        assert r["pair_kind"] == ("batch_batch" if both else "cross")
        assert r["id_a"] in batch_ids or r["id_b"] in batch_ids


def test_incremental_bucket_cap_counts_corpus_and_batch_rows(corpus_df):
    """``max_bucket_size`` on the incremental path drops the buckets the
    full path drops — a bucket's size counts its corpus ∪ batch rows —
    so the capped output is the capped ``minhash_pairs`` restricted to
    the batch."""
    batch_ids = {1, 4}
    corpus = corpus_df.filter(~F.col("doc_id").isin(list(batch_ids)))
    batch = corpus_df.filter(F.col("doc_id").isin(list(batch_ids)))
    sizes = []
    for cap in (1, 2, 3):
        got = sorted(
            (r["id_a"], r["id_b"], round(r["jaccard"], 6))
            for r in dedup.minhash_pairs_incremental(
                corpus, batch, max_bucket_size=cap
            ).collect()
        )
        want = sorted(
            (r["id_a"], r["id_b"], round(r["jaccard"], 6))
            for r in dedup.minhash_pairs(corpus_df, max_bucket_size=cap).collect()
            if r["id_a"] in batch_ids or r["id_b"] in batch_ids
        )
        assert got == want, cap
        sizes.append(len(got))
    assert sizes[0] == 0 < sizes[-1]  # the caps drop buckets, not all


def test_incremental_never_pairs_corpus_with_corpus(corpus_df):
    # batch = only the unrelated doc -> no candidate touches it, so the
    # output must be EMPTY even though the corpus contains near-dups
    corpus = corpus_df.filter(F.col("doc_id") != 4)
    batch = corpus_df.filter(F.col("doc_id") == 4)
    assert dedup.minhash_pairs_incremental(corpus, batch).count() == 0


def test_url_canonicalize_variants_collapse(spark):
    variants = [
        (1, "https://www.Example.com/a/b"),
        (2, "http://example.com/a/b/"),
        (3, "EXAMPLE.COM/a/b?utm_source=x&utm_campaign=y"),
        (4, "https://example.com/a/b"),
        (5, "https://example.com/a/c"),  # different path — stays apart
        (6, "https://example.com/a/b#sec2"),  # fragment-only diff collapses
    ]
    df = spark.createDataFrame(variants, "doc_id long, url string")
    rows = {r["canon_url"]: r for r in dedup.dedup_url(df).collect()}
    assert set(rows) == {"example.com/a/b", "example.com/a/c"}
    hit = rows["example.com/a/b"]
    assert hit["n_raw"] == 5 and hit["n_distinct_raw"] == 5
    assert hit["keeper_id"] == 1
    assert rows["example.com/a/c"]["n_raw"] == 1


def test_url_canonicalize_keeps_semantic_params(spark):
    """ADVICE r8: only TRACKING params are stripped — ?page=2 documents
    are distinct; tracking params are removed wherever they sit in the
    query; a tracking-only query collapses to the bare path."""
    variants = [
        (1, "https://shop.com/p?page=2"),
        (2, "http://www.shop.com/p?page=2&utm_source=x"),
        (3, "https://shop.com/p?utm_source=x&page=2&gclid=abc"),
        (4, "https://shop.com/p?page=3"),  # different page — stays apart
        (5, "https://shop.com/p?fbclid=zzz"),  # tracking-only -> bare path
        (6, "https://shop.com/p"),
        (7, "https://shop.com/p/?utm_campaign=y#frag"),  # slash+frag+utm
    ]
    df = spark.createDataFrame(variants, "doc_id long, url string")
    rows = {r["canon_url"]: r for r in dedup.dedup_url(df).collect()}
    assert set(rows) == {
        "shop.com/p?page=2",
        "shop.com/p?page=3",
        "shop.com/p",
    }
    assert rows["shop.com/p?page=2"]["n_raw"] == 3
    assert rows["shop.com/p?page=2"]["keeper_id"] == 1
    assert rows["shop.com/p"]["n_raw"] == 3  # ids 5, 6, 7
    assert rows["shop.com/p"]["keeper_id"] == 5


def test_url_canonicalize_anchors_tracking_params(spark):
    """ADVICE r9: tracking names are only stripped at a [?&] boundary —
    a param whose NAME merely contains 'utm_'/'fbclid' as a substring
    is semantic and must survive intact (the unanchored pattern fused
    '?last_utm_source=a&page=2' into 'last_page=2' and truncated
    '?xfbclid=1' to '?x'); adjacent true tracking params must ALL be
    removed (the single-pass delimiter-capturing form missed the
    second of '?utm_a=…&utm_b=…')."""
    variants = [
        (1, "https://shop.com/p?last_utm_source=a&page=2"),
        (2, "https://shop.com/p?xfbclid=1"),
        (3, "https://shop.com/p?utm_a=1&utm_b=2&page=2"),
        (4, "https://shop.com/p?fbclid=1&gclid=2"),
        (5, "https://shop.com/p?myutm_x=1"),
    ]
    df = spark.createDataFrame(variants, "doc_id long, url string")
    rows = {r["canon_url"]: r for r in dedup.dedup_url(df).collect()}
    assert set(rows) == {
        "shop.com/p?last_utm_source=a&page=2",  # embedded name kept whole
        "shop.com/p?xfbclid=1",
        "shop.com/p?page=2",  # both adjacent utm_* params removed
        "shop.com/p",  # adjacent tracking-only query -> bare path
        "shop.com/p?myutm_x=1",
    }


def test_incremental_guards_against_overlapping_ids(corpus_df):
    """ADVICE r8: corpus/batch id disjointness is a documented
    precondition, but a violating caller must not receive (id, id)
    self-pairs at jaccard 1.0 from the cross join."""
    corpus = corpus_df  # doc 1 present on BOTH sides
    batch = corpus_df.filter(F.col("doc_id") == 1)
    out = dedup.minhash_pairs_incremental(corpus, batch)
    assert out.filter(F.col("id_a") == F.col("id_b")).count() == 0


def test_band_index_append_equals_full_reband(corpus_df, spark, tmp_path):
    """band_index_write(corpus) + band_index_write(batch, append=True) must be
    row-for-row identical to band_index(corpus ∪ batch) — banding is a
    pure per-document function (the ivf_append argument)."""
    p = str(tmp_path / "bands")
    corpus = corpus_df.filter(F.col("doc_id") % 2 == 1)
    batch = corpus_df.filter(F.col("doc_id") % 2 == 0)
    dedup.band_index_write(corpus, p)
    dedup.band_index_write(batch, p, append=True)
    got = sorted(
        (r["doc_id"], int(r["band"]), r["key"])
        for r in spark.read.parquet(p).collect()
    )
    want = sorted(
        (r["doc_id"], int(r["band"]), r["key"])
        for r in dedup.band_index(corpus_df).collect()
    )
    assert got == want and len(got) > 0


def test_incremental_indexed_trusts_the_index(corpus_df, spark, tmp_path):
    """With corpus_bands given, the operator must NOT re-band the corpus
    text: (a) a faithful index reproduces the re-banding path exactly;
    (b) a TAMPERED index (corpus doc 2's bands deleted) silently loses
    doc 2's cross pairs — the candidates follow the index, proving the
    corpus side is the scan, not a recompute; (c) the physical plan
    scans the index parquet path."""
    batch_ids = {1, 4}
    corpus = corpus_df.filter(~F.col("doc_id").isin(list(batch_ids)))
    batch = corpus_df.filter(F.col("doc_id").isin(list(batch_ids)))
    p = str(tmp_path / "bands")
    dedup.band_index_write(corpus, p)
    idx = spark.read.parquet(p).select(
        "doc_id", F.col("band").cast("int").alias("band"), "key"
    )

    def rows(df):
        return sorted(
            (r["id_a"], r["id_b"], round(r["jaccard"], 6), r["pair_kind"])
            for r in df.collect()
        )

    full = rows(dedup.minhash_pairs_incremental(corpus, batch))
    indexed_df = dedup.minhash_pairs_incremental(
        corpus, batch, corpus_bands=idx
    )
    assert rows(indexed_df) == full and len(full) > 0
    assert "bands" in indexed_df._jdf.queryExecution().executedPlan().toString() or \
        "bands" in indexed_df._jdf.queryExecution().toString()

    tampered = idx.filter(F.col("doc_id") != 2)
    lost = rows(
        dedup.minhash_pairs_incremental(corpus, batch, corpus_bands=tampered)
    )
    assert lost == [t for t in full if 2 not in (t[0], t[1])]
    assert lost != full  # doc 2 really had cross pairs to lose


def test_band_index_compact_preserves_rows_and_merges_files(
    corpus_df, spark, tmp_path
):
    """tables.compact_layout: after several appends the rewrite must leave
    the row set untouched while collapsing each band dir to one file."""
    import glob

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    dedup.band_index_write(corpus_df.filter("doc_id = 0"), src)
    for i in (1, 2, 3, 4):
        dedup.band_index_write(corpus_df.filter(f"doc_id = {i}"), src, append=True)

    def rows(p):
        return sorted(
            (r["doc_id"], int(r["band"]), r["key"])
            for r in spark.read.parquet(p).collect()
        )

    def files_per_band(p):
        return max(
            len(glob.glob(f"{d}/*.parquet"))
            for d in glob.glob(f"{p}/band=*")
        )

    assert files_per_band(src) >= 5  # one file per append per touched band
    tables.compact_layout(spark, src, dst, "band")
    assert rows(dst) == rows(src) and len(rows(dst)) > 0
    assert files_per_band(dst) == 1


def test_substring_pairs_finds_maximal_runs(spark):
    """substring_pairs (Lee et al. 2022 exact-substring dedup): a
    shared verbatim span of m >= L tokens is reported ONCE as a maximal
    run with exact offsets and length; spans shorter than L are
    invisible; identical documents yield one full-length run."""
    base = [f"w{i}" for i in range(30)]  # 30 distinct tokens
    span = ["copy" + str(i) for i in range(15)]  # the 15-token span
    a = " ".join(base[:5] + span + base[5:10])
    b = " ".join(base[10:18] + span + base[18:22])
    short = " ".join(base[:6] + span[:8] + base[6:12])  # 8 < L tokens shared
    docs = spark.createDataFrame(
        [(1, a), (2, b), (3, short), (4, a)],
        "doc_id long, text string",
    )
    rows = {
        (r["id_a"], r["id_b"]): r
        for r in dedup.substring_pairs(docs, gram_l=12).collect()
    }
    # (1,2): the 15-token span, at offset 5 in a and 8 in b
    r12 = rows[(1, 2)]
    assert (r12["start_a"], r12["start_b"], r12["span_len"]) == (5, 8, 15)
    # (1,4): identical docs -> one run covering all 25 tokens
    r14 = rows[(1, 4)]
    assert (r14["start_a"], r14["start_b"], r14["span_len"]) == (0, 0, 25)
    # (2,4): mirror of (1,2)
    assert rows[(2, 4)]["span_len"] == 15
    # doc 3's 8-token overlap is below L — no pair with 3 at all
    assert not any(3 in k for k in rows)
    assert set(rows) == {(1, 2), (1, 4), (2, 4)}


def test_substring_pairs_merges_only_same_diagonal(spark):
    """Two DISTINCT shared spans between one pair of documents land on
    different diagonals and must come back as two separate maximal
    runs, not one fused run."""
    s1 = ["alpha" + str(i) for i in range(12)]
    s2 = ["beta" + str(i) for i in range(13)]
    fill = [f"f{i}" for i in range(20)]
    a = " ".join(s1 + fill[:6] + s2)
    b = " ".join(fill[6:10] + s1 + fill[10:17] + s2 + fill[17:20])
    docs = spark.createDataFrame([(1, a), (2, b)], "doc_id long, text string")
    rows = sorted(
        (r["start_a"], r["start_b"], r["span_len"])
        for r in dedup.substring_pairs(docs, gram_l=12).collect()
    )
    assert rows == [(0, 4, 12), (18, 23, 13)]


def test_substring_pairs_plan_is_gram_bounded(spark):
    """VERDICT r9 #2's scale pin: the candidate stage is a HASH join on
    the 8-byte gram hash — never a cartesian/BNLJ product over the
    corpus — and candidate volume equals sum-over-grams of
    c_g*(c_g-1)/2 restricted to id_a < id_b, not |docs|^2."""
    docs = spark.createDataFrame(
        [(i, " ".join(f"t{i}_{j}" for j in range(20))) for i in range(6)]
        + [(100, " ".join(f"t0_{j}" for j in range(20)))],
        "doc_id long, text string",
    )
    plan = (
        dedup.substring_pairs(docs)._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # doc 100 is a verbatim copy of doc 0's text: 9 grams each -> the
    # only hits are the 9 diagonal gram matches of that one pair
    out = dedup.substring_pairs(docs).collect()
    assert [(r["id_a"], r["id_b"], r["span_len"]) for r in out] == [(0, 100, 20)]


def test_line_dedup_semantics_and_reassembly_order(spark):
    """line_dedup: a line in >= 2 DISTINCT docs drops from every
    carrier; a within-doc repeat alone is kept (both copies);
    normalization is lower+trim; survivors reassemble in original
    position order; a doc losing every line emits (n_kept=0, '')."""
    from demo_pgvector_spark.operators.dedup import line_dedup

    docs = [
        (1, "alpha\nSHARED LINE\nbeta\nbeta"),       # within-doc repeat kept
        (2, "  shared line \ngamma"),                 # norm matches doc 1
        (3, "delta"),                                 # untouched
        (4, "shared line"),                           # loses its only line
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_lines"], r["n_kept"], r["text_clean"])
        for r in line_dedup(df).collect()
    }
    assert got[1] == (4, 3, "alpha\nbeta\nbeta")
    assert got[2] == (2, 1, "gamma")
    assert got[3] == (1, 1, "delta")
    assert got[4] == (1, 0, "")


def test_near_dup_family_has_one_candidate_machinery():
    """Every near-duplicate operator forms, pairs and verifies its
    buckets through the shared helpers: bucket rows through
    ``ann.bucket_rows`` (no function names a band struct of its own),
    bucket joins through ``ann.bucket_pairs``, the bucket-aggregate pair
    projection in ``dedup._bucket_id_pairs`` and the both-sides shingle
    join in ``dedup._with_both_shingles``. The one other join on bucket
    columns is ``ann_join``'s probe lookup: probe buckets against corpus
    buckets, which pairs no rows of one table."""
    import ast
    import pathlib

    def strings(node):
        if isinstance(node, (ast.List, ast.Tuple)) and all(
            isinstance(e, ast.Constant) for e in node.elts
        ):
            return [e.value for e in node.elts]
        return None

    found = {k: set() for k in ("join", "struct", "flatten", "verify")}
    for path in sorted(pathlib.Path(dedup.__file__).parent.glob("*.py")):
        for top in ast.parse(path.read_text(encoding="utf-8")).body:
            owner = (path.name, getattr(top, "name", None))
            for n in ast.walk(top):
                if (
                    isinstance(n, ast.Constant)
                    and isinstance(n.value, str)
                    and "flatten(transform(" in n.value
                ):
                    found["flatten"].add(owner)
                if not (isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)):
                    continue
                args = [*n.args, *(k.value for k in n.keywords)]
                if n.func.attr == "join":
                    if any(strings(a) in (["band", "key"], ["t", "sig"]) for a in args):
                        found["join"].add(owner)
                    if any(
                        isinstance(c, ast.Constant) and c.value in ("sh_a", "sh_b")
                        for a in args
                        for c in ast.walk(a)
                    ):
                        found["verify"].add(owner)
                if n.func.attr == "struct" and any(
                    isinstance(a, ast.Call)
                    and isinstance(a.func, ast.Attribute)
                    and a.func.attr == "alias"
                    and any(
                        isinstance(c, ast.Constant) and c.value in ("band", "key", "t", "sig")
                        for c in a.args
                    )
                    for a in n.args
                ):
                    found["struct"].add(owner)
    assert found == {
        "join": {("ann.py", "ann_join")},
        "struct": set(),
        "flatten": {("dedup.py", "_bucket_id_pairs")},
        "verify": {("dedup.py", "_with_both_shingles")},
    }
