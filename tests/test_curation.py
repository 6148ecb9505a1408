"""Curation operators (operators/curation.py): decontamination + BM25.

Semantic tests run on hand-built frames with independently computed
expectations (pure-Python BM25); plan tests pin the scale contracts —
broadcast eval side, no corpus-side sort-merge join, top-k heap tail.
"""

from __future__ import annotations

import hashlib
import math

import pytest

from demo_pgvector_spark.operators import curation

DOCS = [
    # 13 words — exactly one 13-gram
    (0, "a b c d e f g h i j k l m"),
    # contains doc 0's full text as a window → shares that gram
    (1, "x a b c d e f g h i j k l m y"),
    # 12 words — too short for any 13-gram
    (2, "a b c d e f g h i j k l"),
    # 14 distinct words, no shared 13-gram with doc 0
    (3, "n o p q r s t u v w x y z zz"),
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_decontaminate_flags_shared_gram(spark, docs_df):
    eval_docs = docs_df.filter("doc_id = 0")
    train = docs_df.filter("doc_id != 0")
    rows = {
        r["doc_id"]: r
        for r in curation.decontaminate(train, eval_docs).collect()
    }
    assert set(rows) == {1, 2, 3}
    # doc 1: 3 distinct 13-grams (15 words), exactly one shared with doc 0
    assert rows[1]["n_grams"] == 3
    assert rows[1]["n_overlap"] == 1
    assert rows[1]["contaminated"] is True
    # doc 2: shorter than n → zero grams, never contaminated
    assert rows[2]["n_grams"] == 0
    assert rows[2]["contaminated"] is False
    # doc 3: 2 grams, disjoint vocabulary
    assert rows[3]["n_grams"] == 2
    assert rows[3]["n_overlap"] == 0
    assert rows[3]["contaminated"] is False


def test_decontaminate_counts_distinct_grams(spark):
    # A repeated window must count once in n_grams and once in n_overlap:
    # doubling a 13-word text yields 14 gram positions but (period-13
    # rotations) only 13 distinct grams, and only the eval window itself
    # overlaps.
    rep = " ".join(["a b c d e f g h i j k l m"] * 2)
    docs = spark.createDataFrame([(7, rep)], "doc_id long, text string")
    eval_docs = docs.selectExpr("0 as doc_id", "'a b c d e f g h i j k l m' as text")
    row = curation.decontaminate(docs, eval_docs).collect()[0]
    assert row["n_grams"] == 13
    assert row["n_overlap"] == 1


def _bm25_py(corpus, terms, k1=curation.BM25_K1, b=curation.BM25_B):
    toks = {i: t.lower().split(" ") for i, t in corpus}
    n = len(toks)
    avgdl = sum(len(w) for w in toks.values()) / n
    scores = {}
    for i, w in toks.items():
        s = 0.0
        for t in terms:
            tf = w.count(t)
            df = sum(1 for ww in toks.values() if t in ww)
            idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
            s += idf * tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * len(w) / avgdl))
        scores[i] = round(s, 4)
    return scores


def test_bm25_matches_pure_python(spark):
    corpus = [
        (0, "spark join join window scan"),
        (1, "filter scan merge sort hash hash hash"),
        (2, "spark spark spark join"),
        (3, "window window join filter"),
    ]
    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    got = {
        r["doc_id"]: r["bm25"]
        for r in curation.bm25_topk(docs, ["spark", "join"], k=4).collect()
    }
    want = _bm25_py(corpus, ["spark", "join"])
    assert got == pytest.approx(want, abs=1e-4)


def test_bm25_topk_orders_and_truncates(spark):
    corpus = [(i, "spark " * (i + 1)) for i in range(6)]
    docs = spark.createDataFrame(
        [(i, t.strip()) for i, t in corpus], "doc_id long, text string"
    )
    rows = curation.bm25_topk(docs, ["spark"], k=3).collect()
    assert len(rows) == 3
    # more occurrences → higher tf → higher score (all dls differ but tf wins)
    assert [r["doc_id"] for r in rows] == [5, 4, 3]


def test_decontaminate_plan_broadcasts_eval_side(spark, sf_dir):
    from demo_pgvector_spark import registry

    df = registry.q_text_decontaminate(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bm25_plan_is_scan_stats_topk(spark, sf_dir):
    """Corpus-side contract: the global-stats row broadcasts back onto
    the per-doc projection (BroadcastNestedLoopJoin over 1 row) and the
    tail is a TakeOrderedAndProject — never a global sort, never a
    corpus-keyed exchange."""
    from demo_pgvector_spark import registry

    df = registry.q_text_bm25_topk(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan
    assert "Exchange hashpartitioning" not in plan


def test_sample_stratified_is_deterministic_and_append_stable(spark):
    docs = spark.createDataFrame(
        [(i, f"t{i}", "srcA" if i % 2 else "srcB") for i in range(200)],
        "doc_id long, text string, source string",
    )
    kept1 = {
        r["doc_id"]
        for r in curation.sample_stratified(
            docs, {"srcA": 700}, default_per_mille=200
        ).collect()
    }
    # identical redraw
    kept2 = {
        r["doc_id"]
        for r in curation.sample_stratified(
            docs, {"srcA": 700}, default_per_mille=200
        ).collect()
    }
    assert kept1 == kept2
    # append stability: adding rows never flips old decisions
    more = spark.createDataFrame(
        [(i, f"t{i}", "srcA" if i % 2 else "srcB") for i in range(300)],
        "doc_id long, text string, source string",
    )
    kept3 = {
        r["doc_id"]
        for r in curation.sample_stratified(
            more, {"srcA": 700}, default_per_mille=200
        ).collect()
    }
    assert kept1 == {i for i in kept3 if i < 200}
    # a different salt redraws
    kept4 = {
        r["doc_id"]
        for r in curation.sample_stratified(
            docs, {"srcA": 700}, default_per_mille=200, salt="other"
        ).collect()
    }
    assert kept1 != kept4
    # rates actually stratify: srcA keeps ~70%, srcB ~20%
    a = sum(1 for i in kept1 if i % 2)
    b = sum(1 for i in kept1 if not i % 2)
    assert 50 <= a <= 90 and 5 <= b <= 35


def test_sample_stratified_plan_is_scan_fused(spark, sf_dir):
    from demo_pgvector_spark import registry

    df = registry.q_sample_stratified(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_pack_sequences_respects_budget_contract(spark):
    # 7 docs of 100 tokens in one stratum, budget 256: prefix-before sums
    # 0,100,...,600 → floor(prefix/256) packs 0,0,0,1,1,1,2.
    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * 100), "s") for i in range(7)],
        "doc_id long, text string, source string",
    )
    rows = curation.pack_sequences(docs, budget=256).orderBy("doc_id").collect()
    assert [r["pack_id"] for r in rows] == [0, 0, 0, 1, 1, 1, 2]
    assert all(r["n_tokens"] == 100 for r in rows)
    # per-pack token sums only exceed the budget via their last member
    from collections import defaultdict

    packs = defaultdict(list)
    for r in rows:
        packs[r["pack_id"]].append(r["n_tokens"])
    for toks in packs.values():
        assert sum(toks[:-1]) < 256


def test_pack_sequences_strata_pack_independently(spark):
    docs = spark.createDataFrame(
        [(1, "a b c", "x"), (2, "d e", "y"), (3, "f g h i", "x")],
        "doc_id long, text string, source string",
    )
    rows = {r["doc_id"]: r for r in curation.pack_sequences(docs, budget=5).collect()}
    assert rows[1]["pack_id"] == 0  # x: prefix 0
    assert rows[3]["pack_id"] == 0  # x: prefix 3 < 5
    assert rows[2]["pack_id"] == 0  # y: own stratum, prefix 0


def test_curate_corpus_end_to_end(spark):
    """Each stage visibly acts: dup drops, short doc drops, contaminated
    doc drops, the survivor packs at pack 0."""
    eval_text = "e1 e2 e3 e4 e5 e6 e7 e8 e9 e10 e11 e12 e13"
    docs = spark.createDataFrame(
        [
            (41 * 3, eval_text + " tail", "s"),  # eval split (id % 41 == 0)
            (1, "dup " * 20, "s"),
            (2, "dup " * 20, "s"),  # exact dup of 1 → dropped
            (3, "short text", "s"),  # < 15 tokens → dropped
            (4, "x1 " + eval_text + " x2 x3", "s"),  # contaminated → dropped
            (5, " ".join(f"w{i}" for i in range(30)), "s"),  # survives
        ],
        "doc_id long, text string, source string",
    )
    rows = curation.curate_corpus(docs, {}, default_per_mille=1000).collect()
    ids = sorted(r["doc_id"] for r in rows)
    assert ids == [1, 5]
    by_id = {r["doc_id"]: r for r in rows}
    assert by_id[5]["n_tokens"] == 30
    assert by_id[5]["pack_id"] == 0


def test_pack_sequences_salted_parts_pack_independently(spark):
    """salt_parts pre-splits a dominant stratum: every sub-stream honors
    the budget contract independently, pack ids stay globally disjoint
    across parts, and salt_parts=1 output is byte-identical to the
    unsalted form."""
    from collections import defaultdict

    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * (7 + i % 11)), "giant") for i in range(400)],
        "doc_id long, text string, source string",
    )
    budget = 64
    rows = curation.pack_sequences(docs, budget=budget, salt_parts=8).collect()
    assert len(rows) == 400
    parts = {r["pack_id"] % 8 for r in rows}
    assert len(parts) > 1  # the stratum really split
    # reconstruct each sub-stream: members of a part pack in id order
    by_part = defaultdict(list)
    for r in sorted(rows, key=lambda r: r["doc_id"]):
        by_part[r["pack_id"] % 8].append(r)
    for part, members in by_part.items():
        cum = 0
        for r in members:
            assert r["pack_id"] == (cum // budget) * 8 + part
            cum += r["n_tokens"]
    # default salt_parts=1 is the unsalted contract
    plain = curation.pack_sequences(docs, budget=budget).collect()
    cum = 0
    for r in sorted(plain, key=lambda r: r["doc_id"]):
        assert r["pack_id"] == cum // budget
        cum += r["n_tokens"]


def test_scrub_text_masks_and_filters(spark):
    docs = spark.createDataFrame(
        [
            (
                1,
                "Write to john.doe+x@mail.example.org today.\nab cd\n"
                "server at 192.168.1.4 port 80\ncall +1 555 010-2030 now ok",
            ),
            (2, "no pii here at all\nxx"),
            (3, "version 1.2.3.4.5 and 999.999.999.999 edge"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in curation.scrub_text(docs).collect()}
    assert out[1]["clean_text"] == (
        "Write to <EMAIL> today.\nserver at <IP> port 80\n"
        "call <PHONE> now ok"
    )
    assert (out[1]["n_emails"], out[1]["n_ips"], out[1]["n_phones"]) == (1, 1, 1)
    assert (out[1]["n_lines_kept"], out[1]["n_lines_total"]) == (3, 4)
    # the 2-word line is boilerplate-screened
    assert out[2]["clean_text"] == "no pii here at all"
    # greedy IPv4 octets, no lookbehind: 1.2.3.4(.5) masks the prefix,
    # out-of-range octets still mask (scrubbing favors recall)
    assert out[3]["clean_text"] == "version <IP>.5 and <IP> edge"
    assert out[3]["n_ips"] == 2


def test_scrub_text_plan_is_scan_fused(spark, sf_dir):
    from demo_pgvector_spark import registry

    df = registry.q_text_scrub(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "EvalPython" not in plan


def test_unigram_logprob_matches_python(spark):
    import math
    from collections import Counter

    rows = [(1, "a a b"), (2, "b c"), (3, "a"), (4, "c c c c")]
    got = {
        r["doc_id"]: (r["n_tokens"], r["avg_logp"])
        for r in curation.unigram_logprob(
            spark.createDataFrame(rows, "doc_id long, text string")
        ).collect()
    }
    toks = [w for _, t in rows for w in t.lower().split(" ")]
    lm = {w: math.log(c / len(toks)) for w, c in Counter(toks).items()}
    for i, t in rows:
        ws = t.lower().split(" ")
        want = (len(ws), round(sum(lm[w] for w in ws) / len(ws), 6))
        assert got[i] == want, (i, got[i], want)
    # the all-common-word doc scores higher (less surprising) than the rare-word doc
    assert got[4][1] > got[2][1]


def test_unigram_logprob_plan_broadcasts_lm(spark, sf_dir):
    from demo_pgvector_spark import registry

    df = registry.q_text_perplexity(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bm25_rejects_empty_terms(spark, docs_df):
    with pytest.raises(ValueError, match="at least one query term"):
        curation.bm25_topk(docs_df, [])


def test_bigram_logprob_matches_python(spark):
    """Interpolated-bigram scores cross-checked against a direct Python
    implementation: λ·P(w|wp) + (1−λ)·P(w) for pos ≥ 2, pure unigram
    for the document-initial token, mean over position order."""
    import math
    from collections import Counter

    rows = [(1, "a a b"), (2, "b c"), (3, "a"), (4, "a a b c")]
    got = {
        r["doc_id"]: (r["n_tokens"], r["avg_logp"])
        for r in curation.bigram_logprob(
            spark.createDataFrame(rows, "doc_id long, text string")
        ).collect()
    }
    docs = {i: t.lower().split(" ") for i, t in rows}
    toks = [w for ws in docs.values() for w in ws]
    uni = {w: c / len(toks) for w, c in Counter(toks).items()}
    pairs = [
        (ws[i - 1], ws[i]) for ws in docs.values() for i in range(1, len(ws))
    ]
    bc = Counter(pairs)
    ctx = Counter(wp for wp, _ in pairs)
    for i, ws in docs.items():
        logps = [math.log(uni[ws[0]])]
        for j in range(1, len(ws)):
            pb = bc[(ws[j - 1], ws[j])] / ctx[ws[j - 1]]
            logps.append(math.log(0.75 * pb + 0.25 * uni[ws[j]]))
        want = (len(ws), round(sum(logps) / len(ws), 6))
        assert got[i] == want, (i, got[i], want)


def test_bigram_logprob_plan_broadcasts_both_lms(spark, sf_dir):
    """Both LM joins broadcast; bigram pairs come from an array
    expression, not a lag window or self-join — the corpus side is
    never shuffled before the final per-document aggregation."""
    from demo_pgvector_spark import registry

    df = registry.q_text_perplexity(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan


def test_sample_mixture_composition_and_determinism(spark):
    """The mixture sampler must (a) be idempotent, (b) land each
    domain's draw near its target share, (c) drop unweighted domains,
    and (d) saturate (not oversample) a domain too small for its
    share."""
    rows = [(i, "en" if i < 800 else ("de" if i < 950 else "fr")) for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    weights = {"en": 1, "de": 1}  # fr unweighted → dropped
    out = curation.sample_mixture(df, weights, target_total=200, domain_col="lang")
    got = out.groupBy("lang").count().collect()
    by = {r.lang: r["count"] for r in got}
    assert "fr" not in by
    # en: rate 200·1/(2·800)=0.125 → ~100; de: 200·1/(2·150)=0.667 → ~100
    assert 70 <= by.get("en", 0) <= 130
    assert 70 <= by.get("de", 0) <= 130
    again = curation.sample_mixture(df, weights, target_total=200, domain_col="lang")
    assert sorted(r.doc_id for r in out.collect()) == sorted(
        r.doc_id for r in again.collect()
    )
    # saturation: a domain whose target exceeds its size keeps ALL rows
    sat = curation.sample_mixture(df, {"de": 1}, target_total=500, domain_col="lang")
    assert sat.filter("lang = 'de'").count() == 150


def test_sample_mixture_corpus_never_shuffles(spark, sf_dir):
    """The only aggregation is the tiny domain count (broadcast back);
    the corpus side must stay scan-fused — no hash exchange keyed on
    anything corpus-sized, no sort-merge join."""
    from demo_pgvector_spark import registry

    plan = (
        registry.q_sample_mixture(spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_quality_model_score_math(spark):
    """z = bias + Σ matched / n_feats with unigram+bigram features, OOV
    in the denominator only; keep = z >= 0."""
    from demo_pgvector_spark.operators.curation import quality_model_score

    docs = spark.createDataFrame(
        [(1, "a b"), (2, "c")], "doc_id long, text string"
    )
    weights = spark.createDataFrame(
        [("a", 2.0), ("a b", 4.0)], "term string, weight double"
    )
    out = {r["doc_id"]: r for r in quality_model_score(docs, weights, -1.0).collect()}
    # doc 1: feats = a, b, "a b" (n=3); matched 2.0 + 4.0 → z = -1 + 2 = 1
    assert out[1]["n_feats"] == 3 and out[1]["keep"]
    assert abs(out[1]["score"] - 0.731059) < 1e-6
    # doc 2: single OOV token → z = bias
    assert out[2]["n_feats"] == 1 and not out[2]["keep"]
    assert abs(out[2]["score"] - 0.268941) < 1e-6


def test_quality_model_matches_pure_python_on_corpus(spark):
    """End-to-end scorer vs an independent plain-Python reimplementation
    over real sf0.001 documents with the committed golden — the same
    cross-check shape as the trainer's margin audit. Catches any drift
    between the Spark feature construction (positions, bigrams, OOV
    denominator) and the training-time representation."""
    import os

    import pyarrow.parquet as papq

    from demo_pgvector_spark import tables
    from demo_pgvector_spark.operators.curation import quality_model_score

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    golden = os.path.join(root, "golden")
    wrows = papq.read_table(os.path.join(golden, "quality_model.parquet")).to_pylist()
    wmap = {r["term"]: r["weight"] for r in wrows}
    bias = papq.read_table(
        os.path.join(golden, "quality_model_meta.parquet")
    ).to_pylist()[0]["bias"]

    sf = "/root/testdata/sf0.001"
    docs = tables.load(spark, sf, "documents")
    weights = spark.createDataFrame(
        [(t, w) for t, w in wmap.items()], "term string, weight double"
    )
    got = {
        r["doc_id"]: r
        for r in quality_model_score(docs, weights, bias).collect()
    }
    for row in docs.select("doc_id", "text").collect():
        t = row["text"].lower().split(" ")
        feats = t + [f"{a} {b}" for a, b in zip(t, t[1:])]
        z = bias + sum(wmap.get(f, 0.0) for f in feats) / len(feats)
        g = got[row["doc_id"]]
        assert g["n_feats"] == len(feats)
        assert g["keep"] == (z >= 0)
        import math

        assert abs(g["score"] - 1.0 / (1.0 + math.exp(-z))) < 1e-6


def test_quality_model_empty_and_single_token_docs(spark):
    """Empty text tokenizes to [''] (n_feats 1, z = bias) — must not
    crash or divide by zero on either engine's convention."""
    from demo_pgvector_spark.operators.curation import quality_model_score

    docs = spark.createDataFrame([(1, ""), (2, "x")], "doc_id long, text string")
    weights = spark.createDataFrame([("x", 3.0)], "term string, weight double")
    out = {r["doc_id"]: r for r in quality_model_score(docs, weights, -1.0).collect()}
    assert out[1]["n_feats"] == 1 and not out[1]["keep"]
    assert out[2]["n_feats"] == 1 and out[2]["keep"]  # z = -1 + 3 = 2


def test_sample_priority_matches_python_replay(spark):
    # independent replay of the md5-ticket priority scheme over a
    # synthetic weighted corpus; k-set and ordering must match exactly
    import hashlib

    rows = [(i, f"t{i}", "en", "src0", 10 + (i * 37) % 500) for i in range(200)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    scale = 1 << 20

    def replay(i, w):
        h = hashlib.md5(f"{i}:r7".encode()).hexdigest()[:8]
        ticket = int(h, 16) % scale + 1
        return ticket, int((w * scale) / ticket)

    want = sorted(
        ((i, w, *replay(i, w)) for i, _t, _l, _s, w in rows),
        key=lambda r: (-r[3], r[0]),
    )[:25]
    got = [
        (r["doc_id"], r["n_chars"], r["ticket"], r["priority"])
        for r in curation.sample_priority(df, k=25, salt="r7").collect()
    ]
    assert got == want


def test_sample_priority_favors_heavy_weights(spark):
    # weight 10**6 vs weight 1: the heavy rows must dominate the sample
    rows = [(i, "x", "en", "s", 1_000_000 if i < 50 else 1) for i in range(1000)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    got = curation.sample_priority(df, k=50).collect()
    heavy = sum(1 for r in got if r["n_chars"] == 1_000_000)
    assert heavy >= 45  # ~all heavy rows selected


def test_sample_priority_is_append_stable(spark):
    # adding rows never changes existing rows' tickets/priorities: the
    # new sample is a re-ranking, old members only leave by losing slots
    cols = "doc_id long, text string, lang string, source string, n_chars long"
    base = [(i, "x", "en", "s", 50 + i % 97) for i in range(300)]
    grown = base + [(i, "x", "en", "s", 50 + i % 97) for i in range(300, 400)]
    k = 40
    s1 = {
        r["doc_id"]: (r["ticket"], r["priority"])
        for r in curation.sample_priority(
            spark.createDataFrame(base, cols), k=k
        ).collect()
    }
    s2 = {
        r["doc_id"]: (r["ticket"], r["priority"])
        for r in curation.sample_priority(
            spark.createDataFrame(grown, cols), k=k
        ).collect()
    }
    for doc_id in set(s1) & set(s2):
        assert s1[doc_id] == s2[doc_id]


def test_bloom_decontaminate_has_no_false_negatives(spark, docs_df):
    """Every document the EXACT screen flags must also flag through the
    bloom (a true overlap's positions are all set by construction);
    n_maybe >= n_overlap per doc; short docs stay clean."""
    eval_docs = docs_df.filter("doc_id = 0")
    train = docs_df.filter("doc_id != 0")
    exact = {
        r["doc_id"]: r
        for r in curation.decontaminate(train, eval_docs).collect()
    }
    bloom = {
        r["doc_id"]: r
        for r in curation.bloom_decontaminate(train, eval_docs).collect()
    }
    assert set(bloom) == set(exact)
    for d, e in exact.items():
        b = bloom[d]
        assert b["n_grams"] == e["n_grams"], d
        assert b["n_maybe"] >= e["n_overlap"], d
        if e["contaminated"]:
            assert b["bloom_contaminated"], d
    assert bloom[2]["n_grams"] == 0 and not bloom[2]["bloom_contaminated"]


def test_bloom_build_bounded_and_mergeable(spark, docs_df):
    from pyspark.sql import functions as F

    whole = curation.bloom_build(docs_df)
    parts = curation.bloom_build(docs_df.filter("doc_id < 2")).unionByName(
        curation.bloom_build(docs_df.filter("doc_id >= 2"))
    ).distinct()
    a = sorted(r["pos"] for r in whole.collect())
    assert a == sorted(r["pos"] for r in parts.collect())  # union == bit-OR
    assert len(a) <= curation.BLOOM_M
    assert all(0 <= p < curation.BLOOM_M for p in a)


def _py_grams(text, n=curation.DECON_N):
    """Distinct n-word grams of ``text`` as the operators tokenize it:
    lowercased, split on single spaces; none below n tokens or for
    null text."""
    if text is None:
        return set()
    toks = text.lower().split(" ")
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def _py_bloom_pos(j, gram, m):
    """Pure-Python replay of ``_bloom_pos``: the first 8 hex digits of
    md5("{j}:{gram}") modulo m."""
    return int(hashlib.md5(f"{j}:{gram}".encode()).hexdigest()[:8], 16) % m


@pytest.mark.parametrize("m", [curation.BLOOM_M, 64])
@pytest.mark.parametrize("source", ["eval_docs", "bloom_positions"])
def test_bloom_probe_matches_python_replay(spark, m, source):
    """``bloom_decontaminate``'s in-row probe equals a pure-Python bloom
    over hashlib md5 positions: ``n_grams``, ``n_maybe`` and
    ``bloom_contaminated`` per doc, on null and empty text, a doc below
    n tokens, a gram repeated inside one doc and docs with spliced eval
    13-grams; the filter comes from the eval docs or from a position
    table built in Python. m = 64 saturates the filter, so partial hits
    and false positives occur too."""
    k, n = curation.BLOOM_K, curation.DECON_N
    words = [f"w{i}" for i in range(40)]
    eval_a = " ".join(f"e{i}" for i in range(20))
    eval_b = " ".join(f"q{i}" for i in range(13))
    eval_rows = [(900, eval_a), (901, eval_b), (902, None), (903, "")]
    train_rows = [
        (1, None),
        (2, ""),
        (3, " ".join(words[:12])),  # one token short of a gram
        (4, " ".join(words[:13]) + " " + " ".join(words[:13])),  # repeats
        (5, " ".join(words[:10]) + " " + eval_b + " " + " ".join(words[20:30])),
        (6, "Intro " + eval_a.upper() + " and " + eval_b + " outro"),
        (7, " ".join(words)),
        (8, " ".join(eval_a.split()[3:16]) + " tail"),  # one eval 13-gram
    ]
    bits = {
        _py_bloom_pos(j, g, m)
        for _, text in eval_rows for g in _py_grams(text) for j in range(k)
    }

    def maybe(g):
        return all(_py_bloom_pos(j, g, m) in bits for j in range(k))

    want = {}
    for doc_id, text in train_rows:
        grams = _py_grams(text)
        hits = sum(maybe(g) for g in grams)
        want[doc_id] = (len(grams), hits, hits > 0)

    ddl = "doc_id long, text string"
    train = spark.createDataFrame(train_rows, ddl)
    if source == "eval_docs":
        out = curation.bloom_decontaminate(
            train, spark.createDataFrame(eval_rows, ddl), m=m
        )
    else:
        positions = spark.createDataFrame([(p,) for p in sorted(bits)], "pos bigint")
        out = curation.bloom_decontaminate(
            train, None, m=m, bloom_positions=positions
        )
    got = {r["doc_id"]: tuple(r)[1:] for r in out.collect()}
    assert got == want
    assert want[1] == want[2] == want[3] == (0, 0, False)
    # 14 windows, the first one repeated at the end: 13 distinct grams;
    # doc 6 holds all 8 grams of eval_a (upper-cased) and eval_b's one
    assert want[4][0] == 13 and want[6][1] >= 9 and want[8][2]
    if m == 64:  # the saturated filter: a non-eval gram reads maybe-hit
        eval_grams = set().union(*(_py_grams(t) for _, t in eval_rows))
        assert any(
            maybe(g)
            for _, text in train_rows for g in _py_grams(text) - eval_grams
        )


def test_curate_incremental_all_four_verdicts(spark):
    """curate_incremental on a corpus where every verdict fires: exact
    corpus twin, exact within-batch twin (min-id keeper), short doc,
    near-dup of a corpus doc, eval-contaminated doc, and one clean
    keeper; a null text gets no row, an empty one is short. Verdicts
    are independent audit flags; kept = none fired."""
    from demo_pgvector_spark.operators.curation import curate_incremental

    base = ("the quick brown fox jumps over the lazy dog while the cat "
            "watches from the warm windowsill near the old stone bridge "
            "across the quiet river under the pale morning sky")
    eval_text = ("evaluation benchmark passage with thirteen plus words "
                 "that must never leak into any training corpus split "
                 "or the measured score is meaningless noise")
    corpus = spark.createDataFrame(
        [(1, base), (3, "corpus filler about compilers registers and "
                        "instruction scheduling on wide superscalar "
                        "pipelines with speculative execution units")],
        "doc_id long, text string",
    )
    eval_docs = spark.createDataFrame(
        [(41, eval_text)], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [
            (10, base),                                   # exact corpus twin
            (20, "unique short doc"),                     # too_short
            (30, base.replace("lazy", "sleepy")),         # near-dup of corpus 1
            (40, "completely original essay containing the phrase "
                 + eval_text + " verbatim inside a longer discussion"),
            (50, "an entirely clean long document discussing gardens "
                 "orchards beehives and the seasonal rhythm of harvest "
                 "festivals in quiet mountain villages every autumn"),
            (60, "twin text that appears twice inside this same batch "
                 "with enough words to clear the length screen easily "
                 "for both of its two identical copies"),
            (70, "twin text that appears twice inside this same batch "
                 "with enough words to clear the length screen easily "
                 "for both of its two identical copies"),
            (80, None),                                   # no verdict row
            (90, ""),                                     # too_short
            (95, ""),                                     # + exact twin of 90
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in curate_incremental(
        corpus, batch, eval_docs).collect()}
    assert 80 not in out and len(out) == 9
    assert out[90]["too_short"] and not out[90]["exact_dup"]
    assert out[95]["exact_dup"] and not out[95]["contaminated"]
    assert out[10]["exact_dup"] and not out[10]["kept"]
    assert out[20]["too_short"] and not out[20]["kept"]
    assert out[30]["near_dup"] and not out[30]["kept"]
    assert out[40]["contaminated"] and not out[40]["kept"]
    assert out[50]["kept"]
    assert not out[60]["exact_dup"] and out[70]["exact_dup"]  # min-id keeper
    assert out[60]["kept"] and not out[70]["kept"]


def test_curate_incremental_edge_cases(spark, tmp_path):
    """Hand-derived verdict rows (doc_id, exact_dup, too_short, near_dup,
    contaminated, kept) at the edges of the audit: null ids and null
    texts (no row), texts shorter than SHINGLE_K and than DECON_N, a doc
    that is both an exact and a near dup, in-batch exact twins (only the
    larger id flagged), a cross pair whose batch id is smaller than its
    corpus id, corpus rows with a null text or a null id, and an empty
    batch, which still publishes an empty verdict version through the
    stream sink. The near pairs share 20 of 22 distinct 5-shingles
    (Jaccard 0.91 ≥ τ); the LSH bands (fixed hashes) find them."""
    import os

    from demo_pgvector_spark.operators.curation import curate_incremental
    from demo_pgvector_spark.operators.dedup import SHINGLE_K
    from demo_pgvector_spark.streaming import curate as sc
    from demo_pgvector_spark.streaming import ingest

    def words(prefix, n):
        return [f"{prefix}{i}" for i in range(n)]

    ddl = "doc_id long, text string"
    base = " ".join(words("w", 25))
    near = " ".join(words("w", 24) + ["changed"])
    cdoc = " ".join(words("c", 25))
    passage = " ".join(words("e", 20))
    corpus = spark.createDataFrame(
        [(100, base), (5, cdoc), (200, None), (None, base)], ddl
    )
    eval_docs = spark.createDataFrame([(900, passage)], ddl)
    assert len("a b c".split()) < SHINGLE_K < 10 < curation.DECON_N
    batch = spark.createDataFrame(
        [
            (1, base),  # corpus twin: exact AND near (Jaccard 1.0)
            (2, near),  # near-dup of corpus 100 and of batch 1
            (3, "short"),
            (4, " ".join(words("c", 24) + ["x"])),  # near corpus 5 > 4
            (6, " ".join(words("t", 20))),  # kept
            (7, " ".join(words("t", 20))),  # in-batch twin of 6
            (None, base),  # null id: no row
            (8, None),  # null text: no row
            (9, "a b c"),  # shorter than SHINGLE_K
            (10, passage + " tail"),  # spliced eval passage
            (11, near),  # exact twin of 2, near of 100
            (12, " ".join(words("e", 10))),  # eval words, < DECON_N
        ],
        ddl,
    )
    got = sorted(
        tuple(r) for r in curate_incremental(corpus, batch, eval_docs).collect()
    )
    assert got == [
        (1, True, False, True, False, False),
        (2, False, False, True, False, False),
        (3, False, True, False, False, False),
        (4, False, False, True, False, False),
        (6, False, False, False, False, True),
        (7, True, False, True, False, False),
        (9, False, True, False, False, False),
        (10, False, False, False, True, False),
        (11, True, False, True, False, False),
        (12, False, True, False, False, False),
    ]

    empty = spark.createDataFrame([], ddl)
    assert curate_incremental(corpus, empty, eval_docs).collect() == []
    root = str(tmp_path / "curate")
    sc.curate_sink(root, corpus, eval_docs)(empty, 0)
    assert ingest.current_version(os.path.join(root, "verdicts")) == "v000001"
    assert sc.read_verdicts(spark, root).collect() == []


def test_curate_incremental_folds_a_repeated_batch_id(spark):
    """Batch doc ids are a precondition of curate_incremental, not a
    key it enforces: the verdicts are folded per id, so a repeated id
    gets ONE row whose flags are the OR of its rows' flags (a window
    per input row would emit one row per copy). Identical copies fold to
    the copy's own verdict; they do not make the doc its own near twin."""
    from demo_pgvector_spark.operators.curation import curate_incremental

    ddl = "doc_id long, text string"
    base = " ".join(f"w{i}" for i in range(25))
    corpus = spark.createDataFrame([(100, base)], ddl)
    eval_docs = spark.createDataFrame(
        [(900, " ".join(f"e{i}" for i in range(20)))], ddl
    )
    batch = spark.createDataFrame(
        [(1, base), (1, " ".join(["fresh"] * 20)), (2, "x y"), (2, "x y")],
        ddl,
    )
    got = sorted(
        tuple(r) for r in curate_incremental(corpus, batch, eval_docs).collect()
    )
    assert got == [
        (1, True, False, True, False, False),
        (2, False, True, False, False, False),
    ]


def test_bloom_decontaminate_rejects_doubly_missing_filter(spark, docs_df):
    """ADVICE r9: eval_docs=None with bloom_positions=None is reachable
    by type since the stream_bloom signature change — it must raise a
    clear ValueError, not an opaque AttributeError from inside
    bloom_build's plan builder."""
    import pytest as _pytest

    with _pytest.raises(ValueError, match="eval_docs or bloom_positions"):
        curation.bloom_decontaminate(docs_df, None)


# ---------------------------------------------------------------------------
# DSIR importance weights (curation.dsir_weights)
# ---------------------------------------------------------------------------


def _dsir_py_weights(rows, target_ids, n_buckets=64):
    """Pure-Python replay of the DSIR chain: md5-bucketed bigrams,
    add-1 smoothed target/raw distributions, position-ordered sum."""
    import hashlib

    def buckets(text):
        w = text.lower().split(" ")
        return [
            int(hashlib.md5(f"{w[i - 1]} {w[i]}".encode()).hexdigest()[:8], 16)
            % n_buckets
            for i in range(1, len(w))
        ]

    tgt, raw = {}, {}
    tt = rt = 0
    for did, text in rows:
        for b in buckets(text):
            if did in target_ids:
                tgt[b] = tgt.get(b, 0) + 1
                tt += 1
            else:
                raw[b] = raw.get(b, 0) + 1
                rt += 1
    out = {}
    for did, text in rows:
        if did in target_ids:
            continue
        w = 0.0
        for b in buckets(text):
            w += math.log((tgt.get(b, 0) + 1) / (tt + n_buckets)) - math.log(
                (raw.get(b, 0) + 1) / (rt + n_buckets)
            )
        if buckets(text):
            out[did] = round(w, 6)
    return out


def test_dsir_matches_python_reference(spark):
    from pyspark.sql import functions as F

    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox is quick and brown"),
        (2, "quick brown animals jump over lazy dogs daily"),
        (3, "stock prices fell sharply amid market turmoil today"),
        (4, "short"),  # no bigram — must be absent from the output
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: round(r["_w"], 6)
        for r in curation.dsir_weights(
            df, F.col("doc_id").isin(0, 1), n_buckets=64
        ).collect()
    }
    assert got == _dsir_py_weights(rows, {0, 1})


def test_dsir_ranks_target_like_docs_higher(spark):
    from pyspark.sql import functions as F

    target = [(i, "alpha beta gamma delta epsilon zeta") for i in range(4)]
    like = [(10, "alpha beta gamma delta unrelated tail")]
    unlike = [(11, "uno dos tres cuatro cinco seis")]
    df = spark.createDataFrame(
        target + like + unlike, "doc_id long, text string"
    )
    w = {
        r["doc_id"]: r["_w"]
        for r in curation.dsir_weights(
            df, F.col("doc_id") < 4, n_buckets=256
        ).collect()
    }
    assert w[10] > w[11], w


def test_ccnet_buckets_are_balanced_and_ordered(spark):
    """registry q_text_ccnet_buckets: tercile widths differ by <= 1 and
    every head score >= every middle score >= every tail score."""
    from demo_pgvector_spark import registry

    rows = registry.q_text_ccnet_buckets(
        spark, "/root/testdata/sf0.001"
    ).collect()
    by = {}
    for r in rows:
        by.setdefault(r["bucket"], []).append(r["avg_logp"])
    widths = [len(v) for v in by.values()]
    assert max(widths) - min(widths) <= 1, widths
    assert min(by["head"]) >= max(by["middle"]) >= min(by["middle"]) >= max(by["tail"])


def test_sample_temperature_rebalances_and_replays(spark):
    """sample_temperature: kept counts match the pure-Python replay of
    counts → ordered-fold √ denominator → floored thresholds → md5
    micro-tickets exactly; the skewed domain's kept SHARE shrinks vs
    its raw share (temperature flattening) while the small domain's
    grows; re-running is deterministic."""
    import hashlib
    import math

    from demo_pgvector_spark.operators.curation import sample_temperature

    rows = [(i, "big" if i < 900 else "small", f"t{i}") for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = sample_temperature(df, target_total=200)
    got = sorted(r["doc_id"] for r in out.collect())
    got2 = sorted(r["doc_id"] for r in sample_temperature(df, 200).collect())
    assert got == got2  # deterministic

    counts = {"big": 900, "small": 100}
    s = 0.0
    for d in sorted(counts):  # ordered fold
        s = s + math.sqrt(float(counts[d]))
    thr = {
        d: int(math.floor((1_000_000.0 * 200 * math.sqrt(float(n)))
                          / (s * float(n))))
        for d, n in counts.items()
    }

    def ticket(doc_id):
        h = int(hashlib.md5(f"{doc_id}:r11t".encode()).hexdigest()[:8], 16)
        return h % 1_000_000

    want = sorted(
        i for i, lang, _ in rows if ticket(i) < thr[lang]
    )
    assert got == want
    kept_small = sum(1 for i in got if i >= 900)
    kept_big = len(got) - kept_small
    # raw shares 90/10; √-flattened expected shares √900:√100 = 3:1
    assert kept_small / max(kept_big, 1) > 0.2  # far above the raw 1/9
    assert kept_big > kept_small  # but the big domain still dominates
