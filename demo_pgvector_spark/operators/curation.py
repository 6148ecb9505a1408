"""Corpus-curation operators — decontamination, sparse (BM25) retrieval,
stratified sampling, and sequence packing — completing the
LLM-training-data pipeline surface alongside operators/dedup.py
(extension; the reference has no curation stage — its retrieval is
dense-only, cli/generate_text.py:60-100, covered by
operators/similarity.py and ann/ivf).

Five operators, all pure Catalyst (no Python in any row path):

- decontaminate     — benchmark-overlap screen: flag every training
  document sharing at least one word n-gram (default n=13, the standard
  eval-decontamination window) with a held-out evaluation set.
- bm25_topk         — Okapi BM25 (k1=1.2, b=0.75) top-k retrieval for a
  bag-of-terms query; the sparse complement to the dense ANN/IVF path.
- sample_stratified — deterministic per-stratum downsampling (domain
  mixing): keep a document iff its salted content-independent hash
  falls under the stratum's per-mille rate. Rerunnable: the same
  (id, salt) always draws the same ticket.
- pack_sequences    — token-budget sequence packing: per-stratum prefix
  sums assign documents to fixed-budget training packs (the
  chunk-then-concat dataloader contract: a pack may overflow by at most
  its final document).
- scrub_text        — PII masking (email/IPv4/phone → typed
  placeholders) + C4-style short-line boilerplate screen; the
  pre-tokenization scrub. Scan-fused, zero shuffles.

Scale notes (100 TB posture):

- ``decontaminate`` never shuffles the corpus' gram stream by gram key:
  the eval side of the join is an n-gram *hash* set built from the
  benchmark corpus — megabytes even for large eval suites — so it
  broadcasts, and the only exchange is the final per-document count
  aggregation, which partial-combines map-side to one row per document.
  Grams travel as 8-byte ``xxhash64`` keys, never as strings (the
  corpus-side explode stays narrow); a pathological eval set too big to
  broadcast degrades to a plain shuffled hash join on the same 8-byte
  key, and Spark's runtime bloom-filter injection
  (``spark.sql.optimizer.runtime.bloomFilter.enabled``) prunes the
  corpus side before the exchange.
- ``sample_stratified`` is a scan-fused filter — zero shuffles, zero
  joins, embarrassingly parallel; the rate table is a literal CASE
  expression (strata counts are small: domains, languages, sources).
- ``pack_sequences`` is one exchange (hash by stratum) + one in-partition
  sort + a running-sum window per stratum — the classic skew candidate
  when one stratum dominates; ``salt_parts`` pre-splits giant domains
  into independently-packed sub-streams (packs never span salt
  boundaries, which the contract allows since packs are independent
  training units).
- ``bm25_topk`` is two corpus scans and ZERO joins on the big side:
  scan 1 partial-aggregates the global stats row (N, avgdl, per-term
  document frequencies — one row total), which cross-broadcasts onto
  scan 2's per-document term-frequency projection; scoring is a static
  codegen expression and the result is a TakeOrderedAndProject (top-k
  heap per partition, k rows per partition to the driver — no global
  sort). Per-term tf columns come from ``size(filter(tokens, ...))``
  projections, so the token stream is never exploded and nothing
  resembling a posting list is ever materialized.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

DECON_N = 13  # standard eval-decontamination n-gram window
BM25_K1 = 1.2
BM25_B = 0.75
# Canonical registry query: a fixed bag-of-terms probe over the testdata
# vocabulary (registry.q_text_bm25_topk and the DuckDB oracle both build
# from this list so the scoring expressions stay in lockstep).
BM25_TERMS = ["spark", "join", "vector", "window"]
BM25_TOPK = 15


def _with_gram_hashes(
    df: DataFrame, text_col: str, n: int, out: str = "_grams"
) -> DataFrame:
    """Project ``out``: distinct xxhash64 keys of the n-word grams of
    ``text_col`` (lowercased, space-tokenized). Documents shorter than
    n words contribute no grams — they cannot contain an n-gram of the
    eval set by definition.

    The token array is projected ONCE (``_toks``) before the gram
    expression references it: higher-order-function lambdas defeat
    codegen common-subexpression elimination, so inlining the split
    would re-tokenize each row three times (the text_repetition lesson,
    functions/textstats.py)."""
    return (
        df.withColumn("_toks", F.split(F.lower(F.col(text_col)), " "))
        .withColumn(
            out,
            F.expr(
                f"CASE WHEN size(_toks) < {n} THEN array() "
                f"ELSE array_distinct(transform(sequence(0, size(_toks) - {n}), "
                f"i -> xxhash64(concat_ws(' ', slice(_toks, i + 1, {n}))))) END"
            ),
        )
        .drop("_toks")
    )


BLOOM_M = 1 << 17  # bloom positions; ~10x the eval gram count at sf0.1
BLOOM_K = 3  # hash functions


def _bloom_pos(j: int, gram: Column, m: int) -> Column:
    """Hash row ``j``'s bloom position of a gram string — the repo's
    salted-md5 scheme (count-min / ticket precedent) so DuckDB replays
    it bit-identically. Production would derive k positions from ONE
    xxhash64 via Kirsch-Mitzenmacher double hashing; under ANSI mode
    the unsigned wrap that needs is inexpressible, and DuckDB has no
    xxhash64 to replay it — md5 costs k digests per gram and buys an
    exact cross-engine contract."""
    digest = F.md5(F.concat(F.lit(f"{j}:"), gram))
    return F.conv(F.substring(digest, 1, 8), 16, 10).cast("bigint") % m


def _with_gram_strings(
    df: DataFrame, text_col: str, n: int, out: str = "_gstr"
) -> DataFrame:
    """Like ``_with_gram_hashes`` but keeps the gram STRINGS (the bloom
    positions re-hash per function, so the 8-byte key shortcut does not
    apply). Same tokenize-once discipline; a null text has no grams."""
    return (
        df.withColumn("_toks", F.split(F.lower(F.col(text_col)), " "))
        .withColumn(
            out,
            F.expr(
                f"CASE WHEN coalesce(size(_toks), 0) < {n} THEN array() "
                f"ELSE array_distinct(transform(sequence(0, size(_toks) - {n}), "
                f"i -> concat_ws(' ', slice(_toks, i + 1, {n})))) END"
            ),
        )
        .drop("_toks")
    )


def bloom_build(
    eval_docs: DataFrame,
    n: int = DECON_N,
    text_col: str = "text",
    m: int = BLOOM_M,
    k: int = BLOOM_K,
) -> DataFrame:
    """The eval set's bloom filter as a relation: the DISTINCT set bit
    positions (≤ min(m, k·|grams|) rows). Bounded-memory contract: the
    exact eval-gram set (``decontaminate``) grows with the eval corpus;
    the bloom is capped at m positions FOREVER — the membership
    structure a 100 TB pipeline broadcasts when the eval suite is
    itself large. Mergeable by union (bit-OR ≡ DISTINCT over unioned
    position sets)."""
    grams = _with_gram_strings(eval_docs, text_col, n).select(
        F.explode("_gstr").alias("gram")
    )
    pos = F.explode(
        F.array(*[_bloom_pos(j, F.col("gram"), m) for j in range(k)])
    )
    # one distinct: a repeated gram repeats its positions, which the
    # position distinct removes with every other duplicate
    return grams.select(pos.alias("pos")).distinct()


def bloom_bitset(positions: DataFrame, m: int = BLOOM_M) -> Column:
    """A bloom position table (``bloom_build``'s, or the ``stream_bloom``
    artifact's ``pos`` column) as the m-bit bitset: an ``array<bigint>``
    literal of m/64 words (16 KiB at BLOOM_M), bit ``pos`` set for every
    row. Collecting the ≤ m positions is one action on the driver,
    paid once per filter; every probe after it is a lookup inside the
    row (``_bloom_maybe``), with no join and no exchange."""
    words = [0] * -(-m // 64)
    for (p,) in positions.select("pos").collect():
        words[p >> 6] |= 1 << (p & 63)
    signed = (w - (1 << 64) if w >> 63 else w for w in words)
    # a from_json of a literal constant-folds to one array literal; an
    # array(lit, …) of 2048 children costs a JVM call per word
    return F.from_json(
        F.lit(f"[{','.join(map(str, signed))}]"), "array<bigint>"
    )


def _bloom_maybe(bits: Column, gram: Column, m: int, k: int) -> Column:
    """A gram is a bloom MAYBE-hit iff all k of its positions are set
    in ``bits`` (a ``bloom_bitset``)."""
    hits = []
    for j in range(k):
        p = _bloom_pos(j, gram, m)
        word = F.element_at(bits, F.shiftright(p, 6).cast("int") + 1)
        hits.append(F.bit_get(word, p % 64) == 1)
    return functools.reduce(lambda x, y: x & y, hits)


def _bloom_probe(
    df: DataFrame, bits: Column, n: int, text_col: str, m: int, k: int
) -> DataFrame:
    """``df`` with the bigint counts ``n_grams`` (its distinct n-grams)
    and ``n_maybe`` (how many of them are bloom maybe-hits), per row."""
    return (
        _with_gram_strings(df, text_col, n)
        .withColumn("n_grams", F.size("_gstr").cast("bigint"))
        .withColumn(
            "n_maybe",
            F.size(
                F.filter("_gstr", lambda g: _bloom_maybe(bits, g, m, k))
            ).cast("bigint"),
        )
        .drop("_gstr")
    )


def bloom_decontaminate(
    train: DataFrame,
    eval_docs: DataFrame | None,
    n: int = DECON_N,
    id_col: str = "doc_id",
    text_col: str = "text",
    m: int = BLOOM_M,
    k: int = BLOOM_K,
    bloom_positions: DataFrame | None = None,
) -> DataFrame:
    """Decontamination through the bloom filter: (id, n_grams, n_maybe,
    bloom_contaminated) — a gram is a MAYBE-hit iff all k of its
    positions are set. No false negatives by construction (every true
    overlap flags; pinned against ``decontaminate`` in
    tests/test_curation.py), false positives bounded by the standard
    (1 − e^{−kn/m})^k. Plan: the position table is collected once into
    the m-bit ``bloom_bitset`` literal (one driver-side collect); the probe
    is then a scan-fused projection — ``n_grams`` is ``size`` of the
    row's distinct gram array, ``n_maybe`` the ``size(filter(...))`` of
    its maybe-hits — with no explode, join, aggregate or exchange. A
    null or too-short text has ``n_grams = 0``.

    ``bloom_positions``: a PREBUILT position table (the
    ``stream_bloom`` ingest artifact, one ``pos`` column) — when given,
    ``eval_docs`` is not touched; the filter is whatever the stream
    (or a prior ``bloom_build``) committed, built with the same
    (n, m, k)."""
    if eval_docs is None and bloom_positions is None:
        # ADVICE r9: the Optional eval_docs made this combination
        # reachable by type; without the guard it died as an opaque
        # AttributeError deep inside bloom_build's plan builder.
        raise ValueError(
            "bloom_decontaminate: provide eval_docs or bloom_positions"
        )
    if bloom_positions is None:
        bloom_positions = bloom_build(eval_docs, n, text_col, m, k)
    bits = bloom_bitset(bloom_positions, m)
    return _bloom_probe(train, bits, n, text_col, m, k).select(
        id_col,
        "n_grams",
        "n_maybe",
        (F.col("n_maybe") > 0).alias("bloom_contaminated"),
    )


def decontaminate(
    train: DataFrame,
    eval_docs: DataFrame,
    n: int = DECON_N,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Flag training documents that share any n-word gram with the eval
    set: (id, n_grams, n_overlap, contaminated).

    ``n_grams`` counts the document's distinct n-grams, ``n_overlap``
    how many of them appear anywhere in ``eval_docs``. The eval gram set
    is deduplicated then broadcast (see module scale notes); documents
    with fewer than n words surface with ``n_grams = 0`` and are never
    contaminated."""
    eval_grams = (
        _with_gram_hashes(eval_docs, text_col, n)
        .select(F.explode("_grams").alias("g"))
        .distinct()
    )
    train_grams = _with_gram_hashes(train, text_col, n).select(
        F.col(id_col), F.explode_outer("_grams").alias("g")
    )
    hit = F.broadcast(eval_grams.withColumn("_hit", F.lit(1)))
    return (
        train_grams.join(hit, "g", "left")
        .groupBy(id_col)
        .agg(
            F.count("g").alias("n_grams"),
            F.count("_hit").alias("n_overlap"),
        )
        .withColumn("contaminated", F.col("n_overlap") > F.lit(0))
    )


def sample_stratified(
    docs: DataFrame,
    rates_per_mille: dict[str, int],
    default_per_mille: int = 0,
    salt: str = "r4",
    id_col: str = "doc_id",
    stratum_col: str = "source",
) -> DataFrame:
    """Deterministic stratified downsampling: keep a document iff its
    salted hash ticket (0-999) falls under its stratum's per-mille rate.
    Output adds the ``ticket`` column so the decision is auditable.

    The ticket is the md5-derived 32-bit base hash of ``id:salt`` mod
    1000 — md5 is bit-identical in Spark/DuckDB/Python (the same oracle
    contract as operators/dedup.py; a production swap to ``xxhash64`` is
    one line). Changing the salt redraws every ticket; keeping it makes
    the sample append-stable: new rows never flip old decisions —
    the property that lets a 100 TB corpus be re-sampled incrementally.
    Scan-fused filter: zero shuffles, the rate table is a literal CASE
    over the (small) stratum vocabulary."""
    ticket = (
        F.expr(
            "cast(conv(substring(md5(concat(cast("
            f"{id_col} as string), ':{salt}')), 1, 8), 16, 10) as bigint)"
        )
        % 1000
    )
    rate = F.lit(default_per_mille)
    for s, r in sorted(rates_per_mille.items()):
        rate = F.when(F.col(stratum_col) == s, F.lit(r)).otherwise(rate)
    return (
        docs.withColumn("ticket", ticket)
        .filter(F.col("ticket") < rate)
    )


def pack_sequences(
    docs: DataFrame,
    budget: int = 256,
    id_col: str = "doc_id",
    text_col: str = "text",
    stratum_col: str = "source",
    salt_parts: int = 1,
) -> DataFrame:
    """Token-budget sequence packing: assign each document to a training
    pack via its stratum-local token prefix sum — pack_id =
    floor(tokens_before / budget), the chunk-then-concat dataloader
    contract (a pack may overflow by at most its final document, which
    the loader truncates or wraps). Deterministic: documents pack in
    ascending id order within each (stratum, salt part).

    (id, stratum, n_tokens, pack_id) per document. One hash exchange on
    the stratum key + one in-partition sort feeds the running-sum window.
    ``salt_parts > 1`` is the giant-stratum skew escape: the window keys
    on (stratum, xxhash64(id) mod parts), pre-splitting a dominant
    stratum into ``parts`` independently-packed sub-streams — packs never
    span salt boundaries, which the contract allows since every pack is
    an independent training unit. Sub-stream packs get disjoint ids via
    ``pack_id·parts + part`` (still deterministic and rerunnable)."""
    staged = docs.select(
        F.col(id_col),
        F.col(stratum_col),
        F.expr(f"size(split({text_col}, ' '))").alias("n_tokens"),
        (
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(salt_parts))
            if salt_parts > 1
            else F.lit(0)
        ).alias("_part"),
    )
    w = (
        Window.partitionBy(stratum_col, "_part")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = F.floor(
        (F.sum("n_tokens").over(w) - F.col("n_tokens")) / F.lit(budget)
    )
    return staged.withColumn(
        "pack_id", local * F.lit(salt_parts) + F.col("_part")
    ).drop("_part")


def curate_corpus(
    docs: DataFrame,
    rates_per_mille: dict[str, int],
    default_per_mille: int = 500,
    min_tokens: int = 15,
    pack_budget: int = 256,
    n: int = DECON_N,
    id_col: str = "doc_id",
    text_col: str = "text",
    stratum_col: str = "source",
) -> DataFrame:
    """The end-to-end curation pipeline as ONE composed logical plan:

        exact-dedup keepers → length screen → decontaminate vs the
        held-out eval split (doc_id % 41 = 0) → stratified sample →
        token-budget packing

    — i.e. what a training-data job actually runs, assembled from the
    operators in this module + operators/dedup.py. Every stage is
    deterministic, so the whole cascade has a DuckDB oracle.

    Stage shuffles at scale: dedup keeper groupBy (content hash),
    keeper/clean semi-joins co-partitioned on the id, the decontaminate
    count aggregation, and the final stratum window — each
    partial-combined or key-partitioned; the eval gram set broadcasts
    and the sample filter is scan-fused (free)."""
    from demo_pgvector_spark.operators import dedup as dedup_ops

    keepers = dedup_ops.exact_dedup(docs, id_col, text_col).select(
        F.col("keeper_id").alias(id_col)
    )
    kept = docs.join(keepers, id_col, "left_semi")
    longd = kept.filter(
        F.expr(f"size(split(lower({text_col}), ' '))") >= min_tokens
    )
    split = F.col(id_col) % 41 == 0
    train = longd.filter(~split)
    decon = decontaminate(
        train, docs.filter(split), n=n, id_col=id_col, text_col=text_col
    )
    clean = train.join(
        decon.filter(F.col("contaminated")).select(id_col), id_col, "left_anti"
    )
    sampled = sample_stratified(
        clean,
        rates_per_mille,
        default_per_mille=default_per_mille,
        id_col=id_col,
        stratum_col=stratum_col,
    ).drop("ticket")
    return pack_sequences(
        sampled,
        budget=pack_budget,
        id_col=id_col,
        text_col=text_col,
        stratum_col=stratum_col,
    )


def bm25_topk(
    docs: DataFrame,
    terms: list[str],
    k: int = 15,
    k1: float = BM25_K1,
    b: float = BM25_B,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Okapi BM25 top-k for a bag-of-terms query: (id, bm25).

    idf(t) = ln((N - df_t + 0.5) / (df_t + 0.5) + 1)   [Robertson/Lucene]
    score  = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))

    Scores are rounded to 4 decimals and ties broken by ascending id so
    the result set is deterministic across engines. See module scale
    notes for the two-scan zero-join plan shape."""
    if not terms:
        raise ValueError("bm25_topk requires at least one query term")
    # Project the token array once — the per-term filter lambdas would
    # otherwise re-split the text len(terms)+1 times per row (HOF lambdas
    # defeat codegen CSE; see _with_gram_hashes).
    per_doc = docs.withColumn(
        "_toks", F.split(F.lower(F.col(text_col)), " ")
    ).select(
        F.col(id_col),
        F.expr("size(_toks)").alias("dl"),
        *[
            F.expr(f"size(filter(_toks, x -> x = '{t}'))").alias(f"tf_{i}")
            for i, t in enumerate(terms)
        ],
    )
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(len(terms))
        ],
    )
    scored = per_doc.crossJoin(F.broadcast(stats))
    score = None
    for i in range(len(terms)):
        idf = F.log(
            (F.col("n_docs") - F.col(f"df_{i}") + F.lit(0.5))
            / (F.col(f"df_{i}") + F.lit(0.5))
            + F.lit(1.0)
        )
        tf = F.col(f"tf_{i}")
        part = idf * tf * F.lit(k1 + 1.0) / (
            tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
        )
        score = part if score is None else score + part
    return (
        scored.select(F.col(id_col), F.round(score, 4).alias("bm25"))
        .orderBy(F.col("bm25").desc(), F.col(id_col))
        .limit(k)
    )


# --------------------------------------------------------------------------
# PII scrubbing + line-level cleaning (C4-style)
# --------------------------------------------------------------------------

# Conservative patterns chosen to mean the same thing in Java regex
# (Spark) and RE2 (DuckDB oracle): character classes, bounded repeats,
# and ASCII \b only — no lookaround, no backreferences.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE = r"\+\d[\d()\- ]{6,}\d"


def _masked_col(t):
    masked = F.regexp_replace(t, PII_EMAIL, "<EMAIL>")
    masked = F.regexp_replace(masked, PII_IPV4, "<IP>")
    return F.regexp_replace(masked, PII_PHONE, "<PHONE>")


def clean_text_col(t, min_line_words: int = 3):
    """The scrub as a single Column expression (mask PII, drop short
    lines, re-join) — for callers that want to scrub IN PLACE as a
    projection (cli.curate) instead of the audited scrub_text output."""
    kept = F.filter(
        F.split(_masked_col(t), "\n"),
        lambda x: F.size(F.split(F.trim(x), " +")) >= F.lit(min_line_words),
    )
    return F.array_join(kept, "\n")


def scrub_text(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_line_words: int = 3,
) -> DataFrame:
    """PII masking + C4-style line filtering, the pre-tokenization scrub
    every web-scale training corpus runs (reference has no cleaning
    stage; its EPUB corpus is curated by hand — README.md:13-21).

    Per document: mask emails/IPv4s/phone numbers with typed
    placeholders, split into lines, drop lines with fewer than
    ``min_line_words`` whitespace-separated words (the C4 boilerplate
    screen), and re-join. Output keeps the per-doc PII hit counts
    (measured on the ORIGINAL text, so masking is auditable) and the
    kept/total line counts.

    Scale: a pure per-row Catalyst projection — zero shuffles, zero
    joins, zero Python; fuses into whatever scan precedes it and
    pipelines with downstream dedup/decontamination. Order of masking
    matters and is fixed: emails, then IPv4, then phones (the phone
    pattern requires a leading '+' so it can never re-match a masked
    IP's remnants).
    """
    t = F.col(text_col)
    lines = F.split(_masked_col(t), "\n")
    kept = F.filter(
        lines,
        lambda x: F.size(F.split(F.trim(x), " +")) >= F.lit(min_line_words),
    )
    return docs.select(
        F.col(id_col),
        F.array_join(kept, "\n").alias("clean_text"),
        F.regexp_count(t, F.lit(PII_EMAIL)).alias("n_emails"),
        F.regexp_count(t, F.lit(PII_IPV4)).alias("n_ips"),
        F.regexp_count(t, F.lit(PII_PHONE)).alias("n_phones"),
        F.size(kept).alias("n_lines_kept"),
        F.size(lines).alias("n_lines_total"),
    )


def unigram_logprob(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """CCNet-style language-model quality screen: score every document
    by its mean unigram log-probability under a corpus LM (the
    perplexity filter of Wenzek et al.'s CCNet, unigram instead of
    KenLM 5-gram — the n-gram upgrade drops into the same broadcast
    slot). Low-probability documents are gibberish/boilerplate
    candidates; production pipelines threshold on this score.

    Here the LM is self-trained on the input corpus in the same plan;
    a production run passes a pre-trained LM table and skips stage 1.

    Scale shape: stage 1 builds the LM — token explode + word groupBy
    (map-side combined; the exchange carries one (word, count) row per
    partition per distinct word, NOT the token stream) + a one-row
    total. Stage 2 re-explodes and joins the LM BROADCAST (vocabulary
    is types, not tokens — bounded and small relative to the corpus),
    so the only corpus-sized exchange is the final per-document mean,
    partial-combined to one row per doc. Output: (id, n_tokens,
    avg_logp) with avg_logp rounded to 6dp for cross-engine parity.
    """
    toks = docs.select(
        F.col(id_col), F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("w")
    )
    counts = toks.groupBy("w").agg(F.count(F.lit(1)).alias("_c"))
    total = counts.agg(F.sum("_c").alias("_n"))
    lm = counts.crossJoin(F.broadcast(total)).select(
        "w", F.log(F.col("_c") / F.col("_n")).alias("_logp")
    )
    return (
        toks.join(F.broadcast(lm), "w")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg("_logp"), 6).alias("avg_logp"),
        )
    )


def bigram_logprob(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lam: float = 0.75,
) -> DataFrame:
    """CCNet-style LM quality screen, bigram upgrade of
    ``unigram_logprob`` (VERDICT r4 #7): every token is scored by an
    interpolated bigram model — ``ln(λ·P(w|wprev) + (1−λ)·P(w))`` for
    positions ≥ 2, ``ln(P(w))`` for the document-initial token — with
    the LM self-trained on the corpus in the same plan (a production
    run passes pretrained tables and skips the training stages).
    λ = 0.75 (exactly representable, so both engines interpolate
    identical doubles; 1−λ = 0.25 likewise).

    Scale shape: bigram PAIR construction is a pure array expression
    over the tokenized column (``transform(sequence(...))`` — no self
    join, no lag window, zero shuffle). Stage 1 builds the two LM
    tables: token/pair explodes into map-side-combined groupBys whose
    exchanges carry TYPE counts, not the token stream. Stage 2 joins
    both tables BROADCAST (vocabulary and observed-bigram tables are
    bounded type sets, small relative to a 100 TB corpus; if the bigram
    table outgrows the broadcast threshold, drop the hint and Spark
    plans a shuffled hash join — semantics unchanged). The only
    corpus-sized exchange is the final per-document aggregation.

    Cross-engine float determinism (ADVICE r4): the per-document mean
    is an ORDERED fold — ``aggregate(array_sort(collect_list(
    struct(pos, logp))))`` sums token scores left-to-right in position
    order, exactly the addend order DuckDB's ``list_sum(list(logp
    ORDER BY pos))`` uses — not a partition-order AVG, so the doubles
    are bit-identical across engines and across runs. Output:
    (id, n_tokens, avg_logp @6dp).
    """
    t = F.split(F.lower(F.col(text_col)), " ")
    pos_structs = F.expr(
        "transform(sequence(1, size(_t)), i -> struct("
        "i as pos, element_at(_t, i) as w, "
        "if(i = 1, cast(null as string), element_at(_t, i - 1)) as wp))"
    )
    toks = (
        docs.select(F.col(id_col), t.alias("_t"))
        .select(F.col(id_col), F.explode(pos_structs).alias("b"))
        .select(id_col, "b.pos", "b.w", "b.wp")
    )
    uni = toks.groupBy("w").agg(F.count(F.lit(1)).alias("_cw"))
    total = uni.agg(F.sum("_cw").alias("_n"))
    uni_lm = uni.crossJoin(F.broadcast(total)).select(
        "w",
        (F.col("_cw").cast("double") / F.col("_n").cast("double")).alias("_pu"),
    )
    bi = (
        toks.filter(F.col("wp").isNotNull())
        .groupBy("wp", "w")
        .agg(F.count(F.lit(1)).alias("_cb"))
    )
    # context mass c(wp) = Σ_w c(wp, w): row-normalizes each context —
    # derived from the pair counts themselves so doc-final occurrences
    # (which start no bigram) are excluded on both engines identically.
    ctx = bi.groupBy("wp").agg(F.sum("_cb").alias("_cctx"))
    bi_lm = bi.join(ctx, "wp").select(
        "wp",
        "w",
        (F.col("_cb").cast("double") / F.col("_cctx").cast("double")).alias("_pb"),
    )
    scored = (
        toks.join(F.broadcast(uni_lm), "w")
        .join(F.broadcast(bi_lm), ["wp", "w"], "left")
        .select(
            F.col(id_col),
            F.col("pos"),
            F.when(F.col("wp").isNull(), F.log(F.col("_pu")))
            .otherwise(
                F.log(
                    F.lit(lam) * F.coalesce(F.col("_pb"), F.lit(0.0))
                    + F.lit(1.0 - lam) * F.col("_pu")
                )
            )
            .alias("_logp"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(
            F.expr(
                "aggregate(array_sort(collect_list(struct(pos, _logp))),"
                " 0D, (a, x) -> a + x._logp)"
            )
            / F.count(F.lit(1)),
            6,
        ).alias("avg_logp"),
    )


def sample_mixture(
    docs: DataFrame,
    weights: dict[str, int],
    target_total: int,
    salt: str = "r5",
    id_col: str = "doc_id",
    domain_col: str = "lang",
) -> DataFrame:
    """Deterministic DOMAIN-MIXTURE sampling: draw ~``target_total``
    documents whose domain composition follows integer ``weights``
    (the DoReMi/Pile-style "mix 50% web, 20% code, ..." contract),
    regardless of how skewed the source corpus is. Each domain's
    acceptance rate is target_total·w_d / (W·n_d) where W = Σ weights
    and n_d is the domain's observed count — computed and compared
    ENTIRELY in integers: keep iff

        ticket · W · n_d  <  target_total · w_d · 1000

    with the same salted md5 ticket (0-999) as ``sample_stratified``,
    so the decision is exact on Spark, DuckDB and Python alike (no
    double rounding at the rate boundary) and append-stable per salt.
    A domain absent from ``weights`` gets w=0 (dropped); a domain too
    small for its target share saturates at full inclusion (the
    condition is vacuously true for every ticket) and the total comes
    up short — the caller rebalances weights, the sampler never
    oversamples.

    Two-pass plan: a partial-combined domain count (|domains| rows)
    broadcast back onto the scan, then a scan-fused integer filter —
    the only data-sized cost is the one count scan; no shuffle of the
    corpus itself."""
    counts = docs.groupBy(domain_col).agg(F.count(F.lit(1)).alias("_n_dom"))
    w_total = sum(weights.values())
    w_col = F.lit(0)
    for d, w in sorted(weights.items()):
        w_col = F.when(F.col(domain_col) == d, F.lit(w)).otherwise(w_col)
    ticket = (
        F.expr(
            "cast(conv(substring(md5(concat(cast("
            f"{id_col} as string), ':{salt}')), 1, 8), 16, 10) as bigint)"
        )
        % 1000
    )
    return (
        docs.join(F.broadcast(counts), domain_col)
        .withColumn("ticket", ticket)
        .filter(
            F.col("ticket") * F.lit(w_total) * F.col("_n_dom")
            < F.lit(target_total) * w_col * F.lit(1000)
        )
        .drop("_n_dom")
    )


PRIORITY_TICKET_BITS = 20  # ticket ∈ [1, 2^20]; see sample_priority


def sample_priority(
    docs: DataFrame,
    k: int,
    salt: str = "r7",
    id_col: str = "doc_id",
    weight_col: str = "n_chars",
) -> DataFrame:
    """Deterministic WEIGHTED sampling without replacement via priority
    sampling (Duffield, Lund & Thorup, JACM 2007): each item draws a
    uniform ticket u and gets priority w/u; the k LARGEST priorities
    form the sample. Unlike per-mille Bernoulli rates
    (``sample_stratified``), the output size is EXACTLY k and inclusion
    probability scales with the weight — the "pick 10M docs favoring
    longer/higher-quality ones" curation primitive.

    Exactness contract: the ticket is the salted md5 ticket scheme
    (``sample_stratified``) mapped to [1, 2^20], and the priority is
    ``(w · 2^20) div ticket`` — TRUE integer division on both engines
    (Spark ``div``, DuckDB ``//``), so every operand and the quotient
    are exact BIGINTs with no float op anywhere (ADVICE r7 #2: the
    earlier ``floor(a / b)`` formulation went through an IEEE double
    quotient, which for quotients near 2^33+ could round up across an
    integer before the floor). Ties break on ascending id, making the
    k-set unique and replayable.

    100 TB posture: scan-fused projection + TakeOrderedAndProject —
    each partition keeps a k-row heap and ships k rows to the driver;
    NO shuffle, NO global sort, one pass. Append-stable per salt: a
    grown corpus re-draws nothing, new rows just compete for the k
    slots (the property that lets a rolling corpus re-sample
    incrementally)."""
    scale = 1 << PRIORITY_TICKET_BITS
    ticket = (
        F.expr(
            "cast(conv(substring(md5(concat(cast("
            f"{id_col} as string), ':{salt}')), 1, 8), 16, 10) as bigint)"
        )
        % scale
        + 1
    )
    return (
        docs.select(
            F.col(id_col),
            F.col(weight_col),
            ticket.alias("ticket"),
        )
        .withColumn(
            "priority",
            F.expr(f"(cast({weight_col} as bigint) * {scale}) div ticket"),
        )
        .orderBy(F.col("priority").desc(), F.col(id_col).asc())
        .limit(k)
    )


def curate_corpus_fuzzy(
    docs: DataFrame,
    rates_per_mille: dict[str, int],
    default_per_mille: int = 500,
    min_tokens: int = 15,
    pack_budget: int = 256,
    n: int = DECON_N,
    jaccard_threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    stratum_col: str = "source",
) -> DataFrame:
    """``curate_corpus`` with NEAR-duplicate pruning: the dedup stage is
    minhash-LSH pair generation → jaccard screen → connected-component
    keeper assignment (operators/dedup.py minhash_pairs + dedup_assign),
    so boilerplate-variant duplicates — not just byte-identical copies —
    collapse to one representative before screening/sampling/packing.
    This is the production fuzzy-dedup shape (the Gopher/RefinedWeb
    recipe): exact dedup alone leaves every near-copy in the corpus.

    The jaccard screen compares the 6dp-ROUNDED score (both engines
    compute the identical single division, and the oracle's recursive-CTE
    replay filters the same rounded value, so the 0.8 boundary cannot
    flake). The CC resolution is iterative (driver-bounded rounds,
    operators/dedup.py); everything downstream of the keeper set is one
    composed plan identical to ``curate_corpus``'s tail."""
    from demo_pgvector_spark.operators import dedup as dedup_ops

    pairs = dedup_ops.minhash_pairs(docs, id_col, text_col).filter(
        F.round("jaccard", 6) >= jaccard_threshold
    )
    assign = dedup_ops.dedup_assign(docs, pairs, id_col=id_col)
    keepers = assign.filter(F.col("is_keeper")).select(
        F.col("id").alias(id_col)
    )
    kept = docs.join(keepers, id_col, "left_semi")
    longd = kept.filter(
        F.expr(f"size(split(lower({text_col}), ' '))") >= min_tokens
    )
    split = F.col(id_col) % 41 == 0
    train = longd.filter(~split)
    decon = decontaminate(
        train, docs.filter(split), n=n, id_col=id_col, text_col=text_col
    )
    clean = train.join(
        decon.filter(F.col("contaminated")).select(id_col), id_col, "left_anti"
    )
    sampled = sample_stratified(
        clean,
        rates_per_mille,
        default_per_mille=default_per_mille,
        id_col=id_col,
        stratum_col=stratum_col,
    ).drop("ticket")
    return pack_sequences(
        sampled,
        budget=pack_budget,
        id_col=id_col,
        text_col=text_col,
        stratum_col=stratum_col,
    )


def keyword_tfidf(
    docs: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k keywords per document by tf-idf — the classic corpus
    feature-extraction pass (document tagging, topic seeding, index
    term selection). (id, term, tf, df, tfidf, rank), rank 1..k per doc.

    tfidf = tf · ln(N / df) with tf/df/N all integers, the division
    done in double then ln — one identical IEEE sequence on both
    engines (same determinism contract as the perplexity rows' ln).
    Ties break by term ASC, so the top-k set is stable.

    Scale shape: token explode → per-(doc, term) count (ONE exchange,
    partial-combined), doc-frequency aggregate over the tf rows
    (second exchange — carries TYPES, not tokens), a term-keyed join
    back — deliberately UNHINTED: the df table scales with vocabulary,
    so AQE's size-based choice (broadcast on a small vocabulary,
    shuffle join at open-vocabulary scale) is the right strategy — and
    a per-document rank window whose partitions are bounded by
    document length. Nothing is |corpus|-keyed except the two
    partial-combined aggregates."""
    n_docs = docs.count()
    toks = docs.select(
        F.col(id_col), F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("term")
    )
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(df_t, "term").withColumn(
        "_tfidf",
        F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")),
    )
    # Rank on the 6dp-ROUNDED score — the same value that's emitted.
    # JVM Math.log and libm log can differ by ULPs, so ranking on the
    # raw double could rank-flip near-equal terms across engines before
    # the term tiebreak applies (ADVICE r5); rounding first makes the
    # ranking key cross-engine-stable.
    w = Window.partitionBy(id_col).orderBy(
        F.round(F.col("_tfidf"), 6).desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            id_col,
            "term",
            "tf",
            "df",
            F.round("_tfidf", 6).alias("tfidf"),
            "rank",
        )
    )


def quality_model_score(
    docs: DataFrame,
    weights: DataFrame,
    bias: float,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Model-based quality filter — the CCNet §4.4 / GPT-3 appendix A /
    DCLM method: a PRETRAINED linear domain classifier (fastText-style
    bag of unigram+bigram features, trained offline by
    tools/train_quality_model.py) scores every document; downstream
    stages keep by score. This is the model-based sibling of the
    heuristic ``text_quality`` row, and the single most load-bearing
    filter class a 100 TB pretraining pipeline runs.

    Score: ``z = bias + (Σ_matched w_f) / n_feats`` (fastText's
    feature-mean — out-of-vocabulary features contribute only to the
    denominator), ``score = σ(z)``, ``keep = z >= 0``.

    Scale shape (the decontaminate/perplexity shape): the weight table
    BROADCASTS (vocabulary-bounded); features join it on xxhash64 8-byte
    keys (the oracle joins the STRINGS, so the gate's hash-match doubles
    as a collision check); the only corpus-sized exchange is the final
    per-document aggregation. Cross-engine float determinism: the
    matched-weight sum is an ORDERED position fold on both engines (the
    bigram_logprob convention), and ``z`` is therefore bit-identical —
    division is IEEE-rounded and every addend arrives in the same order.
    Output: (id, n_feats, score @6dp, keep).
    """
    t = F.split(F.lower(F.col(text_col)), " ")
    base = docs.select(F.col(id_col), t.alias("_toks")).select(
        F.col(id_col),
        F.col("_toks"),
        (F.lit(2) * F.size("_toks") - F.lit(1)).alias("n_feats"),
    )
    # unigrams at pos 0..n-1, bigrams at pos n..2n-2 — any order works as
    # long as BOTH engines fold the matched weights in the same order.
    feat_structs = F.expr(
        "concat("
        " transform(_toks, (w, i) -> struct(i as pos, w as term)),"
        " CASE WHEN size(_toks) > 1 THEN"
        "   transform(sequence(1, size(_toks) - 1), i -> struct("
        "     size(_toks) + i - 1 as pos,"
        "     concat(element_at(_toks, i), ' ', element_at(_toks, i + 1))"
        "       as term))"
        " ELSE array() END)"
    )
    feats = base.select(
        F.col(id_col), F.col("n_feats"), F.explode(feat_structs).alias("f")
    ).select(
        id_col, "n_feats", F.col("f.pos").alias("pos"),
        F.xxhash64("f.term").alias("_h"),
    )
    wt = weights.select(F.xxhash64("term").alias("_h"), "weight")
    # LEFT join so every feature row survives: unmatched features fold a
    # 0.0 (exact under IEEE addition, so the sum is bit-identical to the
    # oracle's matched-only fold) and every doc reaches the aggregation —
    # the per-doc groupBy is then the plan's ONLY corpus-sized exchange
    # (an inner join would need a second docs-sized join to resurrect
    # zero-match documents).
    scored = (
        feats.join(F.broadcast(wt), "_h", "left")
        .groupBy(id_col)
        .agg(
            F.first("n_feats").alias("n_feats"),
            F.expr(
                "aggregate(array_sort(collect_list(struct(pos, weight))),"
                " 0D, (a, x) -> a + coalesce(x.weight, 0D))"
            ).alias("_wsum"),
        )
    )
    z = F.lit(float(bias)) + F.col("_wsum") / F.col("n_feats").cast("double")
    return scored.select(
        F.col(id_col),
        "n_feats",
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6).alias("score"),
        (z >= F.lit(0.0)).alias("keep"),
    )


# Incremental-curation thresholds: near-dup drop at shingle-Jaccard ≥
# τ; the length screen reuses curate_corpus's 15-token floor. τ = 0.5
# is exactly representable and both engines derive jaccard from the
# same integer set sizes, so the threshold comparison replays exactly.
CURATE_INC_TAU = 0.5
CURATE_INC_MIN_TOKENS = 15


def curate_incremental(
    corpus: DataFrame,
    batch: DataFrame,
    eval_docs: DataFrame | Column,
    corpus_bands: DataFrame | None = None,
    min_tokens: int = CURATE_INC_MIN_TOKENS,
    tau: float = CURATE_INC_TAU,
    n: int = DECON_N,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The DAILY-BATCH curation job — ``curate_corpus`` re-expressed
    for a corpus that is already curated: audit every batch document
    against the incumbent corpus and the eval suite, never re-curating
    the corpus. One row per batch doc with four independent verdicts
    and the final keep:

        (id, exact_dup, too_short, near_dup, contaminated, kept)

    - ``exact_dup``: content hash already in the corpus, OR a
      smaller-id batch doc carries the same hash (min-id keeper, the
      exact_dedup convention).
    - ``too_short``: token count < ``min_tokens``.
    - ``near_dup``: an incremental minhash pair at jaccard ≥ ``tau``
      connects the doc to the corpus (incumbent wins), or to a
      SMALLER-id batch doc (min-id keeper). Candidates come from
      ``minhash_pairs_incremental`` — pass ``corpus_bands`` (the
      ``band_index_write`` layout) and the corpus is never re-banded;
      its text is shingled only for the cross candidates.
    - ``contaminated``: the eval bloom filter flags an n-gram maybe-hit
      (``bloom_decontaminate`` semantics — no false negatives).

    ``eval_docs`` is the eval set, or its ``bloom_bitset`` (of
    ``bloom_build(eval_docs, n)``) when the caller builds the filter
    once for many calls, as the stream sink does; given the eval set,
    the bitset is collected here (one driver-side collect).

    Precondition: batch doc ids are UNIQUE (the stream sink stages by an
    anti-join on the id, so its batches are). The verdicts are folded
    per id, so a repeated id gets one row whose flags are the OR of its
    rows' flags. A batch row with a null id or null text gets no row.

    Plan: the work scales with the batch and its candidates; no
    exchange carries corpus rows. The batch rows' (id, sha2,
    ``too_short``, ``contaminated``) are broadcast — the last two are
    expressions in the batch scan's projection (the in-row bloom probe
    of ``_bloom_probe``) — and the corpus hashes ∪ the batch hashes
    stream past them: a match flags its batch id ``exact_dup`` when the
    streamed row is a corpus row or a smaller batch id, and every batch
    doc meets at least itself, which carries its other two flags. The
    near-dup pairs (one side of a cross pair is the batch doc, a
    within-batch pair flags its larger id) join those match rows in ONE
    ``groupBy(id)`` of ``max()`` per flag; an id with no batch row of
    its own (a cross pair's corpus side) is dropped there.

    Verdicts are deliberately INDEPENDENT (each computed over the whole
    batch), not cascaded: the row is the audit record a pipeline logs
    per ingest tick, and any drop policy — including the cascade — is a
    boolean projection over it. ``kept`` is the conjunction of the four
    nots. Every stage is deterministic, so the whole audit has a DuckDB
    oracle."""
    from demo_pgvector_spark.operators import dedup as dedup_ops

    bits = (
        eval_docs
        if isinstance(eval_docs, Column)
        else bloom_bitset(bloom_build(eval_docs, n, text_col))
    )
    ident, h = F.col(id_col), F.sha2(F.col(text_col), 256).alias("_h")
    docs = batch.filter(ident.isNotNull() & F.col(text_col).isNotNull())
    audit = _bloom_probe(docs, bits, n, text_col, BLOOM_M, BLOOM_K).select(
        ident,
        h,
        (
            F.size(F.split(F.lower(F.col(text_col)), " ")) < min_tokens
        ).alias("too_short"),
        (F.col("n_maybe") > 0).alias("contaminated"),
    )
    # a streamed row with a null _by is a corpus row
    seen = corpus.select(
        F.lit(None).cast(batch.schema[id_col].dataType).alias("_by"), h
    ).unionByName(docs.select(ident.alias("_by"), h))
    exact = seen.join(F.broadcast(audit), "_h").select(
        id_col,
        (F.col("_by").isNull() | (F.col("_by") < ident)).alias("exact_dup"),
        "too_short",
        "contaminated",
    )
    pairs = dedup_ops.minhash_pairs_incremental(
        corpus, batch, id_col, text_col, corpus_bands=corpus_bands
    ).filter(F.col("jaccard") >= tau)
    # a cross pair flags its batch side (its corpus side has no batch
    # row, so the too_short filter drops it), a within-batch pair its
    # larger id
    near = pairs.select(
        F.explode(
            F.when(
                F.col("pair_kind") == "cross", F.array("id_a", "id_b")
            ).otherwise(F.array("id_b"))
        ).alias(id_col),
        F.lit(True).alias("near_dup"),
    )
    out = (
        exact.unionByName(near, allowMissingColumns=True)
        .groupBy(id_col)
        .agg(
            F.max("exact_dup").alias("exact_dup"),
            F.max("too_short").alias("too_short"),
            F.coalesce(F.max("near_dup"), F.lit(False)).alias("near_dup"),
            F.max("contaminated").alias("contaminated"),
        )
        .filter(F.col("too_short").isNotNull())
    )
    return out.withColumn(
        "kept",
        ~(
            F.col("exact_dup")
            | F.col("too_short")
            | F.col("near_dup")
            | F.col("contaminated")
        ),
    )


def dsir_weights(
    docs: DataFrame,
    target_filter: Column,
    n_buckets: int = 4096,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR importance weights (Xie et al., NeurIPS 2023: "Data
    Selection for Language Models via Importance Resampling") — the
    data-selection step between raw crawl and curated corpus: score
    every document in the RAW pool by how target-like its hashed
    bigram distribution is,

        logw(doc) = Σ_bigrams  ln p̂_target(bucket) − ln p̂_raw(bucket),

    with bigrams hashed into ``n_buckets`` buckets (the repo's
    md5-hex→BIGINT bridge, engine-portable) and add-1 smoothing
    p̂(b) = (cnt(b) + 1) / (N + B). High-weight documents are the ones
    importance resampling keeps.

    Scale shape: bigram construction is the pure array expression of
    ``bigram_logprob`` (no self-join, no lag window); the two bucket
    tables are ≤ B rows each regardless of corpus size (map-side
    combined) and the log-ratio table joins BROADCAST onto the exploded
    raw stream; the only corpus-sized exchange is the final per-document
    fold. Float determinism: the per-document sum is the ordered
    ``aggregate(array_sort(collect_list(struct(pos, lr))))`` fold —
    bit-identical addend order to DuckDB's ``list_sum(list(lr ORDER BY
    pos))``.

    Returns (id, n_bigrams, _w unrounded) for every raw-pool document
    with ≥ 1 bigram; callers order/limit/round (registry
    q_text_dsir keeps the top DSIR_K)."""
    t = F.split(F.lower(F.col(text_col)), " ")
    pair_structs = F.expr(
        "transform(sequence(2, size(_t)), i -> struct("
        "i as pos, concat(element_at(_t, i - 1), ' ', element_at(_t, i)) as bg))"
    )
    grams = (
        docs.select(
            F.col(id_col), target_filter.alias("_is_target"), t.alias("_t")
        )
        .filter(F.size("_t") >= 2)
        .select(F.col(id_col), "_is_target", F.explode(pair_structs).alias("b"))
        .select(
            id_col,
            "_is_target",
            "b.pos",
            F.expr(
                f"cast(conv(substring(md5(b.bg), 1, 8), 16, 10) as bigint)"
                f" % {n_buckets}"
            ).alias("bucket"),
        )
    )
    tgt = grams.filter(F.col("_is_target"))
    raw = grams.filter(~F.col("_is_target"))
    tgt_counts = tgt.groupBy("bucket").agg(F.count(F.lit(1)).alias("_ct"))
    raw_counts = raw.groupBy("bucket").agg(F.count(F.lit(1)).alias("_cr"))
    tgt_total = tgt.agg(F.count(F.lit(1)).alias("_tt"))
    raw_total = raw.agg(F.count(F.lit(1)).alias("_rt"))
    # full bucket domain so unseen buckets still carry the smoothed
    # ratio; ≤ B rows after the outer join, broadcast below
    ratios = (
        tgt_counts.join(raw_counts, "bucket", "full")
        .crossJoin(tgt_total)
        .crossJoin(raw_total)
        .select(
            "bucket",
            (
                F.log(
                    (F.coalesce(F.col("_ct"), F.lit(0)) + 1).cast("double")
                    / (F.col("_tt") + n_buckets).cast("double")
                )
                - F.log(
                    (F.coalesce(F.col("_cr"), F.lit(0)) + 1).cast("double")
                    / (F.col("_rt") + n_buckets).cast("double")
                )
            ).alias("_lr"),
        )
    )
    scored = raw.join(F.broadcast(ratios), "bucket")
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.expr(
            "aggregate(array_sort(collect_list(struct(pos, _lr))),"
            " 0D, (a, x) -> a + x._lr)"
        ).alias("_w"),
    )


def sample_temperature(
    docs: DataFrame,
    target_total: int,
    salt: str = "r11t",
    id_col: str = "doc_id",
    domain_col: str = "lang",
) -> DataFrame:
    """Temperature-balanced domain sampling at T = 2 (α = 1/2) — the
    multilingual-LM rebalancing step (the XLM-R / mT5 exponent-smoothed
    sampling family, q_d ∝ n_d^α with α < 1): low-resource domains are
    upweighted RELATIVE to their raw share without anyone hand-writing
    mixture weights (contrast ``sample_mixture``, which takes explicit
    targets). Expected kept count per domain is
    target_total · √n_d / Σ_e √n_e.

    α = 1/2 is the determinism choice: n^α = sqrt(n), and IEEE-754
    sqrt is CORRECTLY ROUNDED — bit-identical on the JVM, DuckDB and
    numpy — where a general pow(n, 0.3) is a libm function with no
    such guarantee. The denominator Σ √n_e is an ORDERED fold over the
    (tiny) per-domain count relation (array_sort(collect_list(...))
    ↔ list_sum(list(... ORDER BY domain)) — the bigram-LM addend-order
    contract), each per-domain acceptance threshold is ONE shared-shape
    float expression floored to an integer

        thr_d = floor(1e6 · target_total · √n_d / (S · n_d))

    and the keep decision is the pure-integer ``ticket < thr_d`` on
    a salted md5 MICRO-ticket (0-999999; the siblings' per-mille
    granularity floors the sub-0.1% rates a 100×-replica corpus
    produces to zero, so this row carries the finer wheel) —
    exact at the boundary, rerunnable, append-stable per salt. A
    domain small enough that thr_d ≥ 1,000,000 saturates at full inclusion
    (the sampler never oversamples it; the shortfall is the caller's
    signal, the sample_mixture convention).

    Plan: one partial-combined domain count (|domains| rows), the
    1-row ordered-fold denominator broadcast onto it, thresholds
    broadcast back onto the scan, then a scan-fused integer filter —
    the corpus itself never shuffles."""
    counts = docs.groupBy(domain_col).agg(
        F.count(F.lit(1)).alias("_n_dom")
    )
    den = counts.agg(
        F.expr(
            f"aggregate(array_sort(collect_list(struct({domain_col}, _n_dom))),"
            " 0D, (acc, x) -> acc + sqrt(cast(x._n_dom as double)))"
        ).alias("_s")
    )
    thr = counts.crossJoin(F.broadcast(den)).select(
        domain_col,
        F.expr(
            f"cast(floor(({float(1_000_000 * target_total)!r} *"
            " sqrt(cast(_n_dom as double)))"
            " / (_s * cast(_n_dom as double))) as bigint)"
        ).alias("_thr"),
    )
    ticket = (
        F.expr(
            "cast(conv(substring(md5(concat(cast("
            f"{id_col} as string), ':{salt}')), 1, 8), 16, 10) as bigint)"
        )
        % 1_000_000
    )
    return (
        docs.join(F.broadcast(thr), domain_col)
        .withColumn("ticket", ticket)
        .filter(F.col("ticket") < F.col("_thr"))
        .drop("_thr")
    )
