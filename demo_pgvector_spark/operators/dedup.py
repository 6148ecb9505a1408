"""Deduplication operators — the first pillar of the LLM-training-data
pipeline surface (extension; the reference's only dedup is the upsert
UNIQUE constraint, config/init.sql:23, covered by operators/write.py).

Six operators, all pure Catalyst expressions (no Python in any row path):

- exact_dedup        — content-hash groupBy; keeper = min id per hash.
- minhash_signatures — k-word shingles → H minhashes via universal
                       hashing over an md5-derived 32-bit base.
- minhash_pairs      — banded-LSH candidate pairs (bucket aggregate — no
                       all-pairs product) + exact shingle-Jaccard verify.
- simhash            — 32-bit SimHash: per-token hash bit votes,
                       partial-aggregable (map-side combine).
- embedding_pairs    — near-dup by embedding cosine over LSH-bucket
                       candidate pairs (reuses operators/ann.py planes).
- dedup_assign       — pairs → per-doc keeper assignment: connected
                       components by min-label propagation with early
                       stop (the stage that actually drops duplicates).

Hash choice: the 32-bit base is the first 8 hex chars of md5, and the H
minhash functions are affine maps (a·x + b) mod P over it. md5 exists
bit-identically in Spark, DuckDB, and Python, which is what lets the
CORRECTNESS oracle recompute every stage independently; a production
deployment would swap the base for xxhash64 (one JVM intrinsic instead
of md5) without changing any semantics — the swap is a one-line change
in ``_base_hash_expr``.

Scale notes (100 TB posture):
- exact_dedup and simhash are single hash-partitioned aggregations with
  map-side partial combine; no skew beyond genuine heavy-hitter dupes.
- minhash_pairs shuffles (doc, band-key) rows — H/r keys per doc — then
  enumerates each bucket's pairs from one collected id array. Bucket
  sizes are bounded by real duplicate clusters, not table size;
  pathological buckets (e.g. boilerplate) are the classic salting
  candidates and are capped by ``max_bucket_size`` before pairing.
- embedding_pairs self-joins on (table, signature) buckets, carrying
  the vectors to the cosine verify.

Candidate-then-verify machinery, shared with multimodal.py and ann.py:
bucket rows come from ``ann.bucket_rows``; pairs from the bucket
aggregate ``_bucket_id_pairs`` (id-only text buckets — minhash_pairs,
where it measured faster than a self-join in round 4) or from the
``ann.bucket_pairs`` join (buckets carrying fingerprints or vectors,
the batch bands of minhash_pairs_incremental against corpus ∪ batch
bands, the small-world build); text pairs are verified by
``_with_both_shingles``.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from demo_pgvector_spark.functions.vector import dot_sql
from demo_pgvector_spark.operators import ann, graph
from demo_pgvector_spark.operators.ivf import centroid_scores_sql
from demo_pgvector_spark.session import scan_splits
from demo_pgvector_spark.tables import write_layout

SHINGLE_K = 5
NUM_HASHES = 12
BAND_R = 2  # rows per band → NUM_HASHES/BAND_R bands
MINHASH_P = 4_294_967_311  # smallest prime > 2^32
MINHASH_SEED = 1234

_rng = np.random.RandomState(MINHASH_SEED)
MINHASH_A = [int(a) for a in _rng.randint(1, 1 << 20, NUM_HASHES)]
MINHASH_B = [int(b) for b in _rng.randint(0, 1 << 20, NUM_HASHES)]

SIMHASH_BITS = 32

# SemDeDup within-cluster cosine threshold. Margin audit on the test
# corpora (min |cosine − τ| over every within-cluster pair of the 16-seed
# clustering): 3.6e-4 at sf0.01, 7.8e-6 at sf0.1 — ≥9 orders above the
# ~1e-15 numpy-vs-serial-fold summation noise, the same safety argument
# as the IVF rows' argmax margins. GATED, not just recorded:
# tests/test_dedup.py::test_semdedup_margins_hold_on_real_testdata
# recomputes the τ-margin AND the per-vector argmax margin on every
# testdata sf dir against 1e-6 floors (ADVICE r6).
SEMDEDUP_TAU = 0.35


def _base_hash_expr(s: str) -> str:
    """32-bit base hash of a string expression (Spark SQL fragment)."""
    return f"cast(conv(substring(md5({s}), 1, 8), 16, 10) as bigint)"


def with_shingles(
    docs: DataFrame, text_col: str = "text", k: int = SHINGLE_K
) -> DataFrame:
    """Add ``shingles``: distinct k-word shingles of the space-tokenized,
    lowercased text. A document shorter than k tokens contributes its
    whole text as a single shingle (``sequence(0, size-k)`` would
    otherwise generate a DESCENDING range and crash slice)."""
    return docs.withColumn("_toks", F.split(F.lower(F.col(text_col)), " ")).withColumn(
        "shingles",
        F.expr(
            f"CASE WHEN size(_toks) < {k} THEN array(concat_ws(' ', _toks)) "
            f"ELSE array_distinct(transform(sequence(0, size(_toks) - {k}),"
            f" i -> concat_ws(' ', slice(_toks, i + 1, {k})))) END"
        ),
    ).drop("_toks")


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup by content hash: one row per distinct text with the
    deterministic keeper (min id) and the duplicate count."""
    return (
        docs.groupBy(F.sha2(F.col(text_col), 256).alias("text_sha"))
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def minhash_signatures(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, minhash array<bigint>[H]) per document."""
    sh = with_shingles(docs, text_col)
    based = sh.withColumn(
        "_bases", F.expr(f"transform(shingles, s -> {_base_hash_expr('s')})")
    )
    mh = [
        F.expr(
            f"array_min(transform(_bases, x -> ({a} * x + {b}) % {MINHASH_P}))"
        ).alias(f"mh_{i}")
        for i, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B))
    ]
    return based.select(F.col(id_col), *mh).select(
        id_col, F.array(*[f"mh_{i}" for i in range(NUM_HASHES)]).alias("minhash")
    )


def _bucket_id_pairs(
    rows: DataFrame, id_col: str, max_bucket_size: int | None = None
) -> DataFrame:
    """(id_a, id_b), id_a < id_b, for every two ids sharing a (band, key)
    bucket of ``rows``, each pair once — the bucket-aggregate enumerator
    for id-only text buckets. ONE hash aggregation collects each
    bucket's sorted member ids, then ordered pairs are projected from
    the array: the round-3 two-sided self-join shuffled AND sorted the
    banded rows twice for a merge join. The per-bucket array is bounded
    by the largest duplicate cluster (or by ``max_bucket_size``, a plain
    size filter), so collect_list never sees unbounded state."""
    buckets = (
        rows.groupBy("band", "key")
        .agg(F.sort_array(F.collect_list(id_col)).alias("_ids"))
        .filter(F.size("_ids") >= 2)
    )
    if max_bucket_size is not None:
        buckets = buckets.filter(F.size("_ids") <= max_bucket_size)
    return (
        buckets.select(
            F.explode(
                F.expr(
                    "flatten(transform(_ids, (x, i) ->"
                    " transform(slice(_ids, i + 2, size(_ids)),"
                    " y -> struct(x AS id_a, y AS id_b))))"
                )
            ).alias("p")
        )
        .select("p.id_a", "p.id_b")
        .dropDuplicates(["id_a", "id_b"])
    )


def _with_both_shingles(
    cand: DataFrame, shingles: DataFrame, id_col: str
) -> DataFrame:
    """``cand`` (id_a, id_b, ...) with each side's shingle array attached
    as ``sh_a`` and ``sh_b`` (two id equi-joins against ``shingles``, an
    (id_col, shingles) frame) — the exact verify every text pair
    operator scores."""
    return cand.join(
        shingles.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a")),
        "id_a",
    ).join(
        shingles.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b")),
        "id_b",
    )


def _jaccard() -> F.Column:
    """Exact Jaccard of the ``sh_a``/``sh_b`` shingle arrays."""
    return F.size(F.array_intersect("sh_a", "sh_b")) / F.size(
        F.array_union("sh_a", "sh_b")
    )


def minhash_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup candidate pairs from banded LSH, each verified with the
    exact shingle Jaccard (the n-gram-Jaccard stage): (id_a, id_b,
    jaccard). No all-pairs product ever forms — only same-band buckets
    join.

    ``max_bucket_size`` is the boilerplate guard for production corpora:
    a bucket holding B docs yields B·(B-1)/2 pairs, so one pathological
    bucket (a shared license header, an empty-page template) can
    dominate the whole job quadratically. Buckets above the cap are
    DROPPED — their members are near-identical to thousands of others
    and belong to a cluster-representative pass, not pair enumeration.
    Default None keeps exact pair semantics (the CORRECTNESS row's
    contract)."""
    cand = _bucket_id_pairs(
        band_index(docs, id_col, text_col), id_col, max_bucket_size
    )
    sh = with_shingles(docs, text_col).select(id_col, "shingles")
    return _with_both_shingles(cand, sh, id_col).select(
        "id_a", "id_b", _jaccard().alias("jaccard")
    )


def minhash_pairs_incremental(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket_size: int | None = None,
    corpus_bands: DataFrame | None = None,
) -> DataFrame:
    """Incremental near-dup detection: candidate pairs ONLY between a
    NEW batch and the existing corpus, plus within-batch pairs — never
    corpus × corpus. The daily-crawl production shape (the dedup twin of
    an IVF append): yesterday's 100 TB corpus is already deduped, so
    re-running ``minhash_pairs`` over the union re-pays the full
    pair-enumeration for pairs that cannot be new. Output
    (id_a, id_b, jaccard, pair_kind) with id_a < id_b and pair_kind ∈
    {'batch_batch', 'cross'} — exactly ``minhash_pairs`` over the union
    RESTRICTED to pairs touching the batch (same signatures, same
    bands; pinned in tests/test_dedup.py and by the oracle, which
    replays the full computation + the restriction).

    Precondition: corpus and batch doc ids are DISJOINT (a batch row
    re-using a corpus id is an upsert, not a new document). Self-pairs
    from a violating caller are filtered defensively, but duplicate ids
    would still fan out the shingle-verification joins.

    Plan: every batch-sized relation is broadcast and every corpus-sized
    one streams past it, so no exchange carries corpus rows. Candidates
    are ONE bucket join (``ann.bucket_pairs``) of the broadcast batch
    bands against corpus bands ∪ batch bands, each right row carrying
    whether it is a corpus row, then one dedup of the pairs — no
    corpus × corpus pair can form, since the left side is the batch.
    The verify streams the corpus text past the broadcast corpus ids of
    the cross candidates and shingles only the rows that match; those
    shingles and the batch's are broadcast into the two-sided verify
    (``_with_both_shingles``). At 100 TB the corpus band table is a
    write-once index maintained at ingest; here it is recomputed from
    the corpus text unless given. ``max_bucket_size`` drops every
    bucket holding more corpus ∪ batch rows, so the output is
    ``minhash_pairs(corpus ∪ batch, max_bucket_size=…)`` restricted to
    the batch.

    ``corpus_bands``: the MATERIALIZED corpus band index (the
    ``band_index_write`` layout, columns (id_col, band, key)) — when
    given, the corpus side is read from it VERBATIM and the corpus text
    is never re-shingled/re-hashed for banding (VERDICT r8 #3: the
    ingest-maintained write-once index, the dedup twin of
    ``ivf_write_clustered``); the corpus text is read only to shingle
    the cross candidates. When None, bands are recomputed from the
    corpus text (the raw-parquet fallback)."""
    if corpus_bands is None:
        corpus_bands = band_index(corpus, id_col, text_col)
    # a boolean payload marks the corpus rows: with a string one the
    # pair dedup is a sort aggregate, and AQE no longer sees the two
    # verify sides' broadcasts as one (each runs twice)
    mine = band_index(batch, id_col, text_col).withColumn("cross", F.lit(False))
    # id_a is the batch side; order="!=" drops an id found on both sides
    # (a caller breaking disjointness), which would pair with itself
    cand = ann.bucket_pairs(
        F.broadcast(mine),
        corpus_bands.select(
            id_col, "band", "key", F.lit(True).alias("cross")
        ).unionByName(mine),
        on=("band", "key"), id_col=id_col, payload=("cross",), order="!=",
        max_bucket_size=max_bucket_size,
    ).select("id_a", "id_b", F.col("cross_b").alias("cross"))
    cross_ids = cand.where(F.col("cross")).select(F.col("id_b").alias(id_col))
    hits = corpus.select(id_col, text_col).join(
        F.broadcast(cross_ids), id_col, "left_semi"
    )
    sh = with_shingles(
        hits.unionByName(batch.select(id_col, text_col)), text_col
    ).select(id_col, "shingles")
    # a within-batch pair is met from both of its sides: verify it once
    once = cand.where(F.col("cross") | (F.col("id_a") < F.col("id_b")))
    kind = F.when(F.col("cross"), "cross").otherwise("batch_batch")
    return _with_both_shingles(once, F.broadcast(sh), id_col).select(
        F.least("id_a", "id_b").alias("id_a"),
        F.greatest("id_a", "id_b").alias("id_b"),
        _jaccard().alias("jaccard"),
        kind.alias("pair_kind"),
    )

def band_index(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The corpus LSH band table as a relation: (id_col, band, key),
    NUM_HASHES/BAND_R rows per document — the candidate-generation side
    of every minhash operator, factored out so it can be PERSISTED."""
    keys = [
        F.concat_ws(
            "_",
            *[F.col("minhash").getItem(b * BAND_R + r).cast("string") for r in range(BAND_R)],
        )
        for b in range(NUM_HASHES // BAND_R)
    ]
    return ann.bucket_rows(
        minhash_signatures(docs, id_col, text_col), keys, [id_col], ("band", "key")
    )


def band_index_write(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    append: bool = False,
) -> None:
    """Materialize the corpus band index (VERDICT r8 #3): shingle +
    minhash + band the corpus ONCE at ingest and store (id, band, key)
    partitioned by band (``tables.write_layout``) — the write-once
    layout that turns every later incremental-dedup run's corpus side
    into a plain index SCAN instead of a full re-shingle/re-hash of the
    corpus text (the ``ivf_write_clustered`` contract for the dedup
    pillar). At 100 TB the index is ~6 small rows per document vs the
    document text, and the batch-vs-corpus candidate join reads it
    directly; a cluster deployment would additionally BUCKET each band
    partition by ``key`` so the join co-locates with zero corpus-side
    shuffle (relational.write_bucketed is that path).

    ``append=True`` adds a new batch's bands: banding is a pure
    per-document function of the text, so write(corpus) +
    append(batch) is row-for-row a full re-band of corpus ∪ batch
    (oracle-gated by ``dedup_index_write``'s summary row, pinned in
    tests/test_dedup.py) — O(batch) per ingest tick, never O(corpus)."""
    write_layout(band_index(docs, id_col, text_col), path, "band", append=append)


# Tracking params are matched ONLY at a [?&] boundary (ADVICE r9: the
# unanchored form matched tracking names EMBEDDED in longer param names
# — '?last_utm_source=a&page=2' fused into 'last_page=2', '?xfbclid=1'
# truncated to '?x' — silently collapsing distinct documents, and the
# mirrored oracle could not catch it). Two passes because a single
# delimiter-capturing pattern that also consumes the trailing '&'
# breaks on ADJACENT tracking params (the scan resumes past the
# consumed delimiter, so the second param keeps no [?&] anchor):
# pass 1 drops '&'-prefixed tracking params (left-to-right rescan
# handles adjacency), pass 2 rewrites a leading '?tracking=…&' to '?'.
# Both are RE2-safe (no lookaround/backrefs) for the DuckDB mirror.
TRACKING_AMP_RE = "&(utm_[a-z0-9]+|fbclid|gclid)=[^&]*"
TRACKING_QMARK_RE = "\\?(utm_[a-z0-9]+|fbclid|gclid)=[^&]*&?"


def url_canonicalize(url: F.Column) -> F.Column:
    """Canonical form of a crawl URL — the key web-corpus pipelines
    dedup fetches on BEFORE content dedup ever runs (the same page
    fetched as http/https, with/without www., trailing slash, fragment,
    or tracking query params is one document): lowercase → strip scheme
    → strip leading www. → strip the FRAGMENT → remove only the known
    TRACKING params (utm_*, fbclid, gclid), keeping semantic params
    (?page=2, ?id=...) — genuinely distinct documents must NOT collapse
    (ADVICE r8: the previous form dropped the whole query string and
    never stripped fragments, merging distinct pages and splitting true
    duplicates) → strip trailing slashes from the PATH only. Pure
    scan-fused string expressions; every regex here (anchored literals,
    alternation, character classes, greedy *) has identical semantics
    on Spark (Java regex, replace-all) and DuckDB (RE2 with the 'g'
    flag)."""
    c = F.lower(url)
    c = F.regexp_replace(c, "^https?://", "")
    c = F.regexp_replace(c, "^www\\.", "")
    # Fragment first: '#sec' variants of one page are one document, and
    # stripping it here keeps the param patterns below fragment-safe.
    c = F.substring_index(c, "#", 1)
    # Remove tracking params only at a [?&] boundary (two-pass — see
    # the TRACKING_*_RE comment), then clean a dangling '?'/'&' left
    # when tracking params were last (or the only) ones.
    c = F.regexp_replace(c, TRACKING_AMP_RE, "")
    c = F.regexp_replace(c, TRACKING_QMARK_RE, "?")
    c = F.regexp_replace(c, "[?&]+$", "")
    # Trailing-slash strip applies to the path, not a retained query.
    path = F.substring_index(c, "?", 1)
    query = F.when(
        c.contains("?"),
        F.concat(F.lit("?"), F.substring_index(c, "?", -1)),
    ).otherwise(F.lit(""))
    return F.concat(F.regexp_replace(path, "/+$", ""), query)


def dedup_url(
    docs: DataFrame, url_col: str = "url", id_col: str = "doc_id"
) -> DataFrame:
    """(canon_url, n_raw, n_distinct_raw, keeper_id) per canonical URL:
    group the corpus by ``url_canonicalize`` and keep the smallest id —
    the fetch-level dedup pass upstream of ``exact_dedup`` (bytes) and
    ``minhash_pairs`` (near-dup). One partial-combining hash aggregate;
    the canonical key is computed scan-fused, so the exchange carries
    canonical URLs, not raw variants."""
    return (
        docs.select(
            url_canonicalize(F.col(url_col)).alias("canon_url"),
            F.col(url_col).alias("_raw"),
            F.col(id_col),
        )
        .groupBy("canon_url")
        .agg(
            F.count(F.lit(1)).alias("n_raw"),
            F.countDistinct("_raw").alias("n_distinct_raw"),
            F.min(id_col).alias("keeper_id"),
        )
    )


def simhash(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """32-bit SimHash per document: per-token-occurrence hash bits vote
    ±1; bit j of the result is set iff the vote sum is positive.
    Explode → groupBy is partial-aggregable (the 32 sums combine
    map-side), so the shuffle carries one 32-int row per (doc,
    partition), not one row per token."""
    toks = docs.select(
        F.col(id_col), F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("tok")
    ).withColumn("h", F.expr(_base_hash_expr("tok")))
    votes = [
        F.sum(
            F.when(F.col("h").bitwiseAND(F.lit(1 << j)) != 0, 1).otherwise(-1)
        ).alias(f"v_{j}")
        for j in range(SIMHASH_BITS)
    ]
    voted = toks.groupBy(id_col).agg(*votes)
    sim = None
    for j in range(SIMHASH_BITS):
        bit = F.when(F.col(f"v_{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        sim = bit if sim is None else sim + bit
    return voted.select(F.col(id_col), sim.cast("bigint").alias("simhash"))


def embedding_pairs(
    vectors: DataFrame,
    threshold: float = 0.25,
    planes: np.ndarray | None = None,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs over LSH-bucket candidates:
    pairs co-located in any (table, signature) bucket, exact-scored,
    kept at cosine ≥ threshold. The self-join shuffles on bucket keys —
    never a cross product.

    ``max_bucket_size`` is the same boilerplate guard as
    ``minhash_pairs``: a signature bucket holding B near-identical
    vectors yields B·(B-1)/2 pairs (the 10× scale experiment shows the
    output-quadratic blowup on replicated embeddings), so production
    corpora cap the bucket and route oversized ones to
    ``dedup_assign``-style cluster representation instead of pair
    enumeration. Default None keeps exact pair semantics (the
    CORRECTNESS row's contract)."""
    from demo_pgvector_spark.functions.vector import cosine_similarity

    if planes is None:
        planes = ann.hyperplanes(dim)
    pairs = ann.bucket_pairs(
        ann.signature_rows(vectors, planes, [id_col, vec_col], vec_col),
        id_col=id_col,
        payload=[vec_col],
        max_bucket_size=max_bucket_size,
    )
    sim = cosine_similarity(F.col(f"{vec_col}_a"), F.col(f"{vec_col}_b"))
    return pairs.select("id_a", "id_b", sim.alias("cosine")).filter(
        F.col("cosine") >= F.lit(float(threshold))
    )


def dedup_assign(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iters: int = 20,
) -> DataFrame:
    """Resolve near-dup PAIRS into per-document keeper assignments — the
    stage a training-data pipeline actually runs after pair generation
    (drop every doc whose keeper_id differs from its own id).

    Connected components over the pair graph by iterative min-label
    propagation: every doc starts labeled with its own id; each round,
    every doc adopts the minimum label in its neighborhood (its own ∪
    graph neighbors); fixed point = each component labeled by its min
    id. Convergence needs at most ``diameter`` rounds — near-dup
    clusters are shallow (duplicates of one source are mutually paired
    by LSH, so diameters are small); the loop stops early when a round
    changes nothing (a count aggregate per round, driver receives one
    long).

    Each round is one shuffle keyed on ``id_col`` (edge join + min-agg);
    the edge list is the pair graph's undirected edge set
    (``graph._undirected``), materialized once. Min-label propagation
    alone converges in O(diameter) rounds — right for near-dup clusters
    (shallow by construction) but an adversarial CHAIN-shaped component
    of depth d needs d rounds. So from round 3 on (a component survived
    two plain rounds → it is deeper than the common case), every
    propagation round is followed by a POINTER-DOUBLING step:
    ``keeper(u) ← keeper(keeper(u))`` (labels self-join — keepers are
    themselves doc ids, so the lookup is total). Doubling halves label
    chain depth, so propagation + doubling converges in O(log d) rounds
    for any shape — the same guarantee class as alternating
    large/small-star CC, with one extra key-shuffle per round only on
    the rounds that need it. Exact and Python-free either way.

    Returns (id, keeper_id, is_keeper). Docs with no near-dup partner
    keep themselves.

    The rounds run at the session width; the edge pre-partition takes
    ``session.width_for(pairs)``.
    """
    # Materialized ONCE: every propagation round joins the edge set, and
    # without the checkpoint each round would re-run the upstream pair
    # generation (minhash/LSH — the expensive part) twice, once per
    # direction. LAZY: round 0's convergence-count job computes it,
    # caches the blocks, and truncates lineage at job end — an eager
    # checkpoint would spend a whole extra job on the same
    # materialization.
    edges = graph._undirected(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    labels = docs.select(F.col(id_col).alias("id")).withColumn(
        "keeper_id", F.col("id")
    )
    labels = _cc_rounds(edges, labels, max_iters)
    return labels.withColumn("is_keeper", F.col("id") == F.col("keeper_id"))


def _cc_rounds(edges: DataFrame, labels: DataFrame, max_iters: int) -> DataFrame:
    # edges is symmetric and pinned on src: each round joins on src and
    # sends the label to dst
    for rnd in range(max_iters):
        neighbor_min = (
            edges.join(labels, edges["src"] == labels["id"], "inner")
            .groupBy("dst")
            .agg(F.min("keeper_id").alias("_nbr_min"))
        )
        updated = (
            labels.join(neighbor_min, labels["id"] == neighbor_min["dst"], "left")
            .select(
                "id",
                F.least(
                    F.col("keeper_id"),
                    F.coalesce(F.col("_nbr_min"), F.col("keeper_id")),
                ).alias("keeper_id"),
                F.col("keeper_id").alias("_prev"),
            )
        )
        if rnd >= 2:  # deep component: accelerate with pointer doubling
            lut = updated.select(
                F.col("id").alias("_lid"), F.col("keeper_id").alias("_lkeeper")
            )
            updated = (
                updated.join(lut, updated["keeper_id"] == lut["_lid"], "left")
                .select(
                    "id",
                    F.least(
                        F.col("keeper_id"),
                        F.coalesce(F.col("_lkeeper"), F.col("keeper_id")),
                    ).alias("keeper_id"),
                    "_prev",
                )
            )
        # ONE action per round (VERDICT r6 #1): mark the round's result
        # for a LAZY local checkpoint, then run the convergence count on
        # it. That single count job materializes the checkpoint blocks
        # (lineage truncates when the job completes) AND returns the
        # changed-row count; the previous eager-checkpoint-then-count
        # shape paid two jobs per round — measured as the per-round
        # fixed-cost floor that made dedup_assign the slowest bench key.
        updated = updated.localCheckpoint(eager=False)
        changed = updated.filter(F.col("keeper_id") != F.col("_prev")).count()
        labels = updated.drop("_prev")
        if changed == 0:
            break
    return labels


def _rarity_ordered_grams(
    docs: DataFrame, k: int, id_col: str, text_col: str
) -> tuple[DataFrame, DataFrame]:
    """The exact n-gram operators' shared prep: ``grams`` (id_col,
    shingles) and ``per_doc`` (id_col, _ordered) — each document's
    xxhash64'd k-grams in one GLOBAL rarity order (document frequency
    asc, gram asc).

    The gram arrays feed THREE plan branches (df/prefix candidates +
    both verify sides). Materialize them once — the AllPairs systems'
    standard "tokenize first" pass (at ingest scale this is a persisted
    gram column, like PQ codes) — instead of recomputing the shingle
    projection per branch. And if the scan cannot fill the cluster (one
    small local file), spread the raw text rows first: a narrow
    corpus-row exchange, a no-op on a real lake layout with thousands of
    splits. Sizing is pure metadata — the input file listing against
    spark.sql.files.maxPartitionBytes, never a DataFrame→RDD conversion;
    remote files skip the probe and trust the lake layout."""
    spark = docs.sparkSession
    src = docs.select(id_col, text_col)
    if scan_splits(src) < spark.sparkContext.defaultParallelism:
        src = src.repartition(spark.sparkContext.defaultParallelism)
    grams = (
        with_shingles(src, text_col, k)
        .select(id_col, "shingles")
        .localCheckpoint(eager=False)
    )
    ex = grams.select(
        F.col(id_col), F.explode("shingles").alias("_gs")
    ).select(F.col(id_col), F.xxhash64("_gs").alias("g"))
    df = ex.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    per_doc = ex.join(df, "g").groupBy(id_col).agg(
        F.expr("transform(array_sort(collect_list(struct(df, g))), s -> s.g)")
        .alias("_ordered")
    )
    return grams, per_doc


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.3,
    k: int = SHINGLE_K,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """EXACT n-gram-Jaccard near-dup pairs via AllPairs prefix filtering
    (Bayardo/Ma/Srikant 2007; the PPJoin candidate rule) — the exact
    counterpart to ``minhash_pairs``' probabilistic LSH: every pair with
    Jaccard ≥ threshold is returned, guaranteed, with no all-pairs
    product and no hot-gram bucket blowup.

    Candidate rule: order every document's k-gram set by one GLOBAL
    rarity order (document frequency asc, gram asc); a pair with
    J(A,B) ≥ τ must collide inside the first |A| − ⌈τ·|A|⌉ + 1 grams of
    each side, so only those PREFIX grams are exploded into the
    inverted-index join. Common grams (boilerplate, stop-gram runs)
    land at the END of the order and never generate candidates — the
    hot-bucket pathology of a naive gram self-join is pruned by
    construction, not capped. Verification computes the exact Jaccard
    from the full gram arrays.

    Shuffles: gram-df aggregation (partial-combined), the df join back
    (by gram), one per-doc regroup, and the prefix self-join (by rare
    grams only). All key volumes are corpus-vocabulary-bounded; none is
    |docs|².

    Candidate generation runs on xxhash64'd grams — every join and
    aggregation key is 8 bytes, never a gram string. Treating collided
    grams as one pseudo-gram only MERGES set elements, which cannot
    lower Jaccard (intersection can only grow, union only shrink), so
    the prefix guarantee still holds and a collision at worst adds a
    spurious candidate that exact verification removes. The gram
    STRINGS appear only in the final full-array verify.

    The CORRECTNESS oracle is the BRUTE-FORCE all-shared-gram-pairs
    Jaccard in DuckDB — a strictly stronger check than replaying the
    algorithm: it proves the prefix filter lost no pair."""
    grams, per_doc = _rarity_ordered_grams(docs, k, id_col, text_col)
    # L = n − ⌈τ·n⌉ + 1 (⌈x⌉ via -floor(-x)). The 1e-9 epsilon matches
    # the under-prune-only convention of the two PPJoin bounds below: if
    # τ·n lands ULP-above an integer boundary in double, floor(-x+ε) can
    # only LENGTHEN the prefix — a short prefix could drop a true pair
    # (completeness break, ADVICE r5), a long one just costs a candidate.
    prefix = per_doc.select(
        F.col(id_col),
        F.size("_ordered").alias("n"),
        F.expr(
            f"slice(_ordered, 1, size(_ordered)"
            f" + cast(floor(-{threshold} * size(_ordered) + 1e-9) as int) + 1)"
        ).alias("_prefix"),
    )
    # PPJoin's two extra LOSSLESS filters ride the join condition, both
    # with an epsilon-relaxed double bound so rounding can only
    # UNDER-prune (a lost true pair would break the brute-force oracle):
    # - length: J ≥ τ forces τ·max(n_a,n_b) ≤ min(n_a,n_b);
    # - positional: for the pair's MINIMAL shared gram (which the
    #   AllPairs theorem puts inside both prefixes), every earlier gram
    #   on either side is unshared, so the overlap is capped by
    #   min(remaining_a, remaining_b) — and J ≥ τ needs overlap
    #   ≥ τ/(1+τ)·(n_a+n_b). Rows for non-minimal meetings may be
    #   dropped freely: the minimal meeting always survives.
    pg = prefix.select(
        F.col(id_col),
        "n",
        F.posexplode("_prefix").alias("_pos0", "g"),
    ).select(
        F.col(id_col), "n", F.col("g"), (F.col("n") - F.col("_pos0")).alias("_rem")
    )
    eps = 1e-9
    alpha = threshold / (1.0 + threshold)
    cand = (
        pg.alias("a")
        .join(
            pg.alias("b"),
            (F.col("a.g") == F.col("b.g"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            & (F.col("a.n") >= F.col("b.n") * threshold - eps)
            & (F.col("b.n") >= F.col("a.n") * threshold - eps)
            & (
                F.least(F.col("a._rem"), F.col("b._rem"))
                >= (F.col("a.n") + F.col("b.n")) * alpha - eps
            ),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        _with_both_shingles(cand, grams, id_col)
        .select("id_a", "id_b", F.round(_jaccard(), 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_containment_pairs(
    docs: DataFrame,
    threshold: float = 0.9,
    k: int = SHINGLE_K,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """EXACT n-gram CONTAINMENT pairs: every ORDERED pair (a, b) with
    C(a, b) = |grams(a) ∩ grams(b)| / |grams(a)| ≥ threshold — the
    asymmetric "a is mostly inside b" contract of suffix-array-style
    training-data dedup (subset/quote detection, where Jaccard misses a
    short document embedded in a long one).

    Same machinery as ``ngram_jaccard_pairs`` (global rarity order,
    xxhash64 8-byte keys, brute-force oracle proving zero lost pairs),
    with the prefix rule adapted to the asymmetric bound. Overlap must
    reach t = ⌈τ·n_a⌉, so:

    - the CONTAINED side explodes only its first n_a − ⌈τ·n_a⌉ + 1
      grams (pigeonhole: some shared gram sits in that prefix);
    - the CONTAINING side explodes ALL its grams — τ bounds nothing
      about n_b from above, and the minimal shared gram can sit
      anywhere in b (key volume = corpus gram volume, the same bound
      as the df aggregation — never |docs|²);
    - positional filter: at the pair's minimal shared gram every
      earlier gram on either side is unshared, so overlap ≤
      min(rem_a, rem_b), and the pair needs overlap ≥ τ·n_a;
    - length filter: overlap ≤ n_b forces n_b ≥ τ·n_a.

    Hash-collision safety is one-directional here: collisions merge set
    elements, so hashed intersection only grows and hashed n_a only
    shrinks — hashed containment ≥ true containment, every true pair
    still generates a candidate, and exact verification on the gram
    STRINGS removes any impostor. All epsilons under-prune only."""
    grams, per_doc = _rarity_ordered_grams(docs, k, id_col, text_col)
    contained = per_doc.select(
        F.col(id_col),
        F.size("_ordered").alias("n"),
        F.expr(
            f"slice(_ordered, 1, size(_ordered)"
            f" + cast(floor(-{threshold} * size(_ordered) + 1e-9) as int) + 1)"
        ).alias("_prefix"),
    ).select(
        F.col(id_col).alias("id_a"),
        F.col("n").alias("n_a"),
        F.posexplode("_prefix").alias("_pos0", "g"),
    ).select(
        "id_a", "n_a", "g", (F.col("n_a") - F.col("_pos0")).alias("_rem_a")
    )
    containing = per_doc.select(
        F.col(id_col).alias("id_b"),
        F.size("_ordered").alias("n_b"),
        F.posexplode("_ordered").alias("_pos0", "g"),
    ).select(
        "id_b", "n_b", "g", (F.col("n_b") - F.col("_pos0")).alias("_rem_b")
    )
    eps = 1e-9
    cand = (
        contained.join(
            containing,
            (contained["g"] == containing["g"])
            & (contained["id_a"] != containing["id_b"])
            & (F.col("n_b") >= F.col("n_a") * threshold - eps)
            & (
                F.least(F.col("_rem_a"), F.col("_rem_b"))
                >= F.col("n_a") * threshold - eps
            ),
        )
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    cont = F.size(F.array_intersect("sh_a", "sh_b")) / F.size("sh_a")
    return (
        _with_both_shingles(cand, grams, id_col)
        .select("id_a", "id_b", F.round(cont, 6).alias("containment"))
        .filter(F.col("containment") >= threshold)
    )


def semantic_assign(
    vectors: DataFrame,
    cents: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, vec, cluster, cent_cos) against DRIVER-KNOWN centroids — the
    SemDeDup partitioning stage (Abbas et al. 2023: cluster the corpus,
    then dedup WITHIN clusters so the pair stage is cluster-bounded,
    never |corpus|²).

    Same zero-shuffle inlined-literal projection as
    ``ivf.assign_clusters_inline`` (centroids pre-normalized driver-side,
    argmax dot = argmax cosine, ties to the lowest cid), plus the
    member's cosine to its OWN centroid (``cent_cos = max_dot / |v|``) —
    SemDeDup's keep rule ranks duplicates by exactly this value. One
    parsed SQL string, two projections (HOF lambdas are opaque to codegen
    CSE, so the scores array is materialized once and read twice).
    """
    scored = vectors.select(
        F.col(id_col),
        F.col(vec_col),
        F.expr(centroid_scores_sql(vec_col, cents)).alias("_scores"),
        F.expr(f"sqrt({dot_sql(vec_col, vec_col)})").alias("_norm"),
    )
    return scored.select(
        F.col(id_col),
        F.col(vec_col),
        F.expr("cast(array_position(_scores, array_max(_scores)) - 1 as int)").alias(
            "cluster"
        ),
        # zero vectors: every dot is 0, so assign to the first centroid
        # with cent_cos 0 instead of 0/0 = NaN (NaN would poison the
        # keeper min and compare differently across engines)
        F.expr("if(_norm > 0D, array_max(_scores) / _norm, 0D)").alias("cent_cos"),
    )


def semantic_pairs(
    assigned: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Within-cluster exact-cosine pairs (id_a < id_b, cosine ≥ τ) via an
    Arrow ``applyInPandas`` matmul — the one stage of SemDeDup where
    Python beats Catalyst by design: a cluster of n d-dim vectors needs
    the full n×n Gram matrix, which is ONE BLAS `M @ M.T` per cluster
    (milliseconds) versus n²/2 interpreted `aggregate(zip_with(...))`
    folds (the HOF cosine costs ~100× the BLAS row at cluster sizes the
    SemDeDup paper uses, ~2k members). The exchange is ONE shuffle keyed
    on `cluster` — candidate volume is Σ C(n_i, 2), bounded by the
    clustering, never |corpus|².

    Math matches the SQL/DuckDB convention bit-closely: float32 inputs
    widened to float64 BEFORE any product, cos = G_ij/√(G_ii·G_jj); the
    CORRECTNESS gate's τ-margin on this data (≥7.8e-6 at sf0.1, measured)
    is ~9 orders above the numpy-vs-serial-fold summation noise.
    """
    import pandas as pd

    tau = float(threshold)

    def _pairs(pdf: "pd.DataFrame") -> "pd.DataFrame":
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cosine": "float64"}
            )
        order = np.argsort(pdf[id_col].to_numpy())
        ids = pdf[id_col].to_numpy()[order]
        m = np.stack(pdf[vec_col].to_numpy()[order]).astype(np.float64)
        g = m @ m.T
        d = np.sqrt(np.outer(np.diag(g), np.diag(g)))
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = np.where(d > 0, g / d, 0.0)
        ia, ib = np.triu_indices(n, k=1)
        keep = cos[ia, ib] >= tau
        return pd.DataFrame(
            {
                "id_a": ids[ia[keep]].astype("int64"),
                "id_b": ids[ib[keep]].astype("int64"),
                "cosine": cos[ia[keep], ib[keep]],
            }
        )

    return assigned.select(id_col, vec_col, "cluster").groupBy("cluster").applyInPandas(
        _pairs, schema="id_a long, id_b long, cosine double"
    )


def semdedup(
    vectors: DataFrame,
    cents: list[list[float]],
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup end to end: cluster-bounded semantic-duplicate removal
    (Abbas et al. 2023, arXiv:2303.09540) — the embedding-space sibling
    of the lexical dedup family, and the method DataComp-scale pipelines
    run over CLIP/text embeddings at 100 TB.

    Stages: (1) zero-shuffle centroid assignment; (2) within-cluster
    exact-cosine pairs at τ via one BLAS matmul per cluster; (3)
    connected components over the pair graph (``dedup_assign``'s
    min-label + pointer-doubling loop — component id = min member id);
    (4) the SemDeDup keep rule: per component, KEEP the member with the
    LOWEST cosine to its cluster centroid (the least redundant example;
    the paper's choice) — ranked on the 6-dp ROUNDED value with id
    tiebreak so both engines rank on the identical double (the
    keyword_tfidf convention). Singletons keep themselves.

    Returns one row per vector: (id, cluster, component, keeper_id,
    is_keeper, cent_cos), cent_cos rounded to 6 dp.
    """
    assigned = semantic_assign(vectors, cents, id_col, vec_col)
    # The pair stage and the CC loop both consume `assigned`, and CC
    # re-evaluates its input once per propagation round — materialize the
    # projection once.
    assigned = assigned.localCheckpoint(eager=False)
    pairs = semantic_pairs(assigned, threshold, id_col, vec_col)
    # CC only over vertices that APPEAR in a pair (singletons trivially
    # keep themselves and would just pad every propagation round's label
    # exchange).
    verts = (
        pairs.select(F.col("id_a").alias(id_col))
        .union(pairs.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    comp = dedup_assign(verts, pairs, id_col=id_col).select(
        F.col("id").alias(id_col), F.col("keeper_id").alias("component")
    )
    labeled = (
        assigned.select(
            F.col(id_col), "cluster", F.round("cent_cos", 6).alias("cent_cos")
        )
        .join(comp, id_col, "left")
        .withColumn("component", F.coalesce("component", F.col(id_col)))
    )
    keep = labeled.groupBy("component").agg(
        F.min_by(F.col(id_col), F.struct("cent_cos", id_col)).alias("keeper_id")
    )
    return labeled.join(keep, "component").select(
        id_col,
        "cluster",
        "component",
        "keeper_id",
        (F.col(id_col) == F.col("keeper_id")).alias("is_keeper"),
        "cent_cos",
    )


# Token length of the positioned grams substring_pairs chains — every
# shared verbatim span of >= SUBSTR_GRAM_L tokens appears as a maximal
# run of consecutive gram hits, so this IS the reporting threshold
# (Lee et al. 2022 use 50 BPE tokens at web scale; the synthetic docs
# average ~54 whitespace tokens, so 12 keeps the operator exercised).
SUBSTR_GRAM_L = 12


def substring_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    gram_l: int = SUBSTR_GRAM_L,
) -> DataFrame:
    """EXACT-SUBSTRING dedup (Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better"): every maximal cross-document
    VERBATIM token span of length >= ``gram_l`` — the one dedup
    modality set-based Jaccard/MinHash (minhash_pairs/
    ngram_jaccard_pairs above) cannot express, because it needs gram
    POSITIONS, not gram sets. Output one row per maximal shared run:
    (id_a, id_b, start_a, start_b, span_len), 0-based token offsets,
    id_a < id_b.

    Distributed form of the paper's suffix-array scan: a positioned
    gram-chain index + diagonal run-merging —

    1. positioned grams: token i .. i+L-1 per document (one projection,
       all Catalyst HOFs: split → transform(sequence) → posexplode);
       docs shorter than L tokens contribute nothing;
    2. candidate hits: self-join on xxhash64(gram) with id_a < id_b —
       the shuffle key is 8 bytes, never the L-token string, and
       candidate volume is Σ_g c_g·(c_g−1)/2 over gram frequencies
       (GRAM-bounded: only documents sharing a verbatim L-gram ever
       meet — never |corpus|²; pinned in tests/test_dedup.py);
    3. run-merging: consecutive hits share a DIAGONAL (pos_a − pos_b);
       gaps-and-islands (pos_a − row_number per diagonal) merges them
       into maximal runs — a shared span of m tokens is exactly
       m−L+1 consecutive hits, reported as span_len = hits+L−1;
    4. exactness: runs are verified against the ORIGINAL token arrays
       (slice equality over the merged span), so an xxhash64 collision
       can only add a candidate that verification removes — the same
       contract as ngram_jaccard_pairs' verify stage.

    At 100 TB: step 1 is a narrow map over the corpus (at ingest scale
    the gram index is a persisted artifact, the band-index shape);
    step 2 shuffles 24-byte rows on an 8-byte key; step 3 shuffles
    only the hits (dup-pair-bounded); step 4 touches the corpus text
    again only for documents that actually share a span.

    Reference scope: the reference has no dedup at all (its UNIQUE
    constraint at config/init.sql:23 is metadata identity); this is
    pillar coverage per SURVEY §2.8."""
    spark = docs.sparkSession
    src = docs.select(id_col, text_col)
    if scan_splits(src) < spark.sparkContext.defaultParallelism:
        src = src.repartition(spark.sparkContext.defaultParallelism)
    # The token arrays feed FOUR plan branches (both candidate-join
    # sides + both verify sides) — materialize the projection once
    # (the ngram_jaccard_pairs "tokenize first" pass; at ingest scale
    # the positioned gram index is a persisted artifact, the
    # band-index shape) instead of re-scanning and re-splitting the
    # corpus per branch.
    toked = src.select(
        id_col, F.split(F.lower(F.col(text_col)), " ").alias("_toks")
    ).localCheckpoint(eager=False)
    grams = toked.select(
        id_col,
        F.posexplode(
            F.expr(
                f"CASE WHEN size(_toks) < {gram_l} "
                f"THEN array() "
                f"ELSE transform(sequence(0, size(_toks) - {gram_l}), "
                f"i -> concat_ws(' ', slice(_toks, i + 1, {gram_l}))) END"
            )
        ).alias("pos", "_gram"),
    ).select(id_col, "pos", F.xxhash64("_gram").alias("gh"))
    a = grams.select(
        F.col(id_col).alias("id_a"), F.col("pos").alias("pos_a"), "gh"
    )
    b = grams.select(
        F.col(id_col).alias("id_b"), F.col("pos").alias("pos_b"), "gh"
    )
    hits = a.join(b, "gh").where(F.col("id_a") < F.col("id_b"))
    from pyspark.sql import Window

    diag = (F.col("pos_a") - F.col("pos_b")).alias("_diag")
    w = Window.partitionBy("id_a", "id_b", "_diag").orderBy("pos_a")
    runs = (
        hits.select("id_a", "id_b", "pos_a", "pos_b", diag)
        .withColumn("_isl", F.col("pos_a") - F.row_number().over(w))
        .groupBy("id_a", "id_b", "_diag", "_isl")
        .agg(
            F.min("pos_a").cast("bigint").alias("start_a"),
            F.min("pos_b").cast("bigint").alias("start_b"),
            (F.count(F.lit(1)) + F.lit(gram_l - 1))
            .cast("bigint")
            .alias("span_len"),
        )
        .select("id_a", "id_b", "start_a", "start_b", "span_len")
    )
    # Exactness backstop: re-slice both token arrays over the merged
    # span and keep only byte-equal runs — O(runs), corpus text touched
    # only for documents that actually share a candidate span.
    ta = toked.select(F.col(id_col).alias("id_a"), F.col("_toks").alias("_ta"))
    tb = toked.select(F.col(id_col).alias("id_b"), F.col("_toks").alias("_tb"))
    return (
        runs.join(ta, "id_a")
        .join(tb, "id_b")
        .where(
            F.expr("slice(_ta, cast(start_a + 1 AS INT), cast(span_len AS INT))")
            == F.expr("slice(_tb, cast(start_b + 1 AS INT), cast(span_len AS INT))")
        )
        .select("id_a", "id_b", "start_a", "start_b", "span_len")
    )


def line_dedup(
    docs: DataFrame,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-wide LINE/paragraph deduplication — the CCNet §4.1 /
    C4 / Dolma boilerplate-removal step that runs BEFORE document-level
    dedup: a line whose normalized text (lower + trim) appears in
    ``min_docs`` or more DISTINCT documents is dropped from every
    document carrying it (navigation chrome, cookie banners, share
    footers — the per-page noise document-level near-dup cannot see);
    within-document repeats alone never trigger removal. Documents are
    reassembled with surviving lines in their original positions.

    Plan: posexplode lines ONCE (an eager localCheckpoint — the line
    relation feeds both the per-key verdict aggregate and the join
    probe side, and without it the corpus scan+explode runs once per
    branch; the plan pin counts exactly one Generate), count DISTINCT
    carrying documents per line key (one partial-combining aggregate),
    join the verdicts back (8-byte key equi-join), and ONE per-document
    aggregate computes n_lines, n_kept AND the reassembly together —
    the ordered fold keeps every line with its keep flag, sorts by
    position, filters, then joins (the agg_context_concat idiom, so
    reassembly order is engine-exact and all-dropped documents fall
    out as ('' , 0) with no extra pass).

    Line keys are 60-bit integers from the md5 bridge
    (``conv(substring(md5(line), 1, 15), 16, 10)`` — identical on any
    engine, so the DuckDB oracle groups on the same key; a collision
    could only MERGE two distinct lines, over-dropping, and at
    2^-60 per pair is unreachable at any tested scale — the
    xxhash64+exact-verify upgrade of the pair family applies if a
    pipeline must be collision-proof). Output: (doc_id, n_lines,
    n_kept, text_clean). No floats anywhere."""
    lines = (
        docs.select(
            F.col(id_col),
            F.posexplode(F.split(F.col(text_col), "\n")).alias(
                "pos", "_raw"
            ),
        )
        .select(
            id_col,
            "pos",
            F.col("_raw").alias("line"),
            F.expr(
                "cast(conv(substring(md5(lower(trim(_raw))), 1, 15), 16, 10)"
                " as bigint)"
            ).alias("_k"),
        )
        .localCheckpoint(eager=False)
    )
    per_key = lines.groupBy("_k").agg(
        F.countDistinct(id_col).alias("_ndocs")
    )
    flagged = lines.join(per_key, "_k").withColumn(
        "_keep", F.col("_ndocs") < min_docs
    )
    return flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("int").alias("n_lines"),
        F.sum(F.when(F.col("_keep"), 1).otherwise(0))
        .cast("int")
        .alias("n_kept"),
        F.expr(
            "array_join(transform(filter(array_sort("
            "collect_list(struct(pos, line, _keep))), s -> s._keep),"
            " s -> s.line), '\n')"
        ).alias("text_clean"),
    )
