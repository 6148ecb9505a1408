"""Shared synthetic-fixture constants for the query registry.

The testdata tables (TESTDATA.md) carry no file paths, sidecar metadata,
or chunking parameters, so the registry derives them deterministically;
both the Spark queries (registry.py) and the DuckDB oracle SQL
(oracles.py) must synthesize EXACTLY the same values, which is why these
constants live in a module both can import without circularity.
"""

from __future__ import annotations


QUERY_VEC_ID = 0

_EXTS = ("txt", "epub", "md", "bin")

_SIDECARS = [
    (f"src{n}", f"author_{n}", "fiction" if n % 4 == 0 else "nonfiction")
    for n in range(0, 20, 2)
]

_TS_FMT = "yyyy-MM-dd HH:mm:ss"

_CHUNK_TOKENS = 32  # testdata docs are 10-100 words; 32 exercises 1-4 chunks

_BPE_CHUNK_TOKENS = 24  # ~18 words/chunk on the 10-100-word testdata docs

_SOURCE_COLS = (
    "author title source_type url genre subgenre year model_id".split()
)

RAG_PROMPT = "what do the Archives say about windows and sorting?"

# Edit-distance fuzzy join (join_edit_distance): the testdata has no
# realistic entity-name column (PLANS.md r6 deferral), so the row
# synthesizes one deterministically from c_custkey — three word wheels
# whose entries are deliberate near-misses of each other (1-2 character
# edits), composed as w1-w2-w3. Coprime wheel sizes (7/11/13) cycle
# through 1001 combinations, so the name population has exact
# duplicates, single-wheel near-misses, and cross-wheel compound edits.
# Both engines must synthesize EXACTLY these strings.
FUZZY_W1 = ("stone", "store", "shore", "share", "spare", "scare", "stare")
FUZZY_W2 = (
    "plane", "plant", "plate", "place", "plain", "blade",
    "brake", "crane", "crate", "grape", "graph",
)
FUZZY_W3 = (
    "light", "night", "sight", "right", "tight", "fight", "might",
    "eight", "mount", "count", "court", "short", "shirt",
)
FUZZY_TAU = 2
FUZZY_MAX_KEY = 2000

# Graph analytics (graph_pagerank): the part→supplier edge list from
# lineitem; supplier node ids are offset into their own id space so the
# two BIGINT key domains cannot collide. Fixed iteration count keeps the
# whole computation one deterministic unrolled plan on both engines.
PAGERANK_ITERS = 5

# The iterative graph keys' loop width is no registry-side constant:
# operators/graph.py takes session.width_for(edges), so the same
# declared queries run narrow at bench scale and wide on a lake-scale
# input.
SUPP_NODE_OFFSET = 10_000_000

# graph_triangles: the part co-order graph (two parts linked iff they
# appear in the same order) is dense at full fan-out — ~6 pairs per
# 4-line order; thinning to lines with l_quantity > TRI_QTY_MIN keeps
# the wedge volume proportionate while leaving a rich triangle
# population. Both engines build edges from the same predicate.
TRI_QTY_MIN = 25

# graph_lpa: synchronous label propagation over the SAME co-order part
# graph as graph_triangles (unipartite — on the bipartite part—supplier
# graph synchronous LPA just oscillates sides); smallest-label tie
# break, fixed rounds.
LPA_ITERS = 3

# graph_bfs: hop distance from the "vetted seed" supplier set
# (s_suppkey % BFS_SEED_MOD == 0, offset into the shared node id space)
# over the UNDIRECTED part—supplier graph, bounded at BFS_MAX_HOPS.
BFS_SEED_MOD = 50
BFS_MAX_HOPS = 4

# sample_priority: exact-k weighted sample (Duffield-Lund-Thorup
# priority sampling) over documents weighted by n_chars.
PRIORITY_K = 100
PRIORITY_SALT = "r7"

# ts_resample: hourly forward-fill resampling over a deterministic
# user slice (user_id % TS_USER_MOD == 0 — 8 users at sf0.1, ~720 grid
# points each over the 30-day event span; the slice keeps the gate's
# collected grid proportionate while replicas still scale it linearly).
TS_USER_MOD = 199

# vec_mmr_rerank: MMR diversity re-rank over the embeddings table with
# the canonical query vector (QUERY_VEC_ID); λ as an exact binary
# fraction so λ·simq and (1−λ)·maxp are identical IEEE products on
# both engines.
MMR_POOL = 20
MMR_K = 8
MMR_LAMBDA = 0.5

# layout_zorder: Morton-curve layout over (l_partkey, l_suppkey);
# buckets = top ZORDER_BUCKET_BITS bits of the 32-bit code (the files a
# ZORDER-compacted write would produce). 16 because the testdata keys
# only occupy the code's LOW ~21-30 bits (partkey ≤ 20k, suppkey ≤ 1k):
# a top-8 split put every sf0.01 row in bucket 0, gating nothing; a
# 16-bit split yields ~30-4000 buckets across sf0.01-sf0.1.
ZORDER_BUCKET_BITS = 16
# dedup_incremental: the corpus/batch split — doc_id % MOD == 0 is the
# newly-arrived batch (~10%), the rest the already-deduped corpus.
DEDUP_BATCH_MOD = 10
# join_interval: pure interval-overlap join (no equi key) — shipment
# activity windows from orders (day index from 1992-01-01, length
# o_orderkey %% 30) against synthesized promo windows from part (start
# (p_partkey*7) %% 2400, length 10 + p_partkey %% 45). Grid cell 64
# days: every interval touches <= 2 cells.
IOJ_A_MOD = 20
IOJ_B_MOD = 10
IOJ_CELL = 64
# sketch_countmin: probe set for the frequency-estimate row — the
# distinct user_ids with user_id %% CM_PROBE_MOD == 0 (~8%% of keys).
CM_PROBE_MOD = 13
# layout_zorder_pruned: the rectangle query against the z-ordered
# layout — [x_lo, x_hi] × [y_lo, y_hi] over (l_partkey, l_suppkey).
# Deliberately UNALIGNED to the 256-wide tiles (300..700 spans x-tiles
# 1-2 mid-tile) so the pruned scan proves both the tile enumeration and
# the residual row filter; prunes 8 → 2 dirs at sf0.01.
ZORDER_BOX = (300, 700, 20, 60)
# src_sniff_magic: deterministic binary-container lanes (doc_id %% 8) —
# each document's text wrapped behind one public magic signature
# (container hex = lane header hex + hex(utf8(text))), exercising every
# sniff rule: PDF, PNG, JPEG, GZIP, EPUB (zip + OCF 'mimetype' first
# entry at byte offset 30), non-EPUB zip, HTML doctype, raw text. The
# claimed extension cycles INDEPENDENTLY ((doc_id // 8) %% 4 over
# _EXTS), so extension and content disagree on most rows both ways.


def _sniff_ascii_hex(s: str) -> str:
    return "".join(f"{b:02X}" for b in s.encode())


SNIFF_LANE_HEADERS = (
    "255044462D312E34",  # %PDF-1.4
    "89504E470D0A1A0A",  # PNG
    "FFD8FFE000104A464946",  # JPEG/JFIF
    "1F8B0800",  # gzip
    "504B0304" + "00" * 26 + _sniff_ascii_hex("mimetypeapplication/epub+zip"),
    "504B0304" + "00" * 26 + _sniff_ascii_hex("content.xml"),
    _sniff_ascii_hex("<!DOCTYPE html><p>"),
    "",  # raw text — the plaintext fallback lane
)
SNIFF_LANE_MIMES = (
    "application/pdf",
    "image/png",
    "image/jpeg",
    "application/gzip",
    "application/epub+zip",
    "application/zip",
    "text/html",
    "text/plain",
)
# text_dsir: DSIR importance resampling (Xie et al. 2023) — hashed
# bigram buckets, add-1 smoothing, target domain = the four sources
# below, raw pool = every other document; top-K selection.
DSIR_BUCKETS = 4096
DSIR_TARGET_SRCS = ("src0", "src1", "src2", "src3")
DSIR_K = 50
# vec_filtered_topk: filtered ANN with iterative probe expansion
# (pgvector 0.8 iterative_scan) — the metadata predicate is
# label = FILTERED_LABEL (~10% selectivity on the synthetic labels);
# the probe set is the minimal prefix of the centroid-distance order
# whose survivor count reaches FILTERED_K, starting at
# FILTERED_NPROBE0 clusters and doubling.
FILTERED_LABEL = 7
FILTERED_K = 10
FILTERED_NPROBE0 = 2
