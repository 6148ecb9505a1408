"""Multimodal columns: opaque binary media with typed metadata, decoded
and feature-extracted via Arrow-batched ``mapInPandas`` (LLM-pipeline
pillar 3 — extension; the reference is text-only).

Real image/audio codecs (PIL, torchaudio, ffmpeg) are NOT in this
container, so the external-codec path is an explicit stub
(``decode_external`` raises NotImplementedError). What IS real — and
tested — is everything Spark-side: the binary column plumbing, the
typed-metadata schema, the mapInPandas batch iteration (multiple Arrow
batches per partition), the 1-row→N-rows frame explosion, and a real
binary *decoder* for a deterministic container format (``SPKM``):

    IMG  header b'IMG|<w>|<h>|'  + w*h payload bytes (pixel intensities)
    AUD  header b'AUD|<rate>|<n>|' + n payload bytes (sample amplitudes)
    VID  header b'VID|<nframes>|' + nframes × 16-byte frames

Payload bytes are md5-chain-derived (seed || block index), so every
byte is reproducible by any engine from the row key alone — which is
what lets the DuckDB oracle verify the decoded statistics value-by-value
without being able to run the Python decoder: the CORRECTNESS rows prove
the Arrow decode path computes exactly what the spec says.

Scale notes: decode/feature-extract are per-row map work — no shuffle;
Arrow transfers payloads zero-copy per batch. Real deployments partition
by media id ranges so a single huge video cannot skew a partition, and
cap ``spark.sql.execution.arrow.maxRecordsPerBatch`` so batch_bytes ≈
rows × media_size stays in executor memory (the batch-shape test pins
multi-batch iteration).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from demo_pgvector_spark.operators import ann
from demo_pgvector_spark.tables import write_layout

MD5_BLOCK = 16  # bytes per md5 block


def _payload_expr(seed_prefix: str, n_bytes_expr: str) -> str:
    """SQL fragment: md5-chain payload of ≥ n bytes (whole blocks)."""
    return (
        f"unhex(concat_ws('', transform("
        f"sequence(0, cast(ceil(({n_bytes_expr}) / {MD5_BLOCK}.0) as int) - 1),"
        f" b -> md5(concat('{seed_prefix}:', cast(doc_id as string), ':', cast(b as string))))))"
    )


def fake_images(docs: DataFrame) -> DataFrame:
    """(doc_id, kind, content binary, width, height) — deterministic SPKM
    image blobs; dimensions derived from the row key."""
    w = "(4 + doc_id % 8)"
    h = "(3 + doc_id % 5)"
    return docs.select(
        "doc_id",
        F.lit("image").alias("kind"),
        F.expr(
            f"concat(encode(concat('IMG|', cast({w} as string), '|',"
            f" cast({h} as string), '|'), 'UTF-8'),"
            f" {_payload_expr('img', f'{w} * {h}')})"
        ).alias("content"),
        F.expr(f"{w}").alias("width"),
        F.expr(f"{h}").alias("height"),
    )


def fake_audio(docs: DataFrame) -> DataFrame:
    """(doc_id, kind, content binary, sample_rate, n_samples)."""
    n = "(32 + (doc_id % 4) * 16)"
    return docs.select(
        "doc_id",
        F.lit("audio").alias("kind"),
        F.expr(
            f"concat(encode(concat('AUD|16000|', cast({n} as string), '|'), 'UTF-8'),"
            f" {_payload_expr('aud', n)})"
        ).alias("content"),
        F.lit(16000).alias("sample_rate"),
        F.expr(f"{n}").alias("n_samples"),
    )


def fake_videos(docs: DataFrame) -> DataFrame:
    """(doc_id, kind, content binary, n_frames) — each frame one md5 block."""
    nf = "(2 + doc_id % 4)"
    return docs.select(
        "doc_id",
        F.lit("video").alias("kind"),
        F.expr(
            f"concat(encode(concat('VID|', cast({nf} as string), '|'), 'UTF-8'),"
            f" {_payload_expr('vid', f'{nf} * {MD5_BLOCK}')})"
        ).alias("content"),
        F.expr(f"{nf}").alias("n_frames"),
    )


def _split_header(blob: bytes, nfields: int) -> tuple[list[bytes], bytes]:
    parts = blob.split(b"|", nfields + 1)
    return parts[:-1], parts[-1]


def decode_images(media: DataFrame) -> DataFrame:
    """Decode SPKM image blobs: parse header, read w×h payload, emit
    pixel statistics. Real binary parsing over Arrow batches."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, blob in zip(pdf["doc_id"], pdf["content"]):
                (tag, w_b, h_b), payload = _split_header(bytes(blob), 2)
                assert tag == b"IMG", tag
                w, h = int(w_b), int(h_b)
                px = np.frombuffer(payload[: w * h], dtype=np.uint8)
                out.append(
                    (
                        int(doc_id),
                        w,
                        h,
                        int(px.size),
                        float(px.mean()),
                        int(px.max()),
                        int(px.min()),
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id", "width", "height", "n_pixels",
                    "mean_intensity", "max_intensity", "min_intensity",
                ],
            )

    return media.mapInPandas(
        decode,
        "doc_id long, width int, height int, n_pixels int,"
        " mean_intensity double, max_intensity int, min_intensity int",
    )


def resize_images(media: DataFrame, factor: int = 2) -> DataFrame:
    """Downsample by stride: keep every ``factor``-th pixel per axis and
    emit the resized dimensions + resized mean — the resize stage over
    the decoded pixel grid."""

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, blob in zip(pdf["doc_id"], pdf["content"]):
                (_, w_b, h_b), payload = _split_header(bytes(blob), 2)
                w, h = int(w_b), int(h_b)
                px = np.frombuffer(payload[: w * h], dtype=np.uint8).reshape(h, w)
                small = px[::factor, ::factor]
                out.append(
                    (
                        int(doc_id),
                        small.shape[1],
                        small.shape[0],
                        float(small.mean()),
                    )
                )
            yield pd.DataFrame(
                out, columns=["doc_id", "r_width", "r_height", "r_mean"]
            )

    return media.mapInPandas(
        resize, "doc_id long, r_width int, r_height int, r_mean double"
    )


def audio_features(media: DataFrame) -> DataFrame:
    """Amplitude statistics over the decoded sample stream."""

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, blob in zip(pdf["doc_id"], pdf["content"]):
                (tag, rate_b, n_b), payload = _split_header(bytes(blob), 2)
                assert tag == b"AUD", tag
                n = int(n_b)
                s = np.frombuffer(payload[:n], dtype=np.uint8).astype(np.float64)
                out.append(
                    (
                        int(doc_id),
                        int(rate_b),
                        n,
                        float(s.mean()),
                        float(np.sqrt((s**2).mean())),
                    )
                )
            yield pd.DataFrame(
                out, columns=["doc_id", "sample_rate", "n_samples", "mean_amp", "rms"]
            )

    return media.mapInPandas(
        feats,
        "doc_id long, sample_rate int, n_samples int, mean_amp double, rms double",
    )


def sample_frames(media: DataFrame, every: int = 1) -> DataFrame:
    """1 video row → N frame rows (every ``every``-th frame), each frame
    re-emitted as its hex digest — the frame-sampling table function."""

    def frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, blob in zip(pdf["doc_id"], pdf["content"]):
                (tag, nf_b), payload = _split_header(bytes(blob), 1)
                assert tag == b"VID", tag
                for f in range(0, int(nf_b), every):
                    frame = payload[f * MD5_BLOCK : (f + 1) * MD5_BLOCK]
                    out.append((int(doc_id), f, frame.hex()))
            yield pd.DataFrame(out, columns=["doc_id", "frame_no", "frame_hex"])

    return media.mapInPandas(frames, "doc_id long, frame_no int, frame_hex string")


def decode_external(media: DataFrame, codec: str) -> DataFrame:
    """Stub for real codecs (JPEG/PNG/WAV/MP4): the decode libraries are
    not available in this environment. The SPKM paths above carry the
    identical Spark plumbing (schema, mapInPandas signature, batch
    iteration); swapping this stub for PIL/torchaudio changes only the
    per-row byte parsing."""
    raise NotImplementedError(
        f"external codec {codec!r} requires an image/audio library not "
        "present in this environment; use the SPKM decoders or install "
        "PIL/torchaudio and implement the parse step here"
    )


# --- perceptual near-dup (VERDICT r9 #6): block-mean hash over the ---
# --- SPKM decode path feeding the banded pair machinery            ---

PHASH_GRID = 8  # 8x8 blocks of a 16x16 image -> 64-bit fingerprint
PHASH_BANDS = 8  # 8 bands x 8 bits (>= 1 band survives any <=7 flips)
PHASH_MAX_HAMMING = 3
# The fingerprint halves: the payload every candidate pair carries.
_FP = ("phash_lo", "phash_hi")

NEARDUP_GROUPS_MOD = 25
NEARDUP_MAX_ID = 200
NEARDUP_W = 16
NEARDUP_H = 16


def fake_images_neardup(
    docs: DataFrame,
    groups_mod: int = NEARDUP_GROUPS_MOD,
    max_id: int = NEARDUP_MAX_ID,
) -> DataFrame:
    """Deterministic 16×16 SPKM images with PLANTED near-duplicate
    structure: docs sharing ``doc_id % groups_mod`` share a base
    payload (md5 chain seeded by the GROUP, not the doc), and replica
    ``rep = doc_id // groups_mod`` overwrites ``2·rep`` payload bytes
    from offset 64 (the start of pixel row 4) with 0xFF. Each 2-byte
    step saturates one more 2×2 fingerprint block, so the expected
    Hamming distance between replicas i < j is Binomial(j−i, ½) — close
    replicas are perceptual near-dups, distant ones drift past the
    Hamming gate, and unrelated groups share no structure at all.
    Every byte is recomputable from the row key alone (the SPKM
    contract), which is what lets the DuckDB oracle replay the whole
    fingerprint without running the Python decoder."""
    g = f"(doc_id % {groups_mod})"
    rep = f"(doc_id div {groups_mod})"
    nblocks = NEARDUP_W * NEARDUP_H // MD5_BLOCK
    base = (
        f"unhex(concat_ws('', transform(sequence(0, {nblocks - 1}), "
        f"b -> md5(concat('imgnd:', cast({g} as string), ':', "
        f"cast(b as string))))))"
    )
    payload = (
        f"concat(substring({base}, 1, 64), "
        f"unhex(repeat('ff', {rep} * 2)), "
        f"substring({base}, 65 + {rep} * 2, {NEARDUP_W * NEARDUP_H}))"
    )
    return docs.filter(F.col("doc_id") < max_id).select(
        "doc_id",
        F.lit("image").alias("kind"),
        F.expr(
            f"concat(encode('IMG|{NEARDUP_W}|{NEARDUP_H}|', 'UTF-8'), {payload})"
        ).alias("content"),
        F.lit(NEARDUP_W).alias("width"),
        F.lit(NEARDUP_H).alias("height"),
    )


def image_blockhash(media: DataFrame, grid: int = PHASH_GRID) -> DataFrame:
    """(doc_id, phash_lo, phash_hi): DCT-free perceptual fingerprint
    over the SPKM decode path — split the pixel grid into
    ``grid``×``grid`` blocks (floor bounds; a degenerate empty block
    contributes bit 0) and set bit (by·grid+bx) iff the block mean
    exceeds the uint8 midpoint, compared INTEGER-exactly as
    2·block_sum > 255·n_block so any engine replays the bits without a
    float division. A FIXED threshold (not the global mean) keeps a
    localized edit's bit flips localized — a global-mean threshold
    couples every block to every pixel, which is exactly wrong for
    near-dup detection. The fingerprint is returned as two 32-bit
    halves so a 64-bit grid never touches the sign bit of a BIGINT on
    either engine."""

    def fingerprint(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, blob in zip(pdf["doc_id"], pdf["content"]):
                (tag, w_b, h_b), payload = _split_header(bytes(blob), 2)
                assert tag == b"IMG", tag
                w, h = int(w_b), int(h_b)
                px = np.frombuffer(payload[: w * h], dtype=np.uint8).reshape(
                    h, w
                ).astype(np.int64)
                phash = 0
                for by in range(grid):
                    r0, r1 = (by * h) // grid, ((by + 1) * h) // grid
                    for bx in range(grid):
                        c0, c1 = (bx * w) // grid, ((bx + 1) * w) // grid
                        blk = px[r0:r1, c0:c1]
                        if blk.size and 2 * int(blk.sum()) > 255 * blk.size:
                            phash |= 1 << (by * grid + bx)
                out.append(
                    (int(doc_id), phash & 0xFFFFFFFF, phash >> 32)
                )
            yield pd.DataFrame(
                out, columns=["doc_id", "phash_lo", "phash_hi"]
            )

    return media.mapInPandas(
        fingerprint, "doc_id long, phash_lo long, phash_hi long"
    )


def banded_fingerprints(
    fp: DataFrame, grid: int = PHASH_GRID, bands: int = PHASH_BANDS
) -> DataFrame:
    """(doc_id, phash_lo, phash_hi, band, key): the fingerprint table
    exploded into its ``bands`` equal bit-slices — the banded layout
    the pair join buckets on, and the schema the persisted phash index
    stores (phash_index_write). The fingerprint halves ride along so
    candidate VERIFICATION (exact Hamming) never has to re-decode the
    source binary — unlike the text band index, where verify must
    re-touch the corpus text for exact Jaccard, the 64-bit fingerprint
    IS the verification payload."""
    nbits = grid * grid
    assert nbits % bands == 0 and nbits <= 64
    r = nbits // bands
    half = nbits // 2  # bits below `half` live in phash_lo

    def band_key(b: int) -> str:
        lo_bit = b * r
        assert lo_bit // 32 == (lo_bit + r - 1) // 32, "band spans halves"
        src, off = (
            ("phash_lo", lo_bit) if lo_bit < half else ("phash_hi", lo_bit - half)
        )
        return f"(({src} >> {off}) & {(1 << r) - 1})"

    return ann.bucket_rows(
        fp,
        [F.expr(band_key(b)) for b in range(bands)],
        ["doc_id", *_FP],
        ("band", "key"),
    )


def _fingerprint_pairs(
    banded: DataFrame, index: DataFrame | None = None
) -> DataFrame:
    """Candidate pairs of ``banded`` fingerprint rows sharing a (band,
    key) bucket — among themselves, or against ``index`` (batch ×
    corpus, either side may hold the smaller id) — carrying both sides'
    fingerprint halves. The dedup groups on the halves too, so the
    Hamming gate pushes down into the join."""
    return ann.bucket_pairs(
        banded, index, on=("band", "key"), id_col="doc_id", payload=_FP,
        order="<" if index is None else "sorted", group_payload=True,
    )


def _verify_hamming(cand: DataFrame, max_hamming: int) -> DataFrame:
    """Exact-Hamming verification of banded candidates carrying both
    fingerprints: bit_count over both xor'd halves, then the gate."""
    return (
        cand.withColumn(
            "hamming",
            F.expr(
                "cast(bit_count(phash_lo_a ^ phash_lo_b)"
                " + bit_count(phash_hi_a ^ phash_hi_b) as int)"
            ),
        )
        .where(F.col("hamming") <= max_hamming)
    )


def phash_pairs(
    media: DataFrame,
    grid: int = PHASH_GRID,
    bands: int = PHASH_BANDS,
    max_hamming: int = PHASH_MAX_HAMMING,
) -> DataFrame:
    """Perceptual near-duplicate pairs: block-mean fingerprints fed
    through the banded pair machinery (the ``ann.bucket_pairs``
    self-join, carrying the fingerprint halves): split the
    ``grid²``-bit fingerprint into ``bands`` equal bands, hash-join
    same-band buckets (id_a < id_b — never an
    all-pairs product; ≤ ``max_hamming`` flipped bits corrupt at most
    ``max_hamming`` bands, so with max_hamming < bands at least one
    band survives and recall is EXACT), then verify with the exact
    Hamming distance (bit_count over both xor'd halves). Output
    (id_a, id_b, hamming)."""
    assert max_hamming < bands, "a pair could corrupt every band"
    # Fingerprint ONCE: both self-join sides (and the verify columns)
    # read the same 3-long-column table, so materialize it instead of
    # running the Arrow decode twice over the binaries — at ingest
    # scale this is the persisted fingerprint column, the band-index
    # shape.
    fp = image_blockhash(media, grid).localCheckpoint(eager=True)
    cand = _fingerprint_pairs(banded_fingerprints(fp, grid, bands))
    return _verify_hamming(cand, max_hamming).select("id_a", "id_b", "hamming")


def phash_index_write(
    media: DataFrame,
    path: str,
    grid: int = PHASH_GRID,
    bands: int = PHASH_BANDS,
    append: bool = False,
) -> None:
    """Materialize the corpus phash band index: decode + fingerprint
    the corpus ONCE at ingest and persist (doc_id, phash_lo, phash_hi,
    band, key) partitioned by band (``tables.write_layout``) — the mm
    twin of dedup.py's band_index_write, completing the
    ingest-maintained artifact family (IVF clusters, dedup bands,
    Z-order tiles, phash bands). At 100 TB the payoff is bigger than
    the text case: the expensive stage is the image DECODE, and because
    the stored fingerprint halves are also the verification payload, an
    incremental near-dup run served from this index never touches a
    corpus binary at all. ``append=True`` adds a batch: fingerprinting
    is a pure per-image function, so write(corpus) + append(batch) is
    row-for-row a full re-fingerprint of corpus ∪ batch (pinned in
    tests/test_multimodal.py), O(batch decodes) per ingest tick."""
    write_layout(
        banded_fingerprints(image_blockhash(media, grid), grid, bands),
        path,
        "band",
        append=append,
    )


def phash_pairs_incremental(
    batch_media: DataFrame,
    index: DataFrame,
    bands: int = PHASH_BANDS,
    grid: int = PHASH_GRID,
    max_hamming: int = PHASH_MAX_HAMMING,
) -> DataFrame:
    """Incremental perceptual near-dup: candidate pairs ONLY between a
    NEW image batch and the corpus phash index, plus within-batch
    pairs — never corpus × corpus, and the corpus binaries are NEVER
    decoded (the index's fingerprint halves are both the bucket key
    source and the exact-Hamming verification payload). The mm twin of
    dedup.py minhash_pairs_incremental, with a stronger at-scale
    claim: the text path must re-touch corpus text to verify exact
    Jaccard; this path's corpus side is the index scan, full stop.

    ``index``: the phash_index_write layout (doc_id, phash_lo,
    phash_hi, band, key). Precondition: batch and corpus doc ids are
    DISJOINT (same contract as minhash_pairs_incremental); equal-id
    cross hits are filtered defensively. Output (id_a, id_b, hamming,
    pair_kind) with id_a < id_b and pair_kind ∈ {'batch_batch',
    'cross'} — exactly phash_pairs over corpus ∪ batch RESTRICTED to
    pairs touching the batch (oracle replays the full computation plus
    the restriction)."""
    assert max_hamming < bands, "a pair could corrupt every band"
    b_fp = image_blockhash(batch_media, grid).localCheckpoint(eager=True)
    b_banded = banded_fingerprints(b_fp, grid, bands)
    # Within-batch pairs: the phash_pairs self-join over batch rows only.
    bb = _fingerprint_pairs(b_banded)
    # Cross pairs: batch bands hash-joined against the INDEX — the
    # corpus side is a partitioned-parquet scan of ~bands small rows
    # per image, no decode, no shuffle wider than the bucket hits.
    # Hamming is symmetric, so the fingerprint sides need not follow
    # the id ordering.
    idx = index.select(
        "doc_id", *_FP, F.col("band").cast("int").alias("band"), "key"
    )
    cross = _fingerprint_pairs(b_banded, idx)
    out_bb = _verify_hamming(bb, max_hamming).select(
        "id_a", "id_b", "hamming", F.lit("batch_batch").alias("pair_kind")
    )
    out_cross = _verify_hamming(cross, max_hamming).select(
        "id_a", "id_b", "hamming", F.lit("cross").alias("pair_kind")
    )
    return out_bb.unionByName(out_cross)


# ---------------------------------------------------------------------------
# Audio perceptual near-dup — the energy-sign fingerprint
# ---------------------------------------------------------------------------
#
# The audio twin of the image block-mean hash above, completing the
# modality bridge into the dedup pillar: the Haitsma-Kalker (ISMIR
# 2002) robust-hash SHAPE — bit k = [E_{k+1} > E_k] over consecutive
# frame ENERGIES — reduced to its deterministic integer core (no FFT
# bands: the SPKM payloads are synthetic, and energy differences are
# the part of the contract any engine can replay exactly). Energies are
# integer sums of squared uint8 samples, the comparisons integer, the
# 64 bits packed into the same two 32-bit halves the image fingerprint
# uses — so banding, pairing, and Hamming verification REUSE
# banded_fingerprints/_verify_hamming unchanged.

AUDIO_ND_SAMPLES = 256  # samples per planted container
AUDIO_ND_FRAMES = 65  # 65 frame energies -> 64 sign bits


def fake_audio_neardup(
    docs: DataFrame,
    groups_mod: int = NEARDUP_GROUPS_MOD,
    max_id: int = NEARDUP_MAX_ID,
) -> DataFrame:
    """Deterministic 256-sample SPKM audio with the SAME planted
    near-dup mechanics as fake_images_neardup (group-seeded md5-chain
    base payload, replica ``rep = doc_id // groups_mod`` overwrites
    ``2·rep`` bytes from offset 64 with 0xFF): consecutive saturated
    frames have EQUAL energies, so an edit flips sign bits only around
    its boundaries — replicas with close rep are near-dups, distant
    ones drift past the Hamming gate. Every byte recomputable from the
    row key (seed 'audnd:'), so the oracle replays samples→energies→
    bits without parsing a blob."""
    g = f"(doc_id % {groups_mod})"
    rep = f"(doc_id div {groups_mod})"
    n = AUDIO_ND_SAMPLES
    nblocks = n // MD5_BLOCK
    base = (
        f"unhex(concat_ws('', transform(sequence(0, {nblocks - 1}), "
        f"b -> md5(concat('audnd:', cast({g} as string), ':', "
        f"cast(b as string))))))"
    )
    payload = (
        f"concat(substring({base}, 1, 64), "
        f"unhex(repeat('ff', {rep} * 2)), "
        f"substring({base}, 65 + {rep} * 2, {n}))"
    )
    return docs.filter(F.col("doc_id") < max_id).select(
        "doc_id",
        F.lit("audio").alias("kind"),
        F.expr(
            f"concat(encode('AUD|16000|{n}|', 'UTF-8'), {payload})"
        ).alias("content"),
        F.lit(16000).alias("sample_rate"),
        F.lit(n).alias("n_samples"),
    )


def audio_energyhash(
    media: DataFrame, frames: int = AUDIO_ND_FRAMES
) -> DataFrame:
    """(doc_id, phash_lo, phash_hi): 64 energy-sign bits — frame i is
    samples [floor(i·n/frames), floor((i+1)·n/frames)), E_i the integer
    sum of squared samples, bit k set iff E_{k+1} > E_k. Column names
    match the image fingerprint so the banded machinery is shared."""

    def fingerprint(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, blob in zip(pdf["doc_id"], pdf["content"]):
                (tag, _rate, n_b), payload = _split_header(bytes(blob), 2)
                assert tag == b"AUD", tag
                n = int(n_b)
                s = np.frombuffer(payload[:n], dtype=np.uint8).astype(
                    np.int64
                )
                bounds = [(i * n) // frames for i in range(frames + 1)]
                en = [
                    int((s[bounds[i] : bounds[i + 1]] ** 2).sum())
                    for i in range(frames)
                ]
                h = 0
                for k in range(frames - 1):
                    if en[k + 1] > en[k]:
                        h |= 1 << k
                out.append((int(doc_id), h & 0xFFFFFFFF, h >> 32))
            yield pd.DataFrame(
                out, columns=["doc_id", "phash_lo", "phash_hi"]
            )

    return media.mapInPandas(
        fingerprint, "doc_id long, phash_lo long, phash_hi long"
    )


def audiohash_pairs(
    media: DataFrame,
    bands: int = PHASH_BANDS,
    max_hamming: int = PHASH_MAX_HAMMING,
) -> DataFrame:
    """Audio near-duplicate pairs: energy-sign fingerprints through the
    SAME banded machinery as phash_pairs (fingerprint once →
    band-bucket join, id_a < id_b → exact bit_count Hamming verify).
    Recall is EXACT for ≤ max_hamming flips by the same band-survival
    argument."""
    assert max_hamming < bands
    fp = audio_energyhash(media).localCheckpoint(eager=True)
    cand = _fingerprint_pairs(banded_fingerprints(fp, PHASH_GRID, bands))
    return _verify_hamming(cand, max_hamming).select(
        "id_a", "id_b", "hamming"
    )
