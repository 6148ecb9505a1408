"""Multimodal plumbing tests (operators/multimodal.py): decode
round-trips, resize vs numpy, multi-Arrow-batch iteration, 1→N frame
explosion, and the explicit external-codec stub."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from demo_pgvector_spark.operators import multimodal as mm


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(
        [(i,) for i in range(40)], "doc_id long"
    ).cache()


def _expected_pixels(doc_id: int) -> np.ndarray:
    w, h = 4 + doc_id % 8, 3 + doc_id % 5
    blocks = -(-(w * h) // 16)
    raw = b"".join(
        hashlib.md5(f"img:{doc_id}:{b}".encode()).digest() for b in range(blocks)
    )
    return np.frombuffer(raw[: w * h], dtype=np.uint8).reshape(h, w)


def test_decode_matches_spec(spark, docs_df):
    media = mm.fake_images(docs_df).select("doc_id", "content")
    rows = {r["doc_id"]: r for r in mm.decode_images(media).collect()}
    for doc_id in (0, 7, 23):
        px = _expected_pixels(doc_id)
        r = rows[doc_id]
        assert (r["width"], r["height"]) == (px.shape[1], px.shape[0])
        assert r["n_pixels"] == px.size
        assert r["mean_intensity"] == pytest.approx(float(px.mean()))
        assert r["max_intensity"] == int(px.max())


def test_resize_matches_numpy_stride(spark, docs_df):
    media = mm.fake_images(docs_df).select("doc_id", "content")
    rows = {r["doc_id"]: r for r in mm.resize_images(media, factor=2).collect()}
    for doc_id in (0, 13, 31):
        small = _expected_pixels(doc_id)[::2, ::2]
        r = rows[doc_id]
        assert (r["r_width"], r["r_height"]) == (small.shape[1], small.shape[0])
        assert r["r_mean"] == pytest.approx(float(small.mean()))


def test_multiple_arrow_batches(spark, docs_df):
    """The decoder must be correct when a partition spans several Arrow
    batches — the 100 TB batch shape, forced here with a tiny batch cap."""
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        media = mm.fake_images(docs_df).repartition(2).select("doc_id", "content")
        out = mm.decode_images(media)
        assert out.count() == 40
        assert out.select(F.sum("n_pixels")).first()[0] == sum(
            (4 + i % 8) * (3 + i % 5) for i in range(40)
        )
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_frame_sampling_explodes_rows(spark, docs_df):
    media = mm.fake_videos(docs_df).select("doc_id", "content")
    out = mm.sample_frames(media).collect()
    assert len(out) == sum(2 + i % 4 for i in range(40))
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc_id, frames in by_doc.items():
        assert sorted(f["frame_no"] for f in frames) == list(range(2 + doc_id % 4))
        for f in frames:
            want = hashlib.md5(f"vid:{doc_id}:{f['frame_no']}".encode()).hexdigest()
            assert f["frame_hex"] == want


def test_frame_sampling_stride(spark, docs_df):
    media = mm.fake_videos(docs_df.filter(F.col("doc_id") == 3)).select(
        "doc_id", "content"
    )  # doc 3 → 5 frames
    out = mm.sample_frames(media, every=2).collect()
    assert sorted(r["frame_no"] for r in out) == [0, 2, 4]


def test_external_codec_is_explicit_stub(spark, docs_df):
    media = mm.fake_images(docs_df)
    with pytest.raises(NotImplementedError, match="jpeg"):
        mm.decode_external(media, "jpeg")


def test_blockhash_fixed_threshold_keeps_edits_local(spark):
    """image_blockhash: a localized pixel edit flips only the edited
    blocks' bits — the fixed uint8-midpoint threshold decouples blocks
    (a global-mean threshold would let one bright patch flip bits
    anywhere in the image)."""
    w = h = 16
    dark = bytes([10] * (w * h))
    lit = bytearray(dark)
    for j in range(64, 68):  # pixels (row 4, cols 0-3): blocks 16,17
        lit[j] = 255

    def img(doc_id, payload):
        return (doc_id, b"IMG|16|16|" + bytes(payload))

    df = spark.createDataFrame(
        [img(1, dark), img(2, bytes(lit))], "doc_id long, content binary"
    )
    fp = {r["doc_id"]: (r["phash_lo"], r["phash_hi"])
          for r in mm.image_blockhash(df).collect()}
    assert fp[1] == (0, 0)  # all-dark image: no bit set
    lo, hi = fp[2]
    assert hi == 0 and lo == (1 << 16) | (1 << 17)  # exactly blocks 16,17


def test_phash_pairs_banded_recall_is_exact(spark):
    """phash_pairs: every pair within the Hamming gate is found (<=3
    flips leave >=5 of 8 bands intact) and pairs past the gate are
    dropped by verification, not by candidate loss."""
    w = h = 16
    base = bytes([10] * (w * h))

    def edit(n):  # saturate the first n 2x2 blocks of row 4
        b = bytearray(base)
        for k in range(n):
            for j in (64 + 2 * k, 65 + 2 * k, 80 + 2 * k, 81 + 2 * k):
                b[j] = 255
        return bytes(b)

    rows = [(i, b"IMG|16|16|" + edit(i)) for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, content binary")
    got = {(r["id_a"], r["id_b"]): r["hamming"]
           for r in mm.phash_pairs(df).collect()}
    # doc i has exactly i saturated blocks -> hamming(i, j) = j - i
    expected = {(i, j): j - i for i in range(6) for j in range(i + 1, 6)
                if j - i <= 3}
    assert got == expected


def test_fake_images_neardup_payload_contract(spark):
    """The planted corpus honors the SPKM spec: fixed 16x16 header,
    exactly 256 payload bytes at every replica, group-shared base
    bytes outside the splice, and the 0xFF splice where the spec says."""
    docs = spark.createDataFrame(
        [(i,) for i in range(60)], "doc_id long"
    )
    rows = {r["doc_id"]: bytes(r["content"])
            for r in mm.fake_images_neardup(docs).collect()}
    assert set(rows) == set(range(60))
    for d, blob in rows.items():
        assert blob.startswith(b"IMG|16|16|") and len(blob) == 10 + 256
    b0, b25, b50 = rows[0][10:], rows[25][10:], rows[50][10:]
    assert b25[64:66] == b"\xff\xff" and b50[64:68] == b"\xff" * 4
    assert b0[:64] == b25[:64] == b50[:64]  # shared base before splice
    assert b0[66:] == b25[66:] and b0[68:] == b50[68:]  # after splice


def test_phash_index_append_equals_rebuild(spark, tmp_path):
    """write(first half) + append(second half) is row-for-row identical
    to a one-shot write of the union: fingerprinting is a pure
    per-image function (the band index's append argument)."""
    docs = spark.createDataFrame([(i,) for i in range(80)], "doc_id long")
    media = mm.fake_images_neardup(docs)
    full, inc = str(tmp_path / "full"), str(tmp_path / "inc")
    mm.phash_index_write(media, full)
    mm.phash_index_write(media.filter(F.col("doc_id") < 40), inc)
    mm.phash_index_write(media.filter(F.col("doc_id") >= 40), inc, append=True)
    cols = ["doc_id", "phash_lo", "phash_hi", "band", "key"]
    a = sorted(tuple(r) for r in spark.read.parquet(full).select(cols).collect())
    b = sorted(tuple(r) for r in spark.read.parquet(inc).select(cols).collect())
    assert a == b and len(a) == 80 * 8


def test_phash_incremental_equals_full_restricted(spark, tmp_path):
    """The index-served incremental pairs are EXACTLY phash_pairs over
    corpus ∪ batch restricted to batch-touching pairs, with the right
    pair_kind tags — nothing lost, nothing invented."""
    docs = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
    media = mm.fake_images_neardup(docs)
    corpus = media.filter(F.col("doc_id") % 10 != 0)
    batch = media.filter(F.col("doc_id") % 10 == 0)
    p = str(tmp_path / "idx")
    mm.phash_index_write(corpus, p)
    got = {
        (r["id_a"], r["id_b"]): (r["hamming"], r["pair_kind"])
        for r in mm.phash_pairs_incremental(
            batch, spark.read.parquet(p)
        ).collect()
    }
    full = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in mm.phash_pairs(media).collect()
    }
    want = {
        k: (v, "batch_batch" if k[0] % 10 == 0 and k[1] % 10 == 0 else "cross")
        for k, v in full.items()
        if k[0] % 10 == 0 or k[1] % 10 == 0
    }
    assert got == want and any(
        kind == "batch_batch" for _, kind in got.values()
    ) and any(kind == "cross" for _, kind in got.values())


def test_phash_incremental_trusts_index(spark, tmp_path):
    """Hand-tampering one corpus fingerprint in the index shifts the
    served pairs — proving the operator reads the index VERBATIM and
    never re-decodes a corpus binary (the dedup_incremental_indexed
    tampered-index pin, mm edition)."""
    docs = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
    media = mm.fake_images_neardup(docs)
    corpus = media.filter(F.col("doc_id") % 10 != 0)
    batch = media.filter(F.col("doc_id") % 10 == 0)
    p = str(tmp_path / "idx")
    mm.phash_index_write(corpus, p)
    idx = spark.read.parquet(p)
    honest = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in mm.phash_pairs_incremental(batch, idx).collect()
    }
    # flip one fingerprint bit on every corpus row of one near-dup group
    tampered = idx.withColumn(
        "phash_lo",
        F.when(
            F.col("doc_id") % 25 == 5, F.expr("phash_lo ^ 1")
        ).otherwise(F.col("phash_lo")),
    )
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in mm.phash_pairs_incremental(batch, tampered).collect()
    }
    assert got != honest
    # and the shift is exactly on group-5 cross pairs' hamming
    changed = {k for k in set(honest) | set(got) if honest.get(k) != got.get(k)}
    assert changed and all(
        k[0] % 25 == 5 or k[1] % 25 == 5 for k in changed
    )


def test_audio_energyhash_matches_python_reference(spark):
    """audio_energyhash vs a pure-Python replay over the planted
    corpus: identical fingerprints, and adjacent replicas of a group
    are near-dups while distant ones drift."""
    import hashlib

    docs = spark.range(0, 50).selectExpr("id as doc_id", "'' as text")
    media = mm.fake_audio_neardup(docs)
    got = {
        r["doc_id"]: (r["phash_lo"], r["phash_hi"])
        for r in mm.audio_energyhash(media).collect()
    }

    def py_fp(doc_id):
        g, rep = doc_id % 25, doc_id // 25
        base = b"".join(
            bytes.fromhex(hashlib.md5(f"audnd:{g}:{b}".encode()).hexdigest())
            for b in range(16)
        )
        payload = base[:64] + b"\xff" * (2 * rep) + base[64 + 2 * rep:256]
        s = list(payload[:256])
        bounds = [(i * 256) // 65 for i in range(66)]
        en = [
            sum(x * x for x in s[bounds[i]: bounds[i + 1]])
            for i in range(65)
        ]
        h = 0
        for k in range(64):
            if en[k + 1] > en[k]:
                h |= 1 << k
        return h & 0xFFFFFFFF, h >> 32

    for doc_id in range(50):
        assert got[doc_id] == py_fp(doc_id), doc_id

    def hamming(a, b):
        return bin((a[0] ^ b[0]) | ((a[1] ^ b[1]) << 32)).count("1")

    # replicas 0 and 1 of group 3: one 2-byte edit -> small Hamming
    assert hamming(got[3], got[28]) <= 3


def test_audiohash_pairs_find_planted_neighbors(spark):
    docs = spark.range(0, 200).selectExpr("id as doc_id", "'' as text")
    media = mm.fake_audio_neardup(docs)
    pairs = {
        (r["id_a"], r["id_b"])
        for r in mm.audiohash_pairs(media).collect()
    }
    # all pairs are within-group (cross-group collisions verified away)
    assert all(a % 25 == b % 25 for a, b in pairs)
    # every adjacent-replica pair of every group is found
    for g in range(25):
        for rep in range(7):
            assert (g + 25 * rep, g + 25 * (rep + 1)) in pairs, (g, rep)
