"""Count-min sketch (operators/sketch.py): overestimate guarantee,
exactness under no-collision, and cell-wise mergeability — the property
that makes the sketch an ingest-maintained artifact at scale."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from demo_pgvector_spark.operators import sketch

ITEMS = [i % 7 for i in range(200)] + [999] * 50 + list(range(100, 120))


def _df(spark, items):
    return spark.createDataFrame([(x,) for x in items], "item long")


def test_estimates_overapproximate_and_hit_exact_without_collisions(spark):
    df = _df(spark, ITEMS)
    sk = sketch.countmin_build(df, "item")
    probes = df.select("item").distinct()
    est = {
        r["item"]: r["est"]
        for r in sketch.countmin_estimate(sk, probes, "item").collect()
    }
    truth = Counter(ITEMS)
    assert set(est) == set(truth)
    for k, c in truth.items():
        assert est[k] >= c, (k, est[k], c)
    # w=256 >> 28 distinct items: collisions are possible but the heavy
    # hitter's min-over-4-rows estimate must stay tight
    assert est[999] == truth[999]


def test_sketches_merge_by_cellwise_sum(spark):
    half1, half2 = ITEMS[: len(ITEMS) // 2], ITEMS[len(ITEMS) // 2 :]
    merged = (
        sketch.countmin_build(_df(spark, half1), "item")
        .unionByName(sketch.countmin_build(_df(spark, half2), "item"))
        .groupBy("r", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    whole = sketch.countmin_build(_df(spark, ITEMS), "item")
    a = sorted(tuple(r) for r in merged.collect())
    b = sorted(tuple(r) for r in whole.collect())
    assert a == b


def test_unseen_probe_estimates_zero_or_collision(spark):
    df = _df(spark, [1, 2, 3])
    sk = sketch.countmin_build(df, "item")
    probes = _df(spark, [777777])
    [r] = sketch.countmin_estimate(sk, probes, "item").collect()
    assert r["est"] >= 0  # zero unless all 4 rows collide with real items
    assert r["est"] <= 3


def test_streaming_sink_folds_epochs_and_skips_retries(spark, tmp_path):
    """streaming/sketches.py countmin_sink: folding three epoch batches
    must equal the one-shot sketch of their union, and re-applying an
    epoch (foreachBatch retry) must change NOTHING — cell addition is
    not idempotent, so the epoch marker carries the exactly-once
    guarantee."""
    from demo_pgvector_spark.streaming import sketches as ssk

    root = str(tmp_path / "sketch")
    sink = ssk.countmin_sink(root, "item")
    thirds = [ITEMS[0::3], ITEMS[1::3], ITEMS[2::3]]
    for epoch, chunk in enumerate(thirds):
        sink(_df(spark, chunk), epoch)

    def cells():
        return sorted(tuple(r) for r in ssk.read_sketch(spark, root).collect())

    whole = sorted(
        tuple(r) for r in sketch.countmin_build(_df(spark, ITEMS), "item").collect()
    )
    assert cells() == whole

    # retry of every already-applied epoch: table must not move
    for epoch, chunk in enumerate(thirds):
        sink(_df(spark, chunk), epoch)
    assert cells() == whole


def test_streaming_bloom_sink_is_idempotent_bitor(spark, tmp_path):
    """streaming/sketches.py bloom_sink: OR-folding three epoch batches
    must equal the one-shot bloom of their union, and re-applying any
    epoch changes NOTHING — bit-OR is idempotent, so this sink needs no
    epoch marker (contrast countmin_sink)."""
    from demo_pgvector_spark.operators import curation
    from demo_pgvector_spark.streaming import sketches as ssk

    docs = [(i, f"alpha beta gamma delta epsilon zeta eta theta iota "
                f"kappa lam mu word{i} tail{i % 3}") for i in range(9)]

    def _docs(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    root = str(tmp_path / "bloom")
    sink = ssk.bloom_sink(root)
    for epoch in range(3):
        sink(_docs(docs[epoch::3]), epoch)

    def positions():
        return sorted(r["pos"] for r in ssk.read_bloom(spark, root).collect())

    whole = sorted(
        r["pos"] for r in curation.bloom_build(_docs(docs)).collect()
    )
    assert positions() == whole and len(whole) > 0

    sink(_docs(docs[1::3]), 1)  # retried epoch: table must not move
    assert positions() == whole


def test_countmin_commit_is_crash_atomic(spark, tmp_path, monkeypatch):
    """ADVICE r9: version and epoch marker must commit in ONE atomic
    pointer swap. Inject a crash between the version write (parquet +
    in-directory marker) and the pointer os.replace: the retry of the
    crashed epoch must re-fold it against the still-previous version —
    never double-count — and the final table must equal the one-shot
    sketch. The pre-fix root-level marker failed the mirror-image
    window (pointer swapped, marker stale → retry re-merged)."""
    import os as _os

    from demo_pgvector_spark.streaming import sketches as ssk

    root = str(tmp_path / "sketch")
    sink = ssk.countmin_sink(root, "item")
    thirds = [ITEMS[0::3], ITEMS[1::3], ITEMS[2::3]]
    sink(_df(spark, thirds[0]), 0)

    real_replace = _os.replace
    boom = {"armed": True}

    def crashing_replace(src, dst):
        if boom["armed"] and dst.endswith("_CURRENT") and root in dst:
            boom["armed"] = False
            raise OSError("injected crash before pointer swap")
        return real_replace(src, dst)

    monkeypatch.setattr("demo_pgvector_spark.streaming.sketches.os.replace",
                        crashing_replace)
    try:
        sink(_df(spark, thirds[1]), 1)  # crashes: v2 written, pointer still v1
    except OSError:
        pass
    # pointer-visible state is self-consistent: epoch 1 NOT applied
    assert ssk._last_epoch(root) == 0
    sink(_df(spark, thirds[1]), 1)  # retry re-folds epoch 1 exactly once
    sink(_df(spark, thirds[2]), 2)
    got = sorted(tuple(r) for r in ssk.read_sketch(spark, root).collect())
    whole = sorted(
        tuple(r)
        for r in sketch.countmin_build(_df(spark, ITEMS), "item").collect()
    )
    assert got == whole


# ---------------------------------------------------------------------------
# HyperLogLog (operators/sketch.py hll_build/hll_estimate)
# ---------------------------------------------------------------------------


def _py_hll_registers(items, group, p=sketch.HLL_P):
    """Pure-Python register replay: md5-hex→32-bit hash, bottom-p-bit
    register, rho = leading zeros of the top (32−p)-bit suffix + 1."""
    import hashlib

    m = 1 << p
    q = sketch.HLL_BITS - p
    regs: dict[int, int] = {}
    for x in items:
        h = int(hashlib.md5(str(x).encode()).hexdigest()[:8], 16)
        reg, w = h % m, h // m
        rho = q + 1 if w == 0 else q - w.bit_length() + 1
        regs[reg] = max(regs.get(reg, 0), rho)
    return sorted((group, r, v) for r, v in regs.items())


def test_hll_registers_match_python_reference(spark):
    items = list(range(500)) + [3, 3, 3, 7]  # duplicates must not move regs
    df = spark.createDataFrame(
        [("g", x) for x in items], "grp string, item long"
    )
    got = sorted(
        tuple(r)
        for r in sketch.hll_build(df, "item", group_cols=("grp",)).collect()
    )
    assert got == _py_hll_registers(items, "g")


def test_hll_estimate_within_band_and_small_range_branch(spark):
    # 5000 distinct → raw-estimator branch; 40 distinct → linear
    # counting (raw ≤ 2.5·m with zeros present). Both must land within
    # the 20% band the registry row gates on.
    for n in (5000, 40):
        df = spark.createDataFrame(
            [("g", x) for x in range(n)], "grp string, item long"
        )
        regs = sketch.hll_build(df, "item", group_cols=("grp",))
        [row] = sketch.hll_estimate(regs, group_cols=("grp",)).collect()
        assert abs(row["hll_est"] - n) <= 0.2 * n, (n, row["hll_est"])
        if n == 40:
            assert row["zeros"] > 0  # linear-counting branch actually taken


def test_hll_max_merge_equals_build_of_union(spark):
    items = list(range(400))
    halves = [items[0::2], items[1::2]]
    dfs = [
        spark.createDataFrame([("g", x) for x in h], "grp string, item long")
        for h in halves
    ]
    merged = (
        sketch.hll_build(dfs[0], "item", group_cols=("grp",))
        .unionByName(sketch.hll_build(dfs[1], "item", group_cols=("grp",)))
        .groupBy("grp", "register")
        .agg(F.max("rho").alias("rho"))
    )
    whole = sketch.hll_build(
        spark.createDataFrame(
            [("g", x) for x in items], "grp string, item long"
        ),
        "item",
        group_cols=("grp",),
    )
    assert sorted(tuple(r) for r in merged.collect()) == sorted(
        tuple(r) for r in whole.collect()
    )


def test_streaming_hll_sink_is_idempotent_max(spark, tmp_path):
    """streaming/sketches.py hll_sink: MAX-folding three epoch batches
    must equal the one-shot register table of their union, and
    re-applying any epoch changes NOTHING — per-register MAX is
    idempotent, so this sink needs no epoch marker (contrast
    countmin_sink; same argument as bloom_sink's bit-OR)."""
    from demo_pgvector_spark.streaming import sketches as ssk

    rows = [(i, "RA N"[i % 3]) for i in range(120)]

    def _li(chunk):
        return spark.createDataFrame(
            chunk, "l_orderkey long, l_returnflag string"
        )

    root = str(tmp_path / "hll")
    sink = ssk.hll_sink(root, "l_orderkey", group_cols=("l_returnflag",))
    for epoch in range(3):
        sink(_li(rows[epoch::3]), epoch)

    def regs():
        return sorted(tuple(r) for r in ssk.read_hll(spark, root).collect())

    whole = sorted(
        tuple(r)
        for r in sketch.hll_build(
            _li(rows), "l_orderkey", group_cols=("l_returnflag",)
        ).collect()
    )
    assert regs() == whole and len(whole) > 0

    sink(_li(rows[1::3]), 1)  # retried epoch: table must not move
    assert regs() == whole


def test_streaming_hll_sink_folds_ungrouped_epochs(spark, tmp_path):
    """hll_sink with the default ``group_cols=()``: the committed
    registers are read with the epoch delta's own schema, so three
    epochs fold into the same table as ``hll_build`` of their union (a
    fixed lineitem read DDL made the first epoch's union fail).
    ``read_hll`` takes no DDL either: the empty ungrouped frame before
    the first commit, then the schema the files were written with (a
    lineitem DDL default failed the footer check on this table)."""
    from demo_pgvector_spark.streaming import sketches as ssk

    root = str(tmp_path / "hll")
    empty = ssk.read_hll(spark, root)
    assert empty.dtypes == [("register", "bigint"), ("rho", "int")]
    assert empty.collect() == []
    sink = ssk.hll_sink(root, "item")
    for epoch, chunk in enumerate([ITEMS[0::3], ITEMS[1::3], ITEMS[2::3]]):
        sink(_df(spark, chunk), epoch)
    got = sorted(
        tuple(r)
        for r in ssk.read_hll(spark, root).collect()
    )
    whole = sorted(
        tuple(r) for r in sketch.hll_build(_df(spark, ITEMS), "item").collect()
    )
    assert got == whole and len(whole) > 0


def test_hll_inclusion_exclusion_tracks_true_intersection(spark):
    """Set algebra: union by register MAX, intersection by
    inclusion-exclusion — the estimate must land within 15% of the
    union for a genuine 50%-overlap pair."""
    a = spark.createDataFrame([("g", x) for x in range(0, 2000)],
                              "grp string, item long")
    b = spark.createDataFrame([("g", x) for x in range(1000, 3000)],
                              "grp string, item long")
    ra = sketch.hll_build(a, "item", group_cols=("grp",))
    rb = sketch.hll_build(b, "item", group_cols=("grp",))
    ru = (
        ra.unionByName(rb)
        .groupBy("grp", "register")
        .agg(F.max("rho").alias("rho"))
    )
    ea = sketch.hll_estimate(ra, ("grp",)).collect()[0]["hll_est"]
    eb = sketch.hll_estimate(rb, ("grp",)).collect()[0]["hll_est"]
    eu = sketch.hll_estimate(ru, ("grp",)).collect()[0]["hll_est"]
    inter = ea + eb - eu
    assert abs(eu - 3000) <= 0.2 * 3000, eu
    assert abs(inter - 1000) <= 0.15 * 3000, (ea, eb, eu, inter)
