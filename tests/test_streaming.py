"""Real Structured Streaming execution (streaming/windows.py): the same
transformations that pass the batch-equivalent oracle rows must produce
identical results when driven through readStream → Trigger.AvailableNow
→ memory sink — plus watermark late-row semantics on a crafted stream."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from demo_pgvector_spark import tables
from demo_pgvector_spark.streaming import windows as sw
from tests.conftest import spark_jobs

SF_DIR = "/root/testdata/sf0.001"


def _collect_sorted(df):
    return sorted(tuple(r) for r in df.collect())


def test_stream_matches_batch_windowed_counts(spark):
    batch = sw.windowed_counts(tables.load(spark, SF_DIR, "events"))
    stream = sw.windowed_counts(sw.read_events_stream(spark, SF_DIR))
    assert stream.isStreaming
    sw.run_to_memory(stream, "wc_test")
    got = _collect_sorted(spark.table("wc_test"))
    want = _collect_sorted(batch)
    assert got == want


def test_stream_matches_batch_sliding_windows(spark):
    batch = sw.windowed_counts(
        tables.load(spark, SF_DIR, "events"), window="10 minutes", slide="5 minutes"
    )
    stream = sw.windowed_counts(
        sw.read_events_stream(spark, SF_DIR), window="10 minutes", slide="5 minutes"
    )
    sw.run_to_memory(stream, "slide_test")
    assert _collect_sorted(spark.table("slide_test")) == _collect_sorted(batch)


def test_stream_matches_batch_session_windows(spark):
    batch = sw.session_windows(tables.load(spark, SF_DIR, "events"))
    stream = sw.session_windows(sw.read_events_stream(spark, SF_DIR))
    sw.run_to_memory(stream, "sess_test")
    assert _collect_sorted(spark.table("sess_test")) == _collect_sorted(batch)


def test_stream_dedup_across_microbatches(spark, tmp_path):
    """dropDuplicatesWithinWatermark must suppress a duplicate key that
    arrives in a LATER micro-batch (state carried across batches) while
    admitting genuinely new keys."""
    import os
    import time

    b1 = [(1, "2024-01-01 10:00:00", "click", 1.0), (2, "2024-01-01 10:01:00", "view", 1.0)]
    b2 = [(1, "2024-01-01 10:02:00", "click", 1.0),  # dup of event_id 1
          (3, "2024-01-01 10:03:00", "click", 1.0)]

    def write(rows, path):
        spark.createDataFrame(
            rows, "event_id long, ts_s string, event_type string, value double"
        ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s").coalesce(
            1
        ).write.mode("overwrite").parquet(path)

    dirs = [str(tmp_path / d) for d in ("b1", "b2")]
    for rows, d in zip((b1, b2), dirs):
        write(rows, d)
    now = time.time()
    for i, d in enumerate(dirs):
        for f in os.listdir(d):
            os.utime(os.path.join(d, f), (now - 100 + i * 10,) * 2)

    schema = spark.read.parquet(dirs[0]).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "b*"))
    )
    deduped = sw.stream_dedup(stream, key_cols=("event_id",), watermark="1 hour")
    q = (
        deduped.select("event_id").writeStream.format("memory")
        .queryName("dedup_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(r["event_id"] for r in spark.table("dedup_test").collect())
    assert got == [1, 2, 3]  # the batch-2 duplicate of id 1 suppressed


def test_stateful_running_totals_across_batches(spark, tmp_path):
    """applyInPandasWithState must carry per-user state across
    micro-batches: the second batch's emission reflects the first
    batch's accumulated count and sum."""
    import os
    import time

    from demo_pgvector_spark.streaming.stateful import running_user_totals

    b1 = [(1, "2024-01-01 10:00:00", "click", 1.0), (1, "2024-01-01 10:01:00", "click", 2.0),
          (2, "2024-01-01 10:02:00", "view", 5.0)]
    b2 = [(1, "2024-01-01 10:10:00", "click", 4.0)]

    def write(rows, path):
        spark.createDataFrame(
            rows, "user_id long, ts_s string, event_type string, value double"
        ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s").coalesce(
            1
        ).write.mode("overwrite").parquet(path)

    dirs = [str(tmp_path / d) for d in ("b1", "b2")]
    for rows, d in zip((b1, b2), dirs):
        write(rows, d)
    now = time.time()
    for i, d in enumerate(dirs):
        for f in os.listdir(d):
            os.utime(os.path.join(d, f), (now - 100 + i * 10,) * 2)

    schema = spark.read.parquet(dirs[0]).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "b*"))
    )
    q = (
        running_user_totals(stream)
        .writeStream.format("memory")
        .queryName("state_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = [tuple(r) for r in spark.table("state_test").collect()]
    # batch 1 emissions: user 1 → (2, 3.0), user 2 → (1, 5.0)
    # batch 2 emission:  user 1 → (3, 7.0)  ← state carried forward
    assert (1, 2, 3.0) in rows
    assert (2, 1, 5.0) in rows
    assert (1, 3, 7.0) in rows


def test_watermark_drops_late_rows(spark, tmp_path):
    """A row arriving far behind the watermark must be dropped by the
    streaming aggregation (and kept by batch) — the semantics only the
    streaming engine has.

    Spark ≥3.4 uses TWO watermarks per batch: late-row filtering uses
    the PREVIOUS batch's watermark, eviction the current one — so the
    drop needs the late row to arrive two micro-batches after the rows
    that advanced the watermark (three files, one per trigger)."""
    import os
    import time

    on_time = [(i, f"2024-01-01 10:{m:02d}:00", "click", 1.0) for i, m in enumerate(range(0, 50, 5))]
    more = [(50, "2024-01-01 10:46:00", "click", 1.0)]
    late = [(99, "2024-01-01 10:00:01", "click", 1.0)]  # 45+ min behind

    def write(rows, path):
        spark.createDataFrame(
            rows, "event_id long, ts_s string, event_type string, value double"
        ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s").coalesce(
            1
        ).write.mode("overwrite").parquet(path)

    dirs = [str(tmp_path / d) for d in ("b1", "b2", "b3")]
    for rows, d in zip((on_time, more, late), dirs):
        write(rows, d)
    # FileStreamSource orders files by modification time; pin distinct
    # mtimes so the micro-batch order is b1, b2, b3.
    now = time.time()
    for i, d in enumerate(dirs):
        for f in os.listdir(d):
            os.utime(os.path.join(d, f), (now - 100 + i * 10,) * 2)

    schema = spark.read.parquet(dirs[0]).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "b*"))
    )
    agg = sw.windowed_counts(stream, window="10 minutes", watermark="10 minutes")
    q = (
        agg.writeStream.format("memory")
        .queryName("late_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    dropped = sum(
        p["stateOperators"][0]["numRowsDroppedByWatermark"] for p in q.recentProgress
    )
    assert dropped == 1  # exactly the late row
    # and the late row never reached the 10:00 window's state: every
    # update for that window says n=2 (batch would have counted 3)
    w0 = spark.table("late_test").filter(
        F.col("window_start") == "2024-01-01 10:00:00"
    )
    assert {r["n"] for r in w0.collect()} == {2}


def test_run_to_memory_infers_append_for_non_aggregating_stream(spark):
    """stream_dedup's output has no Aggregate node; Spark rejects
    outputMode('complete') for it — run_to_memory must infer 'append'."""
    stream = sw.stream_dedup(
        sw.read_events_stream(spark, SF_DIR), key_cols=("event_id",)
    ).select("event_id")
    sw.run_to_memory(stream, "dedup_infer_test")
    n_stream = spark.table("dedup_infer_test").count()
    n_batch = tables.load(spark, SF_DIR, "events").dropDuplicates(["event_id"]).count()
    assert n_stream == n_batch


def test_late_data_drop_and_holdback(spark, tmp_path):
    """The watermark contract on a hand-built stream: batch-2 stragglers
    behind the watermark are DROPPED, on-time peers in earlier batches
    count, and windows newer than (max event time − delay) are held in
    state, not emitted."""
    import os

    import duckdb

    from demo_pgvector_spark.streaming import late

    landing = tmp_path / "landing"
    landing.mkdir()
    batches = [
        # b0: two on-time rows in the 00:00 window, one in 00:10
        [(1, "2024-01-01 00:01:00", "a"), (2, "2024-01-01 00:02:00", "a"),
         (3, "2024-01-01 00:11:00", "a")],
        # b1: jump far ahead — watermark (10 min delay) passes 00:10/00:20
        [(4, "2024-01-01 01:00:00", "a")],
        # b2: a straggler for the 00:00 window (filter wm = 00:11−10m =
        # 00:01 < its end 00:10?? end 00:10 > 00:01 → KEPT in state…
        # but the window was already EVICTED in b1? No: evict wm at b1
        # is 00:01 too. The straggler lands before eviction and counts.
        # A second straggler probes the DROP: filter wm for b2 comes
        # from data ≤ b0 (00:11−10m = 00:01); only windows ending
        # ≤ 00:01 drop — use 23:50 previous-day row.
        [(5, "2024-01-01 00:05:00", "a"), (6, "2023-12-31 23:55:00", "a")],
    ]
    con = duckdb.connect()
    for b, rows in enumerate(batches):
        vals = ", ".join(
            f"({i}, TIMESTAMP '{t}', '{k}')" for i, t, k in rows
        )
        p = str(landing / f"b{b}.parquet")
        con.execute(
            f"COPY (SELECT * FROM (VALUES {vals}) t(event_id, ts, event_type))"
            f" TO '{p}' (FORMAT parquet)"
        )
        os.utime(p, (1_000_000 + b * 1000, 1_000_000 + b * 1000))
    out = late.run_late_data_stream(
        spark,
        str(landing),
        checkpoint_dir=str(tmp_path / "ckpt"),
        schema_ddl="event_id long, ts timestamp, event_type string",
        delay="10 minutes",
        window="10 minutes",
    )
    got = {r.window_start: (r.n, r.sum_ids) for r in out.collect()}
    # final wm = 01:00 − 10m = 00:50 → the 01:00 window is HELD
    assert "2024-01-01 01:00:00" not in got
    # the 00:00 window emits with the batch-2 straggler INCLUDED (it
    # beat eviction) and the previous-day straggler DROPPED
    assert got["2024-01-01 00:00:00"] == (3, 8)  # ids 1+2+5
    assert got["2024-01-01 00:10:00"] == (1, 3)
    assert "2023-12-31 23:50:00" not in got


def test_late_update_changelog_survives_a_crash_after_the_write(
    spark, tmp_path, monkeypatch
):
    """Fault injection in the update-mode changelog: epoch 1 writes its
    delta, then raises before the epoch commits. Draining again from
    the same checkpoint replays epoch 1, and the changelog must equal
    a clean drain's: the replayed delta replaces its first write
    instead of landing beside it."""
    import os

    import duckdb
    from pyspark.errors import StreamingQueryException

    from demo_pgvector_spark.streaming import late

    landing = tmp_path / "landing"
    landing.mkdir()
    batches = [
        [(1, "2024-01-01 00:01:00", "a"), (3, "2024-01-01 00:02:00", "a")],
        [(5, "2024-01-01 00:05:00", "a")],
        [(7, "2024-01-01 00:15:00", "a")],
    ]
    con = duckdb.connect()
    for b, rows in enumerate(batches):
        vals = ", ".join(f"({i}, TIMESTAMP '{t}', '{k}')" for i, t, k in rows)
        p = str(landing / f"b{b}.parquet")
        con.execute(
            f"COPY (SELECT * FROM (VALUES {vals}) t(event_id, ts, event_type))"
            f" TO '{p}' (FORMAT parquet)"
        )
        os.utime(p, (1_000_000 + b * 1000, 1_000_000 + b * 1000))

    def run(ckpt):
        out = late.run_late_data_stream_update(
            spark,
            str(landing),
            checkpoint_dir=str(tmp_path / ckpt),
            schema_ddl="event_id long, ts timestamp, event_type string",
            delay="10 minutes",
            window="10 minutes",
        )
        return sorted(map(tuple, out.collect()))

    clean = run("clean")
    assert clean == [
        ("2024-01-01 00:00:00", "a", 2, 4),
        ("2024-01-01 00:00:00", "a", 3, 9),
        ("2024-01-01 00:10:00", "a", 1, 7),
    ]

    real_drain = late.drain

    def crash_after_epoch_1(df, checkpoint_dir, sink, **kwargs):
        def write_then_crash(batch, epoch_id):
            sink(batch, epoch_id)
            if epoch_id == 1:
                raise RuntimeError("injected crash after the write")

        return real_drain(df, checkpoint_dir, write_then_crash, **kwargs)

    monkeypatch.setattr(late, "drain", crash_after_epoch_1)
    with pytest.raises(StreamingQueryException, match="injected crash"):
        run("crashed")
    monkeypatch.setattr(late, "drain", real_drain)
    assert run("crashed") == clean


def test_stream_stream_join_matches_batch_join_across_batch_boundary(spark, tmp_path):
    """The watermarked stream-stream inner join must emit exactly the
    batch band-join pairs, INCLUDING a match whose partner arrives in a
    later micro-batch (the state-retention case the watermark must not
    evict early)."""
    import os

    from pyspark.sql import Row

    from demo_pgvector_spark.streaming.joins import run_stream_stream_join

    def write_batch(landing, b, rows):
        import pyarrow as pa
        import pyarrow.parquet as papq

        path = os.path.join(landing, f"batch-{b}.parquet")
        papq.write_table(
            pa.table(
                {
                    "event_id": pa.array([r[0] for r in rows], pa.int64()),
                    "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                    "user_id": pa.array([r[2] for r in rows], pa.int64()),
                }
            ),
            path,
        )
        os.utime(path, (1_000_000 + b * 1000,) * 2)

    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    la, lb = str(tmp_path / "a"), str(tmp_path / "b")
    os.makedirs(la), os.makedirs(lb)
    # left: errors at 12:00 (user 1) and 12:05 (user 2), batch 0;
    #       13:00 (user 1), batch 1
    write_batch(la, 0, [(1, t0, 1), (2, t0 + dt.timedelta(minutes=5), 2)])
    write_batch(la, 1, [(3, t0 + dt.timedelta(hours=1), 1)])
    # right: purchase 12:30 user 1 in batch 0 (in-batch match for id 1);
    #        purchase 13:30 user 1 in batch 1 (matches ids 1 AND 3 —
    #        id 1's state must survive the batch boundary);
    #        purchase 12:04 user 2 (BEFORE its error — must not match)
    write_batch(lb, 0, [(10, t0 + dt.timedelta(minutes=30), 1),
                        (12, t0 + dt.timedelta(minutes=4), 2)])
    write_batch(lb, 1, [(11, t0 + dt.timedelta(minutes=90), 1)])
    out = run_stream_stream_join(
        spark, la, lb,
        checkpoint_dir=str(tmp_path / "ckpt"),
        schema_ddl="event_id long, ts timestamp, user_id long",
    )
    got = {(r["a_id"], r["b_id"]): r["lag_seconds"] for r in out.collect()}
    assert got == {(1, 10): 1800, (1, 11): 5400, (3, 11): 1800}


def test_stream_static_join_enriches_every_batch(spark, tmp_path):
    """The stateless enrichment join: every arriving row joins the batch
    dimension; rows with no dim match drop (inner); multiple batches all
    enrich."""
    import datetime as dt
    import os

    import pyarrow as pa
    import pyarrow.parquet as papq

    from demo_pgvector_spark.streaming.joins import run_stream_static_join

    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    for b, rows in enumerate([[(1, t0, 10), (2, t0, 99)], [(3, t0, 11)]]):
        path = os.path.join(landing, f"batch-{b}.parquet")
        papq.write_table(
            pa.table(
                {
                    "event_id": pa.array([r[0] for r in rows], pa.int64()),
                    "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                    "user_id": pa.array([r[2] for r in rows], pa.int64()),
                }
            ),
            path,
        )
        os.utime(path, (1_000_000 + b * 1000,) * 2)
    dim = spark.createDataFrame(
        [(10, "A"), (11, "B")], "c_custkey long, seg string"
    )
    out = run_stream_static_join(
        spark, landing, dim,
        checkpoint_dir=str(tmp_path / "ckpt"),
        schema_ddl="event_id long, ts timestamp, user_id long",
    )
    got = {(r["event_id"], r["seg"]) for r in out.collect()}
    assert got == {(1, "A"), (3, "B")}  # user 99 has no dim row


def test_stream_stream_left_outer_null_emission_boundary(spark, tmp_path):
    """The pinned left-outer contract: unmatched lefts emit null-extended
    iff a.ts + band < wm STRICTLY (wm = min of side maxes − delay at the
    trailing no-data batch); a row at exactly wm − band stays in state."""
    import datetime as dt
    import os

    import pyarrow as pa
    import pyarrow.parquet as papq

    from demo_pgvector_spark.streaming.joins import run_stream_stream_join

    def wb(landing, b, rows):
        path = os.path.join(landing, f"batch-{b}.parquet")
        papq.write_table(
            pa.table(
                {
                    "event_id": pa.array([r[0] for r in rows], pa.int64()),
                    "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                    "user_id": pa.array([r[2] for r in rows], pa.int64()),
                }
            ),
            path,
        )
        os.utime(path, (1_000_000 + b * 1000,) * 2)

    T = dt.datetime(2024, 1, 10)  # target watermark (both maxes at T + 1d)
    D, H, S = (dt.timedelta(days=1), dt.timedelta(hours=1),
               dt.timedelta(seconds=1))
    la, lb = str(tmp_path / "a"), str(tmp_path / "b")
    os.makedirs(la), os.makedirs(lb)
    wb(la, 0, [(1, T - 2 * H, 1),      # band end == wm exactly → state
               (2, T - 2 * H + S, 2),  # inside → state
               (3, T - 2 * H - S, 3),  # strictly past → null emission
               (4, T - 3 * H, 4),      # past, but MATCHED → pair, no null
               (9, T + D, 99)])        # sets max_A; young → state
    wb(lb, 0, [(10, T - 3 * H + 30 * dt.timedelta(minutes=1), 4),
               (11, T + D, 98)])       # sets max_B
    out = run_stream_stream_join(
        spark, la, lb,
        checkpoint_dir=str(tmp_path / "ckpt"),
        schema_ddl="event_id long, ts timestamp, user_id long",
        join_type="leftOuter",
    )
    got = sorted((r["a_id"], r["b_id"]) for r in out.collect())
    assert got == [(3, None), (4, 10)]


def test_stream_stream_right_outer_null_emission_boundary(spark, tmp_path):
    """The symmetric right-outer pin: unmatched rights emit
    null-extended iff b.ts < wm STRICTLY; a right row at exactly wm
    stays in state."""
    import datetime as dt
    import os

    import pyarrow as pa
    import pyarrow.parquet as papq

    from demo_pgvector_spark.streaming.joins import run_stream_stream_join

    def wb(landing, b, rows):
        path = os.path.join(landing, f"batch-{b}.parquet")
        papq.write_table(
            pa.table(
                {
                    "event_id": pa.array([r[0] for r in rows], pa.int64()),
                    "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                    "user_id": pa.array([r[2] for r in rows], pa.int64()),
                }
            ),
            path,
        )
        os.utime(path, (1_000_000 + b * 1000,) * 2)

    T = dt.datetime(2024, 1, 10)
    D, H, S = (dt.timedelta(days=1), dt.timedelta(hours=1),
               dt.timedelta(seconds=1))
    la, lb = str(tmp_path / "a"), str(tmp_path / "b")
    os.makedirs(la), os.makedirs(lb)
    wb(la, 0, [(1, T - 4 * H, 4),   # matches right id 14
               (9, T + D, 99)])     # sets max_A
    wb(lb, 0, [(11, T, 1),          # b.ts == wm → state
               (12, T + S, 2),      # above wm → state
               (13, T - S, 3),      # strictly below → null emission
               (14, T - 3 * H, 4),  # below, but MATCHED → pair
               (19, T + D, 98)])    # sets max_B
    out = run_stream_stream_join(
        spark, la, lb,
        checkpoint_dir=str(tmp_path / "ckpt"),
        schema_ddl="event_id long, ts timestamp, user_id long",
        join_type="rightOuter",
    )
    got = sorted(((r["a_id"], r["b_id"], r["user_id"]) for r in out.collect()),
                 key=str)
    assert got == [(1, 14, 4), (None, 13, 3)]


def test_stream_stream_full_outer_is_union_of_pins(spark, tmp_path):
    """Full outer = matched ∪ strict-left-evicted nulls ∪
    strict-right-evicted nulls, on a scenario exercising all three."""
    import datetime as dt
    import os

    import pyarrow as pa
    import pyarrow.parquet as papq

    from demo_pgvector_spark.streaming.joins import run_stream_stream_join

    def wb(landing, b, rows):
        path = os.path.join(landing, f"batch-{b}.parquet")
        papq.write_table(
            pa.table(
                {
                    "event_id": pa.array([r[0] for r in rows], pa.int64()),
                    "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                    "user_id": pa.array([r[2] for r in rows], pa.int64()),
                }
            ),
            path,
        )
        os.utime(path, (1_000_000 + b * 1000,) * 2)

    T = dt.datetime(2024, 1, 10)
    D, H = dt.timedelta(days=1), dt.timedelta(hours=1)
    la, lb = str(tmp_path / "a"), str(tmp_path / "b")
    os.makedirs(la), os.makedirs(lb)
    wb(la, 0, [(1, T - 4 * H, 4),    # matched
               (2, T - 5 * H, 5),    # unmatched left, past wm - band
               (9, T + D, 99)])
    wb(lb, 0, [(14, T - 3 * H, 4),   # matched partner
               (13, T - 3 * H, 3),   # unmatched right, past wm
               (19, T + D, 98)])
    out = run_stream_stream_join(
        spark, la, lb,
        checkpoint_dir=str(tmp_path / "ckpt"),
        schema_ddl="event_id long, ts timestamp, user_id long",
        join_type="fullOuter",
    )
    got = sorted(((r["a_id"], r["b_id"], r["user_id"]) for r in out.collect()),
                 key=str)
    assert got == [(1, 14, 4), (2, None, 5), (None, 13, 3)]


def test_stateful_funnel_boundaries_and_timeout(spark, tmp_path):
    """The sessionized-funnel state machine (streaming/stateful.py
    funnel_sessions): probes every pinned boundary —
    window inclusivity (purchase at exactly a_ts+24h converts), the
    (ts, event_id) tie rule (same-ts purchase converts only with larger
    event_id), cross-batch state carry, and the STRICT event-time
    timeout eviction (a pending click whose timeout timestamp equals the
    final watermark survives silently; 1 ms earlier expires)."""
    import datetime as dt
    import os

    from demo_pgvector_spark.streaming.stateful import run_funnel_stream

    def wb(landing, b, rows):
        import pyarrow as pa
        import pyarrow.parquet as papq

        path = os.path.join(landing, f"batch-{b}.parquet")
        papq.write_table(
            pa.table(
                {
                    "event_id": pa.array([r[0] for r in rows], pa.int64()),
                    "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                    "user_id": pa.array([r[2] for r in rows], pa.int64()),
                    "event_type": pa.array([r[3] for r in rows], pa.string()),
                }
            ),
            path,
        )
        os.utime(path, (1_000_000 + b * 1000,) * 2)

    day = dt.timedelta(days=1)
    jan = lambda d, **kw: dt.datetime(2024, 1, d) + dt.timedelta(**kw)  # noqa: E731
    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    # wm_final = max_ts - 1 day = 2024-01-09 00:00:00.000
    wb(landing, 0, [
        (100, jan(5), 1, "click"),
        (200, jan(5), 2, "click"),
        # user 5: tie probe, single batch: purchase id 501 SAME ts as
        # click id 502 but smaller id -> not after; id 503 same ts,
        # larger id -> converts with lag 0
        (501, jan(5), 5, "purchase"),
        (502, jan(5), 5, "click"),
        (503, jan(5), 5, "purchase"),
    ])
    wb(landing, 1, [
        (101, jan(6), 1, "purchase"),            # == a+24h: converts, lag 86400
        (201, jan(6, seconds=1), 2, "purchase"),  # 1s past window: no
        (300, jan(8), 3, "click"),                # timeout t == wm: survives
        (400, jan(8) - dt.timedelta(milliseconds=1), 4, "click"),  # t = wm-1ms
    ])
    wb(landing, 2, [(999, jan(10), 99, "view")])  # wm pusher; no click
    out = run_funnel_stream(
        spark,
        landing,
        checkpoint_dir=str(tmp_path / "ckpt"),
        schema_ddl="event_id long, ts timestamp, user_id long, event_type string",
    )
    got = {
        r["user_id"]: (r["a_id"], r["b_id"], r["outcome"], r["lag_seconds"])
        for r in out.collect()
    }
    assert got == {
        1: (100, 101, "converted", 86400),
        2: (200, None, "expired", None),
        4: (400, None, "expired", None),
        5: (502, 503, "converted", 0),
        # user 3 pending (t == wm survives), user 99 never clicked
    }


def test_curate_sink_is_epoch_idempotent_and_split_invariant(spark, tmp_path):
    """streaming/curate.py curate_sink: (a) a retried epoch changes
    neither the staged table nor the verdicts; (b) draining a 6-doc
    batch in 1, 3 or 6 slices commits the SAME final verdict table as
    the one-shot curate_incremental call — the audit recomputes over
    the staged whole, so the within-batch twin verdicts never depend on
    how the stream happened to split the day."""
    from demo_pgvector_spark.operators import curation
    from demo_pgvector_spark.streaming import curate as sc

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lam mu nu xi omicron pi rho sigma tau upsilon")
    corpus = spark.createDataFrame(
        [(100 + i, base + f" corpustail{i}") for i in range(6)],
        "doc_id long, text string",
    )
    eval_docs = spark.createDataFrame(
        [(900, base + " corpustail0 evaltail")], "doc_id long, text string"
    )
    # batch: 0 dup-of-corpus, 1 fresh (vocabulary fully distinct from
    # corpus AND eval — no shared 13-gram, no shingle overlap),
    # 2 near-twin of 1 (larger id, one word changed), 3 short,
    # 4 exact twin of 1 (larger id), 5 another fresh keeper
    fresh = " ".join(f"fresh{i}" for i in range(30))
    batch_rows = [
        (0, base + " corpustail0"),
        (1, fresh),
        (2, fresh.rsplit(" ", 1)[0] + " changedtail"),
        (3, "too short"),
        (4, fresh),
        (5, " ".join(f"other{i}" for i in range(20))),
    ]

    def drain(root, slices):
        sink = sc.curate_sink(root, corpus, eval_docs)
        for epoch, rows in enumerate(slices):
            sink(
                spark.createDataFrame(rows, "doc_id long, text string"),
                epoch,
            )
        return sorted(
            tuple(r) for r in sc.read_verdicts(spark, str(root)).collect()
        )

    one = drain(str(tmp_path / "one"), [batch_rows])
    three = drain(
        str(tmp_path / "three"),
        [batch_rows[:2], batch_rows[2:4], batch_rows[4:]],
    )
    six = drain(str(tmp_path / "six"), [[r] for r in batch_rows])
    assert one == three == six
    oneshot = sorted(
        tuple(r)
        for r in curation.curate_incremental(
            corpus,
            spark.createDataFrame(batch_rows, "doc_id long, text string"),
            eval_docs,
        ).collect()
    )
    assert one == oneshot and len(one) == 6
    # semantic spot checks: doc 0 exact-dups the corpus, doc 2 near-dups
    # its smaller-id twin, doc 3 is short, doc 4 exact-dups doc 1
    v = {t[0]: t for t in one}
    assert v[0][1] is True and v[2][3] is True and v[3][2] is True
    assert v[4][1] is True and v[1][1] is False
    assert v[1][5] is True and v[5][5] is True  # the fresh docs are kept

    # retried epoch: re-apply the LAST slice — nothing may move
    root = str(tmp_path / "three")
    sink = sc.curate_sink(root, corpus, eval_docs)
    sink(spark.createDataFrame(batch_rows[4:], "doc_id long, text string"), 2)
    again = sorted(
        tuple(r) for r in sc.read_verdicts(spark, root).collect()
    )
    assert again == three


def test_curate_stream_retry_repairs_a_crash_between_the_commits(
    spark, tmp_path, monkeypatch
):
    """streaming/curate.py's crash claim, through the real drain: epoch 1
    stages its slice, then its recompute raises before the verdict
    commit. Draining again from the same checkpoint replays epoch 1
    (already staged — the anti-join stages nothing) and epoch 2, and
    the committed verdicts equal one batch curate_incremental call."""
    import glob
    import os
    import shutil
    import time

    from pyspark.errors import StreamingQueryException

    from demo_pgvector_spark.operators import curation
    from demo_pgvector_spark.streaming import curate as sc
    from demo_pgvector_spark.streaming import ingest

    ddl = "doc_id long, text string"
    base = " ".join(f"w{i}" for i in range(25))
    fresh = " ".join(f"fresh{i}" for i in range(30))
    corpus = spark.createDataFrame([(100, base)], ddl)
    eval_docs = spark.createDataFrame(
        [(900, " ".join(f"e{i}" for i in range(25)))], ddl
    )
    slices = [
        [(0, base)],
        [(1, fresh), (2, fresh.rsplit(" ", 1)[0] + " changedtail")],
        [(3, "too short")],
    ]
    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    for i, rows in enumerate(slices):
        staged_dir = str(tmp_path / f"_stage_{i}")
        spark.createDataFrame(rows, ddl).coalesce(1).write.parquet(staged_dir)
        flat = os.path.join(landing, f"batch-{i}.parquet")
        shutil.copyfile(glob.glob(f"{staged_dir}/part-*.parquet")[0], flat)
        os.utime(flat, (time.time() - 100 + i * 10,) * 2)

    real = curation.curate_incremental
    calls = []

    def crash_on_second_call(*args, **kwargs):
        calls.append(1)
        if len(calls) == 2:
            raise RuntimeError("injected crash after staging")
        return real(*args, **kwargs)

    root, ckpt = str(tmp_path / "curate"), str(tmp_path / "ckpt")

    def run():
        sc.run_curate_stream(
            ingest.landing_stream(spark, landing, ddl),
            root,
            corpus,
            eval_docs,
            ckpt,
        )

    monkeypatch.setattr(curation, "curate_incremental", crash_on_second_call)
    with pytest.raises(StreamingQueryException, match="injected crash"):
        run()
    staged = ingest.read_table(spark, os.path.join(root, "staged"), ddl)
    assert sorted(r["doc_id"] for r in staged.collect()) == [0, 1, 2]
    assert [r["doc_id"] for r in sc.read_verdicts(spark, root).collect()] == [0]

    monkeypatch.setattr(curation, "curate_incremental", real)
    run()
    got = sorted(tuple(r) for r in sc.read_verdicts(spark, root).collect())
    everything = spark.createDataFrame([r for s in slices for r in s], ddl)
    want = sorted(
        tuple(r)
        for r in curation.curate_incremental(
            corpus, everything, eval_docs
        ).collect()
    )
    assert got == want and len(got) == 4


def test_curate_sink_fires_contaminated_and_builds_the_bloom_once(
    spark, tmp_path, monkeypatch
):
    """A 3-epoch ``curate_sink`` run whose batch holds a doc with a
    spliced eval passage: the committed verdicts equal one batch
    ``curate_incremental`` call, with ``contaminated`` set on that doc.
    The sink builds the eval bloom once, when it is made, and each
    epoch's verdict commit runs at most 7 Spark jobs: the broadcasts of
    the batch hashes, the batch bands, the cross ids and the shingles,
    the pair dedup, the verdict groupBy and the write."""
    import os

    from demo_pgvector_spark.operators import curation
    from demo_pgvector_spark.streaming import curate as sc
    from demo_pgvector_spark.streaming import ingest

    ddl = "doc_id long, text string"
    base = " ".join(f"w{i}" for i in range(25))
    passage = " ".join(f"e{i}" for i in range(20))
    corpus = spark.createDataFrame(
        [(100, base), (101, " ".join(f"c{i}" for i in range(25)))], ddl
    )
    eval_docs = spark.createDataFrame([(900, passage)], ddl)
    fresh = " ".join(f"fresh{i}" for i in range(30))
    slices = [
        [(0, base), (1, "too short")],
        [(2, fresh), (3, "intro words " + passage + " closing words")],
        [(4, fresh), (5, " ".join(f"clean{i}" for i in range(30)))],
    ]
    real_build, builds = curation.bloom_build, []

    def counted_build(*args, **kwargs):
        builds.append(1)
        return real_build(*args, **kwargs)

    real_commit, jobs = ingest.commit_table, {}

    def counted_commit(df, table_root, *args, **kwargs):
        with spark_jobs(spark) as launched:
            v = real_commit(df, table_root, *args, **kwargs)
        jobs.setdefault(os.path.basename(table_root), []).append(launched())
        return v

    monkeypatch.setattr(curation, "bloom_build", counted_build)
    monkeypatch.setattr(ingest, "commit_table", counted_commit)
    root = str(tmp_path / "curate")
    sink = sc.curate_sink(root, corpus, eval_docs)
    assert len(builds) == 1
    for epoch, rows in enumerate(slices):
        sink(spark.createDataFrame(rows, ddl), epoch)
    assert len(builds) == 1
    assert len(jobs["verdicts"]) == 3 and max(jobs["verdicts"]) <= 7, jobs

    got = sorted(tuple(r) for r in sc.read_verdicts(spark, root).collect())
    everything = spark.createDataFrame([r for s in slices for r in s], ddl)
    want = sorted(
        tuple(r)
        for r in curation.curate_incremental(corpus, everything, eval_docs).collect()
    )
    assert got == want and len(got) == 6
    v = {t[0]: t for t in got}
    assert v[3][4] is True and v[3][5] is False  # contaminated, not kept
    assert [d for d, t in v.items() if t[4]] == [3]
    assert v[0][1] and v[1][2] and v[4][1] and v[5][5]


def test_curate_sink_serves_near_dups_from_the_provided_index(spark, tmp_path):
    """The streaming tick must read corpus bands from the PROVIDED
    index table, never re-band the corpus: with a truthful index the
    batch twin of a corpus doc flags near_dup; with an EMPTY index the
    cross candidates vanish (the dedup_incremental_indexed
    tampered-index pin, lifted to the stream sink)."""
    from demo_pgvector_spark.operators import dedup
    from demo_pgvector_spark.streaming import curate as sc

    base = " ".join(f"w{i}" for i in range(25))
    corpus = spark.createDataFrame(
        [(100, base), (101, " ".join(f"c{i}" for i in range(25)))],
        "doc_id long, text string",
    )
    eval_docs = spark.createDataFrame(
        [(900, " ".join(f"e{i}" for i in range(25)))],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(1, base + " tail")], "doc_id long, text string"
    )
    bands = dedup.band_index(corpus)

    def verdicts(root, idx):
        sink = sc.curate_sink(root, corpus, eval_docs, corpus_bands=idx)
        sink(batch, 0)
        [r] = sc.read_verdicts(spark, root).collect()
        return r

    real = verdicts(str(tmp_path / "real"), bands)
    assert real["near_dup"] is True and real["kept"] is False

    empty = bands.limit(0)
    gone = verdicts(str(tmp_path / "empty"), empty)
    assert gone["near_dup"] is False and gone["kept"] is True


def test_stream_anomaly_equals_batch_window(spark):
    """streaming/stateful.py anomaly_flags: the drained stateful stream
    must equal the batch ROWS-window computation row for row (state
    carries each user's trailing buffer across epoch boundaries)."""
    from demo_pgvector_spark import registry

    sf = "/root/testdata/sf0.001"
    got = sorted(
        tuple(r) for r in registry.q_stream_anomaly(spark, sf).collect()
    )
    want = sorted(
        tuple(r) for r in registry.q_ts_anomaly(spark, sf).collect()
    )
    assert got == want and len(got) > 0


def _stage_flat_batches(spark, tmp_path, batches):
    """Stage (event_id, ts_s, user_id) row batches as FLAT parquet files
    (the file stream source does not recurse into directory writes),
    mtimes spaced so maxFilesPerTrigger=1 processes them in order."""
    import glob
    import os
    import shutil
    import time

    landing = str(tmp_path / "landing")
    os.makedirs(landing, exist_ok=True)
    for i, rows in enumerate(batches):
        staged = str(tmp_path / f"_stage_{i}")
        spark.createDataFrame(
            rows, "event_id long, ts_s string, user_id long"
        ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s").coalesce(
            1
        ).write.mode("overwrite").parquet(staged)
        part = glob.glob(os.path.join(staged, "part-*.parquet"))[0]
        flat = os.path.join(landing, f"batch-{i}.parquet")
        shutil.copyfile(part, flat)
        os.utime(flat, (time.time() - 100 + i * 10,) * 2)
    return landing


def test_run_stream_dedup_matches_batch_replay(spark, tmp_path):
    """run_stream_dedup (the REAL dropDuplicatesWithinWatermark drain,
    VERDICT r10 #8): with a delay longer than the staged span, the
    drained output is exactly (key, MIN(batch_no)) — in-batch
    duplicates collapse, cross-batch duplicates are suppressed by
    state, and the emitted batch_no is the key's first time range."""
    import os
    import time

    b1 = [(10, "2024-01-01 10:00:00", 1), (11, "2024-01-01 10:05:00", 1),
          (12, "2024-01-01 10:06:00", 2)]
    b2 = [(13, "2024-01-01 16:00:00", 1), (14, "2024-01-01 16:05:00", 3)]

    landing = _stage_flat_batches(spark, tmp_path, (b1, b2))
    out = sw.run_stream_dedup(
        spark,
        landing,
        checkpoint_dir=str(tmp_path / "ckpt"),
        schema_ddl="event_id long, user_id long, ts timestamp",
        key_cols=("user_id",),
        delay="45 days",
        batch_bounds=("2024-01-01 15:00:00",),
    )
    got = _collect_sorted(out.select("user_id", "batch_no"))
    assert got == [(1, 0), (2, 0), (3, 1)]


def test_run_stream_dedup_reemits_after_watermark_eviction(spark, tmp_path):
    """The WITHIN-watermark half of the contract, empirically pinned on
    Spark 4.1 (the late.py methodology): state expiry is first-event ts
    + delay, the watermark lags one batch (batch N runs under the
    watermark computed from batch N-1's data), and within a batch the
    duplicate LOOKUP runs BEFORE eviction — so a duplicate arriving in
    the same batch whose watermark passed its key's expiry is still
    suppressed, and re-emission happens for duplicates arriving in any
    LATER batch. That re-emission is the bounded-state semantics that
    distinguish dropDuplicatesWithinWatermark from an unbounded
    dropDuplicates."""
    batches = [
        [(10, "2024-01-01 10:00:00", 1)],  # A first seen; expiry 11:00
        [(11, "2024-01-01 20:00:00", 2)],  # runs at wm 09:00; end-of-batch wm -> 19:00
        [(12, "2024-01-01 20:30:00", 1)],  # runs at wm 19:00 > expiry, but lookup-
        #                                    before-eviction still SUPPRESSES it;
        #                                    A's state evicts at this batch's end
        [(13, "2024-01-01 21:30:00", 3)],  # unrelated key
        [(14, "2024-01-01 21:40:00", 1)],  # A again, state gone -> RE-EMITTED
    ]
    landing = _stage_flat_batches(spark, tmp_path, batches)
    out = sw.run_stream_dedup(
        spark,
        landing,
        checkpoint_dir=str(tmp_path / "ckpt"),
        schema_ddl="event_id long, user_id long, ts timestamp",
        key_cols=("user_id",),
        delay="1 hour",
        batch_bounds=(
            "2024-01-01 15:00:00",
            "2024-01-01 20:10:00",
            "2024-01-01 21:00:00",
            "2024-01-01 21:35:00",
        ),
    )
    got = _collect_sorted(out.select("user_id", "batch_no"))
    assert got == [(1, 0), (1, 4), (2, 1), (3, 3)]
