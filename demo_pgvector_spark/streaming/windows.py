"""Structured Streaming surface (SURVEY §2.9 / M6 — extension; the
reference is strictly batch).

Every transformation here is *stream-batch symmetric*: it accepts either
a batch DataFrame or a streaming DataFrame and produces the same logical
result. That is the correctness strategy — the CORRECTNESS rows run the
batch form against a DuckDB oracle (time_bucket / gaps-and-islands SQL),
and tests/test_streaming.py drives the SAME functions through a real
``readStream`` → ``Trigger.AvailableNow`` → memory-sink execution and
asserts the outputs are identical. What the oracle can't see (watermark
semantics, incremental state) is exactly what the streaming pytest
exercises.

Scale notes: windowed counts are partial-aggregable (map-side combine
per window key); watermarks bound the state store; session windows merge
per (user, gap) — state is per-user, not global. On a real cluster the
same code runs against a Kafka/file source with checkpointing; the file
source here is the testdata parquet.
"""

from __future__ import annotations

import hashlib
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from demo_pgvector_spark.streaming.ingest import drain, landing_stream

DEFAULT_WATERMARK = "10 minutes"


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``readStream`` over the events parquet, normalizing ``ts`` to a
    session-timezone TIMESTAMP exactly like the batch loader
    (tables.load): TIMESTAMP(NANOS) data surfaces as a long (via the
    ``nanosAsLong`` conf set at session construction) and is truncated
    to micros; TIMESTAMP_MICROS(isAdjustedToUTC=0) data surfaces as
    TIMESTAMP_NTZ and is cast to TIMESTAMP — the session timezone is
    pinned UTC, so the instant is unambiguous. The cast matters in
    streaming: ``withWatermark`` rejects NTZ event-time columns
    (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE on Spark 4.x)."""
    batch_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    # FileStreamSource monitors a DIRECTORY; the testdata table is a
    # single file, so stage a symlink dir (a real deployment points this
    # at the landing directory new files arrive in).
    stage = os.path.join(
        tempfile.gettempdir(),
        "demo_pgvector_spark_stream",
        hashlib.sha256(sf_dir.encode()).hexdigest()[:12],
    )
    os.makedirs(stage, exist_ok=True)
    link = os.path.join(stage, "events.parquet")
    if not os.path.exists(link):
        os.symlink(f"{sf_dir}/events.parquet", link)
    stream = spark.readStream.schema(batch_schema).parquet(stage)
    ts_type = dict(stream.dtypes).get("ts")
    if ts_type == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def windowed_counts(
    events: DataFrame,
    window: str = "10 minutes",
    slide: str | None = None,
    watermark: str | None = DEFAULT_WATERMARK,
) -> DataFrame:
    """Tumbling (or sliding, when ``slide`` is given) window counts and
    value sums per event_type. Late rows beyond the watermark are
    dropped in streaming mode; in batch mode the watermark is a no-op —
    same result when no data is late, which the symmetric test pins."""
    if watermark is not None and events.isStreaming:
        events = events.withWatermark("ts", watermark)
    win = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        events.groupBy(win.alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def session_windows(
    events: DataFrame,
    gap: str = "5 minutes",
    watermark: str | None = DEFAULT_WATERMARK,
) -> DataFrame:
    """Per-user session windows: events within ``gap`` of each other
    merge into one session (F.session_window — stateful merge in
    streaming, gaps-and-islands in batch)."""
    if watermark is not None and events.isStreaming:
        events = events.withWatermark("ts", watermark)
    return (
        events.groupBy(F.session_window("ts", gap).alias("s"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 6).alias("sum_value"))
        .select(
            F.date_format("s.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("s.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )


def stream_dedup(
    events: DataFrame,
    key_cols: tuple[str, ...] = ("event_id",),
    watermark: str | None = DEFAULT_WATERMARK,
) -> DataFrame:
    """Exactly-once dedup over a stream: ``dropDuplicatesWithinWatermark``
    keeps state only for the watermark horizon (bounded memory — the
    batch ``dropDuplicates`` equivalent needs the full key set forever).
    In batch mode falls back to plain dropDuplicates — same logical
    result when duplicates arrive within the horizon."""
    if events.isStreaming:
        if watermark is not None:
            events = events.withWatermark("ts", watermark)
        return events.dropDuplicatesWithinWatermark(list(key_cols))
    return events.dropDuplicates(list(key_cols))


def run_stream_dedup(
    spark: SparkSession,
    landing: str,
    checkpoint_dir: str,
    schema_ddl: str,
    key_cols: tuple[str, ...] = ("user_id", "event_type"),
    delay: str = "45 days",
    batch_bounds: tuple[str, ...] = ("2024-01-11", "2024-01-21"),
    ts_col: str = "ts",
) -> DataFrame:
    """``dropDuplicatesWithinWatermark`` as a REAL stream (VERDICT r10
    #8 — the last §2.9 primitive previously exercised only in its batch
    ``dropDuplicates`` form): drain a staged landing directory
    (maxFilesPerTrigger=1 — one micro-batch per ascending time-range
    file) through the watermarked dedup state store and return the
    emitted rows as a batch DataFrame.

    Determinism and the batch-replay oracle: WITHIN a micro-batch the
    operator keeps an arbitrary row per key (partition order), so the
    projection emits only columns every within-batch duplicate shares —
    the key itself plus the batch's time-range ordinal (``batch_no``,
    derived from ``ts`` against ``batch_bounds``; the staged files ARE
    those ranges, so all of a key's rows in one batch agree on it).
    With ``delay`` longer than the staged span the watermark never
    passes any event time, no key's state evicts mid-drain, and each
    key is emitted exactly once — in the first batch containing it.
    Drained result ≡ (key, MIN(batch_no)) over the whole corpus, which
    is what the DuckDB oracle computes. Eviction semantics — state
    expiry is first-event ts + delay, the watermark lags one batch,
    and the duplicate lookup runs BEFORE eviction within a batch, so a
    key re-emits only for duplicates arriving in a batch strictly
    after the one whose watermark passed its expiry — are empirically
    pinned in tests/test_streaming.py with a short delay; that
    contract is micro-batch-boundary-dependent and belongs to the
    pytest, not the oracle gate.

    Scale: state is one row per key within the watermark horizon
    (bounded — the batch ``dropDuplicates`` equivalent keeps the full
    key set forever); the drain lands in a parquet FILE SINK and is
    read back, never materializing on the driver."""
    stream = landing_stream(spark, landing, schema_ddl)
    batch_no = F.lit(0)
    for b in batch_bounds:
        batch_no = batch_no + F.when(
            F.col(ts_col) >= F.lit(b).cast("timestamp"), F.lit(1)
        ).otherwise(F.lit(0))
    deduped = (
        stream.withColumn("batch_no", batch_no.cast("int"))
        .withWatermark(ts_col, delay)
        .dropDuplicatesWithinWatermark(list(key_cols))
        .select(*key_cols, "batch_no")
    )
    return drain(deduped, checkpoint_dir)


def run_to_memory(
    stream_df: DataFrame, name: str, output_mode: str | None = None
) -> None:
    """Execute a streaming DataFrame to completion against the current
    file set (Trigger.AvailableNow) into an in-memory table ``name``.

    ``output_mode``: Spark rejects 'complete' for non-aggregating streams
    (e.g. ``stream_dedup``'s dropDuplicatesWithinWatermark output), so
    when it is not given it is inferred from the analyzed plan — an
    Aggregate node → 'complete', otherwise 'append'. Pass 'update' (or
    anything else) explicitly to override."""
    if output_mode is None:
        plan = stream_df._jdf.queryExecution().analyzed().toString()
        output_mode = "complete" if "Aggregate" in plan else "append"
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
