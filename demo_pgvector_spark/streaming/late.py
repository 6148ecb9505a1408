"""Watermark-gated late-data handling — the real event-time contract.

The reference has no streaming surface (SURVEY §2.9 scopes the extension);
`streaming/windows.py` proves the window AGGREGATION semantics in batch
mode. This module runs the actual Structured Streaming machinery:
``readStream`` → ``withWatermark`` → tumbling-window aggregate → APPEND
mode, with ``maxFilesPerTrigger=1`` turning a staged directory of files
into a deterministic sequence of micro-batches, so the watermark's
late-row DROP and the append-mode window EMISSION are both exercised and
oracle-replayable.

Empirically pinned Spark semantics (probed on 4.1, boundary cases
included; the oracle in ``oracles.O_STREAM_LATE_DATA`` replays exactly
this):

- the watermark COMMITTED after batch ``n`` is
  ``max(event time over batches ≤ n−1) − delay`` (ms-truncated max);
  i.e. a batch's own data takes effect one batch later;
- the LATE filter in batch ``n`` uses the watermark in effect at batch
  start — the one committed after batch ``n−1``, hence computed from
  data through batch ``n−2`` — and drops rows whose window END is ``<=``
  that watermark;
- append-mode EVICTION at the end of batch ``n`` emits (and removes)
  state windows whose end is ``<=`` the watermark committed after batch
  ``n`` (data through ``n−1``);
- ``Trigger.AvailableNow`` runs one trailing NO-DATA batch after the
  last file (``noDataMicroBatches``), whose eviction applies the
  watermark computed from ALL data — so the final emitted set is
  ``end <= max(all event time) − delay``; only the last ``delay`` of
  windows stays in state (they would emit when the stream resumes).

A row for an already-evicted window can never re-create state: eviction
at batch ``n`` implies end ≤ wm(data ≤ n−1), and every later batch's
filter watermark is at least that — the row is dropped before the store.
That is the exactly-once guarantee append mode buys with watermarks, and
the oracle's count-by-filter formulation relies on it.

At scale this plan is the canonical streaming shape: per-batch partial
aggregation into a keyed state store, state bounded by (watermark window
span × key cardinality), shuffle keyed on (window, key) only.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from demo_pgvector_spark.streaming.ingest import drain, landing_stream


def _require_split_watermark(spark: SparkSession) -> None:
    """The semantics pinned in the module docstring (late filter uses
    the watermark from data through batch n−2, eviction through n−1)
    hold only on Spark ≥ 3.4, where late-event filtering and state
    eviction read SEPARATE watermarks (SPARK-39931's
    watermarkForLateEvents/watermarkForEviction split). On a downlevel
    runtime both phases share one watermark and the oracle replay would
    silently diverge — fail loudly instead (ADVICE r5)."""
    major, minor = (int(x) for x in spark.version.split(".")[:2])
    if (major, minor) < (3, 4):
        raise RuntimeError(
            f"streaming late-data semantics require Spark >= 3.4 "
            f"(split late-filter/eviction watermarks); running {spark.version}"
        )


def run_late_data_stream(
    spark: SparkSession,
    landing: str,
    checkpoint_dir: str,
    schema_ddl: str,
    delay: str = "2 days",
    window: str = "1 day",
    ts_col: str = "ts",
    key_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """Drain a staged landing directory (one micro-batch per file, mtime
    order) through a watermarked tumbling-window aggregate in APPEND
    mode; return the emitted (finalized) windows as a batch DataFrame.

    Aggregates are count + sum of the BIGINT id column — exact,
    summation-order-free values, so the oracle replay hash-matches
    without float tolerance.

    The drain lands in a PARQUET FILE SINK next to the checkpoint and is
    read back as a batch frame (VERDICT r6 #4): the former memory-sink
    ``collect()`` materialized the full drained stream on the driver.
    The file sink is the deployment shape; result size never touches
    driver memory."""
    _require_split_watermark(spark)
    stream = landing_stream(spark, landing, schema_ddl)
    agg = (
        stream.withWatermark(ts_col, delay)
        .groupBy(F.window(ts_col, window).alias("w"), key_col)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(id_col).alias("sum_ids"),
        )
    )
    out = drain(agg, checkpoint_dir)
    return out.select(
        F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        F.col(key_col),
        "n",
        "sum_ids",
    )


def run_late_data_stream_update(
    spark: SparkSession,
    landing: str,
    checkpoint_dir: str,
    schema_ddl: str,
    delay: str = "2 days",
    window: str = "1 day",
    ts_col: str = "ts",
    key_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """The UPDATE-mode counterpart to ``run_late_data_stream``: every
    micro-batch emits the CURRENT running aggregate of each (window,
    key) group that received surviving rows in that batch — the
    changelog a downstream upsert sink (the versioned warehouse's
    ``foreachBatch`` upsert, or a KV store) consumes. The memory sink
    accumulates all deltas, so one (window, key) appears once per batch
    that touched it, each time with the then-cumulative count — a
    deterministic MULTISET under file-ordered triggers, which is what
    the oracle replays (same late-drop filter cascade as append mode;
    eviction past the watermark drops state silently, emitting
    nothing).

    Spark's file sink rejects UPDATE mode, so the changelog drains
    through ``foreachBatch`` into the sibling out-dir the append row
    uses, one ``epoch=<id>`` directory per micro-batch — exactly how a
    deployment lands an update-mode changelog on files, and the
    directories ARE the delta multiset. A retried epoch replays the
    same batch id and the same delta (the state store restarts from the
    version before it), so overwriting its directory makes the write
    idempotent: a crash after the write and before the epoch commits
    cannot land the delta twice. No driver materialization (VERDICT r6
    #4)."""
    _require_split_watermark(spark)
    stream = landing_stream(spark, landing, schema_ddl)
    agg = (
        stream.withWatermark(ts_col, delay)
        .groupBy(F.window(ts_col, window).alias("w"), key_col)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(id_col).alias("sum_ids"),
        )
    )
    out_dir = checkpoint_dir.rstrip("/") + ".out"
    os.makedirs(out_dir, exist_ok=True)

    def _write_delta(batch: DataFrame, epoch_id: int) -> None:
        batch.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"epoch={epoch_id}")
        )

    drain(agg, checkpoint_dir, _write_delta, output_mode="update")
    return spark.read.schema(agg.schema).parquet(out_dir).select(
        F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        F.col(key_col),
        "n",
        "sum_ids",
    )
