"""Stream-stream joins — the stateful two-input operator of the §2.9
extension surface (the reference has no streaming; SURVEY §2.9 scopes
this family). `windows.py` covers stateful one-input aggregation and
`late.py` the watermark/event-time contract; this module runs Spark's
REAL stream-stream inner join: two `readStream` sources, per-side
watermarks, an equi-key + event-time-band join condition, APPEND output.

Semantics the CORRECTNESS oracle relies on (and staging guarantees):

- An inner stream-stream join emits exactly the pairs satisfying the
  join condition, each once, PROVIDED neither side's matching row is
  dropped by watermark eviction before its partner arrives.
- Both sides' state is evicted by the watermark plus the time-range
  condition: left rows older than ``wm − band`` can no longer match any
  future right row and are removed — state is bounded by
  ``(delay + band) × key cardinality``, the same boundedness class as
  the windowed aggregates.
- The staged landing dirs split each side into files by DISJOINT
  ascending event-time ranges (one micro-batch per file, paired across
  sources by mtime order), so cross-batch disorder is zero and any
  in-band match spans at most one batch boundary. With
  ``delay > band`` no true match can be evicted early, hence the
  drained APPEND result equals the BATCH band join — which is exactly
  what the oracle computes. A production deployment keeps the same
  plan and sizes ``delay`` to its real arrival disorder instead.

At scale the plan is the canonical shape: both inputs shuffle once on
the join key into a shared state store keyed (user, time-bucket); no
other exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from demo_pgvector_spark.streaming.ingest import drain, landing_stream


def run_stream_stream_join(
    spark: SparkSession,
    landing_left: str,
    landing_right: str,
    checkpoint_dir: str,
    schema_ddl: str,
    band_minutes: int = 120,
    delay: str = "1 day",
    ts_col: str = "ts",
    key_col: str = "user_id",
    id_col: str = "event_id",
    join_type: str = "inner",
) -> DataFrame:
    """Drain two staged landing directories through a watermarked
    stream-stream join (right row within ``band_minutes`` AFTER its
    left partner on the same key) and return the emitted rows as a
    batch DataFrame: (a_id, b_id, key, lag_seconds).

    ``join_type="leftOuter"`` additionally emits every UNMATCHED left
    row null-extended once the watermark passes the end of its match
    band. The exact emission contract, empirically pinned on Spark 4.1
    (boundary cases probed, the late.py methodology): with the global
    watermark ``wm = min(per-side ms-truncated max event time) − delay``
    computed by the trailing no-data batch, an unmatched left row emits
    iff ``a.ts + band < wm`` STRICTLY (a row at exactly ``wm − band``
    stays in state, un-emitted, awaiting resume). The oracle replays
    matched pairs plus exactly this predicate. Band and delay are whole
    milliseconds, so the ms-truncated comparison is equivalent to the
    µs one on both engines.

    ``lag_seconds`` is the second-truncated event-time gap — BIGINT,
    so the row set hash-matches without float tolerance.

    The drain lands in a PARQUET FILE SINK next to the checkpoint and is
    read back as a batch frame (VERDICT r6 #4): the former memory-sink
    ``collect()`` materialized the full drained stream on the driver —
    fine for a toy, a scale-killer if the pattern escapes to production.
    The file sink is exactly what a deployment would run; result size now
    never touches driver memory."""

    def side(landing: str, alias: str) -> DataFrame:
        return (
            landing_stream(spark, landing, schema_ddl)
            .withWatermark(ts_col, delay)
            .alias(alias)
        )

    joined = side(landing_left, "a").join(
        side(landing_right, "b"),
        F.expr(
            f"a.{key_col} = b.{key_col}"
            f" AND b.{ts_col} >= a.{ts_col}"
            f" AND b.{ts_col} <= a.{ts_col} + interval {band_minutes} minutes"
        ),
        join_type,
    )
    sel = joined.select(
        F.col(f"a.{id_col}").alias("a_id"),
        F.col(f"b.{id_col}").alias("b_id"),
        # coalesce: the equi-key is identical on matched rows and only
        # one side exists on outer-emitted rows
        F.coalesce(F.col(f"a.{key_col}"), F.col(f"b.{key_col}")).alias(key_col),
        (
            F.unix_timestamp(f"b.{ts_col}") - F.unix_timestamp(f"a.{ts_col}")
        ).alias("lag_seconds"),
    )
    return drain(sel, checkpoint_dir)


def run_stream_static_join(
    spark: SparkSession,
    landing: str,
    dim: DataFrame,
    checkpoint_dir: str,
    schema_ddl: str,
    key_col: str = "user_id",
    dim_key: str = "c_custkey",
) -> DataFrame:
    """Stream-static enrichment join — the stateless join variant of the
    streaming surface: every micro-batch joins the arriving rows against
    a BATCH dimension DataFrame. The dim is broadcast, so the stream
    plan has NO stateful store and no exchange at all — each batch is
    scan → broadcast hash join → append; the dim is re-resolvable per
    batch (Spark re-evaluates the batch plan each trigger, which is what
    makes slowly-changing dims pick up changes between triggers).

    Returns the drained APPEND result (one row per arriving event,
    enriched) as a batch DataFrame — equal to the batch join by
    construction, which is what the oracle computes. Drained through a
    parquet FILE SINK and read back (VERDICT r6 #4) — the result never
    materializes on the driver."""
    stream = landing_stream(spark, landing, schema_ddl)
    enriched = stream.join(
        F.broadcast(dim), stream[key_col] == dim[dim_key], "inner"
    ).drop(dim_key)
    return drain(enriched, checkpoint_dir)
