"""SparkSession factory with scale-appropriate defaults.

Local testing runs on local[N]; the conf below is chosen so the same plans
hold on a large cluster: AQE on (runtime re-planning, skew-join handling),
Arrow on (vectorized pandas UDF exchange), UTC session timezone
(deterministic timestamp semantics regardless of host), and a shuffle
partition count that AQE can coalesce downward.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable confs the engine's results and plans depend on. The
# builder applies them to the sessions it builds; ``tune_session`` applies
# them to a session the caller built (the driver's).
_RUNTIME_CONFS: list[tuple[str, str]] = [
    # deterministic timestamp semantics regardless of host
    ("spark.sql.session.timeZone", "UTC"),
    ("spark.sql.adaptive.enabled", "true"),
    ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
    # Round 13 (guide §3.1/§9): allow shuffled-hash join when its
    # size conditions are met instead of always sort-merge — skips
    # both sides' sorts on the per-round joins of the iterative
    # operators (measured: pagerank plan 10 SMJ → 10 SHJ, no sorts).
    # Scale posture: SHJ is chosen only when the planner's size
    # conditions hold (build side fits per-partition); sort-merge
    # remains the fallback for same-size giant joins.
    ("spark.sql.join.preferSortMergeJoin", "false"),
    # Round 13: the engine's streaming surface is short-lived
    # availableNow drains; the default 60 s state-store maintenance
    # cadence snapshots dozens of accumulated (already-terminated)
    # providers and measurably taxes later micro-batches (A/B:
    # aged-session no-op drain 2.3 s @60s vs 1.0 s @600s). A continuous
    # production stream picks the cadence for its recovery-time target.
    ("spark.sql.streaming.stateStore.maintenanceInterval", "600s"),
    # The testdata's events.ts reads as TIMESTAMP (micros), but outside
    # parquet may carry TIMESTAMP(NANOS), which a plain scan rejects:
    # read nanos as LongType session-wide (tables.load truncates to
    # micros explicitly).
    ("spark.sql.legacy.parquet.nanosAsLong", "true"),
]
# Scan-split override for scale experiments: a single-file local table
# in the tens of MB sits below the default 128 MB split size, so one
# task scans it regardless of cores — a layout no real multi-file lake
# has. SCALE.md sets this to a few MB when benchmarking replicated
# data; production keeps the default (files there are ~1 GB and split
# 8 ways each). Row groups must be comparably small or splits can't
# bisect the file (parquet assigns a row group to one split).
if _max_split := os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES"):
    _RUNTIME_CONFS.append(("spark.sql.files.maxPartitionBytes", _max_split))


def get_session(app_name: str = "demo_pgvector_spark", cpus: int | None = None) -> SparkSession:
    """Build (or fetch) the SparkSession used by tests and bench runs."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Round 14 (guide §5 caching/driver): the engine's iterative and
        # streaming operators localCheckpoint intermediates whose blocks
        # are reclaimed by ContextCleaner only after a JVM GC enqueues
        # their weak references — on an 8 GiB heap that rarely GCs, a
        # long session (the 187-key bench, a day-long production driver)
        # accumulates hundreds of dead cached RDDs and their block-
        # manager entries. Spark's own remedy is the periodic-GC cleaner
        # tick (default 30min — longer than the whole bench session).
        # Measured same-session: an explicit System.gc() after ~30 keys
        # took graph_hyperball from 10.2 to 8.7 s. Static conf, so it is
        # set here (builder) and cannot be applied by tune_session.
        .config("spark.cleaner.periodicGC.interval", "5min")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in _RUNTIME_CONFS:
        builder = builder.config(k, v)
    return builder.getOrCreate()


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply ``_RUNTIME_CONFS`` to an externally provided session.

    The driver harness constructs its own SparkSession and hands it to
    ``queries()`` callables, which tune it here; every conf in the table
    is runtime-settable, so no builder ownership is needed.
    """
    for k, v in _RUNTIME_CONFS:
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf locked down — proceed with session defaults
    return spark


class scoped_conf:
    """Set a runtime conf for a bounded scope and restore the previous
    value on exit. Consumers: streaming drains (``ingest.drain``) and
    small-graph iterative loops (the CC rounds in ``dedup.dedup_assign``
    exchange few-hundred-row label tables; 32-wide exchanges there
    schedule mostly-empty tasks every round). Registry rows run
    sequentially, so the session-global set/restore cannot race another
    query; ``value=None`` is a no-op."""

    def __init__(self, spark: SparkSession, key: str, value):
        self._spark, self._key, self._value = spark, key, value
        self._prev: str | None = None
        self._had = False

    def __enter__(self):
        if self._value is not None:
            self._prev = self._spark.conf.get(self._key, None)
            self._had = self._prev is not None
            self._spark.conf.set(self._key, str(self._value))

    def __exit__(self, *exc):
        if self._value is not None:
            if self._had:
                self._spark.conf.set(self._key, self._prev)
            else:
                # The key had no prior value (not even a session default):
                # leaving the override set would leak it past the scope
                # (ADVICE r8). unset() restores the true "absent" state.
                try:
                    self._spark.conf.unset(self._key)
                except Exception:
                    pass  # conf locked down — nothing to restore
        return False
