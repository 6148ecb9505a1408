"""SparkSession factory with scale-appropriate defaults.

Local testing runs on local[N]; the conf below is chosen so the same plans
hold on a large cluster: AQE on (runtime re-planning, skew-join handling),
Arrow on (vectorized pandas UDF exchange), UTC session timezone
(deterministic timestamp semantics regardless of host), and a shuffle
partition count that AQE can coalesce downward.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

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
    value on exit (``ingest.drain`` scopes its ``confs`` this way)."""

    def __init__(self, spark: SparkSession, key: str, value):
        self._spark, self._key, self._value = spark, key, value
        self._prev: str | None = None

    def __enter__(self):
        self._prev = self._spark.conf.get(self._key, None)
        self._spark.conf.set(self._key, str(self._value))

    def __exit__(self, *exc):
        if self._prev is not None:
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


# Floor of the file-derived width (round 13): 32-wide rounds over a
# few-MB local input scheduled mostly-empty tasks on every stage of the
# iterative loops, a 1.5-2x regression at bench scale.
MIN_LOOP_PARTITIONS = 8


def session_width(spark: SparkSession) -> int:
    """The session's shuffle width ``spark.sql.shuffle.partitions``."""
    return int(spark.conf.get("spark.sql.shuffle.partitions"))


def _size_conf_bytes(value: str) -> int:
    """Parse a Spark byte-size conf string ('134217728b', '8m', '1g')."""
    s = value.strip().lower()
    if s.endswith("b"):
        s = s[:-1]
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    if s and s[-1] in units:
        return int(float(s[:-1]) * units[s[-1]])
    return int(s)


def scan_splits(df: DataFrame) -> int:
    """Metadata-only estimate of how many input splits ``df``'s scan
    yields: local input file sizes against
    ``spark.sql.files.maxPartitionBytes`` (no DataFrame→RDD conversion,
    no job — VERDICT r9 #8). Remote or unstat-able inputs return a
    large count (trust the lake layout — thousands of splits there);
    an in-memory frame (no input files) returns 0. A streaming frame
    has no estimate: ``inputFiles()`` raises on it."""
    files = df.inputFiles()
    if not files:
        return 0
    local = [f[5:] if f.startswith("file:") else f for f in files]
    if any("://" in f for f in local):
        return 1 << 30
    try:
        total = sum(os.path.getsize(f) for f in local)
    except OSError:
        return 1 << 30
    max_pb = _size_conf_bytes(
        df.sparkSession.conf.get("spark.sql.files.maxPartitionBytes")
    )
    return max(len(files), -(-total // max(max_pb, 1)))


def width_for(df: DataFrame) -> int:
    """The one shuffle-width rule for an explicit exchange over ``df``.

    With ``S`` the session width: ``S`` when ``df`` has no local file
    lineage (an in-memory frame or remote files), otherwise
    ``min(S, max(MIN_LOOP_PARTITIONS, scan_splits(df)))``. A few-MB
    local input therefore runs at most 8 wide (the round-13 floor) and a
    lake-scale input at the full session width. Streams never come
    here: a drain inherits ``S``, which a stateful query freezes into
    its checkpoint as the state width.

    Known underestimate (ADVICE r14): the estimate sizes the SCAN, so an
    edge frame that a self-join fans out far beyond its input — the
    co-occurrence edges of ``q_graph_lpa`` — gets the width of its small
    source file, not of its edge volume."""
    width = session_width(df.sparkSession)
    splits = scan_splits(df)
    if splits == 0:
        return width
    return min(width, max(MIN_LOOP_PARTITIONS, splits))
