"""Custom stateful streaming operator via ``applyInPandasWithState``
(SURVEY §2.9 extension: "(flat)MapGroupsWithState" — the escape hatch
for semantics the built-in windowed aggregations can't express).

``running_user_totals`` keeps one (count, sum) state per user and emits
the running totals every micro-batch the user appears in — the shape of
a feature-store updater or an online per-entity accumulator. State is
per-key (hash-partitioned by user), Arrow-batched in and out; at 100 TB
the state store is RocksDB-backed and bounded by the key cardinality,
not the event volume.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from demo_pgvector_spark.streaming.ingest import drain, landing_stream

# Both state machines cross Arrow per (state partition × micro-batch) in
# a Python worker — the priced cost (measured A/B, SCALE.md round 8).
# Larger Arrow batches cut the crossing count (maxRecordsPerBatch 10k →
# 1M: ~9.3 → ~7.2 s at sf0.1). Scoped to the drain, not session-global;
# the state width is the session's.
_PY_STATE_CONFS = {"spark.sql.execution.arrow.maxRecordsPerBatch": 1_000_000}

OUTPUT_SCHEMA = "user_id long, n_events long, total_value double"
STATE_SCHEMA = "n long, total double"


def _update(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame(
        {"user_id": [user_id], "n_events": [n], "total_value": [total]}
    )


def running_user_totals(events: DataFrame) -> DataFrame:
    """Per-user running (count, sum(value)) — emits the cumulative state
    each micro-batch the user has new events."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# Sessionized funnel with event-time timeout (VERDICT r6 #6) — the full
# flatMapGroupsWithState shape: custom per-key state machine, event-time
# TIMEOUT eviction, append-mode emission of final rows.
# ---------------------------------------------------------------------------

FUNNEL_OUTPUT_SCHEMA = (
    "user_id long, a_id long, b_id long, outcome string, lag_seconds long"
)
# (armed click's event_id, its event time in micros, done marker)
FUNNEL_STATE_SCHEMA = "a_id long, a_us long, done boolean"

FUNNEL_WINDOW_US = 24 * 3600 * 1_000_000  # conversion window: 24 h


def _funnel_update(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-user state machine — ONE row per user, about the user's FIRST
    'click': 'converted' with the first qualifying 'purchase' (strictly
    after the click in (ts, event_id) order, within the 24 h window), or
    'expired' when the event-time watermark passes the click's window
    with no conversion.

    Expiry comparisons are in WHOLE MILLISECONDS (Spark's watermark and
    timeout-timestamp unit); event ordering and lag use full micros.
    Timeout rule, empirically pinned (tests/test_streaming.py boundary
    probe): a state with timeout timestamp t evicts iff ``t < wm``
    STRICTLY — a state at exactly t == wm survives. The data path applies
    the identical predicate via getCurrentWatermarkMs so an expiry
    observed with new data in the batch matches what the timeout callback
    would have emitted.
    """
    (user_id,) = key
    win_ms = FUNNEL_WINDOW_US // 1000

    def one(a_id, b_id, outcome, lag):
        return pd.DataFrame(
            {
                "user_id": pd.array([user_id], dtype="Int64"),
                "a_id": pd.array([a_id], dtype="Int64"),
                "b_id": pd.array([b_id], dtype="Int64"),
                "outcome": [outcome],
                "lag_seconds": pd.array([lag], dtype="Int64"),
            }
        )

    if state.hasTimedOut:
        a_id, a_us, done = state.get
        # done states never set a timeout, so this is a pending funnel
        state.update((a_id, a_us, True))
        yield one(a_id, None, "expired", None)
        return

    a_id = a_us = None
    done = False
    if state.exists:
        a_id, a_us, done = state.get

    rows = pd.concat(list(pdfs), ignore_index=True)
    rows = rows.sort_values(["ts", "event_id"], kind="mergesort")
    wm_ms = state.getCurrentWatermarkMs()

    out = []
    # pending funnel already expired relative to the batch-start
    # watermark (same strict rule as the timeout eviction)
    if not done and a_id is not None and a_us // 1000 + win_ms < wm_ms:
        out.append(one(a_id, None, "expired", None))
        done = True
    if not done:
        for ev_id, ts, ev_type in zip(
            rows["event_id"], rows["ts"], rows["event_type"]
        ):
            ts_us = ts.value // 1000  # pandas ns -> micros
            if a_id is None:
                if ev_type == "click":
                    a_id, a_us = int(ev_id), ts_us
            elif ev_type == "purchase" and (ts_us, int(ev_id)) > (a_us, a_id):
                if ts_us - a_us <= FUNNEL_WINDOW_US:
                    out.append(
                        one(
                            a_id,
                            int(ev_id),
                            "converted",
                            (ts_us - a_us) // 1_000_000,
                        )
                    )
                    done = True
                    break
    if a_id is not None:
        state.update((a_id, a_us, done))
        if not done:
            # strict eviction (t < wm) means t == wm survives; the guard
            # only protects against Spark's t <= wm API error for a
            # click armed at/behind the watermark
            state.setTimeoutTimestamp(max(a_us // 1000 + win_ms, wm_ms + 1))
    yield from out


def funnel_sessions(events: DataFrame) -> DataFrame:
    """The funnel machine over a WATERMARKED stream: group by user,
    custom state via applyInPandasWithState, EventTimeTimeout. APPEND
    output — every emitted row is final (converted/expired funnels are
    closed; nothing is ever revised).

    State bound at 100 TB: one (a_id, a_us, done) tuple per user that
    has clicked — key-cardinality, not event-volume; pending entries are
    evicted by the event-time timeout, and closed funnels persist only
    the done marker (a production deployment adds a TTL sweep for those;
    the bound is still #users, same class as the windowed aggregates'
    (span x keys))."""
    return events.groupBy("user_id").applyInPandasWithState(
        _funnel_update,
        outputStructType=FUNNEL_OUTPUT_SCHEMA,
        stateStructType=FUNNEL_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def run_funnel_stream(
    spark,
    landing: str,
    checkpoint_dir: str,
    schema_ddl: str,
    delay: str = "1 day",
    ts_col: str = "ts",
) -> DataFrame:
    """Drain a staged landing directory (one micro-batch per file, mtime
    order) through the watermarked funnel machine; return the emitted
    rows as a batch DataFrame via the parquet-file-sink read-back (no
    driver materialization). The trailing no-data batch of
    ``availableNow`` fires the event-time timeouts with the final
    watermark — that is where 'expired' rows for quiet users emit."""
    stream = landing_stream(spark, landing, schema_ddl)
    out = funnel_sessions(stream.withWatermark(ts_col, delay))
    return drain(out, checkpoint_dir, confs=_PY_STATE_CONFS)


# ---------------------------------------------------------------------------
# Rolling z-score anomaly detection as a stateful stream
# ---------------------------------------------------------------------------

ANOM_OUTPUT_SCHEMA = (
    "event_id long, user_id long, ts string, v_scaled long,"
    " n_prev int, z double, is_anomaly boolean"
)
ANOM_STATE_SCHEMA = "ts_us array<long>, ev array<long>, v array<long>"
ANOM_WINDOW = 20
ANOM_MIN_HIST = 8


def _anomaly_update(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-user trailing-window state machine (the batch ``ts_anomaly``
    as a stream): state is the user's last ≤ 20 (ts_us, event_id,
    v_scaled) rows; each arriving event is z-scored against the buffer
    BEFORE being pushed into it, so with time-ordered epoch slices the
    drained output equals the batch ROWS-window computation row for
    row. All moments are exact integers; z's float ops (int→double
    conversions, sqrt, divide) are the identical IEEE sequence the
    batch row and the DuckDB oracle use. State is 3×20 longs per user
    forever — key-bounded, never event-volume."""
    import math

    (user_id,) = key
    t_buf: list[int] = []
    e_buf: list[int] = []
    v_buf: list[int] = []
    if state.exists:
        t0, e0, v0 = state.get
        t_buf, e_buf, v_buf = list(t0), list(e0), list(v0)

    rows = pd.concat(list(pdfs), ignore_index=True)
    rows = rows.sort_values(["ts", "event_id"], kind="mergesort")

    out = {c: [] for c in (
        "event_id", "user_id", "ts", "v_scaled", "n_prev", "z", "is_anomaly"
    )}
    for ev_id, ts, val in zip(rows["event_id"], rows["ts"], rows["value"]):
        ts_us = ts.value // 1000
        v_scaled = int(math.floor(val * 1_000_000 + 0.5))
        n = len(v_buf)
        z = None
        if n:
            s1 = sum(v_buf)
            s2 = sum(x * x for x in v_buf)
            var_num = n * s2 - s1 * s1
            if var_num > 0:
                z = (n * v_scaled - s1) / math.sqrt(var_num)
        out["event_id"].append(int(ev_id))
        out["user_id"].append(int(user_id))
        out["ts"].append(ts.strftime("%Y-%m-%d %H:%M:%S"))
        out["v_scaled"].append(v_scaled)
        out["n_prev"].append(n)
        out["z"].append(round(z, 4) if z is not None else None)
        out["is_anomaly"].append(
            n >= ANOM_MIN_HIST and z is not None and abs(z) > 3.0
        )
        t_buf.append(ts_us)
        e_buf.append(int(ev_id))
        v_buf.append(v_scaled)
        if len(v_buf) > ANOM_WINDOW:
            t_buf, e_buf, v_buf = (
                t_buf[-ANOM_WINDOW:],
                e_buf[-ANOM_WINDOW:],
                v_buf[-ANOM_WINDOW:],
            )
    state.update((t_buf, e_buf, v_buf))
    yield pd.DataFrame(
        {
            "event_id": pd.array(out["event_id"], dtype="Int64"),
            "user_id": pd.array(out["user_id"], dtype="Int64"),
            "ts": out["ts"],
            "v_scaled": pd.array(out["v_scaled"], dtype="Int64"),
            "n_prev": pd.array(out["n_prev"], dtype="Int32"),
            "z": pd.array(out["z"], dtype="Float64"),
            "is_anomaly": out["is_anomaly"],
        }
    )


def anomaly_flags(events: DataFrame) -> DataFrame:
    """The rolling z-score machine over a stream: group by user, custom
    buffer state via applyInPandasWithState, NoTimeout (the buffer
    never expires — it is overwritten by its own tail), APPEND output
    (every score is final the moment its event arrives)."""
    return events.groupBy("user_id").applyInPandasWithState(
        _anomaly_update,
        outputStructType=ANOM_OUTPUT_SCHEMA,
        stateStructType=ANOM_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_anomaly_stream(
    spark,
    landing: str,
    checkpoint_dir: str,
    schema_ddl: str = "event_id long, ts timestamp, user_id long, value double",
) -> DataFrame:
    """Drain a staged landing directory through the anomaly machine
    (one micro-batch per file, mtime order — the funnel drain shape,
    same Arrow/state-partition tuning) and return the emitted rows via
    the parquet-sink read-back."""
    out = anomaly_flags(landing_stream(spark, landing, schema_ddl))
    return drain(out, checkpoint_dir, confs=_PY_STATE_CONFS)
