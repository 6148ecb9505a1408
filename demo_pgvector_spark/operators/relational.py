"""Relational extension operators beyond the reference's single inner
join (SURVEY §2.3 marks hash/range/as-of joins, set ops, grouping
analytics as extension surface; the reference's only join is
src/lib/database.py:304-305).

The distinctive piece is the distributed **as-of join** — Spark has no
built-in ASOF JOIN (DuckDB does, which is what the oracle uses). The
classic scale-correct construction: tag probe and quote rows, union
them, and carry the latest quote payload forward with a
``last(ignorenulls)`` window ordered by (time, tag) within each key —
one shuffle on the key, no range explosion, no per-key cross product.
State per partition is one carried payload — the same shape a
streaming as-of would keep.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from demo_pgvector_spark.session import session_width


def asof_join(
    probes: DataFrame,
    quotes: DataFrame,
    key: str,
    probe_ts: str,
    quote_ts: str,
    payload_cols: tuple[str, ...],
    probe_cols: tuple[str, ...] = (),
) -> DataFrame:
    """For each probe row: the payload of the latest quote with
    ``quote_ts <= probe_ts`` in the same key (backward as-of, left
    semantics — probes with no earlier quote keep NULL payload).

    Quotes are first deduplicated to one per (key, ts) — max payload
    struct, deterministic — because as-of is ill-defined under ties.
    """
    pay_struct = F.struct(*[F.col(c) for c in payload_cols])
    q1 = (
        quotes.groupBy(F.col(key), F.col(quote_ts).alias("_t"))
        .agg(F.max(pay_struct).alias("_pay"))
        .select(key, "_t", "_pay")
        .withColumn("_is_probe", F.lit(0))
    )
    p1 = probes.select(
        F.col(key),
        F.col(probe_ts).alias("_t"),
        *[F.col(c) for c in probe_cols],
    ).withColumn("_is_probe", F.lit(1)).withColumn("_pay", F.lit(None).cast(q1.schema["_pay"].dataType))

    u = q1.select(key, "_t", "_is_probe", "_pay", *[F.lit(None).alias(c) for c in probe_cols]).unionByName(
        p1.select(key, "_t", "_is_probe", "_pay", *probe_cols)
    )
    # quotes at the same timestamp sort before probes (0 < 1) → the
    # boundary is inclusive: a quote AT the probe time is visible to it
    w = (
        Window.partitionBy(key)
        .orderBy(F.col("_t").asc(), F.col("_is_probe").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = u.withColumn("_asof", F.last("_pay", ignorenulls=True).over(w))
    out = carried.filter(F.col("_is_probe") == 1).select(
        key,
        F.col("_t"),
        *probe_cols,
        *[F.col("_asof").getField(c).alias(c) for c in payload_cols],
    )
    return out


def range_join(
    lineitem: DataFrame,
    orders: DataFrame,
    days: int = 120,
) -> DataFrame:
    """Equi + range predicate join: lineitems shipped within ``days`` of
    their order's date. The equi key keeps it a hash join (the range
    predicate is a post-join filter pushed into the join condition) —
    never a cross product."""
    cond = (
        (lineitem["l_orderkey"] == orders["o_orderkey"])
        & (lineitem["l_shipdate"] >= orders["o_orderdate"])
        & (lineitem["l_shipdate"] <= F.date_add(orders["o_orderdate"], days))
    )
    return lineitem.join(orders, cond, "inner")


def interval_overlap_join(
    a: DataFrame,
    b: DataFrame,
    a_start: str = "a_start",
    a_end: str = "a_end",
    b_start: str = "b_start",
    b_end: str = "b_end",
    cell: int = 64,
) -> DataFrame:
    """Interval × interval OVERLAP join with NO equi key — the join
    ``join_range`` cannot express: ``a_start ≤ b_end AND b_start ≤
    a_end`` alone gives Catalyst nothing to hash on, so the naive plan
    is a BroadcastNestedLoopJoin (O(|A|·|B|) comparisons — a scale
    killer even when the OUTPUT is small). Grid bucketing manufactures
    the equi key: every interval explodes to the ``cell``-width grid
    cells it touches, the join runs as a plain HASH join on the cell,
    and the exact overlap predicate rides along. A pair overlapping
    across several shared cells would duplicate, so each pair is OWNED
    by exactly one cell — the cell containing max(a_start, b_start),
    the left edge of the overlap — which removes the duplicate-pair
    dedup shuffle entirely (the classic spatial-join ownership trick).

    All-integer (BIGINT bounds, `div` grid math): bit-exact parity.
    Cost: |A|·(len/cell + 1) + |B|·(len/cell + 1) exploded rows, one
    hash exchange each side; per-cell work is density-bounded, so
    ``cell`` tunes the explode-factor vs bucket-occupancy trade like
    every spatial grid. Plan pinned no-nested-loop in
    tests/test_plans.py."""
    ac = a.withColumn(
        "_cell",
        F.explode(
            F.sequence(
                F.expr(f"{a_start} div {cell}"), F.expr(f"{a_end} div {cell}")
            )
        ),
    )
    bc = b.withColumn(
        "_cell",
        F.explode(
            F.sequence(
                F.expr(f"{b_start} div {cell}"), F.expr(f"{b_end} div {cell}")
            )
        ),
    )
    return (
        ac.join(bc, "_cell")
        .filter(
            (F.col(a_start) <= F.col(b_end))
            & (F.col(b_start) <= F.col(a_end))
            & (
                F.col("_cell")
                == F.expr(f"greatest({a_start}, {b_start}) div {cell}")
            )
        )
        .drop("_cell")
    )


def group_ranked(
    vals: DataFrame,
    keys: tuple[str, ...],
    value_col: str = "v",
) -> DataFrame:
    """Global 0-based rank of ``value_col`` within each key group, with
    the group size — the distributed building block for EXACT order
    statistics (percentiles, medians, ntiles) over groups of ANY size.

    A ``row_number`` window partitioned by the key serializes each group
    onto one task (3 groups → 3-way parallelism no matter the cluster);
    the builtin ``percentile`` aggregate buffers every group value in one
    reducer. This is the classic two-pass distributed rank instead:

    1. ``repartitionByRange(keys..., value)`` + ``sortWithinPartitions``
       — a RANGE exchange: every partition holds a contiguous slice of
       one-or-more (key, value) runs, all partitions sort in parallel,
       spillable.
    2. ``monotonically_increasing_id()`` over the sorted partitions
       yields per-partition sequential ids in sorted order; a TINY
       aggregate (one row per partition×key) computes each run's start
       id and the cross-partition prefix offsets, broadcast back.
       Global rank = prefix_offset + (id − run_start).

    Exchanges: one range repartition of the data + one k·P-row aggregate
    — nothing group-serial anywhere. Ties order arbitrarily within equal
    values (ranks among equal values are interchangeable for order
    statistics). Returns ``keys… value_col rn n``.
    """
    kcols = [F.col(k) for k in keys]
    r = (
        vals.repartitionByRange(
            session_width(vals.sparkSession), *kcols, F.col(value_col)
        )
        .sortWithinPartitions(*kcols, F.col(value_col))
        .select(*kcols, value_col, F.monotonically_increasing_id().alias("_mid"))
    )
    per_run = r.groupBy(F.spark_partition_id().alias("_pid"), *kcols).agg(
        F.min("_mid").alias("_start"), F.count(F.lit(1)).alias("_c")
    )
    w_off = (
        Window.partitionBy(*kcols)
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = per_run.select(
        "_pid",
        *kcols,
        "_start",
        F.coalesce(F.sum("_c").over(w_off), F.lit(0)).alias("_off"),
        F.sum("_c").over(Window.partitionBy(*kcols)).alias("n"),
    )
    joined = r.withColumn("_pid", F.spark_partition_id()).join(
        F.broadcast(offsets), ["_pid", *keys]
    )
    return joined.select(
        *kcols,
        value_col,
        (F.col("_mid") - F.col("_start") + F.col("_off")).alias("rn"),
        "n",
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    path: str,
    buckets: int = 8,
) -> None:
    """Persist ``df`` as an external parquet table hash-BUCKETED (and
    within-bucket sorted) on ``key`` — the write-time layout that makes
    every later equi-join / aggregation on ``key`` exchange-free.

    At 100 TB this is the co-location contract between fact tables that
    join repeatedly (lineitem ⋈ orders every query): pay the shuffle
    once at ingest, never again. Spark records the bucket spec in the
    catalog; scans of two tables bucketed (same key, same count) report
    compatible HashPartitioning and the join planner drops both
    exchanges (and with sortBy, both sorts).
    """
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    (
        # Pre-repartition on the bucket hash so each task holds exactly
        # one bucket → ONE file per bucket. Spark's sorted-bucket scan
        # only trusts sortBy (and elides the join's sorts) when a bucket
        # is a single file; with the default many-files-per-bucket
        # layout the SMJ re-sorts every partition.
        df.repartition(buckets, F.col(key))
        .write.mode("overwrite")
        .option("path", path)
        .bucketBy(buckets, key)
        .sortBy(key)
        .format("parquet")
        .saveAsTable(table)
    )


def bucketed_revenue_join(spark, li_table: str, ord_table: str) -> DataFrame:
    """Per-order revenue over two co-bucketed tables: join and group ON
    THE BUCKET KEY, so the whole plan runs exchange-free (the groupBy
    keys are a superset of the scan's hash distribution). Compare
    q_join_lineitem_orders, whose ad-hoc layout shuffles both sides."""
    li = spark.table(li_table)
    # The MERGE hint models the 100 TB case: neither fact side fits the
    # broadcast threshold there, and sort-merge over co-bucketed sorted
    # tables is the exchange-AND-sort-free plan this layout exists for.
    # (At bench scale Spark would otherwise broadcast the orders side.)
    orders = spark.table(ord_table).hint("merge")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    one = F.lit(1).cast("decimal(18,2)")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"], "inner")
        .groupBy("o_orderkey", "o_orderpriority")
        .agg(
            # round the EXACT decimal sum, then cast: per-order sums hit
            # .xx5 ties often, and rounding after a double cast diverges
            # between engines on values binary can't represent
            F.round(F.sum(price * (one - disc)), 2)
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


def sessionize(
    events: DataFrame,
    gap_seconds: int = 300,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """PER-EVENT sessionization — gaps-and-islands: a new session starts
    at a row whose gap to the user's previous event exceeds
    ``gap_seconds``. Emits every event tagged with its session ordinal
    and position (the "build user interaction sequences" step a
    training pipeline runs before packing behavioral data), where
    ``stream_session_windows`` emits the per-session AGGREGATES.

    Ordering inside a user is (ts, event_id) — a total order, so ties
    at the same timestamp sessionize deterministically on both engines.
    Gap comparison is integer epoch-seconds (BIGINT-exact).

    100 TB posture: ONE hash exchange on the user key feeds both window
    passes (lag → island cumsum → per-session position) — Spark reuses
    the single sort (ts, id) within partitions for all three window
    functions; no joins, no second shuffle. Skew: a bot user with 10⁸
    events serializes one partition — the mitigation (documented, not
    default) is a coarse time-shard salt on (user, day) at ingest,
    which cannot split a true session that crosses the boundary unless
    the day edge falls inside a gap-free run."""
    w_user = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    epoch = F.unix_timestamp(F.col(ts_col))
    new_session = (
        F.when(
            epoch - F.lag(epoch).over(w_user) > gap_seconds, F.lit(1)
        )
        .otherwise(F.lit(0))
    )
    with_idx = events.select(
        F.col(user_col),
        F.col(id_col),
        F.col(ts_col),
        F.sum(new_session).over(
            w_user.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("_island"),
    )
    w_sess = Window.partitionBy(user_col, "_island").orderBy(ts_col, id_col)
    return with_idx.select(
        user_col,
        id_col,
        F.date_format(ts_col, "yyyy-MM-dd HH:mm:ss").alias("ts"),
        (F.col("_island") + 1).alias("session_seq"),
        F.row_number().over(w_sess).cast("bigint").alias("event_seq"),
    )


def profile_skew(
    df: DataFrame,
    key_col: str,
    top_n: int = 5,
) -> DataFrame:
    """Pre-shuffle skew diagnostic for a prospective join/agg key: the
    top-``top_n`` hottest keys with their absolute and per-mille share,
    plus the global skew summary every row carries (n_keys, and the
    max-key-over-mean ratio ×100) — the numbers that decide between a
    plain hash join, salting, and AQE skew handling BEFORE burning the
    shuffle. Companion to ``profile_columns`` (values) and
    ``join_skew_salted`` (the cure this operator diagnoses).

    All-integer output (BIGINT counts, ``div`` ratios) — bit-exact
    parity. Plan: one partial-combining count aggregate per consumer;
    the hot-key list is a TakeOrdered over the n_keys-sized count table
    and the summary a single-row aggregate broadcast back — two passes
    over the counts (the profile_table two-scan precedent: fusing them
    needs a single-partition window over every key). Output is
    top_n rows regardless of table size."""
    counts = df.groupBy(F.col(key_col).alias("key_value")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    summary = counts.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("cnt").alias("n_rows"),
        F.max("cnt").alias("max_cnt"),
    )
    top = counts.orderBy(F.col("cnt").desc(), F.col("key_value").asc()).limit(
        int(top_n)
    )
    w = Window.orderBy(F.col("cnt").desc(), F.col("key_value").asc())
    return (
        top.join(F.broadcast(summary))
        .select(
            F.row_number().over(w).cast("bigint").alias("rank"),
            "key_value",
            "cnt",
            F.expr("(cnt * 1000) div n_rows").alias("per_mille"),
            "n_keys",
            F.expr("(max_cnt * n_keys * 100) div n_rows").alias("skew_x100"),
        )
    )


def profile_columns(
    df: DataFrame,
    int_cols: tuple[str, ...] = (),
    str_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Column-profile statistics — the data-validation pass a pipeline
    runs before training on a new drop: one row per profiled column
    with (n, n_null, n_distinct, min, max). Exact counts, not sketches
    (the sketch path is agg_approx_distinct); min/max reported as
    strings so integer and string columns share one output schema —
    profiled columns are restricted to BIGINT/string types, whose
    string forms are engine-exact (doubles are NOT: '1.0E4' formatting
    diverges, so a double column must be profiled via its own typed
    row, deliberately unsupported here).

    100 TB posture: TWO scans, deliberately not one. Scan 1 computes
    count/null-count/min/max (whole-stage-codegen HashAggregate,
    partial-combining map-side into a single row); scan 2 computes the
    exact distincts (Catalyst's Expand + two-phase aggregate). Fusing
    them into one ``agg`` LOOKS cheaper but is ~8× slower: the
    multi-distinct rewrite routes the plain stats through
    ``first() FILTER (gid=0)`` wrappers over the expanded stream and
    the whole aggregate falls back to SortAggregate — measured 8-10 s
    vs ~2 s split, sf0.1 (the expand multiplies the scan by
    #distinct-columns+1 and SORTS it). The two single-row results
    cross-join (1×1) and stack() unpivots — driver-side tiny."""
    cols = (*int_cols, *str_cols)
    base_aggs = []
    for c in cols:
        base_aggs += [
            F.count(F.col(c)).alias(f"__n_{c}"),
            F.sum(F.col(c).isNull().cast("bigint")).alias(f"__nn_{c}"),
            F.min(F.col(c)).cast("string").alias(f"__mn_{c}"),
            F.max(F.col(c)).cast("string").alias(f"__mx_{c}"),
        ]
    base = df.agg(*base_aggs)
    nd = df.agg(
        *[F.countDistinct(F.col(c)).alias(f"__nd_{c}") for c in cols]
    )
    one = base.crossJoin(nd)
    stack_args = ", ".join(
        f"'{c}', __n_{c}, __nn_{c}, __nd_{c}, __mn_{c}, __mx_{c}"
        for c in (*int_cols, *str_cols)
    )
    n = len(int_cols) + len(str_cols)
    return one.select(
        F.expr(
            f"stack({n}, {stack_args}) AS "
            "(column, n, n_null, n_distinct, min_val, max_val)"
        )
    )


def asof_join_nearest(
    probes: DataFrame,
    quotes: DataFrame,
    key: str,
    probe_ts: str,
    quote_ts: str,
    payload_cols: tuple[str, ...],
    probe_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Nearest-in-time as-of variant (pandas merge_asof
    direction='nearest'): each probe gets the quote minimizing
    |quote_ts − probe_ts| within its key, ties to the EARLIER quote
    (the backward side). Same union+carry shape as ``asof_join`` —
    one shuffle on the key, two carry windows (backward last / forward
    first), never a range explosion — so the 100 TB posture is
    identical. Output adds ``side`` ('backward'/'forward') and the
    winning quote's timestamp ``matched_ts``."""
    pay_struct = F.struct(
        F.col(quote_ts).alias("_qt"), *[F.col(c) for c in payload_cols]
    )
    q1 = (
        quotes.groupBy(F.col(key), F.col(quote_ts).alias("_t"))
        .agg(F.max(pay_struct).alias("_pay"))
        .select(key, "_t", "_pay")
        .withColumn("_is_probe", F.lit(0))
    )
    p1 = (
        probes.select(
            F.col(key),
            F.col(probe_ts).alias("_t"),
            *[F.col(c) for c in probe_cols],
        )
        .withColumn("_is_probe", F.lit(1))
        .withColumn("_pay", F.lit(None).cast(q1.schema["_pay"].dataType))
    )
    u = q1.select(
        key, "_t", "_is_probe", "_pay",
        *[F.lit(None).alias(c) for c in probe_cols],
    ).unionByName(p1.select(key, "_t", "_is_probe", "_pay", *probe_cols))
    # backward: quotes at the same ts sort BEFORE probes → inclusive;
    # forward: descending ts with quotes still first → inclusive too,
    # so an exact-time quote is visible to both sides (Δ = 0, backward
    # wins the tie).
    wb = (
        Window.partitionBy(key)
        .orderBy(F.col("_t").asc(), F.col("_is_probe").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy(key)
        .orderBy(F.col("_t").desc(), F.col("_is_probe").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = u.withColumn(
        "_b", F.last("_pay", ignorenulls=True).over(wb)
    ).withColumn("_f", F.last("_pay", ignorenulls=True).over(wf))
    # Deltas at native microsecond precision (unix_micros, not
    # unix_timestamp): whole-second truncation could flip the
    # nearest-side pick or the backward tie rule on sub-second
    # timestamps, diverging from true |Δ| and from pandas merge_asof
    # (ADVICE r10 #2).
    db = F.unix_micros(F.col("_t").cast("timestamp")) - F.unix_micros(
        F.col("_b").getField("_qt").cast("timestamp")
    )
    df_ = F.unix_micros(
        F.col("_f").getField("_qt").cast("timestamp")
    ) - F.unix_micros(F.col("_t").cast("timestamp"))
    pick_b = F.col("_f").isNull() | (F.col("_b").isNotNull() & (db <= df_))
    nearest = F.when(pick_b, F.col("_b")).otherwise(F.col("_f"))
    out = carried.filter(F.col("_is_probe") == 1).select(
        key,
        F.col("_t"),
        *probe_cols,
        F.when(nearest.isNull(), F.lit(None).cast("string"))
        .when(pick_b, F.lit("backward"))
        .otherwise(F.lit("forward"))
        .alias("side"),
        nearest.getField("_qt").alias("matched_ts"),
        *[nearest.getField(c).alias(c) for c in payload_cols],
    )
    return out
