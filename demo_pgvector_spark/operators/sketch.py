"""Count-min sketch — bounded-memory frequency estimation.

Extension surface (the reference has no sketch tooling; Spark ships HLL
sketches but no frequency sketch): heavy-hitter detection over a key
domain too large for an exact per-key count table. A d×w grid of BIGINT
cells (d hash rows, w buckets) summarizes ANY number of items in
constant memory; est(item) = min over rows of its cell count
over-approximates the true count with error ≤ εN (w = ⌈e/ε⌉) at
confidence 1−δ (d = ⌈ln 1/δ⌉) — Cormode & Muthukrishnan, J.Alg 2005.

Why it matters at 100 TB: the sketch build is ONE pass with a
partial-combining aggregate over d·N emitted cells into a d×w-bounded
result — and sketches MERGE by cell-wise addition, so per-partition /
per-day / per-stream sketches roll up without reprocessing (the same
ingest-maintained-artifact contract as the IVF layout and the corpus
band index). An exact groupBy over the same domain carries n_keys state
through the shuffle; the sketch carries d·w BIGINTs, period.

Determinism contract: the hash rows are the repo's salted-md5 ticket
scheme (``sample_stratified`` precedent) — H_r(x) = base32(md5(r‖':'‖x))
mod w — so Spark, DuckDB, and a Python replay agree bit-identically;
counts and mins are BIGINT throughout, no float anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CM_DEPTH = 4
CM_WIDTH = 256


def _h(r: int, item_sql: str, w: int) -> str:
    """SQL for hash row ``r``'s bucket of ``item_sql`` (a string expr)."""
    return (
        f"cast(conv(substring(md5(concat('{r}', ':', {item_sql})), 1, 8),"
        f" 16, 10) as bigint) % {w}"
    )


def countmin_build(
    df: DataFrame,
    item_col: str,
    depth: int = CM_DEPTH,
    width: int = CM_WIDTH,
) -> DataFrame:
    """The sketch as a relation: (r, bucket, cnt), ≤ depth·width rows.
    One pass: each input row explodes to its depth (r, bucket) cells,
    then ONE partial-combining count aggregate — map-side combine
    collapses the d× amplification before the (bounded) exchange."""
    item = f"cast({item_col} as string)"
    cells = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(r).alias("r"),
                    F.expr(_h(r, item, width)).alias("bucket"),
                )
                for r in range(depth)
            ]
        )
    ).alias("c")
    return (
        df.select(cells)
        .select("c.r", "c.bucket")
        .groupBy("r", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def countmin_estimate(
    sketch: DataFrame,
    probes: DataFrame,
    item_col: str,
    depth: int = CM_DEPTH,
    width: int = CM_WIDTH,
) -> DataFrame:
    """(item, est) for every probe item: est = min over the depth rows
    of the item's cell count (0 when a cell is empty — the sketch
    relation omits zero cells). The sketch side is ≤ d·w rows, so the
    lookup join broadcasts; the min is a per-item partial aggregate."""
    item = f"cast({item_col} as string)"
    pb = probes.select(
        F.col(item_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"),
                        F.expr(_h(r, item, width)).alias("bucket"),
                    )
                    for r in range(depth)
                ]
            )
        ).alias("c"),
    ).select(item_col, "c.r", "c.bucket")
    return (
        pb.join(F.broadcast(sketch), ["r", "bucket"], "left")
        .groupBy(item_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est"))
    )


# ---------------------------------------------------------------------------
# HyperLogLog — bounded-memory DISTINCT-count estimation
# ---------------------------------------------------------------------------
#
# The cardinality twin of the count-min sketch above (Flajolet, Fusy,
# Gandouet & Meunier, AofA 2007): m = 2^p registers, each holding the
# maximum "rho" (1 + leading-zero count of the hash suffix) seen for the
# items routed to it. Spark ships HLL++ inside approx_count_distinct,
# but its sketch is opaque and differently seeded than any other
# engine's, so it cannot be an ingest-maintained ARTIFACT the way the
# count-min table and the bloom position table are. This explicit
# register RELATION (register, rho) is: it merges by per-register MAX —
# idempotent AND mergeable — so per-partition / per-day / per-stream
# register tables roll up without reprocessing, and a retried streaming
# epoch is harmless with no epoch marker (see streaming/sketches.py
# hll_sink for the contrast with cell-ADD count-min).
#
# Determinism contract: the same md5-hex→BIGINT 32-bit hash bridge as
# the rest of the repo (fingerprint/countmin precedent), integer
# shift/length arithmetic for rho, and an estimate whose inner sum
# Z·2^(Q+1) = Σ 2^(Q+1−rho) is an exact BIGINT (every addend is a
# dyadic rational scaled integer), so Spark, DuckDB and a Python replay
# agree bit-identically on the registers and to fixed 4dp rounding on
# the one float division (+ ln in the small-range branch).

HLL_P = 10  # 2^10 = 1024 registers; std err = 1.04/sqrt(m) = 3.25%
HLL_BITS = 32  # md5-prefix hash width; Q = HLL_BITS - HLL_P suffix bits


def hll_alpha_num(p: int = HLL_P) -> float:
    """alpha_m · m² · 2^(Q+1), folded to ONE double in Python so both
    engines embed the same literal and the estimate is one division."""
    m = 1 << p
    return 0.7213 / (1.0 + 1.079 / m) * m * m * float(1 << (HLL_BITS - p + 1))


def hll_build(
    df: DataFrame,
    item_col: str,
    group_cols: tuple[str, ...] = (),
    p: int = HLL_P,
) -> DataFrame:
    """The HLL sketch as a relation: (*group_cols, register, rho) with
    ≤ m = 2^p rows per group. One pass: hash each item once (staged
    projection — the md5 is NOT recomputed per derived column), split
    into bottom-p-bit register index and top-Q-bit suffix, take the
    per-register MAX of rho in one partial-combining aggregate."""
    m = 1 << p
    q = HLL_BITS - p
    item = f"cast({item_col} as string)"
    staged = df.select(
        *group_cols,
        F.expr(
            f"cast(conv(substring(md5({item}), 1, 8), 16, 10) as bigint)"
        ).alias("_h"),
    ).select(
        *group_cols,
        F.expr(f"_h % {m}").alias("register"),
        # rho = leading zeros of the Q-bit suffix + 1; the all-zero
        # suffix (bit_length 0) gets the sentinel Q + 1.
        F.expr(
            f"CASE WHEN _h div {m} = 0 THEN {q + 1} "
            f"ELSE {q} - length(conv(_h div {m}, 10, 2)) + 1 END"
        ).alias("_rho"),
    )
    return (
        staged.groupBy(*group_cols, "register")
        .agg(F.max("_rho").alias("rho"))
    )


def hll_estimate(
    registers: DataFrame,
    group_cols: tuple[str, ...] = (),
    p: int = HLL_P,
) -> DataFrame:
    """Cardinality estimate per group from a register relation:
    (*group_cols, n_set, zeros, z_num, hll_est).

    z_num = Z·2^(Q+1) = (m − n_set)·2^(Q+1) + Σ_set 2^(Q+1−rho) is kept
    as the exact BIGINT it is (max m·2^(Q+1) = 2^33 at the defaults) —
    the float appears only in the final alpha·m²·2^(Q+1)/z_num division
    and in the small-range correction m·ln(m/zeros) (Flajolet et al.
    §4: below 2.5·m the raw estimator biases high, linear counting on
    the empty-register count is better), both rounded to 4dp. The
    large-range (hash-saturation) correction starts near 2^32/30 ≈
    143 M distincts — beyond any single sketch here; at that scale
    raise p / widen the hash rather than correct after the fact."""
    m = 1 << p
    q = HLL_BITS - p
    per_group = registers.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("int").alias("n_set"),
        F.sum(
            F.expr(f"shiftleft(cast(1 as bigint), {q + 1} - rho)")
        ).alias("_z_set"),
    )
    zeros = F.lit(m) - F.col("n_set")
    # ONE float literal (folded in Python) and ONE division, so Spark
    # and the DuckDB oracle execute the identical IEEE op sequence.
    raw = F.lit(hll_alpha_num(p)) / F.col("z_num")
    return (
        per_group.select(
            *group_cols,
            "n_set",
            zeros.cast("int").alias("zeros"),
            (
                zeros.cast("bigint")
                * F.lit(1 << (q + 1)).cast("bigint")
                + F.col("_z_set")
            ).alias("z_num"),
        )
        .select(
            *group_cols,
            "n_set",
            "zeros",
            "z_num",
            F.round(
                F.when(
                    (raw <= 2.5 * m) & (F.col("zeros") > 0),
                    F.lit(float(m)) * F.log(F.lit(float(m)) / F.col("zeros")),
                ).otherwise(raw),
                4,
            ).alias("hll_est"),
        )
    )
