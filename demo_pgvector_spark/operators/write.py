"""Write-path operators: upsert semantics without a transactional store.

The reference's write path is three row-at-a-time psycopg2 routines:

- U1 ``create_or_lookup_model_id`` (src/lib/database.py:58-88): SELECT id
  by name, INSERT RETURNING id on miss;
- U2 ``create_or_lookup_source`` (src/lib/database.py:90-215): SELECT by
  the UNIQUE key ``(model_id, author, title, year)`` with null-safe
  comparisons (``IS NOT DISTINCT FROM``, config/init.sql:23), INSERT on
  miss, IntegrityError retry for races;
- ``insert_source_chunk`` (src/lib/database.py:217-280): two INSERTs
  (vector row + payload row) sharing the generated chunk id in one
  transaction.

Spark-first re-expression (SURVEY M2): set-oriented batch upserts —
deduplicate the incoming batch on the unique key, LEFT ANTI join against
the existing table to keep only novel keys, allocate surrogate ids as
``max(existing.id) + row_number()`` over a deterministic key order, then
UNION. Idempotence replaces transactionality: re-applying the same batch
is a no-op (proven by property test), so the reference's race-retry path
(SURVEY Q4) has no batch equivalent to reproduce.

Scale notes (100 TB posture):
- The anti-join shuffles on the unique key — the same hash partitioning
  the dedup already needs, so AQE reuses one exchange shape; with a small
  dimension table the existing side broadcasts.
- Id allocation uses an UNPARTITIONED ``row_number`` window — a single-
  partition sort over the NOVEL rows only. This is deliberate: a global
  sequence is inherently serial, and dimension-batch deltas (new models /
  new sources per import run) are small even when the fact data is 100 TB.
  Do NOT reuse this for fact-table ids — ``allocate_ids`` below offers a
  partition-parallel variant via ``monotonically_increasing_id`` when
  dense ids are not required.
- ``max(id)`` is folded in via a 1-row broadcast cross join (no collect).
"""

from __future__ import annotations

import functools
from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _nullsafe_cond(left: DataFrame, right: DataFrame, keys: Sequence[str]) -> Column:
    """AND-fold of null-safe equalities — Spark's ``eqNullSafe`` is the
    exact analogue of the reference's ``IS NOT DISTINCT FROM`` predicate
    (src/lib/database.py:152-159)."""
    cond = F.lit(True)
    for k in keys:
        cond = cond & left[k].eqNullSafe(right[k])
    return cond


def _key_order(keys: Sequence[str]) -> list[Column]:
    """Deterministic total order over (possibly null) key columns.

    NULLS FIRST explicitly on every key: Spark defaults asc to nulls-first
    but DuckDB defaults to nulls-last, so oracle SQL must spell the same
    ordering (``ASC NULLS FIRST``)."""
    return [F.col(k).asc_nulls_first() for k in keys]


def dedupe_batch(
    incoming: DataFrame, keys: Sequence[str], order_by: Sequence[str] | None = None
) -> DataFrame:
    """Keep exactly one row per unique key from the incoming batch.

    ``dropDuplicates`` keeps an *arbitrary* row per key — nondeterministic
    under retries and unverifiable against an oracle — so this picks the
    row_number()==1 row under an explicit order instead (the reference's
    per-row loop keeps the FIRST occurrence; with ``order_by`` = arrival
    key this reproduces that)."""
    order = (
        [F.col(c).asc_nulls_first() for c in order_by]
        if order_by
        else _key_order(keys)
    )
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(*order)
    return (
        incoming.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def upsert(
    existing: DataFrame,
    incoming: DataFrame,
    keys: Sequence[str],
    id_col: str = "id",
    batch_order: Sequence[str] | None = None,
) -> DataFrame:
    """Generic lookup-or-insert: returns ``existing`` plus one new row (with
    a freshly allocated id) for every incoming unique key not already
    present. Null-safe key matching throughout.

    Column contract: ``incoming`` must carry every ``existing`` column
    except ``id_col``; it may carry extra columns (e.g. an arrival-order
    key referenced by ``batch_order``), which are dropped after dedup.
    """
    payload_cols = [c for c in existing.columns if c != id_col]
    return existing.select(id_col, *payload_cols).unionByName(
        upsert_allocated(existing, incoming, keys, id_col, batch_order)
    )


def upsert_allocated(
    existing: DataFrame,
    incoming: DataFrame,
    keys: Sequence[str],
    id_col: str = "id",
    batch_order: Sequence[str] | None = None,
) -> DataFrame:
    """Just the NOVEL rows of the upsert, with freshly allocated ids —
    the delta a versioned add-files commit appends (``upsert`` ==
    ``existing`` ∪ this, and the id allocation is shared verbatim)."""
    payload_cols = [c for c in existing.columns if c != id_col]
    batch = dedupe_batch(incoming, keys, batch_order).select(*payload_cols)
    novel = batch.join(existing, _nullsafe_cond(batch, existing, keys), "left_anti")

    max_id = existing.agg(
        F.coalesce(F.max(id_col), F.lit(0)).cast("long").alias("_max_id")
    )
    w = Window.orderBy(*_key_order(keys))
    allocated = (
        novel.crossJoin(F.broadcast(max_id))
        .withColumn(id_col, (F.col("_max_id") + F.row_number().over(w)).cast("long"))
        .drop("_max_id")
    )
    return allocated.select(id_col, *payload_cols)


def upsert_models(
    existing: DataFrame,
    incoming: DataFrame,
    batch_order: Sequence[str] | None = None,
) -> DataFrame:
    """U1 (src/lib/database.py:58-88): lookup-or-insert by ``name``."""
    return upsert(existing, incoming, keys=["name"], batch_order=batch_order)


SOURCE_UNIQUE_KEYS = ("model_id", "author", "title", "year")


def upsert_sources(
    existing: DataFrame,
    incoming: DataFrame,
    batch_order: Sequence[str] | None = None,
) -> DataFrame:
    """U2 (src/lib/database.py:90-215): null-safe dedup upsert on the
    UNIQUE key (model_id, author, title, year) from config/init.sql:23."""
    return upsert(
        existing, incoming, keys=list(SOURCE_UNIQUE_KEYS), batch_order=batch_order
    )


def append_chunks(
    existing_chunks: DataFrame,
    batch: DataFrame,
    id_col: str = "id",
    order_by: Sequence[str] = ("source_id", "chunk_number"),
    stage: Callable[[DataFrame], DataFrame] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The two-table chunk insert (src/lib/database.py:217-280) as one
    lineage: allocate a shared chunk id per batch row, then project the
    vector row (``source_chunks``) and the payload row
    (``source_chunk_data``) from the same allocated frame.

    ``batch`` columns: source_id, model_id, embedding, metadata,
    chunk_text, plus the ``order_by`` columns that make id allocation
    deterministic. Atomicity is the Parquet job-level all-or-nothing
    commit instead of a DB transaction.

    ``stage``, when given, receives the allocated frame (id, source_id,
    model_id, embedding, metadata, chunk_text) and returns a
    materialised copy of it — pipeline.import_documents passes a staged
    parquet write read back — so both projections read those rows and
    the batch's lineage and the allocation window run once.

    ``order_by`` MUST be a TOTAL order over the batch (no ties): under a
    tied order, re-execution may rank tied rows differently, making ids
    nondeterministic across reruns and — without ``stage``, where the
    two returned tables are independently-executed projections of the
    window — pairing one chunk's embedding with another chunk's text.
    Callers with multiple documents per source must include the
    document key — see pipeline.import_documents, which orders by
    (source_id, doc_id, chunk_number).
    """
    max_id = existing_chunks.agg(
        F.coalesce(F.max(id_col), F.lit(0)).cast("long").alias("_max_id")
    )
    w = Window.orderBy(*[F.col(c).asc_nulls_first() for c in order_by])
    allocated = batch.crossJoin(F.broadcast(max_id)).select(
        (F.col("_max_id") + F.row_number().over(w)).cast("long").alias(id_col),
        "source_id",
        "model_id",
        "embedding",
        "metadata",
        "chunk_text",
    )
    if stage is not None:
        allocated = stage(allocated)
    chunks = allocated.select(id_col, "source_id", "model_id", "embedding")
    chunk_data = allocated.select(
        F.col(id_col).alias("chunk_id"), "metadata", "chunk_text"
    )
    return chunks, chunk_data


def allocate_ids(df: DataFrame, id_col: str = "id", offset: int = 0) -> DataFrame:
    """Partition-parallel surrogate ids for FACT-scale appends: unique,
    monotonically increasing, NOT dense (64-bit partition-prefixed).
    Use when id density doesn't matter — no global sort, no shuffle."""
    return df.withColumn(
        id_col, (F.monotonically_increasing_id() + F.lit(offset + 1)).cast("long")
    )


def scd2_apply(
    dim: DataFrame,
    changes: DataFrame,
    keys: Sequence[str],
    attr_cols: Sequence[str],
    effective_date: str,
    from_col: str = "valid_from",
    to_col: str = "valid_to",
    current_col: str = "is_current",
) -> DataFrame:
    """Slowly-changing-dimension type 2 maintenance — the history-keeping
    upgrade of the ``upsert`` family above (which is SCD1: overwrite in
    place, history lost). ``dim`` is a versioned dimension (key, attrs,
    valid_from, valid_to NULL-when-current, is_current); ``changes`` is
    a batch of (key, attrs) effective at ``effective_date``. Per key:

    - attrs unchanged (null-safe compare)    → no-op;
    - attrs changed → CLOSE the current row (valid_to = effective_date,
      is_current = false) and INSERT the new version;
    - key unseen    → INSERT the first version.

    Shape: ONE equi-join of the current slice against the (deduped)
    batch decides every verdict; historical rows pass through untouched
    (filter, no join). All three outputs union into the next table
    version — written via the versioned-parquet commit of
    streaming/ingest.py in production (the dimension analog of
    ins_chunk_txn), computed here as a pure relation so the oracle can
    replay it. At 100 TB-dimension scale the join shuffles on the
    dimension key only, and because old versions are immutable rows, a
    date-partitioned physical layout keeps the current slice a pruned
    scan.

    Determinism: no floats anywhere (attr equality is null-safe
    equality; dates are ISO strings); re-applying the same batch is a
    NO-OP (the changed-row set is empty the second time) — the
    idempotence contract pytest pins."""
    attr_list = list(attr_cols)
    batch = changes.select(*keys, *attr_list).dropDuplicates(list(keys))
    current = dim.filter(F.col(current_col))
    history = dim.filter(~F.col(current_col))

    b = batch.select(
        *[F.col(k).alias(f"_b_{k}") for k in keys],
        *[F.col(a).alias(f"_b_{a}") for a in attr_list],
        F.lit(1).alias("_b_m"),
    )
    key_cond = [F.col(k).eqNullSafe(F.col(f"_b_{k}")) for k in keys]
    joined = current.withColumn("_dim_m", F.lit(1)).join(
        b, functools.reduce(lambda x, y: x & y, key_cond), "full"
    )
    same = functools.reduce(
        lambda x, y: x & y,
        [F.col(a).eqNullSafe(F.col(f"_b_{a}")) for a in attr_list],
    )
    # Matched-ness comes from join-side MARKER columns, not key
    # nullness: the join is null-safe, so a NULL-key current row CAN
    # match a NULL-key change row, and isNotNull() on the first key
    # would then classify the matched pair as both untouched and newly
    # opened (ADVICE r10 #1). A marker is NULL exactly when its side
    # did not participate in the full-join row — the only test that
    # stays correct for every key value, NULLs included.
    matched = F.col("_dim_m").isNotNull() & F.col("_b_m").isNotNull()

    untouched = joined.filter(
        (F.col("_b_m").isNull()) | (matched & same)
    ).select(*keys, *attr_list, from_col, to_col, current_col)
    closed = joined.filter(matched & ~same).select(
        *keys,
        *attr_list,
        F.col(from_col),
        F.lit(effective_date).alias(to_col),
        F.lit(False).alias(current_col),
    )
    opened = joined.filter(
        (matched & ~same) | F.col("_dim_m").isNull()
    ).select(
        *[F.col(f"_b_{k}").alias(k) for k in keys],
        *[F.col(f"_b_{a}").alias(a) for a in attr_list],
        F.lit(effective_date).alias(from_col),
        F.lit(None).cast("string").alias(to_col),
        F.lit(True).alias(current_col),
    )
    return (
        history.select(*keys, *attr_list, from_col, to_col, current_col)
        .unionByName(untouched)
        .unionByName(closed)
        .unionByName(opened)
    )
