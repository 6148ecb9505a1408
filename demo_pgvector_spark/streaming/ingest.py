"""Streaming ingest: the reference's import write path driven by
Structured Streaming micro-batches.

The reference imports documents one at a time through psycopg2 upserts
(src/lib/database.py:58-215); its batch re-expression lives in
operators/write.py. At lake scale the same workload arrives as a stream
of files, so this module wires those idempotent batch upserts into a
``foreachBatch`` sink: each micro-batch runs the SAME set-oriented
anti-join/union upsert the batch path uses — the engine's stream-batch
symmetry extended to the WRITE path.

Exactly-once story: ``foreachBatch`` delivers a micro-batch at-least-once
(a failed epoch is retried). The upsert is idempotent — re-applying a
batch whose keys are already present inserts nothing — so at-least-once
delivery composes to an exactly-once TABLE STATE, the standard pairing
for non-transactional sinks.

Table storage is a versioned parquet directory with a ``_CURRENT``
pointer file (write new version → atomic pointer swap via os.replace).
That is the dependency-free stand-in for a real table format: parquet
files are immutable either way, and a production Delta/Iceberg MERGE
also writes new files and swaps a pointer (its transaction log) — here
the pointer is just visible. Readers resolve ``_CURRENT`` at plan time
and only ever see a fully committed version; the upsert's read of the
previous version and write of the next never touch the same files.
"""

from __future__ import annotations

import contextlib
import os
from collections.abc import Callable, Mapping, Sequence

import pyarrow.parquet as papq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from demo_pgvector_spark.operators import write as write_ops
from demo_pgvector_spark.session import scoped_conf
from demo_pgvector_spark.tables import written_schema

_POINTER = "_CURRENT"


def current_version(root: str) -> str | None:
    """Name of the committed version directory, or None before the first
    commit."""
    try:
        with open(os.path.join(root, _POINTER), encoding="utf-8") as fh:
            return fh.read().strip() or None
    except FileNotFoundError:
        return None


def _read_version(
    spark: SparkSession, version_dir: str, schema_ddl: str | StructType
) -> DataFrame:
    """``version_dir`` read with the declared schema once one data file's
    footer agrees with it (see ``read_table``)."""
    df = spark.read.schema(schema_ddl).parquet(version_dir)
    written = written_schema(version_dir)
    if written is None:
        return df

    def columns(schema: StructType) -> list[tuple[str, str]]:
        return [(f.name, f.dataType.simpleString()) for f in schema.fields]

    if columns(written) != columns(df.schema):
        raise ValueError(
            f"{version_dir} holds {written.simpleString()}, "
            f"read declared {df.schema.simpleString()}"
        )
    return df


def read_table(
    spark: SparkSession, root: str, schema_ddl: str | StructType
) -> DataFrame:
    """The committed table state (empty frame with the declared schema
    before the first commit).

    The read uses the declared schema, so planning it launches no Spark
    job (an undeclared read runs a one-task schema-inference job per
    table). A declared read would turn a column the files lack into
    silent NULLs, so the driver first reads one data file's footer
    (pyarrow, no Spark job): the schema Spark's writer stored there must
    match the declaration column for column — same names, same order,
    same ``simpleString`` types — else ``ValueError`` with the path and
    both schemas. Nullability is not compared: Spark reads file sources
    as nullable whatever the declaration says, and a written
    ``array<float>`` keeps ``containsNull=true`` where
    ``tables.SOURCE_CHUNKS_SCHEMA`` declares false. A version directory
    with no data file has nothing to check."""
    v = current_version(root)
    if v is None:
        return spark.createDataFrame([], schema_ddl)
    return _read_version(spark, os.path.join(root, v), schema_ddl)


def _fsync(path: str) -> None:
    """fsync ``path``, a file or a directory, through a read-only
    descriptor."""
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def write_atomic(path: str, text: str) -> None:
    """Replace ``path`` with ``text`` so that a crash leaves the old or
    the new content, never a mix, and a power loss cannot undo it once
    this returns: a temp file beside it is written and fsynced,
    ``os.replace``d over ``path``, and the directory fsynced."""
    parent, name = os.path.split(path)
    tmp = os.path.join(parent, f".{name}.tmp")
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write(text)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, path)
    _fsync(parent)


def publish_version(root: str, version: str | None) -> None:
    """Point ``root``'s ``_CURRENT`` at ``version`` (``write_atomic``).
    ``None`` is the state before the first commit: readers see the
    empty table and the next commit writes ``v000001``."""
    write_atomic(os.path.join(root, _POINTER), version or "")


def commit_table(
    df: DataFrame,
    root: str,
    single_file: bool = False,
    delta: bool = False,
    sidecar: dict[str, str] | None = None,
) -> str:
    """Write ``df`` as the next version and atomically swap the pointer.

    The parquet job is all-or-nothing (Spark's file-commit protocol); the
    pointer swap is a single os.replace, so a crash between the two
    leaves the table at the previous version — readers never observe a
    partial commit. The version directory is written with overwrite
    semantics: until the pointer names it, no reader can hold it, so an
    orphan left by a crash BETWEEN write and swap is simply rewritten by
    the retry — the rerun self-repairs instead of erroring on the
    leftover directory.

    ``single_file=True`` coalesces the write to one task/one file —
    for tables whose size is CONSTANT-bounded by construction (a d×w
    count-min grid, ≤m HLL registers per group, ≤BLOOM_M bloom
    positions). Per guide §6 those tables were the small-files
    anti-pattern both ways: every epoch's commit scheduled one task
    per shuffle partition to write a few KB each, and the NEXT epoch's
    fold re-opened that many footers. Tables that scale with the data
    (staged day-batches, dimensions) keep the default parallel write.

    ``delta=True`` is the ADD-FILES commit for GROW-ONLY tables
    (guide §6 / the Delta-Iceberg add-file transaction): ``df`` is the
    NEW ROWS ONLY; the next version starts as hardlinks to the previous
    version's immutable data files and the delta lands as appended
    files, so the per-commit write job is O(delta) instead of
    O(table) — across an E-epoch day the staged-table write volume
    drops from O(day²) to O(day). Atomicity is unchanged: links and
    appended files accumulate in an unreferenced directory until the
    pointer swap, a crashed attempt's orphan is rebuilt from scratch by
    the retry (the rmtree below), and hardlinks keep file CONTENT
    immutable — vacuuming an old version only unlinks names, never
    bytes a newer version still references. Before the first commit
    ``delta`` degrades to a whole write (the delta IS the table). An
    empty delta still publishes a version, of the previous files only:
    the 0-row file Spark writes for it is unlinked before the swap.
    The trade is the small-files accretion every add-file log pays;
    ``compact_table`` is the standing OPTIMIZE pairing.

    ``sidecar`` maps file names to text written into the version
    directory after the data (an underscore-prefixed name stays
    invisible to parquet file discovery, like ``_SUCCESS``), so it
    publishes with the version under the same pointer swap: the
    count-min sink's last-applied epoch.

    Durability: every data file this commit wrote, then the version
    directory, is fsynced before the pointer moves (a hardlinked file
    was synced by the commit that first wrote it), so the pointer never
    names a file a power loss can take back. The pointer's temp file is
    fsynced before the ``os.replace`` and the table root directory
    after it, so once this returns a power loss can neither leave an
    empty pointer nor roll the rename back to the previous version. A
    commit that raises publishes nothing."""
    import shutil

    v = current_version(root)
    nxt = f"v{(int(v[1:]) + 1) if v else 1:06d}"
    dst = os.path.join(root, nxt)
    os.makedirs(root, exist_ok=True)
    out = df.coalesce(1) if single_file else df
    linked: list[str] = []
    if delta and v is not None:
        shutil.rmtree(dst, ignore_errors=True)  # orphan from a crash
        os.makedirs(dst)
        prev = os.path.join(root, v)
        linked = [n for n in os.listdir(prev) if n.endswith(".parquet")]
        for name in linked:
            os.link(os.path.join(prev, name), os.path.join(dst, name))
        out.write.mode("append").parquet(dst)
        # An empty delta still makes the append write one 0-row
        # file: unlink it and its checksum, so a no-op commit adds no
        # file. The footer is read with pyarrow (no Spark job); the
        # linked files keep the schema readers check.
        for name in os.listdir(dst) if linked else ():
            path = os.path.join(dst, name)
            if (
                name.endswith(".parquet")
                and name not in linked
                and papq.read_metadata(path).num_rows == 0
            ):
                os.unlink(path)
                with contextlib.suppress(FileNotFoundError):
                    os.unlink(os.path.join(dst, f".{name}.crc"))
    else:
        out.write.mode("overwrite").parquet(dst)
    sidecar = sidecar or {}
    for name, text in sidecar.items():
        with open(os.path.join(dst, name), "w", encoding="utf-8") as fh:
            fh.write(text)
    for name in os.listdir(dst):
        if (name.endswith(".parquet") and name not in linked) or name in sidecar:
            _fsync(os.path.join(dst, name))
    _fsync(dst)
    publish_version(root, nxt)
    return nxt


def landing_stream(
    spark: SparkSession, landing: str, schema_ddl: str
) -> DataFrame:
    """A parquet file stream over a staged landing directory with ONE
    micro-batch per file (``maxFilesPerTrigger=1``, mtime order) — the
    deterministic epoch split every staged drain and its oracle replay
    rely on."""
    return (
        spark.readStream.schema(schema_ddl)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )


def drain(
    df: DataFrame,
    checkpoint_dir: str,
    sink: Callable[[DataFrame, int], None] | None = None,
    *,
    output_mode: str = "append",
    confs: Mapping[str, object] | None = None,
) -> DataFrame | None:
    """Run ``df`` to completion over the files present now
    (``Trigger.AvailableNow``; a production deployment drops the trigger
    and runs continuously against the landing directory).

    With a ``sink`` each micro-batch goes to ``foreachBatch(sink)``.
    Without one the stream lands in a parquet file sink at
    ``checkpoint_dir + ".out"``, read back with the stream's schema (no
    inference pass; a zero-row drain is a well-typed empty frame), so
    result size never touches driver memory.

    ``confs`` hold only across ``start()``: Spark clones the session for
    the query there, and the stream (its ``foreachBatch`` batches'
    ``sparkSession`` too) keeps the cloned values. The caller's session
    is restored as soon as ``start()`` returns, so other queries on it do
    not plan with the override while the stream runs. Every drain runs
    at the session's shuffle width, which a stateful stream freezes into
    its checkpoint as the state-partition count."""
    spark = df.sparkSession
    out_dir = checkpoint_dir.rstrip("/") + ".out"
    writer = df.writeStream.outputMode(output_mode)
    if sink is not None:
        writer = writer.foreachBatch(sink)
    else:
        writer = writer.format("parquet").option("path", out_dir)
    writer = writer.option("checkpointLocation", checkpoint_dir)
    with contextlib.ExitStack() as scope:
        for key, value in (confs or {}).items():
            scope.enter_context(scoped_conf(spark, key, value))
        query = writer.trigger(availableNow=True).start()
    query.awaitTermination()
    return None if sink is not None else spark.read.schema(df.schema).parquet(out_dir)


def staged_recompute_sink(
    root: str,
    stage_ddl: str,
    key: str,
    recompute: Callable[[DataFrame], DataFrame],
    out_name: str,
) -> Callable[[DataFrame, int], None]:
    """A ``foreachBatch`` function keeping two versioned tables under
    ``root``: ``staged/``, the batch so far, and ``out_name/``,
    ``recompute`` over the FULL staged batch (not the epoch slice, so
    the output is epoch-split-invariant).

    Per epoch: stage the slice by an anti-join on ``key`` (grow-only, so
    an add-files delta commit, O(slice)), re-read the staged whole,
    recompute, commit whole. A retried epoch stages nothing and
    recommits the same output, so both commits are idempotent and a
    crash between them is repaired by the retry."""
    stage_root = os.path.join(root, "staged")
    out_root = os.path.join(root, out_name)

    def apply(batch: DataFrame, _epoch_id: int) -> None:
        spark = batch.sparkSession
        staged = read_table(spark, stage_root, stage_ddl)
        fresh = batch.select(*staged.columns).join(
            staged.select(key), key, "left_anti"
        )
        commit_table(fresh, stage_root, delta=True)
        staged_now = read_table(spark, stage_root, stage_ddl)
        commit_table(recompute(staged_now), out_root)

    return apply


def upsert_sink(
    root: str,
    keys: Sequence[str],
    schema_ddl: str,
    id_col: str = "id",
    batch_order: Sequence[str] | None = None,
) -> Callable[[DataFrame, int], None]:
    """A ``foreachBatch`` function maintaining a keyed dimension table.

    Per epoch: read the committed state, run the null-safe dedup upsert
    (operators/write.py — novel keys get ``max(id)+row_number`` ids),
    commit the result as a new version. The upsert is INSERT-ONLY
    (existing rows pass through untouched), so the commit is an
    add-files delta: only the freshly allocated novel rows are written,
    the previous version's files are hardlinked (commit_table
    ``delta=True``) — the per-epoch write job is O(novel), not
    O(table). A retried epoch re-reads the already-updated state, finds
    no novel keys, and commits a content-identical version — idempotent
    by construction.
    """

    def apply(batch: DataFrame, _epoch_id: int) -> None:
        spark = batch.sparkSession
        existing = read_table(spark, root, schema_ddl)
        novel = write_ops.upsert_allocated(
            existing, batch, keys=list(keys), id_col=id_col, batch_order=batch_order
        )
        commit_table(novel, root, delta=True)

    return apply


def run_upsert_stream(
    stream_df: DataFrame,
    root: str,
    keys: Sequence[str],
    schema_ddl: str,
    checkpoint_dir: str,
    id_col: str = "id",
    batch_order: Sequence[str] | None = None,
) -> None:
    """Drain ``stream_df`` through the upsert sink (``drain``)."""
    drain(
        stream_df,
        checkpoint_dir,
        upsert_sink(root, keys, schema_ddl, id_col, batch_order),
    )


def list_versions(root: str) -> list[str]:
    """All committed-or-orphan version directories, oldest first."""
    try:
        names = os.listdir(root)
    except FileNotFoundError:
        return []
    return sorted(
        (
            n for n in names
            if n.startswith("v") and n[1:].isdigit()
            and os.path.isdir(os.path.join(root, n))
        ),
        # numeric, not lexicographic: 'v1000000' would sort before
        # 'v999999' and invert vacuum's older/newer classification
        key=lambda n: int(n[1:]),
    )


def vacuum_versions(root: str, keep: int = 2) -> list[str]:
    """Table maintenance: delete version directories no reader can
    reach, keeping the current version plus ``keep - 1`` predecessors
    for time-travel/rollback (and any version NEWER than the pointer —
    an in-flight commit's directory is never touched).

    This is the GC half of the versioned-table contract (a production
    Delta/Iceberg VACUUM does the same against its transaction log):
    every committed epoch adds a full version, so without vacuuming a
    long-running ingest stream holds the table's whole history on disk.
    Safe concurrently with readers because readers resolve ``_CURRENT``
    at plan time and only versions strictly OLDER than the retained
    window are removed. Returns the deleted version names.
    """
    import shutil

    if keep < 1:
        raise ValueError("keep must be >= 1")
    cur = current_version(root)
    if cur is None:
        return []
    versions = list_versions(root)
    if cur not in versions:
        # pointer names a missing/foreign directory — refuse to guess
        # which versions are reclaimable rather than die mid-GC
        return []
    cur_idx = versions.index(cur)
    cutoff = max(0, cur_idx - (keep - 1))
    doomed = versions[:cutoff]
    for v in doomed:
        shutil.rmtree(os.path.join(root, v), ignore_errors=True)
    return doomed


def read_table_at(
    spark: SparkSession,
    root: str,
    schema_ddl: str | StructType,
    version: str | None,
) -> DataFrame:
    """Time-travel read: the table as of a specific committed version
    (any directory still retained by ``vacuum_versions``; ``None``, the
    state before the first commit, is the empty frame). Versions are
    immutable once the pointer has moved past them, so this is a
    consistent snapshot — the rollback/debug/reproducibility half of
    the versioned-table contract (Delta/Iceberg ``VERSION AS OF``).
    Read like ``read_table``: with the declared schema behind the same
    footer check, so planning it launches no Spark job."""
    if version is None:
        return spark.createDataFrame([], schema_ddl)
    if version not in list_versions(root):
        raise ValueError(
            f"version {version!r} not present under {root}; "
            f"have {list_versions(root)}"
        )
    return _read_version(spark, os.path.join(root, version), schema_ddl)


def compact_table(
    spark: SparkSession,
    root: str,
    schema_ddl: str,
    target_rows_per_file: int = 1_000_000,
) -> tuple[str, int]:
    """Table maintenance: rewrite the current version into
    ``ceil(rows / target_rows_per_file)`` files and commit it as a NEW
    version (content byte-for-byte identical — the oracle-checkable
    contract). Every micro-batch epoch adds at least one file per
    partition, so a long-running ingest stream accretes small files
    until scan planning (footer reads, task scheduling) dominates query
    time; periodic compaction + ``vacuum_versions`` is the standard
    Delta/Iceberg OPTIMIZE pairing. Readers are never disturbed: the
    rewrite lands in a fresh version directory and the pointer swap is
    atomic.

    Returns (new version name, file count). The repartition is the
    compaction's intrinsic exchange — at scale, rows-per-file targets
    row-group/scan-split sizing (SCALE.md lesson 1), and a production
    variant would partition-align instead of round-robin."""
    import math

    df = read_table(spark, root, schema_ddl)
    n = df.count()
    files = max(1, math.ceil(n / target_rows_per_file))
    v = commit_table(df.repartition(files), root)
    n_files = sum(
        1
        for f in os.listdir(os.path.join(root, v))
        if f.endswith(".parquet")
    )
    return v, n_files


def scd2_sink(
    root: str,
    keys: Sequence[str],
    attr_cols: Sequence[str],
    schema_ddl: str,
    effective_date: str,
    seed: DataFrame | None = None,
) -> Callable[[DataFrame, int], None]:
    """A ``foreachBatch`` function maintaining an SCD TYPE-2 dimension
    (operators/write.py scd2_apply) — the history-keeping sibling of
    ``upsert_sink``: per epoch, apply the micro-batch's changes against
    the committed versioned dimension (close changed rows, open new
    versions, pass history through) and commit the result.

    Exactly-once story: scd2_apply is IDEMPOTENT (re-applying a batch
    finds every matched key equal and every new key present — pinned in
    tests/test_write.py), so a retried epoch re-commits an identical
    version and no epoch marker is needed — the upsert-sink argument.
    Epoch composition: batches with DISJOINT key sets commute and
    compose to the one-shot batch apply (keys never interact), which is
    what the registry row's oracle gates end to end. ``seed``
    initializes the dimension before the first epoch when the table
    does not exist yet."""

    def apply(batch: DataFrame, _epoch_id: int) -> None:
        spark = batch.sparkSession
        if current_version(root) is None and seed is not None:
            commit_table(seed, root)
        existing = read_table(spark, root, schema_ddl)
        merged = write_ops.scd2_apply(
            existing,
            batch,
            keys=list(keys),
            attr_cols=list(attr_cols),
            effective_date=effective_date,
        )
        commit_table(merged, root)

    return apply


def run_scd2_stream(
    stream_df: DataFrame,
    root: str,
    keys: Sequence[str],
    attr_cols: Sequence[str],
    schema_ddl: str,
    checkpoint_dir: str,
    effective_date: str,
    seed: DataFrame | None = None,
) -> None:
    """Drain ``stream_df`` through the SCD2 sink (``drain``)."""
    drain(
        stream_df,
        checkpoint_dir,
        scd2_sink(root, keys, attr_cols, schema_ddl, effective_date, seed),
    )
