"""Table loaders and engine-table schemas.

The engine's logical data model mirrors the reference's four tables
(models / sources / source_chunks / source_chunk_data — see
/root/reference/config/init.sql:5-38) re-expressed as columnar Parquet
DataFrames. The driver testdata (TESTDATA.md) provides the TPC-H-ish star
schema plus ``documents`` and ``embeddings``, which stand in for the
chunk-payload and chunk-vector tables respectively.

At 100 TB the scan is the dominant cost: every loader goes through
``spark.read.parquet`` so Catalyst gets filter/column pushdown for free,
and nothing here ever collects.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterable

import pyarrow.parquet as papq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Engine-table schemas (reference config/init.sql:5-38 re-typed for Spark).
MODELS_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("name", T.StringType(), True),
        T.StructField("embedding_dim", T.IntegerType(), False),
    ]
)

SOURCES_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("author", T.StringType(), True),
        T.StructField("title", T.StringType(), True),
        T.StructField("source_type", T.IntegerType(), True),
        T.StructField("url", T.StringType(), True),
        T.StructField("genre", T.StringType(), True),
        T.StructField("subgenre", T.StringType(), True),
        T.StructField("year", T.IntegerType(), True),
        T.StructField("model_id", T.LongType(), True),
    ]
)

SOURCE_CHUNKS_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("source_id", T.LongType(), True),
        T.StructField("model_id", T.LongType(), True),
        T.StructField("embedding", T.ArrayType(T.FloatType(), False), True),
    ]
)

SOURCE_CHUNK_DATA_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("chunk_id", T.LongType(), False),
        T.StructField("metadata", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("chunk_text", T.StringType(), True),
    ]
)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table; plain parquet scan → full pushdown support.

    ``events.ts`` is normalized to a session-timezone TIMESTAMP whatever
    the parquet physical type: TIMESTAMP(NANOS) data arrives as raw nanos
    LongType (the ``spark.sql.legacy.parquet.nanosAsLong`` conf is in
    ``session._RUNTIME_CONFS`` — NOT mutated here) and is truncated to micros
    (same truncation DuckDB applies casting TIMESTAMP_NS → TIMESTAMP);
    TIMESTAMP_MICROS(isAdjustedToUTC=0) data arrives as TIMESTAMP_NTZ and is
    cast to TIMESTAMP — the session timezone is pinned UTC, so the instant
    is unambiguous and downstream event-time ops (watermarks reject NTZ)
    work on both batch and stream paths.
    """
    if name not in TESTDATA_TABLES:
        raise ValueError(f"unknown table {name!r}; expected one of {TESTDATA_TABLES}")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


SUPPORTED_FORMATS = ("parquet", "orc", "json", "csv")


def write_table(df: DataFrame, path: str, fmt: str = "parquet", mode: str = "overwrite") -> None:
    """Persist a table in any supported format. Parquet/ORC are the
    columnar defaults (predicate pushdown + column pruning); JSON/CSV are
    interchange formats — schema-on-read, no pushdown, kept for ingest
    edges only (the reference ingests loose files; a lake engine meets
    data in whatever shape it arrives)."""
    if fmt not in SUPPORTED_FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; expected one of {SUPPORTED_FORMATS}")
    w = df.write.mode(mode).format(fmt)
    if fmt == "csv":
        w = w.option("header", "true")
    w.save(path)


def read_table(spark: SparkSession, path: str, fmt: str = "parquet", schema=None) -> DataFrame:
    """Read a table written by ``write_table``. For JSON/CSV an explicit
    schema keeps types exact (inference would widen ints and lose
    timestamp precision — never infer in a pipeline)."""
    if fmt not in SUPPORTED_FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; expected one of {SUPPORTED_FORMATS}")
    r = spark.read.format(fmt)
    if schema is not None:
        r = r.schema(schema)
    if fmt == "csv":
        r = r.option("header", "true")
    return r.load(path)


# the footer key where Spark's parquet writer stores the row schema as JSON
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def written_schema(data_dir: str) -> T.StructType | None:
    """The row schema Spark's writer stored in the footer of the first
    data file under ``data_dir``, or None when it holds no data file.

    The footer is read with pyarrow, so this costs no Spark job. Files
    are visited in name order, depth first, skipping ``.``/``_`` names:
    a flat version directory answers from its first file, a partitioned
    layout from its first ``key=value`` directory. The footer holds the
    data columns only; a layout's partition column lives in the
    directory names."""
    for top, dirs, files in os.walk(data_dir):
        dirs[:] = sorted(d for d in dirs if not d.startswith((".", "_")))
        data = sorted(
            f for f in files
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        )
        if data:
            footer = papq.read_schema(os.path.join(top, data[0])).metadata
            return T.StructType.fromJson(json.loads(footer[_SPARK_SCHEMA_KEY]))
    return None


def write_layout(
    df: DataFrame,
    path: str,
    column: str,
    append: bool = False,
    sort: tuple[Column, ...] = (),
) -> None:
    """Write ``df`` as a layout partitioned by ``column``: one
    ``path/column=v`` directory per value, the package's one partitioned
    writer. Every ingest-maintained index goes through it: the IVF
    family's ``cluster`` stores, the small-world ``bucket`` stores, the
    dedup and phash ``band`` indexes and the Z-order ``z_bucket`` tiles.

    Rows are repartitioned on ``column`` first, so one write leaves ONE
    file per value. Without it every input task writes a sliver into
    every directory it touches (32 tasks × 6 bands ≈ 200 files), and a
    later scan of the layout is file-listing-bound: 40% slower than
    re-banding the corpus at 10× (SCALE.md round 9). ``sort`` orders
    rows inside each file after the layout column (Z-order keeps its
    Morton order, so parquet min/max prunes row groups inside a tile).

    ``append=True`` adds the batch to an existing layout instead of
    replacing it. Every layout value is a pure per-row function of the
    row and of state fixed at build time (trained centroids, minhash
    seeds, hyperplanes, Morton bits), so write(base) + append(batch)
    holds row for row what write(base ∪ batch) holds: append ≡ rebuild.
    Partition pruning reads directory names, never file lineage, so a
    pruned read after an append returns the union's rows. Each append
    adds one file per touched value; ``compact_layout`` merges them
    back to one.

    Known limit of the one-file-per-value policy: one task writes every
    row of a value. For a many-valued column (clusters, buckets, tiles)
    that spreads the write; for a few-valued one like ``band`` (6
    values) at 100 TB it serializes the write on 6 tasks and makes
    files as large as a band. This function is the one place to change
    that (say, a salt under the value, or ``maxRecordsPerFile``)."""
    rows = df.repartition(F.col(column))
    if sort:
        rows = rows.sortWithinPartitions(F.col(column), *sort)
    rows.write.mode("append" if append else "overwrite").partitionBy(
        column
    ).parquet(path)


def compact_layout(spark: SparkSession, src: str, dst: str, column: str) -> None:
    """Rewrite the ``column``-partitioned layout at ``src`` into ``dst``
    with one file per value again (``write_layout``'s policy), undoing
    the files that appends add. ``dst`` is a fresh directory: raw
    parquet cannot be overwritten in place while it is read, so the
    caller swaps directories (on an object store: write new, repoint —
    a table format's OPTIMIZE without its log). Rows are untouched, so
    every read before and after returns the same rows."""
    write_layout(read_partitions(spark, src), dst, column)


def read_partitions(
    spark: SparkSession,
    root: str,
    column: str | None = None,
    values: Iterable[int] | None = None,
) -> DataFrame:
    """A directory the engine wrote, read so that planning the scan
    launches no Spark job: the package's one reader of its own layouts.

    The read declares the data schema the writer stored in a footer
    (``written_schema``), so no schema-inference job runs. With no
    ``values`` the whole ``root`` is read: a flat directory, or every
    ``key=value`` directory of a layout, the partition column's type
    inferred on the driver from the directory names (past Spark's
    32-path threshold the listing itself is a job). With ``values``
    only the ``root/column=v`` directories are listed, one per value,
    with ``basePath`` keeping ``column`` a partition column. A value
    with no directory (an empty cluster, a tile no row fell in) is
    skipped; when none has one, the result is an empty frame with the
    written columns plus ``column`` as int. Callers keep their
    ``column IN (values)`` filter on top, so the scan still shows it as
    a partition filter."""
    schema = written_schema(root)
    if schema is None:
        raise ValueError(f"{root} holds no parquet data file")
    if values is None:
        return spark.read.schema(schema).parquet(root)
    dirs = [os.path.join(root, f"{column}={v}") for v in sorted(set(values))]
    dirs = [d for d in dirs if os.path.isdir(d)]
    if not dirs:
        return spark.createDataFrame(
            [], T.StructType([*schema.fields, T.StructField(column, T.IntegerType())])
        )
    return spark.read.schema(schema).option("basePath", root).parquet(*dirs)
