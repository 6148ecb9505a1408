"""The reference's user-facing command surface, 1:1, over a parquet
warehouse.

A user of the reference runs exactly three commands (tasks.py /
cli/*.py):

- ``import_doc  FILES... --model M``        (cli/import_doc.py:31)
- ``search_doc_chunks PROMPT --limit 10 --threshold 0.7``
                                            (cli/search_doc_chunks.py:42)
- ``generate_text PROMPT --model M``        (cli/generate_text.py:162)

This module exposes the same three verbs with the same parameters and
defaults, so switching is a drop-in: Postgres+pgvector becomes a
directory of the four engine tables (models / sources / source_chunks /
source_chunk_data) stored as versioned parquet with atomic pointer
commits (streaming/ingest.py machinery — a crash mid-import leaves
every table at a committed version and the chunk pair whole, and
rerunning the import finishes it: the job-level analog of the
reference's transaction, see ``save_state``). ``generate_text`` is
deterministic up to the byte-exact prompt; token sampling itself is
the pluggable external LLM sink (interfaces.LLMClient), exactly as
SURVEY §2.4 scopes it.

Real files in, real answers out: ``.epub`` goes through the stdlib
EPUB→text parser (operators/convert.py, no pandoc needed), ``.txt`` /
``.md`` are read as UTF-8 text, and ``<file>.meta.yml`` sidecars are
picked up automatically when present — the same corpus layout as the
reference's examples/ directory.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from demo_pgvector_spark import interfaces, pipeline
from demo_pgvector_spark import tables as t
from demo_pgvector_spark.operators import convert
from demo_pgvector_spark.streaming import ingest

DEFAULT_MODEL = pipeline.DEFAULT_MODEL_NAME

_TABLE_SCHEMAS = {
    "models": t.MODELS_SCHEMA,
    "sources": t.SOURCES_SCHEMA,
    "chunks": t.SOURCE_CHUNKS_SCHEMA,
    "chunk_data": t.SOURCE_CHUNK_DATA_SCHEMA,
}


_PAIR = "_PAIR"  # the open chunk pair's base versions (JSON)
# the allocated chunk batch while the pair is open; no leading "_", which
# Spark's reader warns about as a hidden path
_STAGED_CHUNKS = "staged_chunks"


def _pair_bases(warehouse: str) -> dict[str, str | None]:
    """The base versions an unfinished chunk-pair publish recorded, or
    ``{}`` when no pair is open."""
    try:
        with open(os.path.join(warehouse, _PAIR), encoding="utf-8") as fh:
            return json.load(fh)
    except FileNotFoundError:
        return {}


def load_state(spark: SparkSession, warehouse: str) -> dict[str, DataFrame]:
    """The committed warehouse state (all tables empty before the first
    import — the ``config/init.sql`` analog is just these schemas). A
    table named in ``_PAIR`` is read at its base version, so no reader
    sees one half of a chunk pair whose publish did not finish."""
    bases = _pair_bases(warehouse)
    state = {}
    for name, schema in _TABLE_SCHEMAS.items():
        root = os.path.join(warehouse, name)
        if name in bases:
            state[name] = ingest.read_table_at(spark, root, schema, bases[name])
        else:
            state[name] = ingest.read_table(spark, root, schema)
    return state


def save_state(
    spark: SparkSession, warehouse: str, name: str, new_rows: DataFrame
) -> DataFrame:
    """Commit one table's new rows as its next version and return the
    committed table, which the next import step reads.

    ``import_doc`` commits in dependency order — models, sources, then
    the chunk pair (chunks, chunk_data) — each as an add-files delta
    (``commit_table(delta=True)``: the previous version's files
    hardlinked, only the new rows written). A crash after the models or
    the sources commit is repaired by rerunning the import: their
    upserts find the committed keys and add nothing. The chunk pair is
    published under ``<warehouse>/_PAIR``, which names both tables'
    base versions from before the pair's first commit until after its
    second: ``load_state`` reads those tables at their bases, and
    ``import_doc`` and ``maintain`` first point them back there
    (``_repair_pair``), so a rerun allocates chunk ids from the same
    base and the pair never tears."""
    root = os.path.join(warehouse, name)
    ingest.commit_table(new_rows, root, delta=True)
    return ingest.read_table(spark, root, _TABLE_SCHEMAS[name])


def _open_pair(spark: SparkSession, warehouse: str, allocated: DataFrame) -> DataFrame:
    """Start the chunk-pair publish: record both tables' base versions
    in ``_PAIR``, then write the allocated chunk batch once to the
    staging directory and read it back with its own schema — the frame
    both halves of the pair project, so chunking, embedding and id
    allocation run once."""
    bases = {
        n: ingest.current_version(os.path.join(warehouse, n))
        for n in ("chunks", "chunk_data")
    }
    ingest.write_atomic(os.path.join(warehouse, _PAIR), json.dumps(bases))
    staged = os.path.join(warehouse, _STAGED_CHUNKS)
    allocated.write.mode("overwrite").parquet(staged)
    return spark.read.schema(allocated.schema).parquet(staged)


def _close_pair(warehouse: str) -> None:
    """End the chunk-pair publish: drop ``_PAIR`` and the staged batch."""
    with contextlib.suppress(FileNotFoundError):
        os.remove(os.path.join(warehouse, _PAIR))
    shutil.rmtree(os.path.join(warehouse, _STAGED_CHUNKS), ignore_errors=True)


def _repair_pair(warehouse: str) -> None:
    """Undo an unfinished chunk-pair publish: point each table ``_PAIR``
    names back at its base version, then close the pair. A no-op when
    no pair is open; a crash inside it leaves ``_PAIR`` for the next
    repair."""
    for name, base in _pair_bases(warehouse).items():
        root = os.path.join(warehouse, name)
        if ingest.current_version(root) != base:
            ingest.publish_version(root, base)
    _close_pair(warehouse)


def _read_files(spark: SparkSession, files: list[str]) -> DataFrame:
    """(doc_id, filepath, text) from real local files: EPUB via the
    stdlib container parse, txt/md as UTF-8. Per-file work parallelizes
    across the binaryFile scan; doc_id is the content-independent path
    hash (stable across re-imports)."""
    epubs = [f for f in files if f.lower().endswith(".epub")]
    plains = [f for f in files if not f.lower().endswith(".epub")]
    parts: list[DataFrame] = []
    if epubs:
        media = (
            spark.read.format("binaryFile")
            .load(epubs)
            .select("path", "content")
        )
        parts.append(
            convert.convert_epub_real(media).select(
                F.regexp_replace("path", "^file:", "").alias("filepath"), "text"
            )
        )
    if plains:
        media = spark.read.format("binaryFile").load(plains)
        parts.append(
            media.select(
                F.regexp_replace("path", "^file:", "").alias("filepath"),
                F.decode(F.col("content"), "UTF-8").alias("text"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.withColumn("doc_id", F.xxhash64("filepath")).select(
        "doc_id", "filepath", "text"
    )


def import_doc(
    spark: SparkSession,
    warehouse: str,
    files: list[str],
    model: str = DEFAULT_MODEL,
    max_tokens: int = 256,
    tokenizer: str = "words",
) -> dict[str, DataFrame]:
    """``inv import.doc-file`` / cli/import_doc.py: convert each file,
    join its ``.meta.yml`` sidecar when present, upsert the model and
    source dimensions, chunk, embed, append — committing each table as
    it is computed (``save_state``), in one pass over the files.
    ``tokenizer="bpe"`` budgets chunks by real learned BPE token counts
    (the reference's tokenizer-driven chunker shape)."""
    if not files:
        return load_state(spark, warehouse)
    _repair_pair(warehouse)
    frame = _read_files(spark, files)
    side_paths = [f + ".meta.yml" for f in files if os.path.exists(f + ".meta.yml")]
    sidecars = (
        convert.read_sidecar_yaml(spark, side_paths)
        if side_paths
        else spark.createDataFrame(
            [],
            "filepath string, author string, title string, text_type string,"
            " genre string, publication_date string",
        )
    )
    state = pipeline.import_documents(
        spark,
        frame,
        sidecars,
        load_state(spark, warehouse),
        model_name=model,
        max_tokens=max_tokens,
        tokenizer=tokenizer,
        commit=functools.partial(save_state, spark, warehouse),
        stage=functools.partial(_open_pair, spark, warehouse),
    )
    _close_pair(warehouse)
    return state


def search_doc_chunks(
    spark: SparkSession,
    warehouse: str,
    prompt: str,
    limit: int = 10,
    threshold: float = 0.7,
) -> DataFrame:
    """``inv search.doc-chunks`` / cli/search_doc_chunks.py: embed the
    prompt, threshold-filtered cosine top-k with payloads."""
    return pipeline.search_chunks(
        load_state(spark, warehouse), prompt, top_k=limit, threshold=threshold
    )


def generate_text(
    spark: SparkSession,
    warehouse: str,
    prompt: str,
    model: str = DEFAULT_MODEL,  # noqa: ARG001 — parity with the reference signature
    top_k: int = 5,
    threshold: float = 0.01,
    client: "interfaces.LLMClient | None" = None,
    max_tokens: int = 5000,
    temperature: float = 0.8,
) -> str:
    """``inv generate.text`` / cli/generate_text.py: retrieval, excerpt
    fold, template choice — then, when a ``client`` is bound, the
    generation sink itself (reference cli/generate_text.py:178-183).

    With ``client=None`` (default) returns the byte-exact prompt the
    reference would hand vLLM (src/lib/llms.py:14-30) — the deterministic
    boundary the correctness gate checks. Passing any
    ``interfaces.LLMClient`` (e.g. ``rag.DeterministicLLMClient()``, or a
    real vLLM/HTTP binding) returns the completion instead; corpus-scale
    batch generation goes through ``rag.generate_batch``."""
    text = pipeline.generate_prompt(
        load_state(spark, warehouse), prompt, top_k=top_k, threshold=threshold
    )
    if client is None:
        return text
    return client.generate([text], max_tokens=max_tokens, temperature=temperature)[0]


def curate(
    spark: SparkSession,
    docs_path: str,
    out_path: str,
    rates_per_mille: dict[str, int] | None = None,
    default_per_mille: int = 500,
    pack_budget: int = 256,
    min_tokens: int = 15,
    scrub: bool = False,
) -> DataFrame:
    """Engine extension verb (no reference counterpart): run the
    training-data curation cascade over a documents parquet directory
    and write pack assignments back as parquet.

    Stages (operators/curation.py curate_corpus, one composed plan):
    exact-dedup keepers → length screen → decontamination vs the
    held-out doc_id % 41 eval split → stratified sample → token-budget
    sequence packing; ``scrub=True`` prepends the PII/boilerplate scrub
    and curates the cleaned text. Returns the written DataFrame
    (doc_id, source, n_tokens, pack_id).
    """
    from demo_pgvector_spark.operators import curation

    docs = spark.read.parquet(docs_path)
    if scrub:
        # in-place projection (curation.clean_text_col) — no self-join,
        # the scrub stays scan-fused ahead of the cascade
        docs = docs.withColumn("text", curation.clean_text_col(F.col("text")))
    out = curation.curate_corpus(
        docs,
        rates_per_mille or {},
        default_per_mille=default_per_mille,
        pack_budget=pack_budget,
        min_tokens=min_tokens,
    )
    out.write.mode("overwrite").parquet(out_path)
    # serve the WRITTEN rows — returning the unexecuted cascade would
    # recompute the whole pipeline on every downstream action; read with
    # the schema just written, so no inference job
    return spark.read.schema(out.schema).parquet(out_path)


def mix(
    spark: SparkSession,
    docs_path: str,
    out_path: str,
    weights: dict[str, int],
    target_total: int,
    domain_col: str = "lang",
    salt: str = "r5",
) -> DataFrame:
    """Engine extension verb (no reference counterpart): rebalance a
    documents parquet directory to target domain proportions
    (operators/curation.py sample_mixture — integer-exact acceptance,
    append-stable per salt) and write the drawn sample back as parquet.
    Composes with ``curate``: mix first to set the domain diet, then
    curate the mixed corpus."""
    from demo_pgvector_spark.operators import curation

    docs = spark.read.parquet(docs_path)
    out = curation.sample_mixture(
        docs, weights, target_total, salt=salt, domain_col=domain_col
    )
    out.write.mode("overwrite").parquet(out_path)
    return spark.read.schema(out.schema).parquet(out_path)


def maintain(
    spark: SparkSession,
    warehouse: str,
    target_rows_per_file: int = 1_000_000,
    keep_versions: int = 2,
) -> dict[str, tuple[str, int, list[str]]]:
    """Engine extension verb (no reference counterpart; Postgres
    VACUUM/CLUSTER's analog for the parquet warehouse): compact every
    engine table to the target file size and garbage-collect version
    history beyond ``keep_versions``. Returns per-table
    (new version, file count, deleted versions). Safe while readers
    run — compaction commits a fresh version atomically and vacuum
    only removes versions strictly older than the retained window. A
    chunk pair an interrupted import left open is rolled back first
    (``_repair_pair``), so compaction never publishes half of it."""
    _repair_pair(warehouse)
    out: dict[str, tuple[str, int, list[str]]] = {}
    for name, schema in _TABLE_SCHEMAS.items():
        root = os.path.join(warehouse, name)
        if ingest.current_version(root) is None:
            continue
        v, n_files = ingest.compact_table(
            spark, root, schema, target_rows_per_file=target_rows_per_file
        )
        doomed = ingest.vacuum_versions(root, keep=keep_versions)
        out[name] = (v, n_files, doomed)
    return out


def quality_filter(
    spark: SparkSession,
    docs_path: str,
    out_path: str,
    keep_only: bool = True,
) -> DataFrame:
    """Engine extension verb (no reference counterpart): score a
    documents parquet directory with the committed pretrained quality
    model (operators/curation.py quality_model_score — the
    CCNet/GPT-3/DCLM linear domain classifier, golden weights from
    tools/train_quality_model.py) and write the result back as parquet.
    ``keep_only=True`` writes only the documents the model keeps
    (z >= 0), joined back to their full rows; ``False`` writes every
    doc with its (score, keep) columns for downstream thresholding.
    Composes with ``curate``/``mix``: quality-filter first, then set
    the domain diet, then run the cascade."""
    import pyarrow.parquet as papq

    from demo_pgvector_spark.operators import curation

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    golden = os.path.join(root, "golden")
    weights = spark.read.parquet(os.path.join(golden, "quality_model.parquet"))
    bias = float(
        papq.read_table(os.path.join(golden, "quality_model_meta.parquet"))
        .to_pylist()[0]["bias"]
    )
    docs = spark.read.parquet(docs_path)
    scored = curation.quality_model_score(docs, weights, bias)
    if keep_only:
        out = docs.join(
            scored.filter(F.col("keep")).select("doc_id", "score"), "doc_id"
        )
    else:
        out = docs.join(scored.select("doc_id", "score", "keep"), "doc_id")
    out.write.mode("overwrite").parquet(out_path)
    return spark.read.schema(out.schema).parquet(out_path)


def semdedup(
    spark: SparkSession,
    vectors_path: str,
    out_path: str,
    threshold: float | None = None,
    n_centroids: int = 16,
) -> DataFrame:
    """Engine extension verb (no reference counterpart): SemDeDup an
    embeddings parquet directory (operators/dedup.py semdedup — Abbas
    et al. 2023) and write the KEEPER vectors back as parquet with
    their cluster/component labels. Centroids are the first
    ``n_centroids`` vectors by id (the deterministic seed convention;
    a production run passes trained centroids)."""
    from demo_pgvector_spark.operators import dedup as dedup_ops

    vecs = spark.read.parquet(vectors_path)
    cents = [
        [float(x) for x in r["embedding"]]
        for r in vecs.orderBy("vec_id").limit(n_centroids).collect()
    ]
    tau = dedup_ops.SEMDEDUP_TAU if threshold is None else float(threshold)
    labeled = dedup_ops.semdedup(vecs.select("vec_id", "embedding"), cents, tau)
    out = vecs.join(
        labeled.filter(F.col("is_keeper")).select("vec_id", "cluster", "component"),
        "vec_id",
    )
    out.write.mode("overwrite").parquet(out_path)
    return spark.read.schema(out.schema).parquet(out_path)
