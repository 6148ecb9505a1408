"""The streaming CURATION tick (VERDICT r9 #4): ``curate_incremental``
(operators/curation.py) wired as the ``foreachBatch`` consumer of the
versioned ingest — the daily-batch audit running as a real
``readStream`` → drain instead of a batch function call. This closes
the production loop over the round-8/9 maintenance artifacts: docs
land as stream files, and every epoch re-audits the staged day-batch
against the incumbent corpus, the materialized band index, and the
eval bloom, committing the verdict table the pipeline logs per tick.

Two versioned tables under one root (streaming/ingest.py storage,
maintained by ``ingest.staged_recompute_sink``):

- ``staged/`` — the day-batch accumulated so far, grown per epoch by
  an anti-join upsert (idempotent: a retried epoch stages nothing new
  and re-commits an identical version — the upsert-sink argument, no
  epoch marker needed);
- ``verdicts/`` — ``curate_incremental(corpus, staged, eval bitset)``
  recomputed over the FULL staged batch each epoch and committed
  whole.

Recomputing over the staged whole (not the epoch slice) is what makes
the result EPOCH-SPLIT-INVARIANT: the within-batch verdicts (the
smaller-id exact/near-dup twin rules) need the entire day-batch, so
auditing per-slice would tie the output to arrival order. The eval
bloom is built ONCE, when the sink is made: its m-bit bitset is
collected on the driver then and every epoch probes it inside the row,
so the eval set is fixed for the life of the stream (a new eval suite
means a new sink). The corpus is never re-banded (the band index is
read as given), and no epoch exchanges corpus rows: the corpus hashes,
the band index and the corpus text each stream past a broadcast of the
staged side, and only the cross candidates' corpus text is shingled,
so an epoch's joins, shuffles and shingling scale with the staged
batch and its candidates (7 Spark jobs per verdict commit). The
corpus is still SCANNED each epoch: its text is hashed for the exact
verdict (a hash index kept at ingest would remove that) and its band
index is read whole. The FINAL table is bit-identical to the one-shot
batch call: the registry row drains three files through this sink and
shares ``O_CURATE_INCREMENTAL`` verbatim, proving stream ≡ batch end
to end (the stream_bloom recipe, one level up the stack).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from demo_pgvector_spark.operators import curation as curation_ops
from demo_pgvector_spark.streaming import ingest as ingest_ops

STAGE_SCHEMA_DDL = "doc_id bigint, text string"
VERDICT_SCHEMA_DDL = (
    "doc_id bigint, exact_dup boolean, too_short boolean, "
    "near_dup boolean, contaminated boolean, kept boolean"
)


def curate_sink(
    root: str,
    corpus: DataFrame,
    eval_docs: DataFrame,
    corpus_bands: DataFrame | None = None,
) -> Callable[[DataFrame, int], None]:
    """A ``foreachBatch`` function maintaining the day-batch audit: per
    epoch, stage the slice on doc_id, then recompute ``curate_incremental``
    over the full staged batch and commit the verdict table
    (``ingest.staged_recompute_sink``). Both commits are idempotent
    re-runs on a retried epoch; a crash between them is repaired by the
    retry.

    The eval bloom is built here, once per sink: its bitset is collected
    on the driver when the sink is made (one collect) and every epoch
    probes it inside the row, so the eval set is fixed for the life of
    the stream."""
    bits = curation_ops.bloom_bitset(curation_ops.bloom_build(eval_docs))
    return ingest_ops.staged_recompute_sink(
        root,
        STAGE_SCHEMA_DDL,
        "doc_id",
        # looked up per call, not bound here, so a wrapped or patched
        # curate_incremental is the one each epoch runs
        lambda staged: curation_ops.curate_incremental(
            corpus, staged, bits, corpus_bands=corpus_bands
        ),
        "verdicts",
    )


def run_curate_stream(
    stream_df: DataFrame,
    root: str,
    corpus: DataFrame,
    eval_docs: DataFrame,
    checkpoint_dir: str,
    corpus_bands: DataFrame | None = None,
) -> None:
    """Drain ``stream_df`` through the curation sink (``ingest.drain``)."""
    ingest_ops.drain(
        stream_df,
        checkpoint_dir,
        curate_sink(root, corpus, eval_docs, corpus_bands),
    )


def read_verdicts(spark: SparkSession, root: str) -> DataFrame:
    """The committed verdict table (empty before the first epoch)."""
    return ingest_ops.read_table(
        spark, os.path.join(root, "verdicts"), VERDICT_SCHEMA_DDL
    )
