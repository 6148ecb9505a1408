"""Streaming graph-ANN index maintenance: ``smallworld_append``
(operators/ann.py) wired as the ``foreachBatch`` consumer of the
versioned ingest — the daily-crawl index tick running as a real
``readStream`` → drain instead of a batch function call, completing the
maintenance loop for the serving index family exactly as
streaming/curate.py does for the curation tick.

Two versioned tables under one root (streaming/ingest.py storage,
maintained by ``ingest.staged_recompute_sink``):

- ``staged/`` — the crawl batch accumulated so far, grown per epoch by
  an anti-join upsert (idempotent: a retried epoch stages nothing new
  and re-commits an identical version — the upsert-sink argument, no
  epoch marker needed);
- ``adj/`` — ``smallworld_append(base, staged)`` recomputed over the
  FULL staged batch each epoch and committed whole: the appended
  nodes' forward links against the grown corpus plus their
  bidirectional backlinks.

Recomputing over the staged whole (not the epoch slice) is what makes
the committed adjacency EPOCH-SPLIT-INVARIANT: a batch node's top-m
out-neighbors depend on every batch-mate that shares its buckets (a
later slice can displace an earlier slice's neighbor), so appending
per-slice would tie the graph to arrival order. The per-epoch cost is
O(staged × bucket-mates) — the base index is never re-banded, never
re-scored — and the FINAL table is bit-identical to the one-shot
``smallworld_append`` of the whole batch: the registry row drains
three files through this sink, merges ``adj/`` with the staged base
adjacency, probes, and shares ``O_VEC_HNSW_APPEND`` verbatim — proving
stream ≡ batch end to end (the stream_curate recipe applied to the
serving index).
"""

from __future__ import annotations

import os
from collections.abc import Callable

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from demo_pgvector_spark.operators import ann as ann_ops
from demo_pgvector_spark.streaming import ingest as ingest_ops

STAGE_SCHEMA_DDL = "vec_id bigint, embedding array<double>"
ADJ_SCHEMA_DDL = "src bigint, dst bigint"


def hnsw_sink(
    root: str,
    base: DataFrame,
    planes: np.ndarray,
) -> Callable[[DataFrame, int], None]:
    """A ``foreachBatch`` function maintaining the appended half of the
    small-world index: per epoch, stage the slice on vec_id, then
    recompute ``smallworld_append`` over the full staged batch and commit
    the adjacency table (``ingest.staged_recompute_sink``)."""
    # the base side of every epoch's append is STATIC: band it once per
    # stream (lazy localCheckpoint — materializes inside epoch 1's job,
    # reused by later epochs). Without this each epoch re-ran the
    # signature pass over the full base corpus — at 100 TB the base IS
    # the biggest table in the query, so E epochs paid E corpus scans
    # for entries smallworld_append's own contract says are never
    # re-banded (guide §2.4, the iterative-graph static-side rule).
    base_entries = ann_ops.smallworld_base_entries(base, planes).localCheckpoint(
        eager=False
    )
    return ingest_ops.staged_recompute_sink(
        root,
        STAGE_SCHEMA_DDL,
        "vec_id",
        lambda staged: ann_ops.smallworld_append(
            base, staged, planes, base_entries=base_entries
        ),
        "adj",
    )


def run_hnsw_stream(
    stream_df: DataFrame,
    root: str,
    base: DataFrame,
    planes: np.ndarray,
    checkpoint_dir: str,
) -> None:
    """Drain ``stream_df`` through the index-maintenance sink
    (``ingest.drain``)."""
    ingest_ops.drain(
        stream_df,
        checkpoint_dir,
        hnsw_sink(root, base, planes),
    )


def read_adjacency(spark: SparkSession, root: str) -> DataFrame:
    """The committed appended-half adjacency (empty before epoch 1)."""
    return ingest_ops.read_table(
        spark, os.path.join(root, "adj"), ADJ_SCHEMA_DDL
    )
