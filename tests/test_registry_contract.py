"""Driver-contract regression tests for the registry itself.

Two failure modes cost a whole verification round each when they reach
the driver, so they are pinned here:

1. The driver's canonicalizer hashes results with a pandas sort over
   cell VALUES — an array/map/struct column raises ``unhashable type``
   and voids the key's verdict (r2 lost emb_hash_embed/emb_generate to
   an array<double> column). Every registry query must emit scalar
   columns only.
2. The driver records CORRECTNESS rows for exactly the FIRST 50
   registry entries (r1: 19/19, r2: 50 of 74). The 50-slot head must
   contain every SURVEY §2 item and every LLM-pipeline pillar operator;
   a key appended carelessly could silently push one past the window.

The driver also runs ``queries()`` on a session it built itself, so the
session tuning at that boundary and the per-process artifact staging
are pinned here too.
"""

from __future__ import annotations

import ast
import os
import shutil

from pyspark.sql.types import ArrayType, MapType, StructType

from demo_pgvector_spark import registry
from demo_pgvector_spark.session import _RUNTIME_CONFS

SF = "/root/testdata/sf0.001"

# Keys that MUST sit inside the driver's 50-row correctness window this
# round: the current rotation plan (new keys, diff-invalidated carries,
# then the oldest green rows re-anchoring) — SURVEY §2 preamble and the
# registry.py block comments state the same contract. §2-surface keys
# not listed here carry green rows ≤ 2 rounds old under the
# unchanged-code rule and are still parity-verified locally every round.
WINDOW_REQUIRED = {
    # -- round-13 plan (SURVEY §2 preamble "Round-13 window rotation
    # (PRECOMPUTED in round 12)", VERDICT r12 #1; registry.py block
    # comments are the same contract). 3 + 23 + 24 = 50 exactly. --
    # (A) the THREE round-12 graph-ANN additions with no driver row
    # yet (new-keys-first):
    "vec_hnsw_topk", "vec_hnsw_append", "stream_hnsw_ingest",
    # (B) the TWENTY-THREE r9 residue rows, first-in-line since the
    # r12 precomputation:
    "meta_sidecar", "pack_sequences", "rag_prompts", "sample_mixture",
    "sample_stratified", "src_convert_epub", "src_route",
    "text_bm25_topk", "text_decontaminate", "text_keywords",
    "text_perplexity", "text_quality_model", "text_scrub", "tpch_q12",
    "tpch_q20", "tpch_q8", "tpch_q9", "upsert_model", "upsert_source",
    "vec_ivf_pruned", "vec_ivf_trained", "vec_ivfpq_pruned",
    "win_range_numeric",
    # (C) TWENTY-FOUR of the forty-nine r10 rows re-anchoring, in
    # their registry (= r10 window) order:
    "dedup_substring", "retrieval_rrf", "stream_curate",
    "mm_phash_dedup", "set_ops", "agg_multidim", "stream_countmin",
    "dedup_url", "vec_ivf_drift", "dedup_exact", "dedup_minhash_pairs",
    "dedup_simhash", "dedup_embedding", "dedup_ngram", "dedup_assign",
    "dedup_semantic", "curate_fuzzy", "curate_corpus", "stream_join",
    "stream_static_join", "stream_join_outer", "stream_join_right",
    "stream_join_full", "stream_late_data",
}


def test_all_queries_emit_scalar_columns_only(spark):
    offenders = {}
    for key, (fn, _sql) in registry.REGISTRY.items():
        schema = fn(spark, SF).schema
        bad = [
            f.name for f in schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]
        if bad:
            offenders[key] = bad
    assert not offenders, offenders


def test_survey_and_pillar_keys_fit_the_50_row_window():
    head = list(registry.REGISTRY)[:50]
    missing = WINDOW_REQUIRED - set(head)
    assert not missing, f"pushed past the correctness window: {sorted(missing)}"


def test_every_key_has_an_oracle():
    # rows-only keys would silently downgrade the correctness verdict;
    # since round 3 every key (including cluster_kmeans) carries SQL.
    rows_only = [k for k, (_fn, sql) in registry.REGISTRY.items() if sql is None]
    assert rows_only == [], rows_only


def test_queries_tune_a_driver_owned_session(spark):
    """A session the engine did not build (own runtime conf, shared
    context) is brought to the conf table by ``queries()``, and the
    tuning stays on that session."""
    keys = ("spark.sql.session.timeZone", "spark.sql.adaptive.enabled")
    before = {k: spark.conf.get(k) for k in keys}
    s2 = spark.newSession()
    s2.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    registry.queries()["tpch_q6"](s2, SF).collect()
    table = dict(_RUNTIME_CONFS)
    assert {k: s2.conf.get(k) for k in keys} == {k: table[k] for k in keys}
    assert {k: spark.conf.get(k) for k in keys} == before


def _top_level_owners(is_target) -> set[str]:
    with open(registry.__file__, encoding="utf-8") as f:
        tree = ast.parse(f.read())
    return {
        getattr(node, "name", None)
        for node in tree.body
        if any(is_target(n) for n in ast.walk(node))
    }


def test_registry_tunes_and_registers_cleanup_in_one_place():
    """``tune_session`` runs only at the ``queries()`` boundary and
    ``atexit.register`` only inside ``_work_dir``: no query function
    owns either policy."""
    tunes = _top_level_owners(
        lambda n: isinstance(n, ast.Call)
        and isinstance(n.func, ast.Name)
        and n.func.id == "tune_session"
    )
    cleanups = _top_level_owners(
        lambda n: isinstance(n, ast.Attribute)
        and n.attr == "register"
        and isinstance(n.value, ast.Name)
        and n.value.id == "atexit"
    )
    assert tunes == {"queries"}
    assert cleanups == {"_work_dir"}


def test_staged_builds_once_and_rebuilds_when_its_dir_is_gone():
    calls = []

    def build(work):
        calls.append(work)
        return work

    first = registry._staged("k", "spark_graft_staged_test_", build)
    assert registry._staged("k", "spark_graft_staged_test_", build) == first
    assert calls == [first]
    shutil.rmtree(first)
    second = registry._staged("k", "spark_graft_staged_test_", build)
    assert second != first and os.path.isdir(second)
    assert calls == [first, second]
