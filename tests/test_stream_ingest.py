"""Streaming write path: foreachBatch + idempotent upsert = exactly-once
table state (streaming/ingest.py).

Three properties, each a real readStream execution over staged files:

1. stream-batch symmetry — streaming the rows file-by-file produces the
   same KEY SET as one batch upsert, with dense unique ids;
2. retry idempotence — re-applying an already-processed micro-batch (the
   at-least-once failure mode foreachBatch exposes) leaves the committed
   key/id state unchanged;
3. version isolation — every commit is a new directory behind the
   ``_CURRENT`` pointer; a reader holding the old version still works.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from demo_pgvector_spark.operators import write as write_ops
from demo_pgvector_spark.streaming import ingest, sketches
from tests.conftest import spark_jobs

SCHEMA = "id long, name string"


@pytest.fixture()
def staged(tmp_path):
    """Three arrival files with overlapping model names (m0..m5)."""
    land = tmp_path / "landing"
    land.mkdir()
    batches = [["m0", "m1", "m2"], ["m1", "m3"], ["m0", "m4", "m5", "m3"]]
    return land, batches


def _stage(spark, land, batches):
    for i, names in enumerate(batches):
        spark.createDataFrame(
            [(n,) for n in names], "name string"
        ).coalesce(1).write.parquet(str(land / f"arrival_{i}"))


def _stage_arrivals(spark, tmp_path, land, slices, ddl):
    """One flat parquet file per slice in ``land``, mtimes in slice
    order: ``landing_stream`` drains them as one epoch each."""
    import glob
    import shutil
    import time

    for i, rows in enumerate(slices):
        part = str(tmp_path / f"_part_{i}")
        spark.createDataFrame(rows, ddl).coalesce(1).write.parquet(part)
        flat = str(land / f"arrival_{i}.parquet")
        shutil.copyfile(glob.glob(f"{part}/part-*.parquet")[0], flat)
        os.utime(flat, (time.time() - 100 + i * 10,) * 2)


def test_stream_upsert_matches_batch_upsert(spark, tmp_path, staged):
    land, batches = staged
    _stage(spark, land, batches)
    root = str(tmp_path / "models_table")

    stream = (
        spark.readStream.schema("name string")
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{land}/arrival_*")
    )
    ingest.run_upsert_stream(
        stream, root, keys=["name"], schema_ddl=SCHEMA,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )

    got = ingest.read_table(spark, root, SCHEMA)
    rows = {r["name"]: r["id"] for r in got.collect()}

    # same key set as the one-shot batch upsert
    batch_all = spark.createDataFrame(
        [(n,) for b in batches for n in b], "name string"
    )
    expect = write_ops.upsert(
        spark.createDataFrame([], SCHEMA), batch_all, keys=["name"]
    )
    assert set(rows) == {r["name"] for r in expect.collect()} == {
        "m0", "m1", "m2", "m3", "m4", "m5"
    }
    # dense unique ids regardless of arrival batching
    assert sorted(rows.values()) == list(range(1, 7))
    # earlier arrivals hold smaller ids (allocation is append-only)
    assert rows["m0"] < rows["m3"] < rows["m4"]


def test_upsert_stream_retry_repairs_a_crash_after_the_commit(
    spark, tmp_path, staged, monkeypatch
):
    """Fault injection through the real drain: epoch 2 commits its
    novel rows, then raises before the epoch completes. Draining again
    from the same checkpoint replays epoch 2 (its rows are committed —
    the upsert allocates nothing) and epoch 3, and the final table
    equals one batch ``upsert_allocated`` over every slice: same keys,
    same ids."""
    from pyspark.errors import StreamingQueryException

    land, batches = staged
    _stage_arrivals(
        spark, tmp_path, land, [[(n,) for n in b] for b in batches], "name string"
    )
    root, ckpt = str(tmp_path / "models_table"), str(tmp_path / "ckpt")

    def run():
        ingest.run_upsert_stream(
            ingest.landing_stream(spark, str(land), "name string"),
            root, keys=["name"], schema_ddl=SCHEMA, checkpoint_dir=ckpt,
        )

    real, commits = ingest.commit_table, []

    def crash_after_second_commit(*args, **kwargs):
        version = real(*args, **kwargs)
        commits.append(version)
        if len(commits) == 2:
            raise RuntimeError("injected crash after the commit")
        return version

    monkeypatch.setattr(ingest, "commit_table", crash_after_second_commit)
    with pytest.raises(StreamingQueryException, match="injected crash"):
        run()
    assert ingest.current_version(root) == "v000002"
    monkeypatch.setattr(ingest, "commit_table", real)
    run()

    got = sorted(map(tuple, ingest.read_table(spark, root, SCHEMA).collect()))
    everything = spark.createDataFrame(
        [(n,) for b in batches for n in b], "name string"
    )
    want = sorted(
        map(
            tuple,
            write_ops.upsert_allocated(
                spark.createDataFrame([], SCHEMA), everything, keys=["name"]
            ).collect(),
        )
    )
    assert got == want and len(got) == 6


def _bloom_case(spark):
    from demo_pgvector_spark.operators import curation

    ddl = "doc_id long, text string"
    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu"
    slices = [[(i, f"{words} word{i} tail{i}")] for i in range(3)]
    return (
        ddl,
        slices,
        lambda stream, root, ckpt: sketches.run_bloom_stream(stream, root, ckpt),
        lambda root: sketches.read_bloom(spark, root),
        lambda everything: curation.bloom_build(everything),
    )


def _hll_case(spark):
    from demo_pgvector_spark.operators import sketch

    ddl = "item long"
    slices = [[(i,) for i in range(b, 90, 3)] for b in range(3)]
    return (
        ddl,
        slices,
        lambda stream, root, ckpt: sketches.run_hll_stream(
            stream, root, "item", ckpt
        ),
        lambda root: sketches.read_hll(spark, root),
        lambda everything: sketch.hll_build(everything, "item"),
    )


def _scd2_case(spark):
    dim_ddl = (
        "k long, name string, bal double, valid_from string,"
        " valid_to string, is_current boolean"
    )
    attrs = ("name", "bal")
    # one change row per epoch, keys disjoint across epochs
    slices = [[(1, "alice", 1.0)], [(2, "bob", 2.0)], [(3, "carol", 3.0)]]
    return (
        "k long, name string, bal double",
        slices,
        lambda stream, root, ckpt: ingest.run_scd2_stream(
            stream, root, ("k",), attrs, dim_ddl, ckpt, "1995-06-01"
        ),
        lambda root: ingest.read_table(spark, root, dim_ddl),
        lambda everything: write_ops.scd2_apply(
            spark.createDataFrame([], dim_ddl),
            everything,
            ("k",),
            attrs,
            "1995-06-01",
        ),
    )


def _hnsw_case(spark):
    from demo_pgvector_spark.operators import ann
    from demo_pgvector_spark.streaming import ann as stream_ann
    from tests.test_ann import _clustered

    rows = _clustered(n_clusters=4, per_cluster=20)
    ddl = "vec_id long, embedding array<double>"
    base = spark.createDataFrame([r for r in rows if r[0] % 5], ddl)
    batch = [r for r in rows if r[0] % 5 == 0]
    planes = ann.hyperplanes(len(rows[0][1]))
    return (
        ddl,
        [batch[b::3] for b in range(3)],
        lambda stream, root, ckpt: stream_ann.run_hnsw_stream(
            stream, root, base, planes, ckpt
        ),
        lambda root: stream_ann.read_adjacency(spark, root),
        lambda everything: ann.smallworld_append(base, everything, planes),
    )


@pytest.mark.parametrize(
    "case, crash_at, table",
    [
        (_bloom_case, 2, ""),
        (_hll_case, 2, ""),
        (_scd2_case, 2, ""),
        # two commits per epoch: crash between epoch 2's staging commit
        # and its adjacency commit
        (_hnsw_case, 3, "staged"),
    ],
    ids=["bloom", "hll", "scd2", "hnsw"],
)
def test_sink_stream_retry_repairs_a_crash_after_the_commit(
    spark, tmp_path, monkeypatch, case, crash_at, table
):
    """Fault injection through the real drain for the bloom, HLL, SCD2
    and small-world index sinks: epoch 2 commits its ``table`` version,
    then raises before the epoch completes. Draining again from the
    same checkpoint replays epoch 2 (each sink's fold is idempotent)
    and epoch 3, and the final table equals the batch fold of every
    epoch's rows."""
    from pyspark.errors import StreamingQueryException

    ddl, slices, run_stream, read, batch_fold = case(spark)
    land = tmp_path / "landing"
    land.mkdir()
    _stage_arrivals(spark, tmp_path, land, slices, ddl)
    root, ckpt = str(tmp_path / "table"), str(tmp_path / "ckpt")

    def run():
        run_stream(ingest.landing_stream(spark, str(land), ddl), root, ckpt)

    real, commits = ingest.commit_table, []

    def crash_after_epoch_2_commit(*args, **kwargs):
        version = real(*args, **kwargs)
        commits.append(version)
        if len(commits) == crash_at:
            raise RuntimeError("injected crash after the commit")
        return version

    monkeypatch.setattr(ingest, "commit_table", crash_after_epoch_2_commit)
    with pytest.raises(StreamingQueryException, match="injected crash"):
        run()
    assert ingest.current_version(os.path.join(root, table)) == "v000002"
    monkeypatch.setattr(ingest, "commit_table", real)
    run()

    everything = spark.createDataFrame([r for rows in slices for r in rows], ddl)
    got = sorted(map(tuple, read(root).collect()))
    assert got == sorted(map(tuple, batch_fold(everything).collect()))
    assert got


def test_retried_epoch_is_a_no_op(spark, tmp_path, staged):
    land, batches = staged
    root = str(tmp_path / "models_table")
    sink = ingest.upsert_sink(root, keys=["name"], schema_ddl=SCHEMA)

    for i, names in enumerate(batches):
        sink(spark.createDataFrame([(n,) for n in names], "name string"), i)
    before = sorted(
        map(tuple, ingest.read_table(spark, root, SCHEMA).collect())
    )
    v_before = ingest.current_version(root)

    # at-least-once: epoch 1 is delivered again after a "failure"
    sink(spark.createDataFrame([(n,) for n in batches[1]], "name string"), 1)

    after_df = ingest.read_table(spark, root, SCHEMA)
    assert sorted(map(tuple, after_df.collect())) == before
    # a new version was committed (the sink doesn't special-case no-ops)
    # but its contents are identical — exactly-once state, not log
    assert ingest.current_version(root) != v_before


def test_reader_sees_only_committed_versions(spark, tmp_path):
    root = str(tmp_path / "t")
    sink = ingest.upsert_sink(root, keys=["name"], schema_ddl=SCHEMA)
    sink(spark.createDataFrame([("a",)], "name string"), 0)
    v1 = ingest.current_version(root)
    old = spark.read.parquet(os.path.join(root, v1))  # reader pins v1

    sink(spark.createDataFrame([("b",)], "name string"), 1)
    assert ingest.current_version(root) != v1
    # pinned reader still resolves: old files are never rewritten
    assert [r["name"] for r in old.collect()] == ["a"]
    assert ingest.read_table(spark, root, SCHEMA).count() == 2


def test_crashed_commit_is_repaired_by_retry(spark, tmp_path):
    """A crash BETWEEN the version write and the pointer swap leaves an
    orphaned version directory the pointer never names. The retried
    commit must rewrite that directory and succeed — not error on the
    leftover — and readers must end on the retried contents."""
    root = str(tmp_path / "t")
    sink = ingest.upsert_sink(root, keys=["name"], schema_ddl=SCHEMA)
    sink(spark.createDataFrame([("a",)], "name string"), 0)
    assert ingest.current_version(root) == "v000001"

    # simulate the crash: v000002 written (with stale content), pointer
    # never swapped
    spark.createDataFrame([(99, "stale")], SCHEMA).write.parquet(
        os.path.join(root, "v000002")
    )
    assert ingest.current_version(root) == "v000001"

    sink(spark.createDataFrame([("b",)], "name string"), 1)
    assert ingest.current_version(root) == "v000002"
    got = sorted(
        r["name"] for r in ingest.read_table(spark, root, SCHEMA).collect()
    )
    assert got == ["a", "b"]  # stale orphan fully replaced


def test_streamed_source_dim_feeds_search_pipeline(spark, tmp_path):
    """End-to-end: stream source metadata in, then use the committed dim
    in a null-safe lookup (the reference's U2 read side)."""
    root = str(tmp_path / "sources")
    ddl = "id long, model_id long, author string, title string, year int"
    sink = ingest.upsert_sink(
        root, keys=list(write_ops.SOURCE_UNIQUE_KEYS), schema_ddl=ddl
    )
    b1 = spark.createDataFrame(
        [(1, "Dick", "Second Variety", 1953), (1, None, "Anon Tract", None)],
        "model_id long, author string, title string, year int",
    )
    sink(b1, 0)
    sink(b1, 1)  # duplicate delivery
    dim = ingest.read_table(spark, root, ddl)
    assert dim.count() == 2
    # null-safe key lookup finds the NULL-keyed row exactly once
    hit = dim.filter(
        F.col("author").eqNullSafe(F.lit(None).cast("string"))
        & (F.col("title") == "Anon Tract")
    )
    assert hit.count() == 1


def test_vacuum_keeps_current_and_window(spark, tmp_path):
    """vacuum_versions deletes only versions strictly older than the
    retained window; the committed state is untouched and re-readable."""
    root = str(tmp_path / "tbl")
    for i in range(5):
        df = spark.createDataFrame([(i, f"r{i}")], "id long, name string")
        ingest.commit_table(df, root)
    assert ingest.list_versions(root) == [f"v{n:06d}" for n in range(1, 6)]
    deleted = ingest.vacuum_versions(root, keep=2)
    assert deleted == ["v000001", "v000002", "v000003"]
    assert ingest.list_versions(root) == ["v000004", "v000005"]
    assert ingest.current_version(root) == "v000005"
    got = ingest.read_table(spark, root, "id long, name string").collect()
    assert [(r["id"], r["name"]) for r in got] == [(4, "r4")]
    # idempotent; keep=1 retains only the current version
    assert ingest.vacuum_versions(root, keep=2) == []
    assert ingest.vacuum_versions(root, keep=1) == ["v000004"]


def test_vacuum_spares_versions_newer_than_pointer(spark, tmp_path):
    """An orphan directory NEWER than _CURRENT (a commit in flight or a
    crash between write and swap) is never deleted."""
    import os

    root = str(tmp_path / "tbl")
    for i in range(3):
        df = spark.createDataFrame([(i, "x")], "id long, name string")
        ingest.commit_table(df, root)
    # roll the pointer back to v2, leaving v3 as the in-flight orphan
    with open(os.path.join(root, "_CURRENT"), "w", encoding="utf-8") as fh:
        fh.write("v000002")
    deleted = ingest.vacuum_versions(root, keep=1)
    assert deleted == ["v000001"]
    assert ingest.list_versions(root) == ["v000002", "v000003"]


def test_time_travel_and_compaction(spark, tmp_path):
    """Version N stays readable after later commits (time travel);
    compaction rewrites the current version into the target file count
    with IDENTICAL content and commits it as a new version; vacuum then
    reclaims the fragmented history."""
    from demo_pgvector_spark.streaming import ingest

    root = str(tmp_path / "tbl")
    ddl = "id long, k string"
    v1 = ingest.commit_table(
        spark.createDataFrame([(1, "a")], ddl).repartition(8), root
    )
    v2 = ingest.commit_table(
        spark.createDataFrame([(1, "a"), (2, "b")], ddl).repartition(8), root
    )
    old = ingest.read_table_at(spark, root, ddl, v1)
    assert [tuple(r) for r in old.collect()] == [(1, "a")]
    v3, n_files = ingest.compact_table(spark, root, ddl, target_rows_per_file=10)
    assert n_files == 1
    assert ingest.current_version(root) == v3
    now = ingest.read_table(spark, root, ddl)
    assert sorted(tuple(r) for r in now.collect()) == [(1, "a"), (2, "b")]
    # history: v1 v2 v3; vacuum to the current + 1 predecessor
    doomed = ingest.vacuum_versions(root, keep=2)
    assert doomed == [v1]
    assert ingest.read_table_at(spark, root, ddl, v2) is not None
    import pytest as _pytest

    with _pytest.raises(ValueError):
        ingest.read_table_at(spark, root, ddl, v1)


def test_delta_commit_matches_whole_commit_and_links_files(spark, tmp_path):
    """commit_table(delta=True) — the add-files commit for grow-only
    tables (guide §6): content equals the whole-table rewrite, the
    previous version's data files are HARDLINKED into the new version
    (write job is O(delta), not O(table)), and vacuuming the old
    version unlinks names without touching bytes the new version still
    references."""
    root = str(tmp_path / "t")
    ddl = "id long, name string"
    ingest.commit_table(
        spark.createDataFrame([(1, "a"), (2, "b")], ddl), root
    )
    v1 = ingest.current_version(root)
    v1_files = {
        f
        for f in os.listdir(os.path.join(root, v1))
        if f.endswith(".parquet")
    }
    assert v1_files

    ingest.commit_table(
        spark.createDataFrame([(3, "c")], ddl), root, delta=True
    )
    v2 = ingest.current_version(root)
    got = sorted(map(tuple, ingest.read_table(spark, root, ddl).collect()))
    assert got == [(1, "a"), (2, "b"), (3, "c")]

    v2_files = {
        f
        for f in os.listdir(os.path.join(root, v2))
        if f.endswith(".parquet")
    }
    # every v1 data file is carried as a hardlink (same inode — no
    # rewrite), and the delta landed as at least one NEW file
    assert v1_files < v2_files
    for f in v1_files:
        assert os.path.samefile(
            os.path.join(root, v1, f), os.path.join(root, v2, f)
        )

    ingest.vacuum_versions(root, keep=1)
    assert ingest.list_versions(root) == [v2]
    assert (
        sorted(map(tuple, ingest.read_table(spark, root, ddl).collect()))
        == got
    )


def test_delta_commit_repairs_crash_orphan(spark, tmp_path):
    """A crash between a delta commit's write and its pointer swap
    leaves an orphan directory (links + partial appends); the retried
    delta commit rebuilds it from scratch and lands the same content."""
    root = str(tmp_path / "t")
    ddl = "id long, name string"
    ingest.commit_table(spark.createDataFrame([(1, "a")], ddl), root)
    # simulate the crash: v000002 exists with garbage, pointer unswapped
    spark.createDataFrame([(99, "stale")], ddl).write.parquet(
        os.path.join(root, "v000002")
    )
    assert ingest.current_version(root) == "v000001"

    ingest.commit_table(
        spark.createDataFrame([(2, "b")], ddl), root, delta=True
    )
    assert ingest.current_version(root) == "v000002"
    got = sorted(map(tuple, ingest.read_table(spark, root, ddl).collect()))
    assert got == [(1, "a"), (2, "b")]


def test_upsert_sink_delta_version_is_content_identical(spark, tmp_path):
    """The upsert sink's add-files commit (novel rows only + hardlinks)
    produces version content identical to the old whole-rewrite
    (existing ∪ allocated-novel), including on a retried no-novel epoch."""
    root = str(tmp_path / "t")
    sink = ingest.upsert_sink(root, keys=["name"], schema_ddl=SCHEMA)
    sink(spark.createDataFrame([("a",), ("b",)], "name string"), 0)
    sink(spark.createDataFrame([("b",), ("c",)], "name string"), 1)
    got = {
        r["name"]: r["id"]
        for r in ingest.read_table(spark, root, SCHEMA).collect()
    }
    assert got == {"a": 1, "b": 2, "c": 3}
    # retried epoch: no novel keys -> content-identical new version
    sink(spark.createDataFrame([("b",), ("c",)], "name string"), 1)
    again = {
        r["name"]: r["id"]
        for r in ingest.read_table(spark, root, SCHEMA).collect()
    }
    assert again == got


def test_drain_restores_width_after_a_failing_sink(spark, tmp_path):
    """``drain`` scopes its confs across ``start()`` only: the stream's
    own session plans with the override, while the caller's session is
    already back at its prior width inside the running epoch, and stays
    there when the epoch raises."""
    from pyspark.errors import StreamingQueryException

    land = str(tmp_path / "landing")
    spark.range(3).coalesce(1).write.parquet(land)
    key = "spark.sql.shuffle.partitions"
    prior = spark.conf.get(key)
    assert prior != "3"
    seen = []

    def failing_sink(batch, _epoch_id):
        seen.append((batch.sparkSession.conf.get(key), spark.conf.get(key)))
        raise RuntimeError("injected sink failure")

    with pytest.raises(StreamingQueryException, match="injected sink failure"):
        ingest.drain(
            ingest.landing_stream(spark, land, "id long"),
            str(tmp_path / "ckpt"),
            failing_sink,
            confs={key: 3},
        )
    assert seen == [("3", prior)]
    assert spark.conf.get(key) == prior


def test_streaming_package_has_one_drain():
    """Every streaming query in ``streaming/`` starts inside
    ``ingest.drain`` (or the test-only memory-sink ``run_to_memory``):
    no module builds its own ``writeStream`` block."""
    import ast
    import pathlib

    owners = set()
    for path in sorted(pathlib.Path(ingest.__file__).parent.glob("*.py")):
        for node in ast.parse(path.read_text(encoding="utf-8")).body:
            if any(
                isinstance(n, ast.Attribute) and n.attr == "writeStream"
                for n in ast.walk(node)
            ):
                owners.add((path.name, getattr(node, "name", None)))
    assert owners == {("ingest.py", "drain"), ("windows.py", "run_to_memory")}


def test_package_has_one_width_rule():
    """Widths come only from ``session``: no module outside it names the
    shuffle-width conf, and no function takes a width parameter."""
    import ast
    import pathlib

    pkg = pathlib.Path(ingest.__file__).parent.parent
    literals, params = [], []
    for path in sorted(pkg.rglob("*.py")):
        tree = ast.parse(path.read_text(encoding="utf-8"))
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Constant)
                and node.value == "spark.sql.shuffle.partitions"
                and path.name != "session.py"
            ):
                literals.append(f"{path.name}:{node.lineno}")
            if isinstance(node, ast.arg) and node.arg in (
                "loop_partitions",
                "shuffle_partitions",
                "num_partitions",
            ):
                params.append(f"{path.name}:{node.lineno}:{node.arg}")
    assert literals == []
    assert params == []


def test_width_for_is_the_session_width_capped_by_the_scan(spark, tmp_path):
    """``width_for``: the session width ``S`` for an in-memory frame;
    ``min(S, max(8, splits))`` for a local parquet scan."""
    from demo_pgvector_spark.session import scan_splits, scoped_conf, width_for

    key = "spark.sql.shuffle.partitions"
    mem = spark.range(100)
    path = str(tmp_path / "p")
    spark.range(20_000).coalesce(1).write.parquet(path)
    files = spark.read.parquet(path)
    for s in (4, 32):
        with scoped_conf(spark, key, s):
            assert width_for(mem) == s
            assert scan_splits(files) == 1
            assert width_for(files) == min(s, 8)
            with scoped_conf(spark, "spark.sql.files.maxPartitionBytes", 4096):
                splits = scan_splits(files)
                assert splits > 8
                assert width_for(files) == min(s, splits)


def test_versioned_reads_plan_without_a_job(spark, tmp_path):
    """Reading the warehouse launches no Spark job (declared schemas, no
    inference), so a ``generate_text`` request costs only its retrieval
    jobs; a time-travel read of an older version plans without a job too."""
    from demo_pgvector_spark import cli, tables

    wh = str(tmp_path / "wh")
    # ~2k words a doc: more chunks than generate_text's top_k, the serving
    # shape (with fewer hits than top_k the plan runs one job less)
    words = "lake engines plan declared reads without inference jobs "
    first = tmp_path / "first.txt"
    first.write_text(words * 300, encoding="utf-8")
    (tmp_path / "first.txt.meta.yml").write_text(
        "author: A. Writer\ntitle: Declared Reads\ntext_type: book\n"
        "genre: fiction\npublication_date: \"1999-01-01\"\n",
        encoding="utf-8",
    )
    second = tmp_path / "second.txt"
    second.write_text("vectors cluster near their centroids " * 400, encoding="utf-8")
    cli.import_doc(spark, wh, [str(first)])
    cli.import_doc(spark, wh, [str(second)])

    with spark_jobs(spark) as jobs:
        state = cli.load_state(spark, wh)
    assert jobs() == 0
    assert state["sources"].count() == 2
    with spark_jobs(spark) as jobs:
        prompt = cli.generate_text(spark, wh, words)
    assert jobs() == 3
    assert 'Excerpt from "Declared Reads"' in prompt

    root = os.path.join(wh, "sources")
    older = ingest.list_versions(root)[0]
    assert older != ingest.current_version(root)
    with spark_jobs(spark) as jobs:
        old = ingest.read_table_at(spark, root, tables.SOURCES_SCHEMA, older)
    assert jobs() == 0
    assert old.count() == 1


@pytest.mark.parametrize(
    "ddl, named",
    [("id long, label string", "label"), ("id long, name int", "name:int")],
)
def test_read_rejects_declaration_the_files_do_not_match(spark, tmp_path, ddl, named):
    """A declaration that disagrees with the written files in a column
    name or type fails loudly at read time instead of reading NULLs."""
    root = str(tmp_path / "t")
    v1 = ingest.commit_table(spark.createDataFrame([(1, "a")], SCHEMA), root)
    with pytest.raises(ValueError, match=named):
        ingest.read_table(spark, root, ddl)
    with pytest.raises(ValueError, match=named):
        ingest.read_table_at(spark, root, ddl, v1)


def test_read_ignores_nullability(spark, tmp_path):
    """A declaration that differs from the files only in nullability
    reads fine: the ``chunks.embedding`` case, written
    ``containsNull=true`` and declared false."""
    from pyspark.sql import types as T

    root = str(tmp_path / "vecs")
    ingest.commit_table(
        spark.createDataFrame([(1, [0.5, None])], "id long, v array<float>"), root
    )
    declared = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("v", T.ArrayType(T.FloatType(), False), True),
        ]
    )
    got = ingest.read_table(spark, root, declared).collect()
    assert [tuple(r) for r in got] == [(1, [0.5, None])]


@pytest.mark.parametrize(
    "commit, version_synced",
    [
        (ingest.commit_table, [("dir", False)]),
        (
            lambda df, root: sketches._commit_with_epoch(df, root, 0),
            [("file", False), ("dir", False)],
        ),
    ],
    ids=["commit_table", "countmin_commit"],
)
def test_commit_fsyncs_pointer_then_root(
    tmp_path, monkeypatch, commit, version_synced
):
    """Both versioned-table commits make their pointer swap durable: the
    temp pointer file is fsynced before the rename, the table root
    directory after. Each first syncs the version it wrote: here a
    directory with no data file, plus the count-min commit's epoch
    marker."""
    import stat

    class _Frame:
        """Stands in for a DataFrame: the write makes the version dir."""

        @property
        def write(self):
            return self

        def coalesce(self, _n):
            return self

        def mode(self, _mode):
            return self

        def parquet(self, path):
            os.makedirs(path, exist_ok=True)

    real_fsync = os.fsync
    synced = []

    def recording_fsync(fd):
        kind = "dir" if stat.S_ISDIR(os.fstat(fd).st_mode) else "file"
        synced.append((kind, os.path.exists(os.path.join(root, "_CURRENT"))))
        real_fsync(fd)

    root = str(tmp_path / "t")
    monkeypatch.setattr(os, "fsync", recording_fsync)
    assert commit(_Frame(), root) == "v000001"
    # the file is synced while the pointer does not exist yet (before the
    # rename), the directory once it does
    assert synced == version_synced + [("file", False), ("dir", True)]
    assert ingest.current_version(root) == "v000001"


def test_commit_syncs_every_new_data_file_before_the_pointer_moves(
    spark, tmp_path, monkeypatch
):
    """``commit_table`` fsyncs each data file it wrote into the next
    version, and the version directory, before ``_CURRENT`` names it —
    for a whole commit, an add-files delta (whose hardlinked files were
    synced by the commit that wrote them), an empty delta and the
    count-min sink's commit, whose epoch marker is synced too."""
    root, cm_root = str(tmp_path / "t"), str(tmp_path / "cm")
    synced, at_swap = set(), []
    real_fsync, real_publish = os.fsync, ingest.publish_version

    def recording_fsync(fd):
        st = os.fstat(fd)
        synced.add((st.st_dev, st.st_ino))
        real_fsync(fd)

    def recording_publish(table_root, version):
        at_swap.append((table_root, version, set(synced)))
        real_publish(table_root, version)

    monkeypatch.setattr(os, "fsync", recording_fsync)
    monkeypatch.setattr(ingest, "publish_version", recording_publish)
    rows = [(i, f"m{i}") for i in range(6)]
    ingest.commit_table(spark.createDataFrame(rows[:4], SCHEMA).repartition(2), root)
    ingest.commit_table(spark.createDataFrame(rows[4:], SCHEMA), root, delta=True)
    ingest.commit_table(spark.createDataFrame([], SCHEMA), root, delta=True)
    sketch = spark.createDataFrame([(0, 3, 2)], sketches.SKETCH_SCHEMA_DDL)
    sketches._commit_with_epoch(sketch, cm_root, 7)

    assert [v for _, v, _ in at_swap] == ["v000001", "v000002", "v000003", "v000001"]
    assert sketches._last_epoch(cm_root) == 7
    for table_root, version, synced_then in at_swap:
        vdir = os.path.join(table_root, version)
        files = [
            f
            for f in os.listdir(vdir)
            if f.endswith(".parquet") or f == sketches._EPOCH_MARKER
        ]
        assert files, version
        assert (sketches._EPOCH_MARKER in files) == (table_root == cm_root)
        for path in [vdir] + [os.path.join(vdir, f) for f in files]:
            st = os.stat(path)
            assert (st.st_dev, st.st_ino) in synced_then, path
    got = ingest.read_table(spark, root, SCHEMA).collect()
    assert sorted(tuple(r) for r in got) == rows
