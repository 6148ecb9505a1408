"""The three-command user surface (cli.py) — the reference's
tasks.py example.load_and_query_1 as separate invocations against a
persistent warehouse, on the reference's own example corpus (or, where
it is absent, five generated EPUBs of the same shape).

Each command call reloads state from disk (load_state), exactly like
the reference's CLI processes reconnecting to Postgres — nothing is
carried in memory between verbs.
"""

from __future__ import annotations

import glob
import io
import os
import random
import zipfile

import pytest

from demo_pgvector_spark import cli
from tests.conftest import spark_jobs

EXAMPLES = "/root/reference/examples"

# stand-in corpus: five books of BOOK_WORDS words each, so two books make
# more than 40 chunks at import_doc's default 256-word budget
BOOK_WORDS = 6200
VOCAB = (
    "the a of and to in that it was he she they machines robots build "
    "themselves rise up city war world ruins soldiers claws tunnel bunker "
    "radio signal school tomorrow together arise factory metal steel wire "
    "engine light dark night morning cold wind dust road river bridge tower "
    "voice silence memory story letter captain major scott hendricks moon "
    "earth sky ship orbit base camp forest field stone glass fire water "
    "hand eye face door window wall floor roof house street market child "
    "woman man old young long short slow fast first last every never always"
).split()


def _epub_bytes(title: str, paragraphs: list[str]) -> bytes:
    """A minimal valid EPUB: stored ``mimetype``, container.xml, an OPF
    package with one spine item, and one XHTML chapter (the same builder
    as perfbench/gen.py, which tests do not import)."""
    container = (
        '<?xml version="1.0"?>'
        '<container version="1.0" xmlns="urn:oasis:names:tc:opendocument:xmlns:container">'
        '<rootfiles><rootfile full-path="OEBPS/content.opf" '
        'media-type="application/oebps-package+xml"/></rootfiles></container>'
    )
    opf = (
        '<?xml version="1.0"?>'
        '<package xmlns="http://www.idpf.org/2007/opf" version="3.0">'
        f"<metadata><title>{title}</title></metadata>"
        '<manifest><item id="c1" href="c1.xhtml" media-type="application/xhtml+xml"/></manifest>'
        '<spine><itemref idref="c1"/></spine></package>'
    )
    body = "".join(f"<p>{p}</p>" for p in paragraphs)
    xhtml = (
        '<?xml version="1.0"?><html xmlns="http://www.w3.org/1999/xhtml">'
        f"<head><title>{title}</title></head><body>{body}</body></html>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr(zipfile.ZipInfo("mimetype"), "application/epub+zip")
        z.writestr("META-INF/container.xml", container)
        z.writestr("OEBPS/content.opf", opf)
        z.writestr("OEBPS/c1.xhtml", xhtml)
    return buf.getvalue()


def _write_book(path: str, i: int, words: int) -> str:
    """Book ``i``: ``words`` seeded words in one paragraph (paragraph
    breaks would end up inside word tokens) plus its ``.meta.yml``."""
    rng = random.Random(i)
    text = " ".join(rng.choice(VOCAB) for _ in range(words))
    with open(path, "wb") as fh:
        fh.write(_epub_bytes(f"Book {i}", [text]))
    with open(path + ".meta.yml", "w", encoding="utf-8") as fh:
        fh.write(
            f"author: Author {i}\ntitle: Book {i}\ntext_type: novel\n"
            f'genre: science fiction\npublication_date: "{1950 + i}-01-01"\n'
        )
    return path


@pytest.fixture(scope="module")
def books(tmp_path_factory) -> list[str]:
    """The reference's five example EPUBs (with their sidecars) when
    present, else five generated ones of the same shape."""
    if os.path.isdir(EXAMPLES):
        return sorted(glob.glob(f"{EXAMPLES}/*.epub"))
    d = tmp_path_factory.mktemp("books")
    return [_write_book(str(d / f"book{i}.epub"), i, BOOK_WORDS) for i in range(5)]


def test_import_search_generate_roundtrip(spark, tmp_path, books):
    wh = str(tmp_path / "warehouse")

    # invocation 1: import two books
    cli.import_doc(spark, wh, books[:2])
    st = cli.load_state(spark, wh)
    assert st["sources"].count() == 2
    n_chunks_2 = st["chunks"].count()
    assert n_chunks_2 > 40

    # invocation 2: import the remaining three (plus a re-import dupe)
    cli.import_doc(spark, wh, books[1:])
    st = cli.load_state(spark, wh)
    assert st["models"].count() == 1
    assert st["sources"].count() == 5  # books[1] upserted, not duplicated

    # invocation 3: search (fresh state load, like a new CLI process)
    hits = cli.search_doc_chunks(
        spark, wh, "the robots and machines rise up", limit=5, threshold=0.0
    ).collect()
    assert len(hits) == 5
    assert all(h["chunk_text"] for h in hits)

    # invocation 4: generate — the with-context template fires and carries
    # retrieved excerpts with their sidecar attribution
    prompt = cli.generate_text(spark, wh, "Tell me about machines that build themselves")
    assert "you found the following relevant information" in prompt
    assert 'Excerpt from "' in prompt and ", by " in prompt

    # no-context branch on an impossible threshold
    none = cli.generate_text(
        spark, wh, "anything", threshold=1.0 - 1e-12
    )
    assert "you found no relevant information" in none

    # invocation 5: the generation sink itself, with the deterministic
    # client bound (reference cli/generate_text.py:178-183 with vLLM)
    from demo_pgvector_spark.operators import rag

    done = cli.generate_text(
        spark,
        wh,
        "Tell me about machines that build themselves",
        client=rag.DeterministicLLMClient("m"),
    )
    assert done.startswith("[m:") and "response to a" in done
    # deterministic: same warehouse + prompt → same completion
    assert done == cli.generate_text(
        spark, wh, "Tell me about machines that build themselves",
        client=rag.DeterministicLLMClient("m"),
    )


def test_plaintext_and_missing_sidecar(spark, tmp_path):
    wh = str(tmp_path / "warehouse")
    doc = tmp_path / "notes.txt"
    doc.write_text("Plain text ingestion path. " * 50, encoding="utf-8")

    cli.import_doc(spark, wh, [str(doc)])
    st = cli.load_state(spark, wh)
    assert st["sources"].count() == 1  # sidecar-less file still imports
    hits = cli.search_doc_chunks(
        spark, wh, "plain text ingestion", limit=3, threshold=0.0
    ).collect()
    assert hits and "Plain text" in hits[0]["chunk_text"]


def test_generate_batch_is_distributed_and_deterministic(spark):
    """Corpus-scale generation: one completion per prompt row via
    mapInPandas, client built per partition — order-independent and
    identical to driving the client directly."""
    from demo_pgvector_spark.operators import rag

    prompts = spark.createDataFrame(
        [(i, f"prompt number {i}") for i in range(20)], "qid int, prompt string"
    ).repartition(4)
    got = {
        r["qid"]: r["generated"]
        for r in rag.generate_batch(prompts, max_tokens=16).collect()
    }
    client = rag.DeterministicLLMClient()
    want = client.generate([f"prompt number {i}" for i in range(20)], max_tokens=16)
    assert got == {i: w for i, w in enumerate(want)}
    assert len(set(got.values())) == 20  # prompt-dependent outputs


def test_empty_files_is_a_noop(spark, tmp_path):
    wh = str(tmp_path / "warehouse")
    st = cli.import_doc(spark, wh, [])
    assert st["models"].count() == 0


def test_curate_writes_pack_assignments(spark, tmp_path):
    """The engine-extension curate verb: documents parquet in, pack
    assignments parquet out, scrubbed variant included."""
    from demo_pgvector_spark import cli

    src = str(tmp_path / "docs")
    out = str(tmp_path / "packs")
    rows = [
        (i, f"{'tok%d ' % (i % 9) * 20}end of document {i}", "en",
         "src0" if i % 2 else "src1", 40)
        for i in range(120)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars int"
    ).write.mode("overwrite").parquet(src)
    got = cli.curate(spark, src, out, default_per_mille=1000, pack_budget=64)
    back = spark.read.parquet(out)
    assert back.columns == ["doc_id", "source", "n_tokens", "pack_id"]
    assert back.count() == got.count() > 0
    # budget contract: no pack exceeds budget before its final doc
    from pyspark.sql import functions as F

    over = (
        back.groupBy("source", "pack_id")
        .agg(F.sum("n_tokens").alias("s"), F.max("n_tokens").alias("m"))
        .filter(F.col("s") - F.col("m") >= 64)
    )
    assert over.count() == 0
    # scrubbed path runs end-to-end too
    got2 = cli.curate(spark, src, out, scrub=True, default_per_mille=1000)
    assert got2.count() > 0


def test_mix_verb_rebalances_domains(spark, tmp_path):
    """mix writes a domain-rebalanced sample; rerunning is idempotent."""
    from demo_pgvector_spark import cli

    rows = [(i, f"text {i}", "en" if i < 160 else "de", "s", 7)
            for i in range(200)]
    src = str(tmp_path / "docs")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(src)
    out = str(tmp_path / "mixed")
    got = cli.mix(spark, src, out, weights={"en": 1, "de": 1}, target_total=80)
    first_ids = sorted(r.doc_id for r in got.collect())
    by = {r.lang: r["count"] for r in got.groupBy("lang").count().collect()}
    # en rate 80/(2·160)=0.25 → ~40; de rate 80/(2·40)=1.0 → all 40
    assert by.get("de") == 40
    assert 25 <= by.get("en", 0) <= 55
    # idempotent rerun (fresh output dir: the first read's file listing
    # must not be reused across the overwrite)
    out2 = str(tmp_path / "mixed2")
    again = cli.mix(spark, src, out2, weights={"en": 1, "de": 1}, target_total=80)
    assert sorted(r.doc_id for r in again.collect()) == first_ids


def test_maintain_verb_compacts_and_vacuums(spark, tmp_path, books):
    """After two imports the warehouse holds multiple versions per
    table; maintain compacts each to one file and prunes history,
    leaving query results unchanged."""
    from demo_pgvector_spark import cli
    from demo_pgvector_spark.streaming import ingest

    wh = str(tmp_path / "wh")
    cli.import_doc(spark, wh, books[:1])
    cli.import_doc(spark, wh, books[1:2])
    before = {
        n: sorted(tuple(r) for r in df.collect())
        for n, df in cli.load_state(spark, wh).items()
    }
    report = cli.maintain(spark, wh, target_rows_per_file=100_000)
    assert set(report) == set(before)
    for name, (v, n_files, _doomed) in report.items():
        assert n_files == 1
        assert ingest.current_version(f"{wh}/{name}") == v
    after = {
        n: sorted(tuple(r) for r in df.collect())
        for n, df in cli.load_state(spark, wh).items()
    }
    assert after == before


@pytest.fixture(scope="module")
def small_books(tmp_path_factory) -> list[str]:
    """Three generated EPUBs of three chunks each: the first import's
    one, then the second import's two."""
    d = tmp_path_factory.mktemp("small_books")
    return [_write_book(str(d / f"b{i}.epub"), 10 + i, 600) for i in range(3)]


def _tables(spark, wh: str) -> dict[str, list[tuple]]:
    return {
        n: sorted(tuple(r) for r in df.collect())
        for n, df in cli.load_state(spark, wh).items()
    }


@pytest.fixture(scope="module")
def clean_import(spark, tmp_path_factory, small_books) -> dict[str, list[tuple]]:
    wh = str(tmp_path_factory.mktemp("clean") / "wh")
    cli.import_doc(spark, wh, small_books[:1])
    cli.import_doc(spark, wh, small_books[1:])
    return _tables(spark, wh)


@pytest.mark.parametrize("boundary", ["models", "sources", "chunks"])
def test_import_rerun_repairs_a_crash_between_the_commits(
    spark, tmp_path, monkeypatch, small_books, clean_import, boundary
):
    """A second import crashes right after its ``boundary`` table
    commits. A reader before the rerun sees a whole chunk pair, and
    rerunning the same import gives the four tables of a clean run and
    leaves only the table roots in the warehouse."""
    from demo_pgvector_spark.streaming import ingest

    wh = str(tmp_path / "wh")
    cli.import_doc(spark, wh, small_books[:1])
    real = ingest.commit_table

    def crash_after(df, root, *args, **kwargs):
        v = real(df, root, *args, **kwargs)
        if os.path.basename(root) == boundary:
            raise RuntimeError(f"injected crash after the {boundary} commit")
        return v

    monkeypatch.setattr(ingest, "commit_table", crash_after)
    with pytest.raises(RuntimeError, match="injected crash"):
        cli.import_doc(spark, wh, small_books[1:])
    monkeypatch.setattr(ingest, "commit_table", real)

    st = cli.load_state(spark, wh)
    assert {r["id"] for r in st["chunks"].select("id").collect()} == {
        r["chunk_id"] for r in st["chunk_data"].select("chunk_id").collect()
    }
    cli.import_doc(spark, wh, small_books[1:])
    assert _tables(spark, wh) == clean_import
    assert sorted(os.listdir(wh)) == sorted(cli._TABLE_SCHEMAS)


def test_second_import_links_the_old_files_and_writes_only_its_rows(
    spark, tmp_path, monkeypatch, small_books
):
    """The chunk pair commits add files: after a second import each
    pair table's version holds every file of the one before as a
    hardlink, its other files hold exactly the new rows, and each pair
    commit is one Spark job (a write of the staged batch — the import
    lineage does not run again)."""
    import pyarrow.parquet as pq

    from demo_pgvector_spark.streaming import ingest

    wh = str(tmp_path / "wh")
    cli.import_doc(spark, wh, small_books[:1])
    before = {r["id"] for r in cli.load_state(spark, wh)["chunks"].collect()}

    real, jobs = ingest.commit_table, {}

    def counted(df, root, *args, **kwargs):
        with spark_jobs(spark) as launched:
            v = real(df, root, *args, **kwargs)
        jobs[os.path.basename(root)] = launched()
        return v

    monkeypatch.setattr(ingest, "commit_table", counted)
    cli.import_doc(spark, wh, small_books[1:])
    assert jobs["chunks"] == jobs["chunk_data"] == 1
    assert sorted(os.listdir(wh)) == sorted(cli._TABLE_SCHEMAS)

    after = {r["id"] for r in cli.load_state(spark, wh)["chunks"].collect()}
    added = sorted(after - before)
    assert before and len(added) == 6  # two books of three chunks
    for name, id_col in (("chunks", "id"), ("chunk_data", "chunk_id")):
        root = os.path.join(wh, name)
        prev, cur = (os.path.join(root, v) for v in ingest.list_versions(root)[-2:])
        assert ingest.current_version(root) == os.path.basename(cur)

        def inodes(d):
            return {
                f: os.stat(os.path.join(d, f)).st_ino
                for f in os.listdir(d) if f.endswith(".parquet")
            }

        old, now = inodes(prev), inodes(cur)
        assert old and all(now.get(f) == ino for f, ino in old.items())
        fresh = [os.path.join(cur, f) for f in now if f not in old]
        ids = [i for f in fresh for i in pq.read_table(f, columns=[id_col])[id_col].to_pylist()]
        assert sorted(ids) == added


def test_import_with_a_known_model_adds_no_file_to_models(
    spark, tmp_path, small_books
):
    """A second import with the same model commits an empty models
    delta: its version holds exactly hardlinks of the previous
    version's files, and no empty file of its own."""
    from demo_pgvector_spark.streaming import ingest

    wh = str(tmp_path / "wh")
    cli.import_doc(spark, wh, small_books[:1])
    cli.import_doc(spark, wh, small_books[1:])
    root = os.path.join(wh, "models")
    prev, cur = (os.path.join(root, v) for v in ingest.list_versions(root)[-2:])
    assert ingest.current_version(root) == os.path.basename(cur)

    def inodes(d):
        return {
            f: os.stat(os.path.join(d, f)).st_ino
            for f in os.listdir(d) if f.endswith(".parquet")
        }

    assert inodes(prev) and inodes(cur) == inodes(prev)
    assert cli.load_state(spark, wh)["models"].count() == 1


def test_quality_filter_verb_scores_and_keeps(spark, tmp_path):
    from demo_pgvector_spark import cli, tables

    docs = tables.load(spark, "/root/testdata/sf0.001", "documents")
    src = str(tmp_path / "docs_in")
    docs.write.parquet(src)
    out_path = str(tmp_path / "docs_kept")
    kept = cli.quality_filter(spark, src, out_path)
    n_docs = docs.count()
    n_kept = kept.count()
    assert 0 < n_kept < n_docs  # the model actually discriminates
    assert set(kept.columns) == set(docs.columns) | {"score"}
    # scored=False variant carries every doc with its verdict
    allrows = cli.quality_filter(
        spark, src, str(tmp_path / "docs_all"), keep_only=False
    )
    assert allrows.count() == n_docs
    assert allrows.filter("keep").count() == n_kept


def test_semdedup_verb_drops_duplicates(spark, tmp_path):
    import numpy as np

    from demo_pgvector_spark import cli

    rng = np.random.RandomState(11)
    rows = [(i, rng.normal(0, 1, 8).tolist()) for i in range(20)]
    # two exact-ish duplicates of vector 5
    for dup in (20, 21):
        rows.append((dup, (np.array(rows[5][1]) + rng.normal(0, 1e-3, 8)).tolist()))
    src = str(tmp_path / "vecs_in")
    spark.createDataFrame(rows, "vec_id long, embedding array<double>").write.parquet(
        src
    )
    out = cli.semdedup(spark, src, str(tmp_path / "vecs_out"), threshold=0.95,
                       n_centroids=4)
    kept = {r["vec_id"] for r in out.collect()}
    # exactly one of the {5, 20, 21} clique survives
    assert len(kept & {5, 20, 21}) == 1
    assert len(kept) == 20  # 22 vectors - 2 dropped dups
