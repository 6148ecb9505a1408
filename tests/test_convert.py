"""Conversion + sink tests (operators/convert.py): container→markdown
round-trip, and the partitioned parquet sink (tables.write_layout) with
partition pruning."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from demo_pgvector_spark import tables
from demo_pgvector_spark.operators import convert


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(
        [
            (0, "one two three four five six", "en"),
            (1, "a b c", "de"),
            (2, "solo", "en"),
        ],
        "doc_id long, text string, lang string",
    )


def test_convert_roundtrip(spark, docs_df):
    out = {r["doc_id"]: r["markdown"] for r in convert.convert_epub(convert.fake_epubs(docs_df)).collect()}
    assert out[0] == "# Chapter 1\n\none two three\n\n# Chapter 2\n\nfour five six"
    assert out[1] == "# Chapter 1\n\na b\n\n# Chapter 2\n\nc"
    assert out[2] == "# Chapter 1\n\nsolo\n\n# Chapter 2\n\n"


def test_convert_external_is_stub(docs_df):
    with pytest.raises(NotImplementedError, match="pandoc"):
        convert.convert_external(convert.fake_epubs(docs_df), "pandoc")


def test_partitioned_sink_prunes(spark, docs_df, tmp_path):
    path = str(tmp_path / "docs_by_lang")
    tables.write_layout(docs_df, path, "lang")

    back = spark.read.parquet(path)
    assert back.count() == 3
    en = back.filter(F.col("lang") == "en")
    assert {r["doc_id"] for r in en.collect()} == {0, 2}
    # the predicate must reach the scan as a partition filter, not a
    # post-scan filter: at 100 TB this is the difference between reading
    # one directory and reading everything
    plan = en._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(lang" in plan, plan
