"""Text / date / JSON scalar functions from the reference pipeline,
re-expressed as Catalyst column expressions (SURVEY §2.8).

All JVM-side built-ins — no Python in the row path. Each function cites the
reference behavior it reproduces (file:line into /root/reference/).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Reference constants (src/lib/documents.py:20-21).
TEXT_TYPE_FICTION = 1
TEXT_TYPE_NONFICTION = 2

# Classifier vocabularies (semantics of src/lib/database.py:97-126).
FICTION_TEXT_TYPES = (
    "short story",
    "novel",
    "novella",
    "poem",
    "fiction",
    "science fiction",
    "sci-fi",
    "sf",
    "fantasy",
    "fable",
    "drama",
    "play",
)
FICTION_GENRES = ("science fiction", "fantasy", "horror", "mystery", "thriller")


def lower_strip(c: Column) -> Column:
    """(x or '').strip().lower() — src/lib/database.py:99,117."""
    return F.lower(F.trim(F.coalesce(c, F.lit(""))))


def classify_source_type(text_type: Column, genre: Column) -> Column:
    """CASE classifier: fiction(1) if text_type in the indicator set, else
    fiction if genre implies it, else nonfiction(2) — src/lib/database.py:97-126."""
    return (
        F.when(lower_strip(text_type).isin(*FICTION_TEXT_TYPES), F.lit(TEXT_TYPE_FICTION))
        .when(lower_strip(genre).isin(*FICTION_GENRES), F.lit(TEXT_TYPE_FICTION))
        .otherwise(F.lit(TEXT_TYPE_NONFICTION))
    )


def extract_year(publication_date: Column) -> Column:
    """int(str(pub)[:4]) with None on failure — src/lib/database.py:128-136.
    try_cast reproduces the ``except → None`` under Spark 4 ANSI mode."""
    return F.substring(publication_date.cast("string"), 1, 4).try_cast("int")


def truncate_display(c: Column, n: int = 500) -> Column:
    """text[:n] + '...' when longer — cli/search_doc_chunks.py:118-121."""
    return F.when(
        F.length(c) > n, F.concat(F.substring(c, 1, n), F.lit("..."))
    ).otherwise(c)


def tokenize(c: Column) -> Column:
    """re.findall(r'\\b\\w+\\b', text.lower()) — src/lib/embedding.py:77.

    Python's ``\\w`` is Unicode-aware while Java's default ``\\W`` is
    ASCII-only, so the split uses the explicit Unicode class
    ``[^\\p{L}\\p{N}_]+`` (letters, digits, underscore) — verified to
    produce the same token stream as CPython on the multilingual corpus
    (incl. zh documents)."""
    return F.filter(F.split(F.lower(c), r"[^\p{L}\p{N}_]+"), lambda t: t != "")


def round4(c: Column) -> Column:
    """4-decimal display rounding — cli/search_doc_chunks.py:106."""
    return F.round(c, 4)


def excerpt_template(title: Column, author: Column, pub: Column, text: Column) -> Column:
    """The RAG excerpt template, byte-exact with cli/generate_text.py:77-84
    (leading newline, trailing two blank lines, f-string '+=' concatenation)."""
    return F.format_string(
        '\nExcerpt from "%s", by %s, published in %s:\n>>>\n%s\n<<<\n\n\n',
        title,
        author,
        pub,
        text,
    )
