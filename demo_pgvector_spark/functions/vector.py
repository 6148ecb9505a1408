"""Vector math as pure Spark SQL higher-order-function expressions.

Re-expresses pgvector's ``<=>`` cosine-distance operator (reference
src/lib/database.py:299-309) as Catalyst expressions over ``array<float>``
columns. Everything stays JVM-side inside whole-stage codegen — no Python
UDF in the hot path, which matters at 100 TB where the distance expression
runs once per scanned row.

All arithmetic widens float32 → float64 before multiplying: the product of
two 24-bit mantissas is exact in a double, so the only rounding is in the
sequential sum — the same order DuckDB's list functions use, which keeps
oracle parity to ~1 ulp (we round projected scores anyway).

The reference stores L2-normalized vectors (src/lib/embedding.py:115-118),
so cosine similarity degenerates to a dot product; ``cosine_similarity``
still divides by norms so it is correct for un-normalized inputs too.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array<numeric> columns, computed in float64."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def l2_normalize(a: Column, n: Column | None = None) -> Column:
    """Return the unit vector; zero vectors pass through unchanged
    (matches the reference's guard, src/lib/embedding.py:115-118).

    Pass ``n`` as a PRE-PROJECTED norm column on hot paths: inlined, the
    norm fold sits inside the per-element division lambda and lambda
    bodies are re-evaluated per element — an O(dim²) row cost (the same
    lambda-opacity trap as the text_repetition gram screen)."""
    if n is None:
        n = l2_norm(a)
    return F.when(n > 0, F.transform(a, lambda x: x.cast("double") / n)).otherwise(
        F.transform(a, lambda x: x.cast("double"))
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine similarity = dot/(|a||b|); null-safe on zero norms.

    ``try_divide`` gives the null-on-zero-norm guard with each aggregate
    occurring ONCE — the ``when((na>0)&(nb>0), d/(na·nb))`` formulation
    evaluated both norms twice (guard + quotient), and aggregate() trees
    contain lambdas, which codegen subexpression elimination skips: five
    O(dim) folds per row where three suffice. Matters on the ANN/IVF
    scan paths that score every stored vector."""
    return F.try_divide(dot(a, b), F.sqrt(dot(a, a) * dot(b, b)))


def cosine_distance(a: Column, b: Column) -> Column:
    """pgvector ``<=>`` semantics: 1 - cosine_similarity."""
    return F.lit(1.0) - cosine_similarity(a, b)


def euclidean_distance(a: Column, b: Column) -> Column:
    """pgvector ``<->`` semantics (unused by the reference's queries but part
    of the pgvector operator family)."""
    return F.sqrt(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x.cast("double") - y.cast("double")) ** 2),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def inner_product_distance(a: Column, b: Column) -> Column:
    """pgvector ``<#>`` semantics: negative inner product."""
    return -dot(a, b)


def query_vector_literal(vec: list[float]) -> Column:
    """Materialize a (driver-side) query vector as an array literal.

    The reference passes the query embedding as a SQL parameter
    (src/lib/database.py:310-327); in Spark the equivalent is a literal
    array folded into the plan — effectively broadcast to every task with
    the serialized plan, no shuffle, no join.

    Built as ONE parsed SQL expression (``array_sql``) instead of
    ``F.array(*64 F.lit)``: the element-wise form costs ~65 Py4J
    round-trips per literal, which dominated plan-build time for the LSH
    operators (32 plane literals ≈ 3 s of driver latency before any job
    started).
    """
    return F.expr(array_sql(vec))


# ---------------------------------------------------------------------------
# SQL-text kernels: the one spelling of every vector fold the operators
# embed in parsed expressions (driver-known literals, per-subspace slices,
# nested higher-order functions), plus their driver-side twin.
# ---------------------------------------------------------------------------


def array_sql(vec) -> str:
    """SQL text of a double-array literal. ``repr(float)`` is the
    shortest exact round-trip decimal, so the parsed doubles are
    bit-identical to the driver's."""
    return "array(" + ",".join(f"{float(v)!r}D" for v in vec) + ")"


def dot_sql(a: str, b: str) -> str:
    """SQL text of the float64 dot of two array expressions: ``dot``'s
    fold — each element widened to double, products summed left to
    right from 0."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> double(x) * double(y)),"
        " 0D, (a, x) -> a + x)"
    )


def l2sq_sql(a: str, b: str) -> str:
    """SQL text of the float64 squared L2 distance of two array
    expressions, folded like ``dot_sql``."""
    return (
        f"aggregate(zip_with({a}, {b},"
        " (x, y) -> (double(x) - double(y)) * (double(x) - double(y))),"
        " 0D, (a, x) -> a + x)"
    )


def sequential_fold(a, b, l2: bool = False) -> float:
    """The driver's ``dot_sql`` (or, with ``l2``, ``l2sq_sql``) of two
    equal-length sequences, bit for bit: float64 terms summed left to
    right from 0.0. ``numpy.dot`` sums pairwise and can round
    differently, so driver-side decisions that must match a Spark row
    (probe buckets, centroid ranks, ADC tables) fold here."""
    acc = 0.0
    for x, y in zip(a, b):
        x, y = float(x), float(y)
        acc += (x - y) * (x - y) if l2 else x * y
    return acc
