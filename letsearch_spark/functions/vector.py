"""Vector scalar functions as JVM-side Column expressions.

These are the engine's equivalent of the reference's usearch cosine metric
(reference: src/collection/vector_index.rs:128-152; score convention
``score = 1 - cosine_distance`` i.e. the cosine similarity itself,
vector_index.rs:141-149).

Everything here is a Catalyst expression (``zip_with`` / ``aggregate``
higher-order functions) -- no Python UDF in the hot path, no
serialization across the JVM/Python boundary, and the expressions
participate in whole-stage planning. All arithmetic is promoted to
double so results are deterministic and match a DuckDB double-precision
oracle bit-for-bit after rounding.

Batched k-NN (:func:`letsearch_spark.operators.topk.knn_join`) scores
Arrow batches in numpy instead: a BLAS matmul picks candidates, then
each candidate is rescored with this module's sequential double fold,
so its scores equal :func:`cosine_similarity` bit for bit.

r10 optimization (guide §4, the Python boundary -- at PLAN-BUILD time):
composing these expressions Column-by-Column costs hundreds of py4j
round-trips per call (each literal, cast, and lambda is a socket
round-trip; a 16-dim cosine was measured at ~120-280 ms of pure driver
time), which per-query serving and the batched MaxSim paths pay on
EVERY call. When an argument is a plain column NAME (str) or a finite
float sequence, the same expression tree is now built as ONE
``F.expr`` SQL string -- one py4j call. The SQL parses to the identical
Catalyst operators (same ``transform``/``zip_with``/``aggregate``
structure, same double casts, same fold order), so results are
bit-identical; Column-typed arguments keep the original composition.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


def _sql_fragment(v: Column | Sequence[float] | str) -> str | None:
    """SQL text for ``v`` when cheaply renderable: a plain column name
    (backtick-quoted) or a non-empty all-finite float sequence (literal
    double array via string casts -- ``CAST('<repr>' AS DOUBLE)``
    round-trips exactly: repr() emits the shortest correctly-rounding
    decimal and Java's parseDouble is correctly rounding). Returns None
    for Column objects / empty / non-finite input (callers fall back to
    the Column composition)."""
    if isinstance(v, str):
        # quote per dot-separated segment, matching F.col()'s
        # resolution of dotted names as nested-field access -- the
        # behavior str arguments had before the SQL fast path
        # (ADVICE r10: a blanket-quoted 'meta.vec' failed analysis as
        # a literal column named "meta.vec")
        name = ".".join(
            "`" + seg.replace("`", "``") + "`" for seg in v.split(".")
        )
        return f"transform({name}, x -> CAST(x AS DOUBLE))"
    if isinstance(v, Column):
        return None
    vals = [float(x) for x in v]
    if not vals or not all(math.isfinite(x) for x in vals):
        return None
    items = ", ".join(f"CAST('{x!r}' AS DOUBLE)" for x in vals)
    return f"array({items})"


def _as_double_array(v: Column | Sequence[float] | str) -> Column:
    if isinstance(v, str):
        v = F.col(v)
    if isinstance(v, Column):
        return F.transform(v, lambda x: x.cast("double"))
    return F.array(*[F.lit(float(x)).cast("double") for x in v])


def _dot_sql(sa: str, sb: str) -> str:
    return (
        f"aggregate(zip_with({sa}, {sb}, (x, y) -> x * y), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def dot_product(
    a: Column | Sequence[float] | str, b: Column | Sequence[float] | str
) -> Column:
    """Elementwise dot product of two array<numeric> columns (double).

    Accepts a column NAME (str) for the one-py4j-call SQL fast path."""
    sa, sb = _sql_fragment(a), _sql_fragment(b)
    if sa is not None and sb is not None:
        return F.expr(_dot_sql(sa, sb))
    a, b = _as_double_array(a), _as_double_array(b)
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column | Sequence[float] | str) -> Column:
    sa = _sql_fragment(a)
    if sa is not None:
        return F.expr(f"sqrt({_dot_sql(sa, sa)})")
    return F.sqrt(dot_product(a, a))


def cosine_similarity(
    a: Column | Sequence[float] | str, b: Column | Sequence[float] | str
) -> Column:
    """Cosine similarity in double precision; 0.0 when either norm is 0.

    This equals the reference's search score (1 - cosine_distance,
    vector_index.rs:141-149). Accepts column NAMES (str) for the
    one-py4j-call SQL fast path (same tree, bit-identical scores).
    """
    sa, sb = _sql_fragment(a), _sql_fragment(b)
    if sa is not None and sb is not None:
        num = _dot_sql(sa, sb)
        denom = f"(sqrt({_dot_sql(sa, sa)}) * sqrt({_dot_sql(sb, sb)}))"
        return F.expr(
            f"CASE WHEN {denom} = CAST(0.0 AS DOUBLE) "
            f"THEN CAST(0.0 AS DOUBLE) ELSE {num} / {denom} END"
        )
    num = dot_product(a, b)
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom == 0.0, F.lit(0.0)).otherwise(num / denom)


def cosine_with_norm(
    vec: str, norm: str, q: Sequence[float]
) -> Column:
    """Cosine of column ``vec`` against literal ``q`` using the
    precomputed row norm in column ``norm`` (must hold
    ``l2_norm(vec)``): ONE aggregate fold per row instead of three, and
    the query's norm is a driver-side Python scalar computed with the
    same sequential double arithmetic as the in-plan fold -- so scores
    are bit-identical to :func:`cosine_similarity` (the long-standing
    ``_serve_score`` precedent in collection.py). Built as one
    ``F.expr`` (one py4j call).

    Behavior change vs the pre-r10 composition (ADVICE r10, accepted
    fail-fast): a non-finite (NaN/inf) or empty query vector raises
    ``ValueError`` at plan-build time, where the old expression would
    have produced unrankable NaN scores row-by-row -- an embedder that
    emits NaN now aborts serving with a diagnosable error instead."""
    qn = 0.0
    for x in q:
        qn += float(x) * float(x)
    qn = math.sqrt(qn)
    sa, sb = _sql_fragment(vec), _sql_fragment([float(x) for x in q])
    if sb is None:
        raise ValueError("cosine_with_norm needs a finite non-empty q")
    nname = ".".join(
        "`" + seg.replace("`", "``") + "`" for seg in norm.split(".")
    )
    denom = f"({nname} * CAST('{qn!r}' AS DOUBLE))"
    return F.expr(
        f"CASE WHEN {denom} = CAST(0.0 AS DOUBLE) "
        f"THEN CAST(0.0 AS DOUBLE) ELSE {_dot_sql(sa, sb)} / {denom} END"
    )


def l2_normalize(a: Column | Sequence[float]) -> Column:
    """Unit-normalize an array<numeric> column (zero vector stays zero)."""
    a = _as_double_array(a)
    n = l2_norm(a)
    return F.when(n == 0.0, a).otherwise(F.transform(a, lambda x: x / n))
