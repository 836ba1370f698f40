"""Exact and approximate top-k cosine search (K1 in SURVEY.md §2.3).

The reference answers top-k with a usearch HNSW graph
(vector_index.rs:128-152). Spark-first, the *exact* path is simply

    SELECT key, cosine(vec, q) AS score ORDER BY score DESC, key LIMIT k

which Catalyst executes as ``TakeOrderedAndProject``: each partition
computes its local top-k (map-side), and only k rows per partition travel
to the driver -- no global sort, no full shuffle. At 100 TB this is a
single scan with a few KB of network traffic; it parallelizes perfectly
and is the oracle against which approximate methods are judged.

Batched query sets go through :func:`knn_join`, the one exact k-NN
kernel: a BLAS matmul picks each partition's candidates and only those
are rescored with the sequential double fold of
:func:`cosine_similarity`, so its scores equal the per-query expression
bit for bit.

Tie-breaking is ``key ASC`` (declared semantics -- the reference's usearch
tie order is unspecified; FIXTURES.md §2).

The approximate path buckets vectors with random hyperplane LSH (signed
projections), probing only the query's bucket (optionally multi-probe) --
the scan then touches ~1/2**bits of the data. This is the scale path for
repeated queries over a static corpus; build once, reuse.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from letsearch_spark.functions.vector import cosine_similarity


def cosine_topk(
    embeddings: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    key_col: str = "_key",
    vec_col: str = "vector",
    score_col: str = "score",
) -> DataFrame:
    """Exact brute-force cosine top-k; score = 1 - cosine_distance
    (reference convention, vector_index.rs:141-149).

    limit bounds follow the reference API: 1 <= k <= 100 (serve.rs:155-161).
    """
    if not 1 <= k <= 100:
        raise ValueError(f"k must be in [1, 100], got {k}")
    q = [float(x) for x in query_vec]
    sim = cosine_similarity(vec_col, q)
    return (
        embeddings.select(F.col(key_col), sim.alias(score_col))
        .orderBy(F.desc(score_col), F.asc(key_col))
        .limit(k)
    )


def boundary_topk(
    S: np.ndarray, k: int, slack: float = 0.0
) -> tuple[np.ndarray, np.ndarray]:
    """Per-query local top-k of a (rows x queries) score block, larger
    is better, keeping EVERY row at or above the query's k-th score
    minus ``slack``. Boundary ties are therefore left to the caller's
    final (score, key) window rather than to argpartition's arbitrary
    pick. ``-inf`` marks an excluded entry and is never kept (a query
    with fewer than k live rows keeps all of them).

    Returns (query index, row index) arrays, ordered by query then row.
    Shared by every candidate-only batched scan: knn_join, the ADC
    kernel behind pq_knn_join / ivf_pq_knn_join, and hamming_knn_join
    (which passes negated distances)."""
    top = min(k, S.shape[0])
    part = np.argpartition(-S, top - 1, axis=0)[:top]
    thresh = np.take_along_axis(S, part, axis=0).min(axis=0) - slack
    return np.nonzero(((S >= thresh) & (S > -np.inf)).T)


def _seq_dot(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Row-wise dot products of two float64 (n x d) arrays, summed one
    dimension at a time from 0.0: the exact double arithmetic of the
    ``aggregate(zip_with(x * y), 0.0, acc + v)`` fold in
    functions/vector.py, so results equal the Column expressions bit
    for bit."""
    acc = np.zeros(A.shape[0])
    for j in range(A.shape[1]):
        acc += A[:, j] * B[:, j]
    return acc


def knn_join(
    base: DataFrame,
    queries: DataFrame,
    k: int = 10,
    key_col: str = "_key",
    vec_col: str = "vector",
    query_key_col: str = "query_id",
    query_vec_col: str = "qvec",
    exclude_self: bool = False,
) -> DataFrame:
    """Batched exact k-NN join: top-k neighbors in ``base`` for every
    query row, scored exactly as :func:`cosine_similarity` (bit for
    bit, 0.0 when either norm is 0).

    Queries are collected (they must be the small side). Each base
    partition scores itself in one ``mapInPandas`` kernel, per Arrow
    batch:

    1. one float64 BLAS matmul gives approximate cosine scores;
    2. :func:`boundary_topk` keeps, per query, every row within a
       proven rounding margin of the k-th BLAS score;
    3. only those rows are rescored with the sequential fold of
       functions/vector.py (``_seq_dot``), and the exact scores leave
       the partition.

    A final (score DESC, key ASC) window reduces the (partitions x k)
    candidates per query. The all-pairs score matrix never crosses the
    network -- the batched analog of TakeOrderedAndProject -- and the
    scores served are the ones the DuckDB oracle computes.

    A NaN/inf query vector raises ``ValueError`` here, at plan build; a
    NaN/inf base vector fails the scan task with a message naming it.

    ``exclude_self`` drops pairs where the base key equals the query id
    (self-matches when the queries are drawn from the base table).
    """
    import pandas as pd

    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    qrows = queries.select(query_key_col, query_vec_col).collect()
    if not qrows:
        raise ValueError("queries frame is empty")
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    Q = np.array([r[1] for r in qrows], dtype=np.float64)
    finite = np.isfinite(Q).all(axis=1)
    if not finite.all():
        raise ValueError(
            f"knn_join: query vectors hold NaN/inf values (query ids "
            f"{qids[~finite][:5].tolist()})"
        )
    dim = Q.shape[1]
    q_sqrt = np.sqrt(_seq_dot(Q, Q))
    # Rounding margin. With u = 2**-53 and g(n) = n*u / (1 - n*u), any
    # d-term dot product, in any summation order (sequential, blocked
    # BLAS, with or without FMA), is within g(d) * |x| * |q| of the
    # true value. Both scores divide by the SAME denominator
    # sqrt(fold(x, x)) * sqrt(fold(q, q)) >= |x| * |q| * (1 - g(d+3)),
    # and each division rounds once, so a BLAS score B and the exact
    # score E of one pair differ by at most
    #     (2 g(d) + 2u (1 + g(d))) / (1 - g(d+3)) <= eps = 4 g(d+3).
    # If t is a query's k-th largest B in a batch, k rows have
    # E >= t - eps, so the k-th largest E is >= t - eps and every row
    # at or above it has B >= t - 2 eps: keeping B >= t - 2 eps keeps
    # the exact local top-k, boundary ties included. The bound assumes
    # no product under- or overflows, which holds for any float32
    # input (embedding columns are float32).
    g = (dim + 3) * 2.0**-53 / (1 - (dim + 3) * 2.0**-53)
    slack = 8 * g

    schema = f"{query_key_col} long, {key_col} long, score double"

    def score_partition(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            keys = pdf[key_col].values
            finite = np.isfinite(X).all(axis=1)
            if not finite.all():
                raise ValueError(
                    f"knn_join: base column {vec_col!r} holds NaN/inf "
                    f"values (keys {keys[~finite][:5].tolist()})"
                )
            x_sqrt = np.sqrt(_seq_dot(X, X))
            den = x_sqrt[:, None] * q_sqrt[None, :]
            # step 1: BLAS scores, 0.0 where a norm is 0 (the
            # cosine_similarity rule)
            S = np.divide(X @ Q.T, den, out=np.zeros_like(den), where=den != 0)
            if exclude_self:
                S[keys[:, None] == qids[None, :]] = -np.inf
            # step 2: every row within the margin of the k-th BLAS score
            qi, ri = boundary_topk(S, k, slack)
            # step 3: exact rescore of those rows only
            num = _seq_dot(X[ri], Q[qi])
            den = x_sqrt[ri] * q_sqrt[qi]
            score = np.divide(num, den, out=np.zeros_like(den), where=den != 0)
            yield pd.DataFrame(
                {query_key_col: qids[qi], key_col: keys[ri], "score": score}
            )

    local = base.select(key_col, vec_col).mapInPandas(score_partition, schema=schema)
    w = Window.partitionBy(query_key_col).orderBy(F.desc("score"), F.asc(key_col))
    return local.withColumn("rank", F.row_number().over(w).cast("long")).where(
        F.col("rank") <= k
    )


# ---------------- approximate path: sign-LSH bucketing ----------------


def _hyperplanes(dim: int, bits: int, seed: int) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.normal(size=(bits, dim)).astype(np.float64)


def lsh_signature_col(vec_col, planes: np.ndarray):
    """Column: sign-LSH bucket id of an array<float> column.

    Pure Catalyst expression (aggregate over zip_with per plane) -- the
    signature is computed JVM-side during the scan; at 100 TB the planes
    (bits x dim doubles) are tiny literals baked into the plan.
    """
    bits = []
    for i, plane in enumerate(planes):
        dot = F.aggregate(
            F.zip_with(
                F.transform(vec_col, lambda x: x.cast("double")),
                F.array(*[F.lit(float(p)) for p in plane]),
                lambda x, y: x * y,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bits.append(F.when(dot >= 0, F.lit(1 << i)).otherwise(F.lit(0)))
    sig = bits[0]
    for b in bits[1:]:
        sig = sig + b
    return sig.cast("int")


def build_lsh_index(
    embeddings: DataFrame,
    dim: int,
    bits: int = 8,
    seed: int = 42,
    vec_col: str = "vector",
    bucket_col: str = "_bucket",
) -> DataFrame:
    """Materialize an LSH-bucketed copy of the embeddings table.

    Callers persist this partitioned by ``_bucket`` (parquet partition
    pruning then makes each probe read only the probed buckets).
    """
    planes = _hyperplanes(dim, bits, seed)
    return embeddings.withColumn(bucket_col, lsh_signature_col(F.col(vec_col), planes))


def multiprobe_signatures(sig: int, bits: int, radius: int) -> set[int]:
    """All bucket signatures within Hamming distance <= radius of ``sig``
    (sum of C(bits, d) for d <= radius buckets -- keep radius small)."""
    from itertools import combinations

    probes = {sig}
    for d in range(1, min(radius, bits) + 1):
        for combo in combinations(range(bits), d):
            flipped = sig
            for i in combo:
                flipped ^= 1 << i
            probes.add(flipped)
    return probes


def lsh_topk(
    indexed: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    bits: int = 8,
    seed: int = 42,
    multiprobe: int = 1,
    key_col: str = "_key",
    vec_col: str = "vector",
    bucket_col: str = "_bucket",
    score_col: str = "score",
) -> DataFrame:
    """Approximate top-k: probe every bucket within Hamming distance
    ``multiprobe`` of the query's signature, brute-force only inside the
    probed buckets.

    With parquet partitioned by bucket this prunes the scan to
    ~(sum_{d<=multiprobe} C(bits,d)) / 2**bits of the data.
    """
    q = np.asarray(list(query_vec), dtype=np.float64)
    planes = _hyperplanes(len(q), bits, seed)
    sig = 0
    for i, plane in enumerate(planes):
        if float(plane @ q) >= 0:
            sig |= 1 << i
    probes = multiprobe_signatures(sig, bits, multiprobe)
    pruned = indexed.filter(F.col(bucket_col).isin(*[int(p) for p in probes]))
    return cosine_topk(
        pruned, q, k=k, key_col=key_col, vec_col=vec_col, score_col=score_col
    )
