"""IVF (inverted-file) coarse quantizer: k-means centroids and list
assignment, the shared first half of the IVF-PQ index
(operators/pq.py) and of the k-means-based dedup/curation operators.

* **train**: k-means centroids fitted driver-side with numpy on a
  bounded sample (centroids are tiny: nlist x dim doubles), or by
  distributed Lloyd iterations over every vector
  (:func:`kmeans_fit_full`);
* **assign**: every vector gets its nearest-centroid id via a
  vectorized pandas UDF (one matmul per Arrow batch -- the bytes never
  leave the executor); an index persisted partitioned by ``_list``
  turns a probe into a parquet-pruned scan of nprobe/nlist of the data.

Recall/latency trades off via nlist & nprobe exactly like FAISS IVF.
At 100 TB: training samples ~1M rows (bounded collect) and assignment
is a single map-side pass.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd  # module-level so pandas_udf type hints resolve
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def train_centroids(
    embeddings: DataFrame,
    nlist: int = 16,
    vec_col: str = "vector",
    sample_limit: int = 100_000,
    iters: int = 10,
    seed: int = 42,
    key_col: str | None = None,
) -> np.ndarray:
    """Fit nlist k-means centroids on a bounded sample (driver-side numpy;
    vectors are L2-normalized first so euclidean k-means ~ spherical).

    With ``key_col`` the sample is the ``sample_limit`` SMALLEST keys
    (orderBy + limit compiles to TakeOrderedAndProject: each partition
    ships at most sample_limit rows, no global sort), making the
    centroids (and every downstream assignment) deterministic across
    partitionings and table sizes -- `limit` alone returns rows in
    scan-partition order, which depends on split planning and, above
    the cap, on which partitions answer first."""
    cols = [vec_col] if key_col is None else [key_col, vec_col]
    sel = embeddings.select(*cols)
    if key_col is not None:
        sel = sel.orderBy(key_col)
    rows = sel.limit(sample_limit).collect()
    if key_col is not None:
        rows = sorted(rows, key=lambda r: r[0])
    x = np.array([r[-1] for r in rows], dtype=np.float64)
    return kmeans_fit(x, nlist=nlist, iters=iters, seed=seed)


def kmeans_fit(
    x: np.ndarray, nlist: int = 16, iters: int = 10, seed: int = 42
) -> np.ndarray:
    """Pure-numpy spherical k-means core (shared by the Spark trainer and
    the single-process oracle twin): normalize, seed centroids from a
    seeded choice, iterate argmax-assign / mean / renormalize."""
    if x.size == 0:
        raise ValueError(
            "cannot train centroids on an empty sample (no non-null vectors)"
        )
    norms = np.linalg.norm(x, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    x = x / norms
    rng = np.random.RandomState(seed)
    centroids = x[rng.choice(len(x), size=min(nlist, len(x)), replace=False)]
    for _ in range(iters):
        sims = x @ centroids.T
        assign = sims.argmax(axis=1)
        for c in range(len(centroids)):
            members = x[assign == c]
            if len(members):
                m = members.mean(axis=0)
                n = np.linalg.norm(m)
                if n > 0:
                    centroids[c] = m / n
    return centroids


def assign_lists(
    embeddings: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "vector",
    list_col: str = "_list",
) -> DataFrame:
    """Nearest-centroid assignment: one numpy matmul per Arrow batch."""
    from pyspark.sql.functions import pandas_udf

    cent = centroids  # closure-captured; small

    @pandas_udf("int")
    def _assign(v: pd.Series) -> pd.Series:
        x = np.array(v.tolist(), dtype=np.float64)
        norms = np.linalg.norm(x, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        return pd.Series((x / norms @ cent.T).argmax(axis=1).astype("int32"))

    return embeddings.withColumn(list_col, _assign(F.col(vec_col)))


def _unit(vec: Sequence[float]) -> list[float]:
    """L2-normalize with a SEQUENTIAL double fold (zero vector stays
    zero). Shared by the distributed k-means driver step and its numpy
    oracle twin, so the renormalization cannot diverge between them."""
    acc = 0.0
    for v in vec:
        acc += float(v) * float(v)
    n = acc**0.5
    if n == 0.0:
        return [float(v) for v in vec]
    return [float(v) / n for v in vec]


def kmeans_fit_full(
    embeddings: DataFrame,
    nlist: int = 8,
    vec_col: str = "vector",
    key_col: str | None = None,
    iters: int = 3,
    units: int = 10**9,
    pca=None,
) -> np.ndarray:
    """Full-corpus Lloyd iterations -- the scale path past
    :func:`train_centroids`'s bounded driver sample. A 100 TB corpus
    whose distribution the first ``sample_limit`` keys don't represent
    needs centroids trained on ALL vectors; here every iteration is two
    distributed passes and one tiny driver step:

    * assign: nearest-centroid id per vector (one numpy matmul per
      Arrow batch -- :func:`assign_lists`, map-side only);
    * pool: elementwise mean per cluster via
      ``mean_pool_vectors(exact_units=units)`` -- fixed-point integer
      sums, so the pooled means are ORDER-INDEPENDENT: bit-identical
      across partitionings, retries, and engines (what makes the
      result oracle-checkable at all);
    * update: renormalize the nlist x dim pooled means on the driver
      (tiny); empty clusters keep their previous centroid.

    Init is the ``nlist`` smallest-key vectors normalized (deterministic
    TakeOrderedAndProject), or the first ``nlist`` rows if ``key_col``
    is None (partition-order dependent -- pass a key for reproducibility).
    Returns the (nlist, dim) centroid matrix; feed it to
    :func:`assign_lists` (or operators/pq.py build_ivf_pq) for the
    final index.

    ``pca`` (r9): optional pre-projection (int k or a fitted
    operators/pca.py PCAModel) -- every iteration's assign matmul and
    the pooled-mean shuffle then run in k dims (4x fewer bytes at
    64->16). The returned centroids live in the REDUCED space: pair
    them with vectors projected through the same model (the
    dedup/clustering use; not for serving an index over full-dim
    vectors).
    """
    if pca is not None:
        from letsearch_spark.operators.pca import resolve_projection

        embeddings, _ = resolve_projection(embeddings, vec_col, pca)
    cols = [vec_col] if key_col is None else [key_col, vec_col]
    sel = embeddings.select(*cols).where(F.col(vec_col).isNotNull())
    if key_col is not None:
        sel = sel.orderBy(key_col)
    seed_rows = sel.limit(nlist).collect()
    if len(seed_rows) < nlist:
        raise ValueError(
            f"need at least nlist={nlist} non-null vectors, got {len(seed_rows)}"
        )
    cent = np.array([_unit(r[-1]) for r in seed_rows], dtype=np.float64)

    from letsearch_spark.operators.pool import mean_pool_vectors

    vecs = embeddings.select(F.col(vec_col).alias("_v")).where(
        F.col("_v").isNotNull()
    )
    vecs = vecs.persist()
    try:
        for _ in range(iters):
            assigned = assign_lists(vecs, cent, vec_col="_v")
            pooled = mean_pool_vectors(
                assigned, "_list", "_v", out_col="_m", exact_units=units
            ).collect()
            new = cent.copy()
            for r in pooled:
                new[r["_list"]] = _unit(r["_m"])
            cent = new
    finally:
        vecs.unpersist()
    return cent


def kmeans_fit_full_twin(
    x: np.ndarray, nlist: int = 8, iters: int = 3, units: int = 10**9
) -> np.ndarray:
    """Single-process numpy twin of :func:`kmeans_fit_full` (rows must
    arrive in ``key_col`` order): same init, same matmul assignment,
    same fixed-point pooled means, same shared ``_unit`` renorm --
    bit-identical output, used by the unit test and the DuckDB
    computed oracle."""
    x = np.asarray(x, dtype=np.float64)
    cent = np.array([_unit(v) for v in x[:nlist]], dtype=np.float64)
    norms = np.linalg.norm(x, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    xn = x / norms  # assign_lists' internal normalization
    for _ in range(iters):
        assign = (xn @ cent.T).argmax(axis=1)
        new = cent.copy()
        for c in range(nlist):
            members = x[assign == c]
            if not len(members):
                continue
            scaled = members * float(units)
            q = np.sign(scaled) * np.floor(np.abs(scaled) + 0.5)
            s = q.sum(axis=0)  # integer-valued doubles, exact < 2^53
            mean = s / (float(units) * len(members))
            new[c] = _unit(mean)
        cent = new
    return cent
