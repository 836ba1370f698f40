"""Product quantization (PQ): compressed embeddings + ADC top-k search.

The memory half of the 100 TB ANN story. IVF (operators/ann.py) bounds
how much of the index a query SCANS; PQ bounds how many bytes each
vector COSTS: a d-dim float32 vector (4d bytes) becomes ``m`` one-byte
codes (m bytes -- 32x compression at d=64, m=8), and queries score
codes without decompressing via ADC (asymmetric distance computation,
Jegou et al. 2011):

* **train** -- split the (L2-normalized) vector into ``m`` contiguous
  subspaces; fit ``2^nbits`` k-means centroids per subspace with the
  same bounded-sample deterministic trainer as IVF (codebook is tiny:
  m x 2^nbits x d/m doubles, broadcastable anywhere);
* **encode** -- one Arrow-batched pass; each vector becomes ``m``
  nearest-subcentroid ids packed into a ``binary`` column (real bytes,
  the honest compression claim);
* **search (ADC)** -- the query builds one (m x 2^nbits) lookup table
  of subspace inner products; a row's score is the sum of m table
  lookups -- no float vectors are read, so the scan traffic is the
  codes column only. Cosine holds because vectors are normalized at
  encode time and the LUT sums approximate q . x.

Composes with IVF: assign lists (ann.py), store codes partitioned by
list, probe nprobe lists, ADC inside -- the standard IVF-PQ layout; the
pieces here are deliberately orthogonal so either half can be used
alone.
"""

from __future__ import annotations

import json
from collections.abc import Sequence
from dataclasses import dataclass

import numpy as np
import pandas as pd  # module-level so pandas_udf type hints resolve
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "PQCodebook",
    "train_pq",
    "encode_pq",
    "decode_pq",
    "pq_topk",
    "build_ivf_pq",
    "ivf_pq_topk",
    "pq_knn_join",
    "ivf_pq_knn_join",
]


@dataclass
class PQCodebook:
    """codebooks[s] holds the centroids of subspace ``s``:
    shape (m, ksub, dsub) with ksub <= 2^nbits (smaller when the
    training sample had fewer distinct points)."""

    codebooks: np.ndarray
    dim: int
    m: int
    nbits: int

    @property
    def dsub(self) -> int:
        return self.dim // self.m

    @property
    def ksub(self) -> int:
        return int(self.codebooks.shape[1])

    def save(self, path) -> None:
        """``path``: filename or binary file object (np.savez passes
        both through; Collection streams the bytes via the Hadoop FS
        so remote homes persist too)."""
        np.savez(
            path,
            codebooks=self.codebooks,
            meta=json.dumps({"dim": self.dim, "m": self.m, "nbits": self.nbits}),
        )

    @classmethod
    def load(cls, path) -> "PQCodebook":
        z = np.load(path, allow_pickle=False)
        meta = json.loads(str(z["meta"]))
        return cls(codebooks=z["codebooks"], **meta)


def _normalize(x: np.ndarray) -> np.ndarray:
    norms = np.linalg.norm(x, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return x / norms


def _unit_query(query_vec: Sequence[float], dim: int | None = None) -> np.ndarray:
    """Driver-side query prep shared by pq_topk/ivf_pq_topk (safe to
    live at module level: it never ships inside a UDF)."""
    q = np.asarray(list(query_vec), dtype=np.float64)
    if dim is not None and q.shape[0] != dim:
        raise ValueError(f"query dim {q.shape[0]} != codebook dim {dim}")
    qn = np.linalg.norm(q)
    return q / qn if qn > 0 else q


def _nearest(sub: np.ndarray, cent: np.ndarray) -> np.ndarray:
    """argmin_c ||sub - cent_c||^2 via the expanded quadratic -- O(n*k)
    memory, never the O(n*k*dsub) broadcast temporary."""
    d2 = (
        (sub**2).sum(axis=1, keepdims=True)
        - 2.0 * (sub @ cent.T)
        + (cent**2).sum(axis=1)[None, :]
    )
    return d2.argmin(axis=1)


def pq_fit(
    x: np.ndarray,
    m: int,
    nbits: int = 8,
    iters: int = 10,
    seed: int = 42,
) -> PQCodebook:
    """Numpy codebook fit over ALREADY-normalized float64 vectors -- the
    single-process core shared by :func:`train_pq` and its oracle/test
    twins (same pattern as ann.kmeans_fit), so both sides are bit-equal
    by construction."""
    dim = x.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim {dim} is not divisible by m={m} subspaces")
    dsub = dim // m
    ksub = 1 << nbits
    books = []
    for s in range(m):
        sub = np.ascontiguousarray(x[:, s * dsub : (s + 1) * dsub])
        # NON-spherical subspace k-means: sub-vectors are short segments
        # of a unit vector, not unit vectors themselves, so euclidean
        # centroids (plain means) are the right codewords for the
        # inner-product sum. kmeans_fit normalizes internally -- run a
        # plain Lloyd loop here instead, seeded from kmeans-style choice.
        rng = np.random.RandomState(seed + s)
        k = min(ksub, len(sub))
        cent = sub[rng.choice(len(sub), size=k, replace=False)]
        for _ in range(iters):
            assign = _nearest(sub, cent)
            for c in range(k):
                members = sub[assign == c]
                if len(members):
                    cent[c] = members.mean(axis=0)
        if k < ksub:  # pad so every codebook has ksub rows (stable shape)
            cent = np.vstack([cent, np.repeat(cent[-1:], ksub - k, axis=0)])
        books.append(cent)
    return PQCodebook(
        codebooks=np.stack(books), dim=dim, m=m, nbits=nbits
    )


def train_pq(
    embeddings: DataFrame,
    m: int = 8,
    nbits: int = 8,
    vec_col: str = "vector",
    key_col: str | None = None,
    sample_limit: int = 100_000,
    iters: int = 10,
    seed: int = 42,
) -> PQCodebook:
    """Fit the per-subspace codebooks on a bounded sample.

    With ``key_col`` the sample is the sample_limit smallest keys
    (TakeOrderedAndProject -- deterministic across partitionings, same
    contract as ann.train_centroids). ``dim % m`` must be 0; ``nbits``
    <= 8 so codes pack one byte per subspace."""
    if not 1 <= nbits <= 8:
        raise ValueError(f"nbits must be in [1, 8], got {nbits}")
    cols = [vec_col] if key_col is None else [key_col, vec_col]
    sel = embeddings.select(*cols)
    if key_col is not None:
        sel = sel.orderBy(key_col)
    rows = sel.limit(sample_limit).collect()
    if not rows:
        raise ValueError("cannot train PQ on an empty sample")
    x = _normalize(np.array([r[-1] for r in rows], dtype=np.float64))
    return pq_fit(x, m=m, nbits=nbits, iters=iters, seed=seed)


def encode_pq(
    embeddings: DataFrame,
    codebook: PQCodebook,
    vec_col: str = "vector",
    code_col: str = "pq_code",
) -> DataFrame:
    """Add a ``binary`` column of m bytes: the per-subspace nearest
    codeword ids of the L2-normalized vector. One numpy pass per Arrow
    batch; the float vector column can be dropped afterwards -- that IS
    the compression."""
    books = codebook.codebooks
    m, dsub = codebook.m, codebook.dsub
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("binary")
    def _enc(v: pd.Series) -> pd.Series:
        # self-contained on purpose: referencing module helpers from a
        # UDF would make cloudpickle ship them by module reference and
        # require the package importable on every executor worker
        x = np.array(v.tolist(), dtype=np.float64)
        norms = np.linalg.norm(x, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        x = x / norms
        codes = np.empty((len(x), m), dtype=np.uint8)
        for s in range(m):
            sub = x[:, s * dsub : (s + 1) * dsub]
            cent = books[s]
            d2 = (
                (sub**2).sum(axis=1, keepdims=True)
                - 2.0 * (sub @ cent.T)
                + (cent**2).sum(axis=1)[None, :]
            )
            codes[:, s] = d2.argmin(axis=1).astype(np.uint8)
        return pd.Series([c.tobytes() for c in codes])

    return embeddings.withColumn(code_col, _enc(F.col(vec_col)))


def decode_pq(codes: bytes, codebook: PQCodebook) -> np.ndarray:
    """Reconstruct the (normalized-space) vector from its codes --
    testing/debugging helper; search never decodes."""
    idx = np.frombuffer(codes, dtype=np.uint8)
    return np.concatenate(
        [codebook.codebooks[s][idx[s]] for s in range(codebook.m)]
    )


def pq_topk(
    coded: DataFrame,
    codebook: PQCodebook,
    query_vec: Sequence[float],
    k: int = 10,
    key_col: str = "_key",
    code_col: str = "pq_code",
) -> DataFrame:
    """ADC top-k: (key, score) of the k best approximate inner products.

    The query-side lookup table (m x ksub subspace dot products) is
    built ONCE driver-side and closure-shipped; each Arrow batch scores
    rows with one fancy-index + sum over m lookups -- no float vectors
    travel or decode. Result order: score desc, key asc (ties stable),
    via TakeOrderedAndProject semantics (orderBy + limit)."""
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    q = _unit_query(query_vec, codebook.dim)
    m, dsub = codebook.m, codebook.dsub
    # LUT[s, c] = <q_s, codeword_{s,c}>; score(x) = sum_s LUT[s, code_s(x)]
    lut = np.stack(
        [codebook.codebooks[s] @ q[s * dsub : (s + 1) * dsub] for s in range(m)]
    )
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _adc(codes: pd.Series) -> pd.Series:
        idx = np.frombuffer(b"".join(codes.tolist()), dtype=np.uint8).reshape(
            len(codes), m
        )
        return pd.Series(lut[np.arange(m)[None, :], idx].sum(axis=1))

    return (
        coded.select(key_col, _adc(F.col(code_col)).alias("score"))
        .orderBy(F.desc("score"), F.asc(key_col))
        .limit(k)
    )


def build_ivf_pq(
    embeddings: DataFrame,
    path: str,
    nlist: int = 16,
    m: int = 8,
    nbits: int = 8,
    vec_col: str = "vector",
    key_col: str | None = None,
    train: str = "sample",
) -> tuple[np.ndarray, PQCodebook]:
    """The canonical IVF-PQ layout: coarse centroids bound the SCAN
    (nprobe/nlist parquet partitions per query), PQ codes bound the
    BYTES (m per vector). Trains both quantizers on the same bounded
    deterministic sample, then one Arrow pass assigns lists + encodes
    codes and persists (key, pq_code) partitioned by ``_list`` -- the
    float vectors are NOT stored, which is the point.

    Returns ``(centroids, codebook)``; persist them beside the index
    (np.save / codebook.save), as Collection.build_ivf_pq_index does.

    ``key_col`` only controls deterministic training-sample selection;
    the persisted index always carries EVERY input column except the
    float vector (dropping the vectors is the point; dropping anything
    else would make the index unqueryable).

    ``train='full'`` routes the COARSE quantizer through the
    distributed full-corpus k-means (ann.kmeans_fit_full); the PQ
    codebooks stay sample-trained (per-subspace residual structure is
    far less distribution-sensitive than the coarse partition)."""
    from letsearch_spark.operators.ann import (
        assign_lists,
        kmeans_fit_full,
        train_centroids,
    )

    if train == "full":
        centroids = kmeans_fit_full(
            embeddings, nlist=nlist, vec_col=vec_col, key_col=key_col
        )
    elif train == "sample":
        centroids = train_centroids(
            embeddings, nlist=nlist, vec_col=vec_col, key_col=key_col
        )
    else:
        raise ValueError(f"train must be sample|full, got {train!r}")
    codebook = train_pq(
        embeddings, m=m, nbits=nbits, vec_col=vec_col, key_col=key_col
    )
    coded = encode_pq(
        assign_lists(embeddings, centroids, vec_col=vec_col), codebook,
        vec_col=vec_col,
    ).drop(vec_col)
    # STATIC overwrite, explicitly: a session that ran embed_column has
    # partitionOverwriteMode=dynamic, under which a rebuild would only
    # replace lists present in the NEW assignment -- a coarse list that
    # comes back empty after retraining would keep its previous files,
    # leaving stale codes (and duplicate keys) in the index
    coded.write.mode("overwrite").option(
        "partitionOverwriteMode", "static"
    ).partitionBy("_list").parquet(path)
    return centroids, codebook


def append_ivf_pq(
    new_embeddings: DataFrame,
    path: str,
    centroids: np.ndarray,
    codebook: PQCodebook,
    vec_col: str = "vector",
) -> None:
    """Assign + encode ONLY the new vectors under the FROZEN coarse
    centroids and codebook, appending to the partitioned index --
    maintenance at batch cost instead of a full re-encode of the
    collection. Same scan/compression geometry as :func:`build_ivf_pq`;
    quantizer drift under distribution shift is bounded by the caller's
    rebuild threshold (Collection.refresh_ivf_pq_index)."""
    from letsearch_spark.operators.ann import assign_lists

    coded = encode_pq(
        assign_lists(new_embeddings, centroids, vec_col=vec_col),
        codebook,
        vec_col=vec_col,
    ).drop(vec_col)
    coded.write.mode("append").partitionBy("_list").parquet(path)


def ivf_pq_topk(
    spark,
    path: str,
    centroids: np.ndarray,
    codebook: PQCodebook,
    query_vec: Sequence[float],
    k: int = 10,
    nprobe: int = 2,
    key_col: str = "_key",
    exclude: DataFrame | None = None,
) -> DataFrame:
    """Probe the nprobe nearest lists (``_list IN (...)`` prunes parquet
    partitions) and ADC-score only their codes: per query the scan
    reads ~nprobe/nlist of an index that is already ~32x smaller than
    the float vectors. Probing every list reproduces plain
    :func:`pq_topk` exactly (same codes, same LUT). ``exclude``:
    optional (key_col) frame anti-joined BEFORE the top-k truncation
    (deletion-vector probe filter)."""
    q = _unit_query(query_vec, codebook.dim)
    order = np.argsort(-(centroids @ q))[:nprobe]
    df = spark.read.parquet(path).filter(
        F.col("_list").isin(*[int(i) for i in order])
    )
    if exclude is not None:
        df = df.join(exclude.select(key_col), key_col, "left_anti")
    return pq_topk(df, codebook, query_vec, k=k, key_col=key_col)


def pq_knn_join(
    coded: DataFrame,
    codebook: PQCodebook,
    queries: DataFrame,
    k: int = 10,
    key_col: str = "_key",
    code_col: str = "pq_code",
    query_key_col: str = "query_id",
    query_vec_col: str = "qvec",
) -> DataFrame:
    """Batched ADC search: top-k (by compressed-code score) for every
    query row in ONE plan -- the shape for bulk recall evaluation of a
    PQ index (feed the result and an exact knn_join into
    operators/evaluate.py).

    Same candidate-only geometry as topk.knn_join(method='numpy'):
    queries collect driver-side (they are the small side), ONE stacked
    LUT tensor (q x m x ksub subspace inner products) ships in the
    closure, each partition scores its codes against every query with m
    fancy-index adds and emits only its local top-k per query
    (boundary-tie-complete); a final per-query window ranks the
    (partitions x k) survivors. No float vectors are read anywhere.

    Output: (query_key_col, key_col, score, rank), rank 1..k per query.
    """
    from pyspark.sql import Window

    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    qrows = queries.select(query_key_col, query_vec_col).collect()
    if not qrows:
        raise ValueError("queries frame is empty")
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    Q = np.array([r[1] for r in qrows], dtype=np.float64)
    if Q.shape[1] != codebook.dim:
        raise ValueError(
            f"query dim {Q.shape[1]} != codebook dim {codebook.dim}"
        )
    qn = np.linalg.norm(Q, axis=1, keepdims=True)
    qn[qn == 0] = 1.0
    Qn = Q / qn
    m, dsub = codebook.m, codebook.dsub
    # luts[qi, s, c] = <query_qi restricted to subspace s, codeword c>
    Qsub = Qn.reshape(len(Qn), m, dsub)
    luts = np.einsum("mkd,qmd->qmk", codebook.codebooks, Qsub)
    kk = k

    schema = f"{query_key_col} long, {key_col} long, score double"

    def score_partition(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            codes = np.frombuffer(
                b"".join(pdf[code_col].tolist()), dtype=np.uint8
            ).reshape(len(pdf), m)
            keys = pdf[key_col].values
            S = np.zeros((len(pdf), len(qids)))
            for s in range(m):
                S += luts[:, s, codes[:, s]].T  # (rows, queries)
            top = min(kk, S.shape[0])
            part = np.argpartition(-S, top - 1, axis=0)[:top]
            out_q, out_k, out_s = [], [], []
            for j in range(S.shape[1]):
                thresh = S[part[:, j], j].min()
                rows = np.nonzero(S[:, j] >= thresh)[0]
                out_q.extend([qids[j]] * len(rows))
                out_k.extend(keys[rows])
                out_s.extend(S[rows, j])
            yield pd.DataFrame(
                {query_key_col: out_q, key_col: out_k, "score": out_s}
            )

    candidates = coded.select(key_col, code_col).mapInPandas(
        score_partition, schema=schema
    )
    w = Window.partitionBy(query_key_col).orderBy(
        F.desc("score"), F.asc(key_col)
    )
    return candidates.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).where(F.col("rank") <= k)


def ivf_pq_knn_join(
    spark,
    path: str,
    centroids: np.ndarray,
    codebook: PQCodebook,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    key_col: str = "_key",
    code_col: str = "pq_code",
    query_key_col: str = "query_id",
    query_vec_col: str = "qvec",
    exclude: DataFrame | None = None,
) -> DataFrame:
    """Batched IVF-PQ search: top-k (by ADC score) for every query row
    in ONE plan over the on-disk coded index -- the bulk form of
    :func:`ivf_pq_topk`, and the batched shape for the biggest serving
    tier (codes on disk, no cache at all). ``exclude``: optional
    (key_col) frame anti-joined BEFORE the top-k truncation (the
    deletion-vector probe filter -- same contract as
    :func:`ivf_pq_topk`: tombstoned keys must not consume rank slots).

    Geometry: per-query probe lists come from the coarse centroids
    driver-side; the scan reads only the UNION of probed ``_list``
    parquet partitions (partition pruning still applies -- at nprobe=2
    and 100 distinct queries that is at most 200 of nlist partitions,
    typically far fewer once probes overlap). Each partition scores a
    row ONLY against the queries that probed its list (a list -> query
    indices table ships in the closure with the stacked LUT tensor),
    emits local top-k per query, and a final per-query window ranks
    the survivors. Scores and candidate sets match per-query
    :func:`ivf_pq_topk` exactly.

    Output: (query_key_col, key_col, score, rank), rank 1..k per query.
    """
    from pyspark.sql import Window

    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    qrows = queries.select(query_key_col, query_vec_col).collect()
    if not qrows:
        raise ValueError("queries frame is empty")
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    # normalize each query EXACTLY like the per-query path (_unit_query
    # uses the 1-D BLAS norm; an axis-reduction norm differs by ulps and
    # would break bit-parity with ivf_pq_topk) -- and compute each
    # query's probe order with the same matrix-VECTOR product (gemv)
    # the per-query path uses: a gemm over the stacked queries can
    # accumulate in a different order and flip near-tied probe choices
    Qn = np.stack([_unit_query(r[1], codebook.dim) for r in qrows])
    order = np.stack(
        [np.argsort(-(centroids @ Qn[i]))[:nprobe] for i in range(len(Qn))]
    )  # (q, nprobe)
    # list -> positions of the queries that probe it
    probers: dict[int, list[int]] = {}
    for qi in range(len(qids)):
        for lst in order[qi]:
            probers.setdefault(int(lst), []).append(qi)
    probers_arr = {lst: np.array(v) for lst, v in probers.items()}
    m, dsub = codebook.m, codebook.dsub
    # per-(query, subspace) matmuls, NOT one einsum: this is exactly how
    # pq_topk builds its LUT, so batched ADC sums are bit-identical to
    # the per-query path (einsum's accumulation order differs by ulps)
    luts = np.stack(
        [
            np.stack(
                [
                    codebook.codebooks[s] @ Qn[qi, s * dsub : (s + 1) * dsub]
                    for s in range(m)
                ]
            )
            for qi in range(len(Qn))
        ]
    )
    kk = k

    df = spark.read.parquet(path).filter(
        F.col("_list").isin(*[int(x) for x in probers])
    )
    if exclude is not None:
        df = df.join(exclude.select(key_col), key_col, "left_anti")
    schema = f"{query_key_col} long, {key_col} long, score double"

    def score_partition(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            codes = np.frombuffer(
                b"".join(pdf[code_col].tolist()), dtype=np.uint8
            ).reshape(len(pdf), m)
            keys = pdf[key_col].values
            lists = pdf["_list"].values
            out_q, out_k, out_s = [], [], []
            marange = np.arange(m)[None, :]
            for lst in np.unique(lists):
                qpos = probers_arr.get(int(lst))
                if qpos is None:
                    continue
                rows = np.nonzero(lists == lst)[0]
                sub = codes[rows]
                for qj in qpos:
                    # gather + sum(axis=1): the EXACT summation pq_topk's
                    # _adc uses (numpy pairwise), so batched scores are
                    # bit-identical to the per-query path
                    scores = luts[qj][marange, sub].sum(axis=1)
                    top = min(kk, len(scores))
                    part = np.argpartition(-scores, top - 1)[:top]
                    thresh = scores[part].min()
                    hit = np.nonzero(scores >= thresh)[0]
                    out_q.extend([qids[qj]] * len(hit))
                    out_k.extend(keys[rows[hit]])
                    out_s.extend(scores[hit])
            yield pd.DataFrame(
                {query_key_col: out_q, key_col: out_k, "score": out_s}
            )

    candidates = df.select(key_col, code_col, "_list").mapInPandas(
        score_partition, schema=schema
    )
    w = Window.partitionBy(query_key_col).orderBy(
        F.desc("score"), F.asc(key_col)
    )
    return candidates.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).where(F.col("rank") <= k)
