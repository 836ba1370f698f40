"""Binary (sign-bit) vector signatures + Hamming-distance ANN search.

The reference serves every query from a full-precision usearch HNSW graph
(src/collection/vector_index.rs:103-152). At 100 TB of f32 embeddings the
index itself is the bottleneck: 64-dim f32 vectors are 256 bytes/row, so a
100 TB corpus' embedding table may not fit even a large cluster's memory.
Sign-bit quantization (Charikar 2002's SimHash geometry applied to the
vectors themselves) keeps ONE BIT per dimension: bit j is set iff
``vec[j] > 0``. For 64 dims that is 8 bytes/vector -- a 32x reduction
vs f32 -- and the angular distance between two vectors is approximated
by the Hamming distance between their signatures
(``E[hamming]/dim = theta/pi``, Goemans-Williamson).

Spark-first shape:

- the signature is a pure Catalyst expression over the vector column
  (``signbits_col``) -- computed scan-side during index build, never in
  Python;
- the search scan ranks by ``bit_count(xor(word, qword))`` summed over
  the few long words of the signature -- whole-stage-codegen bit math,
  ~10 instructions/row -- and ``TakeOrderedAndProject`` keeps only the
  top ``rescore`` candidate keys per partition, so network traffic is
  O(rescore), independent of corpus size;
- an exact cosine rescore then re-ranks ONLY those candidates: the
  candidate frame (<= a few hundred rows) broadcast-joins back to the
  full-precision vectors, so the expensive float math touches
  ``rescore`` rows, not the corpus.

Unlike LSH bucketing (operators/topk.py) there is no bucket-boundary
recall cliff: every row is scored, just in 1-bit precision, and recall
is tuned by a single knob (``rescore``). The two compose: signatures
can live *inside* LSH/IVF buckets for a two-level prune.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from letsearch_spark.operators.topk import boundary_topk


def pack_signbits(vec: Sequence[float], word_bits: int = 32) -> list[int]:
    """Single-process twin of :func:`signbits_col`: little-endian words,
    bit ``j`` of word ``w`` set iff ``vec[w*word_bits + j] > 0``."""
    if not 1 <= word_bits <= 62:
        raise ValueError(f"word_bits must be in [1, 62], got {word_bits}")
    v = list(vec)
    words = []
    for w in range(0, len(v), word_bits):
        word = 0
        for j, x in enumerate(v[w : w + word_bits]):
            if float(x) > 0.0:
                word |= 1 << j
        words.append(word)
    return words


def signbits_col(vec_col: Column | str, dim: int, word_bits: int = 32) -> Column:
    """Catalyst expression: array<long> sign-bit signature of an
    array<numeric> column (``ceil(dim / word_bits)`` words).

    word_bits defaults to 32 so each word also fits an INT32 parquet
    column and a DuckDB/Java ``int`` without sign games; 62 is the max
    (bit 63 of a long is the sign bit). The per-element comparisons are
    plain CASE expressions -- the whole signature is computed JVM-side
    in the scan stage it is projected from.
    """
    if not 1 <= word_bits <= 62:
        raise ValueError(f"word_bits must be in [1, 62], got {word_bits}")
    if dim < 1:
        raise ValueError(f"dim must be >= 1, got {dim}")
    c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    words = []
    for w in range(0, dim, word_bits):
        terms = [
            F.when(c[i].cast("double") > 0.0, F.lit(1 << (i - w))).otherwise(F.lit(0))
            for i in range(w, min(w + word_bits, dim))
        ]
        words.append(reduce(lambda a, b: a + b, terms).cast("long"))
    return F.array(*words)


def build_signbit_index(
    df: DataFrame,
    dim: int,
    vec_col: str = "vector",
    key_col: str = "_key",
    sig_col: str = "_sig",
    word_bits: int = 32,
    keep_vector: bool = False,
) -> DataFrame:
    """Materialize the signature view: (key, sig[, vector]).

    With ``keep_vector=False`` (default) the view is the 32x-smaller
    serve artifact -- cache/persist THIS, and keep the full-precision
    vectors on disk for the rescore join only.
    Null vectors are dropped (same rule as every serve path).
    """
    out = df.where(F.col(vec_col).isNotNull()).withColumn(
        sig_col, signbits_col(vec_col, dim, word_bits)
    )
    cols = [key_col, sig_col] + ([vec_col] if keep_vector else [])
    return out.select(*cols)


def hamming_distance_col(sig_col: Column | str, qsig: Sequence[int]) -> Column:
    """Column: Hamming distance between a signature column and a packed
    query signature -- ``sum_w bit_count(sig[w] XOR qsig[w])``."""
    c = F.col(sig_col) if isinstance(sig_col, str) else sig_col
    terms = [
        F.bit_count(c[w].bitwiseXOR(F.lit(int(qw)).cast("long")))
        for w, qw in enumerate(qsig)
    ]
    return reduce(lambda a, b: a + b, terms).cast("long")


def hamming_topk(
    index: DataFrame,
    vectors: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    rescore: int = 100,
    key_col: str = "_key",
    vec_col: str = "vector",
    sig_col: str = "_sig",
    word_bits: int = 32,
    score_col: str = "score",
    hamming_col: str = "hamming",
) -> DataFrame:
    """Two-stage ANN top-k: Hamming scan over the signature view, exact
    cosine rescore of the top ``rescore`` candidates.

    ``index`` is the (key, sig) view from :func:`build_signbit_index`;
    ``vectors`` is the full-precision (key, vector) table (they may be
    the same frame when the index kept its vectors). Stage 1 is a
    TakeOrderedAndProject over the bit-math scan -- each partition ships
    at most ``rescore`` (key, hamming) rows. Stage 2 broadcast-joins the
    candidate frame back to ``vectors`` and ranks the exact cosine.
    With ``rescore >= |corpus|`` the result provably equals the exact
    ``cosine_topk`` ranking (the scan keeps everything).

    Candidate order (stage 1) and final order (stage 2) are both fully
    deterministic: (hamming ASC, key ASC) and (score DESC, key ASC).
    """
    from letsearch_spark.functions.vector import cosine_similarity

    if not 1 <= k <= 100:
        raise ValueError(f"k must be in [1, 100], got {k}")
    if rescore < k:
        raise ValueError(f"rescore must be >= k, got {rescore} < {k}")
    q = [float(x) for x in query_vec]
    qsig = pack_signbits(q, word_bits)
    ham = hamming_distance_col(sig_col, qsig)
    candidates = (
        index.select(F.col(key_col), ham.alias(hamming_col))
        .orderBy(F.asc(hamming_col), F.asc(key_col))
        .limit(rescore)
    )
    sim = cosine_similarity(vec_col, q)
    return (
        vectors.where(F.col(vec_col).isNotNull())
        .join(F.broadcast(candidates), key_col)
        .select(F.col(key_col), F.col(hamming_col), sim.alias(score_col))
        .orderBy(F.desc(score_col), F.asc(key_col))
        .limit(k)
    )


def hamming_knn_join(
    index: DataFrame,
    queries: DataFrame | Sequence[tuple],
    rescore: int = 100,
    key_col: str = "_key",
    sig_col: str = "_sig",
    query_key_col: str = "query_id",
    query_vec_col: str = "qvec",
    word_bits: int = 32,
    hamming_col: str = "hamming",
) -> DataFrame:
    """Batched stage-1 Hamming scan: the top ``rescore`` candidates for
    EVERY query row in ONE plan over the signature view -- the bulk form
    of :func:`hamming_topk`'s candidate stage (feed the result to an
    exact rescore join, or to operators/evaluate.py for recall curves).

    Same candidate-only geometry as topk.knn_join / pq.pq_knn_join:
    queries collect driver-side (the small side; ``queries`` may also
    be a pre-collected sequence of (id, vec) rows, skipping that job),
    the packed query signature matrix ships in the closure, each partition XORs its
    signature words against every query and popcounts via one uint8
    table lookup (vectorized numpy -- no per-row Python), emitting only
    its local top-``rescore`` per query (boundary-tie-complete); a
    final per-query window ranks the (partitions x rescore) survivors.
    Only 1-bit signatures are ever read -- float vectors stay on disk
    for the caller's rescore.

    Output: (query_key_col, key_col, hamming, rank), rank 1..rescore
    per query, deterministic (hamming ASC, key ASC) order.
    """
    import pandas as pd

    from pyspark.sql import Window

    if rescore <= 0:
        raise ValueError(f"rescore must be positive, got {rescore}")
    if isinstance(queries, DataFrame):
        qrows = queries.select(query_key_col, query_vec_col).collect()
    else:
        # pre-collected (id, vec) rows: serving call sites already hold
        # the query vectors driver-side, so shipping them through a
        # createDataFrame + collect round-trip was one pointless Spark
        # job per call (r11, guide §4)
        qrows = list(queries)
    if not qrows:
        raise ValueError("queries frame is empty")
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    qsigs = np.array(
        [pack_signbits([float(x) for x in r[1]], word_bits) for r in qrows],
        dtype=np.int64,
    )  # (q, words)
    pop8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.int64)
    rr = rescore

    schema = f"{query_key_col} long, {key_col} long, {hamming_col} long"

    def scan_partition(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            sigs = np.array(pdf[sig_col].tolist(), dtype=np.int64)  # (n, words)
            keys = pdf[key_col].values
            out_q, out_k, out_d = [], [], []
            # chunk the query axis: the (rows x queries x words) XOR
            # tensor is materialized per chunk, bounding peak memory at
            # rows x 512 x words x 8B regardless of the query count
            for q0 in range(0, len(qids), 512):
                qs = qsigs[q0 : q0 + 512]
                x = (sigs[:, None, :] ^ qs[None, :, :]).view(np.uint8)
                D = pop8[x].reshape(len(sigs), len(qs), -1).sum(axis=2)
                qi, ri = boundary_topk(-D, rr)  # smallest distances
                out_q.append(qids[q0 + qi])
                out_k.append(keys[ri])
                out_d.append(D[ri, qi])
            yield pd.DataFrame(
                {
                    query_key_col: np.concatenate(out_q),
                    key_col: np.concatenate(out_k),
                    hamming_col: np.concatenate(out_d),
                }
            )

    candidates = index.select(key_col, sig_col).mapInPandas(
        scan_partition, schema=schema
    )
    w = Window.partitionBy(query_key_col).orderBy(
        F.asc(hamming_col), F.asc(key_col)
    )
    return candidates.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).where(F.col("rank") <= rescore)
