"""Product quantization: codebook shapes, compression, the
recall/distortion knobs, determinism, and a driver-side ADC twin."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from letsearch_spark.operators.pq import (
    PQCodebook,
    decode_pq,
    encode_pq,
    pq_topk,
    train_pq,
)


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        F.col("vec_id").alias("_key"), F.col("embedding").alias("vector")
    )


# One shared m=8/nbits=8 codebook over the full embeddings table
# (suite-latency: six tests trained the identical configuration).
@pytest.fixture(scope="module")
def pq_cb8(spark, sf_dir):
    return train_pq(_emb(spark, sf_dir), m=8, nbits=8, key_col="_key")


def _np_vectors(rows):
    x = np.array([r["vector"] for r in rows], dtype=np.float64)
    return x / np.linalg.norm(x, axis=1, keepdims=True)


def test_train_pq_shapes_and_errors(spark, sf_dir, pq_cb8):
    emb = _emb(spark, sf_dir)
    cb = pq_cb8
    assert cb.codebooks.shape == (8, 256, 8)
    assert cb.dim == 64 and cb.dsub == 8 and cb.ksub == 256
    with pytest.raises(ValueError, match="divisible"):
        train_pq(emb, m=7, key_col="_key")
    with pytest.raises(ValueError, match="nbits"):
        train_pq(emb, m=8, nbits=9, key_col="_key")
    with pytest.raises(ValueError, match="empty"):
        train_pq(emb.where(F.lit(False)), m=8)


def test_encode_compresses_to_m_bytes(spark, sf_dir, pq_cb8):
    emb = _emb(spark, sf_dir)
    cb = pq_cb8
    coded = encode_pq(emb, cb)
    rows = coded.select("pq_code").limit(20).collect()
    assert all(len(r["pq_code"]) == 8 for r in rows)  # 64 f32 -> 8 bytes


def test_distortion_falls_with_m_and_nbits(spark, sf_dir):
    """Reconstruction error must improve with more subspaces and more
    bits -- the two knobs a user trades memory for recall with."""
    emb = _emb(spark, sf_dir)
    all_rows = emb.orderBy("_key").collect()
    xn = _np_vectors(all_rows)

    def distortion(m, nbits):
        cb = train_pq(emb, m=m, nbits=nbits, key_col="_key")
        coded = {
            r["_key"]: r["pq_code"]
            for r in encode_pq(emb, cb).select("_key", "pq_code").collect()
        }
        rec = np.array(
            [decode_pq(coded[r["_key"]], cb) for r in all_rows]
        )
        return ((xn - rec) ** 2).sum(axis=1).mean()

    d_8_4 = distortion(8, 4)
    d_8_8 = distortion(8, 8)
    d_16_8 = distortion(16, 8)
    assert d_16_8 < d_8_8 < d_8_4
    assert d_8_8 < 0.2  # measured 0.107 on this table


@pytest.mark.deep  # auditor tier (pytest.ini): ADC twin replay; pq_adc_topk is oracle-hash-checked each round
def test_pq_topk_recall_and_twin(spark, sf_dir, pq_cb8):
    """ADC recall@10 vs exact cosine over 20 queries: > 0.6 at
    m=8/nbits=8 (measured 0.73), better than nbits=4; and the Spark ADC
    scores equal a driver-side numpy twin bit-for-bit."""
    emb = _emb(spark, sf_dir).cache()
    all_rows = emb.orderBy("_key").collect()
    keys = [r["_key"] for r in all_rows]
    xn = _np_vectors(all_rows)

    def recall(nbits):
        cb = train_pq(emb, m=8, nbits=nbits, key_col="_key")
        coded = encode_pq(emb, cb).select("_key", "pq_code").cache()
        hit = 0.0
        for qi in range(20):
            q = xn[qi]
            exact = set(np.array(keys)[np.argsort(-(xn @ q))[:10]].tolist())
            approx = {
                r["_key"] for r in pq_topk(coded, cb, q.tolist(), k=10).collect()
            }
            hit += len(exact & approx) / 10
        coded.unpersist()
        return hit / 20

    r8 = recall(8)
    assert r8 > 0.6
    assert r8 > recall(4)

    # twin: ADC scores from Spark == numpy lookup sums
    cb = pq_cb8
    coded = encode_pq(emb, cb).select("_key", "pq_code")
    q = xn[3]
    got = {
        r["_key"]: r["score"]
        for r in pq_topk(coded, cb, q.tolist(), k=500).collect()
    }
    codes = {
        r["_key"]: np.frombuffer(r["pq_code"], dtype=np.uint8)
        for r in coded.collect()
    }
    dsub = cb.dsub
    lut = np.stack(
        [cb.codebooks[s] @ q[s * dsub : (s + 1) * dsub] for s in range(cb.m)]
    )
    for k_, idx in codes.items():
        want = lut[np.arange(cb.m), idx].sum()
        assert got[k_] == pytest.approx(want, abs=1e-12)


def test_pq_deterministic_under_repartition(spark, sf_dir, pq_cb8):
    emb = _emb(spark, sf_dir)
    cb1 = pq_cb8
    cb2 = train_pq(emb.repartition(7), m=8, key_col="_key")
    assert np.array_equal(cb1.codebooks, cb2.codebooks)
    c1 = sorted(
        (r["_key"], r["pq_code"])
        for r in encode_pq(emb, cb1).select("_key", "pq_code").collect()
    )
    c2 = sorted(
        (r["_key"], r["pq_code"])
        for r in encode_pq(emb.repartition(5), cb1)
        .select("_key", "pq_code")
        .collect()
    )
    assert c1 == c2


def test_pq_codebook_save_load(spark, sf_dir, tmp_path):
    emb = _emb(spark, sf_dir)
    cb = train_pq(emb, m=4, nbits=6, key_col="_key")
    p = str(tmp_path / "pq.npz")
    cb.save(p)
    loaded = PQCodebook.load(p)
    assert loaded.dim == cb.dim and loaded.m == cb.m and loaded.nbits == cb.nbits
    assert np.array_equal(loaded.codebooks, cb.codebooks)


def test_pq_topk_query_validation(spark, sf_dir, pq_cb8):
    emb = _emb(spark, sf_dir)
    cb = pq_cb8
    coded = encode_pq(emb, cb)
    with pytest.raises(ValueError, match="dim"):
        pq_topk(coded, cb, [1.0, 2.0], k=5)
    with pytest.raises(ValueError, match="k must be"):
        pq_topk(coded, cb, [0.0] * 64, k=0)
    for bad in (float("nan"), float("inf")):
        with pytest.raises(ValueError, match="NaN/inf"):
            pq_topk(coded, cb, [bad] + [0.0] * 63, k=5)


@pytest.mark.deep  # auditor tier (pytest.ini): full-probe equivalence sweep; ivf_pq behavior tests stay default
def test_ivf_pq_full_probe_equals_pq(spark, sf_dir, tmp_path):
    """IVF-PQ with nprobe=nlist reproduces plain pq_topk exactly (same
    codes, same LUT), recall rises as nprobe grows, and probes prune
    parquet partitions in the plan."""
    from letsearch_spark.operators.pq import build_ivf_pq, ivf_pq_topk

    emb = _emb(spark, sf_dir)
    path = str(tmp_path / "ivfpq")
    centroids, cb = build_ivf_pq(
        emb, path, nlist=8, m=8, nbits=8, key_col="_key"
    )
    assert cb.codebooks.shape == (8, 256, 8)

    all_rows = emb.orderBy("_key").collect()
    keys = [r["_key"] for r in all_rows]
    xn = _np_vectors(all_rows)
    q = xn[5].tolist()

    full = ivf_pq_topk(
        spark, path, centroids, cb, q, k=10, nprobe=8
    ).collect()
    coded = encode_pq(emb, cb).select("_key", "pq_code")
    plain = pq_topk(coded, cb, q, k=10).collect()
    assert [(r["_key"], r["score"]) for r in full] == [
        (r["_key"], r["score"]) for r in plain
    ]

    def recall(nprobe):
        hit = 0.0
        for qi in range(15):
            qv = xn[qi]
            exact = set(np.array(keys)[np.argsort(-(xn @ qv))[:10]].tolist())
            approx = {
                r["_key"]
                for r in ivf_pq_topk(
                    spark, path, centroids, cb, qv.tolist(), k=10, nprobe=nprobe
                ).collect()
            }
            hit += len(exact & approx) / 10
        return hit / 15

    r1, r8 = recall(1), recall(8)
    assert r8 >= r1
    assert r8 > 0.6  # full probe == plain PQ quality (measured 0.73)

    df = ivf_pq_topk(spark, path, centroids, cb, q, k=5, nprobe=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "_list" in plan


def test_ivf_pq_full_training(spark, sf_dir, tmp_path):
    """train='full' routes the coarse quantizer through the distributed
    k-means; the index still serves (full probe == plain PQ) and the
    centroids match the sequential twin bitwise."""
    import os

    import pyarrow.parquet as pq_

    from letsearch_spark.operators.ann import kmeans_fit_full_twin
    from letsearch_spark.operators.pq import build_ivf_pq, ivf_pq_topk

    emb = _emb(spark, sf_dir)
    path = str(tmp_path / "ivfpq_full")
    centroids, cb = build_ivf_pq(
        emb, path, nlist=8, m=8, nbits=8, key_col="_key", train="full"
    )
    etbl = pq_.read_table(
        os.path.join(sf_dir, "embeddings.parquet"),
        columns=["vec_id", "embedding"],
    ).to_pylist()
    etbl.sort(key=lambda r: r["vec_id"])
    x = np.array([r["embedding"] for r in etbl], dtype=np.float64)
    assert (centroids == kmeans_fit_full_twin(x, nlist=8, iters=3)).all()

    q = emb.orderBy("_key").limit(6).collect()[5]["vector"]
    full = ivf_pq_topk(spark, path, centroids, cb, q, k=10, nprobe=8).collect()
    coded = encode_pq(emb, cb).select("_key", "pq_code")
    plain = pq_topk(coded, cb, q, k=10).collect()
    assert [(r["_key"], r["score"]) for r in full] == [
        (r["_key"], r["score"]) for r in plain
    ]
    with pytest.raises(ValueError):
        build_ivf_pq(emb, path, nlist=8, key_col="_key", train="nope")


def test_ivf_pq_default_keeps_key_columns(spark, sf_dir, tmp_path):
    """build_ivf_pq without key_col must still persist every non-vector
    column (key_col only controls sampling determinism) -- the index is
    queryable by default."""
    from letsearch_spark.operators.pq import build_ivf_pq, ivf_pq_topk

    emb = _emb(spark, sf_dir)
    path = str(tmp_path / "ivfpq_default")
    centroids, cb = build_ivf_pq(emb, path, nlist=4, m=8, nbits=4)
    stored = spark.read.parquet(path)
    assert set(stored.columns) == {"_key", "_list", "pq_code"}
    hits = ivf_pq_topk(
        spark, path, centroids, cb, [0.1] * 64, k=5, nprobe=2
    ).collect()
    assert len(hits) == 5
    with pytest.raises(ValueError, match="NaN/inf"):
        ivf_pq_topk(spark, path, centroids, cb, [float("inf")] + [0.1] * 63)


def test_pq_knn_join_matches_per_query_loop(spark, sf_dir, pq_cb8):
    """Batched ADC equals the per-query pq_topk loop bit for bit (same
    codes, same LUT and sum arithmetic, same tie-break; scores compared
    as float.hex, unrounded), and recall against exact knn_join is
    measurable through evaluate.py in one plan."""
    from letsearch_spark.operators.evaluate import mean_recall_at_k
    from letsearch_spark.operators.pq import pq_knn_join
    from letsearch_spark.operators.topk import knn_join

    emb = _emb(spark, sf_dir).cache()
    cb = pq_cb8
    coded = encode_pq(emb, cb).select("_key", "pq_code").cache()
    queries = emb.where(F.col("_key") < 12).select(
        F.col("_key").alias("query_id"), F.col("vector").alias("qvec")
    )

    batched = pq_knn_join(coded, cb, queries, k=10).collect()
    got = {}
    for r in batched:
        got.setdefault(r["query_id"], []).append(
            (r["rank"], r["_key"], r["score"].hex())
        )
    qrows = queries.collect()
    for qr in qrows:
        loop = pq_topk(coded, cb, qr["qvec"], k=10).collect()
        want = [
            (i + 1, r["_key"], r["score"].hex())
            for i, r in enumerate(loop)
        ]
        assert sorted(got[qr["query_id"]]) == want

    # one-plan recall measurement against the exact join
    exact = knn_join(emb, queries, k=10)
    approx = pq_knn_join(coded, cb, queries, k=10)
    r = mean_recall_at_k(approx, exact, k=10)
    assert 0.5 < r <= 1.0  # plain-PQ recall measured ~0.73 on this table

    import pytest

    with pytest.raises(ValueError, match="empty"):
        pq_knn_join(coded, cb, queries.where(F.lit(False)), k=5)
    with pytest.raises(ValueError, match="k must be"):
        pq_knn_join(coded, cb, queries, k=0)
    nan_q = queries.select(
        "query_id",
        F.concat(
            F.array(F.lit(float("nan")).cast("float")), F.slice("qvec", 2, 63)
        ).alias("qvec"),
    )
    with pytest.raises(ValueError, match="NaN/inf"):
        pq_knn_join(coded, cb, nan_q, k=5)


def test_ivf_pq_knn_join_full_probe_equals_pq_knn_join(spark, sf_dir, tmp_path):
    """One ADC kernel: with nprobe == nlist every query probes every
    list, so batched IVF-PQ equals batched plain PQ over the same codes
    -- keys, ranks and score bits."""
    from letsearch_spark.operators.pq import build_ivf_pq, ivf_pq_knn_join, pq_knn_join

    emb = _emb(spark, sf_dir)
    path = str(tmp_path / "ivfpq_full")
    centroids, cb = build_ivf_pq(emb, path, nlist=4, m=8, nbits=4, key_col="_key")
    queries = emb.where(F.col("_key") < 8).select(
        F.col("_key").alias("query_id"), F.col("vector").alias("qvec")
    )

    def bits(df):
        return sorted(
            (r["query_id"], r["rank"], r["_key"], r["score"].hex())
            for r in df.collect()
        )

    ivf = bits(ivf_pq_knn_join(spark, path, centroids, cb, queries, k=7, nprobe=4))
    plain = bits(pq_knn_join(spark.read.parquet(path), cb, queries, k=7))
    assert len(plain) == 8 * 7
    assert ivf == plain


def test_search_many_ivf_pq_matches_per_query(spark, tmp_path, sf_dir):
    """search_many(strategy='ivf_pq') (r7): one batched plan over the
    on-disk coded index must reproduce per-query strategy='ivf_pq'
    rows and scores exactly -- and the union-of-probed-lists scan only
    scores a row against the queries that probed its list."""
    import os

    from letsearch_spark.collection import Collection

    c = Collection.create(
        spark, str(tmp_path), name="bip", model_name="stub://16"
    )
    c.import_parquet(os.path.join(sf_dir, "documents.parquet"))
    c.embed_column("text")
    queries = [
        "spark join query window batch",
        "vector index build embed",
        "agg line group hash",
    ]
    batched = c.search_many("text", queries, limit=5, strategy="ivf_pq")
    got = {}
    for r in batched.collect():
        got.setdefault(r["query_idx"], []).append(
            (r["rank"], r["key"], r["score"])
        )
    for i, q in enumerate(queries):
        per = [
            (j + 1, r["key"], r["score"])
            for j, r in enumerate(
                c.search("text", q, limit=5, strategy="ivf_pq").collect()
            )
        ]
        assert got[i] == per, q


def test_search_many_ivf_pq_tombstones_fill_ranks(spark, tmp_path, sf_dir):
    """Review r7: tombstoned keys must be excluded BEFORE the batched
    top-k truncation -- ranks stay contiguous 1..limit and match the
    per-query path (which passes exclude= into ivf_pq_topk)."""
    import os

    from letsearch_spark.collection import Collection

    c = Collection.create(
        spark, str(tmp_path), name="bipt", model_name="stub://16"
    )
    c.import_parquet(os.path.join(sf_dir, "documents.parquet"))
    c.embed_column("text")
    q = "spark join query window batch"
    top = c.search_many("text", [q], limit=5, strategy="ivf_pq").collect()
    victim = top[0]["key"]

    assert c.delete_where(f"_key = {victim}") == 1
    after = c.search_many("text", [q], limit=5, strategy="ivf_pq").collect()
    assert [r["rank"] for r in after] == [1, 2, 3, 4, 5]  # no gaps
    assert all(r["key"] != victim for r in after)
    per = c.search("text", q, limit=5, strategy="ivf_pq").collect()
    assert [(r["rank"], r["key"], r["score"]) for r in after] == [
        (j + 1, r["key"], r["score"]) for j, r in enumerate(per)
    ]
