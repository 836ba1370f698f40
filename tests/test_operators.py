"""Operator-level tests: dedup family equivalences, ANN recall, top-k."""

import numpy as np
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank"),
        (2, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup
        (3, "the quick brown fox jumps over the lazy dog near a river bank"),  # near dup
        (4, "completely different text about spark dataframes and shuffles"),
        (5, "another unrelated document mentioning parquet and arrow batches"),
        (6, "THE  Quick   Brown fox JUMPS over the lazy dog near the river bank"),  # normalized dup
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup(docs):
    from letsearch_spark.operators.dedup import exact_dedup

    res = {r["keep_id"]: r["n_copies"] for r in exact_dedup(docs, "doc_id", "text").collect()}
    assert res[1] == 3  # 1, 2 and 6 (after normalization) collapse
    assert res[3] == 1 and res[4] == 1 and res[5] == 1


def test_ngram_jaccard_finds_near_dups(docs):
    from letsearch_spark.operators.dedup import ngram_jaccard_pairs

    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.4).collect()
    }
    assert pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs and pairs[(1, 3)] < 1.0
    assert not any({a, b} == {4, 5} for a, b in pairs)


def test_shingles_are_md5_60_of_the_ngram_string(spark):
    """r11 shuffle-byte optimization: shingles() emits the 60-bit md5
    integer of each word 3-gram instead of the raw string. Pin the hash
    to a pure-Python hashlib twin so the Spark expression, the DuckDB
    oracle (_MD5_60_SQL), and this reference can never drift."""
    import hashlib

    from letsearch_spark.operators.dedup import shingles

    df = spark.createDataFrame(
        [(7, "Alpha beta  GAMMA delta"), (8, None), (9, "one two")],
        ["doc_id", "text"],
    )
    got = {(r["id"], r["s"]) for r in shingles(df, "doc_id", "text").collect()}

    def h(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    # words_of lower-cases and splits on \s+; 3-grams of 4 words = 2
    expect = {
        (7, h("alpha beta gamma")),
        (7, h("beta gamma delta")),
    }
    assert got == expect  # doc 8 (null) and doc 9 (2 words) emit nothing


def test_ngram_jaccard_shingle_freq_guard(spark):
    from letsearch_spark.operators.dedup import ngram_jaccard_pairs, shingles

    # every doc shares the hot phrase; only 1 and 2 share rare content
    hot = "lorem ipsum dolor sit amet consectetur"
    rows = [
        (1, f"{hot} alpha beta gamma delta"),
        (2, f"{hot} alpha beta gamma delta"),
        (3, f"{hot} epsilon zeta eta theta"),
        (4, f"{hot} iota kappa lambda mu"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    # cap=3: the 4-doc hot shingles are dropped before the self-join...
    capped = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            df, "doc_id", "text", threshold=0.5, max_shingle_freq=3
        ).collect()
    }
    # ...so only the true near-dup pair survives, at jaccard 1.0 over its
    # surviving (rare) shingles
    assert set(capped) == {(1, 2)} and capped[(1, 2)] == 1.0
    # and the shingle relation itself shrank: no shingle with df > 3
    sh = shingles(df, "doc_id", "text")
    from pyspark.sql import functions as FF

    freqs = sh.groupBy("s").count()
    assert freqs.where(FF.col("count") > 3).count() > 0  # guard had work to do


@pytest.mark.deep  # auditor tier (pytest.ini): probabilistic LSH property sweep; eval_lsh_recall is oracle-checked
def test_minhash_candidates_superset_of_high_jaccard(docs):
    from letsearch_spark.operators.dedup import minhash_lsh_pairs

    verified = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.4).collect()
    }
    assert (1, 2) in verified
    assert (1, 3) in verified


@pytest.mark.deep  # auditor tier (pytest.ini): bruteforce parity replay of the banded path
def test_simhash_banded_equals_bruteforce(spark, sf_dir):
    import os

    from letsearch_spark.operators.dedup import simhash_pairs

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    banded = sorted(
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_pairs(docs, "doc_id", "text", banded=True).collect()
    )
    brute = sorted(
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_pairs(docs, "doc_id", "text", banded=False).collect()
    )
    assert banded == brute
    assert len(banded) > 0


def test_embedding_cosine_lsh_subset_of_exact(spark, sf_dir):
    import os

    from letsearch_spark.operators.dedup import embedding_cosine_pairs

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    exact = {
        (r["id_a"], r["id_b"])
        for r in embedding_cosine_pairs(
            emb, "vec_id", "embedding", threshold=0.4, method="exact"
        ).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in embedding_cosine_pairs(
            emb, "vec_id", "embedding", threshold=0.4, method="lsh", lsh_bits=4
        ).collect()
    }
    assert lsh <= exact  # LSH never invents pairs, only misses them


def test_cosine_topk_matches_numpy(spark, sf_dir):
    import os

    from letsearch_spark.operators.topk import cosine_topk

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    rows = emb.orderBy("vec_id").collect()
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    ids = np.array([r["vec_id"] for r in rows])
    q = mat[0]
    sims = (mat @ q) / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
    expected = ids[np.lexsort((ids, -sims))][:10].tolist()

    got = [
        r["vec_id"]
        for r in cosine_topk(emb, q.tolist(), k=10, key_col="vec_id", vec_col="embedding").collect()
    ]
    assert got == expected


def test_topk_k_bounds(spark, sf_dir):
    import os

    from letsearch_spark.operators.topk import cosine_topk

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    with pytest.raises(ValueError):
        cosine_topk(emb, [0.0] * 64, k=0, key_col="vec_id", vec_col="embedding")
    with pytest.raises(ValueError):
        cosine_topk(emb, [0.0] * 64, k=101, key_col="vec_id", vec_col="embedding")


def test_simhash_bits_validation(docs):
    from letsearch_spark.operators.dedup import simhash

    for bad in (0, 61, 64):
        with pytest.raises(ValueError):
            simhash(docs, "doc_id", "text", bits=bad)


def test_multiprobe_signature_counts():
    import math

    from letsearch_spark.operators.topk import multiprobe_signatures

    for bits, r in ((8, 0), (8, 1), (8, 2), (6, 3)):
        expected = sum(math.comb(bits, d) for d in range(r + 1))
        assert len(multiprobe_signatures(0b1010, bits, r)) == expected


def _knn_rows(df):
    """knn_join output as {(query_id, rank): (key, score bits)}."""
    return {
        (r["query_id"], r["rank"]): (r["_key"], r["score"].hex())
        for r in df.collect()
    }


def _cosine_twin(emb, queries, k, exclude_self=False):
    """Column twin of knn_join: cosine_similarity over every
    (base, query) pair, ranked by (score desc, key asc) -- same output
    shape as :func:`_knn_rows`."""
    from pyspark.sql import Window

    from letsearch_spark.functions.vector import cosine_similarity

    pairs = emb.crossJoin(queries)
    if exclude_self:
        pairs = pairs.where(F.col("_key") != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("_key"))
    ranked = (
        pairs.select(
            "query_id", "_key", cosine_similarity("vector", "qvec").alias("score")
        )
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )
    return _knn_rows(ranked)


def test_knn_join_ties_match_cosine_twin(spark):
    # duplicate vectors straddling the k boundary: the kernel must keep
    # all boundary ties and let the window break them by key asc
    rows = [(i, [1.0, 0.0]) for i in range(6)] + [(6, [0.0, 1.0])]
    emb = spark.createDataFrame(rows, "_key long, vector array<float>")
    queries = spark.createDataFrame(
        [(0, [1.0, 0.0])], "query_id long, qvec array<float>"
    )
    from letsearch_spark.operators.topk import knn_join

    got = _knn_rows(knn_join(emb, queries, k=3))
    assert got == _cosine_twin(emb, queries, k=3)
    assert [got[(0, r)][0] for r in (1, 2, 3)] == [0, 1, 2]


def test_knn_join_scores_match_cosine_twin(spark, sf_dir):
    import os

    from letsearch_spark.operators.topk import knn_join

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")).select(
        F.col("vec_id").alias("_key"), F.col("embedding").alias("vector")
    )
    queries = emb.where(F.col("_key") < 20).select(
        F.col("_key").alias("query_id"), F.col("vector").alias("qvec")
    )
    # k=5: candidate selection + rescore; k=corpus size: every pair is
    # rescored, so every score is compared bit for bit
    for k in (5, emb.count()):
        assert _knn_rows(knn_join(emb, queries, k=k)) == _cosine_twin(
            emb, queries, k
        ), k


def test_knn_join_exclude_self(spark, sf_dir):
    import os

    from letsearch_spark.operators.topk import knn_join

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")).select(
        F.col("vec_id").alias("_key"), F.col("embedding").alias("vector")
    )
    queries = emb.where(F.col("_key") < 3).select(
        F.col("_key").alias("query_id"), F.col("vector").alias("qvec")
    )
    got = _knn_rows(knn_join(emb, queries, k=3, exclude_self=True))
    assert got == _cosine_twin(emb, queries, k=3, exclude_self=True)
    assert all(key != qid for (qid, _), (key, _) in got.items())
    assert sorted(got) == [(q, r) for q in range(3) for r in (1, 2, 3)]


def test_knn_join_near_ties_property(spark):
    """Adversarial near-ties, where BLAS and the sequential fold can
    order rows differently around the k-th score: exact duplicates,
    rows 1 double ulp away from a pivot row, and permutations of the
    pivot (against the constant query every permutation has the same
    true cosine, but its fold rounds differently). Across partition
    counts the kernel must return the Column twin's ranks and scores
    bit for bit."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from letsearch_spark.operators.topk import knn_join

    @settings(
        max_examples=20,
        deadline=None,
        derandomize=True,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        seed=st.integers(0, 2**31 - 1),
        dim=st.integers(2, 48),
        k=st.integers(1, 8),
        parts=st.sampled_from([1, 2, 3, 7]),
        n_dup=st.integers(0, 4),
        n_ulp=st.integers(0, 6),
        n_perm=st.integers(4, 16),
        qids=st.sampled_from([(102,), (100, 101, 102)]),
    )
    def check(seed, dim, k, parts, n_dup, n_ulp, n_perm, qids):
        rng = np.random.RandomState(seed)
        # positive components: the constant query ranks the permutation
        # cluster first, so the k-th score falls inside it
        pivot = np.abs(rng.normal(size=dim))
        rows = [pivot] * (1 + n_dup)
        for _ in range(n_ulp):
            v = pivot.copy()
            j = rng.randint(dim)
            v[j] = np.nextafter(v[j], np.inf if rng.rand() < 0.5 else -np.inf)
            rows.append(v)
        rows += [pivot[rng.permutation(dim)] for _ in range(n_perm)]
        rows += list(rng.normal(size=(8, dim)))
        keys = rng.permutation(len(rows))
        emb = spark.createDataFrame(
            [(int(key), [float(x) for x in v]) for key, v in zip(keys, rows)],
            "_key long, vector array<double>",
        ).repartition(parts)
        # one query scores through BLAS gemv, several through gemm:
        # the two sum in different orders
        qvecs = {
            100: pivot,
            101: pivot + rng.normal(scale=1e-3, size=dim),
            102: np.full(dim, 0.37),
        }
        queries = spark.createDataFrame(
            [(q, [float(x) for x in qvecs[q]]) for q in qids],
            "query_id long, qvec array<double>",
        )
        assert _knn_rows(knn_join(emb, queries, k=k)) == _cosine_twin(
            emb, queries, k
        )

    check()


def test_knn_join_zero_vectors_score_zero(spark):
    """A zero base row or zero query scores 0.0 (the cosine_similarity
    rule) instead of failing with a division by zero."""
    from letsearch_spark.operators.topk import knn_join

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 0.0]), (2, [0.0, 1.0])],
        "_key long, vector array<float>",
    )
    queries = spark.createDataFrame(
        [(10, [1.0, 0.0]), (11, [0.0, 0.0])], "query_id long, qvec array<float>"
    )
    got = _knn_rows(knn_join(emb, queries, k=3))
    assert got == _cosine_twin(emb, queries, k=3)
    assert got[(10, 2)] == (1, (0.0).hex())
    assert {got[(11, r)] for r in (1, 2, 3)} == {
        (key, (0.0).hex()) for key in (0, 1, 2)
    }


def test_knn_join_rejects_non_finite_vectors(spark):
    from letsearch_spark.operators.topk import knn_join

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "_key long, vector array<float>"
    )
    for bad in (float("nan"), float("inf")):
        queries = spark.createDataFrame(
            [(10, [1.0, 0.0]), (11, [bad, 1.0])],
            "query_id long, qvec array<float>",
        )
        # queries are collected on the driver: fails at plan build
        with pytest.raises(ValueError, match=r"NaN/inf.*\[11\]"):
            knn_join(emb, queries, k=1)

    queries = spark.createDataFrame(
        [(10, [1.0, 0.0])], "query_id long, qvec array<float>"
    )
    bad_emb = emb.union(
        spark.createDataFrame(
            [(2, [float("nan"), 0.0])], "_key long, vector array<float>"
        )
    )
    # base vectors are only seen by the scan task
    with pytest.raises(Exception, match=r"holds NaN/inf values \(keys \[2\]\)"):
        knn_join(bad_emb, queries, k=1).collect()


def test_lsh_topk_self_hit(spark, sf_dir):
    import os

    from letsearch_spark.operators.topk import build_lsh_index, lsh_topk

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")).select(
        F.col("vec_id").alias("_key"), F.col("embedding").alias("vector")
    )
    indexed = build_lsh_index(emb, dim=64, bits=6).cache()
    q = emb.where(F.col("_key") == 7).select("vector").collect()[0][0]
    hits = lsh_topk(indexed, q, k=5, bits=6, multiprobe=1).collect()
    assert hits[0]["_key"] == 7
    assert hits[0]["score"] == pytest.approx(1.0, abs=1e-9)


def test_connected_components_chain_and_singletons(spark):
    from letsearch_spark.operators.dedup import connected_components, dedup_keep_list

    # chain 1-2-3-4-5 (diameter 4: forces multiple propagation rounds),
    # clique-ish 10-11, singleton 20 (only via nodes=)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], "id_a long, id_b long"
    )
    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 5, 10, 11, 20]], "id long")
    comp = {
        r["id"]: r["component"]
        for r in connected_components(pairs, nodes=nodes).collect()
    }
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10, 20: 20}

    keep = dedup_keep_list(nodes.withColumnRenamed("id", "doc_id"), pairs, "doc_id")
    kept = sorted(r["id"] for r in keep.where("is_kept").collect())
    assert kept == [1, 10, 20]
    assert keep.count() == 8


def test_dedup_keep_best_quality_survivors(spark):
    from letsearch_spark.operators.dedup import dedup_keep_best

    # chain 1-2-3 (best score in the middle), pair 10-11 tied on score
    # (lowest id wins), pair 30-31 where the higher id has a NULL score
    # (null loses), singleton 20 (kept, never joins the dup subset)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (30, 31)], "id_a long, id_b long"
    )
    docs = spark.createDataFrame(
        [
            (1, 5.0),
            (2, 9.0),
            (3, 7.0),
            (10, 4.0),
            (11, 4.0),
            (20, 0.5),
            (30, None),
            (31, 2.0),
        ],
        "doc_id long, score double",
    )
    keep = dedup_keep_best(docs, pairs, "doc_id", "score")
    rows = {r["id"]: (r["component"], r["is_kept"]) for r in keep.collect()}
    assert len(rows) == 8
    assert sorted(i for i, (_, k) in rows.items() if k) == [2, 10, 20, 31]
    assert rows[1][0] == rows[2][0] == rows[3][0] == 1
    assert rows[20] == (20, True)


def test_dedup_keep_best_string_ids(spark):
    """ADVICE r6: the tie-break must work for any orderable id type,
    not just numerics (the old (-id).cast('long') failed analysis on
    string ids)."""
    from letsearch_spark.operators.dedup import dedup_keep_best

    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "id_a string, id_b string"
    )
    docs = spark.createDataFrame(
        [("a", 1.0), ("b", 3.0), ("c", 3.0), ("x", 2.0), ("y", 2.0), ("solo", 9.0)],
        "doc_id string, score double",
    )
    keep = dedup_keep_best(docs, pairs, "doc_id", "score")
    kept = sorted(r["id"] for r in keep.collect() if r["is_kept"])
    # a-b-c: max score 3.0 shared by b,c -> min id 'b'; x-y tied -> 'x'
    assert kept == ["b", "solo", "x"]


def test_mean_pool_all_null_group_methods_agree(spark):
    """ADVICE r6: a group whose vectors are ALL null must be dropped by
    BOTH methods (the pandas path used to emit a scalar-NaN schema
    mismatch / divide by zero)."""
    from letsearch_spark.operators.pool import mean_pool_vectors

    df = spark.createDataFrame(
        [("a", [1.0, 2.0]), ("dead", None), ("dead", None)],
        "g string, v array<double>",
    )
    for kwargs in ({}, {"exact_units": 10**6}):
        for method in ("explode", "pandas"):
            rows = mean_pool_vectors(df, "g", "v", method=method, **kwargs).collect()
            assert [r["g"] for r in rows] == ["a"], (method, kwargs)


def test_asof_join_directions_tolerance(spark):
    import datetime as dt

    from letsearch_spark.operators.asof import asof_join

    T = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    left = spark.createDataFrame(
        [(1, T(10), "u"), (2, T(20), "u"), (3, T(5), "v")],
        "lid long, lts timestamp, luser string",
    )
    right = spark.createDataFrame(
        [(100, T(10), "u"), (200, T(15), "u"), (300, T(30), "v")],
        "rid long, rts timestamp, ruser string",
    )

    def run(**kw):
        rows = asof_join(
            left, right, "lts", "rts", "luser", "ruser", right_ts_out="mts", **kw
        ).collect()
        return {r["lid"]: r["rid"] for r in rows}

    # backward: ts-equal right row IS visible (<=)
    assert run() == {1: 100, 2: 200, 3: None}
    # forward: at-or-after
    assert run(direction="forward") == {1: 100, 2: None, 3: 300}
    # tolerance cuts the 25s-away match for lid=3 forward
    assert run(direction="forward", tolerance_seconds=20) == {1: 100, 2: None, 3: None}
    # sub-second tolerance: a 5s gap (lid=2 backward matched rid=200 at
    # ts-5s) must fail a 4.999s tolerance and pass a 5.0s one -- whole-
    # second truncation would see both as exactly 5
    assert run(tolerance_seconds=4.999) == {1: 100, 2: None, 3: None}
    assert run(tolerance_seconds=5.0) == {1: 100, 2: 200, 3: None}
    # sub-second timestamps: left at +250ms matches right at ts, and a
    # 200ms tolerance cuts it while 300ms keeps it
    Tms = lambda s, ms: dt.datetime(2024, 1, 1, 0, 0, s, ms * 1000)
    l2 = spark.createDataFrame(
        [(9, Tms(40, 250), "u")], "lid long, lts timestamp, luser string"
    )
    r2 = spark.createDataFrame(
        [(900, Tms(40, 0), "u")], "rid long, rts timestamp, ruser string"
    )
    for tol, want in ((0.2, None), (0.3, 900)):
        got = {
            r["lid"]: r["rid"]
            for r in asof_join(
                l2, r2, "lts", "rts", "luser", "ruser",
                tolerance_seconds=tol,
            ).collect()
        }
        assert got == {9: want}
    # inner drops unmatched
    inner = asof_join(left, right, "lts", "rts", "luser", "ruser", how="inner")
    assert sorted(r["lid"] for r in inner.collect()) == [1, 2]

    with pytest.raises(ValueError):
        asof_join(left, right, "lts", "rts", "luser", "ruser", direction="nearest")
    with pytest.raises(ValueError):
        # payload column name clash with left
        asof_join(left, right.withColumnRenamed("rid", "lid"), "lts", "rts", "luser", "ruser")


def test_hash_split_and_sample(spark):
    from letsearch_spark.operators.sample import hash_sample, hash_split

    df = spark.range(0, 2000).withColumnRenamed("id", "k")
    split = hash_split(df, "k")
    counts = {r["split"]: r["n"] for r in split.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert counts["train"] > 1600  # ~90%
    # stable under repartitioning
    a = sorted((r["k"], r["split"]) for r in split.collect())
    b = sorted((r["k"], r["split"]) for r in hash_split(df.repartition(13), "k").collect())
    assert a == b

    n = hash_sample(df, "k", 0.1).count()
    assert 120 <= n <= 280  # ~10% of 2000
    # sample is a subset relation: 5% sample ⊆ 10% sample (nested cutoffs)
    s5 = {r["k"] for r in hash_sample(df, "k", 0.05).collect()}
    s10 = {r["k"] for r in hash_sample(df, "k", 0.1).collect()}
    assert s5 <= s10

    with pytest.raises(ValueError):
        hash_sample(df, "k", 1.5)
    with pytest.raises(ValueError):
        hash_split(df, "k", weights={"a": 0.5, "b": 0.6})


def test_kmeans_fit_full_matches_twin_bitwise(spark, sf_dir):
    import os

    import numpy as np
    import pyarrow.parquet as pq

    from letsearch_spark.operators.ann import kmeans_fit_full, kmeans_fit_full_twin

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    cent = kmeans_fit_full(
        emb, nlist=4, vec_col="embedding", key_col="vec_id", iters=2
    )
    etbl = pq.read_table(
        os.path.join(sf_dir, "embeddings.parquet"),
        columns=["vec_id", "embedding"],
    ).to_pylist()
    etbl.sort(key=lambda r: r["vec_id"])
    x = np.array([r["embedding"] for r in etbl], dtype=np.float64)
    twin = kmeans_fit_full_twin(x, nlist=4, iters=2)
    # fixed-point pooling makes the distributed result BIT-identical to
    # the sequential twin -- not just close
    assert (cent == twin).all()
    # ... and partitioning-independent
    cent13 = kmeans_fit_full(
        emb.repartition(13), nlist=4, vec_col="embedding", key_col="vec_id", iters=2
    )
    assert (cent13 == cent).all()
    # centroids are unit vectors
    assert np.allclose(np.linalg.norm(cent, axis=1), 1.0, atol=1e-12)
    with pytest.raises(ValueError):
        kmeans_fit_full(emb.limit(2), nlist=4, vec_col="embedding", key_col="vec_id")


def test_mean_pool_vectors_methods_agree(spark):
    import numpy as np

    from letsearch_spark.operators.pool import mean_pool_vectors

    rows = [
        ("a", [1.0, 2.0, 3.0]),
        ("a", [3.0, 0.0, -1.0]),
        ("a", [2.0, 4.0, 1.0]),
        ("b", [10.0, -10.0, 0.5]),
        ("b", None),  # null vectors drop out of the mean
    ]
    df = spark.createDataFrame(rows, "g string, v array<double>")
    expect = {"a": [2.0, 2.0, 1.0], "b": [10.0, -10.0, 0.5]}

    for method in ("explode", "pandas"):
        got = {
            r["g"]: (r["pooled"], r["n_vecs"])
            for r in mean_pool_vectors(
                df, "g", "v", method=method
            ).collect()
        }
        assert got["a"][1] == 3 and got["b"][1] == 1, method
        for g, exp in expect.items():
            assert np.allclose(got[g][0], exp, atol=1e-12), (method, g)

    # fixed-point path: both methods produce the IDENTICAL doubles
    ex = mean_pool_vectors(df, "g", "v", exact_units=10**6).collect()
    pa = mean_pool_vectors(
        df, "g", "v", method="pandas", exact_units=10**6
    ).collect()
    assert sorted((r["g"], r["pooled"]) for r in ex) == sorted(
        (r["g"], r["pooled"]) for r in pa
    )

    # normalize: unit norm out
    nrm = mean_pool_vectors(df, "g", "v", normalize=True).collect()
    for r in nrm:
        assert abs(np.linalg.norm(r["pooled"]) - 1.0) < 1e-12

    with pytest.raises(ValueError):
        mean_pool_vectors(df, "g", "v", method="nope")


def test_stratified_topk_sample_exact_counts(spark):
    from letsearch_spark.operators.sample import stratified_topk_sample

    # strata of very different sizes: 400 'a', 50 'b', 3 'c'
    df = spark.range(0, 453).select(
        F.col("id").alias("k"),
        F.when(F.col("id") < 400, "a")
        .when(F.col("id") < 450, "b")
        .otherwise("c")
        .alias("g"),
    )
    out = stratified_topk_sample(df, "k", "g", k=10, rank_col="rnk")
    counts = {
        r["g"]: r["n"]
        for r in out.groupBy("g").agg(F.count("*").alias("n")).collect()
    }
    assert counts == {"a": 10, "b": 10, "c": 3}  # min(k, |stratum|)
    # ranks are 1..n within each stratum
    ranks = sorted(r["rnk"] for r in out.where("g = 'b'").collect())
    assert ranks == list(range(1, 11))
    # deterministic under repartitioning
    a = sorted((r["g"], r["rnk"], r["k"]) for r in out.collect())
    b = sorted(
        (r["g"], r["rnk"], r["k"])
        for r in stratified_topk_sample(
            df.repartition(13), "k", "g", k=10, rank_col="rnk"
        ).collect()
    )
    assert a == b
    # rank_col=None drops the helper column entirely
    assert stratified_topk_sample(df, "k", "g", k=2).columns == ["k", "g"]
    with pytest.raises(ValueError):
        stratified_topk_sample(df, "k", "g", k=0)


def test_leakage_safe_split(spark):
    from letsearch_spark.operators.sample import hash_split, leakage_safe_split

    df = spark.range(0, 500).withColumnRenamed("id", "k")
    # components: docs {i, i+250} are near-dup pairs with representative i
    comps = spark.createDataFrame(
        [(int(i), int(i % 250)) for i in range(500)], "id long, component long"
    )
    out = leakage_safe_split(df, comps, "k")
    by_key = {r["k"]: r["split"] for r in out.collect()}
    assert len(by_key) == 500
    # the leak guarantee: every near-dup pair lands on ONE side
    for i in range(250):
        assert by_key[i] == by_key[i + 250], f"pair ({i},{i+250}) straddles"
    # representatives get exactly the split a plain hash_split gives them
    plain = {
        r["k"]: r["split"]
        for r in hash_split(df.where(F.col("k") < 250), "k").collect()
    }
    assert all(by_key[i] == plain[i] for i in range(250))
    # rows missing from components fall back to their own key (LEFT join)
    partial = leakage_safe_split(df, comps.where(F.col("id") < 100), "k")
    assert partial.count() == 500
    pk = {r["k"]: r["split"] for r in partial.collect()}
    full_plain = {r["k"]: r["split"] for r in hash_split(df, "k").collect()}
    assert all(pk[i] == full_plain[i] for i in range(100, 500))
    # stable under repartitioning
    again = {
        r["k"]: r["split"]
        for r in leakage_safe_split(df.repartition(13), comps, "k").collect()
    }
    assert again == by_key


@pytest.mark.deep  # auditor tier (pytest.ini): property sweep; split_leakage_safe is oracle-hash-checked each round
def test_leakage_safe_split_no_pair_straddles_testdata(spark, sf_dir):
    """End-to-end guarantee on the real corpus: after the staged
    split_leakage_safe entry, NO verified MinHash near-dup pair has its
    two docs in different splits (the exact leak a doc-key hash_split
    permits -- and this corpus does contain cross-split pairs under a
    plain split, so the assertion is not vacuous)."""
    from letsearch_spark.operators.dedup import minhash_lsh_pairs
    from letsearch_spark.operators.sample import hash_split
    from letsearch_spark.queries import QUERIES, load

    docs = load(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        docs, "doc_id", "text", n=3, num_perms=16, band_rows=2, threshold=0.5
    ).select("id_a", "id_b")
    split = {
        r["doc_id"]: r["split"]
        for r in QUERIES["split_leakage_safe"](spark, sf_dir).collect()
    }
    prows = pairs.collect()
    assert prows, "corpus has no near-dup pairs; guard is vacuous"
    for r in prows:
        assert split[r.id_a] == split[r.id_b]
    # counter-evidence: the plain doc-key split DOES leak on this corpus
    plain = {
        r["doc_id"]: r["split"]
        for r in hash_split(docs.select("doc_id"), "doc_id").collect()
    }
    assert any(plain[r.id_a] != plain[r.id_b] for r in prows)


def test_ngram_containment_verbatim_inclusion(spark):
    from letsearch_spark.operators.dedup import ngram_containment_pairs

    probe_text = "the quick brown fox jumps over the lazy dog"
    corpus = spark.createDataFrame(
        [
            # 100: embeds the probe verbatim inside a longer doc
            (100, f"intro words before {probe_text} and plenty of trailing "
                  f"material that dilutes jaccard far below any threshold "
                  f"while containment stays perfect"),
            (101, "totally unrelated text about spark shuffle partitions"),
        ],
        ["doc_id", "text"],
    )
    probes = spark.createDataFrame([(7, probe_text)], ["pid", "ptext"])
    got = {
        (r["corpus_id"], r["probe_id"]): r["containment"]
        for r in ngram_containment_pairs(
            corpus, probes, "doc_id", "text", "pid", "ptext", threshold=0.5
        ).collect()
    }
    assert got == {(100, 7): 1.0}  # verbatim inclusion scores exactly 1.0

    # jaccard on the same pair would be far below 0.5 (dilution): the
    # asymmetry is the point of the containment metric
    from letsearch_spark.operators.dedup import ngram_jaccard_pairs

    both = corpus.union(
        probes.select(F.col("pid").alias("doc_id"), F.col("ptext").alias("text"))
    )
    jac = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(both, "doc_id", "text", threshold=0.0).collect()
    }
    assert jac[(7, 100)] < 0.5


@pytest.mark.deep  # auditor tier (pytest.ini): cross-algorithm equivalence sweep; minlabel is oracle-covered, star is a non-default path
def test_components_star_equals_minlabel(spark):
    import random

    from letsearch_spark.operators.dedup import connected_components

    rng = random.Random(7)
    # random sparse graph + a long chain (the star algorithm's case:
    # 60-node chain has diameter 59, star converges in O(log n) rounds)
    edges = [(i, i + 1) for i in range(100, 160)]
    edges += [(rng.randrange(0, 50), rng.randrange(0, 50)) for _ in range(40)]
    edges = [(a, b) for a, b in edges if a != b]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    nodes = spark.createDataFrame(
        [(i,) for i in range(0, 50)] + [(i,) for i in range(100, 161)] + [(999,)],
        "id long",
    )
    base = {
        r["id"]: r["component"]
        for r in connected_components(pairs, nodes=nodes, max_iter=80).collect()
    }
    star = {
        r["id"]: r["component"]
        for r in connected_components(
            pairs, nodes=nodes, algorithm="star", max_iter=10
        ).collect()
    }
    assert star == base
    # the chain collapsed to its min id, the singleton kept itself
    assert star[160] == 100 and star[999] == 999

    # default max_iter (20) cannot cover diameter 59: min-label must
    # REFUSE rather than silently return wrong labels
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, nodes=nodes).collect()

    # star has the same contract: an interrupted contraction is not a
    # star forest (interior nodes would emit conflicting component
    # rows), so it must raise instead of returning
    with pytest.raises(RuntimeError, match="fixed point"):
        connected_components(
            pairs, nodes=nodes, algorithm="star", max_iter=1
        ).collect()

    with pytest.raises(ValueError):
        connected_components(pairs, algorithm="bogus")


def test_stratified_hash_sample(spark):
    from letsearch_spark.operators.sample import stratified_hash_sample

    df = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "de") for i in range(2000)],
        "k long, lang string",
    )
    out = stratified_hash_sample(df, "k", "lang", {"en": 0.25}, default_fraction=1.0)
    counts = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert counts["de"] == 1000  # default 1.0 keeps the full stratum
    assert 180 < counts["en"] < 320  # ~25% of 1000
    # per-key determinism: same rows under repartitioning
    a = sorted(r["k"] for r in out.collect())
    b = sorted(
        r["k"]
        for r in stratified_hash_sample(
            df.repartition(17), "k", "lang", {"en": 0.25}, default_fraction=1.0
        ).collect()
    )
    assert a == b
    with pytest.raises(ValueError):
        stratified_hash_sample(df, "k", "lang", {"en": 1.5})


def test_repetition_stats(spark):
    from letsearch_spark.functions.text import repetition_stats

    rows = [
        (1, "a b c d e"),            # no repetition
        (2, "spam spam spam spam"),  # maximal repetition
        (3, "x"),                    # shorter than the n-gram window
        (4, None),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    stats = repetition_stats(F.col("text"), n=2)
    got = {
        r["doc_id"]: r
        for r in df.select("doc_id", *[c.alias(k) for k, c in stats.items()]).collect()
    }
    assert got[1]["dup_word_frac"] == 0.0 and got[1]["dup_ngram_frac"] == 0.0
    assert got[2]["n_words"] == 4 and got[2]["n_distinct_words"] == 1
    assert got[2]["dup_word_frac"] == 0.75
    assert got[2]["dup_ngram_frac"] == pytest.approx(1 - 1 / 3, abs=1e-6)
    assert got[3]["dup_ngram_frac"] == 0.0  # empty gram set, no NaN


# ---------------------------------------------------------------- pack


def test_pack_sequences_tiling_invariants(spark):
    """Spans of each doc tile [0, tokens); spans of each (shard, seq)
    tile [0, seq_len) except the shard's final partial sequence; no
    token is lost or duplicated."""
    from letsearch_spark.operators.pack import pack_sequences

    docs = spark.createDataFrame(
        [(i, (i * 37) % 190 + 1) for i in range(1, 101)], "id long, tokens long"
    )
    L = 128
    out = pack_sequences(docs, "id", "tokens", seq_len=L, num_shards=4).collect()

    total = sum(r["tok_len"] for r in out)
    assert total == sum((i * 37) % 190 + 1 for i in range(1, 101))
    assert all(r["tok_len"] > 0 for r in out)
    assert all(0 <= r["seq_offset"] < L for r in out)
    assert all(r["seq_offset"] + r["tok_len"] <= L for r in out)

    # per-doc spans tile the doc contiguously from 0
    from collections import defaultdict

    per_doc = defaultdict(list)
    for r in out:
        per_doc[r["id"]].append(r)
    doc_tokens = {i: (i * 37) % 190 + 1 for i in range(1, 101)}
    for i, spans in per_doc.items():
        spans.sort(key=lambda r: (r["seq"], r["seq_offset"]))
        pos = 0
        for s in spans:
            assert s["tok_begin"] == pos
            pos += s["tok_len"]
        assert pos == doc_tokens[i]

    # per-(shard, seq) spans tile the sequence; all but the last seq of
    # a shard are exactly full
    per_seq = defaultdict(list)
    for r in out:
        per_seq[(r["shard"], r["seq"])].append(r)
    last_seq = defaultdict(int)
    for (sh, sq) in per_seq:
        last_seq[sh] = max(last_seq[sh], sq)
    for (sh, sq), spans in per_seq.items():
        spans.sort(key=lambda r: r["seq_offset"])
        pos = 0
        for s in spans:
            assert s["seq_offset"] == pos
            pos += s["tok_len"]
        if sq < last_seq[sh]:
            assert pos == L, f"interior sequence ({sh},{sq}) not full: {pos}"
        else:
            assert 0 < pos <= L


def test_pack_sequences_shuffle_seed(spark):
    """shuffle_seed permutes each shard's document order
    deterministically: invariants and token totals hold, the stream
    order differs from key order, distinct seeds give distinct orders,
    and the layout is repartition-stable."""
    from collections import defaultdict

    from letsearch_spark.operators.pack import pack_sequences

    docs = spark.createDataFrame(
        [(i, (i * 37) % 190 + 1) for i in range(1, 101)], "id long, tokens long"
    )
    L = 128

    def stream_order(rows):
        """Per shard: doc ids in stream order (by first span position)."""
        first = defaultdict(dict)
        for r in rows:
            pos = r["seq"] * L + r["seq_offset"] - r["tok_begin"]
            cur = first[r["shard"]].get(r["id"])
            first[r["shard"]][r["id"]] = min(pos, cur) if cur is not None else pos
        return {
            sh: [i for i, _ in sorted(d.items(), key=lambda kv: kv[1])]
            for sh, d in first.items()
        }

    plain = pack_sequences(docs, "id", "tokens", seq_len=L, num_shards=4).collect()
    shuf = pack_sequences(
        docs, "id", "tokens", seq_len=L, num_shards=4, shuffle_seed=7
    ).collect()
    shuf2 = pack_sequences(
        docs.repartition(13), "id", "tokens", seq_len=L, num_shards=4, shuffle_seed=7
    ).collect()
    other = pack_sequences(
        docs, "id", "tokens", seq_len=L, num_shards=4, shuffle_seed=8
    ).collect()

    # same work, same totals, same shard membership -- only order moves
    assert sum(r["tok_len"] for r in shuf) == sum(r["tok_len"] for r in plain)
    o_plain, o_shuf = stream_order(plain), stream_order(shuf)
    assert {s: sorted(v) for s, v in o_plain.items()} == {
        s: sorted(v) for s, v in o_shuf.items()
    }
    assert all(o_plain[s] == sorted(o_plain[s]) for s in o_plain)  # key order
    assert any(o_shuf[s] != sorted(o_shuf[s]) for s in o_shuf)  # permuted
    assert stream_order(other) != o_shuf  # seed changes the permutation
    assert {tuple(r) for r in shuf2} == {tuple(r) for r in shuf}  # stable

    # tiling invariants survive the permutation
    per_seq = defaultdict(list)
    for r in shuf:
        per_seq[(r["shard"], r["seq"])].append(r)
    last_seq = defaultdict(int)
    for (sh, sq) in per_seq:
        last_seq[sh] = max(last_seq[sh], sq)
    for (sh, sq), spans in per_seq.items():
        spans.sort(key=lambda r: r["seq_offset"])
        pos = 0
        for s in spans:
            assert s["seq_offset"] == pos
            pos += s["tok_len"]
        assert pos == L or sq == last_seq[sh]


def test_pack_sequences_deterministic_and_validated(spark):
    from letsearch_spark.operators.pack import pack_sequences

    docs = spark.createDataFrame(
        [(1, 10), (2, 0), (3, -5), (4, 300)], "id long, tokens long"
    )
    out = pack_sequences(docs, "id", "tokens", seq_len=100, num_shards=2)
    rows = {tuple(r) for r in out.collect()}
    # zero/negative token docs dropped
    assert not any(r[2] in (2, 3) for r in rows)
    # repartitioning the input cannot change the layout
    rows2 = {
        tuple(r)
        for r in pack_sequences(
            docs.repartition(7), "id", "tokens", seq_len=100, num_shards=2
        ).collect()
    }
    assert rows == rows2

    import pytest

    with pytest.raises(ValueError, match="seq_len"):
        pack_sequences(docs, "id", "tokens", seq_len=0)
    with pytest.raises(ValueError, match="num_shards"):
        pack_sequences(docs, "id", "tokens", seq_len=10, num_shards=0)


def _bfd_twin(rows, seq_len):
    """Independent best-fit-decreasing replica (linear scan, no bisect
    index): (key, tokens) -> {key: (seq, seq_offset)}."""
    out = {}
    rem = []
    for key, n in sorted(rows, key=lambda r: (-r[1], r[0])):
        best = None
        for b, cap in enumerate(rem):
            if cap >= n and (best is None or cap < rem[best]):
                best = b
        if best is None:
            best = len(rem)
            rem.append(seq_len)
        out[key] = (best, seq_len - rem[best])
        rem[best] -= n
    return out


def test_pack_documents_bins_matches_twin_and_tiles(spark):
    import random

    from letsearch_spark.operators.pack import (
        pack_documents_bins,
        packing_efficiency,
    )

    rng = random.Random(5)
    data = [(i, rng.randint(1, 90)) for i in range(300)]
    docs = spark.createDataFrame(data, "id long, tokens long")
    L = 128
    # num_shards=1: the whole corpus is one BFD instance the twin replays
    out = pack_documents_bins(docs, "id", "tokens", seq_len=L, num_shards=1)
    got = {r["id"]: (r["seq"], r["seq_offset"], r["tok_len"]) for r in out.collect()}
    want = _bfd_twin(data, L)
    assert len(got) == 300
    for key, n in data:
        seq, off = want[key]
        assert got[key] == (seq, off, n), key

    # multi-shard: every doc exactly once, bins never overflow, docs
    # tile each bin contiguously, layout repartition-stable
    out4 = pack_documents_bins(docs, "id", "tokens", seq_len=L, num_shards=4)
    rows = out4.collect()
    assert sorted(r["id"] for r in rows) == [i for i, _ in data]
    per_bin = {}
    for r in rows:
        per_bin.setdefault((r["shard"], r["seq"]), []).append(r)
    for spans in per_bin.values():
        spans.sort(key=lambda r: r["seq_offset"])
        pos = 0
        for s in spans:
            assert s["seq_offset"] == pos
            pos += s["tok_len"]
        assert pos <= L
    again = pack_documents_bins(
        docs.repartition(11), "id", "tokens", seq_len=L, num_shards=4
    ).collect()
    assert {tuple(r) for r in again} == {tuple(r) for r in rows}

    # padding audit: grand-total row agrees with a manual computation
    eff = {r["shard"]: r for r in packing_efficiency(out4, L).collect()}
    n_bins = len(per_bin)
    n_tok = sum(n for _, n in data)
    assert eff[-1]["n_seqs"] == n_bins
    assert eff[-1]["n_tokens"] == n_tok
    assert abs(eff[-1]["padding_frac"] - (1 - n_tok / (n_bins * L))) < 1e-6
    # BFD must beat one-doc-per-sequence by a wide margin here
    assert eff[-1]["padding_frac"] < 0.1
    assert n_bins < 300 / 2


def test_pack_documents_bins_oversize_modes(spark):
    import pytest

    from letsearch_spark.operators.pack import pack_documents_bins

    docs = spark.createDataFrame(
        [(1, 50), (2, 200), (3, 60)], "id long, tokens long"
    )
    with pytest.raises(Exception, match="seq_len"):
        pack_documents_bins(
            docs, "id", "tokens", seq_len=100, num_shards=1
        ).collect()

    dropped = pack_documents_bins(
        docs, "id", "tokens", seq_len=100, num_shards=1, on_oversize="drop"
    ).collect()
    assert sorted(r["id"] for r in dropped) == [1, 3]

    own = pack_documents_bins(
        docs, "id", "tokens", seq_len=100, num_shards=1, on_oversize="own_seq"
    ).collect()
    big = [r for r in own if r["id"] == 2]
    assert len(big) == 1 and big[0]["tok_len"] == 200 and big[0]["seq_offset"] == 0
    # nothing shares the oversize doc's bin
    assert sum(r["seq"] == big[0]["seq"] for r in own) == 1

    with pytest.raises(ValueError, match="on_oversize"):
        pack_documents_bins(docs, "id", "tokens", seq_len=100, on_oversize="pad")


# ------------------------------------------------------------ lines


def test_remove_duplicate_lines(spark):
    """The boilerplate line survives only in the lowest-key doc; unique
    lines and blank lines survive everywhere; order is preserved."""
    from letsearch_spark.operators.dedup import remove_duplicate_lines

    boiler = "subscribe to our newsletter"
    docs = spark.createDataFrame(
        [
            (1, f"alpha\n{boiler}\nbeta"),
            (2, f"{boiler}\n\ngamma"),
            (3, f"delta\n{boiler}"),
            (4, "unique only"),
        ],
        "id long, text string",
    )
    out = {
        r["id"]: r for r in remove_duplicate_lines(docs, "id", "text").collect()
    }
    assert out[1]["text"] == f"alpha\n{boiler}\nbeta"
    assert out[1]["n_removed"] == 0
    assert out[2]["text"] == "\ngamma"  # blank line exempt, boiler stripped
    assert out[2]["n_removed"] == 1
    assert out[3]["text"] == "delta"
    assert out[3]["n_removed"] == 1
    assert out[4]["text"] == "unique only"
    assert {r["id"]: r["n_lines"] for r in out.values()} == {
        1: 3,
        2: 3,
        3: 2,
        4: 1,
    }


def test_remove_duplicate_lines_max_occurrences(spark):
    from letsearch_spark.operators.dedup import remove_duplicate_lines

    docs = spark.createDataFrame(
        [(1, "x\ny"), (2, "x\nz")], "id long, text string"
    )
    # a line shared by 2 docs survives when max_occurrences=2
    out = {
        r["id"]: r["text"]
        for r in remove_duplicate_lines(
            docs, "id", "text", max_occurrences=2
        ).collect()
    }
    assert out == {1: "x\ny", 2: "x\nz"}


# ------------------------------------------------------------ mixture


def test_mixture_hash_sample(spark):
    """Realized counts land near target_rows * weight per domain; a
    domain below its target saturates at full retention; unknown
    domains are dropped; the filter is append/repartition-stable."""
    from letsearch_spark.operators.sample import mixture_hash_sample

    rows = (
        [(i, "web") for i in range(8000)]
        + [(i + 10000, "code") for i in range(1500)]
        + [(i + 20000, "wiki") for i in range(120)]
        + [(i + 30000, "junk") for i in range(500)]
    )
    df = spark.createDataFrame(rows, "id long, domain string")
    out = mixture_hash_sample(
        df, "id", "domain", {"web": 0.5, "code": 0.3, "wiki": 0.2}, 2000
    )
    got = {r["d"]: r["n"] for r in out.groupBy(F.col("domain").alias("d")).agg(F.count(F.lit(1)).alias("n")).collect()}
    assert "junk" not in got
    assert abs(got["web"] - 1000) < 150  # hash-sampled ~ rate*n
    assert abs(got["code"] - 600) < 120
    assert got["wiki"] == 120  # saturated: target 400 > 120 available

    # stability: same keys kept after repartitioning
    a = {r["id"] for r in out.collect()}
    b = {
        r["id"]
        for r in mixture_hash_sample(
            df.repartition(13), "id", "domain",
            {"web": 0.5, "code": 0.3, "wiki": 0.2}, 2000,
        ).collect()
    }
    assert a == b

    import pytest

    with pytest.raises(ValueError, match="target_rows"):
        mixture_hash_sample(df, "id", "domain", {"web": 1.0}, -1)
    with pytest.raises(ValueError, match="positive"):
        mixture_hash_sample(df, "id", "domain", {"web": 0.0}, 10)


def test_temperature_weights_hand_computed():
    """share^T renormalized: counts 80/20 at T=0.5 give
    sqrt(.8)/(sqrt(.8)+sqrt(.2)) ~= 0.6667; T=1 returns the natural
    mixture; T->0 flattens toward uniform."""
    import math

    import pytest

    from letsearch_spark.operators.sample import temperature_weights

    w = temperature_weights({"web": 80, "code": 20}, 0.5)
    s8, s2 = math.sqrt(0.8), math.sqrt(0.2)
    assert w["web"] == pytest.approx(s8 / (s8 + s2))
    assert w["code"] == pytest.approx(s2 / (s8 + s2))
    assert temperature_weights({"a": 3, "b": 1}, 1.0) == pytest.approx(
        {"a": 0.75, "b": 0.25}
    )
    flat = temperature_weights({"a": 1000000, "b": 1}, 0.01)
    assert abs(flat["a"] - 0.5) < 0.05  # near-uniform at tiny T
    with pytest.raises(ValueError, match="temperature"):
        temperature_weights({"a": 1}, 0.0)
    with pytest.raises(ValueError, match="temperature"):
        temperature_weights({"a": 1}, 1.5)
    with pytest.raises(ValueError, match="positive"):
        temperature_weights({"a": 0}, 0.5)


def test_temperature_hash_sample(spark):
    """The realized mixture is flatter than the corpus mixture: the
    rare domain's share rises, and the keep-set equals an explicit
    mixture_hash_sample with the derived weights (same hash filter)."""
    from letsearch_spark.operators.sample import (
        mixture_hash_sample,
        temperature_hash_sample,
        temperature_weights,
    )

    rows = [(i, "web") for i in range(9000)] + [
        (i + 100000, "wiki") for i in range(1000)
    ]
    df = spark.createDataFrame(rows, "id long, domain string")
    out = temperature_hash_sample(df, "id", "domain", 0.5, 4000)
    got = {
        r["d"]: r["n"]
        for r in out.groupBy(F.col("domain").alias("d"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    # natural wiki share 10%; T=0.5 target share = sqrt(.9*.1 ratio) ->
    # 0.25 of 4000 = 1000 -> wiki saturates at its full 1000 rows
    assert got["wiki"] == 1000
    assert abs(got["web"] - 3000) < 300

    w = temperature_weights({"web": 9000, "wiki": 1000}, 0.5)
    twin = mixture_hash_sample(df, "id", "domain", w, 4000)
    assert {r["id"] for r in out.collect()} == {r["id"] for r in twin.collect()}


# ------------------------------------------------------------ gopher


def test_c4_clean_lines_and_flags(spark):
    """C4 recipe, both halves: the line rewrite keeps exactly the lines
    a Python twin keeps (terminal punctuation, >=5 words, no
    'javascript'), and each page rule triggers on the document built to
    violate it."""
    import re

    from letsearch_spark.functions.text import c4_clean_lines, c4_flags

    page = "\n".join(
        [
            "This is a perfectly normal first sentence of prose.",   # keep
            "Short line.",                                           # <5 words
            "Navigation menu",                                       # no punct
            "Please enable JavaScript to view the comments!",        # js
            'He said "it ends with a quote after punctuation."',     # keep
            "Is this a question with enough words in it?",           # keep
            "She replied ‘that is fine by me.’",           # keep (curly quote)
        ]
    )
    docs = spark.createDataFrame(
        [
            (1, page),
            (2, "Too few sentences here."),
            (3, "One full sentence stands here today. " * 3 + "lorem ipsum dolor."),
            (4, "A code sample follows this brace { now. " * 3),
            (5, "This page openly ends with badword. " * 3),         # blocked + punct
            (6, "This page contains the bad phrase here openly. " * 3),
        ],
        "id long, text string",
    )
    cleaned = {
        r["id"]: r["c"]
        for r in docs.select(
            "id", c4_clean_lines(F.col("text")).alias("c")
        ).collect()
    }

    def twin(text):
        out = []
        for ln in text.split("\n"):
            if not re.search(r'[.!?]["”\'’]?\s*$', ln):
                continue
            if len(ln.lower().split()) < 5:
                continue
            if "javascript" in ln.lower():
                continue
            out.append(ln)
        return "\n".join(out)

    for i, text in [(1, page)]:
        assert cleaned[i] == twin(text)
    # the curly-quoted line survives alongside the three plain keeps
    assert len(cleaned[1].split("\n")) == 4
    assert cleaned[1].endswith("’")

    # blocklist: a sentence-final 'badword.' must match (edge
    # punctuation stripped) and multi-word phrases match as substrings
    flags = c4_flags(F.col("text"), blocklist=("badword", "bad phrase"))
    out = {
        r["id"]: r
        for r in docs.select(
            "id", *[c.alias(n) for n, c in flags.items()]
        ).collect()
    }
    assert out[1]["passes"] and out[1]["n_sentences"] >= 3
    assert not out[2]["ok_sentences"]
    assert not out[3]["ok_lorem"] and out[3]["ok_sentences"]
    assert not out[4]["ok_brace"]
    assert not out[5]["ok_blocklist"] and out[5]["ok_lorem"]
    assert not out[6]["ok_blocklist"]


def test_gopher_flags(spark):
    """Each rule triggers on the document built to violate it and only
    that rule (plus whatever its pathology implies); a normal paragraph
    passes everything."""
    from letsearch_spark.functions.text import gopher_flags

    good = (
        "the quick brown fox jumps over a lazy dog and then runs "
        "into the woods for an hour of rest that is well earned today"
    )
    too_short = "the cat is here"
    symbols = " ".join(
        ["the and a of is to in that for an"] * 3 + ["# word"] * 15
    )
    bullets = "\n".join(["- " + good] * 10)
    ellipsised = "\n".join([good + " ..."] * 10)
    numeric = " ".join(
        ["the and a of is to in that for an"] + ["12345"] * 40
    )
    no_stop = " ".join(["zebra quagga okapi tapir bongo"] * 8)

    docs = spark.createDataFrame(
        [
            (1, good),
            (2, too_short),
            (3, symbols),
            (4, bullets),
            (5, ellipsised),
            (6, numeric),
            (7, no_stop),
        ],
        "id long, text string",
    )
    flags = gopher_flags(F.col("text"))
    out = {
        r["id"]: r
        for r in docs.select(
            "id", *[c.alias(n) for n, c in flags.items()]
        ).collect()
    }
    assert out[1]["passes"]
    assert not out[2]["ok_words"] and out[2]["ok_stop"]
    assert not out[3]["ok_symbols"] and out[3]["ok_words"]
    assert not out[4]["ok_bullets"] and out[4]["passes"] is False
    assert not out[5]["ok_ellipsis"]
    assert not out[6]["ok_alpha"] and out[6]["ok_words"]
    assert not out[7]["ok_stop"] and out[7]["ok_alpha"]
    for i in (2, 3, 4, 5, 6, 7):
        assert not out[i]["passes"], i


def test_pack_sequences_matches_python_twin_randomized(spark):
    """Randomized equivalence: the distributed layout must equal a
    transparent single-process packer (group by shard, sort by key,
    running offset, span per crossed sequence) on corpora with skewed
    token counts (giant docs spanning many sequences, 1-token docs,
    seq_len edge multiples)."""
    import random

    from letsearch_spark.operators.pack import pack_sequences
    from letsearch_spark.operators.sample import hash_bucket

    rng = random.Random(7)
    for trial in range(8):
        n_docs = rng.randint(1, 120)
        L = rng.choice([1, 7, 64, 128])
        shards = rng.choice([1, 3, 8])
        docs = [
            (k, rng.choice([1, 2, L - 1 if L > 1 else 1, L, L + 1, rng.randint(1, 5 * L)]))
            for k in rng.sample(range(1, 10_000), n_docs)
        ]
        df = spark.createDataFrame(docs, "id long, tokens long")
        got = {
            tuple(r)
            for r in pack_sequences(
                df, "id", "tokens", seq_len=L, num_shards=shards
            ).collect()
        }

        # python twin: reuse the SAME hash column for shard assignment
        shard_of = {
            r["id"]: r["s"] % shards
            for r in df.select(
                "id", hash_bucket(F.col("id")).alias("s")
            ).collect()
        }
        expect = set()
        by_shard = {}
        for k, tok in docs:
            by_shard.setdefault(shard_of[k], []).append((k, tok))
        for sh, items in by_shard.items():
            off = 0
            for k, tok in sorted(items):
                for seq in range(off // L, (off + tok - 1) // L + 1):
                    b = max(0, seq * L - off)
                    e = min(tok, (seq + 1) * L - off)
                    expect.add((sh, seq, k, b, e - b, off + b - seq * L))
                off += tok
        assert got == expect, f"trial {trial}: L={L} shards={shards}"


def test_remove_duplicate_lines_matches_python_twin_randomized(spark):
    """Randomized equivalence vs a transparent single-process C4
    dedupper over corpora drawn from a tiny line vocabulary (high
    duplication), including blank lines and within-doc repeats."""
    import random

    from letsearch_spark.operators.dedup import remove_duplicate_lines

    vocab = ["alpha beta", "gamma", "  ", "", "delta epsilon zeta", "eta"]
    rng = random.Random(11)
    for trial in range(6):
        docs = [
            (k, "\n".join(rng.choice(vocab) for _ in range(rng.randint(1, 8))))
            for k in rng.sample(range(1, 1000), rng.randint(1, 40))
        ]
        df = spark.createDataFrame(docs, "id long, text string")
        got = {
            r["id"]: (r["text"], r["n_lines"], r["n_removed"])
            for r in remove_duplicate_lines(df, "id", "text").collect()
        }

        # python twin
        from collections import defaultdict

        docs_of_line = defaultdict(set)
        for k, t in docs:
            for line in t.split("\n"):
                if line.strip():
                    docs_of_line[line.strip()].add(k)
        dup = {
            line: min(ks) for line, ks in docs_of_line.items() if len(ks) > 1
        }
        expect = {}
        for k, t in docs:
            kept, removed = [], 0
            for line in t.split("\n"):
                s = line.strip()
                if s and s in dup and dup[s] != k:
                    removed += 1
                else:
                    kept.append(line)
            expect[k] = ("\n".join(kept), len(t.split("\n")), removed)
        assert got == expect, f"trial {trial}"


def test_normalize_url_and_host(spark):
    from letsearch_spark.functions.text import normalize_url, url_host

    cases = [
        # tracking params + fragment + case + www + default port + slash
        ("HTTPS://WWW.Example.COM:443/Path/?utm_source=x&utm_medium=y#top",
         "https://example.com/Path"),
        ("http://example.com:80/a?id=3&utm_campaign=z&q=ok",
         "http://example.com/a?id=3&q=ok"),
        ("https://example.com/a?gclid=abc", "https://example.com/a"),
        ("https://example.com/a?fbclid=1&id=2", "https://example.com/a?id=2"),
        # path case and real params preserved
        ("https://site.org/API/v1?b=2&a=1", "https://site.org/API/v1?b=2&a=1"),
        ("http://example.com/", "http://example.com"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r[0] for r in df.select(normalize_url(F.col("url"))).collect()]
    assert got == [want for _, want in cases]

    hosts = [
        r[0] for r in df.select(url_host(F.col("url"))).collect()
    ]
    assert hosts == [
        "example.com", "example.com", "example.com", "example.com",
        "site.org", "example.com",
    ]


# ------------------------------------------------------------ ngram LM


def test_ngram_lm_perplexity_matches_python_twin(spark):
    """Bigram LM trained on a tiny corpus: Spark scores must match a
    transparent single-process implementation to float tolerance, and
    in-distribution text must score lower perplexity than shuffled
    out-of-distribution text."""
    import math
    from collections import Counter

    from letsearch_spark.operators.ngram_lm import perplexity, train_ngram_lm

    corpus_texts = [
        "the cat sat on the mat",
        "the dog sat on the rug",
        "the cat ran to the dog",
    ]
    corpus = spark.createDataFrame([(t,) for t in corpus_texts], "text string")
    lm = train_ngram_lm(corpus, n=2)

    docs = [
        (1, "the cat sat on the rug"),   # in-distribution
        (2, "rug the on mat sat the"),   # same words, scrambled
        (3, "zebra quantum flux"),       # OOV
        (4, "one"),                      # too short for a bigram
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: r for r in perplexity(df, lm, n=2).collect()}

    # python twin
    def grams(t, n=2):
        ws = t.lower().split()
        return [(" ".join(ws[i:i + n - 1]), ws[i + n - 1]) for i in range(len(ws) - n + 1)]

    counts = Counter(g for t in corpus_texts for g in grams(t))
    prefix_tot = Counter()
    for (p, w), c in counts.items():
        prefix_tot[p] += c
    V = len({w for (_, w) in counts})

    for doc_id, text in docs:
        gs = grams(text)
        if not gs:
            assert got[doc_id]["ppl"] is None
            assert got[doc_id]["n_grams"] == 0
            continue
        lp = [
            math.log((counts.get(g, 0) + 1.0) / (prefix_tot.get(g[0], 0) + V))
            for g in gs
        ]
        want = math.exp(-sum(lp) / len(lp))
        assert got[doc_id]["n_grams"] == len(gs)
        assert abs(got[doc_id]["ppl"] - want) < 1e-4, doc_id

    # in-distribution text scores best. (No claim between scrambled and
    # OOV: under Laplace smoothing an all-unseen-PREFIX doc gets the
    # uniform floor ppl == V, which can beat seen-prefix/unseen-word.)
    assert got[1]["ppl"] < got[2]["ppl"]
    assert got[1]["ppl"] < got[3]["ppl"]
    assert abs(got[3]["ppl"] - 9.0) < 1e-6  # uniform floor == V


def test_perplexity_filter_keeps_in_distribution(spark):
    from letsearch_spark.operators.ngram_lm import (
        perplexity,
        perplexity_filter,
        train_ngram_lm,
    )

    corpus = spark.createDataFrame(
        [("the cat sat on the mat",), ("the dog sat on the rug",)],
        "text string",
    )
    lm = train_ngram_lm(corpus, n=2)
    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "colorless green ideas sleep")],
        "doc_id long, text string",
    )
    cut = [
        r["ppl"] for r in perplexity(docs, lm).collect() if r["doc_id"] == 1
    ][0] + 0.1
    kept = {r["doc_id"] for r in perplexity_filter(docs, lm, max_ppl=cut).collect()}
    assert kept == {1}


def test_perplexity_buckets_matches_twin(spark):
    """CCNet head/middle/tail split: exact-percentile bucketing must
    reproduce a numpy twin's assignment for every document, short docs
    land in 'short', and the approx path yields the same cutoff-ordered
    partition with roughly the requested shares."""
    import numpy as np
    import pytest

    from letsearch_spark.operators.ngram_lm import (
        perplexity,
        perplexity_buckets,
        train_ngram_lm,
    )

    corpus = spark.createDataFrame(
        [("the cat sat on the mat",), ("the dog sat on the rug",),
         ("the cat ran to the dog",)],
        "text string",
    )
    lm = train_ngram_lm(corpus, n=2)
    # 30 docs sliding from fully in-distribution to fully OOV -> a
    # spread of distinct perplexities, plus two too-short docs
    base = "the cat sat on the mat the dog sat on the rug".split()
    oov = "zq{} wx{} kj{} vb{} mn{} pq{}".format(*range(6)).split()
    rows = []
    for i in range(30):
        k = (i * len(base)) // 30
        rows.append((i, " ".join(base[: len(base) - k] + oov[: min(k, 6)])))
    rows += [(100, "one"), (101, "")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    out = {
        r["doc_id"]: r
        for r in perplexity_buckets(
            docs, lm, fractions=(0.25, 0.5), exact=True
        ).collect()
    }
    assert len(out) == 32
    assert out[100]["ppl_bucket"] == "short" and out[101]["ppl_bucket"] == "short"

    ppls = {
        r["doc_id"]: r["ppl"]
        for r in perplexity(docs, lm).collect()
        if r["ppl"] is not None
    }
    vals = np.array(sorted(ppls.values()))
    c1 = float(np.percentile(vals, 25.0))  # linear interpolation ==
    c2 = float(np.percentile(vals, 75.0))  # Spark's exact percentile
    for doc_id, p in ppls.items():
        want = "head" if p <= c1 else ("middle" if p <= c2 else "tail")
        assert out[doc_id]["ppl_bucket"] == want, (doc_id, p, c1, c2)
        assert out[doc_id]["ppl"] == pytest.approx(p)

    # approx path: cutoff-ordered partition (max head ppl <= min middle
    # ppl <= ... ) with shares within sketch error of the request
    approx = perplexity_buckets(docs, lm, fractions=(0.25, 0.5)).collect()
    by_bucket = {}
    for r in approx:
        if r["ppl_bucket"] != "short":
            by_bucket.setdefault(r["ppl_bucket"], []).append(r["ppl"])
    assert set(by_bucket) == {"head", "middle", "tail"}
    assert max(by_bucket["head"]) <= min(by_bucket["middle"])
    assert max(by_bucket["middle"]) <= min(by_bucket["tail"])
    assert 4 <= len(by_bucket["head"]) <= 11
    assert len(by_bucket["tail"]) <= 11

    with pytest.raises(ValueError, match="fractions"):
        perplexity_buckets(docs, lm, fractions=(0.5, 0.6))


def test_perplexity_buckets_releases_its_scoring(spark):
    """perplexity_buckets scores the corpus once (its result reads the
    pinned scores, no n-gram explode), and no Spark cache entry for the
    scored corpus outlives a call -- a second call on the same inputs
    adds none either."""
    from letsearch_spark.operators.ngram_lm import (
        perplexity,
        perplexity_buckets,
        train_ngram_lm,
    )

    corpus = spark.createDataFrame(
        [("the cat sat on the mat",), ("the dog sat on the rug",)], "text string"
    )
    lm = train_ngram_lm(corpus, n=2)
    docs = spark.createDataFrame(
        [(i, " ".join(["the cat sat on the rug"] * (i % 3 + 1))) for i in range(12)],
        "doc_id long, text string",
    )
    cache = spark._jsparkSession.sharedState().cacheManager()
    scored = perplexity(docs, lm)  # the plan perplexity_buckets scores
    for _ in range(2):
        out = perplexity_buckets(docs, lm, exact=True)
        assert out.count() == 12
        assert not cache.lookupCachedData(scored._jdf).isDefined()
        assert "Generate" not in out._jdf.queryExecution().optimizedPlan().toString()


def test_new_operators_degenerate_inputs(spark):
    """Empty/degenerate corpora must yield empty (not crash): the
    shapes a scheduled pipeline hits on an empty partition day."""
    from letsearch_spark.operators.dedup import remove_duplicate_lines
    from letsearch_spark.operators.ngram_lm import perplexity, train_ngram_lm
    from letsearch_spark.operators.pack import pack_sequences
    from letsearch_spark.operators.sample import mixture_hash_sample

    empty_docs = spark.createDataFrame([], "id long, text string")
    empty_tok = spark.createDataFrame([], "id long, tokens long")

    assert pack_sequences(empty_tok, "id", "tokens", seq_len=8).count() == 0
    assert remove_duplicate_lines(empty_docs, "id", "text").count() == 0
    assert (
        mixture_hash_sample(empty_docs, "id", "text", {"en": 1.0}, 10).count()
        == 0
    )
    lm = train_ngram_lm(empty_docs.select("text"), n=2)
    assert lm.count() == 0
    one = spark.createDataFrame([(1, "hello world")], "id long, text string")
    scored = perplexity(one, lm, key_col="id", n=2).collect()
    # empty model: uniform floor over an empty vocab -> V=0, smoothed
    # to alpha/alpha = 1 -> ppl 1.0 (documented degenerate value)
    assert scored[0]["n_grams"] == 1

    # single-doc corpus through line dedup: nothing to deduplicate
    r = remove_duplicate_lines(one, "id", "text").collect()[0]
    assert (r["text"], r["n_removed"]) == ("hello world", 0)

    # round-3 operators on empty corpora
    from letsearch_spark.operators.dedup import semantic_dedup
    from letsearch_spark.operators.dsir import dsir_sample

    empty_vecs = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert (
        semantic_dedup(empty_vecs, id_col="vec_id", vec_col="embedding").count()
        == 0
    )
    tgt = spark.createDataFrame([(0, "alpha")], "doc_id long, text string")
    assert dsir_sample(empty_docs.withColumnRenamed("id", "doc_id"), tgt, k=3).count() == 0


def test_code_review_regressions(spark):
    """Round-3 self-review fixes, pinned:
    (1) remove_duplicate_lines aliases its output to text_col;
    (2) pack_sequences uses a ROWS frame -- duplicate keys still tile
        the stream instead of silently overlapping."""
    from letsearch_spark.operators.dedup import remove_duplicate_lines
    from letsearch_spark.operators.pack import pack_sequences

    docs = spark.createDataFrame(
        [(1, "x\ny"), (2, "x\nz")], "id long, body string"
    )
    out = remove_duplicate_lines(docs, "id", "body")
    assert set(out.columns) == {"id", "body", "n_lines", "n_removed"}

    dup = spark.createDataFrame(
        [(1, 10), (1, 10), (2, 5)], "id long, tokens long"
    )
    spans = pack_sequences(dup, "id", "tokens", seq_len=8, num_shards=1).collect()
    assert sum(r["tok_len"] for r in spans) == 25  # tiles, no overlap
    per_seq = {}
    for r in spans:
        per_seq.setdefault(r["seq"], []).append(r)
    for seq, ss in per_seq.items():
        ss.sort(key=lambda r: r["seq_offset"])
        pos = 0
        for s in ss:
            assert s["seq_offset"] == pos, "overlapping spans"
            pos += s["tok_len"]


def test_pipeline_token_count_col_guard(spark):
    """Pre-supplied token counts + line dedup would pack a layout over
    the UN-stripped text -- the config must refuse the combination."""
    import pytest

    from letsearch_spark.pipeline import PrepConfig, prepare_training_data

    docs = spark.createDataFrame(
        [(1, "some text", 10)], "doc_id long, text string, n_tok long"
    )
    with pytest.raises(ValueError, match="line-dedup"):
        prepare_training_data(
            docs, PrepConfig(token_count_col="n_tok")
        )
    # valid when line dedup is off
    clean, layout, audit = prepare_training_data(
        docs,
        PrepConfig(
            quality=None, line_dedup=None, fuzzy_dedup=None,
            token_count_col="n_tok", seq_len=4, num_shards=1,
        ),
    )
    assert sum(r["tok_len"] for r in layout.collect()) in (0, 10)


# ------------------------------------------------------------ bm25 / hybrid


def test_bm25_matches_python_twin(spark):
    """BM25 over a tiny corpus vs an independent pure-Python scorer
    (same Lucene idf variant, same analyzer)."""
    import math
    import re

    from letsearch_spark.operators.bm25 import bm25_scores, corpus_stats

    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "quick quick fox"),
        (2, "lazy afternoon nap, no animals here"),
        (3, "Fox! fox? FOX -- and a dog."),
        (4, None),
        (5, ""),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    query = "quick fox"

    def toks(s):
        return [t for t in re.sub("[^a-z0-9]+", " ", s.lower()).split() if t]

    corpus = {i: toks(t) for i, t in rows if t and toks(t)}
    n, avgdl = len(corpus), sum(map(len, corpus.values())) / len(corpus)
    k1, b = 1.2, 0.75
    expected = {}
    for i, ts in corpus.items():
        s = 0.0
        for term in ["quick", "fox"]:
            tf = ts.count(term)
            if not tf:
                continue
            df = sum(term in v for v in corpus.values())
            idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
            s += idf * (tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(ts) / avgdl)))
        if s:
            expected[i] = s

    assert corpus_stats(docs) == (n, avgdl)
    got = {r["doc_id"]: r["bm25"] for r in bm25_scores(docs, query).collect()}
    assert set(got) == set(expected)
    for i in expected:
        assert abs(got[i] - expected[i]) < 1e-12, (i, got[i], expected[i])
    # doc 1 repeats 'quick': saturating tf, but still the strongest match
    assert got[1] == max(got.values())


def test_rrf_fuse_ranks_and_absences(spark):
    from letsearch_spark.operators.bm25 import rrf_fuse

    lex = spark.createDataFrame([(10, 1), (20, 2)], "doc_id long, rank int")
    den = spark.createDataFrame([(20, 1), (30, 2)], "doc_id long, rank int")
    out = {
        r["doc_id"]: (r["rrf"], r["bm25_rank"], r["vec_rank"])
        for r in rrf_fuse({"bm25": lex, "vec": den}).collect()
    }
    assert set(out) == {10, 20, 30}
    assert out[20][0] == 1 / 61 + 1 / 62  # present in both legs
    assert out[10] == (1 / 61, 1, None)
    assert out[30] == (1 / 62, None, 2)
    # the doc in both legs outranks single-leg docs here
    assert out[20][0] > out[10][0] > out[30][0]


def test_bm25_empty_query_and_corpus_raise(spark):
    import pytest as _pytest

    from letsearch_spark.operators.bm25 import bm25_scores

    docs = spark.createDataFrame([(0, "alpha")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="no tokens"):
        bm25_scores(docs, "!!! ???")
    empty = spark.createDataFrame([(0, " .")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="empty corpus"):
        bm25_scores(empty, "alpha")


# ------------------------------------------------------------ semantic dedup


def test_semantic_dedup_matches_python_twin(spark, sf_dir):
    """Cluster-then-compare semantic dedup vs a single-process numpy
    twin (same centroid fit, same min-id keep rule), plus injected
    exact-duplicate vectors that must always be dropped."""
    import numpy as np
    import os as _os

    from letsearch_spark.operators.ann import kmeans_fit
    from letsearch_spark.operators.dedup import semantic_dedup

    emb = spark.read.parquet(_os.path.join(sf_dir, "embeddings.parquet")).select(
        "vec_id", "embedding"
    )
    # clone vec 0 and 3 under high ids: same vector => cos = 1 >= thr
    clones = emb.where(F.col("vec_id").isin(0, 3)).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    df = emb.union(clones)

    got = {
        r["vec_id"]: (r["cluster"], r["keep"])
        for r in semantic_dedup(
            df, id_col="vec_id", vec_col="embedding", threshold=0.9, nlist=8
        ).collect()
    }
    assert got[100000] == (got[0][0], False)  # clone: same cluster, dropped
    assert got[100003] == (got[3][0], False)
    assert got[0][1] and got[3][1]  # originals keep (min id)

    # independent twin
    rows = sorted(
        ((r["vec_id"], r["embedding"]) for r in df.collect()), key=lambda t: t[0]
    )
    x = np.array([v for _, v in rows], dtype=np.float64)
    cents = kmeans_fit(x, nlist=8, iters=10, seed=42)
    norms = np.linalg.norm(x, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    xn = x / norms
    assign = (xn @ cents.T).argmax(axis=1)
    expected = {}
    for c in set(assign.tolist()):
        idx = [i for i in range(len(rows)) if assign[i] == c]
        sims = xn[idx] @ xn[idx].T
        for pos, i in enumerate(idx):
            dup = bool((sims[pos, :pos] >= 0.9).any())
            expected[rows[i][0]] = (int(c), not dup)
    assert got == expected


def test_semantic_dedup_null_vectors_dropped(spark):
    from letsearch_spark.operators.dedup import semantic_dedup

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, None), (3, [1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    out = semantic_dedup(df, id_col="vec_id", vec_col="embedding", nlist=2)
    got = {r["vec_id"]: r["keep"] for r in out.collect()}
    assert set(got) == {1, 3}  # null vector has no semantic identity
    assert got[1] and not got[3]


def test_semantic_dedup_string_ids(spark):
    """The output schema carries the caller's id type; string document
    ids must flow through applyInPandas instead of dying on an Arrow
    long/string mismatch (ADVICE r3)."""
    from letsearch_spark.operators.dedup import semantic_dedup

    df = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [1.0, 0.0]), ("c", [0.0, 1.0])],
        "vec_id string, embedding array<double>",
    )
    out = semantic_dedup(df, id_col="vec_id", vec_col="embedding", nlist=1)
    assert out.schema["vec_id"].dataType.simpleString() == "string"
    got = {r["vec_id"]: r["keep"] for r in out.collect()}
    # min-id keep rule sorts lexically for string ids: "a" survives
    assert got == {"a": True, "b": False, "c": True}


def test_bm25_df_modes_and_idf_literals_agree(spark, sf_dir):
    """All three document-frequency formulations -- window over
    candidates, groupBy+broadcast join, and driver-inlined idf literals
    (the serve path) -- must produce identical scores."""
    import os as _os

    from letsearch_spark.operators.bm25 import (
        bm25_scores_from_postings,
        bm25_scores_with_idf,
        build_postings,
        corpus_stats,
        tokenize_query,
    )

    docs = spark.read.parquet(
        _os.path.join(sf_dir, "documents.parquet")
    ).select("doc_id", "text")
    terms = tokenize_query("spark join window agg")
    n_docs, avgdl = corpus_stats(docs)
    postings = build_postings(docs).cache()
    try:
        base = {
            r["doc_id"]: r["bm25"]
            for r in bm25_scores_from_postings(
                postings, terms, n_docs, avgdl, df_via="window"
            ).collect()
        }
        joined = {
            r["doc_id"]: r["bm25"]
            for r in bm25_scores_from_postings(
                postings, terms, n_docs, avgdl, df_via="join"
            ).collect()
        }
        term_df = {
            r["__term"]: r["n"]
            for r in postings.where(F.col("__term").isin(terms))
            .groupBy("__term")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        lit = {
            r["doc_id"]: r["bm25"]
            for r in bm25_scores_with_idf(
                postings, term_df, n_docs, avgdl
            ).collect()
        }
    finally:
        postings.unpersist()
    assert base and set(base) == set(joined) == set(lit)
    for k in base:
        assert abs(base[k] - joined[k]) < 1e-12
        assert abs(base[k] - lit[k]) < 1e-12


def test_bm25_with_idf_sql_fast_path_matches_column_twin(
    spark, sf_dir, monkeypatch
):
    """The r11 SQL-string fast path of bm25_scores_with_idf is
    BIT-identical to the original Column composition (rebuilt here as
    the twin), and a term containing a quote or a non-finite k1 / b /
    avgdl / idf routes to the Column fallback and still scores
    identically."""
    import math
    import os as _os

    from letsearch_spark.operators.bm25 import (
        bm25_scores_with_idf,
        build_postings,
        corpus_stats,
    )

    docs = spark.read.parquet(
        _os.path.join(sf_dir, "documents.parquet")
    ).select("doc_id", "text")
    n_docs, avgdl = corpus_stats(docs)
    postings = build_postings(docs).cache()
    k1, b = 1.2, 0.75
    term_df = {"spark": 40, "join": 35, "window": 25, "agg": 17}
    try:
        got = {
            r["doc_id"]: r["bm25"]
            for r in bm25_scores_with_idf(
                postings, term_df, n_docs, avgdl
            ).collect()
        }
        # the pre-r11 Column composition, verbatim
        def twin(n_docs, avgdl, k1):
            idf_entries = []
            for t, d in term_df.items():
                idf_entries.append(F.lit(t))
                idf_entries.append(
                    F.lit(math.log(1.0 + (float(n_docs) - d + 0.5) / (d + 0.5)))
                )
            idf = F.create_map(*idf_entries)[F.col("__term")]
            tf_norm = (
                F.col("__tf")
                * (k1 + 1.0)
                / (F.col("__tf") + k1 * (1.0 - b + b * F.col("__dl") / F.lit(avgdl)))
            )
            return {
                r["doc_id"]: r["bm25"]
                for r in postings.where(F.col("__term").isin(list(term_df)))
                .withColumn("__s", idf * tf_norm)
                .groupBy("__id")
                .agg(F.sum("__s").alias("bm25"))
                .select(F.col("__id").alias("doc_id"), "bm25")
                .collect()
            }

        want = twin(n_docs, avgdl, k1)
        assert got == want  # bit-exact, not approx

        # a quoted term forces the Column fallback branch; scores for
        # the shared terms are unchanged (the quoted term matches no
        # posting)
        fb = {
            r["doc_id"]: r["bm25"]
            for r in bm25_scores_with_idf(
                postings, {**term_df, "o'brien": 1}, n_docs, avgdl
            ).collect()
        }
        assert fb == want

        # non-finite numeric inputs (an inf idf, a nan avgdl, an inf k1)
        # also take the Column fallback: no SQL string is built, and the
        # scores equal the twin's (compared by repr, so nan == nan)
        exprs = []
        select_expr = type(postings).selectExpr

        def spy(self, *e):
            exprs.extend(e)
            return select_expr(self, *e)

        monkeypatch.setattr(type(postings), "selectExpr", spy)
        for n_, avgdl_, k1_ in (
            (float("inf"), avgdl, k1),
            (n_docs, float("nan"), k1),
            (n_docs, avgdl, float("inf")),
        ):
            nf = bm25_scores_with_idf(postings, term_df, n_, avgdl_, k1=k1_)
            assert {r["doc_id"]: repr(r["bm25"]) for r in nf.collect()} == {
                k: repr(v) for k, v in twin(n_, avgdl_, k1_).items()
            }
        assert exprs == []
    finally:
        postings.unpersist()


# ------------------------------------------------------------ dsir


def test_dsir_prefers_target_like_documents(spark):
    """Importance resampling must pull documents that look like the
    target domain: raw corpus mixes two vocabularies; the target is
    pure domain A; the top-k sample must be dominated by A docs."""
    from letsearch_spark.operators.dsir import dsir_sample

    a_words = "protein genome enzyme cell receptor"
    b_words = "tariff invoice ledger audit equity"
    raw_rows = [(i, f"{a_words} sample {i % 7}") for i in range(40)] + [
        (100 + i, f"{b_words} filing {i % 7}") for i in range(40)
    ]
    raw = spark.createDataFrame(raw_rows, "doc_id long, text string")
    target = spark.createDataFrame(
        [(i, f"{a_words} study {i}") for i in range(10)],
        "doc_id long, text string",
    )
    picked = dsir_sample(raw, target, k=20)
    rows = picked.collect()
    assert len(rows) == 20
    a_picked = sum(1 for r in rows if r["doc_id"] < 100)
    assert a_picked >= 18, f"only {a_picked}/20 target-like docs picked"
    # weights separate the domains
    a_w = min(r["log_w"] for r in rows if r["doc_id"] < 100)
    b_like = [r["log_w"] for r in rows if r["doc_id"] >= 100]
    assert all(a_w > w for w in b_like) or not b_like


def test_dsir_deterministic_and_weight_twin(spark):
    """Same seed => identical sample across runs/repartitionings, and
    per-doc log weights match an independent Python twin of the
    hash-feature/Laplace-ratio arithmetic."""
    import hashlib
    import math
    import re

    from letsearch_spark.operators.dsir import (
        dsir_sample,
        fit_log_ratio,
        hashed_ngram_features,
        importance_weights,
    )

    raw_rows = [(i, f"alpha beta gamma doc {i % 5}") for i in range(30)]
    tgt_rows = [(i, "alpha beta focus") for i in range(5)]
    raw = spark.createDataFrame(raw_rows, "doc_id long, text string")
    target = spark.createDataFrame(tgt_rows, "doc_id long, text string")

    s1 = [r["doc_id"] for r in dsir_sample(raw, target, k=10).collect()]
    s2 = [
        r["doc_id"]
        for r in dsir_sample(raw.repartition(7), target, k=10).collect()
    ]
    assert s1 == s2

    B = 64  # tiny bucket space exercises collisions

    def md5_60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    def feats(text):
        w = [t for t in re.sub("[^a-z0-9]+", " ", text.lower()).split() if t]
        grams = w + [f"{w[i]} {w[i+1]}" for i in range(len(w) - 1)]
        out = {}
        for g in grams:
            b = md5_60(f"{g}#dsir42") % B
            out[b] = out.get(b, 0) + 1
        return out

    t_cnt, r_cnt = {}, {}
    for _, t in tgt_rows:
        for b, c in feats(t).items():
            t_cnt[b] = t_cnt.get(b, 0) + c
    for _, t in raw_rows:
        for b, c in feats(t).items():
            r_cnt[b] = r_cnt.get(b, 0) + c
    t_tot, r_tot = sum(t_cnt.values()), sum(r_cnt.values())
    expected = {}
    for i, t in raw_rows:
        lw = 0.0
        for b, c in feats(t).items():
            lr = math.log((t_cnt.get(b, 0) + 1.0) / (t_tot + B)) - math.log(
                (r_cnt.get(b, 0) + 1.0) / (r_tot + B)
            )
            lw += c * lr
        expected[i] = lw

    rf = hashed_ngram_features(raw, "doc_id", "text", num_buckets=B)
    tf_ = hashed_ngram_features(target, "doc_id", "text", num_buckets=B)
    model = fit_log_ratio(tf_, rf, num_buckets=B)
    got = {r["id"]: r["log_w"] for r in importance_weights(rf, model).collect()}
    assert set(got) == set(expected)
    for i in expected:
        assert abs(got[i] - expected[i]) < 1e-9, (i, got[i], expected[i])


def test_dsir_sample_releases_feature_cache(spark):
    """cache_features=True must not leak the corpus-sized feature cache
    across runs (ADVICE r3): after dsir_sample returns, the SQL cache
    holds nothing, and the eagerly-checkpointed sample still collects."""
    from letsearch_spark.operators.dsir import dsir_sample

    raw = spark.createDataFrame(
        [(i, f"alpha beta doc {i % 3}") for i in range(20)],
        "doc_id long, text string",
    )
    target = spark.createDataFrame(
        [(0, "alpha beta focus")], "doc_id long, text string"
    )
    spark.catalog.clearCache()
    picked = dsir_sample(raw, target, k=5, cache_features=True)
    cache_mgr = spark._jsparkSession.sharedState().cacheManager()
    assert cache_mgr.isEmpty(), "feature cache left registered"
    assert picked.count() == 5  # survives its lineage being uncached


# ------------------------------------------------------------ evaluation


def test_mean_recall_warns_on_missing_ground_truth(spark):
    """Approx-side queries absent from the exact side are excluded from
    the macro average -- mean_recall_at_k must say so (ADVICE r3)."""
    import pytest as _pytest

    from letsearch_spark.operators.evaluate import mean_recall_at_k

    exact = spark.createDataFrame(
        [(1, 10, 1)], "query_id long, _key long, rank int"
    )
    approx = spark.createDataFrame(
        [(1, 10, 1), (2, 99, 1)], "query_id long, _key long, rank int"
    )
    with _pytest.warns(UserWarning, match="no ground-truth rows"):
        r = mean_recall_at_k(approx, exact, k=3)
    assert r == 1.0  # query 2 excluded, not scored as a free hit


def test_recall_at_k_counts_and_misses(spark):
    from letsearch_spark.operators.evaluate import mean_recall_at_k, recall_at_k

    exact = spark.createDataFrame(
        [(0, 10, 1), (0, 11, 2), (0, 12, 3), (1, 20, 1), (1, 21, 2), (1, 22, 3)],
        "query_id long, _key long, rank int",
    )
    # query 0: 2/3 overlap; query 1: approx missed entirely
    approx = spark.createDataFrame(
        [(0, 10, 1), (0, 12, 2), (0, 99, 3)],
        "query_id long, _key long, rank int",
    )
    got = {
        r["query_id"]: (r["n_exact"], r["n_hit"], r["recall"])
        for r in recall_at_k(approx, exact, k=3).collect()
    }
    assert got == {0: (3, 2, 2 / 3), 1: (3, 0, 0.0)}
    assert mean_recall_at_k(approx, exact, k=3) == (2 / 3 + 0.0) / 2
    # k cutoff applies to both sides
    got2 = recall_at_k(approx, exact, k=1).collect()
    assert {(r["query_id"], r["recall"]) for r in got2} == {(0, 1.0), (1, 0.0)}


def test_normalize_text_column(spark):
    """Canonicalization: NFKC folds full-width/ligature glyphs, control
    and zero-width chars strip, unicode whitespace collapses; the
    form=None path stays fully JVM-side (no pandas UDF in the plan)."""
    from letsearch_spark.functions.text import normalize_text_column

    cases = [
        ("Ｈｅｌｌｏ ﬁne", "Hello fine"),
        ("a​b\x07c", "abc"),  # zero-width + C0 control
        ("x 　y\n\tz", "x y z"),  # NBSP/ideographic/runs
        # whitespace-FUNCTIONING controls (FF/VT/NEL) must become a
        # space, not vanish -- deleting them would merge the words a
        # page break separates
        ("page one\x0cpage two", "page one page two"),
        ("a\x0bb\x85c", "a b c"),
        ("  plain  ", "plain"),
        (None, None),
    ]
    df = spark.createDataFrame([(t,) for t, _ in cases], "t string")
    got = [
        r["n"]
        for r in df.select(normalize_text_column(F.col("t")).alias("n")).collect()
    ]
    assert got == [want for _, want in cases]

    jvm_only = df.select(normalize_text_column(F.col("t"), form=None).alias("n"))
    plan = jvm_only._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan

    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown unicode form"):
        df.select(normalize_text_column(F.col("t"), form="NFX"))


def test_mrr_at_k(spark):
    from letsearch_spark.operators.evaluate import mrr_at_k

    exact = spark.createDataFrame(
        [(0, 10, 1), (0, 11, 2), (1, 20, 1), (2, 30, 1)],
        "query_id long, _key long, rank int",
    )
    approx = spark.createDataFrame(
        # q0: first hit at approx rank 2; q1: hit at rank 1; q2: no hit
        [(0, 99, 1), (0, 11, 2), (1, 20, 1), (2, 98, 1)],
        "query_id long, _key long, rank int",
    )
    got = {
        r["query_id"]: (r["first_hit_rank"], r["rr"])
        for r in mrr_at_k(approx, exact, k=3).collect()
    }
    assert got == {0: (2, 0.5), 1: (1, 1.0), 2: (None, 0.0)}


def test_bm25_matches_python_twin_randomized(spark):
    """Randomized equivalence over messy corpora: random tokens
    (letters, digits, punctuation, unicode, empties, nulls), random
    queries -- Spark BM25 must match the transparent single-process
    scorer on candidate sets AND scores every trial."""
    import math
    import random
    import re

    from letsearch_spark.operators.bm25 import bm25_scores, tokenize_query

    vocab = [
        "alpha", "beta", "Gamma!", "d4ta", "x-y", "λambda", "連結", "42",
        "mixedCASE", "dot.sep", "u_score", "em—dash",
    ]
    rng = random.Random(11)

    def toks(s):
        return [t for t in re.sub("[^a-z0-9]+", " ", s.lower()).split() if t]

    for trial in range(6):
        n_docs = rng.randint(1, 40)
        rows = []
        for i in range(n_docs):
            if rng.random() < 0.1:
                rows.append((i, rng.choice([None, "", "!!!"])))
            else:
                rows.append(
                    (i, " ".join(rng.choices(vocab, k=rng.randint(1, 30))))
                )
        query = " ".join(rng.choices(vocab, k=rng.randint(1, 4)))
        terms = tokenize_query(query)
        corpus = {i: toks(t) for i, t in rows if t and toks(t)}
        if not corpus or not terms:
            continue
        n, avgdl = len(corpus), sum(map(len, corpus.values())) / len(corpus)
        k1, b = 1.2, 0.75
        expected = {}
        for i, ts in corpus.items():
            s = 0.0
            for term in terms:
                tf = ts.count(term)
                if not tf:
                    continue
                df_ = sum(term in v for v in corpus.values())
                idf = math.log(1.0 + (n - df_ + 0.5) / (df_ + 0.5))
                s += idf * (
                    tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(ts) / avgdl))
                )
            if s:
                expected[i] = s

        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: r["bm25"] for r in bm25_scores(df, query).collect()}
        assert set(got) == set(expected), f"trial {trial}"
        for i in expected:
            assert abs(got[i] - expected[i]) < 1e-12, (trial, i)


def test_ndcg_at_k(spark):
    import math

    from letsearch_spark.operators.evaluate import ndcg_at_k

    exact = spark.createDataFrame(
        [(0, 10, 1), (0, 11, 2), (1, 20, 1), (2, 30, 1)],
        "query_id long, _key long, rank int",
    )
    approx = spark.createDataFrame(
        # q0: perfect; q1: hit demoted to rank 3; q2: no hits
        [(0, 10, 1), (0, 11, 2), (1, 99, 1), (1, 98, 2), (1, 20, 3), (2, 98, 1)],
        "query_id long, _key long, rank int",
    )
    got = {
        r["query_id"]: (r["dcg"], r["idcg"], r["ndcg"])
        for r in ndcg_at_k(approx, exact, k=3).collect()
    }
    ideal2 = 1 / math.log2(2) + 1 / math.log2(3)
    assert got[0] == (ideal2, ideal2, 1.0)
    assert got[1][0] == 1 / math.log2(4) and got[1][1] == 1.0
    assert got[1][2] == 1 / math.log2(4)
    assert got[2] == (0.0, 1.0, 0.0)


def test_ndcg_graded_relevance_differs_from_binary(spark):
    """Graded gains change the verdict where binary can't see it: an
    approx ranking that returns the whole exact set but puts the
    low-gain hit first is perfect under binary NDCG and penalized under
    graded. Both match hand-computed values."""
    import math

    from letsearch_spark.operators.evaluate import ndcg_at_k

    exact = spark.createDataFrame(
        [(0, 10, 1, 3.0), (0, 11, 2, 1.0)],
        "query_id long, _key long, rank int, rel double",
    )
    # low-gain key 11 ranked above high-gain key 10
    approx = spark.createDataFrame(
        [(0, 11, 1), (0, 10, 2)], "query_id long, _key long, rank int"
    )
    binary = ndcg_at_k(approx, exact, k=3).collect()[0]
    assert binary["ndcg"] == 1.0  # binary: full set retrieved -> perfect
    graded = ndcg_at_k(
        approx, exact, k=3, relevance_col="rel"
    ).collect()[0]
    dcg = 1.0 / math.log2(2) + 3.0 / math.log2(3)
    idcg = 3.0 / math.log2(2) + 1.0 / math.log2(3)
    assert abs(graded["dcg"] - dcg) < 1e-12
    assert abs(graded["idcg"] - idcg) < 1e-12
    assert abs(graded["ndcg"] - dcg / idcg) < 1e-12
    assert graded["ndcg"] < 1.0


def test_ndcg_all_zero_gains_is_null_not_nan(spark):
    """A query whose graded gains are all zero has undefined NDCG: the
    row must carry NULL (skipped by aggregates), never NaN (which would
    poison every downstream mean)."""
    from pyspark.sql import functions as F

    from letsearch_spark.operators.evaluate import ndcg_at_k

    exact = spark.createDataFrame(
        [(0, 10, 1, 0.0), (0, 11, 2, 0.0), (1, 20, 1, 2.0)],
        "query_id long, _key long, rank int, rel double",
    )
    approx = spark.createDataFrame(
        [(0, 10, 1), (1, 20, 1)], "query_id long, _key long, rank int"
    )
    out = ndcg_at_k(approx, exact, k=3, relevance_col="rel")
    got = {r["query_id"]: r["ndcg"] for r in out.collect()}
    assert got[0] is None and got[1] == 1.0
    mean = out.agg(F.avg("ndcg")).collect()[0][0]
    assert mean == 1.0  # NULL skipped, not NaN-propagated


# ------------------------------------------- incremental minhash dedup


def test_incremental_minhash_cross_batch_dup(spark):
    """A later batch re-ingesting near-identical content must be flagged
    against the persisted signature store (first seen wins), without
    re-shingling the whole corpus."""
    from letsearch_spark.operators.dedup import incremental_minhash_dedup

    b1 = spark.createDataFrame(
        [(0, "aaa bbb ccc ddd eee fff ggg"), (1, "zzz yyy xxx www vvv uuu ttt")],
        "doc_id long, text string",
    )
    r1 = incremental_minhash_dedup(b1, None, None, "doc_id", "text")
    k1 = {r["doc_id"]: (r["keep"], r["dup_of"]) for r in r1["keep"].collect()}
    assert k1 == {0: (True, None), 1: (True, None)}

    b2 = spark.createDataFrame(
        [
            (10, "aaa bbb ccc ddd eee fff ggg"),  # exact repeat of 0
            (11, "completely different words appear here now"),
        ],
        "doc_id long, text string",
    )
    r2 = incremental_minhash_dedup(b2, r1["bands"], b1, "doc_id", "text")
    k2 = {r["doc_id"]: (r["keep"], r["dup_of"]) for r in r2["keep"].collect()}
    assert k2 == {10: (False, 0), 11: (True, None)}


@pytest.mark.deep  # auditor tier (pytest.ini): incremental-vs-batch equivalence; the foreachBatch behavior test stays default
def test_incremental_minhash_matches_batch(spark, sf_dir):
    """Two batches through the incremental path == one batch
    minhash_lsh_pairs run over the union, under the shared
    drop-if-any-lower-id-duplicate rule."""
    import os as _os

    from letsearch_spark.operators.dedup import (
        incremental_minhash_dedup,
        minhash_lsh_pairs,
    )

    docs = spark.read.parquet(_os.path.join(sf_dir, "documents.parquet")).select(
        "doc_id", "text"
    )
    b1 = docs.where(F.col("doc_id") < 250)
    b2 = docs.where(F.col("doc_id") >= 250)

    r1 = incremental_minhash_dedup(b1, None, None, "doc_id", "text")
    r2 = incremental_minhash_dedup(b2, r1["bands"], b1, "doc_id", "text")
    inc = {
        r["doc_id"]: (r["keep"], r["dup_of"])
        for r in r1["keep"].unionByName(r2["keep"]).collect()
    }

    pairs = minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.5).collect()
    assert pairs, "fixture must contain near-dup pairs for this test to bite"
    best = {}
    for p in pairs:  # id_a < id_b => id_b is the duplicate
        cur = best.get(p["id_b"])
        best[p["id_b"]] = min(cur, p["id_a"]) if cur is not None else p["id_a"]
    expected = {
        r["doc_id"]: (r["doc_id"] not in best, best.get(r["doc_id"]))
        for r in docs.select("doc_id").collect()
    }
    assert inc == expected


def test_incremental_minhash_strict_missing_corpus(spark):
    """Stored ids that collide but cannot be resolved in corpus_docs
    must raise (silently treating them as non-duplicates would
    under-dedup), and strict=False degrades to exactly that documented
    lenient behavior."""
    import pytest as _pytest

    from letsearch_spark.operators.dedup import (
        incremental_minhash_dedup,
        minhash_band_table,
    )

    b1 = spark.createDataFrame(
        [(0, "aaa bbb ccc ddd eee fff ggg")], "doc_id long, text string"
    )
    store = minhash_band_table(b1, "doc_id", "text")
    b2 = spark.createDataFrame(
        [(10, "aaa bbb ccc ddd eee fff ggg")], "doc_id long, text string"
    )
    empty_corpus = b1.where(F.lit(False))
    with _pytest.raises(ValueError, match="missing from corpus_docs"):
        incremental_minhash_dedup(b2, store, empty_corpus, "doc_id", "text")
    with _pytest.raises(ValueError, match="corpus_docs is None"):
        incremental_minhash_dedup(b2, store, None, "doc_id", "text")
    lenient = incremental_minhash_dedup(
        b2, store, empty_corpus, "doc_id", "text", strict=False
    )
    got = {r["doc_id"]: r["keep"] for r in lenient["keep"].collect()}
    assert got == {10: True}


def test_incremental_embedding_dedup_cross_batch(spark):
    """The embedding sibling of the incremental MinHash path: a later
    batch whose vector is near-identical to a stored one is flagged via
    the persisted bucket table + exact-cosine verify."""
    from letsearch_spark.operators.dedup import incremental_embedding_dedup

    b1 = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    r1 = incremental_embedding_dedup(
        b1, None, None, "vec_id", "embedding", threshold=0.95
    )
    assert {r["vec_id"]: r["keep"] for r in r1["keep"].collect()} == {
        0: True,
        1: True,
    }
    b2 = spark.createDataFrame(
        [(10, [0.999, 0.001, 0.0, 0.0]), (11, [0.0, 0.0, 1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    r2 = incremental_embedding_dedup(
        b2, r1["buckets"], b1, "vec_id", "embedding", threshold=0.95
    )
    got = {r["vec_id"]: (r["keep"], r["dup_of"]) for r in r2["keep"].collect()}
    assert got == {10: (False, 0), 11: (True, None)}


def test_incremental_embedding_matches_batch(spark, sf_dir):
    """Two batches through incremental_embedding_dedup == one
    embedding_cosine_pairs(method='lsh') run over the union, under the
    shared drop-if-any-lower-id-pair rule (same planes, same buckets)."""
    import os as _os

    from letsearch_spark.operators.dedup import (
        embedding_cosine_pairs,
        incremental_embedding_dedup,
    )

    emb = spark.read.parquet(_os.path.join(sf_dir, "embeddings.parquet")).select(
        "vec_id", "embedding"
    )
    # plant near-dups across the batch split so the cross-store join bites
    clones = emb.where(F.col("vec_id").isin(0, 3, 7)).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    allv = emb.union(clones)
    b1 = allv.where(F.col("vec_id") < 250)
    b2 = allv.where(F.col("vec_id") >= 250)

    thr = 0.98
    r1 = incremental_embedding_dedup(
        b1, None, None, "vec_id", "embedding", threshold=thr
    )
    r2 = incremental_embedding_dedup(
        b2, r1["buckets"], b1, "vec_id", "embedding", threshold=thr
    )
    inc = {
        r["vec_id"]: (r["keep"], r["dup_of"])
        for r in r1["keep"].unionByName(r2["keep"]).collect()
    }

    pairs = embedding_cosine_pairs(
        allv, "vec_id", "embedding", threshold=thr, method="lsh"
    ).collect()
    assert any(p["id_b"] >= 100000 for p in pairs), "planted dups must pair"
    best = {}
    for p in pairs:
        cur = best.get(p["id_b"])
        best[p["id_b"]] = min(cur, p["id_a"]) if cur is not None else p["id_a"]
    expected = {
        r["vec_id"]: (r["vec_id"] not in best, best.get(r["vec_id"]))
        for r in allv.select("vec_id").collect()
    }
    assert inc == expected
    assert not inc[100000][0] and not inc[100003][0] and not inc[100007][0]


def test_incremental_dedup_empty_batch_and_knob_guards(spark):
    """Empty micro-batches must produce empty outputs (not a dim-inference
    crash), and a store built with different banding/bit knobs must be
    rejected instead of silently never colliding."""
    import pytest as _pytest

    from letsearch_spark.operators.dedup import (
        embedding_bucket_table,
        incremental_embedding_dedup,
        incremental_minhash_dedup,
        minhash_band_table,
    )

    empty_v = spark.createDataFrame([], "vec_id long, embedding array<double>")
    r = incremental_embedding_dedup(empty_v, None, None, "vec_id", "embedding")
    assert r["keep"].count() == 0 and r["buckets"].count() == 0
    r["release"]()
    with _pytest.raises(ValueError, match="empty frame"):
        embedding_bucket_table(empty_v, "vec_id", "embedding")

    empty_d = spark.createDataFrame([], "doc_id long, text string")
    some = spark.createDataFrame(
        [(0, "aaa bbb ccc ddd eee")], "doc_id long, text string"
    )
    r2 = incremental_minhash_dedup(empty_d, None, None, "doc_id", "text")
    assert r2["keep"].count() == 0
    r2["release"]()

    # knob-mismatch guards
    store16 = minhash_band_table(some, "doc_id", "text", num_perms=16)
    with _pytest.raises(ValueError, match="different banding knobs"):
        incremental_minhash_dedup(
            some, store16, some, "doc_id", "text", num_perms=8
        )
    vecs = spark.createDataFrame(
        [(0, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    store_wide = embedding_bucket_table(vecs, "vec_id", "embedding", lsh_bits=12)
    # force a high bucket id so the bit-width mismatch is detectable
    from pyspark.sql import functions as _F

    store_wide = store_wide.withColumn(
        "bucket", _F.col("bucket") + _F.lit(1 << 10)
    )
    with _pytest.raises(ValueError, match="more lsh_bits"):
        incremental_embedding_dedup(
            vecs, store_wide, vecs, "vec_id", "embedding", lsh_bits=8
        )


# ------------------------------------------------------------ scrub PII


def test_scrub_text_ip_and_phone(spark):
    """New scrub classes: dotted-quad IPs and phone-shaped numbers get
    placeholder tokens; order protects URLs/e-mails from partial
    matches; counts audit the raw text."""
    from letsearch_spark.functions.text import scrub_counts, scrub_text

    rows = [
        (1, "server at 192.168.0.1 failed"),
        (2, "call +1 (555) 123-4567 or 555-123-4567 now"),
        (3, "see https://ex.com/10.0.0.1/x and bob@ex.org"),
        (4, "clean text no pii"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    cols = scrub_counts(F.col("text"))
    out = {
        r["id"]: r
        for r in df.select(
            "id",
            scrub_text(F.col("text")).alias("scrubbed"),
            cols[0].alias("n_urls"),
            cols[1].alias("n_emails"),
            cols[2].alias("n_ips"),
            cols[3].alias("n_phones"),
        ).collect()
    }
    assert out[1]["scrubbed"] == "server at <IP> failed"
    assert out[1]["n_ips"] == 1 and out[1]["n_phones"] == 0
    assert out[2]["scrubbed"] == "call <PHONE> or <PHONE> now"
    assert out[2]["n_phones"] == 2
    # the URL eats its embedded dotted quad before the IP pass runs,
    # but the raw-text audit still counts it
    assert out[3]["scrubbed"] == "see <URL> and <EMAIL>"
    assert out[3]["n_urls"] == 1 and out[3]["n_emails"] == 1
    assert out[3]["n_ips"] == 1
    assert out[4]["scrubbed"] == "clean text no pii"
    assert (
        out[4]["n_urls"] == out[4]["n_emails"] == out[4]["n_ips"]
        == out[4]["n_phones"] == 0
    )


# ------------------------------------------------------------ quality classifier


def _clf_corpora(spark):
    pos_rows = [
        (i, "the report presents careful analysis of the measured results " + f"section {i}")
        for i in range(12)
    ]
    neg_rows = [
        (i, "buy now click here free winner casino bonus offer " + f"deal {i}")
        for i in range(12)
    ]
    pos = spark.createDataFrame(pos_rows, "doc_id long, text string")
    neg = spark.createDataFrame(neg_rows, "doc_id long, text string")
    return pos_rows, neg_rows, pos, neg


import pytest as _pt


@_pt.fixture(scope="module")
def clf_model256(spark):
    """One shared 256-bucket fit (suite-latency: each full-batch GD
    iteration is ~2 Spark actions; separates + filter_modes used to fit
    nearly identical models back to back)."""
    from letsearch_spark.operators.classifier import fit_quality_classifier

    _, _, pos, neg = _clf_corpora(spark)
    # 20 iterations: held-out separation and the loss<0.3 assertion hold
    # with 50x margin (loss[-1]=0.0063 measured); each extra iteration
    # is ~2 serialized Spark actions
    return fit_quality_classifier(pos, neg, num_buckets=256, iterations=20)


def test_quality_classifier_separates(spark, clf_model256):
    """Training separates curated-like from spam-like text: held-out
    variants score on the right side of 0.5 and the training loss
    decreases."""
    from letsearch_spark.operators.classifier import score_quality

    model = clf_model256
    assert model.train_loss[0] > model.train_loss[-1]
    assert model.train_loss[-1] < 0.3

    held = spark.createDataFrame(
        [
            (1, "careful analysis of the measured report results"),
            (2, "free casino bonus click now winner"),
            (3, ""),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["quality_prob"]
        for r in score_quality(held, model).collect()
    }
    assert got[1] > 0.5 > got[2]
    # empty doc scores the prior sigmoid(bias)
    import math

    assert abs(got[3] - 1.0 / (1.0 + math.exp(-model.bias))) < 1e-12


@pytest.mark.deep  # auditor tier (pytest.ini): arithmetic twin replay; quality_classifier_keep is oracle-hash-checked each round
def test_quality_classifier_matches_numpy_twin(spark):
    """The distributed full-batch GD equals an independent numpy twin
    of the same arithmetic (features, sigmoid, gradient, L2, lr) to
    float tolerance."""
    import hashlib
    import math
    import re

    import numpy as np

    from letsearch_spark.operators.classifier import (
        fit_quality_classifier,
        score_quality,
    )

    pos_rows, neg_rows, pos, neg = _clf_corpora(spark)
    B, ITERS, LR, MOM, L2 = 64, 15, 10.0, 0.9, 1e-6
    model = fit_quality_classifier(
        pos, neg, num_buckets=B, iterations=ITERS, lr=LR, momentum=MOM, l2=L2
    )

    def md5_60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    def feats(text):
        w = [t for t in re.sub("[^a-z0-9]+", " ", text.lower()).split() if t]
        grams = w + [f"{w[i]} {w[i+1]}" for i in range(len(w) - 1)]
        out = {}
        for g in grams:
            b = md5_60(f"{g}#dsir42") % B
            out[b] = out.get(b, 0) + 1
        tot = sum(out.values())
        return {b: c / tot for b, c in out.items()}

    docs = [(feats(t), 1.0) for _, t in pos_rows] + [
        (feats(t), 0.0) for _, t in neg_rows
    ]
    X = np.zeros((len(docs), B))
    y = np.array([lab for _, lab in docs])
    for i, (f, _) in enumerate(docs):
        for b, v in f.items():
            X[i, b] = v
    w = np.zeros(B)
    bias = 0.0
    vw = np.zeros(B)
    vb = 0.0
    for _ in range(ITERS):
        p = 1.0 / (1.0 + np.exp(-(X @ w + bias)))
        r = p - y
        grad = X.T @ r / len(docs) + L2 * w
        vw = MOM * vw + grad
        w -= LR * vw
        vb = MOM * vb + r.sum() / len(docs)
        bias -= LR * vb

    assert abs(model.bias - bias) < 1e-9
    for b, wv in model.weights.items():
        assert abs(wv - w[b]) < 1e-9, (b, wv, w[b])

    held = spark.createDataFrame(
        [(7, "careful free analysis casino")], "doc_id long, text string"
    )
    got = score_quality(held, model).collect()[0]["quality_prob"]
    f = feats("careful free analysis casino")
    z = sum(w[b] * v for b, v in f.items()) + bias
    assert abs(got - 1.0 / (1.0 + math.exp(-z))) < 1e-9


def test_quality_classifier_filter_modes(spark, clf_model256):
    """threshold mode keeps exactly score>t; pareto mode reproduces the
    md5-uniform Pareto rule and is repartition-stable."""
    import hashlib

    import pytest

    from letsearch_spark.operators.classifier import (
        fit_quality_classifier,
        quality_classifier_filter,
        score_quality,
    )

    model = clf_model256
    mixed = spark.createDataFrame(
        [
            (i, "careful measured analysis of results" if i % 2 else "casino bonus click free winner now")
            for i in range(40)
        ],
        "doc_id long, text string",
    )
    scores = {
        r["doc_id"]: r["quality_prob"] for r in score_quality(mixed, model).collect()
    }

    kept_t = {
        r["doc_id"]
        for r in quality_classifier_filter(
            mixed, model, mode="threshold", threshold=0.5
        ).collect()
    }
    assert kept_t == {i for i, s in scores.items() if s > 0.5}

    def md5_60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    BK = 1_000_000
    alpha = 9.0
    expected = set()
    for i, s in scores.items():
        u = (md5_60(f"{i}#42") % BK + 0.5) / BK
        pareto = (1.0 - u) ** (-1.0 / alpha) - 1.0
        if s > 1.0 - pareto:
            expected.add(i)
    kept_p = {
        r["doc_id"]
        for r in quality_classifier_filter(mixed, model, mode="pareto").collect()
    }
    assert kept_p == expected
    # the Pareto(9) draw drops some high scorers (P[x < 1-s]) and
    # admits some low scorers -- but curated docs must survive at a
    # higher rate than spam, and determinism holds under repartition
    curated_rate = len([i for i in kept_p if i % 2]) / 20
    spam_rate = len([i for i in kept_p if not i % 2]) / 20
    assert curated_rate > 0.5 > spam_rate
    kept_p2 = {
        r["doc_id"]
        for r in quality_classifier_filter(
            mixed.repartition(11), model, mode="pareto"
        ).collect()
    }
    assert kept_p2 == kept_p

    with pytest.raises(ValueError, match="mode"):
        quality_classifier_filter(mixed, model, mode="nope")


def test_quality_classifier_raises(spark):
    import pytest

    from letsearch_spark.operators.classifier import fit_quality_classifier

    _, _, pos, neg = _clf_corpora(spark)
    with pytest.raises(ValueError, match="iterations"):
        fit_quality_classifier(pos, neg, iterations=0)
    empty = spark.createDataFrame([], "doc_id long, text string")
    with pytest.raises(ValueError, match="no training documents"):
        fit_quality_classifier(empty, empty, num_buckets=16, iterations=2)


# ------------------------------------------------------------ ngram span dedup


def _ngram_dedup_twin(rows, width, max_occurrences):
    """Independent Python implementation of the span-dedup semantics:
    W-grams (exact word windows) in > max_occurrences docs are hot;
    covered positions are stripped everywhere except the min-key doc."""
    docs = {k: (t.split() if t is not None else None) for k, t in rows}
    gram_docs = {}
    for k, ws in docs.items():
        if not ws:
            continue
        for p in range(len(ws) - width + 1):
            gram_docs.setdefault(tuple(ws[p : p + width]), set()).add(k)
    hot = {
        g: min(ks) for g, ks in gram_docs.items() if len(ks) > max_occurrences
    }
    out = {}
    for k, ws in docs.items():
        if ws is None:
            continue
        covered = set()
        for p in range(len(ws) - width + 1 if ws else 0):
            keeper = hot.get(tuple(ws[p : p + width]))
            if keeper is not None and k != keeper:
                covered.update(range(p, p + width))
        kept = [w for i, w in enumerate(ws) if i not in covered]
        out[k] = (" ".join(kept), len(ws), len(ws) - len(kept))
    return out


def test_remove_duplicate_ngrams_matches_twin(spark):
    from letsearch_spark.operators.dedup import remove_duplicate_ngrams

    boiler = "this content is provided as is without warranty of any kind"
    rows = [
        (1, f"alpha beta {boiler} gamma delta"),
        (2, f"epsilon {boiler} zeta"),
        (3, f"unique words only here nothing shared at all {boiler}"),
        (4, "short doc"),
        (5, ""),
        (6, None),
        (7, "this content is provided as is"),  # shorter than width: safe
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    W, M = 8, 1
    got = {
        r["doc_id"]: (r["text"], r["n_words"], r["n_removed"])
        for r in remove_duplicate_ngrams(df, "doc_id", "text", width=W).collect()
    }
    want = _ngram_dedup_twin(rows, W, M)
    assert got == want
    # the boilerplate survived only in doc 1 (lowest key)
    assert boiler in got[1][0]
    assert boiler not in got[2][0] and boiler not in got[3][0]
    assert got[7][2] == 0  # sub-width doc untouched
    assert got[5] == ("", 0, 0)  # empty doc survives
    assert 6 not in got  # null text dropped, like line dedup


def test_remove_duplicate_ngrams_stable_and_validated(spark, sf_dir):
    import pytest

    from letsearch_spark.operators.dedup import remove_duplicate_ngrams

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(150)
    a = sorted(
        (r["doc_id"], r["text"], r["n_removed"])
        for r in remove_duplicate_ngrams(docs, "doc_id", "text", width=6).collect()
    )
    b = sorted(
        (r["doc_id"], r["text"], r["n_removed"])
        for r in remove_duplicate_ngrams(
            docs.repartition(13), "doc_id", "text", width=6
        ).collect()
    )
    assert a == b
    total_words = sum(r[2] for r in a)
    assert total_words >= 0
    with pytest.raises(ValueError, match="width"):
        remove_duplicate_ngrams(docs, "doc_id", "text", width=1)


# ------------------------------------------------------------ kneser-ney


def test_perplexity_kneser_ney_matches_twin(spark):
    """Interpolated KN bigram scoring equals an independent Python twin
    of the full estimator (discounted bigram + continuation backoff,
    add-one continuation floor, unseen-prefix backoff)."""
    import math
    import re

    import pytest

    from letsearch_spark.operators.ngram_lm import perplexity, train_ngram_lm

    corpus_rows = [
        (0, "the cat sat on the mat"),
        (1, "the cat ate the fish"),
        (2, "a dog sat on a log"),
        (3, "san francisco san francisco san francisco"),
    ]
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    lm = train_ngram_lm(corpus, n=2)

    test_rows = [
        (10, "the cat sat on a mat"),
        (11, "francisco the unseenword dog"),
        (12, "x"),  # too short for a bigram -> NULL ppl
    ]
    docs = spark.createDataFrame(test_rows, "doc_id long, text string")
    D = 0.75
    got = {
        r["doc_id"]: (r["n_grams"], r["ppl"])
        for r in perplexity(docs, lm, smoothing="kneser_ney", discount=D).collect()
    }

    # twin
    def toks(t):
        return [w for w in re.sub("[^a-z0-9]+", " ", t.lower()).split() if w]

    big = {}
    for _, t in corpus_rows:
        ws = toks(t)
        for a, b in zip(ws, ws[1:]):
            big[(a, b)] = big.get((a, b), 0) + 1
    c1, n1_left, n1_right = {}, {}, {}
    for (a, b), c in big.items():
        c1[a] = c1.get(a, 0) + c
        n1_left[a] = n1_left.get(a, 0) + 1
        n1_right[b] = n1_right.get(b, 0) + 1
    T, V = len(big), len(n1_right)

    def pkn(a, b):
        pc = (n1_right.get(b, 0) + 1.0) / (T + V + 1)
        if a not in c1:
            return pc
        return max(big.get((a, b), 0) - D, 0.0) / c1[a] + D * n1_left[a] / c1[a] * pc

    for k, t in test_rows:
        ws = toks(t)
        lps = [math.log(pkn(a, b)) for a, b in zip(ws, ws[1:])]
        if not lps:
            assert got[k] == (0, None)
        else:
            want = round(math.exp(-sum(lps) / len(lps)), 6)
            assert got[k][0] == len(lps)
            assert got[k][1] == pytest.approx(want, abs=1e-6)

    # the "san francisco" effect: under KN, 'francisco' is discounted
    # as a continuation (it only ever follows 'san'), so a doc using it
    # in a NOVEL context scores worse under KN than raw-frequency
    # smoothing would suggest -- pinned via pc ordering
    assert n1_right["francisco"] == 1 and big[("san", "francisco")] == 3
    assert pkn("the", "francisco") < pkn("the", "cat")

    with pytest.raises(ValueError, match="n=2"):
        perplexity(docs, lm, n=3, smoothing="kneser_ney")
    with pytest.raises(ValueError, match="discount"):
        perplexity(docs, lm, smoothing="kneser_ney", discount=1.5)
    with pytest.raises(ValueError, match="smoothing"):
        perplexity(docs, lm, smoothing="nope")


def test_perplexity_filter_kn_mode(spark):
    """perplexity_filter passes smoothing through: in-distribution docs
    survive a KN cut that drops out-of-distribution ones."""
    from letsearch_spark.operators.ngram_lm import (
        perplexity,
        perplexity_filter,
        train_ngram_lm,
    )

    corpus = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta") for i in range(10)],
        "doc_id long, text string",
    )
    lm = train_ngram_lm(corpus, n=2)
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "qq ww ee rr tt yy uu"),
        ],
        "doc_id long, text string",
    )
    scored = {
        r["doc_id"]: r["ppl"]
        for r in perplexity(docs, lm, smoothing="kneser_ney").collect()
    }
    assert scored[1] < scored[2]
    cut = (scored[1] + scored[2]) / 2
    kept = {
        r["doc_id"]
        for r in perplexity_filter(
            docs, lm, max_ppl=cut, smoothing="kneser_ney"
        ).collect()
    }
    assert kept == {1}


def test_mixture_with_epochs_upsamples(spark):
    """True upsampling: a scarce domain gets floor(rate) full copies
    plus a hash-filtered partial; realized counts match the arithmetic;
    (key, epoch) is unique; determinism under repartition; the
    max_epochs clamp binds."""
    import pytest

    from letsearch_spark.operators.sample import mixture_with_epochs

    rows = [(i, "web") for i in range(8000)] + [
        (i + 100000, "wiki") for i in range(400)
    ]
    df = spark.createDataFrame(rows, "id long, domain string")
    # targets: web 5000 (rate .625), wiki 1000 (rate 2.5 -> 2 full + .5)
    out = mixture_with_epochs(
        df, "id", "domain", {"web": 5.0, "wiki": 1.0}, 6000
    ).cache()
    got = {
        r["d"]: r["n"]
        for r in out.groupBy(F.col("domain").alias("d"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert abs(got["web"] - 5000) < 300
    assert 400 * 2 <= got["wiki"] <= 400 * 3
    assert abs(got["wiki"] - 1000) < 120
    # epochs: wiki rows appear 2 or 3 times; (id, epoch) unique
    assert out.groupBy("id", "epoch").count().where("count > 1").count() == 0
    per_id = {
        r["id"]: r["n"]
        for r in out.where("domain = 'wiki'").groupBy("id").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    assert set(per_id.values()) <= {2, 3}
    assert len(per_id) == 400  # every wiki doc survives at >=2 epochs

    a = {(r["id"], r["epoch"]) for r in out.collect()}
    b = {
        (r["id"], r["epoch"])
        for r in mixture_with_epochs(
            df.repartition(11), "id", "domain", {"web": 5.0, "wiki": 1.0}, 6000
        ).collect()
    }
    assert a == b
    out.unpersist()

    # clamp: rate 10 with max_epochs=3 -> exactly 3 copies each
    clamped = mixture_with_epochs(
        df.where("domain = 'wiki'"), "id", "domain", {"wiki": 1.0},
        4000, max_epochs=3.0,
    )
    assert clamped.count() == 400 * 3

    with pytest.raises(ValueError, match="max_epochs"):
        mixture_with_epochs(df, "id", "domain", {"web": 1.0}, 10, max_epochs=0.5)
    with pytest.raises(ValueError, match="positive"):
        mixture_with_epochs(df, "id", "domain", {"web": 0.0}, 10)
    # unknown-only weights -> empty frame with the epoch column
    empty = mixture_with_epochs(df, "id", "domain", {"nope": 1.0}, 10)
    assert empty.count() == 0 and "epoch" in empty.columns


# ------------------------------------------------------------ winnowing


def _winnow_twin(rows, k, w):
    """Independent Python winnowing: k-gram hashes over word-hash
    tokens, min of each w-window, distinct values per doc."""
    import hashlib

    def h15(s):
        return hashlib.md5(s.encode()).hexdigest()[:15]

    out = {}
    for key, text in rows:
        ws = (text or "").split()
        whs = [h15(x) for x in ws]
        if len(whs) < k + w - 1:
            out[key] = set()
            continue
        grams = [
            int(h15(",".join(whs[i : i + k])), 16) for i in range(len(whs) - k + 1)
        ]
        out[key] = {min(grams[j : j + w]) for j in range(len(grams) - w + 1)}
    return out


def test_winnow_fingerprints_match_twin_and_guarantee(spark):
    from letsearch_spark.operators.dedup import winnow_fingerprints, winnow_pairs

    shared = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, f"intro one {shared} outro alpha"),
        (2, f"different beginning here {shared} and a different end"),
        (3, "completely unrelated words in this document entirely"),
        (4, "too short"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    K, W = 3, 4
    got = {}
    for r in winnow_fingerprints(df, "doc_id", "text", k=K, w=W).collect():
        got.setdefault(r["doc_id"], set()).add(r["fp"])
    want = _winnow_twin(rows, K, W)
    for key, fps in want.items():
        assert got.get(key, set()) == fps, key
    # density: ~1/w of full shingling
    n_words1 = len(rows[0][1].split())
    assert len(got[1]) < n_words1 - K + 1

    # the winnowing GUARANTEE: docs 1 and 2 share a >= w+k-1 word run
    # -> at least one common fingerprint -> a candidate pair
    pairs = {
        (r["doc_id_a"], r["doc_id_b"], r["n_shared"])
        for r in winnow_pairs(df, "doc_id", "text", k=K, w=W, min_shared=1).collect()
    }
    assert any(p[:2] == (1, 2) for p in pairs)
    assert not any(3 in p[:2] or 4 in p[:2] for p in pairs)

    import pytest

    with pytest.raises(ValueError, match="k must"):
        winnow_fingerprints(df, "doc_id", "text", k=0)
    with pytest.raises(ValueError, match="w must"):
        winnow_fingerprints(df, "doc_id", "text", w=0)


def test_winnow_pairs_hot_fp_guard(spark):
    """A fingerprint present in more than max_fp_docs documents is
    dropped before the self-join -- boilerplate cannot square."""
    from letsearch_spark.operators.dedup import winnow_pairs

    boiler = "standard footer text appears in every single document here"
    rows = [(i, f"unique{i} lead {boiler}") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    allp = winnow_pairs(df, "doc_id", "text", k=3, w=3, min_shared=1)
    none = winnow_pairs(
        df, "doc_id", "text", k=3, w=3, min_shared=1, max_fp_docs=5
    )
    assert allp.count() > 0
    assert none.count() == 0  # every shared fp is in all 30 docs -> hot


@pytest.mark.deep  # auditor tier (pytest.ini): cross-engine margin audit; the oracle gate itself fails on a margin collapse
def test_quality_classifier_keep_margin(spark, sf_dir):
    """The contract keep-list (q_quality_classifier_keep) is exact-hash
    compared against a pure-Python GD twin whose float sums run in a
    different order, so the keep decision must sit far from the Pareto
    cutoff: min |q - (1 - pareto)| >= 1e-6 (measured 8.2e-3 at sf0.001,
    1.8e-3 at sf0.01, 2.5e-4 at sf0.1 -- at least 9 orders above
    aggregation-order ulp drift)."""
    from pyspark.sql import functions as F

    from letsearch_spark.operators.classifier import (
        fit_quality_classifier,
        score_quality,
    )
    from letsearch_spark.operators.sample import _BUCKETS, hash_bucket
    from letsearch_spark.queries import _CLF_ITERS

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pos = docs.where(F.col("lang") == "en")
    neg = docs.where(F.col("lang") != "en")
    model = fit_quality_classifier(pos, neg, iterations=_CLF_ITERS)
    scored = score_quality(docs, model, out_col="q")
    u = (hash_bucket(F.col("doc_id"), seed=42) + F.lit(0.5)) / F.lit(
        float(_BUCKETS)
    )
    pareto = F.pow(F.lit(1.0) - u, F.lit(-1.0 / 9.0)) - F.lit(1.0)
    m = (
        scored.select(
            F.abs(F.col("q") - (F.lit(1.0) - pareto)).alias("margin")
        )
        .agg(F.min("margin"))
        .first()[0]
    )
    assert m >= 1e-6, f"keep margin {m} too small for cross-engine hashing"


def test_compression_stats_and_flags(spark):
    """Arrow-batched zlib sizes match driver-side zlib exactly;
    repetitive boilerplate compresses far below prose and fails the
    min_ratio gate; empty/null text fails."""
    import zlib

    from letsearch_spark.functions.text import (
        compression_flags,
        compression_stats,
    )

    prose = (
        "the quick brown fox jumps over the lazy dog while a careful "
        "reader notes every unusual word in this otherwise plain text"
    )
    rows = [(1, prose), (2, "spam spam spam " * 60), (3, ""), (4, None)]
    df = spark.createDataFrame(rows, "id long, text string")
    stats = compression_stats(F.col("text"))
    out = {
        r["id"]: r
        for r in df.select(
            "id", *[v.alias(k) for k, v in stats.items()]
        ).collect()
    }
    for i, t in rows:
        raw = len(t.encode("utf-8")) if isinstance(t, str) else 0
        assert out[i]["raw_bytes"] == raw
        if raw:
            assert out[i]["zlib_bytes"] == len(zlib.compress(t.encode(), 6))
        else:
            assert out[i]["zlib_bytes"] == 0
            assert out[i]["compression_ratio"] == 0.0
    assert out[2]["compression_ratio"] < 0.2 < out[1]["compression_ratio"]

    flags = compression_flags(F.col("text"), min_ratio=0.3)
    got = {
        r["id"]: r["p"]
        for r in df.select("id", flags["passes"].alias("p")).collect()
    }
    assert got == {1: True, 2: False, 3: False, 4: False}


@pytest.mark.deep  # auditor tier (pytest.ini): twin replay; fim_transform is oracle-replayed in the default rotated-contract tier
def test_fim_transform_matches_python_twin(spark):
    """FIM (r7): seeded selection + split points replayed with hashlib;
    PSM/SPM layouts, null/empty passthrough, rate bounds."""
    import hashlib

    import pytest as _pytest

    from letsearch_spark.functions.text import fim_transform

    rows = [
        (1, "abcdefghij"),
        (2, "short"),
        (3, ""),
        (4, None),
        (5, "the quick brown fox jumps over the lazy dog"),
        (6, "x"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def h60(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    def twin(did, text, seed, rate, mode):
        sel = h60(f"{did}#fimsel#{seed}") % 1_000_000 < int(rate * 1_000_000)
        if not sel or not text:
            return False, text
        n = len(text)
        u1 = h60(f"{did}#fim1#{seed}") % (n + 1)
        u2 = h60(f"{did}#fim2#{seed}") % (n + 1)
        lo, hi = min(u1, u2), max(u1, u2)
        p, m, s = text[:lo], text[lo:hi], text[hi:]
        if mode == "psm":
            return True, f"<fim_prefix>{p}<fim_suffix>{s}<fim_middle>{m}"
        return True, f"<fim_suffix>{s}<fim_prefix>{p}<fim_middle>{m}"

    for mode in ("psm", "spm"):
        for rate in (0.0, 0.5, 1.0):
            out = fim_transform(
                F.col("doc_id"), F.col("text"), seed=7, rate=rate, mode=mode
            )
            got = {
                r["doc_id"]: (r["applied"], r["out"])
                for r in df.select(
                    "doc_id",
                    out["applied"].alias("applied"),
                    out["text"].alias("out"),
                ).collect()
            }
            for did, text in rows:
                want = twin(did, text, 7, rate, mode)
                # null text: applied False (null-safe), text passes through
                w_applied = bool(want[0]) if text is not None else False
                g_applied = bool(got[did][0]) if got[did][0] is not None else False
                assert g_applied == w_applied, (mode, rate, did)
                assert got[did][1] == want[1], (mode, rate, did)

    # rate=1.0 rewrites every non-empty doc; rate=0.0 rewrites none
    out = fim_transform(F.col("doc_id"), F.col("text"), rate=1.0)
    applied = {
        r["doc_id"]: r["a"]
        for r in df.select("doc_id", out["applied"].alias("a")).collect()
    }
    assert applied[1] and applied[5] and applied[6]
    assert not applied[3]  # empty
    # different seeds decorrelate the selection/splits
    a = fim_transform(F.col("doc_id"), F.col("text"), seed=1, rate=1.0)
    b = fim_transform(F.col("doc_id"), F.col("text"), seed=2, rate=1.0)
    texts = df.select(
        a["text"].alias("ta"), b["text"].alias("tb"), "doc_id"
    ).where(F.col("doc_id") == 5).first()
    assert texts["ta"] != texts["tb"]

    with _pytest.raises(ValueError):
        fim_transform(F.col("doc_id"), F.col("text"), mode="pms")
    with _pytest.raises(ValueError):
        fim_transform(F.col("doc_id"), F.col("text"), rate=1.5)


def test_url_quality_flags(spark):
    """URL-level page filter (functions/text.py url_quality_flags, r8):
    each rule fires on its crafted URL and nothing else; www./port
    spellings cannot dodge the host blocklist; null/garbage URLs fail
    with no_host; the clean URL passes."""
    from letsearch_spark.functions.text import url_quality_flags

    rows = [
        (0, "https://WWW.Blocked.example.com/a/b"),
        (1, "https://012345678901.net/x"),
        (2, "https://ok.example.org" + "/p" * 14),
        (3, "not a url at all"),
        (4, "https://shop.example.net/item?session=9"),
        (5, "https://clean.example.org/articles/5"),
        (6, None),
        # review catch r8: userinfo/port spellings must not dodge the
        # host rules (url_host strips them)
        (7, "https://evil@blocked.example.com:8443/page"),
        (8, "https://a@012345678901.net/x"),
    ]
    df = spark.createDataFrame(rows, "id long, url string")
    out = {
        r["id"]: r["f"]
        for r in df.select(
            "id",
            url_quality_flags(
                F.col("url"),
                blocked_hosts=["blocked.example.com"],
                blocked_patterns=[r"[?&]session="],
            ).alias("f"),
        ).collect()
    }
    assert out[0]["host_blocked"] and not out[0]["passes"]
    assert out[1]["digit_host"] and not out[1]["passes"]
    assert out[2]["too_deep"] and not out[2]["passes"]
    assert out[3]["no_host"] and not out[3]["passes"]
    assert out[4]["pattern_hit"] and not out[4]["passes"]
    assert out[5]["passes"] and not any(
        out[5][k] for k in
        ("no_host", "host_blocked", "pattern_hit", "too_deep", "digit_host")
    )
    assert out[6]["no_host"] and not out[6]["passes"]
    assert out[7]["host_blocked"] and not out[7]["passes"]
    assert out[8]["digit_host"] and not out[8]["passes"]


def test_url_host_ipv6_brackets(spark):
    """ADVICE r8: bracketed IPv6 authorities -- host is the inner
    literal (brackets and port stripped), so blocklists and the
    digit_host ratio see '::1', not '[::1]'."""
    from letsearch_spark.functions.text import url_host

    cases = [
        ("https://[::1]:8080/x", "::1"),
        ("https://[::1]/x", "::1"),
        ("http://[2001:db8::ff00:42]:80/", "2001:db8::ff00:42"),
        ("http://user@[::1]:443/a", "::1"),
        ("https://plain.example.com:8443/a", "plain.example.com"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r[0] for r in df.select(url_host(F.col("url"))).collect()]
    assert got == [want for _, want in cases]


@pytest.mark.deep  # auditor tier (pytest.ini): twin replay; span_corruption is oracle-hash-checked each round (the oracle IS the twin)
def test_span_corruption_matches_python_twin(spark, sf_dir):
    """T5 span corruption (r9): the Catalyst rewrite equals the
    hashlib twin row-for-row on real documents AND whitespace edge
    cases; non-span text is preserved losslessly; seeds decorrelate."""
    import os

    from letsearch_spark.functions.text import (
        span_corruption,
        span_corruption_twin,
    )

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    edge = spark.createDataFrame(
        [
            (9001, "one"),
            (9002, "two  double  spaces "),
            (9003, " leading and trailing "),
            (9004, ""),
            (9005, None),
            (9006, "unicode 中文 mixed tokens here now and then more"),
        ],
        "doc_id long, text string",
    )
    both = docs.select("doc_id", "text").unionByName(edge)
    got = {
        r["doc_id"]: (r["applied"], r["input"], r["target"])
        for r in span_corruption(both).select(
            "doc_id", "applied", "input", "target"
        ).collect()
    }
    n_applied = 0
    for r in both.collect():
        want = span_corruption_twin(r["doc_id"], r["text"])
        assert got[r["doc_id"]] == want, r["doc_id"]
        if want[0]:
            n_applied += 1
            # reconstruction: target = ' '.join(sentinel_i + ' ' + body_i)
            # + ' ' + final sentinel, so between sentinel i and i+1 lies
            # EXACTLY ' ' + body_i + ' '; replacing each input sentinel
            # with its body must restore the document VERBATIM (r9
            # review catch: the first version had a vacuous escape
            # clause on a loop-leaked variable)
            import re as _re

            inp, tgt = want[1], want[2]
            parts = _re.split(r"<extra_id_(\d+)>", tgt)
            assert parts[0] == "" and parts[-1] == ""
            bodies = {}
            for k in range(1, len(parts) - 2, 2):
                seg = parts[k + 1]
                assert seg.startswith(" ") and seg.endswith(" "), r["doc_id"]
                bodies[int(parts[k])] = seg[1:-1]
            assert int(parts[-2]) == len(bodies)  # the closing sentinel
            out = inp
            for i, body in bodies.items():
                marker = f"<extra_id_{i}>"
                assert marker in out, r["doc_id"]
                out = out.replace(marker, body, 1)
            assert out == (r["text"] or ""), r["doc_id"]
    assert n_applied >= 500  # the whole documents table applies

    # seed decorrelation: different seeds pick different spans. Compared
    # driver-side over collected rows: a Spark join + filter on the two
    # span outputs makes CollapseProject inline the giant span
    # expressions into the join filter (the O(words^2) trap the operator
    # docstring documents) -- measured 79 s for the join-count vs ~6 s
    # for two collects of the same 500 rows. Same assertion either way.
    ia = {
        r["doc_id"]: r["input"]
        for r in span_corruption(docs, seed=1).select("doc_id", "input").collect()
    }
    ib = {
        r["doc_id"]: r["input"]
        for r in span_corruption(docs, seed=2).select("doc_id", "input").collect()
    }
    assert ia.keys() == ib.keys()
    diff = sum(1 for k in ia if ia[k] != ib[k])
    assert diff > 400

    # validation
    import pytest as _pytest
    with _pytest.raises(ValueError):
        span_corruption(docs, density=0.0)
    with _pytest.raises(ValueError):
        span_corruption(docs, mean_span=0)


@pytest.mark.deep  # auditor tier (pytest.ini): randomized twin equivalence sweep
def test_span_corruption_randomized_unicode_equivalence(spark):
    """One-job randomized sweep: 60 seeded adversarial texts (multi
    space, tabs/newlines inside 'words', emoji, RTL, CJK, combining
    marks, empty tokens from doubled spaces) -- Catalyst == twin
    exactly. Guards the engine-divergence classes that bit the regex
    modules (trailing-empty split semantics, unicode lengths)."""
    import random

    from letsearch_spark.functions.text import (
        span_corruption,
        span_corruption_twin,
    )

    rng = random.Random(99)
    atoms = [
        "word", "x", "中文", "🙂", "é", "שלום",
        "tab\tinside", "new\nline", "", "  ", "mixed123", "a'b",
    ]
    rows = []
    for i in range(60):
        k = rng.randint(1, 30)
        rows.append((i, " ".join(rng.choice(atoms) for _ in range(k))))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["applied"], r["input"], r["target"])
        for r in span_corruption(df, seed=7, density=0.3, mean_span=2)
        .select("doc_id", "applied", "input", "target")
        .collect()
    }
    for i, t in rows:
        assert got[i] == span_corruption_twin(
            i, t, seed=7, density=0.3, mean_span=2
        ), (i, t)


def test_span_corruption_min_words_floor(spark):
    """r9 third-review catch: the min_words knob had no coverage. Docs
    below the floor pass through (applied=false, input=text, null
    target) in BOTH engines -- including the split(' ') subtlety that
    '  ' counts 3 (empty) words; validation asserts min_words >= 1."""
    import pytest as _pytest

    from letsearch_spark.functions.text import (
        span_corruption,
        span_corruption_twin,
    )

    rows = [
        (1, "one two three"),          # 3 words: below floor of 5
        (2, "a b c d e f g h"),        # 8 words: above
        (3, "  "),                     # split(' ') -> 3 empty words
        (4, "x y"),                    # 2 words
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["applied"], r["input"], r["target"])
        for r in span_corruption(df, min_words=5)
        .select("doc_id", "applied", "input", "target")
        .collect()
    }
    for i, t in rows:
        assert got[i] == span_corruption_twin(i, t, min_words=5), (i, t)
    assert got[1] == (False, "one two three", None)
    assert got[2][0] is True
    assert got[3] == (False, "  ", None)  # 3 words < 5: pass-through
    with _pytest.raises(ValueError, match="min_words"):
        span_corruption(df, min_words=0)


def test_url_dedup_keep_list_and_hostless(spark):
    """url_dedup (r10): every crawl-variant spelling collapses to one
    canonical row with keep = min id; null/hostless URLs are excluded
    from the keep list (callers keep them unconditionally); the plan is
    one scan-side canonicalization + one groupBy -- no UDF."""
    from letsearch_spark.operators.dedup import url_dedup

    rows = [
        (1, "https://site.example.com/p/9?id=9"),
        (2, "https://site.example.com/p/9?id=9&utm_source=x"),
        (3, "HTTPS://SITE.EXAMPLE.COM:443/p/9?id=9"),
        (4, "https://site.example.com/p/9?id=9#frag"),
        (5, "https://www.site.example.com/p/9?id=9"),
        (6, "https://other.example.com/q"),
        (7, None),
        (8, "not a url"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    out = {r["url_canon"]: r for r in url_dedup(df, "doc_id", "url").collect()}
    assert set(out) == {
        "https://site.example.com/p/9?id=9",
        "https://other.example.com/q",
    }
    assert out["https://site.example.com/p/9?id=9"]["keep_id"] == 1
    assert out["https://site.example.com/p/9?id=9"]["n_copies"] == 5
    assert out["https://other.example.com/q"]["n_copies"] == 1

    plan = (
        url_dedup(df, "doc_id", "url")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert plan.count("Exchange") == 1, plan


def test_prep_url_dedup_stage(spark):
    """PrepConfig(url_dedup=...) (r10): recrawl variants drop to one
    keeper per canonical URL BEFORE content stages; hostless rows
    survive unconditionally; bad knobs raise."""
    import pytest

    from letsearch_spark.pipeline import PrepConfig, prepare_training_data

    rows = [
        (1, "https://a.com/x", "text one " * 5),
        (2, "https://a.com/x?utm_source=t", "text two " * 5),
        (3, "https://www.a.com/x", "text three " * 5),
        (4, "https://b.com/y", "text four " * 5),
        (5, None, "hostless five " * 5),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string, text string")
    base = dict(
        quality=None, line_dedup=None, fuzzy_dedup=None, split_weights=None
    )
    out, _l, audit = prepare_training_data(
        df, PrepConfig(url_dedup={"url_col": "url"}, **base)
    )
    kept = sorted(r["doc_id"] for r in out.collect())
    assert kept == [1, 4, 5]
    assert audit["url_dedup"] == 3

    with pytest.raises(ValueError, match="unknown url_dedup"):
        prepare_training_data(
            df, PrepConfig(url_dedup={"url_col": "url", "x": 1}, **base)
        )
    with pytest.raises(ValueError, match="needs 'url_col'"):
        prepare_training_data(df, PrepConfig(url_dedup={}, **base))


def test_ensure_min_parallelism_scales_up_only(spark, tmp_path):
    """The r10-optimization kernel-scan guard: an under-parallel frame
    (a 1-row-group local parquet scans as ONE partition) is round-robin
    repartitioned UP to the session's default parallelism with row
    values untouched; a frame already at or above the target passes
    through UNCHANGED (the no-op branch is the 100 TB shape: no shuffle
    is ever added on a well-split input)."""
    from letsearch_spark.session import ensure_min_parallelism

    p = str(tmp_path / "narrow.parquet")
    spark.range(0, 1000, 1, 1).withColumn(
        "v", F.col("id") * 3
    ).write.parquet(p)
    df = spark.read.parquet(p)
    assert df.rdd.getNumPartitions() == 1

    target = spark.sparkContext.defaultParallelism
    up = ensure_min_parallelism(df)
    assert up.rdd.getNumPartitions() == target
    assert "Exchange RoundRobinPartitioning" in up._jdf.queryExecution().executedPlan().toString()
    # row values (and the full row SET) are untouched
    assert sorted(r["v"] for r in up.collect()) == [3 * i for i in range(1000)]

    wide = df.repartition(target + 4)
    assert ensure_min_parallelism(wide) is wide  # literal no-op

    # explicit floor above the session default also honored
    assert (
        ensure_min_parallelism(df, min_partitions=2).rdd.getNumPartitions()
        == 2
    )

    # ADVICE r10: a frame with an upstream shuffle-producing operator
    # must pass through UNTOUCHED -- probing its partition count via
    # df.rdd would eagerly materialize the shuffle stages under AQE and
    # they would re-execute when the real query runs
    agg = df.groupBy((F.col("id") % 7).alias("k")).count()
    assert ensure_min_parallelism(agg) is agg
    joined = df.join(df.select(F.col("id")), "id")
    assert ensure_min_parallelism(joined) is joined


def test_vector_sql_fast_path_resolves_dotted_names(spark):
    """ADVICE r10: the str fast path must resolve 'meta.vec' as a
    nested-field reference (F.col semantics), not as a literal column
    named "meta.vec" -- per-segment backtick quoting."""
    from letsearch_spark.functions.vector import (
        cosine_similarity,
        dot_product,
        l2_norm,
    )

    df = spark.createDataFrame(
        [(1, ([3.0, 4.0],))], "id long, meta struct<vec: array<double>>"
    )
    row = df.select(
        dot_product("meta.vec", [1.0, 1.0]).alias("d"),
        l2_norm("meta.vec").alias("n"),
        cosine_similarity("meta.vec", [3.0, 4.0]).alias("c"),
    ).collect()[0]
    assert row["d"] == 7.0
    assert row["n"] == 5.0
    assert abs(row["c"] - 1.0) < 1e-12
