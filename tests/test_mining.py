"""Hard-negative mining (operators/mining.py).

The staged DuckDB oracle in test_rotated_contract.py covers the
end-to-end shape at sf0.001; these tests pin the semantics the oracle
can't see: scores equal to a single-process sequential-fold twin,
gold/self exclusion, the margin denoiser's direction and tie rule,
zero vectors, the training-pair assembly, and the plan shape
(broadcast joins only — the corpus is never shuffled).
"""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F


def _toy_frames(spark):
    """8-dim corpus engineered so query 0's nearest non-self neighbors
    are, in order: an exact duplicate of its positive (key 2, a false
    negative the margin filter must drop), then progressively farther
    vectors."""
    rng = np.random.RandomState(7)
    base = rng.normal(size=(30, 8))
    base[1] = base[0] * 0.9 + rng.normal(scale=0.01, size=8)  # positive
    base[2] = base[1] + rng.normal(scale=1e-4, size=8)  # near-dup of pos
    rows = [(int(i), [float(x) for x in base[i]]) for i in range(len(base))]
    emb = spark.createDataFrame(rows, "_key long, vector array<double>")
    pairs = spark.createDataFrame(
        [(0, rows[0][1], 1)], "query_id long, qvec array<double>, pos_key long"
    )
    return emb, pairs


def _fold_cosine(x, q):
    """Cosine with the engine's sequential double fold (acc from 0.0,
    one term at a time; 0.0 when a norm is 0), in plain Python."""
    dot = xx = qq = 0.0
    for a, b in zip(x, q):
        dot += float(a) * float(b)
        xx += float(a) * float(a)
        qq += float(b) * float(b)
    den = math.sqrt(xx) * math.sqrt(qq)
    return 0.0 if den == 0.0 else dot / den


def _numpy_mine(base, qid, qvec, pos_key, k, num_neg, margin):
    """Single-process reference: brute-force cosine, same stage order.
    Returns [(key, score)] in rank order."""
    sims = [_fold_cosine(x, qvec) for x in base]
    order = sorted(range(len(base)), key=lambda i: (-sims[i], i))
    order = [i for i in order if i != qid][:k]
    pos_score = sims[pos_key]
    out = [
        (i, sims[i])
        for i in order
        if i != pos_key and (margin is None or sims[i] <= pos_score - margin)
    ]
    return out[:num_neg]


def test_margin_drops_false_negative(spark):
    from letsearch_spark.operators.mining import mine_hard_negatives

    emb, pairs = _toy_frames(spark)
    no_margin = mine_hard_negatives(
        emb, pairs, k=10, num_negatives=5, margin=None
    )
    keys = [r.neg_key for r in no_margin.orderBy("neg_rank").collect()]
    assert keys[0] == 2  # the near-dup of the positive leads unfiltered

    denoised = mine_hard_negatives(
        emb, pairs, k=10, num_negatives=5, margin=0.05
    )
    dkeys = [r.neg_key for r in denoised.orderBy("neg_rank").collect()]
    assert 2 not in dkeys  # ...and the margin filter removes it
    assert 1 not in dkeys and 0 not in dkeys  # gold + self never served
    assert len(dkeys) <= 5
    # ranks are dense over the survivors
    ranks = [r.neg_rank for r in denoised.orderBy("neg_rank").collect()]
    assert ranks == list(range(1, len(ranks) + 1))


def test_matches_single_process_reference(spark):
    from letsearch_spark.operators.mining import mine_hard_negatives

    rng = np.random.RandomState(11)
    base = rng.normal(size=(40, 6))
    rows = [(int(i), [float(x) for x in base[i]]) for i in range(len(base))]
    emb = spark.createDataFrame(rows, "_key long, vector array<double>")
    prows = [(int(i), rows[i][1], int((i * 7 + 3) % 40)) for i in range(5)]
    pairs = spark.createDataFrame(
        prows, "query_id long, qvec array<double>, pos_key long"
    )
    got = mine_hard_negatives(emb, pairs, k=8, num_negatives=4, margin=0.02)
    got_map = {}
    for r in got.collect():
        got_map.setdefault(r.query_id, []).append((r.neg_rank, r.neg_key))
    for qid, qvec, pk in prows:
        want = _numpy_mine(base, qid, qvec, pk, k=8, num_neg=4, margin=0.02)
        have = [k for _, k in sorted(got_map.get(qid, []))]
        assert have == [k for k, _ in want], f"query {qid}: {have} != {want}"


def test_scores_match_single_process_twin(spark):
    """Keys, ranks AND scores (bit for bit) equal the sequential-fold
    twin: the kernel's candidate scores and the positive's margin score
    share one cosine fold."""
    from letsearch_spark.operators.mining import mine_hard_negatives

    rng = np.random.RandomState(23)
    base = rng.normal(size=(60, 8))
    rows = [(int(i), [float(x) for x in base[i]]) for i in range(len(base))]
    emb = spark.createDataFrame(rows, "_key long, vector array<double>")
    prows = [(int(i), rows[i][1], int(i + 10)) for i in range(6)]
    pairs = spark.createDataFrame(
        prows, "query_id long, qvec array<double>, pos_key long"
    )
    got = mine_hard_negatives(emb, pairs, k=12, num_negatives=6, margin=0.05)
    have = sorted(
        (r.query_id, r.neg_rank, r.neg_key, r.score.hex()) for r in got.collect()
    )
    want = sorted(
        (qid, rank, key, score.hex())
        for qid, qvec, pk in prows
        for rank, (key, score) in enumerate(
            _numpy_mine(base, qid, qvec, pk, k=12, num_neg=6, margin=0.05), 1
        )
    )
    assert have == want


def test_margin_zero_keeps_positive_ties(spark):
    """margin=0.0 drops only candidates MORE similar than the positive:
    a duplicate of the positive under another key ties it exactly and
    survives, with score == the positive's score bit for bit."""
    from letsearch_spark.operators.mining import mine_hard_negatives

    rng = np.random.RandomState(5)
    base = rng.normal(size=(20, 8))
    base[1] = base[0] + rng.normal(scale=0.3, size=8)  # the positive
    base[2] = base[1]  # key 2 duplicates the positive
    base[3] = base[1] * 0.5 + base[0] * 0.5  # more similar than key 1
    rows = [(int(i), [float(x) for x in base[i]]) for i in range(len(base))]
    emb = spark.createDataFrame(rows, "_key long, vector array<double>")
    pairs = spark.createDataFrame(
        [(0, rows[0][1], 1)], "query_id long, qvec array<double>, pos_key long"
    )
    pos_score = _fold_cosine(base[1], base[0])
    assert _fold_cosine(base[3], base[0]) > pos_score
    got = {
        r.neg_key: r.score
        for r in mine_hard_negatives(
            emb, pairs, k=10, num_negatives=10, margin=0.0
        ).collect()
    }
    assert got[2].hex() == pos_score.hex()
    assert 3 not in got and 1 not in got
    assert all(s <= pos_score for s in got.values())


def test_zero_vectors_score_zero(spark):
    """A zero corpus row and a zero positive score 0.0 (the
    cosine_similarity rule) instead of failing the margin filter's
    positive-score division under ANSI mode."""
    from letsearch_spark.operators.mining import mine_hard_negatives

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 1.0])],
        "_key long, vector array<float>",
    )
    pairs = spark.createDataFrame(
        [(0, [1.0, 0.0], 1)], "query_id long, qvec array<float>, pos_key long"
    )
    got = mine_hard_negatives(emb, pairs, k=3, num_negatives=3, margin=0.0)
    # pos_score is 0.0: key 3 (cos 0.707) is dropped, key 2 ties it
    assert [(r.neg_key, r.score) for r in got.orderBy("neg_rank").collect()] == [
        (2, 0.0)
    ]


def test_num_negatives_validation(spark):
    from letsearch_spark.operators.mining import mine_hard_negatives

    emb, pairs = _toy_frames(spark)
    with pytest.raises(ValueError, match="cannot exceed"):
        mine_hard_negatives(emb, pairs, k=5, num_negatives=6)
    with pytest.raises(ValueError, match="num_negatives"):
        mine_hard_negatives(emb, pairs, k=5, num_negatives=0)


def test_corpus_never_shuffled(spark):
    """Gold-exclusion and pos-score joins must broadcast the pairs side:
    no Exchange hashpartitioning of the corpus appears beyond knn_join's
    own candidate window."""
    from letsearch_spark.operators.mining import mine_hard_negatives

    emb, pairs = _toy_frames(spark)
    out = mine_hard_negatives(
        emb, pairs, k=10, num_negatives=5, margin=0.05
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    # the only hash exchanges allowed are the candidate-window ones keyed
    # by query_id (knn_join stage 2 + the final re-rank)
    import re

    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "query_id" in m.group(1), m.group(0)


def test_staged_entry_non_degenerate(spark, sf_dir):
    """The staged oracle comparison would pass trivially on empty==empty
    (the first draft of the entry did exactly that: a random positive
    puts every candidate above pos_score - margin). Pin that the
    NN-positive construction leaves real survivors at this SF."""
    from letsearch_spark.queries import QUERIES

    out = QUERIES["mine_hard_negatives"](spark, sf_dir).collect()
    assert len(out) >= 8
    assert {r.query_id for r in out} == set(range(8))


def test_build_training_pairs(spark):
    from letsearch_spark.operators.mining import (
        build_training_pairs,
        mine_hard_negatives,
    )

    emb, pairs = _toy_frames(spark)
    docs = spark.createDataFrame(
        [(int(i), f"doc-{i}") for i in range(30)], "_key long, text string"
    )
    negs = mine_hard_negatives(
        emb, pairs, k=10, num_negatives=3, margin=0.05
    )
    mined = {r.neg_rank: r.neg_key for r in negs.collect()}
    out = build_training_pairs(negs, docs, pairs).collect()
    assert len(out) == 1
    row = out[0]
    assert row.positive_text == "doc-1"
    assert row.negative_texts == [
        f"doc-{mined[r]}" for r in sorted(mined)
    ]


def test_build_training_pairs_empty_negatives(spark):
    """A query whose negatives were all denoised away still yields a row
    with an empty negatives list (left join + coalesce)."""
    from letsearch_spark.operators.mining import build_training_pairs

    spark_pairs = spark.createDataFrame(
        [(0, [1.0, 0.0], 1)], "query_id long, qvec array<double>, pos_key long"
    )
    docs = spark.createDataFrame([(1, "pos")], "_key long, text string")
    empty = spark.createDataFrame(
        [], "query_id long, neg_key long, score double, neg_rank long"
    )
    out = build_training_pairs(empty, docs, spark_pairs).collect()
    assert len(out) == 1
    assert out[0].positive_text == "pos"
    assert out[0].negative_texts == []


def test_multi_positive_pairs(spark):
    """A query with SEVERAL positives (multi-positive training sets):
    candidates must not duplicate, NO positive may be served as a
    negative (the round-5 draft excluded per-row, letting a sibling
    pair's positive through), and margin denoising measures against the
    least similar positive."""
    from letsearch_spark.operators.mining import (
        build_training_pairs,
        mine_hard_negatives,
    )

    emb, _ = _toy_frames(spark)
    rows = {r["_key"]: r["vector"] for r in emb.collect()}
    # two positives for query 0: key 1 (near-dup of the query, sim~1) and
    # key 5, re-engineered to moderate similarity so the margin bound
    # (min over positives) still leaves survivors below it
    q = np.array(rows[0])
    rng = np.random.RandomState(99)
    rows[5] = [
        float(x) for x in (q * 0.6 + rng.normal(scale=0.7, size=len(q)))
    ]
    emb = spark.createDataFrame(
        [(int(k), rows[k]) for k in sorted(rows)],
        "_key long, vector array<double>",
    )
    pairs = spark.createDataFrame(
        [(0, rows[0], 1), (0, rows[0], 5)],
        "query_id long, qvec array<double>, pos_key long",
    )
    negs = mine_hard_negatives(
        emb, pairs, k=10, num_negatives=8, margin=None
    ).collect()
    keys = [r.neg_key for r in sorted(negs, key=lambda r: r.neg_rank)]
    assert len(keys) == len(set(keys)), "duplicate negatives from pair fan-out"
    assert 1 not in keys and 5 not in keys, "a positive leaked as negative"
    assert [r.neg_rank for r in sorted(negs, key=lambda r: r.neg_rank)] == list(
        range(1, len(keys) + 1)
    ), "neg_rank must stay dense"

    # margin: exclusion bound is the LEAST similar positive (key 5 here),
    # so every survivor scores below key 5's similarity minus the margin
    X = np.array([rows[i] for i in sorted(rows)])
    sims = X @ q / (np.linalg.norm(X, axis=1) * np.linalg.norm(q))
    min_pos = min(sims[1], sims[5])
    denoised = mine_hard_negatives(
        emb, pairs, k=10, num_negatives=8, margin=0.05
    ).collect()
    assert denoised, "margin filter emptied the candidate list"
    for r in denoised:
        assert r.score <= min_pos - 0.05 + 1e-9

    # training rows: one per (query, positive), sharing the negatives
    docs = spark.createDataFrame(
        [(int(i), f"doc-{i}") for i in range(30)], "_key long, text string"
    )
    tp = build_training_pairs(
        spark.createDataFrame(denoised, "query_id long, neg_key long, score double, neg_rank long"),
        docs,
        pairs,
    ).collect()
    assert sorted(r.positive_text for r in tp) == ["doc-1", "doc-5"]
    assert tp[0].negative_texts == tp[1].negative_texts
