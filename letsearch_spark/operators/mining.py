"""Hard-negative mining for retrieval-model training data.

The reference engine serves top-k cosine search over a document corpus
(`vector_index.rs:128-152`, `collection_actor.rs:538-585`); a training
pipeline built on that same corpus needs the converse operation: for
each (query, positive) training pair, find the corpus entries that LOOK
like the positive but are not — hard negatives (Karpukhin et al. 2020,
DPR; Qu et al. 2021, RocketQA's denoised variant).

Spark-first shape, per stage:

1. **Candidates** — ``knn_join`` (operators/topk.py): each scan
   partition emits only its local top-k per query, a window reduces the
   (partitions x k) survivors. Candidates only cross the network; the
   all-pairs score matrix never materializes.
2. **Gold exclusion** — one broadcast hash join of the (query_id,
   pos_key) pairs against the candidate list; the positive itself is
   never served as a negative, whether or not it ranked in the top k.
3. **Margin denoising** (optional) — candidates scoring within
   ``margin`` of the positive are likely unlabeled positives (false
   negatives); drop them. The positive's score is computed EXACTLY with
   one more broadcast join (pairs against the corpus on ``pos_key``) so
   the filter does not depend on the positive surviving the top-k cut.
4. **Re-rank** — surviving candidates re-ranked per query by
   (score desc, key asc — FIXTURES.md §2 tie order) and cut to
   ``num_negatives``.

At 100 TB: the corpus is scanned once by ``knn_join``'s mapInPandas
kernel; the pairs table (training queries) is the small side of every
join and is broadcast. No shuffle touches the corpus rows themselves —
only (query, candidate, score) triples, bounded by |queries| x k per
scan partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from letsearch_spark.operators.topk import knn_join


def mine_hard_negatives(
    emb: DataFrame,
    pairs: DataFrame,
    k: int = 50,
    num_negatives: int = 5,
    margin: float | None = None,
    key_col: str = "_key",
    vec_col: str = "vector",
    query_key_col: str = "query_id",
    query_vec_col: str = "qvec",
    pos_key_col: str = "pos_key",
    exclude_self: bool = True,
) -> DataFrame:
    """Mine up to ``num_negatives`` hard negatives per training pair.

    ``emb``    -- corpus embeddings: (key_col, vec_col).
    ``pairs``  -- training pairs: (query_key_col, query_vec_col,
                  pos_key_col); must be the SMALL side (collected by
                  knn_join, broadcast everywhere else).
    ``margin`` -- if set, drop candidates with
                  score > pos_score - margin (false-negative
                  denoising). ``margin=0.0`` drops only candidates MORE
                  similar than the positive: a candidate that ties the
                  positive's score (e.g. a duplicate of it under another
                  key) survives. Both scores come from the same
                  sequential-double cosine fold, so such ties are exact.

    Returns (query_key_col, neg_key, score, neg_rank): ``neg_rank`` is
    dense per query over the surviving candidates, ``score`` the raw
    cosine similarity. Rows with no surviving candidate simply emit
    fewer than ``num_negatives`` negatives (possibly zero).

    ``pairs`` MAY hold several positives per query (multi-positive
    training sets): the query side is deduplicated before the knn scan
    (``query_vec_col`` must be functionally dependent on
    ``query_key_col``), NO positive of a query is ever served as its
    negative (anti-join against the full positive set, not a per-row
    check), and margin denoising measures against the query's LEAST
    similar positive -- the conservative bound, since a candidate inside
    the margin of any positive is a suspected unlabeled positive.
    Output stays one ranked candidate list per query.
    """
    if num_negatives < 1:
        raise ValueError(f"num_negatives must be >= 1, got {num_negatives}")
    if num_negatives > k:
        raise ValueError(
            f"num_negatives ({num_negatives}) cannot exceed the candidate "
            f"depth k ({k}); raise k"
        )

    cand = knn_join(
        emb,
        pairs.select(query_key_col, query_vec_col).dropDuplicates(
            [query_key_col]
        ),
        k=k,
        key_col=key_col,
        vec_col=vec_col,
        query_key_col=query_key_col,
        query_vec_col=query_vec_col,
        exclude_self=exclude_self,
    ).select(query_key_col, key_col, "score")

    # anti-join against the FULL positive set per query: a sibling
    # pair's positive never leaks through as a negative, and multi-row
    # pairs cannot duplicate candidates (the join adds no rows)
    gold = pairs.select(
        query_key_col, F.col(pos_key_col).alias(key_col)
    ).distinct()
    cand = cand.join(F.broadcast(gold), [query_key_col, key_col], "left_anti")

    if margin is not None:
        from letsearch_spark.functions.vector import cosine_similarity

        # exact positive score: stream the corpus once against the
        # broadcast pairs (corpus stays the big probe side)
        pos_side = pairs.select(
            F.col(query_key_col),
            F.col(query_vec_col).alias("__qv"),
            F.col(pos_key_col).alias("__pk"),
        )
        pos_sim = cosine_similarity(vec_col, "__qv")
        pos_scores = (
            emb.join(F.broadcast(pos_side), F.col(key_col) == F.col("__pk"))
            .select(F.col(query_key_col), pos_sim.alias("__pos_score"))
            # multi-positive queries: denoise against the least similar
            # positive (one row per query keeps the join duplicate-free)
            .groupBy(query_key_col)
            .agg(F.min("__pos_score").alias("__pos_score"))
        )
        cand = cand.join(F.broadcast(pos_scores), query_key_col, "inner").where(
            F.col("score") <= F.col("__pos_score") - F.lit(float(margin))
        )

    w = Window.partitionBy(query_key_col).orderBy(
        F.desc("score"), F.asc(key_col)
    )
    return (
        cand.withColumn("neg_rank", F.row_number().over(w).cast("long"))
        .where(F.col("neg_rank") <= num_negatives)
        .select(
            query_key_col,
            F.col(key_col).alias("neg_key"),
            "score",
            "neg_rank",
        )
    )


def build_training_pairs(
    negatives: DataFrame,
    documents: DataFrame,
    pairs: DataFrame,
    key_col: str = "_key",
    text_col: str = "text",
    query_key_col: str = "query_id",
    pos_key_col: str = "pos_key",
) -> DataFrame:
    """Assemble mined negatives into training rows: one row per query
    with the positive's text and the ordered list of negative texts —
    the (anchor, positive, negatives[]) shape contrastive trainers
    (InfoNCE / triplet) consume.

    Two hash joins against the documents table (negatives and positives
    fetch their text by key — the same fetch-back shape as search's P4
    re-order join, `collection_actor.rs:538-585`) and one
    ``collect_list`` aggregation ordered by mined rank. Only keys and
    the selected text column travel; at 100 TB the negatives frame is
    |pairs| x num_negatives rows, tiny next to the corpus.
    """
    docs = documents.select(
        F.col(key_col).alias("__dk"), F.col(text_col).alias("__dtext")
    )
    neg_txt = (
        negatives.join(docs, F.col("neg_key") == F.col("__dk"))
        .select(
            query_key_col,
            F.struct(F.col("neg_rank"), F.col("__dtext").alias("neg_text")).alias(
                "__n"
            ),
        )
        .groupBy(query_key_col)
        .agg(
            F.array_sort(F.collect_list("__n")).alias("__ns"),
        )
        .select(
            query_key_col,
            F.col("__ns.neg_text").alias("negative_texts"),
        )
    )
    # multi-positive queries produce one training row per (query,
    # positive), all sharing the query's mined negative list; exact
    # duplicate pair rows collapse to one
    pos_txt = pairs.select(query_key_col, pos_key_col).distinct().join(
        docs, F.col(pos_key_col) == F.col("__dk")
    ).select(query_key_col, F.col("__dtext").alias("positive_text"))
    return pos_txt.join(neg_txt, query_key_col, "left").select(
        query_key_col,
        "positive_text",
        F.coalesce("negative_texts", F.array().cast("array<string>")).alias(
            "negative_texts"
        ),
    )
