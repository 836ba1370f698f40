"""Scaling probe: how do the headline operators behave as data grows?

Synthesizes xN copies of the sf0.1 tables (ids offset per copy so keys
stay unique, text salted per copy so near-dup structure is preserved,
not multiplied), then times the operators whose shuffle geometry
matters. Results go to SCALING.md -- the evidence that the plan shapes
hold as data grows, which no single-SF bench can show.

Usage: python tools/scale_probe.py [--scales 1,4,16]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def scaled_docs(spark, n_copies: int):
    from pyspark.sql import functions as F

    base = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    if n_copies == 1:
        return base
    copies = spark.range(n_copies).select(F.col("id").cast("int").alias("copy"))
    return (
        base.crossJoin(copies)
        .select(
            (F.col("doc_id") + F.col("copy") * 1_000_000).alias("doc_id"),
            # suffix EVERY word with the copy id: every shingle/token
            # differs across copies, so copies are not near-dups of each
            # other (pair structure stays linear, like real data), while
            # the near-dup pairs WITHIN each copy are preserved exactly.
            # The joiner is alphanumeric ('x3', not '_3') so the salted
            # word stays ONE token under bm25's [^a-z0-9]+ analyzer --
            # an underscore would split it back into the shared base
            # word + a bare digit, silently re-merging the vocabularies
            F.expr(
                "regexp_replace(text, '(\\\\S+)', "
                "concat('$1x', CAST(copy AS STRING)))"
            ).alias("text"),
        )
    )


def scaled_embeddings(spark, n_copies: int):
    from pyspark.sql import functions as F

    base = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    if n_copies == 1:
        return base.select(F.col("vec_id").alias("_key"), F.col("embedding").alias("vector"))
    copies = spark.range(n_copies).select(F.col("id").cast("int").alias("copy"))
    return (
        base.crossJoin(copies)
        .select(
            (F.col("vec_id") + F.col("copy") * 1_000_000).alias("_key"),
            # rotate one component per copy to decorrelate duplicates
            F.expr(
                "transform(embedding, (x, i) -> CAST(x + (CASE WHEN i = copy % 64 "
                "THEN 0.01 * copy ELSE 0 END) AS FLOAT))"
            ).alias("vector"),
        )
    )


def scaled_events(spark, n_copies: int):
    from pyspark.sql import functions as F

    from letsearch_spark.queries import _load_events

    base = _load_events(spark, SF_DIR)
    if n_copies == 1:
        return base.select("event_id", "user_id", "ts")
    copies = spark.range(n_copies).select(F.col("id").cast("int").alias("copy"))
    # each copy gets disjoint users: per-user interval structure (and any
    # per-user skew) replicates linearly, like sharded real traffic
    return base.crossJoin(copies).select(
        (F.col("event_id") + F.col("copy") * 10_000_000).alias("event_id"),
        (F.col("user_id") + F.col("copy") * 1_000_000).alias("user_id"),
        "ts",
    )


def skewed_range_join_probe(spark) -> None:
    """One hot key, both sides too big to broadcast: the geometry the
    binned range join exists for. The naive key-join sends the whole
    cross product to ONE reducer (quadratic in the hot key); the bin
    method spreads it over (key x bin) with only the in-bin residue
    evaluated per reducer."""
    import time

    from pyspark.sql import functions as F

    from letsearch_spark.operators.range_join import range_join

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    ev = spark.range(2_000_000).select(
        F.col("id").alias("event_id"),
        F.lit("hot").alias("user_id"),
        (F.lit(1704067200) + (F.col("id") % 5_184_000)).cast("timestamp").alias("ts"),
    )
    iv = spark.range(20_000).select(
        F.concat(F.lit("iv"), F.col("id")).alias("iv_id"),
        F.lit("hot").alias("iv_user"),
        (F.lit(1704067200) + (F.col("id") % 2_000) * 2592)
        .cast("timestamp")
        .alias("start_ts"),
        (F.lit(1704067200) + (F.col("id") % 2_000) * 2592 + 7200)
        .cast("timestamp")
        .alias("end_ts"),
    )
    row = {"probe": "range_join_hotkey", "events": 2_000_000, "intervals": 20_000}
    for method in ("bin", "range"):
        t0 = time.time()
        n = range_join(
            ev, iv, "ts", "start_ts", "end_ts", "user_id", "iv_user",
            method=method, bin_width_seconds=7200,
        ).count()
        row[method] = round(time.time() - t0, 2)
        row[f"{method}_rows"] = n
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    print(json.dumps(row), flush=True)


def main() -> None:
    from pyspark.sql import functions as F

    from letsearch_spark.operators.dedup import (
        exact_dedup,
        minhash_lsh_pairs,
        simhash_pairs,
    )
    from letsearch_spark.operators.topk import knn_join
    from letsearch_spark.session import get_spark

    ap = argparse.ArgumentParser()
    ap.add_argument("--scales", default="1,4,16")
    ap.add_argument("--skew", action="store_true", help="hot-key range-join probe only")
    ap.add_argument(
        "--ops", default=None,
        help="comma list of probe names to run (default: all)",
    )
    args = ap.parse_args()
    scales = [int(s) for s in args.scales.split(",")]
    only = set(args.ops.split(",")) if args.ops else None

    if args.skew:
        spark = get_spark(
            "scale-probe", master=f"local[{CPUS}]", shuffle_partitions=int(CPUS)
        )
        spark.sparkContext.setLogLevel("ERROR")
        skewed_range_join_probe(spark)
        spark.stop()
        return

    spark = get_spark(
        "scale-probe", master=f"local[{CPUS}]", shuffle_partitions=int(CPUS)
    )
    spark.sparkContext.setLogLevel("ERROR")

    results = []
    for n in scales:
        docs = scaled_docs(spark, n).cache()
        emb = scaled_embeddings(spark, n).cache()
        n_docs = docs.count()
        n_vecs = emb.count()
        row = {"copies": n, "docs": n_docs, "vectors": n_vecs}

        def timeit(name, fn):
            if only is not None and name not in only:
                return
            t0 = time.time()
            out = fn()
            row[name] = round(time.time() - t0, 2)
            row[f"{name}_rows"] = out

        timeit("exact_dedup", lambda: exact_dedup(docs, "doc_id", "text").count())
        timeit(
            "minhash_lsh",
            lambda: minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.5).count(),
        )
        # 60-bit simhash: at 32 bits the 8-bit bands (256 buckets) are too
        # coarse beyond ~10k docs and the bucket join goes quadratic; 15-bit
        # bands keep buckets small (the scale lesson this probe exists for)
        timeit(
            "simhash_banded",
            lambda: simhash_pairs(
                docs, "doc_id", "text", bits=60, max_hamming=3
            ).count(),
        )
        queries = emb.where(F.col("_key") < 100).select(
            F.col("_key").alias("query_id"), F.col("vector").alias("qvec")
        )
        timeit(
            "knn100_numpy",
            lambda: knn_join(emb, queries, k=10, method="numpy").count(),
        )

        from letsearch_spark.operators.mining import mine_hard_negatives

        # hard-negative mining, end-to-end production shape: rank-1
        # knn_join picks each query's genuine positive (a random pos_key
        # would leave the margin filter nothing to keep), then the mine
        # itself = second knn_join + two broadcast joins (gold
        # exclusion, exact pos score). Cost must track two knn100_numpy
        # corpus scans, the candidate set staying |queries| x k
        # regardless of corpus size
        def _mine():
            nn1 = knn_join(
                emb, queries, k=1, method="numpy", exclude_self=True
            )
            pairs = queries.join(
                nn1.select("query_id", F.col("_key").alias("pos_key")),
                "query_id",
            )
            return mine_hard_negatives(
                emb, pairs, k=20, num_negatives=5, margin=0.05,
                method="numpy",
            ).count()

        timeit("mine_negatives100", _mine)

        from letsearch_spark.operators.bm25 import bm25_topk
        from letsearch_spark.operators.dedup import semantic_dedup

        # BM25 ad-hoc (single corpus scan per query): copy salting makes
        # vocabularies disjoint, so copy-0's terms stay equally selective
        # as the corpus grows -- the cost curve isolates the scan+explode,
        # the candidate shuffle staying constant-size
        q = "spark join window agg" if n == 1 else (
            "sparkx0 joinx0 windowx0 aggx0"
        )
        timeit(
            "bm25_topk",
            lambda: bm25_topk(docs, q, k=100, id_col="doc_id").count(),
        )
        # semantic dedup: nlist grows with the corpus so expected cluster
        # size stays ~constant -- the knob that bounds the per-cluster
        # quadratic block (the scale contract of the operator)
        timeit(
            "semantic_dedup",
            lambda: semantic_dedup(
                emb, id_col="_key", vec_col="vector",
                threshold=0.95, nlist=16 * n,
            ).where(~F.col("keep")).count(),
        )

        from letsearch_spark.operators.dedup import remove_duplicate_lines
        from letsearch_spark.operators.pack import pack_sequences

        # round-3 pipeline ops: packing is one shuffle of (key, tokens);
        # line dedup shuffles 60-bit hashes. Both must stay near-linear.
        toks = docs.select(
            "doc_id", (F.size(F.split("text", r"\s+")).cast("long")).alias("tokens")
        )
        timeit(
            "pack_seq",
            lambda: pack_sequences(
                toks, "doc_id", "tokens", seq_len=256, num_shards=int(CPUS)
            ).count(),
        )

        from letsearch_spark.operators.pack import pack_documents_bins

        # whole-document BFD bins (r5): same single (key, tokens)
        # shuffle, the per-shard bisect loop is O(n log n) in shard
        # size -- the ratio must track pack_seq, not blow up with the
        # per-shard doc count
        timeit(
            "pack_bins",
            lambda: pack_documents_bins(
                toks, "doc_id", "tokens", seq_len=256,
                num_shards=int(CPUS), on_oversize="own_seq",
            ).count(),
        )
        lined = docs.select(
            "doc_id", F.regexp_replace("text", r"((\S+\s+){7}\S+)\s+", "$1\n").alias("text")
        )
        timeit(
            "dedup_lines",
            lambda: remove_duplicate_lines(lined, "doc_id", "text")
            .agg(F.sum("n_removed"))
            .collect()[0][0],
        )

        # span dedup: salted copies share no cross-copy spans, so hot
        # spans (and the explode they trigger) stay per-copy -- cost
        # must track bytes like line dedup, with the window-hash O(n*W)
        # map-side factor on top
        from letsearch_spark.operators.dedup import remove_duplicate_ngrams

        timeit(
            "dedup_spans",
            lambda: remove_duplicate_ngrams(docs, "doc_id", "text", width=8)
            .agg(F.sum("n_removed"))
            .collect()[0][0],
        )

        from letsearch_spark.operators.ngram_lm import perplexity, train_ngram_lm

        # CCNet-style scoring: train on the even docs, score the odd --
        # model AND corpus grow together, the worst case for the joins
        lm = train_ngram_lm(
            docs.where(F.col("doc_id") % 2 == 0), n=2, min_count=2
        ).cache()
        row["lm_ngrams"] = lm.count()
        timeit(
            "ngram_ppl",
            lambda: perplexity(docs.where(F.col("doc_id") % 2 == 1), lm)
            .where(F.col("ppl").isNotNull())
            .count(),
        )
        lm.unpersist()

        from letsearch_spark.operators.dsir import dsir_sample

        # DSIR: target stays FIXED (copy-0's 200 lowest doc ids -- a
        # deterministic slice, identical at every scale; a bare limit()
        # would pick partition-order rows that differ between the plain
        # read at x1 and the crossJoin output beyond) while raw grows --
        # the production shape (small in-domain corpus, growing crawl).
        # Featurization is map-side; the only corpus-sized shuffles carry
        # (id, bucket, cnt) integer triples, so cost must track bytes.
        tgt = docs.where(F.col("doc_id") < 200)
        timeit(
            "dsir_top1k",
            lambda: dsir_sample(
                docs, tgt, k=1000, cache_features=False
            ).count(),
        )
        # the DEFAULT path: raw features persisted across the fit and
        # the weight pass (featurized once, not twice); the ratio of
        # this row to the uncached one above is what a production run
        # actually pays
        timeit(
            "dsir_top1k_cached",
            lambda: dsir_sample(
                docs, tgt, k=1000, cache_features=True
            ).count(),
        )

        # decontamination, join vs Bloom (r5): the probe set is FIXED
        # (copy-0's odd docs -- the benchmark suite doesn't grow with
        # the crawl) while the corpus side grows. The join path
        # shuffles corpus shingles; the Bloom path is corpus scan +
        # broadcast bit-test, with only Bloom-hit shingles shuffling
        # (constant here: salted copies share nothing with copy-0
        # probes) -- the gap between the two curves is the operator's
        # 100 TB argument
        if only is None or {"decon_join", "decon_bloom"} & only:
            from letsearch_spark.operators.bloom import (
                decontaminate_with_bloom,
            )
            from letsearch_spark.operators.dedup import (
                ngram_containment_pairs,
            )

            corpus_side = docs.where(F.col("doc_id") % 2 == 0)
            probe_side = docs.where(
                (F.col("doc_id") % 2 == 1) & (F.col("doc_id") < 1_000_000)
            )
            decon_kw = dict(n=3, threshold=0.5, max_shingle_freq=100)
            timeit(
                "decon_join",
                lambda: ngram_containment_pairs(
                    corpus_side, probe_side, "doc_id", "text",
                    "doc_id", "text", **decon_kw,
                ).count(),
            )
            timeit(
                "decon_bloom",
                lambda: decontaminate_with_bloom(
                    corpus_side, probe_side, "doc_id", "text",
                    "doc_id", "text", **decon_kw,
                ).count(),
            )

        # curriculum ranking (r5): exact global rank via range
        # partitions + offsets -- one range shuffle of (id, score)
        # pairs, cost must track rows, never collapse to one partition
        if only is None or "curriculum_rank" in only:
            from letsearch_spark.operators.curriculum import (
                curriculum_shards,
            )

            scored = docs.select(
                "doc_id",
                F.size(F.split(F.trim("text"), r"\s+")).alias("wc"),
            )
            timeit(
                "curriculum_rank",
                lambda: curriculum_shards(
                    scored, "wc", "doc_id", num_shards=64
                ).count(),
            )

        # round-6 ops: HTML extraction must track BYTES with zero
        # shuffles (pure scan chain); the snapshot diff must track ROWS
        # (one (key, 32-byte-hash) join, text never shuffles); the
        # seeded shuffle rank shares curriculum_rank's range-shuffle
        # geometry so its curve should match
        if only is None or "html_extract" in only:
            from letsearch_spark.functions.html import html_to_text

            wrapped = docs.select(
                "doc_id",
                F.concat(
                    F.lit("<html><body><p>"),
                    F.replace(
                        F.col("text"), F.lit(" a"), F.lit(" <b>a</b>")
                    ),
                    F.lit('</p><a href="http://x">x</a></body></html>'),
                ).alias("page"),
            )
            timeit(
                "html_extract",
                lambda: wrapped.select(
                    F.length(html_to_text(F.col("page"))).alias("L")
                )
                .where(F.col("L") > 0)
                .count(),
            )

        if only is None or "dataset_diff" in only:
            from letsearch_spark.operators.diff import dataset_diff

            new_snap = docs.where(F.col("doc_id") % 10 != 0).withColumn(
                "text",
                F.when(
                    F.col("doc_id") % 7 == 0,
                    F.concat(F.col("text"), F.lit(" v2")),
                ).otherwise(F.col("text")),
            )
            timeit(
                "dataset_diff",
                lambda: dataset_diff(
                    docs, new_snap, "doc_id", ["text"]
                ).count(),
            )

        if only is None or "shuffle_rank" in only:
            from letsearch_spark.operators.curriculum import shuffle_order

            timeit(
                "shuffle_rank",
                lambda: shuffle_order(
                    docs.select("doc_id"), "doc_id", seed=3
                ).count(),
            )

        # vocab coverage (r5): salted copies grow the TYPE table
        # linearly with the corpus (the worst case) -- the explode
        # shuffle plus the distributed type ranking must track bytes
        if only is None or "vocab_coverage" in only:
            from letsearch_spark.operators.vocab import vocab_coverage

            timeit(
                "vocab_coverage",
                lambda: vocab_coverage(
                    docs, "text", ks=(100, 10_000, 1_000_000)
                ).count(),
            )

        # round-6 tail ops. survivor_best: components + per-cluster
        # argmax touch only pair members (pairs stay per-copy under the
        # salting, so linear); the corpus-sized step is one hash-only
        # anti-join -- cost must track minhash_lsh, never blow up on
        # the score join
        if only is None or "survivor_best" in only:
            from letsearch_spark.operators.dedup import dedup_keep_best

            scored_docs = docs.withColumn("q", F.length("text").cast("double"))
            timeit(
                "survivor_best",
                lambda: dedup_keep_best(
                    scored_docs,
                    minhash_lsh_pairs(scored_docs, "doc_id", "text", threshold=0.5),
                    "doc_id",
                    "q",
                ).where("is_kept").count(),
            )

        # stratified_topk: WindowGroupLimit prunes each task to its
        # local top-k before the stratum shuffle -- the shuffle carries
        # ~tasks*k*strata rows REGARDLESS of corpus size, so cost must
        # track the scan (bytes), staying well under a full sort
        if only is None or "stratified_topk" in only:
            from letsearch_spark.operators.sample import stratified_topk_sample

            src_docs = docs.withColumn(
                "src", (F.col("doc_id") % 20).cast("string")
            )
            timeit(
                "stratified_topk",
                lambda: stratified_topk_sample(
                    src_docs.select("doc_id", "src"), "doc_id", "src", k=100
                ).count(),
            )

        # mean_pool: fixed label space (10 x dim keys) -- the
        # (group, pos) partial aggregation absorbs growth map-side, so
        # cost must track vector bytes
        if only is None or "mean_pool" in only:
            from letsearch_spark.operators.pool import mean_pool_vectors

            lab = emb.withColumn("lab", (F.col("_key") % 10).cast("int"))
            timeit(
                "mean_pool",
                lambda: mean_pool_vectors(lab, "lab", "vector").count(),
            )

        # kmeans_full: 2 Lloyd iterations = 2 x (map-side assign +
        # pooled fixed-point agg) -- cost must track 2 passes over the
        # vectors, with the driver step constant (nlist x dim)
        if only is None or "kmeans_full" in only:
            from letsearch_spark.operators.ann import kmeans_fit_full

            keyed = emb.select(F.col("_key").alias("vec_id"), "vector")
            timeit(
                "kmeans_full",
                lambda: len(
                    kmeans_fit_full(
                        keyed, nlist=8, vec_col="vector",
                        key_col="vec_id", iters=2,
                    )
                ),
            )

        # round-6 late ops. hamming: the signature build is one scan;
        # a query is bit-math TakeOrdered (candidates only leave the
        # scan) + a 100-row broadcast rescore -- cost must track rows
        # with a tiny constant, sitting well under the float matmul
        if only is None or "hamming_topk" in only:
            from letsearch_spark.operators.hamming import (
                build_signbit_index,
                hamming_topk,
            )

            sig = build_signbit_index(
                emb, dim=64, vec_col="vector", key_col="_key"
            ).cache()
            sig.count()
            qv = emb.where(F.col("_key") == 0).select("vector").collect()[0][0]
            timeit(
                "hamming_topk",
                lambda: hamming_topk(
                    sig, emb, qv, k=10, rescore=100, key_col="_key",
                    vec_col="vector",
                ).count(),
            )
            sig.unpersist()

        # maxsim: one partial-aggregated groupBy of per-qvec maxes over
        # a fixed 1000-group space -- growth absorbed map-side, cost
        # tracks vector bytes like mean_pool
        if only is None or "maxsim" in only:
            from letsearch_spark.operators.pool import maxsim_topk

            qs = [
                r["vector"]
                for r in emb.where(F.col("_key") < 3).orderBy("_key").collect()
            ]
            grouped = emb.withColumn("doc", F.col("_key") % 1000)
            timeit(
                "maxsim",
                lambda: maxsim_topk(
                    grouped, qs, k=10, group_col="doc", vec_col="vector"
                ).count(),
            )

        # r9: the degenerate-group serving default, both plans over the
        # SAME data -- unique_groups=True (scan + TakeOrdered, zero
        # aggregate exchanges) vs the old groupBy path (every group a
        # singleton: map-side combine reduces nothing, the whole corpus
        # crosses the exchange). The gap must WIDEN with scale.
        if only is None or {"maxsim_ungrouped_fast", "maxsim_ungrouped_agg"} & only:
            from letsearch_spark.operators.pool import maxsim_topk

            qs = [
                r["vector"]
                for r in emb.where(F.col("_key") < 3).orderBy("_key").collect()
            ]
            timeit(
                "maxsim_ungrouped_fast",
                lambda: maxsim_topk(
                    emb, qs, k=10, group_col="_key", vec_col="vector",
                    unique_groups=True,
                ).count(),
            )
            timeit(
                "maxsim_ungrouped_agg",
                lambda: maxsim_topk(
                    emb, qs, k=10, group_col="_key", vec_col="vector",
                ).count(),
            )

        # unigram training: the word-type table grows linearly under
        # the per-copy salting (the worst case for an uncapped
        # trainer); each E-step is one mapInPandas pass + one integer
        # groupBy, so cost must track types, never corpus text volume
        if only is None or "unigram_train" in only:
            from letsearch_spark.tokenizer_unigram import train_unigram

            timeit(
                "unigram_train",
                lambda: len(
                    train_unigram(
                        docs, "text", vocab_size=150, seed_size=450,
                        em_iters=1,
                    ).pieces
                ),
            )

        # zlib compression signal: one Arrow pass, zero shuffles --
        # must track bytes
        if only is None or "compression" in only:
            from letsearch_spark.functions.text import compression_stats

            st = compression_stats(F.col("text"))
            timeit(
                "compression",
                lambda: docs.select(
                    st["compression_ratio"].alias("r")
                ).where(F.col("r") > 0.2).count(),
            )

        # incremental index maintenance: append a FIXED 200-vector
        # batch under frozen quantizers vs a full rebuild of base+batch
        # (IVF-PQ, the index the collection serves beyond the cache
        # tier). Append cost must track the BATCH (near-flat as the base
        # grows); rebuild tracks the BASE -- the widening gap is the
        # 100 TB argument for refresh_ivf_pq_index over rebuild-per-append
        if only is None or {"ivf_append", "ivf_rebuild"} & only:
            import shutil
            import tempfile

            from letsearch_spark.operators.pq import (
                append_ivf_pq,
                build_ivf_pq,
            )

            newb = emb.limit(200).select(
                (F.col("_key") + 900_000_000).alias("_key"), "vector"
            )
            idx_dir = tempfile.mkdtemp(prefix="ivf_probe_")
            try:
                centroids, codebook = build_ivf_pq(
                    emb, os.path.join(idx_dir, "base"), nlist=16,
                    key_col="_key",
                )

                def _append():
                    append_ivf_pq(
                        newb, os.path.join(idx_dir, "base"), centroids,
                        codebook,
                    )
                    return 200

                def _rebuild():
                    return len(
                        build_ivf_pq(
                            emb.unionByName(newb),
                            os.path.join(idx_dir, "rebuild"),
                            nlist=16,
                            key_col="_key",
                        )[0]
                    )

                timeit("ivf_append", _append)
                timeit("ivf_rebuild", _rebuild)
            finally:
                shutil.rmtree(idx_dir, ignore_errors=True)

        # quality classifier: positive = copy-0's first 500 docs,
        # negative = a growing slice of the salted corpus. Each GD
        # iteration broadcasts the <=num_buckets weight table and
        # shuffles only per-bucket gradients, so cost must track the
        # map-side featurization (bytes), never iterations x corpus
        # shuffles of text
        if only is None or "quality_clf" in only:
            from letsearch_spark.operators.classifier import (
                fit_quality_classifier,
            )

            pos = docs.where(F.col("doc_id") < 500)
            neg = docs.where(F.col("doc_id") >= 500)
            timeit(
                "quality_clf",
                lambda: len(
                    fit_quality_classifier(
                        pos, neg, id_col="doc_id", text_col="text",
                        num_buckets=4096, iterations=10,
                    ).weights
                ),
            )

        # BPE tokenizer: UNSALTED copies on purpose -- the vocabulary
        # stays constant while the corpus grows xN, which isolates the
        # operator's scale claim: train_bpe's driver work and
        # token_count_exact's Python UDF work are O(word_types), so
        # only the word-count / explode shuffles (pure JVM) may grow
        # with bytes. Salted copies would grow the vocabulary linearly
        # and muddy exactly that distinction.
        if only is None or {
            "bpe_train", "bpe_count", "token_shards", "byte_bpe_count"
        } & only:
            from letsearch_spark.tokenizer import token_count_exact, train_bpe

            base = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
            if n == 1:
                plain = base
            else:
                copies = spark.range(n).select(
                    F.col("id").cast("int").alias("copy")
                )
                plain = base.crossJoin(copies).select(
                    (F.col("doc_id") + F.col("copy") * 1_000_000).alias(
                        "doc_id"
                    ),
                    "text",
                )
            plain = plain.cache()
            plain.count()
            model = None

            def _train():
                nonlocal model
                model = train_bpe(plain, "text", vocab_size=2000)
                return len(model.merges)

            timeit("bpe_train", _train)
            if model is None and (only is None or "bpe_count" in only):
                # --ops bpe_count without bpe_train: still need a model
                # (trained outside the timed region)
                _train()
            if model is not None:
                row["bpe_word_types"] = model.word_types
                timeit(
                    "bpe_count",
                    lambda: token_count_exact(
                        plain, "doc_id", "text", model
                    ).agg(F.sum("n_tokens")).collect()[0][0],
                )
            # round-9 sibling: byte-level BPE -- same unsalted-copies
            # rationale (constant pretoken-type table, so only the
            # explode/groupBy shuffles may grow with bytes). The
            # pretokenizer is a Python Arrow pass, so its per-byte cost
            # shows here where word-BPE's JVM split does not.
            if only is None or "byte_bpe_count" in only:
                from letsearch_spark.tokenizer_bytebpe import (
                    token_count_exact_bytebpe,
                    train_byte_bpe,
                )

                bb = train_byte_bpe(plain, "text", vocab_size=2000)
                row["byte_bpe_pretoken_types"] = bb.pretoken_types
                timeit(
                    "byte_bpe_count",
                    lambda: token_count_exact_bytebpe(
                        plain, "doc_id", "text", bb
                    ).agg(F.sum("n_tokens")).collect()[0][0],
                )
            # token-id shard egress: re-tokenize + one co-keyed span
            # join + shard write; must track corpus bytes like bpe_count
            # (the guard window reuses the join's key partitioning)
            if only is None or "token_shards" in only:
                import shutil
                import tempfile

                from letsearch_spark.operators.pack import pack_sequences
                from letsearch_spark.pipeline import write_token_shards

                if model is None:
                    _train()
                counted = plain.join(
                    token_count_exact(plain, "doc_id", "text", model),
                    "doc_id",
                )
                layout = pack_sequences(
                    counted, "doc_id", "n_tokens", seq_len=2048,
                    num_shards=int(CPUS),
                )
                out_dir = tempfile.mkdtemp(prefix="ls_probe_tok_")

                def _egress():
                    n_spans = write_token_shards(
                        counted, layout, out_dir + "/shards", model,
                        key_col="doc_id", text_col="text",
                    )
                    return n_spans

                timeit("token_shards", _egress)
                shutil.rmtree(out_dir, ignore_errors=True)
            plain.unpersist()

        # incremental minhash: the STORE grows with copies while the new
        # batch stays a fixed 5000 docs (freshly salted -> no cross-store
        # near-dups, the common ingest case). The incremental cost must
        # track the batch + collisions; the full-recompute contrast grows
        # with the corpus -- the gap is the operator's reason to exist.
        if only is None or {"incr_minhash", "minhash_full"} & only:
            from letsearch_spark.operators.dedup import (
                incremental_minhash_dedup,
                minhash_band_table,
            )

            store = None
            if only is None or "incr_minhash" in only:
                # the store build is the incr stage's (untimed) setup;
                # don't pay it when only the full-recompute contrast runs
                store = minhash_band_table(docs, "doc_id", "text").cache()
                row["store_bands"] = store.count()
            new_batch = (
                scaled_docs(spark, 1)
                .select(
                    (F.col("doc_id") + 100_000_000).alias("doc_id"),
                    F.expr(
                        "regexp_replace(text, '(\\\\S+)', concat('$1xnew'))"
                    ).alias("text"),
                )
                .cache()
            )
            new_batch.count()
            timeit(
                "incr_minhash",
                lambda: incremental_minhash_dedup(
                    new_batch, store, docs, "doc_id", "text"
                )["keep"].where(~F.col("keep")).count(),
            )
            timeit(
                "minhash_full",
                lambda: minhash_lsh_pairs(
                    docs.select("doc_id", "text").unionByName(new_batch),
                    "doc_id",
                    "text",
                    threshold=0.5,
                ).count(),
            )
            if store is not None:
                store.unpersist()
            new_batch.unpersist()

        from letsearch_spark.operators.range_join import range_join
        from letsearch_spark.operators.rollup import time_rollup

        ev = scaled_events(spark, n).cache()
        row["events"] = ev.count()
        iv = (
            ev.groupBy(F.col("user_id").alias("iv_user"))
            .agg(F.min("ts").alias("start_ts"))
            .withColumn("end_ts", F.col("start_ts") + F.expr("INTERVAL 2 HOURS"))
        )

        def rj(method):
            return range_join(
                ev, iv, "ts", "start_ts", "end_ts", "user_id", "iv_user",
                method=method, bin_width_seconds=3600,
            ).count()

        timeit("range_join_bin", lambda: rj("bin"))
        timeit("range_join_naive", lambda: rj("range"))

        # event-time attribution join (streaming/join.py, batch form):
        # even events = impressions, odd = clicks, 2-hour window. An
        # equi-join on user_id with a residual range condition -- cost
        # must track events like any key-shuffled join, never the
        # per-user cross product (pairs stay linear because per-user
        # activity is fixed as copies grow)
        if only is None or "attribution_join" in only:
            from letsearch_spark.streaming.join import stream_interval_join

            imps = ev.where(F.col("event_id") % 2 == 0).select(
                "user_id",
                F.col("event_id").alias("imp_id"),
                F.col("ts").alias("imp_ts"),
            )
            clicks = ev.where(F.col("event_id") % 2 == 1).select(
                "user_id",
                F.col("event_id").alias("click_id"),
                F.col("ts").alias("click_ts"),
            )
            timeit(
                "attribution_join",
                lambda: stream_interval_join(
                    imps, clicks, "user_id", "imp_ts", "click_ts",
                    max_delay="2 hours",
                ).count(),
            )

        # C4 cleaning: sentence structure stamped on (the synthetic
        # corpus has no punctuation), then line rewrite + page judge.
        # Pure map-side array expressions -- cost must track bytes with
        # zero shuffle at every scale
        if only is None or "c4_clean" in only:
            from letsearch_spark.functions.text import (
                c4_clean_lines,
                c4_flags,
            )

            styled = docs.select(
                "doc_id",
                F.regexp_replace(
                    F.regexp_replace(
                        F.coalesce("text", F.lit("")),
                        r"((\S+\s+){9}\S+)\s*",
                        "$1. ",
                    ),
                    r"(([^.]+\.[ ]*){3})",
                    "$1\n",
                ).alias("text"),
            )
            cleaned = styled.select(
                "doc_id", c4_clean_lines(F.col("text")).alias("text")
            )
            timeit(
                "c4_clean",
                lambda: cleaned.where(
                    c4_flags(F.col("text"))["passes"]
                ).count(),
            )
        timeit(
            "time_rollup_2tier",
            lambda: time_rollup(
                ev, "ts", [], ["count(1) AS n"], granularities=("hour", "day")
            ).count(),
        )

        # stateful streaming sessions: users (hence state rows and
        # shuffle keys) scale with copies; events per user stay fixed.
        # availableNow replay of the whole scaled table -- wall time must
        # track events, state stays one (start, last, n) triple per user.
        # The batch parquet write of the source happens OUTSIDE the timed
        # region: it scales with events and would contaminate the curve.
        import tempfile

        probe_src = None
        if only is None or "stream_sessionize" in only:
            probe_src = tempfile.mkdtemp(prefix="ls_probe_sess_") + "/ev"
            ev.write.parquet(probe_src)

        def stream_sessions():
            from letsearch_spark.streaming.stateful import session_windows

            stream = spark.readStream.schema(
                spark.read.parquet(probe_src).schema
            ).parquet(probe_src)
            out = session_windows(stream, gap_seconds=1800, watermark="2 hours")
            name = f"probe_sess_{n}"
            q = (
                out.writeStream.outputMode("append")
                .format("memory")
                .queryName(name)
                .trigger(availableNow=True)
                .start()
            )
            if not q.awaitTermination(600):
                q.stop()
                raise RuntimeError(
                    f"stream_sessionize probe (x{n}) did not terminate; "
                    "a partial count would be a fake data point"
                )
            return spark.table(name).count()

        timeit("stream_sessionize", stream_sessions)

        # round-7 ops: training-shard egress (prefix-sum sharding must
        # track rows -- ONE range shuffle + a <=P-row offset collect, no
        # single-partition window) and FIM (map-only Catalyst rewrite,
        # must track bytes with zero shuffles at any scale)
        def _export_shards():
            from letsearch_spark.functions.text import token_count_approx
            from letsearch_spark.operators.export import (
                assign_shards,
                shard_manifest,
            )

            toks = docs.select(
                "doc_id",
                token_count_approx(
                    F.coalesce(F.col("text"), F.lit(""))
                ).alias("tokens"),
            )
            assigned = assign_shards(
                toks, ["doc_id"], tokens_per_shard=50_000, token_col="tokens"
            )
            return shard_manifest(assigned, token_col="tokens").count()

        timeit("export_shards", _export_shards)

        def _fim():
            from letsearch_spark.functions.text import fim_transform

            out = fim_transform(F.col("doc_id"), F.col("text"), rate=0.5)
            # .first()[0], NOT .count(): count() lets Catalyst prune the
            # unreferenced sum -- and with it the whole FIM projection --
            # so the probe would time a bare row count (caught by
            # review: the published curve DECREASED with 16x rows)
            return int(
                docs.select(out["text"].alias("t"))
                .agg(F.sum(F.length("t")))
                .first()[0]
            )

        timeit("fim_rewrite", _fim)

        # round-9 op: T5 span corruption -- map-only Catalyst rewrite;
        # cost per row is linear in words (one split + O(n_spans) md5s
        # + one zip-transform pass) after the r9 restructure away from
        # the per-element-split trap. Same count-pruning hazard as FIM.
        def _span_corrupt():
            from letsearch_spark.functions.text import span_corruption

            return int(
                span_corruption(docs)
                .agg(F.sum(F.length("input") + F.length("target")))
                .first()[0]
            )

        timeit("span_corruption", _span_corrupt)

        # round-8 op: interleave_order under 2-source skew (~49:1) --
        # the shape that serialized the old per-source window into one
        # task per source (VERDICT r7 #4). The rewrite (rank minus
        # per-source prefix-sum offsets) must track rows, not
        # rows/|sources| single-task sorts.
        def _interleave_skew():
            from letsearch_spark.operators.curriculum import interleave_order

            src = docs.withColumn(
                "src",
                F.when(F.col("doc_id") % 50 == 0, F.lit("tiny")).otherwise(
                    F.lit("big")
                ),
            )
            return interleave_order(src, "src", ["doc_id"]).count()

        timeit("interleave_skew", _interleave_skew)

        # round-8 op: WARC/WET ingest -- record-parse throughput must
        # track bytes; segments parse independently (one file = one
        # task), so wall time is bytes/segment, not corpus size. The
        # segment build (driver-side, untimed) mirrors Common Crawl's
        # ~constant segment sizing by emitting one file per ~5k docs.
        def _wet_parse():
            import shutil
            import tempfile

            from letsearch_spark.sources.warc import (
                read_wet,
                write_wet_segments,
            )

            rows = [
                (f"http://t/{r['doc_id']}", r["text"] or "")
                for r in docs.select("doc_id", "text").collect()
            ]
            root = tempfile.mkdtemp(prefix="ls_wetprobe_")
            write_wet_segments(rows, root, per_file=5000)
            t0 = time.time()
            n = read_wet(spark, root).count()
            row["wet_parse"] = round(time.time() - t0, 2)
            shutil.rmtree(root, ignore_errors=True)
            return n

        # _wet_parse times its own parse (the build is setup, not the
        # operator); route through timeit for the --ops filter only
        if only is None or "wet_parse" in only:
            row["wet_parse_rows"] = _wet_parse()

        # round-9 op: raw-crawl WARC ingest -- response-record parse +
        # HTTP envelope strip + the scan-only html_to_text chain, the
        # full import_warc shape. Same segment grain as _wet_parse, so
        # the delta vs wet_parse is the envelope+extraction cost.
        def _warc_html_parse():
            import shutil
            import tempfile

            from letsearch_spark.functions.html import html_to_text
            from letsearch_spark.sources.warc import (
                read_wet,
                write_warc_segments,
            )

            rows = [
                (
                    f"http://t/{r['doc_id']}",
                    "<html><body><p>" + (r["text"] or "") + "</p></body></html>",
                )
                for r in docs.select("doc_id", "text").collect()
            ]
            root = tempfile.mkdtemp(prefix="ls_warcprobe_")
            write_warc_segments(rows, root, per_file=5000)
            t0 = time.time()
            n = (
                read_wet(spark, root, record_types=("response",))
                .select(html_to_text(F.col("text")).alias("t"))
                .where(F.length("t") >= 0)
                .count()
            )
            row["warc_html_parse"] = round(time.time() - t0, 2)
            shutil.rmtree(root, ignore_errors=True)
            return n

        if only is None or "warc_html_parse" in only:
            row["warc_html_parse_rows"] = _warc_html_parse()

        # round-8 op: distributed PCA fit -- one moment pass whose
        # shuffle carries d(d+3)/2 integers per partition, so wall time
        # must track the SCAN (rows), with a constant driver eigh tail
        def _pca_fit():
            from letsearch_spark.operators.pca import fit_pca

            m = fit_pca(
                emb.select(F.col("vector")), vec_col="vector", k=16
            )
            return int(m.k)

        timeit("pca_fit", _pca_fit)

        # round-10 op: char-n-gram language ID serving. Fit is bounded
        # (|langs| x buckets collect) and untimed, the tokenizer-probe
        # convention; predict must track the SCAN (one explode + one
        # broadcast join + integer sums), never the model
        if only is None or "lang_id_predict" in only:
            from letsearch_spark.operators.langid import (
                fit_langid,
                predict_lang,
            )

            lang_labeled = docs.withColumn(
                "lang",
                F.element_at(
                    F.array(*[F.lit(x) for x in ("en", "de", "es", "zh")]),
                    (F.col("doc_id") % 4 + 1).cast("int"),
                ),
            )
            lm_langid = fit_langid(lang_labeled, "lang", "text")
            timeit(
                "lang_id_predict",
                lambda: predict_lang(docs, lm_langid, "doc_id", "text")
                .agg(F.sum("score_micro"))
                .collect()[0][0],
            )

        # round-10 op: stdlib media header decode -- mapInPandas over
        # synthesized header bytes; cost must track rows (the kernel
        # reads ~30 bytes per payload, so this is the Arrow round-trip
        # floor, the honest denominator for any real decode kernel)
        if only is None or "multimodal_headers" in only:
            from letsearch_spark.sources.multimodal import (
                build_image_bytes,
                decode_media,
            )

            def _headers():
                import pandas as pd

                def build(batches):
                    for pdf in batches:
                        yield pd.DataFrame(
                            {
                                "path": pdf["doc_id"].astype(str),
                                "content": [
                                    build_image_bytes(
                                        ("png", "gif", "jpeg", "webp")[
                                            int(d) % 4
                                        ],
                                        1 + int(d) % 640,
                                        1 + int(d) % 480,
                                        pad=int(d) % 50,
                                    )
                                    for d in pdf["doc_id"]
                                ],
                            }
                        )

                media = docs.select("doc_id").mapInPandas(
                    build, schema="path string, content binary"
                )
                return (
                    decode_media(media, decoder="headers")
                    .agg(F.sum("n_bytes") + F.sum("width"))
                    .collect()[0][0]
                )

            timeit("multimodal_headers", _headers)

        ev.unpersist()
        docs.unpersist()
        emb.unpersist()
        results.append(row)
        print(json.dumps(row), flush=True)

    spark.stop()


if __name__ == "__main__":
    main()
