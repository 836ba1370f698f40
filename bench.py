"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {...per-stage sec...}, "sf": ...}

Stage set mirrors BASELINE.md's protocol: the reference's own pipeline
stages (ingest+key, chunk, stub-embed, top-k search) plus the relational
and dedup headliners that exercise real data volume (lineitem 600k rows
at sf0.1). Stage names are stable across rounds so BENCH_r{N}.json is
comparable.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
N_SEARCHES = int(os.environ.get("BENCH_SEARCHES", "20"))
# the host shows bursty CPU-steal stalls (a trivial 500-row groupBy was
# observed at 0.5s and 133s in back-to-back runs); min-of-N per stage
# reports the machine's actual capability rather than the noise.
# Default raised 2 -> 5 in round 4: the uniform ~1.2-1.5x drift of
# r3-vs-r2 numbers on UNCHANGED stages was host contention that
# min-of-2 failed to filter. The per-query search LOOPS (N queries per
# repeat) run min-of-2 instead -- each repeat is already an N-query
# aggregate, and min-of-5 would double the bench wall again.
REPEATS = int(os.environ.get("BENCH_REPEATS", "5"))


def calibrate() -> float:
    """Fixed driver-side numpy workload (pinned 2000^2 float64 matmul,
    min-of-3): a run-provenance signal recorded in every BENCH_rN.json
    so uniform host drift (CPU steal) can be normalized out when
    comparing rounds -- r8's recorded run drifted 1.3-1.9x on every
    stage INCLUDING pure-numpy ones no code change touched
    (BASELINE.md r8 adjudication). The workload is deterministic and
    Spark-free; its ratio vs the BASELINE.md reference value
    (calibration_ref) scales with the machine's effective CPU
    availability, not with any letsearch code path."""
    import numpy as np

    rng = np.random.RandomState(0)
    a = rng.rand(2000, 2000)
    b = rng.rand(2000, 2000)
    best = None
    for _ in range(3):
        t0 = time.time()
        float((a @ b).sum())
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    return round(best, 3)


def main() -> None:
    from pyspark.sql import functions as F

    from letsearch_spark.collection import Collection
    from letsearch_spark.queries import QUERIES, load
    from letsearch_spark.session import get_spark

    spark = get_spark(
        "letsearch-bench", master=f"local[{CPUS}]", shuffle_partitions=int(CPUS)
    )
    spark.sparkContext.setLogLevel("ERROR")

    sf = (
        float(os.path.basename(SF_DIR.rstrip("/")).removeprefix("sf"))
        if "sf" in os.path.basename(SF_DIR.rstrip("/"))
        else None
    )
    timings: dict[str, float] = {}
    root = tempfile.mkdtemp(prefix="ls_bench_")
    cal_start = calibrate()

    def run_stage(name, fn, repeats=REPEATS):
        best = None
        for _ in range(max(repeats, 1)):
            t0 = time.time()
            fn()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 3)

    # -- warmup: JVM + python workers (not timed)
    load(spark, SF_DIR, "lineitem").limit(1000).count()

    # 1. ingest + dense key assignment + collection write (S2)
    coll = Collection.create(
        spark, root, name="bench", index_columns=["text"], model_name="stub://16"
    )
    run_stage(
        "ingest_keys",
        lambda: coll.import_parquet(os.path.join(SF_DIR, "documents.parquet")),
    )

    # 2. chunk documents (T1-T3 pandas UDF + explode)
    run_stage("chunk", lambda: QUERIES["chunk_documents"](spark, SF_DIR).count())

    # 3. stub-embed the collection (E5 pipeline; incremental=False so each
    # repeat does the full work)
    run_stage("embed_stub", lambda: coll.embed_column("text", incremental=False))

    # 4. top-k search latency: N individual searches (K1+P3/P4+A4),
    # steady-state (one warmup materializes the serve-path caches --
    # the analog of the reference loading its HNSW into RAM)
    coll.search("text", "warmup", limit=10).collect()

    def searches():
        for i in range(N_SEARCHES):
            coll.search("text", f"spark join query window batch {i}", limit=10).collect()

    # min-of-REPEATS since r8 (VERDICT r7 #5): r7's only regressed stage
    # was also the only search loop still measured at 2 repeats -- the
    # flagship latency number gets the full contention filter
    run_stage("search_topk", searches)
    timings["searches_per_sec"] = round(N_SEARCHES / timings["search_topk"], 3)

    # 4b. driver-local serving (the reference's single-node model): the
    # serve view collected once to RAM, each query one numpy matmul and
    # zero Spark jobs (search_rows)
    coll.search_rows("text", "warmup", limit=10)

    def searches_local():
        for i in range(50 * N_SEARCHES):
            coll.search_rows("text", f"local {i}", limit=10)

    run_stage("search_topk_local", searches_local, repeats=2)
    timings["local_searches_per_sec"] = round(
        50 * N_SEARCHES / timings["search_topk_local"], 3
    )

    # 4c. driver-local HYBRID serving (round 4): dense numpy leg +
    # Python BM25 over an in-RAM inverted index, RRF-fused, zero Spark
    # jobs per query -- the serving-class latency for the hybrid
    # result set (results identical to strategy='hybrid')
    coll.search_rows("text", "warmup", limit=10, strategy="local_hybrid")

    def searches_local_hybrid():
        for i in range(10 * N_SEARCHES):
            coll.search_rows(
                "text", f"spark join query window batch {i}", limit=10,
                strategy="local_hybrid",
            )

    run_stage("search_topk_local_hybrid", searches_local_hybrid, repeats=2)
    timings["local_hybrid_searches_per_sec"] = round(
        10 * N_SEARCHES / timings["search_topk_local_hybrid"], 3
    )

    # 4d. PQ serving (round 4): ADC over the cached m-bytes-per-row
    # coded view -- no baseline row; compare against search_topk within
    # the run for the compression-vs-latency trade
    coll.search("text", "warmup", limit=10, strategy="pq").collect()

    def searches_pq():
        for i in range(N_SEARCHES):
            coll.search(
                "text", f"spark join query window batch {i}", limit=10,
                strategy="pq",
            ).collect()

    run_stage("search_topk_pq", searches_pq, repeats=2)
    timings["pq_searches_per_sec"] = round(
        N_SEARCHES / timings["search_topk_pq"], 3
    )

    # 4e. sign-bit Hamming serving (round 6): bit_count(xor) scan over
    # the cached 1-bit/dim signature view + exact cosine rescore of the
    # top-100 -- no baseline row; compare against search_topk (exact)
    # and search_topk_pq (the trained memory play) within the run
    coll.search("text", "warmup", limit=10, strategy="hamming").collect()

    def searches_hamming():
        for i in range(N_SEARCHES):
            coll.search(
                "text", f"spark join query window batch {i}", limit=10,
                strategy="hamming",
            ).collect()

    run_stage("search_topk_hamming", searches_hamming, repeats=2)
    timings["hamming_searches_per_sec"] = round(
        N_SEARCHES / timings["search_topk_hamming"], 3
    )

    # 4f. BPE exact token counting (round 4): train once (not timed),
    # then count the whole documents table at distinct-word-type cost
    from letsearch_spark.tokenizer import token_count_exact, train_bpe

    docs_tbl = load(spark, SF_DIR, "documents")
    bpe_model = train_bpe(docs_tbl, "text", vocab_size=2000)
    run_stage(
        "token_count_bpe",
        lambda: token_count_exact(docs_tbl, "doc_id", "text", bpe_model)
        .agg(F.sum("n_tokens"))
        .collect(),
    )

    # 4g. unigram-LM counterpart (round 6): distributed-EM training
    # (untimed, like BPE) then Viterbi-exact counts at distinct-type
    # cost -- no baseline row; compare against token_count_bpe in-run
    from letsearch_spark.tokenizer_unigram import (
        token_count_exact_unigram,
        train_unigram,
    )

    uni_model = train_unigram(
        docs_tbl, "text", vocab_size=300, seed_size=900, em_iters=2
    )
    run_stage(
        "token_count_unigram",
        lambda: token_count_exact_unigram(docs_tbl, "doc_id", "text", uni_model)
        .agg(F.sum("n_tokens"))
        .collect(),
    )

    # 4h. byte-level BPE counterpart (round 9): distributed pretoken
    # counting + shared merge kernel (untimed, like BPE), then exact
    # counts at distinct-pretoken cost
    from letsearch_spark.tokenizer_bytebpe import (
        token_count_exact_bytebpe,
        train_byte_bpe,
    )

    bb_model = train_byte_bpe(docs_tbl, "text", vocab_size=2000)
    run_stage(
        "token_count_byte_bpe",
        lambda: token_count_exact_bytebpe(docs_tbl, "doc_id", "text", bb_model)
        .agg(F.sum("n_tokens"))
        .collect(),
    )

    # 4i. WordPiece counterpart (round 10): likelihood-scored merges
    # (untimed, like the other trainers), greedy longest-match counts
    # at distinct-word cost
    from letsearch_spark.tokenizer_wordpiece import (
        token_count_exact_wordpiece,
        train_wordpiece,
    )

    wp_model = train_wordpiece(docs_tbl, "text", vocab_size=2000)
    run_stage(
        "token_count_wordpiece",
        lambda: token_count_exact_wordpiece(docs_tbl, "doc_id", "text", wp_model)
        .agg(F.sum("n_tokens"))
        .collect(),
    )

    # 5. batched k-NN join: 100 queries in ONE job, both scoring paths
    # (Catalyst expression vs per-partition numpy matmul)
    from letsearch_spark.operators.topk import knn_join

    emb = load(spark, SF_DIR, "embeddings")
    knn_base = emb.select(
        F.col("vec_id").alias("_key"), F.col("embedding").alias("vector")
    )
    knn_q = knn_base.where(F.col("_key") < 100).select(
        F.col("_key").alias("query_id"), F.col("vector").alias("qvec")
    )
    run_stage(
        "knn_batch100",
        lambda: knn_join(knn_base, knn_q, k=10, method="expr").count(),
    )
    run_stage(
        "knn_batch100_numpy",
        lambda: knn_join(knn_base, knn_q, k=10, method="numpy").count(),
    )

    # 5b. hard-negative mining (round 5): rank-1 positives + margin-
    # denoised negatives for the same 100 queries, production numpy path
    from letsearch_spark.operators.mining import mine_hard_negatives

    def _mine_stage():
        nn1 = knn_join(knn_base, knn_q, k=1, method="numpy", exclude_self=True)
        pairs = knn_q.join(
            nn1.select("query_id", F.col("_key").alias("pos_key")), "query_id"
        )
        return mine_hard_negatives(
            knn_base, pairs, k=20, num_negatives=5, margin=0.05,
            method="numpy",
        ).count()

    run_stage("mine_negatives100", _mine_stage)

    # benched stages keep their rows across window rotations -- the
    # registry a query lives in (window / rotated / staged) is a
    # correctness-gate concern, not a performance one, so resolve the
    # name against all three
    from letsearch_spark.queries import ROTATED_OUT_QUERIES, STAGED_QUERIES

    def resolve_query(name):
        q = (
            QUERIES.get(name)
            or STAGED_QUERIES.get(name)
            or ROTATED_OUT_QUERIES.get(name)
        )
        if q is None:
            raise KeyError(f"bench stage {name!r} found in no query registry")
        return q

    # 6-9. relational volume queries over lineitem/orders/events
    for name in (
        "agg_pricing_summary",
        "join_top_orders",
        "window_top_orders_per_customer",
        "events_sessionize",
    ):
        run_stage(
            name, lambda name=name: resolve_query(name)(spark, SF_DIR).count()
        )

    # 10-11. dedup headliners over documents
    for name in ("dedup_minhash_lsh", "dedup_simhash_pairs"):
        run_stage(
            name, lambda name=name: resolve_query(name)(spark, SF_DIR).count()
        )

    # 12-14. round-3 training-pipeline stages
    for name in ("quality_filter_gopher", "dedup_lines", "pack_sequences"):
        run_stage(
            name, lambda name=name: resolve_query(name)(spark, SF_DIR).count()
        )

    # 14a. round-5+ operator stages (oracle parity in the driver window,
    # tests/test_rotated_contract.py, or the staged gate): C4 cleaning
    # (map-side array expressions), the event-time attribution join
    # (100k events), CCNet perplexity bucketing (LM train + score + one
    # percentile agg), and the round-6/7 additions below
    for name in (
        "c4_page_filter",
        "events_attribution_join",
        "perplexity_buckets",
        # round 6: scan-only HTML extraction, hash-join snapshot diff,
        # seeded global shuffle rank (no baseline rows yet -- compare
        # across rounds per-stage)
        "html_extract",
        "dataset_diff",
        "shuffle_order",
        # round 6 tail: quality-aware dedup survivors (MinHash pairs ->
        # components -> per-cluster argmax), exact k-per-stratum
        # sampling (WindowGroupLimit), elementwise mean pooling
        # (fixed-point), and 3-iteration full-corpus k-means
        "dedup_survivor_quality",
        "sample_stratified_exact",
        "embed_mean_pool",
        "ann_kmeans_full",
        # round 6 late session: sign-bit Hamming ANN (bit_count scan +
        # top-40 cosine rescore) and multi-vector MaxSim retrieval (one
        # partial-aggregated groupBy; no baseline rows yet)
        "ann_hamming_topk",
        "search_maxsim",
        # round 6 late session: zlib-ratio quality signal (one Arrow
        # pass over the documents table)
        "text_compression",
        # round 7: training-shard egress manifest (distributed
        # prefix-sum + budget fill)
        "export_shards_manifest",
        # round 8: round-robin source interleave (two range shuffles,
        # no per-source window), distributed PCA fit (one moment pass),
        # WET segment parse (build cost included -- driver-side, small
        # at sf0.1; the parse itself dominates). Gate rows dated
        # 2026-08-16 in BASELINE.md (end-of-round quiet min-of-5).
        "interleave_order",
        "embed_pca_model",
        "s_wet_ingest",
        # round 8 late: URL-level page filter + chat/SFT templating --
        # both scan-only Catalyst projections (gate rows dated
        # 2026-08-16, end-of-round run)
        "url_quality_filter",
        "sft_render_chat",
    ):
        run_stage(
            name,
            lambda name=name: resolve_query(name)(spark, SF_DIR).count(),
        )

    # round-7 FIM stage: a pure map-side projection, so .count() would
    # let Catalyst prune the whole rewrite (review catch) -- force the
    # md5/substring work by aggregating over the output column
    run_stage(
        "fim_transform",
        lambda: resolve_query("fim_transform")(spark, SF_DIR)
        .agg(F.sum(F.length("text_md5")))
        .first()[0],
    )

    # round-9 T5 span corruption: same map-side-pruning hazard -- force
    # the rewrite via the output md5 lengths
    run_stage(
        "span_corruption",
        lambda: resolve_query("span_corruption")(spark, SF_DIR)
        .agg(F.sum(F.length("input_md5")) + F.sum(F.length("target_md5")))
        .first()[0],
    )

    # round-9 raw-crawl WARC ingest: .count() would prune the
    # md5(html_to_text) projection above the parser (r9 review catch --
    # the same hazard as fim/span_corruption) and time the parse alone;
    # force the extraction chain through the md5 aggregate
    run_stage(
        "s_warc_html_ingest",
        lambda: resolve_query("s_warc_html_ingest")(spark, SF_DIR)
        .agg(F.sum(F.length("clean_md5")))
        .first()[0],
    )

    # round-10 stdlib header decode: the aggregate reads the PARSED
    # columns (dims + bytes), so the mapInPandas kernel's output is
    # consumed, not count-pruned
    run_stage(
        "multimodal_headers",
        lambda: resolve_query("multimodal_headers")(spark, SF_DIR)
        .agg(F.sum("n_bytes") + F.sum("width") + F.sum("height"))
        .first()[0],
    )

    # round-10 URL-level dedup: scan-side canonicalization + one
    # groupBy; the aggregate consumes keep/n_copies AND the canonical
    # strings so the regex chain cannot prune
    run_stage(
        "dedup_url_canonical",
        lambda: resolve_query("dedup_url_canonical")(spark, SF_DIR)
        # keep rides in the aggregate too, or Catalyst prunes the
        # min(doc_id) keep computation out of the timed plan (the
        # count-pruning lesson, second-review catch)
        .agg(
            F.sum("n_copies")
            + F.sum(F.length("url_canon"))
            + F.sum(F.col("keep").cast("long"))
        )
        .first()[0],
    )

    # round-10 char-n-gram language ID: train once on the table's own
    # labels (untimed, the tokenizer-stage convention), then time the
    # serving path -- broadcast join + integer sums; the score aggregate
    # consumes the argmax struct so nothing prunes
    from letsearch_spark.operators.langid import fit_langid, predict_lang

    docs_lang = load(spark, SF_DIR, "documents")
    langid_model = fit_langid(
        docs_lang.where(F.col("lang").isNotNull()).select("lang", "text")
    )
    run_stage(
        "lang_id_predict",
        lambda: predict_lang(docs_lang, langid_model, "doc_id", "text")
        .agg(F.sum("score_micro"), F.count("pred_lang"))
        .first()[0],
    )

    # 14b. the full prep composition (round 4): quality -> line dedup ->
    # MinHash fuzzy dedup -> split -> pack over the whole documents
    # table in one recipe -- the end-to-end number a training-data user
    # sees (audit counts force each stage; repeats=2, the stage is the
    # sum of its parts)
    from letsearch_spark.pipeline import (
        PrepConfig,
        prepare_training_data,
        release_training_data,
    )

    docs_tbl2 = load(spark, SF_DIR, "documents")
    prep_breakdown: dict[str, float] = {}

    def prep_pipeline():
        # per-stage seconds from the pipeline's own lap timer; keep the
        # breakdown of the best repeat (the one whose total wins)
        laps: dict[str, float] = {}
        clean, layout, _audit = prepare_training_data(
            docs_tbl2,
            PrepConfig(
                quality={"min_words": 25},
                fuzzy_dedup={"threshold": 0.8},
                seq_len=2048,
                num_shards=int(CPUS),
            ),
            stage_seconds=laps,
        )
        layout.count()
        release_training_data(clean)
        if not prep_breakdown or sum(laps.values()) < sum(
            prep_breakdown.values()
        ):
            prep_breakdown.clear()
            prep_breakdown.update(laps)

    run_stage("prep_pipeline", prep_pipeline, repeats=2)
    # breakdown keys are attribution detail, not extra work: excluded
    # from the total (prep_pipeline already counts it once)
    for k, v in prep_breakdown.items():
        timings[f"prep_stage_{k}"] = v

    # 15. hybrid retrieval (BM25 lexical leg over cached postings +
    # dense cosine leg, RRF-fused driver-side): half the search count --
    # each query is 3-4 sequential Spark jobs; the per-sec rate is the
    # cross-round comparable
    n_hybrid = max(N_SEARCHES // 2, 1)
    coll.search("text", "warmup spark join", limit=10, strategy="hybrid").collect()

    def searches_hybrid():
        for i in range(n_hybrid):
            coll.search(
                "text", f"spark join query window batch {i}", limit=10,
                strategy="hybrid",
            ).collect()

    run_stage("search_topk_hybrid", searches_hybrid, repeats=2)
    timings["hybrid_searches_per_sec"] = round(
        n_hybrid / timings["search_topk_hybrid"], 3
    )

    # 16. batched hybrid serving: 100 queries through ONE search_many
    # plan (candidate-only knn_join dense leg + one BM25 pass over the
    # union of query terms + distributed RRF) -- the bulk-eval shape.
    # Contrast many_hybrid_queries_per_sec with hybrid_searches_per_sec
    # to see what batching buys over the per-query loop.
    many_qs = [f"spark join query window batch {i}" for i in range(100)]
    coll.search_many("text", many_qs[:2], limit=10, strategy="hybrid").count()

    run_stage(
        "search_many_hybrid",
        lambda: coll.search_many(
            "text", many_qs, limit=10, strategy="hybrid"
        ).count(),
        repeats=2,
    )
    timings["many_hybrid_queries_per_sec"] = round(
        len(many_qs) / timings["search_many_hybrid"], 3
    )

    # batched hamming (round 7): one signature scan + one exact rescore
    # for the whole query batch -- compare against search_many_hybrid /
    # per-query search_topk_hamming within the run (no baseline row).
    # r11 measurement fix (VERDICT r10 #3 -- the stage read 1.4-6.4 s
    # across "quiet" runs): it was the ONLY batch stage with neither a
    # warmup call (hybrid warms many_qs[:2], maxsim warms many_sets[:1])
    # nor min-of-5 (the r9 rule for batch stages), so its recorded time
    # mixed first-call plan/JIT warmup with contention bursts. Warm +
    # min-of-5 aligns it with the file's own batch-stage methodology;
    # BENCH_r10 and earlier recorded values predate this fix.
    coll.search_many("text", many_qs[:2], limit=10, strategy="hamming").count()
    run_stage(
        "search_many_hamming",
        lambda: coll.search_many(
            "text", many_qs, limit=10, strategy="hamming"
        ).count(),
    )
    timings["many_hamming_queries_per_sec"] = round(
        len(many_qs) / timings["search_many_hamming"], 3
    )

    # batched MaxSim (round 8): 10 two-vector queries through ONE
    # search_many_multi plan (shared stage-1 aggregation + candidate
    # prune) -- with group_col=None every row is its own group, the
    # worst case for the aggregate
    many_sets = [[f"spark join {i}", f"window batch {i}"] for i in range(10)]
    coll.search_many_multi("text", many_sets[:1], limit=10).count()

    # min-of-5 since r9: batch stages are exactly the ones long enough
    # to deserve it (the r7 search_topk drift false-alarm was min-of-2
    # sampling noise; VERDICT r8 flagged this row's min-of-2 gate)
    run_stage(
        "search_many_maxsim",
        lambda: coll.search_many_multi("text", many_sets, limit=10).count(),
    )
    timings["many_maxsim_queries_per_sec"] = round(
        len(many_sets) / timings["search_many_maxsim"], 3
    )

    # grouped MaxSim serving over the persisted pooled-centroid sidecar
    # (round 10): ~8 chunks per synthetic group, sidecar built+warmed
    # untimed (index cost, the hamming-stage convention), then the same
    # 10 two-vector queries through the prefilter_k=8 candidate path --
    # the serving plan carries ZERO pooling aggregates (plan-gated in
    # tests); compare against search_many_maxsim in-run
    grp_root = tempfile.mkdtemp(prefix="ls_bench_grp_")
    gcoll = Collection.create(
        spark, grp_root, name="benchg", index_columns=["text"],
        model_name="stub://16",
    )
    gcoll.import_df(
        load(spark, SF_DIR, "documents").select(
            "text", (F.col("doc_id") % 625).cast("string").alias("grp")
        )
    )
    gcoll.embed_column("text")
    gcoll.serve_filter_columns = ["grp"]
    gcoll._maxsim_pool_view("text", "grp")  # build + cache the sidecar
    run_stage(
        "search_many_maxsim_pf",
        lambda: gcoll.search_many_multi(
            "text", many_sets, limit=10, group_col="grp", prefilter_k=8
        ).count(),
    )

    total = round(
        sum(
            v
            for k, v in timings.items()
            if not k.endswith("_per_sec") and not k.startswith("prep_stage_")
        ),
        3,
    )
    print(
        json.dumps(
            {
                "metric": "letsearch-spark headline pipeline wall time",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                # run provenance (r9): pinned numpy matmul before/after
                # the stage loop; compare to BASELINE.md
                # calibration_ref to normalize uniform host drift
                "calibration": {"start": cal_start, "end": calibrate()},
            }
        )
    )
    spark.stop()
    shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
