"""Physical-plan audits: the 100-TB design properties must be visible in
the executed plan, not just hoped for.

Checks (SURVEY.md §4 + build-brief requirements):
* predicate pushdown reaches the parquet scan (PushedFilters);
* column pruning reaches the scan (ReadSchema);
* small join sides broadcast (BroadcastHashJoin, no SortMergeJoin);
* exact top-k compiles to TakeOrderedAndProject (map-side partial
  top-k, k rows per partition over the wire);
* embeddings partition pruning on column_name (PartitionFilters);
* scans participate in WholeStageCodegen.
"""

import os

import pytest
from pyspark.sql import functions as F


def plan_of(df, mode: str = "formatted") -> str:
    jmode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return df._jdf.queryExecution().explainString(jmode)


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def test_filter_pushdown_reaches_scan(docs):
    df = docs.where(F.col("doc_id") < 10).select("doc_id", "text")
    p = plan_of(df)
    assert "PushedFilters" in p
    assert "LessThan(doc_id,10)" in p or "doc_id" in p.split("PushedFilters", 1)[1].split("\n")[0]


def test_column_pruning_reaches_scan(docs):
    df = docs.select("doc_id", "lang")
    p = plan_of(df)
    read_schema = p.split("ReadSchema", 1)[1].split("\n")[0]
    assert "doc_id" in read_schema and "lang" in read_schema
    assert "text" not in read_schema  # the wide column must NOT be read


def test_topk_is_take_ordered(spark, sf_dir):
    from letsearch_spark.operators.topk import cosine_topk

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    df = cosine_topk(emb, [0.1] * 64, k=10, key_col="vec_id", vec_col="embedding")
    p = plan_of(df, "simple")
    assert "TakeOrderedAndProject" in p
    assert "Exchange rangepartitioning" not in p  # no global sort


def test_embeddings_partition_pruning(spark, sf_dir, tmp_path):
    from letsearch_spark.collection import Collection

    root = str(tmp_path / "r")
    c = Collection.create(
        spark, root, name="p", index_columns=["text", "lang"], model_name="stub://16"
    )
    c.import_parquet(os.path.join(sf_dir, "documents.parquet"))
    c.embed_column("text")
    c.embed_column("lang")
    df = c.embeddings("text")
    p = plan_of(df)
    assert "PartitionFilters" in p
    pf = p.split("PartitionFilters", 1)[1].split("\n")[0]
    assert "column_name" in pf


def test_scan_in_wholestage_codegen(docs):
    df = docs.where(F.col("n_chars") > 100).groupBy("lang").count()
    # AQE finalizes the plan only at execution; inspect the executed plan.
    # '*(n)' prefixes mark WholeStageCodegen spans in toString.
    df.collect()
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "*(1)" in p, p
    # map-side combine: the aggregation must have a partial phase before
    # the shuffle
    assert "partial_count" in p


def test_fetchback_join_broadcasts(spark, sf_dir):
    """P4 fetch-back: the <=100-hit side must broadcast against the docs
    table -- a shuffle join here would move the whole corpus to fetch
    100 rows."""
    from letsearch_spark.queries import QUERIES

    df = QUERIES["search_fetchback_join"](spark, sf_dir)
    p = plan_of(df, "simple")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p


def test_knn_join_shuffles_candidates_only(spark, sf_dir):
    """The default knn_join plan must score partitions locally
    (mapInPandas) and exchange only per-partition candidates keyed by
    query_id -- never hash-partition the scored all-pairs stream."""
    from letsearch_spark.operators.topk import knn_join

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    qs = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    df = knn_join(emb, qs, k=3, key_col="vec_id", vec_col="embedding")
    plan = df._jdf.queryExecution().executedPlan().toString()
    # exactly one exchange, on query_id, fed by the local scorer with a
    # partial group-limit (k rows per query per partition max)
    assert plan.count("Exchange hashpartitioning") == 1
    exch = plan.split("Exchange hashpartitioning", 1)[1]
    assert exch.split("\n")[0].startswith("(query_id")
    assert "MapInPandas" in exch  # scorer sits BELOW the exchange
    below = exch.split("MapInPandas", 1)[0]
    assert "WindowGroupLimit" in below and "Partial" in below
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_search_is_single_takeordered_over_cache(spark, sf_dir, tmp_path):
    from letsearch_spark.collection import Collection

    root = str(tmp_path / "r2")
    c = Collection.create(
        spark, root, name="s", index_columns=["text"], model_name="stub://16"
    )
    c.import_parquet(os.path.join(sf_dir, "documents.parquet"))
    c.embed_column("text")
    df = c.search("text", "spark join", limit=5)
    p = plan_of(df, "simple")
    # the serve path is ONE TakeOrderedAndProject over the cached
    # (key, vector, content) view -- no join, no shuffle at query time.
    # (The text below InMemoryTableScan is the cache's build lineage,
    # not what executes per query.)
    assert "TakeOrderedAndProject" in p
    assert "InMemoryTableScan" in p
    query_time = p.split("InMemoryTableScan", 1)[0]
    assert "Join" not in query_time
    assert "Exchange" not in query_time


@pytest.mark.deep  # auditor tier (pytest.ini): all-queries plan audit; every query is oracle-hash-checked by the driver each round
def test_no_accidental_cartesian_in_contract_queries(spark, sf_dir):
    """Every contract query's physical plan is scanned for all-pairs
    join shapes -- NO contract entry may plan one (the exact all-pairs
    embedding dedup was demoted to a test-only verification twin in
    round 3). A new query that accidentally plans a cartesian fails
    here before it ships. Walks the window and every off-window entry."""
    from letsearch_spark.queries import OFF_WINDOW_QUERIES, QUERIES

    flagged = {}
    for name, fn in {**QUERIES, **OFF_WINDOW_QUERIES}.items():
        df = fn(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        hits = [
            k
            for k in ("CartesianProduct", "BroadcastNestedLoopJoin")
            if k in plan
        ]
        if hits:
            flagged[name] = hits
    assert not flagged, flagged


def test_c4_clean_is_scan_only_codegen(spark, sf_dir):
    """C4 line cleaning + page flags: one projection over the scan --
    no shuffle, no Python eval, inside whole-stage codegen (the
    free-at-any-scale property the operator claims)."""
    from letsearch_spark.functions.text import c4_clean_lines, c4_flags

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cleaned = docs.select(
        "doc_id", c4_clean_lines(F.coalesce("text", F.lit(""))).alias("text")
    )
    out = cleaned.where(c4_flags(F.col("text"))["passes"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # higher-order array functions are CodegenFallback (no WSCG span),
    # but they stay JVM-side single-pass projections over the scan
    assert "FileScan parquet" in plan


def test_perplexity_buckets_never_sorts_the_corpus(spark, sf_dir, monkeypatch):
    """perplexity_buckets takes its head/middle cutoffs from ONE
    percentile aggregation, not an orderBy: neither the cutoff job nor
    the labelled frame it returns range-partitions or globally sorts the
    scored corpus (a global Sort prints as ``Sort [...], true``)."""
    import re

    from letsearch_spark.operators.ngram_lm import (
        perplexity_buckets,
        train_ngram_lm,
    )

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    lm = train_ngram_lm(docs.where(F.col("lang") == "en"), n=2)
    # the session's concrete DataFrame class (pyspark's classic frame
    # overrides first())
    DataFrame = type(docs)
    first = DataFrame.first
    for exact in (False, True):
        plans = {}

        def spy_first(self):
            plans["cutoffs"] = plan_of(self, "simple")
            return first(self)

        monkeypatch.setattr(DataFrame, "first", spy_first)
        out = perplexity_buckets(docs, lm, exact=exact)
        monkeypatch.undo()
        plans["labelled"] = plan_of(out, "simple")
        assert "percentile" in plans["cutoffs"].lower()
        for which, p in plans.items():
            assert "rangepartitioning" not in p, (exact, which, p)
            assert not re.search(r"Sort \[[^\]]*\], true", p), (exact, which, p)
        assert out.where(F.col("ppl_bucket") == "head").count() > 0


def test_pack_sequences_single_shuffle(spark):
    """The packing layout pays exactly ONE hash exchange (partition by
    shard, sort within by key); everything after the window is map-side
    arithmetic. At 100 TB the operator's cost IS that one shuffle of
    (key, tokens) pairs -- text never travels."""
    from letsearch_spark.operators.pack import pack_sequences

    docs = spark.range(1, 1000).select(
        F.col("id"), (F.col("id") % 90 + 1).alias("tokens")
    )
    out = pack_sequences(docs, "id", "tokens", seq_len=64, num_shards=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert "hashpartitioning(shard" in plan
    assert "Join" not in plan


def test_gopher_filter_is_scan_only(spark, sf_dir):
    """The quality filter is a pure per-row projection: no exchange, no
    join, no aggregate anywhere in the plan -- it runs entirely inside
    the parquet scan's codegen stage."""
    from letsearch_spark.functions.text import gopher_flags

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    flags = gopher_flags(F.col("text"))
    out = docs.select("doc_id", *[c.alias(n) for n, c in flags.items()])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "Aggregate" not in plan


def test_remove_duplicate_lines_hash_only_shuffle(spark, sf_dir):
    """The line-dedup VERDICT aggregation must exchange rows keyed by
    the 60-bit line hash (never grouping on raw text), and the plan
    must contain no all-pairs shape. (Line text still crosses the wire
    for the per-document reassembly, and on the verdict join's probe
    side if the stats table outgrows broadcast -- the operator
    docstring documents both.)"""
    from letsearch_spark.operators.dedup import remove_duplicate_lines

    docs = spark.read.parquet(
        os.path.join(sf_dir, "documents.parquet")
    ).select("doc_id", "text")
    out = remove_duplicate_lines(docs, "doc_id", "text")
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the verdict-side aggregation exchanges on the hash column
    assert "hashpartitioning(__h" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bm25_single_scan_candidate_only_shuffles(spark, sf_dir):
    """BM25's scale contract: ONE corpus scan (document frequency is a
    window over the aggregated candidate rows, not a self-join that
    would re-read the corpus), the term filter runs map-side BEFORE the
    first aggregation exchange (only candidate (doc, term) rows ever
    travel), and nothing in the plan is an all-pairs or join shape."""
    from letsearch_spark.operators.bm25 import bm25_scores

    docs = spark.read.parquet(
        os.path.join(sf_dir, "documents.parquet")
    ).select("doc_id", "text")
    out = bm25_scores(docs, "spark join window agg", stats=(500, 80.0))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, plan
    assert plan.count("Generate explode") == 1, plan
    assert "Join" not in plan, plan
    assert "CartesianProduct" not in plan
    # the term-IN filter sits below every Exchange (map-side): plans
    # print top-down, so no Exchange may appear AFTER the filter line
    filter_pos = plan.find("IN (spark,join,window,agg)")
    assert filter_pos != -1, plan
    assert "Exchange" not in plan[filter_pos:], plan


def test_semantic_dedup_cluster_local_shuffle(spark, sf_dir):
    """Semantic dedup's quadratic compare happens ONLY inside a cluster:
    the plan is one exchange keyed by the cluster id feeding
    FlatMapGroupsInPandas -- no join, no cartesian, no all-pairs."""
    import numpy as np

    from letsearch_spark.operators.dedup import semantic_dedup

    emb = spark.read.parquet(
        os.path.join(sf_dir, "embeddings.parquet")
    ).select("vec_id", "embedding")
    rng = np.random.RandomState(0)
    dim = len(emb.select("embedding").first()[0])
    cents = rng.randn(8, dim)  # precomputed => fully lazy plan
    out = semantic_dedup(
        emb, id_col="vec_id", vec_col="embedding", nlist=8, centroids=cents
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan
    assert "hashpartitioning(__c" in plan
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_dsir_topk_never_global_sorts(spark):
    """DSIR's Gumbel-top-k must compile to TakeOrderedAndProject (k rows
    per partition over the wire), never a corpus-wide range exchange,
    and the 10k-bucket model must broadcast into the scoring join."""
    from letsearch_spark.operators.dsir import dsir_sample

    raw = spark.createDataFrame(
        [(i, f"alpha beta gamma doc {i % 5}") for i in range(50)],
        "doc_id long, text string",
    )
    target = spark.createDataFrame(
        [(0, "alpha beta focus")], "doc_id long, text string"
    )
    # cache_features=False keeps the returned plan lazy (True checkpoints
    # the k-row result, which hides the lineage this gate inspects)
    picked = dsir_sample(raw, target, k=10, cache_features=False)
    p = plan_of(picked, "simple")
    assert "TakeOrderedAndProject" in p
    assert "Exchange rangepartitioning" not in p
    assert "BroadcastHashJoin" in p  # model join, never shuffled
    assert "CartesianProduct" not in p


def test_perplexity_model_joins_broadcast(spark):
    """The n-gram LM is a bounded model table; both scoring joins
    ((prefix, word) counts and prefix totals) must end up broadcast in
    the executed plan -- a corpus-sized shuffle against the model would
    be the 100-TB killer this operator's design avoids."""
    from letsearch_spark.operators.ngram_lm import perplexity, train_ngram_lm

    docs = spark.createDataFrame(
        [(i, f"the cat sat on mat {i % 7}") for i in range(100)],
        "doc_id long, text string",
    )
    lm = train_ngram_lm(docs, n=2)
    scored = perplexity(docs, lm, n=2)
    scored.collect()  # let AQE finalize join strategies
    p = plan_of(scored, "simple")
    assert p.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in p


def test_pq_knn_join_single_exchange(spark, sf_dir):
    """Batched ADC's candidate-only claim, plan-gated: the ONLY
    exchange is the final per-query window over (partitions x k)
    candidates -- the code scan feeds mapInPandas with no shuffle."""
    import re

    from letsearch_spark.operators.pq import encode_pq, pq_knn_join, train_pq

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        F.col("vec_id").alias("_key"), F.col("embedding").alias("vector")
    )
    cb = train_pq(emb, m=8, key_col="_key")
    coded = encode_pq(emb, cb).select("_key", "pq_code")
    q = emb.limit(3).select(
        F.col("_key").alias("query_id"), F.col("vector").alias("qvec")
    )
    plan = (
        pq_knn_join(coded, cb, q, k=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "MapInPandas" in plan
    assert len(re.findall(r"Exchange", plan)) == 1


def test_classifier_margins_reuse_cached_partitioning(spark, sf_dir):
    """The classifier's per-iteration scale claim, plan-gated: with the
    feature table cached repartition('id'), the per-doc margin groupBy
    runs WITHOUT a new exchange (everything above the InMemoryTableScan
    is exchange-free; the broadcast weight join is map-side)."""
    from letsearch_spark.operators.dsir import hashed_ngram_features

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200)
    feats = (
        hashed_ngram_features(docs, "doc_id", "text", num_buckets=256)
        .select("id", "bucket", (F.col("cnt") * 1.0).alias("x"))
        .repartition("id")
        .persist()
    )
    feats.count()
    try:
        w_df = spark.createDataFrame([(1, 0.5)], "bucket long, w double")
        margins = (
            feats.join(F.broadcast(w_df), "bucket", "left")
            .groupBy("id")
            .agg(
                F.sum(F.col("x") * F.coalesce(F.col("w"), F.lit(0.0))).alias(
                    "z"
                )
            )
        )
        plan = margins._jdf.queryExecution().executedPlan().toString()
        above_cache = plan.split("InMemoryRelation")[0]
        assert "Exchange" not in above_cache
        assert "BroadcastHashJoin" in above_cache
    finally:
        feats.unpersist()


def test_bm25_idf_literal_leg_single_exchange(spark, sf_dir):
    """The idf-literal hybrid serving leg (bm25_scores_with_idf over
    prebuilt postings) must be: postings filter -> map-side score ->
    ONE groupBy(id) exchange -- no join, no window, no broadcast, and
    no second aggregation for document frequencies (idf is inlined as
    literals from the driver-held map)."""
    from letsearch_spark.operators.bm25 import bm25_scores_with_idf, build_postings

    docs = spark.read.parquet(
        os.path.join(sf_dir, "documents.parquet")
    ).select("doc_id", "text")
    # the serve path queries CACHED postings (Collection._lexical_view);
    # inline postings would add the build's own aggregation exchange
    postings = build_postings(docs, id_col="doc_id", text_col="text").cache()
    try:
        postings.count()
        out = bm25_scores_with_idf(
            postings, {"spark": 40, "join": 35, "window": 25}, 500, 80.0,
            id_col="doc_id",
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in plan, plan
        # the cached relation prints its own build lineage (including
        # the build's exchanges) BELOW the InMemoryTableScan; only the
        # part above it executes per query
        serving = plan.split("InMemoryTableScan", 1)[0]
        assert "Join" not in serving, plan
        assert "Window" not in serving, plan
        assert "BroadcastExchange" not in serving, plan
        assert serving.count("Exchange") == 1, plan
    finally:
        postings.unpersist()


def test_corpus_report_single_aggregation_scan(spark, sf_dir):
    """The data card must stay ONE scan feeding ONE rollup aggregation
    (Expand + partial/final HashAggregate around a single exchange) --
    no joins, no second pass over the text."""
    from letsearch_spark.pipeline import corpus_report

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    out = corpus_report(docs, domain_col="lang")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, plan
    assert "Join" not in plan, plan
    assert "Expand" in plan, plan  # the ROLLUP grouping sets
    # one aggregation exchange + the final tiny orderBy exchange only
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_stratified_topk_sample_window_group_limit(spark, sf_dir):
    """The exact k-per-stratum sampler's rank-limit window must compile
    to WindowGroupLimit with a Partial map-side pass: each task prunes
    to its local top-k BEFORE the stratum shuffle, so a hot stratum
    ships ~partitions*k rows, never its full membership."""
    from letsearch_spark.operators.sample import stratified_topk_sample

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    out = stratified_topk_sample(
        docs.select("doc_id", "source"), "doc_id", "source", k=25
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan
    exch = plan.split("Exchange hashpartitioning", 1)[1]
    below = exch  # everything below the stratum shuffle
    assert "WindowGroupLimit" in below and "Partial" in below, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_mean_pool_explode_partial_aggregates(spark, sf_dir):
    """The skew-safe pooling path must be two real hash aggregates with
    map-side partials (keys multiplied by the position dimension), never
    a per-group window or a collect-then-average single task."""
    from letsearch_spark.operators.pool import mean_pool_vectors

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    out = mean_pool_vectors(emb, "label", "embedding")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 2, plan
    first = plan.split("Exchange hashpartitioning", 2)[2]
    assert "partial" in first.lower(), plan  # map-side combine below the shuffle
    assert "Window" not in plan, plan


def test_maxsim_unique_groups_no_aggregate_exchange(spark, sf_dir):
    """r9 (VERDICT r8 #1): the degenerate-group MaxSim path -- the
    search_multi/group_col=None serving default -- must NOT pay the
    corpus-sized hash-aggregate shuffle. Per-query form: scan-side
    projection + TakeOrderedAndProject, ZERO exchanges and ZERO
    aggregates. Batched form: no aggregate at all; the only exchange
    is the final rank window over the already-pruned candidates."""
    from letsearch_spark.operators.pool import maxsim_topk, maxsim_topk_many

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")).select(
        F.col("vec_id").alias("_key"), F.col("embedding").alias("vector")
    )
    q1, q2 = [0.1] * 64, [0.0] * 63 + [1.0]
    one = maxsim_topk(
        emb, [q1, q2], k=10, group_col="_key", vec_col="vector",
        best_key_col="_key", unique_groups=True,
    )
    p = plan_of(one, "simple")
    assert "TakeOrderedAndProject" in p, p
    assert "Exchange" not in p, p
    assert "HashAggregate" not in p and "SortAggregate" not in p, p

    many = maxsim_topk_many(
        emb, [[q1, q2], [q2]], k=10, group_col="_key", vec_col="vector",
        best_key_col="_key", unique_groups=True,
    )
    pm = plan_of(many, "simple")
    assert "HashAggregate" not in pm and "SortAggregate" not in pm, pm
    # the rank window's hash exchange over the pruned candidates is the
    # only data shuffle; the trailing rangepartitioning is the
    # presentation orderBy over <= N x k final rows
    assert pm.count("Exchange hashpartitioning") == 1, pm
    assert pm.count("Exchange") == 2, pm


def test_token_count_bytebpe_broadcasts_types(spark, sf_dir):
    """Byte-BPE exact counting (r9): the distinct-pretoken table must
    BROADCAST back to the per-doc pairs (types are tiny next to the
    corpus) -- a sort-merge join here would shuffle the corpus-sized
    pair table a second time."""
    from letsearch_spark.tokenizer_bytebpe import (
        token_count_exact_bytebpe,
        train_byte_bpe_twin,
    )

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    model = train_byte_bpe_twin(
        [r["text"] or "" for r in docs.select("text").limit(50).collect()],
        vocab_size=300,
    )
    plan = plan_of(
        token_count_exact_bytebpe(docs, "doc_id", "text", model), "simple"
    )
    # the __t types join must be the broadcast; the one permitted
    # SortMergeJoin is the final doc_id LeftOuter (zero-count rows),
    # which reuses the per-doc aggregate's existing exchange
    assert "BroadcastHashJoin [__t" in plan, plan
    assert plan.count("SortMergeJoin") <= 1, plan
    assert "SortMergeJoin [__t" not in plan, plan
