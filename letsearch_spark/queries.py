"""The engine's query suite: every operator from SURVEY.md §2 plus the
north-star LLM-data-pipeline operators, each as a (spark, sf_dir) callable
with (where SQL-expressible) a DuckDB oracle that hash-matches exactly.

Parity rules that keep the DuckDB comparison bit-stable:
* money sums go through exact integer cents:
  ``SUM(CAST(ROUND(x*100) AS BIGINT))/100.0`` -- double rounding of the
  *same* double value is identical in both engines, integer sums are
  order-independent, and the final division is one exact double op;
* float similarity scores are computed with the same formula shape
  (dot / (sqrt(dot_aa) * sqrt(dot_bb))) in double on both sides and
  rounded to 6 decimals;
* hashes are md5-based: Spark ``conv(substr(md5(x),1,15),16,10)`` ==
  DuckDB ``('0x'||substr(md5(x),1,15))::UBIGINT`` -- a 60-bit integer,
  comfortably inside signed-64;
* every computed column is aliased identically in both engines.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from collections.abc import Callable

import pandas as pd  # module-level so pandas_udf type hints resolve
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# ---------------------------------------------------------------- helpers

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name in ("events", "orders", "lineitem"):
        # tables with timestamp columns: pin the session timezone so the
        # collected values match the (naive-timestamp) DuckDB oracle even
        # when the caller's session defaults elsewhere
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        return _load_events(spark, sf_dir)
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet stores ``ts`` as TIMESTAMP(NANOS) which vanilla Spark
    rejects; read nanos as long and convert to a microsecond timestamp
    (integer division keeps the full 64 bits -- a double roundtrip would
    lose precision above 2^53 ns)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return df


_scratch_roots: dict[int, str] = {}


def _remove_scratch_root(pid: int, root: str) -> None:
    if os.getpid() == pid:  # a forked child must not remove its parent's
        shutil.rmtree(root, ignore_errors=True)


def _scratch_dir(prefix: str) -> str:
    """A fresh directory for one entry's fixture files (collections,
    event copies, crawl segments). Entries return lazy frames over these
    files, so the directory must outlive the call: each lives under one
    per-process root that is removed when the interpreter exits."""
    pid = os.getpid()
    root = _scratch_roots.get(pid)
    if root is None:
        root = _scratch_roots[pid] = tempfile.mkdtemp(prefix="ls_queries_")
        atexit.register(_remove_scratch_root, pid, root)
    return tempfile.mkdtemp(prefix=prefix, dir=root)


def _cents(col):
    """Exact integer cents from a double money column (parity-safe sums)."""
    return F.round(col * 100).cast("long")


_MD5_60_SQL = "CAST(('0x' || substr(md5({x}), 1, 15)) AS UBIGINT)::BIGINT"


def _words(col):
    return F.split(F.trim(F.lower(col)), r"\s+")


# exact cross-engine twin of _words for the corpora these oracles run
# on; the KNOWN residual divergences of lower()/\s/\b between Java and
# DuckDB (Turkish İ, Greek final sigma, \x0B, unicode \b) are pinned as
# failing-loudly boundary tests in tests/test_cross_engine.py
_WORDS_SQL = "regexp_split_to_array(trim(lower({x})), '\\s+')"

# stopword sets for the lang-id heuristic (deterministic tie-break en>de>es>fr)
_STOP = {
    "en": r"\b(the|a|of|and|is)\b",
    "de": r"\b(der|die|das|und|ist)\b",
    "fr": r"\b(le|la|les|et|est)\b",
    "es": r"\b(el|los|las|y|es)\b",
}


# ======================================================================
# §2.1/§2.2 -- ingest, keys, projection, lookup (reference surface)
# ======================================================================


def q_s2_ingest_dense_key(spark, sf_dir):
    """S2 + dense ``_key`` assignment (collection_actor.rs:204-216).
    Deterministic variant (ordered by doc_id) so the oracle can reproduce it."""
    docs = load(spark, sf_dir, "documents")
    w = Window.orderBy("doc_id")
    return docs.select(
        F.row_number().over(w).cast("long").alias("_key"), "doc_id"
    )


# ======================================================================
# Relational substrate: aggregation and join
# (the reference delegates these to embedded DuckDB; our engine exposes
# them natively via Spark SQL -- SURVEY.md §2.7)
# ======================================================================


def q_agg_pricing_summary(spark, sf_dir):
    """TPC-H Q1-shaped aggregation over lineitem with exact-cents sums."""
    li = load(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
            (F.sum(_cents(F.col("l_extendedprice"))) / 100.0).alias("sum_base_price"),
            (F.sum(_cents(disc_price)) / 100.0).alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_join_top_orders(spark, sf_dir):
    """TPC-H Q3-shaped join: customer x orders x lineitem, top-10 revenue.
    The two dimension sides are broadcast (small at any SF after the
    segment filter pushes down)."""
    cust = load(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    rev = _cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey")
        .agg((F.sum(rev) / 100.0).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


# ======================================================================
# §2.3 -- top-k cosine similarity search (K1) + similarity search family
# ======================================================================


def _cosine_pair(a, b):
    """Identical formula shape to the DuckDB oracle: dot/(sqrt*sqrt)."""
    from letsearch_spark.functions.vector import dot_product

    return dot_product(a, b) / (
        F.sqrt(dot_product(a, a)) * F.sqrt(dot_product(b, b))
    )


def q_k1_topk_label_filtered(spark, sf_dir):
    """K1+K4 exact top-k (vector_index.rs:128-152): query = vector of
    vec_id 0, k=10, score via cosine, ties by vec_id, restricted to
    label=1 (the predicate pushes down to the scan). The unfiltered K1
    shape is a strict subset of `search_fetchback_join`, which stays
    the canonical contract entry for it."""
    emb = load(spark, sf_dir, "embeddings")
    qvec = emb.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    sim = _cosine_pair(F.col("embedding"), F.array(*[F.lit(float(x)) for x in qvec]))
    return (
        emb.where(F.col("label") == 1)
        .select("vec_id", F.round(sim, 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(10)
    )


def q_knn_join(spark, sf_dir):
    """Batched k-NN join: top-3 neighbors for each of 5 query vectors
    (operators/topk.py knn_join) -- the same kernel that serves
    search_many. Its BLAS-picked candidates are rescored with the
    sequential-double cosine fold, bit-identical to DuckDB's, so ranks
    cannot flip on ulp-level near-ties. The plan shuffles candidates
    only: a local per-partition top-k bounds what crosses the network
    before the global per-query window ranks it
    (test_knn_join_shuffles_candidates_only)."""
    from letsearch_spark.operators.topk import knn_join

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    return knn_join(
        emb,
        queries,
        k=3,
        key_col="vec_id",
        vec_col="embedding",
        exclude_self=True,
    ).select("query_id", F.col("vec_id").alias("neighbor_id"), "rank")


def q_ann_lsh_topk(spark, sf_dir):
    """Approximate top-k via sign-LSH bucket pruning (the repeated-query
    scale path beside exact K1): 4 hyperplanes -> 16 buckets, probe the
    query's bucket plus all Hamming-distance-1 neighbors (multiprobe),
    exact cosine only inside the probed ~5/16 of the data. Same plan
    shape as operators/topk.py lsh_topk, with oracle-parity rounding
    applied before the ordering (k1 pattern)."""
    import numpy as np

    from letsearch_spark.operators.topk import (
        _hyperplanes,
        lsh_signature_col,
        multiprobe_signatures,
    )

    emb = load(spark, sf_dir, "embeddings")
    qvec = emb.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    planes = _hyperplanes(_EMB_DIM, _LSH_BITS, seed=42)
    q = np.asarray(qvec, dtype=np.float64)
    sig = 0
    for i, plane in enumerate(planes):
        if float(plane @ q) >= 0:
            sig |= 1 << i
    probes = multiprobe_signatures(sig, _LSH_BITS, radius=1)
    indexed = emb.withColumn(
        "_bucket", lsh_signature_col(F.col("embedding"), planes)
    )
    pruned = indexed.filter(F.col("_bucket").isin(*[int(p) for p in probes]))
    sim = _cosine_pair(F.col("embedding"), F.array(*[F.lit(float(x)) for x in qvec]))
    return (
        pruned.select("vec_id", F.round(sim, 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(10)
    )


def q_s_csv_roundtrip(spark, sf_dir):
    """CSV ingest (a source format beyond the reference's jsonl/parquet,
    same dense-key semantics): write the documents projection out as
    headered CSV, import it through Collection.import_csv (header +
    schema inference), read back. The oracle is the original table."""
    from letsearch_spark.collection import Collection

    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    tmp = _scratch_dir("ls_csv_")
    csv_path = os.path.join(tmp, "docs_csv")
    docs.write.mode("overwrite").option("header", "true").csv(csv_path)
    coll = Collection.create(spark, tmp, name="csvroundtrip")
    coll.import_csv(csv_path)
    return (
        coll.docs()
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "lang",
            F.col("n_chars").cast("long").alias("n_chars"),
        )
        .orderBy("doc_id")
    )


def q_multimodal_decode(spark, sf_dir):
    """Multimodal decode plumbing (sources/multimodal.py decode_media,
    decoder='fake'): binary payloads through the mapInPandas kernel; the
    md5-seeded pseudo-decode is deterministic, so dims and features are
    oracle-expressible from the same md5 in SQL. Feature floats are
    mapped back to their source bytes (round(f*255)) to compare exactly.
    Also carries the opaque-binary metadata columns (payload sha256 --
    the content-addressing pattern for binary media lakes), absorbing
    the former multimodal_binary_meta entry."""
    from letsearch_spark.sources.multimodal import decode_media

    docs = load(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("path"),
        F.coalesce(F.col("text"), F.lit("")).cast("binary").alias("content"),
    )
    dec = decode_media(docs, decoder="fake")
    return dec.select(
        F.col("path").cast("long").alias("doc_id"),
        F.col("n_bytes"),
        F.col("media_sha").alias("sha"),
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.col("n_channels").cast("long").alias("n_channels"),
        *[
            F.round(F.element_at("feature", i + 1) * 255)
            .cast("long")
            .alias(f"f{i}")
            for i in range(4)
        ],
    ).orderBy("doc_id")


def q_multimodal_headers(spark, sf_dir):
    """REAL media metadata decode, stdlib-only (r10, VERDICT r9 next
    #3): deterministic PNG/GIF/JPEG/WebP payloads are synthesized from
    doc_id (sources/multimodal.py build_image_bytes -- header + pad
    filler; every 5th doc is a truncated-PNG malformed payload), then
    decode_media(decoder='headers') parses (format, width, height) back
    out of the actual file headers inside the Arrow-batched mapInPandas
    kernel. The oracle replays the doc_id arithmetic in pure SQL, so a
    parser that mis-reads any header field mismatches immediately;
    malformed payloads must degrade to null format/dims, never error."""
    from letsearch_spark.sources.multimodal import (
        _PNG_SIG,
        build_image_bytes,
        decode_media,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id")

    def build(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                m, pad = d % 5, d % 50
                if m == 4:
                    data = _PNG_SIG + bytes(
                        (i * 31) % 251 for i in range(pad)
                    )
                else:
                    data = build_image_bytes(
                        ("png", "gif", "jpeg", "webp")[m],
                        1 + d % 640,
                        1 + d % 480,
                        pad=pad,
                    )
                rows.append((str(d), data))
            yield pd.DataFrame(rows, columns=["path", "content"])

    media = docs.mapInPandas(build, schema="path string, content binary")
    dec = decode_media(media, decoder="headers")
    return dec.select(
        F.col("path").cast("long").alias("doc_id"),
        F.col("format"),
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.col("n_bytes"),
    ).orderBy("doc_id")


_MULTIMODAL_HEADERS_ORACLE_SQL = """
    SELECT doc_id,
           CASE CAST(doc_id % 5 AS INT)
                WHEN 0 THEN 'png' WHEN 1 THEN 'gif'
                WHEN 2 THEN 'jpeg' WHEN 3 THEN 'webp' END AS format,
           CASE WHEN doc_id % 5 = 4 THEN NULL
                ELSE CAST(1 + doc_id % 640 AS BIGINT) END AS width,
           CASE WHEN doc_id % 5 = 4 THEN NULL
                ELSE CAST(1 + doc_id % 480 AS BIGINT) END AS height,
           -- header-length constants pin the fixture builder too:
           -- png 29, gif 10, jpeg 30, webp 30, truncated-PNG 8
           CAST(CASE CAST(doc_id % 5 AS INT)
                WHEN 0 THEN 29 WHEN 1 THEN 10 WHEN 2 THEN 30
                WHEN 3 THEN 30 ELSE 8 END + doc_id % 50
                AS BIGINT) AS n_bytes
    FROM documents ORDER BY doc_id
"""


def q_lang_id_ngram(spark, sf_dir):
    """Char-n-gram language ID (operators/langid.py, r10): NB model
    trained on the documents table's own lang labels (one explode +
    one bounded (lang, bucket) count), then every doc -- labeled or
    not -- classified via the broadcast-join integer-score path.
    score_micro is exact integer arithmetic, so the pure-Python twin
    oracle replays it bit-for-bit. The 4-language stopword lang_id
    (functions/text.py) stays the oracle-parity mode inside
    text_profile; this is the >= 20-language trainable operator."""
    from letsearch_spark.operators.langid import fit_langid, predict_lang

    docs = load(spark, sf_dir, "documents")
    model = fit_langid(
        docs.where(F.col("lang").isNotNull()).select("lang", "text")
    )
    pred = predict_lang(docs, model, id_col="doc_id", text_col="text")
    return pred.select(
        F.col("doc_id"), F.col("pred_lang"), F.col("score_micro")
    ).orderBy("doc_id")


def _lang_id_ngram_oracle(sf_dir: str) -> str:
    """Computed VALUES-literal twin of q_lang_id_ngram: same count
    maps, same _model_from_counts, same integer score replay."""
    from letsearch_spark.operators.langid import (
        fit_langid_twin,
        predict_lang_twin,
    )

    docs = _read_documents_cols(sf_dir, ["doc_id", "text", "lang"])
    model = fit_langid_twin(
        [(r["lang"], r["text"]) for r in docs if r["lang"] is not None]
    )
    rows = predict_lang_twin([(r["doc_id"], r["text"]) for r in docs], model)
    rows.sort()
    return _values_literal(
        rows,
        [
            ("doc_id", "BIGINT"),
            ("pred_lang", "VARCHAR"),
            ("score_micro", "BIGINT"),
        ],
    )


def q_ann_ivf_assign(spark, sf_dir):
    """IVF-Flat index build (FAISS-IVF analog, operators/ann.py): spherical
    k-means centroids fitted driver-side on a key-sorted bounded sample
    (deterministic across partitionings), nearest-centroid list id per
    vector via a vectorized pandas UDF. Persisting partitioned by list id
    turns each probe into a scan of nprobe/nlist of the data; this entry
    verifies train+assign against a single-process numpy twin."""
    from letsearch_spark.operators.ann import assign_lists, train_centroids

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cent = train_centroids(
        emb, nlist=8, vec_col="embedding", key_col="vec_id"
    )
    return (
        assign_lists(emb, cent, vec_col="embedding", list_col="list_id")
        .select("vec_id", F.col("list_id").cast("long").alias("list_id"))
        .orderBy("vec_id")
    )


def q_search_bm25_hybrid(spark, sf_dir):
    """Hybrid retrieval (operators/bm25.py): a BM25 lexical leg over the
    documents table fused with the dense cosine leg (the vec_id-0 query
    vector, as in search_fetchback_join) by reciprocal-rank fusion.
    Each leg is its own top-100 ranking (score rounded to 6 decimals,
    (score DESC, id ASC) tie-break); rrf = sum(1/(60 + rank)) over the
    legs containing the doc. Integer rank arithmetic makes the fusion
    bit-stable across engines; the oracle replays both legs and the
    fusion in SQL."""
    from letsearch_spark.operators.bm25 import bm25_topk, rrf_fuse

    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")

    rank_w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    lex = bm25_topk(docs, "spark join window agg", k=100)
    lex_rank = lex.select(
        "doc_id", F.row_number().over(rank_w).alias("rank")
    )

    qvec = emb.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    sim = _cosine_pair(F.col("embedding"), F.array(*[F.lit(float(x)) for x in qvec]))
    dense = (
        emb.select(F.col("vec_id").alias("doc_id"), F.round(sim, 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(100)
    )
    dense_rank = dense.select(
        "doc_id", F.row_number().over(rank_w).alias("rank")
    )

    fused = rrf_fuse({"bm25": lex_rank, "vec": dense_rank}, id_col="doc_id")
    return (
        fused.select(
            "doc_id", F.round("rrf", 6).alias("rrf"), "bm25_rank", "vec_rank"
        )
        .orderBy(F.desc("rrf"), F.asc("doc_id"))
        .limit(10)
    )


def q_quantize_f16_roundtrip(spark, sf_dir):
    """f16 vector quantization round-trip (functions/quantize.py, the
    model-variant storage path, collection_actor.rs:793-797 analog):
    pack embeddings to packed float16 binary, unpack, and report the
    per-vector byte size and max absolute round-trip error (computed by
    a Catalyst fold in double, so the oracle replicates it bit-for-bit)."""
    from letsearch_spark.functions.quantize import dequantize_column, quantize_column

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    packed = quantize_column(emb, "embedding", "f16", out_col="packed")
    restored = dequantize_column(packed, "packed", "f16", out_col="restored")
    err = F.aggregate(
        F.zip_with(
            F.transform("embedding", lambda x: x.cast("double")),
            F.transform("restored", lambda x: x.cast("double")),
            lambda a, b: F.abs(a - b),
        ),
        F.lit(0.0),
        lambda acc, v: F.greatest(acc, v),
    )
    return restored.select(
        "vec_id",
        F.octet_length("packed").cast("long").alias("n_bytes"),
        err.alias("max_err"),
    ).orderBy("vec_id")


def q_search_fetchback_join(spark, sf_dir):
    """K1 + P3/P4 with an oracle: top-10 for the vec_id-0 query joined
    back to the documents table (vec_id keys the docs) -- the fetch-back
    join of the serve path, hash-checkable because both tables ship in
    testdata."""
    emb = load(spark, sf_dir, "embeddings")
    docs = load(spark, sf_dir, "documents")
    qvec = emb.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    sim = _cosine_pair(F.col("embedding"), F.array(*[F.lit(float(x)) for x in qvec]))
    hits = (
        emb.select("vec_id", F.round(sim, 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(10)
    )
    return (
        F.broadcast(hits)
        .join(docs, hits.vec_id == docs.doc_id)
        .where(F.col("text").isNotNull())
        .select(
            "vec_id",
            "score",
            F.length("text").cast("long").alias("content_len"),
        )
        .orderBy(F.desc("score"), F.asc("vec_id"))
    )


def q_events_asof_last_order(spark, sf_dir):
    """Point-in-time feature join: each event picks up the user's most
    recent order at-or-before the event timestamp -- the leakage-free
    feature-attachment join every training pipeline needs.

    One shuffle on the key (union + running window), no range cross-join;
    operators/asof.py asof_join. Right side pre-deduped per (key, ts)
    with a deterministic max-orderkey tie-break so Spark and the DuckDB
    ASOF JOIN oracle pick identical rows."""
    from pyspark.sql import Window

    from letsearch_spark.operators.asof import asof_join

    events = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    w = Window.partitionBy("o_custkey", "o_orderdate").orderBy(
        F.col("o_orderkey").desc()
    )
    orders = (
        load(spark, sf_dir, "orders")
        .withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .select("o_custkey", "o_orderdate", "o_orderkey", "o_totalprice")
    )
    return asof_join(
        events,
        orders,
        left_ts="ts",
        right_ts="o_orderdate",
        by_left="user_id",
        by_right="o_custkey",
        right_ts_out="order_ts",
    ).orderBy("event_id")


def q_sample_train_test_split(spark, sf_dir):
    """Deterministic hash split (90/5/5) + independent 10% hash sample
    + the stratified-rebalance keep flag (en downsampled to 25%, other
    strata kept -- the former sample_stratified entry, folded in as a
    column so the whole sampling family shares one scan).

    Stable under repartitioning/appends/engine choice -- the md5 bucket
    formula is replicated bit-for-bit in the DuckDB oracle. Zero-shuffle
    map-side expressions; operators/sample.py."""
    from letsearch_spark.operators.sample import (
        hash_bucket,
        hash_split,
        stratified_keep_col,
    )

    docs = load(spark, sf_dir, "documents")
    return (
        hash_split(docs.select("doc_id", "lang"), "doc_id")
        .withColumn(
            "in_10pct_sample", hash_bucket(F.col("doc_id"), seed=7) < 100000
        )
        .withColumn(
            "strat_kept_en25",
            stratified_keep_col(
                "doc_id", "lang", {"en": 0.25}, default_fraction=1.0
            ),
        )
        .orderBy("doc_id")
    )


def q_dedup_embedding_cosine(spark, sf_dir):
    """TEST-ONLY verification twin, deliberately NOT a contract entry:
    exact all-pairs embedding-cosine near-dup pairs (sim >= 0.5,
    id_a < id_b). The all-pairs cross join is a scale-killer at any
    real size, so the canonical contract entry is the LSH-bucketed
    `dedup_embedding_cosine_lsh`; tests/test_operators.py
    (test_embedding_cosine_lsh_subset_of_exact) verifies the LSH output
    is a subset of the exact ground truth.

    Norms are precomputed per row *before* the pair join, so each pair
    evaluates one dot product instead of three (the division by
    ``norm_a * norm_b`` is bit-identical to the 3-dot formula).
    operators/dedup.py embedding_cosine_pairs."""
    from letsearch_spark.operators.dedup import embedding_cosine_pairs

    emb = load(spark, sf_dir, "embeddings")
    return embedding_cosine_pairs(
        emb, "vec_id", "embedding", threshold=0.5, method="exact"
    ).orderBy("id_a", "id_b")


_LSH_BITS = 4  # 16 buckets at sf0.01: pairs scored drop to ~6% of all-pairs
_LSH_THRESHOLD = 0.3
_EMB_DIM = 64


def q_dedup_embedding_cosine_lsh(spark, sf_dir):
    """Embedding near-dup pairs via the 100-TB path: sign-LSH bucket the
    vectors (4 random hyperplanes -> 16 buckets, pure Catalyst signature
    expression), score only same-bucket pairs. Output is a verified
    subset of the exact all-pairs result (cross-bucket pairs are the
    documented recall loss; raise bits+multiprobe to trade cost for
    recall). operators/dedup.py embedding_cosine_pairs(method='lsh')."""
    from letsearch_spark.operators.dedup import embedding_cosine_pairs

    emb = load(spark, sf_dir, "embeddings")
    return embedding_cosine_pairs(
        emb,
        "vec_id",
        "embedding",
        threshold=_LSH_THRESHOLD,
        method="lsh",
        lsh_bits=_LSH_BITS,
        dim=_EMB_DIM,
    ).orderBy("id_a", "id_b")


# ======================================================================
# North star: deduplication family (exact, n-gram Jaccard, MinHash-LSH,
# SimHash) over documents
# ======================================================================


def q_decontaminate_containment(spark, sf_dir):
    """Benchmark decontamination (operators/dedup.py
    ngram_containment_pairs): even doc_ids play the training corpus, odd
    doc_ids the eval set; report corpus docs whose shingle overlap covers
    >= 50% of a probe doc's shingles. Asymmetric containment, not
    Jaccard: verbatim inclusion of a short probe in a long training doc
    must score 1.0. Corpus-side hot-shingle cap mirrors the dedup
    contract."""
    from letsearch_spark.operators.dedup import ngram_containment_pairs

    docs = load(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % 2 == 0)
    probes = docs.where(F.col("doc_id") % 2 == 1)
    return ngram_containment_pairs(
        corpus,
        probes,
        "doc_id",
        "text",
        "doc_id",
        "text",
        n=3,
        threshold=0.5,
        max_shingle_freq=_MAX_SHINGLE_FREQ,
    ).orderBy("corpus_id", "probe_id")


def q_dedup_exact(spark, sf_dir):
    """Exact dedup on normalized text: keep min(doc_id) per distinct text.
    Hash-groupBy; at scale this is one shuffle on a 60-bit text hash
    (operators/dedup.py exact_dedup)."""
    from letsearch_spark.operators.dedup import exact_dedup

    docs = load(spark, sf_dir, "documents")
    return exact_dedup(docs, "doc_id", "text").orderBy("keep_id")


# s is the 60-bit md5 integer of the shingle string (r11, mirroring
# operators/dedup.py shingles: longs instead of raw strings through
# every downstream distinct/join -- the Spark side's shuffle-byte
# optimization, replayed here so the declared semantics stay identical)
_SHINGLES_SQL = f"""
    SELECT DISTINCT doc_id, {_MD5_60_SQL.format(x='s_str')} AS s
    FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(words)-1),
                      i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS s_str
        FROM (SELECT doc_id, {_WORDS_SQL.format(x='text')} AS words FROM documents)
        WHERE len(words) >= 3
    )
"""

# the contract queries run with the hot-shingle skew guard ON (a shingle
# shared by more than this many docs is a stop-phrase; joining on it is
# quadratic). The oracle mirrors the cap in _CAPPED_SHINGLES_SQL.
_MAX_SHINGLE_FREQ = 100

_CAPPED_SHINGLES_SQL = f"""
    SELECT doc_id, s FROM (
        SELECT doc_id, s, count(*) OVER (PARTITION BY s) AS df_
        FROM ({_SHINGLES_SQL})
    ) WHERE df_ <= {_MAX_SHINGLE_FREQ}
"""


def q_dedup_ngram_jaccard(spark, sf_dir):
    """Word-3-gram Jaccard near-dup pairs (j >= 0.5).

    Shuffle profile at scale: explode -> distinct (one shuffle on
    (doc,shingle)), self-join on shingle (one shuffle on shingle; hot
    shingles capped at max_shingle_freq docs so no stop-phrase goes
    quadratic), then a count aggregation. operators/dedup.py
    ngram_jaccard_pairs."""
    from letsearch_spark.operators.dedup import ngram_jaccard_pairs

    docs = load(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        docs,
        "doc_id",
        "text",
        n=3,
        threshold=0.5,
        max_shingle_freq=_MAX_SHINGLE_FREQ,
    ).orderBy("id_a", "id_b")


_N_PERMS = 16
_BAND_ROWS = 2  # 8 bands of 2 rows


def _mh_pairs_oracle_sql() -> str:
    """DuckDB replay of minhash_lsh_pairs (banded candidates -> exact
    Jaccard verify at threshold 0.5) -- shared by the dedup_minhash_lsh
    / dedup_minhash_components oracles and the leakage-safe split's
    staged oracle, so the pair semantics can't drift between them."""
    from letsearch_spark.operators.dedup import (
        MINHASH_BASE_P,
        MINHASH_PERM_P,
        minhash_perm_params,
    )

    perm = minhash_perm_params(_N_PERMS)
    mh_cols = ", ".join(
        f"min(({a} * h + {b}) % {MINHASH_PERM_P}) AS mh{p}"
        for p, (a, b) in enumerate(perm)
    )
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {band} AS band, {sig} AS sig FROM mh".format(
            band=bi,
            sig=" || ',' || ".join(
                f"CAST(mh{p} AS VARCHAR)"
                for p in range(bi * _BAND_ROWS, (bi + 1) * _BAND_ROWS)
            ),
        )
        for bi in range(_N_PERMS // _BAND_ROWS)
    )
    return f"""
        WITH sh AS ({_SHINGLES_SQL}),
        base AS (
            SELECT doc_id, s % {MINHASH_BASE_P} AS h FROM sh
        ),
        mh AS (SELECT doc_id, {mh_cols} FROM base GROUP BY doc_id),
        bands AS ({band_selects}),
        cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig
                 AND a.doc_id < b.doc_id
        ),
        cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        inter AS (
            SELECT c.id_a, c.id_b, count(*) AS i
            FROM cand c
            JOIN sh a ON a.doc_id = c.id_a
            JOIN sh b ON b.doc_id = c.id_b AND b.s = a.s
            GROUP BY 1, 2
        )
        SELECT c.id_a AS id_a, c.id_b AS id_b,
               round(coalesce(i.i * 1.0 / (ca.n + cb.n - i.i), 0.0), 6) AS jaccard
        FROM cand c
        LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
        JOIN cnt ca ON ca.doc_id = c.id_a
        JOIN cnt cb ON cb.doc_id = c.id_b
        WHERE round(coalesce(i.i * 1.0 / (ca.n + cb.n - i.i), 0.0), 6) >= 0.5
    """


def q_dedup_minhash_lsh(spark, sf_dir):
    """MinHash + LSH banding near-dup candidates, verified by true Jaccard.

    shingle -> 16 md5-keyed min-hashes -> 8 bands of 2 -> band-bucket join
    -> candidate pairs -> Jaccard verify (>= 0.5). The banding join is the
    scale win: candidates are found without the all-pairs shingle join.

    Plan shape (matters at 100 TB): the 16 per-permutation hashes are 16
    *columns* computed map-side in one projection, min-aggregated in a
    single shuffle on doc_id -- not a x16 row blowup with a shuffle on
    (doc_id, perm). operators/dedup.py minhash_lsh_pairs."""
    from letsearch_spark.operators.dedup import minhash_lsh_pairs

    docs = load(spark, sf_dir, "documents")
    return minhash_lsh_pairs(
        docs,
        "doc_id",
        "text",
        n=3,
        num_perms=_N_PERMS,
        band_rows=_BAND_ROWS,
        threshold=0.5,
    ).orderBy("id_a", "id_b")


_SIMHASH_BITS = 32


def q_dedup_minhash_components(spark, sf_dir):
    """The complete 100-TB dedup pipeline in one entry: MinHash banding
    finds candidates WITHOUT the all-pairs shingle join, exact Jaccard
    verifies them, connected components collapse clusters, and the
    keep-list marks one canonical survivor per cluster. Every stage is
    the scale shape; the oracle recomputes it with a recursive-CTE
    closure over the same banded-candidate SQL."""
    from letsearch_spark.operators.dedup import dedup_keep_list, minhash_lsh_pairs

    docs = load(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        docs,
        "doc_id",
        "text",
        n=3,
        num_perms=_N_PERMS,
        band_rows=_BAND_ROWS,
        threshold=0.5,
    )
    return dedup_keep_list(docs, pairs, "doc_id").orderBy("id")


def q_dedup_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs: 32-bit md5-keyed fingerprints
    (operators/dedup.py simhash), then hamming distance <= 3 via the
    *banded* join (4 bit-bands; pigeonhole guarantees every d<=3 pair
    shares a band, so output is identical to the brute-force oracle
    while the join touches only same-band pairs). Subsumes the
    signatures-only shape as its first stage."""
    from letsearch_spark.operators.dedup import simhash_pairs

    docs = load(spark, sf_dir, "documents")
    return simhash_pairs(
        docs, "doc_id", "text", bits=_SIMHASH_BITS, max_hamming=3, banded=True
    ).orderBy("id_a", "id_b")


# ======================================================================
# North star: text analysis (stats, token count, lang-id, fingerprint,
# quality score) -- §2.5 T4 + BASELINE.json text-analysis operators
# ======================================================================


def q_text_profile(spark, sf_dir):
    """One-scan text-analysis profile over `documents`: length/word
    stats, the T4 token estimate ceil(words*1.3) (chunker.rs:106-114),
    stopword-ratio language-ID, md5 fingerprint, composite quality
    score, Gopher/C4-style repetition fractions, and the PII scrub
    audit (URL/e-mail counts + scrubbed length over deterministically
    noised text) -- every functions/text.py analysis operator as pure
    Catalyst columns. Merged into one contract entry so the whole
    family fits inside the driver's correctness window while staying a
    single parquet scan."""
    from letsearch_spark.functions import text as TX
    from letsearch_spark.functions.text import (
        repetition_stats,
        scrub_counts,
        scrub_text,
    )

    docs = load(spark, sf_dir, "documents")
    n_words = TX.word_count(F.col("text"))
    n_chars = F.length("text")
    rep = repetition_stats(F.col("text"), n=2)
    quality = F.when(
        (n_chars > 0) & (n_words > 0), TX.quality_score(F.col("text"))
    )
    noisy = F.concat(
        F.coalesce(F.col("text"), F.lit("")),
        F.lit(" see https://ex.com/p/"),
        F.col("doc_id").cast("string"),
        F.lit(" or mail bob"),
        F.col("doc_id").cast("string"),
        F.lit("@ex-mail.org end"),
    )
    n_urls, n_emails, n_ips, n_phones = scrub_counts(noisy)
    return docs.select(
        "doc_id",
        n_chars.cast("long").alias("n_chars"),
        rep["n_words"].alias("n_words"),
        F.round(n_chars * 1.0 / n_words, 6).alias("chars_per_word"),
        F.round(TX.punct_count(F.col("text")) * 1.0 / n_chars, 6).alias("punct_ratio"),
        TX.token_count_approx(F.col("text")).alias("n_tokens"),
        TX.lang_id(F.col("text")).alias("pred_lang"),
        TX.fingerprint(F.col("text")).alias("fingerprint"),
        quality.alias("quality"),
        rep["n_distinct_words"].alias("n_distinct_words"),
        rep["dup_word_frac"].alias("dup_word_frac"),
        rep["dup_ngram_frac"].alias("dup_ngram_frac"),
        n_urls.alias("n_urls"),
        n_emails.alias("n_emails"),
        n_ips.alias("n_ips"),
        n_phones.alias("n_phones"),
        F.length(scrub_text(noisy)).cast("long").alias("scrubbed_len"),
    ).orderBy("doc_id")


def q_multimodal_frame_sample(spark, sf_dir):
    """Video frame-sampling plan (sources/multimodal.py
    frame_sample_plan -- the sqrt policy the reference applies to PDF
    pages, pdf.rs:25-33): synthetic per-doc frame counts, exploded to
    one row per sampled frame index. Exercises the policy distributively
    via a pure Catalyst expression of the same arithmetic."""
    import math

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<int>")
    def _plan(n: pd.Series) -> pd.Series:
        from letsearch_spark.sources.multimodal import frame_sample_plan

        return n.map(
            lambda x: frame_sample_plan(int(x), math.ceil(math.sqrt(int(x))))
        )

    docs = load(spark, sf_dir, "documents")
    n_frames = (F.col("n_chars") % 240 + 1).cast("int")
    return (
        docs.select(
            "doc_id",
            n_frames.cast("long").alias("n_frames"),
            F.posexplode(_plan(n_frames)).alias("pos", "frame_idx"),
        )
        .select(
            "doc_id",
            "n_frames",
            F.col("pos").cast("long").alias("pos"),
            F.col("frame_idx").cast("long").alias("frame_idx"),
        )
        .orderBy("doc_id", "pos")
    )


# ======================================================================
# Pipeline ops that are not SQL-expressible (rows-only driver check):
# chunker, stub embedding, end-to-end search, streaming increment
# ======================================================================


def q_pdf_ingest(spark, sf_dir):
    """S5+S6: distributed PDF ingest (binaryFile scan + per-executor
    parse, sources/pdf.py read_pdfs) feeding the T1 hierarchical
    chunker. No PDF ships in the driver's testdata, so the query
    synthesizes the reference's hand-crafted fixture shapes
    (pdf.rs:83-92) at runtime -- plain, font-size-structured,
    multi-page, a sparse 'scanned' doc the sqrt-sampling heuristic
    (pdf.rs:19-41) must reject, and a non-PDF blob the parser must
    survive -- then emits one row per chunk (text PDFs) or one null-row
    (rejects). The oracle is the computed single-process twin over the
    same deterministic bytes."""
    from letsearch_spark.chunker import ChunkerConfig, chunk_column
    from letsearch_spark.sources.pdf import pdf_fixture_files, read_pdfs

    d = _scratch_dir("ls_pdf_")
    for fname, data in pdf_fixture_files().items():
        with open(os.path.join(d, fname), "wb") as f:
            f.write(data)
    pdfs = read_pdfs(spark, d).withColumn(
        "fname", F.element_at(F.split("path", "/"), -1)
    )
    chunked = chunk_column(
        pdfs.where(F.col("is_text")),
        "text",
        ChunkerConfig(max_tokens=32, overlap_tokens=0),
    )
    text_rows = chunked.select(
        "fname",
        F.lit(True).alias("is_text"),
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.length("chunk").cast("long").alias("chunk_len"),
    )
    reject_rows = pdfs.where(~F.col("is_text")).select(
        "fname",
        F.lit(False).alias("is_text"),
        F.lit(None).cast("long").alias("chunk_idx"),
        F.lit(None).cast("long").alias("chunk_len"),
    )
    return text_rows.unionByName(reject_rows).orderBy("fname", "chunk_idx")


def q_chunk_documents(spark, sf_dir):
    """T1-T3 chunker over documents (pandas UDF + posexplode)."""
    from letsearch_spark.chunker import ChunkerConfig, chunk_column

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    out = chunk_column(docs, "text", ChunkerConfig(max_tokens=32, overlap_tokens=0))
    return out.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.length("chunk").cast("long").alias("chunk_len"),
    ).orderBy("doc_id", "chunk_idx")


def q_embed_stub(spark, sf_dir):
    """E5 embedding pipeline with the deterministic stub embedder."""
    from letsearch_spark.embedders.stub import StubEmbedder
    import pandas as pd
    from pyspark.sql import types as T

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("dim", T.LongType()),
            T.StructField("norm_ok", T.BooleanType()),
        ]
    )

    def run(it):
        import numpy as np

        emb = StubEmbedder(16)
        for pdf in it:
            vecs = emb.embed(pdf["text"].fillna("").tolist())
            norms = np.linalg.norm(vecs, axis=1)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].values,
                    "dim": vecs.shape[1],
                    "norm_ok": np.abs(norms - 1.0) < 1e-5,
                }
            )

    return docs.mapInPandas(run, schema=schema).orderBy("doc_id")


def q_search_e2e(spark, sf_dir):
    """The reference's whole spine: ingest -> key -> embed(stub) -> top-k
    search -> fetch-back join (S2, P1-P4, K1-K3, E5, A4)."""
    from letsearch_spark.collection import Collection

    root = _scratch_dir("ls_e2e_")
    coll = Collection.create(
        spark, root, name="e2e", index_columns=["text"], model_name="stub://16"
    )
    coll.import_parquet(os.path.join(sf_dir, "documents.parquet"))
    coll.embed_column("text")
    res = coll.search("text", "spark join query window batch data", limit=10)
    w = Window.orderBy(F.desc("score"), F.asc("key"))
    return res.select(
        F.row_number().over(w).cast("long").alias("rank"),
        F.length("content").cast("long").alias("content_len"),
    )


def q_stream_windowed_counts(spark, sf_dir):
    """Structured Streaming watermarked tumbling-window rollup
    (streaming/incremental.py windowed_event_counts), replayed over the
    events table with an availableNow trigger into a complete-mode
    memory sink. Complete mode emits every window, so the result is
    batch-deterministic and the oracle is the plain hourly aggregate
    (counts only -- double sums are summation-order-dependent)."""
    import uuid

    from letsearch_spark.streaming.incremental import windowed_event_counts

    ev = load(spark, sf_dir, "events")
    src = _scratch_dir("ls_swin_") + "/events"
    ev.write.parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    out = windowed_event_counts(stream, window="1 hour", watermark="2 hours")
    name = f"swin_{uuid.uuid4().hex[:12]}"
    q = (
        out.select("window_start", "event_type", "n")
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return (
        spark.table(name)
        .select("window_start", "event_type", F.col("n").cast("long").alias("n"))
        .orderBy("window_start", "event_type")
    )


def q_stream_incremental_count(spark, sf_dir):
    """Incremental append replay (S3/S4 + K5 semantics, FIXTURES.md §5):
    events replayed in 5 ts-ordered batches through the append path must
    equal one bulk ingest. Returns final per-type counts; oracle is the
    direct aggregate."""
    ev = load(spark, sf_dir, "events")
    qs = ev.approxQuantile("event_id", [0.2, 0.4, 0.6, 0.8], 0.0)
    bounds = [float("-inf")] + qs + [float("inf")]
    path = _scratch_dir("ls_stream_") + "/events"
    for lo, hi in zip(bounds[:-1], bounds[1:]):
        batch = ev.where((F.col("event_id") > lo) & (F.col("event_id") <= hi))
        batch.write.mode("append").parquet(path)
    final = spark.read.parquet(path)
    return (
        final.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("user_id").alias("sum_uid"))
        .orderBy("event_type")
    )


_MIX_WEIGHTS = {"en": 0.2, "zh": 0.2, "es": 0.1, "de": 0.1, "fr": 0.4}
_MIX_TARGET = 300
_PACK_SEQ_LEN = 256
_PACK_SHARDS = 8
_BOILER_LINE = "subscribe to our newsletter for updates"


def q_pack_sequences(spark, sf_dir):
    """Sequence packing layout (operators/pack.py): each document's
    ceil(words*1.3) token estimate (T4) packed into 256-token training
    sequences across 8 hash shards -- the GPT-style concatenate-then-
    split layout as pure integer window arithmetic. One shuffle total
    (hash-partition by shard + in-shard key sort); the oracle replicates
    the cumsum + range explode bit-for-bit."""
    from letsearch_spark.functions.text import token_count_approx
    from letsearch_spark.operators.pack import pack_sequences

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", token_count_approx(F.col("text")).alias("tokens")
    )
    return pack_sequences(
        docs, "doc_id", "tokens", seq_len=_PACK_SEQ_LEN, num_shards=_PACK_SHARDS
    ).orderBy("shard", "seq", "seq_offset")


def q_quality_filter_gopher(spark, sf_dir):
    """Gopher-style quality filtering (functions/text.py gopher_flags,
    Rae et al. 2021): per-document length / mean-word-length / symbol /
    bullet / ellipsis / alphabetic / stopword rules plus the verdict,
    all pure Catalyst columns in one scan. min_words=40 so the rule set
    actually splits this corpus; non-en documents exercise the stopword
    floor; a deterministic bullet-list/ellipsis suffix is planted on
    every 4th/5th doc so the line-shape rules fire under the driver
    gate too (single-line corpus text would leave them vacuous)."""
    from letsearch_spark.functions.text import gopher_flags

    docs = load(spark, sf_dir, "documents")
    planted = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 4 == 0,
            F.lit("\n- item one\n- item two\n- item three"),
        ).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 5 == 0, F.lit("\nto be continued ...")).otherwise(
            F.lit("")
        ),
    )
    flags = gopher_flags(planted, min_words=40)
    return docs.select(
        "doc_id", *[c.alias(n) for n, c in flags.items()]
    ).orderBy("doc_id")


def q_dedup_lines(spark, sf_dir):
    """C4-style corpus-level duplicate-line removal (operators/dedup.py
    remove_duplicate_lines): documents are deterministically laid out as
    8-word lines with a boilerplate line planted in every third doc; the
    operator strips lines occurring in >1 document everywhere except
    the lowest-key doc. Compared by md5 of the reassembled text, so the
    oracle checks exact reconstruction, not just counts. Line identity
    travels as a 60-bit hash (text never shuffles)."""
    from letsearch_spark.operators.dedup import remove_duplicate_lines

    docs = load(spark, sf_dir, "documents")
    # newline after every 8th word via one linear regexp pass (a
    # transform(sequence) lambda slicing back into the split array
    # would re-evaluate the split per LINE -- the HOF per-element
    # re-evaluation trap, SCALING.md lesson #3)
    body = F.regexp_replace(
        F.coalesce(F.col("text"), F.lit("")), r"((?:\S+ ){7}\S+) ", "$1\n"
    )
    built = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit(_BOILER_LINE + "\n"), body),
        )
        .otherwise(body)
        .alias("text"),
    )
    out = remove_duplicate_lines(built, "doc_id", "text")
    return out.select(
        "doc_id",
        F.md5(F.col("text")).alias("cleaned_md5"),
        "n_lines",
        "n_removed",
    ).orderBy("doc_id")


def q_sample_mixture(spark, sf_dir):
    """Domain-mixture resampling (operators/sample.py
    mixture_hash_sample): retarget the corpus to a weighted language
    mixture of ~300 rows. fr's target share exceeds its corpus share,
    exercising the saturation clamp (kept whole, never upsampled). The
    per-domain rates derive from one tiny count aggregation; the keep
    decision is the shared deterministic md5 bucket filter, and the
    oracle reproduces the rate arithmetic (same IEEE-double op order)
    from its own counts CTE."""
    from letsearch_spark.operators.sample import mixture_hash_sample

    docs = load(spark, sf_dir, "documents")
    return (
        mixture_hash_sample(docs, "doc_id", "lang", _MIX_WEIGHTS, _MIX_TARGET)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


# ======================================================================
# registry + oracles
# ======================================================================

# Registry order is contract-visible: the driver's correctness gate
# reads entries in order (round 2 recorded exactly the first 50), so the
# flagship pipelines (chunk -> embed -> search, streaming, multimodal,
# PDF ingest) lead, and the registry is kept at <= 50 entries. Trimmed
# near-duplicates live on as test-only twins: k1 unfiltered top-k is a
# strict subset of search_fetchback_join; dedup_components is subsumed
# by dedup_minhash_components; dedup_simhash signatures are stage one of
# dedup_simhash_pairs; the exact all-pairs q_dedup_embedding_cosine is
# the LSH entry's verification twin in tests/test_operators.py.
# ======================================================================
# round-4 contract rotation: driver rows for the formerly twin-only
# operators (DSIR, n-gram LM perplexity, semantic dedup, stateful
# streaming sessions)
# ======================================================================

_DSIR_K = 25
_PPL_CUTOFF = 30.0  # ~median rounded ppl at every sf (probed 0.001-0.1)
_SEMDEDUP_THR = 0.9
_SEMDEDUP_NLIST = 8
_SESSION_GAP_S = 1800


def q_dsir_sample(spark, sf_dir):
    """DSIR importance resampling (operators/dsir.py, Xie et al. 2023):
    target = the lang='en' slice, raw = the whole documents table,
    Gumbel-top-25. Rank-only contract form: the float log-weights order
    the sample but never surface (aggregation order shifts their last
    ulps; the ranking is stable -- min adjacent gumbel-key gap is
    ~2.7e-3 at sf0.1, nine orders above double noise). Oracle: an
    independent hashlib/math twin emitted as a VALUES literal."""
    from letsearch_spark.operators.dsir import dsir_sample

    docs = load(spark, sf_dir, "documents")
    target = docs.where(F.col("lang") == "en")
    picked = dsir_sample(docs, target, k=_DSIR_K)
    w = Window.orderBy(F.desc("gumbel_key"), F.asc("doc_id"))
    return picked.select(
        F.row_number().over(w).cast("long").alias("rank"), "doc_id"
    )


def q_perplexity_filter(spark, sf_dir):
    """CCNet-style perplexity filter (operators/ngram_lm.py): bigram LM
    trained on the lang='en' slice scores every document; keep
    ppl <= 30 (~the median -- the cut genuinely splits the corpus at
    every sf). Scores are rounded to 6 decimals INSIDE perplexity()
    before the cutoff compare, so ulp-level aggregation-order noise
    can't flip membership or the hashed values. One scoring pass: the
    where-clause below IS perplexity_filter's keep rule (the operator
    adds only a join back to the doc columns;
    test_perplexity_filter_keeps_in_distribution pins the equivalence).
    Oracle: single-process Counter/math twin with the identical HALF_UP
    rounding."""
    from letsearch_spark.operators.ngram_lm import perplexity, train_ngram_lm

    docs = load(spark, sf_dir, "documents")
    lm = train_ngram_lm(docs.where(F.col("lang") == "en"), n=2)
    scored = perplexity(docs, lm, n=2)
    return (
        scored.where(F.col("ppl") <= _PPL_CUTOFF)
        .select("doc_id", "n_grams", "ppl")
        .orderBy("doc_id")
    )


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup keep-list (operators/dedup.py semantic_dedup, Abbas et
    al. 2023): spherical k-means (8 lists, seed 42) over the embeddings
    table, then the min-id keep rule within each cluster at cos >= 0.9.
    Deterministic end-to-end: the trainer collects a key-sorted sample
    and the per-cluster judge sorts by id, so the numpy twin in the
    computed oracle reproduces cluster ids and keep bits exactly (same
    float64 kernels -- proven bit-equal by the pytest twin)."""
    from letsearch_spark.operators.dedup import semantic_dedup

    emb = load(spark, sf_dir, "embeddings")
    return semantic_dedup(
        emb,
        id_col="vec_id",
        vec_col="embedding",
        threshold=_SEMDEDUP_THR,
        nlist=_SEMDEDUP_NLIST,
    ).orderBy("vec_id")


def q_stream_sessionize(spark, sf_dir):
    """Stateful streaming session windows (streaming/stateful.py
    session_windows, applyInPandasWithState + event-time timeout)
    replayed over the events table with an availableNow trigger. The
    source is written as ONE file so exactly one data micro-batch runs
    (watermark 0 -> no late drops), followed by the engine's no-data
    batch where the final watermark (max ts - 2h) fires timeouts.
    Closed-session set is therefore batch-deterministic: every
    non-final session per user (closed in-batch by the gap rule) plus
    final sessions whose timeout (last_ms + gap) precedes the final
    watermark -- exactly what the SQL oracle expresses."""
    import uuid

    from letsearch_spark.streaming.stateful import session_windows

    ev = load(spark, sf_dir, "events")
    src = _scratch_dir("ls_sess_") + "/events"
    ev.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    out = session_windows(
        stream, gap_seconds=_SESSION_GAP_S, watermark="2 hours"
    )
    name = f"sess_{uuid.uuid4().hex[:12]}"
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise RuntimeError("stream_sessionize replay did not terminate")
    return spark.table(name).orderBy("user_id", "session_start")


# ======================================================================
# round-5 contract rotation: driver rows for the round-4 twin-only
# flagships (BPE exact token counts, PQ/ADC top-k, span-level substring
# dedup, quality-classifier keep-list)
# ======================================================================

_BPE_VOCAB = 200
_PQ_M = 8
_PQ_K = 10
_SPAN_WIDTH = 10
_SPAN_BOILER = (
    "this document is provided as is without warranty of any kind "
    "express or implied"
)  # 14 words; every width-10 window inside it goes hot when planted
_CLF_ITERS = 12


def q_token_count_bpe(spark, sf_dir):
    """BPE-exact token counts (tokenizer.py train_bpe +
    token_count_exact): train a 200-symbol BPE on the documents table
    (distributed word-count shuffle, driver-side merge training over
    the bounded type table), then count tokens at DISTINCT-WORD cost
    (each type encoded once in an Arrow batch, per-type lengths
    broadcast back). Counts are integers -- hash-stable. Oracle: a
    Counter + the same pure-Python merge trainer/encoder, emitted as a
    VALUES literal (merge selection is order-independent: max count,
    lexicographically-smallest tie-break)."""
    from letsearch_spark.tokenizer import token_count_exact, train_bpe

    docs = load(spark, sf_dir, "documents")
    model = train_bpe(docs, "text", vocab_size=_BPE_VOCAB)
    return token_count_exact(docs, "doc_id", "text", model).orderBy("doc_id")


def q_pq_adc_topk(spark, sf_dir):
    """PQ/ADC top-k (operators/pq.py): codebooks trained on the
    key-sorted sample (pq_fit numpy core, deterministic across
    partitionings), vectors encoded to m=8 one-byte codes, the vec_id-0
    query scored by ADC lookup sums -- no float vector travels or
    decodes. Ranks derive from the unrounded ADC scores (ties by
    vec_id); the emitted score is rounded to 6 decimals. Oracle: the
    same pq_fit + expanded-quadratic encode + LUT sum in single-process
    numpy (bit-equal by construction; pinned in tests/test_pq.py)."""
    from letsearch_spark.operators.pq import encode_pq, pq_topk, train_pq

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").alias("vector")
    )
    cb = train_pq(emb, m=_PQ_M, nbits=8, key_col="vec_id")
    coded = encode_pq(emb, cb).select("vec_id", "pq_code")
    qvec = emb.where(F.col("vec_id") == 0).select("vector").collect()[0][0]
    hits = pq_topk(
        coded, cb, [float(x) for x in qvec], k=_PQ_K, key_col="vec_id"
    )
    w = Window.orderBy(F.desc("score"), F.asc("vec_id"))
    return hits.select(
        F.row_number().over(w).cast("long").alias("rank"),
        "vec_id",
        F.round("score", 6).alias("score"),
    )


def q_dedup_substring_spans(spark, sf_dir):
    """Span-level exact substring dedup (operators/dedup.py
    remove_duplicate_ngrams, Lee et al. 2021): a 14-word boilerplate
    span planted at the head of every 3rd document, width-10 windows --
    every window inside the span goes hot, so non-keeper planted docs
    lose exactly the boilerplate while the lowest-key doc keeps it.
    Compared by md5 of the rebuilt text plus per-doc removed-word
    counts, so the oracle checks exact span surgery, not just counts.
    Oracle: an independent single-process twin over exact word-tuple
    windows (no hashing -- the operator's 60-bit window hashes are
    collision-free at any tested scale)."""
    from letsearch_spark.operators.dedup import remove_duplicate_ngrams

    docs = load(spark, sf_dir, "documents")
    built = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit(_SPAN_BOILER + " "), F.coalesce("text", F.lit(""))
            ),
        )
        .otherwise(F.coalesce("text", F.lit("")))
        .alias("text"),
    )
    out = remove_duplicate_ngrams(built, "doc_id", "text", width=_SPAN_WIDTH)
    return out.select(
        "doc_id",
        F.md5("text").alias("cleaned_md5"),
        "n_words",
        "n_removed",
    ).orderBy("doc_id")


def q_quality_classifier_keep(spark, sf_dir):
    """GPT-3-style quality-classifier keep-list (operators/classifier.py):
    logistic regression on hashed n-gram features, positive = the
    lang='en' slice, negative = the rest, trained by 12 full-batch
    momentum-GD iterations where only the <=1e4-row weight table and
    per-bucket gradients travel; filtered with the deterministic
    md5-Pareto rule (keep iff score > 1 - Pareto(9) variate drawn from
    an md5 uniform on the id). Keep-list only -- scores never surface
    (their last ulps are aggregation-order-dependent; the keep margins
    are orders of magnitude wider, measured in the classifier margin
    test). Oracle: a pure-Python featurize/GD/score/Pareto twin as a
    VALUES literal."""
    from letsearch_spark.operators.classifier import (
        fit_quality_classifier,
        quality_classifier_filter,
    )

    docs = load(spark, sf_dir, "documents")
    pos = docs.where(F.col("lang") == "en")
    neg = docs.where(F.col("lang") != "en")
    model = fit_quality_classifier(pos, neg, iterations=_CLF_ITERS)
    kept = quality_classifier_filter(docs, model, mode="pareto")
    return kept.select("doc_id", "lang").orderBy("doc_id")


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # -- flagship spine: chunk -> embed -> search, ingest formats,
    #    streaming, multimodal --
    "chunk_documents": q_chunk_documents,
    "embed_stub": q_embed_stub,
    "search_e2e": q_search_e2e,
    "pdf_ingest": q_pdf_ingest,
    "stream_incremental_count": q_stream_incremental_count,
    "stream_sessionize": q_stream_sessionize,
    "multimodal_decode": q_multimodal_decode,
    # -- sources / collection surface --
    "s2_ingest_dense_key": q_s2_ingest_dense_key,
    # -- vector search --
    "k1_topk_label_filtered": q_k1_topk_label_filtered,
    "search_fetchback_join": q_search_fetchback_join,
    "knn_join": q_knn_join,
    "ann_ivf_assign": q_ann_ivf_assign,
    "pq_adc_topk": q_pq_adc_topk,
    # -- dedup / decontamination family --
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_substring_spans": q_dedup_substring_spans,
    "semantic_dedup": q_semantic_dedup,
    # -- text analysis / tokenization / model-based filtering --
    "text_profile": q_text_profile,
    "quality_filter_gopher": q_quality_filter_gopher,
    "quality_classifier_keep": q_quality_classifier_keep,
    # -- relational / OLAP --
    "agg_pricing_summary": q_agg_pricing_summary,
    "join_top_orders": q_join_top_orders,
    "events_asof_last_order": q_events_asof_last_order,
    # -- sampling / selection / skew tooling --
    "dsir_sample": q_dsir_sample,
    "perplexity_filter": q_perplexity_filter,
    "pack_sequences": q_pack_sequences,
    "search_bm25_hybrid": q_search_bm25_hybrid,
}


def q_c4_page_filter(spark, sf_dir):
    """C4 cleaning (functions/text.py c4_clean_lines + c4_flags): the
    synthetic corpus carries no punctuation, so sentence structure is
    stamped on IN-PLAN first (a period per 10 words, a line break per 3
    sentences -- RE2/Java-portable regexps), then lines are rewritten
    and pages judged. Output: per-doc cleaned length, sentence count,
    and the page verdict. Oracle: the same stamping + lambda line
    filter in DuckDB SQL (list_filter over the newline split)."""
    from letsearch_spark.functions.text import c4_clean_lines, c4_flags

    docs = load(spark, sf_dir, "documents")
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
        "doc_id", c4_clean_lines(F.col("text"), min_line_words=5).alias("text")
    )
    fl = c4_flags(F.col("text"), min_sentences=3)
    return cleaned.select(
        "doc_id",
        F.length("text").cast("long").alias("clean_len"),
        fl["n_sentences"].alias("n_sentences"),
        fl["passes"].alias("passes"),
    ).orderBy("doc_id")


def q_perplexity_buckets(spark, sf_dir):
    """CCNet head/middle/tail corpus split (operators/ngram_lm.py
    perplexity_buckets, exact percentiles): same lang='en' bigram LM as
    q_perplexity_filter, fractions (1/3, 1/3). Bucket membership is
    robust to cross-engine float noise: cutoffs interpolate between
    round-6 score endpoints, so a doc AT an endpoint compares the same
    way in both engines (strictly-inside cutoff or bit-equal endpoint).
    Oracle: the proven Counter/math scoring twin + Spark's exact
    percentile formula in Python."""
    from letsearch_spark.operators.ngram_lm import (
        perplexity_buckets,
        train_ngram_lm,
    )

    docs = load(spark, sf_dir, "documents")
    lm = train_ngram_lm(docs.where(F.col("lang") == "en"), n=2)
    out = perplexity_buckets(
        docs, lm, fractions=(1.0 / 3.0, 1.0 / 3.0), exact=True
    )
    return out.select("doc_id", "n_grams", "ppl", "ppl_bucket").orderBy(
        "doc_id"
    )


def q_corpus_data_card(spark, sf_dir):
    """Corpus data card (pipeline.py corpus_report): per-domain rows
    plus a GROUPING()-marked grand total from ONE rollup aggregation
    over a single scan. Oracle: the same ROLLUP in DuckDB SQL. The
    contract projection replaces the rounded-double avg_words with the
    all-integer avg_words_micro (floor(total_words * 1e6 / n_docs)) so
    the gate's pandas fetch path (HUGEINT/double -> float64) never sees
    a float in these rows (r7 post-mortem)."""
    from letsearch_spark.pipeline import corpus_report

    docs = load(spark, sf_dir, "documents")
    return corpus_report(docs, key_col="doc_id", domain_col="lang").select(
        "domain",
        "is_total",
        "n_docs",
        "n_empty",
        "total_chars",
        "total_words",
        "total_tokens",
        F.expr("(total_words * 1000000L) div n_docs").alias(
            "avg_words_micro"
        ),
        "max_chars",
    )


_EPOCH_WEIGHTS = {"en": 1.0, "fr": 6.0, "de": 1.0}


def q_mixture_epochs(spark, sf_dir):
    """Domain mixture with TRUE upsampling (operators/sample.py
    mixture_with_epochs): target = the corpus size with fr weighted 6/8
    -> fr's rate exceeds 1 (multiple epochs; clamped at 4), en/de are
    subsampled, es is unlisted and dropped. The oracle reproduces the
    rate arithmetic (same IEEE op order), the epoch explode, and the
    shared md5-bucket partial-copy cut per (key, epoch)."""
    from letsearch_spark.operators.sample import mixture_with_epochs

    docs = load(spark, sf_dir, "documents")
    target = docs.count()
    return (
        mixture_with_epochs(
            docs, "doc_id", "lang", _EPOCH_WEIGHTS, target, max_epochs=4.0
        )
        .select("doc_id", "lang", "epoch")
        .orderBy("doc_id", "epoch")
    )


_WINNOW_K, _WINNOW_W, _WINNOW_MAX_ID = 5, 4, 120


def q_winnow_fingerprints(spark, sf_dir):
    """Winnowing fingerprints (operators/dedup.py winnow_fingerprints,
    Schleimer et al. 2003): distinct (doc, fp) pairs over a fixed
    120-doc slice (constant output size at every sf -- the literal
    oracle stays bounded). Oracle: independent Python md5/window-min
    twin of the full hash pipeline."""
    from letsearch_spark.operators.dedup import winnow_fingerprints

    docs = load(spark, sf_dir, "documents").where(
        F.col("doc_id") < _WINNOW_MAX_ID
    )
    return winnow_fingerprints(
        docs, "doc_id", "text", k=_WINNOW_K, w=_WINNOW_W
    ).orderBy("doc_id", "fp")


_TEMP_T = 0.5


def q_temperature_mixture(spark, sf_dir):
    """Temperature-flattened mixture (operators/sample.py
    temperature_weights -> mixture_hash_sample, the XLM-R multilingual
    sampling rule at T=0.5): weights derive share^T-normalized from the
    per-language counts, then the usual zero-shuffle md5 hash filter
    keeps ~half the corpus at the flattened mixture. The counts dict is
    built in sorted-language order so the driver-side float sums (z,
    total) are order-deterministic and the oracle replays the identical
    IEEE arithmetic; the derived weights are inlined as 17-digit double
    literals, exactly like the sample_mixture oracle."""
    from letsearch_spark.operators.sample import (
        mixture_hash_sample,
        temperature_weights,
    )

    docs = load(spark, sf_dir, "documents")
    counts = {
        r["d"]: r["n"]
        for r in sorted(
            docs.groupBy(F.col("lang").alias("d"))
            .agg(F.count(F.lit(1)).alias("n"))
            .collect(),
            key=lambda r: r["d"],
        )
    }
    weights = temperature_weights(counts, _TEMP_T)
    target = sum(counts.values()) // 2
    return (
        mixture_hash_sample(
            docs, "doc_id", "lang", weights, target, counts=counts
        )
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


def _temperature_mixture_oracle(sf_dir: str) -> str:
    """SQL oracle for q_temperature_mixture: the share^T weight
    derivation replicated in pure Python (same sorted iteration order,
    same IEEE op order as temperature_weights), the derived w/total
    rates inlined as 17-digit literals, and the shared md5 bucket cut
    replayed in SQL."""
    import pyarrow.parquet as pq

    langs = pq.read_table(
        os.path.join(sf_dir, "documents.parquet"), columns=["lang"]
    ).column("lang").to_pylist()
    counts: dict[str, int] = {}
    for d in sorted(set(langs)):
        counts[d] = sum(1 for x in langs if x == d)
    tot = sum(counts.values())
    raw = {d: (n / tot) ** _TEMP_T for d, n in counts.items() if n > 0}
    z = sum(raw.values())
    weights = {d: w / z for d, w in raw.items()}
    total = sum(weights.values())
    target = tot // 2
    case = " ".join(
        f"WHEN '{d}' THEN {w / total:.17e}" for d, w in weights.items()
    )
    b42 = _MD5_60_SQL.format(x="CAST(doc_id AS VARCHAR) || '#42'")
    return f"""
        WITH cnt AS (
            SELECT lang AS d, count(*) AS n FROM documents GROUP BY lang
        )
        SELECT doc_id, lang
        FROM documents JOIN cnt ON lang = cnt.d
        WHERE ({b42}) % 1000000 < CAST(floor(least(1.0::DOUBLE,
            {target} * (CASE lang {case} ELSE 0.0 END) / n)
            * 1000000) AS BIGINT)
        ORDER BY doc_id
    """


_EVAL_K, _EVAL_NQ = 10, 20


def q_eval_lsh_recall(spark, sf_dir):
    """Retrieval evaluation (operators/evaluate.py recall_at_k +
    mrr_at_k) of a radius-1 LSH probe ranking against the exact
    brute-force ranking, 20 queries drawn from the embeddings table.
    The approx leg is the batched LSH shape: per-query probe buckets
    exploded (signature + every 1-bit flip), equi-joined to the
    bucketed base -- each (query, key) candidate appears at most once
    because a vector lives in exactly ONE bucket. Oracle: the whole
    thing in SQL (rank windows over the same double cosine, bucket
    CASE-sum signatures, LEFT-join recall and min-rank MRR)."""
    from letsearch_spark.functions.vector import cosine_similarity
    from letsearch_spark.operators.evaluate import mrr_at_k, recall_at_k
    from letsearch_spark.operators.topk import (
        _hyperplanes,
        knn_join,
        lsh_signature_col,
    )

    emb = load(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("_key"), F.col("embedding").alias("vector")
    )
    queries = emb.where(F.col("_key") < _EVAL_NQ).select(
        F.col("_key").alias("query_id"), F.col("vector").alias("qvec")
    )
    exact = knn_join(emb, queries, k=_EVAL_K)

    planes = _hyperplanes(_EMB_DIM, _LSH_BITS, seed=42)
    base_b = emb.withColumn(
        "_bucket", lsh_signature_col(F.col("vector"), planes)
    )
    probes = queries.withColumn(
        "_qsig", lsh_signature_col(F.col("qvec"), planes)
    ).select(
        "query_id",
        "qvec",
        F.explode(
            F.array(
                F.col("_qsig"),
                *[
                    F.col("_qsig").bitwiseXOR(F.lit(1 << i))
                    for i in range(_LSH_BITS)
                ],
            )
        ).alias("_bucket"),
    )
    sim = cosine_similarity("vector", "qvec")
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("_key"))
    approx = (
        base_b.join(probes, "_bucket")
        .select("query_id", "_key", sim.alias("score"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= _EVAL_K)
    )

    rec = recall_at_k(approx, exact, k=_EVAL_K)
    rr = mrr_at_k(approx, exact, k=_EVAL_K)
    return (
        rec.join(rr, "query_id")
        .select(
            "query_id",
            "n_exact",
            "n_hit",
            F.round("recall", 6).alias("recall"),
            "first_hit_rank",
            F.round("rr", 6).alias("rr"),
        )
        .orderBy("query_id")
    )


_HAM_RESCORE = 50


def q_eval_hamming_recall(spark, sf_dir):
    """Retrieval evaluation of the round-7 'auto' middle tier: the
    sign-bit Hamming candidate scan (operators/hamming.py, rescore=50)
    + exact cosine rescore, measured against the exact brute-force
    ranking with the same recall@10 / MRR@10 machinery as
    eval_lsh_recall -- the recall evidence behind resolve_strategy's
    hamming tier (SCALING.md round-7 crossover table carries the
    latency half). Oracle: a computed-literal Python twin (pack_signbits
    + popcount + the same sequential-double cosine)."""
    from letsearch_spark.functions.vector import cosine_similarity
    from letsearch_spark.operators.evaluate import mrr_at_k, recall_at_k
    from letsearch_spark.operators.hamming import (
        build_signbit_index,
        hamming_knn_join,
    )
    from letsearch_spark.operators.topk import knn_join

    emb = load(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("_key"), F.col("embedding").alias("vector")
    )
    queries = emb.where(F.col("_key") < _EVAL_NQ).select(
        F.col("_key").alias("query_id"), F.col("vector").alias("qvec")
    )
    exact = knn_join(emb, queries, k=_EVAL_K)

    idx = build_signbit_index(emb, dim=_EMB_DIM)
    cand = hamming_knn_join(idx, queries, rescore=_HAM_RESCORE)
    sim = cosine_similarity("vector", "qvec")
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("_key"))
    approx = (
        cand.select("query_id", "_key")
        .join(emb, "_key")
        .join(queries, "query_id")
        .select("query_id", "_key", sim.alias("score"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= _EVAL_K)
    )
    rec = recall_at_k(approx, exact, k=_EVAL_K)
    rr = mrr_at_k(approx, exact, k=_EVAL_K)
    return (
        rec.join(rr, "query_id")
        .select(
            "query_id",
            "n_exact",
            "n_hit",
            F.round("recall", 6).alias("recall"),
            "first_hit_rank",
            F.round("rr", 6).alias("rr"),
        )
        .orderBy("query_id")
    )


def _eval_hamming_recall_oracle(sf_dir: str) -> str:
    """Computed-literal twin of q_eval_hamming_recall: pack_signbits +
    popcount candidate ranks, sequential-double cosine (the exact
    arithmetic of knn_join's rescore and cosine_similarity),
    recall@k + first-hit MRR, HALF_UP round-6."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    import pyarrow.parquet as pq_

    from letsearch_spark.operators.hamming import pack_signbits

    tbl = pq_.read_table(
        os.path.join(sf_dir, "embeddings.parquet"),
        columns=["vec_id", "embedding"],
    ).to_pylist()
    tbl.sort(key=lambda r: r["vec_id"])
    vecs = {r["vec_id"]: [float(x) for x in r["embedding"]] for r in tbl}
    sigs = {k: pack_signbits(v) for k, v in vecs.items()}

    def _dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    def _cos(a, b):
        d = math.sqrt(_dot(a, a)) * math.sqrt(_dot(b, b))
        return 0.0 if d == 0.0 else _dot(a, b) / d

    def _round6(x: float) -> float:
        return float(
            Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP)
        )

    rows = []
    for qid in sorted(k for k in vecs if k < _EVAL_NQ):
        qv, qs = vecs[qid], sigs[qid]
        exact = sorted(
            ((_cos(v, qv), k) for k, v in vecs.items()),
            key=lambda t: (-t[0], t[1]),
        )[:_EVAL_K]
        exact_keys = {k for _, k in exact}
        ham = sorted(
            (
                (
                    sum(bin(a ^ b).count("1") for a, b in zip(s, qs)),
                    k,
                )
                for k, s in sigs.items()
            ),
            key=lambda t: (t[0], t[1]),
        )[:_HAM_RESCORE]
        rescored = sorted(
            ((_cos(vecs[k], qv), k) for _, k in ham),
            key=lambda t: (-t[0], t[1]),
        )[:_EVAL_K]
        n_hit = sum(1 for _, k in rescored if k in exact_keys)
        first = None
        for rank, (_, k) in enumerate(rescored, 1):
            if k in exact_keys:
                first = rank
                break
        rows.append(
            (
                qid,
                _EVAL_K,
                n_hit,
                _round6(n_hit / _EVAL_K),
                first,
                _round6(1.0 / first) if first else 0.0,
            )
        )
    return _values_literal(
        rows,
        [
            ("query_id", "BIGINT"),
            ("n_exact", "BIGINT"),
            ("n_hit", "BIGINT"),
            ("recall", "DOUBLE"),
            ("first_hit_rank", "BIGINT"),
            ("rr", "DOUBLE"),
        ],
    )


_HN_NQ, _HN_K, _HN_NNEG, _HN_MARGIN = 8, 10, 5, 0.05


def q_mine_hard_negatives(spark, sf_dir):
    """Hard-negative mining for retrieval training pairs
    (operators/mining.py mine_hard_negatives): 8 queries drawn from the
    embeddings table, gold positive = each query's nearest non-self
    neighbor (a rank-1 knn_join — an arbitrary pos_key would leave the
    margin filter with nothing to keep on this synthetic corpus: every
    candidate outranks a random positive), candidate depth 10,
    margin-denoised at 0.05, 5 negatives kept — 48-58 survivors
    pre-cut at sf0.001-0.1, so the entry exercises both the filter and
    the partial-fill case. Candidates come from the production knn_join
    kernel and the positive score from cosine_similarity -- one
    sequential-double cosine fold, bit-identical to DuckDB's. Scores
    round to 6 for hash stability (k1 pattern), ranks are computed on
    raw doubles."""
    from letsearch_spark.operators.mining import mine_hard_negatives
    from letsearch_spark.operators.topk import knn_join

    emb = load(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("_key"), F.col("embedding").alias("vector")
    )
    queries = emb.where(F.col("_key") < _HN_NQ).select(
        F.col("_key").alias("query_id"), F.col("vector").alias("qvec")
    )
    nn1 = knn_join(emb, queries, k=1, exclude_self=True)
    pairs = queries.join(
        nn1.select("query_id", F.col("_key").alias("pos_key")), "query_id"
    )
    out = mine_hard_negatives(
        emb,
        pairs,
        k=_HN_K,
        num_negatives=_HN_NNEG,
        margin=_HN_MARGIN,
    )
    return out.select(
        "query_id",
        "neg_key",
        F.round("score", 6).alias("score"),
        "neg_rank",
    ).orderBy("query_id", "neg_rank")


def q_training_pairs(spark, sf_dir):
    """Contrastive training-pair assembly (operators/mining.py
    build_training_pairs) on top of the staged mining entry: the mined
    negatives and the gold positives fetch their text back from the
    documents table (vec_id == doc_id, the search_fetchback_join
    identity) and each query becomes one (anchor, positive_text,
    negative_texts[]) row, negatives ordered by mined rank. The
    CONTRACT projection flattens the array: one row per (query,
    negative) via posexplode_outer (neg_rank = position + 1; a query
    with zero surviving negatives emits one rank-0 row with an empty
    text), because the gate's pandas canonicalizer cannot sort
    array-typed cells (r7 post-mortem). The array-valued operator API
    is unchanged and stays pinned by tests/test_mining.py. Oracle: the
    mining SQL extended with two text joins, flattened the same way."""
    from letsearch_spark.operators.mining import (
        build_training_pairs,
        mine_hard_negatives,
    )
    from letsearch_spark.operators.topk import knn_join

    emb = load(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("_key"), F.col("embedding").alias("vector")
    )
    queries = emb.where(F.col("_key") < _HN_NQ).select(
        F.col("_key").alias("query_id"), F.col("vector").alias("qvec")
    )
    nn1 = knn_join(emb, queries, k=1, exclude_self=True)
    pairs = queries.join(
        nn1.select("query_id", F.col("_key").alias("pos_key")), "query_id"
    )
    negs = mine_hard_negatives(
        emb,
        pairs,
        k=_HN_K,
        num_negatives=_HN_NNEG,
        margin=_HN_MARGIN,
    )
    docs = load(spark, sf_dir, "documents")
    tp = build_training_pairs(negs, docs, pairs, key_col="doc_id")
    return (
        tp.select(
            "query_id",
            "positive_text",
            F.posexplode_outer("negative_texts").alias(
                "_pos", "negative_text"
            ),
        )
        .select(
            "query_id",
            "positive_text",
            (F.coalesce(F.col("_pos"), F.lit(-1)) + 1)
            .cast("long")
            .alias("neg_rank"),
            F.coalesce("negative_text", F.lit("")).alias("negative_text"),
        )
        .orderBy("query_id", "neg_rank")
    )


def q_split_leakage_safe(spark, sf_dir):
    """Leakage-safe train/val/test split (operators/sample.py
    leakage_safe_split): the full MinHash dedup pipeline supplies the
    connected-component representatives, and the split hashes the
    REPRESENTATIVE instead of the document key, so a near-dup pair can
    never straddle train/test (Lee et al. 2021's eval-inflation leak,
    closed structurally). Oracle: the recursive-CTE closure over the
    shared banded-pairs SQL + the same md5 bucket cut on the component
    id."""
    from letsearch_spark.operators.dedup import (
        dedup_keep_list,
        minhash_lsh_pairs,
    )
    from letsearch_spark.operators.sample import leakage_safe_split

    docs = load(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        docs,
        "doc_id",
        "text",
        n=3,
        num_perms=_N_PERMS,
        band_rows=_BAND_ROWS,
        threshold=0.5,
    )
    comps = dedup_keep_list(docs, pairs, "doc_id").select("id", "component")
    return (
        leakage_safe_split(docs, comps, "doc_id")
        .select("doc_id", "split")
        .orderBy("doc_id")
    )


def q_decontaminate_bloom(spark, sf_dir):
    """Decontamination through the broadcast-Bloom pre-filter
    (operators/bloom.py decontaminate_with_bloom): same split and
    parameters as q_decontaminate_containment, but the corpus side is
    scan + vectorized bit-test with NO corpus-wide shuffle -- only
    Bloom-hit shingles enter the exact verify join. Output is
    bit-identical to the join path (false positives die in the equi-join,
    no false negatives exist), so the oracle is the same containment
    SQL."""
    from letsearch_spark.operators.bloom import decontaminate_with_bloom

    docs = load(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % 2 == 0)
    probes = docs.where(F.col("doc_id") % 2 == 1)
    return decontaminate_with_bloom(
        corpus,
        probes,
        "doc_id",
        "text",
        "doc_id",
        "text",
        n=3,
        threshold=0.5,
        max_shingle_freq=_MAX_SHINGLE_FREQ,
    ).orderBy("corpus_id", "probe_id")


def q_curriculum_order(spark, sf_dir):
    """Length curriculum over documents (operators/curriculum.py): exact
    global rank by (word count, doc_id) via distributed ranking -- range
    partitions + per-partition offsets, never a single-partition window
    -- then NTILE(8) shard assignment. Oracle replays it with DuckDB's
    row_number/ntile over the same total order."""
    from letsearch_spark.operators.curriculum import curriculum_shards

    docs = load(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        F.size(
            F.split(F.trim(F.coalesce(F.col("text"), F.lit(""))), r"\s+")
        )
        .cast("long")
        .alias("wc"),
    )
    return (
        curriculum_shards(scored, "wc", "doc_id", num_shards=8)
        .select("doc_id", "wc", "rank", "shard")
        .orderBy("rank")
    )


def q_vocab_coverage(spark, sf_dir):
    """Zipf coverage curve (operators/vocab.py vocab_coverage): token
    share covered by the top-{10,100,1000} most frequent word types.
    Type ranking goes through distributed_rank (no single-partition
    window); the oracle replays it with a plain row_number. The contract
    projection carries the covered share as an integer micro-unit
    (floor(covered * 1e6 / total)) instead of a rounded double — the
    gate's pandas fetch path coerces DuckDB HUGEINT/doubles to float64,
    so contract rows stay all-integer (r7 post-mortem)."""
    from letsearch_spark.operators.vocab import vocab_coverage

    docs = load(spark, sf_dir, "documents")
    return vocab_coverage(docs, "text", ks=(10, 100, 1000)).select(
        "k",
        "vocab_k",
        "covered_tokens",
        "total_tokens",
        F.expr("(covered_tokens * 1000000L) div total_tokens").alias(
            "coverage_micro"
        ),
    )


def _synth_html(doc_id, text):
    """Deterministic HTML page around a document (Spark side): title
    with an entity, a script whose content must vanish, a bold inline
    tag mid-text, a comment, a link-bearing footer div. The DuckDB
    oracle builds the identical string (_HTML_SYNTH_SQL)."""
    return F.concat(
        F.lit("<html><head><title>Doc "),
        doc_id.cast("string"),
        F.lit(" &amp; notes</title><script>var x = 1 < 2;</script>"),
        F.lit("</head><body><p>"),
        F.replace(
            F.coalesce(text, F.lit("")),
            F.lit(" the "),
            F.lit(" <b>the</b> "),
        ),
        F.lit("</p><!-- id "),
        doc_id.cast("string"),
        F.lit(' --><div>footer&nbsp;notes</div><a href="http://x">x</a>'),
        F.lit("</body></html>"),
    )


def q_html_extract(spark, sf_dir):
    """HTML -> text extraction (functions/html.py): documents wrapped in
    deterministic synthetic pages (scripts, comments, inline tags,
    entities, a link-bearing footer), then the scan-only regexp chain
    extracts text/title/link stats. The oracle rebuilds the SAME page in
    SQL and replays the identical regex chain
    (html.oracle_sql_chain keeps the two side by side)."""
    from letsearch_spark.functions.html import (
        html_link_count,
        html_title,
        html_to_text,
    )

    docs = load(spark, sf_dir, "documents")
    page = _synth_html(F.col("doc_id"), F.col("text"))
    clean = html_to_text(page)
    return docs.select(
        "doc_id",
        html_title(page).alias("title"),
        html_link_count(page).alias("n_links"),
        F.length(clean).cast("long").alias("clean_len"),
        F.md5(clean).alias("clean_md5"),
    ).orderBy("doc_id")


def q_dataset_diff(spark, sf_dir):
    """Snapshot diff (operators/diff.py dataset_diff): 'new' is the
    documents table with every doc_id%10==0 dropped, every doc_id%7==0
    suffixed ' v2', and five fresh keys appended -- the per-key
    added/removed/changed/unchanged ledger a release gate reads. Hashes
    travel, text does not; the oracle replays the mutation and a full
    outer join in SQL."""
    from letsearch_spark.operators.diff import dataset_diff

    old = load(spark, sf_dir, "documents")
    mutated = (
        old.where(F.col("doc_id") % 10 != 0)
        .withColumn(
            "text",
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(F.coalesce(F.col("text"), F.lit("")), F.lit(" v2")),
            ).otherwise(F.col("text")),
        )
    )
    fresh = old.where(F.col("doc_id") < 5).select(
        (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"),
        F.lit("brand new document").alias("text"),
        *[
            F.col(c)
            for c in old.columns
            if c not in ("doc_id", "text")
        ],
    )
    new = mutated.unionByName(fresh)
    return dataset_diff(old, new, "doc_id", ["text"]).orderBy("doc_id")


def q_shuffle_order(spark, sf_dir):
    """Seeded global shuffle (operators/curriculum.py shuffle_order):
    every document's exact position under the md5(id#42) permutation --
    reproducible epoch shuffling through distributed_rank's range
    shuffle, never a single-partition window. The oracle is a plain
    row_number over the same md5 order."""
    from letsearch_spark.operators.curriculum import shuffle_order

    docs = load(spark, sf_dir, "documents").select("doc_id")
    return (
        shuffle_order(docs, "doc_id", seed=42)
        .select("doc_id", "shuffle_rank")
        .orderBy("doc_id")
    )


def _py_round6(x: float) -> float:
    """Driver-side HALF_UP round to 6 (same rule as F.round(double, 6));
    shared by q_ann_kmeans_full and its computed oracle twin."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(float(x))).quantize(Decimal("0.000001"), ROUND_HALF_UP))


def q_ann_kmeans_full(spark, sf_dir):
    """Full-corpus distributed k-means (operators/ann.py kmeans_fit_full):
    3 Lloyd iterations over EVERY vector -- assignment is a map-side
    matmul, per-cluster means are fixed-point integer sums
    (order-independent, hence engine-exact), renorm is a tiny driver
    step. Output: one row per (cluster, dimension) with the trained
    centroid value plus the cluster's final member count; the oracle is
    the bit-identical single-process twin (kmeans_fit_full_twin)."""
    from letsearch_spark.operators.ann import assign_lists, kmeans_fit_full

    emb = load(spark, sf_dir, "embeddings")
    cent = kmeans_fit_full(
        emb, nlist=8, vec_col="embedding", key_col="vec_id", iters=3
    )
    counts = (
        assign_lists(emb, cent, vec_col="embedding")
        .groupBy(F.col("_list").cast("long").alias("list_id"))
        .agg(F.count(F.lit(1)).alias("n_members"))
    )
    rows = [
        (int(i), int(p), _py_round6(v))
        for i, c in enumerate(cent)
        for p, v in enumerate(c)
    ]
    cdf = spark.createDataFrame(rows, "list_id long, pos long, val double")
    return cdf.join(counts, "list_id", "left").select(
        "list_id", "pos", "val", F.coalesce("n_members", F.lit(0)).alias("n_members")
    ).orderBy("list_id", "pos")


def q_embed_mean_pool(spark, sf_dir):
    """Distributed elementwise vector pooling (operators/pool.py
    mean_pool_vectors): per-label mean embedding over the FULL table --
    chunk->doc pooling / full-corpus centroids the driver-sampled
    k-means trainer can't see. Runs the fixed-point path
    (exact_units=1e6) so the pooled floats are order-independent integer
    sums, hash-matching the oracle's identical accumulation exactly."""
    from letsearch_spark.operators.pool import mean_pool_vectors

    emb = load(spark, sf_dir, "embeddings")
    pooled = mean_pool_vectors(
        emb, "label", "embedding", out_col="pooled", exact_units=1_000_000
    )
    # contract rows carry SCALARS only (r8 rule, the r7 post-mortem):
    # one row per (label, dimension) instead of an array cell
    return (
        pooled.select("label", "n_vecs", F.posexplode("pooled").alias("pos", "v"))
        .select(
            "label",
            (F.col("pos") + 1).cast("long").alias("pos"),
            F.round("v", 6).alias("v"),
            "n_vecs",
        )
        .orderBy("label", "pos")
    )


_MEAN_POOL_ORACLE_SQL = """
    WITH ex AS (
        SELECT label, u.pos AS pos, CAST(embedding[u.pos] AS DOUBLE) AS v
        FROM embeddings,
             LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS pos) u
    ),
    per AS (
        SELECT label, pos,
               sum(CAST(round(v * 1000000) AS BIGINT)) AS s,
               count(*) AS n
        FROM ex GROUP BY label, pos
    )
    SELECT label, CAST(pos AS BIGINT) AS pos,
           round(s / (1000000.0 * n), 6) AS v,
           CAST(n AS BIGINT) AS n_vecs
    FROM per ORDER BY label, pos
"""


def q_sample_stratified_exact(spark, sf_dir):
    """Exact k-per-stratum sampling (operators/sample.py
    stratified_topk_sample): exactly 25 documents per source, chosen by
    the md5(doc_id#42) hash order -- the hard per-domain cap / balanced
    eval-subset rule a rate-based sampler can't promise. The rank-limit
    window compiles to WindowGroupLimit (map-side top-k before the
    shuffle; plan-gated in tests/test_plans.py); the oracle is the same
    row_number QUALIFY in DuckDB."""
    from letsearch_spark.operators.sample import stratified_topk_sample

    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    return stratified_topk_sample(
        docs, "doc_id", "source", k=25, seed=42, rank_col="sample_rank"
    ).orderBy("source", "sample_rank")


_STRATIFIED_EXACT_ORACLE_SQL = f"""
    SELECT doc_id, source, rn AS sample_rank FROM (
        SELECT doc_id, source,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY {_MD5_60_SQL.format(x="CAST(doc_id AS VARCHAR) || '#42'")} ASC,
                            doc_id ASC
               ) AS rn
        FROM documents
    ) WHERE rn <= 25
    ORDER BY source, sample_rank
"""


def q_dedup_survivor_quality(spark, sf_dir):
    """Quality-aware dedup survivor selection (operators/dedup.py
    dedup_keep_best): the same banded MinHash candidates -> exact-Jaccard
    verify -> connected components as dedup_minhash_components, but each
    cluster's survivor is its highest-``n_chars`` member (tie -> lowest
    id) instead of the min id -- the FineWeb/RefinedWeb keep rule (keep
    the best copy, not the first-ingested one). The oracle reuses the
    shared banded-pair SQL and recursive closure, then picks survivors
    with a (score DESC, id ASC) window rank."""
    from letsearch_spark.operators.dedup import dedup_keep_best, minhash_lsh_pairs

    docs = load(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        docs,
        "doc_id",
        "text",
        n=3,
        num_perms=_N_PERMS,
        band_rows=_BAND_ROWS,
        threshold=0.5,
    )
    return dedup_keep_best(docs, pairs, "doc_id", "n_chars").orderBy("id")


def _survivor_quality_oracle_sql() -> str:
    mh = _mh_pairs_oracle_sql()
    return f"""
        WITH RECURSIVE
        pairs AS ({mh}),
        edges AS (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION
            SELECT id_b AS src, id_a AS dst FROM pairs
        ),
        reach(a, b) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
        ),
        comp AS (SELECT a AS id, min(b) AS component FROM reach GROUP BY a),
        scored AS (
            SELECT c.id, c.component, d.n_chars AS score
            FROM comp c JOIN documents d ON d.doc_id = c.id
        ),
        ranked AS (
            SELECT id, component,
                   row_number() OVER (
                       PARTITION BY component ORDER BY score DESC, id ASC
                   ) AS rn
            FROM scored
        )
        SELECT id, component, (rn = 1) AS is_kept FROM ranked ORDER BY id
    """


def q_ann_hamming_topk(spark, sf_dir):
    """Binary sign-bit ANN (operators/hamming.py): 1-bit-per-dimension
    signatures (32x smaller than f32), candidates ranked by
    bit_count(xor) Hamming distance in a TakeOrderedAndProject scan,
    then an exact cosine rescore of ONLY the top-40 candidates via a
    broadcast fetch-back -- the memory-bound serving path when even the
    embedding table outgrows the cluster. The oracle replays the exact
    packing (bit j set iff v > 0), the same two-word Hamming rank, and
    the same rescore in SQL."""
    from letsearch_spark.operators.hamming import build_signbit_index, hamming_topk

    emb = load(spark, sf_dir, "embeddings")
    qvec = emb.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    idx = build_signbit_index(emb, dim=64, vec_col="embedding", key_col="vec_id")
    out = hamming_topk(
        idx,
        emb,
        qvec,
        k=10,
        rescore=40,
        key_col="vec_id",
        vec_col="embedding",
    )
    return out.select("vec_id", "hamming", F.round("score", 6).alias("score"))


def _signbit_word_sql(col: str, lo: int, hi: int) -> str:
    """SQL twin of one signature word: bits lo..hi-1 of the packing
    (DuckDB arrays are 1-indexed; bit set iff element strictly > 0)."""
    terms = " + ".join(
        f"(CASE WHEN ({col})[{i + 1}] > 0 THEN CAST({1 << (i - lo)} AS BIGINT)"
        " ELSE CAST(0 AS BIGINT) END)"
        for i in range(lo, hi)
    )
    return f"({terms})"


def _hamming_oracle_sql() -> str:
    cos = (
        "list_dot_product(({a})::DOUBLE[], ({b})::DOUBLE[]) / "
        "(sqrt(list_dot_product(({a})::DOUBLE[], ({a})::DOUBLE[])) * "
        "sqrt(list_dot_product(({b})::DOUBLE[], ({b})::DOUBLE[])))"
    )
    return f"""
        WITH sig AS (
            SELECT vec_id, embedding,
                   {_signbit_word_sql("embedding", 0, 32)} AS w0,
                   {_signbit_word_sql("embedding", 32, 64)} AS w1
            FROM embeddings
        ), q AS (
            SELECT w0 AS qw0, w1 AS qw1, embedding AS qvec
            FROM sig WHERE vec_id = 0
        ), cand AS (
            SELECT vec_id, ham FROM (
                SELECT s.vec_id,
                       CAST(bit_count(xor(s.w0, q.qw0))
                            + bit_count(xor(s.w1, q.qw1)) AS BIGINT) AS ham
                FROM sig s CROSS JOIN q
            ) QUALIFY row_number() OVER (ORDER BY ham ASC, vec_id ASC) <= 40
        )
        SELECT vec_id, hamming, round(cosim, 6) AS score FROM (
            SELECT c.vec_id, c.ham AS hamming,
                   {cos.format(a="s.embedding", b="q.qvec")} AS cosim
            FROM cand c JOIN sig s ON s.vec_id = c.vec_id CROSS JOIN q
        ) ORDER BY cosim DESC, vec_id ASC LIMIT 10
    """


def q_search_maxsim(spark, sf_dir):
    """Multi-vector late-interaction retrieval (operators/pool.py
    maxsim_topk, the ColBERT MaxSim rule): three query vectors, each
    group's score = m0 + m1 + m2 where m_i is the group's best cosine
    against query vector i -- ONE partial-aggregated groupBy, fixed-order
    sum, TakeOrdered top-5 groups. The oracle pivots the same per-(group,
    qvec) maxes with CASE aggregation and sums them in the identical
    order."""
    from letsearch_spark.operators.pool import maxsim_topk

    emb = load(spark, sf_dir, "embeddings")
    qvecs = [
        r["embedding"]
        for r in emb.where(F.col("vec_id") < 3).orderBy("vec_id").collect()
    ]
    out = maxsim_topk(emb, qvecs, k=5, group_col="label", vec_col="embedding")
    return out.select("label", F.round("score", 6).alias("score"), "n_chunks")


_MAXSIM_COLL_QUERIES = [
    "spark join query window batch data",
    "dedup minhash shingle band bucket",
    "stream watermark session state",
]


def q_search_maxsim_collection(spark, sf_dir):
    """MaxSim through the COLLECTION serving path (r8, VERDICT r6 #6:
    'a ColBERT user queries a collection'): stub collection over the
    documents table, rows grouped by lang via
    Collection.search_multi(group_col='lang'), three query strings
    embedded by the same model (K3), where= pre-filter, content
    fetch-back of each group's best-matching chunk (P3/P4). Oracle:
    computed-literal Python twin (same stub vectors, same sequential
    double arithmetic as the Catalyst cosine fold)."""
    from letsearch_spark.collection import Collection

    root = _scratch_dir("ls_maxsim_")
    coll = Collection.create(
        spark, root, name="ms", index_columns=["text"], model_name="stub://16"
    )
    coll.import_parquet(os.path.join(sf_dir, "documents.parquet"))
    coll.embed_column("text")
    coll.serve_filter_columns = ["lang"]
    res = coll.search_multi(
        "text",
        _MAXSIM_COLL_QUERIES,
        limit=5,
        group_col="lang",
        where="lang IS NOT NULL",
    )
    w = Window.orderBy(F.desc("score"), F.asc("group"))
    return res.select(
        F.row_number().over(w).cast("long").alias("rank"),
        F.col("group"),
        F.round("score", 6).alias("score"),
        "n_chunks",
        F.length("content").cast("long").alias("content_len"),
    )


def _maxsim_oracle_sql() -> str:
    cos = (
        "list_dot_product(({a})::DOUBLE[], ({b})::DOUBLE[]) / "
        "(sqrt(list_dot_product(({a})::DOUBLE[], ({a})::DOUBLE[])) * "
        "sqrt(list_dot_product(({b})::DOUBLE[], ({b})::DOUBLE[])))"
    )
    return f"""
        WITH q AS (
            SELECT vec_id AS qid, embedding AS qvec
            FROM embeddings WHERE vec_id < 3
        ), per AS (
            SELECT e.label, q.qid,
                   max({cos.format(a="e.embedding", b="q.qvec")}) AS m
            FROM embeddings e CROSS JOIN q
            GROUP BY e.label, q.qid
        ), pivoted AS (
            SELECT label,
                   max(CASE WHEN qid = 0 THEN m END) AS m0,
                   max(CASE WHEN qid = 1 THEN m END) AS m1,
                   max(CASE WHEN qid = 2 THEN m END) AS m2
            FROM per GROUP BY label
        )
        SELECT p.label, round(p.m0 + p.m1 + p.m2, 6) AS score, c.n_chunks
        FROM pivoted p
        JOIN (SELECT label, count(*) AS n_chunks
              FROM embeddings GROUP BY label) c ON c.label = p.label
        ORDER BY (p.m0 + p.m1 + p.m2) DESC, p.label ASC LIMIT 5
    """


def _maxsim_collection_oracle(sf_dir: str) -> str:
    """Computed-literal twin of q_search_maxsim_collection: the same
    stub vectors, the same sequential-double cosine (num / (norm_a *
    norm_b), zero-denominator -> 0), per-group per-qvec maxes summed in
    query order, best chunk = highest fixed-order cosine sum (ties only
    between identical texts, which share content_len -- the search_e2e
    argument), HALF_UP round-6 scores, top-5 by (score DESC, lang)."""
    import math

    from letsearch_spark.embedders.stub import StubEmbedder

    docs = _read_documents_cols(sf_dir, ["doc_id", "text", "lang"])
    emb = StubEmbedder(16)
    vecs = emb.embed([r["text"] if r["text"] is not None else "" for r in docs])
    qs = emb.embed(_MAXSIM_COLL_QUERIES)
    qnorms = [math.sqrt(_seq_dot(q, q)) for q in qs]

    groups: dict[str, dict] = {}
    for r, v in zip(docs, vecs):
        if r["text"] is None or r["lang"] is None:
            continue  # P6 null-content drop + the where= pre-filter
        vn = math.sqrt(_seq_dot(v, v))
        cs = []
        for q, qn in zip(qs, qnorms):
            denom = vn * qn
            cs.append(0.0 if denom == 0.0 else _seq_dot(v, q) / denom)
        csum = 0.0
        for c in cs:
            csum += c
        g = groups.setdefault(
            r["lang"],
            {"m": [-math.inf] * len(qs), "n": 0, "best": (-math.inf, 0)},
        )
        g["n"] += 1
        for i, c in enumerate(cs):
            if c > g["m"][i]:
                g["m"][i] = c
        if csum > g["best"][0]:
            g["best"] = (csum, len(r["text"]))

    scored = []
    for lang, g in groups.items():
        score = 0.0
        for m in g["m"]:
            score += m
        scored.append((-score, lang, g["n"], g["best"][1]))
    scored.sort()
    rows = [
        (rank + 1, lang, _py_round6(-negs), n, clen)
        for rank, (negs, lang, n, clen) in enumerate(scored[:5])
    ]
    return _values_literal(
        rows,
        [
            ("rank", "BIGINT"),
            ("group", "VARCHAR"),
            ("score", "DOUBLE"),
            ("n_chunks", "BIGINT"),
            ("content_len", "BIGINT"),
        ],
    )


def q_s_wet_ingest(spark, sf_dir):
    """WARC/WET ingest (sources/warc.py, the Common Crawl segment
    format -- the ingest step a web-scale pipeline starts from): the
    documents table shipped out as 4 WET segments (alternate ones
    gzipped with per-spec member framing), then read back through the
    distributed binaryFile -> mapInPandas record parser. Content-Length
    framing makes the round-trip byte-exact, so the oracle is md5 +
    length straight off the documents table -- the parser never gets to
    'approximately' recover a page."""
    from letsearch_spark.sources.warc import read_wet, write_wet_segments

    docs = (
        load(spark, sf_dir, "documents").select("doc_id", "text").collect()
    )
    rows = [
        (f"http://corpus.test/{r['doc_id']}", r["text"] or "") for r in docs
    ]
    root = _scratch_dir("ls_wet_")
    write_wet_segments(rows, root, per_file=max(1, len(rows) // 4))
    return (
        read_wet(spark, root)
        .select(
            F.regexp_extract("target_uri", r"(\d+)$", 1)
            .cast("long")
            .alias("doc_id"),
            F.md5("text").alias("text_md5"),
            F.length("text").cast("long").alias("n_chars"),
        )
        .orderBy("doc_id")
    )


_WET_INGEST_ORACLE_SQL = """
    SELECT doc_id, md5(coalesce(text, '')) AS text_md5,
           CAST(length(coalesce(text, '')) AS BIGINT) AS n_chars
    FROM documents ORDER BY doc_id
"""


def _synth_html_py(doc_id: int, text: str) -> str:
    """Python twin of :func:`_synth_html` (and the oracle's SQL
    concatenation) -- builds the page OUTSIDE Spark so the raw-WARC
    contract query can ship real HTML bytes through segment files."""
    return (
        f"<html><head><title>Doc {doc_id} &amp; notes</title>"
        "<script>var x = 1 < 2;</script></head><body><p>"
        + (text or "").replace(" the ", " <b>the</b> ")
        + f"</p><!-- id {doc_id} -->"
        '<div>footer&nbsp;notes</div><a href="http://x">x</a>'
        "</body></html>"
    )


def q_s_warc_html_ingest(spark, sf_dir):
    """Raw-crawl WARC ingest (r9, VERDICT r8 #4 -- the .warc sibling of
    s_wet_ingest): documents wrapped in the deterministic synthetic
    HTML page (the html_extract fixture), shipped out as 4 raw WARC
    segments of ``response`` records (HTTP envelope + payload,
    alternate segments gzipped), then read back through the
    distributed parser -- record framing, HTTP strip
    (sources/warc.py strip_http_envelope) and the scan-only
    html_to_text chain all on the line. The oracle rebuilds the SAME
    page in SQL and replays the identical extraction regex chain
    (functions/html.py oracle_sql_chain), so a single corrupted byte
    anywhere in the segment -> envelope -> extraction path flips the
    md5."""
    from letsearch_spark.functions.html import html_to_text
    from letsearch_spark.sources.warc import read_wet, write_warc_segments

    docs = (
        load(spark, sf_dir, "documents").select("doc_id", "text").collect()
    )
    rows = [
        (
            f"http://corpus.test/{r['doc_id']}",
            _synth_html_py(r["doc_id"], r["text"]),
        )
        for r in docs
    ]
    root = _scratch_dir("ls_warc_")
    write_warc_segments(rows, root, per_file=max(1, len(rows) // 4))
    clean = html_to_text(F.col("text"))
    return (
        read_wet(spark, root, record_types=("response",))
        .select(
            F.regexp_extract("target_uri", r"(\d+)$", 1)
            .cast("long")
            .alias("doc_id"),
            F.md5(clean).alias("clean_md5"),
            F.length(clean).cast("long").alias("clean_len"),
        )
        .orderBy("doc_id")
    )


def _warc_html_oracle_sql() -> str:
    """DuckDB replay of q_s_warc_html_ingest: the synthetic page
    rebuilt with the html_extract oracle's concatenation, extracted by
    functions/html.py's own oracle_sql_chain -- the segment round-trip
    is byte-exact, so the page string IS what the parser hands
    html_to_text."""
    from letsearch_spark.functions.html import oracle_sql_chain

    return f"""
        WITH pages AS (
            SELECT doc_id,
                   '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR)
                   || ' &amp; notes</title><script>var x = 1 < 2;</script>'
                   || '</head><body><p>'
                   || replace(coalesce(text, ''), ' the ', ' <b>the</b> ')
                   || '</p><!-- id ' || CAST(doc_id AS VARCHAR)
                   || ' --><div>footer&nbsp;notes</div><a href="http://x">x</a>'
                   || '</body></html>' AS page
            FROM documents
        ), ex AS (
            SELECT doc_id, {oracle_sql_chain("page")} AS clean FROM pages
        )
        SELECT doc_id, md5(clean) AS clean_md5,
               CAST(length(clean) AS BIGINT) AS clean_len
        FROM ex ORDER BY doc_id
    """

def q_url_quality_filter(spark, sf_dir):
    """URL-level page filtering (functions/text.py url_quality_flags,
    r8 -- the RefinedWeb step that rejects a page before any content
    IO): deterministic synthetic URLs built from doc_id (one per rule
    family: blocked host behind a www. spelling, digit-spam host,
    crawler-trap depth, unparseable, session-id pattern, clean), flags
    evaluated scan-side. Oracle: the same URL synthesis and every rule
    replayed in DuckDB SQL."""
    from letsearch_spark.functions.text import url_quality_flags

    docs = load(spark, sf_dir, "documents").select("doc_id")
    m = F.col("doc_id") % 6
    did = F.col("doc_id").cast("string")
    url = (
        F.when(m == 0, F.concat(F.lit("https://WWW.Blocked.example.com/a/"), did))
        .when(m == 1, F.concat(F.lit("https://012345678901.net/x/"), did))
        .when(m == 2, F.concat(F.lit("https://ok.example.org"), F.lit("/p" * 14)))
        .when(m == 3, F.concat(F.lit("not a url at all "), did))
        .when(m == 4, F.concat(F.lit("https://shop.example.net/item?session="), did))
        .otherwise(F.concat(F.lit("https://clean.example.org/articles/"), did))
    )
    flags = url_quality_flags(
        F.col("url"),
        blocked_hosts=["blocked.example.com"],
        blocked_patterns=[r"[?&]session="],
    )
    return (
        docs.withColumn("url", url)
        .select("doc_id", flags.alias("f"))
        .select(
            "doc_id",
            F.col("f.no_host").alias("no_host"),
            F.col("f.host_blocked").alias("host_blocked"),
            F.col("f.pattern_hit").alias("pattern_hit"),
            F.col("f.too_deep").alias("too_deep"),
            F.col("f.digit_host").alias("digit_host"),
            F.col("f.passes").alias("passes"),
        )
        .orderBy("doc_id")
    )


_URL_FILTER_ORACLE_SQL = r"""
    WITH u AS (
        SELECT doc_id,
               CASE doc_id % 6
                   WHEN 0 THEN 'https://WWW.Blocked.example.com/a/' || doc_id
                   WHEN 1 THEN 'https://012345678901.net/x/' || doc_id
                   WHEN 2 THEN 'https://ok.example.org' || repeat('/p', 14)
                   WHEN 3 THEN 'not a url at all ' || doc_id
                   WHEN 4 THEN 'https://shop.example.net/item?session=' || doc_id
                   ELSE 'https://clean.example.org/articles/' || doc_id
               END AS url
        FROM documents
    ), h AS (
        SELECT doc_id, lower(url) AS low,
               -- mirrors functions/text.py url_host incl. the r9
               -- bracketed-IPv6 branch (no IPv6 in this data; kept
               -- textually faithful to the Spark expression)
               CASE WHEN regexp_matches(
                        lower(regexp_replace(
                            regexp_extract(url,
                                '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1),
                            '^.*@', '')), '^\[')
                    THEN regexp_extract(
                        lower(regexp_replace(
                            regexp_extract(url,
                                '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1),
                            '^.*@', '')), '^\[([^\]]+)\]', 1)
                    ELSE regexp_replace(
                        regexp_replace(
                            lower(regexp_replace(
                                regexp_extract(url,
                                    '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1),
                                '^.*@', '')),
                            ':[0-9]*$', ''),
                        '^www\.', '')
               END AS host,
               regexp_replace(
                   regexp_extract(lower(url),
                       '^[a-z][a-z0-9+.-]*://[^/?#]+(/[^?#]*)', 1),
                   '/$', '') AS path
        FROM u
    ), f AS (
        SELECT doc_id,
               length(host) = 0 AS no_host,
               host = 'blocked.example.com' AS host_blocked,
               regexp_matches(low, '(?:[?&]session=)') AS pattern_hit,
               len(string_split(path, '/')) - 1 > 12 AS too_deep,
               CASE WHEN length(host) = 0 THEN FALSE
                    ELSE length(regexp_replace(host, '[^0-9]', '', 'g'))
                         * 1.0 / length(host) > 0.5
               END AS digit_host
        FROM h
    )
    SELECT doc_id, no_host, host_blocked, pattern_hit, too_deep,
           digit_host,
           (NOT no_host AND NOT host_blocked AND NOT pattern_hit
            AND NOT too_deep AND NOT digit_host) AS passes
    FROM f ORDER BY doc_id
"""


def q_sft_render_chat(spark, sf_dir):
    """Chat/SFT templating (functions/chat.py render_chat, r8): each
    document becomes a deterministic 3-turn conversation (fixed system
    prompt, user = first half of the words, assistant = the rest),
    rendered under the ChatML template with assistant-content spans for
    loss masking -- one scan-side Catalyst projection. Oracle: DuckDB
    rebuilds the identical string and replays the span arithmetic to
    the character (s_start = 90 + len(user): the three fixed template
    prefixes total 90 chars before the assistant content)."""
    from letsearch_spark.functions.chat import render_chat

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    w = F.split(F.trim(F.coalesce(F.col("text"), F.lit(""))), r"\s+")
    n = F.size(w)
    h = F.ceil(n / F.lit(2)).cast("int")
    user = F.array_join(F.slice(w, F.lit(1), h), " ")
    asst = F.array_join(
        F.slice(w, h + F.lit(1), F.greatest(n - h, F.lit(0))), " "
    )
    msgs = F.array(
        F.struct(
            F.lit("system").alias("role"), F.lit("be concise").alias("content")
        ),
        F.struct(F.lit("user").alias("role"), user.alias("content")),
        F.struct(F.lit("assistant").alias("role"), asst.alias("content")),
    )
    r = render_chat(msgs, "chatml")
    return (
        docs.select("doc_id", r.alias("r"))
        .select(
            "doc_id",
            F.md5(F.col("r.text")).alias("text_md5"),
            F.size("r.spans").cast("long").alias("n_spans"),
            F.element_at("r.spans", 1)["start"].alias("s_start"),
            F.element_at("r.spans", 1)["end"].alias("s_end"),
        )
        .orderBy("doc_id")
    )


_SFT_CHAT_ORACLE_SQL = r"""
    WITH w AS (
        SELECT doc_id,
               regexp_split_to_array(trim(coalesce(text, '')), '\s+') AS ws
        FROM documents
    ), parts AS (
        SELECT doc_id,
               array_to_string(
                   ws[1:CAST(ceil(len(ws) / 2.0) AS INT)], ' ') AS u,
               array_to_string(
                   ws[CAST(ceil(len(ws) / 2.0) AS INT) + 1:len(ws)], ' ') AS a
        FROM w
    )
    SELECT doc_id,
           md5('<|im_start|>system' || chr(10) || 'be concise<|im_end|>'
               || chr(10) || '<|im_start|>user' || chr(10) || u
               || '<|im_end|>' || chr(10) || '<|im_start|>assistant'
               || chr(10) || a || '<|im_end|>' || chr(10)) AS text_md5,
           CAST(1 AS BIGINT) AS n_spans,
           CAST(90 + length(u) AS BIGINT) AS s_start,
           CAST(90 + length(u) + length(a) AS BIGINT) AS s_end
    FROM parts ORDER BY doc_id
"""


_PCA_K = 8


def _pca_rows(model) -> list[tuple]:
    """Flatten a PCAModel into scalar contract rows (kind, i, j, v):
    shared by the Spark query and the twin oracle so the layout cannot
    drift. v is HALF_UP round-6 of bit-identical doubles on both
    sides."""
    rows: list[tuple] = []
    for j, v in enumerate(model.mean):
        rows.append(("mean", 0, j, _py_round6(v)))
    for i, comp in enumerate(model.components):
        for j, w in enumerate(comp):
            rows.append(("comp", i, j, _py_round6(w)))
    for i, ev in enumerate(model.explained_variance):
        rows.append(("var", i, 0, _py_round6(ev)))
    return rows


def q_embed_pca_model(spark, sf_dir):
    """Distributed PCA over the embeddings table (operators/pca.py
    fit_pca, r8): ONE Arrow moment pass emitting fixed-point integer
    sums of x and xx^T per partition, reduced by a map-side-combined
    groupBy -- integer addition commutes, so the fitted model (mean,
    top-8 sign-fixed components, explained variance) is bit-identical
    across partitionings AND to the sequential twin the oracle replays.
    Contract rows are the flattened model (all-scalar)."""
    from letsearch_spark.operators.pca import fit_pca

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").alias("vector")
    )
    model = fit_pca(emb, k=_PCA_K)
    return spark.createDataFrame(
        _pca_rows(model), "kind string, i long, j long, v double"
    ).orderBy("kind", "i", "j")


def _pca_model_oracle(sf_dir: str) -> str:
    """Computed-literal twin: the same integer moments accumulated
    sequentially over the vec_id-sorted embeddings (fit_pca_twin), the
    same shared driver half -- bit-identical model, identical rounding."""
    import pyarrow.parquet as pq

    import numpy as np

    from letsearch_spark.operators.pca import fit_pca_twin

    etbl = pq.read_table(
        os.path.join(sf_dir, "embeddings.parquet"),
        columns=["vec_id", "embedding"],
    ).to_pylist()
    etbl.sort(key=lambda r: r["vec_id"])
    x = np.array([r["embedding"] for r in etbl], dtype=np.float64)
    rows = _pca_rows(fit_pca_twin(x, k=_PCA_K))
    return _values_literal(
        rows,
        [
            ("kind", "VARCHAR"),
            ("i", "BIGINT"),
            ("j", "BIGINT"),
            ("v", "DOUBLE"),
        ],
    )


_UNIGRAM_VOCAB = 300
_UNIGRAM_SEED = 900


def q_token_count_unigram(spark, sf_dir):
    """Unigram-LM tokenizer (tokenizer_unigram.py, the SentencePiece
    model): distributed EM over the UNCAPPED word-type table (every
    E-step one mapInPandas pass emitting fixed-point expected counts,
    one integer groupBy sum -- order-independent, so the fitted model is
    bit-identical to the sequential twin), then Viterbi-exact token
    counts at distinct-word cost. Counts are integers -- hash-stable.
    Oracle: Counter word counts + train_unigram_twin (the SAME shared
    E/M/prune kernels) emitted as a VALUES literal."""
    from letsearch_spark.tokenizer_unigram import (
        token_count_exact_unigram,
        train_unigram,
    )

    docs = load(spark, sf_dir, "documents")
    model = train_unigram(
        docs, "text", vocab_size=_UNIGRAM_VOCAB, seed_size=_UNIGRAM_SEED,
        em_iters=2,
    )
    return token_count_exact_unigram(docs, "doc_id", "text", model).orderBy(
        "doc_id"
    )


def q_span_corruption(spark, sf_dir):
    """T5-style span corruption (functions/text.py span_corruption,
    r9 -- the denoising objective sibling of fim_transform): every
    document's words drop in segment-stratified md5-chosen spans,
    sentinels in the input, spans in the target. Pure Catalyst,
    map-only. Oracle: span_corruption_twin (hashlib, same arithmetic)
    emitted as a VALUES literal of md5s + lengths."""
    from letsearch_spark.functions.text import span_corruption
    from letsearch_spark.session import ensure_min_parallelism

    # row-deterministic rewrite (md5-seeded per doc): parallelize the
    # 1-row-group local scan; no-op on well-split inputs
    docs = ensure_min_parallelism(load(spark, sf_dir, "documents"))
    return span_corruption(docs).select(
        "doc_id",
        "applied",
        F.md5(F.coalesce(F.col("input"), F.lit(""))).alias("input_md5"),
        F.length(F.coalesce(F.col("input"), F.lit(""))).cast("long").alias(
            "input_len"
        ),
        F.md5(F.coalesce(F.col("target"), F.lit(""))).alias("target_md5"),
        F.length(F.coalesce(F.col("target"), F.lit(""))).cast("long").alias(
            "target_len"
        ),
    ).orderBy("doc_id")


def _span_corruption_oracle(sf_dir: str) -> str:
    """Computed VALUES-literal twin of q_span_corruption."""
    import hashlib as _hashlib

    import pyarrow.parquet as _pq

    from letsearch_spark.functions.text import span_corruption_twin

    tbl = _pq.read_table(
        os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "text"]
    ).to_pylist()
    rows = []
    for r in tbl:
        applied, inp, tgt = span_corruption_twin(r["doc_id"], r["text"])
        inp = inp or ""
        tgt = tgt or ""
        rows.append(
            (
                int(r["doc_id"]),
                bool(applied),
                _hashlib.md5(inp.encode("utf-8")).hexdigest(),
                len(inp),
                _hashlib.md5(tgt.encode("utf-8")).hexdigest(),
                len(tgt),
            )
        )
    rows.sort()
    return _values_literal(
        rows,
        [
            ("doc_id", "BIGINT"),
            ("applied", "BOOLEAN"),
            ("input_md5", "VARCHAR"),
            ("input_len", "BIGINT"),
            ("target_md5", "VARCHAR"),
            ("target_len", "BIGINT"),
        ],
    )


_BYTE_BPE_VOCAB = 384  # 256-byte alphabet + 128 merges


def q_token_count_byte_bpe(spark, sf_dir):
    """Byte-level BPE tokenizer (tokenizer_bytebpe.py, the GPT-2
    family's public standard, r9): distributed pretoken-count table
    (one Arrow pass + one groupBy shuffle carrying pretoken TYPES),
    driver-side merges via the SAME kernel as word-level BPE, then
    byte-exact token counts at distinct-pretoken cost. Lossless by
    construction (256-byte alphabet -- no OOV, exact decode). Oracle:
    train_byte_bpe_twin (same pretokenizer/byte map/cap/merge kernel)
    emitted as a VALUES literal."""
    from letsearch_spark.tokenizer_bytebpe import (
        token_count_exact_bytebpe,
        train_byte_bpe,
    )

    docs = load(spark, sf_dir, "documents")
    model = train_byte_bpe(docs, "text", vocab_size=_BYTE_BPE_VOCAB)
    return token_count_exact_bytebpe(docs, "doc_id", "text", model).orderBy(
        "doc_id"
    )


def _token_count_bytebpe_oracle(sf_dir: str) -> str:
    """Computed VALUES-literal twin of q_token_count_byte_bpe:
    train_byte_bpe_twin over the same documents (identical
    pretokenizer, byte mapping, count-desc/token-asc cap, and merge
    kernel -- exact integer counts commute, so the model is
    bit-identical), then the same greedy counts."""
    import pyarrow.parquet as _pq

    from letsearch_spark.tokenizer_bytebpe import train_byte_bpe_twin

    tbl = _pq.read_table(
        os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "text"]
    ).to_pylist()
    twin = train_byte_bpe_twin(
        [r["text"] or "" for r in tbl], vocab_size=_BYTE_BPE_VOCAB
    )
    rows = sorted(
        (int(r["doc_id"]), twin.token_count(r["text"] or "")) for r in tbl
    )
    return _values_literal(rows, [("doc_id", "BIGINT"), ("n_tokens", "BIGINT")])


def q_dedup_url_canonical(spark, sf_dir):
    """URL-level exact dedup (operators/dedup.py url_dedup over
    functions/text.py normalize_url, r10 -- the CCNet/C4 first pass):
    five crawl-variant spellings of each target page are synthesized
    from doc_id arithmetic (tracking params / upper-case host +
    default :443 / fragment / www. prefix), plus a hostless row class;
    the canonicalizer must collapse every variant group to ONE keeper
    (min doc_id) and leave hostless rows untouched. The oracle
    CONSTRUCTS the canonical form arithmetically (the
    multimodal_headers trick), so any mis-firing normalization rule
    mismatches immediately."""
    from letsearch_spark.functions.text import normalize_url, url_host
    from letsearch_spark.operators.dedup import url_dedup

    docs = load(spark, sf_dir, "documents").select("doc_id")
    g = F.expr("doc_id DIV 5").cast("string")
    m = F.col("doc_id") % 5
    base = F.concat(
        F.lit("https://site"), g, F.lit(".example.com/p/"), g,
        F.lit("?id="), g,
    )
    raw = (
        F.when(m == 1, F.concat(base, F.lit("&utm_source=x&utm_campaign=y")))
        .when(
            m == 2,
            F.concat(
                F.lit("HTTPS://SITE"), g, F.lit(".EXAMPLE.COM:443/p/"), g,
                F.lit("?id="), g,
            ),
        )
        .when(m == 3, F.concat(base, F.lit("#section-2")))
        .when(
            m == 4,
            F.concat(
                F.lit("https://www.site"), g, F.lit(".example.com/p/"), g,
                F.lit("?id="), g,
            ),
        )
        .otherwise(base)
    )
    raw = F.when(F.col("doc_id") % 97 == 13, F.lit("not a url")).otherwise(
        raw
    )
    urls = docs.select("doc_id", raw.alias("url"))
    keeps = url_dedup(urls, "doc_id", "url")
    canon = normalize_url(F.col("url"))
    return (
        urls.withColumn(
            "url_canon",
            F.when(F.length(url_host(F.col("url"))) > 0, canon),
        )
        .join(keeps, "url_canon", "left")
        .select(
            "doc_id",
            "url_canon",
            F.coalesce(F.col("doc_id") == F.col("keep_id"), F.lit(True))
            .alias("keep"),
            F.coalesce(F.col("n_copies"), F.lit(0)).alias("n_copies"),
        )
        .orderBy("doc_id")
    )


_DEDUP_URL_ORACLE_SQL = """
    WITH u AS (
        SELECT doc_id,
               CASE WHEN doc_id % 97 = 13 THEN NULL
                    ELSE 'https://site' || CAST(doc_id // 5 AS VARCHAR)
                         || '.example.com/p/'
                         || CAST(doc_id // 5 AS VARCHAR)
                         || '?id=' || CAST(doc_id // 5 AS VARCHAR)
               END AS url_canon
        FROM documents
    ), w AS (
        SELECT doc_id, url_canon,
               min(doc_id) OVER (PARTITION BY url_canon) AS keep_id,
               count(*) OVER (PARTITION BY url_canon) AS n
        FROM u
    )
    SELECT doc_id, url_canon,
           CASE WHEN url_canon IS NULL THEN TRUE
                ELSE doc_id = keep_id END AS keep,
           CAST(CASE WHEN url_canon IS NULL THEN 0 ELSE n END
                AS BIGINT) AS n_copies
    FROM w ORDER BY doc_id
"""


_WORDPIECE_VOCAB = 400


def q_token_count_wordpiece(spark, sf_dir):
    """WordPiece tokenizer (tokenizer_wordpiece.py, the BERT family's
    public standard, r10): ONE distributed word-count shuffle (word
    TYPES, never text), driver-side likelihood-scored merges --
    count(pair)/(count(a)*count(b)) compared by exact integer
    cross-multiplication, so training is deterministic and
    partition-invariant -- then greedy longest-match token counts at
    distinct-word cost. Oracle: train_wordpiece_twin (same split, cap,
    and integer-scored kernel) emitted as a VALUES literal."""
    from letsearch_spark.tokenizer_wordpiece import (
        token_count_exact_wordpiece,
        train_wordpiece,
    )

    docs = load(spark, sf_dir, "documents")
    model = train_wordpiece(docs, "text", vocab_size=_WORDPIECE_VOCAB)
    return token_count_exact_wordpiece(docs, "doc_id", "text", model).orderBy(
        "doc_id"
    )


def _token_count_wordpiece_oracle(sf_dir: str) -> str:
    """Computed VALUES-literal twin of q_token_count_wordpiece."""
    import pyarrow.parquet as _pq

    from letsearch_spark.tokenizer_wordpiece import train_wordpiece_twin

    tbl = _pq.read_table(
        os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "text"]
    ).to_pylist()
    twin = train_wordpiece_twin(
        [r["text"] or "" for r in tbl], vocab_size=_WORDPIECE_VOCAB
    )
    rows = sorted(
        (int(r["doc_id"]), twin.token_count(r["text"] or "")) for r in tbl
    )
    return _values_literal(rows, [("doc_id", "BIGINT"), ("n_tokens", "BIGINT")])


def q_text_compression(spark, sf_dir):
    """Deflate-compressibility quality signal (functions/text.py
    compression_stats/compression_flags): per-document UTF-8 byte
    count, zlib-6 deflate size, round-6 ratio, and the
    boilerplate/gibberish pass verdict (0.25 <= ratio <= 1.05). One
    Arrow-batched stdlib-zlib pass; the oracle is the identical zlib
    arithmetic replayed in Python and emitted as a VALUES literal (same
    zlib build on both sides of the comparison)."""
    from letsearch_spark.functions.text import compression_flags

    docs = load(spark, sf_dir, "documents")
    fl = compression_flags(F.col("text"))
    return docs.select(
        "doc_id",
        fl["raw_bytes"].alias("raw_bytes"),
        fl["zlib_bytes"].alias("zlib_bytes"),
        fl["compression_ratio"].alias("ratio"),
        fl["passes"].alias("passes"),
    ).orderBy("doc_id")


def q_fim_transform(spark, sf_dir):
    """Fill-in-the-middle transform (functions/text.py fim_transform,
    Bavarian et al. 2022): a seeded 50% of documents split at two
    md5-derived character positions and re-emitted as
    <fim_prefix>P<fim_suffix>S<fim_middle>M -- pure Catalyst (map-only,
    zero shuffles at any scale). Emits (applied, n_chars, md5) per doc;
    the oracle replays the same md5 split-point arithmetic in DuckDB
    SQL."""
    from letsearch_spark.functions.text import fim_transform

    docs = load(spark, sf_dir, "documents")
    out = fim_transform(
        F.col("doc_id"), F.col("text"), seed=42, rate=0.5, mode="psm"
    )
    return docs.select(
        "doc_id",
        F.coalesce(out["applied"], F.lit(False)).alias("applied"),
        F.length(out["text"]).alias("n_chars"),
        F.md5(out["text"]).alias("text_md5"),
    ).orderBy("doc_id")


def _fim_h60_sql(tag: str) -> str:
    return _MD5_60_SQL.format(x=f"CAST(doc_id AS VARCHAR) || '#{tag}#42'")


_FIM_ORACLE_SQL = f"""
    WITH t AS (
        SELECT doc_id, text, length(text) AS n,
               ({_fim_h60_sql("fimsel")}) % 1000000 < 500000 AS sel,
               ({_fim_h60_sql("fim1")}) % (length(text) + 1) AS u1,
               ({_fim_h60_sql("fim2")}) % (length(text) + 1) AS u2
        FROM documents
    ), s AS (
        SELECT doc_id, text, n,
               coalesce(sel AND n > 0, FALSE) AS applied,
               least(u1, u2) AS lo, greatest(u1, u2) AS hi
        FROM t
    ), r AS (
        SELECT doc_id, applied,
               CASE WHEN applied THEN
                   '<fim_prefix>' || substr(text, 1, lo)
                   || '<fim_suffix>' || substr(text, hi + 1)
                   || '<fim_middle>' || substr(text, lo + 1, hi - lo)
               ELSE text END AS out
        FROM s
    )
    SELECT doc_id, applied,
           CAST(length(out) AS BIGINT) AS n_chars,
           md5(out) AS text_md5
    FROM r ORDER BY doc_id
"""


def q_interleave_order(spark, sf_dir):
    """Round-robin source interleaving (operators/curriculum.py
    interleave_order): every document's exact global position in the
    order that alternates languages while they last -- one partitioned
    window for the within-source round, ONE range shuffle for the
    global rank (no single-partition window). The oracle replays both
    windows in SQL."""
    from letsearch_spark.operators.curriculum import interleave_order

    docs = load(spark, sf_dir, "documents").select("doc_id", "lang")
    return (
        interleave_order(docs, "lang", ["doc_id"])
        .select("doc_id", "lang", "interleave_rank")
        .orderBy("interleave_rank")
    )


_INTERLEAVE_ORACLE_SQL = """
    WITH r AS (
        SELECT doc_id, lang,
               row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rnd
        FROM documents
    )
    SELECT doc_id, lang,
           CAST(row_number() OVER (ORDER BY rnd, lang NULLS FIRST)
                AS BIGINT) AS interleave_rank
    FROM r ORDER BY interleave_rank
"""


def q_export_shards_manifest(spark, sf_dir):
    """Training-shard egress manifest (operators/export.py): every
    document ranked by doc_id, greedily filled into 5000-token shards
    off an EXACT distributed prefix sum (one range shuffle, offsets
    from a <= numPartitions-row collect -- no single-partition window),
    then the per-shard release manifest (rows, rank range, token sum)
    as one partial-aggregable groupBy. The oracle replays the running
    sum + exclusive-prefix budget rule as SQL windows. The checksum
    column is excluded here (no DuckDB twin for the 60-bit md5 XOR
    fold); tests/test_export.py pins its integrity semantics."""
    from letsearch_spark.functions.text import token_count_approx
    from letsearch_spark.operators.export import assign_shards, shard_manifest

    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        token_count_approx(F.coalesce(F.col("text"), F.lit(""))).alias(
            "tokens"
        ),
    )
    assigned = assign_shards(
        docs, ["doc_id"], tokens_per_shard=5000, token_col="tokens"
    )
    return (
        shard_manifest(assigned, token_col="tokens")
        .select("shard", "n_rows", "first_rank", "last_rank", "n_tokens")
        .orderBy("shard")
    )


_EXPORT_SHARDS_ORACLE_SQL = f"""
    WITH t AS (
        SELECT doc_id,
               CAST(ceil(len({_WORDS_SQL.format(x="coalesce(text, '')")})
                         * 1.3) AS BIGINT) AS tok
        FROM documents
    ),
    c AS (
        SELECT doc_id, tok,
               sum(tok) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum,
               row_number() OVER (ORDER BY doc_id) AS rank
        FROM t
    )
    SELECT CAST(floor((cum - tok) / 5000.0) AS BIGINT) AS shard,
           count(*) AS n_rows,
           CAST(min(rank) AS BIGINT) AS first_rank,
           CAST(max(rank) AS BIGINT) AS last_rank,
           CAST(sum(tok) AS BIGINT) AS n_tokens
    FROM c GROUP BY 1 ORDER BY shard
"""


# Entries outside the driver's 50-slot correctness window: verified
# operators the window has no slot for. Each is a verification twin or a
# simpler sibling of a window row, or a candidate for the next rotation.
# tests/test_rotated_contract.py runs the driver's Spark-vs-DuckDB
# comparison over every one of them (tools/check_oracle.py --registry
# off_window by hand), so promoting an entry into the window is a
# registry move, not new verification work.
OFF_WINDOW_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # -- ingest / decode --
    "s_csv_roundtrip": q_s_csv_roundtrip,
    # shares the decode pipeline with the in-window multimodal_decode
    "multimodal_frame_sample": q_multimodal_frame_sample,
    # stdlib header decode, the real half of multimodal_decode's story
    "multimodal_headers": q_multimodal_headers,
    "html_extract": q_html_extract,
    # -- dedup / decontamination: twins and stages of window rows --
    "dedup_exact": q_dedup_exact,
    "dedup_lines": q_dedup_lines,
    # exact-Jaccard twin of dedup_minhash_lsh
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_simhash_pairs": q_dedup_simhash_pairs,
    # pairs -> CC -> min-id, a strict stage of dedup_survivor_quality
    "dedup_minhash_components": q_dedup_minhash_components,
    # the banded-bucket shape of semantic_dedup
    "dedup_embedding_cosine_lsh": q_dedup_embedding_cosine_lsh,
    # same SQL truth as decontaminate_bloom (the Bloom is a plan choice)
    "decontaminate_containment": q_decontaminate_containment,
    "dedup_url_canonical": q_dedup_url_canonical,
    "winnow_fingerprints": q_winnow_fingerprints,
    # -- vector search / ANN --
    # its recall evidence is the in-window eval_lsh_recall
    "ann_lsh_topk": q_ann_lsh_topk,
    "ann_kmeans_full": q_ann_kmeans_full,
    "search_maxsim": q_search_maxsim,
    "embed_mean_pool": q_embed_mean_pool,
    "quantize_f16_roundtrip": q_quantize_f16_roundtrip,
    # -- tokenizers and text transforms --
    # word-BPE; the byte-level sibling token_count_byte_bpe is in-window
    "token_count_bpe": q_token_count_bpe,
    "token_count_wordpiece": q_token_count_wordpiece,
    "lang_id_ngram": q_lang_id_ngram,
    "text_compression": q_text_compression,
    # single-split sibling of span_corruption
    "fim_transform": q_fim_transform,
    # -- sampling / mixing --
    # simplest member of the split family (split_leakage_safe,
    # sample_stratified_exact are in-window)
    "sample_train_test_split": q_sample_train_test_split,
    "sample_mixture": q_sample_mixture,
    "mixture_epochs": q_mixture_epochs,
    "temperature_mixture": q_temperature_mixture,
    "perplexity_buckets": q_perplexity_buckets,
    "shuffle_order": q_shuffle_order,
    "dataset_diff": q_dataset_diff,
    # -- streaming: the simplest shape next to stream_sessionize --
    "stream_windowed_counts": q_stream_windowed_counts,
}

# -- round-6 window rotation (VERDICT r5 ask #1): the four operators a
# real training-data user hits first, promoted into the driver's 50-slot
# window. Their q_* functions are defined after the QUERIES literal,
# hence the post-hoc update.
QUERIES.update(
    {
        "decontaminate_bloom": q_decontaminate_bloom,
        "curriculum_order": q_curriculum_order,
        "mine_hard_negatives": q_mine_hard_negatives,
        "split_leakage_safe": q_split_leakage_safe,
    }
)

# -- round-7 window rotation (COVERAGE.md pre-plan): the contrastive
# training-pair assembly (the tail of the mined-negatives story), the
# tokenizer-budget sizing curve, the release-gate data card, and the
# recall evidence behind every ANN knob -- promoted into the driver's
# 50-slot window.
QUERIES.update(
    {
        "training_pairs": q_training_pairs,
        "vocab_coverage": q_vocab_coverage,
        "corpus_data_card": q_corpus_data_card,
        "eval_lsh_recall": q_eval_lsh_recall,
    }
)

# -- round-8 window rotation (COVERAGE.md pre-plan + the r7 staged
# additions behind it): the quality-aware dedup keep rule, the
# memory-bound Hamming serving tier, the unigram tokenizer completing
# the trainer family, exact per-stratum caps, the training-shard egress
# every trainer consumes, and the FIM transform.
QUERIES.update(
    {
        "dedup_survivor_quality": q_dedup_survivor_quality,
        "ann_hamming_topk": q_ann_hamming_topk,
        "token_count_unigram": q_token_count_unigram,
        "sample_stratified_exact": q_sample_stratified_exact,
        "export_shards_manifest": q_export_shards_manifest,
        # fim_transform was displaced by the r10 rotation (its richer
        # sibling span_corruption promoted in its place)
    }
)

# -- round-9 window rotation (VERDICT r8 #3, the COVERAGE.md pre-plan):
# the whole Collection MaxSim serving path (now on the degenerate-group
# fast path), the Common Crawl WET ingest, distributed PCA, the two r8
# pipeline stages (URL filter, chat/SFT templating), and the
# scale-clean source interleaving.
QUERIES.update(
    {
        "search_maxsim_collection": q_search_maxsim_collection,
        "s_wet_ingest": q_s_wet_ingest,
        "embed_pca_model": q_embed_pca_model,
        "url_quality_filter": q_url_quality_filter,
        "sft_render_chat": q_sft_render_chat,
        "interleave_order": q_interleave_order,
    }
)

# -- round-10 window rotation (VERDICT r9 #2, the COVERAGE.md pre-plan):
# the byte-level BPE tokenizer most public LLM stacks actually train,
# the raw-crawl WARC ingest (WET is the pre-extracted special case),
# the classic C4 cleaning recipe, the recall evidence behind the
# hamming serving tier, and the T5 denoising objective.
QUERIES.update(
    {
        "token_count_byte_bpe": q_token_count_byte_bpe,
        "s_warc_html_ingest": q_s_warc_html_ingest,
        "c4_page_filter": q_c4_page_filter,
        "eval_hamming_recall": q_eval_hamming_recall,
        "span_corruption": q_span_corruption,
    }
)

_C4_ORACLE_SQL = r"""
    WITH styled AS (
        SELECT doc_id,
               regexp_replace(
                   regexp_replace(coalesce(text, ''),
                                  '((\S+\s+){9}\S+)\s*', '\1. ', 'g'),
                   '(([^.]+\.[ ]*){3})', '\1' || chr(10), 'g') AS text
        FROM documents
    ), cleaned AS (
        SELECT doc_id,
               -- array_to_string([]) is NULL in DuckDB but '' in Spark
               coalesce(array_to_string(
                   list_filter(string_split(text, chr(10)), x ->
                       regexp_matches(x, '[.!?]["”''’]?\s*$')
                       AND len(regexp_split_to_array(trim(lower(x)), '\s+')) >= 5
                       AND NOT contains(lower(x), 'javascript')),
                   chr(10)), '') AS text
        FROM styled
    ), judged AS (
        SELECT doc_id,
               CAST(length(text) AS BIGINT) AS clean_len,
               CAST(len(regexp_extract_all(text, '[.!?]["”''’]?(\s|$)'))
                    AS BIGINT) AS n_sentences,
               contains(lower(text), 'lorem ipsum') AS has_lorem,
               contains(text, '{') AS has_brace
        FROM cleaned
    )
    SELECT doc_id, clean_len, n_sentences,
           (n_sentences >= 3 AND NOT has_lorem AND NOT has_brace) AS passes
    FROM judged ORDER BY doc_id
"""


def _ppl_buckets_oracle(sf_dir: str) -> str:
    """Computed-literal oracle for q_perplexity_buckets: the
    q_perplexity_filter Counter/math scoring twin (HALF_UP round-6),
    then Spark's exact-percentile interpolation
    (lower + (higher - lower) * (position - floor(position))) and the
    head/middle/tail label rule in pure Python."""
    import math
    import re as _re
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal

    docs_full = _read_documents_cols(sf_dir, ["doc_id", "text", "lang"])

    def _round6(x: float) -> float:
        return float(
            Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP)
        )

    def _wsplit(text: str) -> list[str]:
        t = (text or "").lower().strip(" ")
        return _re.split(r"\s+", t, flags=_re.ASCII) if t else [""]

    def grams(t: str) -> list[tuple[str, str]]:
        ws = _wsplit(t)
        return [(ws[i], ws[i + 1]) for i in range(len(ws) - 1)]

    counts: Counter = Counter(
        g for r in docs_full if r["lang"] == "en" for g in grams(r["text"])
    )
    ptot: Counter = Counter()
    for (p, _w), c in counts.items():
        ptot[p] += c
    vocab = max(1, len({w for (_p, w) in counts}))

    scored: dict[int, tuple[int, float | None]] = {}
    for r in docs_full:
        gs = grams(r["text"])
        if not gs:
            scored[r["doc_id"]] = (0, None)
            continue
        s = sum(
            math.log(
                (counts.get(g, 0) + 1.0) / (ptot.get(g[0], 0) + 1.0 * vocab)
            )
            for g in gs
        )
        scored[r["doc_id"]] = (len(gs), _round6(math.exp(-s / len(gs))))

    vals = sorted(p for (_n, p) in scored.values() if p is not None)

    def _spark_percentile(p: float) -> float:
        pos = p * (len(vals) - 1)
        lo = math.floor(pos)
        hi = math.ceil(pos)
        return vals[lo] + (vals[hi] - vals[lo]) * (pos - lo)

    c1 = _spark_percentile(1.0 / 3.0)
    c2 = _spark_percentile(2.0 / 3.0)
    rows = []
    for doc_id in sorted(scored):
        n, p = scored[doc_id]
        if p is None:
            bucket = "short"
        elif p <= c1:
            bucket = "head"
        elif p <= c2:
            bucket = "middle"
        else:
            bucket = "tail"
        rows.append((doc_id, n, p, bucket))
    return _values_literal(
        rows,
        [
            ("doc_id", "BIGINT"),
            ("n_grams", "BIGINT"),
            ("ppl", "DOUBLE"),
            ("ppl_bucket", "VARCHAR"),
        ],
    )


_DATA_CARD_ORACLE_SQL = r"""
    WITH base AS (
        SELECT lang AS domain,
               CAST(length(trim(coalesce(text, ''))) = 0 AS BIGINT) AS e,
               CAST(coalesce(length(text), 0) AS BIGINT) AS ch,
               CAST(CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN 0
                    ELSE len(regexp_split_to_array(trim(lower(text)), '\s+'))
                    END AS BIGINT) AS wd
        FROM documents
    ), base2 AS (
        SELECT *, CAST(ceil(wd * 1.3) AS BIGINT) AS tk FROM base
    )
    SELECT domain,
           (GROUPING(domain) = 1) AS is_total,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(e) AS BIGINT) AS n_empty,
           CAST(sum(ch) AS BIGINT) AS total_chars,
           CAST(sum(wd) AS BIGINT) AS total_words,
           CAST(sum(tk) AS BIGINT) AS total_tokens,
           CAST(sum(wd) * 1000000 // count(*) AS BIGINT) AS avg_words_micro,
           CAST(max(ch) AS BIGINT) AS max_chars
    FROM base2
    GROUP BY ROLLUP (domain)
    ORDER BY is_total, domain NULLS LAST
"""


def _mixture_epochs_oracle(sf_dir: str) -> str:
    """SQL oracle for q_mixture_epochs, parameterized by the corpus
    size (= the target): replays the per-domain rate
    least(max_epochs, target * (w / total) / n), the floor/frac split
    into full copies + one hash-filtered partial, the epoch explode,
    and the md5 bucket cut salted with the epoch index."""
    import pyarrow.parquet as pq

    target = pq.read_metadata(
        os.path.join(sf_dir, "documents.parquet")
    ).num_rows
    total = sum(_EPOCH_WEIGHTS.values())
    w_case = " ".join(
        f"WHEN '{d}' THEN {w!r}" for d, w in sorted(_EPOCH_WEIGHTS.items())
    )
    langs = ", ".join(f"'{d}'" for d in sorted(_EPOCH_WEIGHTS))
    bucket = _MD5_60_SQL.format(
        x="(CAST(doc_id AS VARCHAR) || CAST(ep AS VARCHAR) || '#42')"
    )
    return f"""
        WITH cnt AS (
            SELECT lang AS d, count(*) AS n FROM documents GROUP BY lang
        ), rates AS (
            SELECT d, least(4.0::DOUBLE,
                       {target} * ((CASE d {w_case} ELSE 0.0 END) / {total!r})
                       / n) AS rate
            FROM cnt WHERE d IN ({langs})
        ), cuts AS (
            SELECT d,
                   CAST(floor(rate) AS BIGINT) AS fullc,
                   CAST(floor((rate - CAST(floor(rate) AS BIGINT)) * 1000000)
                        AS BIGINT) AS cut
            FROM rates
        )
        SELECT doc_id, lang, CAST(ep AS BIGINT) AS epoch
        FROM documents
        JOIN cuts ON lang = cuts.d,
        unnest(range(0, fullc + 1)) AS u(ep)
        WHERE ep < fullc OR ({bucket}) % 1000000 < cut
        ORDER BY doc_id, epoch
    """


def _winnow_oracle(sf_dir: str) -> str:
    """Computed-literal oracle for q_winnow_fingerprints: independent
    Python twin (per-word md5-15 hex, k-gram md5 over the comma-joined
    word hashes -> 60-bit int, min of each w-window, distinct)."""
    import hashlib
    import re as _re

    def h15(s: str) -> str:
        return hashlib.md5(s.encode()).hexdigest()[:15]

    k, w = _WINNOW_K, _WINNOW_W
    rows = []
    for r in _read_documents(sf_dir):
        if r["doc_id"] >= _WINNOW_MAX_ID:
            continue
        ws = [
            t
            for t in _re.split(r"\s+", (r["text"] or "").strip(), flags=_re.ASCII)
            if t
        ]
        whs = [h15(x) for x in ws]
        if len(whs) < k + w - 1:
            continue
        grams = [
            int(h15(",".join(whs[i : i + k])), 16)
            for i in range(len(whs) - k + 1)
        ]
        fps = {min(grams[j : j + w]) for j in range(len(grams) - w + 1)}
        rows.extend((r["doc_id"], fp) for fp in sorted(fps))
    rows.sort()
    return _values_literal(rows, [("doc_id", "BIGINT"), ("fp", "BIGINT")])


def _eval_lsh_recall_oracle(sf_dir: str) -> str:
    """SQL oracle for q_eval_lsh_recall: exact and LSH-probe rankings
    as rank windows over the same sequential-double cosine, then the
    recall LEFT join and min-first-hit-rank MRR in plain aggregation
    SQL. The hyperplanes are seed-deterministic, inlined as double
    literals exactly like the ann_lsh_topk oracle."""
    from letsearch_spark.operators.topk import _hyperplanes

    cos = (
        "list_dot_product(({a})::DOUBLE[], ({b})::DOUBLE[]) / "
        "(sqrt(list_dot_product(({a})::DOUBLE[], ({a})::DOUBLE[])) * "
        "sqrt(list_dot_product(({b})::DOUBLE[], ({b})::DOUBLE[])))"
    )
    planes = _hyperplanes(_EMB_DIM, _LSH_BITS, seed=42)

    def bucket(col: str) -> str:
        terms = " + ".join(
            f"(CASE WHEN list_dot_product(({col})::DOUBLE[], "
            f"[{', '.join(repr(float(p)) for p in plane)}]::DOUBLE[]) >= 0 "
            f"THEN {1 << i} ELSE 0 END)"
            for i, plane in enumerate(planes)
        )
        return f"CAST({terms} AS INT)"

    probe_list = ", ".join(
        ["qsig"] + [f"xor(qsig, {1 << i})" for i in range(_LSH_BITS)]
    )
    return f"""
        WITH q AS (
            SELECT vec_id AS query_id, embedding AS qvec
            FROM embeddings WHERE vec_id < {_EVAL_NQ}
        ), exact AS (
            SELECT query_id, vec_id, rank FROM (
                SELECT q.query_id, e.vec_id,
                       CAST(row_number() OVER (PARTITION BY q.query_id
                            ORDER BY {cos.format(a="e.embedding", b="q.qvec")} DESC,
                                     e.vec_id ASC) AS BIGINT) AS rank
                FROM embeddings e CROSS JOIN q
            ) WHERE rank <= {_EVAL_K}
        ), bv AS (
            SELECT vec_id, embedding, {bucket("embedding")} AS bucket
            FROM embeddings
        ), probes AS (
            SELECT query_id, qvec,
                   unnest([{probe_list}]) AS bucket
            FROM (SELECT query_id, qvec, {bucket("qvec")} AS qsig FROM q)
        ), approx AS (
            SELECT query_id, vec_id, rank FROM (
                SELECT p.query_id, b.vec_id,
                       CAST(row_number() OVER (PARTITION BY p.query_id
                            ORDER BY {cos.format(a="b.embedding", b="p.qvec")} DESC,
                                     b.vec_id ASC) AS BIGINT) AS rank
                FROM bv b JOIN probes p ON b.bucket = p.bucket
            ) WHERE rank <= {_EVAL_K}
        ), rec AS (
            SELECT e.query_id,
                   count(*) AS n_exact,
                   CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_hit
            FROM exact e
            LEFT JOIN approx a
              ON e.query_id = a.query_id AND e.vec_id = a.vec_id
            GROUP BY e.query_id
        ), firsthit AS (
            SELECT a.query_id, min(a.rank) AS first_hit_rank
            FROM approx a
            JOIN exact e ON a.query_id = e.query_id AND a.vec_id = e.vec_id
            GROUP BY a.query_id
        )
        SELECT r.query_id, r.n_exact, r.n_hit,
               round(r.n_hit / r.n_exact, 6) AS recall,
               f.first_hit_rank,
               round(coalesce(1.0 / f.first_hit_rank, 0.0), 6) AS rr
        FROM rec r LEFT JOIN firsthit f ON r.query_id = f.query_id
        ORDER BY r.query_id
    """


_HN_COS = (
    "list_dot_product(({a})::DOUBLE[], ({b})::DOUBLE[]) / "
    "(sqrt(list_dot_product(({a})::DOUBLE[], ({a})::DOUBLE[])) * "
    "sqrt(list_dot_product(({b})::DOUBLE[], ({b})::DOUBLE[])))"
)

# mine_hard_negatives replayed in SQL: one ranked cross-join CTE feeds
# both the rank-1 positive (the pair construction) and the top-k
# candidate cut; then gold exclusion + margin filter against the
# exactly-computed positive score, then the final re-rank window — the
# same stage order as the operator.
_HARD_NEGATIVES_ORACLE_SQL = f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS qvec
        FROM embeddings WHERE vec_id < {_HN_NQ}
    ), ranked AS (
        SELECT q.query_id, e.vec_id,
               {_HN_COS.format(a="e.embedding", b="q.qvec")} AS score,
               row_number() OVER (PARTITION BY q.query_id
                    ORDER BY {_HN_COS.format(a="e.embedding", b="q.qvec")} DESC,
                             e.vec_id ASC) AS rnk
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id != q.query_id
    ), pos AS (
        SELECT query_id, vec_id AS pos_key, score AS pos_score
        FROM ranked WHERE rnk = 1
    )
    SELECT query_id, neg_key, score, neg_rank FROM (
        SELECT c.query_id, c.vec_id AS neg_key,
               round(c.score, 6) AS score,
               CAST(row_number() OVER (PARTITION BY c.query_id
                    ORDER BY c.score DESC, c.vec_id ASC) AS BIGINT)
                   AS neg_rank
        FROM ranked c JOIN pos ON c.query_id = pos.query_id
        WHERE c.rnk <= {_HN_K}
          AND c.vec_id != pos.pos_key
          AND c.score <= pos.pos_score - {_HN_MARGIN}
    )
    WHERE neg_rank <= {_HN_NNEG}
    ORDER BY query_id, neg_rank
"""

def _leak_split_oracle(sf_dir: str) -> str:
    """SQL oracle for q_split_leakage_safe: components via the shared
    banded-pairs SQL + recursive closure (the dedup_minhash_components
    oracle's shape), then the hash_split CASE on the component id with
    the same md5 bucket formula as sample_train_test_split's oracle."""
    bucket = (
        _MD5_60_SQL.format(x="CAST(comp.component AS VARCHAR) || '#42'")
        + " % 1000000"
    )
    return f"""
        WITH RECURSIVE
        pairs AS ({_mh_pairs_oracle_sql()}),
        edges AS (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION
            SELECT id_b AS src, id_a AS dst FROM pairs
        ),
        reach(a, b) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
        ),
        comp AS (SELECT a AS id, min(b) AS component FROM reach GROUP BY a)
        SELECT d.doc_id,
               CASE WHEN ({bucket}) < 900000 THEN 'train'
                    WHEN ({bucket}) < 950000 THEN 'val'
                    ELSE 'test' END AS split
        FROM documents d JOIN comp ON d.doc_id = comp.id
        ORDER BY d.doc_id
    """


# the mining stages (shared with _HARD_NEGATIVES_ORACLE_SQL's body) +
# two text fetch-backs + rank-ordered list aggregation
_TRAINING_PAIRS_ORACLE_SQL = f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS qvec
        FROM embeddings WHERE vec_id < {_HN_NQ}
    ), ranked AS (
        SELECT q.query_id, e.vec_id,
               {_HN_COS.format(a="e.embedding", b="q.qvec")} AS score,
               row_number() OVER (PARTITION BY q.query_id
                    ORDER BY {_HN_COS.format(a="e.embedding", b="q.qvec")} DESC,
                             e.vec_id ASC) AS rnk
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id != q.query_id
    ), pos AS (
        SELECT query_id, vec_id AS pos_key, score AS pos_score
        FROM ranked WHERE rnk = 1
    ), negs AS (
        SELECT query_id, neg_key, neg_rank FROM (
            SELECT c.query_id, c.vec_id AS neg_key,
                   row_number() OVER (PARTITION BY c.query_id
                        ORDER BY c.score DESC, c.vec_id ASC) AS neg_rank
            FROM ranked c JOIN pos ON c.query_id = pos.query_id
            WHERE c.rnk <= {_HN_K}
              AND c.vec_id != pos.pos_key
              AND c.score <= pos.pos_score - {_HN_MARGIN}
        ) WHERE neg_rank <= {_HN_NNEG}
    )
    SELECT p.query_id, dp.text AS positive_text,
           CAST(coalesce(n.neg_rank, 0) AS BIGINT) AS neg_rank,
           coalesce(dn.text, '') AS negative_text
    FROM pos p
    JOIN documents dp ON dp.doc_id = p.pos_key
    LEFT JOIN negs n ON n.query_id = p.query_id
    LEFT JOIN documents dn ON dn.doc_id = n.neg_key
    ORDER BY p.query_id, neg_rank
"""

# identical to the decontaminate_containment oracle: the Bloom path is
# an execution strategy, not a semantics change
_DECON_BLOOM_ORACLE_SQL = f"""
    WITH sh AS ({_SHINGLES_SQL}),
    ca0 AS (SELECT doc_id AS corpus_id, s FROM sh WHERE doc_id % 2 = 0),
    ca AS (
        SELECT corpus_id, s FROM (
            SELECT corpus_id, s, count(*) OVER (PARTITION BY s) AS df_
            FROM ca0
        ) WHERE df_ <= {_MAX_SHINGLE_FREQ}
    ),
    pb AS (SELECT doc_id AS probe_id, s FROM sh WHERE doc_id % 2 = 1),
    pcnt AS (SELECT probe_id, count(*) AS np FROM pb GROUP BY probe_id),
    inter AS (
        SELECT corpus_id, probe_id, count(*) AS i
        FROM ca JOIN pb USING (s) GROUP BY 1, 2
    )
    SELECT corpus_id, probe_id, round(i * 1.0 / np, 6) AS containment
    FROM inter JOIN pcnt USING (probe_id)
    WHERE round(i * 1.0 / np, 6) >= 0.5
    ORDER BY corpus_id, probe_id
"""

_CURRICULUM_ORACLE_SQL = r"""
    SELECT doc_id, wc,
           row_number() OVER (ORDER BY wc, doc_id) AS rank,
           ntile(8) OVER (ORDER BY wc, doc_id) AS shard
    FROM (
        SELECT doc_id,
               len(regexp_split_to_array(trim(coalesce(text, '')), '\s+')) AS wc
        FROM documents
    )
    ORDER BY rank
"""

_VOCAB_COVERAGE_ORACLE_SQL = r"""
    WITH wd AS (
        SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
        FROM documents
    ), counts AS (
        SELECT w, count(*) AS cnt FROM wd WHERE w <> '' GROUP BY w
    ), ranked AS (
        SELECT w, cnt, row_number() OVER (ORDER BY cnt DESC, w) AS rank
        FROM counts
    ), tot AS (SELECT sum(cnt) AS total FROM counts)
    SELECT CAST(k AS BIGINT) AS k,
           CAST(count(*) AS BIGINT) AS vocab_k,
           CAST(sum(cnt) AS BIGINT) AS covered_tokens,
           CAST((SELECT total FROM tot) AS BIGINT) AS total_tokens,
           CAST(sum(cnt) * 1000000 // (SELECT total FROM tot) AS BIGINT)
               AS coverage_micro
    FROM ranked CROSS JOIN (VALUES (10), (100), (1000)) AS ks(k)
    WHERE rank <= k GROUP BY k ORDER BY k
"""


def _html_extract_oracle_sql() -> str:
    """DuckDB replay of q_html_extract: the synthetic page is rebuilt
    with the same concatenation, then functions/html.py's own
    oracle_sql_chain (kept beside the Spark chain so they cannot drift)
    extracts the text; title/link expressions mirror html_title /
    html_link_count."""
    from letsearch_spark.functions.html import (
        _ENTITIES,
        _LINK_RE,
        _TITLE_RE,
        oracle_sql_chain,
    )

    title = f"regexp_extract(page, '{_TITLE_RE}', 1)"
    for ent, repl in _ENTITIES:
        r = repl.replace("'", "''")
        title = f"replace({title}, '{ent}', '{r}')"
    title = f"trim(regexp_replace({title}, '\\s+', ' ', 'g'))"
    return f"""
        WITH pages AS (
            SELECT doc_id,
                   '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR)
                   || ' &amp; notes</title><script>var x = 1 < 2;</script>'
                   || '</head><body><p>'
                   || replace(coalesce(text, ''), ' the ', ' <b>the</b> ')
                   || '</p><!-- id ' || CAST(doc_id AS VARCHAR)
                   || ' --><div>footer&nbsp;notes</div><a href="http://x">x</a>'
                   || '</body></html>' AS page
            FROM documents
        ), ex AS (
            SELECT doc_id,
                   {oracle_sql_chain("page")} AS clean,
                   {title} AS title,
                   CAST(len(regexp_extract_all(page, '{_LINK_RE}'))
                        AS BIGINT) AS n_links
            FROM pages
        )
        SELECT doc_id, title, n_links,
               CAST(length(clean) AS BIGINT) AS clean_len,
               md5(clean) AS clean_md5
        FROM ex ORDER BY doc_id
    """


_DATASET_DIFF_ORACLE_SQL = """
    WITH old_snap AS (SELECT doc_id, text FROM documents),
    new_snap AS (
        SELECT doc_id,
               CASE WHEN doc_id % 7 = 0 THEN coalesce(text, '') || ' v2'
                    ELSE text END AS text
        FROM documents WHERE doc_id % 10 <> 0
        UNION ALL
        SELECT doc_id + 1000000, 'brand new document'
        FROM documents WHERE doc_id < 5
    )
    SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
           CASE WHEN o.doc_id IS NULL THEN 'added'
                WHEN n.doc_id IS NULL THEN 'removed'
                WHEN o.text IS DISTINCT FROM n.text THEN 'changed'
                ELSE 'unchanged' END AS status
    FROM old_snap o FULL JOIN new_snap n ON o.doc_id = n.doc_id
    ORDER BY doc_id
"""

_SHUFFLE_ORDER_ORACLE_SQL = """
    SELECT doc_id,
           CAST(row_number() OVER (
               ORDER BY md5(CAST(doc_id AS VARCHAR) || '#42'), doc_id
           ) AS BIGINT) AS shuffle_rank
    FROM documents ORDER BY doc_id
"""

def _kmeans_full_oracle(sf_dir: str) -> str:
    """Computed VALUES-literal twin of q_ann_kmeans_full: the numpy
    single-process replay of the same 3 Lloyd iterations (identical
    init, matmul assignment, fixed-point pooled means, shared _unit
    renorm), then the same final assignment counts."""
    import numpy as np
    import pyarrow.parquet as pq

    from letsearch_spark.operators.ann import kmeans_fit_full_twin

    etbl = pq.read_table(
        os.path.join(sf_dir, "embeddings.parquet"), columns=["vec_id", "embedding"]
    ).to_pylist()
    etbl.sort(key=lambda r: r["vec_id"])
    x = np.array([r["embedding"] for r in etbl], dtype=np.float64)
    cent = kmeans_fit_full_twin(x, nlist=8, iters=3)
    norms = np.linalg.norm(x, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    assign = ((x / norms) @ cent.T).argmax(axis=1)
    counts = {c: int((assign == c).sum()) for c in range(8)}
    rows = [
        (int(i), int(p), _py_round6(v), counts.get(int(i), 0))
        for i, c in enumerate(cent)
        for p, v in enumerate(c)
    ]
    return _values_literal(
        rows,
        [
            ("list_id", "BIGINT"),
            ("pos", "BIGINT"),
            ("val", "DOUBLE"),
            ("n_members", "BIGINT"),
        ],
    )


def _token_count_unigram_oracle(sf_dir: str) -> str:
    """Computed VALUES-literal twin of q_token_count_unigram: Counter
    word counts + train_unigram_twin (shared E/M/prune kernels; the
    fixed-point expectations commute, so equal word-count multisets
    give the bit-identical model), then the same Viterbi counts."""
    from collections import Counter as _Counter

    import pyarrow.parquet as _pq

    from letsearch_spark.tokenizer import split_text
    from letsearch_spark.tokenizer_unigram import train_unigram_twin

    tbl = _pq.read_table(
        os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "text"]
    ).to_pylist()
    wc = _Counter(w for r in tbl for w in split_text(r["text"] or ""))
    twin = train_unigram_twin(
        sorted(wc.items()),
        vocab_size=_UNIGRAM_VOCAB,
        seed_size=_UNIGRAM_SEED,
        em_iters=2,
    )
    rows = sorted(
        (int(r["doc_id"]), twin.token_count(r["text"] or "")) for r in tbl
    )
    return _values_literal(rows, [("doc_id", "BIGINT"), ("n_tokens", "BIGINT")])


def _text_compression_oracle(sf_dir: str) -> str:
    """Computed VALUES-literal twin of q_text_compression: the same
    stdlib zlib at level 6 over the same UTF-8 bytes, ratio rounded
    HALF_UP to 6 like F.round, thresholds compared on the rounded
    value exactly as compression_flags does."""
    import zlib as _zlib

    import pyarrow.parquet as _pq

    tbl = _pq.read_table(
        os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "text"]
    ).to_pylist()
    rows = []
    for r in tbl:
        t = r["text"]
        if not isinstance(t, str) or t == "":
            rows.append((int(r["doc_id"]), 0, 0, 0.0, False))
            continue
        b = t.encode("utf-8")
        comp = len(_zlib.compress(b, 6))
        ratio = _py_round6(comp / len(b))
        rows.append(
            (int(r["doc_id"]), len(b), comp, ratio, 0.25 <= ratio <= 1.05)
        )
    rows.sort()
    return _values_literal(
        rows,
        [
            ("doc_id", "BIGINT"),
            ("raw_bytes", "BIGINT"),
            ("zlib_bytes", "BIGINT"),
            ("ratio", "DOUBLE"),
            ("passes", "BOOLEAN"),
        ],
    )


def _quantize_f16_oracle(sf_dir: str) -> str:
    """Computed-literal oracle for quantize_f16_roundtrip: replicate the
    numpy f16 pack/unpack and the Catalyst double fold (abs diff, running
    greatest) exactly. Standalone so the off-window gate pays only THIS
    oracle, not the whole computed set."""
    import numpy as np
    import pyarrow.parquet as pq

    etbl = pq.read_table(
        os.path.join(sf_dir, "embeddings.parquet"), columns=["vec_id", "embedding"]
    ).to_pylist()
    etbl.sort(key=lambda r: r["vec_id"])
    qrows = []
    for r in etbl:
        a = np.asarray(r["embedding"], dtype=np.float32)
        restored = a.astype(np.float16).astype(np.float32)
        err = 0.0
        for x, y in zip(a, restored):
            d = abs(float(x) - float(y))
            if d > err:
                err = d
        qrows.append((r["vec_id"], 2 * len(a), err))
    return _values_literal(
        qrows,
        [("vec_id", "BIGINT"), ("n_bytes", "BIGINT"), ("max_err", "DOUBLE")],
    )


def _token_count_bpe_oracle(sf_dir: str) -> str:
    """Computed-literal oracle for token_count_bpe: Counter word counts +
    the SAME pure-Python merge trainer/encoder the distributed path
    drives (tokenizer.py _train_merges is driver-side in both worlds;
    merge selection is order-independent -- max count, lexicographically
    smallest tie-break -- so equal word-count multisets give equal
    models).
    Counts are integers: hash-stable. Standalone so the off-window
    gate pays only THIS oracle, not the whole computed set."""
    from collections import Counter

    from letsearch_spark.tokenizer import (
        END_OF_WORD,
        BpeModel,
        _train_merges,
        split_text,
    )

    docs = _read_documents(sf_dir)
    wc = Counter(w for r in docs for w in split_text(r["text"] or ""))
    top = sorted(wc.items(), key=lambda kv: (-kv[1], kv[0]))[:1_000_000]
    alpha_size = len(
        {s for w, _ in top for s in (list(w[:-1]) + [w[-1] + END_OF_WORD])}
    )
    merges, alphabet = _train_merges(top, max(0, _BPE_VOCAB - alpha_size))
    model = BpeModel(
        merges=merges, alphabet=alphabet, word_types=len(top), coverage=1.0
    )
    return _values_literal(
        [(r["doc_id"], model.token_count(r["text"] or "")) for r in docs],
        [("doc_id", "BIGINT"), ("n_tokens", "BIGINT")],
    )


# values are SQL strings, or callables (sf_dir) -> SQL for the
# computed-literal oracles; the SQL twins that _oracles() writes for
# off-window entries join these below
OFF_WINDOW_ORACLES: dict[str, object] = {
    "s_csv_roundtrip": """
        SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
        FROM documents ORDER BY doc_id
    """,
    "multimodal_headers": _MULTIMODAL_HEADERS_ORACLE_SQL,
    "lang_id_ngram": _lang_id_ngram_oracle,
    "token_count_wordpiece": _token_count_wordpiece_oracle,
    "dedup_url_canonical": _DEDUP_URL_ORACLE_SQL,
    "search_maxsim": _maxsim_oracle_sql(),
    "text_compression": _text_compression_oracle,
    "ann_kmeans_full": _kmeans_full_oracle,
    "embed_mean_pool": _MEAN_POOL_ORACLE_SQL,
    "html_extract": _html_extract_oracle_sql(),
    "dataset_diff": _DATASET_DIFF_ORACLE_SQL,
    "shuffle_order": _SHUFFLE_ORDER_ORACLE_SQL,
    "perplexity_buckets": _ppl_buckets_oracle,
    "mixture_epochs": _mixture_epochs_oracle,
    "winnow_fingerprints": _winnow_oracle,
    "temperature_mixture": _temperature_mixture_oracle,
    "quantize_f16_roundtrip": _quantize_f16_oracle,
    "token_count_bpe": _token_count_bpe_oracle,
}


def _oracles() -> dict[str, str]:
    md5_60 = _MD5_60_SQL
    words = _WORDS_SQL.format(x="text")
    cents = "CAST(ROUND({x} * 100) AS BIGINT)"
    # ::DOUBLE[] casts force DuckDB into the same sequential-double dot
    # product as the Spark fold (FLOAT[] inputs would use float32 kernels)
    cos = (
        "list_dot_product(({a})::DOUBLE[], ({b})::DOUBLE[]) / "
        "(sqrt(list_dot_product(({a})::DOUBLE[], ({a})::DOUBLE[])) * "
        "sqrt(list_dot_product(({b})::DOUBLE[], ({b})::DOUBLE[])))"
    )

    o: dict[str, str] = {}

    o["s2_ingest_dense_key"] = """
        SELECT CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT) AS _key, doc_id
        FROM documents
    """
    o["agg_pricing_summary"] = f"""
        SELECT l_returnflag, l_linestatus,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
               sum({cents.format(x='l_extendedprice')}) / 100.0 AS sum_base_price,
               sum({cents.format(x='l_extendedprice * (1 - l_discount)')}) / 100.0 AS sum_disc_price,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """
    o["join_top_orders"] = f"""
        SELECT o_orderkey,
               sum({cents.format(x='l_extendedprice * (1 - l_discount)')}) / 100.0 AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
        GROUP BY o_orderkey
        ORDER BY revenue DESC, o_orderkey ASC
        LIMIT 10
    """
    qvec = "(SELECT embedding FROM embeddings WHERE vec_id = 0)"
    o["k1_topk_label_filtered"] = f"""
        SELECT vec_id, round({cos.format(a='embedding', b=qvec)}, 6) AS score
        FROM embeddings
        WHERE label = 1
        ORDER BY score DESC, vec_id ASC
        LIMIT 10
    """
    o["knn_join"] = f"""
        SELECT query_id, vec_id AS neighbor_id, rank FROM (
            SELECT q.vec_id AS query_id, e.vec_id,
                   CAST(row_number() OVER (PARTITION BY q.vec_id
                        ORDER BY {cos.format(a='e.embedding', b='q.embedding')} DESC,
                                 e.vec_id ASC) AS BIGINT) AS rank
            FROM embeddings e
            CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 5) q
            WHERE e.vec_id != q.vec_id
        ) WHERE rank <= 3
    """
    o["search_fetchback_join"] = f"""
        WITH hits AS (
            SELECT vec_id, round({cos.format(a='embedding', b=qvec)}, 6) AS score
            FROM embeddings
            ORDER BY score DESC, vec_id ASC
            LIMIT 10
        )
        SELECT h.vec_id, h.score, CAST(length(d.text) AS BIGINT) AS content_len
        FROM hits h JOIN documents d ON h.vec_id = d.doc_id
        WHERE d.text IS NOT NULL
        ORDER BY h.score DESC, h.vec_id ASC
    """
    # stream_sessionize: the streaming closed-session set == every
    # non-final session per user (closed in-batch by the gap rule; the
    # single-file source guarantees ONE data micro-batch) plus final
    # sessions whose event-time timeout fired in the trailing no-data
    # batch. Timeout semantics replicated exactly: timeouts are
    # millisecond-floored (state.setTimeoutTimestamp(last_us // 1000 +
    # gap_ms)) and fire when STRICTLY below the final watermark
    # (max event-time ms - 2h) -- Spark evicts state with
    # timeoutTimestamp < watermark.
    o["stream_sessionize"] = """
        WITH ev AS (
            SELECT user_id, event_id, ts::TIMESTAMP AS ts FROM events
        ),
        flagged AS (
            SELECT user_id, event_id, ts,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR date_diff('microsecond', lag(ts) OVER w, ts)
                                > 1800000000
                        THEN 1 ELSE 0 END AS new_s
            FROM ev
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sess AS (
            SELECT user_id, sid,
                   min(ts) AS session_start, max(ts) AS session_end,
                   count(*) AS n_events
            FROM (
                SELECT user_id, ts,
                       sum(new_s) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id
                                        ROWS UNBOUNDED PRECEDING) AS sid
                FROM flagged
            )
            GROUP BY user_id, sid
        ),
        wm AS (
            SELECT epoch_us(max(ts)) // 1000 - 7200000 AS wm_ms FROM ev
        )
        SELECT s.user_id, s.session_start, s.session_end, s.n_events
        FROM sess s, wm
        WHERE s.sid < (SELECT max(s2.sid) FROM sess s2
                       WHERE s2.user_id = s.user_id)
           OR (epoch_us(s.session_end) // 1000 + 1800000) < wm.wm_ms
        ORDER BY s.user_id, s.session_start
    """
    o["events_asof_last_order"] = """
        WITH r AS (
            SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice FROM (
                SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
                       row_number() OVER (PARTITION BY o_custkey, o_orderdate
                                          ORDER BY o_orderkey DESC) AS rn
                FROM orders) WHERE rn = 1
        )
        SELECT e.event_id, e.user_id, e.ts, e.event_type,
               r.o_orderkey, r.o_totalprice, r.o_orderdate AS order_ts
        FROM events e ASOF LEFT JOIN r
             ON e.user_id = r.o_custkey AND e.ts >= r.o_orderdate
        ORDER BY e.event_id
    """
    b42 = md5_60.format(x="CAST(doc_id AS VARCHAR) || '#42'") + " % 1000000"
    b7 = md5_60.format(x="CAST(doc_id AS VARCHAR) || '#7'") + " % 1000000"
    o["sample_train_test_split"] = f"""
        SELECT doc_id, lang,
               CASE WHEN {b42} < 900000 THEN 'train'
                    WHEN {b42} < 950000 THEN 'val'
                    ELSE 'test' END AS split,
               ({b7} < 100000) AS in_10pct_sample,
               ({b42} < CASE WHEN lang = 'en' THEN 250000 ELSE 1000000 END)
                   AS strat_kept_en25
        FROM documents
        ORDER BY doc_id
    """
    mix_total = sum(_MIX_WEIGHTS.values())
    mix_case = " ".join(
        f"WHEN '{k}' THEN {v / mix_total:.17e}" for k, v in _MIX_WEIGHTS.items()
    )
    o["sample_mixture"] = f"""
        WITH cnt AS (SELECT lang AS d, count(*) AS n FROM documents GROUP BY lang)
        SELECT doc_id, lang
        FROM documents JOIN cnt ON lang = cnt.d
        WHERE {b42} < CAST(floor(least(1.0::DOUBLE,
            {_MIX_TARGET} * (CASE lang {mix_case} ELSE 0.0 END) / n)
            * 1000000) AS BIGINT)
        ORDER BY doc_id
    """
    o["pack_sequences"] = f"""
        WITH t AS (
            SELECT doc_id,
                   CAST(ceil(len({words}) * 1.3) AS BIGINT) AS tok,
                   ({b42}) % {_PACK_SHARDS} AS shard
            FROM documents
        ),
        s AS (
            SELECT doc_id, tok, shard,
                   CAST(sum(tok) OVER (PARTITION BY shard ORDER BY doc_id
                                       ROWS UNBOUNDED PRECEDING) - tok
                        AS BIGINT) AS st
            FROM t WHERE tok > 0
        )
        SELECT shard,
               CAST(sq AS BIGINT) AS seq,
               doc_id,
               greatest(0, sq * {_PACK_SEQ_LEN} - st) AS tok_begin,
               least(tok, sq * {_PACK_SEQ_LEN} + {_PACK_SEQ_LEN} - st)
                   - greatest(0, sq * {_PACK_SEQ_LEN} - st) AS tok_len,
               st + greatest(0, sq * {_PACK_SEQ_LEN} - st)
                   - sq * {_PACK_SEQ_LEN} AS seq_offset
        FROM s, unnest(range(st // {_PACK_SEQ_LEN},
                             (st + tok - 1) // {_PACK_SEQ_LEN} + 1)) AS u(sq)
        ORDER BY shard, seq, seq_offset
    """
    # LSH-mode embedding dedup: the hyperplanes are deterministic from the
    # seed, so the oracle reproduces the bucket signature with the same
    # plane coefficients as double literals
    from letsearch_spark.operators.topk import _hyperplanes

    planes = _hyperplanes(_EMB_DIM, _LSH_BITS, seed=42)
    bucket_terms = " + ".join(
        "(CASE WHEN list_dot_product((embedding)::DOUBLE[], "
        f"[{', '.join(repr(float(p)) for p in plane)}]::DOUBLE[]) >= 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i, plane in enumerate(planes)
    )
    o["dedup_embedding_cosine_lsh"] = f"""
        WITH bv AS (
            SELECT vec_id, embedding, CAST({bucket_terms} AS INT) AS bucket
            FROM embeddings
        )
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round({cos.format(a='a.embedding', b='b.embedding')}, 6) AS sim
        FROM bv a JOIN bv b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        WHERE round({cos.format(a='a.embedding', b='b.embedding')}, 6) >= {_LSH_THRESHOLD}
        ORDER BY id_a, id_b
    """
    o["dedup_lines"] = f"""
        WITH built AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 3 = 0
                        THEN '{_BOILER_LINE}' || chr(10) ELSE '' END ||
                   regexp_replace(coalesce(text, ''),
                                  '((?:\\S+ ){{7}}\\S+) ',
                                  '\\1' || chr(10), 'g') AS t
            FROM documents
        ),
        l AS (
            SELECT doc_id,
                   unnest(string_split(t, chr(10))) AS line,
                   unnest(range(1, len(string_split(t, chr(10))) + 1)) AS pos
            FROM built
        ),
        stats AS (
            SELECT trim(line) AS tl,
                   min(doc_id) AS keeper
            FROM l WHERE length(trim(line)) >= 1
            GROUP BY 1 HAVING count(DISTINCT doc_id) > 1
        ),
        j AS (
            SELECT l.doc_id, l.pos, l.line,
                   (length(trim(l.line)) < 1 OR s.tl IS NULL
                    OR l.doc_id = s.keeper) AS keep
            FROM l LEFT JOIN stats s ON trim(l.line) = s.tl
        )
        SELECT doc_id,
               md5(coalesce(
                   string_agg(line, chr(10) ORDER BY pos)
                       FILTER (WHERE keep), '')) AS cleaned_md5,
               count(*) AS n_lines,
               CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT)
                   AS n_removed
        FROM j GROUP BY doc_id ORDER BY doc_id
    """
    # sign-LSH multiprobe top-k: probe = query bucket + Hamming-1
    # neighbors, exactly the multiprobe_signatures(radius=1) set
    o["ann_lsh_topk"] = f"""
        WITH bv AS (
            SELECT vec_id, embedding, CAST({bucket_terms} AS INT) AS bucket
            FROM embeddings
        )
        SELECT vec_id, round({cos.format(a='embedding', b=qvec)}, 6) AS score
        FROM bv
        WHERE bit_count(xor(bucket, (SELECT bucket FROM bv WHERE vec_id = 0))) <= 1
        ORDER BY score DESC, vec_id ASC
        LIMIT 10
    """
    # hybrid retrieval: the BM25 leg replays the Spark analyzer
    # (lowercase, [^a-z0-9]+ separators) and Lucene-variant idf with the
    # same parenthesization as operators/bm25.py so the per-term doubles
    # agree to far beyond the 6-decimal rounding; ranks are integers, so
    # the RRF fusion is bit-exact.
    o["search_bm25_hybrid"] = f"""
        WITH toks AS (
            SELECT doc_id, t AS term FROM (
                SELECT doc_id,
                       unnest(string_split_regex(lower(coalesce(text, '')),
                                                 '[^a-z0-9]+')) AS t
                FROM documents
            ) WHERE t <> ''
        ),
        dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
        st AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM dl),
        tf AS (
            SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
            FROM toks
            WHERE term IN ('spark', 'join', 'window', 'agg')
            GROUP BY doc_id, term
        ),
        dfreq AS (
            SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term
        ),
        bm AS (
            SELECT tf.doc_id,
                   sum(ln(1.0 + ((SELECT n FROM st) - df + 0.5) / (df + 0.5))
                       * (tf * 2.2
                          / (tf + 1.2 * (0.25 + 0.75 * dl
                                         / (SELECT avgdl FROM st))))) AS bm25
            FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id)
            GROUP BY tf.doc_id
        ),
        bmr AS (
            SELECT doc_id,
                   CAST(row_number() OVER (ORDER BY round(bm25, 6) DESC,
                                                    doc_id ASC) AS BIGINT) AS r
            FROM bm QUALIFY r <= 100
        ),
        vr AS (
            SELECT vec_id AS doc_id,
                   CAST(row_number() OVER (
                       ORDER BY round({cos.format(a='embedding', b=qvec)}, 6)
                                DESC, vec_id ASC) AS BIGINT) AS r
            FROM embeddings QUALIFY r <= 100
        )
        SELECT coalesce(b.doc_id, v.doc_id) AS doc_id,
               round(coalesce(1.0 / (60 + b.r), 0)
                     + coalesce(1.0 / (60 + v.r), 0), 6) AS rrf,
               b.r AS bm25_rank, v.r AS vec_rank
        FROM bmr b FULL JOIN vr v ON b.doc_id = v.doc_id
        ORDER BY rrf DESC, doc_id ASC
        LIMIT 10
    """
    o["dedup_exact"] = """
        SELECT min(doc_id) AS keep_id, count(*) AS n_copies
        FROM (SELECT doc_id,
                     regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS norm_text
              FROM documents)
        GROUP BY norm_text
        ORDER BY keep_id
    """
    jac_pairs_sql = f"""
        WITH sh AS ({_CAPPED_SHINGLES_SQL}),
        cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
            FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT id_a, id_b,
               round(i * 1.0 / (ca.n + cb.n - i), 6) AS jaccard
        FROM inter
        JOIN cnt ca ON ca.doc_id = id_a
        JOIN cnt cb ON cb.doc_id = id_b
        WHERE round(i * 1.0 / (ca.n + cb.n - i), 6) >= 0.5
    """
    o["dedup_ngram_jaccard"] = f"""
        SELECT * FROM ({jac_pairs_sql}) ORDER BY id_a, id_b
    """
    o["decontaminate_containment"] = f"""
        WITH sh AS ({_SHINGLES_SQL}),
        ca0 AS (SELECT doc_id AS corpus_id, s FROM sh WHERE doc_id % 2 = 0),
        ca AS (
            SELECT corpus_id, s FROM (
                SELECT corpus_id, s, count(*) OVER (PARTITION BY s) AS df_
                FROM ca0
            ) WHERE df_ <= {_MAX_SHINGLE_FREQ}
        ),
        pb AS (SELECT doc_id AS probe_id, s FROM sh WHERE doc_id % 2 = 1),
        pcnt AS (SELECT probe_id, count(*) AS np FROM pb GROUP BY probe_id),
        inter AS (
            SELECT corpus_id, probe_id, count(*) AS i
            FROM ca JOIN pb USING (s) GROUP BY 1, 2
        )
        SELECT corpus_id, probe_id, round(i * 1.0 / np, 6) AS containment
        FROM inter JOIN pcnt USING (probe_id)
        WHERE round(i * 1.0 / np, 6) >= 0.5
        ORDER BY corpus_id, probe_id
    """
    mh_pairs_sql = _mh_pairs_oracle_sql()
    o["dedup_minhash_lsh"] = f"""
        SELECT * FROM ({mh_pairs_sql}) ORDER BY id_a, id_b
    """
    # the full scalable pipeline: banded candidates -> verify ->
    # transitive closure -> keep-list, end-to-end
    o["dedup_minhash_components"] = f"""
        WITH RECURSIVE
        pairs AS ({mh_pairs_sql}),
        edges AS (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION
            SELECT id_b AS src, id_a AS dst FROM pairs
        ),
        reach(a, b) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
        )
        SELECT a AS id, min(b) AS component, (a = min(b)) AS is_kept
        FROM reach GROUP BY a ORDER BY id
    """
    bit_sums = ", ".join(
        f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}"
        for j in range(_SIMHASH_BITS)
    )
    sim_terms = " + ".join(
        f"(CASE WHEN b{j} >= 0 THEN CAST({1 << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for j in range(_SIMHASH_BITS)
    )
    simhash_cte = f"""
        WITH toks AS (
            SELECT doc_id, unnest({words}) AS w FROM documents
        ),
        th AS (
            SELECT doc_id, {md5_60.format(x='w')} AS h FROM toks WHERE w != ''
        ),
        bits AS (SELECT doc_id, {bit_sums} FROM th GROUP BY doc_id)
        SELECT doc_id, {sim_terms} AS simhash FROM bits
    """
    o["dedup_simhash_pairs"] = f"""
        WITH sh AS ({simhash_cte})
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        ORDER BY id_a, id_b
    """
    lang_counts = ", ".join(
        f"len(regexp_extract_all(lower(text), '{pat}')) AS n_{k}"
        for k, pat in _STOP.items()
    )
    from letsearch_spark.functions.text import EMAIL_RE, IP_RE, PHONE_RE, URL_RE

    o["text_profile"] = f"""
        WITH w AS (
            SELECT doc_id, text, {words} AS ws, {lang_counts},
                   coalesce(text, '') || ' see https://ex.com/p/'
                   || CAST(doc_id AS VARCHAR) || ' or mail bob'
                   || CAST(doc_id AS VARCHAR) || '@ex-mail.org end' AS noisy
            FROM documents
        ),
        g AS (
            SELECT *, CASE WHEN len(ws) >= 2 THEN
                           list_transform(range(1, len(ws)),
                                          i -> ws[i] || ' ' || ws[i+1])
                      ELSE [] END AS gs
            FROM w
        )
        SELECT doc_id,
               CAST(length(text) AS BIGINT) AS n_chars,
               CAST(len(ws) AS BIGINT) AS n_words,
               round(length(text) * 1.0 / len(ws), 6) AS chars_per_word,
               round(len(regexp_extract_all(text, '[.,;:!?]')) * 1.0 / length(text), 6)
                   AS punct_ratio,
               CAST(ceil(len(ws) * 1.3) AS BIGINT) AS n_tokens,
               CASE WHEN n_en = 0 AND n_de = 0 AND n_fr = 0 AND n_es = 0 THEN 'und'
                    WHEN n_en >= n_de AND n_en >= n_fr AND n_en >= n_es THEN 'en'
                    WHEN n_de >= n_fr AND n_de >= n_es THEN 'de'
                    WHEN n_es >= n_fr THEN 'es'
                    ELSE 'fr' END AS pred_lang,
               md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fingerprint,
               CASE WHEN length(text) > 0 AND len(ws) > 0 THEN
                    round(least(1.0, len(ws) / 100.0) * 0.4
                          + (n_en * 1.0 / len(ws)) * 0.3
                          + (1.0 - len(regexp_extract_all(text, '[.,;:!?]')) * 1.0
                             / length(text)) * 0.3, 6)
               END AS quality,
               CAST(len(list_distinct(ws)) AS BIGINT) AS n_distinct_words,
               CASE WHEN len(ws) > 0
                    THEN round(1.0 - len(list_distinct(ws)) * 1.0 / len(ws), 6)
                    ELSE 0.0 END AS dup_word_frac,
               CASE WHEN len(gs) > 0
                    THEN round(1.0 - len(list_distinct(gs)) * 1.0 / len(gs), 6)
                    ELSE 0.0 END AS dup_ngram_frac,
               CAST(len(regexp_extract_all(noisy, '{URL_RE}')) AS BIGINT) AS n_urls,
               CAST(len(regexp_extract_all(noisy, '{EMAIL_RE}')) AS BIGINT)
                   AS n_emails,
               CAST(len(regexp_extract_all(noisy, '{IP_RE}')) AS BIGINT) AS n_ips,
               CAST(len(regexp_extract_all(noisy, '{PHONE_RE}')) AS BIGINT)
                   AS n_phones,
               CAST(length(trim(regexp_replace(regexp_replace(regexp_replace(
                   regexp_replace(regexp_replace(
                   noisy, '{URL_RE}', '<URL>', 'g'), '{EMAIL_RE}', '<EMAIL>', 'g'),
                   '{IP_RE}', '<IP>', 'g'), '{PHONE_RE}', '<PHONE>', 'g'),
                   '\\s+', ' ', 'g'))) AS BIGINT) AS scrubbed_len
        FROM g ORDER BY doc_id
    """
    from letsearch_spark.functions.text import (
        BULLET_RE,
        ELLIPSIS_RE,
        STOP_TOKENS,
        SYMBOL_RE,
    )

    stop_list = ", ".join(f"'{s}'" for s in STOP_TOKENS)
    o["quality_filter_gopher"] = f"""
        WITH p AS (
            SELECT doc_id,
                   text
                   || CASE WHEN doc_id % 4 = 0 THEN chr(10) || '- item one'
                        || chr(10) || '- item two' || chr(10) || '- item three'
                        ELSE '' END
                   || CASE WHEN doc_id % 5 = 0
                        THEN chr(10) || 'to be continued ...'
                        ELSE '' END AS text
            FROM documents
        ),
        w AS (
            SELECT doc_id, text, {words} AS ws,
                   string_split(text, chr(10)) AS ls
            FROM p
        ),
        m AS (
            SELECT doc_id,
                   len(ws) AS n_words,
                   list_sum(list_transform(ws, x -> length(x))) * 1.0
                       / len(ws) AS mwl,
                   len(regexp_extract_all(text, '{SYMBOL_RE}')) * 1.0
                       / len(ws) AS symr,
                   len(list_filter(ls, x -> regexp_matches(x, '{BULLET_RE}')))
                       * 1.0 / len(ls) AS bull,
                   len(list_filter(ls, x -> regexp_matches(x, '{ELLIPSIS_RE}')))
                       * 1.0 / len(ls) AS ell,
                   len(list_filter(ws, x -> regexp_matches(x, '[a-z]')))
                       * 1.0 / len(ws) AS alphaf,
                   len(list_intersect(list_distinct(ws), [{stop_list}]))
                       AS nstop
            FROM w
        )
        SELECT doc_id,
               CAST(n_words AS BIGINT) AS n_words,
               round(mwl, 6) AS mean_word_len,
               round(symr, 6) AS symbol_ratio,
               round(bull, 6) AS bullet_frac,
               round(ell, 6) AS ellipsis_frac,
               round(alphaf, 6) AS alpha_frac,
               CAST(nstop AS BIGINT) AS n_stop_tokens,
               (n_words >= 40 AND n_words <= 100000) AS ok_words,
               (mwl >= 3.0 AND mwl <= 10.0) AS ok_word_len,
               (symr <= 0.1) AS ok_symbols,
               (bull <= 0.9) AS ok_bullets,
               (ell <= 0.3) AS ok_ellipsis,
               (alphaf >= 0.8) AS ok_alpha,
               (nstop >= 2) AS ok_stop,
               (n_words >= 40 AND n_words <= 100000
                AND mwl >= 3.0 AND mwl <= 10.0
                AND symr <= 0.1 AND bull <= 0.9 AND ell <= 0.3
                AND alphaf >= 0.8 AND nstop >= 2) AS passes
        FROM m ORDER BY doc_id
    """
    # frame-sample policy: sample_count = clamp(ceil(sqrt(n)), 1, n),
    # step = max(n // s, 1), idx_i = min(i*step, n-1) (pdf.rs:25-33)
    o["multimodal_frame_sample"] = """
        WITH f AS (
            SELECT doc_id,
                   CAST(n_chars % 240 + 1 AS BIGINT) AS n_frames,
                   least(greatest(CAST(ceil(sqrt(n_chars % 240 + 1)) AS BIGINT), 1),
                         CAST(n_chars % 240 + 1 AS BIGINT)) AS s
            FROM documents
        ),
        p AS (SELECT doc_id, n_frames, s, greatest(n_frames // s, 1) AS step FROM f)
        SELECT doc_id, n_frames,
               CAST(i AS BIGINT) AS pos,
               least(i * step, n_frames - 1) AS frame_idx
        FROM p, unnest(range(0, s)) AS t(i)
        ORDER BY doc_id, pos
    """
    # fake decode: md5-seeded dims/features (multimodal.py _fake_decode);
    # byte k of the digest is hex chars [2k+1, 2k+2]
    mm_byte = "CAST(('0x' || substr(md5(coalesce(text, '')), {p}, 2)) AS INT)"
    o["multimodal_decode"] = f"""
        SELECT doc_id,
               CAST(octet_length(encode(coalesce(text, ''))) AS BIGINT) AS n_bytes,
               sha256(coalesce(text, '')) AS sha,
               CAST(16 + {mm_byte.format(p=1)} AS BIGINT) AS width,
               CAST(16 + {mm_byte.format(p=3)} AS BIGINT) AS height,
               CAST(1 + {mm_byte.format(p=5)} % 4 AS BIGINT) AS n_channels,
               CAST({mm_byte.format(p=7)} AS BIGINT) AS f0,
               CAST({mm_byte.format(p=9)} AS BIGINT) AS f1,
               CAST({mm_byte.format(p=11)} AS BIGINT) AS f2,
               CAST({mm_byte.format(p=13)} AS BIGINT) AS f3
        FROM documents ORDER BY doc_id
    """
    o["stream_windowed_counts"] = """
        SELECT date_trunc('hour', ts) AS window_start, event_type,
               count(*) AS n
        FROM events GROUP BY 1, 2 ORDER BY 1, 2
    """
    o["stream_incremental_count"] = """
        SELECT event_type, count(*) AS n, CAST(sum(user_id) AS BIGINT) AS sum_uid
        FROM events GROUP BY event_type ORDER BY event_type
    """

    # round-6 window promotions (formerly off-window entries; the
    # SQL bodies are unchanged -- only the registry they live in moved)
    o["decontaminate_bloom"] = _DECON_BLOOM_ORACLE_SQL
    o["curriculum_order"] = _CURRICULUM_ORACLE_SQL
    o["mine_hard_negatives"] = _HARD_NEGATIVES_ORACLE_SQL
    # _leak_split_oracle ignores sf_dir (pure view SQL) -- safe to bake
    o["split_leakage_safe"] = _leak_split_oracle("")

    # round-7 window promotions (static-SQL half; eval_lsh_recall's
    # computed oracle registers in _computed_oracles)
    o["training_pairs"] = _TRAINING_PAIRS_ORACLE_SQL
    o["vocab_coverage"] = _VOCAB_COVERAGE_ORACLE_SQL
    o["corpus_data_card"] = _DATA_CARD_ORACLE_SQL

    # round-8 window promotions (static-SQL half; token_count_unigram's
    # computed oracle registers in _computed_oracles). The SQL bodies
    # are the former off-window entries, unchanged.
    o["dedup_survivor_quality"] = _survivor_quality_oracle_sql()
    o["ann_hamming_topk"] = _hamming_oracle_sql()
    o["sample_stratified_exact"] = _STRATIFIED_EXACT_ORACLE_SQL
    o["export_shards_manifest"] = _EXPORT_SHARDS_ORACLE_SQL
    o["fim_transform"] = _FIM_ORACLE_SQL

    # round-9 window promotions (static-SQL half; the
    # search_maxsim_collection / embed_pca_model computed oracles
    # register in _computed_oracles). The SQL bodies are the former
    # off-window entries, unchanged.
    o["s_wet_ingest"] = _WET_INGEST_ORACLE_SQL
    o["url_quality_filter"] = _URL_FILTER_ORACLE_SQL
    o["sft_render_chat"] = _SFT_CHAT_ORACLE_SQL
    o["interleave_order"] = _INTERLEAVE_ORACLE_SQL

    # round-10 window promotions (static-SQL half; the
    # token_count_byte_bpe / span_corruption / eval_hamming_recall
    # computed oracles register in _computed_oracles). The SQL bodies
    # are the former off-window entries, unchanged.
    o["s_warc_html_ingest"] = _warc_html_oracle_sql()
    o["c4_page_filter"] = _C4_ORACLE_SQL
    return o


# _oracles() writes the SQL twins of both registries; the driver window
# reads only its own
ORACLES: dict[str, str] = {}
for _name, _sql in _oracles().items():
    (ORACLES if _name in QUERIES else OFF_WINDOW_ORACLES)[_name] = _sql


# ======================================================================
# computed-literal oracles for the non-SQL-expressible pipelines
# ======================================================================
#
# The chunker / stub-embed / e2e-search pipelines have no SQL twin, but
# their expected output at a fixed scale factor is computable by a
# single-process reference implementation (pandas + the pure-Python
# chunker/embedder primitives, numpy for the brute-force search --
# reference: chunker.rs:76-299, vector_index.rs:128-152).  We emit that
# expected output as a VALUES-literal SELECT so the driver can
# hash-check all three exactly like the SQL-expressible queries.

ORACLE_SF_DIR_ENV = "LETSEARCH_ORACLE_SF_DIR"
_DEFAULT_ORACLE_SF_DIR = "/root/testdata/sf0.01"
_computed_cache: dict[str, dict[str, str]] = {}


def _read_documents(sf_dir: str) -> list[dict]:
    return _read_documents_cols(sf_dir, ["doc_id", "text"])


def _read_documents_cols(sf_dir: str, columns: list[str]) -> list[dict]:
    import pyarrow.parquet as pq

    tbl = pq.read_table(
        os.path.join(sf_dir, "documents.parquet"), columns=columns
    )
    rows = tbl.to_pylist()
    rows.sort(key=lambda r: r["doc_id"])
    return rows


def _values_literal(rows: list[tuple], cols: list[tuple[str, str]]) -> str:
    """``SELECT CAST(...) ...`` over a VALUES list; explicit casts keep the
    Arrow types identical to Spark's (BIGINT -> int64, BOOLEAN -> bool)."""

    def lit(v) -> str:
        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return "TRUE" if v else "FALSE"
        if isinstance(v, float):
            # scientific notation with 17 significant digits: DuckDB types
            # exponent literals as DOUBLE directly (a plain decimal would
            # be parsed as DECIMAL first and re-rounded, losing a ulp)
            return f"{v:.17e}"
        if isinstance(v, str):
            return "'" + v.replace("'", "''") + "'"
        return str(int(v))

    names = [c for c, _ in cols]
    sel = ", ".join(
        f"CAST(c{i} AS {typ}) AS {name}" for i, (name, typ) in enumerate(cols)
    )
    if not rows:
        zero = ", ".join("NULL" for _ in cols)
        return (
            f"SELECT {sel} FROM (VALUES ({zero})) "
            f"AS t({', '.join(f'c{i}' for i in range(len(cols)))}) WHERE FALSE"
        )
    vals = ", ".join("(" + ", ".join(lit(v) for v in row) + ")" for row in rows)
    return (
        f"SELECT {sel} FROM (VALUES {vals}) "
        f"AS t({', '.join(f'c{i}' for i in range(len(cols)))})"
    )


def _seq_dot(a, b) -> float:
    """Left-to-right double accumulation -- bit-identical to the Catalyst
    ``aggregate(zip_with(a, b, *), 0.0, +)`` expression in
    functions/vector.py, so scores replicate the engine's exactly."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += float(x) * float(y)
    return acc


def _computed_oracles(sf_dir: str) -> dict[str, str]:
    import math

    import numpy as np
    import pyarrow.parquet as pq

    from letsearch_spark.chunker import ChunkerConfig, MarkdownChunker
    from letsearch_spark.embedders.stub import StubEmbedder

    docs = _read_documents(sf_dir)
    o: dict[str, str] = {}

    # --- chunk_documents: (doc_id, chunk_idx, chunk_len), cfg 32/0 ---
    chunker = MarkdownChunker(ChunkerConfig(max_tokens=32, overlap_tokens=0))
    chunk_rows = [
        (r["doc_id"], idx, len(ch))
        for r in docs
        for idx, ch in enumerate(chunker.chunk(r["text"] if r["text"] is not None else ""))
    ]
    o["chunk_documents"] = _values_literal(
        chunk_rows,
        [("doc_id", "BIGINT"), ("chunk_idx", "BIGINT"), ("chunk_len", "BIGINT")],
    )

    # --- pdf_ingest: single-process twin over the same deterministic
    # fixture bytes (synthesize -> extract/heuristic -> markdown ->
    # chunk); rejects emit one null row, matching the Spark union ---
    from letsearch_spark.sources.pdf import _data_to_markdown, pdf_fixture_files

    pdf_rows: list[tuple] = []
    for fname, data in pdf_fixture_files().items():
        try:
            md = _data_to_markdown(data)
        except Exception:
            pdf_rows.append((fname, False, None, None))
            continue
        for idx, ch in enumerate(chunker.chunk(md)):
            pdf_rows.append((fname, True, idx, len(ch)))
    pdf_rows.sort(key=lambda r: (r[0], r[2] if r[2] is not None else -1))
    o["pdf_ingest"] = _values_literal(
        pdf_rows,
        [
            ("fname", "VARCHAR"),
            ("is_text", "BOOLEAN"),
            ("chunk_idx", "BIGINT"),
            ("chunk_len", "BIGINT"),
        ],
    )

    # --- embed_stub: (doc_id, dim, norm_ok) via the same stub embedder ---
    emb = StubEmbedder(16)
    vecs = emb.embed([r["text"] if r["text"] is not None else "" for r in docs])
    embed_rows = []
    for r, v in zip(docs, vecs):
        norm = math.sqrt(_seq_dot(v, v))
        embed_rows.append((r["doc_id"], 16, abs(norm - 1.0) < 1e-5))
    o["embed_stub"] = _values_literal(
        embed_rows,
        [("doc_id", "BIGINT"), ("dim", "BIGINT"), ("norm_ok", "BOOLEAN")],
    )

    # --- search_e2e: (rank, content_len) -- numpy brute-force twin of the
    # collection spine (embed coalesce(text,'') -> cosine -> top-10 by
    # (-score, key), null-content dropped).  Scores replicate the
    # engine's double arithmetic bit-for-bit via _seq_dot, so the
    # ordering (hence rank/content_len) is exact; key order only breaks
    # ties between bit-equal scores, which identical texts (equal
    # content_len) produce.
    q = emb.embed(["spark join query window batch data"])[0]
    qn = math.sqrt(_seq_dot(q, q))
    scored = []
    for i, (r, v) in enumerate(zip(docs, vecs)):
        if r["text"] is None:
            continue  # P6 null-content drop
        vn = math.sqrt(_seq_dot(v, v))
        denom = vn * qn
        score = 0.0 if denom == 0.0 else _seq_dot(v, q) / denom
        scored.append((-score, i, len(r["text"])))
    scored.sort()
    search_rows = [
        (rank + 1, content_len)
        for rank, (_, _, content_len) in enumerate(scored[:10])
    ]
    o["search_e2e"] = _values_literal(
        search_rows, [("rank", "BIGINT"), ("content_len", "BIGINT")]
    )

    # --- ann_ivf_assign: the same kmeans_fit numpy core on the key-sorted
    # vectors, then per-row argmax assignment -- the oracle twin of the
    # driver-side trainer + pandas-UDF assigner ---
    import numpy as np

    def _ivf_rows():
        import pyarrow.parquet as pq

        from letsearch_spark.operators.ann import kmeans_fit

        etbl = pq.read_table(
            os.path.join(sf_dir, "embeddings.parquet"),
            columns=["vec_id", "embedding"],
        ).to_pylist()
        etbl.sort(key=lambda r: r["vec_id"])
        x = np.array([r["embedding"] for r in etbl], dtype=np.float64)
        cent = kmeans_fit(x, nlist=8)
        norms = np.linalg.norm(x, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        assign = (x / norms @ cent.T).argmax(axis=1)
        return [(r["vec_id"], int(a)) for r, a in zip(etbl, assign)]

    o["ann_ivf_assign"] = _values_literal(
        _ivf_rows(), [("vec_id", "BIGINT"), ("list_id", "BIGINT")]
    )

    # embeddings table, vec_id-sorted -- shared by the PQ / semdedup /
    # recall oracles below (the off-window quantize oracle keeps its
    # own copy in _quantize_f16_oracle)
    etbl = pq.read_table(
        os.path.join(sf_dir, "embeddings.parquet"), columns=["vec_id", "embedding"]
    ).to_pylist()
    etbl.sort(key=lambda r: r["vec_id"])

    # --- dsir_sample: independent hashlib/math twin of the full
    # hash-feature / Laplace-ratio / Gumbel-top-k arithmetic
    # (operators/dsir.py; the same twin the unit test checks to 1e-9).
    # Rank-only output -- min adjacent gumbel gap is >= 2.6e-3 at every
    # sf, so ulp-level summation-order noise cannot flip a rank. ---
    import hashlib
    import re as _re

    def _h60(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    def _bm25_tokens(text: str) -> list[str]:
        # bm25.tokenize twin: lowercase, non-alnum -> space, drop empties
        return [
            t for t in _re.sub("[^a-z0-9]+", " ", text.lower()).split(" ") if t
        ]

    docs_full = _read_documents_cols(
        sf_dir, ["doc_id", "text", "lang"]
    )

    def _dsir_rows(k: int, buckets: int, seed: int, alpha: float):
        def feats(text: str) -> dict[int, int]:
            w = _bm25_tokens(text or "")
            grams = w + [f"{w[i]} {w[i + 1]}" for i in range(len(w) - 1)]
            out: dict[int, int] = {}
            for g in grams:
                b = _h60(f"{g}#dsir{seed}") % buckets
                out[b] = out.get(b, 0) + 1
            return out

        t_cnt: dict[int, int] = {}
        r_cnt: dict[int, int] = {}
        doc_feats = []
        for r in docs_full:
            f = feats(r["text"])
            if not f:
                # hashed_ngram_features drops token-less docs before the
                # explode (where(size(__w) > 0)): they are never scored,
                # so they must not get a Gumbel key here either
                continue
            doc_feats.append((r["doc_id"], f))
            for b, c in f.items():
                r_cnt[b] = r_cnt.get(b, 0) + c
                if r["lang"] == "en":
                    t_cnt[b] = t_cnt.get(b, 0) + c
        t_den = float(sum(t_cnt.values()) + alpha * buckets)
        r_den = float(sum(r_cnt.values()) + alpha * buckets)
        scored = []
        for did, f in doc_feats:
            lw = sum(
                c
                * (
                    math.log((t_cnt.get(b, 0) + alpha) / t_den)
                    - math.log((r_cnt.get(b, 0) + alpha) / r_den)
                )
                for b, c in f.items()
            )
            u = (_h60(f"{did}#gumbel{seed}") + 1) / float((1 << 60) + 1)
            scored.append((lw - math.log(-math.log(u)), did))
        scored.sort(key=lambda t: (-t[0], t[1]))
        return [(rank + 1, did) for rank, (_, did) in enumerate(scored[:k])]

    o["dsir_sample"] = _values_literal(
        _dsir_rows(k=25, buckets=10_000, seed=42, alpha=1.0),
        [("rank", "BIGINT"), ("doc_id", "BIGINT")],
    )

    # --- perplexity_filter: Counter/math twin of the bigram LM
    # (operators/ngram_lm.py) with Spark's exact HALF_UP round-6 (both
    # engines compare and emit the ROUNDED score, so membership and
    # values are quantized identically). LM corpus = lang='en'. ---
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal

    def _spark_round6(x: float) -> float:
        # F.round(double, 6): BigDecimal.valueOf(d) parses the shortest
        # decimal repr (== Python repr) then HALF_UP at scale 6
        return float(
            Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP)
        )

    def _split_words(text: str) -> list[str]:
        # words() twin: F.split(F.trim(F.lower(x)), '\\s+'). Spark SQL
        # trim strips ONLY 0x20 (so a leading tab/newline survives into
        # split and yields a leading '' token, which the real operator
        # keeps); Java regex \s is ASCII-only, hence re.ASCII.
        t = (text or "").lower().strip(" ")
        return _re.split(r"\s+", t, flags=_re.ASCII) if t else [""]

    def _ppl_rows(cutoff: float, alpha: float = 1.0):
        def grams(t: str) -> list[tuple[str, str]]:
            ws = _split_words(t)
            return [(ws[i], ws[i + 1]) for i in range(len(ws) - 1)]

        counts: Counter = Counter(
            g for r in docs_full if r["lang"] == "en" for g in grams(r["text"])
        )
        ptot: Counter = Counter()
        for (p, _w), c in counts.items():
            ptot[p] += c
        vocab = max(1, len({w for (_p, w) in counts}))
        rows = []
        for r in docs_full:
            gs = grams(r["text"])
            if not gs:
                continue
            s = sum(
                math.log(
                    (counts.get(g, 0) + alpha)
                    / (ptot.get(g[0], 0) + alpha * vocab)
                )
                for g in gs
            )
            ppl = _spark_round6(math.exp(-s / len(gs)))
            if ppl <= cutoff:
                rows.append((r["doc_id"], len(gs), ppl))
        rows.sort()
        return rows

    o["perplexity_filter"] = _values_literal(
        _ppl_rows(cutoff=30.0),
        [("doc_id", "BIGINT"), ("n_grams", "BIGINT"), ("ppl", "DOUBLE")],
    )

    # --- semantic_dedup: numpy twin of the cluster-then-compare keep
    # rule (operators/dedup.py semantic_dedup) -- same kmeans_fit core,
    # same key-sorted training sample, same per-cluster float64 matmul
    # and min-id sweep, proven bit-equal by the pytest twin. ---
    def _semdedup_rows(nlist: int, thr: float, sample_limit: int = 100_000):
        from letsearch_spark.operators.ann import kmeans_fit

        etbl2 = pq.read_table(
            os.path.join(sf_dir, "embeddings.parquet"),
            columns=["vec_id", "embedding"],
        ).to_pylist()
        etbl2 = [r for r in etbl2 if r["embedding"] is not None]
        etbl2.sort(key=lambda r: r["vec_id"])
        x = np.array([r["embedding"] for r in etbl2], dtype=np.float64)
        # train_centroids caps its training sample (key-sorted) at
        # sample_limit; truncate identically so the twin's centroids
        # match at ANY table size, not just below the cap
        cents = kmeans_fit(x[:sample_limit], nlist=nlist, iters=10, seed=42)
        norms = np.linalg.norm(x, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        xn = x / norms
        assign = (xn @ cents.T).argmax(axis=1)
        rows = []
        for c in sorted(set(assign.tolist())):
            idx = [i for i in range(len(etbl2)) if assign[i] == c]
            sims = xn[idx] @ xn[idx].T
            for pos, i in enumerate(idx):
                dup = bool((sims[pos, :pos] >= thr).any())
                rows.append((etbl2[i]["vec_id"], int(c), not dup))
        rows.sort()
        return rows

    o["semantic_dedup"] = _values_literal(
        _semdedup_rows(nlist=8, thr=0.9),
        [("vec_id", "BIGINT"), ("cluster", "BIGINT"), ("keep", "BOOLEAN")],
    )

    # (token_count_bpe's Counter+merge-trainer oracle is the standalone
    # _token_count_bpe_oracle, so the off-window gate pays only THAT
    # oracle, not the computed set)
    from letsearch_spark.tokenizer import split_text

    # --- pq_adc_topk: the same pq_fit numpy core on the key-sorted
    # sample, the same expanded-quadratic encode, the same LUT sum --
    # bit-equal to the Spark ADC path by construction (pinned in
    # tests/test_pq.py: codes stable under repartitioning, scores to
    # 1e-12). Ranks from the unrounded scores, score emitted at the
    # Spark HALF_UP round-6. ---
    def _pq_rows(m: int, k: int):
        from letsearch_spark.operators.pq import pq_fit

        x = np.array([r["embedding"] for r in etbl], dtype=np.float64)
        norms = np.linalg.norm(x, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        xn = x / norms
        cb = pq_fit(xn[:100_000], m=m, nbits=8, iters=10, seed=42)
        dsub = cb.dsub
        codes = np.empty((len(xn), m), dtype=np.uint8)
        for s in range(m):
            sub = xn[:, s * dsub : (s + 1) * dsub]
            cent = cb.codebooks[s]
            d2 = (
                (sub**2).sum(axis=1, keepdims=True)
                - 2.0 * (sub @ cent.T)
                + (cent**2).sum(axis=1)[None, :]
            )
            codes[:, s] = d2.argmin(axis=1).astype(np.uint8)
        q0 = np.asarray(etbl[0]["embedding"], dtype=np.float64)
        assert etbl[0]["vec_id"] == 0
        qn = np.linalg.norm(q0)
        q0 = q0 / qn if qn > 0 else q0
        lut = np.stack(
            [cb.codebooks[s] @ q0[s * dsub : (s + 1) * dsub] for s in range(m)]
        )
        scores = lut[np.arange(m)[None, :], codes].sum(axis=1)
        order = sorted(
            range(len(etbl)), key=lambda i: (-scores[i], etbl[i]["vec_id"])
        )[:k]
        return [
            (rank + 1, etbl[i]["vec_id"], _spark_round6(float(scores[i])))
            for rank, i in enumerate(order)
        ]

    o["pq_adc_topk"] = _values_literal(
        _pq_rows(_PQ_M, _PQ_K),
        [("rank", "BIGINT"), ("vec_id", "BIGINT"), ("score", "DOUBLE")],
    )

    # --- dedup_substring_spans: independent twin over EXACT word-tuple
    # windows (the operator hashes windows; 60-bit keys are
    # collision-free at tested scales, so exact tuples give the same
    # hot set). Same split semantics as tokenizer.split_words. ---
    def _span_rows(width: int):
        import hashlib as _hl

        per_doc: dict[int, list[str]] = {}
        for r in docs:
            t = r["text"] or ""
            if r["doc_id"] % 3 == 0:
                t = _SPAN_BOILER + " " + t
            per_doc[r["doc_id"]] = split_text(t)
        stats: dict[tuple, tuple[set, int]] = {}
        for did, ws in per_doc.items():
            for s in range(len(ws) - width + 1):
                g = tuple(ws[s : s + width])
                hit = stats.get(g)
                if hit is None:
                    stats[g] = ({did}, did)
                else:
                    hit[0].add(did)
                    stats[g] = (hit[0], min(hit[1], did))
        rows = []
        for did in sorted(per_doc):
            ws = per_doc[did]
            covered: set[int] = set()
            for s in range(len(ws) - width + 1):
                ds, keeper = stats[tuple(ws[s : s + width])]
                if len(ds) > 1 and did != keeper:
                    covered.update(range(s, s + width))
            kept = [w for i, w in enumerate(ws) if i not in covered]
            cleaned = " ".join(kept)
            rows.append(
                (
                    did,
                    _hl.md5(cleaned.encode()).hexdigest(),
                    len(ws),
                    len(ws) - len(kept),
                )
            )
        return rows

    o["dedup_substring_spans"] = _values_literal(
        _span_rows(_SPAN_WIDTH),
        [
            ("doc_id", "BIGINT"),
            ("cleaned_md5", "VARCHAR"),
            ("n_words", "BIGINT"),
            ("n_removed", "BIGINT"),
        ],
    )

    # --- quality_classifier_keep: pure-Python featurize / momentum-GD /
    # score / md5-Pareto twin (operators/classifier.py). Float sums run
    # in document order here vs Spark's partial-aggregation order --
    # drift is ulp-level while the keep margins are >= 1e-4 (measured,
    # see the classifier margin test), so the keep SET is identical. ---
    def _clf_keep_rows(
        iterations: int,
        lr: float = 10.0,
        momentum: float = 0.9,
        l2: float = 1e-6,
        num_buckets: int = 10_000,
        seed: int = 42,
        pareto_alpha: float = 9.0,
    ):
        def feats(text: str) -> dict[int, int]:
            w = _bm25_tokens(text or "")
            grams = w + [f"{w[i]} {w[i + 1]}" for i in range(len(w) - 1)]
            out: dict[int, int] = {}
            for g in grams:
                b = _h60(f"{g}#dsir{seed}") % num_buckets
                out[b] = out.get(b, 0) + 1
            return out

        # training set: pos = lang='en', neg = lang is not null and not
        # 'en' (the != predicate drops nulls, mirroring Spark)
        train = []
        for r in docs_full:
            if r["lang"] is None:
                continue
            y = 1.0 if r["lang"] == "en" else 0.0
            f = feats(r["text"])
            tot = sum(f.values())
            x = {b: c / tot for b, c in f.items()} if tot else {}
            train.append((x, y))
        n_docs = len(train)
        weights: dict[int, float] = {}
        bias = 0.0
        vel: dict[int, float] = {}
        v_bias = 0.0
        for _ in range(iterations):
            grad: dict[int, float] = {}
            sr = 0.0
            for x, y in train:
                z = sum(xv * weights.get(b, 0.0) for b, xv in x.items())
                p_ = 1.0 / (1.0 + math.exp(-(z + bias)))
                r_ = p_ - y
                sr += r_
                for b, xv in x.items():
                    grad[b] = grad.get(b, 0.0) + xv * r_
            for b, g in grad.items():
                g2 = g / n_docs + l2 * weights.get(b, 0.0)
                vel[b] = momentum * vel.get(b, 0.0) + g2
                weights[b] = weights.get(b, 0.0) - lr * vel[b]
            v_bias = momentum * v_bias + sr / n_docs
            bias -= lr * v_bias
        rows = []
        for r in docs_full:
            f = feats(r["text"])
            tot = sum(f.values())
            z = (
                sum((c / tot) * weights.get(b, 0.0) for b, c in f.items())
                if tot
                else 0.0
            )
            q_ = 1.0 / (1.0 + math.exp(-(z + bias)))
            u = (
                _h60(f"{r['doc_id']}#{seed}") % 1_000_000 + 0.5
            ) / 1_000_000.0
            pareto = (1.0 - u) ** (-1.0 / pareto_alpha) - 1.0
            if q_ > 1.0 - pareto:
                rows.append((r["doc_id"], r["lang"]))
        rows.sort()
        return rows

    o["quality_classifier_keep"] = _values_literal(
        _clf_keep_rows(iterations=_CLF_ITERS),
        [("doc_id", "BIGINT"), ("lang", "VARCHAR")],
    )

    # --- eval_lsh_recall (round-7 window promotion): the recall@10 +
    # MRR replay oracle is sf-dependent SQL, built by the same function
    # the staged gate used ---
    o["eval_lsh_recall"] = _eval_lsh_recall_oracle(sf_dir)

    # --- token_count_unigram (round-8 window promotion): Counter word
    # counts + the shared train_unigram_twin VALUES literal, built by
    # the same function the staged gate used ---
    o["token_count_unigram"] = _token_count_unigram_oracle(sf_dir)

    # --- round-9 window promotions (computed half): the Collection
    # MaxSim serving replay and the PCA sequential-twin model literal,
    # built by the same functions the staged gate used ---
    o["search_maxsim_collection"] = _maxsim_collection_oracle(sf_dir)
    o["embed_pca_model"] = _pca_model_oracle(sf_dir)

    # --- round-10 window promotions (computed half): byte-level BPE
    # exact counts, the T5 span-corruption hashlib twin, and the
    # hamming recall@10/MRR replay, built by the same functions the
    # staged gate used ---
    o["token_count_byte_bpe"] = _token_count_bytebpe_oracle(sf_dir)
    o["span_corruption"] = _span_corruption_oracle(sf_dir)
    o["eval_hamming_recall"] = _eval_hamming_recall_oracle(sf_dir)
    return o


def oracles_with_computed(sf_dir: str | None = None) -> dict[str, str]:
    """Static SQL oracles plus the computed VALUES-literal oracles.

    ``sf_dir`` defaults to the driver's comparison scale (sf0.01); override
    via the ``LETSEARCH_ORACLE_SF_DIR`` env var (tools/check_oracle.py sets
    it from ``--sf-dir``)."""
    sf_dir = sf_dir or os.environ.get(ORACLE_SF_DIR_ENV, _DEFAULT_ORACLE_SF_DIR)
    cached = _computed_cache.get(sf_dir)
    if cached is None:
        cached = _computed_oracles(sf_dir)
        _computed_cache[sf_dir] = cached
    out = dict(ORACLES)
    out.update(cached)
    return out
