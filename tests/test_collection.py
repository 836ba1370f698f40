"""End-to-end collection tests: import -> keys -> embed(stub) -> search,
plus append key-continuation and config round-trip.
"""

import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from letsearch_spark.collection import Collection, is_valid_identifier
from letsearch_spark.config import CollectionConfig
from letsearch_spark.embedders.stub import StubEmbedder, murmur3_32


def test_murmur3_known_values():
    # public test vectors for murmur3_32 seed 0
    assert murmur3_32(b"") == 0
    assert murmur3_32(b"hello") == 0x248BFA47
    assert murmur3_32(b"hello, world") == 0x149BBB7F


def test_stub_embedder_deterministic_and_normalized():
    e = StubEmbedder(16)
    v1 = e.embed(["hello world", ""])
    v2 = StubEmbedder(16).embed(["hello world", ""])
    assert np.allclose(v1, v2)
    assert v1.shape == (2, 16)
    assert abs(np.linalg.norm(v1[0]) - 1.0) < 1e-5
    assert np.linalg.norm(v1[1]) == 0.0  # empty text -> zero vector


def test_config_defaults_roundtrip(tmp_path):
    # serde-default semantics: {} loads with all defaults
    p = tmp_path / "config.json"
    p.write_text("{}")
    cfg = CollectionConfig.load(str(p))
    assert cfg.name == "default"
    assert cfg.index_columns == ["text"]
    assert cfg.model_name == "hf://mys/minilm"
    assert cfg.model_variant == "f32"
    assert cfg.db_path == "data.db"
    assert cfg.index_dir == "index"
    assert cfg.serialization_version == 1

    cfg2 = CollectionConfig(name="x", index_columns=["a", "b"])
    cfg2.save(str(tmp_path / "c2.json"))
    assert CollectionConfig.load(str(tmp_path / "c2.json")) == cfg2
    # unknown keys ignored
    (tmp_path / "c3.json").write_text(json.dumps({"name": "y", "bogus": 1}))
    assert CollectionConfig.load(str(tmp_path / "c3.json")).name == "y"


def test_identifier_guard():
    assert is_valid_identifier("text_1")
    assert not is_valid_identifier("te xt")
    assert not is_valid_identifier("t;drop")
    assert not is_valid_identifier("")


@pytest.fixture(scope="module")
def coll(spark, sf_dir, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("lsroot"))
    c = Collection.create(
        spark, root, name="docs", index_columns=["text"], model_name="stub://16"
    )
    c.import_parquet(os.path.join(sf_dir, "documents.parquet"))
    return c


def test_import_assigns_dense_keys(coll):
    docs = coll.docs()
    n = docs.count()
    stats = docs.agg(
        F.min("_key").alias("lo"),
        F.max("_key").alias("hi"),
        F.countDistinct("_key").alias("d"),
    ).collect()[0]
    assert (stats["lo"], stats["hi"], stats["d"]) == (1, n, n)


def test_config_written(coll):
    assert os.path.exists(coll.config_path)
    cfg = CollectionConfig.load(coll.config_path)
    assert cfg.name == "docs"
    assert cfg.index_columns == ["text"]


def test_append_continues_keys(coll, spark, sf_dir):
    n_before = coll.count()
    extra = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).limit(7)
    coll._append_df(extra.drop("doc_id").withColumn("doc_id", F.lit(None).cast("long")))
    docs = coll.docs()
    n_after = docs.count()
    assert n_after == n_before + 7
    stats = docs.agg(
        F.max("_key").alias("hi"), F.countDistinct("_key").alias("d")
    ).collect()[0]
    assert stats["hi"] == n_after  # dense continuation
    assert stats["d"] == n_after


def test_embed_and_search(coll):
    n = coll.embed_column("text")
    assert n == coll.count()
    emb = coll.embeddings("text")
    row = emb.select(F.size("vector").alias("d")).first()
    assert row["d"] == 16

    # search: query identical to a document's text must rank that doc #1
    target = coll.docs().select("_key", "text").where(F.col("text").isNotNull()).first()
    res = coll.search("text", target["text"], limit=10).collect()
    assert len(res) == 10
    assert res[0]["key"] == target["_key"]
    assert res[0]["score"] == pytest.approx(1.0, abs=1e-5)
    scores = [r["score"] for r in res]
    assert scores == sorted(scores, reverse=True)


def test_embed_incremental_anti_join(coll, spark):
    # appending rows then re-embedding only embeds the new rows (K5).
    # Self-sufficient under -k subsets: ensure the base embed ran (no-op
    # when an earlier test in the module already embedded)
    coll.embed_column("text", incremental=True)
    before = coll.embeddings("text").count()
    import pyspark.sql.types as T

    new = spark.createDataFrame(
        [("incremental embed target text",)],
        T.StructType([T.StructField("text", T.StringType())]),
    )
    coll._append_df(new)
    after = coll.embed_column("text", incremental=True)
    assert after == before + 1


def test_reimport_resets_embeddings(spark, sf_dir, tmp_path):
    """Regression: a full re-import must discard the old documents'
    embeddings and serve-path caches, otherwise incremental embed skips
    the new documents (their keys collide with the stale vectors) and
    search scores new queries against old content."""
    import pyspark.sql.types as T

    root = str(tmp_path / "r")
    c = Collection.create(
        spark, root, name="re", index_columns=["text"], model_name="stub://16"
    )
    schema = T.StructType([T.StructField("text", T.StringType())])
    c.import_df(spark.createDataFrame([("alpha bravo old corpus",)] * 4, schema))
    c.embed_column("text")
    c.search("text", "warm the caches").collect()

    c.import_df(
        spark.createDataFrame([("zulu yankee xray new corpus",)] * 4, schema)
    )
    n = c.embed_column("text")  # incremental default must re-embed everything
    assert n == 4
    hit = c.search("text", "zulu yankee xray new corpus", limit=1).first()
    assert hit["content"] == "zulu yankee xray new corpus"
    assert hit["score"] == pytest.approx(1.0, abs=1e-6)


def test_search_strategies_equal(coll):
    coll.embed_column("text", incremental=True)  # no-op when already embedded
    a = [(r["key"], round(r["score"], 6)) for r in coll.search("text", "spark q", limit=5).collect()]
    b = [
        (r["key"], round(r["score"], 6))
        for r in coll.search("text", "spark q", limit=5, strategy="local").collect()
    ]
    assert a == b
    with pytest.raises(ValueError):
        coll.search("text", "q", strategy="bogus")


def test_search_limit_validation(coll):
    for bad in (0, 101):
        with pytest.raises(ValueError):
            coll.search("text", "q", limit=bad)
    with pytest.raises(ValueError):
        coll.search("not_indexed", "q")


def test_fs_checks_handle_file_uris(spark, tmp_path):
    """_fs_nonempty/_fs_delete go through the Hadoop FS API, so plain
    paths and file: URIs resolve identically (os.listdir would treat the
    URI as a literal relative path)."""
    from letsearch_spark.collection import Collection

    c = Collection.create(spark, str(tmp_path), name="fscheck")

    d = tmp_path / "somedir"
    d.mkdir()
    for probe in (str(d), f"file:{d}"):
        assert not c._fs_nonempty(probe)  # empty dir
    (d / "_SUCCESS").write_text("")
    (d / ".hidden").write_text("")
    for probe in (str(d), f"file:{d}"):
        assert not c._fs_nonempty(probe)  # only hidden/meta entries
    (d / "part-00000.parquet").write_text("x")
    for probe in (str(d), f"file:{d}"):
        assert c._fs_nonempty(probe)

    c._fs_delete(f"file:{d}")
    assert not d.exists()
    c._fs_delete(f"file:{d}")  # absent: no-op, no raise


def test_csv_import_and_append(spark, tmp_path):
    from pyspark.sql import functions as F

    from letsearch_spark.collection import Collection

    a = tmp_path / "a_csv"
    b = tmp_path / "b_csv"
    spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], "doc_id long, text string"
    ).write.option("header", "true").csv(str(a))
    spark.createDataFrame(
        [(3, "gamma")], "doc_id long, text string"
    ).write.option("header", "true").csv(str(b))

    c = Collection.create(spark, str(tmp_path), name="csv")
    assert c.import_csv(str(a)) == 2
    # append returns the BATCH size (no full-table re-scan per append)
    assert c.append_csv(str(b)) == 1
    rows = {r["doc_id"]: r["_key"] for r in c.docs().collect()}
    assert set(rows) == {1, 2, 3}
    # appended row continues the dense key sequence past the import max
    assert rows[3] == 3
    assert sorted(r["_key"] for r in c.docs().collect()) == [1, 2, 3]
    # inferSchema typed doc_id integral, not string
    assert dict(c.docs().dtypes)["doc_id"] in ("int", "bigint")


def test_quantized_variant_storage_and_search(spark, tmp_path, sf_dir):
    """model_variant f16/i8 stores packed binary vectors (the reference's
    ScalarKind mapping) and search serves through a dequantized view --
    results match the f32 collection's ranking within quantization error."""
    import os

    from letsearch_spark.collection import Collection

    results = {}
    for variant in ("f32", "f16", "i8"):
        root = str(tmp_path / variant)
        c = Collection.create(
            spark, root, name="q", index_columns=["text"],
            model_name="stub://16", model_variant=variant,
        )
        c.import_parquet(os.path.join(sf_dir, "documents.parquet"))
        c.embed_all()
        vec_type = dict(c.embeddings("text").dtypes)["vector"]
        assert vec_type == ("array<float>" if variant == "f32" else "binary")
        hits = c.search("text", "spark join query window batch", limit=5).collect()
        results[variant] = [(r["key"], r["score"]) for r in hits]
        # exact-text hit still scores ~1.0 through the quantized path
        probe = c.docs().where("_key = 1").select("text").first()[0]
        top = c.search("text", probe, limit=1).first()
        assert top["score"] > 0.999, variant

    f32_keys = [k for k, _ in results["f32"]]
    for variant in ("f16", "i8"):
        keys = [k for k, _ in results[variant]]
        # rankings agree (identical texts, tiny quantization error)
        assert keys == f32_keys, variant
        for (_, s_q), (_, s_f) in zip(results[variant], results["f32"]):
            assert abs(s_q - s_f) < (1e-3 if variant == "f16" else 2e-2)


def test_search_many_matches_per_query(coll):
    coll.embed_column("text", incremental=True)  # no-op when already embedded
    qs = [f"spark join query window batch {i}" for i in range(5)]
    batched = {}
    for r in coll.search_many("text", qs, limit=5).collect():
        batched.setdefault(r["query_idx"], []).append(
            (r["rank"], r["key"], r["content"], round(r["score"], 6))
        )
    for i, q in enumerate(qs):
        single = [
            (j + 1, r["key"], r["content"], round(r["score"], 6))
            for j, r in enumerate(coll.search("text", q, limit=5).collect())
        ]
        assert sorted(batched[i]) == single, i

    with pytest.raises(ValueError):
        coll.search_many("text", [], limit=5)
    with pytest.raises(ValueError):
        coll.search_many("text", ["q"], limit=0)


def test_search_many_query_count_ceiling(coll):
    """Queries embed driver-side and the N x limit hit set broadcasts,
    so search_many refuses loudly above search_many_max_queries (the
    same guard shape as local_serve_max_rows)."""
    old = coll.search_many_max_queries
    try:
        coll.search_many_max_queries = 2
        with pytest.raises(RuntimeError, match="search_many_max_queries"):
            coll.search_many("text", ["a", "b", "c"], limit=5)
        # at the ceiling it still serves
        assert coll.search_many("text", ["a", "b"], limit=3).count() == 6
    finally:
        coll.search_many_max_queries = old


def test_search_before_embed_raises_clearly(spark, tmp_path, sf_dir):
    import os

    from letsearch_spark.collection import Collection

    c = Collection.create(spark, str(tmp_path), name="unembedded")
    c.import_parquet(os.path.join(sf_dir, "documents.parquet"))
    for call in (
        lambda: c.search("text", "q"),
        lambda: c.search_many("text", ["q"]),
        lambda: c.search_rows("text", "q"),
    ):
        with pytest.raises(RuntimeError, match="no embeddings"):
            call()


def test_embeddings_guard_is_per_column(spark, tmp_path, sf_dir):
    """Two index columns, only one embedded: searching the other must
    raise the friendly error, not return silently-empty results (the
    guard probes the column_name=<col> partition, not just the
    embeddings root)."""
    import os

    from letsearch_spark.collection import Collection

    c = Collection.create(
        spark,
        str(tmp_path),
        name="percol",
        index_columns=["text", "source"],
        model_name="stub://16",
    )
    c.import_parquet(os.path.join(sf_dir, "documents.parquet"))
    c.embed_column("text")
    assert len(c.search("text", "spark join", limit=3).collect()) == 3
    with pytest.raises(RuntimeError, match="no embeddings for column 'source'"):
        c.search("source", "spark join", limit=3)
    # embedding the second column clears its guard independently
    c.embed_column("source")
    assert len(c.search("source", "spark join", limit=3).collect()) == 3


def test_local_serving_row_ceiling(spark, tmp_path, sf_dir):
    """strategy='local' collects the serve view into driver RAM; above
    the configurable ceiling it must refuse with a pointer to the
    distributed strategies instead of OOMing the driver."""
    import os

    import pytest

    from letsearch_spark.collection import Collection

    c = Collection.create(
        spark, str(tmp_path), name="ceil", model_name="stub://16"
    )
    c.import_parquet(os.path.join(sf_dir, "documents.parquet"))
    c.embed_column("text")
    c.local_serve_max_rows = 10  # force the refusal at test size
    with pytest.raises(RuntimeError, match="strategy='join'"):
        c.search_rows("text", "spark join", strategy="local")
    c.local_serve_max_rows = 1_000_000
    assert len(c.search_rows("text", "spark join", strategy="local")) == 10


def test_export_jsonl_roundtrip(spark, tmp_path, sf_dir):
    import os

    from letsearch_spark.collection import Collection

    c = Collection.create(spark, str(tmp_path), name="exp")
    c.import_parquet(os.path.join(sf_dir, "documents.parquet"))
    out = str(tmp_path / "export")
    n = c.export_jsonl(out)
    assert n == c.count()
    back = spark.read.json(out)
    assert back.count() == n
    assert set(back.columns) == set(c.docs().columns)


def test_compact_restores_file_count_and_content(spark, tmp_path, sf_dir):
    """Append-heavy collections accumulate one-file-per-append; compact
    must rewrite to ceil(rows/rows_per_file) key-sorted files with
    identical content, keep the embeddings' column_name partitioning
    (K4 pruning), and leave search working (caches invalidated)."""
    import os

    from letsearch_spark.collection import Collection

    c = Collection.create(
        spark, str(tmp_path), name="cmp", model_name="stub://16"
    )
    c.import_parquet(os.path.join(sf_dir, "documents.parquet"))
    docs = c.docs()
    one = docs.limit(1).drop("_key")
    for _ in range(5):
        c._append_df(one)
    c.embed_column("text")

    before_files = c._fs_count_files(c.docs_path)
    assert before_files > 5  # import shards + 5 append files
    before = {(r["_key"], r["doc_id"]) for r in c.docs().collect()}

    out = c.compact(rows_per_file=1_000_000)
    assert out["docs_files"] == 1
    assert out["embeddings_files"] >= 1
    after = {(r["_key"], r["doc_id"]) for r in c.docs().collect()}
    assert after == before

    # column_name partition layout survives (partition pruning intact)
    assert os.path.isdir(os.path.join(c.embeddings_path, "column_name=text"))
    assert len(c.search("text", "spark join", limit=3).collect()) == 3

    # rows_per_file drives the file count
    out2 = c.compact(rows_per_file=100)
    n = c.count()
    assert out2["docs_files"] == -(-n // 100)
    assert {(r["_key"], r["doc_id"]) for r in c.docs().collect()} == before


def test_pooled_embeddings_by_group(spark, tmp_path, sf_dir):
    """pooled_embeddings returns one unit vector per group whose member
    counts sum to the embedded corpus."""
    import os

    import numpy as np

    from letsearch_spark.collection import Collection

    c = Collection.create(
        spark, str(tmp_path), name="pool", model_name="stub://16"
    )
    c.import_parquet(os.path.join(sf_dir, "documents.parquet"))
    c.embed_column("text")
    pooled = c.pooled_embeddings("text", "source").collect()
    assert len(pooled) > 1
    n_embedded = c.docs().where(F.col("text").isNotNull()).count()
    assert sum(r["n_vecs"] for r in pooled) == n_embedded
    for r in pooled:
        assert len(r["pooled"]) == 16
        assert abs(float(np.linalg.norm(r["pooled"])) - 1.0) < 1e-9


def test_search_strategy_ivf_pq_full_training(spark, tmp_path, sf_dir):
    """ivf_train='full' routes the collection's IVF-PQ coarse quantizer
    through the distributed full-corpus k-means (the persisted
    centroids equal the sequential twin over the serve frame bitwise),
    and the index serves (its hits overlap the exact top-10)."""
    import os

    from letsearch_spark.collection import Collection
    from letsearch_spark.operators.ann import kmeans_fit_full_twin

    c = Collection.create(
        spark, str(tmp_path), name="ivff", model_name="stub://16"
    )
    c.ivf_train = "full"
    c.import_parquet(os.path.join(sf_dir, "documents.parquet"))
    c.embed_column("text")
    row = c.docs().select("_key", "text").first()
    hits = c.search("text", row["text"], limit=5, strategy="ivf_pq").collect()
    exact10 = {
        h["key"]
        for h in c.search("text", row["text"], limit=10, strategy="join").collect()
    }
    assert len({h["key"] for h in hits} & exact10) >= 2

    frame = sorted(c._index_serve_frame("text").collect(), key=lambda r: r["_key"])
    x = np.array([r["vector"] for r in frame], dtype=np.float64)
    saved = np.load(os.path.join(c.ivf_pq_path("text"), "_centroids.npy"))
    assert (saved == kmeans_fit_full_twin(x, nlist=c.ivf_nlist)).all()


def test_collection_full_lifecycle(spark, tmp_path, sf_dir):
    """The whole collection lifetime in one pass: create -> import ->
    embed -> search -> append -> incremental embed -> compact -> search
    -> export -> reimport. Every transition must preserve counts, key
    continuity, and search correctness -- the sequence a real user runs
    over weeks, exercised end-to-end."""
    import os

    from letsearch_spark.collection import Collection

    c = Collection.create(
        spark, str(tmp_path), name="life", model_name="stub://16"
    )
    n0 = c.import_parquet(os.path.join(sf_dir, "documents.parquet"))
    assert c.embed_all() == {"text": n0}
    probe = c.docs().select("_key", "text").first()
    assert c.search("text", probe["text"], limit=1).collect()[0]["key"] == probe["_key"]

    # append twice, embed incrementally: only the new rows embed
    batch = c.docs().limit(3).drop("_key").withColumn(
        "text", F.concat(F.lit("appended v2 "), F.col("text"))
    )
    assert c._append_df(batch) == 3
    assert c._append_df(batch) == 3
    # embed_column reports TOTAL vectors (the index size); the anti-join
    # increment only embeds the 6 new rows (covered by
    # test_embed_incremental_anti_join)
    assert c.embed_column("text", incremental=True) == n0 + 6
    assert c.count() == n0 + 6
    # keys stayed dense 1..n
    keys = [r["_key"] for r in c.docs().select("_key").collect()]
    assert sorted(keys) == list(range(1, n0 + 7))

    out = c.compact(rows_per_file=10_000)
    assert out["docs_files"] == 1
    assert c.count() == n0 + 6

    # search still exact after compact; appended content findable
    hit = c.search("text", "appended v2 " + probe["text"], limit=1).collect()[0]
    assert hit["score"] > 0.99
    assert hit["content"].startswith("appended v2 ")

    # export -> reimport round trip preserves everything
    exp = str(tmp_path / "export")
    assert c.export_jsonl(exp) == n0 + 6
    c2 = Collection.create(
        spark, str(tmp_path / "again"), name="life2", model_name="stub://16"
    )
    c2.import_jsonl(os.path.join(exp, "*.json"))
    assert c2.count() == n0 + 6


def test_import_markdown_dir(spark, tmp_path):
    """A directory of .md files lands as chunked rows with provenance;
    a second import appends with key continuation; chunk boundaries
    come from the hierarchical chunker."""
    from letsearch_spark.chunker import ChunkerConfig
    from letsearch_spark.collection import Collection

    src = tmp_path / "md"
    src.mkdir()
    (src / "a.md").write_text("# Title\n\npara one\n\npara two\n\n## Sub\n\nmore text")
    (src / "b.md").write_text("plain body " * 30)
    (src / "ignored.txt").write_text("not markdown")

    c = Collection.create(
        spark, str(tmp_path / "root"), name="md", model_name="stub://16"
    )
    n = c.import_markdown_dir(
        str(src), chunker_config=ChunkerConfig(max_tokens=16)
    )
    rows = c.docs().collect()
    assert n == len(rows) > 2  # both files chunked, txt ignored
    paths = {r["source_path"].rsplit("/", 1)[-1] for r in rows}
    assert paths == {"a.md", "b.md"}
    # per-file chunk indexes are dense from 0
    a_idx = sorted(
        r["chunk_idx"] for r in rows if r["source_path"].endswith("a.md")
    )
    assert a_idx == list(range(len(a_idx)))
    assert sorted(r["_key"] for r in rows) == list(range(1, len(rows) + 1))

    # second import appends, continuing keys
    (src / "c.md").write_text("# Later\n\nnew doc")
    n2 = c.import_markdown_dir(
        str(src), chunker_config=ChunkerConfig(max_tokens=16)
    )
    assert n2 > 0
    total = c.count()
    assert sorted(r["_key"] for r in c.docs().collect()) == list(
        range(1, total + 1)
    )


def test_search_hybrid_strategy(coll):
    """Hybrid RRF serving: a verbatim-text query wins BOTH legs (exact
    cosine self-hit + every one of its terms in the BM25 leg), so it
    must rank #1 with the two-leg maximum RRF score; a no-token query
    falls back to the dense-only leg with identical ranking."""
    coll.embed_column("text", incremental=True)  # no-op when already embedded
    target = (
        coll.docs().select("_key", "text").where(F.col("text").isNotNull()).first()
    )
    res = coll.search("text", target["text"], limit=10, strategy="hybrid").collect()
    assert len(res) == 10
    # dense self-hit is rank 1 (score 1.0); BM25's length normalization
    # may prefer a shorter doc sharing the terms, but the fused winner
    # must still be the verbatim doc unless it fell out of the lexical
    # top-2 (1/61 + 1/62 is the best any competitor can reach)
    assert res[0]["key"] == target["_key"]
    assert res[0]["score"] >= 1 / 61 + 1 / 62 - 1e-12
    scores = [r["score"] for r in res]
    assert scores == sorted(scores, reverse=True)
    # every hybrid score is a sum of <= 2 reciprocal ranks
    assert all(0 < s <= 2 / 61 + 1e-12 for s in scores)

    # no lexical tokens -> dense-only fusion, same order as plain search
    dense = [r["key"] for r in coll.search("text", "!!! ???", limit=5).collect()]
    fallback = [
        r["key"]
        for r in coll.search("text", "!!! ???", limit=5, strategy="hybrid").collect()
    ]
    assert fallback == dense


def test_search_hybrid_idf_modes_agree_and_invalidate(coll):
    """The idf-literal serving mode (driver-held term->df map) must rank
    and score identically to the in-plan df-aggregation fallback, and
    the map must be rebuilt after a write invalidates the lexical
    view."""
    coll.embed_column("text", incremental=True)
    q = "alpha document text with common words"
    lit = [
        (r["key"], r["score"])
        for r in coll.search("text", q, limit=10, strategy="hybrid").collect()
    ]
    assert coll._lex_dfmap.get("text") is not None  # literal mode served
    # force the huge-vocabulary fallback: df computed in-plan
    coll._lex_dfmap["text"] = None
    inplan = [
        (r["key"], r["score"])
        for r in coll.search("text", q, limit=10, strategy="hybrid").collect()
    ]
    assert lit == inplan
    # a write must invalidate the map alongside the lexical view
    coll._invalidate_cache("text")
    assert "text" not in coll._lex_dfmap
    # ...and a subsequent hybrid search rebuilds it
    coll.search("text", q, limit=5, strategy="hybrid").collect()
    assert coll._lex_dfmap.get("text")


def test_search_hybrid_excludes_unembedded_appends(spark, sf_dir, tmp_path):
    """Regression: the lexical leg must rank the SERVE population
    (embedded docs), not the raw docs table -- an appended-but-not-yet-
    embedded doc that matches the query lexically must neither shrink
    the result below the limit nor appear in it."""
    import pyspark.sql.types as T

    root = str(tmp_path / "hyb")
    c = Collection.create(
        spark, root, name="h", index_columns=["text"], model_name="stub://16"
    )
    schema = T.StructType([T.StructField("text", T.StringType())])
    c.import_df(
        spark.createDataFrame(
            [(f"base document number {i} alpha bravo",) for i in range(20)], schema
        )
    )
    c.embed_column("text")
    n_embedded = c.count()

    # append strong lexical matches WITHOUT embedding them
    c._append_df(
        spark.createDataFrame(
            [("zz unique query words exact match",)] * 5, schema
        )
    )
    res = c.search(
        "text", "zz unique query words exact match", limit=5, strategy="hybrid"
    ).collect()
    assert len(res) == 5  # not shrunk by dropped unembedded hits
    assert all(r["key"] <= n_embedded for r in res)
    # after embedding the appends, they take over the top slots
    c.embed_column("text", incremental=True)
    res2 = c.search(
        "text", "zz unique query words exact match", limit=5, strategy="hybrid"
    ).collect()
    assert all(r["key"] > n_embedded for r in res2)
    assert res2[0]["content"] == "zz unique query words exact match"


def test_search_many_hybrid_matches_per_query(coll):
    """Batched hybrid (one plan for N queries) must agree with the
    per-query hybrid path on every query's result set."""
    coll.embed_column("text", incremental=True)
    qs = [f"spark join query window batch {i}" for i in range(4)]
    batched = {}
    for r in coll.search_many("text", qs, limit=5, strategy="hybrid").collect():
        batched.setdefault(r["query_idx"], []).append(
            (r["rank"], r["key"], round(r["score"], 9))
        )
    for i, q in enumerate(qs):
        single = [
            (j + 1, r["key"], round(r["score"], 9))
            for j, r in enumerate(
                coll.search("text", q, limit=5, strategy="hybrid").collect()
            )
        ]
        assert sorted(batched[i]) == single, f"query {i}"
    with pytest.raises(ValueError):
        coll.search_many("text", qs, strategy="bogus")


def test_search_rerank_reorders_and_validates(coll):
    """Retrieve-then-rerank: a custom scorer's order wins, the default
    overlap scorer puts the verbatim match first, and the limit
    contract is enforced."""
    coll.embed_column("text", incremental=True)
    target = (
        coll.docs().select("_key", "text").where(F.col("text").isNotNull()).first()
    )
    # default scorer: verbatim text has Jaccard 1.0 with itself
    res = coll.search_rerank("text", target["text"], limit=5, retrieve_limit=20)
    rows = res.collect()
    assert [c for c in res.columns] == ["key", "content", "score", "retrieval_score"]
    assert len(rows) == 5
    assert rows[0]["key"] == target["_key"]
    assert rows[0]["score"] == pytest.approx(1.0)
    assert [r["score"] for r in rows] == sorted(
        (r["score"] for r in rows), reverse=True
    )

    # custom scorer: reverse the retrieval order entirely
    def reverse_scorer(query, contents):
        return list(range(len(contents)))

    rev = coll.search_rerank(
        "text", target["text"], limit=3, retrieve_limit=10, scorer=reverse_scorer
    ).collect()
    base = coll.search("text", target["text"], limit=10).collect()
    assert [r["key"] for r in rev] == [r["key"] for r in base[::-1][:3]]

    with pytest.raises(ValueError):
        coll.search_rerank("text", "q", limit=50, retrieve_limit=10)


def test_search_rows_local_hybrid_matches_spark(coll):
    """Driver-local hybrid (zero Spark jobs per query) must reproduce
    the distributed strategy='hybrid' results exactly: same legs, same
    rounding, same RRF arithmetic and tie-breaks."""
    coll.embed_column("text", incremental=True)
    for q in [
        "spark join query window batch",
        "customer order line value",
        "nonexistentterm qqqzzz",
    ]:
        local = coll.search_rows("text", q, limit=10, strategy="local_hybrid")
        dist = [
            {"key": r["key"], "content": r["content"], "score": r["score"]}
            for r in coll.search("text", q, limit=10, strategy="hybrid").collect()
        ]
        assert [r["key"] for r in local] == [r["key"] for r in dist], q
        for a, b in zip(local, dist):
            assert a["content"] == b["content"]
            assert abs(a["score"] - b["score"]) < 1e-12


def test_search_rows_local_hybrid_no_jobs_and_fast(coll):
    """After warmup, local_hybrid runs zero Spark jobs per query (the
    serving property the mode exists for)."""
    import time

    coll.search_rows("text", "warm up the bundles", strategy="local_hybrid")
    sc = coll.spark.sparkContext
    tracker = sc.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    t0 = time.time()
    for i in range(50):
        coll.search_rows("text", f"spark join batch {i}", strategy="local_hybrid")
    dt = time.time() - t0
    after = tracker.getJobIdsForGroup(None)
    assert before == after, "local_hybrid ran Spark jobs per query"
    assert dt / 50 < 0.2, f"{dt / 50 * 1000:.0f} ms/query is not serving-class"


def test_search_rows_local_hybrid_cjk_degrades_to_dense(spark, tmp_path):
    """An all-CJK corpus has no ASCII tokens: the lexical bundle is
    empty and local_hybrid must degrade to the dense leg, exactly like
    the distributed hybrid, not crash."""
    import os

    from letsearch_spark.collection import Collection

    c = Collection.create(
        spark, str(tmp_path), name="cjk", index_columns=["text"],
        model_name="stub://16",
    )
    src = str(tmp_path / "cjk.jsonl")
    with open(src, "w") as f:
        for i, t in enumerate(["文档内容一", "另一个文档", "第三个文档"]):
            f.write('{"doc_id": %d, "text": "%s"}\n' % (i, t))
    c.import_jsonl(src)
    c.embed_column("text")
    rows = c.search_rows("text", "文档", limit=3, strategy="local_hybrid")
    assert len(rows) == 3
    dense = c.search_rows("text", "文档", limit=3, strategy="local")
    assert [r["key"] for r in rows] == [r["key"] for r in dense]


def test_search_strategy_pq(spark, tmp_path, sf_dir):
    """strategy='pq': lazily trains the codebook and caches the
    m-bytes-per-row coded view; the ADC top-5 overlaps the exact top-10
    (the stub corpus packs dozens of docs within 0.002 cosine of each
    other, so exact self-hit rank is NOT preserved by a lossy code --
    recall quality itself is pinned in test_pq.py on the 64-dim
    embeddings table); writes invalidate the cached index."""
    import os

    from letsearch_spark.collection import Collection

    c = Collection.create(
        spark, str(tmp_path), name="pq", model_name="stub://16"
    )
    c.import_parquet(os.path.join(sf_dir, "documents.parquet"))
    c.embed_column("text")

    row = c.docs().select("_key", "text").first()
    hits = c.search("text", row["text"], limit=5, strategy="pq").collect()
    exact10 = {
        h["key"]
        for h in c.search("text", row["text"], limit=10, strategy="join").collect()
    }
    assert hits and len({h["key"] for h in hits} & exact10) >= 3
    # ADC scores approximate cosine: the top hit lands near 1.0
    assert hits[0]["score"] > 0.9
    assert [h["key"] for h in hits] == [
        h["key"] for h in sorted(hits, key=lambda h: (-h["score"], h["key"]))
    ]
    # codebook + coded cache present; codes are pq_m bytes
    cb, coded = c._pq_index["text"]
    assert cb.m == c.pq_m
    assert len(coded.select("pq_code").first()["pq_code"]) == c.pq_m

    # writes invalidate the pq index
    one = c.docs().limit(1).drop("_key")
    c._append_df(one)
    assert "text" not in c._pq_index
    c.embed_column("text", incremental=True)
    assert len(c.search("text", "spark join", limit=3, strategy="pq").collect()) == 3


def test_search_multi_maxsim_collection(spark, tmp_path, sf_dir):
    """search_multi (r8, VERDICT r6 #6): MaxSim through the Collection
    serving contract. Scores/groups/chunk-counts must be BIT-IDENTICAL
    to operators/pool.maxsim_topk over the same serve view; the fetched
    content is the best_key row's content; with one query vector and no
    grouping the scores degenerate to strategy='join' exactly."""
    import os

    from letsearch_spark.collection import Collection
    from letsearch_spark.operators.pool import maxsim_topk

    c = Collection.create(
        spark, str(tmp_path), name="ms", model_name="stub://16"
    )
    c.import_parquet(os.path.join(sf_dir, "documents.parquet"))
    c.embed_column("text")
    c.serve_filter_columns = ["lang"]
    queries = ["spark join window", "dedup minhash band", "stream state"]

    out = c.search_multi("text", queries, limit=5, group_col="lang").collect()
    assert [r["group"] for r in out] == sorted(
        {r["group"] for r in out},
        key=lambda g: (-max(x["score"] for x in out if x["group"] == g), g),
    )
    # bit-exact twin: the operator over the same serve view
    qvecs = [[float(x) for x in v] for v in c._embedder().embed(queries)]
    twin = maxsim_topk(
        c._serve_view("text").where(F.col("content").isNotNull()),
        qvecs,
        k=5,
        group_col="lang",
        vec_col="vector",
        best_key_col="_key",
    ).collect()
    assert [(r["group"], r["score"], r["n_chunks"]) for r in out] == [
        (t["lang"], t["score"], t["n_chunks"]) for t in twin
    ]
    assert [r["key"] for r in out] == [t["best_key"] for t in twin]
    # content is the best chunk's text
    texts = dict(
        c.docs().select("_key", "text").rdd.map(tuple).collect()
    )
    for r in out:
        assert r["content"] == texts[r["key"]]

    # single query, no grouping: each row is its own group -> the exact
    # top-k, scores bit-identical to strategy='join'
    one = c.search_multi("text", queries[0], limit=10).collect()
    join = c.search("text", queries[0], limit=10, strategy="join").collect()
    assert [(r["key"], r["score"]) for r in one] == [
        (j["key"], j["score"]) for j in join
    ]
    assert all(r["n_chunks"] == 1 and r["group"] == r["key"] for r in one)

    # strategy='maxsim' on search() delegates with the knob
    c.maxsim_group_col = "lang"
    via = c.search("text", queries[0], limit=5, strategy="maxsim").collect()
    direct = c.search_multi(
        "text", [queries[0]], limit=5, group_col="lang"
    ).collect()
    assert [tuple(r) for r in via] == [tuple(r) for r in direct]

    # where= pre-filters before scoring
    en = c.search_multi(
        "text", queries, limit=5, group_col="lang", where="lang = 'en'"
    ).collect()
    assert {r["group"] for r in en} == {"en"}

    # validation: group_col must ride the serve view
    with pytest.raises(ValueError):
        c.search_multi("text", queries, group_col="source")
    with pytest.raises(ValueError):
        c.search_multi("text", [])


def test_search_strategy_hamming(spark, tmp_path, sf_dir):
    """strategy='hamming': lazily caches the sign-bit signature view
    (1 bit/dim), ranks by bit_count Hamming, exact-rescores the top
    candidates. With hamming_rescore >= corpus rows the results must be
    BIT-IDENTICAL to strategy='join' (the scan keeps everything and the
    rescore reuses the serve-view cosine); writes invalidate."""
    import os

    from letsearch_spark.collection import Collection

    c = Collection.create(
        spark, str(tmp_path), name="ham", model_name="stub://16"
    )
    c.import_parquet(os.path.join(sf_dir, "documents.parquet"))
    c.embed_column("text")

    row = c.docs().select("_key", "text").first()
    # full-rescore == exact (scores included: same _vnorm serve score)
    c.hamming_rescore = c.count()
    hits = c.search("text", row["text"], limit=5, strategy="hamming").collect()
    exact = c.search("text", row["text"], limit=5, strategy="join").collect()
    assert [(h["key"], h["score"]) for h in hits] == [
        (h["key"], h["score"]) for h in exact
    ]
    assert hits[0]["key"] == row["_key"] and hits[0]["score"] > 0.999

    # partial rescore still overlaps the exact top-10 well
    c.hamming_rescore = 60
    approx = c.search("text", row["text"], limit=5, strategy="hamming").collect()
    exact10 = {h["key"] for h in c.search("text", row["text"], limit=10).collect()}
    assert len({h["key"] for h in approx} & exact10) >= 3
    assert "text" in c._hamming_index

    # writes invalidate the signature cache
    one = c.docs().limit(1).drop("_key")
    c._append_df(one)
    assert "text" not in c._hamming_index
    c.embed_column("text", incremental=True)
    assert (
        len(c.search("text", "spark join", limit=3, strategy="hamming").collect())
        == 3
    )


def test_search_strategy_ivf_pq(spark, tmp_path, sf_dir):
    """strategy='ivf_pq': lazily builds the on-disk coded index (no
    float vectors stored, partitioned by coarse list), probes prune
    parquet partitions, results overlap the exact top-10, and writes
    invalidate."""
    import os

    from letsearch_spark.collection import Collection

    c = Collection.create(
        spark, str(tmp_path), name="ivfpq", model_name="stub://16"
    )
    c.import_parquet(os.path.join(sf_dir, "documents.parquet"))
    c.embed_column("text")

    row = c.docs().select("_key", "text").first()
    hits = c.search("text", row["text"], limit=5, strategy="ivf_pq").collect()
    exact10 = {
        h["key"]
        for h in c.search("text", row["text"], limit=10, strategy="join").collect()
    }
    assert hits and len({h["key"] for h in hits} & exact10) >= 2
    assert hits[0]["score"] > 0.9

    # on-disk layout: partitioned by _list, codes only -- no vectors
    stored = spark.read.parquet(c.ivf_pq_path("text"))
    assert set(stored.columns) == {"_key", "_list", "pq_code"}

    # probes prune partitions
    df = c.search("text", "spark join", limit=5, strategy="ivf_pq")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "_list" in plan

    # writes invalidate
    one = c.docs().limit(1).drop("_key")
    c._append_df(one)
    assert "text" not in c._ivf_pq_index
    c.embed_column("text", incremental=True)
    assert len(c.search("text", "spark", limit=3, strategy="ivf_pq").collect()) == 3


def test_ivf_pq_meta_persists_across_processes(spark, tmp_path, sf_dir):
    """A fresh process (simulated by a re-loaded Collection) reuses the
    persisted centroids/codebook instead of retraining. Append-only
    writes keep the on-disk models (r5: refresh tops the index up
    incrementally); a full re-embed may change vectors behind existing
    keys, so THAT drops them -- no process can serve the stale index."""
    import os

    import numpy as np

    from letsearch_spark.collection import Collection

    c = Collection.create(spark, str(tmp_path), name="meta", model_name="stub://16")
    c.import_parquet(os.path.join(sf_dir, "documents.parquet"))
    c.embed_column("text")
    c.search("text", "warm", limit=3, strategy="ivf_pq").collect()
    cpath = os.path.join(c.ivf_pq_path("text"), "_centroids.npy")
    assert os.path.exists(cpath)
    saved = np.load(cpath)

    c2 = Collection.load(spark, str(tmp_path), "meta")
    assert c2._ivf_pq_index == {}
    hits = c2.search("text", "warm", limit=3, strategy="ivf_pq").collect()
    assert len(hits) == 3
    # loaded, not retrained: identical centroids object contents
    assert np.array_equal(c2._ivf_pq_index["text"][0], saved)

    # append-only write: in-memory serve caches drop, but the on-disk
    # quantizers survive for the incremental refresh path
    one = c2.docs().limit(1).drop("_key")
    c2._append_df(one)
    assert c2._ivf_pq_index == {}
    assert os.path.exists(cpath)

    # full re-embed may re-vector EXISTING keys -> models are dropped
    # (stale-index protection), next use retrains
    c2.embed_column("text", incremental=False)
    assert not os.path.exists(cpath)
    assert len(c2.search("text", "warm", limit=3, strategy="ivf_pq").collect()) == 3
    assert os.path.exists(cpath)


def test_search_where_filter(coll):
    """Filtered dense search: the predicate pre-filters the serve view
    (exact top-k over the filtered population, always `limit` hits when
    enough match), the view auto-rebuilds when serve_filter_columns
    grows, and non-'join' strategies refuse the parameter."""
    import numpy as np

    coll.embed_column("text", incremental=True)
    # unfiltered search first: the serve view is built WITHOUT lang
    all_keys = {
        r["key"] for r in coll.search("text", "alpha words", limit=10).collect()
    }
    assert all_keys

    coll.serve_filter_columns = ["lang"]
    got = coll.search(
        "text", "alpha words", limit=5, where="lang = 'es'"
    ).collect()
    langs = {
        r["lang"]
        for r in coll.docs()
        .where(F.col("_key").isin([g["key"] for g in got]))
        .select("lang")
        .collect()
    }
    assert langs == {"es"}

    # exactness: equals brute force over the filtered population
    qvec = np.array(coll._embedder().embed(["alpha words"])[0], dtype=float)
    rows = [
        (r["_key"], np.array(r["vector"], dtype=float))
        for r in coll.docs()
        .where("lang = 'es'")
        .join(coll.embeddings("text").select("_key", "vector"), "_key")
        .collect()
    ]
    def cos(v):
        d = float(np.linalg.norm(v)) * float(np.linalg.norm(qvec))
        return float(v @ qvec) / d if d else 0.0
    want = sorted(((cos(v), k) for k, v in rows), key=lambda t: (-t[0], t[1]))[:5]
    assert [r["key"] for r in got] == [k for _, k in want]

    # strategy='auto' + where resolves to the one strategy that
    # pre-filters (join) instead of refusing
    got_auto = coll.search(
        "text", "alpha words", limit=5, strategy="auto", where="lang = 'es'"
    ).collect()
    assert [r["key"] for r in got_auto] == [r["key"] for r in got]

    with pytest.raises(ValueError, match="strategy='join'"):
        coll.search("text", "x", limit=3, strategy="hybrid", where="lang='es'")

    # r7: the hamming tier pre-filters too -- its signature view
    # carries serve_filter_columns; with rescore >= corpus the filtered
    # result must equal the exact filtered ranking
    old_rescore = coll.hamming_rescore
    try:
        coll.hamming_rescore = 10_000
        got_ham = coll.search(
            "text", "alpha words", limit=5, strategy="hamming",
            where="lang = 'es'",
        ).collect()
        assert [r["key"] for r in got_ham] == [k for _, k in want]
        ham_langs = {
            r["lang"]
            for r in coll.docs()
            .where(F.col("_key").isin([g["key"] for g in got_ham]))
            .select("lang")
            .collect()
        }
        assert ham_langs == {"es"}
    finally:
        coll.hamming_rescore = old_rescore
    coll.serve_filter_columns = []  # module-scoped fixture: reset


def test_search_many_where_filter(coll):
    """Batched filtered search must rank exactly like the per-query
    filtered path for every query, and hybrid refuses the parameter."""
    coll.embed_column("text", incremental=True)
    coll.serve_filter_columns = ["lang"]
    qs = ["alpha words", "spark join window", "gamma delta"]
    try:
        batched = coll.search_many(
            "text", qs, limit=5, where="lang = 'de'"
        ).collect()
        per_q = {
            i: [
                r["key"]
                for r in coll.search(
                    "text", q, limit=5, where="lang = 'de'"
                ).collect()
            ]
            for i, q in enumerate(qs)
        }
        got = {}
        for r in batched:
            got.setdefault(r["query_idx"], []).append(r["key"])
        assert got == per_q
        with pytest.raises(ValueError, match="strategy='dense'"):
            coll.search_many(
                "text", qs, limit=3, strategy="hybrid", where="lang='de'"
            )
    finally:
        coll.serve_filter_columns = []  # module-scoped fixture: reset


def test_append_missing_column_stays_readable(spark, sf_dir, tmp_path):
    """Regression: appending a batch that lacks one of the table's
    columns must write a NULL of the column's real type -- a bare
    untyped null wrote a void-typed parquet column that crashed the
    vectorized reader on any later scan projecting it."""
    import pyspark.sql.types as T

    root = str(tmp_path / "r")
    c = Collection.create(
        spark, root, name="voidfix", index_columns=["text"], model_name="stub://16"
    )
    c.import_parquet(os.path.join(sf_dir, "documents.parquet"))
    c._append_df(
        spark.createDataFrame(
            [("appended doc without metadata",)],
            T.StructType([T.StructField("text", T.StringType())]),
        )
    )
    # projecting the filled column across old + appended files must work
    langs = c.docs().select("lang").collect()
    assert sum(1 for r in langs if r["lang"] is None) == 1
    assert c.docs().schema["lang"].dataType.simpleString() == "string"


def test_append_incompatible_type_raises(spark, sf_dir, tmp_path):
    """Present-column casts on append are restricted to lossless
    widenings: under non-ANSI Spark a string->long cast silently nulls
    unconvertible values, so an incompatible batch must fail loudly."""
    import pyspark.sql.types as T

    root = str(tmp_path / "r")
    c = Collection.create(
        spark, root, name="casts", index_columns=["text"], model_name="stub://16"
    )
    c.import_parquet(os.path.join(sf_dir, "documents.parquet"))

    bad = spark.createDataFrame(
        [("doc with stringy count", "12abc")],
        T.StructType(
            [
                T.StructField("text", T.StringType()),
                T.StructField("n_chars", T.StringType()),
            ]
        ),
    )
    with pytest.raises(ValueError, match="n_chars.*cast it explicitly"):
        c._append_df(bad)

    # lossless widening (int -> long) still appends fine
    ok = spark.createDataFrame(
        [("doc with int count", 17)],
        T.StructType(
            [
                T.StructField("text", T.StringType()),
                T.StructField("n_chars", T.IntegerType()),
            ]
        ),
    )
    before = c.count()
    c._append_df(ok)
    assert c.count() == before + 1
    got = c.docs().where(F.col("text") == "doc with int count").collect()
    assert got[0]["n_chars"] == 17


def test_serve_view_stable_when_indexed_column_listed(coll):
    """Listing the indexed column in serve_filter_columns must not read
    as a perpetual cache miss: the built view aliases it to 'content',
    so the rebuild check has to apply the same exclusion as the build
    (a mismatch silently rebuilt the cached view on EVERY search)."""
    coll.embed_column("text", incremental=True)
    coll.serve_filter_columns = ["lang", "text"]
    try:
        coll.search("text", "alpha words", limit=3).collect()
        v1 = coll._emb_cache.get("__serve_text")
        assert v1 is not None
        coll.search("text", "beta rows", limit=3).collect()
        assert coll._emb_cache.get("__serve_text") is v1
    finally:
        coll.serve_filter_columns = []  # module-scoped fixture: reset


def test_append_bootstrap_requires_index_columns(spark, tmp_path):
    """The first batch into an EMPTY collection mints the table schema;
    a batch missing an index column must be refused loudly up front,
    not fail later in embed/search with a missing-column error."""
    coll = Collection.create(
        spark, str(tmp_path / "root"), name="boot",
        index_columns=["text"], model_name="stub://8",
    )
    bad = spark.createDataFrame([(1,)], "doc_id long")
    with pytest.raises(ValueError, match="missing index column"):
        coll._append_df(bad)
    assert not coll._docs_exist()  # nothing written
    ok = spark.createDataFrame([(1, "hello world")], "doc_id long, text string")
    assert coll._append_df(ok) == 1


def test_append_staged_mid_publish_replay(spark, tmp_path):
    """append_staged: a replay after a crash mid-publish (some staged
    files already renamed into the table) completes the publish without
    double rows -- destination names derive from the staged filenames,
    so the already-renamed file is skipped, never shadowed."""
    coll = Collection.create(
        spark, str(tmp_path / "root"), name="stg",
        index_columns=["text"], model_name="stub://8",
    )
    coll.import_df(
        spark.createDataFrame([("seed doc",)], "text string")
    )
    batch = spark.createDataFrame(
        [(f"doc {i}",) for i in range(9)], "text string"
    ).repartition(3)
    staged = str(tmp_path / "staged" / "0")
    keyed, n, bootstrap = coll._keyed_batch(batch)
    assert not bootstrap and n == 9
    # force a multi-file stage (AQE would otherwise coalesce to one)
    keyed.repartition(3).write.mode("overwrite").parquet(staged)
    parts = sorted(
        f for f in os.listdir(staged) if not f.startswith(("_", "."))
    )
    assert len(parts) >= 2
    # simulate a crash after ONE rename
    os.rename(
        os.path.join(staged, parts[0]),
        os.path.join(coll.docs_path, f"b0-{parts[0]}"),
    )
    coll.append_staged(batch, staged, tag="b0")  # replay completes
    assert coll.count() == 10
    keys = sorted(r["_key"] for r in coll.docs().select("_key").collect())
    assert keys == list(range(1, 11))
    # full replay after publish finished: a no-op
    coll.append_staged(batch, staged, tag="b0")
    assert coll.count() == 10


def test_append_staged_tamper_guard(spark, tmp_path):
    """Published files with no complete staging dir means the protocol
    was violated (a complete stage is only deleted after the caller's
    marker is durable) -- re-keying would double rows, so refuse."""
    import shutil

    coll = Collection.create(
        spark, str(tmp_path / "root"), name="stg2",
        index_columns=["text"], model_name="stub://8",
    )
    coll.import_df(spark.createDataFrame([("seed",)], "text string"))
    batch = spark.createDataFrame([("one",), ("two",)], "text string")
    staged = str(tmp_path / "staged" / "1")
    coll.append_staged(batch, staged, tag="b1")
    assert coll.count() == 3
    shutil.rmtree(staged)
    with pytest.raises(RuntimeError, match="refusing to re-key"):
        coll.append_staged(batch, staged, tag="b1")


def test_search_strategy_auto(spark, tmp_path, sf_dir):
    """strategy='auto' picks exact below the crossover, 'hamming'
    (r7: measured faster than lsh at every size, 32x smaller cache)
    while the signature cache fits, 'ivf_pq' beyond -- and returns the
    SAME rows as the explicitly chosen strategy at each tier
    (thresholds shrunk around the 500-row fixture to exercise all
    three)."""
    coll = Collection.create(
        spark, str(tmp_path / "root"), name="auto",
        index_columns=["text"], model_name="stub://16",
    )
    coll.import_parquet(os.path.join(sf_dir, "documents.parquet"))
    coll.embed_column("text")
    q = "spark join query window batch data"

    def rows(df):
        return [(r["key"], r["score"]) for r in df.collect()]

    # tier 1: small collection -> exact join (the default thresholds
    # already put 500 rows far below the 200k crossover)
    assert coll.resolve_strategy("text") == "join"
    assert rows(coll.search("text", q, limit=5, strategy="auto")) == rows(
        coll.search("text", q, limit=5, strategy="join")
    )

    # tier 2: shrink the exact ceiling below the table -> hamming
    coll.auto_exact_max_rows = 100
    coll.auto_cached_max_rows = 1_000
    assert coll.resolve_strategy("text") == "hamming"
    assert rows(coll.search("text", q, limit=5, strategy="auto")) == rows(
        coll.search("text", q, limit=5, strategy="hamming")
    )

    # tier 3: shrink the cache ceiling too -> ivf_pq (codes on disk)
    coll.auto_cached_max_rows = 100
    assert coll.resolve_strategy("text") == "ivf_pq"
    assert rows(coll.search("text", q, limit=5, strategy="auto")) == rows(
        coll.search("text", q, limit=5, strategy="ivf_pq")
    )

    # the size signal is cached (no recount) and invalidated on writes
    assert coll._col_rows["text"] == 500
    coll.add_chunks(["a brand new chunk of text"], column="text")
    assert "text" not in coll._col_rows
    coll.embed_column("text")
    coll.auto_exact_max_rows = 200_000
    assert coll.resolve_strategy("text") == "join"
    assert coll._col_rows["text"] == 501


def _index_data_files(path):
    import glob as _glob

    return sorted(
        f
        for f in _glob.glob(os.path.join(path, "_list=*", "*.parquet"))
    )


def test_ivf_pq_incremental_refresh(spark, tmp_path, sf_dir):
    """Index maintenance at batch cost: after an incremental embed
    append, refresh_ivf_pq_index appends only the NEW keys under the
    frozen quantizers (old data files untouched), a no-change refresh
    is a no-op, and the new doc is servable. A full overwrite re-embed
    drops the quantizers and forces a rebuild (stale-vector guard)."""
    import numpy as np

    coll = Collection.create(
        spark, str(tmp_path / "root"), name="incidx",
        index_columns=["text"], model_name="stub://16",
    )
    coll.import_parquet(os.path.join(sf_dir, "documents.parquet"))
    coll.embed_column("text")
    n0 = coll.count()

    assert coll.refresh_ivf_pq_index("text") == "built"
    assert coll.refresh_ivf_pq_index("text") == "current"
    path = coll.ivf_pq_path("text")
    files_before = _index_data_files(path)
    idx_n0 = spark.read.parquet(path).count()
    cb_before = np.load(
        os.path.join(path, "_centroids.npy")
    )

    # append + incremental embed: refresh must APPEND, not rebuild
    target = "a very distinctive fresh document about quasar harmonics"
    coll.add_chunks([target], column="text")
    coll.embed_column("text", incremental=True)
    assert coll.refresh_ivf_pq_index("text") == "appended"
    assert spark.read.parquet(path).count() == idx_n0 + 1
    # frozen quantizers + untouched old files = no re-encode of history
    assert set(files_before) <= set(_index_data_files(path))
    assert np.array_equal(
        cb_before, np.load(os.path.join(path, "_centroids.npy"))
    )
    # the appended doc serves through the compressed index
    hit = coll.search("text", target, limit=1, strategy="ivf_pq").first()
    assert hit["content"] == target
    assert coll.refresh_ivf_pq_index("text") == "current"

    # rebuild threshold: fraction 0 forces a retrain on any new key
    coll.ivf_rebuild_fraction = 0.0
    coll.add_chunks(["another new doc entirely about tidal basins"], column="text")
    coll.embed_column("text", incremental=True)
    assert coll.refresh_ivf_pq_index("text") == "rebuilt"
    assert spark.read.parquet(path).count() == n0 + 2
    coll.ivf_rebuild_fraction = 0.5

    # full re-embed may change vectors behind existing keys: quantizer
    # files are dropped, so the next refresh REBUILDS (never serves
    # stale codes)
    coll.embed_column("text", incremental=False)
    assert not os.path.exists(os.path.join(path, "_centroids.npy"))
    assert coll.refresh_ivf_pq_index("text") == "rebuilt"


def test_ivf_pq_refresh_restart_and_replace_guard(spark, tmp_path, sf_dir):
    """The refresh paths beyond test_ivf_pq_incremental_refresh: a
    fresh Collection object reloads the persisted quantizers and
    reports 'current'; a full replace (import_df) deletes the index
    tree, so refresh builds fresh; and the vanished-keys guard rebuilds
    when index data drifts from the serve view by any other route."""
    coll = Collection.create(
        spark, str(tmp_path / "root"), name="incivfpq",
        index_columns=["text"], model_name="stub://16",
    )
    coll.import_parquet(os.path.join(sf_dir, "documents.parquet"))
    coll.embed_column("text")
    assert coll.refresh_ivf_pq_index("text") == "built"
    path = coll.ivf_pq_path("text")

    # survives a process restart: a fresh Collection object reloads the
    # persisted centroids + codebook instead of retraining
    coll2 = Collection.load(spark, str(tmp_path / "root"), "incivfpq")
    assert coll2.refresh_ivf_pq_index("text") == "current"

    # full replace (r7): import_df DELETES the stale index tree outright
    # (the replaced corpus's codes must not linger on disk), so refresh
    # sees 'missing' and builds fresh
    import pyspark.sql.types as T

    schema = T.StructType([T.StructField("text", T.StringType())])
    coll.import_df(
        spark.createDataFrame([(f"replacement doc {i}",) for i in range(8)], schema)
    )
    assert not os.path.exists(path)
    coll.embed_column("text")
    assert coll.refresh_ivf_pq_index("text") == "built"
    assert spark.read.parquet(path).count() == 8

    # vanished-keys guard still fires when index data drifts from the
    # serve view by any OTHER route: plant a bogus key in the index
    spark.createDataFrame(
        [(999_999, bytearray(coll.pq_m))], "`_key` long, pq_code binary"
    ).withColumn("_list", F.lit(0)).write.mode("append").partitionBy(
        "_list"
    ).parquet(path)
    coll._invalidate_cache(drop_index_meta=False)
    assert coll.refresh_ivf_pq_index("text") == "rebuilt"
    assert spark.read.parquet(path).where("_key = 999999").count() == 0


def test_search_many_pq_matches_per_query(coll):
    """strategy='pq' (round 6): the batched ADC plan must reproduce the
    per-query strategy='pq' results exactly -- same keys, same
    compressed-code scores -- and reject where= (the coded view has no
    filter columns)."""
    coll.embed_column("text", incremental=True)
    qs = [f"spark join query window batch {i}" for i in range(4)]
    batched = {}
    for r in coll.search_many("text", qs, limit=5, strategy="pq").collect():
        batched.setdefault(r["query_idx"], []).append(
            (r["rank"], r["key"], round(r["score"], 6))
        )
    for i, q in enumerate(qs):
        single = [
            (j + 1, r["key"], round(r["score"], 6))
            for j, r in enumerate(
                coll.search("text", q, limit=5, strategy="pq").collect()
            )
        ]
        assert sorted(batched[i]) == single, i

    with pytest.raises(ValueError, match="where"):
        coll.search_many("text", qs, limit=5, strategy="pq", where="_key > 1")


def test_delete_where_removes_docs_and_vectors(spark, tmp_path, sf_dir):
    """delete_where: matching docs AND their embeddings disappear,
    survivor keys stay stable (no re-keying), deleted docs stop being
    servable even as exact-match queries, predicate-NULL rows survive,
    and a no-match delete is a no-op."""
    import os

    from letsearch_spark.collection import Collection

    c = Collection.create(
        spark, str(tmp_path), name="del", model_name="stub://16"
    )
    c.import_parquet(os.path.join(sf_dir, "documents.parquet"))
    c.embed_column("text")
    n0 = c.count()
    victim = c.docs().orderBy("_key").first()
    keys_before = {r["_key"] for r in c.docs().select("_key").collect()}

    n = c.delete_where(f"_key = {victim['_key']} OR doc_id >= 495")
    assert n == 6
    assert c.count() == n0 - 6
    keys_after = {r["_key"] for r in c.docs().select("_key").collect()}
    # survivors keep their ORIGINAL keys (no re-keying), only doomed gone
    assert keys_after < keys_before
    assert len(keys_before - keys_after) == 6
    assert victim["_key"] not in keys_after
    # embeddings purged with the docs
    emb_keys = {r["_key"] for r in c.embeddings("text").select("_key").collect()}
    assert emb_keys == keys_after
    # the deleted document is no longer findable, even verbatim
    hits = c.search("text", victim["text"], limit=5).collect()
    assert all(h["key"] != victim["_key"] for h in hits)

    # NULL-predicate rows survive (lang IS NULL nowhere here, but a
    # predicate over a nullable comparison must not delete NULL rows)
    assert c.delete_where("lang = 'no-such-lang'") == 0
    assert c.count() == n0 - 6


def test_purge_broadcast_is_size_hinted(spark, tmp_path, sf_dir):
    """The purge/compact write paths must size the doomed-key join hint
    like the read paths do (VERDICT r7 #3): with tombstone_broadcast_max
    dropped to 0, the anti-join plan degrades to a SortMergeJoin instead
    of force-broadcasting an unbounded key set -- and a purge through
    that shuffle-join path still deletes exactly the matching rows."""
    import os

    from letsearch_spark.collection import Collection

    c = Collection.create(
        spark, str(tmp_path), name="hint", model_name="stub://16"
    )
    c.import_parquet(os.path.join(sf_dir, "documents.parquet"))
    c.embed_column("text")
    n0 = c.count()
    c.tombstone_broadcast_max = 0

    # the exact join the purge path builds, plan-inspected pre-write.
    # Disable the OPTIMIZER's size-based auto-broadcast so the plan
    # shows only what the explicit hint forces: over the knob the hint
    # must be absent (SortMergeJoin; at real scale AQE stats would make
    # this same call), under it present (BroadcastHashJoin even with
    # auto-broadcast off).
    doomed = (
        c.docs().where("doc_id >= 495").select("_key").localCheckpoint()
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        hinted = c._size_hinted(doomed, doomed.count())
        plan = (
            c._docs_raw()
            .join(hinted, "_key", "left_anti")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastHashJoin" not in plan, plan
        assert "SortMergeJoin" in plan, plan
        # ...and with the default knob the same join broadcasts
        c.tombstone_broadcast_max = 5_000_000
        small = c._size_hinted(doomed, doomed.count())
        plan_b = (
            c._docs_raw()
            .join(small, "_key", "left_anti")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastHashJoin" in plan_b, plan_b
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    # functional: purge through the shuffle-join path is still exact
    c.tombstone_broadcast_max = 0
    assert c.delete_where("doc_id >= 495", mode="purge") == 5
    assert c.count() == n0 - 5
    assert c._docs_raw().where("doc_id >= 495").count() == 0
    emb_keys = c.embeddings("text").count()
    assert emb_keys == n0 - 5
    # compact through the same sized path (tombstone then compact)
    assert c.delete_where("doc_id >= 490") == 5
    c.compact()
    assert c._docs_raw().where("doc_id >= 490").count() == 0
    assert c.count() == n0 - 10


def test_delete_tombstone_defers_physical_purge(spark, tmp_path, sf_dir):
    """mode='tombstone' (default, r7): deletion is an O(matches)
    sidecar write -- the doomed rows stay on disk (raw parquet) but are
    unreachable through every read surface; compact() applies the
    backlog physically and clears the sidecar; tombstoned keys are
    never reassigned by a later append."""
    import os

    from letsearch_spark.collection import Collection

    c = Collection.create(spark, str(tmp_path), name="ts", model_name="stub://16")
    c.import_parquet(os.path.join(sf_dir, "documents.parquet"))
    c.embed_column("text")
    n0 = c.count()
    raw_max = c._docs_raw().agg(F.max("_key")).first()[0]

    n = c.delete_where(f"_key >= {raw_max - 2}")  # kills the top 3 keys
    assert n == 3
    assert c.count() == n0 - 3
    # the bytes have NOT left the disk yet (deferred purge by design)
    raw_keys = {r["_key"] for r in c._docs_raw().select("_key").collect()}
    assert raw_max in raw_keys
    assert os.path.isdir(c.tombstones_path)
    # ...but no read surface can reach them
    assert c.docs().where(F.col("_key") == raw_max).count() == 0
    assert c.embeddings("text").where(F.col("_key") == raw_max).count() == 0

    # a tombstoned key is never reused: the next append starts PAST it
    src = str(tmp_path / "fresh.jsonl")
    with open(src, "w") as f:
        f.write(json.dumps({"text": "fresh doc", "doc_id": 9}) + "\n")
    c.append_jsonl(src)
    new_max = c.docs().agg(F.max("_key")).first()[0]
    assert new_max == raw_max + 1

    # tombstone rows never re-match (idempotent delete)
    assert c.delete_where(f"_key >= {raw_max - 2} AND _key <= {raw_max}") == 0

    # compact applies the deletion vectors physically
    c.compact()
    raw_after = {r["_key"] for r in c._docs_raw().select("_key").collect()}
    assert raw_max not in raw_after and len(raw_after) == n0 - 3 + 1
    assert not os.path.exists(c.tombstones_path)
    emb_raw = spark.read.parquet(c.embeddings_path)
    assert emb_raw.where(F.col("_key") == raw_max).count() == 0


def test_delete_tombstone_auto_compact(spark, tmp_path, sf_dir):
    """tombstone_auto_compact_fraction: once the deletion backlog
    crosses the knob, the tombstone delete compacts (physical purge,
    sidecar cleared); below it, nothing is rewritten."""
    import os

    from letsearch_spark.collection import Collection

    c = Collection.create(spark, str(tmp_path), name="ac", model_name="stub://16")
    c.import_parquet(os.path.join(sf_dir, "documents.parquet"))
    c.embed_column("text")
    n0 = c.count()
    c.tombstone_auto_compact_fraction = 0.05  # 25 rows of 500

    assert c.delete_where("doc_id < 10") == 10  # 2% -> below the knob
    assert os.path.isdir(c.tombstones_path)
    assert c._docs_raw().count() == n0  # nothing rewritten yet

    assert c.delete_where("doc_id >= 10 AND doc_id < 40") == 30  # 8% -> compacts
    assert not os.path.exists(c.tombstones_path)
    assert c._docs_raw().count() == n0 - 40  # physically purged
    assert c.count() == n0 - 40


def test_delete_tombstone_ivf_probe_filter_no_rebuild(spark, tmp_path, sf_dir):
    """A tombstone delete must NOT invalidate the on-disk IVF-PQ index
    (VERDICT r6 #2): refresh stays 'current', probes filter the doomed
    keys instead, and the purge path rewrites the index partitions
    minus the doomed keys while keeping the quantizer sidecars (ADVICE
    r6: no deleted vector retained anywhere)."""
    import os

    from letsearch_spark.collection import Collection

    c = Collection.create(spark, str(tmp_path), name="ti", model_name="stub://16")
    c.import_parquet(os.path.join(sf_dir, "documents.parquet"))
    c.embed_column("text")
    victim = c.docs().orderBy(F.desc("_key")).first()
    # build the on-disk index BEFORE the delete
    assert c.refresh_ivf_pq_index("text") in ("built", "rebuilt")

    n = c.delete_where(f"_key = {victim['_key']}")
    assert n == 1
    # the index is NOT dropped or rebuilt -- the delete is deferred
    assert c.refresh_ivf_pq_index("text") == "current"
    # probes never surface the tombstoned key, even for a verbatim query
    hits = c.search("text", victim["text"], limit=10, strategy="ivf_pq").collect()
    assert all(h["key"] != victim["_key"] for h in hits)
    # the doomed code is still INSIDE the index partitions (deferred)
    raw = spark.read.parquet(c.ivf_pq_path("text"))
    assert raw.where(F.col("_key") == victim["_key"]).count() == 1

    # purge: physical removal from tables AND index partitions,
    # quantizer sidecars kept -> still no rebuild
    assert c.delete_where(f"_key = {victim['_key'] - 1}", mode="purge") == 1
    raw = spark.read.parquet(c.ivf_pq_path("text"))
    doomed = {victim["_key"], victim["_key"] - 1}
    assert raw.where(F.col("_key").isin(*doomed)).count() == 0
    assert os.path.exists(os.path.join(c.ivf_pq_path("text"), "_centroids.npy"))
    assert os.path.exists(os.path.join(c.ivf_pq_path("text"), "_codebook.npz"))
    assert not os.path.exists(c.tombstones_path)  # backlog folded in
    assert c.refresh_ivf_pq_index("text") == "current"
    hits = c.search("text", victim["text"], limit=10, strategy="ivf_pq").collect()
    assert all(h["key"] != victim["_key"] for h in hits)


def test_search_multi_prefilter(spark, tmp_path, sf_dir):
    """PLAID-style MaxSim prefilter (r9): prefilter_k >= corpus is
    bit-identical to the exact path (ungrouped AND grouped); a small
    prefilter_k returns candidates whose scores EQUAL the exact run's
    scores for the same groups (the approximation is only which groups
    make the cut); validation raises on k < 1."""
    import os

    import pytest

    from letsearch_spark.collection import Collection

    c = Collection.create(
        spark, str(tmp_path / "pf"), name="pf", model_name="stub://16"
    )
    c.import_parquet(os.path.join(sf_dir, "documents.parquet"))
    c.embed_all()
    c.serve_filter_columns = ["lang"]
    queries = ["spark join window batch", "dedup minhash band"]

    # ungrouped: huge k degenerates to exact, bit-for-bit
    exact = c.search_multi("text", queries, limit=5).collect()
    same = c.search_multi(
        "text", queries, limit=5, prefilter_k=10_000
    ).collect()
    assert [tuple(r) for r in same] == [tuple(r) for r in exact]

    # small k: exact-rescore invariant
    small = c.search_multi(
        "text", queries, limit=5, prefilter_k=8
    ).collect()
    exact_scores = {r["group"]: r["score"] for r in exact}
    exact_full = {
        r["group"]: r["score"]
        for r in c.search_multi("text", queries, limit=100).collect()
    }
    assert 1 <= len(small) <= 5
    # limit caps at 100, so exact_full covers the exact top-100 only:
    # a candidate outside it proves nothing either way (r9 review
    # catch -- asserting on it would flake on corpora with >100
    # strong groups); the ones inside must match to the bit
    checked = 0
    for r in small:
        if r["group"] in exact_full:
            assert exact_full[r["group"]] == r["score"], r["group"]
            checked += 1
    assert checked >= 1

    # grouped (pooled-vector candidates): huge k == exact
    g_exact = c.search_multi(
        "text", queries, limit=5, group_col="lang"
    ).collect()
    g_same = c.search_multi(
        "text", queries, limit=5, group_col="lang", prefilter_k=10_000
    ).collect()
    assert [tuple(r) for r in g_same] == [tuple(r) for r in g_exact]
    # with 5 langs, k=5 covers every group -> also exact
    g_k5 = c.search_multi(
        "text", queries, limit=5, group_col="lang", prefilter_k=5
    ).collect()
    assert [tuple(r) for r in g_k5] == [tuple(r) for r in g_exact]

    # batched path: huge k == exact batched
    b_exact = c.search_many_multi("text", [queries], limit=5).collect()
    b_same = c.search_many_multi(
        "text", [queries], limit=5, prefilter_k=10_000
    ).collect()
    assert [tuple(r) for r in b_same] == [tuple(r) for r in b_exact]

    for bad in (0, -3, 2.5, True):
        with pytest.raises(ValueError, match="prefilter_k"):
            c.search_multi("text", queries, limit=5, prefilter_k=bad)


def test_search_multi_prefilter_null_groups(spark, tmp_path):
    """r9 review catch: a NULL group is a real group to the exact
    path's groupBy -- the prefilter's null-safe semi-join must let it
    survive, so prefilter_k >= |groups| stays bit-identical even with
    NULL group values."""
    from letsearch_spark.collection import Collection

    c = Collection.create(
        spark, str(tmp_path / "ng"), name="ng", model_name="stub://16"
    )
    rows = spark.createDataFrame(
        [
            ("spark join window", "a"),
            ("dedup minhash band", "a"),
            ("stream state store", None),
            ("pack tokens shard", None),
            ("bloom filter probe", "b"),
        ],
        "text string, grp string",
    )
    c.import_df(rows)
    c.embed_all()
    c.serve_filter_columns = ["grp"]
    q = ["stream state store"]
    exact = c.search_multi("text", q, limit=3, group_col="grp").collect()
    assert any(r["group"] is None for r in exact)  # NULL group ranks
    pf = c.search_multi(
        "text", q, limit=3, group_col="grp", prefilter_k=100
    ).collect()
    assert [tuple(r) for r in pf] == [tuple(r) for r in exact]
    # and at k=1 the NULL group can be THE candidate (its chunk is the
    # verbatim match)
    pf1 = c.search_multi(
        "text", q, limit=3, group_col="grp", prefilter_k=1
    ).collect()
    assert pf1 and pf1[0]["group"] is None


def test_maxsim_prefilter_sidecar_plan_and_where_twin(spark, tmp_path, sf_dir):
    """r10 plan gate (VERDICT r9 #1): the grouped prefiltered SERVING
    plan must not re-run the corpus pooling aggregation per call (no
    posexplode generate anywhere in the executed plan) and must not
    rank candidates through the |Q|-partition window (no Window, no
    __qi) -- candidate legs are TakeOrderedAndProject over the
    in-memory pooled-centroid sidecar (InMemoryTableScan). The
    where='1=1' twin forces the documented inline-pooling fallback over
    the SAME population: results are bit-identical (both paths pool
    with the same fixed-point units)."""
    import os

    from letsearch_spark.collection import Collection

    c = Collection.create(
        spark, str(tmp_path / "pg"), name="pg", model_name="stub://16"
    )
    c.import_parquet(os.path.join(sf_dir, "documents.parquet"))
    c.embed_all()
    c.serve_filter_columns = ["lang"]
    queries = ["spark join window batch", "dedup minhash band"]

    out = c.search_multi(
        "text", queries, limit=5, group_col="lang", prefilter_k=2
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "posexplode" not in plan.lower(), plan
    assert "Window" not in plan, plan
    assert "__qi" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "InMemoryTableScan" in plan, plan

    # the inline fallback (where=) pools the filtered base per call --
    # over the trivially-true predicate that is the same population, so
    # the sidecar path must reproduce it bit-for-bit
    twin = c.search_multi(
        "text", queries, limit=5, group_col="lang", prefilter_k=2,
        where="1=1",
    )
    assert [tuple(r) for r in out.collect()] == [
        tuple(r) for r in twin.collect()
    ]
    # and the fallback really is the inline shape (its plan pools)
    tplan = twin._jdf.queryExecution().executedPlan().toString()
    assert "posexplode" in tplan.lower(), tplan

    # batched serving rides the same sidecar
    many = c.search_many_multi(
        "text", [queries], limit=5, group_col="lang", prefilter_k=2
    )
    mplan = many._jdf.queryExecution().executedPlan().toString()
    assert "posexplode" not in mplan.lower(), mplan
    assert "__qi" not in mplan, mplan


def test_maxsim_prefilter_auto_tier(spark, tmp_path, sf_dir):
    """prefilter_k='auto' (r10, VERDICT r9 #6): below the measured
    group-count crossover it IS the exact path bit-for-bit; above it,
    it IS prefilter_k=maxsim_auto_prefilter_k bit-for-bit; ungrouped
    it stays exact regardless; garbage knobs still raise before any
    embedding runs."""
    import os

    import pytest

    from letsearch_spark.collection import Collection

    c = Collection.create(
        spark, str(tmp_path / "pa"), name="pa", model_name="stub://16"
    )
    c.import_parquet(os.path.join(sf_dir, "documents.parquet"))
    c.embed_all()
    c.serve_filter_columns = ["lang"]
    queries = ["spark join window", "dedup minhash band"]

    def rows(**kw):
        return [
            tuple(r)
            for r in c.search_multi(
                "text", queries, limit=5, group_col="lang", **kw
            ).collect()
        ]

    # below the crossover: auto == exact (the real default at this
    # corpus: a handful of lang groups)
    assert c.resolve_maxsim_prefilter("text", "lang") is None
    assert rows(prefilter_k="auto") == rows()

    # force the boundary the other way: auto == explicit k
    c.maxsim_auto_prefilter_min_groups = 1
    c._maxsim_group_counts.clear()
    k = c.maxsim_auto_prefilter_k
    assert c.resolve_maxsim_prefilter("text", "lang") == k
    assert rows(prefilter_k="auto") == rows(prefilter_k=k)

    # ungrouped auto is always exact
    assert c.resolve_maxsim_prefilter("text", None) is None
    a = c.search_multi("text", queries, limit=5, prefilter_k="auto")
    b = c.search_multi("text", queries, limit=5)
    assert [tuple(r) for r in a.collect()] == [tuple(r) for r in b.collect()]

    # batched path resolves the same way
    ma = c.search_many_multi(
        "text", [queries], limit=5, group_col="lang", prefilter_k="auto"
    )
    mb = c.search_many_multi(
        "text", [queries], limit=5, group_col="lang", prefilter_k=k
    )
    assert [tuple(r) for r in ma.collect()] == [tuple(r) for r in mb.collect()]

    with pytest.raises(ValueError, match="positive int or 'auto'"):
        c.search_multi(
            "text", queries, limit=5, group_col="lang", prefilter_k="fast"
        )


def test_maxsim_prefilter_hamming_signal(spark, tmp_path, sf_dir):
    """prefilter_signal='hamming' (r10, the SCALING r9 'natural next
    tier'): ungrouped candidates come from the persisted sign-bit
    index in ONE batched bit scan. Floor: prefilter_k >= corpus rows
    admits every key -> bit-identical to exact; small k returns rows
    whose scores are EXACT (pinned against a where-restricted exact
    replay); grouped or k-less hamming requests raise before any
    embedding runs."""
    import os

    import pytest

    from letsearch_spark.collection import Collection

    c = Collection.create(
        spark, str(tmp_path / "ph"), name="ph", model_name="stub://16"
    )
    c.import_parquet(os.path.join(sf_dir, "documents.parquet"))
    c.embed_all()
    c.serve_filter_columns = ["lang"]
    queries = ["spark join window", "dedup minhash band"]

    exact = [
        tuple(r) for r in c.search_multi("text", queries, limit=5).collect()
    ]
    floor = [
        tuple(r)
        for r in c.search_multi(
            "text",
            queries,
            limit=5,
            prefilter_k=10**6,
            prefilter_signal="hamming",
        ).collect()
    ]
    assert floor == exact

    # small k: every returned row's score is the exact MaxSim score
    # (ungrouped: per-key scores are independent, so a where-restricted
    # exact search replays them verbatim)
    approx = c.search_multi(
        "text", queries, limit=5, prefilter_k=8, prefilter_signal="hamming"
    ).collect()
    assert approx
    keys = [r["key"] for r in approx]
    replay = {
        r["key"]: r["score"]
        for r in c.search_multi(
            "text",
            queries,
            limit=min(len(keys), 100),
            where=f"_key IN ({','.join(str(k) for k in keys)})",
        ).collect()
    }
    for r in approx:
        assert replay[r["key"]] == r["score"]

    # batched path accepts the signal and honors the floor
    many_floor = c.search_many_multi(
        "text",
        [queries],
        limit=5,
        prefilter_k=10**6,
        prefilter_signal="hamming",
    )
    many_exact = c.search_many_multi("text", [queries], limit=5)
    assert [tuple(r) for r in many_floor.collect()] == [
        tuple(r) for r in many_exact.collect()
    ]

    with pytest.raises(ValueError, match="UNGROUPED"):
        c.search_multi(
            "text", queries, limit=5, group_col="lang",
            prefilter_k=8, prefilter_signal="hamming",
        )
    with pytest.raises(ValueError, match="explicit integer prefilter_k"):
        c.search_multi(
            "text", queries, limit=5, prefilter_signal="hamming"
        )
    # 'auto' resolves to exact for ungrouped serving, which would
    # silently ignore the hamming signal -- rejected (r10 review catch)
    with pytest.raises(ValueError, match="explicit integer prefilter_k"):
        c.search_multi(
            "text", queries, limit=5,
            prefilter_k="auto", prefilter_signal="hamming",
        )
    with pytest.raises(ValueError, match="'cosine' or 'hamming'"):
        c.search_multi(
            "text", queries, limit=5, prefilter_k=8, prefilter_signal="lsh"
        )
