"""Streaming tests: incremental append stream == bulk ingest (FIXTURES
§5 invariant), and the windowed rollup matches its batch twin.
"""

import os

import pytest
from pyspark.sql import functions as F


def test_stream_append_equals_bulk(spark, sf_dir, tmp_path):
    from letsearch_spark.collection import Collection
    from letsearch_spark.streaming.incremental import stream_append_collection

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    # split the corpus into 4 files in a landing dir
    landing = str(tmp_path / "landing")
    docs.withColumn("part", (F.col("doc_id") % 4).cast("int")).write.partitionBy(
        "part"
    ).parquet(landing)

    coll = Collection.create(
        spark,
        str(tmp_path / "root"),
        name="streamed",
        index_columns=["text"],
        model_name="stub://16",
    )
    # seed with an empty slice so the append path has a table to append to
    coll.import_df(docs.limit(0))

    q = stream_append_collection(
        spark,
        coll,
        landing + "/part=*",
        schema=docs.drop("part").schema if "part" in docs.columns else docs.schema,
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_files_per_trigger=2,
        embed=True,
    )
    q.awaitTermination(120)

    n_docs = docs.count()
    assert coll.count() == n_docs
    stats = coll.docs().agg(
        F.countDistinct("_key").alias("d"), F.max("_key").alias("m")
    ).collect()[0]
    assert stats["d"] == n_docs and stats["m"] == n_docs  # dense keys
    assert coll.embeddings("text").count() == n_docs  # K5 embedded exactly once
    # content equality with bulk ingest (keys aside)
    bulk_ids = {r["doc_id"] for r in docs.select("doc_id").collect()}
    stream_ids = {r["doc_id"] for r in coll.docs().select("doc_id").collect()}
    assert bulk_ids == stream_ids


def test_windowed_counts_match_batch_twin(spark, sf_dir, tmp_path):
    from letsearch_spark.queries import load
    from letsearch_spark.streaming.incremental import windowed_event_counts

    ev = load(spark, sf_dir, "events")
    # write to a streaming source dir and re-read as a stream
    src = str(tmp_path / "events_src")
    ev.write.parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)

    out = windowed_event_counts(stream, window="1 hour", watermark="2 hours")
    sink = str(tmp_path / "sink")
    q = (
        out.writeStream.outputMode("append")
        .format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # append mode only emits windows closed by the watermark; with
    # availableNow the final watermark is max(ts) - 2h, so compare
    # against the batch twin restricted to emitted windows
    got = spark.read.parquet(sink)
    batch = (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("window_start"),
            F.col("event_type"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    joined = got.alias("g").join(
        batch.alias("b"), ["window_start", "event_type"], "inner"
    )
    mismatches = joined.where(F.col("g.n") != F.col("b.n")).count()
    assert mismatches == 0
    assert got.count() > 0


def test_stream_prep_collection(spark, tmp_path):
    """Streaming prep ingest: a low-quality row is filtered, a
    cross-micro-batch NEAR-duplicate is dropped against the persisted
    signature store, survivors land in the collection with continued
    keys and incremental embeddings."""
    import pyspark.sql.types as T

    from letsearch_spark.collection import Collection
    from letsearch_spark.streaming.incremental import stream_prep_collection

    base = (
        "the alpha signal and the beta channel of gamma systems carry "
        "delta payloads for epsilon consumers that zeta brokers route "
        "through eta queues in theta clusters with iota replicas and "
        "kappa shards holding lambda segments of steady traffic flows"
    )
    near = base.replace("kappa", "sigma")  # 1 word off: near-dup
    uniq = (
        "completely different prose about streams windows states and "
        "checkpoints carrying enough words to clear the gopher length "
        "gate with room to spare for the minimum word count threshold "
        "plus some extra filler tokens near the end of this document"
    )
    low_q = "tiny"  # fails min_words
    schema = T.StructType([T.StructField("text", T.StringType())])
    src = str(tmp_path / "src")
    spark.createDataFrame([(base,), (low_q,)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    spark.createDataFrame([(near,), (uniq,)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    coll = Collection.create(
        spark, str(tmp_path / "root"), name="prep",
        index_columns=["text"], model_name="stub://8",
    )
    q = stream_prep_collection(
        spark,
        coll,
        src,
        schema,
        checkpoint_dir=str(tmp_path / "ckpt"),
        state_dir=str(tmp_path / "state"),
        quality={"min_words": 10},
        dedup={"threshold": 0.5},
        max_files_per_trigger=1,
    )
    assert q.awaitTermination(300)

    texts = sorted(r["text"] for r in coll.docs().select("text").collect())
    assert texts == sorted([base, uniq])  # near-dup and low-quality gone
    assert coll.embeddings("text").count() == 2  # embedded incrementally
    keys = sorted(r["_key"] for r in coll.docs().select("_key").collect())
    assert keys == [1, 2]
    # the store remembered BOTH processed survivors of the dedup stage
    # (base and near arrived, near was dropped but is archived)
    corpus = spark.read.parquet(str(tmp_path / "state" / "corpus"))
    assert corpus.count() == 3  # base, near, uniq (low_q died before dedup)


_PREP_TEXTS = {
    1: (
        "the alpha signal and the beta channel of gamma systems carry "
        "delta payloads for epsilon consumers that zeta brokers route "
        "through eta queues in theta clusters with iota replicas and "
        "kappa shards holding lambda segments of steady traffic flows"
    ),
    2: (
        "completely different prose about streams windows states and "
        "checkpoints carrying enough words to clear the gopher length "
        "gate with room to spare for the minimum word count threshold "
        "plus some extra filler tokens near the end of this document"
    ),
}


def _prep_text(i: int) -> str:
    return _PREP_TEXTS[i]


def test_stream_prep_zero_survivor_first_batch(spark, tmp_path):
    """A first micro-batch whose rows ALL fail quality must not crash
    the stream: no docs table exists yet, so the incremental embed has
    to be skipped, and the next batch proceeds normally."""
    import pyspark.sql.types as T

    from letsearch_spark.collection import Collection
    from letsearch_spark.streaming.incremental import (
        _make_prep_batch_processor,
    )

    schema = T.StructType([T.StructField("text", T.StringType())])
    coll = Collection.create(
        spark, str(tmp_path / "root"), name="zprep",
        index_columns=["text"], model_name="stub://8",
    )
    process = _make_prep_batch_processor(
        spark, coll, str(tmp_path / "state"), "text",
        quality={"min_words": 10}, dedup={"threshold": 0.5}, embed=True,
    )
    process(spark.createDataFrame([("tiny",)], schema), 0)  # must not raise
    assert not coll._docs_exist()
    process(spark.createDataFrame([(_prep_text(1),)], schema), 1)
    assert coll.docs().count() == 1
    assert coll.embeddings("text").count() == 1


@pytest.mark.deep  # auditor tier (pytest.ini): replay storm; the crash-recovery test stays default
def test_stream_prep_replay_is_idempotent(spark, tmp_path):
    """Checkpoint replays of a prep batch must not duplicate rows,
    bands, or keys -- both the fully-applied replay (applied marker
    short-circuit) and the crashed-before-applied replay (archived ids
    reused, append skipped via its marker, bands overwritten in place)."""
    import os

    import pyspark.sql.types as T

    from letsearch_spark.collection import Collection
    from letsearch_spark.streaming.incremental import (
        _make_prep_batch_processor,
    )

    schema = T.StructType([T.StructField("text", T.StringType())])
    state = str(tmp_path / "state")
    coll = Collection.create(
        spark, str(tmp_path / "root"), name="rprep",
        index_columns=["text"], model_name="stub://8",
    )
    process = _make_prep_batch_processor(
        spark, coll, state, "text",
        quality={"min_words": 10}, dedup={"threshold": 0.5}, embed=True,
    )
    b0 = spark.createDataFrame(
        [(_prep_text(1),), (_prep_text(2),)], schema
    )
    process(b0, 0)
    assert coll.docs().count() == 2
    bands0 = spark.read.parquet(state + "/bands").where("batch = 0").count()
    assert bands0 > 0

    # replay of a fully applied batch: everything short-circuits
    process(b0, 0)
    assert coll.docs().count() == 2
    assert spark.read.parquet(state + "/bands").where("batch = 0").count() == bands0

    # crash right before the applied marker: append already marked done,
    # ids already archived -- the replay must reuse both and only
    # rewrite the (idempotent) bands partition
    os.remove(os.path.join(state, "applied", "0"))
    process(b0, 0)
    assert coll.docs().count() == 2
    assert spark.read.parquet(state + "/bands").where("batch = 0").count() == bands0
    corpus = spark.read.parquet(state + "/corpus")
    assert corpus.count() == 2  # no re-keyed duplicate archive rows

    # dedup memory still works after the recovery: a near-dup of a
    # batch-0 doc arriving in batch 1 is dropped against the store
    near = _prep_text(1).replace("kappa", "sigma")
    process(spark.createDataFrame([(near,)], schema), 1)
    assert coll.docs().count() == 2
    assert spark.read.parquet(state + "/corpus").count() == 3  # archived


@pytest.mark.deep  # auditor tier (pytest.ini): failure-injection permutation storm
def test_stream_prep_truncated_marker_and_ownership(spark, tmp_path):
    """A marker truncated by a crash mid-write must not wedge the
    stream (the replay re-keys; partial-attempt rows are inert), and
    reusing prep state under a different checkpoint must fail loudly
    instead of silently skipping batches."""
    import os

    import pyspark.sql.types as T

    from letsearch_spark.collection import Collection
    from letsearch_spark.streaming.incremental import (
        _make_prep_batch_processor,
    )

    schema = T.StructType([T.StructField("text", T.StringType())])
    state = str(tmp_path / "state")
    coll = Collection.create(
        spark, str(tmp_path / "root"), name="tprep",
        index_columns=["text"], model_name="stub://8",
    )
    process = _make_prep_batch_processor(
        spark, coll, state, "text",
        quality={"min_words": 10}, dedup={"threshold": 0.5}, embed=True,
        checkpoint_tag="ckpt-A",
    )
    process(spark.createDataFrame([(_prep_text(1),)], schema), 0)
    near = _prep_text(1).replace("kappa", "sigma")
    process(spark.createDataFrame([(near,)], schema), 1)
    assert coll.docs().count() == 1  # near-dup dropped

    # crash left a zero-byte archived marker: replay must re-key and
    # converge, not raise on every restart
    with open(os.path.join(state, "archived", "1"), "w") as f:
        f.write("")
    os.remove(os.path.join(state, "applied", "1"))
    process(spark.createDataFrame([(near,)], schema), 1)
    assert coll.docs().count() == 1  # still deduped, stream progressed

    # same state under a different checkpoint: loud refusal
    p2 = _make_prep_batch_processor(
        spark, coll, state, "text",
        quality={"min_words": 10}, dedup={"threshold": 0.5}, embed=True,
        checkpoint_tag="ckpt-B",
    )
    with pytest.raises(RuntimeError, match="belongs to checkpoint"):
        p2(spark.createDataFrame([(_prep_text(2),)], schema), 0)


def test_stream_prep_crash_between_append_and_marker(spark, tmp_path, monkeypatch):
    """The formerly-documented durability window: a crash AFTER the
    collection append committed but BEFORE the ``appended/<id>`` marker
    write. With the staged publish (Collection.append_staged) the
    replay must converge to exactly-once -- no double rows."""
    import pyspark.sql.types as T

    import letsearch_spark.streaming.incremental as inc
    from letsearch_spark.collection import Collection
    from letsearch_spark.streaming.incremental import (
        _make_prep_batch_processor,
    )

    schema = T.StructType([T.StructField("text", T.StringType())])
    state = str(tmp_path / "state")
    coll = Collection.create(
        spark, str(tmp_path / "root"), name="cprep",
        index_columns=["text"], model_name="stub://8",
    )
    process = _make_prep_batch_processor(
        spark, coll, state, "text",
        quality={"min_words": 10}, dedup={"threshold": 0.5}, embed=True,
    )
    process(spark.createDataFrame([(_prep_text(1),)], schema), 0)
    assert coll.docs().count() == 1

    real = inc._marker_write
    boom = {"armed": True}

    def crash_on_appended(sp, path, text=""):
        if boom["armed"] and "appended" in path.replace("\\", "/").split("/"):
            boom["armed"] = False
            raise RuntimeError("injected crash after append publish")
        real(sp, path, text)

    monkeypatch.setattr(inc, "_marker_write", crash_on_appended)
    b1 = spark.createDataFrame([(_prep_text(2),)], schema)
    with pytest.raises(RuntimeError, match="injected crash"):
        process(b1, 1)
    # the append itself PUBLISHED before the crash -- the old design
    # would now double the rows on replay
    assert coll.docs().count() == 2

    process(b1, 1)  # checkpoint replay
    assert coll.docs().count() == 2  # exactly-once
    keys = sorted(r["_key"] for r in coll.docs().select("_key").collect())
    assert keys == [1, 2]  # keys stayed dense, no phantom range
    assert coll.embeddings("text").count() == 2
    # staging dir cleaned up once the marker is durable
    import os as _os

    staged = _os.path.join(state, "staged", "1")
    assert not _os.path.exists(staged)


@pytest.mark.deep  # auditor tier (pytest.ini): path-spelling permutation storm
def test_stream_prep_owner_tag_path_spellings(spark, tmp_path):
    """Equivalent checkpoint-path spellings (trailing slash, file: URI,
    relative vs absolute) must all resume against the same state_dir;
    a genuinely different checkpoint still raises."""
    import pyspark.sql.types as T

    from letsearch_spark.collection import Collection
    from letsearch_spark.streaming.incremental import (
        _make_prep_batch_processor,
    )

    schema = T.StructType([T.StructField("text", T.StringType())])
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    coll = Collection.create(
        spark, str(tmp_path / "root"), name="oprep",
        index_columns=["text"], model_name="stub://8",
    )

    def make(tag):
        return _make_prep_batch_processor(
            spark, coll, state, "text",
            quality={"min_words": 10}, dedup={"threshold": 0.5},
            embed=False, checkpoint_tag=tag,
        )

    make(ckpt)(spark.createDataFrame([(_prep_text(1),)], schema), 0)
    # same path, different spellings: trailing slash, file: URI -- resume OK
    make(ckpt + "/")(spark.createDataFrame([(_prep_text(2),)], schema), 1)
    third = (
        "a wholly separate narrative covering orchard harvests and the "
        "seasonal logistics of moving crates between valley farms and "
        "market towns with enough distinct vocabulary to clear both the "
        "quality gate and the near duplicate detector by a wide margin"
    )
    make("file:" + ckpt)(spark.createDataFrame([(third,)], schema), 2)
    assert coll.docs().count() == 3
    # a different checkpoint still refuses
    with pytest.raises(RuntimeError, match="belongs to checkpoint"):
        make(str(tmp_path / "other_ckpt"))(
            spark.createDataFrame([(_prep_text(1),)], schema), 0
        )


def test_prune_prep_state_and_band_fold(spark, tmp_path):
    """Housekeeping: pruning drops committed batches' markers + staged
    leftovers, folds their band partitions into one history partition,
    and dedup memory SURVIVES -- a later near-dup is still dropped, and
    even an out-of-contract replay of a pruned batch converges (its
    rows dedup against their own archived selves) instead of
    double-appending."""
    import os

    import pyspark.sql.types as T

    from letsearch_spark.collection import Collection
    from letsearch_spark.streaming.incremental import (
        _make_prep_batch_processor,
        fold_band_partitions,
        prune_prep_state,
    )

    schema = T.StructType([T.StructField("text", T.StringType())])
    state = str(tmp_path / "state")
    coll = Collection.create(
        spark, str(tmp_path / "root"), name="hkprep",
        index_columns=["text"], model_name="stub://8",
    )
    process = _make_prep_batch_processor(
        spark, coll, state, "text",
        quality={"min_words": 10}, dedup={"threshold": 0.5}, embed=False,
    )
    b0 = spark.createDataFrame([(_prep_text(1),)], schema)
    process(b0, 0)
    process(spark.createDataFrame([(_prep_text(2),)], schema), 1)
    assert coll.docs().count() == 2

    stats = prune_prep_state(spark, state, committed_up_to=2)
    assert stats == {"markers": 6, "staged": 0, "folded": 2}
    assert not os.path.exists(os.path.join(state, "applied", "0"))
    parts = sorted(os.listdir(os.path.join(state, "bands")))
    assert [p for p in parts if p.startswith("batch=")] == ["batch=-1"]

    # dedup memory survived the fold: a near-dup of a folded batch's
    # doc arriving in a NEW batch is still dropped
    near = _prep_text(1).replace("kappa", "sigma")
    process(spark.createDataFrame([(near,)], schema), 2)
    assert coll.docs().count() == 2

    # out-of-contract replay of the pruned batch 0: no markers remain,
    # so it re-keys -- but the folded store no longer hides batch 0's
    # own bands behind the self-exclusion, so every row dedups against
    # its archived self and nothing double-appends
    process(b0, 0)
    assert coll.docs().count() == 2

    # idempotent / no-op cases (the replay above recreated batch 0's
    # three markers; pruning them again converges to zero)
    assert fold_band_partitions(spark, state, up_to=0) == 0
    again = prune_prep_state(spark, state, committed_up_to=2)
    assert again["markers"] == 3 and again["staged"] == 0
    third = prune_prep_state(spark, state, committed_up_to=2)
    assert third == {"markers": 0, "staged": 0, "folded": 0}
    import pytest as _pt

    with _pt.raises(ValueError, match="committed_up_to"):
        prune_prep_state(spark, state, committed_up_to=-1)


def test_stream_prep_html_stage(spark, tmp_path):
    """Round 6: the streaming prep front can start from raw crawl HTML
    (batch pipeline stage 0): pages extract before the quality judge,
    link farms drop on max_link_density, tag-empty pages drop on the
    length guard, and the kept document lands extracted (no tags) in
    the collection."""
    import pyspark.sql.types as T

    from letsearch_spark.collection import Collection
    from letsearch_spark.streaming.incremental import (
        _make_prep_batch_processor,
    )

    schema = T.StructType([T.StructField("text", T.StringType())])
    coll = Collection.create(
        spark, str(tmp_path / "root"), name="hprep",
        index_columns=["text"], model_name="stub://8",
    )
    process = _make_prep_batch_processor(
        spark, coll, str(tmp_path / "state"), "text",
        quality={"min_words": 10}, dedup={"threshold": 0.5}, embed=True,
        html={"max_link_density": 0.5},
    )
    body = _prep_text(1)
    batch = spark.createDataFrame(
        [
            (f"<html><body><p>{body}</p></body></html>",),
            ("<html><body>" + "".join(f'<a href="/l{i}">l{i}</a>' for i in range(40)) + " nav page</body></html>",),
            ("<div><script>var x=1;</script></div>",),
        ],
        schema,
    )
    process(batch, 0)
    rows = coll.docs().collect()
    assert len(rows) == 1
    assert rows[0]["text"] == body and "<" not in rows[0]["text"]

    import pytest as _pytest

    bad = _make_prep_batch_processor(
        spark, coll, str(tmp_path / "state2"), "text",
        quality=None, dedup=None, embed=False, html={"nope": 1},
    )
    with _pytest.raises(ValueError, match="unknown html options"):
        bad(batch, 0)


def test_stream_refresh_index(spark, tmp_path):
    """refresh_index='ivf_pq' (round 6): every embedded micro-batch tops
    the IVF-PQ index up at batch cost (append under frozen quantizers;
    rebuild only past the drift threshold), so strategy='ivf_pq' serves
    fresh data between batches without a manual rebuild step."""
    import pyspark.sql.types as T

    from letsearch_spark.collection import Collection
    from letsearch_spark.streaming.incremental import (
        _make_prep_batch_processor,
    )

    schema = T.StructType([T.StructField("text", T.StringType())])
    coll = Collection.create(
        spark, str(tmp_path / "root"), name="iprep",
        index_columns=["text"], model_name="stub://8",
    )
    process = _make_prep_batch_processor(
        spark, coll, str(tmp_path / "state"), "text",
        quality=None, dedup=None, embed=True, refresh_index="ivf_pq",
    )
    b0 = [(f"first batch doc {i} about spark and joins and windows",) for i in range(6)]
    b1 = [(f"second batch doc {i} on packing and dedup and tokens",) for i in range(6)]
    process(spark.createDataFrame(b0, schema), 0)
    path = coll.ivf_pq_path("text")
    assert spark.read.parquet(path).count() == 6
    process(spark.createDataFrame(b1, schema), 1)
    # all 12 docs are indexed by the refreshed IVF-PQ index, which
    # serves without a manual rebuild (refresh reports it current)
    indexed = {r["_key"] for r in spark.read.parquet(path).collect()}
    assert indexed == {r["_key"] for r in coll.docs().collect()}
    assert len(indexed) == 12
    assert coll.refresh_ivf_pq_index("text") == "current"
    assert len(coll.search("text", b1[0][0], limit=3, strategy="ivf_pq").collect()) == 3

    import pytest as _pytest

    with _pytest.raises(ValueError, match="refresh_index"):
        _make_prep_batch_processor(
            spark, coll, str(tmp_path / "state2"), "text",
            quality=None, dedup=None, embed=True, refresh_index="nope",
        )


def test_stream_refresh_hamming_and_maxsim_pool(spark, tmp_path):
    """refresh_index='hamming' / 'maxsim_pool:<grp>' (r10): every
    embedded micro-batch tops the signature sidecar and the grouped-
    MaxSim pooled-centroid sidecar up at batch cost, so
    strategy='hamming' and the grouped prefilter serve fresh data
    between batches; an explicit refresh also invalidates the
    in-memory pool view (no stale serving from the cache)."""
    import os

    import pyspark.sql.types as T
    from pyspark.sql import functions as F

    from letsearch_spark.collection import Collection
    from letsearch_spark.streaming.incremental import (
        _make_prep_batch_processor,
    )

    schema = T.StructType(
        [
            T.StructField("text", T.StringType()),
            T.StructField("grp", T.StringType()),
        ]
    )
    coll = Collection.create(
        spark, str(tmp_path / "root"), name="hprep",
        index_columns=["text"], model_name="stub://8",
    )
    coll.serve_filter_columns = ["grp"]
    process = _make_prep_batch_processor(
        spark, coll, str(tmp_path / "state"), "text",
        quality=None, dedup=None, embed=True, refresh_index="hamming",
    )
    b0 = [(f"first batch doc {i} spark joins windows", "a") for i in range(6)]
    b1 = [(f"second batch doc {i} packing dedup tokens", "b") for i in range(6)]
    process(spark.createDataFrame(b0, schema), 0)
    assert os.path.isdir(coll.hamming_path("text"))
    process(spark.createDataFrame(b1, schema), 1)
    probe = coll.docs().where("_key = 10").select("text").first()[0]
    top = coll.search("text", probe, limit=1, strategy="hamming").first()
    assert top["key"] == 10 and top["score"] > 0.999

    # maxsim_pool freshness: build the sidecar, serve once (caches the
    # view), append a batch through the pool-refreshing processor, and
    # the NEXT grouped prefiltered search must see the new group
    # without any manual invalidation
    process2 = _make_prep_batch_processor(
        spark, coll, str(tmp_path / "state2"), "text",
        quality=None, dedup=None, embed=True,
        refresh_index="maxsim_pool:grp",
    )
    assert coll.refresh_maxsim_pool_index("text", "grp") == "built"
    coll.search_multi(
        "text", ["spark joins"], limit=3, group_col="grp", prefilter_k=2
    ).collect()
    assert ("maxsim_pool", "grp") in coll._memos["text"]  # view cached
    b2 = [(f"third batch doc {i} fresh group content", "c") for i in range(4)]
    process2(spark.createDataFrame(b2, schema), 2)
    groups = {
        r["grp"]
        for r in spark.read.parquet(
            coll.maxsim_pool_path("text", "grp")
        ).collect()
    }
    assert groups == {"a", "b", "c"}
    hits = coll.search_multi(
        "text",
        ["fresh group content"],
        limit=3,
        group_col="grp",
        prefilter_k=1,
    ).collect()
    assert hits and hits[0]["group"] == "c"

    # the invalidation pin proper (second-review catch: the in-stream
    # path above already clears caches via its own appends, so it
    # cannot distinguish the fix from no-fix): mutate storage OUT OF
    # BAND through a second Collection over the same root, then an
    # explicit refresh on THIS instance must drop its cached views --
    # the re-read pool view sees the new group, and the hamming view
    # cache is gone until the next lazy build
    coll.search("text", "spark joins", limit=1, strategy="hamming").collect()
    assert "hamming" in coll._memos["text"]  # signature view cached
    other = Collection.load(spark, str(tmp_path / "root"), "hprep")
    other._append_df(
        spark.createDataFrame(
            [("out of band doc fresh rows", "d")], schema
        )
    )
    other.embed_column("text", incremental=True)
    assert ("maxsim_pool", "grp") in coll._memos["text"]
    assert coll.refresh_maxsim_pool_index("text", "grp") == "refreshed"
    view_groups = {
        r["grp"] for r in coll._maxsim_pool_view("text", "grp").collect()
    }
    assert "d" in view_groups
    assert coll.refresh_hamming_index("text") in ("appended", "rebuilt")
    assert "hamming" not in coll._memos["text"]  # stale view dropped

    import pytest as _pytest

    from letsearch_spark.streaming.incremental import (
        _maybe_refresh_index,
        stream_append_collection,
    )

    with _pytest.raises(ValueError, match="maxsim_pool"):
        _maybe_refresh_index(coll, "text", "nope")
    # empty group col is rejected by the SAME grammar everywhere --
    # including up front on the plain append entry point (it used to
    # surface mid-stream as an opaque AnalysisException)
    with _pytest.raises(ValueError, match="maxsim_pool"):
        _maybe_refresh_index(coll, "text", "maxsim_pool:")
    with _pytest.raises(ValueError, match="maxsim_pool"):
        stream_append_collection(
            spark, coll, str(tmp_path / "nosrc"), schema,
            str(tmp_path / "nockpt"), refresh_index="maxsim_pool:",
        )
