"""Write-path memos of ``Collection``: the tombstone memo and the key
watermark survive the writes that do not change them, and every write
that does change them resets them.

The reference check is a freshly loaded twin over the same root: it
holds no memo, so whatever it reads is what the files on disk say.
"""

import os
import random

import pytest
from pyspark.sql import DataFrameWriter
from pyspark.sql import functions as F

from letsearch_spark.collection import Collection

COLUMN = "text"


def _rows(rng: random.Random, n: int) -> list[tuple[str, int]]:
    words = ["spark", "join", "window", "batch", "query", "vector", "index", "shard"]
    return [
        (" ".join(rng.choice(words) for _ in range(5)), rng.randrange(4))
        for _ in range(n)
    ]


def _frame(spark, rows):
    return spark.createDataFrame(rows, "text string, grp int")


def _keys(df) -> list[int]:
    return sorted(r["_key"] for r in df.select("_key").collect())


def _has_column_embeddings(c: Collection) -> bool:
    return c._fs_nonempty(os.path.join(c.embeddings_path, f"column_name={COLUMN}"))


# every per-query serving strategy, each through its own memos;
# 'maxsim' groups by the collection's maxsim_group_col
STRATEGIES = ("join", "hamming", "pq", "ivf_pq", "hybrid", "maxsim")
# the rows c must share with the twin: the exact strategies, and the
# approximate ones whose index the twin reads from the same files
# (pq trains its codebook in memory, so only its keys are checked)
SAME_AS_TWIN = (
    "join", "hamming", "ivf_pq", "hybrid", "maxsim",
    "local", "local_hybrid", "many_dense",
)
QUERIES = ["spark join window", "batch query shard"]


def _load(spark, root: str, name: str) -> Collection:
    c = Collection.load(spark, root, name)
    c.serve_filter_columns = ["grp"]
    c.maxsim_group_col = "grp"
    return c


def _serve(c: Collection, strategies) -> dict[str, list[dict]]:
    """Rows (as dicts) of each serving path in ``strategies``; the
    corpus stays under the limit, so every path returns every row it
    can rank."""
    out = {}
    for s in strategies:
        if s in ("local", "local_hybrid"):
            out[s] = c.search_rows(COLUMN, QUERIES[0], limit=100, strategy=s)
        elif s == "many_dense":
            rows = c.search_many(COLUMN, QUERIES, limit=100).collect()
            out[s] = [r.asDict() for r in rows]
        else:
            rows = c.search(COLUMN, QUERIES[0], limit=100, strategy=s).collect()
            out[s] = [r.asDict() for r in rows]
    return out


def _assert_matches_twin(spark, c: Collection, root: str, step: str) -> list[int]:
    """Compare ``c`` with a memo-free twin; return the live doc keys.
    With embeddings on disk, ``c`` serves through every memo: no path
    may serve a tombstoned, purged or unembedded key, or a key's old
    content, and the rows in SAME_AS_TWIN equal the twin's."""
    twin = _load(spark, root, c.config.name)
    live = _keys(c.docs())
    assert live == _keys(twin.docs()), step
    assert c._key_watermark() == twin._key_watermark(), step
    if _has_column_embeddings(twin):
        emb = _keys(c.embeddings(COLUMN))
        assert emb == _keys(twin.embeddings(COLUMN)), step
        tomb = twin._tombstones()
        dead = set() if tomb is None else set(_keys(tomb))
        content = {
            r["_key"]: r[COLUMN]
            for r in twin.docs().select("_key", COLUMN).collect()
        }
        got = _serve(c, STRATEGIES + ("local", "local_hybrid", "many_dense"))
        for s, rows in got.items():
            hit_keys = {r["key"] for r in rows}
            assert not hit_keys & dead, (step, s)
            assert hit_keys <= set(emb) <= set(live), (step, s)
            for r in rows:
                assert r["content"] == content[r["key"]], (step, s, r["key"])
        # exact top-100 over a smaller corpus: every live embedded key
        assert {r["key"] for r in got["join"]} == set(emb), step
        want = _serve(twin, SAME_AS_TWIN)
        for s in SAME_AS_TWIN:
            assert got[s] == want[s], (step, s)
    return live


def test_write_sequence_matches_fresh_twin(spark, tmp_path):
    """A seeded interleaving of every write verb on one Collection: after
    each step its live doc keys, live embedding keys and next key equal
    those of a freshly loaded twin, and it serves through every memo
    (each search strategy, both driver-local ones, batched dense) with
    no tombstoned or purged key and no stale content; exact paths and
    file-backed indexes return the twin's rows. Deletes aim at the
    current max key, so the key-continuation rule (a tombstoned max
    stays reserved; a purged one is free again) is exercised by
    compact and purge."""
    rng = random.Random(20261017)
    root = str(tmp_path / "root")
    Collection.create(spark, root, "seq", [COLUMN], "stub://8")
    c = _load(spark, root, "seq")
    c.import_df(_frame(spark, _rows(rng, 12)))
    c.embed_column(COLUMN)
    live = _assert_matches_twin(spark, c, root, "initial import")

    # each sidecar-clearing write runs at least once with a tombstoned
    # max key pending, the state its resets exist for
    units = (
        [["append"]] * 4
        + [["staged"]] * 2
        + [["embed"]] * 4
        + [["tombstone"]] * 2
        + [["purge"], ["compact"]]
        + [["tombstone", op] for op in ("purge", "compact", "import")]
    )
    rng.shuffle(units)
    ops = [op for unit in units for op in unit]
    for i, op in enumerate(ops):
        step = f"step {i}: {op}"
        if op == "append":
            c._append_df(_frame(spark, _rows(rng, rng.randint(1, 4))))
        elif op == "staged":
            c.append_staged(
                _frame(spark, _rows(rng, rng.randint(1, 4))),
                str(tmp_path / f"staged-{i}"),
                tag=f"b{i}",
            )
        elif op in ("tombstone", "purge"):
            doomed = {max(live), rng.choice(live)} if live else {0}
            pred = "_key IN ({})".format(", ".join(map(str, sorted(doomed))))
            c.delete_where(pred, mode=op)
        elif op == "compact":
            c.compact()
        elif op == "import":
            c.import_df(_frame(spark, _rows(rng, rng.randint(6, 10))))
        else:
            c.embed_column(COLUMN, incremental=True)
        live = _assert_matches_twin(spark, c, root, step)


def _good_append_continues_from_disk(spark, c: Collection, rng) -> None:
    before = _keys(c._docs_raw())
    n = c._append_df(_frame(spark, _rows(rng, 4)))
    after = _keys(c._docs_raw())
    assert n == 4
    assert after == list(range(1, len(after) + 1))  # dense and unique
    assert after[-4:] == [before[-1] + j for j in range(1, 5)]


def test_failed_append_keeps_keys_dense(spark, tmp_path):
    """An append whose write job fails after key counting succeeded
    (a raise_error column the counting job prunes away) publishes
    nothing; the next good append continues from the on-disk max with
    dense, unique keys."""
    rng = random.Random(3)
    c = Collection.create(spark, str(tmp_path / "root"), "fail", [COLUMN], "stub://8")
    c.import_df(_frame(spark, _rows(rng, 5)))
    c._append_df(_frame(spark, _rows(rng, 3)))  # the watermark is memoized
    bad = _frame(spark, _rows(rng, 3)).withColumn(
        "text", F.raise_error(F.lit("boom at write time")).cast("string")
    )
    with pytest.raises(Exception, match="boom at write time"):
        c._append_df(bad)
    assert c.count() == 8
    _good_append_continues_from_disk(spark, c, rng)


def test_partially_published_append_keeps_keys_unique(spark, tmp_path, monkeypatch):
    """A write that publishes some of its files and then raises (an
    output committer that moves task files straight into the table, or
    a driver crash mid-commit): the next good append must continue past
    the published keys instead of reusing them."""
    rng = random.Random(4)
    c = Collection.create(spark, str(tmp_path / "root"), "part", [COLUMN], "stub://8")
    c.import_df(_frame(spark, _rows(rng, 5)))
    c._append_df(_frame(spark, _rows(rng, 3)))  # the watermark is memoized
    real_parquet = DataFrameWriter.parquet

    def publish_two_then_fail(writer, path, *args, **kwargs):
        if path != c.docs_path:
            return real_parquet(writer, path, *args, **kwargs)
        lo = writer._df.agg(F.min("_key")).first()[0]
        real_parquet(
            writer._df.where(F.col("_key") < lo + 2).write.mode("append"), path
        )
        raise RuntimeError("simulated crash after a partial publish")

    monkeypatch.setattr(DataFrameWriter, "parquet", publish_two_then_fail)
    with pytest.raises(RuntimeError, match="partial publish"):
        c._append_df(_frame(spark, _rows(rng, 5)))
    monkeypatch.undo()
    assert c.count() == 10
    _good_append_continues_from_disk(spark, c, rng)


def test_embed_column_leaves_session_overwrite_mode(spark, tmp_path, sf_dir):
    """embed_column asks for dynamic partition overwrite on its own
    write only: the session setting is unchanged afterwards, and a full
    re-embed of one column still keeps the other column's partition."""
    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    spark.conf.set(key, "STATIC")
    try:
        c = Collection.create(
            spark, str(tmp_path / "root"), "ovw", ["text", "source"], "stub://8"
        )
        c.import_parquet(os.path.join(sf_dir, "documents.parquet"))
        c.embed_all()
        assert spark.conf.get(key) == "STATIC"
        source_keys = _keys(c.embeddings("source"))
        text_keys = _keys(c.embeddings("text"))
        assert c.embed_column("text", incremental=False) == len(text_keys)
        assert spark.conf.get(key) == "STATIC"
        assert _keys(c.embeddings("source")) == source_keys
        assert _keys(c.embeddings("text")) == text_keys
    finally:
        spark.conf.set(key, before)


def _frames(memos: dict) -> list:
    """The cached DataFrames among one store entry's memos."""
    from pyspark.sql import DataFrame

    parts = [
        part
        for value in memos.values()
        for part in (value if isinstance(value, tuple) else (value,))
    ]
    return [p for p in parts if isinstance(p, DataFrame) and p.is_cached]


def test_invalidate_releases_every_cached_frame(spark, tmp_path):
    """Serve every strategy once on a two-column collection, so the
    store holds every memo kind; dropping one column's entry releases
    each of its cached frames from Spark's CacheManager and keeps the
    other column's and the docs-level memos, and the full drop leaves
    the store and the CacheManager empty."""
    rng = random.Random(5)
    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    root = str(tmp_path / "root")
    Collection.create(spark, root, "rel", [COLUMN, "tag"], "stub://8")
    c = _load(spark, root, "rel")
    c.import_df(_frame(spark, _rows(rng, 30)).withColumn("tag", F.col("text")))
    c.embed_all()

    q = QUERIES[0]
    c.search_many(COLUMN, QUERIES, limit=5, strategy="hamming").collect()
    _serve(c, STRATEGIES + ("local", "local_hybrid", "many_dense"))
    c.search(COLUMN, q, limit=5, strategy="auto").collect()
    for k in ("auto", 2):
        c.search_multi(COLUMN, [q], limit=5, group_col="grp", prefilter_k=k).collect()
    c.search("tag", q, limit=5, strategy="hamming").collect()
    assert set(c._memos[COLUMN]) == {
        "serve", "raw_serve", "lexical", "idf_map", "local", "local_lexical",
        "embeddings_ok", "rows", "pq", "ivf_pq", "hamming", "hamming_center",
        ("maxsim_pool", "grp"),
    }
    assert set(c._memos[None]) == {"docs", ("groups", "grp")}

    def held(frames) -> list[bool]:
        return [cache.lookupCachedData(f._jdf).isDefined() for f in frames]

    text_frames = _frames(c._memos[COLUMN])
    tag_frames = _frames(c._memos["tag"])
    # serve, lexical postings + dfreq, pq codes, hamming, maxsim pool
    assert len(text_frames) == 6 and all(held(text_frames))
    assert tag_frames and all(held(tag_frames))

    c._invalidate_cache(COLUMN)
    assert not c._memos.get(COLUMN)
    assert not any(held(text_frames))
    assert all(held(tag_frames))
    assert set(c._memos[None]) == {"docs", ("groups", "grp")}

    c._invalidate_cache()
    assert not any(c._memos.values())
    assert not any(held(tag_frames))
    assert cache.isEmpty()
