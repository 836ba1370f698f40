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


def _assert_matches_twin(spark, c: Collection, root: str, step: str) -> list[int]:
    """Compare ``c`` with a memo-free twin; return the live doc keys."""
    twin = Collection.load(spark, root, c.config.name)
    live = _keys(c.docs())
    assert live == _keys(twin.docs()), step
    assert c._key_watermark() == twin._key_watermark(), step
    if _has_column_embeddings(twin):
        emb = _keys(c.embeddings(COLUMN))
        assert emb == _keys(twin.embeddings(COLUMN)), step
        tomb = twin._tombstones()
        dead = set() if tomb is None else set(_keys(tomb))
        # the corpus stays under the limit: every live embedded key comes back
        got = [
            (r["key"], r["score"])
            for r in c.search(COLUMN, "spark join window", limit=100).collect()
        ]
        want = [
            (r["key"], r["score"])
            for r in twin.search(COLUMN, "spark join window", limit=100).collect()
        ]
        assert got == want, step
        hit_keys = {k for k, _ in got}
        assert not hit_keys & dead, step
        assert hit_keys == set(emb), step
        assert hit_keys <= set(live), step
    return live


def test_write_sequence_matches_fresh_twin(spark, tmp_path):
    """A seeded interleaving of every write verb on one Collection: after
    each step its live doc keys, live embedding keys, next key and
    search hits equal those of a freshly loaded twin, and no search
    returns a tombstoned key. Deletes aim at the current max key, so
    the key-continuation rule (a tombstoned max stays reserved; a
    purged one is free again) is exercised by compact and purge."""
    rng = random.Random(20261017)
    root = str(tmp_path / "root")
    c = Collection.create(spark, root, "seq", [COLUMN], "stub://8")
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
