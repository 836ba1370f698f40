"""CLI verb tests (A5/A6 surface) -- in-process (getOrCreate reuses the
test session), covering index -> search -> add-docs round trip."""

import argparse
import json
import os

import pytest

from letsearch_spark.cli import build_parser, cmd_add_docs, cmd_index, cmd_search
from letsearch_spark.config import SEARCH_STRATEGIES


def test_parser_defaults():
    p = build_parser()
    a = p.parse_args(["search", "--query", "hello"])
    assert a.collection == "default"
    assert a.column == "text"
    assert a.limit == 10

    a = p.parse_args(["index", "--files", "x.parquet"])
    assert a.index_columns == "text"
    assert a.model == "stub://16"


def _search_strategy_choices():
    p = build_parser()
    sub = next(a for a in p._actions if isinstance(a, argparse._SubParsersAction))
    search = sub.choices["search"]
    return next(a for a in search._actions if a.dest == "strategy").choices


def test_cli_strategy_choices_match_search(spark, tmp_path):
    """The CLI offers exactly the strategy table's names: every choice
    passes search's strategy check (an empty collection then fails
    later, for want of embeddings)."""
    from letsearch_spark.collection import Collection

    choices = _search_strategy_choices()
    assert tuple(choices) == tuple(SEARCH_STRATEGIES)
    assert "maxsim" in choices
    c = Collection.create(spark, str(tmp_path), name="s", model_name="stub://16")
    for name in choices:
        try:
            c.search("text", "q", limit=1, strategy=name)
        except Exception as e:  # no embeddings: fails past the check
            assert "unknown strategy" not in str(e), name


@pytest.mark.parametrize("name", ["lsh", "ivf", "inlist"])
def test_retired_strategy_names_fail_loudly(spark, tmp_path, capsys, name):
    """The retired lsh / ivf / inlist serving paths are gone from every
    entry point: search raises, the CLI rejects the name, and a stream
    asked to refresh such an index raises before it starts."""
    import pyspark.sql.types as T

    from letsearch_spark.collection import Collection
    from letsearch_spark.streaming.incremental import stream_append_collection

    c = Collection.create(spark, str(tmp_path), name="r", model_name="stub://16")
    with pytest.raises(ValueError, match="unknown strategy"):
        c.search("text", "q", strategy=name)

    with pytest.raises(SystemExit):
        build_parser().parse_args(["search", "--query", "q", "--strategy", name])
    assert "invalid choice" in capsys.readouterr().err

    active = len(spark.streams.active)
    schema = T.StructType([T.StructField("text", T.StringType())])
    with pytest.raises(ValueError, match="refresh_index"):
        stream_append_collection(
            spark, c, str(tmp_path / "src"), schema, str(tmp_path / "ckpt"),
            refresh_index=name,
        )
    assert len(spark.streams.active) == active
    assert not (tmp_path / "ckpt").exists()


def test_cli_roundtrip(spark, sf_dir, tmp_path, capsys):
    home = str(tmp_path / "home")
    p = build_parser()

    a = p.parse_args(
        [
            "--home", home, "--master", "local[4]",
            "index", "--collection", "c1",
            "--files", os.path.join(sf_dir, "documents.parquet"),
        ]
    )
    assert cmd_index(a) == 0
    out = capsys.readouterr().out
    assert "500 rows total" in out and "500 vectors" in out

    extra = tmp_path / "extra.jsonl"
    extra.write_text(
        json.dumps(
            {"doc_id": 9001, "text": "cli appended doc", "lang": "en",
             "source": "cli", "n_chars": 16}
        )
        + "\n"
    )
    a = p.parse_args(
        ["--home", home, "--master", "local[4]",
         "add-docs", "--collection", "c1", "--files", str(extra)]
    )
    assert cmd_add_docs(a) == 0
    assert "501" in capsys.readouterr().out

    a = p.parse_args(
        ["--home", home, "--master", "local[4]",
         "search", "--collection", "c1", "--query", "cli appended doc",
         "--limit", "1"]
    )
    assert cmd_search(a) == 0
    line = capsys.readouterr().out.strip()
    assert "cli appended doc" in line and "[1.0000]" in line

    # hybrid strategy through the CLI: verbatim doc wins both legs
    a = p.parse_args(
        ["--home", home, "--master", "local[4]",
         "search", "--collection", "c1", "--query", "cli appended doc",
         "--limit", "1", "--strategy", "hybrid"]
    )
    assert cmd_search(a) == 0
    line = capsys.readouterr().out.strip()
    assert "cli appended doc" in line  # rrf score, not 1.0

    # filtered search through the CLI: lang predicate excludes the
    # appended 'en' doc even for its verbatim query
    a = p.parse_args(
        ["--home", home, "--master", "local[4]",
         "search", "--collection", "c1", "--query", "cli appended doc",
         "--limit", "1", "--where", "lang = 'zh'",
         "--filter-columns", "lang"]
    )
    assert cmd_search(a) == 0
    line = capsys.readouterr().out.strip()
    assert "cli appended doc" not in line and line  # a zh doc instead


def test_cli_compact(spark, sf_dir, tmp_path, capsys):
    from letsearch_spark.cli import cmd_compact

    home = str(tmp_path / "home")
    p = build_parser()
    a = p.parse_args(
        [
            "--home", home, "--master", "local[4]",
            "index", "--collection", "c2",
            "--files", os.path.join(sf_dir, "documents.parquet"),
        ]
    )
    assert cmd_index(a) == 0
    capsys.readouterr()

    a = p.parse_args(["--home", home, "compact", "c2"])
    assert a.rows_per_file == 1_000_000
    assert cmd_compact(a) == 0
    out = capsys.readouterr().out
    assert "docs_files: 1" in out and "embeddings_files:" in out


def test_cli_train_tokenizer(spark, sf_dir, tmp_path, capsys):
    """train-tokenizer trains on a collection column, saves a JSON model
    that round-trips, and reports merges/coverage."""
    from letsearch_spark.cli import cmd_index, cmd_train_tokenizer
    from letsearch_spark.tokenizer import BpeModel

    home = str(tmp_path / "home")
    p = build_parser()
    a = p.parse_args(
        [
            "--home", home, "--master", "local[4]",
            "index", "--collection", "tok",
            "--files", os.path.join(sf_dir, "documents.parquet"),
        ]
    )
    assert cmd_index(a) == 0
    capsys.readouterr()

    out_path = str(tmp_path / "bpe.json")
    a = p.parse_args(
        [
            "--home", home, "--master", "local[4]",
            "train-tokenizer", "--collection", "tok",
            "--vocab-size", "500", "--out", out_path,
        ]
    )
    assert cmd_train_tokenizer(a) == 0
    report = json.loads(capsys.readouterr().out.strip())
    assert report["out"] == out_path
    assert report["merges"] > 0 and report["coverage"] == 1.0

    model = BpeModel.load(out_path)
    assert len(model.merges) == report["merges"]
    assert model.token_count("spark join batch") > 0

    # --type unigram routes to the distributed-EM trainer
    from letsearch_spark.tokenizer_unigram import UnigramModel

    uni_path = str(tmp_path / "unigram.json")
    a = p.parse_args(
        [
            "--home", home, "--master", "local[4]",
            "train-tokenizer", "--collection", "tok",
            "--type", "unigram", "--vocab-size", "150", "--out", uni_path,
        ]
    )
    assert cmd_train_tokenizer(a) == 0
    ureport = json.loads(capsys.readouterr().out.strip())
    assert ureport["type"] == "unigram" and ureport["vocab"] > 0
    umodel = UnigramModel.load(uni_path)
    assert umodel.token_count("spark join batch") > 0

    # --type wordpiece routes to the likelihood-scored trainer (r10)
    from letsearch_spark.tokenizer_wordpiece import WordPieceModel

    wp_path = str(tmp_path / "wordpiece.json")
    a = p.parse_args(
        [
            "--home", home, "--master", "local[4]",
            "train-tokenizer", "--collection", "tok",
            "--type", "wordpiece", "--vocab-size", "400", "--out", wp_path,
        ]
    )
    assert cmd_train_tokenizer(a) == 0
    wreport = json.loads(capsys.readouterr().out.strip())
    assert wreport["type"] == "wordpiece" and wreport["vocab"] > 0
    wmodel = WordPieceModel.load(wp_path)
    assert wmodel.token_count("spark join batch") > 0


def test_cli_prep(spark, sf_dir, tmp_path, capsys):
    """prep runs the config-driven pipeline end-to-end: DataFrame knobs
    resolve from paths (dsir.target here), clean/layout land on disk,
    and the printed JSON carries the per-stage audit + lap seconds and
    the data card."""
    import json as _json

    from letsearch_spark.cli import cmd_prep

    docs_path = os.path.join(sf_dir, "documents.parquet")
    cfg = {
        "fuzzy_dedup": {"threshold": 0.8},
        "dsir": {"target": docs_path, "k": 100},
        "seq_len": 256,
        "num_shards": 4,
    }
    cfg_path = tmp_path / "prep.json"
    cfg_path.write_text(_json.dumps(cfg))
    out_dir = str(tmp_path / "prep_out")

    p = build_parser()
    a = p.parse_args(
        [
            "--master", "local[4]",
            "prep", "--input", docs_path, "--out", out_dir,
            "--config", str(cfg_path), "--shards", "--data-card",
        ]
    )
    assert cmd_prep(a) == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    audit = out["audit"]
    assert audit["input"] == 500
    assert audit["dsir"] == 100
    assert set(out["stage_seconds"]) >= {"input", "quality_filter", "dsir"}
    clean = spark.read.parquet(os.path.join(out_dir, "clean"))
    assert clean.count() == audit["dsir"]
    layout = spark.read.parquet(os.path.join(out_dir, "layout"))
    assert layout.count() == out["spans_written"]
    assert os.path.isdir(os.path.join(out_dir, "shards"))
    # data card: one total row whose doc count matches the clean corpus
    card = [r for r in out["data_card"] if r["is_total"]]
    assert len(card) == 1 and int(card[0]["n_docs"]) == audit["dsir"]


def test_cli_diff(spark, sf_dir, tmp_path, capsys):
    """diff prints the 4-status summary as JSON lines and writes the
    per-key ledger parquet when --out is given."""
    import json as _json

    from pyspark.sql import functions as F

    from letsearch_spark.cli import build_parser

    old_path = os.path.join(sf_dir, "documents.parquet")
    new_path = str(tmp_path / "new_snap")
    (
        spark.read.parquet(old_path)
        .where(F.col("doc_id") % 10 != 0)
        .withColumn(
            "text",
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(F.coalesce(F.col("text"), F.lit("")), F.lit(" v2")),
            ).otherwise(F.col("text")),
        )
        .write.parquet(new_path)
    )
    ledger = str(tmp_path / "ledger")
    p = build_parser()
    a = p.parse_args(
        [
            "--master", "local[4]",
            "diff", "--old", old_path, "--new", new_path,
            "--key", "doc_id", "--compare", "text", "--out", ledger,
        ]
    )
    assert a.fn(a) == 0
    got = {
        d["status"]: d["n"]
        for d in map(_json.loads, capsys.readouterr().out.splitlines())
    }
    n = spark.read.parquet(old_path).count()
    removed = spark.read.parquet(old_path).where(F.col("doc_id") % 10 == 0).count()
    changed = (
        spark.read.parquet(old_path)
        .where((F.col("doc_id") % 7 == 0) & (F.col("doc_id") % 10 != 0))
        .count()
    )
    assert got.get("removed", 0) == removed
    assert got.get("changed", 0) == changed
    assert got.get("unchanged", 0) == n - removed - changed
    assert "added" not in got  # no fresh keys in this mutation
    led = spark.read.parquet(ledger)
    assert led.count() == n
    assert set(led.columns) == {"doc_id", "status"}


def test_cli_delete(spark, sf_dir, tmp_path, capsys):
    """delete --where hard-removes matching docs (count printed); the
    survivors still serve."""
    from letsearch_spark.cli import cmd_delete, cmd_index, cmd_search

    home = str(tmp_path / "home")
    p = build_parser()
    a = p.parse_args(
        [
            "--home", home, "--master", "local[4]",
            "index", "--collection", "cdel",
            "--files", os.path.join(sf_dir, "documents.parquet"),
        ]
    )
    assert cmd_index(a) == 0
    capsys.readouterr()

    a = p.parse_args(
        ["--home", home, "delete", "cdel", "--where", "doc_id < 10"]
    )
    assert cmd_delete(a) == 0
    assert "deleted: 10" in capsys.readouterr().out

    a = p.parse_args(
        [
            "--home", home, "search", "--collection", "cdel",
            "--query", "spark join", "--limit", "3",
        ]
    )
    assert cmd_search(a) == 0
    assert capsys.readouterr().out.strip()


def test_cli_wet_dispatch(spark, tmp_path, capsys):
    """CLI index/add-docs dispatch .wet/.gz files through
    import_wet/append_wet (r8): index replaces, add-docs appends with
    key continuation."""
    from letsearch_spark.sources.warc import build_wet_bytes

    home = str(tmp_path / "home")
    seg = tmp_path / "seg.warc.wet"
    seg.write_bytes(
        build_wet_bytes(
            [("http://t/1", "spark join window"), ("http://t/2", "agg rollup")]
        )
    )
    p = build_parser()
    a = p.parse_args(
        ["--home", home, "--master", "local[4]",
         "index", "--collection", "w1", "--files", str(seg)]
    )
    assert cmd_index(a) == 0
    out = capsys.readouterr().out
    assert "2 rows total" in out and "2 vectors" in out
    # re-index does not duplicate
    assert cmd_index(a) == 0
    assert "2 rows total" in capsys.readouterr().out

    more = tmp_path / "more.warc.wet.gz"
    more.write_bytes(
        build_wet_bytes([("http://t/3", "stream state")], gz=True)
    )
    a = p.parse_args(
        ["--home", home, "--master", "local[4]",
         "add-docs", "--collection", "w1", "--files", str(more)]
    )
    assert cmd_add_docs(a) == 0
    assert "1 rows" in capsys.readouterr().out
