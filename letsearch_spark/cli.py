"""CLI: the reference's five verbs (src/main.rs:38-190) on Spark.

    python -m letsearch_spark index --collection c --files d.parquet --index-columns text
    python -m letsearch_spark add-docs --collection c --files more.jsonl
    python -m letsearch_spark search --collection c --column text --query "..." [--limit 10]
    python -m letsearch_spark serve [--port 7898]
    python -m letsearch_spark train-tokenizer --collection c --out bpe.json
    python -m letsearch_spark list-models

Defaults mirror the reference CLI: collection name "default", index
column "text", search limit 10 (main.rs:52-75, serve.rs:48-53). The
collections root is --home / $LETSEARCH_SPARK_HOME (the analog of
$LETSEARCH_HOME, collection_utils.rs:7-11).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from letsearch_spark.config import SEARCH_STRATEGIES


def _home(args) -> str:
    return args.home or os.environ.get(
        "LETSEARCH_SPARK_HOME", os.path.expanduser("~/.letsearch_spark")
    )


def _spark(args):
    from letsearch_spark.session import get_spark

    return get_spark("letsearch-spark-cli", master=args.master)


def cmd_index(args) -> int:
    from letsearch_spark.collection import Collection

    spark = _spark(args)
    coll = Collection.create(
        spark,
        _home(args),
        name=args.collection,
        index_columns=args.index_columns.split(","),
        model_name=args.model,
        model_variant=args.variant,
    )
    for path in args.files:
        if path.endswith((".jsonl", ".json")):
            n = coll.import_jsonl(path)
        elif path.endswith(".pdf"):
            n = coll.import_pdf(path)
        elif path.endswith(".csv"):
            n = coll.import_csv(path)
        elif path.endswith((".wet", ".wet.gz")):
            n = coll.import_wet(path)
        elif path.endswith((".warc", ".warc.gz")):
            # raw crawl: response records -> HTTP strip -> html_to_text
            n = coll.import_warc(path)
        else:
            n = coll.import_parquet(path)
        print(f"imported {path}: {n} rows total")
    counts = coll.embed_all()
    for col, n in counts.items():
        print(f"embedded column {col!r}: {n} vectors")
    return 0


def cmd_add_docs(args) -> int:
    from letsearch_spark.collection import Collection

    spark = _spark(args)
    coll = Collection.load(spark, _home(args), args.collection)
    for path in args.files:
        if path.endswith((".jsonl", ".json")):
            n = coll.append_jsonl(path)
        elif path.endswith(".pdf"):
            n = coll.import_pdf(path)
        elif path.endswith(".csv"):
            n = coll.append_csv(path)
        elif path.endswith((".wet", ".wet.gz")):
            n = coll.append_wet(path)
        elif path.endswith((".warc", ".warc.gz")):
            n = coll.append_warc(path)
        else:
            n = coll.append_parquet(path)
        print(f"appended {path}: {n} rows")
    counts = coll.embed_all(incremental=True)  # K5 anti-join increments
    for col, n in counts.items():
        print(f"index for {col!r}: {n} vectors")
    return 0


def cmd_compact(args) -> int:
    from letsearch_spark.collection import Collection

    spark = _spark(args)
    coll = Collection.load(spark, _home(args), args.collection)
    out = coll.compact(rows_per_file=args.rows_per_file)
    for table, n in out.items():
        print(f"{table}: {n}")
    return 0


def cmd_delete(args) -> int:
    from letsearch_spark.collection import Collection

    spark = _spark(args)
    coll = Collection.load(spark, _home(args), args.collection)
    n = coll.delete_where(
        args.where, mode="purge" if getattr(args, "purge", False) else "tombstone"
    )
    print(f"deleted: {n}")
    return 0


def cmd_search(args) -> int:
    from letsearch_spark.collection import Collection

    spark = _spark(args)
    coll = Collection.load(spark, _home(args), args.collection)
    if getattr(args, "filter_columns", None):
        coll.serve_filter_columns = [
            c.strip() for c in args.filter_columns.split(",") if c.strip()
        ]
    rows = coll.search(
        args.column,
        args.query,
        limit=args.limit,
        strategy=getattr(args, "strategy", "join"),
        where=getattr(args, "where", None),
    ).collect()
    # pretty-print rank/score/content like the reference CLI (main.rs:360-380)
    for i, r in enumerate(rows, 1):
        content = (r["content"] or "")[:160]
        print(f"{i:>3}. [{r['score']:.4f}] (key={r['key']}) {content}")
    return 0


def cmd_serve(args) -> int:
    from letsearch_spark import api

    spark = _spark(args)
    server = api.make_http_server(spark, _home(args), port=args.port)
    print(f"serving on http://127.0.0.1:{server.server_address[1]}")
    try:
        server.serve_forever()
    except KeyboardInterrupt:
        pass
    return 0


def cmd_train_tokenizer(args) -> int:
    """Train a tokenizer on a collection column and save it as JSON.
    --type bpe (default) plugs into ChunkerConfig(bpe_path=...) /
    token_count_exact; --type unigram (SentencePiece-style distributed
    EM) plugs into ChunkerConfig(unigram_path=...) /
    token_count_exact_unigram; --type byte_bpe (GPT-2-style, r9) plugs
    into ChunkerConfig(byte_bpe_path=...) /
    token_count_exact_bytebpe; --type wordpiece (BERT-style, r10)
    plugs into token_count_exact_wordpiece."""
    from letsearch_spark.collection import Collection

    spark = _spark(args)
    coll = Collection.load(spark, _home(args), args.collection)
    if args.type == "wordpiece":
        from letsearch_spark.tokenizer_wordpiece import train_wordpiece

        model = train_wordpiece(
            coll.docs(),
            args.column,
            vocab_size=args.vocab_size,
            max_word_types=args.max_word_types,
            min_count=args.min_count,
        )
        model.save(args.out)
        print(
            json.dumps(
                {
                    "out": args.out,
                    "type": "wordpiece",
                    "vocab": len(model.vocab),
                    "word_types": model.word_types,
                    "coverage": round(model.coverage, 6),
                }
            )
        )
        return 0
    if args.type == "byte_bpe":
        from letsearch_spark.tokenizer_bytebpe import train_byte_bpe

        model = train_byte_bpe(
            coll.docs(),
            args.column,
            vocab_size=args.vocab_size,
            max_word_types=args.max_word_types,
            min_count=args.min_count,
        )
        model.save(args.out)
        print(
            json.dumps(
                {
                    "out": args.out,
                    "type": "byte_bpe",
                    "merges": len(model.merges),
                    "pretoken_types": model.pretoken_types,
                    "coverage": round(model.coverage, 6),
                }
            )
        )
        return 0
    if args.type == "unigram":
        from letsearch_spark.tokenizer_unigram import train_unigram

        model = train_unigram(
            coll.docs(), args.column, vocab_size=args.vocab_size
        )
        model.save(args.out)
        print(
            json.dumps(
                {
                    "out": args.out,
                    "type": "unigram",
                    "vocab": len(model.vocab),
                    "word_types": model.word_types,
                }
            )
        )
        return 0
    from letsearch_spark.tokenizer import train_bpe

    model = train_bpe(
        coll.docs(),
        args.column,
        vocab_size=args.vocab_size,
        max_word_types=args.max_word_types,
        min_count=args.min_count,
    )
    model.save(args.out)
    print(
        json.dumps(
            {
                "out": args.out,
                "type": "bpe",
                "merges": len(model.merges),
                "vocab": len(model.vocab),
                "word_types": model.word_types,
                "coverage": round(model.coverage, 6),
            }
        )
    )
    return 0


def _read_any(spark, path: str):
    if path.endswith((".jsonl", ".json")):
        return spark.read.json(path)
    if path.endswith(".csv"):
        # inferSchema so ids/numerics arrive typed like the other
        # formats (header-only CSV reads every column as string, which
        # would mint string-keyed tables and mixed-type joins)
        return (
            spark.read.option("header", "true")
            .option("inferSchema", "true")
            .csv(path)
        )
    return spark.read.parquet(path)


def cmd_prep(args) -> int:
    """Config-driven training-data preparation: run the full
    prepare_training_data recipe over an input table and materialize
    clean corpus + packed layout (+ optional text shards / data card).

    The JSON config carries PrepConfig fields verbatim, except that
    DataFrame-valued knobs are spelled as input paths and resolved
    here: ``ppl_filter.train_corpus`` (an in-distribution corpus; an
    n-gram LM is trained on it, CCNet-style), ``decontaminate.probes``
    (the eval set), ``dsir.target`` (the target domain), and
    ``quality_classifier`` as {"positive": path, "fit": {...},
    "filter": {...}} (negative examples default to the raw input --
    the GPT-3 curated-vs-crawl recipe). Everything else forwards
    unchanged, so the CLI exposes exactly the library's knobs."""
    from letsearch_spark.pipeline import (
        PrepConfig,
        corpus_report,
        prepare_training_data,
        release_training_data,
        write_training_shards,
    )

    spark = _spark(args)
    docs = _read_any(spark, args.input)
    cfg_dict = {}
    if args.config:
        with open(args.config) as fh:
            cfg_dict = json.load(fh)

    if "ppl_filter" in cfg_dict and cfg_dict["ppl_filter"] is not None:
        from letsearch_spark.operators.ngram_lm import train_ngram_lm

        ppl = dict(cfg_dict["ppl_filter"])
        corpus_path = ppl.pop("train_corpus")
        train_kwargs = {
            k: ppl.pop(k) for k in ("min_count",) if k in ppl
        }
        ppl["lm"] = train_ngram_lm(
            _read_any(spark, corpus_path),
            text_col=cfg_dict.get("text_col", "text"),
            n=ppl.get("n", 2),
            **train_kwargs,
        )
        cfg_dict["ppl_filter"] = ppl
    if "decontaminate" in cfg_dict and cfg_dict["decontaminate"] is not None:
        dec = dict(cfg_dict["decontaminate"])
        dec["probes"] = _read_any(spark, dec["probes"])
        cfg_dict["decontaminate"] = dec
    if "dsir" in cfg_dict and cfg_dict["dsir"] is not None:
        ds = dict(cfg_dict["dsir"])
        ds["target"] = _read_any(spark, ds["target"])
        cfg_dict["dsir"] = ds
    if (
        "quality_classifier" in cfg_dict
        and cfg_dict["quality_classifier"] is not None
    ):
        from letsearch_spark.operators.classifier import fit_quality_classifier

        qc = dict(cfg_dict["quality_classifier"])
        model = fit_quality_classifier(
            _read_any(spark, qc.pop("positive")),
            docs,
            id_col=cfg_dict.get("key_col", "doc_id"),
            text_col=cfg_dict.get("text_col", "text"),
            **qc.pop("fit", {}),
        )
        cfg_dict["quality_classifier"] = {"model": model, **qc.pop("filter", {})}

    cfg = PrepConfig(**cfg_dict)
    laps: dict[str, float] = {}
    clean, layout, audit = prepare_training_data(
        docs, cfg, stage_seconds=laps
    )
    clean.write.mode("overwrite").parquet(os.path.join(args.out, "clean"))
    layout.write.mode("overwrite").parquet(os.path.join(args.out, "layout"))
    out = {"audit": audit, "stage_seconds": laps}
    if args.shards:
        out["spans_written"] = write_training_shards(
            clean,
            layout,
            os.path.join(args.out, "shards"),
            key_col=cfg.key_col,
            text_col=cfg.text_col,
        )
    if args.data_card:
        card = corpus_report(
            clean,
            key_col=cfg.key_col,
            text_col=cfg.text_col,
            domain_col=cfg.domain_col,
        )
        card.write.mode("overwrite").parquet(
            os.path.join(args.out, "data_card")
        )
        out["data_card"] = [r.asDict() for r in card.collect()]
    release_training_data(clean)
    print(json.dumps(out, default=str))
    return 0


def cmd_diff(args) -> int:
    """Snapshot diff (operators/diff.py): compare two parquet corpus
    versions by key, print the 4-row status summary as JSON lines and
    optionally write the per-key ledger for release tooling."""
    from letsearch_spark.operators.diff import (
        dataset_diff,
        dataset_diff_summary,
    )

    spark = _spark(args)
    old = spark.read.parquet(args.old)
    new = spark.read.parquet(args.new)
    compare = [c.strip() for c in args.compare.split(",") if c.strip()]
    summary = dataset_diff_summary(old, new, args.key, compare)
    for r in sorted(summary.collect(), key=lambda r: r["status"]):
        print(json.dumps({"status": r["status"], "n": r["n"]}))
    if args.out:
        dataset_diff(old, new, args.key, compare).write.mode(
            "overwrite"
        ).parquet(args.out)
    return 0


def cmd_export_shards(args) -> int:
    """Training-shard egress (operators/export.py): order the corpus,
    fill size-bounded shards, write shard=N parquet + a checksummed
    manifest; --verify re-reads the layout against its manifest."""
    from letsearch_spark.operators.export import (
        export_training_shards,
        verify_training_shards,
    )

    spark = _spark(args)
    df = spark.read.parquet(args.input)
    checksum_cols = (
        [c.strip() for c in args.checksum_cols.split(",") if c.strip()]
        if args.checksum_cols
        else None
    )
    manifest = export_training_shards(
        df,
        args.out,
        [c.strip() for c in args.order_by.split(",")],
        rows_per_shard=args.rows_per_shard,
        tokens_per_shard=args.tokens_per_shard,
        token_col=args.token_col,
        checksum_cols=checksum_cols,
        data_format=args.format,
    )
    for r in manifest.collect():
        print(json.dumps(r.asDict()))
    if args.verify:
        verify_training_shards(
            spark,
            args.out,
            token_col=args.token_col,
            checksum_cols=checksum_cols,
            strict=True,
            data_format=args.format,
        )
        print(json.dumps({"verified": True}))
    return 0


def cmd_verify_shards(args) -> int:
    """Trainer-side integrity gate: re-read an exported shard layout
    and verify it against its _manifest (exit 1 on any failure, with a
    JSON {verified: false, error} line -- the scripted-caller contract
    holds for missing paths / missing manifests / wrong column options
    too, not just checksum mismatches). Pass the SAME --token-col /
    --checksum-cols the export used: extra columns fail loudly, but
    FEWER columns silently weaken the comparison to what you name."""
    from letsearch_spark.operators.export import verify_training_shards

    spark = _spark(args)
    checksum_cols = (
        [c.strip() for c in args.checksum_cols.split(",") if c.strip()]
        if args.checksum_cols
        else None
    )
    try:
        verify_training_shards(
            spark,
            args.path,
            token_col=args.token_col,
            checksum_cols=checksum_cols,
            strict=True,
            data_format=getattr(args, "format", "parquet"),
        )
        # shard count from the tiny manifest -- re-counting the report
        # would re-run the full checksum scan a second time
        n = spark.read.parquet(args.path.rstrip("/") + "_manifest").count()
    except Exception as e:  # AnalysisException, RuntimeError, ...
        print(json.dumps({"verified": False, "error": str(e)}))
        return 1
    print(json.dumps({"verified": True, "shards": n}))
    return 0


def cmd_list_models(args) -> int:
    from letsearch_spark.sources.hf import list_models

    for m in list_models():
        print(json.dumps({"id": m.get("id"), "downloads": m.get("downloads")}))
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="letsearch-spark")
    p.add_argument("--home", default=None, help="collections root")
    p.add_argument("--master", default=None, help="spark master (default local[$SPARK_GRAFT_CPUS])")
    sub = p.add_subparsers(dest="cmd", required=True)

    s = sub.add_parser("index", help="create a collection: import + embed")
    s.add_argument("--collection", default="default")
    s.add_argument("--files", nargs="+", required=True)
    s.add_argument("--index-columns", default="text")
    s.add_argument("--model", default="stub://16")
    s.add_argument("--variant", default="f32")
    s.set_defaults(fn=cmd_index)

    s = sub.add_parser("add-docs", help="append + incrementally embed")
    s.add_argument("--collection", default="default")
    s.add_argument("--files", nargs="+", required=True)
    s.set_defaults(fn=cmd_add_docs)

    s = sub.add_parser(
        "compact", help="rewrite tables into size-targeted key-sorted files"
    )
    s.add_argument("collection")
    s.add_argument("--rows-per-file", type=int, default=1_000_000)
    s.set_defaults(fn=cmd_compact)

    s = sub.add_parser(
        "delete", help="delete documents (and their vectors) by predicate"
    )
    s.add_argument("collection")
    s.add_argument(
        "--where", required=True,
        help="Spark SQL predicate over the docs table, e.g. \"author = 'x'\"",
    )
    s.add_argument(
        "--purge", action="store_true",
        help="physically rewrite the tables now (default: O(matches) "
        "deletion-vector write; bytes leave disk at the next compact)",
    )
    s.set_defaults(fn=cmd_delete)

    s = sub.add_parser("search", help="top-k semantic search")
    s.add_argument("--collection", default="default")
    s.add_argument("--column", default="text")
    s.add_argument("--query", required=True)
    s.add_argument("--limit", type=int, default=10)
    s.add_argument(
        "--strategy",
        default="join",
        choices=list(SEARCH_STRATEGIES),
        help="serving strategy (see Collection.search); 'auto' picks "
        "from the indexed size via the measured crossovers",
    )
    s.add_argument(
        "--where",
        default=None,
        help="SQL predicate over serve-view columns (strategies "
        + ", ".join(n for n, s in SEARCH_STRATEGIES.items() if s.where)
        + "; combine with --filter-columns)",
    )
    s.add_argument(
        "--filter-columns",
        default=None,
        help="comma-separated docs columns copied into the serve view "
        "for --where predicates",
    )
    s.set_defaults(fn=cmd_search)

    s = sub.add_parser("serve", help="HTTP API (demo shim)")
    s.add_argument("--port", type=int, default=7898)
    s.set_defaults(fn=cmd_serve)

    s = sub.add_parser(
        "train-tokenizer",
        help="train a BPE or unigram tokenizer on a collection column",
    )
    s.add_argument("--collection", default="default")
    s.add_argument("--column", default="text")
    s.add_argument(
        "--type",
        default="bpe",
        choices=["bpe", "unigram", "byte_bpe", "wordpiece"],
    )
    s.add_argument("--vocab-size", type=int, default=8000)
    s.add_argument("--max-word-types", type=int, default=1_000_000)
    s.add_argument("--min-count", type=int, default=1)
    s.add_argument("--out", required=True, help="output JSON model path")
    s.set_defaults(fn=cmd_train_tokenizer)

    s = sub.add_parser(
        "prep",
        help="run the training-data prep pipeline from a JSON config",
    )
    s.add_argument("--input", required=True, help="corpus (parquet/jsonl/csv)")
    s.add_argument("--out", required=True, help="output dir (clean/ layout/)")
    s.add_argument(
        "--config", default=None,
        help="JSON of PrepConfig fields; DataFrame knobs are paths "
        "(ppl_filter.train_corpus, decontaminate.probes, dsir.target, "
        "quality_classifier.positive)",
    )
    s.add_argument(
        "--shards", action="store_true",
        help="also write text training shards (out/shards)",
    )
    s.add_argument(
        "--data-card", action="store_true",
        help="also write + print the corpus data card (out/data_card)",
    )
    s.set_defaults(fn=cmd_prep)

    s = sub.add_parser(
        "diff", help="compare two parquet corpus snapshots by key"
    )
    s.add_argument("--old", required=True, help="previous snapshot path")
    s.add_argument("--new", required=True, help="current snapshot path")
    s.add_argument("--key", default="doc_id")
    s.add_argument(
        "--compare", default="text",
        help="comma-separated columns whose change flips a key to 'changed'",
    )
    s.add_argument(
        "--out", default=None,
        help="optional parquet path for the per-key status ledger",
    )
    s.set_defaults(fn=cmd_diff)

    s = sub.add_parser(
        "export-shards",
        help="write ordered training shards + checksummed manifest",
    )
    s.add_argument("--input", required=True, help="corpus parquet")
    s.add_argument("--out", required=True, help="shard output directory")
    s.add_argument(
        "--order-by", required=True,
        help="comma list of order columns (must form a total order)",
    )
    s.add_argument("--rows-per-shard", type=int, default=None)
    s.add_argument("--tokens-per-shard", type=int, default=None)
    s.add_argument("--token-col", default=None)
    s.add_argument(
        "--checksum-cols", default=None,
        help="comma list of content columns for the manifest checksum",
    )
    s.add_argument(
        "--verify", action="store_true",
        help="re-read the layout and verify it against its manifest",
    )
    s.add_argument(
        "--format", default="parquet", choices=["parquet", "jsonl"],
        help="shard data format (manifest stays parquet)",
    )
    s.set_defaults(fn=cmd_export_shards)

    s = sub.add_parser(
        "verify-shards",
        help="verify an exported shard layout against its manifest",
    )
    s.add_argument("--path", required=True, help="shard directory")
    s.add_argument("--token-col", default=None)
    s.add_argument("--checksum-cols", default=None)
    s.add_argument(
        "--format", default="parquet", choices=["parquet", "jsonl"],
    )
    s.set_defaults(fn=cmd_verify_shards)

    s = sub.add_parser("list-models", help="list letsearch models on HF hub")
    s.set_defaults(fn=cmd_list_models)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
