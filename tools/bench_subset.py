"""Focused bench: run a named SUBSET of bench.py's stages with the
identical timing methodology (same aggregates, same min-of-N), so gate
re-adjudication A/Bs do not need 12-minute full runs (VERDICT r10
Next #1: matched-run-count interleaved A/Bs for the 8 breached gates).

The stage lambdas are copied from bench.py verbatim (same forcing
aggregates -- the count-pruning lessons); bench.py itself is NOT
touched, so the driver contract is unchanged.

``--repo PATH`` prepends PATH to sys.path before importing
letsearch_spark, so the same tool file can drive an old checkout
(cloned to /tmp) and HEAD alternately for interleaved A/Bs:

    python tools/bench_subset.py --repo /tmp/r9tip --stages span_corruption
    python tools/bench_subset.py --repo /root/repo --stages span_corruption

Prints ONE JSON line per invocation:
  {"repo": ..., "stages": {...sec...}, "calibration": {...}, "repeats": N}
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def calibrate() -> float:
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
    ap = argparse.ArgumentParser()
    ap.add_argument("--repo", default=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    ap.add_argument("--stages", required=True, help="comma-separated bench stage names")
    ap.add_argument("--repeats", type=int, default=5)
    ap.add_argument("--tag", default="")
    args = ap.parse_args()

    sys.path.insert(0, args.repo)

    from pyspark.sql import functions as F

    from letsearch_spark import queries
    from letsearch_spark.queries import load
    from letsearch_spark.session import get_spark

    # the window and off-window registries; an older --repo checkout
    # names its registries differently, so take every *_QUERIES dict the
    # checkout defines (names never repeat across them)
    registries = [
        v
        for k, v in vars(queries).items()
        if k.endswith("QUERIES") and isinstance(v, dict)
    ]

    def resolve_query(name):
        for reg in registries:
            if name in reg:
                return reg[name]
        raise KeyError(name)

    spark = get_spark(
        "bench-subset", master=f"local[{CPUS}]", shuffle_partitions=int(CPUS)
    )
    spark.sparkContext.setLogLevel("ERROR")
    cal_start = calibrate()
    load(spark, SF_DIR, "lineitem").limit(1000).count()  # warmup

    stages = [s.strip() for s in args.stages.split(",") if s.strip()]
    timings: dict[str, float] = {}

    # ---- stage definitions: aggregates copied from bench.py verbatim
    def mk_count(name):
        return lambda: resolve_query(name)(spark, SF_DIR).count()

    special: dict = {}
    special["span_corruption"] = lambda: (
        resolve_query("span_corruption")(spark, SF_DIR)
        .agg(F.sum(F.length("input_md5")) + F.sum(F.length("target_md5")))
        .first()[0]
    )
    special["fim_transform"] = lambda: (
        resolve_query("fim_transform")(spark, SF_DIR)
        .agg(F.sum(F.length("text_md5")))
        .first()[0]
    )
    special["s_warc_html_ingest"] = lambda: (
        resolve_query("s_warc_html_ingest")(spark, SF_DIR)
        .agg(F.sum(F.length("clean_md5")))
        .first()[0]
    )
    special["multimodal_headers"] = lambda: (
        resolve_query("multimodal_headers")(spark, SF_DIR)
        .agg(F.sum("n_bytes") + F.sum("width") + F.sum("height"))
        .first()[0]
    )
    special["dedup_url_canonical"] = lambda: (
        resolve_query("dedup_url_canonical")(spark, SF_DIR)
        .agg(
            F.sum("n_copies")
            + F.sum(F.length("url_canon"))
            + F.sum(F.col("keep").cast("long"))
        )
        .first()[0]
    )

    def make_lang_id():
        from letsearch_spark.operators.langid import fit_langid, predict_lang

        docs_lang = load(spark, SF_DIR, "documents")
        model = fit_langid(
            docs_lang.where(F.col("lang").isNotNull()).select("lang", "text")
        )
        return lambda: (
            predict_lang(docs_lang, model, "doc_id", "text")
            .agg(F.sum("score_micro"), F.count("pred_lang"))
            .first()[0]
        )

    def make_search_topk_hamming():
        from letsearch_spark.collection import Collection

        root = tempfile.mkdtemp(prefix="ls_sub_")
        coll = Collection.create(
            spark, root, name="subq", index_columns=["text"], model_name="stub://16"
        )
        coll.import_parquet(os.path.join(SF_DIR, "documents.parquet"))
        coll.embed_column("text")
        coll.search("text", "warmup", limit=10, strategy="hamming").collect()

        def run():
            for i in range(20):
                coll.search(
                    "text", f"spark join query window batch {i}", limit=10,
                    strategy="hamming",
                ).collect()

        return run

    def make_search_many_hamming():
        from letsearch_spark.collection import Collection

        root = tempfile.mkdtemp(prefix="ls_sub_")
        coll = Collection.create(
            spark, root, name="sub", index_columns=["text"], model_name="stub://16"
        )
        coll.import_parquet(os.path.join(SF_DIR, "documents.parquet"))
        coll.embed_column("text")
        many_qs = [f"spark join query window batch {i}" for i in range(100)]
        coll.search_many("text", many_qs[:2], limit=10, strategy="hamming").count()
        return lambda: coll.search_many(
            "text", many_qs, limit=10, strategy="hamming"
        ).count()

    lazies = {
        "lang_id_predict": make_lang_id,
        "search_many_hamming": make_search_many_hamming,
        "search_topk_hamming": make_search_topk_hamming,
    }

    for name in stages:
        if name in lazies:
            fn = lazies[name]()
        elif name in special:
            fn = special[name]
        else:
            fn = mk_count(name)
        best = None
        all_times = []
        for _ in range(max(args.repeats, 1)):
            t0 = time.time()
            fn()
            dt = time.time() - t0
            all_times.append(round(dt, 3))
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 3)
        timings[f"{name}__all"] = all_times  # type: ignore[assignment]

    print(
        json.dumps(
            {
                "tag": args.tag,
                "repo": args.repo,
                "repeats": args.repeats,
                "stages": timings,
                "calibration": {"start": cal_start, "end": calibrate()},
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
