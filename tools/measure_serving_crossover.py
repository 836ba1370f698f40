"""Measure the per-query latency of every Collection serving strategy
at growing corpus sizes -- the evidence behind resolve_strategy's
``strategy='auto'`` tiers (SCALING.md "serving crossovers").

Round 7: the hamming tier was reworked to be cache-light (signature
cache only; rescore is an IN-list parquet fetch), so its crossover vs
'join'/'ivf_pq' must be re-measured and slotted into the auto
policy instead of being an unreachable opt-in knob (VERDICT r6 #3).

Usage:
    python tools/measure_serving_crossover.py --sizes 100000,1000000 \
        --strategies join,hamming,ivf_pq --queries 10

Prints one JSON line per (size, strategy): build time, mean/min
per-query seconds over N queries after a warmup, plus the hamming
signature-scan throughput (rows/s) used to extrapolate the tier
ceiling documented in SCALING.md.
"""

import argparse
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def synth_docs(spark, n: int):
    from pyspark.sql import functions as F

    # deterministic pseudo-text: the stub embedder hashes tokens, so
    # distinct texts give distinct vectors; ~8 tokens each
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.lit("doc"),
            (F.col("id") % 9973).cast("string"),
            (F.col("id") % 997).cast("string"),
            (F.col("id") % 97).cast("string"),
            ((F.col("id") * 31) % 7919).cast("string"),
            ((F.col("id") * 17) % 653).cast("string"),
        ).alias("text"),
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sizes", default="100000,1000000")
    ap.add_argument("--strategies", default="join,hamming,pq,ivf_pq")
    ap.add_argument("--queries", type=int, default=10)
    ap.add_argument("--dim", type=int, default=64)
    args = ap.parse_args()

    from letsearch_spark import get_spark
    from letsearch_spark.collection import Collection

    spark = get_spark(
        "crossover", master="local[32]", shuffle_partitions=32
    )
    queries = [f"doc {i * 13 % 9973} {i * 7 % 997} probe" for i in range(args.queries)]

    for n in [int(s) for s in args.sizes.split(",")]:
        root = tempfile.mkdtemp(prefix=f"xover{n}_")
        c = Collection.create(
            spark, root, name="x", index_columns=["text"],
            model_name=f"stub://{args.dim}",
        )
        t0 = time.time()
        c.import_df(synth_docs(spark, n))
        c.embed_column("text")
        ingest_s = time.time() - t0
        for strat in args.strategies.split(","):
            # fresh caches per strategy so each pays only ITS footprint
            c._invalidate_cache(drop_index_meta=False)
            t0 = time.time()
            c.search("text", queries[0], limit=10, strategy=strat).collect()
            build_s = time.time() - t0  # first query includes cache/index build
            lat = []
            for q in queries:
                t0 = time.time()
                c.search("text", q, limit=10, strategy=strat).collect()
                lat.append(time.time() - t0)
            rec = {
                "n": n,
                "strategy": strat,
                "ingest_s": round(ingest_s, 2),
                "first_query_s": round(build_s, 2),
                "mean_query_s": round(sum(lat) / len(lat), 4),
                "min_query_s": round(min(lat), 4),
            }
            if strat == "hamming":
                rec["sig_scan_rows_per_s"] = int(n / max(min(lat), 1e-9))
            print(json.dumps(rec), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
