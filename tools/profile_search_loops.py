"""Per-query fixed-cost attribution for the search_topk* bench loops
(r10 optimization round): for each serving strategy, split one query's
wall time into DataFrame construction (driver-side plan building +
embed) vs execution (collect), then cProfile a 20-query loop to rank
driver-side costs (py4j round-trips, analysis, embed) against executor
time.

Usage: python tools/profile_search_loops.py [--strategies join,hamming,...]
"""

from __future__ import annotations

import argparse
import cProfile
import io
import os
import pstats
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--strategies", default="join,pq,hamming,hybrid"
    )
    ap.add_argument("--n", type=int, default=20)
    ap.add_argument("--profile", action="store_true")
    args = ap.parse_args()

    from letsearch_spark.collection import Collection
    from letsearch_spark.session import get_spark

    spark = get_spark(
        "profile-search", master=f"local[{CPUS}]",
        shuffle_partitions=int(CPUS),
    )
    spark.sparkContext.setLogLevel("ERROR")

    root = tempfile.mkdtemp(prefix="ls_prof_search_")
    coll = Collection.create(
        spark, root, name="bench", index_columns=["text"],
        model_name="stub://16",
    )
    coll.import_parquet(os.path.join(SF_DIR, "documents.parquet"))
    coll.embed_column("text")

    for strategy in args.strategies.split(","):
        strategy = strategy.strip()
        coll.search("text", "warmup", limit=10, strategy=strategy).collect()
        builds, execs = [], []
        for i in range(args.n):
            t0 = time.time()
            df = coll.search(
                "text", f"spark join query window batch {i}", limit=10,
                strategy=strategy,
            )
            t1 = time.time()
            df.collect()
            t2 = time.time()
            builds.append(t1 - t0)
            execs.append(t2 - t1)
        print(
            f"{strategy:10s}: build sum {sum(builds):.3f}s "
            f"(mean {sum(builds)/args.n*1000:.1f}ms)  "
            f"exec sum {sum(execs):.3f}s "
            f"(mean {sum(execs)/args.n*1000:.1f}ms)  "
            f"total {sum(builds)+sum(execs):.3f}s"
        )
        if args.profile:
            pr = cProfile.Profile()
            pr.enable()
            for i in range(args.n):
                coll.search(
                    "text", f"spark join query window batch {i}", limit=10,
                    strategy=strategy,
                ).collect()
            pr.disable()
            s = io.StringIO()
            pstats.Stats(pr, stream=s).sort_stats("cumulative").print_stats(25)
            print(s.getvalue())

    spark.stop()


if __name__ == "__main__":
    main()
