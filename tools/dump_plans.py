"""Dump .explain('formatted') for named contract queries to
plans/<tag>/<name>_<suffix>.txt (r10 optimization round deliverable).

Usage: python tools/dump_plans.py --names q1,q2 --suffix before [--tag r10]
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--names", required=True)
    ap.add_argument("--suffix", required=True)
    ap.add_argument("--tag", default="r10")
    ap.add_argument("--sf-dir", default=SF_DIR)
    args = ap.parse_args()

    from letsearch_spark.queries import OFF_WINDOW_QUERIES, QUERIES
    from letsearch_spark.session import get_spark

    spark = get_spark(
        "dump-plans", master=f"local[{CPUS}]", shuffle_partitions=int(CPUS)
    )
    spark.sparkContext.setLogLevel("ERROR")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        args.tag,
    )
    os.makedirs(out_dir, exist_ok=True)

    for name in args.names.split(","):
        name = name.strip()
        q = QUERIES.get(name) or OFF_WINDOW_QUERIES.get(name)
        if q is None:
            print(f"SKIP {name}: not in any registry")
            continue
        df = q(spark, args.sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{args.suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"WROTE {path} ({len(plan)} chars)")

    spark.stop()


if __name__ == "__main__":
    main()
