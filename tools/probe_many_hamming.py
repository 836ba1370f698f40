"""Phase-timed probe for the `search_many_hamming` bench stage
(VERDICT r10 #3: 1.4-6.4 s spread across QUIET runs -- find the
variance source before re-basing the gate).

Reproduces the bench stage's exact setup (import + embed + the
bench's 2-query hybrid-path warmup convention is NOT replayed; the
stage itself warms nothing hamming-specific in bench.py), then times
the full stage N times in-process AND splits one call into phases:

  embed      driver-side stub embedding of the 100 query strings
  index      build_hamming_index (first call only; cached after)
  plan       building the search_many DataFrame (analysis, no jobs)
  cand       hamming_knn_join candidates count (signature scan+window)
  full       the complete stage action (.count())

Prints ONE JSON line. Run several times across processes to see the
cross-process spread the builder's closing runs showed.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
REPS = int(os.environ.get("PROBE_REPS", "6"))


def main() -> None:
    from letsearch_spark.collection import Collection
    from letsearch_spark.session import get_spark

    spark = get_spark(
        "probe-many-hamming",
        master=f"local[{CPUS}]",
        shuffle_partitions=int(CPUS),
    )
    spark.sparkContext.setLogLevel("ERROR")

    root = tempfile.mkdtemp(prefix="ls_probe_")
    coll = Collection.create(
        spark, root, name="probe", index_columns=["text"],
        model_name="stub://16",
    )
    coll.import_parquet(os.path.join(SF_DIR, "documents.parquet"))
    coll.embed_column("text")
    many_qs = [f"spark join query window batch {i}" for i in range(100)]

    out: dict = {"pid": os.getpid()}

    t0 = time.time()
    vecs = coll._embedder().embed(list(many_qs))
    out["embed"] = round(time.time() - t0, 3)

    t0 = time.time()
    coll.build_hamming_index("text")
    out["index_build"] = round(time.time() - t0, 3)
    idx = coll._hamming_view("text")
    out["index_partitions"] = idx.rdd.getNumPartitions()
    out["index_rows"] = idx.count()

    # phase: candidates only
    from letsearch_spark.operators.hamming import hamming_knn_join

    cand_times = []
    for _ in range(3):
        q_rows = coll._centered_query_rows("text", vecs)
        t0 = time.time()
        cand = hamming_knn_join(
            idx, q_rows, rescore=max(coll.hamming_rescore, 10),
            key_col="_key", query_key_col="query_idx",
            query_vec_col="qvec",
        )
        built = time.time() - t0
        t0 = time.time()
        n = cand.count()
        cand_times.append(
            {"build": round(built, 3), "count": round(time.time() - t0, 3)}
        )
    out["cand_phase"] = cand_times
    out["cand_rows"] = n

    # full stage, bench-identical action, N repeats
    full = []
    for _ in range(REPS):
        t0 = time.time()
        coll.search_many("text", many_qs, limit=10, strategy="hamming").count()
        full.append(round(time.time() - t0, 3))
    out["full"] = full

    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
