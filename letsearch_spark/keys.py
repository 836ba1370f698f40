"""Dense stable surrogate-key assignment (the ``_key`` column).

Reference semantics (collection_actor.rs:176-188, 204-216):
* on import, add ``_key`` ONLY if the source has no ``_key`` column;
* keys are dense unsigned integers from a sequence;
* appends continue from the existing maximum (the DuckDB sequence keeps
  counting, collection_actor.rs:222-291).

Spark has no sequences, and the naive ``row_number() OVER ()`` forces a
single-partition shuffle -- unusable at 100 TB. Two strategies:

* :func:`add_dense_key` (default): the classic two-job zipWithIndex
  layout expressed purely in DataFrame ops -- per-partition local
  row numbers keyed by ``spark_partition_id`` plus a broadcast map of
  cumulative partition offsets. No global shuffle; the per-partition
  window sorts only within a partition (by ``monotonically_increasing_id``,
  which is monotone within a partition). Cost: one tiny count-per-partition
  aggregation + one narrow projection.

* ``order_by=[cols]``: deterministic keys via a global ``row_number``.
  Used when reproducibility across runs matters more than scale (e.g.
  the DuckDB-oracle correctness queries). Documented O(global sort).

Keys are LongType; the reference uses u64 -- a documented semantic
difference, values never exceed i64 in practice (SURVEY.md §1.2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

KEY_COL = "_key"


def add_dense_key(
    df: DataFrame,
    key_col: str = KEY_COL,
    start: int = 1,
    order_by: list[str] | None = None,
    if_absent: bool = True,
) -> DataFrame:
    """Add a dense Long key column starting at ``start``.

    With ``order_by``, keys follow that global order deterministically
    (global sort -- fine for dimension-sized data, avoid on 100 TB facts).
    Without it, keys are dense but their assignment order is whatever the
    partitioning produced (stable within one materialization -- callers
    persist the result, which the collection writer does).
    """
    return add_dense_key_with_count(
        df, key_col=key_col, start=start, order_by=order_by, if_absent=if_absent
    )[0]


def add_dense_key_with_count(
    df: DataFrame,
    key_col: str = KEY_COL,
    start: int = 1,
    order_by: list[str] | None = None,
    if_absent: bool = True,
) -> tuple[DataFrame, int | None]:
    """:func:`add_dense_key` plus the number of rows keyed, for free:
    the zipWithIndex layout already collects per-partition counts, so
    appends can report the batch size without a second pass over the
    table. The count is ``None`` on the paths that never run a counting
    job (pre-existing key, ``order_by``)."""
    if if_absent and key_col in df.columns:
        # reference rule: keep a pre-existing _key untouched
        # (collection_actor.rs:176-188)
        return df, None

    if order_by:
        w = Window.orderBy(*[F.col(c) for c in order_by])
        out = df.withColumn(
            key_col, F.row_number().over(w).cast("long") + F.lit(start - 1)
        )
        return out, None

    pid = F.spark_partition_id()
    mid = F.monotonically_increasing_id()
    tagged = df.withColumn("__pid", pid).withColumn("__mid", mid)

    # tiny: one row per partition; collected + broadcast as a literal map.
    # Sorted driver-side: a global orderBy would add a range-sampling job
    # and a second shuffle to order a handful of rows
    counts = sorted(
        tagged.groupBy("__pid").count().collect(), key=lambda r: r["__pid"]
    )
    if not counts:  # empty input: just type the key column
        return df.withColumn(key_col, F.lit(start).cast("long")), 0
    offsets: dict[int, int] = {}
    acc = start
    for row in counts:
        offsets[row["__pid"]] = acc
        acc += row["count"]

    w = Window.partitionBy("__pid").orderBy("__mid")
    offset_expr = F.create_map(
        *[F.lit(x) for pair in offsets.items() for x in pair]
    )[F.col("__pid")]
    out = (
        tagged.withColumn(
            key_col,
            (F.row_number().over(w).cast("long") - 1) + offset_expr.cast("long"),
        )
        .drop("__pid", "__mid")
    )
    return out, acc - start


def next_key_start(df: DataFrame, key_col: str = KEY_COL) -> int:
    """max(_key) + 1 for append continuation (collection_actor.rs:222-291)."""
    row = df.agg(F.max(F.col(key_col)).alias("m")).collect()[0]
    return int(row["m"] or 0) + 1
