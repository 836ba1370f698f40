"""Custom stateful streaming: gap-based session windows via
applyInPandasWithState.

The batch twin is the SQL oracle of queries.py q_stream_sessionize
(lag + cumsum over a window); this is the streaming-native version with
explicit per-key state -- the pattern for operators Structured
Streaming's built-in windowed aggs can't express (session gaps,
per-entity accumulators, online dedup state).

State per user: the open session's (start, last_ts, n_events). On each
micro-batch the user's new events (sorted by ts) either extend the open
session (gap <= threshold) or close it (emit) and start a new one.
Event-time timeout closes idle sessions when the watermark passes
last_ts + gap, so state is bounded by the number of *active* users --
the property that keeps this runnable against an unbounded stream.

Emitted rows: (user_id, session_start, session_end, n_events) for
CLOSED sessions only; the final open session per user stays in state
(the oracle keeps it out too, unless its event-time timeout fired).
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, n_events long"
)
STATE_SCHEMA = "start long, last long, n long"  # epoch micros


def _sessionize_group(
    key, pdfs: Iterable[pd.DataFrame], state: GroupState, gap_seconds: int
):
    closed: list[tuple] = []

    if state.hasTimedOut:
        if state.exists:
            start, last, n = state.get
            closed.append((key[0], start, last, n))
            state.remove()
    else:
        events = pd.concat(list(pdfs))
        ts = events["ts"].sort_values()
        micros = (ts.astype("int64") // 1000).astype("int64")  # ns -> us

        if state.exists:
            start, last, n = state.get
        else:
            start = last = n = None

        gap_us = gap_seconds * 1_000_000
        for t in micros:
            t = int(t)
            if start is None:
                start, last, n = t, t, 1
            elif t - last <= gap_us:
                last, n = max(last, t), n + 1
            else:
                closed.append((key[0], start, last, n))
                start, last, n = t, t, 1
        state.update((start, last, n))
        # close the open session once the watermark passes last + gap
        state.setTimeoutTimestamp(last // 1000 + gap_seconds * 1000)

    if closed:
        yield pd.DataFrame(
            {
                "user_id": [c[0] for c in closed],
                "session_start": pd.to_datetime([c[1] for c in closed], unit="us"),
                "session_end": pd.to_datetime([c[2] for c in closed], unit="us"),
                "n_events": [c[3] for c in closed],
            }
        )


def session_windows(
    events_stream,
    gap_seconds: int = 1800,
    watermark: str = "2 hours",
    ts_col: str = "ts",
    key_col: str = "user_id",
):
    """Gap-based session windows over a stream of (user_id, ts, ...)."""

    def fn(key, pdfs, state):
        return _sessionize_group(key, pdfs, state, gap_seconds)

    from letsearch_spark.streaming.incremental import ensure_event_time

    events_stream, was_ntz = ensure_event_time(events_stream, ts_col)
    out = (
        events_stream.withWatermark(ts_col, watermark)
        .select(key_col, ts_col)
        .groupBy(key_col)
        .applyInPandasWithState(
            fn,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
    if was_ntz:
        out = out.select(
            "user_id",
            F.col("session_start").cast("timestamp_ntz").alias("session_start"),
            F.col("session_end").cast("timestamp_ntz").alias("session_end"),
            "n_events",
        )
    return out


# ---------------- online dedup state ----------------

DEDUP_OUTPUT_SCHEMA = "h long, doc_key long, first_seen boolean"
DEDUP_STATE_SCHEMA = "seen long"


def _dedup_group(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
    """State per content hash: whether it has been emitted before. The
    first arrival (lowest key within the micro-batch, for determinism)
    passes; later arrivals in this or any later batch are flagged as
    duplicates."""
    if state.hasTimedOut:  # pragma: no cover - no timeout configured
        state.remove()
        return
    rows = pd.concat(list(pdfs)).sort_values("doc_key")
    seen = state.exists
    out_first = []
    for k in rows["doc_key"]:
        out_first.append(not seen)
        seen = True
    state.update((1,))
    yield pd.DataFrame(
        {
            "h": [key[0]] * len(rows),
            "doc_key": rows["doc_key"].to_list(),
            "first_seen": out_first,
        }
    )


def streaming_dedup(docs_stream, key_col: str = "_key", text_col: str = "text"):
    """Online exact dedup over an unbounded document stream: the
    streaming twin of operators/dedup.py ``exact_dedup``.

    Each document's normalized text is hashed to the same 60-bit md5 the
    batch path uses; per-hash state (one long) remembers whether content
    was ever seen, so re-ingested documents are flagged as duplicates
    ACROSS micro-batches -- the property a backfill-then-tail ingest
    pipeline needs and that per-batch ``dropDuplicates`` cannot give
    (Structured Streaming's built-in dropDuplicates state serves the
    same role; this operator exists to expose the verdict as a column --
    ``first_seen`` -- instead of silently dropping rows, and as the
    template for richer dedup state, e.g. per-hash counts or MinHash
    band keys).

    State is bounded by the number of DISTINCT documents, one long each;
    at 100 TB use RocksDB state store and shard by hash (the groupBy
    already partitions state by ``h``). Emits (h, doc_key, first_seen)
    in append mode. For NEAR-duplicate (MinHash) dedup across
    micro-batches, drive operators/dedup.py
    ``incremental_minhash_dedup`` from foreachBatch with a persisted
    signature store instead (test_foreachbatch_incremental_minhash_dedup
    shows the wiring).
    """
    from letsearch_spark.operators.dedup import md5_60, normalize_text
    from pyspark.sql import functions as F

    hashed = docs_stream.select(
        F.col(key_col).alias("doc_key"),
        md5_60(normalize_text(F.col(text_col))).alias("h"),
    )
    return hashed.groupBy("h").applyInPandasWithState(
        _dedup_group,
        outputStructType=DEDUP_OUTPUT_SCHEMA,
        stateStructType=DEDUP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
