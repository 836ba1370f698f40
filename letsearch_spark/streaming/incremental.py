"""Structured Streaming: incremental collection maintenance + windowed
event rollups.

The reference is batch-only; its closest analogs are the append path
(S3/S4, collection_actor.rs:222-291) and incremental indexing (K5,
collection_actor.rs:808-826). Here both become streaming-native
(SURVEY.md §2.7 streaming note):

* :func:`stream_append_collection` -- a file-source stream feeding a
  Collection through ``foreachBatch``: each micro-batch appends rows
  with continued dense keys and embeds ONLY the new rows (the anti-join
  K5 semantics). Exactly-once per batch via the checkpoint dir; the
  final state equals a single bulk ingest (tested).
* :func:`windowed_event_counts` -- tumbling-window counts with
  watermarked late-data handling over an events stream; the batch twin
  is the hour tier of queries.py q_events_time_rollup, so correctness is checkable without a
  streaming oracle.

At scale: file sources list incrementally (maxFilesPerTrigger bounds
batch size); state for the windowed agg is bounded by the watermark.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def ensure_event_time(df, ts_col: str):
    """Return (df, was_ntz): watermarks require TIMESTAMP (with local
    timezone); parquet written with naive timestamps is read back as
    TIMESTAMP_NTZ, which Spark rejects as an event-time column. Cast to
    TIMESTAMP for the watermark -- a wall-clock identity under the
    engine's pinned UTC session timezone (session.py) -- and let callers
    cast window bounds back so batch twins and oracles keep comparing
    like-typed values."""
    was_ntz = dict(df.dtypes).get(ts_col) == "timestamp_ntz"
    if was_ntz:
        df = df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return df, was_ntz


def stream_append_collection(
    spark,
    coll,
    source_dir: str,
    schema,
    checkpoint_dir: str,
    max_files_per_trigger: int = 10,
    embed: bool = True,
    refresh_index: str | None = None,
    source_format: str = "parquet",
):
    """Stream files from ``source_dir`` into ``coll``.

    Returns the StreamingQuery; caller awaits/stops it. Each micro-batch
    runs the batch append path (key continuation) and the incremental
    embed (left-anti join), i.e. the reference's add-docs verb (A6)
    runs continuously.

    ``refresh_index`` validates UP FRONT (the prep path's grammar),
    not on the first non-empty micro-batch.

    ``source_format='wet'`` (r8): the directory holds Common Crawl
    WARC/WET segments instead of parquet -- a streaming binaryFile scan
    feeds the same Arrow-pass record parser batch ingest uses
    (sources/warc.py), so a crawl drop-box streams straight into a
    collection with exactly-once file semantics (Structured Streaming's
    file-source ledger); ``schema`` is ignored (records parse to the
    fixed WET layout, the text lands in the collection's first index
    column)."""
    _validate_refresh_index(refresh_index)
    stream = _file_stream(
        spark,
        source_dir,
        schema,
        max_files_per_trigger,
        source_format,
        text_col=coll.config.index_columns[0],
    )

    def process_batch(batch_df, batch_id: int):
        # pin the micro-batch: isEmpty + the append's key-offset job +
        # the write are three actions, and a re-planned source could
        # redistribute rows between them (positional key assignment is
        # only stable within one materialization)
        batch_df = batch_df.persist()
        try:
            if batch_df.isEmpty():
                return
            coll._append_df(batch_df)
            if embed:
                for col in coll.config.index_columns:
                    coll.embed_column(col, incremental=True)
                    _maybe_refresh_index(coll, col, refresh_index)
        finally:
            batch_df.unpersist()

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _file_stream(
    spark,
    source_dir: str,
    schema,
    max_files_per_trigger: int,
    source_format: str,
    text_col: str,
):
    """Streaming file source shared by stream_append_collection and
    stream_prep_collection: 'parquet' (schema required), 'wet' (r8 --
    a streaming binaryFile scan through the shared WARC record parser;
    ``schema`` ignored, the record text lands in ``text_col``), or
    'warc' (r9 -- the raw-crawl sibling: ``response`` records' HTTP
    payloads through the scan-only html_to_text chain, the
    import_warc composition on a stream)."""
    if source_format not in ("parquet", "wet", "warc"):
        raise ValueError(
            f"source_format must be 'parquet', 'wet' or 'warc', got "
            f"{source_format!r}"
        )
    if source_format in ("wet", "warc"):
        from letsearch_spark.sources.warc import WET_SCHEMA, _wet_map_gen

        files = (
            spark.readStream.format("binaryFile")
            # the binaryFile source's FIXED schema (streaming sources
            # require it explicitly)
            .schema(
                "path string, modificationTime timestamp, "
                "length long, content binary"
            )
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .load(source_dir)
            .select("path", "content")
        )
        if source_format == "warc":
            from letsearch_spark.functions.html import html_to_text

            recs = files.mapInPandas(
                _wet_map_gen(record_types=("response",)), WET_SCHEMA
            )
            return recs.select(
                html_to_text(F.col("text")).alias(text_col),
                "target_uri",
                "warc_date",
                "source_path",
            )
        return files.mapInPandas(_wet_map_gen(), WET_SCHEMA).select(
            F.col("text").alias(text_col),
            "target_uri",
            "warc_date",
            "source_path",
        )
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )


def _validate_refresh_index(refresh_index: str | None) -> None:
    """ONE copy of the refresh_index grammar (r10 second-review catch:
    the prep processor and the append path each validated -- or failed
    to -- separately, and 'maxsim_pool:' with an EMPTY group col
    slipped past one of them into an opaque mid-stream
    AnalysisException). Raises ValueError up front; called by both
    streaming entry points AND the dispatcher."""
    if refresh_index in (None, "ivf_pq", "hamming"):
        return
    if (
        isinstance(refresh_index, str)
        and refresh_index.startswith("maxsim_pool:")
        and refresh_index.split(":", 1)[1]
    ):
        return
    raise ValueError(
        "refresh_index must be None, 'ivf_pq', 'hamming' or "
        f"'maxsim_pool:<group_col>', got {refresh_index!r}"
    )


def _maybe_refresh_index(coll, col: str, refresh_index: str | None) -> None:
    """Keep a serving index fresh at BATCH cost after an incremental
    embed: the refresh paths (collection.py refresh_ivf_pq_index /
    refresh_hamming_index / refresh_maxsim_pool_index) append new keys
    under frozen quantizers/centers (the pooled sidecar re-pools only
    touched groups) and rebuild only past their drift thresholds -- a
    per-batch full rebuild would be quadratic in total ingested data
    (SCALING.md's ivf_append-vs-rebuild probe)."""
    if refresh_index is None:
        return
    if refresh_index == "ivf_pq":
        coll.refresh_ivf_pq_index(col)
    elif refresh_index == "hamming":
        # r10: signature sidecar freshness at batch cost (append
        # computes only the new keys' sign bits under the frozen
        # center)
        coll.refresh_hamming_index(col)
    elif (
        isinstance(refresh_index, str)
        and refresh_index.startswith("maxsim_pool:")
        and refresh_index.split(":", 1)[1]
    ):
        # r10: 'maxsim_pool:<group_col>' tops the grouped-MaxSim
        # pooled-centroid sidecar up per micro-batch (count-diff
        # refresh re-pools only the groups the batch touched)
        coll.refresh_maxsim_pool_index(
            col, refresh_index.split(":", 1)[1]
        )
    else:
        _validate_refresh_index(refresh_index)  # raises with the grammar
        raise AssertionError("unreachable")


def windowed_event_counts(
    events_stream,
    window: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    key_col: str = "event_type",
):
    """Tumbling-window counts + sums with late-data watermark.

    Batch twin: q_events_time_rollup's hour tier (date_trunc == tumbling
    window start for aligned windows), which is oracle-checked."""
    events_stream, was_ntz = ensure_event_time(events_stream, ts_col)
    start = F.col("w.start")
    if was_ntz:
        start = start.cast("timestamp_ntz")
    return (
        events_stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"), F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            start.alias("window_start"),
            key_col,
            "n",
            "sum_value",
        )
    )


def stream_prep_collection(
    spark,
    coll,
    source_dir: str,
    schema,
    checkpoint_dir: str,
    state_dir: str,
    text_col: str = "text",
    html: dict | None = None,
    quality: dict | None = None,
    dedup: dict | None = None,
    max_files_per_trigger: int = 10,
    embed: bool = True,
    refresh_index: str | None = None,
    source_format: str = "parquet",
):
    """Streaming ingest with the prep pipeline's front stages: each
    micro-batch is quality-filtered (functions/text.py gopher_flags),
    near-dup-deduplicated against EVERYTHING previously seen
    (operators/dedup.py incremental_minhash_dedup over a persisted
    signature store), and only then appended + incrementally embedded
    -- `prepare_training_data`'s stages 1+3 running continuously in
    front of the reference's add-docs verb.

    ``state_dir`` holds the dedup memory between micro-batches (and
    restarts): ``bands/`` (the signature store) and ``corpus/`` (every
    PROCESSED document with its provisional id -- kept or dropped,
    because first-seen-wins must verify future candidates against
    dropped docs too; duplicate-of-a-duplicate is not transitive at a
    fixed threshold). Provisional ids continue from the archive's max,
    so they are unique across history; collection keys are assigned
    only to KEPT rows by the normal append path.

    ``html``/``quality``/``dedup``: None disables the stage; a dict
    forwards kwargs (html_to_text + optional max_link_density page
    drop / gopher_flags / incremental_minhash_dedup). The html stage
    runs FIRST, mirroring the batch pipeline's stage 0.

    ``source_format='wet'`` (r8): the drop-box holds Common Crawl
    WARC/WET segments -- the shared streaming parser feeds the same
    prep stages, so crawl segments clean + dedup + embed continuously
    (``schema`` ignored; provenance columns ride along).

    Crash recovery (checkpoint replays the batch; per-batch markers
    under ``state_dir`` make the replay idempotent): ``archived/<id>``
    records the batch's provisional-id range once ``corpus/`` holds it,
    so a replay reuses the pinned rows instead of re-keying (orphan rows
    from an attempt that died mid-archive are inert -- they carry no
    bands, so they are never dedup candidates, and the id range excludes
    them from the batch); ``appended/<id>`` marks the collection append
    done, so a replay skips it; the batch's bands land in their own
    ``bands/batch=<id>/`` partition via an overwrite (idempotent), and
    the candidate store scan partition-prunes the current batch out, so
    a half-written self-partition can never pair a document with itself;
    ``applied/<id>`` (written last) short-circuits the whole batch. The
    collection append itself goes through
    :meth:`Collection.append_staged`: survivors stage into
    ``state_dir/staged/<id>/`` and publish into the docs table as
    idempotent per-file renames with batch-deterministic names, so a
    crash at ANY point -- including between the publish completing and
    the ``appended/<id>`` marker write -- replays to exactly-once
    without a transactional table format. Write order inside a batch
    is load-bearing: corpus first (pins provisional ids via the parquet
    round-trip), staged append + marker next, bands after (a band id
    must always be resolvable in ``corpus/``), applied marker last.

    ``state_dir`` is bound to ``checkpoint_dir``'s lineage (an ``owner``
    marker): batch ids restart per checkpoint, so resuming old prep
    state under a new checkpoint raises instead of silently skipping
    batches whose ids collide with applied markers. State grows with
    batch count (three tiny markers + one bands partition each);
    run :func:`prune_prep_state` periodically to drop markers for
    batches the checkpoint has committed and fold their
    ``bands/batch=N`` partitions into one history partition
    (:func:`fold_band_partitions`), bounding partition-discovery cost
    on object stores.

    At 100 TB-ingest scale each batch costs: one Catalyst scan for the
    quality flags, one signature pass over the batch + a banded join
    against the store (history is never re-shingled wholesale -- cost
    tracks the batch, SCALING.md's incr_minhash probe), and the
    append/embed of survivors.
    """
    stream = _file_stream(
        spark, source_dir, schema, max_files_per_trigger, source_format,
        text_col=text_col,
    )
    process_batch = _make_prep_batch_processor(
        spark, coll, state_dir, text_col, quality, dedup, embed,
        checkpoint_tag=checkpoint_dir, html=html,
        refresh_index=refresh_index,
    )
    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _normalize_owner_tag(path: str) -> str:
    """Canonical form of a checkpoint path for the state_dir ownership
    marker: equivalent spellings across restarts (trailing slash,
    relative vs absolute, ``file:`` URI vs plain path) must compare
    equal, or a legitimate resume wedges on the 'belongs to checkpoint'
    guard. Non-local schemes (hdfs://, s3a://) only lose the trailing
    slash -- their authority/path is already canonical."""
    import os
    import re

    m = re.match(r"^file:(//)?(/.*)$", path)
    if m:
        path = m.group(2)
    if re.match(r"^[A-Za-z][A-Za-z0-9+.-]*://", path):
        return path.rstrip("/")
    return os.path.abspath(path).rstrip("/")


def _hadoop_fs(spark, path: str):
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def _marker_read(spark, path: str) -> str | None:
    """Contents of a marker file, or None if absent (Hadoop FS, so any
    scheme the state_dir lives on works)."""
    fs, jp = _hadoop_fs(spark, path)
    if not fs.exists(jp):
        return None
    stream = fs.open(jp)
    try:
        out = spark._jvm.java.io.ByteArrayOutputStream()
        spark._jvm.org.apache.hadoop.io.IOUtils.copyBytes(
            stream, out, 4096, False
        )
        return out.toString("UTF-8")
    finally:
        stream.close()


def _marker_write(spark, path: str, text: str = "") -> None:
    """Write a marker via temp-then-rename so a crash mid-write leaves
    either no marker (safe: the work regenerates) or a complete one --
    never a truncated file a replay would trip over."""
    fs, jp = _hadoop_fs(spark, path)
    fs.mkdirs(jp.getParent())
    tmp = spark._jvm.org.apache.hadoop.fs.Path(path + "._tmp")
    out = fs.create(tmp, True)
    try:
        if text:
            out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()
    fs.delete(jp, False)
    if not fs.rename(tmp, jp):
        raise IOError(f"marker rename failed: {path}")


def _prior_band_batches(spark, bands_path: str, batch_id: int) -> bool:
    """True if ``bands/`` holds a partition from any OTHER batch.

    Raises on a flat (non-``batch=``-partitioned) layout: silently
    ignoring it would forget all dedup memory, and the next partition
    write would corrupt the directory for every later read."""
    fs, jp = _hadoop_fs(spark, bands_path)
    if not fs.exists(jp):
        return False
    found = False
    for st in fs.listStatus(jp):
        name = st.getPath().getName()
        if name.startswith("batch="):
            if name != f"batch={batch_id}":
                found = True
        elif not name.startswith(("_", ".")):
            raise RuntimeError(
                f"bands state at {bands_path!r} is not batch-partitioned "
                "(legacy or foreign layout); rebuild the prep state "
                "(fresh state_dir + checkpoint_dir) before resuming"
            )
    return found


def fold_band_partitions(spark, state_dir: str, up_to: int) -> int:
    """Fold ``bands/batch=N`` partitions with ``0 <= N < up_to`` (plus
    any previous fold) into ONE history partition, bounding
    partition-discovery cost for long-running ingests (object-store
    listings are per-directory). Returns the number of partitions
    folded away.

    Dedup semantics are preserved by construction: candidates join on
    (band, sig) regardless of which partition a row lives in, and the
    current batch's self-exclusion (``batch != batch_id``) only ever
    targets its own LIVE id -- history partitions carry negative labels
    live batches never use. Crash-safe with no memory-loss window: the
    folded rows are staged OUTSIDE ``bands/``, renamed in under a fresh
    negative label, and only then are the superseded partitions
    deleted -- a crash in between leaves duplicate band rows, which
    only produce already-deduplicated candidate pairs (tested)."""
    import os

    bands = os.path.join(state_dir, "bands")
    fs, jp = _hadoop_fs(spark, bands)
    if not fs.exists(jp):
        return 0
    live, negs = [], []
    for st in fs.listStatus(jp):
        name = st.getPath().getName()
        if not name.startswith("batch="):
            continue
        b = int(name.split("=", 1)[1])
        if b < 0:
            negs.append(b)
        elif b < up_to:
            live.append(b)
    if not live:
        return 0
    new_label = min(negs) - 1 if negs else -1
    store = spark.read.parquet(bands)
    folded = store.where(F.col("batch") < up_to).drop("batch")
    staging = os.path.join(state_dir, "bands.fold")
    _fs_rm(spark, staging)
    folded.write.parquet(staging)
    dest = os.path.join(bands, f"batch={new_label}")
    fs_b, jdest = _hadoop_fs(spark, dest)
    if not fs_b.rename(
        spark._jvm.org.apache.hadoop.fs.Path(staging), jdest
    ):
        raise IOError(f"band fold rename failed: {staging} -> {dest}")
    for b in negs + live:
        _fs_rm(spark, os.path.join(bands, f"batch={b}"))
    return len(live) + len(negs)


def prune_prep_state(
    spark, state_dir: str, committed_up_to: int, fold: bool = True
) -> dict:
    """Housekeeping for :func:`stream_prep_collection` state: drop the
    dead per-batch artifacts of batches the CHECKPOINT has already
    committed (ids ``< committed_up_to`` -- Structured Streaming never
    replays a committed batch): the ``applied``/``appended``/
    ``archived`` markers and leftover ``staged/<id>`` dirs. The
    ``corpus/`` archive and the band store are dedup MEMORY and are
    never pruned -- with ``fold`` (default) the pruned batches' band
    partitions are first folded into one history partition
    (:func:`fold_band_partitions`), which additionally makes even an
    out-of-contract replay of a pruned batch converge ON THE DOCS
    TABLE: its rows dedup against their own archived selves
    (self-exclusion no longer hides them once folded) instead of
    double-appending. The archive itself does NOT stay minimal under
    such a replay -- with the ``archived`` marker pruned, the replay
    re-keys the batch and appends a second copy of its rows to
    ``corpus/``/``bands/`` (store growth only: first-seen-wins keeps
    picking the ORIGINAL lower-id copy, so dedup decisions are
    unchanged). A replay of a batch the checkpoint committed is
    outside Structured Streaming's contract in the first place; prune
    only ids the checkpoint has durably passed. Returns counts:
    ``{"markers": n, "staged": n, "folded": n}``."""
    import os

    if committed_up_to < 0:
        raise ValueError(
            f"committed_up_to must be >= 0, got {committed_up_to}"
        )
    folded = (
        fold_band_partitions(spark, state_dir, committed_up_to)
        if fold
        else 0
    )
    markers = staged = 0
    for kind in ("applied", "appended", "archived"):
        d = os.path.join(state_dir, kind)
        fs, jp = _hadoop_fs(spark, d)
        if not fs.exists(jp):
            continue
        for st in fs.listStatus(jp):
            name = st.getPath().getName()
            try:
                bid = int(name)
            except ValueError:
                continue
            if bid < committed_up_to:
                fs.delete(st.getPath(), False)
                markers += 1
    sd = os.path.join(state_dir, "staged")
    fs, jp = _hadoop_fs(spark, sd)
    if fs.exists(jp):
        for st in fs.listStatus(jp):
            name = st.getPath().getName()
            try:
                bid = int(name)
            except ValueError:
                continue
            if bid < committed_up_to:
                fs.delete(st.getPath(), True)
                staged += 1
    return {"markers": markers, "staged": staged, "folded": folded}


def _fs_rm(spark, path: str) -> None:
    """Recursive delete via the Hadoop FS (no-op when absent)."""
    fs, jp = _hadoop_fs(spark, path)
    if fs.exists(jp):
        fs.delete(jp, True)


def _make_prep_batch_processor(
    spark, coll, state_dir, text_col, quality, dedup, embed,
    checkpoint_tag: str | None = None,
    html: dict | None = None,
    refresh_index: str | None = None,
):
    """The foreachBatch body of :func:`stream_prep_collection`, built
    standalone so tests can drive (and replay) batches directly.

    ``checkpoint_tag`` binds the state_dir to one checkpoint lineage:
    batch ids (the marker keys) only mean anything relative to the
    checkpoint that assigned them, so reusing prep state under a
    DIFFERENT checkpoint must fail loudly instead of silently skipping
    new batches whose ids collide with applied markers."""
    import os

    from letsearch_spark.keys import add_dense_key
    from letsearch_spark.operators.dedup import incremental_minhash_dedup

    bands_path = os.path.join(state_dir, "bands")
    corpus_path = os.path.join(state_dir, "corpus")

    _validate_refresh_index(refresh_index)

    def process_batch(batch_df, batch_id: int):
        if checkpoint_tag is not None:
            tag = _normalize_owner_tag(checkpoint_tag)
            owner_marker = os.path.join(state_dir, "owner")
            owner = _marker_read(spark, owner_marker)
            if owner is None or not owner:
                _marker_write(spark, owner_marker, tag)
            # normalize the stored side too: markers written before the
            # normalization (or by a caller spelling the path differently)
            # must not wedge a legitimate resume
            elif _normalize_owner_tag(owner) != tag:
                raise RuntimeError(
                    f"prep state at {state_dir!r} belongs to checkpoint "
                    f"{owner!r}, not {checkpoint_tag!r}: batch ids restart "
                    "per checkpoint, so reusing the state would replay "
                    "stale markers against different batches (silent data "
                    "loss). Use a fresh state_dir with the new checkpoint."
                )
        applied_marker = os.path.join(state_dir, "applied", str(batch_id))
        appended_marker = os.path.join(state_dir, "appended", str(batch_id))
        archived_marker = os.path.join(state_dir, "archived", str(batch_id))
        if _marker_read(spark, applied_marker) is not None:
            return  # checkpoint replay of a fully applied batch
        cur = batch_df
        if html is not None:
            # batch pipeline's stage 0 (pipeline.py): extract page text
            # before judging quality; link farms drop pre-extraction.
            # Pure map-side -- no dedup-state or marker implications.
            from letsearch_spark.functions.html import (
                html_link_density,
                html_to_text,
            )

            h = dict(html)
            max_ld = h.pop("max_link_density", None)
            if h:
                raise ValueError(
                    f"unknown html options: {sorted(h)} "
                    "(supported: max_link_density)"
                )
            if max_ld is not None:
                ld = html_link_density(F.col(text_col))
                cur = cur.where(ld.isNull() | (ld <= float(max_ld)))
            cur = cur.withColumn(text_col, html_to_text(F.col(text_col)))
            cur = cur.where(F.length(F.col(text_col)) > 0)
        if quality is not None:
            from letsearch_spark.functions.text import gopher_flags

            cur = cur.where(gopher_flags(F.col(text_col), **quality)["passes"])
        res = None
        if dedup is not None:
            archived = _marker_read(spark, archived_marker)
            start = n = None
            if archived:
                try:
                    # replay of a batch whose corpus rows are pinned:
                    # reuse the recorded id range -- re-keying would
                    # collide with rows the range already covers
                    start, n = (int(v) for v in archived.split())
                except ValueError:
                    # truncated by a crash mid-write: fall through to
                    # re-keying -- rows from the partial attempt are
                    # inert (no bands) and outside the fresh id range
                    start = n = None
            if start is None:
                # pin the survivors BEFORE key assignment: the keying
                # write runs two jobs (per-partition counts, then the
                # write) and a re-planned source could redistribute rows
                # between them, scrambling positional ids
                cur = cur.persist()
                n = cur.count()
                start = 1
                if coll._fs_nonempty(corpus_path):
                    start = int(
                        spark.read.parquet(corpus_path)
                        .agg(F.max("__prep_id"))
                        .first()[0]
                        or 0
                    ) + 1
                if n:
                    add_dense_key(
                        cur, "__prep_id", start=start, if_absent=False
                    ).write.mode("append").parquet(corpus_path)
                cur.unpersist()
                _marker_write(spark, archived_marker, f"{start} {n}")
            if n:
                archive = spark.read.parquet(corpus_path)
                keyed = archive.where(
                    (F.col("__prep_id") >= start)
                    & (F.col("__prep_id") < start + n)
                )
                store = hist = None
                if _prior_band_batches(spark, bands_path, batch_id):
                    # partition-prune this batch's own (possibly half-
                    # written) bands out of the candidate store
                    store = (
                        spark.read.parquet(bands_path)
                        .where(F.col("batch") != batch_id)
                        .drop("batch")
                    )
                    hist = archive.where(F.col("__prep_id") < start)
                res = incremental_minhash_dedup(
                    keyed, store, hist, "__prep_id", text_col, **dedup
                )
                kept_ids = res["keep"].where("keep").select("__prep_id")
                cur = keyed.join(kept_ids, "__prep_id").drop("__prep_id")
            else:
                cur = cur.limit(0)
        staged_dir = os.path.join(state_dir, "staged", str(batch_id))
        if _marker_read(spark, appended_marker) is None:
            # pin the survivors once: isEmpty + the append's key-offset
            # job + the write would otherwise re-execute the banded join
            # and exact-Jaccard verify three times
            cur = cur.persist()
            try:
                if not cur.isEmpty():
                    # staged publish: idempotent renames close the crash
                    # window between append and marker -- a replay after
                    # a crash at ANY point converges with no double rows
                    coll.append_staged(
                        cur, staged_dir, tag=f"prep-{batch_id}"
                    )
                # marker only after the append succeeded -- writing it on
                # failure would make the replay skip the rows entirely
                _marker_write(spark, appended_marker)
            finally:
                cur.unpersist()
        # the staging dir is dead weight once the marker is durable
        coll._fs_delete(staged_dir)
        if res is not None:
            # per-batch partition + overwrite = idempotent under replay
            res["bands"].write.mode("overwrite").parquet(
                os.path.join(bands_path, f"batch={batch_id}")
            )
            res["release"]()
        if embed and coll._docs_exist():
            for col in coll.config.index_columns:
                coll.embed_column(col, incremental=True)
                _maybe_refresh_index(coll, col, refresh_index)
        _marker_write(spark, applied_marker)

    return process_batch
