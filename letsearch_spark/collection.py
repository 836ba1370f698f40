"""Collection: the engine's core unit (SURVEY.md §1.1).

Reference layout: ``$LETSEARCH_HOME/collections/<name>/`` holding
``data.db`` (DuckDB table), ``index/<column>/index.bin`` (usearch HNSW)
and ``config.json`` (collection_actor.rs:127-159, collection_utils.rs:47-53).

Spark-first layout (all parquet, all distributed):

    <root>/collections/<name>/
        config.json            -- CollectionConfig (written atomically at
                                  create; fixes the reference's never-written
                                  config gap, SURVEY.md §1.3)
        docs/                  -- the document table, includes dense ``_key``
        embeddings/            -- (_key long, vector array<float>) partitioned
                                  by column_name= (K4 multi-column indexes)

Verbs (reference: src/main.rs:38-190): ``create`` (index), ``import_*``
(S1/S2), ``append_*`` (S3/S4), ``add_chunks`` (S6), ``embed_column`` (E5),
``search`` (K1+K3+P3/P4, API semantics of serve.rs:148-183).

Scale notes per verb are inline; the headline is that the reference's
batch/offset/actor machinery (P1 pagination, E5 embed loop, K2 capacity
management) all collapses into single declarative pipelines.
"""

from __future__ import annotations

import os
import re
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from letsearch_spark.chunker import ChunkerConfig, MarkdownChunker
from letsearch_spark.config import SEARCH_STRATEGIES, CollectionConfig
from letsearch_spark.embedders import Embedder, get_embedder
from letsearch_spark.keys import (
    KEY_COL,
    add_dense_key,
    add_dense_key_with_count,
    next_key_start,
)

_IDENT_RE = re.compile(r"^[A-Za-z0-9_]+$")

# serving-result schemas, parsed once (DDL parsing per query costs ~0.1 s)
_RESULT_SCHEMA = T.StructType(
    [
        T.StructField("key", T.LongType()),
        T.StructField("content", T.StringType()),
        T.StructField("score", T.DoubleType()),
    ]
)
_RERANK_SCHEMA = T.StructType(
    [*_RESULT_SCHEMA.fields, T.StructField("retrieval_score", T.DoubleType())]
)


# append-path type reconciliation: widenings that can never lose a value.
# NullType widens to anything (an all-null JSONL column reads as void).
_LOSSLESS_WIDENINGS: dict[type, tuple[type, ...]] = {
    # byte/short fit float's 24-bit mantissa; every int32 is exact in
    # double. int->float and long->double/float stay forbidden (lossy).
    T.ByteType: (T.ShortType, T.IntegerType, T.LongType, T.FloatType, T.DoubleType),
    T.ShortType: (T.IntegerType, T.LongType, T.FloatType, T.DoubleType),
    T.IntegerType: (T.LongType, T.DoubleType),
    T.FloatType: (T.DoubleType,),
    T.DateType: (T.TimestampType, T.TimestampNTZType),
}


def _require_lossless_append_cast(name: str, src, dst) -> None:
    """Raise unless casting ``src`` -> ``dst`` cannot lose values.

    Equal types and whitelisted widenings pass; anything else (e.g. a
    JSONL batch that read a column as string where the table holds
    long) raises -- non-ANSI Spark would otherwise null out
    unconvertible values silently on the append."""
    if src == dst or isinstance(src, T.NullType):
        return
    if isinstance(dst, tuple(_LOSSLESS_WIDENINGS.get(type(src), ()))):
        return
    raise ValueError(
        f"append column {name!r} has type {src.simpleString()} but the "
        f"table holds {dst.simpleString()}; cast it explicitly before "
        "appending (implicit casts can silently null unconvertible "
        "values)"
    )


def _rows_df(spark: SparkSession, rows, schema: T.StructType) -> DataFrame:
    """Driver-rows -> DataFrame through the Arrow path.

    ``createDataFrame(list_of_tuples)`` builds a pickled local relation
    whose collect() runs a parallelize job (~0.4 s per serving query);
    the pandas route hands the same rows to the JVM as ONE Arrow batch
    and collects back over Arrow (~10x cheaper). Serving paths that
    fuse or rerank driver-side return through here."""
    import pandas as pd

    names = [f.name for f in schema.fields]
    pdf = pd.DataFrame(list(rows), columns=names)
    return spark.createDataFrame(pdf, schema)


def _overlap_scorer(query: str, contents: list[str]) -> list[float]:
    """Default reranker: token-set Jaccard overlap with the query --
    deterministic, dependency-free, and shaped exactly like a real
    cross-encoder scorer (query + candidate texts in, one score per
    candidate out)."""
    from letsearch_spark.operators.bm25 import tokenize_query

    q = set(tokenize_query(query))
    out = []
    for c in contents:
        t = set(tokenize_query(c or ""))
        union = q | t
        out.append(len(q & t) / len(union) if union else 0.0)
    return out


def is_valid_identifier(name: str) -> bool:
    """Identifier-injection guard (reference: collection_actor.rs:21-28)."""
    return bool(_IDENT_RE.match(name))


class Collection:
    def __init__(self, spark: SparkSession, root: str, config: CollectionConfig):
        self.spark = spark
        self.root = root
        self.config = config
        # per-column cached embeddings (the analog of the reference keeping
        # its usearch index in RAM while serving, collection_actor.rs:143-152);
        # invalidated on any write
        self._emb_cache: dict[str, DataFrame] = {}
        # driver-local serving bundles for strategy='local'
        self._local_idx: dict[str, tuple] = {}
        # columns whose embeddings-exist check passed; cleared on writes
        self._embeddings_ok: set[str] = set()
        # driver-RAM ceiling for strategy='local' serving (rows); a
        # 100x-scale collection must use the distributed strategies
        self.local_serve_max_rows: int = 1_000_000
        # ceiling on search_many() batch size: queries embed driver-side
        # and the N x limit hit set is broadcast back for content, so
        # driver + executor footprint grows with N. Corpus-scale query
        # sets belong in operators/topk.knn_join over a query DataFrame.
        self.search_many_max_queries: int = 10_000
        # per-column (PQCodebook, cached codes DataFrame) for
        # strategy='pq'; cleared on writes
        self._pq_index: dict = {}
        # per-column (centroids, PQCodebook) for strategy='ivf_pq'
        # (codes live on disk); cleared on writes
        self._ivf_pq_index: dict = {}
        # per-column cached sign-bit signature view (key, sig) for
        # strategy='hamming' -- 1 bit/dim, ~32x smaller than the float
        # serve view; cleared on writes
        self._hamming_index: dict = {}
        # per-column signature CENTER (the per-dim fixed-point mean the
        # sign bits threshold at); loaded/derived by the refresh paths
        self._hamming_centers: dict[str, list[float]] = {}
        # per-(column, group_col) cached normalized pooled-centroid
        # view for the grouped MaxSim prefilter (r10, VERDICT r9 #1):
        # one slim row per group, backed by the maxsim_pool parquet
        # sidecar; cleared on writes
        self._maxsim_pool: dict = {}
        # per-group_col distinct-group counts behind
        # resolve_maxsim_prefilter's auto tier; cleared on writes
        self._maxsim_group_counts: dict[str, int] = {}
        # candidate depth for the hamming exact-cosine rescore (recall
        # knob: rescore >= corpus rows degenerates to exact search)
        self.hamming_rescore: int = 100
        # extra docs-table columns copied into the serve view so
        # search(where=...) predicates can evaluate on the cached view
        # (pre-filter-then-score; no per-query join). Changing this
        # after a view is built triggers a rebuild on next use.
        self.serve_filter_columns: list[str] = []
        # chunk-group column for search(strategy='maxsim') (r8): rows
        # sharing this column's value are scored as ONE document under
        # the MaxSim rule (must be listed in serve_filter_columns so
        # the serve view carries it). None = every row is its own group
        # -- single-vector docs, multi-vector queries still meaningful
        # via search_multi
        self.maxsim_group_col: str | None = None
        # per-column BM25 corpus stats (n_docs, avgdl) for the cached
        # lexical view (strategy='hybrid'); cleared on writes
        self._lex_stats: dict[str, tuple[int, float]] = {}
        # per-column driver-side term->df map (the idf-literal serving
        # mode: the dict every search engine's serving node keeps in
        # RAM), built LAZILY on the first per-query hybrid search --
        # batch paths (search_many) never pay the collect. None =
        # vocabulary exceeded the ceiling below; per-query hybrid then
        # computes df in-plan instead. Cleared on writes.
        self._lex_dfmap: dict[str, dict[str, int] | None] = {}
        # vocabulary sizes observed at lexical-view build (gates the
        # lazy collect above)
        self._lex_vocab: dict[str, int] = {}
        # vocabulary ceiling for collecting the dfreq table driver-side
        # (a str->int dict costs ~100-150 MB of driver RAM per million
        # terms; a 100 TB web corpus with a billion-term vocabulary
        # stays distributed)
        self.lexical_idf_cache_max_terms: int = 1_000_000
        # strategy='auto' thresholds, from the measured crossovers in
        # SCALING.md: exact cosine beats every approximate path below
        # ~200k rows (ADC's per-query overhead dominates small scans);
        # past the cache ceiling the on-disk IVF-PQ index (codes ~32x
        # smaller, probes partition-pruned) is the shape that still serves
        self.auto_exact_max_rows: int = 200_000
        self.auto_cached_max_rows: int = 5_000_000
        # per-column serve-view row counts backing the auto policy;
        # cleared on writes
        self._col_rows: dict[str, int] = {}
        # tri-state tombstone-existence probe cache (None = re-check the
        # FS on next read); cleared on writes
        self._tomb_flag: bool | None = None
        # deletion-backlog row count backing the broadcast decision
        # below; computed lazily, cleared on writes
        self._tomb_count: int | None = None
        # anti-join hint ceiling: a tombstone set at or below this many
        # keys broadcasts (a ~8 B/key table, cheap everywhere); a larger
        # backlog falls back to a shuffled join -- force-broadcasting an
        # unbounded key set would hit Spark's broadcast ceiling and make
        # the collection unreadable until compact()
        self.tombstone_broadcast_max: int = 5_000_000
        # opt-in auto-compaction: after a tombstone delete, when the
        # deletion backlog exceeds this fraction of the raw docs table,
        # run compact() (physical purge + sidecar clear) automatically.
        # None (default) = never -- compaction timing stays the
        # operator's call; 0.2 is a reasonable production setting (the
        # anti-join read overhead and retained bytes stay bounded)
        self.tombstone_auto_compact_fraction: float | None = None

    # ---- paths ----

    @property
    def home(self) -> str:
        return os.path.join(self.root, "collections", self.config.name)

    @property
    def docs_path(self) -> str:
        return os.path.join(self.home, "docs")

    @property
    def embeddings_path(self) -> str:
        return os.path.join(self.home, "embeddings")

    @property
    def tombstones_path(self) -> str:
        """Deletion-vector sidecar: a (``_key``) parquet of deleted keys.
        ``delete_where(mode='tombstone')`` appends here in O(matches);
        every read surface anti-joins it until :meth:`compact` or
        ``mode='purge'`` physically applies and clears it."""
        return os.path.join(self.home, "tombstones")

    @property
    def config_path(self) -> str:
        return os.path.join(self.home, "config.json")

    # ---- lifecycle ----

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        name: str = "default",
        index_columns: Sequence[str] = ("text",),
        model_name: str = "stub://16",
        model_variant: str = "f32",
    ) -> "Collection":
        if not is_valid_identifier(name):
            raise ValueError(f"invalid collection name: {name!r}")
        for c in index_columns:
            if not is_valid_identifier(c):
                raise ValueError(f"invalid index column: {c!r}")
        cfg = CollectionConfig(
            name=name,
            index_columns=list(index_columns),
            model_name=model_name,
            model_variant=model_variant,
        )
        coll = cls(spark, root, cfg)
        os.makedirs(coll.home, exist_ok=True)
        cfg.save(coll.config_path)
        return coll

    @classmethod
    def load(cls, spark: SparkSession, root: str, name: str) -> "Collection":
        cfg = CollectionConfig.load(
            os.path.join(root, "collections", name, "config.json")
        )
        return cls(spark, root, cfg)

    # ---- document table ----

    def docs(self) -> DataFrame:
        """LIVE docs-table DataFrame: the raw parquet minus any
        tombstoned keys (deletion vectors -- see :meth:`delete_where`).
        The analyzed plan (including the parquet file listing) is
        cached: serving paths reference it per query, and rebuilding it
        each time costs ~80 ms of py4j + analysis round-trips (measured
        in the search_topk_pq A/B). Every write path runs
        ``_invalidate_cache``, which drops this along with the serve
        caches, so appended files (and new tombstones) are never
        missed."""
        df = getattr(self, "_docs_df", None)
        if df is None:
            df = self._docs_raw()
            tomb = self._tombstones_hinted()
            if tomb is not None:
                df = df.join(tomb, KEY_COL, "left_anti")
            self._docs_df = df
        return df

    def _docs_raw(self) -> DataFrame:
        """The physical docs table INCLUDING tombstoned rows. Only for
        machinery that must see dead rows: key continuation (a
        tombstoned key must never be reassigned while its embeddings
        are still on disk) and the physical purge rewrites."""
        return self.spark.read.parquet(self.docs_path)

    def _tombstones(self) -> DataFrame | None:
        """(``_key``) DataFrame of deleted keys, or None when the
        collection has no pending deletions. The existence probe is one
        Hadoop FS call, cached until a write invalidates it."""
        flag = self._tomb_flag
        if flag is None:
            flag = self._fs_nonempty(self.tombstones_path)
            self._tomb_flag = flag
        if not flag:
            return None
        return self.spark.read.parquet(self.tombstones_path).select(KEY_COL)

    def _tombstones_hinted(self) -> DataFrame | None:
        """The tombstone frame with the right join hint for its size:
        broadcast up to ``tombstone_broadcast_max`` keys, plain (shuffle
        join) beyond -- so a huge deletion backlog degrades to slower
        reads instead of a failed broadcast."""
        tomb = self._tombstones()
        if tomb is None:
            return None
        n = self._tomb_count
        if n is None:
            n = tomb.count()
            self._tomb_count = n
        return self._size_hinted(tomb, n)

    def _size_hinted(self, keys: DataFrame, n: int) -> DataFrame:
        """Broadcast a doomed-key frame only when its row count fits the
        same knob the read-path anti-joins use
        (``tombstone_broadcast_max``): a purge or auto-compact whose
        predicate matches a large slice must degrade to a shuffle join,
        not force an unbounded broadcast (VERDICT r7 #3)."""
        return F.broadcast(keys) if n <= self.tombstone_broadcast_max else keys

    def count(self) -> int:
        """Row count (P2). The reference's COUNT('<col>') literal-count quirk
        (collection_actor.rs:380-389) is deliberately NOT reproduced --
        this is COUNT(*) (SURVEY.md §2.2 P2 note)."""
        return self.docs().count()

    def import_df(self, df: DataFrame) -> int:
        """CTAS-equivalent: write df as the docs table, adding ``_key`` only
        if absent (S1/S2 key rule, collection_actor.rs:176-188).

        A full replace invalidates every derived artifact: existing
        embeddings belong to the old documents (their keys would
        otherwise collide with the new dense keys and poison incremental
        embedding and search), so they are removed along with the
        serve-path caches."""
        keyed = add_dense_key(df, KEY_COL, start=1)
        keyed.write.mode("overwrite").parquet(self.docs_path)
        self._invalidate_cache()
        self._fs_delete(self.embeddings_path)
        # stale deletion vectors would hide the NEW corpus's keys, and
        # old index partitions hold the replaced corpus's vectors
        self._fs_delete(self.tombstones_path)
        self._fs_delete(os.path.join(self.home, "ivf_pq"))
        self._fs_delete(os.path.join(self.home, "hamming"))
        return self.count()

    def import_parquet(self, path: str) -> int:
        """S2 (collection_actor.rs:194-220). Local paths and globs are
        read natively; ``hf://datasets/...`` resolves through the cache
        (sources/hf.py)."""
        return self.import_df(self.spark.read.parquet(self._resolve(path)))

    def import_jsonl(self, path: str) -> int:
        """S1 (collection_actor.rs:166-192): schema-on-read JSONL scan."""
        return self.import_df(self.spark.read.json(self._resolve(path)))

    def _read_csv(self, path: str) -> DataFrame:
        """Header + schema-inference CSV scan (an ingest format the
        reference lacks; same key/append semantics as S1/S2)."""
        return (
            self.spark.read.option("header", "true")
            .option("inferSchema", "true")
            .csv(self._resolve(path))
        )

    def import_csv(self, path: str) -> int:
        return self.import_df(self._read_csv(path))

    @staticmethod
    def _resolve(path: str) -> str:
        from letsearch_spark.sources.hf import resolve_data_path

        return resolve_data_path(path)

    def _keyed_batch(self, df: DataFrame) -> tuple[DataFrame, int | None, bool]:
        """Schema-aligned, densely-keyed batch ready to land in the docs
        table: ``(keyed, n, bootstrap)``. ``bootstrap`` means no docs
        table exists yet (the batch's schema becomes the table schema,
        keys start at 1). Shared by :meth:`_append_df` (direct write)
        and :meth:`append_staged` (crash-idempotent staged publish)."""
        if not self._docs_exist():
            # the first batch's schema BECOMES the table schema; a batch
            # missing an index column would mint a docs table that only
            # fails later in embed_column/search with a confusing
            # missing-column error -- refuse loudly now
            missing = [
                c for c in self.config.index_columns if c not in df.columns
            ]
            if missing:
                raise ValueError(
                    f"first batch into empty collection "
                    f"{self.config.name!r} is missing index column(s) "
                    f"{missing}; its schema would become the table schema "
                    "and break embed_column/search later. Include the "
                    "column(s) (even as empty strings) in the first batch."
                )
            keyed, n = add_dense_key_with_count(
                df, KEY_COL, start=1, if_absent=False
            )
            return keyed, n, True
        existing = self.docs()
        cols = [c for c in existing.columns if c != KEY_COL]
        # key continuation scans the RAW table: a tombstoned max key
        # must stay reserved, or the new row would inherit the dead
        # key's tombstone (and its still-on-disk embeddings)
        start = next_key_start(self._docs_raw(), KEY_COL)
        # cast to the EXISTING column types: a bare lit(None) writes a
        # void-typed parquet column that the vectorized reader cannot
        # reconcile with the table's real type on a later scan, and a
        # JSONL batch may read e.g. int where the table holds long.
        # Present columns are only cast along LOSSLESS widenings -- under
        # non-ANSI Spark a mismatched cast (string -> long, say) silently
        # nullifies unconvertible values, so incompatible types stay a
        # loud error the caller resolves with an explicit cast
        for c in cols:
            if c in df.columns:
                _require_lossless_append_cast(
                    c, df.schema[c].dataType, existing.schema[c].dataType
                )
        incoming = df.select(
            *[
                (F.col(c) if c in df.columns else F.lit(None))
                .cast(existing.schema[c].dataType)
                .alias(c)
                for c in cols
            ]
        )
        keyed, n = add_dense_key_with_count(
            incoming, KEY_COL, start=start, if_absent=False
        )
        return keyed.select(existing.columns), n, False

    def _append_df(self, df: DataFrame) -> int:
        """S3/S4 core: column-list alignment minus ``_key`` then insert with
        key continuation (collection_actor.rs:222-291). Returns the number
        of rows APPENDED -- the key assigner already counted the batch, so
        no post-write re-scan of the whole table is needed (at 100 TB that
        re-scan would cost more than the append itself).

        Appending into an EMPTY collection (no docs table yet -- e.g. a
        streaming ingest whose first micro-batch arrives before any bulk
        import) degenerates to the import path: the batch's schema
        becomes the table schema, keys start at 1."""
        keyed, n, bootstrap = self._keyed_batch(df)
        keyed.write.mode("overwrite" if bootstrap else "append").parquet(
            self.docs_path
        )
        # append-only: embeddings (and their indexes) are untouched --
        # the refresh paths can top indexes up incrementally
        self._invalidate_cache(drop_index_meta=False)
        if n is not None:
            return n
        return self.count() if bootstrap else keyed.count()

    def append_staged(self, df: DataFrame, staging_dir: str, tag: str) -> None:
        """Crash-idempotent append for replayed writers (the streaming
        prep path): stage the keyed batch as parquet under
        ``staging_dir``, then publish each staged part file into the
        docs table under a deterministic ``<tag>-<original-name>`` name
        via rename, skipping files whose destination already exists.
        A replay after a crash at ANY point converges with no double
        rows:

        * crash mid-stage: no ``_SUCCESS``, nothing published -- the
          replay rewrites the staging dir and republishes;
        * crash mid-publish: ``_SUCCESS`` present -- the replay reuses
          the staged files AS IS (keys stay pinned; destination names
          derive from the stable staged filenames, never a positional
          index) and renames only the files still missing;
        * crash after the last rename, before the caller's done-marker:
          the replay's publish is a complete no-op.

        This closes the plain-parquet append-vs-marker durability window
        without a transactional table format: publish IS a set of
        idempotent renames. The caller deletes ``staging_dir`` only once
        its own done-marker is durable; ``tag`` must be unique per
        logical batch (the prep path uses the micro-batch id).
        Single-writer, like every other write here."""
        jvm = self.spark._jvm

        def p(x):
            return jvm.org.apache.hadoop.fs.Path(x)

        conf = self.spark._jsc.hadoopConfiguration()
        sfs = p(staging_dir).getFileSystem(conf)
        fs = p(self.docs_path).getFileSystem(conf)
        # publish-by-rename is atomic only WITHIN one filesystem; a
        # staging dir on a different FS than the table would force a
        # non-atomic copy and silently void the replay guarantee above
        if str(sfs.getUri()) != str(fs.getUri()):
            raise ValueError(
                f"staged append {tag!r}: staging_dir {staging_dir!r} is on "
                f"{sfs.getUri()} but the collection lives on "
                f"{fs.getUri()}; stage on the collection's filesystem so "
                "publish renames stay atomic"
            )
        staged_ready = fs.exists(p(os.path.join(staging_dir, "_SUCCESS")))
        if not staged_ready:
            # a complete staging dir is only deleted after the caller's
            # done-marker is durable, and publish only starts from a
            # complete stage -- so incomplete-stage + published files
            # means external tampering; re-keying would double rows
            if fs.exists(p(self.docs_path)) and any(
                st.getPath().getName().startswith(tag + "-")
                for st in fs.listStatus(p(self.docs_path))
            ):
                raise RuntimeError(
                    f"staged append {tag!r}: the docs table already holds "
                    f"published '{tag}-*' files but the staging dir at "
                    f"{staging_dir!r} is incomplete; refusing to re-key "
                    "(state was modified outside the append protocol)"
                )
            keyed, _n, _bootstrap = self._keyed_batch(df)
            keyed.write.mode("overwrite").parquet(staging_dir)
        parts = sorted(
            st.getPath().getName()
            for st in fs.listStatus(p(staging_dir))
            if not st.getPath().getName().startswith(("_", "."))
        )
        fs.mkdirs(p(self.docs_path))
        for name in parts:
            dest = os.path.join(self.docs_path, f"{tag}-{name}")
            if fs.exists(p(dest)):
                continue
            if not fs.rename(p(os.path.join(staging_dir, name)), p(dest)):
                raise RuntimeError(
                    f"staged append {tag!r}: publish rename of {name} failed"
                )
        self._invalidate_cache(drop_index_meta=False)

    def append_parquet(self, path: str) -> int:
        return self._append_df(self.spark.read.parquet(self._resolve(path)))

    def append_jsonl(self, path: str) -> int:
        return self._append_df(self.spark.read.json(self._resolve(path)))

    def append_csv(self, path: str) -> int:
        return self._append_df(self._read_csv(path))

    def export_jsonl(self, path: str) -> int:
        """Write the docs table (keys included) as JSONL shards -- the
        egress twin of import_jsonl, so a cleaned/deduped collection
        round-trips back into any JSONL consumer. One file per
        partition; returns the row count."""
        docs = self.docs()
        docs.write.mode("overwrite").json(path)
        return docs.count()

    def compact(self, rows_per_file: int = 1_000_000) -> dict[str, int]:
        """Rewrite the docs and embeddings tables into size-targeted,
        key-sorted parquet files.

        Every append writes its own files, so an append-heavy collection
        accumulates tiny files -- the classic small-file problem: at
        scale the scan's task count (and the NameNode/listing cost) is
        driven by file count, not data volume. Compaction restores
        ``ceil(rows / rows_per_file)`` files, range-partitioned and
        sorted by ``_key`` (so key-range lookups prune row groups via
        parquet min/max stats); embeddings keep their ``column_name``
        partitioning (K4 pruning preserved).

        Rewrites stage into a sibling ``.compact`` directory and then
        swap -- same single-writer contract as appends (no concurrent
        readers during the swap). Caches are invalidated. Returns the
        file count per table after compaction.

        Compaction also APPLIES pending deletion vectors (see
        :meth:`delete_where`): tombstoned rows are dropped from the
        rewritten docs/embeddings tables, anti-joined out of any
        on-disk index partitions, and the tombstone sidecar is cleared
        -- this is the point where a tombstone delete becomes physical.
        """
        out: dict[str, int] = {}
        tomb = self._tombstones()
        if tomb is not None:
            # pin the doomed keys: their source file is deleted below.
            # size the join hint like the read paths do -- auto-compact
            # fires precisely when the backlog is LARGE
            tomb = tomb.localCheckpoint()
            tomb = self._size_hinted(tomb, tomb.count())
        docs = self.docs()  # live view: tombstones already excluded
        n = docs.count()
        p = max(1, -(-n // rows_per_file))
        staged = self.docs_path + ".compact"
        (
            docs.repartitionByRange(p, F.col(KEY_COL))
            .sortWithinPartitions(KEY_COL)
            .write.mode("overwrite")
            .parquet(staged)
        )
        self._fs_replace(staged, self.docs_path)
        out["docs_files"] = self._fs_count_files(self.docs_path)

        if self._has_embeddings():
            emb = self.spark.read.parquet(self.embeddings_path)
            if tomb is not None:
                emb = emb.join(tomb, KEY_COL, "left_anti")
            m = emb.count()
            ep = max(1, -(-m // rows_per_file))
            staged = self.embeddings_path + ".compact"
            (
                emb.repartitionByRange(ep, F.col("column_name"), F.col(KEY_COL))
                .sortWithinPartitions(KEY_COL)
                .write.mode("overwrite")
                .partitionBy("column_name")
                .parquet(staged)
            )
            self._fs_replace(staged, self.embeddings_path)
            out["embeddings_files"] = self._fs_count_files(self.embeddings_path)

        if tomb is not None:
            # physical purge of the deletion backlog: index partitions
            # lose the doomed keys (quantizers kept), sidecar cleared
            self._purge_keys_from_indexes(tomb)
            self._fs_delete(self.tombstones_path)
        # identical rows in fewer files: indexes stay valid, refresh
        # will report 'current'
        self._invalidate_cache(drop_index_meta=False)
        return out

    def delete_where(self, predicate: str, mode: str = "tombstone") -> int:
        """Delete every document matching the Spark-SQL ``predicate``
        plus its embeddings for every indexed column (the GDPR /
        right-to-be-forgotten surface). Returns documents removed.
        Survivor keys are NOT reassigned -- the dense-key space keeps
        its gaps so nothing downstream re-keys -- and a tombstoned key
        is never reused by a later append.

        mode='tombstone' (default): write the matching keys to a
        deletion-vector sidecar (``tombstones_path``) -- an O(matches)
        write, NOT a rewrite of the corpus. Every read surface
        (:meth:`docs`, :meth:`embeddings`, the serve views, the on-disk
        IVF-PQ probes) anti-joins the tombstones, so deleted rows
        are immediately unreachable; ANN indexes stay valid and are NOT
        rebuilt (probes filter instead -- the index refresh machinery
        treats tombstoned index keys as live-enough). The bytes persist
        on disk until the next :meth:`compact` (which applies and
        clears the tombstones) or a ``mode='purge'`` call -- the
        deletion-vector design (Delta/Iceberg shape): at 100 TB a
        single delete request must not rewrite the corpus.

        mode='purge': immediate physical removal -- a staged rewrite of
        the docs and embeddings tables minus the matching rows AND any
        previously tombstoned rows, published through the same
        crash-safe rename-aside swap as :meth:`compact`; on-disk
        IVF-PQ and hamming index files are rewritten with the doomed keys
        anti-joined out (no deleted vector is retained anywhere), while
        the quantizer sidecars survive so the index stays current --
        no forced rebuild. Batch purge deletions into one call.
        """
        if mode not in ("tombstone", "purge"):
            raise ValueError(f"mode must be tombstone|purge, got {mode!r}")
        docs = self.docs()  # live view: already-tombstoned rows can't re-match
        pred = F.expr(predicate)
        doomed = docs.where(pred).select(KEY_COL)
        n_del = doomed.count()
        prior = self._tombstones()
        if n_del == 0 and (mode == "tombstone" or prior is None):
            return 0

        if mode == "tombstone":
            doomed.write.mode("append").parquet(self.tombstones_path)
            # serve caches rebuild against the shrunken live view; the
            # index quantizers stay (probes tombstone-filter instead)
            self._invalidate_cache(drop_index_meta=False)
            frac = self.tombstone_auto_compact_fraction
            if frac is not None:
                n_tomb = self.spark.read.parquet(
                    self.tombstones_path
                ).count()
                n_raw = self._docs_raw().count()
                if n_raw > 0 and n_tomb / n_raw > frac:
                    # backlog past the knob: apply the deletion vectors
                    # physically now (the two counts are key-column
                    # scans, paid only when the knob is set)
                    self.compact()
            return n_del

        # ---- purge: fold the backlog in and rewrite physically ----
        all_doomed = doomed if prior is None else doomed.unionByName(prior)
        all_doomed = all_doomed.localCheckpoint()  # pin: sources are swapped below
        # a predicate like lang='en' can doom a huge slice: size the
        # hint the way the read paths do instead of force-broadcasting
        all_doomed = self._size_hinted(all_doomed, all_doomed.count())
        remaining = self._docs_raw().join(all_doomed, KEY_COL, "left_anti")
        staged = self.docs_path + ".delete"
        remaining.write.mode("overwrite").parquet(staged)
        if self._has_embeddings():
            emb = self.spark.read.parquet(self.embeddings_path)
            kept = emb.join(all_doomed, KEY_COL, "left_anti")
            estaged = self.embeddings_path + ".delete"
            (
                kept.write.mode("overwrite")
                .partitionBy("column_name")
                .parquet(estaged)
            )
            # docs first: a crash between the two swaps leaves orphan
            # embeddings (harmless -- serving joins back to docs), never
            # documents whose vectors were already purged
            self._fs_replace(staged, self.docs_path)
            self._fs_replace(estaged, self.embeddings_path)
        else:
            self._fs_replace(staged, self.docs_path)
        # deleted vectors must not be retained INSIDE index partitions
        # either (ADVICE r6) -- rewrite them, keeping the quantizers
        self._purge_keys_from_indexes(all_doomed)
        self._fs_delete(self.tombstones_path)
        self._invalidate_cache(drop_index_meta=False)
        return n_del

    def _purge_keys_from_indexes(self, doomed: DataFrame) -> None:
        """Rewrite every on-disk index (IVF-PQ, hamming signatures)
        with ``doomed`` keys anti-joined out, preserving the quantizer
        sidecar files -- the index stays current (refresh reports no
        drift), no rebuild, and no deleted vector/code/signature is
        retained on disk. Partition layout (``_list=``) is preserved so
        probes keep pruning. Callers pass a frame already size-hinted
        via :meth:`_size_hinted` (broadcast only when it fits)."""
        for column in self.config.index_columns:
            for path, sidecars, part_cols in (
                (
                    self.ivf_pq_path(column),
                    ("_centroids.npy", "_codebook.npz"),
                    ["_list"],
                ),
                (self.hamming_path(column), ("_center.npy",), []),
            ):
                if not self._fs_nonempty(path):
                    continue
                kept = self.spark.read.parquet(path).join(
                    doomed, KEY_COL, "left_anti"
                )
                if kept.limit(1).count() == 0:
                    # a parquet dir with zero data files cannot be read
                    # back; an empty index is the same as no index
                    self._fs_delete(path)
                    continue
                staged = path + ".delete"
                writer = kept.write.mode("overwrite")
                if part_cols:
                    writer = writer.partitionBy(*part_cols)
                writer.parquet(staged)
                for name in sidecars:
                    raw = self._fs_read_bytes(os.path.join(path, name))
                    if raw is not None:
                        self._fs_write_bytes(os.path.join(staged, name), raw)
                self._fs_replace(staged, path)

    def _fs_replace(self, src: str, dest: str) -> None:
        """Swap ``src`` into ``dest``'s place (staged table swap;
        single-writer, like every other write here).

        The live table is renamed ASIDE first, so a crash mid-swap
        leaves either the old table (rename-aside failed) or both the
        old table at ``dest + '.old'`` and the new one staged -- never
        a window with NO table at the canonical path (delete-then-
        rename would)."""
        jvm = self.spark._jvm
        fs = jvm.org.apache.hadoop.fs.Path(dest).getFileSystem(
            self.spark._jsc.hadoopConfiguration()
        )

        def p(x):
            return jvm.org.apache.hadoop.fs.Path(x)

        old = dest + ".old"
        self._fs_delete(old)  # leftover from a previous crashed swap
        had_dest = fs.exists(p(dest))
        if had_dest and not fs.rename(p(dest), p(old)):
            raise RuntimeError(f"rename {dest} -> {old} failed")
        if not fs.rename(p(src), p(dest)):
            # roll the old table back into place before failing
            if had_dest:
                fs.rename(p(old), p(dest))
            raise RuntimeError(f"rename {src} -> {dest} failed")
        self._fs_delete(old)

    def _fs_count_files(self, path: str) -> int:
        """Number of parquet data files under ``path`` (recursive)."""
        jvm = self.spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(self.spark._jsc.hadoopConfiguration())
        it = fs.listFiles(jpath, True)
        count = 0
        while it.hasNext():
            f = it.next()
            if f.getPath().getName().endswith(".parquet"):
                count += 1
        return count

    def add_chunks(self, chunks: Sequence[str], column: str = "text") -> int:
        """S6 (collection_actor.rs:293-365): insert pre-chunked strings as
        rows; creates the table if missing; guards the identifier."""
        if not is_valid_identifier(column):
            raise ValueError(f"invalid column identifier: {column!r}")
        df = self.spark.createDataFrame(
            [(c,) for c in chunks], T.StructType([T.StructField(column, T.StringType())])
        )
        # explicit existence check -- a transient read error must raise,
        # NOT silently replace the whole table via the create path
        if not self._docs_exist():
            return self.import_df(df)
        return self._append_df(df)

    def import_wet(self, path: str, column: str = "text") -> int:
        """Common Crawl WARC/WET ingest (sources/warc.py, r8): every
        conversion record in the segment files under ``path`` becomes a
        row with (target_uri, warc_date, source_path) provenance.
        REPLACE semantics like every other import_* verb (re-running
        `index` must not duplicate the corpus); use :meth:`append_wet`
        to add segments to an existing collection. One segment file =
        one task -- the crawl's natural distribution grain."""
        return self.import_df(self._wet_df(path, column))

    def append_wet(self, path: str, column: str = "text") -> int:
        """Append WARC/WET segments with key continuation (S3/S4
        semantics); creates the table when none exists."""
        df = self._wet_df(path, column)
        if not self._docs_exist():
            return self.import_df(df)
        return self._append_df(df)

    def _wet_df(self, path: str, column: str) -> DataFrame:
        from letsearch_spark.sources.warc import read_wet

        return read_wet(self.spark, path).select(
            F.col("text").alias(column),
            "target_uri",
            "warc_date",
            "source_path",
        )

    def import_warc(
        self, path: str, column: str = "text", url_filter: dict | None = None
    ) -> int:
        """Raw-crawl Common Crawl ingest (r9, VERDICT r8 #4 -- the
        .warc sibling of :meth:`import_wet`): ``response`` records'
        HTTP payloads -> ``html_to_text`` extraction -> rows with
        (target_uri, warc_date, source_path) provenance. The actual
        crawl path; WET covers only the pre-extracted case.

        ``url_filter`` (optional): kwargs for functions/text.py
        ``url_quality_flags`` (blocked_hosts / blocked_patterns /
        max_path_depth / max_host_digit_ratio) evaluated on
        ``target_uri`` BEFORE the HTML regexp chain runs -- the prep
        recipe's stage-0a cheapest-first reject, here at the ingest
        boundary. REPLACE semantics like every import_* verb."""
        return self.import_df(self._warc_df(path, column, url_filter))

    def append_warc(
        self, path: str, column: str = "text", url_filter: dict | None = None
    ) -> int:
        """Append raw WARC segments with key continuation (S3/S4
        semantics); creates the table when none exists."""
        df = self._warc_df(path, column, url_filter)
        if not self._docs_exist():
            return self.import_df(df)
        return self._append_df(df)

    def _warc_df(
        self, path: str, column: str, url_filter: dict | None
    ) -> DataFrame:
        from letsearch_spark.functions.html import html_to_text
        from letsearch_spark.functions.text import url_quality_flags
        from letsearch_spark.sources.warc import read_wet

        df = read_wet(self.spark, path, record_types=("response",))
        if url_filter is not None:
            # filter on the URL alone, before the extraction chain
            df = df.where(
                url_quality_flags(F.col("target_uri"), **url_filter)["passes"]
            )
        return df.select(
            html_to_text(F.col("text")).alias(column),
            "target_uri",
            "warc_date",
            "source_path",
        )

    def import_pdf(
        self,
        path: str,
        column: str = "text",
        chunker_config: ChunkerConfig | None = None,
    ) -> int:
        """S5 (collection_actor.rs:724-754 + pdf.rs): PDF -> markdown ->
        chunks -> rows. Uses the sqrt-sampling text heuristic."""
        from letsearch_spark.sources.pdf import pdf_to_markdown

        markdown = pdf_to_markdown(path)
        chunker = MarkdownChunker(chunker_config or ChunkerConfig())
        chunks = chunker.chunk(markdown) or [markdown]
        return self.add_chunks(chunks, column=column)

    def import_markdown_dir(
        self,
        path: str,
        column: str = "text",
        chunker_config: ChunkerConfig | None = None,
        glob: str = "*.md",
    ) -> int:
        """Distributed markdown/text-directory ingest: every matching
        file read where it lives (binaryFile scan -- works on object
        stores), chunked by the T1 hierarchical chunker
        (chunk_column's pandas-UDF + explode), inserted as rows with a
        ``source_path`` column. The directory analog of S5's
        PDF->markdown->chunks->rows path for corpora that are already
        markdown; at scale the only shuffle is the append's key
        assignment."""
        from letsearch_spark.chunker import chunk_column

        files = (
            self.spark.read.format("binaryFile")
            .option("pathGlobFilter", glob)
            .load(self._resolve(path))
            .select(
                F.col("path").alias("source_path"),
                F.col("content").cast("string").alias("__md"),
            )
        )
        chunked = chunk_column(files, "__md", chunker_config or ChunkerConfig())
        rows = chunked.select(
            "source_path",
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            F.col("chunk").alias(column),
        )
        if self._docs_exist():
            return self._append_df(rows)
        return self.import_df(rows)

    # ---- embedding pipeline (E5, K2, K5) ----

    def _embedder(self) -> Embedder:
        return get_embedder(self.config.model_name, self.config.model_variant)

    def _fs_nonempty(self, path: str) -> bool:
        """True if ``path`` exists and holds at least one non-hidden entry.

        Goes through the Hadoop FileSystem API (resolved from the path's
        scheme), so plain local paths, ``file:`` URIs and object-store
        URIs (s3a/gs/abfs) all behave identically -- os.listdir would
        silently fail anywhere but the local FS."""
        jvm = self.spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(self.spark._jsc.hadoopConfiguration())
        if not fs.exists(jpath):
            return False
        # same hidden-entry rule as Spark's file index: "_"/"." prefixes
        # are metadata (_SUCCESS, ._COPYING_) EXCEPT partition dirs --
        # an underscore-named partition column ("_list=0") is data
        return any(
            "=" in st.getPath().getName()
            or not st.getPath().getName().startswith(("_", "."))
            for st in fs.listStatus(jpath)
        )

    def _fs_delete(self, path: str) -> None:
        """Recursive delete via the Hadoop FS (no-op when absent)."""
        jvm = self.spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(self.spark._jsc.hadoopConfiguration())
        if fs.exists(jpath):
            fs.delete(jpath, True)

    def _fs_write_bytes(self, path: str, data: bytes) -> None:
        """Write small sidecar bytes (index quantizer files) through the
        Hadoop FS, so collection homes on hdfs/s3a/gs work the same as
        local paths -- a bare open()/np.save would only ever hit the
        local disk."""
        jvm = self.spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(self.spark._jsc.hadoopConfiguration())
        out = fs.create(jpath, True)
        try:
            out.write(data)
        finally:
            out.close()

    def _fs_read_bytes(self, path: str) -> bytes | None:
        """Read a sidecar file through the Hadoop FS; None when absent."""
        jvm = self.spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(self.spark._jsc.hadoopConfiguration())
        if not fs.exists(jpath):
            return None
        stream = fs.open(jpath)
        baos = jvm.java.io.ByteArrayOutputStream()
        try:
            jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, baos, 4096, False)
        finally:
            stream.close()
        return bytes(baos.toByteArray())

    def _docs_exist(self) -> bool:
        return self._fs_nonempty(self.docs_path)

    def _has_embeddings(self) -> bool:
        return self._fs_nonempty(self.embeddings_path)

    def _require_embeddings(self, column: str) -> None:
        """Friendly precondition for the search paths: a raw
        PATH_NOT_FOUND from the parquet scan tells the user nothing.

        Checked PER COLUMN by probing the ``column_name=<col>`` partition
        directory (K4 multi-column indexes: embedding only one of two
        index columns must not let a search on the other slip through to
        an empty scan). The positive result is cached per column (and
        cleared on any write that invalidates caches) -- the Hadoop FS
        round-trip costs ~2 ms, which would dominate the driver-local
        serving path's per-query budget."""
        if column in self._embeddings_ok:
            return
        part = os.path.join(self.embeddings_path, f"column_name={column}")
        if not self._fs_nonempty(part):
            raise RuntimeError(
                f"collection {self.config.name!r} has no embeddings for "
                f"column {column!r} yet; run embed_column({column!r}) "
                f"(CLI: index/add-docs) first"
            )
        self._embeddings_ok.add(column)

    def embeddings(self, column: str | None = None) -> DataFrame:
        """LIVE embeddings (tombstoned keys anti-joined out, like
        :meth:`docs`); the physical purge paths read the path raw."""
        df = self.spark.read.parquet(self.embeddings_path)
        if column is not None:
            # partition pruning: column_name is a parquet partition column
            df = df.filter(F.col("column_name") == column)
        tomb = self._tombstones_hinted()
        if tomb is not None:
            df = df.join(tomb, KEY_COL, "left_anti")
        return df

    def embed_column(self, column: str, incremental: bool = True) -> int:
        """E5 as one declarative pipeline (vs the reference's batch loop,
        collection_actor.rs:764-885): select -> mapInPandas(embed) -> write.

        Incremental mode (K5) uses a left-anti join against the existing
        embeddings -- strictly better than the reference's offset-resume
        heuristic (collection_actor.rs:808-826), because it is correct
        under any insertion order.

        Scale: embedding is compute-bound; the anti-join shuffles only the
        (narrow) key column; output is written partitioned by column_name
        so per-column searches prune to one partition tree.

        Storage precision follows ``config.model_variant`` (the analog of
        the reference's usearch ScalarKind mapping,
        collection_actor.rs:793-797): 'f32' stores array<float>;
        'f16'/'i8' store packed binary (functions/quantize.py layout),
        packed inside the same mapInPandas pass -- no second job. The
        serve view dequantizes when it materializes, so search works
        identically (with the variant's quantization error, as in the
        reference).
        """
        if not is_valid_identifier(column):
            raise ValueError(f"invalid column identifier: {column!r}")
        variant = self.config.model_variant
        if variant not in ("f32", "f16", "i8"):
            raise ValueError(f"unknown model_variant {variant!r}")
        docs = self.docs().select(
            F.col(KEY_COL),
            F.coalesce(F.col(column).cast("string"), F.lit("")).alias("__text"),
        )
        if incremental and self._has_embeddings():
            done = self.embeddings(column).select(KEY_COL)
            docs = docs.join(done, KEY_COL, "left_anti")

        embedder = self._embedder()
        out_schema = T.StructType(
            [
                T.StructField(KEY_COL, T.LongType()),
                T.StructField(
                    "vector",
                    T.BinaryType() if variant != "f32" else T.ArrayType(T.FloatType()),
                ),
            ]
        )

        def embed_batches(it):
            import pandas as pd

            from letsearch_spark.functions.quantize import PACK_KERNELS

            emb = embedder  # per-task closure; heavy state built lazily inside
            pack = PACK_KERNELS.get(variant)
            for pdf in it:
                if len(pdf) == 0:
                    continue
                vecs = emb.embed(pdf["__text"].tolist())
                out = [pack(v) for v in vecs] if pack else list(vecs)
                yield pd.DataFrame(
                    {
                        KEY_COL: pdf[KEY_COL].values,
                        "vector": out,
                    }
                )

        result = docs.mapInPandas(embed_batches, schema=out_schema).withColumn(
            "column_name", F.lit(column)
        )
        # incremental -> append new keys; full -> replace ONLY this column's
        # partition (dynamic partition overwrite, so other columns' indexes
        # survive -- the analog of rebuilding one usearch index, K4)
        self.spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        mode = "append" if incremental else "overwrite"
        (
            result.write.mode(mode)
            .partitionBy("column_name")
            .parquet(self.embeddings_path)
        )
        # incremental mode only ADDS keys (anti-join), so the on-disk
        # index quantizers stay valid and refresh appends at batch cost;
        # a full overwrite may re-vector EXISTING keys -> force rebuild
        self._invalidate_cache(column, drop_index_meta=not incremental)
        return self.embeddings(column).count()

    def _invalidate_cache(
        self, column: str | None = None, drop_index_meta: bool = True
    ) -> None:
        """Drop serve-path caches after a write. ``drop_index_meta``
        additionally removes the on-disk ANN quantizer files, forcing a
        full index rebuild on next use -- required when existing keys
        may carry DIFFERENT data (full re-embed / re-import); pass
        False for append-only writes so the refresh paths can top the
        indexes up incrementally instead."""
        # the cached docs plan pins the parquet file listing; any write
        # (import, append, embed bookkeeping) must refresh it
        self._docs_df = None
        self._tomb_flag = None
        self._tomb_count = None
        cols = (
            [
                column,
                f"__docs_{column}",
                f"__serve_{column}",
                f"__rawserve_{column}",
                f"__lex_{column}",
                f"__lexdf_{column}",
            ]
            if column
            else list(self._emb_cache)
        )
        for c in cols:
            df = self._emb_cache.pop(c, None)
            if df is not None:
                try:
                    df.unpersist()
                except Exception:
                    pass
        if column is None:
            self._local_idx.clear()
            self._embeddings_ok.clear()
            self._lex_stats.clear()
            self._col_rows.clear()
            for cb, coded in self._pq_index.values():
                try:
                    coded.unpersist()
                except Exception:
                    pass
            self._pq_index.clear()
            self._ivf_pq_index.clear()
            for sig in self._hamming_index.values():
                try:
                    sig.unpersist()
                except Exception:
                    pass
            self._hamming_index.clear()
            self._hamming_centers.clear()
            for pv in self._maxsim_pool.values():
                try:
                    pv.unpersist()
                except Exception:
                    pass
            self._maxsim_pool.clear()
            self._maxsim_group_counts.clear()
            self._lex_dfmap.clear()
            self._lex_vocab.clear()
            if drop_index_meta:
                for c in self.config.index_columns:
                    self._drop_index_meta(c)
        else:
            self._local_idx.pop(column, None)
            self._local_idx.pop(f"__lex_{column}", None)
            self._embeddings_ok.discard(column)
            self._col_rows.pop(column, None)
            self._lex_stats.pop(column, None)
            self._lex_dfmap.pop(column, None)
            self._lex_vocab.pop(column, None)
            pq = self._pq_index.pop(column, None)
            if pq is not None:
                try:
                    pq[1].unpersist()
                except Exception:
                    pass
            self._ivf_pq_index.pop(column, None)
            sig = self._hamming_index.pop(column, None)
            if sig is not None:
                try:
                    sig.unpersist()
                except Exception:
                    pass
            self._hamming_centers.pop(column, None)
            for k in [k for k in self._maxsim_pool if k[0] == column]:
                pv = self._maxsim_pool.pop(k)
                try:
                    pv.unpersist()
                except Exception:
                    pass
            if drop_index_meta:
                self._drop_index_meta(column)

    def embed_all(self, incremental: bool = True) -> dict[str, int]:
        return {
            c: self.embed_column(c, incremental=incremental)
            for c in self.config.index_columns
        }

    # ---- search (K1/K3 + P3/P4, serve.rs API semantics) ----

    def _column_rows(self, column: str) -> int:
        """Indexed-row count for ``column`` (one partition-pruned count
        on first use, cached until a write invalidates it) -- the size
        signal the auto strategy policy reads."""
        n = self._col_rows.get(column)
        if n is None:
            n = self.embeddings(column).count()
            self._col_rows[column] = n
        return n

    def resolve_strategy(self, column: str) -> str:
        """The ``strategy='auto'`` policy: pick the serving shape from
        the indexed size against the measured SCALING.md crossovers
        (tools/measure_serving_crossover.py, re-measured round 7 after
        the hamming rescore went cache-light).

        * <= ``auto_exact_max_rows`` (default 200k): ``'join'`` --
          exact single-job top-k; every approximate path is SLOWER here
          (PQ's per-query ADC overhead dominates a scan this small --
          the measured footgun this policy exists to prevent);
        * <= ``auto_cached_max_rows`` (default 5M): ``'hamming'`` --
          the sign-bit signature cache (1 bit/dim, 32x smaller than the
          float view) plus an exact cosine rescore of the top
          ``hamming_rescore`` candidates. Measured at 1M rows / dim 64:
          1.11 s/query vs 1.61 s exact, with a one-pass build (~7 s
          at 1M) vs PQ's ~50 s codebook train;
        * above: ``'ivf_pq'`` -- codes-on-disk, partition-pruned
          probes; the hamming scan is O(rows) per query, so past the
          cache ceiling the sublinear index wins (measured 0.72
          s/query at 1M, flat in rows probed).

        Approximate tiers trade recall for latency by design (the
        hamming tier's knob is ``hamming_rescore``: >= rows is provably
        exact); callers needing exact results above the crossover pass
        ``strategy='join'`` explicitly."""
        n = self._column_rows(column)
        if n <= self.auto_exact_max_rows:
            return "join"
        if n <= self.auto_cached_max_rows:
            return "hamming"
        return "ivf_pq"

    # measured grouped-prefilter crossover (SCALING.md r10,
    # tools/measure_maxsim_prefilter.py): below ~10k groups the exact
    # one-pass aggregate beats the per-leg candidate scans on wall
    # clock (the candidate legs are cheap but fixed-cost; the aggregate
    # they displace is small)
    maxsim_auto_prefilter_min_groups: int = 10_000
    # candidate depth the auto tier serves at (the recall knob;
    # prefilter_k >= |groups| is provably exact)
    maxsim_auto_prefilter_k: int = 128

    def resolve_maxsim_prefilter(
        self, column: str, group_col: str | None
    ) -> int | None:
        """The ``prefilter_k='auto'`` policy for MaxSim serving (the
        resolve_strategy precedent): ``None`` (exact) when ungrouped,
        and ``None`` below ``maxsim_auto_prefilter_min_groups``
        distinct groups, where the exact aggregate wins on wall clock
        (SCALING.md r10 crossover table); ``maxsim_auto_prefilter_k``
        above it.

        Ungrouped stays exact BY POLICY, not by measurement: at 5k
        rows the candidate legs were a measured no-win (SCALING.md
        r9), but at 80k rows an explicit prefilter beats the exact
        scan (0.82x with the cosine signal, 0.67x with
        ``prefilter_signal='hamming'`` -- SCALING.md r10). Auto keeps
        the exact default there because switching SIGNALS is a recall
        decision the caller should make explicitly; the grouped tier
        it does switch is candidate-set-only over exact scores. The
        distinct-group count is one map-side-combined aggregate over
        the docs table, cached until the next write."""
        if group_col is None:
            return None
        n = self._maxsim_group_counts.get(group_col)
        if n is None:
            n = self.docs().select(group_col).distinct().count()
            self._maxsim_group_counts[group_col] = n
        if n < self.maxsim_auto_prefilter_min_groups:
            return None
        return self.maxsim_auto_prefilter_k

    def search(
        self,
        column: str,
        query: str,
        limit: int = 10,
        strategy: str = "join",
        where: str | None = None,
    ) -> DataFrame:
        """Top-k semantic search returning (key, content, score) in score
        order -- the A4/A5 surface (serve.rs:148-183, main.rs:314-385).

        limit validation 1..=100 mirrors serve.rs:155-161.

        ``where`` (strategies 'join' and 'hamming'): a Spark SQL
        predicate over the serve view's columns, applied BEFORE
        scoring/ranking (pre-filter-then-score -- never a post-filter
        that can return fewer than limit hits; under 'join' the top-k
        is exact over the filtered population, under 'hamming' the
        candidate ranking is hamming-approximate over it). Metadata
        columns referenced by the predicate must be listed in
        ``serve_filter_columns`` BEFORE serving (they are copied into
        the cached view at build; both views auto-rebuild if the list
        grew). Evaluates against cached in-memory batches with min/max
        batch pruning -- no per-query join against the docs table.

        strategy='auto': size-based selection via
        :meth:`resolve_strategy` -- exact 'join' below the ~200k-row
        crossover, 'hamming' while the 1-bit signature cache fits,
        'ivf_pq' beyond (SCALING.md round-7 crossover + recall tables),
        so a small collection never silently pays an approximate
        path's overhead.

        strategy='join' (default): fetch-back as a broadcast join of the
        <=100 hits against the docs table -- one declarative plan, the
        right shape when the result feeds further DataFrame work.

        strategy='local': the reference's actual serving model -- the
        whole (key, vector, content) view collected ONCE into driver
        RAM (numpy matrix + content list, like usearch's in-memory
        graph + DuckDB's open table), each query a single matmul with
        no Spark job at all. Only for collections that fit on the
        driver; Spark remains the build/scale path.

        strategy='hybrid': dense + lexical -- the exact cosine leg fused
        with a BM25 leg over the indexed column (operators/bm25.py) by
        reciprocal-rank fusion. ``score`` is then the RRF score (larger
        is better, bounded by n_legs/61), not 1-cos_dist; rank order is
        what hybrid serves. Falls back to dense-only when the query has
        no lexical tokens.

        strategy='local_hybrid': the same hybrid results from driver
        RAM -- dense numpy leg + Python BM25 over an in-RAM inverted
        index, zero Spark jobs per query (strategy='local' extended to
        hybrid; same local_serve_max_rows ceiling).

        strategy='pq': approximate -- product-quantized codes
        (operators/pq.py): each vector is ``pq_m`` one-byte codes
        (32x smaller than f32 at dim 64), scored by ADC lookup sums
        without ever decompressing. The compressed view caches where
        the full-precision one may not fit; recall < 1 by design
        (the memory half of IVF-PQ).

        strategy='ivf_pq': both halves composed -- the on-disk index
        holds only (key, code) partitioned by coarse list, so a query
        scans ~nprobe/nlist parquet partitions of an index that is
        already ~32x smaller than the vectors. The shape for
        collections too big to cache even as codes.

        strategy='maxsim' (r8): multi-vector late interaction -- rows
        sharing ``maxsim_group_col`` score as one document under the
        ColBERT MaxSim rule (with one query string the score is the
        group's best chunk cosine). Delegates to :meth:`search_multi`;
        the result carries (group, key, content, score, n_chunks) with
        key/content = the best-matching chunk.

        strategy='hamming': approximate -- a cached sign-bit signature
        view (1 bit/dim, ~32x smaller than the float serve view) ranks
        every row by bit_count(xor) Hamming distance, then the top
        ``hamming_rescore`` candidates get an exact cosine rescore via
        broadcast fetch-back. Like 'pq' a memory play, but with no
        training step and a single recall knob; ``hamming_rescore >=
        rows`` provably equals the exact ranking.
        """
        if not 1 <= limit <= 100:
            raise ValueError(f"limit must be in [1, 100], got {limit}")
        if column not in self.config.index_columns:
            raise ValueError(f"column {column!r} is not indexed")
        if strategy not in SEARCH_STRATEGIES:
            raise ValueError(f"unknown strategy {strategy!r}")
        if where is not None and strategy == "auto":
            # a filter changes the top-k population; 'auto' promises
            # the EXACT pre-filtering strategy (hamming also
            # pre-filters since r7, but its ranking is approximate --
            # callers opt into that explicitly)
            strategy = "join"
        if where is not None and strategy not in ("join", "hamming", "maxsim"):
            raise ValueError(
                "where= is supported with strategy='join' (exact "
                "pre-filter-then-score), strategy='hamming' (r7: the "
                "signature view carries serve_filter_columns, so the "
                "predicate pre-filters the candidate scan) and "
                "strategy='maxsim' (r8: pre-filters the serve view); the "
                "other approximate / driver-local strategies do not "
                "pre-filter"
            )
        if strategy == "maxsim":
            # late-interaction serving (r8): group rows by the
            # maxsim_group_col knob and delegate to search_multi with
            # this single query string as a one-vector query; result
            # keeps the (key, content, score) K1 shape plus the group
            # and chunk-count columns
            return self.search_multi(
                column,
                [query],
                limit=limit,
                group_col=self.maxsim_group_col,
                where=where,
            )
        self._require_embeddings(column)
        if strategy == "auto":
            strategy = self.resolve_strategy(column)
        qvec = self._embedder().embed([query])[0].tolist()

        if strategy == "pq":
            return self._search_pq(column, qvec, limit)

        if strategy == "ivf_pq":
            return self._search_ivf_pq(column, qvec, limit)

        if strategy == "hamming":
            return self._search_hamming(column, qvec, limit, where=where)

        if strategy == "hybrid":
            return self._search_hybrid(column, query, qvec, limit)

        if strategy == "local_hybrid":
            rows_out = self._local_hybrid_rows(column, query, qvec, limit)
            return _rows_df(self.spark, rows_out, _RESULT_SCHEMA)

        if strategy == "local":
            rows_out = self._local_topk(self._local_bundle(column), qvec, limit)
            return _rows_df(self.spark, rows_out, _RESULT_SCHEMA)
        serve = self._serve_view(column)

        # single-job path: score + top-k + content projection in ONE
        # TakeOrderedAndProject over the cached serve view -- the Spark
        # analog of one usearch lookup + row fetch
        base = serve.where(F.col("content").isNotNull())  # P6 null drop
        if where is not None:
            base = base.where(F.expr(where))
        return (
            base.select(
                F.col(KEY_COL).alias("key"),
                F.col("content"),
                self._serve_score(qvec).alias("score"),
            )
            .orderBy(F.desc("score"), F.asc("key"))
            .limit(limit)
        )

    def search_many(
        self,
        column: str,
        queries: Sequence[str],
        limit: int = 10,
        strategy: str = "dense",
        where: str | None = None,
    ) -> DataFrame:
        """Batched search: every query scored in ONE plan instead of one
        job per query -- the serving-throughput path. Queries embed
        driver-side into a small frame; the candidate-only knn_join plan
        (operators/topk.py, numpy method) lets each serve-view partition
        emit only its local top-k per query, and the tiny hit set
        broadcasts back against the view for content.

        strategy='hybrid' adds the batched BM25 leg (one pass over the
        cached postings for the union of all queries' terms) and fuses
        per query with distributed reciprocal-rank fusion
        (operators/bm25.py rrf_fuse with a query group key) -- N hybrid
        searches for roughly the cost of one.

        strategy='pq' scores every query against the compressed coded
        view in one batched ADC plan (operators/pq.py pq_knn_join, one
        stacked LUT tensor in the closure) -- the bulk form of
        :meth:`search` strategy='pq', reading m bytes per vector
        instead of the float vectors.

        strategy='hamming' (r7) runs one batched signature scan
        (operators/hamming.py hamming_knn_join -- vectorized XOR +
        popcount per partition, candidates only in the shuffle) and ONE
        exact cosine rescore of the <= N x hamming_rescore candidate
        rows; scores match per-query strategy='hamming' bit-for-bit.

        strategy='ivf_pq' (r7) runs one batched plan over the on-disk
        coded index (operators/pq.py ivf_pq_knn_join): the scan reads
        only the UNION of every query's probed ``_list`` partitions,
        each row is ADC-scored only against the queries that probed its
        list, and content fetches back through the docs table -- the
        batched form of the biggest serving tier, with NO cached view
        at all.

        strategy='auto' (r7) maps :meth:`resolve_strategy`'s tier to
        the batched forms (join->dense, hamming->hamming,
        ivf_pq->ivf_pq).

        Returns (query_idx, rank, key, content, score) ordered by
        (query_idx, rank). Dense scores differ from :meth:`search` only
        in float summation order (pairwise vs sequential); hybrid scores
        are RRF scores as in :meth:`search` strategy='hybrid'.

        ``where`` (strategy='dense' only, same contract as
        :meth:`search`): a Spark SQL predicate over the serve view's
        columns (opt in via ``serve_filter_columns``), applied before
        scoring so every query's top-k is exact over the filtered
        population."""
        if not 1 <= limit <= 100:
            raise ValueError(f"limit must be in [1, 100], got {limit}")
        if column not in self.config.index_columns:
            raise ValueError(f"column {column!r} is not indexed")
        if strategy not in ("dense", "hybrid", "pq", "hamming", "ivf_pq", "auto"):
            raise ValueError(f"unknown strategy {strategy!r}")
        if where is not None and strategy == "auto":
            # same rule as per-query search: a filter changes the top-k
            # population, so 'auto' lands on the exact batched strategy
            # that pre-filters instead of refusing
            strategy = "dense"
        if where is not None and strategy != "dense":
            raise ValueError(
                "where= is supported with strategy='dense' (the hybrid "
                "lexical leg ranks over unfiltered postings; the pq "
                "coded view and hamming signatures carry no filter "
                "columns)"
            )
        if not queries:
            raise ValueError("queries must be non-empty")
        if len(queries) > self.search_many_max_queries:
            raise RuntimeError(
                f"search_many got {len(queries)} queries -- above "
                f"search_many_max_queries={self.search_many_max_queries}; "
                f"queries embed driver-side and the N x limit hit set is "
                f"broadcast, so batch in chunks, raise "
                f"collection.search_many_max_queries explicitly, or use "
                f"operators/topk.knn_join with a query DataFrame for "
                f"corpus-scale query sets"
            )
        self._require_embeddings(column)
        if strategy == "auto":
            # size tier from resolve_strategy, mapped to the batched
            # forms: join->dense (same exactness), hamming->hamming,
            # ivf_pq->ivf_pq (the batched on-disk plan, ivf_pq_knn_join)
            strategy = {
                "join": "dense",
                "hamming": "hamming",
                "ivf_pq": "ivf_pq",
            }[self.resolve_strategy(column)]
        from letsearch_spark.operators.topk import knn_join

        vecs = self._embedder().embed(list(queries))
        qdf = self.spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
            "query_idx long, qvec array<float>",
        )
        if strategy == "ivf_pq":
            # batched on-disk compressed search: ONE plan over the union
            # of every query's probed _list partitions; no cached view
            # of any kind (the tier for corpora beyond the cache)
            from letsearch_spark.operators.pq import ivf_pq_knn_join

            if column not in self._ivf_pq_index:
                self.refresh_ivf_pq_index(column)
            centroids, cb = self._ivf_pq_index[column]
            hits = ivf_pq_knn_join(
                self.spark,
                self.ivf_pq_path(column),
                centroids,
                cb,
                qdf,
                k=limit,
                nprobe=self.ivf_nprobe,
                key_col=KEY_COL,
                query_key_col="query_idx",
                query_vec_col="qvec",
                # BEFORE the top-k truncation, like the per-query path:
                # a tombstoned key must not consume a rank slot (a
                # post-ranking filter would leave rank gaps and
                # under-filled results)
                exclude=self._tombstones_hinted(),
            )
            docs = self.docs().select(
                F.col(KEY_COL), F.col(column).alias("content")
            )
            return (
                F.broadcast(hits)
                .join(docs, KEY_COL)
                .where(F.col("content").isNotNull())
                .select(
                    "query_idx",
                    "rank",
                    F.col(KEY_COL).alias("key"),
                    "content",
                    "score",
                )
                .orderBy("query_idx", "rank")
            )
        if strategy == "hamming":
            # batched two-stage: one hamming_knn_join plan over the
            # cached 1-bit signature view (only signatures are scanned),
            # then ONE exact cosine rescore of the <= N x rescore
            # candidate rows against the UNCACHED raw serve frame (one
            # parquet scan amortized over the whole batch -- the float
            # cache is never materialized on this path) -- same scores
            # as per-query strategy='hamming' (identical dot/norm
            # arithmetic via dot_product + the same l2_norm)
            import math

            from letsearch_spark.operators.hamming import hamming_knn_join
            from letsearch_spark.functions.vector import dot_product

            # rows FIRST: _centered_query_rows lazily builds the index
            # the next line reads
            q_rows = self._centered_query_rows(column, vecs)
            cand = hamming_knn_join(
                self._hamming_index[column],
                q_rows,
                rescore=max(self.hamming_rescore, limit),
                key_col=KEY_COL,
                query_key_col="query_idx",
                query_vec_col="qvec",
            )
            qnorms = [
                (i, math.sqrt(sum(float(x) * float(x) for x in v)))
                for i, v in enumerate(vecs)
            ]
            qn_df = self.spark.createDataFrame(
                [
                    (i, [float(x) for x in v], qn)
                    for (i, qn), v in zip(qnorms, vecs)
                ],
                "query_idx long, qvec array<float>, qnorm double",
            )
            base = self._raw_serve_frame(column).where(
                F.col("content").isNotNull()
            )
            scored = (
                base.join(
                    F.broadcast(cand.select("query_idx", KEY_COL)), KEY_COL
                )
                .join(F.broadcast(qn_df), "query_idx")
                .withColumn(
                    "score",
                    # column NAMES, not Columns: the one-F.expr SQL
                    # fast path (r11, guide §4 -- same tree as the
                    # Column composition, bit-identical, ~2 py4j calls
                    # instead of hundreds per search_many call)
                    F.when(
                        F.col("_vnorm") * F.col("qnorm") == 0.0, F.lit(0.0)
                    ).otherwise(
                        dot_product("vector", "qvec")
                        / (F.col("_vnorm") * F.col("qnorm"))
                    ),
                )
            )
            from pyspark.sql import Window

            w = Window.partitionBy("query_idx").orderBy(
                F.desc("score"), F.asc(KEY_COL)
            )
            return (
                scored.withColumn(
                    "rank", F.row_number().over(w).cast("long")
                )
                .where(F.col("rank") <= limit)
                .select(
                    "query_idx",
                    "rank",
                    F.col(KEY_COL).alias("key"),
                    "content",
                    "score",
                )
                .orderBy("query_idx", "rank")
            )
        # the remaining strategies (dense / hybrid / pq) score or fetch
        # against the cached float serve view -- built only NOW, so the
        # cache-light tiers above never materialize it
        serve = self._serve_view(column).where(F.col("content").isNotNull())
        if where is not None:
            serve = serve.where(F.expr(where))
        if strategy == "pq":
            # batched ADC: one pq_knn_join plan over the coded view
            # (operators/pq.py) -- N compressed searches for one scan of
            # the codes; scores/ranks match per-query strategy='pq',
            # null-content keys drop in the fetch-back (P6), which like
            # _search_pq happens after ranking
            from letsearch_spark.operators.pq import pq_knn_join

            if column not in self._pq_index:
                self.build_pq_index(column)
            cb, coded = self._pq_index[column]
            hits = pq_knn_join(
                coded,
                cb,
                qdf,
                k=limit,
                key_col=KEY_COL,
                query_key_col="query_idx",
                query_vec_col="qvec",
            )
        else:
            depth = self._HYBRID_DEPTH if strategy == "hybrid" else limit
            hits = knn_join(
                serve,
                qdf,
                k=depth,
                key_col=KEY_COL,
                vec_col="vector",
                query_key_col="query_idx",
                query_vec_col="qvec",
                method="numpy",
            )
            if strategy == "hybrid":
                hits = self._fuse_many(column, queries, hits, limit)
        return (
            serve.select(F.col(KEY_COL), "content")
            .join(F.broadcast(hits), KEY_COL)
            .select(
                "query_idx",
                "rank",
                F.col(KEY_COL).alias("key"),
                "content",
                "score",
            )
            .orderBy("query_idx", "rank")
        )

    def search_multi(
        self,
        column: str,
        queries: Sequence[str] | str,
        limit: int = 10,
        group_col: str | None = None,
        where: str | None = None,
        prefilter_k: int | None = None,
        prefilter_signal: str = "cosine",
    ) -> DataFrame:
        """Multi-vector late-interaction search (the ColBERT MaxSim
        rule, operators/pool.py maxsim_topk) through the Collection's
        serving contract (K1/K3 semantics, serve.rs:148-183: limit
        1..=100, same embedder as indexing, content fetch-back).

        Each string in ``queries`` embeds to one query vector (K3);
        score(doc) = sum over query vectors of the best cosine against
        any of the doc's rows. ``group_col`` names the chunk-group
        column -- rows sharing its value score as ONE document (it must
        be listed in ``serve_filter_columns`` so the cached serve view
        carries it); with ``group_col=None`` every row is its own group
        (single-vector documents, multi-vector query).

        Returns (group, key, content, score, n_chunks) ordered by
        (score DESC, group ASC), where key/content are the group's
        best-matching row (highest fixed-order cosine sum, ties to the
        lowest key) -- the snippet to show. Scoring + per-group argmax
        run in ONE partial-aggregated pass over the serve view
        (only |groups| x |Q| maxes shuffle); the <= limit hits then
        broadcast back for content (P3/P4).

        ``where``: Spark SQL predicate over the serve view's columns,
        applied BEFORE scoring (pre-filter-then-score, the search()
        contract) -- a filtered-out chunk neither scores nor counts.

        ``prefilter_k`` (r9, the PLAID-style scale path): when set,
        only the union of each query vector's top-``prefilter_k``
        groups by single-vector cosine (rows' own vectors when
        ungrouped, normalized pooled group vectors when grouped) is
        MaxSim-rescored -- the full corpus never feeds the
        late-interaction stage. Grouped candidates come from the
        PERSISTED pooled-centroid sidecar
        (:meth:`refresh_maxsim_pool_index`, r10): each leg is a
        map-side top-k over the cached |groups|-row index, never a
        per-call corpus pooling. Approximate in WHICH groups make the
        cut only: candidate scores are exact, and
        prefilter_k >= |groups| reproduces the exact result
        bit-for-bit (pinned by tests). ``prefilter_k='auto'`` (r10)
        applies :meth:`resolve_maxsim_prefilter`: exact below the
        measured ~10k-group crossover (and always when ungrouped),
        ``maxsim_auto_prefilter_k`` candidates above it.

        ``prefilter_signal='hamming'`` (r10, ungrouped only): candidate
        generation reads the persisted 1-bit signature index instead of
        the float vectors -- 32x less candidate-scan IO, one batched
        bit-math pass for all query vectors; same exactness floor.
        """
        from letsearch_spark.operators.pool import maxsim_topk

        if isinstance(queries, str):
            queries = [queries]
        if not queries:
            raise ValueError("queries must be non-empty")
        serve, base, g = self._maxsim_serve_base(
            column, limit, group_col, where, prefilter_k, prefilter_signal
        )
        if prefilter_k == "auto":
            prefilter_k = self.resolve_maxsim_prefilter(column, group_col)
        qvecs = [
            [float(x) for x in v] for v in self._embedder().embed(list(queries))
        ]
        if prefilter_k is not None:
            base = self._maxsim_prefilter(
                column,
                base,
                g,
                qvecs,
                prefilter_k,
                group_col,
                where,
                prefilter_signal,
            )
        hits = maxsim_topk(
            base,
            qvecs,
            k=limit,
            group_col=g,
            vec_col="vector",
            best_key_col=KEY_COL,
            # group_col=None maps every row to its unique _key: the
            # degenerate-group fast path skips the corpus-sized
            # aggregate shuffle (scan-side scores + TakeOrdered)
            unique_groups=group_col is None,
            # the serve view's precomputed norm: one fold per cosine
            # instead of three, bit-identical (r10)
            norm_col="_vnorm",
        ).select(
            F.col(g).alias("group"),
            F.col("best_key").alias("key"),
            "score",
            "n_chunks",
        )
        content = serve.select(F.col(KEY_COL).alias("key"), "content")
        return (
            content.join(F.broadcast(hits), "key")
            .select("group", "key", "content", "score", "n_chunks")
            .orderBy(F.desc("score"), F.asc("group"))
        )

    def _maxsim_prefilter(
        self,
        column: str,
        base: DataFrame,
        g: str,
        qvecs: list[list[float]],
        prefilter_k: int,
        group_col: str | None,
        where: str | None,
        signal: str = "cosine",
    ) -> DataFrame:
        """PLAID-style candidate generation for MaxSim serving (r9,
        after Santhanam et al. 2022's two-stage shape): per QUERY
        VECTOR, take the top ``prefilter_k`` groups by single-vector
        cosine -- against each row's own vector when ungrouped, against
        the group's normalized POOLED vector when grouped (the
        chunk-to-doc centroid) -- union the candidate sets, and MaxSim
        rescores ONLY rows of candidate groups.

        Plan shape (r10, VERDICT r9 #1): every leg -- ungrouped AND
        grouped -- is a TakeOrderedAndProject (map-side top-k, no
        window, no exchange). Ungrouped legs scan the CACHED serve view
        scored via its precomputed ``_vnorm`` (one fold per row -- the
        _serve_score idiom). Grouped legs scan the PERSISTED
        pooled-centroid sidecar (:meth:`refresh_maxsim_pool_index`,
        cached in memory by :meth:`_maxsim_pool_view`): candidate
        generation never re-runs the corpus pooling aggregation per
        call, and the r9 rank window partitioned by only |Q| keys is
        gone. The one inline-pooling fallback is a grouped prefilter
        UNDER ``where=``: a predicate-filtered pooling can't be
        persisted (the population changes per predicate), so that path
        pools the filtered base once and ranks through the |Q|-key
        window -- documented as the non-serving exception.

        The candidate set broadcasts back as a NULL-SAFE semi-join (a
        NULL group is a real group to the exact path's groupBy and must
        survive the cut the same way). Approximate with an exactness
        floor: rescored scores are EXACT for every candidate (the
        approximation is only which groups make the cut), and
        prefilter_k >= |groups| degenerates to the exact result.

        ``signal='hamming'`` (r10, the SCALING.md r9 'natural next
        tier', ungrouped only): candidates come from the persisted
        sign-bit signature index (:meth:`build_hamming_index`, 1
        bit/dim -- 32x less data than the float scan the cosine legs
        read) via ONE batched bit-math pass for ALL |Q| legs; the
        per-query rank window ranks at most partitions x prefilter_k
        surviving candidates, never a corpus-sized partition. Doubly
        approximate (hamming distance proxies the angle AND only
        candidate groups rescore) with the same exactness floor:
        prefilter_k >= corpus rows admits every key, reproducing the
        exact result bit-for-bit. Under ``where=`` the signature scan
        is corpus-wide (predicates apply at rescore), so candidate
        slots are spent on rows the predicate may later drop -- size
        prefilter_k for the UNfiltered corpus there."""
        from letsearch_spark.functions.vector import cosine_similarity

        if group_col is None and signal == "hamming":
            from letsearch_spark.operators.hamming import hamming_knn_join

            # rows FIRST: _centered_query_rows lazily builds the index
            # the next line reads
            q_rows = self._centered_query_rows(column, qvecs)
            cand = (
                hamming_knn_join(
                    self._hamming_index[column],
                    q_rows,
                    rescore=prefilter_k,
                    key_col=KEY_COL,
                    query_key_col="query_idx",
                    query_vec_col="qvec",
                )
                .select(F.col(KEY_COL).alias("__cg"))
                .distinct()
            )
            return base.join(
                F.broadcast(cand),
                F.col(g).eqNullSafe(F.col("__cg")),
                "left_semi",
            )
        if group_col is None:
            legs = [
                base.select(
                    F.col(g).alias("__cg"),
                    self._serve_score(q).alias("__ps"),
                )
                .orderBy(F.desc("__ps"), F.asc("__cg"))
                .limit(prefilter_k)
                .select("__cg")
                for q in qvecs
            ]
        elif where is None:
            from letsearch_spark.functions.vector import cosine_with_norm

            pooled = self._maxsim_pool_view(column, group_col)
            legs = [
                pooled.select(
                    F.col(g).alias("__cg"),
                    # cached centroid norm (_pvn): one fold per row,
                    # bit-identical to cosine_similarity (r10)
                    cosine_with_norm("_pv", "_pvn", q).alias("__ps"),
                )
                .orderBy(F.desc("__ps"), F.asc("__cg"))
                .limit(prefilter_k)
                .select("__cg")
                for q in qvecs
            ]
        else:
            legs = None
        if legs is not None:
            cand = legs[0]
            for leg in legs[1:]:
                cand = cand.unionByName(leg)
            cand = cand.distinct()
        else:
            from pyspark.sql.window import Window

            from letsearch_spark.operators.pool import mean_pool_vectors

            # where-filtered grouped prefilter: pool the FILTERED base
            # once (fixed-point units -- deterministic under any
            # partitioning, same arithmetic as the sidecar), explode
            # the |Q| scores, one rank window over |groups| x |Q| slim
            # rows -- per-leg branches would re-execute the posexplode
            # pooling subtree |Q| times
            pooled = mean_pool_vectors(
                base,
                [g],
                "vector",
                out_col="_pv",
                normalize=True,
                exact_units=self.maxsim_pool_units,
            )
            scored = pooled.select(
                F.col(g).alias("__cg"),
                F.posexplode(
                    F.array(
                        *[
                            cosine_similarity("_pv", q)
                            for q in qvecs
                        ]
                    )
                ).alias("__qi", "__ps"),
            )
            w = Window.partitionBy("__qi").orderBy(
                F.desc("__ps"), F.asc("__cg")
            )
            cand = (
                scored.withColumn("__r", F.row_number().over(w))
                .where(F.col("__r") <= prefilter_k)
                .select("__cg")
                .distinct()
            )
        return base.join(
            F.broadcast(cand),
            F.col(g).eqNullSafe(F.col("__cg")),
            "left_semi",
        )

    def _maxsim_serve_base(
        self,
        column: str,
        limit: int,
        group_col: str | None,
        where: str | None,
        prefilter_k: int | None = None,
        prefilter_signal: str = "cosine",
    ):
        """Shared serving prologue for search_multi /
        search_many_multi: validation + the pre-filtered serve view +
        the effective group column (one copy, so the two paths'
        contracts cannot drift). ``prefilter_k`` validates HERE --
        before any query embedding runs (r9 review catch: a bad knob
        used to surface only after real model inference, and a float
        leaked into .limit() as an opaque Py4J error)."""
        if not 1 <= limit <= 100:
            raise ValueError(f"limit must be in [1, 100], got {limit}")
        if (
            prefilter_k is not None
            and prefilter_k != "auto"
            and (
                not isinstance(prefilter_k, int)
                or isinstance(prefilter_k, bool)
                or prefilter_k < 1
            )
        ):
            raise ValueError(
                "prefilter_k must be a positive int or 'auto', "
                f"got {prefilter_k!r}"
            )
        if prefilter_signal not in ("cosine", "hamming"):
            raise ValueError(
                "prefilter_signal must be 'cosine' or 'hamming', "
                f"got {prefilter_signal!r}"
            )
        if prefilter_signal == "hamming" and group_col is not None:
            raise ValueError(
                "prefilter_signal='hamming' applies to UNGROUPED serving "
                "(per-row signatures); grouped candidates come from the "
                "|groups|-slim pooled-centroid sidecar, which 1-bit "
                "signatures cannot beat"
            )
        if prefilter_signal == "hamming" and not isinstance(prefilter_k, int):
            # r10 review catch: 'auto' resolves to None for ungrouped
            # serving (hamming's only legal mode), so accepting it here
            # would silently run the exact float scan the caller asked
            # to avoid
            raise ValueError(
                "prefilter_signal='hamming' needs an explicit integer "
                "prefilter_k ('auto' stays exact when ungrouped, which "
                "would silently ignore the hamming signal)"
            )
        if column not in self.config.index_columns:
            raise ValueError(f"column {column!r} is not indexed")
        if group_col is not None and group_col not in self.serve_filter_columns:
            raise ValueError(
                f"group_col {group_col!r} must be listed in "
                "serve_filter_columns so the serve view carries it"
            )
        self._require_embeddings(column)
        serve = self._serve_view(column)
        base = serve.where(F.col("content").isNotNull())
        if where is not None:
            base = base.where(F.expr(where))
        g = group_col if group_col is not None else KEY_COL
        return serve, base, g

    def search_many_multi(
        self,
        column: str,
        query_sets: Sequence[Sequence[str]],
        limit: int = 10,
        group_col: str | None = None,
        where: str | None = None,
        prefilter_k: int | None = None,
        prefilter_signal: str = "cosine",
    ) -> DataFrame:
        """Batched MaxSim serving: N multi-vector queries in ONE plan
        (operators/pool.py maxsim_topk_many — one partial-aggregated
        pass computes every query's per-group maxes, candidates prune
        per partition, the final window sorts <= partitions x N x k
        rows). Same contract as :meth:`search_multi` per query, plus
        ``query_idx``/``rank``; results are bit-identical to the
        per-query path. ``prefilter_k`` (r9): PLAID-style candidate
        generation over the union of every query's vectors -- see
        :meth:`search_multi`; batched results equal per-query
        prefiltered results only when the candidate sets coincide, so
        parity tests pass the SAME queries. Returns (query_idx, rank,
        group, key, content, score, n_chunks) ordered by
        (query_idx, rank)."""
        from letsearch_spark.operators.pool import maxsim_topk_many

        if not query_sets:
            raise ValueError("query_sets must be non-empty")
        if any(isinstance(qs, str) for qs in query_sets):
            raise ValueError(
                "query_sets must be a sequence of query-string LISTS "
                "(one list per query); a bare string would explode into "
                "per-character queries -- wrap it: [[query]]"
            )
        sets = [list(qs) for qs in query_sets]
        if any(not qs for qs in sets):
            raise ValueError("every query set needs at least one string")
        serve, base, g = self._maxsim_serve_base(
            column, limit, group_col, where, prefilter_k, prefilter_signal
        )
        if prefilter_k == "auto":
            prefilter_k = self.resolve_maxsim_prefilter(column, group_col)
        # ONE embed call for the whole batch (K3), then unflatten
        texts = [q for qs in sets for q in qs]
        vecs = iter(
            [float(x) for x in v] for v in self._embedder().embed(texts)
        )
        qvec_sets = [[next(vecs) for _ in qs] for qs in sets]
        if prefilter_k is not None:
            # candidate generation over the UNION of every query's
            # vectors: the rescore stays ONE plan, each query ranks
            # only over its own scores (extra candidates cost compute,
            # never correctness -- scores are exact per candidate)
            base = self._maxsim_prefilter(
                column,
                base,
                g,
                [q for qs in qvec_sets for q in qs],
                prefilter_k,
                group_col,
                where,
                prefilter_signal,
            )
        hits = maxsim_topk_many(
            base,
            qvec_sets,
            k=limit,
            group_col=g,
            vec_col="vector",
            best_key_col=KEY_COL,
            unique_groups=group_col is None,
            norm_col="_vnorm",
        ).select(
            "query_idx",
            "rank",
            F.col("group"),
            F.col("best_key").alias("key"),
            "score",
            "n_chunks",
        )
        content = serve.select(F.col(KEY_COL).alias("key"), "content")
        return (
            content.join(F.broadcast(hits), "key")
            .select(
                "query_idx", "rank", "group", "key", "content", "score",
                "n_chunks",
            )
            .orderBy("query_idx", "rank")
        )

    def _fuse_many(
        self, column: str, queries: Sequence[str], dense_hits, limit: int
    ):
        """Batched RRF: fuse the dense knn_join hits with one batched
        BM25 pass over the cached postings; returns per-query
        (query_idx, key, rank, score) rows, rank <= limit."""
        from pyspark.sql import Window

        from letsearch_spark.operators.bm25 import (
            bm25_scores_many,
            rrf_fuse,
            tokenize_query,
        )

        depth = self._HYBRID_DEPTH
        legs = {
            "dense": dense_hits.select(
                "query_idx", F.col(KEY_COL), F.col("rank")
            )
        }
        query_terms = {
            i: t for i, q in enumerate(queries) if (t := tokenize_query(q))
        }
        if query_terms:
            postings, dfreq, n_docs, avgdl = self._lexical_view(column)
            # empty lexical corpus (e.g. all-CJK text under the ASCII
            # analyzer): degrade to dense-only like the per-query path
            if n_docs == 0 or avgdl <= 0.0:
                query_terms = {}
        if query_terms:
            lex = bm25_scores_many(
                postings, query_terms, n_docs, avgdl, id_col=KEY_COL,
                dfreq=dfreq,  # reuse the cached per-term df table
            )
            wq = Window.partitionBy("query_idx").orderBy(
                F.desc("score"), F.asc(KEY_COL)
            )
            legs["lexical"] = (
                lex.select(
                    "query_idx",
                    KEY_COL,
                    F.round("bm25", 6).alias("score"),
                )
                .withColumn("rank", F.row_number().over(wq))
                .where(F.col("rank") <= depth)
                .select("query_idx", KEY_COL, "rank")
            )
        fused = rrf_fuse(
            legs, id_col=KEY_COL, group_cols=("query_idx",)
        )
        wf = Window.partitionBy("query_idx").orderBy(
            F.desc("rrf"), F.asc(KEY_COL)
        )
        return (
            fused.withColumn("rank", F.row_number().over(wf).cast("long"))
            .where(F.col("rank") <= limit)
            .select(
                "query_idx", KEY_COL, "rank", F.col("rrf").alias("score")
            )
        )

    @staticmethod
    def _serve_score(qvec):
        """Cosine against the serve view using its precomputed ``_vnorm``:
        one fold per row instead of two, and the query literal appears
        once (its norm is a driver-side scalar computed with the same
        sequential double arithmetic, so scores are bit-identical to the
        full expression form). Since r10 built as ONE ``F.expr`` --
        the whole scoring expression is a single py4j call instead of
        ~100 (functions/vector.py cosine_with_norm)."""
        from letsearch_spark.functions.vector import cosine_with_norm

        return cosine_with_norm("vector", "_vnorm", qvec)

    # candidate depth per leg for strategy='hybrid' (standard RRF runs
    # fusion over deeper-than-k leg rankings; 100 = the serve limit cap)
    _HYBRID_DEPTH = 100

    def _lexical_view(self, column: str):
        """Cached BM25 postings + dfreq table + corpus stats for the
        lexical leg -- the lexical analog of _serve_view: the corpus is
        scanned, tokenized, and aggregated ONCE; each query then filters
        the cached postings by its terms and reads its terms' document
        frequencies from the cached dfreq table. Invalidated on writes.

        Returns (postings, dfreq, n_docs, avgdl)."""
        from letsearch_spark.operators.bm25 import build_postings

        key = f"__lex_{column}"
        view = self._emb_cache.get(key)
        if view is None:
            # build from the SERVE view, not the raw docs table: the two
            # legs and the content fetch must rank the same population.
            # Postings over self.docs() would let appended-but-not-yet-
            # embedded documents win BM25 slots that the serve-view
            # content fetch then silently drops (results shrink below
            # the limit and the lexical signal is lost).
            serve = self._serve_view(column)
            docs = serve.select(
                KEY_COL, F.col("content").alias(column)
            ).where(F.col(column).isNotNull())
            # serve-cache compaction: the postings build inherits
            # shuffle_partitions sized for BULK work; a serve query then
            # pays that many near-empty task launches per job. Pack the
            # cache into fewer, fuller partitions (driver-sized
            # collections; a huge corpus keeps more -- ~250k rows each).
            # serve is cached + materialized, so this count is cheap.
            n_docs_est = serve.count()
            n_parts = max(1, min(int(n_docs_est // 2_000) + 1, 256))
            view = (
                build_postings(docs, id_col=KEY_COL, text_col=column)
                .coalesce(n_parts)
                .cache()
            )
            dfreq = (
                view.groupBy("__term")
                .agg(F.count(F.lit(1)).alias("__df"))
                .coalesce(max(1, n_parts // 4))
                .cache()
            )
            row = (
                view.select("__id", "__dl")
                .distinct()
                .agg(F.count(F.lit(1)).alias("n"), F.avg("__dl").alias("avgdl"))
                .collect()[0]
            )
            vocab = dfreq.count()  # materialize the vocabulary table now
            self._lex_stats[column] = (int(row["n"]), float(row["avgdl"] or 0.0))
            self._lex_vocab[column] = int(vocab)
            self._emb_cache[key] = view
            self._emb_cache[f"__lexdf_{column}"] = dfreq
        return (
            view,
            self._emb_cache[f"__lexdf_{column}"],
            *self._lex_stats[column],
        )

    def _lex_idf_map(self, column: str) -> dict[str, int] | None:
        """Lazy driver-side term->df map for the idf-literal serving
        mode (the stats block a Lucene-style serving node keeps in
        RAM). Collected from the cached dfreq table on the FIRST
        per-query hybrid search -- batch paths never pay it -- and only
        when the vocabulary fits under lexical_idf_cache_max_terms;
        otherwise None and the caller computes df in-plan."""
        if column in self._lex_dfmap:
            return self._lex_dfmap[column]
        _view, dfreq, *_ = self._lexical_view(column)
        if self._lex_vocab.get(column, 0) > self.lexical_idf_cache_max_terms:
            self._lex_dfmap[column] = None
        else:
            self._lex_dfmap[column] = {
                r["__term"]: int(r["__df"]) for r in dfreq.collect()
            }
        return self._lex_dfmap[column]

    def _search_hybrid(
        self, column: str, query: str, qvec, limit: int
    ) -> DataFrame:
        """Dense cosine leg + BM25 lexical leg, reciprocal-rank fused.

        ONE Spark action per query: the dense TakeOrderedAndProject
        (carrying content through the top-k -- the serve view already
        holds it) and the lexical postings leg (document frequencies
        and content joined IN-PLAN: the df aggregation over the
        term-filtered candidates and the content join against the
        cached view both live inside the same job) are unioned into a
        single tagged plan and collected once. The previous shape was
        four sequential actions (dense top-k, dfreq lookup, lexical
        top-k, content fetch); fixed per-action costs dominated its
        ~0.7 s/query, so shrinking the action count is the lever that
        moves latency, not shaving work inside a stage. Both legs are
        <= 100 rows, so the RRF fusion runs driver-side as before.
        (Union output order is not the per-leg rank order; each leg is
        re-sorted driver-side by (-score, key), the exact ordering its
        orderBy declared. Lexical idf comes from the driver-held
        term->df map when the vocabulary fit under
        ``lexical_idf_cache_max_terms`` -- idf inlined as literals, no
        df aggregation or broadcast in the per-query plan -- and from
        an in-plan df aggregation otherwise; the two agree within ulps
        per test_bm25_df_modes_and_idf_literals_agree, and scores round
        to 6 decimals before ranking either way.)
        Batch pipelines that want the fusion as a lazy plan compose
        operators/bm25.py rrf_fuse directly (the search_bm25_hybrid
        contract query does)."""
        from letsearch_spark.operators.bm25 import (
            bm25_scores_from_postings,
            bm25_scores_with_idf,
            tokenize_query,
        )

        serve = self._serve_view(column)
        depth = self._HYBRID_DEPTH

        dense_top = (
            # P6 filter BEFORE ranking: a null-content row earning a
            # dense slot would be dropped AFTER the limit, shrinking
            # results -- and the lexical leg (built on non-null
            # content) must rank the same population
            serve.where(F.col("content").isNotNull())
            .select(
                F.col(KEY_COL),
                # round-12 ordering key: collapses numpy-vs-Catalyst ulp
                # noise so local_hybrid ranks identically (the grid is
                # ~1e4 finer than any meaningful score difference)
                F.round(self._serve_score(qvec), 12).alias("score"),
                "content",
            )
            .orderBy(F.desc("score"), F.asc(KEY_COL))
            .limit(depth)
            .select(
                F.lit("d").alias("leg"), F.col(KEY_COL), "score", "content"
            )
        )
        plan = dense_top
        terms = tokenize_query(query)
        if terms:
            postings, _dfreq, n_docs, avgdl = self._lexical_view(column)
            dfmap = self._lex_idf_map(column)
            if n_docs > 0 and avgdl > 0.0:
                if dfmap is not None:
                    # idf-literal mode (vocabulary fits driver-side):
                    # the lexical leg is postings-filter -> map-side
                    # score -> ONE groupBy(id) shuffle -> top-k, with no
                    # df aggregation or broadcast exchange in the plan.
                    # ~2x per-query latency vs the in-plan df mode
                    # (idf values agree within ulps and scores round to
                    # 6 before ranking, so results are identical --
                    # test_bm25_df_modes_and_idf_literals_agree).
                    term_df = {t: dfmap[t] for t in terms if t in dfmap}
                    lex_scored = (
                        bm25_scores_with_idf(
                            postings, term_df, n_docs, avgdl, id_col=KEY_COL
                        )
                        if term_df  # else: no term occurs in the corpus
                        else None
                    )
                else:
                    lex_scored = bm25_scores_from_postings(
                        postings, terms, n_docs, avgdl,
                        id_col=KEY_COL, df_via="join",
                    )
                if lex_scored is not None:
                    lex_top = (
                        lex_scored
                        .select(KEY_COL, F.round("bm25", 6).alias("score"))
                        .orderBy(F.desc("score"), F.asc(KEY_COL))
                        .limit(depth)
                    )
                    lex_top = (
                        # the <= depth-row side drives the content fetch;
                        # broadcast it so the cached serve view streams
                        F.broadcast(lex_top)
                        .join(serve.select(F.col(KEY_COL), "content"), KEY_COL)
                        .select(
                            F.lit("l").alias("leg"),
                            F.col(KEY_COL),
                            "score",
                            "content",
                        )
                    )
                    plan = plan.unionByName(lex_top)

        per_leg: dict[str, list[tuple[float, int]]] = {}
        content_of: dict[int, str] = {}
        for r in plan.collect():
            k = int(r[KEY_COL])
            per_leg.setdefault(r["leg"], []).append((float(r["score"]), k))
            content_of[k] = r["content"]
        leg_keys = [
            [k for _, k in sorted(rows_, key=lambda t: (-t[0], t[1]))]
            for rows_ in per_leg.values()
        ]

        top = self._rrf_ranks(leg_keys, limit)
        rows_out = [
            (k, content_of[k], s)
            for k, s in top
            if content_of.get(k) is not None  # P6 null-content drop
        ]
        return _rows_df(self.spark, rows_out, _RESULT_SCHEMA)

    @staticmethod
    def _rrf_ranks(leg_keys, limit: int) -> list[tuple[int, float]]:
        """Driver-side reciprocal-rank fusion shared by the distributed
        and local hybrid paths: (key, rrf) sorted by (-rrf, key)."""
        rrf: dict[int, float] = {}
        for keys in leg_keys:
            for rank, k in enumerate(keys, start=1):
                rrf[k] = rrf.get(k, 0.0) + 1.0 / (60.0 + rank)
        return sorted(rrf.items(), key=lambda kv: (-kv[1], kv[0]))[:limit]

    # IVF-PQ coarse-quantizer knobs (FAISS-style recall/latency trade)
    ivf_nlist = 16
    ivf_nprobe = 2
    # 'sample': driver-side k-means on the bounded smallest-key sample;
    # 'full': distributed Lloyd iterations over every vector
    # (operators/ann.py kmeans_fit_full) for corpora whose head keys
    # don't represent the distribution
    ivf_train = "sample"
    # incremental index maintenance: append new keys under the FROZEN
    # quantizers while the un-indexed fraction stays at or below this;
    # past it, retrain (frozen centroids/codebooks lose recall once the
    # new data dominates). 0.0 forces a rebuild on any change.
    ivf_rebuild_fraction = 0.5
    # the hamming analog: signatures append exactly at any fraction,
    # but the frozen CENTER is statistical -- past this un-indexed
    # fraction the refresh recenters (full rebuild)
    hamming_recenter_fraction = 0.5

    def _index_serve_frame(self, column: str) -> DataFrame:
        # null-content rows never serve (P6 drop) -- exclude them at
        # BUILD time so they cannot consume top-k slots in a probe.
        # Reuse the cached float serve view only when some OTHER
        # strategy already paid for it; building/refreshing an index
        # must not MATERIALIZE that cache (review r7: the hamming tier
        # exists precisely for corpora whose float view does not fit,
        # and its refresh routed through here)
        cached = self._emb_cache.get(f"__serve_{column}")
        base = cached if cached is not None else self._raw_serve_frame(column)
        return base.where(F.col("content").isNotNull()).select(
            KEY_COL, "vector"
        )

    def pooled_embeddings(
        self,
        column: str,
        group_col: str,
        normalize: bool = True,
        method: str = "explode",
    ) -> DataFrame:
        """Group-level embeddings pooled elementwise from ``column``'s
        per-row vectors (operators/pool.py mean_pool_vectors): one row
        per ``group_col`` value with (pooled array<double>, n_vecs).

        The chunked-ingest use case: chunks inserted with an identifier
        column (S6) pool to ONE vector per source document for
        doc-level retrieval or semantic curation (SemDeDup-style
        cluster-then-prune works on these); ``normalize`` (default)
        matches the cosine serving convention. Null-content rows are
        excluded like every serving path (P6)."""
        emb = self._index_serve_frame(column)
        groups = self.docs().select(KEY_COL, group_col)
        from letsearch_spark.operators.pool import mean_pool_vectors

        return mean_pool_vectors(
            emb.join(groups, KEY_COL),
            group_col,
            "vector",
            normalize=normalize,
            method=method,
        )

    def _plan_index_refresh(
        self, column: str, path: str, rebuild_fraction: float | None = None
    ):
        """Compare an on-disk (key-carrying) index at ``path`` with the
        serve view: ``('missing'|'current'|'append'|'rebuild', frame)``
        where frame is the NEW rows for 'append' and None otherwise.
        'rebuild' when indexed keys vanished (full replace / compaction
        of a different corpus) or when the un-indexed fraction exceeds
        ``rebuild_fraction`` (default ``ivf_rebuild_fraction`` -- frozen
        quantizers would drift; pass 1.0 for quantizer-free indexes
        like the hamming signatures, whose append is exact at ANY
        fraction). Three key-column-only jobs, paid once per refresh --
        never per query."""
        if rebuild_fraction is None:
            rebuild_fraction = self.ivf_rebuild_fraction
        serve = self._index_serve_frame(column)
        if not self._fs_nonempty(path):
            return "missing", None
        idx_keys = self.spark.read.parquet(path).select(KEY_COL)
        # tombstoned index keys are NOT drift: probes filter them out
        # (deferred physical purge), so a delete never forces a rebuild
        live_idx = idx_keys
        tomb = self._tombstones_hinted()
        if tomb is not None:
            live_idx = idx_keys.join(tomb, KEY_COL, "left_anti")
        gone = live_idx.join(serve, KEY_COL, "left_anti").limit(1).count()
        if gone:
            return "rebuild", None
        new = serve.join(idx_keys, KEY_COL, "left_anti")
        n_new = new.count()
        if n_new == 0:
            return "current", None
        n_idx = live_idx.count()
        if n_new > rebuild_fraction * (n_idx + n_new):
            return "rebuild", None
        return "append", new

    # PQ serving knobs (memory/recall trade; 8x8 = 1 byte per 8 dims)
    pq_m = 8
    pq_nbits = 8

    def build_pq_index(self, column: str) -> None:
        """Train the PQ codebook on the serve view and cache the coded
        (key, pq_code) table -- ``pq_m`` bytes per row instead of the
        float vector. Called lazily by strategy='pq'; safe to call
        eagerly after bulk loads."""
        from letsearch_spark.operators.pq import encode_pq, train_pq

        emb = (
            self._serve_view(column)
            .where(F.col("content").isNotNull())
            .select(KEY_COL, "vector")
        )
        cb = train_pq(
            emb, m=self.pq_m, nbits=self.pq_nbits, key_col=KEY_COL
        )
        coded = (
            encode_pq(emb, cb).select(KEY_COL, "pq_code").cache()
        )
        coded.count()  # materialize so per-query cost is the ADC scan only
        self._pq_index[column] = (cb, coded)

    def _search_pq(self, column: str, qvec, limit: int) -> DataFrame:
        from letsearch_spark.operators.pq import pq_topk

        if column not in self._pq_index:
            self.build_pq_index(column)
        cb, coded = self._pq_index[column]
        hits = pq_topk(coded, cb, qvec, k=limit, key_col=KEY_COL)
        return self._fetch_back_hits(hits, column, limit)

    def _raw_serve_frame(self, column: str) -> DataFrame:
        """UNCACHED (key, vector, content, _vnorm) frame straight off the
        parquet tables -- the memory-tier strategies (hamming) rescore
        against THIS, never against the cached float serve view: caching
        the floats is exactly what those strategies exist to avoid. Same
        dequantize + norm arithmetic as :meth:`_serve_view`, so scores
        stay bit-identical.

        The PLAN (not the data) is memoized per column, the
        :meth:`docs` precedent (r11, guide §4 -- the driver boundary):
        rebuilding it costs a parquet-listing analysis plus the l2_norm
        expression composition in py4j round-trips on EVERY hamming
        search / rescore call (profiled at ~0.3-1.7 s of pure driver
        time under cProfile). ``_invalidate_cache`` drops the memo on
        every write, so new files and tombstones are never missed."""
        key = f"__rawserve_{column}"
        memo = self._emb_cache.get(key)
        if memo is not None:
            return memo
        from letsearch_spark.functions.vector import l2_norm

        emb = self.embeddings(column).select(KEY_COL, "vector")
        if self.config.model_variant != "f32":
            from letsearch_spark.functions.quantize import dequantize_column

            emb = dequantize_column(emb, "vector", self.config.model_variant)
        docs = self.docs().select(F.col(KEY_COL), F.col(column).alias("content"))
        frame = emb.withColumn("_vnorm", l2_norm("vector")).join(
            docs, KEY_COL
        )
        self._emb_cache[key] = frame
        return frame

    def hamming_path(self, column: str) -> str:
        return os.path.join(self.home, "hamming", f"column={column}")

    def _hamming_center(self, column: str) -> list[float]:
        """Per-dimension mean of the indexed vectors -- the signature
        threshold. Plain sign-at-zero bits degenerate when an embedding
        family is not centered (e.g. all-non-negative count/hash
        embeddings set EVERY bit and Hamming distance collapses to 0
        for all pairs); centering at the mean restores the
        Goemans-Williamson angle relation for the residuals.

        A plain double ``avg`` per dimension (one partial-aggregable
        shuffle of dim keys) -- NOT the fixed-point pooling: a long
        fixed-point sum silently wraps int64 around ~1e10 rows x unit
        scale (review r7), while the center needs no cross-run
        bit-reproducibility anyway: it is collected ONCE here, then
        frozen as the ``_center.npy`` sidecar that both the stored
        signatures and every query read back -- internal consistency
        comes from the sidecar, not from the aggregation order."""
        cached = self._emb_cache.get(f"__serve_{column}")
        base = cached if cached is not None else self._raw_serve_frame(column)
        rows = (
            base.where(F.col("content").isNotNull())
            .select(F.posexplode("vector").alias("pos", "x"))
            .groupBy("pos")
            .agg(F.avg(F.col("x").cast("double")).alias("c"))
            .collect()
        )
        if not rows:
            raise ValueError(f"no embedded rows to index for {column!r}")
        return [float(r["c"]) for r in sorted(rows, key=lambda r: r["pos"])]

    def _centered_sig_col(self, center: list[float]):
        """Catalyst expression: sign bits of (vector - center)."""
        from letsearch_spark.operators.hamming import signbits_col

        centered = F.zip_with(
            F.col("vector"),
            F.array(*[F.lit(float(c)) for c in center]),
            lambda x, c: x.cast("double") - c,
        )
        return signbits_col(centered, len(center))

    def _hamming_sig_frame(self, column: str, center: list[float]) -> DataFrame:
        """(key, _sig) computed straight off the parquet tables (reusing
        the float serve view only when some OTHER strategy already
        cached it): the point of the signature tier is serving a
        collection whose float view does NOT fit in cluster memory, so
        building signatures must not materialize that float cache."""
        cached = self._emb_cache.get(f"__serve_{column}")
        base = cached if cached is not None else self._raw_serve_frame(column)
        emb = base.where(F.col("content").isNotNull())
        return emb.select(
            KEY_COL, self._centered_sig_col(center).alias("_sig")
        )

    def _centered_query_rows(self, column: str, vecs) -> list[tuple]:
        """(query_idx, qvec) rows with the hamming-index CENTER
        subtracted -- the one copy of the centering rule for batched
        signature scans (r10 review catch: search_many and the MaxSim
        hamming prefilter previously duplicated it). Stored signatures
        threshold at the per-dim mean, so queries must subtract the
        SAME center before the operator packs them; builds the index
        (and with it the center, which build populates in lockstep) if
        missing. Plain driver-side rows (r11): hamming_knn_join packs
        them locally, so round-tripping through createDataFrame +
        collect was one pointless Spark job per serving call."""
        if column not in self._hamming_index:
            self.build_hamming_index(column)
        center = self._hamming_centers[column]
        return [
            (i, [float(x) - c for x, c in zip(v, center)])
            for i, v in enumerate(vecs)
        ]

    def refresh_hamming_index(self, column: str) -> str:
        """Bring the on-disk (key, sig) parquet at :meth:`hamming_path`
        up to date at BATCH cost -- the signature sibling of
        :meth:`refresh_ivf_pq_index`, but simpler: signatures are pure
        per-row functions of the vector (no quantizer to freeze or
        drift), so incremental maintenance is EXACT at any fraction --
        'append' just computes the new keys' signatures. 'rebuild' only
        when indexed keys vanished outside the tombstone protocol (a
        full replace); a full re-embed deletes the directory outright
        via ``_drop_index_meta`` (same stale-vector guard as IVF-PQ).
        Returns 'built' | 'current' | 'appended' | 'rebuilt'."""
        import io

        import numpy as np

        path = self.hamming_path(column)
        cpath = os.path.join(path, "_center.npy")
        action, new = self._plan_index_refresh(
            column, path, rebuild_fraction=self.hamming_recenter_fraction
        )
        center = None
        if action in ("current", "append"):
            raw = self._fs_read_bytes(cpath)
            if raw is not None:
                center = [float(x) for x in np.load(io.BytesIO(raw))]
            if center is None:
                action = "rebuild"  # signature data without its center
        def _drop_cached_sig_view() -> None:
            # any change to the on-disk signatures must invalidate the
            # in-memory view, or an explicit refresh (the streaming
            # refresh_index='hamming' path, or a second Collection over
            # the same storage) would keep serving the pre-refresh
            # snapshot out of the cache (r10 second-review catch -- the
            # same hole _drop_cached_view closes for the pooled-centroid
            # sidecar)
            view = self._hamming_index.pop(column, None)
            if view is not None:
                try:
                    view.unpersist()
                except Exception:
                    pass

        if action == "current":
            self._hamming_centers[column] = center
            return "current"
        if action == "append":
            # new contains the fresh serve rows (key, vector); compute
            # ONLY their signatures under the FROZEN center (like IVF-PQ's
            # frozen centroids -- the threshold must match the stored
            # signatures). The signatures themselves are exact at any
            # fraction, but the CENTER is statistical: once the
            # un-indexed fraction crosses ``hamming_recenter_fraction``
            # the planner returns 'rebuild' instead, recomputing the
            # mean over the grown corpus -- without that bound a corpus
            # that drifts (e.g. a new all-positive embedding source)
            # would silently re-degenerate the bits the centering
            # exists to fix
            (
                new.select(
                    KEY_COL, self._centered_sig_col(center).alias("_sig")
                )
                .write.mode("append")
                .parquet(path)
            )
            self._hamming_centers[column] = center
            _drop_cached_sig_view()
            return "appended"
        center = self._hamming_center(column)
        staged = path + ".build"
        self._hamming_sig_frame(column, center).write.mode("overwrite").parquet(
            staged
        )
        buf = io.BytesIO()
        np.save(buf, np.asarray(center, dtype=np.float64))
        self._fs_write_bytes(os.path.join(staged, "_center.npy"), buf.getvalue())
        self._fs_replace(staged, path)
        self._hamming_centers[column] = center
        _drop_cached_sig_view()
        return "built" if action == "missing" else "rebuilt"

    def build_hamming_index(self, column: str) -> None:
        """Cache the signature view for strategy='hamming': (key,
        sig[, filter columns]) at 1 bit per dimension
        (operators/hamming.py) -- ~32x smaller than the float serve
        view, no training step. Called lazily on first use; safe to
        call eagerly after bulk loads.

        The signatures PERSIST as parquet (:meth:`hamming_path`,
        maintained by :meth:`refresh_hamming_index`): a process restart
        or an append tops the sidecar up incrementally instead of
        re-scanning every float vector -- at 100 TB the cold-start scan
        is the dominant cost of a cache-only design. The in-memory view
        is that parquet (32x smaller IO than the vectors), minus
        tombstones, plus ``serve_filter_columns`` joined from the docs
        table at cache time (same copy-at-build + rebuild-on-growth
        contract as the float serve view), so
        ``search(where=..., strategy='hamming')`` predicates evaluate
        scan-side BEFORE the candidate ranking -- no per-query join."""
        extra = [
            c
            for c in self.serve_filter_columns
            if c not in (KEY_COL, "content", "vector", "_vnorm", "_sig", column)
        ]
        self.refresh_hamming_index(column)
        idx = self.spark.read.parquet(self.hamming_path(column))
        tomb = self._tombstones_hinted()
        if tomb is not None:
            idx = idx.join(tomb, KEY_COL, "left_anti")
        if extra:
            idx = idx.join(self.docs().select(KEY_COL, *extra), KEY_COL)
        idx = idx.cache()
        idx.count()  # materialize: per-query cost is the bit-math scan only
        self._hamming_index[column] = idx

    # ---- grouped-MaxSim pooled-centroid sidecar (r10, VERDICT r9 #1) ----

    # fixed-point units for the sidecar pooling: integer accumulation
    # makes the pooled centroids bit-deterministic under ANY partitioning
    # (double sums are order-dependent across partitions), so the
    # persisted sidecar and an inline re-pool can never disagree on a
    # candidate cut
    maxsim_pool_units: int = 1_000_000

    def maxsim_pool_path(self, column: str, group_col: str) -> str:
        return os.path.join(
            self.home, "maxsim_pool", f"column={column}", f"group={group_col}"
        )

    def _maxsim_pool_live_frame(self, column: str, group_col: str) -> DataFrame:
        """(group_col, vector) rows the pooled sidecar summarizes -- the
        SAME population the exact grouped serving path scores (serve
        rows with non-null content, minus tombstones via the docs
        join), WITHOUT materializing the float serve cache (the hamming
        build invariant: index maintenance must not pay for a cache
        only the exact tier needs). Null/empty vectors are excluded so
        the refresh count diff and the pooled ``n_vecs`` agree by
        construction (the pooling explode drops them anyway)."""
        cached = self._emb_cache.get(f"__serve_{column}")
        base = cached if cached is not None else self._raw_serve_frame(column)
        base = base.where(F.col("content").isNotNull()).select(
            KEY_COL, "vector"
        )
        groups = self.docs().select(KEY_COL, group_col)
        return (
            base.join(groups, KEY_COL)
            .where(F.coalesce(F.size("vector"), F.lit(0)) > 0)
            .select(group_col, "vector")
        )

    def refresh_maxsim_pool_index(self, column: str, group_col: str) -> str:
        """Bring the on-disk pooled-centroid sidecar at
        :meth:`maxsim_pool_path` up to date at BATCH cost: one row per
        ``group_col`` value with the group's L2-normalized fixed-point
        mean vector ``_pv`` and its live chunk count ``n_vecs``. This
        is the serving index behind the grouped MaxSim prefilter
        (:meth:`search_multi` ``prefilter_k`` + ``group_col``) -- built
        here once, so candidate generation never re-runs the corpus
        pooling aggregation per call.

        The change signal is a per-group COUNT diff against the live
        serve rows: it catches new groups, new chunks behind an
        EXISTING group, and tombstoned/purged chunks (any of which move
        the mean), and only the touched groups' CHUNKS are re-pooled --
        untouched groups' rows are copied from the slim sidecar itself.
        A full re-embed changes vectors behind existing keys, invisible
        to any count diff, so ``_drop_index_meta`` deletes the
        directory outright (the hamming stale-vector guard). The swap
        is staged-write + rename. Returns 'built'|'current'|'refreshed'.

        Scale note: a refresh REWRITES the |groups|-row sidecar (slim:
        dim doubles + a long per row) but re-POOLS only changed groups'
        chunks; at 100M+ groups the rewrite is sequential parquet of
        group rows vs the full chunk-corpus scan the count diff avoids.
        If the group-row rewrite itself ever dominates, the next step
        is hash-bucketed partitions with dynamic overwrite -- not
        needed while pooling cost >> group-row IO."""
        from letsearch_spark.operators.pool import mean_pool_vectors

        path = self.maxsim_pool_path(column, group_col)
        live = self._maxsim_pool_live_frame(column, group_col)
        staged = path + ".build"

        def _drop_cached_view() -> None:
            # a successful swap must invalidate the in-memory view, or
            # a caller who refreshes explicitly (the streaming
            # refresh_index path) would keep serving the pre-refresh
            # snapshot out of the cache
            view = self._maxsim_pool.pop((column, group_col), None)
            if view is not None:
                try:
                    view.unpersist()
                except Exception:
                    pass

        if not self._fs_nonempty(path):
            pooled = mean_pool_vectors(
                live,
                [group_col],
                "vector",
                out_col="_pv",
                normalize=True,
                exact_units=self.maxsim_pool_units,
            )
            pooled.write.mode("overwrite").parquet(staged)
            self._fs_replace(staged, path)
            _drop_cached_view()
            return "built"
        idx = self.spark.read.parquet(path)
        cur = live.groupBy(group_col).agg(F.count("*").alias("_cur"))
        old = idx.select(
            F.col(group_col).alias("_ig"), F.col("n_vecs").alias("_idx")
        )
        # full outer, null-safe: a NULL group is a real group (the
        # exact path's groupBy keeps it). Side presence is read off the
        # COUNT columns, never the group value -- _cur/_idx are >= 1
        # whenever their side matched, so NULL there means "absent on
        # that side" unambiguously even when the group value IS NULL.
        # PERSISTED (r10 review catch): changed/keep/stale all derive
        # from this frame, and without the persist each consumer would
        # re-run the corpus-sized live count aggregation -- 3-4 full
        # scans per refresh at the very scale this index exists for.
        diff = cur.join(
            old, F.col(group_col).eqNullSafe(F.col("_ig")), "full_outer"
        ).persist()
        try:
            changed = diff.where(
                F.col("_idx").isNull()  # new group
                | F.col("_cur").isNull()  # group fully gone
                | (F.col("_cur") != F.col("_idx"))  # chunk count moved
            )
            if changed.limit(1).count() == 0:
                return "current"
            stale = changed.where(F.col("_cur").isNotNull()).select(
                F.col(group_col).alias("_sg")
            )
            keep = idx.join(
                diff.where(F.col("_cur") == F.col("_idx")).select(
                    F.col(group_col).alias("_kg")
                ),
                F.col(group_col).eqNullSafe(F.col("_kg")),
                "left_semi",
            )
            repooled = mean_pool_vectors(
                live.join(
                    stale,
                    F.col(group_col).eqNullSafe(F.col("_sg")),
                    "left_semi",
                ),
                [group_col],
                "vector",
                out_col="_pv",
                normalize=True,
                exact_units=self.maxsim_pool_units,
            )
            # the staged write fully materializes (reading the OLD
            # sidecar for the kept rows) before the rename swaps it in
            keep.unionByName(repooled).write.mode("overwrite").parquet(
                staged
            )
            self._fs_replace(staged, path)
            _drop_cached_view()
        finally:
            diff.unpersist()
        return "refreshed"

    def _maxsim_pool_view(self, column: str, group_col: str) -> DataFrame:
        """Cached (group_col, _pv) view over the pooled-centroid
        sidecar: refresh lazily, then materialize in memory (|groups|
        slim rows -- the hamming-view pattern); cleared in lockstep by
        ``_invalidate_cache``. After the first use, a prefilter leg
        costs one in-memory scan + map-side top-k -- no pooling, no
        shuffle, no window."""
        key = (column, group_col)
        view = self._maxsim_pool.get(key)
        if view is not None:
            return view
        self.refresh_maxsim_pool_index(column, group_col)
        from letsearch_spark.functions.vector import l2_norm

        # _pvn: the centroid's norm precomputed INTO the cache (r10) --
        # a prefilter leg's cosine is then one fold per row instead of
        # three, bit-identical (the _vnorm/_serve_score precedent)
        view = (
            self.spark.read.parquet(self.maxsim_pool_path(column, group_col))
            .select(group_col, "_pv", l2_norm("_pv").alias("_pvn"))
            .cache()
        )
        view.count()
        self._maxsim_pool[key] = view
        return view

    # driver-side IN-list ceiling for the hamming rescore fetch: below
    # it the <=rescore candidate keys collect and push down to the
    # parquet scans as an IN filter (row-group pruning on the key-sorted
    # layout); above it the rescore stays a distributed broadcast join
    # (no driver blowup when rescore is cranked toward exactness)
    hamming_inlist_max: int = 10_000

    def _search_hamming(
        self, column: str, qvec, limit: int, where: str | None = None
    ) -> DataFrame:
        """Hamming scan over the cached signature view (TakeOrdered --
        only ``hamming_rescore`` rows leave the scan), then the exact
        cosine rescore + content projection against the PARQUET tables
        (scores bit-identical to strategy='join' for the candidates it
        keeps). The float serve view is never cached on this path --
        that is the memory play: 1 bit/dim in RAM, O(rescore) rows of
        float IO per query, pushed down to the key-sorted parquet as an
        IN filter. ``where`` (r7): predicate over
        ``serve_filter_columns`` carried IN the signature view,
        evaluated scan-side BEFORE the candidate ranking
        (pre-filter-then-rank, same contract as the join path -- but
        the ranking itself stays hamming-approximate)."""
        from letsearch_spark.operators.hamming import (
            hamming_distance_col,
            pack_signbits,
        )

        extra = [
            c
            for c in self.serve_filter_columns
            if c not in (KEY_COL, "content", "vector", "_vnorm", "_sig", column)
        ]
        idx = self._hamming_index.get(column)
        if idx is not None and any(c not in idx.columns for c in extra):
            # serve_filter_columns grew since the build (same rebuild
            # rule as the float serve view)
            self._hamming_index.pop(column).unpersist()
            idx = None
        if idx is None:
            self.build_hamming_index(column)
            idx = self._hamming_index[column]
        # invariant: build_hamming_index (just ensured above) always
        # runs refresh, which populates the center; the two caches are
        # cleared in lockstep by _invalidate_cache
        center = self._hamming_centers[column]
        scan = idx.where(F.expr(where)) if where is not None else idx
        # the stored signatures threshold at the per-dim mean, so the
        # query must subtract the SAME center before packing
        qsig = pack_signbits([float(x) - c for x, c in zip(qvec, center)])
        depth = max(self.hamming_rescore, limit)
        candidates = (
            scan.select(KEY_COL, hamming_distance_col("_sig", qsig).alias("_ham"))
            .orderBy(F.asc("_ham"), F.asc(KEY_COL))
            .limit(depth)
        )
        cached = self._emb_cache.get(f"__serve_{column}")
        if cached is not None:
            # some OTHER strategy already paid for the float cache --
            # rescoring against it is one broadcast join, zero IO, and
            # costs this path nothing extra in memory
            cand = cached.join(
                F.broadcast(candidates.select(KEY_COL)), KEY_COL
            )
        else:
            base = self._raw_serve_frame(column)
            if depth <= self.hamming_inlist_max:
                keys = [
                    r[KEY_COL] for r in candidates.select(KEY_COL).collect()
                ]
                cand = (
                    base.where(F.col(KEY_COL).isin(keys))
                    if keys
                    else base.limit(0)
                )
            else:
                cand = base.join(
                    F.broadcast(candidates.select(KEY_COL)), KEY_COL
                )
        return (
            cand.where(F.col("content").isNotNull())
            .select(
                F.col(KEY_COL).alias("key"),
                "content",
                self._serve_score(qvec).alias("score"),
            )
            .orderBy(F.desc("score"), F.asc("key"))
            .limit(limit)
        )

    def ivf_pq_path(self, column: str) -> str:
        return os.path.join(self.home, "ivf_pq", f"column={column}")

    def _fetch_back_hits(self, hits, column: str, limit: int) -> DataFrame:
        """Shared <=100-row fetch-back: broadcast the hit set against
        the docs table, drop null content (P6), serve in (score desc,
        key asc) order -- used by the pq / ivf_pq strategies."""
        docs = self.docs().select(
            F.col(KEY_COL), F.col(column).alias("content")
        )
        return (
            F.broadcast(hits)
            .join(docs, KEY_COL)
            .where(F.col("content").isNotNull())
            .select(F.col(KEY_COL).alias("key"), "content", "score")
            .orderBy(F.desc("score"), F.asc("key"))
            .limit(limit)
        )

    def refresh_ivf_pq_index(self, column: str) -> str:
        """Bring the on-disk IVF-PQ index up to date at BATCH cost:
        append-assign + encode only the NEW keys under the frozen
        coarse centroids and codebook while the un-indexed fraction
        stays within ``ivf_rebuild_fraction``; retrain + re-encode
        otherwise. Returns 'built' | 'current' | 'appended' |
        'rebuilt'."""
        from letsearch_spark.operators.pq import append_ivf_pq

        path = self.ivf_pq_path(column)
        action, new = self._plan_index_refresh(column, path)
        meta = None
        if action in ("current", "append"):
            meta = self._ivf_pq_index.get(column)
            if meta is None and self._load_ivf_pq_meta(column):
                meta = self._ivf_pq_index[column]
            if meta is None:
                action = "rebuild"  # index data without its quantizers
        if action == "current":
            return "current"
        if action == "append":
            centroids, cb = meta
            append_ivf_pq(new, path, centroids, cb)
            return "appended"
        self.build_ivf_pq_index(column)
        return "built" if action == "missing" else "rebuilt"

    def build_ivf_pq_index(self, column: str) -> None:
        """Train coarse centroids + PQ codebook and persist the coded
        index partitioned by list (operators/pq.py build_ivf_pq) --
        (key, pq_code) only, no float vectors on disk. Both models are
        saved as underscore-prefixed files INSIDE the index dir (Spark
        readers ignore them), so a fresh process reuses the index
        instead of retraining. Full (re)build -- prefer
        :meth:`refresh_ivf_pq_index`."""
        import numpy as np

        from letsearch_spark.operators.pq import build_ivf_pq

        emb = self._index_serve_frame(column)
        centroids, cb = build_ivf_pq(
            emb,
            self.ivf_pq_path(column),
            nlist=self.ivf_nlist,
            m=self.pq_m,
            nbits=self.pq_nbits,
            key_col=KEY_COL,
            train=self.ivf_train,
        )
        import io

        buf = io.BytesIO()
        np.save(buf, centroids)
        self._fs_write_bytes(
            os.path.join(self.ivf_pq_path(column), "_centroids.npy"),
            buf.getvalue(),
        )
        cbuf = io.BytesIO()
        cb.save(cbuf)  # np.savez writes straight to the file object
        self._fs_write_bytes(
            os.path.join(self.ivf_pq_path(column), "_codebook.npz"),
            cbuf.getvalue(),
        )
        self._ivf_pq_index[column] = (centroids, cb)

    def _drop_index_meta(self, column: str) -> None:
        """Full-overwrite writes (re-embed, re-import) drop the on-disk
        quantizer files: existing keys may now carry DIFFERENT vectors,
        which the refresh key-diff cannot see, so the quantizer-missing
        path forces the rebuild (the in-memory dicts only protect THIS
        process). Append-only writes skip this (drop_index_meta=False)
        and let :meth:`refresh_ivf_pq_index`/:meth:`refresh_hamming_index`
        top the indexes up at batch cost."""
        path = self.ivf_pq_path(column)
        for name in ("_centroids.npy", "_codebook.npz"):
            try:
                self._fs_delete(os.path.join(path, name))
            except Exception:
                pass
        # the signature parquet has no quantizer file to drop, so the
        # same stale-vector guard deletes the directory itself (a full
        # re-embed changes vectors behind EXISTING keys, which the
        # refresh key-diff cannot see)
        try:
            self._fs_delete(self.hamming_path(column))
        except Exception:
            pass
        # same guard for the pooled-centroid sidecar (r10): its count
        # diff cannot see new vectors behind unchanged counts either --
        # drop the whole column directory (every group_col under it)
        try:
            self._fs_delete(
                os.path.join(self.home, "maxsim_pool", f"column={column}")
            )
        except Exception:
            pass

    def _load_ivf_pq_meta(self, column: str) -> bool:
        """Reload persisted (centroids, codebook) from a prior build --
        avoids re-encoding the whole collection on the first ivf_pq
        query of a new process. False when no valid index exists. Both
        sidecars round-trip through the Hadoop FS helpers, so remote
        collection homes (hdfs/s3a/gs) persist like local paths."""
        import io

        import numpy as np

        from letsearch_spark.operators.pq import PQCodebook

        craw = self._fs_read_bytes(
            os.path.join(self.ivf_pq_path(column), "_centroids.npy")
        )
        braw = self._fs_read_bytes(
            os.path.join(self.ivf_pq_path(column), "_codebook.npz")
        )
        if craw is None or braw is None:
            return False
        self._ivf_pq_index[column] = (
            np.load(io.BytesIO(craw)),
            PQCodebook.load(io.BytesIO(braw)),
        )
        return True

    def _search_ivf_pq(self, column: str, qvec, limit: int) -> DataFrame:
        from letsearch_spark.operators.pq import ivf_pq_topk

        if column not in self._ivf_pq_index:
            # validates freshness against the embeddings and tops the
            # index up incrementally (or rebuilds when it must)
            self.refresh_ivf_pq_index(column)
        centroids, cb = self._ivf_pq_index[column]
        hits = ivf_pq_topk(
            self.spark,
            self.ivf_pq_path(column),
            centroids,
            cb,
            qvec,
            k=limit,
            nprobe=self.ivf_nprobe,
            key_col=KEY_COL,
            exclude=self._tombstones_hinted(),
        )
        return self._fetch_back_hits(hits, column, limit)

    @staticmethod
    def _local_topk(bundle, qvec, limit: int, order_digits=None) -> list[tuple]:
        """``order_digits`` rounds the ordering key (scores returned stay
        raw): the hybrid legs rank on round-12 similarities in BOTH the
        local and the distributed path, so sub-ulp float differences
        between numpy and Catalyst dot products cannot flip a rank."""
        import numpy as np

        keys, mat, contents = bundle
        q = np.asarray(qvec, dtype=np.float64)
        qn = np.linalg.norm(q)
        if qn > 0:
            q = q / qn
        sims = mat @ q
        order_key = (
            np.round(sims, order_digits) if order_digits is not None else sims
        )
        order = np.lexsort((keys, -order_key))
        rows_out = []
        for i in order:
            if contents[i] is None:  # P6 null-content drop
                continue
            rows_out.append((int(keys[i]), contents[i], float(sims[i])))
            if len(rows_out) == limit:
                break
        return rows_out

    def _local_bundle(self, column: str):
        import numpy as np

        bundle = self._local_idx.get(column)
        if bundle is None:
            view = self._serve_view(column)
            # strategy='local' collects the WHOLE serve view into driver
            # RAM (the reference's in-RAM serving model, driver-sized
            # collections only). Refuse loudly past the ceiling instead
            # of OOMing the driver; the count runs on the cached view,
            # so it is paid once per (re)build.
            n = view.count()
            if n > self.local_serve_max_rows:
                raise RuntimeError(
                    f"collection {self.config.name!r} column {column!r} has "
                    f"{n} rows -- above local_serve_max_rows="
                    f"{self.local_serve_max_rows} for driver-local serving; "
                    f"use strategy='join' or strategy='hamming' (distributed), "
                    f"or raise collection.local_serve_max_rows explicitly"
                )
            rows = view.collect()
            keys = np.array([r[KEY_COL] for r in rows], dtype=np.int64)
            mat = np.array([r["vector"] for r in rows], dtype=np.float64)
            norms = np.linalg.norm(mat, axis=1, keepdims=True)
            norms[norms == 0] = 1.0
            mat = mat / norms
            contents = [r["content"] for r in rows]
            bundle = (keys, mat, contents)
            self._local_idx[column] = bundle
        return bundle

    def _local_lex_bundle(self, column: str):
        """Driver-RAM inverted index over the local serve bundle:
        ({term: (row_positions i64, weights f64)}, keys i64, n_rows),
        tokenized with the exact analyzer build_postings uses so scores
        reproduce the distributed lexical leg.

        The FULL BM25 contribution of a (term, doc) posting --
        idf * tf*(k1+1)/(tf + k1*(1-b+b*dl/avgdl)) -- is static, so it
        is precomputed here once; a query is then just concatenate +
        bincount over its terms' arrays (the round-4 per-posting Python
        loop was the measured hot spot of search_topk_local_hybrid:
        ~26 ms/query at sf0.1, ~0.2 ms vectorized). The elementwise
        expression order matches the old scalar loop exactly, and
        bincount accumulates weights in array order (= term order), so
        summed scores are bit-identical to the loop's.

        Sits under the same local_serve_max_rows ceiling as the dense
        bundle (it is built FROM it); the one-time build is a Python
        pass over the corpus text -- driver-sized collections only,
        like everything strategy='local'."""
        cached = self._local_idx.get(f"__lex_{column}")
        if cached is None:
            import math
            import re
            from collections import Counter

            import numpy as np

            from letsearch_spark.operators.bm25 import (
                B_DEFAULT,
                K1_DEFAULT,
                TOKEN_PATTERN,
            )

            keys, _mat, contents = self._local_bundle(column)
            raw: dict[str, list[tuple[int, int]]] = {}
            dl: dict[int, int] = {}  # row position -> doc length
            for pos, c in enumerate(contents):
                if c is None:
                    continue
                toks = [
                    t
                    for t in re.sub(TOKEN_PATTERN, " ", c.lower()).split(" ")
                    if t
                ]
                if not toks:
                    continue
                dl[pos] = len(toks)
                for t, tf in Counter(toks).items():
                    raw.setdefault(t, []).append((pos, tf))
            n_docs = len(dl)
            avgdl = (sum(dl.values()) / n_docs) if n_docs else 0.0
            k1, b = K1_DEFAULT, B_DEFAULT
            postings: dict[str, tuple[np.ndarray, np.ndarray]] = {}
            if n_docs and avgdl > 0.0:
                for t, plist in raw.items():
                    df = len(plist)
                    idf = math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                    p_arr = np.fromiter(
                        (p for p, _tf in plist), dtype=np.int64, count=df
                    )
                    tf_arr = np.fromiter(
                        (tf for _p, tf in plist), dtype=np.float64, count=df
                    )
                    dl_arr = np.fromiter(
                        (dl[p] for p, _tf in plist), dtype=np.float64, count=df
                    )
                    w = idf * (
                        tf_arr
                        * (k1 + 1.0)
                        / (tf_arr + k1 * (1.0 - b + b * dl_arr / avgdl))
                    )
                    postings[t] = (p_arr, w)
            keys_arr = np.asarray(keys, dtype=np.int64)
            cached = (postings, keys_arr, len(keys_arr))
            self._local_idx[f"__lex_{column}"] = cached
        return cached

    def _local_hybrid_rows(
        self, column: str, query: str, qvec, limit: int
    ) -> list[tuple]:
        """Driver-local hybrid: dense numpy leg + Python BM25 leg over
        the in-RAM inverted index, RRF-fused -- zero Spark jobs per
        query once both bundles are built. Same legs, depths, rounding
        (6 decimals before ranking) and (-score, key) tie-breaks as the
        distributed hybrid, so results match it exactly
        (test_search_rows_local_hybrid_matches_spark)."""
        import numpy as np

        from letsearch_spark.operators.bm25 import tokenize_query

        depth = self._HYBRID_DEPTH
        bundle = self._local_bundle(column)
        # order_digits=12 mirrors the distributed dense leg's round-12
        # ordering key: both paths rank on the same quantized grid
        dense = self._local_topk(bundle, qvec, depth, order_digits=12)
        leg_keys = [[k for k, _c, _s in dense]]
        content_of = {k: c for k, c, _s in dense}

        terms = tokenize_query(query)
        if terms:
            postings, keys_arr, n_rows = self._local_lex_bundle(column)
            parts = [
                postings[t] for t in terms if t in postings
            ]
            if parts:
                pos = np.concatenate([p for p, _w in parts])
                w = np.concatenate([w for _p, w in parts])
                # bincount adds weights in array order = term order, so
                # per-doc accumulation matches the old scalar loop
                scores = np.bincount(pos, weights=w, minlength=n_rows)
                hits = np.bincount(pos, minlength=n_rows)
                cand = np.nonzero(hits)[0]
                s6 = np.round(scores[cand], 6)
                ck = keys_arr[cand]
                # rank by (-score, key): lexsort's last key is primary
                order = np.lexsort((ck, -s6))[:depth]
                lex_keys = [int(k) for k in ck[order]]
                leg_keys.append(lex_keys)
                _keys_arr, _mat, contents = bundle
                for p in cand[order]:
                    k = int(keys_arr[p])
                    if k not in content_of:
                        content_of[k] = contents[p]

        top = self._rrf_ranks(leg_keys, limit)
        return [
            (k, content_of[k], s)
            for k, s in top
            if content_of.get(k) is not None  # P6 null-content drop
        ]

    def search_rerank(
        self,
        column: str,
        query: str,
        limit: int = 10,
        retrieve_limit: int = 100,
        scorer=None,
        strategy: str = "join",
    ) -> DataFrame:
        """Two-stage retrieve-then-rerank (the standard RAG pattern the
        reference's dense-only serving stops short of): any first-stage
        ``strategy`` fetches ``retrieve_limit`` candidates, then
        ``scorer(query, contents) -> scores`` rescales them and the top
        ``limit`` survive.

        The scorer runs driver-side over the <= 100 candidates -- the
        honest shape for a cross-encoder: its cost is per-candidate
        model inference, bounded by retrieve_limit, not data size. The
        default scorer is deterministic lexical token overlap (Jaccard
        against the query), a stand-in with the same signature a real
        cross-encoder plugs into.

        Returns (key, content, score, retrieval_score), score =
        reranker's, ties broken by retrieval score then key."""
        if not 1 <= limit <= retrieve_limit <= 100:
            raise ValueError(
                "need 1 <= limit <= retrieve_limit <= 100, got "
                f"limit={limit} retrieve_limit={retrieve_limit}"
            )
        if scorer is None:
            scorer = _overlap_scorer
        cands = self.search(
            column, query, limit=retrieve_limit, strategy=strategy
        ).collect()
        scores = list(scorer(query, [r["content"] for r in cands]))
        if len(scores) != len(cands):
            raise ValueError(
                f"scorer returned {len(scores)} scores for "
                f"{len(cands)} candidates"
            )
        rows = sorted(
            (
                (int(r["key"]), r["content"], float(s), float(r["score"]))
                for r, s in zip(cands, scores)
            ),
            key=lambda t: (-t[2], -t[3], t[0]),
        )[:limit]
        return _rows_df(self.spark, rows, _RERANK_SCHEMA)

    def search_rows(
        self, column: str, query: str, limit: int = 10, strategy: str = "local"
    ) -> list[dict]:
        """Serving-layer search: plain (key, content, score) dicts.

        With strategy='local' (dense) or 'local_hybrid' (dense + BM25,
        RRF-fused) no Spark job runs at all once the bundles are built
        -- this matches the reference's per-query cost model (in-RAM
        index + table, serve.rs latency class); 'local_hybrid' returns
        the same results as the distributed strategy='hybrid'. Other
        strategies delegate to :meth:`search` and collect."""
        if strategy in ("local", "local_hybrid"):
            if not 1 <= limit <= 100:
                raise ValueError(f"limit must be in [1, 100], got {limit}")
            if column not in self.config.index_columns:
                raise ValueError(f"column {column!r} is not indexed")
            self._require_embeddings(column)
            qvec = self._embedder().embed([query])[0].tolist()
            if strategy == "local":
                rows = self._local_topk(
                    self._local_bundle(column), qvec, limit
                )
            else:
                rows = self._local_hybrid_rows(column, query, qvec, limit)
            return [
                {"key": k, "content": c, "score": s} for k, c, s in rows
            ]
        return [
            {"key": r["key"], "content": r["content"], "score": r["score"]}
            for r in self.search(column, query, limit=limit, strategy=strategy).collect()
        ]

    def _serve_view(self, column: str) -> DataFrame:
        """Cached denormalized serving view (key, vector, content) -- the
        analog of the reference holding index + table open while serving
        (collection_actor.rs:143-159). Built once, invalidated on writes."""
        # the built view never carries these names (the indexed column is
        # aliased to 'content'), so the rebuild check below must apply the
        # SAME exclusion as the build -- otherwise listing e.g. the indexed
        # column in serve_filter_columns would read as a perpetual cache
        # miss and rebuild the view on every search
        extra = [
            c
            for c in self.serve_filter_columns
            if c not in (KEY_COL, "content", "vector", "_vnorm", column)
        ]
        view = self._emb_cache.get(f"__serve_{column}")
        if view is not None and any(c not in view.columns for c in extra):
            # serve_filter_columns grew since the build: rebuild so
            # search(where=...) predicates can see the new columns
            self._emb_cache.pop(f"__serve_{column}").unpersist()
            view = None
        if view is None:
            docs = self.docs().select(
                F.col(KEY_COL), F.col(column).alias("content"), *extra
            )
            emb = self.embeddings(column).select(KEY_COL, "vector")
            if self.config.model_variant != "f32":
                # quantized storage: dequantize ONCE into the cached view
                # (the reference searches its f16 index natively; we pay
                # the same quantization error with float serving math)
                from letsearch_spark.functions.quantize import dequantize_column

                emb = dequantize_column(emb, "vector", self.config.model_variant)
            from letsearch_spark.functions.vector import l2_norm

            # row norms computed ONCE at cache time (_serve_score)
            emb = emb.withColumn("_vnorm", l2_norm(F.col("vector")))
            view = emb.join(docs, KEY_COL).cache()
            view.count()  # materialize now; searches then cost one job
            self._emb_cache[f"__serve_{column}"] = view
        return view
