"""BM25 lexical scoring and reciprocal-rank-fusion hybrid retrieval.

The reference serves pure vector top-k (vector_index.rs:128-152 via the
HTTP search route, serve.rs:148-183); production RAG deployments pair
that dense leg with a lexical (keyword) leg and fuse the two rankings.
This module adds the lexical leg and the fusion as batch DataFrame
operators:

* :func:`tokenize` -- the shared analyzer: lowercase, strip everything
  outside [a-z0-9] to spaces, split. Pure Catalyst (regexp_replace +
  split + filter), no UDF, and character-class-only regex so Java
  (Spark) and RE2-ish (DuckDB oracle) engines agree byte-for-byte.
* :func:`bm25_scores` -- Okapi BM25 (Lucene's idf variant:
  ``ln(1 + (N - df + 0.5)/(df + 0.5))``) of every document against a
  short query string. Scale design: the postings explode is filtered to
  the query's terms BEFORE the aggregating shuffle, so only candidate
  (doc, term) rows -- not the whole corpus's postings -- ever travel;
  corpus stats (N, avgdl) come from one tiny two-scalar aggregate, and
  per-term document frequencies are a window over the aggregated
  candidate rows (a self-join would duplicate the scan+explode
  subtree -- Catalyst does not dedupe it -- doubling corpus reads).
* :func:`bm25_topk` -- scores rounded to 6 decimals (cross-engine float
  determinism, same convention as the cosine entries) with the
  deterministic (score DESC, id ASC) tie-break, LIMIT k => Spark plans
  a TakeOrderedAndProject, never a global sort.
* :func:`rrf_fuse` -- reciprocal-rank fusion ``sum(1/(k0 + rank))``
  over any number of ranked legs (full outer join on the id; a doc
  absent from a leg contributes nothing). Rank arithmetic is integer,
  so the fused score is bit-identical across engines.

At 100 TB: the analyzer and scoring are map-side Catalyst expressions;
the only shuffles are the per-(doc,term) count for query terms only and
the final top-k. df/avgdl statistics would be precomputed once per
corpus snapshot in a real deployment -- pass ``stats=`` to reuse them.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TOKEN_PATTERN = "[^a-z0-9]+"

# Okapi BM25 shape parameters -- shared by every scorer here and by the
# driver-local lexical leg (collection.py _local_hybrid_rows)
K1_DEFAULT = 1.2
B_DEFAULT = 0.75


def tokenize(col: Column | str) -> Column:
    """array<string> of lowercase alphanumeric terms (empties removed)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(
        F.split(F.regexp_replace(F.lower(c), TOKEN_PATTERN, " "), " "),
        lambda t: t != "",
    )


def tokenize_query(query: str) -> list[str]:
    """Driver-side twin of :func:`tokenize` for the (short) query string.

    Duplicate query terms are dropped: BM25 treats the query as a term
    set (a repeated term would double-count its contribution)."""
    import re

    seen: dict[str, None] = {}
    for t in re.sub(TOKEN_PATTERN, " ", query.lower()).split(" "):
        if t:
            seen.setdefault(t, None)
    return list(seen)


def corpus_stats(docs: DataFrame, text_col: str = "text") -> tuple[int, float]:
    """(n_docs, avgdl) over documents with at least one token.

    One aggregate job producing two scalars -- cheap at any scale, and
    cacheable by the caller for repeated queries."""
    dl = docs.select(F.size(tokenize(text_col)).alias("dl")).where(F.col("dl") > 0)
    row = dl.agg(
        F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl")
    ).collect()[0]
    return int(row["n"]), float(row["avgdl"] or 0.0)


def build_postings(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, __term, __tf, __dl): the corpus's aggregated postings.

    The serve-time artifact for repeated BM25 queries: build (and
    persist/cache) once, then every query is a term filter over it
    instead of a fresh corpus scan+explode. One shuffle to build."""
    toks = df.select(
        F.col(id_col).alias("__id"), tokenize(text_col).alias("__toks")
    ).withColumn("__dl", F.size("__toks"))
    return (
        toks.select("__id", "__dl", F.explode("__toks").alias("__term"))
        .groupBy("__id", "__dl", "__term")
        .agg(F.count(F.lit(1)).alias("__tf"))
    )


def bm25_scores_from_postings(
    postings: DataFrame,
    terms: list[str],
    n_docs: int,
    avgdl: float,
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    df_via: str = "window",
) -> DataFrame:
    """(id, bm25) from prebuilt postings (:func:`build_postings`).

    The term-IN filter sits on the postings' grouping key, so Catalyst
    pushes it below the aggregation when the postings are built inline
    (ad-hoc path), and prunes the cached/persisted table when they are
    reused (serve path).

    ``df_via`` picks how the per-term document frequency is computed:

    * ``'window'`` -- a count over Window.partitionBy(term) on the
      filtered candidate rows. ONE pass over the postings (right when
      they are built inline: a groupBy-then-join would duplicate the
      scan+explode subtree -- Catalyst does not dedupe it -- re-reading
      the whole corpus), but a stop-word-like query term concentrates
      all its candidate rows in one window partition.
    * ``'join'`` -- a tiny groupBy(term) count broadcast-joined back.
      Touches the postings twice (fine when they are cached/persisted:
      the serve path) but is skew-immune: partial counts combine
      map-side and candidates never re-shuffle by term.
    """
    from pyspark.sql import Window

    if not terms:
        raise ValueError("query has no tokens after analysis")
    if n_docs == 0 or avgdl <= 0.0:
        raise ValueError("empty corpus: no document has any token")
    if df_via not in ("window", "join"):
        raise ValueError(f"df_via must be 'window' or 'join', got {df_via!r}")

    tf = postings.where(F.col("__term").isin(list(terms)))
    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - F.col("__df") + F.lit(0.5))
        / (F.col("__df") + F.lit(0.5))
    )
    tf_norm = (
        F.col("__tf")
        * (k1 + 1.0)
        / (F.col("__tf") + k1 * (1.0 - b + b * F.col("__dl") / F.lit(avgdl)))
    )
    if df_via == "window":
        scored = tf.withColumn(
            "__df", F.count(F.lit(1)).over(Window.partitionBy("__term"))
        )
    else:
        dfreq = tf.groupBy("__term").agg(F.count(F.lit(1)).alias("__df"))
        scored = tf.join(F.broadcast(dfreq), "__term")
    return (
        scored.withColumn("__s", idf * tf_norm)
        .groupBy("__id")
        .agg(F.sum("__s").alias("bm25"))
        .select(F.col("__id").alias(id_col), "bm25")
    )


def bm25_scores_with_idf(
    postings: DataFrame,
    term_df: dict[str, int],
    n_docs: int,
    avgdl: float,
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """(id, bm25) with document frequencies already known (serve path).

    ``term_df`` maps each query term to its corpus document frequency
    (from a cached dfreq table -- Collection._lexical_view collects the
    <= n_terms rows per query). idf becomes a per-term LITERAL in the
    scoring expression, so the per-query plan is: cached-postings filter
    -> map-side score -> ONE groupBy(id) shuffle of candidate rows ->
    top-k. No join, no window, no per-term skew."""
    import math

    terms = {t: int(d) for t, d in term_df.items() if d > 0}
    if not terms:
        raise ValueError("query has no tokens after analysis")
    if n_docs == 0 or avgdl <= 0.0:
        raise ValueError("empty corpus: no document has any token")

    idfs = {
        t: math.log(1.0 + (float(n_docs) - d + 0.5) / (d + 0.5))
        for t, d in terms.items()
    }

    # r11 (guide §4, plan-build time -- the vector.py _sql_fragment
    # precedent): the per-query serving path pays this function's
    # Column-by-Column composition (a create_map of 2x|terms| literals
    # plus the tf arithmetic is ~100 py4j round-trips) on EVERY hybrid
    # query. When every term is single-quote/backslash-free (the
    # analyzer lowercases and strips punctuation, so always in
    # practice), build the identical expressions as TWO SQL strings --
    # map lookup and arithmetic grouping match the Column tree
    # operator-for-operator, double literals round-trip exactly via
    # CAST('<repr>' AS DOUBLE), and multiplication commutes bitwise in
    # IEEE754 -- so scores are bit-identical (pinned by
    # test_bm25_with_idf_sql_fast_path_matches_column_twin). Non-finite
    # k1/b/avgdl/idf values take the Column path too: their repr
    # ('inf', 'nan') would lean on Spark's special-string casts.
    finite = all(math.isfinite(x) for x in (k1, b, avgdl, *idfs.values()))
    if finite and all("'" not in t and "\\" not in t for t in terms):
        q = lambda t: "'" + t + "'"  # noqa: E731 -- charset checked above
        d = lambda x: f"CAST('{x!r}' AS DOUBLE)"  # noqa: E731
        map_sql = "map(" + ", ".join(
            f"{q(t)}, {d(v)}" for t, v in idfs.items()
        ) + ")[__term]"
        tf_sql = (
            f"`__tf` * {d(k1 + 1.0)} / (`__tf` + {d(k1)} * "
            f"({d(1.0 - b)} + {d(b)} * `__dl` / {d(avgdl)}))"
        )
        in_sql = "__term IN (" + ", ".join(q(t) for t in terms) + ")"
        return (
            postings.where(in_sql)
            .selectExpr("__id", f"{map_sql} * ({tf_sql}) AS __s")
            .groupBy("__id")
            .agg(F.expr("sum(__s)").alias("bm25"))
            .selectExpr(
                "__id AS `" + id_col.replace("`", "``") + "`", "bm25"
            )
        )

    idf_entries = []
    for t, v in idfs.items():
        idf_entries.append(F.lit(t))
        idf_entries.append(F.lit(v))
    idf = F.create_map(*idf_entries)[F.col("__term")]
    tf_norm = (
        F.col("__tf")
        * (k1 + 1.0)
        / (F.col("__tf") + k1 * (1.0 - b + b * F.col("__dl") / F.lit(avgdl)))
    )
    return (
        postings.where(F.col("__term").isin(list(terms)))
        .withColumn("__s", idf * tf_norm)
        .groupBy("__id")
        .agg(F.sum("__s").alias("bm25"))
        .select(F.col("__id").alias(id_col), "bm25")
    )


def bm25_scores_many(
    postings: DataFrame,
    query_terms: dict[int, list[str]],
    n_docs: int,
    avgdl: float,
    id_col: str = "doc_id",
    query_idx_col: str = "query_idx",
    k1: float = 1.2,
    b: float = 0.75,
    dfreq: DataFrame | None = None,
) -> DataFrame:
    """(query_idx, id, bm25) for a BATCH of queries in one plan.

    ``query_terms`` maps query index -> its analyzed terms. The postings
    are filtered ONCE to the union of all queries' terms, then a tiny
    broadcast (query_idx, term) table fans each candidate row out to the
    queries that asked for its term; document frequencies ride a second
    broadcast. One aggregation shuffle keyed by (query_idx, id) -- the
    batched analog of the single-query join mode, with the broadcast
    overhead amortized across the whole batch.

    Pass a prebuilt ``dfreq`` (__term, __df) table -- e.g. the cached
    one a Collection keeps beside its postings -- to skip re-aggregating
    document frequencies from the candidate rows."""
    pairs = [
        (int(qi), t)
        for qi, terms in query_terms.items()
        for t in dict.fromkeys(terms)
    ]
    if not pairs:
        raise ValueError("no query has any tokens after analysis")
    if n_docs == 0 or avgdl <= 0.0:
        raise ValueError("empty corpus: no document has any token")
    spark = postings.sparkSession
    qt = spark.createDataFrame(pairs, f"{query_idx_col} long, __term string")
    all_terms = sorted({t for _, t in pairs})

    tf = postings.where(F.col("__term").isin(all_terms))
    if dfreq is None:
        dfreq = tf.groupBy("__term").agg(F.count(F.lit(1)).alias("__df"))
    else:
        dfreq = dfreq.where(F.col("__term").isin(all_terms)).select(
            "__term", "__df"
        )
    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - F.col("__df") + F.lit(0.5))
        / (F.col("__df") + F.lit(0.5))
    )
    tf_norm = (
        F.col("__tf")
        * (k1 + 1.0)
        / (F.col("__tf") + k1 * (1.0 - b + b * F.col("__dl") / F.lit(avgdl)))
    )
    return (
        tf.join(F.broadcast(qt), "__term")
        .join(F.broadcast(dfreq), "__term")
        .withColumn("__s", idf * tf_norm)
        .groupBy(query_idx_col, "__id")
        .agg(F.sum("__s").alias("bm25"))
        .select(query_idx_col, F.col("__id").alias(id_col), "bm25")
    )


def bm25_scores(
    docs: DataFrame,
    query: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    stats: tuple[int, float] | None = None,
) -> DataFrame:
    """(id, bm25) for every document matching >=1 query term (ad-hoc
    single-scan path; for repeated queries build postings once and use
    :func:`bm25_scores_from_postings`)."""
    terms = tokenize_query(query)
    if not terms:
        raise ValueError("query has no tokens after analysis")
    n_docs, avgdl = stats if stats is not None else corpus_stats(docs, text_col)
    return bm25_scores_from_postings(
        build_postings(docs, id_col, text_col),
        terms,
        n_docs,
        avgdl,
        id_col=id_col,
        k1=k1,
        b=b,
    )


def bm25_topk(
    docs: DataFrame,
    query: str,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    stats: tuple[int, float] | None = None,
) -> DataFrame:
    """Top-k by BM25: (id, score) with score rounded to 6 decimals and
    the (score DESC, id ASC) deterministic tie-break."""
    scored = bm25_scores(docs, query, id_col, text_col, k1, b, stats)
    return (
        scored.select(id_col, F.round("bm25", 6).alias("score"))
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def rrf_fuse(
    legs: dict[str, DataFrame],
    id_col: str = "doc_id",
    k0: int = 60,
    rank_col: str = "rank",
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Reciprocal-rank fusion of ranked legs.

    Each leg is (*group_cols, id, rank) with rank 1-based; output is
    (*group_cols, id, rrf, <name>_rank ... one LONG column per leg,
    null when the doc is absent from that leg). ``rrf = sum(1/(k0 +
    rank))`` over the legs that contain the doc -- the standard
    Cormack/Clarke/Buettcher formulation. Integer ranks make the fused
    double bit-stable across engines regardless of join order.
    ``group_cols`` (e.g. a query index) fuses many rankings at once --
    the batch shape."""
    if not legs:
        raise ValueError("rrf_fuse needs at least one leg")
    keys = [*group_cols, id_col]
    fused: DataFrame | None = None
    for name, leg in legs.items():
        renamed = leg.select(
            *keys, F.col(rank_col).cast("long").alias(f"{name}_rank")
        )
        fused = renamed if fused is None else fused.join(renamed, keys, "full_outer")
    score = None
    for name in legs:
        term = F.when(
            F.col(f"{name}_rank").isNotNull(),
            F.lit(1.0) / (F.lit(float(k0)) + F.col(f"{name}_rank")),
        ).otherwise(F.lit(0.0))
        score = term if score is None else score + term
    return fused.select(
        *keys, score.alias("rrf"), *[f"{name}_rank" for name in legs]
    )
