"""N-gram language-model perplexity scoring -- the CCNet-style quality
filter (Wenzek et al. 2020 train a KenLM on Wikipedia and keep the
low-perplexity tail of Common Crawl).

North-star training-data-pipeline operator (SURVEY.md §2.7 scope). The
whole thing is DataFrame ops -- no UDFs, no model files:

* **train**: one aggregation over the reference corpus's word n-grams
  -> a (prefix, word, count) table plus (prefix, count) totals. The
  model IS a DataFrame; at 100 TB it stays distributed (never
  collected), and a vocabulary cap keeps it bounded.
* **score**: explode each document's n-grams, LEFT join the model on
  (prefix, word) and on prefix (two hash joins against the model,
  which Spark broadcasts automatically when small), Laplace-smooth,
  average log-probs per document:

      logp(w | prefix) = log((c(prefix, w) + a) / (c(prefix) + a * V))
      ppl(doc) = exp(-mean(logp))

Unseen prefixes fall back to the uniform smoothed floor a/(aV); docs
that look like the training distribution score LOW perplexity. The
filter step is then a plain ``where(ppl <= cutoff)``.

Determinism: counts and float math are order-invariant (the per-doc
mean uses a sum of logs / count in a fixed formula), so reruns and
repartitionings reproduce scores bit-for-bit up to float addition
order of the aggregation; tests compare against a single-process twin
with tolerance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from letsearch_spark.functions.text import words


def _doc_ngrams(df: DataFrame, key_col: str, text_col: str, n: int) -> DataFrame:
    """(key, prefix, word) rows: word n-grams of the lowercased
    whitespace split, prefix = the n-1 preceding words joined by a
    space ('' for unigrams).

    Built as an arrays_zip of n shifted slices, NOT a transform(
    sequence(...)) whose lambda indexes back into the words array:
    expressions referenced inside a higher-order-function lambda are
    re-evaluated PER ELEMENT, so the indexing form re-runs the regex
    split O(words) times per row -- O(words^2) per document, measured
    20-45x slower at 80k docs. The zip form evaluates the split n
    times per ROW and stays linear."""
    w = words(F.col(text_col))
    pre = df.select(F.col(key_col), w.alias("__w")).where(F.size("__w") >= n)
    L = F.size(F.col("__w"))
    shifted = [
        F.slice(F.col("__w"), i + 1, L - n + 1).alias(f"c{i}") for i in range(n)
    ]
    g = pre.select(key_col, F.explode(F.arrays_zip(*shifted)).alias("g"))
    prefix = (
        F.concat_ws(" ", *[F.col(f"g.c{i}") for i in range(n - 1)])
        if n > 1
        else F.lit("")
    )
    return g.select(
        key_col, prefix.alias("prefix"), F.col(f"g.c{n - 1}").alias("word")
    )


def train_ngram_lm(
    corpus: DataFrame,
    text_col: str = "text",
    n: int = 2,
    min_count: int = 1,
) -> DataFrame:
    """Count-based n-gram model: (prefix, word, count). ``min_count``
    prunes the long tail (the vocabulary-cap knob that bounds model
    size at corpus scale)."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    tagged = corpus.select(F.lit(0).alias("__k"), F.col(text_col))
    grams = _doc_ngrams(tagged, "__k", text_col, n)
    counts = grams.groupBy("prefix", "word").agg(
        F.count(F.lit(1)).alias("count")
    )
    return counts.where(F.col("count") >= min_count)


def perplexity(
    docs: DataFrame,
    lm: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    alpha: float = 1.0,
    smoothing: str = "laplace",
    discount: float = 0.75,
) -> DataFrame:
    """Per-document perplexity under ``lm`` (see module doc).

    Output: (key, n_grams, ppl). Documents with fewer than ``n`` words
    have no n-grams and come back with ppl NULL (score them by length
    rules instead). The vocabulary size V is derived from the model
    (distinct predicted words) -- one tiny aggregation.

    ``smoothing='kneser_ney'`` (bigram only, n=2) scores with
    interpolated Kneser-Ney -- the estimator CCNet's KenLM actually
    uses, which credits a word by how many CONTEXTS it continues
    rather than its raw frequency (the "San Francisco" effect:
    'Francisco' is frequent but predicts poorly outside one context):

        P_KN(w2|w1) = max(c(w1 w2) - D, 0)/c(w1)
                      + D * N1+(w1,.)/c(w1) * Pc(w2)
        Pc(w2)      = (N1+(., w2) + 1) / (T + V + 1)

    with D = ``discount``, N1+ the distinct-continuation counts, T the
    distinct bigram types, and Pc add-one-smoothed so unseen words get
    the uniform continuation floor; an unseen prefix backs off to
    Pc(w2) outright. Everything stays DataFrame aggregations -- the
    continuation tables are two extra tiny groupBys over the model.
    Recursive higher-order KN is out of scope (use n=2 or
    smoothing='laplace' for other n).
    """
    if alpha <= 0:
        raise ValueError(f"alpha must be > 0, got {alpha}")
    if smoothing not in ("laplace", "kneser_ney"):
        raise ValueError(
            f"smoothing must be 'laplace' or 'kneser_ney', got {smoothing!r}"
        )
    if smoothing == "kneser_ney":
        if n != 2:
            raise ValueError("kneser_ney smoothing supports n=2 only")
        if not 0.0 < discount < 1.0:
            raise ValueError(f"discount must be in (0, 1), got {discount}")
        return _perplexity_kn(docs, lm, key_col, text_col, discount)
    # an EMPTY model degenerates to V=0; clamp to 1 so the smoothed
    # term stays a/(0+a)=1 (ppl 1.0 for every doc) instead of dividing
    # by zero -- the well-defined "no evidence" value
    vocab = max(1, lm.select("word").distinct().count())
    prefix_totals = lm.groupBy("prefix").agg(
        F.sum("count").alias("prefix_count")
    )

    grams = _doc_ngrams(docs, key_col, text_col, n)
    joined = (
        grams.join(lm, ["prefix", "word"], "left")
        .join(prefix_totals, ["prefix"], "left")
        .select(
            key_col,
            F.log(
                (F.coalesce(F.col("count"), F.lit(0)) + alpha)
                / (F.coalesce(F.col("prefix_count"), F.lit(0)) + alpha * vocab)
            ).alias("logp"),
        )
    )
    per_doc = joined.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.exp(-F.sum("logp") / F.count(F.lit(1))).alias("ppl"),
    )
    # docs too short for any n-gram still get a row (ppl NULL)
    return (
        docs.select(key_col)
        .join(per_doc, key_col, "left")
        .select(
            key_col,
            F.coalesce(F.col("n_grams"), F.lit(0)).cast("long").alias("n_grams"),
            F.round(F.col("ppl"), 6).alias("ppl"),
        )
    )


def _perplexity_kn(
    docs: DataFrame,
    lm: DataFrame,
    key_col: str,
    text_col: str,
    discount: float,
) -> DataFrame:
    """Interpolated Kneser-Ney bigram scoring (see :func:`perplexity`).
    Model-side statistics are three aggregations over the (prefix,
    word, count) table; scoring is the same two hash joins as the
    Laplace path plus one broadcast join on the continuation table."""
    # scalars: distinct bigram types T and vocabulary V (tiny aggs)
    t_types = lm.count()
    vocab = lm.select("word").distinct().count()
    # left context stats: total count + distinct continuations per prefix
    prefix_stats = lm.groupBy("prefix").agg(
        F.sum("count").alias("c1"),
        F.count(F.lit(1)).alias("n1_left"),
    )
    # right context stats: in how many distinct contexts does w2 appear
    cont = lm.groupBy("word").agg(F.count(F.lit(1)).alias("n1_right"))

    grams = _doc_ngrams(docs, key_col, text_col, 2)
    pc = (F.coalesce(F.col("n1_right"), F.lit(0)) + 1.0) / F.lit(
        float(t_types + vocab + 1)
    )
    p_seen = (
        F.greatest(F.coalesce(F.col("count"), F.lit(0)) - discount, F.lit(0.0))
        / F.col("c1")
        + F.lit(discount) * F.col("n1_left") / F.col("c1") * pc
    )
    joined = (
        grams.join(lm, ["prefix", "word"], "left")
        .join(prefix_stats, ["prefix"], "left")
        .join(F.broadcast(cont), ["word"], "left")
        .select(
            key_col,
            F.log(F.when(F.col("c1").isNotNull(), p_seen).otherwise(pc)).alias(
                "logp"
            ),
        )
    )
    per_doc = joined.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.exp(-F.sum("logp") / F.count(F.lit(1))).alias("ppl"),
    )
    return (
        docs.select(key_col)
        .join(per_doc, key_col, "left")
        .select(
            key_col,
            F.coalesce(F.col("n_grams"), F.lit(0)).cast("long").alias("n_grams"),
            F.round(F.col("ppl"), 6).alias("ppl"),
        )
    )


def perplexity_buckets(
    docs: DataFrame,
    lm: DataFrame,
    fractions: tuple[float, float] = (1.0 / 3.0, 1.0 / 3.0),
    key_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    alpha: float = 1.0,
    smoothing: str = "laplace",
    discount: float = 0.75,
    exact: bool = False,
) -> DataFrame:
    """CCNet's corpus split (Wenzek et al. 2020 §4.3): label every
    document ``head`` / ``middle`` / ``tail`` by its perplexity rank
    under ``lm`` -- head is the most in-distribution ``fractions[0]``
    of the scored corpus, middle the next ``fractions[1]``, tail the
    rest. Downstream recipes then train on head+middle or sample the
    buckets at different rates instead of hard-dropping at one cutoff
    (the :func:`perplexity_filter` shape).

    Returns ``docs`` + ``(n_grams, ppl, ppl_bucket)``. Documents too
    short to produce an n-gram carry no evidence; they get bucket
    ``short`` (ppl NULL) so callers decide their fate explicitly.

    Scale: scoring dominates (the same two hash joins per doc as
    :func:`perplexity`); the cutoffs are ONE extra aggregation over the
    (key, ppl) frame collecting exactly two doubles, and the label is a
    literal comparison -- no extra shuffle, no sort of the corpus.
    ``exact=False`` (default) uses ``percentile_approx`` (a fixed-size
    sketch per partition -- the only choice at 100 TB);
    ``exact=True`` uses the exact interpolated percentile for
    small-corpus / oracle-parity runs.

    The cutoff aggregation AND the returned frame both read the scored
    (key, n_grams, ppl) corpus, so it is scored ONCE, eagerly, into a
    local checkpoint (executor-resident blocks, the
    :func:`~letsearch_spark.operators.curriculum.distributed_rank`
    ``pin='local'`` shape): the returned frame reads those blocks, and
    Spark's context cleaner frees them once that frame (and every
    frame derived from it) is garbage -- no Spark cache entry outlives
    the call. Like any local checkpoint, the blocks do not survive an
    executor loss."""
    if len(fractions) != 2 or min(fractions) <= 0 or sum(fractions) >= 1:
        raise ValueError(
            "fractions must be two positive head/middle shares summing to < 1, "
            f"got {fractions!r}"
        )
    scored = perplexity(
        docs, lm, key_col, text_col, n, alpha,
        smoothing=smoothing, discount=discount,
    ).localCheckpoint(eager=True)
    p1, p2 = fractions[0], fractions[0] + fractions[1]
    pctile = F.percentile if exact else F.percentile_approx
    cuts = (
        scored.where(F.col("ppl").isNotNull())
        .agg(
            pctile("ppl", F.lit(p1)).alias("c1"),
            pctile("ppl", F.lit(p2)).alias("c2"),
        )
        .first()
    )
    c1 = cuts["c1"] if cuts["c1"] is not None else float("inf")
    c2 = cuts["c2"] if cuts["c2"] is not None else float("inf")
    bucket = (
        F.when(F.col("ppl").isNull(), F.lit("short"))
        .when(F.col("ppl") <= F.lit(c1), F.lit("head"))
        .when(F.col("ppl") <= F.lit(c2), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return docs.join(scored, key_col).withColumn("ppl_bucket", bucket)


def perplexity_filter(
    docs: DataFrame,
    lm: DataFrame,
    max_ppl: float,
    key_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    alpha: float = 1.0,
    smoothing: str = "laplace",
    discount: float = 0.75,
) -> DataFrame:
    """Keep documents whose perplexity under ``lm`` is <= ``max_ppl``
    (the CCNet head/middle cut). Short docs (no n-grams) are dropped --
    they carry no evidence either way; screen them with length rules
    first."""
    scored = perplexity(
        docs, lm, key_col, text_col, n, alpha,
        smoothing=smoothing, discount=discount,
    )
    keep = scored.where(F.col("ppl") <= max_ppl).select(key_col)
    return docs.join(keep, key_col)
