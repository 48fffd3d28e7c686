"""Corpus-level text-quality operators for training-data curation.

Beyond-reference scale-path operators (brief: "the operations a
large-scale training-data pipeline would need"), in the spirit of the
published Gopher/C4 filtering rules and classic TF-IDF / n-gram LM
scoring:

* :func:`text_grams` — the ONE word n-gram builder over the
  :func:`corpus_tokens` tokens, shared by n-gram counts, the bigram
  LM, span dedup, shingles, DSIR features and the KMV gram sketches.
* :func:`word_ngram_counts` — the shared building block: one row per
  (doc, n-gram) with its in-doc count. Explode + groupBy, shuffled on
  (doc_id, gram): embarrassingly parallel, no driver state.
* :func:`repetition_stats` — per-doc repetition metrics ("fraction of
  characters in the most common n-gram" / "in duplicated n-grams")
  with a Gopher-style keep flag.
* :func:`bigram_cross_entropy` — per-doc average bits-per-token under
  an add-k-smoothed bigram LM trained on the corpus itself; the
  classic cheap fluency/outlier score.
* :func:`tfidf_top_terms` — per-doc top-k characteristic terms by
  TF-IDF with fully deterministic ordering.

100 TB design notes: every step is built from explode → hash-partial
groupBy → equi-join; the only per-key state is a counter. The model /
dimension tables (unigram counts, document frequencies) are tiny
relative to the corpus (vocabulary-sized) and broadcast; the wide
tables shuffle once on their natural keys. No windows over the whole
corpus, no driver materialization, no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ccgp_data_wrangling_spark.caching import CacheScope, active_scope

__all__ = [
    "corpus_tokens",
    "text_grams",
    "word_ngram_counts",
    "repetition_stats",
    "bigram_cross_entropy",
    "tfidf_top_terms",
]


def corpus_tokens(text_col: str):
    """The engine's ONE corpus tokenizer: whitespace-run split over
    trimmed text (``split(trim(text), '\\s+')``).

    Every curation stage — quality stats, LM scoring, TF-IDF, Jaccard
    shingles, contamination n-grams — and every DuckDB oracle
    (``REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\\s+')``) must use this same
    definition: a single-space split silently drops bigrams in
    tab/newline/multi-space documents and makes stages disagree with
    each other on exactly the documents a quality pipeline cares about.
    """
    return F.split(F.trim(F.col(text_col)), r"\s+")


def text_grams(text_col: str | Column, n: int, *, partial: bool = False) -> Column:
    """Array of the space-joined word ``n``-grams of ``text_col`` (a
    column name or Column), in text order, over the tokens of
    :func:`corpus_tokens` (empty edge tokens included).

    Two codegen'd expressions, no lambda: collapse every ``\\s+`` run
    (Java's ``\\s`` is ``[ \\t\\n\\x0B\\f\\r]``) of the trimmed text to one
    space, so ``split(norm, ' ')`` gives exactly the corpus tokens; then
    one zero-width match at each token start captures the next ``n``
    tokens. A text with fewer than ``n`` tokens yields ``[]``, or with
    ``partial=True`` its one partial gram (all its tokens, the shingle
    convention of operators/dedup.py). Null text yields null.
    """
    if n < 1:
        raise ValueError(f"n-gram width must be >= 1, got {n}")
    text = F.col(text_col) if isinstance(text_col, str) else text_col
    norm = F.regexp_replace(F.trim(text), r"[ \t\n\x0B\f\r]+", " ")
    gram = r"[^ ]*(?: [^ ]*){%d}" % (n - 1)
    if partial and n > 1:
        # or, at the text start only, all of a text shorter than n
        # tokens: one regex pass, where when(size(grams) = 0, ...) would
        # run the extract twice
        gram += r"|\A[^ ]*(?: [^ ]*){0,%d}\z" % (n - 2)
    return F.regexp_extract_all(norm, F.lit(r"(?<![^ ])(?=(%s))" % gram), 1)


def word_ngram_counts(
    docs: DataFrame,
    n: int,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, gram, cnt) — in-document counts of word ``n``-grams.

    The explode fans each doc out to ~n_tokens rows; the groupBy is a
    map-side-combining hash aggregate on (id, gram) — the canonical
    scalable shape for text statistics.
    """
    return (
        docs.select(id_col, F.explode(text_grams(text_col, n)).alias("gram"))
        .groupBy(id_col, "gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def repetition_stats(
    docs: DataFrame,
    *,
    n: int = 2,
    top_frac_max: float = 0.20,
    dup_frac_max: float = 0.60,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-doc n-gram repetition metrics with a Gopher-style keep flag.

    ``top_frac``: fraction of the doc's characters covered by its most
    frequent word n-gram (count × gram length / n_chars, the standard
    non-overlapping approximation). ``dup_frac``: same, summed over
    every n-gram occurring more than once. Docs exceeding either
    threshold are repetition spam and flagged ``keep = false``.

    Ties for the most frequent gram break on the lexicographically
    smallest gram, so the output is fully deterministic.
    """
    grams = word_ngram_counts(docs, n, id_col=id_col, text_col=text_col)
    # min_by on (-cnt, gram) = most frequent gram, smallest-gram
    # tie-break — a map-side-combinable argmax, no window needed.
    per_doc = grams.groupBy(id_col).agg(
        F.min_by(
            F.col("gram"), F.struct((-F.col("cnt")).alias("nc"), F.col("gram").alias("g"))
        ).alias("top_gram"),
        F.max("cnt").alias("top_cnt"),
        F.sum(
            F.when(F.col("cnt") > 1, F.col("cnt") * F.length("gram")).otherwise(0)
        ).alias("dup_chars"),
    )
    out = docs.select(id_col, F.length(text_col).alias("n_chars")).join(
        per_doc, id_col
    )
    top_frac = F.round(
        (F.col("top_cnt") * F.length("top_gram")).cast("double") / F.col("n_chars"), 4
    )
    dup_frac = F.round(F.col("dup_chars").cast("double") / F.col("n_chars"), 4)
    return out.select(
        id_col,
        "top_gram",
        F.col("top_cnt").cast("long").alias("top_cnt"),
        top_frac.alias("top_frac"),
        dup_frac.alias("dup_frac"),
        ((top_frac <= top_frac_max) & (dup_frac <= dup_frac_max)).alias("keep"),
    )


def bigram_cross_entropy(
    docs: DataFrame,
    *,
    k: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    scope: CacheScope | None = None,
) -> DataFrame:
    """Per-doc average bits per token under an add-``k`` bigram LM
    trained on the corpus itself.

    score = -(1/m) Σ log2 (c(w1,w2) + k) / (c(w1) + k·V)

    over the doc's m bigrams, with corpus-level bigram counts c(w1,w2),
    unigram (context) counts c(w1) and vocabulary size V. High scores
    mark statistical outliers (garbled or template text); low scores
    mark repetitive text. The classic cheap LM-quality signal.

    Shape: the corpus is read once for the model (two hash aggregates)
    and once for scoring; scoring joins each doc's distinct bigrams to
    the model on the bigram key (shuffle equi-join), then to the
    vocabulary-sized context table (broadcast). Per-term log terms are
    rounded to 6 dp so the Spark and DuckDB oracles agree bit-for-bit.
    """
    # persist: the exploded bigram relation feeds three subtrees
    # (doc counts, bigram model, context counts); without the boundary
    # each recomputes the split+explode from the scan. At full scale
    # this is the "tokenize once, reuse" materialization a real
    # pipeline would write to storage.
    if scope is None:
        scope = active_scope("bigram_cross_entropy")
    pairs = scope.persist(
        docs.select(id_col, F.explode(text_grams(text_col, 2)).alias("bg"))
    )
    # doc-side multiplicities (one row per distinct (doc, bigram))
    doc_bg = pairs.groupBy(id_col, "bg").agg(F.count(F.lit(1)).alias("m"))
    # corpus model
    model = pairs.groupBy("bg").agg(F.count(F.lit(1)).alias("c12"))
    w1 = F.substring_index(F.col("bg"), " ", 1)
    ctx = pairs.select(w1.alias("w1")).groupBy("w1").agg(
        F.count(F.lit(1)).alias("c1")
    )
    # scalar subquery (DataFrame.scalar, Spark 4): the vocabulary size
    # is evaluated once and inlined — no join node in the plan at all
    v = (
        docs.select(F.explode(corpus_tokens(text_col)).alias("w"))
        .agg(F.countDistinct("w").alias("v"))
        .scalar()
    )
    scored = (
        doc_bg.join(model, "bg")
        .withColumn("w1", w1)
        .join(F.broadcast(ctx), "w1")
        .select(
            id_col,
            "m",
            F.round(
                F.log2(
                    (F.col("c12") + F.lit(k)) / (F.col("c1") + F.lit(k) * v)
                ),
                6,
            ).alias("lp"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.round(-F.sum(F.col("m") * F.col("lp")) / F.sum("m"), 4).alias(
            "bits_per_token"
        ),
        F.sum("m").cast("long").alias("n_bigrams"),
    )


def tfidf_top_terms(
    docs: DataFrame,
    *,
    top_k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-doc top-``k`` characteristic terms by TF-IDF.

    idf = round(ln((N+1)/(df+1)) + 1, 6) (smoothed, sklearn-style);
    score = tf · idf. Rounding idf before the multiply makes the score
    doubles identical across engines, so the (score desc, term asc)
    ranking — and therefore the output — is deterministic.

    The per-doc window partitions on ``id_col`` (millions of small
    partitions — the scalable direction); term document-frequencies
    are a vocabulary-sized broadcast dim.
    """
    tf = word_ngram_counts(docs, 1, id_col=id_col, text_col=text_col)
    df_tbl = tf.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
    # corpus size as a scalar subquery — evaluated once, no join node
    n = docs.agg(F.count(F.lit(1)).alias("n")).scalar()
    idf = F.round(
        F.log((n + F.lit(1.0)) / (F.col("df") + F.lit(1.0))) + 1.0, 6
    )
    scored = tf.join(F.broadcast(df_tbl), "gram").select(
        id_col,
        F.col("gram").alias("term"),
        (F.col("cnt") * idf).alias("score"),
    )
    w = W.partitionBy(id_col).orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= top_k)
        .groupBy(id_col)
        .agg(
            F.array_join(
                F.array_sort(
                    F.collect_list(
                        F.concat(
                            F.col("rk").cast("string"), F.lit(":"), F.col("term")
                        )
                    )
                ),
                ",",
            ).alias("top_terms"),
            F.round(F.max("score"), 4).alias("best_score"),
        )
    )
