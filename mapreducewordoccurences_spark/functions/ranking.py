"""Corpus-statistics ranking and collocation operators: BM25 relevance,
unigram-LM log-prob scoring, and PMI collocations.

All three share one plan skeleton — per-doc term frequencies (one
shuffle on (doc, word)) joined against a *broadcast* corpus model
(vocabulary-sized aggregate). The corpus model is sublinear in corpus
bytes (distinct words, not token instances), so the broadcast holds at
100 TB: the fact table is never shuffled a second time, and every
per-doc score is computed map-side after the tf aggregation.

Scalar corpus totals (N docs, total tokens) ride along as literal
columns via a broadcast single-row cross join — no driver collect in
the plan-building path beyond the one cheap count scan BM25's idf
needs (mirroring tfidf_top_terms, queries.py).

No reference-repo counterpart (the reference is a word-count CLI,
src/main.c); these extend the engine's training-data-pipeline surface.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def bm25_scores(
    df: DataFrame,
    query_terms: Sequence[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 relevance of every document to a bag of query terms.

    Returns (id, score) for documents matching ≥1 term, using the
    Lucene idf variant ``ln(1 + (N - df + 0.5)/(df + 0.5))`` (always
    positive, standard since Lucene 6).

    Plan: doc length is the token-array size, computed map-side in the
    scan projection — the full corpus is NEVER shuffled. Only tokens
    matching the IN-list explode into the (id, word) aggregation, so
    the one data-bearing shuffle carries query-term hits only (for a
    5-term query, a tiny fraction of corpus tokens). Per-term df and
    corpus avgdl are broadcast single-digit-row aggregates; the final
    groupBy(id) reuses the (id, word) partitioning. This is the shape
    that survives 100 TB: shuffle bytes scale with matches, not corpus.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    terms = [t.lower() for t in query_terms]

    toks = df.select(
        F.col(id_col),
        F.filter(
            F.split(F.lower(text_col), "[^a-z0-9]+"),
            lambda w: F.length(w) > 0,
        ).alias("__t"),
    ).select(F.col(id_col), "__t", F.size("__t").alias("dl"))

    n_docs = df.count()  # driver-side scalar (one cheap count scan)
    avgdl = toks.agg(F.avg("dl").alias("avgdl"))

    # explode only query-term hits: the array filter runs before the
    # Generate, so non-matching tokens never become rows
    hits = toks.select(
        F.col(id_col),
        "dl",
        F.explode(F.filter("__t", lambda w: w.isin(terms))).alias("word"),
    )
    tf_q = hits.groupBy(id_col, "word").agg(
        F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl")
    )
    df_ = tf_q.groupBy("word").agg(F.count(F.lit(1)).alias("df"))

    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tf_d = F.col("tf").cast("double")
    denom = tf_d + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
    term_score = idf * tf_d * (k1 + 1.0) / denom

    return (
        tf_q.join(F.broadcast(df_), "word")
        .join(F.broadcast(avgdl), how="cross")
        .groupBy(id_col)
        .agg(F.sum(term_score).alias("score"))
    )


def unigram_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document mean negative log-probability under the corpus's
    own unigram MLE model — the classic cheap fluency/quality signal
    (high = unusual word distribution; low = stereotypical text).

    ``nll = -(1/|d|) Σ_w tf_d(w) · ln(c(w)/T)`` where c(w) is the
    corpus count and T total tokens. No smoothing needed: every doc
    word is by construction in the corpus vocabulary.

    Plan: tf (one shuffle) → vocab model derived FROM tf (the corpus
    is tokenized once — the vocab shuffle runs over (doc, word) rows,
    already ~tokens/avg_tf smaller than the token stream) → broadcast
    vocab + total scalar → map-side tf·logp → one groupBy(id). The
    vocab aggregate and total-token scalar are corpus-wide but
    vocabulary-sized — broadcastable at any corpus scale.
    """
    words = df.select(
        F.col(id_col),
        F.explode(F.split(F.lower(text_col), "[^a-z0-9]+")).alias("word"),
    ).where(F.length("word") > 0)
    tf = words.groupBy(id_col, "word").agg(F.count(F.lit(1)).alias("tf"))
    vocab = tf.groupBy("word").agg(F.sum("tf").alias("cw"))
    total = vocab.agg(F.sum("cw").cast("double").alias("total"))

    logp = F.log(F.col("cw") / F.col("total"))
    return (
        tf.join(F.broadcast(vocab), "word")
        .join(F.broadcast(total), how="cross")
        .groupBy(id_col)
        .agg(
            (-F.sum(F.col("tf") * logp) / F.sum("tf")).alias("mean_nll"),
            F.sum("tf").alias("n_tokens"),
        )
    )


def pmi_collocations(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
) -> DataFrame:
    """Pointwise mutual information for adjacent word pairs:
    ``pmi = ln( p(ab) / (p(a)·p(b)) )`` with p(ab) over the bigram
    space and p(a) over the unigram space. High-PMI pairs are
    collocations ("new york"-style units) — used for tokenizer vocab
    induction and phrase mining.

    Returns (word_a, word_b, pair_count, pmi) for pairs seen
    ≥ min_count times.

    Plan: one scan → token array → adjacent pairs via transform over
    ``sequence`` (map-side, no shuffle) → bigram groupBy (one shuffle)
    → two broadcast joins against the unigram model → map-side pmi.
    Bigram vocabulary is larger than unigram but still sublinear in
    corpus bytes; min_count prunes the long tail before anything is
    joined.
    """
    toks = df.select(
        F.split(F.lower(text_col), "[^a-z0-9]+").alias("__t")
    ).select(F.filter("__t", lambda w: F.length(w) > 0).alias("__t"))

    # guard: Spark's sequence(1, 0) counts DOWN — docs with <2 tokens
    # must short-circuit to an empty array, not a bogus [1, 0] range
    adjacent = F.when(
        F.size("__t") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("__t") - 1),
            lambda i: F.struct(
                F.element_at("__t", i).alias("word_a"),
                F.element_at("__t", i + 1).alias("word_b"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<word_a:string,word_b:string>>"))
    pairs = toks.select(F.explode(adjacent).alias("p")).select(
        "p.word_a", "p.word_b"
    )

    big = (
        pairs.groupBy("word_a", "word_b")
        .agg(F.count(F.lit(1)).alias("pair_count"))
        .where(F.col("pair_count") >= min_count)
    )
    uni = (
        toks.select(F.explode("__t").alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cw"))
    )
    tot_uni = uni.agg(F.sum("cw").cast("double").alias("tu"))
    tot_big = pairs.agg(F.count(F.lit(1)).cast("double").alias("tb"))

    ua = uni.select(F.col("word").alias("word_a"), F.col("cw").alias("ca"))
    ub = uni.select(F.col("word").alias("word_b"), F.col("cw").alias("cb"))
    pmi = F.log(
        (F.col("pair_count") / F.col("tb"))
        / ((F.col("ca") / F.col("tu")) * (F.col("cb") / F.col("tu")))
    )
    return (
        big.join(F.broadcast(ua), "word_a")
        .join(F.broadcast(ub), "word_b")
        .join(F.broadcast(tot_uni), how="cross")
        .join(F.broadcast(tot_big), how="cross")
        .select("word_a", "word_b", "pair_count", pmi.alias("pmi"))
    )


def bigram_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document mean negative log-probability under the corpus's
    Laplace-smoothed BIGRAM model — the order-2 fluency signal.
    Unigram NLL (unigram_logprob) scores word CHOICE; this scores
    word ORDER: scrambled or concatenated text keeps its unigram
    profile but lights up here.

    ``P(w2|w1) = (c(w1,w2) + 1) / (c_prefix(w1) + V)`` with V the
    corpus vocabulary size — add-one smoothing is required because a
    doc's bigram may be corpus-unique, and the +V denominator keeps
    the distribution proper.

    Plan: per-doc bigram counts (one shuffle keyed (doc, w1, w2));
    the corpus bigram model derives FROM that aggregate (second
    shuffle over distinct-pair rows, not the token stream); prefix
    counts derive from the model; V is a broadcast scalar. The model
    join keys on (w1, w2) — distinct-pair cardinality, the natural
    Zipf-truncated size — then one groupBy(id) closes. Same
    broadcast-model shape as the unigram scorer, one order higher.
    """
    toks = df.select(
        F.col(id_col),
        F.split(F.lower(text_col), "[^a-z0-9]+").alias("__t"),
    ).select(
        id_col, F.filter("__t", lambda w: F.length(w) > 0).alias("__t")
    )
    pairs = toks.select(
        F.col(id_col),
        F.explode(
            F.when(
                F.size("__t") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("__t") - 1),
                    lambda i: F.struct(
                        F.element_at("__t", i).alias("w1"),
                        F.element_at("__t", i + 1).alias("w2"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
        ).alias("__p"),
    ).select(id_col, "__p.w1", "__p.w2")
    dbg = pairs.groupBy(id_col, "w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    cbg = dbg.groupBy("w1", "w2").agg(F.sum("c").alias("cb"))
    cp = cbg.groupBy("w1").agg(F.sum("cb").alias("cw"))
    vocab_size = (
        toks.select(F.explode("__t").alias("w"))
        .agg(F.countDistinct("w").cast("double").alias("v"))
    )
    logp = F.log((F.col("cb") + 1) / (F.col("cw") + F.col("v")))
    return (
        dbg.join(F.broadcast(cbg), ["w1", "w2"])
        .join(F.broadcast(cp), "w1")
        .join(F.broadcast(vocab_size), how="cross")
        .groupBy(id_col)
        .agg(
            (-F.sum(F.col("c") * logp) / F.sum("c")).alias("mean_nll"),
            F.sum("c").alias("n_bigrams"),
        )
    )
