"""Text analysis for training-data pipelines: wordcount parity rows, tokenization and BPE, language id, quality/readability scoring, n-gram statistics, PII scans, and the UDF/UDAF/UDTF surfaces.

Split from the former single-module queries.py (round 7). The
QUERIES/ORACLES registration contract is unchanged: importing this
module registers its queries with the shared registry.
"""

from __future__ import annotations

from mapreducewordoccurences_spark.queries._shared import *  # noqa: F401,F403

# ---------------------------------------------------------------------------
# Reference surface: wordcount (SURVEY.md §2a — the reference's one query)
# ---------------------------------------------------------------------------

@register(
    "wordcount",
    """
    SELECT word, count(*) AS cnt
    FROM (SELECT unnest(regexp_extract_all(text, '[A-Za-z0-9]+')) AS word
          FROM documents)
    GROUP BY word
    """,
)
def q_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's single hardcoded query (src/main.c:14-27) over
    the documents table: case-sensitive [A-Za-z0-9]+ token counts."""
    docs = _t(spark, sf_dir, "documents")
    return count_words(docs, "text", sort=False).withColumnRenamed("count", "cnt")


@register(
    "wordcount_topk",
    """
    SELECT word, count(*) AS cnt
    FROM (SELECT unnest(regexp_extract_all(text, '[A-Za-z0-9]+')) AS word
          FROM documents)
    GROUP BY word
    ORDER BY cnt DESC, word
    LIMIT 100
    """,
)
def q_wordcount_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 words — exercises TakeOrderedAndProject (per-partition
    k-heaps, no global sort)."""
    docs = _t(spark, sf_dir, "documents")
    counts = count_words(docs, "text", sort=False).withColumnRenamed("count", "cnt")
    return counts.orderBy(F.col("cnt").desc(), F.col("word").asc()).limit(100)


# ---------------------------------------------------------------------------
# Text-analytics / LLM-pipeline surface
# ---------------------------------------------------------------------------

@register(
    "text_stats",
    """
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS INT) AS n_tokens,
           CAST(len(list_distinct(regexp_extract_all(text, '[A-Za-z0-9]+'))) AS INT) AS n_distinct_tokens,
           length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g'))
             / NULLIF(len(regexp_extract_all(text, '[A-Za-z0-9]+')), 0) AS avg_token_len,
           length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g'))
             / NULLIF(length(text), 0) AS alnum_ratio
    FROM documents
    """,
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_stats(_t(spark, sf_dir, "documents"))


@register(
    "stratified_sample_by_lang",
    """
    WITH t AS (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
             count(*) OVER (PARTITION BY lang) AS n
      FROM documents
    )
    SELECT doc_id, lang FROM t WHERE rn <= CAST(ceil(0.1 * n) AS BIGINT)
    """,
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% stratified sample per language: preserves
    stratum proportions exactly, never empties a non-empty stratum."""
    from mapreducewordoccurences_spark.functions.sampling import stratified_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return stratified_sample(docs, "lang", 0.1)


@register(
    "bigram_counts",
    """
    SELECT bigram, count(*) AS cnt FROM (
      SELECT unnest([s[i] || ' ' || s[i+1] for i in range(1, len(s))]) AS bigram
      FROM (SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS s FROM documents)
    ) GROUP BY 1 ORDER BY cnt DESC, bigram LIMIT 20
    """,
)
def q_bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram LM counts (wordcount generalized to order-2): top-20
    bigrams. zip_with over adjacent token slices — one scan, one
    shuffle, TakeOrderedAndProject for the top-k."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), 0).alias("t")
    )
    n = F.size("t")
    bigrams = F.when(
        n >= 2,
        F.zip_with(
            F.slice("t", 1, n - 1),
            F.slice("t", 2, n - 1),
            lambda x, y: F.concat_ws(" ", x, y),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        toks.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("bigram").asc())
        .limit(20)
    )


@register(
    "udaf_zscore_by_label",
    # z-scores recomputed relationally: per-(label, dim) mean/stddev_pop
    # join. round(4) absorbs numpy-pairwise vs streaming-agg accumulation
    # noise (~1e-12 on a ~64-term sum of O(1) values).
    """
    WITH e AS (
      SELECT vec_id, label,
             unnest(embedding) AS x,
             generate_subscripts(embedding, 1) AS i
      FROM embeddings
    ), s AS (
      SELECT label, i, AVG(CAST(x AS DOUBLE)) AS mu,
             STDDEV_POP(CAST(x AS DOUBLE)) AS sd
      FROM e GROUP BY label, i
    )
    SELECT e.vec_id, e.label,
           ROUND(SUM(POW((CAST(e.x AS DOUBLE) - s.mu)
                         / (CASE WHEN s.sd = 0 THEN 1.0 ELSE s.sd END), 2)), 4)
             AS z_sq_sum
    FROM e JOIN s ON e.label = s.label AND e.i = s.i
    GROUP BY e.vec_id, e.label
    """,
)
def q_udaf_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped applyInPandas (UDAF shape): per-label z-scored
    embeddings, summarized to a checkable scalar per vector."""
    from mapreducewordoccurences_spark.functions.udfs import zscore_by_group

    emb = _t(spark, sf_dir, "embeddings")
    z = zscore_by_group(emb)
    return z.select(
        "vec_id",
        "label",
        F.round(
            F.aggregate("zscored", F.lit(0.0), lambda acc, x: acc + x * x), 4
        ).alias("z_sq_sum"),
    )


@register(
    "udtf_sentence_stats",
    # mirrors SplitSentences.eval: split on [.!?]+, drop all-whitespace
    # parts, idx = position among kept parts, n_words = \\S+ runs
    r"""
    WITH parts AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(text, '[.!?]+')) AS part,
             generate_subscripts(regexp_split_to_array(text, '[.!?]+'), 1) AS pos
      FROM documents WHERE text IS NOT NULL
    )
    SELECT doc_id,
           CAST(row_number() OVER (PARTITION BY doc_id ORDER BY pos) - 1 AS INT) AS idx,
           CAST(len(regexp_extract_all(part, '\S+')) AS INT) AS n_words
    FROM parts WHERE regexp_matches(part, '\S')
    """,
)
def q_udtf_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (one row → many): per-sentence stats over documents
    via a lateral join."""
    from mapreducewordoccurences_spark.functions.udfs import SplitSentences

    spark.udtf.register("split_sentences", SplitSentences)
    _t(spark, sf_dir, "documents").createOrReplaceTempView("udtf_docs")
    return spark.sql(
        """
        SELECT d.doc_id, s.idx, s.n_words
        FROM udtf_docs d, LATERAL split_sentences(d.text) s
        """
    )


@register(
    "language_id",
    # mirrors functions/text.py STOPWORDS + argmax with lexicographic-
    # first tie-break (langs in sorted order: de,en,es,fr,zh; zh list is
    # empty so s_zh = 0). Scores are single int/int divides — exact.
    """
    WITH sc AS (
      SELECT doc_id,
             COALESCE(len(list_intersect(list_distinct(toks),
               ['der','die','und','das','ist','von','mit','den','nicht','ein']))
               / NULLIF(len(toks), 0), 0.0) AS s_de,
             COALESCE(len(list_intersect(list_distinct(toks),
               ['the','and','of','to','is','in','that','it','for','with']))
               / NULLIF(len(toks), 0), 0.0) AS s_en,
             COALESCE(len(list_intersect(list_distinct(toks),
               ['el','la','de','que','y','en','los','del','se','las']))
               / NULLIF(len(toks), 0), 0.0) AS s_es,
             COALESCE(len(list_intersect(list_distinct(toks),
               ['le','la','les','de','et','est','des','une','dans','que']))
               / NULLIF(len(toks), 0), 0.0) AS s_fr,
             0.0 AS s_zh
      FROM (SELECT doc_id,
                   regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
            FROM documents)
    )
    SELECT doc_id,
           CASE
             WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
             WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
             WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
             WHEN s_fr >= s_zh THEN 'fr'
             ELSE 'zh'
           END AS lang_guess,
           GREATEST(s_de, s_en, s_es, s_fr, s_zh) AS lang_score
    FROM sc
    """,
)
def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return language_id(_t(spark, sf_dir, "documents"))


@register(
    "quality_score",
    # mirrors functions/text.py quality_score term by term, in the same
    # left-to-right addition order (IEEE754 doubles: same operands +
    # same order = bit-identical result across engines).
    """
    WITH b AS (
      SELECT doc_id,
             regexp_extract_all(lower(text), '[a-z0-9]+') AS toks,
             length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g')) AS alnum,
             length(text) AS chars
      FROM documents
    ), m AS (
      SELECT doc_id,
             len(toks) AS n_tokens,
             alnum / NULLIF(len(toks), 0) AS avg_token_len,
             alnum / NULLIF(chars, 0) AS alnum_ratio,
             len(list_intersect(list_distinct(toks),
               ['the','and','of','to','is','in','that','it','for','with'])) / 10.0
               AS stopword_ratio
      FROM b
    )
    SELECT doc_id, n_tokens, avg_token_len, alnum_ratio, stopword_ratio,
           (CASE WHEN n_tokens >= 10 AND n_tokens <= 100000 THEN 0.25 ELSE 0.0 END
            + CASE WHEN avg_token_len >= 2.0 AND avg_token_len <= 12.0 THEN 0.25 ELSE 0.0 END
            + COALESCE(alnum_ratio, 0.0) * 0.25
            + LEAST(stopword_ratio * 2, 1.0) * 0.25) AS quality
    FROM m
    """,
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_score(_t(spark, sf_dir, "documents"))


@register(
    "topk_words_per_doc",
    """
    SELECT doc_id, word, tf, CAST(rnk AS INT) AS rnk FROM (
      SELECT doc_id, word, tf,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tf DESC, word) AS rnk
      FROM (
        SELECT doc_id, word, count(*) AS tf
        FROM (SELECT doc_id, unnest(regexp_extract_all(text, '[A-Za-z0-9]+')) AS word
              FROM documents)
        GROUP BY doc_id, word
      )
    ) WHERE rnk <= 3
    """,
)
def q_topk_words_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 most frequent words per document (integer-only ordering:
    tf desc, word asc — fully deterministic cross-engine)."""
    docs = _t(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(F.split("text", "[^A-Za-z0-9]+")).alias("word"))
        .where(F.length("word") > 0)
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return top_k_per_group(
        tf, ["doc_id"], [F.col("tf").desc(), F.col("word").asc()], 3
    ).select("doc_id", "word", "tf", "rnk")


@register(
    "token_count_bpe",
    """
    SELECT doc_id,
           CAST(len(regexp_extract_all(text,
             '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^ 	
A-Za-z0-9'']+|[ 	
]+')) AS INT) AS n_bpe_tokens,
           CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS INT) AS n_word_tokens
    FROM documents
    """,
)
def q_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-2-style pre-tokenizer count (contraction suffixes, letter
    runs, digit runs, punctuation runs, whitespace runs) next to plain
    word-token counts — the length signal an LLM-data pipeline
    budgets with. Pattern is RE2-and-Java-compatible (no lookahead)."""
    docs = _t(spark, sf_dir, "documents")
    bpe_pattern = "'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^ \\t\\nA-Za-z0-9']+|[ \\t\\n]+"
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(bpe_pattern), 0)).alias("n_bpe_tokens"),
        F.size(F.regexp_extract_all("text", F.lit("[A-Za-z0-9]+"), 0)).alias("n_word_tokens"),
    )


@register(
    "collect_sorted_sources_by_lang",
    """
    SELECT lang,
           array_to_string(list_sort(list(source))[1:3], ',') AS first_sources,
           COUNT(*) AS n_pairs
    FROM (SELECT DISTINCT lang, source FROM documents)
    GROUP BY lang
    """,
)
def q_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-to-array surface: collect_list is UNORDERED in a distributed
    engine, so any use feeding output must array_sort before slicing —
    the only way a collected array is deterministic. Output is a
    joined string so the comparison is value-stable."""
    docs = _t(spark, sf_dir, "documents")
    pairs = docs.select("lang", "source").distinct()
    return pairs.groupBy("lang").agg(
        F.array_join(
            F.slice(F.array_sort(F.collect_list("source")), 1, 3), ","
        ).alias("first_sources"),
        F.count(F.lit(1)).alias("n_pairs"),
    )


@register(
    "wordcount_no_stopwords_topk",
    f"""
    SELECT word, count(*) AS cnt
    FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
          FROM documents)
    WHERE word NOT IN ({", ".join("'" + w + "'" for w in _STOPWORDS)})
    GROUP BY word
    ORDER BY cnt DESC, word
    LIMIT 50
    """,
)
def q_wordcount_no_stopwords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lowercased wordcount with a stopword gate — vocabulary-building
    shape. The stopword list is a literal isin() filter (Catalyst
    compiles it to a hash set); at real vocabulary scale it would be a
    broadcast semi-join against a stopword table."""
    docs = _t(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), 0)
        ).alias("word")
    )
    return (
        words.where(~F.col("word").isin(_STOPWORDS))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("word").asc())
        .limit(50)
    )


@register(
    "token_stopword_overlap",
    """
    SELECT doc_id,
           CAST(len(list_intersect(
                 list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+')),
                 ['the', 'and', 'of', 'to', 'is'])) AS INT) AS n_stop_present,
           CAST(len(list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+')))
             AS INT) AS n_distinct_tokens
    FROM documents
    """,
)
def q_token_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array set operations (array_intersect/array_distinct) against a
    literal vocabulary — set-membership features computed entirely
    JVM-side, the shape used for stopword-density and
    blocklist-overlap scoring."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.array_distinct(
        F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), 0)
    )
    stop = F.array(*[F.lit(w) for w in ["the", "and", "of", "to", "is"]])
    return docs.select(
        "doc_id",
        F.size(F.array_intersect(toks, stop)).cast("int").alias("n_stop_present"),
        F.size(toks).cast("int").alias("n_distinct_tokens"),
    )


@register(
    "repetition_stats",
    """
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS s
      FROM documents
    ), grams AS (
      SELECT doc_id,
             CASE WHEN len(s) >= 2
                  THEN (len(s) - 1 - len(list_distinct(
                         [s[i] || ' ' || s[i+1] for i in range(1, len(s))])))
                       / (len(s) - 1)
                  ELSE CAST(0 AS DOUBLE) END AS dup_2gram_frac,
             CASE WHEN len(s) >= 3
                  THEN (len(s) - 2 - len(list_distinct(
                         [s[i] || ' ' || s[i+1] || ' ' || s[i+2] for i in range(1, len(s)-1)])))
                       / (len(s) - 2)
                  ELSE CAST(0 AS DOUBLE) END AS dup_3gram_frac
      FROM toks
    ), t AS (
      SELECT doc_id, unnest(s) AS token FROM toks
    ), tc AS (
      SELECT doc_id, token, count(*) AS c FROM t GROUP BY 1, 2
    ), top AS (
      SELECT doc_id, max(c) / CAST(sum(c) AS BIGINT) AS top_token_frac
      FROM tc GROUP BY doc_id
    )
    SELECT g.doc_id, top_token_frac, dup_2gram_frac, dup_3gram_frac,
           CAST(CASE WHEN top_token_frac > 0.2
                       OR dup_2gram_frac > 0.4
                       OR dup_3gram_frac > 0.3
                     THEN 1 ELSE 0 END AS INT) AS flagged
    FROM top JOIN grams g USING (doc_id)
    """,
)
def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality filters
    (functions/text.py repetition_stats)."""
    from mapreducewordoccurences_spark.functions.text import repetition_stats

    return repetition_stats(_t(spark, sf_dir, "documents"))


@register(
    "token_budget_sample_per_source",
    """
    SELECT doc_id, source, n_tokens, cum_tokens FROM (
      SELECT doc_id, source,
             len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_tokens,
             SUM(len(regexp_extract_all(lower(text), '[a-z0-9]+'))) OVER (
               PARTITION BY source
               ORDER BY len(regexp_extract_all(lower(text), '[a-z0-9]+')) DESC,
                        doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum_tokens
      FROM documents
    ) WHERE cum_tokens <= 800
    """,
)
def q_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget curriculum cut: per source, keep longest-first
    docs until 800 cumulative tokens (functions/sampling.py
    token_budget_sample — one window shuffle keyed by source)."""
    from mapreducewordoccurences_spark.functions.sampling import token_budget_sample

    return token_budget_sample(
        _t(spark, sf_dir, "documents"), budget_tokens=800
    ).select("doc_id", "source", "n_tokens", "cum_tokens")


@register(
    "token_entropy_docs",
    """
    WITH tf AS (
      SELECT doc_id, w, count(*) AS c
      FROM (SELECT doc_id,
                   unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
            FROM documents)
      GROUP BY 1, 2
    )
    SELECT doc_id,
           SUM(c) AS n_tokens,
           count(*) AS n_distinct,
           CAST(ROUND(ln(CAST(SUM(c) AS DOUBLE))
                      - SUM(c * ln(CAST(c AS DOUBLE))) / SUM(c), 4)
                AS DOUBLE) AS entropy,
           count(*) / SUM(c) AS ttr
    FROM tf GROUP BY doc_id
    """,
)
def q_token_entropy_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each document's token distribution plus
    type-token ratio — low-entropy docs are degenerate/repetitive
    (keyword stuffing, generation loops) and high-TTR ultra-short
    docs are noise; both are standard pre-training quality gates.
    H = ln(n) - Σ c·ln(c)/n over exact integer counts (the only
    floats are the closing ln/divide, rounded to 4). One
    (doc, token) aggregation, one per-doc rollup — shuffles share
    the doc key prefix."""
    docs = _t(spark, sf_dir, "documents")
    from mapreducewordoccurences_spark.functions.text import tokens

    tf = (
        docs.select(
            "doc_id",
            F.explode(tokens("text", lowercase=True)).alias("w"),
        )
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n = F.sum("c")
    return tf.groupBy("doc_id").agg(
        n.alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.round(
            F.log(n.cast("double"))
            - F.sum(F.col("c") * F.log(F.col("c").cast("double"))) / n,
            4,
        ).alias("entropy"),
        (F.count(F.lit(1)) / n).alias("ttr"),
    )


@register(
    "bigram_logprob_scores",
    """
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
      FROM documents
    ), dbg AS (
      SELECT doc_id, t[i] AS w1, t[i + 1] AS w2, count(*) AS c
      FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i
            FROM toks WHERE len(t) >= 2)
      GROUP BY 1, 2, 3
    ), cbg AS (
      SELECT w1, w2, SUM(c) AS cb FROM dbg GROUP BY 1, 2
    ), cp AS (
      SELECT w1, SUM(cb) AS cw FROM cbg GROUP BY 1
    ), v AS (
      SELECT CAST(count(DISTINCT w) AS DOUBLE) AS v
      FROM (SELECT unnest(t) AS w FROM toks)
    )
    SELECT doc_id,
           CAST(ROUND(-SUM(c * ln((cb + 1) / (cw + v.v))) / SUM(c), 4)
                AS DOUBLE) AS mean_nll,
           SUM(c) AS n_bigrams
    FROM dbg JOIN cbg USING (w1, w2) JOIN cp USING (w1) CROSS JOIN v
    GROUP BY doc_id
    """,
)
def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean NLL per doc under the corpus Laplace-smoothed bigram LM
    (functions/ranking.py bigram_logprob) — the word-ORDER fluency
    gate (scrambled text passes the unigram gate, fails this one).
    Corpus model broadcasts at distinct-pair cardinality."""
    from mapreducewordoccurences_spark.functions.ranking import bigram_logprob

    return bigram_logprob(_t(spark, sf_dir, "documents")).select(
        "doc_id", F.round("mean_nll", 4).alias("mean_nll"), "n_bigrams"
    )


@register(
    "cms_word_counts",
    # Count-min has no DuckDB counterpart, but its acceptance CONTRACT
    # is one-sided and checkable: estimate ≥ exact (never undercounts)
    # and estimate ≤ exact + eps·N with probability ≥ confidence. The
    # exact counts hash-match; the oracle pins cms_ok to TRUE — the
    # Spark side must prove its sketch honors the bound for the
    # value-hash to match.
    """
    WITH counts AS (
      SELECT w AS word, count(*) AS exact_cnt
      FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
            FROM documents)
      GROUP BY w
    )
    SELECT word, exact_cnt, TRUE AS cms_ok
    FROM counts ORDER BY exact_cnt DESC, word LIMIT 20
    """,
)
def q_cms_word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimates for the 20 hottest words —
    the mergeable, constant-memory frequency tier next to the exact
    heavy-hitter op (operators/skew.py). The sketch is a depth·width
    CELL TABLE (functions/cms.py), built with one bounded-exchange
    groupBy and probed with a broadcast join — no full (key, count)
    state anywhere, and sketches of separate streams merge by cell
    addition. Acceptance per probe: exact ≤ estimate ≤ exact +
    (e/width)·N (CMS can only overcount) — emitted as cms_ok, which
    must be uniformly TRUE to hash-match the oracle."""
    import math

    from mapreducewordoccurences_spark.functions.cms import cms_build, cms_estimate
    from mapreducewordoccurences_spark.functions.text import tokens

    width, depth = 2048, 4
    docs = _t(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(tokens("text", lowercase=True)).alias("word")
    )
    counts = words.groupBy("word").agg(F.count(F.lit(1)).alias("exact_cnt"))
    top = counts.orderBy(F.col("exact_cnt").desc(), "word").limit(20)
    sketch = cms_build(words, "word", width=width, depth=depth)
    est = cms_estimate(sketch, top.select("word"), "word", width=width, depth=depth)
    n_total = words.agg(F.count(F.lit(1)).alias("n"))
    eps = math.e / width
    return (
        top.join(est, "word")
        .crossJoin(F.broadcast(n_total))
        .select(
            "word",
            "exact_cnt",
            (
                (F.col("cms_estimate") >= F.col("exact_cnt"))
                & (F.col("cms_estimate") <= F.col("exact_cnt") + F.lit(eps) * F.col("n"))
            ).alias("cms_ok"),
        )
    )


@register(
    "readability_scores",
    """
    WITH t AS (
      SELECT doc_id,
             len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_words,
             greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sentences,
             len(regexp_extract_all(lower(text), '[aeiouy]+')) AS n_syllables
      FROM documents
    )
    SELECT doc_id, n_words, n_sentences, n_syllables,
           CAST(ROUND(206.835 - 1.015 * (n_words / n_sentences)
                      - 84.6 * (n_syllables / n_words), 4) AS DOUBLE)
             AS flesch_score
    FROM t WHERE n_words > 0
    """,
)
def q_readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document from regex-countable proxies
    (sentences = terminal-punctuation runs, floor 1; syllables =
    vowel-group runs — the standard cheap approximation). A
    complexity gate alongside quality_score/text_stats: too-easy AND
    too-hard tails both correlate with low training value. Map-only
    — three regexp counts in one scan, no shuffle at all."""
    docs = _t(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.size(F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).alias(
            "n_words"
        ),
        F.greatest(
            F.size(F.expr("regexp_extract_all(text, '[.!?]+', 0)")), F.lit(1)
        ).alias("n_sentences"),
        F.size(F.expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)")).alias(
            "n_syllables"
        ),
    )
    return t.where(F.col("n_words") > 0).select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        F.round(
            F.lit(206.835)
            - 1.015 * (F.col("n_words") / F.col("n_sentences"))
            - 84.6 * (F.col("n_syllables") / F.col("n_words")),
            4,
        ).alias("flesch_score"),
    )


@register(
    "zipf_slope_vocabulary",
    """
    WITH vocab AS (
      SELECT w, count(*) AS c
      FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
            FROM documents)
      GROUP BY w
    ), ranked AS (
      SELECT ln(CAST(ROW_NUMBER() OVER (ORDER BY c DESC, w) AS DOUBLE)) AS x,
             ln(CAST(c AS DOUBLE)) AS y
      FROM vocab
    ), m AS (
      SELECT count(*) AS n,
             sum(CAST(trunc(x * 1e6) AS BIGINT)) / 1e6 AS sx,
             sum(CAST(trunc(y * 1e6) AS BIGINT)) / 1e6 AS sy,
             sum(CAST(trunc(x * x * 1e6) AS BIGINT)) / 1e6 AS sxx,
             sum(CAST(trunc(x * y * 1e6) AS BIGINT)) / 1e6 AS sxy
      FROM ranked
    )
    SELECT n AS vocab_size,
           CAST(ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 4) AS DOUBLE)
             AS zipf_slope
    FROM m
    """,
)
def q_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit: OLS slope of ln(frequency) on ln(rank) over the
    corpus vocabulary — natural language sits near −1; templated or
    synthetic corpora deviate hard, making this a cheap whole-corpus
    naturalness gate. Moments use the fixed-point protocol;
    x = ln(rank) is positive, so trunc/CAST agree across engines.

    Scale design — NO global vocabulary sort: an earlier formulation
    ranked the whole vocabulary with an unpartitioned row_number (a
    single-partition sort over 10⁸-10⁹ words web-scale). But y=ln(c)
    is CONSTANT within a frequency-tie class, so which tied word gets
    which rank never affects the OLS moments — only each class's rank
    block [offset+1, offset+size] does. So: group words into
    frequency classes (distinct counts k are ≤ √(2·Σc) — ~450k even
    at 100T tokens, a bounded axis safe to window over), cumulate
    offsets on that small axis, then regenerate the rank blocks
    distributively with sequence+explode, chunked to 64k so a giant
    class (the hapaxes are ~half the vocabulary) spreads across
    tasks instead of exploding inside one. Identical (x, y) multiset
    → identical sums as the ranked formulation, shared oracle."""
    docs = _t(spark, sf_dir, "documents")
    from mapreducewordoccurences_spark.functions.text import tokens

    vocab = (
        docs.select(F.explode(tokens("text", lowercase=True)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    classes = vocab.groupBy("c").agg(F.count(F.lit(1)).alias("s"))
    # bounded axis: distinct frequency values (see docstring)
    wcls = (
        Window.partitionBy()
        .orderBy(F.col("c").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = classes.select(
        "c", "s", F.coalesce(F.sum("s").over(wcls), F.lit(0)).alias("o")
    )
    _CH = 1 << 16
    chunks = offs.select(
        "c",
        "s",
        "o",
        F.explode(
            F.sequence(F.lit(0).cast("long"), ((F.col("s") - 1) / _CH).cast("long"))
        ).alias("k"),
    ).repartition("c", "k")
    ranked = chunks.select(
        "c",
        F.explode(
            F.sequence(
                F.col("o") + F.col("k") * _CH + 1,
                F.least(
                    F.col("o") + (F.col("k") + 1) * _CH,
                    F.col("o") + F.col("s"),
                ),
            )
        ).alias("r"),
    ).select(
        F.log(F.col("r").cast("double")).alias("x"),
        F.log(F.col("c").cast("double")).alias("y"),
    )
    fp = lambda c: F.expr(f"CAST(({c}) * 1e6 AS BIGINT)")  # noqa: E731
    m = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(fp("x")) / F.lit(1e6)).alias("sx"),
        (F.sum(fp("y")) / F.lit(1e6)).alias("sy"),
        (F.sum(fp("x * x")) / F.lit(1e6)).alias("sxx"),
        (F.sum(fp("x * y")) / F.lit(1e6)).alias("sxy"),
    )
    n, sx, sy, sxx, sxy = (F.col(c) for c in ("n", "sx", "sy", "sxx", "sxy"))
    return m.select(
        n.alias("vocab_size"),
        F.round((n * sxy - sx * sy) / (n * sxx - sx * sx), 4).alias("zipf_slope"),
    )


@register(
    "approx_topk_words_acceptance",
    # approx_top_k's sketch internals aren't portable; its CONTRACT is:
    # genuinely heavy items must surface. Exact top-5 hash-matches;
    # the containment boolean must be uniformly TRUE.
    """
    WITH counts AS (
      SELECT w AS word, count(*) AS exact_cnt
      FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
            FROM documents)
      GROUP BY w
    )
    SELECT word, exact_cnt, TRUE AS in_approx_topk
    FROM counts ORDER BY exact_cnt DESC, word LIMIT 5
    """,
)
def q_approx_topk_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4.1's approx_top_k sketch vs the exact heavy hitters:
    the true top-5 words (hash-matched exact counts) must appear in
    the sketch's top-10 — heavily frequent items are exactly what a
    frequent-items sketch guarantees it cannot drop. The sketch
    aggregates distributed with constant memory; the exact side is
    the same grouped count the wordcount core uses."""
    from mapreducewordoccurences_spark.functions.text import tokens

    docs = _t(spark, sf_dir, "documents")
    words = docs.select(F.explode(tokens("text", lowercase=True)).alias("word"))
    top5 = (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .orderBy(F.col("exact_cnt").desc(), "word")
        .limit(5)
    )
    approx = words.agg(F.expr("approx_top_k(word, 10)").alias("__tk")).select(
        F.explode("__tk").alias("__e")
    ).select(F.col("__e.item").alias("word"), F.lit(True).alias("__in"))
    return (
        top5.join(approx, "word", "left")
        .select(
            "word",
            "exact_cnt",
            F.coalesce("__in", F.lit(False)).alias("in_approx_topk"),
        )
    )


@register("bpe_learn_merges", _bpe_oracle(10))
def q_bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer-vocabulary learning on the corpus
    (functions/bpe.py): 10 merge rounds over the word-frequency
    table. One corpus-scale pass total — every round after it runs on
    the VOCABULARY (distinct words × symbols, frequency-weighted),
    which is how production BPE trainers scale; merge application is
    a built-in aggregate() fold (no Python row path), argmax is a
    one-row driver scalar per round, lineage is checkpoint-truncated
    (the connected-components discipline). Fully oracle-gated: every
    quantity is integer (pair counts) or exact string manipulation
    with a total-order argmax tiebreak, so the 10-round loop is
    bit-portable and the DuckDB oracle unrolls the identical
    recurrence through chained CTEs (see _bpe_oracle); additionally
    differential-tested against a pure-Python BPE reference in
    tests/test_bpe.py."""
    from mapreducewordoccurences_spark.functions.bpe import bpe_merge_table

    return bpe_merge_table(
        spark, _t(spark, sf_dir, "documents"), num_merges=10
    )


@register(
    "quality_stratified_corpus_sample",
    """
    WITH tf AS (
      SELECT doc_id, w AS word, count(*) AS tf
      FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
            FROM documents)
      GROUP BY 1, 2
    ), vocab AS (
      SELECT word, SUM(tf) AS cw FROM tf GROUP BY word
    ), tot AS (SELECT CAST(SUM(cw) AS DOUBLE) AS total FROM vocab),
    nll AS (
      SELECT doc_id,
             CAST(ROUND(-SUM(tf.tf * ln(vocab.cw / tot.total)) / SUM(tf.tf), 4)
                  AS DOUBLE) AS mean_nll,
             SUM(tf.tf) AS n_tokens
      FROM tf JOIN vocab USING (word) CROSS JOIN tot
      GROUP BY doc_id
    ), bounds AS (
      SELECT quantile_disc(mean_nll, 0.25) AS p25,
             quantile_disc(mean_nll, 0.50) AS p50,
             quantile_disc(mean_nll, 0.75) AS p75
      FROM nll
    ), binned AS (
      SELECT doc_id, n_tokens,
             CASE WHEN mean_nll <= p25 THEN 1
                  WHEN mean_nll <= p50 THEN 2
                  WHEN mean_nll <= p75 THEN 3
                  ELSE 4 END AS quality_bin,
             CAST(concat('0x', substr(md5('curr' || CAST(doc_id AS VARCHAR)),
                                      1, 4)) AS INT) < 16384 AS sampled
      FROM nll CROSS JOIN bounds
    )
    SELECT quality_bin,
           count(*) AS n_docs,
           count(CASE WHEN sampled THEN 1 END) AS n_sampled,
           SUM(CASE WHEN sampled THEN n_tokens ELSE 0 END) AS n_tokens_sampled
    FROM binned GROUP BY quality_bin
    """,
)
def q_quality_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum construction end-to-end: score every doc with the
    corpus unigram LM (fluency), cut EXACT quartile boundaries
    (percentile_disc — broadcast, no global sort of docs), and draw a
    reproducible 25% hash-sample per quality bin — the
    quality-stratified subset an ablation or curriculum schedule
    trains on. Composes functions/ranking.py unigram_logprob +
    functions/sampling.py hash_bucket; every stage is a pattern the
    catalog verifies in isolation, here verified COMPOSED."""
    from mapreducewordoccurences_spark.functions.ranking import unigram_logprob
    from mapreducewordoccurences_spark.functions.sampling import hash_bucket

    docs = _t(spark, sf_dir, "documents")
    nll = unigram_logprob(docs).select(
        "doc_id", F.round("mean_nll", 4).alias("mean_nll"), "n_tokens"
    )
    bounds = nll.agg(
        F.expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY mean_nll)").alias("p25"),
        F.expr("percentile_disc(0.50) WITHIN GROUP (ORDER BY mean_nll)").alias("p50"),
        F.expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY mean_nll)").alias("p75"),
    )
    binned = nll.crossJoin(F.broadcast(bounds)).select(
        "doc_id",
        "n_tokens",
        F.when(F.col("mean_nll") <= F.col("p25"), 1)
        .when(F.col("mean_nll") <= F.col("p50"), 2)
        .when(F.col("mean_nll") <= F.col("p75"), 3)
        .otherwise(4)
        .alias("quality_bin"),
        (hash_bucket(F.col("doc_id"), salt="curr") < 16384).alias("sampled"),
    )
    return binned.groupBy("quality_bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(F.col("sampled"), 1)).alias("n_sampled"),
        F.sum(F.when(F.col("sampled"), F.col("n_tokens")).otherwise(0)).alias(
            "n_tokens_sampled"
        ),
    )


@register(
    "keyword_and_search",
    """
    WITH inv AS (
      SELECT DISTINCT doc_id, w
      FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
            FROM documents)
      WHERE w IN ('spark', 'merge', 'window')
    ), hits AS (
      SELECT doc_id, count(*) AS n_terms FROM inv GROUP BY doc_id
    )
    SELECT h.doc_id, d.source, d.lang,
           len(regexp_extract_all(lower(d.text), '[a-z0-9]+')) AS n_tokens
    FROM hits h JOIN documents d ON d.doc_id = h.doc_id
    WHERE h.n_terms = 3
    """,
)
def q_keyword_and_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean AND keyword search the inverted-index way: docs
    containing ALL of {spark, merge, window} found by filtering the
    posting lists and counting distinct matched terms per doc — the
    group-count == k trick that replaces k chained LIKE scans (k
    scans → one scan; the IN filter prunes the exploded token stream
    map-side before any shuffle). BM25 (bm25_topk_docs) is the
    ranked counterpart; this is the filter counterpart."""
    docs = _t(spark, sf_dir, "documents")
    from mapreducewordoccurences_spark.functions.text import tokens

    terms = ["spark", "merge", "window"]
    inv = (
        docs.select("doc_id", F.explode(tokens("text", lowercase=True)).alias("w"))
        .where(F.col("w").isin(terms))
        .distinct()
    )
    hits = inv.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_terms"))
    return (
        hits.where(F.col("n_terms") == len(terms))
        .join(docs, "doc_id")
        .select(
            "doc_id",
            "source",
            "lang",
            F.size(tokens("text", lowercase=True)).alias("n_tokens"),
        )
    )


@register(
    "pii_redaction_audit",
    f"""
    WITH synth AS (
      SELECT source, {_PII_SYNTH_SQL} AS t FROM documents
    ), redacted AS (
      SELECT source, t,
             regexp_replace(
               regexp_replace(
                 regexp_replace(t, '{_PII_EMAIL}', '[PII]', 'g'),
                 '{_PII_PHONE}', '[PII]', 'g'),
               '{_PII_IPV4}', '[PII]', 'g') AS rt
      FROM synth
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(SUM(len(regexp_extract_all(t, '{_PII_EMAIL}'))) AS BIGINT) AS n_emails,
           CAST(SUM(len(regexp_extract_all(t, '{_PII_PHONE}'))) AS BIGINT) AS n_phones,
           CAST(SUM(len(regexp_extract_all(t, '{_PII_IPV4}'))) AS BIGINT) AS n_ipv4,
           CAST(SUM(length(t) - length(rt)) AS BIGINT) AS chars_redacted
    FROM redacted GROUP BY source
    """,
)
def q_pii_redaction_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing audit — the compliance gate every training-data
    release runs: per-source counts of emails / phone-like groups /
    IPv4s found, and how many characters redaction removed. Patterns
    restricted to the Java-regex ∩ RE2 common dialect so Spark and
    the oracle see identical matches; the scrub itself is chained
    built-in regexp_replace (functions/text.redact_pii) — one codegen
    stage over the corpus, no Python. Counts are measured on the
    original text; chars_redacted proves the rewrite actually fired.
    Scale: pure scan→project→groupBy(#sources); nothing else moves."""
    from mapreducewordoccurences_spark.functions.text import pii_counts, redact_pii

    docs = _t(spark, sf_dir, "documents")
    synth = docs.select(
        "source",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com call 555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" ip 10."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".0."),
            ((F.col("doc_id") * 7) % 256).cast("string"),
        ).alias("t"),
    )
    counts = pii_counts("t")
    return synth.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(counts["email"]).alias("n_emails"),
        F.sum(counts["phone"]).alias("n_phones"),
        F.sum(counts["ipv4"]).alias("n_ipv4"),
        F.sum(F.length("t") - F.length(redact_pii("t"))).alias("chars_redacted"),
    )


@register(
    "ngram_memorization_scan",
    """
    WITH sh AS (
      SELECT doc_id, unnest(list_distinct(
               [s[i] || ' ' || s[i+1] || ' ' || s[i+2] || ' ' || s[i+3] || ' ' || s[i+4]
                for i in range(1, len(s)-3)]
             )) AS shingle
      FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS s
            FROM documents)
      WHERE len(s) >= 5
    )
    SELECT shingle, count(*) AS n_docs
    FROM sh GROUP BY shingle
    HAVING count(*) >= 3
    ORDER BY n_docs DESC, shingle
    LIMIT 20
    """,
)
def q_ngram_memorization_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memorization-risk scan: the most-repeated 5-gram phrases across
    DISTINCT documents — the check LLM data teams run to find
    boilerplate/licenses/templates that models would memorize
    verbatim. Distinct-per-doc shingles (dedup/ngram machinery at
    n=5) → one groupBy(shingle) → TakeOrderedAndProject for the top
    slice. At 100 TB the groupBy is the corpus's only shuffle and
    combines map-side; the HAVING floor prunes the long tail before
    the ordered take."""
    from mapreducewordoccurences_spark.dedup.ngram import shingles_df

    docs = _t(spark, sf_dir, "documents")
    return (
        shingles_df(docs, n=5)
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") >= 3)
        .orderBy(F.col("n_docs").desc(), "shingle")
        .limit(20)
    )


@register(
    "quality_filter_funnel",
    """
    WITH scored AS (
      SELECT doc_id, lang,
             len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_tok,
             len(list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+'))) AS n_dis,
             row_number() OVER (
               PARTITION BY md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
               ORDER BY doc_id) AS fp_rank
      FROM documents
    ), flags AS (
      SELECT (n_tok >= 30) AS f_len,
             (n_dis * 1.0 / n_tok >= 0.35) AS f_div,
             (lang <> 'zh') AS f_lang,
             (fp_rank = 1) AS f_uniq
      FROM scored
    )
    SELECT count(*) AS n_total,
           count(CASE WHEN f_len THEN 1 END) AS after_min_tokens,
           count(CASE WHEN f_len AND f_div THEN 1 END) AS after_diversity,
           count(CASE WHEN f_len AND f_div AND f_lang THEN 1 END) AS after_lang,
           count(CASE WHEN f_len AND f_div AND f_lang AND f_uniq THEN 1 END) AS after_dedup
    FROM flags
    """,
)
def q_quality_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-funnel attrition audit in ONE pass: how many documents
    survive each stage of a quality cascade (min length → lexical
    diversity → language → exact-dedup survivorship), with sequential
    semantics (stage k counts only rows that passed stages < k).
    The anti-pattern this replaces is N sequential filtered scans —
    here every per-doc flag materializes in one projection (+ one
    fingerprint window for dedup rank) and all funnel stages fall out
    of a single conditional aggregation. The counts are the dashboard
    every corpus build publishes."""
    from mapreducewordoccurences_spark.functions.text import doc_fingerprint, tokens

    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy(doc_fingerprint("text")).orderBy("doc_id")
    scored = docs.select(
        "lang",
        F.size(tokens("text", lowercase=True)).alias("n_tok"),
        F.size(F.array_distinct(tokens("text", lowercase=True))).alias("n_dis"),
        F.row_number().over(w).alias("fp_rank"),
    )
    f_len = F.col("n_tok") >= 30
    f_div = F.col("n_dis") * 1.0 / F.col("n_tok") >= 0.35
    f_lang = F.col("lang") != "zh"
    f_uniq = F.col("fp_rank") == 1
    return scored.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count(F.when(f_len, 1)).alias("after_min_tokens"),
        F.count(F.when(f_len & f_div, 1)).alias("after_diversity"),
        F.count(F.when(f_len & f_div & f_lang, 1)).alias("after_lang"),
        F.count(F.when(f_len & f_div & f_lang & f_uniq, 1)).alias("after_dedup"),
    )


@register(
    "repetition_filter_stats",
    """
    WITH tok AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS s
      FROM documents
    ), base AS (
      SELECT doc_id, len(s) AS n_words, s FROM tok WHERE len(s) >= 5
    ), t2 AS (
      SELECT doc_id, max(c) AS top2 FROM (
        SELECT doc_id, g, count(*) AS c
        FROM (SELECT doc_id,
                     unnest([s[i] || ' ' || s[i+1] for i in range(1, len(s))]) AS g
              FROM base)
        GROUP BY 1, 2
      ) GROUP BY 1
    ), d5 AS (
      SELECT doc_id, SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup_occ FROM (
        SELECT doc_id, g, count(*) AS c
        FROM (SELECT doc_id,
                     unnest([s[i] || ' ' || s[i+1] || ' ' || s[i+2] || ' ' ||
                             s[i+3] || ' ' || s[i+4]
                             for i in range(1, len(s) - 3)]) AS g
              FROM base)
        GROUP BY 1, 2
      ) GROUP BY 1
    )
    SELECT b.doc_id, b.n_words,
           (2.0 * t2.top2) / b.n_words AS top2_frac,
           d5.dup_occ / (b.n_words - 4) AS dup5_frac,
           ((2.0 * t2.top2) / b.n_words <= 0.20)
             AND (d5.dup_occ / (b.n_words - 4) <= 0.15) AS repetition_ok
    FROM base b
    JOIN t2 ON b.doc_id = t2.doc_id
    JOIN d5 ON b.doc_id = d5.doc_id
    """,
)
def q_repetition_filter_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-doc repetition gate (Rae et al. 2021):
    top-2-gram coverage and duplicated-5-gram fraction per document,
    plus the keep/drop boolean at the paper's thresholds — the
    repetition family next to quality_score's length/stopword family
    and boilerplate_shingle_ratio's cross-doc family. Exact int/int
    ratios; see functions/text.py gopher_repetition_stats for the scale
    shape."""
    from mapreducewordoccurences_spark.functions.text import gopher_repetition_stats

    return gopher_repetition_stats(_t(spark, sf_dir, "documents"))


@register(
    "vocab_coverage_topn",
    # coverage is exact int/int division (one correctly-rounded double
    # per row), so it hash-matches across engines
    """
    WITH tok AS (
      SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
      FROM documents
    ), freq AS (
      SELECT w, count(*) AS f FROM tok GROUP BY w
    ), ranked AS (
      SELECT f, row_number() OVER (ORDER BY f DESC, w) AS rn FROM freq
    ), tot AS (
      SELECT sum(f) AS total_tokens, count(*) AS vocab_size FROM freq
    )
    SELECT n.top_n,
           t.vocab_size,
           CAST(COALESCE(SUM(r.f) FILTER (WHERE r.rn <= n.top_n), 0)
                AS BIGINT) AS covered_tokens,
           CAST(t.total_tokens AS BIGINT) AS total_tokens,
           COALESCE(SUM(r.f) FILTER (WHERE r.rn <= n.top_n), 0)
             / CAST(t.total_tokens AS DOUBLE) AS coverage
    FROM (VALUES (10), (100), (1000)) AS n(top_n)
    CROSS JOIN tot t CROSS JOIN ranked r
    GROUP BY n.top_n, t.vocab_size, t.total_tokens
    """,
)
def q_vocab_coverage_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve (the tokenizer-design measurement:
    what fraction of token OCCURRENCES the top-N vocabulary covers —
    the OOV-rate complement at candidate vocab sizes 10/100/1000).
    Plan: one corpus scan → word-count aggregate (map-side combine),
    PERSISTED under the cache bound (``bounded_persist``; two
    consumers below); the rank runs over the
    VOCABULARY axis — ONE orderBy(freq).limit(max N) cut
    (TakeOrderedAndProject, never a global sort of the vocab; at web
    scale the vocab is 10^8-10^9 rows and the N cuts are fixed
    constants), and all three covered sums are conditional aggregates
    over that single ranked ≤1000-row frame (r8 ADVICE: the former
    per-N cuts re-aggregated the corpus four times), broadcast
    against the 1-row total."""
    docs = _t(spark, sf_dir, "documents")
    cuts = (10, 100, 1000)
    freq = bounded_persist(
        docs.select(
            F.explode(
                F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), 0)
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    tot = freq.agg(
        F.sum("f").cast("bigint").alias("total_tokens"),
        F.count(F.lit(1)).alias("vocab_size"),
    )
    # one TakeOrderedAndProject at the widest cut; rn re-ranks the
    # bounded (<= max-N-row) frame, so the global window is over a
    # config-bounded axis, not the vocab
    ranked = (
        freq.orderBy(F.col("f").desc(), F.col("w"))
        .limit(max(cuts))
        .select(
            "f",
            F.row_number()
            .over(Window.orderBy(F.col("f").desc(), F.col("w")))
            .alias("rn"),
        )
    )
    cov = ranked.agg(
        *[
            F.coalesce(F.sum(F.when(F.col("rn") <= n, F.col("f"))), F.lit(0))
            .cast("bigint")
            .alias(f"c{n}")
            for n in cuts
        ]
    )
    return (
        cov.crossJoin(F.broadcast(tot))
        .select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(n).cast("int").alias("top_n"),
                            F.col(f"c{n}").alias("covered_tokens"),
                        )
                        for n in cuts
                    ]
                )
            ).alias("e"),
            "vocab_size",
            "total_tokens",
        )
        .select(
            F.col("e.top_n").alias("top_n"),
            "vocab_size",
            F.col("e.covered_tokens").alias("covered_tokens"),
            "total_tokens",
            (
                F.col("e.covered_tokens")
                / F.col("total_tokens").cast("double")
            ).alias("coverage"),
        )
    )
