"""Text-analysis functions for training-data pipelines.

All column expressions are JVM built-ins (regexp/array functions) —
no Python UDFs in the hot path, so whole-stage codegen holds and the
same expressions run unchanged over 100 TB of `documents`-shaped
parquet.

Tokenization here intentionally reuses the reference's character
class (case options aside): maximal ``[A-Za-z0-9]+`` runs
(src/main.c:187-189; SURVEY.md §2b).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mapreducewordoccurences_spark.core.wordcount import WORD_REGEX


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def tokens(text: Column | str, lowercase: bool = False) -> Column:
    """array<string> of word tokens (maximal alphanumeric runs)."""
    col = _c(text)
    if lowercase:
        col = F.lower(col)
    return F.regexp_extract_all(col, F.lit(WORD_REGEX), 0)


def token_count(text: Column | str) -> Column:
    """int token count — whitespace-free, regex-defined."""
    return F.size(tokens(text))


def alnum_chars(text: Column | str) -> Column:
    """Count of alphanumeric characters."""
    return F.length(F.regexp_replace(_c(text), "[^A-Za-z0-9]", ""))


def text_stats(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-document statistics: token counts, distinct tokens, average
    token length, alphanumeric ratio. Pure projection — no shuffle.

    Two-step projection: the token array and char counts materialize
    once, then the stats read the named columns (expression reuse —
    avoids re-running the regex per derived stat)."""
    base = df.select(
        F.col(id_col),
        tokens(text_col).alias("__toks"),
        alnum_chars(text_col).alias("__alnum"),
        F.length(_c(text_col)).alias("__chars"),
    )
    n_tok = F.size("__toks")
    return base.select(
        F.col(id_col),
        n_tok.alias("n_tokens"),
        F.size(F.array_distinct("__toks")).alias("n_distinct_tokens"),
        (F.col("__alnum") / F.nullif(n_tok, F.lit(0))).alias("avg_token_len"),
        (F.col("__alnum") / F.nullif(F.col("__chars"), F.lit(0))).alias("alnum_ratio"),
    )


# Small per-language stopword lists for the n-gram/stopword heuristic.
# Deliberately tiny and ASCII-only; real pipelines would plug in a
# model, but the operator shape (score per lang → argmax) is the same.
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it", "for", "with"],
    "es": ["el", "la", "de", "que", "y", "en", "los", "del", "se", "las"],
    "de": ["der", "die", "und", "das", "ist", "von", "mit", "den", "nicht", "ein"],
    "fr": ["le", "la", "les", "de", "et", "est", "des", "une", "dans", "que"],
    "zh": [],  # non-Latin scripts score 0 under this ASCII heuristic
}


def language_id(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Heuristic language ID: per-language stopword hit-rate, argmax.

    Scores = (#tokens found in lang's ``STOPWORDS`` list) / #tokens.
    Deterministic tie-break: lexicographically first language code.
    Emits (id, lang_guess, lang_score).
    """
    df = df.select(
        F.col(id_col), tokens(text_col, lowercase=True).alias("__toks")
    ).select(
        F.col(id_col),
        F.size("__toks").alias("__ntok"),
        F.array_distinct("__toks").alias("__dtoks"),
    )
    n_tok = F.col("__ntok")
    scored = []
    for lang in sorted(STOPWORDS):
        wl = F.array([F.lit(w) for w in STOPWORDS[lang]]) if STOPWORDS[lang] else F.array().cast("array<string>")
        hits = F.size(F.array_intersect(F.col("__dtoks"), wl))
        score = hits / F.nullif(n_tok, F.lit(0))
        scored.append(F.struct(F.coalesce(score, F.lit(0.0)).alias("score"), F.lit(lang).alias("lang")))
    # argmax: max of (score, lang) struct ordering, then invert lang for
    # lexicographic-first tie-break via negated comparison trick:
    # array_max picks highest score; ties broken by lang DESC under
    # struct ordering, so compare on (score, reversed rank) instead.
    best = F.array_max(
        F.array(*[
            F.struct(s["score"].alias("score"), F.lit(-i).alias("rank"), s["lang"].alias("lang"))
            for i, s in enumerate(scored)
        ])
    )
    return df.select(
        F.col(id_col),
        best["lang"].alias("lang_guess"),
        best["score"].alias("lang_score"),
    )


def quality_score(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Composite document-quality heuristics (Gopher/C4-style cheap
    filters): length, mean token length window, alnum ratio, stopword
    presence. Emits components plus a [0,1] composite ``quality``.
    Pure projection — streams at scan speed."""
    df = df.select(
        F.col(id_col),
        tokens(text_col, lowercase=True).alias("__toks"),
        alnum_chars(text_col).alias("__alnum"),
        F.length(_c(text_col)).alias("__chars"),
    )
    n_tok = F.size("__toks")
    avg_len = F.col("__alnum") / F.nullif(n_tok, F.lit(0))
    en_sw = F.array([F.lit(w) for w in STOPWORDS["en"]])
    sw_ratio = F.size(F.array_intersect(F.array_distinct("__toks"), en_sw)) / F.lit(float(len(STOPWORDS["en"])))
    alnum_r = F.col("__alnum") / F.nullif(F.col("__chars"), F.lit(0))
    len_ok = (n_tok >= 10) & (n_tok <= 100000)
    word_len_ok = (avg_len >= 2.0) & (avg_len <= 12.0)
    quality = (
        F.when(len_ok, F.lit(0.25)).otherwise(F.lit(0.0))
        + F.when(word_len_ok, F.lit(0.25)).otherwise(F.lit(0.0))
        + F.coalesce(alnum_r, F.lit(0.0)) * 0.25
        + F.least(sw_ratio * 2, F.lit(1.0)) * 0.25
    )
    return df.select(
        F.col(id_col),
        n_tok.alias("n_tokens"),
        avg_len.alias("avg_token_len"),
        alnum_r.alias("alnum_ratio"),
        sw_ratio.alias("stopword_ratio"),
        quality.alias("quality"),
    )


def repetition_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_token_max: float = 0.2,
    dup_2gram_max: float = 0.4,
    dup_3gram_max: float = 0.3,
) -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021 §A1.1): flag
    documents dominated by a single token or by repeated n-grams —
    boilerplate, keyword stuffing, and degenerate generations all trip
    these before any model-based scorer runs.

    Emits per doc (≥1 token): top_token_frac (share of the most
    frequent token), dup_2gram_frac / dup_3gram_frac (fraction of
    n-gram slots occupied by repeats), and an int ``flagged``.

    Plan: the n-gram fractions are pure array projections (map-only);
    the top-token share needs true per-(doc, token) counts, so it
    aggregates the exploded tokens — partial map-side combine, then
    two shuffles keyed (doc, token) → (doc). Linear in corpus size,
    no skew (doc_id keys are unique)."""
    # lazy import: ngram.py imports tokens() from this module
    from mapreducewordoccurences_spark.dedup.ngram import shingle_array

    base = df.select(F.col(id_col), tokens(text_col, lowercase=True).alias("__toks"))
    n_tok = F.size("__toks")

    def dup_frac(n: int) -> Column:
        total = n_tok - (n - 1)
        distinct = F.size(shingle_array("__toks", n))
        return F.when(n_tok >= n, (total - distinct) / total).otherwise(F.lit(0.0))

    grams = base.select(
        F.col(id_col),
        dup_frac(2).alias("dup_2gram_frac"),
        dup_frac(3).alias("dup_3gram_frac"),
    )
    top = (
        base.select(F.col(id_col), F.explode("__toks").alias("__tok"))
        .groupBy(id_col, "__tok")
        .agg(F.count(F.lit(1)).alias("__c"))
        .groupBy(id_col)
        .agg((F.max("__c") / F.sum("__c")).alias("top_token_frac"))
    )
    flagged = (
        (F.col("top_token_frac") > top_token_max)
        | (F.col("dup_2gram_frac") > dup_2gram_max)
        | (F.col("dup_3gram_frac") > dup_3gram_max)
    )
    return top.join(grams, on=id_col).select(
        F.col(id_col),
        "top_token_frac",
        "dup_2gram_frac",
        "dup_3gram_frac",
        flagged.cast("int").alias("flagged"),
    )


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 64,
    stride: int | None = None,
) -> DataFrame:
    """Split documents into fixed-length token windows — the
    sequence-prep step between cleaning and packing: long documents
    become ≤chunk_tokens pieces of lowercased tokens; ``stride < chunk_tokens`` yields
    overlapping windows (sliding context for retrieval indexing).

    Emits (id, chunk_id, n_chunk_tokens, chunk_text); docs with zero
    tokens produce no chunks. chunk_id is 0-based in document order,
    deterministic.

    Plan: tokenize → window starts via ``sequence(1, n, stride)`` →
    posexplode of per-start slices. Map-only (one Generate, no
    shuffle); output rows ≈ input tokens / stride, so the operator
    streams at scan speed at any corpus size."""
    if stride is None:
        stride = chunk_tokens
    if chunk_tokens <= 0 or stride <= 0:
        raise ValueError("chunk_tokens and stride must be positive")
    base = df.select(
        F.col(id_col), tokens(text_col, lowercase=True).alias("__toks")
    ).where(F.size("__toks") >= 1)
    starts = F.sequence(F.lit(1), F.size("__toks"), F.lit(stride))
    chunks = F.transform(starts, lambda s: F.slice(F.col("__toks"), s, chunk_tokens))
    return base.select(
        F.col(id_col), F.posexplode(chunks).alias("chunk_id", "__chunk")
    ).select(
        F.col(id_col),
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.size("__chunk").alias("n_chunk_tokens"),
        F.concat_ws(" ", F.col("__chunk")).alias("chunk_text"),
    )


def doc_fingerprint(text: Column | str) -> Column:
    """Deterministic 128-bit content fingerprint (hex) for exact-dup
    detection: md5 over whitespace-collapsed, lowercased text.

    Engine-portable: md5 is identical in Spark, DuckDB, Python —
    unlike Spark's internal murmur ``hash()``."""
    return F.md5(F.lower(F.trim(F.regexp_replace(_c(text), r"\s+", " "))))


# PII patterns shared by redact_pii and its DuckDB oracle strings —
# deliberately restricted to syntax both Java regex (Spark) and RE2
# (DuckDB) interpret identically: character classes, bounded repeats,
# alternation; no lookarounds, no backreferences.
PII_PATTERNS: dict[str, str] = {
    # local@domain.tld — permissive on purpose; scrubbing favors recall
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    # NNN-NNN-NNNN or NNN-NNNN phone-like digit groups
    "phone": r"[0-9]{3}-[0-9]{3,4}(-[0-9]{4})?",
    # dotted-quad IPv4
    "ipv4": r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}",
}


def pii_counts(text: Column | str) -> dict[str, Column]:
    """Per-kind PII match counts for one text column — built-in
    regexp_count only, so the scan stays in codegen at corpus scale.
    Kinds are counted on the ORIGINAL text independently (an IPv4
    inside an email would count for both; scrub order resolves
    overlaps in redact_pii)."""
    col = _c(text)
    return {
        kind: F.regexp_count(col, F.lit(pat)) for kind, pat in PII_PATTERNS.items()
    }


def redact_pii(text: Column | str) -> Column:
    """Redacted text: every PII match replaced by ``[PII]``.
    Patterns apply in PII_PATTERNS order (email first, so its
    dotted-domain bytes can't be re-matched as ipv4 fragments). One
    chained regexp_replace expression — single pass per pattern, no
    Python in the path."""
    col = _c(text)
    for pat in PII_PATTERNS.values():
        col = F.regexp_replace(col, pat, "[PII]")
    return col


def gopher_repetition_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top2_max_frac: float = 0.20,
    dup5_max_frac: float = 0.15,
) -> DataFrame:
    """Within-document repetition filters à la Gopher/MassiveText
    (Rae et al. 2021, Table A1): templated, looping, or
    machine-generated text repeats itself internally, and repetitious
    docs measurably hurt LM quality even when they pass length/
    stopword gates. Complements ``repetition_stats`` above (top-token
    + distinct-2/3-gram fractions) with the paper's two remaining
    n-gram families — COVERAGE by the dominant 2-gram and the
    duplicated-5-gram occurrence share — under the published
    keep/drop thresholds. Word-level analogs (our corpus has no
    newlines, so the line/paragraph family is vacuous here):

    - ``top2_frac``: fraction of word positions covered by the most
      frequent word 2-gram (2·max-count / n_words) — high when one
      phrase dominates;
    - ``dup5_frac``: fraction of 5-gram windows whose gram occurs
      more than once in the doc — high for copy-paste loops;
    - ``repetition_ok``: both below their thresholds (the paper's
      0.20 / 0.15 defaults, char→word adapted).

    Docs with fewer than 5 words are dropped (no 5-gram window; the
    short-doc gate belongs to quality_score's length family).

    All ratios are exact int/int divides — bit-deterministic across
    engines, no float accumulation. Scale shape: one tokens
    projection feeds both gram families; the only shuffles are two
    (doc, gram)-keyed counts (map-side combinable, bounded by doc
    length, raw text never shuffles) and the final doc-keyed joins.
    """
    base = df.select(
        _c(id_col).alias("__id"), tokens(text_col, lowercase=True).alias("__t")
    ).where(F.size("__t") >= 5)
    g2 = (
        base.select(
            "__id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(__t) - 1),"
                    " i -> concat(__t[i-1], ' ', __t[i]))"
                )
            ).alias("__g"),
        )
        .groupBy("__id", "__g")
        .agg(F.count(F.lit(1)).alias("__c"))
        .groupBy("__id")
        .agg(F.max("__c").alias("__top2"))
    )
    g5 = (
        base.select(
            "__id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(__t) - 4),"
                    " i -> concat(__t[i-1], ' ', __t[i], ' ', __t[i+1],"
                    " ' ', __t[i+2], ' ', __t[i+3]))"
                )
            ).alias("__g"),
        )
        .groupBy("__id", "__g")
        .agg(F.count(F.lit(1)).alias("__c"))
        .groupBy("__id")
        .agg(
            F.sum(F.when(F.col("__c") >= 2, F.col("__c")).otherwise(F.lit(0))).alias(
                "__dup_occ"
            )
        )
    )
    n = base.select("__id", F.size("__t").alias("n_words"))
    top2_frac = (F.lit(2.0) * F.col("__top2")) / F.col("n_words")
    dup5_frac = F.col("__dup_occ") / (F.col("n_words") - F.lit(4))
    return (
        n.join(g2, "__id")
        .join(g5, "__id")
        .select(
            F.col("__id").alias(id_col),
            "n_words",
            top2_frac.alias("top2_frac"),
            dup5_frac.alias("dup5_frac"),
            (
                (top2_frac <= F.lit(top2_max_frac))
                & (dup5_frac <= F.lit(dup5_max_frac))
            ).alias("repetition_ok"),
        )
    )
