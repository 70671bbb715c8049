"""Deduplication catalog: exact/near-dup tiers (n-gram Jaccard, prefix-filter SSJoin, MinHash-LSH, SimHash, substring spans), survivorship, cascades, incremental index probes, and decontamination.

Split from the former single-module queries.py (round 7). The
QUERIES/ORACLES registration contract is unchanged: importing this
module registers its queries with the shared registry.
"""

from __future__ import annotations

from mapreducewordoccurences_spark.queries._shared import *  # noqa: F401,F403

@register(
    "dedup_exact",
    """
    SELECT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint,
           min(doc_id) AS keep_id,
           count(*) AS dup_cnt
    FROM documents
    GROUP BY 1
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dup_groups(_t(spark, sf_dir, "documents"))


@register(
    "dedup_ngram_jaccard",
    """
    WITH sh AS (
      SELECT doc_id, unnest(list_distinct(
               [s[i] || ' ' || s[i+1] || ' ' || s[i+2] for i in range(1, len(s)-1)]
             )) AS shingle
      FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS s
            FROM documents)
      WHERE len(s) >= 3
    ), sizes AS (
      SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, i / (x.n + y.n - i) AS jaccard
    FROM inter JOIN sizes x ON x.doc_id = doc_a
               JOIN sizes y ON y.doc_id = doc_b
    WHERE i / (x.n + y.n - i) >= 0.8
    """,
)
def q_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_shingle_df caps posting-list length (a shingle in d docs
    contributes d² candidate pairs) — the scale-safe invocation. The
    cap never binds on the testdata (max observed df: 25 at sf0.1) so
    the unbounded DuckDB oracle still matches exactly; the uncapped
    variant stays the verifier tier in tests."""
    return ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), n=3, threshold=0.8, max_shingle_df=1000
    )


@register(
    "dedup_minhash_lsh_pairs",
    _EXACT_PAIRS_CTE.format(thr=0.7)
    + """
    SELECT doc_a, doc_b, i / (x.n + y.n - i) AS jaccard
    FROM inter JOIN sizes x ON x.doc_id = doc_a
               JOIN sizes y ON y.doc_id = doc_b
    WHERE i / (x.n + y.n - i) >= 0.7
    """,
)
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pair set, EXACT-VERIFIED: banded LSH
    candidates (generated at a low est-Jaccard cut of 0.5 — the band
    S-curve midpoint — so recall is ~1) are re-scored with exact
    distinct-shingle Jaccard (dedup/verify.py) and cut at 0.7. The
    output is therefore the exact Jaccard-0.7 pair set whenever LSH
    recall is 1.0 — a CONDITIONAL oracle by design: a borderline
    J≈0.7 pair missed by every band would break the hash-match. With
    128 perms / 32 bands of 4 rows, the per-pair miss probability at
    J=0.7 is (1-0.7⁴)³² ≈ 1.5e-4 (at the former 16 bands it was
    (1-0.7⁴)¹⁶ ≈ 1.2e-2 — worth the 2× signature cost), it vanishes
    as J → 1 (planted dups are never missed), and the separate
    acceptance row ``dedup_minhash_lsh`` gates recall ≥ 0.9 if the
    corpus ever grows an unlucky borderline pair. The hash-match
    against the exact-pair oracle doubles as an end-to-end recall
    gate; the raw hash-seeded candidate set itself is not portable
    SQL — this verified formulation is.

    Scale shape: banding bounds candidate volume; the exact scorer
    touches candidates only (same tier as dedup_cascade's LSH path).
    """
    docs = _t(spark, sf_dir, "documents")
    cand = minhash_lsh_pairs(
        docs, num_perm=128, bands=32, threshold=0.5
    ).select("doc_a", "doc_b")
    return exact_verify_pairs(docs, cand, threshold=0.7)


def _simhash_portable_oracle_sql(max_distance: int = 3) -> str:
    """DuckDB SQL that recomputes the PORTABLE simhash fingerprints
    bit-for-bit (low 60 bits of md5(token), per-bit ±1 votes, sign
    rule ``sum > 0``) and emits the exact Hamming-ball pair set via
    a brute-force self-join — a maximally independent implementation
    of the same published definition (Charikar'02 / Manku'07)."""
    votes = "\n      + ".join(
        f"(CASE WHEN SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END)"
        f" > 0 THEN CAST({1 << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for i in range(60)
    )
    return f"""
    WITH tok AS (
      SELECT doc_id,
             CAST(('0x' || substring(md5(t.tok), 1, 15)) AS BIGINT) AS h
      FROM documents,
           unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t(tok)
    ), fp AS (
      SELECT doc_id, {votes} AS simhash
      FROM tok GROUP BY doc_id
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_distance}
    """


@register("dedup_simhash_pairs", _simhash_portable_oracle_sql(max_distance=3))
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pair set — the exact Hamming-≤3 ball over
    PORTABLE 60-bit fingerprints (low 60 bits of md5(token); see
    dedup/simhash.py), which the oracle recomputes bit-for-bit in
    SQL and pairs by brute force. UNCONDITIONAL oracle: pigeonhole
    blocking recalls the Hamming ball completely by construction
    (any pair within d agrees on ≥1 of d+1 blocks), bit_count(xor)
    verification is exact, and the fingerprint function itself is
    engine-portable — no sketch-recall assumption anywhere, at any
    scale.

    History: through r6 this row exact-Jaccard-verified Hamming-≤16
    candidates against the J≥0.8 pair-set oracle — CONDITIONAL on
    sketch recall 1.0. The r7 sf1 sweep falsified the condition at
    scale AND exposed the cost shape (17 pigeonhole blocks of ~3.7
    bits → near-quadratic equi-join, 579 s at sf1). d=3 → 4 blocks
    of 15 bits (Manku et al.'s classic config) is the scale-safe
    shape, and the portable hash makes the contract exact instead of
    conditional. The Hamming↔Jaccard *correlation* — the sketchy
    part — is still gated by the ``dedup_simhash`` acceptance row
    (recall ≥ 0.85 of the exact J≥0.8 pairs at Hamming ≤ 8)."""
    docs = _t(spark, sf_dir, "documents")
    return simhash_near_dup_pairs(docs, max_distance=3, portable=True)


@register(
    "dedup_embedding_cosine",
    # threshold applied to the UNROUNDED cosine on both engines; the
    # rounded column only canonicalizes the output for value-hashing.
    # (testdata embeddings are isotropic — max pairwise cos ≈ 0.51 —
    # so 0.4 stands in for the ≥0.9 near-dup threshold real corpora use)
    """
    WITH p AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
               / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
                  * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))) AS cos_sim
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE a.vec_id < 1000 AND b.vec_id < 1000
    )
    SELECT id_a, id_b, ROUND(cos_sim, 6) AS cos_sim FROM p WHERE cos_sim >= 0.4
    """,
)
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, exact (verifier) tier on a
    bounded slice; at corpus scale the k-means cells of
    semantic_dedup_profile bound the candidates instead
    (semantic_dedup_recall_audit measures what they miss)."""
    from mapreducewordoccurences_spark.dedup.embedding import embedding_near_dup_pairs

    emb = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 1000)
    pairs = embedding_near_dup_pairs(emb, threshold=0.4)
    return pairs.select("id_a", "id_b", F.round("cos_sim", 6).alias("cos_sim"))


@register(
    "dedup_survivors_best_quality",
    # survivorship policy: keep the HIGHEST-QUALITY doc per exact-dup
    # group (not min-id) — ties broken by min doc_id. quality is the
    # same closed-form heuristic the quality_score query oracles.
    """
    WITH q AS (
      SELECT doc_id,
             md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint,
             (CASE WHEN len(regexp_extract_all(lower(text), '[a-z0-9]+')) BETWEEN 10 AND 100000 THEN 0.25 ELSE 0.0 END
              + CASE WHEN length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g'))
                          / NULLIF(len(regexp_extract_all(lower(text), '[a-z0-9]+')), 0)
                          BETWEEN 2.0 AND 12.0 THEN 0.25 ELSE 0.0 END
              + COALESCE(length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g'))
                          / NULLIF(length(text), 0), 0.0) * 0.25
              + LEAST(len(list_intersect(list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+')),
                  ['the','and','of','to','is','in','that','it','for','with'])) / 10.0 * 2, 1.0) * 0.25
             ) AS quality
      FROM documents
    ), r AS (
      SELECT fingerprint, doc_id, quality,
             row_number() OVER (PARTITION BY fingerprint ORDER BY quality DESC, doc_id) AS rn,
             count(*) OVER (PARTITION BY fingerprint) AS dup_cnt,
             max(quality) OVER (PARTITION BY fingerprint) AS best_q
      FROM q
    )
    SELECT fingerprint, doc_id AS survivor_id,
           ROUND(best_q, 6) AS best_quality, dup_cnt
    FROM r WHERE rn = 1
    """,
)
def q_dedup_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup survivorship: one shuffle on the md5
    fingerprint, max_by picks (quality DESC, doc_id ASC) per group."""
    from mapreducewordoccurences_spark.functions.text import doc_fingerprint

    docs = _t(spark, sf_dir, "documents")
    scored = quality_score(docs).select("doc_id", "quality")
    fp = docs.select("doc_id", doc_fingerprint("text").alias("fingerprint"))
    return (
        fp.join(scored, "doc_id")
        .groupBy("fingerprint")
        .agg(
            F.max_by(
                "doc_id", F.struct(F.col("quality"), (-F.col("doc_id")).alias("neg"))
            ).alias("survivor_id"),
            F.round(F.max("quality"), 6).alias("best_quality"),
            F.count(F.lit(1)).alias("dup_cnt"),
        )
    )


@register(
    "dedup_survivors",
    """
    SELECT doc_id, n_chars FROM documents
    WHERE doc_id IN (
      SELECT min(doc_id) FROM documents
      GROUP BY md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))))
    """,
)
def q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end exact-dedup pipeline output: the kept rows (min-id
    representative per content group) — the actual training-data
    deliverable, not just the group table."""
    from mapreducewordoccurences_spark.dedup.exact import drop_exact_dups

    return drop_exact_dups(_t(spark, sf_dir, "documents")).select("doc_id", "n_chars")


@register(
    "dedup_clusters",
    """
    WITH RECURSIVE edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM (
        WITH sh AS (
          SELECT doc_id, unnest(list_distinct(
                   [s[i] || ' ' || s[i+1] || ' ' || s[i+2] for i in range(1, len(s)-1)]
                 )) AS shingle
          FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS s
                FROM documents)
          WHERE len(s) >= 3
        ), sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT doc_a, doc_b
        FROM inter JOIN sizes x ON x.doc_id = doc_a
                   JOIN sizes y ON y.doc_id = doc_b
        WHERE i / (x.n + y.n - i) >= 0.8
      )
    ), undirected AS (
      SELECT src, dst FROM edges UNION SELECT dst, src FROM edges
    ), reach AS (
      SELECT src AS node, src AS comp FROM undirected
      UNION
      SELECT u.dst AS node, r.comp
      FROM reach r JOIN undirected u ON u.src = r.node
      WHERE r.comp < u.dst
    )
    SELECT comp AS component, count(*) AS size, min(node) AS keep_id
    FROM (SELECT node, min(comp) AS comp FROM reach GROUP BY node)
    GROUP BY comp
    """,
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs (Jaccard ≥ 0.8) resolved into connected
    components via iterative min-label propagation — the iterative-
    algorithm surface. Oracle uses a recursive CTE reachability
    closure (min-reachable-id per node ≡ component).

    Pair tier is the df-capped posting-list invocation — the same
    scale-safe configuration (and the same never-binds argument) as
    the ``dedup_ngram_jaccard`` row: max observed shingle df is 25 at
    sf0.1 / 240 at sf1 / 720 at sf3, all under the 1000 cap, so the
    uncapped recursive-CTE oracle matches exactly while the engine
    avoids the Σdf² self-join shape (53.7 → ~15 s at sf1)."""
    from mapreducewordoccurences_spark.dedup.clusters import dup_clusters

    pairs = ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), n=3, threshold=0.8, max_shingle_df=1000
    )
    return dup_clusters(pairs)


@register(
    "scrub_digits_fingerprint",
    """
    SELECT doc_id,
           md5(regexp_replace(text, '[0-9]+', '#', 'g')) AS scrub_fp,
           length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
             AS n_digits
    FROM documents
    """,
)
def q_scrub_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pattern scrubbing (the PII-redaction shape: digit runs → '#')
    verified through an md5 fingerprint of the scrubbed text — md5 is
    engine-portable, so the oracle proves the SCRUBBED BYTES are
    identical, not just row counts. POSIX character classes only (no
    \\\\d) — identical semantics in Java and RE2-family engines."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.md5(F.regexp_replace("text", "[0-9]+", "#")).alias("scrub_fp"),
        (
            F.length("text") - F.length(F.regexp_replace("text", "[0-9]", ""))
        ).alias("n_digits"),
    )


# ---------------------------------------------------------------------------
# Training-pipeline additions (round 2): decontamination, repetition
# filters, incremental dedup, source mixing
# ---------------------------------------------------------------------------


@register(
    "decontaminate_ngram_overlap",
    """
    WITH sh AS (
      SELECT doc_id, unnest(list_distinct(
               [s[i] || ' ' || s[i+1] || ' ' || s[i+2] for i in range(1, len(s)-1)]
             )) AS shingle
      FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS s
            FROM documents)
      WHERE len(s) >= 3
    ), bench AS (
      SELECT DISTINCT shingle FROM sh WHERE doc_id % 17 = 0
    ), train AS (
      SELECT * FROM sh WHERE doc_id % 17 <> 0
    )
    SELECT t.doc_id,
           count(*) AS n_shingles,
           count(b.shingle) AS n_shared,
           count(b.shingle) / count(*) AS overlap_ratio
    FROM train t LEFT JOIN bench b USING (shingle)
    GROUP BY t.doc_id
    HAVING count(b.shingle) > 0
    """,
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: docs with doc_id % 17 = 0 stand in
    for the eval suite; every other doc is scored for 3-gram overlap
    against it. Benchmark shingles broadcast — the training side is
    scanned once and shuffled once (dedup/decontam.py)."""
    from mapreducewordoccurences_spark.dedup.decontam import ngram_overlap

    docs = _t(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 17 == 0)
    train = docs.where(F.col("doc_id") % 17 != 0)
    return ngram_overlap(train, bench, n=3)


@register(
    "dedup_incremental_batch",
    """
    WITH fp AS (
      SELECT doc_id,
             md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint
      FROM documents
    ), newb AS (
      SELECT fingerprint, min(doc_id) AS doc_id
      FROM fp WHERE doc_id % 4 = 0 GROUP BY fingerprint
    ), corpus AS (
      SELECT DISTINCT fingerprint FROM fp WHERE doc_id % 4 <> 0
    )
    SELECT n.doc_id, n.fingerprint
    FROM newb n LEFT JOIN corpus c USING (fingerprint)
    WHERE c.fingerprint IS NULL
    """,
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup: docs with doc_id % 4 = 0 play the
    new batch, the rest the existing corpus; survivors are
    first-in-batch and unseen (dedup/exact.py incremental_new_unique)."""
    from mapreducewordoccurences_spark.dedup.exact import incremental_new_unique

    docs = _t(spark, sf_dir, "documents")
    return incremental_new_unique(
        docs.where(F.col("doc_id") % 4 == 0),
        docs.where(F.col("doc_id") % 4 != 0),
    )


@register(
    "dedup_bloom_incremental",
    # The Bloom tier is a shuffle-reducer with NO effect on the answer
    # (no false negatives + exact verification of the maybe slice), so
    # the oracle is the plain exact incremental anti-join — a full
    # value-hash match, not an acceptance bound.
    """
    WITH fp AS (
      SELECT doc_id,
             md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint
      FROM documents
    ), newb AS (
      SELECT fingerprint, min(doc_id) AS doc_id
      FROM fp WHERE doc_id % 5 = 1 GROUP BY fingerprint
    ), corpus AS (
      SELECT DISTINCT fingerprint FROM fp WHERE doc_id % 5 <> 1
    )
    SELECT n.doc_id, n.fingerprint
    FROM newb n LEFT JOIN corpus c USING (fingerprint)
    WHERE c.fingerprint IS NULL
    """,
)
def q_dedup_bloom_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-pre-filtered incremental dedup (dedup/bloom.py): docs with
    doc_id % 5 = 1 play the nightly batch, the rest the historical
    corpus. The corpus keys are folded into a bitmap DataFrame (pure
    bit_or aggregation); batch rows the filter rules out skip the
    corpus anti-join entirely; the maybe slice is exact-verified, so
    the output is bit-identical to the plain anti-join the oracle runs."""
    from mapreducewordoccurences_spark.dedup.bloom import bloom_incremental_new_unique

    docs = _t(spark, sf_dir, "documents")
    return bloom_incremental_new_unique(
        docs.where(F.col("doc_id") % 5 == 1),
        docs.where(F.col("doc_id") % 5 != 1),
    )


@register(
    "dedup_containment",
    """
    WITH sh AS (
      SELECT doc_id, unnest(list_distinct(
               [s[i] || ' ' || s[i+1] || ' ' || s[i+2] for i in range(1, len(s)-1)]
             )) AS shingle
      FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS s
            FROM documents)
      WHERE len(s) >= 3
    ), sizes AS (
      SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, i / least(x.n, y.n) AS containment,
           x.n AS n_shingles_a, y.n AS n_shingles_b
    FROM inter JOIN sizes x ON x.doc_id = doc_a
               JOIN sizes y ON y.doc_id = doc_b
    WHERE i / least(x.n, y.n) >= 0.9
    """,
)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric set containment C(A,B) = |A∩B| / min(|A|,|B|)
    (dedup/prefix.py prefix_filter_containment_pairs): catches a
    short doc embedded verbatim in a long one — high containment,
    LOW Jaccard (the union is dominated by the long side), so
    symmetric near-dup structurally misses it (Broder 1997's
    resemblance/containment split). Computed via the ASYMMETRIC
    prefix-filter SSJoin: the smaller doc probes its rarity-ordered
    prefix against a full token index, so candidate volume is
    Σ df·prefix_df instead of the uncapped posting-list join's Σ df²
    — exact by the containment prefix lemma, no cap to mis-tune."""
    return prefix_filter_containment_pairs(
        _t(spark, sf_dir, "documents"), n=3, threshold=0.9
    )


@register(
    "near_dedup_keepset",
    """
    WITH RECURSIVE fp AS (
      SELECT doc_id, source,
             md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS f
      FROM documents
    ), keep AS (
      SELECT f, min(doc_id) AS keep_id FROM fp GROUP BY f
    ), tagged AS (
      SELECT fp.doc_id, fp.source, fp.doc_id <> k.keep_id AS drop_exact
      FROM fp JOIN keep k ON fp.f = k.f
    ), sh AS (
      SELECT doc_id, unnest(list_distinct(
               [s[i] || ' ' || s[i+1] || ' ' || s[i+2] for i in range(1, len(s)-1)]
             )) AS shingle
      FROM (SELECT d.doc_id, regexp_extract_all(lower(d.text), '[a-z0-9]+') AS s
            FROM documents d JOIN tagged t
              ON d.doc_id = t.doc_id AND NOT t.drop_exact)
      WHERE len(s) >= 3
    ), sizes AS (
      SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), edges AS (
      SELECT doc_a AS src, doc_b AS dst
      FROM inter JOIN sizes x ON x.doc_id = doc_a
                 JOIN sizes y ON y.doc_id = doc_b
      WHERE i / (x.n + y.n - i) >= 0.8
    ), undirected AS (
      SELECT src, dst FROM edges UNION SELECT dst, src FROM edges
    ), reach AS (
      SELECT src AS node, src AS comp FROM undirected
      UNION
      SELECT u.dst AS node, r.comp
      FROM reach r JOIN undirected u ON u.src = r.node
      WHERE r.comp < u.dst
    ), comp AS (
      SELECT node, min(comp) AS comp FROM reach GROUP BY node
    ), status AS (
      SELECT t.doc_id, t.source, t.drop_exact,
             c.node IS NOT NULL AND c.comp <> t.doc_id AS drop_near
      FROM tagged t LEFT JOIN comp c ON c.node = t.doc_id
    )
    SELECT source,
           count(*) AS n_docs,
           count(CASE WHEN drop_exact THEN 1 END) AS n_dropped_exact,
           count(CASE WHEN NOT drop_exact AND drop_near THEN 1 END)
             AS n_dropped_near,
           count(CASE WHEN NOT drop_exact AND NOT drop_near THEN 1 END)
             AS n_kept
    FROM status GROUP BY source
    """,
)
def q_near_dedup_keepset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END dedup cascade, the decision a training pipeline
    actually ships: exact-fingerprint dedup first (cheap, catches
    byte-dups), then EXACT shingle-Jaccard near-dup ON THE EXACT
    SURVIVORS ONLY (the expensive tier never sees content the cheap
    tier already killed), connected components to resolve transitive
    near-dup chains, min-id survivorship, and a per-source keep/drop
    audit. Composes dedup/cascade.py (exact + prefix + clusters).
    The exact tier is the prefix-filtering SSJoin (dedup/prefix.py)
    — bit-identical pair set to the uncapped posting-list join
    (recall 1.0 by the prefix theorem) without its quadratic-in-df
    candidate volume: the sf0.1→sf1 scaling probe measured the
    posting-list formulation at 15.7× growth per 10× data versus
    ~4× for prefix filtering. At corpus scale the tier swaps for
    MinHash-LSH banding with identical downstream plumbing — see
    near_dedup_keepset_lsh, the same operator with
    near_tier='minhash_lsh'."""
    from mapreducewordoccurences_spark.dedup.cascade import dedup_cascade

    return dedup_cascade(
        _t(spark, sf_dir, "documents"),
        near_tier="jaccard_prefix",
        n=3,
        threshold=0.8,
    )


# the LSH-tier keepset row shares the exact-tier row's oracle (the
# cascade contract: same keepset whenever sketch recall is 1.0)
_NEAR_DEDUP_KEEPSET_ORACLE = ORACLES["near_dedup_keepset"]


@register("near_dedup_keepset_lsh", _NEAR_DEDUP_KEEPSET_ORACLE)
def q_near_dedup_keepset_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME cascade with the corpus-scale near-dup tier:
    MinHash-LSH banding generates candidates (ids-only band shuffle,
    no quadratic pass), exact shingle-Jaccard verifies CANDIDATE
    PAIRS ONLY at the same 0.8 threshold. Because candidates are
    exact-verified, the edge set — and hence the keep-set — matches
    the jaccard tier wherever LSH recall is 1.0, so this shares
    near_dedup_keepset's recursive-CTE oracle verbatim: the driver's
    hash-match doubles as an end-to-end LSH-recall gate (miss
    probability at the 16×4 banding: (1-J⁴)¹⁶ < 3e-4 at J=0.8,
    ~0 at the planted dups' J≈1)."""
    from mapreducewordoccurences_spark.dedup.cascade import dedup_cascade

    return dedup_cascade(
        _t(spark, sf_dir, "documents"),
        near_tier="minhash_lsh",
        n=3,
        threshold=0.8,
        num_perm=64,
        bands=16,
        candidate_est_threshold=0.5,
    )


# (_EXACT_PAIRS_CTE is defined near the top of the file, above its
# first use by the verified sketch pair-set queries.)


@register(
    "dedup_minhash_lsh",
    _EXACT_PAIRS_CTE.format(thr=0.7)
    + """
    SELECT count(*) AS n_exact_pairs, TRUE AS recall_ok FROM exact
    """,
)
def q_minhash_recall_acceptance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The oracle-checkable contract of the MinHash-LSH tier AS
    PRODUCTION SHIPS IT: banded candidates generated at the cascade's
    candidate_est_threshold (0.5), exact-verified at the target
    Jaccard (0.7), must RECALL ≥ 0.9 of the exact Jaccard-0.7 pairs.
    The LSH pair set itself is hash-seeded and not portable SQL — but
    the exact-pair count IS (hash-matched), and recall_ok must come
    back TRUE for the value-hash to match, so the driver verifies the
    sketch tier's accuracy claim, not just that it runs.

    Until sf10 this row est-FILTERED the candidates at the target
    threshold itself (est_jaccard >= 0.7, no exact verification) —
    the harsher sketch-only configuration. The sf10 acceptance run
    (CORRECTNESS_sf10_r09.json) caught the boundary cliff that
    configuration hides at small sf: a 64-perm agreement estimate of
    a J=0.75 pair clears 0.7 only ~84% of the time under the
    independence model, and the replica corpus concentrates 9,900 of
    60,252 pairs into ONE correlated family (copies of the same base
    pair share their rendering-stable shingle strings, so their
    estimates co-move) — measured recall 0.8926, with 5,944 of the
    9,900 J=0.75 family pairs missed (60%, vs 15.7% if independent).
    The production pattern — candidates BELOW target, verify exactly
    AT target — leaves only banding misses ((1-J^4)^16 <= 1.24% at
    J=0.7) and is what dedup/cascade.py has always done; this row now
    gates that, at every scale. Lesson recorded in SCALE.md: never
    est-filter at the target threshold.

    r9: both counts come from ONE left-join aggregate instead of two
    evaluations of the exact tier."""
    from mapreducewordoccurences_spark.dedup.minhash import minhash_lsh_pairs

    docs = _t(spark, sf_dir, "documents")
    exact = prefix_filter_jaccard_pairs(
        docs, n=3, threshold=0.7
    ).select("doc_a", "doc_b")
    cand = minhash_lsh_pairs(
        docs, num_perm=64, bands=16, threshold=0.5
    ).select("doc_a", "doc_b")
    verified = exact_verify_pairs(docs, cand, threshold=0.7).select(
        "doc_a", "doc_b", F.lit(1).alias("__hit")
    )
    marked = exact.join(verified, ["doc_a", "doc_b"], "left")
    return marked.agg(
        F.count(F.lit(1)).alias("n_exact_pairs"),
        (
            (F.count(F.lit(1)) == 0)
            | (F.count("__hit") / F.count(F.lit(1)) >= 0.9)
        ).alias("recall_ok"),
    )


@register(
    "dedup_simhash",
    _EXACT_PAIRS_CTE.format(thr=0.8)
    + """
    , scored AS (
      SELECT i / (x.n + y.n - i) AS j
      FROM inter JOIN sizes x ON x.doc_id = doc_a
                 JOIN sizes y ON y.doc_id = doc_b
      WHERE i / (x.n + y.n - i) >= 0.8
    )
    SELECT count(*) AS n_exact_pairs,
           count(*) FILTER (WHERE j >= 0.95) AS n_strong,
           TRUE AS recall_ok
    FROM scored
    """,
)
def q_simhash_recall_acceptance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Acceptance contract for the SimHash tier, gated on what a
    64-bit fingerprint at Hamming ≤ 8 can actually PROMISE: recall
    ≥ 0.85 of the NEAR-EXACT pairs (exact Jaccard ≥ 0.95), while
    n_exact_pairs still counts (and hash-matches) the full
    Jaccard-0.8 set.

    Why the gate is stratified (sf10 finding, CORRECTNESS_sf10_r09):
    a J≈0.82 word-set pair has token-vector cosine ≈0.89, hyperplane
    disagreement ≈0.15/bit, EXPECTED Hamming distance ≈9.6 at 64
    bits — OUTSIDE the d=8 ball. At small sf the J-0.8..0.85 stratum
    is a few percent of pairs so overall recall read 0.96-1.0; the
    sf10 replica concentrates 15k of 50k pairs there (correlated
    copies of three base pairs) and measured OVERALL recall fell to
    0.8177 — not an engine bug, the geometry of the sketch. At
    J ≥ 0.95 (cosine ≈0.974, E[dist] ≈4.7) the d=8 ball covers:
    measured 0.999 at sf10. SimHash is the cheap tier for near-exact
    dups; the 0.7-0.9 band belongs to MinHash-LSH (previous row) —
    the stratified gate states exactly that division of labor.

    r9 plan shape: the recall numerator |exact ∩ sim| only involves
    documents that appear in some exact pair, so the corpus is
    SEMI-JOINED to those ids before sketching — algebraically
    identical n_hits (a sim pair outside the exact-doc set can never
    intersect exact), but the d=8 pigeonhole equi-join runs on the
    ~|exact-docs| subset instead of the full corpus (d=8 needs 9
    small blocks whose collision volume is near-quadratic in corpus
    size — this row was the sf1 sweep's single most expensive entry
    at 75 s; pruned: 17 s). The UNPRUNED full-corpus pigeonhole join is still
    scale-exercised by dedup_simhash_pairs (the portable d=3 row,
    hash-green at sf1 and sf3); this row's contract is the
    Hamming↔Jaccard correlation, which pruning preserves exactly.
    The exact pair set is persisted under the cache bound (three
    consumers: prune ids, join left side, denominator), and both
    counts come from ONE left-join aggregate instead of two exact
    evaluations."""
    docs = _t(spark, sf_dir, "documents")
    exact = bounded_persist(
        prefix_filter_jaccard_pairs(docs, n=3, threshold=0.8).select(
            "doc_a", "doc_b", "jaccard"
        )
    )
    exact_ids = (
        exact.select(F.col("doc_a").alias("doc_id"))
        .unionByName(exact.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    pruned = docs.join(exact_ids, "doc_id", "left_semi")
    sim = simhash_near_dup_pairs(pruned, max_distance=8).select(
        "doc_a", "doc_b", F.lit(1).alias("__hit")
    )
    marked = exact.join(sim, ["doc_a", "doc_b"], "left")
    strong = F.col("jaccard") >= 0.95
    n_strong = F.count(F.when(strong, 1))
    n_strong_hit = F.count(F.when(strong & F.col("__hit").isNotNull(), 1))
    # n_strong is an OUTPUT column, hash-matched against the oracle's
    # `count(*) FILTER (WHERE j >= 0.95)` — so the stratum size itself
    # is cross-engine verified non-trivial. Without it the stratified
    # gate is vacuously TRUE whenever the J>=0.95 stratum is empty, a
    # blind spot the oracle compare could not see (r9 ADVICE).
    return marked.agg(
        F.count(F.lit(1)).alias("n_exact_pairs"),
        n_strong.alias("n_strong"),
        ((n_strong == 0) | (n_strong_hit / n_strong >= 0.85)).alias(
            "recall_ok"
        ),
    )


@register(
    "dedup_threshold_sensitivity",
    _EXACT_PAIRS_CTE.format(thr=0.0).replace(
        "WHERE i / (x.n + y.n - i) >= 0.0",
        "WHERE i / (x.n + y.n - i) >= 0.5",
    )
    + """
    , scored AS (
      SELECT i / (x.n + y.n - i) AS j
      FROM inter JOIN sizes x ON x.doc_id = doc_a
                 JOIN sizes y ON y.doc_id = doc_b
      WHERE i / (x.n + y.n - i) >= 0.5
    )
    SELECT count(*) AS n_pairs_50,
           count(CASE WHEN j >= 0.7 THEN 1 END) AS n_pairs_70,
           count(CASE WHEN j >= 0.8 THEN 1 END) AS n_pairs_80,
           count(CASE WHEN j >= 0.9 THEN 1 END) AS n_pairs_90,
           count(CASE WHEN j >= 0.999999 THEN 1 END) AS n_pairs_exact
    FROM scored
    """,
)
def q_dedup_threshold_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold tuning in ONE pass: pair counts at Jaccard ≥
    0.5/0.7/0.8/0.9/1.0 from a single candidate generation — how a
    data engineer picks the near-dup cutoff (where does the pair
    count elbow?) without re-running the pipeline per threshold.
    Same single-shuffle posting-list plan as the dedup tier, scored
    once, counted at every cutoff via conditional aggregation."""
    docs = _t(spark, sf_dir, "documents")
    pairs = prefix_filter_jaccard_pairs(docs, n=3, threshold=0.5)
    return pairs.agg(
        F.count(F.lit(1)).alias("n_pairs_50"),
        F.count(F.when(F.col("jaccard") >= 0.7, 1)).alias("n_pairs_70"),
        F.count(F.when(F.col("jaccard") >= 0.8, 1)).alias("n_pairs_80"),
        F.count(F.when(F.col("jaccard") >= 0.9, 1)).alias("n_pairs_90"),
        F.count(F.when(F.col("jaccard") >= 0.999999, 1)).alias("n_pairs_exact"),
    )


@register(
    "dedup_incremental_minhash",
    _EXACT_PAIRS_CTE.format(thr=0.7)
    + """
    SELECT count(*) AS n_exact_cross_pairs, TRUE AS recall_ok
    FROM exact
    WHERE (doc_a % 10 = 0) <> (doc_b % 10 = 0)
    """,
)
def q_dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus dedup — the nightly-ingest shape: docs with
    doc_id % 10 == 0 arrive as the NEW batch, the rest are the
    already-indexed corpus (minhash_band_index: stored signatures +
    band table, written once). Only the batch is shingled/hashed; the
    corpus contributes its index to one (band, band_hash) equi-join.
    Acceptance contract mirrors dedup_minhash_lsh: the incremental
    candidates must recall ≥ 0.9 of the exact cross-batch
    Jaccard-0.7 pairs (the hash-matched count), and recall_ok must
    come back TRUE for the value-hash to match. The exact denominator
    is the prefix-filtering SSJoin (dedup/prefix.py) — bit-identical
    to the uncapped posting-list pair set by the prefix theorem, so
    it is definitionally the oracle CTE's pair set, WITHOUT the
    Σ df² candidate term: the sf1 scaling probe measured the old
    uncapped verifier at 7.95× growth per 10× data (the worst in
    SCALING_r6.jsonl); the SSJoin indexes only rarity-ordered
    prefixes and has no cap to mis-tune."""
    from mapreducewordoccurences_spark.dedup.minhash import (
        minhash_band_index,
        minhash_lsh_incremental_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    is_new = F.col("doc_id") % 10 == 0
    new_batch, corpus = docs.where(is_new), docs.where(~is_new)
    index_sigs, index_bands = minhash_band_index(corpus)
    lsh = minhash_lsh_incremental_pairs(
        new_batch, index_sigs, index_bands, threshold=0.7
    ).select(
        F.least("new_id", "index_id").alias("doc_a"),
        F.greatest("new_id", "index_id").alias("doc_b"),
    )
    exact = (
        prefix_filter_jaccard_pairs(docs, n=3, threshold=0.7)
        .where((F.col("doc_a") % 10 == 0) != (F.col("doc_b") % 10 == 0))
        .select("doc_a", "doc_b")
    )
    # both counts from ONE left-join aggregate (the r9
    # dedup_minhash_lsh pattern): the exact prefix-filter SSJoin is
    # the expensive subtree here, and the former two-aggregate shape
    # (hits join + separate n_exact agg) evaluated it twice
    counted = exact.join(
        lsh.select("doc_a", "doc_b", F.lit(1).alias("__hit")),
        ["doc_a", "doc_b"],
        "left",
    ).agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.count("__hit").alias("n_hits"),
    )
    return counted.select(
        F.col("n_exact").alias("n_exact_cross_pairs"),
        (
            (F.col("n_exact") == 0)
            | (F.col("n_hits") / F.col("n_exact") >= 0.9)
        ).alias("recall_ok"),
    )


# the prefix-filter row is bit-identical to the uncapped posting-list
# join by the prefix theorem, so it shares dedup_ngram_jaccard's oracle
_NGRAM_JACCARD_ORACLE = ORACLES["dedup_ngram_jaccard"]


@register("dedup_jaccard_prefix_filter", _NGRAM_JACCARD_ORACLE)
def q_dedup_jaccard_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtering set-similarity join (SSJoin/PPJoin family):
    the EXACT Jaccard-0.8 pair set computed by indexing only each
    document's rarest ~20% of shingles (p = |d| − ceil(t·|d|) + 1
    under one global rarity order) — any qualifying pair provably
    collides in the indexed prefixes, so recall is 1.0 by theorem,
    not by tuning, and the driver hash-matches it against the same
    oracle as dedup_ngram_jaccard. This is the third exact-tier
    formulation (full inverted index / df-capped / prefix-filtered):
    at corpus scale the prefix index shrinks candidate volume without
    the cap's approximation. dedup/prefix.py; rounded like the
    sibling for value-hash canonicalization."""
    from mapreducewordoccurences_spark.dedup.prefix import (
        prefix_filter_jaccard_pairs,
    )

    return prefix_filter_jaccard_pairs(
        _t(spark, sf_dir, "documents"), n=3, threshold=0.8
    )


# ---------------------------------------------------------------------------
# Round 6: substring-level dedup, leakage-audited splits, packing, k-core
# ---------------------------------------------------------------------------

@register(
    "substring_dedup_spans",
    """
    WITH t AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w
      FROM documents
    ), wins AS (
      SELECT doc_id, unnest(
               [{'pos': i, 'win': array_to_string(w[i+1:i+10], ' ')}
                for i in range(0, len(w) - 9)], recursive := true)
      FROM t WHERE len(w) >= 10
    ), dup AS (
      SELECT win FROM wins GROUP BY win HAVING count(DISTINCT doc_id) >= 2
    ), flagged AS (
      SELECT doc_id, pos FROM wins WHERE win IN (SELECT win FROM dup)
    ), marked AS (
      SELECT doc_id, pos,
             CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                       = 1 THEN 0 ELSE 1 END AS is_new
      FROM flagged
    ), numbered AS (
      SELECT doc_id, pos,
             SUM(is_new) OVER (PARTITION BY doc_id ORDER BY pos
                               ROWS UNBOUNDED PRECEDING) AS span_id
      FROM marked
    ), spans AS (
      SELECT doc_id, span_id, min(pos) AS p0, max(pos) AS p1
      FROM numbered GROUP BY 1, 2
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_spans,
           CAST(sum(p1 - p0 + 1) AS BIGINT) AS n_dup_windows,
           CAST(sum(p1 - p0 + 10) AS BIGINT) AS dup_tokens
    FROM spans GROUP BY doc_id
    """,
)
def q_substring_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-SUBSTRING spans (>= 10 tokens, cross-document)
    per Lee et al. ACL'22 — the dedup tier document-level sketches
    can't see: boilerplate/quotes repeated inside otherwise-unique
    documents. dedup/substrings.py replaces the paper's monolithic
    suffix array with L-token rolling-window hashes + a per-doc
    islands merge, which reconstructs the same maximal spans with one
    hash-keyed groupBy (uniform key, map-side combine) + one
    doc-partitioned window — both linear, both skew-free. The oracle
    states the identical window/islands pipeline over the window
    STRINGS; the engine ships 8-byte xxhash64 folds instead (the
    shuffle-payload scale story; collisions are ~N²/2⁶⁵)."""
    from mapreducewordoccurences_spark.dedup.substrings import (
        duplicate_window_spans,
    )

    return duplicate_window_spans(_t(spark, sf_dir, "documents"), window=10)


@register(
    "semantic_dedup_clusters",
    # replay the exact-integer k-means (shared CTE, ends at a2 =
    # final assignment) at the K THE DERIVED RULE YIELDS FROM THE
    # DATA (GREATEST(8, n // 150) — the same arithmetic as
    # derive_semdedup_k, stated as a scalar-subquery seeds LIMIT), so
    # the oracle follows the engine past driver scale: k=8 at sf0.01,
    # k=53 at sf1 (VERDICT r8 ask #2 — the fixed k=8 CTE was
    # definitionally stale past the sf where the rule resolves to 8).
    # Then score cosine ONLY within a cell and apply the greedy
    # smaller-id drop rule. The threshold compares the UNROUNDED
    # cosine on both engines (same convention as
    # dedup_embedding_cosine; testdata embeddings are isotropic, so
    # 0.4 stands in for the >=0.9 production threshold); the output
    # is integer counts only.
    _kmeans_a2_cte(_SEMDEDUP_DERIVED_K_SQL)
    + """
    , pr AS (
      SELECT x.cluster_id, y.vec_id AS ib
      FROM a2 x JOIN a2 y ON x.cluster_id = y.cluster_id AND x.vec_id < y.vec_id
      JOIN embeddings ea ON ea.vec_id = x.vec_id
      JOIN embeddings eb ON eb.vec_id = y.vec_id
      WHERE list_dot_product(CAST(ea.embedding AS DOUBLE[]), CAST(eb.embedding AS DOUBLE[]))
            / (sqrt(list_dot_product(CAST(ea.embedding AS DOUBLE[]), CAST(ea.embedding AS DOUBLE[])))
               * sqrt(list_dot_product(CAST(eb.embedding AS DOUBLE[]), CAST(eb.embedding AS DOUBLE[])))) >= 0.4
    ), drp AS (SELECT DISTINCT cluster_id, ib FROM pr)
    SELECT m.cluster_id,
           count(*) AS n_members,
           CAST(count(d.ib) AS BIGINT) AS n_dropped,
           CAST(count(*) - count(d.ib) AS BIGINT) AS n_kept
    FROM a2 m LEFT JOIN drp d ON d.cluster_id = m.cluster_id AND d.ib = m.vec_id
    GROUP BY m.cluster_id
    """,
)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic dedup with k-means cells
    bounding the cosine candidates — the embedding-space analogue of
    LSH banding, and THE published scale path for embedding dedup
    (cosine is scored within a cell only, never across the full n²
    space; k grows with n so cells stay bounded). Drop rule: a vector
    with a smaller-id cell-mate at cosine >= 0.4 is dropped — greedy
    one-representative survivorship, no iterative closure. Composes
    the exact-integer k-means trainer (functions/similarity.py
    kmeans_fit_predict, every assignment bit-identical across engines)
    with the same cosine verifier contract as dedup_embedding_cosine.

    k is DERIVED from corpus size (derive_semdedup_k: max(8,
    n // 150)) — the production ∝-n sizing rule — and since round 9
    the oracle derives the SAME k from the data (scalar-subquery
    seeds LIMIT), so this row is scale-verified at whatever k the
    rule yields (8 at driver scale, 53 at sf1) rather than excluded
    past the k=8 regime. The companion row
    ``semantic_dedup_recall_audit`` measures what the cell
    restriction misses."""
    from mapreducewordoccurences_spark.dedup.embedding import (
        derive_semdedup_k,
        semantic_dedup_profile,
    )
    from mapreducewordoccurences_spark.sources.readers import parquet_row_count

    # k from parquet FOOTER metadata (same rule, same value as the
    # former df.count()) — no full-scan count job at query build
    # (the r12 footer-count pattern, VERDICT r11 #5)
    k = derive_semdedup_k(parquet_row_count(sf_dir, "embeddings"), 150)
    return semantic_dedup_profile(
        _t(spark, sf_dir, "embeddings"), k=k, iters=2, threshold=0.4
    )


@register(
    "semantic_dedup_recall_audit",
    # portable acceptance oracle: AUDIT-SLICE size, the derived cell
    # count (GREATEST(8, n // 150) — same rule as derive_semdedup_k),
    # and the EXACT cosine-pair denominator are all hash-matched; the
    # within-cell recall itself is gated as a boolean (the k-means
    # assignment at dynamic k is not portable SQL, the exact pair set
    # is). r9: the audit runs on a deterministic ≈500-vector panel
    # (vec_id % p == 0, p = greatest(1, n div 500), identical integer
    # arithmetic in both engines) — the O(n²) exact denominator is
    # the audit's own documented reason to run on a sampled slice,
    # and the panel makes the row sf1-sweepable instead of excluded
    # (p=1, i.e. the full table, at driver scales).
    """
    WITH params AS (
      SELECT greatest(1, count(*) // 500) AS p FROM embeddings
    ), panel AS (
      SELECT e.* FROM embeddings e, params WHERE e.vec_id % params.p = 0
    ), pr AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM panel a JOIN panel b ON a.vec_id < b.vec_id
      WHERE list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
            / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
               * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))) >= 0.4
    )
    SELECT (SELECT count(*) FROM panel) AS n_vectors,
           CAST(GREATEST(8, (SELECT count(*) FROM panel) // 150) AS BIGINT) AS k_cells,
           (SELECT count(*) FROM pr) AS n_exact_pairs,
           TRUE AS recall_ok
    """,
)
def q_semantic_dedup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup cross-cell miss measurement (VERDICT r6 #6): the cell
    restriction that makes SemDeDup linear also makes near-dup pairs
    straddling a cell boundary structurally invisible — the paper
    accepts this; this row MEASURES it. Within-cell recall of the
    exact cosine-0.4 pair set, with k derived from corpus size
    (max(8, n // 150) — the production rule, hash-matched in the
    oracle). Measured recall on the isotropic testdata: 0.30 /
    0.41 / 0.28 at sf 0.001 / 0.01 / 0.1 (k = 8 / 8 / 13) — low
    because isotropic embeddings have no cluster structure for the
    cells to exploit (the production corpus regime is clustered, per
    the paper); the acceptance floor 0.15 sits under the observed
    band and recall_ok must come back TRUE for the value-hash to
    match. The O(n²) exact denominator marks this as an AUDIT row to
    run on a sampled slice, never the full corpus — and since r9 the
    row PRACTICES that: it audits a deterministic ≈500-vector panel
    (vec_id % p == 0, p = greatest(1, n div 500); the full table
    wherever n ≤ 500), which is what lets it sweep at sf1 instead of
    being the exclusion list's last entry. The audited quantity —
    within-cell recall at the production cell-size ratio — is
    slice-invariant by design: cell occupancy (~target_cell_size),
    not corpus size, drives the boundary-miss rate."""
    from mapreducewordoccurences_spark.dedup.embedding import (
        semantic_dedup_recall,
    )

    emb = _t(spark, sf_dir, "embeddings")
    p = emb.agg(
        F.expr("greatest(cast(1 as bigint), count(*) div 500)").alias("__p")
    )
    panel = (
        emb.crossJoin(F.broadcast(p))
        .where(F.col("vec_id") % F.col("__p") == 0)
        .drop("__p")
    )
    return semantic_dedup_recall(
        panel,
        threshold=0.4,
        iters=2,
        target_cell_size=150,
        min_recall=0.15,
    ).select("n_vectors", "k_cells", "n_exact_pairs", "recall_ok")


@register(
    "semantic_dedup_clusters_fixedk",
    # the pinned-k=8 instance of the SemDeDup oracle: THIS row pins
    # the engine to k=8 too, so the contract holds at every scale
    # with k as a CONSTANT — the k-degenerate control next to the
    # primary row, whose oracle now derives k from the data (both
    # sweep green at sf1: this one at k=8, the primary at k=53).
    _KMEANS_A2_CTE
    + """
    , pr AS (
      SELECT x.cluster_id, y.vec_id AS ib
      FROM a2 x JOIN a2 y ON x.cluster_id = y.cluster_id AND x.vec_id < y.vec_id
      JOIN embeddings ea ON ea.vec_id = x.vec_id
      JOIN embeddings eb ON eb.vec_id = y.vec_id
      WHERE list_dot_product(CAST(ea.embedding AS DOUBLE[]), CAST(eb.embedding AS DOUBLE[]))
            / (sqrt(list_dot_product(CAST(ea.embedding AS DOUBLE[]), CAST(ea.embedding AS DOUBLE[])))
               * sqrt(list_dot_product(CAST(eb.embedding AS DOUBLE[]), CAST(eb.embedding AS DOUBLE[])))) >= 0.4
    ), drp AS (SELECT DISTINCT cluster_id, ib FROM pr)
    SELECT m.cluster_id,
           count(*) AS n_members,
           CAST(count(d.ib) AS BIGINT) AS n_dropped,
           CAST(count(*) - count(d.ib) AS BIGINT) AS n_kept
    FROM a2 m LEFT JOIN drp d ON d.cluster_id = m.cluster_id AND d.ib = m.vec_id
    GROUP BY m.cluster_id
    """,
)
def q_semantic_dedup_fixedk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup at PINNED k=8 — the constant-k control next to
    semantic_dedup_clusters (which derives k ∝ n, the production
    sizing; since r9 its oracle derives the same k, so BOTH rows
    sweep at sf1 — this one verifying the pipeline with k held
    constant across scales, the primary verifying it at the k the
    rule actually yields). Cell populations grow with n at fixed k —
    acceptable for a verification row (Σ|c|² stays ≤ n²/k);
    production uses the derived-k row's sizing."""
    from mapreducewordoccurences_spark.dedup.embedding import (
        semantic_dedup_profile,
    )

    return semantic_dedup_profile(
        _t(spark, sf_dir, "embeddings"), k=8, iters=2, threshold=0.4
    )


@register(
    "dedup_edit_distance_pairs",
    _EXACT_PAIRS_CTE.format(thr=0.7)
    + """
    , scored AS (
      SELECT doc_a, doc_b,
             levenshtein(substring(lower(x.text), 1, 400),
                         substring(lower(y.text), 1, 400)) AS edit_dist,
             greatest(length(substring(lower(x.text), 1, 400)),
                      length(substring(lower(y.text), 1, 400))) AS len
      FROM exact JOIN documents x ON x.doc_id = doc_a
                 JOIN documents y ON y.doc_id = doc_b
    )
    SELECT doc_a, doc_b, edit_dist, edit_dist / len AS edit_ratio
    FROM scored
    """,
)
def q_dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive near-dup verification: the portable exact
    Jaccard>=0.7 pair set (the same candidate contract as
    dedup_minhash_lsh_pairs — LSH bands at est-J 0.5 recall the set,
    exact shingle Jaccard confirms it) re-scored with Levenshtein
    edit distance over lowercased 400-char prefixes
    (dedup/editdist.py). Set similarity is permutation-blind; the
    edit tier distinguishes true copies from shuffled boilerplate —
    the classic plagiarism/template split a text pipeline needs
    before survivorship.

    Cross-engine contract: F.levenshtein is the textbook DP both
    engines implement identically; edit_ratio is one int/int divide
    (deterministic IEEE). The prefix cap bounds the per-pair DP at
    <=160k cells regardless of document length.

    Scale shape: the O(P^2) scorer only ever sees the sketch-bounded
    verified pair set; enrichment is two id-equi-joins that AQE
    broadcasts (candidate side ~ near-dup pair count << corpus).
    """
    from mapreducewordoccurences_spark.dedup.editdist import edit_distance_pairs

    docs = _t(spark, sf_dir, "documents")
    cand = minhash_lsh_pairs(docs, num_perm=128, bands=32, threshold=0.5).select(
        "doc_a", "doc_b"
    )
    verified = exact_verify_pairs(docs, cand, threshold=0.7).select("doc_a", "doc_b")
    return edit_distance_pairs(docs, verified, prefix_len=400)


@register(
    "near_dup_cross_source_matrix",
    _EXACT_PAIRS_CTE.format(thr=0.7)
    + """
    SELECT least(x.source, y.source) AS source_x,
           greatest(x.source, y.source) AS source_y,
           count(*) AS n_pairs
    FROM exact JOIN documents x ON x.doc_id = doc_a
               JOIN documents y ON y.doc_id = doc_b
    GROUP BY 1, 2
    """,
)
def q_near_dup_cross_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix — the curation report behind
    source-mix decisions ('how much does src7 republish src12?'):
    the verified near-dup pair set (LSH candidates → exact shingle
    Jaccard ≥ 0.7, the same conditional-recall contract as
    dedup_minhash_lsh_pairs) enriched with each side's source and
    aggregated per unordered source pair (least/greatest
    canonicalization, so the matrix is upper-triangular).

    Scale shape: enrichment is two id-equi-joins on the
    sketch-bounded pair set; the aggregate's key space is
    |sources|², a dimension-table-sized groupBy at any corpus size.
    """
    docs = _t(spark, sf_dir, "documents")
    cand = minhash_lsh_pairs(docs, num_perm=128, bands=32, threshold=0.5).select(
        "doc_a", "doc_b"
    )
    pairs = exact_verify_pairs(docs, cand, threshold=0.7).select("doc_a", "doc_b")
    src = docs.select("doc_id", "source")
    enriched = pairs.join(
        src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("_sa")),
        "doc_a",
    ).join(
        src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("_sb")),
        "doc_b",
    )
    return (
        enriched.groupBy(
            F.least("_sa", "_sb").alias("source_x"),
            F.greatest("_sa", "_sb").alias("source_y"),
        )
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
