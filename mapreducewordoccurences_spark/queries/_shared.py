"""Query catalog: every operator surface exposed as a named
(spark, sf_dir) -> DataFrame query, with a matching ANSI-SQL oracle
(DuckDB) where SQL can express the semantics.

Cross-engine determinism rules used throughout (see
operators/aggregates.py):
- money/double SUM/AVG go through DECIMAL(28,s) per-row casts → exact,
  order-independent sums → final CAST TO DOUBLE. The oracle mirrors
  the identical casts. Hot scan-aggregate paths use the equivalent
  fixed-point int64 form (fixedpoint_sum: per-row half-up round to
  scale, long sum — value-identical, stays in primitive codegen);
  statistics use the trunc-based variant (corr protocol) where
  negative values must truncate consistently.
- every window/top-k ORDER BY is made total with a unique tiebreak.
- ratios are single int/int divides (deterministic IEEE) — no float
  accumulation.
- all event-time arithmetic runs on int64 epoch-MICROseconds via the
  schema-adaptive ``sources.readers.ts_micros`` helper (Spark:
  unix_micros, or ``div 1000`` on legacy bigint-nanos input; DuckDB:
  epoch_us) — micros is the precision Spark TimestampType and DuckDB
  TIMESTAMP share, and integer ops are bit-deterministic.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreducewordoccurences_spark.core.checkpointing import bounded_persist
from mapreducewordoccurences_spark.core.wordcount import count_words
from mapreducewordoccurences_spark.dedup.exact import exact_dup_groups
from mapreducewordoccurences_spark.dedup.minhash import minhash_lsh_pairs
from mapreducewordoccurences_spark.dedup.ngram import ngram_jaccard_pairs
from mapreducewordoccurences_spark.dedup.pairs import collision_pairs, hamming_ball_pairs
from mapreducewordoccurences_spark.dedup.prefix import (
    prefix_filter_containment_pairs,
    prefix_filter_jaccard_pairs,
)
from mapreducewordoccurences_spark.dedup.simhash import simhash_near_dup_pairs
from mapreducewordoccurences_spark.dedup.verify import exact_verify_pairs
from mapreducewordoccurences_spark.functions.similarity import brute_force_knn, lsh_knn
from mapreducewordoccurences_spark.functions.text import language_id, quality_score, text_stats
from mapreducewordoccurences_spark.operators.aggregates import (
    decimal_avg,
    decimal_sum,
    fixedpoint_sum,
)
from mapreducewordoccurences_spark.operators.joins import anti_join, asof_join, semi_join
from mapreducewordoccurences_spark.operators.windows import running_agg, top_k_per_group
from mapreducewordoccurences_spark.sources.readers import load_table, ts_micros

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        # a silent overwrite here would hand one row's oracle to a
        # different query body and surface only as an opaque sweep
        # failure (two families registering the same name is always a
        # naming bug, never intent — fail at import, not at verify)
        if name in QUERIES:
            raise ValueError(f"duplicate catalog query name: {name!r}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# shared exact-pair CTE for the sketch-tier oracles (3-gram shingle
# Jaccard, the same text pipeline as dedup_ngram_jaccard). Defined
# before first use — both the verified pair-set queries (early) and
# the recall-acceptance rows (later) format it.
_EXACT_PAIRS_CTE = """
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
    ), exact AS (
      SELECT doc_a, doc_b
      FROM inter JOIN sizes x ON x.doc_id = doc_a
                 JOIN sizes y ON y.doc_id = doc_b
      WHERE i / (x.n + y.n - i) >= {thr}
    )
"""


def _knn_recall_acceptance(approx_knn: DataFrame, exact_knn: DataFrame,
                           queries: DataFrame, k: int, min_recall: float) -> DataFrame:
    """Per-query recall@k of an ANN tier vs the exact brute-force tier,
    reduced to an oracle-checkable boolean. The query-id set and k are
    genuinely computed by both engines; the threshold is deterministic
    given the tiers' fixed seeds (observed per-query recall ≥ 0.6 at
    sf 0.001-0.1; min_recall leaves margin below that)."""
    hits = (
        approx_knn.select("query_id", "neighbor_id")
        .join(exact_knn.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("__n_hits"))
    )
    qids = queries.select(F.col("vec_id").alias("query_id"))
    return qids.join(hits, "query_id", "left").select(
        "query_id",
        F.lit(k).cast("int").alias("k"),
        (F.coalesce(F.col("__n_hits"), F.lit(0)) / F.lit(k) >= min_recall).alias(
            "recall_ok"
        ),
    )


_STOPWORDS = (
    "the and of to is in that it for with a on as are was".split()
)


def _kmeans_a2_cte(k_limit: str = "8") -> str:
    """Exact DuckDB replay of the integer-quantized Lloyd protocol
    (functions/similarity.py kmeans_fit_predict, the m=1 case of
    pq_codebooks): trunc(v*2^20)+2^21 coords, integer
    squared distances, (dist, cluster_id) argmin, truncating-div
    centroid means — every number is an exact integer, so even this
    iterative trainer hash-matches. Ends at CTE ``a2`` =
    (vec_id, cluster_id, d): the final assignment. Shared by
    kmeans_cluster_profile and the SemDeDup rows.

    ``k_limit`` is the seeds-LIMIT SQL expression — a constant for
    the pinned-k rows, or a scalar subquery replaying the engine's
    derived-k rule (``derive_semdedup_k``: GREATEST(8, n // 150)) so
    the oracle follows the data past driver scale (VERDICT r8 ask
    #2; the fixed k=8 CTE was definitionally stale at sf1's k=53)."""
    return (
        """
    WITH v AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(trunc(CAST(x AS DOUBLE) * 1048576) AS BIGINT) + 2097152)
               AS u
      FROM embeddings
    ), seeds AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster_id, u AS c
      FROM v ORDER BY vec_id LIMIT """
        + k_limit
        + """
    ), d1 AS ("""
        + _KMEANS_A2_CTE_TAIL
    )


_KMEANS_A2_CTE_TAIL = """
      SELECT vec_id, cluster_id, sum((ue - ce) * (ue - ce)) AS d
      FROM (SELECT vec_id, cluster_id, unnest(v.u) AS ue, unnest(s.c) AS ce
            FROM v CROSS JOIN seeds s)
      GROUP BY vec_id, cluster_id
    ), a1 AS (
      SELECT vec_id, cluster_id FROM (
        SELECT vec_id, cluster_id,
               row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster_id) AS rn
        FROM d1) WHERE rn = 1
    ), upd AS (
      SELECT cluster_id, pos, sum(val) // count(*) AS m
      FROM (SELECT a1.cluster_id, unnest(v.u) AS val,
                   unnest(range(len(v.u))) AS pos
            FROM a1 JOIN v USING (vec_id))
      GROUP BY cluster_id, pos
    ), c2 AS (
      SELECT cluster_id, list(m ORDER BY pos) AS c FROM upd GROUP BY cluster_id
    ), d2 AS (
      SELECT vec_id, cluster_id, sum((ue - ce) * (ue - ce)) AS d
      FROM (SELECT vec_id, cluster_id, unnest(v.u) AS ue, unnest(c2.c) AS ce
            FROM v CROSS JOIN c2)
      GROUP BY vec_id, cluster_id
    ), a2 AS (
      SELECT vec_id, cluster_id, d FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster_id) AS rn
        FROM d2) WHERE rn = 1
    )
"""


# the pinned-k instance (k=8 — what the unrolled CTE historically
# hardcoded); the k-parametric rows call _kmeans_a2_cte directly
_KMEANS_A2_CTE = _kmeans_a2_cte("8")

# the engine's derive_semdedup_k rule as a DuckDB scalar subquery —
# GREATEST(8, n // 150), floor division, same integer arithmetic
_SEMDEDUP_DERIVED_K_SQL = "(SELECT GREATEST(8, count(*) // 150) FROM embeddings)"


def _bpe_oracle(rounds: int = 10) -> str:
    """Unrolled BPE-learning recurrence for DuckDB — the iterative
    argmax loop stated as chained CTEs, one per merge round (the
    pagerank-oracle pattern). The trick that makes the greedy
    left-to-right non-overlapping merge portable SQL: encode each
    word's symbol array as a DOUBLE-separator string (';a;;b;;c;',
    every symbol individually wrapped), where the pair (a,b) is the
    substring ';a;;b;' and DuckDB's replace() — which scans left to
    right and resumes AFTER each replacement — performs exactly the
    greedy non-overlapping fold (the doubled separator means a
    replacement never consumes the boundary of the next match; a
    single-separator encoding would). Separator ';' can't collide:
    symbols come from [a-z0-9]+ tokens. Every vocab CTE is
    MATERIALIZED: each round references its predecessor twice
    (pair counts + merge application), so DuckDB's default CTE
    inlining would expand the chain 2^rounds times."""
    head = """
    WITH v0 AS MATERIALIZED (
      SELECT word, count(*) AS freq,
             ';' || regexp_replace(word, '(.)', '\\1;;', 'g') AS s
      FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
            FROM documents)
      GROUP BY word
    )"""
    steps = []
    for k in range(1, rounds + 1):
        p = k - 1
        steps.append(f"""
    , pc{k} AS MATERIALIZED (
      SELECT p.lft, p.rgt, CAST(SUM(freq) AS BIGINT) AS pair_count
      FROM (
        SELECT freq,
               unnest([{{'lft': syms[i], 'rgt': syms[i+1]}}
                       for i in range(1, len(syms))]) AS p
        FROM (SELECT freq, str_split(trim(s, ';'), ';;') AS syms FROM v{p})
        WHERE len(syms) >= 2
      )
      GROUP BY p.lft, p.rgt
    ), t{k} AS MATERIALIZED (
      SELECT lft, rgt, pair_count FROM pc{k}
      WHERE pair_count >= 2
      ORDER BY pair_count DESC, lft, rgt LIMIT 1
    ), v{k} AS MATERIALIZED (
      SELECT word, freq,
             CASE WHEN (SELECT count(*) FROM t{k}) = 0 THEN s
                  ELSE replace(s,
                               ';' || (SELECT lft FROM t{k}) || ';;'
                                   || (SELECT rgt FROM t{k}) || ';',
                               ';' || (SELECT lft FROM t{k})
                                   || (SELECT rgt FROM t{k}) || ';')
             END AS s
      FROM v{p}
    )""")
    tail = "\n    UNION ALL\n".join(
        f"""    SELECT CAST({k} AS INT) AS merge_rank, lft AS "left",
           rgt AS "right", lft || rgt AS merged, pair_count FROM t{k}"""
        for k in range(1, rounds + 1)
    )
    return head + "".join(steps) + "\n" + tail


# ---------------------------------------------------------------------------
# Round 5: PII scrubbing, memorization scan, filter funnel, attribution,
# PIVOT/UNPIVOT surface, streaming aggregation parity
# ---------------------------------------------------------------------------

# Synthetic PII corpus: the testdata text is PII-free word soup, so both
# engines derive the same enriched text from doc_id arithmetically —
# ground-truth redaction counts are then non-trivial AND exactly
# checkable (same closed-form convention as make_fake_media).
_PII_SYNTH_SQL = (
    "text || ' contact user' || doc_id || '@example.com call 555-' || "
    "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' ip 10.' || "
    "(doc_id % 256) || '.0.' || ((doc_id * 7) % 256)"
)

_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"[0-9]{3}-[0-9]{3,4}(-[0-9]{4})?"
_PII_IPV4 = r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"


def _pagerank_oracle(iterations: int = 10) -> str:
    """Unrolled fixed-point PageRank recurrence (DuckDB forbids
    aggregates in recursive CTE terms, so the 10 iterations unroll
    into chained CTEs — the oracle states EXACTLY the integer
    recurrence operators/graph.py runs)."""
    head = """
    WITH seq AS (
      SELECT event_type AS u,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY epoch_us(ts), event_id) AS v
      FROM events
    ), edges AS (
      SELECT u, v, count(*) AS w FROM seq WHERE v IS NOT NULL GROUP BY u, v
    ), outw AS (
      SELECT u, CAST(SUM(w) AS BIGINT) AS w_out FROM edges GROUP BY u
    ), ew AS (
      SELECT e.u, e.v, CAST(e.w AS BIGINT) AS w, o.w_out
      FROM edges e JOIN outw o ON o.u = e.u
    ), nodes AS (
      SELECT u AS node FROM edges UNION SELECT v FROM edges
    ), consts AS (
      SELECT CAST(1000000000000 // cnt AS BIGINT) AS r0,
             CAST((1000000000000 * 15) // (100 * cnt) AS BIGINT) AS tp
      FROM (SELECT count(*) AS cnt FROM nodes)
    ), pr0 AS (
      SELECT node, (SELECT r0 FROM consts) AS rank_fp FROM nodes
    )"""
    steps = []
    for k in range(1, iterations + 1):
        steps.append(f"""
    , pr{k} AS (
      SELECT n.node,
             CAST((SELECT tp FROM consts)
                  + (85 * COALESCE(s.in_sum, 0)) // 100 AS BIGINT) AS rank_fp
      FROM nodes n LEFT JOIN (
        SELECT ew.v AS node,
               CAST(SUM((p.rank_fp * ew.w) // ew.w_out) AS BIGINT) AS in_sum
        FROM ew JOIN pr{k - 1} p ON p.node = ew.u GROUP BY ew.v
      ) s ON s.node = n.node
    )""")
    return head + "".join(steps) + f"""
    SELECT node, rank_fp FROM pr{iterations}
    """




_GROUP_SPLIT_SQL = """
    , splits AS (
      SELECT doc_id, source,
             CASE WHEN b < 52428 THEN 'train'
                  WHEN b < 58982 THEN 'val'
                  ELSE 'test' END AS split
      FROM (SELECT doc_id, source,
                   CAST(concat('0x', substr(md5('grp' || source), 1, 4))
                        AS INT) AS b
            FROM documents)
    )
"""


def _kcore_unrolled_sql(k: int, rounds: int) -> str:
    """Unrolled SQL for the k-core peel (appended after a CTE that
    defines ``exact`` pairs): round i recounts degrees over edges
    whose endpoints both survived round i-1. Same recurrence as
    operators/graph.py kcore_membership; monotone, so rounds past
    convergence are no-ops.

    ``sym`` and each round's alive set are MATERIALIZED: DuckDB 1.0
    inlines CTEs by default, and inlining re-evaluates the quadratic
    ``exact`` pair CTE once per reference — 5 peel rounds × 2
    endpoint filters compounded it past the box's memory at sf1
    (observed OOM in the r7 sweep). Materializing pins cost at one
    pair-generation pass + five cheap peels."""
    parts = [
        """
    , sym AS MATERIALIZED (
      SELECT doc_a AS u, doc_b AS v FROM exact
      UNION
      SELECT doc_b AS u, doc_a AS v FROM exact
    )"""
    ]
    for i in range(rounds):
        live = (
            "sym"
            if i == 0
            else f"""sym
           WHERE u IN (SELECT node FROM a{i - 1})
             AND v IN (SELECT node FROM a{i - 1})"""
        )
        parts.append(
            f"""
    , d{i} AS (
      SELECT u AS node, count(*) AS core_degree FROM {live} GROUP BY u
    ), a{i} AS MATERIALIZED (
      SELECT node FROM d{i} WHERE core_degree >= {k}
    )"""
        )
    parts.append(
        f"""
    SELECT node AS doc_id, core_degree
    FROM d{rounds - 1} WHERE core_degree >= {k}"""
    )
    return "".join(parts)


# re-exported into every family module via ``import *`` (explicit
# __all__ so the underscore-prefixed helpers and CTE constants travel
# too — family modules are the only intended consumers)
__all__ = [_n for _n in list(globals()) if not _n.startswith("__")]
