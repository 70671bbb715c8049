"""Plan-quality regression tests: the physical plans the engine would
run at 100 TB must keep their scale-critical properties — pushdown,
pruning, broadcast, bounded shuffle counts, no Python in relational
hot paths. A failure here is a performance regression even when
results stay correct.
"""

from __future__ import annotations

import re

import pytest

from tests.plan_text import (
    codegen_spans,
    count_exchanges,
    formatted_plan,
    has_broadcast_join,
    has_pushed_filters,
    has_python_eval,
    plan_audit,
    read_schema_columns,
)
from mapreducewordoccurences_spark.queries import QUERIES

from tests.conftest import SF_DIR


def q(spark, name):
    return QUERIES[name](spark, SF_DIR)


@pytest.fixture(scope="session")
def catalog_plans(spark) -> dict[str, str | Exception]:
    """FORMATTED plan text of every catalog query, built once for the
    catalog-wide audits (building a query also runs its build-time
    jobs). A query whose construction raised maps to the exception."""
    plans: dict[str, str | Exception] = {}
    for name in sorted(QUERIES):
        try:
            plans[name] = formatted_plan(q(spark, name))
        except Exception as e:  # plan construction must succeed too
            plans[name] = e
    return plans


def test_wordcount_plan_shape(spark):
    df = q(spark, "wordcount")
    # scan → tokenize → partial agg → ONE shuffle → final agg
    assert count_exchanges(df) == 1
    # column pruning: only the text column leaves the scan
    assert read_schema_columns(df) == [["text"]]
    assert not has_python_eval(df)
    # (codegen spans only appear in the simple plan after AQE
    # finalizes; asserted post-execution in tuning sessions instead)


def test_q1_filter_pushdown_and_single_shuffle(spark):
    df = q(spark, "q1_pricing_summary")
    assert has_pushed_filters(df, "l_shipdate")
    assert count_exchanges(df) == 1  # partial agg before the shuffle
    cols = read_schema_columns(df)[0]
    assert "l_comment" not in cols  # (no such col, but guard pruning)
    assert set(cols) <= {
        "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice",
        "l_discount", "l_tax", "l_shipdate",
    }
    assert not has_python_eval(df)


def test_q5_broadcasts_dims(spark):
    df = q(spark, "q5_region_revenue")
    assert has_broadcast_join(df)
    assert has_pushed_filters(df, "r_name")  # dim filter reaches scan
    assert not has_python_eval(df)


def test_window_topk_inserts_group_limit(spark):
    df = q(spark, "window_topk_orders_per_cust")
    # rank-filter pattern must trigger WindowGroupLimit: partial top-k
    # before the shuffle so it carries O(groups×k), not all rows
    assert "WindowGroupLimit" in formatted_plan(df)
    assert count_exchanges(df) == 1


def test_asof_join_single_shuffle(spark):
    df = q(spark, "asof_join_purchase_signup")
    # union + window — exactly one hash shuffle on user_id
    assert count_exchanges(df) == 1
    assert not has_python_eval(df)


def test_text_queries_stay_jvm_side(spark):
    for name in ["text_stats", "language_id", "quality_score", "dedup_exact"]:
        assert not has_python_eval(q(spark, name)), name


def test_text_stats_prunes_to_two_columns(spark):
    cols = read_schema_columns(q(spark, "text_stats"))[0]
    assert set(cols) == {"doc_id", "text"}


def test_brute_force_knn_broadcasts_queries(spark):
    df = q(spark, "embedding_cosine_topk")
    assert has_broadcast_join(df)
    # corpus side never hash-shuffles pre-score; only the per-query
    # top-k window shuffles (1 exchange)
    assert count_exchanges(df) == 1


def test_dedup_exact_single_shuffle(spark):
    assert count_exchanges(q(spark, "dedup_exact")) == 1


def test_split_and_sample_plan_shapes(spark):
    # hash_split + count: split assignment is a pure projection; the
    # only exchange is the final groupBy
    assert count_exchanges(q(spark, "dataset_split_counts")) == 1
    assert not has_python_eval(q(spark, "dataset_split_counts"))
    # stratified sample: ONE shuffle on the stratum key (both windows
    # share the lang partitioning)
    assert count_exchanges(q(spark, "stratified_sample_by_lang")) == 1
    # deterministic shuffle head: top-k, never a global sort
    assert "TakeOrderedAndProject" in formatted_plan(q(spark, "shuffled_shard_head"))
    assert "TakeOrderedAndProject" in formatted_plan(q(spark, "bigram_counts"))


def test_ivf_probe_prunes_partitions(spark, tmp_path):
    from pyspark.sql import functions as F

    from mapreducewordoccurences_spark.functions.similarity import (
        build_ivf_index,
        ivf_probe,
    )
    from mapreducewordoccurences_spark.sources.readers import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    build_ivf_index(emb, str(tmp_path / "ivf"), nlist=16)
    res = ivf_probe(
        emb.where(F.col("vec_id") < 10), str(tmp_path / "ivf"), k=5, nprobe=4
    )
    # the assignment scan must carry a dynamic-partition-pruning filter
    # on __cell: a probe batch reads nprobe/nlist of the index files,
    # never the whole index
    assert "dynamicpruning" in formatted_plan(res)
    assert res.count() > 0


def test_ivfpq_probe_prunes_partitions(spark, tmp_path):
    from pyspark.sql import functions as F

    from mapreducewordoccurences_spark.functions.similarity import (
        build_ivfpq_index,
        ivfpq_probe,
    )
    from mapreducewordoccurences_spark.sources.readers import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    build_ivfpq_index(emb, str(tmp_path / "ivfpq"), nlist=16, m=16, ks=16)
    res = ivfpq_probe(
        emb.where(F.col("vec_id") < 10),
        str(tmp_path / "ivfpq"),
        k=5,
        nprobe=4,
        shortlist=50,
        m=16,
    )
    # the CODE scan must carry a dynamic-partition-pruning filter on
    # __cell: an IVF∘PQ probe reads nprobe/nlist of the code files —
    # full vectors are touched only for the shortlist re-rank
    assert "dynamicpruning" in formatted_plan(res)
    assert res.count() > 0


def test_lsh_knn_single_corpus_scan(spark):
    from tests.plan_text import count_scans

    # all n_tables bucket ids come from ONE projected array + posexplode;
    # a per-table union would scan the corpus n_tables (16) times.
    # 2 scans total: one for the corpus side, one for the query side.
    # (built directly — the catalog's embedding_lsh_topk entry now also
    # runs the exact tier for its recall acceptance output)
    from mapreducewordoccurences_spark.functions.similarity import lsh_knn
    from mapreducewordoccurences_spark.sources.readers import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    df = lsh_knn(emb, emb.where("vec_id < 10"), k=5, dim=64)
    assert count_scans(df) == 2
    assert not has_python_eval(df)


def test_q6_full_pushdown_scan_only(spark):
    df = q(spark, "q6_discount_revenue")
    # every predicate reaches the parquet scan…
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert has_pushed_filters(df, col), col
    # …and only the needed columns are read
    cols = read_schema_columns(df)[0]
    assert set(cols) == {"l_shipdate", "l_discount", "l_quantity", "l_extendedprice"}
    # single-row agg: one partial→final exchange, nothing else
    assert count_exchanges(df) == 1
    assert not has_python_eval(df)


def test_q9_broadcasts_dims(spark):
    df = q(spark, "q9_profit_by_nation_year")
    assert has_broadcast_join(df)
    assert not has_python_eval(df)


def test_sessionize_single_shuffle(spark):
    # lag window + running-sum window + final groupBy all share the
    # user_id hash partitioning → exactly ONE exchange
    df = q(spark, "sessionize_events")
    assert count_exchanges(df) == 1
    assert not has_python_eval(df)


def test_q17_probe_side_never_shuffles(spark):
    df = q(spark, "q17_small_quantity_revenue")
    # the per-part threshold table (|parts| rows ≪ |lineitem|) must be
    # broadcast, so the probe lineitem is never hash-shuffled: the only
    # exchanges are the threshold agg and the final single-row merge
    assert has_broadcast_join(df)
    assert count_exchanges(df) == 2


def test_q10_topk_avoids_global_sort(spark):
    plan = formatted_plan(q(spark, "q10_returned_revenue_topk"))
    assert "TakeOrderedAndProject" in plan
    assert has_pushed_filters(q(spark, "q10_returned_revenue_topk"), "l_returnflag")


def test_minmax_by_single_shuffle(spark):
    df = q(spark, "minmax_by_priority")
    assert count_exchanges(df) == 1
    assert not has_python_eval(df)


def test_array_stats_no_shuffle_no_python(spark):
    # per-row higher-order functions: map-only plan
    df = q(spark, "array_stats_embeddings")
    assert count_exchanges(df) == 0
    assert not has_python_eval(df)


def test_pack_sequences_single_shuffle(spark):
    # the lang-partitioned window and the (lang, pack_id) groupBy
    # share one exchange — packing costs one shuffle total
    df = q(spark, "pack_documents_to_sequences")
    assert count_exchanges(df) == 1
    assert not has_python_eval(df)


def test_q21_bounded_exchanges(spark):
    # correlated EXISTS/NOT-EXISTS rewritten as per-order aggregates:
    # per-order agg, qualifying-side join, final groupBy — never more
    df = q(spark, "q21_sole_qualifying_supplier")
    assert count_exchanges(df) <= 3
    assert not has_python_eval(df)


def test_decontaminate_broadcasts_bench_single_corpus_shuffle(spark):
    from tests.plan_text import count_scans

    df = q(spark, "decontaminate_ngram_overlap")
    # benchmark shingle set broadcast; the training corpus is scanned
    # ONCE and shuffled ONCE (the per-doc aggregate) — the shape that
    # survives a 100 TB corpus with a fixed-size eval suite
    assert has_broadcast_join(df)
    assert count_scans(df) == 2  # bench side + train side
    # exchanges: bench distinct agg + final doc_id agg (broadcast
    # exchanges are not hash shuffles)
    assert count_exchanges(df) <= 2
    assert not has_python_eval(df)


def test_incremental_dedup_no_full_row_shuffle(spark):
    # only (fingerprint, id) pairs move: scans prune to doc_id + text
    df = q(spark, "dedup_incremental_batch")
    for cols in read_schema_columns(df):
        assert set(cols) <= {"doc_id", "text"}
    assert not has_python_eval(df)


def test_source_mix_weights_single_agg_shuffle(spark):
    # per-source agg is the only hash exchange; the one-row total
    # broadcasts back (no second corpus pass — one scan)
    from tests.plan_text import count_scans

    df = q(spark, "source_mix_weights")
    assert count_scans(df) == 1
    assert count_exchanges(df) <= 2
    assert not has_python_eval(df)


# the ONLY catalog entries allowed to put Python in the plan: the
# explicit UDF/UDAF/UDTF extension surface and the multimodal
# encode/decode round-trips (Arrow-batched mapInPandas by design)
PYTHON_ALLOWED = {
    "udf_vector_norms",
    "udaf_zscore_by_label",
    "udtf_sentence_stats",
    "media_image_dims",
    "media_frame_sample",
    "media_audio_stats",
    # codec decode + 64-bit dHash is Arrow-batched mapInPandas by
    # design (media bytes never enter JVM expressions); the pairing
    # join itself is JVM-side
    "media_image_dhash_pairs",
    "media_audio_fingerprint_pairs",
    "media_video_clip_dhash_pairs",
    # r10 JPEG tier: vendored-codec encode/decode + dHash, same
    # Arrow-batched contract as the PNG rows
    "media_jpeg_dims",
    "media_jpeg_dhash_pairs",
    "media_jpeg_requant_recall",
    # r11 GIF/MP4 tiers: same Arrow-batched vendored-codec contract
    # (LZW / ISO BMFF walk + JPEG sample decode); pairing joins stay
    # JVM-side
    "media_gif_dims",
    "media_gif_dhash_pairs",
    "media_mp4_dims",
    "media_mp4_clip_dhash_pairs",
    # r12: WAV synth + window-energy vectorization is the same
    # Arrow-batched mapInPandas contract; the IVF tier downstream
    # (cells, probe join, re-rank) is pure JVM
    "media_audio_ivf_topk",
    # r11: the MMR greedy phase moved OFF the driver into
    # FlatMapGroupsInPandas per query_id (VERDICT r10 ask #1) — an
    # inherently sequential per-query selection that was previously a
    # driver loop invisible to the plan; the Python node here is the
    # fix, not a regression (shortlist generation above it is pure JVM)
    "mmr_diversified_topk",
    "mmr_diversified_topk_ivf",
    # bounded per-partition Space-Saving summary (constant memory,
    # vectorized pandas value_counts) — the candidate phase of the
    # exact heavy-hitter pattern is Python by design
    "heavy_hitter_users",
}


def test_catalog_hot_paths_have_no_python(catalog_plans):
    failures = []
    for name, plan in catalog_plans.items():
        if name in PYTHON_ALLOWED:
            continue
        if isinstance(plan, Exception):  # building the plan must also succeed
            failures.append(f"{name}: {type(plan).__name__}")
        elif has_python_eval(plan):
            failures.append(name)
    assert not failures, failures


def test_pagerank_tiers_stay_jvm_side(spark):
    """Both PageRank tiers are free of Python: the in-row tier's rounds
    are one Catalyst expression over a single row (no exchange once the
    edges are truncated), the distributed tier is join + groupBy."""
    from unittest import mock

    from mapreducewordoccurences_spark.operators import graph

    edges = spark.createDataFrame(
        [("a", "b", 1), ("b", "a", 2), ("b", "c", 1)],
        "src string, dst string, w long",
    )
    in_row = graph.pagerank_fixed_point(edges, weight_col="w", iterations=3)
    with mock.patch.object(graph, "IN_ROW_EDGE_LIMIT", 0):
        distributed = graph.pagerank_fixed_point(
            edges, weight_col="w", iterations=3
        )
    assert count_exchanges(in_row) == 0
    assert not has_python_eval(in_row)
    assert not has_python_eval(distributed)


def test_bloom_probe_broadcasts_bitmap(spark):
    """The bitmap side of the membership probe must broadcast — the
    big (probe) side never shuffles for the bloom check."""
    df = q(spark, "dedup_bloom_incremental")
    assert has_broadcast_join(df)
    assert not has_python_eval(df)


def test_gram_matrix_single_shuffle_and_pruning(spark):
    """d² explode feeds a partial aggregation: one exchange bounded by
    d²·partitions; only the vector column leaves the scan."""
    df = q(spark, "gram_matrix_embeddings")
    # one agg exchange (+ AQE may add none for the tiny mirror union)
    assert count_exchanges(df) <= 2
    assert all(cols == ["embedding"] for cols in read_schema_columns(df))
    assert not has_python_eval(df)


def test_fuzzy_match_no_cartesian_and_no_python(spark):
    df = q(spark, "fuzzy_match_part_names")
    assert "CartesianProduct" not in formatted_plan(df)
    assert not has_python_eval(df)


def test_merge_upsert_no_python_bounded_exchanges(spark):
    df = q(spark, "merge_upsert_orders")
    assert not has_python_eval(df)


def test_hopping_window_single_shuffle(spark):
    df = q(spark, "hopping_window_event_value")
    assert count_exchanges(df) == 1  # explode is map-side
    assert not has_python_eval(df)


def test_catalog_has_no_cartesian_products(catalog_plans):
    """No catalog query may plan a CartesianProduct: every cross-ish
    shape must be a broadcast of a scalar/centroid/dim table
    (BroadcastNestedLoop over bounded rows is acceptable; an
    unbounded pairwise product is never)."""
    offenders = []
    for name, plan in catalog_plans.items():
        if isinstance(plan, Exception):  # plan construction must succeed too
            offenders.append(f"{name}: {type(plan).__name__}")
        elif "CartesianProduct" in plan:
            offenders.append(name)
    assert not offenders, offenders


def test_rfm_bands_by_broadcast_join_no_global_window(spark):
    """rfm_user_segments must quartile-band via exact percentile
    boundaries broadcast back onto the user table — NOT global
    ntile windows, which single-partition-sort the whole user axis
    (unbounded at scale)."""
    df = q(spark, "rfm_user_segments")
    plan = formatted_plan(df)
    assert "ntile(" not in plan  # ("ntile" alone matches perceNTILE_disc)
    import re

    assert not re.search(r"^\(\d+\) Window\s*$", plan, re.MULTILINE)
    assert has_broadcast_join(df)  # 1-row boundary table broadcast


def test_vocab_shift_no_window_over_vocabulary(spark):
    """vocab_shift_js_divergence computes corpus token totals with a
    plain agg + broadcast crossJoin; an unpartitioned window here
    would sort the full vocabulary (hapax-heavy, 10⁸-10⁹ rows
    web-scale) in one partition."""
    import re

    df = q(spark, "vocab_shift_js_divergence")
    plan = formatted_plan(df)
    assert not re.search(r"^\(\d+\) Window\s*$", plan, re.MULTILINE)
    assert has_broadcast_join(df)
    assert not has_python_eval(df)


def test_zipf_windows_only_the_class_axis(spark):
    """zipf_slope_vocabulary's only window runs over distinct
    frequency CLASSES (≤ √(2·tokens) rows — bounded); the
    vocabulary-sized rank rows are regenerated by a distributed
    sequence+explode, never a global row_number over the vocab."""
    import re

    df = q(spark, "zipf_slope_vocabulary")
    plan = formatted_plan(df)
    assert len(re.findall(r"^\(\d+\) Window\s*$", plan, re.MULTILINE)) == 1
    assert "row_number" not in plan
    assert "Generate" in plan  # the sequence-explode rank blocks


def test_hybrid_rrf_topk_and_semantic_dedup_plan_shapes(spark):
    """Both top-50 cuts in the hybrid retriever must compile to
    TakeOrderedAndProject (distributed partial top-k), never a global
    sort of the corpus; the probe side is a 1-row broadcast. The
    SemDeDup profile must keep cosine scoring JVM-side and join pairs
    only within a k-means cell (equi-join on cluster_id — no
    cartesian)."""
    hp = formatted_plan(q(spark, "hybrid_rrf_retrieval"))
    assert hp.count("TakeOrderedAndProject") >= 2
    assert "CartesianProduct" not in hp
    assert not has_python_eval(q(spark, "hybrid_rrf_retrieval"))

    sd = q(spark, "semantic_dedup_clusters")
    sp = formatted_plan(sd)
    assert "CartesianProduct" not in sp
    assert not has_python_eval(sd)


# Queries whose plans legitimately contain an UNPARTITIONED Window —
# each must run over a config/algebra-bounded axis, never a scaling
# table. Keyed by query name; the value names the bounded axis (and is
# checked against the window's Input line where a marker column makes
# that possible). Any catalog query with a global window NOT listed
# here fails the audit — the regression this guards against is exactly
# the pre-r8 ntile_customer_value_quartiles shape.
GLOBAL_WINDOW_BOUNDED = {
    # distributed global_rank: cumulative offsets over one row per
    # range partition (#partitions rows, config-bounded)
    "ntile_customer_value_quartiles": "__gr_n",
    # rank window sits ABOVE TakeOrderedAndProject (Catalyst pushes
    # the limit through the rank filter) — input <= top-k rows
    "bm25_topk_docs": None,
    # post-limit shortlists: lex top-50 / vec top-50 / fused <= 100
    "hybrid_rrf_retrieval": None,
    # the same first-stage shortlists plus one rerank window over the
    # fused_rank <= 10 candidate set — every axis post-limit bounded
    "hybrid_rrf_reranked_topk": None,
    # kmeans/codebook seed selection: orderBy(id).limit(nlist) BEFORE
    # the row_number window — input bounded at nlist rows
    "embedding_pq_topk": None,
    # fixed histogram / bucket / CDF-grid axes
    "bucketed_auc_embeddings": None,
    "ks_price_drift": None,
    "psi_price_drift": None,
    "pareto_price_buckets": None,
    "quantile_merge_daily_value": None,
    # calendar axes (days/months — thousands of rows at any sf)
    "cusum_daily_value_shift": None,
    "monthly_revenue_growth": None,
    # enum-sized dimension axes (langs, sources, regions, nations)
    "chi2_lang_source": None,
    "rollup_share_of_parent": None,
    "source_mix_weights": None,
    # frequency-class axis (<= sqrt(2 tokens) rows)
    "zipf_slope_vocabulary": None,
    # rn re-rank of the single orderBy().limit(1000) vocab cut —
    # input bounded at the widest fixed top-N, never the vocab axis
    "vocab_coverage_topn": None,
}


def global_window_inputs(plan: str) -> list[str]:
    """The ``Input`` line of every UNPARTITIONED Window node in a
    FORMATTED plan text (empty list = no single-partition windows).

    A Window node's ``Arguments`` carry [functions], [partition cols],
    [order] when partitioned but only [functions], [order] when global
    — so the top-level list separator ``], [`` appears twice vs once.
    The audit below matches the returned Input lines against known
    config-bounded axes: a global window is only acceptable over an
    aggregate whose row count is bounded by configuration or algebra
    (partition counts, frequency classes, percentile grids), never
    over a scan of a scaling table.
    """
    out: list[str] = []
    for block in re.split(r"^\(\d+\) ", plan, flags=re.MULTILINE):
        lines = block.splitlines()
        # exact node-name match: "WindowGroupLimit" (partial top-k,
        # always partitioned) must not count
        if not lines or lines[0].strip() != "Window":
            continue
        args = next((ln for ln in lines if ln.startswith("Arguments:")), "")
        # Arguments carry [functions], [partition], [order] — but both
        # the partition and order lists are omitted when empty, so the
        # top-level list count alone is ambiguous at 2: it's either
        # global+ordered ([funcs], [order]) or partitioned+unordered
        # ([funcs], [partition]). Order lists always carry ASC/DESC
        # markers; partition lists never do.
        n_lists = args.count("], [") + 1
        if n_lists >= 3:
            continue  # partitioned (+ordered)
        if n_lists == 2:
            last = args.rsplit("], [", 1)[-1]
            if " ASC" not in last and " DESC" not in last:
                continue  # partitioned, no order — not global
        out.append(next((ln for ln in lines if ln.startswith("Input")), ""))
    return out


def test_catalog_global_windows_only_on_bounded_axes(catalog_plans):
    """Catalog-wide audit: every UNPARTITIONED Window node must sit
    over a config- or algebra-bounded axis. A global window over a
    scaling table single-partitions the whole input — the shape the
    distributed global_rank/global_ntile operators exist to avoid."""
    offenders = []
    for name, plan in catalog_plans.items():
        if isinstance(plan, Exception):  # plan construction must succeed
            offenders.append(f"{name}: {type(plan).__name__}")
            continue
        inputs = global_window_inputs(plan)
        if not inputs:
            continue
        if name not in GLOBAL_WINDOW_BOUNDED:
            offenders.append(f"{name}: unlisted global window: {inputs}")
            continue
        marker = GLOBAL_WINDOW_BOUNDED[name]
        if marker and not any(marker in ln for ln in inputs):
            offenders.append(
                f"{name}: expected bounded-axis marker {marker!r} in {inputs}"
            )
    assert not offenders, offenders


def test_skew_safe_confs_fire_on_planted_shape(spark):
    """skew_safe_confs must make OptimizeSkewedJoin actually split the
    planted 80%-hot-key join — the probe's finding (SKEW_r09.json) was
    that the DEFAULT 256MB threshold silently does nothing; this pins
    the conf contract (threshold = 4x advisory) as an executed-plan
    assertion, scaled to test size via a small advisory."""
    from pyspark.sql import functions as F

    from mapreducewordoccurences_spark.operators.skew import skew_safe_confs

    saved = {
        k: spark.conf.get(k, None)
        for k in [
            *skew_safe_confs(),
            "spark.sql.autoBroadcastJoinThreshold",
        ]
    }
    try:
        for k, v in skew_safe_confs(advisory_partition_bytes=16 * 1024).items():
            spark.conf.set(k, v)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # the probe's planted shape: 80% of rows remapped to key 0,
        # joined against a non-broadcastable distinct-key dim
        left = spark.range(0, 300_000).select(
            F.when(F.pmod(F.xxhash64("id"), F.lit(5)) < 4, F.lit(0))
            .otherwise(F.col("id"))
            .alias("k"),
            (F.col("id") % 1000).alias("v"),
        )
        right = spark.range(0, 3_000).select(
            F.col("id").alias("k"), (F.col("id") % 97).alias("w")
        )
        joined = left.join(right, "k")
        rows = joined.collect()  # finalize THIS frame's adaptive plan
        assert len(rows) > 0
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_no_eager_count_scan_at_query_build_time(spark, monkeypatch):
    """The inline ANN acceptance rows (and the tfidf / planted-triangle
    rows) size constants from parquet FOOTER metadata, not a full-scan
    df.count() job (VERDICT r11 ask #5). Pin it: constructing the
    DataFrame must not invoke DataFrame.count at all."""
    from pyspark.sql import DataFrame

    def _boom(self):
        raise AssertionError("eager df.count() during query construction")

    monkeypatch.setattr(DataFrame, "count", _boom)
    for name in (
        "embedding_pq_topk",
        "embedding_ivfpq_topk",
        "tfidf_top_terms",
        "triangles_planted_acceptance",
    ):
        if name in QUERIES:
            QUERIES[name](spark, SF_DIR)  # construction only — no action


def test_parquet_row_count_matches_scan():
    from mapreducewordoccurences_spark.sources.readers import parquet_row_count
    import duckdb

    for table in ("embeddings", "documents", "events"):
        meta_n = parquet_row_count(SF_DIR, table)
        scan_n = duckdb.sql(
            f"SELECT count(*) FROM '{SF_DIR}/{table}.parquet'"
        ).fetchone()[0]
        assert meta_n == scan_n > 0


def test_reranker_broadcasts_candidates_no_python(spark):
    """The second-stage reranker's joins must broadcast the 10-row
    candidate set against documents/embeddings — no corpus-side
    shuffle beyond the first stage's own bounded top-50 legs, and the
    deterministic stand-in scorer stays JVM-side."""
    df = q(spark, "hybrid_rrf_reranked_topk")
    plan = formatted_plan(df)
    assert has_broadcast_join(df)
    assert "CartesianProduct" not in plan
    assert not has_python_eval(df)
