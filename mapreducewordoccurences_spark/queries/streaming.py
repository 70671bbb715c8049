"""Structured Streaming parity rows: windowed/stateful aggregations, stream-stream and stream-static joins, dedup, and the PSI monitor, each checked against a batch oracle.

Split from the former single-module queries.py (round 7). The
QUERIES/ORACLES registration contract is unchanged: importing this
module registers its queries with the shared registry.
"""

from __future__ import annotations

import shutil
import tempfile
import uuid
from collections.abc import Callable

from pyspark.sql.streaming import StreamingQuery

from mapreducewordoccurences_spark.queries._shared import *  # noqa: F401,F403

# every row's query drains one availableNow micro-batch; one that is
# still running after this long is stopped and the row fails
STREAM_TIMEOUT_S = 300


def _table_stream(spark: SparkSession, sf_dir: str, name: str, schema) -> DataFrame:
    """One testdata table as a file stream: file streams need a
    DIRECTORY source, so glob-filter to the table's file in ``sf_dir``."""
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", f"{name}.parquet")
        .parquet(sf_dir)
    )


def _run_stream(
    spark: SparkSession,
    prefix: str,
    start: Callable[[str], StreamingQuery],
    read: Callable[[str], DataFrame],
) -> DataFrame:
    """Run one availableNow streaming query to completion in a fresh
    work dir and return what ``read`` makes of its sink, materialized on
    the driver before the dir is removed. ``start(work)`` starts the
    query (checkpoint and sink under ``work``); ``read(work)`` builds
    the result. A query that has not finished within
    ``STREAM_TIMEOUT_S`` is stopped and raises TimeoutError: the row
    never reads a partial sink, and no query outlives its checkpoint."""
    work = tempfile.mkdtemp(prefix=prefix)
    try:
        q = start(work)
        if not q.awaitTermination(STREAM_TIMEOUT_S):
            q.stop()
            raise TimeoutError(
                f"streaming query {q.name or q.id} did not finish "
                f"within {STREAM_TIMEOUT_S} s"
            )
        out = read(work)
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run_to_memory(
    spark: SparkSession,
    prefix: str,
    df: DataFrame,
    output_mode: str,
    finish: Callable[[DataFrame], DataFrame] = lambda t: t,
) -> DataFrame:
    """``_run_stream`` into a uniquely named memory sink; ``finish``
    maps the sink table to the row's result."""
    sink = f"{prefix}{uuid.uuid4().hex[:8]}"

    def start(work: str) -> StreamingQuery:
        return (
            df.writeStream.format("memory")
            .queryName(sink)
            .outputMode(output_mode)
            .option("checkpointLocation", f"{work}/ckpt")
            .trigger(availableNow=True)
            .start()
        )

    return _run_stream(spark, prefix, start, lambda _work: finish(spark.table(sink)))


@register(
    "streaming_psi_monitor_batch",
    # The ONE streaming-path query the oracle can check: the monitor's
    # per-batch PSI is pure arithmetic over bucket counts, so the SQL
    # mirror recomputes what the foreachBatch loop must have written.
    """
    WITH a AS (
      SELECT CAST(floor(value / 5) AS BIGINT) AS bucket, count(*) AS na
      FROM events GROUP BY 1
    ), b AS (
      SELECT CAST(floor(value / 5) AS BIGINT) AS bucket, count(*) AS nb
      FROM events WHERE user_id % 2 = 0 GROUP BY 1
    ), j AS (
      SELECT COALESCE(a.bucket, b.bucket) AS bucket,
             COALESCE(na, 0) AS na, COALESCE(nb, 0) AS nb
      FROM a FULL OUTER JOIN b ON a.bucket = b.bucket
    ), terms AS (
      SELECT na, nb,
             CAST(trunc(
               (greatest(na / SUM(na) OVER (), 1e-6)
                - greatest(nb / SUM(nb) OVER (), 1e-6))
               * ln(greatest(na / SUM(na) OVER (), 1e-6)
                    / greatest(nb / SUM(nb) OVER (), 1e-6)) * 1e8
             ) AS BIGINT) AS term_fp
      FROM j
    )
    SELECT CAST(0 AS BIGINT) AS batch_id,
           SUM(term_fp) / 1e8 AS psi,
           count(*) AS n_buckets,
           SUM(na) AS n_batch,
           SUM(nb) AS n_ref
    FROM terms
    """,
)
def q_streaming_psi_monitor_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming drift monitor DRIVEN END-TO-END inside a catalog
    query: freeze a reference histogram (even-user events), run the
    events parquet through readStream + foreachBatch PSI scoring with
    trigger(availableNow) — one deterministic micro-batch — and
    return the metrics row the monitor appended. The oracle recomputes
    the same PSI relationally, so a value-hash match proves the
    STREAMING path (source → foreachBatch → sink) computed exactly
    what batch SQL says it should. Fresh temp checkpoint/metrics dirs
    per invocation keep reruns deterministic (batch_id is always 0)."""
    from mapreducewordoccurences_spark.streaming.drift_monitor import (
        freeze_reference,
        start_psi_monitor,
    )

    events = _t(spark, sf_dir, "events")

    def start(work: str) -> StreamingQuery:
        freeze_reference(
            events.where(F.col("user_id") % 2 == 0), "value", 5.0, f"{work}/ref"
        )
        stream = _table_stream(spark, sf_dir, "events", events.schema)
        return start_psi_monitor(
            stream, "value", 5.0, f"{work}/ref", f"{work}/metrics", f"{work}/ckpt"
        )

    # batch_id is a partition column of the metrics log (the
    # idempotent-replay layout), so its read-back type is inferred
    # from the directory name — cast to the contract's bigint
    return _run_stream(
        spark,
        "psi_monitor_q_",
        start,
        lambda work: spark.read.parquet(f"{work}/metrics").select(
            F.col("batch_id").cast("bigint").alias("batch_id"),
            "psi", "n_buckets", "n_batch", "n_ref",
        ),
    )


@register(
    "streaming_wordcount_parity",
    # the oracle recomputes the word counts relationally and reduces
    # them to the same three-field digest: vocabulary size, total
    # token count, and an order-insensitive sum-of-md5-folds over
    # (word, cnt) — a count that streamed wrong in ANY row moves
    # counts_hash, but no engine ever ships the vocab to the driver
    """
    WITH counts AS (
      SELECT word, count(*) AS cnt FROM (
        SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
        FROM documents
      ) GROUP BY word
    )
    SELECT count(*) AS n_words,
           CAST(sum(cnt) AS BIGINT) AS total_tokens,
           CAST(sum(CAST(concat('0x', substr(md5(word || '=' || cnt), 1, 15))
                         AS BIGINT) % 1000000007) AS BIGINT) AS counts_hash
    FROM counts
    """,
)
def q_streaming_wordcount_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's aggregation run through STRUCTURED STREAMING:
    documents stream in as one availableNow micro-batch, tokenize →
    explode → stateful groupBy count, then foreachBatch writes the
    counts to a parquet sink DISTRIBUTED (r9, VERDICT r8 ask #3: the
    former complete-mode memory sink materialized the whole vocabulary
    on the driver, which is what kept every streaming row out of the
    sf1 sweep). The returned row is a three-field digest of the
    read-back sink — (n_words, total_tokens, counts_hash), the hash an
    order-insensitive modular sum of per-(word,cnt) md5 folds — so the
    correctness contract still pins EVERY count while the driver only
    ever sees one row at any scale. Covers the native state-store agg
    next to streaming_psi_monitor_batch's foreachBatch-metrics path."""
    from mapreducewordoccurences_spark.functions.text import tokens

    docs = _t(spark, sf_dir, "documents")
    counts = (
        _table_stream(spark, sf_dir, "documents", docs.schema)
        .select(F.explode(tokens("text", lowercase=True)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )

    def start(work: str) -> StreamingQuery:
        def write_counts(batch_df: DataFrame, _batch_id: int) -> None:
            # complete-mode replay: each batch carries the full state,
            # so overwrite is the idempotent sink contract
            batch_df.write.mode("overwrite").parquet(f"{work}/counts")

        return (
            counts.writeStream.foreachBatch(write_counts)
            .outputMode("complete")
            .option("checkpointLocation", f"{work}/ckpt")
            .trigger(availableNow=True)
            .start()
        )

    fold = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("word"),
                        F.lit("="),
                        F.col("cnt").cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % F.lit(1000000007)
    )
    return _run_stream(
        spark,
        "stream_wc_q_",
        start,
        lambda work: spark.read.parquet(f"{work}/counts").agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("cnt").cast("bigint").alias("total_tokens"),
            F.sum(fold).cast("bigint").alias("counts_hash"),
        ),
    )


@register(
    "streaming_dedup_parity",
    """
    SELECT user_id, count(*) AS n FROM (
      SELECT DISTINCT user_id, event_type FROM events
    ) GROUP BY user_id
    """,
)
def q_streaming_dedup_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming DEDUPLICATION through the correctness gate: events
    stream in (availableNow), watermarked dropDuplicates on
    (user_id, event_type) maintains the dedup state store, and the
    emitted distinct pairs are counted per user — hash-matched
    against relational SELECT DISTINCT. Third oracle-checked
    streaming row: psi monitor covers foreachBatch, wordcount parity
    covers stateful aggregation, this covers the dedup state
    operator (the streaming face of the exact-dedup tier)."""
    events = _t(spark, sf_dir, "events")
    stream = _table_stream(spark, sf_dir, "events", events.schema)
    distinct_pairs = (
        stream.select(
            "user_id",
            "event_type",
            F.timestamp_micros(ts_micros(stream, "ts")).alias("__et"),
        )
        .withWatermark("__et", "1 hour")
        .dropDuplicates(["user_id", "event_type"])
    )
    return _run_to_memory(
        spark,
        "stream_dedup_q_",
        distinct_pairs,
        "append",
        lambda t: t.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")),
    )


@register(
    "streaming_interval_join_views_purchases",
    """
    SELECT p.user_id, count(*) AS n_view_purchase_pairs
    FROM events p JOIN events v
      ON p.user_id = v.user_id
     AND p.event_type = 'purchase' AND v.event_type = 'view'
     AND epoch_us(v.ts) >= epoch_us(p.ts) - 3600000000
     AND epoch_us(v.ts) <= epoch_us(p.ts)
    GROUP BY 1
    """,
)
def q_streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM inner join through the correctness gate: purchase
    and view events arrive as two watermarked streams; each purchase
    joins the same user's views from the preceding hour (the
    event-time range condition that lets the state store evict —
    without it stream-stream join state grows forever). availableNow
    delivers both tables as one micro-batch, so the joined set is
    exactly the batch semantics the oracle states. Fourth streaming
    operator driver-verified (foreachBatch, state-store agg, dedup
    state, now join state)."""
    events = _t(spark, sf_dir, "events")

    def side(event_type: str, alias: str) -> DataFrame:
        s = _table_stream(spark, sf_dir, "events", events.schema)
        return (
            s.where(F.col("event_type") == event_type)
            .select(
                F.col("user_id").alias(f"{alias}_user"),
                F.timestamp_micros(ts_micros(s, "ts")).alias(f"{alias}_ts"),
            )
            .withWatermark(f"{alias}_ts", "2 hours")
        )

    purchases, views = side("purchase", "p"), side("view", "v")
    joined = purchases.join(
        views,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("v_ts") <= F.col("p_ts")),
    )
    return _run_to_memory(
        spark,
        "stream_ij_q_",
        joined,
        "append",
        lambda t: t.groupBy(F.col("p_user").alias("user_id")).agg(
            F.count(F.lit(1)).alias("n_view_purchase_pairs")
        ),
    )


@register(
    "streaming_stateful_user_totals",
    """
    SELECT user_id, count(*) AS n_events,
           ROUND(SUM(value), 2) AS total_value_2dp
    FROM events GROUP BY user_id
    """,
)
def q_streaming_stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM stateful streaming operator (applyInPandasWithState —
    streaming/stateful.py running_user_totals) through the gate: one
    availableNow micro-batch updates every user's state row, and the
    emitted (n_events, total_value) must equal the batch aggregation.
    total_value is rounded to 2dp in BOTH engines: the state update
    sums floats in pandas batch order, the oracle in scan order —
    equal to ~1e-12 but not bit-equal, and the contract here is the
    state machine's bookkeeping, not float associativity. Fifth
    streaming operator driver-verified."""
    from mapreducewordoccurences_spark.streaming.stateful import (
        running_user_totals,
    )

    events = _t(spark, sf_dir, "events")
    return _run_to_memory(
        spark,
        "stream_state_q_",
        running_user_totals(_table_stream(spark, sf_dir, "events", events.schema)),
        "update",
        lambda t: t.select(
            "user_id",
            "n_events",
            F.round("total_value", 2).alias("total_value_2dp"),
        ),
    )


@register(
    "streaming_static_enrich_nation_totals",
    """
    SELECT n.n_name, count(*) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(28,4))) AS DOUBLE) AS total_value
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def q_streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STATIC enrichment join — the remaining canonical
    streaming join shape next to the stream-stream interval join
    (streaming_interval_join_views_purchases): events stream in as one
    availableNow micro-batch and are enriched against a STATIC
    dimension (customer ⋈ nation, built as a plain batch DataFrame)
    broadcast into every micro-batch — no state store, no watermark,
    the dimension is re-resolvable per batch by contract. Stateful
    complete-mode groupBy then totals per nation; the oracle
    recomputes relationally, and the decimal-exact value sum makes
    the hash-match order-independent. At scale this is the dimension
    pattern for streams: the per-batch broadcast costs |dim|, the
    stream side never shuffles for the join."""
    ev = _t(spark, sf_dir, "events")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    dim = (
        cust.join(nat, cust.c_nationkey == nat.n_nationkey)
        .select(F.col("c_custkey").alias("user_id"), "n_name")
    )
    enriched = _table_stream(spark, sf_dir, "events", ev.schema).join(
        F.broadcast(dim), "user_id"
    )
    agg = enriched.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_events"),
        decimal_sum("value", 4, "total_value"),
    )
    return _run_to_memory(spark, "stream_enrich_", agg, "complete")
