"""Event-stream and behavioral analytics over the events table: sessionization, funnels, retention/churn cohorts, time-series windows (EWMA, rolling z-score, time-weighted averages), CDC/SCD snapshots, and user-level segmentation.

Split from the former single-module queries.py (round 7). The
QUERIES/ORACLES registration contract is unchanged: importing this
module registers its queries with the shared registry.
"""

from __future__ import annotations

from mapreducewordoccurences_spark.queries._shared import *  # noqa: F401,F403

@register(
    "sessionize_events",
    """
    WITH ordered AS (
        SELECT user_id, event_id, epoch_us(ts) AS ts_us,
               CASE WHEN epoch_us(ts) - LAG(epoch_us(ts))
                        OVER (PARTITION BY user_id
                              ORDER BY epoch_us(ts), event_id)
                    > 1800000000 THEN 1 ELSE 0 END AS is_new
        FROM events
    ), sessions AS (
        SELECT user_id, event_id, ts_us,
               CAST(SUM(is_new) OVER (PARTITION BY user_id
                                      ORDER BY ts_us, event_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT)
                 AS session_id
        FROM ordered
    )
    SELECT user_id, session_id,
           COUNT(*) AS n_events,
           MIN(ts_us) AS session_start_us,
           MAX(ts_us) AS session_end_us
    FROM sessions
    GROUP BY user_id, session_id
    """,
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (gaps-and-islands): a session breaks after
    a 30-minute silence. One shuffle total — the lag window, the
    running-sum window, and the final groupBy all share the user_id
    partitioning (the two windows additionally share one sort). All
    arithmetic is int64 epoch-MICROseconds (via the schema-adaptive
    ``ts_micros`` helper): bit-deterministic, and (event_id) tiebreaks
    make both windows total orders."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    ordered = ev.select(
        "user_id", "event_id", ts_micros(ev, "ts").alias("ts_us")
    ).withColumn(
        "is_new",
        F.when(
            F.col("ts_us") - F.lag("ts_us").over(w) > 1_800_000_000, F.lit(1)
        ).otherwise(F.lit(0)),
    )
    sessions = ordered.withColumn(
        "session_id",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts_us").alias("session_start_us"),
        F.max("ts_us").alias("session_end_us"),
    )


@register(
    "range_frame_hourly_spend",
    """
    SELECT user_id, event_id, epoch_us(ts) AS ts_us,
           CAST(SUM(CAST(value AS DECIMAL(28,6))) OVER (
                 PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS hour_spend
    FROM events
    """,
)
def q_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window: each event's trailing-hour spend. Unlike a
    ROWS frame, peers (equal timestamps) always share a frame, so the
    result needs no tiebreak to be deterministic. Epoch-micros ordering
    keys on both engines; decimal-exact sums."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "user_id", "event_id", ts_micros(ev, "ts").alias("ts_us"), "value"
    ).select(
        "user_id",
        "event_id",
        "ts_us",
        F.sum(F.col("value").cast("decimal(28,6)"))
        .over(w)
        .cast("double")
        .alias("hour_spend"),
    )


@register(
    "key_skew_event_users",
    """
    WITH per AS (
      SELECT user_id, count(*) AS n_rows FROM events GROUP BY user_id
    ), tot AS (
      SELECT CAST(SUM(n_rows) AS DOUBLE) AS total,
             CAST(COUNT(*) AS DOUBLE) AS n_keys FROM per
    )
    SELECT user_id, n_rows,
           CAST(ROUND(n_rows / tot.total, 6) AS DOUBLE) AS row_share,
           CAST(ROUND(n_rows / (tot.total / tot.n_keys), 6) AS DOUBLE) AS ratio_to_mean
    FROM per CROSS JOIN tot
    ORDER BY n_rows DESC, user_id
    LIMIT 10
    """,
)
def q_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew diagnostic: 10 hottest user_ids with row share
    and hot-reducer ratio (operators/skew.py key_skew_stats —
    distributed top-N, never a global window over the key set)."""
    from mapreducewordoccurences_spark.operators.skew import key_skew_stats

    return key_skew_stats(_t(spark, sf_dir, "events"), ["user_id"], top_n=10).select(
        "user_id",
        "n_rows",
        F.round("row_share", 6).alias("row_share"),
        F.round("ratio_to_mean", 6).alias("ratio_to_mean"),
    )


@register(
    "heavy_hitter_users",
    # exact output (phase-2 recount discards false candidates), so a
    # plain HAVING oracle hash-matches
    """
    SELECT user_id, count(*) AS cnt
    FROM events GROUP BY user_id
    HAVING count(*) >= (SELECT ceil(count(*) * 0.0005) FROM events)
    """,
)
def q_heavy_hitter_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters (users with ≥0.05% of all events) via the
    two-phase Space-Saving candidate / exact-recount pattern
    (operators/skew.py heavy_hitters) — the full key set never
    shuffles, only the bounded candidate superset does."""
    from mapreducewordoccurences_spark.operators.skew import heavy_hitters

    return heavy_hitters(_t(spark, sf_dir, "events"), ["user_id"], min_share=0.0005)


@register(
    "asof_forward_next_purchase",
    # forward as-of with a 7-day tolerance: each signup's NEXT purchase
    # (inclusive), nulled when farther than the tolerance. The oracle
    # states it as a correlated min() — DuckDB's ASOF JOIN could also
    # express it, but the subquery form pins the semantics explicitly.
    """
    WITH s AS (SELECT * FROM events WHERE event_type = 'signup'),
         p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase')
    SELECT s.event_id, s.user_id,
           CASE WHEN nxt IS NOT NULL AND nxt - epoch_us(s.ts) <= 604800000000
                THEN (nxt - epoch_us(s.ts)) // 1000000 END AS secs_to_purchase
    FROM (SELECT s.*,
                 (SELECT min(epoch_us(p.ts)) FROM p
                  WHERE p.user_id = s.user_id AND epoch_us(p.ts) >= epoch_us(s.ts))
                   AS nxt
          FROM s) s
    """,
)
def q_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of with tolerance (operators/joins.py asof_join
    direction='forward'): each signup matched to the user's next
    purchase at-or-after it, nulled beyond 7 days. Event time is
    pre-normalized to epoch-micros so the tolerance is a plain int —
    the same single-shuffle union+window plan as the backward query."""
    ev = _t(spark, sf_dir, "events")
    signups = ev.where(F.col("event_type") == "signup").select(
        "event_id", "user_id", ts_micros(ev, "ts").alias("ts_us")
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", ts_micros(ev, "ts").alias("ts_us")
    )
    joined = asof_join(
        signups,
        purchases,
        on="user_id",
        left_ts="ts_us",
        right_ts="ts_us",
        right_cols=[],
        direction="forward",
        tolerance=604_800_000_000,  # 7 days in micros
    )
    gap = F.floor(
        (F.col("ts_us_right") - F.col("ts_us")) / F.lit(1_000_000)
    ).cast("long")
    return joined.select("event_id", "user_id", gap.alias("secs_to_purchase"))


@register(
    "ewma_user_value",
    # identical left-to-right IEEE-double fold in both engines (DuckDB
    # list_reduce seeds with the first element, exactly like the Spark
    # aggregate over slice(arr, 2, ...) seeded with element 1), so the
    # doubles are bit-identical — no tolerance needed
    """
    SELECT user_id,
           CAST(len(obs) AS BIGINT) AS n_obs,
           list_reduce(obs, (acc, x) -> 0.5 * x + 0.5 * acc) AS ewma_value
    FROM (SELECT user_id,
                 list(CAST(value AS DOUBLE) ORDER BY epoch_us(ts), event_id) AS obs
          FROM events GROUP BY user_id)
    """,
)
def q_ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final EWMA (alpha=0.5) of each user's event values in time
    order (operators/timeseries.py ewma_last): a sequential fold over
    a totally ordered per-key array — the only formulation that is
    both order-deterministic and underflow-free."""
    from mapreducewordoccurences_spark.operators.timeseries import ewma_last

    ev = _t(spark, sf_dir, "events")
    obs = ev.select(
        "user_id", ts_micros(ev, "ts").alias("ts_us"), "event_id", "value"
    )
    return ewma_last(obs, "user_id", "ts_us", "value", "event_id", alpha=0.5)


@register(
    "funnel_signup_view_purchase",
    # ordered funnel: each stage's timestamp must be >= the previous
    # stage's; all event-time math on epoch-micros ints
    """
    WITH s AS (SELECT user_id, min(epoch_us(ts)) AS t1
               FROM events WHERE event_type = 'signup' GROUP BY 1),
         v AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t2
               FROM events e JOIN s USING (user_id)
               WHERE e.event_type = 'view' AND epoch_us(e.ts) >= s.t1
               GROUP BY 1),
         p AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t3
               FROM events e JOIN v USING (user_id)
               WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= v.t2
               GROUP BY 1)
    SELECT (SELECT count(*) FROM s) AS n_signup,
           (SELECT count(*) FROM v) AS n_view_after_signup,
           (SELECT count(*) FROM p) AS n_purchase_after_view,
           (SELECT count(*) FROM p) / (SELECT count(*) FROM s) AS conversion
    """,
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel signup -> view -> purchase: each stage
    is a groupBy-min over events gated by the previous stage's time,
    joined on user_id — three shuffles sharing one key, so a real
    cluster co-partitions them (and bucketed event tables would make
    the joins exchange-free). The single int/int divide is the
    deterministic-ratio convention used across the catalog."""
    ev = _t(spark, sf_dir, "events")
    ev_us = ev.select(
        "user_id", "event_type", ts_micros(ev, "ts").alias("ts_us")
    )
    s = (
        ev_us.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t1"))
    )
    v = (
        ev_us.where(F.col("event_type") == "view")
        .join(s, "user_id")
        .where(F.col("ts_us") >= F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t2"))
    )
    p = (
        ev_us.where(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .where(F.col("ts_us") >= F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t3"))
    )
    counts = (
        s.agg(F.count(F.lit(1)).alias("n_signup"))
        .crossJoin(v.agg(F.count(F.lit(1)).alias("n_view_after_signup")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n_purchase_after_view")))
    )
    return counts.select(
        "n_signup",
        "n_view_after_signup",
        "n_purchase_after_view",
        (F.col("n_purchase_after_view") / F.col("n_signup")).alias("conversion"),
    )


@register(
    "retention_cohorts_weekly",
    # calendar-free cohorting: week buckets are epoch_us div one week
    # of micros — pure integer arithmetic both engines share
    """
    WITH su AS (SELECT user_id, min(epoch_us(ts) // 604800000000) AS cohort_wk
                FROM events WHERE event_type = 'signup' GROUP BY 1),
         act AS (SELECT DISTINCT user_id, epoch_us(ts) // 604800000000 AS wk
                 FROM events)
    SELECT cohort_wk, wk - cohort_wk AS week_offset,
           count(*) AS n_active_users
    FROM act JOIN su USING (user_id)
    WHERE wk >= cohort_wk
    GROUP BY cohort_wk, week_offset
    """,
)
def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts: users bucketed by signup week, counted
    as active in each subsequent week they produced any event. The
    distinct + join + agg all share the user_id key."""
    ev = _t(spark, sf_dir, "events")
    # integer div, not float division + cast — a double quotient can
    # round up across a bucket boundary
    ev_wk = ev.select(
        "user_id", "event_type", ts_micros(ev, "ts").alias("__ts_us")
    ).select(
        "user_id", "event_type", F.expr("__ts_us div 604800000000").alias("wk")
    )
    su = (
        ev_wk.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("wk").alias("cohort_wk"))
    )
    act = ev_wk.select("user_id", "wk").distinct()
    return (
        act.join(su, "user_id")
        .where(F.col("wk") >= F.col("cohort_wk"))
        .groupBy(F.col("cohort_wk"), (F.col("wk") - F.col("cohort_wk")).alias("week_offset"))
        .agg(F.count(F.lit(1)).alias("n_active_users"))
    )


@register(
    "merge_upsert_orders",
    # synthetic CDC batch derived deterministically from orders:
    # key%7=0 rows get two versioned updates (v2 wins), key%11=0 rows
    # are tombstoned, and shifted keys insert as new rows. The insert
    # shift is max(key)+1 — data-derived, so NEW keys stay disjoint
    # from live keys at EVERY scale (a fixed 1000000 shift collided
    # with real keys at sf1, making latest-per-key tie-dependent —
    # caught by the r8 full-catalog sf1 sweep)
    """
    WITH mx AS (SELECT max(o_orderkey) + 1 AS shift FROM orders),
    upd AS (
      SELECT o_orderkey, o_custkey, 'U1' AS o_orderstatus,
             o_totalprice + 1000 AS o_totalprice, 1 AS v, FALSE AS del
      FROM orders WHERE o_orderkey % 7 = 0
      UNION ALL
      SELECT o_orderkey, o_custkey, 'U2', o_totalprice + 2000, 2, FALSE
      FROM orders WHERE o_orderkey % 7 = 0
      UNION ALL
      SELECT o_orderkey, o_custkey, 'DEL', o_totalprice, 1, TRUE
      FROM orders WHERE o_orderkey % 11 = 0 AND o_orderkey % 7 <> 0
      UNION ALL
      SELECT o_orderkey + (SELECT shift FROM mx), o_custkey, 'NEW', 42.0, 1, FALSE
      FROM orders WHERE o_orderkey % 13 = 0
    ), latest AS (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, del
      FROM (SELECT *, row_number() OVER (
              PARTITION BY o_orderkey ORDER BY v DESC) AS rn FROM upd)
      WHERE rn = 1
    )
    SELECT o.o_orderkey, o.o_custkey, o.o_orderstatus, o.o_totalprice
    FROM orders o
    WHERE NOT EXISTS (SELECT 1 FROM upd u WHERE u.o_orderkey = o.o_orderkey)
    UNION ALL
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
    FROM latest WHERE NOT del
    """,
)
def q_merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics on plain DataFrames (operators/merge.py):
    versioned updates collapse to latest-per-key, tombstones delete,
    new keys insert, untouched rows carry over via one pk-keyed
    anti-join."""
    from mapreducewordoccurences_spark.operators.merge import merge_upsert

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    # data-derived insert shift (driver scalar, bounded): NEW keys must
    # stay disjoint from live keys at every scale — see oracle comment
    shift = orders.agg(F.max("o_orderkey")).first()[0] + 1
    k = F.col("o_orderkey")
    upd = (
        orders.where(k % 7 == 0)
        .select(
            "o_orderkey",
            "o_custkey",
            F.lit("U1").alias("o_orderstatus"),
            (F.col("o_totalprice") + 1000).alias("o_totalprice"),
            F.lit(1).alias("v"),
            F.lit(False).alias("del"),
        )
        .unionByName(
            orders.where(k % 7 == 0).select(
                "o_orderkey",
                "o_custkey",
                F.lit("U2").alias("o_orderstatus"),
                (F.col("o_totalprice") + 2000).alias("o_totalprice"),
                F.lit(2).alias("v"),
                F.lit(False).alias("del"),
            )
        )
        .unionByName(
            orders.where((k % 11 == 0) & (k % 7 != 0)).select(
                "o_orderkey",
                "o_custkey",
                F.lit("DEL").alias("o_orderstatus"),
                F.col("o_totalprice"),
                F.lit(1).alias("v"),
                F.lit(True).alias("del"),
            )
        )
        .unionByName(
            orders.where(k % 13 == 0).select(
                (k + F.lit(shift)).alias("o_orderkey"),
                "o_custkey",
                F.lit("NEW").alias("o_orderstatus"),
                F.lit(42.0).alias("o_totalprice"),
                F.lit(1).alias("v"),
                F.lit(False).alias("del"),
            )
        )
    )
    return merge_upsert(
        orders, upd, keys=["o_orderkey"], version_col="v", delete_col="del"
    )


@register(
    "hopping_window_event_value",
    # batch hopping windows (1h width, 15min hop): each event lands in
    # width/hop = 4 windows via generate_series on integer micros
    """
    SELECT hop_start_us, count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(28,4))) AS DOUBLE) AS sum_value
    FROM (
      SELECT unnest(generate_series(
               ((epoch_us(ts) - 3600000000) // 900000000 + 1) * 900000000,
               epoch_us(ts),
               900000000)) AS hop_start_us,
             value
      FROM events)
    WHERE hop_start_us >= 0
    GROUP BY hop_start_us
    """,
)
def q_hopping_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-mode hopping windows (the exact shape of streaming
    window(ts, '1 hour', '15 minutes'), on integer micros): each event
    explodes into the width/hop windows containing it via a built-in
    sequence — map-side, then one partial-aggregated shuffle keyed by
    window start."""
    ev = _t(spark, sf_dir, "events")
    width, hop = 3_600_000_000, 900_000_000
    ts_us = ts_micros(ev, "ts")
    first_hop = ((ts_us - width) / hop + 1).cast("long") * hop
    hops = ev.select(
        F.explode(
            F.sequence(first_hop, ts_us, F.lit(hop))
        ).alias("hop_start_us"),
        "value",
    ).where(F.col("hop_start_us") >= 0)
    return hops.groupBy("hop_start_us").agg(
        F.count(F.lit(1)).alias("n_events"),
        decimal_sum("value", 4, "sum_value"),
    )


@register(
    "pattern_purchase_no_error_between",
    # CEP-lite absence pattern: signup -> purchase with NO error event
    # strictly between, per user, all on epoch-micros ints
    """
    WITH s AS (SELECT user_id, min(epoch_us(ts)) AS t_signup
               FROM events WHERE event_type = 'signup' GROUP BY 1),
         p AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t_purchase
               FROM events e JOIN s USING (user_id)
               WHERE e.event_type = 'purchase'
                 AND epoch_us(e.ts) >= s.t_signup
               GROUP BY 1)
    SELECT p.user_id, s.t_signup, p.t_purchase,
           NOT EXISTS (SELECT 1 FROM events x
                       WHERE x.user_id = p.user_id
                         AND x.event_type = 'error'
                         AND epoch_us(x.ts) > s.t_signup
                         AND epoch_us(x.ts) < p.t_purchase) AS clean_path
    FROM p JOIN s USING (user_id)
    """,
)
def q_pattern_no_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Absence pattern (complex-event-processing shape): each user's
    first signup->purchase conversion, flagged clean when NO error
    event falls strictly between the two times. The absence check is
    an aggregated LEFT join on user_id (error minima per window), not
    a correlated per-row probe — all three stages share one key."""
    ev = _t(spark, sf_dir, "events")
    ev_us = ev.select("user_id", "event_type", ts_micros(ev, "ts").alias("ts_us"))
    s = (
        ev_us.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t_signup"))
    )
    p = (
        ev_us.where(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .where(F.col("ts_us") >= F.col("t_signup"))
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t_purchase"))
    )
    win = p.join(s, "user_id")
    errs = (
        ev_us.where(F.col("event_type") == "error")
        .join(win, "user_id")
        .where(
            (F.col("ts_us") > F.col("t_signup"))
            & (F.col("ts_us") < F.col("t_purchase"))
        )
        .select("user_id")
        .distinct()
        .withColumn("__has_err", F.lit(True))
    )
    return win.join(errs, "user_id", "left").select(
        "user_id",
        "t_signup",
        "t_purchase",
        F.coalesce(~F.col("__has_err"), F.lit(True)).alias("clean_path"),
    )


# ---------------------------------------------------------------------------
# Round-4 additions: CDC/SCD2, time-weighted stats, sliding distinct,
# corpus boilerplate, entropy, robust outliers, temperature sampling
# ---------------------------------------------------------------------------

@register(
    "snapshot_diff_orders",
    """
    WITH old AS (
      SELECT o_orderkey, o_totalprice, o_orderstatus
      FROM orders WHERE o_orderkey % 13 <> 3
    ), new AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 100.0
                  ELSE o_totalprice END AS o_totalprice,
             o_orderstatus
      FROM orders WHERE o_orderkey % 13 <> 7
    ), diff AS (
      SELECT CASE WHEN o.o_orderkey IS NULL THEN 'insert'
                  WHEN n.o_orderkey IS NULL THEN 'delete'
                  WHEN o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice
                       AND o.o_orderstatus IS NOT DISTINCT FROM n.o_orderstatus
                    THEN 'unchanged'
                  ELSE 'update' END AS change_type,
             o.o_totalprice AS old_p, n.o_totalprice AS new_p
      FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
    )
    SELECT change_type,
           count(*) AS n_keys,
           CAST(SUM(CAST(old_p AS DECIMAL(28,4))) AS DOUBLE) AS old_total,
           CAST(SUM(CAST(new_p AS DECIMAL(28,4))) AS DOUBLE) AS new_total
    FROM diff GROUP BY change_type
    """,
)
def q_snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC derivation: classify every order key across two simulated
    table snapshots (13th keys inserted, 7th deleted, every 5th price
    bumped) as insert/update/delete/unchanged via ONE full outer join
    (operators/cdc.py snapshot_diff), then roll the change stream up
    to per-class counts and decimal-exact totals. At 100 TB this diff
    is exchange-free when both snapshots are bucketed by the key."""
    from mapreducewordoccurences_spark.operators.cdc import snapshot_diff

    orders = _t(spark, sf_dir, "orders")
    base = orders.select("o_orderkey", "o_totalprice", "o_orderstatus")
    old = base.where(F.col("o_orderkey") % 13 != 3)
    new = base.where(F.col("o_orderkey") % 13 != 7).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 5 == 0, F.col("o_totalprice") + F.lit(100.0)
        ).otherwise(F.col("o_totalprice")),
    )
    diff = snapshot_diff(
        old, new, keys=["o_orderkey"], compare_cols=["o_totalprice", "o_orderstatus"]
    )
    return diff.groupBy("change_type").agg(
        F.count(F.lit(1)).alias("n_keys"),
        decimal_sum("old_o_totalprice", scale=4, alias="old_total"),
        decimal_sum("new_o_totalprice", scale=4, alias="new_total"),
    )


@register(
    "scd2_customer_priority",
    """
    WITH s AS (
      SELECT o_custkey, o_orderpriority,
             epoch_us(o_orderdate) AS obs_us, o_orderkey,
             CASE WHEN o_orderpriority IS DISTINCT FROM
                       lag(o_orderpriority) OVER (
                         PARTITION BY o_custkey
                         ORDER BY epoch_us(o_orderdate), o_orderkey)
                  THEN 1 ELSE 0 END AS chg
      FROM orders
    ), r AS (
      SELECT *, SUM(chg) OVER (PARTITION BY o_custkey
                               ORDER BY obs_us, o_orderkey
                               ROWS UNBOUNDED PRECEDING) AS run
      FROM s
    ), g AS (
      SELECT o_custkey, CAST(run AS INT) AS version,
             min(o_orderpriority) AS o_orderpriority,
             min(obs_us) AS valid_from,
             count(*) AS n_observations
      FROM r GROUP BY 1, 2
    )
    SELECT o_custkey, version, o_orderpriority, valid_from,
           lead(valid_from) OVER (PARTITION BY o_custkey ORDER BY version)
             AS valid_to,
           lead(valid_from) OVER (PARTITION BY o_custkey ORDER BY version)
             IS NULL AS is_current,
           n_observations
    FROM g
    """,
)
def q_scd2_customer_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension build (operators/cdc.py scd2_build): the
    order-priority history per customer collapsed into validity
    ranges (valid_from/valid_to epoch-µs, is_current) — the standard
    way a warehouse keeps every historical value of a slowly-changing
    attribute. Gaps-and-islands over one per-key shuffle."""
    from mapreducewordoccurences_spark.operators.cdc import scd2_build

    orders = _t(spark, sf_dir, "orders")
    log = orders.select(
        "o_custkey",
        "o_orderpriority",
        ts_micros(orders, "o_orderdate").alias("obs_us"),
        "o_orderkey",
    )
    return scd2_build(
        log, key="o_custkey", attr="o_orderpriority",
        order_col="obs_us", tiebreak="o_orderkey",
    ).withColumnRenamed("obs_us", "valid_from").select(
        "o_custkey", "version", "o_orderpriority", "valid_from",
        "valid_to", "is_current", "n_observations",
    )


@register(
    "time_weighted_avg_user_value",
    """
    WITH obs AS (
      SELECT user_id, epoch_us(ts) AS us, CAST(value AS DOUBLE) AS v,
             lead(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
               - epoch_us(ts) AS gap
      FROM events
    )
    SELECT user_id, count(*) AS n_obs,
           max(us) - min(us) AS span_us,
           CASE WHEN max(us) - min(us) > 0 THEN
             (sum(CAST(trunc(v * (gap / 1e6) * 1e6) AS BIGINT)) / 1e6)
               / ((max(us) - min(us)) / 1e6)
           END AS twa_value
    FROM obs GROUP BY user_id
    """,
)
def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of each user's value series
    (operators/timeseries.py time_weighted_avg): duration-weighted
    mean for irregular step-function metrics — the arithmetic mean
    over-weights bursty periods. Fixed-point sums keep it
    bit-portable; one shuffle shared by the window and the agg."""
    from mapreducewordoccurences_spark.operators.timeseries import time_weighted_avg

    return time_weighted_avg(
        _t(spark, sf_dir, "events"),
        key_col="user_id", ts_col="ts", value_col="value",
        tiebreak_col="event_id",
    )


@register(
    "sliding_distinct_users_3d",
    """
    WITH du AS (
      SELECT DISTINCT epoch_us(ts) // 86400000000 AS day, user_id FROM events
    ), days AS (SELECT DISTINCT day AS d FROM du)
    SELECT d AS day,
           count(DISTINCT user_id) AS n_users_3d,
           count(DISTINCT du.day) AS n_days_in_window
    FROM days JOIN du ON du.day BETWEEN days.d - 2 AND days.d
    GROUP BY d
    """,
)
def q_sliding_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct users over a trailing 3-day window per day —
    the sliding-window COUNT(DISTINCT) SQL windows can't express
    (no DISTINCT in window frames). Shape: pre-aggregate events to
    distinct (day, user) — the only event-scale shuffle — then
    range-join against the tiny day axis (broadcast; rows ∝ days,
    bounded by retention, not data volume) and count distinct per
    window. The approximate tier for wider windows is
    hll_partial_union_daily_users (mergeable sketch partials)."""
    events = _t(spark, sf_dir, "events")
    du = (
        events.select(ts_micros(events, "ts").alias("__us"), "user_id")
        .select(F.expr("__us div 86400000000").alias("day"), "user_id")
        .distinct()
    )
    days = du.select(F.col("day").alias("d")).distinct()
    joined = du.join(
        F.broadcast(days),
        (F.col("day") >= F.col("d") - 2) & (F.col("day") <= F.col("d")),
    )
    return (
        joined.groupBy("d")
        .agg(
            F.countDistinct("user_id").alias("n_users_3d"),
            F.countDistinct("day").alias("n_days_in_window"),
        )
        .select(F.col("d").alias("day"), "n_users_3d", "n_days_in_window")
    )


@register(
    "rolling_zscore_events",
    """
    WITH base AS (
      SELECT user_id, event_id, epoch_us(ts) AS us,
             CAST(value AS DOUBLE) AS v
      FROM events
    ), win AS (
      SELECT user_id, event_id, v,
             SUM(CAST(trunc(v * 1e6) AS BIGINT)) OVER w AS s1,
             SUM(CAST(trunc(v * v * 1e6) AS BIGINT)) OVER w AS s2,
             COUNT(*) OVER w AS cnt
      FROM base
      WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
                   ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
    )
    SELECT user_id, event_id, cnt AS n_window,
           CAST(ROUND((v - (s1 / 1e6) / cnt)
                      / sqrt((s2 / 1e6) / cnt
                             - ((s1 / 1e6) / cnt) * ((s1 / 1e6) / cnt)),
                      4) AS DOUBLE) AS zscore,
           abs((v - (s1 / 1e6) / cnt)
               / sqrt((s2 / 1e6) / cnt
                      - ((s1 / 1e6) / cnt) * ((s1 / 1e6) / cnt))) > 3
             AS is_anomaly
    FROM win
    WHERE cnt >= 8
      AND (s2 / 1e6) / cnt - ((s1 / 1e6) / cnt) * ((s1 / 1e6) / cnt) > 0
    """,
)
def q_rolling_zscore_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window anomaly detection: each event's value scored
    against the mean/stddev of its user's previous ≤24 events. The
    moments come from fixed-point integer window sums (exact,
    order-free); the closing mean/var/z arithmetic is a fixed double
    sequence both engines share, rounded to 4. The frame EXCLUDES the
    current row — standard for anomaly scoring (a spike must not
    inflate its own baseline). One per-user shuffle; window state is
    a 24-row ring — O(1) per row at any scale."""
    events = _t(spark, sf_dir, "events")
    base = events.select(
        "user_id",
        "event_id",
        ts_micros(events, "ts").alias("us"),
        F.col("value").cast("double").alias("v"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(-24, -1)
    )
    win = base.select(
        "user_id",
        "event_id",
        "v",
        F.sum(F.expr("CAST(v * 1e6 AS BIGINT)")).over(w).alias("s1"),
        F.sum(F.expr("CAST(v * v * 1e6 AS BIGINT)")).over(w).alias("s2"),
        F.count(F.lit(1)).over(w).alias("cnt"),
    )
    mean = (F.col("s1") / F.lit(1e6)) / F.col("cnt")
    var = (F.col("s2") / F.lit(1e6)) / F.col("cnt") - mean * mean
    z = (F.col("v") - mean) / F.sqrt(var)
    return (
        win.where((F.col("cnt") >= 8) & (var > 0))
        .select(
            "user_id",
            "event_id",
            F.col("cnt").alias("n_window"),
            F.round(z, 4).alias("zscore"),
            (F.abs(z) > 3).alias("is_anomaly"),
        )
    )


@register(
    "new_vs_returning_users_daily",
    """
    WITH du AS (
      SELECT DISTINCT epoch_us(ts) // 86400000000 AS day, user_id FROM events
    ), first_seen AS (
      SELECT user_id, min(day) AS first_day FROM du GROUP BY user_id
    )
    SELECT du.day,
           count(*) AS n_active,
           count(CASE WHEN f.first_day = du.day THEN 1 END) AS n_new,
           count(CASE WHEN f.first_day < du.day THEN 1 END) AS n_returning
    FROM du JOIN first_seen f USING (user_id)
    GROUP BY du.day
    """,
)
def q_new_vs_returning_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-vs-returning split per day — the product-analytics staple
    that needs each user's FIRST day joined back to their activity.
    Both the first-seen aggregate and the join are keyed user_id, so
    the two shuffles co-locate; the daily rollup is group-bounded.
    (Retention curves by signup week are the cohort variant:
    retention_cohorts_weekly.)"""
    events = _t(spark, sf_dir, "events")
    du = (
        events.select(
            ts_micros(events, "ts").alias("__us"), "user_id"
        )
        .select(F.expr("__us div 86400000000").alias("day"), "user_id")
        .distinct()
    )
    first_seen = du.groupBy("user_id").agg(F.min("day").alias("first_day"))
    return (
        du.join(first_seen, "user_id")
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_active"),
            F.count(F.when(F.col("first_day") == F.col("day"), 1)).alias("n_new"),
            F.count(F.when(F.col("first_day") < F.col("day"), 1)).alias(
                "n_returning"
            ),
        )
    )


@register(
    "interpurchase_time_stats",
    """
    WITH p AS (
      SELECT user_id, epoch_us(ts) AS us, event_id
      FROM events WHERE event_type = 'purchase'
    ), gaps AS (
      SELECT user_id,
             (us - lag(us) OVER (PARTITION BY user_id
                                 ORDER BY us, event_id)) // 1000000 AS gap_s
      FROM p
    )
    SELECT user_id,
           count(*) AS n_gaps,
           quantile_disc(gap_s, 0.5) AS median_gap_s,
           min(gap_s) AS min_gap_s,
           max(gap_s) AS max_gap_s
    FROM gaps WHERE gap_s IS NOT NULL
    GROUP BY user_id
    """,
)
def q_interpurchase_time_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event time distribution per user (purchase cadence):
    lag() gaps in integer seconds, then exact percentile_disc median
    — the robust center for heavy-tailed inter-arrival times. One
    per-user shuffle shared by the window and the aggregate."""
    events = _t(spark, sf_dir, "events")
    p = events.where(F.col("event_type") == "purchase").select(
        "user_id", ts_micros(events, "ts").alias("us"), "event_id"
    )
    gaps = p.select(
        "user_id",
        # floor() to match the oracle's `//`; gaps are non-negative (ordered
        # ascending) so div==floor today, but floor is the contract.
        F.floor(
            F.expr(
                "(us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id))"
            )
            / F.lit(1000000)
        )
        .cast("bigint")
        .alias("gap_s"),
    )
    return (
        gaps.where(F.col("gap_s").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            # cast: percentile_disc yields DOUBLE; integer-second input makes
            # the discrete percentile exactly a BIGINT like the oracle's
            # quantile_disc (same convention as time_to_convert_stats below).
            F.expr(
                "percentile_disc(0.5) WITHIN GROUP (ORDER BY gap_s)"
            )
            .cast("bigint")
            .alias("median_gap_s"),
            F.min("gap_s").alias("min_gap_s"),
            F.max("gap_s").alias("max_gap_s"),
        )
    )


@register(
    "event_transition_matrix",
    """
    WITH seq AS (
      SELECT event_type AS from_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY epoch_us(ts), event_id)
               AS to_type
      FROM events
    ), c AS (
      SELECT from_type, to_type, count(*) AS n_transitions
      FROM seq WHERE to_type IS NOT NULL
      GROUP BY 1, 2
    )
    SELECT from_type, to_type, n_transitions,
           n_transitions / SUM(n_transitions) OVER (PARTITION BY from_type)
             AS prob
    FROM c
    """,
)
def q_event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over each user's event
    sequence: P(next_type | type) — session-flow modeling, anomaly
    baselines, synthetic-trace generation all start here. One
    per-user shuffle for the lead(), one bounded-cardinality
    aggregation; the row-normalization window runs on the
    #types²-sized aggregate, not the events. The normalizing SUM is
    over integer counts (exact), prob is one int/int divide."""
    events = _t(spark, sf_dir, "events")
    seq = events.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type")
        .over(
            Window.partitionBy("user_id").orderBy(
                ts_micros(events, "ts"), F.col("event_id")
            )
        )
        .alias("to_type"),
    )
    c = (
        seq.where(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    w = Window.partitionBy("from_type")
    return c.select(
        "from_type",
        "to_type",
        "n_transitions",
        (F.col("n_transitions") / F.sum("n_transitions").over(w)).alias("prob"),
    )


@register(
    "weekly_churn_users",
    """
    WITH wu AS (
      SELECT DISTINCT epoch_us(ts) // 604800000000 AS week, user_id FROM events
    ), weeks AS (SELECT DISTINCT week FROM wu)
    SELECT wu.week,
           count(*) AS n_active,
           count(CASE WHEN nxt.user_id IS NULL
                        AND EXISTS (SELECT 1 FROM weeks w2
                                    WHERE w2.week = wu.week + 1)
                      THEN 1 END) AS n_churned,
           EXISTS (SELECT 1 FROM weeks w2 WHERE w2.week = wu.week + 1)
             AS has_next_week
    FROM wu LEFT JOIN wu nxt
      ON nxt.week = wu.week + 1 AND nxt.user_id = wu.user_id
    GROUP BY wu.week, has_next_week
    """,
)
def q_weekly_churn_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly churn: users active in week w with NO activity in week
    w+1 (only meaningful when week w+1 is observed — flagged). The
    churn probe is a self LEFT join of the distinct (week, user)
    table shifted by one week — both sides user-keyed, co-partitioned;
    nothing event-scale joins. Complements retention_cohorts_weekly
    (which tracks return-to-product from a signup cohort)."""
    events = _t(spark, sf_dir, "events")
    wu = (
        events.select(ts_micros(events, "ts").alias("__us"), "user_id")
        .select(F.expr("__us div 604800000000").alias("week"), "user_id")
        .distinct()
    )
    weeks = wu.select("week").distinct()
    nxt = wu.select((F.col("week") - 1).alias("week"), F.col("user_id").alias("u2"))
    has_next = weeks.select((F.col("week") - 1).alias("week")).distinct().withColumn(
        "has_next_week", F.lit(True)
    )
    joined = (
        wu.join(nxt, (wu["week"] == nxt["week"]) & (wu["user_id"] == nxt["u2"]), "left")
        .select(wu["week"].alias("week"), wu["user_id"].alias("user_id"), "u2")
        .join(F.broadcast(has_next), "week", "left")
        .select(
            "week",
            "user_id",
            "u2",
            F.coalesce("has_next_week", F.lit(False)).alias("has_next_week"),
        )
    )
    return joined.groupBy("week", "has_next_week").agg(
        F.count(F.lit(1)).alias("n_active"),
        F.count(
            F.when(F.col("u2").isNull() & F.col("has_next_week"), 1)
        ).alias("n_churned"),
    ).select("week", "n_active", "n_churned", "has_next_week")


@register(
    "forward_fill_last_purchase",
    """
    SELECT user_id, event_id,
           last_value(CASE WHEN event_type = 'purchase' THEN value END
                      IGNORE NULLS)
             OVER (PARTITION BY user_id
                   ORDER BY epoch_us(ts), event_id
                   ROWS UNBOUNDED PRECEDING) AS last_purchase_value,
           count(CASE WHEN event_type = 'purchase' THEN 1 END)
             OVER (PARTITION BY user_id
                   ORDER BY epoch_us(ts), event_id
                   ROWS UNBOUNDED PRECEDING) AS purchases_so_far
    FROM events
    """,
)
def q_forward_fill_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-known-state propagation: at every event, the user's most
    recent purchase value — ``last_value(... IGNORE NULLS)`` over a
    running frame, the SQL idiom for forward-fill/LOCF that
    event-sourced state reconstruction and feature backfills use
    constantly (NULL rows are the non-purchase events; the frame
    carries the last non-NULL forward). One per-user shuffle; both
    windows share the sort. Events before the first purchase yield
    NULL — correctly unknown, not zero."""
    events = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(ts_micros(events, "ts"), "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    purchase_val = F.when(F.col("event_type") == "purchase", F.col("value"))
    return events.select(
        "user_id",
        "event_id",
        F.last(purchase_val, ignorenulls=True).over(w).alias("last_purchase_value"),
        F.count(F.when(F.col("event_type") == "purchase", 1))
        .over(w)
        .alias("purchases_so_far"),
    )


@register(
    "user_value_trend",
    """
    WITH base AS (
      SELECT user_id,
             (epoch_us(ts) - 1704067200000000) / 86400000000.0 AS x,
             CAST(value AS DOUBLE) AS y
      FROM events
    ), m AS (
      SELECT user_id, count(*) AS n,
             sum(CAST(trunc(x * 1e6) AS BIGINT)) / 1e6 AS sx,
             sum(CAST(trunc(y * 1e6) AS BIGINT)) / 1e6 AS sy,
             sum(CAST(trunc(x * x * 1e6) AS BIGINT)) / 1e6 AS sxx,
             sum(CAST(trunc(x * y * 1e6) AS BIGINT)) / 1e6 AS sxy
      FROM base GROUP BY user_id
    )
    SELECT user_id, n,
           CAST(ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS DOUBLE)
             AS slope_per_day,
           CAST(ROUND(sy / n - ((n * sxy - sx * sy) / (n * sxx - sx * sx))
                                * (sx / n), 6) AS DOUBLE) AS intercept
    FROM m WHERE n >= 2 AND n * sxx - sx * sx > 0
    """,
)
def q_user_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user OLS trend (slope per day, intercept) of the value
    series — grouped closed-form regression, the "is this metric
    drifting per entity" primitive behind alerting and cohort health.
    x is days since 2024-01-01 (small magnitudes keep the fixed-point
    sums exact); the four moments are order-free long sums (corr
    protocol) in ONE grouped pass, and the slope algebra is a fixed
    double sequence. Degenerate series (n<2 or zero x-variance) are
    excluded. Complements the global ridge fit (functions/pca.py):
    that is one model over all rows, this is a million tiny models,
    one per key — no driver state either way."""
    events = _t(spark, sf_dir, "events")
    base = events.select(
        "user_id",
        ((ts_micros(events, "ts") - F.lit(1704067200000000)) / F.lit(86400000000.0)).alias("x"),
        F.col("value").cast("double").alias("y"),
    )
    fp = lambda c: F.expr(f"CAST(({c}) * 1e6 AS BIGINT)")  # noqa: E731
    m = base.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(fp("x")) / F.lit(1e6)).alias("sx"),
        (F.sum(fp("y")) / F.lit(1e6)).alias("sy"),
        (F.sum(fp("x * x")) / F.lit(1e6)).alias("sxx"),
        (F.sum(fp("x * y")) / F.lit(1e6)).alias("sxy"),
    )
    n, sx, sy, sxx, sxy = (F.col(c) for c in ("n", "sx", "sy", "sxx", "sxy"))
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return m.where((n >= 2) & (n * sxx - sx * sx > 0)).select(
        "user_id",
        "n",
        F.round(slope, 6).alias("slope_per_day"),
        F.round(sy / n - slope * (sx / n), 6).alias("intercept"),
    )


@register(
    "modal_event_type_per_user",
    """
    SELECT user_id, modal_type, modal_count, n_events FROM (
      SELECT user_id, event_type AS modal_type, n AS modal_count,
             SUM(n) OVER (PARTITION BY user_id) AS n_events,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY n DESC, event_type) AS rn
      FROM (SELECT user_id, event_type, count(*) AS n
            FROM events GROUP BY 1, 2))
    WHERE rn = 1
    """,
)
def q_modal_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic MODE per key: the most frequent event type per
    user, ties broken alphabetically — built-in mode() is
    tie-nondeterministic in a distributed engine, so the portable
    form is min_by over a (-count, value) struct on the grouped
    count. Two shuffles sharing the user_id prefix."""
    events = _t(spark, sf_dir, "events")
    counts = events.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    return counts.groupBy("user_id").agg(
        F.min_by(
            F.col("event_type"), F.struct((-F.col("n")).alias("nn"), "event_type")
        ).alias("modal_type"),
        F.max("n").alias("modal_count"),
        F.sum("n").alias("n_events"),
    )


@register(
    "monthly_revenue_growth",
    """
    WITH m AS (
      SELECT date_trunc('month', o_orderdate) AS month,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE) AS revenue,
             count(*) AS n_orders
      FROM orders GROUP BY 1
    )
    SELECT CAST(month AS DATE) AS month, n_orders, revenue,
           CAST(ROUND(revenue / lag(revenue) OVER (ORDER BY month) - 1, 6)
                AS DOUBLE) AS mom_growth
    FROM m
    """,
)
def q_monthly_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month growth: decimal-exact monthly revenue, then a
    lag() ratio on the MONTH-COUNT-sized aggregate (the unpartitioned
    window runs over dozens of rows, never data). First month's
    growth is NULL — unknown, not zero."""
    orders = _t(spark, sf_dir, "orders")
    m = orders.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).alias("month")
    ).agg(
        decimal_sum("o_totalprice", 4, "revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    # bounded axis: calendar months (one row per month of history)
    w = Window.partitionBy().orderBy("month")
    return m.select(
        F.col("month").cast("date").alias("month"),
        "n_orders",
        "revenue",
        F.round(F.col("revenue") / F.lag("revenue").over(w) - 1, 6).alias(
            "mom_growth"
        ),
    )


@register(
    "longest_activity_streak",
    """
    WITH du AS (
      SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events
    ), isl AS (
      SELECT user_id, day,
             day - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)
               AS island
      FROM du
    ), streaks AS (
      SELECT user_id, count(*) AS streak_days, min(day) AS streak_start
      FROM isl GROUP BY user_id, island
    )
    SELECT user_id, longest_streak, longest_streak_start, n_streaks FROM (
      SELECT user_id, streak_days AS longest_streak,
             streak_start AS longest_streak_start,
             COUNT(*) OVER (PARTITION BY user_id) AS n_streaks,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY streak_days DESC, streak_start) AS rn
      FROM streaks)
    WHERE rn = 1
    """,
)
def q_longest_activity_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user — the
    day - row_number() islands trick: consecutive days share a
    constant difference, so a plain groupBy collapses each run. All
    three stages (distinct days, island window, streak rollup) are
    user-keyed — one shuffle, no global ordering."""
    events = _t(spark, sf_dir, "events")
    du = (
        events.select(
            "user_id", ts_micros(events, "ts").alias("__us")
        )
        .select("user_id", F.expr("__us div 86400000000").alias("day"))
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("day")
    isl = du.select(
        "user_id", "day", (F.col("day") - F.row_number().over(w)).alias("island")
    )
    streaks = isl.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).alias("streak_days"), F.min("day").alias("streak_start")
    )
    return streaks.groupBy("user_id").agg(
        F.max("streak_days").alias("longest_streak"),
        F.min_by(
            F.col("streak_start"),
            F.struct((-F.col("streak_days")).alias("ns"), "streak_start"),
        ).alias("longest_streak_start"),
        F.count(F.lit(1)).alias("n_streaks"),
    )


@register(
    "session_conversion_rate",
    """
    WITH ordered AS (
        SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
               CASE WHEN epoch_us(ts) - LAG(epoch_us(ts))
                        OVER (PARTITION BY user_id
                              ORDER BY epoch_us(ts), event_id)
                    > 1800000000 THEN 1 ELSE 0 END AS is_new
        FROM events
    ), sessions AS (
        SELECT user_id, event_type,
               CAST(SUM(is_new) OVER (PARTITION BY user_id
                                      ORDER BY ts_us, event_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT)
                 AS session_id
        FROM ordered
    ), per_session AS (
        SELECT user_id, session_id,
               count(*) AS n_events,
               count(CASE WHEN event_type = 'view' THEN 1 END) > 0 AS has_view,
               count(CASE WHEN event_type = 'purchase' THEN 1 END) > 0
                 AS has_purchase
        FROM sessions GROUP BY 1, 2
    )
    SELECT count(*) AS n_sessions,
           count(CASE WHEN has_view THEN 1 END) AS n_with_view,
           count(CASE WHEN has_view AND has_purchase THEN 1 END) AS n_converted,
           count(CASE WHEN has_view AND has_purchase THEN 1 END)
             / count(CASE WHEN has_view THEN 1 END) AS view_to_purchase_rate,
           SUM(n_events) AS n_events_total
    FROM per_session
    """,
)
def q_session_conversion_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-scoped conversion: sessionize (30-min gaps), then the
    share of view-containing sessions that also purchased — the
    funnel restated at SESSION grain, where product analytics
    actually reports it (user-grain funnels over-credit returns days
    later). One user-keyed shuffle end-to-end: both windows, the
    per-session rollup, and the final count all reuse the same
    partitioning; the closing rate is one int/int divide."""
    events = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    ordered = events.select(
        "user_id", "event_id", "event_type", ts_micros(events, "ts").alias("ts_us")
    ).withColumn(
        "is_new",
        F.when(
            F.col("ts_us") - F.lag("ts_us").over(w) > 1_800_000_000, F.lit(1)
        ).otherwise(F.lit(0)),
    )
    sessions = ordered.withColumn(
        "session_id",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    per_session = sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.count(F.when(F.col("event_type") == "view", 1)) > 0).alias("has_view"),
        (F.count(F.when(F.col("event_type") == "purchase", 1)) > 0).alias(
            "has_purchase"
        ),
    )
    return per_session.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.count(F.when(F.col("has_view"), 1)).alias("n_with_view"),
        F.count(F.when(F.col("has_view") & F.col("has_purchase"), 1)).alias(
            "n_converted"
        ),
        (
            F.count(F.when(F.col("has_view") & F.col("has_purchase"), 1))
            / F.count(F.when(F.col("has_view"), 1))
        ).alias("view_to_purchase_rate"),
        F.sum("n_events").alias("n_events_total"),
    )


@register(
    "grouping_sets_distinct_users",
    """
    SELECT event_type,
           epoch_us(ts) // 86400000000 AS day,
           count(DISTINCT user_id) AS n_users,
           count(*) AS n_events
    FROM events
    GROUP BY GROUPING SETS ((event_type), (day), (event_type, day), ())
    """,
)
def q_grouping_sets_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-grain DISTINCT counts in one statement: distinct users by
    type, by day, by (type, day), and overall via GROUPING SETS — the
    expand operator replicates rows per grouping set and the distinct
    aggregation runs once, instead of four hand-written queries
    scanning four times. At 100 TB the expand multiplies the shuffle
    by #sets; that is still one scan versus four, and per-set
    partial distinct state is key-bounded."""
    events = _t(spark, sf_dir, "events")
    events.select(
        "event_type",
        ts_micros(events, "ts").alias("__us"),
        "user_id",
    ).selectExpr(
        "event_type", "__us div 86400000000 AS day", "user_id"
    ).createOrReplaceTempView("__gsd_events")
    return spark.sql(
        """
        SELECT event_type, day,
               count(DISTINCT user_id) AS n_users,
               count(*) AS n_events
        FROM __gsd_events
        GROUP BY GROUPING SETS ((event_type), (day), (event_type, day), ())
        """
    )


@register(
    "latest_event_per_user",
    """
    SELECT user_id, event_id, event_type, value FROM (
      SELECT user_id, event_id, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY epoch_us(ts) DESC, event_id DESC)
               AS rn
      FROM events)
    WHERE rn = 1
    """,
)
def q_latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Current-state snapshot: each user's most recent event — the
    single most common window query in any event store, and the read
    side of CDC latest-per-key (operators/merge.py latest_per_key is
    the same rank-1 shape keyed by version). Map-side
    WindowGroupLimit keeps one candidate row per user per partition
    BEFORE the shuffle, so the exchange carries users×partitions
    rows, not events."""
    from mapreducewordoccurences_spark.operators.merge import latest_per_key

    events = _t(spark, sf_dir, "events")
    # (ts, event_id) is unique per user; fold into one sortable struct
    # so latest_per_key's single version column applies
    keyed = events.select(
        "user_id",
        "event_id",
        "event_type",
        "value",
        F.struct(
            ts_micros(events, "ts").alias("us"), F.col("event_id").alias("eid")
        ).alias("__version"),
    )
    return latest_per_key(keyed, ["user_id"], "__version").select(
        "user_id", "event_id", "event_type", "value"
    )


@register(
    "session_window_batch_counts",
    """
    WITH ordered AS (
        SELECT user_id, event_id, epoch_us(ts) AS ts_us,
               CASE WHEN epoch_us(ts) - LAG(epoch_us(ts))
                        OVER (PARTITION BY user_id
                              ORDER BY epoch_us(ts), event_id)
                    > 1800000000 THEN 1 ELSE 0 END AS is_new
        FROM events
    ), sessions AS (
        SELECT user_id,
               SUM(is_new) OVER (PARTITION BY user_id
                                 ORDER BY ts_us, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_id
        FROM ordered
    )
    SELECT user_id,
           count(DISTINCT session_id) AS n_sessions,
           count(*) AS n_events
    FROM sessions GROUP BY user_id
    """,
)
def q_session_window_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's NATIVE session_window aggregation run in BATCH mode,
    cross-checked against the gaps-and-islands formulation (the
    oracle): both define a session break as a silence strictly longer
    than 30 minutes (session_window's half-open [ts, ts+gap) merge ≡
    islands' gap > 1800s; the testdata has no exact-1800s gap, probed
    at every sf). The same ``session_window`` operator runs unchanged
    on a streaming DataFrame with a watermark."""
    events = _t(spark, sf_dir, "events")
    ev = events.select(
        "user_id",
        F.timestamp_micros(ts_micros(events, "ts")).alias("__ts"),
    )
    per_session = ev.groupBy(
        "user_id", F.session_window("__ts", "30 minutes").alias("__w")
    ).agg(F.count(F.lit(1)).alias("n"))
    return per_session.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n").alias("n_events"),
    )


@register(
    "time_decayed_user_value",
    """
    WITH mx AS (SELECT max(epoch_us(ts)) AS t_max FROM events),
    w AS (
      SELECT user_id,
             exp(-((t_max - epoch_us(ts)) / 86400000000.0) / 7.0) AS wt,
             CAST(value AS DOUBLE) AS v
      FROM events CROSS JOIN mx
    )
    SELECT user_id,
           count(*) AS n_events,
           CAST(ROUND(SUM(CAST(trunc(wt * 1e8) AS BIGINT)) / 1e8, 6) AS DOUBLE)
             AS decayed_count,
           CAST(ROUND((SUM(CAST(trunc(wt * v * 1e6) AS BIGINT)) / 1e6)
                      / (SUM(CAST(trunc(wt * 1e8) AS BIGINT)) / 1e8), 6)
                AS DOUBLE) AS decayed_avg_value
    FROM w GROUP BY user_id
    """,
)
def q_time_decayed_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed counters (7-day half-life-style
    weighting, w = exp(-age_days/7) against the corpus horizon) — the
    recency-weighted engagement feature every ranking system keeps:
    decayed event count and decayed mean value per user. Unlike the
    sequential EWMA (order-sensitive recurrence), per-row decay
    weights are independent, so this is ONE grouped pass of
    fixed-point sums — order-free, mergeable across partitions and
    days (decayed counters update by multiplying the old sum by the
    elapsed decay and adding the new batch — the streaming form).
    The corpus max-timestamp is a broadcast scalar."""
    events = _t(spark, sf_dir, "events")
    mx = events.agg(F.max(ts_micros(events, "ts")).alias("t_max"))
    w = events.crossJoin(F.broadcast(mx)).select(
        "user_id",
        F.exp(
            -((F.col("t_max") - ts_micros(events, "ts")) / F.lit(86400000000.0))
            / F.lit(7.0)
        ).alias("wt"),
        F.col("value").cast("double").alias("v"),
    )
    return w.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(
            F.sum(F.expr("CAST(wt * 1e8 AS BIGINT)")) / F.lit(1e8), 6
        ).alias("decayed_count"),
        F.round(
            (F.sum(F.expr("CAST(wt * v * 1e6 AS BIGINT)")) / F.lit(1e6))
            / (F.sum(F.expr("CAST(wt * 1e8 AS BIGINT)")) / F.lit(1e8)),
            6,
        ).alias("decayed_avg_value"),
    )


@register(
    "seasonal_traffic_zscore",
    """
    WITH hourly AS (
      SELECT epoch_us(ts) // 3600000000 AS hour_bucket,
             (epoch_us(ts) // 3600000000) % 24 AS hour_of_day,
             count(*) AS n
      FROM events GROUP BY 1, 2
    ), season AS (
      SELECT hour_of_day,
             count(*) AS n_days,
             SUM(n) AS tot,
             SUM(n * n) AS tot2
      FROM hourly GROUP BY hour_of_day
    )
    SELECT h.hour_bucket, h.hour_of_day, h.n,
           CAST(ROUND(CAST(s.tot AS DOUBLE) / s.n_days, 4) AS DOUBLE)
             AS seasonal_mean,
           CAST(ROUND((h.n - CAST(s.tot AS DOUBLE) / s.n_days)
                      / sqrt(CAST(s.tot2 AS DOUBLE) / s.n_days
                             - (CAST(s.tot AS DOUBLE) / s.n_days)
                               * (CAST(s.tot AS DOUBLE) / s.n_days)),
                      4) AS DOUBLE) AS seasonal_z
    FROM hourly h JOIN season s USING (hour_of_day)
    WHERE s.n_days >= 3
      AND CAST(s.tot2 AS DOUBLE) / s.n_days
          - (CAST(s.tot AS DOUBLE) / s.n_days)
            * (CAST(s.tot AS DOUBLE) / s.n_days) > 0
    """,
)
def q_seasonal_traffic_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-aware traffic anomaly detection: each hour's event
    count scored against the SAME-HOUR-OF-DAY baseline across the
    history — the flat rolling window (rolling_zscore_events) flags
    every daily peak, this one only flags departures from the daily
    rhythm. Data-scale work is one hourly count; the seasonal moments
    and the scoring join run on the hour-axis (rows ∝ retention) —
    exact integer sums, closed-form double finish, round 4."""
    events = _t(spark, sf_dir, "events")
    hourly = (
        events.select(ts_micros(events, "ts").alias("__us"))
        .select(
            F.expr("__us div 3600000000").alias("hour_bucket"),
            F.expr("(__us div 3600000000) % 24").alias("hour_of_day"),
        )
        .groupBy("hour_bucket", "hour_of_day")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    season = hourly.groupBy("hour_of_day").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("n").alias("tot"),
        F.sum(F.col("n") * F.col("n")).alias("tot2"),
    )
    mean = F.col("tot").cast("double") / F.col("n_days")
    var = F.col("tot2").cast("double") / F.col("n_days") - mean * mean
    return (
        hourly.join(F.broadcast(season), "hour_of_day")
        .where((F.col("n_days") >= 3) & (var > 0))
        .select(
            "hour_bucket",
            "hour_of_day",
            "n",
            F.round(mean, 4).alias("seasonal_mean"),
            F.round((F.col("n") - mean) / F.sqrt(var), 4).alias("seasonal_z"),
        )
    )


@register(
    "event_trigram_paths",
    """
    WITH seq AS (
      SELECT event_type AS t1,
             lead(event_type, 1) OVER w AS t2,
             lead(event_type, 2) OVER w AS t3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    )
    SELECT t1, t2, t3, count(*) AS n_paths
    FROM seq WHERE t3 IS NOT NULL
    GROUP BY 1, 2, 3
    ORDER BY n_paths DESC, t1, t2, t3
    LIMIT 20
    """,
)
def q_event_trigram_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-2 path mining: the 20 most common three-step event
    sequences — the Sankey/user-flow view one step deeper than the
    Markov matrix (event_transition_matrix is order-1; real flows
    like view→click→purchase only show at order 2+). One per-user
    shuffle for both leads (shared window), a #types³-bounded
    aggregate, TakeOrderedAndProject for the top slice."""
    events = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        ts_micros(events, "ts"), F.col("event_id")
    )
    seq = events.select(
        F.col("event_type").alias("t1"),
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    )
    return (
        seq.where(F.col("t3").isNotNull())
        .groupBy("t1", "t2", "t3")
        .agg(F.count(F.lit(1)).alias("n_paths"))
        .orderBy(F.col("n_paths").desc(), "t1", "t2", "t3")
        .limit(20)
    )


@register(
    "attribution_last_touch_revenue",
    """
    WITH touched AS (
      SELECT event_type, value,
             last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id
                     ORDER BY epoch_us(ts), event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS channel
      FROM events
    )
    SELECT coalesce(channel, 'direct') AS channel,
           count(*) AS n_purchases,
           CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE) AS attributed_value
    FROM touched WHERE event_type = 'purchase'
    GROUP BY 1
    """,
)
def q_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: every purchase's value is credited to
    the user's most recent PRECEDING non-purchase event type (the
    'channel'), 'direct' when none — the marketing-analytics staple.
    One per-user window (IGNORE NULLS last_value over an
    unbounded-to-1-preceding frame) + a #channels-bounded aggregate;
    value sums go through the DECIMAL(28,4) portability protocol.
    Single shuffle on user_id, then a tiny groupBy."""
    events = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(ts_micros(events, "ts"), "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    channel = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    return (
        events.select("event_type", "value", channel.alias("channel"))
        .where(F.col("event_type") == "purchase")
        .groupBy(F.coalesce("channel", F.lit("direct")).alias("channel"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            decimal_sum("value", alias="attributed_value"),
        )
    )


@register(
    "overlapping_sessions_pairs",
    """
    WITH ordered AS (
        SELECT user_id, event_id, epoch_us(ts) AS ts_us,
               CASE WHEN epoch_us(ts) - LAG(epoch_us(ts))
                        OVER (PARTITION BY user_id
                              ORDER BY epoch_us(ts), event_id)
                    > 1800000000 THEN 1 ELSE 0 END AS is_new
        FROM events
    ), numbered AS (
        SELECT user_id, ts_us,
               SUM(is_new) OVER (PARTITION BY user_id
                                 ORDER BY ts_us, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_id
        FROM ordered
    ), sess AS (
        SELECT user_id, session_id,
               min(ts_us) AS start_us, max(ts_us) AS end_us
        FROM numbered GROUP BY 1, 2
    )
    SELECT a.user_id AS user_a, b.user_id AS user_b,
           count(*) AS n_overlapping_sessions
    FROM sess a JOIN sess b
      ON a.user_id < b.user_id
     AND a.start_us <= b.end_us AND b.start_us <= a.end_us
    GROUP BY 1, 2
    """,
)
def q_overlapping_sessions_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concurrent-usage analysis: for every user pair, how many of
    their 30-min-gap sessions overlapped in time. The oracle writes
    the textbook interval join (two range predicates, no equi-key) —
    which Spark would plan as a nested-loop/cartesian, the classic
    scale-killer the catalog's plan invariant forbids. The engine
    instead uses operators.joins.interval_overlap_join: sessions
    explode into 1-hour time buckets, the join is a plain EQUI-join
    on the bucket id (shuffled, AQE-sizable), duplicates from pairs
    sharing several buckets collapse on the session-id pair, and the
    exact overlap predicate runs as a cheap post-filter. Cost is
    data + interval/bucket fan-out, never |sessions|²."""
    from mapreducewordoccurences_spark.operators.joins import interval_overlap_join

    events = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        ts_micros(events, "ts"), F.col("event_id")
    )
    tus = ts_micros(events, "ts")
    ordered = events.select(
        "user_id",
        tus.alias("ts_us"),
        F.when(tus - F.lag(tus).over(w) > 1_800_000_000, 1)
        .otherwise(0)
        .alias("is_new"),
        F.col("event_id"),
    )
    numbered = ordered.select(
        "user_id",
        "ts_us",
        F.sum("is_new")
        .over(
            Window.partitionBy("user_id")
            .orderBy("ts_us", "event_id")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        .alias("session_id"),
    )
    sess = numbered.groupBy("user_id", "session_id").agg(
        F.min("ts_us").alias("start_us"), F.max("ts_us").alias("end_us")
    )
    a = sess.select(
        F.col("user_id").alias("user_a"),
        F.col("session_id").alias("sid_a"),
        F.col("start_us").alias("start_a"),
        F.col("end_us").alias("end_a"),
    )
    b = sess.select(
        F.col("user_id").alias("user_b"),
        F.col("session_id").alias("sid_b"),
        F.col("start_us").alias("start_b"),
        F.col("end_us").alias("end_b"),
    )
    pairs = interval_overlap_join(
        a,
        b,
        "start_a",
        "end_a",
        "start_b",
        "end_b",
        bucket_width=3_600_000_000,
        left_id=["user_a", "sid_a"],
        right_id=["user_b", "sid_b"],
    ).where(F.col("user_a") < F.col("user_b"))
    return pairs.groupBy("user_a", "user_b").agg(
        F.count(F.lit(1)).alias("n_overlapping_sessions")
    )


@register(
    "bitmap_distinct_users_weekly",
    """
    WITH daily AS (
      SELECT epoch_us(ts) // 86400000000 AS day, user_id FROM events
    )
    SELECT CAST(day // 7 AS BIGINT) AS week,
           count(DISTINCT user_id) AS n_users
    FROM daily GROUP BY 1
    """,
)
def q_bitmap_distinct_users_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT mergeable distinct via Spark's bitmap aggregate family
    (bitmap_bit_position / bitmap_construct_agg / bitmap_or_agg /
    bitmap_count) — the warehouse-native middle ground between exact
    count_distinct (two full shuffles, no reusable partials) and HLL
    sketches (mergeable but approximate): per-(day, bucket) bitmap
    partials are built once, OR-merge to any coarser grain (weeks
    here; months/quarters reuse the SAME partials), and the final
    count is exact. At scale the partials persist beside the data and
    every rollup window becomes a bitmap-OR over 4KB chunks instead
    of a rescan. The oracle states the semantic ground truth
    (count DISTINCT per week); matching it proves the partial → merge
    → count pipeline loses nothing."""
    events = _t(spark, sf_dir, "events")
    daily = events.select(
        (ts_micros(events, "ts") / F.lit(86400000000)).cast("long").alias("day"),
        "user_id",
    )
    partials = (
        daily.selectExpr(
            "CAST(day div 7 AS BIGINT) AS week",
            "bitmap_bucket_number(user_id) AS bkt",
            "bitmap_bit_position(user_id) AS pos",
        )
        .groupBy("week", "bkt")
        .agg(F.expr("bitmap_construct_agg(pos)").alias("bm"))
    )
    return (
        partials.groupBy("week", "bkt")
        .agg(F.expr("bitmap_or_agg(bm)").alias("bm"))
        .select("week", F.expr("bitmap_count(bm)").alias("c"))
        .groupBy("week")
        .agg(F.sum("c").alias("n_users"))
    )


@register(
    "pointintime_join_ship_priority",
    """
    WITH s AS (
      SELECT o_custkey, o_orderpriority,
             epoch_us(o_orderdate) AS obs_us, o_orderkey,
             CASE WHEN o_orderpriority IS DISTINCT FROM
                       lag(o_orderpriority) OVER (
                         PARTITION BY o_custkey
                         ORDER BY epoch_us(o_orderdate), o_orderkey)
                  THEN 1 ELSE 0 END AS chg
      FROM orders
    ), r AS (
      SELECT *, SUM(chg) OVER (PARTITION BY o_custkey
                               ORDER BY obs_us, o_orderkey
                               ROWS UNBOUNDED PRECEDING) AS run
      FROM s
    ), g AS (
      SELECT o_custkey, run, min(o_orderpriority) AS prio,
             min(obs_us) AS valid_from
      FROM r GROUP BY 1, 2
    ), hist AS (
      -- lead ordered by the RUN INDEX, not valid_from: two runs can
      -- share a valid_from (same-day priority flip), and the version
      -- order is what scd2_build uses — a valid_from tie ordered the
      -- other way flips which version covers the interval
      SELECT o_custkey, prio, valid_from,
             lead(valid_from) OVER (PARTITION BY o_custkey
                                    ORDER BY run) AS valid_to
      FROM g
    ), ship AS (
      SELECT o.o_custkey, epoch_us(l.l_shipdate) AS ship_us,
             l.l_extendedprice
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    )
    SELECT h.prio AS priority_as_of_ship,
           count(*) AS n_items,
           CAST(SUM(CAST(s.l_extendedprice AS DECIMAL(28,4))) AS DOUBLE)
             AS shipped_value
    FROM ship s JOIN hist h
      ON h.o_custkey = s.o_custkey
     AND s.ship_us >= h.valid_from
     AND (h.valid_to IS NULL OR s.ship_us < h.valid_to)
    GROUP BY 1
    """,
)
def q_pointintime_join_ship_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-TIME (temporal) join against an SCD2 history — the
    feature-store "as-was" pattern: every shipped line item picks up
    the customer's order-priority class that was VALID AT ship time
    (not today's value — that's label leakage in a training set).
    Composes scd2_build with a keyed validity-range join: the equi-key
    (custkey) carries the join, the range predicate selects the one
    valid version per row, and uniqueness of validity intervals
    guarantees exactly one match — so row count is preserved, which
    the oracle's count certifies. One history build (single per-key
    shuffle) + one keyed join; no interval explosion because validity
    ranges partition time per key."""
    from mapreducewordoccurences_spark.operators.cdc import scd2_build

    orders = _t(spark, sf_dir, "orders")
    lineitem = _t(spark, sf_dir, "lineitem")
    log = orders.select(
        "o_custkey",
        "o_orderpriority",
        ts_micros(orders, "o_orderdate").alias("obs_us"),
        "o_orderkey",
    )
    hist = scd2_build(
        log, key="o_custkey", attr="o_orderpriority",
        order_col="obs_us", tiebreak="o_orderkey",
    ).select(
        "o_custkey",
        F.col("o_orderpriority").alias("prio"),
        "valid_from",
        "valid_to",
    )
    ship = lineitem.join(
        orders.select("o_orderkey", "o_custkey"),
        lineitem.l_orderkey == orders.o_orderkey,
    ).select(
        "o_custkey",
        ts_micros(lineitem, "l_shipdate").alias("ship_us"),
        "l_extendedprice",
    )
    joined = ship.join(
        hist,
        (ship.o_custkey == hist.o_custkey)
        & (F.col("ship_us") >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (F.col("ship_us") < F.col("valid_to"))),
    )
    return joined.groupBy(F.col("prio").alias("priority_as_of_ship")).agg(
        F.count(F.lit(1)).alias("n_items"),
        decimal_sum("l_extendedprice", alias="shipped_value"),
    )


@register(
    "rfm_user_segments",
    """
    WITH agg AS (
      SELECT user_id,
             max(epoch_us(ts)) AS last_us,
             count(*) AS frequency,
             CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE) AS monetary
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ), qs AS (
      SELECT
        percentile_disc(0.25) WITHIN GROUP (ORDER BY last_us) AS r_q1,
        percentile_disc(0.50) WITHIN GROUP (ORDER BY last_us) AS r_q2,
        percentile_disc(0.75) WITHIN GROUP (ORDER BY last_us) AS r_q3,
        percentile_disc(0.25) WITHIN GROUP (ORDER BY frequency) AS f_q1,
        percentile_disc(0.50) WITHIN GROUP (ORDER BY frequency) AS f_q2,
        percentile_disc(0.75) WITHIN GROUP (ORDER BY frequency) AS f_q3,
        percentile_disc(0.25) WITHIN GROUP (ORDER BY monetary) AS m_q1,
        percentile_disc(0.50) WITHIN GROUP (ORDER BY monetary) AS m_q2,
        percentile_disc(0.75) WITHIN GROUP (ORDER BY monetary) AS m_q3
      FROM agg
    ), scored AS (
      SELECT
        CASE WHEN last_us >= r_q3 THEN 1 WHEN last_us >= r_q2 THEN 2
             WHEN last_us >= r_q1 THEN 3 ELSE 4 END AS r,
        CASE WHEN frequency >= f_q3 THEN 1 WHEN frequency >= f_q2 THEN 2
             WHEN frequency >= f_q1 THEN 3 ELSE 4 END AS f,
        CASE WHEN monetary >= m_q3 THEN 1 WHEN monetary >= m_q2 THEN 2
             WHEN monetary >= m_q1 THEN 3 ELSE 4 END AS m
      FROM agg, qs
    )
    SELECT r, f, m, count(*) AS n_users
    FROM scored GROUP BY r, f, m
    """,
)
def q_rfm_user_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — the marketing-analytics workhorse: each
    purchasing user quartile-scored on Recency (latest purchase),
    Frequency (purchase count), and Monetary (decimal-exact spend),
    then counted per (r, f, m) cell; score 1 = top quartile on that
    dimension.

    Scale design: an earlier formulation used three global ntile(4)
    windows — single-partition sorts over the whole user table, a
    scale-killer at billions of users. This one computes the three
    quartile boundaries ONCE with exact percentile_disc (verified to
    agree with DuckDB's at every tested n) in a regular aggregation,
    broadcasts the 1-row boundary table, and bands each user with
    embarrassingly-parallel comparisons — no global sort anywhere.
    Value-banding vs rank-banding: users tied on a boundary VALUE
    land in the same band (the defensible semantics; ntile split
    ties arbitrarily by user_id)."""
    events = _t(spark, sf_dir, "events")
    agg = (
        events.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.max(ts_micros(events, "ts")).alias("last_us"),
            F.count(F.lit(1)).alias("frequency"),
            decimal_sum("value", alias="monetary"),
        )
    )
    qs = agg.agg(
        *[
            F.expr(
                f"percentile_disc({p}) WITHIN GROUP (ORDER BY {c})"
            ).alias(f"{d}_q{i}")
            for c, d in (("last_us", "r"), ("frequency", "f"), ("monetary", "m"))
            for i, p in ((1, 0.25), (2, 0.50), (3, 0.75))
        ]
    )

    def band(c: str, d: str):
        return (
            F.when(F.col(c) >= F.col(f"{d}_q3"), 1)
            .when(F.col(c) >= F.col(f"{d}_q2"), 2)
            .when(F.col(c) >= F.col(f"{d}_q1"), 3)
            .otherwise(4)
            .alias(d)
        )

    scored = agg.crossJoin(F.broadcast(qs)).select(
        band("last_us", "r"), band("frequency", "f"), band("monetary", "m")
    )
    return scored.groupBy("r", "f", "m").agg(F.count(F.lit(1)).alias("n_users"))


@register(
    "time_to_convert_stats",
    """
    WITH s AS (
      SELECT user_id, min(epoch_us(ts)) AS signup_us
      FROM events WHERE event_type = 'signup' GROUP BY user_id
    ), p AS (
      SELECT e.user_id, min(epoch_us(e.ts)) AS first_purchase_us
      FROM events e JOIN s ON s.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= s.signup_us
      GROUP BY e.user_id
    ), lag AS (
      SELECT p.user_id, p.first_purchase_us - s.signup_us AS lag_us
      FROM p JOIN s ON s.user_id = p.user_id
    )
    SELECT count(*) AS n_converted,
           CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY lag_us) AS BIGINT)
             AS p50_lag_us,
           CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY lag_us) AS BIGINT)
             AS p90_lag_us,
           CAST(min(lag_us) AS BIGINT) AS min_lag_us,
           CAST(max(lag_us) AS BIGINT) AS max_lag_us
    FROM lag
    """,
)
def q_time_to_convert_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion latency distribution: time from each user's first
    signup to their first purchase AT OR AFTER it, summarized with
    discrete percentiles (percentile_disc returns actual data values
    — no cross-engine float interpolation). Two keyed aggregations +
    one broadcastable join; the percentile runs over the
    converted-users table (user-scale, not event-scale)."""
    events = _t(spark, sf_dir, "events")
    tus = ts_micros(events, "ts")
    s = (
        events.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(tus).alias("signup_us"))
    )
    p = (
        events.where(F.col("event_type") == "purchase")
        .select("user_id", tus.alias("pus"))
        .join(s, "user_id")
        .where(F.col("pus") >= F.col("signup_us"))
        .groupBy("user_id")
        .agg(
            F.min("pus").alias("first_purchase_us"),
            F.first("signup_us").alias("signup_us"),
        )
    )
    lag = p.select((F.col("first_purchase_us") - F.col("signup_us")).alias("lag_us"))
    return lag.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY lag_us)")
        .cast("bigint")
        .alias("p50_lag_us"),
        F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY lag_us)")
        .cast("bigint")
        .alias("p90_lag_us"),
        F.min("lag_us").cast("bigint").alias("min_lag_us"),
        F.max("lag_us").cast("bigint").alias("max_lag_us"),
    )
