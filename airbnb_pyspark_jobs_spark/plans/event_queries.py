"""Event-time analytics queries over `events` (batch), with oracles.

The tumbling-window query uses the SAME ``tumbling_agg`` operator the
streaming module runs under ``readStream`` — batch/stream parity is
asserted in tests/test_streaming.py.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from airbnb_pyspark_jobs_spark.operators.windows import (
    collect_transition_table,
    event_transitions,
    session_stats,
    sessionize,
    transition_counts,
    tumbling_agg,
)
from airbnb_pyspark_jobs_spark.functions.numeric import (
    decimal_py,
    decimal_ratio_round_py,
    decimal_ratio_round_sql,
    exact_mean_round_py,
    exact_mean_round_sql,
    round_half_up_py,
)
from airbnb_pyspark_jobs_spark.plans.queries import query, _dec, _money
from airbnb_pyspark_jobs_spark.sources.registry import load_table


# ---------------------------------------------------------------------------
# q60 tumbling 1-hour windows per event_type. Spark's epoch-aligned
# window(ts, '1 hour').start == date_trunc('hour', ts).
# ---------------------------------------------------------------------------
@query(
    "q60_events_tumbling_1h",
    oracle="""
    SELECT
      date_trunc('hour', ts) AS window_start,
      event_type,
      COUNT(*) AS n_events,
      CAST(ROUND(SUM(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q60_events_tumbling_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir)
    out = tumbling_agg(
        events.withColumn("value_dec", _dec("value", 12)),
        "1 hour",
        ["event_type"],
        [
            F.count(F.lit(1)).alias("n_events"),
            _money(F.sum("value_dec"), "total_value"),
        ],
    )
    return out.select("window_start", "event_type", "n_events", "total_value")


# ---------------------------------------------------------------------------
# q61 gap-based sessionization (30-minute inactivity) + per-session stats.
# Integer-microsecond durations keep the oracle exact.
# ---------------------------------------------------------------------------
@query(
    "q61_user_sessions",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_id, ts,
        CASE WHEN lag(ts) OVER w IS NULL THEN 1
             WHEN ts > lag(ts) OVER w + INTERVAL 30 MINUTE THEN 1
             ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, event_id, ts,
        CAST(SUM(new_session) OVER (
          PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
      FROM flagged
    )
    SELECT user_id, session_seq,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end,
           COUNT(*) AS n_events,
           CAST(epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS BIGINT) AS duration_us
    FROM sess
    GROUP BY user_id, session_seq
    """,
)
def q61_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir)
    return session_stats(sessionize(events, gap="30 minutes"))


# ---------------------------------------------------------------------------
# q62 sliding (hopping) windows: 1-hour windows every 30 minutes — each
# event contributes to exactly 2 windows. The oracle expands the overlap
# explicitly (UNION ALL of the two epoch-aligned 30-min offsets).
# ---------------------------------------------------------------------------
@query(
    "q62_events_sliding_1h_30m",
    oracle="""
    WITH w AS (
      SELECT time_bucket(INTERVAL '30 minutes', ts) AS window_start, event_type
      FROM events
      UNION ALL
      SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes', event_type
      FROM events
    )
    SELECT window_start, event_type, COUNT(*) AS n_events
    FROM w GROUP BY 1, 2
    """,
)
def q62_events_sliding_1h_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir)
    out = tumbling_agg(
        events,
        "1 hour",
        ["event_type"],
        [F.count(F.lit(1)).alias("n_events")],
        slide="30 minutes",
    )
    return out.select("window_start", "event_type", "n_events")


# ---------------------------------------------------------------------------
# q63 schema-on-read JSON: from_json with an explicit struct schema (vs
# q13's path extraction) — typed semi-structured decoding, JVM-side.
# ---------------------------------------------------------------------------
@query(
    "q63_props_from_json",
    oracle="""
    SELECT
      event_type,
      CAST(MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
      CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
      CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS DOUBLE)
        / COUNT(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS avg_k,
      COUNT(*) FILTER (WHERE json_extract_string(props, '$.k') IS NULL) AS n_missing
    FROM events
    GROUP BY event_type
    """,
)
def q63_props_from_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T

    events = load_table(spark, "events", sf_dir)
    schema = T.StructType([T.StructField("k", T.LongType())])
    parsed = events.select(
        "event_type", F.from_json("props", schema).alias("p")
    ).select("event_type", F.col("p.k").alias("k"))
    return parsed.groupBy("event_type").agg(
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
        (F.sum("k").cast("double") / F.count("k")).alias("avg_k"),
        F.sum(F.col("k").isNull().cast("long")).alias("n_missing"),
    )


# ---------------------------------------------------------------------------
# q64 keyed event dedup (batch twin of streaming_dedupe): the source is
# replayed with late +1-minute/value+1 duplicates, then deduped to one
# row per event_id keeping the earliest by (ts, value) — the
# deterministic batch semantics of dropDuplicatesWithinWatermark over a
# bounded source (state horizon = the replay delay). The oracle rebuilds
# the replay and the keep-first window; values prove the ORIGINAL rows
# (not the replayed mutations) survive.
# ---------------------------------------------------------------------------
@query(
    "q64_events_keyed_dedup",
    oracle="""
    WITH doubled AS (
      SELECT event_id, ts, user_id, event_type, value FROM events
      UNION ALL
      SELECT event_id, ts + INTERVAL 1 MINUTE, user_id, event_type, value + 1.0
      FROM events
    ),
    r AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY event_id ORDER BY ts ASC, value ASC) AS rn
      FROM doubled
    )
    SELECT event_id, ts, user_id, event_type, CAST(value AS DOUBLE) AS value
    FROM r WHERE rn = 1
    """,
)
def q64_events_keyed_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.operators.windows import keyed_dedupe

    events = load_table(spark, "events", sf_dir).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    replayed = events.select(
        "event_id",
        (F.col("ts") + F.expr("INTERVAL 1 MINUTE")).alias("ts"),
        "user_id",
        "event_type",
        (F.col("value") + F.lit(1.0)).alias("value"),
    )
    doubled = events.unionByName(replayed)
    return keyed_dedupe(doubled, keys=["event_id"], order_by=["ts", "value"])


# ---------------------------------------------------------------------------
# q65 HLL distinct-user rollup: per-day DataSketches-HLL sketches of
# user_id, merged via hll_union_agg into one estimate per event_type-
# agnostic day bucket — the store-sketches / rollup-without-rescan
# pattern for 100 TB distinct-count dashboards. NO value oracle by
# design: the sketch estimates are Spark-internal (DataSketches HLL)
# and not reproducible in DuckDB — the driver records the weaker
# rows-only check; estimate-vs-exact accuracy (and sketch mergeability)
# is asserted in tests/test_sketches.py instead. q98 (KMV) is the
# VALUE-ORACLED member of the family — same store/merge/rollup pattern
# with exact cross-engine replay.
# ---------------------------------------------------------------------------
@query("q65_hll_daily_users")
def q65_hll_daily_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.operators.sketches import (
        hll_daily_sketches,
        hll_merge_estimate,
    )

    events = load_table(spark, "events", sf_dir)
    daily = hll_daily_sketches(events, "ts", "user_id")
    # roll the per-day sketches up to ISO week WITHOUT touching events
    weekly = hll_merge_estimate(
        daily.withColumn("week", F.weekofyear("day")), group_cols=["week"]
    )
    return weekly.select("week", F.col("approx_distinct").cast("bigint").alias("approx_users"))


# ---------------------------------------------------------------------------
# q66 as-of join (operators/asof.asof_join): every purchase event gets
# the user's latest view event at-or-before it — one union + one
# partitioned window, ONE shuffle on the key (vs the O(n*m) range
# self-join the naive encoding runs). Views are first deduped per
# (user, ts) so the at-or-before pick is deterministic; the oracle uses
# DuckDB's native ASOF LEFT JOIN over the same deduped input.
# ---------------------------------------------------------------------------
@query(
    "q66_asof_view_before_purchase",
    oracle="""
    WITH v AS (
      SELECT user_id, ts, event_id FROM (
        SELECT user_id, ts, event_id,
               ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id) AS rn
        FROM events WHERE event_type = 'view'
      ) WHERE rn = 1
    ),
    p AS (SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'purchase')
    SELECT p.user_id, p.event_id, p.ts, CAST(p.value AS DOUBLE) AS value,
           v.ts AS ts_asof, v.event_id AS event_id_asof
    FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts
    """,
)
def q66_asof_view_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.operators.asof import asof_join
    from airbnb_pyspark_jobs_spark.operators.windows import keyed_dedupe

    events = load_table(spark, "events", sf_dir)
    views = keyed_dedupe(
        events.filter(F.col("event_type") == "view").select("user_id", "ts", "event_id"),
        keys=["user_id", "ts"],
        order_by=["event_id"],
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts", "value"
    )
    return asof_join(
        purchases, views, on="user_id", right_cols=["event_id"]
    )


# ---------------------------------------------------------------------------
# q67 ordered funnel: per user, the earliest view, the earliest click
# within 12 HOURS after that view, and the earliest purchase within
# 12 hours after that click — the strictly-ordered, time-bounded 3-step
# funnel (the bound makes stage counts genuinely shrink on this dense
# corpus). One groupBy per stage on the user key (conditional
# min-aggregates), no self-joins: stage timestamps chain through
# conditional aggregation over the SAME user partitioning.
# ---------------------------------------------------------------------------
@query(
    "q67_funnel_view_click_purchase",
    oracle="""
    WITH v AS (SELECT user_id, MIN(ts) AS t_view FROM events WHERE event_type = 'view' GROUP BY 1),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS t_click
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t_view
        AND e.ts <= v.t_view + INTERVAL 12 HOUR
      GROUP BY 1
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS t_purchase
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t_click
        AND e.ts <= c.t_click + INTERVAL 12 HOUR
      GROUP BY 1
    )
    SELECT
      CAST(COUNT(*) AS BIGINT) AS n_view,
      CAST(COUNT(c.t_click) AS BIGINT) AS n_view_click,
      CAST(COUNT(p.t_purchase) AS BIGINT) AS n_view_click_purchase
    FROM v
    LEFT JOIN c ON v.user_id = c.user_id
    LEFT JOIN p ON v.user_id = p.user_id
    """,
)
def q67_funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir)
    v = events.filter(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("ts").alias("t_view")
    )
    c = (
        events.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(
            (F.col("ts") > F.col("t_view"))
            & (F.col("ts") <= F.col("t_view") + F.expr("INTERVAL 12 HOUR"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        events.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(
            (F.col("ts") > F.col("t_click"))
            & (F.col("ts") <= F.col("t_click") + F.expr("INTERVAL 12 HOUR"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .agg(
            F.count(F.lit(1)).alias("n_view"),
            F.count("t_click").alias("n_view_click"),
            F.count("t_purchase").alias("n_view_click_purchase"),
        )
    )


# ---------------------------------------------------------------------------
# q68 retention cohorts: users grouped by their first-activity day
# (cohort), counted by how many distinct days-since-cohort they were
# active on — the day-N retention triangle. Two shuffles: first-day per
# user, then (cohort_day, day_offset) counts.
# ---------------------------------------------------------------------------
@query(
    "q68_retention_cohorts",
    oracle="""
    WITH first_day AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day FROM events GROUP BY 1
    ),
    activity AS (
      SELECT DISTINCT e.user_id, f.cohort_day,
             date_diff('day', f.cohort_day, CAST(e.ts AS DATE)) AS day_offset
      FROM events e JOIN first_day f ON e.user_id = f.user_id
    )
    SELECT CAST(cohort_day AS TIMESTAMP) AS cohort_day,
           CAST(day_offset AS BIGINT) AS day_offset,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM activity GROUP BY 1, 2
    """,
)
def q68_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir)
    first_day = events.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("cohort_day")
    )
    activity = (
        events.join(first_day, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff(F.to_date("ts"), F.col("cohort_day")).alias("day_offset"),
        )
        .distinct()
    )
    return activity.groupBy(
        F.col("cohort_day").cast("timestamp").alias("cohort_day"),
        F.col("day_offset").cast("bigint").alias("day_offset"),
    ).agg(F.count(F.lit(1)).alias("n_users"))


# ---------------------------------------------------------------------------
# q34 sparse-to-dense time series: per-user daily totals exploded onto
# each user's own date spine (sequence between first and last active
# day), absent days carried by a forward fill — last(value,
# ignorenulls) over a partitioned unbounded-preceding frame. The dense,
# gap-free series every downstream window/trend computation assumes.
# One shuffle for the daily aggregate; the spine explode is scan-side
# and the fill reuses the user partitioning.
# ---------------------------------------------------------------------------
@query(
    "q34_forward_filled_daily",
    oracle="""
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS d,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(ROUND(SUM(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS day_value
      FROM events GROUP BY 1, 2
    ),
    bounds AS (SELECT user_id, MIN(d) AS d0, MAX(d) AS d1 FROM daily GROUP BY 1),
    spine AS (
      SELECT user_id, CAST(UNNEST(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS d
      FROM bounds
    )
    SELECT s.user_id,
           CAST(s.d AS TIMESTAMP) AS day,
           COALESCE(daily.n_events, 0) AS n_events,
           last_value(daily.day_value IGNORE NULLS) OVER (
             PARTITION BY s.user_id ORDER BY s.d
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
    FROM spine s LEFT JOIN daily ON s.user_id = daily.user_id AND s.d = daily.d
    """,
)
def q34_forward_filled_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir)
    daily = events.groupBy(
        "user_id", F.to_date("ts").alias("d")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        _money(F.sum(_dec("value", 12)), "day_value"),
    )
    bounds = daily.groupBy("user_id").agg(
        F.min("d").alias("d0"), F.max("d").alias("d1")
    )
    spine = bounds.select(
        "user_id",
        F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias("d"),
    )
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(daily, ["user_id", "d"], "left")
        .select(
            "user_id",
            F.col("d").cast("timestamp").alias("day"),
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.last("day_value", ignorenulls=True).over(w).alias("filled_value"),
        )
    )


# ---------------------------------------------------------------------------
# q69 pre-purchase attribution via a NO-equi-key range join: for each
# purchase, the view events anywhere on the site in its preceding
# 1-hour window. A pure range predicate would plan as
# BroadcastNestedLoopJoin (O(|views|x|purchases|)); bucketed_range_join
# rewrites it as a hash-equi join on epoch-hour buckets with the exact
# predicate inside the join condition (asserted BNLJ-free in
# tests/test_plans.py). Bucket width = interval length -> each interval
# explodes to <= 2 bucket copies.
# ---------------------------------------------------------------------------
@query(
    "q69_purchase_attribution",
    oracle="""
    WITH p AS (
      SELECT event_id AS purchase_id,
             ts - INTERVAL 1 HOUR AS w_start, ts AS w_end
      FROM events WHERE event_type = 'purchase'
    ),
    v AS (
      SELECT user_id, ts FROM events WHERE event_type = 'view'
    )
    SELECT p.purchase_id,
           CAST(COUNT(*) AS BIGINT) AS n_views,
           CAST(COUNT(DISTINCT v.user_id) AS BIGINT) AS n_viewers
    FROM p JOIN v ON v.ts >= p.w_start AND v.ts < p.w_end
    GROUP BY p.purchase_id
    """,
)
def q69_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.operators.asof import bucketed_range_join

    events = load_table(spark, "events", sf_dir)
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        (F.col("ts") - F.expr("INTERVAL 1 HOUR")).alias("w_start"),
        F.col("ts").alias("w_end"),
    )
    views = events.filter(F.col("event_type") == "view").select(
        F.col("user_id"), F.col("ts")
    )
    joined = bucketed_range_join(
        views, purchases, "ts", "w_start", "w_end", bucket_seconds=3600
    )
    return joined.groupBy("purchase_id").agg(
        F.count(F.lit(1)).alias("n_views"),
        F.count_distinct("user_id").alias("n_viewers"),
    )


# ---------------------------------------------------------------------------
# q71 per-type value outliers in EXACT integer arithmetic: the z-score
# test cross-multiplied into DECIMAL(38,0)/HUGEINT so no float stddev
# ever exists and both engines flag the identical row set (float
# z-scores flip boundary rows on last-ulp summation differences). One
# group aggregate broadcast back + a scan-side filter.
# ---------------------------------------------------------------------------
@query(
    "q71_value_outliers",
    oracle="""
    WITH e AS (
      SELECT event_id, event_type,
             CAST(CAST(value AS DECIMAL(12,2)) * 100 AS HUGEINT) AS c,
             CAST(CAST(value AS DECIMAL(12,2)) AS DOUBLE) AS v
      FROM events
    ),
    st AS (
      SELECT event_type, CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM(c) AS HUGEINT) AS s, CAST(SUM(c * c) AS HUGEINT) AS ss
      FROM e GROUP BY 1
    )
    SELECT e.event_id, e.event_type, e.v AS value
    FROM e JOIN st USING (event_type)
    WHERE st.n >= 2
      AND (e.c * st.n - st.s) * (e.c * st.n - st.s) * (st.n - 1)
          > 9 * st.n * (st.n * ss - st.s * st.s)
    """,
)
def q71_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.operators.quality import exact_zscore_outliers

    events = load_table(spark, "events", sf_dir)
    flagged = exact_zscore_outliers(
        events.select("event_id", "event_type", "value"),
        group_cols=["event_type"],
        value_col="value",
        z=3,
    )
    return flagged.select(
        "event_id",
        "event_type",
        F.col("value").cast("decimal(12,2)").cast("double").alias("value"),
    )


# ---------------------------------------------------------------------------
# q79 VARIANT ingestion (Spark 4 open-schema path): parse_json once into
# a binary VARIANT column, then typed variant_get extraction — unlike
# q63's from_json, no up-front struct schema, and unlike q13's string
# paths, the JSON is parsed ONCE into a shreddable binary, not re-parsed
# per extraction. At 100 TB this is the storage/type model for evolving
# event payloads (new keys need no schema migration; typed gets stay
# JVM-side). try_variant_get returns NULL (never throws) on missing
# paths — the n_missing audit mirrors q63's.
# ---------------------------------------------------------------------------
@query(
    "q79_props_variant",
    oracle="""
    SELECT
      event_type,
      COUNT(*) AS n_events,
      CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
      COUNT(*) FILTER (WHERE json_extract_string(props, '$.k') IS NULL) AS n_missing,
      COUNT(DISTINCT CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_distinct_k
    FROM events
    GROUP BY event_type
    """,
)
def q79_props_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir)
    parsed = events.select(
        "event_type",
        F.try_variant_get(F.parse_json("props"), "$.k", "bigint").alias("k"),
    )
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("k").alias("sum_k"),
        F.max("k").alias("max_k"),
        F.sum(F.col("k").isNull().cast("long")).alias("n_missing"),
        F.count_distinct("k").alias("n_distinct_k"),
    )


# ---------------------------------------------------------------------------
# q98 KMV distinct sketch with a FULL value oracle — the answer to the
# sketch family's one rows-only gap (q65): a k-minimum-values sketch is
# just the k smallest md5-uniform hashes, so sketching, estimation AND
# the merge are replayed exactly in DuckDB. Output: one row per day
# (scope = ISO day) plus the merged rollup (scope = 'ALL'), each with
# the sketch fill, the k-th hash, the estimate and the exact distinct
# for error visibility. The merge row demonstrates closure: k smallest
# of the union of per-day sketches == the union's sketch. The merged
# window ranks ≤ days×k sketch rows — sketch-sized, never corpus-sized.
# ---------------------------------------------------------------------------
_KMV_K = 64


def _q98_oracle() -> str:
    return f"""
    WITH h AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day,
             CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT) AS hv
      FROM events
    ),
    r AS (
      SELECT day, hv,
             ROW_NUMBER() OVER (PARTITION BY day ORDER BY hv) AS rn,
             COUNT(*) OVER (PARTITION BY day) AS nd
      FROM h
    ),
    ed AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS ex
      FROM events GROUP BY 1
    ),
    daily AS (
      SELECT CAST(r.day AS VARCHAR) AS scope,
             CAST(LEAST(MAX(nd), {_KMV_K}) AS BIGINT) AS n_kept,
             MAX(CASE WHEN rn <= {_KMV_K} THEN hv END) AS kth_hash,
             round(CASE WHEN MAX(nd) < {_KMV_K} THEN CAST(MAX(nd) AS DOUBLE)
                        ELSE {_KMV_K - 1} * 4294967296.0
                             / CAST(MAX(CASE WHEN rn <= {_KMV_K} THEN hv END) AS DOUBLE)
                   END, 4) AS est_distinct,
             CAST(MAX(ed.ex) AS BIGINT) AS exact_distinct
      FROM r JOIN ed ON ed.day = r.day GROUP BY r.day
    ),
    mu AS (
      SELECT hv, ROW_NUMBER() OVER (ORDER BY hv) AS rn
      FROM (SELECT DISTINCT hv FROM r WHERE rn <= {_KMV_K})
    ),
    total AS (
      SELECT 'ALL' AS scope,
             CAST(LEAST(COUNT(*), {_KMV_K}) AS BIGINT) AS n_kept,
             MAX(CASE WHEN rn <= {_KMV_K} THEN hv END) AS kth_hash,
             round(CASE WHEN COUNT(*) < {_KMV_K} THEN CAST(COUNT(*) AS DOUBLE)
                        ELSE {_KMV_K - 1} * 4294967296.0
                             / CAST(MAX(CASE WHEN rn <= {_KMV_K} THEN hv END) AS DOUBLE)
                   END, 4) AS est_distinct,
             (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events) AS exact_distinct
      FROM mu WHERE rn <= {_KMV_K}
    )
    SELECT scope, n_kept, kth_hash, est_distinct, exact_distinct FROM daily
    UNION ALL
    SELECT scope, n_kept, kth_hash, est_distinct, exact_distinct FROM total
    """


@query("q98_kmv_distinct_users", oracle=_q98_oracle())
def q98_kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.operators.sketches import (
        kmv_daily_sketches,
        kmv_estimate,
        kmv_merge_estimate,
    )

    from airbnb_pyspark_jobs_spark.caching import owned_persist

    events = load_table(spark, "events", sf_dir)
    daily = owned_persist(kmv_daily_sketches(events, "ts", "user_id", k=_KMV_K))
    # exact_distinct means the same thing on every row: TRUE per-scope
    # COUNT(DISTINCT user_id) (the sketch's n_distinct_hashes can
    # undercount on 32-bit hash collisions, so it is not exposed here).
    exact_daily = events.groupBy(F.to_date("ts").alias("day")).agg(
        F.countDistinct("user_id").cast("bigint").alias("__exact")
    )
    per_day = daily.join(exact_daily, "day").select(
        F.col("day").cast("string").alias("scope"),
        F.size("kmv").cast("bigint").alias("n_kept"),
        F.element_at("kmv", F.least(F.size("kmv"), F.lit(_KMV_K))).alias("kth_hash"),
        kmv_estimate(F.col("kmv"), _KMV_K).alias("est_distinct"),
        F.col("__exact").alias("exact_distinct"),
    )
    exact_total = events.agg(
        F.countDistinct("user_id").cast("bigint").alias("exact_distinct")
    )
    merged = (
        kmv_merge_estimate(daily, k=_KMV_K)
        .crossJoin(F.broadcast(exact_total))
        .select(
            F.lit("ALL").alias("scope"),
            "n_kept",
            "kth_hash",
            "est_distinct",
            "exact_distinct",
        )
    )
    return per_day.unionByName(merged)


# ---------------------------------------------------------------------------
# q104 per-group exact quantiles of event values: the grouped form of
# q102 (operators/sketches.exact_quantiles_by) with ZERO driver
# actions — per-group (min, max, n) is a broadcast stats table and the
# target rank ceil(p·n_g) is a plan expression. Oracle = per-group
# ORDER BY + ROW_NUMBER; equality proves the range-bucketed two-phase
# decomposition per group.
# ---------------------------------------------------------------------------
_GQ_PROBS = [0.5, 0.9, 0.99]


def _q104_oracle() -> str:
    plist = ", ".join(str(p) for p in _GQ_PROBS)
    return f"""
    WITH v AS (
      SELECT event_type, CAST(value AS DOUBLE) AS value
      FROM events WHERE value IS NOT NULL
    ),
    r AS (
      SELECT event_type, value,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value) AS rank,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM v
    ),
    t AS (SELECT UNNEST([{plist}]) AS p)
    SELECT event_type, CAST(t.p AS DOUBLE) AS p,
           CAST(r.rank AS BIGINT) AS rank, r.value
    FROM t JOIN r
      ON r.rank = GREATEST(1, CAST(CEIL(CAST(t.p AS DOUBLE) * r.n) AS BIGINT))
    """


@query("q104_exact_quantiles_by_type", oracle=_q104_oracle())
def q104_exact_quantiles_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.operators.sketches import exact_quantiles_by

    events = load_table(spark, "events", sf_dir)
    return exact_quantiles_by(events, ["event_type"], "value", _GQ_PROBS)


# ---------------------------------------------------------------------------
# q109 mergeable quantile sketch rollup: bottom-k uniform row sample
# (the KMV recipe applied to quantiles — operators/sketches.
# bottomk_sample_sketches). Per-day sketches -> merge (closure: the k
# smallest (h, v) of the union of per-day sketches IS the union's
# sketch) -> quantile estimates at ceil(p*m), with error-vs-exact
# columns against the full-data q102-style rank quantile: abs value
# error and rank error (fraction of values <= estimate, minus p).
# Everything — hashing, per-day windows, merge, estimation, exact
# quantiles, error math — replays in DuckDB.
# ---------------------------------------------------------------------------
_QSK_K = 256
_QSK_PROBS = [0.1, 0.25, 0.5, 0.75, 0.9, 0.99]


def _q109_oracle() -> str:
    plist = ", ".join(str(p) for p in _QSK_PROBS)
    return f"""
    WITH h AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day,
             CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8) AS BIGINT) AS h,
             CAST(value AS DOUBLE) AS v
      FROM events WHERE value IS NOT NULL
    ),
    dr AS (
      SELECT day, h, v,
             ROW_NUMBER() OVER (PARTITION BY day ORDER BY h, v) AS rn
      FROM h
    ),
    mg AS (
      SELECT h, v, ROW_NUMBER() OVER (ORDER BY h, v) AS rn
      FROM (SELECT DISTINCT h, v FROM dr WHERE rn <= {_QSK_K})
    ),
    samp AS (
      SELECT v, h, ROW_NUMBER() OVER (ORDER BY v, h) AS vr, COUNT(*) OVER () AS m
      FROM mg WHERE rn <= {_QSK_K}
    ),
    probs AS (SELECT CAST(UNNEST([{plist}]) AS DOUBLE) AS p),
    est AS (
      SELECT probs.p, CAST(samp.m AS BIGINT) AS n_sample, samp.v AS est_value
      FROM probs JOIN samp
        ON samp.vr = GREATEST(1, CAST(CEIL(probs.p * samp.m) AS BIGINT))
    ),
    ex AS (
      SELECT v, ROW_NUMBER() OVER (ORDER BY v) AS r, COUNT(*) OVER () AS n
      FROM (SELECT CAST(value AS DOUBLE) AS v FROM events WHERE value IS NOT NULL)
    ),
    exq AS (
      SELECT probs.p, ex.v AS exact_value, ex.n
      FROM probs JOIN ex
        ON ex.r = GREATEST(1, CAST(CEIL(probs.p * ex.n) AS BIGINT))
    ),
    rk AS (
      SELECT est.p,
             CAST(SUM(CASE WHEN allv.v <= est.est_value THEN 1 ELSE 0 END) AS BIGINT) AS n_le
      FROM est, (SELECT CAST(value AS DOUBLE) AS v
                 FROM events WHERE value IS NOT NULL) allv
      GROUP BY est.p
    )
    SELECT est.p, est.n_sample, est.est_value, exq.exact_value,
           round(abs(est.est_value - exq.exact_value), 4) AS abs_err,
           round(abs(CAST(rk.n_le AS DOUBLE) / CAST(exq.n AS DOUBLE) - est.p), 6)
             AS rank_err
    FROM est JOIN exq ON est.p = exq.p JOIN rk ON rk.p = est.p
    """


@query("q109_quantile_sketch_rollup", oracle=_q109_oracle())
def q109_quantile_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.caching import owned_persist
    from airbnb_pyspark_jobs_spark.operators.sketches import (
        bottomk_sample_merge,
        bottomk_sample_sketches,
        exact_quantiles,
        sample_quantiles,
    )

    events = load_table(spark, "events", sf_dir)
    daily = bottomk_sample_sketches(events, "ts", "value", "event_id", k=_QSK_K)
    merged = bottomk_sample_merge(daily, k=_QSK_K)
    est = owned_persist(sample_quantiles(merged, _QSK_PROBS))
    exact = exact_quantiles(events, "value", _QSK_PROBS).select(
        "p", F.col("value").alias("exact_value")
    )
    vals = events.filter(F.col("value").isNotNull()).select(
        F.col("value").cast("double").alias("__v")
    )
    # rank error: fraction of the FULL data <= estimate (6 broadcast
    # rows x one scan — a broadcast-join aggregate, not a re-sort)
    rk = (
        vals.crossJoin(F.broadcast(est.select("p", "est_value")))
        .groupBy("p")
        .agg(
            F.sum((F.col("__v") <= F.col("est_value")).cast("bigint")).alias("__n_le"),
            F.count(F.lit(1)).alias("__n"),
        )
    )
    return (
        est.join(exact, "p")
        .join(rk, "p")
        .select(
            "p",
            "n_sample",
            "est_value",
            "exact_value",
            F.round(F.abs(F.col("est_value") - F.col("exact_value")), 4).alias(
                "abs_err"
            ),
            F.round(
                F.abs(
                    F.col("__n_le").cast("double") / F.col("__n").cast("double")
                    - F.col("p")
                ),
                6,
            ).alias("rank_err"),
        )
    )


# ---------------------------------------------------------------------------
# q110 heavy hitters via CMS shortlist + exact verify — the standard
# two-pass sketch pattern for "which keys dominate this 100 TB
# column" without a full-count groupBy retained: pass 1 builds d x w
# CMS counters from RAW event rows (weight 1 — the one-pass streaming
# shape); pass 2 estimates per distinct key and shortlists est >=
# ceil(support*N). One-sided error makes the shortlist a SUPERSET of
# the true heavy hitters (no false negatives), so the exact
# verification aggregate only touches shortlist keys. w=64 over 150
# keys guarantees visible collisions: false positives (true_hh =
# false) appear in the output and are labeled, not hidden.
# ---------------------------------------------------------------------------
_HH_D, _HH_W = 4, 64
_HH_SUPPORT = 0.008


def _q110_oracle() -> str:
    rs = ", ".join(str(r) for r in range(_HH_D))
    return f"""
    WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM events),
    tf AS (
      SELECT CAST(user_id AS VARCHAR) AS key,
             CAST(COUNT(*) AS BIGINT) AS exact_count
      FROM events GROUP BY 1
    ),
    pairs AS (
      SELECT key, exact_count, r,
             CAST('0x' || substr(md5('cms' || r || key), 1, 8) AS BIGINT)
               % {_HH_W} AS b
      FROM tf, (SELECT UNNEST([{rs}]) AS r) t
    ),
    counters AS (
      SELECT r, b, CAST(SUM(exact_count) AS BIGINT) AS cnt
      FROM pairs GROUP BY r, b
    ),
    est AS (
      SELECT key, exact_count, CAST(MIN(cnt) AS BIGINT) AS cms_est
      FROM pairs JOIN counters USING (r, b) GROUP BY key, exact_count
    ),
    thr AS (
      SELECT CAST(CEIL(n * CAST({_HH_SUPPORT} AS DOUBLE)) AS BIGINT) AS threshold
      FROM n
    )
    SELECT CAST(key AS BIGINT) AS user_id, cms_est, exact_count,
           exact_count >= threshold AS true_hh, threshold
    FROM est, thr WHERE cms_est >= threshold
    """


@query("q110_heavy_hitters", oracle=_q110_oracle())
def q110_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.caching import owned_persist
    from airbnb_pyspark_jobs_spark.operators.sketches import (
        cms_counters,
        cms_estimates,
    )

    events = load_table(spark, "events", sf_dir)
    keyed = events.select(
        F.col("user_id").cast("string").alias("key"), F.lit(1).alias("one")
    )
    # counters from RAW rows (weight 1): the one-pass build — no
    # per-key pre-aggregation needed to maintain the sketch
    counters = cms_counters(keyed, "key", "one", d=_HH_D, w=_HH_W)
    thr = F.broadcast(
        events.agg(
            F.ceil(
                F.count(F.lit(1)).cast("bigint") * F.lit(float(_HH_SUPPORT))
            )
            .cast("bigint")
            .alias("threshold")
        )
    )
    est = cms_estimates(
        keyed.select("key").distinct(), counters, "key", d=_HH_D, w=_HH_W
    )
    cands = owned_persist(
        est.crossJoin(thr).filter(F.col("cms_est") >= F.col("threshold"))
    )
    # exact verification touches ONLY shortlist keys (semi-join +
    # shortlist-sized aggregation)
    exact = (
        keyed.join(cands.select("key"), "key", "left_semi")
        .groupBy("key")
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_count"))
    )
    return cands.join(exact, "key").select(
        F.col("key").cast("bigint").alias("user_id"),
        "cms_est",
        "exact_count",
        (F.col("exact_count") >= F.col("threshold")).alias("true_hh"),
        "threshold",
    )


# ---------------------------------------------------------------------------
# q114 winsorized robust stats per event type: p01/p99 from the
# in-plan grouped exact-quantile rank (the q104 machinery), values
# clamped to the band, and mean/variance BEFORE vs AFTER computed in
# exact integer cents (the q71 no-float-stddev pattern: sums and
# sums-of-squares of 2-decimal values are exact BIGINTs, aggregation-
# order independent; one double division at the end). The standard
# feature-engineering / DQ step between ingestion and model input —
# a rank pass + one scan, no per-group value buffers.
# ---------------------------------------------------------------------------
_WZ_LO, _WZ_HI = 0.01, 0.99


def _q114_oracle() -> str:
    return f"""
    WITH v AS (
      SELECT event_type, CAST(value AS DOUBLE) AS v
      FROM events WHERE value IS NOT NULL
    ),
    r AS (
      SELECT event_type, v,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY v) AS rank,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM v
    ),
    b AS (
      SELECT event_type,
             MAX(CASE WHEN rank = GREATEST(1, CAST(CEIL({_WZ_LO} * n) AS BIGINT))
                 THEN v END) AS p01,
             MAX(CASE WHEN rank = GREATEST(1, CAST(CEIL({_WZ_HI} * n) AS BIGINT))
                 THEN v END) AS p99
      FROM r GROUP BY event_type
    ),
    c AS (
      SELECT v.event_type,
             CAST(round(v.v * 100) AS BIGINT) AS rc,
             CAST(round(GREATEST(b.p01, LEAST(b.p99, v.v)) * 100) AS BIGINT) AS wc,
             CAST(v.v < b.p01 OR v.v > b.p99 AS INT) AS clamped,
             b.p01, b.p99
      FROM v JOIN b ON v.event_type = b.event_type
    ),
    a AS (
      SELECT event_type, MAX(p01) AS p01, MAX(p99) AS p99,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(clamped) AS BIGINT) AS n_clamped,
             CAST(SUM(rc) AS BIGINT) AS sr, CAST(SUM(rc * rc) AS BIGINT) AS qr,
             CAST(SUM(wc) AS BIGINT) AS sw, CAST(SUM(wc * wc) AS BIGINT) AS qw
      FROM c GROUP BY event_type
    )
    SELECT event_type, n, n_clamped, p01, p99,
           round(CAST(sr AS DOUBLE) / CAST(n * 100 AS DOUBLE), 6) AS mean_raw,
           round(CAST(sw AS DOUBLE) / CAST(n * 100 AS DOUBLE), 6) AS mean_winsorized,
           round(CAST(n * qr - sr * sr AS DOUBLE)
                 / CAST(n * n AS DOUBLE) / 10000.0, 6) AS var_raw,
           round(CAST(n * qw - sw * sw AS DOUBLE)
                 / CAST(n * n AS DOUBLE) / 10000.0, 6) AS var_winsorized
    FROM a
    """


@query("q114_winsorized_stats", oracle=_q114_oracle())
def q114_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.operators.sketches import exact_quantiles_by

    events = load_table(spark, "events", sf_dir)
    q = exact_quantiles_by(events, ["event_type"], "value", [_WZ_LO, _WZ_HI])
    bounds = q.groupBy("event_type").agg(
        F.max(F.when(F.col("p") == _WZ_LO, F.col("value"))).alias("p01"),
        F.max(F.when(F.col("p") == _WZ_HI, F.col("value"))).alias("p99"),
    )
    v = events.filter(F.col("value").isNotNull()).select(
        "event_type", F.col("value").cast("double").alias("v")
    )
    c = v.join(F.broadcast(bounds), "event_type").select(
        "event_type",
        "p01",
        "p99",
        F.round(F.col("v") * 100).cast("bigint").alias("rc"),
        F.round(F.greatest("p01", F.least("p99", F.col("v"))) * 100)
        .cast("bigint")
        .alias("wc"),
        ((F.col("v") < F.col("p01")) | (F.col("v") > F.col("p99")))
        .cast("int")
        .alias("clamped"),
    )
    a = c.groupBy("event_type").agg(
        F.max("p01").alias("p01"),
        F.max("p99").alias("p99"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("clamped").cast("bigint").alias("n_clamped"),
        F.sum("rc").cast("bigint").alias("sr"),
        F.sum(F.col("rc") * F.col("rc")).cast("bigint").alias("qr"),
        F.sum("wc").cast("bigint").alias("sw"),
        F.sum(F.col("wc") * F.col("wc")).cast("bigint").alias("qw"),
    )
    n, d = F.col("n"), F.col("n").cast("double")
    return a.select(
        "event_type",
        "n",
        "n_clamped",
        "p01",
        "p99",
        F.round(F.col("sr").cast("double") / (d * 100.0), 6).alias("mean_raw"),
        F.round(F.col("sw").cast("double") / (d * 100.0), 6).alias("mean_winsorized"),
        F.round(
            (n * F.col("qr") - F.col("sr") * F.col("sr")).cast("double")
            / (d * d)
            / 10000.0,
            6,
        ).alias("var_raw"),
        F.round(
            (n * F.col("qw") - F.col("sw") * F.col("sw")).cast("double")
            / (d * d)
            / 10000.0,
            6,
        ).alias("var_winsorized"),
    )


# ---------------------------------------------------------------------------
# q119 peak interval concurrency per event type (sweep-line max):
# each event spans [ts, ts + 5 min); the Spark side runs the
# two-phase bucketed prefix sum (hour-bucket windows + tiny
# bucket-offset window — no global per-type sort), the oracle the
# textbook single running sum; equality proves the decomposition.
# Ties: ends (-1) before starts (+1) at the same instant, default
# RANGE frame on both engines.
# ---------------------------------------------------------------------------
@query(
    "q119_max_concurrency",
    oracle="""
    WITH iv AS (
      SELECT event_type, ts AS st, ts + INTERVAL 5 MINUTE AS en FROM events
    ),
    pts AS (
      SELECT event_type, st AS t, 1 AS d FROM iv
      UNION ALL
      SELECT event_type, en AS t, -1 AS d FROM iv
    ),
    c AS (
      SELECT event_type, t,
             SUM(d) OVER (PARTITION BY event_type ORDER BY t, d) AS conc
      FROM pts
    ),
    m AS (
      SELECT event_type, CAST(MAX(conc) AS BIGINT) AS max_concurrent
      FROM c GROUP BY event_type
    )
    SELECT c.event_type, m.max_concurrent, MIN(c.t) AS peak_ts
    FROM c JOIN m ON c.event_type = m.event_type
                 AND c.conc = m.max_concurrent
    GROUP BY c.event_type, m.max_concurrent
    """,
)
def q119_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.operators.windows import max_concurrency

    events = load_table(spark, "events", sf_dir)
    return max_concurrency(
        events,
        "event_type",
        start_col=F.col("ts"),
        end_col=F.col("ts") + F.expr("INTERVAL 5 MINUTES"),
    )


# ---------------------------------------------------------------------------
# q128 exact tie-corrected Spearman rank correlation per event type
# (value vs event time): the textbook tie-corrected formula evaluated
# in INTEGER rank algebra (ranks ×2, S-terms ×12) so the only float
# ops are exactly-representable casts, two IEEE sqrts and one
# division — the libm-safe recipe. The oracle replays the identical
# cumulative-count rank construction.
# ---------------------------------------------------------------------------
@query(
    "q128_spearman_by_type",
    oracle="""
    WITH base AS (
      SELECT event_type AS g, value AS x, epoch_us(ts) AS y FROM events
    ),
    vx AS (SELECT g, x, COUNT(*) AS c FROM base GROUP BY g, x),
    ax AS (
      SELECT g, x, c,
             CAST(2 * COALESCE(SUM(c) OVER (
               PARTITION BY g ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             + c + 1 AS BIGINT) AS a2
      FROM vx
    ),
    vy AS (SELECT g, y, COUNT(*) AS c FROM base GROUP BY g, y),
    ay AS (
      SELECT g, y, c,
             CAST(2 * COALESCE(SUM(c) OVER (
               PARTITION BY g ORDER BY y
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             + c + 1 AS BIGINT) AS a2
      FROM vy
    ),
    rows_ AS (
      SELECT b.g, ax.a2 AS a2x, ay.a2 AS a2y
      FROM base b
      JOIN ax ON b.g = ax.g AND b.x = ax.x
      JOIN ay ON b.g = ay.g AND b.y = ay.y
    ),
    dd AS (
      SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM((a2x - a2y) * (a2x - a2y)) AS BIGINT) AS d2s
      FROM rows_ GROUP BY g
    ),
    tx AS (SELECT g, CAST(SUM(c*c*c - c) AS BIGINT) AS t FROM ax GROUP BY g),
    ty AS (SELECT g, CAST(SUM(c*c*c - c) AS BIGINT) AS t FROM ay GROUP BY g),
    fin AS (
      SELECT dd.g, dd.n,
             (dd.n * dd.n * dd.n - dd.n) - tx.t AS sx,
             (dd.n * dd.n * dd.n - dd.n) - ty.t AS sy,
             dd.d2s
      FROM dd JOIN tx ON dd.g = tx.g JOIN ty ON dd.g = ty.g
    )
    SELECT g AS event_type, n,
           CASE WHEN sx > 0 AND sy > 0 THEN
             round(CAST(sx + sy - 3 * d2s AS DOUBLE)
                   / (CAST(2.0 AS DOUBLE)
                      * sqrt(CAST(sx AS DOUBLE)) * sqrt(CAST(sy AS DOUBLE))), 9)
           END AS spearman_rho
    FROM fin
    """,
)
def q128_spearman_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.operators.sketches import grouped_spearman

    events = load_table(spark, "events", sf_dir)
    return grouped_spearman(
        events, "event_type", F.col("value"), F.unix_micros("ts")
    )


# ---------------------------------------------------------------------------
# q130 exponential time-decay totals per event type (half-life 7
# days, anchored at the newest event day): the recency-weighting
# aggregate of feature pipelines. The per-day factor table is a
# once-computed rounded DECIMAL inlined into BOTH engines (fractional
# pow is not cross-engine exact; see q113) — every product and sum is
# then exact decimal arithmetic.
# ---------------------------------------------------------------------------
def _q130_oracle() -> str:
    from airbnb_pyspark_jobs_spark.operators.windows import decay_factor_table

    vals = ", ".join(
        f"({a}, CAST({f} AS DECIMAL(18,9)))"
        for a, f in decay_factor_table(7.0, 128)
    )
    return f"""
    WITH fac(age, f) AS (VALUES {vals}),
    base AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(value AS DECIMAL(12,2)) AS v
      FROM events
    ),
    anchor AS (SELECT MAX(CAST(ts AS DATE)) AS a FROM events),
    aged AS (
      SELECT b.event_type, b.v,
             date_diff('day', b.d, anchor.a) AS age
      FROM base b, anchor
    )
    SELECT aged.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           round(CAST(SUM(aged.v * COALESCE(fac.f, CAST(0 AS DECIMAL(18,9))))
                      AS DOUBLE), 6) AS decayed_sum
    FROM aged LEFT JOIN fac ON aged.age = fac.age
    GROUP BY aged.event_type
    """


@query("q130_time_decayed_totals", oracle=_q130_oracle())
def q130_time_decayed_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.operators.windows import time_decayed_sum

    events = load_table(spark, "events", sf_dir)
    return time_decayed_sum(
        events, "event_type", half_life_days=7.0, max_age_days=128
    )


# ---------------------------------------------------------------------------
# q131 event-type transition matrix (first-order Markov): consecutive
# same-user pairs under deterministic (ts, event_id) ordering, counts
# + row-normalized probabilities. Lag window partitioned by user;
# output is |types|^2.
# ---------------------------------------------------------------------------
@query(
    "q131_event_transitions",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type AS to_type,
             LAG(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS from_type
      FROM events
    ),
    counts AS (
      SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM ordered WHERE from_type IS NOT NULL
      GROUP BY from_type, to_type
    ),
    totals AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS t
               FROM counts GROUP BY from_type)
    SELECT c.from_type, c.to_type, c.n,
           round(CAST(c.n AS DOUBLE) / CAST(t.t AS DOUBLE), 6) AS p
    FROM counts c JOIN totals t ON c.from_type = t.from_type
    """,
)
def q131_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir)
    return event_transitions(events)


# ---------------------------------------------------------------------------
# q133 per-type value trend (exact-moment OLS): regress value (cents)
# on event age in days. All five moment sums are exact BIGINTs; R²
# squares go through DECIMAL(38,0); floats appear only in the final
# fixed-order divisions.
# ---------------------------------------------------------------------------
@query(
    "q133_value_trends",
    oracle="""
    WITH anchor AS (SELECT MAX(CAST(ts AS DATE)) AS a FROM events),
    base AS (
      SELECT event_type AS g,
             CAST(date_diff('day', CAST(ts AS DATE), anchor.a) AS BIGINT) AS x,
             CAST(round(value * 100) AS BIGINT) AS y
      FROM events, anchor
    ),
    m AS (
      SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x*y) AS BIGINT) AS sxy,
             CAST(SUM(x*x) AS BIGINT) AS sxx,
             CAST(SUM(y*y) AS BIGINT) AS syy
      FROM base GROUP BY g
    ),
    d AS (
      SELECT g, n, sx, sy,
             n*sxy - sx*sy AS num, n*sxx - sx*sx AS dx, n*syy - sy*sy AS dy
      FROM m
    )
    SELECT g AS event_type, n,
           CASE WHEN dx > 0 THEN
             round(CAST(num AS DOUBLE) / CAST(dx AS DOUBLE), 9) END
             + CAST(0 AS DOUBLE) AS slope_cents,
           CASE WHEN dx > 0 THEN
             round((CAST(sy AS DOUBLE)
                    - (CAST(num AS DOUBLE) / CAST(dx AS DOUBLE))
                      * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 9) END
             + CAST(0 AS DOUBLE) AS intercept_cents,
           CASE WHEN dx > 0 AND dy > 0 THEN
             round((CAST(num AS DOUBLE) / CAST(dx AS DOUBLE))
                   * (CAST(num AS DOUBLE) / CAST(dy AS DOUBLE)), 9)
             END + CAST(0 AS DOUBLE) AS r2
    FROM d
    """,
)
def q133_value_trends(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.operators.sketches import grouped_trend

    events = load_table(spark, "events", sf_dir)
    anchor = events.agg(F.max(F.to_date("ts")).alias("__a"))
    base = events.crossJoin(F.broadcast(anchor))
    return grouped_trend(
        base,
        "event_type",
        x_col=F.datediff(F.col("__a"), F.to_date("ts")),
        y_cents=F.round(F.col("value") * 100),
    )


# ---------------------------------------------------------------------------
# q134 linear interpolation across daily gaps (per user): the
# straight-line companion to q34's LOCF fill. Consecutive observed
# days bound each segment; interpolated values use one fixed
# double-op order; k=0 rows return the observed value bit-for-bit.
# ---------------------------------------------------------------------------
@query(
    "q134_linear_interpolation",
    oracle="""
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS d,
             CAST(ROUND(SUM(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS v
      FROM events GROUP BY 1, 2
    ),
    seg AS (
      SELECT user_id, d, v,
             LEAD(d) OVER (PARTITION BY user_id ORDER BY d) AS nd,
             LEAD(v) OVER (PARTITION BY user_id ORDER BY d) AS nv
      FROM daily
    ),
    ex AS (
      SELECT user_id, d, v, nv,
             date_diff('day', d, nd) AS gap, u.k AS k
      FROM seg, UNNEST(range(0, CASE WHEN nd IS NULL THEN 1
                                     ELSE date_diff('day', d, nd) END)) AS u(k)
    )
    SELECT user_id,
           CAST(d + CAST(k AS INTEGER) AS TIMESTAMP) AS day,
           CASE WHEN k = 0 THEN v
                ELSE round(v + ((nv - v) * CAST(k AS DOUBLE))
                           / CAST(gap AS DOUBLE), 6) END AS value,
           (k > 0) AS is_interpolated
    FROM ex
    """,
)
def q134_linear_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.operators.windows import (
        linear_interpolate_daily,
    )

    events = load_table(spark, "events", sf_dir)
    daily = events.groupBy("user_id", F.to_date("ts").alias("d")).agg(
        _money(F.sum(_dec("value", 12)), "v")
    )
    return linear_interpolate_daily(daily, "user_id", "d", "v")


# ---------------------------------------------------------------------------
# q135 median/MAD robust outliers per event type — the other standard
# robust-stats gate next to q114's winsorized moments: median absolute
# deviation flags survive heavy tails where mean/stddev flags drown.
# ALL arithmetic is integer cents (exact in doubles < 2^53): two
# grouped exact-quantile passes (the q104 two-phase machinery) give
# the median and the MAD, the 3x-MAD flag is an integer compare, and
# the only float ops are the final /100 displays. Oracle replays the
# type-1 quantile as ROW_NUMBER at rank ceil(n/2).
# ---------------------------------------------------------------------------
@query(
    "q135_mad_outliers",
    oracle="""
    WITH b AS (
      SELECT event_type AS g, CAST(round(value * 100) AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL
    ),
    n1 AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n FROM b GROUP BY g),
    r1 AS (SELECT g, v, ROW_NUMBER() OVER (PARTITION BY g ORDER BY v) AS rk FROM b),
    med AS (SELECT r1.g, r1.v AS m FROM r1 JOIN n1 ON r1.g = n1.g
            AND r1.rk = (n1.n + 1) // 2),
    dv AS (SELECT b.g, b.v, abs(b.v - med.m) AS dev FROM b JOIN med ON b.g = med.g),
    r2 AS (SELECT g, dev, ROW_NUMBER() OVER (PARTITION BY g ORDER BY dev) AS rk FROM dv),
    mad AS (SELECT r2.g, r2.dev AS md FROM r2 JOIN n1 ON r2.g = n1.g
            AND r2.rk = (n1.n + 1) // 2)
    SELECT dv.g AS event_type, n1.n,
           round(CAST(med.m AS DOUBLE) / 100.0, 2) AS median,
           round(CAST(mad.md AS DOUBLE) / 100.0, 2) AS mad,
           CAST(SUM(CASE WHEN dv.dev > 3 * mad.md THEN 1 ELSE 0 END) AS BIGINT)
             AS n_outliers
    FROM dv
    JOIN med ON dv.g = med.g
    JOIN mad ON dv.g = mad.g
    JOIN n1 ON dv.g = n1.g
    GROUP BY dv.g, n1.n, med.m, mad.md
    """,
)
def q135_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.operators.sketches import exact_quantiles_by

    events = load_table(spark, "events", sf_dir)
    base = events.filter(F.col("value").isNotNull()).select(
        "event_type", F.round(F.col("value") * 100).cast("bigint").alias("v")
    )
    med = exact_quantiles_by(base, ["event_type"], "v", [0.5]).select(
        "event_type", F.col("value").alias("__m")
    )
    dv = base.join(F.broadcast(med), "event_type").withColumn(
        "dev", F.abs(F.col("v") - F.col("__m")).cast("bigint")
    )
    mad = exact_quantiles_by(dv, ["event_type"], "dev", [0.5]).select(
        "event_type", F.col("value").alias("__md")
    )
    return (
        dv.join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "__m", "__md")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(
                F.when(F.col("dev") > F.lit(3) * F.col("__md"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
        .select(
            "event_type",
            "n",
            F.round(F.col("__m").cast("double") / 100.0, 2).alias("median"),
            F.round(F.col("__md").cast("double") / 100.0, 2).alias("mad"),
            "n_outliers",
        )
    )


# ---------------------------------------------------------------------------
# q139 audience-overlap estimates from KMV/theta sketches: pairwise
# distinct-user intersections between event types, k=64 sketches,
# common-retained-hash count scaled by the sampled fraction; exact
# intersection + abs error ride along (the q109 measurement pattern).
# All integers until the one scaling division.
# ---------------------------------------------------------------------------
_THETA_K = 64


@query(
    "q139_kmv_intersections",
    oracle=f"""
    WITH hashed AS (
      SELECT DISTINCT event_type AS g,
             CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT) AS h
      FROM events
    ),
    kept AS (
      SELECT g, h, rn FROM (
        SELECT g, h, ROW_NUMBER() OVER (PARTITION BY g ORDER BY h) AS rn
        FROM hashed) WHERE rn <= {_THETA_K}
    ),
    thetas AS (
      SELECT g, CAST(COALESCE(MAX(CASE WHEN rn = {_THETA_K} THEN h END),
                              4294967296) AS BIGINT) AS theta
      FROM kept GROUP BY g
    ),
    sample AS (
      SELECT kept.g, kept.h FROM kept JOIN thetas ON kept.g = thetas.g
      WHERE kept.h < thetas.theta
    ),
    tpair AS (
      SELECT a.g AS group_a, b.g AS group_b,
             LEAST(a.theta, b.theta) AS tmin
      FROM thetas a, thetas b WHERE a.g < b.g
    ),
    common AS (
      SELECT sa.g AS group_a, sb.g AS group_b,
             CAST(COUNT(*) AS BIGINT) AS n_common_sample
      FROM sample sa
      JOIN sample sb ON sa.h = sb.h AND sa.g < sb.g
      JOIN tpair t ON t.group_a = sa.g AND t.group_b = sb.g
      WHERE sa.h < t.tmin
      GROUP BY sa.g, sb.g
    ),
    keysets AS (SELECT DISTINCT event_type AS g, user_id AS kk FROM events),
    exact AS (
      SELECT a.g AS group_a, b.g AS group_b,
             CAST(COUNT(*) AS BIGINT) AS exact_inter
      FROM keysets a JOIN keysets b ON a.kk = b.kk AND a.g < b.g
      GROUP BY a.g, b.g
    )
    SELECT t.group_a, t.group_b,
           CAST(COALESCE(c.n_common_sample, 0) AS BIGINT) AS n_common_sample,
           round(CAST(COALESCE(c.n_common_sample, 0) AS DOUBLE)
                 * CAST(4294967296.0 AS DOUBLE)
                 / CAST(t.tmin AS DOUBLE), 4) AS est_inter,
           CAST(COALESCE(e.exact_inter, 0) AS BIGINT) AS exact_inter,
           round(abs(round(CAST(COALESCE(c.n_common_sample, 0) AS DOUBLE)
                           * CAST(4294967296.0 AS DOUBLE)
                           / CAST(t.tmin AS DOUBLE), 4)
                     - CAST(COALESCE(e.exact_inter, 0) AS DOUBLE)), 4) AS abs_err
    FROM tpair t
    LEFT JOIN common c ON t.group_a = c.group_a AND t.group_b = c.group_b
    LEFT JOIN exact e ON t.group_a = e.group_a AND t.group_b = e.group_b
    """,
)
def q139_kmv_intersections(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.operators.sketches import kmv_intersections

    events = load_table(spark, "events", sf_dir)
    return kmv_intersections(events, "event_type", "user_id", k=_THETA_K)


# ---------------------------------------------------------------------------
# q140 quantile normalization per event type: map value to its
# mid-rank uniform quantile u = avg_rank / (n+1) in (0,1) — the
# rank-gauss feature transform minus the (non-portable) inverse-CDF
# step. Average ranks come from cumulative counts over the
# distinct-value frame (the q128 integer construction, scaled by 2);
# the only float op is the final division + round.
# ---------------------------------------------------------------------------
@query(
    "q140_quantile_normalize",
    oracle="""
    WITH base AS (SELECT event_type AS g, value AS v FROM events
                  WHERE value IS NOT NULL),
    n1 AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n FROM base GROUP BY g),
    vc AS (SELECT g, v, COUNT(*) AS c FROM base GROUP BY g, v),
    a2 AS (
      SELECT g, v, c,
             CAST(2 * COALESCE(SUM(c) OVER (
               PARTITION BY g ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             + c + 1 AS BIGINT) AS r2
      FROM vc
    )
    SELECT a2.g AS event_type, a2.v AS value,
           CAST(a2.c AS BIGINT) AS n_ties,
           round(CAST(a2.r2 AS DOUBLE)
                 / (CAST(2 AS DOUBLE) * CAST(n1.n + 1 AS DOUBLE)), 9) AS u
    FROM a2 JOIN n1 ON a2.g = n1.g
    """,
)
def q140_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    events = load_table(spark, "events", sf_dir)
    base = events.filter(F.col("value").isNotNull()).select(
        F.col("event_type"), F.col("value").alias("v")
    )
    n1 = base.groupBy("event_type").agg(F.count(F.lit(1)).cast("bigint").alias("__n"))
    vc = base.groupBy("event_type", "v").agg(F.count(F.lit(1)).alias("__c"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    a2 = vc.select(
        "event_type",
        "v",
        "__c",
        (
            F.lit(2) * F.coalesce(F.sum("__c").over(w), F.lit(0))
            + F.col("__c")
            + F.lit(1)
        )
        .cast("bigint")
        .alias("__r2"),
    )
    return a2.join(F.broadcast(n1), "event_type").select(
        "event_type",
        F.col("v").alias("value"),
        F.col("__c").cast("bigint").alias("n_ties"),
        F.round(
            F.col("__r2").cast("double")
            / (F.lit(2.0) * (F.col("__n") + F.lit(1)).cast("double")),
            9,
        ).alias("u"),
    )


# ---------------------------------------------------------------------------
# q141 RFM segmentation (recency / frequency / monetary): the classic
# warehouse customer-scoring query, with every bucket assignment in
# PURE INTEGER arithmetic — per-user ranks on each dimension via
# partitioned windows with full deterministic tie-breaks, quintile =
# (rank-1)*5 div n + 1 (the q123 equi-depth formula), segment =
# r*100 + f*10 + m. Monetary sums are exact cents.
# ---------------------------------------------------------------------------
@query(
    "q141_rfm_segments",
    oracle="""
    WITH pu AS (
      SELECT user_id,
             MAX(ts) AS last_ts,
             CAST(COUNT(*) AS BIGINT) AS freq,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    n1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM pu),
    rk AS (
      SELECT user_id, last_ts, freq, cents,
             ROW_NUMBER() OVER (ORDER BY last_ts DESC, user_id ASC) AS rr,
             ROW_NUMBER() OVER (ORDER BY freq DESC, user_id ASC) AS rf,
             ROW_NUMBER() OVER (ORDER BY cents DESC, user_id ASC) AS rm
      FROM pu
    )
    SELECT rk.user_id, rk.freq,
           round(CAST(rk.cents AS DOUBLE) / 100.0, 2) AS monetary,
           CAST((rk.rr - 1) * 5 // n1.n + 1 AS BIGINT) AS r_score,
           CAST((rk.rf - 1) * 5 // n1.n + 1 AS BIGINT) AS f_score,
           CAST((rk.rm - 1) * 5 // n1.n + 1 AS BIGINT) AS m_score,
           CAST(((rk.rr - 1) * 5 // n1.n + 1) * 100
                + ((rk.rf - 1) * 5 // n1.n + 1) * 10
                + ((rk.rm - 1) * 5 // n1.n + 1) AS BIGINT) AS rfm
    FROM rk, n1
    """,
)
def q141_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.caching import owned_persist
    from airbnb_pyspark_jobs_spark.operators.sampling import (
        two_phase_numeric_rank,
    )

    events = load_table(spark, "events", sf_dir)
    # persisted: three rank passes + the count each branch off pu
    pu = owned_persist(
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.max("ts").alias("__last"),
            F.count(F.lit(1)).cast("bigint").alias("freq"),
            F.sum(F.round(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("__cents"),
        )
    )
    n1 = pu.agg(F.count(F.lit(1)).cast("bigint").alias("__n"))
    # the user dimension is 10^8-10^9 rows at 100 TB — a global
    # unpartitioned rank window would be a one-task sort (the SURVEY
    # §7.2 #1 hazard). Each rank is the range-bucketed two-phase rank
    # (descending value order, user_id tie-break), computed
    # independently from the persisted per-user frame and equi-joined
    # back on user_id (AQE-sized shuffle joins; no single partition
    # anywhere corpus-sized).
    def rank_of(col: str, out: str) -> DataFrame:
        return two_phase_numeric_rank(
            pu.select("user_id", col), col, "user_id", out, descending=True
        ).select("user_id", out)

    rk = (
        pu.join(rank_of("__last", "__rr"), "user_id")
        .join(rank_of("freq", "__rf"), "user_id")
        .join(rank_of("__cents", "__rm"), "user_id")
        .crossJoin(F.broadcast(n1))
    )
    score = lambda r: (F.expr(f"({r} - 1) * 5 div __n") + F.lit(1)).cast("bigint")
    return rk.select(
        "user_id",
        "freq",
        F.round(F.col("__cents").cast("double") / 100.0, 2).alias("monetary"),
        score("__rr").alias("r_score"),
        score("__rf").alias("f_score"),
        score("__rm").alias("m_score"),
        (
            score("__rr") * 100 + score("__rf") * 10 + score("__rm")
        ).cast("bigint").alias("rfm"),
    )


# ---------------------------------------------------------------------------
# q167 daily volume anomaly flags — pipeline-health telemetry: per
# (event_type, day) counts flagged when |count − type-median| > 3×MAD
# of the type's daily counts. All-integer (counts, lower-median via
# the (n+1)//2 rank, integer deviations) → hash-exact; day emitted as
# TIMESTAMP on both engines (the DATE round-trip gotcha). Reuses the
# exact_quantiles_by machinery (range-bucketed rank, q104/q135).
# ---------------------------------------------------------------------------
@query(
    "q167_event_volume_anomalies",
    oracle="""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1, 2
    ),
    n1 AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
           FROM daily GROUP BY event_type),
    r1 AS (SELECT event_type, n_events,
                  ROW_NUMBER() OVER (PARTITION BY event_type
                                     ORDER BY n_events) AS rk
           FROM daily),
    med AS (SELECT r1.event_type, r1.n_events AS m FROM r1
            JOIN n1 ON r1.event_type = n1.event_type
             AND r1.rk = (n1.n + 1) // 2),
    dv AS (SELECT d.event_type, d.day, d.n_events,
                  abs(d.n_events - med.m) AS dev, med.m
           FROM daily d JOIN med ON d.event_type = med.event_type),
    r2 AS (SELECT event_type, dev,
                  ROW_NUMBER() OVER (PARTITION BY event_type
                                     ORDER BY dev) AS rk
           FROM dv),
    mad AS (SELECT r2.event_type, r2.dev AS md FROM r2
            JOIN n1 ON r2.event_type = n1.event_type
             AND r2.rk = (n1.n + 1) // 2)
    SELECT dv.event_type, dv.day, dv.n_events,
           dv.m AS daily_median, mad.md AS daily_mad,
           dv.dev > 3 * mad.md AS is_anomaly
    FROM dv JOIN mad ON dv.event_type = mad.event_type
    """,
)
def q167_event_volume_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.operators.sketches import exact_quantiles_by

    events = load_table(spark, "events", sf_dir)
    daily = events.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    # exact_quantiles_by returns `value` as double; counts are integers
    # well under 2^53, so the bigint cast back is lossless — and keeps
    # the output schema integer like the oracle's
    med = exact_quantiles_by(daily, ["event_type"], "n_events", [0.5]).select(
        "event_type", F.col("value").cast("bigint").alias("__m")
    )
    dv = daily.join(F.broadcast(med), "event_type").withColumn(
        "__dev", F.abs(F.col("n_events") - F.col("__m")).cast("bigint")
    )
    mad = exact_quantiles_by(dv, ["event_type"], "__dev", [0.5]).select(
        "event_type", F.col("value").cast("bigint").alias("__md")
    )
    return dv.join(F.broadcast(mad), "event_type").select(
        "event_type",
        "day",
        "n_events",
        F.col("__m").alias("daily_median"),
        F.col("__md").alias("daily_mad"),
        (F.col("__dev") > F.lit(3) * F.col("__md")).alias("is_anomaly"),
    )


# ---------------------------------------------------------------------------
# q168 time-to-convert percentiles — the product-analytics metric on
# top of the as-of join: distribution (p50/p90/p99, exact type-1
# quantiles) of milliseconds between each purchase and the user's
# latest preceding view. Millisecond integers on both engines
# (unix_millis / epoch_ms — never fractional epoch seconds, whose
# cast-vs-floor semantics differ); quantiles via the range-bucketed
# exact_quantiles (q102 contract), oracle composes the verified q66
# ASOF oracle with the plain ORDER BY definition.
# ---------------------------------------------------------------------------
_Q168_PROBS = [0.5, 0.9, 0.99]


def _q168_oracle() -> str:
    from airbnb_pyspark_jobs_spark.plans.queries import ORACLES

    q66 = ORACLES["q66_asof_view_before_purchase"]
    plist = ", ".join(str(p) for p in _Q168_PROBS)
    return f"""
    WITH pairs AS ({q66}),
    v AS (
      SELECT CAST(epoch_ms(ts) - epoch_ms(ts_asof) AS DOUBLE) AS value
      FROM pairs WHERE ts_asof IS NOT NULL
    ),
    r AS (
      SELECT value,
             ROW_NUMBER() OVER (ORDER BY value) AS rank,
             COUNT(*) OVER () AS n
      FROM v
    ),
    t AS (SELECT UNNEST([{plist}]) AS p)
    SELECT CAST(t.p AS DOUBLE) AS p,
           CAST(r.rank AS BIGINT) AS rank, r.value
    FROM t JOIN r ON r.rank = GREATEST(1, CAST(CEIL(CAST(t.p AS DOUBLE) * r.n) AS BIGINT))
    """


@query("q168_time_to_convert", oracle=_q168_oracle())
def q168_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.operators.sketches import exact_quantiles

    pairs = q66_asof_view_before_purchase(spark, sf_dir)
    diffs = pairs.filter(F.col("ts_asof").isNotNull()).select(
        (F.unix_millis("ts") - F.unix_millis("ts_asof")).alias("__diff_ms")
    )
    return exact_quantiles(diffs, "__diff_ms", _Q168_PROBS)


# ---------------------------------------------------------------------------
# q176 day-of-week seasonality per event type — the calendar profile
# behind anomaly thresholds (a Monday spike is only a spike vs MONDAY
# baselines): per (type, dow) mean daily volume and its ratio to the
# type's overall mean. Counts are integers; both means are rounded
# BEFORE the one ratio division. Spark dayofweek is 1=Sunday..7;
# DuckDB's is 0=Sunday..6, so the oracle adds 1.
# ---------------------------------------------------------------------------
@query(
    "q176_event_dow_seasonality",
    oracle="""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    dd AS (
      SELECT event_type, CAST(dayofweek(day) + 1 AS BIGINT) AS dow, c
      FROM daily
    ),
    per_dow AS (
      SELECT event_type, dow, CAST(COUNT(*) AS BIGINT) AS n_days,
             round(CAST(SUM(c) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 4)
               AS mean_daily
      FROM dd GROUP BY 1, 2
    ),
    overall AS (
      SELECT event_type,
             round(CAST(SUM(c) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 4)
               AS overall_mean
      FROM dd GROUP BY 1
    )
    SELECT p.event_type, p.dow, p.n_days, p.mean_daily, o.overall_mean,
           round(p.mean_daily / o.overall_mean, 4) AS seasonality_index
    FROM per_dow p JOIN overall o ON p.event_type = o.event_type
    """,
)
def q176_event_dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir)
    daily = events.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("__c"))
    dd = daily.select(
        "event_type", F.dayofweek("day").cast("bigint").alias("dow"), "__c"
    )
    mean_expr = F.round(
        F.sum("__c").cast("double") / F.count(F.lit(1)).cast("double"), 4
    )
    per_dow = dd.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        mean_expr.alias("mean_daily"),
    )
    overall = dd.groupBy("event_type").agg(mean_expr.alias("overall_mean"))
    return per_dow.join(F.broadcast(overall), "event_type").select(
        "event_type",
        "dow",
        "n_days",
        "mean_daily",
        "overall_mean",
        F.round(F.col("mean_daily") / F.col("overall_mean"), 4).alias(
            "seasonality_index"
        ),
    )


# ---------------------------------------------------------------------------
# q182 purchase-time session concurrency: for every purchase, how many
# OTHER users had an active session (30-min-gap sessionization, q61's
# machinery) at that instant — a point-in-interval RANGE JOIN done as a
# bucketed equi-join (operators/windows.binned_interval_point_join):
# intervals explode into covered hour bins, points hash-join their one
# bin, residual range filter. The oracle states the same semantics as
# a plain range join (DuckDB's IEJoin). Distribution output (histogram
# of concurrency), zero-match purchases kept via LEFT join.
# ---------------------------------------------------------------------------
@query(
    "q182_purchase_session_concurrency",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_id, ts,
        CASE WHEN lag(ts) OVER w IS NULL THEN 1
             WHEN ts > lag(ts) OVER w + INTERVAL 30 MINUTE THEN 1
             ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, event_id, ts,
        CAST(SUM(new_session) OVER (
          PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS session_seq
      FROM flagged
    ),
    ss AS (
      SELECT user_id AS s_user, session_seq,
             epoch_ms(MIN(ts)) AS s_start_ms,
             epoch_ms(MAX(ts)) AS s_end_ms
      FROM sess GROUP BY user_id, session_seq
    ),
    pts AS (
      SELECT event_id, user_id AS p_user, epoch_ms(ts) AS p_ms
      FROM events WHERE event_type = 'purchase'
    ),
    m AS (
      SELECT p.event_id, COUNT(*) AS n_active
      FROM pts p JOIN ss s
        ON s.s_start_ms <= p.p_ms AND p.p_ms <= s.s_end_ms
       AND s.s_user <> p.p_user
      GROUP BY p.event_id
    )
    SELECT CAST(COALESCE(m.n_active, 0) AS BIGINT) AS n_active_sessions,
           CAST(COUNT(*) AS BIGINT) AS n_purchases
    FROM pts LEFT JOIN m ON pts.event_id = m.event_id
    GROUP BY 1
    """,
)
def q182_purchase_session_concurrency(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from airbnb_pyspark_jobs_spark.operators.windows import (
        binned_interval_point_join,
    )

    events = load_table(spark, "events", sf_dir)
    sess = session_stats(sessionize(events, gap="30 minutes"))
    iv = sess.select(
        F.col("user_id").alias("__s_user"),
        F.unix_millis("session_start").alias("__s_start_ms"),
        F.unix_millis("session_end").alias("__s_end_ms"),
    )
    pts = events.filter(F.col("event_type") == "purchase").select(
        "event_id",
        F.col("user_id").alias("__p_user"),
        F.unix_millis("ts").alias("__p_ms"),
    )
    matched = binned_interval_point_join(
        pts, iv, "__p_ms", "__s_start_ms", "__s_end_ms"
    ).filter(F.col("__s_user") != F.col("__p_user"))
    per_p = pts.join(
        matched.groupBy("event_id").agg(F.count(F.lit(1)).alias("__n")),
        "event_id",
        "left",
    ).select(F.coalesce(F.col("__n"), F.lit(0)).alias("n_active_sessions"))
    return per_p.groupBy("n_active_sessions").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_purchases")
    )


# ---------------------------------------------------------------------------
# q194 portable HLL daily users: the oracle-hashable HyperLogLog that
# closes q65's rows-only gap — q65 demonstrates Spark's built-in
# DataSketches HLL (estimator internals opaque to DuckDB), q194 builds
# the SAME sketch shape from SQL arithmetic (md5 hash -> bucket via
# low bits, rho via length(bin(h >> p)), register = max rho), so the
# registers, the register-wise-max merge (scope='ALL') AND the
# Flajolet estimate with linear-counting small-range correction all
# replay exactly. Register sums are exact doubles (powers of two), so
# even the correction-branch predicate agrees bitwise across engines.
# ---------------------------------------------------------------------------
_HLL_P = 4  # m = 16 registers: small enough that sf0.01 exercises BOTH
#             the raw-estimate path (daily ~140 users > 2.5m) and, at
#             sf0.001, the linear-counting path.


def _q194_oracle() -> str:
    p = _HLL_P
    m = 1 << p
    return f"""
    WITH h AS (
      SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS scope,
             CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT) AS hv
      FROM events
    ),
    rho AS (
      SELECT scope, hv % {m} AS bucket,
             CASE WHEN (hv >> {p}) = 0 THEN {33 - p}
                  ELSE {33 - p} - length(bin(hv >> {p})) END AS r
      FROM h
    ),
    spine AS (
      SELECT scope, i AS bucket
      FROM (SELECT DISTINCT scope FROM h), UNNEST(range({m})) AS u(i)
    ),
    regs AS (
      SELECT spine.scope, spine.bucket,
             COALESCE(MAX(rho.r), 0) AS register
      FROM spine LEFT JOIN rho
        ON rho.scope = spine.scope AND rho.bucket = spine.bucket
      GROUP BY spine.scope, spine.bucket
    ),
    merged AS (
      SELECT 'ALL' AS scope, bucket, MAX(register) AS register
      FROM regs GROUP BY bucket
    ),
    allregs AS (SELECT * FROM regs UNION ALL SELECT * FROM merged),
    folded AS (
      SELECT scope,
             SUM(1.0 / CAST(CAST(1 AS BIGINT) << register AS DOUBLE)) AS z,
             CAST(SUM(CASE WHEN register = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_zero_registers
      FROM allregs GROUP BY scope
    ),
    est AS (
      SELECT scope, n_zero_registers,
             CASE WHEN ((CAST(0.673 AS DOUBLE) * CAST({m} AS DOUBLE))
                          * CAST({m} AS DOUBLE)) / z
                        <= CAST(2.5 AS DOUBLE) * CAST({m} AS DOUBLE)
                   AND n_zero_registers > 0
                  THEN CAST({m} AS DOUBLE)
                       * ln(CAST({m} AS DOUBLE)
                            / CAST(n_zero_registers AS DOUBLE))
                  ELSE ((CAST(0.673 AS DOUBLE) * CAST({m} AS DOUBLE))
                          * CAST({m} AS DOUBLE)) / z
             END AS e
      FROM folded
    ),
    exacts AS (
      SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS scope,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
      FROM events GROUP BY 1
      UNION ALL
      SELECT 'ALL', CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events
    )
    SELECT est.scope, est.n_zero_registers,
           round(est.e, 4) AS est_distinct, exacts.exact_distinct
    FROM est JOIN exacts ON est.scope = exacts.scope
    """


@query("q194_hll_portable_users", oracle=_q194_oracle())
def q194_hll_portable_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.operators.sketches import (
        hll_estimate_from_registers,
        hll_registers,
    )

    events = load_table(spark, "events", sf_dir)
    days = events.select(
        F.to_date("ts").cast("string").alias("scope"), "user_id"
    )
    regs = hll_registers(days, ["scope"], "user_id", p=_HLL_P)
    merged = regs.groupBy("bucket").agg(F.max("register").alias("register")).select(
        F.lit("ALL").alias("scope"), "bucket", "register"
    )
    allregs = regs.unionByName(merged)
    est = hll_estimate_from_registers(allregs, ["scope"], p=_HLL_P)
    exact = (
        days.groupBy("scope")
        .agg(F.countDistinct("user_id").cast("bigint").alias("exact_distinct"))
        .unionByName(
            days.agg(
                F.countDistinct("user_id").cast("bigint").alias("exact_distinct")
            ).select(F.lit("ALL").alias("scope"), "exact_distinct")
        )
    )
    return est.join(exact, "scope").select(
        "scope", "n_zero_registers", "est_distinct", "exact_distinct"
    )


# ---------------------------------------------------------------------------
# q195 CUSUM changepoint detection on daily event volumes (Page 1954 —
# the classic sequential drift detector, here as a batch operator for
# pipeline monitoring): per event_type, cumulate daily-count excess
# over the type's mean daily volume and alert when the cumulative
# excess passes two mean-days. The recurrence max(0, S+y) is computed
# non-recursively as prefix-sum minus running-min (grouped_cusum), and
# EVERYTHING is scaled-integer arithmetic (mean at 1e-4 via the
# round-half-away integer quotient, deviations/prefixes/threshold all
# BIGINT) — zero float accumulation, so the oracle replays it exactly.
# ---------------------------------------------------------------------------
@query(
    "q195_cusum_event_volumes",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1, 2
    ),
    t AS (
      SELECT event_type,
             CAST(((2 * SUM(n_events) * 10000 + COUNT(*))
                   - (2 * SUM(n_events) * 10000 + COUNT(*)) % (2 * COUNT(*)))
                  // (2 * COUNT(*)) AS BIGINT) AS q
      FROM daily GROUP BY event_type
    ),
    y AS (
      SELECT d.event_type, d.day, d.n_events, t.q,
             d.n_events * 10000 - t.q AS ydev
      FROM daily d JOIN t USING (event_type)
    ),
    p AS (
      SELECT *, SUM(ydev) OVER (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pfx
      FROM y
    ),
    c AS (
      SELECT *, pfx - LEAST(MIN(pfx) OVER (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS cs
      FROM p
    )
    SELECT event_type, CAST(day AS TIMESTAMP) AS day, n_events,
           CAST(q AS DOUBLE) / 10000 AS target_daily,
           CAST(cs AS DOUBLE) / 10000 AS cusum,
           cs > 2 * q AS alert
    FROM c
    """,
)
def q195_cusum_event_volumes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.operators.windows import cusum_daily_volumes

    events = load_table(spark, "events", sf_dir)
    daily = events.groupBy(
        "event_type", F.to_date("ts").alias("__day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    return cusum_daily_volumes(daily)


# ---------------------------------------------------------------------------
# q199 lead-lag cross-correlation between event-type daily volumes:
# Pearson r of (type_a at day d) vs (type_b at day d+lag) for lags
# -3..3 — the ops/monitoring question "does error volume lead purchase
# dips?". All Pearson moments are INTEGER (daily counts): r =
# (n·sxy - sx·sy) / (sqrt(n·sxx - sx^2) · sqrt(n·syy - sy^2)) has
# exact-integer numerator and radicands, sqrt is correctly rounded,
# so the only float ops are two sqrts, one multiply, one divide in
# fixed order. The lag align is an equi-join on (day + lag); series
# are per-type daily aggregates — calendar-bounded, broadcastable.
# ---------------------------------------------------------------------------
@query(
    "q199_leadlag_correlation",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1, 2
    ),
    lags AS (SELECT i - 3 AS lag FROM UNNEST(range(7)) AS u(i)),
    j AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b, lags.lag,
             a.n_events AS x, b.n_events AS y
      FROM daily a
      CROSS JOIN lags
      JOIN daily b
        ON b.event_type <> a.event_type
       AND b.day = a.day + CAST(lags.lag AS INTEGER)
      WHERE a.event_type < b.event_type
    ),
    m AS (
      SELECT type_a, type_b, lag,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy,
             CAST(SUM(x * y) AS BIGINT) AS sxy
      FROM j GROUP BY 1, 2, 3
    )
    SELECT type_a, type_b, lag, n,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                    * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6) AS r
    FROM m
    WHERE n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
    """,
)
def q199_leadlag_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir)
    daily = events.groupBy(
        "event_type", F.to_date("ts").alias("__day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("__n"))
    lags = spark.range(7).select((F.col("id") - 3).cast("int").alias("lag"))
    a = daily.select(
        F.col("event_type").alias("type_a"),
        F.col("__day").alias("__day_a"),
        F.col("__n").alias("__x"),
    )
    b = daily.select(
        F.col("event_type").alias("type_b"),
        F.col("__day").alias("__day_b"),
        F.col("__n").alias("__y"),
    )
    j = (
        a.crossJoin(F.broadcast(lags))
        .withColumn("__day_want", F.date_add("__day_a", F.col("lag")))
        .join(
            F.broadcast(b),
            (F.col("__day_b") == F.col("__day_want"))
            & (F.col("type_b") != F.col("type_a")),
        )
        .filter(F.col("type_a") < F.col("type_b"))
    )
    m = j.groupBy("type_a", "type_b", "lag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("__x").cast("bigint").alias("sx"),
        F.sum("__y").cast("bigint").alias("sy"),
        F.sum(F.col("__x") * F.col("__x")).cast("bigint").alias("sxx"),
        F.sum(F.col("__y") * F.col("__y")).cast("bigint").alias("syy"),
        F.sum(F.col("__x") * F.col("__y")).cast("bigint").alias("sxy"),
    )
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    return (
        m.filter((vx > 0) & (vy > 0))
        .select(
            "type_a",
            "type_b",
            "lag",
            "n",
            F.round(
                num / (F.sqrt(vx.cast("double")) * F.sqrt(vy.cast("double"))), 6
            ).alias("r"),
        )
    )


# ---------------------------------------------------------------------------
# q203 HLL precision sweep: the estimator tuning table for q194's
# portable HyperLogLog — one corpus-wide distinct-user estimate per
# register-count p in {4, 6, 8}, with the exact count and the signed
# relative error, so the memory/accuracy tradeoff (m = 2^p registers
# vs ~1.04/sqrt(m) expected error) is measured, not quoted. Same
# integer register pipeline as q194; alpha switches to the analytic
# 0.7213/(1 + 1.079/m) form at m >= 128 on both engines.
# ---------------------------------------------------------------------------
_HLL_SWEEP_PS = (4, 6, 8)


def _q203_oracle() -> str:
    blocks = []
    for p in _HLL_SWEEP_PS:
        m = 1 << p
        if m >= 128:
            alpha = (
                f"(CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE)"
                f" + CAST(1.079 AS DOUBLE) / CAST({m} AS DOUBLE)))"
            )
        else:
            alpha = f"CAST({ {16: 0.673, 32: 0.697, 64: 0.709}[m] } AS DOUBLE)"
        blocks.append(
            f"""
    rho{p} AS (
      SELECT hv % {m} AS bucket,
             CASE WHEN (hv >> {p}) = 0 THEN {33 - p}
                  ELSE {33 - p} - length(bin(hv >> {p})) END AS r
      FROM h
    ),
    regs{p} AS (
      SELECT i AS bucket, COALESCE(MAX(rho{p}.r), 0) AS register
      FROM UNNEST(range({m})) AS u(i)
      LEFT JOIN rho{p} ON rho{p}.bucket = i
      GROUP BY i
    ),
    folded{p} AS (
      SELECT SUM(1.0 / CAST(CAST(1 AS BIGINT) << register AS DOUBLE)) AS z,
             CAST(SUM(CASE WHEN register = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_zero
      FROM regs{p}
    ),
    est{p} AS (
      SELECT CAST({p} AS INT) AS p, n_zero AS n_zero_registers,
             round(CASE WHEN (({alpha} * CAST({m} AS DOUBLE))
                             * CAST({m} AS DOUBLE)) / z
                          <= CAST(2.5 AS DOUBLE) * CAST({m} AS DOUBLE)
                     AND n_zero > 0
                    THEN CAST({m} AS DOUBLE)
                         * ln(CAST({m} AS DOUBLE) / CAST(n_zero AS DOUBLE))
                    ELSE (({alpha} * CAST({m} AS DOUBLE))
                            * CAST({m} AS DOUBLE)) / z
               END, 4) AS est_distinct
      FROM folded{p}
    )"""
        )
    sel = "\nUNION ALL\n".join(
        f"""SELECT est{p}.p, est{p}.n_zero_registers, est{p}.est_distinct,
       ex.exact_distinct,
       round((est{p}.est_distinct - CAST(ex.exact_distinct AS DOUBLE))
             / CAST(ex.exact_distinct AS DOUBLE), 4) AS rel_error
FROM est{p}, ex"""
        for p in _HLL_SWEEP_PS
    )
    return f"""
    WITH h AS (
      SELECT DISTINCT
             CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT)
               AS hv
      FROM events
    ),
    ex AS (
      SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
      FROM events
    ),{",".join(blocks)}
    {sel}
    """


@query("q203_hll_precision_sweep", oracle=_q203_oracle())
def q203_hll_precision_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.operators.sketches import (
        hll_estimate_from_registers,
        hll_registers,
    )

    events = load_table(spark, "events", sf_dir)
    keyed = events.select(F.lit(1).alias("__g"), "user_id")
    exact = events.agg(
        F.countDistinct("user_id").cast("bigint").alias("exact_distinct")
    )
    out = None
    for p in _HLL_SWEEP_PS:
        regs = hll_registers(keyed, ["__g"], "user_id", p=p)
        est = hll_estimate_from_registers(regs, ["__g"], p=p).drop("__g")
        row = (
            est.crossJoin(F.broadcast(exact))
            .select(
                F.lit(p).cast("int").alias("p"),
                "n_zero_registers",
                "est_distinct",
                "exact_distinct",
                F.round(
                    (
                        F.col("est_distinct")
                        - F.col("exact_distinct").cast("double")
                    )
                    / F.col("exact_distinct").cast("double"),
                    4,
                ).alias("rel_error"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


# ---------------------------------------------------------------------------
# q205 multi-touch attribution with ACCOUNTING-EXACT credit: each
# purchase's value (exact cents) splits linearly across the same
# user's view events in the preceding hour — per-touch credit is the
# integer quotient cents div n with the REMAINDER assigned to the
# earliest touch (ts, event_id tie-break), so per-purchase credits sum
# to the purchase's cents exactly (the penny-allocation rule; float
# shares leak pennies and flip on last-ulp division). The range join
# is the q69 bucketed equi-join (never a nested loop); the touch-rank
# window partitions per purchase.
# ---------------------------------------------------------------------------
@query(
    "q205_multitouch_attribution",
    oracle="""
    WITH p AS (
      SELECT event_id AS purchase_id, user_id,
             CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
             ts - INTERVAL 1 HOUR AS w_start, ts AS w_end
      FROM events WHERE event_type = 'purchase'
    ),
    v AS (
      SELECT event_id AS view_id, user_id, ts
      FROM events WHERE event_type = 'view'
    ),
    t AS (
      SELECT p.purchase_id, p.cents, v.view_id,
             ROW_NUMBER() OVER (PARTITION BY p.purchase_id
                                ORDER BY v.ts ASC, v.view_id ASC) AS touch_rank,
             COUNT(*) OVER (PARTITION BY p.purchase_id) AS n_touches
      FROM p JOIN v
        ON v.user_id = p.user_id AND v.ts >= p.w_start AND v.ts < p.w_end
    )
    SELECT purchase_id, view_id,
           CAST(touch_rank AS BIGINT) AS touch_rank,
           CAST(n_touches AS BIGINT) AS n_touches,
           CAST((cents - cents % n_touches) // n_touches
                + CASE WHEN touch_rank = 1 THEN cents % n_touches
                       ELSE 0 END AS BIGINT) AS credit_cents
    FROM t
    """,
)
def q205_multitouch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from airbnb_pyspark_jobs_spark.operators.asof import bucketed_range_join

    events = load_table(spark, "events", sf_dir)
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("__p_user"),
        (F.col("value").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("__cents"),
        (F.col("ts") - F.expr("INTERVAL 1 HOUR")).alias("w_start"),
        F.col("ts").alias("w_end"),
    )
    views = events.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), F.col("user_id"), F.col("ts")
    )
    joined = bucketed_range_join(
        views, purchases, "ts", "w_start", "w_end", bucket_seconds=3600
    ).filter(F.col("user_id") == F.col("__p_user"))
    w = Window.partitionBy("purchase_id").orderBy(
        F.col("ts").asc(), F.col("view_id").asc()
    )
    wn = Window.partitionBy("purchase_id")
    t = joined.select(
        "purchase_id",
        "view_id",
        "__cents",
        F.row_number().over(w).cast("bigint").alias("touch_rank"),
        F.count(F.lit(1)).over(wn).cast("bigint").alias("n_touches"),
    )
    base = (F.col("__cents") - F.col("__cents") % F.col("n_touches")) / F.col(
        "n_touches"
    )
    rem = F.col("__cents") % F.col("n_touches")
    return t.select(
        "purchase_id",
        "view_id",
        "touch_rank",
        "n_touches",
        (base + F.when(F.col("touch_rank") == 1, rem).otherwise(0))
        .cast("bigint")
        .alias("credit_cents"),
    )


# ---------------------------------------------------------------------------
# q207 daily conversion rate with a Wilson 95% lower bound — the
# uncertainty-aware funnel readout (a raw k/n ratio over a quiet day
# ranks above a busy day on noise; the Wilson bound does not). k and n
# are exact distinct counts; the bound is ONE fixed double-op chain
# ((p + z²/2n − z·sqrt(p(1−p)/n + z²/4n²)) / (1 + z²/n), z = 1.96
# literal both engines, sqrt correctly rounded), rounded at 6.
# ---------------------------------------------------------------------------
@query(
    "q207_conversion_wilson",
    oracle="""
    WITH d AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active,
             CAST(COUNT(DISTINCT CASE WHEN event_type = 'purchase'
                                      THEN user_id END) AS BIGINT)
               AS n_purchasers
      FROM events GROUP BY 1
    )
    SELECT CAST(day AS TIMESTAMP) AS day, n_active, n_purchasers,
           round(CAST(n_purchasers AS DOUBLE) / CAST(n_active AS DOUBLE), 6)
             AS conv_rate,
           round((CAST(n_purchasers AS DOUBLE) / CAST(n_active AS DOUBLE)
                  + CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)
                    / (CAST(2 AS DOUBLE) * CAST(n_active AS DOUBLE))
                  - CAST(1.96 AS DOUBLE)
                    * sqrt((CAST(n_purchasers AS DOUBLE)
                            / CAST(n_active AS DOUBLE))
                           * (CAST(1.0 AS DOUBLE)
                              - CAST(n_purchasers AS DOUBLE)
                                / CAST(n_active AS DOUBLE))
                           / CAST(n_active AS DOUBLE)
                           + CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)
                             / (CAST(4 AS DOUBLE)
                                * CAST(n_active AS DOUBLE)
                                * CAST(n_active AS DOUBLE))))
                 / (CAST(1.0 AS DOUBLE)
                    + CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)
                      / CAST(n_active AS DOUBLE)), 6) AS wilson_low
    FROM d
    """,
)
def q207_conversion_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir)
    d = events.groupBy(F.to_date("ts").alias("__day")).agg(
        F.countDistinct("user_id").cast("bigint").alias("n_active"),
        F.countDistinct(
            F.when(F.col("event_type") == "purchase", F.col("user_id"))
        )
        .cast("bigint")
        .alias("n_purchasers"),
    )
    z = F.lit(1.96)
    n = F.col("n_active").cast("double")
    p = F.col("n_purchasers").cast("double") / n
    wilson = (
        p
        + z * z / (F.lit(2.0) * n)
        - z
        * F.sqrt(
            p * (F.lit(1.0) - p) / n
            + z * z / (F.lit(4.0) * n * n)
        )
    ) / (F.lit(1.0) + z * z / n)
    return d.select(
        F.col("__day").cast("timestamp").alias("day"),
        "n_active",
        "n_purchasers",
        F.round(p, 6).alias("conv_rate"),
        F.round(wilson, 6).alias("wilson_low"),
    )


# ---------------------------------------------------------------------------
# q209 two-regressor OLS in EXACT integer arithmetic: regress daily
# purchase counts on daily view and error counts (the "does error
# volume depress conversions, controlling for traffic" question). The
# normal-equation matrix entries are integer sums; Cramer determinants
# are exact DECIMAL(38,0)/HUGEINT cross-products (the q71 discipline —
# no float normal equations, which lose rank on ill-conditioned sums);
# the only doubles are the three final det ratios, rounded at 6.
# Fits on a calendar-bounded frame (30 rows) after one corpus-scale
# pivot aggregate — the regression itself costs nothing at any SF.
# ---------------------------------------------------------------------------
@query(
    "q209_multivar_ols",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(COUNT(CASE WHEN event_type = 'view' THEN 1 END)
                  AS BIGINT) AS v,
             CAST(COUNT(CASE WHEN event_type = 'error' THEN 1 END)
                  AS BIGINT) AS e,
             CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END)
                  AS BIGINT) AS y
      FROM events GROUP BY 1
    ),
    s AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM(v) AS HUGEINT) AS sv, CAST(SUM(e) AS HUGEINT) AS se,
             CAST(SUM(y) AS HUGEINT) AS sy,
             CAST(SUM(v * v) AS HUGEINT) AS svv,
             CAST(SUM(e * e) AS HUGEINT) AS see,
             CAST(SUM(v * e) AS HUGEINT) AS sve,
             CAST(SUM(v * y) AS HUGEINT) AS svy,
             CAST(SUM(e * y) AS HUGEINT) AS sey
      FROM daily
    ),
    d AS (
      SELECT n, sv, se, sy, svv, see, sve, svy, sey,
             n * (svv * see - sve * sve)
               - sv * (sv * see - sve * se)
               + se * (sv * sve - svv * se) AS det,
             sy * (svv * see - sve * sve)
               - sv * (svy * see - sve * sey)
               + se * (svy * sve - svv * sey) AS det0,
             n * (svy * see - sve * sey)
               - sy * (sv * see - sve * se)
               + se * (sv * sey - svy * se) AS det1,
             n * (svv * sey - svy * sve)
               - sv * (sv * sey - svy * se)
               + sy * (sv * sve - svv * se) AS det2
      FROM s
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           round(CAST(det0 AS DOUBLE) / CAST(det AS DOUBLE), 6) AS intercept,
           round(CAST(det1 AS DOUBLE) / CAST(det AS DOUBLE), 6) AS beta_views,
           round(CAST(det2 AS DOUBLE) / CAST(det AS DOUBLE), 6) AS beta_errors
    FROM d WHERE det != 0
    """,
)
def q209_multivar_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir)
    daily = events.groupBy(F.to_date("ts").alias("__day")).agg(
        F.count(F.when(F.col("event_type") == "view", 1))
        .cast("bigint")
        .alias("v"),
        F.count(F.when(F.col("event_type") == "error", 1))
        .cast("bigint")
        .alias("e"),
        F.count(F.when(F.col("event_type") == "purchase", 1))
        .cast("bigint")
        .alias("y"),
    )
    D = "decimal(38,0)"
    s = daily.agg(
        F.count(F.lit(1)).cast(D).alias("n"),
        F.sum("v").cast(D).alias("sv"),
        F.sum("e").cast(D).alias("se"),
        F.sum("y").cast(D).alias("sy"),
        F.sum(F.col("v") * F.col("v")).cast(D).alias("svv"),
        F.sum(F.col("e") * F.col("e")).cast(D).alias("see"),
        F.sum(F.col("v") * F.col("e")).cast(D).alias("sve"),
        F.sum(F.col("v") * F.col("y")).cast(D).alias("svy"),
        F.sum(F.col("e") * F.col("y")).cast(D).alias("sey"),
    )
    n, sv, se, sy = F.col("n"), F.col("sv"), F.col("se"), F.col("sy")
    svv, see, sve = F.col("svv"), F.col("see"), F.col("sve")
    svy, sey = F.col("svy"), F.col("sey")
    det = (
        n * (svv * see - sve * sve)
        - sv * (sv * see - sve * se)
        + se * (sv * sve - svv * se)
    )
    det0 = (
        sy * (svv * see - sve * sve)
        - sv * (svy * see - sve * sey)
        + se * (svy * sve - svv * sey)
    )
    det1 = (
        n * (svy * see - sve * sey)
        - sy * (sv * see - sve * se)
        + se * (sv * sey - svy * se)
    )
    det2 = (
        n * (svv * sey - svy * sve)
        - sv * (sv * sey - svy * se)
        + sy * (sv * sve - svv * se)
    )
    return (
        s.select(
            n.cast("bigint").alias("n_days"),
            det.alias("__det"),
            det0.alias("__det0"),
            det1.alias("__det1"),
            det2.alias("__det2"),
        )
        .filter(F.col("__det") != 0)
        .select(
            "n_days",
            F.round(
                F.col("__det0").cast("double") / F.col("__det").cast("double"), 6
            ).alias("intercept"),
            F.round(
                F.col("__det1").cast("double") / F.col("__det").cast("double"), 6
            ).alias("beta_views"),
            F.round(
                F.col("__det2").cast("double") / F.col("__det").cast("double"), 6
            ).alias("beta_errors"),
        )
    )


# ---------------------------------------------------------------------------
# q210 cumulative distinct-user growth curve: the q194 portable-HLL
# registers rolled FORWARD — day d's sketch of "users seen so far" is
# the element-wise running MAX of daily registers (one tiny window per
# bucket; never a rescan of history), compared against the exact
# cumulative count, which itself avoids any rescan: each user's FIRST
# day (one groupBy min) feeds a running sum of first-appearance
# counts. The incremental-ingest shape: both curves are one pass over
# events plus sketch/calendar-sized state.
# ---------------------------------------------------------------------------
def _q210_oracle() -> str:
    p = _HLL_P
    m = 1 << p
    return f"""
    WITH h AS (
      SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS scope,
             CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT) AS hv
      FROM events
    ),
    rho AS (
      SELECT scope, hv % {m} AS bucket,
             CASE WHEN (hv >> {p}) = 0 THEN {33 - p}
                  ELSE {33 - p} - length(bin(hv >> {p})) END AS r
      FROM h
    ),
    spine AS (
      SELECT scope, i AS bucket
      FROM (SELECT DISTINCT scope FROM h), UNNEST(range({m})) AS u(i)
    ),
    regs AS (
      SELECT spine.scope, spine.bucket, COALESCE(MAX(rho.r), 0) AS register
      FROM spine LEFT JOIN rho
        ON rho.scope = spine.scope AND rho.bucket = spine.bucket
      GROUP BY spine.scope, spine.bucket
    ),
    cum AS (
      SELECT scope, bucket,
             MAX(register) OVER (PARTITION BY bucket ORDER BY scope
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS register
      FROM regs
    ),
    folded AS (
      SELECT scope,
             SUM(1.0 / CAST(CAST(1 AS BIGINT) << register AS DOUBLE)) AS z,
             CAST(SUM(CASE WHEN register = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_zero
      FROM cum GROUP BY scope
    ),
    est AS (
      SELECT scope,
             round(CASE WHEN ((CAST(0.673 AS DOUBLE) * CAST({m} AS DOUBLE))
                              * CAST({m} AS DOUBLE)) / z
                         <= CAST(2.5 AS DOUBLE) * CAST({m} AS DOUBLE)
                    AND n_zero > 0
                   THEN CAST({m} AS DOUBLE)
                        * ln(CAST({m} AS DOUBLE) / CAST(n_zero AS DOUBLE))
                   ELSE ((CAST(0.673 AS DOUBLE) * CAST({m} AS DOUBLE))
                           * CAST({m} AS DOUBLE)) / z
              END, 4) AS est_cum
      FROM folded
    ),
    fd AS (
      SELECT CAST(MIN(CAST(ts AS DATE)) AS VARCHAR) AS scope,
             user_id
      FROM events GROUP BY user_id
    ),
    nu AS (SELECT scope, CAST(COUNT(*) AS BIGINT) AS new_users FROM fd GROUP BY scope),
    days AS (SELECT DISTINCT scope FROM h),
    exact AS (
      SELECT d.scope,
             COALESCE(nu.new_users, 0) AS new_users,
             CAST(SUM(COALESCE(nu.new_users, 0)) OVER (ORDER BY d.scope
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS exact_cum
      FROM days d LEFT JOIN nu ON nu.scope = d.scope
    )
    SELECT est.scope, exact.new_users, exact.exact_cum, est.est_cum
    FROM est JOIN exact ON est.scope = exact.scope
    """


@query("q210_user_growth_curve", oracle=_q210_oracle())
def q210_user_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from airbnb_pyspark_jobs_spark.operators.sketches import (
        hll_estimate_from_registers,
        hll_registers,
    )

    events = load_table(spark, "events", sf_dir)
    days = events.select(
        F.to_date("ts").cast("string").alias("scope"), "user_id"
    )
    regs = hll_registers(days, ["scope"], "user_id", p=_HLL_P)
    w = (
        Window.partitionBy("bucket")
        .orderBy("scope")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = regs.select(
        "scope", "bucket", F.max("register").over(w).cast("int").alias("register")
    )
    est = hll_estimate_from_registers(cum, ["scope"], p=_HLL_P).select(
        "scope", F.col("est_distinct").alias("est_cum")
    )
    first_day = events.groupBy("user_id").agg(
        F.min(F.to_date("ts")).cast("string").alias("scope")
    )
    nu = first_day.groupBy("scope").agg(
        F.count(F.lit(1)).cast("bigint").alias("new_users")
    )
    day_spine = days.select("scope").distinct()
    w_cum = Window.orderBy("scope").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    exact = (
        day_spine.join(nu, "scope", "left")
        .withColumn("new_users", F.coalesce("new_users", F.lit(0)).cast("bigint"))
        .withColumn("exact_cum", F.sum("new_users").over(w_cum).cast("bigint"))
    )
    return exact.join(est, "scope").select(
        "scope", "new_users", "exact_cum", "est_cum"
    )


# ---------------------------------------------------------------------------
# q211 mutual information between event_type and hour-of-day — the
# information-theoretic dependence screen (is event mix time-of-day
# dependent?). MI = Σ_xy (n_xy/N)·ln(n_xy·N/(n_x·n_y)): every ln
# argument is an exact ratio of BIGINT products (one double division),
# each term's ln is rounded and DECIMAL-summed (order-free) — the
# q117 log-determinism recipe applied to contingency tables. The
# contingency table is one corpus-scale groupBy; margins broadcast.
# ---------------------------------------------------------------------------
@query(
    "q211_event_time_mi",
    oracle="""
    WITH xy AS (
      SELECT event_type, CAST(hour(ts) AS BIGINT) AS hr,
             CAST(COUNT(*) AS BIGINT) AS nxy
      FROM events GROUP BY 1, 2
    ),
    mx AS (SELECT event_type, CAST(SUM(nxy) AS BIGINT) AS nx FROM xy GROUP BY 1),
    my AS (SELECT hr, CAST(SUM(nxy) AS BIGINT) AS ny FROM xy GROUP BY 1),
    tot AS (SELECT CAST(SUM(nxy) AS BIGINT) AS n FROM xy),
    terms AS (
      SELECT xy.event_type, xy.hr,
             CAST(round((CAST(xy.nxy AS DOUBLE) / CAST(tot.n AS DOUBLE))
                        * ln(CAST(xy.nxy * tot.n AS DOUBLE)
                             / CAST(mx.nx * my.ny AS DOUBLE)), 10)
                  AS DECIMAL(28,10)) AS term
      FROM xy JOIN mx USING (event_type) JOIN my USING (hr), tot
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
           round(CAST(SUM(term) AS DOUBLE), 6) AS mutual_information
    FROM terms
    """,
)
def q211_event_time_mi(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir)
    xy = events.groupBy(
        "event_type", F.hour("ts").cast("bigint").alias("hr")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("nxy"))
    mx = xy.groupBy("event_type").agg(F.sum("nxy").cast("bigint").alias("nx"))
    my = xy.groupBy("hr").agg(F.sum("nxy").cast("bigint").alias("ny"))
    tot = xy.agg(F.sum("nxy").cast("bigint").alias("n"))
    term = F.round(
        (F.col("nxy").cast("double") / F.col("n").cast("double"))
        * F.log(
            (F.col("nxy") * F.col("n")).cast("double")
            / (F.col("nx") * F.col("ny")).cast("double")
        ),
        10,
    ).cast("decimal(28,10)")
    return (
        xy.join(F.broadcast(mx), "event_type")
        .join(F.broadcast(my), "hr")
        .crossJoin(F.broadcast(tot))
        .select(term.alias("__term"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_cells"),
            F.round(F.sum("__term").cast("double"), 6).alias(
                "mutual_information"
            ),
        )
    )


# ---------------------------------------------------------------------------
# q212 chi-square independence test of event_type × day-of-week with
# EXACT integer terms: chi² = Σ (n·obs − rt·ct)² / (n·rt·ct) — every
# numerator/denominator is a HUGEINT/DECIMAL(38,0) cross-product, so
# no float "expected count" ever exists; each cell's one double
# division is rounded and DECIMAL-summed. Same discipline as q71's
# integer z-test, applied to a contingency test.
# ---------------------------------------------------------------------------
@query(
    "q212_chi2_independence",
    oracle="""
    WITH xy AS (
      SELECT event_type, CAST(dayofweek(CAST(ts AS DATE)) + 1 AS BIGINT) AS dow,
             CAST(COUNT(*) AS BIGINT) AS obs
      FROM events GROUP BY 1, 2
    ),
    mx AS (SELECT event_type, CAST(SUM(obs) AS HUGEINT) AS rt FROM xy GROUP BY 1),
    my AS (SELECT dow, CAST(SUM(obs) AS HUGEINT) AS ct FROM xy GROUP BY 1),
    tot AS (SELECT CAST(SUM(obs) AS HUGEINT) AS n FROM xy),
    terms AS (
      SELECT CAST(round(
               CAST((tot.n * xy.obs - mx.rt * my.ct)
                    * (tot.n * xy.obs - mx.rt * my.ct) AS DOUBLE)
               / CAST(tot.n * mx.rt * my.ct AS DOUBLE), 10)
             AS DECIMAL(28,10)) AS term
      FROM xy JOIN mx USING (event_type) JOIN my USING (dow), tot
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
           round(CAST(SUM(term) AS DOUBLE), 6) AS chi2
    FROM terms
    """,
)
def q212_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir)
    D = "decimal(38,0)"
    xy = events.groupBy(
        "event_type", F.dayofweek(F.to_date("ts")).cast("bigint").alias("dow")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("obs"))
    mx = xy.groupBy("event_type").agg(F.sum("obs").cast(D).alias("rt"))
    my = xy.groupBy("dow").agg(F.sum("obs").cast(D).alias("ct"))
    tot = xy.agg(F.sum("obs").cast(D).alias("n"))
    num = F.col("n") * F.col("obs") - F.col("rt") * F.col("ct")
    term = F.round(
        (num * num).cast("double")
        / (F.col("n") * F.col("rt") * F.col("ct")).cast("double"),
        10,
    ).cast("decimal(28,10)")
    return (
        xy.join(F.broadcast(mx), "event_type")
        .join(F.broadcast(my), "dow")
        .crossJoin(F.broadcast(tot))
        .select(term.alias("__term"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_cells"),
            F.round(F.sum("__term").cast("double"), 6).alias("chi2"),
        )
    )


# ---------------------------------------------------------------------------
# q213 two-sample Kolmogorov–Smirnov statistic, EXACT: D = max over
# pooled values of |F1 − F2| = max |c1·n2 − c2·n1| / (n1·n2) — the
# running per-sample counts c1, c2 are TWO two-phase range-bucketed
# cumsums over the distinct-value frame (a continuous value column
# makes that frame corpus-sized, so a plain global window would be the
# single-task hazard; the q149 budget-cutoff machinery isn't), and the
# max is an integer comparison scaled by n1·n2 — the float CDF never
# exists. Compares purchase vs view `value` distributions.
# ---------------------------------------------------------------------------
@query(
    "q213_ks_two_sample",
    oracle="""
    WITH s AS (
      SELECT CAST(value AS DECIMAL(12,2)) AS v,
             CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS a,
             CAST(COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS b
      FROM events WHERE event_type IN ('purchase', 'view')
      GROUP BY 1
    ),
    n AS (SELECT CAST(SUM(a) AS BIGINT) AS n1, CAST(SUM(b) AS BIGINT) AS n2 FROM s),
    c AS (
      SELECT SUM(a) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c1,
             SUM(b) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c2
      FROM s
    )
    SELECT n.n1, n.n2,
           round(CAST(MAX(abs(c.c1 * n.n2 - c.c2 * n.n1)) AS DOUBLE)
                 / CAST(n.n1 * n.n2 AS DOUBLE), 6) AS ks_d
    FROM c, n
    GROUP BY n.n1, n.n2
    """,
)
def q213_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.caching import owned_persist
    from airbnb_pyspark_jobs_spark.operators.sampling import (
        two_phase_numeric_cumsum_multi,
    )

    events = load_table(spark, "events", sf_dir)
    s = owned_persist(
        events.filter(F.col("event_type").isin("purchase", "view"))
        .groupBy(F.col("value").cast("decimal(12,2)").alias("__v"))
        .agg(
            F.count(F.when(F.col("event_type") == "purchase", 1))
            .cast("bigint")
            .alias("__cnt_a"),
            F.count(F.when(F.col("event_type") == "view", 1))
            .cast("bigint")
            .alias("__cnt_b"),
        )
    )
    n = s.agg(
        F.sum("__cnt_a").cast("bigint").alias("n1"),
        F.sum("__cnt_b").cast("bigint").alias("n2"),
    )
    c = two_phase_numeric_cumsum_multi(
        s, "__v", "__v", ["__cnt_a", "__cnt_b"], ["__c1", "__c2"]
    )
    return (
        c.crossJoin(F.broadcast(n))
        .groupBy("n1", "n2")
        .agg(
            F.round(
                F.max(
                    F.abs(F.col("__c1") * F.col("n2") - F.col("__c2") * F.col("n1"))
                ).cast("double")
                / (F.col("n1") * F.col("n2")).cast("double"),
                6,
            ).alias("ks_d")
        )
    )


# ---------------------------------------------------------------------------
# q215 top event trigram paths: the 3-step journey extension of q131's
# transition matrix — per user, consecutive (a → b → c) event triples
# by time (event_id tie-break), counted corpus-wide. The triple build
# is two leads over a user-partitioned window (per-user ordering;
# never a global sort); output is the full path histogram (bounded:
# |types|³ rows).
# ---------------------------------------------------------------------------
@query(
    "q215_event_trigram_paths",
    oracle="""
    WITH o AS (
      SELECT user_id, event_type,
             LEAD(event_type, 1) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS b,
             LEAD(event_type, 2) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS c
      FROM events
    )
    SELECT event_type || '>' || b || '>' || c AS path,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM o WHERE b IS NOT NULL AND c IS NOT NULL
    GROUP BY 1
    """,
)
def q215_event_trigram_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    events = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = events.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("__b"),
        F.lead("event_type", 2).over(w).alias("__c"),
    )
    return (
        o.filter(F.col("__b").isNotNull() & F.col("__c").isNotNull())
        .select(
            F.concat_ws(">", "event_type", "__b", "__c").alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


# ---------------------------------------------------------------------------
# q217 activity streaks (gaps-and-islands): each user's longest run of
# CONSECUTIVE active days — distinct (user, day), day minus the
# per-user day-rank is constant within a consecutive run, so one
# user-partitioned rank + one group size = the streak table with zero
# self-joins (the q107 run-reassembly shape on the calendar). Output
# per user: n_active_days, longest_streak, n_streaks.
# ---------------------------------------------------------------------------
@query(
    "q217_activity_streaks",
    oracle="""
    WITH d AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    r AS (
      SELECT user_id, day,
             day - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)
                        AS INTEGER) AS grp
      FROM d
    ),
    runs AS (
      SELECT user_id, grp, CAST(COUNT(*) AS BIGINT) AS run_len
      FROM r GROUP BY 1, 2
    )
    SELECT user_id,
           CAST(SUM(run_len) AS BIGINT) AS n_active_days,
           CAST(MAX(run_len) AS BIGINT) AS longest_streak,
           CAST(COUNT(*) AS BIGINT) AS n_streaks
    FROM runs GROUP BY user_id
    """,
)
def q217_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    events = load_table(spark, "events", sf_dir)
    d = events.select("user_id", F.to_date("ts").alias("__day")).distinct()
    w = Window.partitionBy("user_id").orderBy("__day")
    r = d.select(
        "user_id",
        F.date_sub("__day", F.row_number().over(w)).alias("__grp"),
    )
    runs = r.groupBy("user_id", "__grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("__len")
    )
    return runs.groupBy("user_id").agg(
        F.sum("__len").cast("bigint").alias("n_active_days"),
        F.max("__len").cast("bigint").alias("longest_streak"),
        F.count(F.lit(1)).cast("bigint").alias("n_streaks"),
    )


# ---------------------------------------------------------------------------
# q219 time-windowed conversion matrix: for every ordered event-type
# pair (a, b), the share of a-events followed by >=1 b-event from the
# SAME user within one hour — the full pairwise generalization of
# q67's fixed funnel. ONE bucketed range join (epoch-hour equi-buckets
# + user equality; never a nested-loop time join) covers all 25 pairs;
# conversion is a distinct-(a_event, b_type) count over exact
# integers, densified to the full type x type grid.
# ---------------------------------------------------------------------------
@query(
    "q219_conversion_matrix",
    oracle="""
    WITH a AS (
      SELECT event_id AS a_id, event_type AS a_type, user_id, ts
      FROM events
    ),
    b AS (
      SELECT event_id AS b_id, event_type AS b_type, user_id, ts
      FROM events
    ),
    m AS (
      SELECT DISTINCT a.a_id, a.a_type, b.b_type
      FROM a JOIN b
        ON b.user_id = a.user_id
       AND b.ts > a.ts AND b.ts < a.ts + INTERVAL 1 HOUR
       AND b.b_id != a.a_id
    ),
    conv AS (
      SELECT a_type, b_type, CAST(COUNT(*) AS BIGINT) AS n_converted
      FROM m GROUP BY 1, 2
    ),
    tot AS (
      SELECT event_type AS a_type, CAST(COUNT(*) AS BIGINT) AS n_a
      FROM events GROUP BY 1
    ),
    types AS (SELECT DISTINCT event_type AS t FROM events),
    grid AS (
      SELECT t1.t AS a_type, t2.t AS b_type FROM types t1, types t2
    )
    SELECT g.a_type, g.b_type, tot.n_a,
           COALESCE(conv.n_converted, 0) AS n_converted,
           round(CAST(COALESCE(conv.n_converted, 0) AS DOUBLE)
                 / CAST(tot.n_a AS DOUBLE), 6) AS conv_rate
    FROM grid g
    JOIN tot ON tot.a_type = g.a_type
    LEFT JOIN conv ON conv.a_type = g.a_type AND conv.b_type = g.b_type
    """,
)
def q219_conversion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.operators.asof import bucketed_range_join

    events = load_table(spark, "events", sf_dir)
    intervals = events.select(
        F.col("event_id").alias("__a_id"),
        F.col("event_type").alias("a_type"),
        F.col("user_id").alias("__a_user"),
        F.col("ts").alias("w_start"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("w_end"),
    )
    points = events.select(
        F.col("event_id").alias("__b_id"),
        F.col("event_type").alias("b_type"),
        F.col("user_id").alias("__b_user"),
        F.col("ts").alias("__b_ts"),
    )
    joined = bucketed_range_join(
        points,
        intervals,
        "__b_ts",
        "w_start",
        "w_end",
        bucket_seconds=3600,
        extra_equi=[("__b_user", "__a_user")],
    )
    m = (
        joined.filter(
            (F.col("__b_ts") > F.col("w_start"))
            & (F.col("__b_id") != F.col("__a_id"))
        )
        .select("__a_id", "a_type", "b_type")
        .distinct()
    )
    conv = m.groupBy("a_type", "b_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_converted")
    )
    tot = events.groupBy(F.col("event_type").alias("a_type")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_a")
    )
    types = events.select(F.col("event_type").alias("t")).distinct()
    grid = types.select(F.col("t").alias("a_type")).crossJoin(
        F.broadcast(types.select(F.col("t").alias("b_type")))
    )
    return (
        grid.join(F.broadcast(tot), "a_type")
        .join(F.broadcast(conv), ["a_type", "b_type"], "left")
        .withColumn("n_converted", F.coalesce("n_converted", F.lit(0)).cast("bigint"))
        .select(
            "a_type",
            "b_type",
            "n_a",
            "n_converted",
            F.round(
                F.col("n_converted").cast("double") / F.col("n_a").cast("double"),
                6,
            ).alias("conv_rate"),
        )
    )


# ---------------------------------------------------------------------------
# q220 Mann-Whitney U rank-sum test: purchase vs view `value`
# distributions. Completes the nonparametric-test family (q198 Welch,
# q212 chi-square, q213 KS): the rank-sum is computed from the GROUPED
# value histogram, never from per-row ranks — per distinct value v with
# group counts (a_v, b_v), ties share the midrank
# C_v + (t_v + 1)/2 where C_v is the count of strictly-smaller rows, so
#   2*R1 = sum_v a_v * (2*C_v + t_v + 1)
# is an exact integer. C_v comes from the two-phase partitioned
# cumulative sum (q213's machinery) — no global single-task window.
# Tie-corrected normal approximation:
#   var U = n1*n2/12 * ((n+1) - sum(t^3 - t) / (n*(n-1)))
#   z     = (U1 - n1*n2/2) / sqrt(var U)
# All moments are exact integers (tie cubes summed in decimal(38,0) —
# bigint would overflow near 10^6-row ties); the single int->double
# conversion per term keeps both engines bitwise identical before the
# final round. At 100 TB the histogram is |distinct values| rows
# (bounded: decimal(12,2) grid), the scan is one map-side-combinable
# groupBy.
# ---------------------------------------------------------------------------
@query(
    "q220_mann_whitney_u",
    oracle="""
    WITH s AS (
      SELECT CAST(value AS DECIMAL(12,2)) AS v,
             CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS a,
             CAST(COUNT(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS b
      FROM events WHERE event_type IN ('purchase', 'view') GROUP BY 1
    ),
    c AS (
      SELECT a, b, a + b AS t,
             CAST(SUM(a + b) OVER (ORDER BY v) AS BIGINT) - (a + b) AS cb
      FROM s
    ),
    agg AS (
      SELECT CAST(SUM(a) AS BIGINT) AS n1,
             CAST(SUM(b) AS BIGINT) AS n2,
             CAST(SUM(a * (2 * cb + t + 1)) AS BIGINT) AS r1x2,
             CAST(SUM(CAST(t AS DECIMAL(38,0)) * t * t - t) AS DECIMAL(38,0)) AS tie3
      FROM c
    )
    SELECT n1, n2,
           CAST(CAST(r1x2 - n1 * (n1 + 1) AS DOUBLE) / 2.0 AS DOUBLE) AS u1,
           ROUND(
             (CAST(r1x2 - n1 * (n1 + 1) AS DOUBLE)
              - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
             / (2.0 * SQRT(
                 CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0
                 * (CAST(n1 + n2 + 1 AS DOUBLE)
                    - CAST(tie3 AS DOUBLE)
                      / (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 - 1 AS DOUBLE))))),
             6) AS z
    FROM agg
    """,
)
def q220_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.caching import owned_persist
    from airbnb_pyspark_jobs_spark.operators.sampling import (
        two_phase_numeric_cumsum_multi,
    )

    events = load_table(spark, "events", sf_dir)
    s = owned_persist(
        events.filter(F.col("event_type").isin("purchase", "view"))
        .groupBy(F.col("value").cast("decimal(12,2)").alias("__v"))
        .agg(
            F.count(F.when(F.col("event_type") == "purchase", 1))
            .cast("bigint")
            .alias("__ca"),
            F.count(F.when(F.col("event_type") == "view", 1))
            .cast("bigint")
            .alias("__cb"),
        )
        .withColumn("__t", (F.col("__ca") + F.col("__cb")).cast("bigint"))
    )
    c = two_phase_numeric_cumsum_multi(s, "__v", "__v", ["__t"], ["__ct"])
    agg = c.agg(
        F.sum("__ca").cast("bigint").alias("n1"),
        F.sum("__cb").cast("bigint").alias("n2"),
        F.sum(
            F.col("__ca")
            * (2 * (F.col("__ct") - F.col("__t")) + F.col("__t") + 1)
        )
        .cast("bigint")
        .alias("__r1x2"),
        F.sum(
            F.col("__t").cast("decimal(38,0)") * F.col("__t") * F.col("__t")
            - F.col("__t")
        )
        .cast("decimal(38,0)")
        .alias("__tie3"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    u1x2_d = (F.col("__r1x2") - n1 * (n1 + 1)).cast("double")
    n1d, n2d = n1.cast("double"), n2.cast("double")
    var_u = (
        n1d * n2d / F.lit(12.0)
        * (
            (n1 + n2 + 1).cast("double")
            - F.col("__tie3").cast("double")
            / ((n1 + n2).cast("double") * (n1 + n2 - 1).cast("double"))
        )
    )
    return agg.select(
        "n1",
        "n2",
        (u1x2_d / F.lit(2.0)).cast("double").alias("u1"),
        F.round((u1x2_d - n1d * n2d) / (F.lit(2.0) * F.sqrt(var_u)), 6).alias("z"),
    )


# ---------------------------------------------------------------------------
# q223 autocorrelation function (ACF) of daily event volumes, lags
# 1..7, per event type — the seasonality-detection companion of q176
# (day-of-week profile) and q199 (cross-type lead-lag): lag-7 spikes
# betray weekly cycles. The series is the ZERO-FILLED per-type day
# spine (a missing day is a 0-count observation, not an absent row —
# q34's spine discipline), pairs come from a per-type equi-join on
# (type, day + lag) — partitioned by type, never a global sort. All
# Pearson moments are exact BIGINT sums of integer counts; the two
# variance factors are cast to double BEFORE multiplying (their
# product overflows bigint at ~10^10 daily volumes) and the identical
# sqrt·sqrt expression runs on both engines. Zero-variance series
# yield NULL.
# ---------------------------------------------------------------------------
@query(
    "q223_daily_acf",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    bounds AS (
      SELECT event_type, MIN(d) AS d0, MAX(d) AS d1 FROM daily GROUP BY 1
    ),
    spine AS (
      SELECT event_type,
             CAST(UNNEST(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS d
      FROM bounds
    ),
    dense AS (
      SELECT s.event_type, s.d, COALESCE(daily.n, 0) AS n
      FROM spine s
      LEFT JOIN daily ON daily.event_type = s.event_type AND daily.d = s.d
    ),
    lags AS (SELECT UNNEST([1, 2, 3, 4, 5, 6, 7]) AS lag),
    p AS (
      SELECT a.event_type, lags.lag, a.n AS x, b.n AS y
      FROM dense a
      CROSS JOIN lags
      JOIN dense b
        ON b.event_type = a.event_type AND b.d = a.d + lags.lag
    ),
    m AS (
      SELECT event_type, CAST(lag AS BIGINT) AS lag,
             CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sx2,
             CAST(SUM(y * y) AS BIGINT) AS sy2
      FROM p GROUP BY 1, 2
    )
    SELECT event_type, lag, n_pairs,
           CASE WHEN n_pairs * sx2 - sx * sx > 0
                 AND n_pairs * sy2 - sy * sy > 0
             THEN ROUND(
               CAST(n_pairs * sxy - sx * sy AS DOUBLE)
               / (SQRT(CAST(n_pairs * sx2 - sx * sx AS DOUBLE))
                  * SQRT(CAST(n_pairs * sy2 - sy * sy AS DOUBLE))),
               6) + CAST(0 AS DOUBLE)
             ELSE NULL END AS acf
    FROM m
    """,
)
def q223_daily_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.caching import owned_persist

    events = load_table(spark, "events", sf_dir)
    daily = events.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    bounds = daily.groupBy("event_type").agg(
        F.min("d").alias("d0"), F.max("d").alias("d1")
    )
    spine = bounds.select(
        "event_type",
        F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias("d"),
    )
    dense = owned_persist(
        spine.join(daily, ["event_type", "d"], "left").select(
            "event_type", "d", F.coalesce("n", F.lit(0)).cast("bigint").alias("n")
        )
    )
    lags = spark.range(1, 8).select(F.col("id").cast("bigint").alias("lag"))
    a = dense.crossJoin(F.broadcast(lags)).select(
        "event_type", "lag", F.col("n").alias("__x"),
        F.date_add("d", F.col("lag").cast("int")).alias("__dy"),
    )
    b = dense.select(
        "event_type", F.col("d").alias("__dy"), F.col("n").alias("__y")
    )
    m = (
        a.join(b, ["event_type", "__dy"])
        .groupBy("event_type", "lag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum("__x").cast("bigint").alias("__sx"),
            F.sum("__y").cast("bigint").alias("__sy"),
            F.sum(F.col("__x") * F.col("__y")).cast("bigint").alias("__sxy"),
            F.sum(F.col("__x") * F.col("__x")).cast("bigint").alias("__sx2"),
            F.sum(F.col("__y") * F.col("__y")).cast("bigint").alias("__sy2"),
        )
    )
    np_, sx, sy = F.col("n_pairs"), F.col("__sx"), F.col("__sy")
    dx = np_ * F.col("__sx2") - sx * sx
    dy = np_ * F.col("__sy2") - sy * sy
    num = np_ * F.col("__sxy") - sx * sy
    return m.select(
        "event_type",
        "lag",
        "n_pairs",
        F.when(
            (dx > 0) & (dy > 0),
            F.round(
                num.cast("double")
                / (F.sqrt(dx.cast("double")) * F.sqrt(dy.cast("double"))),
                6,
            )
            + F.lit(0.0),
        ).alias("acf"),
    )


# ---------------------------------------------------------------------------
# q227 transition conditional entropy — the predictability rollup of
# q131's Markov matrix: per from-state a, H(next | a) = log2(n_a) -
# (1/n_a)·Σ_b n_ab·log2(n_ab) (the q115 identity: each log2 is scaled
# by 1e9, rounded ONCE to BIGINT, and the weighted sum is exact
# integer — the only floats are the final fixed-order divisions). The
# p(a)-weighted contributions sum to the process entropy rate
# H(next|current). One user-partitioned lag window + two bounded
# groupBys (|types|² rows).
# ---------------------------------------------------------------------------
@query(
    "q227_transition_entropy",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type AS to_type,
             LAG(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS from_type
      FROM events
    ),
    counts AS (
      SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM ordered WHERE from_type IS NOT NULL
      GROUP BY from_type, to_type
    ),
    g AS (
      SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_from,
             CAST(SUM(n * CAST(round(log2(n) * 1e9) AS BIGINT)) AS BIGINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS n_targets
      FROM counts GROUP BY from_type
    ),
    t AS (SELECT CAST(SUM(n_from) AS BIGINT) AS total FROM g),
    h AS (
      SELECT from_type, n_from, n_targets,
             round(log2(n_from)
                   - CAST(s AS DOUBLE) / (CAST(n_from AS DOUBLE) * 1e9), 6)
               + CAST(0 AS DOUBLE) AS h_cond
      FROM g
    )
    SELECT h.from_type, h.n_from, h.n_targets, h.h_cond,
           round((CAST(h.n_from AS DOUBLE) / CAST(t.total AS DOUBLE))
                 * h.h_cond, 6) + CAST(0 AS DOUBLE) AS rate_contribution
    FROM h CROSS JOIN t
    """,
)
def q227_transition_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    counts = transition_counts(load_table(spark, "events", sf_dir))
    g = counts.groupBy("from_type").agg(
        F.sum("n").cast("bigint").alias("n_from"),
        F.sum(F.col("n") * F.round(F.log2("n") * F.lit(1e9)).cast("bigint"))
        .cast("bigint")
        .alias("__s"),
        F.count(F.lit(1)).cast("bigint").alias("n_targets"),
    )
    t = g.agg(F.sum("n_from").cast("bigint").alias("__total"))
    h_cond = F.round(
        F.log2("n_from")
        - F.col("__s").cast("double")
        / (F.col("n_from").cast("double") * F.lit(1e9)),
        6,
    ) + F.lit(0.0)
    h = g.select("from_type", "n_from", "n_targets", h_cond.alias("h_cond"))
    return h.crossJoin(F.broadcast(t)).select(
        "from_type",
        "n_from",
        "n_targets",
        "h_cond",
        (
            F.round(
                (F.col("n_from").cast("double") / F.col("__total").cast("double"))
                * F.col("h_cond"),
                6,
            )
            + F.lit(0.0)
        ).alias("rate_contribution"),
    )


# ---------------------------------------------------------------------------
# q230 daily-volume dispersion — Fano factor (variance/mean of daily
# counts) and Burstiness B = (σ−μ)/(σ+μ) per event type, the
# overdispersion companion of q223's ACF: Poisson arrivals give
# F ≈ 1 / B ≈ −… , bursty traffic F ≫ 1. Same zero-filled per-type
# day spine as q223 (a missing day is a 0 observation). Moments are
# exact BIGINTs; mean/variance/fano are exact integer ratios through
# decimal_ratio_round; σ is the one sqrt, taken on the ALREADY-
# ROUNDED variance so both engines draw it from the identical double
# (then B from rounded σ/μ, round 6, −0.0-normalized).
# ---------------------------------------------------------------------------
def _q230_oracle() -> str:
    mean = decimal_ratio_round_sql("sx", "n")
    var = decimal_ratio_round_sql("n * sx2 - sx * sx", "n * (n - 1)")
    fano = decimal_ratio_round_sql(
        "n * (n * sx2 - sx * sx)", "n * (n - 1) * sx"
    )
    return f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    bounds AS (
      SELECT event_type, MIN(d) AS d0, MAX(d) AS d1 FROM daily GROUP BY 1
    ),
    spine AS (
      SELECT event_type,
             CAST(UNNEST(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS d
      FROM bounds
    ),
    dense AS (
      SELECT s.event_type, COALESCE(daily.n, 0) AS x
      FROM spine s
      LEFT JOIN daily ON daily.event_type = s.event_type AND daily.d = s.d
    ),
    m AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(x * x) AS BIGINT) AS sx2
      FROM dense GROUP BY 1
    ),
    r AS (
      SELECT event_type, n AS n_days,
             {mean} AS mean_daily,
             {var} AS variance,
             {fano} AS fano
      FROM m WHERE n > 1 AND sx > 0
    )
    SELECT event_type, n_days, mean_daily, variance, fano,
           round((sqrt(variance) - mean_daily)
                 / (sqrt(variance) + mean_daily), 6)
             + CAST(0 AS DOUBLE) AS burstiness
    FROM r
    """


@query("q230_daily_dispersion", oracle=_q230_oracle())
def q230_daily_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.functions.numeric import decimal_ratio_round

    events = load_table(spark, "events", sf_dir)
    daily = events.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    bounds = daily.groupBy("event_type").agg(
        F.min("d").alias("d0"), F.max("d").alias("d1")
    )
    spine = bounds.select(
        "event_type",
        F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias("d"),
    )
    dense = spine.join(daily, ["event_type", "d"], "left").select(
        "event_type", F.coalesce("n", F.lit(0)).cast("bigint").alias("__x")
    )
    m = dense.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("__n"),
        F.sum("__x").cast("bigint").alias("__sx"),
        F.sum(F.col("__x") * F.col("__x")).cast("bigint").alias("__sx2"),
    )
    n, sx, sx2 = F.col("__n"), F.col("__sx"), F.col("__sx2")
    r = m.filter((n > 1) & (sx > 0)).select(
        "event_type",
        n.alias("n_days"),
        decimal_ratio_round(sx, n).alias("mean_daily"),
        decimal_ratio_round(n * sx2 - sx * sx, n * (n - 1)).alias("variance"),
        decimal_ratio_round(
            n.cast("decimal(38,0)") * (n * sx2 - sx * sx),
            n.cast("decimal(38,0)") * (n - 1) * sx,
        ).alias("fano"),
    )
    return r.select(
        "event_type",
        "n_days",
        "mean_daily",
        "variance",
        "fano",
        (
            F.round(
                (F.sqrt("variance") - F.col("mean_daily"))
                / (F.sqrt("variance") + F.col("mean_daily")),
                6,
            )
            + F.lit(0.0)
        ).alias("burstiness"),
    )


# ---------------------------------------------------------------------------
# q232 session bounce-rate by entry type — the funnel-health rollup of
# q61's sessions: per session ENTRY event type (the deterministic
# first event by ts, event_id), how many sessions bounce (one event)
# and how deep the rest go. Session assignment reuses the sessionize
# operator (30-min gap, per-user windows); the entry pick is a
# row_number over (user, session) partitions — per-session
# cardinality, never global. Ratios are exact integer means
# (exact_mean_round: counts are far inside its 10^12 staging bound).
# ---------------------------------------------------------------------------
@query(
    "q232_session_bounce_rate",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, event_id, ts, event_type,
        CASE WHEN lag(ts) OVER w IS NULL THEN 1
             WHEN ts > lag(ts) OVER w + INTERVAL 30 MINUTE THEN 1
             ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, event_id, ts, event_type,
        CAST(SUM(new_session) OVER (
          PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS session_seq
      FROM flagged
    ),
    g AS (
      SELECT user_id, session_seq,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             MIN(ts) AS t0
      FROM sess GROUP BY 1, 2
    ),
    entry AS (
      SELECT user_id, session_seq, event_type AS entry_type FROM (
        SELECT user_id, session_seq, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id, session_seq
                                  ORDER BY ts, event_id) AS rn
        FROM sess) WHERE rn = 1
    )
    SELECT e.entry_type,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(CASE WHEN g.n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bounces,
           {exact_mean_round_sql(
               "SUM(CASE WHEN g.n_events = 1 THEN 1 ELSE 0 END)",
               "COUNT(*)", 6, sum_scale=0)} AS bounce_rate,
           {exact_mean_round_sql("SUM(g.n_events)", "COUNT(*)", 6, sum_scale=0)}
             AS mean_session_events
    FROM g JOIN entry e USING (user_id, session_seq)
    GROUP BY e.entry_type
    """,
)
def q232_session_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from airbnb_pyspark_jobs_spark.functions.numeric import exact_mean_round

    events = load_table(spark, "events", sf_dir)
    sess = sessionize(events, gap="30 minutes")
    g = sess.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).cast("bigint").alias("__n_events")
    )
    w = Window.partitionBy("user_id", "session_seq").orderBy("ts", "event_id")
    entry = (
        sess.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("user_id", "session_seq", F.col("event_type").alias("entry_type"))
    )
    return (
        g.join(entry, ["user_id", "session_seq"])
        .groupBy("entry_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
            F.sum(F.when(F.col("__n_events") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_bounces"),
            exact_mean_round(
                F.sum(F.when(F.col("__n_events") == 1, 1).otherwise(0)),
                F.count(F.lit(1)),
                6,
                sum_scale=0,
            ).alias("bounce_rate"),
            exact_mean_round(
                F.sum("__n_events"), F.count(F.lit(1)), 6, sum_scale=0
            ).alias("mean_session_events"),
        )
    )


# ---------------------------------------------------------------------------
# q236 weekly purchase-value percentile bands — the monitoring time
# series for value drift: per ISO week, exact p10/p50/p90 of purchase
# values pivoted into band columns. Exact type-1 quantiles come from
# the grouped two-phase bucketed rank (exact_quantiles_by: per-week
# range buckets, no per-group single-task sort — weeks are few but a
# week of events at 100 TB is huge). Week keys are TIMESTAMPs (the
# DATE round-trip gotcha); band pivot is three conditional MAXes.
# ---------------------------------------------------------------------------
@query(
    "q236_weekly_value_bands",
    oracle="""
    WITH v AS (
      SELECT date_trunc('week', ts) AS week_start, CAST(value AS DOUBLE) AS value
      FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
    ),
    r AS (
      SELECT week_start, value,
             ROW_NUMBER() OVER (PARTITION BY week_start ORDER BY value) AS rk,
             COUNT(*) OVER (PARTITION BY week_start) AS n
      FROM v
    ),
    t AS (SELECT UNNEST([0.1, 0.5, 0.9]) AS p),
    q AS (
      SELECT week_start, t.p, r.value, r.n
      FROM t JOIN r
        ON r.rk = GREATEST(1, CAST(CEIL(CAST(t.p AS DOUBLE) * r.n) AS BIGINT))
    )
    SELECT week_start,
           CAST(MAX(n) AS BIGINT) AS n_purchases,
           MAX(CASE WHEN p = 0.1 THEN value END) AS p10,
           MAX(CASE WHEN p = 0.5 THEN value END) AS p50,
           MAX(CASE WHEN p = 0.9 THEN value END) AS p90
    FROM q GROUP BY week_start
    """,
)
def q236_weekly_value_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.operators.sketches import exact_quantiles_by

    events = load_table(spark, "events", sf_dir)
    v = events.filter(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    ).select(
        F.date_trunc("week", "ts").alias("week_start"),
        F.col("value").cast("double").alias("value"),
    )
    q = exact_quantiles_by(v, ["week_start"], "value", [0.1, 0.5, 0.9])
    n = v.groupBy("week_start").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_purchases")
    )
    bands = q.groupBy("week_start").agg(
        F.max(F.when(F.col("p") == 0.1, F.col("value"))).alias("p10"),
        F.max(F.when(F.col("p") == 0.5, F.col("value"))).alias("p50"),
        F.max(F.when(F.col("p") == 0.9, F.col("value"))).alias("p90"),
    )
    return bands.join(F.broadcast(n), "week_start").select(
        "week_start", "n_purchases", "p10", "p50", "p90"
    )


# ---------------------------------------------------------------------------
# q238 session-level event-type PMI — which behaviors co-occur in the
# SAME session more than chance (the behavioral twin of q137's token
# collocations): sessions from the q61 sessionize shape, per-session
# DISTINCT type sets (<= 5 types, so the per-session pair fan-out is
# bounded at C(5,2)), PMI = ln(N·n_ab/(n_a·n_b)) with all counts
# exact integers and ONE rounded ln at the end (identical arg both
# engines: ratio of exact-integer products in double).
# ---------------------------------------------------------------------------
@query(
    "q238_session_type_pmi",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_id, ts, event_type,
        CASE WHEN lag(ts) OVER w IS NULL THEN 1
             WHEN ts > lag(ts) OVER w + INTERVAL 30 MINUTE THEN 1
             ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, event_type,
        CAST(SUM(new_session) OVER (
          PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS session_seq
      FROM flagged
    ),
    su AS (SELECT DISTINCT user_id, session_seq, event_type FROM sess),
    n1 AS (SELECT CAST(COUNT(DISTINCT (user_id, session_seq)) AS BIGINT) AS n
           FROM su),
    c AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_a
          FROM su GROUP BY 1),
    p AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(COUNT(*) AS BIGINT) AS n_ab
      FROM su a
      JOIN su b ON a.user_id = b.user_id AND a.session_seq = b.session_seq
              AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT p.type_a, p.type_b, p.n_ab, ca.n_a AS n_sessions_a,
           cb.n_a AS n_sessions_b,
           round(ln((CAST(n1.n AS DOUBLE) * CAST(p.n_ab AS DOUBLE))
                    / (CAST(ca.n_a AS DOUBLE) * CAST(cb.n_a AS DOUBLE))), 6)
             + CAST(0 AS DOUBLE) AS pmi
    FROM p
    JOIN c ca ON ca.event_type = p.type_a
    JOIN c cb ON cb.event_type = p.type_b
    CROSS JOIN n1
    """,
)
def q238_session_type_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.caching import owned_persist

    events = load_table(spark, "events", sf_dir)
    su = owned_persist(
        sessionize(events, gap="30 minutes")
        .select("user_id", "session_seq", "event_type")
        .distinct()
    )
    n1 = su.select("user_id", "session_seq").distinct().agg(
        F.count(F.lit(1)).cast("bigint").alias("__n")
    )
    c = su.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("__n_a")
    )
    a = su.select("user_id", "session_seq", F.col("event_type").alias("type_a"))
    b = su.select("user_id", "session_seq", F.col("event_type").alias("type_b"))
    p = (
        a.join(b, ["user_id", "session_seq"])
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_ab"))
    )
    return (
        p.join(
            F.broadcast(c.select(F.col("event_type").alias("type_a"),
                                 F.col("__n_a").alias("n_sessions_a"))),
            "type_a",
        )
        .join(
            F.broadcast(c.select(F.col("event_type").alias("type_b"),
                                 F.col("__n_a").alias("n_sessions_b"))),
            "type_b",
        )
        .crossJoin(F.broadcast(n1))
        .select(
            "type_a",
            "type_b",
            "n_ab",
            "n_sessions_a",
            "n_sessions_b",
            (
                F.round(
                    F.log(
                        (F.col("__n").cast("double") * F.col("n_ab").cast("double"))
                        / (
                            F.col("n_sessions_a").cast("double")
                            * F.col("n_sessions_b").cast("double")
                        )
                    ),
                    6,
                )
                + F.lit(0.0)
            ).alias("pmi"),
        )
    )


# ---------------------------------------------------------------------------
# q240 exact trimmed mean — the robust-mean sibling of q114's
# winsorized stats: drop the k = floor(n/20) smallest and largest
# values per event type (5% symmetric trim BY COUNT — an integer, so
# the kept multiset is deterministic regardless of tie order) and take
# the exact mean of the rest. Ranks come from the shared grouped
# two-phase bucketed rank (grouped_two_phase_rank — no per-group
# single-task window); the mean is exact_mean_round over cent
# integers. Reported beside the untrimmed mean so the output shows
# what the tails were doing.
# ---------------------------------------------------------------------------
@query(
    "q240_trimmed_mean",
    oracle=f"""
    WITH b AS (
      SELECT event_type, event_id,
             CAST(round(value * 100) AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL
    ),
    r AS (
      SELECT event_type, v,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY v, event_id) AS rk,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM b
    ),
    k AS (SELECT event_type, CAST(MAX(n) // 20 AS BIGINT) AS k,
                 CAST(MAX(n) AS BIGINT) AS n
          FROM r GROUP BY event_type)
    SELECT r.event_type, k.n, k.k AS n_trimmed_each_side,
           {exact_mean_round_sql(
               "SUM(CASE WHEN r.rk > k.k AND r.rk <= k.n - k.k THEN r.v ELSE 0 END)",
               "(k.n - 2 * k.k) * 100", 6, sum_scale=0)} AS trimmed_mean,
           {exact_mean_round_sql("SUM(r.v)", "k.n * 100", 6, sum_scale=0)}
             AS raw_mean
    FROM r JOIN k USING (event_type)
    GROUP BY r.event_type, k.n, k.k
    """,
)
def q240_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.functions.numeric import exact_mean_round
    from airbnb_pyspark_jobs_spark.operators.sketches import (
        grouped_two_phase_rank,
    )

    events = load_table(spark, "events", sf_dir)
    b = events.filter(F.col("value").isNotNull()).select(
        "event_type",
        "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("__cents"),
    )
    r = grouped_two_phase_rank(
        b, ["event_type"], "__cents", "event_id", out_col="__rk"
    )
    k = r.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("__n")
    ).withColumn("__k", F.expr("__n div 20").cast("bigint"))
    j = r.join(F.broadcast(k), "event_type")
    kept_sum = F.sum(
        F.when(
            (F.col("__rk") > F.col("__k"))
            & (F.col("__rk") <= F.col("__n") - F.col("__k")),
            F.col("__v"),
        ).otherwise(0)
    )
    return (
        j.groupBy("event_type")
        .agg(
            F.max("__n").alias("n"),
            F.max("__k").alias("n_trimmed_each_side"),
            exact_mean_round(
                kept_sum,
                (F.max("__n") - 2 * F.max("__k")) * 100,
                6,
                sum_scale=0,
            ).alias("trimmed_mean"),
            exact_mean_round(
                F.sum("__v"), F.max("__n") * 100, 6, sum_scale=0
            ).alias("raw_mean"),
        )
    )


# ---------------------------------------------------------------------------
# q243 Kaplan-Meier survival curve of time-to-first-purchase — the
# censoring-aware sibling of q168 (time-to-convert percentiles, which
# silently drops users who never converted): every user enters at
# their first event; users with a purchase are "events" at
# dur = floor(Δ/86400 s) days, users without one are right-CENSORED at
# the corpus max timestamp. Per distinct day t:
#   n_at_risk(t) = N − Σ_{u<t} leavers(u),   S(t) = Π_{u≤t} (1 − d_u/n_u).
# Durations are exact integer microsecond arithmetic (unix_micros /
# epoch_us — no seconds truncation ambiguity); the hazard factor is
# pinned to a deterministic double via decimal_ratio_round(·, 9)
# BEFORE ln(), so both engines exponentiate identical inputs; d_u = n_u
# (everyone leaves) is guarded to −1e9 so exp() underflows to 0.0
# instead of ln(0) diverging between engines. The leavers cumulative is
# the two-phase partitioned cumsum; the survival window runs over the
# per-DAY frame, whose row count is the calendar span — bounded at any
# corpus scale (3.7k rows for a decade), the documented exception to
# the no-global-window rule (cf. analytics_queries month spine).
# ---------------------------------------------------------------------------
def _q243_oracle() -> str:
    from airbnb_pyspark_jobs_spark.functions.numeric import (
        decimal_ratio_round_sql as _drr,
    )

    ratio9 = _drr("c.n_risk - c.d", "c.n_risk", 9)
    return f"""
    WITH f AS (
      SELECT user_id, MIN(ts) AS t0 FROM events
      WHERE user_id IS NOT NULL GROUP BY user_id
    ),
    p AS (
      SELECT user_id, MIN(ts) AS tp FROM events
      WHERE user_id IS NOT NULL AND event_type = 'purchase' GROUP BY user_id
    ),
    mx AS (SELECT MAX(ts) AS mts FROM events),
    s AS (
      SELECT f.user_id,
             CASE WHEN p.tp IS NOT NULL THEN 1 ELSE 0 END AS ev,
             CAST((epoch_us(COALESCE(p.tp, mx.mts)) - epoch_us(f.t0))
                  // 86400000000 AS BIGINT) AS dur
      FROM f LEFT JOIN p USING (user_id), mx
    ),
    g AS (
      SELECT dur, CAST(SUM(ev) AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS nt
      FROM s GROUP BY dur
    ),
    c AS (
      SELECT dur, d, nt,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM s)
               - CAST(SUM(nt) OVER (ORDER BY dur) AS BIGINT) + nt AS n_risk
      FROM g
    ),
    k AS (
      SELECT c.dur, c.d, c.nt, c.n_risk,
             SUM(CASE WHEN c.n_risk - c.d > 0 THEN ln({ratio9})
                      ELSE -1e9 END) OVER (ORDER BY c.dur) AS ls
      FROM c
    )
    SELECT dur AS t_days, n_risk AS n_at_risk, d AS n_events,
           nt - d AS n_censored, round(exp(ls), 6) AS survival
    FROM k
    """


@query("q243_kaplan_meier", oracle=_q243_oracle())
def q243_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from airbnb_pyspark_jobs_spark.functions.numeric import decimal_ratio_round
    from airbnb_pyspark_jobs_spark.operators.sampling import (
        two_phase_numeric_cumsum_multi,
    )

    events = load_table(spark, "events", sf_dir).filter(
        F.col("user_id").isNotNull()
    )
    firsts = events.groupBy("user_id").agg(F.min("ts").alias("__t0"))
    purch = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("__tp"))
    )
    mx = events.agg(F.max("ts").alias("__mts"))
    subj = (
        firsts.join(purch, "user_id", "left")
        .crossJoin(F.broadcast(mx))
        .select(
            F.when(F.col("__tp").isNotNull(), 1).otherwise(0).alias("__ev"),
            F.expr(
                "(unix_micros(coalesce(__tp, __mts)) - unix_micros(__t0))"
                " div 86400000000"
            )
            .cast("bigint")
            .alias("__dur"),
        )
    )
    g = subj.groupBy("__dur").agg(
        F.sum("__ev").cast("bigint").alias("__d"),
        F.count(F.lit(1)).cast("bigint").alias("__nt"),
    )
    c = two_phase_numeric_cumsum_multi(g, "__dur", "__dur", ["__nt"], ["__cl"])
    n_tot = g.agg(F.sum("__nt").cast("bigint").alias("__n"))
    c = c.crossJoin(F.broadcast(n_tot)).withColumn(
        "__n_risk", F.col("__n") - F.col("__cl") + F.col("__nt")
    )
    factor9 = decimal_ratio_round(
        F.col("__n_risk") - F.col("__d"), F.col("__n_risk"), 9
    )
    # Bounded global window: one row per calendar DAY of corpus span.
    w = Window.orderBy("__dur").rowsBetween(Window.unboundedPreceding, 0)
    ls = F.sum(
        F.when(F.col("__n_risk") - F.col("__d") > 0, F.log(factor9)).otherwise(
            F.lit(-1e9)
        )
    ).over(w)
    return c.select(
        F.col("__dur").alias("t_days"),
        F.col("__n_risk").alias("n_at_risk"),
        F.col("__d").alias("n_events"),
        (F.col("__nt") - F.col("__d")).alias("n_censored"),
        F.round(F.exp(ls), 6).alias("survival"),
    )


# ---------------------------------------------------------------------------
# q245 Markov stationary distribution — the long-run answer to q131's
# one-step transition matrix: where does a user session SPEND its time
# if the observed dynamics run forever? Twelve synchronous power-
# iteration steps of d·P from the uniform start. The corpus-sized
# stages (user-partitioned lag window, pair counts, 9-dp transition
# probs) run in Spark; the matrix is bounded by the type domain (≤ k²
# rows), so it is collected ONCE under a loud cap and the steps run on
# the driver (collect_transition_table; SCALE_NOTES "Small-state fixed
# points run on the driver"). Determinism discipline for an iterated
# float recurrence: transition probs and every iterate are pinned to
# exact 9-dp doubles (decimal_ratio_round / exact_mean_round over
# 12-dp-rounded term DECIMALs, replayed by their functions.numeric
# Python twins), so the driver and DuckDB multiply and sum IDENTICAL
# doubles at every step and the oracle replays the trajectory verbatim
# in unrolled CTEs (q192's pattern). Types with no outgoing transitions
# would leak mass (the standard absorbing-row caveat) — every type
# self-transitions in this corpus; the invariant test asserts Σw ≈ 1.
# ---------------------------------------------------------------------------
_Q245_ITERS = 12


def _q245_oracle() -> str:
    from airbnb_pyspark_jobs_spark.functions.numeric import (
        decimal_ratio_round_sql as _drr,
        exact_mean_round_sql as _emr,
    )

    p9 = _drr("c.n", "t.t", 9)
    u9 = _drr("1", "k.k", 9)
    step = _emr(
        "SUM(CAST(round(m.p * d.w, 12) AS DECIMAL(28,12)))", "1", 9,
        sum_scale=12,
    )
    parts = [
        f"""
    WITH ordered AS (
      SELECT user_id, event_type AS to_type,
             LAG(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS from_type
      FROM events
    ),
    counts AS (
      SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM ordered WHERE from_type IS NOT NULL
      GROUP BY from_type, to_type
    ),
    totals AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS t
               FROM counts GROUP BY from_type),
    m AS (
      SELECT c.from_type, c.to_type, c.n, {p9} AS p
      FROM counts c JOIN totals t ON c.from_type = t.from_type
    ),
    k AS (SELECT CAST(COUNT(DISTINCT from_type) AS BIGINT) AS k FROM m),
    d0 AS (SELECT DISTINCT from_type AS event_type, {u9} AS w FROM m, k)"""
    ]
    for i in range(1, _Q245_ITERS + 1):
        parts.append(
            f""",
    d{i} AS (
      SELECT m.to_type AS event_type, {step} AS w
      FROM m JOIN d{i - 1} d ON m.from_type = d.event_type
      GROUP BY m.to_type
    )"""
        )
    parts.append(
        f"""
    SELECT d.event_type, t.t AS n_out_transitions, d.w AS stationary_prob
    FROM d{_Q245_ITERS} d JOIN totals t ON d.event_type = t.from_type
    """
    )
    return "".join(parts)


def _markov_term(p: float, w: float) -> Decimal:
    """``CAST(round(p * w, 12) AS DECIMAL(28,12))`` — one step term of
    the q245/q267 fixed points, as the oracle computes it."""
    return decimal_py(round_half_up_py(p * w, 12), 12)


def _markov_iterate(sums: dict) -> dict:
    """Each exact DECIMAL(·,12) step sum back to a 9-dp double — the
    oracle's ``exact_mean_round(·, 1, 9, sum_scale=12)``."""
    return {k: exact_mean_round_py(v, 1, 9, sum_scale=12) for k, v in sums.items()}


@query("q245_markov_stationary", oracle=_q245_oracle())
def q245_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    table = collect_transition_table(load_table(spark, "events", sf_dir))
    totals = {f: t for f, _, t, _ in table}
    d = dict.fromkeys(totals, decimal_ratio_round_py(1, len(totals), 9))
    for _ in range(_Q245_ITERS):
        sums = {}
        for f, to, _, p in table:
            if f in d:
                sums[to] = sums.get(to, Decimal(0)) + _markov_term(p, d[f])
        d = _markov_iterate(sums)
    return spark.createDataFrame(
        [(ty, totals[ty], w) for ty, w in d.items() if ty in totals],
        "event_type string, n_out_transitions bigint, stationary_prob double",
    )


# ---------------------------------------------------------------------------
# q247 sliding-window engagement (DAU / 7-day WAU / stickiness): the
# rolling-distinct problem is NOT decomposable (you cannot merge daily
# distinct counts), and the scalable exact answer is the BOUNDED
# FAN-OUT identity: a user active on day d is a member of exactly the
# 7 windows ending d..d+6, so explode each distinct (user, day)
# presence 7× (fixed small constant), dedupe to (user, window) and
# count — shuffles scale with presences×7, never with users², and the
# same shape handles any window length. Stickiness = DAU/WAU as an
# exact integer ratio. Day keys stay TIMESTAMP end-to-end (DATE
# round-trips differ across engines — verify-skill gotcha).
# ---------------------------------------------------------------------------
def _q247_oracle() -> str:
    from airbnb_pyspark_jobs_spark.functions.numeric import (
        decimal_ratio_round_sql as _drr,
    )

    return f"""
    WITH p AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
      FROM events WHERE user_id IS NOT NULL
    ),
    mx AS (SELECT MAX(d) AS mxd FROM p),
    w AS (
      SELECT DISTINCT user_id, d + CAST(i AS INTEGER) AS wd
      FROM p, UNNEST(range(0, 7)) AS u(i), mx
      WHERE d + CAST(i AS INTEGER) <= mx.mxd
    ),
    wau AS (SELECT wd, CAST(COUNT(*) AS BIGINT) AS wau FROM w GROUP BY wd),
    dau AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS dau FROM p GROUP BY d)
    SELECT CAST(w.wd AS TIMESTAMP) AS day,
           COALESCE(d.dau, 0) AS dau, w.wau,
           {_drr("COALESCE(d.dau, 0)", "w.wau", 6)} AS stickiness
    FROM wau w LEFT JOIN dau d ON w.wd = d.d
    """


@query("q247_sliding_distinct_users", oracle=_q247_oracle())
def q247_sliding_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.caching import owned_persist
    from airbnb_pyspark_jobs_spark.functions.numeric import decimal_ratio_round

    events = load_table(spark, "events", sf_dir).filter(
        F.col("user_id").isNotNull()
    )
    p = owned_persist(
        events.select(
            "user_id", F.date_trunc("day", "ts").cast("date").alias("__d")
        ).distinct()
    )
    mx = p.agg(F.max("__d").alias("__mxd"))
    w = (
        p.crossJoin(F.broadcast(mx))
        .select(
            "user_id",
            F.explode(F.sequence(F.lit(0), F.lit(6))).alias("__i"),
            "__d",
            "__mxd",
        )
        .select(
            "user_id", F.date_add(F.col("__d"), F.col("__i")).alias("__wd"), "__mxd"
        )
        .filter(F.col("__wd") <= F.col("__mxd"))
        .select("user_id", "__wd")
        .distinct()
    )
    wau = w.groupBy("__wd").agg(F.count(F.lit(1)).cast("bigint").alias("wau"))
    dau = p.groupBy(F.col("__d").alias("__wd")).agg(
        F.count(F.lit(1)).cast("bigint").alias("__dau")
    )
    return (
        wau.join(dau, "__wd", "left")
        .select(
            F.col("__wd").cast("timestamp").alias("day"),
            F.coalesce("__dau", F.lit(0)).cast("bigint").alias("dau"),
            "wau",
            decimal_ratio_round(
                F.coalesce("__dau", F.lit(0)).cast("bigint"), F.col("wau"), 6
            ).alias("stickiness"),
        )
    )


# ---------------------------------------------------------------------------
# q248 cohort LTV triangle — the revenue companion of q68's retention
# cohorts: group users by first-purchase week, then for each
# (cohort, weeks-since-cohort) cell report active purchasers, exact
# DECIMAL revenue, and the running cumulative LTV per cohort. The
# cumulative window is partitioned by cohort over the weeks axis —
# bounded by the calendar (52 rows/cohort/year), never corpus-sized.
# Week keys come from date_trunc('week') (ISO Monday in both engines)
# and stay TIMESTAMP; weeks_since is exact integer day arithmetic.
# ---------------------------------------------------------------------------
@query(
    "q248_cohort_ltv",
    oracle="""
    WITH pu AS (
      SELECT user_id, ts, value FROM events
      WHERE event_type = 'purchase' AND user_id IS NOT NULL
    ),
    first AS (
      SELECT user_id,
             CAST(date_trunc('week', MIN(ts)) AS DATE) AS cw
      FROM pu GROUP BY user_id
    ),
    cell AS (
      SELECT f.cw,
             CAST((CAST(date_trunc('week', p.ts) AS DATE) - f.cw) // 7
                  AS BIGINT) AS weeks_since,
             p.user_id, CAST(p.value AS DECIMAL(12,2)) AS v
      FROM pu p JOIN first f ON p.user_id = f.user_id
    ),
    g AS (
      SELECT cw, weeks_since,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active,
             SUM(v) AS rev
      FROM cell GROUP BY cw, weeks_since
    )
    SELECT CAST(cw AS TIMESTAMP) AS cohort_week, weeks_since, n_active,
           CAST(ROUND(rev, 2) AS DOUBLE) AS revenue,
           CAST(ROUND(SUM(rev) OVER (
             PARTITION BY cw ORDER BY weeks_since), 2) AS DOUBLE)
             AS cumulative_revenue
    FROM g
    """,
)
def q248_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    pu = load_table(spark, "events", sf_dir).filter(
        (F.col("event_type") == "purchase") & F.col("user_id").isNotNull()
    )
    first = pu.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("__cw")
    )
    cell = pu.join(first, "user_id").select(
        "__cw",
        (
            F.datediff(F.date_trunc("week", F.col("ts")).cast("date"), F.col("__cw"))
            / 7
        )
        .cast("bigint")
        .alias("weeks_since"),
        "user_id",
        F.col("value").cast("decimal(12,2)").alias("__v"),
    )
    g = cell.groupBy("__cw", "weeks_since").agg(
        F.count_distinct("user_id").cast("bigint").alias("n_active"),
        F.sum("__v").alias("__rev"),
    )
    w = Window.partitionBy("__cw").orderBy("weeks_since")
    return g.select(
        F.col("__cw").cast("timestamp").alias("cohort_week"),
        "weeks_since",
        "n_active",
        F.round(F.col("__rev"), 2).cast("double").alias("revenue"),
        F.round(F.sum("__rev").over(w), 2).cast("double").alias(
            "cumulative_revenue"
        ),
    )


# ---------------------------------------------------------------------------
# q250 error-burst detection — MATCH_RECOGNIZE-style CEP ("3+ errors
# from one user, each within 24 h of the previous") expressed as
# time-constrained gaps-and-islands: per user, an error starts a NEW
# burst when its gap from the previous error exceeds the window
# (lag + running sum of break
# flags, both over USER-partitioned windows — scales with the key, no
# global sort). Burst rows with n ≥ 3 report exact integer-microsecond
# durations. This is the alerting shape Flink CEP / SQL
# MATCH_RECOGNIZE covers; Spark expresses it in two windows.
# ---------------------------------------------------------------------------
@query(
    "q250_error_bursts",
    oracle="""
    WITH e AS (
      SELECT user_id, ts, event_id,
             epoch_us(ts) - epoch_us(LAG(ts) OVER (
               PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
      FROM events
      WHERE event_type = 'error' AND user_id IS NOT NULL
    ),
    b AS (
      SELECT user_id, ts, event_id,
             CAST(SUM(CASE WHEN gap_us IS NULL OR gap_us > 86400000000
                           THEN 1 ELSE 0 END) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT)
               AS burst_id
      FROM e
    ),
    g AS (
      SELECT user_id, burst_id,
             CAST(COUNT(*) AS BIGINT) AS n_errors,
             MIN(ts) AS burst_start,
             CAST((MAX(epoch_us(ts)) - MIN(epoch_us(ts))) // 1000000
                  AS BIGINT) AS duration_seconds
      FROM b GROUP BY user_id, burst_id
    )
    SELECT user_id, burst_start, n_errors, duration_seconds
    FROM g WHERE n_errors >= 3
    """,
)
def q250_error_bursts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    e = load_table(spark, "events", sf_dir).filter(
        (F.col("event_type") == "error") & F.col("user_id").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    flagged = e.select(
        "user_id",
        "ts",
        "event_id",
        F.when(gap.isNull() | (gap > 86_400_000_000), 1).otherwise(0).alias("__brk"),
    )
    wrun = w.rowsBetween(Window.unboundedPreceding, 0)
    bursts = flagged.withColumn(
        "__burst", F.sum("__brk").over(wrun).cast("bigint")
    )
    return (
        bursts.groupBy("user_id", "__burst")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_errors"),
            F.min("ts").alias("burst_start"),
            (
                (F.max(F.unix_micros("ts")) - F.min(F.unix_micros("ts")))
                / F.lit(1_000_000)
            )
            .cast("bigint")
            .alias("duration_seconds"),
        )
        .filter(F.col("n_errors") >= 3)
        .select("user_id", "burst_start", "n_errors", "duration_seconds")
    )


# ---------------------------------------------------------------------------
# q251 population stability index (PSI) — THE production drift gate
# for model inputs: per event type, compare the `value` distribution
# of the corpus's first half-window against its second half over 10
# equal-width cent buckets;
#   PSI = Σ_i (p_i − q_i)·ln(p_i / q_i)
# with Laplace-smoothed cell shares p_i=(n_i+1)/(N+10) so empty cells
# stay finite. Split point and bucket edges are exact integer
# arithmetic from ONE broadcast stats row (micros midpoint, cent
# min/max); shares are pinned to 9-dp doubles (decimal_ratio_round)
# before ln, each term is rounded to 12 dp and summed as DECIMAL, and
# the PSI finishes through the integer round-half-away path — fully
# deterministic across engines despite the logs. PSI < 0.1 is the
# conventional "stable" band; the oracle replays every step.
# ---------------------------------------------------------------------------
def _q251_oracle() -> str:
    from airbnb_pyspark_jobs_spark.functions.numeric import (
        decimal_ratio_round_sql as _drr,
        exact_mean_round_sql as _emr,
    )

    p9 = _drr("rc.n_ref + 1", "t.n_ref + 10", 9)
    q9 = _drr("rc.n_cur + 1", "t.n_cur + 10", 9)
    psi = _emr(
        "SUM(CAST(round((p - q) * ln(p / q), 12) AS DECIMAL(28,12)))",
        "1", 6, sum_scale=12,
    )
    return f"""
    WITH base AS (
      SELECT event_type, epoch_us(ts) AS us,
             CAST(round(value * 100) AS BIGINT) AS vc
      FROM events WHERE value IS NOT NULL
    ),
    st AS (
      SELECT MIN(us) + (MAX(us) - MIN(us)) // 2 AS mid,
             MIN(vc) AS mn, MAX(vc) - MIN(vc) + 1 AS ext
      FROM base
    ),
    lab AS (
      SELECT event_type,
             CASE WHEN us <= st.mid THEN 0 ELSE 1 END AS is_cur,
             LEAST((vc - st.mn) * 10 // st.ext, 9) AS b
      FROM base, st
    ),
    grid AS (
      SELECT DISTINCT event_type FROM lab
    ),
    cells AS (
      SELECT g.event_type, gb.b,
             CAST(COALESCE(SUM(CASE WHEN l.is_cur = 0 THEN 1 END), 0)
                  AS BIGINT) AS n_ref,
             CAST(COALESCE(SUM(CASE WHEN l.is_cur = 1 THEN 1 END), 0)
                  AS BIGINT) AS n_cur
      FROM grid g
      CROSS JOIN (SELECT UNNEST(range(0, 10)) AS b) gb
      LEFT JOIN lab l ON l.event_type = g.event_type AND l.b = gb.b
      GROUP BY g.event_type, gb.b
    ),
    tots AS (
      SELECT event_type, CAST(SUM(n_ref) AS BIGINT) AS n_ref,
             CAST(SUM(n_cur) AS BIGINT) AS n_cur
      FROM cells GROUP BY event_type
    ),
    shares AS (
      SELECT rc.event_type, t.n_ref, t.n_cur,
             {p9} AS p, {q9} AS q
      FROM cells rc JOIN tots t USING (event_type)
    )
    SELECT event_type, MAX(n_ref) AS n_ref, MAX(n_cur) AS n_cur,
           {psi} AS psi
    FROM shares GROUP BY event_type
    """


@query("q251_psi_drift", oracle=_q251_oracle())
def q251_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.caching import owned_persist
    from airbnb_pyspark_jobs_spark.functions.numeric import (
        decimal_ratio_round,
        exact_mean_round,
    )

    events = load_table(spark, "events", sf_dir).filter(
        F.col("value").isNotNull()
    )
    base = events.select(
        "event_type",
        F.unix_micros("ts").alias("__us"),
        F.round(F.col("value") * 100).cast("bigint").alias("__vc"),
    )
    st = base.agg(
        (F.min("__us") + F.expr("(max(__us) - min(__us)) div 2")).alias("__mid"),
        F.min("__vc").alias("__mn"),
        (F.max("__vc") - F.min("__vc") + 1).alias("__ext"),
    )
    lab = base.crossJoin(F.broadcast(st)).select(
        "event_type",
        F.when(F.col("__us") <= F.col("__mid"), 0).otherwise(1).alias("__is_cur"),
        F.least(
            F.expr("(__vc - __mn) * 10 div __ext"), F.lit(9)
        ).cast("bigint").alias("__b"),
    )
    grid = (
        lab.select("event_type")
        .distinct()
        .crossJoin(
            F.broadcast(
                spark.range(10).select(F.col("id").cast("bigint").alias("__b"))
            )
        )
    )
    counts = lab.groupBy("event_type", "__b").agg(
        F.sum(F.when(F.col("__is_cur") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("__nr"),
        F.sum(F.when(F.col("__is_cur") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("__nc"),
    )
    cells = owned_persist(
        grid.join(counts, ["event_type", "__b"], "left").select(
            "event_type",
            "__b",
            F.coalesce("__nr", F.lit(0)).cast("bigint").alias("__nr"),
            F.coalesce("__nc", F.lit(0)).cast("bigint").alias("__nc"),
        )
    )
    tots = cells.groupBy("event_type").agg(
        F.sum("__nr").cast("bigint").alias("__tnr"),
        F.sum("__nc").cast("bigint").alias("__tnc"),
    )
    shares = cells.join(F.broadcast(tots), "event_type").select(
        "event_type",
        "__tnr",
        "__tnc",
        decimal_ratio_round(F.col("__nr") + 1, F.col("__tnr") + 10, 9).alias("__p"),
        decimal_ratio_round(F.col("__nc") + 1, F.col("__tnc") + 10, 9).alias("__q"),
    )
    return shares.groupBy("event_type").agg(
        F.max("__tnr").alias("n_ref"),
        F.max("__tnc").alias("n_cur"),
        exact_mean_round(
            F.sum(
                F.round(
                    (F.col("__p") - F.col("__q")) * F.log(F.col("__p") / F.col("__q")),
                    12,
                ).cast("decimal(28,12)")
            ),
            F.lit(1).cast("bigint"),
            6,
            sum_scale=12,
        ).alias("psi"),
    )


# ---------------------------------------------------------------------------
# q253 item-item collaborative filtering — the Amazon-style "users who
# touched X also touched Y" similarity, the recommendation primitive
# over implicit feedback: cosine between item interaction-count vectors
# indexed by user. The scale discipline is the per-user CAP: each
# user keeps only their top-50 items (count desc, item asc — fully
# deterministic), so the user self-join fan-out is ≤ C²/user no matter
# how hyperactive the tail user is (uncapped, one 10⁶-item crawler
# user alone generates 10¹² pairs). Dots and squared norms are exact
# BIGINT; cosine = dot / (√a·√b) — two separately-rounded IEEE sqrts
# and one divide on identical integers-as-doubles, bit-identical
# across engines, then round(6). Support floor n_common_users ≥ 3
# prunes coincidence pairs.
# ---------------------------------------------------------------------------
@query(
    "q253_item_cosine_cf",
    oracle="""
    WITH ui AS (
      SELECT user_id,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS item,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events
      WHERE user_id IS NOT NULL
        AND json_extract_string(props, '$.k') IS NOT NULL
      GROUP BY 1, 2
    ),
    capped AS (
      SELECT user_id, item, n FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY user_id ORDER BY n DESC, item ASC) AS rk
        FROM ui
      ) WHERE rk <= 50
    ),
    norms AS (
      SELECT item, CAST(SUM(n * n) AS BIGINT) AS ss FROM capped GROUP BY item
    ),
    dots AS (
      SELECT a.item AS item_a, b.item AS item_b,
             CAST(SUM(a.n * b.n) AS BIGINT) AS dot,
             CAST(COUNT(*) AS BIGINT) AS n_common_users
      FROM capped a JOIN capped b
        ON a.user_id = b.user_id AND a.item < b.item
      GROUP BY 1, 2
    )
    SELECT d.item_a, d.item_b, d.n_common_users, d.dot,
           round(CAST(d.dot AS DOUBLE)
                 / (sqrt(CAST(na.ss AS DOUBLE)) * sqrt(CAST(nb.ss AS DOUBLE))),
                 6) AS cosine
    FROM dots d
    JOIN norms na ON d.item_a = na.item
    JOIN norms nb ON d.item_b = nb.item
    WHERE d.n_common_users >= 3
    """,
)
def q253_item_cosine_cf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from airbnb_pyspark_jobs_spark.caching import owned_persist

    events = load_table(spark, "events", sf_dir)
    ui = (
        events.select(
            "user_id",
            F.get_json_object("props", "$.k").cast("bigint").alias("item"),
        )
        .filter(F.col("user_id").isNotNull() & F.col("item").isNotNull())
        .groupBy("user_id", "item")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__n"))
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("__n").desc(), F.col("item").asc()
    )
    capped = owned_persist(
        ui.withColumn("__rk", F.row_number().over(w)).filter(F.col("__rk") <= 50)
    )
    norms = capped.groupBy("item").agg(
        F.sum(F.col("__n") * F.col("__n")).cast("bigint").alias("__ss")
    )
    a = capped.select(
        "user_id", F.col("item").alias("item_a"), F.col("__n").alias("__na")
    )
    b = capped.select(
        "user_id", F.col("item").alias("item_b"), F.col("__n").alias("__nb")
    )
    dots = (
        a.join(b, "user_id")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(
            F.sum(F.col("__na") * F.col("__nb")).cast("bigint").alias("dot"),
            F.count(F.lit(1)).cast("bigint").alias("n_common_users"),
        )
        .filter(F.col("n_common_users") >= 3)
    )
    na = norms.select(F.col("item").alias("item_a"), F.col("__ss").alias("__sa"))
    nb = norms.select(F.col("item").alias("item_b"), F.col("__ss").alias("__sb"))
    return (
        dots.join(F.broadcast(na), "item_a")
        .join(F.broadcast(nb), "item_b")
        .select(
            "item_a",
            "item_b",
            "n_common_users",
            "dot",
            F.round(
                F.col("dot").cast("double")
                / (
                    F.sqrt(F.col("__sa").cast("double"))
                    * F.sqrt(F.col("__sb").cast("double"))
                ),
                6,
            ).alias("cosine"),
        )
    )


# ---------------------------------------------------------------------------
# q255 Hill tail-index estimator — the heavy-tail diagnostic that
# completes the distribution-shape family (q181 Zipf exponent, q235
# lognormal profile): per event type, over the top k = n/20 order
# statistics of `value`,
#   α̂ = k / Σ_{i<k} ln( x_(n−i) / x_(n−k) )
# α̂ ≈ 1-2 flags power-law tails (means barely exist), α̂ large means
# thin tails. Order statistics come from the grouped two-phase rank
# (descending via negated cents — no per-group single-task sort); each
# log ratio is ln of an exactly-divided pair of BIGINT cents (one
# correctly-rounded IEEE divide → identical input to ln on both
# engines), terms rounded to 12 dp and DECIMAL-summed, and the final
# k/S division is one exact-double op, round(6).
# ---------------------------------------------------------------------------
@query(
    "q255_hill_tail_index",
    oracle="""
    WITH b AS (
      SELECT event_type, event_id,
             CAST(round(value * 100) AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL AND value > 0
    ),
    r AS (
      SELECT event_type, v,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY v DESC, event_id) AS rk,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM b
    ),
    k AS (SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
                 GREATEST(CAST(MAX(n) // 20 AS BIGINT), 2) AS k
          FROM r GROUP BY event_type),
    thr AS (
      SELECT r.event_type, r.v AS xk
      FROM r JOIN k USING (event_type) WHERE r.rk = k.k
    ),
    s AS (
      SELECT r.event_type, k.n, k.k,
             SUM(CASE WHEN r.rk < k.k THEN
                   CAST(round(ln(CAST(r.v AS DOUBLE) / CAST(t.xk AS DOUBLE)), 12)
                        AS DECIMAL(28,12))
                 ELSE CAST(0 AS DECIMAL(28,12)) END) AS lsum
      FROM r JOIN k USING (event_type) JOIN thr t USING (event_type)
      GROUP BY r.event_type, k.n, k.k
    )
    SELECT event_type, n, k,
           round(CAST(k - 1 AS DOUBLE) / CAST(lsum AS DOUBLE), 6) AS hill_alpha
    FROM s WHERE CAST(lsum AS DOUBLE) > 0
    """,
)
def q255_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.caching import owned_persist
    from airbnb_pyspark_jobs_spark.operators.sketches import (
        grouped_two_phase_rank,
    )

    events = load_table(spark, "events", sf_dir).filter(
        F.col("value").isNotNull() & (F.col("value") > 0)
    )
    b = events.select(
        "event_type",
        "event_id",
        (-F.round(F.col("value") * 100).cast("bigint")).alias("__negv"),
    )
    # descending order statistics: rank the NEGATED cents ascending
    r = owned_persist(
        grouped_two_phase_rank(
            b, ["event_type"], "__negv", "event_id", out_col="__rk"
        ).select("event_type", (-F.col("__v")).alias("__cents"), "__rk")
    )
    k = r.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.greatest(
            F.expr("count(1) div 20").cast("bigint"), F.lit(2).cast("bigint")
        ).alias("k"),
    )
    thr = (
        r.join(F.broadcast(k), "event_type")
        .filter(F.col("__rk") == F.col("k"))
        .select("event_type", F.col("__cents").alias("__xk"))
    )
    s = (
        r.join(F.broadcast(k), "event_type")
        .join(F.broadcast(thr), "event_type")
        .groupBy("event_type", "n", "k")
        .agg(
            F.sum(
                F.when(
                    F.col("__rk") < F.col("k"),
                    F.round(
                        F.log(
                            F.col("__cents").cast("double")
                            / F.col("__xk").cast("double")
                        ),
                        12,
                    ).cast("decimal(28,12)"),
                ).otherwise(F.lit(0).cast("decimal(28,12)"))
            ).alias("__lsum")
        )
    )
    return s.filter(F.col("__lsum").cast("double") > 0).select(
        "event_type",
        "n",
        "k",
        F.round(
            (F.col("k") - 1).cast("double") / F.col("__lsum").cast("double"), 6
        ).alias("hill_alpha"),
    )


# ---------------------------------------------------------------------------
# q256 capture-recapture population estimate (Chapman) — "how many
# users does this product REALLY have?" from two observation windows:
# users seen in the first half-window are the marked sample (n1), the
# second half recaptures n2 of which m overlap;
#   N̂ = (n1+1)(n2+1)/(m+1) − 1
# is Chapman's bias-corrected estimator, here per event type plus an
# honest comparison column with the true distinct count (the synthetic
# corpus observes everyone — at 100 TB with sampled telemetry it
# wouldn't). Everything is semi-join counts + one exact integer ratio.
# ---------------------------------------------------------------------------
def _q256_oracle() -> str:
    from airbnb_pyspark_jobs_spark.functions.numeric import (
        decimal_ratio_round_sql as _drr,
    )

    nhat = _drr("(n1 + 1) * (n2 + 1) - (m + 1)", "m + 1", 2)
    return f"""
    WITH st AS (
      SELECT MIN(epoch_us(ts)) + (MAX(epoch_us(ts)) - MIN(epoch_us(ts))) // 2
               AS mid
      FROM events
    ),
    lab AS (
      SELECT DISTINCT event_type, user_id,
             CASE WHEN epoch_us(ts) <= st.mid THEN 0 ELSE 1 END AS h
      FROM events, st WHERE user_id IS NOT NULL
    ),
    g AS (
      SELECT event_type,
             CAST(COUNT(DISTINCT CASE WHEN h = 0 THEN user_id END) AS BIGINT) AS n1,
             CAST(COUNT(DISTINCT CASE WHEN h = 1 THEN user_id END) AS BIGINT) AS n2,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_true
      FROM lab GROUP BY event_type
    ),
    wm AS (
      SELECT event_type, n1, n2, n_true, n1 + n2 - n_true AS m FROM g
    )
    SELECT event_type, n1, n2, m, n_true, {nhat} AS n_hat
    FROM wm
    """


@query("q256_capture_recapture", oracle=_q256_oracle())
def q256_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.functions.numeric import decimal_ratio_round

    events = load_table(spark, "events", sf_dir).filter(
        F.col("user_id").isNotNull()
    )
    st = events.agg(
        (
            F.min(F.unix_micros("ts"))
            + F.expr("(max(unix_micros(ts)) - min(unix_micros(ts))) div 2")
        ).alias("__mid")
    )
    lab = (
        events.crossJoin(F.broadcast(st))
        .select(
            "event_type",
            "user_id",
            F.when(F.unix_micros("ts") <= F.col("__mid"), 0)
            .otherwise(1)
            .alias("__h"),
        )
        .distinct()
    )
    g = lab.groupBy("event_type").agg(
        F.count_distinct(F.when(F.col("__h") == 0, F.col("user_id")))
        .cast("bigint")
        .alias("n1"),
        F.count_distinct(F.when(F.col("__h") == 1, F.col("user_id")))
        .cast("bigint")
        .alias("n2"),
        F.count_distinct("user_id").cast("bigint").alias("n_true"),
    )
    wm = g.withColumn("m", F.col("n1") + F.col("n2") - F.col("n_true"))
    return wm.select(
        "event_type",
        "n1",
        "n2",
        "m",
        "n_true",
        decimal_ratio_round(
            (F.col("n1") + 1) * (F.col("n2") + 1) - (F.col("m") + 1),
            F.col("m") + 1,
            2,
        ).alias("n_hat"),
    )


# ---------------------------------------------------------------------------
# q257 trending items per day — windowed top-k with deterministic
# ties: for every (day, item) count events, keep each day's top 3
# items (count desc, item asc). The rank window partitions by DAY —
# group cardinality is items/day, never corpus-sized — making this the
# bounded-window sibling of the two-phase global ranks. Day keys stay
# TIMESTAMP.
# ---------------------------------------------------------------------------
@query(
    "q257_trending_items",
    oracle="""
    WITH di AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS item,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events
      WHERE json_extract_string(props, '$.k') IS NOT NULL
      GROUP BY 1, 2
    ),
    r AS (
      SELECT d, item, n,
             ROW_NUMBER() OVER (PARTITION BY d ORDER BY n DESC, item ASC)
               AS rank
      FROM di
    )
    SELECT CAST(d AS TIMESTAMP) AS day, item, n, rank
    FROM r WHERE rank <= 3
    """,
)
def q257_trending_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    events = load_table(spark, "events", sf_dir)
    di = (
        events.select(
            F.date_trunc("day", "ts").cast("date").alias("__d"),
            F.get_json_object("props", "$.k").cast("bigint").alias("item"),
        )
        .filter(F.col("item").isNotNull())
        .groupBy("__d", "item")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    w = Window.partitionBy("__d").orderBy(F.col("n").desc(), F.col("item").asc())
    return (
        di.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= 3)
        .select(F.col("__d").cast("timestamp").alias("day"), "item", "n", "rank")
    )


# ---------------------------------------------------------------------------
# q258 value-decile migration matrix — the churn-aware "where did my
# best users go" product question: rank every user's purchase revenue
# into deciles separately for the first and second half-window, then
# cross-tab the movement, with decile 0 holding users absent from that
# half (new vs churned). Each half's decile comes from the GLOBAL
# two-phase numeric rank over (cents, user_id) — two bounded rank
# passes, one full-outer join on user, one |11×11|-bounded groupBy.
# Top-left persistence vs off-diagonal drift is the retention KPI.
# ---------------------------------------------------------------------------
@query(
    "q258_value_decile_migration",
    oracle="""
    WITH st AS (
      SELECT MIN(epoch_us(ts)) + (MAX(epoch_us(ts)) - MIN(epoch_us(ts))) // 2
               AS mid
      FROM events
    ),
    pu AS (
      SELECT user_id,
             CASE WHEN epoch_us(ts) <= st.mid THEN 0 ELSE 1 END AS h,
             CAST(round(value * 100) AS BIGINT) AS vc
      FROM events, st
      WHERE event_type = 'purchase' AND user_id IS NOT NULL
        AND value IS NOT NULL
    ),
    g AS (
      SELECT h, user_id, CAST(SUM(vc) AS BIGINT) AS rev
      FROM pu GROUP BY h, user_id
    ),
    r AS (
      SELECT h, user_id,
             ROW_NUMBER() OVER (PARTITION BY h ORDER BY rev, user_id) AS rk,
             COUNT(*) OVER (PARTITION BY h) AS n
      FROM g
    ),
    d AS (
      SELECT h, user_id,
             CAST((rk - 1) * 10 // n + 1 AS BIGINT) AS decile
      FROM r
    )
    SELECT COALESCE(a.decile, 0) AS decile_ref,
           COALESCE(b.decile, 0) AS decile_cur,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM (SELECT user_id, decile FROM d WHERE h = 0) a
    FULL OUTER JOIN (SELECT user_id, decile FROM d WHERE h = 1) b
      ON a.user_id = b.user_id
    GROUP BY 1, 2
    """,
)
def q258_value_decile_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.caching import owned_persist
    from airbnb_pyspark_jobs_spark.operators.sketches import (
        grouped_two_phase_rank,
    )

    events = load_table(spark, "events", sf_dir).filter(
        (F.col("event_type") == "purchase")
        & F.col("user_id").isNotNull()
        & F.col("value").isNotNull()
    )
    st = events.agg(
        (
            F.min(F.unix_micros("ts"))
            + F.expr("(max(unix_micros(ts)) - min(unix_micros(ts))) div 2")
        ).alias("__mid")
    )
    g = owned_persist(
        events.crossJoin(F.broadcast(st))
        .select(
            F.when(F.unix_micros("ts") <= F.col("__mid"), 0)
            .otherwise(1)
            .alias("__h"),
            "user_id",
            F.round(F.col("value") * 100).cast("bigint").alias("__vc"),
        )
        .groupBy("__h", "user_id")
        .agg(F.sum("__vc").cast("bigint").alias("__rev"))
    )
    r = grouped_two_phase_rank(
        g, ["__h"], "__rev", "user_id", out_col="__rk"
    ).select("__h", F.col("__tie").alias("user_id"), "__rk")
    n = g.groupBy("__h").agg(F.count(F.lit(1)).cast("bigint").alias("__n"))
    d = r.join(F.broadcast(n), "__h").select(
        "__h",
        "user_id",
        (F.expr("(__rk - 1) * 10 div __n") + 1).cast("bigint").alias("__decile"),
    )
    a = d.filter(F.col("__h") == 0).select(
        "user_id", F.col("__decile").alias("__da")
    )
    b = d.filter(F.col("__h") == 1).select(
        "user_id", F.col("__decile").alias("__db")
    )
    return (
        a.join(b, "user_id", "full_outer")
        .groupBy(
            F.coalesce("__da", F.lit(0)).cast("bigint").alias("decile_ref"),
            F.coalesce("__db", F.lit(0)).cast("bigint").alias("decile_cur"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
    )


# ---------------------------------------------------------------------------
# q260 two-level order statistics — "the median user's median gap":
# per-user exact LOWER-median inter-event gap (user-partitioned window
# — group = key, scales horizontally), then exact global deciles of
# those medians via the range-bucketed two-phase rank. Nested order
# statistics are the canonical "can't do this with one percentile()"
# shape: the inner statistic must materialize per key before the outer
# one ranks the keys. All integer seconds end-to-end.
# ---------------------------------------------------------------------------
@query(
    "q260_user_gap_percentiles",
    oracle="""
    WITH g AS (
      SELECT user_id,
             (epoch_us(ts) - epoch_us(LAG(ts) OVER (
               PARTITION BY user_id ORDER BY ts, event_id))) // 1000000
               AS gap_s
      FROM events WHERE user_id IS NOT NULL
    ),
    r AS (
      SELECT user_id, gap_s,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY gap_s) AS rk,
             COUNT(*) OVER (PARTITION BY user_id) AS m
      FROM g WHERE gap_s IS NOT NULL
    ),
    med AS (
      SELECT user_id, CAST(gap_s AS BIGINT) AS med_gap_s
      FROM r WHERE rk = (m + 1) // 2
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM med),
    mr AS (
      SELECT med_gap_s,
             ROW_NUMBER() OVER (ORDER BY med_gap_s, user_id) AS rk
      FROM med
    )
    SELECT CAST(p AS DOUBLE) / 10 AS p,
           CAST(CEIL(CAST(p AS DOUBLE) / 10 * n.n) AS BIGINT) AS rank,
           CAST(mr.med_gap_s AS DOUBLE) AS value
    FROM (SELECT UNNEST(range(1, 10)) AS p) ps
    CROSS JOIN n
    JOIN mr ON mr.rk = CAST(CEIL(CAST(p AS DOUBLE) / 10 * n.n) AS BIGINT)
    """,
)
def q260_user_gap_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from airbnb_pyspark_jobs_spark.operators.sketches import exact_quantiles

    events = load_table(spark, "events", sf_dir).filter(
        F.col("user_id").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = events.select(
        "user_id",
        (
            (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w)))
            / F.lit(1_000_000)
        )
        .cast("bigint")
        .alias("__gap_s"),
    ).filter(F.col("__gap_s").isNotNull())
    wr = Window.partitionBy("user_id").orderBy("__gap_s")
    r = g.select(
        "user_id",
        "__gap_s",
        F.row_number().over(wr).alias("__rk"),
        F.count(F.lit(1)).over(Window.partitionBy("user_id")).alias("__m"),
    )
    med = r.filter(F.col("__rk") == F.expr("(__m + 1) div 2")).select(
        F.col("__gap_s").cast("bigint").alias("med_gap_s")
    )
    return exact_quantiles(
        med, "med_gap_s", [i / 10 for i in range(1, 10)]
    )


# ---------------------------------------------------------------------------
# q267 absorption probabilities — the conversion-modeling question on
# top of q131/q245: starting from each NON-absorbing event type, what
# is the probability the user's next-event chain hits `purchase`
# before `error`? Absorbing-chain identity x = b + Q·x (b = one-step
# P(→purchase), Q = transient→transient block), solved by 20
# synchronous fixed-point steps (x₀ = 0, monotone non-decreasing — the
# iterate is exact for chains that absorb within 20 steps and a
# certified lower bound otherwise). The steps run on the driver over
# the transition table collected once, as in q245. Determinism: q245's
# discipline — P pinned to 9-dp, products rounded to 12 dp, DECIMAL
# sums, integer round-half-away back to 9 dp each step; the oracle
# replays all 20 steps in unrolled CTEs.
# ---------------------------------------------------------------------------
_Q267_ITERS = 20
_Q267_WIN, _Q267_LOSE = "purchase", "error"


def _q267_oracle() -> str:
    from airbnb_pyspark_jobs_spark.functions.numeric import (
        decimal_ratio_round_sql as _drr,
        exact_mean_round_sql as _emr,
    )

    p9 = _drr("c.n", "t.t", 9)
    step = _emr(
        "COALESCE(SUM(CAST(round(q.p * x.w, 12) AS DECIMAL(28,12))), 0)"
        " + CAST(b.b AS DECIMAL(28,12))",
        "1", 9, sum_scale=12,
    )
    parts = [
        f"""
    WITH ordered AS (
      SELECT user_id, event_type AS to_type,
             LAG(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS from_type
      FROM events
    ),
    counts AS (
      SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM ordered WHERE from_type IS NOT NULL
      GROUP BY from_type, to_type
    ),
    totals AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS t
               FROM counts GROUP BY from_type),
    m AS MATERIALIZED (
      SELECT c.from_type, c.to_type, c.n, {p9} AS p
      FROM counts c JOIN totals t ON c.from_type = t.from_type
      WHERE c.from_type NOT IN ('{_Q267_WIN}', '{_Q267_LOSE}')
    ),
    bvec AS MATERIALIZED (
      SELECT t.from_type,
             COALESCE(MAX(CASE WHEN m.to_type = '{_Q267_WIN}'
                               THEN m.p END), 0.0) AS b
      FROM (SELECT DISTINCT from_type FROM m) t
      LEFT JOIN m ON t.from_type = m.from_type
      GROUP BY t.from_type
    ),
    qm AS MATERIALIZED (
      SELECT from_type, to_type, p FROM m
      WHERE to_type NOT IN ('{_Q267_WIN}', '{_Q267_LOSE}')
    ),
    x0 AS (SELECT from_type AS event_type, CAST(0.0 AS DOUBLE) AS w
           FROM bvec)"""
    ]
    for i in range(1, _Q267_ITERS + 1):
        parts.append(
            f""",
    x{i} AS MATERIALIZED (
      SELECT b.from_type AS event_type, {step} AS w
      FROM bvec b
      LEFT JOIN qm q ON q.from_type = b.from_type
      LEFT JOIN x{i - 1} x ON q.to_type = x.event_type
      GROUP BY b.from_type, b.b
    )"""
        )
    parts.append(
        f"""
    SELECT x.event_type, t.t AS n_out_transitions,
           x.w AS p_purchase_before_error
    FROM x{_Q267_ITERS} x JOIN totals t ON x.event_type = t.from_type
    """
    )
    return "".join(parts)


@query("q267_absorption_prob", oracle=_q267_oracle())
def q267_absorption_prob(spark: SparkSession, sf_dir: str) -> DataFrame:
    table = collect_transition_table(load_table(spark, "events", sf_dir))
    totals = {f: t for f, _, t, _ in table}
    absorbing = (_Q267_WIN, _Q267_LOSE)
    m = [(f, to, p) for f, to, _, p in table if f not in absorbing]
    b = {f: 0.0 for f, _, _ in m}
    b.update({f: p for f, to, p in m if to == _Q267_WIN})
    qm = [(f, to, p) for f, to, p in m if to not in absorbing]
    x = dict.fromkeys(b, 0.0)
    for _ in range(_Q267_ITERS):
        # x_f = b_f + Σ_to Q[f, to]·x_to; a target with no outgoing row
        # has no iterate (the oracle's NULL, which SUM skips)
        sums = {f: decimal_py(bf, 12) for f, bf in b.items()}
        for f, to, p in qm:
            if to in x:
                sums[f] += _markov_term(p, x[to])
        x = _markov_iterate(sums)
    return spark.createDataFrame(
        [(ty, totals[ty], w) for ty, w in x.items()],
        "event_type string, n_out_transitions bigint, p_purchase_before_error double",
    )


# ---------------------------------------------------------------------------
# q270 one-way ANOVA F — does mean `value` differ ACROSS ALL event
# types at once? Completes the testing family (q198 Welch is pairwise,
# q220 rank-sum, q212 χ², q213 KS): with cents c_i and group sums
# exact BIGINT/DECIMAL(38),
#   SSB = Σ_g T_g²/n_g − T²/n,   SSW = Σ c² − Σ_g T_g²/n_g,
#   F = (SSB/(k−1)) / (SSW/(n−k)).
# The only nonexact steps are the two final double divisions on
# identical integers-as-doubles; per-group T_g²/n_g is pinned at 6 dp
# and DECIMAL-summed, so both engines carry the same grand totals.
# ---------------------------------------------------------------------------
@query(
    "q270_anova_f",
    oracle="""
    WITH b AS (
      SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c
      FROM events WHERE value IS NOT NULL
    ),
    g AS (
      SELECT event_type, CAST(SUM(c) AS HUGEINT) AS tg,
             CAST(COUNT(*) AS BIGINT) AS ng,
             CAST(SUM(CAST(c AS HUGEINT) * c) AS HUGEINT) AS ss
      FROM b GROUP BY event_type
    ),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(ng) AS BIGINT) AS n,
             CAST(SUM(tg) AS HUGEINT) AS t,
             CAST(SUM(ss) AS HUGEINT) AS sstot,
             CAST(SUM(CAST(round(CAST(tg * tg AS DOUBLE) / CAST(ng AS DOUBLE), 6)
                           AS DECIMAL(38,6))) AS DECIMAL(38,6)) AS sgs
      FROM g
    )
    SELECT k, n,
      round(
        (CAST(sgs AS DOUBLE) - CAST(t * t AS DOUBLE) / CAST(n AS DOUBLE))
          / CAST(k - 1 AS DOUBLE)
        / ((CAST(sstot AS DOUBLE) - CAST(sgs AS DOUBLE))
           / CAST(n - k AS DOUBLE)),
      6) AS f_stat
    FROM agg
    """,
)
def q270_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir).filter(
        F.col("value").isNotNull()
    )
    D = "decimal(38,0)"
    b = events.select(
        "event_type", F.round(F.col("value") * 100).cast("bigint").alias("__c")
    )
    g = b.groupBy("event_type").agg(
        F.sum("__c").cast(D).alias("__tg"),
        F.count(F.lit(1)).cast("bigint").alias("__ng"),
        F.sum(F.col("__c").cast(D) * F.col("__c")).cast(D).alias("__ss"),
    )
    agg = g.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("__ng").cast("bigint").alias("n"),
        F.sum("__tg").cast(D).alias("__t"),
        F.sum("__ss").cast(D).alias("__sstot"),
        F.sum(
            F.round(
                (F.col("__tg") * F.col("__tg")).cast("double")
                / F.col("__ng").cast("double"),
                6,
            ).cast("decimal(38,6)")
        )
        .cast("decimal(38,6)")
        .alias("__sgs"),
    )
    ssb = F.col("__sgs").cast("double") - (
        F.col("__t") * F.col("__t")
    ).cast("double") / F.col("n").cast("double")
    ssw = F.col("__sstot").cast("double") - F.col("__sgs").cast("double")
    return agg.select(
        "k",
        "n",
        F.round(
            (ssb / (F.col("k") - 1).cast("double"))
            / (ssw / (F.col("n") - F.col("k")).cast("double")),
            6,
        ).alias("f_stat"),
    )


# ---------------------------------------------------------------------------
# q274 exact 1-D earth-mover distance (Wasserstein-1) between the
# purchase and view `value` distributions — the magnitude-aware
# complement of q213's KS (max CDF gap) and q251's PSI (bucketed):
#   EMD = ∫|F1 − F2| dv = Σ over consecutive distinct values
#         |c1·n2 − c2·n1| · Δv / (n1·n2)
# computed EXACTLY: per-distinct-value class counts, two-phase
# cumulative sums for c1/c2, the Δv neighbor gap from a rank self-join
# (rank+1 equi-join over the distinct-value frame — no corpus-global
# window), and one final HUGEINT ratio in dollars.
# ---------------------------------------------------------------------------
def _q274_oracle() -> str:
    from airbnb_pyspark_jobs_spark.functions.numeric import (
        decimal_ratio_round_sql as _drr,
    )

    emd = _drr("SUM(term)", "t.n1 * t.n2 * 100", 6)
    return f"""
    WITH s AS (
      SELECT CAST(round(value * 100) AS BIGINT) AS v,
             CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END)
                  AS BIGINT) AS a,
             CAST(COUNT(CASE WHEN event_type = 'view' THEN 1 END)
                  AS BIGINT) AS b
      FROM events
      WHERE event_type IN ('purchase', 'view') AND value IS NOT NULL
      GROUP BY 1
    ),
    c AS (
      SELECT v,
             CAST(SUM(a) OVER (ORDER BY v) AS BIGINT) AS c1,
             CAST(SUM(b) OVER (ORDER BY v) AS BIGINT) AS c2,
             LEAD(v) OVER (ORDER BY v) AS nv
      FROM s
    ),
    t AS (SELECT CAST(SUM(a) AS BIGINT) AS n1, CAST(SUM(b) AS BIGINT) AS n2
          FROM s),
    terms AS (
      SELECT CAST(abs(CAST(c1 AS HUGEINT) * t.n2 - CAST(c2 AS HUGEINT) * t.n1)
                  * (nv - v) AS HUGEINT) AS term
      FROM c, t WHERE nv IS NOT NULL
    )
    SELECT t.n1, t.n2, {emd} AS emd_dollars
    FROM terms, t
    GROUP BY t.n1, t.n2
    """


@query("q274_earth_mover_distance", oracle=_q274_oracle())
def q274_earth_mover_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.caching import owned_persist
    from airbnb_pyspark_jobs_spark.functions.numeric import decimal_ratio_round
    from airbnb_pyspark_jobs_spark.operators.sampling import (
        two_phase_numeric_cumsum_multi,
        two_phase_numeric_rank,
    )

    events = load_table(spark, "events", sf_dir).filter(
        F.col("event_type").isin("purchase", "view")
        & F.col("value").isNotNull()
    )
    s = owned_persist(
        events.groupBy(
            F.round(F.col("value") * 100).cast("bigint").alias("__v")
        ).agg(
            F.count(F.when(F.col("event_type") == "purchase", 1))
            .cast("bigint")
            .alias("__a"),
            F.count(F.when(F.col("event_type") == "view", 1))
            .cast("bigint")
            .alias("__b2"),
        )
    )
    c = two_phase_numeric_cumsum_multi(
        s, "__v", "__v", ["__a", "__b2"], ["__c1", "__c2"]
    )
    ranked = owned_persist(
        two_phase_numeric_rank(
            c.select("__v", "__c1", "__c2"), "__v", "__v", "__rk"
        )
    )
    nxt = ranked.select(
        (F.col("__rk") - 1).alias("__rk"), F.col("__v").alias("__nv")
    )
    t = s.agg(
        F.sum("__a").cast("bigint").alias("__n1"),
        F.sum("__b2").cast("bigint").alias("__n2"),
    )
    D = "decimal(38,0)"
    terms = (
        ranked.join(nxt, "__rk")
        .crossJoin(F.broadcast(t))
        .select(
            (
                F.abs(
                    F.col("__c1").cast(D) * F.col("__n2")
                    - F.col("__c2").cast(D) * F.col("__n1")
                )
                * (F.col("__nv") - F.col("__v"))
            )
            .cast(D)
            .alias("__term"),
            "__n1",
            "__n2",
        )
    )
    return terms.groupBy("__n1", "__n2").agg(
        decimal_ratio_round(
            F.sum("__term").cast(D),
            F.col("__n1").cast(D) * F.col("__n2") * 100,
            6,
        ).alias("emd_dollars")
    ).select(
        F.col("__n1").alias("n1"), F.col("__n2").alias("n2"), "emd_dollars"
    )


# ---------------------------------------------------------------------------
# q275 decile-shift table — WHERE do two distributions differ? q213
# says IF (max CDF gap), q274 says HOW MUCH (mass transport); this
# gives the quantile-by-quantile picture analysts act on: exact
# deciles of purchase vs view values side by side with the per-decile
# shift. Two range-bucketed exact-quantile passes, one broadcast join
# on p; everything integer cents until the final dollar casts.
# ---------------------------------------------------------------------------
@query(
    "q275_decile_shift",
    oracle="""
    WITH b AS (
      SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v,
             event_id
      FROM events
      WHERE event_type IN ('purchase', 'view') AND value IS NOT NULL
    ),
    r AS (
      SELECT event_type, v,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY v, event_id)
               AS rk,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM b
    ),
    pts AS (SELECT UNNEST(range(1, 10)) AS d),
    q AS (
      SELECT r.event_type, CAST(p.d AS DOUBLE) / 10 AS p, r.v
      FROM pts p JOIN r
        ON r.rk = CAST(CEIL(CAST(p.d AS DOUBLE) / 10 * r.n) AS BIGINT)
    )
    SELECT a.p,
           CAST(a.v AS DOUBLE) / 100 AS purchase_value,
           CAST(b.v AS DOUBLE) / 100 AS view_value,
           CAST(a.v - b.v AS DOUBLE) / 100 AS shift_dollars
    FROM (SELECT p, v FROM q WHERE event_type = 'purchase') a
    JOIN (SELECT p, v FROM q WHERE event_type = 'view') b USING (p)
    """,
)
def q275_decile_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.operators.sketches import exact_quantiles

    events = load_table(spark, "events", sf_dir).filter(
        F.col("value").isNotNull()
    )
    probs = [i / 10 for i in range(1, 10)]

    def dec(t: str, out: str) -> DataFrame:
        f = events.filter(F.col("event_type") == t).select(
            F.round(F.col("value") * 100).cast("bigint").alias("__cents")
        )
        return exact_quantiles(f, "__cents", probs).select(
            "p", F.col("value").alias(out)
        )

    a = dec("purchase", "__pv")
    b = dec("view", "__vv")
    return a.join(F.broadcast(b), "p").select(
        "p",
        (F.col("__pv") / 100).cast("double").alias("purchase_value"),
        (F.col("__vv") / 100).cast("double").alias("view_value"),
        ((F.col("__pv") - F.col("__vv")) / 100)
        .cast("double")
        .alias("shift_dollars"),
    )


# ---------------------------------------------------------------------------
# q276 seasonal decomposition of daily event volume — the classic
# trend + day-of-week + residual split that turns "volume looks weird"
# into a number per component: trend = centered 7-day moving average
# (exact window-sum / window-count ratio, truncated at the edges), dow
# effect = exact mean of the detrended series per weekday, residual =
# the rest. Every window runs over the per-DAY frame (calendar-
# bounded); the residual is what q167's anomaly flags should be fed at
# scale. All ratios integer-exact before one final rounding.
# ---------------------------------------------------------------------------
def _q276_oracle() -> str:
    from airbnb_pyspark_jobs_spark.functions.numeric import (
        decimal_ratio_round_sql as _drr,
        exact_mean_round_sql as _emr,
    )

    trend = _drr(
        "SUM(n) OVER (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)",
        "COUNT(n) OVER (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)",
        6,
    )
    eff = _emr(
        "SUM(CAST(round(n - trend, 6) AS DECIMAL(28,6)))", "COUNT(*)", 6,
        sum_scale=6,
    )
    return f"""
    WITH b AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ),
    tr AS (
      SELECT d, n, dayofweek(d) + 1 AS dow, {trend} AS trend
      FROM b
    ),
    eff AS (
      SELECT dow, {eff} AS dow_effect FROM tr GROUP BY dow
    )
    SELECT CAST(t.d AS TIMESTAMP) AS day, t.n AS n_events, t.trend,
           e.dow_effect,
           round(t.n - t.trend - e.dow_effect, 6) AS residual
    FROM tr t JOIN eff e USING (dow)
    """


@query("q276_seasonal_decompose", oracle=_q276_oracle())
def q276_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from airbnb_pyspark_jobs_spark.caching import owned_persist
    from airbnb_pyspark_jobs_spark.functions.numeric import (
        decimal_ratio_round,
        exact_mean_round,
    )

    events = load_table(spark, "events", sf_dir)
    b = events.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("__d")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("__n"))
    # bounded global window: one row per calendar day
    w7 = Window.orderBy("__d").rowsBetween(-3, 3)
    tr = owned_persist(
        b.select(
            "__d",
            "__n",
            (F.dayofweek("__d")).alias("__dow"),
            decimal_ratio_round(
                F.sum("__n").over(w7), F.count("__n").over(w7), 6
            ).alias("__trend"),
        )
    )
    eff = tr.groupBy("__dow").agg(
        exact_mean_round(
            F.sum(
                F.round(F.col("__n") - F.col("__trend"), 6).cast(
                    "decimal(28,6)"
                )
            ),
            F.count(F.lit(1)).cast("bigint"),
            6,
            sum_scale=6,
        ).alias("__eff")
    )
    return tr.join(F.broadcast(eff), "__dow").select(
        F.col("__d").cast("timestamp").alias("day"),
        F.col("__n").alias("n_events"),
        F.col("__trend").alias("trend"),
        F.col("__eff").alias("dow_effect"),
        F.round(
            F.col("__n") - F.col("__trend") - F.col("__eff"), 6
        ).alias("residual"),
    )


# ---------------------------------------------------------------------------
# q283 segment propensity — does the q258-style value segmentation
# actually PREDICT anything? Users are decile-ranked on first-half
# activity (event count; decile 0 = inactive in the first half), then
# each decile reports its second-half purchase propensity with the
# q207 Wilson 95% lower bound (deciles are small where it matters —
# raw rates overrank sparse cells). Deciles from the grouped two-phase
# rank; outcome is one semi-join-free boolean aggregate per user.
# ---------------------------------------------------------------------------
@query(
    "q283_segment_propensity",
    oracle="""
    WITH st AS (
      SELECT MIN(epoch_us(ts)) + (MAX(epoch_us(ts)) - MIN(epoch_us(ts))) // 2
               AS mid
      FROM events WHERE user_id IS NOT NULL
    ),
    act AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n
      FROM events, st
      WHERE user_id IS NOT NULL AND epoch_us(ts) <= st.mid
      GROUP BY user_id
    ),
    outc AS (
      SELECT user_id,
             CAST(MAX(CASE WHEN event_type = 'purchase'
                           AND epoch_us(ts) > st.mid THEN 1 ELSE 0 END)
                  AS BIGINT) AS converted
      FROM events, st WHERE user_id IS NOT NULL
      GROUP BY user_id
    ),
    r AS (
      SELECT user_id,
             ROW_NUMBER() OVER (ORDER BY n, user_id) AS rk,
             COUNT(*) OVER () AS cnt
      FROM act
    ),
    seg AS (
      SELECT o.user_id,
             CAST(COALESCE((r.rk - 1) * 10 // r.cnt + 1, 0) AS BIGINT)
               AS decile,
             o.converted
      FROM outc o LEFT JOIN r ON o.user_id = r.user_id
    ),
    g AS (
      SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(converted) AS BIGINT) AS n_converted
      FROM seg GROUP BY decile
    )
    SELECT decile, n_users, n_converted,
           round(CAST(n_converted AS DOUBLE) / CAST(n_users AS DOUBLE), 6)
             AS conv_rate,
           round((CAST(n_converted AS DOUBLE) / CAST(n_users AS DOUBLE)
                  + CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)
                    / (CAST(2 AS DOUBLE) * CAST(n_users AS DOUBLE))
                  - CAST(1.96 AS DOUBLE)
                    * sqrt((CAST(n_converted AS DOUBLE)
                            / CAST(n_users AS DOUBLE))
                           * (CAST(1.0 AS DOUBLE)
                              - CAST(n_converted AS DOUBLE)
                                / CAST(n_users AS DOUBLE))
                           / CAST(n_users AS DOUBLE)
                           + CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)
                             / (CAST(4 AS DOUBLE)
                                * CAST(n_users AS DOUBLE)
                                * CAST(n_users AS DOUBLE))))
                 / (CAST(1.0 AS DOUBLE)
                    + CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)
                      / CAST(n_users AS DOUBLE)), 6) AS wilson_low
    FROM g
    """,
)
def q283_segment_propensity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.caching import owned_persist
    from airbnb_pyspark_jobs_spark.operators.sketches import (
        grouped_two_phase_rank,
    )

    events = load_table(spark, "events", sf_dir).filter(
        F.col("user_id").isNotNull()
    )
    st = events.agg(
        (
            F.min(F.unix_micros("ts"))
            + F.expr("(max(unix_micros(ts)) - min(unix_micros(ts))) div 2")
        ).alias("__mid")
    )
    lab = owned_persist(
        events.crossJoin(F.broadcast(st)).select(
            "user_id",
            "event_type",
            F.when(F.unix_micros("ts") <= F.col("__mid"), 0)
            .otherwise(1)
            .alias("__h"),
        )
    )
    act = (
        lab.filter(F.col("__h") == 0)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__n"))
        .withColumn("__g", F.lit(1))
    )
    outc = lab.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("__h") == 1), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("__conv")
    )
    r = grouped_two_phase_rank(
        act, ["__g"], "__n", "user_id", out_col="__rk"
    ).select(F.col("__tie").alias("user_id"), "__rk")
    cnt = act.agg(F.count(F.lit(1)).cast("bigint").alias("__cnt"))
    seg = (
        outc.join(r, "user_id", "left")
        .crossJoin(F.broadcast(cnt))
        .select(
            F.coalesce(
                F.expr("(__rk - 1) * 10 div __cnt") + 1, F.lit(0)
            )
            .cast("bigint")
            .alias("decile"),
            "__conv",
        )
    )
    g = seg.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("__conv").cast("bigint").alias("n_converted"),
    )
    z = F.lit(1.96)
    n = F.col("n_users").cast("double")
    p = F.col("n_converted").cast("double") / n
    wilson = (
        p
        + z * z / (F.lit(2.0) * n)
        - z * F.sqrt(p * (F.lit(1.0) - p) / n + z * z / (F.lit(4.0) * n * n))
    ) / (F.lit(1.0) + z * z / n)
    return g.select(
        "decile",
        "n_users",
        "n_converted",
        F.round(p, 6).alias("conv_rate"),
        F.round(wilson, 6).alias("wilson_low"),
    )


# ---------------------------------------------------------------------------
# q284 catalog novelty rate — how fast does the item catalog drift?
# Per second-half day, the share of interactions touching items NEVER
# seen in the first half (the cold-start load a recommender faces).
# First-half item set is one distinct aggregate joined broadcast;
# everything else is scan-side flags and exact ratios.
# ---------------------------------------------------------------------------
def _q284_oracle() -> str:
    from airbnb_pyspark_jobs_spark.functions.numeric import (
        decimal_ratio_round_sql as _drr,
    )

    rate = _drr("SUM(is_new)", "COUNT(*)", 6)
    return f"""
    WITH st AS (
      SELECT MIN(epoch_us(ts)) + (MAX(epoch_us(ts)) - MIN(epoch_us(ts))) // 2
               AS mid
      FROM events
    ),
    base AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS item,
             epoch_us(ts) AS us
      FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL
    ),
    seen AS (
      SELECT DISTINCT item FROM base, st WHERE us <= st.mid
    ),
    cur AS (
      SELECT b.d, b.item,
             CASE WHEN s.item IS NULL THEN 1 ELSE 0 END AS is_new
      FROM base b LEFT JOIN seen s ON b.item = s.item, st
      WHERE b.us > st.mid
    )
    SELECT CAST(d AS TIMESTAMP) AS day,
           CAST(COUNT(*) AS BIGINT) AS n_interactions,
           CAST(SUM(is_new) AS BIGINT) AS n_new_item_interactions,
           {rate} AS novelty_rate
    FROM cur GROUP BY d
    """


@query("q284_catalog_novelty", oracle=_q284_oracle())
def q284_catalog_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.caching import owned_persist
    from airbnb_pyspark_jobs_spark.functions.numeric import decimal_ratio_round

    events = load_table(spark, "events", sf_dir)
    base = owned_persist(
        events.select(
            F.date_trunc("day", "ts").cast("date").alias("__d"),
            F.get_json_object("props", "$.k").cast("bigint").alias("__item"),
            F.unix_micros("ts").alias("__us"),
        ).filter(F.col("__item").isNotNull())
    )
    st = base.agg(
        (
            F.min("__us") + F.expr("(max(__us) - min(__us)) div 2")
        ).alias("__mid")
    )
    b = base.crossJoin(F.broadcast(st))
    seen = (
        b.filter(F.col("__us") <= F.col("__mid")).select("__item").distinct()
    ).withColumn("__seen", F.lit(1))
    cur = (
        b.filter(F.col("__us") > F.col("__mid"))
        .join(F.broadcast(seen), "__item", "left")
        .select(
            "__d",
            F.when(F.col("__seen").isNull(), 1).otherwise(0).alias("__new"),
        )
    )
    return cur.groupBy("__d").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_interactions"),
        F.sum("__new").cast("bigint").alias("n_new_item_interactions"),
        decimal_ratio_round(
            F.sum("__new").cast("bigint"), F.count(F.lit(1)).cast("bigint"), 6
        ).alias("novelty_rate"),
    ).select(
        F.col("__d").cast("timestamp").alias("day"),
        "n_interactions",
        "n_new_item_interactions",
        "novelty_rate",
    )


# ---------------------------------------------------------------------------
# q286 distribution-free median CI — an exact-order-statistics 95%
# confidence interval for each type's median `value`: by the binomial
# argument the interval [x_(l), x_(u)] with
#   l = floor(n/2 − 0.98·√n),  u = ceil(n/2 + 0.98·√n) + 1
# covers the true median at ≈95% without ANY distributional
# assumption (0.98 = 1.96/2). Rank bounds are deterministic arithmetic
# on one broadcast (n) row; the two order statistics come from the
# grouped two-phase rank — no per-group sort, no bootstrap resampling
# (cf. q218, which bootstraps the MEAN).
# ---------------------------------------------------------------------------
@query(
    "q286_median_ci",
    oracle="""
    WITH b AS (
      SELECT event_type, event_id,
             CAST(round(value * 100) AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL
    ),
    r AS (
      SELECT event_type, v,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY v, event_id) AS rk,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM b
    ),
    k AS (
      SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
             GREATEST(CAST(FLOOR(MAX(n) / 2.0
                       - CAST(0.98 AS DOUBLE) * sqrt(MAX(n))) AS BIGINT), 1)
               AS lo_rk,
             LEAST(CAST(CEIL(MAX(n) / 2.0
                       + CAST(0.98 AS DOUBLE) * sqrt(MAX(n))) AS BIGINT) + 1,
                   CAST(MAX(n) AS BIGINT)) AS hi_rk,
             CAST((MAX(n) + 1) // 2 AS BIGINT) AS med_rk
      FROM r GROUP BY event_type
    )
    SELECT k.event_type, k.n,
           CAST(m.v AS DOUBLE) / 100 AS median,
           CAST(l.v AS DOUBLE) / 100 AS ci_low,
           CAST(h.v AS DOUBLE) / 100 AS ci_high
    FROM k
    JOIN r m ON m.event_type = k.event_type AND m.rk = k.med_rk
    JOIN r l ON l.event_type = k.event_type AND l.rk = k.lo_rk
    JOIN r h ON h.event_type = k.event_type AND h.rk = k.hi_rk
    """,
)
def q286_median_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.caching import owned_persist
    from airbnb_pyspark_jobs_spark.operators.sketches import (
        grouped_two_phase_rank,
    )

    events = load_table(spark, "events", sf_dir).filter(
        F.col("value").isNotNull()
    )
    b = events.select(
        "event_type",
        "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("__cents"),
    )
    r = owned_persist(
        grouped_two_phase_rank(
            b, ["event_type"], "__cents", "event_id", out_col="__rk"
        ).select("event_type", F.col("__v").alias("__cents"), "__rk")
    )
    nn = r.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    k = nn.select(
        "event_type",
        "n",
        F.greatest(
            F.floor(
                F.col("n") / 2.0 - F.lit(0.98) * F.sqrt(F.col("n").cast("double"))
            ).cast("bigint"),
            F.lit(1).cast("bigint"),
        ).alias("__lo"),
        F.least(
            F.ceil(
                F.col("n") / 2.0 + F.lit(0.98) * F.sqrt(F.col("n").cast("double"))
            ).cast("bigint")
            + 1,
            F.col("n"),
        ).alias("__hi"),
        F.expr("(n + 1) div 2").cast("bigint").alias("__med"),
    )
    kb = F.broadcast(k)

    def pick(rk_col: str, out: str) -> DataFrame:
        return (
            r.join(kb, "event_type")
            .filter(F.col("__rk") == F.col(rk_col))
            .select(
                "event_type",
                (F.col("__cents").cast("double") / 100).alias(out),
            )
        )

    return (
        k.select("event_type", "n")
        .join(pick("__med", "median"), "event_type")
        .join(pick("__lo", "ci_low"), "event_type")
        .join(pick("__hi", "ci_high"), "event_type")
    )


# ---------------------------------------------------------------------------
# q287 conversion-window sensitivity — how much does the "converted
# within X" definition move the metric? Each view's time-to-NEXT-
# purchase is computed ONCE (per-user descending running-min window —
# scales with the user key), then every window bound is a post-hoc
# filter over a 3-row threshold table: compute once, slice many —
# never one range join per bound. Exact integer second gaps and
# ratios.
# ---------------------------------------------------------------------------
@query(
    "q287_conversion_window_sensitivity",
    oracle="""
    WITH e AS (
      SELECT user_id, event_type, ts, event_id, epoch_us(ts) AS us
      FROM events WHERE user_id IS NOT NULL
    ),
    nxt AS (
      SELECT user_id, event_type, us,
             MIN(CASE WHEN event_type = 'purchase' THEN us END) OVER (
               PARTITION BY user_id ORDER BY us, event_id
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_pus
      FROM e
    ),
    v AS (
      SELECT (next_pus - us) // 1000000 AS gap_s
      FROM nxt WHERE event_type = 'view'
    ),
    w AS (SELECT UNNEST([600, 3600, 86400]) AS window_seconds)
    SELECT CAST(w.window_seconds AS BIGINT) AS window_seconds,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM v) AS n_views,
           CAST(COUNT(CASE WHEN v.gap_s IS NOT NULL
                           AND v.gap_s <= w.window_seconds THEN 1 END)
                AS BIGINT) AS n_converted,
           round(CAST(COUNT(CASE WHEN v.gap_s IS NOT NULL
                                 AND v.gap_s <= w.window_seconds THEN 1 END)
                      AS DOUBLE)
                 / (SELECT CAST(COUNT(*) AS DOUBLE) FROM v), 6) AS conv_rate
    FROM w, v
    GROUP BY w.window_seconds
    """,
)
def q287_conversion_window_sensitivity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql.window import Window

    from airbnb_pyspark_jobs_spark.caching import owned_persist

    events = load_table(spark, "events", sf_dir).filter(
        F.col("user_id").isNotNull()
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("__us", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    nxt = events.select(
        "user_id",
        "event_type",
        "event_id",
        F.unix_micros("ts").alias("__us"),
    ).withColumn(
        "__next_pus",
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("__us"))
        ).over(w),
    )
    v = owned_persist(
        nxt.filter(F.col("event_type") == "view").select(
            F.expr("(__next_pus - __us) div 1000000").cast("bigint").alias(
                "__gap_s"
            )
        )
    )
    tot = v.agg(F.count(F.lit(1)).cast("bigint").alias("__n_views"))
    ws = spark.createDataFrame(
        [(600,), (3600,), (86400,)], ["window_seconds"]
    ).select(F.col("window_seconds").cast("bigint").alias("window_seconds"))
    return (
        v.crossJoin(F.broadcast(ws))
        .groupBy("window_seconds")
        .agg(
            F.count(
                F.when(
                    F.col("__gap_s").isNotNull()
                    & (F.col("__gap_s") <= F.col("window_seconds")),
                    1,
                )
            )
            .cast("bigint")
            .alias("n_converted")
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "window_seconds",
            F.col("__n_views").alias("n_views"),
            "n_converted",
            F.round(
                F.col("n_converted").cast("double")
                / F.col("__n_views").cast("double"),
                6,
            ).alias("conv_rate"),
        )
    )


# ---------------------------------------------------------------------------
# q289 CUPED-adjusted A/B readout — the experimentation-platform
# primitive: users split deterministically (md5 parity) into A/B, the
# experiment metric is second-half purchase value per user, and the
# pre-period covariate (first-half value) absorbs between-user
# variance: Y' = Y − θ·(X − X̄), θ = cov(X,Y)/var(X). All moments are
# exact integer-cent sums (HUGEINT cross-products — the q133/q209
# discipline); θ and the means are the only doubles, each pinned by
# rounding before reuse. Reports the raw and adjusted treatment
# deltas plus the variance-reduction factor 1 − ρ² that makes CUPED
# worth running (ρ² here is large because pre- and post-period
# behavior correlate).
# ---------------------------------------------------------------------------
@query(
    "q289_cuped_ab",
    oracle="""
    WITH st AS (
      SELECT MIN(epoch_us(ts)) + (MAX(epoch_us(ts)) - MIN(epoch_us(ts))) // 2
               AS mid
      FROM events WHERE user_id IS NOT NULL
    ),
    u AS (
      SELECT user_id,
             CAST(md5(CAST(user_id AS VARCHAR)) AS VARCHAR) AS h,
             CAST(SUM(CASE WHEN event_type = 'purchase'
                           AND epoch_us(ts) <= st.mid
                           THEN CAST(round(value * 100) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS x,
             CAST(SUM(CASE WHEN event_type = 'purchase'
                           AND epoch_us(ts) > st.mid
                           THEN CAST(round(value * 100) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS y
      FROM events, st WHERE user_id IS NOT NULL AND value IS NOT NULL
      GROUP BY user_id
    ),
    g AS (
      SELECT CASE WHEN CAST('0x' || substr(h, 1, 8) AS BIGINT) % 2 = 0
                  THEN 'A' ELSE 'B' END AS arm, x, y
      FROM u
    ),
    mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
             CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
             CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
             CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
      FROM g
    ),
    th AS (
      SELECT n,
        round(CAST(n * sxy - sx * sy AS DOUBLE)
              / CAST(n * sxx - sx * sx AS DOUBLE), 9) AS theta,
        round(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE), 9) AS xbar,
        round(
          (CAST(n * sxy - sx * sy AS DOUBLE)
           * CAST(n * sxy - sx * sy AS DOUBLE))
          / (CAST(n * sxx - sx * sx AS DOUBLE)
             * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS rho2
      FROM mom
    ),
    arms AS (
      -- linearity: mean(y - theta*(x - xbar)) = ybar - theta*(xbar_arm
      -- - xbar); integer-cent sums stay EXACT doubles (< 2^53), so no
      -- order-dependent float accumulation ever happens
      SELECT g.arm, CAST(COUNT(*) AS BIGINT) AS n_users,
             round(CAST(SUM(y) AS DOUBLE) / COUNT(*), 6) AS raw_mean_cents,
             round(CAST(SUM(y) AS DOUBLE) / COUNT(*)
                   - th.theta * (CAST(SUM(x) AS DOUBLE) / COUNT(*) - th.xbar),
                   6) AS cuped_mean_cents
      FROM g, th GROUP BY g.arm, th.theta, th.xbar
    )
    SELECT a.n_users AS n_a, b.n_users AS n_b,
           round(a.raw_mean_cents - b.raw_mean_cents, 6) AS raw_delta_cents,
           round(a.cuped_mean_cents - b.cuped_mean_cents, 6)
             AS cuped_delta_cents,
           th.rho2 AS variance_reduction_rho2
    FROM (SELECT * FROM arms WHERE arm = 'A') a,
         (SELECT * FROM arms WHERE arm = 'B') b, th
    """,
)
def q289_cuped_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.caching import owned_persist

    events = load_table(spark, "events", sf_dir).filter(
        F.col("user_id").isNotNull() & F.col("value").isNotNull()
    )
    st = events.agg(
        (
            F.min(F.unix_micros("ts"))
            + F.expr("(max(unix_micros(ts)) - min(unix_micros(ts))) div 2")
        ).alias("__mid")
    )
    cents = F.round(F.col("value") * 100).cast("bigint")
    u = owned_persist(
        events.crossJoin(F.broadcast(st))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.unix_micros("ts") <= F.col("__mid")),
                    cents,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("__x"),
            F.sum(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.unix_micros("ts") > F.col("__mid")),
                    cents,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("__y"),
        )
        .select(
            F.when(
                F.conv(
                    F.substring(F.md5(F.col("user_id").cast("string")), 1, 8),
                    16,
                    10,
                ).cast("bigint")
                % 2
                == 0,
                "A",
            )
            .otherwise("B")
            .alias("__arm"),
            "__x",
            "__y",
        )
    )
    D = "decimal(38,0)"
    mom = u.agg(
        F.count(F.lit(1)).cast("bigint").alias("__n"),
        F.sum("__x").cast(D).alias("__sx"),
        F.sum("__y").cast(D).alias("__sy"),
        F.sum(F.col("__x").cast(D) * F.col("__y")).cast(D).alias("__sxy"),
        F.sum(F.col("__x").cast(D) * F.col("__x")).cast(D).alias("__sxx"),
        F.sum(F.col("__y").cast(D) * F.col("__y")).cast(D).alias("__syy"),
    )
    covn = F.col("__n") * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    varxn = F.col("__n") * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    varyn = F.col("__n") * F.col("__syy") - F.col("__sy") * F.col("__sy")
    th = mom.select(
        F.round(covn.cast("double") / varxn.cast("double"), 9).alias("__theta"),
        F.round(
            F.col("__sx").cast("double") / F.col("__n").cast("double"), 9
        ).alias("__xbar"),
        F.round(
            (covn.cast("double") * covn.cast("double"))
            / (varxn.cast("double") * varyn.cast("double")),
            6,
        ).alias("__rho2"),
    )
    arms = (
        u.crossJoin(F.broadcast(th))
        .groupBy("__arm")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("__nu"),
            F.max("__theta").alias("__th"),
            F.max("__xbar").alias("__xb"),
            F.sum("__y").cast("bigint").alias("__sy"),
            F.sum("__x").cast("bigint").alias("__sxa"),
        )
        .select(
            "__arm",
            "__nu",
            F.round(
                F.col("__sy").cast("double") / F.col("__nu").cast("double"), 6
            ).alias("__raw"),
            F.round(
                F.col("__sy").cast("double") / F.col("__nu").cast("double")
                - F.col("__th")
                * (
                    F.col("__sxa").cast("double") / F.col("__nu").cast("double")
                    - F.col("__xb")
                ),
                6,
            ).alias("__cuped"),
        )
    )
    a = arms.filter(F.col("__arm") == "A").select(
        F.col("__nu").alias("n_a"),
        F.col("__raw").alias("__ra"),
        F.col("__cuped").alias("__ca"),
    )
    b = arms.filter(F.col("__arm") == "B").select(
        F.col("__nu").alias("n_b"),
        F.col("__raw").alias("__rb"),
        F.col("__cuped").alias("__cb"),
    )
    return (
        a.crossJoin(F.broadcast(b))
        .crossJoin(F.broadcast(th))
        .select(
            "n_a",
            "n_b",
            F.round(F.col("__ra") - F.col("__rb"), 6).alias("raw_delta_cents"),
            F.round(F.col("__ca") - F.col("__cb"), 6).alias(
                "cuped_delta_cents"
            ),
            F.col("__rho2").alias("variance_reduction_rho2"),
        )
    )


# ---------------------------------------------------------------------------
# q291 session-strict funnel — q67 measures view→click→purchase over a
# user's whole history; this one demands the stages happen in ORDER
# INSIDE one 30-minute session (the "did this visit convert" product
# number, immune to cross-day pollution). One sessionize pass
# (user-partitioned gaps-and-islands), then per session three ordered
# first-timestamps and two strict < comparisons — no joins at all
# beyond the session groupBy. Stage counts are monotone by
# construction (tested).
# ---------------------------------------------------------------------------
@query(
    "q291_session_funnel",
    oracle="""
    WITH e AS (
      SELECT user_id, ts, event_id, event_type, epoch_us(ts) AS us
      FROM events WHERE user_id IS NOT NULL
    ),
    brk AS (
      SELECT user_id, event_type, us,
             CASE WHEN us - LAG(us) OVER (
                    PARTITION BY user_id ORDER BY us, event_id)
                  > 1800000000 OR LAG(us) OVER (
                    PARTITION BY user_id ORDER BY us, event_id) IS NULL
                  THEN 1 ELSE 0 END AS nb,
             event_id
      FROM e
    ),
    sess AS (
      SELECT user_id, event_type, us,
             CAST(SUM(nb) OVER (PARTITION BY user_id
                                ORDER BY us, event_id) AS BIGINT) AS sid
      FROM brk
    ),
    g AS (
      SELECT user_id, sid,
             MIN(CASE WHEN event_type = 'view' THEN us END) AS v,
             MIN(CASE WHEN event_type = 'click' THEN us END) AS c,
             MIN(CASE WHEN event_type = 'purchase' THEN us END) AS p
      FROM sess GROUP BY user_id, sid
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(COUNT(v) AS BIGINT) AS n_view,
           CAST(SUM(CASE WHEN v IS NOT NULL AND c IS NOT NULL AND v < c
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_view_click,
           CAST(SUM(CASE WHEN v IS NOT NULL AND c IS NOT NULL
                         AND p IS NOT NULL AND v < c AND c < p
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_full_funnel
    FROM g
    """,
)
def q291_session_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.operators.windows import sessionize

    events = load_table(spark, "events", sf_dir).filter(
        F.col("user_id").isNotNull()
    )
    sess = sessionize(events, gap="30 minutes")
    us = F.unix_micros("ts")
    g = sess.groupBy("user_id", "session_seq").agg(
        F.min(F.when(F.col("event_type") == "view", us)).alias("__v"),
        F.min(F.when(F.col("event_type") == "click", us)).alias("__c"),
        F.min(F.when(F.col("event_type") == "purchase", us)).alias("__p"),
    )
    return g.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        F.count("__v").cast("bigint").alias("n_view"),
        F.sum(
            F.when(
                F.col("__v").isNotNull()
                & F.col("__c").isNotNull()
                & (F.col("__v") < F.col("__c")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_view_click"),
        F.sum(
            F.when(
                F.col("__v").isNotNull()
                & F.col("__c").isNotNull()
                & F.col("__p").isNotNull()
                & (F.col("__v") < F.col("__c"))
                & (F.col("__c") < F.col("__p")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_full_funnel"),
    )


# ---------------------------------------------------------------------------
# q294 repeat-revenue share per week — "how much of this week's
# purchase value comes from customers we already had?": a purchaser is
# REPEAT in week w iff they purchased in any earlier week, decided by
# comparing each purchase's week to the user's FIRST purchase week
# (one min over a user window — no self-join against history). Exact
# cent sums and one exact ratio per week.
# ---------------------------------------------------------------------------
def _q294_oracle() -> str:
    from airbnb_pyspark_jobs_spark.functions.numeric import (
        decimal_ratio_round_sql as _drr,
    )

    share = _drr("SUM(CASE WHEN repeat THEN c ELSE 0 END)", "SUM(c)", 6)
    return f"""
    WITH p AS (
      SELECT user_id,
             CAST(date_trunc('week', ts) AS DATE) AS w,
             CAST(round(value * 100) AS BIGINT) AS c
      FROM events
      WHERE event_type = 'purchase' AND user_id IS NOT NULL
        AND value IS NOT NULL
    ),
    f AS (
      SELECT user_id, w, c,
             MIN(w) OVER (PARTITION BY user_id) AS first_w
      FROM p
    ),
    lab AS (SELECT w, c, w > first_w AS repeat FROM f)
    SELECT CAST(w AS TIMESTAMP) AS week,
           CAST(SUM(c) AS BIGINT) AS revenue_cents,
           CAST(SUM(CASE WHEN repeat THEN c ELSE 0 END) AS BIGINT)
             AS repeat_revenue_cents,
           {share} AS repeat_share
    FROM lab GROUP BY w
    """


@query("q294_repeat_revenue_share", oracle=_q294_oracle())
def q294_repeat_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from airbnb_pyspark_jobs_spark.functions.numeric import decimal_ratio_round

    p = load_table(spark, "events", sf_dir).filter(
        (F.col("event_type") == "purchase")
        & F.col("user_id").isNotNull()
        & F.col("value").isNotNull()
    ).select(
        "user_id",
        F.date_trunc("week", "ts").cast("date").alias("__w"),
        F.round(F.col("value") * 100).cast("bigint").alias("__c"),
    )
    f = p.withColumn(
        "__first_w", F.min("__w").over(Window.partitionBy("user_id"))
    )
    lab = f.select(
        "__w", "__c", (F.col("__w") > F.col("__first_w")).alias("__repeat")
    )
    return lab.groupBy("__w").agg(
        F.sum("__c").cast("bigint").alias("revenue_cents"),
        F.sum(F.when(F.col("__repeat"), F.col("__c")).otherwise(0))
        .cast("bigint")
        .alias("repeat_revenue_cents"),
        decimal_ratio_round(
            F.sum(F.when(F.col("__repeat"), F.col("__c")).otherwise(0)).cast(
                "bigint"
            ),
            F.sum("__c").cast("bigint"),
            6,
        ).alias("repeat_share"),
    ).select(
        F.col("__w").cast("timestamp").alias("week"),
        "revenue_cents",
        "repeat_revenue_cents",
        "repeat_share",
    )


# ---------------------------------------------------------------------------
# q295 log2-bucketed latency histogram — HDR-histogram-style view of
# same-user inter-event gaps per type: bucket = floor(log2(gap_s + 1))
# computed as the BINARY-STRING length of an integer (no float log —
# Spark's log2 is ln(x)/ln(2) and floors wrong at powers of two), so
# buckets are exact and mergeable at any scale; cumulative share tells
# you instantly what fraction of transitions happen within ~2^k
# seconds. The ops-facing summary q260's exact percentiles drill into.
# ---------------------------------------------------------------------------
def _q295_oracle() -> str:
    from airbnb_pyspark_jobs_spark.functions.numeric import (
        decimal_ratio_round_sql as _drr,
    )

    cum = _drr(
        "SUM(n) OVER (PARTITION BY event_type ORDER BY bucket)",
        "SUM(n) OVER (PARTITION BY event_type)", 6,
    )
    return f"""
    WITH g AS (
      SELECT event_type,
             (epoch_us(ts) - LAG(epoch_us(ts)) OVER (
                PARTITION BY user_id ORDER BY ts, event_id)) // 1000000
               AS gap_s
      FROM events WHERE user_id IS NOT NULL
    ),
    h AS (
      -- floor(log2(v)) as LENGTH(bin(v)) - 1: exact integer path; a
      -- float log2 differs between engines exactly at powers of two
      -- (Spark computes log2 as ln(x)/ln(2): ln(8)/ln(2) floors to 2)
      SELECT event_type,
             CAST(length(regexp_replace(bin(gap_s + 1), '^0+', ''))
                  - 1 AS BIGINT) AS bucket
      FROM g WHERE gap_s IS NOT NULL
    ),
    c AS (
      SELECT event_type, bucket, CAST(COUNT(*) AS BIGINT) AS n
      FROM h GROUP BY 1, 2
    )
    SELECT event_type, bucket, n, {cum} AS cum_share
    FROM c
    """


@query("q295_latency_histogram", oracle=_q295_oracle())
def q295_latency_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from airbnb_pyspark_jobs_spark.functions.numeric import decimal_ratio_round

    events = load_table(spark, "events", sf_dir).filter(
        F.col("user_id").isNotNull()
    )
    g = events.select(
        "event_type",
        F.expr(
            "(unix_micros(ts) - lag(unix_micros(ts)) over "
            "(partition by user_id order by ts, event_id)) div 1000000"
        ).alias("__gap_s"),
    ).filter(F.col("__gap_s").isNotNull())
    h = g.select(
        "event_type",
        (F.length(F.conv((F.col("__gap_s") + 1).cast("string"), 10, 2)) - 1)
        .cast("bigint")
        .alias("bucket"),
    )
    c = h.groupBy("event_type", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    wc = Window.partitionBy("event_type").orderBy("bucket")
    wt = Window.partitionBy("event_type")
    return c.select(
        "event_type",
        "bucket",
        "n",
        decimal_ratio_round(
            F.sum("n").over(wc).cast("bigint"),
            F.sum("n").over(wt).cast("bigint"),
            6,
        ).alias("cum_share"),
    )


# ---------------------------------------------------------------------------
# q310 nearest-event enrichment (merge_asof `nearest` + tolerance,
# round 7): every purchase enriched with the NEAREST view by the same
# user within 15 minutes — forward matches allowed (a view moments
# AFTER the purchase still attributes), exact ties go backward
# (pandas' rule), matches beyond tolerance null out without dropping
# the purchase. Spark path: ONE union + two in-partition ordered
# carries (no range join, no fan-out); the oracle ranks the bounded
# candidate set by (|dt|, side, view_event_id DESC) — the same
# deterministic tie chain the carries produce.
# ---------------------------------------------------------------------------
_Q310_TOL = 900


@query(
    "q310_nearest_view_enrichment",
    oracle=f"""
    WITH p AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'purchase'),
    v AS (SELECT event_id AS view_event_id, user_id, ts AS vts FROM events
          WHERE event_type = 'view'),
    cand AS (
      SELECT p.event_id, p.user_id, p.ts, v.view_event_id, v.vts,
             abs(epoch_us(p.ts) - epoch_us(v.vts)) AS adt,
             CASE WHEN v.vts <= p.ts THEN 0 ELSE 1 END AS side
      FROM p JOIN v ON v.user_id = p.user_id
      WHERE abs(epoch_us(p.ts) - epoch_us(v.vts)) <= {_Q310_TOL} * 1000000
    ),
    best AS (
      SELECT event_id, view_event_id, vts FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY event_id
          ORDER BY adt ASC, side ASC, view_event_id DESC) AS rn
        FROM cand
      ) WHERE rn = 1
    )
    SELECT p.event_id, p.user_id,
           b.view_event_id AS matched_view_id,
           CAST(epoch_us(p.ts) - epoch_us(b.vts) AS BIGINT) AS dt_us
    FROM p LEFT JOIN best b USING (event_id)
    """,
)
def q310_nearest_view_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.operators.asof import asof_join

    ev = load_table(spark, "events", sf_dir)
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_event_id"), "user_id", "ts"
    )
    out = asof_join(
        p,
        v,
        on="user_id",
        right_cols=["view_event_id"],
        direction="nearest",
        tolerance_seconds=_Q310_TOL,
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("view_event_id_asof").alias("matched_view_id"),
        (F.unix_micros("ts") - F.unix_micros("ts_asof"))
        .cast("bigint")
        .alias("dt_us"),
    )


# ---------------------------------------------------------------------------
# q323 semi-Markov holding times: per state (event_type), how long a
# user DWELLS in it before the next event — the timing half of the
# Markov picture whose structural half the registry already verifies
# (q131 transition counts, q245 stationary distribution, q227
# transition entropy). Holding time of a transition = the gap to the
# user's next event, attributed to the FROM state; per state we report
# transition count, mean hold (exact-integer micro sum → round(4)
# seconds via the DECIMAL(38,0)/HUGEINT ratio — the micro sums blow
# past exact_mean_round's BIGINT staging at sf0.1) and the min/max
# holds. One user-partitioned lead pass + one keyed aggregate;
# durations stay integer micros until the single final division (the
# q310 exact-micros discipline).
# ---------------------------------------------------------------------------
from airbnb_pyspark_jobs_spark.functions.numeric import (  # noqa: E402
    decimal_ratio_round_sql as _drr323,
)

_Q323_ORACLE = f"""
WITH e AS (
  SELECT user_id, event_type, epoch_us(ts) AS us,
         LEAD(epoch_us(ts)) OVER (
           PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS nxt
  FROM events WHERE user_id IS NOT NULL
),
g AS (
  SELECT event_type, CAST(nxt - us AS BIGINT) AS hold_us
  FROM e WHERE nxt IS NOT NULL
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_transitions,
       {_drr323("SUM(hold_us)", "COUNT(*) * 1000000", 4)}
         AS mean_hold_sec,
       CAST(MIN(hold_us) AS BIGINT) AS min_hold_us,
       CAST(MAX(hold_us) AS BIGINT) AS max_hold_us
FROM g GROUP BY event_type
"""


@query("q323_state_holding_times", oracle=_Q323_ORACLE)
def q323_state_holding_times(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from airbnb_pyspark_jobs_spark.functions.numeric import decimal_ratio_round

    events = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.unix_micros("ts"), "event_id")
    e = events.filter(F.col("user_id").isNotNull()).select(
        "event_type",
        F.unix_micros("ts").alias("__us"),
        F.lead(F.unix_micros("ts")).over(w).alias("__nxt"),
    )
    g = e.filter(F.col("__nxt").isNotNull()).select(
        "event_type", (F.col("__nxt") - F.col("__us")).cast("bigint").alias("__h")
    )
    return g.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_transitions"),
        # the micro-gap SUM itself stages in DECIMAL(38,0) (DuckDB's
        # SUM(BIGINT) is HUGEINT): a bigint staging would wrap silently
        # in Spark's non-ANSI sum while DuckDB raised (ADVICE r8)
        decimal_ratio_round(
            F.sum(F.col("__h").cast("decimal(38,0)")),
            F.count(F.lit(1)) * F.lit(1_000_000),
            4,
        ).alias("mean_hold_sec"),
        F.min("__h").cast("bigint").alias("min_hold_us"),
        F.max("__h").cast("bigint").alias("max_hold_us"),
    )
