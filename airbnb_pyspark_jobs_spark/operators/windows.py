"""Time-window & sessionization operators over event streams (batch form).

The reference has no event-time operators (SURVEY §2.6: a single global
row_number); these are north-star extensions built on Spark's native
window machinery:

- :func:`tumbling_agg` — fixed windows via ``F.window`` (works in batch
  AND structured streaming; the streaming module reuses it).
- :func:`sessionize` — gap-based session ids via lag + cumulative sum
  (the classic two-window formulation, partition-parallel by user).
- :func:`session_stats` — per-session aggregates.

Scale: both shuffle once on the entity key (user_id); windows are
PARTITIONED (never global); sessionize's running sum uses an
unbounded-preceding frame within (user) partitions only.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from airbnb_pyspark_jobs_spark.functions.numeric import decimal_ratio_round


def tumbling_agg(
    events: DataFrame,
    duration: str,
    group_cols: list[str],
    aggs: list[Column],
    ts_col: str = "ts",
    slide: str | None = None,
) -> DataFrame:
    """Fixed-window aggregation; emits ``window_start``/``window_end``.

    With ``slide`` < ``duration`` this becomes a sliding (hopping)
    window: each event lands in duration/slide windows (Spark expands
    this row-side before the aggregation — shuffle volume scales by the
    overlap factor; keep duration/slide small at scale).
    """
    w = (
        F.window(F.col(ts_col), duration, slide)
        if slide
        else F.window(F.col(ts_col), duration)
    )
    return (
        events.groupBy(w.alias("w"), *group_cols)
        .agg(*aggs)
        .withColumn("window_start", F.col("w.start"))
        .withColumn("window_end", F.col("w.end"))
        .drop("w")
    )


def sessionize(
    events: DataFrame,
    gap: str = "30 minutes",
    user_col: str = "user_id",
    ts_col: str = "ts",
    order_tiebreak: str | None = "event_id",
) -> DataFrame:
    """Assign gap-based session ids per user.

    A new session starts when the time since the previous event of the
    same user exceeds ``gap``. Adds ``session_seq`` (1-based per user).
    Deterministic ordering via ``order_tiebreak`` for equal timestamps.
    """
    order = [F.col(ts_col).asc()] + (
        [F.col(order_tiebreak).asc()] if order_tiebreak else []
    )
    w = Window.partitionBy(user_col).orderBy(*order)
    gap_us = F.expr(f"interval {gap}")
    prev_ts = F.lag(F.col(ts_col)).over(w)
    new_session = (
        F.when(prev_ts.isNull(), F.lit(1))
        .when(F.col(ts_col) > prev_ts + gap_us, F.lit(1))
        .otherwise(F.lit(0))
    )
    run = Window.partitionBy(user_col).orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return events.withColumn("session_seq", F.sum(new_session).over(run).cast("bigint"))


def session_stats(
    sessions: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    session_col: str = "session_seq",
) -> DataFrame:
    """Per-session stats: start/end, event count, duration in microseconds
    (integer-exact; avoids float epoch math)."""
    return sessions.groupBy(user_col, session_col).agg(
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        (F.unix_micros(F.max(ts_col)) - F.unix_micros(F.min(ts_col))).alias("duration_us"),
    )


def keyed_dedupe(
    df: DataFrame,
    keys: list[str] | None = None,
    order_by: list[str] | None = None,
) -> DataFrame:
    """Batch twin of streaming/events.streaming_dedupe: one row per key,
    keeping the FIRST in ``order_by`` order (default event time).

    ``dropDuplicatesWithinWatermark`` keeps the first-ARRIVED row per key
    within the watermark horizon; replaying a bounded source through it
    and running this over the same data converge on identical rows when
    duplicates are exact replays, and on the earliest-by-event-time row
    otherwise — the deterministic batch semantics an oracle can check
    (plain dropDuplicates keeps an arbitrary row). Partitioned window,
    one shuffle on the key — never a global sort.
    """
    keys = keys if keys is not None else ["event_id"]
    order_by = order_by if order_by is not None else ["ts"]
    w = Window.partitionBy(*keys).orderBy(*[F.col(c).asc() for c in order_by])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def max_concurrency(
    events: DataFrame,
    group_col: str,
    start_col: Column,
    end_col: Column,
    bucket: str = "hour",
) -> DataFrame:
    """Peak interval concurrency per group — the classic sweep-line
    (+1 at interval start, -1 at end, running sum, max) decomposed
    into the SCALE-SAFE two-phase shape: within-BUCKET prefix sums
    (windows partitioned by (group, time-bucket), bounded size) plus
    bucket-level cumulative offsets (a window over the tiny
    group×bucket frame) — no global per-group sort, the same
    decomposition as ``sketches.exact_quantiles``.

    Tie semantics: boundary points order by (t, delta) with the
    default RANGE frame, so -1 ends process before +1 starts at the
    same instant (half-open intervals) and duplicate points share one
    cumulative value — deterministic and identical in ANSI SQL.

    Returns ``{group}, max_concurrent, peak_ts`` (peak_ts = earliest
    boundary instant achieving the max)."""
    g = group_col
    starts = events.select(
        F.col(g), start_col.alias("t"), F.lit(1).alias("d")
    )
    ends = events.select(F.col(g), end_col.alias("t"), F.lit(-1).alias("d"))
    pts = starts.unionByName(ends).withColumn(
        "__bkt", F.date_trunc(bucket, F.col("t"))
    )
    win = Window.partitionBy(g, "__bkt").orderBy("t", "d")
    within = pts.withColumn("__pre", F.sum("d").over(win))
    btot = pts.groupBy(g, "__bkt").agg(F.sum("d").alias("__btot"))
    woff = (
        Window.partitionBy(g)
        .orderBy("__bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = btot.withColumn(
        "__off", F.coalesce(F.sum("__btot").over(woff), F.lit(0))
    ).select(g, "__bkt", "__off")
    conc = within.join(offs, [g, "__bkt"]).withColumn(
        "__conc", (F.col("__pre") + F.col("__off")).cast("bigint")
    )
    m = conc.groupBy(g).agg(F.max("__conc").alias("max_concurrent"))
    return (
        conc.join(m, g)
        .filter(F.col("__conc") == F.col("max_concurrent"))
        .groupBy(g, "max_concurrent")
        .agg(F.min("t").alias("peak_ts"))
        .select(g, "max_concurrent", "peak_ts")
    )


def decay_factor_table(
    half_life_days: float, max_age_days: int, digits: int = 9
) -> list[tuple[int, str]]:
    """(age_days, factor) rows for exponential decay ``2^(-age/h)``,
    each factor rounded to ``digits`` and rendered as a STRING so both
    engines ingest the identical decimal literal — the inlined-
    artifact recipe (fractional pow is not cross-engine exact; a
    once-computed rounded table is)."""
    return [
        (a, format(round(2.0 ** (-a / float(half_life_days)), digits), f".{digits}f"))
        for a in range(int(max_age_days) + 1)
    ]


def time_decayed_sum(
    events: DataFrame,
    group_col: str,
    ts_col: str = "ts",
    value_col: str = "value",
    half_life_days: float = 7.0,
    max_age_days: int = 128,
    out_digits: int = 6,
) -> DataFrame:
    """Recency-weighted value totals per group — the exponential-decay
    aggregate of feature pipelines (recent behavior outweighs old):
    ``Σ v · 2^(-age/h)`` with age in whole days against the newest
    event day in the data (deterministic anchor).

    The per-day factor is looked up from the broadcast
    :func:`decay_factor_table` (rounded DECIMAL, identical literal on
    both engines); values are exact DECIMAL(12,2), so every product
    and the per-group sum are exact — no float accumulates. Events
    older than ``max_age_days`` contribute 0 (fully decayed) but still
    count in ``n_events``.

    Returns ``{group}, n_events, decayed_sum``. Scale: one scan, a
    broadcast single-row anchor, a broadcast factor join, one groupBy.
    """
    from decimal import Decimal

    spark = events.sparkSession
    facs = decay_factor_table(half_life_days, max_age_days)
    fdf = spark.createDataFrame(
        [(a, Decimal(f)) for a, f in facs], "age int, __f decimal(18,9)"
    )
    g = group_col
    base = events.select(
        F.col(g),
        F.to_date(ts_col).alias("__d"),
        F.col(value_col).cast("decimal(12,2)").alias("__v"),
    )
    anchor = events.agg(F.max(F.to_date(ts_col)).alias("__anchor"))
    aged = (
        base.crossJoin(F.broadcast(anchor))
        .withColumn("age", F.datediff(F.col("__anchor"), F.col("__d")))
        .join(F.broadcast(fdf), "age", "left")
    )
    return aged.groupBy(g).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.round(
            F.sum(
                F.col("__v") * F.coalesce(F.col("__f"), F.lit(0).cast("decimal(18,9)"))
            ).cast("double"),
            out_digits,
        ).alias("decayed_sum"),
    )


def transition_counts(events: DataFrame) -> DataFrame:
    """``(from_type, to_type, n)``: the count of consecutive same-user
    event pairs per ordered pair of ``event_type`` values — the
    first-order Markov transition counts every transition query starts
    from.

    Ordering within a user is (ts, event_id) — the id tie-break makes
    consecutive-pair extraction deterministic even under timestamp
    collisions. Scale: one lag window PARTITIONED by user (the natural
    entity key; never global) and one groupBy whose output is bounded
    by the type domain (|types|² rows)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        events.select(
            F.col("event_type").alias("to_type"),
            F.lag("event_type").over(w).alias("from_type"),
        )
        .filter(F.col("from_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


def _with_totals(counts: DataFrame) -> DataFrame:
    """``counts`` plus ``t``, the outgoing total of each from_type — a
    window over the |types|²-row counts (one shuffle; a groupBy joined
    back costs an extra broadcast job)."""
    return counts.withColumn(
        "t", F.sum("n").over(Window.partitionBy("from_type")).cast("bigint")
    )


def event_transitions(events: DataFrame, p_digits: int = 6) -> DataFrame:
    """First-order Markov transition matrix of event types: for each
    ordered pair (from_type, to_type), the count ``n`` of consecutive
    same-user event pairs (:func:`transition_counts`) and the
    row-normalized transition probability ``p = P(to | from)`` — the
    behavioral-model summary of an event stream (and the input to
    next-event-prediction baselines)."""
    return _with_totals(transition_counts(events)).select(
        "from_type",
        "to_type",
        "n",
        F.round(
            F.col("n").cast("double") / F.col("t").cast("double"), p_digits
        ).alias("p"),
    )


# Rows a driver-side transition table may hold. The table is bounded by
# the event-type domain (<= k² rows), never by the corpus; more rows
# than this means the type column is not categorical.
TRANSITION_TABLE_CAP = 10_000


def collect_transition_table(events: DataFrame) -> list[tuple[str, str, int, float]]:
    """``(from_type, to_type, t, p)`` rows of the transition matrix,
    collected to the driver once, for fixed-point loops whose state is
    a vector over event types (q245, q267). The corpus-sized stages —
    the lag window, the pair counts and the 9-dp ``p =
    decimal_ratio_round(n, t, 9)`` — run in Spark. The collect
    (``caching.collect_bounded``) reads at most ``TRANSITION_TABLE_CAP
    + 1`` rows and raises ``ValueError`` past the cap rather than pull
    an unbounded table onto the driver."""
    from airbnb_pyspark_jobs_spark.caching import collect_bounded

    cap = TRANSITION_TABLE_CAP
    table = _with_totals(transition_counts(events)).select(
        "from_type",
        "to_type",
        "t",
        decimal_ratio_round(F.col("n"), F.col("t"), 9).alias("p"),
    )
    rows = collect_bounded(table, cap)
    if rows is None:
        raise ValueError(
            f"transition table has at least {cap + 1} rows, more than "
            f"TRANSITION_TABLE_CAP={cap}: the event-type column is not "
            "a small categorical domain"
        )
    return rows


def linear_interpolate_daily(
    daily: DataFrame,
    key_col: str,
    date_col: str,
    value_col: str,
    out_digits: int = 6,
) -> DataFrame:
    """Linear interpolation across daily gaps per key — the companion
    to LOCF forward-fill (q34) for metrics where a straight line
    between observations beats repeating the last one (counters,
    balances). Each consecutive pair of observed days (d0, v0) →
    (d1, v1) emits days d0..d1-1 with
    ``v = v0 + ((v1 - v0) * k) / gap`` (one fixed double-op order);
    the last observed day emits itself.

    Returns ``{key}, day (timestamp), value, is_interpolated``.
    Scale: one lead window PARTITIONED by key, one explode bounded by
    gap length — no spine join needed (the segment IS the spine)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(key_col).orderBy("__d")
    seg = daily.select(
        key_col,
        F.col(date_col).alias("__d"),
        F.col(value_col).cast("double").alias("__v"),
    ).select(
        key_col,
        "__d",
        "__v",
        F.lead("__d").over(w).alias("__nd"),
        F.lead("__v").over(w).alias("__nv"),
    )
    gap = F.datediff(F.col("__nd"), F.col("__d"))
    # greatest(..., 0) guards duplicate (key, date) inputs: lead then
    # yields gap=0 and sequence(0, -1) would run DESCENDING, emitting a
    # spurious k=-1 row with a 0/0 value.
    ks = F.explode(
        F.sequence(
            F.lit(0),
            F.when(F.col("__nd").isNull(), F.lit(0)).otherwise(
                F.greatest(gap - 1, F.lit(0))
            ),
        )
    )
    expanded = seg.select(
        key_col, "__d", "__v", "__nv", gap.alias("__gap"), ks.alias("__k")
    )
    interp = F.when(F.col("__k") == 0, F.col("__v")).otherwise(
        F.round(
            F.col("__v")
            + ((F.col("__nv") - F.col("__v")) * F.col("__k").cast("double"))
            / F.col("__gap").cast("double"),
            out_digits,
        )
    )
    return expanded.select(
        key_col,
        F.date_add(F.col("__d"), F.col("__k")).cast("timestamp").alias("day"),
        interp.alias("value"),
        (F.col("__k") > 0).alias("is_interpolated"),
    )


def binned_interval_point_join(
    points: DataFrame,
    intervals: DataFrame,
    point_ms: str,
    start_ms: str,
    end_ms: str,
    bin_ms: int = 3_600_000,
) -> DataFrame:
    """Point-in-interval RANGE JOIN via time-bin bucketing — the
    equi-join formulation of ``p.ts BETWEEN i.start AND i.end`` that
    scales: a naive range join is a broadcast-nested-loop (every point
    against every interval). Here each interval row is exploded into
    the integer time bins it covers and each point lands in exactly ONE
    bin, so the join is a plain hash equi-join on the bin key followed
    by the residual range filter — and because the point's bin is
    unique, each (point, interval) match appears exactly once (no
    dedup pass needed).

    Inputs carry integer epoch-millisecond columns (``unix_millis`` /
    ``epoch_ms`` discipline — never fractional seconds). ``bin_ms``
    trades interval fan-out (copies ≈ duration/bin_ms + 1) against bin
    hot-spotting; size it near the TYPICAL interval duration. Skewed
    hot bins (a flash-crowd hour) are AQE-skew-join territory — the
    bin key is a plain shuffle key, so salting machinery applies
    unchanged.

    ``points`` and ``intervals`` must not share column names. Returns
    the inner join of points with every interval containing them.
    """
    iv = intervals.withColumn(
        "__bin",
        F.explode(
            F.sequence(
                F.expr(f"{start_ms} DIV {bin_ms}"),
                F.expr(f"{end_ms} DIV {bin_ms}"),
            )
        ),
    )
    pt = points.withColumn("__bin", F.expr(f"{point_ms} DIV {bin_ms}"))
    return (
        pt.join(iv, "__bin")
        .filter(
            (F.col(start_ms) <= F.col(point_ms))
            & (F.col(point_ms) <= F.col(end_ms))
        )
        .drop("__bin")
    )


def grouped_cusum(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    dev_scaled_col: str,
) -> DataFrame:
    """One-sided (upper) CUSUM per key over an ordered series, in
    EXACT integer arithmetic: given per-step scaled deviations
    ``y_i = (x_i - target)·10^s`` as BIGINT, the Page (1954) recurrence
    ``S_i = max(0, S_{i-1} + y_i)`` is computed NON-recursively via the
    prefix-sum identity ``S_i = P_i - min(0, min_{j<=i} P_j)`` with
    ``P_i = y_1 + ... + y_i`` — two stacked windows (cumulative sum,
    running min) instead of a sequential fold, so it parallelizes and
    replays exactly in SQL (no float accumulation at all).

    Adds ``cusum_scaled`` (BIGINT). Scale: both windows partition by
    ``key_cols`` — per-key series are calendar-bounded post-aggregation
    frames, never corpus-sized; no global window anywhere.
    """
    w = Window.partitionBy(*key_cols).orderBy(order_col)
    frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    with_p = df.withColumn("__pfx", F.sum(dev_scaled_col).over(frame))
    run_min = F.min("__pfx").over(frame)
    return with_p.withColumn(
        "cusum_scaled",
        (F.col("__pfx") - F.least(run_min, F.lit(0))).cast("bigint"),
    ).drop("__pfx")


def cusum_daily_volumes(daily: DataFrame) -> DataFrame:
    """q195's core, shared by the batch query and the streaming rollup
    (streaming/aggregates.read_cusum_rollup): given per-(event_type,
    day) counts ``event_type, __day, n_events``, compute the per-type
    scaled mean target, integer deviations, and the CUSUM/alert
    columns. Daily counts are algebraic (streaming partials re-sum to
    the same frame), so batch/stream parity is exact."""
    x = 2 * F.sum("n_events") * 10000 + F.count(F.lit(1))
    d = 2 * F.count(F.lit(1))
    target = daily.groupBy("event_type").agg(
        ((x - x % d) / d).cast("bigint").alias("__q")
    )
    dev = daily.join(F.broadcast(target), "event_type").withColumn(
        "__ydev", F.col("n_events") * 10000 - F.col("__q")
    )
    cs = grouped_cusum(dev, ["event_type"], "__day", "__ydev")
    return cs.select(
        "event_type",
        F.col("__day").cast("timestamp").alias("day"),
        "n_events",
        (F.col("__q").cast("double") / 10000).alias("target_daily"),
        (F.col("cusum_scaled").cast("double") / 10000).alias("cusum"),
        (F.col("cusum_scaled") > 2 * F.col("__q")).alias("alert"),
    )
