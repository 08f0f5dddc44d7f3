"""Batch window operators: sweep-line concurrency (oracle parity for
q119 lives in the oracle suite; these pin tie/boundary semantics)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from airbnb_pyspark_jobs_spark.operators.windows import max_concurrency


def _ev(spark, rows):
    return spark.createDataFrame(rows, "g string, st timestamp, en timestamp")


def _t(m, s=0):
    return dt.datetime(2024, 1, 1, 0, m, s)


def test_max_concurrency_counts_overlaps(spark):
    df = _ev(
        spark,
        [
            ("a", _t(0), _t(10)),
            ("a", _t(5), _t(15)),   # overlaps first -> 2
            ("a", _t(7), _t(8)),    # nested -> 3 at 00:07
            ("a", _t(20), _t(25)),
            ("b", _t(0), _t(1)),
        ],
    )
    out = {
        r.g: r
        for r in max_concurrency(df, "g", F.col("st"), F.col("en")).collect()
    }
    assert out["a"].max_concurrent == 3
    assert out["a"].peak_ts == _t(7)
    assert out["b"].max_concurrent == 1


def test_max_concurrency_halfopen_boundary_no_overlap(spark):
    # end == next start: -1 processes before +1 -> back-to-back
    # intervals never stack
    df = _ev(spark, [("a", _t(0), _t(5)), ("a", _t(5), _t(10))])
    out = max_concurrency(df, "g", F.col("st"), F.col("en")).collect()
    assert out[0].max_concurrent == 1


def test_max_concurrency_two_phase_matches_across_bucket_edges(spark):
    # interval spanning an hour-bucket boundary still counts in both
    # buckets via the offset phase
    a = dt.datetime(2024, 1, 1, 0, 55)
    b = dt.datetime(2024, 1, 1, 1, 5)
    df = _ev(
        spark,
        [
            ("a", a, b),
            ("a", dt.datetime(2024, 1, 1, 1, 0), dt.datetime(2024, 1, 1, 1, 2)),
        ],
    )
    out = max_concurrency(df, "g", F.col("st"), F.col("en")).collect()
    assert out[0].max_concurrent == 2
    assert out[0].peak_ts == dt.datetime(2024, 1, 1, 1, 0)


def test_time_decayed_sum_halves_per_half_life(spark):
    import datetime as dtm

    from airbnb_pyspark_jobs_spark.operators.windows import time_decayed_sum

    # anchor = newest day (age 0); one event exactly one half-life
    # older contributes exactly half its value
    rows = [
        ("a", dtm.datetime(2024, 1, 8, 12, 0), 100.0),
        ("a", dtm.datetime(2024, 1, 1, 12, 0), 100.0),
    ]
    df = spark.createDataFrame(rows, "event_type string, ts timestamp, value double")
    out = time_decayed_sum(df, "event_type", half_life_days=7.0).collect()
    assert out[0].n_events == 2
    assert out[0].decayed_sum == 150.0


def test_time_decayed_sum_past_max_age_counts_but_adds_zero(spark):
    import datetime as dtm

    from airbnb_pyspark_jobs_spark.operators.windows import time_decayed_sum

    rows = [
        ("a", dtm.datetime(2024, 6, 1), 10.0),
        ("a", dtm.datetime(2020, 1, 1), 999.0),  # ancient: fully decayed
    ]
    df = spark.createDataFrame(rows, "event_type string, ts timestamp, value double")
    out = time_decayed_sum(df, "event_type", max_age_days=30).collect()
    assert out[0].n_events == 2
    assert out[0].decayed_sum == 10.0


def test_event_transitions_counts_and_probabilities(spark):
    import datetime as dtm

    from airbnb_pyspark_jobs_spark.operators.windows import event_transitions

    t0 = dtm.datetime(2024, 1, 1)

    def ev(i, u, et):
        return (i, t0 + dtm.timedelta(minutes=i), u, et)

    # user 1: a->b->a ; user 2: a->b ; transitions: a->b x2, b->a x1
    rows = [ev(0, 1, "a"), ev(1, 1, "b"), ev(2, 1, "a"), ev(3, 2, "a"), ev(4, 2, "b")]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    out = {(r.from_type, r.to_type): r for r in event_transitions(df).collect()}
    assert out[("a", "b")].n == 2 and out[("a", "b")].p == 1.0
    assert out[("b", "a")].n == 1 and out[("b", "a")].p == 1.0
    # cross-user pairs never counted
    assert ("b", "b") not in out and len(out) == 2


def test_event_transitions_id_tiebreak_on_equal_ts(spark):
    import datetime as dtm

    from airbnb_pyspark_jobs_spark.operators.windows import event_transitions

    t = dtm.datetime(2024, 1, 1)
    rows = [(2, t, 1, "c"), (1, t, 1, "b"), (0, t, 1, "a")]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    out = {(r.from_type, r.to_type) for r in event_transitions(df).collect()}
    # identical timestamps: event_id orders a -> b -> c deterministically
    assert out == {("a", "b"), ("b", "c")}


def test_linear_interpolation_fills_gap_with_line(spark):
    import datetime as dtm

    from airbnb_pyspark_jobs_spark.operators.windows import (
        linear_interpolate_daily,
    )

    d = dtm.date
    daily = spark.createDataFrame(
        [(1, d(2024, 1, 1), 10.0), (1, d(2024, 1, 4), 40.0), (1, d(2024, 1, 5), 0.0)],
        "k long, d date, v double",
    )
    out = {
        r.day.date(): r
        for r in linear_interpolate_daily(daily, "k", "d", "v").collect()
    }
    assert len(out) == 5  # 1..5 inclusive, no spine join needed
    assert out[d(2024, 1, 1)].value == 10.0 and not out[d(2024, 1, 1)].is_interpolated
    assert out[d(2024, 1, 2)].value == 20.0 and out[d(2024, 1, 2)].is_interpolated
    assert out[d(2024, 1, 3)].value == 30.0
    assert out[d(2024, 1, 4)].value == 40.0 and not out[d(2024, 1, 4)].is_interpolated
    assert out[d(2024, 1, 5)].value == 0.0


def test_binned_interval_point_join_matches_naive_range_join(spark):
    from airbnb_pyspark_jobs_spark.operators.windows import (
        binned_interval_point_join,
    )

    H = 3_600_000
    # intervals spanning 0, 1, and 3 bins; one zero-length (point) interval
    intervals = spark.createDataFrame(
        [
            (10, 0, H // 2),            # inside bin 0
            (11, H - 1000, H + 1000),   # straddles bins 0-1
            (12, H, 4 * H),             # bins 1..4 boundary-inclusive
            (13, 2 * H, 2 * H),         # zero-length at a bin boundary
        ],
        "iv_id long, s_ms long, e_ms long",
    )
    points = spark.createDataFrame(
        [(i, t) for i, t in enumerate([0, H // 2, H - 500, H, 2 * H, 5 * H])],
        "pt_id long, p_ms long",
    )
    got = {
        (r.pt_id, r.iv_id)
        for r in binned_interval_point_join(
            points, intervals, "p_ms", "s_ms", "e_ms", bin_ms=H
        ).collect()
    }
    naive = {
        (p.pt_id, iv.iv_id)
        for p in points.collect()
        for iv in intervals.collect()
        if iv.s_ms <= p.p_ms <= iv.e_ms
    }
    assert got == naive
    # each matching pair appears exactly once (point is in ONE bin)
    joined = binned_interval_point_join(
        points, intervals, "p_ms", "s_ms", "e_ms", bin_ms=H
    )
    assert joined.count() == len(naive)


def test_grouped_cusum_matches_sequential_recurrence(spark):
    """The prefix-sum-minus-running-min formulation must equal Page's
    sequential recurrence S_i = max(0, S_{i-1} + y_i) on a mixed
    positive/negative series, per key."""
    rows = [
        ("a", 1, 5), ("a", 2, -3), ("a", 3, -9), ("a", 4, 4), ("a", 5, 2),
        ("b", 1, -1), ("b", 2, -1), ("b", 3, 10), ("b", 4, -20), ("b", 5, 7),
    ]
    df = spark.createDataFrame(rows, "k string, t int, y long")
    from airbnb_pyspark_jobs_spark.operators.windows import grouped_cusum

    got = {
        (r.k, r.t): r.cusum_scaled
        for r in grouped_cusum(df, ["k"], "t", "y").collect()
    }
    want = {}
    for k in ("a", "b"):
        s = 0
        for t, y in sorted((t, y) for kk, t, y in rows if kk == k):
            s = max(0, s + y)
            want[(k, t)] = s
    assert got == want


def test_grouped_cusum_all_negative_stays_zero(spark):
    df = spark.createDataFrame(
        [("a", i, -5) for i in range(1, 6)], "k string, t int, y long"
    )
    from airbnb_pyspark_jobs_spark.operators.windows import grouped_cusum

    vals = [r.cusum_scaled for r in grouped_cusum(df, ["k"], "t", "y").collect()]
    assert vals == [0, 0, 0, 0, 0]


def test_collect_transition_table_raises_past_cap(spark, monkeypatch):
    from airbnb_pyspark_jobs_spark.operators import windows

    t0 = dt.datetime(2024, 1, 1)
    # one user: a -> b -> a -> c  => pairs a->b, b->a, a->c (3 table rows)
    rows = [(i, t0 + dt.timedelta(minutes=i), 1, et) for i, et in enumerate("abac")]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    monkeypatch.setattr(windows, "TRANSITION_TABLE_CAP", 2)
    with pytest.raises(ValueError, match=r"at least 3 rows.*TRANSITION_TABLE_CAP=2"):
        windows.collect_transition_table(df)
    monkeypatch.setattr(windows, "TRANSITION_TABLE_CAP", 3)
    assert sorted(windows.collect_transition_table(df)) == [
        ("a", "b", 2, 0.5),
        ("a", "c", 2, 0.5),
        ("b", "a", 1, 1.0),
    ]
