"""exact_mean_round: the cross-engine integer mean (functions/numeric.py).

The seed case is q193's sf0.01 failure: sum=-43.704522, n=12 → mean
exactly -3.6420435, a .5 boundary in the 7th digit where Spark's
BigDecimal HALF_UP of the double quotient and DuckDB's scaled round
disagreed. The integer formula must give round-half-away (-3.642044)
on BOTH engines.
"""

from decimal import ROUND_HALF_UP, Decimal

import duckdb
import pytest
from pyspark.sql import functions as F

from airbnb_pyspark_jobs_spark.functions.numeric import (
    exact_mean_round,
    exact_mean_round_sql,
)

CASES = [
    # (sum as string, n, digits, sum_scale)
    ("-43.704522", 12, 6, 6),  # the q193 boundary doc
    ("43.704522", 12, 6, 6),  # positive mirror
    ("-0.000001", 2, 6, 6),  # -0.0000005 boundary -> -0.000001 half-away
    ("0.000001", 2, 6, 6),
    ("0.000000", 5, 6, 6),  # zero stays +0.0
    ("-123.456789", 7, 6, 6),
    ("-10.123450", 3, 4, 6),  # sum_scale > digits (q96's 6->4 shape)
    ("123.45", 7, 4, 2),  # sum_scale < digits (q218's cents->4 shape)
    ("-0.03", 4, 4, 2),  # -0.0075 -> -0.0075 exactly at 4
    ("0.05", 4, 4, 2),  # 0.0125 boundary at 4: half-away -> 0.0125
    ("99.999950", 10, 4, 6),  # 9.999995 -> 10.0000 half-away
    ("-7.000005", 1, 5, 6),
]


def _expected(s: str, n: int, digits: int) -> float:
    q = (Decimal(s) / n).quantize(Decimal(1).scaleb(-digits), rounding=ROUND_HALF_UP)
    # ROUND_HALF_UP in Decimal is half-away-from-zero for signed values
    return float(q)


@pytest.mark.parametrize("s,n,digits,sum_scale", CASES)
def test_exact_mean_round_spark(spark, s, n, digits, sum_scale):
    df = spark.range(1).select(
        exact_mean_round(
            F.lit(s).cast(f"decimal(18,{sum_scale})"), F.lit(n), digits, sum_scale
        ).alias("m")
    )
    got = df.collect()[0]["m"]
    assert got == _expected(s, n, digits)
    # never negative zero
    assert repr(got) != "-0.0"


@pytest.mark.parametrize("s,n,digits,sum_scale", CASES)
def test_exact_mean_round_sql_duckdb(s, n, digits, sum_scale):
    expr = exact_mean_round_sql(
        f"CAST('{s}' AS DECIMAL(18,{sum_scale}))", str(n), digits, sum_scale
    )
    got = duckdb.sql(f"SELECT {expr} AS m").fetchone()[0]
    assert got == _expected(s, n, digits)


def test_sum_scale_below_digits_scales_numerator(spark):
    # 1.00 / 3 at 6 digits = 0.333333 (truncating the sum first would
    # give a different answer; the numerator scales up instead)
    got = (
        spark.range(1)
        .select(
            exact_mean_round(
                F.lit("1.00").cast("decimal(18,2)"), F.lit(3), 6, 2
            ).alias("m")
        )
        .collect()[0]["m"]
    )
    assert got == 0.333333
    import duckdb

    expr = exact_mean_round_sql("CAST('1.00' AS DECIMAL(18,2))", "3", 6, 2)
    assert duckdb.sql(f"SELECT {expr} AS m").fetchone()[0] == 0.333333


def test_decimal_ratio_round_spark_sql_parity(spark):
    # Same rounded ratio from the Spark decimal formula and the DuckDB
    # HUGEINT mirror, including negatives and half-boundary cases that
    # plain double round() gets wrong cross-engine.
    import duckdb

    from airbnb_pyspark_jobs_spark.functions.numeric import (
        decimal_ratio_round,
        decimal_ratio_round_sql,
    )
    from pyspark.sql import functions as F

    cases = [
        (1, 3), (-1, 3), (2, 3), (1, 2_000_000), (3, 2_000_000),
        (-3, 2_000_000), (0, 5), (7, 7),
        (123456789012345, 987654321),
    ]
    df = spark.createDataFrame(cases, ["num", "den"])
    got = [
        r.r
        for r in df.select(
            decimal_ratio_round(F.col("num"), F.col("den")).alias("r")
        ).collect()
    ]
    con = duckdb.connect()
    want = [
        con.execute(
            f"SELECT {decimal_ratio_round_sql(str(n), str(d))}"
        ).fetchone()[0]
        for n, d in cases
    ]
    assert got == want


def test_q226_theil_decomposition_identity(spark):
    # T_total (naive, pandas) == sum(s_g * T_g) + sum(between_term)
    # up to the 1e-6 per-term rounding.
    import math
    import os

    import pandas as pd

    from airbnb_pyspark_jobs_spark.plans.queries import QUERIES

    sf_dir = os.environ.get(
        "SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001"
    )
    rows = QUERIES["q226_theil_decomposition"](spark, sf_dir).collect()
    total = sum(r.total_cents for r in rows)
    decomposed = sum(
        (r.total_cents / total) * r.theil_within for r in rows
    ) + sum(r.between_term for r in rows)

    orders = pd.read_parquet(os.path.join(sf_dir, "orders.parquet"))
    x = (
        (orders.o_totalprice.round(2) * 100)
        .round()
        .astype("int64")
        .groupby(orders.o_custkey)
        .sum()
    )
    x = x[x > 0].to_numpy(dtype=float)
    mu = x.mean()
    t_naive = float((x / mu * [math.log(v / mu) for v in x]).mean()) if False else (
        sum((v / mu) * math.log(v / mu) for v in x) / len(x)
    )
    assert abs(decomposed - t_naive) < 1e-3
    assert abs(sum(r.rev_share for r in rows) - 1.0) < 1e-4


def _halfway_products(n: int = 24) -> list[float]:
    """Products of two 9-dp grid doubles (``q / 1e9``, as
    decimal_ratio_round emits them) whose shortest repr ends in a 5 at
    the 13th decimal — exact HALF_UP ties for ``round(·, 12)``."""
    out = []
    for i in range(100000001, 100002001, 2):
        for j in (500000, 1500000, 2500000, 3500000, 4500000):
            x = (i / 1e9) * (j / 1e9)
            r = repr(x)
            if r.endswith("5") and Decimal(r).as_tuple().exponent == -13:
                out.append(x)
    return out[:n]


def test_python_twins_match_spark_expressions(spark):
    """Each functions.numeric Python twin against its Spark expression,
    all evaluated in one DataFrame pass: round / DECIMAL cast of doubles
    on exact 12-dp ties, exact_mean_round of DECIMAL sums (negative, zero,
    a negative sum that rounds to -0.0) and decimal_ratio_round with
    negative numerators."""
    import math

    from airbnb_pyspark_jobs_spark.functions.numeric import (
        decimal_py,
        decimal_ratio_round,
        decimal_ratio_round_py,
        exact_mean_round_py,
        round_half_up_py,
    )

    xs = _halfway_products()
    step = Decimal(1).scaleb(-12)
    # the case set has teeth: for some ties the full binary expansion
    # sits below the .5 boundary, so a Decimal(x)-based twin rounds down
    assert any(
        Decimal(x).quantize(step, ROUND_HALF_UP)
        != Decimal(repr(x)).quantize(step, ROUND_HALF_UP)
        for x in xs
    )
    xs += [-x for x in xs[:6]] + [0.0, 0.1 * 3, 1.0 / 3]
    sums = [
        ("0", 1), ("0.000000000500", 1), ("-0.000000000500", 1),
        ("-0.000000000499", 1), ("-0.000000000001", 3), ("0.999999999500", 1),
        ("-3.141592653500", 1), ("12.345678901234", 7), ("-12.345678901234", 7),
    ]
    ratios = [
        (1, 3), (-1, 3), (-2, 3), (-1, 2_000_000_000), (-1, 2_000_000_001),
        (0, 5), (7, 7), (-123456789, 1000), (123456789012345, 987654321),
    ]
    rows = (
        [(x, None, None, None, None) for x in xs]
        + [(None, s, n, None, None) for s, n in sums]
        + [(None, None, None, a, b) for a, b in ratios]
    )
    df = spark.createDataFrame(
        rows, "x double, s string, n bigint, num bigint, den bigint"
    )
    got = df.select(
        "x", "s", "n", "num", "den",
        F.round("x", 12).alias("r12"),
        F.col("x").cast("decimal(28,12)").alias("d12"),
        F.round("x", 12).cast("decimal(28,12)").alias("t12"),
        exact_mean_round(
            F.col("s").cast("decimal(28,12)"), F.col("n"), 9, sum_scale=12
        ).alias("m9"),
        decimal_ratio_round(F.col("num"), F.col("den"), 9).alias("q9"),
    ).collect()
    assert len(got) == len(rows)

    def signed(v):
        return v, math.copysign(1.0, v)

    for r in got:
        if r.x is not None:
            assert r.r12 == round_half_up_py(r.x, 12), r
            assert r.d12 == decimal_py(r.x, 12), r
            assert r.t12 == decimal_py(round_half_up_py(r.x, 12), 12), r
        elif r.s is not None:
            want = exact_mean_round_py(Decimal(r.s), r.n, 9, sum_scale=12)
            assert signed(r.m9) == signed(want), r
        else:
            want = decimal_ratio_round_py(r.num, r.den, 9)
            assert signed(r.q9) == signed(want), r
