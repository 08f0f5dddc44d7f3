"""Cross-engine exact numeric helpers.

``round(CAST(sum_decimal AS DOUBLE) / count, d)`` — the natural "mean
of rounded-decimal terms" finisher — is NOT cross-engine deterministic:
when the true mean lands exactly on a half-ulp decimal boundary (e.g.
``-43.704522 / 12 = -3.6420435``), Spark's BigDecimal HALF_UP round of
the quotient double and DuckDB's scale-multiply round can disagree in
the last digit (q193 hit this at sf0.01, one doc in 50k).

:func:`exact_mean_round` removes the float path entirely: with the sum
held as DECIMAL(scale=d) (exact), the rounded mean is the INTEGER
round-half-away-from-zero of ``S / n`` where ``S = sum · 10^d``:

    q = (2·|S| + n) div (2·n)        -- all BIGINT, exact
    mean = sign(S) · q / 10^d        -- one final double divide

Both engines produce the identical BIGINT ``q``; the final division of
an integer < 2^53 by a power of ten is one correctly-rounded IEEE op —
bitwise identical everywhere. :func:`exact_mean_round_sql` emits the
same formula in ANSI SQL for the DuckDB oracles.

Assumes ``|sum| < 10^12`` (the intermediate is staged through
DECIMAL(18, d) so the ×10^d product stays inside BIGINT).
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import Column
from pyspark.sql import functions as F


def exact_mean_round(
    sum_col: Column,
    count_col: Column,
    digits: int = 6,
    sum_scale: int | None = None,
) -> Column:
    """Round-half-away mean ``sum/count`` at ``digits`` decimals, computed
    in exact integer arithmetic. ``sum_col`` must be a DECIMAL column
    with scale ``sum_scale`` (default ``digits``). For ``sum_scale >
    digits`` the denominator scales up; for ``sum_scale < digits`` the
    numerator does — either way ``mean·10^digits`` is an integer ratio
    of BIGINTs under 2^53."""
    if sum_scale is None:
        sum_scale = digits
    sc = 10**digits
    up = 10 ** max(0, digits - sum_scale)
    m = 10 ** max(0, sum_scale - digits)
    s = (sum_col.cast(f"decimal(18,{sum_scale})") * F.lit(10**sum_scale)).cast("bigint")
    n = count_col.cast("bigint")
    x = F.abs(s) * F.lit(2 * up) + n * F.lit(m)
    d = n * F.lit(2 * m)
    q = (x - x % d) / d  # exactly divisible, operands < 2^53 -> exact double
    return (F.when(s < 0, -q).otherwise(q) / F.lit(float(sc))).alias("mean")


def exact_mean_round_sql(
    sum_expr: str, count_expr: str, digits: int = 6, sum_scale: int | None = None
) -> str:
    """The DuckDB/ANSI mirror of :func:`exact_mean_round` — same integer
    formula, so oracle values are bit-identical to the Spark plan."""
    if sum_scale is None:
        sum_scale = digits
    sc = 10**digits
    up = 10 ** max(0, digits - sum_scale)
    m = 10 ** max(0, sum_scale - digits)
    s = f"CAST(CAST(({sum_expr}) AS DECIMAL(18,{sum_scale})) * {10**sum_scale} AS BIGINT)"
    n = f"CAST(({count_expr}) AS BIGINT)"
    x = f"(2 * {up} * abs({s}) + {m} * {n})"
    d = f"(2 * {m} * {n})"
    q = f"(({x} - {x} % {d}) / {d})"
    return f"(CASE WHEN {s} < 0 THEN -{q} ELSE {q} END) / CAST({sc} AS DOUBLE)"


def decimal_ratio_round(num: Column, den: Column, digits: int = 6) -> Column:
    """Round-half-away ``num/den`` at ``digits`` decimals for integer
    inputs whose products overflow BIGINT — the DECIMAL(38,0) big
    sibling of :func:`exact_mean_round` (which is limited to
    ``|sum| < 10^12`` by its BIGINT staging). ``den`` must be > 0.

        q = (2·10^d·|num| + den) div (2·den)     -- DECIMAL(38,0), exact
        ratio = sign(num) · q / 10^d             -- one exact double divide

    The decimal quotient ``(x - x % d) / d`` is an exactly-divisible
    integer; Spark renders it at scale 6, exact while ``|q| < 10^15``
    (i.e. |num/den| < 10^(15-digits)). The DuckDB mirror
    (:func:`decimal_ratio_round_sql`) runs the same formula in
    HUGEINT, so both engines emit the identical double.
    """
    d38 = "decimal(38,0)"
    n_ = num.cast(d38)
    d_ = den.cast(d38)
    x = (F.lit(2 * 10**digits).cast(d38) * F.abs(n_) + d_).cast(d38)
    dd = (F.lit(2).cast(d38) * d_).cast(d38)
    q = ((x - x % dd) / dd).cast("bigint")
    signed = F.when(n_ < 0, -q).otherwise(q)
    return signed.cast("double") / F.lit(float(10**digits))


def decimal_ratio_round_sql(num_expr: str, den_expr: str, digits: int = 6) -> str:
    """DuckDB/HUGEINT mirror of :func:`decimal_ratio_round`."""
    n = f"CAST(({num_expr}) AS HUGEINT)"
    d = f"CAST(({den_expr}) AS HUGEINT)"
    q = f"((2 * {10**digits} * abs({n}) + {d}) // (2 * {d}))"
    return (
        f"CAST(CASE WHEN {n} < 0 THEN -{q} ELSE {q} END AS DOUBLE)"
        f" / CAST({10**digits} AS DOUBLE)"
    )


# ---------------------------------------------------------------------------
# Python twins: the same arithmetic on the driver, for loops whose state
# is collected once (q245/q267). Every double enters decimal arithmetic
# through its SHORTEST round-trip repr — what Java's Double.toString (and
# so Spark's Round and double->DECIMAL cast) sees — never through
# ``Decimal(x)``, the full binary expansion, which can sit below a .5
# boundary that the repr lands on.
# ---------------------------------------------------------------------------


def decimal_py(x: float, scale: int) -> Decimal:
    """Twin of Spark's ``CAST(x AS DECIMAL(p, scale))`` for a finite
    double: the shortest repr, rounded HALF_UP (away from zero) to
    ``scale`` decimals."""
    return Decimal(repr(x)).quantize(Decimal(1).scaleb(-scale), rounding=ROUND_HALF_UP)


def round_half_up_py(x: float, digits: int) -> float:
    """Exact twin of Spark's ``Round(double, digits)``: Java rounds
    ``BigDecimal.valueOf(x)`` — the shortest round-trip decimal repr of
    the double — HALF_UP, which is what :func:`decimal_py` does.
    Non-finite values pass through, as in Spark."""
    if math.isnan(x) or math.isinf(x):
        return x
    return float(decimal_py(x, digits))


def exact_mean_round_py(
    sum_value: Decimal, count: int, digits: int = 6, sum_scale: int | None = None
) -> float:
    """Twin of :func:`exact_mean_round` for an exact ``Decimal`` sum:
    the same staging at ``sum_scale``, the same integer quotient and
    the same final double divide — so a negative sum that rounds to 0
    gives ``-0.0``, as the Spark expression does."""
    if sum_scale is None:
        sum_scale = digits
    up = 10 ** max(0, digits - sum_scale)
    m = 10 ** max(0, sum_scale - digits)
    step = Decimal(1).scaleb(-sum_scale)
    s = int(sum_value.quantize(step, rounding=ROUND_HALF_UP).scaleb(sum_scale))
    q = float((abs(s) * 2 * up + count * m) // (2 * m * count))
    return (-q if s < 0 else q) / float(10**digits)


def decimal_ratio_round_py(num: int, den: int, digits: int = 6) -> float:
    """Twin of :func:`decimal_ratio_round` (``den`` > 0)."""
    q = (2 * 10**digits * abs(num) + den) // (2 * den)
    return float(-q if num < 0 else q) / float(10**digits)
