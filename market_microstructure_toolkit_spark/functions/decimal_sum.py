"""Exact DECIMAL sums accumulated in BIGINT buffers.

``F.sum(x.cast(DECIMAL(p, s)))`` is the repo's money idiom: the sum is
exact, so it does not depend on row or partition order, and Spark types it
``DECIMAL(p+10, s)``. Above precision 18 that aggregation buffer is a
BigInteger that every update rebuilds inside the UnsafeRow; Spark's own
``DecimalAggregates`` rewrite sums unscaled longs instead, but only when
``p + 10 <= 18``.

``exact_decimal_sum`` gives the same value and type for any ``p <= 18``
while accumulating only BIGINTs. Each row's unscaled value
``u = x * 10^s`` satisfies ``|u| < 10^18``, so it fits a BIGINT, but a
single BIGINT sum of such values can overflow after ten rows. So ``u`` is
split into ``hi = u >> 30`` (``|hi| < 2^30``) and ``lo = u & (2^30 - 1)``
(``0 <= lo < 2^30``), each half is summed as a BIGINT, and the group's
total ``hi * 2^30 + lo`` is rebuilt once per group in DECIMAL. Both half
sums stay in range for up to 2^33 (about 8.6e9) rows per group, below the
~1e10 rows of maximal values at which the ``DECIMAL(p+10, s)`` result
itself could overflow.

A DOUBLE ``x`` usually gets ``u`` without any DECIMAL arithmetic. Spark
casts a double to DECIMAL by rounding ``Double.toString(x)`` half-up to
``s`` places, and that string parses back to ``x``, so it lies within
half an ulp of ``x``. For ``|x| < 2^e`` with ``2^e * 10^s <= 2^51``, half
an ulp of ``x`` scaled by ``10^s``, and the rounding of ``a = x * 10^s``
in double, are each at most 1/8. So when ``a`` lies within 1/4 of the
integer ``n = rint(a)``, the decimal string scaled by ``10^s`` lies
strictly within 1/2 of ``n``, and the cast rounds it to exactly
``n / 10^s``. Every other row, and every non-DOUBLE input, takes the
DECIMAL cast.
"""

from __future__ import annotations

import math
from decimal import Decimal

from pyspark.sql import Column
from pyspark.sql import functions as F

# The lo half sums values below 2^30, so 2^33 of them stay below 2^63.
_LO_BITS = 30


def _unscaled_sql(x: str, precision: int, scale: int) -> str:
    """``CAST(CAST(x AS DECIMAL(p,s)) * 10^s AS BIGINT)``, from double
    arithmetic where that is provably the same (module docstring)."""
    # DECIMAL(p,s) * DECIMAL(s+1,0) is at most DECIMAL(38,s): exact.
    exact = f"CAST(CAST({x} AS DECIMAL({precision},{scale})) * {10**scale}BD AS BIGINT)"
    # 2^e * 10^s <= 2^51; below 10^(p-s) / 2, n cannot reach 10^p.
    bound = min(
        2.0 ** math.floor(51 - scale * math.log2(10)), 10.0 ** (precision - scale) / 2
    )
    a = f"({x} * {10**scale}.0D)"
    n = f"rint{a}"
    # typeof folds to a constant, so a non-DOUBLE input keeps only `exact`
    return (
        f"CASE WHEN typeof({x}) = 'double' AND abs({x}) < {Decimal(bound):f}D"
        f" AND abs({a} - {n}) < 0.25D THEN CAST({n} AS BIGINT) ELSE {exact} END"
    )


def exact_decimal_sum(col: str, precision: int, scale: int) -> Column:
    """Aggregate equal in value and type (``DECIMAL(precision+10, scale)``)
    to ``SUM(CAST(col AS DECIMAL(precision, scale)))``, with BIGINT
    buffers. ``col`` is a SQL expression, such as a column name; the whole
    aggregate is built as one SQL expression, which costs one JVM call
    rather than one per Column operation.

    Every row the plain sum would cast is cast the same way or provably to
    the same value, so NULLs, NaN and out-of-range values behave as in the
    plain sum (skipped, or NULL/raise by ANSI mode), and an empty or
    all-NULL group sums to NULL. The result never depends on
    ``spark.sql.decimalOperations.allowPrecisionLoss``: every intermediate
    DECIMAL stays within precision 38. Bound: at most 2^33 (about 8.6e9)
    non-NULL rows per group; past it a half sum overflows BIGINT, which
    raises under ANSI mode and wraps without it.

    Raises ``ValueError`` unless ``0 <= scale <= precision <= 18``.
    """
    if not 0 <= scale <= precision <= 18:
        raise ValueError(
            f"exact_decimal_sum needs 0 <= scale <= precision <= 18, "
            f"got DECIMAL({precision},{scale})"
        )
    u = _unscaled_sql(f"({col})", precision, scale)
    hi = f"sum(shiftright({u}, {_LO_BITS}))"
    lo = f"sum(({u}) & {(1 << _LO_BITS) - 1})"
    # DECIMAL(20,0) * DECIMAL(10,0) + DECIMAL(20,0) is DECIMAL(32,0). The
    # cast to DECIMAL(p+10,0) overflows exactly when the sum does.
    out = (
        f"CAST(CAST({hi} AS DECIMAL(20,0)) * {1 << _LO_BITS}"
        f" + CAST({lo} AS DECIMAL(20,0)) AS DECIMAL({precision + 10},0))"
    )
    # Rescale by 10^-scale in steps of at most 27 - p digits, so that each
    # DECIMAL(p+10, ·) * DECIMAL(k,k) product stays within precision 38.
    done = 0
    while done < scale:
        k = min(scale - done, 27 - precision)
        done += k
        out = (
            f"CAST({out} * {Decimal(1).scaleb(-k):f}BD"
            f" AS DECIMAL({precision + 10},{done}))"
        )
    return F.expr(out)
