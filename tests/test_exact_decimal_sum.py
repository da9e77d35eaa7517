"""``functions.exact_decimal_sum`` against the plain money idiom
``F.sum(x.cast(DECIMAL(p, s)))``: the same type, and the same value both
as a decimal and cast to DOUBLE, bit for bit, under ANSI on and off and
both values of ``spark.sql.decimalOperations.allowPrecisionLoss``."""

from __future__ import annotations

import contextlib
import math
import random
from decimal import Decimal

import pytest
from pyspark.errors import ArithmeticException
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType

from market_microstructure_toolkit_spark.functions import exact_decimal_sum

_CONFS = [
    {"spark.sql.ansi.enabled": ansi, "spark.sql.decimalOperations.allowPrecisionLoss": loss}
    for ansi in ("true", "false")
    for loss in ("true", "false")
]


@contextlib.contextmanager
def _confs(spark, confs):
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def _values(precision: int, scale: int) -> list[float | None]:
    """Ties at the (scale+1)-th decimal, values a quarter unit either side
    of an integer number of units (where the double shortcut hands over to
    the DECIMAL cast), short and float-noisy decimals (such as book prices
    0.05 apart), both sides of the shortcut's magnitude bounds, negatives,
    signed zeros, NULLs, values near the precision limit and seeded random
    magnitudes, all inside DECIMAL(precision, scale)."""
    int_digits = precision - scale
    unit = Decimal(1).scaleb(-scale)
    vals: list[float | None] = [0.0, -0.0, None, None]
    for k in ("0", "1", "7.25", "123.5", "-1", "-42.125"):
        for frac in ("0.5", "0.25", "0.2500001", "0.2499999", "0.75"):
            for sign in (1, -1):
                vals.append(sign * float(Decimal(k) + Decimal(frac) * unit))
    top = Decimal(10) ** min(int_digits, 11) - Decimal(1).scaleb(-min(scale, 3))
    vals += [float(top), -float(top), float(top / 7), -float(top / 3)]
    for b in (2.0**11, 2.0**31, 2.0**44, 10.0**int_digits / 2):
        if b < 10**int_digits / 1.01:
            for v in (b, math.nextafter(b, 0), math.nextafter(b, math.inf), b - float(unit), b * 1.01):
                vals += [v, -v]
    rng = random.Random(1234)
    for _ in range(2000):
        e = rng.randint(-scale - 2, min(int_digits, 12) - 1)
        vals.append(rng.choice((1, -1)) * rng.random() * 10.0**e)
        mag = 10 ** min(int_digits + scale - 1, 15)
        vals.append(rng.randint(-mag, mag) / 10.0**scale)
        vals.append(round(rng.uniform(1, 1000), 2) - 0.05 * rng.randint(0, 4))
    return vals


def _frame(spark, precision, scale):
    rows = [(i % 5, v) for i, v in enumerate(_values(precision, scale))]
    rows += [(5, None), (5, None)]  # an all-NULL group
    return spark.createDataFrame(rows, "g int, x double").repartition(3)


def _both(df, precision, scale, *keys):
    dt = DecimalType(precision, scale)
    agg = df.groupBy(*keys) if keys else df
    return agg.agg(
        F.sum(F.col("x").cast(dt)).alias("ref"),
        exact_decimal_sum("x", precision, scale).alias("got"),
    ).withColumns(
        {"ref_d": F.col("ref").cast("double"), "got_d": F.col("got").cast("double")}
    )


def _assert_identical(out):
    schema = {f.name: f.dataType for f in out.schema.fields}
    assert schema["got"] == schema["ref"], (schema["got"], schema["ref"])
    rows = out.collect()
    for r in rows:
        assert r["got"] == r["ref"], r
        if r["ref_d"] is not None:
            assert r["got_d"].hex() == r["ref_d"].hex(), r
        else:
            assert r["got_d"] is None, r
    return rows


@pytest.mark.parametrize("precision,scale", [(18, 6), (18, 2), (18, 12), (8, 2)])
@pytest.mark.parametrize("confs", _CONFS, ids=lambda c: "ansi=%s,loss=%s" % tuple(c.values()))
def test_matches_plain_decimal_sum(spark, precision, scale, confs):
    with _confs(spark, confs):
        df = _frame(spark, precision, scale)
        out = _both(df, precision, scale, "g")
        rows = _assert_identical(out)
        assert len(rows) == 6
        assert [r["got"] for r in rows if r["g"] == 5] == [None]
        assert out.schema["got"].dataType == DecimalType(precision + 10, scale)
        # global aggregate, and an empty input: one NULL row
        _assert_identical(_both(df, precision, scale))
        empty = _assert_identical(_both(df.filter(F.lit(False)), precision, scale))
        assert [r["got"] for r in empty] == [None]
        assert _both(df.filter(F.lit(False)), precision, scale, "g").count() == 0


@pytest.mark.parametrize("precision,scale", [(18, 6), (18, 2)])
@pytest.mark.parametrize("ansi", ["true", "false"])
def test_large_group_does_not_overflow(spark, precision, scale, ansi):
    """20,000 rows of 9e8 overflow one BIGINT sum of unscaled values at
    scale 6 (1.8e19 > 2^63); the two halves stay in range."""
    with _confs(spark, {"spark.sql.ansi.enabled": ansi}):
        df = spark.range(20_000).select(
            F.lit(1).alias("g"), F.lit(900_000_000.01).alias("x")
        )
        rows = _assert_identical(_both(df, precision, scale, "g"))
        assert rows[0]["got"] == Decimal("18000000000200")


@pytest.mark.parametrize("ansi", ["true", "false"])
def test_per_row_cast_overflow_matches(spark, ansi):
    """999999.999 rounds to 1000000.00, outside DECIMAL(8,2): the cast
    raises under ANSI mode and gives NULL (a skipped row) without it,
    whichever way the unscaled value is computed."""
    df = spark.createDataFrame(
        [(1, 1.0), (1, 999999.999), (1, -999999.999), (2, 999999.99)], "g int, x double"
    )
    with _confs(spark, {"spark.sql.ansi.enabled": ansi}):
        if ansi == "true":
            for col in ("ref", "got"):
                with pytest.raises(ArithmeticException):
                    _both(df, 8, 2, "g").select(col).collect()
        else:
            rows = _assert_identical(_both(df, 8, 2, "g"))
            assert sorted(r["got"] for r in rows) == [Decimal("1.00"), Decimal("999999.99")]


@pytest.mark.parametrize("ansi", ["true", "false"])
@pytest.mark.parametrize("dtype", ["float", "decimal(20,8)", "bigint", "string"])
def test_non_double_inputs_take_the_decimal_cast(spark, dtype, ansi):
    with _confs(spark, {"spark.sql.ansi.enabled": ansi}):
        df = _frame(spark, 18, 6).select(
            "g", F.col("x").cast("float").cast(dtype).alias("x")
        )
        _assert_identical(_both(df, 18, 6, "g"))


@pytest.mark.parametrize(
    "precision,scale", [(19, 6), (28, 6), (24, 8), (18, 19), (18, -1)]
)
def test_rejects_unsupported_types(precision, scale):
    with pytest.raises(ValueError):
        exact_decimal_sum("x", precision, scale)
