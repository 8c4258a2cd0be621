"""The long split (``operators/money.py``) against exact decimal sums.

Every money column the relational and events queries emit is
``floor(sum * 100)`` as BIGINT cents, computed from long component sums.
These tests check that arithmetic once, against ``decimal.Decimal``,
and check that leaving its domain raises instead of returning wrong
cents."""

from __future__ import annotations

import random
from decimal import Decimal

import pytest
from pyspark.errors import ArithmeticException
from pyspark.sql import functions as F

from sequali_spark.operators import money
from sequali_spark.plans import checks

E6 = Decimal("0.000001")


def _micro(rng: random.Random, max_micros: int) -> Decimal:
    return Decimal(rng.randint(-max_micros, max_micros)) * E6


def _floor_cents(total: Decimal | None) -> int | None:
    return None if total is None else int((total * 100).to_integral_value(rounding="ROUND_FLOOR"))


def _rows(seed: int = 42, n: int = 3000) -> list[tuple]:
    """(g, h, amount, price, discount).  Amounts reach ±999999999999 and
    10^-6 fractions; each double holds at most 15 significant digits, so
    the decimal(18,6) cast recovers the generated decimal exactly."""
    rng = random.Random(seed)
    edges = ["999999999999", "-999999999999", "0.000001", "-0.000001", "-0.005", "0.009999"]
    rows = []
    for i in range(n):
        amount = Decimal(edges[i % len(edges)]) if i % 50 == 0 else _micro(rng, 10**15)
        price = _micro(rng, 5 * 10**12)  # |price| < 5e6 keeps p6*(10^6-d6) in range
        discount = _micro(rng, 500_000) + Decimal("0.5")  # [0, 1]
        if i % 97 == 0:
            amount = None
        if i % 89 == 0:
            discount = None
        rows.append((i % 7, i % 3, amount, price, discount))
    rows.append((7, 0, None, None, None))  # an all-NULL group sums to NULL
    # group 8 totals exactly one cent of revenue only through the
    # scale-12 carry: m sums to 9999 and the remainders to 10^6
    cent, micro, half = Decimal("0.009999"), Decimal("0.000001"), Decimal("0.5")
    rows += [(8, 0, cent, cent, Decimal(0)), (8, 1, micro, micro, half), (8, 2, micro, micro, half)]
    return rows


def _frame(spark, rows):
    return spark.createDataFrame(
        [(g, h, *(None if x is None else float(x) for x in xs)) for g, h, *xs in rows],
        schema="g int, h int, amount double, price double, discount double",
    )


def _expected(rows) -> dict[int, tuple]:
    out = {}
    for g in sorted({r[0] for r in rows}):
        amounts = [a for gg, _, a, _, _ in rows if gg == g and a is not None]
        prices = [p for gg, _, _, p, _ in rows if gg == g and p is not None]
        revenue = [
            p * (1 - d) for gg, _, _, p, d in rows if gg == g and p is not None and d is not None
        ]
        out[g] = tuple(_floor_cents(sum(xs) if xs else None) for xs in (amounts, prices, revenue))
    return out


def _split(df, keep):
    # pricing_summary's shape: two scale-6 amounts and one scale-12
    # product, with ``price`` read twice
    return money.split(df, keep, amount="amount", base="price", revenue=("price", "discount"))


def _cents(split_df, aggregated):
    return {
        r[0]: tuple(r[1:])
        for r in aggregated.select(
            "g", *(money.cents(split_df, n) for n in ("amount", "base", "revenue"))
        ).collect()
    }


def test_long_split_equals_decimal_floor_cents(spark):
    rows = _rows()
    sel = _split(_frame(spark, rows), ["g"])
    got = _cents(sel, sel.groupBy("g").agg(*money.sums(sel, "amount", "base", "revenue")))
    assert got == _expected(rows)
    # each source column is cast once, however many amounts read it
    assert checks.physical_plan(sel).count("as decimal(18,6)") == 3


def test_two_level_sums_equal_one_level(spark):
    rows = _rows(seed=7)
    sel = _split(_frame(spark, rows), ["g", "h"])
    names = ("amount", "base", "revenue")
    inner = sel.groupBy("g", "h").agg(*money.sums(sel, *names))
    two = _cents(sel, inner.groupBy("g").agg(*money.sums(inner, *names)))
    one = _cents(sel, sel.groupBy("g").agg(*money.sums(sel, *names)))
    assert two == one == _expected(rows)


def _cents_of(df, **amount):
    sel = money.split(df, ["g"], **amount)
    (name,) = amount
    return sel.groupBy("g").agg(*money.sums(sel, name)).select(money.cents(sel, name)).collect()


def test_value_outside_decimal_18_6_raises(spark):
    df = spark.createDataFrame([(0, 999999999999.0), (0, 1e12)], schema="g int, v double")
    with pytest.raises(ArithmeticException, match="NUMERIC_VALUE_OUT_OF_RANGE"):
        _cents_of(df, v="v")


def test_scale_12_product_overflow_raises(spark):
    schema = "g int, p double, d double"
    # the per-row bound: |p6 * (10^6 - d6)| < 2^63, i.e. price < ~9.22e6
    ok = spark.createDataFrame([(0, 9.2e6, 0.0)], schema=schema)
    assert _cents_of(ok, r=("p", "d"))[0][0] == 920_000_000
    over = spark.createDataFrame([(0, 9.3e6, 0.0)], schema=schema)
    with pytest.raises(ArithmeticException, match="ARITHMETIC_OVERFLOW"):
        _cents_of(over, r=("p", "d"))


def test_long_sum_overflow_raises(spark):
    # 10^7 rows of 999999999999.0 sum to ~10^19 whole units > 2^63
    df = spark.range(10_000_000).select(F.lit(0).alias("g"), F.lit(999999999999.0).alias("v"))
    with pytest.raises(ArithmeticException, match="ARITHMETIC_OVERFLOW"):
        _cents_of(df, v="v")
