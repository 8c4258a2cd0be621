"""Exact money sums on codegen longs: the long split.

Every money column the relational and events queries emit is BIGINT
cents, ``floor(exact_sum * 100)``, truncated once after aggregation.
Summing ``decimal`` columns would widen Spark's sum buffer to
decimal(28..38), which falls off the compact-long fast path.  So each
amount is split per row into long components whose plain long sums
recompose the exact cents:

1. Cast each source column once to integer micro-units,
   ``x6 = cast(cast(x as decimal(18,6)) * 10^6 as long)``.  The
   decimal(18,6) cast is the reference rounding (``oracle_sql`` uses it).
2. Split into whole units and a non-negative remainder:
   ``u = (x6 - pmod(x6, 10^6)) div 10^6``, ``r = pmod(x6, 10^6)``.
   A price × (1 − discount) product is exact at scale 12,
   ``v12 = p6 * (10^6 - d6)``, and splits three ways: ``w = units(v12)``,
   ``u = units(w)``, ``m = pmod(w, 10^6)``, ``r = pmod(v12, 10^6)``.
3. Sum each component as a long.  Sums of exact integers are exact, so
   a second aggregation level may sum the sums again.
4. Recompose: ``cents = Su*100 + Sr div 10^4`` at scale 6, and
   ``cents = Su*100 + (Sm + Sr div 10^6) div 10^4`` at scale 12.  The
   remainders are non-negative, so the integer divisions floor for
   either sign; at scale 12 the carry ``(Sm mod 10^4)*10^6 + Sr`` stays
   below 10^10 and never reaches the cents digit.

Always ``div``, never ``/``: long ``/`` is double division in Spark and
loses exactness past 2^53 (v12 reaches 10^17).

Domain.  Outside it the query raises under ANSI (Spark's default); it
is never silently wrong:

- |value| < 10^12, or the decimal(18,6) cast overflows;
- |price × (1 − discount)| < 2^63 / 10^12 ≈ 9.22e6 per row, or the
  scale-12 product ``p6 * (10^6 - d6)`` overflows;
- per group, |sum| < 2^63 / 100 ≈ 9.22e16 so the cents fit a BIGINT,
  and fewer than ~10^12 rows (each remainder is below 10^6), or a long
  sum or the recomposition overflows.

The DuckDB formulas in ``oracle_sql`` stay the independent reference.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_E6 = 1000000


def _units(x: str) -> str:
    return f"({x} - pmod({x}, {_E6})) div {_E6}"


def split(df: DataFrame, keep: list[str], **amounts: str | tuple[str, str]) -> DataFrame:
    """Project the SQL select items ``keep`` plus the long-split
    components of each amount.  An amount is a column name (scale 6:
    ``<n>_u``, ``<n>_r``) or a ``(price, discount)`` pair for
    price × (1 − discount) (scale 12: ``<n>_u``, ``<n>_m``, ``<n>_r``).
    Each source column is cast once, however many amounts read it."""
    names = [k.rsplit(" as ", 1)[-1].strip() for k in keep]
    srcs = {n: (a,) if isinstance(a, str) else a for n, a in amounts.items()}
    df = df.selectExpr(
        *keep,
        *(
            f"cast(cast({c} as decimal(18,6)) * {_E6} as long) as _{c}_e6"
            for c in dict.fromkeys(c for cols in srcs.values() for c in cols)
        ),
    )
    scale6 = {n: f"_{cols[0]}_e6" for n, cols in srcs.items() if len(cols) == 1}
    scale12 = {n: f"_{n}_e12" for n in srcs if n not in scale6}
    if scale12:
        df = df.selectExpr(
            *names,
            *dict.fromkeys(scale6.values()),
            *(f"_{srcs[n][0]}_e6 * ({_E6} - _{srcs[n][1]}_e6) as {v}" for n, v in scale12.items()),
        )
    parts = []
    for n in srcs:
        if n in scale6:
            x = scale6[n]
            parts += [f"{_units(x)} as {n}_u", f"pmod({x}, {_E6}) as {n}_r"]
        else:
            v = scale12[n]
            parts += [
                f"{_units(_units(v))} as {n}_u",
                f"pmod({_units(v)}, {_E6}) as {n}_m",
                f"pmod({v}, {_E6}) as {n}_r",
            ]
    return df.selectExpr(*names, *parts)


def _components(df: DataFrame, name: str) -> list[str]:
    return [f"{name}_{c}" for c in ("umr" if f"{name}_m" in df.columns else "ur")]


def sums(df: DataFrame, *names: str) -> list[Column]:
    """``sum(c) as c`` for every component of each amount; ``df`` is any
    frame carrying the components (a later level sums them again)."""
    return [F.sum(c).alias(c) for n in names for c in _components(df, n)]


def cents(df: DataFrame, name: str) -> Column:
    """``floor(sum * 100)`` as BIGINT, recomposed from the summed
    components of ``name``; ``df`` tells the scale, as in ``sums``."""
    if f"{name}_m" in df.columns:
        return F.expr(f"{name}_u * 100 + ({name}_m + {name}_r div {_E6}) div 10000")
    return F.expr(f"{name}_u * 100 + {name}_r div 10000")
