"""Single-scan envelope checks.

Many operators are exact only inside an envelope: |coordinate| <= 2^30,
n·max|x| < 2^31, at most max_cells cells per box.  Each checks its input
with one `require` call, and this module holds the policy every check
follows:

  * one Spark job: all rules of a call run in ONE df.agg;
  * the first failing rule, in declared order, raises its ValueError;
  * a None value (empty input, or nothing non-null to aggregate) never
    fails, so an emptiness check is an F.count rule;
  * no check term overflows under ANSI mode, which would raise
    ArithmeticException ahead of the contract ValueError.  A bound on
    |c| is two comparisons (`beyond`), never abs: |-2^63| overflows a long.
    A product or difference of longs is taken in decimal(38,0) (`wide`):
    a product of two longs is below 2^126 < 10^38.
"""

from __future__ import annotations

from collections.abc import Callable
from decimal import Decimal
from functools import reduce
from typing import Any, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# (aggregate, fails(value) -> bool, message or message(value) -> str);
# a bare aggregate Column is read back and checks nothing
Rule = Union[Column, tuple[Column, Callable[[Any], bool],
                           Union[str, Callable[[Any], str]]]]


def wide(c: Column | str) -> Column:
    """c as decimal(38,0), where long products and differences are exact."""
    return (F.col(c) if isinstance(c, str) else c).cast("decimal(38,0)")


def wide_abs(c: Column | str) -> Column:
    """|c| in decimal(38,0), exact for every long c."""
    w = wide(c)
    return F.greatest(w, -w)


def beyond(lim: int, *cols: Column) -> Column:
    """|c| > lim for some c in cols, by comparisons only."""
    return reduce(lambda a, b: a | b,
                  [(c > lim) | (c < -lim) for c in cols])


def require(df: DataFrame, *rules: Rule) -> tuple:
    """Evaluate every rule's aggregate over df in one job, raise
    ValueError for the first rule (in order) whose value is not None
    and fails, and return the values.  decimal(38,0) values (`wide`
    terms) come back as Python ints."""
    full = [r if isinstance(r, tuple) else (r, None, None) for r in rules]
    row = df.agg(*[agg for agg, _, _ in full]).collect()[0]
    vals = tuple(int(v) if isinstance(v, Decimal) else v for v in row)
    for (_, fails, msg), v in zip(full, vals):
        if fails is not None and v is not None and fails(v):
            raise ValueError(msg(v) if callable(msg) else msg)
    return vals
