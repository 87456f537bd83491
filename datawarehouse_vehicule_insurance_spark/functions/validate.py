"""Domain / range / sign / date validation column functions.

The common shape is the reference's ``x if valid(x) else None`` lambda
(reference: scripts/silver/load_silver.py:131-199): invalid *attribute*
values become NULL while the row is retained; only bad *keys* (and bad
payment rows) drop rows — that asymmetry lives in the rule engine
(:mod:`..operators.rules`), not here.
"""

from __future__ import annotations

import datetime as dt

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..worker import prune_zip_importers


def domain_validate(col: Column, domain: list[str], normalizer=None) -> Column:
    """Keep value iff (normalized) it is in ``domain``, else NULL
    (reference: load_silver.py:155-164,191-194). The comparison runs against
    the *normalized* value — silver title-cases before comparing against
    title-cased domains, so the normalizer must match the one used on the
    domain (SURVEY.md §2.4)."""
    normed = normalizer(col) if normalizer is not None else col
    return F.when(normed.isin(*domain), normed)


def int_range_validate(
    col: Column, lo: int, hi: int | None = None, ref_date: dt.date | None = None
) -> Column:
    """Keep numeric values in ``[lo, hi]`` cast to int, else NULL
    (reference: load_silver.py:131-134 — year ∈ [1900, current_year]).

    ``hi=None`` means "current year"; pass ``ref_date`` to pin the clock for
    deterministic tests (SURVEY.md §7.3 item 3).
    """
    # try_cast: ANSI mode (Spark 4 default) would throw on junk input; the
    # reference's semantics are tolerant (invalid → NULL).
    v = col.try_cast("double")
    upper = (
        F.lit(hi)
        if hi is not None
        else (F.year(F.lit(ref_date)) if ref_date else F.year(F.current_date()))
    )
    return F.when(v.isNotNull() & (v >= lo) & (v <= upper), v.try_cast("int"))


def positive_round2(col: Column, banker: bool = False) -> Column:
    """Keep strictly-positive numerics re-rounded to 2 decimals, else NULL
    (reference: load_silver.py:167-169,197-199,215-217). Whether NULL then
    drops the row (payments) or is retained (policies/claims premium/amount)
    is the rule engine's ``on_invalid`` choice.

    Rounding mode: Spark ``round`` is HALF_UP on the decimalized value;
    the reference's Python ``round()`` correctly rounds the BINARY
    double half-to-even — they differ on .xx5-looking boundaries of
    >2-decimal raw values (the generator pre-rounds, so reference parity
    holds either way). ``banker=True`` gives exact CPython ``round()``
    fidelity via an Arrow-batched pandas UDF (the same opt-in pattern as
    ``text.title_exact``). Note ``F.bround`` is NOT equivalent: it
    decimalizes via ``Double.toString`` first, so e.g. ``bround(2.675,
    2) = 2.68`` while CPython gives ``2.67`` (the stored binary value is
    2.674999…)."""
    v = col.try_cast("double")
    rounded = round2_exact(v) if banker else F.round(v, 2)
    return F.when(v > 0, rounded)


@F.pandas_udf(T.DoubleType())
def round2_exact(s: pd.Series) -> pd.Series:
    """Exact CPython ``round(x, 2)`` per element (correctly-rounded
    half-to-even on the binary double) — numpy's scaled-multiply
    rounding can diverge in the last ulp, so this maps the Python
    builtin over the Arrow batch."""
    prune_zip_importers()
    return s.map(lambda v: v if pd.isna(v) else round(float(v), 2))


def date_not_future(
    col: Column, ref_date: dt.date | None = None
) -> Column:
    """Tolerant date parse, NULL on unparseable or future dates
    (reference: load_silver.py:181-188 — catches the planted ``2030-01-01``,
    generate_raw_data.py:106). ``ref_date`` pins "today" for determinism."""
    parsed = F.try_to_date(col)
    today = F.lit(ref_date) if ref_date else F.current_date()
    return F.when(parsed <= today, parsed)


def parse_date(col: Column) -> Column:
    """Coercing date parse — NULL on failure
    (reference: load_silver.py:211 ``pd.to_datetime(errors='coerce')``)."""
    return F.try_to_date(col)
