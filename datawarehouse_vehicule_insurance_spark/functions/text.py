"""Text normalization / validation column functions.

Reference semantics (file:line cited per function) come from the silver
cleaning layer (reference: scripts/silver/load_silver.py). Everything stays
JVM-side except :func:`title_exact`, the opt-in exact-fidelity mode for
Python ``str.title()`` semantics (SURVEY.md §2.4 title-case caveat).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..worker import prune_zip_importers

#: Anchored email pattern (reference: load_silver.py:90). ``rlike`` is a
#: substring search, so the ``^...$`` anchors are load-bearing.
EMAIL_PATTERN = r"^[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}$"


def empty_to_null(col: Column) -> Column:
    """Trim, then map empty-string-as-missing to NULL
    (reference: load_silver.py:69-71 normalizes ``''`` after strip to None)."""
    trimmed = F.trim(col)
    return F.when(trimmed == "", F.lit(None)).otherwise(trimmed)


def unicode_trim(col: Column) -> Column:
    """Python ``str.strip()``-faithful trim: strips Unicode whitespace
    (NBSP, NEL, …), where Spark's ``trim`` strips only ASCII space.
    ``(?U)`` turns on Java's UNICODE_CHARACTER_CLASS so ``\\s`` matches
    the Unicode White_Space property — found by Hypothesis on ``'\\xa0'``."""
    return F.regexp_replace(col, r"(?U)(^\s+|\s+$)", "")


def normalize_text(
    col: Column, fidelity: str = "fast", keep_empty: bool = False
) -> Column:
    """trim + title-case + empty→NULL (reference: load_silver.py:63-79).

    ``fidelity='fast'`` uses native ``initcap`` (capitalizes after
    whitespace, lowercases the rest — matches Python ``str.title()`` on
    plain words). ``fidelity='exact'`` reproduces ``str.title()`` including
    capitalization after ANY non-alpha char (``o'neil`` → ``O'Neil``,
    ``f-150`` → ``F-150``) via an Arrow-batched pandas UDF.

    ``keep_empty=True`` reproduces the reference's vehicles brand/model
    path (load_silver.py:123-128), which title-cases but KEEPS an
    empty-after-trim string instead of nulling it; the default (empty →
    NULL) matches the reference's clients path and is the deliberate
    data-quality choice for everything else.
    """
    if fidelity == "exact":
        # Python-strip fidelity too: unicode whitespace counts as empty
        t = unicode_trim(col)
        if keep_empty:
            return title_exact(t)
        return F.when(t == "", F.lit(None)).otherwise(title_exact(t))
    if keep_empty:
        return F.initcap(F.trim(col))
    return F.initcap(empty_to_null(col))


@F.pandas_udf(T.StringType())
def title_exact(s: pd.Series) -> pd.Series:
    """Exact Python ``str.title()`` (reference: load_silver.py:69-71 applies
    ``x.strip().title()``). Vectorized via Arrow; the slow path by design —
    only used when ``fidelity='exact'`` is requested."""
    prune_zip_importers()
    return s.str.title()


def upper_clean(col: Column) -> Column:
    """trim + UPPER + empty→NULL — IBAN normalization
    (reference: load_silver.py:82-85)."""
    return F.upper(empty_to_null(col))


def regex_validate(col: Column, pattern: str) -> Column:
    """Keep value iff it matches ``pattern``, else NULL; row retained
    (reference: load_silver.py:88-96 email validation)."""
    return F.when(col.rlike(pattern), col)


def clean_phone(col: Column) -> Column:
    """Strip every char except digits, ``+`` and ``-``; empty→NULL
    (reference: load_silver.py:99-107 ``re.sub(r'[^\\d+\\-]', '', phone)``)."""
    stripped = F.regexp_replace(col, r"[^\d+\-]", "")
    return F.when(stripped == "", F.lit(None)).otherwise(stripped)


def clean_plate(col: Column) -> Column:
    """Uppercase then strip non-alphanumerics — plate canonicalization
    (reference: load_silver.py:137-143)."""
    return F.regexp_replace(F.upper(col), "[^A-Z0-9]", "")
