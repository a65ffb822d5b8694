"""Data-cleaning column functions.

Re-expresses the reference's canonicalization / validation / clamping
CASE-WHEN blocks (reference: models/silver/orders_cleaned.sql:77-161
vocab maps, :127-149 financial clamps; models/silver/customers/
customers_latest.sql:81-121 string validation) as reusable
column-in / column-out functions. Everything here compiles to built-in
Catalyst expressions — no UDFs — so it stays inside whole-stage
codegen and costs nothing extra at 100 TB.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------- F1: case/trim


def norm_upper(c: Column | str) -> Column:
    """UPPER(TRIM(x)) (reference: orders_cleaned.sql:78 etc.)."""
    return F.upper(F.trim(F.col(c) if isinstance(c, str) else c))


def norm_lower(c: Column | str) -> Column:
    """LOWER(TRIM(x)) (reference: customers_latest.sql:83 email)."""
    return F.lower(F.trim(F.col(c) if isinstance(c, str) else c))


# ------------------------------------------------- F2: controlled vocabularies


def canonicalize(
    c: Column | str,
    mapping: Mapping[str, Sequence[str]],
    default: Column | str | None = None,
    normalize=norm_upper,
) -> Column:
    """Map dirty values onto a controlled vocabulary.

    ``mapping`` is {canonical_value: [accepted normalized spellings]}.
    Unmatched values fall through to ``default`` (a literal string, a
    Column such as the normalized input, or NULL). Mirrors the
    reference's five vocab CASE blocks (orders_cleaned.sql:77-161:
    order_status, payment_status, payment_method, shipping_method,
    region), each "WHEN norm IN (...) THEN canon ELSE default".

    Compiles to a chained CASE WHEN — constant-folded and codegen'd by
    Catalyst; for vocabularies of thousands of entries prefer a
    broadcast-join against a mapping table instead.
    """
    norm = normalize(c)
    expr = None
    for canon, accepted in mapping.items():
        cond = norm.isin(*accepted)
        expr = F.when(cond, F.lit(canon)) if expr is None else expr.when(cond, F.lit(canon))
    if expr is None:
        raise ValueError("empty mapping")
    if default is None:
        return expr
    return expr.otherwise(F.lit(default) if isinstance(default, str) else default)


# ------------------------------------------------------ F13/F14: money clamping


def round_money(c: Column, scale: int = 2) -> Column:
    """Engine-stable ROUND(double, 2): go through DECIMAL(18,6) first.

    Rounding a double directly at 2 dp is engine-dependent on ties
    (Spark half-ups the shortest decimal repr; DuckDB/C round the
    scaled binary value, e.g. 1108.485 -> 1108.49 vs 1108.48). Casting
    to DECIMAL(18,6) lands both engines on the identical exact decimal
    (6 dp is far above double noise, far below tie territory), and
    decimal scale reduction rounds half-away-from-zero in both.
    """
    return c.cast("decimal(18,6)").cast(f"decimal(18,{scale})")


def clamp_money(
    c: Column | str,
    lo: float = 0.0,
    hi: Column | float | None = None,
    scale: int = 2,
) -> Column:
    """NULL/negative -> lo; above cap -> cap; else ROUND(x, scale).

    Mirrors the reference's financial-bounds cleaning
    (orders_cleaned.sql:127-149): order_total capped at 50000, tax at
    20% of total, shipping at 200, discount at total. ``hi`` may be a
    Column so caps can reference other columns. Output is
    DECIMAL(18,scale) — exact money (see :func:`round_money`).
    """
    col = F.col(c) if isinstance(c, str) else c
    dec_t = f"decimal(18,{scale})"
    expr = F.when(col.isNull() | (col < lo), F.lit(lo).cast(dec_t))
    if hi is not None:
        hi_col = F.lit(hi) if isinstance(hi, (int, float)) else hi
        expr = expr.when(col > hi_col, round_money(hi_col, scale))
    return expr.otherwise(round_money(col, scale))


# ----------------------------------------------------- F4-F6: string validation

#: Email regex — reference: customers_latest.sql:101 (Java dialect, same as Spark).
EMAIL_RE = r"^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}$"


def is_valid_email(c: Column | str) -> Column:
    """RLIKE email validation (reference: customers_latest.sql:98-103)."""
    col = F.col(c) if isinstance(c, str) else c
    return col.isNotNull() & norm_lower(col).rlike(EMAIL_RE)


def is_valid_phone(c: Column | str, min_digits: int = 10, blacklist: Sequence[str] = ("000-000-0000",)) -> Column:
    """Digit-count phone validation incl. blacklist
    (reference: customers_latest.sql:104-110)."""
    col = F.col(c) if isinstance(c, str) else c
    digits = F.regexp_replace(col, "[^0-9]", "")
    return col.isNotNull() & ~col.isin(*blacklist) & (F.length(digits) >= min_digits)


def non_empty(c: Column | str) -> Column:
    """x IS NOT NULL AND x != '' (reference: customers_latest.sql:111-121)."""
    col = F.col(c) if isinstance(c, str) else c
    return col.isNotNull() & (F.trim(col) != "")


def full_name(first: Column | str, last: Column | str) -> Column:
    """CONCAT(TRIM(first), ' ', TRIM(last)) — NULL if either side NULL
    (reference: customers_latest.sql:84; F.concat keeps CONCAT's
    null-propagation, unlike concat_ws)."""
    f = F.col(first) if isinstance(first, str) else first
    l = F.col(last) if isinstance(last, str) else last
    return F.concat(F.trim(f), F.lit(" "), F.trim(l))
