"""Date/time enrichment functions.

Mirrors the reference's temporal-enrichment CTE (reference:
models/silver/orders_cleaned.sql:201-228 date parts, day names,
weekend flag, delivery-days; :331-347 season & holiday buckets) as
column functions. All built-in expressions; all deterministic given an
injected ``as_of`` (SURVEY.md §7.4 — no CURRENT_DATE in operator
bodies, so golden tests and oracle comparisons are reproducible).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Spark dayofweek: 1=Sunday..7=Saturday (matches the reference's CASE
#: at orders_cleaned.sql:207-215; DuckDB uses 0=Sunday → oracle adds 1).
DAY_NAMES = {
    1: "Sunday", 2: "Monday", 3: "Tuesday", 4: "Wednesday",
    5: "Thursday", 6: "Friday", 7: "Saturday",
}


def day_name(c: Column) -> Column:
    """CASE DAYOFWEEK(d) WHEN 1 THEN 'Sunday' ... (reference:
    orders_cleaned.sql:207-215)."""
    dow = F.dayofweek(c)
    expr = None
    for n, name in DAY_NAMES.items():
        expr = F.when(dow == n, name) if expr is None else expr.when(dow == n, name)
    return expr


def is_weekend(c: Column) -> Column:
    """DAYOFWEEK IN (1,7) (reference: orders_cleaned.sql:218-221)."""
    return F.dayofweek(c).isin(1, 7)


def season(c: Column) -> Column:
    """month -> season (reference: orders_cleaned.sql:331-336)."""
    m = F.month(c)
    return (
        F.when(m.isin(12, 1, 2), "Winter")
        .when(m.isin(3, 4, 5), "Spring")
        .when(m.isin(6, 7, 8), "Summer")
        .otherwise("Fall")
    )


def holiday_period(c: Column) -> Column:
    """(month, day) -> named holiday window (reference:
    orders_cleaned.sql:339-347: Black Friday week, Christmas season,
    New Year, Valentine's, Mother's Day window, Independence Day)."""
    m, d = F.month(c), F.dayofmonth(c)
    return (
        F.when((m == 11) & (d >= 22) & (d <= 28), "Black Friday Week")
        .when((m == 12) & (d >= 1) & (d <= 26), "Christmas Season")
        .when(((m == 12) & (d >= 27)) | ((m == 1) & (d <= 2)), "New Year")
        .when((m == 2) & (d >= 10) & (d <= 16), "Valentines")
        .when((m == 5) & (d >= 8) & (d <= 14), "Mothers Day")
        .when((m == 7) & (d >= 1) & (d <= 7), "Independence Day")
        .otherwise("Regular")
    )


def enrich_dates(df: DataFrame, ts_col: str, prefix: str = "order") -> DataFrame:
    """Add the full temporal-enrichment column set of the reference
    (orders_cleaned.sql:201-221, 331-347): year/month/day/hour/dow
    parts, day name, weekend flag, season, holiday period.

    Pure projection — zero shuffle; Catalyst folds it into the scan
    stage, so at 100 TB this costs only the codegen'd expression eval.
    """
    c = F.col(ts_col)
    return (
        df.withColumn(f"{prefix}_year", F.year(c))
        .withColumn(f"{prefix}_month", F.month(c))
        .withColumn(f"{prefix}_day", F.dayofmonth(c))
        .withColumn(f"{prefix}_hour", F.hour(c))
        .withColumn(f"{prefix}_dow", F.dayofweek(c))
        .withColumn(f"{prefix}_day_name", day_name(c))
        .withColumn(f"{prefix}_is_weekend", is_weekend(c))
        .withColumn(f"{prefix}_season", season(c))
        .withColumn(f"{prefix}_holiday_period", holiday_period(c))
    )


def as_of_lit(as_of: dt.date | str) -> Column:
    """Injected replacement for CURRENT_DATE (reference:
    dim_customer.sql:47-51,102 — made deterministic per SURVEY §7.4)."""
    d = dt.date.fromisoformat(as_of) if isinstance(as_of, str) else as_of
    return F.lit(d)
