"""Event-time windowing operators: sessionize, tumbling, sliding.

The reference is batch-only (SURVEY.md §2.9) — these are the
[EXTENSION] streaming-shaped operators, implemented in batch over an
event table so they are oracle-checkable; ``streaming/`` holds the
Structured Streaming twins (``F.session_window`` / ``F.window`` +
watermark).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sessionize(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: int = 30,
    tiebreak_col: str | None = "event_id",
) -> DataFrame:
    """Assign gap-based session ids per user (batch form).

    lag(ts) -> new-session flag when gap > threshold -> running sum of
    flags = session id. Two window passes over the same
    (user, ts) ordering, so Spark does ONE shuffle + sort and both
    window functions ride it. At 100 TB the shuffle is keyed on
    user_col — naturally parallel; skewed power-users are bounded by
    per-user event counts, and AQE skew handling covers the rest.
    """
    order = [ts_col] + ([tiebreak_col] if tiebreak_col else [])
    w = Window.partitionBy(user_col).orderBy(*order)
    gap_s = gap_minutes * 60
    prev_ts = F.lag(ts_col).over(w)
    is_new = F.when(
        prev_ts.isNull()
        | ((F.unix_timestamp(F.col(ts_col)) - F.unix_timestamp(prev_ts)) > gap_s),
        1,
    ).otherwise(0)
    running = Window.partitionBy(user_col).orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return df.withColumn("_is_new_session", is_new).withColumn(
        "session_id", F.sum("_is_new_session").over(running)
    ).drop("_is_new_session")


def session_metrics(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    gap_minutes: int = 30,
) -> DataFrame:
    """Sessionize then aggregate per session: bounds, event count,
    value total (rounded money-style)."""
    s = sessionize(df, user_col, ts_col, gap_minutes)
    return s.groupBy(user_col, "session_id").agg(
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(value_col), 2).alias("total_value"),
    )


def tumbling_window_agg(
    df: DataFrame,
    ts_col: str = "ts",
    duration: str = "1 hour",
    group_cols: tuple[str, ...] = ("event_type",),
    value_col: str = "value",
) -> DataFrame:
    """Fixed-width event-time window aggregation.

    ``F.window`` is epoch-aligned, so "1 hour" tumbling windows equal
    date_trunc('hour') buckets — which is what the DuckDB oracle uses.
    Single hash-aggregate shuffle on (window, groups); map-side partial
    aggregation keeps the exchange tiny at any scale.
    """
    win = F.window(F.col(ts_col), duration)
    return (
        df.groupBy(win.alias("w"), *group_cols)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(value_col), 2).alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), *group_cols, "n_events", "total_value")
    )
