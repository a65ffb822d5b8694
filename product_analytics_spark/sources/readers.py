"""Source readers for landing-zone formats.

The reference reads only warehouse Delta tables (`source('bronze', …)`
— models/sources/bronze/bronze.yml:8-71); this module provides the
ingestion surface in front of that: schema-enforced batch readers for
the formats CDC data actually lands in (parquet, CSV exports, JSON
event feeds), with the streaming twin in ``streaming/ops.py``
(``stream_table``) reading the same layouts incrementally.

Design rules, all of which matter at 100 TB:

- **Schemas are explicit.** Inference (`inferSchema`, JSON sampling)
  costs a full extra pass over the data and can silently change types
  between batches; every reader takes a ``StructType`` and applies it.
- **Corrupt rows are quarantined, not fatal.** `PERMISSIVE` mode with
  a ``_corrupt_record`` column lets one bad row out of 10^12 land in
  a reject table instead of failing a 6-hour job.
- **Readers return plain DataFrames** — downstream operators do not
  care where bytes came from.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

CORRUPT_COL = "_corrupt_record"


def _with_corrupt_col(schema: T.StructType) -> T.StructType:
    if CORRUPT_COL in schema.fieldNames():
        return schema
    return T.StructType([*schema.fields, T.StructField(CORRUPT_COL, T.StringType())])


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    header: bool = True,
    delimiter: str = ",",
    timestamp_format: str | None = None,
) -> DataFrame:
    """CSV with enforced schema + quarantine column. No inferSchema
    (that is a full extra pass at 100 TB and non-deterministic across
    batches)."""
    reader = (
        spark.read.schema(_with_corrupt_col(schema))
        .option("header", str(header).lower())
        .option("delimiter", delimiter)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
    )
    if timestamp_format:
        reader = reader.option("timestampFormat", timestamp_format)
    return reader.csv(path)


def read_json_lines(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    timestamp_format: str | None = None,
) -> DataFrame:
    """Newline-delimited JSON (the event-feed landing format) with
    enforced schema + quarantine column. Multi-line JSON is not
    splittable (one file = one task) — reject it by default.

    ``timestamp_format`` is applied to both the zoned and NTZ
    timestamp parsers; pass a micros pattern when the feed carries
    sub-millisecond precision (Spark's default JSON format is
    millis-only and silently truncates)."""
    reader = (
        spark.read.schema(_with_corrupt_col(schema))
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
    )
    if timestamp_format:
        reader = reader.option("timestampFormat", timestamp_format).option(
            "timestampNTZFormat", timestamp_format
        )
    return reader.json(path)


def split_rejects(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(clean_rows_without_quarantine_col, reject_rows) — callers write
    rejects to a quarantine table and alert on its row count.

    The parsed scan is cached first: Spark refuses plans that read
    only ``_corrupt_record`` from a raw JSON/CSV scan
    (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN), and the
    cache also means the file is parsed once for both halves. In a
    production pipeline the parsed batch is written to bronze and the
    split runs over that materialization instead."""
    df = df.cache()
    clean = df.filter(df[CORRUPT_COL].isNull()).drop(CORRUPT_COL)
    rejects = df.filter(df[CORRUPT_COL].isNotNull())
    return clean, rejects
