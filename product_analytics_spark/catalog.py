"""Logical table catalog.

The reference resolves tables via dbt's ``source()``/``ref()`` macros
(reference: models/sources/bronze/bronze.yml:8-85, dbt_project.yml:44-57).
Here a :class:`Catalog` maps logical names to parquet paths under a
scale-factor directory and hands out DataFrames; models register their
outputs back into it, which is the ``ref()`` analog.

Scans stay declarative (``spark.read.parquet``) so Catalyst pushes
filters and prunes columns down to the parquet reader — at 100 TB the
difference between scanning 2 columns and 25 is the whole game.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _nanos_timestamp_cols(path: str) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS) — Spark cannot read
    those as timestamps (PARQUET_TYPE_ILLEGAL), so we read them as
    int64 nanos and convert. Footer-only metadata read: cheap."""
    try:
        import pyarrow.dataset as ds
        import pyarrow as pa

        schema = ds.dataset(path, format="parquet").schema
        return [
            f.name
            for f in schema
            if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
        ]
    except Exception:  # pragma: no cover - pyarrow always present in harness
        return []


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan that tolerates TIMESTAMP(NANOS) columns.

    The driver's synthetic tables carry nanosecond timestamps (pandas
    datetime64[ns] written via pyarrow). Spark's timestamp type is
    microseconds; we read nanos as int64 (legacy.parquet.nanosAsLong)
    and truncate to micros — the same truncation DuckDB applies when
    casting TIMESTAMP_NS to TIMESTAMP, so oracle comparisons line up.
    Plain micro/milli timestamp parquet is returned untouched.
    """
    ns_cols = _nanos_timestamp_cols(path)
    if not ns_cols:
        return spark.read.parquet(path)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    # Convert only columns that actually came back as int64 nanos.
    # (INT96 timestamps also read as nanos through pyarrow's footer
    # but Spark decodes them as TIMESTAMP directly — leave those be.)
    dtypes = dict(df.dtypes)
    for c in ns_cols:
        if dtypes.get(c) == "bigint":
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


class Catalog:
    """name -> DataFrame resolver over a directory of parquet tables."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        self.spark = spark
        self.sf_dir = sf_dir
        self._registered: dict[str, DataFrame] = {}

    def table(self, name: str) -> DataFrame:
        """Resolve a logical name: registered model output first
        (the ``ref()`` path), then a parquet file in ``sf_dir``
        (the ``source()`` path)."""
        if name in self._registered:
            return self._registered[name]
        path = os.path.join(self.sf_dir, f"{name}.parquet")
        return read_parquet(self.spark, path)

    def register(self, name: str, df: DataFrame) -> None:
        """Register a model output so downstream models can ``ref()`` it."""
        self._registered[name] = df


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One-shot convenience scan (no registry)."""
    return Catalog(spark, sf_dir).table(name)
