"""Source scans.

Covers the reference's three scan shapes (SURVEY.md §2.1):

- ``scan-csv``   — bronze_table_creation.py:25,30,40,45,50,55,60
  (header=True, inferSchema=True). The engine takes an explicit
  ``StructType`` and only falls back to inference when none is given:
  at 100 TB an inference pass is a full extra scan of the data.
- ``scan-json``  — bronze_table_creation.py:35 (a single map-shaped
  object {id: name, ...} read as one wide row). ``melt_wide_map_row``
  normalizes that into (key, value) rows so it joins downstream.
- ``scan-delta`` — silver_table_creation.py:28 etc. ``scan_table``
  reads a log-backed table through the engine's log engine
  (:mod:`medallion_delta_lake_spark.sources.delta_log`), else the
  parquet snapshot written by
  :mod:`medallion_delta_lake_spark.sources.writers`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def scan(spark: SparkSession, path: str, fmt: str = "parquet", **options) -> DataFrame:
    """Generic format-dispatched scan."""
    if fmt == "csv":
        return scan_csv(spark, path, **options)
    if fmt == "json":
        return scan_json(spark, path, **options)
    if fmt == "delta":
        return scan_table(spark, path)
    return spark.read.parquet(path)


def scan_csv(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
    header: bool = True,
    **options,
) -> DataFrame:
    """CSV scan with declared schema (inferSchema only as a fallback)."""
    reader = spark.read.options(header=header, **options)
    if schema is not None:
        return reader.schema(schema).csv(path)
    return reader.option("inferSchema", True).csv(path)


def scan_json(
    spark: SparkSession, path: str, schema: StructType | None = None, **options
) -> DataFrame:
    """JSON scan; explicit schema avoids Spark's inference pre-pass."""
    reader = spark.read.options(**options)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def melt_wide_map_row(df: DataFrame, key_name: str, value_name: str) -> DataFrame:
    """Normalize a one-row, N-column map-shaped frame into (key, value) rows.

    The reference reads ``county_id_to_name_map.json`` as one wide row
    (bronze_table_creation.py:35) and never reshapes it; the engine
    melts it with a single ``stack`` expression (no shuffle, one task).
    """
    cols = df.columns
    pairs = ", ".join(f"'{c}', `{c}`" for c in cols)
    return df.selectExpr(
        f"stack({len(cols)}, {pairs}) as (`{key_name}`, `{value_name}`)"
    )


def scan_table(spark: SparkSession, path: str) -> DataFrame:
    """Read an engine-managed table: log-backed or parquet snapshot.

    A path that carries a ``_delta_log`` is read as a REAL Delta table
    via the pure-Python log-replay reader (sources/delta_log.py) —
    snapshot semantics, not a blind directory glob (a parquet glob over
    a Delta dir would resurrect removed files). The plain-parquet path
    reads with mergeSchema so appended files carrying evolved (widened)
    schemas union correctly — the read-time equivalent of Delta's
    transaction-log schema evolution."""
    from medallion_delta_lake_spark.sources import delta_log

    if delta_log.is_delta_table(path):
        return delta_log.read_delta(spark, path)
    return spark.read.option("mergeSchema", "true").parquet(path)


def with_input_file(df: DataFrame, col_name: str = "_source_file") -> DataFrame:
    """Lineage helper: attach the originating file path to each row."""
    return df.withColumn(col_name, F.input_file_name())
