"""Sinks.

Covers the reference's write shapes (SURVEY.md §2.1):

- ``sink-delta-append``    — append + mergeSchema + partitionBy
  (bronze_table_creation.py:26,31,41,46,51,56)
- ``sink-delta-overwrite`` — idempotent dimension overwrite
  (bronze_table_creation.py:36,61; silver_table_creation.py:300)
- ``sink-delta-error``     — the reference's try/except("table exists")
  probe (silver_table_creation.py:43-46 ×7) becomes an explicit
  existence check (``table_exists``) — quirk Q4 in SURVEY.md §4.

Two backends. A path that carries a ``_delta_log`` is a log-backed
table and every write goes through its transaction log
(:mod:`medallion_delta_lake_spark.sources.delta_log`). Any other path
is a plain partitioned parquet snapshot; `mergeSchema` has no log
there, so schema evolution is handled at read time (spark.read.option
("mergeSchema", true) on parquet honors it for compatible changes).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def table_exists(spark: SparkSession, path: str) -> bool:
    """Existence probe replacing the reference's bare try/except write:
    a directory with at least one data or metadata file."""
    if not os.path.isdir(path):
        return False
    for _, _, files in os.walk(path):
        if any(f.endswith(".parquet") or f == "_SUCCESS" for f in files):
            return True
    return False


def write_append(
    df: DataFrame,
    path: str,
    partition_col: str | None = None,
    merge_schema: bool = True,
) -> None:
    """Append write with optional hive partitioning + schema evolution."""
    from medallion_delta_lake_spark.sources import delta_log

    if delta_log.is_delta_table(path):
        # log-backed table: bare parquet files would be INVISIBLE to
        # the log's readers — append through the transaction log
        delta_log.write_delta(
            df.sparkSession,
            df,
            path,
            mode="append",
            partition_by=[partition_col] if partition_col else None,
            merge_schema=merge_schema,
        )
        return
    writer = df.write.format("parquet").mode("append")
    if merge_schema:
        writer = writer.option("mergeSchema", "true")
    if partition_col:
        writer = writer.partitionBy(partition_col)
    writer.save(path)


def write_overwrite(
    df: DataFrame, path: str, partition_col: str | None = None
) -> None:
    """Idempotent full overwrite (dimension tables)."""
    from medallion_delta_lake_spark.sources import delta_log

    if delta_log.is_delta_table(path):
        delta_log.write_delta(
            df.sparkSession,
            df,
            path,
            mode="overwrite",
            partition_by=[partition_col] if partition_col else None,
            overwrite_schema=True,
        )
        return
    writer = df.write.format("parquet").mode("overwrite")
    if partition_col:
        writer = writer.partitionBy(partition_col)
    writer.save(path)


def write_if_absent(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    partition_col: str | None = None,
) -> bool:
    """Create the table only if it does not exist; True if created."""
    if table_exists(spark, path):
        return False
    write_overwrite(df, path, partition_col)
    return True


def compact(
    spark: SparkSession,
    path: str,
    target_files: int,
    sort_cols: list[str] | None = None,
    partition_col: str | None = None,
) -> None:
    """Table maintenance: rewrite into ``target_files`` files,
    optionally sorted within files on ``sort_cols``.

    Small-files compaction is the lake's defrag — streaming/incremental
    ingestion leaves thousands of tiny files whose per-file overhead
    dominates scans at 100 TB. Sorting within files tightens parquet
    row-group min/max bounds, so later range predicates skip whole row
    groups (the poor man's Z-order). A log-backed table compacts through
    the log engine's OPTIMIZE instead; a parquet snapshot uses the same
    crash-safe staging/swap as the snapshot upsert.
    """
    from medallion_delta_lake_spark.sources import delta_log
    from medallion_delta_lake_spark.sources.readers import scan_table

    if delta_log.is_delta_table(path):
        # log-backed: the staging/dir-swap would orphan the log —
        # compaction is the log engine's OPTIMIZE (sort_cols map to
        # the Z-order clustering key)
        delta_log.optimize_delta_log(
            spark, path, zorder_by=list(sort_cols) if sort_cols else None
        )
        return

    staging = path.rstrip("/") + "__staging"
    old = path.rstrip("/") + "__old"
    import shutil

    # Crash recovery (same contract as _upsert_parquet_snapshot): a crash
    # between the two renames of a previous compact/upsert leaves the live
    # snapshot parked at __old with `path` missing — restore it before
    # scanning, else every subsequent read fails until manual repair.
    if not os.path.exists(path) and os.path.exists(old):
        os.rename(old, path)
    shutil.rmtree(staging, ignore_errors=True)
    shutil.rmtree(old, ignore_errors=True)

    df = scan_table(spark, path)
    if sort_cols:
        # range-partition on the sort key, THEN sort within files: a
        # round-robin repartition would leave every file spanning the
        # whole key range (sorted internally but useless for min/max
        # skipping). Range + local sort = globally clustered output.
        df = df.repartitionByRange(target_files, *sort_cols)
        df = df.sortWithinPartitions(*sort_cols)
    else:
        df = df.repartition(target_files)
    writer = df.write.format("parquet").mode("overwrite")
    if partition_col:
        writer = writer.partitionBy(partition_col)
    writer.save(staging)
    os.rename(path, old)
    os.rename(staging, path)
    shutil.rmtree(old, ignore_errors=True)
