"""Generic SCD-1 upsert with full-source sync (SURVEY.md §2.9).

The reference re-templates the same 25-line Delta MERGE seven times
(silver_table_creation.py:43-66, 82-112, 148-175, 202-230, 366-394,
418-446; gold_table_creation.py:163-191): update-if-any-column-changed,
insert-if-new, delete-if-absent-from-source. The engine provides it
once, parameterized by ``keys``.

Semantics (keys K, non-key columns V):
- source is pre-deduplicated to one row per K (Delta MERGE throws on
  multiple source matches — SURVEY.md §7 hard part 1; the reference
  relies on an earlier full-row dropDuplicates for this);
- matched rows take the source's V (SCD type 1);
- unmatched source keys are inserted;
- target keys absent from the source are deleted when
  ``delete_missing=True`` (``whenNotMatchedBySourceDelete``) — the
  table then *is* the latest source snapshot, keyed by K.

Two backends, one semantics:
- **log-backed** (the path carries a ``_delta_log``):
  :func:`~medallion_delta_lake_spark.sources.delta_log.upsert_delta_log`,
  a three-clause preset of the log engine's general MERGE — file-scoped
  rewrite + atomic log commit; only files holding changed keys are
  rewritten, which is what makes incremental runs cheap at 100 TB. The
  update condition is **null-safe** (``NOT (d.c <=> s.c)``) — the
  reference's ``!=`` silently skips NULL↔value changes (quirk Q3).
- **parquet snapshot** (any other path — what the medallion pipeline
  writes): the merged state is computed as a DataFrame
  (:func:`merge_state`) and swapped in as a new snapshot directory.
  Correctness-equivalent, full rewrite per run.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from medallion_delta_lake_spark.operators.window import latest_per_key
from medallion_delta_lake_spark.sources.writers import table_exists


def dedup_source_by_key(
    df: DataFrame, keys: Sequence[str], version_col: str | None = None
) -> DataFrame:
    """One row per key: latest by ``version_col`` when given, else the
    row with the greatest (non-key column tuple) ordering — an arbitrary
    but **deterministic** winner. ``dropDuplicates(keys)`` would keep a
    partition/order-dependent row, so repeated upserts of the same
    multi-row-per-key source could produce different table states run
    to run; routing through a full-tuple window rank instead makes the
    choice a pure function of the data."""
    keys = list(keys)
    if version_col:
        tie = [c for c in df.columns if c not in keys and c != version_col]
        return latest_per_key(df, keys, version_col, tie_break=tie)
    non_keys = [c for c in df.columns if c not in keys]
    if not non_keys:
        return df.dropDuplicates(keys)
    return latest_per_key(df, keys, non_keys[0], tie_break=non_keys[1:])


def merge_state(
    target: DataFrame,
    source: DataFrame,
    keys: Sequence[str],
    delete_missing: bool = True,
) -> DataFrame:
    """Pure-DataFrame post-merge state (same column set as ``source``).

    With ``delete_missing`` the state is exactly the deduped source; the
    interesting case is ``delete_missing=False``: source rows win on
    matched keys, target-only keys survive. Expressed as source ∪
    (target ⟕anti source) — two narrow plans, one shuffle each on K.
    """
    keys = list(keys)
    src = source.select(*target.columns) if set(source.columns) == set(
        target.columns
    ) else source
    if delete_missing:
        return src
    survivors = target.join(src.select(*keys), on=keys, how="left_anti")
    return src.unionByName(survivors)


def upsert(
    spark: SparkSession,
    source: DataFrame,
    path: str,
    keys: Sequence[str],
    partition_col: str | None = None,
    delete_missing: bool = True,
    version_col: str | None = None,
) -> None:
    """Upsert ``source`` into the table at ``path`` (create if absent)."""
    keys = list(keys)
    src = dedup_source_by_key(source, keys, version_col)

    if not table_exists(spark, path):
        writer = src.write.format("parquet")
        if partition_col:
            writer = writer.partitionBy(partition_col)
        writer.mode("overwrite").save(path)
        return

    from medallion_delta_lake_spark.sources import delta_log

    if delta_log.is_delta_table(path):
        # a LOG-BACKED table must mutate through its transaction log —
        # the parquet-snapshot swap would orphan the log and resurrect
        # time-traveled files (round-7: mixed-API footgun closed)
        delta_log.upsert_delta_log(
            spark,
            src,
            path,
            keys=list(keys),
            delete_missing=delete_missing,
        )
        return
    _upsert_parquet_snapshot(spark, src, path, keys, partition_col, delete_missing)


def _upsert_parquet_snapshot(
    spark: SparkSession,
    src: DataFrame,
    path: str,
    keys: Sequence[str],
    partition_col: str | None,
    delete_missing: bool,
) -> None:
    staging = path.rstrip("/") + "__staging"
    old = path.rstrip("/") + "__old"
    # Crash recovery: a failure between the two renames of a previous run
    # leaves the snapshot parked at __old — restore it. Stale __staging /
    # __old from aborted runs would otherwise make os.rename fail (rename
    # onto a non-empty dir errors), so clear them before writing.
    if not os.path.exists(path) and os.path.exists(old):
        os.rename(old, path)
    shutil.rmtree(staging, ignore_errors=True)
    shutil.rmtree(old, ignore_errors=True)

    target = spark.read.parquet(path)
    state = merge_state(target, src, keys, delete_missing)
    writer = state.write.format("parquet").mode("overwrite")
    if partition_col:
        writer = writer.partitionBy(partition_col)
    writer.save(staging)  # materializes fully while the original is live
    os.rename(path, old)  # original survives as __old until the swap lands
    os.rename(staging, path)
    shutil.rmtree(old, ignore_errors=True)


def changed_keys(
    target: DataFrame, source: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """Diagnostic: keys whose non-key values differ (null-safely) between
    target and source — the rows a MERGE would update."""
    keys = list(keys)
    non_keys = [c for c in source.columns if c not in keys]
    t = target.select(*keys, *[F.col(c).alias(f"_t_{c}") for c in non_keys])
    j = source.join(t, on=keys, how="inner")
    cond = None
    for c in non_keys:
        piece = ~F.col(c).eqNullSafe(F.col(f"_t_{c}"))
        cond = piece if cond is None else (cond | piece)
    return j.filter(cond).select(*keys)


def delete_keys(
    spark: SparkSession,
    path: str,
    keys_df: DataFrame,
    keys: Sequence[str],
) -> int:
    """Targeted key deletion from a managed table (the GDPR/right-to-
    be-forgotten primitive): anti-join the snapshot against the keys
    and swap the result in with the same crash-safe staging protocol
    as the upsert. A log-backed table deletes through the log engine's
    MERGE (touched-file rewrite); a parquet snapshot is rewritten.
    Returns the number of rows removed."""
    keys = list(keys)
    from medallion_delta_lake_spark.sources import delta_log as _dl

    if _dl.is_delta_table(path):
        # log-backed: a native log DELETE via the general MERGE
        # (matched rows die; the commit is file-scoped + time-travelable)
        before = _dl.read_delta(spark, path).count()
        _dl.merge_delta_log(
            spark,
            keys_df.select(*keys).dropDuplicates(list(keys)),
            path,
            list(keys),
            [{"when": "matched", "action": "delete"}],
        )
        return before - _dl.read_delta(spark, path).count()

    staging = path.rstrip("/") + "__staging"
    old = path.rstrip("/") + "__old"
    # crash recovery BEFORE the first read: a prior swap that died
    # between renames leaves path missing and __old intact — reading
    # path first would raise and make this branch unreachable (same
    # ordering as sources/writers.py compact()).
    if not os.path.exists(path) and os.path.exists(old):
        os.rename(old, path)
    shutil.rmtree(staging, ignore_errors=True)
    shutil.rmtree(old, ignore_errors=True)
    target = spark.read.parquet(path)
    before = target.count()
    kept = target.join(keys_df.select(*keys), on=keys, how="left_anti")
    kept.write.parquet(staging)
    after = spark.read.parquet(staging).count()
    os.rename(path, old)
    os.rename(staging, path)
    shutil.rmtree(old, ignore_errors=True)
    return before - after


def scd2_apply(
    dim: DataFrame,
    batch: DataFrame,
    key: str,
    from_col: str = "valid_from",
    to_col: str = "valid_to",
    current_col: str = "is_current",
) -> DataFrame:
    """Apply a CHANGE BATCH to an existing SCD type-2 dimension —
    the incremental companion of the full-history rebuild
    (plans/queries_rel.py scd2-history-build): close each affected
    key's open interval at its first new change date, chain the batch
    rows into [valid_from, valid_to) intervals, and append them with
    the last row left open. ``incremental == full rebuild`` is the
    correctness contract (pinned by the scd2-incremental-upsert
    oracle and tests/test_upsert.py).

    Requires every batch date to be strictly later than the key's
    open ``valid_from`` (i.e. batches arrive in order — the daily-
    increment contract); earlier dates would need history splicing,
    which is a restatement, not an upsert.

    Shape at 100 TB: one window over the BATCH only (small), one
    key-equi join dim⋈(per-key first new date) — broadcast when the
    batch is a daily increment, hash-shuffle otherwise; history rows
    never re-sort. Attribute columns = everything that isn't the key
    or an interval column."""
    from pyspark.sql import Window as W

    attrs = [
        c
        for c in batch.columns
        if c not in (key, from_col, to_col, current_col)
    ]
    w = W.partitionBy(key).orderBy(from_col)
    new_rows = batch.select(
        key,
        from_col,
        F.lead(from_col).over(w).alias(to_col),
        *attrs,
    ).select(
        key,
        from_col,
        to_col,
        *attrs,
        F.col(to_col).isNull().alias(current_col),
    )
    firsts = batch.groupBy(key).agg(
        F.min(from_col).alias("__first_new")
    )
    dim_cols = [key, from_col, to_col, *attrs, current_col]
    closed = (
        dim.join(F.broadcast(firsts), key, "left")
        .select(
            key,
            from_col,
            F.when(
                F.col(current_col) & F.col("__first_new").isNotNull(),
                F.col("__first_new"),
            )
            .otherwise(F.col(to_col))
            .alias(to_col),
            *attrs,
            (
                F.col(current_col) & F.col("__first_new").isNull()
            ).alias(current_col),
        )
        .select(*dim_cols)
    )
    return closed.unionByName(new_rows.select(*dim_cols))
