"""Streaming CHANGE DATA FEED source
(sources/python_datasource.py:_CdfStreamReader —
``format("mdls_delta").option("readChangeFeed", "true")``): per-commit
insert/delete reconstruction, cdc-file pass-through
(update_preimage/update_postimage), DV-shrink resurrection on RESTORE,
dataChange:false silence, and checkpointed resume (each availableNow
run emits exactly the commits that landed since the last offset)."""

from __future__ import annotations

import uuid

from pyspark.sql import functions as F

from medallion_delta_lake_spark.sources import delta_log as dl
from medallion_delta_lake_spark.sources import python_datasource as pds

import pytest

pytestmark = pytest.mark.slow  # heavy battery: excluded from the fast default tier (pytest.ini)


def _feed(spark, path: str, starting: int, name: str):
    q = (
        spark.readStream.format(pds.FORMAT_NAME)
        .option("path", path)
        .option("readChangeFeed", "true")
        .option("startingVersion", str(starting))
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def _counts(df):
    return {
        (r["_commit_version"], r["_change_type"]): r["n"]
        for r in df.groupBy("_commit_version", "_change_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }


def test_insert_and_dv_delete_feed(spark, tmp_path):
    pds.register(spark)
    p = str(tmp_path / "t")
    base = spark.range(10).select(
        "id", (F.col("id") * 10).alias("v")
    )
    dl.write_delta(spark, base.coalesce(1), p, mode="overwrite")
    dl.write_delta(
        spark,
        spark.range(10, 15).select(
            "id", (F.col("id") * 10).alias("v")
        ).coalesce(1),
        p,
        mode="append",
    )
    dl.delete_delta_log(spark, p, [("id", "<=", 2)])
    out = _feed(spark, p, 0, "cdf_" + uuid.uuid4().hex[:8])
    assert _counts(out) == {
        (0, "insert"): 10,
        (1, "insert"): 5,
        (2, "delete"): 3,
    }
    # the delete rows carry the PRE-delete values
    dels = {
        r["id"]
        for r in out.filter("_change_type = 'delete'").collect()
    }
    assert dels == {0, 1, 2}


def test_cdc_update_and_restore_feed(spark, tmp_path):
    pds.register(spark)
    p = str(tmp_path / "t")
    base = spark.range(10).select(
        "id", (F.col("id") * 10).alias("v")
    )
    dl.write_delta(spark, base.coalesce(1), p, mode="overwrite")
    dl.set_table_properties(
        p, {"delta.enableChangeDataFeed": "true"}
    )
    dl.update_delta_log(spark, p, [("id", "<=", 3)], {"v": "999"})
    dl.delete_delta_log(spark, p, [("id", "=", 5)])
    dl.restore_delta_log(p, 2)
    out = _feed(spark, p, 1, "cdf_" + uuid.uuid4().hex[:8])
    got = _counts(out)
    assert got == {
        (2, "update_preimage"): 4,
        (2, "update_postimage"): 4,
        (3, "delete"): 1,
        (4, "insert"): 1,
    }
    # postimage rows carry the updated value; the RESTORE resurrects
    # the deleted row with its original value
    post = out.filter(
        "_change_type = 'update_postimage'"
    ).select("v").distinct().collect()
    assert [r["v"] for r in post] == [999]
    res = out.filter("_commit_version = 4").collect()
    assert len(res) == 1 and res[0]["id"] == 5 and res[0]["v"] == 50


def test_checkpoint_resume_emits_only_new_commits(spark, tmp_path):
    pds.register(spark)
    p = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    dl.write_delta(
        spark,
        spark.range(5).select("id", (F.col("id") * 10).alias("v"))
        .coalesce(1),
        p,
        mode="overwrite",
    )

    def run():
        q = (
            spark.readStream.format(pds.FORMAT_NAME)
            .option("path", p)
            .option("readChangeFeed", "true")
            .option("startingVersion", "0")
            .load()
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run()
    first = spark.read.parquet(sink).count()
    assert first == 5
    dl.write_delta(
        spark,
        spark.range(5, 8).select("id", (F.col("id") * 10).alias("v"))
        .coalesce(1),
        p,
        mode="append",
    )
    dl.delete_delta_log(spark, p, [("id", "=", 0)])
    run()
    out = spark.read.parquet(sink)
    assert out.count() == 5 + 3 + 1  # only the two new commits landed
    got = _counts(out)
    assert got[(1, "insert")] == 3 and got[(2, "delete")] == 1


def test_optimize_commit_is_silent(spark, tmp_path):
    pds.register(spark)
    p = str(tmp_path / "t")
    base = spark.range(20).select(
        "id", (F.col("id") * 10).alias("v")
    )
    dl.write_delta(spark, base.repartition(2), p, mode="overwrite")
    dl.optimize_delta_log(spark, p)  # dataChange:false
    out = _feed(spark, p, 0, "cdf_" + uuid.uuid4().hex[:8])
    got = _counts(out)
    assert got == {(0, "insert"): 20}


def test_replica_fold_tie_break_within_one_version(spark):
    """stream-cdf-replica's latest-wins pick is deterministic when one
    commit version holds several rows for a key: a kept key reported
    as delete + insert (a file rewrite) stays live, and the data
    columns settle a tie between two non-delete rows."""
    from medallion_delta_lake_spark.plans.queries_r18 import (
        latest_change_per_key,
    )

    rows = []
    for k in range(1, 21):
        pair = [(k, "t", k, "delete", 3), (k, "t", k, "insert", 3)]
        rows += pair if k % 2 else pair[::-1]
    rows += [
        (21, "t", 7, "insert", 3),
        (21, "t", 5, "insert", 3),
        (22, "t", 1, "insert", 2),
        (22, "t", 1, "delete", 3),
        (23, "t", 8, "update_preimage", 4),
        (23, "t", 9, "update_postimage", 4),
    ]
    batch = spark.createDataFrame(
        rows,
        "event_id long, event_type string, cents long, "
        "_change_type string, _commit_version long",
    ).repartition(4)
    got = {
        r.event_id: (r.cents, r._change_type)
        for r in latest_change_per_key(
            batch, "event_id", ["event_id", "event_type", "cents"]
        ).collect()
    }
    assert got == {
        **{k: (k, "insert") for k in range(1, 21)},
        21: (5, "insert"),
        22: (1, "delete"),
        23: (9, "update_postimage"),
    }
