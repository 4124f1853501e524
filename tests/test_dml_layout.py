"""Output layout of the log engine's writes. MERGE, UPDATE and
DELETE rebalance their rewritten rows by the partition columns, so a
small DML commit adds at most one data file per touched partition and
one change-data file, whatever ``spark.sql.shuffle.partitions`` is.
``write_delta`` and OPTIMIZE keep the layout they are given."""

from __future__ import annotations

import json
import math
import os
import random
from collections import Counter

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from medallion_delta_lake_spark.sources import delta_log

DAYS = 4
ROWS_PER_DAY = 200


def _frame(spark, rows):
    return spark.createDataFrame(rows, "k long, day int, v long").repartition(
        "day"
    )


def _table(spark, path):
    return {
        r.k: (r.day, r.v)
        for r in delta_log.read_delta(spark, path).select("k", "day", "v").collect()
    }


def _last_commit(path):
    version = delta_log.resolve_snapshot(path)["version"]
    entry = delta_log.table_history(path)[0]
    assert entry["version"] == version
    log = os.path.join(path, "_delta_log", f"{version:020d}.json")
    adds = [
        json.loads(line)["add"]
        for line in open(log)
        if json.loads(line).get("add")
    ]
    per_part = Counter(a["partitionValues"]["day"] for a in adds)
    return entry, per_part


def test_dml_adds_one_file_per_touched_partition(spark, tmp_path):
    conf = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "32")  # the engine session's default
    try:
        t = str(tmp_path / "lake")
        rng = random.Random(7)
        rows = [
            (d * ROWS_PER_DAY + i, d, rng.randrange(1000))
            for d in range(DAYS)
            for i in range(ROWS_PER_DAY)
        ]
        delta_log.write_delta(
            spark, _frame(spark, rows), t, mode="overwrite", partition_by=["day"]
        )
        delta_log.set_table_properties(t, {"delta.enableChangeDataFeed": "true"})
        model = {k: (d, v) for k, d, v in rows}

        # 150 updates across days 1 and 2, 50 inserts into day 3
        upd = rng.sample([k for k, (d, _) in model.items() if d in (1, 2)], 150)
        src = [(k, model[k][0], model[k][1] + 1000) for k in upd]
        src += [(10_000 + i, 3, i) for i in range(50)]
        delta_log.merge_delta_log(
            spark,
            _frame(spark, src),
            t,
            ["k"],
            [
                {"when": "matched", "action": "update", "set": {"v": "s.v"}},
                {"when": "not_matched", "action": "insert"},
            ],
        )
        model.update({k: (d, v) for k, d, v in src})
        entry, per_part = _last_commit(t)
        assert entry["operation"] == "MERGE"
        assert set(per_part) == {"1", "2", "3"}
        assert max(per_part.values()) == 1, per_part
        assert entry["numAddedFiles"] == 3
        assert entry["numChangeFiles"] == 1
        assert _table(spark, t) == model

        delta_log.update_delta_log(spark, t, [("day", "=", 1)], {"v": "v + 1"})
        model.update({k: (d, v + 1) for k, (d, v) in model.items() if d == 1})
        entry, per_part = _last_commit(t)
        assert per_part == {"1": 1}
        assert entry["numChangeFiles"] == 1
        assert _table(spark, t) == model

        # max_dv_rows_per_file=0: no deletion vectors, every hit file
        # is rewritten without the matched rows
        res = delta_log.delete_delta_log(
            spark,
            t,
            [("day", "=", 2), ("v", "<", 1500)],
            max_dv_rows_per_file=0,
        )
        gone = [k for k, (d, v) in model.items() if d == 2 and v < 1500]
        for k in gone:
            del model[k]
        assert res["deleted_rows"] == len(gone) and res["files_with_new_dv"] == 0
        entry, per_part = _last_commit(t)
        assert per_part == {"2": 1}
        assert _table(spark, t) == model
    finally:
        spark.conf.set(conf, prev)


def test_write_delta_and_optimize_keep_their_layout(spark, tmp_path):
    t = str(tmp_path / "ranged")
    base = spark.range(400).select(
        F.col("id"), ((F.col("id") * 7919) % 400).alias("v")
    )
    delta_log.write_delta(spark, base.repartitionByRange(10, "id"), t, mode="overwrite")
    files = delta_log.resolve_snapshot(t)["files"]
    assert len(files) >= 8

    target = sum(a["size"] for a in files.values()) // 3
    n_out = math.ceil(sum(a["size"] for a in files.values()) / target)
    res = delta_log.optimize_delta_log(spark, t, zorder_by=["v"], target_file_bytes=target)
    assert res["files_written"] == n_out
    files = delta_log.resolve_snapshot(t)["files"]
    assert len(files) == n_out
    for rel in files:
        vs = pq.read_table(os.path.join(t, rel)).column("v").to_pylist()
        assert vs == sorted(vs)
    assert sorted(r.v for r in delta_log.read_delta(spark, t).collect()) == list(range(400))
