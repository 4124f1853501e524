"""``pandas_ops.group_normalize`` against its window-SQL form when
group keys are NULL and groups span Arrow batches."""

from __future__ import annotations

from medallion_delta_lake_spark.operators import pandas_ops


def test_null_keys_spanning_arrow_batches_match_window_sql(spark):
    # values are quarter-units, so value * 100 is an exact integer and
    # pandas' and Spark's rounding modes cannot disagree
    rows = [
        (i, None if i % 3 == 0 else i % 4, (i % 17) * 0.25)
        for i in range(120)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, value double"
    ).repartition(2)
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "7")  # every group spans several batches
    try:
        got = {
            tuple(r)
            for r in pandas_ops.group_normalize(
                df, ["user_id"], "value"
            ).collect()
        }
    finally:
        spark.conf.set(conf, prev)
    want = {
        tuple(r)
        for r in df.selectExpr(
            "event_id",
            "user_id",
            "value",
            """value - (
                 CAST(SUM(CAST(round(value * 100, 0) AS BIGINT))
                      OVER (PARTITION BY user_id) AS DOUBLE)
                 / (100.0 * COUNT(*) OVER (PARTITION BY user_id))
               ) AS delta_from_mean""",
        ).collect()
    }
    assert len(got) == len(rows)
    assert any(r[1] is None for r in got)
    assert got == want
