"""``pandas_ops.holt_linear`` and ``croston`` with a NULL series key:
the NULL-keyed series must smooth exactly like the same series under
a non-NULL key, also when it spans Arrow batches."""

from __future__ import annotations

import pytest

from medallion_delta_lake_spark.operators import pandas_ops

SERIES = [4, 0, 6, 2, 0, 0, 5, 1, 3]


@pytest.mark.parametrize(
    "smoother, outs",
    [
        (pandas_ops.holt_linear, ("x", "level", "trend")),
        (pandas_ops.croston, ("x", "z", "p", "demand_rate")),
    ],
)
def test_null_key_series_matches_keyed_twin(spark, smoother, outs):
    rows = [
        (g, i, float(x))
        for g in (None, 7, 1)
        for i, x in enumerate(SERIES if g != 1 else SERIES[::-1])
    ]
    df = spark.createDataFrame(rows, "g long, step long, x double")
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "2")  # every series spans several batches
    try:
        got = smoother(df, "g", "step", "x").collect()
    finally:
        spark.conf.set(conf, prev)

    def series(key):
        return {r["step"]: tuple(r[c] for c in outs) for r in got if r["g"] == key}

    assert len(series(None)) == len(SERIES)
    assert series(None) == series(7)
