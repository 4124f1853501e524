"""``stats-benford-deviation`` rounds order totals to whole units the
way its DuckDB oracle does: ``CAST(DOUBLE AS BIGINT)`` there rounds
half to even, so a total of 1999.6 has leading digit 2 in both
engines."""

from __future__ import annotations

import pandas as pd

from medallion_delta_lake_spark.catalog import TESTDATA_TABLES
from medallion_delta_lake_spark.plans import registry
from tests.oracle import compare_query


def test_leading_digit_rounds_half_even_like_the_oracle(spark, tmp_path):
    totals = [1999.6, 1999.5, 2000.5, 2.5, 9.5, 1.4, 31.0, 0.5]
    pd.DataFrame(
        {"o_orderkey": range(len(totals)), "o_totalprice": totals}
    ).to_parquet(tmp_path / "orders.parquet")
    # the oracle opens a view over every table; only orders is read
    for t in TESTDATA_TABLES:
        if t != "orders":
            pd.DataFrame({"x": [0]}).to_parquet(tmp_path / f"{t}.parquet")
    compare_query(
        spark,
        "stats-benford-deviation",
        registry.QUERIES,
        registry.ORACLES,
        str(tmp_path),
    )
