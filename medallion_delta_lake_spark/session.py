"""SparkSession factory.

Replaces the per-script session blocks of the reference
(bronze_table_creation.py:13-20, silver_table_creation.py:16-21,
gold_table_creation.py:16-21) with one parameterized factory that:

- works in local mode (tests / bench) and on a cluster unchanged;
- pins the session time zone to UTC so results are comparable across
  engines (DuckDB oracle) and clusters;
- enables AQE + skew-join handling explicitly (we rely on them at scale);
- enables Arrow for the pandas-UDF extension operators.

No Delta Lake extension is wired: log-backed tables are read and
written by the engine's own log engine (sources/delta_log.py), and
plain tables are parquet snapshots (operators/upsert.py).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "medallion_delta_lake_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``)
    when no cluster master is configured; on a real cluster pass
    ``master=None`` with ``spark.master`` preset and this is a no-op.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if master is None:
        master = os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # NOTE: spark.sql.optimizer.canChangeCachedPlanOutputPartitioning
        # stays at its default (false). Turning it on was measured
        # (r14): it helps many-round tiny-frame ops (graph-kcore-peel
        # 6.6→2.6 s) but lets AQE coalesce away the parallelism of
        # BYTE-small cached frames with expensive downstream
        # expansion — dedup-ngram-jaccard regressed 2.99→11.2 s and
        # dedup-containment 3.8→7.4 s because shingle explosion work
        # is per-row, not per-byte. Faces with provably tiny round
        # frames repartition explicitly instead.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # At 100 TB the default 128m split is fine; make it explicit so it
        # is a deliberate knob rather than an accident of defaults.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()
