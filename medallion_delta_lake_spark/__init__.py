"""medallion_delta_lake_spark — a PySpark-native analytics engine.

A clean-room, Spark-first rebuild of the query and data-processing
capabilities of the reference pipeline ``alex-coward/medallion_delta_lake``
(a Kaggle-Enefit medallion pipeline: bronze/silver/gold Delta tables
maintained by SCD-1 MERGE), generalized into reusable, parameterized
operators plus large-scale training-data-pipeline extensions
(dedup, similarity search, text analysis, multimodal plumbing).

Design rules (see SURVEY.md):
- DataFrame/SQL only; logical plans are declared, Catalyst optimizes.
- No driver-side data loops (the reference's k-NN collect() is replaced
  by a broadcast cross-join + window plan).
- No delta-spark: Delta tables are read and written by the in-repo
  log engine (``sources/delta_log.py``); plain tables are parquet
  snapshots swapped in atomically by the upsert operator.
"""

from medallion_delta_lake_spark.session import get_spark

__all__ = ["get_spark"]
__version__ = "0.1.0"
