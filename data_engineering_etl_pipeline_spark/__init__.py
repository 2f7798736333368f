"""data_engineering_etl_pipeline_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the query & data-processing
capabilities of the reference repo ``John-Swindell/data-engineering-etl-pipeline``
(a pandas Lakehouse ETL platform; see SURVEY.md), plus the large-scale
training-data operators (dedup, similarity search, text analysis, multimodal
plumbing) a 100 TB pipeline needs.

Design principles (see SURVEY.md §7):
- DataFrame/SQL declarative plans; let Catalyst+AQE pick physical strategies.
- Built-in ``pyspark.sql.functions`` in the hot path; Arrow-batched
  ``mapInPandas`` per partition, partitions sized by AQE, only for true
  recurrences (RSI/MACD/ATR EMA state).
- Broadcast small dimensions, partition/bucket big facts, AQE for skew.
"""

__version__ = "0.1.0"
