"""PySpark-native analytics engine with the query/data-processing surface of
ChathuniAmasha/Stock_Market_Big_Data_project (see SURVEY.md).

Built from scratch, Spark-first: the reference's eager pandas dataflow
(ingest -> clean -> integrate -> analyze -> dashboard reads) is re-expressed
as lazy Catalyst plans over DataFrames, Structured Streaming for the
append-only ingestion path, and packed per-symbol series through
Arrow-batched ``mapInPandas`` for the statistical operators. Designed for
100 TB / 1000-executor scale, tested on local[32].

Layout
------
- ``session``     SparkSession factory (AQE, Arrow, UTC, shuffle tuning)
- ``sources``     parquet/CSV table loaders + the market-domain views
- ``operators``   composable DataFrame -> DataFrame transforms (SURVEY.md §2)
- ``functions``   scalar expression helpers (OP-49..OP-60)
- ``plans``       the declared query surface: registry of (query, oracle SQL)
- ``streaming``   Structured Streaming parity (OP-61..OP-64)
"""

__version__ = "0.1.0"
