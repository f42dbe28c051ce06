"""chicago_business_owners_data_engineering_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the query and data-processing
capabilities of the reference ETL/analytics application
(moeinghaeini/chicago-business-owners-data-engineering). The reference is a
pandas + SQLite/Postgres + Kafka application; this engine is built on the
Spark DataFrame/SQL API so Catalyst + Tungsten pick the physical strategy
(broadcast vs sort-merge joins, hash aggregation, whole-stage codegen,
partition pruning, AQE).

Layout
------
- ``session``    — SparkSession factory tuned for the target scale.
- ``catalog``    — parquet table loading, scan spreading and pinned
                   intermediates (``Pins``/``generation``).
- ``functions``  — column-function library (cleaning, text, sampling)
                   and the Python-UDF demos (udfs).
- ``operators``  — the relational operator inventory (SURVEY.md §2) as
                   composable DataFrame transformations.
- ``plans``      — multi-stage jobs (warehouse ETL, quality audit).
- ``sources``    — lake-layout readers/writers (partitioned parquet, JSON).
- ``streaming``  — Structured Streaming jobs (enrichment, windowed aggs).
- ``registry``   — the named query registry + DuckDB oracle SQL twins.
"""

__version__ = "0.1.0"
