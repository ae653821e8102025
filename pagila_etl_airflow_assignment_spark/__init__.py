"""pagila_etl_airflow_assignment_spark — a PySpark-native analytics engine.

Brand-new implementation of the query and data-processing capabilities of the
reference repo ``ivnitish/pagila-etl-airflow_assignment`` (an Airflow-orchestrated,
watermark-driven incremental ETL computing weekly rental aggregates; see SURVEY.md),
re-expressed idiomatically on the Spark DataFrame API / Catalyst:

- ``plans.weekly_summary``   — the flagship full-recompute query
  (reference_query.sql:1-57) as one Spark aggregate of rentals per (rental week,
  return week) pair, summed in the driver (a prefix sum instead of an
  O(weeks x rentals) correlated rescan); the incremental runner shares it.
- ``operators``              — the SURVEY.md §2 operator inventory as named,
  individually-tested functions.
- ``incremental``            — the watermark / dirty-week / keyed-upsert protocol
  (etl_script_incremental_pandas.py:24-298) on Parquet storage.
- ``llm``                    — large-scale training-data-pipeline operators
  (dedup, similarity search, text analysis, multimodal plumbing).

Everything here derives from public knowledge only: the Apache Spark API and the
reference repo's observable behavior.
"""

__version__ = "0.1.0"
