"""mta_rtf_dbt_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of the reference dbt/BigQuery project
``push-ai/mta-rtf-dbt`` (see SURVEY.md).

Layers (SURVEY.md §7):
  - :mod:`mta_rtf_dbt_spark.session`    — SparkSession factory, pinned semantics
  - :mod:`mta_rtf_dbt_spark.functions`  — BigQuery-compat expression library (D1-D11)
  - :mod:`mta_rtf_dbt_spark.sources`    — source registry + deterministic MTA fixtures
  - :mod:`mta_rtf_dbt_spark.plans`      — model DAG (fact_* views) + generic operator plans
  - :mod:`mta_rtf_dbt_spark.metrics`    — the 12 canonical metric queries (metrics_guide.md)
  - :mod:`mta_rtf_dbt_spark.operators`  — LLM-data-pipeline operators (dedup, similarity,
                                          text analysis, multimodal)
  - :mod:`mta_rtf_dbt_spark.streaming`  — Structured Streaming ingestion head
  - :mod:`mta_rtf_dbt_spark.registry`   — the one query registry: ``@q`` entries + DuckDB oracles

Everything is expressed with the DataFrame API / Spark SQL so Catalyst supplies
optimization (predicate pushdown, column pruning, broadcast selection, AQE) and the
plans scale from local[32] to a 1000-executor cluster unchanged.
"""

__version__ = "0.1.0"
