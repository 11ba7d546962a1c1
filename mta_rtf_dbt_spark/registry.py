"""The engine's one query registry.

Every driver entry is a builder ``fn(spark, sf_dir) -> DataFrame`` that its
module registers with ``@q(name, oracle_sql)``. The decorator pins the
session's semantics (ANSI off, UTC; ``session.pin_session``) before every
build, so an entry behaves the same under a vanilla driver session as under
the test session. ``QUERIES`` maps names to builders and ``ORACLE`` maps
names to the DuckDB SQL that checks them; an entry with no oracle gets the
driver's rows-only check.

``MODULES`` lists every module that registers entries, and ``load_all()``
imports them. An import error propagates: a broken module fails the driver
instead of silently dropping its entries.
"""

from __future__ import annotations

import functools
import importlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from mta_rtf_dbt_spark.session import pin_session

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}

MODULES = [
    "mta_rtf_dbt_spark.plans.relational",
    "mta_rtf_dbt_spark.plans.tpch_extra",
    "mta_rtf_dbt_spark.plans.mta_driver",
    "mta_rtf_dbt_spark.metrics.events_analog",
    "mta_rtf_dbt_spark.operators.dedup",
    "mta_rtf_dbt_spark.operators.similarity",
    "mta_rtf_dbt_spark.operators.textops",
    "mta_rtf_dbt_spark.operators.textprep",
    "mta_rtf_dbt_spark.operators.multimodal",
    "mta_rtf_dbt_spark.streaming.jobs",
    "mta_rtf_dbt_spark.sources.ingest",
    "mta_rtf_dbt_spark.operators.quality",
    "mta_rtf_dbt_spark.operators.merge",
    "mta_rtf_dbt_spark.operators.shard",
    "mta_rtf_dbt_spark.operators.incremental",
    "mta_rtf_dbt_spark.operators.scd2",
    "mta_rtf_dbt_spark.operators.asof",
    "mta_rtf_dbt_spark.operators.sketches",
    "mta_rtf_dbt_spark.operators.graph",
    "mta_rtf_dbt_spark.operators.sampling",
    "mta_rtf_dbt_spark.sources.formats",
    "mta_rtf_dbt_spark.operators.pyudtf",
    "mta_rtf_dbt_spark.operators.tokenize",
    "mta_rtf_dbt_spark.operators.pipeline",
    "mta_rtf_dbt_spark.operators.lm",
    "mta_rtf_dbt_spark.operators.layout",
    "mta_rtf_dbt_spark.operators.scale",
    "mta_rtf_dbt_spark.operators.privacy",
    "mta_rtf_dbt_spark.operators.geo",
]


def q(name: str, sql: str | None = None):
    """Register the decorated builder as entry ``name``, with ``sql`` as its
    DuckDB oracle when given. A name can be registered once."""
    if name in QUERIES:
        raise ValueError(f"registry entry {name!r} is already registered")

    def deco(fn):
        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            pin_session(spark)
            return fn(spark, sf_dir)

        QUERIES[name] = wrapped
        if sql is not None:
            ORACLE[name] = sql
        return wrapped

    return deco


def load_all() -> None:
    """Import every registering module, filling ``QUERIES`` and ``ORACLE``."""
    for module in MODULES:
        importlib.import_module(module)
