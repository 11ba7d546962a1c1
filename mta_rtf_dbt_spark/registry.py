"""The engine's one query registry.

Every driver entry is a builder ``fn(spark, sf_dir) -> DataFrame`` that its
module registers with ``@q(name, oracle_sql)``. The decorator pins the
session's semantics (ANSI off, UTC; ``session.pin_session``) before every
build, so an entry behaves the same under a vanilla driver session as under
the test session. ``QUERIES`` maps names to builders and ``ORACLE`` maps
names to the DuckDB SQL that checks them; an entry with no oracle gets the
driver's rows-only check.

Builders persist intermediates with ``persist``; ``q`` owns how long such a
cache lives.

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
_PERSISTED: list[DataFrame] = []

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


def persist(df: DataFrame, eager: bool = False) -> DataFrame:
    """Persist ``df`` for the rest of the entry being built (see ``q``).

    ``eager=True`` materializes the cache at once (one count). Use it when
    the persisted relation feeds several sibling stages of one downstream
    action: Spark runs independent stages of a job concurrently, and every
    stage that reaches a not-yet-materialized InMemoryRelation computes the
    subtree itself, so the cache dedupes storage, not concurrent work.
    Materializing first is the staging write a production pipeline does
    between passes (measured: the one-action curation entry dropped ~40 %
    at sf0.1)."""
    df = df.persist()
    _PERSISTED.append(df)
    if eager:
        df.count()
    return df


def q(name: str, sql: str | None = None):
    """Register the decorated builder as entry ``name``, with ``sql`` as its
    DuckDB oracle when given. A name can be registered once.

    A cache lives for one entry. Before the wrapper builds an entry, it
    unpersists, blocking, every frame ``persist`` recorded since the last
    build, so no entry reads another's cache and live caches are bounded by
    one entry's. A frame the caller still holds from an earlier entry stays
    correct and recomputes on its next action. A builder that builds another
    entry inside its own build calls the undecorated function
    (``__wrapped__``): a nested wrapper would release the outer entry's
    caches."""
    if name in QUERIES:
        raise ValueError(f"registry entry {name!r} is already registered")

    def deco(fn):
        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            pin_session(spark)
            while _PERSISTED:
                _PERSISTED.pop().unpersist(blocking=True)
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
