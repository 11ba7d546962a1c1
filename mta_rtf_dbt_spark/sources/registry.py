"""Source registry — the Spark analogue of dbt's ``source()`` +
``mta_sources.yml`` declaration layer (S1; reference mta_sources.yml:3-178).

Two families of sources:

- **Generic testdata** (TPC-H-ish; TESTDATA.md): parquet files under an
  ``sf_dir``; loaded lazily and registered as temp views so Spark SQL and the
  DataFrame API share one catalog namespace, mirroring how every dbt model
  resolved ``source('mta', t)`` to a warehouse relation.
- **MTA-shaped fixtures** (FIXTURES.md): generated deterministically by
  :mod:`mta_rtf_dbt_spark.sources.fixtures`, same registry mechanics.

Every source of both families is declared in
:mod:`mta_rtf_dbt_spark.sources.schemas` (``SCHEMAS``), so a load is
``spark.read.schema(SCHEMAS[name]).parquet(path)``: no schema-inference job
runs. Before the first read of a file, a driver-side footer check compares it
with the declaration and raises ``SchemaDriftError`` naming the column that
went missing, appeared or changed type. Paths that are not declared (tables
the engine wrote itself) are read with the schema Spark stored in their
parquet footers, also without a job; only a file without one is inferred.

A load is resolved once per file version, as BigQuery resolves a query over
views against cached catalog metadata: :func:`load` keys its result on
(session, path, name, ``schemas.file_signature(path)``), the size and mtime
of every data file under the path. While the signature holds, it returns the
DataFrame it resolved before (a lazy plan, no data); a rewrite, an append
into a partition directory or a removed file changes the signature, and the
next load resolves, and drift-checks, the new files. The footer reads are
cached on the same signature. Nothing executed is cached here: every query
over a returned frame plans and runs anew.

Scale posture: on a cluster the same registry points at partitioned
directories and Catalyst gets partition pruning + predicate pushdown for free;
nothing here materializes.
"""

from __future__ import annotations

import json
import os
import re
from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType, TimestampNTZType

from mta_rtf_dbt_spark.sources.schemas import (
    SCHEMAS,
    Signature,
    declared_schema,
    file_signature,
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

TESTDATA_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

@lru_cache(maxsize=256)
def _nanos_timestamp_cols(path: str, sig: Signature) -> tuple[str, ...]:
    """Parquet TIMESTAMP(NANOS) columns — Spark can't map them to
    TimestampType natively (PARQUET_TYPE_ILLEGAL), so the loader reads them as
    long nanos and converts. Footer-only driver-side peek, cached per file
    version."""
    try:
        import pyarrow.parquet as pq

        schema = pq.read_schema(path)
        return tuple(f.name for f in schema if str(f.type) == "timestamp[ns]")
    except Exception:
        return ()


@lru_cache(maxsize=256)
def _spark_written_schema(path: str, sig: Signature) -> StructType | None:
    """The schema Spark stored in the footer of a table it wrote (key
    ``org.apache.spark.sql.parquet.row.metadata``), read driver-side from the
    first data file; None for files written without it. Partition columns
    are not in it: Spark adds them from the directory names, as inference
    does."""
    if not sig:
        return None
    import pyarrow.parquet as pq

    rel = sig[0][0]
    meta = pq.read_schema(os.path.join(path, rel) if rel else path).metadata or {}
    text = meta.get(b"org.apache.spark.sql.parquet.row.metadata")
    return StructType.fromJson(json.loads(text)) if text else None


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one source table (no action triggered — stays a lazy scan).

    Resolved once per (session, file version): see the module docstring."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    return _resolved(spark, path, name, file_signature(path))


@lru_cache(maxsize=256)
def _resolved(spark: SparkSession, path: str, name: str, sig: Signature) -> DataFrame:
    """A declared source is read with its declared schema, after the footer
    drift check; an engine-written table with the schema in its footer;
    anything else goes through :func:`_inferred`."""
    if name in SCHEMAS:
        return spark.read.schema(declared_schema(path, name)).parquet(path)
    schema = _spark_written_schema(path, sig)
    if schema is None:
        return _inferred(spark, path)
    return _timestamps_as_ltz(spark.read.schema(schema).parquet(path))


def _inferred(spark: SparkSession, path: str) -> DataFrame:
    """Read a parquet path with Spark's schema inference (one job).

    TIMESTAMP(NANOS) columns are read as long nanos via
    ``spark.sql.legacy.parquet.nanosAsLong`` and truncated to micros with
    exact integer division (``div`` — nanos exceed 2^53, float math would
    corrupt them), matching DuckDB's nanos->micros truncation. The conf is
    set only while the schema is resolved, then the caller's value comes
    back: the resolved frame keeps its long columns either way.
    """
    ns_cols = _nanos_timestamp_cols(path, file_signature(path))
    conf = "spark.sql.legacy.parquet.nanosAsLong"
    prior = spark.conf.get(conf)
    if ns_cols:
        spark.conf.set(conf, "true")
    try:
        df = spark.read.parquet(path)
    finally:
        spark.conf.set(conf, prior)
    for c in ns_cols:
        df = df.withColumn(c, F.expr(f"timestamp_micros(`{c}` div 1000)"))
    return _timestamps_as_ltz(df)


def _timestamps_as_ltz(df: DataFrame) -> DataFrame:
    """Belt-and-braces vs spark.sql.parquet.inferTimestampNTZ.enabled drift:
    zoneless parquet timestamps must surface as TimestampType (session tz is
    pinned UTC so the cast is value-preserving); unix_micros()/withWatermark()
    reject TIMESTAMP_NTZ outright."""
    for field in df.schema.fields:
        if isinstance(field.dataType, TimestampNTZType):
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return df


def spread(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition when the scan produced fewer partitions than
    cores. Parquet can't split below row-group granularity, so a small/
    single-row-group file pins every downstream narrow transform to one task
    — fatal for CPU-heavy per-row operators (shingling, hashing, vector
    math). At 100 TB inputs arrive with thousands of row groups and this is a
    no-op; the repartition only fires when parallelism is actually missing.

    The ``.rdd`` partition probe is only safe on shuffle-free plans: under
    AQE, ``df.rdd`` on a plan containing exchanges MATERIALIZES the upstream
    query stages — measured r4 at ~5 s of hidden execution per curation-entry
    build. A plan that already shuffles (or reads a cache) has >=
    ``spark.sql.shuffle.partitions`` partitions anyway, so the probe is both
    dangerous and pointless there: detect exchanges via ``executedPlan``
    (building the AdaptiveSparkPlan wrapper is driver-side planning only —
    EnsureRequirements has inserted the Exchange nodes by then, unlike
    ``sparkPlan`` which prints BEFORE they exist; no jobs run until an
    action) and return the frame unchanged.

    Width is sized by the optimizer's byte estimate (r6): repartitioning a
    500 KB scan to 32 partitions makes EVERY downstream stage of every
    consumer 32-64 tasks wide, and at bench scale task scheduling then
    dominates wall-clock (measured: the curation funnel spent ~0.9 s of
    3.3 s purely on task dispatch). Target = clamp(bytes/1 MB, 8, cores):
    kilobyte inputs get 8-way parallelism (plenty for their row counts),
    anything over ~32 MB gets full width, and at 100 TB the estimate
    saturates the cap so the policy is exactly the old one. The stats call
    is on the LOGICAL plan — driver-side estimation, no jobs."""
    try:
        plan = df._jdf.queryExecution().executedPlan().toString()
        # Shuffle exchanges only: r4 ADVICE — the bare substring 'Exchange'
        # also matches BroadcastExchange, denying the parallelism rescue to a
        # single-partition scan that merely broadcasts a dim. \bExchange\b
        # matches the shuffle node ('Exchange hashpartitioning...') but not
        # 'BroadcastExchange' (no word boundary inside the token).
        if re.search(r"\bExchange\b", plan) or "InMemoryTableScan" in plan:
            return df
    except Exception:
        pass  # fall through to the probe on any introspection failure
    cores = df.sparkSession.sparkContext.defaultParallelism
    target = min_partitions
    if target is None:
        target = cores
        try:
            nbytes = int(
                str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
            )
            target = max(8, min(cores, nbytes // (1 << 20)))
        except Exception:
            pass  # estimation unavailable — keep the full-width default
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def register_all(
    spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR, tables: list[str] | None = None
) -> dict[str, DataFrame]:
    """Register every source as a temp view (dbt ``source()`` equivalent)."""
    out: dict[str, DataFrame] = {}
    for name in tables or TESTDATA_TABLES:
        df = load(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
