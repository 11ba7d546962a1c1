"""Structured-Streaming head (SURVEY.md §2.9, §7.7a).

The reference is batch-over-snapshots: dlt polls GTFS-rt and appends rows
tagged ``as_of``/``feed`` (mta_sources.yml:136-141); "streaming" concerns are
simulated relationally (window dedup rn=1 at metrics_guide.md:188-191,
tumbling buckets as date_trunc math at :30,46; no watermarks, late data never
dropped). This module is the native-streaming re-expression of those shapes:

- ``stream_source``          — file-based ``readStream`` over the same parquet
                               the batch registry reads, with the same declared
                               schema and footer drift check.
- ``first_observation``      — W2 snapshot-dedup as streaming
                               ``dropDuplicates`` (first row per key wins).
- ``windowed_actor_counts``  — M1/M2 tumbling-window distinct-actor counts as
                               watermark + dedup + window aggregate.
- ``session_windows``        — gap-based sessionization (``F.session_window``)
                               usable in BOTH batch and streaming — the
                               conversation/sessionize primitive a training-data
                               pipeline needs.
- ``run_to_memory``          — availableNow runner: drain the stream to a
                               memory sink and return the result as a batch
                               DataFrame (tests + driver contract).

Semantics note (why batch stays the source of truth): the reference never
drops late data, while a watermarked stream eventually must. With
``Trigger.AvailableNow`` over a static directory everything lands in order and
nothing is late, so stream results equal batch results exactly — that parity
is asserted in tests/test_streaming.py and by the driver oracles in
:mod:`mta_rtf_dbt_spark.streaming.jobs`.

Scale posture: state stores are keyed by the watermark-bearing column so
expired state is evicted (no unbounded state); sinks in production are
partitioned parquet via ``writeStream.format("parquet")`` — the memory sink
here is test/driver plumbing only.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mta_rtf_dbt_spark.sources.schemas import declared_schema


def stream_source(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """``readStream`` over the same parquet the batch registry serves.

    Streaming sources require an explicit schema; this one is the source's
    declaration (``sources.schemas.SCHEMAS``), checked against the file's
    footer exactly as the batch registry checks it, so batch and stream
    agree column for column and a drifted file fails here too.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    # The file source only accepts directories/globs, not a bare file path;
    # a one-character glob class makes the exact filename a valid pattern.
    # (On a cluster this points at a partitioned directory instead.)
    glob_path = path[:-1] + f"[{path[-1]}]"
    reader = spark.readStream.schema(declared_schema(path, name))
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(glob_path)


def first_observation(
    df: DataFrame, key_cols: list[str], ts_col: str = "ts", watermark: str = "1 hour"
) -> DataFrame:
    """W2's snapshot dedup (rn=1 per key, metrics_guide.md:188-191) as
    streaming ``dropDuplicates``: the first observed row per key wins.

    ``dropDuplicatesWithinWatermark`` bounds the dedup state to the watermark
    horizon — the streaming trade-off the batch reference never had to make
    (batch keeps every snapshot forever).
    """
    wm = df.withWatermark(ts_col, watermark)
    return wm.dropDuplicatesWithinWatermark(key_cols)


def windowed_actor_counts(
    df: DataFrame,
    window: str = "1 minute",
    actor_col: str = "user_id",
    group_col: str = "event_type",
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """M1/M2 (metrics_guide.md:22-52) streaming-native: distinct actors per
    tumbling window per group.

    Streaming aggregation can't do exact ``countDistinct``, so distinctness is
    a ``dropDuplicates`` on (group, window-bucket, actor) — whose state the
    watermark expires because the bucket column carries the event time — then
    a plain count. Two stateful stages, both bounded.
    """
    bucket = F.window(F.col(ts_col), window)
    deduped = (
        df.withWatermark(ts_col, watermark)
        .select(F.col(group_col), bucket.alias("w"), F.col(actor_col))
        .dropDuplicates([group_col, "w", actor_col])
    )
    return (
        deduped.groupBy("w", group_col)
        .agg(F.count("*").alias("actors_observed"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            group_col,
            "actors_observed",
        )
    )


def session_windows(
    df: DataFrame,
    gap: str = "30 minutes",
    key_col: str = "user_id",
    ts_col: str = "ts",
    watermark: str | None = None,
) -> DataFrame:
    """Gap-based sessionization: consecutive events of one key closer than
    ``gap`` merge into one session (``F.session_window``). Works identically
    on batch and streaming input; streaming requires a watermark to finalize
    sessions.

    Output: one row per session with start/end (end = last event + gap, the
    session_window contract), event count, and value sum.
    """
    src = df.withWatermark(ts_col, watermark) if watermark else df
    return (
        src.groupBy(F.session_window(F.col(ts_col), gap).alias("sw"), F.col(key_col))
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("value_sum"),
            F.min(ts_col).alias("first_ts"),
            F.max(ts_col).alias("last_ts"),
        )
        .select(
            key_col,
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "value_sum",
            "first_ts",
            "last_ts",
        )
    )


def run_to_memory(
    sdf: DataFrame, output_mode: str = "complete", name: str | None = None
) -> DataFrame:
    """Drain a streaming DataFrame with ``Trigger.AvailableNow`` into a memory
    sink; return the sink contents as a batch DataFrame.

    ``complete`` mode for aggregations (append would hold final windows back
    behind the watermark and emit nothing on a one-shot drain); ``append`` for
    stateless/dedup pipelines. Memory sink = driver-resident, test-scale only.
    """
    qname = name or f"mem_{uuid.uuid4().hex[:12]}"
    q = (
        sdf.writeStream.format("memory")
        .queryName(qname)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        q.stop()
    return sdf.sparkSession.table(qname)


def run_incremental(
    sdf: DataFrame,
    out_path: str,
    checkpoint_path: str,
    partition_by: list[str] | None = None,
) -> None:
    """Drain the stream's *new* data into a partitioned parquet sink with a
    checkpoint — the production ingestion loop for snapshot-polled feeds
    (what dlt did for the reference, run on a schedule).

    The checkpoint's source offsets make repeated invocations incremental and
    exactly-once: already-committed input files are skipped, a crashed batch
    is re-run idempotently (sink commit log). Tested across two invocations in
    tests/test_streaming.py.
    """
    w = (
        sdf.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
        .trigger(availableNow=True)
    )
    if partition_by:
        w = w.partitionBy(*partition_by)
    q = w.start()
    try:
        q.awaitTermination()
    finally:
        q.stop()
