"""Driver-contract entries for the streaming head: each runs a Structured
Streaming pipeline to completion (``Trigger.AvailableNow`` over the static
testdata parquet) and returns the drained result as a batch DataFrame, so the
DuckDB oracle can check it like any batch query.

Determinism note: the source is a single parquet file → exactly one data
micro-batch → nothing is late relative to the watermark and update-mode
emissions happen exactly once per key. That makes stream results equal batch
results (the parity the reference's batch-over-snapshots design implies,
SURVEY.md §2.9) and therefore oracle-checkable. On a real multi-file/multi-
batch source the same pipelines run with the same code, but late data beyond
the watermark would be dropped — the documented divergence from the
reference's keep-everything batch semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mta_rtf_dbt_spark import registry
from mta_rtf_dbt_spark.registry import q
from mta_rtf_dbt_spark.streaming.head import (
    first_observation,
    run_to_memory,
    session_windows,
    stream_source,
    windowed_actor_counts,
)

SESSION_GAP_MIN = 30


@q(
    "stream_m1_actors_per_minute",
    """
    SELECT date_trunc('minute', ts) AS window_start,
           date_trunc('minute', ts) + INTERVAL 1 MINUTE AS window_end,
           event_type,
           count(DISTINCT user_id) AS actors_observed
    FROM events GROUP BY 1, 2, 3
    """,
)
def stream_m1(spark, sf_dir):
    """M1 as a stream: watermark + per-window actor dedup + tumbling count
    (complete mode re-emits the full result on the one-shot drain)."""
    src = stream_source(spark, sf_dir, "events")
    return run_to_memory(windowed_actor_counts(src, "1 minute"), "complete")


@q(
    "stream_hopping_windows",
    """
    WITH x AS (
      SELECT event_type,
             300 * (CAST(floor(epoch_us(ts)/1000000.0) AS BIGINT) // 300) AS s1
      FROM events
    ),
    w AS (SELECT event_type, unnest([s1 - 300, s1]) AS win_s FROM x)
    SELECT CAST(to_timestamp(win_s) AS TIMESTAMP) AS win_start,
           CAST(to_timestamp(win_s + 600) AS TIMESTAMP) AS win_end,
           event_type,
           COUNT(*) AS n_events
    FROM w GROUP BY 1, 2, 3
    """,
)
def stream_hopping(spark, sf_dir):
    """The hopping-window shape (10-minute windows sliding every 5) as a
    watermarked stream — the same ``F.window`` expression the batch
    ``w_hopping_windows`` entry uses, proving slide semantics are shared
    across both execution modes. Count-only: distinct aggregates aren't
    supported in streaming, and the one-shot drain makes stream == batch."""
    src = stream_source(spark, sf_dir, "events")
    agg = (
        src.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes", "5 minutes").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "event_type",
            "n_events",
        )
    )
    return run_to_memory(agg, "complete")


@q(
    "stream_first_observation_keys",
    "SELECT DISTINCT user_id, event_type FROM events",
)
def stream_first_obs(spark, sf_dir):
    """W2's snapshot-dedup as streaming dropDuplicatesWithinWatermark. Only
    the keys are emitted to the driver gate (which payload row arrives first
    is arrival-order-dependent; tests pin payload behavior on ordered
    fixtures)."""
    src = stream_source(spark, sf_dir, "events")
    deduped = first_observation(src, ["user_id", "event_type"], watermark="100 days")
    return run_to_memory(deduped.select("user_id", "event_type"), "append")


@q(
    "stream_sessionize",
    f"""
    WITH o AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w >= INTERVAL {SESSION_GAP_MIN} MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    s AS (SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                     ROWS UNBOUNDED PRECEDING) AS sid
          FROM o)
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL {SESSION_GAP_MIN} MINUTE AS session_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(round(value * 1000, 0) AS BIGINT)) AS BIGINT) AS value_milli,
           MIN(ts) AS first_ts, MAX(ts) AS last_ts
    FROM s GROUP BY user_id, sid
    """,
)
def stream_sessionize(spark, sf_dir):
    """Gap-based sessionization (30-min gap per user) as a streaming session
    window; oracle is the classic gaps-and-islands rewrite. Values are summed
    as integer millis so the order-insensitive hash is float-order-proof."""
    src = stream_source(spark, sf_dir, "events").withColumn(
        "value", F.round(F.col("value") * 1000, 0).cast("long")
    )
    sess = session_windows(
        src, f"{SESSION_GAP_MIN} minutes", watermark="100 days"
    ).select(
        "user_id",
        "session_start",
        "session_end",
        "n_events",
        F.col("value_sum").cast("long").alias("value_milli"),
        "first_ts",
        "last_ts",
    )
    return run_to_memory(sess, "complete")


@q(
    "sessionize_batch",
    registry.ORACLE["stream_sessionize"],
)
def sessionize_batch(spark, sf_dir):
    """The same session_window plan over the batch reader — one code path for
    both executions (F.session_window works in plain groupBy)."""
    from mta_rtf_dbt_spark.sources.registry import load

    src = load(spark, sf_dir, "events").withColumn(
        "value", F.round(F.col("value") * 1000, 0).cast("long")
    )
    return session_windows(src, f"{SESSION_GAP_MIN} minutes").select(
        "user_id",
        "session_start",
        "session_end",
        "n_events",
        F.col("value_sum").cast("long").alias("value_milli"),
        "first_ts",
        "last_ts",
    )


@q(
    "stream_static_enrich",
    """
    SELECT c.c_nationkey AS nationkey,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(round(e.value * 1000, 0) AS BIGINT)) AS BIGINT) AS value_milli
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1
    """,
)
def stream_static_enrich(spark, sf_dir):
    """Stream-static join: the streaming side enriches against a broadcast
    batch dimension per micro-batch (the GTFS-static enrichment pattern in
    streaming form). Distinct aggregates aren't allowed in streaming — the
    exact-distinct recipe is the dedup-then-count in windowed_actor_counts."""
    from mta_rtf_dbt_spark.sources.registry import load

    src = stream_source(spark, sf_dir, "events")
    cust = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_nationkey"
    )
    enriched = src.join(cust, "user_id")
    agg = enriched.groupBy(F.col("c_nationkey").alias("nationkey")).agg(
        F.count("*").alias("n_events"),
        F.sum(F.round(F.col("value") * 1000, 0).cast("long")).alias("value_milli"),
    )
    return run_to_memory(agg, "complete")


@q(
    "stream_stateful_running_totals",
    """
    SELECT user_id, event_type, count(*) AS n_events,
           CAST(SUM(CAST(round(value * 1000, 0) AS BIGINT)) AS BIGINT) AS value_milli,
           max(ts) AS last_ts
    FROM events GROUP BY 1, 2
    """,
)
def stream_stateful(spark, sf_dir):
    """Custom stateful operator (applyInPandasWithState): per-key running
    totals. One micro-batch → one emission per key → equals the batch
    aggregate."""
    from mta_rtf_dbt_spark.streaming.stateful import running_totals

    src = stream_source(spark, sf_dir, "events").withColumn(
        "value", F.round(F.col("value") * 1000, 0).cast("double")
    )
    out = running_totals(src).select(
        "user_id",
        "event_type",
        "n_events",
        F.col("value_sum").cast("long").alias("value_milli"),
        "last_ts",
    )
    return run_to_memory(out, "update")


@q(
    "stream_stream_interval_join",
    """
    SELECT a.user_id,
           a.event_id AS event_a,
           b.event_id AS event_b,
           CAST((epoch_us(b.ts) - epoch_us(a.ts)) // 1000000 AS BIGINT) AS gap_s
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 2 MINUTE
     AND a.event_id < b.event_id
    """,
)
def stream_stream_join(spark, sf_dir):
    """Stream-stream inner join with an event-time interval condition (each
    event paired with the same user's events up to 2 minutes later). Both
    sides carry watermarks so Spark bounds the join state to the interval +
    watermark horizon — the state-cleanup contract that makes stream-stream
    joins viable at scale; with the one-shot source nothing is late, so the
    drained result equals the batch interval join and is fully
    oracle-checked."""
    import mta_rtf_dbt_spark.functions.bq as bq

    a = (
        stream_source(spark, sf_dir, "events")
        .select("user_id", F.col("event_id").alias("event_a"), F.col("ts").alias("ts_a"))
        .withWatermark("ts_a", "100 days")
    )
    b = (
        stream_source(spark, sf_dir, "events")
        .select("user_id", F.col("event_id").alias("event_b"), F.col("ts").alias("ts_b"))
        .withWatermark("ts_b", "100 days")
    )
    joined = a.join(
        b,
        (a["user_id"] == b["user_id"])
        & (F.col("ts_b") >= F.col("ts_a"))
        & (F.col("ts_b") <= F.col("ts_a") + F.expr("INTERVAL 2 MINUTES"))
        & (F.col("event_a") < F.col("event_b")),
    ).select(
        a["user_id"],
        "event_a",
        "event_b",
        bq.timestamp_diff(F.col("ts_b"), F.col("ts_a"), "SECOND").alias("gap_s"),
    )
    return run_to_memory(joined, "append")


@q(
    "stream_agg_maintenance",
    """
    SELECT event_type,
           count(value_milli)                      AS n,
           CAST(sum(value_milli) AS BIGINT)        AS sum_v,
           min(value_milli)                        AS min_v,
           max(value_milli)                        AS max_v,
           round(sum(value_milli) * 1.0 / count(value_milli), 6) AS avg_v
    FROM (SELECT event_type, CAST(round(value * 1000, 0) AS BIGINT) AS value_milli
          FROM events)
    GROUP BY event_type
    """,
)
def stream_agg_maintenance_entry(spark, sf_dir):
    """Streaming incremental aggregate maintenance: drain the events stream
    through the foreachBatch monoid-fold sink
    (streaming/upsert.stream_agg_maintenance — batch-id-guarded, so SUM
    folds stay exactly-once under redelivery) and finalize the state table;
    the oracle is the one-pass batch aggregate, proving stream-maintained
    state equals recompute. The batch entry incremental_agg_merge folds the
    same monoid over static slices — one algebra, two arrival modes."""
    import tempfile

    from mta_rtf_dbt_spark.operators.incremental import finalize_agg
    from mta_rtf_dbt_spark.streaming.upsert import stream_agg_maintenance

    tmp = tempfile.mkdtemp(prefix="agg_maint_")
    src = stream_source(spark, sf_dir, "events").select(
        "event_type", F.round(F.col("value") * 1000, 0).cast("long").alias("value_milli")
    )
    query = stream_agg_maintenance(
        spark, src, f"{tmp}/state", f"{tmp}/ckpt", ["event_type"], "value_milli"
    )
    query.awaitTermination(600)
    return finalize_agg(spark.read.parquet(f"{tmp}/state"), ["event_type"])


@q(
    "stream_stream_left_join",
    """
    SELECT a.user_id,
           a.event_id AS event_a,
           b.event_id AS event_b,
           CAST((epoch_us(b.ts) - epoch_us(a.ts)) // 1000000 AS BIGINT) AS gap_s
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 2 MINUTE
     AND a.event_id < b.event_id
    UNION ALL
    SELECT a.user_id, a.event_id, NULL, NULL
    FROM events a
    WHERE a.ts + INTERVAL 2 MINUTE < (SELECT max(ts) FROM events)
      AND NOT EXISTS (SELECT 1 FROM events b
                      WHERE b.user_id = a.user_id
                        AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 2 MINUTE
                        AND a.event_id < b.event_id)
    """,
)
def stream_stream_left_join(spark, sf_dir):
    """Stream-stream LEFT OUTER interval join — the inner entry's sibling
    with the semantics that make outer streaming joins subtle: matched
    pairs emit immediately, but an UNMATCHED left row can only emit its
    null-padded result once the watermark proves no future match can
    arrive (state eviction), i.e. once the global watermark passes
    ``ts_a + interval``. Rows whose match window is still open when the
    one-shot drain ends stay pending in state — so the oracle is exactly
    that split: the batch inner join UNION the no-match rows whose window
    the final watermark (max event time, 0s delay) has closed. The hash
    check pins both halves, including the eviction horizon.

    The watermark sits directly on each source (BEFORE any filtering):
    the global watermark is the MIN across both sides, so capping one
    side's max event time (e.g. by pre-filtering the left stream) would
    silently hold back every close-to-horizon eviction — measured here:
    a pre-filtered left side left its own latest row permanently
    un-emitted. State is bounded to interval + watermark horizon per key,
    the contract that keeps the join viable on unbounded streams."""
    import mta_rtf_dbt_spark.functions.bq as bq

    a = (
        stream_source(spark, sf_dir, "events")
        .select("user_id", F.col("event_id").alias("event_a"), F.col("ts").alias("ts_a"))
        .withWatermark("ts_a", "0 seconds")
    )
    b = (
        stream_source(spark, sf_dir, "events")
        .select("user_id", F.col("event_id").alias("event_b"), F.col("ts").alias("ts_b"))
        .withWatermark("ts_b", "0 seconds")
    )
    joined = a.join(
        b,
        (a["user_id"] == b["user_id"])
        & (F.col("ts_b") >= F.col("ts_a"))
        & (F.col("ts_b") <= F.col("ts_a") + F.expr("INTERVAL 2 MINUTES"))
        & (F.col("event_a") < F.col("event_b")),
        "left_outer",
    ).select(
        a["user_id"],
        "event_a",
        "event_b",
        bq.timestamp_diff(F.col("ts_b"), F.col("ts_a"), "SECOND").alias("gap_s"),
    )
    return run_to_memory(joined, "append")


@q(
    "stream_tws_user_profile",
    """
    WITH bt AS (
      SELECT user_id, event_type, COUNT(*) AS cnt FROM events GROUP BY 1, 2
    ),
    top AS (
      SELECT user_id, event_type AS top_type,
             row_number() OVER (PARTITION BY user_id ORDER BY cnt DESC, event_type ASC) AS rn,
             COUNT(*) OVER (PARTITION BY user_id) AS n_types
      FROM bt
    ),
    tot AS (
      SELECT user_id, COUNT(*) AS n_events,
             CAST(SUM(CAST(round(value * 1000, 0) AS BIGINT)) AS BIGINT) AS value_milli
      FROM events GROUP BY 1
    )
    SELECT t.user_id, t.n_events, t.value_milli, p.n_types, p.top_type
    FROM tot t JOIN top p ON t.user_id = p.user_id AND p.rn = 1
    """,
)
def stream_tws_profile(spark, sf_dir):
    """transformWithStateInPandas (Spark 4 typed-state API): per-user profile
    from a ValueState + MapState pair. One micro-batch → the final emission
    per user equals the batch profile, so the composite-state path is fully
    oracle-checked (totals, distinct-type count, deterministic top type)."""
    from mta_rtf_dbt_spark.streaming.tws import user_activity_profile

    src = stream_source(spark, sf_dir, "events").withColumn(
        "value", F.round(F.col("value") * 1000, 0).cast("double")
    )
    out = user_activity_profile(src).select(
        "user_id",
        "n_events",
        F.col("value_sum").cast("long").alias("value_milli"),
        F.col("n_types").cast("long").alias("n_types"),
        "top_type",
    )
    return run_to_memory(out, "update")


@q(
    "stream_heavy_hitters",
    """
    WITH tot AS (SELECT COUNT(*) AS t FROM events)
    SELECT e.event_type, e.user_id, COUNT(*) AS item_count,
           ROUND(COUNT(*) * 1.0 / MAX(tot.t), 6) AS support_frac
    FROM events e, tot
    GROUP BY e.event_type, e.user_id
    HAVING COUNT(*) > MAX(tot.t) * 0.0005
    """,
)
def stream_heavy_hitters(spark, sf_dir):
    """The streaming heavy-hitter monitor: per-(event_type, user_id) counts
    maintained incrementally as streaming state (one stateful aggregate —
    the count store a production monitor keeps warm), with the support
    threshold applied as a cheap post-scan over the state table (the
    report side; total arrives as a 1-row broadcast). One-shot drain makes
    stream == batch, so the result hash-matches the exact batch operator
    (operators/sketches.heavy_hitters_exact) and its oracle verbatim. At
    scale the same shape runs windowed (see stream_hopping_windows) with a
    CMS prefilter (a_cms_portable) bounding state for ultra-wide keys."""
    src = stream_source(spark, sf_dir, "events")
    counts = src.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("item_count")
    )
    sink = run_to_memory(counts, "complete")
    total = sink.agg(F.sum("item_count").alias("__total"))
    return (
        sink.join(total)
        .filter(F.col("item_count") > F.col("__total") * 0.0005)
        .select(
            "event_type",
            "user_id",
            "item_count",
            F.round(F.col("item_count") / F.col("__total"), 6).alias("support_frac"),
        )
    )
