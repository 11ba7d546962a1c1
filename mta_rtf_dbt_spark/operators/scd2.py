"""SCD Type-2 history tracking — dbt snapshot semantics (SURVEY §2.1 S6).

dbt snapshots (timestamp strategy) turn a mutable source into an append-only
history table with ``valid_from`` / ``valid_to`` validity intervals and an
``is_current`` flag. The reference project has snapshot-shaped inputs (every
GTFS-rt poll is a new ``as_of`` version of trip state; fact models pick
"latest per key" relationally), so the engine provides both directions:

- :func:`scd2_from_events` — batch reconstruction: collapse an event stream
  into change rows (value differs from the previous version) and derive each
  version's validity interval. One window per key; fully SQL-expressible,
  so the driver entry is oracle-checked.
- :func:`scd2_apply_batch` — the incremental form dbt runs per invocation:
  close out current rows the change batch supersedes and append the new
  versions. Joins/unions only (the MERGE shape); at scale the history table
  is bucketed on the keys and the change batch broadcasts.

Equivalence of the two (applying batches sequentially == one-shot
reconstruction) is asserted in tests/test_scd2.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mta_rtf_dbt_spark.registry import q
from mta_rtf_dbt_spark.sources.registry import load


def scd2_from_events(
    df: DataFrame,
    keys: list[str],
    order: list[str],
    tracked: str,
) -> DataFrame:
    """Collapse an event stream into SCD2 history: keep rows where the
    tracked value changed vs the key's previous event (or the first event),
    set ``valid_from`` = the change's order head, ``valid_to`` = the next
    change's (NULL while current). Two windows, same partitioning+ordering —
    one sort per key partition."""
    w = Window.partitionBy(*keys).orderBy(*order)
    changed = df.withColumn("__prev", F.lag(tracked).over(w)).filter(
        F.col("__prev").isNull() | (F.col(tracked) != F.col("__prev"))
    )
    w2 = Window.partitionBy(*keys).orderBy(*order)
    return (
        changed.withColumn("valid_from", F.col(order[0]))
        .withColumn("valid_to", F.lead(order[0]).over(w2))
        .withColumn("is_current", F.col("valid_to").isNull())
        .drop("__prev")
    )


def scd2_apply_batch(
    history: DataFrame,
    changes: DataFrame,
    keys: list[str],
    ts_col: str,
    tracked: str,
    *,
    full_snapshot: bool = False,
    snapshot_ts=None,
) -> DataFrame:
    """One dbt-snapshot invocation (timestamp strategy): for each key, take
    the batch's latest change; where it differs from the key's current
    version, close that version (``valid_to`` = change ts) and append the
    new current row. Unknown keys insert as new current rows. Unchanged
    values are ignored (no spurious versions). History's non-current rows
    pass through untouched.

    ``full_snapshot=True`` is dbt's ``invalidate_hard_deletes``: the batch
    is a complete picture of the source, so any current key ABSENT from it
    was hard-deleted upstream — its version closes at ``snapshot_ts`` (the
    snapshot's observation time, required in this mode) with no successor.

    Shape: one window over the (small) batch + one key-join against only the
    CURRENT slice of history — at scale, current rows are a partition or a
    bucketed table and the batch broadcasts."""
    if full_snapshot and snapshot_ts is None:
        raise ValueError("full_snapshot=True requires snapshot_ts")
    canonical = [*keys, tracked, "valid_from", "valid_to", "is_current"]
    history = history.select(*canonical)
    wb = Window.partitionBy(*keys).orderBy(F.col(ts_col).desc())
    latest = (
        changes.withColumn("__rn", F.row_number().over(wb))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
        .select(*keys, F.col(ts_col).alias("__chg_ts"), F.col(tracked).alias("__chg_val"))
    )
    current = history.filter(F.col("is_current"))
    closed_history = history.filter(~F.col("is_current"))

    # No registry entry reaches this join, but the hint applies: the filters
    # on its output turn branches of it into left outer joins, whose
    # broadcast tests/test_scd2.py::test_scd2_apply_plan_broadcasts_batch pins.
    joined = current.join(F.broadcast(latest), keys, "full_outer")
    # existing current rows: close if superseded by a DIFFERENT value
    superseded = F.col("__chg_val").isNotNull() & F.col("valid_from").isNotNull() & (
        F.col("__chg_val") != F.col(tracked)
    )
    # ... or hard-deleted: current but missing from a full snapshot
    deleted = (
        F.col("valid_from").isNotNull() & F.col("__chg_ts").isNull()
        if full_snapshot
        else F.lit(False)
    )
    kept_current = joined.filter(
        F.col("valid_from").isNotNull() & ~superseded & ~deleted
    ).select(*history.columns)
    closed_now = (
        joined.filter(superseded | deleted)
        .withColumn(
            "valid_to",
            F.coalesce(F.col("__chg_ts"), F.lit(snapshot_ts).cast("timestamp")),
        )
        .withColumn("is_current", F.lit(False))
        .select(*history.columns)
    )
    new_rows = (
        joined.filter(superseded | F.col("valid_from").isNull())
        .select(
            *keys,
            F.col("__chg_val").alias(tracked),
            F.col("__chg_ts").alias("valid_from"),
            F.lit(None).cast("timestamp").alias("valid_to"),
            F.lit(True).alias("is_current"),
        )
        .select(*[c for c in history.columns])
    )
    return closed_history.unionByName(kept_current).unionByName(closed_now).unionByName(new_rows)


@q(
    "scd2_history_events",
    """
    WITH ordered AS (
      SELECT user_id, event_id, ts, value,
             lag(value) OVER w AS prev_value
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    chg AS (
      SELECT user_id, event_id, ts, value FROM ordered
      WHERE prev_value IS NULL OR value <> prev_value
    )
    SELECT user_id, event_id, ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
           CAST(round(value * 1000, 0) AS BIGINT) AS value_milli,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL AS is_current
    FROM chg
    """,
)
def scd2_history_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 reconstruction over events (key = user_id, tracked = value):
    every change opens a version; validity intervals from lead()."""
    e = load(spark, sf_dir, "events")
    hist = scd2_from_events(e, ["user_id"], ["ts", "event_id"], "value")
    return hist.select(
        "user_id",
        "event_id",
        "valid_from",
        "valid_to",
        F.round(F.col("value") * 1000, 0).cast("long").alias("value_milli"),
        "is_current",
    )
