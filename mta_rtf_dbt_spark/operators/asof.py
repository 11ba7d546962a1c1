"""As-of (point-in-time) join — the operator Spark lacks natively.

For each left row, attach the most recent right row with the same key at or
before the left row's timestamp (the "latest feed snapshot for this trip"
pattern behind the reference's trip-state models, fact_trips.sql:42-57 —
there solved per-snapshot with max_by; here generalized to arbitrary
point-in-time lookups).

Implementation is the **union–sort–fill** plan, not a range join:

1. tag both inputs and union them on (key, event_time) with side markers,
2. one window per key ordered by (time, side, right_tiebreak) carries the
   last-seen right payload forward (``last(..., ignorenulls=True)``),
3. keep only left rows.

Cost: ONE shuffle on the key + a per-partition sort — linear, no
per-key cross product, no range-explosion. A banded range join does
O(|left|·|right-per-key-window|) work; at 100 TB of events this plan is the
difference between a sort and a blow-up. Ties: a right row at exactly the
left timestamp IS visible (<=); equal right timestamps resolve to the
largest tiebreak column value on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mta_rtf_dbt_spark.registry import q
from mta_rtf_dbt_spark.sources.registry import load


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    right_cols: list[str],
    tiebreak: str | None = None,
) -> DataFrame:
    """Left as-of join: every ``left`` row, plus ``right_cols`` from the
    latest ``right`` row with ``right_time <= left_time`` on the same ``on``
    key (NULLs when no prior right row exists).

    ``tiebreak``: right column deciding between right rows with identical
    timestamps (greatest wins) — required for deterministic output when the
    right side can carry duplicate (key, time) pairs.
    """
    lcols = left.columns
    tb = tiebreak or right_cols[0]
    # Right payload rides as ONE struct so the fill can never mix columns
    # from different right rows when a payload column is legitimately NULL.
    payload = F.struct(*[F.col(c) for c in right_cols])
    payload_type = right.select(payload.alias("__p")).schema["__p"].dataType
    l_tag = left.select(
        F.col(on).alias("__k"),
        F.col(left_time).alias("__t"),
        F.lit(1).alias("__side"),
        F.lit(None).cast(right.schema[tb].dataType).alias("__tb"),
        *[F.col(c) for c in lcols],
        F.lit(None).cast(payload_type).alias("__p"),
    )
    r_tag = right.select(
        F.col(on).alias("__k"),
        F.col(right_time).alias("__t"),
        F.lit(0).alias("__side"),
        F.col(tb).alias("__tb"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols],
        payload.alias("__p"),
    )
    # Order: time, then right-before-left at equal time (<= semantics), then
    # tiebreak so the greatest duplicate-time right row is the one carried.
    w = (
        Window.partitionBy("__k")
        .orderBy(F.col("__t").asc(), F.col("__side").asc(), F.col("__tb").asc_nulls_first())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = l_tag.unionByName(r_tag).select(
        *lcols,
        F.col("__side"),
        *[
            F.last(F.col("__p"), ignorenulls=True).over(w).getField(c).alias(c)
            for c in right_cols
        ],
    )
    return filled.filter(F.col("__side") == 1).drop("__side")


_ASOF_SQL = """
SELECT e.event_id, e.user_id, e.ts, e.event_type,
       o.o_orderkey, o.o_orderdate, o.o_totalprice
FROM events e
LEFT JOIN orders o
  ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
QUALIFY row_number() OVER (
  PARTITION BY e.event_id
  ORDER BY o.o_orderdate DESC NULLS LAST, o.o_orderkey DESC NULLS LAST
) = 1
"""


@q("j_asof_latest_order", _ASOF_SQL)
def j_asof_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each event joined to the user's most recent order at event time.
    Oracle spells the same semantics as a banded join + QUALIFY (fine at
    sf0.01); the engine plan is the linear union-sort-fill."""
    events = load(spark, sf_dir, "events").select("event_id", "user_id", "ts", "event_type")
    orders = load(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"), "o_orderkey", "o_orderdate", "o_totalprice"
    )
    return asof_join(
        events,
        orders,
        on="user_id",
        left_time="ts",
        right_time="o_orderdate",
        right_cols=["o_orderkey", "o_orderdate", "o_totalprice"],
        tiebreak="o_orderkey",
    )


_ASOF_TOL_SQL = """
WITH matched AS (
  SELECT e.event_id, e.user_id, e.ts, e.event_type,
         o.o_orderkey, o.o_orderdate, o.o_totalprice
  FROM events e
  LEFT JOIN orders o
    ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
  QUALIFY row_number() OVER (
    PARTITION BY e.event_id
    ORDER BY o.o_orderdate DESC NULLS LAST, o.o_orderkey DESC NULLS LAST
  ) = 1
)
SELECT event_id, user_id, ts, event_type,
       CASE WHEN o_orderdate < ts - INTERVAL 30 DAY THEN NULL ELSE o_orderkey END AS o_orderkey,
       CASE WHEN o_orderdate < ts - INTERVAL 30 DAY THEN NULL ELSE o_orderdate END AS o_orderdate,
       CASE WHEN o_orderdate < ts - INTERVAL 30 DAY THEN NULL ELSE o_totalprice END AS o_totalprice,
       (o_orderdate IS NOT NULL AND o_orderdate < ts - INTERVAL 30 DAY) AS stale_voided
FROM matched
"""


@q("j_asof_tolerance", _ASOF_TOL_SQL)
def j_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a STALENESS TOLERANCE (pandas merge_asof's
    ``tolerance=``): the latest prior order still attaches, but when it is
    older than 30 days at event time the payload is voided to NULL and
    flagged — point-in-time enrichment where an outdated snapshot is worse
    than none (feature stores, risk lookups). The tolerance is a post-fill
    projection over the same linear union-sort-fill plan: zero extra
    shuffle versus the plain as-of join, and distinct from filtering the
    right side first (which would wrongly promote an even older row)."""
    events = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    orders = load(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"), "o_orderkey", "o_orderdate", "o_totalprice"
    )
    j = asof_join(
        events,
        orders,
        on="user_id",
        left_time="ts",
        right_time="o_orderdate",
        right_cols=["o_orderkey", "o_orderdate", "o_totalprice"],
        tiebreak="o_orderkey",
    )
    stale = F.col("o_orderdate") < F.col("ts") - F.expr("INTERVAL 30 DAYS")
    void = lambda c: F.when(~stale, F.col(c)).alias(c)  # noqa: E731
    return j.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        void("o_orderkey"),
        void("o_orderdate"),
        void("o_totalprice"),
        (F.col("o_orderdate").isNotNull() & stale).alias("stale_voided"),
    )
