"""Incremental aggregate maintenance — dbt incremental-model semantics for
aggregates (SURVEY §2.1 S4/S6 extension).

The reference rebuilds every model from scratch per `dbt run`
(`dbt_project.yml:29-36`; `docs/metrics_guide.md:385` tells production users
to "materialize and partition" instead). At 100 TB a daily full recompute of
a per-key aggregate re-reads the entire history; the standard fix is to keep
a *mergeable partial-aggregate state* table and fold each new batch into it:

    state(k) = (count, sum, min, max)          -- commutative monoid
    state'   = state  ⊕  aggregate(batch)      -- one groupBy over the batch
                                               -- + one co-grouped merge

Only COUNT/SUM/MIN/MAX (and anything derivable: AVG, rates) are maintained
this way; non-mergeable aggregates (MEDIAN, exact COUNT DISTINCT) need
sketches (operators/sketches.py — HLL/KLL states merge the same way).

Scale posture: the state table is bucketed on the keys, so the per-batch
merge shuffles only the (small) batch's partial aggregate — broadcast it
when the key cardinality is low. Equivalence with full recompute is the
oracle: the driver entry folds the events table in four arbitrary slices and
must hash-match DuckDB's single-pass aggregate over the whole table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mta_rtf_dbt_spark.registry import q
from mta_rtf_dbt_spark.sources.registry import load

STATE_COLS = ["n", "sum_v", "min_v", "max_v"]


def agg_state(df: DataFrame, keys: list[str], value: str) -> DataFrame:
    """Partial-aggregate state for one batch: per-key (count, sum, min, max)
    over ``value``. This is the map-side combine made explicit — Catalyst
    already partial-aggregates before the shuffle, so building state costs
    the same as the aggregate itself."""
    return df.groupBy(*keys).agg(
        F.count(value).alias("n"),
        F.sum(value).alias("sum_v"),
        F.min(value).alias("min_v"),
        F.max(value).alias("max_v"),
    )


def merge_agg_states(a: DataFrame, b: DataFrame, keys: list[str]) -> DataFrame:
    """state ⊕ state: union + one re-aggregate with the monoid ops. Keys
    present in only one side pass through (count 0 never occurs — agg_state
    emits only observed keys)."""
    return a.unionByName(b).groupBy(*keys).agg(
        F.sum("n").alias("n"),
        F.sum("sum_v").alias("sum_v"),
        F.min("min_v").alias("min_v"),
        F.max("max_v").alias("max_v"),
    )


def finalize_agg(state: DataFrame, keys: list[str]) -> DataFrame:
    """Derive the presentation columns from state. AVG comes out of the
    monoid (sum/count) — never maintained directly (averages don't merge)."""
    return state.select(
        *keys,
        F.col("n"),
        F.col("sum_v"),
        F.col("min_v"),
        F.col("max_v"),
        F.round(F.col("sum_v") / F.col("n"), 6).alias("avg_v"),
    )


def retract_agg_state(
    state: DataFrame,
    survivors: DataFrame,
    deletes: DataFrame,
    keys: list[str],
    value: str,
) -> DataFrame:
    """state ⊖ aggregate(deleted rows) — incremental maintenance under
    DELETION (the GDPR-erasure / retention-expiry path).

    COUNT and SUM form a *group* (inverses exist), so they retract
    algebraically: subtract the delete batch's partial aggregate. MIN/MAX
    are only a *monoid* — deleting the extremum row leaves no way to derive
    the new extremum from state — so they are recomputed, but ONLY for the
    affected keys (keys with at least one deleted row), from the surviving
    rows of those keys. At 100 TB with the table partitioned/bucketed on
    the keys that recompute touches just the affected partitions, never the
    corpus; the delete batch and its key set are takedown-list-sized and
    broadcast. Keys whose rows are all deleted drop out (n = 0)."""
    dstate = deletes.groupBy(*keys).agg(
        F.count(value).alias("dn"), F.sum(value).alias("dsum")
    )
    ext = (
        survivors.join(dstate.select(*keys), keys, "left_semi")
        .groupBy(*keys)
        .agg(F.min(value).alias("rmin"), F.max(value).alias("rmax"))
    )
    adj = state.join(dstate, keys, "left").join(ext, keys, "left")
    affected = F.col("dn").isNotNull()
    return adj.select(
        *keys,
        (F.col("n") - F.coalesce(F.col("dn"), F.lit(0))).alias("n"),
        (F.col("sum_v") - F.coalesce(F.col("dsum"), F.lit(0))).alias("sum_v"),
        F.when(affected, F.col("rmin")).otherwise(F.col("min_v")).alias("min_v"),
        F.when(affected, F.col("rmax")).otherwise(F.col("max_v")).alias("max_v"),
    ).filter(F.col("n") > 0)


@q(
    "incremental_agg_retract",
    """
    SELECT event_type, CAST(ts AS DATE) AS d,
           count(value_milli)                      AS n,
           CAST(sum(value_milli) AS BIGINT)        AS sum_v,
           min(value_milli)                        AS min_v,
           max(value_milli)                        AS max_v,
           round(sum(value_milli) * 1.0 / count(value_milli), 6) AS avg_v
    FROM (SELECT event_type, ts, user_id,
                 CAST(round(value * 1000, 0) AS BIGINT) AS value_milli
          FROM events)
    WHERE user_id % 50 <> 7
    GROUP BY 1, 2
    """,
)
def incremental_agg_retract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the per-(event_type, day) state over ALL events, then erase a
    takedown user list (user_id % 50 == 7) by retraction — count/sum
    subtracted, min/max recomputed for affected keys only — and finalize.
    The oracle is DuckDB's one-pass aggregate over the surviving rows, so
    the hash check proves retraction is exactly recompute-equivalent,
    including extremum handover and fully-erased groups dropping out."""
    e = load(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.to_date("ts").alias("d"),
        F.round(F.col("value") * 1000, 0).cast("long").alias("value_milli"),
    )
    keys = ["event_type", "d"]
    erased = F.col("user_id") % 50 == 7
    state = agg_state(e, keys, "value_milli")
    new_state = retract_agg_state(
        state, e.filter(~erased), e.filter(erased), keys, "value_milli"
    )
    return finalize_agg(new_state, keys)


@q(
    "incremental_agg_merge",
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
def incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fold the events table into the state in four arbitrary batch slices
    (event_id mod 4) and finalize; the oracle is DuckDB's one-pass aggregate
    over the whole table — incremental maintenance must be exactly
    recompute-equivalent. Values as integer millis so SUM is exact."""
    e = load(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 1000, 0).cast("long").alias("value_milli"),
    )
    state = None
    for i in range(4):
        batch = e.filter(F.col("event_id") % 4 == i)
        bstate = agg_state(batch, ["event_type"], "value_milli")
        state = bstate if state is None else merge_agg_states(state, bstate, ["event_type"])
    return finalize_agg(state, ["event_type"])


def incremental_join_delta(
    a_old: DataFrame,
    a_delta: DataFrame,
    b_old: DataFrame,
    b_delta: DataFrame,
    cond,
) -> DataFrame:
    """The delta rule for incremental JOIN view maintenance under appends:

        Δ(A ⋈ B) = ΔA ⋈ B_old  ∪  A_old ⋈ ΔB  ∪  ΔA ⋈ ΔB

    so the maintained view J' = J_old ∪ Δ(A⋈B) without ever re-joining the
    two full relations. At 100 TB the asymmetry is the whole point: the
    daily deltas are partition-sized, so ΔA⋈B probes the (bucketed) big
    side with a small build, A⋈ΔB broadcasts ΔB, and ΔA⋈ΔB is tiny — the
    full-history A⋈B shuffle is paid once at bootstrap and never again."""
    return (
        a_delta.join(b_old, cond)
        .unionByName(a_old.join(b_delta, cond))
        .unionByName(a_delta.join(b_delta, cond))
    )


@q(
    "incremental_join_maintenance",
    """
    SELECT c.c_nationkey, o.o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(round(sum(o.o_totalprice) * 100, 0) AS BIGINT) AS total_cents
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1, 2
    """,
)
def incremental_join_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintain the orders⋈customer view incrementally: both relations are
    split into an old slice and an appended delta (orders: orderkey%5==0,
    customer: custkey%7==0), the view is bootstrapped from the old slices,
    and the three delta-rule joins append the rest. The aggregate over the
    maintained view must hash-equal DuckDB's one-pass join over the full
    relations — proving the delta rule neither drops nor duplicates any
    (order, customer) pair, including pairs where BOTH sides arrived in
    the delta (the ΔA⋈ΔB term naive implementations forget)."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    cond = F.col("o_custkey") == F.col("c_custkey")
    o_delta_pred = (F.col("o_orderkey") % 5) == 0
    a_old, a_delta = o.filter(~o_delta_pred), o.filter(o_delta_pred)
    c_delta_pred = (F.col("c_custkey") % 7) == 0
    b_old, b_delta = c.filter(~c_delta_pred), c.filter(c_delta_pred)
    j = a_old.join(b_old, cond).unionByName(
        incremental_join_delta(a_old, a_delta, b_old, b_delta, cond)
    )
    return j.groupBy("c_nationkey", "o_orderstatus").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.round(F.sum("o_totalprice") * 100, 0).cast("long").alias("total_cents"),
    )
