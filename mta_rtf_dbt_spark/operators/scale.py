"""Scale-posture operators: bucketed co-located joins and skew salting.

These are the two knobs the 100 TB deployment turns that small-scale tests
never force (SURVEY.md §7.7c):

- **Bucketing**: the J1 fact-fact join (trip_updates ⋈ stop_time_updates on
  tu_id; fact_trips_stops.sql:120) shuffles both sides every run. Writing both
  facts bucketed on the join key makes the join exchange-free forever after —
  the classic write-once/join-many trade.
- **Salting**: `route_id`-grained aggregations are skewed (a few subway routes
  dominate; SURVEY.md §4 "Skew handling"). AQE's skew-join handles joins, but
  a hot *aggregation* key still funnels one partition; two-stage salted
  aggregation spreads it.

Both are pure composition of public DataFrame ops — no physical-plan hooks —
so Catalyst/AQE still owns strategy selection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mta_rtf_dbt_spark.registry import q
from mta_rtf_dbt_spark.sources.registry import load

# Aggregates that decompose into (partial, final) over the same column — the
# property two-stage salting needs. 'count' is COUNT(*) (row count, NULLs
# included): F.count(col) would silently diverge from a COUNT(*) oracle the
# moment the counted column holds a NULL (r4 ADVICE).
_ALGEBRAIC = {
    "sum": (F.sum, F.sum),
    "count": (lambda _c: F.count(F.lit(1)), F.sum),
    "min": (F.min, F.min),
    "max": (F.max, F.max),
}


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int = 64,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` bucketed (and optionally sorted) on the join key.

    Two tables bucketed on the same key with the same bucket count join
    without any Exchange (verified in tests/test_scale_ops.py by asserting
    the joined plan is shuffle-free). ``num_buckets`` sizes for the target
    deployment: ~2-4x executor count so each bucket fits executor memory.
    """
    w = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple[str, str]],
    salt_buckets: int = 16,
    salt_source: str | None = None,
) -> DataFrame:
    """Two-stage aggregation that spreads a hot grouping key.

    ``aggs`` maps output column -> (input column, fn) with fn in
    sum/count/min/max (``count`` is COUNT(*); the input column is ignored).
    Stage 1 groups by (keys + salt) — hot keys split into ``salt_buckets``
    partial groups computed on different cores; stage 2 groups by keys alone
    over the tiny partial result.

    The salt must be deterministic per row but spread within a key:
    ``pmod(hash(salt_source), n)``; ``salt_source`` defaults to all non-key
    columns. (Plain ``groupBy`` already does map-side partial aggregation —
    salting matters when the *merge* of one key's partials is itself the
    bottleneck, i.e. extreme cardinality skew into few reducers.)
    """
    for fn_name in {a[1] for a in aggs.values()}:
        if fn_name not in _ALGEBRAIC:
            raise ValueError(f"{fn_name} is not algebraic-decomposable")
    src_cols = [salt_source] if salt_source else [c for c in df.columns if c not in keys]
    salt = F.pmod(F.hash(*[F.col(c) for c in src_cols]), F.lit(salt_buckets))
    stage1 = df.withColumn("__salt", salt).groupBy(*keys, "__salt").agg(
        *[
            _ALGEBRAIC[fn][0](col).alias(f"__p_{out}")
            for out, (col, fn) in aggs.items()
        ]
    )
    return stage1.groupBy(*keys).agg(
        *[
            _ALGEBRAIC[fn][1](f"__p_{out}").alias(out)
            for out, (_col, fn) in aggs.items()
        ]
    )


def replicated_skew_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    salt_buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-proof equi join for when the dim is too big to broadcast but the
    fact's key distribution is hot: the fact side gets a deterministic salt,
    the dim side is exploded ``salt_buckets`` times, and the join key becomes
    (key, salt) — hot keys land on ``salt_buckets`` reducers instead of one.

    Cost: dim scan amplified by ``salt_buckets`` — use only when AQE skew
    handling isn't available (e.g. a non-AQE deployment) or for the extreme
    single-key case.
    """
    fact_cols = [c for c in fact.columns]
    salt = F.pmod(F.hash(*[F.col(c) for c in fact_cols]), F.lit(salt_buckets))
    f_salted = fact.withColumn("__salt", salt)
    d_rep = dim.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    )
    out = f_salted.join(d_rep, on=[key, "__salt"], how=how)
    return out.drop("__salt")


# ---------------------------------------------------------------------------
# Driver entries (r4): salting is semantics-preserving, so both techniques
# are oracle-checkable — the salted plan must produce EXACTLY the rows of
# the plain formulation DuckDB runs. (Aggregated outputs avoid float sums:
# count/min/max are order-free and the summed columns are integers.)
# ---------------------------------------------------------------------------


@q(
    "a_salted_skew_agg",
    """
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(user_id) AS BIGINT) AS uid_sum,
           MIN(value) AS min_value,
           MAX(value) AS max_value
    FROM events GROUP BY event_type
    """,
)
def a_salted_skew_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage salted aggregation over the hot ``event_type`` key — the
    extreme-skew analogue of A1 (SURVEY.md §4 "Skew handling"). The salt is
    an internal detail: the result must equal DuckDB's plain GROUP BY
    bit-for-bit (count/min/max are order-free; the sum is over bigints)."""
    e = load(spark, sf_dir, "events")
    return salted_agg(
        e,
        ["event_type"],
        {
            "n_events": ("event_type", "count"),
            "uid_sum": ("user_id", "sum"),
            "min_value": ("value", "min"),
            "max_value": ("value", "max"),
        },
    )


@q(
    "j_salted_skew_join",
    """
    SELECT s.s_nationkey,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty_sum
    FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
    GROUP BY s.s_nationkey
    """,
)
def j_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replicated-dim salted join (fact salt + dim explode x16) for the
    hot-key case AQE can't save (non-AQE deployments / one pathological
    key), rolled up per supplier nation. Salting must not change the join
    result: the oracle is the plain equi-join."""
    li = load(spark, sf_dir, "lineitem").withColumnRenamed("l_suppkey", "suppkey")
    sup = load(spark, sf_dir, "supplier").withColumnRenamed("s_suppkey", "suppkey")
    joined = replicated_skew_join(li, sup, "suppkey")
    return joined.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(F.col("l_quantity").cast("long")).cast("long").alias("qty_sum"),
    )


def skew_report(
    df: DataFrame, key: str, top: int = 25, n_partitions: int = 32
) -> DataFrame:
    """(key, cnt, share_ppm, salt_factor): the skew DIAGNOSTIC that decides
    when the two knobs above are worth paying for. For the ``top`` heaviest
    keys: row count, corpus share in integer ppm, and the suggested salt
    bucket count ``ceil(cnt / (total div n_partitions))`` — i.e. how many
    reducers this key needs so its share of work matches an average
    partition. ``salt_factor == 1`` means the key is not a problem;
    feeding the max factor into :func:`salted_agg`'s ``salt_buckets``
    right-sizes the mitigation instead of guessing. One map-combined
    aggregate + a top-k — cheap enough to run as a pre-flight on every
    100 TB job. All integer arithmetic, so fully oracle-checkable."""
    counts = df.groupBy(key).agg(F.count(F.lit(1)).alias("cnt"))
    totals = counts.agg(F.sum("cnt").alias("total"))
    target = F.expr(f"greatest(total div {n_partitions}, 1L)")
    return (
        counts.crossJoin(totals)
        .select(
            key,
            "cnt",
            F.expr("CAST(cnt * 1000000 div total AS BIGINT)").alias("share_ppm"),
            F.expr(
                f"CAST((cnt + greatest(total div {n_partitions}, 1L) - 1) "
                f"div greatest(total div {n_partitions}, 1L) AS BIGINT)"
            ).alias("salt_factor"),
        )
        .orderBy(F.desc("cnt"), F.asc(key))
        .limit(top)
    )


@q(
    "a_skew_report",
    """
    WITH counts AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt
                    FROM events GROUP BY user_id),
    t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM counts)
    SELECT user_id, cnt,
           CAST(cnt * 1000000 // total AS BIGINT) AS share_ppm,
           CAST((cnt + greatest(total // 32, 1) - 1)
                // greatest(total // 32, 1) AS BIGINT) AS salt_factor
    FROM counts, t
    ORDER BY cnt DESC, user_id ASC LIMIT 25
    """,
)
def a_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-flight skew diagnostic over the events stream's ``user_id`` —
    heaviest 25 keys with corpus share (ppm) and the right-sized salt
    factor for a 32-partition deployment. Oracle: the same integer
    arithmetic over a plain GROUP BY."""
    return skew_report(load(spark, sf_dir, "events"), "user_id")
