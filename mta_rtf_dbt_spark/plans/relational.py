"""Generic relational operator plans over the driver's TPC-H-ish testdata.

One named query per operator family in SURVEY.md §2 (§2.2 projection/filter,
§2.3 joins, §2.4 aggregations, §2.5 windows, §2.6 sort/limit, §2.7 set ops,
§2.8 scalar functions), each paired with an ANSI-SQL oracle that DuckDB runs
on the same parquet — the driver's correctness gate.

Determinism rules (so order-insensitive value hashes match bit-for-bit):

- Money aggregates go through ``DECIMAL(18,s)`` so summation order cannot
  perturb low bits; the final cast back to DOUBLE is exact on both engines.
- Ratios are computed as (exact integer / exact integer) — one IEEE division
  of identical operands is identical.
- Any float produced by genuinely float math (percentiles, rolling sums) is
  ``round(x, 6)`` on both sides.
- Every top-k / argmin has a unique tiebreaker column (D5).

Scale notes are inline per query — these same plans are the ones we'd ship
against 100 TB (dims broadcast by Spark's size threshold, banded self-join
instead of a per-key cross product, map-side-combinable min_by/max_by
instead of collect+sort).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mta_rtf_dbt_spark.functions import bq
from mta_rtf_dbt_spark.registry import q
from mta_rtf_dbt_spark.sources.registry import load


def _dec(c, scale: int = 2):
    return c.cast(f"decimal(18,{scale})")


# ---------------------------------------------------------------------------
# §2.4 A1/A4/A6 + §2.8 arithmetic — flagship: TPC-H Q1 pricing summary.
# ---------------------------------------------------------------------------
@q(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_disc_price,
           CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
           CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2024-06-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-agg with partial/final combine (A1, A4, F19). Scale: pure
    map-side-combinable agg — shuffles only |groups| rows per partition.

    The product sums round to cents ON THE DECIMAL (exact, same HALF_UP in
    both engines for positive values) before the double cast: a
    DECIMAL(38,6) whose unscaled value exceeds 2^53 converts to double
    differently across engines (Spark rounds once; DuckDB converts the
    int128 then divides by 1e6 — two roundings), which the r6 sf1
    rehearsal caught as a last-ulp sum_charge divergence at 6M rows.
    Rounding first keeps the unscaled value comfortably exact-in-double."""
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2024-06-01 00:00:00").cast("timestamp")
    )
    disc_price = _dec(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
    charge = _dec(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax")), 6
    )
    cnt = F.count("*")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(_dec(F.col("l_quantity"))).cast("double").alias("sum_qty"),
        F.sum(_dec(F.col("l_extendedprice"))).cast("double").alias("sum_base_price"),
        F.round(F.sum(disc_price), 2).cast("double").alias("sum_disc_price"),
        F.round(F.sum(charge), 2).cast("double").alias("sum_charge"),
        (F.sum(_dec(F.col("l_quantity"))).cast("double") / cnt).alias("avg_qty"),
        (F.sum(_dec(F.col("l_extendedprice"))).cast("double") / cnt).alias("avg_price"),
        (F.sum(_dec(F.col("l_discount"))).cast("double") / cnt).alias("avg_disc"),
        cnt.alias("count_order"),
    )


# ---------------------------------------------------------------------------
# §2.2 P1/P3 — projection + rename + pushed-down filter.
# ---------------------------------------------------------------------------
@q(
    "p1_project_rename_filter",
    """
    SELECT l_orderkey AS okey, l_linenumber AS line_no,
           l_extendedprice AS price, l_shipdate AS ship_ts
    FROM lineitem WHERE l_returnflag = 'R' AND l_linenumber = 1
    """,
)
def p1_project_rename_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1+P3 (fact_trips_stops.sql:4-14, fact_delays.sql:54). The filter and
    4-column projection reach the parquet scan (PushedFilters/ReadSchema)."""
    return (
        load(spark, sf_dir, "lineitem")
        .filter((F.col("l_returnflag") == "R") & (F.col("l_linenumber") == 1))
        .select(
            F.col("l_orderkey").alias("okey"),
            F.col("l_linenumber").alias("line_no"),
            F.col("l_extendedprice").alias("price"),
            F.col("l_shipdate").alias("ship_ts"),
        )
    )


# ---------------------------------------------------------------------------
# §2.2 P4/P5/P6 — null tests, OR disjunction, BETWEEN, CASE WHEN.
# ---------------------------------------------------------------------------
@q(
    "p456_predicates_case",
    """
    SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 'hot'
                WHEN o_orderpriority IS NULL THEN 'unknown'
                ELSE 'standard' END AS priority_class,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders
    WHERE o_orderdate BETWEEN TIMESTAMP '2024-02-01' AND TIMESTAMP '2024-11-30'
      AND (o_orderstatus = 'F' OR o_totalprice IS NOT NULL)
    GROUP BY 1
    """,
)
def p456_predicates_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 null-test OR-disjunction (fact_delays.sql:55), P5 BETWEEN
    (metrics_guide.md:33), P6 CASE WHEN (fact_trips_stops.sql:130-133),
    A2 group-by-ordinal via named expression."""
    o = load(spark, sf_dir, "orders")
    cls = (
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "hot")
        .when(F.col("o_orderpriority").isNull(), "unknown")
        .otherwise("standard")
    )
    return (
        o.filter(
            F.col("o_orderdate").between("2024-02-01", "2024-11-30")
            & ((F.col("o_orderstatus") == "F") | F.col("o_totalprice").isNotNull())
        )
        .groupBy(cls.alias("priority_class"))
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(_dec(F.col("o_totalprice"))).cast("double").alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# §2.3 J1 — inner fact-fact equi join.
# ---------------------------------------------------------------------------
@q(
    "j1_inner_join_agg",
    """
    SELECT o_orderstatus,
           COUNT(*) AS n_lines,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderstatus
    """,
)
def j1_inner_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 parent-child inner join (fact_trips_stops.sql:120). Scale: both
    sides shuffle-partition on the join key; AQE picks SMJ/SHJ and handles
    skew. No broadcast — both sides are facts."""
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    rev = _dec(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "inner")
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n_lines"), F.sum(rev).cast("double").alias("revenue"))
    )


# ---------------------------------------------------------------------------
# §2.3 J2/J8 — chained left broadcast dim joins (star).
# ---------------------------------------------------------------------------
@q(
    "j2_left_broadcast_dims",
    """
    SELECT r_name AS region_name, n_name AS nation_name,
           COUNT(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
    FROM customer
    LEFT JOIN nation ON c_nationkey = n_nationkey
    LEFT JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
)
def j2_left_broadcast_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 left dim lookup + J8 chained star (fact_trips_stops.sql:121-122,
    fact_alerts.sql:87-93). Scale: the dims are under Spark's broadcast
    threshold — zero shuffle for the joins; only the final agg shuffles."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return (
        c.join(n, c.c_nationkey == n.n_nationkey, "left")
        .join(r, n.n_regionkey == r.r_regionkey, "left")
        .groupBy(F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name"))
        .agg(
            F.count("*").alias("n_customers"),
            F.sum(_dec(F.col("c_acctbal"))).cast("double").alias("total_acctbal"),
        )
    )


# ---------------------------------------------------------------------------
# §2.3 J3 — left join on a pre-aggregated child (join-aggregate pattern).
# ---------------------------------------------------------------------------
@q(
    "j3_join_preagg_child",
    """
    WITH per_order AS (
      SELECT l_orderkey, COUNT(*) AS line_cnt,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT COALESCE(line_cnt, 0) AS line_cnt,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(COALESCE(total_qty, 0) AS DECIMAL(18,2))) AS DOUBLE) AS qty
    FROM orders LEFT JOIN per_order ON o_orderkey = l_orderkey
    GROUP BY 1
    """,
)
def j3_join_preagg_child(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 aggregate-child-then-left-join (fact_alerts.sql:88-91). Scale: the
    child agg and the join share the l_orderkey partitioning — Catalyst reuses
    the exchange instead of re-shuffling."""
    o = load(spark, sf_dir, "orders").select("o_orderkey")
    per_order = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.count("*").alias("line_cnt"),
            F.sum(_dec(F.col("l_quantity"))).cast("double").alias("total_qty"),
        )
    )
    return (
        o.join(per_order, o.o_orderkey == per_order.l_orderkey, "left")
        .groupBy(F.coalesce("line_cnt", F.lit(0)).alias("line_cnt"))
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(_dec(F.coalesce("total_qty", F.lit(0)))).cast("double").alias("qty"),
        )
    )


# ---------------------------------------------------------------------------
# §2.3 J4/J8 — same dim joined twice under two aliases (6-way star).
# ---------------------------------------------------------------------------
@q(
    "j4_dim_double_alias_star",
    """
    SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
           COUNT(*) AS n_lines,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    GROUP BY cn.n_name, sn.n_name
    """,
)
def j4_dim_double_alias_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 double-aliased dim (fact_trips.sql:88-89: stops as fs/ls) + J8
    multi-way star. Scale: one fact-fact shuffle (orders); Spark broadcasts
    the dims, nation twice under distinct aliases, while they are under its
    size threshold."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cn = n.alias("cn")
    sn = n.alias("sn")
    rev = _dec(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(cn, c.c_nationkey == F.col("cn.n_nationkey"))
        .join(sn, s.s_nationkey == F.col("sn.n_nationkey"))
        .groupBy(
            F.col("cn.n_name").alias("cust_nation"), F.col("sn.n_name").alias("supp_nation")
        )
        .agg(F.count("*").alias("n_lines"), F.sum(rev).cast("double").alias("revenue"))
    )


# ---------------------------------------------------------------------------
# §2.3 J5 — USING-style name join; §2.3 J7 — cast on the join key.
# ---------------------------------------------------------------------------
@q(
    "j5_j7_using_cast_key",
    """
    SELECT n_name AS nation_name, COUNT(*) AS n_suppliers
    FROM supplier
    JOIN nation ON CAST(s_nationkey AS VARCHAR) = CAST(n_nationkey AS VARCHAR)
    GROUP BY n_name
    """,
)
def j5_j7_using_cast_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7 cross-type cast on the join key (metrics_guide.md:100 joins int
    stop_sequence against CAST(min_seq AS STRING), D6 type drift)."""
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    return (
        s.join(
            n,
            s.s_nationkey.cast("string") == n.n_nationkey.cast("string"),
        )
        .groupBy(F.col("n_name").alias("nation_name"))
        .agg(F.count("*").alias("n_suppliers"))
    )


# ---------------------------------------------------------------------------
# §2.3 J6 — equi join + range residual, written as a scalable banded join.
# ---------------------------------------------------------------------------
@q(
    "j6_banded_range_join",
    """
    SELECT a.event_type AS etype_a, b.event_type AS etype_b,
           COUNT(*) AS n_pairs,
           ROUND(CAST(SUM(epoch_us(b.ts) - epoch_us(a.ts)) AS DOUBLE) / COUNT(*) / 1000000, 6) AS avg_gap_sec
    FROM events a
    JOIN events b ON a.user_id = b.user_id
                 AND b.ts > a.ts
                 AND b.ts <= a.ts + INTERVAL 1 HOUR
    GROUP BY 1, 2
    """,
)
def j6_banded_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 equi+range residual (metrics_guide.md:232-237: join on trip_uid then
    ts_b >= ts_a). Scale path: instead of a per-user cross product filtered
    after the fact, each left row is exploded to its two candidate hour
    buckets and the join runs on (user_id, bucket) — the distributed band-join
    pattern; the residual touches only rows within one hour."""
    e = load(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    hour_bkt = F.floor(F.unix_micros(F.col("ts")) / F.lit(3_600_000_000))
    a = (
        e.withColumn("bkt_a", hour_bkt)
        .withColumn("bkt", F.explode(F.array(F.col("bkt_a"), F.col("bkt_a") + 1)))
        .select(
            F.col("user_id").alias("user_a"),
            F.col("ts").alias("ts_a"),
            F.col("event_type").alias("etype_a"),
            "bkt",
        )
    )
    b = e.withColumn("bkt", hour_bkt).select(
        F.col("user_id").alias("user_b"),
        F.col("ts").alias("ts_b"),
        F.col("event_type").alias("etype_b"),
        "bkt",
    )
    pairs = a.join(b, (a.user_a == b.user_b) & (a.bkt == b.bkt)).filter(
        (F.col("ts_b") > F.col("ts_a"))
        & (F.col("ts_b") <= F.col("ts_a") + F.expr("INTERVAL 1 HOUR"))
    )
    gap_us = F.unix_micros(F.col("ts_b")) - F.unix_micros(F.col("ts_a"))
    return pairs.groupBy("etype_a", "etype_b").agg(
        F.count("*").alias("n_pairs"),
        F.round(F.sum(gap_us).cast("double") / F.count("*") / F.lit(1_000_000), 6).alias(
            "avg_gap_sec"
        ),
    )


# ---------------------------------------------------------------------------
# Semi/anti joins (§2.3 "available in Spark" row).
# ---------------------------------------------------------------------------
@q(
    "j_semi_anti",
    """
    SELECT 'with_orders' AS cohort, COUNT(*) AS n_customers FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    UNION ALL
    SELECT 'without_orders' AS cohort, COUNT(*) AS n_customers FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def j_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_semi / left_anti — the Spark-native forms of EXISTS / NOT EXISTS.
    Scale: semi/anti joins shuffle only the distinct keys of the right side."""
    c = load(spark, sf_dir, "customer").select("c_custkey")
    o = load(spark, sf_dir, "orders").select("o_custkey")
    semi = (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .agg(F.count("*").alias("n_customers"))
        .select(F.lit("with_orders").alias("cohort"), "n_customers")
    )
    anti = (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .agg(F.count("*").alias("n_customers"))
        .select(F.lit("without_orders").alias("cohort"), "n_customers")
    )
    return semi.unionByName(anti)


# ---------------------------------------------------------------------------
# Full outer join (§2.3 "available in Spark" row) — set reconciliation.
# ---------------------------------------------------------------------------
@q(
    "j_full_outer_reconcile",
    """
    WITH o AS (SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS n_orders
               FROM orders GROUP BY 1),
    e AS (SELECT user_id AS k, CAST(COUNT(*) AS BIGINT) AS n_events
          FROM events GROUP BY 1)
    SELECT COALESCE(o.k, e.k) AS k,
           CASE WHEN o.k IS NULL THEN 'events_only'
                WHEN e.k IS NULL THEN 'orders_only'
                ELSE 'both' END AS presence,
           COALESCE(n_orders, 0) AS n_orders,
           COALESCE(n_events, 0) AS n_events
    FROM o FULL OUTER JOIN e ON o.k = e.k
    """,
)
def j_full_outer_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER equi join as two-ledger reconciliation: per-key order
    counts vs per-key event counts, every key from either side kept and
    classified (both / orders_only / events_only) — the audit shape batch
    reconciliation jobs run between independently-ingested systems. Scale:
    both inputs pre-aggregate to distinct keys before the join, so the
    outer join shuffles |keys|, not |rows|."""
    o = (
        load(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
    )
    e = (
        load(spark, sf_dir, "events")
        .groupBy(F.col("user_id").alias("k"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    )
    oo, ee = o.alias("o"), e.alias("e")
    j = oo.join(ee, F.col("o.k") == F.col("e.k"), "full_outer")
    return j.select(
        F.coalesce(F.col("o.k"), F.col("e.k")).alias("k"),
        F.when(F.col("o.k").isNull(), F.lit("events_only"))
        .when(F.col("e.k").isNull(), F.lit("orders_only"))
        .otherwise(F.lit("both"))
        .alias("presence"),
        F.coalesce(F.col("n_orders"), F.lit(0)).cast("long").alias("n_orders"),
        F.coalesce(F.col("n_events"), F.lit(0)).cast("long").alias("n_events"),
    )


# ---------------------------------------------------------------------------
# §2.4 A3 — deterministic ANY_VALUE policy (D4).
# ---------------------------------------------------------------------------
@q(
    "a3_any_value_det",
    """
    SELECT c_mktsegment AS segment, MIN(c_name) AS any_name, COUNT(*) AS n
    FROM customer GROUP BY c_mktsegment
    """,
)
def a3_any_value_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3/D4: the engine exposes any_value but shipped plans use the
    deterministic pick (min) so oracle hashes are stable
    (fact_trips.sql:26-32, fact_alerts.sql:15,22)."""
    return (
        load(spark, sf_dir, "customer")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(bq.any_value_det(F.col("c_name")).alias("any_name"), F.count("*").alias("n"))
    )


# ---------------------------------------------------------------------------
# §2.4 A5 + §2.6 O2/O3 — argmin/argmax with nulls-last + unique tiebreak.
# ---------------------------------------------------------------------------
@q(
    "a5_argmin_argmax",
    """
    WITH ranked AS (
      SELECT user_id, event_type, ts,
             row_number() OVER (PARTITION BY user_id ORDER BY ts ASC,  event_id ASC)  AS rn_a,
             row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM events
    )
    SELECT user_id,
           MIN(CASE WHEN rn_a = 1 THEN event_type END) AS first_type,
           MIN(CASE WHEN rn_a = 1 THEN ts END)         AS first_ts,
           MIN(CASE WHEN rn_d = 1 THEN event_type END) AS last_type,
           MIN(CASE WHEN rn_d = 1 THEN ts END)         AS last_ts
    FROM ranked GROUP BY user_id
    """,
)
def a5_argmin_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: the reference's ARRAY_AGG(ORDER BY ... LIMIT 1)[OFFSET(0)] idiom
    (fact_trips.sql:42-57) as min_by/max_by over composite struct keys —
    map-side combinable, no per-group sort, no array materialization. The
    event_id tiebreaker is the D5 determinism fix."""
    e = load(spark, sf_dir, "events")
    ts, eid = F.col("ts"), F.col("event_id")
    return e.groupBy("user_id").agg(
        bq.argmin(F.col("event_type"), ts, eid).alias("first_type"),
        bq.argmin(ts, ts, eid).alias("first_ts"),
        bq.argmax(F.col("event_type"), ts, eid).alias("last_type"),
        bq.argmax(ts, ts, eid).alias("last_ts"),
    )


# ---------------------------------------------------------------------------
# §2.4 A6/A7/A8/A10 — distinct counts, COUNTIF, rate, SAFE_DIVIDE.
# ---------------------------------------------------------------------------
@q(
    "a678_counts_rates",
    """
    SELECT event_type,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           CAST(count_if(value > 50) AS BIGINT) AS n_high,
           CAST(count_if(value > 50) * 1000000 // COUNT(*) AS BIGINT) AS high_rate_ppm,
           CAST(count_if(value > 98) * 1000000 // NULLIF(count_if(value > 99.5), 0) AS BIGINT) AS ratio_98_995_ppm
    FROM events GROUP BY event_type
    """,
)
def a678_counts_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 COUNT DISTINCT, A7 COUNTIF, A8 rate idiom, A10 SAFE_DIVIDE
    (metrics_guide.md:131-133,285,291-292,302-303). Ratios emitted as
    parts-per-million BIGINTs via pure integer division — rounded doubles
    still hash-diverged two rounds running (r2 driver finding); integer
    arithmetic is engine-independent by construction."""
    e = load(spark, sf_dir, "events")
    v = F.col("value")
    return e.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        bq.countif(v > 50).alias("n_high"),
        F.expr("CAST(count_if(value > 50) * 1000000L div COUNT(*) AS BIGINT)").alias(
            "high_rate_ppm"
        ),
        F.expr(
            "CAST(count_if(value > 98) * 1000000L div NULLIF(count_if(value > 99.5), 0) AS BIGINT)"
        ).alias("ratio_98_995_ppm"),
    )


# ---------------------------------------------------------------------------
# §2.4 A9 — percentiles (exact for the oracle, approx for the scale path).
# ---------------------------------------------------------------------------
@q(
    "a9_percentiles",
    """
    SELECT event_type,
           ROUND(CAST(quantile_cont(value, 0.5) AS DOUBLE), 6) AS p50_value,
           ROUND(CAST(quantile_cont(value, 0.9) AS DOUBLE), 6) AS p90_value,
           COUNT(*) AS n
    FROM events GROUP BY event_type
    """,
)
def a9_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9/D7: APPROX_QUANTILES (metrics_guide.md:270-271) — exact
    ``percentile`` here so the oracle matches; production plans swap in
    ``percentile_approx`` (single-pass sketch) at 100 TB."""
    e = load(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.round(F.percentile(F.col("value"), F.lit(0.5)), 6).alias("p50_value"),
        F.round(F.percentile(F.col("value"), F.lit(0.9)), 6).alias("p90_value"),
        F.count("*").alias("n"),
    )


# ---------------------------------------------------------------------------
# Histogram (§2.4 extension): equi-width value histogram over broadcast
# min/max scalars — the profiling shape a data-quality pass reports.
# ---------------------------------------------------------------------------
_N_HIST = 20


@q(
    "a_histogram_values",
    f"""
    WITH b AS (SELECT MIN(value) AS lo, MAX(value) AS hi FROM events),
    x AS (SELECT value,
                 LEAST(COALESCE(CAST(floor((value - lo) * {_N_HIST}
                                           / NULLIF(hi - lo, 0)) AS BIGINT), 0),
                       {_N_HIST - 1}) AS bucket
          FROM events, b)
    SELECT bucket, COUNT(*) AS n_events,
           MIN(value) AS bucket_min, MAX(value) AS bucket_max
    FROM x GROUP BY bucket
    """,
)
def a_histogram_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of ``value`` in 20 buckets. Bounds come
    from a broadcast one-row min/max aggregate (the zorder grid pattern —
    no sampling, deterministic); the bucket expression is written with the
    identical IEEE-double operation order in both engines so floor() lands
    identically, and the top edge clamps into the last bucket. The divisor is
    NULLIF-guarded in both engines (r4 ADVICE): an all-equal ``value`` column
    would otherwise hit double division-by-zero, where Spark and DuckDB
    disagree — the degenerate case lands deterministically in bucket 0."""
    e = load(spark, sf_dir, "events")
    bounds = e.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    g = e.crossJoin(bounds)
    span = F.nullif(F.col("hi") - F.col("lo"), F.lit(0.0))
    bucket = F.least(
        F.coalesce(
            F.floor((F.col("value") - F.col("lo")) * _N_HIST / span), F.lit(0)
        ),
        F.lit(_N_HIST - 1).cast("long"),
    )
    return g.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("value").alias("bucket_min"),
        F.max("value").alias("bucket_max"),
    )


_N_DEPTH = 8


@q(
    "a_histogram_equidepth",
    f"""
    WITH x AS (SELECT value, event_id,
                      row_number() OVER (ORDER BY value, event_id) AS rn,
                      count(*) OVER () AS n
               FROM events),
    y AS (SELECT value, rn, n // {_N_DEPTH} AS q, n % {_N_DEPTH} AS r FROM x),
    z AS (SELECT value,
                 CASE WHEN rn <= (q + 1) * r THEN (rn - 1) // (q + 1)
                      ELSE r + (rn - (q + 1) * r - 1) // greatest(q, 1)
                 END AS depth_bucket
          FROM y)
    SELECT depth_bucket, COUNT(*) AS n_rows,
           MIN(value) AS lo_value, MAX(value) AS hi_value
    FROM z GROUP BY depth_bucket
    """,
)
def a_histogram_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram (NTILE semantics: 8 buckets whose sizes
    differ by at most one, earlier buckets larger) — the quantile-binning
    profile equi-width can't give on skewed columns.

    Scale: NTILE needs a global rank, and ``Window.orderBy`` without keys is
    a single-partition sort — a scale-killer. Instead the global rank is the
    same two-phase prefix sum the shard planner uses: phase 1 row_numbers
    WITHIN range-aligned value buckets (equi-width over broadcast min/max,
    so bucket ranges partition the global (value, event_id) order); phase 2
    joins back per-bucket counts' running offsets (bucket-count rows, not
    corpus rows). The NTILE bucket is then pure integer arithmetic over the
    rank — written as ``div`` in both engines so the oracle's
    row_number-based formulation matches bit-for-bit."""
    e = load(spark, sf_dir, "events").select("event_id", "value")
    bounds = e.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    nb = 64  # prefix-sum parallelism
    g = e.crossJoin(bounds)
    span = F.nullif(F.col("hi") - F.col("lo"), F.lit(0.0))
    pre = g.select(
        "event_id",
        "value",
        F.least(
            F.coalesce(F.floor((F.col("value") - F.col("lo")) * nb / span), F.lit(0)),
            F.lit(nb - 1).cast("long"),
        ).alias("pbucket"),
    )
    wloc = Window.partitionBy("pbucket").orderBy("value", "event_id")
    local = pre.withColumn("lrn", F.row_number().over(wloc))
    offs = (
        local.groupBy("pbucket")
        .agg(F.count(F.lit(1)).alias("bn"))
        .withColumn(
            "boffset",
            F.coalesce(
                F.sum("bn").over(
                    Window.orderBy("pbucket").rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .withColumn("n", F.sum("bn").over(Window.partitionBy()))
        .select("pbucket", "boffset", "n")
    )
    ranked = (
        local.join(offs, "pbucket")
        .withColumn("rn", F.col("boffset") + F.col("lrn"))
        .withColumn("q", F.expr(f"n div {_N_DEPTH}"))
        .withColumn("r", F.col("n") % _N_DEPTH)
    )
    bucket = F.when(
        F.col("rn") <= (F.col("q") + 1) * F.col("r"),
        F.expr("(rn - 1) div (q + 1)"),
    ).otherwise(F.col("r") + F.expr("(rn - (q + 1) * r - 1) div greatest(q, 1L)"))
    return ranked.groupBy(bucket.alias("depth_bucket")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("value").alias("lo_value"),
        F.max("value").alias("hi_value"),
    )


@q(
    "j_null_safe_join",
    """
    WITH a AS (SELECT event_id, nullif(user_id % 10, 7) AS k FROM events),
    b AS (SELECT nullif(user_id % 10, 7) AS k, CAST(count(*) AS BIGINT) AS cnt
          FROM events GROUP BY 1),
    plain AS (SELECT CAST(count(*) AS BIGINT) AS n_plain,
                     CAST(COALESCE(sum(b.cnt), 0) AS BIGINT) AS w_plain
              FROM a JOIN b ON a.k = b.k),
    nsafe AS (SELECT CAST(count(*) AS BIGINT) AS n_nullsafe,
                     CAST(COALESCE(sum(b.cnt), 0) AS BIGINT) AS w_nullsafe
              FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k),
    nulls AS (SELECT CAST(count(*) AS BIGINT) AS n_null_keys FROM a WHERE k IS NULL)
    SELECT n_plain, w_plain, n_nullsafe, w_nullsafe, n_null_keys
    FROM plain, nsafe, nulls
    """,
)
def j_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-safe equi-join semantics (``<=>`` / IS NOT DISTINCT FROM) vs the
    plain ``=`` join, measured on the same keyed relations: under ``=``
    every NULL-keyed row silently drops (NULL never equals NULL), under the
    null-safe operator the NULL group joins like any other key — the
    difference is exactly the planted NULL-key census the entry emits
    alongside both join cardinalities. This is the semantic corner that
    silently loses rows in dimension joins on nullable business keys (the
    MERGE operator builds its key condition with eqNullSafe for the same
    reason).

    Scale: ``<=>`` remains a hash-joinable equi-condition in Spark (NULL
    hashes as a regular key value) — no fallback to a nested-loop join, so
    the null-safe form costs the same shuffle as ``=``."""
    e = load(spark, sf_dir, "events")
    k = F.nullif(F.col("user_id") % 10, F.lit(7))
    a = e.select("event_id", k.alias("k"))
    b = e.groupBy(k.alias("k")).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    plain = (
        a.alias("a")
        .join(b.alias("b"), F.col("a.k") == F.col("b.k"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_plain"),
            F.coalesce(F.sum("b.cnt"), F.lit(0)).cast("long").alias("w_plain"),
        )
    )
    nsafe = (
        a.alias("a")
        .join(b.alias("b"), F.col("a.k").eqNullSafe(F.col("b.k")))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nullsafe"),
            F.coalesce(F.sum("b.cnt"), F.lit(0)).cast("long").alias("w_nullsafe"),
        )
    )
    nulls = a.filter(F.col("k").isNull()).agg(
        F.count(F.lit(1)).cast("long").alias("n_null_keys")
    )
    return plain.crossJoin(nsafe).crossJoin(nulls)


@q(
    "f_array_hof_pack",
    """
    WITH e AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings)
    SELECT vec_id,
           CAST(len(v) AS BIGINT) AS dim,
           CAST(len(list_filter(v, x -> x > 0)) AS BIGINT) AS n_pos,
           CAST(list_sum(list_transform(v, x -> CAST(round(x * 1000000) AS BIGINT))) AS BIGINT) AS sum_micro,
           CAST(list_sum(list_transform(v, x -> CAST(round(x * x * 1000000) AS BIGINT))) AS BIGINT) AS self_dot_micro
    FROM e
    """,
)
def f_array_hof_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array higher-order functions in one per-row projection — transform /
    filter / aggregate / zip_with over the embedding column, the lambda
    surface that processes array columns WITHOUT exploding (no row
    multiplication, no shuffle; at 100 TB an explode of a 768-dim column
    is a 768x row blowup the HOF form never pays).

    Float discipline: elements are cast float->double (exact) and every
    product/element is micro-integerized BEFORE the fold, so the array
    fold is a bigint sum — order-free and engine-exact, the same
    per-product rounding the ANN operators use. HOF lambdas run
    interpreted (no codegen) — fine for per-row projections; the measured
    anti-pattern (similarity.py docstring) is using them for the HOT dot
    products in a join, where the exploded/pivoted codegen form is ~2x
    faster."""
    emb = load(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.expr("CAST(size(embedding) AS BIGINT)").alias("dim"),
        F.expr(
            "CAST(size(filter(transform(embedding, x -> CAST(x AS DOUBLE)),"
            " x -> x > 0D)) AS BIGINT)"
        ).alias("n_pos"),
        F.expr(
            "aggregate(transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)"
            " * 1000000) AS BIGINT)), 0L, (acc, x) -> acc + x)"
        ).alias("sum_micro"),
        F.expr(
            "aggregate(zip_with(transform(embedding, x -> CAST(x AS DOUBLE)),"
            " transform(embedding, x -> CAST(x AS DOUBLE)),"
            " (a, b) -> CAST(round(a * b * 1000000) AS BIGINT)),"
            " 0L, (acc, x) -> acc + x)"
        ).alias("self_dot_micro"),
    )


@q(
    "a_mode_top_actor",
    """
    WITH c AS (SELECT event_type, user_id, COUNT(*) AS c FROM events GROUP BY 1, 2),
    r AS (SELECT *, row_number() OVER (PARTITION BY event_type
                                       ORDER BY c DESC, user_id ASC) AS rn FROM c)
    SELECT event_type, user_id AS top_user, c AS n_events FROM r WHERE rn = 1
    """,
)
def a_mode_top_actor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic MODE per group: the most frequent user per event_type,
    ties broken by smallest user id. Built-in ``mode()`` is
    arbitrary-on-ties in both engines (the D4 problem again), so the engine
    computes it as count-rollup + ``max_by`` over a (count, -id) struct key
    and the oracle as the equivalent ranked window — same policy as the
    argmin/argmax family."""
    e = load(spark, sf_dir, "events")
    counts = e.groupBy("event_type", "user_id").agg(F.count(F.lit(1)).alias("c"))
    key = F.struct(F.col("c").alias("c"), (-F.col("user_id")).alias("nu"))
    win = F.max_by(F.struct(F.col("user_id").alias("u"), F.col("c").alias("n")), key)
    return counts.groupBy("event_type").agg(win.alias("w")).select(
        "event_type", F.col("w.u").alias("top_user"), F.col("w.n").alias("n_events")
    )


# ---------------------------------------------------------------------------
# Grouping sets family (§2.4 "absent but available"): ROLLUP.
# ---------------------------------------------------------------------------
@q(
    "a_rollup",
    """
    SELECT r_name AS region_name, n_name AS nation_name, COUNT(*) AS n_customers
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def a_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .rollup(F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name"))
        .agg(F.count("*").alias("n_customers"))
    )


# ---------------------------------------------------------------------------
# §2.5 W2 — window dedup (QUALIFY rewrite, D8) picking latest row per key.
# ---------------------------------------------------------------------------
@q(
    "w2_dedup_latest_per_user",
    """
    SELECT user_id, ts AS last_ts, event_type AS last_type, value AS last_value
    FROM events
    QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
    """,
)
def w2_dedup_latest_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2/D8: the reference's QUALIFY rn=1 snapshot dedup
    (metrics_guide.md:188-191) — Spark has no QUALIFY, so window column +
    filter. Scale: one shuffle on user_id; AQE coalesces output partitions."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("ts").alias("last_ts"),
            F.col("event_type").alias("last_type"),
            F.col("value").alias("last_value"),
        )
    )


# ---------------------------------------------------------------------------
# §2.5 W1/W3 + §2.2 P7 — global row_number, LAG, post-window filter.
# ---------------------------------------------------------------------------
@q(
    "w3_lag_headway",
    """
    WITH seq AS (
      SELECT user_id, ts, event_id,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events
    )
    SELECT user_id,
           COUNT(*) AS n_gaps,
           CAST(SUM(CAST((epoch_us(ts) - epoch_us(prev_ts) -
                ((epoch_us(ts) - epoch_us(prev_ts)) % 1000000)) // 1000000 AS BIGINT)) AS BIGINT) AS total_gap_sec
    FROM seq WHERE prev_ts IS NOT NULL
    GROUP BY user_id
    """,
)
def w3_lag_headway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 LAG-based headway (metrics_guide.md:193-200) + P7 post-window filter
    (WHERE rn > 1 analogue) + D9 truncate-toward-zero second diffs."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = bq.timestamp_diff(F.col("ts"), F.col("prev_ts"), "SECOND")
    return (
        e.withColumn("prev_ts", F.lag("ts").over(w))
        .filter(F.col("prev_ts").isNotNull())
        .groupBy("user_id")
        .agg(F.count("*").alias("n_gaps"), F.sum(gap).alias("total_gap_sec"))
    )


# ---------------------------------------------------------------------------
# §2.6 O1 — deterministic multi-column top-k.
# ---------------------------------------------------------------------------
@q(
    "o1_topk_orders",
    """
    SELECT o_orderkey, o_totalprice, o_orderdate
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 25
    """,
)
def o1_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 multi-col ORDER BY + LIMIT (metrics_guide.md:35,...). Scale: Spark
    plans sort+limit as TakeOrderedAndProject — per-partition top-k then a
    single-driver merge of k·p rows, never a global sort."""
    return (
        load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderdate")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(25)
    )


@q(
    "o_limit_offset_page",
    """
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 25 OFFSET 100
    """,
)
def o_limit_offset_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIMIT/OFFSET pagination (§2.6 "absent in the reference, trivially
    available") — page 5 of the price-ranked orders. Deterministic only
    because the ordering is total (unique o_orderkey tiebreaker); Spark
    plans offset+limit as a head take after the partial top-(k+offset),
    still no global sort materialization."""
    return (
        load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .offset(100)
        .limit(25)
    )


# ---------------------------------------------------------------------------
# §2.6 extension — deterministic TABLESAMPLE (hash-bernoulli). Engine-native
# TABLESAMPLE is nondeterministic across engines/runs; the reproducible
# pipeline form keys the coin flip on a universal hash of the row key, so
# the sample is a pure filter: pushes to the scan, no shuffle, and the same
# rows come back on every engine (SURVEY §2.6 noted TABLESAMPLE absent in
# the reference; this is the form a 100 TB sampling job should use anyway).
# ---------------------------------------------------------------------------
_TS_P = 2_147_483_647  # same universal family as the sketch/minhash hashes
_TS_A = 1_103_515_245
_TS_B = 12_345
_TS_PCT = 10


@q(
    "s_tablesample_hash",
    f"""
    SELECT event_id, user_id, event_type, value
    FROM events
    WHERE (((event_id % {_TS_P}) * {_TS_A} + {_TS_B}) % {_TS_P}) % 100 < {_TS_PCT}
    """,
)
def s_tablesample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~10% deterministic Bernoulli sample of events by hashed event_id —
    exact membership (not just counts) is driver-verified. The predicate is
    a scan-level filter; Catalyst pushes it below the projection."""
    e = load(spark, sf_dir, "events")
    h = F.pmod(
        F.pmod(F.col("event_id"), F.lit(_TS_P)) * _TS_A + _TS_B, F.lit(_TS_P)
    )
    return e.filter(F.pmod(h, F.lit(100)) < _TS_PCT).select(
        "event_id", "user_id", "event_type", "value"
    )


# ---------------------------------------------------------------------------
# §2.7 set operations (absent in the reference; engine capability).
# ---------------------------------------------------------------------------
@q(
    "set_ops",
    """
    WITH hot AS (SELECT o_custkey AS k FROM orders WHERE o_orderpriority = '1-URGENT'),
         big AS (SELECT o_custkey AS k FROM orders WHERE o_totalprice > 100000)
    SELECT 'union_all' AS op, COUNT(*) AS n FROM (SELECT k FROM hot UNION ALL SELECT k FROM big) t
    UNION ALL
    SELECT 'intersect' AS op, COUNT(*) AS n FROM (SELECT k FROM hot INTERSECT SELECT k FROM big) t
    UNION ALL
    SELECT 'except' AS op, COUNT(*) AS n FROM (SELECT k FROM hot EXCEPT SELECT k FROM big) t
    """,
)
def set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    hot = o.filter(F.col("o_orderpriority") == "1-URGENT").select(F.col("o_custkey").alias("k"))
    big = o.filter(F.col("o_totalprice") > 100000).select(F.col("o_custkey").alias("k"))
    rows = [
        ("union_all", hot.unionAll(big)),
        ("intersect", hot.intersect(big)),
        ("except", hot.subtract(big)),
    ]
    outs = [
        df.agg(F.count("*").alias("n")).select(F.lit(op).alias("op"), "n") for op, df in rows
    ]
    out = outs[0]
    for o_ in outs[1:]:
        out = out.unionByName(o_)
    return out


# ---------------------------------------------------------------------------
# §2.1 S7 — UNNEST([<array literal>]) as an inline table (metrics_guide.md:161
# uses it as an empty placeholder; here the non-degenerate join form).
# ---------------------------------------------------------------------------
@q(
    "s7_inline_unnest",
    """
    SELECT w.rname AS r_name, COUNT(n.n_nationkey) AS n_nations
    FROM (SELECT unnest(['EUROPE', 'ASIA', 'NOWHERE']) AS rname) w
    LEFT JOIN region r ON r.r_name = w.rname
    LEFT JOIN nation n ON n.n_regionkey = r.r_regionkey
    GROUP BY 1
    """,
)
def s7_inline_unnest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7: array literal exploded into an inline relation, then used like any
    table (left-joined so unmatched literals survive, as UNNEST does)."""
    w = spark.range(1).select(
        F.explode(F.array(F.lit("EUROPE"), F.lit("ASIA"), F.lit("NOWHERE"))).alias("rname")
    )
    r = load(spark, sf_dir, "region")
    n = load(spark, sf_dir, "nation")
    return (
        w.join(r, r["r_name"] == w["rname"], "left")
        .join(n, n["n_regionkey"] == r["r_regionkey"], "left")
        .groupBy(F.col("rname").alias("r_name"))
        .agg(F.count(n["n_nationkey"]).alias("n_nations"))
    )


# ---------------------------------------------------------------------------
# §2.8 scalar string/hash pack — F1-F4, F15, D2 regexp-null.
# ---------------------------------------------------------------------------
@q(
    "f_string_hash_pack",
    """
    SELECT p_partkey,
           p_brand || '|' || p_type AS brand_type,
           sha256(COALESCE(p_name, 'UNK')) AS name_hash,
           NULLIF(regexp_extract(p_type, '^[A-Z]+'), '') AS type_head,
           NULLIF(regexp_extract(p_name, '^[0-9]+'), '') AS digit_prefix,
           split_part(p_type, ' ', 1) AS first_word,
           UPPER(p_brand) AS brand_upper,
           LENGTH(p_name) AS name_len
    FROM part
    """,
)
def f_string_hash_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 CONCAT null-propagation (D3), F2 COALESCE, F3 REGEXP_EXTRACT with
    BQ null-on-no-match (D2 — digit_prefix is NULL for every part name), F4
    TO_HEX(SHA256()), F15 SPLIT[OFFSET], plus upper/length."""
    p = load(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        bq.concat(F.col("p_brand"), F.lit("|"), F.col("p_type")).alias("brand_type"),
        bq.to_hex_sha256(F.coalesce(F.col("p_name"), F.lit("UNK"))).alias("name_hash"),
        bq.regexp_extract(F.col("p_type"), r"^[A-Z]+").alias("type_head"),
        bq.regexp_extract(F.col("p_name"), r"^[0-9]+").alias("digit_prefix"),
        F.split(F.col("p_type"), " ").getItem(0).alias("first_word"),
        F.upper(F.col("p_brand")).alias("brand_upper"),
        F.length(F.col("p_name")).alias("name_len"),
    )


# ---------------------------------------------------------------------------
# §2.8 datetime pack — F7-F14, D9 trunc-toward-zero, D11 tz shift.
# ---------------------------------------------------------------------------
@q(
    "f_datetime_pack",
    """
    SELECT event_id,
           date_trunc('minute', ts) AS ts_minute,
           date_trunc('hour', ts) AS ts_hour,
           CAST(ts - INTERVAL 5 HOUR AS DATE) AS ny_date,
           dayofweek(CAST(ts - INTERVAL 5 HOUR AS DATE)) + 1 AS ny_dow,
           CAST(floor(epoch_us(ts) / 1000000.0) AS BIGINT) AS unix_sec,
           CAST(floor(epoch_us(ts) / 1000000.0) AS BIGINT) // 300 AS bucket_5min,
           CAST((epoch_us(ts) - epoch_us(TIMESTAMP '2024-01-15 00:00:00')
                 - ((epoch_us(ts) - epoch_us(TIMESTAMP '2024-01-15 00:00:00')) % 60000000))
                // 60000000 AS BIGINT) AS min_from_mid_jan,
           strftime(ts - INTERVAL 5 HOUR, '%H:%M:%S') AS ny_time_str
    FROM events
    """,
)
def f_datetime_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9 TIMESTAMP_TRUNC, F10 UNIX_SECONDS + 5-min DIV bucket, F11
    DATE(ts, tz), F12 FORMAT_TIMESTAMP('%T'), F14 EXTRACT(DAYOFWEEK) (1=Sun on
    both after the +1 on DuckDB's 0=Sun), F8/D9 TIMESTAMP_DIFF MINUTE with
    truncation toward zero (negative for early January). The events span
    January only, so America/New_York is a constant UTC-5 — the oracle uses
    the fixed offset while the engine does the real tz shift (D11)."""
    e = load(spark, sf_dir, "events")
    ts = F.col("ts")
    mid_jan = F.lit("2024-01-15 00:00:00").cast("timestamp")
    return e.select(
        "event_id",
        bq.timestamp_trunc(ts, "minute").alias("ts_minute"),
        bq.timestamp_trunc(ts, "hour").alias("ts_hour"),
        bq.local_date(ts, "America/New_York").alias("ny_date"),
        F.dayofweek(bq.local_date(ts, "America/New_York")).alias("ny_dow"),
        bq.unix_seconds(ts).alias("unix_sec"),
        bq._trunc_div(bq.unix_seconds(ts), 300).alias("bucket_5min"),
        bq.timestamp_diff(ts, mid_jan, "MINUTE").alias("min_from_mid_jan"),
        bq.local_time_str(ts, "America/New_York").alias("ny_time_str"),
    )


# ---------------------------------------------------------------------------
# §2.8 F13/D10 — GTFS clock strings with HH >= 24.
# ---------------------------------------------------------------------------
@q(
    "f_gtfs_clock_overflow",
    """
    WITH clk AS (
      SELECT event_id,
             CAST(floor(value * 0.3) AS BIGINT) AS hh,
             CAST(event_id % 60 AS BIGINT) AS mm,
             CAST(event_id % 7 * 8 AS BIGINT) AS ss
      FROM events
    )
    SELECT CAST(TIMESTAMP '2024-01-01 00:00:00'
                + hh * INTERVAL 1 HOUR + mm * INTERVAL 1 MINUTE + ss * INTERVAL 1 SECOND
           AS TIMESTAMP) AS sched_ts,
           COUNT(*) AS n
    FROM clk GROUP BY 1
    """,
)
def f_gtfs_clock_overflow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D10: GTFS '25:30:00'-style clock strings (metrics_guide.md:92-96) must
    be parsed as midnight + H/M/S intervals, never to_timestamp. Synthesizes
    HH in 0..30 from event values (floor on identical doubles on both
    engines — no rounding-mode divergence)."""
    e = load(spark, sf_dir, "events")
    hh = F.floor(F.col("value") * 0.3).cast("long")
    mm = (F.col("event_id") % 60).cast("long")
    ss = (F.col("event_id") % 7 * 8).cast("long")
    # format_string pads without truncating (lpad would clip 3-digit hours).
    hms = F.format_string("%02d:%02d:%02d", hh, mm, ss)
    sched = bq.gtfs_time_to_ts(F.lit("2024-01-01"), hms)
    return e.select(sched.alias("sched_ts")).groupBy("sched_ts").agg(
        F.count("*").alias("n")
    )


# ---------------------------------------------------------------------------
# §2.5 extension — full ranking-function pack with deterministic tiebreaks.
# ---------------------------------------------------------------------------
@q(
    "w4_rank_pack",
    """
    SELECT o_orderkey,
           o_custkey,
           CAST(rank()         OVER w AS BIGINT)  AS rnk,
           CAST(dense_rank()   OVER w AS BIGINT)  AS drnk,
           ROUND(percent_rank() OVER w, 6)        AS prnk,
           ROUND(cume_dist()    OVER w, 6)        AS cdist,
           CAST(ntile(4) OVER (PARTITION BY o_custkey
                               ORDER BY o_totalprice DESC, o_orderkey ASC) AS BIGINT) AS quartile
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC)
    """,
)
def w4_rank_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank/dense_rank/percent_rank/cume_dist/ntile in one pass — Spark
    evaluates all five in a single Window physical operator when the
    partitioning+ordering agree (one sort, not five). ntile carries the
    orderkey tiebreak so bucket assignment is total-order deterministic."""
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc())
    wt = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.round(F.percent_rank().over(w), 6).alias("prnk"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
        F.ntile(4).over(wt).cast("long").alias("quartile"),
    )


# ---------------------------------------------------------------------------
# §2.5 extension — RANGE frame over a time interval (rolling 1-hour sum).
# ---------------------------------------------------------------------------
@q(
    "w5_range_interval_frame",
    """
    SELECT event_id, user_id, ts,
           CAST(SUM(CAST(round(value * 1000, 0) AS BIGINT)) OVER (
             PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS rolling_hour_milli,
           CAST(COUNT(*) OVER (
             PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS rolling_hour_events,
           ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS rolling3
    FROM events
    """,
)
def w5_range_interval_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-interval RANGE frame (trailing 1 hour per user) plus a ROWS
    BETWEEN 2 PRECEDING frame in the same pass (absorbs the former
    w_rolling_frame entry). Spark expresses interval ranges by ordering on
    the epoch MICROS and bounding in micros — second-granularity
    (unix_timestamp) ordering silently widens the frame for rows in the
    sub-second gap just past the boundary, a divergence that first
    surfaced at sf0.1 density (r5); micros match the SQL interval frame's
    native timestamp precision exactly. RANGE sums are integer millis so
    frame-order float effects can't exist, and the ROWS sum adds ≤3
    doubles in a deterministic order so round(.,6) hash-matches."""
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    wr = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, Window.currentRow)
    )
    e = load(spark, sf_dir, "events")
    v = F.round(F.col("value") * 1000, 0).cast("long")
    return e.select(
        "event_id",
        "user_id",
        "ts",
        F.sum(v).over(w).cast("long").alias("rolling_hour_milli"),
        F.count("*").over(w).cast("long").alias("rolling_hour_events"),
        F.round(F.sum("value").over(wr), 6).alias("rolling3"),
    )


# ---------------------------------------------------------------------------
# §2.4 extension — array aggregation (ARRAY_AGG) with deterministic ordering.
# ---------------------------------------------------------------------------
@q(
    "a_array_agg_sorted",
    """
    SELECT user_id,
           array_to_string(list_sort(list(DISTINCT event_type)), '|') AS types_sorted,
           CAST(len(list(DISTINCT event_type)) AS INTEGER) AS n_types,
           list_sort(list(DISTINCT event_type))[1] AS first_type
    FROM events GROUP BY user_id
    """,
)
def a_array_agg_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARRAY_AGG(DISTINCT ...) — collect_set's order is partition-dependent,
    so every emitted array is array_sort'ed (the discipline any deterministic
    pipeline needs for array outputs). The driver's pandas canonicalizer
    cannot hash list-typed cells (r4 red row), so the sorted array is emitted
    joined on '|' — same information, scalar column — in both engines."""
    e = load(spark, sf_dir, "events")
    arr = F.array_sort(F.collect_set("event_type"))
    return e.groupBy("user_id").agg(
        F.array_join(arr, "|").alias("types_sorted"),
        F.size(arr).alias("n_types"),
        arr.getItem(0).alias("first_type"),
    )


# ---------------------------------------------------------------------------
# §2.5 extension — value window functions (first/last/nth, IGNORE NULLS).
# ---------------------------------------------------------------------------
@q(
    "w6_value_functions",
    """
    SELECT user_id, event_id,
           first_value(value) OVER w AS fv,
           last_value(value) OVER w AS lv,
           nth_value(value, 2) OVER w AS nth2,
           first_value(CASE WHEN value > 50 THEN value END IGNORE NULLS) OVER w AS first_high
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def w6_value_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value / nth_value over an explicit full frame, plus
    the IGNORE NULLS variant (BigQuery's first-non-null idiom). All four
    evaluate in ONE Window operator (same partitioning+ordering+frame), and
    the values are copied, not computed — bit-exact across engines with no
    rounding needed."""
    e = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    high = F.when(F.col("value") > 50, F.col("value"))
    return e.select(
        "user_id",
        "event_id",
        F.first("value").over(w).alias("fv"),
        F.last("value").over(w).alias("lv"),
        F.nth_value("value", 2).over(w).alias("nth2"),
        F.first(high, ignorenulls=True).over(w).alias("first_high"),
    )


# ---------------------------------------------------------------------------
# §2.4 extension — GROUPING SETS with grouping_id disambiguation.
# ---------------------------------------------------------------------------
@q(
    "a_grouping_sets",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT) AS gid,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
)
def a_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary GROUPING SETS (finer than rollup/cube): per-combo totals in
    one pass with grouping() flags distinguishing real NULLs from subtotal
    rows. Scale: one Expand + one hash agg — not three scans."""
    li = load(spark, sf_dir, "lineitem")
    gid = (F.grouping("l_returnflag") * 2 + F.grouping("l_linestatus")).cast("long")
    return (
        li.groupingSets(
            [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            gid.alias("gid"),
            F.count("*").alias("n"),
            F.sum(_dec(F.col("l_quantity"))).cast("double").alias("sum_qty"),
        )
    )


# ---------------------------------------------------------------------------
# §2.4 extension — PIVOT (BigQuery PIVOT / conditional-agg equivalence).
# ---------------------------------------------------------------------------
@q(
    "a_pivot_status_by_priority",
    """
    SELECT o_orderstatus,
           COUNT(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) AS urgent_n,
           COUNT(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 END) AS high_n,
           COUNT(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 END) AS medium_n,
           CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
                    THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS urgent_total,
           CAST(SUM(CASE WHEN o_orderpriority = '2-HIGH'
                    THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS high_total,
           CAST(SUM(CASE WHEN o_orderpriority = '3-MEDIUM'
                    THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS medium_total
    FROM orders GROUP BY o_orderstatus
    """,
)
def a_pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT with an explicit value list (required: an inferred list is a
    separate distinct scan AND nondeterministic column order). Two measures
    per pivot value; output renamed to stable snake_case columns."""
    piv = (
        load(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .pivot("o_orderpriority", ["1-URGENT", "2-HIGH", "3-MEDIUM"])
        .agg(
            F.count(F.lit(1)).alias("n"),  # count("*") is invalid inside PIVOT
            F.sum(_dec(F.col("o_totalprice"), 2)).cast("double").alias("total"),
        )
    )
    ren = {
        "1-URGENT_n": "urgent_n", "2-HIGH_n": "high_n", "3-MEDIUM_n": "medium_n",
        "1-URGENT_total": "urgent_total", "2-HIGH_total": "high_total",
        "3-MEDIUM_total": "medium_total",
    }
    out = piv.select(
        "o_orderstatus",
        *[F.col(f"`{old}`").alias(new) for old, new in ren.items()],
    )
    # pivot COUNT yields NULL for empty cells; SQL COUNT(CASE...) yields 0
    return out.na.fill(0, [c for c in out.columns if c.endswith("_n")])


# ---------------------------------------------------------------------------
# §2.4 extension — UNPIVOT/melt (inverse of pivot; BigQuery UNPIVOT).
# ---------------------------------------------------------------------------
@q(
    "a_unpivot_measures",
    """
    SELECT l_orderkey, l_linenumber, measure,
           CAST(round(value * 1000, 0) AS BIGINT) AS value_milli
    FROM (
      SELECT l_orderkey, l_linenumber, 'quantity' AS measure, l_quantity AS value
      FROM lineitem WHERE l_linenumber = 1
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'extendedprice', l_extendedprice
      FROM lineitem WHERE l_linenumber = 1
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'discount', l_discount
      FROM lineitem WHERE l_linenumber = 1
    )
    """,
)
def a_unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT three measure columns to (measure, value) rows via the native
    unpivot operator — one Expand node, one scan (the UNION-ALL oracle form
    scans three times; at scale the single-scan shape is the point)."""
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_linenumber") == 1)
    return (
        li.unpivot(
            ["l_orderkey", "l_linenumber"],
            [F.col("l_quantity").alias("quantity"),
             F.col("l_extendedprice").alias("extendedprice"),
             F.col("l_discount").alias("discount")],
            "measure",
            "value",
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            "measure",
            F.round(F.col("value") * 1000, 0).cast("long").alias("value_milli"),
        )
    )


# ---------------------------------------------------------------------------
# §2.8 extension — JSON + map functions (absent in the reference; BigQuery
# JSON_VALUE / Spark from_json+get_json_object parity demonstrated anyway).
# ---------------------------------------------------------------------------
@q(
    "f_json_map_pack",
    """
    WITH parsed AS (
      SELECT event_type, user_id,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      FROM events
    )
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(k) AS BIGINT) AS sum_k, MIN(k) AS min_k, MAX(k) AS max_k,
           COUNT(DISTINCT user_id) AS n_users
    FROM parsed GROUP BY 1
    """,
)
def f_json_map_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON parsing two ways — schema-full ``from_json`` (typed struct, the
    scale path: one parse, columnar after) and path-wise ``get_json_object``
    — cross-checked against each other in-plan (coalesce picks the struct
    value; both engines agree through the oracle)."""
    e = load(spark, sf_dir, "events")
    parsed = e.select(
        "event_type",
        "user_id",
        F.coalesce(
            F.from_json(F.col("props"), "k long").getField("k"),
            F.get_json_object(F.col("props"), "$.k").cast("long"),
        ).alias("k"),
    )
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").cast("long").alias("sum_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
        F.countDistinct("user_id").alias("n_users"),
    )


@q(
    "f_map_construct_explode",
    """
    SELECT user_id, event_type, COUNT(*) AS cnt
    FROM events GROUP BY 1, 2
    """,
)
def f_map_construct_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map functions round-trip: per-user map<event_type, count> built with
    map_from_entries, then exploded back to rows. The through-a-map path
    must reproduce the plain aggregate exactly (keys unique per user by
    construction, so map semantics lose nothing)."""
    e = load(spark, sf_dir, "events")
    per_type = e.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("cnt"))
    as_map = per_type.groupBy("user_id").agg(
        F.map_from_entries(F.collect_list(F.struct("event_type", "cnt"))).alias("m")
    )
    return as_map.select("user_id", F.explode("m").alias("event_type", "cnt"))


# Benford expected first-digit frequencies, ppm (round(log10(1+1/d)*1e6)).
_BENFORD_PPM = [301030, 176091, 124939, 96910, 79181, 66947, 57992, 51153, 45757]
_BENFORD_CASE = " ".join(
    f"WHEN {d} THEN {ppm}" for d, ppm in enumerate(_BENFORD_PPM, start=1)
)


@q(
    "a_benford_digits",
    f"""
    WITH cents AS (
      SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS c
      FROM orders WHERE o_totalprice > 0
    ),
    digits AS (
      -- divisor must be BIGINT: DuckDB's // is floor division only for
      -- integer operands (a DOUBLE divisor silently switches to true division)
      SELECT c // CAST(power(10, length(CAST(c AS VARCHAR)) - 1) AS BIGINT) AS d
      FROM cents
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM digits)
    SELECT CAST(d AS BIGINT) AS first_digit,
           CAST(count(*) AS BIGINT) AS n_values,
           CAST(count(*) * 1000000 // (SELECT n FROM tot) AS BIGINT) AS observed_ppm,
           CAST(CASE CAST(d AS BIGINT) {_BENFORD_CASE} END AS BIGINT) AS benford_ppm,
           CAST(count(*) * 1000000 // (SELECT n FROM tot)
                - CASE CAST(d AS BIGINT) {_BENFORD_CASE} END AS BIGINT) AS deviation_ppm
    FROM digits GROUP BY d
    """,
)
def a_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit census over order totals — the
    forensic-accounting screen for fabricated numbers (organic financial
    amounts follow log-uniform leading digits; fabricated ones cluster).
    The first digit is extracted by pure integer arithmetic (cents div
    10^(digits-1), with the digit count from the integer's string length —
    no log10 float at row level); observed shares and the published
    Benford expectations are both integer ppm, so the deviation column is
    exact. One projection + one 9-row aggregate: a scan-cost audit."""
    cents = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 0)
        .select(F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("c"))
    )
    digits = cents.select(
        F.expr("c div CAST(power(10, length(CAST(c AS STRING)) - 1) AS BIGINT)").alias(
            "d"
        )
    )
    tot = digits.agg(F.count(F.lit(1)).cast("long").alias("n"))
    expected = F.expr(f"CAST(CASE first_digit {_BENFORD_CASE} END AS BIGINT)")
    return (
        digits.groupBy(F.col("d").cast("long").alias("first_digit"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_values"))
        .crossJoin(tot)
        .select(
            "first_digit",
            "n_values",
            F.expr("CAST(n_values * 1000000 div n AS BIGINT)").alias("observed_ppm"),
            expected.alias("benford_ppm"),
            (
                F.expr("CAST(n_values * 1000000 div n AS BIGINT)") - expected
            ).alias("deviation_ppm"),
        )
    )
