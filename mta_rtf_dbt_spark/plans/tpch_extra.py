"""Additional TPC-H-style headline queries — with relational.py's Q1 and the
per-operator entries, all 22 TPC-H query shapes have analogs here (re-based
where the testdata lacks a column/table; each block comment names the re-base).

These widen the multi-way-join + agg coverage beyond relational.py's
per-operator entries: each one is a full star/snowflake pipeline of the shape
the reference's fact models compose (fact_trips_stops.sql:15-123 layers the
same join->agg->window stages), expressed at TPC-H scale semantics.

Determinism follows relational.py's rules: money sums via DECIMAL, round(,6)
on genuinely-float outputs, unique tiebreakers on every top-k.

Scale posture (the plans we'd ship at 100 TB):
- nation/region/supplier/customer are dimension-sided: Spark broadcasts
  them while they are under its size threshold and shuffles them past it.
- Q18's HAVING-subquery is a self-semi-join on the already-aggregated child
  (shuffles |orders| grouped rows, not |lineitem|).
- top-k = TakeOrderedAndProject (no global sort materialization).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mta_rtf_dbt_spark.registry import persist, q
from mta_rtf_dbt_spark.sources.registry import load


def _dec(c, scale: int = 4):
    return c.cast(f"decimal(18,{scale})")


_REVENUE_SQL = "CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)"


# ---------------------------------------------------------------------------
# Q3 — shipping priority: 3-way join, agg, top-10.
# ---------------------------------------------------------------------------
@q(
    "q3_shipping_priority",
    f"""
    SELECT l.l_orderkey, {_REVENUE_SQL} AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l.l_orderkey ASC
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 analog. Scale: customer filter prunes before the join;
    the orders->lineitem join shuffles on orderkey once and the agg reuses
    that partitioning (no second shuffle); LIMIT 10 is TakeOrdered."""
    cust = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.sum(_dec(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
            .cast("double")
            .alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Q5 — local supplier volume: 6-way snowflake with a cross-dim equality.
# ---------------------------------------------------------------------------
@q(
    "q5_local_supplier_volume",
    f"""
    SELECT n.n_name, {_REVENUE_SQL} AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
    GROUP BY n.n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 analog: the cross-dimension residual (supplier nation ==
    customer nation) rides on the supplier equi-join. Scale: supplier,
    customer, nation and region are broadcast while under Spark's size
    threshold; the orders<->lineitem join shuffles on orderkey."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1999-01-01 00:00:00").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem")
    supp = load(spark, sf_dir, "supplier")
    nat = load(spark, sf_dir, "nation")
    reg = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            supp,
            (supp.s_suppkey == li.l_suppkey) & (supp.s_nationkey == cust.c_nationkey),
        )
        .join(nat, nat.n_nationkey == supp.s_nationkey)
        .join(reg, reg.r_regionkey == nat.n_regionkey)
        .groupBy("n_name")
        .agg(
            F.sum(_dec(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
            .cast("double")
            .alias("revenue")
        )
    )


# ---------------------------------------------------------------------------
# Q10 — returned-item reporting: customer-grain revenue, top 20.
# ---------------------------------------------------------------------------
@q(
    "q10_returned_items",
    f"""
    SELECT c.c_custkey, c.c_name, {_REVENUE_SQL} AS revenue,
           c.c_acctbal, n.n_name
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
    ORDER BY revenue DESC, c.c_custkey ASC
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 analog (the reference's fact_delays.sql:54 uses the same
    flag-filter-then-join shape). Scale: returnflag filter is pushed to the
    lineitem scan; customer+nation broadcast while under Spark's size
    threshold; one shuffle on orderkey, one on custkey for the agg."""
    cust = load(spark, sf_dir, "customer")
    nat = load(spark, sf_dir, "nation")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01 00:00:00").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(nat, nat.n_nationkey == cust.c_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.sum(_dec(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
            .cast("double")
            .alias("revenue")
        )
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Q18 — large-volume customers: HAVING-subquery as aggregated semi-join.
# ---------------------------------------------------------------------------
_Q18_QTY = 150


@q(
    "q18_large_volume_customer",
    f"""
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > {_Q18_QTY}
    )
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
    ORDER BY o.o_totalprice DESC, o.o_orderdate ASC, o.o_orderkey ASC
    LIMIT 100
    """,
)
def q18_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 analog: the IN-subquery becomes a join against the
    pre-aggregated child (SURVEY J3's pattern at scale). Because the outer
    query re-aggregates lineitem at the SAME order grain the HAVING
    subquery already computed, the pre-agg is reused outright: lineitem is
    scanned and shuffled ONCE, and the filtered (order, sum_qty) relation —
    |orders|-sized — joins orders + broadcast customer. The textbook plan's
    second lineitem join/aggregate never happens."""
    li = load(spark, sf_dir, "lineitem")
    big = (
        li.groupBy(F.col("l_orderkey").alias("o_orderkey"))
        .agg(F.sum(_dec(F.col("l_quantity"), 2)).alias("q"))
        .filter(F.col("q") > _Q18_QTY)
    )
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    return (
        big.join(orders, "o_orderkey")
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            F.col("q").cast("double").alias("sum_qty"),
        )
        .orderBy(
            F.col("o_totalprice").desc(), F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
        )
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Q4 — order-priority checking: EXISTS as semi-join.
# ---------------------------------------------------------------------------
@q(
    "q4_order_priority",
    """
    SELECT o.o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R'
      )
    GROUP BY o.o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 analog: EXISTS -> left-semi join. Scale: the returnflag
    filter prunes the lineitem probe side at the scan; the semi-join carries
    keys only, and the agg rides the quarter-pruned orders scan."""
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
    )
    flagged = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select(F.col("l_orderkey").alias("o_orderkey"))
    )
    return (
        orders.join(flagged, "o_orderkey", "semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


# ---------------------------------------------------------------------------
# Q14 — promotion revenue: conditional aggregate over a fact-dim join.
# ---------------------------------------------------------------------------
@q(
    "q14_promo_revenue",
    """
    SELECT ROUND(
             100.0 * CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                 THEN CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))
                 ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
             / CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))) AS DOUBLE),
           6) AS promo_revenue_pct
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1997-02-01 00:00:00'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 analog. Scale: part broadcasts; one decimal-exact
    conditional aggregate — a single IEEE division of identical operands on
    both engines (D5)."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-02-01 00:00:00").cast("timestamp"))
    )
    part = load(spark, sf_dir, "part")
    rev = _dec(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0).cast("decimal(18,4)"))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            F.round(
                F.lit(100.0) * F.sum(promo).cast("double") / F.sum(rev).cast("double"), 6
            ).alias("promo_revenue_pct")
        )
    )


# ---------------------------------------------------------------------------
# Q19 — discounted revenue: disjunctive multi-column predicates.
# ---------------------------------------------------------------------------
@q(
    "q19_disjunctive_revenue",
    f"""
    SELECT {_REVENUE_SQL} AS revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity >= 1 AND l.l_quantity <= 21)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity >= 10 AND l.l_quantity <= 30)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity >= 20 AND l.l_quantity <= 40)
    """,
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 analog: OR-of-ANDs across both join sides. Scale: Catalyst
    pushes the single-side disjuncts (brand/size to part, quantity envelope
    to lineitem) below the join; the residual OR evaluates post-join."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    j = li.join(part, part.p_partkey == li.l_partkey)
    b = lambda brand, smax, qlo, qhi: (  # noqa: E731
        (F.col("p_brand") == brand)
        & F.col("p_size").between(1, smax)
        & F.col("l_quantity").between(qlo, qhi)
    )
    return j.filter(b("Brand#1", 15, 1, 21) | b("Brand#2", 25, 10, 30) | b("Brand#3", 35, 20, 40)).agg(
        F.sum(_dec(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
        .cast("double")
        .alias("revenue")
    )


# ---------------------------------------------------------------------------
# Q22 — global-customer sales opportunity: scalar subquery + anti-join.
# ---------------------------------------------------------------------------
@q(
    "q22_idle_customers",
    """
    SELECT c.c_nationkey,
           COUNT(*) AS numcust,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
    FROM customer c
    WHERE c.c_acctbal > (
        SELECT AVG(c2.c_acctbal) FROM customer c2 WHERE c2.c_acctbal > 0.0
      )
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c.c_nationkey
    """,
)
def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 analog: uncorrelated scalar subquery (global avg balance)
    + NOT EXISTS anti-join. Scale: the scalar is a one-row broadcast cross
    join (no collect to the driver); the anti-join probes order custkeys
    only. The avg is a single aggregate whose double result is identical on
    both engines for identical inputs, then one comparison — no float-order
    hazard in the output columns themselves (sums go through DECIMAL)."""
    cust = load(spark, sf_dir, "customer")
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("__avg_bal")
    )
    orders_keys = load(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return (
        cust.crossJoin(avg_bal)
        .filter(F.col("c_acctbal") > F.col("__avg_bal"))
        .join(orders_keys, "c_custkey", "anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("numcust"),
            F.sum(_dec(F.col("c_acctbal"), 2)).cast("double").alias("totacctbal"),
        )
    )


# ---------------------------------------------------------------------------
# Q6 — forecasting revenue change: pure scan-side predicate aggregation.
# ---------------------------------------------------------------------------
@q(
    "q6_forecast_revenue",
    """
    SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.02 AND 0.04
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 analog: every predicate reaches the parquet scan
    (PushedFilters carries all four), zero joins, one partial+final agg —
    the all-pushdown baseline the plan suite checks scans against."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
        & F.col("l_discount").between(0.02, 0.04)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        F.sum(_dec(F.col("l_extendedprice") * F.col("l_discount")))
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


# ---------------------------------------------------------------------------
# Q7 — volume shipping between two nations, by year and direction.
# ---------------------------------------------------------------------------
@q(
    "q7_volume_shipping",
    """
    SELECT supp_nation, cust_nation, l_year,
           CAST(SUM(volume) AS DOUBLE) AS revenue,
           COUNT(*) AS n_lines
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             year(l.l_shipdate) AS l_year,
             CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4)) AS volume
      FROM supplier s
      JOIN lineitem l ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
      JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l.l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
    )
    GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 analog: two nation dims broadcast against the fact spine,
    disjunctive cross-dim pair predicate evaluated post-join. Scale: the
    nation filter cuts supplier/customer *before* their joins (Catalyst
    pushes each single-sided disjunct); lineitem->orders is the only big
    shuffle; money sums are DECIMAL (exact, order-free)."""
    s = load(spark, sf_dir, "supplier")
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between(
            F.lit("1996-01-01 00:00:00").cast("timestamp"),
            F.lit("1997-12-31 00:00:00").cast("timestamp"),
        )
    )
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n1 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n1, F.col("s_nationkey") == F.col("n1_key"))
        .join(n2, F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(
            F.sum(_dec(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


# ---------------------------------------------------------------------------
# Q8 — national market share within a region, by order year.
# ---------------------------------------------------------------------------
@q(
    "q8_market_share",
    """
    SELECT o_year,
           ROUND(CAST(SUM(CASE WHEN nat = 'NATION_1' THEN volume ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
                 / CAST(SUM(volume) AS DOUBLE), 6) AS mkt_share,
           COUNT(*) AS n_lines
    FROM (
      SELECT year(o.o_orderdate) AS o_year,
             CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4)) AS volume,
             n2.n_name AS nat
      FROM part p
      JOIN lineitem l ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON n1.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n1.n_regionkey
      JOIN nation n2 ON n2.n_nationkey = s.s_nationkey
      WHERE r.r_name = 'AMERICA' AND p.p_type = 'STANDARD'
        AND o.o_orderdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
    )
    GROUP BY 1 ORDER BY 1
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 analog: 8-way snowflake, share-of-total conditional
    aggregate. Scale: Spark broadcasts part/supplier/customer/nation/region
    while they are under its size threshold;
    the two DECIMAL sums are exact so the final share is one IEEE division,
    rounded to 6dp on both engines (float-hash discipline)."""
    p = load(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD")
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").between(
            F.lit("1996-01-01 00:00:00").cast("timestamp"),
            F.lit("1997-12-31 00:00:00").cast("timestamp"),
        )
    )
    c = load(spark, sf_dir, "customer")
    n1 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    n2 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nat")
    )
    vol = _dec(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    zero = F.lit(0).cast("decimal(18,4)")
    joined = (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n1, F.col("c_nationkey") == F.col("n1_key"))
        .join(r, F.col("n1_region") == F.col("r_regionkey"))
        .join(n2, F.col("s_nationkey") == F.col("n2_key"))
    )
    return (
        joined.select(F.year("o_orderdate").alias("o_year"), vol.alias("volume"), "nat")
        .groupBy("o_year")
        .agg(
            F.round(
                F.sum(F.when(F.col("nat") == "NATION_1", F.col("volume")).otherwise(zero))
                .cast("double")
                / F.sum("volume").cast("double"),
                6,
            ).alias("mkt_share"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy("o_year")
    )


# ---------------------------------------------------------------------------
# Q13 — customer distribution by order count (left join + double aggregation).
# ---------------------------------------------------------------------------
@q(
    "q13_customer_distribution",
    """
    WITH per_cust AS (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c LEFT JOIN orders o
        ON o.o_custkey = c.c_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    )
    SELECT c_count, COUNT(*) AS custdist
    FROM per_cust GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 analog: LEFT join with a join-side filter (customers with
    zero qualifying orders count as c_count=0), then a second aggregation
    over the first. Scale: both aggs shuffle on their own key; COUNT of a
    nullable key encodes the left-join zero case with no special-casing."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy(c.c_custkey)
        .agg(F.count(o.o_orderkey).alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


# ---------------------------------------------------------------------------
# Q15 — top supplier(s) by quarterly revenue (view + max-of-agg self-ref).
# ---------------------------------------------------------------------------
@q(
    "q15_top_supplier",
    f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no, {_REVENUE_SQL} AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    ORDER BY s.s_suppkey
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 analog: the revenue 'view' feeds both the per-supplier rows
    and the scalar MAX — computed once, broadcast back (scalar-subquery-as-
    cross-join, the Q22 pattern). DECIMAL sums make the MAX comparison exact,
    so ties are handled identically on both engines."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(_dec(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("rev_dec")
    )
    mx = revenue.agg(F.max("rev_dec").alias("__mx"))
    s = load(spark, sf_dir, "supplier")
    return (
        revenue.crossJoin(mx)
        .filter(F.col("rev_dec") == F.col("__mx"))
        .join(s, F.col("s_suppkey") == F.col("supplier_no"))
        .select(
            "s_suppkey",
            "s_name",
            F.col("rev_dec").cast("double").alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


# ---------------------------------------------------------------------------
# Q17 — small-quantity-order revenue (per-part avg correlated predicate).
# ---------------------------------------------------------------------------
@q(
    "q17_small_quantity_revenue",
    """
    WITH pavg AS (
      SELECT l_partkey, 0.5 * AVG(l_quantity) AS half_avg_qty
      FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))) * 10000 AS BIGINT) * 100 // 7 AS BIGINT) AS avg_yearly_micros,
           COUNT(*) AS n_lines
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN pavg a ON a.l_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#1' AND l.l_quantity < a.half_avg_qty
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 analog: the correlated per-part AVG subquery decorrelates to
    a pre-aggregated join (the J3 shape) — per-part averages computed once,
    joined back on partkey. The comparison predicate is a single IEEE
    multiply+compare of identical operands on both engines. The released
    average is EXACT integer micro-units (floor(sum/7 * 1e6)): the r7 sf3
    rehearsal caught ROUND(double, 6) flipping the last digit between
    engines when sum/7 lands within an ulp of a half boundary (Spark
    rounds via BigDecimal HALF_UP, DuckDB via a multiply-based double
    path) — the same engine-rounding divergence family as q1's 2^53 fix;
    integer division is the D-ledger-safe release."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    pavg = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (0.5 * F.avg("l_quantity")).alias("half_avg_qty")
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(pavg, li.l_partkey == F.col("pk"))
        .filter(F.col("l_quantity") < F.col("half_avg_qty"))
        .agg(
            F.sum(_dec(F.col("l_extendedprice"))).alias("__sum_dec"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .select(
            F.expr(
                "CAST(CAST(__sum_dec * 10000 AS BIGINT) * 100 div 7 AS BIGINT)"
            ).alias("avg_yearly_micros"),
            "n_lines",
        )
    )


# ---------------------------------------------------------------------------
# Q9 analog — product-type profit by nation and year. The testdata carries no
# partsupp table, so supply cost is re-based on the part dimension's
# retailprice (0.6 * p_retailprice * l_quantity) — same expression-heavy
# profit aggregate, LIKE-filtered part dim, and 5-way join as TPC-H Q9.
# ---------------------------------------------------------------------------
_PROFIT_SQL = (
    "CAST(SUM(CAST(l_extendedprice * (1 - l_discount)"
    " - 0.6 * p_retailprice * l_quantity AS DECIMAL(18,4))) AS DOUBLE)"
)


@q(
    "q9_product_profit",
    f"""
    SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
           {_PROFIT_SQL} AS profit
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE p.p_name LIKE '%widget%'
    GROUP BY 1, 2
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 analog (no partsupp in testdata — cost re-based on the part
    dim, see module comment). Scale: the LIKE filter prunes the part dim
    BEFORE its join, so the fact scan only keeps matching partkeys; Spark
    broadcasts the dims by its size threshold; lineitem x orders shuffles on
    orderkey; profit terms are per-row doubles cast to DECIMAL before the
    order-free sum (the money discipline)."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    o = load(spark, sf_dir, "orders")
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.lit(
        0.6
    ) * F.col("p_retailprice") * F.col("l_quantity")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(n, s.s_nationkey == n.n_nationkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(F.sum(_dec(profit)).cast("double").alias("profit"))
    )


# ---------------------------------------------------------------------------
# Q21 analog — suppliers who alone returned goods on finished multi-supplier
# orders. The testdata has no commit/receipt dates, so Q21's "kept waiting"
# predicate is re-based on l_returnflag = 'R' — the join/subquery SHAPE is
# Q21's exactly: fact filter + two correlated subqueries on the same fact
# (EXISTS another-supplier, NOT EXISTS another-supplier-also-late).
# ---------------------------------------------------------------------------
@q(
    "q21_sole_returner",
    """
    SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM lineitem l1
    JOIN orders o ON o.o_orderkey = l1.l_orderkey AND o.o_orderstatus = 'F'
    JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    WHERE l1.l_returnflag = 'R'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY 1
    ORDER BY numwait DESC, s_name ASC
    LIMIT 20
    """,
)
def q21_sole_returner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 analog (predicate re-based, see module comment): the double
    correlated subquery becomes a left-semi then a left-anti join against
    the same fact, each an equi-join on orderkey with a supplier-inequality
    residual — one shuffle each on the correlation key, never quadratic.
    Top-20 with the s_name tiebreaker is TakeOrdered."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    s = load(spark, sf_dir, "supplier")
    l1 = li.filter(F.col("l_returnflag") == "R").select("l_orderkey", "l_suppkey")
    l2 = li.select(
        F.col("l_orderkey").alias("ok2"), F.col("l_suppkey").alias("sk2")
    )
    l3 = li.filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("ok3"), F.col("l_suppkey").alias("sk3")
    )
    cand = l1.join(
        l2,
        (F.col("l_orderkey") == F.col("ok2")) & (F.col("l_suppkey") != F.col("sk2")),
        "left_semi",
    ).join(
        l3,
        (F.col("l_orderkey") == F.col("ok3")) & (F.col("l_suppkey") != F.col("sk3")),
        "left_anti",
    )
    return (
        cand.join(o, cand.l_orderkey == o.o_orderkey)
        .join(s, cand.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Q2 analog — minimum-cost supplier per part. The testdata has no partsupp
# table, so the supply relation is re-based on observed trade: an "offer" is
# a distinct (part, supplier) pair from lineitem with cost = MIN unit price
# charged (DECIMAL — exact equality survives the correlated-min compare).
# The decorrelation SHAPE is Q2's exactly: a correlated MIN subquery over a
# region-restricted supply relation, rewritten as aggregate-then-equijoin.
# ---------------------------------------------------------------------------
@q(
    "q2_min_cost_supplier",
    """
    WITH offer AS (
      SELECT l_partkey, l_suppkey,
             MIN(CAST(l_extendedprice AS DECIMAL(18,4))) AS cost
      FROM lineitem GROUP BY 1, 2
    ),
    eu AS (
      SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
      FROM supplier s
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      WHERE r.r_name = 'EUROPE'
    ),
    best AS (
      SELECT o.l_partkey, MIN(o.cost) AS min_cost
      FROM offer o JOIN eu ON eu.s_suppkey = o.l_suppkey
      GROUP BY 1
    )
    SELECT e.s_acctbal, e.s_name, e.n_name, p.p_partkey, p.p_type,
           CAST(o.cost AS DOUBLE) AS supply_cost
    FROM part p
    JOIN offer o ON o.l_partkey = p.p_partkey
    JOIN best b ON b.l_partkey = p.p_partkey AND o.cost = b.min_cost
    JOIN eu e ON e.s_suppkey = o.l_suppkey
    WHERE p.p_size <= 25 AND p.p_type = 'STANDARD'
    ORDER BY e.s_acctbal DESC, e.n_name ASC, e.s_name ASC, p.p_partkey ASC
    LIMIT 100
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 analog (supply re-based on lineitem, see block comment).
    Scale: the offer aggregate shuffles lineitem ONCE on (partkey, suppkey);
    the region-filtered supplier dim joins into both the per-part min and
    the final lookup (broadcast or shuffled by Spark's size threshold) — the
    correlated subquery never re-scans the fact. Costs stay DECIMAL until
    output so min_cost equality is exact in both engines."""
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    p = load(spark, sf_dir, "part").filter(
        (F.col("p_size") <= 25) & (F.col("p_type") == "STANDARD")
    )
    # Pre-filter the fact with the selective part predicate BEFORE the
    # (partkey, suppkey) exchange (r12, guide §3.2): every surviving output
    # row joins the filtered `p` anyway, and per-part aggregates (offer
    # cost, best min) depend only on that part's own lineitem rows, so the
    # semi-join is exact while the offer aggregate shuffles only
    # matching lines. Interleaved A/B at sf0.1: 1.31/1.60 -> 0.74/0.95 s
    # (min/median), top-100 identical.
    li_f = li.join(
        p.select(F.col("p_partkey").alias("l_partkey")),
        "l_partkey",
        "left_semi",
    )
    offer = li_f.groupBy("l_partkey", "l_suppkey").agg(
        F.min(_dec(F.col("l_extendedprice"))).alias("cost")
    )
    eu = (
        s.join(n, s.s_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    # eu_offer feeds BOTH sides of the correlated-min equijoin. The initial
    # plan prints two offer shuffles, but AQE's runtime stage cache dedupes
    # the identical exchange, so the offer aggregate executes once already;
    # an eager persist here was tried in r11 and measured +0.2 s at
    # sf0.1 (a serialized cache materialization for a reuse AQE provides
    # for free) — deliberately left unpersisted.
    eu_offer = offer.join(eu, offer.l_suppkey == eu.s_suppkey)
    best = eu_offer.groupBy(F.col("l_partkey").alias("bk")).agg(
        F.min("cost").alias("min_cost")
    )
    return (
        eu_offer.join(
            best,
            (eu_offer.l_partkey == F.col("bk")) & (F.col("cost") == F.col("min_cost")),
        )
        .join(p, eu_offer.l_partkey == p.p_partkey)
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_type",
            F.col("cost").cast("double").alias("supply_cost"),
        )
        .orderBy(
            F.col("s_acctbal").desc(),
            F.col("n_name").asc(),
            F.col("s_name").asc(),
            F.col("p_partkey").asc(),
        )
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Q11 analog — important stock: per-part traded value for one region's
# suppliers, kept only where it exceeds a fraction of the GLOBAL total —
# Q11's HAVING-with-scalar-subquery shape (aggregate reused on both sides).
# ---------------------------------------------------------------------------
@q(
    "q11_important_stock",
    f"""
    WITH val AS (
      SELECT l.l_partkey,
             SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS part_value
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      WHERE r.r_name = 'EUROPE'
      GROUP BY 1
    )
    SELECT l_partkey, CAST(part_value AS DOUBLE) AS part_value
    FROM val
    WHERE part_value * (SELECT COUNT(*) * 2 FROM val)
        > (SELECT SUM(part_value) * 3 FROM val)
    ORDER BY part_value DESC, l_partkey ASC
    """,
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 analog. Scale: the value aggregate shuffles the fact once
    on partkey after the dim filter join; the scalar global total is a
    second agg over the SAME persisted relation broadcast back as a 1-row
    join — no fact re-scan, no driver collect. The HAVING threshold is
    scale-free (value > 1.5x the mean part value, so it selects at every SF)
    and compared as value*2n > 3*total — integer-scaled DECIMAL, no float
    edge in either engine."""
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eu = (
        s.join(n, s.s_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .select("s_suppkey")
    )
    val = persist(
        li.join(eu, li.l_suppkey == eu.s_suppkey)
        .groupBy("l_partkey")
        .agg(
            F.sum(_dec(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "part_value"
            )
        ),
        eager=True,
    )
    total = val.agg(
        (F.sum("part_value") * 3).alias("__tot3"),
        (F.count(F.lit(1)) * 2).alias("__n2"),
    )
    return (
        val.join(total)
        .filter(F.col("part_value") * F.col("__n2") > F.col("__tot3"))
        .select("l_partkey", F.col("part_value").cast("double").alias("part_value"))
        .orderBy(F.col("part_value").desc(), F.col("l_partkey").asc())
    )


# ---------------------------------------------------------------------------
# Q12 analog — shipping-class priority split. The testdata has no l_shipmode,
# so the two-class split is re-based on l_linestatus; the CASE-sum pair over
# o_orderpriority and the date-window join are Q12's exact shape.
# ---------------------------------------------------------------------------
@q(
    "q12_priority_split",
    """
    SELECT l.l_linestatus,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY 1
    ORDER BY 1
    """,
)
def q12_priority_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 analog (two-class re-base, see block comment). Scale: the
    date filter prunes the fact at the scan (pushed predicate), the join
    shuffles on orderkey once, and both CASE-sums ride the same hash agg —
    conditional aggregation instead of two passes."""
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    o = load(spark, sf_dir, "orders")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).cast("long").alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


# ---------------------------------------------------------------------------
# Q16 analog — supplier diversity per part attribute, excluding flagged
# suppliers. The supply relation is the distinct observed (part, supplier)
# pair set; the "customer complaints" exclusion is re-based on s_acctbal —
# the NOT IN subquery + COUNT(DISTINCT) shape is Q16's exactly.
# ---------------------------------------------------------------------------
@q(
    "q16_supplier_diversity",
    """
    SELECT p.p_brand, p.p_type, p.p_size,
           CAST(COUNT(DISTINCT ps.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
    JOIN part p ON p.p_partkey = ps.l_partkey
    WHERE p.p_brand <> 'Brand#3'
      AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 5, 9, 14, 19, 23, 36, 45)
      AND ps.l_suppkey NOT IN (
            SELECT s_suppkey FROM supplier WHERE s_acctbal < 1000.0)
    GROUP BY 1, 2, 3
    ORDER BY supplier_cnt DESC, p.p_brand ASC, p.p_type ASC, p.p_size ASC
    """,
)
def q16_supplier_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 analog (exclusion re-based, see block comment). Scale: the
    distinct pair set is one shuffle of two skinny fact columns; the flagged
    suppliers are a LEFT ANTI (NOT IN with non-null keys) and part attrs a
    semi-join, each broadcast while under Spark's size threshold;
    COUNT(DISTINCT) expands inside the one agg."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#3")
        & (F.col("p_type") != "PROMO")
        & (F.col("p_size").isin(1, 5, 9, 14, 19, 23, 36, 45))
    )
    flagged = (
        load(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 1000.0)
        .select("s_suppkey")
    )
    # Filter BEFORE the distinct exchange (r12, guide §3.2): both predicates
    # are per-row on the pair's own keys (selective part attrs via
    # semi-join, flagged suppliers via anti-join), so pushing them
    # below the distinct keeps the distinct set identical restricted to
    # surviving pairs — the only pairs the query ever aggregates — while the
    # distinct shuffles a fraction of the fact. Interleaved A/B at sf0.1 in
    # the commit message.
    pairs = (
        li.select("l_partkey", "l_suppkey")
        .join(
            p.select(F.col("p_partkey").alias("l_partkey")),
            "l_partkey",
            "left_semi",
        )
        .join(
            flagged.select(F.col("s_suppkey").alias("l_suppkey")),
            "l_suppkey",
            "left_anti",
        )
    )
    ps = pairs.distinct()
    return (
        ps.join(p, ps.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").cast("long").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(),
            F.col("p_brand").asc(),
            F.col("p_type").asc(),
            F.col("p_size").asc(),
        )
    )


# ---------------------------------------------------------------------------
# Q20 analog — suppliers with concentrated recent supply of target parts.
# Without partsupp availqty, the "excess stock" predicate is re-based on the
# supplier's own history: 1997 shipped quantity of a widget part > 40% of
# the pair's all-time quantity. The nested double-aggregate correlated
# compare + semi-join chain up to the region-filtered supplier is Q20's.
# ---------------------------------------------------------------------------
@q(
    "q20_concentrated_supply",
    """
    WITH qty97 AS (
      SELECT l.l_partkey, l.l_suppkey,
             SUM(CAST(l_quantity AS DECIMAL(18,4))) AS q97
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      WHERE p.p_name LIKE '%widget%'
        AND l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY 1, 2
    ),
    qall AS (
      SELECT l.l_partkey, l.l_suppkey,
             SUM(CAST(l_quantity AS DECIMAL(18,4))) AS qa
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      WHERE p.p_name LIKE '%widget%'
      GROUP BY 1, 2
    )
    SELECT s.s_name, s.s_acctbal
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name = 'ASIA'
      AND s.s_suppkey IN (
        SELECT qty97.l_suppkey
        FROM qty97
        JOIN qall ON qall.l_partkey = qty97.l_partkey
                 AND qall.l_suppkey = qty97.l_suppkey
        WHERE qty97.q97 * 5 > qall.qa * 2)
    ORDER BY s.s_name ASC
    """,
)
def q20_concentrated_supply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 analog (predicate re-based, see block comment). Scale: both
    aggregates shuffle the part-pruned fact on the SAME (partkey, suppkey)
    key, so the pair join is co-partitioned with no extra exchange; the
    threshold compare is integer-scaled DECIMAL (q97*5 > qa*2 — no float
    edge); the qualifying-supplier set semi-joins into the broadcast-dim'd
    supplier scan."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    widget_li = li.join(p.select("p_partkey"), li.l_partkey == F.col("p_partkey"))
    qall = widget_li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(_dec(F.col("l_quantity"))).alias("qa")
    )
    q97 = (
        widget_li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
        )
        .groupBy(F.col("l_partkey").alias("pk97"), F.col("l_suppkey").alias("sk97"))
        .agg(F.sum(_dec(F.col("l_quantity"))).alias("q97"))
    )
    qualifying = (
        q97.join(
            qall,
            (F.col("pk97") == qall.l_partkey) & (F.col("sk97") == qall.l_suppkey),
        )
        .filter(F.col("q97") * 5 > F.col("qa") * 2)
        .select(F.col("sk97").alias("qual_suppkey"))
    )
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        s.join(n, s.s_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .join(
            qualifying, s.s_suppkey == qualifying.qual_suppkey, "left_semi"
        )
        .select("s_name", "s_acctbal")
        .orderBy(F.col("s_name").asc())
    )
