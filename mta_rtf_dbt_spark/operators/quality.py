"""Data-quality validators — the dbt schema tests the reference *should* have
had (SURVEY.md §5.3: its mta_sources.yml declares 178 lines of schema with
zero `tests:` keys), as reusable DataFrame operators.

Each validator returns a DataFrame of VIOLATIONS (empty = pass), so checks
compose into pipelines and scale like any other plan: uniqueness is one
hash aggregate, not-null a filter, referential integrity a left-anti join —
all map to single-shuffle-or-less shapes at 100 TB.

``dq_report`` runs a suite and returns one row per check with violation
counts — the dbt-test-summary analogue, driver-gated with a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mta_rtf_dbt_spark.registry import q
from mta_rtf_dbt_spark.sources.registry import load


def expect_unique(df: DataFrame, cols: list[str]) -> DataFrame:
    """Rows whose key appears more than once (dbt `unique`)."""
    return (
        df.groupBy(*cols)
        .agg(F.count("*").alias("n_rows"))
        .filter(F.col("n_rows") > 1)
    )


def expect_not_null(df: DataFrame, cols: list[str]) -> DataFrame:
    """Rows with a NULL in any required column (dbt `not_null`)."""
    cond = None
    for c in cols:
        n = F.col(c).isNull()
        cond = n if cond is None else (cond | n)
    return df.filter(cond)


def expect_fk(child: DataFrame, child_key: str, parent: DataFrame, parent_key: str) -> DataFrame:
    """Child rows whose key has no parent (dbt `relationships`) — left-anti
    join, the cheapest distributed FK check."""
    p = parent.select(F.col(parent_key).alias("__pk")).distinct()
    return child.join(p, child[child_key] == F.col("__pk"), "left_anti")


def expect_accepted_values(df: DataFrame, col: str, values: list[str]) -> DataFrame:
    """Rows outside the accepted domain (dbt `accepted_values`)."""
    return df.filter(~F.col(col).isin(values) | F.col(col).isNull())


def dq_report(checks: dict[str, DataFrame]) -> DataFrame:
    """One row per named check with its violation count (0 = pass)."""
    spark = next(iter(checks.values())).sparkSession
    outs = [
        df.agg(F.count(F.lit(1)).alias("n_violations")).select(
            F.lit(name).alias("check_name"), "n_violations"
        )
        for name, df in checks.items()
    ]
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


@q(
    "dq_report_testdata",
    """
    SELECT 'orders_pk_unique' AS check_name,
           (SELECT COUNT(*) FROM (SELECT o_orderkey FROM orders GROUP BY 1 HAVING COUNT(*) > 1)) AS n_violations
    UNION ALL
    SELECT 'lineitem_grain_unique',
           (SELECT COUNT(*) FROM (SELECT l_orderkey, l_linenumber FROM lineitem GROUP BY 1, 2 HAVING COUNT(*) > 1))
    UNION ALL
    SELECT 'orders_custkey_not_null',
           (SELECT COUNT(*) FROM orders WHERE o_custkey IS NULL)
    UNION ALL
    SELECT 'lineitem_fk_orders',
           (SELECT COUNT(*) FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
            ON l.l_orderkey = o.o_orderkey WHERE o.o_orderkey IS NULL)
    UNION ALL
    SELECT 'orders_status_domain',
           (SELECT COUNT(*) FROM orders WHERE o_orderstatus NOT IN ('O','F','P') OR o_orderstatus IS NULL)
    """,
)
def dq_report_testdata(spark, sf_dir):
    """The grain/integrity suite the reference's docs imply
    (metrics_guide.md:7-12 grain notes), run over the generic testdata."""
    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem")
    return dq_report(
        {
            "orders_pk_unique": expect_unique(orders, ["o_orderkey"]),
            "lineitem_grain_unique": expect_unique(lineitem, ["l_orderkey", "l_linenumber"]),
            "orders_custkey_not_null": expect_not_null(orders, ["o_custkey"]),
            "lineitem_fk_orders": expect_fk(lineitem, "l_orderkey", orders, "o_orderkey"),
            "orders_status_domain": expect_accepted_values(orders, "o_orderstatus", ["O", "F", "P"]),
        }
    )


# dbt/dlt source schema contracts (reference models/mta_sources.yml declares
# data_type per column for every source table): validate an ACTUAL schema
# against a declared contract and emit a drift report. The demo contract for
# `documents` plants one of each violation class so the report exercises
# every branch: n_chars declared int (actual bigint -> type_mismatch),
# author declared but absent (-> missing), lang undeclared (-> unexpected).
DOCS_CONTRACT: dict[str, str] = {
    "doc_id": "bigint",
    "text": "string",
    "source": "string",
    "n_chars": "int",
    "author": "string",
}


def schema_contract_report(
    spark: SparkSession, df: DataFrame, contract: dict[str, str]
) -> DataFrame:
    """(column_name, expected_type, actual_type, status) — status is one of
    ok / type_mismatch / missing / unexpected. The comparison is pure
    metadata (schema-sized, never touches data rows): at 100 TB this is the
    zero-cost pre-flight every ingestion run does before reading a byte,
    and the failure mode it catches — an upstream silently widening or
    dropping a column — is the one that otherwise surfaces as a mid-job
    cast error three hours in."""
    actual = spark.createDataFrame(
        list(df.dtypes), ["column_name", "actual_type"]
    )
    expected = spark.createDataFrame(
        list(contract.items()), ["column_name", "expected_type"]
    )
    j = expected.join(actual, "column_name", "full_outer")
    return j.select(
        "column_name",
        "expected_type",
        "actual_type",
        F.when(F.col("expected_type").isNull(), F.lit("unexpected"))
        .when(F.col("actual_type").isNull(), F.lit("missing"))
        .when(F.col("expected_type") == F.col("actual_type"), F.lit("ok"))
        .otherwise(F.lit("type_mismatch"))
        .alias("status"),
    )


@q(
    "dq_schema_contract",
    """
    WITH actual AS (
      SELECT column_name,
             CASE column_type
               WHEN 'BIGINT' THEN 'bigint'
               WHEN 'INTEGER' THEN 'int'
               WHEN 'VARCHAR' THEN 'string'
               WHEN 'DOUBLE' THEN 'double'
               WHEN 'FLOAT' THEN 'float'
               WHEN 'TIMESTAMP' THEN 'timestamp'
               WHEN 'DATE' THEN 'date'
               ELSE lower(column_type)
             END AS actual_type
      FROM (DESCRIBE SELECT * FROM documents)
    ),
    expected AS (
      SELECT * FROM (VALUES
        ('doc_id', 'bigint'), ('text', 'string'), ('source', 'string'),
        ('n_chars', 'int'), ('author', 'string')
      ) AS t(column_name, expected_type)
    )
    SELECT COALESCE(e.column_name, a.column_name) AS column_name,
           e.expected_type, a.actual_type,
           CASE WHEN e.expected_type IS NULL THEN 'unexpected'
                WHEN a.actual_type IS NULL THEN 'missing'
                WHEN e.expected_type = a.actual_type THEN 'ok'
                ELSE 'type_mismatch' END AS status
    FROM expected e FULL OUTER JOIN actual a USING (column_name)
    """,
)
def dq_schema_contract(spark, sf_dir):
    """Source schema-contract drift report over `documents` — the oracle
    re-derives the actual schema independently (DESCRIBE over the same
    parquet) and replays the same drift classification, so the hash check
    verifies the comparison logic against a genuinely recomputed schema,
    not a copied literal."""
    return schema_contract_report(
        spark, load(spark, sf_dir, "documents"), DOCS_CONTRACT
    )


@q(
    "dq_join_fanout",
    """
    WITH dim AS (
      SELECT c_custkey FROM customer
      UNION ALL
      SELECT c_custkey FROM customer WHERE c_custkey % 997 = 0
    ),
    j AS (
      SELECT o.o_orderkey, CAST(count(*) AS BIGINT) AS fan
      FROM orders o JOIN dim d ON o.o_custkey = d.c_custkey
      GROUP BY 1
    )
    SELECT CAST(count(*) AS BIGINT) AS n_orders_joined,
           CAST(count(*) FILTER (WHERE fan > 1) AS BIGINT) AS n_orders_fanned,
           CAST(max(fan) AS BIGINT) AS max_fanout,
           (SELECT CAST(count(*) AS BIGINT) FROM customer WHERE c_custkey % 997 = 0)
             AS n_dup_dim_keys
    FROM j
    """,
)
def dq_join_fanout(spark, sf_dir):
    """Join-fanout contract check — the DQ rule that catches the silent
    row-multiplication bug: a fact->dim join declared N:1 quietly becomes
    N:M when the dim grows duplicate keys (a bad SCD load, a missed dedup),
    and every downstream SUM double-counts. The check measures per-fact-row
    match counts and reports the violation census (rows fanned, worst
    fanout, duplicated dim keys). Here the violation is PLANTED — dim keys
    c_custkey % 997 == 0 are duplicated — so the detector is verified to
    fire with exactly the expected magnitude, not just to stay quiet on
    clean data.

    Scale: the fanout census is the join itself plus one map-combined
    count per fact key — run it as a pre-flight on a sample or as a
    post-join assertion; either way no new shuffle shape."""
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load(spark, sf_dir, "customer").select("c_custkey")
    dim = cust.unionAll(cust.filter(F.col("c_custkey") % 997 == 0))
    fan = (
        orders.join(dim, orders.o_custkey == dim.c_custkey)
        .groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).cast("long").alias("fan"))
    )
    report = fan.agg(
        F.count(F.lit(1)).cast("long").alias("n_orders_joined"),
        F.sum(F.when(F.col("fan") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_orders_fanned"),
        F.max("fan").cast("long").alias("max_fanout"),
    )
    dups = cust.filter(F.col("c_custkey") % 997 == 0).agg(
        F.count(F.lit(1)).cast("long").alias("n_dup_dim_keys")
    )
    return report.crossJoin(dups)
