"""Multi-dimensional data layout: Z-order (Morton) clustering keys and the
z-ordered write path.

The reference hints at single-column partitioning for its materializations
(`docs/metrics_guide.md:385` — partition by DATE(feed_ts_utc)); at 100 TB,
scans that filter on TWO dimensions (customer AND date; part AND supplier)
need multi-dimensional clustering so parquet min/max stats prune files on
either predicate — the technique behind Delta OPTIMIZE ZORDER / Hudi
space-filling curves. The curve math is pure integer arithmetic:

1. normalize each dimension to a ``2^bits`` grid with exact integer
   division against broadcast min/max scalars (no sampling — deterministic
   and oracle-reproducible, unlike quantile bucketing);
2. interleave the two grid coordinates' bits into one Morton key;
3. ``repartitionByRange(zval)`` + ``sortWithinPartitions(zval)`` at write
   time: each output file covers one z-range, i.e. an axis-aligned tile of
   the plane, so BOTH dimensions get tight per-file min/max spans.

Scale: the scalar min/max agg is one broadcast row; the z-key itself is a
per-row projection (codegen, no shuffle); the write's range partition is
the one unavoidable shuffle and doubles as the layout. Skew in either
dimension degrades tile balance, not correctness — AQE's range
rebalancing handles it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mta_rtf_dbt_spark.registry import q
from mta_rtf_dbt_spark.sources.registry import load

BITS = 8  # grid resolution per dimension: 2^8 x 2^8 tiles


def interleave_bits(bx: Column, by: Column, bits: int = BITS) -> Column:
    """Morton key: bit j of ``bx`` lands at position 2j, of ``by`` at 2j+1.
    An unrolled sum of shift/mask terms — whole-stage codegen folds it into
    straight-line long arithmetic."""
    z = F.lit(0).cast("long")
    for j in range(bits):
        z = z + F.shiftright(bx, j).bitwiseAND(F.lit(1)) * (1 << (2 * j))
        z = z + F.shiftright(by, j).bitwiseAND(F.lit(1)) * (1 << (2 * j + 1))
    return z


def _interleave_sql(bx: str, by: str, bits: int = BITS) -> str:
    terms = [f"(({bx} >> {j}) & 1) * {1 << (2 * j)}" for j in range(bits)]
    terms += [f"(({by} >> {j}) & 1) * {1 << (2 * j + 1)}" for j in range(bits)]
    return " + ".join(terms)


def zorder_key(
    df: DataFrame, colx: str, coly: str, bits: int = BITS
) -> DataFrame:
    """Add ``bx``/``by`` (grid coordinates) and ``zval`` (Morton key) for two
    integer-valued columns. Grid cell = exact integer division over the
    column's [min, max] span (broadcast scalars) — deterministic, engine-
    independent, no sampling."""
    n = 1 << bits
    bounds = df.agg(
        F.min(colx).cast("long").alias("min_x"),
        F.max(colx).cast("long").alias("max_x"),
        F.min(coly).cast("long").alias("min_y"),
        F.max(coly).cast("long").alias("max_y"),
    )
    g = df.crossJoin(bounds)
    bx = F.expr(
        f"CAST(((CAST({colx} AS BIGINT) - min_x) * {n}) div (max_x - min_x + 1) AS BIGINT)"
    ).alias("bx")
    by = F.expr(
        f"CAST(((CAST({coly} AS BIGINT) - min_y) * {n}) div (max_y - min_y + 1) AS BIGINT)"
    ).alias("by")
    g = g.select(*df.columns, bx, by)
    return g.select(*g.columns, interleave_bits(F.col("bx"), F.col("by"), bits).alias("zval"))


@q(
    "zorder_values_orders",
    f"""
    WITH bounds AS (
      SELECT CAST(MIN(o_custkey) AS BIGINT) AS min_x, CAST(MAX(o_custkey) AS BIGINT) AS max_x,
             CAST(MIN(date_diff('day', DATE '1970-01-01', o_orderdate)) AS BIGINT) AS min_y,
             CAST(MAX(date_diff('day', DATE '1970-01-01', o_orderdate)) AS BIGINT) AS max_y
      FROM orders
    ),
    g AS (
      SELECT o_orderkey,
             ((CAST(o_custkey AS BIGINT) - min_x) * {1 << BITS}) // (max_x - min_x + 1) AS bx,
             ((CAST(date_diff('day', DATE '1970-01-01', o_orderdate) AS BIGINT) - min_y)
               * {1 << BITS}) // (max_y - min_y + 1) AS by
      FROM orders, bounds
    )
    SELECT o_orderkey, bx, by,
           CAST({_interleave_sql("bx", "by")} AS BIGINT) AS zval
    FROM g
    """,
)
def zorder_values_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order key for every order over (o_custkey, o_orderdate-as-epoch-day)
    — the two-predicate scan dimensions of Q3/Q5/Q10. Grid coords AND the
    interleaved Morton key are oracle-checked bit-for-bit."""
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01")).alias("epoch_day"),
    )
    return zorder_key(orders, "o_custkey", "epoch_day").select(
        "o_orderkey", "bx", "by", "zval"
    )


TARGET_COMPACT_BYTES = 64 * 1024  # bin target for the sf-scale demo; prod: 512MB-1GB


@q(
    "layout_compaction_plan",
    f"""
    WITH files AS (
      SELECT doc_id // 64 AS file_id,
             CAST(SUM(n_chars) AS BIGINT) AS size_bytes,
             CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM documents GROUP BY 1
    ),
    ordered AS (
      SELECT file_id, size_bytes, n_rows,
             SUM(size_bytes) OVER (ORDER BY size_bytes DESC, file_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cum_before
      FROM files
    )
    SELECT file_id, size_bytes, n_rows,
           CAST(COALESCE(cum_before, 0) // {TARGET_COMPACT_BYTES} AS BIGINT) AS compact_group
    FROM ordered
    """,
)
def layout_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file COMPACTION planner — the OPTIMIZE/bin-packing step every
    long-lived lakehouse table needs (streaming ingest and per-partition
    writes leave thousands of under-sized files; scan throughput dies on
    file-open overhead). Input is the file inventory (here simulated
    deterministically: 64-doc 'files' sized by their text bytes, so the
    oracle sees the identical inventory); the plan assigns each file a
    ``compact_group`` by size-descending cumulative-sum binning — greedy
    first-fit over a deterministic total order, groups land within one
    file of the target size. The rewrite job then coalesces each group
    into one output file.

    Scale: the inventory is METADATA (one row per file — millions of rows
    for a 100 TB table, not billions), listed from the catalog/manifest,
    never by opening data files; the single-partition cumsum window is
    over that metadata and is the planner's whole cost. The rewrite it
    drives is embarrassingly parallel (one task per group) and touches
    only groups with >1 file."""
    files = (
        load(spark, sf_dir, "documents")
        .groupBy(F.expr("doc_id div 64").alias("file_id"))
        .agg(
            F.sum("n_chars").cast("long").alias("size_bytes"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
        )
    )
    w = Window.orderBy(F.col("size_bytes").desc(), "file_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    return (
        files.withColumn(
            "cum_before", F.coalesce(F.sum("size_bytes").over(w), F.lit(0))
        )
        .withColumn(
            "compact_group", F.expr(f"cum_before div {TARGET_COMPACT_BYTES}")
        )
        .select("file_id", "size_bytes", "n_rows", "compact_group")
    )


@q(
    "layout_backfill_plan",
    """
    WITH bounds AS (
      SELECT CAST(min(o_orderdate) AS DATE) AS lo, CAST(max(o_orderdate) AS DATE) AS hi
      FROM orders
    ),
    expected AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS d FROM bounds
    ),
    present AS (
      SELECT DISTINCT CAST(o_orderdate AS DATE) AS d
      FROM orders
      WHERE CAST(epoch_us(CAST(o_orderdate AS DATE)) // 86400000000 AS BIGINT) % 13 <> 5
    )
    SELECT e.d,
           (p.d IS NOT NULL) AS present,
           CASE WHEN p.d IS NULL THEN 'backfill' ELSE 'ok' END AS action
    FROM expected e LEFT JOIN present p USING (d)
    """,
)
def layout_backfill_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backfill planner for a date-partitioned table: generate the expected
    partition spine (min..max order date), compare against the partitions
    actually present, and emit the work list — the pre-flight every
    scheduled insert_overwrite pipeline runs to find holes left by failed
    or skipped runs. 'Present' partitions are simulated with planted gaps
    (epoch-day % 13 == 5 dropped) so the planner provably finds them; in
    production the present set comes from the catalog/file listing
    (metadata, not a data scan). The spine is generated in-plan
    (sequence + explode — no driver-side date loop), the comparison one
    broadcast-able join over day-count rows."""
    orders = load(spark, sf_dir, "orders")
    bounds = orders.agg(
        F.min(F.to_date("o_orderdate")).alias("lo"),
        F.max(F.to_date("o_orderdate")).alias("hi"),
    )
    expected = bounds.select(
        F.explode(
            F.sequence(F.col("lo"), F.col("hi"), F.expr("INTERVAL 1 DAY"))
        ).alias("d")
    )
    present = (
        orders.select(F.to_date("o_orderdate").alias("d"))
        .distinct()
        .filter(F.expr("CAST(unix_micros(CAST(d AS TIMESTAMP)) div 86400000000 AS BIGINT) % 13 != 5"))
        .withColumn("_p", F.lit(1))
    )
    return expected.join(present, "d", "left").select(
        "d",
        F.col("_p").isNotNull().alias("present"),
        F.when(F.col("_p").isNull(), F.lit("backfill")).otherwise(F.lit("ok")).alias("action"),
    )
