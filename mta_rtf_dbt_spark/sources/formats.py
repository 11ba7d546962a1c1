"""Non-parquet source formats (SURVEY §2.1 S1/S6 widening): CSV and JSON
round-trips with explicit schemas, and partition-pruned table layouts.

The reference's sources are BigQuery external tables (mta_sources.yml:3-178);
the Spark equivalents are format readers. Rules this module encodes:

- **Always pass an explicit schema.** Inference is a second full scan and a
  correctness hazard (a CSV column of '1','2','TRUE' flips type by sample).
- CSV: header on, explicit nullValue sentinel, ISO timestamps — the write
  and read options must agree or NULLs silently become strings.
- JSON: JSON-lines (one object per line — splittable, the only layout that
  parallelizes a 100 TB read); absent keys become NULLs via the schema.
- Partitioned layout: ``partitionBy`` on write, and predicates on the
  partition column must show up as PartitionFilters (pruned directories),
  not data filters (test_formats asserts this on the physical plan).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mta_rtf_dbt_spark.registry import q
from mta_rtf_dbt_spark.sources.registry import load

CSV_OPTS = {
    "header": "true",
    "nullValue": "\\N",
    # no zone suffix: the session TZ is pinned UTC (D11), and Spark's CSV
    # writer emits none — an XXX in the read pattern would null every value
    "timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSS",
    "escape": '"',
}


def write_csv(df: DataFrame, path: str) -> None:
    w = df.write.mode("overwrite")
    for k, v in CSV_OPTS.items():
        w = w.option(k, v)
    w.csv(path)


def read_csv(spark: SparkSession, path: str, schema: str) -> DataFrame:
    r = spark.read.schema(schema)
    for k, v in CSV_OPTS.items():
        r = r.option(k, v)
    return r.csv(path)


def write_jsonl(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").json(path)


def read_jsonl(spark: SparkSession, path: str, schema: str) -> DataFrame:
    return spark.read.schema(schema).json(path)


_FMT_SQL = """
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS total_cents,
       MIN(o_orderdate) AS first_order,
       MAX(o_orderdate) AS last_order
FROM orders
GROUP BY 1, 2
"""

_FMT_SCHEMA = (
    "o_orderstatus string, o_orderpriority string, n_orders long, "
    "total_cents long, first_order timestamp, last_order timestamp"
)


@q("source_csv_json_roundtrip", _FMT_SQL)
def source_csv_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate orders, write the result as BOTH csv and json-lines, read
    each back with explicit schemas, and return the csv copy inner-joined to
    the json copy on every column (via intersect). Any fidelity loss in
    either format — nulls, timestamps, quoting, numeric text — breaks the
    hash against the parquet-derived oracle."""
    agg = (
        load(spark, sf_dir, "orders")
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias(
                "total_cents"
            ),
            F.min("o_orderdate").alias("first_order"),
            F.max("o_orderdate").alias("last_order"),
        )
    )
    base = os.path.join(tempfile.gettempdir(), "spark_graft_formats")
    csv_path, json_path = base + "/csv", base + "/json"
    write_csv(agg, csv_path)
    write_jsonl(agg, json_path)
    csv_back = read_csv(spark, csv_path, _FMT_SCHEMA)
    json_back = read_jsonl(spark, json_path, _FMT_SCHEMA).select(*csv_back.columns)
    # intersect proves the two format round-trips agree row-for-row
    return csv_back.intersect(json_back)


@q("source_orc_roundtrip", _FMT_SQL)
def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The columnar sink matrix beyond parquet: the same aggregate written
    as ORC (Spark-native writer, zlib default) and read back with an
    explicit schema. ORC timestamps carry writer-timezone metadata — the
    session UTC pin (D11) is what makes the round-trip value-stable, which
    this entry proves against the parquet-derived oracle."""
    agg = (
        load(spark, sf_dir, "orders")
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias(
                "total_cents"
            ),
            F.min("o_orderdate").alias("first_order"),
            F.max("o_orderdate").alias("last_order"),
        )
    )
    path = os.path.join(tempfile.gettempdir(), "spark_graft_formats", "orc")
    agg.write.mode("overwrite").orc(path)
    return spark.read.schema(_FMT_SCHEMA).orc(path)


@q(
    "source_json_corrupt_records",
    """
    WITH lines AS (
      SELECT doc_id,
             (doc_id % 13 = 4) AS is_corrupt
      FROM documents
    )
    SELECT
      CAST((SELECT count(*) FROM lines WHERE NOT is_corrupt) AS BIGINT) AS n_good,
      CAST((SELECT count(*) FROM lines WHERE is_corrupt) AS BIGINT) AS n_corrupt,
      CAST((SELECT COALESCE(sum(doc_id), 0) FROM lines WHERE NOT is_corrupt) AS BIGINT) AS good_id_sum,
      CAST((SELECT COALESCE(sum(doc_id), 0) FROM lines WHERE is_corrupt) AS BIGINT) AS corrupt_id_sum
    """,
)
def source_json_corrupt_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-record handling on JSONL ingestion — the robustness
    contract a 100 TB crawl ingest lives by: PERMISSIVE mode parses every
    well-formed line and lands each malformed one in ``_corrupt_record``
    (payload preserved for quarantine/replay) instead of failing the job
    or silently dropping rows. Lines are generated deterministically from
    ``documents`` (every doc_id % 13 == 4 line gets truncated into invalid
    JSON mid-object), written as text, then read back with an explicit
    schema + corrupt-record column; the entry reconciles both populations
    by id (corrupt ids are recovered by regexp from the preserved raw
    payload), so the oracle — which recomputes the same split from the
    generation rule — verifies that not one row was lost OR misclassified
    in either direction. DROPMALFORMED/FAILFAST are the same reader one
    option away; PERMISSIVE-with-quarantine is the production default."""
    import tempfile

    docs = load(spark, sf_dir, "documents").select("doc_id", "lang")
    corrupt = F.col("doc_id") % 13 == 4
    line = F.when(
        corrupt,
        # truncated mid-object: unparseable, but the id survives for audit
        F.concat(F.lit('{"doc_id": '), F.col("doc_id").cast("string"), F.lit(', "lang": "')),
    ).otherwise(F.to_json(F.struct("doc_id", "lang")))
    tmp = tempfile.mkdtemp(prefix="json_corrupt_")
    docs.select(line.alias("value")).write.mode("overwrite").text(tmp + "/lines")
    parsed = (
        spark.read.schema("doc_id LONG, lang STRING, _corrupt_record STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(tmp + "/lines")
    )
    # one aggregate reads doc_id beside the corrupt-record column: Spark
    # refuses a raw JSON scan that reads the corrupt-record column alone,
    # and a quarantine branch of its own would need the parse cached
    bad = F.col("_corrupt_record").isNotNull()
    bad_id = F.regexp_extract(F.col("_corrupt_record"), r'"doc_id": (\d+)', 1)

    def id_sum(ids):
        return F.coalesce(F.sum(ids), F.lit(0)).cast("long")

    return parsed.agg(
        F.count(F.when(~bad, 1)).cast("long").alias("n_good"),
        F.count(F.when(bad, 1)).cast("long").alias("n_corrupt"),
        id_sum(F.when(~bad, F.col("doc_id"))).alias("good_id_sum"),
        id_sum(F.when(bad, bad_id.cast("long"))).alias("corrupt_id_sum"),
    )
