"""Training-output sharding: deterministic corpus pseudo-shuffle, token-budget
shard assignment, and the partitioned parquet sink that writes the shards.

The last stage of a pretraining data pipeline is not a query — it is a WRITE:
the cleaned, deduped, mixed corpus must land as fixed-token-budget shards in
a pseudo-random document order so sequential shard readers see an unbiased
sample (the reference project stops at BI models; this module extends the
engine's sink side toward its 100 TB training-data mission, SCALE.md §sinks).

Three pieces, composable:

- **pseudo_shuffle_key** — a pure-integer LCG hash of ``doc_id`` (shared
  constants with :mod:`operators.sampling` so splits and shuffle order are
  consistent engine-wide). Ordering by ``(key, doc_id)`` is a deterministic,
  seedable global shuffle with no RNG state — replayable on any engine,
  which is what makes the oracle possible.
- **shard_plan** — token cumsum over the shuffled order via the same
  two-phase distributed prefix sum as ``textprep.pack_sequences`` (phase 1:
  parallel within-bucket window over range-aligned key buckets; phase 2:
  broadcast per-bucket offsets) — never a single-partition global window.
  ``shard_id = cum_start // tokens_per_shard``.
- **write_training_shards** — ``repartition(shard_id)`` then
  ``partitionBy(shard_id)`` parquet with ``maxRecordsPerFile``: one writer
  task per shard (no small-files cross-product of tasks × partitions),
  bounded file sizes, rows laid down in shuffle order via
  ``sortWithinPartitions`` so a shard file IS a training stream.

Driver entry ``shard_write_roundtrip`` runs plan → write → read-back →
per-shard stats, oracle-checked against DuckDB computing the same stats
straight from the table (any loss in the sink roundtrip breaks the hash).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mta_rtf_dbt_spark.functions import text as T
from mta_rtf_dbt_spark.operators.sampling import _A, _C, _M
from mta_rtf_dbt_spark.registry import persist, q
from mta_rtf_dbt_spark.sources.registry import load, spread

TOKENS_PER_SHARD = 4096
_N_BUCKETS = 64  # prefix-sum parallelism; range-aligned with the key order


def pseudo_shuffle_key(id_col: Column) -> Column:
    """Deterministic pseudo-random order key in [0, 2^31)."""
    return (id_col.cast("long") * _A + _C) % _M


_KEY_SQL = f"((doc_id * {_A} + {_C}) % {_M})"


def shard_plan(
    docs: DataFrame,
    tokens_per_shard: int = TOKENS_PER_SHARD,
    key_col: Column | None = None,
    key_max: int = _M,
) -> DataFrame:
    """(doc_id, shuffle_key, n_tokens, global_start, shard_id): each doc's
    position in the token stream of the pseudo-shuffled corpus and its
    target shard. Docs may straddle a budget boundary (same concat-then-
    chunk convention as pack_sequences); shards are therefore within one
    doc of exactly ``tokens_per_shard`` tokens.

    Scale: the cumsum is the two-phase prefix sum — buckets are
    ``key * B // M`` so bucket ranges partition the global (key, doc_id)
    order; phase 2's window runs over B rows, not the corpus. The phase-1
    relation feeds BOTH the per-bucket totals and the final offset join, so
    it is persisted — without that the entire upstream plan (for the
    curation entry: the whole funnel) executes twice per action (measured
    r4: the one-shot curation entry dropped from ~13 s to ~5 s at sf0.1).
    At cluster scale this persist is a checkpoint/staging write.

    ``key_col`` overrides the global order (default: the LCG pseudo-shuffle
    of doc_id) — any integer expression in [0, ``key_max``) works, because
    the prefix-sum buckets are derived as ``key * B // key_max`` and so
    stay range-aligned with whatever total order the key encodes (the
    curriculum entry passes a (quality_bin, shuffle) composite)."""
    toks = spread(docs).select(
        "doc_id",
        T.token_count(F.col("text")).alias("n_tokens"),
        (pseudo_shuffle_key(F.col("doc_id")) if key_col is None else key_col).alias(
            "shuffle_key"
        ),
    )
    toks = toks.withColumn(
        "bucket", (F.col("shuffle_key") * _N_BUCKETS / key_max).cast("long")
    )
    wloc = (
        Window.partitionBy("bucket")
        .orderBy("shuffle_key", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = persist(
        toks.withColumn("local_end", F.sum("n_tokens").over(wloc)), eager=True
    )
    boff = (
        local.groupBy("bucket")
        .agg(F.max("local_end").alias("btotal"))
        .withColumn(
            "boffset",
            F.coalesce(
                F.sum("btotal").over(
                    Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select("bucket", "boffset")
    )
    return (
        local.join(boff, "bucket")
        .select(
            "doc_id",
            "shuffle_key",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            (F.col("boffset") + F.col("local_end") - F.col("n_tokens"))
            .cast("long")
            .alias("global_start"),
        )
        .withColumn(
            "shard_id", (F.col("global_start") / tokens_per_shard).cast("long")
        )
    )


def write_training_shards(
    shards: DataFrame, path: str, max_records_per_file: int = 100_000
) -> None:
    """Sink: one directory per shard, files capped at ``max_records_per_file``
    rows, rows inside each file in shuffle order. ``repartition(shard_id)``
    first — without it every write task opens a file in every shard
    directory (tasks × shards small files, the classic partitioned-write
    bug at scale)."""
    (
        shards.repartition("shard_id")
        .sortWithinPartitions("shuffle_key", "doc_id")
        .write.mode("overwrite")
        .option("maxRecordsPerFile", max_records_per_file)
        .partitionBy("shard_id")
        .parquet(path)
    )


_SHARD_CTES = f"""
    toks AS (
      SELECT doc_id,
             len(list_filter(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' '),
                             x -> x <> '')) AS n_tokens,
             {_KEY_SQL} AS shuffle_key,
             length(text) AS n_chars
      FROM documents
    ),
    pos AS (
      SELECT doc_id, shuffle_key, n_tokens, n_chars,
             CAST(SUM(n_tokens) OVER (ORDER BY shuffle_key, doc_id
                                      ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS global_start
      FROM toks
    ),
    planned AS (
      SELECT doc_id, shuffle_key, n_tokens, n_chars, global_start,
             global_start // {TOKENS_PER_SHARD} AS shard_id
      FROM pos
    )
"""


@q(
    "corpus_shard_plan",
    f"""
    WITH {_SHARD_CTES}
    SELECT doc_id, shuffle_key, n_tokens, global_start, shard_id FROM planned
    """,
)
def corpus_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc shard assignment over the pseudo-shuffled documents corpus;
    the oracle replays the naive global prefix sum over the same LCG order
    and must match the two-phase engine positions exactly."""
    return shard_plan(load(spark, sf_dir, "documents"))


def curriculum_key(text_col: Column, id_col: Column) -> Column:
    """Composite order key for quality-ascending curriculum training: the
    corpus is laid out lowest-quality-decile first, pseudo-shuffled WITHIN
    each decile (shuffled batches, rising difficulty — the standard
    curriculum layout). Quality = lexical diversity in integer ppm (the
    same signal the curation funnel gates on), binned to 11 deciles;
    key = bin * M + lcg(doc_id), range-aligned for the prefix-sum buckets."""
    arr = T.tokens(T.normalize(text_col))
    # double division then truncating cast == integer floor here: quotients
    # are >= 1e-4 away from any integer they don't hit exactly (q <= token
    # count), far beyond double rounding error — same discipline both engines
    lexdiv_ppm = F.coalesce(
        (
            F.size(F.array_distinct(arr)).cast("long")
            * 1000000
            / F.nullif(F.size(arr).cast("long"), F.lit(0))
        ).cast("long"),
        F.lit(0),
    )
    bin_ = (lexdiv_ppm / 100000).cast("long")
    return bin_ * _M + pseudo_shuffle_key(id_col)


_CURR_KEY_SQL = f"""(
  (COALESCE(CAST(len(list_distinct({{arr}})) * 1000000 // NULLIF(len({{arr}}), 0) AS BIGINT), 0) // 100000)
  * {_M} + {_KEY_SQL}
)"""


_CURR_ARR = "list_filter(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '), x -> x <> '')"


@q(
    "curriculum_shard_plan",
    f"""
    WITH toks AS (
      SELECT doc_id,
             len({_CURR_ARR}) AS n_tokens,
             {_CURR_KEY_SQL.format(arr=_CURR_ARR)} AS shuffle_key
      FROM documents
    ),
    pos AS (
      SELECT doc_id, shuffle_key, n_tokens,
             CAST(SUM(n_tokens) OVER (ORDER BY shuffle_key, doc_id
                                      ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS global_start
      FROM toks
    )
    SELECT doc_id, shuffle_key, CAST(n_tokens AS BIGINT) AS n_tokens, global_start,
           global_start // {TOKENS_PER_SHARD} AS shard_id
    FROM pos
    """,
)
def curriculum_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ascending curriculum layout of the documents corpus:
    lowest-lexical-diversity decile first, pseudo-shuffled within decile,
    token-budget shards over that order — the same two-phase prefix sum as
    the plain shuffle plan, proving the machinery is order-key-generic.
    The oracle replays the naive global cumsum over the identical composite
    key."""
    docs = load(spark, sf_dir, "documents")
    key = curriculum_key(F.col("text"), F.col("doc_id"))
    return shard_plan(docs, key_col=key, key_max=11 * _M)


@q(
    "shard_write_roundtrip",
    f"""
    WITH {_SHARD_CTES}
    SELECT shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS tok_sum,
           CAST(SUM(n_chars) AS BIGINT) AS char_sum,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum,
           MIN(doc_id) AS first_doc,
           MAX(doc_id) AS last_doc
    FROM planned
    GROUP BY shard_id
    """,
)
def shard_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plan shards, WRITE them as partitioned parquet through the real sink,
    read the directory back, and aggregate per-shard stats from the copy.
    The oracle computes the same stats from the source table, so the entry
    verifies the sink path (partition layout, file caps, column fidelity)
    end-to-end, not just the plan."""
    docs = load(spark, sf_dir, "documents")
    plan = shard_plan(docs)
    out = plan.join(docs.select("doc_id", "text"), "doc_id").withColumn(
        "n_chars", F.length("text").cast("long")
    )
    path = os.path.join(tempfile.gettempdir(), "spark_graft_shards")
    write_training_shards(out, path)
    back = spark.read.parquet(path)
    return back.groupBy(F.col("shard_id").cast("long").alias("shard_id")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("tok_sum"),
        F.sum("n_chars").alias("char_sum"),
        F.sum("doc_id").alias("id_sum"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )
