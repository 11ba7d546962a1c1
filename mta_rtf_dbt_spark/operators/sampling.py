"""Deterministic sampling / dataset-split operators for training pipelines.

Random sampling (``df.sample``) is not reproducible across engines, runs, or
partitionings — useless for a training-data pipeline that must re-derive the
exact same train/val/test membership every rebuild. These operators key
every decision off a **pure-integer LCG hash of the row's stable id**:

    bucket(id) = ((id * 1103515245 + 12345 + seed) mod 2^31) mod n_buckets

Exact 64-bit integer arithmetic, no overflow for ids < ~8e9 (largest
intermediate = id * 1103515245 < 2^63), so DuckDB reproduces membership
bit-for-bit — the split entries are fully oracle-checked, unlike any
RNG-based sample. Membership is a per-row map-side predicate: no shuffle,
no state, stable under repartitioning — at 100 TB the split costs a scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mta_rtf_dbt_spark.registry import q
from mta_rtf_dbt_spark.sources.registry import load

_A = 1103515245
_C = 12345
_M = 2_147_483_648  # 2^31


def lcg_bucket(id_col: Column, n_buckets: int = 100, seed: int = 0) -> Column:
    """Deterministic bucket in [0, n_buckets) from an integer id."""
    return ((id_col.cast("long") * _A + _C + seed) % _M) % n_buckets


def _lcg_sql(expr: str, n_buckets: int = 100, seed: int = 0) -> str:
    return f"((({expr}) * {_A} + {_C + seed}) % {_M}) % {n_buckets}"


def train_test_split(
    df: DataFrame,
    id_col: str,
    weights: dict[str, int] | None = None,
    seed: int = 0,
) -> DataFrame:
    """Adds a ``split`` column. ``weights`` maps split name -> percent (must
    total 100); default 80/10/10 train/val/test. Same id ⇒ same split,
    every run, every engine, every partitioning."""
    weights = weights or {"train": 80, "val": 10, "test": 10}
    assert sum(weights.values()) == 100, "weights must total 100"
    b = lcg_bucket(F.col(id_col), 100, seed)
    expr, lo = None, 0
    for name, w in weights.items():
        cond = b < (lo + w)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
        lo += w
    return df.withColumn("split", expr)


def stratified_sample(
    df: DataFrame, id_col: str, pct: int, seed: int = 0
) -> DataFrame:
    """Keep pct% of rows, chosen deterministically per id. With a hash
    uniform in the id population this approximates pct% *within every
    stratum* without grouping — stratification for free, no shuffle."""
    return df.filter(lcg_bucket(F.col(id_col), 100, seed) < pct)


_SPLIT_SQL = f"""
SELECT lang,
       CASE WHEN {_lcg_sql("doc_id")} < 80 THEN 'train'
            WHEN {_lcg_sql("doc_id")} < 90 THEN 'val'
            ELSE 'test' END AS split,
       COUNT(*) AS n_docs,
       CAST(SUM(length(text)) AS BIGINT) AS total_chars
FROM documents
GROUP BY 1, 2
"""


@q("sample_train_test_split", _SPLIT_SQL)
def sample_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 deterministic split of documents; per-(lang, split) counts
    and sizes. Fully oracle-checked — membership itself is verified, not
    just proportions."""
    docs = train_test_split(load(spark, sf_dir, "documents"), "doc_id")
    return docs.groupBy("lang", "split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).cast("long").alias("total_chars"),
    )


def mix_source_quota(
    df: DataFrame, id_col: str, group_col: str, quota: int, seed: int = 0
) -> DataFrame:
    """Domain-mixing quota: keep at most ``quota`` rows per group, chosen
    deterministically (rank by LCG hash then id within each group). The
    standard \"cap any one domain\" rebalancing step before pretraining;
    membership is reproducible, so the mix can be re-derived at any time.
    One shuffle on the group key."""
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(
        lcg_bucket(F.col(id_col), _M, seed).asc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= quota)
        .drop("__r")
    )


def mix_token_budget(
    df: DataFrame, id_col: str, group_col: str, tokens_col: str, budget: int, seed: int = 0
) -> DataFrame:
    """Token-budget mixing: admit rows per group in deterministic (LCG, id)
    order until the group's cumulative token count reaches ``budget`` (a doc
    is kept if it STARTS within budget, mirroring concat-then-truncate).
    This is how per-source token quotas in a pretraining mix are actually
    specified. Adds ``cum_start`` (tokens admitted before this row)."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy(group_col)
        .orderBy(lcg_bucket(F.col(id_col), _M, seed).asc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        df.withColumn(
            "cum_start", (F.sum(tokens_col).over(w) - F.col(tokens_col)).cast("long")
        )
        .filter(F.col("cum_start") < budget)
    )


def weighted_sample_topk(
    df: DataFrame, id_col: str, weight_col: str, k: int, seed: int = 0
) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (Efraimidis-Spirakis): key_i = u_i^(1/w_i) with u_i from the LCG hash;
    the k largest keys are the sample, giving inclusion probability
    proportional to weight. Ordering uses ln(u)/w (monotone in the key) as
    a micro-scaled integer with an id tiebreak — the float-hash discipline —
    so the chosen set is engine-reproducible. One global top-k
    (TakeOrdered), no shuffle of the full relation."""
    u = (lcg_bucket(F.col(id_col), _M, seed) + 0.5) / _M
    key_micro = F.round(F.log(u) / F.col(weight_col) * 1e6).cast("long")
    return (
        df.withColumn("key_micro", key_micro)
        .orderBy(F.col("key_micro").desc(), F.col(id_col).asc())
        .limit(k)
    )


_WEIGHTED_SQL = f"""
WITH keyed AS (
  SELECT doc_id, source, length(text) AS n_chars,
         CAST(ROUND(ln(({_lcg_sql("doc_id", 2147483648, seed=3)} + 0.5) / {_M})
                    / length(text) * 1000000) AS BIGINT) AS key_micro
  FROM documents WHERE length(text) > 0
)
SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars, key_micro
FROM keyed ORDER BY key_micro DESC, doc_id ASC LIMIT 100
"""


@q("sample_weighted_topk", _WEIGHTED_SQL)
def sample_weighted_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """100-doc weighted sample of documents with weight = text length
    (longer docs proportionally likelier). Membership oracle-checked."""
    docs = (
        load(spark, sf_dir, "documents")
        .filter(F.length("text") > 0)
        .select(
            "doc_id", "source", F.length("text").cast("long").alias("n_chars")
        )
    )
    return weighted_sample_topk(docs, "doc_id", "n_chars", 100, seed=3)


_QUOTA_SQL = f"""
WITH ranked AS (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source
             ORDER BY {_lcg_sql("doc_id", 2147483648)} ASC, doc_id ASC) AS r
  FROM documents
)
SELECT doc_id, source FROM ranked WHERE r <= 50
"""


@q("mix_source_quota", _QUOTA_SQL)
def mix_source_quota_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cap every source at 50 docs, deterministic membership (oracle-checked
    doc-by-doc, not just counts)."""
    docs = load(spark, sf_dir, "documents")
    return mix_source_quota(docs, "doc_id", "source", 50).select("doc_id", "source")


_BUDGET_SQL = f"""
WITH toks AS (
  SELECT doc_id, source,
         len(list_filter(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' '),
                         x -> x <> '')) AS n_tokens
  FROM documents
),
cum AS (
  SELECT doc_id, source, n_tokens,
         CAST(SUM(n_tokens) OVER (PARTITION BY source
             ORDER BY {_lcg_sql("doc_id", 2147483648)} ASC, doc_id ASC
             ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS cum_start
  FROM toks
)
SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens, cum_start
FROM cum WHERE cum_start < 2000
"""


@q("mix_token_budget", _BUDGET_SQL)
def mix_token_budget_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2000-token budget per source over documents; membership + admission
    offsets oracle-checked."""
    from mta_rtf_dbt_spark.functions import text as T

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "source", T.token_count(F.col("text")).cast("long").alias("n_tokens")
    )
    return mix_token_budget(docs, "doc_id", "source", "n_tokens", 2000)


_STRAT_SQL = f"""
SELECT event_type,
       COUNT(*) AS n_sampled,
       CAST(SUM(CAST(round(value * 1000, 0) AS BIGINT)) AS BIGINT) AS value_milli
FROM events
WHERE {_lcg_sql("event_id", seed=7)} < 10
GROUP BY 1
"""


@q("sample_stratified_events", _STRAT_SQL)
def sample_stratified_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10% deterministic sample of events (seed 7), aggregated per type.
    Tests assert the per-stratum rate lands near 10% for every event_type."""
    e = stratified_sample(load(spark, sf_dir, "events"), "event_id", 10, seed=7)
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.sum(F.round(F.col("value") * 1000, 0).cast("long")).alias("value_milli"),
    )


_EPOCH_SQL = f"""
WITH d AS (
  SELECT doc_id, source,
         (doc_id * {_A} + {_C}) % {_M} AS k,
         500 + (CAST(substr(source, 4) AS BIGINT) * 137) % 2000 AS em
  FROM documents
),
r AS (
  SELECT doc_id, source, em,
         row_number() OVER (PARTITION BY source ORDER BY k, doc_id) AS rn,
         count(*) OVER (PARTITION BY source) AS n_src
  FROM d
)
SELECT doc_id, source,
       CAST(em // 1000
            + CASE WHEN rn <= ((em % 1000) * n_src) // 1000 THEN 1 ELSE 0 END
         AS BIGINT) AS n_repeats
FROM r
"""


@q("mix_epoch_upsample", _EPOCH_SQL)
def mix_epoch_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source EPOCH upsampling plan — the "2.3 epochs of wiki, 0.8 of
    web" dial every pretraining mix has. Each source's epoch count is a
    milli-epoch integer (derived here from the source index: 500 + 137*idx
    mod 2000, spanning 0.5x-2.5x); every doc repeats floor(epochs) times,
    and the fractional remainder is realized by giving exactly
    (frac_milli * n_source_docs) div 1000 docs one extra repeat — chosen
    as the lowest LCG-shuffle ranks, so the extra-repeat subset is a
    deterministic unbiased pseudo-random sample and the realized token
    count hits the target within one doc. Largest-remainder allocation,
    all integer arithmetic.

    Scale: rank and count are per-source windows (parallel across
    sources); no global order, no shuffle beyond the one partition-by-
    source exchange. The plan emits (doc_id, n_repeats) — the repeat
    explode happens at shard-write time (operators/shard.py), so the plan
    itself never materializes duplicated text."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        ((F.col("doc_id") * _A + _C) % _M).alias("k"),
        (
            F.lit(500)
            + (F.expr("CAST(substr(source, 4) AS BIGINT)") * 137) % 2000
        ).alias("em"),
    )
    r = docs.select(
        "doc_id",
        "source",
        "em",
        F.row_number()
        .over(Window.partitionBy("source").orderBy("k", "doc_id"))
        .alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("source")).alias("n_src"),
    )
    return r.select(
        "doc_id",
        "source",
        (
            F.expr("em div 1000")
            + F.when(
                F.col("rn") <= F.expr("((em % 1000) * n_src) div 1000"), F.lit(1)
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("n_repeats"),
    )


_KFOLD_SQL = f"""
SELECT {_lcg_sql("user_id", 5, seed=11)} AS fold, event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_groups
FROM events GROUP BY 1, 2
"""


@q("sample_group_kfold", _KFOLD_SQL)
def sample_group_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP-aware k-fold assignment (k=5, seed 11): the fold is a
    deterministic LCG hash of the GROUP key (user_id), never the row — so
    every row of a user lands in the same fold and cross-validation can't
    leak a user's behavior between train and validation splits (the
    classic leakage bug row-level splitting causes on entity-correlated
    data). Emits the per-(fold, event_type) census; the fold expression is
    the same hash family as every other split in the engine, so splits
    compose consistently.

    Scale: the fold key is a per-row projection (no shuffle beyond the
    census aggregate); fold membership needs no group table — any executor
    can recompute any row's fold from the key alone."""
    e = load(spark, sf_dir, "events")
    return (
        e.withColumn("fold", lcg_bucket(F.col("user_id"), 5, seed=11))
        .groupBy("fold", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_groups"),
        )
    )


_TEMP_ALPHA_MILLI = 700  # alpha = 0.7 — the multinomial temperature exponent


_TEMP_SQL = f"""
WITH sizes AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(SUM(length(text)) AS BIGINT) AS n_chars
  FROM documents GROUP BY 1
),
weighted AS (
  SELECT source, n_docs, n_chars,
         CAST(ROUND(pow(n_chars, {_TEMP_ALPHA_MILLI / 1000.0}) * 1000000) AS BIGINT) AS w_micro
  FROM sizes
),
scaled AS (
  SELECT source, n_docs, n_chars, w_micro,
         CAST((w_micro * 1000000) // n_chars AS BIGINT) AS rate_scaled
  FROM weighted
),
tot AS (SELECT CAST(SUM(w_micro) AS BIGINT) AS w_total,
               CAST(MAX(rate_scaled) AS BIGINT) AS peak
        FROM scaled),
rates AS (
  SELECT source, n_docs, n_chars, w_micro,
         CAST((w_micro * 1000000) // ((SELECT w_total FROM tot)) AS BIGINT) AS share_ppm,
         CAST(LEAST((rate_scaled * 1000000) // ((SELECT peak FROM tot)), 1000000) AS BIGINT) AS keep_ppm
  FROM scaled
)
SELECT r.source, r.n_docs, r.share_ppm, r.keep_ppm,
       CAST(count(*) FILTER (WHERE {_lcg_sql("d.doc_id", 1000000, seed=23)} < r.keep_ppm) AS BIGINT) AS n_kept
FROM rates r JOIN documents d USING (source)
GROUP BY r.source, r.n_docs, r.share_ppm, r.keep_ppm
"""


@q("mix_temperature_sample", _TEMP_SQL)
def mix_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source mixing (the size^alpha multinomial reweigh
    used for multilingual/multi-domain pretraining mixes, alpha = 0.7):
    each source's target share is proportional to its byte count raised to
    alpha — big sources are down-weighted, small ones boosted relative to
    proportional sampling. The per-DOC realization normalizes each
    source's per-byte rate by the peak source (which keeps 100%) and
    admits docs whose LCG ppm bucket falls under the source's keep rate —
    deterministic membership, verified per source.

    One pow() per SOURCE (not per row), immediately micro-integerized;
    from there EVERY step is 64-bit integer arithmetic — rate_scaled =
    w_micro*1e6 div n_chars, keep_ppm = rate_scaled*1e6 div peak — so
    Spark and DuckDB agree bit-for-bit (a double rate/peak division here
    would hit DuckDB's round-to-nearest CAST vs Spark's truncating cast on
    fractional keep rates; r5 ADVICE found the prior version's peak was
    computed at 1x scale vs the 1e6x numerator, saturating every source at
    keep_ppm=1e6 and silently disabling the subsample). One aggregate over
    the corpus, one broadcast-size rate table joined back — the mix costs
    a scan."""
    docs = load(spark, sf_dir, "documents")
    sizes = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.length("text")).cast("long").alias("n_chars"),
    )
    weighted = sizes.withColumn(
        "w_micro",
        F.round(F.pow(F.col("n_chars"), F.lit(_TEMP_ALPHA_MILLI / 1000.0)) * 1_000_000)
        .cast("long"),
    )
    scaled = weighted.withColumn(
        "rate_scaled", F.expr("CAST((w_micro * 1000000) div n_chars AS BIGINT)")
    )
    tot = scaled.agg(
        F.sum("w_micro").cast("long").alias("w_total"),
        F.max("rate_scaled").cast("long").alias("peak"),
    )
    rates = scaled.crossJoin(tot).select(
        "source",
        "n_docs",
        F.expr("CAST((w_micro * 1000000) div w_total AS BIGINT)").alias("share_ppm"),
        F.expr(
            "CAST(LEAST((rate_scaled * 1000000) div peak, 1000000) AS BIGINT)"
        ).alias("keep_ppm"),
    )
    kept = F.when(
        lcg_bucket(F.col("doc_id"), 1_000_000, seed=23) < F.col("keep_ppm"), 1
    ).otherwise(0)
    return (
        docs.join(rates, "source")
        .groupBy("source", "n_docs", "share_ppm", "keep_ppm")
        .agg(F.sum(kept).cast("long").alias("n_kept"))
    )
