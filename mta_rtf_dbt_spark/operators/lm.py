"""Statistical language-model scoring over the corpus: n-gram counts and a
CCNet-style add-one-smoothed unigram log-probability quality signal.

The CCNet / Common-Crawl pipelines rank documents by LM perplexity against
an in-domain model and keep the low-perplexity tail; the distributable core
of that is (1) a corpus token-frequency model and (2) a per-document average
log-probability under it. Both are pure DataFrame shapes (the reference
project has no LM stage — this extends the engine's 100 TB training-data
mission, SCALE.md §textprep):

- **ngram_counts** — corpus-level n-gram frequency table with a
  deterministic top-k cut (count desc, gram asc). One explode + one hash
  agg; the standard first artifact of corpus analysis and the input to
  KenLM-style model training.
- **lm_unigram_scores** — per-doc mean token log-prob under the add-one
  smoothed corpus unigram model: p(tok) = (c+1)/(N+V). Per-token log-probs
  are integerized to round(lp·1e6) BEFORE summing (ln() agrees across
  engines only to ~1ulp; bigint sums are order-free, so the per-doc result
  is hash-exact — the tfidf discipline). The frequency model is one shuffle
  on the token key; the scoring join is token-keyed and AQE broadcasts it
  when the vocab fits.

Scale: vocab grows ~O(corpus^0.5-0.7) (Heaps' law) — at 100 TB the unigram
table is millions of rows, far under shuffle scale; the expensive side
(per-doc token explode) shuffles once on the token key and once on doc_id.
No collects, no Python in the row path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mta_rtf_dbt_spark.functions import text as T
from mta_rtf_dbt_spark.registry import persist, q
from mta_rtf_dbt_spark.sources.registry import load, spread

_ARR_SQL = (
    "list_filter(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),"
    " x -> x <> '')"
)


def ngram_counts(docs: DataFrame, n: int = 2, top_k: int | None = 100) -> DataFrame:
    """(gram, c) corpus n-gram counts; deterministic top-k by
    (c desc, gram asc) when ``top_k`` is set. All n-grams counted (not
    per-doc distinct) — these are LM training counts, not shingles."""
    docs = spread(docs)
    grams = docs.filter(F.size(T.tokens(T.normalize(F.col("text")))) >= n).select(
        F.explode(T.word_ngrams(F.col("text"), n)).alias("gram")
    )
    counts = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("c"))
    if top_k is not None:
        counts = counts.orderBy(F.col("c").desc(), F.col("gram").asc()).limit(top_k)
    return counts


@q(
    "corpus_ngram_counts",
    f"""
    WITH toks AS (SELECT {_ARR_SQL} AS arr FROM documents),
    grams AS (
      SELECT unnest(list_transform(generate_series(1, greatest(len(arr)-1, 1)),
                                   i -> arr[i] || ' ' || arr[i+1])) AS gram
      FROM toks WHERE len(arr) >= 2
    )
    SELECT gram, COUNT(*) AS c FROM grams GROUP BY 1
    ORDER BY c DESC, gram ASC LIMIT 100
    """,
)
def corpus_ngram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 corpus bigrams. The (count desc, gram asc) total order makes
    the cut deterministic, so membership is oracle-checked exactly."""
    return ngram_counts(load(spark, sf_dir, "documents"), 2, 100)


def unigram_model(docs: DataFrame) -> DataFrame:
    """(token, c, micro_lp): add-one smoothed unigram log-probs, integerized
    to round(ln((c+1)/(N+V))·1e6). N (total tokens) and V (vocab size) ride
    a broadcast 1-row crossJoin — the scalar-subquery idiom."""
    docs = spread(docs)
    toks = docs.select(
        F.explode(T.tokens(T.normalize(F.col("text")))).alias("token")
    )
    freq = toks.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    totals = freq.agg(
        F.sum("c").alias("n_total"), F.count(F.lit(1)).alias("v_size")
    )
    return (
        freq.crossJoin(totals)
        .select(
            "token",
            "c",
            F.round(
                F.log(
                    (F.col("c") + F.lit(1)).cast("double")
                    / (F.col("n_total") + F.col("v_size")).cast("double")
                )
                * 1_000_000
            )
            .cast("long")
            .alias("micro_lp"),
        )
    )


def lm_score(docs: DataFrame, model: DataFrame) -> DataFrame:
    """Per-doc (n_tokens, sum_micro_lp, avg_micro_lp) under ``model``
    ((token, micro_lp)). Tokens absent from the model contribute the
    smoothed-unseen floor only if the caller appends one — in-corpus scoring
    (this entry) covers every token by construction. avg is the bigint
    micro-sum divided once and rounded once: hash-exact."""
    toks = spread(docs).select(
        "doc_id", F.explode(T.tokens(T.normalize(F.col("text")))).alias("token")
    )
    return (
        toks.join(model.select("token", "micro_lp"), "token")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("micro_lp").cast("long").alias("sum_micro_lp"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "sum_micro_lp",
            F.round(F.col("sum_micro_lp").cast("double") / F.col("n_tokens"))
            .cast("long")
            .alias("avg_micro_lp"),
        )
    )


@q(
    "lm_unigram_scores",
    f"""
    WITH toks AS (SELECT doc_id, {_ARR_SQL} AS arr FROM documents),
    tok AS (SELECT doc_id, unnest(arr) AS token FROM toks),
    freq AS (SELECT token, COUNT(*) AS c FROM tok GROUP BY 1),
    totals AS (SELECT SUM(c) AS n_total, COUNT(*) AS v_size FROM freq),
    model AS (
      SELECT token,
             CAST(ROUND(ln((c + 1.0) / (n_total + v_size)) * 1000000) AS BIGINT) AS micro_lp
      FROM freq, totals
    )
    SELECT doc_id,
           COUNT(*) AS n_tokens,
           CAST(SUM(micro_lp) AS BIGINT) AS sum_micro_lp,
           CAST(ROUND(SUM(micro_lp) * 1.0 / COUNT(*)) AS BIGINT) AS avg_micro_lp
    FROM tok JOIN model USING (token)
    GROUP BY doc_id
    """,
)
def lm_unigram_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style quality signal: every document scored by its mean token
    log-prob under the corpus's own smoothed unigram model (low = fluent /
    typical, very high magnitude = gibberish or out-of-domain)."""
    docs = load(spark, sf_dir, "documents")
    return lm_score(docs, unigram_model(docs))


@q(
    "lm_ccnet_buckets",
    f"""
    WITH toks AS (SELECT doc_id, {_ARR_SQL} AS arr FROM documents),
    tok AS (SELECT doc_id, unnest(arr) AS token FROM toks),
    freq AS (SELECT token, COUNT(*) AS c FROM tok GROUP BY 1),
    totals AS (SELECT SUM(c) AS n_total, COUNT(*) AS v_size FROM freq),
    model AS (
      SELECT token,
             CAST(ROUND(ln((c + 1.0) / (n_total + v_size)) * 1000000) AS BIGINT) AS micro_lp
      FROM freq, totals
    ),
    scored AS (
      SELECT doc_id, COUNT(*) AS n_tokens,
             CAST(ROUND(SUM(micro_lp) * 1.0 / COUNT(*)) AS BIGINT) AS avg_micro_lp
      FROM tok JOIN model USING (token) GROUP BY doc_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (ORDER BY avg_micro_lp DESC, doc_id) AS rn,
             count(*) OVER () AS n
      FROM scored
    ),
    bucketed AS (
      SELECT *, CASE WHEN rn <= n // 3 THEN 'head'
                     WHEN rn <= (2 * n) // 3 THEN 'middle'
                     ELSE 'tail' END AS bucket
      FROM ranked
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS tokens_total,
           MIN(avg_micro_lp) AS min_avg_micro_lp,
           MAX(avg_micro_lp) AS max_avg_micro_lp
    FROM bucketed GROUP BY bucket
    """,
)
def lm_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail split: rank every document by its unigram
    LM score (best = most fluent first) and cut the corpus into thirds —
    head feeds pretraining as-is, middle gets a second look, tail is
    dropped. The ranking key is the already-integerized avg_micro_lp with
    a doc_id tiebreak, so the cut membership is engine-exact.

    Scale: the global rank over per-doc scores uses the two-phase prefix
    sum (range buckets over broadcast min/max of the score, per-bucket
    row_number, bucket offsets ordered score-descending) — the
    score relation is doc-count-sized, but at corpus scale that is still
    billions of rows, so no single-partition sort here either."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    scored = lm_score(docs, unigram_model(docs)).select(
        "doc_id", "n_tokens", "avg_micro_lp"
    )
    scored = persist(scored, eager=True)
    nb = 64
    bounds = scored.agg(
        F.min("avg_micro_lp").alias("lo"), F.max("avg_micro_lp").alias("hi")
    )
    pre = scored.crossJoin(bounds).withColumn(
        "pbucket",
        F.expr(f"(avg_micro_lp - lo) * {nb} div (hi - lo + 1)"),
    )
    wloc = Window.partitionBy("pbucket").orderBy(
        F.col("avg_micro_lp").desc(), "doc_id"
    )
    local = pre.withColumn("lrn", F.row_number().over(wloc))
    offs = (
        local.groupBy("pbucket")
        .agg(F.count(F.lit(1)).alias("bn"))
        .withColumn(
            "boffset",
            F.coalesce(
                F.sum("bn").over(
                    Window.orderBy(F.col("pbucket").desc()).rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .withColumn("n", F.sum("bn").over(Window.partitionBy()))
        .select("pbucket", "boffset", "n")
    )
    ranked = local.join(offs, "pbucket").withColumn(
        "rn", F.col("boffset") + F.col("lrn")
    )
    bucket = (
        F.when(F.col("rn") <= F.expr("n div 3"), F.lit("head"))
        .when(F.col("rn") <= F.expr("(2 * n) div 3"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return ranked.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("tokens_total"),
        F.min("avg_micro_lp").alias("min_avg_micro_lp"),
        F.max("avg_micro_lp").alias("max_avg_micro_lp"),
    )


@q(
    "lm_vocab_drift_kl",
    f"""
    WITH toks AS (SELECT doc_id, {_ARR_SQL} AS arr FROM documents),
    tok AS (SELECT doc_id % 2 AS slice, unnest(arr) AS token FROM toks),
    c AS (SELECT slice, token, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY 1, 2),
    v AS (SELECT CAST(count(DISTINCT token) AS BIGINT) AS vsize FROM c),
    t AS (SELECT slice, CAST(sum(n) AS BIGINT) AS total FROM c GROUP BY 1),
    grid AS (
      SELECT token,
             COALESCE(MAX(CASE WHEN slice = 0 THEN n END), 0) AS n0,
             COALESCE(MAX(CASE WHEN slice = 1 THEN n END), 0) AS n1
      FROM c GROUP BY token
    ),
    terms AS (
      SELECT g.token, g.n0, g.n1,
             CAST(ROUND((g.n0 + 1.0) / (t0.total + v.vsize)
                  * ln(((g.n0 + 1.0) / (t0.total + v.vsize))
                       / ((g.n1 + 1.0) / (t1.total + v.vsize))) * 1000000000) AS BIGINT)
               AS kl_term_nano
      FROM grid g CROSS JOIN v
      JOIN t t0 ON t0.slice = 0
      JOIN t t1 ON t1.slice = 1
    )
    SELECT CAST(count(*) AS BIGINT) AS n_terms,
           CAST(sum(kl_term_nano) AS BIGINT) AS kl_nano_nats,
           CAST(count(*) FILTER (WHERE n0 = 0 OR n1 = 0) AS BIGINT) AS n_one_sided
    FROM terms
    """,
)
def lm_vocab_drift_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary DRIFT between two corpus slices (doc_id parity stands in
    for yesterday-vs-today): KL(P_slice0 || P_slice1) over add-one-smoothed
    unigram distributions — the distribution-shift alarm a dataset monitor
    raises before a model trained on slice 0 meets slice 1. Each term's
    p*ln(p/q) contribution is nano-integerized individually (one ln per
    term, the float-hash discipline) and the divergence is the order-free
    bigint sum; one-sided terms (present in only one slice, where
    unsmoothed KL diverges) are counted separately as the interpretable
    drift census.

    Scale: one token explode, one (slice, token) aggregate, a vocabulary-
    sized pivot and per-term scalar math — everything after the corpus
    aggregate is vocab-sized (Heaps' law keeps that millions of rows at
    100 TB)."""
    docs = load(spark, sf_dir, "documents")
    tok = spread(docs).select(
        (F.col("doc_id") % 2).alias("slice"),
        F.explode(T.tokens(T.normalize(F.col("text")))).alias("token"),
    )
    c = tok.groupBy("slice", "token").agg(F.count(F.lit(1)).cast("long").alias("n"))
    c = persist(c, eager=True)
    v = c.agg(F.countDistinct("token").cast("long").alias("vsize"))
    t = c.groupBy("slice").agg(F.sum("n").cast("long").alias("total"))
    grid = c.groupBy("token").agg(
        F.coalesce(F.max(F.when(F.col("slice") == 0, F.col("n"))), F.lit(0)).alias("n0"),
        F.coalesce(F.max(F.when(F.col("slice") == 1, F.col("n"))), F.lit(0)).alias("n1"),
    )
    t0 = t.filter(F.col("slice") == 0).select(F.col("total").alias("total0"))
    t1 = t.filter(F.col("slice") == 1).select(F.col("total").alias("total1"))
    terms = (
        grid.crossJoin(v)
        .crossJoin(t0)
        .crossJoin(t1)
        .select(
            "n0",
            "n1",
            F.round(
                (F.col("n0") + 1.0)
                / (F.col("total0") + F.col("vsize"))
                * F.log(
                    ((F.col("n0") + 1.0) / (F.col("total0") + F.col("vsize")))
                    / ((F.col("n1") + 1.0) / (F.col("total1") + F.col("vsize")))
                )
                * 1_000_000_000
            )
            .cast("long")
            .alias("kl_term_nano"),
        )
    )
    return terms.agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.sum("kl_term_nano").cast("long").alias("kl_nano_nats"),
        F.sum(F.when((F.col("n0") == 0) | (F.col("n1") == 0), 1).otherwise(0))
        .cast("long")
        .alias("n_one_sided"),
    )
