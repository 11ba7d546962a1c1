"""Training-corpus preparation operators: test-set decontamination,
repetition scoring, PII redaction, TF-IDF term extraction, and sequence
packing.

These are the corpus-hygiene stages a large-scale LLM data pipeline runs
between raw ingestion and tokenization (the reference project stops at BI
metrics; this module extends the engine toward its 100 TB training-data
mission — see SCALE.md §textprep):

- **decontaminate** — n-gram containment of held-out docs inside training
  docs (the standard eval-leakage check). Asymmetric variant of the
  inverted-index Jaccard join in :mod:`operators.dedup`, same hot-shingle
  cap, same scale shape: one shuffle on the shingle key.
- **repetition** — intra-document repeated n-gram ratio (Gopher-style
  quality filter: boilerplate/spam has high repetition).
- **pii_scrub** — deterministic regex redaction of emails / phone numbers /
  IPv4 addresses with per-doc match counts. Patterns restricted to the
  RE2-compatible subset so the DuckDB oracle evaluates the identical regex.
- **tfidf_top_terms** — corpus document frequency + per-doc top-k terms by
  tf·idf. Scores are compared as round(score·1e6) integers (the engine's
  float-hash discipline for ln()-derived values).
- **pack_sequences** — assign documents to fixed-capacity training
  sequences by cumulative token count over a deterministic document order
  (the concat-then-chunk packing used for pretraining batches). Implemented
  as a two-phase distributed prefix sum, not a single-partition window.

All Column-expression / built-in-function code; no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mta_rtf_dbt_spark.functions import text as T
from mta_rtf_dbt_spark.operators.dedup import shingles
from mta_rtf_dbt_spark.registry import persist, q
from mta_rtf_dbt_spark.sources.registry import load, spread

_NORM_SQL = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_SHINGLE_SQL = """
    toks AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') arr
             FROM documents),
    sh AS (SELECT DISTINCT doc_id,
             unnest(list_transform(generate_series(1, greatest(len(arr)-2,1)),
                                   i -> arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2])) AS shingle
           FROM toks WHERE len(arr) >= 3)
"""


# ---------------------------------------------------------------------------
# Decontamination — n-gram containment of held-out docs in training docs.
# ---------------------------------------------------------------------------
def contamination_pairs(
    test_sh: DataFrame, train_sh: DataFrame, threshold: float = 0.5,
    max_posting: int | None = 1000,
) -> DataFrame:
    """(test_doc, train_doc, containment) for every pair where the share of
    the test doc's distinct shingles also present in the train doc reaches
    ``threshold``. Containment (not Jaccard): a short eval prompt fully
    embedded in a long training doc scores 1.0 regardless of the train doc's
    size — exactly the leakage case dedup's symmetric measure under-scores.

    Scale (r6 grouped-postings shape): the two posting relations take ONE
    map-combined groupBy on the shingle key into per-shingle doc LISTS
    (test side and train side as two conditional collect_lists of the
    tagged union), the hot cap (df >= max_posting across both relations)
    becomes a length filter on the grouped row — no second pass, no
    broadcast — and the pair counts come from exploding t x r per shingle
    MAP-SIDE into a partially-aggregated (test_doc, train_doc) count. Net:
    one wide exchange of the posting relation + one exchange of the
    (already combined) pair counts. The previous shape sort-merge-joined
    two string-keyed posting relations (two wide sorts) and then shuffled
    the raw pair triples; at sf0.1 that join dominated the curation
    funnel. The explode volume (sum over shingles of t_df * r_df) is
    identical in both shapes and bounded by the cap — the cap is what
    keeps corpus boilerplate from going quadratic at 100 TB. Per-group
    list size is bounded by max_posting, so grouped rows stay small."""
    if max_posting is not None:
        allsh = test_sh.withColumn("__side", F.lit("t")).unionAll(
            train_sh.withColumn("__side", F.lit("r"))
        )
        return _contamination_grouped(allsh, threshold, max_posting)
    else:
        test_cnt = test_sh.groupBy("doc_id").agg(F.count("*").alias("n_test"))
        common = (
            test_sh.alias("t")
            .join(train_sh.alias("r"), F.col("t.shingle") == F.col("r.shingle"))
            .groupBy(
                F.col("t.doc_id").alias("test_doc"),
                F.col("r.doc_id").alias("train_doc"),
            )
            .agg(F.count("*").alias("n_common"))
        )
    return _contamination_finish(common, test_cnt, threshold)


def _contamination_grouped(
    allsh: DataFrame, threshold: float, max_posting: int
) -> DataFrame:
    """The grouped-postings containment body over a side-TAGGED shingle
    relation (``doc_id, shingle, __side`` with 't'/'r'). Callers whose two
    sides partition ONE shingle relation by a doc_id predicate (the
    decontaminate entry) tag in a single narrow pass instead of a
    two-filter unionAll — one scan of the shingle pipeline, no persist,
    and the df cap (len(t)+len(r) < max_posting) equals the full-relation
    df cap exactly because the sides partition it."""
    g = allsh.groupBy("shingle").agg(
        F.collect_list(F.when(F.col("__side") == "t", F.col("doc_id"))).alias(
            "t_docs"
        ),
        F.collect_list(F.when(F.col("__side") == "r", F.col("doc_id"))).alias(
            "r_docs"
        ),
    ).filter(F.size("t_docs") + F.size("r_docs") < max_posting)
    # both consumers below read the same grouped exchange — Spark's
    # ReusedExchange dedupes the wide shuffle inside one action
    test_cnt = (
        g.select(F.explode("t_docs").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_test"))
    )
    common = (
        g.filter((F.size("t_docs") > 0) & (F.size("r_docs") > 0))
        .select(
            F.explode("t_docs").alias("test_doc"), F.col("r_docs")
        )
        .select("test_doc", F.explode("r_docs").alias("train_doc"))
        .groupBy("test_doc", "train_doc")
        .agg(F.count("*").alias("n_common"))
    )
    return _contamination_finish(common, test_cnt, threshold)


def _contamination_finish(
    common: DataFrame, test_cnt: DataFrame, threshold: float
) -> DataFrame:
    return (
        common.join(
            test_cnt.select(F.col("doc_id").alias("test_doc"), "n_test"),
            "test_doc",
        )
        .select(
            "test_doc",
            "train_doc",
            "n_common",
            F.round(F.col("n_common") / F.col("n_test"), 6).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


@q(
    "text_decontaminate",
    f"""
    WITH {_SHINGLE_SQL},
    capped AS (SELECT doc_id, shingle FROM (
                 SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS df
                 FROM sh) WHERE df < 1000),
    test_sh AS (SELECT * FROM capped WHERE doc_id % 10 = 0),
    train_sh AS (SELECT * FROM capped WHERE doc_id % 10 <> 0),
    test_cnt AS (SELECT doc_id, count(*) n_test FROM test_sh GROUP BY 1),
    common AS (SELECT t.doc_id test_doc, r.doc_id train_doc, count(*) n_common
               FROM test_sh t JOIN train_sh r ON t.shingle = r.shingle
               GROUP BY 1, 2)
    SELECT test_doc, train_doc, n_common,
           ROUND(n_common * 1.0 / n_test, 6) AS containment
    FROM common JOIN test_cnt tc ON tc.doc_id = test_doc
    WHERE n_common * 1.0 / n_test >= 0.5
    """,
)
def text_decontaminate(spark, sf_dir):
    """Eval-leakage check over documents: held-out set = doc_id % 10 == 0,
    flag test docs whose distinct 3-gram shingles are >= 50% contained in
    any training doc.

    Shape (r11): ONE narrow pass tags each shingle row with its side
    (doc_id mod decides it) and the grouped-postings body does the rest —
    the per-shingle group carries both sides' doc lists, the df < 1000
    hot-shingle cap is the group-size filter (the sides PARTITION the
    corpus, so len(t)+len(r) is exactly the full-relation df the previous
    pre-cap computed), and pair counts explode t x r map-side into the
    combined aggregate. The former shape persisted the shingle relation,
    ran a separate df aggregate plus a broadcast anti-join, and then
    sort-merge-joined the two capped sides (two wide sorts); all of that
    collapses into the single grouped exchange. Same rows out — the
    entry's oracle is unchanged and still green."""
    sh = shingles(load(spark, sf_dir, "documents"), 3)
    tagged = sh.withColumn(
        "__side", F.when(F.col("doc_id") % 10 == 0, F.lit("t")).otherwise(F.lit("r"))
    )
    return _contamination_grouped(tagged, 0.5, 1000)


# ---------------------------------------------------------------------------
# Bloom-filter decontamination (r5) — the broadcast-screening scale path in
# front of the exact containment join above. The held-out shingle set is
# folded into an m-bit Bloom filter (k affine position hashes over the
# portable polynomial shingle hash); training shingles probe the filter and
# a doc is screened iff ALL k positions of some shingle are set. At 100 TB
# the filter is a few KB broadcast to every executor — the held-out relation
# itself never shuffles against the training side, and only screened docs
# (a tiny fraction) proceed to the exact containment verify. One-sided
# error: a shingle actually present in the held-out set always hits
# (no false negatives — asserted with planted docs in test_textprep);
# false-positive hits are deterministic given the hash family, so the
# whole screen is engine-reproducible and driver hash-checked.
# ---------------------------------------------------------------------------
BLOOM_M = 16384  # filter bits (2 KB) — broadcast cost at scale
BLOOM_SEEDS = [(1_103_515_245, 12_345), (69_069, 362_437), (214_013, 2_531_011)]
_BLOOM_K = len(BLOOM_SEEDS)


def bloom_screen(
    sh: DataFrame, heldout_pred, min_hit_shingles: int = 1
) -> DataFrame:
    """Screen training docs against a Bloom filter of held-out shingles.

    ``sh``: (doc_id, shingle) relation; ``heldout_pred``: Column predicate
    over doc_id selecting the held-out side. Returns per-training-doc
    (doc_id, n_shingles, n_bloom_hits, hit_ppm) for docs with at least
    ``min_hit_shingles`` hit shingles.

    Shape: ONE shingle-hash projection feeds both sides; the filter side
    collapses to <= m distinct set-bit positions (broadcast), the probe side
    explodes k positions per shingle and semi-joins the broadcast bit set —
    a shingle hits iff all k of its exploded entries match. No shuffle
    carries the held-out relation; the only wide exchange is the training
    side's per-doc aggregate."""
    hb = sh.select("doc_id", T.poly_hash(F.col("shingle")).alias("hb"))
    hb = persist(hb, eager=True)
    pos_arr = F.array(
        *[
            F.pmod(F.pmod(F.col("hb") * a + b, F.lit(T.POLY_MOD)), F.lit(BLOOM_M))
            for a, b in BLOOM_SEEDS
        ]
    )
    bits = (
        hb.filter(heldout_pred(F.col("doc_id")))
        .select(F.explode(pos_arr).alias("pos"))
        .distinct()
    )
    probe = (
        hb.filter(~heldout_pred(F.col("doc_id")))
        .select("doc_id", "hb", F.explode(pos_arr).alias("pos"))
    )
    hit_shingles = (
        probe.join(bits, "pos", "left_semi")
        .groupBy("doc_id", "hb")
        .agg(F.count(F.lit(1)).alias("n_set"))
        .filter(F.col("n_set") == _BLOOM_K)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_bloom_hits"))
    )
    totals = hb.filter(~heldout_pred(F.col("doc_id"))).groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles")
    )
    return (
        totals.join(hit_shingles, "doc_id")
        .filter(F.col("n_bloom_hits") >= min_hit_shingles)
        .select(
            "doc_id",
            "n_shingles",
            "n_bloom_hits",
            F.expr("CAST(n_bloom_hits * 1000000L div n_shingles AS BIGINT)").alias(
                "hit_ppm"
            ),
        )
    )


def _bloom_oracle_sql() -> str:
    seed_rows = ", ".join(f"({a}, {b})" for a, b in BLOOM_SEEDS)
    P = T.POLY_MOD
    return f"""
    WITH {_SHINGLE_SQL},
    uniq AS (SELECT DISTINCT shingle FROM sh),
    base AS (SELECT shingle,
               list_reduce(
                 list_prepend(CAST(0 AS BIGINT),
                   list_transform(generate_series(1, length(shingle)),
                                  i -> CAST(ascii(substring(shingle, i, 1)) AS BIGINT))),
                 (acc, c) -> (acc * {T.POLY_BASE} + c) % {P}) AS hb
             FROM uniq),
    hsh AS (SELECT s.doc_id, b.hb FROM sh s JOIN base b USING (shingle)),
    seeds(a, b) AS (VALUES {seed_rows}),
    pos AS (SELECT doc_id, hb, ((hb * seeds.a + seeds.b) % {P}) % {BLOOM_M} AS pos
            FROM hsh CROSS JOIN seeds),
    bits AS (SELECT DISTINCT pos FROM pos WHERE doc_id % 10 = 0),
    probe AS (SELECT * FROM pos WHERE doc_id % 10 <> 0),
    hits AS (SELECT doc_id, hb
             FROM probe JOIN bits USING (pos)
             GROUP BY doc_id, hb HAVING COUNT(*) = {_BLOOM_K}),
    doc_hits AS (SELECT doc_id, COUNT(*) AS n_bloom_hits FROM hits GROUP BY 1),
    totals AS (SELECT doc_id, COUNT(*) AS n_shingles FROM hsh
               WHERE doc_id % 10 <> 0 GROUP BY 1)
    SELECT t.doc_id, CAST(t.n_shingles AS BIGINT) AS n_shingles,
           CAST(h.n_bloom_hits AS BIGINT) AS n_bloom_hits,
           CAST(h.n_bloom_hits * 1000000 // t.n_shingles AS BIGINT) AS hit_ppm
    FROM totals t JOIN doc_hits h USING (doc_id)
    WHERE h.n_bloom_hits >= 1
    """


@q("text_bloom_decontaminate", _bloom_oracle_sql())
def text_bloom_decontaminate(spark, sf_dir):
    """Bloom-screen the training split (doc_id % 10 != 0) against the
    held-out split's shingle filter: per-doc Bloom-hit counts and ppm rate,
    deterministic across engines (the DuckDB oracle replays the identical
    polynomial + affine position family). The broadcast-bitmap screening
    stage a 100 TB decontamination job runs before the exact containment
    join (text_decontaminate)."""
    sh = shingles(load(spark, sf_dir, "documents"), 3)
    return bloom_screen(sh, lambda d: d % 10 == 0)


# ---------------------------------------------------------------------------
# Repetition — repeated n-gram ratio (quality filter).
# ---------------------------------------------------------------------------
def repetition_scores(docs: DataFrame, n: int = 3) -> DataFrame:
    """Per-doc repeated n-gram stats over ALL n-grams (not distinct):
    total count, distinct count, repetition ratio 1 - distinct/total, and
    the highest single-gram multiplicity. One explode + one hash agg."""
    docs = spread(docs)
    toks = T.tokens(T.normalize(F.col("text")))
    grams = docs.filter(F.size(toks) >= n).select(
        "doc_id", F.explode(T.word_ngrams(F.col("text"), n)).alias("gram")
    )
    per_gram = grams.groupBy("doc_id", "gram").agg(F.count("*").alias("c"))
    return per_gram.groupBy("doc_id").agg(
        F.sum("c").alias("n_grams"),
        F.count("*").alias("n_distinct"),
        F.round(F.lit(1) - F.count("*") / F.sum("c"), 6).alias("rep_ratio"),
        F.max("c").alias("top_gram_count"),
    )


@q(
    "text_repetition",
    """
    WITH toks AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') arr
                  FROM documents),
    grams AS (SELECT doc_id,
                unnest(list_transform(generate_series(1, greatest(len(arr)-2,1)),
                                      i -> arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2])) AS gram
              FROM toks WHERE len(arr) >= 3),
    per_gram AS (SELECT doc_id, gram, count(*) c FROM grams GROUP BY 1, 2)
    SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_grams, COUNT(*) AS n_distinct,
           ROUND(1 - COUNT(*) * 1.0 / SUM(c), 6) AS rep_ratio,
           MAX(c) AS top_gram_count
    FROM per_gram GROUP BY doc_id
    """,
)
def text_repetition(spark, sf_dir):
    """Gopher-style repetition filter signal: high rep_ratio / top_gram_count
    marks boilerplate and spam before expensive dedup."""
    return repetition_scores(load(spark, sf_dir, "documents"), 3)


# ---------------------------------------------------------------------------
# PII scrub — deterministic regex redaction (RE2-compatible patterns).
# ---------------------------------------------------------------------------
PII_PATTERNS = {
    # RE2-safe subset (no lookaround/backrefs) so Spark (Java regex) and the
    # DuckDB oracle (RE2) evaluate identical semantics
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+?[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}",
    "ipv4": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
}


def pii_scrub(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Redact emails/phones/IPv4s to <KIND> placeholders; count matches per
    kind per doc. Order matters (emails first — an email contains dots that
    the ipv4 pattern must not see after redaction)."""
    c = F.col(text_col)
    counts = {
        kind: F.regexp_count(c, F.lit(pat)).alias(f"n_{kind}")
        for kind, pat in PII_PATTERNS.items()
    }
    red = c
    for kind in ("email", "phone", "ipv4"):
        red = F.regexp_replace(red, PII_PATTERNS[kind], f"<{kind.upper()}>")
    return docs.select(
        "doc_id", *counts.values(), red.alias("clean_text")
    )


_PII_SQL_RED = (
    "regexp_replace(regexp_replace(regexp_replace(text, "
    f"'{PII_PATTERNS['email']}', '<EMAIL>', 'g'), "
    f"'{PII_PATTERNS['phone']}', '<PHONE>', 'g'), "
    f"'{PII_PATTERNS['ipv4']}', '<IPV4>', 'g')"
)


@q(
    "text_pii_scrub",
    f"""
    SELECT doc_id,
           len(regexp_extract_all(text, '{PII_PATTERNS["email"]}')) AS n_email,
           len(regexp_extract_all(text, '{PII_PATTERNS["phone"]}')) AS n_phone,
           len(regexp_extract_all(text, '{PII_PATTERNS["ipv4"]}')) AS n_ipv4,
           {_PII_SQL_RED} AS clean_text
    FROM documents
    """,
)
def text_pii_scrub(spark, sf_dir):
    """PII redaction pass over the corpus (counts + cleaned text). The
    testdata corpus contains no PII, so the driver check verifies the
    no-match identity path; planted-PII behavior is unit-tested."""
    return pii_scrub(load(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# TF-IDF top terms.
# ---------------------------------------------------------------------------
def tfidf_top_terms(docs: DataFrame, k: int = 3) -> DataFrame:
    """Top-k terms per doc by tf·idf (idf = ln(N/df), df = docs containing
    the term). Ranking key is round(tf·idf·1e6) as an integer with a token
    tiebreak — ln() is IEEE-correctly-rounded on both engines only to ~1ulp,
    so ranks and outputs use the micro-scaled integer, never the raw float.

    Scale: one explode + two hash aggs + a broadcast of the 1-row corpus
    count; the per-doc top-k window partitions on doc_id (no global sort)."""
    docs = spread(docs)
    toks = docs.select(
        "doc_id", F.explode(T.tokens(T.normalize(F.col("text")))).alias("token")
    )
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count("*").alias("df_docs"))
    n_docs = docs.agg(F.countDistinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(dfreq, "token")
        .crossJoin(n_docs)
        .withColumn(
            "score_micro",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df_docs")) * 1e6
            ).cast("long"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score_micro").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("doc_id", "token", "tf", "df_docs", "score_micro", F.col("rnk").alias("rnk"))
    )


@q(
    "text_tfidf_top_terms",
    """
    WITH toks AS (SELECT doc_id, unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS token
                  FROM documents),
    tf AS (SELECT doc_id, token, count(*) tf FROM toks WHERE token <> '' GROUP BY 1, 2),
    dfreq AS (SELECT token, count(*) df_docs FROM tf GROUP BY 1),
    n AS (SELECT count(DISTINCT doc_id) n_docs FROM documents),
    scored AS (SELECT doc_id, token, tf, df_docs,
                      CAST(ROUND(tf * ln(n_docs * 1.0 / df_docs) * 1000000) AS BIGINT) AS score_micro
               FROM tf JOIN dfreq USING (token) CROSS JOIN n),
    ranked AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                          ORDER BY score_micro DESC, token ASC) AS rnk
               FROM scored)
    SELECT doc_id, token, tf, df_docs, score_micro, rnk FROM ranked WHERE rnk <= 3
    """,
)
def text_tfidf_top_terms(spark, sf_dir):
    """Characteristic-term extraction per document (tf·idf top-3)."""
    return tfidf_top_terms(load(spark, sf_dir, "documents"), 3)


# ---------------------------------------------------------------------------
# Sequence packing — concat-then-chunk assignment for training batches.
# ---------------------------------------------------------------------------
def pack_sequences(
    docs: DataFrame, max_len: int = 512, bucket_size: int = 256
) -> DataFrame:
    """Assign each doc a position in the concatenated token stream (doc_id
    order) and derive its training-sequence id: seq_id = global_start //
    max_len (concat-then-chunk packing — docs may straddle a boundary, as
    in pretraining batch assembly; all outputs are integers, hash-exact).

    Scale: a naive ``SUM OVER (ORDER BY doc_id)`` is a single-partition
    window. This is the classic two-phase distributed prefix sum instead:
    phase 1 cumsums within doc_id buckets (parallel windows, one shuffle on
    the bucket key), phase 2 computes per-bucket offsets with a window over
    the tiny bucket-totals relation and broadcasts them back."""
    toks = docs.select(
        "doc_id",
        T.token_count(F.col("text")).alias("n_tokens"),
        (F.col("doc_id") / bucket_size).cast("long").alias("bucket"),
    )
    wloc = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # phase-1 feeds both the bucket totals and the final offset join —
    # persist or the token-count scan runs twice (same fix as shard_plan)
    local = persist(
        toks.withColumn("local_end", F.sum("n_tokens").over(wloc)), eager=True
    )
    btot = local.groupBy("bucket").agg(F.max("local_end").alias("btotal"))
    boff = btot.withColumn(
        "boffset",
        F.coalesce(
            F.sum("btotal").over(
                Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    ).select("bucket", "boffset")
    return (
        local.join(boff, "bucket")
        .select(
            "doc_id",
            "n_tokens",
            (F.col("boffset") + F.col("local_end") - F.col("n_tokens")).alias(
                "global_start"
            ),
        )
        .withColumn("seq_id", (F.col("global_start") / max_len).cast("long"))
        .withColumn("offset_in_seq", F.col("global_start") % max_len)
    )


def chunk_documents(
    docs: DataFrame, size: int = 128, stride: int = 64
) -> DataFrame:
    """Sliding-window chunking over token positions (size tokens per chunk,
    stride tokens apart — the overlap-chunking used for long-context
    training and retrieval indexing). Chunk boundaries are pure integer
    arithmetic on the per-doc token count: one explode, no shuffle, no
    tokenized text materialized (downstream slices the token array with
    the emitted offsets)."""
    toks = docs.select("doc_id", T.token_count(F.col("text")).alias("n_tokens"))
    n_chunks = F.floor((F.col("n_tokens") - 1) / stride) + 1
    return (
        toks.filter(F.col("n_tokens") > 0)
        .select(
            "doc_id",
            "n_tokens",
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.col("chunk_id").cast("long").alias("chunk_id"),
            (F.col("chunk_id") * stride).cast("long").alias("start_tok"),
            F.least(F.col("chunk_id") * stride + size, F.col("n_tokens"))
            .cast("long")
            .alias("end_tok"),
        )
    )


@q(
    "chunk_documents",
    """
    WITH toks AS (
      SELECT doc_id,
             len(list_filter(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' '),
                             x -> x <> '')) AS n_tokens
      FROM documents
    )
    SELECT doc_id, n_tokens,
           CAST(c AS BIGINT) AS chunk_id,
           CAST(c * 64 AS BIGINT) AS start_tok,
           CAST(least(c * 64 + 128, n_tokens) AS BIGINT) AS end_tok
    FROM toks, unnest(generate_series(0, CAST((n_tokens - 1) // 64 AS BIGINT))) AS t(c)
    WHERE n_tokens > 0
    """,
)
def chunk_documents_entry(spark, sf_dir):
    """128-token chunks at stride 64 over the documents corpus."""
    return chunk_documents(load(spark, sf_dir, "documents"), 128, 64)


@q(
    "pack_sequences",
    """
    WITH toks AS (
      SELECT doc_id,
             len(list_filter(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' '),
                             x -> x <> '')) AS n_tokens
      FROM documents
    ),
    pos AS (
      SELECT doc_id, n_tokens,
             CAST(SUM(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS global_start
      FROM toks
    )
    SELECT doc_id, n_tokens, global_start,
           CAST(global_start // 512 AS BIGINT) AS seq_id,
           CAST(global_start % 512 AS BIGINT) AS offset_in_seq
    FROM pos
    """,
)
def pack_sequences_documents(spark, sf_dir):
    """Pack the documents corpus into 512-token training sequences. The
    oracle uses the naive global prefix sum; the engine's two-phase bucket
    cumsum must produce identical positions."""
    return pack_sequences(load(spark, sf_dir, "documents"), 512)


def pack_boundaries(docs: DataFrame, max_len: int = 512) -> DataFrame:
    """(seq_id, n_doc_starts, boundaries): per packed training sequence, the
    sorted in-sequence offsets where a NEW document begins — the metadata a
    trainer turns into loss masks / attention-reset boundaries for
    concat-then-chunk packing. Sequences fully inside one long document
    start no docs and emit no row (their mask is all-continuation).
    Offsets are emitted sorted and '|'-joined — a driver-hashable scalar
    (the array-column canonicalizer lesson from a_array_agg_sorted)."""
    packed = pack_sequences(docs, max_len)
    return (
        packed.groupBy("seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_doc_starts"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("offset_in_seq")),
                    lambda x: x.cast("string"),
                ),
                "|",
            ).alias("boundaries"),
        )
    )


@q(
    "pack_boundaries",
    """
    WITH toks AS (
      SELECT doc_id,
             len(list_filter(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' '),
                             x -> x <> '')) AS n_tokens
      FROM documents
    ),
    pos AS (
      SELECT doc_id, n_tokens,
             CAST(SUM(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS global_start
      FROM toks
    )
    SELECT CAST(global_start // 512 AS BIGINT) AS seq_id,
           CAST(COUNT(*) AS BIGINT) AS n_doc_starts,
           array_to_string(list_sort(list(global_start % 512)), '|') AS boundaries
    FROM pos
    GROUP BY 1
    """,
)
def pack_boundaries_documents(spark, sf_dir):
    """Loss-mask boundary metadata for the 512-token packing of the
    documents corpus, under the same naive-prefix-sum oracle as
    pack_sequences."""
    return pack_boundaries(load(spark, sf_dir, "documents"), 512)


# ---------------------------------------------------------------------------
# Cross-doc duplicated spans — exact substring dedup at token-gram grain.
# ---------------------------------------------------------------------------
DUP_GRAM_N = 8


def duplicated_spans(docs: DataFrame, n: int = DUP_GRAM_N) -> DataFrame:
    """Per-doc coverage of text duplicated ACROSS documents (Lee et al.,
    "Deduplicating Training Data Makes Language Models Better" — the
    substring-dedup signal, here at token n-gram granularity so it's exactly
    SQL-expressible). A position is duplicated when its n-gram occurs in
    >= 2 distinct docs; overlapping duplicated grams merge into spans
    (gaps-and-islands over positions); output is every doc with >= n tokens:
    (doc_id, n_tokens, dup_spans, dup_tokens, dup_ppm).

    Distinct from text_decontaminate (cross-SPLIT containment) and
    text_repetition (WITHIN-doc repeats). Integer outputs only — replay- and
    hash-stable. Scale: one posexplode (|tokens| rows), one gram groupBy,
    one join back, one per-doc window — all shuffles on high-cardinality
    keys; the df>=2 gram list is the only state."""
    from pyspark.sql import Window

    from mta_rtf_dbt_spark.sources.registry import spread

    docs = spread(docs)
    toks = T.tokens(T.normalize(F.col("text")))
    base = docs.filter(F.size(toks) >= n).select(
        "doc_id", toks.alias("toks"), F.size(toks).alias("n_tokens")
    )
    grams = base.select(
        "doc_id",
        "n_tokens",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.col("n_tokens") - F.lit(n - 1)),
                lambda i: F.array_join(F.slice("toks", i, n), " "),
            )
        ).alias("pos0", "gram"),
    ).select("doc_id", "n_tokens", (F.col("pos0") + 1).alias("pos"), "gram")
    dup_grams = (
        grams.groupBy("gram")
        .agg(F.count_distinct("doc_id").alias("ndocs"))
        .filter(F.col("ndocs") >= 2)
        .select("gram")
    )
    d = grams.join(dup_grams, "gram")
    w = Window.partitionBy("doc_id").orderBy("pos")
    isl = d.withColumn(
        "brk",
        F.when(
            F.lag("pos").over(w).isNull() | (F.col("pos") - F.lag("pos").over(w) >= n),
            1,
        ).otherwise(0),
    ).withColumn(
        "isl_id", F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    spans = isl.groupBy("doc_id", "isl_id").agg(
        (F.max("pos") - F.min("pos") + n).alias("span_tokens")
    )
    per_doc = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("dup_spans"),
        F.sum("span_tokens").alias("dup_tokens"),
    )
    return (
        base.select("doc_id", "n_tokens")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col("dup_spans"), F.lit(0)).cast("long").alias("dup_spans"),
            F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("long").alias("dup_tokens"),
            F.expr("CAST(coalesce(dup_tokens, 0) * 1000000 DIV n_tokens AS BIGINT)").alias(
                "dup_ppm"
            ),
        )
    )


@q(
    "text_dup_spans",
    f"""
    WITH toks AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') arr
                  FROM documents),
    base AS (SELECT doc_id, arr, len(arr) AS n_tokens FROM toks WHERE len(arr) >= {DUP_GRAM_N}),
    g AS (SELECT doc_id, n_tokens,
                 unnest(generate_series(1, n_tokens - {DUP_GRAM_N - 1})) AS pos,
                 unnest(list_transform(generate_series(1, n_tokens - {DUP_GRAM_N - 1}),
                                       i -> array_to_string(list_slice(arr, i, i + {DUP_GRAM_N - 1}), ' '))) AS gram
          FROM base),
    dupg AS (SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
    d AS (SELECT doc_id, n_tokens, pos FROM g JOIN dupg USING (gram)),
    isl AS (SELECT doc_id, n_tokens, pos,
                   CASE WHEN lag(pos) OVER w IS NULL
                             OR pos - lag(pos) OVER w >= {DUP_GRAM_N} THEN 1 ELSE 0 END AS brk
            FROM d WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
    isl2 AS (SELECT *, SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                                      ROWS UNBOUNDED PRECEDING) AS isl_id FROM isl),
    spans AS (SELECT doc_id, isl_id, MAX(pos) - MIN(pos) + {DUP_GRAM_N} AS span_tokens
              FROM isl2 GROUP BY 1, 2),
    per_doc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dup_spans,
                       CAST(SUM(span_tokens) AS BIGINT) AS dup_tokens
                FROM spans GROUP BY 1)
    SELECT b.doc_id, b.n_tokens,
           COALESCE(p.dup_spans, 0) AS dup_spans,
           COALESCE(p.dup_tokens, 0) AS dup_tokens,
           COALESCE(p.dup_tokens, 0) * 1000000 // b.n_tokens AS dup_ppm
    FROM base b LEFT JOIN per_doc p USING (doc_id)
    """,
)
def text_dup_spans(spark, sf_dir):
    """Cross-doc duplicated-span coverage over documents at 8-token grams;
    the oracle replays the identical gram/island computation."""
    return duplicated_spans(load(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Line-level dedup — C4-style boilerplate removal, keep-first occurrence.
# ---------------------------------------------------------------------------
LINE_TOKENS = 10
_LINE_KEY_BASE = 100_000  # > max lines/doc; global key = doc_id * base + pos


def line_dedup(docs: DataFrame, line_tokens: int = LINE_TOKENS) -> DataFrame:
    """C4-style line-level dedup: of every occurrence of a line across the
    corpus, keep only the FIRST (minimum ``doc_id * base + pos`` key) and
    reconstruct each document from its surviving lines. This is the
    boilerplate-removal stage of C4 / RefinedWeb — navigation chrome, cookie
    banners, license headers occur on thousands of pages and are dropped
    everywhere but their first sighting. The testdata corpus has no newline
    structure, so a "line" is a fixed non-overlapping window of
    ``line_tokens`` normalized tokens (the segmenter is the only pluggable
    piece; a real corpus would split on ``\\n``).

    Output per input doc: (doc_id, n_lines, n_kept, cleaned_text) — all
    integers/strings, hash-exact. Docs whose every line first occurred
    elsewhere survive with n_kept = 0 and cleaned_text = ''.

    Scale: one explode (|lines| rows, no shuffle), one groupBy on the line
    text (the dedup shuffle), one equi-join back on the same key — AQE
    reuses the exchange — then two doc-grain aggregates. No self-join, so
    unlike the Jaccard posting join a corpus-hot line costs only its own
    group's reduce; keep-first is a single ``min`` — no window over the
    whole corpus."""
    docs = spread(docs)
    toks = T.tokens(T.normalize(F.col("text")))
    base = docs.select(
        "doc_id", toks.alias("toks"), F.size(toks).alias("n_tokens")
    ).filter(F.col("n_tokens") > 0)
    n_lines = F.floor((F.col("n_tokens") - 1) / line_tokens) + 1
    keyed = (
        base.select(
            "doc_id",
            "toks",
            F.explode(F.sequence(F.lit(0), (n_lines - 1).cast("int"))).alias("pos"),
        )
        .select(
            "doc_id",
            F.col("pos").cast("long").alias("pos"),
            F.array_join(
                F.slice(F.col("toks"), F.col("pos") * line_tokens + 1, line_tokens),
                " ",
            ).alias("line"),
        )
        .withColumn("key", F.col("doc_id") * _LINE_KEY_BASE + F.col("pos"))
    )
    keep = keyed.groupBy("line").agg(F.min("key").alias("keep_key"))
    kept = keyed.join(keep, "line").filter(F.col("key") == F.col("keep_key"))
    stats = keyed.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_lines"))
    kagg = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda x: x["line"],
            ),
            " ",
        ).alias("cleaned_text"),
    )
    return stats.join(kagg, "doc_id", "left").select(
        "doc_id",
        F.col("n_lines").cast("long").alias("n_lines"),
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
        F.coalesce(F.col("cleaned_text"), F.lit("")).alias("cleaned_text"),
    )


@q(
    "text_line_dedup",
    f"""
    WITH toks AS (SELECT doc_id,
                         list_filter(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
                                     x -> x <> '') AS arr
                  FROM documents),
    base AS (SELECT doc_id, arr, len(arr) AS n_tokens FROM toks WHERE len(arr) > 0),
    keyed AS (SELECT doc_id, CAST(c AS BIGINT) AS pos,
                     array_to_string(list_slice(arr, c * {LINE_TOKENS} + 1, c * {LINE_TOKENS} + {LINE_TOKENS}), ' ') AS line,
                     doc_id * {_LINE_KEY_BASE} + c AS key
              FROM base, unnest(generate_series(0, CAST((n_tokens - 1) // {LINE_TOKENS} AS BIGINT))) t(c)),
    keep AS (SELECT line, MIN(key) AS keep_key FROM keyed GROUP BY line),
    kept AS (SELECT k.doc_id, k.pos, k.line FROM keyed k JOIN keep p
             ON k.line = p.line AND k.key = p.keep_key),
    stats AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines FROM keyed GROUP BY doc_id),
    kagg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
                    string_agg(line, ' ' ORDER BY pos) AS cleaned_text
             FROM kept GROUP BY doc_id)
    SELECT s.doc_id, s.n_lines,
           COALESCE(g.n_kept, 0) AS n_kept,
           COALESCE(g.cleaned_text, '') AS cleaned_text
    FROM stats s LEFT JOIN kagg g USING (doc_id)
    """,
)
def text_line_dedup(spark, sf_dir):
    """Keep-first line dedup over documents at 10-token line grain; the
    oracle replays the identical keyed min / reconstruction."""
    return line_dedup(load(spark, sf_dir, "documents"))


@q(
    "gdpr_erasure_audit",
    """
    WITH toks AS (
      SELECT doc_id,
             len(list_filter(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' '),
                             x -> x <> '')) AS n_tokens
      FROM documents
    ),
    chunks AS (
      SELECT doc_id
      FROM toks, unnest(generate_series(0, CAST((n_tokens - 1) // 64 AS BIGINT))) AS t(c)
      WHERE n_tokens > 0
    )
    SELECT 'documents' AS relation,
           (SELECT count(*) FROM documents) AS rows_before,
           (SELECT count(*) FROM documents WHERE doc_id % 101 = 13) AS rows_deleted,
           (SELECT count(*) FROM documents WHERE doc_id % 101 <> 13) AS rows_after
    UNION ALL
    SELECT 'chunks',
           (SELECT count(*) FROM chunks),
           (SELECT count(*) FROM chunks WHERE doc_id % 101 = 13),
           (SELECT count(*) FROM chunks WHERE doc_id % 101 <> 13)
    """,
)
def gdpr_erasure_audit(spark, sf_dir):
    """Right-to-erasure CASCADE over the corpus and a derived table: a
    takedown list (doc_id % 101 == 13 stands in for the legal hold file)
    is anti-joined out of ``documents`` AND out of the derived retrieval
    chunks, and the entry emits the per-relation audit record
    (rows_before / rows_deleted / rows_after) that an erasure job must
    produce for compliance evidence. The oracle recomputes every count
    from scratch with NOT-the-list predicates, so the hash check proves
    the cascade deleted exactly the listed lineage in both relations —
    no stragglers, no over-deletion.

    Scale: legal-hold lists are KB-to-MB, so each relation is one
    anti-join that Spark broadcasts while the list's estimate is under its
    size threshold (and shuffles past it). On a partitioned lakehouse
    table the rewrite touches only files whose min/max doc_id span a
    listed id; the audit aggregates are one pass each. The retraction twin
    for derived AGGREGATES is operators/incremental.retract_agg_state
    (count/sum subtract; min/max recompute only affected keys)."""
    docs = load(spark, sf_dir, "documents")
    takedown = docs.filter(F.col("doc_id") % 101 == 13).select("doc_id")

    def audit(name: str, df: DataFrame) -> DataFrame:
        after = df.join(takedown, "doc_id", "left_anti")
        b = df.agg(F.count(F.lit(1)).alias("rows_before"))
        a = after.agg(F.count(F.lit(1)).alias("rows_after"))
        return b.crossJoin(a).select(
            F.lit(name).alias("relation"),
            "rows_before",
            (F.col("rows_before") - F.col("rows_after")).alias("rows_deleted"),
            "rows_after",
        )

    return audit("documents", docs).unionAll(
        audit("chunks", chunk_documents(docs))
    )


BM25_QUERY = ["window", "merge", "stream"]
_BM25_TERMS = ", ".join(f"'{t}'" for t in BM25_QUERY)


@q(
    "text_bm25_topk",
    f"""
    WITH toks AS (SELECT doc_id, unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS token
                  FROM documents),
    tk AS (SELECT doc_id, token FROM toks WHERE token <> ''),
    dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tk GROUP BY 1),
    corpus AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                      CAST(sum(dl) AS BIGINT) * 1000 // CAST(count(*) AS BIGINT) AS avgdl_milli
               FROM dl),
    tfq AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
            FROM tk WHERE token IN ({_BM25_TERMS}) GROUP BY 1, 2),
    idf AS (SELECT token,
                   CAST(ROUND(ln((n_docs - df_docs + 0.5) / (df_docs + 0.5) + 1) * 1000000) AS BIGINT) AS idf_micro
            FROM (SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS df_docs
                  FROM tfq GROUP BY 1) CROSS JOIN corpus),
    scored AS (
      SELECT t.doc_id,
             CAST((i.idf_micro * t.tf * 2200)
                  // (t.tf * 1000
                      + (1200 * (250 + (750 * ((d.dl * 1000000) // c.avgdl_milli)) // 1000)) // 1000)
               AS BIGINT) AS s
      FROM tfq t JOIN idf i USING (token) JOIN dl d USING (doc_id) CROSS JOIN corpus c
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits,
           CAST(sum(s) AS BIGINT) AS score_micro
    FROM scored GROUP BY doc_id
    ORDER BY score_micro DESC, doc_id LIMIT 10
    """,
)
def text_bm25_topk(spark, sf_dir):
    """BM25 retrieval over the corpus for a fixed query (k1=1.2, b=0.75,
    idf = ln((N-df+0.5)/(df+0.5)+1)) — the lexical-ranking baseline every
    retrieval stack is measured against, and TF-IDF's production successor
    (length-normalized, tf-saturating). All score arithmetic is fixed-point:
    idf is micro-integerized at the one ln() (the engine's float-hash
    discipline) and every subsequent step — dl/avgdl normalization, the k1/b
    denominator, the final per-term score — is integer `div` with identical
    nesting in both engines, so the ranking can never drift on float
    rounding.

    Scale: one token explode feeding doc-length and query-term tf aggs
    (query terms filter BEFORE the tf agg — the posting list of 3 terms,
    not the corpus vocabulary); the corpus scalars are one-row broadcasts;
    top-k is TakeOrdered, no global sort."""
    docs = load(spark, sf_dir, "documents")
    tk = spread(docs).select(
        "doc_id", F.explode(T.tokens(T.normalize(F.col("text")))).alias("token")
    )
    tk = persist(tk, eager=True)
    dl = tk.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("dl"))
    corpus = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.expr("CAST(sum(dl) AS BIGINT) * 1000 div count(*)").alias("avgdl_milli"),
    )
    tfq = (
        tk.filter(F.col("token").isin(*BM25_QUERY))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    idf = (
        tfq.groupBy("token")
        .agg(F.countDistinct("doc_id").cast("long").alias("df_docs"))
        .crossJoin(corpus)
        .select(
            "token",
            F.round(
                F.log(
                    (F.col("n_docs") - F.col("df_docs") + 0.5)
                    / (F.col("df_docs") + 0.5)
                    + 1
                )
                * 1_000_000
            )
            .cast("long")
            .alias("idf_micro"),
        )
    )
    scored = (
        tfq.join(idf, "token")
        .join(dl, "doc_id")
        .crossJoin(corpus)
        .withColumn("dl_norm_milli", F.expr("(dl * 1000000) div avgdl_milli"))
        .withColumn(
            "s",
            F.expr(
                "CAST((idf_micro * tf * 2200) div (tf * 1000"
                " + (1200 * (250 + (750 * dl_norm_milli) div 1000)) div 1000)"
                " AS BIGINT)"
            ),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hits"),
            F.sum("s").cast("long").alias("score_micro"),
        )
        .orderBy(F.col("score_micro").desc(), "doc_id")
        .limit(10)
    )
