"""Tokenization operators — the token-counting / vocab layer of a
training-data pipeline (extends textops.py's regex token counting with an
actual id-assigning encode).

Three layers, decreasing SQL-expressibility:

1. **Vocab building** (`build_word_vocab`) — top-K corpus words by
   (count DESC, token ASC): one tokenize + one hash agg + one top-K.
   Fully oracle-checked.
2. **Word-level encode** (`encode_words`) — explode words, broadcast-join
   the vocab, aggregate ids/OOV stats. Pure Column ops (the scale path:
   a vocab is ~100k rows → broadcast; the corpus never shuffles).
   Fully oracle-checked.
3. **Greedy subword encode** (`subword_encode`) — longest-prefix-first
   matching with single-char fallback (the BPE-inference shape). Inherently
   iterative per position → Arrow-batched pandas UDF over a broadcast
   vocab dict; verified in tests against a pure-Python reference, invariant:
   decode(encode(x)) == x when the vocab covers the alphabet.
4. **BPE merge training** (`bpe_train_merges`) — the tokenizer-TRAINING
   side (Sennrich et al. 2016, word-frequency variant): iterate
   (count adjacent symbol pairs weighted by word frequency → pick the max →
   merge it everywhere). State stays distributed (the word-frequency table,
   ~vocabulary-sized — millions of rows at 100 TB, never the corpus);
   per round the only driver value is the ONE winning pair (an O(1)
   reduction, the merge decision itself). The merge application is a pure
   string operation — each word's symbols rendered as \\x1f<sym>\\x1e
   spans, the pair merged with a literal left-to-right non-overlapping
   `replace` — which makes every round, and therefore the whole training
   loop, expressible in ANSI SQL: the driver oracle replays all rounds as
   chained DuckDB CTEs and the learned merge table must match exactly.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from mta_rtf_dbt_spark.functions import text as T
from mta_rtf_dbt_spark.registry import q
from mta_rtf_dbt_spark.sources.registry import load, spread

VOCAB_K = 256


def build_word_vocab(docs: DataFrame, k: int = VOCAB_K, text_col: str = "text") -> DataFrame:
    """(token, token_id, n_occurrences): top-k corpus words; ids assigned in
    (count DESC, token ASC) order so the mapping is total-order deterministic."""
    words = docs.select(
        F.explode(T.tokens(T.normalize(F.col(text_col)))).alias("token")
    ).filter(F.col("token") != "")
    counts = words.groupBy("token").agg(F.count(F.lit(1)).alias("n_occurrences"))
    w = Window.orderBy(F.col("n_occurrences").desc(), F.col("token").asc())
    return (
        counts.withColumn("token_id", F.row_number().over(w) - 1)
        .filter(F.col("token_id") < k)
        .select("token", "token_id", "n_occurrences")
    )


def encode_words(docs: DataFrame, vocab: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, n_tokens, n_oov, id_sum): word-level encode via broadcast
    vocab join. id_sum is an order-free integer checksum of the assigned ids
    (exact on any engine), standing in for the id sequence in aggregates."""
    words = spread(docs).select(
        "doc_id", F.posexplode(T.tokens(T.normalize(F.col(text_col)))).alias("pos", "token")
    ).filter(F.col("token") != "")
    joined = words.join(vocab.select("token", "token_id"), "token", "left")
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.when(F.col("token_id").isNull(), 1).otherwise(0)).alias("n_oov"),
        F.sum(F.coalesce(F.col("token_id"), F.lit(0))).cast("long").alias("id_sum"),
    )


_TOKS = "list_filter(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '), t -> t != '')"

_VOCAB_CTE = f"""
words AS (
  SELECT unnest({_TOKS}) AS token FROM documents
),
counts AS (SELECT token, COUNT(*) AS n_occurrences FROM words GROUP BY 1),
vocab AS (
  SELECT token, CAST(row_number() OVER (ORDER BY n_occurrences DESC, token ASC) - 1 AS INTEGER) AS token_id,
         n_occurrences
  FROM counts
  QUALIFY token_id < {VOCAB_K}
)"""


@q(
    "tokenize_vocab_topk",
    f"WITH {_VOCAB_CTE} SELECT token, token_id, n_occurrences FROM vocab",
)
def tokenize_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-256 word vocab with deterministic id assignment."""
    return build_word_vocab(load(spark, sf_dir, "documents"))


@q(
    "tokenize_encode_oov",
    f"""
    WITH {_VOCAB_CTE},
    doc_words AS (
      SELECT doc_id, unnest({_TOKS}) AS token FROM documents
    )
    SELECT doc_id,
           COUNT(*) AS n_tokens,
           CAST(SUM(CASE WHEN v.token_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           CAST(SUM(COALESCE(v.token_id, 0)) AS BIGINT) AS id_sum
    FROM doc_words d LEFT JOIN vocab v USING (token)
    GROUP BY doc_id
    """,
)
def tokenize_encode_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-level encode of every document against the corpus top-256 vocab:
    token counts, OOV counts, and an order-free id checksum — the whole
    pipeline (vocab build + broadcast encode) under one oracle."""
    docs = load(spark, sf_dir, "documents")
    return encode_words(docs, build_word_vocab(docs))


# ---------------------------------------------------------------------------
# Greedy subword encode — the BPE-inference shape (pandas UDF layer).
# ---------------------------------------------------------------------------
def greedy_encode_py(text: str, vocab: dict[str, int], max_piece: int) -> list[int]:
    """Reference implementation: longest-prefix-first match; unknown single
    chars map to -1 (byte-fallback stand-in)."""
    out, i, n = [], 0, len(text)
    while i < n:
        piece = None
        for ln in range(min(max_piece, n - i), 0, -1):
            cand = text[i : i + ln]
            if cand in vocab:
                piece = cand
                break
        if piece is None:
            out.append(-1)
            i += 1
        else:
            out.append(vocab[piece])
            i += len(piece)
    return out


def subword_encode(
    df: DataFrame, vocab: dict[str, int], text_col: str = "text"
) -> DataFrame:
    """Adds ``token_ids array<int>`` + ``n_subword_tokens``. The vocab dict
    ships once per executor via broadcast variable; matching is pure Python
    per Arrow batch (the operator Columns can't express — per-position
    variable-length greedy consumption)."""
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(vocab)
    max_piece = max((len(k) for k in vocab), default=1)

    @pandas_udf("array<int>")
    def enc(texts: pd.Series) -> pd.Series:
        v = bc.value
        return texts.map(
            lambda t: greedy_encode_py(t or "", v, max_piece)
        )

    return df.withColumn("token_ids", enc(F.col(text_col))).withColumn(
        "n_subword_tokens", F.size("token_ids")
    )


# ---------------------------------------------------------------------------
# BPE merge training — distributed word-frequency BPE (Sennrich 2016).
# ---------------------------------------------------------------------------
BPE_MERGES = 8
_SO = "\x1f"  # symbol-open marker (unit separator)
_SC = "\x1e"  # symbol-close marker (record separator)

# Adjacent symbol pairs of one word; guarded because Spark's sequence(1, 0)
# produces a DESCENDING [1, 0], not an empty array.
_PAIRS_EXPR = (
    "CASE WHEN size(syms) >= 2 THEN "
    "transform(sequence(1, size(syms)-1), "
    "i -> struct(element_at(syms, i) AS a, element_at(syms, i+1) AS b)) "
    "ELSE array() END"
)


def bpe_word_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, cnt, syms): the distinct-word frequency table BPE trains on,
    each word pre-split into single-character symbols. Words containing the
    internal span markers are dropped (they cannot occur in real text; the
    filter keeps the string-rendered merge step injective)."""
    words = (
        docs.select(F.explode(T.tokens(T.normalize(F.col(text_col)))).alias("word"))
        .filter(F.col("word") != "")
        .filter(~F.col("word").contains(_SO) & ~F.col("word").contains(_SC))
    )
    return words.groupBy("word").agg(F.count(F.lit(1)).cast("long").alias("cnt")).select(
        "word", "cnt", F.split("word", "").alias("syms")
    )


def _apply_merge(syms: Column, a: str, b: str) -> Column:
    """Merge every adjacent (a, b) in a symbol array, greedy left-to-right
    non-overlapping — BPE's exact application order. Rendered as
    \\x1fsym\\x1e spans so a literal `replace` can only match whole symbols
    (a suffix like 'xa'+'b' can never match the '\\x1fa\\x1e\\x1fb\\x1e'
    pattern), then split back. All JVM-side string ops, no UDF."""
    s = F.concat_ws("", F.transform(syms, lambda x: F.concat(F.lit(_SO), x, F.lit(_SC))))
    merged = F.replace(s, F.lit(_SO + a + _SC + _SO + b + _SC), F.lit(_SO + a + b + _SC))
    return F.transform(
        F.filter(F.split(merged, _SC), lambda x: x != F.lit("")),
        lambda x: F.substring(x, 2, F.length(x)),
    )


def bpe_train_state(
    docs: DataFrame, n_merges: int = BPE_MERGES
) -> tuple[list[tuple[int, str, str, str, int]], DataFrame]:
    """(merges, word_table): the learned merge list plus the word-frequency
    table with each word's FINAL symbol segmentation — the trained
    tokenizer's application state. Splitting this out lets the encode side
    reuse the segmentation with a broadcast join instead of re-running the
    merges per document occurrence."""
    # Lineage-cut checkpoints are LAZY (r11): each round has exactly one
    # irreducible driver action — the top-1 pair pick — and a lazy
    # checkpoint materializes under it, so a round costs ONE job instead
    # of an eager checkpoint job plus the top-1 job. Same cuts, same
    # caches, same merges; half the per-round scheduling barriers.
    wc = bpe_word_counts(docs).localCheckpoint(eager=False)
    merges: list[tuple[int, str, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        top = (
            wc.select(F.col("cnt"), F.explode(F.expr(_PAIRS_EXPR)).alias("p"))
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("cnt").alias("n"))
            .orderBy(F.desc("n"), F.asc("a"), F.asc("b"))
            .first()
        )
        if top is None:
            break
        merges.append((rank, top["a"], top["b"], top["a"] + top["b"], int(top["n"])))
        # Filtered update (r12): the render->replace->split chain only runs
        # on words that can possibly contain the pair — the merge pattern
        # requires symbol `a` to be present, so array_contains(syms, a) is
        # an EXACT precondition (_apply_merge is the identity otherwise)
        # and every other word passes through untouched. Merges and final
        # segmentations are identical by construction.
        wc = wc.withColumn(
            "syms",
            F.when(
                F.array_contains(F.col("syms"), top["a"]),
                _apply_merge(F.col("syms"), top["a"], top["b"]),
            ).otherwise(F.col("syms")),
        )
        wc = wc.localCheckpoint(eager=False)
    return merges, wc


def bpe_train(docs: DataFrame, n_merges: int = BPE_MERGES) -> DataFrame:
    """Learn ``n_merges`` BPE merges over the corpus; returns the merge table
    (rank, lhs, rhs, merged, pair_count) — the artifact a tokenizer ships.

    Scale shape: each round is one map-combined pair-count aggregate over
    the word-frequency table plus one narrow merge rewrite; the corpus
    itself is touched once (the word count). The single `.first()` per
    round collects exactly one row — the chosen merge — which is the
    irreducible sequential decision of the algorithm, not data movement.
    Lineage is cut per round (localCheckpoint) so round r doesn't replay
    rounds 0..r-1 — the standard Spark iteration discipline (graph.py)."""
    merges, _ = bpe_train_state(docs, n_merges)
    return docs.sparkSession.createDataFrame(
        merges, "rank INT, lhs STRING, rhs STRING, merged STRING, pair_count BIGINT"
    )


def _bpe_ctes(n_merges: int = BPE_MERGES) -> str:
    """The training loop as chained DuckDB CTEs — one (pair-count top-1,
    merge-applied words) CTE pair per round, the merge applied with the same
    span-rendered literal replace. LEFT JOIN ON TRUE keeps later rounds
    alive if a round runs out of pairs (then it selects nothing, matching
    the engine's early break)."""
    so, sc = "chr(31)", "chr(30)"
    ctes = [
        f"""w0 AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt, string_split(word, '') AS syms
      FROM (SELECT unnest({_TOKS}) AS word FROM documents)
      WHERE word <> '' AND NOT contains(word, {so}) AND NOT contains(word, {sc})
      GROUP BY word
    )"""
    ]
    for r in range(n_merges):
        ctes.append(f"""p{r} AS (
      SELECT s.a AS a, s.b AS b, CAST(SUM(cnt) AS BIGINT) AS n
      FROM (SELECT cnt,
                   unnest(CASE WHEN len(syms) >= 2
                          THEN list_transform(generate_series(1, len(syms)-1),
                                              i -> struct_pack(a := syms[i], b := syms[i+1]))
                          ELSE [] END) AS s
            FROM w{r})
      GROUP BY 1, 2 ORDER BY n DESC, a ASC, b ASC LIMIT 1
    )""")
        ctes.append(f"""w{r + 1} AS (
      SELECT word, cnt,
             CASE WHEN p.a IS NULL THEN syms ELSE
               list_transform(
                 list_filter(string_split(
                   replace(list_aggregate(list_transform(syms, x -> {so}||x||{sc}), 'string_agg', ''),
                           {so}||p.a||{sc}||{so}||p.b||{sc}, {so}||p.a||p.b||{sc}),
                   {sc}), x -> x <> ''), x -> x[2:])
             END AS syms
      FROM w{r} LEFT JOIN p{r} p ON TRUE
    )""")
    return "WITH " + ",\n".join(ctes)


def _bpe_oracle_sql(n_merges: int = BPE_MERGES) -> str:
    unions = "\nUNION ALL ".join(
        f"SELECT {r + 1} AS rank, a AS lhs, b AS rhs, a||b AS merged, n AS pair_count FROM p{r}"
        for r in range(n_merges)
    )
    return _bpe_ctes(n_merges) + "\n" + unions


@q("bpe_train_merges", _bpe_oracle_sql())
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn the top-8 BPE merges over the documents corpus. The oracle
    replays every round (pair counting, deterministic top-1 tiebreak on
    (count DESC, lhs, rhs), greedy merge application) in pure SQL and the
    learned merge table must match bit-for-bit."""
    return bpe_train(load(spark, sf_dir, "documents"))


def bpe_encode_corpus(docs: DataFrame, n_merges: int = BPE_MERGES) -> DataFrame:
    """(doc_id, n_words, n_bpe_tokens): encode every document with the
    trained tokenizer by TRUE merge-order application (not longest-prefix
    inference): the trained word table already carries each distinct word's
    final segmentation, so encoding is one word-level equi-join — the
    corpus is segmented without touching characters again. This is the
    standard production shape: train on the word-frequency table, encode by
    lookup; only never-seen words would need the merge replay (none exist
    here since train and encode corpora coincide)."""
    _, wc = bpe_train_state(docs, n_merges)
    seg = wc.select("word", F.size("syms").cast("long").alias("n_pieces"))
    doc_words = spread(docs).select(
        "doc_id", F.explode(T.tokens(T.normalize(F.col("text")))).alias("word")
    )
    return (
        doc_words.join(seg, "word")  # inner: seg's filters define tokenhood
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_pieces").cast("long").alias("n_bpe_tokens"),
        )
    )


@q(
    "bpe_encode_stats",
    _bpe_ctes()
    + f"""
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(len(syms)) AS BIGINT) AS n_bpe_tokens
    FROM (SELECT doc_id, unnest({_TOKS}) AS word FROM documents) dw
    JOIN w{BPE_MERGES} USING (word)
    GROUP BY doc_id
    """,
)
def bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-then-encode under one oracle: per-document word and BPE-piece
    counts after applying the 8 learned merges in rank order. The oracle
    replays training and joins the final segmentation to the same exploded
    doc words."""
    return bpe_encode_corpus(load(spark, sf_dir, "documents"))
