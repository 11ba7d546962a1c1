"""Text-analysis operators over the ``documents`` table: token counting,
quality scoring, heuristic language ID, and document fingerprinting. All
Column-only (codegen); each op is oracle-checked except the rolling-hash
fingerprint (xxhash64-based, engine-specific family)."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mta_rtf_dbt_spark.functions import text as T
from mta_rtf_dbt_spark.registry import persist, q
from mta_rtf_dbt_spark.sources.registry import load, spread

_NORM_SQL = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_TOKS_SQL = f"string_split({_NORM_SQL}, ' ')"


def text_token_stats(spark, sf_dir):
    """Whitespace token counts + chars-per-token — the basic size/cost
    signals for a training-data pipeline."""
    d = load(spark, sf_dir, "documents")
    n_tok = T.token_count(F.col("text"))
    return d.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.length("text").alias("n_chars_actual"),
        F.round(
            F.try_divide(F.length("text").cast("double"), n_tok), 6
        ).alias("chars_per_token"),
    )


def text_quality(spark, sf_dir):
    """Quality scoring: punctuation ratio, stopword ratio, lexical
    diversity — the standard cheap filters before expensive dedup."""
    d = load(spark, sf_dir, "documents")
    toks = T.tokens(T.normalize(F.col("text")))
    return d.select(
        "doc_id",
        F.round(T.punct_ratio(F.col("text")), 6).alias("punct_ratio"),
        F.round(T.stopword_ratio(F.col("text")), 6).alias("stopword_ratio"),
        F.size(F.array_distinct(toks)).alias("n_unique_tokens"),
        F.round(
            F.try_divide(F.size(F.array_distinct(toks)).cast("double"), F.size(toks)), 6
        ).alias("lexical_diversity"),
    )


def text_langid(spark, sf_dir):
    """Heuristic n-gram/stopword language ID: marker-token hit counts per
    language, deterministic argmax (alphabetical tiebreak)."""
    d = load(spark, sf_dir, "documents")
    langs = sorted(T.LANG_MARKERS)
    scored = d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        *[T.lang_score(F.col("text"), lg).alias(f"{lg}_hits") for lg in langs],
    )
    best = F.greatest(*[F.col(f"{lg}_hits") for lg in langs])
    pred = F.when(F.col(f"{langs[0]}_hits") == best, langs[0])
    for lg in langs[1:]:
        pred = pred.when(F.col(f"{lg}_hits") == best, lg)
    return scored.select("*", pred.alias("predicted_lang"))


def text_fingerprint(spark, sf_dir):
    """Content fingerprint: sha256 over normalized text (+ 64-bit prefix)."""
    d = load(spark, sf_dir, "documents")
    fp = T.fingerprint_sha(F.col("text"))
    return d.select(
        "doc_id", fp.alias("fingerprint"), F.substring(fp, 1, 16).alias("short_fp")
    )


def _text_pack_sql() -> str:
    hits = []
    for lang, markers in T.LANG_MARKERS.items():
        lst = ", ".join(f"'{m}'" for m in markers)
        hits.append(f"len(list_filter({_TOKS_SQL}, x -> x IN ({lst}))) AS {lang}_hits")
    langs = sorted(T.LANG_MARKERS)
    greatest = "greatest(" + ", ".join(f"{lg}_hits" for lg in langs) + ")"
    case = "CASE " + " ".join(
        f"WHEN {lg}_hits = {greatest} THEN '{lg}'" for lg in langs
    ) + " END"
    return f"""
    WITH scored AS (
      SELECT doc_id, text, lang AS labeled_lang, {', '.join(hits)} FROM documents
    )
    SELECT doc_id,
           len({_TOKS_SQL}) AS n_tokens,
           length(text) AS n_chars_actual,
           ROUND(CAST(length(text) AS DOUBLE) / NULLIF(len({_TOKS_SQL}), 0), 6) AS chars_per_token,
           ROUND(CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
                 / NULLIF(length(text), 0), 6) AS punct_ratio,
           ROUND(CAST(len(list_filter({_TOKS_SQL},
                 x -> x IN ('the','and','of','to','a','in','is','it','that','for','on','with','as','are'))) AS DOUBLE)
                 / NULLIF(len({_TOKS_SQL}), 0), 6) AS stopword_ratio,
           len(list_distinct({_TOKS_SQL})) AS n_unique_tokens,
           ROUND(CAST(len(list_distinct({_TOKS_SQL})) AS DOUBLE)
                 / NULLIF(len({_TOKS_SQL}), 0), 6) AS lexical_diversity,
           sha256({_NORM_SQL}) AS fingerprint,
           substring(sha256({_NORM_SQL}), 1, 16) AS short_fp,
           labeled_lang,
           {case} AS predicted_lang
    FROM scored
    """


@q("text_analysis_pack", _text_pack_sql())
def text_analysis_pack(spark, sf_dir):
    """One-pass text featurization: token stats + quality ratios + sha256
    fingerprint + heuristic language ID (the former text_token_stats /
    text_quality / text_fingerprint / text_langid driver entries merged so
    one oracle row verifies all four ops). Still a single Column-only
    projection — Catalyst collapses it into one codegen stage over one scan
    of ``documents``."""
    d = load(spark, sf_dir, "documents")
    langs = sorted(T.LANG_MARKERS)
    n_tok = T.token_count(F.col("text"))
    toks = T.tokens(T.normalize(F.col("text")))
    fp = T.fingerprint_sha(F.col("text"))
    hit_cols = {lg: T.lang_score(F.col("text"), lg) for lg in langs}
    best = F.greatest(*hit_cols.values())
    pred = F.when(hit_cols[langs[0]] == best, langs[0])
    for lg in langs[1:]:
        pred = pred.when(hit_cols[lg] == best, lg)
    return d.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.length("text").alias("n_chars_actual"),
        F.round(F.try_divide(F.length("text").cast("double"), n_tok), 6).alias(
            "chars_per_token"
        ),
        F.round(T.punct_ratio(F.col("text")), 6).alias("punct_ratio"),
        F.round(T.stopword_ratio(F.col("text")), 6).alias("stopword_ratio"),
        F.size(F.array_distinct(toks)).alias("n_unique_tokens"),
        F.round(
            F.try_divide(F.size(F.array_distinct(toks)).cast("double"), F.size(toks)), 6
        ).alias("lexical_diversity"),
        fp.alias("fingerprint"),
        F.substring(fp, 1, 16).alias("short_fp"),
        F.col("lang").alias("labeled_lang"),
        pred.alias("predicted_lang"),
    )


_ROLLING_SQL = """
    WITH n AS (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
               FROM documents),
    g AS (SELECT doc_id,
                 substring(norm, unnest(generate_series(1, greatest(length(norm) - 7, 1))), 8) AS gram
          FROM n),
    h AS (SELECT doc_id,
                 list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                     list_transform(generate_series(1, length(gram)),
                                    j -> CAST(ascii(substring(gram, j, 1)) AS BIGINT))),
                   (acc, c) -> (acc * 257 + c) % 2147483647) AS fp
          FROM g)
    SELECT doc_id, MIN(fp) AS rolling_fp FROM h GROUP BY doc_id
    """


@q("text_fingerprint_rolling", _ROLLING_SQL)
def text_fingerprint_rolling(spark, sf_dir):
    """Winnowing-style rolling-hash fingerprint (min char-poly hash over
    8-char windows of normalized text) — shift-tolerant near-dup signal.
    Fully oracle-checked since r4: the hash is the portable polynomial
    family (functions/text.py:poly_hash), so DuckDB replays every window
    hash and the min bit-for-bit (previously xxhash64, rows-only). Tests
    additionally assert exact-dup pairs share the fingerprint."""
    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", T.fingerprint_rolling(F.col("text")).alias("rolling_fp"))


# ---------------------------------------------------------------------------
# Winnowing (Schleimer/Wilkerson/Aiken, SIGMOD'03) — the MOSS fingerprint.
# ---------------------------------------------------------------------------
_WIN_K = 5            # char-gram length
_WIN_W = 4            # winnowing window (guarantees matches >= K+W-1 chars)
_WIN_B = 257          # polynomial base
_WIN_M = 2_147_483_647  # hash modulus (2^31 - 1)
_WIN_ENC = 1 << 21    # (hash, pos) -> single bigint; pos < 2^21 chars


def winnow_fingerprints(
    docs: DataFrame, k: int = _WIN_K, w: int = _WIN_W
) -> DataFrame:
    """(doc_id, pos, fp_hash): winnowing-selected k-gram fingerprints — in
    every window of ``w`` consecutive k-gram hashes, keep the (hash, pos)
    minimum. Guarantees any substring match of length >= k+w-1 shares at
    least one fingerprint; fingerprint density ~2/(w+1) of positions.

    Unlike :func:`functions.text.fingerprint_rolling` (xxhash64, engine-
    specific, rows-only check), the k-gram hash here is an explicit
    polynomial over character codes mod 2^31-1 — pure integer math any
    engine reproduces bit-for-bit, so selection is FULLY oracle-checkable.
    The window min rides a (doc_id)-partitioned frame (no global sort); the
    explode is ~len(text) rows/doc with k chars each, the same O(text)
    working set as shingling."""
    norm = T.normalize(F.col("text"))
    base = (
        spread(docs)
        .select("doc_id", norm.alias("norm"))
        .filter(F.length("norm") >= k + w - 1)
        .select(
            "doc_id",
            F.length("norm").alias("n_chars"),
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), F.length("norm") - F.lit(k - 1)),
                    lambda i: F.substr(F.col("norm"), i, F.lit(k)),
                )
            ).alias("pos0", "gram"),
        )
    )
    h = F.lit(0).cast("long")
    for j in range(k):
        h = h + F.ascii(F.substring(F.col("gram"), j + 1, 1)).cast("long") * (
            _WIN_B ** (k - 1 - j)
        )
    hashed = base.select(
        "doc_id",
        "n_chars",
        (F.col("pos0") + 1).cast("long").alias("pos"),
        (h % _WIN_M).alias("fp"),
    )
    win = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, w - 1)
    )
    sel = hashed.select(
        "doc_id",
        "n_chars",
        "pos",
        F.min(F.col("fp") * _WIN_ENC + F.col("pos")).over(win).alias("sel_key"),
    ).filter(F.col("pos") <= F.col("n_chars") - F.lit(k + w - 2))  # full windows only
    return (
        sel.select("doc_id", "sel_key")
        .distinct()
        .select(
            "doc_id",
            (F.col("sel_key") % _WIN_ENC).alias("pos"),
            (F.col("sel_key") / _WIN_ENC).cast("long").alias("fp_hash"),
        )
    )


def _winnow_sql(k: int = _WIN_K, w: int = _WIN_W) -> str:
    poly = " + ".join(
        f"ascii(substring(g, {j + 1}, 1)) * {_WIN_B ** (k - 1 - j)}"
        for j in range(k)
    )
    return f"""
    WITH nrm AS (
      SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
      FROM documents
    ),
    grams AS (
      SELECT doc_id, length(norm) AS n_chars, i AS pos, substring(norm, i, {k}) AS g
      FROM nrm, unnest(generate_series(1, length(norm) - {k - 1})) AS t(i)
      WHERE length(norm) >= {k + w - 1}
    ),
    hashed AS (
      SELECT doc_id, n_chars, pos, ({poly}) % {_WIN_M} AS fp FROM grams
    ),
    sel AS (
      SELECT doc_id,
             MIN(fp * {_WIN_ENC} + pos) OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS sel_key
      FROM hashed
      QUALIFY pos <= n_chars - {k + w - 2}
    )
    SELECT DISTINCT doc_id,
           CAST(sel_key % {_WIN_ENC} AS BIGINT) AS pos,
           CAST(sel_key // {_WIN_ENC} AS BIGINT) AS fp_hash
    FROM sel
    """


@q("text_winnow_fingerprints", _winnow_sql())
def text_winnow_fingerprints(spark, sf_dir):
    """Winnowing fingerprints over documents (k=5 char-grams, w=4 windows).
    Fully oracle-checked — selection positions AND hash values must match
    the SQL replay of the same polynomial hash + window-min exactly."""
    return winnow_fingerprints(load(spark, sf_dir, "documents"))


def compression_ratios(docs: DataFrame, level: int = 6) -> DataFrame:
    """Per-doc zlib compression ratio — the RefinedWeb/Gopher-style quality
    signal (highly repetitive or templated text compresses far below
    natural prose; near-random text compresses above it). Arrow-batched
    mapInPandas; bytes counted exactly, ratio emitted as integer
    parts-per-million so the output is float-free and replay-stable.

    Scale: a pure map over the corpus scan — no shuffle, no state; the
    zlib call is the per-row cost (C-speed, ~100 MB/s/core), exactly the
    shape a 100 TB quality-scoring pass wants."""
    from collections.abc import Iterator

    import pandas as pd

    schema = "doc_id long, n_raw int, n_compressed int, ratio_ppm long"

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import zlib

        for pdf in it:
            raw = [t.encode("utf-8") if t is not None else b"" for t in pdf["text"]]
            n_raw = [len(b) for b in raw]
            n_comp = [len(zlib.compress(b, level)) for b in raw]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "n_raw": pd.Series(n_raw, dtype="int32"),
                    "n_compressed": pd.Series(n_comp, dtype="int32"),
                    "ratio_ppm": pd.Series(
                        [
                            (c * 1_000_000) // r if r else None
                            for c, r in zip(n_comp, n_raw)
                        ],
                        dtype="Int64",
                    ),
                }
            )

    from mta_rtf_dbt_spark.sources.registry import spread

    return spread(docs.select("doc_id", "text")).mapInPandas(batches, schema)


@q("text_compression_ratio")  # rows-only: zlib byte counts aren't SQL-expressible
def text_compression_ratio(spark, sf_dir):
    """Compression-ratio quality scores over documents; byte counts are
    python-recomputed in tests (driver check is rows-only — DuckDB has no
    zlib)."""
    return compression_ratios(load(spark, sf_dir, "documents"))


PHRASE = ["order", "sort", "table"]
_PHRASE_LIST = ", ".join(f"'{t}'" for t in PHRASE)


@q(
    "text_phrase_search",
    f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '), x -> x <> '')) AS token,
             unnest(range(1, len(list_filter(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '), x -> x <> '')) + 1)) AS pos
      FROM documents
    ),
    p AS (SELECT doc_id, token, CAST(pos AS BIGINT) AS pos FROM toks
          WHERE token IN ({_PHRASE_LIST})),
    hits AS (
      SELECT t0.doc_id, t0.pos AS start_pos
      FROM p t0
      JOIN p t1 ON t1.doc_id = t0.doc_id AND t1.pos = t0.pos + 1 AND t1.token = '{PHRASE[1]}'
      JOIN p t2 ON t2.doc_id = t0.doc_id AND t2.pos = t0.pos + 2 AND t2.token = '{PHRASE[2]}'
      WHERE t0.token = '{PHRASE[0]}'
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits,
           CAST(min(start_pos) AS BIGINT) AS first_pos
    FROM hits GROUP BY doc_id
    """,
)
def text_phrase_search(spark, sf_dir):
    """Exact PHRASE search via a position-aware inverted index — the
    primitive BM25's bag-of-words scoring cannot express ('order sort
    table' as consecutive tokens, not three scattered terms). Posting
    lists carry (doc_id, token, position); a phrase match is the
    positional self-join t1.pos = t0.pos+1, t2.pos = t0.pos+2 — joins on
    (doc, position), never a scan of document text at query time.

    Scale: the index is built once (posexplode — one shuffle on the token
    key); query-time cost is proportional to the PHRASE TERMS' posting
    lists only (the WHERE prunes the index scan to three terms before any
    join), which is why search engines store positions in the postings."""
    docs = load(spark, sf_dir, "documents")
    toks = spread(docs).select(
        "doc_id",
        F.posexplode(T.tokens(T.normalize(F.col("text")))).alias("pos0", "token"),
    )
    p = toks.filter(F.col("token").isin(*PHRASE)).select(
        "doc_id", "token", (F.col("pos0") + 1).cast("long").alias("pos")
    )
    p = persist(p, eager=True)
    t0 = p.filter(F.col("token") == PHRASE[0]).select("doc_id", F.col("pos").alias("p0"))
    t1 = p.filter(F.col("token") == PHRASE[1]).select(
        F.col("doc_id").alias("d1"), F.col("pos").alias("p1")
    )
    t2 = p.filter(F.col("token") == PHRASE[2]).select(
        F.col("doc_id").alias("d2"), F.col("pos").alias("p2")
    )
    hits = t0.join(
        t1, (F.col("d1") == F.col("doc_id")) & (F.col("p1") == F.col("p0") + 1)
    ).join(t2, (F.col("d2") == F.col("doc_id")) & (F.col("p2") == F.col("p0") + 2))
    return hits.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_hits"),
        F.min("p0").cast("long").alias("first_pos"),
    )


@q(
    "text_url_domains",
    """
    WITH urls AS (
      SELECT doc_id,
             'https://www.site' || CAST(doc_id % 37 AS VARCHAR) || '.example'
               || CAST(doc_id % 7 AS VARCHAR) || '.com/docs/' || CAST(doc_id AS VARCHAR)
               || '?ref=crawl' AS url
      FROM documents
    ),
    parsed AS (
      SELECT doc_id, url,
             regexp_extract(url, '^[a-z]+://([^/?#]+)', 1) AS host
      FROM urls
    ),
    reg AS (
      SELECT doc_id, host,
             array_to_string(list_slice(string_split(host, '.'), len(string_split(host, '.')) - 1,
                                        len(string_split(host, '.'))), '.') AS registered_domain
      FROM parsed
    )
    SELECT registered_domain,
           CAST(count(*) AS BIGINT) AS n_pages,
           CAST(count(DISTINCT host) AS BIGINT) AS n_hosts,
           CAST(min(doc_id) AS BIGINT) AS first_doc_id
    FROM reg GROUP BY registered_domain
    """,
)
def text_url_domains(spark, sf_dir):
    """Per-domain crawl census — the grouping key behind per-domain rate
    caps, robots policy, and domain-quota mixing: parse the host out of
    each page URL (synthesized deterministically from doc fields so both
    engines see identical URLs) and collapse it to the registered domain
    (last two labels — the public-suffix-list lookup reduces to this same
    suffix-join at scale), then census pages/hosts per domain. Host
    extraction is the one shared regexp (Spark's parse_url(HOST) agrees
    but has no DuckDB counterpart, so the cross-engine form is the
    explicit RFC-shaped pattern); domain collapse is pure string/array
    arithmetic. One projection + one aggregate — a scan-cost op even on a
    trillion-URL frontier."""
    docs = load(spark, sf_dir, "documents").select("doc_id")
    url = F.concat(
        F.lit("https://www.site"),
        (F.col("doc_id") % 37).cast("string"),
        F.lit(".example"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".com/docs/"),
        F.col("doc_id").cast("string"),
        F.lit("?ref=crawl"),
    )
    parsed = docs.select(
        "doc_id", F.regexp_extract(url, r"^[a-z]+://([^/?#]+)", 1).alias("host")
    )
    parts = F.split(F.col("host"), r"\.")
    reg = parsed.select(
        "doc_id",
        "host",
        F.array_join(F.slice(parts, -2, 2), ".").alias("registered_domain"),
    )
    return reg.groupBy("registered_domain").agg(
        F.count(F.lit(1)).cast("long").alias("n_pages"),
        F.countDistinct("host").cast("long").alias("n_hosts"),
        F.min("doc_id").cast("long").alias("first_doc_id"),
    )
