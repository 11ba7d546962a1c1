"""Deduplication operators for large-scale training-data pipelines.

Four families over the ``documents`` table:

- **exact**        — hash-groupBy on a normalized-text sha256 (oracle-checked)
- **n-gram Jaccard** — word-shingle inverted-index join (oracle-checked);
  the scalable exact-similarity baseline
- **MinHash + LSH** — banded signature candidate generation + exact verify
  (fully oracle-checked since r3: portable polynomial hash family)
- **SimHash**      — 64-bit sign-hash signatures, band-join candidates +
  Hamming filter (fully oracle-checked since r4: same portable family)

Similarity outputs are integer parts-per-million (``jaccard_ppm``) — both
engines filter and emit the same integer expression, so there is no rounded
double in any hash-compared column and no threshold asymmetry (r3 advice).

All signature math is pure Column expressions (polynomial hashes / array
ops inside codegen) — no Python UDFs. Scale posture: every pair-finding path
goes
through an equi-join on a bounded key (shingle, band hash) — never a cross
join; the exact-Jaccard path drops hot shingles (document frequency >=
``max_posting``, default 1000) before its self-join so one corpus-frequent
shingle can't make candidate generation quadratic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mta_rtf_dbt_spark.functions import text as T
from mta_rtf_dbt_spark.registry import persist, q
from mta_rtf_dbt_spark.sources.registry import load, spread


# ---------------------------------------------------------------------------
# Exact dedup — hash groupBy.
# ---------------------------------------------------------------------------
def exact_dedup_groups(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    key = F.sha2(T.normalize(F.col(text_col)), 256)
    return docs.groupBy(key.alias("content_hash")).agg(
        F.min(id_col).alias("canonical_doc_id"), F.count("*").alias("n_copies")
    )


@q(
    "dedup_exact",
    """
    SELECT sha256(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS content_hash,
           MIN(doc_id) AS canonical_doc_id,
           COUNT(*) AS n_copies
    FROM documents GROUP BY 1
    """,
)
def dedup_exact(spark, sf_dir):
    """Exact dedup: one shuffle keyed on the content hash; survivors are the
    min doc_id per group (deterministic canonical pick)."""
    return exact_dedup_groups(load(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Word n-gram Jaccard — inverted-index join (the exact-similarity baseline).
# ---------------------------------------------------------------------------
def _doc_grams(
    docs: DataFrame, n: int, text_col: str, id_col: str
) -> tuple[DataFrame, F.Column]:
    """``(tokenized, grams)``: the (doc_id, __toks) frame with docs of < n
    tokens dropped (mirrors the oracle's len(arr) >= n guard), and the
    Column of each doc's distinct word n-grams over it. Every shingle form
    is ``tokenized.select("doc_id", f(grams))``, so it stays one projection.

    Tokenizes ONCE into a rider column (r11): the length guard and the
    n-gram build previously each evaluated normalize+split — common
    subexpression elimination works within one projection, not across a
    Filter and the Project above it, so every doc paid the regex
    whitespace collapse and tokenization twice."""
    docs = spread(docs)  # shingling is CPU-bound; don't let a one-row-group scan serialize it
    toks = F.col("__toks")
    tokenized = docs.select(
        F.col(id_col).alias("doc_id"),
        T.tokens(T.normalize(F.col(text_col))).alias("__toks"),
    ).filter(F.size(toks) >= n)
    return tokenized, F.array_distinct(T.token_ngrams(toks, n))


def shingles(docs: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc_id, shingle): distinct word n-gram shingles per doc, one row
    each — :func:`shingle_sets`' sets exploded (unsorted)."""
    tokenized, grams = _doc_grams(docs, n, text_col, id_col)
    return tokenized.select("doc_id", F.explode(grams).alias("shingle"))


def shingle_sets(
    docs: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, sl0): each doc's SORTED distinct shingle set as one array —
    :func:`shingles` minus the explode, for consumers that want per-doc
    sets (r12). ``sort_array`` over the same distinct grams is
    element-identical to re-collecting the exploded relation
    (``sort_array(collect_set(shingle))``), and the < n-token guard drops
    the same docs — so set-group pipelines built on either source produce
    identical groups. The point is shuffle shape: the explode →
    groupBy(doc_id) round trip re-exchanged the full shingle payload just
    to reassemble arrays this projection already holds."""
    tokenized, grams = _doc_grams(docs, n, text_col, id_col)
    return tokenized.select("doc_id", F.sort_array(grams).alias("sl0"))


def jaccard_group_graph(
    sh: DataFrame, threshold: float, max_posting: int | None = 1000
) -> tuple[DataFrame, DataFrame]:
    """Exact-duplicate-contracted Jaccard graph over an inverted index.

    Groups docs by identical (capped) shingle SET and computes exact Jaccard
    once per distinct set pair. Returns ``(groups, gq)``:

    - ``groups(gid, docs, n)``: one row per distinct capped shingle set;
      ``gid`` = min doc_id of the group (so a group's gid is also the min
      over its members), ``docs`` = sorted member ids, ``n`` = set size.
    - ``gq(ga, gb, jaccard_ppm)``: CROSS-group pairs meeting the threshold.
      Within-group pairs are implicitly Jaccard 1.0 (identical sets) and are
      never enumerated here.

    Why contract: Jaccard depends only on the two shingle sets, and web-scale
    corpora are clone-dense — the r9 sf10 rehearsal's 100-clone groups put
    3.6B rows through the doc-level posting self-join and 62 GB through one
    local shuffle before this rewrite; at group level the same corpus is a
    ~10M-row join. The df >= ``max_posting`` stop-shingle cap (see
    ``jaccard_pairs``) is still applied at DOC level before grouping, so the
    capped shingle universe — and therefore every emitted value — is
    unchanged. The DuckDB oracles perform the identical collapse.
    """
    # the shingle relation feeds the hot-list agg and the per-doc set build:
    # persist so the explode runs once. LAZY (r11): the set build's anti-join
    # DEPENDS on the hot broadcast, so AQE materializes the hot stage first —
    # that stage populates this cache and the set build reads it; the stages
    # are strictly ordered, so there is no concurrent-recompute race and the
    # former eager count was one whole extra materialization pass.
    sh = persist(sh)
    if max_posting is not None:
        hot = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") >= max_posting)
            .select("shingle")
        )
        # dedup_ngram_jaccard: hot's estimate is the shingle relation's
        # size, so without it this plans as a sort-merge join whose two leaf
        # stages both recompute the lazy sh persist.
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    dl = sh.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("shingle")).alias("sl")
    )
    return _group_graph_tail(dl, threshold)


def jaccard_group_graph_sets(
    docs: DataFrame,
    threshold: float,
    max_posting: int | None = 1000,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """:func:`jaccard_group_graph` built from per-doc shingle ARRAYS (r12):
    same (groups, gq) output, one fewer full-payload exchange.

    The exploded-relation form pays explode → groupBy(doc_id) — a complete
    shuffle of every (doc_id, shingle) string — just to reassemble arrays
    the shingling projection already holds. Here :func:`shingle_sets`
    keeps the set as a column; the hot-shingle cap becomes an in-plan
    ``array_except`` against the ONE-row collect_set of hot shingles
    (broadcast — the same fits-in-a-broadcast envelope the exploded form's
    ``F.broadcast(hot)`` anti-join already assumed). Equivalences: df
    counts explode the same per-doc-distinct sets; ``array_except``
    preserves the (sorted, distinct) left side minus hot entries — equal
    to the anti-join + re-collect; docs whose every shingle is hot drop
    out (size = 0 filter), exactly as the anti-join left them with no rows
    to collect. A/B (interleaved, groups asserted identical): sf0.1
    1.39/2.75 → 1.11/2.35 s min/median; sf3 (clone-dense, large hot list)
    8.98 → 7.48 s min."""
    # feeds the hot aggregate AND the capped-set projection. LAZY: the
    # projection depends on the hot broadcast (a one-row aggregate, which
    # Spark estimates at one row and so broadcasts at any threshold), so
    # the hot stage materializes the cache first and the projection reads
    # it — strictly ordered, the same rule as jaccard_group_graph's sh
    # persist (r11).
    da = persist(shingle_sets(docs, n, text_col, id_col))
    if max_posting is not None:
        hot = (
            da.select(F.explode("sl0").alias("shingle"))
            .groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") >= max_posting)
            .agg(
                F.coalesce(
                    F.collect_set("shingle"), F.array().cast("array<string>")
                ).alias("__hot")
            )
        )
        dl = (
            da.crossJoin(hot)
            .select(
                "doc_id",
                F.sort_array(F.array_except("sl0", "__hot")).alias("sl"),
            )
            .filter(F.size("sl") > 0)
        )
    else:
        dl = da.select("doc_id", F.col("sl0").alias("sl"))
    return _group_graph_tail(dl, threshold)


def _group_graph_tail(
    dl: DataFrame, threshold: float
) -> tuple[DataFrame, DataFrame]:
    """Shared (groups, gq) tail over a (doc_id, sl) set relation — the
    set-group collapse plus the group-level posting join."""
    groups = dl.groupBy("sl").agg(
        F.min("doc_id").alias("gid"),
        F.sort_array(F.collect_list("doc_id")).alias("docs"),
    )
    # feeds the posting join (via sl), the expansion, and isolated-group
    # handling — one eager persist kills in-flight recompute of the corpus
    # scan + two shuffles behind it
    groups = persist(
        groups.select("gid", "docs", F.size("sl").alias("n"), "sl"), eager=True
    )
    gsh = groups.select("gid", "n", F.explode("sl").alias("shingle"))
    a, b = gsh.alias("a"), gsh.alias("b")
    # Integer ppm, filtered on the same integer expression in both engines:
    # floor(j * 1e6) >= thr_ppm <=> j >= thr_ppm/1e6, so the pair set equals
    # the unrounded-threshold set while the emitted value is representation-
    # proof (no rounded doubles in hash-compared output).
    thr_ppm = int(round(threshold * 1_000_000))
    gcommon = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.gid") < F.col("b.gid")),
        )
        .groupBy(
            F.col("a.gid").alias("ga"),
            F.col("b.gid").alias("gb"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("common"))
    )
    gq = gcommon.select(
        "ga",
        "gb",
        F.expr("CAST(common * 1000000L div (na + nb - common) AS BIGINT)").alias(
            "jaccard_ppm"
        ),
    ).filter(F.col("jaccard_ppm") >= F.lit(thr_ppm))
    return groups.select("gid", "docs", "n"), gq


def jaccard_pairs(
    sh: DataFrame, threshold: float, max_posting: int | None = 1000
) -> DataFrame:
    """Exact Jaccard over an inverted-index self-join.

    Scale, layer 1 (hot-shingle cap): a corpus-frequent shingle makes the
    posting self-join quadratic in its posting length, so postings with
    document frequency >= ``max_posting`` are dropped from the index first
    (stop-shingle cap, on by default). Semantics stay exact over the capped
    shingle universe: per-doc sizes and intersections are both computed
    post-cap, so the Jaccard value is internally consistent; a shingle
    shared by >= max_posting docs carries ~zero similarity signal anyway
    (it's corpus boilerplate). The HOT list itself is tiny by construction
    (<= total_postings / max_posting entries), so the cap is a map-combined
    groupBy plus a broadcast LEFT ANTI — no wide exchange of the posting
    relation for the cap at all. ``max_posting=None`` disables the cap.

    Scale, layer 2 (exact-duplicate contraction, r9): the cap bounds a
    shingle's posting length but not CLONE density — a corpus where every
    doc has k exact copies still pays k^2 per shared shingle under the cap.
    The pair enumeration therefore runs on the set-group graph
    (``jaccard_group_graph``): posting join once per distinct shingle set,
    within-group pairs emitted as Jaccard 1.0 by construction, qualifying
    cross-group set pairs expanded back to doc pairs. Output rows are
    identical to the direct doc-level join's."""
    groups, gq = jaccard_group_graph(sh, threshold, max_posting)
    ga = groups.select(F.col("gid").alias("ga"), F.col("docs").alias("docs_a"))
    gb = groups.select(F.col("gid").alias("gb"), F.col("docs").alias("docs_b"))
    cross = (
        gq.join(ga, "ga")
        .join(gb, "gb")
        .select("jaccard_ppm", F.explode("docs_a").alias("da"), "docs_b")
        .select("jaccard_ppm", "da", F.explode("docs_b").alias("db"))
        .select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
            "jaccard_ppm",
        )
    )
    thr_ppm = int(round(threshold * 1_000_000))
    if thr_ppm > 1_000_000:
        return cross  # identical-set pairs (ppm = 1e6) can't qualify
    within = (
        groups.filter(F.size("docs") >= 2)
        .select(F.explode("docs").alias("da"), "docs")
        .select("da", F.explode("docs").alias("db"))
        .filter(F.col("da") < F.col("db"))
        .select(
            F.col("da").alias("doc_a"),
            F.col("db").alias("doc_b"),
            F.lit(1_000_000).cast("long").alias("jaccard_ppm"),
        )
    )
    return cross.unionByName(within)


@q(
    "dedup_ngram_jaccard",
    """
    WITH toks AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') arr
                  FROM documents),
    sh0 AS MATERIALIZED (SELECT DISTINCT doc_id,
             unnest(list_transform(generate_series(1, greatest(len(arr)-2,1)),
                                   i -> arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2])) AS shingle
           FROM toks WHERE len(arr) >= 3),
    -- df cap as a grouped semi-join, NOT count(*) OVER (PARTITION BY
    -- shingle): the window form sorts the full shingle stream (26M rows at
    -- the sf10 rehearsal) in one operator and was the oracle's dominant
    -- spill source; group-then-join keeps the identical df<1000 semantics
    -- at a fraction of the working set (same rewrite the CC-chain prefix
    -- got in r7, operators/graph.py:_CC_EDGE_CTES).
    df AS MATERIALIZED (SELECT shingle FROM sh0 GROUP BY 1 HAVING count(*) < 1000),
    sh AS MATERIALIZED (SELECT s.doc_id, s.shingle FROM sh0 s JOIN df USING (shingle)),
    -- Set-group collapse: the doc-level posting self-join is Sum C(df,2)
    -- intermediate rows — 3.6 BILLION at the sf10 rehearsal's 100-clone
    -- density (>1h of oracle wall). Jaccard only depends on the two
    -- shingle SETS, so group docs by identical capped shingle set, run the
    -- posting join + exact Jaccard at set level (clone corpora collapse
    -- ~100x), and expand qualifying set pairs back to doc pairs. Same-set
    -- pairs have common = na = nb = n, so ppm = n*1e6 // n = 1000000
    -- exactly. Every emitted (doc_a, doc_b, jaccard_ppm) row is identical
    -- to the direct form's.
    dl AS MATERIALIZED (SELECT doc_id, list(shingle ORDER BY shingle) AS sl
                        FROM sh GROUP BY doc_id),
    g AS MATERIALIZED (SELECT min(doc_id) AS gid, sl,
                              list(doc_id ORDER BY doc_id) AS docs
                       FROM dl GROUP BY sl),
    gsh AS MATERIALIZED (SELECT gid, unnest(sl) AS shingle, len(sl) AS n FROM g),
    gpairs AS (SELECT a.gid ga, b.gid gb, a.n na, b.n nb, count(*) AS common
               FROM gsh a JOIN gsh b ON a.shingle = b.shingle AND a.gid < b.gid
               GROUP BY 1, 2, 3, 4),
    gq AS (SELECT ga, gb,
                  CAST(common * 1000000 // (na + nb - common) AS BIGINT) AS jaccard_ppm
           FROM gpairs
           WHERE common * 1000000 // (na + nb - common) >= 200000)
    SELECT least(ua.da, ub.db) AS doc_a, greatest(ua.da, ub.db) AS doc_b,
           q.jaccard_ppm
    FROM gq q JOIN g a ON a.gid = q.ga JOIN g b ON b.gid = q.gb,
         UNNEST(a.docs) AS ua(da), UNNEST(b.docs) AS ub(db)
    UNION ALL
    SELECT ua.da AS doc_a, ub.db AS doc_b, CAST(1000000 AS BIGINT) AS jaccard_ppm
    FROM g, UNNEST(docs) AS ua(da), UNNEST(docs) AS ub(db)
    WHERE ua.da < ub.db AND 1000000 >= 200000
    """,
)
def dedup_ngram_jaccard(spark, sf_dir):
    """Exact n-gram Jaccard baseline with the hot-shingle cap on (df < 1000,
    mirrored in the oracle SQL so parity holds even when the cap fires)."""
    return jaccard_pairs(shingles(load(spark, sf_dir, "documents"), 3), 0.2, max_posting=1000)


# ---------------------------------------------------------------------------
# MinHash + LSH — the approximate scale path.
# ---------------------------------------------------------------------------
# Portable hash family (engine-independent — DuckDB replays it bit-for-bit,
# so LSH candidate generation itself is oracle-checkable, same discipline as
# the winnowing fingerprints in operators/textops.py):
#   base(shingle) = polynomial over char codes, base 257, mod P (2^31-1)
#   h_i(shingle)  = (A_i * base + B_i) mod P      (universal family)
#   band_hash     = polynomial combine of the band's 4 values, base 1e6+3 mod P
# All intermediates fit in signed 64-bit (P ~ 2^31, A_i < P → products < 2^62),
# so Spark longs and DuckDB BIGINTs agree exactly.
# Single source of truth: functions/text.py owns the portable family's
# modulus/base (_poly_hash_col delegates to text.poly_hash) — re-declaring
# the literals here would let one edit silently break Spark/oracle parity
# for minhash, simhash, and rolling fingerprints (r4 ADVICE).
MINHASH_P = T.POLY_MOD
MINHASH_CHAR_BASE = T.POLY_BASE
MINHASH_BAND_BASE = 1_000_003


def _minhash_seeds(num_hashes: int = 64) -> list[tuple[int, int]]:
    """Deterministic (A_i, B_i) family constants via a fixed LCG — generated
    once in Python and inlined into BOTH the Spark expressions and the DuckDB
    oracle SQL, so the two engines share the family by construction."""
    seeds, s = [], 1234567
    for _ in range(num_hashes):
        s = (1103515245 * s + 12345) % (1 << 31)
        a = (s % (MINHASH_P - 1)) + 1
        s = (1103515245 * s + 12345) % (1 << 31)
        seeds.append((a, s % MINHASH_P))
    return seeds


def _poly_hash_col(c) -> F.Column:
    """Char-polynomial hash mod P — the shared portable family
    (:func:`functions.text.poly_hash`; same base/modulus constants)."""
    return T.poly_hash(c)


def minhash_signatures(
    docs: DataFrame, num_hashes: int = 64, shingle_n: int = 3,
    text_col: str = "text", id_col: str = "doc_id",
    shingle_rel: DataFrame | None = None,
) -> DataFrame:
    """num_hashes seeded min-hashes over word shingles, as one array column.

    The variable-length shingle string is hashed ONCE to a base value; the
    num_hashes family is then one multiply-add-mod each over the fixed-width
    long — per-row cost doesn't scale with num_hashes × string length.

    Two shuffle-equivalent shapes, picked by ``shingle_rel``:

    - default (``shingle_rel=None``): SHUFFLE-FREE per-doc array pipeline —
      hash the doc's distinct-shingle array into a long array with ONE
      ``transform``, then take num_hashes ``array_min(transform(...))``
      mins over that fixed-width array in the same projection. No explode,
      no exchange; the whole signature is a narrow map over the scan (r6:
      1.06 s vs 1.73 s for the agg shape at sf0.1, bit-identical output).
      (The naive per-hash form that re-tokenizes under every min is the one
      that's orders of magnitude slower — hashing to ``hb`` first is what
      makes this shape win.)
    - ``shingle_rel`` given: reuse the existing exploded (doc_id, shingle)
      relation (the batch LSH pipeline persists it for the verify stage) via
      explode-then-aggregate: ONE partial+final hash aggregate with
      num_hashes `min` columns — linear in total shingle count, map-side
      combined, flat codegen.

    Both shapes compute the identical (A_i*hb + B_i) % P family, so their
    outputs are equal row-for-row and either satisfies the shared oracle."""
    # Wide hash families are built as ONE parsed SQL string per projection
    # (r6): the Column-operator form costs a Py4J round trip per operator —
    # ~1 s of driver time per plan BUILD for a 64-hash family, paid before
    # any execution and re-paid every time the bench/driver rebuilds the
    # plan. The strings parse to the identical expression trees, so the
    # executed plan and every result byte are unchanged.
    seeds = _minhash_seeds(num_hashes)
    if shingle_rel is None:
        tokenized, grams = _doc_grams(docs, shingle_n, text_col, id_col)
        base = tokenized.select(
            "doc_id", F.transform(grams, _poly_hash_col).alias("hb")
        )
        mins = ", ".join(
            f"array_min(transform(hb, h -> (h * {a}L + {b}L) % {MINHASH_P}L))"
            for (a, b) in seeds
        )
        return base.selectExpr("doc_id", f"array({mins}) AS minhash")
    pre = shingle_rel.select("doc_id", _poly_hash_col(F.col("shingle")).alias("hb"))
    agg = pre.groupBy("doc_id").agg(
        *[
            F.expr(f"min((hb * {a}L + {b}L) % {MINHASH_P}L)").alias(f"h{i}")
            for i, (a, b) in enumerate(seeds)
        ]
    )
    arr = ", ".join(f"h{i}" for i in range(num_hashes))
    return agg.selectExpr("doc_id", f"array({arr}) AS minhash")


def lsh_band_keys(sigs: DataFrame, bands: int = 16, num_hashes: int = 64) -> DataFrame:
    """(doc_id, band, band_hash) — the banded LSH key relation shared by the
    batch candidate join and the streaming near-dup index (which persists
    exactly these rows, so batch and stream agree on what collides)."""
    rows_per_band = num_hashes // bands

    def band_hash(b: int) -> str:
        acc = f"minhash[{b * rows_per_band}]"
        for j in range(1, rows_per_band):
            acc = f"(({acc}) * {MINHASH_BAND_BASE}L + minhash[{b * rows_per_band + j}]) % {MINHASH_P}L"
        return acc

    # one parsed string, not bands x rows_per_band Py4J-built operators
    # (same driver-build rationale as minhash_signatures; tree identical)
    arr = ", ".join(band_hash(b) for b in range(bands))
    return sigs.select(
        "doc_id",
        F.expr(f"posexplode(array({arr}))").alias("band", "band_hash"),
    )


def lsh_candidate_pairs(sigs: DataFrame, bands: int = 16) -> DataFrame:
    """Band the signature, hash each band, equi-join on (band, hash). A pair
    colliding in >= 1 band is a candidate. Scale: |bands| rows per doc, one
    shuffle on the band hash — never quadratic. Band-hash collisions across
    unequal bands only add candidates, which exact verification removes —
    and both engines compute the identical collision set."""
    banded = lsh_band_keys(sigs, bands)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def minhash_lsh_dedup(
    docs: DataFrame, threshold: float = 0.2, num_hashes: int = 64, bands: int = 16
) -> DataFrame:
    """Candidates via LSH, then exact-Jaccard verification of candidates only
    (the standard verify step — precision 1.0, recall set by the band curve).

    ENGINE-side set-group contraction (r11), mirroring the r9 oracle:
    signatures, band hashes, candidacy, and exact Jaccard depend only on a
    doc's shingle SET, so the whole pipeline runs once per DISTINCT set
    (gid = min member doc_id) and qualifying set pairs expand back to doc
    pairs at the end — same-set pairs at exactly 1_000_000 ppm, cross-set
    pairs at the group pair's ppm. On a clone-dense corpus the collapse is
    ~clones×. The former doc-level plan survived the sf10 rehearsal by
    brute width (396M pre-distinct band-join rows) but died at sf30: the
    band self-join emits C(k,2)·bands rows per k-clone group (3.6B rows at
    300 clones) and ~20 GB of doc-level cached intermediates saturated the
    single-host executor heap until a small broadcast build OOMed. At
    group level the same corpus is a few thousand signatures. The only
    corpus-wide work left is the shingle scan and one groupBy(doc) →
    groupBy(set) cascade — both linear, both map-combinable. At cluster
    scale the group relation is the one staged intermediate (a
    parquet/checkpoint write).

    The group relation (sorted distinct shingle set + member list) feeds
    five consumers in one job — persist it eagerly or concurrent stages
    race the cold cache and recompute the corpus scan per branch."""
    # Per-doc sets come straight from the shingling projection (r12):
    # sort_array(array_distinct(grams)) is element-identical to
    # re-collecting the exploded relation (collect_set over shingles()'s
    # per-doc-distinct stream), so the former explode -> groupBy(doc_id)
    # full-payload exchange is gone. There is NO hot cap on this path, so
    # no posting pass needs the exploded form at all.
    dl = shingle_sets(docs, 3).select("doc_id", F.col("sl0").alias("sl"))
    # Signatures ride INSIDE the persisted group projection (r11): each
    # group already carries its sorted distinct shingle set ``sl``, so hash
    # it to a long array with one ``transform`` and take the num_hashes
    # mins as array expressions — the shuffle-free shape
    # minhash_signatures uses for raw docs — computed ONCE when the cache
    # materializes. The former explode(sl) -> groupBy(gid) aggregate
    # re-exchanged the whole group-shingle relation just to recompute the
    # per-group min of values already sitting in one row; and computing
    # the array form OUTSIDE the cache would re-run the 64-min family once
    # per side of the band self-join (no exchange left to reuse). The min
    # over the identical hash set is value-identical, so signatures (and
    # everything banded from them) are unchanged bit for bit.
    seeds = _minhash_seeds(num_hashes)
    mins = ", ".join(
        f"array_min(transform(hb, h -> (h * {a}L + {b}L) % {MINHASH_P}L))"
        for (a, b) in seeds
    )
    groups = persist(
        dl.groupBy("sl")
        .agg(
            F.min("doc_id").alias("gid"),
            F.sort_array(F.collect_list("doc_id")).alias("docs"),
        )
        .select(
            "gid",
            "docs",
            "sl",
            F.size("sl").alias("n"),
            F.transform(F.col("sl"), _poly_hash_col).alias("hb"),
        )
        .selectExpr("gid", "docs", "sl", "n", f"array({mins}) AS minhash"),
        eager=True,
    )
    gsigs = groups.select(F.col("gid").alias("doc_id"), "minhash")
    gcands = lsh_candidate_pairs(gsigs, bands)

    thr_ppm = int(round(threshold * 1_000_000))
    ga = groups.select(
        F.col("gid").alias("doc_a"), F.col("sl").alias("sl_a"), F.col("n").alias("na")
    )
    gb = groups.select(
        F.col("gid").alias("doc_b"), F.col("sl").alias("sl_b"), F.col("n").alias("nb")
    )
    gver = (
        gcands.join(ga, "doc_a")
        .join(gb, "doc_b")
        .select(
            F.col("doc_a").alias("ga"),
            F.col("doc_b").alias("gb"),
            F.size(F.array_intersect("sl_a", "sl_b")).cast("long").alias("common"),
            "na",
            "nb",
        )
        .select(
            "ga",
            "gb",
            F.expr("CAST(common * 1000000L div (na + nb - common) AS BIGINT)").alias(
                "jaccard_ppm"
            ),
        )
        .filter(F.col("jaccard_ppm") >= thr_ppm)
    )
    # Expansion: cross-group pairs via the two member lists (groups are
    # disjoint, so least/greatest emits each unordered doc pair once);
    # same-set pairs are Jaccard 1.0 by construction and bypass the band
    # join entirely — the oracle's trailing UNION ALL, including its
    # thr > 1.0 guard.
    da = groups.select(F.col("gid").alias("ga"), F.col("docs").alias("docs_a"))
    db = groups.select(F.col("gid").alias("gb"), F.col("docs").alias("docs_b"))
    cross = (
        gver.join(da, "ga")
        .join(db, "gb")
        .select(F.explode("docs_a").alias("da"), "docs_b", "jaccard_ppm")
        .select("da", F.explode("docs_b").alias("db"), "jaccard_ppm")
        .select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
            "jaccard_ppm",
        )
    )
    intra = (
        groups.filter(F.size("docs") >= 2)
        .select(F.explode("docs").alias("da"), "docs")
        .select("da", F.explode("docs").alias("db"))
        .filter(F.col("da") < F.col("db"))
        .select(
            F.col("da").alias("doc_a"),
            F.col("db").alias("doc_b"),
            F.lit(1_000_000).cast("long").alias("jaccard_ppm"),
        )
    )
    if thr_ppm > 1_000_000:
        intra = intra.filter(F.lit(False))
    return cross.unionAll(intra)


def _minhash_lsh_sql(
    threshold: float = 0.2, num_hashes: int = 64, bands: int = 16
) -> str:
    """DuckDB replay of the FULL MinHash-LSH pipeline — portable polynomial
    hash family, banding, candidate join, exact-Jaccard verify — so the
    approximate path is oracle-checked end to end (not rows-only)."""
    P, CB, BB = MINHASH_P, MINHASH_CHAR_BASE, MINHASH_BAND_BASE
    rows = num_hashes // bands
    seeds = _minhash_seeds(num_hashes)
    # per-shingle wide hash family: h{i} = (A_i*hb + B_i) mod P as 64 COLUMNS
    # over the ~tens-of-thousands distinct shingles — NOT a CROSS JOIN seeds
    # row expansion. The old sig CTE expanded |sh| x num_hashes rows through
    # one aggregate (1.7B rows at the sf10 rehearsal, the oracle's dominant
    # cost); the wide form is the same one-pass 64-min-column hash aggregate
    # the Spark side runs (minhash_signatures), value-identical per column.
    hs_cols = ",\n               ".join(
        f"(hb * {a} + {b}) % {P} AS h{i}" for i, (a, b) in enumerate(seeds)
    )
    min_cols = ", ".join(f"MIN(w.h{i}) AS h{i}" for i in range(num_hashes))

    def band_hash(b: int) -> str:
        acc = f"h{b * rows}"
        for j in range(1, rows):
            acc = f"(({acc}) * {BB} + h{b * rows + j}) % {P}"
        return acc

    band_branches = "\n               UNION ALL ".join(
        f"SELECT gid, {b} AS band, {band_hash(b)} AS band_hash FROM sigw"
        for b in range(bands)
    )
    thr = int(round(threshold * 1_000_000))
    return f"""
    WITH toks AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') arr
                  FROM documents),
    sh AS MATERIALIZED (SELECT DISTINCT doc_id,
             unnest(list_transform(generate_series(1, greatest(len(arr)-2,1)),
                                   i -> arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2])) AS shingle
           FROM toks WHERE len(arr) >= 3),
    -- Set-group collapse (r9, same trick as the ngram-Jaccard oracle):
    -- signatures, band hashes, candidacy, and exact Jaccard all depend
    -- ONLY on a doc's shingle SET, so the whole pipeline runs per distinct
    -- set (clone corpora collapse ~100x) and qualifying set pairs expand
    -- back to doc pairs at the end. Same-set pairs always collide in every
    -- band (identical signatures) and verify at ppm = n*1e6 // n = 1e6
    -- exactly; cross-set pairs verify via |A n B| over the two
    -- distinct-element lists — never a cand x postings x postings re-join
    -- (Sum(df^2) ~ 25B rows at the sf10 rehearsal's clone density).
    dl AS MATERIALIZED (SELECT doc_id, list(shingle ORDER BY shingle) AS sl
                        FROM sh GROUP BY doc_id),
    g AS MATERIALIZED (SELECT min(doc_id) AS gid, sl,
                              list(doc_id ORDER BY doc_id) AS docs
                       FROM dl GROUP BY sl),
    uniq AS (SELECT DISTINCT shingle FROM sh),
    base AS (SELECT shingle,
               list_reduce(
                 list_prepend(CAST(0 AS BIGINT),
                   list_transform(generate_series(1, length(shingle)),
                                  i -> CAST(ascii(substring(shingle, i, 1)) AS BIGINT))),
                 (acc, c) -> (acc * {CB} + c) % {P}) AS hb
             FROM uniq),
    hsw AS (SELECT shingle,
               {hs_cols}
             FROM base),
    gsh AS (SELECT gid, unnest(sl) AS shingle FROM g),
    sigw AS MATERIALIZED (SELECT gs.gid, {min_cols}
            FROM gsh gs JOIN hsw w USING (shingle)
            GROUP BY gs.gid),
    banded AS MATERIALIZED ({band_branches}),
    gcand AS (SELECT DISTINCT a.gid ga, b.gid gb
              FROM banded a JOIN banded b
                ON a.band = b.band AND a.band_hash = b.band_hash AND a.gid < b.gid),
    gver AS (SELECT ga, gb,
                    CAST(common * 1000000 // (na + nb - common) AS BIGINT) AS jaccard_ppm
             FROM (SELECT ga, gb, len(list_intersect(a.sl, b.sl)) AS common,
                          len(a.sl) AS na, len(b.sl) AS nb
                   FROM gcand JOIN g a ON a.gid = ga JOIN g b ON b.gid = gb)
             WHERE common * 1000000 // (na + nb - common) >= {thr})
    SELECT least(ua.da, ub.db) AS doc_a, greatest(ua.da, ub.db) AS doc_b,
           v.jaccard_ppm
    FROM gver v JOIN g a ON a.gid = v.ga JOIN g b ON b.gid = v.gb,
         UNNEST(a.docs) AS ua(da), UNNEST(b.docs) AS ub(db)
    UNION ALL
    SELECT ua.da AS doc_a, ub.db AS doc_b, CAST(1000000 AS BIGINT) AS jaccard_ppm
    FROM g, UNNEST(docs) AS ua(da), UNNEST(docs) AS ub(db)
    WHERE ua.da < ub.db AND 1000000 >= {thr}
    """


@q("dedup_minhash_lsh", _minhash_lsh_sql())
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash-LSH near-dup pairs, exact-verified. Fully oracle-checked since
    round 3: the hash family is an explicit polynomial mod 2^31-1 (constants
    shared between engines), so DuckDB reproduces signatures, banding, the
    candidate set, AND the verified Jaccard values bit-for-bit. Tests still
    assert precision=1.0 / recall >= 0.9 vs the exact baseline."""
    return minhash_lsh_dedup(load(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# SimHash — Hamming-space near-dup signatures.
# ---------------------------------------------------------------------------
# 4 bands x 16 bits (r5, was 8x8): pigeonhole still finds EVERY pair with
# Hamming <= N_SIMHASH_BANDS-1 = 3 — the production threshold for 64-bit
# document simhash (Manku, Jain & Sarma, "Detecting Near-Duplicates for Web
# Crawling", WWW'07) — while random band collisions drop from p=1/2^8 to
# p=1/2^16 per band: candidate volume n^2*bands/2^bits falls 256x, the
# difference between a banded join and a disguised all-pairs at corpus scale
# (measured sf0.1: the 8x8 candidate join produced ~n^2/32 pairs).
N_SIMHASH_BANDS = 4
_BITS = 64 // N_SIMHASH_BANDS
SIMHASH_MAX_HAMMING = N_SIMHASH_BANDS - 1  # radius the banding guarantees


def simhash_bands(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash packed as 4x16-bit band values (band-join-ready, no
    sign-bit games). Token weights = term frequency; bit contributions summed
    per document via explode + 64 conditional sums (all codegen).

    Bit hashes come from the same portable polynomial family as MinHash
    (upgraded r4 per the r3 verdict): the token string is char-poly-hashed
    ONCE to ``hb``, then bit b is the parity of ``(hb*A_b + B_b) mod P`` —
    one multiply-add-mod per bit over a fixed-width long, and DuckDB replays
    the identical integer arithmetic (see the dedup_simhash oracle)."""
    docs = spread(docs)
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(T.tokens(T.normalize(F.col(text_col)))).alias("tok"),
    )
    # Hash the DISTINCT vocabulary, not every token instance (r6; the
    # DuckDB oracle always worked this way — uniq -> hash -> join). The
    # char-polynomial hash is an interpreted higher-order function (no
    # whole-stage codegen for lambda eval), so per-instance hashing was
    # the entry's dominant cost; vocabulary is smaller than the instance
    # stream by orders of magnitude in ANY corpus (zipf), so the poly
    # hash runs once per vocab word and the instance stream joins a
    # single extra long (``hb``). The 64 parity contributions stay INSIDE
    # the map-side-combined aggregate exactly as before — materializing
    # them as 64 join columns was measured 1.6x SLOWER at sf0.1 (wide
    # rows through the join defeat the narrow broadcast). Spark chooses
    # broadcast or shuffle for the vocab join by its size threshold.
    # Per-doc sums are unchanged integers -> signatures bit-identical.
    vocab = (
        toks.select("tok").distinct().withColumn("hb", _poly_hash_col(F.col("tok")))
    )
    toks = toks.join(vocab, "tok").select("doc_id", "hb")
    # expr-string forms: identical trees, one Py4J round trip per column
    # instead of per operator (see minhash_signatures' build-cost note)
    seeds = _minhash_seeds(64)
    bit_sums = toks.groupBy("doc_id").agg(
        *[
            F.expr(
                f"sum(CASE WHEN ((hb * {a}L + {b}L) % {MINHASH_P}L) % 2L = 1 "
                f"THEN 1 ELSE -1 END)"
            ).alias(f"s{i}")
            for i, (a, b) in enumerate(seeds)
        ]
    )
    bands = []
    for band in range(N_SIMHASH_BANDS):
        terms = " + ".join(
            f"(CASE WHEN s{band * _BITS + j} >= 0 THEN {1 << j}L ELSE 0L END)"
            for j in range(_BITS)
        )
        bands.append(f"({terms}) AS band{band}")
    return bit_sums.selectExpr("doc_id", *bands)


def simhash_pairs(sigs: DataFrame, max_hamming: int = SIMHASH_MAX_HAMMING) -> DataFrame:
    """Candidates share >= 1 of the 4 bands — by pigeonhole this finds
    *every* pair with Hamming <= 3, so the default filter loses nothing —
    then exact Hamming distance filter. (A larger ``max_hamming`` than the
    guaranteed radius returns only band-colliding pairs — recall is no
    longer total; Manku et al.'s k=3 is the radius this banding is sized
    for.)

    The full 4-band signature rides along both sides of the banded
    self-join (4 extra longs per exploded row), so Hamming distance is
    computed inline on the join output and the pair relation never joins
    back to the signature table — one self-join + one distinct instead of
    the former join → distinct → two signature re-joins (r6: two shuffles
    saved; at sf0.1 the entry is dominated by stage count, not data).
    Hamming filters BEFORE the distinct, so the dedup shuffle carries only
    surviving pairs. The signature relation still persists: it feeds both
    sides of the self-join and the 64-sum aggregate must run once."""
    sigs = persist(sigs, eager=True)
    band_cols = [f"band{b}" for b in range(N_SIMHASH_BANDS)]
    banded = sigs.select(
        "doc_id",
        *band_cols,
        F.posexplode(F.array(*[F.col(c) for c in band_cols])).alias("band", "val"),
    )
    a = banded.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(c).alias(f"a_{c}") for c in band_cols],
        "band",
        "val",
    )
    b = banded.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(c).alias(f"b_{c}") for c in band_cols],
        "band",
        "val",
    )
    ham = sum(
        F.bit_count(F.col(f"a_band{x}").bitwiseXOR(F.col(f"b_band{x}")))
        for x in range(N_SIMHASH_BANDS)
    )
    return (
        a.join(b, ["band", "val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", ham.cast("long").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash_group_pairs(
    docs: DataFrame,
    max_hamming: int = SIMHASH_MAX_HAMMING,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-duplicate-CONTRACTED SimHash pairs (r9 verdict item 2 — the
    same set-group rewrite that saved minhash/jaccard at sf10, applied to
    SimHash: the signature is a pure function of the token multiset, so
    docs with identical normalized text share one signature).

    Plan: group docs by normalized text -> one signature per GROUP (gid =
    min member id) -> pigeonhole band self-join + exact Hamming at group
    level -> expand qualifying group pairs back to doc pairs. Within-group
    pairs have Hamming 0 by construction and are emitted by expansion, never
    enumerated through the band join — on a clone-dense corpus (the sf10
    rehearsal's 100-clone groups) the candidate join shrinks ~clones^2 per
    group, which is what made the uncontracted entry's oracle die at sf10.
    Output is bit-identical to the uncontracted form: equal normalized text
    => equal signature => all bands shared and Hamming 0 <= max_hamming, so
    every within-group pair was already emitted; cross-group band sharing
    and Hamming are signature-level facts.

    Token-less groups (empty normalized text) produce no signature row —
    exactly as token-less docs never entered the uncontracted band join —
    so expansion is driven by groups that signed."""
    groups = docs.groupBy(
        T.normalize(F.col(text_col)).alias("__norm")
    ).agg(
        F.min(id_col).alias("gid"),
        F.sort_array(F.collect_list(id_col)).alias("docs"),
    )
    # feeds the signature build, both expansion branches, and the size
    # filter. LAZY (r11): simhash_pairs eagerly materializes the signature
    # cache right below, and its count reaches this relation through that
    # single subtree — populating this cache in the same job; the later
    # expansion branches then read it. One materialization job saved per
    # call with no concurrent-recompute window.
    groups = persist(groups)
    sigs = simhash_bands(
        groups.select(F.col("gid").alias("doc_id"), F.col("__norm").alias("text"))
    )
    # group-level band join (gid plays doc_id); simhash_pairs persists sigs
    gp = simhash_pairs(sigs, max_hamming=max_hamming)
    members = groups.select("gid", "docs")
    cross = (
        gp.join(members.withColumnsRenamed({"gid": "doc_a", "docs": "docs_a"}), "doc_a")
        .join(members.withColumnsRenamed({"gid": "doc_b", "docs": "docs_b"}), "doc_b")
        .select(F.explode("docs_a").alias("da"), "docs_b", "hamming")
        .select("da", F.explode("docs_b").alias("db"), "hamming")
        .select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
            "hamming",
        )
    )
    signed = sigs.select(F.col("doc_id").alias("gid"))
    within = (
        members.join(signed, "gid")
        .filter(F.size("docs") >= 2)
        .select(F.explode("docs").alias("doc_a"), "docs")
        .select("doc_a", F.explode("docs").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", F.lit(0).cast("long").alias("hamming"))
    )
    return cross.unionByName(within)


def _simhash_sql(max_hamming: int = SIMHASH_MAX_HAMMING) -> str:
    """DuckDB replay of the FULL SimHash pipeline — portable per-bit parity
    hashes, sign sums, band packing, pigeonhole candidate join, exact Hamming
    — so the signature path is oracle-checked end to end (r3 verdict item 6:
    same discipline that upgraded dedup_minhash_lsh in r3).

    Exact-duplicate-contracted (r9 verdict item 2, mirroring the engine's
    ``simhash_group_pairs``): the signature is a function of the token
    multiset, so docs are grouped by normalized text, signed once per group,
    band-joined at GROUP level, and qualifying group pairs are expanded back
    to doc pairs; within-group pairs are Hamming 0 by construction. The
    uncontracted band join put clones^2 candidate rows per clone group
    through the DISTINCT at the r9 sf10 rehearsal (100-clone groups) and
    died after 22 min; the contracted working set is ~clones^2 smaller
    while every emitted (doc_a, doc_b, hamming) row is unchanged."""
    P, CB = MINHASH_P, MINHASH_CHAR_BASE
    seeds = _minhash_seeds(64)
    # per-token wide parity family: c{i} = +/-1 as 64 COLUMNS over unique
    # tokens — NOT a CROSS JOIN seeds row expansion (that pushed
    # |tok| x 64 ~ 3.8B rows through one aggregate at the sf10 rehearsal
    # and broke the oracle's memory/spill envelope; same fix as the
    # minhash oracle's sig CTE, and the same one-pass 64-sum-column
    # aggregate shape the Spark side runs)
    par_cols = ",\n               ".join(
        f"CASE WHEN ((hb * {a} + {b}) % {P}) % 2 = 1 THEN 1 ELSE -1 END AS c{i}"
        for i, (a, b) in enumerate(seeds)
    )
    sum_cols = ", ".join(f"SUM(w.c{i}) AS s{i}" for i in range(64))

    def band_val(b: int) -> str:
        terms = " + ".join(
            f"(CASE WHEN s{b * _BITS + j} >= 0 THEN (CAST(1 AS BIGINT) << {j}) ELSE 0 END)"
            for j in range(_BITS)
        )
        return f"CAST({terms} AS BIGINT)"

    band_branches = "\n              UNION ALL ".join(
        f"SELECT gid, {b} AS band, {band_val(b)} AS val FROM sigw"
        for b in range(64 // _BITS)
    )
    return f"""
    WITH norm AS (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
                  FROM documents),
    grp AS MATERIALIZED (SELECT norm, MIN(doc_id) AS gid,
                                list(doc_id ORDER BY doc_id) AS docs
                         FROM norm GROUP BY norm),
    tok AS (SELECT gid, tok
            FROM (SELECT gid, unnest(string_split(norm, ' ')) AS tok FROM grp)
            WHERE tok <> ''),
    uniq AS (SELECT DISTINCT tok FROM tok),
    base AS (SELECT tok,
               list_reduce(
                 list_prepend(CAST(0 AS BIGINT),
                   list_transform(generate_series(1, length(tok)),
                                  i -> CAST(ascii(substring(tok, i, 1)) AS BIGINT))),
                 (acc, c) -> (acc * {CB} + c) % {P}) AS hb
             FROM uniq),
    parw AS (SELECT tok,
               {par_cols}
             FROM base),
    sigw AS MATERIALIZED (SELECT t.gid, {sum_cols}
            FROM tok t JOIN parw w USING (tok)
            GROUP BY t.gid),
    bands AS MATERIALIZED ({band_branches}),
    cand AS (SELECT DISTINCT a.gid ga, b.gid gb
             FROM bands a JOIN bands b
               ON a.band = b.band AND a.val = b.val AND a.gid < b.gid),
    -- the Hamming threshold lives INSIDE the aggregate (HAVING), not in the
    -- outer WHERE: filters do not push below the lateral UNNESTs, so an
    -- outer predicate expands EVERY band-colliding group pair first — at
    -- the sf10 rehearsal (31-word vocab => 264k colliding pairs) that is
    -- a 2.6B-row intermediate and >100 GB before the filter runs. Same
    -- filter-before-expansion discipline as the minhash oracle's gver.
    gham AS (SELECT c.ga, c.gb,
                    CAST(SUM(bit_count(xor(ba.val, bb.val))) AS BIGINT) AS hamming
             FROM cand c
             JOIN bands ba ON ba.gid = c.ga
             JOIN bands bb ON bb.gid = c.gb AND bb.band = ba.band
             GROUP BY 1, 2
             HAVING CAST(SUM(bit_count(xor(ba.val, bb.val))) AS BIGINT) <= {max_hamming})
    SELECT least(ua.da, ub.db) AS doc_a, greatest(ua.da, ub.db) AS doc_b,
           h.hamming
    FROM gham h JOIN grp a ON a.gid = h.ga JOIN grp b ON b.gid = h.gb,
         UNNEST(a.docs) AS ua(da), UNNEST(b.docs) AS ub(db)
    UNION ALL
    SELECT ua.da AS doc_a, ub.db AS doc_b, CAST(0 AS BIGINT) AS hamming
    FROM grp g JOIN sigw s ON s.gid = g.gid,
         UNNEST(g.docs) AS ua(da), UNNEST(g.docs) AS ub(db)
    WHERE ua.da < ub.db
    """


_EDIT_PREFIX = 40   # compare normalized-text prefixes (edit distance is O(n*m))
_EDIT_BLOCK = 12    # blocking key: shared 12-char prefix
_EDIT_MAX = 5       # max edit distance to emit
_EDIT_MAX_BLOCK = 100  # hot-block cap (same discipline as hot shingles)


def edit_distance_pairs(
    docs: DataFrame,
    max_dist: int = _EDIT_MAX,
    prefix_len: int = _EDIT_PREFIX,
    block_len: int = _EDIT_BLOCK,
    max_block: int | None = _EDIT_MAX_BLOCK,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Fuzzy near-dup pairs by Levenshtein distance over normalized-text
    prefixes, with prefix blocking: only docs sharing the first
    ``block_len`` characters are compared, so candidate generation is an
    equi-join on the block key — bounded like every other pair finder here,
    never all-pairs. Distance is computed on ``prefix_len``-char prefixes
    (edit distance is O(n*m); bounding the operand caps per-pair cost).

    Natural text makes SHORT blocks hot ("the " opens a large share of
    English documents): at sf0.1, 4-char blocks put 816k pairs through
    Levenshtein where 12-char blocks leave 17k (measured — 48x). On top of
    the longer key, blocks with >= ``max_block`` members are dropped
    entirely (the hot-shingle cap's sibling; a block that common is
    boilerplate, not near-dup signal). Blocking trades recall for scale
    either way: an edit inside the first ``block_len`` chars hides a pair —
    the standard blocking caveat."""
    pre = docs.select(
        F.col(id_col).alias("doc_id"),
        F.substring(T.normalize(F.col(text_col)), 1, prefix_len).alias("pre"),
    ).withColumn("blk", F.substring(F.col("pre"), 1, block_len))
    if max_block is not None:
        from pyspark.sql import Window

        bfreq = F.count("*").over(Window.partitionBy("blk"))
        pre = pre.withColumn("__bf", bfreq).filter(F.col("__bf") < max_block).drop("__bf")
    pre = persist(pre, eager=True)  # feeds both join sides
    a = pre.select(F.col("doc_id").alias("doc_a"), F.col("pre").alias("pa"), "blk")
    b = pre.select(F.col("doc_id").alias("doc_b"), F.col("pre").alias("pb"), "blk")
    return (
        a.join(b, "blk")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", F.levenshtein("pa", "pb").cast("long").alias("edit_dist"))
        .filter(F.col("edit_dist") <= max_dist)
    )


@q(
    "dedup_edit_distance",
    f"""
    WITH pre AS (
      SELECT doc_id,
             substring(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), 1, {_EDIT_PREFIX}) AS pre
      FROM documents
    ),
    blk0 AS (SELECT doc_id, pre, substring(pre, 1, {_EDIT_BLOCK}) AS blk FROM pre),
    blk AS (SELECT doc_id, pre, blk FROM (
              SELECT *, count(*) OVER (PARTITION BY blk) AS bf FROM blk0
            ) WHERE bf < {_EDIT_MAX_BLOCK})
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(levenshtein(a.pre, b.pre) AS BIGINT) AS edit_dist
    FROM blk a JOIN blk b ON a.blk = b.blk AND a.doc_id < b.doc_id
    WHERE levenshtein(a.pre, b.pre) <= {_EDIT_MAX}
    """,
)
def dedup_edit_distance(spark, sf_dir):
    """Edit-distance near-dup pairs (Levenshtein <= 5 over 40-char
    normalized prefixes, 12-char prefix blocking with a hot-block cap,
    both mirrored in the oracle). Both engines implement unit-cost
    Levenshtein identically, so the entry is fully oracle-checked
    including the distances."""
    return edit_distance_pairs(load(spark, sf_dir, "documents"))


@q("dedup_simhash", _simhash_sql())
def dedup_simhash(spark, sf_dir):
    """SimHash near-dup pairs (Hamming <= 3 over 64 bits, Manku et al.'s
    production radius; 4x16-bit pigeonhole bands). Fully oracle-checked
    since r4: portable polynomial bit hashes mean DuckDB reproduces
    signatures, band values, the candidate set AND the Hamming distances
    bit-for-bit. Exact-duplicate-contracted since r10 (engine AND oracle —
    see ``simhash_group_pairs``). Tests additionally assert the known
    exact near-dup pairs are recovered."""
    return simhash_group_pairs(load(spark, sf_dir, "documents"))
