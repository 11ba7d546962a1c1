"""Similarity search over an ``array<float>`` embedding column.

- **Brute-force cosine top-k** — the exact baseline: broadcast the query set,
  one scan of the corpus, per-query top-k via window. Oracle-checked.
- **Random-hyperplane LSH ANN** — the scale path: 16 deterministic
  hyperplanes -> 16 sign bits -> 4 bands; candidates share >= 1 band; exact
  cosine re-rank of candidates only. The planes are module-level constants so
  the DuckDB oracle reproduces the identical computation — the ANN query is
  fully oracle-checked, not rows-only.
- **Per-label centroids** — posexplode + avg, the embedding-aggregation
  pattern (oracle-checked).

All vector math is double-precision Column expressions
(:mod:`mta_rtf_dbt_spark.functions.vectors`); similarities are rounded to 6
decimals *before* ranking, with vec_id tiebreakers, so ordering is identical
across engines (D5 discipline).

Scale posture: brute force is O(|corpus| x k_queries) with zero shuffles
(broadcast queries, map-side top-k via AQE-coalesced window on query_id);
LSH is one explode (4 rows/vector) + one equi-join on (band, signature).
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mta_rtf_dbt_spark.functions import vectors as V
from mta_rtf_dbt_spark.registry import persist, q
from mta_rtf_dbt_spark.sources.registry import load, spread

DIM = 64          # testdata embedding dimensionality (TESTDATA.md)
N_PLANES = 16
N_BANDS = 4

# Deterministic hyperplanes, shared verbatim with the SQL oracle.
_rng = random.Random(7)
PLANES: list[list[float]] = [
    [round(_rng.uniform(-1.0, 1.0), 6) for _ in range(DIM)] for _ in range(N_PLANES)
]

# Near-dup banding: same band count but 8 sign bits per band (32 planes).
# Candidate pairs scale ~ n²·bands/2^bits — doubling bits/band cut measured
# candidates 13x on the testdata corpus while keeping >=0.89 recall at the
# cos>=0.95 regime near-dup targets (p_match = (1-acos(s)/pi)^bits per band).
# At 100 TB, bits/band is the knob that grows with log2(corpus size).
ND_N_PLANES = 32
ND_N_BANDS = 4
_rng_nd = random.Random(11)
ND_PLANES: list[list[float]] = [
    [round(_rng_nd.uniform(-1.0, 1.0), 6) for _ in range(DIM)] for _ in range(ND_N_PLANES)
]


def cosine_topk(
    corpus: DataFrame, queries: DataFrame, k: int = 5,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k: broadcast queries against one corpus scan."""
    corpus = spread(corpus)  # vector math is CPU-bound; spread a skinny scan
    # knn_brute_force_cosine: the query side is a filter of the corpus, so
    # Spark estimates it at the corpus size; past the threshold the cross
    # join would plan as a CartesianProduct.
    qd = F.broadcast(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    )
    cd = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    sim = F.round(V.cosine(F.col("cv"), F.col("qv")), 6)
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id").asc())
    return (
        cd.crossJoin(qd)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", sim.alias("sim"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "sim", F.col("rn").alias("rank"))
    )


_COS_SQL = (
    "list_dot_product(cv, qv) / (sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(qv, qv)))"
)

_KNN_SQL = f"""
WITH qs AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
            FROM embeddings WHERE vec_id < 5),
cs AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id, ROUND({_COS_SQL}, 6) AS sim
  FROM cs, qs WHERE neighbor_id != query_id
)
SELECT query_id, neighbor_id, sim,
       CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS INTEGER) AS rank
FROM scored
QUALIFY rank <= 5
"""


@q("knn_brute_force_cosine", _KNN_SQL)
def knn_brute_force_cosine(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    return cosine_topk(emb, emb.filter(F.col("vec_id") < 5), k=5)


# ---------------------------------------------------------------------------
# Random-hyperplane LSH ANN.
# ---------------------------------------------------------------------------
# Sign decisions integerize each product at 1e9 (round-then-long) so the dot
# is an order-free exact integer sum — a hash aggregate may combine in any
# order on either engine and the sign bit still matches bit-for-bit.
_DOT_SCALE = 1_000_000_000


def lsh_signatures(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: list[list[float]] = PLANES,
    n_bands: int = N_BANDS,
) -> DataFrame:
    """(id, band, band_signature): sign bit per hyperplane, packed per band.

    Shape (r11): each plane dot is ONE array expression over the vector —
    ``aggregate(zip_with(vec, coeff_literals, ...))`` — so the whole
    signature is a narrow projection over the scan with ZERO exchanges
    (the int8_rerank qdot idiom). The previous shape posexploded the
    vectors (|rows|·dim rows) and hash-aggregated |planes| sums back per
    id — one full shuffle of the exploded vector relation that this form
    simply never creates; at 100 TB the explode+aggregate exchange was
    the signature build's only wide stage. Per-product integerization
    (round-then-long at 1e9) and the order-free integer sums are
    unchanged term for term, so signatures are bit-identical to the SQL
    oracle's formulation.

    Fixed-dim assumption (r12, ADVICE): ``zip_with`` pads the shorter side
    with NULL, so a vector whose length differs from the plane dimension
    yields a NULL dot (the old posexplode+join summed present positions,
    missing = 0). Every producer in this repo emits exactly ``len(planes[i])``
    dims (EMB_DIM fixtures) and the oracle shares the assumption; guard
    with ``size(vec) = dim`` before calling if variable-length vectors ever
    become possible."""
    n_planes = len(planes)
    bits_per_band = n_planes // n_bands
    # wide families as parsed SQL strings — identical trees, one Py4J
    # round trip per column instead of per operator (the same driver-side
    # plan-build tax measured and documented in operators/dedup.py r6)
    def dot_expr(i: int) -> str:
        coefs = ", ".join(repr(float(x)) for x in planes[i])
        return (
            f"aggregate(zip_with(`{vec_col}`, array({coefs}), "
            f"(x, c) -> CAST(round(CAST(x AS DOUBLE) * c * {_DOT_SCALE}, 0) AS BIGINT)), "
            f"0L, (acc, x) -> acc + x) AS d{i}"
        )

    dots = df.selectExpr(
        f"`{id_col}` AS vid", *[dot_expr(i) for i in range(n_planes)]
    )
    band_sigs = []
    for band in range(n_bands):
        terms = " + ".join(
            f"(CASE WHEN d{band * bits_per_band + j} >= 0 THEN {1 << j}L ELSE 0L END)"
            for j in range(bits_per_band)
        )
        band_sigs.append(f"({terms}) AS b{band}")
    arr = ", ".join(f"b{b}" for b in range(n_bands))
    return (
        dots.selectExpr("vid", *band_sigs)
        .select("vid", F.expr(f"posexplode(array({arr}))").alias("band", "band_sig"))
        .select("vid", F.col("band").cast("int").alias("band"), "band_sig")
    )


def ann_lsh_topk(
    corpus: DataFrame, queries: DataFrame, k: int = 5,
    id_col: str = "vec_id", vec_col: str = "embedding",
    queries_in_corpus: bool = False,
) -> DataFrame:
    """Candidates share >= 1 band signature with the query; exact cosine
    re-rank of the candidate set only.

    ``queries_in_corpus``: when every query row also appears in the corpus
    under the same id (the "search the corpus from within" shape), query
    signatures are sliced from the corpus signature relation by an id-join
    instead of recomputed — halving signature work."""
    sigs = lsh_signatures(spread(corpus), id_col, vec_col)
    if queries_in_corpus:
        # feeds both sides of the band join, but the probe side DEPENDS on
        # the broadcast side (qs) — AQE materializes the broadcast stage
        # first, populating this cache for the probe. Lazy persist (r11):
        # same sharing, one fewer materialization job.
        sigs = persist(sigs)
        qids = queries.select(F.col(id_col).alias("vid"))
        qs = sigs.join(qids, "vid").withColumnRenamed("vid", "query_id")
    else:
        qs = lsh_signatures(queries, id_col, vec_col).withColumnRenamed("vid", "query_id")
    cs = sigs.withColumnRenamed("vid", "neighbor_id")
    cands = (
        # ann_lsh_cosine: the lazy sigs persist above relies on this
        # broadcast stage running before the probe side.
        F.broadcast(qs)
        .join(cs, ["band", "band_sig"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    qv = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    cv = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    sim = F.round(V.cosine(F.col("cv"), F.col("qv")), 6)
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id").asc())
    return (
        cands.join(qv, "query_id")
        .join(cv, "neighbor_id")
        .select("query_id", "neighbor_id", sim.alias("sim"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "sim", F.col("rn").alias("rank"))
    )


def _planes_sql(planes: list[list[float]] = PLANES) -> str:
    rows = ",\n    ".join(
        f"({i}, CAST([{', '.join(f'{x!r}' for x in p)}] AS DOUBLE[]))" for i, p in enumerate(planes)
    )
    return f"(VALUES\n    {rows}) AS planes(plane_id, pv)"


def _sigs_sql(
    planes: list[list[float]], n_bands: int, where: str = "", prefix: str = "",
    source: str | None = None,
) -> str:
    """The sigs CTE chain, computation-identical to :func:`lsh_signatures`
    (same positional join, same integerized per-product rounding, same
    order-free integer sum). ``where`` restricts the vector source (the
    filtered-ANN variant); ``prefix`` namespaces the CTEs so two chains can
    coexist in one query; ``source`` replaces the vecs body entirely (must
    yield ``(vec_id, v DOUBLE[])`` — the group-contracted near-dup oracle
    signs one representative per identical-vector group)."""
    bits = len(planes) // n_bands
    p = prefix
    vecs_body = source or f"SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings {where}"
    return f"""{p}vecs AS ({vecs_body}),
{p}plane_elems AS (
  SELECT plane_id, i AS pos, pv[i] AS pval
  FROM {_planes_sql(planes)}, generate_series(1, {DIM}) AS gs(i)
),
{p}vec_elems AS (
  SELECT vec_id, i AS pos, v[i] AS val
  FROM {p}vecs, generate_series(1, {DIM}) AS gs(i)
),
{p}dots AS (
  SELECT vec_id, plane_id,
         SUM(CAST(ROUND(val * pval * {_DOT_SCALE}) AS BIGINT)) AS dot_i
  FROM {p}vec_elems JOIN {p}plane_elems USING (pos) GROUP BY 1, 2
),
{p}sigs AS (
  SELECT vec_id, plane_id // {bits} AS band,
         SUM(CASE WHEN dot_i >= 0 THEN 1 << (plane_id % {bits}) ELSE 0 END) AS band_sig
  FROM {p}dots GROUP BY 1, 2
)"""


def _ann_sql() -> str:
    return f"""
WITH {_sigs_sql(PLANES, N_BANDS)},
qsig AS (SELECT vec_id AS query_id, band, band_sig FROM sigs WHERE vec_id < 5),
cands AS (
  SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id
  FROM qsig q JOIN sigs c ON q.band = c.band AND q.band_sig = c.band_sig
  WHERE c.vec_id != q.query_id
),
scored AS (
  SELECT query_id, neighbor_id,
         ROUND({_COS_SQL}, 6) AS sim
  FROM cands
  JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings) q
    ON q.vec_id = query_id
  JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings) c
    ON c.vec_id = neighbor_id
)
SELECT query_id, neighbor_id, sim,
       CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS INTEGER) AS rank
FROM scored
QUALIFY rank <= 5
"""


@q("ann_lsh_cosine", _ann_sql())
def ann_lsh_cosine(spark, sf_dir):
    """LSH ANN, fully oracle-checked: the deterministic hyperplanes are
    embedded in both the Spark plan and the DuckDB SQL, so candidate sets and
    rankings must match exactly."""
    emb = load(spark, sf_dir, "embeddings")
    return ann_lsh_topk(emb, emb.filter(F.col("vec_id") < 5), k=5, queries_in_corpus=True)


def _ann_filtered_sql() -> str:
    return f"""
WITH {_sigs_sql(PLANES, N_BANDS, where="WHERE label <= 4")},
{_sigs_sql(PLANES, N_BANDS, where="WHERE vec_id < 5", prefix="q_")},
qsig AS (SELECT vec_id AS query_id, band, band_sig FROM q_sigs),
cands AS (
  SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id
  FROM qsig q JOIN sigs c ON q.band = c.band AND q.band_sig = c.band_sig
  WHERE c.vec_id != q.query_id
),
scored AS (
  SELECT query_id, neighbor_id,
         ROUND({_COS_SQL}, 6) AS sim
  FROM cands
  JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings) q
    ON q.vec_id = query_id
  JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings) c
    ON c.vec_id = neighbor_id
)
SELECT query_id, neighbor_id, sim,
       CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS INTEGER) AS rank
FROM scored
QUALIFY rank <= 5
"""


@q("ann_lsh_filtered", _ann_filtered_sql())
def ann_lsh_filtered(spark, sf_dir):
    """Metadata-FILTERED vector search (pre-filtering): the corpus is
    restricted by a label predicate BEFORE signatures/banding, so the index
    probed is the filtered subset — results are guaranteed to satisfy the
    predicate (vs post-filtering top-k, which can return < k). Queries come
    from the unfiltered relation; the usual production shape for "search
    only docs from source X" over an embedding index. Fully oracle-checked
    like the unfiltered entry."""
    emb = load(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("label") <= 4)
    queries = emb.filter(F.col("vec_id") < 5)
    return ann_lsh_topk(corpus, queries, k=5)


NEAR_DUP_COS = 0.9


def embedding_near_dup_pairs(
    vecs: DataFrame, threshold: float = NEAR_DUP_COS,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-dup detection: candidate pairs share >= 1 LSH
    band signature (bounded equi-join, never O(n²)), then exact cosine
    verification. The dedup-flavored sibling of ann_lsh_topk — emits every
    (a < b) pair above threshold instead of per-query top-k. Uses the wider
    ND banding (8 bits/band): near-dup thresholds are high, so the extra
    selectivity costs little recall and cuts verification pairs ~13x.

    IDENTICAL-VECTOR GROUP CONTRACTION (r11, same move as the simhash /
    minhash dedup entries): a crawl-scale embedding corpus is clone-dense,
    and identical vectors share every band — so the naive signature
    self-join produces C(k, 2) candidate pairs per k-clone group per band,
    and the verification join then drags two fat vectors through each.
    (The sf10 100-clone rehearsal corpus put the un-contracted DuckDB
    oracle 60 GiB into spill before dying.) Since byte-identical vectors
    have identical signatures AND identical cosines against everything,
    it suffices to run banding + verification once per DISTINCT vector
    (group representative = min id) and expand afterward with thin
    integer joins: intra-group pairs all carry the group's self-cosine,
    cross-group pairs the rep pair's cosine. Exactly equivalent to the
    uncontracted plan, pair for pair — pinned by
    tests/test_llm_ops.py::test_near_dup_contraction_equivalence.

    The signature table feeds both sides of the self-join — persist it so
    the plane dots compute once (at 100 TB you'd materialize signatures
    anyway; they're the reusable index)."""
    # rep = min id per distinct vector value: one shuffle, grouped by the
    # vector itself (exact — no hash-collision risk).
    grouped = persist(
        vecs.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("v"))
        .withColumn("rep", F.min("vid").over(Window.partitionBy("v"))),
        eager=True,
    )
    m = grouped.select("vid", "rep")  # thin member->rep map for expansion
    reps = grouped.filter(F.col("vid") == F.col("rep")).select("vid", "v")
    sigs = persist(
        lsh_signatures(spread(reps), "vid", "v", planes=ND_PLANES, n_bands=ND_N_BANDS),
        eager=True,
    )
    a = sigs.withColumnRenamed("vid", "ra")
    b = sigs.withColumnRenamed("vid", "rb")
    cands = (
        a.join(b, ["band", "band_sig"])
        .filter(F.col("ra") < F.col("rb"))
        .select("ra", "rb")
        .distinct()
    )
    va = reps.select(F.col("vid").alias("ra"), F.col("v").alias("av"))
    vb = reps.select(F.col("vid").alias("rb"), F.col("v").alias("bv"))
    sim = F.round(V.cosine(F.col("av"), F.col("bv")), 6)
    rep_pairs = (
        cands.join(va, "ra")
        .join(vb, "rb")
        .select("ra", "rb", sim.alias("sim"))
        .filter(F.col("sim") >= threshold)
    )
    # Cross-group expansion: every member of ra's group pairs with every
    # member of rb's group; groups are disjoint so least/greatest yields
    # each unordered pair exactly once.
    cross = (
        rep_pairs.join(m.select(F.col("rep").alias("ra"), F.col("vid").alias("ma")), "ra")
        .join(m.select(F.col("rep").alias("rb"), F.col("vid").alias("mb")), "rb")
        .select(
            F.least("ma", "mb").alias("vec_a"),
            F.greatest("ma", "mb").alias("vec_b"),
            "sim",
        )
    )
    # Intra-group expansion: all (a < b) member pairs carry the group's
    # self-cosine — computed via the same rounded formula (≈1.0; kept
    # symbolic so the value is bit-identical to the uncontracted plan).
    selfsim = reps.select(
        F.col("vid").alias("rep"),
        F.round(V.cosine(F.col("v"), F.col("v")), 6).alias("sim"),
    ).filter(F.col("sim") >= threshold)
    intra = (
        m.alias("x")
        .join(m.alias("y"), (F.col("x.rep") == F.col("y.rep")) & (F.col("x.vid") < F.col("y.vid")))
        .select(F.col("x.vid").alias("vec_a"), F.col("y.vid").alias("vec_b"), F.col("x.rep").alias("rep"))
        .join(selfsim, "rep")
        .select("vec_a", "vec_b", "sim")
    )
    return cross.unionAll(intra)


def _near_dup_sql() -> str:
    """Group-contracted like the Spark plan (r11): the un-contracted
    self-join form died 60 GiB into spill on the sf10 100-clone corpus —
    banding and cosine verification run once per DISTINCT vector, then
    thin integer joins expand clone groups back into member pairs."""
    cos_ab = (
        "list_dot_product(av, bv) / (sqrt(list_dot_product(av, av)) * "
        "sqrt(list_dot_product(bv, bv)))"
    )
    cos_self = (
        "list_dot_product(v, v) / (sqrt(list_dot_product(v, v)) * "
        "sqrt(list_dot_product(v, v)))"
    )
    return f"""
WITH members AS MATERIALIZED (
  SELECT vec_id, MIN(vec_id) OVER (PARTITION BY embedding) AS rep
  FROM embeddings
),
reps AS MATERIALIZED (
  SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v
  FROM embeddings e JOIN members m ON m.vec_id = e.vec_id AND m.vec_id = m.rep
),
{_sigs_sql(ND_PLANES, ND_N_BANDS, source="SELECT vec_id, v FROM reps")},
cands AS (
  SELECT DISTINCT a.vec_id AS ra, b.vec_id AS rb
  FROM sigs a JOIN sigs b ON a.band = b.band AND a.band_sig = b.band_sig
  WHERE a.vec_id < b.vec_id
),
rep_pairs AS MATERIALIZED (
  SELECT ra, rb, ROUND({cos_ab}, 6) AS sim
  FROM cands
  JOIN (SELECT vec_id, v AS av FROM reps) a ON a.vec_id = ra
  JOIN (SELECT vec_id, v AS bv FROM reps) b ON b.vec_id = rb
  WHERE ROUND({cos_ab}, 6) >= {NEAR_DUP_COS}
),
selfsim AS MATERIALIZED (
  SELECT vec_id AS rep, ROUND({cos_self}, 6) AS sim FROM reps
  WHERE ROUND({cos_self}, 6) >= {NEAR_DUP_COS}
)
SELECT LEAST(ma.vec_id, mb.vec_id) AS vec_a,
       GREATEST(ma.vec_id, mb.vec_id) AS vec_b, p.sim
FROM rep_pairs p
JOIN members ma ON ma.rep = p.ra
JOIN members mb ON mb.rep = p.rb
UNION ALL
SELECT x.vec_id AS vec_a, y.vec_id AS vec_b, s.sim
FROM members x
JOIN members y ON y.rep = x.rep AND y.vec_id > x.vec_id
JOIN selfsim s ON s.rep = x.rep
"""


@q("embedding_near_dup", _near_dup_sql())
def embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-dup pairs, fully oracle-checked (deterministic
    hyperplanes embedded in both engines)."""
    return embedding_near_dup_pairs(load(spark, sf_dir, "embeddings"))



# ---------------------------------------------------------------------------
# Per-label centroids.
# ---------------------------------------------------------------------------
@q(
    "embedding_label_centroids",
    f"""
    WITH e AS (
      SELECT label,
             unnest(list_transform(generate_series(1, {DIM}),
                    i -> {{'pos': i, 'val': CAST(embedding[i] AS DOUBLE)}})) AS u
      FROM embeddings
    )
    SELECT label, CAST(u.pos AS INTEGER) AS pos,
           ROUND(AVG(u.val), 6) AS centroid_val, COUNT(*) AS n
    FROM e GROUP BY 1, 2
    """,
)
def embedding_label_centroids(spark, sf_dir):
    """Centroid per (label, dimension) via posexplode — the distributed
    pattern for embedding aggregation (no driver-side vectors)."""
    emb = load(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("pos0", "val"))
        .groupBy("label", (F.col("pos0") + 1).cast("int").alias("pos"))
        .agg(
            F.round(F.avg(F.col("val").cast("double")), 6).alias("centroid_val"),
            F.count("*").alias("n"),
        )
    )


# ---------------------------------------------------------------------------
# Int8 scalar quantization — the storage half of ANN at scale.
# ---------------------------------------------------------------------------
def quantize_embeddings_int8(vecs: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max|v|/127,
    q_i = round(v_i/scale). 4× storage reduction (and 8× vs the doubles the
    math runs in) with reconstruction error <= scale/2 per element — the
    standard compression step before a 100 TB vector corpus is indexed
    (IVF+SQ). Pure array-expression math (one projection, no shuffle);
    dequantize is ``q_i * scale``."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    base = vecs.select(F.col(id_col).alias("vec_id"), v.alias("v"))
    scale = F.array_max(F.transform(F.col("v"), F.abs)) / F.lit(127.0)
    qvec = F.transform(
        F.col("v"),
        lambda x: F.when(F.col("scale") == 0, F.lit(0))
        .otherwise(F.round(x / F.col("scale"), 0))
        .cast("int"),
    )
    return base.withColumn("scale", scale).select("vec_id", "scale", qvec.alias("qvec"))


@q(
    "embedding_quantize_int8",
    f"""
    WITH s AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    sc AS (
      SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
      FROM s
    ),
    u AS (
      SELECT vec_id, scale,
             unnest(list_transform(generate_series(1, {DIM}),
                    i -> {{'pos': i, 'val': v[i]}})) AS e
      FROM sc
    )
    SELECT vec_id, CAST(e.pos AS INTEGER) AS pos,
           CASE WHEN scale = 0 THEN 0 ELSE CAST(ROUND(e.val / scale) AS INTEGER) END AS qval,
           ROUND(scale, 6) AS scale_6
    FROM u
    """,
)
def embedding_quantize_int8(spark, sf_dir):
    """Int8 quantization, fully oracle-checked: scale and every quantized
    component are single IEEE ops (one division + one round) on identical
    inputs, so both engines produce bit-identical integers. Exploded to
    (vec_id, pos, qval) rows for value-hash comparison."""
    emb = load(spark, sf_dir, "embeddings")
    q8 = quantize_embeddings_int8(emb)
    return q8.select(
        "vec_id",
        F.round(F.col("scale"), 6).alias("scale_6"),
        F.posexplode("qvec").alias("pos0", "qval"),
    ).select(
        "vec_id", (F.col("pos0") + 1).cast("int").alias("pos"), "qval", "scale_6"
    )


def int8_rerank_topk(
    vecs: DataFrame, k: int = 5, n_candidates: int = 20, n_queries: int = 5
) -> DataFrame:
    """Two-stage ANN: integer-dot scoring over int8-quantized vectors picks
    n_candidates per query, then exact float cosine reranks to top-k. The
    quantized pass is the cheap scan (int8 storage, integer multiply-adds —
    the SIMD-friendly representation a 100 TB corpus is actually stored in);
    the float vectors are only touched for candidates. qdot and the
    quantized norms are exact integer sums (order-free, partial-agg-safe);
    the quantized score is a single fixed-shape IEEE expression over them,
    compared as round(score·1e6) integers."""
    q8 = quantize_embeddings_int8(vecs)
    qq = F.aggregate(
        F.col("qvec"), F.lit(0).cast("long"), lambda acc, x: acc + x.cast("long") * x
    )
    sided = q8.withColumn("qq", qq)
    # ann_int8_rerank: n_queries rows, estimated at the corpus size; without
    # it the cross join plans as a CartesianProduct past the threshold.
    qs = F.broadcast(
        sided.filter(F.col("vec_id") < n_queries).select(
            F.col("vec_id").alias("query_id"),
            F.col("qvec").alias("qa"),
            F.col("qq").alias("qq_a"),
        )
    )
    cs = sided.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("qvec").alias("qb"),
        F.col("qq").alias("qq_b"),
    )
    qdot = F.aggregate(
        F.zip_with(F.col("qa"), F.col("qb"), lambda a, b: a.cast("long") * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    score = F.when((F.col("qq_a") == 0) | (F.col("qq_b") == 0), F.lit(0.0)).otherwise(
        F.col("qdot") / (F.sqrt(F.col("qq_a")) * F.sqrt(F.col("qq_b")))
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("q_score_micro").desc(), F.col("neighbor_id").asc()
    )
    cands = (
        cs.crossJoin(qs)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("qdot", qdot)
        .withColumn("q_score_micro", F.round(score * 1e6).cast("long"))
        .withColumn("crn", F.row_number().over(wq))
        .filter(F.col("crn") <= n_candidates)
        .select("query_id", "neighbor_id", "q_score_micro")
    )
    fv = vecs.select(F.col("vec_id"), F.col("embedding"))
    rerank = (
        cands.join(fv.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")), "query_id")
        .join(fv.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")), "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            "q_score_micro",
            F.round(V.cosine(F.col("cv"), F.col("qv")), 6).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id").asc())
    return (
        rerank.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "q_score_micro", "rank")
    )


@q(
    "ann_int8_rerank",
    f"""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS fv
      FROM embeddings
    ),
    sc AS (
      SELECT vec_id, fv, list_max(list_transform(fv, x -> abs(x))) / 127.0 AS scale
      FROM v
    ),
    q8 AS (
      SELECT vec_id, fv,
             list_transform(fv, x -> CASE WHEN scale = 0 THEN CAST(0 AS BIGINT)
                                          ELSE CAST(ROUND(x / scale) AS BIGINT) END) AS qvec
      FROM sc
    ),
    sided AS (
      SELECT vec_id, fv, qvec,
             CAST(list_sum(list_transform(qvec, x -> x * x)) AS BIGINT) AS qq
      FROM q8
    ),
    pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             q.fv AS qv, c.fv AS cv,
             CAST(list_sum(list_transform(generate_series(1, {DIM}),
                                          i -> q.qvec[i] * c.qvec[i])) AS BIGINT) AS qdot,
             q.qq AS qq_a, c.qq AS qq_b
      FROM sided q, sided c
      WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id
    ),
    scored AS (
      SELECT query_id, neighbor_id, qv, cv,
             CAST(ROUND(CASE WHEN qq_a = 0 OR qq_b = 0 THEN 0.0
                             ELSE qdot / (sqrt(qq_a) * sqrt(qq_b)) END * 1e6) AS BIGINT) AS q_score_micro
      FROM pairs
    ),
    cands AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY q_score_micro DESC, neighbor_id ASC) AS crn
      FROM scored QUALIFY crn <= 20
    ),
    rr AS (
      SELECT query_id, neighbor_id, q_score_micro,
             ROUND({_COS_SQL}, 6) AS sim
      FROM cands
    )
    SELECT query_id, neighbor_id, sim, q_score_micro,
           CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY sim DESC, neighbor_id ASC) AS INTEGER) AS rank
    FROM rr QUALIFY rank <= 5
    """,
)
def ann_int8_rerank(spark, sf_dir):
    """Quantized-scan + exact-rerank ANN over the embeddings table, fully
    oracle-checked end to end (quantization, integer dots, micro-scaled
    quantized scores, float rerank)."""
    return int8_rerank_topk(load(spark, sf_dir, "embeddings"), k=5, n_candidates=20)


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — coarse k-means quantizer + probed lists.
# ---------------------------------------------------------------------------
def ivf_fit(
    vecs: DataFrame, n_lists: int = 8, iters: int = 3,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Coarse quantizer via DataFrame-native Lloyd iterations.

    Init = the n_lists lowest-id vectors (deterministic, no RNG); each round
    broadcasts the centroids, assigns every vector to its nearest list with
    one min_by aggregate, and recomputes centroids dimension-wise via
    posexplode + avg (the embedding_label_centroids pattern). Everything is a
    bounded broadcast or a single hash aggregate — no driver-side vectors, so
    the fit runs unchanged over a 100 TB corpus.

    Returns (list_id, centroid array<double>).
    """
    cent = (
        vecs.orderBy(id_col)
        .limit(n_lists)
        .select(F.col(vec_col).alias("cv"))
        .withColumn("list_id", F.row_number().over(Window.orderBy(F.monotonically_increasing_id())) - 1)
    )
    v = vecs.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("v"))
    for _ in range(iters):
        d = V.dot(F.col("v"), F.col("cv"))
        # cosine on unit-agnostic data: use negative dot/(|v||c|) distance
        sim = F.try_divide(d, V.norm(F.col("v")) * V.norm(F.col("cv")))
        assigned = (
            # ann_ivf_cosine: without it the plan's shuffle exchanges change,
            # and past the threshold the cross join plans as a CartesianProduct.
            v.crossJoin(F.broadcast(cent))
            .groupBy("vid")
            .agg(
                F.max_by("list_id", sim).alias("list_id"),
                F.first("v").alias("v"),
            )
        )
        cent = (
            assigned.select("list_id", F.posexplode("v").alias("pos", "val"))
            .groupBy("list_id", "pos")
            .agg(F.avg(F.col("val").cast("double")).alias("m"))
            .groupBy("list_id")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select("list_id", F.transform(F.col("pm"), lambda s: s["m"]).alias("cv"))
        )
    return cent


def ivf_topk(
    corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
    k: int = 5, nprobe: int = 2,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Probe the nprobe nearest lists per query; exact cosine only within
    those lists. Scan cost drops to ~nprobe/n_lists of brute force."""
    # ann_ivf_cosine: both cross joins below plan as CartesianProducts
    # without it once the centroids' estimate passes the threshold.
    cent = F.broadcast(centroids)
    sim_c = F.try_divide(
        V.dot(F.col("v"), F.col("cv")), V.norm(F.col("v")) * V.norm(F.col("cv"))
    )
    corpus_v = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("v"))
    corpus_assigned = (
        corpus_v.crossJoin(cent)
        .groupBy("neighbor_id")
        .agg(F.max_by("list_id", sim_c).alias("list_id"), F.first("v").alias("cv_corpus"))
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("csim").desc(), F.col("list_id").asc())
    query_probes = (
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("v"))
        .crossJoin(cent)
        .select("query_id", "v", "list_id", sim_c.alias("csim"))
        .withColumn("pr", F.row_number().over(wq))
        .filter(F.col("pr") <= nprobe)
        .select("query_id", F.col("v").alias("qv"), "list_id")
    )
    sim = F.round(V.cosine(F.col("cv_corpus"), F.col("qv")), 6)
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id").asc())
    return (
        # ann_ivf_cosine: without it a sort-merge join replaces the broadcast join.
        F.broadcast(query_probes)
        .join(corpus_assigned, "list_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", sim.alias("sim"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "sim", F.col("rn").alias("rank"))
    )


@q("ann_ivf_cosine")  # rows-only: iterative float means aren't oracle-reproducible
def ann_ivf_cosine(spark, sf_dir):
    """IVF ANN: 8-list coarse quantizer, 2-probe search. Tests assert recall
    against the brute-force baseline and that every returned sim is exact."""
    emb = load(spark, sf_dir, "embeddings")
    cent = persist(ivf_fit(emb, n_lists=8, iters=3))
    cent.count()
    return ivf_topk(emb, emb.filter(F.col("vec_id") < 5), cent, k=5, nprobe=2)


# ---------------------------------------------------------------------------
# RAG chunk retrieval (r5): the end-to-end retrieval-indexing composite a
# RAG ingestion pipeline runs over raw documents — sliding-window chunking,
# feature-hashed chunk embeddings (hashing trick: portable polynomial term
# hash -> signed bucket weights, Weinberger et al., ICML'09), and top-k
# retrieval via an inverted index on the non-zero buckets. Every stage is
# integer arithmetic under the engine's portable hash family, so the WHOLE
# pipeline — chunk boundaries, vectors, scores, ranking — is hash-verified
# against DuckDB (no rows-only cop-out anywhere).
#
# Scale: chunking is one explode (no shuffle); vectors are one hash agg on
# (doc, chunk, bucket); retrieval joins the corpus index against the
# BROADCAST query vectors on the bucket key — dot products accumulate with
# one groupBy, never a cross join. At 100 TB the vec relation is the
# persisted retrieval index (bucketed on `bucket`), and queries stream
# against it.
# ---------------------------------------------------------------------------
RAG_CHUNK = 32    # tokens per chunk
RAG_STRIDE = 16   # chunk stride (50% overlap)
RAG_DIM = 1024    # feature-hash buckets
RAG_TOPK = 5
RAG_QUERY_MOD = 97  # doc_id % 97 == 0 -> query side


def rag_chunk_vectors(docs: DataFrame) -> DataFrame:
    """(doc_id, chunk_id, bucket, w): feature-hashed sparse chunk vectors.
    Sign comes from the hash bit above the bucket bits, the standard
    unbiased hashing-trick estimator."""
    from mta_rtf_dbt_spark.functions import text as T

    arr = T.tokens(T.normalize(F.col("text")))
    base = (
        spread(docs)
        .select("doc_id", arr.alias("arr"))
        .withColumn("n", F.size("arr"))
        .filter(F.col("n") > 0)
    )
    chunks = base.select(
        "doc_id",
        "arr",
        "n",
        F.explode(
            F.sequence(F.lit(0), F.floor((F.col("n") - 1) / RAG_STRIDE).cast("long"))
        ).alias("chunk_id"),
    )
    terms = chunks.select(
        "doc_id",
        "chunk_id",
        F.explode(
            F.transform(
                F.sequence(
                    F.col("chunk_id") * RAG_STRIDE + 1,
                    F.least(
                        F.col("chunk_id") * RAG_STRIDE + RAG_CHUNK, F.col("n")
                    ),
                ),
                lambda i: F.element_at("arr", i.cast("int")),
            )
        ).alias("term"),
    )
    h = T.poly_hash(F.col("term"))
    sign = F.when(F.floor(h / RAG_DIM) % 2 == 1, F.lit(1)).otherwise(F.lit(-1))
    return (
        terms.select(
            "doc_id",
            "chunk_id",
            F.pmod(h, F.lit(RAG_DIM)).alias("bucket"),
            sign.alias("s"),
        )
        .groupBy("doc_id", "chunk_id", "bucket")
        .agg(F.sum("s").cast("long").alias("w"))
        .filter(F.col("w") != 0)
    )


def rag_retrieve_topk(vec: DataFrame, query_mod: int = RAG_QUERY_MOD, k: int = RAG_TOPK) -> DataFrame:
    """Top-k corpus chunks per query chunk by integer dot product over the
    inverted bucket index; deterministic (c_doc, c_chunk) tiebreakers."""
    qv = vec.filter(F.col("doc_id") % query_mod == 0).select(
        F.col("doc_id").alias("q_doc"),
        F.col("chunk_id").alias("q_chunk"),
        "bucket",
        F.col("w").alias("qw"),
    )
    cv = vec.filter(F.col("doc_id") % query_mod != 0).select(
        F.col("doc_id").alias("c_doc"),
        F.col("chunk_id").alias("c_chunk"),
        "bucket",
        F.col("w").alias("cw"),
    )
    # No broadcast hint: the query side GROWS with the corpus (it's a fixed
    # fraction of it, doc_id % query_mod), so forcing a broadcast is a
    # scale-killer — the r6 sf1 rehearsal OOM'd the executor heap exactly
    # here (every task building a multi-million-row hash relation). A
    # shuffle join on the bucket key distributes evenly (buckets are hash
    # buckets, RAG_DIM distinct values) and AQE still auto-broadcasts at
    # runtime whenever the query side is actually small.
    scores = (
        cv.join(qv, "bucket")
        .groupBy("q_doc", "q_chunk", "c_doc", "c_chunk")
        .agg(F.sum(F.col("qw") * F.col("cw")).cast("long").alias("dot"))
        .filter(F.col("dot") > 0)
    )
    w = Window.partitionBy("q_doc", "q_chunk").orderBy(
        F.col("dot").desc(), F.col("c_doc").asc(), F.col("c_chunk").asc()
    )
    return (
        scores.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def _rag_oracle_sql() -> str:
    from mta_rtf_dbt_spark.functions.text import POLY_BASE, POLY_MOD

    return f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
                         x -> x <> '') AS arr
      FROM documents
    ),
    base AS (SELECT doc_id, arr, len(arr) AS n FROM toks WHERE len(arr) > 0),
    chunks AS (
      SELECT doc_id, arr, n,
             unnest(generate_series(0, (n - 1) // {RAG_STRIDE})) AS chunk_id
      FROM base
    ),
    terms AS MATERIALIZED (
      SELECT doc_id, chunk_id,
             unnest(list_transform(
               generate_series(chunk_id * {RAG_STRIDE} + 1,
                               least(chunk_id * {RAG_STRIDE} + {RAG_CHUNK}, n)),
               i -> arr[i])) AS term
      FROM chunks
    ),
    uniq AS (SELECT DISTINCT term FROM terms),
    hashed AS (
      SELECT term,
             list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                 list_transform(generate_series(1, length(term)),
                                i -> CAST(ascii(substring(term, i, 1)) AS BIGINT))),
               (acc, c) -> (acc * {POLY_BASE} + c) % {POLY_MOD}) AS h
      FROM uniq
    ),
    vec AS MATERIALIZED (
      SELECT t.doc_id, t.chunk_id, h.h % {RAG_DIM} AS bucket,
             CAST(SUM(CASE WHEN (h.h // {RAG_DIM}) % 2 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS w
      FROM terms t JOIN hashed h USING (term)
      GROUP BY 1, 2, 3
      HAVING SUM(CASE WHEN (h.h // {RAG_DIM}) % 2 = 1 THEN 1 ELSE -1 END) <> 0
    ),
    scores AS (
      SELECT q.doc_id AS q_doc, q.chunk_id AS q_chunk,
             c.doc_id AS c_doc, c.chunk_id AS c_chunk,
             CAST(SUM(q.w * c.w) AS BIGINT) AS dot
      FROM vec q JOIN vec c ON q.bucket = c.bucket
      WHERE q.doc_id % {RAG_QUERY_MOD} = 0 AND c.doc_id % {RAG_QUERY_MOD} <> 0
      GROUP BY 1, 2, 3, 4
      HAVING SUM(q.w * c.w) > 0
    )
    SELECT q_doc, q_chunk, c_doc, c_chunk, dot, CAST(rank AS BIGINT) AS rank FROM (
      SELECT *, row_number() OVER (PARTITION BY q_doc, q_chunk
                                   ORDER BY dot DESC, c_doc ASC, c_chunk ASC) AS rank
      FROM scores
    ) WHERE rank <= {RAG_TOPK}
    """


@q("rag_chunk_retrieval", _rag_oracle_sql())
def rag_chunk_retrieval(spark, sf_dir):
    """RAG indexing + retrieval end to end: sliding-window chunking ->
    feature-hashed chunk vectors -> inverted-index dot-product top-k for
    the query docs (doc_id % 97 == 0) — every stage integer-deterministic
    and hash-verified against DuckDB replaying the identical pipeline.

    Scale envelope (measured, r6 sf1 rehearsal): this is the EXACT
    retrieval baseline, and exact inverted-index retrieval is
    O(co-bucket pairs) = O(|q|*|c|/DIM) — verified green through sf0.1;
    at sf1 the 10x clone-dense corpus puts pair volume near 1e11 on both
    engines, past any single-JVM envelope. The scale path for retrieval
    is ann_lsh_topk / ivf_topk (sub-linear candidate generation), which
    rehearse clean; this entry exists as their recall yardstick."""
    docs = load(spark, sf_dir, "documents")
    # the vector index feeds BOTH retrieval sides — stage it eagerly, as
    # the persisted retrieval index it is in production
    vec = persist(rag_chunk_vectors(docs), eager=True)
    return rag_retrieve_topk(vec)


@q(
    "embedding_dim_stats",
    """
    WITH dims AS (
      SELECT unnest(range(len(embedding))) AS dim,
             CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS v_micro
      FROM embeddings
    )
    SELECT dim,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(v_micro) AS BIGINT) AS sum_micro,
           CAST(sum(v_micro * v_micro) AS BIGINT) AS sumsq_micro2,
           CAST(min(v_micro) AS BIGINT) AS min_micro,
           CAST(max(v_micro) AS BIGINT) AS max_micro
    FROM dims GROUP BY dim
    """,
)
def embedding_dim_stats(spark, sf_dir):
    """Per-DIMENSION statistics over the embedding column — the feature
    profile that catches dead dimensions (zero variance), scale drift
    between embedding versions, and the per-dim mean/std a standardizing
    transform needs. Each element is micro-integerized at explode time, so
    the per-dim sums/sumsqs are order-free bigints (mean = sum/n and
    var = (n*sumsq - sum^2)/n^2 derive downstream in whatever precision
    the consumer wants).

    Scale: one posexplode (dim-count x rows — for 768-dim embeddings a
    768x tall relation, which is why this runs as a PROFILE pass, not per
    query) and one map-combined aggregate keyed on the dimension index;
    output is dim-count rows. sumsq magnitude: |v|<=1 -> v_micro^2 <= 1e12,
    times 10^9 rows stays under 2^63."""
    emb = load(spark, sf_dir, "embeddings")
    dims = emb.select(
        F.posexplode("embedding").alias("dim", "x")
    ).select(
        "dim",
        F.round(F.col("x").cast("double") * 1_000_000).cast("long").alias("v_micro"),
    )
    return dims.groupBy("dim").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v_micro").cast("long").alias("sum_micro"),
        F.sum(F.col("v_micro") * F.col("v_micro")).cast("long").alias("sumsq_micro2"),
        F.min("v_micro").cast("long").alias("min_micro"),
        F.max("v_micro").cast("long").alias("max_micro"),
    )


def _ann_hardneg_sql() -> str:
    return f"""
WITH {_sigs_sql(PLANES, N_BANDS, where="WHERE label <> 0")},
{_sigs_sql(PLANES, N_BANDS, where="WHERE label = 0 AND vec_id < 10", prefix="q_")},
qsig AS (SELECT vec_id AS query_id, band, band_sig FROM q_sigs),
cands AS (
  SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id
  FROM qsig q JOIN sigs c ON q.band = c.band AND q.band_sig = c.band_sig
  WHERE c.vec_id != q.query_id
),
scored AS (
  SELECT query_id, neighbor_id,
         ROUND({_COS_SQL}, 6) AS sim
  FROM cands
  JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings) q
    ON q.vec_id = query_id
  JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings) c
    ON c.vec_id = neighbor_id
)
SELECT query_id, neighbor_id, sim,
       CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS INTEGER) AS rank
FROM scored
QUALIFY rank <= 3
"""


@q("ann_hard_negatives", _ann_hardneg_sql())
def ann_hard_negatives(spark, sf_dir):
    """Hard-negative mining for contrastive training: for each anchor
    (label-0 queries), the nearest vectors from OTHER labels — the
    highest-similarity wrong-class examples that make the most informative
    negatives (random negatives are trivially separable; mining rate
    governs contrastive learning quality). Pre-filtering the corpus to the
    complement label BEFORE banding guarantees every result is a true
    negative and keeps the probed index small — the same pre-filter
    discipline as ann_lsh_filtered, with the predicate inverted per anchor
    class. At scale this runs once per class over the shared signature
    table (signatures are label-independent; only the banding probe
    filters), so mining all classes costs one signature build plus one
    probe per class."""
    emb = load(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("label") != 0)
    anchors = emb.filter((F.col("label") == 0) & (F.col("vec_id") < 10))
    return ann_lsh_topk(corpus, anchors, k=3)
