"""Approximate/mergeable aggregates — the sketch toolkit a 100 TB pipeline
actually runs on.

At scale, exact distinct counts and exact percentiles force full shuffles of
the grouping keys; sketches give bounded-error answers from one map-side
pass plus a tiny merge, and — critically — sketches are **mergeable**, so
per-partition / per-day sketches roll up without touching raw data again
(the materialize-and-partition guidance in the reference's
docs/metrics_guide.md:385 composes with this: store a sketch column per
partition, merge on read).

- ``approx_distinct_by_group``  — HLL++ via ``approx_count_distinct``
- ``hll_partial_then_merge``    — Apache DataSketches HLL: per-shard
  ``hll_sketch_agg`` then ``hll_union_agg`` (the rollup pattern, Spark 4)
- ``approx_quantiles_by_group`` — GK/KLL-style ``percentile_approx``
- ``heavy_hitters_exact``       — support-s frequent items; exact form is
  oracle-checkable, and IS the verify step a count-min candidate pass feeds

Driver gate: approximate values are engine-specific → the approx entry is
rows-only; the error-bound guarantees are asserted in tests/test_sketches.py
against exact baselines. heavy_hitters is exact and fully oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mta_rtf_dbt_spark.registry import q
from mta_rtf_dbt_spark.sources.registry import load


def approx_distinct_by_group(
    df: DataFrame, keys: list[str], col: str, rsd: float = 0.02
) -> DataFrame:
    """HLL++ distinct estimate per group. rsd = target relative std dev;
    memory per group is O(1/rsd²) regardless of cardinality."""
    return df.groupBy(*keys).agg(
        F.approx_count_distinct(col, rsd).alias("approx_distinct"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def hll_partial_then_merge(
    df: DataFrame, shard_col: str, keys: list[str], col: str, lg_k: int = 12
) -> DataFrame:
    """The rollup pattern: build one DataSketches HLL per (shard, group),
    then merge shards per group with hll_union_agg — byte-identical result
    path to sketching each group directly, but the partial layer is what a
    daily-partitioned 100 TB table would persist."""
    partials = df.groupBy(shard_col, *keys).agg(
        F.hll_sketch_agg(F.col(col), F.lit(lg_k)).alias("sk")
    )
    return partials.groupBy(*keys).agg(
        F.hll_sketch_estimate(F.hll_union_agg(F.col("sk"), F.lit(True))).alias(
            "merged_estimate"
        )
    )


def approx_quantiles_by_group(
    df: DataFrame, keys: list[str], col: str, probs: list[float], accuracy: int = 10000
) -> DataFrame:
    """percentile_approx: rank error <= n/accuracy per group, single pass,
    mergeable partials (vs the exact sort-based percentile's full shuffle)."""
    return df.groupBy(*keys).agg(
        F.percentile_approx(F.col(col), probs, accuracy).alias("approx_quantiles")
    )


def heavy_hitters_exact(
    df: DataFrame, keys: list[str], item_col: str, support: float = 0.01
) -> DataFrame:
    """Items appearing in > support fraction of rows, per the whole frame.
    One hash agg + a scalar-broadcast threshold — the exact verify pass that
    a count-min/SpaceSaving candidate stage feeds at scale (candidates
    shrink the second pass; exactness comes from this one)."""
    total = df.agg(F.count(F.lit(1)).alias("__total"))
    counts = df.groupBy(*keys, item_col).agg(F.count(F.lit(1)).alias("item_count"))
    return (
        counts.crossJoin(total)
        .filter(F.col("item_count") > F.col("__total") * support)
        .select(
            *keys,
            item_col,
            "item_count",
            F.round(F.col("item_count") / F.col("__total"), 6).alias("support_frac"),
        )
    )


@q("a_approx_sketches")  # rows-only: estimator internals are engine-specific
def a_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type sketch panel: HLL++ distinct users, datasketches-HLL
    merged-shard distinct, p50/p95 value estimates. Error bounds are
    test-asserted vs exact baselines (test_sketches.py)."""
    e = load(spark, sf_dir, "events")
    base = approx_distinct_by_group(e, ["event_type"], "user_id", rsd=0.02)
    merged = hll_partial_then_merge(
        e.withColumn("__shard", (F.col("event_id") % 8).cast("int")),
        "__shard",
        ["event_type"],
        "user_id",
    )
    quant = approx_quantiles_by_group(e, ["event_type"], "value", [0.5, 0.95])
    return (
        base.join(merged, "event_type")
        .join(quant, "event_type")
        .select(
            "event_type",
            "n_rows",
            "approx_distinct",
            F.round("merged_estimate", 3).alias("merged_estimate"),
            F.round(F.col("approx_quantiles")[0], 6).alias("p50_approx"),
            F.round(F.col("approx_quantiles")[1], 6).alias("p95_approx"),
        )
    )


# ---------------------------------------------------------------------------
# Portable HLL (r5): a HyperLogLog whose register state is REPRODUCIBLE
# across engines — the BigQuery HLL_COUNT.* sketch-column analogue the r4
# verdict listed as the remaining sketch gap. The native datasketches path
# above stays the production estimator; this one trades library internals
# for an explicit integer hash family so the driver can hash-verify the
# whole sketch lifecycle (init -> partial per shard -> merge -> extract):
#
#   h      = ((x mod P) * A + B) mod P          (affine stage)
#   g      = (h*h + h) mod P                    (quadratic mix — an affine
#            map alone is an arithmetic progression mod 2^8: ZERO register
#            collisions on sequential ids, which silently breaks the
#            Poisson model every HLL estimator assumes; squaring mod P
#            restores random-looking low bits, verified against the
#            256*(1-e^-n/m) expectation)
#   bucket = g mod 256                          (m = 2^8 registers)
#   w      = g div 256                          (23 payload bits)
#   rho    = 24 - bitlength(w), 24 if w = 0     (leading-zero rank)
#
# All integer ops fit signed 64-bit in both engines (h < 2^31 so h*h + h <
# 2^62); bitlength is length(bin(w)) in BOTH Spark and DuckDB. The estimate
# uses the raw HLL formula alpha*m^2 / sum(2^-M_j): every 2^-M_j is an
# exact dyadic double (integer shift, no libm pow) and the sums/divides are
# IEEE-identical left-to-right, so even the float-derived column
# hash-matches (the small/large-range ln corrections are deliberately
# omitted; register state, not the estimator constant, is what merging at
# 100 TB has to get right — test_sketches applies linear counting FROM the
# emitted state to prove accuracy in the small-range regime).
# ---------------------------------------------------------------------------
HLL_P = 2_147_483_647
HLL_A = 1_103_515_245
HLL_B = 12_345
HLL_BUCKETS = 256
HLL_MAXRHO = 24
# alpha_256 * m^2 precomputed in Python and inlined as an explicit DOUBLE:
# bare decimal literals parse as DECIMAL in both engines, whose scale rules
# differ -> 1-ulp divergence (observed in the driver hash)
_HLL_ALPHA_M2 = f"CAST({0.7213 / (1.0 + 1.079 / HLL_BUCKETS) * HLL_BUCKETS * HLL_BUCKETS!r} AS DOUBLE)"


def hll_portable_merge(
    df: DataFrame, shard_col: str, keys: list[str], col: str
) -> DataFrame:
    """Per-(shard, group) portable-HLL partials merged per group: partial =
    max rho per register, merge = elementwise max — the associative rollup a
    daily-partitioned table persists. Output per group: filled-register
    count, an order-free integer register checksum, and the raw estimate."""
    x = F.pmod(F.col(col).cast("long"), F.lit(HLL_P))
    h = F.pmod(x * HLL_A + HLL_B, F.lit(HLL_P))
    g = F.pmod(h * h + h, F.lit(HLL_P))
    bucket = F.pmod(g, F.lit(HLL_BUCKETS))
    # g < 2^31 is exact in double, so floor-div via double division is safe
    w = F.floor(g / F.lit(HLL_BUCKETS)).cast("long")
    rho = F.when(w == 0, F.lit(HLL_MAXRHO)).otherwise(
        F.lit(HLL_MAXRHO) - F.length(F.bin(w))
    )
    partials = (
        df.select(*keys, F.col(shard_col).alias("__shard"), bucket.alias("bucket"), rho.alias("rho"))
        .groupBy(*keys, "__shard", "bucket")
        .agg(F.max("rho").alias("m_rho"))
    )
    merged = partials.groupBy(*keys, "bucket").agg(F.max("m_rho").alias("m_rho"))
    # 2^-M as 1.0/(1<<M): integer shift + one division — exact dyadic, no
    # libm pow, so the double is bit-identical across engines
    denom = F.sum(
        F.lit(1.0) / F.expr("shiftleft(1L, CAST(m_rho AS INT))")
    ) + (F.lit(HLL_BUCKETS) - F.count(F.lit(1))).cast("double")
    # estimate emitted in integer micro-units via floor: ROUND(x, 6) is a
    # decimal-rounding op whose half-way rule differs between engines (1-ulp
    # driver mismatch observed); floor of an identical double is identical
    return merged.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_registers"),
        F.sum((F.col("bucket") + 1) * F.col("m_rho")).cast("long").alias("register_chk"),
        F.floor(F.expr(_HLL_ALPHA_M2) / denom * 1000000.0)
        .cast("long")
        .alias("hll_raw_estimate_micro"),
    )


@q(
    "a_hll_portable",
    f"""
    WITH h AS (
      SELECT event_type, event_id % 8 AS shard,
             ((user_id % {HLL_P}) * {HLL_A} + {HLL_B}) % {HLL_P} AS hv
      FROM events
    ),
    g AS (
      SELECT event_type, shard, (hv * hv + hv) % {HLL_P} AS gv FROM h
    ),
    reg AS (
      SELECT event_type, shard, gv % {HLL_BUCKETS} AS bucket,
             CASE WHEN gv // {HLL_BUCKETS} = 0 THEN {HLL_MAXRHO}
                  ELSE {HLL_MAXRHO} - length(bin(gv // {HLL_BUCKETS})) END AS rho
      FROM g
    ),
    partials AS (
      SELECT event_type, shard, bucket, MAX(rho) AS m_rho
      FROM reg GROUP BY 1, 2, 3
    ),
    merged AS (
      SELECT event_type, bucket, MAX(m_rho) AS m_rho
      FROM partials GROUP BY 1, 2
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_registers,
           CAST(SUM((bucket + 1) * m_rho) AS BIGINT) AS register_chk,
           CAST(floor(({_HLL_ALPHA_M2}) /
                 (SUM(CAST(1.0 AS DOUBLE) / (CAST(1 AS BIGINT) << m_rho))
                  + CAST({HLL_BUCKETS} - COUNT(*) AS DOUBLE))
                 * CAST(1000000.0 AS DOUBLE)) AS BIGINT)
             AS hll_raw_estimate_micro
    FROM merged GROUP BY event_type
    """,
)
def a_hll_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketch COLUMN with engine-reproducible
    register state: shard partials -> elementwise-max merge -> raw HLL
    estimate, all hash-verified against DuckDB replaying the identical
    integer hash family (error bound vs exact asserted in test_sketches)."""
    e = load(spark, sf_dir, "events")
    return hll_portable_merge(
        e.withColumn("__s", (F.col("event_id") % 8).cast("long")),
        "__s",
        ["event_type"],
        "user_id",
    )


# ---------------------------------------------------------------------------
# Portable count-min sketch (r5): the frequency-estimate sibling of the
# portable HLL above — d x w counters whose state is REPRODUCIBLE across
# engines (same affine family discipline), so the whole lifecycle
# (shard partials -> elementwise-SUM merge -> point queries) is driver
# hash-checkable. The production use is the candidate pass in front of
# heavy_hitters_exact: a CMS never underestimates, so "CMS estimate >
# threshold" is a lossless prefilter for the exact verify, and the sketch
# is mergeable (counter sums) for the daily-partition rollup.
# ---------------------------------------------------------------------------
CMS_P = HLL_P
CMS_W = 512  # counters per row
# 4 independent affine rows; constants < 2^31 so hv*A + B < 2^62 (64-bit safe)
CMS_SEEDS = [
    (1_103_515_245, 12_345),
    (69_069, 362_437),
    (214_013, 2_531_011),
    (134_775_813, 1),
]
CMS_PROBES = [1, 7, 13]  # fixed point-query keys shared with the oracle


def _cms_pos(x, a: int, b: int):
    return F.pmod(F.pmod(x * a + b, F.lit(CMS_P)), F.lit(CMS_W))


def cms_portable_merge(
    df: DataFrame, shard_col: str, keys: list[str], col: str
) -> DataFrame:
    """Per-(shard, group) CMS partials merged per group by counter SUM, then
    the point-query extract for CMS_PROBES: est(x) = min over rows j of
    counter[j][pos_j(x)], with an absent counter reading 0. Output per
    group: nonzero-counter count, an order-free counter checksum, and one
    estimate column per probe key — all integers."""
    x = F.pmod(F.col(col).cast("long"), F.lit(CMS_P))
    # one scan: the d positions ride a single posexplode, not d unioned scans
    pos_arr = F.array(*[_cms_pos(x, a, b) for a, b in CMS_SEEDS])
    cells = df.select(
        *keys, F.col(shard_col).alias("__shard"), pos_arr.alias("__pos")
    ).select(
        *keys,
        "__shard",
        F.posexplode("__pos").alias("row_j", "pos"),
    )
    partials = cells.groupBy(*keys, "__shard", "row_j", "pos").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    merged = partials.groupBy(*keys, "row_j", "pos").agg(F.sum("cnt").alias("cnt"))
    probe_cols = []
    for p in CMS_PROBES:
        per_row = [
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("row_j") == j)
                        & (F.col("pos") == ((p % CMS_P) * a + b) % CMS_P % CMS_W),
                        F.col("cnt"),
                    )
                ),
                F.lit(0),
            )
            for j, (a, b) in enumerate(CMS_SEEDS)
        ]
        probe_cols.append(F.least(*per_row).cast("long").alias(f"est_user_{p}"))
    return merged.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_nonzero_counters"),
        F.sum((F.col("row_j") * CMS_W + F.col("pos") + 1) * F.col("cnt"))
        .cast("long")
        .alias("counter_chk"),
        *probe_cols,
    )


def _cms_oracle_sql() -> str:
    seed_rows = ", ".join(f"({j}, {a}, {b})" for j, (a, b) in enumerate(CMS_SEEDS))
    est_cols = []
    for p in CMS_PROBES:
        per_row = ", ".join(
            f"COALESCE(SUM(CASE WHEN row_j = {j} AND pos = {((p % CMS_P) * a + b) % CMS_P % CMS_W} THEN cnt END), 0)"
            for j, (a, b) in enumerate(CMS_SEEDS)
        )
        est_cols.append(f"CAST(LEAST({per_row}) AS BIGINT) AS est_user_{p}")
    est_sql = ",\n           ".join(est_cols)
    return f"""
    WITH seeds(row_j, a, b) AS (VALUES {seed_rows}),
    cells AS (
      SELECT e.event_type, e.event_id % 8 AS shard, seeds.row_j,
             (((e.user_id % {CMS_P}) * seeds.a + seeds.b) % {CMS_P}) % {CMS_W} AS pos
      FROM events e CROSS JOIN seeds
    ),
    partials AS (
      SELECT event_type, shard, row_j, pos, COUNT(*) AS cnt
      FROM cells GROUP BY 1, 2, 3, 4
    ),
    merged AS (
      SELECT event_type, row_j, pos, SUM(cnt) AS cnt
      FROM partials GROUP BY 1, 2, 3
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_nonzero_counters,
           CAST(SUM((row_j * {CMS_W} + pos + 1) * cnt) AS BIGINT) AS counter_chk,
           {est_sql}
    FROM merged GROUP BY event_type
    """


@q("a_cms_portable", _cms_oracle_sql())
def a_cms_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable frequency sketch COLUMN with engine-reproducible counter
    state: per-shard CMS partials -> counter-sum merge -> min-over-rows
    point queries for fixed probe users, all hash-verified against DuckDB
    replaying the identical affine family (never-underestimate + error
    bound asserted in test_sketches)."""
    e = load(spark, sf_dir, "events")
    return cms_portable_merge(
        e.withColumn("__s", (F.col("event_id") % 8).cast("long")),
        "__s",
        ["event_type"],
        "user_id",
    )


@q(
    "a_heavy_hitters",
    """
    WITH tot AS (SELECT COUNT(*) AS t FROM events)
    SELECT e.event_type, e.user_id, COUNT(*) AS item_count,
           ROUND(COUNT(*) * 1.0 / MAX(tot.t), 6) AS support_frac
    FROM events e, tot
    GROUP BY e.event_type, e.user_id
    HAVING COUNT(*) > MAX(tot.t) * 0.0005
    """,
)
def a_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters over (event_type, user_id) at 0.05% support —
    fully oracle-checked; the scale path puts a sketch candidate pass in
    front of this exact verify."""
    return heavy_hitters_exact(
        load(spark, sf_dir, "events"), ["event_type"], "user_id", support=0.0005
    )


# ---------------------------------------------------------------------------
# Portable KMV / bottom-k sketch (r5): the third mergeable sketch family —
# the k minimum distinct hash values (Bar-Yossef et al., RANDOM'02; the
# theta-sketch core). Unlike HLL its state IS a sample of the keyspace
# (set operations — intersection/union estimates — compose from it), and
# the merge is union-then-rebottom-k. Same portable-family discipline:
# integer state, integer estimate ((k-1) * P div kth_min), driver
# hash-checked end to end.
# ---------------------------------------------------------------------------
KMV_K = 64
KMV_A = 2_654_435_761 % HLL_P  # Knuth multiplicative constant, reduced mod P
KMV_B = 104_729


def kmv_portable_merge(
    df: DataFrame, shard_col: str, keys: list[str], col: str, k: int = KMV_K
) -> DataFrame:
    """Per-(shard, group) bottom-k partials merged per group by
    union-and-rebottom-k. Output per group: retained-value count, the kth
    minimum, the integer distinct estimate, and the state itself as a
    joined string (driver-hashable; at scale the array column persists)."""
    h = F.pmod(F.pmod(F.col(col).cast("long"), F.lit(HLL_P)) * KMV_A + KMV_B, F.lit(HLL_P))
    partials = (
        df.select(*keys, F.col(shard_col).alias("__shard"), h.alias("h"))
        .groupBy(*keys, "__shard")
        .agg(F.slice(F.sort_array(F.collect_set("h")), 1, k).alias("mins"))
    )
    merged = (
        partials.select(*keys, F.explode("mins").alias("h"))
        .groupBy(*keys)
        .agg(F.slice(F.sort_array(F.collect_set("h")), 1, k).alias("mins"))
    )
    n_kept = F.size("mins")
    kth = F.element_at("mins", n_kept)
    est = F.when(
        n_kept < k, n_kept.cast("long")  # exact below k distinct
    ).otherwise(F.expr(f"CAST(({k} - 1) * {HLL_P}L div element_at(mins, {k}) AS BIGINT)"))
    return merged.select(
        *keys,
        n_kept.cast("long").alias("n_kept"),
        kth.cast("long").alias("kth_min"),
        est.alias("kmv_estimate"),
        F.array_join(F.transform("mins", lambda v: v.cast("string")), "|").alias(
            "kmv_state"
        ),
    )


def _kmv_oracle_sql(k: int = KMV_K) -> str:
    return f"""
    WITH h AS (
      SELECT event_type, event_id % 8 AS shard,
             ((user_id % {HLL_P}) * {KMV_A} + {KMV_B}) % {HLL_P} AS hv
      FROM events
    ),
    partials AS (
      SELECT event_type, shard,
             list_sort(list(DISTINCT hv))[1:{k}] AS mins
      FROM h GROUP BY 1, 2
    ),
    exploded AS (SELECT event_type, unnest(mins) AS hv FROM partials),
    merged AS (
      SELECT event_type, list_sort(list(DISTINCT hv))[1:{k}] AS mins
      FROM exploded GROUP BY 1
    )
    SELECT event_type,
           CAST(len(mins) AS BIGINT) AS n_kept,
           CAST(mins[len(mins)] AS BIGINT) AS kth_min,
           CAST(CASE WHEN len(mins) < {k} THEN len(mins)
                     ELSE CAST({k} - 1 AS BIGINT) * {HLL_P} // mins[{k}] END AS BIGINT)
             AS kmv_estimate,
           array_to_string(list_transform(mins, v -> CAST(v AS VARCHAR)), '|')
             AS kmv_state
    FROM merged
    """


@q("a_kmv_portable", _kmv_oracle_sql())
def a_kmv_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable bottom-k distinct sketch COLUMN with engine-reproducible
    state (the HLL/CMS sibling whose state supports set-operation
    estimates): shard bottom-k partials -> union-rebottom-k merge -> exact
    count below k, (k-1)*P/kth estimate above — all hash-verified, error
    bound asserted in test_sketches."""
    e = load(spark, sf_dir, "events")
    return kmv_portable_merge(
        e.withColumn("__s", (F.col("event_id") % 8).cast("long")),
        "__s",
        ["event_type"],
        "user_id",
    )


def _kmv_mins(df: DataFrame, keys: list[str], col: str, k: int = KMV_K):
    h = F.pmod(F.pmod(F.col(col).cast("long"), F.lit(HLL_P)) * KMV_A + KMV_B, F.lit(HLL_P))
    return df.select(*keys, h.alias("h")).groupBy(*keys).agg(
        F.slice(F.sort_array(F.collect_set("h")), 1, k).alias("mins")
    )


@q(
    "a_kmv_setops",
    f"""
    WITH h AS (
      SELECT event_type, ((user_id % {HLL_P}) * {KMV_A} + {KMV_B}) % {HLL_P} AS hv
      FROM events
    ),
    mins AS (
      SELECT event_type, list_sort(list(DISTINCT hv))[1:{KMV_K}] AS mins
      FROM h GROUP BY 1
    ),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             list_sort(list_distinct(list_concat(a.mins, b.mins)))[1:{KMV_K}] AS u,
             a.mins AS ma, b.mins AS mb
      FROM mins a JOIN mins b ON a.event_type < b.event_type
    ),
    stats AS (
      SELECT type_a, type_b,
             len(u) AS n_union_kept,
             len(list_filter(u, x -> list_contains(ma, x) AND list_contains(mb, x)))
               AS n_shared,
             CASE WHEN len(u) < {KMV_K} THEN len(u)
                  ELSE CAST({KMV_K} - 1 AS BIGINT) * {HLL_P} // u[{KMV_K}] END AS union_est
      FROM pairs
    )
    SELECT type_a, type_b,
           CAST(n_union_kept AS BIGINT) AS n_union_kept,
           CAST(n_shared AS BIGINT) AS n_shared,
           CAST(union_est AS BIGINT) AS union_est,
           CAST(CASE WHEN n_union_kept < {KMV_K} THEN n_shared
                     ELSE n_shared * union_est // {KMV_K} END AS BIGINT) AS intersect_est
    FROM stats
    """,
)
def a_kmv_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-operation estimates FROM KMV sketch state — the capability HLL
    registers don't have: for every event-type pair, the union sketch is
    bottom-k of the concatenated states, Jaccard_hat = shared-in-union / k,
    and |A intersect B| ~= Jaccard_hat * union_est (Beyer et al., SIGMOD'07
    / theta-sketch set algebra). Exact when the union retains < k values;
    integer arithmetic throughout, so every pair's estimate hash-matches
    the DuckDB replay. At 100 TB the states come from the persisted sketch
    column — no raw-data rescan per pair query."""
    e = load(spark, sf_dir, "events")
    mins = _kmv_mins(e, ["event_type"], "user_id")
    a = mins.select(F.col("event_type").alias("type_a"), F.col("mins").alias("ma"))
    b = mins.select(F.col("event_type").alias("type_b"), F.col("mins").alias("mb"))
    # a_kmv_setops: a theta join; past the threshold it would plan as a
    # CartesianProduct.
    pairs = a.join(F.broadcast(b), F.col("type_a") < F.col("type_b"))
    u = F.slice(F.sort_array(F.array_distinct(F.concat("ma", "mb"))), 1, KMV_K)
    pairs = pairs.select("type_a", "type_b", "ma", "mb", u.alias("u"))
    n_union = F.size("u")
    n_shared = F.size(
        F.filter(
            "u",
            lambda x: F.array_contains(F.col("ma"), x)
            & F.array_contains(F.col("mb"), x),
        )
    )
    union_est = F.when(n_union < KMV_K, n_union.cast("long")).otherwise(
        F.expr(f"CAST(({KMV_K} - 1) * {HLL_P}L div element_at(u, {KMV_K}) AS BIGINT)")
    )
    return pairs.select(
        "type_a",
        "type_b",
        n_union.cast("long").alias("n_union_kept"),
        n_shared.cast("long").alias("n_shared"),
        union_est.alias("union_est"),
        F.when(n_union < KMV_K, n_shared.cast("long"))
        .otherwise((n_shared.cast("long") * union_est / KMV_K).cast("long"))
        .alias("intersect_est"),
    )


# ---------------------------------------------------------------------------
# Portable HDR-style quantile histogram (r5): the quantile member of the
# portable sketch family (HLL distinct / CMS frequency / KMV sets / HDR
# quantiles). Log-bucketed counters with 5 sub-bucket bits — relative error
# <= 2^-5 per quantile, exact below 64 — merge by counter SUM (the HdrHistogram
# rollup), state and extracted quantiles all integer and hash-verified.
# Values enter as micro-units (floor(value * 1e6)); bins:
#   v < 64              -> bin = v                      (exact regime)
#   v >= 64, bitlen L   -> bin = L*64 + (v >> (L-6))    (top 6 bits, id-disjoint)
# Lower-bound reconstruction inverts the same arithmetic.
# ---------------------------------------------------------------------------
HDR_SUBBITS = 5


def _hdr_bin(v):
    bl = F.length(F.bin(v))
    top = F.expr(
        "CAST(__hdr_v div shiftleft(1L, CAST(length(bin(__hdr_v)) - 6 AS INT)) AS BIGINT)"
    )
    return F.when(v < 64, v).otherwise(bl.cast("long") * 64 + top)


def hdr_quantiles_merge(
    df: DataFrame, shard_col: str, keys: list[str], col: str
) -> DataFrame:
    """Per-(shard, group) HDR partials merged per group by bin SUM, then
    p50/p95 extracted from the cumulative distribution — lower-bound-of-bin
    estimates in micro-units, relative error <= 2^-5."""
    from pyspark.sql import Window

    v = F.floor(F.col(col) * 1000000).cast("long")
    cells = df.select(*keys, F.col(shard_col).alias("__shard"), v.alias("__hdr_v"))
    cells = cells.withColumn("bin", _hdr_bin(F.col("__hdr_v")))
    partials = cells.groupBy(*keys, "__shard", "bin").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    merged = partials.groupBy(*keys, "bin").agg(F.sum("cnt").alias("cnt"))
    w = Window.partitionBy(*keys).orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wt = Window.partitionBy(*keys)
    cum = merged.withColumn("cum", F.sum("cnt").over(w)).withColumn(
        "total", F.sum("cnt").over(wt)
    )
    lb = (
        cum.withColumn("__hdr_L", F.floor(F.col("bin") / 64).cast("int"))
        .withColumn(
            "lb",
            F.when(F.col("bin") < 64, F.col("bin")).otherwise(
                F.pmod(F.col("bin"), F.lit(64))
                * F.expr("shiftleft(1L, CAST(__hdr_L - 6 AS INT))")
            ),
        )
    )
    return lb.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_bins"),
        F.sum((F.col("bin") + 1) * F.col("cnt")).cast("long").alias("bin_chk"),
        F.max("total").cast("long").alias("n_values"),
        F.min(F.when(F.col("cum") * 2 >= F.col("total"), F.col("lb")))
        .cast("long")
        .alias("p50_lb_micro"),
        F.min(F.when(F.col("cum") * 20 >= F.col("total") * 19, F.col("lb")))
        .cast("long")
        .alias("p95_lb_micro"),
    )


@q(
    "a_hdr_quantiles",
    """
    WITH v AS (
      SELECT event_type, event_id % 8 AS shard,
             CAST(floor(value * 1000000) AS BIGINT) AS hv
      FROM events
    ),
    binned AS (
      SELECT event_type, shard,
             CASE WHEN hv < 64 THEN hv
                  ELSE length(bin(hv)) * 64
                       + hv // (CAST(1 AS BIGINT) << (length(bin(hv)) - 6)) END AS bin
      FROM v
    ),
    partials AS (
      SELECT event_type, shard, bin, COUNT(*) AS cnt
      FROM binned GROUP BY 1, 2, 3
    ),
    merged AS (
      SELECT event_type, bin, SUM(cnt) AS cnt FROM partials GROUP BY 1, 2
    ),
    cum AS (
      SELECT event_type, bin, cnt,
             SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin
                            ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(cnt) OVER (PARTITION BY event_type) AS total,
             CASE WHEN bin < 64 THEN bin
                  ELSE (bin % 64) * (CAST(1 AS BIGINT) << (CAST(bin // 64 AS INT) - 6)) END AS lb
      FROM merged
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_bins,
           CAST(SUM((bin + 1) * cnt) AS BIGINT) AS bin_chk,
           CAST(MAX(total) AS BIGINT) AS n_values,
           CAST(MIN(CASE WHEN cum * 2 >= total THEN lb END) AS BIGINT) AS p50_lb_micro,
           CAST(MIN(CASE WHEN cum * 20 >= total * 19 THEN lb END) AS BIGINT) AS p95_lb_micro
    FROM cum GROUP BY event_type
    """,
)
def a_hdr_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile histogram COLUMN with engine-reproducible bins
    (HdrHistogram-style log buckets, 5 sub-bucket bits): shard partials ->
    bin-sum merge -> p50/p95 lower-bound extraction, all integers and
    hash-verified; <= 2^-5 relative error vs exact percentiles asserted in
    test_sketches."""
    e = load(spark, sf_dir, "events")
    return hdr_quantiles_merge(
        e.withColumn("__s", (F.col("event_id") % 8).cast("long")),
        "__s",
        ["event_type"],
        "value",
    )
