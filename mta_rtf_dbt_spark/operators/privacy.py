"""Privacy-preserving release operators: differential-privacy noise and
k-anonymity suppression — the release-side companions to the erasure
operators (textprep.gdpr_erasure_audit retracts data; these govern what
derived statistics may leave the platform).

Determinism note: real DP deployments draw noise from a CSPRNG — by
definition not reproducible. Here the Laplace draw is driven by the
engine-wide LCG hash of the GROUP KEY (same family as operators/sampling),
which makes the released values testable and oracle-checkable bit-for-bit;
a production deployment swaps ``_uniform`` for a secure source with the
same inverse-CDF transform. The mechanism shape (sensitivity-1 counts,
scale 1/eps, post-processing invariance) is exactly the production one.

Scale: both operators are one map-combined aggregate plus per-group scalar
math — no extra shuffle beyond the groupBy, no Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from mta_rtf_dbt_spark.operators.sampling import _A, _C, _M
from mta_rtf_dbt_spark.registry import q
from mta_rtf_dbt_spark.sources.registry import load

EPS_MILLI = 500  # epsilon = 0.5 -> Laplace scale b = 1/eps = 2.0


def laplace_micro(key_hash: Column, scale_milli: int) -> Column:
    """Deterministic Laplace(b = scale_milli/1000) noise in micro units via
    inverse CDF: u ~ (hash+0.5)/M in (0,1); noise = -b*sgn(u-.5)*ln(1-2|u-.5|).
    The one float op (ln) lands in a single round-to-micro, so the value is
    engine-exact (the repo's float-hash discipline)."""
    u = (key_hash + F.lit(0.5)) / F.lit(float(_M))
    centered = u - F.lit(0.5)
    mag = F.lit(1.0) - F.lit(2.0) * F.abs(centered)
    b = F.lit(scale_milli / 1000.0)
    return (
        F.round(-b * F.signum(centered) * F.log(mag) * 1_000_000)
        .cast("long")
    )


@q(
    "a_dp_noisy_counts",
    f"""
    WITH g AS (
      SELECT event_type, CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS true_n
      FROM events GROUP BY 1, 2
    ),
    keyed AS (
      SELECT event_type, d, true_n,
             ((CAST(strpos('abcdefghijklmnopqrstuvwxyz', substr(event_type, 1, 1)) AS BIGINT) * 1000000
               + CAST(length(event_type) AS BIGINT)
               + CAST(d - DATE '1970-01-01' AS BIGINT)) * {_A} + {_C}) % {_M} AS kh
      FROM g
    )
    SELECT event_type, d, true_n,
           CAST(true_n * 1000000 + CAST(ROUND(-2.0 * sign((kh + 0.5) / {float(_M)} - 0.5)
                * ln(1.0 - 2.0 * abs((kh + 0.5) / {float(_M)} - 0.5)) * 1000000) AS BIGINT)
             AS BIGINT) AS released_micro
    FROM keyed
    """,
)
def a_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private count release (Laplace mechanism, eps=0.5,
    sensitivity 1): per-(event_type, day) counts plus Laplace(2.0) noise,
    released in micro units. Noise is keyed off the GROUP key's LCG hash
    (event-type char/length composite + epoch day — see module docstring:
    deterministic for oracle-checkability; prod swaps in a CSPRNG).
    true_n is emitted alongside ONLY because this is the verification
    surface — a production release drops it."""
    e = load(spark, sf_dir, "events")
    g = e.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("true_n")
    )
    key_hash = (
        (
            F.instr(
                F.lit("abcdefghijklmnopqrstuvwxyz"), F.substring("event_type", 1, 1)
            ).cast("long")
            * 1_000_000
            + F.length("event_type").cast("long")
            + F.datediff(F.col("d"), F.lit("1970-01-01").cast("date")).cast("long")
        )
        * _A
        + _C
    ) % _M
    return g.select(
        "event_type",
        "d",
        "true_n",
        (F.col("true_n") * 1_000_000 + laplace_micro(key_hash, 2000))
        .cast("long")
        .alias("released_micro"),
    )


K_ANON = 10


@q(
    "a_k_anonymity_audit",
    f"""
    WITH g AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             date_trunc('hour', ts) AS hr,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
             CAST(count(*) AS BIGINT) AS n_rows
      FROM events GROUP BY 1, 2, 3
    )
    SELECT event_type, d, hr, n_rows,
           CASE WHEN n_users >= {K_ANON} THEN n_users ELSE NULL END AS n_users_released,
           (n_users < {K_ANON}) AS suppressed
    FROM g
    """,
)
def a_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity suppression (k=10) over the quasi-identifier tuple
    (event_type, day, hour): any cell whose distinct-user support is below
    k is suppressed (NULL) rather than released — the small-cell rule every
    statistical-disclosure policy mandates, applied as pure column logic on
    the aggregate. The suppressed flag makes the audit itself releasable:
    it reveals only that a cell was small, not how small."""
    e = load(spark, sf_dir, "events")
    g = e.groupBy(
        "event_type",
        F.to_date("ts").alias("d"),
        F.date_trunc("hour", "ts").alias("hr"),
    ).agg(
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
    )
    return g.select(
        "event_type",
        "d",
        "hr",
        "n_rows",
        F.when(F.col("n_users") >= K_ANON, F.col("n_users")).alias(
            "n_users_released"
        ),
        (F.col("n_users") < K_ANON).alias("suppressed"),
    )
