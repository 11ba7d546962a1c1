"""Sketch error-bound guarantees vs exact baselines (the correctness story
for the rows-only a_approx_sketches driver entry)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def events(spark):
    from mta_rtf_dbt_spark.sources.registry import load

    return load(spark, SF, "events")


def test_hllpp_within_rsd(spark, events):
    from mta_rtf_dbt_spark.operators.sketches import approx_distinct_by_group

    approx = {
        r.event_type: r.approx_distinct
        for r in approx_distinct_by_group(events, ["event_type"], "user_id", 0.02).collect()
    }
    exact = {
        r.event_type: r.d
        for r in events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("d"))
        .collect()
    }
    assert approx.keys() == exact.keys()
    for k in exact:
        assert abs(approx[k] - exact[k]) <= max(5, 0.10 * exact[k]), (k, approx[k], exact[k])


def test_hll_merge_equals_direct(spark, events):
    """Merging per-shard sketches must estimate like sketching directly —
    the property that makes partial sketches storable per partition."""
    from mta_rtf_dbt_spark.operators.sketches import hll_partial_then_merge

    sharded = events.withColumn("__shard", (F.col("event_id") % 8).cast("int"))
    merged = {
        r.event_type: r.merged_estimate
        for r in hll_partial_then_merge(sharded, "__shard", ["event_type"], "user_id").collect()
    }
    direct = {
        r.event_type: r.est
        for r in events.groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id", F.lit(12))).alias("est"))
        .collect()
    }
    for k in direct:
        assert merged[k] == pytest.approx(direct[k], rel=1e-9), (k, merged[k], direct[k])


def test_percentile_approx_rank_error(spark, events):
    from mta_rtf_dbt_spark.operators.sketches import approx_quantiles_by_group

    approx = {
        r.event_type: r.approx_quantiles
        for r in approx_quantiles_by_group(
            events, ["event_type"], "value", [0.5, 0.95], accuracy=10000
        ).collect()
    }
    # rank-error bound: the approx p-quantile must sit between the exact
    # (p - eps) and (p + eps) quantiles, eps = 1/accuracy (+ slack)
    for p_idx, p in enumerate([0.5, 0.95]):
        lo_hi = events.groupBy("event_type").agg(
            F.expr(f"percentile(value, {max(p - 0.01, 0.0)})").alias("lo"),
            F.expr(f"percentile(value, {min(p + 0.01, 1.0)})").alias("hi"),
        )
        for r in lo_hi.collect():
            got = approx[r.event_type][p_idx]
            assert r.lo <= got <= r.hi, (r.event_type, p, got, r.lo, r.hi)


def test_heavy_hitters_exactness(spark, events):
    from mta_rtf_dbt_spark.operators.sketches import heavy_hitters_exact

    out = heavy_hitters_exact(events, ["event_type"], "user_id", support=0.0005)
    total = events.count()
    exact = (
        events.groupBy("event_type", "user_id")
        .count()
        .filter(F.col("count") > total * 0.0005)
    )
    assert out.count() == exact.count() > 0


def test_hll_portable_error_bound_and_mergeability(spark, events):
    """The portable HLL's register state must support an accurate distinct
    estimate: in the small-range regime (n < 2.5m, which local testdata is)
    the standard linear-counting estimate m*ln(m/V) computed FROM the
    emitted state must land near the exact count; above that regime the raw
    estimate itself must (HLL rsd for m=256 is ~6.5%; assert a loose 30%).
    Merging shard partials must equal sketching the group directly
    (associativity), register for register."""
    import math

    from mta_rtf_dbt_spark.operators.sketches import HLL_BUCKETS, hll_portable_merge

    sharded = events.withColumn("__s", (F.col("event_id") % 8).cast("long"))
    merged = {
        r.event_type: r
        for r in hll_portable_merge(sharded, "__s", ["event_type"], "user_id").collect()
    }
    single = {
        r.event_type: r
        for r in hll_portable_merge(
            events.withColumn("__s", F.lit(0)), "__s", ["event_type"], "user_id"
        ).collect()
    }
    exact = {
        r.event_type: r.n
        for r in events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(merged) == set(exact)
    for et, n in exact.items():
        r = merged[et]
        if n > 2.5 * HLL_BUCKETS:
            est = r.hll_raw_estimate_micro / 1e6
        else:
            empty = HLL_BUCKETS - r.n_registers
            assert empty > 0
            est = HLL_BUCKETS * math.log(HLL_BUCKETS / empty)
        assert abs(est - n) / n < 0.30, (et, est, n)
        # shard-merge == direct sketch, register for register
        assert r.register_chk == single[et].register_chk
        assert r.n_registers == single[et].n_registers
        assert r.hll_raw_estimate_micro == single[et].hll_raw_estimate_micro


def test_cms_portable_guarantees(spark, events):
    """CMS invariants from the emitted state: (1) shard-merge equals the
    single-shard sketch counter for counter (mergeability), (2) point
    estimates never underestimate the exact count, (3) overestimate is
    bounded by the expected-collision mass (loose deterministic check)."""
    from mta_rtf_dbt_spark.operators.sketches import (
        CMS_PROBES,
        CMS_W,
        cms_portable_merge,
    )

    sharded = events.withColumn("__s", (F.col("event_id") % 8).cast("long"))
    merged = {
        r.event_type: r
        for r in cms_portable_merge(sharded, "__s", ["event_type"], "user_id").collect()
    }
    single = {
        r.event_type: r
        for r in cms_portable_merge(
            events.withColumn("__s", F.lit(0)), "__s", ["event_type"], "user_id"
        ).collect()
    }
    exact = {
        (r.event_type, r.user_id): r.n
        for r in events.groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    totals = {
        r.event_type: r.n
        for r in events.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert set(merged) == set(totals)
    for et, r in merged.items():
        # mergeability: shard partials summed == direct sketch, state-level
        assert r.counter_chk == single[et].counter_chk
        assert r.n_nonzero_counters == single[et].n_nonzero_counters
        for p in CMS_PROBES:
            est = getattr(r, f"est_user_{p}")
            ex = exact.get((et, p), 0)
            assert est >= ex, (et, p, est, ex)
            # min over 4 rows; expected collision mass per counter ~ N/W
            assert est <= ex + 8 * max(totals[et] // CMS_W, 1) + 8, (et, p, est, ex)


def test_kmv_portable_guarantees(spark, events):
    """KMV invariants: below k distinct the sketch is EXACT; above k the
    estimate lands within a loose relative bound (rsd ~ 1/sqrt(k-2)); and
    shard-merge equals the single-shard sketch state-for-state."""
    from mta_rtf_dbt_spark.operators.sketches import KMV_K, kmv_portable_merge

    sharded = events.withColumn("__s", (F.col("event_id") % 8).cast("long"))
    merged = {
        r.event_type: r
        for r in kmv_portable_merge(sharded, "__s", ["event_type"], "user_id").collect()
    }
    single = {
        r.event_type: r
        for r in kmv_portable_merge(
            events.withColumn("__s", F.lit(0)), "__s", ["event_type"], "user_id"
        ).collect()
    }
    exact = {
        r.event_type: r.n
        for r in events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(merged) == set(exact)
    for et, n in exact.items():
        r = merged[et]
        assert r.kmv_state == single[et].kmv_state  # merge associativity
        if n < KMV_K:
            assert r.kmv_estimate == n and r.n_kept == n
        else:
            assert r.n_kept == KMV_K
            assert abs(r.kmv_estimate - n) / n < 0.5, (et, r.kmv_estimate, n)


def test_kmv_setops_estimates(spark, events):
    """Pairwise intersection estimates from KMV state: exact when the union
    sketch retains < k values; otherwise within a loose relative bound of
    the true overlap (and never negative)."""
    import __spark_entry__ as e
    from mta_rtf_dbt_spark.operators.sketches import KMV_K
    from tests.conftest import SF_CORRECT

    out = e.queries()["a_kmv_setops"](spark, SF_CORRECT).collect()
    exact = {}
    users = {
        r.event_type: set(u[0] for u in events.filter(F.col("event_type") == r.event_type)
                          .select("user_id").distinct().collect())
        for r in events.select("event_type").distinct().collect()
    }
    for r in out:
        true_inter = len(users[r.type_a] & users[r.type_b])
        assert r.intersect_est >= 0
        if r.n_union_kept < KMV_K:
            assert r.intersect_est == true_inter, (r, true_inter)
        elif true_inter > 0:
            assert abs(r.intersect_est - true_inter) / true_inter < 0.8, (r, true_inter)


def test_hdr_quantile_error_bound(spark, events):
    """HDR extraction from the emitted bins: p50/p95 lower bounds must
    bracket the exact percentile within one bin (<= 2^-5 relative below,
    never above the exact value by construction of lower-bound extraction);
    shard-merge equals the direct sketch bin-for-bin."""
    from mta_rtf_dbt_spark.operators.sketches import hdr_quantiles_merge

    sharded = events.withColumn("__s", (F.col("event_id") % 8).cast("long"))
    merged = {
        r.event_type: r
        for r in hdr_quantiles_merge(sharded, "__s", ["event_type"], "value").collect()
    }
    single = {
        r.event_type: r
        for r in hdr_quantiles_merge(
            events.withColumn("__s", F.lit(0)), "__s", ["event_type"], "value"
        ).collect()
    }
    exact = {
        r.event_type: r
        for r in events.groupBy("event_type")
        .agg(
            F.expr("percentile(CAST(floor(value * 1000000) AS BIGINT), 0.5)").alias("p50"),
            F.expr("percentile(CAST(floor(value * 1000000) AS BIGINT), 0.95)").alias("p95"),
        )
        .collect()
    }
    for et, r in merged.items():
        assert r.bin_chk == single[et].bin_chk  # merge associativity
        for est, ex in [(r.p50_lb_micro, exact[et].p50), (r.p95_lb_micro, exact[et].p95)]:
            # lower bound of the bin containing the percentile rank:
            # within one bin width (rel 2^-5) of the exact percentile
            assert est <= ex * 1.001, (et, est, ex)
            assert est >= ex * (1 - 2 ** -5) * 0.97, (et, est, ex)
