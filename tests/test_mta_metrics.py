"""M1-M12 parity: each metric runs in Spark over the fixture-built models and
is compared against the independent DuckDB metric SQL
(plans/mta_oracle.py::METRIC_SQL) over the oracle model views (o_fact_*).
The same SQL strings, nested after read_parquet fixture CTEs, are the
driver-gate oracles in plans/mta_driver.py — one source of truth."""

from __future__ import annotations

import pytest

from mta_rtf_dbt_spark.plans.mta_oracle import DAY, METRIC_SQL, STOP_A, STOP_B, START, END
from tests.oracle_harness import compare
from tests.test_mta_models import duck_mta, mta_dir, mta_models  # noqa: F401

CASES = {}


def case(name):
    def deco(fn):
        CASES[name] = fn
        return fn

    return deco


@case("m1")
def _m1(models, src):
    from mta_rtf_dbt_spark.metrics.guide import m1_trips_per_minute

    return m1_trips_per_minute(models, START, END)


@case("m2")
def _m2(models, src):
    from mta_rtf_dbt_spark.metrics.guide import m2_trips_per_5min

    return m2_trips_per_5min(models, START, END)


@case("m3")
def _m3(models, src):
    from mta_rtf_dbt_spark.metrics.guide import m3_service_delivered

    return m3_service_delivered(models, src, DAY)


@case("m4")
def _m4(models, src):
    from mta_rtf_dbt_spark.metrics.guide import m4_terminal_otp

    return m4_terminal_otp(models, src, DAY)


@case("m5")
def _m5(models, src):
    from mta_rtf_dbt_spark.metrics.guide import m5_headways

    return m5_headways(models, STOP_A, DAY)


@case("m6")
def _m6(models, src):
    from mta_rtf_dbt_spark.metrics.guide import m6_dwell_times

    return m6_dwell_times(models)


@case("m7")
def _m7(models, src):
    from mta_rtf_dbt_spark.metrics.guide import m7_run_time

    return m7_run_time(models, STOP_A, STOP_B)


@case("m8")
def _m8(models, src):
    from mta_rtf_dbt_spark.metrics.guide import m8_excess_delay

    return m8_excess_delay(models, src, DAY, STOP_A)


@case("m9")
def _m9(models, src):
    from mta_rtf_dbt_spark.metrics.guide import m9_completeness

    return m9_completeness(models)


@case("m10")
def _m10(models, src):
    from mta_rtf_dbt_spark.metrics.guide import m10_added_canceled_share

    return m10_added_canceled_share(models)


@case("m11")
def _m11(models, src):
    from mta_rtf_dbt_spark.metrics.guide import m11_feed_latency

    return m11_feed_latency(models)


@case("m12")
def _m12(models, src):
    from mta_rtf_dbt_spark.metrics.guide import m12_wait_assessment

    return m12_wait_assessment(models, src, STOP_A, DAY)


@pytest.fixture(scope="session")
def mta_src(spark, mta_dir):  # noqa: F811
    from mta_rtf_dbt_spark.sources.fixtures import MTA_TABLES
    from mta_rtf_dbt_spark.sources.registry import load

    return {t: load(spark, mta_dir, t) for t in MTA_TABLES}


@pytest.mark.parametrize("name", sorted(CASES))
def test_metric_parity(mta_models, mta_src, duck_mta, name):  # noqa: F811
    df = CASES[name](mta_models, mta_src)
    errs = compare(name, df, duck_mta, METRIC_SQL[name])
    assert not errs, "\n".join(errs)


def test_models_and_metrics_match_oracle_with_ansi_on(spark, mta_dir, duck_mta):  # noqa: F811
    """Vanilla Spark 4 runs with ANSI on, and so does any session nobody
    pinned: the 4 models and M1-M12, built and executed under
    spark.sql.ansi.enabled=true, must still equal the DuckDB oracle (no cast,
    division or array access in the SQL may start raising)."""
    from mta_rtf_dbt_spark.plans.mta_models import MODELS, build_all
    from mta_rtf_dbt_spark.sources.fixtures import MTA_TABLES
    from mta_rtf_dbt_spark.sources.registry import load

    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        src = {t: load(spark, mta_dir, t) for t in MTA_TABLES}
        models = build_all(spark, src, register_views=False)
        errs = []
        for name in MODELS:
            errs += compare(name, models[name], duck_mta, f"SELECT * FROM o_{name}")
        for name, case in CASES.items():
            errs += compare(name, case(models, src), duck_mta, METRIC_SQL[name])
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    assert not errs, "\n".join(errs)
