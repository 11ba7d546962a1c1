"""Resolution caches: ``sources.registry.load`` resolves a source once per
(session, file version) and ``plans.mta_models.build_all`` builds the model
DAG once per (session, source frames, analysis confs). A hit must never hide
a changed file, a changed conf or another session's frames."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from mta_rtf_dbt_spark.plans.mta_models import MODELS, build_all, materialize
from mta_rtf_dbt_spark.sources.fixtures import MTA_TABLES
from mta_rtf_dbt_spark.sources.registry import _inferred, load
from mta_rtf_dbt_spark.sources.schemas import SchemaDriftError
from tests.test_mta_models import mta_dir, mta_models  # noqa: F401
from tests.test_source_schemas import STU, _jobs_in_group


def _sources(spark, mta_dir):  # noqa: F811
    return {t: load(spark, mta_dir, t) for t in MTA_TABLES}


def test_unchanged_file_gives_the_same_frame_with_no_job(spark, mta_dir):  # noqa: F811
    first = _sources(spark, mta_dir)
    again = {}
    assert _jobs_in_group(spark, "cache-hit", lambda: again.update(_sources(spark, mta_dir))) == 0
    assert all(again[t] is first[t] for t in MTA_TABLES)


def test_rewrite_with_a_dropped_column_is_not_served_from_the_cache(
    spark, mta_dir, tmp_path  # noqa: F811
):
    src = os.path.join(mta_dir, f"{STU}.parquet")
    path = os.path.join(tmp_path, f"{STU}.parquet")
    shutil.copy(src, path)
    assert load(spark, str(tmp_path), STU) is load(spark, str(tmp_path), STU)
    pq.write_table(pq.read_table(src).drop(["arrival__delay"]), path)
    with pytest.raises(SchemaDriftError, match="arrival__delay"):
        load(spark, str(tmp_path), STU)


def test_engine_written_table_reads_its_footer_schema_with_no_job(
    spark, mta_models, tmp_path  # noqa: F811
):
    """An undeclared path Spark wrote is read with the schema in its footer:
    no inference job, and the same schema and rows as inference, partition
    column included."""
    path = os.path.join(tmp_path, "fact_trips_stops.parquet")
    materialize(mta_models["fact_trips_stops"], path, ["service_day_local"])
    got = {}

    def read():
        got["df"] = load(spark, str(tmp_path), "fact_trips_stops")

    assert _jobs_in_group(spark, "footer-schema", read) == 0
    want = _inferred(spark, path)
    assert got["df"].schema == want.schema
    assert got["df"].exceptAll(want).isEmpty() and want.exceptAll(got["df"]).isEmpty()


def test_append_into_a_partition_directory_gives_a_new_frame(spark, tmp_path):
    rows = spark.createDataFrame([(1, "a"), (2, "a"), (3, "b")], "id long, part string")
    path = os.path.join(tmp_path, "appended.parquet")
    materialize(rows, path, ["part"])
    before = load(spark, str(tmp_path), "appended")
    assert before.count() == 3
    materialize(rows.filter("part = 'a'"), path, ["part"], mode="append")
    after = load(spark, str(tmp_path), "appended")
    assert after is not before
    assert after.filter("part = 'a'").count() == 4


def test_rewritten_nanos_file_is_peeked_again(spark, tmp_path):
    """The TIMESTAMP(NANOS) footer peek is keyed on the file version: a file
    rewritten with micros timestamps is not converted as nanos. Reading a
    nanos file leaves the session's ``nanosAsLong`` as the caller set it."""
    path = os.path.join(tmp_path, "ticks.parquet")
    conf = "spark.sql.legacy.parquet.nanosAsLong"
    prior = spark.conf.get(conf)
    for unit, value in [("ns", 1_500_000_000_123_456_789), ("us", 1_600_000_000_000_001)]:
        pq.write_table(pa.table({"ts": pa.array([value], pa.timestamp(unit))}), path)
        df = _inferred(spark, path)
        assert spark.conf.get(conf) == prior
        got = df.selectExpr("unix_micros(ts)").first()[0]
        assert got == (value // 1000 if unit == "ns" else value)


@pytest.mark.parametrize(
    "conf, value",
    [("spark.sql.ansi.enabled", "true"), ("spark.sql.session.timeZone", "America/New_York")],
)
def test_changed_analysis_conf_misses_build_all(spark, mta_dir, conf, value):  # noqa: F811
    src = _sources(spark, mta_dir)
    base = build_all(spark, src, False)
    old = spark.conf.get(conf)
    spark.conf.set(conf, value)
    try:
        flipped = build_all(spark, src, False)
    finally:
        spark.conf.set(conf, old)
    assert all(flipped[m] is not base[m] for m in MODELS)
    assert all(build_all(spark, src, False)[m] is base[m] for m in MODELS)


def test_mutating_a_returned_dict_does_not_leak(spark, mta_dir):  # noqa: F811
    src = _sources(spark, mta_dir)
    first = build_all(spark, src, False)
    models = dict(first)
    first.pop("fact_trips")
    first["fact_delays"] = first["fact_alerts"]
    again = build_all(spark, src, False)
    assert again == models and again is not first


def test_new_session_gets_its_own_entries(spark, mta_dir):  # noqa: F811
    other = spark.newSession()
    mine, theirs = _sources(spark, mta_dir), _sources(other, mta_dir)
    assert all(theirs[t] is not mine[t] and theirs[t].sparkSession is other for t in MTA_TABLES)
    built, other_built = build_all(spark, mine, False), build_all(other, theirs, False)
    assert all(other_built[m] is not built[m] for m in MODELS)
    assert build_all(other, mine, False)["fact_trips"] is not built["fact_trips"]
