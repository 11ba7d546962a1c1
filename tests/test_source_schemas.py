"""Declared source schemas (sources/schemas.py): declared reads match what
schema inference gives, fire no Spark job, and a file that drifted from its
declaration fails at load, naming the column."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from mta_rtf_dbt_spark.sources.fixtures import MTA_TABLES, ensure_fixtures
from mta_rtf_dbt_spark.sources.registry import TESTDATA_TABLES, _inferred, load
from mta_rtf_dbt_spark.sources.schemas import SCHEMAS, SchemaDriftError
from tests.conftest import SF_CORRECT, SF_SMOKE

STU = "trip_updates__trip_update__stop_time_update"


def test_every_source_is_declared():
    assert sorted(SCHEMAS) == sorted(TESTDATA_TABLES + MTA_TABLES)


@pytest.mark.parametrize(
    "src_dir, tables",
    [
        (SF_SMOKE, TESTDATA_TABLES),
        (SF_CORRECT, TESTDATA_TABLES),
        (None, MTA_TABLES),
    ],
    ids=["sf0.001", "sf0.01", "mta_fixture"],
)
def test_declared_schema_matches_inference(spark, src_dir, tables):
    src_dir = src_dir or ensure_fixtures()
    diffs = {
        t: (declared, inferred)
        for t in tables
        if (declared := load(spark, src_dir, t).schema)
        != (inferred := _inferred(spark, os.path.join(src_dir, f"{t}.parquet")).schema)
    }
    assert not diffs


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_mta_sources_and_model_build_fire_no_jobs(spark):
    from mta_rtf_dbt_spark.plans.mta_models import build_all

    mta_dir = ensure_fixtures()

    def declared():
        build_all(spark, {t: load(spark, mta_dir, t) for t in MTA_TABLES}, False)

    def inferred():
        for t in MTA_TABLES:
            _inferred(spark, os.path.join(mta_dir, f"{t}.parquet"))

    # control: the same probe sees the inference path's one job per table
    assert _jobs_in_group(spark, "schemas-inferred", inferred) >= len(MTA_TABLES)
    assert _jobs_in_group(spark, "schemas-declared", declared) == 0


def _drifted_copy(tmp_path, table, mutate):
    src = pq.read_table(os.path.join(ensure_fixtures(), f"{table}.parquet"))
    pq.write_table(mutate(src), os.path.join(tmp_path, f"{table}.parquet"))
    return str(tmp_path)


def _retype(column, typ):
    def mutate(t):
        i = t.schema.get_field_index(column)
        return t.set_column(i, column, t.column(column).cast(typ))

    return mutate


@pytest.mark.parametrize(
    "mutate, column",
    [
        # D6: dlt may land stop_sequence as a string
        (_retype("stop_sequence", pa.string()), "stop_sequence"),
        (lambda t: t.drop(["arrival__delay"]), "arrival__delay"),
        (lambda t: t.append_column("vehicle_id", pa.nulls(t.num_rows, pa.string())), "vehicle_id"),
    ],
    ids=["retyped", "dropped", "added"],
)
def test_drift_fails_at_load_naming_the_column(spark, tmp_path, mutate, column):
    src_dir = _drifted_copy(tmp_path, STU, mutate)
    with pytest.raises(SchemaDriftError, match=rf"{STU}.*'{column}'"):
        load(spark, src_dir, STU)


def test_utc_adjusted_timestamps_are_not_drift(spark, tmp_path):
    """Spark writes TimestampType as UTC-adjusted micros; it reads back with
    the same values as the zoneless declaration, so it passes the check."""
    src = SF_SMOKE
    utc = _retype("ts", pa.timestamp("us", tz="UTC"))
    t = pq.read_table(os.path.join(src, "events.parquet"))
    pq.write_table(utc(t), os.path.join(tmp_path, "events.parquet"))
    got = load(spark, str(tmp_path), "events")
    assert got.schema == SCHEMAS["events"]
    assert got.exceptAll(load(spark, src, "events")).isEmpty()


def test_rewritten_file_is_checked_again(spark, tmp_path):
    src_dir = _drifted_copy(tmp_path, STU, lambda t: t)
    assert load(spark, src_dir, STU).schema == SCHEMAS[STU]
    _drifted_copy(tmp_path, STU, _retype("stop_sequence", pa.string()))
    with pytest.raises(SchemaDriftError, match="stop_sequence"):
        load(spark, src_dir, STU)


def test_stream_source_reads_the_declared_schema(spark, tmp_path):
    from mta_rtf_dbt_spark.streaming.head import stream_source

    sdf = stream_source(spark, SF_SMOKE, "events")
    assert sdf.isStreaming and sdf.schema == SCHEMAS["events"]
    src_dir = _drifted_copy(tmp_path, "stops", _retype("stop_lat", pa.string()))
    with pytest.raises(SchemaDriftError, match="stop_lat"):
        stream_source(spark, src_dir, "stops")
