"""Property-based cross-engine checks of the bq compat layer (D9/D10/A10):
hypothesis generates adversarial inputs (negative diffs, sub-second offsets,
>24h clocks, zero divisors) and DuckDB recomputes the documented BigQuery
semantics over the same rows. These guard the semantics the corpus-level
driver checks only hit on whatever values happen to be in the testdata."""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
from hypothesis import given, settings
from hypothesis import strategies as st

from mta_rtf_dbt_spark.functions import bq

BASE_US = 1_600_000_000_000_000  # 2020-09-13 in unix micros


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=-(10**9), max_value=10**9),  # micro offset a
            st.integers(min_value=-(10**9), max_value=10**9),  # micro offset b
        ),
        min_size=1,
        max_size=50,
    )
)
def test_timestamp_diff_truncates_toward_zero(spark, duck, tmp_path_factory, pairs):
    pdf = pd.DataFrame(
        {
            "i": range(len(pairs)),
            "a": pd.to_datetime([BASE_US + p[0] for p in pairs], unit="us", utc=True),
            "b": pd.to_datetime([BASE_US + p[1] for p in pairs], unit="us", utc=True),
        }
    )
    path = str(tmp_path_factory.mktemp("tsdiff") / "t.parquet")
    pdf.to_parquet(path, index=False, coerce_timestamps="us")

    sdf = spark.read.parquet(path)
    rows = sdf.select(
        "i",
        bq.timestamp_diff(F.col("a"), F.col("b"), "SECOND").alias("s"),
        bq.timestamp_diff(F.col("a"), F.col("b"), "MINUTE").alias("m"),
        # the spelling of D9 in the SQL models and metrics
        F.expr("(unix_micros(a) - unix_micros(b)) div 1000000").alias("sql_s"),
        F.expr("(unix_micros(a) - unix_micros(b)) div 60000000").alias("sql_m"),
    ).collect()
    got = {r.i: (r.s, r.m) for r in rows}
    for r in rows:
        assert (r.sql_s, r.sql_m) == (r.s, r.m), r
    exp_rows = duck.execute(
        f"""
        SELECT i,
               CAST((epoch_us(a) - epoch_us(b)
                     - (epoch_us(a) - epoch_us(b)) % 1000000) // 1000000 AS BIGINT) AS s,
               CAST((epoch_us(a) - epoch_us(b)
                     - (epoch_us(a) - epoch_us(b)) % 60000000) // 60000000 AS BIGINT) AS m
        FROM read_parquet('{path}')
        """
    ).fetchall()
    for i, s, m in exp_rows:
        assert got[i] == (s, m), (i, got[i], (s, m))
    # truncation-toward-zero spot property: -90s diff is -1 minute, not -2
    for p, (i, s, m) in zip(pairs, sorted((k, *v) for k, v in got.items())):
        micros = p[0] - p[1]
        assert s == int(micros / 1_000_000)  # python int() truncates toward 0
        assert m == int(micros / 60_000_000)


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=47),   # hour, incl. >= 24 overhang
            st.integers(min_value=0, max_value=59),
            st.integers(min_value=0, max_value=59),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_gtfs_clock_overflow_equals_interval_math(spark, duck, tmp_path_factory, clocks):
    pdf = pd.DataFrame(
        {
            "i": range(len(clocks)),
            "day": ["2021-03-05"] * len(clocks),
            "hms": [f"{h:02d}:{m:02d}:{s:02d}" for h, m, s in clocks],
        }
    )
    path = str(tmp_path_factory.mktemp("gtfs") / "t.parquet")
    pdf.to_parquet(path, index=False)

    got = {
        r.i: r.ts
        for r in spark.read.parquet(path)
        .select("i", bq.gtfs_time_to_ts(F.col("day"), F.col("hms")).alias("ts"))
        .collect()
    }
    exp = duck.execute(
        f"""
        SELECT i, CAST(day AS TIMESTAMP)
               + to_hours(CAST(string_split(hms, ':')[1] AS BIGINT))
               + to_minutes(CAST(string_split(hms, ':')[2] AS BIGINT))
               + to_seconds(CAST(string_split(hms, ':')[3] AS BIGINT)) AS ts
        FROM read_parquet('{path}')
        """
    ).fetchall()
    for i, ts in exp:
        assert got[i] == ts, (i, got[i], ts)


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=-1000, max_value=1000),
            st.integers(min_value=-5, max_value=5),  # dense zeros
        ),
        min_size=1,
        max_size=50,
    )
)
def test_safe_divide_null_on_zero(spark, pairs):
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(pairs)], "i long, a long, b long"
    )
    got = {
        r.i: r.q
        for r in df.select(
            "i", bq.safe_divide(F.col("a").cast("double"), F.col("b")).alias("q")
        ).collect()
    }
    for i, (a, b) in enumerate(pairs):
        if b == 0:
            assert got[i] is None
        else:
            assert got[i] == a / b
