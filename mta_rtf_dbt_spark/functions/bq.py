"""BigQuery-semantics expression library (the D1-D11 compat layer, SURVEY.md §4).

The entries built with the DataFrame API (plans/relational.py,
metrics/events_analog.py, streaming/jobs.py) use these helpers instead of
raw ``pyspark.sql.functions`` wherever BigQuery and Spark semantics diverge.
The MTA models and metrics cookbook are Spark SQL text and spell the same
semantics in SQL under the same D-codes (plans/mta_models.py,
metrics/guide.py); tests/test_bq_properties.py checks their D9 spelling
against :func:`timestamp_diff`. All helpers return Column expressions
(JVM-side, whole-stage-codegen eligible) — no Python UDFs anywhere in this
module.

Reference call sites are cited per function as ``file:line`` inside
``/root/reference``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "regexp_extract",
    "concat",
    "to_hex_sha256",
    "timestamp_seconds",
    "timestamp_diff",
    "timestamp_trunc",
    "unix_seconds",
    "safe_divide",
    "countif",
    "local_date",
    "local_time_str",
    "gtfs_time_to_ts",
    "any_value_det",
    "argmin",
    "argmax",
]


def regexp_extract(col: Column | str, pattern: str, idx: int = 0) -> Column:
    """BigQuery ``REGEXP_EXTRACT`` — NULL on no-match (Spark returns ``''``).

    D2; reference: fact_trips_stops.sql:93,101,112 — the trip_uid coalesce
    fallback chain breaks if '' is returned instead of NULL.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.nullif(F.regexp_extract(c, pattern, idx), F.lit(""))


def concat(*cols: Column) -> Column:
    """BigQuery ``CONCAT`` — NULL if any argument is NULL.

    D3; Spark ``concat`` already null-propagates (unlike ``concat_ws``, which
    silently skips nulls — never substitute it). Reference:
    fact_trips_stops.sql:87-90,96-117.
    """
    return F.concat(*cols)


def to_hex_sha256(col: Column) -> Column:
    """BigQuery ``TO_HEX(SHA256(s))`` — Spark ``sha2(s, 256)`` emits the same
    lowercase hex directly. F4; reference: fact_trips_stops.sql:106-117."""
    return F.sha2(col, 256)


def timestamp_seconds(col: Column | str) -> Column:
    """BigQuery ``TIMESTAMP_SECONDS(n)`` (F7; fact_trips_stops.sql:75-77)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.timestamp_seconds(c)


def _trunc_div(c: Column, n: int) -> Column:
    # Integer division truncating toward zero (Java semantics) on exact longs:
    # (c - c % n) / n. Spark's % has the sign of the dividend, so
    # -90 -> (-90 - (-30)) / 60 = -1, matching BigQuery's TIMESTAMP_DIFF.
    return ((c - (c % F.lit(n))) / F.lit(n)).cast("long")


def timestamp_diff(a: Column, b: Column, unit: str = "SECOND") -> Column:
    """BigQuery ``TIMESTAMP_DIFF(a, b, unit)`` = a - b in whole units,
    truncated toward zero (D9: BQ gives -90s -> -1 min; naive ``floor`` would
    give -2). Reference: fact_trips.sql:66-70, metrics_guide.md:157,197,...

    Implemented on exact integer arithmetic (unix micros) — no float rounding.
    """
    micros = F.unix_micros(a) - F.unix_micros(b)
    unit = unit.upper()
    scale = {
        "MICROSECOND": 1,
        "MILLISECOND": 1_000,
        "SECOND": 1_000_000,
        "MINUTE": 60_000_000,
        "HOUR": 3_600_000_000,
        "DAY": 86_400_000_000,
    }[unit]
    return _trunc_div(micros, scale)


def timestamp_trunc(col: Column, unit: str) -> Column:
    """BigQuery ``TIMESTAMP_TRUNC`` (F9; metrics_guide.md:30,177,315,333)."""
    return F.date_trunc(unit.lower(), col)


def unix_seconds(col: Column) -> Column:
    """BigQuery ``UNIX_SECONDS(ts)`` (F10; metrics_guide.md:46). Truncates the
    sub-second part toward negative infinity exactly like BQ (both floor)."""
    return F.floor(F.unix_micros(col) / F.lit(1_000_000)).cast("long")


def safe_divide(a: Column, b: Column) -> Column:
    """BigQuery ``SAFE_DIVIDE`` — NULL on division by zero (A10;
    metrics_guide.md:133,292)."""
    return F.try_divide(a, b)


def countif(cond: Column) -> Column:
    """BigQuery ``COUNTIF(cond)`` (A7; metrics_guide.md:285,291-292)."""
    return F.count_if(cond)


def local_date(ts: Column, tz: str = "America/New_York") -> Column:
    """BigQuery ``DATE(ts, tz)`` (F11; fact_trips_stops.sql:135)."""
    return F.to_date(F.from_utc_timestamp(ts, tz))


def local_time_str(ts: Column, tz: str = "America/New_York") -> Column:
    """BigQuery ``TIME(FORMAT_TIMESTAMP('%T', ts, tz))`` — compared as a
    zero-padded HH:mm:ss string, where lexicographic order equals time order
    (F12; metrics_guide.md:105,126)."""
    return F.date_format(F.from_utc_timestamp(ts, tz), "HH:mm:ss")


def gtfs_time_to_ts(service_day: Column, hms: Column) -> Column:
    """GTFS clock string -> timestamp, supporting HH >= 24 (service-day
    overhang, e.g. '25:30:00' = 1:30 next civil day).

    D10/F13; reference: metrics_guide.md:92-96,252-256,350-355 builds this as
    ``TIME(0,0,0) + INTERVAL h HOUR + INTERVAL m MINUTE + INTERVAL s SECOND``
    on the service day. Never parse via ``to_timestamp`` (rejects HH>23).
    ``service_day`` may be DateType or 'YYYY-MM-DD' string.
    """
    parts = F.split(hms, ":")
    h = parts.getItem(0).try_cast("int")
    m = parts.getItem(1).try_cast("int")
    s = parts.getItem(2).try_cast("int")
    midnight = F.to_timestamp(service_day.cast("date"))
    return midnight + F.make_interval(hours=h, mins=m, secs=s.cast("double"))


def any_value_det(col: Column) -> Column:
    """Deterministic stand-in for BigQuery ``ANY_VALUE`` over functionally
    dependent attributes (D4; fact_trips.sql:26-32, fact_alerts.sql:15,22):
    picks ``min`` ignoring nulls so engine and oracle agree bit-for-bit."""
    return F.min(col)


def _null_last_key(key: Column, *tiebreak: Column) -> Column:
    # Struct ordering in Spark is lexicographic over fields, so prefixing a
    # null flag reproduces the reference's `CASE WHEN k IS NULL THEN 1 ELSE 0`
    # nulls-last trick (O3; fact_trips.sql:44-47,52-55), and a unique
    # tiebreaker fixes D5 (argmin ties nondeterministic in BQ and Spark).
    fields = [F.when(key.isNull(), F.lit(1)).otherwise(F.lit(0)).alias("n"), key.alias("k")]
    fields += [t.alias(f"t{i}") for i, t in enumerate(tiebreak)]
    return F.struct(*fields)


def argmin(payload: Column, key: Column, *tiebreak: Column) -> Column:
    """BigQuery ``ARRAY_AGG(payload ORDER BY key [nulls last], tb LIMIT 1)
    [OFFSET(0)]`` — the A5 argmin idiom (fact_trips.sql:42-49) — as a single
    ``min_by`` over a composite struct key: no per-group sort, no array
    materialization, fully map-side-combinable at 100 TB."""
    return F.min_by(payload, _null_last_key(key, *tiebreak))


def argmax(payload: Column, key: Column, *tiebreak: Column) -> Column:
    """A5 argmax twin (fact_trips.sql:50-57). Nulls sort last for DESC too:
    the null flag makes null keys the *maximum* struct, so invert it."""
    fields = [F.when(key.isNull(), F.lit(-1)).otherwise(F.lit(0)).alias("n"), key.alias("k")]
    fields += [t.alias(f"t{i}") for i, t in enumerate(tiebreak)]
    return F.max_by(payload, F.struct(*fields))
