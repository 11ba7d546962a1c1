"""The four reference models as Spark SQL text + a dbt-style DAG.

Source semantics (reference, cited per builder):
  - fact_trips_stops — /root/reference/models/fact_trips_stops.sql:1-137
  - fact_trips       — /root/reference/models/fact_trips.sql:1-90
  - fact_delays      — /root/reference/models/fact_delays.sql:1-54
  - fact_alerts      — /root/reference/models/fact_alerts.sql:1-94

Each model body is one SQL text, run as one ``spark.sql`` call on its input
frames' session through ``session.frame_sql``: the input frames are passed
as ``{name}`` DataFrame arguments, so a model reads whatever frames it is
given (sources, a filtered load, a streaming micro-batch). The reference's
models are SQL, and a SQL body is parsed and resolved by the JVM in one
pass: the same chain built through the DataFrame API sent ~4 000
Python→JVM calls per ``build_all`` (each ``F.*`` or DataFrame call is
several py4j round trips), and that plan building, not execution, was the
largest cost of a query over the model views. Literal braces in the SQL
(regex quantifiers) are doubled, as for ``str.format``. Model bodies nest
subqueries rather than use WITH: a persisted model whose plan holds a CTE
no longer matches its cache entry once a query's own CTE embeds it, and
the metrics' CTEs would then recompute the model instead of reading it.

Determinism policy (SURVEY.md §4; the independent DuckDB oracle in
plans/mta_oracle.py applies the same policy), cited in the SQL as D-codes:
  - D1: SAFE_CAST is ``try_cast`` (NULL on failure in any ANSI mode).
  - D2: REGEXP_EXTRACT is NULL on no match: ``nullif(regexp_extract(..), '')``.
  - D4: BigQuery ``ANY_VALUE`` (nondeterministic) is ``MIN``.
  - D5: every argmin/argmax key ends in the unique ``stu_id`` tiebreaker.
  - D9: TIMESTAMP_DIFF is exact unix-micros arithmetic with ``div``, which
    truncates toward zero (-90 s is -1 MINUTE). Spark's ``timestampdiff``
    is not used: it subtracts wall-clock times in the session time zone,
    so across a DST change in a non-UTC session it is off by the shift.
  - D11: civil time is an explicit ``from_utc_timestamp(ts, tz)`` shift.
BigQuery default null ordering is replicated exactly where the reference
relies on it: ASC → NULLS FIRST, DESC → NULLS LAST, and the explicit
CASE-WHEN-null prefix (fact_trips.sql:44-47,52-55) forces nulls-last for the
terminal-stop argmin/argmax — as null-flag fields leading a struct key.

Scale posture: fact_trips_stops is one fact-fact join (tu×stu on tu_id)
plus two dim joins; fact_trips is a single hash aggregate on trip_uid
(min_by/max_by — map-side combinable, no sort, no array materialization)
plus two dim joins; fact_alerts pre-aggregates each child, then left-joins
it. Like the reference's SQL, the bodies carry no join hints: Spark
broadcasts each side whose size estimate is under
``spark.sql.autoBroadcastJoinThreshold`` and shuffles the rest, and AQE
re-plans from the sizes of the finished stages. At fixture scale every dim
and child side is broadcast; at 100 TB the fact-fact join shuffles. All
views stay lazy (dbt materialized='view'); ``materialize`` writes
partitioned parquet for the reference's production hint
(metrics_guide.md:385).
"""

from __future__ import annotations

from collections.abc import Callable
from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession

from mta_rtf_dbt_spark.session import RUNTIME_CONFS, frame_sql

# ---------------------------------------------------------------------------
# fact_trips_stops
# ---------------------------------------------------------------------------
FACT_TRIPS_STOPS_SQL = r"""
SELECT
  tu_id, stu_id, as_of, feed, rt_trip_id, route_id, direction_id, service_date,
  trip_schedule_relationship, trip_headsign, stop_id, stop_sequence, stop_sequence_int,
  stop_name, parent_station, stop_lat, stop_lon,
  feed_ts_utc, arrival_ts_utc, departure_ts_utc,
  arrival__delay, departure__delay, arrival__uncertainty, departure__uncertainty,
  stu_schedule_relationship,
  concat(coalesce(route_id, 'UNK'), '|', coalesce(trip_headsign, 'UNK')) AS route_headsign_key,
  rt_origin_code_hundredths,
  trip_uid_text,
  sha2(trip_uid_text, 256) AS trip_uid,  -- TO_HEX(SHA256(..)): same lowercase hex
  arrival_ts_utc IS NOT NULL AS has_arrival_ts,
  departure_ts_utc IS NOT NULL AS has_departure_ts,
  event_ts_utc,
  CASE WHEN arrival_ts_utc IS NOT NULL THEN 'arrival'
       WHEN departure_ts_utc IS NOT NULL THEN 'departure' END AS event_kind_primary,
  -- D11: DATETIME(ts, tz) / DATE(ts, tz) (fact_trips_stops.sql:134-135)
  from_utc_timestamp(event_ts_utc, 'America/New_York') AS event_dt_local,
  to_date(from_utc_timestamp(event_ts_utc, 'America/New_York')) AS service_day_local
FROM (
  SELECT *,
    -- the trip identity (fact_trips_stops.sql:96-117); concat is NULL if
    -- any argument is (D3), so every part is coalesced first
    concat(coalesce(service_date, 'UNK'), '|', coalesce(route_id, 'UNK'), '|',
           coalesce(trip_headsign, 'UNK'), '|',
           coalesce(rt_origin_code_hundredths, rt_trip_id, 'UNK')) AS trip_uid_text,
    coalesce(arrival_ts_utc, departure_ts_utc) AS event_ts_utc
  FROM (
    SELECT
      tu._dlt_id AS tu_id,
      stu._dlt_id AS stu_id,
      tu.as_of,
      tu.feed,
      tu.trip_update__trip__trip_id AS rt_trip_id,
      tu.trip_update__trip__route_id AS route_id,
      tu.trip_update__trip__direction_id AS direction_id,
      tu.trip_update__trip__start_date AS service_date,
      tu.trip_update__trip__schedule_relationship AS trip_schedule_relationship,
      t.trip_headsign,
      stu.stop_id,
      stu.stop_sequence,
      try_cast(stu.stop_sequence AS BIGINT) AS stop_sequence_int,  -- D1
      s.stop_name,
      s.parent_station,
      s.stop_lat,
      s.stop_lon,
      timestamp_seconds(try_cast(tu.trip_update__timestamp AS BIGINT)) AS feed_ts_utc,
      CASE WHEN stu.arrival__time IS NOT NULL
        THEN timestamp_seconds(try_cast(stu.arrival__time AS BIGINT)) END AS arrival_ts_utc,
      CASE WHEN stu.departure__time IS NOT NULL
        THEN timestamp_seconds(try_cast(stu.departure__time AS BIGINT)) END AS departure_ts_utc,
      stu.arrival__delay,
      stu.departure__delay,
      stu.arrival__uncertainty,
      stu.departure__uncertainty,
      stu.schedule_relationship AS stu_schedule_relationship,
      -- D2 (fact_trips_stops.sql:93): the origin code of the realtime trip id
      nullif(regexp_extract(tu.trip_update__trip__trip_id, r'^-?\d{{1,8}}', 0), '')
        AS rt_origin_code_hundredths
    FROM {tu} tu
    JOIN {stu} stu ON stu._dlt_parent_id = tu._dlt_id
    LEFT JOIN {stops} s ON s.stop_id = stu.stop_id
    LEFT JOIN {trips} t ON t.trip_id = tu.trip_update__trip__trip_id
  ) joined
) keyed
"""


def fact_trips_stops(src: dict[str, DataFrame]) -> DataFrame:
    """Stop-level fact: one row per stop_time_update per snapshot
    (fact_trips_stops.sql:3-136)."""
    return frame_sql(
        FACT_TRIPS_STOPS_SQL,
        tu=src["trip_updates"],
        stu=src["trip_updates__trip_update__stop_time_update"],
        stops=src["stops"],
        trips=src["trips"],
    )


# ---------------------------------------------------------------------------
# fact_trips
# ---------------------------------------------------------------------------
# The reference's ordered-ARRAY_AGG-LIMIT-1 idioms (fact_trips.sql:42-68)
# become min_by/max_by over struct keys. Struct order is lexicographic, so a
# null-flag field ahead of each nullable key places its NULLs, and stu_id
# ends every key (D5):
#   - first/last stop: the reference's CASE WHEN seq IS NULL THEN 1 ELSE 0
#     prefix (nulls last for both), then the event time in BigQuery's
#     default order (ASC nulls first; DESC nulls last: under max_by a null
#     flag of -1 loses to 0);
#   - first/last event: BigQuery's *default* null order on seq alone (ASC
#     nulls first / DESC nulls last), since the reference omits the CASE
#     prefix there — a faithful quirk.
FACT_TRIPS_SQL = """
SELECT
  agg.*,
  fs.stop_name AS first_stop_name,
  fs.parent_station AS first_parent_station,
  fs.stop_lat AS first_stop_lat,
  fs.stop_lon AS first_stop_lon,
  ls.stop_name AS last_stop_name,
  ls.parent_station AS last_parent_station,
  ls.stop_lat AS last_stop_lat,
  ls.stop_lon AS last_stop_lon
FROM (
  SELECT
    trip_uid,
    min(trip_uid_text) AS trip_uid_text,  -- D4: ANY_VALUE is MIN
    min(rt_trip_id) AS rt_trip_id,
    min(route_id) AS route_id,
    min(direction_id) AS direction_id,
    min(trip_headsign) AS trip_headsign,
    min(service_date) AS service_date,
    min(rt_origin_code_hundredths) AS rt_origin_code_hundredths,
    min(feed_ts_utc) AS first_feed_ts_utc,
    max(feed_ts_utc) AS last_feed_ts_utc,
    min(as_of) AS first_ingest_ts,
    max(as_of) AS last_ingest_ts,
    min_by(stop_id, first_stop_key) AS first_stop_id,
    max_by(stop_id, last_stop_key) AS last_stop_id,
    min(stop_sequence_int) AS first_stop_sequence,
    max(stop_sequence_int) AS last_stop_sequence,
    min_by(event_ts_utc, first_event_key) AS first_event_ts_utc,
    max_by(event_ts_utc, last_event_key) AS last_event_ts_utc,
    -- D9 (fact_trips.sql:66-70)
    (unix_micros(max_by(event_ts_utc, last_event_key))
      - unix_micros(min_by(event_ts_utc, first_event_key))) div 1000000 AS trip_duration_s,
    min(trip_schedule_relationship) AS schedule_relationship  -- D4
  FROM (
    SELECT *,
      struct(CASE WHEN stop_sequence_int IS NULL THEN 1 ELSE 0 END AS f0,
             coalesce(stop_sequence_int, 0) AS k1,
             CASE WHEN event_ts_utc IS NULL THEN 0 ELSE 1 END AS f1,
             coalesce(event_ts_utc, CAST('1970-01-01' AS TIMESTAMP)) AS k2,
             stu_id AS tb) AS first_stop_key,
      struct(CASE WHEN stop_sequence_int IS NULL THEN -1 ELSE 0 END AS f0,
             coalesce(stop_sequence_int, 0) AS k1,
             CASE WHEN event_ts_utc IS NULL THEN -1 ELSE 0 END AS f1,
             coalesce(event_ts_utc, CAST('1970-01-01' AS TIMESTAMP)) AS k2,
             stu_id AS tb) AS last_stop_key,
      struct(CASE WHEN stop_sequence_int IS NULL THEN 0 ELSE 1 END AS f0,
             coalesce(stop_sequence_int, 0) AS k1,
             stu_id AS tb) AS first_event_key,
      struct(CASE WHEN stop_sequence_int IS NULL THEN -1 ELSE 0 END AS f0,
             coalesce(stop_sequence_int, 0) AS k1,
             stu_id AS tb) AS last_event_key
    FROM {fts}
  ) keyed
  GROUP BY trip_uid
) agg
LEFT JOIN {stops} fs ON fs.stop_id = agg.first_stop_id
LEFT JOIN {stops} ls ON ls.stop_id = agg.last_stop_id
"""


def fact_trips(src: dict[str, DataFrame]) -> DataFrame:
    """Trip-level rollup: one row per trip_uid (fact_trips.sql:3-89)."""
    return frame_sql(FACT_TRIPS_SQL, fts=src["fact_trips_stops"], stops=src["stops"])


# ---------------------------------------------------------------------------
# fact_delays
# ---------------------------------------------------------------------------
FACT_DELAYS_SQL = """
SELECT
  trip_uid, trip_uid_text, tu_id, stu_id, as_of, feed,
  rt_trip_id, route_id, direction_id, service_date,
  trip_schedule_relationship, trip_headsign,
  stop_id, stop_name, parent_station, stop_lat, stop_lon,
  stop_sequence, stop_sequence_int,
  feed_ts_utc, arrival_ts_utc, departure_ts_utc, event_ts_utc,
  event_kind_primary, event_dt_local, service_day_local,
  arrival__delay, departure__delay,
  arrival__uncertainty, departure__uncertainty, stu_schedule_relationship,
  route_headsign_key, rt_origin_code_hundredths,
  has_arrival_ts, has_departure_ts
FROM {fts}
WHERE feed = 'main' AND (arrival__delay IS NOT NULL OR departure__delay IS NOT NULL)
"""


def fact_delays(src: dict[str, DataFrame]) -> DataFrame:
    """Stop-level delays, main feed only (fact_delays.sql:4-55). The
    feed='main' predicate pushes through the view into the trip_updates scan
    (verify with .explain — PushedFilters)."""
    return frame_sql(FACT_DELAYS_SQL, fts=src["fact_trips_stops"])


# ---------------------------------------------------------------------------
# fact_alerts
# ---------------------------------------------------------------------------
FACT_ALERTS_SQL = """
SELECT
  b.feed, b.entity_id, b.as_of, b.alert_id,
  hdr.header_text, dsc.description_text,
  ap.first_start_ts_utc, ap.last_end_ts_utc,
  i.route_id,
  r.route_short_name, r.route_long_name, r.route_type, r.route_color,
  r.route_text_color, r.route_desc, r.agency_id,
  s.stop_name, s.parent_station, s.stop_lat, s.stop_lon
FROM (
  SELECT feed, entity_id, as_of, _dlt_id AS alert_id, _dlt_load_id
  FROM {alerts}
  WHERE feed = 'alerts'
) b
LEFT JOIN (
  SELECT _dlt_parent_id AS alert_id, min(text) AS header_text  -- D4
  FROM {header} GROUP BY _dlt_parent_id
) hdr ON hdr.alert_id = b.alert_id
LEFT JOIN (
  SELECT _dlt_parent_id AS alert_id, min(text) AS description_text  -- D4
  FROM {description} GROUP BY _dlt_parent_id
) dsc ON dsc.alert_id = b.alert_id
LEFT JOIN (
  SELECT _dlt_parent_id AS alert_id,
    min(CASE WHEN `start` IS NOT NULL
          THEN timestamp_seconds(try_cast(`start` AS BIGINT)) END) AS first_start_ts_utc,  -- D1
    max(CASE WHEN `end` IS NOT NULL
          THEN timestamp_seconds(try_cast(`end` AS BIGINT)) END) AS last_end_ts_utc
  FROM {active_period} GROUP BY _dlt_parent_id
) ap ON ap.alert_id = b.alert_id
LEFT JOIN (
  SELECT _dlt_parent_id AS alert_id,  -- D4 on every attribute
    min(coalesce(trip__route_id, route_id)) AS route_id,
    min(trip__trip_id) AS rt_trip_id,
    min(stop_id) AS stop_id,
    min(agency_id) AS agency_id
  FROM {informed_entity} GROUP BY _dlt_parent_id
) i ON i.alert_id = b.alert_id
LEFT JOIN {stops} s ON s.stop_id = i.stop_id
LEFT JOIN {routes} r ON r.route_id = i.route_id
"""


def fact_alerts(src: dict[str, DataFrame]) -> DataFrame:
    """Alert fact: aggregate each dlt child to alert grain, then a left-join
    star (fact_alerts.sql:3-94)."""
    return frame_sql(
        FACT_ALERTS_SQL,
        alerts=src["alerts"],
        header=src["alerts__alert__header_text__translation"],
        description=src["alerts__alert__description_text__translation"],
        active_period=src["alerts__alert__active_period"],
        informed_entity=src["alerts__alert__informed_entity"],
        stops=src["stops"],
        routes=src["routes"],
    )


# ---------------------------------------------------------------------------
# DAG — dbt's manifest/topo-order lifecycle (SURVEY.md §3 EP1).
# ---------------------------------------------------------------------------
MODELS: dict[str, tuple[Callable[[dict[str, DataFrame]], DataFrame], list[str]]] = {
    "fact_trips_stops": (
        fact_trips_stops,
        ["trip_updates", "trip_updates__trip_update__stop_time_update", "stops", "trips"],
    ),
    "fact_trips": (fact_trips, ["fact_trips_stops", "stops"]),
    "fact_delays": (fact_delays, ["fact_trips_stops"]),
    "fact_alerts": (
        fact_alerts,
        [
            "alerts",
            "alerts__alert__header_text__translation",
            "alerts__alert__description_text__translation",
            "alerts__alert__active_period",
            "alerts__alert__informed_entity",
            "routes",
            "stops",
        ],
    ),
}


# The source tables the DAG reads (model names are resolved inside it).
SOURCES = tuple(sorted({d for _, deps in MODELS.values() for d in deps} - MODELS.keys()))


def build_all(
    spark: SparkSession, sources: dict[str, DataFrame], register_views: bool = True
) -> dict[str, DataFrame]:
    """Resolve the model DAG in topological order (models may depend on other
    models by name); equivalent of ``dbt run`` with materialized='view'.

    Resolved once per inputs: the models are keyed on (session, identity of
    the ``SOURCES`` frames, the session's ``RUNTIME_CONFS`` values). ANSI
    mode and the time zone are fixed into casts and time expressions when a
    plan is analyzed, so a changed conf is a new build. With the sources
    themselves resolved once per file version (``sources.registry.load``),
    a query over the model views pays only for its own metric. A hit
    returns a fresh dict of the same lazy model frames, and registers them
    as views when asked. Nothing executed is cached: every query over a
    model plans and runs anew."""
    conf = spark.conf
    built = dict(
        _built(
            spark,
            tuple((n, sources.get(n)) for n in SOURCES),
            tuple(conf.get(k) for k in RUNTIME_CONFS),
        )
    )
    if register_views:
        for name, df in built.items():
            df.createOrReplaceTempView(name)
    return built


@lru_cache(maxsize=32)
def _built(
    spark: SparkSession,
    inputs: tuple[tuple[str, DataFrame | None], ...],
    confs: tuple[str | None, ...],
) -> dict[str, DataFrame]:
    """The DAG build behind :func:`build_all`. The key holds the input frames,
    so their ids are never reused while the entry lives."""
    resolved: dict[str, DataFrame] = {n: df for n, df in inputs if df is not None}
    built: dict[str, DataFrame] = {}
    remaining = dict(MODELS)
    while remaining:
        progressed = False
        for name, (builder, deps) in list(remaining.items()):
            if all(d in resolved for d in deps):
                df = builder(resolved)
                resolved[name] = df
                built[name] = df
                del remaining[name]
                progressed = True
        if not progressed:
            raise ValueError(f"unresolvable model deps: {list(remaining)}")
    return built


def materialize(
    df: DataFrame, path: str, partition_by: list[str] | None = None, mode: str = "overwrite"
) -> None:
    """Table materialization (S4) with the reference's production partitioning
    hint (metrics_guide.md:385): stop-level by service_day_local, trip-level
    by date of last_feed_ts_utc."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)
