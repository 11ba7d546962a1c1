"""The 12 canonical transit metrics (reference: docs/metrics_guide.md) as
parameterized Spark SQL — BigQuery scripting DECLAREs (P8) become Python
arguments, bound as named parameter markers (``:start_ts``).

Each metric is one ``spark.sql(text, args)`` call on its input frames'
session through ``session.frame_sql``, like the models in
``plans/mta_models.py``: frames of ``models`` (the built model dict:
fact_trips_stops / fact_trips) and ``src`` (static trips / stop_times /
calendar, where a metric needs schedule data) are passed as ``{name}``
DataFrame arguments. The guide's metrics are SQL,
and one SQL text is parsed and resolved in one JVM pass instead of hundreds
of Python→JVM calls per metric through the DataFrame API. Parameters are
never interpolated into the text: a marker is bound as a typed literal, so
a stop id or timestamp can neither break nor change the query. Shared CTE
chains (``SCHED_CTES``, ``FIRST_EVENT_CTE``) are concatenated into the texts
that need them, so a metric stays one query.

Time math follows the BigQuery semantics pinned in SURVEY.md §4, cited as
D-codes in the SQL: D9 TIMESTAMP_DIFF is exact unix-micros arithmetic with
``div`` (truncates toward zero; see plans/mta_models.py for why not
``timestampdiff``), D10 GTFS clocks past 24 h are interval math on the
service day, D11 local times are explicit ``from_utc_timestamp`` shifts.

Determinism additions over the reference (mirrored in the test oracles,
policy D5): window/lag orderings gain a trailing ``trip_uid`` tiebreaker
where the reference's ordering is ambiguous under ties.

Scale notes: every metric is a filter → (window|aggregate) pipeline whose
shuffles key on (route_id, direction_id[, trip_uid]) — bounded-cardinality
keys; the screenline metrics (M5/M8/M12) filter to one stop_id *before* any
shuffle, so the parquet scan prunes first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from mta_rtf_dbt_spark.session import frame_sql

NY = "America/New_York"


def _gtfs_ts(clock: str) -> str:
    """D10 (metrics_guide.md:92-96): the SQL of a GTFS 'HH:MM:SS' clock, HH
    possibly >= 24, as TIME(0,0,0) + INTERVAL h HOUR + m MINUTE + s SECOND
    on the service day ``:service_day`` — never parsed with to_timestamp,
    which rejects HH > 23."""
    h, m, s = (f"try_cast(split({clock}, ':')[{i}] AS INT)" for i in range(3))
    return (
        "to_timestamp(CAST(:service_day AS DATE))"
        f" + make_interval(0, 0, 0, 0, {h}, {m}, CAST({s} AS DOUBLE))"
    )


# --- M1 (metrics_guide.md:22-36) -------------------------------------------
M1_SQL = """
SELECT route_id, direction_id,
  date_trunc('MINUTE', feed_ts_utc) AS ts_minute,
  count(DISTINCT trip_uid) AS trips_observed
FROM {fts}
WHERE feed_ts_utc BETWEEN CAST(:start_ts AS TIMESTAMP) AND CAST(:end_ts AS TIMESTAMP)
GROUP BY route_id, direction_id, date_trunc('MINUTE', feed_ts_utc)
ORDER BY ts_minute, route_id, direction_id
"""


def m1_trips_per_minute(models, start_ts: str, end_ts: str) -> DataFrame:
    return frame_sql(
        M1_SQL, {"start_ts": start_ts, "end_ts": end_ts}, fts=models["fact_trips_stops"]
    )


# --- M2 (metrics_guide.md:38-52) -------------------------------------------
M2_SQL = """
SELECT route_id, direction_id,
  -- D9: 300 * (UNIX_SECONDS(ts) DIV 300), truncating toward zero
  timestamp_seconds(300 * (unix_seconds(feed_ts_utc) div 300)) AS ts_5min,
  count(DISTINCT trip_uid) AS trips_observed
FROM {fts}
WHERE feed_ts_utc BETWEEN CAST(:start_ts AS TIMESTAMP) AND CAST(:end_ts AS TIMESTAMP)
GROUP BY route_id, direction_id, timestamp_seconds(300 * (unix_seconds(feed_ts_utc) div 300))
ORDER BY ts_5min, route_id, direction_id
"""


def m2_trips_per_5min(models, start_ts: str, end_ts: str) -> DataFrame:
    return frame_sql(
        M2_SQL, {"start_ts": start_ts, "end_ts": end_ts}, fts=models["fact_trips_stops"]
    )


# --- M3 scheduled-side CTEs (metrics_guide.md:54-138) -----------------------
# cal/trips_active/first_stop/sched (metrics_guide.md:63-103): the scheduled
# terminal departure of every trip whose service runs on :service_day.
# DAYOFWEEK numbers Sunday 1, as BigQuery's EXTRACT(DAYOFWEEK) does.
SCHED_CTES = """
cal AS (
  SELECT service_id FROM {calendar}
  WHERE start_date <= CAST(:service_day AS DATE)
    AND end_date >= CAST(:service_day AS DATE)
    AND CASE dayofweek(CAST(:service_day AS DATE))
          WHEN 1 THEN sunday WHEN 2 THEN monday WHEN 3 THEN tuesday
          WHEN 4 THEN wednesday WHEN 5 THEN thursday WHEN 6 THEN friday
          WHEN 7 THEN saturday END = 1
),
trips_active AS (
  SELECT t.trip_id, t.route_id, t.direction_id, t.service_id
  FROM {trips} t JOIN cal ON cal.service_id = t.service_id
),
first_stop AS (
  SELECT trip_id, min(try_cast(stop_sequence AS BIGINT)) AS min_seq  -- D1
  FROM {stop_times} GROUP BY trip_id
),
sched AS (
  -- J7/D6: the guide joins st.stop_sequence = CAST(min_seq AS STRING) — dlt
  -- may land stop_sequence as string; compare as strings on both sides.
  SELECT ta.route_id, ta.direction_id, ta.trip_id,
    """ + _gtfs_ts("st.departure_time") + """ AS sched_departure_ts
  FROM trips_active ta
  JOIN first_stop fs ON fs.trip_id = ta.trip_id
  JOIN {stop_times} st
    ON st.trip_id = ta.trip_id
   AND CAST(st.stop_sequence AS STRING) = CAST(fs.min_seq AS STRING)
)"""

# first_event (metrics_guide.md:108-127): the first observed event per
# (route, dir, trip_uid) by stop order — A5 argmin via min_by, seq in
# BigQuery's ASC nulls-first default, stu_id tiebreaker (D5). The event is
# departure-first when :departure_first, else arrival-first.
FIRST_EVENT_CTE = """
first_event AS (
  SELECT route_id, direction_id, trip_uid,
    min_by(stop_sequence_int, k) AS first_seq,
    min_by(evt, k) AS first_evt
  FROM (
    SELECT route_id, direction_id, trip_uid, stop_sequence_int,
      CASE WHEN :departure_first THEN coalesce(departure_ts_utc, arrival_ts_utc)
           ELSE coalesce(arrival_ts_utc, departure_ts_utc) END AS evt,
      struct(CASE WHEN stop_sequence_int IS NULL THEN 0 ELSE 1 END AS f0,
             coalesce(stop_sequence_int, 0) AS k1,
             stu_id AS tb) AS k
    FROM {fts}
  )
  WHERE evt IS NOT NULL
  GROUP BY route_id, direction_id, trip_uid
)"""


def scheduled_terminal_departures(src, service_day: str) -> DataFrame:
    """CTEs cal/trips_active/first_stop/sched (metrics_guide.md:63-103):
    scheduled terminal departure per active trip, >24h-clock-safe (D10)."""
    return frame_sql(
        "WITH " + SCHED_CTES + "\nSELECT * FROM sched",
        {"service_day": service_day},
        calendar=src["calendar"], trips=src["trips"], stop_times=src["stop_times"],
    )


def first_events(models, departure_first: bool = True) -> DataFrame:
    """CTE first_event (metrics_guide.md:108-127) on its own."""
    return frame_sql(
        "WITH " + FIRST_EVENT_CTE + "\nSELECT * FROM first_event",
        {"departure_first": departure_first},
        fts=models["fact_trips_stops"],
    )


# Aggregate-before-join (r12, guide §2.3): the former join-then-countDistinct
# shape materialized |sched| x |actual| rows per (route, direction) and ran a
# two-countDistinct Expand (x3 row multiplication) over that fanout —
# countDistinct is invariant under join duplication, so per-side distinct
# counts + one key join are row-identical: groups exist exactly for (route,
# dir) with >= 1 scheduled trip (the LEFT join's group universe), delivered
# falls back to 0 when no actual trips matched, and scheduled_trips >= 1
# keeps the NULLIF div semantics. Times are compared as zero-padded
# HH:mm:ss local strings (F12), where lexicographic order is time order.
M3_SQL = "WITH " + SCHED_CTES + "," + FIRST_EVENT_CTE + """,
sched_agg AS (
  SELECT route_id, direction_id, count(DISTINCT trip_id) AS scheduled_trips
  FROM sched
  WHERE date_format(from_utc_timestamp(sched_departure_ts, :tz), 'HH:mm:ss')  -- D11
        BETWEEN :start_local AND :end_local
  GROUP BY route_id, direction_id
),
act_agg AS (
  SELECT route_id, direction_id, count(DISTINCT trip_uid) AS delivered_trips
  FROM first_event
  WHERE date_format(from_utc_timestamp(first_evt, :tz), 'HH:mm:ss')  -- D11
        BETWEEN :start_local AND :end_local
  GROUP BY route_id, direction_id
)
SELECT route_id, direction_id, scheduled_trips,
  coalesce(delivered_trips, 0) AS delivered_trips,
  -- integer ppm via integer division: float ratios are hash-unstable
  -- across engines
  CAST(coalesce(delivered_trips, 0) * 1000000L div nullif(scheduled_trips, 0) AS BIGINT)
    AS service_delivered_ppm
FROM sched_agg LEFT JOIN act_agg USING (route_id, direction_id)
ORDER BY route_id, direction_id
"""


def m3_service_delivered(
    models, src, service_day: str, start_local: str = "06:00:00",
    end_local: str = "10:00:00", tz: str = NY,
) -> DataFrame:
    return frame_sql(
        M3_SQL,
        {"service_day": service_day, "departure_first": True, "tz": tz,
         "start_local": start_local, "end_local": end_local},
        fts=models["fact_trips_stops"],
        calendar=src["calendar"], trips=src["trips"], stop_times=src["stop_times"],
    )


# --- M4 (metrics_guide.md:140-166) -----------------------------------------
M4_SQL = "WITH " + SCHED_CTES + "," + FIRST_EVENT_CTE + """,
window_local AS (
  SELECT * FROM sched
  WHERE date_format(from_utc_timestamp(sched_departure_ts, :tz), 'HH:mm:ss')  -- D11
        BETWEEN :start_local AND :end_local
)
SELECT route_id, direction_id,
  -- round 6: the engine's float-output discipline (hash-comparable)
  round(100 * avg(CASE WHEN
      -- D9: TIMESTAMP_DIFF(actual, sched, MINUTE)
      (unix_micros(f.first_evt) - unix_micros(w.sched_departure_ts)) div 60000000
        BETWEEN 0 AND :on_time_min
    THEN 1 ELSE 0 END), 6) AS otp_pct
FROM window_local w LEFT JOIN first_event f USING (route_id, direction_id)
GROUP BY route_id, direction_id
ORDER BY route_id, direction_id
"""


def m4_terminal_otp(
    models, src, service_day: str, start_local: str = "06:00:00",
    end_local: str = "10:00:00", tz: str = NY, on_time_min: int = 5,
) -> DataFrame:
    """Terminal OTP vs the scheduled window (the guide leaves the schedule as
    a placeholder UNNEST([]) — wired here to M3's window_local)."""
    return frame_sql(
        M4_SQL,
        {"service_day": service_day, "departure_first": True, "tz": tz,
         "start_local": start_local, "end_local": end_local, "on_time_min": on_time_min},
        fts=models["fact_trips_stops"],
        calendar=src["calendar"], trips=src["trips"], stop_times=src["stop_times"],
    )


# --- M5 (metrics_guide.md:168-201) -----------------------------------------
M5_SQL = """
WITH seen AS (
  SELECT date_trunc('SECOND', event_ts_utc) AS pass_ts, route_id, direction_id, trip_uid
  FROM {fts}
  WHERE stop_id = :stop_id
    AND to_date(from_utc_timestamp(event_ts_utc, :tz)) = CAST(:service_day AS DATE)  -- D11
),
deduped AS (  -- W2/D8: QUALIFY rn = 1 (first observation per trip)
  SELECT pass_ts, route_id, direction_id, trip_uid
  FROM (SELECT *, row_number() OVER (PARTITION BY trip_uid ORDER BY pass_ts) AS rn1 FROM seen)
  WHERE rn1 = 1
),
ordered AS (  -- W1: global sequence; trip_uid tiebreaker for a deterministic rn (D5)
  SELECT *, row_number() OVER (ORDER BY pass_ts, trip_uid) AS rn FROM deduped
),
headways AS (
  SELECT route_id, direction_id, pass_ts, rn,
    -- D9: TIMESTAMP_DIFF(pass_ts, LAG(pass_ts), SECOND)
    (unix_micros(pass_ts) - unix_micros(lag(pass_ts) OVER (
       PARTITION BY route_id, direction_id ORDER BY pass_ts, trip_uid))) div 1000000
      AS headway_s
  FROM ordered
)
SELECT route_id, direction_id, pass_ts, headway_s
FROM headways
WHERE rn > 1
ORDER BY pass_ts
"""


def m5_headways(models, stop_id: str, service_day: str, tz: str = NY) -> DataFrame:
    return frame_sql(
        M5_SQL,
        {"stop_id": stop_id, "service_day": service_day, "tz": tz},
        fts=models["fact_trips_stops"],
    )


# --- M6 (metrics_guide.md:203-214) -----------------------------------------
M6_SQL = """
SELECT route_id, direction_id, stop_id, trip_uid,
  (unix_micros(departure_ts_utc) - unix_micros(arrival_ts_utc)) div 1000000 AS dwell_s  -- D9
FROM {fts}
WHERE arrival_ts_utc IS NOT NULL AND departure_ts_utc IS NOT NULL
"""


def m6_dwell_times(models) -> DataFrame:
    return frame_sql(M6_SQL, fts=models["fact_trips_stops"])


# --- M7 (metrics_guide.md:216-238) -----------------------------------------
M7_SQL = """
WITH a AS (
  SELECT trip_uid, coalesce(departure_ts_utc, arrival_ts_utc) AS ts_a
  FROM {fts} WHERE stop_id = :stop_a
),
b AS (
  SELECT trip_uid, coalesce(arrival_ts_utc, departure_ts_utc) AS ts_b
  FROM {fts} WHERE stop_id = :stop_b
)
SELECT trip_uid, (unix_micros(ts_b) - unix_micros(ts_a)) div 1000000 AS runtime_s  -- D9
FROM a JOIN b USING (trip_uid)
WHERE ts_b >= ts_a  -- J6 range residual
"""


def m7_run_time(models, stop_a: str, stop_b: str) -> DataFrame:
    return frame_sql(M7_SQL, {"stop_a": stop_a, "stop_b": stop_b}, fts=models["fact_trips_stops"])


# --- M8 (metrics_guide.md:240-275) -----------------------------------------
M8_SQL = """
WITH sched AS (
  SELECT route_id, direction_id, trip_id,
    """ + _gtfs_ts("departure_time") + """ AS sched_departure_ts
  FROM {stop_times} st JOIN {trips} t USING (trip_id)
  WHERE st.stop_id = :stop_ref
),
actual AS (
  SELECT route_id, direction_id, stop_id, trip_uid,
    coalesce(departure_ts_utc, arrival_ts_utc) AS actual_ts
  FROM {fts} WHERE stop_id = :stop_ref
),
delays AS (
  SELECT route_id, direction_id, stop_id,
    CAST((unix_micros(actual_ts) - unix_micros(sched_departure_ts)) div 1000000 AS DOUBLE)
      AS delay_s  -- D9
  FROM actual JOIN sched USING (route_id, direction_id)
)
SELECT route_id, direction_id, stop_id,
  round(CASE WHEN :exact THEN percentile(delay_s, 0.5D)
             ELSE percentile_approx(delay_s, 0.5D) END, 6) AS p50_delay_s,
  round(CASE WHEN :exact THEN percentile(delay_s, 0.9D)
             ELSE percentile_approx(delay_s, 0.9D) END, 6) AS p90_delay_s
FROM delays
GROUP BY route_id, direction_id, stop_id
"""


def m8_excess_delay(models, src, service_day: str, stop_ref: str, exact: bool = True) -> DataFrame:
    """p50/p90 delay vs schedule at a stop. ``exact=True`` uses exact
    percentile (oracle-comparable, D7); False uses percentile_approx —
    the single-pass sketch for the 100 TB path. The branch not taken folds
    away at optimization, so only one of the two aggregates runs."""
    return frame_sql(
        M8_SQL,
        {"service_day": service_day, "stop_ref": stop_ref, "exact": exact},
        fts=models["fact_trips_stops"], stop_times=src["stop_times"], trips=src["trips"],
    )


# --- M9 (metrics_guide.md:277-294) -----------------------------------------
M9_SQL = """
WITH per_trip AS (
  SELECT trip_uid,
    count_if(coalesce(arrival_ts_utc, departure_ts_utc) IS NOT NULL) AS stops_seen
  FROM {fts} GROUP BY trip_uid
)
SELECT count(*) AS trips_total,
  count_if(stops_seen >= 2) AS trips_with_start_and_end,
  -- integer ppm — see M3
  CAST(count_if(stops_seen >= 2) * 1000000L div nullif(count(*), 0) AS BIGINT)
    AS completeness_ppm
FROM per_trip
"""


def m9_completeness(models) -> DataFrame:
    return frame_sql(M9_SQL, fts=models["fact_trips_stops"])


# --- M10 (metrics_guide.md:296-307) ----------------------------------------
M10_SQL = """
SELECT route_id, direction_id,
  round(100 * avg(CASE WHEN schedule_relationship = 'ADDED' THEN 1 ELSE 0 END), 6)
    AS added_pct,
  round(100 * avg(CASE WHEN schedule_relationship = 'CANCELED' THEN 1 ELSE 0 END), 6)
    AS canceled_pct
FROM {ft}
GROUP BY route_id, direction_id
ORDER BY route_id, direction_id
"""


def m10_added_canceled_share(models) -> DataFrame:
    return frame_sql(M10_SQL, ft=models["fact_trips"])


# --- M11 (metrics_guide.md:309-320) ----------------------------------------
# as_of is dlt-landed as an ISO-8601 *string* (mta_sources.yml:14); the
# guide's TIMESTAMP_DIFF on it assumes a timestamp — cast explicitly.
M11_SQL = """
SELECT route_id, direction_id,
  date_trunc('MINUTE', first_feed_ts_utc) AS ts_minute,
  round(avg((unix_micros(to_timestamp(first_ingest_ts)) - unix_micros(first_feed_ts_utc))
            div 1000000), 6) AS avg_latency_s  -- D9
FROM {ft}
GROUP BY route_id, direction_id, date_trunc('MINUTE', first_feed_ts_utc)
ORDER BY ts_minute
"""


def m11_feed_latency(models) -> DataFrame:
    return frame_sql(M11_SQL, ft=models["fact_trips"])


# --- M12 (metrics_guide.md:322-377) ----------------------------------------
M12_SQL = """
WITH obs AS (
  SELECT route_id, direction_id, date_trunc('SECOND', event_ts_utc) AS pass_ts
  FROM {fts} WHERE stop_id = :stop_ref
),
obs_hw AS (
  SELECT route_id, direction_id,
    (unix_micros(pass_ts) - unix_micros(lag(pass_ts) OVER (
       PARTITION BY route_id, direction_id ORDER BY pass_ts))) div 1000000 AS headway_s  -- D9
  FROM obs
),
sch AS (
  SELECT route_id, direction_id,
    """ + _gtfs_ts("departure_time") + """ AS sched_ts
  FROM {stop_times} st JOIN {trips} t USING (trip_id)
  WHERE st.stop_id = :stop_ref
),
sch_hw AS (
  SELECT route_id, direction_id,
    (unix_micros(sched_ts) - unix_micros(lag(sched_ts) OVER (
       PARTITION BY route_id, direction_id ORDER BY sched_ts))) div 1000000
      AS sched_headway_s  -- D9
  FROM sch
)
SELECT route_id, direction_id,
  -- round 6: the engine's float-output discipline (hash-comparable)
  round(100 * avg(CASE WHEN headway_s <= 2 * sched_headway_s THEN 1 ELSE 0 END), 6)
    AS wait_assessment_pct
FROM obs_hw JOIN sch_hw USING (route_id, direction_id)
WHERE headway_s IS NOT NULL AND sched_headway_s IS NOT NULL
GROUP BY route_id, direction_id
ORDER BY route_id, direction_id
"""


def m12_wait_assessment(models, src, stop_ref: str, anchor_date: str, tz: str = NY) -> DataFrame:
    return frame_sql(
        M12_SQL,
        {"stop_ref": stop_ref, "service_day": anchor_date},
        fts=models["fact_trips_stops"], stop_times=src["stop_times"], trips=src["trips"],
    )
