"""Deterministic MTA-shaped fixture generator (FIXTURES.md).

Synthesizes the 12 dlt-landed GTFS-rt/static tables (+ the inferred
``calendar``) with the discriminating characteristics every model/metric
depends on: multiple snapshots per real trip, NULL-heavy delay columns,
arrival-only/departure-only/both/neither stop rows, rt trip_ids that do and
don't start with digits (D2), stop_sequence NULLs (nulls-last argmin),
GTFS clock strings past 24:00:00 (D10), a DST fall-back boundary
(America/New_York 2025-11-02, D11), and FK integrity with deliberate ~5%
dangling stop/route refs.

Seeded ``random.Random`` only — byte-stable across runs. Output: one parquet
per table under ``out_dir``, written with the table's declared schema
(:mod:`mta_rtf_dbt_spark.sources.schemas`).
"""

from __future__ import annotations

import datetime as dt
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from mta_rtf_dbt_spark.sources.schemas import arrow_schema

SERVICE_DAYS = ["20251101", "20251102"]  # Sat, Sun (DST fall-back on the 2nd)
ROUTES = ["1", "2", "A", "L", "Q", "GS"]
HEADSIGNS = {
    "1": "South Ferry",
    "2": "Flatbush Av",
    "A": "Far Rockaway",
    "L": "Canarsie",
    "Q": "Coney Island",
    "GS": "Grand Central",
}

EPOCH = dt.timezone.utc


def _ts(s: str) -> int:
    return int(dt.datetime.strptime(s, "%Y-%m-%d %H:%M:%S").replace(tzinfo=EPOCH).timestamp())


def generate(out_dir: str, n_trips: int = 48, n_snapshots: int = 4, seed: int = 1337) -> dict[str, int]:
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    counts: dict[str, int] = {}

    def write(name: str, rows: list[dict]) -> None:
        schema = arrow_schema(name)
        cols = {f.name: [r.get(f.name) for r in rows] for f in schema}
        pq.write_table(pa.table(cols, schema=schema), os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = len(rows)

    # ---------------- static GTFS ----------------
    stops_rows = []
    stop_ids: list[str] = []
    for i in range(12):
        parent = f"R{10 + i}"
        stops_rows.append(
            dict(stop_id=parent, stop_name=f"Station {i}", parent_station=None,
                 stop_lat=40.5 + i * 0.01, stop_lon=-74.0 + i * 0.01)
        )
        for suffix in ("N", "S"):
            sid = f"{parent}{suffix}"
            stop_ids.append(sid)
            stops_rows.append(
                dict(stop_id=sid, stop_name=f"Station {i}", parent_station=parent,
                     stop_lat=40.5 + i * 0.01, stop_lon=-74.0 + i * 0.01)
            )
    write("stops", stops_rows)

    routes_rows = [
        dict(route_id=r, agency_id="MTA NYCT", route_short_name=r,
             route_long_name=f"{r} Line", route_desc=f"desc {r}", route_type=1,
             route_color="EE352E", route_text_color="FFFFFF")
        for r in ROUTES
    ] + [
        dict(route_id="ZZ", agency_id="MTA NYCT", route_short_name="ZZ",
             route_long_name="Unused Line", route_desc=None, route_type=1,
             route_color=None, route_text_color=None)
    ]
    write("routes", routes_rows)

    calendar_rows = [
        dict(service_id="WKD", monday=1, tuesday=1, wednesday=1, thursday=1,
             friday=1, saturday=0, sunday=0, start_date=dt.date(2025, 1, 1),
             end_date=dt.date(2026, 1, 1)),
        dict(service_id="SAT", monday=0, tuesday=0, wednesday=0, thursday=0,
             friday=0, saturday=1, sunday=0, start_date=dt.date(2025, 1, 1),
             end_date=dt.date(2026, 1, 1)),
        dict(service_id="SUN", monday=0, tuesday=0, wednesday=0, thursday=0,
             friday=0, saturday=0, sunday=1, start_date=dt.date(2025, 1, 1),
             end_date=dt.date(2026, 1, 1)),
        dict(service_id="OLD", monday=1, tuesday=1, wednesday=1, thursday=1,
             friday=1, saturday=1, sunday=1, start_date=dt.date(2024, 1, 1),
             end_date=dt.date(2024, 12, 31)),
    ]
    write("calendar", calendar_rows)

    # Static trips + stop_times. trip_id style '086200_1..S03R' (digits first).
    trips_rows, stop_times_rows = [], []
    static_trip_ids = []
    for i in range(60):
        route = ROUTES[i % len(ROUTES)]
        service = ["WKD", "SAT", "SUN"][i % 3]
        origin_code = 70000 + i * 150
        trip_id = f"{origin_code:06d}_{route}..{'NS'[i % 2]}{i % 9:02d}R"
        static_trip_ids.append(trip_id)
        trips_rows.append(
            dict(trip_id=trip_id, route_id=route, service_id=service,
                 trip_headsign=HEADSIGNS[route], direction_id=i % 2)
        )
        # 6-9 stops; departure times start 5:00-24:00, some trips overflow 24h.
        n_stops = 6 + i % 4
        start_min = 300 + (i * 37) % 1200 + (140 if i % 10 == 9 else 0)
        if i % 10 == 9:
            start_min = 23 * 60 + 30  # overflow trip: crosses 24:00:00 (D10)
        for s in range(n_stops):
            t_min = start_min + s * 4
            hh, mm = divmod(t_min, 60)
            arr = f"{hh:02d}:{mm:02d}:{(i * 7 + s * 11) % 60:02d}"
            dep_min = t_min + (0 if s == n_stops - 1 else 1)
            dh, dm = divmod(dep_min, 60)
            dep = f"{dh:02d}:{dm:02d}:{(i * 7 + s * 11) % 60:02d}"
            stop_times_rows.append(
                dict(trip_id=trip_id, stop_id=stop_ids[(i + s * 2) % len(stop_ids)],
                     stop_sequence=s + 1, arrival_time=arr, departure_time=dep)
            )
    write("trips", trips_rows)
    write("stop_times", stop_times_rows)

    # ---------------- realtime: trip_updates + stop_time_update ----------------
    tu_rows, stu_rows = [], []
    tu_seq = 0
    for t in range(n_trips):
        use_static = t % 5 != 4  # 20% of rt trips have no static match (NULL headsign)
        if use_static:
            rt_trip_id = static_trip_ids[t % len(static_trip_ids)]
            route = trips_rows[t % len(static_trip_ids)]["route_id"]
            direction = trips_rows[t % len(static_trip_ids)]["direction_id"]
        else:
            # Non-digit-prefixed ids exercise the regexp no-match -> NULL path (D2).
            rt_trip_id = f"SI.{t:04d}..N" if t % 2 else f"-{t * 13 % 9999:04d}_X..S"
            route = ROUTES[t % len(ROUTES)] if t % 3 else None  # NULL routes -> 'UNK'
            direction = t % 2 if t % 4 else None
        service_date = SERVICE_DAYS[t % 2]
        day0 = dt.datetime.strptime(service_date, "%Y%m%d").replace(tzinfo=EPOCH)
        trip_start = day0 + dt.timedelta(hours=5 + (t * 23) % 18, minutes=(t * 17) % 60)
        feed = "main" if t % 6 != 5 else "l"
        sched_rel = ["SCHEDULED", "SCHEDULED", "SCHEDULED", "ADDED", "CANCELED", None][t % 6]
        n_stops = 5 + t % 6
        snapshots = max(1, n_snapshots - (t % 3))  # 2-4 snapshots per trip
        for snap in range(snapshots):
            tu_seq += 1
            feed_ts = int(trip_start.timestamp()) + snap * 30
            as_of = dt.datetime.fromtimestamp(feed_ts + 2 + (t + snap) % 7, EPOCH)
            tu_id = f"tu{tu_seq:06d}"
            tu_rows.append(
                dict(
                    _dlt_id=tu_id,
                    _dlt_load_id=f"load{snap:03d}",
                    feed=feed,
                    entity_id=f"e{t:04d}",
                    as_of=as_of.strftime("%Y-%m-%dT%H:%M:%S+00:00"),
                    trip_update__timestamp=feed_ts,
                    trip_update__trip__trip_id=rt_trip_id,
                    trip_update__trip__route_id=route,
                    trip_update__trip__direction_id=direction,
                    trip_update__trip__start_date=service_date if t % 7 != 6 else None,
                    trip_update__trip__schedule_relationship=sched_rel,
                )
            )
            for s in range(n_stops):
                base_arr = int(trip_start.timestamp()) + s * 240 + snap * 5
                kind = (t + s) % 5  # both/arr-only/dep-only/neither mix
                arr = base_arr if kind in (0, 1, 3, 4) else None
                dep = base_arr + 25 + (s % 3) * 10 if kind in (0, 2, 3, 4) else None
                if (t + s) % 11 == 10:
                    arr, dep = None, None  # neither timestamp
                delay = None
                if feed == "main" and (s + snap) % 3 == 0:
                    delay = ((t * 31 + s * 7) % 600) - 120  # signed, incl. negatives
                stop_id = stop_ids[(t + s * 2) % len(stop_ids)]
                if (t * 7 + s) % 20 == 19:
                    stop_id = f"X{t % 5}"  # dangling stop ref (left-join NULL path)
                stu_rows.append(
                    dict(
                        _dlt_id=f"stu{tu_seq:06d}_{s:02d}",
                        _dlt_parent_id=tu_id,
                        stop_id=stop_id,
                        stop_sequence=(s + 1) if (t + s) % 9 != 8 else None,
                        arrival__time=arr,
                        departure__time=dep,
                        arrival__delay=delay,
                        departure__delay=(delay + 5) if delay is not None and s % 2 else None,
                        arrival__uncertainty=[0, 30, None][(t + s) % 3],
                        departure__uncertainty=[0, 30, None][(t + s + 1) % 3],
                        schedule_relationship=["SCHEDULED", "SKIPPED", None][(t + s) % 3],
                    )
                )
    write("trip_updates", tu_rows)
    write("trip_updates__trip_update__stop_time_update", stu_rows)

    # ---------------- realtime: alerts + children ----------------
    al_rows, hdr_rows, desc_rows, ie_rows, ap_rows = [], [], [], [], []
    for a in range(30):
        alert_id = f"al{a:04d}"
        al_rows.append(
            dict(_dlt_id=alert_id, _dlt_load_id=f"aload{a % 3}",
                 feed="alerts" if a % 8 != 7 else "x",
                 entity_id=f"lmm:alert:{a}",
                 as_of=f"2025-11-01T{6 + a % 12:02d}:00:0{a % 10}+00:00")
        )
        if a % 6 != 5:  # some alerts lack header/description rows
            for lang in ["en"] + (["es"] if a % 2 else []):
                hdr_rows.append(
                    dict(_dlt_id=f"h{a:04d}{lang}", _dlt_parent_id=alert_id,
                         text=f"Delays on {ROUTES[a % len(ROUTES)]} trains", language=lang)
                )
                desc_rows.append(
                    dict(_dlt_id=f"d{a:04d}{lang}", _dlt_parent_id=alert_id,
                         text=f"Alert {a} description ({lang})", language=lang)
                )
        n_ent = 1 + a % 3
        for e_i in range(n_ent):
            ie_rows.append(
                dict(
                    _dlt_id=f"ie{a:04d}_{e_i}",
                    _dlt_parent_id=alert_id,
                    agency_id="MTA NYCT" if (a + e_i) % 2 else None,
                    route_id=ROUTES[(a + e_i) % len(ROUTES)] if (a + e_i) % 3 else None,
                    stop_id=stop_ids[(a * 2 + e_i) % len(stop_ids)] if (a + e_i) % 4 else None,
                    trip__trip_id=static_trip_ids[a % len(static_trip_ids)] if a % 5 == 0 else None,
                    trip__route_id=ROUTES[a % len(ROUTES)] if a % 4 == 0 else None,
                    trip__direction_id=[0, 1, None][(a + e_i) % 3],
                )
            )
        for p in range(1 + a % 2):
            start = _ts("2025-11-01 06:00:00") + a * 3600 + p * 7200
            ap_rows.append(
                dict(_dlt_id=f"ap{a:04d}_{p}", _dlt_parent_id=alert_id,
                     start=start if (a + p) % 5 != 4 else None,
                     end=(start + 5400) if (a + p) % 3 != 2 else None)
            )
    write("alerts", al_rows)
    write("alerts__alert__header_text__translation", hdr_rows)
    write("alerts__alert__description_text__translation", desc_rows)
    write("alerts__alert__informed_entity", ie_rows)
    write("alerts__alert__active_period", ap_rows)
    return counts


MTA_TABLES = [
    "trip_updates",
    "trip_updates__trip_update__stop_time_update",
    "alerts",
    "alerts__alert__header_text__translation",
    "alerts__alert__description_text__translation",
    "alerts__alert__informed_entity",
    "alerts__alert__active_period",
    "routes",
    "stops",
    "trips",
    "stop_times",
    "calendar",
]


def ensure_fixtures(out_dir: str = "/root/repo/.fixtures_mta") -> str:
    """Generate once, reuse across test sessions (deterministic content)."""
    marker = os.path.join(out_dir, "stop_times.parquet")
    if not os.path.exists(marker):
        generate(out_dir)
    return out_dir
