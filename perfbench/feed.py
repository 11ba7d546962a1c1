"""Seeded, scalable generator of the dlt-landed GTFS/GTFS-rt feed.

``generate(out_dir, seed, n_trips)`` writes the 12 source tables the MTA
models read, one parquet file each, and returns their row counts. The same
(seed, n_trips) gives the same bytes.

Unlike the 48-trip test fixture, everything that keys a join grows with
``n_trips``, so per-key fan-out stays bounded as the feed grows:

- one static trip per realtime trip index (the fixture maps every realtime
  trip onto 60 static ids, so ``trip_uid`` groups grow with size);
- one route per ~300 realtime trips (M8/M12 join schedule and observations
  on (route, direction));
- one alert per ~20 realtime trips.

The stations stay the fixture's 12 (24 platform stop ids), so the metric
parameters ``STOP_A``/``STOP_B``/``DAY`` of ``plans.mta_oracle`` keep
selecting real traffic. The fixture's discriminating cases are kept as
deterministic residue patterns, so every seed and size exercises them:
non-digit and negative-origin trip ids (D2), overflow GTFS clocks past
24:00:00 (D10), the America/New_York DST fall-back day (D11), NULL route,
direction, start date, stop sequence and delay mixes, arrival-only /
departure-only / neither stop rows, and ~5 % dangling stop references.
The seed moves trip start times, schedule times and delay values.

Run as a script to generate into a directory:
``python3 perfbench/feed.py OUT_DIR SEED N_TRIPS``.
"""

from __future__ import annotations

import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SERVICE_DAYS = ["20251101", "20251102"]  # Sat, Sun (DST fall-back on the 2nd)
BASE_ROUTES = ["1", "2", "A", "L", "Q", "GS"]
HEADSIGNS = {
    "1": "South Ferry",
    "2": "Flatbush Av",
    "A": "Far Rockaway",
    "L": "Canarsie",
    "Q": "Coney Island",
    "GS": "Grand Central",
}
N_STATIONS = 12
TRIPS_PER_ROUTE = 300
TRIPS_PER_ALERT = 20

TABLES = [
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

S, I64, F64 = pa.string(), pa.int64(), pa.float64()
SCHEMAS = {
    "stops": [("stop_id", S), ("stop_name", S), ("parent_station", S),
              ("stop_lat", F64), ("stop_lon", F64)],
    "routes": [("route_id", S), ("agency_id", S), ("route_short_name", S),
               ("route_long_name", S), ("route_desc", S), ("route_type", I64),
               ("route_color", S), ("route_text_color", S)],
    "calendar": [("service_id", S)]
    + [(d, I64) for d in ("monday", "tuesday", "wednesday", "thursday",
                          "friday", "saturday", "sunday")]
    + [("start_date", pa.date32()), ("end_date", pa.date32())],
    "trips": [("trip_id", S), ("route_id", S), ("service_id", S),
              ("trip_headsign", S), ("direction_id", I64)],
    "stop_times": [("trip_id", S), ("stop_id", S), ("stop_sequence", I64),
                   ("arrival_time", S), ("departure_time", S)],
    "trip_updates": [("_dlt_id", S), ("_dlt_load_id", S), ("feed", S),
                     ("entity_id", S), ("as_of", S), ("trip_update__timestamp", I64),
                     ("trip_update__trip__trip_id", S),
                     ("trip_update__trip__route_id", S),
                     ("trip_update__trip__direction_id", I64),
                     ("trip_update__trip__start_date", S),
                     ("trip_update__trip__schedule_relationship", S)],
    "trip_updates__trip_update__stop_time_update": [
        ("_dlt_id", S), ("_dlt_parent_id", S), ("stop_id", S),
        ("stop_sequence", I64), ("arrival__time", I64), ("departure__time", I64),
        ("arrival__delay", I64), ("departure__delay", I64),
        ("arrival__uncertainty", I64), ("departure__uncertainty", I64),
        ("schedule_relationship", S)],
    "alerts": [("_dlt_id", S), ("_dlt_load_id", S), ("feed", S),
               ("entity_id", S), ("as_of", S)],
    "alerts__alert__header_text__translation": [
        ("_dlt_id", S), ("_dlt_parent_id", S), ("text", S), ("language", S)],
    "alerts__alert__description_text__translation": [
        ("_dlt_id", S), ("_dlt_parent_id", S), ("text", S), ("language", S)],
    "alerts__alert__informed_entity": [
        ("_dlt_id", S), ("_dlt_parent_id", S), ("agency_id", S), ("route_id", S),
        ("stop_id", S), ("trip__trip_id", S), ("trip__route_id", S),
        ("trip__direction_id", I64)],
    "alerts__alert__active_period": [
        ("_dlt_id", S), ("_dlt_parent_id", S), ("start", I64), ("end", I64)],
}


def _epoch(day: str) -> int:
    return int(dt.datetime.strptime(day, "%Y%m%d").replace(tzinfo=dt.timezone.utc).timestamp())


def _col(values, typ: pa.DataType, null=None) -> pa.Array:
    """Arrow array from a numpy array or list, NULL where ``null`` is true."""
    if null is None:
        return pa.array(values, type=typ)
    return pa.array(values, type=typ, mask=np.asarray(null, dtype=bool))


def _write(out_dir: str, name: str, cols: dict, counts: dict[str, int]) -> None:
    schema = pa.schema(SCHEMAS[name])
    table = pa.table([cols[f.name] for f in schema], schema=schema)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    counts[name] = table.num_rows


def _rows(out_dir: str, name: str, rows: list[dict], counts: dict[str, int]) -> None:
    cols = {f: pa.array([r.get(f) for r in rows], type=t) for f, t in SCHEMAS[name]}
    _write(out_dir, name, cols, counts)


def _clock(minutes: np.ndarray, seconds: np.ndarray) -> list[str]:
    hh, mm = np.divmod(minutes, 60)
    return [f"{h:02d}:{m:02d}:{s:02d}" for h, m, s in zip(hh.tolist(), mm.tolist(), seconds.tolist())]


def _static(out_dir: str, rng: np.random.Generator, n_static: int, routes: list[str],
            stop_ids: list[str], counts: dict[str, int]) -> tuple[list[str], np.ndarray, np.ndarray]:
    stops = []
    for i in range(N_STATIONS):
        parent = f"R{10 + i}"
        geo = dict(stop_name=f"Station {i}", stop_lat=40.5 + i * 0.01, stop_lon=-74.0 + i * 0.01)
        stops.append(dict(stop_id=parent, parent_station=None, **geo))
        stops += [dict(stop_id=f"{parent}{d}", parent_station=parent, **geo) for d in "NS"]
    _rows(out_dir, "stops", stops, counts)

    route_rows = [
        dict(route_id=r, agency_id="MTA NYCT", route_short_name=r,
             route_long_name=f"{r} Line", route_desc=f"desc {r}", route_type=1,
             route_color="EE352E", route_text_color="FFFFFF")
        for r in routes
    ] + [dict(route_id="ZZ", agency_id="MTA NYCT", route_short_name="ZZ",
              route_long_name="Unused Line", route_desc=None, route_type=1,
              route_color=None, route_text_color=None)]
    _rows(out_dir, "routes", route_rows, counts)

    def flags(days: str) -> dict:
        names = ("monday", "tuesday", "wednesday", "thursday", "friday", "saturday", "sunday")
        return {n: int(d) for n, d in zip(names, days)}

    year = dict(start_date=dt.date(2025, 1, 1), end_date=dt.date(2026, 1, 1))
    _rows(out_dir, "calendar", [
        dict(service_id="WKD", **flags("1111100"), **year),
        dict(service_id="SAT", **flags("0000010"), **year),
        dict(service_id="SUN", **flags("0000001"), **year),
        dict(service_id="OLD", **flags("1111111"),
             start_date=dt.date(2024, 1, 1), end_date=dt.date(2024, 12, 31)),
    ], counts)

    # Static trips, trip_id style '086200_1..S03R': the digit prefix is unique
    # per trip, so each realtime trip keys at most one static trip.
    i = np.arange(n_static)
    route_idx = i % len(routes)
    direction = i % 2
    trip_ids = [
        f"{70000 + k * 150:06d}_{routes[r]}..{'NS'[k % 2]}{k % 9:02d}R"
        for k, r in zip(i.tolist(), route_idx.tolist())
    ]
    _write(out_dir, "trips", {
        "trip_id": _col(trip_ids, S),
        "route_id": _col([routes[r] for r in route_idx.tolist()], S),
        "service_id": _col([["WKD", "SAT", "SUN"][k % 3] for k in i.tolist()], S),
        "trip_headsign": _col([_headsign(routes[r]) for r in route_idx.tolist()], S),
        "direction_id": _col(direction, I64),
    }, counts)

    # 6-9 stops, first departure 05:00-25:00; every tenth trip starts at
    # 23:30 and crosses 24:00:00 (D10).
    n_stops = 6 + i % 4
    start_min = 300 + rng.integers(0, 1200, n_static)
    start_min = np.where(i % 10 == 9, 23 * 60 + 30, start_min)
    trip = np.repeat(i, n_stops)
    s = np.arange(len(trip)) - np.repeat(np.cumsum(n_stops) - n_stops, n_stops)
    last = s == n_stops[trip] - 1
    t_min = start_min[trip] + s * 4
    sec = (trip * 7 + s * 11) % 60
    _write(out_dir, "stop_times", {
        "trip_id": _col([trip_ids[k] for k in trip.tolist()], S),
        "stop_id": _col([stop_ids[k] for k in ((trip + s * 2) % len(stop_ids)).tolist()], S),
        "stop_sequence": _col(s + 1, I64),
        "arrival_time": _col(_clock(t_min, sec), S),
        "departure_time": _col(_clock(t_min + np.where(last, 0, 1), sec), S),
    }, counts)
    return trip_ids, route_idx, direction


def _headsign(route: str) -> str:
    return HEADSIGNS.get(route, f"{route} Terminal")


def _realtime(out_dir: str, rng: np.random.Generator, n: int, routes: list[str],
              stop_ids: list[str], trip_ids: list[str], route_idx: np.ndarray,
              direction: np.ndarray, counts: dict[str, int]) -> None:
    t = np.arange(n)
    # 20 % of realtime trips have no static match (NULL headsign); their ids
    # do not start with a digit ('SI.') or carry a negative origin ('-'),
    # exercising the regexp no-match and sign paths (D2).
    static = t % 5 != 4
    rt_ids = [
        trip_ids[k] if st else (f"SI.{k:06d}..N" if k % 2 else f"-{k:06d}_X..S")
        for k, st in zip(t.tolist(), static.tolist())
    ]
    rt_route = [
        routes[route_idx[k]] if st else (routes[k % len(routes)] if k % 3 else None)
        for k, st in zip(t.tolist(), static.tolist())
    ]
    rt_dir = np.where(static, direction[t], t % 2)
    rt_dir_null = ~static & (t % 4 == 0)
    day0 = np.array([_epoch(d) for d in SERVICE_DAYS])[t % 2]
    trip_start = day0 + 3600 * (5 + rng.integers(0, 18, n)) + 60 * rng.integers(0, 60, n)
    feed = np.where(t % 6 == 5, "l", "main")
    sched_rel = np.array(["SCHEDULED", "SCHEDULED", "SCHEDULED", "ADDED", "CANCELED", ""])[t % 6]
    n_stops = 5 + t % 6
    snaps = np.maximum(1, 4 - t % 3)  # 2-4 snapshots per trip

    # One trip_updates row per (trip, snapshot).
    tt = np.repeat(t, snaps)
    snap = np.arange(len(tt)) - np.repeat(np.cumsum(snaps) - snaps, snaps)
    feed_ts = trip_start[tt] + snap * 30
    as_of = (feed_ts + 2 + (tt + snap) % 7).astype("datetime64[s]")
    tu_ids = [f"tu{k:07d}" for k in range(1, len(tt) + 1)]
    start_date = np.array(SERVICE_DAYS)[tt % 2]
    _write(out_dir, "trip_updates", {
        "_dlt_id": _col(tu_ids, S),
        "_dlt_load_id": _col([f"load{k:03d}" for k in snap.tolist()], S),
        "feed": _col(feed[tt], S),
        "entity_id": _col([f"e{k:06d}" for k in tt.tolist()], S),
        "as_of": _col([f"{a}+00:00" for a in np.datetime_as_string(as_of, unit="s").tolist()], S),
        "trip_update__timestamp": _col(feed_ts, I64),
        "trip_update__trip__trip_id": _col([rt_ids[k] for k in tt.tolist()], S),
        "trip_update__trip__route_id": _col([rt_route[k] for k in tt.tolist()], S),
        "trip_update__trip__direction_id": _col(rt_dir[tt], I64, rt_dir_null[tt]),
        "trip_update__trip__start_date": _col(start_date, S, tt % 7 == 6),
        "trip_update__trip__schedule_relationship": _col(sched_rel[tt], S, tt % 6 == 5),
    }, counts)

    # One stop_time_update row per (trip_update row, stop).
    row_stops = n_stops[tt]
    parent = np.repeat(np.arange(len(tt)), row_stops)
    pt = tt[parent]
    psnap = snap[parent]
    s = np.arange(len(parent)) - np.repeat(np.cumsum(row_stops) - row_stops, row_stops)
    base_arr = trip_start[pt] + s * 240 + psnap * 5
    kind = (pt + s) % 5  # both / arrival-only / departure-only mix
    neither = (pt + s) % 11 == 10
    arr_null = (kind == 2) | neither
    dep_null = (kind == 1) | neither
    delay = rng.integers(-120, 480, len(parent))
    delay_null = (feed[pt] != "main") | ((s + psnap) % 3 != 0)
    stop = (pt + s * 2) % len(stop_ids)
    dangling = (pt * 7 + s) % 20 == 19
    stop_col = [
        f"X{k % 5}" if d else stop_ids[j]
        for k, j, d in zip(pt.tolist(), stop.tolist(), dangling.tolist())
    ]
    _write(out_dir, "trip_updates__trip_update__stop_time_update", {
        "_dlt_id": _col([f"stu{p + 1:07d}_{k:02d}" for p, k in zip(parent.tolist(), s.tolist())], S),
        "_dlt_parent_id": _col([tu_ids[p] for p in parent.tolist()], S),
        "stop_id": _col(stop_col, S),
        "stop_sequence": _col(s + 1, I64, (pt + s) % 9 == 8),
        "arrival__time": _col(base_arr, I64, arr_null),
        "departure__time": _col(base_arr + 25 + (s % 3) * 10, I64, dep_null),
        "arrival__delay": _col(delay, I64, delay_null),
        "departure__delay": _col(delay + 5, I64, delay_null | (s % 2 == 0)),
        "arrival__uncertainty": _col(((pt + s) % 3 == 1) * 30, I64, (pt + s) % 3 == 2),
        "departure__uncertainty": _col(((pt + s + 1) % 3 == 1) * 30, I64, (pt + s + 1) % 3 == 2),
        "schedule_relationship": _col(
            np.array(["SCHEDULED", "SKIPPED", ""])[(pt + s) % 3], S, (pt + s) % 3 == 2),
    }, counts)


def _alerts(out_dir: str, n_alerts: int, routes: list[str], stop_ids: list[str],
            trip_ids: list[str], counts: dict[str, int]) -> None:
    al, hdr, desc, ie, ap = [], [], [], [], []
    t0 = _epoch(SERVICE_DAYS[0]) + 6 * 3600
    for a in range(n_alerts):
        alert_id = f"al{a:06d}"
        al.append(dict(_dlt_id=alert_id, _dlt_load_id=f"aload{a % 3}",
                       feed="alerts" if a % 8 != 7 else "x",
                       entity_id=f"lmm:alert:{a}",
                       as_of=f"2025-11-01T{6 + a % 12:02d}:00:0{a % 10}+00:00"))
        if a % 6 != 5:  # some alerts lack header/description rows
            for lang in ["en"] + (["es"] if a % 2 else []):
                hdr.append(dict(_dlt_id=f"h{a:06d}{lang}", _dlt_parent_id=alert_id,
                                text=f"Delays on {routes[a % len(routes)]} trains", language=lang))
                desc.append(dict(_dlt_id=f"d{a:06d}{lang}", _dlt_parent_id=alert_id,
                                 text=f"Alert {a} description ({lang})", language=lang))
        for e in range(1 + a % 3):
            ie.append(dict(
                _dlt_id=f"ie{a:06d}_{e}", _dlt_parent_id=alert_id,
                agency_id="MTA NYCT" if (a + e) % 2 else None,
                route_id=routes[(a + e) % len(routes)] if (a + e) % 3 else None,
                stop_id=stop_ids[(a * 2 + e) % len(stop_ids)] if (a + e) % 4 else None,
                trip__trip_id=trip_ids[a % len(trip_ids)] if a % 5 == 0 else None,
                trip__route_id=routes[a % len(routes)] if a % 4 == 0 else None,
                trip__direction_id=[0, 1, None][(a + e) % 3]))
        for p in range(1 + a % 2):
            start = t0 + (a % 30) * 3600 + p * 7200
            ap.append(dict(_dlt_id=f"ap{a:06d}_{p}", _dlt_parent_id=alert_id,
                           start=start if (a + p) % 5 != 4 else None,
                           end=(start + 5400) if (a + p) % 3 != 2 else None))
    _rows(out_dir, "alerts", al, counts)
    _rows(out_dir, "alerts__alert__header_text__translation", hdr, counts)
    _rows(out_dir, "alerts__alert__description_text__translation", desc, counts)
    _rows(out_dir, "alerts__alert__informed_entity", ie, counts)
    _rows(out_dir, "alerts__alert__active_period", ap, counts)


def generate(out_dir: str, seed: int, n_trips: int) -> dict[str, int]:
    """Write the 12 feed tables for ``n_trips`` realtime trips under
    ``out_dir``; returns rows per table."""
    if n_trips < 60:
        raise ValueError("n_trips must be at least 60")
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    counts: dict[str, int] = {}
    n_routes = max(len(BASE_ROUTES), n_trips // TRIPS_PER_ROUTE)
    routes = BASE_ROUTES + [f"T{k}" for k in range(len(BASE_ROUTES), n_routes)]
    stop_ids = [f"R{10 + i}{d}" for i in range(N_STATIONS) for d in "NS"]
    trip_ids, route_idx, direction = _static(out_dir, rng, n_trips, routes, stop_ids, counts)
    _realtime(out_dir, rng, n_trips, routes, stop_ids, trip_ids, route_idx, direction, counts)
    _alerts(out_dir, max(30, n_trips // TRIPS_PER_ALERT), routes, stop_ids, trip_ids, counts)
    return counts


if __name__ == "__main__":
    if len(sys.argv) != 4:
        sys.exit("usage: feed.py OUT_DIR SEED N_TRIPS")
    print(generate(sys.argv[1], int(sys.argv[2]), int(sys.argv[3])))
