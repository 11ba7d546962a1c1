"""The benchmark's feed generator: byte-stable per (seed, size), and its join
keys scale with size."""

import pyarrow.parquet as pq

import feed


def test_same_seed_and_size_give_same_bytes(tmp_path):
    feed.generate(str(tmp_path / "a"), 5, 300)
    feed.generate(str(tmp_path / "b"), 5, 300)
    feed.generate(str(tmp_path / "c"), 6, 300)
    for t in feed.TABLES:
        a = (tmp_path / "a" / f"{t}.parquet").read_bytes()
        assert a == (tmp_path / "b" / f"{t}.parquet").read_bytes(), t
    tu = "trip_updates.parquet"
    assert (tmp_path / "a" / tu).read_bytes() != (tmp_path / "c" / tu).read_bytes()


def test_static_trips_and_routes_scale_with_realtime_trips(tmp_path):
    counts = feed.generate(str(tmp_path), 7, 3000)
    trips = pq.read_table(tmp_path / "trips.parquet")
    assert counts["trips"] == 3000
    assert len(set(trips["trip_id"].to_pylist())) == 3000
    assert counts["routes"] == 3000 // feed.TRIPS_PER_ROUTE + 1  # + the unused route
    # every digit-prefixed realtime trip id names one realtime trip
    tu = pq.read_table(tmp_path / "trip_updates.parquet").to_pylist()
    entities: dict[str, set] = {}
    for r in tu:
        entities.setdefault(r["trip_update__trip__trip_id"], set()).add(r["entity_id"])
    assert all(len(e) == 1 for e in entities.values())
