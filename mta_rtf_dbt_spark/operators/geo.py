"""Geospatial column operators over the MTA stops dimension: grid-bucketed
nearest-neighbor and geohash encoding — the geo family a transit engine
needs (stop clustering, station catchment, map-tile keys) built on the same
integer-exact discipline as the rest of the engine.

Coordinates are micro-degree integers (round(deg*1e6)) before ANY
arithmetic. Engine portability: for INTEGER operands both Spark ``div``
and DuckDB ``//`` truncate toward zero (verified: ``-1140//1000 = -1`` in
DuckDB — it floors only for doubles), so signed integer division is
engine-exact as-is. Grid-cell keys still run on SHIFTED-POSITIVE values
(lat+90°, lon+180°) — not for engine agreement but because
truncation-toward-zero would make the cell straddling 0 twice as wide as
every other cell (both -999..-1 and 0..999 map to cell 0), breaking the
"cell size >= radius" guarantee the 3x3 neighborhood probe relies on. The
``dlon_scaled`` distance term deliberately divides a SIGNED difference:
both engines truncate it identically, and it is squared immediately after,
so the sign of the truncation bias cancels out of the ranking.

Scale: nearest-neighbor is a GRID join — each point joins only its 3x3
cell neighborhood (cell size >= the search radius), never all pairs; the
cell key is one integer div, the neighborhood an explode of 9 offsets on
one side. Geohash is a pure per-row projection (quantize + Morton
interleave + base32), the map-tile/bucketing key for co-locating spatial
data in storage (pairs with operators/layout's Z-order writer — a geohash
prefix IS a Z-range).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mta_rtf_dbt_spark.registry import q
from mta_rtf_dbt_spark.sources.fixtures import ensure_fixtures
from mta_rtf_dbt_spark.sources.registry import load

FIX_DIR = ensure_fixtures()


CELL_MICRO = 50_000  # 0.05 deg grid cells; neighborhood covers <=0.05 deg radius
COS_LAT_MILLI = 760  # cos(40.55 deg) ~ 0.7597 — fixed mid-latitude scale factor
_STOPS_CTE = f"stops AS (SELECT * FROM read_parquet('{FIX_DIR}/stops.parquet'))"


@q(
    "geo_nearest_stop",
    f"""
    WITH {_STOPS_CTE},
    pts AS (
      SELECT stop_id,
             CAST(round(stop_lat * 1000000) AS BIGINT) AS lat_u,
             CAST(round(stop_lon * 1000000) AS BIGINT) AS lon_u
      FROM stops
    ),
    cells AS (
      SELECT stop_id, lat_u, lon_u,
             (lat_u + 90000000) // {CELL_MICRO} AS cx,
             (lon_u + 180000000) // {CELL_MICRO} AS cy
      FROM pts
    ),
    probes AS (
      SELECT c.stop_id, c.lat_u, c.lon_u, c.cx + dx.o AS px, c.cy + dy.o AS py
      FROM cells c,
           (SELECT unnest([-1, 0, 1]) AS o) dx,
           (SELECT unnest([-1, 0, 1]) AS o) dy
    ),
    cand AS (
      SELECT a.stop_id, b.stop_id AS nearest_stop_id,
             (a.lat_u - b.lat_u) * (a.lat_u - b.lat_u)
             + ((a.lon_u - b.lon_u) * {COS_LAT_MILLI} // 1000)
               * ((a.lon_u - b.lon_u) * {COS_LAT_MILLI} // 1000) AS d2,
             row_number() OVER (PARTITION BY a.stop_id
                                ORDER BY (a.lat_u - b.lat_u) * (a.lat_u - b.lat_u)
                                         + ((a.lon_u - b.lon_u) * {COS_LAT_MILLI} // 1000)
                                           * ((a.lon_u - b.lon_u) * {COS_LAT_MILLI} // 1000),
                                         b.stop_id) AS rn
      FROM probes a JOIN cells b ON b.cx = a.px AND b.cy = a.py
      WHERE b.stop_id <> a.stop_id
    )
    SELECT stop_id, nearest_stop_id, CAST(d2 AS BIGINT) AS d2_micro2
    FROM cand WHERE rn = 1
    """,
)
def geo_nearest_stop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest neighboring stop per stop within the 3x3 grid neighborhood
    (cell 0.05 deg — the op's documented search horizon; points farther
    apart are 'no neighbor' by contract). Distance is the equirectangular
    integer metric dlat^2 + (dlon*cos(lat0))^2 in micro-degrees — no trig
    at query time, so no libm cross-engine drift — with the neighbor id as
    the deterministic tiebreak (co-located platform N/S/parent records tie
    at distance 0)."""
    pts = load(spark, FIX_DIR, "stops").select(
        "stop_id",
        F.round(F.col("stop_lat") * 1_000_000).cast("long").alias("lat_u"),
        F.round(F.col("stop_lon") * 1_000_000).cast("long").alias("lon_u"),
    )
    cells = pts.select(
        "stop_id",
        "lat_u",
        "lon_u",
        F.expr(f"(lat_u + 90000000) div {CELL_MICRO}").alias("cx"),
        F.expr(f"(lon_u + 180000000) div {CELL_MICRO}").alias("cy"),
    )
    offsets = F.explode(F.array(*[F.lit(i) for i in (-1, 0, 1)]))
    probes = (
        cells.withColumn("dx", offsets)
        .withColumn("dy", offsets)
        .select(
            "stop_id",
            "lat_u",
            "lon_u",
            (F.col("cx") + F.col("dx")).alias("px"),
            (F.col("cy") + F.col("dy")).alias("py"),
        )
    )
    b = cells.select(
        F.col("stop_id").alias("nearest_stop_id"),
        F.col("lat_u").alias("b_lat"),
        F.col("lon_u").alias("b_lon"),
        F.col("cx").alias("px"),
        F.col("cy").alias("py"),
    )
    dlon_scaled = F.expr(f"((lon_u - b_lon) * {COS_LAT_MILLI}) div 1000")
    d2 = (F.col("lat_u") - F.col("b_lat")) * (F.col("lat_u") - F.col("b_lat")) + (
        dlon_scaled * dlon_scaled
    )
    cand = (
        probes.join(b, ["px", "py"])
        .filter(F.col("nearest_stop_id") != F.col("stop_id"))
        .withColumn("d2", d2.cast("long"))
    )
    w = Window.partitionBy("stop_id").orderBy("d2", "nearest_stop_id")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("stop_id", "nearest_stop_id", F.col("d2").alias("d2_micro2"))
    )


_GH_BASE32 = "0123456789bcdefghjkmnpqrstuvwxyz"
_GH_BITS = 20  # per dimension -> 8 base32 chars


def _interleave_terms(latq: str, lonq: str) -> str:
    """SQL expression summing lon bits into odd Morton lanes and lat bits
    into even lanes (geohash puts the longitude bit first at the MSB)."""
    terms = []
    for j in range(_GH_BITS):
        terms.append(f"(({lonq} >> {j}) & 1) * CAST({2 ** (2 * j + 1)} AS BIGINT)")
        terms.append(f"(({latq} >> {j}) & 1) * CAST({2 ** (2 * j)} AS BIGINT)")
    return " + ".join(terms)


_GH_CHARS_SQL = " || ".join(
    f"substr('{_GH_BASE32}', CAST(((z >> {5 * (7 - i)}) & 31) + 1 AS INTEGER), 1)"
    for i in range(8)
)


@q(
    "geo_geohash_stops",
    f"""
    WITH {_STOPS_CTE},
    qz AS (
      SELECT stop_id, stop_lat, stop_lon,
             CAST(floor((stop_lat + 90.0) * {2 ** _GH_BITS} / 180.0) AS BIGINT) AS latq,
             CAST(floor((stop_lon + 180.0) * {2 ** _GH_BITS} / 360.0) AS BIGINT) AS lonq
      FROM stops
    ),
    zc AS (SELECT stop_id, stop_lat, stop_lon,
                  {_interleave_terms("latq", "lonq")} AS z
           FROM qz)
    SELECT stop_id, stop_lat, stop_lon, {_GH_CHARS_SQL} AS geohash8
    FROM zc
    """,
)
def geo_geohash_stops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8-character geohash per stop, computed as pure integer arithmetic:
    quantize lat/lon to 20 bits over their world ranges (one identical
    double expression per axis, floored), Morton-interleave with longitude
    in the leading lane, emit 5-bit groups through the geohash base32
    alphabet. Validated against the published algorithm in test_r5_ops
    (known anchor: geohash of central NYC starts 'dr5'). The classic
    storage co-location key: sorting/partitioning by geohash prefix gives
    the same 2-D locality as the Z-order writer, because a geohash IS a
    base32-rendered Z-value."""
    s = load(spark, FIX_DIR, "stops").select("stop_id", "stop_lat", "stop_lon")
    qz = s.select(
        "stop_id",
        "stop_lat",
        "stop_lon",
        F.floor((F.col("stop_lat") + 90.0) * (2**_GH_BITS) / 180.0)
        .cast("long")
        .alias("latq"),
        F.floor((F.col("stop_lon") + 180.0) * (2**_GH_BITS) / 360.0)
        .cast("long")
        .alias("lonq"),
    )
    zc = qz.withColumn("z", F.expr(_interleave_terms("latq", "lonq")))
    gh = F.concat(
        *[
            F.substring(
                F.lit(_GH_BASE32),
                F.expr(f"CAST(((z >> {5 * (7 - i)}) & 31) + 1 AS INT)"),
                1,
            )
            for i in range(8)
        ]
    )
    return zc.select("stop_id", "stop_lat", "stop_lon", gh.alias("geohash8"))
