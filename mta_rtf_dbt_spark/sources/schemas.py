"""Declared source schemas — the Spark analogue of the column lists in the
reference's ``mta_sources.yml`` (S1; reference mta_sources.yml:3-178).

``SCHEMAS`` maps each of the 22 source tables to its Spark schema: the 10
generic testdata tables (TESTDATA.md) and the 12 dlt-landed MTA feed tables
(FIXTURES.md). The registry reads a declared source with
``spark.read.schema(SCHEMAS[name])``, so resolving a source costs no
schema-inference job, the way BigQuery resolves a view against catalog
schemas without reading data. The fixture generator writes its tables from
the same declaration (:func:`arrow_schema`).

A declared schema alone would turn a missing column into silent NULLs, so
:func:`declared_schema` first compares the file's parquet footer with the
declaration and raises :class:`SchemaDriftError` naming the table and every
missing, unexpected or retyped column. The check runs driver-side, once per
:func:`file_signature` of the path: a rewritten file is checked again.

Zoneless ``timestamp[us]`` columns are declared ``TimestampType`` — what
inference gives under the pinned ``inferTimestampNTZ=false`` — so reads no
longer depend on that session conf (the session tz is pinned UTC, D11).
"""

from __future__ import annotations

import os
from functools import lru_cache

import pyarrow as pa
from pyspark.sql.types import (
    ArrayType,
    DataType,
    DateType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

S, I32, I64, F64, TS = StringType(), IntegerType(), LongType(), DoubleType(), TimestampType()


def _cols(*cols: tuple[str, DataType]) -> StructType:
    return StructType([StructField(n, t) for n, t in cols])


_TRANSLATION = _cols(("_dlt_id", S), ("_dlt_parent_id", S), ("text", S), ("language", S))

SCHEMAS: dict[str, StructType] = {
    # ---- generic testdata (TESTDATA.md) ----
    "region": _cols(("r_regionkey", I32), ("r_name", S)),
    "nation": _cols(("n_nationkey", I32), ("n_name", S), ("n_regionkey", I32)),
    "customer": _cols(
        ("c_custkey", I64), ("c_name", S), ("c_nationkey", I32), ("c_acctbal", F64),
        ("c_mktsegment", S),
    ),
    "supplier": _cols(("s_suppkey", I64), ("s_name", S), ("s_nationkey", I32), ("s_acctbal", F64)),
    "part": _cols(
        ("p_partkey", I64), ("p_name", S), ("p_brand", S), ("p_type", S), ("p_size", I32),
        ("p_retailprice", F64),
    ),
    "orders": _cols(
        ("o_orderkey", I64), ("o_custkey", I64), ("o_orderstatus", S), ("o_totalprice", F64),
        ("o_orderdate", TS), ("o_orderpriority", S),
    ),
    "lineitem": _cols(
        ("l_orderkey", I64), ("l_partkey", I64), ("l_suppkey", I64), ("l_linenumber", I32),
        ("l_quantity", F64), ("l_extendedprice", F64), ("l_discount", F64), ("l_tax", F64),
        ("l_returnflag", S), ("l_linestatus", S), ("l_shipdate", TS),
    ),
    "events": _cols(
        ("event_id", I64), ("ts", TS), ("user_id", I64), ("event_type", S), ("value", F64),
        ("props", S),
    ),
    "documents": _cols(("doc_id", I64), ("text", S), ("lang", S), ("source", S), ("n_chars", I64)),
    "embeddings": _cols(("vec_id", I64), ("embedding", ArrayType(FloatType())), ("label", I32)),
    # ---- dlt-landed GTFS-rt feed (FIXTURES.md; mta_sources.yml:7-178) ----
    "trip_updates": _cols(
        ("_dlt_id", S), ("_dlt_load_id", S), ("feed", S), ("entity_id", S), ("as_of", S),
        ("trip_update__timestamp", I64), ("trip_update__trip__trip_id", S),
        ("trip_update__trip__route_id", S), ("trip_update__trip__direction_id", I64),
        ("trip_update__trip__start_date", S), ("trip_update__trip__schedule_relationship", S),
    ),
    "trip_updates__trip_update__stop_time_update": _cols(
        ("_dlt_id", S), ("_dlt_parent_id", S), ("stop_id", S), ("stop_sequence", I64),
        ("arrival__time", I64), ("departure__time", I64), ("arrival__delay", I64),
        ("departure__delay", I64), ("arrival__uncertainty", I64),
        ("departure__uncertainty", I64), ("schedule_relationship", S),
    ),
    "alerts": _cols(
        ("_dlt_id", S), ("_dlt_load_id", S), ("feed", S), ("entity_id", S), ("as_of", S)
    ),
    "alerts__alert__header_text__translation": _TRANSLATION,
    "alerts__alert__description_text__translation": _TRANSLATION,
    "alerts__alert__informed_entity": _cols(
        ("_dlt_id", S), ("_dlt_parent_id", S), ("agency_id", S), ("route_id", S),
        ("stop_id", S), ("trip__trip_id", S), ("trip__route_id", S),
        ("trip__direction_id", I64),
    ),
    "alerts__alert__active_period": _cols(
        ("_dlt_id", S), ("_dlt_parent_id", S), ("start", I64), ("end", I64)
    ),
    # ---- static GTFS ----
    "routes": _cols(
        ("route_id", S), ("agency_id", S), ("route_short_name", S), ("route_long_name", S),
        ("route_desc", S), ("route_type", I64), ("route_color", S), ("route_text_color", S),
    ),
    "stops": _cols(
        ("stop_id", S), ("stop_name", S), ("parent_station", S), ("stop_lat", F64),
        ("stop_lon", F64),
    ),
    "trips": _cols(
        ("trip_id", S), ("route_id", S), ("service_id", S), ("trip_headsign", S),
        ("direction_id", I64),
    ),
    "stop_times": _cols(
        ("trip_id", S), ("stop_id", S), ("stop_sequence", I64), ("arrival_time", S),
        ("departure_time", S),
    ),
    # Undeclared in mta_sources.yml; inferred from metrics_guide.md:63-76.
    "calendar": _cols(
        ("service_id", S),
        *((d, I64) for d in
          ("monday", "tuesday", "wednesday", "thursday", "friday", "saturday", "sunday")),
        ("start_date", DateType()), ("end_date", DateType()),
    ),
}

_ARROW: dict[DataType, pa.DataType] = {
    S: pa.string(),
    I32: pa.int32(),
    I64: pa.int64(),
    F64: pa.float64(),
    FloatType(): pa.float32(),
    DateType(): pa.date32(),
    TS: pa.timestamp("us"),
}


def _arrow_type(t: DataType) -> pa.DataType:
    if isinstance(t, ArrayType):
        return pa.list_(_arrow_type(t.elementType))
    return _ARROW[t]


def arrow_schema(name: str) -> pa.Schema:
    """The parquet (arrow) schema a file of source ``name`` is written with."""
    return pa.schema([(f.name, _arrow_type(f.dataType)) for f in SCHEMAS[name]])


class SchemaDriftError(ValueError):
    """A source file's columns differ from its declared schema."""


def _zoneless(t: pa.DataType) -> pa.DataType:
    # Spark reads zoneless and UTC-adjusted micros alike as TimestampType.
    return pa.timestamp(t.unit) if pa.types.is_timestamp(t) else t


Signature = tuple[tuple[str, int, int], ...]


def file_signature(path: str) -> Signature:
    """``(relpath, size, mtime_ns)`` of every data file at ``path``: the file
    itself (relpath ``""``), or each file under the directory, partition
    subdirectories included. Names starting with ``_`` or ``.`` (Spark's
    ``_SUCCESS``, ``_temporary``, ``.crc`` files) are skipped, as Spark skips
    them. Any rewrite, append or removal of a data file changes it; a missing
    path gives ``()``."""
    if os.path.isfile(path):
        st = os.stat(path)
        return (("", st.st_size, st.st_mtime_ns),)
    files = []
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for n in names:
            if not n.startswith(("_", ".")):
                full = os.path.join(root, n)
                st = os.stat(full)
                files.append((os.path.relpath(full, path), st.st_size, st.st_mtime_ns))
    return tuple(sorted(files))


@lru_cache(maxsize=256)
def _check_footer(path: str, sig: Signature, name: str) -> None:
    import pyarrow.dataset as ds

    got = ds.dataset(path, format="parquet").schema
    want = arrow_schema(name)
    problems = [f"missing column {c!r}" for c in want.names if c not in got.names]
    problems += [f"unexpected column {c!r}" for c in got.names if c not in want.names]
    problems += [
        f"column {f.name!r} is {got.field(f.name).type}, declared {f.type}"
        for f in want
        if f.name in got.names and not _zoneless(got.field(f.name).type).equals(f.type)
    ]
    if problems:
        raise SchemaDriftError(
            f"source {name!r} at {path} drifted from its declared schema: "
            + "; ".join(problems)
        )


def declared_schema(path: str, name: str) -> StructType:
    """``SCHEMAS[name]``, after checking the file at ``path`` against it."""
    _check_footer(path, file_signature(path), name)
    return SCHEMAS[name]
