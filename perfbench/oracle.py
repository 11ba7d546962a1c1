"""Output checks against the independent DuckDB re-implementation of the
models and metrics (``plans.mta_oracle``), run outside the timed region.

A result is reduced to a digest: its sorted column names, its row count and
an order-insensitive hash (the sum of per-row hashes over every column
rendered as text, timestamps first normalised to UTC wall time). Two results
agree when their digests are equal, the same test as ``tests/oracle_harness``
applies row by row.
"""

from __future__ import annotations

import duckdb

from mta_rtf_dbt_spark.plans.mta_oracle import (
    FACT_ALERTS_BODY,
    FACT_DELAYS_BODY,
    FACT_TRIPS_BODY,
    FACT_TRIPS_STOPS_BODY,
    METRIC_SQL,
)

MODEL_BODIES = {
    "fact_trips_stops": FACT_TRIPS_STOPS_BODY,
    "fact_trips": FACT_TRIPS_BODY,
    "fact_delays": FACT_DELAYS_BODY,
    "fact_alerts": FACT_ALERTS_BODY,
}


def digest(rel: duckdb.DuckDBPyRelation) -> tuple[tuple[str, ...], int, int]:
    cols = sorted(zip(rel.columns, (str(t) for t in rel.types)))
    text = ", ".join(
        f'CAST(CAST("{c}" AS TIMESTAMP) AS VARCHAR)' if t.startswith("TIMESTAMP")
        else f'CAST("{c}" AS VARCHAR)'
        for c, t in cols
    )
    n, h = rel.aggregate(f"count(*), coalesce(sum(hash({text})::HUGEINT), 0)").fetchone()
    return tuple(c for c, _ in cols), n, int(h)


class Oracle:
    """DuckDB over one generated feed: the four oracle models are built once
    as tables, then every expected digest is computed from them."""

    def __init__(self, feed_dir: str, tables: list[str], threads: int, temp_dir: str):
        self.con = duckdb.connect()
        self.con.execute("SET TimeZone='UTC'")
        self.con.execute(f"SET threads={threads}")
        self.con.execute("SET memory_limit='2GB'")
        self.con.execute(f"SET temp_directory='{temp_dir}'")
        # DuckDB 1.0's statistics propagation makes M12's lag over
        # date_trunc'd timestamps return run-to-run varying rows on feeds of
        # a few thousand trips; without it the oracle is deterministic.
        self.con.execute("SET disabled_optimizers='statistics_propagation'")
        for t in tables:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{feed_dir}/{t}.parquet')"
            )
        for name, body in MODEL_BODIES.items():
            self.con.execute(f"CREATE TABLE o_{name} AS {body}")
        self.models = {m: digest(self.con.table(f"o_{m}")) for m in MODEL_BODIES}
        self.metrics = {m: digest(self.con.sql(sql)) for m, sql in METRIC_SQL.items()}

    def of_arrow(self, table) -> tuple[tuple[str, ...], int, int]:
        return digest(self.con.from_arrow(table))

    def of_parquet(self, path: str) -> tuple[tuple[str, ...], int, int]:
        return digest(self.con.read_parquet(f"{path}/*.parquet"))

    def close(self) -> None:
        self.con.close()
