"""dlt-style ingestion flattening (S5; reference mta_sources.yml:9-12,22-24).

The reference's raw tables are produced upstream by dlt: nested GTFS-rt
protobuf messages are relationally flattened into parent/child table pairs
(`trip_updates` ↔ `trip_updates__trip_update__stop_time_update`,
`alerts` ↔ four `alerts__alert__*` children) linked by synthetic lineage
columns — `_dlt_id` (row id), `_dlt_parent_id` (FK to parent row),
`_dlt_load_id` (ingest batch) — and nested field paths are spelled with a
``__`` separator (`trip_update__trip__trip_id`, mta_sources.yml:142-153).

This module is that ingestion step as Spark operators, so the engine can
accept *nested* feed data (ArrayType/StructType columns — what a protobuf
decoder or `from_json` yields) and land the reference's flat schema:

- ``flatten_struct_paths`` — recursively lift struct fields to ``__``-joined
  top-level columns.
- ``flatten_parent_child``  — explode one repeated field into a child table
  with lineage columns; returns (parent, child).

Divergence from dlt, on purpose: dlt's `_dlt_id` is random base64; ours is a
deterministic hash of the parent's natural key (+ child position), so
re-ingesting the same snapshot is idempotent and results are oracle-checkable
(same reasoning as SURVEY.md §4 D4's deterministic ANY_VALUE policy).

Scale: explode is narrow (no shuffle); lineage hashes are sha2 Column
expressions inside codegen; a 100 TB re-ingest parallelizes per input file.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StructType

from mta_rtf_dbt_spark.registry import persist, q


def flatten_struct_paths(df: DataFrame, sep: str = "__") -> DataFrame:
    """Lift nested struct fields to top-level ``parent__child`` columns
    (dlt's path convention). Arrays are left in place — they become child
    tables via :func:`flatten_parent_child`."""
    while True:
        struct_cols = [
            f.name for f in df.schema.fields if isinstance(f.dataType, StructType)
        ]
        if not struct_cols:
            return df
        cols = []
        for f in df.schema.fields:
            if f.name in struct_cols:
                inner: StructType = f.dataType  # type: ignore[assignment]
                cols.extend(
                    F.col(f"`{f.name}`.`{sub.name}`").alias(f"{f.name}{sep}{sub.name}")
                    for sub in inner.fields
                )
            else:
                cols.append(F.col(f"`{f.name}`"))
        df = df.select(*cols)


def flatten_parent_child(
    df: DataFrame,
    array_col: str,
    natural_key: list[str],
    load_id: str,
    sep: str = "__",
) -> tuple[DataFrame, DataFrame]:
    """Split one repeated field into (parent, child) tables with dlt-shaped
    lineage columns.

    Parent: input minus the array, plus ``_dlt_id`` (deterministic hash of
    the natural key + load) and ``_dlt_load_id``. Child: one row per array
    element with struct fields lifted via ``sep``, plus ``_dlt_parent_id``,
    positional ``_dlt_list_idx``, its own ``_dlt_id``, and ``_dlt_load_id``.
    """
    parent_id = F.sha2(
        F.concat_ws("|", F.lit(load_id), *[F.col(k).cast("string") for k in natural_key]),
        256,
    )
    parent = (
        df.withColumn("_dlt_id", parent_id)
        .withColumn("_dlt_load_id", F.lit(load_id))
        .drop(array_col)
    )

    exploded = (
        df.withColumn("_dlt_parent_id", parent_id)
        .select("_dlt_parent_id", F.posexplode_outer(F.col(array_col)).alias("_dlt_list_idx", "_elem"))
        .filter(F.col("_elem").isNotNull())
    )
    elem_type = next(
        f.dataType for f in df.schema.fields if f.name == array_col
    )
    assert isinstance(elem_type, ArrayType)
    if isinstance(elem_type.elementType, StructType):
        child_cols = [
            F.col(f"_elem.`{sub.name}`").alias(sub.name)
            for sub in elem_type.elementType.fields
        ]
    else:
        child_cols = [F.col("_elem").alias("value")]
    child = exploded.select(
        *child_cols,
        F.col("_dlt_parent_id"),
        F.col("_dlt_list_idx"),
        F.sha2(
            F.concat_ws("|", F.col("_dlt_parent_id"), F.col("_dlt_list_idx").cast("string")),
            256,
        ).alias("_dlt_id"),
        F.lit(load_id).alias("_dlt_load_id"),
    )
    return flatten_struct_paths(parent, sep), flatten_struct_paths(child, sep)


@q(
    "ingest_flatten_roundtrip",
    """
    SELECT l_orderkey AS o_orderkey, l_linenumber,
           l_quantity AS amounts__qty, l_extendedprice AS amounts__price
    FROM lineitem
    """,
)
def ingest_flatten_roundtrip(spark, sf_dir):
    """End-to-end dlt-shape proof: nest lineitems under their order as an
    array<struct> (with a deliberately nested inner struct), run the
    flattener, join child back to parent through the lineage FK, and recover
    exactly the original lineitem rows — the oracle is the flat source table
    itself."""
    from mta_rtf_dbt_spark.sources.registry import load

    li = load(spark, sf_dir, "lineitem")
    nested = li.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(
        F.collect_list(
            F.struct(
                F.col("l_linenumber"),
                F.struct(
                    F.col("l_quantity").alias("qty"),
                    F.col("l_extendedprice").alias("price"),
                ).alias("amounts"),
            )
        ).alias("items")
    )
    # parent and child both derive from the nested relation; persist it so
    # the collect_list aggregate runs once, not once per side of the FK join
    nested = persist(nested, eager=True)
    parent, child = flatten_parent_child(nested, "items", ["o_orderkey"], "load_0001")
    return child.join(
        parent.select("_dlt_id", "o_orderkey"),
        child._dlt_parent_id == parent._dlt_id,
    ).select("o_orderkey", "l_linenumber", "amounts__qty", "amounts__price")
