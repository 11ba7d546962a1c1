"""MERGE INTO (upsert) semantics as a DataFrame composition (SURVEY §2.1 S6).

The reference materializes models by full rebuild (dbt `table`/`view`;
`dbt_project.yml:29-36` has no incremental models), but its production
guidance (docs/metrics_guide.md:385 — "materialize and partition") implies
the incremental-upsert pattern every warehouse deployment of it would use.
We implement ANSI MERGE semantics engine-side:

    MERGE INTO target t USING source s ON <keys>
    WHEN MATCHED AND s.<delete_cond>  THEN DELETE
    WHEN MATCHED                      THEN UPDATE SET <update_set>
    WHEN NOT MATCHED [AND <cond>]     THEN INSERT <insert_values>

as one full-outer join on the key columns plus per-branch column resolution —
no RDDs, no collects; Catalyst sees a single join + project.

Scale posture: MERGE is a shuffle join on the merge keys. At 100 TB the
target should be bucketed on the keys (operators/scale.py:bucketed_write) so
only the source side shuffles; a small change-batch source should broadcast
(pass ``broadcast_source=True``) making the whole MERGE shuffle-free.
``merge_write`` pairs it with dynamic partition overwrite so only touched
partitions rewrite.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from mta_rtf_dbt_spark.registry import q
from mta_rtf_dbt_spark.sources.registry import load


def merge_into(
    target: DataFrame,
    source: DataFrame,
    on: list[str],
    *,
    update_set: dict[str, Column] | None = None,
    delete_condition: Column | None = None,
    insert_when: Column | None = None,
    broadcast_source: bool = False,
) -> DataFrame:
    """ANSI MERGE as a single full-outer join + branch resolution.

    - ``update_set``: {target_col: expr over s.* / t.*} applied to matched
      rows (default: take every source column, i.e. whole-row upsert).
    - ``delete_condition``: expr over ``s.*``; matched rows satisfying it are
      dropped (evaluated before UPDATE, as in ANSI branch order).
    - ``insert_when``: extra predicate over ``s.*`` for the NOT MATCHED
      branch (default: insert all unmatched source rows).

    Output schema == target schema. Deterministic: branch resolution is pure
    column logic, no row order dependence.

    Physical plans (the 100 TB consideration): Spark cannot broadcast a side
    of a FULL OUTER hash join, so ``broadcast_source=True`` switches to the
    equivalent two-branch plan — a broadcast LEFT OUTER join resolves
    update/delete without shuffling the target at all, and the INSERT branch
    anti-joins the small source against a keys-only projection of the target
    (shuffles |keys|, never the fat rows). Default (large source) is the
    single full-outer sort-merge join on the merge keys.
    """
    t = target.alias("t")
    # mta_stream_fts: without it a sort-merge join replaces the broadcast join.
    s = (F.broadcast(source) if broadcast_source else source).alias("s")
    cond = None
    for k in on:
        c = F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}"))
        cond = c if cond is None else (cond & c)

    upd = update_set or {c: F.col(f"s.{c}") for c in source.columns if c in target.columns}

    def resolve(matched: Column, t_exists: Column, j: DataFrame, keep: Column) -> DataFrame:
        out_cols = []
        for c in target.columns:
            upd_expr = upd.get(c, F.col(f"t.{c}"))
            ins_expr = F.col(f"s.{c}") if c in source.columns else F.lit(None)
            out_cols.append(
                F.when(matched, upd_expr)
                .when(t_exists, F.col(f"t.{c}"))
                .otherwise(ins_expr)
                .alias(c)
            )
        return j.filter(keep).select(*out_cols)

    ins_gate = F.lit(True) if insert_when is None else insert_when

    if broadcast_source:
        # Branch 1: update/delete via broadcast left-outer (target never shuffles).
        matched = F.col(f"s.{on[0]}").isNotNull()
        deleted = F.lit(False) if delete_condition is None else (matched & delete_condition)
        upd_branch = resolve(matched, F.lit(True), t.join(s, cond, "left_outer"), ~deleted)
        # Branch 2: inserts via anti-join on a keys-only target projection.
        ins_branch = (
            source.alias("s")
            .join(target.select(*on).alias("t"), on, "left_anti")
            .filter(ins_gate)
            .select(
                *[
                    (F.col(f"s.{c}") if c in source.columns else F.lit(None)).alias(c)
                    for c in target.columns
                ]
            )
        )
        return upd_branch.unionByName(ins_branch)

    j = t.join(s, cond, "full_outer")
    t_exists = F.col(f"t.{on[0]}").isNotNull()
    s_exists = F.col(f"s.{on[0]}").isNotNull()
    matched = t_exists & s_exists
    deleted = F.lit(False) if delete_condition is None else (matched & delete_condition)
    keep = (t_exists & ~deleted) | (s_exists & ~t_exists & ins_gate)
    return resolve(matched, t_exists, j, keep)


def align_schemas(
    target: DataFrame,
    source: DataFrame,
    mode: str = "append_new_columns",
) -> tuple[DataFrame, DataFrame]:
    """dbt ``on_schema_change`` for the MERGE path: reconcile drifted
    schemas before :func:`merge_into` (which requires resolvable columns).

    - ``"ignore"``: source-only columns are dropped; target-only columns
      null-fill on the source side (dbt default — target schema wins).
    - ``"append_new_columns"``: source-only columns are ADDED to the target
      as nulls (existing rows backfill NULL); target keeps columns the
      source dropped.
    - ``"sync_all_columns"``: target adopts the source's column set — adds
      new ones, drops removed ones.

    Always returns both frames with the identical column list (the merged
    target schema), types taken from whichever side owns the column.

    Caution: after alignment the source carries null-filled stand-ins for
    target-only columns, so ``merge_into``'s whole-row-upsert default would
    overwrite those target values with NULL. Pass an ``update_set``
    restricted to the source's REAL columns (dbt's update semantics).
    """
    t_cols = list(target.columns)
    s_cols = list(source.columns)
    s_only = [c for c in s_cols if c not in t_cols]
    if mode == "ignore":
        out_cols = t_cols
    elif mode == "append_new_columns":
        out_cols = t_cols + s_only
    elif mode == "sync_all_columns":
        out_cols = [c for c in t_cols if c in s_cols] + s_only
    else:
        raise ValueError(f"unknown on_schema_change mode: {mode}")

    def conform(df: DataFrame, other: DataFrame) -> DataFrame:
        have = set(df.columns)
        types = {f.name: f.dataType for f in other.schema.fields}
        return df.select(
            *[
                F.col(c) if c in have else F.lit(None).cast(types[c]).alias(c)
                for c in out_cols
            ]
        )

    return conform(target, source), conform(source, target)


def merge_write(
    spark: SparkSession,
    target_path: str,
    source: DataFrame,
    on: list[str],
    partition_by: list[str] | None = None,
    **merge_kwargs,
) -> DataFrame:
    """Read-merge-write a parquet table in place (the incremental
    materialization S4+S6 compose). With ``partition_by`` set, uses dynamic
    partition overwrite so only partitions present in the merged output
    rewrite — at 100 TB that's the difference between touching one day and
    rewriting the table."""
    target = spark.read.parquet(target_path)
    merged = merge_into(target, source, on, **merge_kwargs)
    w = merged.write.mode("overwrite")
    if partition_by:
        w = w.option("partitionOverwriteMode", "dynamic").partitionBy(*partition_by)
    # parquet has no transactional MERGE; stage-then-swap is the non-Delta
    # fallback. Local: write to a sibling staging dir then atomically rename.
    staged = target_path.rstrip("/") + ".__staged__"
    merged.persist()
    merged.count()
    w.parquet(staged)
    import shutil

    shutil.rmtree(target_path)
    shutil.move(staged, target_path)
    merged.unpersist()
    return spark.read.parquet(target_path)


# ---------------------------------------------------------------------------
# Driver entry: the full three-branch MERGE on orders, oracle-checked.
# ---------------------------------------------------------------------------
# Change batch derived deterministically from orders itself:
#   keys % 11 == 0                  -> _op='D'  (delete)
#   keys % 7  == 0 (and not % 11)   -> _op='U'  (update: +10% price, status 'U')
#   keys % 7  == 3                  -> new rows keyed orderkey+10_000_000 (insert)
_MERGE_SQL = """
WITH changes AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
         o_orderpriority, 'D' AS _op
  FROM orders WHERE o_orderkey % 11 = 0
  UNION ALL
  SELECT o_orderkey, o_custkey, 'U', o_totalprice * 1.1, o_orderdate,
         o_orderpriority, 'U'
  FROM orders WHERE o_orderkey % 7 = 0 AND o_orderkey % 11 != 0
  UNION ALL
  SELECT o_orderkey + 10000000, o_custkey, 'N', o_totalprice, o_orderdate,
         o_orderpriority, 'I'
  FROM orders WHERE o_orderkey % 7 = 3
),
matched_kept AS (
  SELECT t.o_orderkey,
         t.o_custkey,
         CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderstatus ELSE t.o_orderstatus END AS o_orderstatus,
         CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_totalprice ELSE t.o_totalprice END AS o_totalprice,
         t.o_orderdate,
         t.o_orderpriority
  FROM orders t LEFT JOIN changes s ON t.o_orderkey = s.o_orderkey
  WHERE s.o_orderkey IS NULL OR s._op != 'D'
),
inserted AS (
  SELECT s.o_orderkey, s.o_custkey, s.o_orderstatus, s.o_totalprice,
         s.o_orderdate, s.o_orderpriority
  FROM changes s LEFT JOIN orders t ON t.o_orderkey = s.o_orderkey
  WHERE t.o_orderkey IS NULL AND s._op != 'D'
)
SELECT * FROM matched_kept UNION ALL SELECT * FROM inserted
"""


def _change_batch(orders: DataFrame) -> DataFrame:
    k = F.col("o_orderkey")
    deletes = orders.filter(k % 11 == 0).withColumn("_op", F.lit("D"))
    updates = (
        orders.filter((k % 7 == 0) & (k % 11 != 0))
        .withColumn("o_orderstatus", F.lit("U"))
        .withColumn("o_totalprice", F.col("o_totalprice") * 1.1)
        .withColumn("_op", F.lit("U"))
    )
    inserts = (
        orders.filter(k % 7 == 3)
        .withColumn("o_orderkey", k + 10_000_000)
        .withColumn("o_orderstatus", F.lit("N"))
        .withColumn("_op", F.lit("I"))
    )
    return deletes.unionByName(updates).unionByName(inserts)


@q("s6_merge_upsert", _MERGE_SQL)
def s6_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-branch MERGE (delete / update price+status / insert new keys) on
    orders, resolved in one full-outer join. The oracle spells out the same
    branch logic in ANSI SQL, so every branch is hash-verified."""
    orders = load(spark, sf_dir, "orders")
    changes = _change_batch(orders)
    return merge_into(
        orders,
        changes,
        on=["o_orderkey"],
        update_set={
            "o_orderstatus": F.col("s.o_orderstatus"),
            "o_totalprice": F.col("s.o_totalprice"),
        },
        delete_condition=F.col("s._op") == "D",
    )


def cdc_diff(
    old: DataFrame, new: DataFrame, on: list[str], tracked: list[str]
) -> DataFrame:
    """Change-data-feed between two table versions — the INVERSE of MERGE
    (Delta CDF / Iceberg changelog): full-outer join the versions on the
    key and classify every key as insert / delete / update (any tracked
    column differing null-safely) / unchanged, emitting before/after values
    for changed keys only. Downstream incremental consumers replay this
    feed instead of re-reading the table.

    Scale: one co-partitioned full-outer join on the key (bucket both
    versions on the key and it is shuffle-free); unchanged keys — the vast
    majority of a daily diff — are filtered before the feed materializes."""
    o = old.select(
        *on,
        F.lit(1).alias("_o"),
        *[F.col(c).alias(f"{c}_before") for c in tracked],
    )
    n = new.select(
        *on,
        F.lit(1).alias("_n"),
        *[F.col(c).alias(f"{c}_after") for c in tracked],
    )
    j = o.join(n, on, "full_outer")
    changed = None
    for c in tracked:
        d = ~F.col(f"{c}_before").eqNullSafe(F.col(f"{c}_after"))
        changed = d if changed is None else (changed | d)
    op = (
        F.when(F.col("_o").isNull(), F.lit("insert"))
        .when(F.col("_n").isNull(), F.lit("delete"))
        .when(changed, F.lit("update"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        j.withColumn("op", op)
        .filter(F.col("op") != "unchanged")
        .select(
            *on,
            "op",
            *[x for c in tracked for x in (f"{c}_before", f"{c}_after")],
        )
    )


@q(
    "s6_cdc_diff",
    """
    SELECT o_orderkey, 'delete' AS op,
           o_orderstatus AS o_orderstatus_before, CAST(NULL AS VARCHAR) AS o_orderstatus_after,
           CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_cents_before,
           CAST(NULL AS BIGINT) AS price_cents_after
    FROM orders WHERE o_orderkey % 11 = 0
    UNION ALL
    SELECT o_orderkey, 'update', o_orderstatus, 'U',
           CAST(round(o_totalprice * 100, 0) AS BIGINT),
           CAST(round(o_totalprice * 1.1 * 100, 0) AS BIGINT)
    FROM orders WHERE o_orderkey % 7 = 0 AND o_orderkey % 11 != 0
    UNION ALL
    SELECT o_orderkey + 10000000, 'insert', NULL, 'N',
           NULL, CAST(round(o_totalprice * 100, 0) AS BIGINT)
    FROM orders WHERE o_orderkey % 7 = 3
    """,
)
def s6_cdc_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Roundtrip proof: apply the three-branch change batch via MERGE
    (s6_merge_upsert), then diff the merged table against the original —
    the feed must recover EXACTLY the delete / update / insert operations
    that were applied, with the update branch's before/after values intact
    (the oracle states the expected feed directly from the change-batch
    rules). MERGE and CDC-diff are inverse operators; hash equality here
    pins both directions at once."""
    orders = load(spark, sf_dir, "orders")
    merged = s6_merge_upsert.__wrapped__(spark, sf_dir)

    def slim(df: DataFrame) -> DataFrame:
        return df.select(
            "o_orderkey",
            "o_orderstatus",
            F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("price_cents"),
        )

    return cdc_diff(
        slim(orders), slim(merged), ["o_orderkey"], ["o_orderstatus", "price_cents"]
    )
