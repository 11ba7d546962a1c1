"""Physical-plan regression tests: the optimizer behaviors SURVEY.md §3-4
claims (pushdown through the model view chain, broadcast dim joins, column
pruning) must be visible in the executed plans, not assumed."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests.test_mta_models import mta_dir, mta_models  # noqa: F401

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _uncached(spark):
    """Pushdown/pruning assertions need UNCACHED plans: while an mta_* entry's
    persist of fact_trips_stops (plans/mta_driver) is live, the cache manager
    substitutes the InMemoryRelation into any identical subtree and the scan
    under test disappears. The tests plan a fresh Dataset (``select("*")``)
    over the memoized model frame: the frame itself keeps the plan it got
    when it was first executed, with whatever cache was live then."""
    spark.catalog.clearCache()


def test_filter_pushes_through_model_chain(spark, mta_models):  # noqa: F811
    """EP2: fact_delays inlines fact_trips_stops inlines 4 sources; the
    feed='main' filter must reach the trip_updates parquet scan."""
    _uncached(spark)
    plan = _plan(mta_models["fact_delays"].select("*"))
    assert "PushedFilters" in plan
    assert "EqualTo(feed,main)" in plan, plan[:4000]


def test_model_chain_prunes_columns(spark, mta_models):  # noqa: F811
    """A narrow projection over fact_trips_stops (54 cols) must narrow the
    trip_updates scan's ReadSchema, not read everything."""
    _uncached(spark)
    narrow = mta_models["fact_trips_stops"].select("trip_uid", "stop_id")
    plan = _plan(narrow)
    scans = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scans
    # the stop_time_update scan feeds stop_id + the uid inputs; it must not
    # read the arrival/departure delay columns the projection dropped
    assert not any("arrival__delay" in ln for ln in scans), scans


def test_dim_joins_broadcast(mta_models):  # noqa: F811
    """J2/J8: stops/trips enrichment joins must be broadcast, not shuffled."""
    plan = _plan(mta_models["fact_trips_stops"])
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, plan[:4000]


def test_q1_scan_is_pruned_and_filtered(spark):
    import __spark_entry__ as e

    df = e.queries()["q1_pricing_summary"](spark, SF)
    plan = _plan(df)
    assert "PushedFilters" in plan and "l_shipdate" in plan
    scans = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scans and all("l_comment" not in ln for ln in scans), scans


def test_whole_stage_codegen_covers_metrics(spark):
    """The hot path (filter+window+lag pipeline) must stay inside
    whole-stage codegen — a Python/interpreted fallback here is a perf bug."""
    import __spark_entry__ as e

    df = e.queries()["m5_analog_headways"](spark, SF)
    # AQE only finalizes this plan instance after ITS OWN execution
    # (count() would execute a different QueryExecution)
    df.collect()
    plan = _plan(df)
    assert "isFinalPlan=true" in plan
    # '*(n)' node prefixes mark whole-stage-codegen spans in plan toString()
    assert "*(" in plan, plan[:2000]


def test_q5_broadcasts_all_dims(spark):
    """Q5's four dimension joins must be broadcast — a shuffled dim lookup
    at 100 TB is the canonical plan bug this suite guards against."""
    import __spark_entry__ as e

    df = e.queries()["q5_local_supplier_volume"](spark, "/root/testdata/sf0.001")
    df.collect()  # finalize AQE
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan  # at test SF everything fits broadcast


def test_q18_single_lineitem_scan(spark):
    """Q18's HAVING subquery is satisfied by REUSING the outer query's own
    order-grain pre-aggregate (tpch_extra.q18 docstring): lineitem must be
    scanned exactly once — the textbook semi-join plan scans it twice — and
    the customer dimension must come in as a broadcast."""
    import __spark_entry__ as e

    df = e.queries()["q18_large_volume_customer"](spark, "/root/testdata/sf0.001")
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("Initial Plan")[0]  # AQE prints final + initial trees
    assert final.count("lineitem.parquet") == 1, plan
    assert "BroadcastHashJoin" in final


def test_materialized_model_partition_pruning(spark, mta_models, tmp_path_factory):  # noqa: F811
    """S4 at scale (metrics_guide.md:385): fact_trips_stops materialized
    partitioned by service_day_local; a single-day metric scan must prune to
    that partition (PartitionFilters on the scan, one partition read), not
    list the whole table."""
    from mta_rtf_dbt_spark.plans.mta_models import materialize

    path = str(tmp_path_factory.mktemp("mat") / "fact_trips_stops")
    materialize(mta_models["fact_trips_stops"], path, partition_by=["service_day_local"])

    back = spark.read.parquet(path)
    days = [r[0] for r in back.select("service_day_local").distinct().collect()]
    assert days, "materialized table must have at least one service day"
    one = back.filter(F.col("service_day_local") == days[0])
    plan = _plan(one)
    import re

    scan = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert scan, plan[:4000]
    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", scan[0])
    assert pf and "service_day_local" in pf.group(1), scan[0]
    # the day predicate must be a metadata partition filter, not a data filter
    pushed = re.search(r"PushedFilters: \[([^\]]*)\]", scan[0])
    assert pushed is None or "service_day_local" not in pushed.group(1), scan[0]
    # pruning is observable at runtime: the scan's "number of files read"
    # metric after execution must be below the table's total file count
    # (the table has one file per service-day partition)
    if len(days) > 1:
        one.collect()
        leaves = one._jdf.queryExecution().executedPlan().collectLeaves()
        scan_node = leaves.head()
        files_read = scan_node.metrics().apply("numFiles").value()
        assert files_read < len(back.inputFiles()), (
            files_read,
            len(back.inputFiles()),
        )


def _fresh_sources(spark, mta_dir):  # noqa: F811
    """The 12 MTA source frames read directly, not through ``registry.load``:
    frames no cache has seen, so a model build over them is a miss."""
    from mta_rtf_dbt_spark.sources.fixtures import MTA_TABLES
    from mta_rtf_dbt_spark.sources.schemas import SCHEMAS

    return {
        t: spark.read.schema(SCHEMAS[t]).parquet(os.path.join(mta_dir, f"{t}.parquet"))
        for t in MTA_TABLES
    }


@pytest.fixture
def mta_fresh(spark, mta_dir):  # noqa: F811
    """(sources, models) of a build of its own, so persisting or counting
    here leaves the shared ``mta_models`` fixture untouched."""
    from mta_rtf_dbt_spark.plans.mta_models import build_all

    src = _fresh_sources(spark, mta_dir)
    return src, build_all(spark, src, register_views=False)


# py4j commands the building thread sends, on the MTA fixture. The models and
# metrics are SQL text, so a build is a few calls per frame and one parse: 67
# per build_all that builds (7 of them read the session's RUNTIME_CONFS, its
# cache key) and 10-37 per metric. The DataFrame-API versions sent
# 3 730-3 735 per build_all and 171-1 493 per metric. A build_all over the
# frames of an earlier one (a cache hit) sends only the 7 conf reads, and a
# load of an unchanged file sends none (12 loads sent 156 before loads were
# memoized).
BUILD_ALL_PY4J_BUDGET = 300
BUILD_ALL_HIT_PY4J_BUDGET = 20
METRIC_PY4J_BUDGET = 100


def test_mta_builds_stay_within_py4j_budget(spark, mta_dir, mta_fresh, monkeypatch):  # noqa: F811
    """Building the 4 models and each of M1-M12 costs a bounded number of
    Python->JVM round trips; a model or metric drifting back to per-expression
    DataFrame calls fails here before it shows up as plan-build time. Loading
    unchanged sources and rebuilding the models over them costs next to
    nothing: a query over the model views pays only for its own metric."""
    import threading

    from py4j.clientserver import ClientServerConnection

    from mta_rtf_dbt_spark.plans.mta_models import build_all
    from mta_rtf_dbt_spark.sources.fixtures import MTA_TABLES
    from mta_rtf_dbt_spark.sources.registry import load
    from tests.test_mta_metrics import CASES

    sent = [0]
    send = ClientServerConnection.send_command
    me = threading.get_ident()

    def counting(self, *args, **kwargs):
        # this thread only: py4j's finalizer thread detaches garbage-collected
        # JVM objects in batches, whenever the collector happens to run
        sent[0] += threading.get_ident() == me
        return send(self, *args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)

    def commands(build) -> int:
        sent[0] = 0
        build()
        return sent[0]

    src, models = mta_fresh
    fresh = _fresh_sources(spark, mta_dir)
    n_models = commands(lambda: build_all(spark, fresh, register_views=False))
    n_hit = commands(lambda: build_all(spark, fresh, register_views=False))
    n_metrics = {name: commands(lambda c=case: c(models, src)) for name, case in CASES.items()}
    for t in MTA_TABLES:
        load(spark, mta_dir, t)
    n_loads = commands(lambda: [load(spark, mta_dir, t) for t in MTA_TABLES])
    assert n_models < BUILD_ALL_PY4J_BUDGET, n_models
    assert n_hit < BUILD_ALL_HIT_PY4J_BUDGET, n_hit
    assert n_loads == 0, n_loads
    over = {k: n for k, n in n_metrics.items() if n >= METRIC_PY4J_BUDGET}
    assert not over, (over, n_metrics)


def test_persisted_model_substitutes_into_metric_plans(spark, mta_fresh):
    """plans/mta_driver persists fact_trips_stops for the entry it builds:
    every metric plan, fact_trips' (M10/M11) included, must read the cached
    relation, not rebuild the model from its sources, and building the
    metrics must leave the model cached."""
    from tests.test_mta_metrics import CASES

    src, models = mta_fresh
    fts = models["fact_trips_stops"].persist()
    try:
        models = {**models, "fact_trips_stops": fts}
        plans = {name: _plan(case(models, src)) for name, case in CASES.items()}
        missing = [name for name, plan in plans.items() if "InMemoryTableScan" not in plan]
        assert not missing, missing
        assert "InMemoryTableScan" in _plan(fts.select("trip_uid"))
    finally:
        fts.unpersist()


def test_new_ops_plan_shapes(spark):
    """Round-2 operators must keep their designed plan shapes: no cartesian
    products on data paths, bounded broadcasts, and chunking stays a pure
    map (zero exchanges)."""
    import __spark_entry__ as e

    qs = e.queries()
    sf = "/root/testdata/sf0.001"

    chunk = _plan(qs["chunk_documents"](spark, sf))
    assert "Exchange" not in chunk, chunk[:2000]
    assert "CartesianProduct" not in chunk

    pack = _plan(qs["pack_sequences"](spark, sf))
    assert "CartesianProduct" not in pack
    # two-phase prefix sum: bucket-partitioned window must exist; the only
    # unpartitioned window runs over the tiny bucket-totals relation
    assert "Window" in pack

    decon = _plan(qs["text_decontaminate"](spark, sf))
    assert "CartesianProduct" not in decon
    assert "BroadcastNestedLoopJoin" not in decon  # posting join is equi, never a loop join
    # equi-join on the shingle key (SMJ/SHJ at scale; AQE may broadcast at test SF)
    assert any(j in decon for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"))

    rerank = _plan(qs["ann_int8_rerank"](spark, sf))
    # quantized scan crossJoin is broadcast-bounded by the 5-query side
    assert "CartesianProduct" not in rerank
    assert "BroadcastNestedLoopJoin" in rerank or "BroadcastHashJoin" in rerank


def test_scd2_and_incremental_plan_shapes(spark):
    """scd2 reconstruction: both windows share one (user_id) partitioning —
    exactly one data shuffle. incremental merge: partial-agg union, no
    cartesian, no per-batch rescan joins."""
    import __spark_entry__ as e

    qs = e.queries()
    sf = "/root/testdata/sf0.001"

    scd2 = _plan(qs["scd2_history_events"](spark, sf))
    assert "CartesianProduct" not in scd2
    data_shuffles = scd2.count("Exchange") - scd2.count("BroadcastExchange")
    assert data_shuffles == 1, scd2[:3000]

    inc = _plan(qs["incremental_agg_merge"](spark, sf))
    assert "CartesianProduct" not in inc
    assert "Join" not in inc  # state merge is union+agg, never a join


def test_new_text_ops_plan_shapes(spark):
    """compression: a pure map over the scan (the spread repartition is the
    only exchange, no joins). dup_spans: per-doc windows only (partitioned),
    no cartesian products."""
    import __spark_entry__ as e

    qs = e.queries()
    sf = "/root/testdata/sf0.001"

    comp = _plan(qs["text_compression_ratio"](spark, sf))
    assert "Join" not in comp and "CartesianProduct" not in comp
    assert comp.count("Exchange") - comp.count("BroadcastExchange") <= 1, comp[:2000]

    spans = _plan(qs["text_dup_spans"](spark, sf))
    assert "CartesianProduct" not in spans
    # every window is doc-partitioned: no global (empty-partition) window sort
    import re

    for m in re.finditer(r"Window \[[^\]]*partitionBy=\[\]", spans):
        raise AssertionError(f"unpartitioned window in dup_spans plan: {m.group(0)}")


def test_q2_decorrelation_plan(spark):
    """Q2's correlated-MIN must decorrelate to aggregate-then-equijoin with
    every dim broadcast: no SortMergeJoin at test SF, no CartesianProduct
    ever, and the fact scanned once (the offer aggregate feeds both the
    per-part min and the final lookup from one subtree)."""
    import __spark_entry__ as e

    df = e.queries()["q2_min_cost_supplier"](spark, "/root/testdata/sf0.001")
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("Initial Plan")[0]
    assert "CartesianProduct" not in final
    assert "BroadcastHashJoin" in final
    assert final.count("lineitem.parquet") <= 2  # offer agg reused, not rebuilt per branch


def test_q16_anti_join_and_distinct(spark):
    """Q16's NOT IN must plan as a broadcast anti-join (non-null key), and
    the supplier-diversity count as a single expand+agg, not a join."""
    import __spark_entry__ as e

    df = e.queries()["q16_supplier_diversity"](spark, "/root/testdata/sf0.001")
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("Initial Plan")[0]
    assert "LeftAnti, BuildRight" in final or (
        "LeftAnti" in final and "BroadcastHashJoin" in final
    ), final
    assert "CartesianProduct" not in final


def test_q20_semi_chain_plan(spark):
    """Q20: the qualifying-supplier set must arrive as a LeftSemi, the
    part-prune and dims as broadcasts, and the two pair aggregates must
    share their (partkey, suppkey) key (no Cartesian, no row explosion)."""
    import __spark_entry__ as e

    df = e.queries()["q20_concentrated_supply"](spark, "/root/testdata/sf0.001")
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("Initial Plan")[0]
    assert "LeftSemi" in final
    assert "BroadcastHashJoin" in final
    assert "CartesianProduct" not in final


def test_rag_and_bloom_broadcast_plans(spark):
    """The RAG query vectors and the Bloom bit set are tiny by construction
    — both must enter their joins as broadcasts (a shuffled probe of either
    would drag the big side through an exchange for nothing)."""
    import __spark_entry__ as e

    qs = e.queries()
    for name, marker in [
        ("rag_chunk_retrieval", "BroadcastHashJoin"),
        ("text_bloom_decontaminate", "BroadcastHashJoin"),
    ]:
        df = qs[name](spark, "/root/testdata/sf0.001")
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        final = plan.split("Initial Plan")[0]
        assert marker in final, f"{name}: no broadcast join\n{final}"
        assert "CartesianProduct" not in final, name


def test_dynamic_partition_pruning_fires(spark, tmp_path_factory):
    """Scale evidence: a partitioned fact joined to a selectively-filtered
    dim must get a runtime dynamicpruning partition filter on the fact scan
    (only the dim-surviving partitions are read — the mechanism that turns
    a full-table star-join scan into a few-partition read at 100 TB)."""
    from pyspark.sql import functions as F

    from mta_rtf_dbt_spark.sources.registry import load

    tmp = str(tmp_path_factory.mktemp("dpp"))
    load(spark, "/root/testdata/sf0.001", "events").write.partitionBy(
        "event_type"
    ).parquet(tmp + "/ev")
    fact = spark.read.parquet(tmp + "/ev")
    dim = spark.createDataFrame(
        [("click", 1), ("view", 2)], ["event_type", "w"]
    ).filter(F.col("w") == 1)
    j = fact.join(dim, "event_type").groupBy("event_type").count()
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruningexpression" in plan.lower()
