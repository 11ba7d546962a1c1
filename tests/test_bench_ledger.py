"""bench.py's ledger: each timed rep runs its build and its terminal count as
two traced spans, and every job Spark records under the tracer's job groups
lands in exactly one entry's ledger record, eager build jobs apart from the
action's; the generated classes each rep compiled are counted with them."""

from __future__ import annotations

import random

import pytest

import bench
from tests.conftest import SF_SMOKE

# two entries that fire jobs while their plan is built (eager persists, loop
# checkpoints) and one whose build runs none
EAGER = ("corpus_curation_pipeline", "graph_pagerank")
LAZY = "mta_fact_trips_stops"


@pytest.fixture(scope="module")
def traced(spark):
    import __spark_entry__ as e

    qs = e.queries()
    tr = bench.Tracer(spark)
    for name in (*EAGER, LAZY):
        bench.traced_rep(tr, name, qs[name], spark, SF_SMOKE)
    tr.collect()
    return tr, bench.ledger(tr)


def test_build_jobs_are_split_from_the_action(traced):
    _, led = traced
    assert sorted(led) == sorted((*EAGER, LAZY))
    assert all(len(reps) == 1 for reps in led.values())
    for name in EAGER:
        assert led[name][0]["jobs_in_build"] > 0, name
    assert led[LAZY][0]["jobs_in_build"] == 0
    for name, (rep,) in led.items():
        assert rep["jobs"] - rep["jobs_in_build"] >= 1, name
        assert rep["stages"] >= 1 and rep["tasks"] >= 1, name


def test_ledger_holds_every_store_job_once(traced, spark):
    tr, led = traced
    seq = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    groups = [seq.apply(i).jobGroup() for i in range(seq.size())]
    in_store = sum(
        1 for g in groups if not g.isEmpty() and g.get().startswith(tr.group_prefix)
    )
    assert in_store > 0
    assert sum(rep["jobs"] for reps in led.values() for rep in reps) == in_store


def test_rep_counts_do_not_depend_on_the_entry_before(spark):
    """A rep measures its entry alone: traced after the funnel, whose
    persists cover part of its plan, the pipeline fires the build jobs it
    fires when traced first (a funnel cache left live cut them from 23 to
    14). Only build jobs are compared: the action's job count moves by two
    from run to run with AQE's choice of broadcast side. (Last in the
    module: the fixture's tracer stays alive, so the two tracers' job-group
    prefixes differ.)"""
    import __spark_entry__ as e

    qs = e.queries()
    tr = bench.Tracer(spark)
    pipeline, funnel = "corpus_curation_pipeline", "corpus_curation_funnel"
    for name in (pipeline, funnel, pipeline, pipeline):
        bench.traced_rep(tr, name, qs[name], spark, SF_SMOKE)
    tr.collect()
    counts = [r["jobs_in_build"] for r in bench.ledger(tr)[pipeline]]
    assert counts == [counts[0]] * 3, counts


def test_codegen_classes_count_cache_misses(spark):
    """``codegen_classes`` counts the classes a rep compiled, which Spark
    does only on a miss in its codegen cache: a plan holding a literal no
    plan held before compiles at least one class, and the same plan run
    again right after compiles none. The literal is a long: Spark writes
    numeric literals into the generated source but passes a string literal
    to the class by reference, so a new string alone compiles nothing."""
    from pyspark.sql import functions as F

    never_seen = random.getrandbits(62)

    def plan(spark, sf_dir):
        return spark.range(100).filter(F.col("id") * 3 != F.lit(never_seen))

    tr = bench.Tracer(spark)
    for _ in range(2):
        bench.traced_rep(tr, "never_seen", plan, spark, SF_SMOKE)
    first, second = (r["codegen_classes"] for r in bench.ledger(tr)["never_seen"])
    assert first >= 1
    assert second == 0
