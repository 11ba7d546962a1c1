"""Tracing: spans cover a query's wall time, and the job-group filter puts
each job under the layer call that fired it."""

import run
from spans import Tracer


def test_view_query_spans_cover_its_wall_time(spark):
    feed_dir = run.ensure_feed(3, 300)
    tr = Tracer(spark.sparkContext, True)
    run.query(tr, spark, run.WORKLOADS["mta-views"], run.COOKBOOK[0], feed_dir, None)
    root, kids = tr.spans[0], tr.spans[1:]
    assert root.parent is None and all(s.parent == root.id for s in kids)
    assert {s.name for s in kids} == {
        "sources.load", "plans.build", "metrics.build", "catalyst.plan", "exec.action"}
    assert sum(s.dur for s in kids) >= 0.95 * root.dur


def test_job_group_puts_schema_inference_jobs_under_sources_load(spark):
    feed_dir = run.ensure_feed(3, 300)
    tr = Tracer(spark.sparkContext, True)
    with tr.root("query.sweep"):
        for t in run.TABLES:
            tr.call("sources.load", run.load, spark, str(feed_dir), t)
    spark.range(10).count()  # no job group: attributed to no span
    tr.collect()
    loads = [s for s in tr.spans if s.name == "sources.load"]
    assert len(loads) == 12
    assert [len(s.jobs) for s in loads] == [1] * 12
    assert tr.spans[0].jobs == []
