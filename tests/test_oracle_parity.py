"""Replicates the driver's t2 correctness gate over every queries() entry that
declares an oracle. Runs at sf0.001 by default for speed; set
ORACLE_PARITY_SF=/root/testdata/sf0.01 to mirror the driver exactly."""

from __future__ import annotations

import os

import pytest

from tests.oracle_harness import compare, register_views

SF_DIR = os.environ.get("ORACLE_PARITY_SF", "/root/testdata/sf0.001")


def _pairs():
    import __spark_entry__ as e

    qs, osql = e.queries(), e.oracle_sql()
    return [(name, fn, osql.get(name)) for name, fn in sorted(qs.items())]


@pytest.mark.parametrize("name,fn,sql", _pairs(), ids=[p[0] for p in _pairs()])
def test_oracle_parity(spark, duck, name, fn, sql):
    register_views(duck, SF_DIR)
    df = fn(spark, SF_DIR)
    if sql is None:
        # rows-only check (driver's weaker path for non-SQL-expressible ops)
        assert df.count() >= 0
        return
    # The driver's pandas canonicalizer cannot hash container-typed result
    # columns (r4: a_array_agg_sorted red on `unhashable type: 'list'`) —
    # every oracle-backed entry must emit scalars only.
    bad = [
        f"{c}:{t}"
        for c, t in df.dtypes
        if t.startswith(("array", "map", "struct"))
    ]
    assert not bad, f"{name}: container-typed result columns {bad}"
    errs = compare(name, df, duck, sql)
    assert not errs, "\n".join(errs)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert len(df.columns) > 0


def _registry_source_scan():
    """(modules defining QUERIES/ORACLE/q, modules importing registry.q),
    read from the package source with no Spark."""
    import re
    from pathlib import Path

    import mta_rtf_dbt_spark

    pkg = Path(mta_rtf_dbt_spark.__file__).parent
    defining, importing = set(), set()
    for path in sorted(pkg.rglob("*.py")):
        module = ".".join(path.relative_to(pkg.parent).with_suffix("").parts)
        src = path.read_text()
        if re.search(r"^(QUERIES|ORACLE)\b\s*[:=]|^\s*def q\(", src, re.M):
            defining.add(module)
        if re.search(r"^from mta_rtf_dbt_spark\.registry import .*\bq\b", src, re.M):
            importing.add(module)
    return defining, importing


def test_registry_consistency():
    """Guard the driver contract: every _PRIORITY name resolves (a typo
    would silently demote an entry to the tail of the driver's check
    budget), every oracle belongs to a query, and the priority prefix is
    emitted first. Guard the one registry: only ``registry.py`` defines
    QUERIES/ORACLE/q, every module that registers entries is listed in
    ``registry.MODULES`` (so ``load_all`` imports it), and a name cannot be
    registered twice."""
    import __spark_entry__ as e
    from mta_rtf_dbt_spark import registry

    qs, osql = e.queries(), e.oracle_sql()
    missing = [n for n in e._PRIORITY if n not in qs]
    assert not missing, f"_PRIORITY names not in registry: {missing}"
    assert set(osql) <= set(qs)
    assert list(qs)[: len(e._PRIORITY)] == e._PRIORITY
    dupes = len(e._PRIORITY) != len(set(e._PRIORITY))
    assert not dupes

    defining, importing = _registry_source_scan()
    assert defining == {"mta_rtf_dbt_spark.registry"}
    assert importing == set(registry.MODULES)

    before = (dict(registry.QUERIES), dict(registry.ORACLE))
    with pytest.raises(ValueError, match="mta_m3"):
        registry.q("mta_m3", "SELECT 1")(lambda spark, sf_dir: None)
    assert (registry.QUERIES, registry.ORACLE) == before


def test_registry_entries_pin_session(spark):
    """A driver entry pins ANSI off and UTC on whatever session it gets:
    the driver's own session is vanilla Spark 4 (ANSI on, local zone)."""
    import __spark_entry__ as e
    from tests.conftest import SF_SMOKE

    keys = ("spark.sql.ansi.enabled", "spark.sql.session.timeZone")
    saved = {k: spark.conf.get(k) for k in keys}
    try:
        spark.conf.set("spark.sql.ansi.enabled", "true")
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        e.queries()["q1_pricing_summary"](spark, SF_SMOKE)
        assert spark.conf.get("spark.sql.ansi.enabled") == "false"
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_entry_build_releases_the_previous_entrys_caches(spark):
    """A cache lives for one entry: after three entries with eager persists
    are built and counted in turn, the cached RDDs the three made are the
    last entry's only. Local checkpoints are not persists (Spark's
    ContextCleaner drops them with their frames) and are not counted."""
    import __spark_entry__ as e
    from tests.conftest import SF_SMOKE

    qs = e.queries()
    sc = spark.sparkContext._jsc.sc()

    def cached_rdds() -> set[int]:
        rdds = spark.sparkContext._jsc.getPersistentRDDs()
        ids = (int(k) for k in rdds.keySet().toArray())
        return {i for i in ids if not rdds.get(i).rdd().isLocallyCheckpointed()}

    start = sc.newRddId()
    for name in ("corpus_curation_funnel", "dedup_keep_best", "graph_pagerank"):
        last_start = sc.newRddId()
        qs[name](spark, SF_SMOKE).count()
    live = {i for i in cached_rdds() if i > start}
    assert live and min(live) > last_start, (sorted(live), last_start)


def test_nested_entry_build_keeps_the_outer_persists(spark, monkeypatch):
    """s6_cdc_diff builds s6_merge_upsert inside its own build. The nested
    build releases nothing: what the outer build persisted before it stays
    cached until the next entry builds."""
    import __spark_entry__ as e
    from pyspark.sql import functions as F

    from mta_rtf_dbt_spark import registry
    from mta_rtf_dbt_spark.operators import merge
    from tests.conftest import SF_SMOKE

    real, made = merge.load, []

    def load(spark, sf_dir, name):
        # a distinct plan per call, so each persist is a cache of its own
        df = real(spark, sf_dir, name).filter(F.lit(len(made)) >= 0)
        made.append(registry.persist(df))
        return made[-1]

    monkeypatch.setattr(merge, "load", load)
    qs = e.queries()
    qs["s6_cdc_diff"](spark, SF_SMOKE)
    assert len(made) == 2
    assert all(df.storageLevel.useMemory for df in made)
    qs["q1_pricing_summary"](spark, SF_SMOKE)
    assert not any(df.storageLevel.useMemory for df in made)
