"""Structural plan audit over EVERY registry entry — the properties that
decide whether a plan survives 100 TB, asserted mechanically:

1. no CartesianProduct (a non-broadcast cross join is an all-pairs shuffle;
   the labeled brute-force recall baseline and scalar-subquery idioms plan
   as BroadcastNestedLoopJoin, which is allowed — one side is tiny by
   construction). Entries are built with ``autoBroadcastJoinThreshold`` at
   a few KB, where every estimate that grows with the input is over it, as
   at 100 TB: Spark estimates a filter or an aggregate at its input's size,
   so a cross or theta join whose small side is neither hinted nor a
   one-row aggregate shows up here as a CartesianProduct. A plan with a
   CartesianProduct at the default threshold has one at this one too;
2. no BatchEvalPython (row-at-a-time Python UDF in the plan; Arrow-batched
   paths show ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas and are
   allowed).

Plans are BUILT, not executed (executedPlan on the AdaptiveSparkPlan wrapper
is driver-side planning only), so this sweeps all entries in seconds.

A source scan also pins the package's join hints to ``KEPT_HINTS``: Spark's
size-gated planner decides every other join.
"""

from __future__ import annotations

import ast
import os
import re

import pytest

SF = "/root/testdata/sf0.001"
TINY_THRESHOLD = "4096"


def _entries():
    import __spark_entry__ as e

    return sorted(e.queries().items())


@pytest.mark.parametrize("name,fn", _entries(), ids=[n for n, _ in _entries()])
def test_no_cartesian_no_python_rows(spark, name, fn):
    if name.startswith("stream_"):
        pytest.skip("streaming plans are validated in test_streaming")
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, TINY_THRESHOLD)
    try:
        df = fn(spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(key, old)
    assert "CartesianProduct" not in plan, f"{name}: non-broadcast cross join\n{plan}"
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python UDF\n{plan}"


# The join hints left in the package, per file: {what needs them: hints}.
# Spark chooses broadcast or shuffle for every other join from the sizes it
# sees (``spark.sql.autoBroadcastJoinThreshold`` plus AQE). A hint stays
# only where, without it, the named registry entry plans a CartesianProduct
# in the test above, runs a lazy persist's consumers concurrently, or plans
# a different join algorithm or more exchanges; a hint no entry reaches
# names the test that pins its plan. A new hint needs the same evidence.
KEPT_HINTS: dict[str, dict[str, int]] = {
    "operators/dedup.py": {"dedup_ngram_jaccard": 1},
    "operators/graph.py": {"graph_triangles": 3},
    "operators/merge.py": {"mta_stream_fts": 1},
    "operators/scd2.py": {"tests/test_scd2.py::test_scd2_apply_plan_broadcasts_batch": 1},
    "operators/similarity.py": {
        "knn_brute_force_cosine": 1,
        "ann_lsh_cosine": 1,
        "ann_int8_rerank": 1,
        "ann_ivf_cosine": 3,
    },
    "operators/sketches.py": {"a_kmv_setops": 1},
}

_SQL_HINT = re.compile(r"/\*\+[^*]*\b(BROADCAST|BROADCASTJOIN|MAPJOIN)\s*\(", re.I)


def _hint_count(src: str) -> int:
    """``F.broadcast(..)``/``broadcast(..)`` calls, ``.hint(..)`` calls and
    broadcast hints inside SQL string literals."""
    n = 0
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, ast.Call):
            fn = node.func
            if isinstance(fn, ast.Name) and fn.id == "broadcast":
                n += 1
            elif isinstance(fn, ast.Attribute) and (
                fn.attr == "hint" or (fn.attr == "broadcast" and getattr(fn.value, "id", "") == "F")
            ):
                n += 1
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            n += len(_SQL_HINT.findall(node.value))
    return n


def test_join_hints_are_the_kept_ones():
    from mta_rtf_dbt_spark import registry

    root = os.path.dirname(registry.__file__)
    found = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                with open(path) as fh:
                    n = _hint_count(fh.read())
                if n:
                    found[os.path.relpath(path, root)] = n
    assert found == {f: sum(by_entry.values()) for f, by_entry in KEPT_HINTS.items()}
    registry.load_all()
    tests_dir = os.path.dirname(os.path.abspath(__file__))
    for needed_by in {e for by_entry in KEPT_HINTS.values() for e in by_entry}:
        if "::" in needed_by:
            path, name = needed_by.split("::")
            with open(os.path.join(tests_dir, os.path.basename(path))) as fh:
                assert f"def {name}(" in fh.read(), needed_by
        else:
            assert needed_by in registry.QUERIES, needed_by
