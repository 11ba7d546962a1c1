"""Driver parity under a vanilla Spark 4 session.

The driver harness that consumes ``__spark_entry__`` builds its own
SparkSession with Spark's defaults (ANSI on, 200 shuffle partitions, the
host's time zone, none of ``session.BUILD_CONFS``), runs from a directory
outside the repo, and checks ``queries()[name](spark, sf_dir)`` against
``oracle_sql()[name]`` in DuckDB.
The test session hides a missing pin or a plan that only works under the
engine's own confs, so this test runs the driver's way: a subprocess with a
fresh JVM (static confs cannot differ inside one process) collects each
entry, and the test compares columns, row count and the order-insensitive
rows with DuckDB through ``oracle_harness.compare``, as
``test_oracle_parity`` does.

The JVM starts in a New York time zone, so a session left unpinned reads
and truncates timestamps in local time; the subprocess's Python converts
collected timestamps in UTC, as the test session's does.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from types import SimpleNamespace

from tests.conftest import SF_CORRECT
from tests.oracle_harness import compare, register_views

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Besides the 20 mta_* entries: the streaming and session-window entries,
# and two TPC-H entries whose decorrelated subqueries the planner broadcasts
# or shuffles depending on the session's threshold.
EXTRA = ["stream_static_enrich", "sessionize_batch", "q2_min_cost_supplier", "q11_important_stock"]

_DRIVER = """
import json, os, sys, time
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
from tests.oracle_harness import _norm

spark = SparkSession.builder.master("local[2]").config("spark.ui.enabled", "false").getOrCreate()
spark.sparkContext.setLogLevel("ERROR")
assert spark.conf.get("spark.sql.session.timeZone") == "America/New_York"
os.environ["TZ"] = "UTC"
time.tzset()
import __spark_entry__ as e

out = {{"entry": len(e.entry(spark).collect())}}
qs = e.queries()
for name in {names!r}:
    df = qs[name](spark, {sf!r})
    out[name] = [df.columns, [[_norm(v) for v in r] for r in df.collect()]]
print(json.dumps(out))
"""


def test_entries_match_duckdb_under_a_vanilla_session(duck, tmp_path):
    import __spark_entry__ as e

    oracles = e.oracle_sql()
    names = [n for n in oracles if n.startswith("mta_")] + EXTRA
    assert len(names) == 24 and set(names) <= set(oracles)

    proc = subprocess.run(
        [sys.executable, "-c", _DRIVER.format(repo=REPO, names=names, sf=SF_CORRECT)],
        cwd=tmp_path,
        env={**os.environ, "TZ": "America/New_York"},
        capture_output=True,
        text=True,
        timeout=1200,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert got.pop("entry") > 0

    register_views(duck, SF_CORRECT)
    errs = []
    for name in names:
        cols, rows = got[name]
        df = SimpleNamespace(columns=cols, collect=lambda rows=rows: rows)
        errs += compare(name, df, duck, oracles[name])
    assert not errs, "\n".join(errs)
