"""SparkSession factory with pinned semantics.

The reference executes on BigQuery; the semantic pins below make Spark behave
compatibly (SURVEY.md §4 divergence ledger):

- ``spark.sql.session.timeZone=UTC``  — BigQuery TIMESTAMP is UTC; all civil-time
  shifts are explicit ``from_utc_timestamp`` calls (D11).
- ``spark.sql.ansi.enabled=false``    — bad casts yield NULL like BigQuery
  ``SAFE_CAST`` call-sites expect (D1); Spark 4 defaults ANSI on.
- AQE on — runtime broadcast switching + skew-join handling (SURVEY.md §4 table).

``pin_session`` applies the runtime-settable subset to an externally provided
session (the driver harness constructs its own SparkSession), so every query in
``__spark_entry__.queries()`` behaves identically regardless of who built the
session.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession

# Runtime-settable confs every query depends on. Applied defensively by each
# public query entry point because the verify driver owns its own session.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.ansi.enabled": "false",
    # Spark 4 reads zoneless parquet timestamps as TIMESTAMP_NTZ by default;
    # unix_micros()/withWatermark() reject NTZ. The session tz is pinned UTC,
    # so reading them as TimestampType is value-identical to DuckDB (D11).
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Python UDTFs ride Arrow batches (ArrowEvalPythonUDTF) instead of
    # row-at-a-time pickling (BatchEvalPythonUDTF) — caught by the
    # test_plan_hygiene sweep (r5); same policy as the pandas_udf paths.
    "spark.sql.execution.pythonUDTF.arrow.enabled": "true",
}
# spark.sql.join.preferSortMergeJoin=false was benchmarked in r11 (whole
# suite, same host): 58.8 s vs 48.3-52.6 s for the SMJ-preferring default
# on adjacent runs — the per-partition hash-table builds lost to sort-merge
# at this row scale, so the default stays. See OPTIMIZATION_r11.md.

def _derived_max_result(driver_mem: str) -> str:
    """3/4 of the driver heap, floored to 1g (r10 ADVICE): maxResultSize
    equal to spark.driver.memory cannot fire — a near-limit collect OOMs
    the heap before the guard fails loudly. Deriving it keeps the guard
    meaningful at every SPARK_GRAFT_DRIVER_MEM (8g default -> 6g guard;
    24g sf10 runs -> 18g)."""
    import re

    m = re.fullmatch(r"(\d+)([gm])", driver_mem.strip().lower())
    if not m:
        return "6g"
    n, unit = int(m.group(1)), m.group(2)
    mb = n * 1024 if unit == "g" else n
    return f"{max(1024, mb * 3 // 4)}m"


_DRIVER_MEM = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")

# Build-time confs (need to be set before the JVM context exists).
BUILD_CONFS: dict[str, str] = {
    # Local mode runs everything in ONE JVM, so spark.driver.memory IS the
    # executor memory; the 1g default dies on full-registry sf0.1 sweeps
    # (measured: JVM crash ~160 entries in, when caches outlived their
    # entries; now one entry's caches plus not-yet-collected
    # localCheckpoints stay live). Launch-time only: applies to the first
    # session the process builds, which get_spark controls in tests/bench.
    "spark.driver.memory": _DRIVER_MEM,
    # BroadcastExchange collects count against spark.driver.maxResultSize,
    # whose 1g default is sized for accidental .collect()s, not deliberate
    # O(edges) adjacency broadcasts (operators/graph.py:_edge_triangles —
    # ~3 GB serialized at the sf10 rung). Bounded rather than 0/unlimited so
    # a runaway driver-side collect still fails loudly, and derived BELOW
    # the heap so the guard can actually fire before the OOM (r10 ADVICE).
    "spark.driver.maxResultSize": os.environ.get(
        "SPARK_GRAFT_MAX_RESULT", _derived_max_result(_DRIVER_MEM)
    ),
    # Arrow for pandas_udf / mapInPandas hot paths (operators/).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # The engine's one broadcast policy: Spark broadcasts a join side whose
    # size estimate is under this threshold, shuffles the rest, and AQE
    # re-plans each join from the sizes its finished stages report. The
    # package adds no per-join choice of its own beyond the few hints pinned
    # in tests/test_plan_hygiene.py::KEPT_HINTS, each needed by a named
    # entry's plan. 64m applies to sessions get_spark builds; the driver's
    # session keeps Spark's 10m default (tests/test_vanilla_driver.py).
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    "spark.sql.files.maxPartitionBytes": "256m",
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    "spark.sql.parquet.compression.codec": "snappy",
}


def default_parallelism() -> int:
    """``$SPARK_GRAFT_CPUS``, else the cores this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


# Spark application ids the package was shipped to. Not ``id(spark)``: the
# set holds no session, so a stopped and collected session's id can be
# reused by a new session whose new context never got the file.
_SHIPPED_SESSIONS: set[str] = set()


def _ship_package(spark: SparkSession) -> None:
    """Make ``mta_rtf_dbt_spark`` importable on executor Python workers.

    Pandas-UDF / applyInPandasWithState functions defined in this package are
    cloudpickled *by reference* — workers must import the module. The driver
    harness runs from an arbitrary cwd, so zip the package and ``addPyFile``
    it (the same mechanism as ``spark-submit --py-files`` on a real cluster).
    Once per SparkContext.
    """
    try:
        app_id = spark.sparkContext.applicationId
    except Exception:
        return  # e.g. Spark Connect: no addPyFile — imports must come from env
    if app_id in _SHIPPED_SESSIONS:
        return
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_path = os.path.join(
        tempfile.gettempdir(), "mta_rtf_dbt_spark_pyfiles.zip"
    )
    src_mtime = max(
        (
            os.path.getmtime(os.path.join(root, f))
            for root, _dirs, files in os.walk(pkg_dir)
            for f in files
            if f.endswith(".py")
        ),
        default=0.0,
    )
    if not os.path.exists(zip_path) or os.path.getmtime(zip_path) < src_mtime:
        tmp = zip_path + ".tmp"
        with zipfile.ZipFile(tmp, "w") as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(root, f)
                        rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                        zf.write(full, rel)
        os.replace(tmp, zip_path)
    try:
        spark.sparkContext.addPyFile(zip_path)
    except Exception:
        pass
    _SHIPPED_SESSIONS.add(app_id)


def pin_session(spark: SparkSession) -> SparkSession:
    """Apply runtime semantic pins to an existing session (idempotent)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf not settable in this deployment — keep going
    # Right-size shuffle width to the machine: AQE coalesces batch shuffles
    # anyway, but streaming state partitioning is fixed at spark.sql.shuffle.
    # partitions on first batch — 200 state stores on a 32-core local box is
    # pure setup overhead. Only touch the Spark default; respect an explicit
    # operator choice.
    try:
        if spark.conf.get("spark.sql.shuffle.partitions") == "200":
            spark.conf.set("spark.sql.shuffle.partitions", str(default_parallelism()))
    except Exception:
        pass
    _ship_package(spark)
    return spark


def get_spark(
    app_name: str = "mta-rtf-dbt-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``shuffle_partitions`` defaults to the local core count — right-sized for
    local[32] test runs; a cluster deployment passes ~2-3x total cores (AQE
    coalesces the excess).
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
    )
    for k, v in {**BUILD_CONFS, **RUNTIME_CONFS}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return pin_session(spark)


def frame_sql(text: str, args: dict | None = None, **frames: DataFrame) -> DataFrame:
    """``spark.sql(text, args, **frames)`` on the first frame's session: each
    ``{name}`` in ``text`` names the frame passed as ``name`` (literal braces
    doubled, as for ``str.format``) and ``args`` bind ``:name`` markers.

    Two defects of PySpark's own ``{name}`` frame arguments make this a
    helper. PySpark drops each frame's temporary view with
    ``catalog.dropTempView``, which also uncaches every cached plan equal
    to the view's, so a persisted model passed in would silently lose its
    cache. And it registers a frame in the frame's own session, so frames
    of two sessions (a ``foreachBatch`` micro-batch and static sources)
    cannot meet in one query. Here each frame is a global temporary view,
    visible from every session of the application, dropped from the
    session catalog directly once the query is analyzed (the returned
    DataFrame holds the resolved plans, not the names).
    """
    session = next(iter(frames.values())).sparkSession
    catalog = session._jsparkSession.sessionState().catalog()
    names: dict[str, str] = {}
    try:
        for key, df in frames.items():
            names[key] = f"_{key}_{uuid.uuid4().hex}"
            df.createOrReplaceGlobalTempView(names[key])
        db = catalog.globalTempDatabase()
        return session.sql(text.format(**{k: f"{db}.{n}" for k, n in names.items()}), args)
    finally:
        for name in names.values():
            catalog.dropGlobalTempView(name)
