"""Capture .explain('formatted') for named queries() entries into plans/r12/.

Usage: python tools/capture_plans.py <suffix> <name> [<name> ...]
       python tools/capture_plans.py before graph_triangles dedup_keep_best

Writes plans/r12/<name>_<suffix>.txt. Plans are built (not executed) against
$SPARK_GRAFT_SF_DIR (default sf0.1) on local[$SPARK_GRAFT_CPUS] with the same
session shape as bench.py, so Exchange counts / join strategies / pushed
filters match what the bench executes.
"""

from __future__ import annotations

import os
import sys


def main() -> None:
    suffix = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    out_dir = os.path.join(repo, "plans", "r12")
    os.makedirs(out_dir, exist_ok=True)

    from pyspark.sql import SparkSession

    from mta_rtf_dbt_spark.session import default_parallelism, pin_session

    cpus = str(default_parallelism())

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("capture_plans")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    pin_session(spark)
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    for name in names:
        fn = qs.get(name)
        if fn is None:
            print(f"SKIP {name}: not in queries()")
            continue
        df = fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        n_exch = plan.count("Exchange")
        print(f"WROTE {path}  (Exchange nodes: {n_exch})")


if __name__ == "__main__":
    main()
