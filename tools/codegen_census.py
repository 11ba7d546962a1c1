"""Codegen census of one perfbench workload: for each refresh and each
cookbook query, the generated classes Spark compiled (misses in its codegen
cache), Janino's compile milliseconds and the operation's wall seconds.

Run from the repository root:

    python3 tools/codegen_census.py --workload mta-refresh --seed 1 --rounds 3

The run is perfbench's (``perfbench/run.py``): the same session, feed,
warm-up refreshes (round ``setup``) and rounds of refreshes spread through a
cookbook pass, without the oracle check. Prints one tab-separated line per
operation, then one JSON line with the per-round totals.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "perfbench"))

import run  # noqa: E402  perfbench/run.py
from spans import Tracer  # noqa: E402

from mta_rtf_dbt_spark.session import codegen_compiles  # noqa: E402


class Census(Tracer):
    """A disabled tracer whose root spans (one per refresh or query) record
    what that operation compiled, in ``rows``."""

    def __init__(self, spark):
        super().__init__(spark.sparkContext, False)
        self.spark = spark
        self.rows: list[dict] = []

    @contextlib.contextmanager
    def root(self, name: str):
        gen = self.spark._jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        if name == "refresh":
            done = sum(r["op"].startswith("refresh") for r in self.rows if r["round"] == self.round)
            name = f"refresh{done}"
        classes, nanos, t0 = codegen_compiles(self.spark), gen.compileTime(), time.perf_counter()
        try:
            yield
        finally:
            self.rows.append(dict(
                round=self.round, op=name.removeprefix("query."),
                classes=codegen_compiles(self.spark) - classes,
                janino_ms=round((gen.compileTime() - nanos) / 1e6, 1),
                wall_s=round(time.perf_counter() - t0, 3)))


def census(workload: str, seed: int, rounds: int) -> list[dict]:
    wl = run.WORKLOADS[workload]
    run.isolate()
    feed = run.ensure_feed(seed, wl.n_trips)
    out = run.WORK / "out" / f"census-{workload}-{os.getpid()}"
    spark = run.start_spark(len(os.sched_getaffinity(0)))
    try:
        tr = Census(spark)
        tr.round = "setup"
        for _ in range(wl.warmups):
            run.refresh(tr, spark, wl, feed, out)
        for k in range(rounds):
            tr.round = k
            errors = run.run_round(tr, spark, wl, feed, out)["errors"]
            if errors:
                raise RuntimeError(f"round {k} failed: {errors}")
        return tr.rows
    finally:
        run.stop_spark(spark)
        shutil.rmtree(out, ignore_errors=True)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(run.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rounds", type=int, default=3)
    args = ap.parse_args()
    rows = census(args.workload, args.seed, args.rounds)
    print("round\top\tclasses\tjanino_ms\twall_s")
    totals: dict[str, dict] = {}
    for r in rows:
        print(f"{r['round']}\t{r['op']}\t{r['classes']}\t{r['janino_ms']}\t{r['wall_s']}")
        t = totals.setdefault(str(r["round"]), dict(classes=0, janino_ms=0.0))
        t["classes"] += r["classes"]
        t["janino_ms"] = round(t["janino_ms"] + r["janino_ms"], 1)
    print(json.dumps(dict(workload=args.workload, seed=args.seed, rounds=totals)))


if __name__ == "__main__":
    main()
