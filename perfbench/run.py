"""The repository benchmark: the reference's dbt workload on this engine,
timed end to end and, in a traced run, layer by layer.

Run from the repository root:

    python3 perfbench/run.py --workload mta-views --seed 1 --seconds 30 --trace 0

Workloads (one client, closed loop: each operation starts when the previous
one has returned):

- ``mta-views``: dbt models materialized as views over a ~1k-trip feed. The
  refresh registers the 4 models as views; each of the 12 cookbook queries
  (``metrics.guide`` M1-M12) then resolves its 12 sources, builds the model
  chain and the metric, plans and executes, as a query over views does.
- ``mta-refresh``: models materialized as tables over a ~3k-trip feed. The
  refresh loads the feed, builds the models and writes all 4 as parquet;
  each cookbook query then reads the tables and sources it needs.

A run generates (or reuses) the feed for ``--seed`` in a child process,
then sets up once: a fresh JVM and SparkSession on ``local[nproc]``,
``pin_session`` with its package ship, and warm-up refreshes. It then
measures rounds of one cookbook pass with the workload's refreshes spread
through it, while the next round still fits in ``--seconds`` (always at
least one). Outputs are checked against the DuckDB oracle after each round,
outside the timed region. ``peak_rss_mb`` adds the driver JVM's peak
resident memory over the run to this process's peak before the oracle is
loaded into it.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the rounds
with a span around every layer call (``spans.py``) and prints the per-layer
metrics instead. Every file the run writes stays under ``.perfbench_work/``.
The last stdout line is the result as one JSON object; the line before it
carries the host provenance and sample counts; the full record, with the
spans of a traced run, goes to a ledger file named on that line.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from dataclasses import asdict, dataclass
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"
sys.path.insert(0, str(ROOT))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402

from mta_rtf_dbt_spark.metrics import guide  # noqa: E402
from mta_rtf_dbt_spark.plans.mta_models import build_all, materialize  # noqa: E402
from mta_rtf_dbt_spark.plans.mta_oracle import DAY, END, START, STOP_A, STOP_B  # noqa: E402
from mta_rtf_dbt_spark.session import BUILD_CONFS, RUNTIME_CONFS, pin_session  # noqa: E402
from mta_rtf_dbt_spark.sources.registry import load  # noqa: E402

from feed import TABLES  # noqa: E402
from spans import Tracer, median_metrics, round_metrics  # noqa: E402


@dataclass(frozen=True)
class Workload:
    n_trips: int
    materialized: str  # "view" or "table"
    warmups: int  # refreshes in set-up, before any is measured
    refreshes: int  # per round; refresh_s is their median over all rounds


WORKLOADS = {
    "mta-views": Workload(1_000, "view", warmups=2, refreshes=4),
    "mta-refresh": Workload(3_000, "table", warmups=1, refreshes=2),
}
OP_TIMEOUT_S = 60.0
DRIVER_MEMORY = "2g"


@dataclass(frozen=True)
class Query:
    name: str
    fn: object  # (models, sources) -> DataFrame
    models: tuple[str, ...] = ("fact_trips_stops",)
    sources: tuple[str, ...] = ()


TIMETABLE = ("stop_times", "trips")
SCHEDULE = ("stop_times", "trips", "calendar")
COOKBOOK = [
    Query("m1", lambda m, s: guide.m1_trips_per_minute(m, START, END)),
    Query("m2", lambda m, s: guide.m2_trips_per_5min(m, START, END)),
    Query("m3", lambda m, s: guide.m3_service_delivered(m, s, DAY), sources=SCHEDULE),
    Query("m4", lambda m, s: guide.m4_terminal_otp(m, s, DAY), sources=SCHEDULE),
    Query("m5", lambda m, s: guide.m5_headways(m, STOP_A, DAY)),
    Query("m6", lambda m, s: guide.m6_dwell_times(m)),
    Query("m7", lambda m, s: guide.m7_run_time(m, STOP_A, STOP_B)),
    Query("m8", lambda m, s: guide.m8_excess_delay(m, s, DAY, STOP_A), sources=TIMETABLE),
    Query("m9", lambda m, s: guide.m9_completeness(m)),
    Query("m10", lambda m, s: guide.m10_added_canceled_share(m), models=("fact_trips",)),
    Query("m11", lambda m, s: guide.m11_feed_latency(m), models=("fact_trips",)),
    Query("m12", lambda m, s: guide.m12_wait_assessment(m, s, STOP_A, DAY), sources=TIMETABLE),
]

END_TO_END_UNITS = {
    "setup_s": "s",
    "refresh_s": "s",
    "cookbook_s": "s",
    "query_p50_s": "s",
    "peak_rss_mb": "MB",
    "ok_rate": "frac",
}


def isolate() -> None:
    """Point every temporary directory the run uses into the work dir."""
    for d in ("tmp", "spark-local", "duckdb", "feeds", "out", "ledger"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    # no /tmp/hsperfdata_* files from the launcher or the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    tempfile.tempdir = None


def ensure_feed(seed: int, n_trips: int) -> Path:
    """The generated feed for (seed, n_trips), cached under the work dir.
    It is generated in a child process so the generator's memory stays out
    of this process's peak RSS."""
    d = WORK / "feeds" / f"{n_trips}-{seed}"
    if not (d / "DONE").exists():
        tmp = d.with_name(f"{d.name}.tmp{os.getpid()}")
        shutil.rmtree(tmp, ignore_errors=True)
        subprocess.run(
            [sys.executable, str(HERE / "feed.py"), str(tmp), str(seed), str(n_trips)],
            check=True, stdout=subprocess.DEVNULL,
        )
        (tmp / "DONE").write_text("")
        shutil.rmtree(d, ignore_errors=True)
        os.replace(tmp, d)
    return d


def start_spark(cores: int) -> SparkSession:
    confs = {
        **BUILD_CONFS,
        **RUNTIME_CONFS,
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.maxResultSize": "2g",
        # A fixed-size heap and young generation keep the driver's peak RSS
        # from following the collector's timing-driven resizing.
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData -XX:+UseParallelGC"
            f" -XX:-UseAdaptiveSizePolicy -Xms{DRIVER_MEMORY} -Xmn512m"),
        "spark.local.dir": str(WORK / "spark-local"),
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        "spark.sql.shuffle.partitions": str(cores),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        # the status store keeps this many jobs/stages for the traced run
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }
    builder = SparkSession.builder.master(f"local[{cores}]").appName("perfbench")
    for k, v in confs.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return pin_session(spark)


def stop_spark(spark: SparkSession) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits on EOF of its stdin
        gateway.proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def peak_rss_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def cpu_times() -> list[int]:
    """The host's aggregate CPU counters (user ... steal) from /proc/stat."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def steal_frac(start: list[int], end: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between."""
    d = [b - a for a, b in zip(start, end)]
    return d[7] / max(1, sum(d))


def jvm_peak_rss_mb(spark: SparkSession) -> float:
    return peak_rss_mb(spark._jvm.java.lang.ProcessHandle.current().pid())


def refresh(tr: Tracer, spark: SparkSession, wl: Workload, feed: Path, out: Path) -> None:
    """dbt run: load the sources, build the model DAG, materialize each model
    as a view or a parquet table."""
    with tr.root("refresh"):
        src = {t: tr.call("sources.load", load, spark, str(feed), t) for t in TABLES}
        models = tr.call("plans.build", build_all, spark, src, False)
        for name, df in models.items():
            if wl.materialized == "view":
                tr.call("write.materialize", df.createOrReplaceTempView, name)
            else:
                tr.call("write.materialize", materialize, df, str(out / f"{name}.parquet"))


def _executed_plan(df: DataFrame) -> None:
    df._jdf.queryExecution().executedPlan()


def query(tr: Tracer, spark: SparkSession, wl: Workload, q: Query, feed: Path, out: Path):
    """One cookbook query, from source resolution to the fetched result."""
    with tr.root(f"query.{q.name}"):
        if wl.materialized == "view":
            src = {t: tr.call("sources.load", load, spark, str(feed), t) for t in TABLES}
            models = tr.call("plans.build", build_all, spark, src, False)
        else:
            src = {t: tr.call("sources.load", load, spark, str(feed), t) for t in q.sources}
            models = {m: tr.call("sources.load", load, spark, str(out), m) for m in q.models}
        df = tr.call("metrics.build", q.fn, models, src)
        tr.call("catalyst.plan", _executed_plan, df)
        return tr.call("exec.action", DataFrame.toArrow, df)


def timed(errors: dict[str, str], op: str, fn) -> tuple[float, object]:
    """Run one operation; an exception or overrun is recorded against it."""
    t0 = time.perf_counter()
    try:
        out = fn()
    except Exception as e:  # a failed operation is counted, not fatal
        out = None
        errors[op] = f"{type(e).__name__}: {str(e)[:300]}"
    dt = time.perf_counter() - t0
    if dt > OP_TIMEOUT_S:
        errors.setdefault(op, f"timed out after {dt:.1f} s")
    return dt, out


def run_round(tr: Tracer, spark: SparkSession, wl: Workload, feed: Path, out: Path) -> dict:
    """One cookbook pass, split into ``wl.refreshes`` slices with a refresh
    before each. Spread over the round, the refresh samples do not all fall
    into one burst of load from other guests on the host, which moves a
    view refresh by up to 60 %. ``cookbook_s`` is the pass's query time,
    refreshes excluded."""
    errors: dict[str, str] = {}
    refreshes, queries, results = [], {}, {}
    per = -(-len(COOKBOOK) // wl.refreshes)
    for k in range(wl.refreshes):
        refreshes.append(
            timed(errors, f"refresh{k}", lambda: refresh(tr, spark, wl, feed, out))[0])
        for q in COOKBOOK[k * per:(k + 1) * per]:
            queries[q.name], results[q.name] = timed(
                errors, q.name, lambda q=q: query(tr, spark, wl, q, feed, out))
    return dict(refreshes=refreshes, cookbook_s=sum(queries.values()), queries=queries,
                results=results, errors=errors)


def round_wall(rec: dict) -> float:
    return sum(rec["refreshes"]) + rec["cookbook_s"]


def check_round(rec: dict, spark: SparkSession, wl: Workload, oracle, out: Path) -> None:
    """Compare the round's models and query results with the oracle; a
    mismatch is recorded as the operation's error."""
    errors = rec["errors"]
    last = f"refresh{len(rec['refreshes']) - 1}"
    if last not in errors:
        for m, want in oracle.models.items():
            if wl.materialized == "view":
                got = oracle.of_arrow(spark.table(m).toArrow())
            else:
                got = oracle.of_parquet(str(out / f"{m}.parquet"))
            if got != want:
                errors[last] = f"{m}: digest {got} != oracle {want}"
                break
    for name, table in rec.pop("results").items():
        if table is not None and name not in errors:
            got = oracle.of_arrow(table)
            if got != oracle.metrics[name]:
                errors[name] = f"digest {got} != oracle {oracle.metrics[name]}"


def written_files(out: Path) -> int:
    return sum(1 for p in out.rglob("*.parquet") if p.is_file())


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    from oracle import Oracle

    wl = WORKLOADS[workload]
    cores = len(os.sched_getaffinity(0))
    load_start, cpu_start = os.getloadavg(), cpu_times()
    isolate()
    feed = ensure_feed(seed, wl.n_trips)
    out = WORK / "out" / f"{workload}-{os.getpid()}"

    t0 = time.perf_counter()
    spark = start_spark(cores)
    oracle = None
    rounds: list[dict] = []
    measured = 0.0
    try:
        # Warm-up: refreshes of the measured feed. The first pays for reading
        # the feed into the file cache; all of them compile the source loads
        # and the model build, which every later refresh and every query over
        # views repeat. On mta-views at 4 vCPUs the refreshes of a session
        # take 6 s, 2.1 s, then 1.4-1.6 s. The metrics stay cold, as they
        # are in a dbt invocation, which starts its own session.
        for _ in range(wl.warmups):
            refresh(Tracer(spark.sparkContext, False), spark, wl, feed, out)
        setup_s = time.perf_counter() - t0
        tr = Tracer(spark.sparkContext, trace)
        while True:
            tr.round = len(rounds)
            overhead0 = tr.overhead_s
            rec = run_round(tr, spark, wl, feed, out)
            rec["trace_overhead_s"] = tr.overhead_s - overhead0
            if not rounds:  # before the oracle adds to this process
                python_rss = peak_rss_mb()
                oracle = Oracle(str(feed), TABLES, cores, str(WORK / "duckdb"))
            rec["written_files"] = written_files(out)
            check_round(rec, spark, wl, oracle, out)
            rounds.append(rec)
            wall = round_wall(rec)
            measured += wall
            if measured + wall > seconds:
                break
        memory = dict(jvm=jvm_peak_rss_mb(spark), python=python_rss)
        if trace:
            tr.collect()
        provenance = dict(
            workload=workload, seed=seed, n_trips=wl.n_trips, nproc=cores,
            default_parallelism=spark.sparkContext.defaultParallelism,
            shuffle_partitions=int(spark.conf.get("spark.sql.shuffle.partitions")),
            spark=spark.version, python=platform.python_version(),
            loadavg_start=list(load_start), loadavg_end=list(os.getloadavg()),
            steal_frac=steal_frac(cpu_start, cpu_times()),
            peak_rss_mb=memory, rounds=len(rounds),
            query_samples=sum(len(r["queries"]) for r in rounds),
        )
    finally:
        if oracle is not None:
            oracle.close()
        stop_spark(spark)
        shutil.rmtree(out, ignore_errors=True)

    attempted = sum(len(r["refreshes"]) + len(r["queries"]) for r in rounds)
    failed = sum(len(r["errors"]) for r in rounds)
    if trace:
        per_round = []
        for k, rec in enumerate(rounds):
            m = round_metrics([s for s in tr.spans if s.round == k], cores)
            m["write.files"] = rec["written_files"]
            m["trace.overhead_s"] = rec["trace_overhead_s"]
            m["trace.overhead_frac"] = rec["trace_overhead_s"] / round_wall(rec)
            per_round.append(m)
        metrics = {k: (v, _layer_unit(k)) for k, v in median_metrics(per_round).items()}
    else:
        samples = [t for r in rounds for t in r["queries"].values()]
        metrics = {
            "setup_s": setup_s,
            "refresh_s": statistics.median(t for r in rounds for t in r["refreshes"]),
            "cookbook_s": statistics.median(r["cookbook_s"] for r in rounds),
            "query_p50_s": statistics.median(samples),
            "peak_rss_mb": memory["jvm"] + memory["python"],
            "ok_rate": 1 - failed / attempted,
        }
        metrics = {k: (v, END_TO_END_UNITS[k]) for k, v in metrics.items()}

    path = WORK / "ledger" / f"{workload}-seed{seed}-trace{int(trace)}.json"
    path.write_text(json.dumps(dict(
        provenance=provenance, setup_s=setup_s, metrics=metrics,
        rounds=rounds,
        spans=[asdict(s) for s in tr.spans],
    ), indent=1))
    return dict(provenance=provenance, ledger=str(path.relative_to(ROOT)),
                errors=[e for r in rounds for e in r["errors"].items()],
                attempted=attempted, failed=failed, metrics=metrics)


def _layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith(("_frac", "share_of_cookbook", "share_of_refresh")):
        return "frac"
    return "count"


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    res = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(dict(provenance=res["provenance"], ledger=res["ledger"],
                          errors=res["errors"])))
    print(json.dumps(dict(
        correct=res["failed"] == 0,
        attempted=res["attempted"],
        failed=res["failed"],
        metrics={k: {"value": v, "unit": u} for k, (v, u) in res["metrics"].items()},
    )))


if __name__ == "__main__":
    main()
