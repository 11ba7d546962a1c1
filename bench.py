"""Benchmark harness: run the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "cpus": ..., "default_parallelism": ...,
"sf": ...}.

Headliners cover each operator family at its most shuffle-heavy: the TPC-H-ish
pricing summary, fact-fact join+agg, the window-dedup + lag pipeline, the
percentile agg, plus the scale-path LLM ops (MinHash-LSH dedup, LSH ANN).
Each query is timed to a terminal action (count) after a warm-up of the
shared inputs' file listing; results are forced, and no cache outlives the
entry that made it (``registry.q``), so every rep measures its entry alone.
Per-entry numbers are the MEDIAN OF 3 independent reps (r5 verdict: the
shared host's co-tenant load inflates single-shot timings ±30%, so one
sample can't adjudicate a perf target); all raw reps ship in
``queries_runs`` beside the medians. ``$SPARK_GRAFT_CPUS`` defaults to the
cores this process may run on.

Attribution comes from Spark's own record of the jobs each rep ran. Every
timed rep runs its build and its terminal count as two spans of
``perfbench.spans.Tracer``, each under its own job group; after the reps one
``collect`` reads the status store (kept with the UI off) and
``bench_detail.json["ledger"]`` gets, per entry and per rep, the build and
action seconds, jobs fired during the build (eager persists, probes, loop
checkpoints) and in all, stages, tasks, executor run/CPU/GC seconds, and
shuffle read/write and spill bytes. The warm-up pass and the two streaming
sinks are not traced.
"""

from __future__ import annotations

import json
import os
import sys
import time


def traced_rep(tr, name: str, fn, spark, sf_dir: str) -> float:
    """One timed rep of a headline entry: the build and the terminal count
    run as the ``build`` and ``action`` spans under a root span ``name``, so
    the jobs fired while the plan is built are told apart from the action's.
    Returns the rep's wall seconds."""
    t0 = time.monotonic()
    with tr.root(name):
        df = tr.call("build", fn, spark, sf_dir)
        tr.call("action", df.count)
    return round(time.monotonic() - t0, 3)


def ledger(tr) -> dict[str, list[dict]]:
    """Per entry, one record per traced rep in rep order, from the spans of
    ``tr`` after ``tr.collect()``."""
    layers: dict[int, dict] = {}
    for s in tr.spans:
        if s.parent is not None:
            layers.setdefault(s.parent, {})[s.name] = s
    out: dict[str, list[dict]] = {}
    for root in (s for s in tr.spans if s.parent is None):
        build, action = layers[root.id]["build"], layers[root.id]["action"]
        jobs = build.jobs + action.jobs

        def total(key: str) -> int:
            return sum(j[key] for j in jobs)

        out.setdefault(root.name, []).append({
            "build_s": round(build.dur, 3),
            "action_s": round(action.dur, 3),
            "jobs_in_build": len(build.jobs),
            "jobs": len(jobs),
            "stages": total("stages"),
            "tasks": total("tasks"),
            "run_s": round(total("run_ms") / 1e3, 3),
            "cpu_s": round(total("cpu_ns") / 1e9, 3),
            "gc_s": round(total("gc_ms") / 1e3, 3),
            "shuffle_read_bytes": total("shuffle_read_bytes"),
            "shuffle_write_bytes": total("shuffle_write_bytes"),
            "spill_bytes": total("spill_bytes"),
        })
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")

    # Host-load provenance (r7 verdict item 3): the r7 artifact was ~20 %
    # uniformly inflated by co-tenant load and only cross-referencing r6 raw
    # samples proved contention rather than regression. Record 1/5/15-min
    # loadavg at start and end plus wall timestamps so inflation is
    # attributable from the artifact alone.
    load_start = list(os.getloadavg())
    t_wall_start = time.time()

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from pyspark.sql import SparkSession

    from mta_rtf_dbt_spark.session import default_parallelism, pin_session
    from perfbench.spans import Tracer

    cpus = str(default_parallelism())

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("bench")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config(
            "spark.driver.maxResultSize",
            os.environ.get("SPARK_GRAFT_MAX_RESULT", "8g"),
        )
        .config("spark.ui.enabled", "false")
        # the status store must keep every traced job and stage until the
        # ledger is collected: warm-up plus 3 reps fire ~1 600 jobs at sf0.1,
        # past the default of 1 000, which would drop rep 1 silently
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .getOrCreate()
    )
    pin_session(spark)
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()

    headline = [
        "q1_pricing_summary",      # wide agg scan
        "q3_shipping_priority",    # 3-way join + top-k
        "q5_local_supplier_volume",  # 6-way snowflake, broadcast dims
        "q18_large_volume_customer",  # semi-join on pre-aggregated child
        "j1_inner_join_agg",       # fact-fact shuffle join
        "j2_left_broadcast_dims",  # broadcast star join
        "j6_banded_range_join",    # equi + range residual
        "j_asof_latest_order",     # as-of union-sort-fill
        "a5_argmin_argmax",        # min_by/max_by rollup
        "a9_percentiles",          # percentile agg
        "w2_dedup_latest_per_user",  # window dedup (QUALIFY analogue)
        "w3_lag_headway",          # partitioned lag
        "m5_analog_headways",      # full metric pipeline
        "dedup_exact",             # content-hash groupBy
        "dedup_minhash_lsh",       # signature + band join + verify
        "ann_lsh_cosine",          # LSH ANN top-k
        "text_analysis_pack",      # one-pass text featurization (stats+quality+langid+fp)
        "sessionize_batch",        # gap-based session windows
        "ingest_flatten_roundtrip",  # nest + dlt-flatten + lineage join
        "dq_report_testdata",      # data-quality validator suite
        # round-2 additions (first benched in r2 — not in the r1 total)
        "q8_market_share",         # 8-way snowflake, share-of-total agg
        "text_decontaminate",      # n-gram containment posting join
        "pack_sequences",          # two-phase prefix-sum packing
        "ann_int8_rerank",         # quantized scan + exact rerank
        "scd2_history_events",     # SCD2 snapshot reconstruction (2 windows, 1 shuffle)
        "incremental_agg_merge",   # mergeable partial-agg state fold
        # round-3 additions (first benched in r3)
        "corpus_curation_pipeline",  # full curation funnel -> shard stats
        # round-4 additions (first benched in r4)
        "text_line_dedup",         # C4-style cross-doc line dedup
        "dedup_simhash",           # 64-bit sign-hash banding + Hamming verify
        "dedup_edit_distance",     # blocked Levenshtein near-dup
        "corpus_curation_funnel",  # per-stage data-loss audit (persisted fan-outs)
        "w_hopping_windows",       # sliding windows in batch
        "mta_fact_trips_stops",    # the reference's core model over fixtures
        # round-5 additions (first benched in r5; mta_* run at fixture scale)
        "mta_fact_trips",          # argmin/argmax trip rollup + double-aliased dim
        "mta_fact_alerts",         # per-child agg-then-left-join star (J3 x4 + J8)
        "mta_m5_headways",         # QUALIFY dedup + global rn + LAG headways
        "mta_m6_dwell",            # filtered projection metric
        "mta_m3",                  # calendar/service join + ppm delivery ratio
        "a_salted_skew_agg",       # two-stage salted aggregation
        "j_salted_skew_join",      # replicated-dim salted join
        # round-5 late additions (first benched in r5)
        "q2_min_cost_supplier",    # correlated-min decorrelation (agg+equijoin)
        "q16_supplier_diversity",  # NOT IN anti-join + COUNT(DISTINCT)
        "text_bloom_decontaminate",  # broadcast Bloom screen of heldout shingles
        "a_cms_portable",          # mergeable count-min sketch column
        "bpe_train_merges",        # 8-round distributed BPE training loop
        "graph_pagerank",          # 3-round integer PageRank over the trade graph
        # round-7 additions (first benched in r7 — behavior changed this round)
        "graph_triangles",         # degree-ordered wedge join + priced width
        "dedup_keep_best",         # CC star rounds + per-cluster argmax
    ]

    # untimed warmup: run every headline shape once at the smallest SF so
    # whole-stage-codegen JIT, shuffle/broadcast infra, and file-listing init
    # aren't attributed to the timed run (measured: first execution of an
    # LSH/minhash-shaped plan carries ~3-5s of one-time JIT regardless of
    # data size — fixed cost, not the scale story this bench tracks)
    from mta_rtf_dbt_spark.sources.registry import load

    load(spark, sf_dir, "lineitem").count()
    warm_dir = "/root/testdata/sf0.001"
    for name in headline:
        fn = qs.get(name)
        if fn is not None and os.path.isdir(warm_dir):
            try:
                fn(spark, warm_dir).count()
            except Exception:
                pass  # warmup is best-effort; the timed run reports real failures

    # median-of-3 per entry (r5 verdict: single-shot timings on a shared
    # host swing ±30% with co-tenant load, so round-over-round perf asks
    # can't be adjudicated from one sample). Reps are INTERLEAVED — three
    # full passes over the suite, median taken per entry ACROSS passes —
    # because co-tenant contention arrives in multi-minute bursts: with
    # back-to-back reps one burst poisons all three samples of a
    # contiguous window of entries (observed r6: a burst turned a
    # verified-2.5s entry into a recorded 18/20/25s triple while entries
    # minutes later ran faster than the previous round). Interleaving
    # makes each entry's three samples minutes apart, so a burst can
    # claim at most one of them and the median stays honest. Each rep
    # rebuilds the plan from scratch, and building an entry releases every
    # cache the entry before it persisted, so no rep reads another's cache;
    # what carries over is the OS page cache and the JVM's compiled code
    # (warm for every rep equally, the steady state a real cluster sees).
    _REPS = 3
    timings: dict[str, float] = {}
    runs: dict[str, list[float]] = {name: [] for name in headline if name in qs}
    tr = Tracer(spark.sparkContext, True)
    for _ in range(_REPS):
        for name in headline:
            fn = qs.get(name)
            if fn is None:
                continue
            runs[name].append(traced_rep(tr, name, fn, spark, sf_dir))
    for name, samples in runs.items():
        timings[name] = sorted(samples)[len(samples) // 2]
    tr.collect()

    # --- streaming dedup-ingest sink (C4-style incremental corpus build):
    # availableNow pass of the documents table through the content-hash
    # anti-join sink, writing corpus+index to a scratch dir. Timed as its
    # own key (a sink, not a queries() entry).
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix="bench_ingest_")
    try:
        from mta_rtf_dbt_spark.streaming.upsert import stream_dedup_ingest

        # untimed warmup at the smallest SF — same policy as the headline
        # loop above: the first execution of the sinks' plan shapes (the
        # 64-column minhash aggregate especially) carries ~6 s of one-time
        # whole-stage-codegen JIT that is not the scale story (measured:
        # neardup drain at sf0.1 is 13.3 s cold, 6.8 s warm)
        from mta_rtf_dbt_spark.streaming.upsert import stream_neardup_ingest

        if os.path.isdir(warm_dir):
            for wfn, wtag in [(stream_dedup_ingest, "we"), (stream_neardup_ingest, "wn")]:
                wtmp = f"{tmp}/{wtag}"
                os.makedirs(f"{wtmp}/incoming")
                shutil.copy(
                    os.path.join(warm_dir, "documents.parquet"), f"{wtmp}/incoming/"
                )
                wdocs = spark.read.parquet(f"{wtmp}/incoming")
                wstream = spark.readStream.schema(wdocs.schema).parquet(f"{wtmp}/incoming")
                wfn(
                    spark, wstream, f"{wtmp}/corpus", f"{wtmp}/index", f"{wtmp}/ckpt"
                ).awaitTermination(600)

        # the file stream source requires a directory; stage the single
        # testdata file into one (untimed setup)
        os.makedirs(f"{tmp}/incoming")
        shutil.copy(os.path.join(sf_dir, "documents.parquet"), f"{tmp}/incoming/")
        docs = load(spark, sf_dir, "documents")
        stream = spark.readStream.schema(docs.schema).parquet(f"{tmp}/incoming")

        # median-of-3 for the sinks too — each rep drains into FRESH
        # corpus/index/checkpoint dirs (a reused checkpoint would make rep
        # 2+ a no-op batch). awaitTermination returns False on timeout —
        # stop the wedged query before the tmp-dir cleanup and mark the
        # entry timed-out rather than recording a silently-bogus number
        # (r4 ADVICE).
        for key, sink in [
            ("stream_dedup_ingest", stream_dedup_ingest),
            ("stream_neardup_ingest", stream_neardup_ingest),
        ]:
            samples = []
            for rep in range(_REPS):
                rdir = f"{tmp}/{key}_{rep}"
                t0 = time.monotonic()
                q = sink(
                    spark, stream, f"{rdir}/corpus", f"{rdir}/index", f"{rdir}/ckpt"
                )
                if q.awaitTermination(600):
                    samples.append(round(time.monotonic() - t0, 3))
                else:
                    q.stop()
                    samples = []
                    break
            if samples:
                runs[key] = samples
                timings[key] = sorted(samples)[len(samples) // 2]
            else:
                timings[key] = -1.0  # timed out; not a timing
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    total = round(sum(timings.values()), 3)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    host_load = {
        "loadavg_start": [round(x, 2) for x in load_start],
        "loadavg_end": [round(x, 2) for x in os.getloadavg()],
        "wall_start_unix": round(t_wall_start, 1),
        "wall_end_unix": round(time.time(), 1),
        "ncpu": os.cpu_count(),
    }
    # The driver records only the LAST 2000 chars of stdout (observed:
    # BENCH_r05/r06 lost the headline total and the first ~16 medians to
    # the cap — r6 verdict item 2). The single stdout line therefore
    # carries ONLY what the judge needs — all medians + the total, compact
    # separators, "value" last so even a clipped tail keeps the headline —
    # and the raw per-rep samples + the ledger go to a sidecar file
    # committed alongside (bench_detail.json).
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_detail.json"
    )
    with open(detail_path, "w") as fh:
        json.dump(
            {
                "metric": "headline_suite_total",
                "value": total,
                "unit": "sec",
                "sf": sf_val,
                "timing_policy": "median_of_3_interleaved",
                "host_load": host_load,
                "queries": timings,
                "queries_runs": runs,
                "ledger": ledger(tr),
                "trace_overhead_s": round(tr.overhead_s, 3),
            },
            fh,
            indent=1,
        )
    # compact load signal for the stdout line: start/end 1-min loadavg only
    load_line = [host_load["loadavg_start"][0], host_load["loadavg_end"][0]]
    par = spark.sparkContext.defaultParallelism
    line = json.dumps(
        {
            "metric": "headline_suite_total",
            "unit": "sec",
            "sf": sf_val,
            "timing_policy": "median_of_3_interleaved",
            "load1": load_line,
            "cpus": int(cpus),
            "default_parallelism": par,
            "detail": "bench_detail.json",
            "queries": timings,
            "value": total,
        },
        separators=(",", ":"),
    )
    if len(line) > 1950:  # stay under the driver's 2000-char tail capture
        # single fallback tier (r8 ADVICE collapsed the old intermediate
        # drop-timing_policy step — it saved ~40 chars and near-never
        # changed the outcome): a queries map grown past the cap would be
        # clipped mid-JSON by the driver's tail capture, making the whole
        # line unparseable — drop it (medians still live in
        # bench_detail.json) and keep the headline keys intact
        line = json.dumps(
            {
                "metric": "headline_suite_total",
                "unit": "sec",
                "sf": sf_val,
                "load1": load_line,
                "cpus": int(cpus),
                "default_parallelism": par,
                "detail": "bench_detail.json",
                "queries_in_detail_only": len(timings),
                "value": total,
            },
            separators=(",", ":"),
        )
    print(line)


if __name__ == "__main__":
    main()
