"""Bench-side tracing: a span around every call into an engine layer, and
per-span job, stage and task counts from Spark's own status store.

Each layer call runs under its own job group (``pb<tracer>:<span id>``), so
the jobs it fires are attributed to it by the group recorded in the status
store (which Spark keeps with ``spark.ui.enabled=false`` too). Spans and
counts stay in memory until ``collect`` is called after the measured rounds.

A disabled tracer makes ``call`` a plain call and ``root`` a no-op, which
is how the end-to-end metrics are measured.
"""

from __future__ import annotations

import contextlib
import statistics
import time
from dataclasses import dataclass, field

# Layers whose jobs run the terminal work of an operation; their executor
# time over their wall time gives the slot-busy fraction.
ACTION_LAYERS = ("exec.action", "write.materialize")
STAGE_FIELDS = (
    "run_ms",
    "cpu_ns",
    "gc_ms",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "output_bytes",
    "tasks",
)


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    qid: str
    round: int
    start: float
    end: float = 0.0
    jobs: list[dict] = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self.round = 0
        self._root: Span | None = None
        self.group_prefix = f"pb{id(self):x}:"

    @contextlib.contextmanager
    def root(self, name: str):
        """A span for one operation (a refresh or one cookbook query); the
        layer calls made inside it become its children and share its query
        id."""
        if not self.enabled:
            yield
            return
        qid = f"r{self.round}.{len(self.spans)}"
        span = Span(len(self.spans), name, None, qid, self.round, time.perf_counter())
        self.spans.append(span)
        self._root = span
        try:
            yield
        finally:
            span.end = time.perf_counter()
            self._root = None

    def call(self, layer: str, fn, *args):
        """``fn(*args)``, traced as one ``layer`` span when enabled."""
        if not self.enabled:
            return fn(*args)
        t0 = time.perf_counter()
        root = self._root
        span = Span(len(self.spans), layer, root.id if root else None,
                    root.qid if root else "", self.round, 0.0)
        self.spans.append(span)
        self.sc.setJobGroup(f"{self.group_prefix}{span.id}", layer)
        span.start = time.perf_counter()
        try:
            return fn(*args)
        finally:
            span.end = time.perf_counter()
            self.sc._jsc.clearJobGroup()
            self.overhead_s += (span.start - t0) + (time.perf_counter() - span.end)

    def collect(self) -> None:
        """Attach the status store's job and stage numbers to the spans whose
        job group ran them. Each stage counts once, under the first job that
        lists it (AQE re-lists reused stages as skipped in later jobs)."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        stages: dict[int, dict] = {}
        no_quantiles = self.sc._gateway.new_array(self.sc._jvm.double, 0)
        seq = store.stageList(None, False, False, no_quantiles, self.sc._jvm.java.util.ArrayList())
        for i in range(seq.size()):
            s = seq.apply(i)
            agg = stages.setdefault(s.stageId(), dict.fromkeys(STAGE_FIELDS, 0))
            agg["run_ms"] += s.executorRunTime()
            agg["cpu_ns"] += s.executorCpuTime()
            agg["gc_ms"] += s.jvmGcTime()
            agg["shuffle_read_bytes"] += s.shuffleReadBytes()
            agg["shuffle_write_bytes"] += s.shuffleWriteBytes()
            agg["spill_bytes"] += s.diskBytesSpilled()
            agg["output_bytes"] += s.outputBytes()
            agg["tasks"] += s.numCompleteTasks()
        seq = store.jobsList(None)
        jobs = []
        for i in range(seq.size()):
            j = seq.apply(i)
            group = j.jobGroup()
            if group.isEmpty() or not group.get().startswith(self.group_prefix):
                continue
            ids = j.stageIds()
            jobs.append((j.jobId(), int(group.get()[len(self.group_prefix):]),
                         [ids.apply(k) for k in range(ids.size())]))
        seen: set[int] = set()
        for job_id, span_id, stage_ids in sorted(jobs):
            ran = [sid for sid in stage_ids if sid not in seen and stages.get(sid, {}).get("tasks")]
            seen.update(stage_ids)
            job = dict.fromkeys(STAGE_FIELDS, 0)
            for sid in ran:
                for k in STAGE_FIELDS:
                    job[k] += stages[sid][k]
            job.update(id=job_id, stages=len(ran))
            self.spans[span_id].jobs.append(job)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part its child spans cover."""
    out = {s.id: s.dur for s in spans}
    for s in spans:
        if s.parent is not None:
            out[s.parent] -= s.dur
    return out


def round_metrics(spans: list[Span], cores: int) -> dict[str, float]:
    """Per-layer metrics of one measured round (its refreshes plus one
    cookbook pass). Layer times and counts are totals over the round, in
    self time; ``exec.*`` counts every job of the round, whichever layer's
    call fired it. ``trace.refresh_s`` is the median refresh, to set
    against ``refresh_s`` of an untraced run."""
    selfs = self_times(spans)
    roots = [s for s in spans if s.parent is None]
    kids = [s for s in spans if s.parent is not None]
    root_of = {s.id: s for s in roots}

    def layer(name: str, under: str | None = None) -> list[Span]:
        return [s for s in kids if s.name == name
                and (under is None or root_of[s.parent].name.startswith(under))]

    def secs(ss: list[Span]) -> float:
        return sum(selfs[s.id] for s in ss)

    def jobs(ss: list[Span]) -> list[dict]:
        return [j for s in ss for j in s.jobs]

    def total(ss: list[Span], key: str) -> int:
        return sum(j[key] for j in jobs(ss))

    queries = [s for s in roots if s.name.startswith("query")]
    refreshes = [s.dur for s in roots if s.name == "refresh"]
    refresh_wall = sum(refreshes)
    cookbook_wall = sum(s.dur for s in queries)
    load_q = layer("sources.load", "query")
    acts = [s for s in kids if s.name in ACTION_LAYERS]
    act_wall = sum(s.dur for s in acts)
    return {
        "sources.load_s": secs(layer("sources.load")),
        "sources.jobs": len(jobs(layer("sources.load"))),
        "sources.jobs_per_query": len(jobs(load_q)) / max(1, len(queries)),
        "sources.tables": len(layer("sources.load")),
        "sources.share_of_cookbook": secs(load_q) / cookbook_wall,
        "sources.share_of_refresh": secs(layer("sources.load", "refresh")) / refresh_wall,
        "plans.build_s": secs(layer("plans.build")),
        "plans.jobs_in_build": len(jobs(layer("plans.build"))),
        "metrics.build_s": secs(layer("metrics.build")),
        "metrics.jobs_in_build": len(jobs(layer("metrics.build"))),
        "catalyst.plan_s": secs(layer("catalyst.plan")),
        "exec.action_s": secs(layer("exec.action")),
        "exec.jobs": len(jobs(kids)),
        "exec.stages": total(kids, "stages"),
        "exec.tasks": total(kids, "tasks"),
        "exec.run_s": total(kids, "run_ms") / 1e3,
        "exec.cpu_s": total(kids, "cpu_ns") / 1e9,
        "exec.gc_s": total(kids, "gc_ms") / 1e3,
        "exec.shuffle_read_bytes": total(kids, "shuffle_read_bytes"),
        "exec.shuffle_write_bytes": total(kids, "shuffle_write_bytes"),
        "exec.spill_bytes": total(kids, "spill_bytes"),
        "exec.slot_busy_frac": total(acts, "run_ms") / 1e3 / (act_wall * cores),
        "write.materialize_s": secs(layer("write.materialize")),
        "write.jobs": len(jobs(layer("write.materialize"))),
        "write.output_bytes": total(layer("write.materialize"), "output_bytes"),
        "trace.refresh_s": statistics.median(refreshes),
        "trace.cookbook_s": cookbook_wall,
        "trace.unattributed_s": sum(selfs[s.id] for s in roots),
        "trace.spans": len(spans),
    }


def median_metrics(per_round: list[dict[str, float]]) -> dict[str, float]:
    return {k: statistics.median(r[k] for r in per_round) for k in per_round[0]}

