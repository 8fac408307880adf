"""Tracing for the per-layer run: spans recorded by the benchmark around
each call into an engine layer, Spark's own counters read after a pass,
and timing shims around the streaming harness and the warehouse sink.

Only the streaming progress listener is active in an untraced run.
"""

from __future__ import annotations

import contextlib
import functools
import threading
import time
from dataclasses import dataclass, field
from datetime import datetime

from metrics import busy_cores, outside_time, self_times

#: Per-stage counters summed from Spark's status store, in store units
#: (executorCpuTime is ns, the byte counters are bytes, the rest ms).
STAGE_FIELDS = (
    "numTasks",
    "executorRunTime",
    "executorCpuTime",
    "jvmGcTime",
    "shuffleReadBytes",
    "shuffleWriteBytes",
    "diskBytesSpilled",
)


class Tracer:
    """In-memory spans ``(span_id, name, start, end, parent_id)`` on the
    wall clock (epoch seconds, the clock Spark stamps jobs with).

    A span opened on a thread with no open span of its own (a
    foreachBatch callback served on py4j's callback thread) takes the
    innermost open span of the client thread as its parent: that is the
    call that caused it."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[tuple] = []
        self._local = threading.local()
        self._client_stack: list[int] = []
        self._client = threading.get_ident()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if threading.get_ident() == self._client:
            return self._client_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        parent = stack[-1] if stack else (
            self._client_stack[-1] if self._client_stack else None
        )
        with self._lock:
            sid = len(self.spans)
            self.spans.append(None)
        stack.append(sid)
        start = time.time()
        try:
            yield
        finally:
            stack.pop()
            self.spans[sid] = (sid, name, start, time.time(), parent)

    def take(self) -> list[tuple]:
        """Return and forget the spans (all closed once a pass is over)."""
        with self._lock:
            done, self.spans = [s for s in self.spans if s is not None], []
        return done


def install_shims(tracer: Tracer) -> None:
    """Wrap the harness landing, the harness run and the warehouse sink
    write in spans (names ``land``, ``harness_run``, ``write_batch``)."""
    from pg_telemetry_spark.sinks import ParquetWarehouseSink
    from pg_telemetry_spark.streaming.harness import FileStreamHarness

    def wrap(cls, attr: str, name: str) -> None:
        orig = getattr(cls, attr)

        @functools.wraps(orig)
        def shim(*args, **kwargs):
            with tracer.span(name):
                return orig(*args, **kwargs)

        setattr(cls, attr, shim)

    wrap(FileStreamHarness, "add_batch", "land")
    wrap(FileStreamHarness, "run_available", "harness_run")
    wrap(ParquetWarehouseSink, "write_batch", "write_batch")


@dataclass
class Job:
    job_id: int
    start: float
    end: float
    stage_ids: list[int]


def _ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class SparkProbe:
    """Reads jobs, stages, Catalyst phases and cached storage through
    the status store, which works with the Spark UI off."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()

    def last_job_id(self) -> int:
        ids = [j.job_id for j in self.jobs_since(-1)]
        return max(ids, default=-1)

    def jobs_since(self, last_id: int) -> list[Job]:
        """Finished jobs with an id above ``last_id``."""
        out = []
        it = self._store.jobsList(None).iterator()
        while it.hasNext():
            j = it.next()
            jid = j.jobId()
            if jid <= last_id:
                continue
            start, end = _ms(j.submissionTime()), _ms(j.completionTime())
            if start is None or end is None:
                continue
            sids = j.stageIds()
            out.append(Job(jid, start, end, [sids.apply(i) for i in range(sids.size())]))
        return out

    def stage_totals(self, stage_ids: set[int]) -> dict[str, float]:
        """Counters summed over every attempt of the given stages that
        ran (skipped stages did no work); ``stages`` counts them."""
        jvm = self.sc._jvm
        stages = self._store.stageList(
            None, False, False, self.sc._gateway.new_array(jvm.double, 0),
            jvm.java.util.ArrayList(),
        )
        totals = dict.fromkeys(STAGE_FIELDS, 0.0)
        ran: set[int] = set()
        it = stages.iterator()
        while it.hasNext():
            s = it.next()
            sid = s.stageId()
            if sid not in stage_ids or s.status().toString() == "SKIPPED":
                continue
            ran.add(sid)
            for f in STAGE_FIELDS:
                totals[f] += getattr(s, f)()
        totals["stages"] = float(len(ran))
        return totals

    @staticmethod
    def catalyst_phases(df) -> dict[str, float]:
        """Analysis, optimization and planning seconds of ``df``."""
        phases = df._jdf.queryExecution().tracker().phases()
        out = {}
        for name in ("analysis", "optimization", "planning"):
            opt = phases.get(name)
            out[name] = opt.get().durationMs() / 1000.0 if opt.isDefined() else 0.0
        return out

    def cached(self) -> tuple[int, float]:
        """(persisted RDDs, MB they hold in memory and on disk)."""
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return len(infos), sum(i.memSize() + i.diskSize() for i in infos) / 2**20


#: StreamingQueryProgress.durationMs phases, reported as streaming.<name>_s.
PHASES = {
    "addBatch": "add_batch",
    "latestOffset": "latest_offset",
    "getBatch": "get_batch",
    "queryPlanning": "query_planning",
    "walCommit": "wal_commit",
    "commitOffsets": "commit_offsets",
}


@dataclass
class Progress:
    start: float  # epoch seconds the trigger started
    trigger_s: float
    phases: dict[str, float]
    state_rows: int
    state_bytes: int


@dataclass
class StreamProgress:
    """Collects every trigger's progress report through a
    ``StreamingQueryListener``, the monitoring interface of Structured
    Streaming.  Used in every run: the stream workload's latency is
    the trigger time it reports."""

    spark: object
    events: list[Progress] = field(default_factory=list)
    _listener: object = None

    def __post_init__(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        sink = self.events

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                d = dict(p.durationMs)
                ops = p.stateOperators
                sink.append(Progress(
                    start=datetime.fromisoformat(p.timestamp).timestamp(),
                    trigger_s=d.get("triggerExecution", 0) / 1000.0,
                    phases={k: d.get(k, 0) / 1000.0 for k in PHASES},
                    state_rows=sum(s.numRowsTotal for s in ops),
                    state_bytes=sum(s.memoryUsedBytes for s in ops),
                ))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Listener()

    def attach(self) -> None:
        self.spark.streams.addListener(self._listener)

    def detach(self) -> None:
        self.spark.streams.removeListener(self._listener)

    def take(self) -> list[Progress]:
        done = list(self.events)
        self.events.clear()
        return done


#: Span names whose self time is reported as span.<name>.self_s.
SPANS = ("pass", "op", "build", "collect", "tick", "readback", "land",
         "harness_run", "write_batch")

#: Per-layer metrics and units, in report order; queries.<group>.wall_s
#: are added per registry group by :func:`layer_units`.
LAYERS = {
    "session.start_s": "s",
    "registry.import_s": "s",
    "tables.warm_s": "s",
    "registry.build_s": "s",
    "registry.build_jobs": "count",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.busy_cores": "cores",
    "driver.outside_job_s": "s",
    "driver.after_last_job_s": "s",
    "driver.result_rows": "count",
    "cache.persisted_rdds": "count",
    "cache.storage_mb": "MB",
    "streaming.triggers": "count",
    **{f"streaming.{p}_s": "s" for p in PHASES.values()},
    "streaming.start_stop_s": "s",
    "streaming.state_rows": "count",
    "streaming.state_mb": "MB",
    "harness.runs": "count",
    "harness.land_s": "s",
    "sinks.write_batch_s": "s",
    "collector.ticks": "count",
    "collector.rows_in": "count",
    "collector.rows_per_s": "1/s",
    "warehouse.bytes_written_mb": "MB",
    "warehouse.files_written": "count",
    "warehouse.write_amp": "ratio",
    "warehouse.readback_p50_s": "s",
    **{f"span.{s}.self_s": "s" for s in SPANS},
    "trace.overhead_pct": "%",
}


def layer_units(groups) -> dict[str, str]:
    return {**LAYERS, **{f"queries.{g}.wall_s": "s" for g in groups}}


#: Slack when matching Spark's millisecond job stamps to op spans.
_SLACK = 0.002


def pass_layers(ops, spans, jobs: list[Job], stages: dict, progress: list[Progress],
                groups) -> dict[str, float]:
    """Per-layer metrics of one traced pass.

    Jobs are attributed to an op by submission time: with one
    closed-loop client, every job submitted inside an op's span belongs
    to it, including jobs that streaming threads submit under their own
    job group."""
    def within(lo: float, hi: float) -> list[Job]:
        return [j for j in jobs if lo - _SLACK <= j.start <= hi + _SLACK]

    m: dict[str, float] = {}
    builds = [o.build for o in ops if o.build]
    m["registry.build_s"] = sum(b1 - b0 for b0, b1 in builds)
    m["registry.build_jobs"] = sum(len(within(*b)) for b in builds)
    for phase in ("analysis", "optimization", "planning"):
        m[f"catalyst.{phase}_s"] = sum(o.catalyst[phase] for o in ops if o.catalyst)

    run_s = stages["executorRunTime"] / 1000.0
    m["spark.jobs"] = len(jobs)
    m["spark.stages"] = stages["stages"]
    m["spark.tasks"] = stages["numTasks"]
    m["spark.executor_run_s"] = run_s
    m["spark.executor_cpu_s"] = stages["executorCpuTime"] / 1e9
    m["spark.gc_s"] = stages["jvmGcTime"] / 1000.0
    m["spark.shuffle_read_mb"] = stages["shuffleReadBytes"] / 2**20
    m["spark.shuffle_write_mb"] = stages["shuffleWriteBytes"] / 2**20
    m["spark.spill_mb"] = stages["diskBytesSpilled"] / 2**20
    m["spark.busy_cores"] = busy_cores(run_s, [(j.start, j.end) for j in jobs])

    outside = after = 0.0
    for o in ops:
        mine = [(j.start, j.end) for j in within(o.start, o.end)]
        outside += outside_time(o.start, o.end, mine)
        if mine:
            after += max(o.end - max(e for _, e in mine), 0.0)
    m["driver.outside_job_s"] = outside
    m["driver.after_last_job_s"] = after
    m["driver.result_rows"] = sum(o.n_rows for o in ops)

    cached = [o.cached for o in ops if o.cached]
    m["cache.persisted_rdds"] = max((c[0] for c in cached), default=0)
    m["cache.storage_mb"] = max((c[1] for c in cached), default=0.0)
    for g in groups:
        m[f"queries.{g}.wall_s"] = sum(o.latency for o in ops if o.group == g)

    def span_total(name: str) -> float:
        return sum(s[3] - s[2] for s in spans if s[1] == name)

    trigger_s = sum(p.trigger_s for p in progress)
    m["streaming.triggers"] = len(progress)
    for key, short in PHASES.items():
        m[f"streaming.{short}_s"] = sum(p.phases[key] for p in progress)
    m["streaming.start_stop_s"] = max(
        span_total("harness_run") + span_total("tick") - trigger_s, 0.0
    ) if progress else 0.0
    m["streaming.state_rows"] = max((p.state_rows for p in progress), default=0)
    m["streaming.state_mb"] = max((p.state_bytes for p in progress), default=0) / 2**20
    m["harness.runs"] = sum(1 for s in spans if s[1] == "harness_run")
    m["harness.land_s"] = span_total("land")
    m["sinks.write_batch_s"] = span_total("write_batch")
    selfs = self_times(spans)
    for s in SPANS:
        m[f"span.{s}.self_s"] = selfs.get(s, 0.0)
    return m
