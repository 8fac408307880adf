"""The benchmark's workloads.

Each runs in one process as one closed-loop client: an operation starts
only after the previous one returned.  A workload runs in passes; a
pass is one round over the workload's frozen inputs, in an order the
seed picks.  ``prepare`` and one untimed pass belong to set-up.

- ``dashboard``: warehouse reads of a pg_telemetry user mixed with a
  small batch stage of the LLM-curation pipeline, table cache kept warm
  across passes.  The reads exercise query build, Catalyst, driver
  round trips and result decode; the curation stage runs the
  ``operators/`` kernels (MinHash shingles, k-means IVF, semantic
  dedup), their dedup and ANN shuffles and a k-means loop of
  build-time jobs.  None of the three reads the llm queries' shared
  intermediates, so each pass recomputes them from the cached tables.
  Bypasses streaming and the sinks.
- ``stream``: the Postgres-stat collector and a stateful streaming
  operator.  Each pass lands the next two days of event and
  pg_stat_statements files, runs one tick (``run_available``) of each
  collector, reads the warehouse back, then runs a watermarked
  window aggregation through the file-stream harness.  Exercises
  streaming triggers and their start/stop, the Parquet warehouse sink,
  the rollups, the RocksDB state store and watermarks; bypasses the
  query kernels.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time
from dataclasses import dataclass, field
from pathlib import Path

#: Frozen inputs.  The dashboard takes one query from each registry
#: group a warehouse reader uses.  Each pass stays at a few seconds.
DASHBOARD = (
    "pgw_stmt_top_delta",
    "ts_session",
    "win_lag_delta",
    "agg_group_hash",
    "dq_constraints",
    "join_multiway",
    "fn_url_normalize",
    "flagship_hourly_top20",
)
#: One query each from the curation pipeline's registry groups llm,
#: llm_ext and curation: the verify stage of MinHash-LSH dedup (char
#: shingles, exact Jaccard), IVF top-k over a k-means quantizer trained
#: in a loop of jobs, and semantic dedup.  ``llm_dedup_near`` (the whole
#: MinHash pipeline) took 4-6 s a pass, too long for two passes a run.
CURATION = ("llm_lsh_verify", "llm_ann_ivf_kmeans", "llm_semdedup")
STREAM_OPS = ("str_watermark",)

#: The fixtures' first event day, 2024-01-01, in days since 1970-01-01.
_DAY0 = 19723

#: Every registry group the workloads draw from (queries.<group>.wall_s).
GROUPS = (
    "collector", "timeseries", "windows", "aggs", "dq", "joins", "scalars",
    "flagship", "llm", "llm_ext", "curation", "streaming",
)


@dataclass
class Op:
    """One operation of the closed loop (epoch-second stamps)."""

    name: str
    kind: str  # query | tick | readback
    group: str = ""
    start: float = 0.0
    end: float = 0.0
    ok: bool = True
    error: str = ""
    build: tuple[float, float] | None = None
    columns: list[str] = field(default_factory=list)
    rows: list | None = None
    n_rows: int = 0
    catalyst: dict | None = None
    cached: tuple[int, float] | None = None
    #: what a readback asked for (landed days, or the one day read)
    arg: object = None

    @property
    def latency(self) -> float:
        return self.end - self.start

    def fail(self, why: str) -> None:
        self.ok = False
        self.error = self.error or why


def order(names, seed: int, pass_no: int) -> list[str]:
    """The seed's order of ``names`` for one pass."""
    return random.Random(f"{seed}/{pass_no}").sample(list(names), len(names))


def digest(columns, rows) -> int:
    """Order-insensitive digest of a result, normalized the way the
    oracle tests normalize (tests/oracle.py)."""
    from tests.oracle import _norm_value, _sort_key

    cols = sorted(columns)
    norm = sorted((tuple(_norm_value(r[c]) for c in cols) for r in rows), key=_sort_key)
    return hash((tuple(cols), tuple(norm)))


class Workload:
    name = ""
    sf = 0.01
    names: tuple[str, ...] = ()
    #: Nominal wall of one warm pass (s) on a 4-vCPU VM.  A run times
    #: ``round(seconds / pass_s)`` passes: a fixed count, so that every
    #: run times the same passes of a JVM whose JIT is still warming.
    pass_s = 1.0

    def __init__(self, bench) -> None:
        self.bench = bench
        self.spark = bench.spark
        self.sf_dir = bench.sf_dir
        self.seed = bench.seed

    def prepare(self) -> None:
        """Untimed set-up after the session exists (fixture warm-up)."""
        from pg_telemetry_spark.tables import load_table

        for t in ("region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "events"):
            load_table(self.spark, self.sf_dir, t).count()

    def run_pass(self, pass_no: int) -> list[Op]:
        return [self.run_query(n) for n in order(self.names, self.seed, pass_no)]

    def samples(self, ops: list[Op], triggers) -> dict[str, list[float]]:
        """Latency samples per operation name: each query's build+collect
        time."""
        by: dict[str, list[float]] = {}
        for o in ops:
            if o.kind == "query":
                by.setdefault(o.name, []).append(o.latency)
        return by

    def extra(self, passes: list[list[Op]]) -> dict[str, float]:
        """Workload-specific end-to-end figures for the summary."""
        return {}

    def layers(self, pass_no: int, ops: list[Op]) -> dict[str, float]:
        """Workload-specific per-layer metrics of one traced pass."""
        return {}

    def run_query(self, name: str) -> Op:
        """Build and collect one registered query."""
        q = self.bench.registry[name]
        tracer = self.bench.tracer
        op = Op(name, "query", q.group, start=time.time())
        df = None
        with tracer.span("op"):
            try:
                with tracer.span("build"):
                    b0 = time.time()
                    df = q.fn(self.spark, self.sf_dir)
                    op.build = (b0, time.time())
                with tracer.span("collect"):
                    op.rows = df.collect()
            except Exception as ex:  # counted in error_rate
                op.fail(f"{type(ex).__name__}: {str(ex)[:200]}")
        op.end = time.time()
        if df is not None and op.ok:
            op.columns = df.columns
            op.n_rows = len(op.rows)
            if tracer.enabled:
                op.catalyst = self.bench.probe.catalyst_phases(df)
                op.cached = self.bench.probe.cached()
        return op

    def check(self, warm: list[Op], timed: list[list[Op]]) -> None:
        """Mark every timed op whose output is wrong as failed: tier A/B
        queries against the registry's DuckDB oracle over the same
        files, tier C queries against the warm-up pass's result."""
        import duckdb

        from pg_telemetry_spark.tables import TABLE_NAMES
        from tests.oracle import duckdb_rows

        reg = self.bench.registry
        con = duckdb.connect()
        for t in TABLE_NAMES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')"
            )
        expected: dict[str, int | None] = {}
        for name in self.names:
            if reg[name].oracle is not None:
                try:
                    cols, rows = duckdb_rows(con, reg[name].oracle)
                    expected[name] = hash((tuple(cols), tuple(rows)))
                except Exception:
                    expected[name] = None
        con.close()
        for op in warm:
            if op.kind == "query" and reg[op.name].oracle is None:
                expected[op.name] = digest(op.columns, op.rows) if op.ok else None
        for ops in timed:
            for op in ops:
                if op.kind == "query" and op.ok and (
                    digest(op.columns, op.rows) != expected.get(op.name)
                ):
                    op.fail("result differs from the expected result")
                op.rows = None


class Dashboard(Workload):
    name = "dashboard"
    names = DASHBOARD + CURATION
    pass_s = 8.0


class Stream(Workload):
    """A running collector plus a stateful streaming operator.

    ``TelemetryCollector`` (events) and ``StatViewCollector``
    (pg_stat_statements snapshots derived from the same events:
    multi-series counters with resets) follow one landing schedule.
    Each pass lands the next two days (the seed picks how days pair
    into ticks), runs one tick per collector, reads the warehouse back (the
    seed picks the day slice), then runs ``STREAM_OPS``."""

    name = "stream"
    names = STREAM_OPS
    pass_s = 8.0
    VIEW = "pg_stat_statements"
    KINDS = ("events", "snaps")

    def prepare(self) -> None:
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        import pyspark.sql.functions as F

        from pg_telemetry_spark import statviews
        from pg_telemetry_spark.collector import StatViewCollector, TelemetryCollector
        from pg_telemetry_spark.tables import load_table

        events = load_table(self.spark, self.sf_dir, "events")
        events.count()
        # every tick lands two days, so every seed times equal ticks;
        # the seed picks where the pairs start
        first = random.Random(self.seed).randrange(0, 2)
        #: days landed by each pass's tick, in pass order
        self.schedule = [[d, d + 1] for d in range(first, 29, 2)]

        # one landing file per kind and day, written once; a tick copies
        # them in.  Snapshots come from statviews.DERIVATIONS (untimed).
        utc = pa.timestamp("us", tz="UTC")
        ev = pq.read_table(f"{self.sf_dir}/events.parquet",
                           columns=["event_id", "ts", "user_id", "event_type", "value"])
        ev = ev.set_column(1, "ts", ev["ts"].cast(utc))
        snaps = (
            statviews.DERIVATIONS[self.VIEW](events)
            .withColumn("snap_ts", F.col("snap_ts").cast("timestamp"))
            .toArrow()
        )
        self.base = self.bench.work / "ingest"
        self.files: dict[tuple[str, int], Path] = {}
        self.rows: dict[tuple[str, int], int] = {}
        for kind, table, ts in (("events", ev, "ts"), ("snaps", snaps, "snap_ts")):
            stage = self.base / "stage" / kind
            stage.mkdir(parents=True)
            day = pc.cast(table[ts], pa.date32()).cast(pa.int32()).to_numpy() - _DAY0
            for d in range(30):
                part = table.filter(pa.array(day == d))
                self.files[(kind, d)] = stage / f"{d:02d}.parquet"
                self.rows[(kind, d)] = part.num_rows
                pq.write_table(part, self.files[(kind, d)])
            (self.base / kind / "landing").mkdir(parents=True)
        self.ev = TelemetryCollector(self.spark, *self._dirs("events"))
        self.sv = StatViewCollector(self.spark, self.VIEW, *self._dirs("snaps"))
        self.landed_days: list[int] = []
        self.passes: dict[int, dict[str, float]] = {}

    def _dirs(self, kind: str) -> list[str]:
        return [str(self.base / kind / d) for d in ("landing", "warehouse", "ckpt")]

    def _land(self, kind: str, days) -> int:
        """Copy the days' files into the landing dir (atomic rename, so a
        tick never lists a half-written file); returns bytes landed."""
        landing = self.base / kind / "landing"
        n = 0
        for d in days:
            f = self.files[(kind, d)]
            shutil.copyfile(f, landing / f".{f.name}")
            os.replace(landing / f".{f.name}", landing / f.name)
            n += f.stat().st_size
        return n

    def _written(self) -> tuple[int, int]:
        files = [
            f for f in self.base.glob("*/warehouse/**/*")
            if f.is_file() and not f.name.startswith((".", "_"))
        ]
        return len(files), sum(f.stat().st_size for f in files)

    def run_pass(self, pass_no: int) -> list[Op]:
        if not self.schedule:
            raise RuntimeError("stream: the 30 fixture days are used up; run fewer seconds")
        tracer = self.bench.tracer
        days = self.schedule.pop(0)
        files0, bytes0 = self._written()
        ops: list[Op] = []

        def timed(name: str, kind: str, fn, arg=None) -> None:
            op = Op(name, kind, start=time.time(), arg=arg)
            with tracer.span(kind):
                try:
                    out = fn()
                    op.n_rows = len(out) if out is not None else 0
                    op.rows = out
                except Exception as ex:  # counted in error_rate
                    op.fail(f"{type(ex).__name__}: {str(ex)[:200]}")
            op.end = time.time()
            ops.append(op)

        landed = self._land("events", days)
        timed("tick_events", "tick", self.ev.run_available)
        landed += self._land("snaps", days)
        timed("tick_stmts", "tick", self.sv.run_available)
        self.landed_days += days
        so_far = tuple(self.landed_days)
        d = random.Random(f"{self.seed}/{pass_no}").choice(so_far)
        timed("hourly_series", "readback", lambda: self.ev.hourly_series().collect(), so_far)
        timed("raw_day", "readback",
              lambda: self.ev.raw().filter(f"event_date = DATE'2024-01-{d + 1:02d}'").collect(), d)
        timed("increases", "readback", lambda: self.sv.increases().collect(), so_far)
        files1, bytes1 = self._written()
        self.passes[pass_no] = {
            "rows_in": sum(self.rows[(k, d)] for d in days for k in self.KINDS),
            "landed_bytes": landed,
            "files_written": files1 - files0,
            "bytes_written": bytes1 - bytes0,
        }
        return ops + super().run_pass(pass_no)

    def samples(self, ops, triggers) -> dict[str, list[float]]:
        """Latency samples per operation name: the ``triggerExecution``
        of every trigger that started while a tick or the streaming
        operator ran."""
        by: dict[str, list[float]] = {}
        for o in ops:
            if o.kind in ("tick", "query"):
                by.setdefault(o.name, []).extend(
                    t.trigger_s for t in triggers if o.start <= t.start <= o.end
                )
        return by

    def _landed(self, kind: str, days):
        """The landed files of ``days`` read straight from the stage."""
        from pg_telemetry_spark.collector import COLLECT_SCHEMA
        from pg_telemetry_spark.statviews import SCHEMAS

        schema = COLLECT_SCHEMA if kind == "events" else SCHEMAS[self.VIEW]
        return self.spark.read.schema(schema).parquet(
            *[str(self.files[(kind, d)]) for d in days]
        )

    @staticmethod
    def _hourly(rows) -> dict:
        return {(r.bucket, r.event_type): (r.n_events, r.sum_value) for r in rows}

    def _hourly_of(self, events) -> dict:
        """``hourly_series()`` computed directly from event rows."""
        import pyspark.sql.functions as F

        return self._hourly(
            events.groupBy(F.date_trunc("hour", "ts").alias("bucket"), "event_type")
            .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 6).alias("sum_value"))
            .collect()
        )

    def _increases(self, rows) -> set:
        from pg_telemetry_spark.collector import CUMULATIVE_VIEWS

        keys, counters = CUMULATIVE_VIEWS[self.VIEW]
        cols = ["snap_ts", *keys, *[f"{c}_inc" for c in counters]]
        return {tuple(round(v, 6) if isinstance(v, float) else v for v in (r[c] for c in cols))
                for r in rows}

    def _expected(self, name: str, days):
        """What a readback of the warehouse must return once ``days``
        are landed, computed from the landed files alone."""
        import pyarrow.parquet as pq

        from pg_telemetry_spark.collector import CUMULATIVE_VIEWS, counter_increases

        if name == "raw_day":
            ids = pq.read_table(self.files[("events", days)], columns=["event_id"])
            return sorted(ids["event_id"].to_pylist())
        if name == "hourly_series":
            return self._hourly_of(self._landed("events", days))
        keys, counters = CUMULATIVE_VIEWS[self.VIEW]
        return self._increases(
            counter_increases(self._landed("snaps", days), keys, counters).collect()
        )

    def _served(self, op):
        if op.name == "raw_day":
            return sorted(r.event_id for r in op.rows)
        if op.name == "hourly_series":
            return self._hourly(op.rows)
        return self._increases(op.rows)

    def check(self, warm, timed) -> None:
        """Streaming operators are tier C: each result must equal the
        warm-up pass's.  Each readback must equal what the landed files
        give for the days landed when it ran: the chosen day's events
        for ``raw_day``, an hourly aggregation of every landed event for
        ``hourly_series``, one ``counter_increases`` pass over every
        landed snapshot for ``increases``.  After the run the warehouse
        must hold every landed row, and its ``hourly_series()`` and
        ``increases()`` must equal the same computed from ``raw()`` and
        the landed snapshots; a mismatch fails every tick of that
        collector."""
        expected: dict = {}
        for ops in timed:
            for op in ops:
                if op.kind == "readback" and op.ok:
                    key = (op.name, op.arg)
                    if key not in expected:
                        expected[key] = self._expected(*key)
                    if self._served(op) != expected[key]:
                        op.fail("readback differs from the landed data")
        super().check(warm, timed)

        raw = self.ev.raw()
        ok = {"tick_events": raw.count() == sum(self.rows[("events", d)] for d in self.landed_days)}
        ok["tick_events"] &= self._hourly_of(raw) == self._hourly(self.ev.hourly_series().collect())
        ok["tick_stmts"] = (self._increases(self.sv.increases().collect())
                            == self._expected("increases", tuple(self.landed_days)))
        for ops in timed:
            for op in ops:
                if not ok.get(op.name, True):
                    op.fail("warehouse differs from the landed data")

    def _figures(self, pass_nos, ops) -> dict[str, float]:
        total = {k: sum(self.passes[p][k] for p in pass_nos) for k in self.passes[pass_nos[0]]}
        return {
            "rows_in": total["rows_in"],
            "rows_per_s": total["rows_in"] / sum(o.latency for o in ops if o.kind == "tick"),
            "readback_p50_s": statistics.median(o.latency for o in ops if o.kind == "readback"),
            "write_amp": total["bytes_written"] / total["landed_bytes"],
            "files_written": total["files_written"],
            "bytes_written_mb": total["bytes_written"] / 2**20,
        }

    def extra(self, passes) -> dict[str, float]:
        f = self._figures(sorted(p for p in self.passes if p >= 0),
                          [o for ops in passes for o in ops])
        return {k: f[k] for k in ("rows_per_s", "readback_p50_s", "write_amp")}

    def layers(self, pass_no, ops) -> dict[str, float]:
        f = self._figures([pass_no], ops)
        return {
            "collector.ticks": sum(1 for o in ops if o.kind == "tick"),
            "collector.rows_in": f["rows_in"],
            "collector.rows_per_s": f["rows_per_s"],
            "warehouse.bytes_written_mb": f["bytes_written_mb"],
            "warehouse.files_written": f["files_written"],
            "warehouse.write_amp": f["write_amp"],
            "warehouse.readback_p50_s": f["readback_p50_s"],
        }


WORKLOADS = {w.name: w for w in (Dashboard, Stream)}
