"""SparkSession factory, session preparation and scoped conf changes.

This module owns session configuration:

- :func:`get_session` — build a local session (tests, bench); its
  builder sets only static confs (:data:`STATIC_CONFS`).
- :func:`prepare_session` — apply the runtime-settable required confs
  to an EXISTING session, once per session object (the driver owns the
  session for the ``__spark_entry__`` contract; these confs are all
  ``spark.sql.*`` runtime confs, verified settable post-creation).
- :func:`scoped_confs` — every temporary conf change (loop widths, the
  streaming harness): set for one block, restored on exit.
- :func:`checkpoint_confs` — the streaming checkpoint file manager a
  checkpoint path should run with.
- :func:`iterate` — the one round loop of the iterative operators
  (the graph queries, connected components): each round runs under
  :func:`loop_sizing`, cuts its lineage with a lazy
  :func:`iter_checkpoint`, and tests convergence with one aggregate
  that also materializes the checkpoint.
- :func:`local_frame` — a driver-side result (a list of rows) as a
  DataFrame built from Arrow, so reading it starts no task.
- :func:`scratch_dir` — every directory the engine writes files into
  (query round-trips, streaming checkpoints, disk indexes, the shipped
  package zip), under one root per process that is removed at exit.

Required confs and why:

- ``spark.sql.legacy.parquet.nanosAsLong=true`` — an ``events`` file
  may store ``ts`` as Parquet TIMESTAMP(NANOS) (the shipped fixtures
  are TIMESTAMP(MICROS); other writers emit NANOS), which Spark 4
  refuses by default ([PARQUET_TYPE_ILLEGAL]); with this conf it reads
  as nanosecond longs that :mod:`pg_telemetry_spark.tables` converts
  to microsecond timestamps (verified to match DuckDB exactly).
- ``spark.sql.session.timeZone=UTC`` — all fixture timestamps are
  timezone-less; UTC pins collect()-side rendering for oracle parity.
- AQE on (default in Spark 4, set explicitly) — runtime shuffle
  coalescing and skew-join splitting are the scale story for the
  100 TB target; local shuffle partitions stay modest and AQE
  coalesces further.

Static confs and why (read once when the JVM starts, so only a
session builder can set them; a host that builds its own session sets
them in its deployment, see SCALE.md):

- ``spark.sql.codegen.cache.maxEntries=1000`` — the engine serves
  repeated queries, and Spark's generated-class cache is an LRU of 100
  entries by default.  One ``dashboard`` pass needs about 220 classes,
  and a cyclic scan over a smaller LRU misses every time: every pass
  recompiled every class.
"""

from __future__ import annotations

import atexit
import contextlib
import math
import os
import shutil
import tempfile
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

#: Runtime-settable confs applied to any session the engine uses.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for every pandas_udf / applyInPandas / toPandas boundary.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # NOT set: spark.sql.optimizer.canChangeCachedPlanOutputPartitioning.
    # Measured r17 and reverted: letting AQE coalesce CACHE-
    # materialization plans cut near-empty map tasks 3-4x on pin-heavy
    # rows (wl_pagerank 756->198 tasks) but coalesces every fixture-
    # scale pinned intermediate to ~1 partition, SERIALIZING the
    # CPU-heavy consumers downstream of pins (paired bench legs:
    # llm_ann_lsh 1.49 -> 2.04/2.80 s while untouched reference rows
    # moved ~+20% box noise only); no row's seconds improved from the
    # task savings.  Guide §1.2: config only after algorithm — the
    # loop widths are sized structurally instead (loop_sizing).
}

#: Static confs :func:`get_session`'s builder applies (see the module
#: docstring); Spark ignores them on a session that already exists.
STATIC_CONFS: dict[str, str] = {
    # Generated-class LRU, about 4.5x one dashboard pass.  Measured at
    # sf0.01 on a 4-core box through CodegenMetrics: at the default 100
    # entries every steady dashboard pass ran 192-217 Janino compiles
    # (about 7 ms each) and a stream pass 44-55; at 1000, 0-10 and 4-6.
    # After a full sf0.001 registry sweep Metaspace read 216.4 MB at
    # the default and 219.0 MB here.
    "spark.sql.codegen.cache.maxEntries": "1000",
}

#: Engine join/shuffle sizing for HOST sessions (the driver's plain
#: session otherwise runs Spark defaults): 32 MB broadcast threshold
#: keeps every fixture dim (and any real dim table of that order) on
#: the broadcast side — the plans audited in PLANS.md assume it — and
#: 200 default shuffle partitions launch near-empty tasks per shuffle
#: at fixture scale.  Applied ONLY while the session still carries the
#: Spark built-in default, so a deliberate site config is never
#: stomped.  At cluster scale the initial partition count is sized to
#: the cluster and AQE coalesces down.
SIZING_CONFS: dict[str, tuple[str, str]] = {
    # key: (spark built-in default, engine value)
    "spark.sql.autoBroadcastJoinThreshold": ("10485760b", str(32 * 1024 * 1024)),
    "spark.sql.shuffle.partitions": ("200", "32"),
}


class SessionState:
    """Derived state of one live session.

    - ``frames``: memoized DataFrames (see :func:`memo`) — the fixture
      table cache, the dedup family's shared intermediates, the disk
      index read-back scans.  Bound to this session's JVM, so they die
      with it.
    - ``prepared``: :func:`prepare_session` has applied the engine
      confs to this session and shipped the package to its executors.
    - ``ckpt_dir``: the checkpoint directory last APPLIED to this
      session's SparkContext (:func:`iter_checkpoint`).
    """

    def __init__(self, spark: SparkSession) -> None:
        self.spark = spark
        self.frames: dict[tuple, object] = {}
        self.prepared = False
        self.ckpt_dir: str | None = None


#: The state of the one live session.  Every process the engine runs
#: in (the driver's sweep, bench legs, tests, tools) uses one session
#: at a time, so a single slot suffices: it is replaced whenever a
#: different session object arrives, and a stopped session's frames
#: are already gone with its JVM.
_STATE: SessionState | None = None


def session_state(spark: SparkSession) -> SessionState:
    """The state of ``spark``, made fresh when ``spark`` is not the
    session the slot was made for (Python identity — no py4j call)."""
    global _STATE
    if _STATE is None or _STATE.spark is not spark:
        _STATE = SessionState(spark)
    return _STATE


def memo(spark: SparkSession, key: tuple, build):
    """``build()``'s result (a DataFrame or a tuple of them), computed
    once per live session and ``key``.  Callers that want the data
    kept persist inside ``build``; an unpersisted value is plan reuse
    only and recomputes on every action."""
    frames = session_state(spark).frames
    if key not in frames:
        frames[key] = build()
    return frames[key]


def clear_session_state() -> None:
    """Unpersist and forget every memoized frame (plan audits need the
    cold plans; benches need cold legs).  Unpersisting a frame that was
    never persisted does nothing."""
    if _STATE is None:
        return
    for value in _STATE.frames.values():
        for df in value if isinstance(value, tuple) else (value,):
            try:
                df.unpersist()
            except Exception:
                pass  # session already stopped
    _STATE.frames.clear()


#: This process's scratch root, made by the first :func:`scratch_dir`.
_SCRATCH_ROOT: str | None = None


def _scratch_root() -> str:
    """The process's scratch root: made on first use under the temp dir
    as it stands then (``TMPDIR``), and removed when the interpreter
    exits.  Process-lifetime, not session-lifetime: a result frame reads
    its files lazily, and the disk indexes outlive a revived session."""
    global _SCRATCH_ROOT
    if _SCRATCH_ROOT is None:
        _SCRATCH_ROOT = tempfile.mkdtemp(prefix=f"pgts_{os.getpid()}_")
        atexit.register(shutil.rmtree, _SCRATCH_ROOT, ignore_errors=True)
    return _SCRATCH_ROOT


def scratch_dir(prefix: str) -> str:
    """A fresh directory named ``prefix…`` under the process's scratch
    root.  Every directory the engine writes files into comes from here.
    The root is a driver-local path: on a multi-host cluster, executors
    write into their own host's copy of it (see SCALE.md)."""
    return tempfile.mkdtemp(prefix=prefix, dir=_scratch_root())


def ship_package(spark: SparkSession) -> None:
    """Ship the engine source to executor Python workers (called once
    per session, by :func:`prepare_session`).

    ``local[*]`` executors share the driver's interpreter and see its
    ``sys.path``, so every UDF the engine pickles BY REFERENCE
    (module-level functions in pandas_udf / applyInPandas /
    mapInPandas kernels) resolves for free — which is exactly why a
    single-JVM harness can never catch the failure a real cluster
    hits immediately: separate executor processes spawn their own
    Python workers, cloudpickle re-imports referenced modules there,
    and ``pg_telemetry_spark`` isn't on their path
    (ModuleNotFoundError; found by the round-13 local-cluster sweep —
    6 Arrow-kernel ops died and the standalone master removed the app
    after the executor-failure cascade).

    The fix is the standard cluster deployment move, owned by the
    ENGINE so any session it prepares is cluster-ready: zip the
    package once per process, under the process's scratch root, and
    ``addPyFile`` it, which distributes the archive to every current
    AND future executor and prepends it to the Python worker path.
    On YARN/K8s the same zip rides the identical API.
    """
    if spark.sparkContext.master.startswith("local["):
        return
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zpath = os.path.join(_scratch_root(), "pg_telemetry_spark_pkg.zip")
    if not os.path.exists(zpath):
        with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as z:
            for root, _dirs, files in os.walk(pkg_dir):
                if "__pycache__" in root:
                    continue
                for fn in sorted(files):
                    if not fn.endswith(".py"):
                        continue
                    full = os.path.join(root, fn)
                    z.write(full, os.path.relpath(full, os.path.dirname(pkg_dir)))
    spark.sparkContext.addPyFile(zpath)


def prepare_session(spark: SparkSession) -> SparkSession:
    """Apply required runtime confs to an existing session, and ship
    the package source to remote executors when the master runs them
    as separate processes (see :func:`ship_package`) — once per session
    object.  Later calls are a Python identity check, so a conf the
    caller sets after first use (AQE off, a time zone) survives every
    ``load_table``; a new session object is prepared afresh."""
    state = session_state(spark)
    if state.prepared:
        return spark
    ship_package(spark)
    for key, value in RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            # A conf locked by the host (static conf) — leave as-is;
            # every conf in RUNTIME_CONFS is runtime-settable on stock
            # Spark 4, so this is purely defensive.
            pass
    for key, (default, value) in SIZING_CONFS.items():
        try:
            if spark.conf.get(key) == default:
                spark.conf.set(key, value)
        except Exception:
            pass
    state.prepared = True
    return spark


#: Loop width floor: the measured local optimum at fixture scale,
#: where per-partition fixed costs dominate.
LOOP_WIDTH_FLOOR = 8
#: Loop state rows per partition: a reduce partition in the tens of MB
#: — small, because a round's wall-clock is its slowest partition.
LOOP_ROWS_PER_PARTITION = 250_000

#: Per-round broadcast gate for the iterative ops, and the bound of
#: :func:`loop_sizing`'s small regime (optimization r16, guide
#: §3.1/§2.4).  Each round of PageRank / label propagation /
#: BFS / k-core joins the (persisted) edge list against a per-VERTEX
#: frame (ranks, labels, visited set, survivor set).  As a shuffle join
#: that re-exchanges the edge list every round — measured at sf0.1:
#: wl_pagerank ran 46 jobs / 679 tasks for 8 rounds, most of them
#: exchange-materialization stages over an unchanged edge table.
#: Broadcasting the per-vertex side instead streams the edges through
#: a BroadcastHashJoin, leaving ONE shuffle per round (the
#: destination-keyed aggregation / distinct that the algorithm
#: fundamentally requires).  The hint is gated on the measured vertex
#: count: 5M rows of (long, double) is ~80 MB framed — comfortably
#: inside executor memory and far under Spark's 8 GB / 512M-row
#: broadcast cap — while a bigger graph falls back to the old
#: shuffle-join plan unchanged.  At 100 TB the vertex set exceeds the
#: gate and the fallback is exercised; the bound is data-derived, not
#: a local-mode constant.
LOOP_BROADCAST_CAP = 5_000_000


def loop_shuffle_width(spark: SparkSession, n_rows: int) -> int:
    """Shuffle width for a bounded iterative loop, derived from the
    MEASURED per-round state size instead of a constant (optimization
    r17, guide §2.2/§2.5; VERDICT r16 #1).

    Every iterative operator already counts its state (vertices,
    edges, labels) before the loop — this turns that count into the
    loop's shuffle width: ``clamp(ceil(n_rows /
    LOOP_ROWS_PER_PARTITION), LOOP_WIDTH_FLOOR, defaultParallelism)``.
    The ceiling is the cluster width, so a big graph's per-round
    aggregation can use every core instead of serializing on a
    local-mode constant."""
    hi = max(spark.sparkContext.defaultParallelism, LOOP_WIDTH_FLOOR)
    want = max(
        LOOP_WIDTH_FLOOR, math.ceil(max(int(n_rows), 1) / LOOP_ROWS_PER_PARTITION)
    )
    return min(want, hi)


def loop_sizing(spark: SparkSession, n_rows: int):
    """Shuffle context for a bounded iterative loop BODY, chosen from
    the measured state/edge row count (optimization r17; VERDICT r16
    #1 and ADVICE r16 #1).

    - ``n_rows <= LOOP_BROADCAST_CAP`` (the regime where the loops'
      per-round joins are explicitly broadcast-gated and fixed-shape):
      cap the shuffle width at :func:`loop_shuffle_width` and disable
      AQE — its runtime re-planning contributes nothing to a
      pinned-shape round while every query stage it materializes is a
      blocking job (measured r16: wl_pagerank 29→19 jobs, 3.7→2.8 s).
    - larger graphs (the 100 TB fallback path, where the per-round
      joins fall back to sort-merge): leave the session conf and AQE
      UNTOUCHED — skew-join splitting and partition coalescing are
      the scale story there, and any fixed cap would serialize the
      cluster.

    The loops' broadcast hints gate on the same constant, so the
    AQE-off regime and the broadcast regime coincide."""
    if int(n_rows) <= LOOP_BROADCAST_CAP:
        return sized_shuffle(spark, loop_shuffle_width(spark, n_rows))
    return contextlib.nullcontext()


@contextlib.contextmanager
def scoped_confs(spark: SparkSession, confs: dict[str, str]):
    """Set ``confs`` for one block, then restore each key: its previous
    value, or unset when it was not set before."""
    old = {key: spark.conf.get(key, None) for key in confs}
    try:
        for key, value in confs.items():
            spark.conf.set(key, value)
        yield
    finally:
        for key, value in old.items():
            if value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, value)


#: Spark's checkpoint manager over the Hadoop ``FileSystem`` API.  On a
#: local path its rename is ``File.renameTo``; the default
#: ``FileContext`` manager calls ``FileUtil.readLink`` on every rename
#: and status check, which forks a ``readlink`` process each time.
FILESYSTEM_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def checkpoint_confs(spark: SparkSession, path: str) -> dict[str, str]:
    """Confs for a streaming query checkpointing to ``path``.

    A ``file`` checkpoint (a scheme-less path follows ``fs.defaultFS``)
    gets :data:`FILESYSTEM_CHECKPOINT_MANAGER`: Spark already uses it
    for every filesystem without a ``FileContext``, and one active query
    per checkpoint means its check-then-rename has no second writer.
    Any other scheme (HDFS, S3, ABFS) keeps Spark's default manager.
    Decided from strings alone — no filesystem is instantiated."""
    scheme = urlparse(path).scheme
    if not scheme:
        hadoop_conf = spark._jsparkSession.sessionState().newHadoopConf()
        scheme = urlparse(hadoop_conf.get("fs.defaultFS", "file:///")).scheme
    if scheme != "file":
        return {}
    return {
        "spark.sql.streaming.checkpointFileManagerClass": FILESYSTEM_CHECKPOINT_MANAGER
    }


def sized_shuffle(spark: SparkSession, partitions: int):
    """Cap ``spark.sql.shuffle.partitions`` at ``partitions`` (never
    raising it) and disable AQE for one block; both are restored on
    exit (:func:`scoped_confs`).

    For ITERATIVE operators whose per-round state is tiny by
    construction (component labels, graph ranks): on a host session
    left at the 200-partition default, every round's join + checkpoint
    materializes 200 near-empty partitions and the fixed per-partition
    cost dwarfs the work.  AQE coalesces shuffle READS but the
    checkpoint still lands one block per partition — capping the
    partition count is what actually bounds the per-round overhead.
    At cluster scale the caller picks a cap matching its parallelism;
    this never touches non-iterative query plans.

    AQE is off inside the block (optimization r16).  In a bounded
    iterative loop whose per-round join strategy is already pinned
    (explicit gated broadcast) and whose shuffle width this cap
    already sizes, AQE's runtime re-planning contributes nothing — its
    join re-selection is moot, its skew handling only applies to
    sort-merge/shuffled-hash JOINS (never to the loop's aggregations),
    and its read coalescing is subsumed by the cap — while every query
    stage it materializes is an extra blocking job: measured on
    wl_pagerank's 8 rounds at sf0.1, AQE on = 29 jobs / 3.7-6.2 s vs
    off = 19 jobs / 2.8-3.3 s, identical ranks."""
    key = "spark.sql.shuffle.partitions"
    width = min(int(spark.conf.get(key)), partitions)
    return scoped_confs(
        spark, {key: str(width), "spark.sql.adaptive.enabled": "false"}
    )


def iter_checkpoint(df, eager: bool = True):
    """Lineage truncation for iterative operators (:func:`iterate`'s
    rounds, BPE merges) and for small multi-consumer frames.

    Default: ``localCheckpoint`` — fast, blocks live on executors.
    That is the right local/bench trade, but those blocks are
    UNREPLICATED: losing the executor that holds a truncated round's
    blocks can fail the job (the round-13 executor-kill probe
    recovered, but only because retry landed before truncation was
    load-bearing).  With ``PG_TELEMETRY_SPARK_CHECKPOINT_DIR`` set,
    iterative ops switch to RELIABLE ``checkpoint()`` into that
    directory (HDFS/S3/NFS on a real cluster) — blocks survive any
    executor loss.  Set ``spark.cleaner.referenceTracking.cleanCheckpoints=true``
    (or manage the directory lifecycle) to reclaim space.
    """
    d = os.environ.get("PG_TELEMETRY_SPARK_CHECKPOINT_DIR")
    if not d:
        return df.localCheckpoint(eager=eager)
    # Compare against the dir last APPLIED to this SparkContext, not a
    # set of dirs seen: an A->B->A revisit must re-apply A.
    state = session_state(df.sparkSession)
    if state.ckpt_dir != d:
        df.sparkSession.sparkContext.setCheckpointDir(d)
        state.ckpt_dir = d
    if eager:
        # Reliable checkpoint writes its files in a SEPARATE job after
        # the materializing action, so an unpersisted lineage is
        # computed twice per round.  Persist for the write, release
        # immediately after — the returned frame reads the checkpoint
        # files, not this cache.
        df.persist()
        try:
            return df.checkpoint(eager=True)
        finally:
            df.unpersist()
    # lazy: materialization happens at the caller's next action, so a
    # persist here could not be released deterministically (the cache
    # contract forbids open-ended pins); lazy callers accept the
    # double-compute on the reliable path.
    return df.checkpoint(eager=False)


def iterate(state, step, n_rows: int, max_rounds: int, witness=None, start=None):
    """Run a bounded iterative loop and return ``(state, settled)``.

    Each round sets ``state = step(state, i)`` (``i`` counts rounds
    from 0) under :func:`loop_sizing` for ``n_rows``, and a lazy
    :func:`iter_checkpoint` cuts the new state's lineage.

    - Without ``witness``, exactly ``max_rounds`` rounds run and
      ``settled`` is False.  The next round's broadcast build (or the
      caller's action) materializes each checkpoint.
    - With ``witness`` aggregate columns, the round's one action is
      ``state.agg(*witness).first()``, which also materializes the
      checkpoint.  The loop stops at the first round whose witness
      equals the previous round's, with ``settled`` True; ``start`` is
      the witness before round 0, so the first round can settle.
      ``settled`` is False when no round repeats within ``max_rounds``.
    """
    prev = start
    with loop_sizing(state.sparkSession, n_rows):
        for i in range(max_rounds):
            state = iter_checkpoint(step(state, i), eager=False)
            if witness is None:
                continue
            cur = tuple(state.agg(*witness).first())
            if cur == prev:
                return state, True
            prev = cur
    return state, False


def local_frame(
    spark: SparkSession, rows: list, schema: T.StructType | str
) -> DataFrame:
    """``rows`` (tuples or Rows) as a DataFrame built from an Arrow
    table.  It plans as a ``LocalTableScan``, so reading it fires no
    job, where a list-built frame is RDD-backed and collecting it runs
    one task per core through Python workers.  Values go through the
    field type's ``toInternal`` as on the list path, so a naive
    collected datetime keeps its instant under any host time zone."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) if rows else [()] * len(schema.fields)
    arrays = [
        pa.array(
            [f.dataType.toInternal(v) for v in col] if f.needConversion() else col,
            type=arrow_field.type,
        )
        for f, arrow_field, col in zip(schema.fields, arrow_schema, columns)
    ]
    table = pa.Table.from_arrays(arrays, schema=arrow_schema)
    return spark.createDataFrame(table, schema)


def get_session(app_name: str = "pg_telemetry_spark") -> SparkSession:
    """Build (or fetch) a local session configured for the engine.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default: all).
    The builder sets only static confs (:data:`STATIC_CONFS` and the
    driver's memory and UI); every engine conf comes from
    :func:`prepare_session`, as on a host's plain session.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    # SPARK_GRAFT_MASTER overrides the local master entirely (e.g.
    # 'local-cluster[4,8,8192]' for real multi-process executors, or a
    # standalone/YARN URL on a deployment) — prepare_session ships the
    # package source automatically for any non-local master.
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # 16g default (round 9): the single-JVM local harness now runs
        # 135-query legs up to sf10 in one session; 8g survived 67
        # queries (r8) but OOMed ~120 queries into the r9 sf10 leg.
        # On a real cluster this is per-executor sizing, not a scale
        # assumption — the box has 128 GiB.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config(map=STATIC_CONFS)
    )
    if not master.startswith("local["):
        # separate executor processes: size their heaps explicitly
        # (the 1g default OOM-cycles under the Arrow kernels — see
        # BASELINE.md round 13)
        builder = builder.config(
            "spark.executor.memory",
            os.environ.get("SPARK_GRAFT_EXECUTOR_MEM", "3g"),
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return prepare_session(spark)
