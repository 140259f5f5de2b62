"""Benchmark plumbing shared by the workloads: host sizing, the Spark
session's lifetime, spans around calls into the package, counters read
from Spark's status store, and the statistics the result reports.

Nothing here imports the package under test at module load; the session
module is imported only after ``configure_host`` has set the environment
it reads.
"""

from __future__ import annotations

import os
import resource
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

# --------------------------------------------------------------------------
# Host sizing
# --------------------------------------------------------------------------


def host_cpus() -> int:
    """CPUs this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def host_mem_gib() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // (1024 * 1024)
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def cpu_probe_s() -> float:
    """Seconds one core takes for a fixed pure-Python loop (best of three).
    Stamped at the start and end of each run, so a reader can tell a slow
    run from a slow spell of a shared host; no metric is scaled by it."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(1_000_000):
            acc += i
        best = min(best, time.perf_counter() - t0)
    return round(best, 4)


def configure_host(work: str) -> dict:
    """Size the session to this host through the environment the session
    module reads, and keep every scratch file Spark or Python writes under
    ``work``. Returns the stamp each result carries."""
    cpus = host_cpus()
    driver_mem = f"{max(1, min(4, host_mem_gib() // 4))}g"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_mem
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # Every JVM Spark starts (launcher and driver) keeps its temp files
    # here and writes no perf-data file to the system temp directory.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.pop("SPARK_GRAFT_STATE_STORE", None)
    import pyspark

    return {
        "nproc": cpus,
        "cpu_count": os.cpu_count(),
        "spark_graft_cpus": cpus,
        "driver_mem": driver_mem,
        "pyspark": pyspark.__version__,
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "cpu_probe_s": cpu_probe_s(),
    }


# --------------------------------------------------------------------------
# Session lifetime
# --------------------------------------------------------------------------


def start_session(work: str):
    """The package's own session factory, plus scratch paths inside
    ``work`` and enough progress history for a whole run."""
    from data_pipeline_with_spark_kafka_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.sql.streaming.numRecentProgressUpdates": "5000",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


SETUP_ROUNDS = 5


def set_up(ctx, out: "Outcome", prepare, warm=None):
    """Five timed set-up rounds, each: (re)start the session, then
    ``prepare(spark, round)`` generates the inputs and fills the memo
    caches; ``setup_s`` is the median round. Then ``warm(spark, state)``
    runs the workload's warm-up, untimed, on the last round's session so
    the JIT has compiled the hot paths. Returns that session and state."""
    spark = state = None
    for r in range(SETUP_ROUNDS):
        t0 = time.perf_counter()
        if spark is not None:
            spark.stop()
        spark = start_session(ctx.work)
        out.session_start.append(time.perf_counter() - t0)
        clear_memo_caches()
        state = prepare(spark, r)
        out.setup_rounds.append(time.perf_counter() - t0)
    if warm is not None:
        w0 = time.perf_counter()
        warm(spark, state)
        out.detail["warm_up_s"] = round(time.perf_counter() - w0, 3)
    out.mark("set_up")
    return spark, state


def clear_memo_caches() -> None:
    """Empty the package's process-level memo caches so each set-up round
    refills them (the fill is set-up work, never timed work)."""
    from data_pipeline_with_spark_kafka_spark.operators import (
        bpe,
        classifier_train,
        clustering,
        dedup,
        importance,
        quantization,
    )

    for cache in (
        classifier_train._MODEL_CACHE,
        clustering._CENTROID_CACHE,
        bpe._MERGE_CACHE,
        quantization._SQ8_CACHE,
        importance._WEIGHT_CACHE,
        dedup._MAX_BLOCK_CACHE,
    ):
        cache.clear()


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python process plus the driver JVM."""
    py_kib = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kib = 0
    pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kib = int(line.split()[1])
    return (py_kib + jvm_kib) / 1024.0


# --------------------------------------------------------------------------
# Spans
# --------------------------------------------------------------------------


@dataclass
class Span:
    id: int
    layer: str
    name: str
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans kept in memory. A span's parent is the innermost open span of
    the same thread, or ``parent`` when given (stream callbacks run on a
    callback thread under the span of the drain that caused them).
    Disabled tracers record nothing and cost one branch per call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, layer: str, name: str = "", parent: int | None = None):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        if parent is None and stack:
            parent = stack[-1]
        with self._lock:
            s = Span(len(self.spans), layer, name, parent, time.perf_counter())
            self.spans.append(s)
        stack.append(s.id)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()

    def self_times(self) -> dict[str, float]:
        """Per layer: span durations minus the time their children cover."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child_time[s.parent] = child_time.get(s.parent, 0.0) + s.duration
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.layer] = out.get(s.layer, 0.0) + max(0.0, s.duration - child_time.get(s.id, 0.0))
        return out


# --------------------------------------------------------------------------
# Spark's own counters
# --------------------------------------------------------------------------


@dataclass
class SparkTotals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    gc_s: float = 0.0

    def __add__(self, o: "SparkTotals") -> "SparkTotals":
        return SparkTotals(*(getattr(self, k) + getattr(o, k) for k in self.__dataclass_fields__))


class SparkCounters:
    """Job, stage and task counters read from the application status store
    (it is kept with the UI disabled). ``delta()`` returns what ran since
    the previous call."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._store = self._sc.statusStore()
        self._jobs0 = self._mark0 = self._next_job()
        self._stage0 = self._next_stage()

    def _next_job(self) -> int:
        v = self._sc.dagScheduler().nextJobId()
        return v if isinstance(v, int) else v.get()

    def _next_stage(self) -> int:
        v = self._sc.dagScheduler().nextStageId()
        return v if isinstance(v, int) else v.get()

    def jobs_since_mark(self) -> int:
        return self._next_job() - self._mark0

    def mark(self) -> None:
        self._mark0 = self._next_job()

    def delta(self) -> SparkTotals:
        jobs1, stage1 = self._next_job(), self._next_stage()
        t = SparkTotals(jobs=jobs1 - self._jobs0, stages=stage1 - self._stage0)
        for sid in range(self._stage0, stage1):
            try:
                st = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # skipped stages never reach the store
                continue
            t.tasks += st.numTasks()
            t.shuffle_write_bytes += st.shuffleWriteBytes()
            t.spill_bytes += st.diskBytesSpilled()
            t.gc_s += st.jvmGcTime() / 1000.0
        self._jobs0, self._stage0 = jobs1, stage1
        return t


def wait_listener(spark, timeout: float = 10.0) -> None:
    """Block until the listener bus has delivered every posted event, so
    the status store covers all jobs that have ended."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(int(timeout * 1000))


# --------------------------------------------------------------------------
# Statistics and the result record
# --------------------------------------------------------------------------


def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else float("nan")


def percentile(xs: list[float], q: float) -> float | None:
    """The q-quantile (0 < q < 1), or None unless at least ten samples lie
    beyond it."""
    if len(xs) * (1.0 - q) < 10:
        return None
    s = sorted(xs)
    return float(s[min(len(s) - 1, int(q * len(s)))])


@dataclass
class Outcome:
    """What one workload run produced."""

    t0: float = field(default_factory=time.perf_counter)
    setup_rounds: list[float] = field(default_factory=list)
    session_start: list[float] = field(default_factory=list)
    pass_s: list[float] = field(default_factory=list)
    e2e: dict[str, float] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    checks: dict[str, bool] = field(default_factory=dict)
    detail: dict = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)

    def op(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += 0 if ok else 1

    def mark(self, phase: str) -> None:
        self.detail[f"{phase}_done_s"] = round(time.perf_counter() - self.t0, 3)

    def check(self, name: str, ok: bool) -> None:
        self.checks[name] = bool(ok)
        self.op(bool(ok))
