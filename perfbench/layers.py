"""Per-layer instrumentation, measured from outside the library.

Layers are named after the library's modules: ``session`` (session start
and every parquet load), ``queries`` (query build, with the functions,
operators and compute code it reaches), ``catalyst`` (analysis,
optimization and planning, read from ``QueryExecution.tracker``),
``exec`` (Spark jobs, read back from the status store), ``io``,
``serialization`` and ``store``.

``Probe`` wraps the library's public loaders while tracing is on, tags
every Spark job with the span that fired it (a job group per span),
listens for the queries the session executes, and after each operation
turns the jobs into ``exec`` spans and per-window counters and the
Catalyst phases into ``catalyst`` spans.  Nothing here runs in an
untraced pass.

The Catalyst phases are the ones the engine runs anyway, never a planning
pass of the benchmark's own: the analysis a DataFrame went through while
it was built, and the phases of every query the session executes (a
``QueryExecutionListener`` reports them, the noop write's own command
included).  Each phase becomes a child span of the innermost span it ran
in, so a sink's planning is taken out of ``exec.sink`` and the planning
of a query that fires jobs while it builds out of ``queries.build``.

Which end-to-end metric each layer should move, and where:

* ``session.get_spark_s``: ``setup_s`` on every workload;
* ``session.load_table_*`` (every parquet load, through ``load_table``
  or ``spark.read.parquet``): ``pass_s`` on the query workloads, nothing
  on arrow-interchange;
* ``queries.build_*``: ``pass_s`` and the operation latencies on
  eager-jobs; on scan-agg the job count is 0;
* ``catalyst.*`` (``QueryExecution.tracker``): operation latencies on
  scan-agg;
* ``exec.build.*`` and ``exec.sink.*`` (jobs fired while building, and
  by the noop sink): ``pass_s`` on eager-jobs and scan-agg respectively;
* ``exec.python_bytes_*`` (Python-worker SQL metrics) and ``io.*``: the
  interchange MB/s figures and ``pass_s`` on arrow-interchange;
* ``serialization.*`` and ``store.*``: ``pass_s`` on arrow-interchange.
"""

from __future__ import annotations

import re
import sys
import threading
import uuid
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.readwriter import DataFrameReader

from perfbench.spans import Span, Tracer, covered

JOB_GROUP = "spark.jobGroup.id"
# Windows of Spark work an operation can fire jobs in: while a query or
# interchange call builds its result, or in the sink that consumes it.
WINDOWS = ("build", "sink")
_PY_SENT = "data sent to Python workers"
_PY_RETURNED = "data returned from Python workers"
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def parse_size_metric(text: str) -> int:
    """Total bytes from a size SQLMetric's display string
    (``total (min, med, max ...)\\n46.8 MiB (...)``)."""
    m = re.search(r"\n\s*([0-9.]+)\s*(B|KiB|MiB|GiB|TiB)\b", text) or re.match(
        r"\s*([0-9.]+)\s*(B|KiB|MiB|GiB|TiB)\b", text
    )
    if not m:
        raise ValueError(f"not a size metric: {text!r}")
    return int(float(m.group(1)) * _UNITS[m.group(2)])


PHASES = ("analysis", "optimization", "planning")
# Resolution of the tracker's phase times, in seconds.
_TRACKER_TICK = 1e-3


def tracker_phases(qe) -> list[tuple[str, float, float]]:
    """The Catalyst phases a ``QueryExecution`` has run, as (phase, start,
    end) in wall-clock seconds."""
    phases = qe.tracker().phases()
    out = []
    for name in PHASES:
        opt = phases.get(name)
        if opt.isDefined():
            summary = opt.get()
            out.append((name, summary.startTimeMs() / 1e3, summary.endTimeMs() / 1e3))
    return out


class PlanListener:
    """A ``QueryExecutionListener``, implemented over the py4j callback
    server, that keeps the Catalyst phases of every query the session
    executes."""

    def __init__(self) -> None:
        # the listener is called on a py4j callback thread
        self._lock = threading.Lock()
        self._phases: list[tuple[str, float, float]] = []

    def add(self, phases: list[tuple[str, float, float]]) -> None:
        with self._lock:
            self._phases += phases

    def take(self) -> list[tuple[str, float, float]]:
        """The phases kept so far, forgetting them."""
        with self._lock:
            out, self._phases = self._phases, []
        return out

    def onSuccess(self, funcName, qe, durationNs) -> None:  # noqa: N802, N803
        self.add(tracker_phases(qe))

    def onFailure(self, funcName, qe, exception) -> None:  # noqa: N802, N803
        self.add(tracker_phases(qe))

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def attribute_phases(phases, spans: list[Span]) -> list[tuple[str, float, float, Span]]:
    """Each distinct phase interval with the innermost of ``spans`` it
    started in (the one that started last).  Phases that started outside
    every span, such as the queries of a check, are dropped."""
    out = []
    for name, start, end in sorted(set(phases)):
        inside = [s for s in spans if s.start - _TRACKER_TICK <= start <= s.end]
        if inside:
            out.append((name, start, end, max(inside, key=lambda s: s.start)))
    return out


class Probe:
    """Traced-pass instrumentation for one Spark session."""

    def __init__(self, spark: SparkSession, tracer: Tracer) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.tracer = tracer
        self._groups: dict[int, tuple[Span, str]] = {}  # span id -> (span, window)
        self._patched: list[tuple[object, str, object]] = []
        self.counters: dict[str, float] = {}
        self._tag = f"perfbench-{uuid.uuid4().hex[:8]}"
        self.listener = PlanListener()

    # -- job tagging -------------------------------------------------------
    @contextmanager
    def span(self, name: str, layer: str, window: str = "build"):
        """A span whose Spark jobs are tagged with its own job group, so
        they can be attributed to it afterwards; ``window`` says whether
        its jobs are build-time or sink work."""
        outer = self.sc.getLocalProperty(JOB_GROUP)
        with self.tracer.span(name, layer) as s:
            self._groups[s.id] = (s, window)
            self.sc.setLocalProperty(JOB_GROUP, f"{self._tag}-{s.id}")
            try:
                yield s
            finally:
                self.sc.setLocalProperty(JOB_GROUP, outer)

    # -- wrapping the library's loaders -------------------------------------
    def install(self) -> None:
        """Wrap ``session.load_table`` (under every name a library module
        imported it as) and ``DataFrameReader.parquet``: both are parquet
        loads, and a load nested in another is one call.  Register the
        Catalyst phase listener."""
        import apache_arrow_spark.session as session_mod
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(self.sc._gateway)
        self.spark._jsparkSession.listenerManager().register(self.listener)

        probe = self
        original_load = session_mod.load_table
        original_parquet = DataFrameReader.parquet

        def load_table(*args, **kwargs):
            return probe._load(original_load, *args, **kwargs)

        def parquet(reader, *paths, **options):
            return probe._load(original_parquet, reader, *paths, **options)

        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("apache_arrow_spark") and (
                getattr(mod, "load_table", None) is original_load
            ):
                self._patch(mod, "load_table", load_table)
        self._patch(DataFrameReader, "parquet", parquet)

    def _patch(self, owner, attr, value) -> None:
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def uninstall(self) -> None:
        self.spark._jsparkSession.listenerManager().unregister(self.listener)
        while self._patched:
            owner, attr, value = self._patched.pop()
            setattr(owner, attr, value)

    def _load(self, fn, *args, **kwargs):
        cur = self.tracer.current
        if cur is None or cur.layer == "session":
            return fn(*args, **kwargs)
        self.counters["session.load_table_calls"] = (
            self.counters.get("session.load_table_calls", 0) + 1
        )
        with self.span("session.load_table", "session", window="load"):
            return fn(*args, **kwargs)

    # -- catalyst -----------------------------------------------------------
    def plan(self, df: DataFrame) -> None:
        """Keep the Catalyst phases ``df``'s own ``QueryExecution`` has
        already run: its analysis, done while ``df`` was built.  The write
        that sinks ``df`` plans it again in a query of its own, which the
        listener reports."""
        self.listener.add(tracker_phases(df._jdf.queryExecution()))

    # -- after an operation: jobs -> exec spans and counters -----------------
    def collect(self) -> None:
        """Read back the jobs every tagged span fired since the last call.
        A sink span is itself the exec layer; jobs fired inside a build,
        io or store span become ``exec.job`` child spans of it.  Jobs a
        parquet load fires (schema inference) stay part of the load.  The
        Catalyst phases become ``catalyst.plan`` child spans."""
        # the status store and the listener are fed by an asynchronous
        # listener bus
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
        spans = [s for s, _window in self._groups.values()]
        for phase, start, end, parent in attribute_phases(self.listener.take(), spans):
            s = self.tracer.add("catalyst.plan", "catalyst", start, end, parent)
            self._add(f"catalyst.{phase}_ms", s.duration * 1e3)
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        job_ids: list[int] = []
        for span, window in self._groups.values():
            ids = tracker.getJobIdsForGroup(f"{self._tag}-{span.id}")
            job_ids += ids
            if window == "load" or not ids:
                continue
            for j in ids:
                if window == "build":
                    data = store.job(j)
                    start = data.submissionTime().get().getTime() / 1000.0
                    end = data.completionTime().get().getTime() / 1000.0
                    self.tracer.add("exec.job", "exec", start, end, span)
                self._stage_totals(window, span.layer, tracker.getJobInfo(j).stageIds, store)
            self._add(f"exec.{window}.jobs", len(ids))
            if window == "build" and span.layer == "queries":
                self._add("queries.build_jobs", len(ids))
        self._python_bytes(job_ids)
        self._groups.clear()

    def _stage_totals(self, window: str, layer: str, stage_ids, store) -> None:
        for sid in stage_ids:
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:
                # never submitted (skipped) or already evicted from the store
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            self._add(f"exec.{window}.stages", 1)
            if layer == "queries":
                self._add("queries.build_stages", 1)
            self._add(f"exec.{window}.tasks", sd.numCompleteTasks())
            self._add(f"exec.{window}.task_run_s", sd.executorRunTime() / 1e3)
            self._add(f"exec.{window}.task_cpu_s", sd.executorCpuTime() / 1e9)
            self._add(f"exec.{window}.gc_s", sd.jvmGcTime() / 1e3)
            self._add(f"exec.{window}.fetch_wait_s", sd.shuffleFetchWaitTime() / 1e3)
            self._add(f"exec.{window}.shuffle_write_bytes", sd.shuffleWriteBytes())
            self._add(f"exec.{window}.shuffle_read_bytes", sd.shuffleReadBytes())

    def _python_bytes(self, job_ids: list[int]) -> None:
        """Python-worker bytes from the SQL executions that ran these jobs."""
        if not job_ids:
            return
        wanted = set(job_ids)
        sql = self.spark._jsparkSession.sharedState().statusStore()
        n = sql.executionsCount()
        recent = sql.executionsList(max(0, n - 64), min(n, 64))
        for i in range(recent.size()):
            ex = recent.apply(i)
            ex_jobs = {int(j) for j in ex.jobs().keySet().toSeq().mkString(",").split(",") if j}
            if not ex_jobs & wanted:
                continue
            values = sql.executionMetrics(ex.executionId())
            metrics = ex.metrics()
            for k in range(metrics.size()):
                m = metrics.apply(k)
                key = {_PY_SENT: "exec.python_bytes_sent", _PY_RETURNED: "exec.python_bytes_returned"}.get(m.name())
                if key is None:
                    continue
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    self._add(key, parse_size_metric(v.get()))

    def _add(self, key: str, value: float) -> None:
        self.counters[key] = self.counters.get(key, 0) + value


def exec_window_seconds(spans: list[Span], self_time: dict[int, float]) -> dict[str, float]:
    """Wall seconds of Spark work per window: the self time of sink spans
    and the union of ``exec.job`` spans fired at build time."""
    out = {w: 0.0 for w in WINDOWS}
    by_parent: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.name == "exec.job":
            by_parent.setdefault(s.parent, []).append((s.start, s.end))
        elif s.name == "exec.sink":
            out["sink"] += self_time[s.id]
    out["build"] = sum(covered(iv) for iv in by_parent.values())
    return out
