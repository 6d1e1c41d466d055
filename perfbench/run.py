"""Benchmark of the apache_arrow_spark engine.

    python3 perfbench/run.py --workload eager-jobs --seed 1 --seconds 10 --trace 0

Workloads (the query lists and how they were chosen are in workloads.json):

* ``scan-agg``: headline queries that fire no Spark job while their query
  function builds the DataFrame, each timed from the ``QUERIES[name]``
  call through the noop-sink write;
* ``eager-jobs``: headline queries that do fire jobs while building
  (observe, collect, checkpoint), timed the same way;
* ``arrow-interchange``: egress, ingest, IPC, serialization and object
  store operations on frames cached before timing.

Load model: closed loop, one client.  One client thread issues the next
operation only after the previous one returned and was checked.  The
engine runs on ``local[N]`` with N the usable cores, through
``session.get_spark``.  ``--seed`` generates the tables and frames and
permutes the operation order of every pass.

A run sets up several times (``setup_s`` is the median; the first
set-up, which launches the JVM, is also reported alone as
``session.cold_start_s``), makes one untimed warm-up pass whose every
output is checked, then runs passes for ``--seconds``.  ``--trace 1``
alternates untraced and traced passes of one round each (every distinct
operation once), so both kinds see the JVM at the same stage of
compiling, and reports per-layer numbers from the traced ones.  The last
line of standard output is the JSON result; the lines before it name
every metric with its unit.  Everything the run writes stays under
``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("scan-agg", "eager-jobs", "arrow-interchange")
# Scale factor of the generated tables.  The query workloads' cost is
# mostly fixed per-query and per-job cost, and at 0.1 neither a pass nor
# the DuckDB oracle checks of the similarity queries fit a run.  At 0.01
# the interchange lineitem frame has 60,000 rows (4.8 MB of Arrow).
SCALE = 0.01
# Set-ups per run.  Only the first launches the JVM (``session.cold_start_s``)
# and so takes the JVM-wide confs (heap, codegen cache); the others restart
# the session in it.  ``setup_s``, their median, is a restart and leaves the
# JVM launch out: a cold set-up costs 8 to 18 s on 4 cores against 0.2 to
# 2 s for a restart, and with two cold set-ups a run took 68 to 79 s, too
# long for the runs of both listed workloads to fit their time budget.
SETUP_REPEATS = 3
# A run measures past --seconds until its untraced passes hold this many
# operation latencies: the fewest for which the tail rule (ten samples
# beyond the reported percentile) yields a percentile at all.  A timed
# pass repeats every distinct operation often enough to reach it alone
# (``repeats``): repeats add latencies without adding distinct
# operations, each of which pays code generation in the warm-up pass.
MIN_SAMPLES = 20
# JVM heap of the local-mode engine (driver and executors share it).  The
# library defaults to 8g; 3g bounds the memory a run takes on a shared
# host.
HEAP = "3g"
# A DuckDB oracle slower than this fails the check (it is interrupted).
ORACLE_TIMEOUT_S = 30
# Prefix of the scratch directories library queries create (tempfile).
SCRATCH_PREFIX = "aas_"
# Scratch (the engine's temporary and local directories) may not grow by
# more than this from the end of the warm-up pass to the end of any timed
# pass, once Spark has deleted what it deletes lazily.
SCRATCH_GROWTH_LIMIT = 1 << 20
# Longest wait for that deletion.
SCRATCH_SETTLE_S = 10.0


class ScratchGrew(RuntimeError):
    pass


def repeats(n_ops: int) -> int:
    """Times each distinct operation runs in a timed pass."""
    return math.ceil(MIN_SAMPLES / n_ops)


def check_scratch(baseline: int, now: int) -> None:
    grown = now - baseline
    if grown > SCRATCH_GROWTH_LIMIT:
        raise ScratchGrew(f"scratch grew by {grown} bytes since the warm-up pass")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def isolate(work: str, cores: int) -> None:
    """Point every directory the engine writes to inside ``work`` and fix
    the engine's core count, before pyspark starts a JVM."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        TMPDIR=tmp,
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM=HEAP,
        SPARK_GRAFT_LOCAL_DIR=local,
        SPARK_LOCAL_DIRS=local,
        SPARK_GRAFT_WAREHOUSE=os.path.join(work, "warehouse"),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


class Runner:
    """The closed-loop client: session, inputs, timers and results."""

    def __init__(self, workload: str, seed: int, work: str, cores: int):
        self.workload = workload
        self.seed = seed
        self.cores = cores
        self.data_dir = os.path.join(work, "data")
        self.tmp = os.environ["TMPDIR"]
        self.local_dir = os.environ["SPARK_LOCAL_DIRS"]
        self.spark = None
        self.frames = {}
        self.nested = None
        self.store = self.store_sub = None
        self.probe = None  # set during traced passes
        self.parts: dict[str, float] = {}
        self.op_count = 0
        self._duck = None
        self.get_spark_s: list[float] = []
        self.peak_rss_mb = 0.0

    # -- timers used by the operations -----------------------------------
    @contextmanager
    def step(self, name: str, layer: str, window: str = "build"):
        t0 = time.perf_counter()
        try:
            if self.probe is None:
                yield
            else:
                with self.probe.span(name, layer, window):
                    yield
        finally:
            self.parts[name] = self.parts.get(name, 0.0) + time.perf_counter() - t0

    def plan(self, df) -> None:
        if self.probe is not None:
            self.probe.plan(df)

    def scratch_dir(self, name: str) -> str:
        return os.path.join(self.tmp, f"{SCRATCH_PREFIX}bench_{name}_{self.op_count}")

    def oracle(self, sql: str):
        import duckdb

        if self._duck is None:
            from tools.check_oracle import TABLES

            self._duck = duckdb.connect()
            for t in TABLES:
                path = os.path.join(self.data_dir, f"{t}.parquet")
                self._duck.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        timer = threading.Timer(ORACLE_TIMEOUT_S, self._duck.interrupt)
        timer.start()
        try:
            return self._duck.sql(sql).df()
        finally:
            timer.cancel()

    # -- set-up ----------------------------------------------------------
    def setup_once(self) -> float:
        """Start the session through ``get_spark`` (the first call launches
        the JVM, later ones stop the session and restart it in that JVM)
        and prepare the fixtures."""
        from apache_arrow_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
            self.frames.clear()
        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", master=f"local[{self.cores}]")
        self.get_spark_s.append(time.perf_counter() - t0)
        if self.workload == "arrow-interchange":
            self.prepare_interchange()
        return time.perf_counter() - t0

    def prepare_interchange(self) -> None:
        from apache_arrow_spark.store import ObjectStore
        from perfbench import workloads as w

        for name in ("blog", "lineitem"):
            self.frames[name] = w.Frame(name, os.path.join(self.data_dir, f"{name}.parquet"), self.spark)
        self.nested = w.nested_list(self.seed)
        self.store = ObjectStore(self.spark)
        self.store_sub = self.store.subscribe()

    def ops(self):
        """The workload's distinct operations."""
        from perfbench import workloads as w

        if self.workload == "arrow-interchange":
            return w.interchange_ops()
        names = w.load_membership()["workloads"][self.workload]["queries"]
        return [w.QueryOp(n) for n in names]

    # -- one operation ------------------------------------------------------
    def scratch_bytes(self) -> int:
        from perfbench import envinfo

        return envinfo.tree_bytes(self.tmp) + envinfo.tree_bytes(self.local_dir)

    def settle_scratch(self, ceiling: float = math.inf) -> int:
        """Scratch bytes once Spark's ContextCleaner has deleted the shuffle
        files of queries nothing references any more.  Runs both garbage
        collectors every quarter second (the JVM objects the first round
        frees in Python are released only by a later round) until two
        readings agree and are at most ``ceiling``, for at most
        ``SCRATCH_SETTLE_S``."""
        deadline = time.monotonic() + SCRATCH_SETTLE_S
        last = None
        while True:
            gc.collect()
            if self.spark is not None:
                self.spark._jvm.System.gc()
            time.sleep(0.25)
            now = self.scratch_bytes()
            if now == last <= ceiling or time.monotonic() > deadline:
                return now
            last = now

    def scratch_entries(self) -> set[str]:
        return {e for e in os.listdir(self.tmp) if e.startswith(SCRATCH_PREFIX)}

    def run_op(self, op, check: bool, tracer=None) -> dict:
        """Issue one operation, then (outside its timer) check it and
        clean up what it left behind."""
        from perfbench import workloads as w

        before = self.scratch_entries()
        self.parts = {}
        self.op_count += 1
        rec = {"op": op.name, "op_id": self.op_count, "ok": True}
        counts0 = dict(self.probe.counters) if self.probe is not None else {}
        t0 = time.perf_counter()
        try:
            if tracer is None:
                out = op.run(self)
            else:
                with tracer.span(f"op:{op.name}", "op", op=self.op_count):
                    out = op.run(self)
            rec["wall"] = time.perf_counter() - t0
            rec["flows"] = op.flows(self, self.parts)
            if check:
                t1 = time.perf_counter()
                op.check(self, out)
                rec["check_s"] = time.perf_counter() - t1
        except w.CheckFailed as exc:
            rec.update(ok=False, error=str(exc))
        except Exception as exc:  # a failed operation is counted, not fatal
            rec.update(ok=False, error=f"{type(exc).__name__}: {exc}"[:500])
        rec.setdefault("wall", time.perf_counter() - t0)
        if self.probe is not None:
            self.probe.collect()
            rec["counts"] = {
                k: v - counts0.get(k, 0)
                for k, v in self.probe.counters.items()
                if v != counts0.get(k, 0)
            }
        if self.workload != "arrow-interchange":
            self.spark.catalog.clearCache()
        for entry in self.scratch_entries() - before:
            path = os.path.join(self.tmp, entry)
            if os.path.isdir(path):
                shutil.rmtree(path, ignore_errors=True)
            elif os.path.exists(path):
                os.remove(path)
        if self.scratch_entries() != before:
            rec.update(ok=False, error=f"scratch left behind: {sorted(self.scratch_entries() - before)}")
        return rec

    def run_pass(self, index: int, rounds: int, check: bool, tracer=None) -> dict:
        """One pass of ``rounds`` rounds, each issuing every distinct
        operation once in its own seeded order.  The JVM is still
        compiling during the first timed pass, so its latencies fall as it
        goes; by rounds, every operation's median comes from the same part
        of the pass."""
        from perfbench import envinfo

        ops = self.ops()
        rng = random.Random(self.seed * 1_000_003 + index)
        order = []
        for _ in range(rounds):
            order += rng.sample(ops, len(ops))
        load0, ticks0 = envinfo.loadavg_1m(), envinfo.cpu_ticks()
        recs = [self.run_op(op, check, tracer) for op in order]
        self.peak_rss_mb = max(self.peak_rss_mb, envinfo.tree_peak_rss_mb())
        return {
            "index": index,
            "traced": tracer is not None,
            "wall": sum(r["wall"] for r in recs),
            "ops": recs,
            "loadavg": [load0, envinfo.loadavg_1m()],
            "steal": envinfo.steal_fraction(ticks0, envinfo.cpu_ticks()),
        }


def pass_seconds(passes: list[dict]) -> float:
    """One pass over the workload's distinct operations, each at its
    median latency over the run's timed passes: robust to the few slow
    calls while the JVM is still compiling."""
    lat: dict[str, list[float]] = defaultdict(list)
    for p in passes:
        for r in p["ops"]:
            lat[r["op"]].append(r["wall"])
    return sum(statistics.median(v) for v in lat.values())


def e2e_metrics(setups: list[float], warmup: dict, passes: list[dict], peak_rss_mb: float) -> dict:
    """The metrics a user of the engine sees, keyed by name, as (value,
    unit), from the untraced passes."""
    from perfbench.spans import percentile, tail

    lat = [r["wall"] for p in passes for r in p["ops"]]
    tail_value, pct, n = tail(lat)
    flows: dict[str, list[float]] = defaultdict(lambda: [0.0, 0.0])
    for p in passes:
        for r in p["ops"]:
            for key, (nbytes, secs) in r.get("flows", {}).items():
                flows[key][0] += nbytes
                flows[key][1] += secs
    ops = [r for p in [warmup, *passes] for r in p["ops"]]
    out = {
        "setup_s": (statistics.median(setups), "s"),
        "warmup_s": (warmup["wall"], "s"),
        "pass_s": (pass_seconds(passes), "s"),
        "op_p50_s": (percentile(lat, 50.0), "s"),
        "op_tail_s": (tail_value, "s"),
        "error_rate": (sum(not r["ok"] for r in ops) / len(ops), "ratio"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
    }
    for key in ("egress", "ingest", "ipc_write", "ipc_read"):
        if key in flows:
            nbytes, secs = flows[key]
            out[f"{key}_mb_s"] = (nbytes / 1e6 / secs, "MB/s")
    out["_tail"] = (pct, n)
    return out


def layer_metrics(
    wanted: list[dict],
    e2e: dict,
    tracer,
    traced: list[dict],
    untraced: list[dict],
    counters: list[dict],
    setups: list[float],
    get_spark_s: list[float],
    cores: int,
) -> dict:
    """Per-layer metrics: totals per traced pass (one round), median
    across passes, as (value, unit)."""
    from perfbench import layers
    from perfbench.spans import self_times

    st = self_times(tracer.spans)
    by_op = defaultdict(list)
    for s in tracer.spans:
        by_op[s.op].append(s)
    per_pass = []
    coverage = []
    for p, c in zip(traced, counters):
        vals: dict[str, float] = defaultdict(float, c)
        spans = [s for r in p["ops"] for s in by_op.get(r.get("op_id"), [])]
        for s in spans:
            if s.layer not in ("op", "exec"):
                vals[f"{s.name}_s"] += st[s.id]
        win = layers.exec_window_seconds(spans, st)
        for w in layers.WINDOWS:
            vals[f"exec.{w}.run_s"] = win[w]
            run = win[w] * cores
            vals[f"exec.{w}.parallel_eff"] = vals[f"exec.{w}.task_run_s"] / run if run else 0.0
        for r in p["ops"]:
            root = next((s for s in by_op.get(r.get("op_id"), []) if s.layer == "op"), None)
            if root is not None and root.duration > 0:
                coverage.append(1.0 - st[root.id] / root.duration)
        for key, (nbytes, secs) in ((k, v) for r in p["ops"] for k, v in r.get("flows", {}).items()):
            vals[f"io.{key}_bytes"] += nbytes
            vals[f"io.{key}_s"] += secs
        per_pass.append(vals)
    out = {}
    for m in wanted:
        name, unit = m["name"], m["unit"]
        if name == "session.get_spark_s":
            v = statistics.median(get_spark_s)
        elif name == "session.cold_start_s":
            v = setups[0]
        elif name == "trace.overhead_frac":
            v = pass_seconds(traced) / pass_seconds(untraced) - 1.0
        elif name == "trace.layer_coverage_min":
            v = min(coverage) if coverage else 0.0
        elif name in e2e:
            v = e2e[name][0]
        elif name.endswith("_mb_s"):
            key = name[len("io.") : -len("_mb_s")]
            nb = sum(v_[f"io.{key}_bytes"] for v_ in per_pass)
            secs = sum(v_[f"io.{key}_s"] for v_ in per_pass)
            v = nb / 1e6 / secs if secs else 0.0
        else:
            v = statistics.median(v_.get(name, 0.0) for v_ in per_pass)
        out[name] = (float(v), unit)
    return out


def _bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def measure(r: Runner, seconds: float, trace: bool) -> dict:
    """Set up, warm up, then run passes for ``seconds``: untraced ones of
    ``repeats`` rounds, or alternating untraced and traced ones of one
    round."""
    from perfbench.layers import Probe
    from perfbench.spans import Tracer

    phases = {}
    t0 = time.perf_counter()
    setups = [r.setup_once() for _ in range(SETUP_REPEATS)]
    t1 = time.perf_counter()
    warmup = r.run_pass(0, 1, check=True)
    warmup["scratch_bytes"] = scratch0 = r.settle_scratch()
    t2 = time.perf_counter()
    phases.update(setup=t1 - t0, warmup_and_checks=t2 - t1)
    untraced, traced, counters = [], [], []
    tracer = Tracer()
    t_end = time.perf_counter() + seconds
    index = 1
    rounds = 1 if trace else repeats(len(r.ops()))

    def more() -> bool:
        if time.perf_counter() < t_end or (trace and not traced):
            return True
        return sum(len(p["ops"]) for p in untraced) < MIN_SAMPLES

    while more():
        if trace and index % 2 == 0:
            r.probe = Probe(r.spark, tracer)
            r.probe.install()
            try:
                p = r.run_pass(index, rounds, check=False, tracer=tracer)
            finally:
                r.probe.uninstall()
            traced.append(p)
            counters.append(r.probe.counters)
            r.probe = None
        else:
            p = r.run_pass(index, rounds, check=False)
            untraced.append(p)
        p["scratch_bytes"] = r.settle_scratch(scratch0 + SCRATCH_GROWTH_LIMIT)
        check_scratch(scratch0, p["scratch_bytes"])
        index += 1
    phases["timed"] = time.perf_counter() - t2
    return {
        "phases": phases,
        "setups": setups,
        "get_spark_s": r.get_spark_s,
        "peak_rss_mb": r.peak_rss_mb,
        "warmup": warmup,
        "untraced": untraced,
        "traced": traced,
        "counters": counters,
        "tracer": tracer,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    bench = _bench_json()
    try:
        import apache_arrow_spark  # noqa: F401
        import tools.check_oracle  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    isolate(work, cores)
    from perfbench import datagen, envinfo

    r = Runner(args.workload, args.seed, work, cores)
    t0 = time.perf_counter()
    try:
        datagen.write_tables(r.data_dir, args.seed, SCALE)
        if args.workload == "arrow-interchange":
            from perfbench.workloads import write_blog

            write_blog(r.data_dir, args.seed)
        t1 = time.perf_counter()
        m = measure(r, args.seconds, bool(args.trace))
    finally:
        t2 = time.perf_counter()
        if r.spark is not None:
            r.spark.stop()
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    m["phases"].update(datagen=t1 - t0, shutdown=time.perf_counter() - t2)
    tracer = m.pop("tracer")
    passes = [m["warmup"], *m["untraced"], *m["traced"]]
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "env": envinfo.describe(cores),
        **m,
    }
    os.makedirs(os.path.join(WORK_ROOT, "results"), exist_ok=True)
    stem = os.path.join(WORK_ROOT, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as fh:
        json.dump(record, fh, default=str)
    if args.trace:
        tracer.dump(stem + ".spans.json")

    e2e = e2e_metrics(m["setups"], m["warmup"], m["untraced"], m["peak_rss_mb"])
    metrics = {k: v for k, v in e2e.items() if not k.startswith("_")}
    if args.trace:
        metrics.update(
            layer_metrics(
                bench["per_layer"], e2e, tracer, m["traced"], m["untraced"],
                m["counters"], m["setups"], m["get_spark_s"], cores,
            )
        )
    ops = [o for p in passes for o in p["ops"]]
    failed = [o for o in ops if not o["ok"]]
    pct, n = e2e["_tail"]
    print(json.dumps({"env": record["env"], "loadavg_steal": [[p["loadavg"], round(p["steal"], 4)] for p in passes]}))
    for name, (value, unit) in metrics.items():
        note = f"  (p{pct:g} of {n} operations)" if name == "op_tail_s" else ""
        print(f"{args.workload:18s} {name:36s} {value:14.6g} {unit}{note}")
    for o in failed[:10]:
        print(f"FAILED {o['op']}: {o.get('error')}", file=sys.stderr)
    wanted = bench["per_layer"] if args.trace else bench["end_to_end"]
    result = {
        "correct": not failed,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": {x["name"]: {"value": metrics[x["name"]][0], "unit": x["unit"]} for x in wanted},
    }
    print(json.dumps(result))
    return 0


def stop_jvm() -> None:
    """Shut the py4j gateway and wait for the JVM (and the Python workers
    it forked) to exit."""
    from pyspark import SparkContext

    from perfbench import envinfo

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None
    for pid in envinfo.wait_for_descendants(30):
        os.kill(pid, signal.SIGKILL)
    envinfo.wait_for_descendants(30)


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
