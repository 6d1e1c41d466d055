"""Classify the bench.py headline queries into the two query workloads.

    python3 perfbench/classify.py [--out FILE]

Runs every ``bench.HEADLINE`` query three times on the tables the
benchmark generates (seed 0, scale factor ``run.SCALE``): one
untraced call to warm up, then a traced call that counts the Spark jobs
the query function fires while it builds its DataFrame (jobs fired inside
a parquet load are schema inference and belong to the load), then an
untraced call whose wall time is recorded.  Each result is checked
against the query's DuckDB oracle.  A query is ``eager-jobs`` if its
build fires at least one job and ``scan-agg`` otherwise; a query that
creates scratch directories outside the temporary directory the
benchmark owns, or fails its oracle, is marked excluded.

The output is the input to ``workloads.json``, where the classification
is frozen: a later change that removes a query's eager jobs moves no
query between workloads.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import datagen, run  # noqa: E402
from perfbench.layers import Probe  # noqa: E402
from perfbench.spans import Tracer  # noqa: E402
from perfbench.workloads import QueryOp  # noqa: E402

SEED = 0


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=os.path.join(run.WORK_ROOT, "classified.json"))
    args = ap.parse_args()

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(run.WORK_ROOT, f"classify-{os.getpid()}")
    run.isolate(work, cores)
    import bench

    outside: list[str] = []
    mkdtemp = tempfile.mkdtemp

    def recording_mkdtemp(suffix=None, prefix=None, dir=None):
        if dir is not None and not os.path.abspath(dir).startswith(work):
            outside.append(dir)
        return mkdtemp(suffix, prefix, dir)

    tempfile.mkdtemp = recording_mkdtemp
    r = run.Runner("scan-agg", SEED, work, cores)
    datagen.write_tables(r.data_dir, SEED, run.SCALE)
    r.setup_once()
    result = {}
    try:
        for name in bench.HEADLINE:
            op = QueryOp(name)
            outside.clear()
            r.run_op(op, check=False)
            tracer = Tracer()
            r.probe = Probe(r.spark, tracer)
            r.probe.install()
            try:
                traced = r.run_op(op, check=True, tracer=tracer)
            finally:
                r.probe.uninstall()
            counters, r.probe = r.probe.counters, None
            timed = r.run_op(op, check=False)
            excluded = None
            if outside:
                excluded = f"writes scratch outside the benchmark's directory ({sorted(set(outside))[0]})"
            elif not traced["ok"]:
                excluded = f"fails: {traced.get('error', '')[:200]}"
            jobs = int(counters.get("queries.build_jobs", 0))
            result[name] = {
                "workload": "eager-jobs" if jobs else "scan-agg",
                "build_jobs": jobs,
                "check_s": round(traced.get("check_s", 0.0), 3),
                "load_calls": int(counters.get("session.load_table_calls", 0)),
                "wall_s": round(timed["wall"], 3),
                "excluded": excluded,
            }
            print(name, result[name], flush=True)
    finally:
        r.spark.stop()
        run.stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    with open(args.out, "w") as fh:
        json.dump({"seed": SEED, "scale": run.SCALE, "queries": result}, fh, indent=1)


if __name__ == "__main__":
    main()
