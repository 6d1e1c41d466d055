"""Tests of the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import copy
import json
import os
import re
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import datagen, layers, run, spans, workloads  # noqa: E402
from perfbench.spans import Span, Tracer  # noqa: E402


# -- the tail percentile rule ---------------------------------------------------


def test_tail_picks_highest_percentile_with_ten_beyond():
    assert spans.tail([float(i) for i in range(1, 101)]) == (90.0, 90.0, 100)
    # 39 samples: p75 has only 9 beyond it, so the median is the tail
    assert spans.tail([float(i) for i in range(1, 40)]) == (20.0, 50.0, 39)
    # 40 samples: p75 is rank 30 with exactly 10 beyond
    assert spans.tail([float(i) for i in range(1, 41)]) == (30.0, 75.0, 40)


def test_tail_is_order_independent_and_refuses_too_few_samples():
    xs = [5.0, 1.0, 9.0, 3.0] * 10
    assert spans.tail(xs) == spans.tail(sorted(xs))
    with pytest.raises(ValueError):
        spans.tail([1.0] * 19)


# -- span self time -------------------------------------------------------------


def _span(i, parent, start, end, layer="x"):
    return Span(i, 0, f"s{i}", layer, start, end, parent)


def test_self_time_subtracts_union_of_children_clipped_to_parent():
    ss = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 3.0),
        _span(2, 0, 2.0, 5.0),  # overlaps span 1: union is 1..5
        _span(3, 0, 8.0, 12.0),  # runs past the parent: counts 8..10
        _span(4, 1, 1.5, 2.5),  # grandchild: only its parent loses it
    ]
    st = spans.self_times(ss)
    assert st[0] == pytest.approx(10.0 - 4.0 - 2.0)
    assert st[1] == pytest.approx(2.0 - 1.0)
    assert st[4] == pytest.approx(1.0)
    # self times add up to the root's wall when siblings do not overlap
    # and children stay inside their parents
    inner = [ss[0], ss[1], ss[4], _span(5, 0, 6.0, 7.0)]
    assert sum(spans.self_times(inner).values()) == pytest.approx(10.0)


def test_covered_is_the_union_length():
    assert spans.covered([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)
    assert spans.covered([]) == 0.0


def test_tracer_nests_spans_and_clips_recorded_ones():
    tr = Tracer()
    with tr.span("op", "op", op=7) as root:
        with tr.span("build", "queries") as child:
            pass
    assert child.parent == root.id and child.op == 7
    job = tr.add("exec.job", "exec", root.start - 5, root.end + 5, child)
    assert (job.start, job.end) == (child.start, child.end)
    with pytest.raises(ValueError):
        with tr.span("orphan", "x"):
            pass


def test_exec_window_seconds():
    ss = [
        _span(0, None, 0.0, 10.0, "op"),
        _span(1, 0, 0.0, 6.0, "queries"),
        Span(2, 0, "exec.job", "exec", 1.0, 3.0, 1),
        Span(3, 0, "exec.job", "exec", 2.0, 4.0, 1),
        Span(4, 0, "exec.sink", "exec", 6.0, 9.0, 0),
    ]
    win = layers.exec_window_seconds(ss, spans.self_times(ss))
    assert win == pytest.approx({"build": 3.0, "sink": 3.0})


def test_catalyst_phases_go_to_the_innermost_span_they_started_in():
    ss = [
        _span(0, None, 10.0, 20.0, "queries"),
        _span(1, 0, 12.0, 14.0, "io"),
        _span(2, None, 30.0, 40.0, "exec"),
    ]
    phases = [
        ("analysis", 10.5, 10.6),
        ("optimization", 12.0005, 12.3),  # ms resolution: at the child's start
        ("planning", 31.0, 31.5),
        ("planning", 31.0, 31.5),  # the same query reported twice
        ("optimization", 25.0, 25.1),  # between spans: a check's query
    ]
    got = [(name, parent.id) for name, _s, _e, parent in layers.attribute_phases(phases, ss)]
    assert got == [("analysis", 0), ("optimization", 1), ("planning", 2)]


def test_parse_size_metric():
    text = "total (min, med, max (stageId: taskId))\n807.5 KiB (403.8 KiB, 403.8 KiB, 403.8 KiB (stage 4.0: task 4))"
    assert layers.parse_size_metric(text) == int(807.5 * 1024)
    assert layers.parse_size_metric("12 B") == 12
    with pytest.raises(ValueError):
        layers.parse_size_metric("4.6 s")


# -- the run loop -----------------------------------------------------------------


def test_a_timed_pass_repeats_every_operation_to_the_sample_target():
    for n_ops in (1, 3, 5, 7, 20, 21):
        reps = run.repeats(n_ops)
        assert n_ops * reps >= run.MIN_SAMPLES > n_ops * (reps - 1)


def test_a_pass_issues_every_operation_once_per_round_in_seeded_orders():
    ops = [workloads.Op(f"o{i}") for i in range(3)]

    def issued(seed, index, rounds):
        r = run.Runner.__new__(run.Runner)
        r.seed, r.peak_rss_mb = seed, 0.0
        r.ops = lambda: ops
        r.run_op = lambda op, check, tracer: {"op": op.name, "wall": 0.0}
        return [rec["op"] for rec in r.run_pass(index, rounds, check=False)["ops"]]

    timed = issued(1, 1, 7)
    rounds = [timed[i : i + 3] for i in range(0, len(timed), 3)]
    assert len(rounds) == 7
    assert all(sorted(rnd) == ["o0", "o1", "o2"] for rnd in rounds)
    assert len({tuple(rnd) for rnd in rounds}) > 1
    assert issued(1, 1, 7) == timed and issued(2, 1, 7) != timed
    assert sorted(issued(1, 0, 1)) == ["o0", "o1", "o2"]


class _ScratchRunner:
    """Stands in for ``run.Runner``: its first timed pass writes
    ``grow`` bytes into the engine's local directory."""

    scratch_bytes = run.Runner.scratch_bytes
    settle_scratch = run.Runner.settle_scratch

    def __init__(self, tmp_path, grow: int) -> None:
        self.tmp = str(tmp_path / "tmp")
        self.local_dir = str(tmp_path / "spark-local")
        os.makedirs(self.tmp)
        os.makedirs(self.local_dir)
        self.grow = grow
        self.spark = None
        self.get_spark_s: list[float] = []
        self.peak_rss_mb = 0.0
        self.passes = 0

    def setup_once(self) -> float:
        return 1.0

    def ops(self) -> list:
        return [workloads.Op("o0")]

    def run_pass(self, index, rounds, check, tracer=None) -> dict:
        self.passes += 1
        if index == 1:
            with open(os.path.join(self.local_dir, "shuffle_0_0.data"), "wb") as fh:
                fh.write(b"\0" * self.grow)
        return _pass([0.1] * run.MIN_SAMPLES)


def test_a_single_pass_that_grows_scratch_fails_the_run(tmp_path, monkeypatch):
    monkeypatch.setattr(run, "SCRATCH_SETTLE_S", 1.0)
    r = _ScratchRunner(tmp_path, run.SCRATCH_GROWTH_LIMIT + 1)
    with pytest.raises(run.ScratchGrew):
        run.measure(r, 0.0, trace=False)
    assert r.passes == 2  # the warm-up pass and the one timed pass


def test_scratch_within_the_limit_passes(tmp_path):
    m = run.measure(_ScratchRunner(tmp_path, 1000), 0.0, trace=False)
    assert len(m["untraced"]) == 1


# -- workload membership freeze --------------------------------------------------


def test_membership_is_frozen_and_consistent():
    import bench

    doc = workloads.load_membership()
    classified = doc["queries"]
    assert set(classified) == set(bench.HEADLINE)
    for name, c in classified.items():
        assert (c["build_jobs"] >= 1) == (c["workload"] == "eager-jobs"), name
    for wl in ("scan-agg", "eager-jobs"):
        names = doc["workloads"][wl]["queries"]
        assert names and len(set(names)) == len(names)
        assert all(classified[n]["excluded"] is None for n in names)


def test_membership_rejects_a_query_listed_in_the_other_workload(tmp_path):
    doc = json.load(open(workloads.MEMBERSHIP))
    bad = copy.deepcopy(doc)
    moved = bad["workloads"]["eager-jobs"]["queries"][0]
    bad["workloads"]["scan-agg"]["queries"].append(moved)
    path = tmp_path / "w.json"
    path.write_text(json.dumps(bad))
    with pytest.raises(ValueError, match=moved):
        workloads.load_membership(str(path))


# -- BENCHMARK.json --------------------------------------------------------------

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_benchmark_json_follows_the_contract():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        doc = json.load(fh)
    assert set(doc) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert doc["paths"] == ["perfbench"] and doc["command"][1].startswith("perfbench/")
    assert isinstance(doc["run_seconds"], int) and 1 <= doc["run_seconds"] <= 60
    assert {w["name"] for w in doc["workloads"]} <= set(run.WORKLOADS)
    names = []
    for w in doc["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
        names.append(w["name"])
    for m in doc["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
        names.append(m["name"])
    for m in doc["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
        names.append(m["name"])
    assert len(names) == len(set(names))
    for m in doc["end_to_end"] + doc["per_layer"]:
        assert NAME.match(m["name"]) and UNIT.match(m["unit"]) and m["better"] in ("lower", "higher")
    setup = next(m for m in doc["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in doc["end_to_end"])


def _pass(walls, flows=None):
    ops = [{"op": f"o{i}", "op_id": i, "ok": True, "wall": w, "flows": flows or {}} for i, w in enumerate(walls)]
    return {"wall": sum(walls), "ops": ops}


def test_every_end_to_end_metric_is_produced():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        doc = json.load(fh)
    passes = [_pass([0.1 * (i + 1) for i in range(15)]) for _ in range(3)]
    e2e = run.e2e_metrics([1.0, 2.0, 3.0], _pass([1.0] * 15), passes, 512.0)
    for m in doc["end_to_end"]:
        value, unit = e2e[m["name"]]
        assert unit == m["unit"] and value > 0
    assert e2e["setup_s"][0] == 2.0 and e2e["error_rate"][0] == 0.0


def test_every_per_layer_metric_is_produced():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        doc = json.load(fh)
    flows = {"egress": (1_000_000, 0.5)}
    untraced = [_pass([0.1] * 20, flows) for _ in range(2)]
    traced = [_pass([0.11] * 20, flows) for _ in range(2)]
    e2e = run.e2e_metrics([1.0], _pass([0.1] * 20), untraced, 1.0)
    out = run.layer_metrics(doc["per_layer"], e2e, Tracer(), traced, untraced, [{}, {}], [9.0, 1.0], [0.5], 4)
    assert set(out) == {m["name"] for m in doc["per_layer"]}
    assert out["trace.overhead_frac"][0] == pytest.approx(0.1)
    assert out["io.egress_mb_s"][0] == pytest.approx(2.0)
    assert out["session.cold_start_s"][0] == 9.0


# -- generated inputs --------------------------------------------------------------


def test_generated_tables_depend_only_on_the_seed():
    a = datagen.tables(3, scale=0.001)
    b = datagen.tables(3, scale=0.001)
    c = datagen.tables(4, scale=0.001)
    assert set(a) == set(datagen.ROWS) | {"region", "nation"}
    assert all(a[k].equals(b[k]) for k in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["lineitem"].num_rows == 6000


def test_interchange_checksums_and_nested_list(tmp_path):
    workloads.write_blog(str(tmp_path), 1, rows=1000)
    t = workloads.pq.read_table(str(tmp_path / "blog.parquet"))
    sums = workloads.checksums(t)
    assert sums["rows"] == 1000 and sums["id"] == 999 * 1000 // 2
    workloads._expect_sums("same", dict(sums), sums)
    with pytest.raises(workloads.CheckFailed):
        workloads._expect_sums("differs", {**sums, "id": 0}, sums)
    assert workloads.nested_list(5) == workloads.nested_list(5)
    assert workloads.nested_list(5) != workloads.nested_list(6)
