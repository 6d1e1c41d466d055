"""Fault injection for the iterative, lineage-truncated paths (r9
verdict #4): connected components, PageRank, and BFS k-hop rely on
``localCheckpoint`` lineage truncation — the engine's analog of the
reference's Plasma crash-tolerance story (cpp/src/plasma/store.cc's
client-disconnect / eviction handling: a lost object is either
refetchable or a loud error, never silently wrong data).

Contract under storage faults: when cached / checkpointed blocks vanish
mid-iteration, the job must either (a) recompute and return the exact
clean-run result, or (b) fail LOUDLY with an exception.  It must never
return silently wrong labels/ranks/distances.  In local mode we cannot
kill an executor, so the chaos thread drives the same failure surface
one level down: it repeatedly asks the BlockManagerMaster to drop every
RDD block materialized after the test began — exactly what executor
loss does to cached partitions.  A dropped *locally checkpointed* block
is unrecoverable by design (lineage was truncated), so outcome (b) is
expected and accepted there; a dropped plain-persist block must
recompute into outcome (a).

The assertion strategy runs each op under chaos several times and
accepts any mix of (a)/(b), failing the test only on a wrong-result
run.  Chaos timing is inherently racy; the loop makes the window wide
enough that drops land mid-iteration in practice (verified by the
drop counter).
"""

import threading
import time

import pyspark.sql.functions as F
import pytest


def _rdd_chaos(spark, stop, baseline_ids, dropped_counter):
    """Every ~60 ms, drop the blocks of every persistent RDD created
    after the test started (ids above the baseline).  Mirrors executor
    loss: cached partitions vanish, the driver's bookkeeping stays."""
    sc = spark.sparkContext
    bmm = sc._jsc.sc().env().blockManager().master()
    while not stop.is_set():
        try:
            ids = [
                int(str(k))
                for k in sc._jsc.getPersistentRDDs().keySet().toArray()
            ]
            for rid in ids:
                if rid > baseline_ids:
                    bmm.removeRdd(rid, False)
                    dropped_counter.append(rid)
        except Exception:
            pass  # py4j races with job teardown are chaos, not failures
        time.sleep(0.06)


def _max_rdd_id(spark):
    sc = spark.sparkContext
    ids = [
        int(str(k)) for k in sc._jsc.getPersistentRDDs().keySet().toArray()
    ]
    return max(ids, default=-1)


def _run_under_chaos(spark, fn, expected_rows, attempts=4):
    """Run ``fn`` under block-drop chaos ``attempts`` times.  Each run
    must either match ``expected_rows`` exactly or raise.  Returns
    (n_correct, n_loud, total_drops) so callers can assert the chaos
    actually engaged."""
    n_correct = n_loud = 0
    drops = []
    for _ in range(attempts):
        stop = threading.Event()
        t = threading.Thread(
            target=_rdd_chaos,
            args=(spark, stop, _max_rdd_id(spark), drops),
            daemon=True,
        )
        t.start()
        try:
            got = fn()
        except Exception:
            n_loud += 1  # outcome (b): loud failure — acceptable
        else:
            assert got == expected_rows, (
                "SILENT WRONG RESULT under block-drop chaos:\n"
                f"got      {got[:5]}... ({len(got)} rows)\n"
                f"expected {expected_rows[:5]}... ({len(expected_rows)} rows)"
            )
            n_correct += 1
        finally:
            stop.set()
            t.join(timeout=5)
    return n_correct, n_loud, len(drops)


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def chain_pairs(spark):
    """A 3-component graph whose largest component is a 60-node chain —
    diameter 59 forces connected_components through many label rounds,
    keeping the job mid-iteration long enough for chaos to land."""
    edges = (
        [(i, i + 1) for i in range(60)]
        + [(100 + i, 101 + i) for i in range(20)]
        + [(200, 201), (201, 202), (202, 200)]
    )
    return spark.createDataFrame(edges, "id_a long, id_b long")


def test_connected_components_chaos(spark, chain_pairs):
    from apache_arrow_spark.functions.dedup import connected_components

    expected = _sorted_rows(connected_components(chain_pairs))
    assert expected, "fixture produced no components"
    n_ok, n_loud, drops = _run_under_chaos(
        spark,
        lambda: _sorted_rows(connected_components(chain_pairs)),
        expected,
    )
    assert n_ok + n_loud == 4
    assert drops > 0, "chaos thread never dropped a block — test is vacuous"


def test_pagerank_chaos(spark, chain_pairs):
    from apache_arrow_spark.functions.graph import pagerank

    expected = _sorted_rows(pagerank(chain_pairs, iters=8))
    assert expected
    n_ok, n_loud, drops = _run_under_chaos(
        spark,
        lambda: _sorted_rows(pagerank(chain_pairs, iters=8)),
        expected,
    )
    assert n_ok + n_loud == 4
    assert drops > 0, "chaos thread never dropped a block — test is vacuous"


def test_bfs_khop_chaos(spark, chain_pairs):
    from apache_arrow_spark.functions.graph import bfs_khop

    expected = _sorted_rows(
        bfs_khop(chain_pairs, seeds=[0], max_hops=25, src_col="id_a", dst_col="id_b")
    )
    assert expected
    n_ok, n_loud, drops = _run_under_chaos(
        spark,
        lambda: _sorted_rows(
            bfs_khop(
                chain_pairs, seeds=[0], max_hops=25, src_col="id_a", dst_col="id_b"
            )
        ),
        expected,
    )
    assert n_ok + n_loud == 4
    assert drops > 0, "chaos thread never dropped a block — test is vacuous"


def test_graph_fixpoints_exact_without_observed_metrics(spark, chain_pairs, monkeypatch):
    """With every Observation read failing (``observed_long`` -> None, the
    dropped-listener-event case), connected_components must reach the
    exact labels through its explicit-count fallback, and bfs_khop the
    exact distances with no found-set broadcast hint past the first hop
    (whose found set is the seed list, sized without observing)."""
    from apache_arrow_spark.functions import dedup, graph

    def bfs():
        return _sorted_rows(
            graph.bfs_khop(chain_pairs, seeds=[0], max_hops=25, src_col="id_a", dst_col="id_b")
        )

    real_broadcast = F.broadcast
    hints = []

    def counting_broadcast(df):
        hints.append(df)
        return real_broadcast(df)

    monkeypatch.setattr(F, "broadcast", counting_broadcast)
    expected_cc = _sorted_rows(dedup.connected_components(chain_pairs))
    expected_bfs = bfs()
    assert len(hints) > 1  # observed found-set size: hinted past hop 1

    reads = []

    def unreadable(obs, name, timeout_s):
        reads.append(name)
        return None

    monkeypatch.setattr(dedup, "observed_long", unreadable)
    monkeypatch.setattr(graph, "observed_long", unreadable)
    assert _sorted_rows(dedup.connected_components(chain_pairs)) == expected_cc
    assert "changed" in reads
    hints.clear()
    assert bfs() == expected_bfs
    assert "n" in reads
    assert len(hints) == 1
