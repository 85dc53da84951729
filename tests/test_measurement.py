"""The one measurement path: every ``bench.py`` row is registered, and
``tools/qprof.run``, which bench and the ×N runs time with, executes a
row's full plan rather than the plan of a ``.count()``."""

from __future__ import annotations

import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path[:0] = [str(ROOT), str(ROOT / "tools")]


def test_bench_rows_are_registered():
    import bench

    from es_ch_sync_spark.queries import spark_queries

    rows = bench.HEADLINE + bench.EXTENDED + bench.EXTRA
    assert len(rows) == len(set(rows)) == 60
    assert sorted(set(rows) - set(spark_queries())) == []


def _sql_executions(spark) -> list:
    """The SQL executions the status store retains (the newest
    ``spark.sql.ui.retainedExecutions``)."""
    from harness import wait_listeners

    wait_listeners(spark)
    out = []
    it = spark._jsparkSession.sharedState().statusStore().executionsList().iterator()
    while it.hasNext():
        out.append(it.next())
    return out


def _window_nodes(spark, execution) -> int:
    """Window nodes in the final plan of one SQL execution."""
    store = spark._jsparkSession.sharedState().statusStore()
    nodes = store.planGraph(execution.executionId()).allNodes()
    return sum(nodes.apply(i).name() == "Window" for i in range(nodes.size()))


def test_timed_action_runs_both_windows(spark, sf_dir):
    import qprof

    from es_ch_sync_spark.queries import spark_queries

    name = "asof_join_events"
    last = max((e.executionId() for e in _sql_executions(spark)), default=-1)
    row = qprof.run(spark, name, spark_queries()[name], sf_dir)
    assert row["s"] > 0 and row["stages"] > 0
    ran = [e for e in _sql_executions(spark) if e.executionId() > last and e.jobs().size()]
    assert ran
    # the count plan of this row has no Window: Catalyst prunes both
    # windows, which only feed output columns
    assert sum(_window_nodes(spark, e) for e in ran) == 2
