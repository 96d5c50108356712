"""Tests for the benchmark's own code (not for the package).

    python -m pytest perfbench -q
"""

from __future__ import annotations

import subprocess
import sys

import numpy as np
import pytest

from perfbench import tracing as T
from perfbench import workloads as W


def _span(name, sid, parent, start, end):
    return T.Span(name, sid, parent, start, end)


# ---------------------------------------------------------------------------
# span arithmetic
# ---------------------------------------------------------------------------


def test_union_length_merges_overlaps():
    assert T.union_length([]) == 0.0
    assert T.union_length([(0, 1), (2, 3)]) == 2.0
    assert T.union_length([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert T.union_length([(0, 10), (1, 2), (3, 4)]) == 10.0


def test_self_time_subtracts_covered_child_time():
    spans = [
        _span("job", 0, None, 0.0, 10.0),
        _span("a", 1, 0, 1.0, 4.0),
        _span("b", 2, 0, 3.0, 6.0),  # overlaps a: union 1..6 = 5
        _span("a.inner", 3, 1, 2.0, 3.0),
        _span("late", 4, 0, 9.0, 12.0),  # clipped to the parent: 1
    ]
    st = T.self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[1] == pytest.approx(3.0 - 1.0)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(1.0)
    # a span's self time never exceeds its duration, and the root's
    # self time plus its children's durations covers it exactly here
    assert all(st[s.sid] <= s.wall_s for s in spans)


def test_innermost_span_and_idle_time():
    spans = [_span("job", 0, None, 0.0, 10.0), _span("k", 1, 0, 2.0, 5.0)]
    assert T.innermost_span(spans, 3.0).name == "k"
    assert T.innermost_span(spans, 6.0).name == "job"
    assert T.innermost_span(spans, 11.0) is None
    jobs = [T.Job(0, 2500, 3000), T.Job(1, 2800, 3500), T.Job(2, 9000, 9500)]
    # 2.0..5.0 minus busy 2.5..3.5; the job at 9 s is outside the span
    assert T.idle_s(spans[1], jobs) == pytest.approx(2.0)


def test_metric_value_parses_spark_formats():
    assert T.metric_value("4,210") == 4210
    assert T.metric_value("2.5 MiB") == 2.5 * 2**20
    assert T.metric_value("13 ms") == 13
    assert T.metric_value(
        "total (min, med, max (stageId: taskId))\n62.1 MiB (1.0 MiB, 2.0 MiB, "
        "3.0 MiB (stage 5.0: task 17))") == pytest.approx(62.1 * 2**20)
    assert T.metric_value("(min, med, max (stageId: taskId)):\n(1, 1, 1 "
                          "(stage 8.0: task 23))") is None


# ---------------------------------------------------------------------------
# process-tree CPU survives children exiting
# ---------------------------------------------------------------------------


def test_tree_cpu_keeps_reaped_children():
    before = T.tree_cpu_s()
    subprocess.run(
        [sys.executable, "-c",
         "import time\nt=time.process_time()\n"
         "while time.process_time()-t<0.5: pass"],
        check=True, timeout=60)
    # the child has exited and been reaped; its CPU must still count
    assert T.tree_cpu_s() - before >= 0.4


def test_steal_share_leaves_out_idle_time():
    # user, nice, system, idle, iowait, irq, softirq, steal
    before = [10, 0, 5, 100, 3, 0, 0, 2]
    after = [70, 0, 25, 300, 23, 0, 0, 22]
    # busy 80 ticks and 20 stolen: idle and iowait do not count
    assert T.steal_share(before, after) == pytest.approx(0.2)
    assert T.steal_share(before, [10, 0, 5, 150, 3, 0, 0, 2]) == 0.0


# ---------------------------------------------------------------------------
# seeded inputs
# ---------------------------------------------------------------------------


def test_same_seed_same_inputs_other_seed_same_sizes():
    a1, a2, b = (W.layer_keys(s, 1000) for s in (7, 7, 8))
    assert W.digest(a1) == W.digest(a2)
    assert W.digest(a1) != W.digest(b)
    assert len(a1) == len(b) == 1000 and len(np.unique(b)) == 1000
    d1, d2, d3 = W.documents(7, 50), W.documents(7, 50), W.documents(8, 50)
    assert W.digest(d1) == W.digest(d2) != W.digest(d3)
    assert len(d3) == 50 and d3["doc_id"].max() < 100000


def test_workload_inputs_depend_only_on_seed(tmp_path):
    x = W.NightlyJob(3, str(tmp_path / "x"))
    y = W.ResumeThenDedup(3, str(tmp_path / "y"))
    z = W.NightlyJob(4, str(tmp_path / "z"))
    resume, dedup = y.members
    assert (x.keys == resume.keys).all()
    assert len(z.keys) == len(x.keys) == x.rows == W.LAYER_FEATURES
    assert W.digest(z.keys) != W.digest(x.keys)
    assert y.rows == W.LAYER_FEATURES + 2 * W.N_DOCS
    assert W.digest(dedup.docs) == W.digest(W.documents(3, W.N_DOCS))


# ---------------------------------------------------------------------------
# status-store deltas on a tiny local[2] session
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from pyspark.sql import SparkSession

    local = tmp_path_factory.mktemp("spark-local")
    s = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-tests")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.local.dir", str(local))
        .getOrCreate()
    )
    yield s
    s.stop()


def test_status_deltas_cover_only_new_work(spark):
    from pyspark.sql import functions as F

    status = T.SparkStatus(spark)
    spark.range(100).count()  # before the watermark: must not show up
    mark = status.watermark()
    tracer = T.Tracer(True)
    with tracer.span("job"):
        with tracer.span("agg"):
            rows = (spark.range(0, 1000, 1, 2)
                    .groupBy((F.col("id") % 7).alias("k")).count().collect())
    assert len(rows) == 7
    led = status.since(mark)
    assert led.executions and all(e.eid >= mark[0] for e in led.executions)
    assert sum(e.rows("Range") for e in led.executions) == 1000
    assert T.shuffle_bytes(led) > 0
    assert led.jobs and all(j.jid >= mark[1] for j in led.jobs)
    parts = T.by_span(led, tracer.spans)
    assert set(parts) == {"agg"}  # attributed to the innermost span
    eng = T.engine_metrics(led)
    assert eng["spark.shuffle_bytes"] == T.shuffle_bytes(led)
    assert eng["spark.executor_cpu_s"] > 0

    # nothing new since a fresh watermark
    assert status.since(status.watermark()).executions == []
