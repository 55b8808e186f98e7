"""Tests of the benchmark itself: metric reporting, span arithmetic and
job accounting.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import threading
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import run as bench  # noqa: E402
from perfbench import trace as tr  # noqa: E402


def _span(name, start, end, parent=None, jobs=0):
    s = tr.Span(name, start, parent, 0, None, end=end)
    s.jobs = jobs
    return s


# ---- medians and sample counts -------------------------------------------


def test_end_to_end_reports_medians_over_the_samples():
    recs = [{"op_s": t, "rows": 100, "cpu_s": 2 * t, "jobs": 7} for t in (3.0, 1.0, 2.0, 10.0)]
    m = bench.end_to_end(recs, setup_s=5.0, error_rate=0.0, rss_mb=900.0,
                         bytes_per_live_byte=None)
    assert m["op_p50_ms"] == {"value": 2500.0, "unit": "ms"}  # even count: mean of middle two
    assert m["rows_per_s"]["value"] == pytest.approx(400 / 16.0)
    assert m["op_cpu_p50_ms"]["value"] == 5000.0
    assert m["rows_per_cpu_s"]["value"] == pytest.approx(400 / 32.0)
    assert m["jobs_per_op"] == {"value": 7, "unit": "count"}
    assert m["setup_s"] == {"value": 5.0, "unit": "s"}
    # a verb the workload never ran reads None, not zero
    assert m["merge_p50_ms"]["value"] is None
    assert len(m) == 15


def test_end_to_end_verb_medians_use_only_their_own_samples():
    base = {"rows": 1, "cpu_s": 1.0, "jobs": 1}
    recs = [{"op_s": 9.0, "merge_s": 4.0, **base}, {"op_s": 7.0, **base},
            {"op_s": 8.0, "merge_s": 2.0, **base}, {"op_s": 1.0, "merge_s": 3.0, **base}]
    m = bench.end_to_end(recs, 1.0, 0.0, 1.0, 1.5)
    assert m["merge_p50_ms"]["value"] == 3000.0
    assert m["op_p50_ms"]["value"] == 7500.0
    assert m["bytes_per_live_byte"]["value"] == 1.5


def test_result_line_carries_sample_counts_and_named_metrics():
    recs = [{"op_s": 2.0, "rows": 10, "cpu_s": 3.0, "jobs": 5}] * 3
    report = {"trace": 0, "attempted": 3, "failed": 0,
              "metrics": bench.end_to_end(recs, 4.0, 0.0, 100.0, None)}
    spec = [{"name": "op_p50_ms", "unit": "ms"}, {"name": "setup_s", "unit": "s"}]
    line = bench.result_line(report, spec)
    assert line == {"correct": True, "attempted": 3, "failed": 0,
                    "metrics": {"op_p50_ms": {"value": 2000.0, "unit": "ms"},
                                "setup_s": {"value": 4.0, "unit": "s"}}}
    report["failed"] = 1
    assert bench.result_line(report, spec)["correct"] is False


# ---- self time -----------------------------------------------------------


def test_self_time_subtracts_nested_children():
    spans = [
        _span("outer", 0.0, 10.0),
        _span("a", 1.0, 3.0, parent=0),
        _span("b", 4.0, 8.0, parent=0),
        _span("a.inner", 1.5, 2.5, parent=1),
    ]
    assert tr.self_times(spans) == pytest.approx([4.0, 1.0, 4.0, 1.0])


def test_self_time_takes_the_union_of_overlapping_cross_thread_children():
    # three pipeline stages on worker threads, two of them overlapping,
    # one running past the parent's end
    spans = [
        _span("layer", 0.0, 10.0),
        _span("t1", 1.0, 5.0, parent=0),
        _span("t2", 2.0, 6.0, parent=0),
        _span("t3", 9.0, 12.0, parent=0),
    ]
    assert tr.self_times(spans)[0] == pytest.approx(10.0 - 5.0 - 1.0)


def test_inclusive_jobs_fold_subtrees():
    spans = [_span("op", 0, 1, jobs=1), _span("a", 0, 1, 0, jobs=2),
             _span("b", 0, 1, 1, jobs=3), _span("c", 0, 1, 0, jobs=4)]
    assert tr.inclusive_jobs(spans) == [10, 5, 3, 4]


def test_tracer_parents_worker_thread_spans_under_the_callers_span(monkeypatch):
    monkeypatch.setattr(tr.Tracer, "_sc", staticmethod(lambda: None))  # no Spark here
    tracer = tr.Tracer()
    started = threading.Event()

    def worker():
        with tracer.span("worker"):
            started.set()
            with tracer.span("worker.child"):
                time.sleep(0.01)

    with tracer.span("main"):
        t = threading.Thread(target=worker)
        t.start()
        t.join(timeout=10)
    assert not t.is_alive() and started.is_set()
    names = [s.name for s in tracer.spans]
    main, work, child = (names.index(n) for n in ("main", "worker", "worker.child"))
    assert tracer.spans[work].parent == main
    assert tracer.spans[child].parent == work
    assert tracer.spans[work].thread != tracer.spans[main].thread


# ---- job accounting on a real session ------------------------------------


@pytest.fixture(scope="module")
def spark():
    from aws_medallion_etl_spark import session

    work = tempfile.mkdtemp(prefix="perfbench-test-")
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    s = session.get_spark(app_name="perfbench-test",
                          extra_conf={"spark.ui.showConsoleProgress": "false"})
    s.sparkContext.setLogLevel("ERROR")
    yield s, work
    s.stop()
    shutil.rmtree(work, ignore_errors=True)


def test_job_groups_account_for_every_job_of_a_threaded_pipeline(spark):
    """At ``layer_concurrency=3`` the table stages run on pool threads;
    the per-call job groups the wrappers set there must add up to the
    DAG scheduler's global job count for the op."""
    from aws_medallion_etl_spark import pipeline
    from perfbench.medallion import MedallionBatch, fact_revenue_by_segment, run_date, specs

    session, work = spark
    wl = MedallionBatch(session, seed=7, n_orders=200, n_customers=50)
    root = os.path.join(work, "lake")
    wl.generate(root)
    sources = {t: session.read.parquet(wl._src(0, t, root))
               for t in ("orders", "customer", "lineitem")}
    tracer = tr.Tracer()
    tracer.install(("medallion_batch",))
    counters = tr.SparkCounters(session.sparkContext)
    try:
        counters.start()
        with tracer.span("op"):
            pipeline.run_pipeline(session, sources, specs(),
                                  {"fact": fact_revenue_by_segment}, f"{root}/out", run_date(0),
                                  layer_concurrency=3)
        total = counters.stop()["jobs"]
    finally:
        tracer.uninstall()
    spans = tracer.spans
    stages = [s for s in spans if s.name == "pipeline.run_bronze_table"]
    assert len(stages) == 3 and len({s.thread for s in stages}) > 1
    assert total > 0
    assert sum(s.jobs for s in spans) == total
    op = next(i for i, s in enumerate(spans) if s.name == "op")
    assert tr.inclusive_jobs(spans)[op] == total
