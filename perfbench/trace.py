"""Outside-in tracing: spans around calls into the engine's modules,
with a Spark job group per span, plus per-op Spark status-store
counters.

The wrappers replace module attributes (``pipeline.run_bronze_table``
and so on), so calls made through the module — from the benchmark or
from another engine module — are recorded, while a name bound by
``from x import y`` before the wrap escapes it. The traced run fails
when a wrapped function records no call, which is how such an escape
shows.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

# (module, function) pairs the traced run wraps, grouped by the
# workload that must call each one at least once
TRACED: dict[str, list[tuple[str, str]]] = {
    "all": [("aws_medallion_etl_spark.session", "get_spark")],
    "medallion_batch": [
        ("aws_medallion_etl_spark.pipeline", "run_pipeline"),
        ("aws_medallion_etl_spark.pipeline", "run_bronze_table"),
        ("aws_medallion_etl_spark.pipeline", "run_silver_table"),
        ("aws_medallion_etl_spark.pipeline", "run_gold"),
        ("aws_medallion_etl_spark.io", "write_parquet"),
        ("aws_medallion_etl_spark.io", "write_json_report"),
    ],
    "table_churn": [
        ("aws_medallion_etl_spark.snapshot", "merge_into"),
        ("aws_medallion_etl_spark.snapshot", "delete_where"),
        ("aws_medallion_etl_spark.snapshot", "update_where"),
        ("aws_medallion_etl_spark.snapshot", "compact"),
        ("aws_medallion_etl_spark.snapshot", "snapshot_read"),
        ("aws_medallion_etl_spark.snapshot", "snapshot_changes"),
        ("aws_medallion_etl_spark.mv", "refresh_rollup"),
        ("aws_medallion_etl_spark.mv", "refresh_join_rollup"),
    ],
    "corpus_stream": [
        ("aws_medallion_etl_spark.streaming", "run_available_now"),
        ("aws_medallion_etl_spark.ingest", "ingest_batch"),
        ("aws_medallion_etl_spark.operators.fuzzy", "dedup_against_corpus_lsh"),
        ("aws_medallion_etl_spark.operators.fuzzy", "dedup_against_corpus"),
        ("aws_medallion_etl_spark.operators.fuzzy", "merge_clusters"),
        ("aws_medallion_etl_spark.operators.fuzzy", "append_to_minhash_index"),
        ("aws_medallion_etl_spark.operators.fuzzy", "index_stop_shingles"),
    ],
}


def span_name(module: str, fn: str) -> str:
    """``aws_medallion_etl_spark.operators.fuzzy`` + ``merge_clusters``
    -> ``fuzzy.merge_clusters``."""
    return f"{module.rsplit('.', 1)[-1]}.{fn}"


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    thread: int
    group: str | None
    end: float = 0.0
    jobs: int = 0  # jobs in this span's own job group (children excluded)


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of its interval covered by
    its children. Children overlap when they ran on several threads at
    once, so coverage is the union of their intervals, not the sum."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = []
    for i, s in enumerate(spans):
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted((max(c.start, s.start), min(c.end, s.end)) for c in kids.get(i, [])):
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out.append((s.end - s.start) - covered)
    return out


def inclusive_jobs(spans: list[Span]) -> list[int]:
    """Jobs of each span plus those of all its descendants."""
    total = [s.jobs for s in spans]
    # children are appended after their parent, so one reverse pass
    # folds every subtree into its root
    for i in range(len(spans) - 1, -1, -1):
        p = spans[i].parent
        if p is not None:
            total[p] += total[i]
    return total


class Tracer:
    """Spans kept in memory. A span's parent is the innermost open span
    of its own thread; a thread with no open span (a pipeline worker,
    the streaming foreachBatch callback) hangs its spans under the
    innermost open span of the thread that created the tracer. Jobs
    are counted only while a SparkContext is active."""

    def __init__(self):
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._stacks: dict[int, list[int]] = {}
        self._root_thread = threading.get_ident()
        self._ids = itertools.count()
        self._restore: list[tuple[object, str, object]] = []

    @staticmethod
    def _sc():
        from pyspark import SparkContext

        return SparkContext._active_spark_context

    @contextmanager
    def span(self, name: str):
        tid = threading.get_ident()
        with self._lock:
            stack = self._stacks.setdefault(tid, [])
            if stack:
                parent = stack[-1]
            else:
                root = self._stacks.get(self._root_thread)
                parent = root[-1] if root else None
            idx = len(self.spans)
            sc = self._sc()
            group = f"perfbench-{next(self._ids)}" if sc is not None else None
            self.spans.append(Span(name, time.perf_counter(), parent, tid, group))
            stack.append(idx)
        sp = self.spans[idx]
        if group is not None:
            prev = (sc.getLocalProperty("spark.jobGroup.id"),
                    sc.getLocalProperty("spark.job.description"))
            sc.setJobGroup(group, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            with self._lock:
                stack.pop()
            if group is not None:
                sc.setLocalProperty("spark.jobGroup.id", prev[0])
                sc.setLocalProperty("spark.job.description", prev[1])
                sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
                sp.jobs = len(sc.statusTracker().getJobIdsForGroup(group))

    def wrap(self, module: str, fn: str) -> None:
        mod = importlib.import_module(module)
        orig = getattr(mod, fn)
        name = span_name(module, fn)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(mod, fn, traced)
        self._restore.append((mod, fn, orig))

    def install(self, workloads: tuple[str, ...]) -> list[str]:
        """Wrap every function the workloads (a run's workload, or the
        parts of a composite one) must exercise, and, with zero calls
        expected, the other workloads' functions too, so an idle layer
        reads zero. Returns the names that must be called."""
        required = []
        for group, targets in TRACED.items():
            for module, fn in targets:
                self.wrap(module, fn)
                if group == "all" or group in workloads:
                    required.append(span_name(module, fn))
        return required

    def uninstall(self) -> None:
        for mod, fn, orig in reversed(self._restore):
            setattr(mod, fn, orig)
        self._restore.clear()


class SparkCounters:
    """Per-op deltas of the DAG scheduler's global job counter and of
    the status store's stage records (stages that ran, their tasks,
    executor run time, shuffle write, spill and GC)."""

    FIELDS = ("jobs", "stages", "tasks", "executor_run_ms", "shuffle_write_bytes",
              "spill_bytes", "gc_ms")

    def __init__(self, sc):
        self.sc = sc
        self._jsc = sc._jsc.sc()
        self._seen_stage = -1  # newest stage id before the op
        self._jobs = 0  # global job counter before the op

    def _drain(self):
        self._jsc.listenerBus().waitUntilEmpty(30_000)

    def start(self) -> None:
        self._drain()
        self._jobs = self._jsc.dagScheduler().numTotalJobs()
        newest = self._stages_after(-1, limit=1)
        self._seen_stage = newest[0][0] if newest else -1

    def _stages_after(self, stage_id: int, limit: int | None = None) -> list[tuple]:
        """Stage records with id above ``stage_id`` (at most ``limit``).
        The store lists stages newest first, so the walk stops at the
        first old one."""
        jvm = self.sc._jvm
        arr = self.sc._gateway.new_array(jvm.double, 0)
        stages = self._jsc.statusStore().stageList(
            jvm.java.util.ArrayList(), False, False, arr, jvm.java.util.ArrayList()
        )
        out = []
        it = stages.iterator()
        while it.hasNext():
            s = it.next()
            if s.stageId() <= stage_id or len(out) == limit:
                break
            out.append((s.stageId(), s.status().toString(), s.numCompleteTasks()
                        + s.numFailedTasks(), s.executorRunTime(), s.shuffleWriteBytes(),
                        s.memoryBytesSpilled() + s.diskBytesSpilled(), s.jvmGcTime()))
        return out

    def stop(self) -> dict[str, int]:
        self._drain()
        jobs = self._jsc.dagScheduler().numTotalJobs() - self._jobs
        new = [s for s in self._stages_after(self._seen_stage) if s[1] != "SKIPPED"]
        return {
            "jobs": jobs,
            "stages": len(new),
            "tasks": sum(s[2] for s in new),
            "executor_run_ms": sum(s[3] for s in new),
            "shuffle_write_bytes": sum(s[4] for s in new),
            "spill_bytes": sum(s[5] for s in new),
            "gc_ms": sum(s[6] for s in new),
        }


def median_or_zero(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0
