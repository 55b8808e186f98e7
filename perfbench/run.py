"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload medallion_batch --seed 1 --seconds 20 --trace 0

Run from the repository root. The run starts a ``local[<cores>]``
Spark session through ``session.get_spark``, generates the workload's
set-up inputs twice from the seed (the two content hashes must match),
builds the initial state once from the first copy, runs whole ops back
to back for ``--seconds`` and checks the outputs. ``setup_s`` is the
CPU time of all of that before the first op: the session start, both
generations and the build. ``--trace 1`` wraps the engine's module
functions and reports per-layer numbers instead of the end-to-end
ones.

Stdout ends with two JSON lines: a full report (every metric the
workload defines, sample counts, check failures), then the result
line ``{"correct", "attempted", "failed", "metrics"}`` with the
metrics ``BENCHMARK.json`` lists for the run's trace mode.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import statistics
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SIZES = {
    "medallion_batch": {"n_orders": 15_000, "n_customers": 1_500},
    "table_churn": {"n_rows": 20_000},
    "corpus_stream": {"n_corpus": 1_000, "n_batch": 300},
}
DRIVER_MEM = "2g"
# a composite workload runs its parts' ops back to back as one op
PARTS = {"incremental": ("table_churn", "corpus_stream")}
# layer numbers a workload reports only when it exercises that layer;
# the others read zero
IDLE_ZERO = ("mv.full_recompute_share", "mv.groups_recomputed_share", "snapshot.files_live",
             "snapshot.dv_rows_live", "snapshot.bytes_on_disk", "bytes_per_live_byte",
             "streaming.run_available_now.batches")
CHURN_VERBS = {
    "merge_p50_ms": "merge_s",
    "delete_p50_ms": "delete_s",
    "update_p50_ms": "update_s",
    "refresh_rollup_p50_ms": "refresh_rollup_s",
    "refresh_join_p50_ms": "refresh_join_s",
    "read_p50_ms": "read_s",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted([*SIZES, *PARTS]))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _median_ms(values) -> float | None:
    return statistics.median(values) * 1000 if values else None


def _workload(name: str, spark, seed: int):
    if name in PARTS:
        from perfbench.incremental import Incremental

        return Incremental([_workload(p, spark, seed) for p in PARTS[name]])
    if name == "medallion_batch":
        from perfbench.medallion import MedallionBatch as cls
    elif name == "table_churn":
        from perfbench.churn import TableChurn as cls
    else:
        from perfbench.corpus import CorpusStream as cls
    return cls(spark, seed, **SIZES[name])


def _spark_env(work: str) -> dict[str, str]:
    """Pin Spark to this machine's cores and keep every file it writes
    inside the run's work directory."""
    for d in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    return {
        "spark.ui.showConsoleProgress": "false",
        # no hsperfdata file in the system temp dir. C1 only: a run's
        # JVM lives under a minute, too short for C2 code to pay back,
        # and C2's compile threads otherwise take half the CPU charged
        # to each op, varying from run to run. A fixed heap size: no
        # resizing GCs that land in some ops and not in others. The heap
        # is touched at start, so the kernel maps and zeroes its pages
        # in the set-up, not in whichever op first allocates into them
        "spark.driver.extraJavaOptions": (f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData "
                                          f"-XX:TieredStopAtLevel=1 -Xms{DRIVER_MEM} "
                                          "-XX:+AlwaysPreTouch"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }


def peak_rss_mb(spark) -> float:
    """JVM VmHWM plus this process's max RSS, in MiB."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024


def cpu_seconds(jvm_pid: int) -> float:
    """CPU time used so far by the JVM, the Python workers it forked and
    this process. Unlike wall time it does not count time the machine
    spent running other tenants."""
    stats = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    f = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue  # the process ended while we listed
            stats[int(d)] = (int(f[1]), int(f[11]) + int(f[12]))
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    todo, ticks = [jvm_pid], 0
    while todo:
        pid = todo.pop()
        ticks += stats.get(pid, (0, 0))[1]
        todo += kids.get(pid, [])
    own = os.times()
    return ticks / os.sysconf("SC_CLK_TCK") + own.user + own.system


def host_ticks() -> tuple[int, int]:
    """Machine-wide (busy, stolen) clock ticks so far, from /proc/stat.
    Stolen ticks are those the hypervisor gave to other guests."""
    with open("/proc/stat") as fh:
        f = [int(v) for v in fh.readline().split()[1:9]]
    return f[0] + f[1] + f[2] + f[5] + f[6], f[7]


def run(args, work: str) -> dict:
    from aws_medallion_etl_spark import session
    from perfbench import trace as tr

    conf = _spark_env(work)
    tracer = tr.Tracer() if args.trace else None
    required = tracer.install(PARTS.get(args.workload, (args.workload,))) if tracer else []

    t0, own_cpu0 = time.perf_counter(), sum(os.times()[:2])
    spark = session.get_spark(app_name="perfbench", extra_conf=conf)
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    try:
        wl = _workload(args.workload, spark, args.seed)
        t1 = time.perf_counter()
        hashes = [wl.generate(os.path.join(work, "rep0"))]
        phases = {"generate_s": time.perf_counter() - t1}
        # the second copy of the inputs only proves the generator
        # deterministic; it is made on another thread while the state
        # is built from the first (the build leaves cores idle)
        with ThreadPoolExecutor(1) as pool:
            copy = pool.submit(wl.generate, os.path.join(work, "rep1"))
            wl.build(os.path.join(work, "rep0"))
            phases["build_s"] = time.perf_counter() - t1 - phases["generate_s"]
            hashes.append(copy.result())
        setup_wall_s = time.perf_counter() - t0
        setup_s = cpu_seconds(jvm_pid) - own_cpu0
        checks = []
        if len(set(hashes)) != 1:
            checks.append(f"same seed gave different input hashes: {hashes}")

        counters = tr.SparkCounters(spark.sparkContext) if tracer else None
        first_span = len(tracer.spans) if tracer else 0
        dag = spark.sparkContext._jsc.sc().dagScheduler()
        recs, op_spans, failed_ops, iters = [], [], 0, []
        busy, stolen = 0, 0
        t_start = time.perf_counter()
        # run whole ops while the next one is expected to end inside the
        # window, so the op count (and with it each median) does not
        # hinge on where the window happens to cut an op
        while not iters or (time.perf_counter() - t_start + statistics.median(iters)
                            <= args.seconds):
            t0 = time.perf_counter()
            wl.prepare()
            # every op starts from a collected heap, so garbage left by
            # the set-up or the previous op is not collected on its time
            spark.sparkContext._jvm.System.gc()
            cpu0, jobs0 = cpu_seconds(jvm_pid), dag.numTotalJobs()
            host0 = host_ticks()
            try:
                if tracer:
                    counters.start()
                    with tracer.span("op") as sp:
                        rec = wl.op()
                    rec["spark"] = counters.stop()
                    op_spans.append(sp)
                else:
                    rec = wl.op()
                rec["cpu_s"] = cpu_seconds(jvm_pid) - cpu0
                rec["jobs"] = dag.numTotalJobs() - jobs0
                recs.append(rec)
            except Exception:  # noqa: BLE001 — a failed op is counted, the loop goes on
                traceback.print_exc()
                failed_ops += 1
            host1 = host_ticks()
            busy, stolen = busy + host1[0] - host0[0], stolen + host1[1] - host0[1]
            iters.append(time.perf_counter() - t0)
        timed_spans = slice(first_span, len(tracer.spans) if tracer else 0)
        t0 = time.perf_counter()
        try:
            checks += wl.check()
        except Exception as e:  # noqa: BLE001 — a crashed check is a failed check
            traceback.print_exc()
            checks.append(f"check raised {type(e).__name__}: {e}")
        check_s = time.perf_counter() - t0
        if tracer:
            called = {s.name for s in tracer.spans}
            missing = [n for n in required if n not in called]
            if missing:
                checks.append(f"wrapped functions never called: {missing}")
        layer = wl.layer_metrics()
        rss = peak_rss_mb(spark)
    finally:
        if tracer:
            tracer.uninstall()
        _stop(spark)

    attempted = len(recs) + failed_ops
    failed = failed_ops + len(checks)
    e2e = end_to_end(recs, setup_s, failed / attempted, rss,
                     layer.get("bytes_per_live_byte"))
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "samples": len(recs), "attempted": attempted, "failed": failed,
        "session_s": session_s, "setup_wall_s": setup_wall_s, **phases,
        "check_s": check_s,
        # host contention during the timed ops: stolen / (busy + stolen)
        "host_steal_share": stolen / max(busy + stolen, 1),
        "checks_failed": checks, "metrics": e2e,
    }
    if tracer:
        per_layer = dict.fromkeys(IDLE_ZERO, 0.0)
        per_layer.update(layer_metrics(tracer.spans, timed_spans, op_spans, recs, session_s))
        per_layer.update(layer)
        per_layer["peak_rss_mb"] = rss
        per_layer["traced.op_p50_ms"] = e2e["op_p50_ms"]["value"]
        per_layer["traced.rows_per_s"] = e2e["rows_per_s"]["value"]
        report["per_layer"] = per_layer
    return report


def end_to_end(recs: list[dict], setup_s: float, error_rate: float, rss_mb: float,
               bytes_per_live_byte: float | None) -> dict:
    """The end-to-end metrics from the timed op records. Timings are
    medians over ``recs``; a metric the workload does not produce is
    ``None``. Besides wall time, each op's CPU time (the JVM, its
    Python workers and this process) and its Spark job count are
    reported: time stolen by other tenants of the host does not count
    as CPU time, and job counts do not depend on the host at all."""
    op_s = [r["op_s"] for r in recs]
    timed = sum(op_s)
    cpu = sum(r["cpu_s"] for r in recs)
    rows = sum(r["rows"] for r in recs)
    values = {
        "setup_s": (setup_s, "s"),
        "rows_per_s": (rows / timed if timed else None, "1/s"),
        "op_p50_ms": (_median_ms(op_s), "ms"),
        "op_cpu_p50_ms": (_median_ms([r["cpu_s"] for r in recs]), "ms"),
        "rows_per_cpu_s": (rows / cpu if cpu else None, "1/s"),
        "jobs_per_op": (statistics.median(r["jobs"] for r in recs) if recs else None, "count"),
        **{m: (_median_ms([r[k] for r in recs if k in r]), "ms")
           for m, k in CHURN_VERBS.items()},
        "bytes_per_live_byte": (bytes_per_live_byte, "ratio"),
        "error_rate": (error_rate, "ratio"),
        "peak_rss_mb": (rss_mb, "MiB"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in values.items()}


def layer_metrics(spans, timed: slice, op_spans, recs, session_s) -> dict:
    """Per-call medians of every wrapped function over the timed ops
    (``spans[timed]``), plus per-op pipeline overlap and Spark
    status-store deltas."""
    from perfbench import trace as tr

    self_s = tr.self_times(spans)
    incl = tr.inclusive_jobs(spans)
    n_ops = max(len(op_spans), 1)
    out: dict[str, float] = {"session.get_spark.wall_ms": session_s * 1000}
    by_name: dict[str, list[int]] = {}
    for i in range(timed.start, timed.stop):
        by_name.setdefault(spans[i].name, []).append(i)
    for group, targets in tr.TRACED.items():
        if group == "all":
            continue
        for module, fn in targets:
            name = tr.span_name(module, fn)
            idx = by_name.get(name, [])
            out[f"{name}.wall_ms"] = tr.median_or_zero(
                (spans[i].end - spans[i].start) * 1000 for i in idx)
            out[f"{name}.self_ms"] = tr.median_or_zero(self_s[i] * 1000 for i in idx)
            out[f"{name}.jobs"] = tr.median_or_zero(incl[i] for i in idx)
            out[f"{name}.calls"] = len(idx) / n_ops
    for layer in ("bronze", "silver"):
        ratios = []
        for op in op_spans:
            stage = [s for s in spans[timed] if s.name == f"pipeline.run_{layer}_table"
                     and op.start <= s.start <= op.end]
            if stage:
                wall = max(s.end for s in stage) - min(s.start for s in stage)
                ratios.append(sum(s.end - s.start for s in stage) / wall)
        out[f"pipeline.{layer}.overlap"] = tr.median_or_zero(ratios)
    cores = len(os.sched_getaffinity(0))
    for f in tr.SparkCounters.FIELDS:
        out[f"spark.{f}_per_op"] = tr.median_or_zero(r["spark"][f] for r in recs)
    out["spark.busy_ratio"] = tr.median_or_zero(
        r["spark"]["executor_run_ms"] / (r["op_s"] * 1000 * cores) for r in recs)
    grouped = []
    for op in op_spans:
        grouped.append(sum(s.jobs for s in spans[timed]
                           if op.start <= s.start <= op.end))
    out["spark.ungrouped_jobs_per_op"] = tr.median_or_zero(
        r["spark"]["jobs"] - g for r, g in zip(recs, grouped))
    return out


def _stop(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — a JVM that ignores shutdown is killed
            proc.kill()
            proc.wait()


def result_line(report: dict, spec: list[dict]) -> dict:
    """The result line: the metrics ``spec`` names, with its units."""
    values = ({k: v["value"] for k, v in report["metrics"].items()} if report["trace"] == 0
              else report["per_layer"])
    return {
        "correct": report["failed"] == 0,
        "attempted": max(report["attempted"], 1),
        "failed": report["failed"],
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, REPO)
    try:
        import aws_medallion_etl_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable from {REPO}: {e}",
              file=sys.stderr)
        return 2
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    work = os.path.join(REPO, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        report = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    line = result_line(report, spec["per_layer" if args.trace else "end_to_end"])
    print(json.dumps(report, default=str))
    print(json.dumps(line), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
