"""Medallion pipeline runner: bronze → silver → gold with gates.

Re-expresses the reference's orchestration semantics (SURVEY.md §2.11)
as a plain-Python stage runner — the Airflow DAG collapses to call
order (C3), layer-completion gates read the previous layer's JSON
report (C2, ``Meta_Guideline.md:2145-2184``), the circuit breaker
fires before any write (C1), and a master ``run_pipeline`` drives the
whole flow idempotently (C4, ``requirements/...:27-40``).

Stage contract: each stage writes its tables under
``<out>/<layer>/<table>/run_date=<d>/`` plus a ``_reports`` JSON; a
stage REFUSES to run if its upstream report is missing or failed.
Re-running a stage for the same run_date overwrites only that
run_date's partitions (dynamic partition overwrite) — the acceptance
test "re-run ⇒ no duplicates" (``requirements/...:143``).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from aws_medallion_etl_spark import io
from aws_medallion_etl_spark.operators import dedup, dq, validate


class GateFailure(RuntimeError):
    """An upstream layer report is missing or failed (C2 gate)."""


# ---------------------------------------------------------------------------
# C5 failure alerts — the reference publishes pipeline failures to an
# SNS topic / Slack webhook (``Meta_Guideline.md:4330-4354``); here that
# is a pluggable callback registry so any transport (webhook poster,
# log shipper, the bundled JSON-lines file sink) can subscribe.
# Callbacks receive (event, subject, payload) and MUST NOT be able to
# mask the original pipeline error: callback exceptions are swallowed.
# ---------------------------------------------------------------------------

AlertCallback = Callable[[str, str, dict], None]
_ALERT_CALLBACKS: list[AlertCallback] = []


def register_alert_callback(fn: AlertCallback) -> AlertCallback:
    """Subscribe ``fn(event, subject, payload)`` to pipeline failures."""
    _ALERT_CALLBACKS.append(fn)
    return fn


def clear_alert_callbacks() -> None:
    _ALERT_CALLBACKS.clear()


def _fire_alerts(event: str, subject: str, payload: dict) -> None:
    for fn in list(_ALERT_CALLBACKS):
        try:
            fn(event, subject, payload)
        except Exception:  # noqa: BLE001 — alerting never masks the failure
            pass


def jsonl_alert_sink(path: str) -> AlertCallback:
    """File-backed alert transport (local stand-in for the SNS topic)."""
    import json

    def _sink(event: str, subject: str, payload: dict) -> None:
        with open(path, "a", encoding="utf-8") as f:
            f.write(json.dumps({"event": event, "subject": subject, **payload}) + "\n")

    return _sink


@dataclass
class TableSpec:
    """Per-table pipeline configuration.

    ``rules`` is a factory (Column expressions need a live session);
    ``clean`` is an optional silver-side transform.
    """

    name: str
    rules: Callable[[], list[validate.Rule]] = field(default=lambda: [])
    nk: list[str] = field(default_factory=list)
    dedup_order: list[str] = field(default_factory=list)
    clean: Callable[[DataFrame], DataFrame] | None = None
    reject_threshold: float = 0.10


def _table_path(out_dir: str, layer: str, table: str) -> str:
    return f"{out_dir}/{layer}/{table}"


def require_layer_ok(
    out_dir: str, layer: str, tables: list[str], run_date: str
) -> dict[str, dict]:
    """C2: fail fast unless every upstream table reported status=ok.
    Returns the upstream reports by table."""
    reports = {}
    for t in tables:
        try:
            report = io.read_json_report(f"{out_dir}/{layer}", t, run_date)
        except FileNotFoundError as e:
            _fire_alerts(
                "gate_failure", f"{layer}/{t}",
                {"run_date": run_date, "error": "report missing"},
            )
            raise GateFailure(f"{layer}/{t}: report missing for {run_date}") from e
        if report.get("status") != "ok":
            _fire_alerts(
                "gate_failure", f"{layer}/{t}",
                {"run_date": run_date, "error": f"status={report.get('status')}"},
            )
            raise GateFailure(f"{layer}/{t}: status={report.get('status')}")
        reports[t] = report
    return reports


def _observed(
    df: DataFrame, run_date: str, flag_cols: Sequence[str] = ()
) -> tuple[DataFrame, Observation]:
    """Count, during the write itself, the rows ``df`` lands in
    ``run_date``'s partition, plus the sum of each flag column over
    them — the figures a read-back of that partition would give,
    without a second job. Matching on the partition value (rather than
    counting every row) keeps a builder frame that carries its own
    ``run_date`` column reported as its one partition."""
    obs = Observation()
    in_part = F.col("run_date").cast("string") == F.lit(run_date)
    return df.observe(
        obs,
        F.count_if(in_part).alias("n"),
        *[F.sum(F.when(in_part, F.col(c).cast("long"))).alias(c) for c in flag_cols],
    ), obs


def run_bronze_table(
    spark: SparkSession,
    spec: TableSpec,
    source: DataFrame,
    out_dir: str,
    run_date: str,
) -> dict:
    """Validate → circuit-break → write valid rows + rejects + report.

    The tagged frame is persisted for the duration of the stage so the
    gate aggregate, the valid write, and the reject write share ONE
    scan of the source (the reference re-reads per action). Nothing is
    read back: the report's ``valid`` count is exactly the row count of
    the written ``run_date`` partition, and its ``schema`` (the valid
    frame's, as JSON) lets silver read that partition without a
    parquet footer-inference job.
    """
    base = f"{out_dir}/bronze"
    tagged = validate.tag_rejects(source, spec.rules()).persist()
    try:
        stats = validate.validation_stats(tagged)
        validate.circuit_breaker(stats, spec.reject_threshold)  # raises pre-write

        valid = tagged.filter(F.col(validate.REJECT_REASON).isNull()).drop(
            validate.REJECT_REASON
        )
        valid = valid.withColumn("run_date", F.lit(run_date))
        io.write_parquet(
            valid, _table_path(out_dir, "bronze", spec.name), partition_by=["run_date"]
        )
        rejects = tagged.filter(F.col(validate.REJECT_REASON).isNotNull())
        io.write_rejects(rejects, base, spec.name, run_date)
        report = {
            "status": "ok", "layer": "bronze", **stats,
            "schema": valid.schema.jsonValue(),
        }
    except validate.CircuitBreakerError as e:
        report = {"status": "failed", "layer": "bronze", "error": str(e)}
        io.write_json_report(report, base, spec.name, run_date)
        _fire_alerts(
            "circuit_breaker", f"bronze/{spec.name}",
            {"run_date": run_date, "error": str(e)},
        )
        raise
    finally:
        tagged.unpersist()
    io.write_json_report(report, base, spec.name, run_date)
    return report


def run_silver_table(
    spark: SparkSession,
    spec: TableSpec,
    out_dir: str,
    run_date: str,
    fingerprints: bool = False,
) -> dict:
    """Gate on bronze → NK dedup (keep newest) → clean → write + report.

    Every count in the report comes from work the stage does anyway:
    ``rows_in`` is the bronze report's ``valid`` count (bronze wrote
    exactly those rows into this ``run_date`` partition), and
    ``rows_out`` plus the per-strategy counters ride the silver write
    as an ``Observation``. Nothing is read back. Bronze is read with
    the schema its report recorded; a report from before that key
    existed falls back to an inferred read.

    ``fingerprints=True`` adds the additive content checksum
    (``dq.dataset_fingerprint``) to the report for run-over-run drift
    compares. It is OPT-IN because it reads the written partition back
    in a full all-column scan + md5 — at 100 TB that is a deliberate
    audit pass, not a default tax (measured +2.2 s of the 10 s sf0.1
    e2e run).
    """
    bronze = require_layer_ok(out_dir, "bronze", [spec.name], run_date)[spec.name]
    reader = spark.read
    if "schema" in bronze:
        reader = reader.schema(StructType.fromJson(bronze["schema"]))
    df = reader.parquet(_table_path(out_dir, "bronze", spec.name)).where(
        F.col("run_date") == run_date
    )
    n_in = bronze["valid"]
    if spec.nk:
        df = dedup.dedup_max_by(
            df.drop("run_date"), spec.nk, spec.dedup_order or spec.nk
        ).withColumn("run_date", F.lit(run_date))
    if spec.clean is not None:
        df = spec.clean(df)
    # Per-strategy counters (reference silver reports,
    # Meta_Guideline.md:1643-1650): any *_was_imputed flag the clean
    # hook added is summed on the write, next to the row count.
    flag_cols = [c for c in df.columns if c.endswith("_was_imputed")]
    df, obs = _observed(df, run_date, flag_cols)
    io.write_parquet(
        df, _table_path(out_dir, "silver", spec.name), partition_by=["run_date"]
    )
    counts = obs.get
    n_out = counts["n"]
    report = {"status": "ok", "layer": "silver", "rows_in": n_in}
    if fingerprints:
        # run-over-run drift in this partition is a 1-row compare of
        # consecutive reports' checksums
        written = io.read_parquet(
            spark, _table_path(out_dir, "silver", spec.name)
        ).where(F.col("run_date") == run_date)
        fp = dq.dataset_fingerprint(written).collect()[0]
        report["fingerprint"] = str(fp["fingerprint"])
    report["rows_out"] = n_out
    report["deduped"] = n_in - n_out
    if flag_cols:
        report["strategy_counts"] = {c: counts[c] or 0 for c in flag_cols}
    io.write_json_report(report, f"{out_dir}/silver", spec.name, run_date)
    return report


def run_gold(
    spark: SparkSession,
    builders: dict[str, Callable[[SparkSession, str, str], DataFrame]],
    upstream_tables: list[str],
    out_dir: str,
    run_date: str,
    fingerprints: bool = False,
) -> dict:
    """Gate on silver → build each gold table → write + report.

    ``builders`` maps gold table name → fn(spark, out_dir, run_date)
    returning the frame to write (dims, facts, KPIs).
    ``tables[name]`` is counted on the write (an ``Observation``), so
    nothing is read back. ``fingerprints`` as in
    :func:`run_silver_table` — opt-in content checksums in the report,
    from a full read-back scan of each written partition.
    """
    require_layer_ok(out_dir, "silver", upstream_tables, run_date)
    report: dict = {"status": "ok", "layer": "gold", "tables": {}}
    if fingerprints:
        report["fingerprints"] = {}
    for name, build in builders.items():
        df = build(spark, out_dir, run_date)
        if "run_date" not in df.columns:
            df = df.withColumn("run_date", F.lit(run_date))
        df, obs = _observed(df, run_date)
        io.write_parquet(
            df, _table_path(out_dir, "gold", name), partition_by=["run_date"]
        )
        report["tables"][name] = obs.get["n"]
        if fingerprints:
            # gold KPI drift surfaces as a report diff (see run_silver_table)
            written = io.read_parquet(spark, _table_path(out_dir, "gold", name)).where(
                F.col("run_date") == run_date
            )
            fp = dq.dataset_fingerprint(written).collect()[0]
            report["fingerprints"][name] = str(fp["fingerprint"])
    io.write_json_report(report, f"{out_dir}/gold", "_all", run_date)
    return report


def _run_layer(spark: SparkSession, stages: dict[str, Callable[[], dict]],
               max_workers: int) -> dict[str, dict]:
    """Run one layer's independent per-table stages, overlapped.

    Guide §2.6 ("overlap independent jobs"): within a layer every
    table's stage is an independent branch of the C3 DAG — bronze
    tables share nothing, and each silver stage gates on ITS OWN
    bronze report only — so driver threads let the scheduler back-fill
    one table's straggler tail with the next table's tasks. Failure
    stays deterministic: every stage runs to completion (a failing
    table still writes its own failed report, exactly as sequential
    order did for tables before it), then the FIRST failure in spec
    order is re-raised. Each stage runs with the caller's Spark local
    properties (``inheritable_thread_target``), so its jobs stay in the
    caller's job group and a ``cancelJobGroup`` reaches them."""
    if max_workers <= 1 or len(stages) <= 1:
        return {n: fn() for n, fn in stages.items()}
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    with ThreadPoolExecutor(
        max_workers=min(max_workers, len(stages))
    ) as pool:
        futs = {
            n: pool.submit(inheritable_thread_target(spark)(fn))
            for n, fn in stages.items()
        }
        results: dict[str, dict] = {}
        first_err: BaseException | None = None
        for n, f in futs.items():
            try:
                results[n] = f.result()
            except BaseException as e:  # noqa: BLE001 — re-raised below
                if first_err is None:
                    first_err = e
        if first_err is not None:
            raise first_err
        return results


def run_pipeline(
    spark: SparkSession,
    sources: dict[str, DataFrame],
    specs: dict[str, TableSpec],
    gold_builders: dict[str, Callable[[SparkSession, str, str], DataFrame]],
    out_dir: str,
    run_date: str,
    fingerprints: bool = False,
    layer_concurrency: int = 3,
) -> dict:
    """C4 master runner: bronze(all) → silver(all) → gold, gated.

    Within a layer the per-table stages are INDEPENDENT branches of
    C3's DAG (bronze tables share nothing; each silver stage gates on
    its own table's bronze report) and run overlapped from a small
    driver thread pool (round 15, guide §2.6 — the same concurrency
    an Airflow deployment of the reference DAG gets from its
    parallel task slots), capped at ``layer_concurrency`` in-flight
    tables; pass ``1`` to pin the old strictly-sequential dict-order
    execution (e.g. when a custom ``clean`` hook reads ANOTHER
    table's silver output — cross-table in-layer dependence is
    outside the layer contract). Layer boundaries remain strict
    barriers: silver starts only after every bronze stage finished,
    gold after every silver. Returns the combined report tree.
    ``fingerprints=True`` adds per-layer content checksums to the
    reports (opt-in audit pass — see :func:`run_silver_table` for the
    cost model).
    """
    reports: dict = {"bronze": {}, "silver": {}, "gold": None}
    reports["bronze"] = _run_layer(
        spark,
        {
            name: (lambda s=spec, n=name: run_bronze_table(
                spark, s, sources[n], out_dir, run_date
            ))
            for name, spec in specs.items()
        },
        layer_concurrency,
    )
    reports["silver"] = _run_layer(
        spark,
        {
            name: (lambda s=spec: run_silver_table(
                spark, s, out_dir, run_date, fingerprints=fingerprints
            ))
            for name, spec in specs.items()
        },
        layer_concurrency,
    )
    reports["gold"] = run_gold(
        spark, gold_builders, list(specs), out_dir, run_date,
        fingerprints=fingerprints,
    )
    return reports
