"""IO layer (S1-S12) + pipeline runner (C1-C4) — including the two
reference acceptance tests: idempotent re-run (no duplicates) and the
circuit breaker blocking downstream layers.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from aws_medallion_etl_spark import io, pipeline
from aws_medallion_etl_spark.operators import validate


def test_csv_contract_read(spark, tmp_path):
    p = tmp_path / "users.csv"
    p.write_text('Id,UserName,Country\n1,"alice, a.",US\n2,bob,\n')
    schema = StructType(
        [
            StructField("Id", IntegerType()),
            StructField("UserName", StringType()),
            StructField("Country", StringType()),
        ]
    )
    df = io.read_csv_contract(
        spark, str(p), schema, rename={"Id": "user_id", "UserName": "user_name"}
    )
    assert df.columns == ["user_id", "user_name", "Country"]
    rows = {r.user_id: r for r in df.collect()}
    assert rows[1].user_name == "alice, a."  # quoted comma survives
    assert rows[2].Country is None
    assert df.schema["user_id"].dataType == IntegerType()  # enforced, not inferred


def test_provenance_columns(spark, tmp_path):
    src = tmp_path / "in.parquet"
    spark.range(3).write.parquet(str(src))
    df = io.with_provenance(spark.read.parquet(str(src)), "2024-06-01", "unit")
    r = df.collect()[0]
    assert r.run_date == "2024-06-01"
    assert r.source_system == "unit"
    assert "in.parquet" in r.source_file
    assert r.ingest_ts is not None


def test_partitioned_write_dynamic_overwrite_idempotent(spark, tmp_path):
    """Re-writing one run_date must not touch sibling partitions (S5)."""
    out = str(tmp_path / "t")
    d1 = spark.createDataFrame([(1, "2024-01-01")], "v int, run_date string")
    d2 = spark.createDataFrame([(2, "2024-01-02")], "v int, run_date string")
    io.write_parquet(d1, out, partition_by=["run_date"])
    io.write_parquet(d2, out, partition_by=["run_date"])
    # overwrite day 2 again (the re-run) — day 1 must survive
    io.write_parquet(d2, out, partition_by=["run_date"])
    # partition values come back type-inferred (dates) — compare as strings
    got = sorted((str(r.run_date), r.v) for r in spark.read.parquet(out).collect())
    assert got == [("2024-01-01", 1), ("2024-01-02", 2)]


def test_reject_sink_and_report_roundtrip(spark, tmp_path):
    base = str(tmp_path)
    rejects = spark.createDataFrame(
        [("u1", "missing_name")], f"user_id string, {validate.REJECT_REASON} string"
    )
    path = io.write_rejects(rejects, base, "users", "2024-06-01")
    assert "_rejects/users/run_date=2024-06-01" in path
    assert spark.read.parquet(path).count() == 1

    io.write_json_report({"status": "ok", "total": 10}, base, "users", "2024-06-01")
    report = io.read_json_report(base, "users", "2024-06-01")
    assert report["status"] == "ok" and report["total"] == 10
    assert report["table"] == "users"


def test_input_sensor(tmp_path):
    ok = tmp_path / "x.csv"
    ok.write_text("a")
    io.check_inputs_exist([str(ok)])
    with pytest.raises(io.MissingInputError):
        io.check_inputs_exist([str(ok), str(tmp_path / "absent.csv")])


def test_register_and_sql_endpoint(spark, sf_dir):
    io.register_table(spark, spark.read.parquet(f"{sf_dir}/nation.parquet"), "nation_v")
    out = io.sql(spark, "SELECT count(*) AS n FROM nation_v").collect()
    assert out[0].n == 25


# ---------------------------------------------------------------------------
# Pipeline runner end-to-end
# ---------------------------------------------------------------------------


def _specs():
    return {
        "orders": pipeline.TableSpec(
            name="orders",
            rules=lambda: [
                validate.Rule("negative_price", F.col("o_totalprice") < 0),
            ],
            nk=["o_orderkey"],
            dedup_order=["o_orderdate"],
        ),
        "customer": pipeline.TableSpec(
            name="customer",
            rules=lambda: [
                validate.Rule("missing_segment", validate.null_or_blank("c_mktsegment")),
            ],
            nk=["c_custkey"],
            dedup_order=["c_acctbal"],
        ),
    }


def _gold_builders():
    def fact_orders_by_segment(spark, out_dir, run_date):
        orders = spark.read.parquet(f"{out_dir}/silver/orders")
        cust = spark.read.parquet(f"{out_dir}/silver/customer")
        return (
            orders.where(F.col("run_date") == run_date)
            .join(
                F.broadcast(cust.select("c_custkey", "c_mktsegment")),
                orders["o_custkey"] == F.col("c_custkey"),
                "left",
            )
            .fillna({"c_mktsegment": "UNKNOWN"})
            .groupBy("c_mktsegment")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.round(F.sum("o_totalprice"), 2).alias("total_price"),
            )
        )

    return {"fact_orders_by_segment": fact_orders_by_segment}


def test_pipeline_end_to_end_and_idempotent(spark, sf_dir, tmp_path):
    out = str(tmp_path / "lake")
    sources = {
        "orders": spark.read.parquet(f"{sf_dir}/orders.parquet"),
        "customer": spark.read.parquet(f"{sf_dir}/customer.parquet"),
    }
    reports = pipeline.run_pipeline(
        spark, sources, _specs(), _gold_builders(), out, "2024-06-01",
        fingerprints=True,
    )
    assert reports["bronze"]["orders"]["status"] == "ok"
    assert reports["silver"]["customer"]["status"] == "ok"
    n_fact = reports["gold"]["tables"]["fact_orders_by_segment"]
    assert n_fact > 0

    gold1 = sorted(
        tuple(r)
        for r in spark.read.parquet(f"{out}/gold/fact_orders_by_segment").collect()
    )
    # full re-run of the same run_date: byte-identical gold, no duplicates
    reports2 = pipeline.run_pipeline(
        spark, sources, _specs(), _gold_builders(), out, "2024-06-01",
        fingerprints=True,
    )
    gold2 = sorted(
        tuple(r)
        for r in spark.read.parquet(f"{out}/gold/fact_orders_by_segment").collect()
    )
    assert gold1 == gold2
    # the report-level checksums agree run-over-run too — the 1-row
    # drift compare the fingerprints exist for
    assert (reports["gold"]["fingerprints"] == reports2["gold"]["fingerprints"])
    for t in reports["silver"]:
        assert (reports["silver"][t]["fingerprint"]
                == reports2["silver"][t]["fingerprint"])
    # default (fingerprints off): same counts, no checksum fields, and
    # no read-back at all: the counts ride the writes
    reports3 = pipeline.run_pipeline(
        spark, sources, _specs(), _gold_builders(), out, "2024-06-01"
    )
    assert reports3["gold"]["tables"] == reports["gold"]["tables"]
    assert "fingerprints" not in reports3["gold"]
    for t in reports3["silver"]:
        assert "fingerprint" not in reports3["silver"][t]
        assert reports3["silver"][t]["rows_out"] == reports["silver"][t]["rows_out"]


def test_silver_clean_hook_reports_strategy_counts(spark, tmp_path):
    """A clean hook that imputes must surface its counters in the report."""
    from aws_medallion_etl_spark.operators import clean

    out = str(tmp_path / "lake_clean")
    src = spark.createDataFrame(
        [(1, "US"), (2, None), (3, " ")], "id int, country string"
    )
    spec = pipeline.TableSpec(
        name="t",
        nk=["id"],
        dedup_order=["id"],
        clean=lambda df: clean.impute_missing(df, {"country": "XX"}),
    )
    pipeline.run_bronze_table(spark, spec, src, out, "2024-06-01")
    report = pipeline.run_silver_table(spark, spec, out, "2024-06-01")
    assert report["strategy_counts"] == {"country_was_imputed": 2}
    silver = spark.read.parquet(f"{out}/silver/t")
    assert {r.country for r in silver.collect()} == {"US", "XX"}
    # counters also land in the persisted JSON report (C5 metadata path)
    assert io.read_json_report(f"{out}/silver", "t", "2024-06-01")[
        "strategy_counts"
    ] == {"country_was_imputed": 2}


def _tiny_pipeline_inputs(spark):
    """Two tables: orders with one duplicate key and one reject, and a
    zero-row returns table; one gold count over silver orders."""
    orders = spark.createDataFrame(
        [(1, "a", 10.0), (1, "b", 12.0), (2, "a", 5.0), (3, "c", -1.0), (4, "b", 7.0)],
        "o_orderkey int, o_status string, o_totalprice double",
    )
    returns = spark.createDataFrame([], "r_orderkey int, r_reason string")
    specs = {
        "orders": pipeline.TableSpec(
            name="orders",
            rules=lambda: [validate.Rule("negative_price", F.col("o_totalprice") < 0)],
            nk=["o_orderkey"],
            dedup_order=["o_totalprice"],
            reject_threshold=0.5,
        ),
        "returns": pipeline.TableSpec(name="returns", nk=["r_orderkey"]),
    }

    def orders_by_status(spark, out_dir, run_date):
        return (
            spark.read.parquet(f"{out_dir}/silver/orders")
            .where(F.col("run_date") == run_date)
            .groupBy("o_status")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    sources = {"orders": orders, "returns": returns}
    return sources, specs, {"orders_by_status": orders_by_status}


def _total_jobs(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


def test_pipeline_reports_count_on_the_write(spark, tmp_path):
    """Stage reports take every count from work the stage already does:
    no written partition is read back, and bronze's recorded schema
    spares silver the footer-inference job. The job count is pinned so
    a read-back cannot creep back in."""
    out = str(tmp_path / "lake_counts")
    run_date = "2024-06-01"
    sources, specs, builders = _tiny_pipeline_inputs(spark)
    jobs0 = _total_jobs(spark)
    reports = pipeline.run_pipeline(spark, sources, specs, builders, out, run_date)
    assert _total_jobs(spark) - jobs0 == 14

    def partition(layer, table):
        return spark.read.parquet(f"{out}/{layer}/{table}").where(
            F.col("run_date") == run_date
        ).count()

    silver = reports["silver"]["orders"]
    assert silver["rows_in"] == partition("bronze", "orders") == 4
    assert silver["rows_out"] == partition("silver", "orders") == 3
    assert silver["deduped"] == partition("bronze", "orders") - partition("silver", "orders")
    assert reports["gold"]["tables"] == {
        "orders_by_status": partition("gold", "orders_by_status")
    }
    # a zero-row source table runs every layer and reports zeros
    assert reports["bronze"]["returns"]["valid"] == 0
    empty = reports["silver"]["returns"]
    assert (empty["rows_in"], empty["rows_out"], empty["deduped"]) == (0, 0, 0)


def test_run_layer_keeps_caller_job_group(spark, tmp_path):
    """Table stages on pool threads inherit the caller's job group, so
    ``cancelJobGroup`` on a pipeline run reaches every job of it."""
    sc = spark.sparkContext
    sources, specs, builders = _tiny_pipeline_inputs(spark)
    group = "pipeline-job-group-test"
    sc.setJobGroup(group, "run_pipeline under a job group")
    try:
        jobs0 = _total_jobs(spark)
        pipeline.run_pipeline(
            spark, sources, specs, builders, str(tmp_path / "lake_group"),
            "2024-06-01", layer_concurrency=3,
        )
        jobs = _total_jobs(spark) - jobs0
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    assert jobs > 0
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == jobs


def test_silver_reads_bronze_report_without_schema(spark, tmp_path):
    """A bronze report written before the ``schema`` key existed still
    gates silver, which then infers the bronze schema from the files
    (one more job) and reports the same counts."""
    import json

    out = str(tmp_path / "lake_old_report")
    run_date = "2024-06-01"
    sources, specs, _ = _tiny_pipeline_inputs(spark)
    spec = specs["orders"]
    pipeline.run_bronze_table(spark, spec, sources["orders"], out, run_date)
    jobs0 = _total_jobs(spark)
    new = pipeline.run_silver_table(spark, spec, out, run_date)
    jobs_new = _total_jobs(spark) - jobs0

    path = f"{out}/bronze/_reports/run_date={run_date}/orders_report.json"
    with open(path) as f:
        report = json.load(f)
    del report["schema"]
    with open(path, "w") as f:
        json.dump(report, f)
    jobs0 = _total_jobs(spark)
    old = pipeline.run_silver_table(spark, spec, out, run_date)
    assert _total_jobs(spark) - jobs0 == jobs_new + 1
    assert {k: old[k] for k in ("rows_in", "rows_out", "deduped")} == {
        k: new[k] for k in ("rows_in", "rows_out", "deduped")
    }
    assert spark.read.parquet(f"{out}/silver/orders").count() == new["rows_out"]


def test_pipeline_gate_blocks_on_missing_bronze(spark, sf_dir, tmp_path):
    out = str(tmp_path / "lake2")
    with pytest.raises(pipeline.GateFailure):
        pipeline.run_silver_table(
            spark, _specs()["orders"], out, "2024-06-01"
        )


def test_pipeline_circuit_breaker_blocks_writes(spark, tmp_path):
    out = str(tmp_path / "lake3")
    bad = spark.createDataFrame(
        [(1, -5.0)] * 9 + [(2, 10.0)], "o_orderkey int, o_totalprice double"
    )
    spec = pipeline.TableSpec(
        name="orders",
        rules=lambda: [validate.Rule("negative_price", F.col("o_totalprice") < 0)],
        nk=["o_orderkey"],
    )
    with pytest.raises(validate.CircuitBreakerError):
        pipeline.run_bronze_table(spark, spec, bad, out, "2024-06-01")
    # gate fired BEFORE any table write; the failure report blocks silver
    import os

    assert not os.path.exists(f"{out}/bronze/orders")
    report = io.read_json_report(f"{out}/bronze", "orders", "2024-06-01")
    assert report["status"] == "failed"
    with pytest.raises(pipeline.GateFailure):
        pipeline.run_silver_table(spark, spec, out, "2024-06-01")


def test_register_layer_persistent_external_tables(spark, sf_dir, tmp_path):
    """S10 persistent form: external catalog tables over parquet dirs
    (in-session check; the cross-JVM durability check is the
    subprocess test below)."""
    base = str(tmp_path / "layer")
    for t in ["nation", "region"]:
        spark.read.parquet(f"{sf_dir}/{t}.parquet").write.parquet(f"{base}/{t}")
    try:
        io.register_layer(spark, base, ["nation", "region"], prefix="cat_",
                          persistent=True)
        names = {t.name for t in spark.catalog.listTables()}
        assert {"cat_nation", "cat_region"} <= names
        assert spark.table("cat_nation").count() == 25
        # external: dropping the table must not delete the data
        spark.sql("DROP TABLE cat_nation")
        assert spark.read.parquet(f"{base}/nation").count() == 25
    finally:
        for t in ["cat_nation", "cat_region"]:
            spark.sql(f"DROP TABLE IF EXISTS {t}")


_CATALOG_SESSION_TEMPLATE = """
import sys
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir", "{wh}")
    .config("spark.sql.catalogImplementation", "hive")
    .config("spark.driver.extraJavaOptions", "-Dderby.system.home={derby}")
    .enableHiveSupport().getOrCreate())
sys.path.insert(0, "{repo}")
{body}
spark.stop()
"""


def _run_catalog_session(tmp_path, body: str):
    import subprocess
    import sys

    script = _CATALOG_SESSION_TEMPLATE.format(
        wh=str(tmp_path / "wh"), derby=str(tmp_path / "derby"),
        repo="/root/repo", body=body,
    )
    return subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True,
        cwd=str(tmp_path), timeout=180,
    )


def test_persistent_catalog_survives_new_session(sf_dir, tmp_path):
    """S10 durability: tables registered via the persistent path are
    visible to a SEPARATE JVM sharing only the warehouse + metastore
    dirs — the local equivalent of the reference's Glue catalog."""
    r1 = _run_catalog_session(tmp_path, f"""
from aws_medallion_etl_spark import io
df = spark.read.parquet("{sf_dir}/nation.parquet")
io.register_table(spark, df, "nation_managed", persistent=True)
io.register_parquet_table(spark, "nation_ext", "{sf_dir}/nation.parquet")
""")
    assert r1.returncode == 0, r1.stderr[-2000:]
    r2 = _run_catalog_session(tmp_path, """
tables = sorted(t.name for t in spark.catalog.listTables())
assert "nation_managed" in tables and "nation_ext" in tables, tables
assert spark.table("nation_managed").count() == 25
assert spark.table("nation_ext").count() == 25
print("CATALOG_OK")
""")
    assert r2.returncode == 0, r2.stderr[-2000:]
    assert "CATALOG_OK" in r2.stdout


def test_publish_jdbc_append_and_fanin_cap(spark, sf_dir, tmp_path):
    """S11: overwrite then append through the JDBC writer land the
    expected multiset in the warehouse (embedded Derby), and the
    num_partitions cap bounds connection fan-in (the plan writes
    through a single coalesced partition)."""
    from aws_medallion_etl_spark import io as eio

    db = str(tmp_path / "wh")
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    url = f"jdbc:derby:{db};create=true"
    region = spark.read.parquet(f"{sf_dir}/region.parquet").select(
        "r_regionkey", "r_name"
    )

    eio.publish_jdbc(region, url, "dim_region", properties=props,
                     num_partitions=1)
    eio.publish_jdbc(region, url, "dim_region", mode="append",
                     properties=props, num_partitions=1)

    def read_back():
        return (
            spark.read.format("jdbc")
            .option("url", f"jdbc:derby:{db}")
            .option("dbtable", "dim_region")
            .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
            .load()
        )

    back = read_back()
    assert back.count() == 2 * region.count()  # append doubled it
    assert back.select("r_regionkey").distinct().count() == region.count()
    # overwrite replaces, not appends
    eio.publish_jdbc(region, url, "dim_region", properties=props,
                     num_partitions=1)
    assert read_back().count() == region.count()


def test_alert_callbacks_fire_on_failures(spark, tmp_path):
    """C5: circuit-breaker and gate failures publish to registered alert
    sinks; a broken callback never masks the pipeline error."""
    out = str(tmp_path / "lake4")
    events = []
    pipeline.clear_alert_callbacks()
    pipeline.register_alert_callback(lambda e, s, p: events.append((e, s, p)))
    pipeline.register_alert_callback(
        lambda e, s, p: (_ for _ in ()).throw(RuntimeError("broken sink"))
    )
    sink_path = str(tmp_path / "alerts.jsonl")
    pipeline.register_alert_callback(pipeline.jsonl_alert_sink(sink_path))
    try:
        bad = spark.createDataFrame(
            [(1, -5.0)] * 9 + [(2, 10.0)], "o_orderkey int, o_totalprice double"
        )
        spec = pipeline.TableSpec(
            name="orders",
            rules=lambda: [validate.Rule("neg", F.col("o_totalprice") < 0)],
        )
        with pytest.raises(validate.CircuitBreakerError):
            pipeline.run_bronze_table(spark, spec, bad, out, "2024-06-01")
        with pytest.raises(pipeline.GateFailure):
            pipeline.run_silver_table(spark, spec, out, "2024-06-01")
    finally:
        pipeline.clear_alert_callbacks()
    kinds = [(e, s) for e, s, _ in events]
    assert ("circuit_breaker", "bronze/orders") in kinds
    assert ("gate_failure", "bronze/orders") in kinds
    import json

    lines = [json.loads(l) for l in open(sink_path)]
    assert {l["event"] for l in lines} == {"circuit_breaker", "gate_failure"}
    assert all(l["run_date"] == "2024-06-01" for l in lines)


def test_dq_profile_single_pass(spark, sf_dir):
    """The profiler computes every column's stats in ONE aggregate over
    one scan (one FileScan in the plan) and reports exact values."""
    from aws_medallion_etl_spark.operators import dq

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "a"), (None, "b")], "k int, v string"
    )
    rows = {r["column"]: r for r in dq.profile(df).collect()}
    assert rows["k"].n_rows == 4 and rows["k"].n_nulls == 1
    assert rows["k"].null_frac == 0.25 and rows["k"].n_distinct == 3
    assert rows["v"].n_nulls == 1 and rows["v"].n_distinct == 2
    plan = dq.profile(
        spark.read.parquet(f"{sf_dir}/orders.parquet")
    )._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 1


def test_jsonl_corrupt_record_quarantine(spark, tmp_path):
    """The documented JSONL reject path: a schema with _corrupt_record
    captures unparseable lines instead of silently nulling them."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from aws_medallion_etl_spark import io as eio

    p = str(tmp_path / "docs.jsonl")
    with open(p, "w") as f:
        f.write('{"doc_id": 1, "text": "good"}\n')
        f.write('this is not json\n')
        f.write('{"doc_id": 2, "text": "also good"}\n')
    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("_corrupt_record", StringType()),
    ])
    back = eio.read_jsonl(spark, p, schema).cache()
    try:
        good = back.where(F.col("_corrupt_record").isNull())
        bad = back.where(F.col("_corrupt_record").isNotNull())
        assert sorted(r.doc_id for r in good.collect()) == [1, 2]
        assert [r["_corrupt_record"] for r in bad.collect()] == [
            "this is not json"
        ]
    finally:
        back.unpersist()


def test_expire_partitions_retention(spark, sf_dir, tmp_path):
    """keep=N retains the newest run_dates; before= drops older ones;
    expiring everything is refused; live partitions stay readable."""
    import os

    import pytest as _pytest

    from aws_medallion_etl_spark import io as eio

    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    out = str(tmp_path / "ds")
    for d in ["2024-06-01", "2024-06-02", "2024-06-03", "2024-06-04"]:
        eio.write_parquet(
            region.withColumn("run_date", F.lit(d)), out, partition_by=["run_date"]
        )

    gone = eio.expire_partitions(out, "run_date", keep=2)
    assert gone == ["2024-06-01", "2024-06-02"]
    left = sorted(x for x in os.listdir(out) if x.startswith("run_date="))
    assert left == ["run_date=2024-06-03", "run_date=2024-06-04"]
    assert spark.read.parquet(out).select("run_date").distinct().count() == 2

    # a file-skipping manifest must shed entries for expired partitions
    eio.build_file_stats_index(out, ["r_regionkey"])
    import json as _json
    with open(f"{out}/_file_stats.json") as fh:
        n_before = len(_json.load(fh)["files"])

    assert eio.expire_partitions(out, "run_date", before="2024-06-04") == ["2024-06-03"]
    with open(f"{out}/_file_stats.json") as fh:
        files_after = [e["file"] for e in _json.load(fh)["files"]]
    assert 0 < len(files_after) < n_before
    assert not any(f.startswith("run_date=2024-06-03/") for f in files_after)
    # pruned_read plans only live files
    assert eio.pruned_read(spark, out, {"r_regionkey": (0, 10)}).count() > 0

    with _pytest.raises(ValueError, match="every\\s+partition"):
        eio.expire_partitions(out, "run_date", before="2099-01-01")
    with _pytest.raises(ValueError, match="exactly one"):
        eio.expire_partitions(out, "run_date")
    with _pytest.raises(ValueError, match="keep must be"):
        eio.expire_partitions(out, "run_date", keep=0)


def test_k_anonymity_report_flags_rare_groups(spark):
    from aws_medallion_etl_spark.operators import dq
    import pytest

    rows = [("US", "a")] * 5 + [("US", "b")] * 2 + [("FR", "a")] * 1
    df = spark.createDataFrame(rows, ["country", "seg"])
    got = {
        (r["country"], r["seg"]): r["n_rows"]
        for r in dq.k_anonymity_report(df, ["country", "seg"], k=3).collect()
    }
    assert got == {("US", "b"): 2, ("FR", "a"): 1}
    # k-anonymous table -> empty report
    assert dq.k_anonymity_report(df, ["country"], k=3).count() == 1  # FR=1
    assert dq.k_anonymity_report(df, ["country"], k=2).count() == 1
    with pytest.raises(ValueError, match="k must be"):
        dq.k_anonymity_report(df, ["country"], k=1)
    with pytest.raises(ValueError, match="quasi_cols"):
        dq.k_anonymity_report(df, [], k=3)


def test_l_diversity_report_homogeneous_groups(spark):
    from aws_medallion_etl_spark.operators import dq
    import pytest

    rows = (
        [("g1", "x")] * 4                      # homogeneous: 1 value
        + [("g2", "x"), ("g2", "y")] * 2       # 2 values
        + [("g3", "x"), ("g3", "y"), ("g3", "z")]  # 3 values - diverse
        + [("g4", None), ("g4", "x")]          # NULL discloses nothing
    )
    df = spark.createDataFrame(rows, ["q", "s"])
    got = {
        r["q"]: (r["n_rows"], r["n_sensitive"])
        for r in dq.l_diversity_report(df, ["q"], "s", l=3).collect()
    }
    assert got == {"g1": (4, 1), "g2": (4, 2), "g4": (2, 1)}
    with pytest.raises(ValueError, match="l must be"):
        dq.l_diversity_report(df, ["q"], "s", l=1)
