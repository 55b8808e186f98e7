"""Structured Streaming extension: stream results must match their
batch equivalents (the batch-parity contract), and state must be
watermark-bounded.
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from aws_medallion_etl_spark import io, streaming

TS = datetime.datetime


@pytest.fixture()
def event_dir(spark, tmp_path):
    """Two parquet files of timestamped events (two future micro-batches)."""
    path = str(tmp_path / "events_in")
    rows1 = [
        (1, "u1", "click", TS(2024, 1, 1, 10, 5)),
        (2, "u1", "click", TS(2024, 1, 1, 10, 20)),
        (3, "u2", "view", TS(2024, 1, 1, 10, 40)),
    ]
    rows2 = [
        (4, "u2", "view", TS(2024, 1, 1, 11, 10)),
        (2, "u1", "click", TS(2024, 1, 1, 10, 20)),  # duplicate event_id
        (5, "u3", "click", TS(2024, 1, 1, 11, 55)),
    ]
    schema = "event_id long, user_id string, event_type string, ts timestamp"
    spark.createDataFrame(rows1, schema).coalesce(1).write.mode("append").parquet(path)
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode("append").parquet(path)
    return path, spark.read.parquet(path).schema


def test_windowed_counts_matches_batch(spark, event_dir, tmp_path):
    path, schema = event_dir
    stream = streaming.stream_from_directory(spark, path, schema)
    assert stream.isStreaming
    agged = streaming.windowed_counts(
        stream, "ts", window_duration="1 hour", watermark="2 hours",
        extra_keys=["event_type"],
    )
    # extra_keys must appear exactly once — a duplicate-named schema
    # breaks the foreachBatch -> parquet sink bridge.
    assert sorted(agged.columns) == sorted(set(agged.columns))
    assert agged.columns.count("event_type") == 1
    streaming.to_memory_sink(agged, "win_counts", output_mode="complete")
    got = {
        (str(r.window_start), r.event_type): r.n
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    batch = spark.read.parquet(path)
    expect = {
        (str(r.ws), r.event_type): r.n
        for r in batch.groupBy(
            F.date_trunc("hour", "ts").alias("ws"), "event_type"
        ).agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == expect


def test_stream_dedup(spark, event_dir):
    path, schema = event_dir
    stream = streaming.stream_from_directory(spark, path, schema)
    deduped = streaming.stream_dedup(stream, ["event_id"], "ts", watermark="1 day")
    streaming.to_memory_sink(deduped, "dedup_out")
    ids = sorted(
        r.event_id for r in spark.sql("SELECT event_id FROM dedup_out").collect()
    )
    assert ids == [1, 2, 3, 4, 5]  # duplicate event_id=2 removed


def test_sessionize(spark, event_dir):
    path, schema = event_dir
    stream = streaming.stream_from_directory(spark, path, schema)
    sessions = streaming.sessionize(
        stream, "ts", gap="30 minutes", keys=["user_id"], watermark="1 day"
    )
    streaming.to_memory_sink(sessions, "sessions", output_mode="complete")
    got = {
        (r.user_id, str(r.session_start)): r.n_events
        for r in spark.sql("SELECT * FROM sessions").collect()
    }
    # u1: 10:05 + 10:20 + the duplicated 10:20 row merge (gap 15m, no dedup);
    # u2: 11:10 lands exactly on the 10:40+30m boundary -> sessions merge
    assert got[("u1", "2024-01-01 10:05:00")] == 3
    assert got[("u2", "2024-01-01 10:40:00")] == 2
    assert got[("u3", "2024-01-01 11:55:00")] == 1
    assert len(got) == 3


def test_foreach_batch_to_partitioned_sink(spark, event_dir, tmp_path):
    """Stream -> foreachBatch -> the batch engine's idempotent sink."""
    path, schema = event_dir
    out = str(tmp_path / "bronze_events")
    ckpt = str(tmp_path / "ckpt")
    stream = streaming.stream_from_directory(spark, path, schema)

    def write_batch(df, batch_id):
        enriched = df.withColumn("run_date", F.to_date("ts").cast("string"))
        io.write_parquet(enriched, out, partition_by=["run_date"], mode="append")

    streaming.run_available_now(stream, write_batch, ckpt)
    written = spark.read.parquet(out)
    assert written.count() == 6
    assert str(written.select("run_date").distinct().collect()[0].run_date) == "2024-01-01"
    # restart with same checkpoint: nothing new to process, no duplicates
    stream2 = streaming.stream_from_directory(spark, path, schema)
    streaming.run_available_now(stream2, write_batch, ckpt)
    assert spark.read.parquet(out).count() == 6


def test_running_totals_state_across_microbatches(spark, tmp_path):
    """applyInPandasWithState: state carries across micro-batches and the
    final emission per key equals the batch aggregate."""
    path = str(tmp_path / "vals_in")
    schema = "k string, v double"
    spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 10.0)], schema
    ).coalesce(1).write.mode("append").parquet(path)
    spark.createDataFrame(
        [("a", 4.0), ("b", 5.0)], schema
    ).coalesce(1).write.mode("append").parquet(path)

    stream = streaming.stream_from_directory(
        spark, path, spark.read.parquet(path).schema, max_files_per_trigger=1
    )
    out = streaming.running_totals(stream, ["k"], "v")
    streaming.to_memory_sink(out, "rt_sink", output_mode="update")
    rows = spark.sql("SELECT * FROM rt_sink").collect()

    # multiple emissions per key prove state persisted across batches
    per_key = {}
    for r in rows:
        per_key.setdefault(r.k, []).append((r.n_events, r.total_value))
    assert any(len(v) > 1 for v in per_key.values())
    finals = {k: max(v) for k, v in per_key.items()}  # running => max is last
    assert finals == {"a": (3, 7.0), "b": (2, 15.0)}


def test_stream_pack_greedy_state_across_batches(spark, tmp_path):
    """The open bin's (bin_id, run) carries across micro-batches: a
    state reset at the boundary would start batch 2 in bin 0 instead
    of overflowing into bin 1."""
    import os

    path = str(tmp_path / "pack_in")
    schema = "doc_id long, shard int, n_tok long"
    spark.createDataFrame(
        [(1, 0, 40), (2, 0, 50)], schema
    ).coalesce(1).write.mode("append").parquet(path)
    first = {f for f in os.listdir(path) if f.endswith(".parquet")}
    spark.createDataFrame(
        [(3, 0, 20), (4, 0, 80)], schema
    ).coalesce(1).write.mode("append").parquet(path)
    for f in os.listdir(path):
        if f.endswith(".parquet"):
            t = 1_000_000_000 if f in first else 1_000_000_060
            os.utime(os.path.join(path, f), (t, t))

    stream = streaming.stream_from_directory(
        spark, path, spark.read.parquet(path).schema, max_files_per_trigger=1
    )
    out = streaming.stream_pack_greedy(stream, "shard", "doc_id", "n_tok", 100)
    streaming.to_memory_sink(out, "pack_sink", output_mode="append")
    got = {
        r.doc_id: r.bin_id
        for r in spark.sql("SELECT * FROM pack_sink").collect()
    }
    # 40+50 fill bin 0; 20 overflows into bin 1 ONLY if run=90 carried
    assert got == {1: 0, 2: 0, 3: 1, 4: 1}
    # and the stream equals the batch operator on the same data
    from aws_medallion_etl_spark.operators import corpus

    batch = {
        r["doc_id"]: r["bin_id"]
        for r in corpus.pack_sequences_greedy(
            spark.read.parquet(path), "doc_id", "n_tok",
            budget=100, shard_col="shard",
        ).collect()
    }
    assert got == batch


def test_enrich_stream_is_stateless_broadcast(spark, event_dir):
    """Stream-static join: no streaming state, dim broadcast."""
    from aws_medallion_etl_spark import streaming

    path, schema = event_dir
    stream = streaming.stream_from_directory(spark, path, schema)
    dim = spark.createDataFrame(
        [("u1", "gold"), ("u2", "silver")], "k string, seg string"
    )
    joined = streaming.enrich_stream(stream, dim, stream["user_id"] == dim["k"])
    streaming.to_memory_sink(joined, "t_enrich", output_mode="append")
    got = spark.table("t_enrich")
    batch = spark.read.parquet(path)
    expect = batch.join(dim, batch["user_id"] == dim["k"]).count()
    assert got.count() == expect
    # left-out user u3 contributes nothing on an inner join
    assert got.where(F.col("user_id") == "u3").count() == 0


def test_interval_join_bounds_and_emission(spark, tmp_path):
    """Planted pairs: only clicks strictly inside (v_ts, v_ts+1h] join;
    a boundary click at exactly +1h joins, at +1h1s does not."""
    import datetime

    from aws_medallion_etl_spark import streaming

    base = datetime.datetime(2024, 1, 1, 12, 0, 0)

    def mk(rows, name, cols):
        p = str(tmp_path / name)
        spark.createDataFrame(rows, cols).write.parquet(p)
        return p

    vdir = mk([(1, base), (2, base)], "views", "user_id long, v_ts timestamp")
    cdir = mk(
        [
            (1, base + datetime.timedelta(minutes=30)),   # in window
            (1, base + datetime.timedelta(hours=1)),      # boundary: joins
            (1, base + datetime.timedelta(hours=1, seconds=1)),  # out
            (2, base),                                    # not strictly after
            (3, base + datetime.timedelta(minutes=5)),    # no view user
        ],
        "clicks", "user_id long, c_ts timestamp",
    )
    views = spark.readStream.schema("user_id long, v_ts timestamp").parquet(vdir)
    clicks = spark.readStream.schema("user_id long, c_ts timestamp").parquet(cdir)
    pairs = streaming.interval_join(
        views, clicks, "user_id", "v_ts", "c_ts", "1 HOUR", watermark="1 day"
    ).select(views["user_id"].alias("user_id"), "c_ts")
    streaming.to_memory_sink(pairs, "t_pairs", output_mode="append")
    got = [(r["user_id"],) for r in spark.table("t_pairs").collect()]
    assert sorted(got) == [(1,), (1,)]


def test_stream_stream_join_state_evicted_by_watermark(spark, tmp_path):
    """The interval join's time bound IS the state-retention policy:
    once the watermark passes ``v_ts + upper`` a buffered view (and a
    click past its own watermark) is REMOVED from the state store.
    Pinned via the engine's own state metrics: after the event clock
    jumps 10 h, the join's numRowsTotal must fall from the ~200
    buffered batch-1 rows to just the recent handful — state is bound
    by the watermark horizon, not by stream length."""
    base = TS(2024, 1, 1, 0, 0, 0)
    vdir, cdir = str(tmp_path / "v"), str(tmp_path / "c")
    vschema = "user_id long, v_ts timestamp"
    cschema = "user_id long, c_ts timestamp"

    def feed(path, schema, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(path)

    feed(vdir, vschema, [(i, base) for i in range(100)])
    feed(cdir, cschema,
         [(i, base + datetime.timedelta(minutes=30)) for i in range(100)])
    views = spark.readStream.schema(vschema).parquet(vdir)
    clicks = spark.readStream.schema(cschema).parquet(cdir)
    pairs = streaming.interval_join(
        views, clicks, "user_id", "v_ts", "c_ts", "1 HOUR", watermark="1 hour"
    ).select(views["user_id"].alias("user_id"), "v_ts", "c_ts")
    q = (
        pairs.writeStream.format("memory").queryName("t_ssj_state")
        .outputMode("append").start()
    )

    def state_rows():
        for p in reversed(q.recentProgress):
            ops = p["stateOperators"] if isinstance(p, dict) else None
            if ops:
                return ops[0]["numRowsTotal"]
        raise AssertionError("no state operator progress recorded")

    try:
        q.processAllAvailable()
        buffered = state_rows()
        assert buffered >= 200  # both sides fully buffered pre-watermark
        # jump the event clock +10h on both sides: the new watermark
        # passes v_ts + 1h (and c_ts) for every batch-1 row...
        feed(vdir, vschema, [(1000, base + datetime.timedelta(hours=10))])
        feed(cdir, cschema,
             [(1000, base + datetime.timedelta(hours=10, minutes=1))])
        q.processAllAvailable()
        # ...and eviction runs on the batch AFTER the watermark advance
        feed(vdir, vschema, [(1001, base + datetime.timedelta(hours=10, minutes=2))])
        q.processAllAvailable()
        remaining = state_rows()
        assert remaining <= 10, (
            f"join state not evicted: {remaining} rows still buffered"
        )
        # correctness unharmed: every batch-1 pair was emitted exactly once
        assert spark.table("t_ssj_state").where(
            F.col("user_id") < 100
        ).count() == 100
    finally:
        q.stop()


def test_watermark_drops_late_rows_and_bounds_state(spark, tmp_path):
    """An event arriving after the watermark has passed its window is
    DROPPED — the bounded-state contract that makes streaming
    aggregation safe at unbounded throughput. Batch order is forced by
    writing the late file only after the first batch commits."""
    path = str(tmp_path / "late_in")
    schema = "event_id long, ts timestamp"
    spark.createDataFrame(
        [(1, TS(2024, 1, 1, 10, 0)), (2, TS(2024, 1, 1, 10, 2)),
         (3, TS(2024, 1, 1, 11, 0))],
        schema,
    ).coalesce(1).write.mode("append").parquet(path)
    stream = streaming.stream_from_directory(
        spark, path, spark.read.parquet(path).schema
    )
    agged = streaming.windowed_counts(
        stream, "ts", window_duration="10 minutes", watermark="10 minutes"
    )
    q = (
        agged.writeStream.format("memory").queryName("late_counts")
        .outputMode("append").start()
    )
    try:
        # batch 1: only file 1 -> max event time 11:00, watermark 10:50
        q.processAllAvailable()
        spark.createDataFrame(
            [(4, TS(2024, 1, 1, 10, 5)),   # LATE: watermark is already 10:50
             (5, TS(2024, 1, 1, 11, 30))],
            schema,
        ).coalesce(1).write.mode("append").parquet(path)
        # batch 2 sees the advanced watermark and must drop event 4
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        str(r.window_start): r.n
        for r in spark.sql("SELECT * FROM late_counts").collect()
    }
    # the 10:00 window finalized with 2 rows: event 4 was dropped
    assert got.get("2024-01-01 10:00:00") == 2
    assert "2024-01-01 10:05:00" not in str(got)


def test_stream_merge_snapshot_upserts_exactly_once(spark, tmp_path):
    """foreachBatch CDC sink: per-batch keep-newest + mor MERGE gives
    the per-key latest row; a replayed batch id is skipped via the
    txn high-water mark (the exactly-once half of a restart)."""
    from aws_medallion_etl_spark import snapshot as sn

    path = str(tmp_path / "cdc_in")
    tbl = str(tmp_path / "cdc_tbl")
    schema = "seq long, k long, v string"
    # batch 0: k=1,2 (k=1 twice — within-batch keep-newest)
    spark.createDataFrame(
        [(1, 1, "a1"), (2, 2, "b1"), (3, 1, "a2")], schema
    ).coalesce(1).write.mode("append").parquet(path)
    # batch 1: update k=2, insert k=3
    spark.createDataFrame(
        [(4, 2, "b2"), (5, 3, "c1")], schema
    ).coalesce(1).write.mode("append").parquet(path)

    stream = streaming.stream_from_directory(
        spark, path, spark.read.parquet(path).schema, max_files_per_trigger=1
    )
    q = streaming.stream_merge_snapshot(stream, tbl, ["k"], "seq")
    q.awaitTermination()

    got = {r["k"]: r["v"] for r in sn.snapshot_read(spark, tbl).collect()}
    assert got == {1: "a2", 2: "b2", 3: "c1"}
    # mor sink: the update superseded a row via DV, no rewrite
    ents = sn._manifest_files(tbl, sn._read_manifest(tbl, 1))
    assert sum(e.get("dv_rows", 0) for e in ents) == 1

    # simulate foreachBatch replay after restart: batch 1 re-applies
    app = f"stream-merge:{tbl}"
    assert sn.last_txn_version(tbl, app) == 1
    replay = spark.createDataFrame([(4, 2, "b2"), (5, 3, "c1")], schema)
    rep = sn.merge_into(spark, tbl, replay, on=["k"], txn=(app, 1))
    assert rep.get("skipped") is True
    assert sn.current_version(tbl) == 1          # no version churn
    # a genuinely NEW batch id still commits
    rep2 = sn.merge_into(
        spark, tbl, spark.createDataFrame([(6, 1, "a3")], schema),
        on=["k"], txn=(app, 2), write_mode="mor",
    )
    assert rep2.get("skipped") is None and rep2["version"] == 2
    assert sn.last_txn_version(tbl, app) == 2
    got2 = {r["k"]: r["v"] for r in sn.snapshot_read(spark, tbl).collect()}
    assert got2[1] == "a3"


def test_stream_merge_post_batch_mv_crash_heals(spark, tmp_path):
    """Round-12 composition: stream_merge_snapshot(post_batch=MV
    refresh) — a crash AFTER a batch's merge but INSIDE the callback
    heals on restart: the replayed batch skips the merge (txn mark)
    but the callback runs again and the MV cursor catches up. Final
    rollup equals a from-scratch GROUP BY."""
    from aws_medallion_etl_spark import mv as mvmod
    from aws_medallion_etl_spark import snapshot as sn

    path = str(tmp_path / "pb_in")
    tbl = str(tmp_path / "pb_tbl")
    mv_p = str(tmp_path / "pb_mv")
    schema = "seq long, k long, g long, cents long"
    spark.createDataFrame(
        [(1, 1, 10, 100), (2, 2, 10, 200), (3, 3, 20, 50)], schema
    ).coalesce(1).write.mode("append").parquet(path)
    spark.createDataFrame(
        # k=1 moves group 10 -> 20 (MV group move); k=4 new group 30
        [(4, 1, 20, 100), (5, 4, 30, 900)], schema
    ).coalesce(1).write.mode("append").parquet(path)

    calls = {"n": 0}

    def refresh(sp, _bid):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("simulated post_batch crash")
        mvmod.refresh_rollup(
            sp, tbl, mv_p, ["g"], {"sum_cents": "cents"},
            mins={"min_cents": "cents"},
        )

    stream = streaming.stream_from_directory(
        spark, path, spark.read.parquet(path).schema,
        max_files_per_trigger=1,
    )
    q = streaming.stream_merge_snapshot(
        stream, tbl, ["k"], "seq", row_tracking=True, post_batch=refresh,
    )
    with pytest.raises(Exception, match="simulated post_batch crash"):
        q.awaitTermination()
    # batch 1 merged but its refresh crashed: MV is stale at batch 0
    assert sn.snapshot_read(spark, mv_p).where("g = 30").count() == 0

    def refresh_ok(sp, _bid):
        mvmod.refresh_rollup(
            sp, tbl, mv_p, ["g"], {"sum_cents": "cents"},
            mins={"min_cents": "cents"},
        )

    stream2 = streaming.stream_from_directory(
        spark, path, spark.read.parquet(path).schema,
        max_files_per_trigger=1,
    )
    q2 = streaming.stream_merge_snapshot(
        stream2, tbl, ["k"], "seq", row_tracking=True,
        post_batch=refresh_ok,
    )
    q2.awaitTermination()
    got = {
        r["g"]: (r["n_rows"], r["sum_cents"], r["min_cents"])
        for r in mvmod.read_rollup(spark, mv_p).collect()
    }
    want = {
        r["g"]: (r["n"], r["s"], r["lo"])
        for r in sn.snapshot_read(spark, tbl).groupBy("g")
        .agg(F.count(F.lit(1)).cast("long").alias("n"),
             F.sum("cents").cast("long").alias("s"),
             F.min("cents").cast("long").alias("lo")).collect()
    }
    assert got == want, (got, want)
    assert got[20] == (2, 150, 50)       # the group move landed once
    assert 10 not in got or got[10][0] > 0


def test_txn_high_water_survives_compact_and_delete(spark, tmp_path):
    """A compaction or DELETE between stream batches must carry the
    txn map forward — dropping it would make the next replayed batch
    double-apply."""
    from aws_medallion_etl_spark import snapshot as sn

    tbl = str(tmp_path / "txn_tbl")
    df = spark.createDataFrame([(1, 10), (2, 20), (3, 30)], "k long, v long")
    sn.snapshot_create(spark, df, tbl, stats_cols=["k"], txn=("app", 5))
    assert sn.last_txn_version(tbl, "app") == 5
    sn.delete_where(spark, tbl, "k = 3", mode="mor")
    assert sn.last_txn_version(tbl, "app") == 5
    sn.compact(spark, tbl, small_file_rows=10**6)
    assert sn.last_txn_version(tbl, "app") == 5
    assert sn.last_txn_version(tbl, "other") is None


def test_stage_ordered_batches_keeps_caller_job_group(spark, tmp_path):
    """The overlapped range writes of the stream-source staging run on
    threads that inherit the caller's job group: every job of the call
    is counted in it, and each batch file lands with its id range."""
    import os

    from aws_medallion_etl_spark.queries.snapshot_tokenize import (
        _stage_ordered_batches,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)
    sc = spark.sparkContext
    sched = sc._jsc.sc().dagScheduler()
    group = "stage-ordered-batches-job-group-test"
    sc.setJobGroup(group, "_stage_ordered_batches under a job group")
    try:
        jobs0 = sched.numTotalJobs()
        _stage_ordered_batches(spark.range(100), "id", src)
        jobs = sched.numTotalJobs() - jobs0
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    assert jobs > 0
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == jobs
    ranges = [
        spark.read.parquet(f"{src}/batch{i}.parquet")
        .agg(F.min("id"), F.max("id")).first()
        for i in range(4)
    ]
    assert [tuple(r) for r in ranges] == [(0, 24), (25, 49), (50, 74),
                                           (75, 99)]
