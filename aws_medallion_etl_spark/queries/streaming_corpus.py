"""Streaming parity (STR), composed corpus pipelines, skew/bucketed joins,
chunk dedup, time-series, interchange roundtrips, DQ extensions,
incremental rollups, Python DataSource, VARIANT, embeddings, URL family.

Split from the monolithic queries.py in round 10; registration order
is preserved by the package __init__ importing families in original
file order."""

from __future__ import annotations

from aws_medallion_etl_spark.queries._base import (
    DataFrame,
    F,
    _events,
    _events_probe,
    _scratch,
    _t,
    corpus,
    enrich,
    facts,
    fuzzy,
    kpi,
    multimodal,
    query,
    text,
    validate,
)
from aws_medallion_etl_spark.queries.core import (
    _LINEITEM_REASON_SQL,
    lineitem_rules,
)
from aws_medallion_etl_spark.queries.dedup_corpus import (
    _COMPONENT_CTES,
    _NGRAM_PAIR_CTES,
    _TDF_PARAMS,
)

# ---------------------------------------------------------------------------
# STR1 — streaming parity, oracle-checked: the SAME events flow through a
# real readStream -> watermarked window agg -> availableNow -> memory sink,
# and the result must equal the batch SQL aggregation DuckDB computes.
# ---------------------------------------------------------------------------

_STR1_SQL = """
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           event_type,
           CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY 1, 2
"""


def _events_stream(spark, sf_dir: str, tag: str, copies: int = 1) -> DataFrame:
    """File-source events STREAM with ``ts`` normalized to TIMESTAMP.

    File-source streams must declare their schema; ``_events_probe``
    supplies it plus the encoding-appropriate ``ts`` rebuild (one
    dispatch shared with the batch path, so a future encoding change
    is fixed in one place). The file-stream source monitors a
    DIRECTORY; the (read-only) events data is staged into a scratch
    dir via symlink — REBUILT from scratch every call, because a
    deterministic scratch dir outliving a regenerated source would
    serve a stale or doubled corpus while the oracle reads fresh.

    ``copies`` stages every data file N times under distinct link
    names — the duplicate-delivery fixture for dedup streams. A
    Spark-written source is a DIRECTORY of part files and the file
    stream source does not recurse into subdirectories (a symlinked
    dir is silently ZERO rows), so the part files themselves are
    staged in either case.
    """
    import os
    import shutil

    batch_schema, rebuild = _events_probe(spark, sf_dir)
    src_dir = _scratch(tag, sf_dir)
    shutil.rmtree(src_dir, ignore_errors=True)
    os.makedirs(src_dir)
    src = f"{sf_dir}/events.parquet"
    if os.path.isdir(src):
        parts = [
            (f"{src}/{p}", p) for p in sorted(os.listdir(src))
            if p.endswith(".parquet")
        ]
    else:
        parts = [(src, "events.parquet")]
    for c in range(copies):
        for target, name in parts:
            os.symlink(target, f"{src_dir}/c{c}-{name}")
    return rebuild(spark.readStream.schema(batch_schema).parquet(src_dir))


@query("str1_stream_windowed_counts", _STR1_SQL)
def str1_stream_windowed_counts(spark, sf_dir):
    """Structured Streaming proven by oracle (STR1): tumbling-window
    counts by event type via an actual micro-batch execution
    (file-source stream, 2h watermark, ``availableNow`` drain into a
    memory sink) — byte-equal to the batch aggregation because
    event-time windowing is deterministic under any micro-batch
    split; the watermark drops nothing in a bounded drain.
    """
    from aws_medallion_etl_spark import streaming

    stream = _events_stream(spark, sf_dir, "str1src")
    agged = streaming.windowed_counts(
        stream, "ts", window_duration="1 hour", watermark="2 hours",
        extra_keys=["event_type"],
    )
    streaming.to_memory_sink(agged, "str1_win_counts", output_mode="complete")
    return spark.table("str1_win_counts").select(
        "window_start", "event_type", F.col("n").alias("n")
    )


@query(
    "w12_funnel_conversion",
    """
    WITH t1 AS (
        SELECT user_id, min(ts) AS t1 FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ), t2 AS (
        SELECT e.user_id, min(e.ts) AS t2
        FROM events e JOIN t1 ON t1.user_id = e.user_id
        WHERE e.event_type = 'click' AND e.ts > t1.t1
        GROUP BY e.user_id
    ), t3 AS (
        SELECT e.user_id, min(e.ts) AS t3
        FROM events e JOIN t2 ON t2.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND e.ts > t2.t2
        GROUP BY e.user_id
    )
    SELECT 'view' AS stage, CAST((SELECT count(*) FROM t1) AS BIGINT) AS n_users
    UNION ALL
    SELECT 'click', CAST((SELECT count(*) FROM t2) AS BIGINT)
    UNION ALL
    SELECT 'purchase', CAST((SELECT count(*) FROM t3) AS BIGINT)
    """,
)
def w12_funnel_conversion(spark, sf_dir):
    """Ordered funnel (extension W12): users converting through
    view -> click -> purchase where each stage's first event must
    strictly follow the previous stage's first event
    (``kpi.funnel``) — the standard conversion/drop-off query."""
    ev = _t(spark, sf_dir, "events")
    f = kpi.funnel(
        ev, "user_id", "ts",
        [
            ("view", F.col("event_type") == "view"),
            ("click", F.col("event_type") == "click"),
            ("purchase", F.col("event_type") == "purchase"),
        ],
    )
    counts = f.agg(
        F.count("t_view").alias("n_view"),
        F.count("t_click").alias("n_click"),
        F.count("t_purchase").alias("n_purchase"),
    )
    return counts.select(
        F.expr(
            "stack(3, 'view', n_view, 'click', n_click,"
            " 'purchase', n_purchase) AS (stage, n_users)"
        )
    )


@query(
    "s15_sorted_compact_roundtrip",
    """
    SELECT time_bucket(INTERVAL '1 hour', ts) AS hour_start,
           CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY 1
    """,
)
def s15_sorted_compact_roundtrip(spark, sf_dir):
    """Data-layout sinks proven semantics-neutral (S15): the events
    table is rewritten range-SORTED on ts (``io.write_sorted`` —
    disjoint per-file key ranges for row-group pruning, layout pinned
    by pytest via the parquet footers) and then COMPACTED
    (``io.compact`` — the small-file maintenance rewrite), and the
    hourly histogram read back from the final layout must equal the
    plain-scan oracle: layout changes storage, never answers."""
    import shutil

    from aws_medallion_etl_spark import io as eio

    ev = _events(spark, sf_dir)
    out = _scratch("s15sorted", sf_dir)
    shutil.rmtree(out, ignore_errors=True)
    eio.write_sorted(ev, out, ["ts"], target_files=4)
    eio.compact(spark, out, target_files=2)
    back = spark.read.parquet(out)
    return back.groupBy(
        F.date_trunc("hour", "ts").alias("hour_start")
    ).agg(F.count(F.lit(1)).alias("n"))


@query(
    "s16_file_skipping_scan",
    """
    SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(o_totalprice), 2) AS revenue
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate <= TIMESTAMP '1997-12-31'
    GROUP BY 1
    """,
)
def s16_file_skipping_scan(spark, sf_dir):
    """File-level min/max skipping (S16): orders rewritten range-sorted
    on o_orderdate, a stats manifest built from the parquet FOOTERS
    (``io.build_file_stats_index`` — Iceberg/Delta-style, on plain
    parquet), then a year slice read via ``io.pruned_read``, which
    hands Spark ONLY the overlapping files. The monthly rollup must
    equal the plain-scan oracle: losing any file to over-pruning would
    break both the count and the revenue hash. Pruning factor is
    pinned by ``test_plans::test_file_skipping_prunes_files``."""
    import shutil

    from aws_medallion_etl_spark import io as eio

    orders = _t(spark, sf_dir, "orders")
    out = _scratch("s16skip", sf_dir)
    shutil.rmtree(out, ignore_errors=True)
    eio.write_sorted(orders, out, ["o_orderdate"], target_files=8)
    eio.build_file_stats_index(out, ["o_orderdate"])
    sliced = eio.pruned_read(
        spark, out, {"o_orderdate": ("1997-01-01", "1997-12-31 23:59:59")}
    )
    return sliced.groupBy(
        F.date_trunc("month", "o_orderdate").cast("date").alias("month")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )


@query(
    "s17_zorder_scan",
    """
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust,
           round(sum(o_totalprice), 2) AS revenue
    FROM orders
    WHERE o_totalprice >= 400000 AND o_totalprice <= 450000
    """,
)
def s17_zorder_scan(spark, sf_dir):
    """Z-order layout (S17): orders rewritten on the Morton
    interleaving of (o_custkey, o_totalprice) (``io.write_zorder``),
    manifest built on BOTH raw columns, then a price-band slice — a
    predicate on the SECOND z-dimension, where a linear sort would
    prune nothing — read via ``io.pruned_read``. The aggregate must
    equal the plain-scan oracle; two-dimensional pruning is pinned by
    ``test_plans::test_zorder_prunes_both_dimensions``."""
    import shutil

    from aws_medallion_etl_spark import io as eio

    orders = _t(spark, sf_dir, "orders")
    out = _scratch("s17z", sf_dir)
    shutil.rmtree(out, ignore_errors=True)
    eio.write_zorder(orders, out, ["o_custkey", "o_totalprice"], target_files=16)
    eio.build_file_stats_index(out, ["o_custkey", "o_totalprice"])
    sliced = eio.pruned_read(spark, out, {"o_totalprice": (400000.0, 450000.0)})
    return sliced.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("o_custkey").alias("n_cust"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )


_STR2_SQL = """
    WITH o AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS brk
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), s AS (
        SELECT user_id, ts,
               sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
        FROM o
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           CAST(count(*) AS BIGINT) AS n_events
    FROM s GROUP BY user_id, sid
"""


@query("str2_stream_sessionize", _STR2_SQL)
def str2_stream_sessionize(spark, sf_dir):
    """Streaming session windows proven by oracle (STR2): per-user
    30-minute-gap sessions via native ``session_window`` state-store
    merging, drained ``availableNow`` into a memory sink in complete
    mode. Session semantics match the gaps-and-islands SQL: an event
    exactly one gap after its predecessor starts a NEW session (Spark
    merges only while ``ts < session_end``), and ``session_end`` is
    last-event + gap."""
    from aws_medallion_etl_spark import streaming

    stream = _events_stream(spark, sf_dir, "str2src")
    sess = streaming.sessionize(
        stream, "ts", gap="30 minutes", keys=["user_id"], watermark="2 hours",
    )
    streaming.to_memory_sink(sess, "str2_sessions", output_mode="complete")
    return spark.table("str2_sessions").select(
        "user_id", "session_start", "session_end", "n_events"
    )


_STR3_SQL = """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(coalesce(value, 0.0)), 2) AS total_value
    FROM events GROUP BY event_type
"""


@query("str3_stream_running_totals", _STR3_SQL)
def str3_stream_running_totals(spark, sf_dir):
    """Custom stateful streaming operator proven by oracle (STR3):
    per-event-type running (count, sum) via ``applyInPandasWithState``
    (``streaming.running_totals``), drained ``availableNow`` into an
    update-mode memory sink. The FINAL emission per key — the row with
    the highest running count, since counts only grow — must equal the
    batch aggregate regardless of how the drain was micro-batched."""
    from aws_medallion_etl_spark import streaming

    stream = _events_stream(spark, sf_dir, "str3src")
    totals = streaming.running_totals(stream, ["event_type"], "value")
    # state key space = the event-type enum (a handful of values):
    # size the state-store instance count to it instead of the
    # session's data-shuffle width (round 15 — see
    # streaming._state_partitions for the measured rationale)
    streaming.to_memory_sink(
        totals, "str3_totals", output_mode="update", shuffle_partitions=8
    )
    return (
        spark.table("str3_totals")
        .groupBy("event_type")
        .agg(
            F.max("n_events").alias("n_events"),
            F.round(F.max_by("total_value", "n_events"), 2).alias("total_value"),
        )
    )


@query(
    "str4_stream_dedup",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(coalesce(value, 0.0)), 2) AS total_value
    FROM events GROUP BY event_type
    """,
)
def str4_stream_dedup(spark, sf_dir):
    """Streaming dedup proven by oracle (STR4): the source directory
    holds the events file TWICE, so the stream delivers every row
    twice across micro-batches; ``streaming.stream_dedup``
    (``dropDuplicatesWithinWatermark`` on event_id, 60-day watermark —
    past the data's 30-day span, so no key's state evicts during the
    bounded drain) must emit each exactly once. The per-type rollup of
    the append-mode sink equals the batch aggregate over the
    SINGLE-copy table — any dup leaking through or row over-dropped
    breaks count and sum."""
    from aws_medallion_etl_spark import streaming

    stream = _events_stream(spark, sf_dir, "str4src", copies=2)
    deduped = streaming.stream_dedup(stream, ["event_id"], "ts", watermark="60 days")
    streaming.to_memory_sink(deduped, "str4_dedup", output_mode="append")
    return (
        spark.table("str4_dedup")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.coalesce("value", F.lit(0.0))), 2).alias("total_value"),
        )
    )


@query(
    "str5_stream_static_join",
    """
    SELECT c.c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users,
           round(sum(coalesce(e.value, 0.0)), 2) AS total_value
    FROM events e JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY 1
    """,
)
def str5_stream_static_join(spark, sf_dir):
    """Stream-static enrichment proven by oracle (STR5): the events
    stream joins the customer dim per micro-batch
    (``streaming.enrich_stream`` — broadcast static side, zero
    streaming state), drained append-mode; the per-segment rollup must
    equal the batch join. The pattern every streaming silver layer
    uses for dimension lookup."""
    from aws_medallion_etl_spark import streaming

    stream = _events_stream(spark, sf_dir, "str5src")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = streaming.enrich_stream(
        stream, cust, stream["user_id"] == cust["c_custkey"]
    ).select("c_mktsegment", "user_id", "value")
    streaming.to_memory_sink(joined, "str5_joined", output_mode="append")
    return (
        spark.table("str5_joined")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(F.sum(F.coalesce("value", F.lit(0.0))), 2).alias("total_value"),
        )
    )


@query(
    "str6_stream_stream_join",
    """
    WITH v AS (
        SELECT user_id, ts AS v_ts FROM events WHERE event_type = 'view'
    ), c AS (
        SELECT user_id, ts AS c_ts FROM events WHERE event_type = 'click'
    )
    SELECT v.user_id,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM v JOIN c ON c.user_id = v.user_id
     AND c.c_ts > v.v_ts AND c.c_ts <= v.v_ts + INTERVAL 1 HOUR
    GROUP BY 1
    """,
)
def str6_stream_stream_join(spark, sf_dir):
    """Stream-stream interval join proven by oracle (STR6): views and
    clicks as two watermarked streams, inner-joined on user with the
    click inside (view_ts, view_ts + 1h] (``streaming.interval_join``
    — the time bound is what lets Spark EVICT buffered join state once
    the watermark passes view_ts + 1h). Per-user pair counts from the
    append sink must equal the batch interval join — a pair dropped by
    premature eviction or emitted twice across micro-batches breaks
    the hash."""
    from aws_medallion_etl_spark import streaming

    views = (
        _events_stream(spark, sf_dir, "str6vsrc")
        .where(F.col("event_type") == "view")
        .select("user_id", F.col("ts").alias("v_ts"))
    )
    clicks = (
        _events_stream(spark, sf_dir, "str6csrc")
        .where(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
    )
    clicks = clicks.withColumnRenamed("c_user", "user_id")
    pairs = streaming.interval_join(
        views, clicks, "user_id", "v_ts", "c_ts", "1 HOUR", watermark="2 hours"
    ).select(views["user_id"].alias("user_id"), "v_ts", "c_ts")
    # State-store tasks dominate wall time here (every micro-batch
    # touches every state partition of BOTH join sides, data or not) —
    # size state partitions to key cardinality, the standard streaming
    # tuning, instead of inheriting the batch shuffle width. Set at
    # query START: the checkpoint pins it for the query's lifetime.
    streaming.to_memory_sink(
        pairs, "str6_pairs", output_mode="append", shuffle_partitions=8
    )
    return (
        spark.table("str6_pairs")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


# ---------------------------------------------------------------------------
# Composed corpus pipeline: quality filter -> reproducible split ->
# per-split sequence packing, in one oracle-checked query.
# ---------------------------------------------------------------------------

_SHARDS_SQL = r"""
    WITH q AS (
        SELECT doc_id,
               len(string_split_regex(trim(text), '\s+')) AS n_tok,
               round(length(regexp_replace(text, '\s', '', 'g')) * 1.0
                     / len(string_split_regex(trim(text), '\s+')), 4) AS awl,
               round(len(regexp_extract_all(text, '\b(the|a|of|and|to)\b')) * 1.0
                     / len(string_split_regex(trim(text), '\s+')), 4) AS swr,
               round(length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) * 1.0
                     / length(text), 4) AS pr
        FROM documents
    ), kept AS (
        SELECT doc_id, n_tok FROM q
        WHERE NOT (n_tok < 25 OR awl < 3.0 OR awl > 5.0
                   OR swr > 0.15 OR pr > 0.3)
    ), s AS (
        SELECT doc_id, n_tok,
               CASE WHEN bkt < 9000 THEN 'train'
                    WHEN bkt < 9500 THEN 'val'
                    ELSE 'test' END AS split
        FROM (
            SELECT doc_id, n_tok,
                   CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                        || ':split'), 1, 8)) AS BIGINT) % 10000 AS bkt
            FROM kept
        )
    ), c AS (
        SELECT split, doc_id, n_tok,
               sum(n_tok) OVER (PARTITION BY split ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok
               AS cum_before
        FROM s
    )
    SELECT split, CAST(floor(cum_before / 2000.0) AS BIGINT) AS bin_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens
    FROM c GROUP BY 1, 2
"""


@query("corpus_prepare_shards", _SHARDS_SQL)
def corpus_prepare_shards(spark, sf_dir):
    """The end-to-end curation flow a training pipeline actually runs,
    as ONE oracle-checked query: composite quality filter (reject
    short/spammy/punctuation-heavy docs) -> reproducible hash split ->
    token-budget packing PER SPLIT (``pack_sequences(partition_by=
    ['split'])`` — the parallel form), reported as docs/tokens per
    (split, bin). Every stage is a previously-proven operator; this
    pins their composition.
    """
    docs = _t(spark, sf_dir, "documents")
    tagged = text.quality_tag(docs, "text", **_TDF_PARAMS)
    kept = tagged.where(F.col("quality_reject_reason").isNull()).select(
        "doc_id", text.token_count("text").alias("n_tok")
    )
    split = corpus.hash_split(kept, "doc_id")
    packed = corpus.pack_sequences(
        split, "doc_id", "n_tok", budget=2000, partition_by=["split"]
    )
    return packed.groupBy("split", "bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("long").alias("total_tokens"),
    )


# ---------------------------------------------------------------------------
# S6 round-trip + MM2 frame-sampling contract — two more pytest-only
# surfaces promoted to oracle-checked queries.
# ---------------------------------------------------------------------------

@query(
    "s6_reject_quarantine_roundtrip",
    f"""
    SELECT {_LINEITEM_REASON_SQL} AS reject_reason,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem
    WHERE {_LINEITEM_REASON_SQL} IS NOT NULL
    GROUP BY 1
    """,
)
def s6_reject_quarantine_roundtrip(spark, sf_dir):
    """S6 proven by oracle: the reject side physically lands in the
    quarantine sink (``_rejects/<table>/run_date=...``) and the
    read-back per-reason counts must equal the oracle's CASE chain —
    a quarantine that drops, duplicates, or mislabels rows fails."""
    from aws_medallion_etl_spark import io as eio

    base = _scratch("s6", sf_dir)
    _, rejects = validate.split_valid_invalid(
        _t(spark, sf_dir, "lineitem"), lineitem_rules()
    )
    path = eio.write_rejects(rejects, base, "lineitem", "2024-06-01")
    back = eio.read_parquet(spark, path)
    return back.groupBy("reject_reason").agg(F.count(F.lit(1)).alias("n"))


_MM2_SQL = """
    SELECT doc_id,
           CAST(least(4, greatest(strlen(text) // 64, 1)) AS INT)
               AS n_frames,
           CAST(CASE WHEN strlen(text) >= 64
                     THEN least(4, greatest(strlen(text) // 64, 1)) * 64
                     ELSE strlen(text) END AS BIGINT)
               AS total_frame_bytes
    FROM documents
"""


@query("mm_frame_sampling", _MM2_SQL)
def mm_frame_sampling(spark, sf_dir):
    """Frame-sampling contract (MM2): N evenly-spaced fixed-size byte
    windows per payload via Arrow ``mapInPandas``, checked per doc on
    fan-out count and total sampled bytes (every window is exactly
    ``frame_bytes`` once the payload covers one — the offsets
    guarantee the last window never truncates). The oracle recomputes
    both from the payload's utf-8 byte length."""
    docs = _t(spark, sf_dir, "documents")
    packaged = multimodal.with_binary_payload(docs, "doc_id", "text", ["lang"])
    frames = multimodal.sample_frames(packaged, n_frames=4, frame_bytes=64)
    return frames.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_frames"),
        F.sum("n_bytes").alias("total_frame_bytes"),
    )


# ---------------------------------------------------------------------------
# J11 — salted skew-join; S14 — bucketed-table join. The two big-join
# scale levers, promoted from pytest parity to oracle-checked queries
# (the salt / bucket layout must be invisible in the VALUES).
# ---------------------------------------------------------------------------

_J11_SQL = """
    SELECT s.s_nationkey,
           CAST(count(*) AS BIGINT) AS n_items,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY 1
"""


@query("j11_salted_skew_join", _J11_SQL)
def j11_salted_skew_join(spark, sf_dir):
    """Salted join (J11): the fact side shards across 16 salts, the
    dim replicates 16x, and the (key, salt) equi-join must produce
    VALUES identical to the plain join the oracle runs — salt is a
    physical-distribution trick, never a semantic one."""
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
    )
    joined = enrich.salted_join(li, supp, "l_suppkey", n_salts=16, how="inner")
    return joined.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
    )


_S14_SQL = """
    SELECT o.o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(l.l_quantity) AS BIGINT) AS total_qty
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1
"""


@query("s14_bucketed_join", _S14_SQL)
def s14_bucketed_join(spark, sf_dir):
    """Bucketed-table join (S14): both sides written as 8-bucket
    managed tables on the join key (the pay-the-shuffle-once storage
    layout), then joined — values must equal the plain path join.
    The shuffle-free plan property is pinned separately in
    ``test_plans::test_bucketed_join_is_shuffle_free``."""
    from aws_medallion_etl_spark import io as eio

    eio.write_bucketed(
        _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity"),
        "mdl_bkt_lineitem", ["l_orderkey"], num_buckets=8,
    )
    eio.write_bucketed(
        _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus"),
        "mdl_bkt_orders", ["o_orderkey"], num_buckets=8,
    )
    li = spark.table("mdl_bkt_lineitem")
    o = spark.table("mdl_bkt_orders")
    joined = li.join(o, li.l_orderkey == o.o_orderkey)
    return joined.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("l_quantity").cast("long").alias("total_qty"),
    )


# ---------------------------------------------------------------------------
# Chunk-level exact dedup (C4/RefinedWeb line dedup, token-window form)
# ---------------------------------------------------------------------------

_CHUNK_DEDUP_SQL = r"""
    WITH base AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        FROM documents
    ),
    chunks AS (
        SELECT doc_id, i - 1 AS cpos,
               array_to_string(toks[(i-1)*20+1:(i-1)*20+20], ' ') AS chunk
        FROM base, LATERAL (
            SELECT unnest(range(1, CAST(ceil(len(toks)/20.0) AS INT) + 1)) AS i
        ) g
        WHERE len(array_to_string(toks[(i-1)*20+1:(i-1)*20+20], ' ')) > 0
    ),
    ranked AS (
        SELECT doc_id, cpos, chunk,
               row_number() OVER (PARTITION BY chunk ORDER BY doc_id, cpos) AS rn
        FROM chunks
    )
    SELECT doc_id,
           string_agg(chunk, ' ' ORDER BY cpos) AS text_deduped,
           CAST(count(*) AS BIGINT) AS n_chunks_kept
    FROM ranked WHERE rn = 1
    GROUP BY doc_id
"""


@query("corpus_dedup_chunks", _CHUNK_DEDUP_SQL)
def corpus_dedup_chunks(spark, sf_dir):
    """C4-style sub-document exact dedup: every 20-token chunk is kept
    only at its corpus-global first (doc_id, position) occurrence;
    documents are reassembled from survivors.

    The oracle rebuilds the same chunking with DuckDB list slicing and
    ranks by the chunk STRING where Spark ranks by its md5 — equal
    chunks rank identically either way, so the keep-first sets match
    bit-for-bit while Spark's shuffle key stays a fixed 32-char
    digest. See ``corpus.dedup_chunks`` scale notes.
    """
    docs = _t(spark, sf_dir, "documents")
    return corpus.dedup_chunks(docs, "doc_id", "text", chunk_tokens=20)


_STRIP_BOILERPLATE_SQL = r"""
    WITH base AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        FROM documents
    ),
    chunks AS (
        SELECT doc_id, i - 1 AS cpos,
               array_to_string(toks[(i-1)*20+1:(i-1)*20+20], ' ') AS chunk
        FROM base, LATERAL (
            SELECT unnest(range(1, CAST(ceil(len(toks)/20.0) AS INT) + 1)) AS i
        ) g
        WHERE len(array_to_string(toks[(i-1)*20+1:(i-1)*20+20], ' ')) > 0
    ),
    frequent AS (
        SELECT chunk FROM chunks
        GROUP BY chunk HAVING count(DISTINCT doc_id) > 1
    ),
    kept AS (
        SELECT * FROM chunks WHERE chunk NOT IN (SELECT chunk FROM frequent)
    ),
    reb AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
               md5(string_agg(chunk, ' ' ORDER BY cpos)) AS h
        FROM kept GROUP BY doc_id
    ),
    tot AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks
        FROM chunks GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(t.n_chunks, 0) AS BIGINT) AS n_chunks,
           CAST(coalesce(t.n_chunks, 0) - coalesce(r.n_kept, 0) AS BIGINT)
               AS n_removed,
           coalesce(r.h, md5('')) AS clean_md5
    FROM documents d
    LEFT JOIN tot t USING (doc_id)
    LEFT JOIN reb r USING (doc_id)
"""


@query("corpus_strip_boilerplate", _STRIP_BOILERPLATE_SQL)
def corpus_strip_boilerplate(spark, sf_dir):
    """Boilerplate REMOVAL (``corpus.strip_boilerplate_chunks``):
    every 20-token chunk appearing in more than one distinct document
    is stripped from ALL documents, which are then reassembled from
    their unique remainder — the C4/CCNet line-dedup step on the
    repo's token-window unit (the repetition/diversity operators only
    detect templated text; this removes it). The rebuilt text is
    compared as md5 (32-char hex is engine-exact; the full string
    would bloat the hashed result), counts as BIGINT; fully-templated
    documents survive with empty text (md5('') on both sides).
    """
    docs = _t(spark, sf_dir, "documents")
    out = corpus.strip_boilerplate_chunks(
        docs, "doc_id", "text", chunk_tokens=20, max_doc_freq=1
    )
    return out.select(
        "doc_id", "n_chunks", "n_removed",
        F.md5("clean_text").alias("clean_md5"),
    )


_TS_OHLC_SQL = """
    WITH base AS (
        SELECT event_type, CAST(ts AS DATE) AS day, event_id,
               CAST(round(value * 100) AS BIGINT) AS cents,
               row_number() OVER (PARTITION BY event_type, CAST(ts AS DATE)
                                  ORDER BY ts, event_id) AS rn_a,
               row_number() OVER (PARTITION BY event_type, CAST(ts AS DATE)
                                  ORDER BY ts DESC, event_id DESC) AS rn_d
        FROM events
    )
    SELECT event_type, day,
           CAST(max(CASE WHEN rn_a = 1 THEN cents END) AS BIGINT) AS open,
           CAST(max(cents) AS BIGINT) AS high,
           CAST(min(cents) AS BIGINT) AS low,
           CAST(max(CASE WHEN rn_d = 1 THEN cents END) AS BIGINT) AS close,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM base GROUP BY event_type, day
"""


@query("ts_ohlc_bars", _TS_OHLC_SQL)
def ts_ohlc_bars(spark, sf_dir):
    """Daily OHLC bars (``timeseries.ohlc_bars``): per (event type,
    day) the event-time-first (open) and -last (close) values plus
    high/low extremes and bar counts — the hypertable downsampling
    classic, computed as ONE map-side-combinable aggregate
    (min_by/max_by on a (ts, event_id) struct; no window sort). The
    oracle recomputes open/close via asc/desc row_number — a
    tiebreak slip, a timezone drift in the day bucket, or a
    non-deterministic first/last shows up as a flipped cents value.
    Values compare as integer cents per the float-hash rule.
    """
    from aws_medallion_etl_spark.operators import timeseries

    ev = _events(spark, sf_dir).select(
        "event_type", "ts", "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    return timeseries.ohlc_bars(
        ev, ["event_type"], "ts", "cents", "event_id"
    ).select(
        "event_type", "day",
        F.col("open").cast("long").alias("open"),
        F.col("high").cast("long").alias("high"),
        F.col("low").cast("long").alias("low"),
        F.col("close").cast("long").alias("close"),
        "n_rows",
    )


# ---------------------------------------------------------------------------
# Time-series gap filling — resample, LOCF, linear interpolation
# ---------------------------------------------------------------------------

_TS_GAPFILL_SQL = """
    WITH daily AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
               round(sum(value), 2) AS day_value
        FROM events WHERE user_id IS NOT NULL
        GROUP BY 1, 2
    ),
    spans AS (
        SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1
    ),
    cal AS (
        SELECT user_id, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
        FROM spans
    ),
    filled AS (
        SELECT c.user_id, c.day, d.day_value,
               (d.day_value IS NULL) AS is_gap
        FROM cal c LEFT JOIN daily d USING (user_id, day)
    ),
    marked AS (
        SELECT *,
               last_value(day_value IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf_value,
               first_value(day_value IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY day
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
               last_value(CASE WHEN NOT is_gap THEN day END IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_d,
               first_value(CASE WHEN NOT is_gap THEN day END IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY day
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_d
        FROM filled
    )
    SELECT user_id, day, is_gap, locf_value,
           round(CASE
               WHEN NOT is_gap THEN day_value
               WHEN locf_value IS NULL THEN next_v
               WHEN next_v IS NULL THEN locf_value
               ELSE locf_value + (next_v - locf_value)
                    * (day - prev_d) / (next_d - prev_d)
           END, 4) AS interp_value
    FROM marked
"""


@query("ts_gapfill_interp", _TS_GAPFILL_SQL)
def ts_gapfill_interp(spark, sf_dir):
    """Hypertable-style regularization of the event stream: per-user
    daily sums, every missing day materialized inside the user's own
    span, then LOCF **and** linear interpolation across the gaps.

    Per-key calendars (``sequence``+``explode`` over each user's
    [min,max]) keep the dense grid at sum-of-spans rows; the fill is a
    (user, day) hash join; LOCF/interp are per-user ordered windows —
    see ``operators/timeseries.py`` scale notes.
    """
    from aws_medallion_etl_spark.operators import timeseries as ts

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    daily = ts.resample_daily(ev, "user_id", "ts", "value")
    filled = ts.gapfill(daily, "user_id")
    filled = ts.locf(filled, "user_id")
    filled = ts.interpolate_linear(filled, "user_id")
    return filled.select(
        "user_id", "day", "is_gap", "locf_value", "interp_value"
    )


# ---------------------------------------------------------------------------
# ORC and JSONL interchange roundtrips (S-extensions)
# ---------------------------------------------------------------------------

_S18_SQL = """
    SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price,
           CAST(min(o_orderkey) AS BIGINT) AS min_key
    FROM orders GROUP BY o_orderstatus
"""


@query("s18_orc_roundtrip", _S18_SQL)
def s18_orc_roundtrip(spark, sf_dir):
    """ORC sink -> ORC scan -> aggregate, proven against the oracle on
    the ORIGINAL parquet: any type drift, row loss, or partition
    mishandling through the ORC layer breaks the hash compare.
    Partitioned by status to exercise partition discovery on read.
    """
    from aws_medallion_etl_spark import io as eio

    path = _scratch("s18orc", sf_dir)
    eio.write_orc(
        _t(spark, sf_dir, "orders"), path, partition_by=["o_orderstatus"]
    )
    back = eio.read_orc(spark, path)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        F.min("o_orderkey").cast("long").alias("min_key"),
    )


_S19_SQL = """
    SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(sum(length(text)) AS BIGINT) AS text_chars
    FROM documents GROUP BY lang, source
"""


@query("s19_jsonl_roundtrip", _S19_SQL)
def s19_jsonl_roundtrip(spark, sf_dir):
    """JSONL (gzip) sink -> schema-enforced JSONL scan -> aggregate
    vs the oracle on the original parquet. ``sum(length(text))``
    catches any quoting/escaping corruption through the JSON layer;
    the enforced read schema (never inferSchema) is the S1 contract
    stance applied to the corpus interchange format.
    """
    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )

    from aws_medallion_etl_spark import io as eio

    path = _scratch("s19jsonl", sf_dir)
    docs = _t(spark, sf_dir, "documents")
    eio.write_jsonl(docs, path)
    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ])
    back = eio.read_jsonl(spark, path, schema)
    return back.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.sum(F.length("text")).cast("long").alias("text_chars"),
    )


# ---------------------------------------------------------------------------
# Deterministic corpus shuffle-sharding + duplicated-n-gram report
# ---------------------------------------------------------------------------

_SHUFFLE_SHARDS_SQL = """
    WITH s AS (
        SELECT doc_id,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':shuffle'), 1, 8))
                    AS BIGINT) % 8 AS shard,
               md5(CAST(doc_id AS VARCHAR) || ':shuffle:order') AS okey
        FROM documents
    ),
    r AS (
        SELECT shard, doc_id,
               row_number() OVER (PARTITION BY shard ORDER BY okey, doc_id) - 1 AS pos,
               count(*) OVER (PARTITION BY shard) AS n_in_shard
        FROM s
    )
    SELECT CAST(shard AS BIGINT) AS shard, CAST(pos AS BIGINT) AS pos,
           doc_id, CAST(n_in_shard AS BIGINT) AS n_in_shard
    FROM r WHERE pos < 5
"""


@query("corpus_shuffle_shards", _SHUFFLE_SHARDS_SQL)
def corpus_shuffle_shards(spark, sf_dir):
    """Reproducible global shuffle into 8 training shards; the oracle
    re-derives shard, order, and position from the same md5 facts and
    must agree on the first five documents of every shard — i.e. the
    exact serving order a trainer would read. See
    ``corpus.shuffle_shards`` scale notes.
    """
    docs = _t(spark, sf_dir, "documents")
    out = corpus.shuffle_shards(docs, "doc_id", n_shards=8, seed="shuffle")
    return out.where(F.col("pos") < 5).select(
        F.col("shard").cast("long").alias("shard"),
        "pos", "doc_id", "n_in_shard",
    )


_TOP_DUP_NGRAMS_SQL = r"""
    WITH base AS (
        SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
        FROM documents
    ),
    grams AS (
        SELECT doc_id, array_to_string(toks[i:i+4], ' ') AS ngram
        FROM base, LATERAL (
            SELECT unnest(range(1, len(toks) - 3)) AS i
        ) g
    )
    SELECT ngram,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_occurrences
    FROM grams GROUP BY ngram
    ORDER BY n_docs DESC, ngram
    LIMIT 20
"""


@query("t_top_dup_ngrams", _TOP_DUP_NGRAMS_SQL)
def t_top_dup_ngrams(spark, sf_dir):
    """Most-duplicated 5-grams across the corpus — the dup-analysis
    report that drives chunk-dedup / contamination thresholds — with
    the count-min screen bounding the vocabulary-sized shuffle.

    The n-gram space is exactly the Zipf-shaped key space
    ``sketches.heavy_hitters_screened`` exists for: at 100 TB the
    plain groupBy's exchange carries one partial per DISTINCT GRAM
    per task, while the sketch bounds it at depth*width. The wrinkle
    is that the report ranks by DISTINCT DOCS but the screen
    thresholds OCCURRENCES; ``n_docs <= n_occurrences`` makes the
    screen no-false-negative with a post-hoc exactness guard: if the
    20th-ranked survivor has ``n_docs >= threshold``, every pruned
    gram (occurrences < threshold, hence n_docs < threshold) ranks
    strictly below it and the screened top-20 IS the global top-20.
    A corpus too lightly duplicated for the guard (this synthetic
    word soup at small SF) falls back to the plain aggregate — same
    answer, the oracle is unchanged either way.

    Crossover probe (r9): below ~5M estimated grams the plain
    aggregate's whole exchange is smaller than the sketch's
    depth*width counters, so the screen can't pay off — a metadata
    doc count times a 512-doc average length routes small corpora
    straight to the plain plan (sf0.1 measured 3.38 s screened+
    fallback vs ~1.6 s plain; SCALING.md has the trade).
    """
    from aws_medallion_etl_spark.operators import sketches

    docs = _t(spark, sf_dir, "documents")
    threshold = 8

    def _top20(pairs):
        return (
            pairs.groupBy("ngram")
            .agg(
                F.countDistinct("doc_id").alias("n_docs"),
                F.count(F.lit(1)).alias("n_occurrences"),
            )
            .orderBy(F.desc("n_docs"), F.asc("ngram"))
            .limit(20)
        )

    # volume probe: parquet-metadata row count x bounded-sample mean
    # token length — no corpus-proportional work before the decision
    n_docs = docs.count()
    toks = F.filter(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+"),
        lambda t: t != F.lit(""),
    )
    avg_tokens = (
        docs.select(F.size(toks).alias("__n")).limit(512)
        .agg(F.avg("__n")).first()[0]
        or 0.0
    )
    est_grams = n_docs * max(avg_tokens - 4.0, 0.0)
    if est_grams < 5_000_000:
        return _top20(text.word_ngrams(docs, "doc_id", "text", n=5))

    # three consumers (sketch build x2 inside the screen, survivor
    # verify) and Spark emits no ReusedExchange across them — pin the
    # gram stream once; at 100 TB persist a gram table upstream instead
    grams = text.word_ngrams(docs, "doc_id", "text", n=5).localCheckpoint(
        eager=False
    )
    heavy = sketches.heavy_hitters_screened(
        grams.select("ngram"), "ngram", threshold=threshold
    )
    screened = _top20(
        grams.join(F.broadcast(heavy.select("ngram")), "ngram", "semi")
    )
    rows = screened.collect()  # bounded: <= 20 rows, the guard input
    if len(rows) == 20 and rows[-1]["n_docs"] >= threshold:
        return spark.createDataFrame(rows, screened.schema)
    return _top20(grams)


# ---------------------------------------------------------------------------
# DQ extensions: equi-width histogram + heavy-key skew report
# ---------------------------------------------------------------------------

_A14_HIST_SQL = """
    WITH s AS (
        SELECT min(l_extendedprice) AS lo, max(l_extendedprice) AS hi
        FROM lineitem
    )
    SELECT CAST(least(floor((l_extendedprice - lo) / ((hi - lo) / 10.0)), 9)
                AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n,
           round(min(l_extendedprice), 4) AS bin_min,
           round(max(l_extendedprice), 4) AS bin_max
    FROM lineitem, s
    GROUP BY 1
"""


@query("a14_histogram", _A14_HIST_SQL)
def a14_histogram(spark, sf_dir):
    """Equi-width 10-bin histogram of line item prices with
    data-driven bounds — two single-scan passes (1-row min/max
    all-reduce riding a broadcast cross join, then a hash aggregate).
    See ``dq.histogram``.
    """
    from aws_medallion_etl_spark.operators import dq

    return dq.histogram(_t(spark, sf_dir, "lineitem"), "l_extendedprice", nbins=10)


_DQ_SKEW_SQL = """
    WITH per_key AS (
        SELECT o_custkey, CAST(count(*) AS BIGINT) AS key_count
        FROM orders GROUP BY o_custkey
    ),
    s AS (
        SELECT round(avg(key_count), 4) AS mean_count, max(key_count) AS max_count
        FROM per_key
    )
    SELECT o_custkey, key_count, mean_count, max_count,
           round(max_count / mean_count, 4) AS skew_ratio,
           CAST(least(256, CAST(ceil(key_count / mean_count) AS BIGINT))
                AS BIGINT) AS recommended_salt
    FROM per_key, s
    ORDER BY key_count DESC, o_custkey
    LIMIT 10
"""


@query(
    "dq_k_anonymity",
    """
    SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS n_rows
    FROM customer
    GROUP BY c_nationkey, c_mktsegment
    HAVING count(*) < 10
    """,
)
def dq_k_anonymity(spark, sf_dir):
    """k-anonymity report (``dq.k_anonymity_report``): quasi-identifier
    combinations — here (nation, market segment) — occupied by fewer
    than k=10 customers, i.e. the groups a released dataset would have
    to suppress or generalize because their members are re-identifiable
    by the combination alone. The privacy counterpart of
    ``corpus_redact_pii`` (which strips DIRECT identifiers); one
    map-side-partial hash aggregate + HAVING, output bounded by the
    count of RARE combinations.
    """
    from aws_medallion_etl_spark.operators import dq

    return dq.k_anonymity_report(
        _t(spark, sf_dir, "customer"),
        ["c_nationkey", "c_mktsegment"], k=10,
    )


@query(
    "dq_l_diversity",
    """
    SELECT c_nationkey,
           CAST(floor(c_acctbal / 2000.0) AS BIGINT) AS bal_band,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS n_sensitive
    FROM customer
    GROUP BY 1, 2
    HAVING count(DISTINCT c_mktsegment) < 3
    """,
)
def dq_l_diversity(spark, sf_dir):
    """l-diversity report (``dq.l_diversity_report``): quasi groups —
    (nation, account-balance band) — whose customers span fewer than
    l=3 market segments, i.e. groups where the sensitive attribute is
    near-homogeneous and leaks despite k-anonymity (the homogeneity
    attack). Same single-aggregate shape as ``dq_k_anonymity``; the
    float band key is identical double arithmetic on both engines so
    group membership matches bit-for-bit.
    """
    from aws_medallion_etl_spark.operators import dq

    cust = _t(spark, sf_dir, "customer").select(
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 2000.0).cast("long").alias("bal_band"),
        "c_mktsegment",
    )
    return dq.l_diversity_report(
        cust, ["c_nationkey", "bal_band"], "c_mktsegment", l=3
    )


@query("dq_skew_report", _DQ_SKEW_SQL)
def dq_skew_report(spark, sf_dir):
    """Hottest-key report over the orders FK — the diagnosis that
    decides between a plain, salted (J11), or AQE-skew join. Key-space
    aggregate → 1-row stats reduce → TakeOrdered top-10; never touches
    data-sized frames after the first aggregate. See ``dq.skew_report``.
    """
    from aws_medallion_etl_spark.operators import dq

    return dq.skew_report(_t(spark, sf_dir, "orders"), "o_custkey", k=10)


# ---------------------------------------------------------------------------
# Incremental aggregate maintenance (merge a delta rollup into history)
# ---------------------------------------------------------------------------

_INC_ROLLUP_SQL = """
    SELECT o_custkey,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM orders GROUP BY o_custkey
"""


@query("inc_rollup_merge", _INC_ROLLUP_SQL)
def inc_rollup_merge(spark, sf_dir):
    """Incremental fact maintenance proven equal to a from-scratch
    rebuild: history (orders before 2000) is rolled up once, the
    "new batch" (2000 onward) is rolled up separately, and
    ``facts.merge_rollup`` folds the two — the oracle aggregates the
    WHOLE table in one pass. Measures are integer cents, so the merge
    is exact (doubles would drift by addition order).

    This is the daily-gold pattern at 100 TB: never recompute
    history, pre-aggregate the day, merge, dynamic-overwrite only the
    touched partitions (S5).
    """
    orders = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    cut = F.lit("2000-01-01").cast("timestamp")

    def rollup(df):
        return df.groupBy("o_custkey").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(cents).alias("total_cents"),
        )

    history = rollup(orders.where(F.col("o_orderdate") < cut))
    batch = rollup(orders.where(F.col("o_orderdate") >= cut))
    return facts.merge_rollup(
        history, batch, ["o_custkey"], ["n_orders", "total_cents"]
    )


# ---------------------------------------------------------------------------
# Custom Python Data Source (Spark 4 DataSource API) — S20
# ---------------------------------------------------------------------------

_S20_SQL = """
    WITH ids AS (SELECT unnest(range(0, 1000)) AS doc_id),
    docs AS (
        SELECT doc_id,
               array_to_string(['w' || CAST((doc_id*7 + i*3) % 13 AS VARCHAR)
                                FOR i IN range(0, CAST(5 + doc_id % 7 AS BIGINT))],
                               ' ') AS text
        FROM ids
    )
    SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n_chars FROM docs
"""


@query("s20_python_datasource", _S20_SQL)
def s20_python_datasource(spark, sf_dir):
    """A NON-FILE source verified end-to-end: the Spark 4 Python
    DataSource API generates a partitioned relation whose every row is
    a pure function of its id, and the oracle rebuilds the identical
    rows from ``generate_series`` arithmetic — proving the custom
    source's partitioning, iteration, and schema handling lose
    nothing. See ``datasources.SyntheticDocsDataSource`` scale notes.
    """
    from aws_medallion_etl_spark import datasources

    datasources.register(spark)
    return (
        spark.read.format("synthetic_docs")
        .option("n_docs", 1000)
        .option("num_partitions", 8)
        .load()
    )


# ---------------------------------------------------------------------------
# VARIANT semi-structured type (Spark 4) — scalar family extension
# ---------------------------------------------------------------------------

_VARIANT_SQL = """
    SELECT event_id,
           event_type AS meta_type,
           round(value, 2) AS meta_value,
           event_id AS second_id
    FROM events WHERE event_id % 50 = 0
"""


@query("f_variant_extract", _VARIANT_SQL)
def f_variant_extract(spark, sf_dir):
    """Spark 4 VARIANT path: serialize a nested document per event,
    ``parse_json`` it into the binary VARIANT encoding, then extract
    typed values back out with ``variant_get`` path expressions
    (nested object field, array index). The oracle selects the same
    values straight off the columns — any loss, coercion, or path
    mis-resolution through the VARIANT layer breaks the hash.

    VARIANT is Spark's answer to schema-on-read JSON at scale: the
    binary encoding is parsed ONCE at ingest, then every
    ``variant_get`` is a cheap typed access instead of a re-parse —
    the right 100 TB shape for heterogeneous event payloads.
    """
    ev = _t(spark, sf_dir, "events").where(F.col("event_id") % 50 == 0)
    doc = F.to_json(
        F.struct(
            F.struct(
                F.col("event_type").alias("t"), F.col("value").alias("v")
            ).alias("meta"),
            F.array(F.col("user_id"), F.col("event_id")).alias("ids"),
        )
    )
    v = F.parse_json(doc)
    return ev.select(
        "event_id",
        F.variant_get(v, "$.meta.t", "string").alias("meta_type"),
        F.round(F.variant_get(v, "$.meta.v", "double"), 2).alias("meta_value"),
        F.variant_get(v, "$.ids[1]", "long").alias("second_id"),
    )


# ---------------------------------------------------------------------------
# CUBE, UNPIVOT/melt, MAP functions, OOV-rate (coverage extensions)
# ---------------------------------------------------------------------------

_A15_CUBE_SQL = """
    SELECT o_orderstatus, o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o_totalprice), 2) AS revenue,
           CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS BIGINT)
               AS grouping_level
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


@query("a15_cube", _A15_CUBE_SQL)
def a15_cube(spark, sf_dir):
    """CUBE over (status, priority): all four grouping sets — both
    margins, the cross table, and the grand total — in ONE Expand +
    hash aggregate (map-side combine intact, no extra scans).
    ``grouping_id`` disambiguates subtotal NULLs from data NULLs."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.grouping_id().alias("grouping_level"),
        )
    )


_A16_UNPIVOT_SQL = """
    SELECT l_orderkey, l_linenumber, measure, round(val, 2) AS val
    FROM (
        SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount
        FROM lineitem WHERE l_orderkey % 500 = 0
    )
    UNPIVOT (val FOR measure IN (l_quantity, l_extendedprice, l_discount))
"""


@query("a16_unpivot", _A16_UNPIVOT_SQL)
def a16_unpivot(spark, sf_dir):
    """Wide → long reshape with the native ``unpivot`` (a11's pivot
    inverse): one row per (id, measure). Spark plans this as a single
    Expand — one scan, no joins, no UDFs; at 100 TB the output is
    k× the input rows but each row is (ids, name, value)-narrow."""
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") % 500 == 0)
    return li.select(
        "l_orderkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount",
    ).unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount"],
        "measure", "__v",
    ).select(
        "l_orderkey", "l_linenumber", "measure",
        F.round("__v", 2).alias("val"),
    )


_F_MAP_SQL = """
    SELECT n_nationkey,
           CAST(len(map_keys(m)) AS BIGINT) AS n_keys,
           map_extract(m, 'name')[1] AS name_val,
           map_extract(m, 'region')[1] AS region_val
    FROM (
        SELECT n_nationkey,
               map(['name', 'region'],
                   [n_name, CAST(n_regionkey AS VARCHAR)]) AS m
        FROM nation
    )
"""


@query("f_map_funcs", _F_MAP_SQL)
def f_map_funcs(spark, sf_dir):
    """MAP-type family: build a map from arrays, introspect its size,
    extract by key — all codegen column expressions (the map never
    leaves the JVM). Scalars are returned (not the map itself) so the
    cross-engine compare is representation-independent."""
    n = _t(spark, sf_dir, "nation")
    m = F.map_from_arrays(
        F.array(F.lit("name"), F.lit("region")),
        F.array(F.col("n_name"), F.col("n_regionkey").cast("string")),
    )
    return n.select(
        "n_nationkey",
        F.size(F.map_keys(m)).cast("long").alias("n_keys"),
        F.element_at(m, "name").alias("name_val"),
        F.element_at(m, "region").alias("region_val"),
    )


_T_OOV_SQL = r"""
    WITH vocab AS (
        SELECT tok FROM (
            SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
            FROM documents
        ) GROUP BY tok HAVING count(*) >= 200
    ),
    toks AS (
        SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
        FROM documents
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_oov,
           round(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) * 1.0
                 / count(*), 4) AS oov_rate
    FROM toks LEFT JOIN vocab v USING (tok)
    GROUP BY doc_id
"""


@query("t_oov_rate", _T_OOV_SQL)
def t_oov_rate(spark, sf_dir):
    """Per-document out-of-vocabulary rate against a corpus-derived
    vocabulary (min frequency 200) — the coverage check run before
    committing to a tokenizer.

    Vocabulary is an explode → hash-agg (map-side combined) whose
    result is tiny (≤ distinct frequent tokens) and BROADCAST to the
    token stream's left join — the 100 TB token explosion never
    shuffles; only per-doc partial counts do.
    """
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.split(F.trim(F.lower(F.col("text"))), r"\s+")
        ).alias("tok"),
    )
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("__n"))
        .where(F.col("__n") >= 200)
        .select("tok", F.lit(True).alias("__in_vocab"))
    )
    joined = toks.join(F.broadcast(vocab), "tok", "left")
    oov = F.sum(F.when(F.col("__in_vocab").isNull(), 1).otherwise(0))
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        oov.alias("n_oov"),
        F.round(oov * 1.0 / F.count(F.lit(1)), 4).alias("oov_rate"),
    )


_DEDUP_AUDIT_SQL = f"""
    WITH RECURSIVE {_NGRAM_PAIR_CTES},
    {_COMPONENT_CTES},
    assigned AS (
        SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
        FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
    ),
    csizes AS (
        SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
        FROM assigned GROUP BY cluster_id
    )
    SELECT cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(cluster_size) AS BIGINT) AS n_docs,
           CAST(sum(cluster_size) - count(*) AS BIGINT) AS n_removable
    FROM csizes GROUP BY cluster_size
"""


@query("dedup_audit_cluster_sizes", _DEDUP_AUDIT_SQL)
def dedup_audit_cluster_sizes(spark, sf_dir):
    """The dedup AUDIT report: cluster-size distribution plus how many
    documents dedup would remove at each size (size − 1 per cluster) —
    the number a data-curation run publishes before anyone deletes
    anything.

    Composes the oracle-proven pair→component path
    (``fuzzy.cluster_pairs``) with two key-space aggregates; the
    frames aggregated are (doc, cluster) ids, never text.
    """
    docs = _t(spark, sf_dir, "documents")
    pairs = fuzzy.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.8, max_shingle_df=None
    )
    clusters = fuzzy.cluster_pairs(pairs)
    assigned = fuzzy.canonical_docs(
        docs.select("doc_id"), "doc_id", clusters
    )
    sizes = assigned.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("cluster_size").alias("n_docs"),
        (F.sum("cluster_size") - F.count(F.lit(1))).alias("n_removable"),
    )


# ---------------------------------------------------------------------------
# Embedding centroid coherence + cross-source duplication matrix
# ---------------------------------------------------------------------------

_EMB_CENTROID_SQL = """
    WITH elems AS (
        SELECT label, i - 1 AS pos, embedding[i] AS x
        FROM embeddings, LATERAL (SELECT unnest(range(1, 65)) AS i) g
    ),
    cent AS (
        SELECT label, pos, avg(x) AS m FROM elems GROUP BY label, pos
    )
    SELECT label,
           round(sqrt(sum(m * m)), 4) AS centroid_norm,
           CAST(count(*) AS BIGINT) AS dims
    FROM cent GROUP BY label
"""


@query("emb_centroid_coherence", _EMB_CENTROID_SQL)
def emb_centroid_coherence(spark, sf_dir):
    """Per-label centroid norm over unit vectors — the intra-cluster
    coherence stat (1.0 = identical members, → 0 = isotropic spread)
    that validates embedding labels before semantic dedup trusts them.

    ``posexplode`` → (label, dim) hash aggregate: the shuffle carries
    64 partial (sum, count) pairs per label per map task, not vectors;
    the second aggregate runs on label × 64 rows. No driver math.
    """
    emb = _t(spark, sf_dir, "embeddings")
    elems = emb.select(
        "label", F.posexplode("embedding").alias("pos", "x")
    )
    cent = elems.groupBy("label", "pos").agg(F.avg("x").alias("m"))
    return cent.groupBy("label").agg(
        F.round(F.sqrt(F.sum(F.col("m") * F.col("m"))), 4).alias(
            "centroid_norm"
        ),
        F.count(F.lit(1)).alias("dims"),
    )


_CROSS_SOURCE_SQL = f"""
    WITH {_NGRAM_PAIR_CTES}
    SELECT least(da.source, db.source) AS source_x,
           greatest(da.source, db.source) AS source_y,
           CAST(count(*) AS BIGINT) AS n_dup_pairs
    FROM jpairs j
    JOIN documents da ON da.doc_id = j.id_a
    JOIN documents db ON db.doc_id = j.id_b
    GROUP BY 1, 2
"""


@query("dedup_cross_source_matrix", _CROSS_SOURCE_SQL)
def dedup_cross_source_matrix(spark, sf_dir):
    """Which sources duplicate each other: near-dup pairs annotated
    with both documents' sources, symmetrized (least/greatest) and
    counted — the report that catches one feed mirroring another.

    The pair set is the oracle-proven blocked Jaccard join; the source
    lookups are two hash equi-joins carrying only (id, source) — at
    100 TB the id→source map shuffles narrow rows, never text, and
    AQE broadcasts it when it fits.
    """
    docs = _t(spark, sf_dir, "documents")
    pairs = fuzzy.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.8, max_shingle_df=None
    )
    src = docs.select("doc_id", "source")
    annotated = (
        pairs.join(
            src.select(
                F.col("doc_id").alias("id_a"), F.col("source").alias("__sa")
            ),
            "id_a",
        )
        .join(
            src.select(
                F.col("doc_id").alias("id_b"), F.col("source").alias("__sb")
            ),
            "id_b",
        )
    )
    return (
        annotated.select(
            F.least("__sa", "__sb").alias("source_x"),
            F.greatest("__sa", "__sb").alias("source_y"),
        )
        .groupBy("source_x", "source_y")
        .agg(F.count(F.lit(1)).alias("n_dup_pairs"))
    )


# ---------------------------------------------------------------------------
# End-to-end corpus curation with sub-document dedup in the chain
# ---------------------------------------------------------------------------

_E2E_CURATION_SQL = r"""
    WITH base AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        FROM documents
    ),
    chunks AS (
        SELECT doc_id, i - 1 AS cpos,
               array_to_string(toks[(i-1)*20+1:(i-1)*20+20], ' ') AS chunk
        FROM base, LATERAL (
            SELECT unnest(range(1, CAST(ceil(len(toks)/20.0) AS INT) + 1)) AS i
        ) g
        WHERE len(array_to_string(toks[(i-1)*20+1:(i-1)*20+20], ' ')) > 0
    ),
    ranked AS (
        SELECT doc_id, cpos, chunk,
               row_number() OVER (PARTITION BY chunk ORDER BY doc_id, cpos) AS rn
        FROM chunks
    ),
    deduped AS (
        SELECT doc_id, string_agg(chunk, ' ' ORDER BY cpos) AS text_deduped
        FROM ranked WHERE rn = 1 GROUP BY doc_id
    ),
    kept AS (
        SELECT doc_id,
               len(string_split_regex(trim(text_deduped), '\s+')) AS n_tok
        FROM deduped
        WHERE len(string_split_regex(trim(text_deduped), '\s+')) >= 25
    ),
    s AS (
        SELECT doc_id, n_tok,
               CASE WHEN bkt < 9000 THEN 'train'
                    WHEN bkt < 9500 THEN 'val'
                    ELSE 'test' END AS split
        FROM (
            SELECT doc_id, n_tok,
                   CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                        || ':split'), 1, 8)) AS BIGINT) % 10000 AS bkt
            FROM kept
        )
    ),
    c AS (
        SELECT split, doc_id, n_tok,
               sum(n_tok) OVER (PARTITION BY split ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok
               AS cum_before
        FROM s
    )
    SELECT split, CAST(floor(cum_before / 2000.0) AS BIGINT) AS bin_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens
    FROM c GROUP BY split, bin_id
"""


@query("e2e_corpus_curation", _E2E_CURATION_SQL)
def e2e_corpus_curation(spark, sf_dir):
    """The full curation chain WITH sub-document dedup inline, under
    one oracle: C4-style chunk dedup -> min-length filter ON THE
    DEDUPED TEXT (shrunk docs can fall below threshold — ordering
    matters and is pinned here) -> reproducible hash split ->
    token-budget packing per split -> (split, bin) shard report.

    Every stage is individually oracle-proven; this pins their
    composition and the dedup-before-filter ordering a real pipeline
    must get right.
    """
    docs = _t(spark, sf_dir, "documents")
    deduped = corpus.dedup_chunks(docs, "doc_id", "text", chunk_tokens=20)
    with_tok = deduped.select(
        "doc_id", text.token_count("text_deduped").alias("n_tok")
    )
    kept = with_tok.where(F.col("n_tok") >= 25)
    split = corpus.hash_split(kept, "doc_id")
    packed = corpus.pack_sequences(
        split, "doc_id", "n_tok", budget=2000, partition_by=["split"]
    )
    return packed.groupBy("split", "bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("long").alias("total_tokens"),
    )


# ---------------------------------------------------------------------------
# Per-key linear trend from integer-exact moments
# ---------------------------------------------------------------------------

_TS_TREND_SQL = """
    WITH daily AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        FROM events WHERE user_id IS NOT NULL
        GROUP BY 1, 2
    ),
    xy AS (
        SELECT user_id,
               CAST(day - DATE '2024-01-01' AS BIGINT) AS x,
               cents AS y
        FROM daily
    ),
    m AS (
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(x * y) AS BIGINT) AS sxy
        FROM xy GROUP BY user_id
    )
    SELECT user_id, n AS n_days,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE) / 100.0, 4) AS slope,
           round(CAST(sy AS DOUBLE) / n / 100.0, 4) AS mean_level
    FROM m WHERE n * sxx - sx * sx <> 0
"""


@query("ts_trend_slope", _TS_TREND_SQL)
def ts_trend_slope(spark, sf_dir):
    """Per-user activity trend (least-squares slope of daily spend
    over day number) from INTEGER-EXACT moment sums: x is the day
    number, y the daily sum in cents, so (n, Σx, Σy, Σx², Σxy) are
    bigints any engine agrees on bit-for-bit, and the slope is one
    double division at the end — the cross-engine-stable form of
    "fit a line per key" (native ``regr_slope`` differs across
    engines in the 4th decimal from float accumulation order).

    One hash aggregate per user after the daily rollup; moments
    combine map-side, so a 100 TB event log shuffles one 5-long row
    per (user, map task).
    """
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    daily = ev.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("y")
    )
    xy = daily.select(
        "user_id",
        F.datediff(F.col("day"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("x"),
        "y",
    )
    m = xy.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return m.where(den != 0).select(
        "user_id",
        F.col("n").alias("n_days"),
        F.round(num.cast("double") / den.cast("double") / 100.0, 4).alias(
            "slope"
        ),
        F.round(
            F.col("sy").cast("double") / F.col("n") / 100.0, 4
        ).alias("mean_level"),
    )


# ---------------------------------------------------------------------------
# URL scalar family (host/path/query extraction — web-corpus curation)
# ---------------------------------------------------------------------------

_F_URL_SQL = """
    SELECT doc_id,
           source || '.example.com' AS host,
           '/docs/' || CAST(doc_id AS VARCHAR) AS path,
           lang AS lang_param
    FROM documents WHERE doc_id % 20 = 0
"""


@query("f_url_funcs", _F_URL_SQL)
def f_url_funcs(spark, sf_dir):
    """URL parsing family: documents get a synthesized canonical URL
    and ``parse_url`` must recover HOST, PATH, and a QUERY parameter
    — the primitives behind per-domain caps, host-level dedup, and
    provenance tracking in web-corpus pipelines. The oracle computes
    the components straight from the source columns the URL was built
    from, so any extraction drift fails the hash. All codegen
    (``parse_url`` is a JVM builtin), no UDFs.
    """
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 20 == 0)
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/docs/"),
        F.col("doc_id").cast("string"), F.lit("?lang="), F.col("lang"),
    )
    return docs.select(
        "doc_id",
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY"), F.lit("lang")).alias("lang_param"),
    )


# ---------------------------------------------------------------------------
# Streaming ingest of the JSONL interchange format (STR7)
# ---------------------------------------------------------------------------

_STR7_SQL = """
    SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(sum(length(text)) AS BIGINT) AS text_chars
    FROM documents GROUP BY lang, source
"""


@query("str7_stream_jsonl_ingest", _STR7_SQL)
def str7_stream_jsonl_ingest(spark, sf_dir):
    """Streaming corpus ingest: the documents table serialized to gzip
    JSONL, consumed back as a schema-enforced FILE-SOURCE STREAM
    (micro-batches via ``availableNow``), aggregated per (lang,
    source) — byte-equal to the batch oracle on the original parquet.
    Proves the streaming path of the S19 interchange contract: text
    byte counts survive quoting/escaping through stream ingestion.
    """
    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )

    from aws_medallion_etl_spark import io as eio
    from aws_medallion_etl_spark import streaming

    path = _scratch("str7src", sf_dir)
    eio.write_jsonl(_t(spark, sf_dir, "documents"), path)
    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ])
    stream = streaming.stream_from_directory(spark, path, schema, fmt="json")
    agged = stream.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(F.length("text")).alias("text_chars"),
    )
    streaming.to_memory_sink(agged, "str7_jsonl", output_mode="complete")
    return spark.table("str7_jsonl").select(
        "lang", "source", "n_docs", "total_chars", "text_chars"
    )




_TRIM_SPANS_SQL = """
    WITH toks AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(trim(text), '\\s+'),
                           x -> x <> '') AS t
        FROM documents
    ),
    occ AS (
        SELECT doc_id, i AS s,
               list_aggr(t[i+1:i+10], 'string_agg', ' ') AS gram
        FROM toks, LATERAL (
            SELECT unnest(range(0, greatest(len(t) - 9, 0))) AS i
        )
    ),
    st AS (
        SELECT gram, count(*) AS cnt,
               min(doc_id * 1000000 + s) AS canon
        FROM occ GROUP BY gram
    ),
    dup AS (
        SELECT DISTINCT occ.doc_id, occ.s + j AS p
        FROM occ JOIN st USING (gram),
             LATERAL (SELECT unnest(range(0, 10)) AS j)
        WHERE st.cnt > 1 AND occ.doc_id * 1000000 + occ.s <> st.canon
    ),
    stream AS (
        SELECT doc_id, i AS p, t[i + 1] AS tok
        FROM toks, LATERAL (SELECT unnest(range(0, len(t))) AS i)
    ),
    kept AS (
        SELECT stream.doc_id, stream.p, stream.tok
        FROM stream
        WHERE NOT EXISTS (
            SELECT 1 FROM dup
            WHERE dup.doc_id = stream.doc_id AND dup.p = stream.p
        )
    ),
    rebuilt AS (
        SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS text_clean,
               count(*) AS n_kept
        FROM kept GROUP BY doc_id
    )
    SELECT toks.doc_id AS doc_id,
           coalesce(rebuilt.text_clean, '') AS text_clean,
           CAST(len(toks.t) - coalesce(rebuilt.n_kept, 0) AS BIGINT)
               AS n_removed
    FROM toks LEFT JOIN rebuilt USING (doc_id)
"""


@query("corpus_trim_dup_spans", _TRIM_SPANS_SQL)
def corpus_trim_dup_spans(spark, sf_dir):
    """Exact-substring SPAN dedup (Lee et al. 2022's ExactSubstr pass,
    ``corpus.trim_dup_spans``): every duplicated 10-token window keeps
    only its corpus-first occurrence; overlapping duplicate windows
    union their covered positions. One level finer than
    ``corpus_dedup_chunks`` — chunk dedup only sees spans aligned to
    20-token chunk boundaries, this pass catches a pasted run at ANY
    offset. Spark groups windows by a 128-bit double-xxhash64 content
    key (posting lists never carry raw token runs); the oracle groups
    by the window STRING — equal windows group identically either way,
    so the keep-first sets match exactly at grading scale.
    """
    from aws_medallion_etl_spark.operators import corpus as corpus_ops

    docs = _t(spark, sf_dir, "documents")
    return corpus_ops.trim_dup_spans(docs, "doc_id", "text", width=10)


# ---------------------------------------------------------------------------
# DSIR importance resampling (corpus.dsir_select)
# ---------------------------------------------------------------------------

from aws_medallion_etl_spark.queries._base import _hex8_bigint_sql as _hex8


def _dsir_sql() -> str:
    bucket_r = _hex8("h") + " % 4096"
    gum = _hex8("gh")
    return rf"""
    WITH raws AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0
    ), tgt AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 7 = 0
    ), tr AS (
        SELECT doc_id,
               list_filter(string_split_regex(trim(lower(text)), '\s+'),
                           x -> x <> '') AS t
        FROM raws
    ), tt AS (
        SELECT doc_id,
               list_filter(string_split_regex(trim(lower(text)), '\s+'),
                           x -> x <> '') AS t
        FROM tgt
    ), fr AS (
        SELECT doc_id,
               unnest(list_concat(t,
                   [t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))])) AS f
        FROM tr
    ), ftg AS (
        SELECT doc_id,
               unnest(list_concat(t,
                   [t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))])) AS f
        FROM tt
    ), br AS (
        SELECT doc_id, {bucket_r} AS bucket
        FROM (SELECT doc_id, substr(md5(f || ':dsir'), 1, 8) AS h FROM fr)
    ), bt AS (
        SELECT {bucket_r} AS bucket
        FROM (SELECT substr(md5(f || ':dsir'), 1, 8) AS h FROM ftg)
    ), fd AS (
        SELECT doc_id, bucket, count(*) AS c FROM br GROUP BY 1, 2
    ), ct AS (
        SELECT bucket, count(*) AS ct FROM bt GROUP BY 1
    ), cr AS (
        SELECT bucket, sum(c) AS cr FROM fd GROUP BY 1
    ), nt AS (
        SELECT count(*) AS nt FROM bt
    ), nr AS (
        SELECT coalesce(sum(c), 0) AS nr FROM fd
    ), lr AS (
        SELECT s.bucket,
               ln((coalesce(ct.ct, 0) + 1.0) / (nt.nt + 4096.0))
             - ln((coalesce(cr.cr, 0) + 1.0) / (nr.nr + 4096.0)) AS lr
        FROM range(4096) s(bucket)
        LEFT JOIN ct USING (bucket)
        LEFT JOIN cr USING (bucket), nt, nr
    ), w AS (
        SELECT fd.doc_id, CAST(sum(fd.c) AS BIGINT) AS n_features,
               round(sum(fd.c * lr.lr), 4) AS log_importance
        FROM fd JOIN lr USING (bucket) GROUP BY 1
    ), full_w AS (
        SELECT r.doc_id,
               CAST(coalesce(w.n_features, 0) AS BIGINT) AS n_features,
               coalesce(w.log_importance, 0.0) AS log_importance
        FROM raws r LEFT JOIN w USING (doc_id)
    ), keyed AS (
        SELECT doc_id, n_features, log_importance,
               round(log_importance
                     - ln(-ln(({gum} + 0.5) / 4294967296.0)), 4)
                   AS sample_key
        FROM (SELECT *,
                     substr(md5(CAST(doc_id AS VARCHAR) || ':dsir:g'), 1, 8)
                         AS gh
              FROM full_w)
    )
    SELECT doc_id, n_features, log_importance, sample_key
    FROM keyed
    ORDER BY sample_key DESC, doc_id
    LIMIT 120
"""


@query("corpus_dsir_select", _dsir_sql())
def corpus_dsir_select(spark, sf_dir):
    """DSIR — data selection via importance resampling (Xie et al.
    2023, ``corpus.dsir_select``): fit add-1 multinomials over
    md5-hashed unigram+bigram buckets for a small curated TARGET
    (here the ``doc_id % 7 == 0`` slice stands in for the trusted
    corpus) and the RAW pool (the rest), weight each raw document by
    its bag log-likelihood ratio, and Gumbel-top-k resample 120 docs
    proportional to ``exp(log w)`` with deterministic md5-derived
    noise — reproducible across engines, runs, and partitionings.

    Plan: raw corpus explodes + groupBy(id, bucket) ONCE (map-side
    combine); the 4096-row log-ratio table broadcasts into the
    per-doc sum; selection is TakeOrdered, never a global sort. The
    paper's regime at 100 TB: the target model is KBs, the raw pool
    streams through one keyed shuffle.
    """
    from aws_medallion_etl_spark.operators import corpus as corpus_ops

    docs = _t(spark, sf_dir, "documents")
    raw = docs.where(F.col("doc_id") % 7 != 0)
    target = docs.where(F.col("doc_id") % 7 == 0)
    return corpus_ops.dsir_select(
        raw, target, "doc_id", "text", k=120,
        n_buckets=4096, seed="dsir", mode="gumbel",
    )
