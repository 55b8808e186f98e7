"""Robust outliers, subword tokenization/BPE, the snapshot-table (Delta
parity) family, and quality-classifier inference.

Split from the monolithic queries.py in round 10; registration order
is preserved by the package __init__ importing families in original
file order."""

from __future__ import annotations

from aws_medallion_etl_spark.queries._base import (
    F,
    _events,
    _scratch,
    _t,
    corpus,
    fuzzy,
    kpi,
    multimodal,
    query,
    scd,
    similarity,
    text,
)
from aws_medallion_etl_spark.queries.dedup_corpus import (
    _DEDUP_CLUSTERS_SQL,
    _NGRAM_PAIR_CTES,
    _PACK_GREEDY_SQL,
)

# ---------------------------------------------------------------------------
# Robust outlier detection (median / MAD modified z-score)
# ---------------------------------------------------------------------------

_DQ_MAD_SQL = """
    WITH med AS (
        SELECT quantile_cont(o_totalprice, 0.5) AS m FROM orders
    ),
    dev AS (
        SELECT quantile_cont(abs(o_totalprice - m), 0.5) AS mad, m
        FROM orders, med GROUP BY m
    )
    SELECT o_orderkey,
           round(o_totalprice, 2) AS price,
           round(0.6745 * (o_totalprice - m) / mad, 4) AS modified_z
    FROM orders, dev
    WHERE abs(0.6745 * (o_totalprice - m) / mad) > 1.2
"""


@query("dq_mad_outliers", _DQ_MAD_SQL)
def dq_mad_outliers(spark, sf_dir):
    """Robust outlier detection: modified z-score over median/MAD
    (Iglewicz-Hoaglin) — unlike j7's mean/stddev z-score, one wild
    value cannot mask others by inflating the spread estimate. The
    classic cut is 3.5; the synthetic uniform prices top out at
    |mz| ~ 1.35, so the prover flags the robust tails at 1.2 —
    same operator, threshold as the parameter it is.

    Two 1-row percentile reductions (median, then median absolute
    deviation) ride broadcast cross joins; the flagging pass is a
    single scan with the scalars inlined. Exact ``percentile`` keeps
    the oracle parity; at 100 TB swap ``percentile_approx`` for the
    reductions (same shape, mergeable sketch, no sort buffer).
    """
    orders = _t(spark, sf_dir, "orders")
    med = orders.agg(
        F.expr("percentile(o_totalprice, 0.5)").alias("m")
    )
    dev = (
        orders.crossJoin(F.broadcast(med))
        .groupBy("m")
        .agg(
            F.expr("percentile(abs(o_totalprice - m), 0.5)").alias("mad")
        )
    )
    mz = 0.6745 * (F.col("o_totalprice") - F.col("m")) / F.col("mad")
    return (
        orders.crossJoin(F.broadcast(dev))
        .where(F.abs(mz) > 1.2)
        .select(
            "o_orderkey",
            F.round("o_totalprice", 2).alias("price"),
            F.round(mz, 4).alias("modified_z"),
        )
    )


_SEMANTIC_CTES = """
    v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
         n AS (
            SELECT vec_id, sqrt(sum(x * x)) AS nrm
            FROM (SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS x
                  FROM embeddings)
            GROUP BY vec_id
         ),
         seeds AS (
            -- fixed expected cluster SIZE, not fixed k: mirrors
            -- similarity.auto_seed_count (max(8, ceil(N / 256)))
            SELECT v.vec_id AS seed_id, v.vec AS svec, n.nrm AS snrm
            FROM v JOIN n USING (vec_id) ORDER BY vec_id
            LIMIT greatest(8, CAST(ceil(CAST((SELECT count(*) FROM v)
                                             AS DOUBLE) / 256.0) AS BIGINT))
         ),
         scored AS (
            SELECT v.vec_id, s.seed_id,
                   list_dot_product(v.vec, s.svec) / (n.nrm * s.snrm) AS cos
            FROM v CROSS JOIN seeds s
            JOIN n ON n.vec_id = v.vec_id
         ),
         cl AS (
            SELECT vec_id, seed_id AS cluster
            FROM (SELECT vec_id, seed_id,
                         row_number() OVER (PARTITION BY vec_id
                                            ORDER BY cos DESC, seed_id ASC) AS rn
                  FROM scored)
            WHERE rn = 1
         ),
         sem_pairs AS (
            SELECT ca.cluster, ca.vec_id AS id_a, cb.vec_id AS id_b,
                   list_dot_product(a.vec, b.vec) / (na.nrm * nb.nrm) AS cosraw
            FROM cl ca JOIN cl cb ON ca.cluster = cb.cluster
                                 AND ca.vec_id < cb.vec_id
            JOIN v a ON a.vec_id = ca.vec_id JOIN v b ON b.vec_id = cb.vec_id
            JOIN n na ON na.vec_id = ca.vec_id JOIN n nb ON nb.vec_id = cb.vec_id
            WHERE list_dot_product(a.vec, b.vec) / (na.nrm * nb.nrm) >= 0.35
         )
"""

_SEMANTIC_DEDUP_SQL = f"""
    WITH {_SEMANTIC_CTES}
    SELECT cluster, id_a, id_b, round(cosraw, 4) AS cosine FROM sem_pairs
"""


@query("dedup_semantic_clusters", _SEMANTIC_DEDUP_SQL)
def dedup_semantic_clusters(spark, sf_dir):
    """SemDeDup cluster-bucketed semantic dedup (Abbas et al. 2023).

    The scale answer to all-pairs embedding dedup: cluster assignment
    is a zero-shuffle codegen argmax over constant-folded seed
    centroids, and the quadratic pairwise cosine is confined to one
    equi-join shuffle keyed on ``cluster`` — O(N^2/k) work laid out
    exactly as a 1000-executor cluster wants it (each cluster's pairs
    build from co-located rows). Seeds are the lowest-id vectors (the
    deterministic, oracle-checkable contract) with k scaling to hold
    the expected cluster SIZE constant (``auto_seed_count`` — a fixed
    k would be quadratic at scale; the oracle mirrors the formula in
    its LIMIT); production feeds ``kmeans_centroids`` into the same
    assignment/pairing path.
    """
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.semantic_dedup_pairs(
        emb, "vec_id", "embedding", threshold=0.35, n_seeds="auto"
    )


_WEIGHTED_SAMPLE_SQL = """
    WITH u AS (
        SELECT doc_id, source, CAST(n_chars + 1 AS DOUBLE) AS weight,
               (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':wsample'), 1, 12))
                     AS BIGINT) + 0.5) / 281474976710656.0 AS u
        FROM documents
    )
    SELECT doc_id, source, weight, round(weight / u, 4) AS priority
    FROM u
    ORDER BY weight / u DESC, doc_id ASC
    LIMIT 25
"""


@query("corpus_weighted_sample", _WEIGHTED_SAMPLE_SQL)
def corpus_weighted_sample(spark, sf_dir):
    """Weight-proportional corpus sampling via priority sampling
    (Duffield-Lund-Thorup): top-25 docs by q = weight / u with the
    portable 48-bit md5 uniform — char count (+1) as the weight, so
    longer documents are proportionally likelier.

    No RNG anywhere: the sample is a pure function of (doc_id, weight,
    seed) that DuckDB reproduces bit-for-bit (every op is IEEE
    correctly-rounded). The plan is one scan + TakeOrdered — no global
    sort, no shuffle of the corpus.
    """
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", (F.col("n_chars") + 1).cast("double").alias("weight")
    )
    return corpus.weighted_sample(docs, "doc_id", "weight", k=25)


_S21_BINARYFILE_SQL = """
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS digest
    FROM documents WHERE doc_id % 25 = 0
"""


@query("s21_binaryfile_scan", _S21_BINARYFILE_SQL)
def s21_binaryfile_scan(spark, sf_dir):
    """Whole-file binary ingest (`binaryFile` source) — the multimodal
    bronze layer: every 25th document is staged as a raw .bin object,
    scanned back as (path, length, content) rows, and proven lossless
    byte-for-byte (length + md5 digest vs the source table).

    `pathGlobFilter` prunes non-matching files at listing time; the
    digest/length projection is codegen over the binary column. This
    is the ingest shape image/audio corpora use at 100 TB — opaque
    blobs + typed metadata, decoded downstream by the Arrow-batched
    multimodal operators.
    """
    import os
    import shutil

    from aws_medallion_etl_spark import io as eio

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 25 == 0)
    out = _scratch("binfiles", sf_dir)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    # bounded fixture staging (one file per sampled doc); the operator
    # under test is the distributed binaryFile SCAN below
    for r in docs.select("doc_id", "text").collect():
        with open(f"{out}/{r['doc_id']}.bin", "wb") as fh:
            fh.write(r["text"].encode("utf-8"))
    with open(f"{out}/ignored.tmp", "wb") as fh:
        fh.write(b"must be pruned by the glob at listing time")
    blobs = eio.read_binary_files(spark, out, glob="*.bin")
    return blobs.select(
        F.regexp_extract(F.col("path"), r"(\d+)\.bin$", 1).cast("long").alias("doc_id"),
        F.col("length").alias("n_bytes"),
        F.md5(F.col("content")).alias("digest"),
    )


_DQ_WINSORIZE_SQL = """
    WITH b AS (
        SELECT quantile_cont(o_totalprice, 0.05) AS wlo,
               quantile_cont(o_totalprice, 0.95) AS whi
        FROM orders
    ),
    c AS (
        SELECT o_orderstatus,
               least(greatest(o_totalprice, b.wlo), b.whi) AS w,
               b.wlo, b.whi
        FROM orders CROSS JOIN b
    )
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(min(w), 2) AS min_w, round(max(w), 2) AS max_w,
           round(sum(w), 2) AS sum_w,
           round(any_value(wlo), 2) AS lo_bound,
           round(any_value(whi), 2) AS hi_bound
    FROM c GROUP BY 1
"""


@query("dq_winsorize", _DQ_WINSORIZE_SQL)
def dq_winsorize(spark, sf_dir):
    """Winsorized price stats: clamp o_totalprice into its exact
    [p05, p95] band, then roll up per status — heavy-tail robustness
    without dropping rows (grain preserved, unlike outlier deletion).

    One exact-percentile 1-row reduction broadcast onto a single
    clamping scan, then a hash aggregate: two passes total. The
    ``approx=True`` switch in ``dq.winsorize`` is the 100 TB variant
    (mergeable sketch, identical plan shape).
    """
    from aws_medallion_etl_spark.operators import dq

    orders = _t(spark, sf_dir, "orders")
    bounds = orders.agg(
        F.expr("percentile(o_totalprice, 0.05)").alias("__wlo"),
        F.expr("percentile(o_totalprice, 0.95)").alias("__whi"),
    )
    w = dq.winsorize(orders, "o_totalprice", 0.05, 0.95, out_col="w")
    return (
        w.crossJoin(F.broadcast(bounds))
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.min("w"), 2).alias("min_w"),
            F.round(F.max("w"), 2).alias("max_w"),
            F.round(F.sum("w"), 2).alias("sum_w"),
            F.round(F.any_value("__wlo"), 2).alias("lo_bound"),
            F.round(F.any_value("__whi"), 2).alias("hi_bound"),
        )
    )


_T_BIGRAM_SQL = r"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(trim(lower(text)), '\s+'),
                           x -> x <> '') AS t
        FROM documents
    ),
    uni AS (SELECT unnest(t) AS w FROM toks),
    b AS (
        SELECT doc_id, bg['w1'] AS w1, bg['w2'] AS w2
        FROM (SELECT doc_id,
                     unnest([struct_pack(w1 := t[i], w2 := t[i + 1])
                             FOR i IN range(1, len(t))]) AS bg
              FROM toks WHERE len(t) >= 2)
    ),
    bc AS (SELECT doc_id, w1, w2, count(*) AS c FROM b GROUP BY 1, 2, 3),
    cb AS (SELECT w1, w2, CAST(sum(c) AS BIGINT) AS cnt FROM bc GROUP BY 1, 2),
    c1 AS (SELECT w1, CAST(sum(c) AS BIGINT) AS ctx FROM bc GROUP BY 1),
    cu AS (SELECT w, count(*) AS uc FROM uni GROUP BY 1),
    n AS (SELECT count(*) * 1.0 AS nn FROM uni)
    SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
           round(sum(c * ln(0.7 * (cnt * 1.0 / ctx) + 0.3 * (uc / nn)))
                 / CAST(sum(c) AS BIGINT), 4)
             AS avg_logprob
    FROM bc
    JOIN cb USING (w1, w2) JOIN c1 USING (w1) JOIN cu ON cu.w = bc.w2
    CROSS JOIN n
    GROUP BY doc_id
"""


@query("t_bigram_logprob", _T_BIGRAM_SQL)
def t_bigram_logprob(spark, sf_dir):
    """Interpolated bigram LM quality score
    (``text.bigram_logprob_scores``): mean ln P(w2|w1) under the
    corpus's own Jelinek-Mercer model (lam=0.7) — catches shuffled
    prose whose unigrams look fine but whose transitions are rare.
    Three broadcast count tables over one pair stream; only the
    per-doc aggregation shuffles."""
    return text.bigram_logprob_scores(
        _t(spark, sf_dir, "documents"), "doc_id", "text"
    )


@query(
    "f_sql_udf",
    """
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_items,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           CAST(sum(CASE WHEN l_quantity >= 30 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bulk
    FROM lineitem GROUP BY 1
    """,
)
def f_sql_udf(spark, sf_dir):
    """SQL UDFs (Catalyst-inlined `CREATE FUNCTION ... RETURN expr`):
    shared business expressions with ZERO call overhead — the body is
    inlined into the caller's plan, so codegen/pruning/pushdown see
    through it (the plan is pinned shuffle-for-shuffle identical to
    writing the expression inline; contrast with `F.udf`, which walls
    off the optimizer behind a Python worker).
    """
    from aws_medallion_etl_spark import io as eio

    eio.register_sql_function(
        spark, "disc_price", "p DOUBLE, d DOUBLE", "DOUBLE", "p * (1 - d)"
    )
    eio.register_sql_function(
        spark, "is_bulk", "q DOUBLE", "INT",
        "CASE WHEN q >= 30 THEN 1 ELSE 0 END",
    )
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("__li_sqludf")
    return spark.sql(
        """
        SELECT l_returnflag,
               count(*) AS n_items,
               round(sum(disc_price(l_extendedprice, l_discount)), 2) AS revenue,
               CAST(sum(is_bulk(l_quantity)) AS BIGINT) AS n_bulk
        FROM __li_sqludf GROUP BY l_returnflag
        """
    )


_GRAPH_PAGERANK_SQL = f"""
    WITH {_NGRAM_PAIR_CTES},
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM jpairs
        UNION ALL
        SELECT id_b, id_a FROM jpairs
    ),
    deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY 1),
    n AS (SELECT count(*) * 1.0 AS nn FROM documents),
    p0 AS (SELECT doc_id, 1.0 / nn AS pr FROM documents CROSS JOIN n),
    c1 AS (SELECT e.dst AS doc_id, sum(p.pr / d.outdeg) AS s
           FROM edges e JOIN p0 p ON p.doc_id = e.src
           JOIN deg d ON d.src = e.src GROUP BY 1),
    p1 AS (SELECT p0.doc_id, (1.0 - 0.85) / nn + 0.85 * coalesce(c1.s, 0.0) AS pr
           FROM p0 LEFT JOIN c1 USING (doc_id) CROSS JOIN n),
    c2 AS (SELECT e.dst AS doc_id, sum(p.pr / d.outdeg) AS s
           FROM edges e JOIN p1 p ON p.doc_id = e.src
           JOIN deg d ON d.src = e.src GROUP BY 1),
    p2 AS (SELECT p1.doc_id, (1.0 - 0.85) / nn + 0.85 * coalesce(c2.s, 0.0) AS pr
           FROM p1 LEFT JOIN c2 USING (doc_id) CROSS JOIN n),
    c3 AS (SELECT e.dst AS doc_id, sum(p.pr / d.outdeg) AS s
           FROM edges e JOIN p2 p ON p.doc_id = e.src
           JOIN deg d ON d.src = e.src GROUP BY 1),
    p3 AS (SELECT p2.doc_id, (1.0 - 0.85) / nn + 0.85 * coalesce(c3.s, 0.0) AS pr
           FROM p2 LEFT JOIN c3 USING (doc_id) CROSS JOIN n)
    SELECT doc_id, round(pr, 6) AS pagerank FROM p3
"""


@query("graph_pagerank_hubs", _GRAPH_PAGERANK_SQL)
def graph_pagerank_hubs(spark, sf_dir):
    """PageRank over the near-dup graph: template/boilerplate hub
    scoring (``operators/graph.pagerank``). Documents whose
    3-gram-Jaccard neighborhoods are dense rise above the isolated-doc
    floor (1-d)/N; curation caps or drops the hubs.

    Three fixed Pregel-style rounds — each one edge-list join keyed on
    the vertex id plus a map-side-combined contribution aggregate; the
    oracle unrolls the identical three rounds in SQL.
    """
    from aws_medallion_etl_spark.operators import graph

    docs = _t(spark, sf_dir, "documents")
    pairs = fuzzy.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.8, max_shingle_df=None
    ).select("id_a", "id_b")
    return graph.pagerank(
        docs.select("doc_id"), graph.symmetrize(pairs), "doc_id",
        iterations=3, damping=0.85,
    )


_URL_DEDUP_SQL = """
    SELECT 'https://mirror.example.com/docs/'
               || CAST(doc_id - doc_id % 2 AS VARCHAR) AS canonical_url,
           CAST(count(*) AS BIGINT) AS n_variants,
           CAST(min(doc_id) AS BIGINT) AS kept_doc_id
    FROM documents
    GROUP BY 1
"""


@query("dedup_url_canonical", _URL_DEDUP_SQL)
def dedup_url_canonical(spark, sf_dir):
    """Canonical-URL dedup (``corpus.canonical_url``): the same page
    arriving as utm-tagged, fragment-suffixed, www-prefixed, and
    case-jittered variants collapses to one canonical form BEFORE any
    text-level dedup spends a byte. Adjacent doc pairs here synthesize
    two noisy variants of one logical URL; the oracle computes the
    expected canonical straight from the source columns, so any
    canonicalization drift fails the hash. All codegen in the scan
    projection; the only shuffle is the canonical-key aggregation.
    """
    docs = _t(spark, sf_dir, "documents")
    base = (F.col("doc_id") - F.col("doc_id") % 2).cast("string")
    noisy = F.when(
        F.col("doc_id") % 2 == 0,
        F.concat(F.lit("HTTPS://Mirror.Example.COM/docs/"), base,
                 F.lit("?utm_source=feed&utm_medium=rss")),
    ).otherwise(
        F.concat(F.lit("https://www.mirror.example.com/docs/"), base,
                 F.lit("/?fbclid=abc123#section-2")),
    )
    return (
        docs.withColumn("__curl", corpus.canonical_url(noisy))
        .groupBy(F.col("__curl").alias("canonical_url"))
        .agg(
            F.count(F.lit(1)).alias("n_variants"),
            F.min("doc_id").alias("kept_doc_id"),
        )
    )


_ROLLING_DISTINCT_SQL = """
    WITH e AS (
        SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, user_id FROM events
    ),
    du AS (SELECT DISTINCT day, user_id FROM e),
    days AS (SELECT DISTINCT day FROM e)
    SELECT d.day,
           CAST(count(DISTINCT u.user_id) AS BIGINT) AS n_exact,
           TRUE AS hll_within_bound
    FROM days d JOIN du u ON u.day BETWEEN d.day - 6 AND d.day
    GROUP BY 1
"""


@query("sketch_rolling_distinct", _ROLLING_DISTINCT_SQL)
def sketch_rolling_distinct(spark, sf_dir):
    """Trailing-7-day distinct active users per day via merged daily
    HLL sketches (``sketches.rolling_distinct_bounds``): sketches
    build once per day (distributed, fixed-size state), the trailing
    window unions 7 binaries per day over the bounded DAY dimension —
    no per-window re-dedup of the event stream. The oracle pins the
    exact counts and the TRUE bound flag (~3-sigma contract), so a
    mis-merged or mis-configured sketch fails the gate.
    """
    from aws_medallion_etl_spark.operators import sketches

    return sketches.rolling_distinct_bounds(
        _events(spark, sf_dir), "ts", "user_id", days=7
    )


_MM_IMAGE_META_SQL = """
    SELECT doc_id, 'png' AS format,
           CAST(n_chars % 1000 + 1 AS BIGINT) AS width,
           CAST(doc_id % 500 + 1 AS BIGINT) AS height
    FROM documents WHERE doc_id % 10 = 0
"""


@query("mm_image_metadata", _MM_IMAGE_META_SQL)
def mm_image_metadata(spark, sf_dir):
    """Codec-free image-header triage (``multimodal.image_metadata``):
    width/height/format parsed from PNG container BYTES with pure
    codegen substring/hex arithmetic — the ingest-time filter (aspect
    ratios, corrupt blobs, thumbnail routing) that runs before any
    decoder. Payloads here are REAL PNG headers synthesized from the
    table's own columns, so the oracle knows exactly what the parser
    must recover; a one-byte offset error fails the hash.
    """
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 10 == 0)
    w = (F.col("n_chars") % 1000 + 1).cast("long")
    h = (F.col("doc_id") % 500 + 1).cast("long")
    payload = F.unhex(
        F.concat(
            F.lit("89504E470D0A1A0A0000000D49484452"),
            F.lpad(F.hex(w), 8, "0"),
            F.lpad(F.hex(h), 8, "0"),
            F.lit("0806000000"),
        )
    )
    m = multimodal.image_metadata(payload)
    return docs.select(
        "doc_id",
        m["format"].alias("format"),
        m["width"].alias("width"),
        m["height"].alias("height"),
    )


_J14_INFERRED_SQL = """
    WITH dim AS (SELECT * FROM customer WHERE c_custkey % 7 <> 0),
    missing AS (
        SELECT DISTINCT o_custkey AS c_custkey FROM orders
        WHERE o_custkey NOT IN (SELECT c_custkey FROM dim)
    )
    SELECT c_custkey, c_name, c_mktsegment, is_inferred,
           CAST(count(*) OVER () AS BIGINT) AS dim_rows
    FROM (
        SELECT c_custkey, c_name, c_mktsegment, FALSE AS is_inferred FROM dim
        UNION ALL
        SELECT c_custkey, 'Inferred Member' AS c_name,
               'UNKNOWN' AS c_mktsegment, TRUE AS is_inferred
        FROM missing
    )
"""


@query("j14_inferred_members", _J14_INFERRED_SQL)
def j14_inferred_members(spark, sf_dir):
    """Kimball inferred members — late-arriving dimension rows: every
    fact FK with no dim match gets a flagged placeholder carrying its
    natural key (``scd.inferred_members``), so facts join to REAL keys
    instead of collapsing into one Unknown bucket, and the eventual
    true row overwrites the placeholder via the normal SCD merge.
    A seventh of the customers is hidden to manufacture late arrivals.
    Plan: distinct unmatched keys -> LEFT ANTI vs the broadcast dim
    key column -> typed-literal defaults -> one union.
    """
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    dim = cust.where(F.col("c_custkey") % 7 != 0)
    orders = _t(spark, sf_dir, "orders")
    out = scd.inferred_members(
        orders, dim, "o_custkey", "c_custkey",
        {"c_name": "Inferred Member", "c_mktsegment": "UNKNOWN"},
    )
    from pyspark.sql import Window

    return out.withColumn(
        "dim_rows", F.count(F.lit(1)).over(Window.partitionBy())
    )


_DQ_DATE_GAPS_SQL = """
    WITH obs AS (
        SELECT DISTINCT CAST(o_orderdate AS DATE) AS day FROM orders
        WHERE dayofmonth(CAST(o_orderdate AS DATE)) % 5 <> 0
    ),
    bounds AS (SELECT min(day) AS lo, max(day) AS hi FROM obs),
    cal AS (
        SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
        FROM bounds
    ),
    missing AS (
        SELECT day, CAST(day - CAST(row_number() OVER (ORDER BY day) AS INT)
                         AS DATE) AS grp
        FROM cal WHERE day NOT IN (SELECT day FROM obs)
    )
    SELECT min(day) AS gap_start, max(day) AS gap_end,
           CAST(count(*) AS BIGINT) AS n_days
    FROM missing GROUP BY grp
"""


@query(
    "dq_dataset_fingerprint",
    """
    WITH hashed AS (
        SELECT substr(md5(
            CAST(o_orderkey AS VARCHAR) || chr(31) ||
            CAST(o_custkey AS VARCHAR) || chr(31) ||
            o_orderstatus || chr(31) ||
            CAST(CAST(o_orderdate AS DATE) AS VARCHAR)
        ), 1, 15) AS h
        FROM orders
    ),
    vals AS (
        SELECT
           CAST(strpos('0123456789abcdef', substr(h, 1, 1)) - 1 AS BIGINT) * 72057594037927936 +
           CAST(strpos('0123456789abcdef', substr(h, 2, 1)) - 1 AS BIGINT) * 4503599627370496 +
           CAST(strpos('0123456789abcdef', substr(h, 3, 1)) - 1 AS BIGINT) * 281474976710656 +
           CAST(strpos('0123456789abcdef', substr(h, 4, 1)) - 1 AS BIGINT) * 17592186044416 +
           CAST(strpos('0123456789abcdef', substr(h, 5, 1)) - 1 AS BIGINT) * 1099511627776 +
           CAST(strpos('0123456789abcdef', substr(h, 6, 1)) - 1 AS BIGINT) * 68719476736 +
           CAST(strpos('0123456789abcdef', substr(h, 7, 1)) - 1 AS BIGINT) * 4294967296 +
           CAST(strpos('0123456789abcdef', substr(h, 8, 1)) - 1 AS BIGINT) * 268435456 +
           CAST(strpos('0123456789abcdef', substr(h, 9, 1)) - 1 AS BIGINT) * 16777216 +
           CAST(strpos('0123456789abcdef', substr(h, 10, 1)) - 1 AS BIGINT) * 1048576 +
           CAST(strpos('0123456789abcdef', substr(h, 11, 1)) - 1 AS BIGINT) * 65536 +
           CAST(strpos('0123456789abcdef', substr(h, 12, 1)) - 1 AS BIGINT) * 4096 +
           CAST(strpos('0123456789abcdef', substr(h, 13, 1)) - 1 AS BIGINT) * 256 +
           CAST(strpos('0123456789abcdef', substr(h, 14, 1)) - 1 AS BIGINT) * 16 +
           CAST(strpos('0123456789abcdef', substr(h, 15, 1)) - 1 AS BIGINT) * 1
           AS v
        FROM hashed
    )
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(v) AS VARCHAR) AS fingerprint
    FROM vals
    """,
)
def dq_dataset_fingerprint(spark, sf_dir):
    """Order-independent additive content checksum over orders
    (``dq.dataset_fingerprint``): the 1-row compare that validates an
    incremental rebuild against the from-scratch table without
    anti-joining the data. The fingerprint crosses the engine boundary
    as VARCHAR (digits only) and the oracle reconstructs each row's
    60-bit value with explicit per-hex-digit integer arithmetic —
    no hex-string CAST, no DECIMAL(38,0) cell — so the compare is
    representation-proof across DuckDB versions. The additive/
    order-invariance/sensitivity properties are pytest-pinned.
    """
    from aws_medallion_etl_spark.operators import dq

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus",
        F.to_date("o_orderdate").cast("string").alias("o_orderdate_day"),
    )
    out = dq.dataset_fingerprint(orders)
    return out.withColumn("fingerprint", F.col("fingerprint").cast("string"))


@query("dq_date_gaps", _DQ_DATE_GAPS_SQL)
def dq_date_gaps(spark, sf_dir):
    """Backfill planner (``dq.date_gaps``): contiguous missing-date
    ranges between the observed min and max — exactly what a scheduler
    resubmits as backfill jobs. Every 5th day-of-month is hidden from
    the orders calendar to manufacture deterministic gaps. Bounded
    calendar explode + LEFT ANTI + gaps-and-islands; the only
    data-proportional work is the distinct over observed dates.
    """
    from aws_medallion_etl_spark.operators import dq

    orders = _t(spark, sf_dir, "orders").where(
        F.dayofmonth("o_orderdate") % 5 != 0
    )
    return dq.date_gaps(orders.select(F.to_date("o_orderdate").alias("d")), "d")


@query(
    "str8_stream_incremental_dedup",
    f"""
    WITH {_NGRAM_PAIR_CTES}
    SELECT d.doc_id FROM documents d
    WHERE d.doc_id % 2 = 1
      AND NOT EXISTS (
            SELECT 1 FROM jpairs j
            WHERE (j.id_a = d.doc_id AND j.id_b % 2 = 0)
               OR (j.id_b = d.doc_id AND j.id_a % 2 = 0)
          )
    """,
)
def str8_stream_incremental_dedup(spark, sf_dir):
    """STREAMING incremental dedup against the persisted MinHash band
    index — the production 100 TB ingest shape end-to-end: new
    documents arrive as micro-batches, each batch hashes ONLY itself,
    screens against the stored corpus bands, exact-verifies the
    colliding subset, and appends its survivors to the kept sink via
    ``foreachBatch`` (idempotent, checkpointed). Two real micro-
    batches drain here; the union of their survivors must equal the
    one-shot batch answer (the same exact-Jaccard oracle as
    ``dedup_incremental``), proving batch-size invariance.
    """
    import shutil

    from aws_medallion_etl_spark import streaming as stx

    docs = _t(spark, sf_dir, "documents")
    existing = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    idx = _scratch("mhidx_str", sf_dir)
    fuzzy.build_minhash_index(existing, "doc_id", "text", idx)
    base = _scratch("strdedup", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    src, sink, ckpt = f"{base}/in", f"{base}/kept", f"{base}/ckpt"
    # two arrival waves -> two micro-batches
    new.where(F.col("doc_id") % 4 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    new.where(F.col("doc_id") % 4 == 3).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream = stx.stream_from_directory(
        spark, src, spark.read.parquet(src).schema, max_files_per_trigger=1
    )

    def _dedup_batch(batch_df, _bid):
        kept = fuzzy.dedup_against_corpus_lsh(
            batch_df.sparkSession, batch_df, existing, "doc_id", "text", idx,
            threshold=0.8, max_shingle_df=None,
        )
        kept.select("doc_id").write.mode("append").parquet(sink)

    stx.run_available_now(stream, _dedup_batch, ckpt)
    return spark.read.parquet(sink)


@query("str9_stream_incremental_clusters", _DEDUP_CLUSTERS_SQL)
def str9_stream_incremental_clusters(spark, sf_dir):
    """STREAMING cluster maintenance: near-dup components kept current
    across micro-batches with ``fuzzy.merge_clusters`` — the labels
    frame is the only cross-batch state that ever rewrites, and CC
    per batch runs on the contracted touched-cluster graph, not the
    corpus. Even docs are pre-clustered; odd docs arrive in two real
    micro-batches; each batch pairs against everything seen so far,
    folds its edges into the stored labels, and appends itself to the
    seen set. The final labeling must equal the one-shot closure over
    ALL docs (the same recursive-CTE oracle as ``dedup_clusters``) —
    arrival order provably doesn't matter.

    (Pair generation per batch is RESTRICTED to batch-touching pairs
    — cross batch-vs-seen via ``fuzzy.dedup_against_corpus``'s
    blocking equi-join plus exact within-batch pairs, the same edge
    split the production cluster policy (``ingest.ingest_batch``)
    runs, but in deliberate exact mode matching the oracle: no band
    screen, so the seen side is re-shingled per batch. Round 14
    removed the old staging's full pairs(seen ∪ batch) pass, whose
    seen×seen candidates were generated and discarded every batch —
    per-pair Jaccard depends only on the two documents, so the
    batch-touching pair SET is unchanged (oracle re-proven). The
    production screen is the persisted band index of ``str8``.)
    """
    import shutil

    from aws_medallion_etl_spark import streaming as stx

    docs = _t(spark, sf_dir, "documents")
    even = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    base = _scratch("strclusters", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    src, seen_p, labels_p, ckpt = (
        f"{base}/in", f"{base}/seen", f"{base}/labels", f"{base}/ckpt"
    )
    even.write.parquet(seen_p)
    seed_pairs = fuzzy.ngram_jaccard_pairs(
        even, "doc_id", "text", n=3, threshold=0.8, max_shingle_df=None
    )
    fuzzy.cluster_pairs(seed_pairs).write.parquet(labels_p)
    new.where(F.col("doc_id") % 4 == 1).coalesce(1).write.mode("append").parquet(src)
    new.where(F.col("doc_id") % 4 == 3).coalesce(1).write.mode("append").parquet(src)
    stream = stx.stream_from_directory(
        spark, src, spark.read.parquet(src).schema, max_files_per_trigger=1
    )

    def _cluster_batch(batch_df, _bid):
        s = batch_df.sparkSession
        seen = s.read.parquet(seen_p)
        cross = fuzzy.dedup_against_corpus(
            batch_df, seen, "doc_id", "text",
            n=3, threshold=0.8, max_shingle_df=None, return_pairs=True,
        )
        within = fuzzy.ngram_jaccard_pairs(
            batch_df, "doc_id", "text", n=3, threshold=0.8,
            max_shingle_df=None,
        )
        batch_pairs = cross.select("id_a", "id_b").unionByName(
            within.select("id_a", "id_b")
        )
        merged = fuzzy.merge_clusters(
            s.read.parquet(labels_p), batch_pairs
        ).localCheckpoint(eager=True)  # materialize BEFORE overwriting its source
        merged.write.mode("overwrite").parquet(labels_p)
        batch_df.write.mode("append").parquet(seen_p)

    stx.run_available_now(stream, _cluster_batch, ckpt)
    return fuzzy.canonical_docs(
        docs.select("doc_id"), "doc_id", spark.read.parquet(labels_p)
    ).select("doc_id", "cluster_id", "is_canonical")



def _stage_ordered_batches(df, id_col: str, src_dir: str, n: int = 4):
    """Stage ``df`` as ``n`` id-range parquet files with ascending
    mtimes so a file-source stream delivers them oldest-first = id
    order (bounded test-fixture staging shared by str10/str11/str14;
    a production feed is already ordered by arrival). The caller has
    already created an EMPTY ``src_dir``."""
    import functools
    import glob as _glob
    import os as _os
    import shutil as _shutil

    hi = df.agg(F.max(id_col)).collect()[0][0]  # 1-row scalar
    if hi is None:
        raise ValueError(
            "_stage_ordered_batches: the staged DataFrame is empty — "
            "the batch source must carry at least one row"
        )
    hi += 1
    step = (hi + n - 1) // n

    def _stage_one(i: int) -> None:
        tmp = f"{src_dir}/_tmp{i}"
        (df.where(
            (F.col(id_col) >= i * step)
            & (F.col(id_col) < (i + 1) * step))
         .coalesce(1).write.mode("overwrite").parquet(tmp))
        part = _glob.glob(f"{tmp}/part-*.parquet")[0]
        dst = f"{src_dir}/batch{i}.parquet"
        _shutil.copyfile(part, dst)
        _os.utime(dst, (1_000_000_000 + i * 60, 1_000_000_000 + i * 60))
        _shutil.rmtree(tmp)

    # the n range writes are independent jobs over disjoint id slices —
    # overlap them (guide §2.6) so the stream sees all n files at the
    # same cost as the slowest one; each file's mtime is SET explicitly
    # after its copy, so completion order cannot perturb the
    # oldest-first delivery the stream relies on. The writes keep the
    # caller's job group (fuzzy._run_overlapped).
    fuzzy._run_overlapped(
        df.sparkSession, *[functools.partial(_stage_one, i) for i in range(n)]
    )


@query("str10_stream_pack", _PACK_GREEDY_SQL)
def str10_stream_pack(spark, sf_dir):
    """Streaming hard-cap greedy packing proven by oracle (STR10):
    documents arrive in four id-ordered micro-batches (range-staged
    files, ``maxFilesPerTrigger=1``, oldest-first); per shard,
    ``streaming.stream_pack_greedy`` carries the open bin's
    (bin_id, tokens_used) across batches via
    ``applyInPandasWithState``, so the appended assignments must
    equal the BATCH greedy packing of the whole corpus — the same
    recursive-CTE oracle as ``corpus_pack_greedy``. Any state leak
    (bin reset or double-count at a batch boundary) shifts every
    later bin id and breaks the hash."""
    import os as _os
    import shutil as _shutil

    from aws_medallion_etl_spark import streaming as stx

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("doc_id") % 8).alias("shard"),
        text.token_count("text").cast("long").alias("n_tok"),
    )
    src_dir = _scratch("str10src", sf_dir)
    # re-stage EVERY run (like the sibling stream queries): a marker
    # cached across runs would silently serve a stale corpus after the
    # testdata is regenerated in place, while the oracle reads fresh
    if _os.path.exists(src_dir):
        _shutil.rmtree(src_dir)
    # stage 4 doc_id-range files with ascending mtimes so the file
    # stream delivers them oldest-first = id order (bounded
    # test-fixture staging; a production feed is already ordered
    # by arrival)
    _os.makedirs(src_dir, exist_ok=True)
    _stage_ordered_batches(docs, "doc_id", src_dir)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    packed = stx.stream_pack_greedy(stream, "shard", "doc_id", "n_tok", 250)
    # state key space = the 8 modulo shards by construction: size the
    # state-store instance count to it instead of the session's
    # data-shuffle width (round 15, measured 8.2 s → 3.7 s at sf0.1 —
    # see streaming._state_partitions)
    stx.to_memory_sink(
        packed, "str10_pack", output_mode="append", shuffle_partitions=8
    )
    return (
        spark.table("str10_pack")
        .groupBy("shard", "bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("long").alias("total_tokens"),
        )
    )


_STR11_MERGE_SQL = """
    WITH latest AS (
        SELECT user_id, max(event_id) AS event_id
        FROM events GROUP BY user_id
    )
    SELECT e.event_type, CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(e.user_id) AS BIGINT) AS sum_user,
           CAST(sum(e.event_id) AS BIGINT) AS sum_last_event
    FROM events e
    JOIN latest l
      ON e.user_id = l.user_id AND e.event_id = l.event_id
    GROUP BY e.event_type
"""


@query("str11_stream_merge_snapshot", _STR11_MERGE_SQL)
def str11_stream_merge_snapshot(spark, sf_dir):
    """Streaming CDC upsert into a snapshot table proven by oracle
    (STR11): events arrive in four id-ordered micro-batches; each
    batch keeps its newest row per ``user_id`` and MERGEs
    merge-on-read into the versioned table
    (``streaming.stream_merge_snapshot`` — foreachBatch + deletion
    vectors + per-batch txn high-water mark, the Delta exactly-once
    CDC sink). The final table must hold exactly each user's
    globally-latest event, so the oracle is the batch arg-max per
    user over the whole feed — any double-applied batch, lost
    update, resurrected row, or keep-OLDEST slip shifts the
    per-type counts and BIGINT sums.
    """
    import os as _os
    import shutil as _shutil

    from aws_medallion_etl_spark import snapshot as snap
    from aws_medallion_etl_spark import streaming as stx

    feed = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    src_dir = _scratch("str11src", sf_dir)
    tbl = _scratch("str11tbl", sf_dir)
    for d in (src_dir, tbl):
        if _os.path.exists(d):
            _shutil.rmtree(d)
    _os.makedirs(src_dir, exist_ok=True)
    _stage_ordered_batches(feed, "event_id", src_dir)
    stream = (
        spark.readStream.schema(feed.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    q = stx.stream_merge_snapshot(
        stream, tbl, on=["user_id"], order_col="event_id"
    )
    q.awaitTermination()
    final = snap.snapshot_read(spark, tbl)
    return final.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("user_id").cast("long").alias("sum_user"),
        F.sum("event_id").cast("long").alias("sum_last_event"),
    )


_STR14_MV_SQL = """
    WITH feed AS (
        SELECT event_id, user_id, event_type FROM events
        WHERE user_id % 2 = 0
    ),
    latest AS (
        SELECT user_id, max(event_id) AS event_id
        FROM feed GROUP BY user_id
    ),
    state AS (
        SELECT e.event_type, e.user_id, e.event_id
        FROM feed e
        JOIN latest l
          ON e.user_id = l.user_id AND e.event_id = l.event_id
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(user_id) AS BIGINT) AS sum_user,
           CAST(min(event_id) AS BIGINT) AS min_event,
           CAST(max(event_id) AS BIGINT) AS max_event
    FROM state GROUP BY event_type
"""


@query("str14_stream_mv_refresh", _STR14_MV_SQL)
def str14_stream_mv_refresh(spark, sf_dir):
    """Streaming CDC upsert + per-micro-batch INCREMENTAL MV refresh
    (round 12: ``stream_merge_snapshot(post_batch=...)`` composing
    with ``mv.refresh_rollup``) — the full Delta pattern: a
    foreachBatch MERGE lands each batch in a row-tracked snapshot
    table, and the maintenance callback refreshes a per-event-type
    rollup FROM THE ROW-ID CDF of the commits since its cursor — on a
    realistic maintenance CADENCE (every second batch, plus one
    unconditional settle refresh after termination — exactly-once, so
    it no-ops when the cadence already covered the tail), not
    per-commit. Every
    upsert that changes a user's latest event_type MOVES a row between
    MV groups (decrement old / increment new), and the min/max columns
    ride the at-risk recompute path when a group's stored extreme is
    superseded. Both halves are exactly-once (batch id as the base's
    txn mark; base version as the MV's cursor). The oracle recomputes
    the rollup from scratch over the latest-event-per-user state, so
    a double-applied batch, a missed group move, or a stale extreme
    shifts the per-type columns.
    """
    import os as _os
    import shutil as _shutil

    from aws_medallion_etl_spark import mv as mvmod
    from aws_medallion_etl_spark import streaming as stx

    feed = _t(spark, sf_dir, "events").where(
        F.col("user_id") % 2 == 0
    ).select("event_id", "user_id", "event_type")
    src_dir = _scratch("str14src", sf_dir)
    tbl = _scratch("str14tbl", sf_dir)
    mv_p = _scratch("str14mv", sf_dir)
    for d in (src_dir, tbl, mv_p):
        if _os.path.exists(d):
            _shutil.rmtree(d)
    _os.makedirs(src_dir, exist_ok=True)
    # three id-range micro-batches: the final table state (and so the
    # oracle-checked MV) is IDENTICAL for any batch count — what the
    # count buys is refresh WINDOWS, and three already exercise both
    # cadence shapes (one mid-stream incremental refresh over multiple
    # commits, one settle) at ~3 s/batch less harness floor than four
    _stage_ordered_batches(feed, "event_id", src_dir, n=3)
    stream = (
        spark.readStream.schema(feed.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )

    def refresh(sp, batch_id):
        if batch_id % 2 == 0:             # maintenance cadence
            return
        mvmod.refresh_rollup(
            sp, tbl, mv_p, ["event_type"], {"sum_user": "user_id"},
            mins={"min_event": "event_id"},
            maxs={"max_event": "event_id"},
        )

    q = stx.stream_merge_snapshot(
        stream, tbl, on=["user_id"], order_col="event_id",
        row_tracking=True, post_batch=refresh,
    )
    q.awaitTermination()
    # Settle refresh: the in-stream cadence (odd batch_ids) covers the
    # final micro-batch only while the file source delivers exactly one
    # file per trigger; if batches ever coalesce the MV would silently
    # lag by one window. One unconditional refresh after termination is
    # exactly-once anyway (cursor no-ops when already current).
    refresh(spark, 1)
    return mvmod.read_rollup(spark, mv_p).select(
        "event_type", "n_rows", "sum_user", "min_event", "max_event"
    )


_J15_LINKAGE_SQL = """
    WITH a AS (
        SELECT c_custkey AS id, c_custkey // 4 AS blk,
               c_name, c_mktsegment, c_acctbal
        FROM customer
    ),
    b AS (
        SELECT c_custkey + 10000000 AS id, c_custkey // 4 AS blk,
               c_name || CASE WHEN c_custkey % 4 = 0 THEN ' x' ELSE '' END
                   AS c_name,
               CASE WHEN c_custkey % 7 = 0 THEN 'UNKNOWN'
                    ELSE c_mktsegment END AS c_mktsegment,
               c_acctbal + CASE WHEN c_custkey % 11 = 0 THEN 500.0
                                WHEN c_custkey % 5 = 0 THEN 0.5
                                ELSE 0.0 END AS c_acctbal
        FROM customer
    ),
    scored AS (
        SELECT a.id AS id_a, b.id AS id_b,
               CAST(
                 (CASE WHEN levenshtein(a.c_name, b.c_name) <= 3
                       THEN 20 ELSE -20 END)
               + (CASE WHEN a.c_mktsegment = b.c_mktsegment
                       THEN 5 ELSE -5 END)
               + (CASE WHEN abs(a.c_acctbal - b.c_acctbal) <= 1.0
                       THEN 10 ELSE -10 END)
               AS BIGINT) AS score
        FROM a JOIN b USING (blk)
    )
    SELECT id_a, id_b, score FROM scored WHERE score >= 5
"""


@query("j15_record_linkage", _J15_LINKAGE_SQL)
def j15_record_linkage(spark, sf_dir):
    """Fellegi–Sunter record linkage
    (``fuzzy.record_linkage_scores``): two customer "files" — the
    original and a deterministically perturbed second source (typo'd
    names, segment lost to UNKNOWN, drifted balances, shifted ids) —
    linked on a shared blocking key with integer per-field agreement
    weights (levenshtein name, exact segment, toleranced balance).
    Every true (k, k+10M) pair survives the threshold through its
    perturbations while cross-pairs in a block score deeply negative;
    the oracle rebuilds the same perturbed file and replays the exact
    scoring arithmetic, so a wrong comparator, a null-handling slip,
    or a blocking drift shifts the pair set or the BIGINT scores.
    """
    cust = _t(spark, sf_dir, "customer")
    a = cust.select(
        F.col("c_custkey").alias("ck"),
        (F.floor(F.col("c_custkey") / 4)).alias("blk"),
        "c_name", "c_mktsegment", "c_acctbal",
    )
    b = cust.select(
        (F.col("c_custkey") + 10_000_000).alias("ck"),
        (F.floor(F.col("c_custkey") / 4)).alias("blk"),
        F.concat(
            F.col("c_name"),
            F.when(F.col("c_custkey") % 4 == 0, " x").otherwise(""),
        ).alias("c_name"),
        F.when(F.col("c_custkey") % 7 == 0, "UNKNOWN")
        .otherwise(F.col("c_mktsegment")).alias("c_mktsegment"),
        (
            F.col("c_acctbal")
            + F.when(F.col("c_custkey") % 11 == 0, 500.0)
            .when(F.col("c_custkey") % 5 == 0, 0.5)
            .otherwise(0.0)
        ).alias("c_acctbal"),
    )
    out = fuzzy.record_linkage_scores(
        a, b, id_col="ck", block_col="blk",
        fields=[
            ("c_name", "levenshtein", 20, 20, 3),
            ("c_mktsegment", "exact", 5, 5, None),
            ("c_acctbal", "abs_diff", 10, 10, 1.0),
        ],
        threshold=5,
    )
    return out


_STR12_TAIL_SQL = """
    SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(c_custkey) AS BIGINT) AS sum_keys
    FROM customer GROUP BY c_mktsegment
"""


@query("str12_stream_snapshot_tail", _STR12_TAIL_SQL)
def str12_stream_snapshot_tail(spark, sf_dir):
    """Streaming READ of a snapshot table
    (``datasources.SnapshotAppendDataSource`` — the Spark 4 Python
    streaming-DataSource API standing in for Delta's
    ``spark.readStream.format("delta")``): the table is built as
    three commits (create + two insert-only merges, each cut a
    disjoint third of customers), then a stream tails the manifest
    history from version -1 — offsets are committed versions, each
    micro-batch emits exactly the files INTRODUCED by the versions it
    spans, and a version that rewrites already-streamed data raises
    (Delta's ignoreChanges contract, pinned in pytest). The streamed
    union must equal the full customer table, so the oracle is the
    plain per-segment aggregate — a dropped version, a double-read
    file, or a row emitted under the wrong schema shifts counts or
    key sums.
    """
    import shutil

    from aws_medallion_etl_spark import datasources, snapshot as snap
    from aws_medallion_etl_spark import streaming as stx

    tbl = _scratch("str12tbl", sf_dir)
    shutil.rmtree(tbl, ignore_errors=True)
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    snap.snapshot_create(
        spark, cust.where(F.col("c_custkey") % 3 == 0), tbl,
        stats_cols=["c_custkey"],
    )
    for m in (1, 2):
        # when_matched=None: the append-only writer shape the stream
        # contract assumes — a default (update) merge would COW-rewrite
        # range-overlapping files and trip the ignoreChanges guard
        snap.merge_into(
            spark, tbl, cust.where(F.col("c_custkey") % 3 == m),
            on=["c_custkey"], when_matched=None,
        )
    datasources.register_streaming(spark)
    stream = (
        spark.readStream.format("snapshot_append")
        .option("path", tbl).load()
    )
    stx.to_memory_sink(stream, "str12_tail", output_mode="append")
    return (
        spark.table("str12_tail")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("c_custkey").cast("long").alias("sum_keys"),
        )
    )


_STR13_CDF_SQL = """
    WITH maxk AS (SELECT max(c_custkey) AS mk FROM customer),
    ins AS (
        SELECT c_custkey + mk + 100 AS k FROM customer, maxk
        WHERE c_custkey % 25 = 0
    ),
    upd AS (SELECT c_custkey AS k FROM customer WHERE c_custkey % 10 = 0),
    v1_state AS (
        SELECT c_custkey AS k FROM customer
        UNION ALL SELECT k FROM ins
    ),
    del AS (SELECT k FROM v1_state WHERE k % 7 = 3),
    ch AS (
        SELECT 'insert' AS _change_type, 1 AS _commit_version, k FROM ins
        UNION ALL SELECT 'update_preimage', 1, k FROM upd
        UNION ALL SELECT 'update_postimage', 1, k FROM upd
        UNION ALL SELECT 'delete', 2, k FROM del
    )
    SELECT _change_type, CAST(_commit_version AS BIGINT) AS _commit_version,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(k) AS BIGINT) AS sum_keys
    FROM ch GROUP BY 1, 2
"""


@query("str13_stream_cdf", _STR13_CDF_SQL)
def str13_stream_cdf(spark, sf_dir):
    """Streaming CHANGE DATA FEED (``datasources.SnapshotCDFDataSource``
    — Delta's ``readChangeFeed``): the stream attaches at the created
    table's current version, then a MERGE (update+insert) and a cow
    DELETE commit land WHILE it runs; each micro-batch carries the
    per-commit row-level changes typed with ``_change_type`` and
    stamped ``_commit_version``. Unlike the endpoint-folded batch
    ``snapshot_changes``, the stream sees EVERY commit — an insert in
    v1 deleted in v2 appears in both feeds. The oracle replays the
    per-commit change sets from the same mod rules; ``sum_keys`` pins
    exact membership per (type, version).
    """
    import shutil

    from aws_medallion_etl_spark import datasources, snapshot as snap

    tbl = _scratch("str13tbl", sf_dir)
    shutil.rmtree(tbl, ignore_errors=True)
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    snap.snapshot_create(
        spark, cust.repartitionByRange(8, "c_custkey"), tbl,
        stats_cols=["c_custkey"],
    )
    datasources.register_cdf_streaming(spark)
    stream = (
        spark.readStream.format("snapshot_cdf")
        .option("path", tbl).option("key_cols", "c_custkey").load()
    )
    q = (stream.writeStream.format("memory")
         .queryName("str13_feed").outputMode("append").start())
    try:
        # pin the stream's starting offset at the CURRENT version
        # before committing anything: initialOffset is evaluated
        # lazily at the first micro-batch, so on a busy scheduler a
        # commit could land first and the feed would attach AFTER it
        # (observed as a lost v1 batch in a 14-query session)
        q.processAllAvailable()
        maxk = cust.agg(F.max("c_custkey")).first()[0]
        upd = cust.where(F.col("c_custkey") % 10 == 0).withColumn(
            "c_acctbal", F.col("c_acctbal") + 1000
        )
        ins = cust.where(F.col("c_custkey") % 25 == 0).withColumn(
            "c_custkey", F.col("c_custkey") + F.lit(maxk + 100)
        )
        snap.merge_into(spark, tbl, upd.unionByName(ins), on=["c_custkey"])
        snap.delete_where(spark, tbl, F.col("c_custkey") % 7 == 3, mode="cow")
        q.processAllAvailable()
    finally:
        q.stop()
    return (
        spark.table("str13_feed")
        .groupBy("_change_type", "_commit_version")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("c_custkey").cast("long").alias("sum_keys"),
        )
    )


_E2E_SEMANTIC_SAMPLE_SQL = f"""
    WITH {_SEMANTIC_CTES},
    dropped AS (SELECT DISTINCT id_b AS doc_id FROM sem_pairs),
    survivors AS (
        SELECT d.doc_id, d.source, CAST(d.n_chars + 1 AS DOUBLE) AS weight
        FROM documents d
        JOIN embeddings e ON e.vec_id = d.doc_id
        WHERE d.doc_id NOT IN (SELECT doc_id FROM dropped)
    ),
    pri AS (
        SELECT doc_id, source, weight,
               weight / ((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                                               || ':wsample'), 1, 12))
                               AS BIGINT) + 0.5) / 281474976710656.0)
                   AS priority
        FROM survivors
    )
    SELECT doc_id, source, weight, round(priority, 4) AS priority
    FROM pri ORDER BY pri.priority DESC, doc_id ASC LIMIT 30
"""


@query("e2e_semantic_curation", _E2E_SEMANTIC_SAMPLE_SQL)
def e2e_semantic_curation(spark, sf_dir):
    """Round-6 curation chain composed END TO END under one oracle:
    SemDeDup drops every doc with a lower-id semantic duplicate in its
    embedding cluster, then priority sampling selects the 30 heaviest-
    weighted survivors deterministically. Three operators, one lineage
    — the zero-shuffle cluster argmax feeds the pair join feeds a
    LEFT ANTI feeds TakeOrdered; nothing materializes in between.
    """
    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    kept_emb = similarity.semantic_dedup_keep(
        emb, "vec_id", "embedding", threshold=0.35, n_seeds="auto"
    )
    survivors = docs.join(
        kept_emb.select(F.col("vec_id").alias("doc_id")), "doc_id"
    ).select(
        "doc_id", "source", (F.col("n_chars") + 1).cast("double").alias("weight")
    )
    return corpus.weighted_sample(survivors, "doc_id", "weight", k=30)


_W13_CLEAN_PATH_SQL = """
    WITH e AS (
        SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts
        FROM events
    ),
    marked AS (
        SELECT user_id, event_type, ts,
               min(ts) FILTER (event_type = 'purchase') OVER w AS ng,
               min(ts) FILTER (event_type = 'error') OVER w AS nb
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
    ),
    starts AS (
        SELECT user_id,
               (ng IS NOT NULL
                AND epoch_us(ng) - epoch_us(ts) <= 1800 * 1000000
                AND (nb IS NULL OR nb >= ng)) AS clean,
               epoch_us(ng) - epoch_us(ts) AS lat
        FROM marked WHERE event_type = 'view'
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_starts,
           CAST(sum(CASE WHEN clean THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
           CAST(sum(CASE WHEN clean THEN lat ELSE 0 END) AS BIGINT)
               AS total_latency_us
    FROM starts GROUP BY 1
"""


@query("w13_clean_path_conversions", _W13_CLEAN_PATH_SQL)
def w13_clean_path_conversions(spark, sf_dir):
    """Pattern matching `view (no error)* purchase within 30 min`
    (``kpi.clean_path_conversions``): w12 asks "did a purchase ever
    follow the view"; this asks "did it follow BEFORE anything went
    wrong" — the attribution/incident contract MATCH_RECOGNIZE covers
    in other engines, expressed as two conditional frame minima per
    user. No self-join, no explode; latency kept as exact integer
    seconds for cross-engine parity.
    """
    return kpi.clean_path_conversions(
        _events(spark, sf_dir), "user_id", "ts", "event_type",
        "view", "purchase", "error", within_seconds=1800,
    )


@query(
    "f_pandas_udaf_median",
    """
    SELECT o_orderstatus,
           round(quantile_cont(o_totalprice, 0.5), 2) AS udaf_median,
           round(quantile_cont(o_totalprice, 0.5), 2) AS builtin_median
    FROM orders GROUP BY 1
    """,
)
def f_pandas_udaf_median(spark, sf_dir):
    """Grouped-agg pandas UDAF (``udx.grouped_median``): the custom-
    aggregate escape hatch — one Arrow batch per group — pinned
    AGAINST the built-in ``percentile`` in the same result row, so the
    oracle proves both that the UDAF plumbing delivers whole correct
    groups AND that the built-in (the preferred 100 TB path: JVM-side,
    partial-aggregable) agrees with it.
    """
    from aws_medallion_etl_spark.operators import udx

    orders = _t(spark, sf_dir, "orders")
    udaf = udx.grouped_median(orders, ["o_orderstatus"], "o_totalprice")
    builtin = orders.groupBy("o_orderstatus").agg(
        F.percentile("o_totalprice", F.lit(0.5)).alias("__bm")
    )
    return (
        udaf.join(builtin, "o_orderstatus")
        .select(
            "o_orderstatus",
            F.round("median", 2).alias("udaf_median"),
            F.round("__bm", 2).alias("builtin_median"),
        )
    )


_S22_SCHEMA_EVOLUTION_SQL = """
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(priority_score) AS BIGINT) AS n_with_new_col,
           round(sum(coalesce(priority_score, 0.0)), 2) AS score_sum
    FROM (
        SELECT o_orderstatus, CAST(NULL AS DOUBLE) AS priority_score
        FROM orders WHERE year(o_orderdate) < 1996
        UNION ALL
        SELECT o_orderstatus, round(o_totalprice / 1000.0, 2) AS priority_score
        FROM orders WHERE year(o_orderdate) >= 1996
    ) GROUP BY 1
"""


@query("s22_schema_evolution_scan", _S22_SCHEMA_EVOLUTION_SQL)
def s22_schema_evolution_scan(spark, sf_dir):
    """Schema evolution across partition generations: early partitions
    lack a column later ones carry; ``mergeSchema`` reconciles the
    footers at read time and old rows surface NULLs — the additive-
    column contract every long-lived lake table eventually needs
    (re-writing 100 TB of history to add a column is not an option).
    The oracle reconstructs the same union semantics from the source
    table, pinning both the NULL back-fill and the merged values.
    """
    import shutil

    orders = _t(spark, sf_dir, "orders")
    out = _scratch("schemaevo", sf_dir)
    shutil.rmtree(out, ignore_errors=True)
    old_gen = orders.where(F.year("o_orderdate") < 1996)
    new_gen = orders.where(F.year("o_orderdate") >= 1996).withColumn(
        "priority_score", F.round(F.col("o_totalprice") / 1000.0, 2)
    )
    old_gen.write.mode("overwrite").parquet(f"{out}/gen=1")
    new_gen.write.mode("overwrite").parquet(f"{out}/gen=2")
    merged = spark.read.option("mergeSchema", "true").parquet(out)
    return merged.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("priority_score").alias("n_with_new_col"),
        F.round(F.sum(F.coalesce("priority_score", F.lit(0.0))), 2).alias(
            "score_sum"
        ),
    )


_T_JS_DIVERGENCE_SQL = r"""
    WITH toks AS (
        SELECT source AS src,
               unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
        FROM documents
    ),
    tf AS (SELECT src, tok, count(*) AS sc FROM toks WHERE tok <> ''
           GROUP BY 1, 2),
    stot AS (SELECT src, CAST(sum(sc) AS BIGINT) AS sn FROM tf GROUP BY 1),
    corp AS (SELECT tok, CAST(sum(sc) AS BIGINT) AS cc FROM tf GROUP BY 1),
    ctot AS (SELECT sum(cc) * 1.0 AS cn FROM corp),
    grid AS (
        SELECT s.src, c.tok,
               coalesce(tf.sc, 0) / s.sn AS p,
               c.cc / cn AS q
        FROM stot s CROSS JOIN corp c CROSS JOIN ctot
        LEFT JOIN tf ON tf.src = s.src AND tf.tok = c.tok
    )
    SELECT src AS source,
           round(sum(CASE WHEN p > 0
                          THEN p * ln(p / ((p + q) / 2.0)) ELSE 0.0 END * 0.5
                     + 0.5 * (q * ln(q / ((p + q) / 2.0)))), 4)
               AS js_divergence
    FROM grid GROUP BY 1
"""


@query("t_js_divergence", _T_JS_DIVERGENCE_SQL)
def t_js_divergence(spark, sf_dir):
    """Data-mixture drift monitoring (``text.source_divergence``):
    per-source Jensen-Shannon divergence of token distributions vs the
    whole corpus — finite, symmetric, bounded in [0, ln 2], so a
    source whose content shifts (spam influx, scraper breakage) is a
    single threshold alert. One token explode + one (source, token)
    hash aggregate; everything after is vocabulary-sized.
    """
    return text.source_divergence(
        _t(spark, sf_dir, "documents"), "source", "text"
    )


_W14_DRAWDOWN_SQL = """
    WITH e AS (
        SELECT user_id, event_id, value, CAST(ts AS TIMESTAMP) AS ts FROM events
    ),
    peaks AS (
        SELECT user_id,
               max(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) - value AS dd
        FROM e
    )
    SELECT user_id, round(max(dd), 4) AS max_drawdown
    FROM peaks GROUP BY 1
"""


@query("w14_max_drawdown", _W14_DRAWDOWN_SQL)
def w14_max_drawdown(spark, sf_dir):
    """Running-peak drawdown per key: the largest drop of ``value``
    below its running maximum in event order — the monitoring shape
    behind "metric fell X below its all-time high" alerts (and the
    finance max-drawdown). One running-max window per key + one
    aggregate; subtraction against the prefix max is exact double
    arithmetic, so cross-engine parity needs no tricks beyond a
    deterministic (ts, event_id) order.
    """
    from pyspark.sql import Window

    e = _events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dd = F.max("value").over(w) - F.col("value")
    return (
        e.withColumn("__dd", dd)
        .groupBy("user_id")
        .agg(F.round(F.max("__dd"), 4).alias("max_drawdown"))
    )


# ---------------------------------------------------------------------------
# Subword tokenization (greedy longest-match WordPiece)
# ---------------------------------------------------------------------------

def _subword_vocab_values() -> str:
    """Render tokenize.DEFAULT_VOCAB as a SQL VALUES list — the oracle
    matches against the SAME piece inventory the Spark encoder
    broadcasts (pieces are [a-z0-9#] only, no escaping needed)."""
    from aws_medallion_etl_spark.operators import tokenize as _tk

    rows = []
    for p in _tk.DEFAULT_VOCAB:
        cont = p.startswith("##")
        raw = p[2:] if cont else p
        rows.append(f"('{p}', {'TRUE' if cont else 'FALSE'}, '{raw}')")
    return ",\n               ".join(rows)


# Shared CTE block: greedy longest-match replayed set-based — one
# recursion over (word-instance, pos) states where each step consumes
# the LONGEST vocab piece matching at pos (scalar max-length subquery;
# the matching piece is unique because equal-length matches of the
# same substring are the same piece). No match -> count an [UNK] and
# advance one char, exactly the engine's char-skip UNK contract.
_SUBWORD_COUNTS_CTE = f"""
    vocab(piece, cont, raw) AS (
        SELECT * FROM (VALUES {_subword_vocab_values()})
               v(piece, cont, raw)
    ), words AS (
        SELECT doc_id, i, toks[i] AS word
        FROM (SELECT doc_id,
                     regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
              FROM documents),
             LATERAL (SELECT unnest(range(1, len(toks)+1)) AS i)
    ), r AS (
        SELECT doc_id, i, word, CAST(1 AS BIGINT) AS pos,
               CAST(0 AS BIGINT) AS n_pieces, CAST(0 AS BIGINT) AS n_unk
        FROM words
        UNION ALL
        SELECT doc_id, i, word, pos + coalesce(l, 1), n_pieces + 1,
               n_unk + CASE WHEN l IS NULL THEN 1 ELSE 0 END
        FROM (
            SELECT s.*,
                   (SELECT max(length(v.raw)) FROM vocab v
                    WHERE v.cont = (s.pos > 1)
                      AND substr(s.word, s.pos, length(v.raw)) = v.raw) AS l
            FROM r s WHERE s.pos <= length(s.word)
        )
    ), doc_counts AS (
        SELECT d.doc_id,
               CAST(coalesce(w.n_words, 0) AS BIGINT) AS n_words,
               CAST(coalesce(w.n_pieces, 0) AS BIGINT) AS n_pieces,
               CAST(coalesce(w.n_unk, 0) AS BIGINT) AS n_unk
        FROM documents d LEFT JOIN (
            SELECT doc_id, count(*) AS n_words, sum(n_pieces) AS n_pieces,
                   sum(n_unk) AS n_unk
            FROM r WHERE pos > length(word) GROUP BY doc_id
        ) w USING (doc_id)
    )"""


@query(
    "t_subword_tokens",
    f"""
    WITH RECURSIVE {_SUBWORD_COUNTS_CTE}
    SELECT doc_id, n_words, n_pieces, n_unk FROM doc_counts
    """,
)
def t_subword_tokens(spark, sf_dir):
    """Tokenizer-defined token counts per document
    (``tokenize.subword_token_counts``): greedy longest-match
    WordPiece against the broadcast DEFAULT_VOCAB — the count a real
    training budget is denominated in, vs the whitespace estimate
    (``text.token_count``) every packing/mixing operator used before.

    Scale path under test: the corpus explodes to (doc, word) in
    codegen, the Arrow UDF encodes only DISTINCT words
    (language-bounded), and the per-word piece costs broadcast back —
    Python work is O(vocabulary), never O(corpus). The oracle replays
    the identical greedy recurrence as a recursive CTE over
    (word, pos) states.
    """
    from aws_medallion_etl_spark.operators import tokenize

    return tokenize.subword_token_counts(
        spark, _t(spark, sf_dir, "documents"), "doc_id", "text"
    )


@query(
    "corpus_pack_greedy_subword",
    f"""
    WITH RECURSIVE {_SUBWORD_COUNTS_CTE}, t AS (
        SELECT doc_id % 8 AS shard, doc_id, n_pieces AS n_tok,
               CAST(row_number() OVER (PARTITION BY doc_id % 8
                                       ORDER BY doc_id) AS BIGINT) AS rn
        FROM doc_counts
    ), p AS (
        SELECT shard, doc_id, n_tok, rn,
               CAST(0 AS BIGINT) AS bin_id, n_tok AS run
        FROM t WHERE rn = 1
        UNION ALL
        SELECT t.shard, t.doc_id, t.n_tok, t.rn,
               CASE WHEN p.run > 0 AND p.run + t.n_tok > 500
                    THEN p.bin_id + 1 ELSE p.bin_id END,
               CASE WHEN p.run > 0 AND p.run + t.n_tok > 500
                    THEN t.n_tok ELSE p.run + t.n_tok END
        FROM p JOIN t ON t.shard = p.shard AND t.rn = p.rn + 1
    )
    SELECT shard, bin_id, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens
    FROM p GROUP BY 1, 2
    """,
)
def corpus_pack_greedy_subword(spark, sf_dir):
    """Hard-cap greedy packing on TOKENIZER counts (500-piece bins):
    ``corpus_pack_greedy`` with the whitespace estimate replaced by
    the WordPiece count — the composition a real training-shard
    writer runs, since the context window caps subword tokens, not
    words. The oracle chains BOTH sequential recurrences (greedy
    longest-match, then close-on-overflow packing) as two recursive
    CTEs in one statement.
    """
    from aws_medallion_etl_spark.operators import corpus, tokenize

    counts = tokenize.subword_token_counts(
        spark, _t(spark, sf_dir, "documents"), "doc_id", "text"
    )
    docs = counts.select(
        "doc_id", (F.col("doc_id") % 8).alias("shard"),
        F.col("n_pieces").alias("n_tok"),
    )
    packed = corpus.pack_sequences_greedy(
        docs, "doc_id", "n_tok", budget=500, shard_col="shard"
    )
    return packed.groupBy("shard", "bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("long").alias("total_tokens"),
    )


@query(
    "t_corpus_diversity",
    r"""
    WITH toks AS (
        SELECT source, string_split_regex(trim(lower(text)), '\s+') AS t
        FROM documents
    ), ng AS (
        SELECT source, array_to_string(t[i:i+1], ' ') AS g
        FROM toks, unnest(range(1, len(t))) AS u(i)
    ), per AS (
        SELECT source, CAST(count(*) AS BIGINT) AS total_ngrams,
               CAST(count(DISTINCT g) AS BIGINT) AS distinct_ngrams
        FROM ng GROUP BY source
    ), docs AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY source
    )
    SELECT d.source, d.n_docs,
           coalesce(p.total_ngrams, 0) AS total_ngrams,
           coalesce(p.distinct_ngrams, 0) AS distinct_ngrams
    FROM docs d LEFT JOIN per p ON d.source = p.source
    """,
)
def t_corpus_diversity(spark, sf_dir):
    """Source-level distinct-bigram diversity
    (``text.corpus_diversity_stats``): a source whose documents are
    individually clean but mutually templated collapses the
    distinct/total n-gram ratio — the corpus-granularity boilerplate
    signal the per-document repetition filter can't see. Integer-
    exact output (counts, not the ratio) per the repo's float-hash
    rule; the oracle recomputes tokenize → per-position bigrams →
    per-source total/distinct set-wise.
    """
    return text.corpus_diversity_stats(
        _t(spark, sf_dir, "documents"), "doc_id", "text", "source", n=2
    )


_T_BPE_PAIRS_SQL = """
    WITH words AS (
        SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
        FROM documents
    ), wc AS (
        SELECT w, count(*) AS cnt FROM words WHERE w <> '' GROUP BY w
    ), pairs AS (
        SELECT substr(w, i, 1) AS a, substr(w, i + 1, 1) AS b, cnt
        FROM wc, LATERAL (SELECT unnest(range(1, length(w))) AS i)
    )
    SELECT a, b, CAST(sum(cnt) AS BIGINT) AS pair_count
    FROM pairs GROUP BY a, b
    ORDER BY pair_count DESC, a, b
    LIMIT 20
"""


@query("t_bpe_pair_counts", _T_BPE_PAIRS_SQL)
def t_bpe_pair_counts(spark, sf_dir):
    """Round-1 statistics of the BPE vocabulary trainer
    (``tokenize.bpe_pair_counts``): adjacent character-pair counts
    weighted by word frequency, top 20 under the trainer's exact
    selection order (count desc, then lexicographic — the
    determinism tiebreak). This is the aggregation every
    ``learn_bpe_merges`` round argmaxes over; the oracle recomputes
    it set-wise (word counts → per-position pairs → weighted sum),
    so a miscounted overlapping pair, a dropped single-char word, or
    a tiebreak drift all surface. The ITERATIVE argmax-merge loop is
    not set-expressible; it is pinned by
    ``test_tokenize::test_learn_bpe_matches_reference_exactly``
    against a pure-Python reference trainer.
    """
    from aws_medallion_etl_spark.operators import tokenize

    return (
        tokenize.bpe_pair_counts(_t(spark, sf_dir, "documents"), "text")
        .orderBy(F.desc("pair_count"), "a", "b")
        .limit(20)
    )



# ---------------------------------------------------------------------------
# Real raster decode (multimodal.decode_image_features)
# ---------------------------------------------------------------------------

_MM_THUMB_IDX = [
    (y * 4 + x) * 3 + c for y in (0, 2) for x in (0, 2) for c in (0, 1, 2)
]

_MM_DECODE_SQL = f"""
    SELECT doc_id,
           TRUE AS decoded,
           CAST(4 AS INTEGER) AS height,
           CAST(4 AS INTEGER) AS width,
           CAST(3 AS INTEGER) AS channels,
           round(list_avg([CAST((doc_id * 3 + i) % 251 AS DOUBLE)
                           FOR i IN range(0, 48)]), 4) AS mean_px,
           round(list_avg([CAST((doc_id * 3 + i) % 251 AS DOUBLE)
                           FOR i IN {_MM_THUMB_IDX}]), 4) AS thumb_mean_px
    FROM documents WHERE doc_id % 9 = 1
"""


@query("mm_decode_pixels", _MM_DECODE_SQL)
def mm_decode_pixels(spark, sf_dir):
    """REAL raster decode end-to-end (``multimodal.decode_image``):
    each selected doc synthesizes a binary 4x4 P6 netpbm payload in
    pure codegen (header + 48 pixel bytes ``(doc_id*3 + i) % 251``
    via hex/unhex), the Arrow-batched chain decodes the ACTUAL pixels
    with the lib-free numpy decoder, nearest-neighbor-resizes to 2x2,
    and emits pixel statistics. The oracle recomputes both means
    arithmetically from the generator formula — a one-byte header
    slip, a stride/order bug, or a wrong resize index shifts them.
    (Denominators 48 and 12 make the rounded means exact in binary
    for divisible sums and non-terminating otherwise — never on a
    round-half boundary, so the hash compare is safe.)
    """
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 9 == 1)
    px = F.concat(*[
        F.lpad(F.hex((F.col("doc_id") * 3 + F.lit(i)) % 251), 2, "0")
        for i in range(48)
    ])
    payload = F.unhex(F.concat(F.lit("50360A3420340A3235350A"), px))
    packaged = docs.select("doc_id", payload.alias("payload"))
    return multimodal.decode_image_features(packaged, thumb=2)


_MM_AUDIO_SQL = """
    SELECT doc_id,
           TRUE AS decoded,
           CAST(8000 AS INTEGER) AS sample_rate,
           CAST(1 AS INTEGER) AS channels,
           CAST(24 AS BIGINT) AS n_frames,
           CAST(3 AS BIGINT) AS duration_ms,
           round(sqrt(list_avg([
               (CAST((doc_id*7 + i*31) % 201 - 100 AS DOUBLE) / 32768.0)
               * (CAST((doc_id*7 + i*31) % 201 - 100 AS DOUBLE) / 32768.0)
               FOR i IN range(0, 24)])), 4) AS rms,
           round(list_sum([
               CASE WHEN (((doc_id*7 + i*31) % 201 - 100) < 0)
                         <> (((doc_id*7 + (i+1)*31) % 201 - 100) < 0)
                    THEN 1 ELSE 0 END
               FOR i IN range(0, 23)]) / 23.0, 4) AS zero_cross
    FROM documents WHERE doc_id % 11 = 2
"""


@query("mm_decode_audio", _MM_AUDIO_SQL)
def mm_decode_audio(spark, sf_dir):
    """REAL PCM audio decode end-to-end (``multimodal.decode_audio``):
    each selected doc synthesizes a canonical 16-bit mono WAV in pure
    codegen (RIFF/fmt/data chunks + 24 little-endian two's-complement
    samples ``(doc_id*7 + i*31) % 201 - 100``), the Arrow-batched
    chain walks the chunks, scales to [-1, 1], and emits RMS and
    zero-crossing rate from the ACTUAL samples. The oracle recomputes
    both from the generator formula — a byte-order slip, a chunk-walk
    bug, or a scaling error shifts them. Sample values are exact
    dyadic doubles (k / 2^15), so both engines' sums are bit-identical
    regardless of order and only IEEE sqrt separates them (correctly
    rounded in both).
    """
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 11 == 2)
    hdr = (
        "52494646" "54000000" "57415645"            # RIFF size=84 WAVE
        "666D7420" "10000000" "0100" "0100"          # fmt 16 pcm mono
        "401F0000" "803E0000" "0200" "1000"          # 8000Hz 16kBps 16bit
        "64617461" "30000000"                        # data size=48
    )
    parts = []
    for i in range(24):
        v = (F.col("doc_id") * 7 + F.lit(i * 31)) % 201 - 100
        u = F.when(v >= 0, v).otherwise(v + 65536)
        parts.append(F.lpad(F.hex(u % 256), 2, "0"))
        parts.append(F.lpad(F.hex((u / 256).cast("long")), 2, "0"))
    payload = F.unhex(F.concat(F.lit(hdr), *parts))
    packaged = docs.select("doc_id", payload.alias("payload"))
    return multimodal.decode_audio_features(packaged)
