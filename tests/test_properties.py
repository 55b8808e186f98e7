"""Property-based tests (hypothesis): operators whose semantics have a
trivially-correct driver-side reference implementation are checked
against it on randomized small inputs — edge cases (ties, empty keys,
single rows, gap boundaries) that hand-written examples miss.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings, strategies as st

from pyspark.sql import functions as F

from aws_medallion_etl_spark.operators import enrich, kpi

KEYS = st.sampled_from(["a", "b"])
TS = st.integers(min_value=0, max_value=40)

SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@st.composite
def asof_case(draw):
    left = draw(st.lists(st.tuples(KEYS, TS), min_size=1, max_size=10))
    # unique (key, ts) on the right: tie order among equal right rows is
    # out of contract (callers pre-dedup, as the j8 query does)
    right = sorted(draw(st.sets(st.tuples(KEYS, TS), min_size=0, max_size=10)))
    return left, right


def _naive_asof(left, right, strict):
    out = []
    for k, t in left:
        cands = [rt for rk, rt in right if rk == k and (rt < t if strict else rt <= t)]
        out.append((k, t, max(cands) if cands else None))
    return sorted(out, key=repr)


@given(case=asof_case(), strict=st.booleans())
@settings(**SETTINGS)
def test_asof_backward_matches_naive(spark, case, strict):
    left, right = case
    ldf = spark.createDataFrame(left, "k string, t long")
    rdf = spark.createDataFrame(
        [(k, t, float(t)) for k, t in right] or [("zzz", 0, 0.0)],
        "k string, rt long, rv double",
    )
    got = enrich.asof_join(ldf, rdf, ["k"], "t", "rt", strict=strict).collect()
    assert sorted(((r.k, r.t, r.rt) for r in got), key=repr) == _naive_asof(
        left, right, strict
    )


@st.composite
def session_case(draw):
    n = draw(st.integers(min_value=1, max_value=12))
    rows = [
        (draw(KEYS), i, draw(TS))  # unique eid as tie-break
        for i in range(n)
    ]
    gap = draw(st.integers(min_value=1, max_value=10))
    return rows, gap


def _naive_sessions(rows, gap):
    out = {}
    bykey: dict = {}
    for k, eid, t in rows:
        bykey.setdefault(k, []).append((t, eid))
    for k, evs in bykey.items():
        evs.sort()
        idx = 0
        prev = None
        for t, eid in evs:
            if prev is None or t - prev > gap:
                idx += 1
            out[eid] = (k, idx)
            prev = t
    return out


@given(case=session_case())
@settings(**SETTINGS)
def test_sessionize_matches_naive(spark, case):
    rows, gap = case
    df = spark.createDataFrame(rows, "k string, eid int, t long").withColumn(
        "ts", F.timestamp_seconds("t")
    )
    got = kpi.sessionize(df, ["k"], "ts", gap_seconds=gap, order_tiebreak=["eid"])
    assert {
        r.eid: (r.k, r.session_idx) for r in got.collect()
    } == _naive_sessions(rows, gap)


def test_percentile_approx_error_bound(spark):
    """The percentile_approx scale path stays within its accuracy
    contract of the exact interpolated percentile (a12's oracle)."""
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    both = orders.groupBy("o_orderstatus").agg(
        F.percentile("o_totalprice", F.lit(0.5)).alias("exact"),
        F.percentile_approx("o_totalprice", F.lit(0.5), F.lit(1000)).alias("approx"),
    )
    for r in both.collect():
        assert abs(r.approx - r.exact) / r.exact < 0.02


# ---------------------------------------------------------------------------
# Corpus curation properties
# ---------------------------------------------------------------------------

@st.composite
def pack_case(draw):
    toks = draw(st.lists(st.integers(min_value=1, max_value=50),
                         min_size=1, max_size=15))
    budget = draw(st.integers(min_value=10, max_value=60))
    return toks, budget


@given(case=pack_case())
@settings(**SETTINGS)
def test_pack_sequences_matches_naive(spark, case):
    from aws_medallion_etl_spark.operators import corpus

    toks, budget = case
    rows = [(i, t) for i, t in enumerate(toks)]
    df = spark.createDataFrame(rows, "doc_id long, n_tok long")
    got = {r.doc_id: r.bin_id
           for r in corpus.pack_sequences(df, "doc_id", "n_tok", budget).collect()}
    cum = 0
    for i, t in rows:
        assert got[i] == cum // budget
        cum += t


@given(ids=st.sets(st.integers(min_value=0, max_value=10_000),
                   min_size=1, max_size=40),
       seed=st.sampled_from(["s1", "s2"]))
@settings(**SETTINGS)
def test_hash_split_total_and_stable(spark, ids, seed):
    """Every id lands in exactly one split, identically across calls."""
    from aws_medallion_etl_spark.operators import corpus

    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    a = sorted(corpus.hash_split(df, "doc_id", seed=seed).collect())
    b = sorted(corpus.hash_split(df, "doc_id", seed=seed).collect())
    assert a == b
    assert len(a) == len(ids)
    assert all(r.split in ("train", "val", "test") for r in a)


@given(texts=st.lists(
    st.text(alphabet=st.characters(codec="ascii",
                                   exclude_characters="\x00"),
            max_size=40),
    min_size=1, max_size=8))
@settings(**SETTINGS)
def test_redact_pii_idempotent(spark, texts):
    """redact(redact(x)) == redact(x): replacement tokens never
    re-trigger either pattern."""
    from aws_medallion_etl_spark.operators import corpus

    df = spark.createDataFrame([(t,) for t in texts], "t string")
    once = df.select(corpus.redact_pii("t").alias("r"))
    twice = once.select(corpus.redact_pii("r").alias("r"))
    assert [r.r for r in once.collect()] == [r.r for r in twice.collect()]


@st.composite
def partitioned_pack_case(draw):
    # skewed partition sizes: one shard may carry 50x the docs of another
    n_parts = draw(st.integers(min_value=1, max_value=4))
    shards = {
        f"s{p}": draw(st.lists(st.integers(min_value=1, max_value=500),
                               min_size=0, max_size=draw(st.sampled_from([1, 3, 25]))))
        for p in range(n_parts)
    }
    budget = draw(st.integers(min_value=10, max_value=600))
    return shards, budget


@given(case=partitioned_pack_case())
@settings(**SETTINGS)
def test_pack_sequences_partitioned_matches_naive(spark, case):
    """With partition_by, every shard packs independently under the
    same cumulative-quotient contract — bin numbering restarts per
    shard and skewed shard sizes don't leak across shards."""
    from aws_medallion_etl_spark.operators import corpus

    shards, budget = case
    rows = [(s, i, t) for s, toks in shards.items() for i, t in enumerate(toks)]
    if not rows:
        return
    df = spark.createDataFrame(rows, "split string, doc_id long, n_tok long")
    got = {(r.split, r.doc_id): r.bin_id
           for r in corpus.pack_sequences(
               df, "doc_id", "n_tok", budget, partition_by=["split"]).collect()}
    for s, toks in shards.items():
        cum = 0
        for i, t in enumerate(toks):
            assert got[(s, i)] == cum // budget
            cum += t


# ---------------------------------------------------------------------------
# Chunk-level dedup vs a naive Python reference
# ---------------------------------------------------------------------------

WORDS = st.sampled_from(["aa", "bb", "cc", "dd"])


def _naive_dedup_chunks(docs, k):
    seen = set()
    out = {}
    for doc_id, text in sorted(docs):
        toks = text.split()
        kept = []
        for i in range(0, len(toks), k):
            chunk = " ".join(toks[i:i + k])
            if chunk and chunk not in seen:
                seen.add(chunk)
                kept.append(chunk)
        if kept:
            out[doc_id] = (" ".join(kept), len(kept))
    return out


@given(
    docs=st.lists(
        st.lists(WORDS, min_size=0, max_size=9).map(" ".join),
        min_size=1, max_size=6,
    )
)
@settings(**SETTINGS)
def test_dedup_chunks_matches_naive(spark, docs):
    from aws_medallion_etl_spark.operators import corpus

    rows = [(i, t) for i, t in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.text_deduped, r.n_chunks_kept)
        for r in corpus.dedup_chunks(df, "doc_id", "text", chunk_tokens=3)
        .collect()
    }
    assert got == _naive_dedup_chunks(rows, 3)


# ---------------------------------------------------------------------------
# Shuffle-sharding vs a naive md5 reference
# ---------------------------------------------------------------------------

@given(ids=st.sets(st.integers(min_value=0, max_value=10_000),
                   min_size=1, max_size=30))
@settings(**SETTINGS)
def test_shuffle_shards_matches_naive(spark, ids):
    import hashlib

    from aws_medallion_etl_spark.operators import corpus

    def bucket(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    n_shards, seed = 4, "s"
    naive = {}
    per_shard = {}
    for i in sorted(ids):
        shard = bucket(f"{i}:{seed}") % n_shards
        okey = hashlib.md5(f"{i}:{seed}:order".encode()).hexdigest()
        per_shard.setdefault(shard, []).append((okey, i))
    for shard, items in per_shard.items():
        for pos, (_, i) in enumerate(sorted(items)):
            naive[i] = (shard, pos, len(items))

    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {
        r.doc_id: (r.shard, r.pos, r.n_in_shard)
        for r in corpus.shuffle_shards(
            df, "doc_id", n_shards=n_shards, seed=seed
        ).collect()
    }
    assert got == naive


URL_HOST = st.from_regex(r"[A-Za-z0-9]{1,8}(\.[A-Za-z]{2,4}){1,2}", fullmatch=True)
URL_PATH = st.from_regex(r"(/[A-Za-z0-9._~-]{0,6}){0,3}/?", fullmatch=True)
URL_QS = st.lists(
    st.tuples(
        st.sampled_from(["a", "bb", "utm_source", "utm_c", "ref", "keep2"]),
        st.from_regex(r"[A-Za-z0-9]{0,4}", fullmatch=True),
    ),
    max_size=4,
)


@given(
    scheme=st.sampled_from(["http", "HTTPS", "https"]),
    www=st.booleans(),
    host=URL_HOST,
    path=URL_PATH,
    qs=URL_QS,
    frag=st.sampled_from(["", "#x", "#sec-2"]),
)
@settings(**SETTINGS)
def test_canonical_url_idempotent_and_tracking_free(
    spark, scheme, www, host, path, qs, frag
):
    """canonical(canonical(u)) == canonical(u), and the result never
    carries tracking params, fragments, www, or uppercase scheme/host."""
    from aws_medallion_etl_spark.operators import corpus

    q = "&".join(f"{k}={v}" for k, v in qs)
    url = f"{scheme}://{'www.' if www else ''}{host}{path}"
    if q:
        url += "?" + q
    url += frag
    df = spark.createDataFrame([(url,)], "url string")
    once = df.select(corpus.canonical_url("url").alias("c"))
    c1 = once.first()["c"]
    c2 = once.select(corpus.canonical_url("c").alias("c")).first()["c"]
    assert c1 == c2, (url, c1, c2)
    assert "#" not in c1 and "utm_" not in c1 and "ref=" not in c1
    assert "://www." not in c1
    sch, rest = c1.split("://", 1)
    assert sch == sch.lower()
    assert rest.split("/", 1)[0].split("?", 1)[0] == host.lower()


WORDS = st.sampled_from(["red", "big", "dog", "cat", "run", "sky"])


@st.composite
def doc_corpus(draw):
    docs = draw(st.lists(st.lists(WORDS, min_size=1, max_size=8),
                         min_size=2, max_size=6))
    return [(i, " ".join(toks)) for i, toks in enumerate(docs)]


def _shingle_set(text, n=3):
    toks = text.split()
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


@given(doc_corpus())
@settings(**SETTINGS)
def test_containment_matches_naive_and_dominates_jaccard(spark, docs):
    """containment_pairs == the set-arithmetic reference, and every
    pair Jaccard keeps at threshold t, containment also keeps at t
    (jaccard <= max(containment) always — the measure is strictly
    more permissive)."""
    from aws_medallion_etl_spark.operators import fuzzy

    t = 0.5
    df = spark.createDataFrame(docs, "doc_id int, text string")
    got = {(r.id_a, r.id_b): (r.containment_a, r.containment_b)
           for r in fuzzy.containment_pairs(
               df, "doc_id", "text", n=3, threshold=t,
               max_shingle_df=None).collect()}

    sets = {i: _shingle_set(txt) for i, txt in docs}
    want = {}
    for a in sets:
        for b in sets:
            if a >= b:
                continue
            inter = len(sets[a] & sets[b])
            ca, cb = inter / len(sets[a]), inter / len(sets[b])
            if max(ca, cb) >= t:
                want[(a, b)] = (round(ca, 4), round(cb, 4))
    assert got == want

    jac = {(r.id_a, r.id_b) for r in fuzzy.ngram_jaccard_pairs(
        df, "doc_id", "text", n=3, threshold=t, max_shingle_df=None).collect()}
    assert jac <= set(got)


@st.composite
def cluster_batch_case(draw):
    """Random undirected edge set, randomly split into 3-4 ordered
    batches. Covers the adversarial orderings a curated example can
    miss: one cluster's edges scattered across every batch, chains
    whose first and last batches share NO direct edge (they connect
    only through intermediate batches), batches that merge several
    stored clusters at once, and empty batches."""
    n_nodes = draw(st.integers(min_value=4, max_value=14))
    raw = draw(
        st.sets(
            st.tuples(
                st.integers(0, n_nodes), st.integers(0, n_nodes)
            ).filter(lambda e: e[0] != e[1]),
            min_size=1,
            max_size=20,
        )
    )
    edges = sorted({(min(a, b), max(a, b)) for a, b in raw})
    n_batches = draw(st.integers(min_value=3, max_value=4))
    assignment = [
        draw(st.integers(0, n_batches - 1)) for _ in range(len(edges))
    ]
    batches = [
        [e for e, g in zip(edges, assignment) if g == i]
        for i in range(n_batches)
    ]
    return edges, batches


def _naive_cc_min_labels(edges):
    """Union-find with min-id labels — the trivially-correct reference."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return sorted((x, find(x)) for x in parent)


@given(case=cluster_batch_case())
@settings(**SETTINGS)
def test_merge_clusters_any_batch_order_matches_from_scratch(spark, case):
    """Folding edge batches one at a time through fuzzy.merge_clusters
    must reproduce the from-scratch min-id connected-components
    labeling EXACTLY, for ANY partition of the edges into batches —
    the closure-under-contraction invariant the continuous-ingestion
    cluster policy (ingest.ingest_batch) leans on."""
    from aws_medallion_etl_spark.operators import fuzzy

    edges, batches = case
    labels = spark.createDataFrame([], "id long, cluster_id long")
    for batch in batches:
        if not batch:
            continue
        pairs = spark.createDataFrame(batch, "id_a long, id_b long")
        labels = fuzzy.merge_clusters(labels, pairs)
        # keep each round's result small and concrete (the test folds
        # up to 4 rounds; lineage depth is not under test here)
        labels = spark.createDataFrame(labels.collect(), "id long, cluster_id long")
    got = sorted((r.id, r.cluster_id) for r in labels.collect())
    assert got == _naive_cc_min_labels(edges)


# ---------------------------------------------------------------------------
# Snapshot column mapping under random op sequences vs a dict model
# ---------------------------------------------------------------------------

_SNAP_OPS = st.lists(
    st.one_of(
        st.tuples(st.just("merge"), st.integers(2, 5), st.integers(-9, 9)),
        st.tuples(st.just("update"), st.integers(2, 4), st.integers(1, 9)),
        st.tuples(st.just("delete"), st.integers(2, 6), st.just(0)),
        st.tuples(st.just("replace"), st.integers(2, 6), st.integers(-9, 9)),
        st.tuples(st.just("rename"), st.just(0), st.just(0)),
    ),
    min_size=1,
    max_size=5,
)


@given(ops=_SNAP_OPS)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_snapshot_colmap_op_sequences_match_model(spark, tmp_path_factory, ops):
    """Random interleavings of MERGE / UPDATE / DELETE / REPLACE WHERE /
    RENAME against a trivially-correct dict model: column mapping must
    be invisible to every data operation — same keys, same values,
    whatever the rename history — because renames are manifest-only and
    physical names are immutable."""
    import shutil

    from aws_medallion_etl_spark import snapshot as sn

    path = str(tmp_path_factory.mktemp("snapprop") / "tbl")
    shutil.rmtree(path, ignore_errors=True)
    keys = list(range(8))
    model = {k: k * 10 for k in keys}
    df = spark.createDataFrame(
        [(k, v) for k, v in model.items()], ["k", "v0"]
    )
    sn.snapshot_create(spark, df, path, stats_cols=["k"])
    vname = "v0"
    gen = 0
    for op, m, d in ops:
        if op == "merge":  # upsert keys % m == 0 to value d, insert m+20
            src_rows = [(k, d) for k in keys if k % m == 0] + [(m + 20, d)]
            sn.merge_into(
                spark, path,
                spark.createDataFrame(src_rows, ["k", vname]),
                on=["k"],
            )
            for k, v in src_rows:
                model[k] = v
        elif op == "update":
            sn.update_where(
                spark, path, f"k % {m} = 1", {vname: f"{vname} + {d}"},
                mode="cow" if d % 2 else "mor",
            )
            for k in list(model):
                if k % m == 1:
                    model[k] += d
        elif op == "delete":
            sn.delete_where(
                spark, path, f"k % {m} = 0", mode="mor" if m % 2 else "cow",
            )
            for k in list(model):
                if k % m == 0:
                    del model[k]
        elif op == "replace":  # re-land keys % m == 0 at d, plus m * 30
            rows = [(k, d) for k in model if k % m == 0] + [(m * 30, d)]
            sn.replace_where(
                spark, path, f"k % {m} = 0",
                spark.createDataFrame(rows, ["k", vname]),
                mode="cow" if d % 2 else "mor",
            )
            model = {k: v for k, v in model.items() if k % m}
            model.update(rows)
        else:  # rename the value column
            gen += 1
            new = f"v{gen}"
            sn.rename_column(path, vname, new)
            vname = new
    got = {
        r["k"]: r[vname] for r in sn.snapshot_read(spark, path).collect()
    }
    assert got == model


_HIST_OPS = st.lists(
    st.one_of(
        st.tuples(st.just("merge"), st.integers(2, 5), st.integers(-9, 9)),
        st.tuples(st.just("update"), st.integers(2, 4), st.integers(1, 9)),
        st.tuples(st.just("delete"), st.integers(2, 6), st.just(0)),
    ),
    min_size=1,
    max_size=4,
)


@given(ops=_HIST_OPS, clone_at=st.integers(0, 3))
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_snapshot_history_and_clone_invariants(
    spark, tmp_path_factory, ops, clone_at
):
    """Random MERGE / UPDATE / DELETE sequences against a dict model:
    after every commit, DESCRIBE HISTORY's head must name the op and
    its live_rows must equal the actual read; a SHALLOW CLONE taken at
    a random mid-point must keep serving that point's model state no
    matter what the source does afterwards; VACUUM DRY RUN never
    changes what any reader sees."""
    import shutil

    from aws_medallion_etl_spark import snapshot as sn

    path = str(tmp_path_factory.mktemp("histprop") / "tbl")
    shutil.rmtree(path, ignore_errors=True)
    keys = list(range(10))
    model = {k: k * 10 for k in keys}
    df = spark.createDataFrame(
        [(k, v) for k, v in model.items()], ["k", "v"]
    )
    sn.snapshot_create(spark, df, path, stats_cols=["k"])
    expect_ops = ["CREATE"]
    clone_path = clone_model = None
    for i, (op, m, d) in enumerate(ops):
        if clone_path is None and i == min(clone_at, len(ops) - 1):
            clone_path = str(tmp_path_factory.mktemp("histprop") / "cln")
            sn.shallow_clone(path, clone_path)
            clone_model = dict(model)
        if op == "merge":
            src_rows = [(k, d) for k in keys if k % m == 0] + [(m + 50, d)]
            sn.merge_into(
                spark, path, spark.createDataFrame(src_rows, ["k", "v"]),
                on=["k"],
            )
            model.update(src_rows)
            expect_ops.append("MERGE")
        elif op == "update":
            sn.update_where(
                spark, path, f"k % {m} = 1", {"v": f"v + {d}"},
                mode="cow" if d % 2 else "mor",
            )
            if any(k % m == 1 for k in model):
                # zero-match DML commits NO version (documented)
                expect_ops.append("UPDATE")
            for k in model:
                if k % m == 1:
                    model[k] += d
        else:
            sn.delete_where(
                spark, path, f"k % {m} = 0", mode="mor" if m % 2 else "cow",
            )
            if any(k % m == 0 for k in model):
                expect_ops.append("DELETE")
            model = {k: v for k, v in model.items() if k % m != 0}
        hist = sn.snapshot_history(path)
        assert [h["operation"] for h in reversed(hist)] == expect_ops
        assert hist[0]["live_rows"] == len(model)
        got = {
            r["k"]: r["v"] for r in sn.snapshot_read(spark, path).collect()
        }
        assert got == model
    # dry-run vacuum is invisible to every reader
    sn.vacuum(path, keep_versions=1, retention_seconds=0, dry_run=True)
    got = {r["k"]: r["v"] for r in sn.snapshot_read(spark, path).collect()}
    assert got == model
    # the clone still serves its capture point exactly
    assert clone_path is not None
    got_c = {
        r["k"]: r["v"] for r in sn.snapshot_read(spark, clone_path).collect()
    }
    assert got_c == clone_model


@given(
    positions=st.sets(
        st.integers(min_value=0, max_value=300), min_size=1, max_size=80
    ),
    positions2=st.sets(
        st.integers(min_value=0, max_value=300), min_size=0, max_size=40
    ),
)
@settings(**SETTINGS)
def test_dv_run_encode_expand_roundtrip(spark, tmp_path_factory, positions, positions2):
    """Round-11 DV interval runs: _mint_dv's gaps-and-islands encoding
    followed by _read_dv's expansion is the identity on any position
    set — singletons, adjacent runs, full ranges, multi-file."""
    import uuid as _uuid

    from aws_medallion_etl_spark import snapshot as sn

    root = str(tmp_path_factory.mktemp("dvprop") / _uuid.uuid4().hex[:8])
    import os as _os

    _os.makedirs(root, exist_ok=True)
    rows = [("data/f1.parquet", int(p)) for p in positions]
    rows += [("data/f2.parquet", int(p)) for p in positions2]
    hits = spark.createDataFrame(rows, "file string, row_index long")
    dv_rel, totals, new_counts = sn._mint_dv(
        spark, root, entries=[], hits=hits, new_v=0, carry=False
    )
    assert totals.get("data/f1.parquet", 0) == len(positions)
    assert totals.get("data/f2.parquet", 0) == len(positions2)
    got = {
        (r["__dvf"], r["__dvp"])
        for r in sn._read_dv(spark, root, [dv_rel]).collect()
    }
    want = {("data/f1.parquet", p) for p in positions} | {
        ("data/f2.parquet", p) for p in positions2
    }
    assert got == want
    # encoded rows = number of maximal runs, never more than positions
    import pyarrow.parquet as pq

    n_runs = pq.read_table(_os.path.join(root, dv_rel)).num_rows

    def runs(ps):
        ps = sorted(ps)
        return sum(
            1 for i, p in enumerate(ps) if i == 0 or p != ps[i - 1] + 1
        )

    assert n_runs == runs(positions) + runs(positions2)


# ---------------------------------------------------------------------------
# Row tracking: id stability under random op sequences
# ---------------------------------------------------------------------------

_RT_OPS = st.lists(
    st.one_of(
        st.tuples(st.just("merge"), st.integers(2, 5), st.integers(-9, 9)),
        st.tuples(st.just("update"), st.integers(2, 4), st.integers(1, 9)),
        st.tuples(st.just("delete"), st.integers(2, 6), st.integers(0, 1)),
        st.tuples(st.just("replace"), st.integers(2, 6), st.integers(0, 1)),
        st.tuples(st.just("compact"), st.just(0), st.just(0)),
    ),
    min_size=1,
    max_size=5,
)


@given(ops=_RT_OPS)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_row_tracking_id_invariants_under_op_sequences(
    spark, tmp_path_factory, ops
):
    """Random interleavings of MERGE / UPDATE (cow+mor) / DELETE
    (cow+mor) / REPLACE WHERE (cow+mor) / OPTIMIZE against a dict
    model tracking each logical row's id: (a) a key that survives an
    op keeps the id it had; (b) ids are unique at every step; (c) a
    re-inserted key — including a replacement row re-landing a
    replaced key — gets a FRESH id, never a recycled one (the
    durability contract downstream incremental consumers rely on)."""
    import shutil

    from aws_medallion_etl_spark import snapshot as sn

    path = str(tmp_path_factory.mktemp("rtprop") / "tbl")
    shutil.rmtree(path, ignore_errors=True)
    keys = list(range(10))
    df = spark.createDataFrame([(k, k * 10) for k in keys], ["k", "v"])
    sn.snapshot_create(
        spark, df.repartition(2), path, stats_cols=["k"],
        row_tracking=True,
    )

    def ids_now():
        return {
            r["k"]: r["_row_id"]
            for r in sn.snapshot_read(spark, path, row_ids=True).collect()
        }

    model = ids_now()                       # key -> id
    ever_issued = set(model.values())
    next_key = 100
    for op, m, d in ops:
        if op == "merge":                   # upsert + one fresh insert
            src = [(k, d) for k in list(model) if k % m == 0]
            src.append((next_key, d))
            sn.merge_into(
                spark, path, spark.createDataFrame(src, ["k", "v"]),
                on=["k"],
            )
            inserted = [k for k, _ in src if k not in model]
            got = ids_now()
            for k in inserted:
                # fresh id, never recycled from a dead row
                assert got[k] not in ever_issued
                model[k] = got[k]
                ever_issued.add(got[k])
            next_key += 1
        elif op == "update":
            sn.update_where(
                spark, path, f"k % {m} = 1", {"v": f"v + {d}"},
                mode="cow" if d % 2 else "mor",
            )
        elif op == "delete":
            doomed = [k for k in model if k % m == 2]
            sn.delete_where(
                spark, path, f"k % {m} = 2", mode="mor" if d else "cow",
            )
            for k in doomed:
                del model[k]
        elif op == "replace":               # re-land keys % m == 0
            landed = [k for k in model if k % m == 0] + [next_key * m]
            sn.replace_where(
                spark, path, f"k % {m} = 0",
                spark.createDataFrame([(k, d) for k in landed], ["k", "v"]),
                mode="mor" if d else "cow",
            )
            got = ids_now()
            for k in landed:
                assert got[k] not in ever_issued
                model[k] = got[k]
                ever_issued.add(got[k])
            next_key += 1
        else:
            sn.compact(spark, path, small_file_rows=10**6)
        got = ids_now()
        assert got == model, (op, m, d)     # survivors keep their ids
        assert len(set(got.values())) == len(got)
