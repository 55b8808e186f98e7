"""Continuous-ingestion loop (aws_medallion_etl_spark.ingest): the
packaged per-batch step must reproduce, through the PERSISTED state
path (band index + appends + stored labels), exactly what the naive
text-mode references compute from scratch.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from aws_medallion_etl_spark import ingest
from aws_medallion_etl_spark.operators import fuzzy


def _paths(tmp_path):
    b = str(tmp_path)
    return f"{b}/corpus", f"{b}/mhidx", f"{b}/clusters"


def test_ingest_filter_matches_naive_sequential(spark, sf_dir, tmp_path):
    """Two filter-policy batches through the index path keep exactly
    the docs the sequential text-mode loop keeps (first-seen wins),
    and the reports account for every row."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus0 = docs.filter(F.col("doc_id") % 2 == 0)
    b1 = docs.filter(F.col("doc_id") % 4 == 1)
    b2 = docs.filter(F.col("doc_id") % 4 == 3)
    corpus_p, idx_p, _ = _paths(tmp_path)

    ingest.init_corpus(spark, corpus0, "doc_id", "text", corpus_p, idx_p)
    r1 = ingest.ingest_batch(
        spark, b1, "doc_id", "text", corpus_p, idx_p,
        policy="filter", max_shingle_df=None,
    )
    r2 = ingest.ingest_batch(
        spark, b2, "doc_id", "text", corpus_p, idx_p,
        policy="filter", max_shingle_df=None,
    )
    got = {r.doc_id for r in spark.read.parquet(corpus_p).select("doc_id").collect()}

    # naive reference: text-mode dedup, batch by batch
    seen = corpus0
    for b in (b1, b2):
        kept = fuzzy.dedup_against_corpus(
            b, seen, "doc_id", "text", threshold=0.8, max_shingle_df=None
        )
        seen = seen.unionByName(kept)
    want = {r.doc_id for r in seen.select("doc_id").collect()}

    assert got == want
    assert r1["n_kept"] + r1["n_dropped"] == r1["n_batch"]
    assert r2["n_kept"] + r2["n_dropped"] == r2["n_batch"]
    assert r1["n_dropped"] + r2["n_dropped"] > 0, "fixture should drop near-dups"
    assert int(r1["fingerprint"]) != int(r2["fingerprint"])


def test_ingest_cluster_matches_from_scratch(spark, sf_dir, tmp_path):
    """Two cluster-policy batches leave the stored labels equal to the
    from-scratch clustering of ALL docs at the same parameters —
    the index path + supernode merge lose nothing."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus0 = docs.filter(F.col("doc_id") % 2 == 0)
    b1 = docs.filter(F.col("doc_id") % 4 == 1)
    b2 = docs.filter(F.col("doc_id") % 4 == 3)
    corpus_p, idx_p, clu_p = _paths(tmp_path)

    ingest.init_corpus(
        spark, corpus0, "doc_id", "text", corpus_p, idx_p, clusters_path=clu_p
    )
    for b in (b1, b2):
        r = ingest.ingest_batch(
            spark, b, "doc_id", "text", corpus_p, idx_p, clusters_path=clu_p,
            policy="cluster", max_shingle_df=None,
        )
        assert r["n_kept"] == r["n_batch"]  # cluster policy drops nothing

    got = {(r.id, r.cluster_id)
           for r in spark.read.parquet(clu_p).collect()}
    scratch = fuzzy.cluster_pairs(
        fuzzy.minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.8)
    )
    want = {(r.id, r.cluster_id) for r in scratch.collect()}
    assert got == want
    # every doc landed in the corpus table
    assert spark.read.parquet(corpus_p).count() == docs.count()

    # export: one canonical doc per group, singletons kept
    out_p = str(tmp_path / "export")
    rep = ingest.export_canonical(spark, corpus_p, clu_p, out_p)
    dup_members = {i for i, c in want if i != c}
    assert rep["n_canonical"] == docs.count() - len(dup_members)
    exported = {r.doc_id for r in spark.read.parquet(out_p).select("doc_id").collect()}
    assert exported.isdisjoint(dup_members)
    assert rep["n_corpus"] == docs.count()


def test_ingest_edge_cases(spark, sf_dir, tmp_path):
    """An EMPTY batch is a clean no-op for both policies (state
    unchanged, zero counts); unknown policies are rejected."""
    import pytest as _pytest

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    corpus_p, idx_p, clu_p = _paths(tmp_path)
    ingest.init_corpus(
        spark, docs, "doc_id", "text", corpus_p, idx_p, clusters_path=clu_p
    )
    empty = docs.where(F.lit(False))
    n0 = spark.read.parquet(corpus_p).count()
    labels0 = sorted(tuple(r) for r in spark.read.parquet(clu_p).collect())

    r = ingest.ingest_batch(
        spark, empty, "doc_id", "text", corpus_p, idx_p, policy="filter"
    )
    assert (r["n_batch"], r["n_kept"], r["n_dropped"]) == (0, 0, 0)
    r = ingest.ingest_batch(
        spark, empty, "doc_id", "text", corpus_p, idx_p, clusters_path=clu_p,
        policy="cluster",
    )
    assert (r["n_batch"], r["n_edges"]) == (0, 0)
    assert spark.read.parquet(corpus_p).count() == n0
    assert sorted(tuple(r) for r in spark.read.parquet(clu_p).collect()) == labels0

    with _pytest.raises(ValueError, match="unknown policy"):
        ingest.ingest_batch(
            spark, empty, "doc_id", "text", corpus_p, idx_p, policy="nope"
        )
    # cluster policy without a labels location fails fast and clearly
    with _pytest.raises(ValueError, match="requires clusters_path"):
        ingest.ingest_batch(
            spark, empty, "doc_id", "text", corpus_p, idx_p, policy="cluster"
        )
    # a batch at a different edge threshold than the stored labeling
    # is refused — mixing definitions silently corrupts the labels
    with _pytest.raises(ValueError, match="threshold"):
        ingest.ingest_batch(
            spark, empty, "doc_id", "text", corpus_p, idx_p,
            clusters_path=clu_p, policy="cluster", threshold=0.7,
        )
    # a labels dir whose threshold sidecar was LOST (copied state,
    # partial restore) is refused too — without it any batch threshold
    # would silently mix edge definitions
    import os as _os

    _os.remove(ingest._clusters_meta_path(clu_p))
    with _pytest.raises(ValueError, match="adopt_threshold"):
        ingest.ingest_batch(
            spark, empty, "doc_id", "text", corpus_p, idx_p,
            clusters_path=clu_p, policy="cluster",
        )
    # explicit adoption makes the state ingestable again without
    # re-initializing (and losing) the incremental labeling...
    ingest.adopt_threshold(clu_p, 0.8)
    r = ingest.ingest_batch(
        spark, empty, "doc_id", "text", corpus_p, idx_p,
        clusters_path=clu_p, policy="cluster",
    )
    assert r["n_batch"] == 0
    # ...but adoption never OVERWRITES a recorded threshold (that
    # would be the definition-mixing the guard exists to prevent)
    with _pytest.raises(ValueError, match="already records"):
        ingest.adopt_threshold(clu_p, 0.7)
    with _pytest.raises(ValueError, match="no labeling"):
        ingest.adopt_threshold(str(tmp_path / "nope"), 0.8)


# Per ingest_batch call of test_ingest_contract: the report without its
# fingerprint, and the Spark jobs the call runs (68 / 82 / 46 before the
# batch was shingled and signed once per call and the counts and the
# fingerprint rode the writes; the reports are unchanged).
_INGEST_CONTRACT = [
    ({"policy": "cluster", "n_batch": 125, "n_kept": 125, "n_edges": 7}, 41),
    ({"policy": "cluster", "n_batch": 125, "n_kept": 125, "n_edges": 9}, 53),
    ({"policy": "filter", "n_batch": 250, "n_kept": 239, "n_dropped": 11}, 34),
]


def test_ingest_contract(spark, sf_dir, tmp_path):
    """Two cluster-policy batches and one filter-policy batch keep their
    exact report dicts and Spark jobs per call; each fingerprint equals
    ``dq.dataset_fingerprint`` of the rows the call appended, and the
    labels equal connected components over exact Jaccard pairs."""
    from aws_medallion_etl_spark.operators import dq

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    corpus0 = docs.filter(F.col("doc_id") % 2 == 0)
    corpus_p, idx_p, clu_p = _paths(tmp_path)
    f_corpus_p, f_idx_p = str(tmp_path / "f_corpus"), str(tmp_path / "f_idx")
    ingest.init_corpus(
        spark, corpus0, "doc_id", "text", corpus_p, idx_p, clusters_path=clu_p
    )
    ingest.init_corpus(spark, corpus0, "doc_id", "text", f_corpus_p, f_idx_p)
    calls = [  # (batch, state paths, policy, max_shingle_df)
        (F.col("doc_id") % 4 == 1, (corpus_p, idx_p, clu_p), "cluster", None),
        (F.col("doc_id") % 4 == 3, (corpus_p, idx_p, clu_p), "cluster", 10_000),
        (F.col("doc_id") % 2 == 1, (f_corpus_p, f_idx_p, None), "filter", 10_000),
    ]
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    for (cond, paths, policy, cap), (want, want_jobs) in zip(
        calls, _INGEST_CONTRACT, strict=True
    ):
        jobs0 = dag.numTotalJobs()
        rep = ingest.ingest_batch(
            spark, docs.where(cond), "doc_id", "text", *paths,
            policy=policy, max_shingle_df=cap,
        )
        jobs = dag.numTotalJobs() - jobs0
        fp = rep.pop("fingerprint")
        assert (rep, jobs) == (want, want_jobs), policy
        appended = spark.read.parquet(paths[0]).where(cond)
        assert fp == str(dq.dataset_fingerprint(appended).first()["fingerprint"])

    got = {tuple(r) for r in spark.read.parquet(clu_p).collect()}
    want = {tuple(r) for r in fuzzy.cluster_pairs(fuzzy.ngram_jaccard_pairs(
        docs, "doc_id", "text", threshold=0.8, max_shingle_df=None
    )).collect()}
    assert got == want
