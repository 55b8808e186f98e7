"""Continuous corpus ingestion: one call per arriving batch, against
persisted state only.

This module packages the incremental primitives (persisted MinHash
band index, ``fuzzy.dedup_against_corpus_lsh``, ``fuzzy.merge_clusters``,
``dq.dataset_fingerprint``) into the loop a production training-data
pipeline actually runs. Per batch, corpus-proportional work is:

* ONE equi-join of the batch's bands against the stored band index
  (candidate screen), plus exact verification on the colliding
  candidate subset — no corpus text is read outside the verify;
* with the ``cluster`` policy, ONE join of the verified edges against
  the stored ``(id, cluster_id)`` frame (supernode contraction).

Everything else — shingling, signatures, within-batch pairing — is
O(batch), and the batch is shingled and signed ONCE per call: one
``fuzzy.BatchSketch`` (its ``(id, shingle)`` frame and MinHash
signatures, checkpointed) feeds the band screen, the stop-shingle
counts, both sides of the within-batch verify and the index append.
The report's counts and fingerprint ride the writes and checkpoints
the batch needs anyway, as ``Observation``s, and the stored tables are
read with the schema in their parquet footers, so no Spark job runs
just to count or to infer a schema. State lives in three parquet
locations the caller owns:

``corpus_path``    the document table (appended per batch)
``index_path``     the MinHash band index (bands + shingle-DF log)
``clusters_path``  the (id, cluster_id) labeling (cluster policy only)

Two policies, matching the two streaming proofs (str8/str9):

* ``policy="filter"`` — drop batch docs with a near-dup already in
  the corpus (within-batch dups are kept: the contract of
  ``fuzzy.dedup_against_corpus``, matching its oracle). First-seen
  wins across batches; the kept set equals what the sequential
  text-mode loop would keep (pinned by
  ``test_ingest_filter_matches_naive_sequential``).
* ``policy="cluster"`` — keep everything, maintain duplicate-group
  labels instead; export-time dedup picks canonical docs
  (``fuzzy.canonical_docs`` / :func:`export_canonical`). Cross and
  within-batch edges share ONE stop-shingle set per batch (stored
  corpus stats + batch increment), so a single similarity definition
  labels the whole frame; the edge threshold is persisted beside the
  labels and later batches must match it. At ``max_shingle_df=None``
  labels after any batch split equal the from-scratch clustering of
  all documents GIVEN the band screen's recall: cross-corpus edges
  pass through the MinHash band screen (probabilistic candidate
  recall — 1-(1-s^4)^16 >= 0.9998 at s >= 0.8, recall 1.0 on the
  test corpora, where ``test_ingest_cluster_matches_from_scratch``
  pins exact equality) while within-batch edges are generated
  exactly, so the two edge kinds share a similarity DEFINITION but
  not a candidate generator — a qualifying cross pair the bands miss
  would be absent from the incremental labeling. Under a DF cap the
  stop statistics additionally grow with the corpus, so early-batch
  edges reflect slightly smaller corpora — inherent to any streaming
  cap.

Maintenance: after many batches, ``fuzzy.compact_minhash_index`` and
``io.compact`` fold the appended generations back to bounded file
counts; ``io.expire_partitions`` handles retention where the corpus
is run_date-partitioned.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, Observation, functions as F

from aws_medallion_etl_spark import io as eio
from aws_medallion_etl_spark._ckpt import reclaim_scope
from aws_medallion_etl_spark.operators import dq, fuzzy


def _clusters_meta_path(clusters_path: str) -> str:
    return clusters_path.rstrip("/") + ".meta.json"


def init_corpus(
    spark,
    docs: DataFrame,
    id_col: str,
    text_col: str,
    corpus_path: str,
    index_path: str,
    clusters_path: str | None = None,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
) -> None:
    """One-time bootstrap: write the corpus table, build the band
    index, and (for the cluster policy) the initial labeling from the
    corpus's own near-dup pairs."""
    docs.write.mode("overwrite").parquet(corpus_path)
    fuzzy.build_minhash_index(
        docs, id_col, text_col, index_path,
        n=n, num_hashes=num_hashes, bands=bands,
    )
    if clusters_path is not None:
        pairs = fuzzy.minhash_lsh_pairs(
            docs, id_col, text_col,
            n=n, num_hashes=num_hashes, bands=bands, threshold=threshold,
        )
        fuzzy.cluster_pairs(pairs).write.mode("overwrite").parquet(clusters_path)
        # the labeling's similarity definition is state, exactly like
        # the index's hash params: later batches folding edges at a
        # DIFFERENT threshold would silently mix two cluster
        # definitions in one frame (see ingest_batch's validation).
        # SIBLING file, not inside the dir — per-batch label rewrites
        # use mode("overwrite"), which clears the directory.
        with open(_clusters_meta_path(clusters_path), "w") as fh:
            json.dump({"threshold": threshold}, fh)


def adopt_threshold(clusters_path: str, threshold: float) -> None:
    """One-shot adoption: write the threshold sidecar for an EXISTING
    labeling that lacks one (state copied without its sidecar, partial
    restore, labels built by an older ``init_corpus``).

    ``ingest_batch`` refuses a labels dir with no sidecar because its
    edge definition is unknown; this is the explicit opt-in the error
    message points to — the CALLER asserts "these labels were built at
    ``threshold``" and the sidecar records that claim, making the
    state ingestable again without re-initializing (and losing) the
    incremental labeling. Refuses to overwrite an existing sidecar:
    changing a recorded threshold is exactly the definition-mixing the
    guard exists to prevent.
    """
    if not os.path.exists(clusters_path):
        raise ValueError(
            f"adopt_threshold: no labeling at {clusters_path} to adopt"
        )
    meta_p = _clusters_meta_path(clusters_path)
    if os.path.exists(meta_p):
        with open(meta_p) as fh:
            stored_t = json.load(fh)["threshold"]
        raise ValueError(
            f"adopt_threshold: {meta_p} already records threshold="
            f"{stored_t}; adopting a different one would mix edge "
            "definitions — re-init the corpus to change thresholds"
        )
    with open(meta_p, "w") as fh:
        json.dump({"threshold": threshold}, fh)


def ingest_batch(
    spark,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    corpus_path: str,
    index_path: str,
    clusters_path: str | None = None,
    policy: str = "filter",
    threshold: float = 0.8,
    max_shingle_df: int | None = 10_000,
) -> dict:
    """Process one arriving batch against the persisted corpus state.

    Returns a report dict: ``n_batch``, ``n_kept``, ``n_dropped``
    (filter) / ``n_edges`` (cluster), and the additive content
    ``fingerprint`` of the appended rows (``str``), so consecutive
    reports double as the drift ledger the pipeline layer keeps.
    """
    if policy not in ("filter", "cluster"):
        raise ValueError(f"ingest_batch: unknown policy {policy!r}")
    # all actions (screen, writes, fingerprint) complete inside and a
    # plain dict is returned, so every localCheckpoint this batch takes
    # is dead on return — free the blocks deterministically instead of
    # letting each ingested batch tax the next one's heap (guide §5)
    with reclaim_scope(spark.sparkContext):
        return _ingest_batch_impl(
            spark, batch, id_col, text_col, corpus_path, index_path,
            clusters_path, policy, threshold, max_shingle_df,
        )


def _ingest_batch_impl(
    spark,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    corpus_path: str,
    index_path: str,
    clusters_path: str | None,
    policy: str,
    threshold: float,
    max_shingle_df: int | None,
) -> dict:
    corpus = eio.read_parquet_pinned(spark, corpus_path)
    # the batch is shingled and signed once; every consumer below
    # reads this sketch (reclaimed with the scope on return)
    sketch = fuzzy.batch_sketch(batch, id_col, text_col, index_path)
    appended = Observation()

    if policy == "filter":
        # n_batch rides the checkpoint below: the kept rows are the
        # batch minus its matches, so the plan reads every batch row
        seen = Observation()
        kept = fuzzy.dedup_against_corpus_lsh(
            spark, batch.observe(seen, F.count(F.lit(1)).alias("n")), corpus,
            id_col, text_col, index_path,
            threshold=threshold, max_shingle_df=max_shingle_df, sketch=sketch,
        ).localCheckpoint(eager=True)  # sever lineage BEFORE appending
        # to corpus_path — the screen's plan reads that same location
        kept.observe(
            appended, *dq.fingerprint_aggs([id_col, text_col])
        ).write.mode("append").parquet(corpus_path)
        fuzzy.append_to_minhash_index(
            spark, kept, id_col, text_col, index_path,
            sketch=sketch.restricted_to(kept.select(F.col(id_col).alias("__id"))),
        )
        n_batch, fp = seen.get["n"], appended.get
        return {
            "policy": policy, "n_batch": n_batch, "n_kept": fp["n_rows"],
            "n_dropped": n_batch - fp["n_rows"],
            "fingerprint": str(fp["fingerprint"]),
        }

    # cluster policy: keep everything, fold edges into stored labels
    if clusters_path is None:
        raise ValueError(
            "ingest_batch: policy='cluster' requires clusters_path"
        )
    meta_p = _clusters_meta_path(clusters_path)
    if os.path.exists(meta_p):
        with open(meta_p) as fh:
            stored_t = json.load(fh)["threshold"]
        if stored_t != threshold:
            raise ValueError(
                f"ingest_batch: labeling at {clusters_path} was built at "
                f"threshold={stored_t}, batch asked for {threshold} — mixing "
                "edge definitions in one labeling silently corrupts it; "
                "re-init the clusters to change thresholds"
            )
    else:
        # a labels dir WITHOUT its sidecar (copied state, partial
        # restore, labels built outside init_corpus) is exactly the
        # contract-loss the guard exists to catch — refuse rather than
        # silently accept whatever threshold this batch happens to use
        raise ValueError(
            f"ingest_batch: {clusters_path} has no threshold sidecar "
            f"({meta_p}) — its edge definition is unknown, so any batch "
            "threshold would silently mix definitions; if you KNOW the "
            "threshold these labels were built at, adopt it explicitly "
            f"with ingest.adopt_threshold({clusters_path!r}, <t>); "
            "otherwise re-init the corpus"
        )
    # ONE stop-shingle set (stored corpus DF stats + batch increment)
    # applies to BOTH edge kinds, so cross and within-batch pairs use
    # the SAME similarity definition — otherwise final clusters would
    # depend on which batch two near-dups happened to arrive in
    stop = fuzzy.index_stop_shingles(
        spark, index_path, batch, corpus, id_col, text_col, max_shingle_df,
        sketch=sketch,
    )
    cross = fuzzy.dedup_against_corpus_lsh(
        spark, batch, corpus, id_col, text_col, index_path,
        threshold=threshold, max_shingle_df=max_shingle_df,
        return_pairs=True, stop_shingles=stop, sketch=sketch,
    )
    internal = fuzzy.dedup_against_corpus(
        batch, batch, id_col, text_col, n=sketch.n, threshold=threshold,
        max_shingle_df=None, stop_shingles=stop, return_pairs=True,
        sketch=sketch,
    ).where(F.col("id_a") < F.col("id_b"))
    # materialize the union ONCE — it feeds (inside merge_clusters) two
    # consumers, and its lineage is the screen; its size is observed
    # on the way
    counted = Observation()
    edges = (
        cross.select("id_a", "id_b")
        .unionByName(internal.select("id_a", "id_b"))
        .distinct()
        .observe(counted, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    labels = eio.read_parquet_pinned(spark, clusters_path)
    merged = fuzzy.merge_clusters(labels, edges).localCheckpoint(eager=True)
    merged.write.mode("overwrite").parquet(clusters_path)
    batch.observe(
        appended, *dq.fingerprint_aggs([id_col, text_col])
    ).write.mode("append").parquet(corpus_path)
    fuzzy.append_to_minhash_index(
        spark, batch, id_col, text_col, index_path, sketch=sketch
    )
    fp = appended.get
    return {
        "policy": policy, "n_batch": fp["n_rows"], "n_kept": fp["n_rows"],
        "n_edges": counted.get["n"], "fingerprint": str(fp["fingerprint"]),
    }


def export_canonical(
    spark,
    corpus_path: str,
    clusters_path: str,
    out_path: str,
    id_col: str = "doc_id",
    target_files: int | None = None,
) -> dict:
    """Export the training-ready corpus from cluster-policy state:
    one canonical document per duplicate group (the min-id member),
    singletons kept as themselves — ``fuzzy.canonical_docs`` over the
    stored labels, written as parquet.

    This is where the cluster policy pays off over filter-at-ingest:
    the full corpus (with labels) stays queryable for audits and
    threshold re-tuning, while exports are deduplicated views. Returns
    ``n_corpus`` / ``n_canonical`` / ``fingerprint`` (of the exported
    ids) so consecutive exports diff as 1-row report compares.
    """
    corpus = spark.read.parquet(corpus_path)
    labels = spark.read.parquet(clusters_path)
    tagged = fuzzy.canonical_docs(corpus, id_col, labels)
    canonical = tagged.where(F.col("is_canonical")).drop(
        "cluster_id", "is_canonical"
    )
    eio.write_parquet(canonical, out_path, target_files=target_files)
    exported = spark.read.parquet(out_path)
    fp = dq.dataset_fingerprint(exported.select(id_col)).collect()[0]
    return {
        "n_corpus": corpus.count(),
        "n_canonical": fp["n_rows"],
        "fingerprint": str(fp["fingerprint"]),
    }
