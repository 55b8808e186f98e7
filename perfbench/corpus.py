"""corpus_stream: continuous near-dup ingest under the cluster policy.

An arrival-triggered drain (closed loop, one client): the generator
lands one arrival file, ``streaming.run_available_now`` drains it, and
the foreachBatch body calls ``ingest.ingest_batch``; the next file
lands only after the drain returns. The op is timed from file landed
to drain returned.
"""

from __future__ import annotations

import os
import time
from collections import Counter

from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from aws_medallion_etl_spark import ingest, streaming
from aws_medallion_etl_spark.operators import fuzzy

from perfbench import gen
from perfbench.gen import Gen, content_hash, within, write_single_file

SCHEMA = StructType([StructField("doc_id", LongType()), StructField("text", StringType())])


class CorpusStream:
    name = "corpus_stream"

    def __init__(self, spark, seed: int, n_corpus: int, n_batch: int):
        self.spark = spark
        self.gen = Gen(spark, seed)
        self.n_corpus = n_corpus
        self.n_batch = n_batch

    def generate(self, root: str) -> str:
        """Write the seed corpus under ``root``; return its content hash."""
        self.gen.seed_corpus(self.n_corpus).write.parquet(f"{root}/src/seed")
        return content_hash([f"{root}/src/seed/*.parquet"])

    def build(self, root: str) -> None:
        """Initialise the corpus, its MinHash index and its clusters."""
        self.root = root
        self.corpus = f"{root}/corpus"
        self.index = f"{root}/index"
        self.clusters = f"{root}/clusters"
        self.arrivals = f"{root}/arrivals"
        os.makedirs(self.arrivals)
        self.n_ops = 0
        self.batches = 0
        docs = self.spark.read.parquet(f"{root}/src/seed").select("doc_id", "text")
        ingest.init_corpus(self.spark, docs, "doc_id", "text", self.corpus, self.index,
                           self.clusters)

    def _body(self, df, batch_id: int) -> None:
        self.batches += 1
        ingest.ingest_batch(self.spark, df, "doc_id", "text", self.corpus, self.index,
                            self.clusters, policy="cluster", max_shingle_df=None)

    def prepare(self) -> None:
        """Land the next arrival file. It also carries the planted
        ``src_id``, which the stream's schema does not read."""
        k = self.n_ops
        write_single_file(self.gen.arrival(k, self.n_batch, self.n_corpus),
                          f"{self.arrivals}/arrival-{k:05d}.parquet", f"{self.root}/tmp-arrival")

    def op(self) -> dict:
        self.n_ops += 1
        t0 = time.perf_counter()
        batches = self.batches
        stream = streaming.stream_from_directory(self.spark, self.arrivals, SCHEMA)
        streaming.run_available_now(stream, self._body, f"{self.root}/checkpoint")
        wall = time.perf_counter() - t0
        return {"op_s": wall, "rows": self.n_batch, "batches": self.batches - batches}

    # -- checks ------------------------------------------------------

    def check(self) -> list[str]:
        """Final labels equal connected components over exact 3-shingle
        Jaccard >= 0.8 pairs of every document; planted near-dup and
        within-batch dup rates are within tolerance."""
        spark = self.spark
        fails = []
        truth = spark.read.parquet(f"{self.root}/src/seed").unionByName(
            spark.read.parquet(self.arrivals), allowMissingColumns=True)
        planted = truth.agg(
            F.sum((F.col("src_id") != F.col("doc_id")).cast("int")).alias("dups"),
            F.count(F.lit(1)).alias("n"),
            F.sum(((F.col("src_id") != F.col("doc_id"))
                   & (F.col("src_id") >= self.n_corpus)).cast("int")).alias("in_batch"),
        ).collect()[0]
        n_arrived = self.n_ops * self.n_batch
        near = planted["dups"] - planted["in_batch"]
        if not within(near, planted["n"], gen.NEAR_DUP_RATE):
            fails.append(f"near-dup rate {near}/{planted['n']} outside tolerance")
        if not within(planted["in_batch"], n_arrived, gen.BATCH_DUP_RATE):
            fails.append(f"within-batch dup rate {planted['in_batch']}/{n_arrived} "
                         "outside tolerance")
        docs = spark.read.parquet(self.corpus)
        n_docs = docs.count()
        if n_docs != planted["n"]:
            fails.append(f"corpus holds {n_docs} docs, {planted['n']} were generated")
        want = fuzzy.cluster_pairs(fuzzy.ngram_jaccard_pairs(
            docs, "doc_id", "text", threshold=0.8, max_shingle_df=None))
        got = spark.read.parquet(self.clusters)
        labels = [Counter(tuple(r) for r in df.select("id", "cluster_id").collect())
                  for df in (got, want)]
        diff = sum(((labels[0] - labels[1]) + (labels[1] - labels[0])).values())
        if diff:
            fails.append(f"cluster labels: {diff} (id, cluster_id) rows differ from "
                         "from-scratch CC over exact Jaccard pairs")
        return fails

    def layer_metrics(self) -> dict:
        return {"streaming.run_available_now.batches": self.batches / max(self.n_ops, 1)}
