"""Seeded input generators for the three workloads.

Every value is an ``xxhash64`` draw over ``spark.range`` ids with the
seed folded into each hash salt, so one seed always yields the same
rows and no file outside the run's work directory is read. Generated
inputs are written as parquet; the engine receives only those files.
"""

from __future__ import annotations

import glob
import os
import shutil

import duckdb
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]

# zipf-weighted 31-token vocabulary of the organic corpus tier
# (tools/organic_bench.py): token, slot count
VOCAB = [
    ("spark", 36), ("window", 14), ("merge", 13), ("table", 13),
    ("column", 12), ("vector", 12), ("stream", 11), ("value", 11),
    ("data", 10), ("small", 10), ("join", 9), ("filter", 9), ("big", 8),
    ("group", 8), ("hash", 7), ("customer", 7), ("sort", 6), ("order", 6),
    ("slow", 5), ("line", 5), ("part", 4), ("fast", 4), ("the", 4),
    ("row", 3), ("agg", 3), ("key", 3), ("query", 2), ("a", 2),
    ("scan", 2), ("batch", 1), ("dup", 1),
]

# planted rates the generator promises; checked by the workloads
REJECT_RATE = 0.01
DUP_RATE = 0.02
CHANGE_RATE = 0.05
NEAR_DUP_RATE = 0.05
BATCH_DUP_RATE = 0.01
ORDER_KEY_STRIDE = 10_000_000
# merge-source update keys are ``k * MERGE_KEY_PRIME mod n_base``, a
# bijection on the base key space when n_base is not a multiple of it
MERGE_KEY_PRIME = 1_000_003


class Gen:
    """Hash draws keyed by ``seed``: ``h`` is a signed 64-bit hash,
    ``u`` a uniform in [0, 1), ``pick`` a uniform choice of literals."""

    def __init__(self, spark: SparkSession, seed: int):
        self.spark = spark
        self.seed = seed

    def h(self, salt: str, *cols) -> Column:
        return F.xxhash64(F.lit(f"{self.seed}:{salt}"), *cols)

    def u(self, salt: str, *cols) -> Column:
        return F.pmod(self.h(salt, *cols), F.lit(1_000_000)) / 1_000_000.0

    def mod(self, salt: str, n: int, *cols) -> Column:
        return F.pmod(self.h(salt, *cols), F.lit(n))

    def pick(self, salt: str, options: list, *cols) -> Column:
        arr = F.array(*[F.lit(o) for o in options])
        return F.element_at(arr, (self.mod(salt, len(options), *cols) + 1).cast("int"))

    # ---- medallion_batch -------------------------------------------

    def customers(self, day: int, n_cust: int) -> DataFrame:
        """Every customer once per day. ~CHANGE_RATE of customers change
        address and segment per day; ~REJECT_RATE carry a NULL segment;
        ~DUP_RATE re-appear as a copy with a lower ``c_acctbal`` (the
        silver dedup order), so dedup keeps the original."""
        key = F.col("c_custkey")
        version = F.lit(0)
        for j in range(1, day + 1):
            version = version + F.when(self.u("chg", key, F.lit(j)) < CHANGE_RATE, 1).otherwise(0)
        base = self.spark.range(1, n_cust + 1).select(
            F.col("id").alias("c_custkey"), version.alias("__v")
        )
        rows = base.select(
            "c_custkey",
            F.concat(F.lit("Customer#"), key.cast("string")).alias("c_name"),
            F.concat(F.lit("addr-"), key.cast("string"), F.lit("-"),
                     F.col("__v").cast("string")).alias("c_address"),
            F.when(self.u("crej", key, F.lit(day)) < REJECT_RATE, F.lit(None).cast("string"))
            .otherwise(self.pick("seg", SEGMENTS, key, F.col("__v"))).alias("c_mktsegment"),
            (self.mod("bal", 1_000_000, key, F.lit(day)) / 100.0).alias("c_acctbal"),
        )
        dups = rows.where(self.u("cdup", key, F.lit(day)) < DUP_RATE).withColumn(
            "c_acctbal", F.col("c_acctbal") - 1.0
        )
        return rows.unionByName(dups)

    def orders(self, day: int, run_date: str, n_ord: int, n_cust: int) -> DataFrame:
        """Orders keyed uniquely per day; ~REJECT_RATE negative totals,
        ~DUP_RATE copies dated one day earlier."""
        key = F.col("o_orderkey")
        rows = self.spark.range(n_ord).select(
            (F.col("id") + day * ORDER_KEY_STRIDE).alias("o_orderkey")
        ).select(
            "o_orderkey",
            (self.mod("ocust", n_cust, key) + 1).alias("o_custkey"),
            (F.when(self.u("orej", key) < REJECT_RATE, -1).otherwise(1)
             * (self.mod("oprice", 5_000_000, key) + 100) / 100.0).alias("o_totalprice"),
            F.to_date(F.lit(run_date)).alias("o_orderdate"),
        )
        dups = rows.where(self.u("odup", key) < DUP_RATE).withColumn(
            "o_orderdate", F.date_sub("o_orderdate", 1)
        )
        return rows.unionByName(dups)

    def lineitems(self, day: int, run_date: str, n_ord: int) -> DataFrame:
        """1-7 lines per order (mean 4); ~REJECT_RATE zero quantities,
        ~DUP_RATE copies shipped one day earlier."""
        okey = F.col("l_orderkey")
        orders = self.spark.range(n_ord).select(
            (F.col("id") + day * ORDER_KEY_STRIDE).alias("l_orderkey")
        )
        lines = orders.select(
            "l_orderkey",
            F.explode(F.sequence(F.lit(1), (self.mod("nli", 7, okey) + 1).cast("int")))
            .alias("l_linenumber"),
        )
        lk = (okey, F.col("l_linenumber"))
        rows = lines.select(
            "l_orderkey",
            "l_linenumber",
            F.when(self.u("lrej", *lk) < REJECT_RATE, 0)
            .otherwise(self.mod("qty", 50, *lk) + 1).cast("int").alias("l_quantity"),
            ((self.mod("lprice", 10_000_000, *lk) + 100) / 100.0).alias("l_extendedprice"),
            (self.mod("disc", 11, *lk) / 100.0).alias("l_discount"),
            F.to_date(F.lit(run_date)).alias("l_shipdate"),
        )
        dups = rows.where(self.u("ldup", *lk) < DUP_RATE).withColumn(
            "l_shipdate", F.date_sub("l_shipdate", 1)
        )
        return rows.unionByName(dups)

    # ---- table_churn -----------------------------------------------

    def fact(self, n_rows: int, n_groups: int, n_dim: int) -> DataFrame:
        """Row-tracked fact: id-contiguous range partitions so the
        manifest's id stats prune; integer measures."""
        i = F.col("id")
        return self.spark.range(0, n_rows, 1, 4).select(
            i.alias("id"),
            self.mod("grp", n_groups, i).alias("grp"),
            self.mod("dk", n_dim, i).alias("dkey"),
            self.mod("m1", 1000, i).alias("m1"),
            self.mod("m2", 100, i).alias("m2"),
        )

    def dim(self, n_dim: int) -> DataFrame:
        k = F.col("id")
        return self.spark.range(n_dim).select(
            k.alias("dkey"),
            self.mod("reg", 17, k).alias("d_region"),
            F.concat(F.lit("dim-"), k.cast("string")).alias("d_name"),
        )

    def merge_source(self, cycle: int, n_rows: int, n_groups: int, n_dim: int,
                     n_base: int) -> DataFrame:
        """``n_rows`` unique keys: half update ids spread over the base
        key space (no key repeats inside one cycle), half fresh inserts
        above it."""
        half = n_rows // 2
        i = F.col("id")
        upd = ((i + cycle * half) * MERGE_KEY_PRIME) % n_base
        ins = n_base + cycle * half + (i - half)
        keys = self.spark.range(n_rows).select(
            F.when(i < half, upd).otherwise(ins).alias("id")
        )
        c = F.lit(cycle)
        return keys.select(
            "id",
            self.mod("mgrp", n_groups, F.col("id"), c).alias("grp"),
            self.mod("mdk", n_dim, F.col("id"), c).alias("dkey"),
            self.mod("mm1", 1000, F.col("id"), c).alias("m1"),
            self.mod("mm2", 100, F.col("id"), c).alias("m2"),
        )

    # ---- corpus_stream ---------------------------------------------

    def _tok(self, idc: Column, p: Column) -> Column:
        slots = [t for t, w in VOCAB for _ in range(w)]
        arr = F.array(*[F.lit(t) for t in slots])
        return F.element_at(arr, (self.mod("tok", len(slots), idc, p) + 1).cast("int"))

    def _docs(self, ids: DataFrame, src: Column, mutate: Column) -> DataFrame:
        """Docs of 10-100 zipf tokens, with the planted source id kept as
        ``src_id`` for the rate checks. A doc with ``src != doc_id``
        copies ``src``'s tokens, re-drawing ~8% of positions where
        ``mutate`` holds."""
        d = ids.select("doc_id", src.alias("__src"), mutate.alias("__mut"))
        length = (F.lit(10) + self.mod("len", 91, F.col("__src"))).cast("int")
        token_at = lambda p: F.when(  # noqa: E731 — local plan builder
            F.col("__mut") & (self.mod("mut", 100, F.col("doc_id"), p) < 8),
            self._tok(F.col("doc_id"), p),
        ).otherwise(self._tok(F.col("__src"), p))
        return d.select(
            "doc_id",
            F.array_join(F.transform(F.sequence(F.lit(0), length - 1), token_at), " ")
            .alias("text"),
            F.col("__src").alias("src_id"),
        )

    def seed_corpus(self, n_docs: int) -> DataFrame:
        """~NEAR_DUP_RATE of docs are mutated copies of an earlier
        non-dup doc (the organic recipe's planted pairs)."""
        i = F.col("id")
        is_near = self.u("near", i) < NEAR_DUP_RATE
        base = i - 1 - self.mod("bsrc", 50, i)
        src = F.when(is_near & (base >= 0) & (self.u("near", base) >= NEAR_DUP_RATE), base)
        ids = self.spark.range(n_docs).select(
            i.alias("doc_id"), F.coalesce(src, i).alias("__s")
        )
        return self._docs(ids, F.col("__s"), F.col("__s") != F.col("doc_id"))

    def arrival(self, op: int, n_docs: int, n_corpus: int) -> DataFrame:
        """One arrival batch with ids above every earlier doc: ~NEAR_DUP_RATE
        near-dups of seed-corpus docs, ~BATCH_DUP_RATE near-dups of an
        earlier doc of the same batch."""
        first = n_corpus + op * n_docs
        i = F.col("id")
        draw = self.u("arr", i)
        corpus_src = self.mod("csrc", n_corpus, i)
        batch_src = i - 1 - self.mod("bsrc", 20, i)
        src = (
            F.when(draw < NEAR_DUP_RATE, corpus_src)
            .when((draw < NEAR_DUP_RATE + BATCH_DUP_RATE) & (batch_src >= first), batch_src)
            .otherwise(i)
        )
        ids = self.spark.range(first, first + n_docs).select(
            i.alias("doc_id"), src.alias("__s")
        )
        return self._docs(ids, F.col("__s"), F.col("__s") != F.col("doc_id"))


def write_single_file(df: DataFrame, dst: str, tmp: str) -> None:
    """Write ``df`` as ONE parquet file at ``dst`` (a file-source stream
    does not recurse into directories). The file appears by rename, so
    a stream never lists a half-written file."""
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = glob.glob(f"{tmp}/part-*.parquet")[0]
    os.replace(part, dst)
    shutil.rmtree(tmp)


def within(hits: int, n: int, p: float) -> bool:
    """``hits`` of ``n`` is within four binomial standard deviations of rate ``p``."""
    return abs(hits - n * p) <= 4 * (n * p * (1 - p)) ** 0.5 + 1


def content_hash(globs: list[str]) -> str:
    """Order-independent hash of the rows under ``globs``: row count
    plus the sum of per-row hashes."""
    out = []
    for g in globs:
        with duckdb.connect() as con:  # own connection: callers run on several threads
            n, h = con.execute(
                "SELECT count(*), sum(hash(t))::HUGEINT FROM read_parquet(?) t", [g]
            ).fetchone()
        out.append(f"{n}:{h}")
    return "|".join(out)
