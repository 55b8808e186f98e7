"""table_churn: snapshot-table DML and incremental MVs, writes beside reads.

One CDC client runs cycles back to back (closed loop). A cycle is a
MOR ``merge_into`` (half updates, half inserts), a ``delete_where``
and an ``update_where`` of ~0.2% of rows each, an ``update_where`` of
5% of the dim rows (so the join MV's refresh takes its dim-delta path,
below its churn threshold), both MV refreshes, a pruned
``snapshot_read`` key-range aggregate and a ``compact`` of the fact.
Every cycle is the same, so a run that holds only one or two timed
cycles still times every verb; reads see one cycle's deletion vectors.
"""

from __future__ import annotations

import os
import time

import duckdb
from pyspark.sql import functions as F

from aws_medallion_etl_spark import mv, snapshot

from perfbench.gen import Gen, content_hash

N_GROUPS = 1000
N_DIM = 1000
MERGE_ROWS = 2000
ROLLUP_SUMS = {"s1": "m1", "s2": "m2"}
JOIN_SUMS = {"s1": "m1"}


def delete_pred(c: int) -> str:
    return f"id % 499 = {c % 499}"


def update_pred(c: int) -> str:
    return f"id % 503 = {(7 * c + 1) % 503}"


def dim_pred(c: int) -> str:
    return f"dkey % 20 = {c % 20}"


class TableChurn:
    name = "table_churn"

    def __init__(self, spark, seed: int, n_rows: int):
        self.spark = spark
        self.gen = Gen(spark, seed)
        self.n_rows = n_rows

    def generate(self, root: str) -> str:
        """Write the initial fact and dim under ``root``; return their
        content hash."""
        self.gen.fact(self.n_rows, N_GROUPS, N_DIM).write.parquet(f"{root}/src/fact")
        self.gen.dim(N_DIM).write.parquet(f"{root}/src/dim")
        return content_hash([f"{root}/src/fact/*.parquet", f"{root}/src/dim/*.parquet"])

    def build(self, root: str) -> None:
        """Create both snapshot tables and both MVs."""
        self.root = root
        self.fact = f"{root}/fact"
        self.dim = f"{root}/dim"
        self.mv_rollup = f"{root}/mv_rollup"
        self.mv_join = f"{root}/mv_join"
        self.cycles = 0
        self.reports: list[dict] = []
        spark = self.spark
        snapshot.snapshot_create(spark, spark.read.parquet(f"{root}/src/fact"), self.fact,
                                 stats_cols=["id"], row_tracking=True)
        snapshot.snapshot_create(spark, spark.read.parquet(f"{root}/src/dim"), self.dim,
                                 stats_cols=["dkey"])
        self._refresh()

    def _refresh(self) -> tuple[float, float]:
        t0 = time.perf_counter()
        r1 = mv.refresh_rollup(self.spark, self.fact, self.mv_rollup, ["grp"], ROLLUP_SUMS)
        t1 = time.perf_counter()
        r2 = mv.refresh_join_rollup(self.spark, self.fact, self.dim, self.mv_join,
                                    on=["dkey"], group_cols=["d_region"], sums=JOIN_SUMS)
        t2 = time.perf_counter()
        self.reports += [r1, r2]
        return t1 - t0, t2 - t1

    def _read(self, c: int) -> int:
        lo = (c * 7919) % self.n_rows
        df = snapshot.snapshot_read(self.spark, self.fact,
                                    prune={"id": (lo, lo + self.n_rows // 10)})
        rows = (df.where(F.col("id").between(lo, lo + self.n_rows // 10))
                .groupBy("grp").agg(F.sum("m1")).collect())
        return len(rows)

    def prepare(self) -> None:
        """Write the next cycle's merge source."""
        c = self.cycles
        self.gen.merge_source(c, MERGE_ROWS, N_GROUPS, N_DIM, self.n_rows).write.parquet(
            f"{self.root}/src/merge/c={c}")

    def op(self) -> dict:
        c = self.cycles
        self.cycles += 1
        src = f"{self.root}/src/merge/c={c}"
        spark = self.spark
        t: dict[str, float] = {}
        rows = MERGE_ROWS

        t0 = time.perf_counter()
        snapshot.merge_into(spark, self.fact, spark.read.parquet(src), on=["id"],
                            write_mode="mor")
        t["merge"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        rows += snapshot.delete_where(spark, self.fact, delete_pred(c))["deleted_rows"]
        t["delete"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        rows += snapshot.update_where(spark, self.fact, update_pred(c),
                                      {"m1": "m1 + 1"})["updated_rows"]
        t["update"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        rows += snapshot.update_where(spark, self.dim, dim_pred(c),
                                      {"d_region": "(d_region + 1) % 17"})["updated_rows"]
        t["dim_update"] = time.perf_counter() - t0

        t["refresh_rollup"], t["refresh_join"] = self._refresh()

        t0 = time.perf_counter()
        self._read(c)
        t["read"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        snapshot.compact(spark, self.fact)
        t["compact"] = time.perf_counter() - t0

        return {"op_s": sum(t.values()), "rows": rows, **{f"{k}_s": v for k, v in t.items()}}

    # -- checks ------------------------------------------------------

    def check(self) -> list[str]:
        """The final fact equals a DuckDB replay of the same DML over
        the generated inputs; both MVs equal a from-scratch aggregate
        over the final ``snapshot_read`` (a cycle's last commit is the
        content-neutral compaction)."""
        fails = []
        con = duckdb.connect()
        con.execute(f"CREATE TABLE f AS SELECT * FROM read_parquet('{self.root}/src/fact/*.parquet')")
        con.execute(f"CREATE TABLE d AS SELECT * FROM read_parquet('{self.root}/src/dim/*.parquet')")
        for c in range(self.cycles):
            src = f"read_parquet('{self.root}/src/merge/c={c}/*.parquet', hive_partitioning=false)"
            con.execute(f"""
                UPDATE f SET grp = s.grp, dkey = s.dkey, m1 = s.m1, m2 = s.m2
                FROM {src} s WHERE f.id = s.id;
                INSERT INTO f SELECT * FROM {src} s WHERE s.id NOT IN (SELECT id FROM f);
                DELETE FROM f WHERE {delete_pred(c)};
                UPDATE f SET m1 = m1 + 1 WHERE {update_pred(c)};
                UPDATE d SET d_region = (d_region + 1) % 17 WHERE {dim_pred(c)};
            """)
        spark = self.spark
        con.register("cur_fact", snapshot.snapshot_read(spark, self.fact)
                     .select("id", "grp", "dkey", "m1", "m2").toArrow())
        con.register("cur_dim", snapshot.snapshot_read(spark, self.dim)
                     .select("dkey", "d_region", "d_name").toArrow())
        for got, want, label in (("cur_fact", "f", "fact"), ("cur_dim", "d", "dim")):
            n = con.execute(f"SELECT (SELECT count(*) FROM (FROM {got} EXCEPT ALL FROM {want}))"
                            f" + (SELECT count(*) FROM (FROM {want} EXCEPT ALL FROM {got}))"
                            ).fetchone()[0]
            if n:
                fails.append(f"{label}: {n} rows differ from the duckdb replay")
        mvs = (
            (self.mv_rollup, ["grp", "n_rows", *ROLLUP_SUMS],
             "SELECT grp, count(*), sum(m1), sum(m2) FROM cur_fact GROUP BY grp"),
            (self.mv_join, ["d_region", "n_rows", *JOIN_SUMS],
             "SELECT d_region, count(*), sum(m1) FROM cur_fact JOIN cur_dim USING (dkey) "
             "GROUP BY d_region"),
        )
        for path, cols, sql in mvs:
            got = sorted(tuple(r) for r in mv.read_rollup(spark, path).select(*cols).collect())
            if got != sorted(tuple(int(v) for v in r) for r in con.execute(sql).fetchall()):
                fails.append(f"{os.path.basename(path)} differs from a recompute over the "
                             "final snapshot_read")
        return fails

    def layer_metrics(self) -> dict:
        """Refresh shares and the fact table's storage state at the end."""
        refreshes = [r for r in self.reports if not r.get("created")]
        changed = sum(r["groups_changed"] for r in refreshes)
        detail = snapshot.table_detail(self.fact)
        on_disk = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, files in os.walk(self.fact) for f in files
        )
        return {
            "mv.full_recompute_share": (
                sum(bool(r.get("full_recompute")) for r in refreshes) / len(refreshes)
                if refreshes else 0.0),
            "mv.groups_recomputed_share": (
                sum(r["groups_recomputed"] for r in refreshes) / changed if changed else 0.0),
            "snapshot.files_live": detail["num_files"],
            "snapshot.dv_rows_live": detail["num_dv_rows"],
            "snapshot.bytes_on_disk": on_disk,
            "bytes_per_live_byte": on_disk / snapshot.live_bytes(self.fact),
        }
