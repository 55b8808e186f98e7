"""medallion_batch: one ``pipeline.run_pipeline`` per run_date.

A scheduler calls the reference's own job once per day and waits for
it (closed loop, one client). Each day's orders, lineitems and
customers are generated before the op and are not timed. Gold has two
builders: ``bench.py``'s revenue-by-segment fact and an SCD2 customer
dimension. Day 0 runs untimed in the set-up, so timed ops are days 1,
2, ... .
"""

from __future__ import annotations

import datetime as dt
import time

import duckdb
from pyspark.sql import functions as F

from aws_medallion_etl_spark import pipeline
from aws_medallion_etl_spark.operators import scd, validate

from perfbench import gen
from perfbench.gen import Gen, content_hash, within

TABLES = ("orders", "customer", "lineitem")
SCD_ATTRS = ["c_address", "c_mktsegment"]
DAY0 = dt.date(2024, 6, 1)


def run_date(day: int) -> str:
    return (DAY0 + dt.timedelta(days=day)).isoformat()


def specs() -> dict[str, pipeline.TableSpec]:
    """``bench.py``'s three-table spec: one reject rule and one natural
    key per table."""
    return {
        "orders": pipeline.TableSpec(
            "orders",
            rules=lambda: [validate.Rule("neg_price", F.col("o_totalprice") < 0)],
            nk=["o_orderkey"], dedup_order=["o_orderdate"],
        ),
        "customer": pipeline.TableSpec(
            "customer",
            rules=lambda: [validate.Rule("no_seg", validate.null_or_blank("c_mktsegment"))],
            nk=["c_custkey"], dedup_order=["c_acctbal"],
        ),
        "lineitem": pipeline.TableSpec(
            "lineitem",
            rules=lambda: [validate.Rule("bad_qty", F.col("l_quantity") <= 0)],
            nk=["l_orderkey", "l_linenumber"], dedup_order=["l_shipdate"],
        ),
    }


def fact_revenue_by_segment(spark, out_dir, day):
    """``bench.py``'s gold fact with every silver input restricted to
    the op's run_date: customers are re-emitted daily, so an
    unrestricted customer read would multiply the join."""
    def silver(t):
        return spark.read.parquet(f"{out_dir}/silver/{t}").where(F.col("run_date") == day)

    li, o, c = silver("lineitem"), silver("orders"), silver("customer")
    return (
        li.join(o.select("o_orderkey", "o_custkey"), li["l_orderkey"] == F.col("o_orderkey"))
        .join(F.broadcast(c.select("c_custkey", "c_mktsegment")),
              F.col("o_custkey") == F.col("c_custkey"), "left")
        .fillna({"c_mktsegment": "UNKNOWN"})
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_items"),
             F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
             .alias("revenue"))
    )


class MedallionBatch:
    name = "medallion_batch"

    def __init__(self, spark, seed: int, n_orders: int, n_customers: int):
        self.spark = spark
        self.gen = Gen(spark, seed)
        self.n_orders = n_orders
        self.n_customers = n_customers
        self.days: list[int] = []

    # -- inputs ------------------------------------------------------

    def _src(self, day: int, table: str, root: str | None = None) -> str:
        return f"{root or self.root}/src/{table}/day={day}"

    def _generate(self, root: str, day: int) -> None:
        d = run_date(day)
        frames = {
            "orders": self.gen.orders(day, d, self.n_orders, self.n_customers),
            "customer": self.gen.customers(day, self.n_customers),
            "lineitem": self.gen.lineitems(day, d, self.n_orders),
        }
        for t, df in frames.items():
            df.write.mode("overwrite").parquet(self._src(day, t, root))

    def generate(self, root: str) -> str:
        """Write day 0's sources under ``root``; return their content hash."""
        self._generate(root, 0)
        return content_hash([f"{self._src(0, t, root)}/*.parquet" for t in TABLES])

    def build(self, root: str) -> None:
        """Run day 0 untimed. It warms the JVM and takes the SCD2
        initial-load path, so every timed op is a steady-state day that
        applies changes to the previous day's dimension."""
        self.root = root
        self.out = f"{root}/lake"
        self.prev_date: str | None = None
        self.days = []
        self._run_day(0)

    # -- ops ---------------------------------------------------------

    def _dim_customer_scd2(self, spark, out_dir, day):
        cur = (spark.read.parquet(f"{out_dir}/silver/customer")
               .where(F.col("run_date") == day)
               .select("c_custkey", *SCD_ATTRS, F.to_timestamp(F.lit(day)).alias("change_ts")))
        if self.prev_date is None:
            return scd.scd2_from_history(cur, ["c_custkey"], SCD_ATTRS, "change_ts")
        dim = spark.read.parquet(f"{out_dir}/gold/dim_customer_scd2/run_date={self.prev_date}")
        return scd.scd2_apply_changes(dim, cur, ["c_custkey"], SCD_ATTRS, "change_ts")

    def _run_day(self, day: int) -> float:
        d = run_date(day)
        sources = {t: self.spark.read.parquet(self._src(day, t)) for t in TABLES}
        builders = {
            "fact_revenue_by_segment": fact_revenue_by_segment,
            "dim_customer_scd2": self._dim_customer_scd2,
        }
        t0 = time.perf_counter()
        pipeline.run_pipeline(self.spark, sources, specs(), builders, self.out, d)
        wall = time.perf_counter() - t0
        self.prev_date = d
        self.days.append(day)
        return wall

    def prepare(self) -> None:
        """Generate the next run_date's sources."""
        day = len(self.days)
        self._generate(self.root, day)
        self.rows = duckdb.sql(
            "SELECT count(*) FROM read_parquet(?)",
            params=[[f"{self._src(day, t)}/*.parquet" for t in TABLES]],
        ).fetchone()[0]

    def op(self) -> dict:
        return {"op_s": self._run_day(len(self.days)), "rows": self.rows}

    # -- checks ------------------------------------------------------

    def check(self) -> list[str]:
        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW src_{t} AS SELECT *, CAST(regexp_extract(filename, "
                f"'day=([0-9]+)', 1) AS INT) AS day FROM read_parquet("
                f"'{self.root}/src/{t}/day=*/*.parquet', filename=true)"
            )
        days = sorted(self.days)
        con.execute(f"CREATE TABLE days AS SELECT unnest({days}) AS day")
        fails = rate_failures(con)
        # silver per day: reject rule, then keep the max dedup-order row per NK
        con.execute("""
            CREATE TABLE s_orders AS SELECT day, o_orderkey,
              arg_max(o_custkey, o_orderdate) AS o_custkey
            FROM src_orders WHERE NOT o_totalprice < 0 GROUP BY day, o_orderkey;
            CREATE TABLE s_customer AS SELECT day, c_custkey,
              arg_max(c_mktsegment, c_acctbal) AS c_mktsegment,
              arg_max(c_address, c_acctbal) AS c_address
            FROM src_customer WHERE c_mktsegment IS NOT NULL AND trim(c_mktsegment) <> ''
            GROUP BY day, c_custkey;
            CREATE TABLE s_lineitem AS SELECT day, l_orderkey, l_linenumber,
              arg_max(l_extendedprice, l_shipdate) AS l_extendedprice,
              arg_max(l_discount, l_shipdate) AS l_discount
            FROM src_lineitem WHERE NOT l_quantity <= 0
            GROUP BY day, l_orderkey, l_linenumber;
        """)
        want = con.execute("""
            SELECT l.day, coalesce(c.c_mktsegment, 'UNKNOWN') AS seg,
                   count(*) AS n_items,
                   sum(l.l_extendedprice * (1 - l.l_discount)) AS revenue
            FROM s_lineitem l JOIN s_orders o ON l.day = o.day AND l.l_orderkey = o.o_orderkey
            LEFT JOIN s_customer c ON o.day = c.day AND o.o_custkey = c.c_custkey
            WHERE l.day IN (SELECT day FROM days)
            GROUP BY ALL ORDER BY 1, 2
        """).fetchall()
        got = {
            (r[0], r[1]): (r[2], r[3])
            for r in con.execute(f"""
                SELECT run_date, c_mktsegment, n_items, revenue FROM read_parquet(
                  '{self.out}/gold/fact_revenue_by_segment/*/*.parquet', hive_partitioning=true)
            """).fetchall()
        }
        got = {(str(k[0]), k[1]): v for k, v in got.items()}
        for day, seg, n, rev in want:
            g = got.pop((run_date(day), seg), None)
            if g is None or g[0] != n or abs(g[1] - rev) > 0.011 + 1e-9 * abs(rev):
                fails.append(f"gold fact {run_date(day)}/{seg}: got {g}, want {(n, rev)}")
        if got:
            fails.append(f"gold fact has unexpected groups {sorted(got)[:3]}")
        fails += self._check_scd2(con, days)
        return fails

    def _check_scd2(self, con, days: list[int]) -> list[str]:
        last = run_date(days[-1])
        n_rows, n_keys, bad_keys = con.execute(f"""
            WITH d AS (SELECT * FROM read_parquet(
              '{self.out}/gold/dim_customer_scd2/run_date={last}/*.parquet'))
            SELECT (SELECT count(*) FROM d),
                   (SELECT count(DISTINCT c_custkey) FROM d),
                   (SELECT count(*) FROM (SELECT c_custkey FROM d GROUP BY 1
                                          HAVING count(*) FILTER (WHERE is_current) <> 1))
        """).fetchone()
        # a version opens on a key's first valid day and on every valid
        # day whose attributes differ from its previous valid day
        want_rows, want_keys = con.execute("""
            WITH s AS (SELECT * FROM s_customer WHERE day IN (SELECT day FROM days)),
            v AS (SELECT c_custkey,
                    lag(c_address) OVER w IS DISTINCT FROM c_address
                    OR lag(c_mktsegment) OVER w IS DISTINCT FROM c_mktsegment
                    OR lag(day) OVER w IS NULL AS opens
                  FROM s WINDOW w AS (PARTITION BY c_custkey ORDER BY day))
            SELECT count(*) FILTER (WHERE opens), count(DISTINCT c_custkey) FROM v
        """).fetchone()
        fails = []
        if bad_keys:
            fails.append(f"scd2 dim: {bad_keys} keys without exactly one current row")
        if (n_rows, n_keys) != (want_rows, want_keys):
            fails.append(f"scd2 dim rows/keys {(n_rows, n_keys)} != duckdb {(want_rows, want_keys)}")
        return fails

    def layer_metrics(self) -> dict:
        return {}


def rate_failures(con) -> list[str]:
    """Planted reject, duplicate and attribute-change rates of the
    generated sources, each within four binomial standard deviations."""
    checks = [
        ("orders reject", "SELECT count(*) FILTER (WHERE o_totalprice < 0), count(*) FROM src_orders",
         gen.REJECT_RATE),
        ("lineitem reject", "SELECT count(*) FILTER (WHERE l_quantity <= 0), count(*) FROM src_lineitem",
         gen.REJECT_RATE),
        ("customer reject", "SELECT count(*) FILTER (WHERE c_mktsegment IS NULL), count(*) "
         "FROM src_customer", gen.REJECT_RATE),
        ("orders duplicate", "SELECT count(*) - count(DISTINCT o_orderkey), "
         "count(DISTINCT o_orderkey) FROM src_orders", gen.DUP_RATE),
        ("lineitem duplicate", "SELECT count(*) - count(DISTINCT (l_orderkey, l_linenumber)), "
         "count(DISTINCT (l_orderkey, l_linenumber)) FROM src_lineitem", gen.DUP_RATE),
        ("customer duplicate", "SELECT count(*) - count(DISTINCT (day, c_custkey)), "
         "count(DISTINCT (day, c_custkey)) FROM src_customer", gen.DUP_RATE),
        ("customer change", """
            WITH a AS (SELECT DISTINCT day, c_custkey, c_address FROM src_customer)
            SELECT count(*) FILTER (WHERE x.c_address <> y.c_address), count(*)
            FROM a x JOIN a y ON x.c_custkey = y.c_custkey AND x.day = y.day + 1""",
         gen.CHANGE_RATE),
    ]
    fails = []
    for label, sql, p in checks:
        hits, n = con.execute(sql).fetchone()
        if n and not within(hits, n, p):
            fails.append(f"{label} rate {hits}/{n} outside {p} +- 4 sd")
    return fails
