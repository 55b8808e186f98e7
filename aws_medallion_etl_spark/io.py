"""Sources and sinks: contract CSV reads, partitioned parquet writes,
reject quarantine, JSON reports, provenance, sensors, catalog.

Re-expresses the reference's IO surface (SURVEY.md §2.1 S1-S12):

* S1 — CSV scan with an ENFORCED StructType (``inferSchema`` is
  prohibited, reference ``README.md:777``): ``Meta_Guideline.md:905-910``.
* S2/S3 — parquet scans; partition pruning comes free from the
  layout + Catalyst, nothing to hand-roll.
* S4/S5 — parquet sinks with snappy + small-file control and
  partitioned dynamic overwrite (``Meta_Guideline.md:973-976``,
  ``3186-3192``; idempotency rule ``requirements/...:40``).
* S6 — reject quarantine under ``_rejects/<table>/run_date=...``
  (``Meta_Guideline.md:979-986``, ``requirements/...:58-59``).
* S7 — JSON run-report objects under ``_reports/``
  (``Meta_Guideline.md:997-1023`` — boto3 there, local fs here).
* S8 — file provenance via ``input_file_name()``
  (``Meta_Guideline.md:920-923``).
* S9 — raw-file availability sensor (``Meta_Guideline.md:1421-1454``).
* S10/S12 — catalog registration + ``spark.sql`` endpoint
  (``Meta_Guideline.md:2318-2345``; one engine replaces Glue+Athena).

Scale notes: small-file control uses AQE-coalesced ``repartition``
(cluster-wide, no single-writer bottleneck) rather than the
reference's ``coalesce(1)`` (which collapses the WRITE stage to one
task — a straight serialization point at 100 TB). Dynamic partition
overwrite only rewrites touched partitions, making daily re-runs
idempotent without nuking siblings.
"""

from __future__ import annotations

import json
import os
import shutil
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# Reference CSV contract options (Meta_Guideline.md:905-910).
CSV_OPTIONS = {"header": "true", "multiLine": "true", "escape": '"'}


def read_csv_contract(
    spark: SparkSession,
    path: str,
    schema: StructType,
    rename: dict[str, str] | None = None,
    extra_options: dict[str, str] | None = None,
) -> DataFrame:
    """S1: CSV scan with an enforced schema contract (never inferSchema).

    ``rename`` applies the raw→snake_case mapping
    (``Meta_Guideline.md:893-898``) in the same projection.
    """
    reader = spark.read.options(**{**CSV_OPTIONS, **(extra_options or {})})
    df = reader.schema(schema).csv(path)
    if rename:
        df = df.withColumnsRenamed(rename)
    return df


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """S2/S3: parquet scan. Partition pruning is Catalyst's job —
    filter on the partition column and the scan skips directories."""
    return spark.read.parquet(path)


def _footer_schema(path: str) -> StructType | None:
    """The schema of an unpartitioned parquet table from ONE data file's
    footer, read on the driver: the Spark schema Spark records in the
    footer, else the footer's arrow schema. None when no footer can be
    read."""
    import glob

    try:
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_schema

        files = sorted(
            f for f in glob.glob(os.path.join(path, "*.parquet"))
            if not os.path.basename(f).startswith(("_", "."))
        )
        if not files:
            return None
        md = pq.read_metadata(files[0])
        spark_json = (md.metadata or {}).get(
            b"org.apache.spark.sql.parquet.row.metadata"
        )
        if spark_json is not None:
            return StructType.fromJson(json.loads(spark_json))
        return from_arrow_schema(md.schema.to_arrow_schema())
    except Exception:
        return None


def read_parquet_pinned(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan of an UNPARTITIONED table (no ``key=value`` dirs)
    with its schema taken from a data file's footer on the driver, so
    the read runs no schema-inference job. Falls back to a plain
    (inferring) read when no footer can be read."""
    schema = _footer_schema(path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def with_provenance(
    df: DataFrame, run_date: str, source_system: str = "local"
) -> DataFrame:
    """S8/P8: audit columns — ingest_ts, run_date, source_file, source_system
    (``Meta_Guideline.md:920-923``)."""
    return (
        df.withColumn("ingest_ts", F.current_timestamp())
        .withColumn("run_date", F.lit(run_date))
        .withColumn("source_file", F.input_file_name())
        .withColumn("source_system", F.lit(source_system))
    )


def write_parquet(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
    target_files: int | None = None,
) -> None:
    """S4/S5: snappy parquet sink with small-file control.

    With ``partition_by`` and the session's
    ``partitionOverwriteMode=dynamic`` (set by our session factory),
    overwrite touches ONLY the partitions present in ``df`` — the
    idempotent re-run guarantee (``requirements/...:40``, ``:143``).

    ``target_files`` bounds output file count via ``repartition`` —
    a parallel shuffle-based coalesce, unlike the reference's
    ``coalesce(1)`` which serializes the whole write through one task.
    At scale, prefer leaving it unset and letting AQE size output
    partitions (128 MB advisory target).
    """
    if target_files:
        # with partition columns, co-locate rows of a partition so each
        # gets ~target_files files; without, plain round-robin spreads
        # rows evenly (hashing a constant would funnel EVERY row into
        # one task — the serialization point this function exists to
        # avoid)
        df = (
            df.repartition(target_files, *partition_by)
            if partition_by else df.repartition(target_files)
        )
    writer = df.write.mode(mode).option("compression", "snappy")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_rejects(
    rejects: DataFrame, base_path: str, table: str, run_date: str
) -> str:
    """S6: quarantine sink — ``<base>/_rejects/<table>/run_date=<d>/``.

    The frame must already carry ``reject_reason``
    (``operators.validate.tag_rejects``).
    """
    path = f"{base_path}/_rejects/{table}/run_date={run_date}"
    rejects.write.mode("overwrite").option("compression", "snappy").parquet(path)
    return path


def write_json_report(report: dict, base_path: str, table: str, run_date: str) -> str:
    """S7: driver-side JSON run report — ``<base>/_reports/run_date=<d>/``.

    Reports are tiny dicts (gate counts, timings); a driver-side file
    write is correct at any scale — never ship them through executors.
    """
    out_dir = f"{base_path}/_reports/run_date={run_date}"
    os.makedirs(out_dir, exist_ok=True)
    path = f"{out_dir}/{table}_report.json"
    payload = {
        "table": table,
        "run_date": run_date,
        "generated_at": datetime.now(timezone.utc).isoformat(),
        **report,
    }
    with open(path, "w") as f:
        json.dump(payload, f, indent=2, default=str)
    return path


def read_json_report(base_path: str, table: str, run_date: str) -> dict:
    """Read back an S7 report (layer-completion gates, C2)."""
    with open(f"{base_path}/_reports/run_date={run_date}/{table}_report.json") as f:
        return json.load(f)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table: pre-shuffled storage for co-located joins.

    Two tables bucketed on the same key with the same bucket count
    join WITHOUT a shuffle — the exchange happened once at write time
    and is amortized over every subsequent join/aggregation on that
    key. This is the storage-level answer to repeated big-x-big joins
    at 100 TB (broadcast covers small dims; bucketing covers fact-to-
    fact). Requires the session catalog (``saveAsTable``) — plain
    parquet paths cannot carry bucket metadata.

    Idempotent across sessions: a fresh session's in-memory catalog
    does not know about a table whose warehouse directory survived a
    previous JVM, so ``mode("overwrite")`` alone raises
    ``LOCATION_ALREADY_EXISTS``. Drop the catalog entry AND clear the
    orphaned location before writing — the same re-runnability S4/S5
    already guarantee for path-based sinks.
    """
    spark = df.sparkSession
    if mode == "overwrite":
        # Resolve the MANAGED table's real location from the catalog
        # before dropping, rather than reconstructing it by warehouse
        # convention (which is wrong for qualified `db.tbl` names —
        # those live under `<warehouse>/<db>.db/<tbl>` — and would
        # wrongly delete the data of an EXTERNAL table at that path,
        # which DROP TABLE deliberately preserves).
        stale = None
        if spark.catalog.tableExists(table):
            detail = {
                r["col_name"]: r["data_type"]
                for r in spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
            }
            if detail.get("Type", "").upper() == "MANAGED":
                loc = detail.get("Location", "")
                stale = loc[len("file:"):] if loc.startswith("file:") else loc
        else:
            # Catalog has no entry (fresh session, orphaned directory
            # from a previous JVM): fall back to the warehouse-layout
            # convention, including the `<db>.db/` segment.
            warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
            if warehouse.startswith("file:"):
                warehouse = warehouse[len("file:"):]
            parts = [p.lower() for p in table.split(".")]
            if len(parts) == 1:
                # unqualified names resolve against the CURRENT database
                parts = [spark.catalog.currentDatabase().lower(), parts[0]]
            rel = (
                parts[-1] if parts[-2] == "default"
                else os.path.join(f"{parts[-2]}.db", parts[-1])
            )
            stale = os.path.join(warehouse, rel)
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        if stale and os.path.isdir(stale):
            shutil.rmtree(stale, ignore_errors=True)
    writer = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.option("compression", "snappy").format("parquet").saveAsTable(table)


class MissingInputError(FileNotFoundError):
    """Raised by the availability sensor when required inputs are absent."""


def check_inputs_exist(paths: list[str]) -> None:
    """S9: raw-file availability sensor — all inputs must exist BEFORE
    any job starts (``Meta_Guideline.md:1421-1454``)."""
    missing = [p for p in paths if not os.path.exists(p)]
    if missing:
        raise MissingInputError(f"missing required inputs: {missing}")


def register_table(
    spark: SparkSession, df: DataFrame, name: str, persistent: bool = False
) -> None:
    """S10: register a frame in the session catalog for SQL access.

    ``persistent=True`` materializes a managed catalog table
    (``saveAsTable``) instead of a session temp view. With a durable
    metastore (``spark.sql.catalogImplementation=hive`` over
    Derby/HMS/Glue) the table survives session restarts — the parity
    form of the reference's Glue-crawler registration
    (``terraform/modules/glue/main.tf:89-232``). Under the default
    in-memory catalog the DDL succeeds but metadata dies with the
    session; deployments that need durability must configure a
    metastore (pytest pins the cross-JVM round-trip under Derby).
    """
    if persistent:
        df.write.mode("overwrite").format("parquet").saveAsTable(name)
    else:
        df.createOrReplaceTempView(name)


def register_parquet_table(
    spark: SparkSession, name: str, path: str, if_not_exists: bool = True
) -> None:
    """S10 (crawler parity): EXTERNAL catalog table over existing parquet.

    ``CREATE TABLE ... USING parquet LOCATION`` registers metadata only
    — no data copy, exactly what a Glue crawler does to S3 layouts.
    Schema comes from the parquet footers at registration time.
    """
    clause = "IF NOT EXISTS " if if_not_exists else ""
    spark.sql(f"CREATE TABLE {clause}{name} USING parquet LOCATION '{path}'")


def register_layer(
    spark: SparkSession,
    base_path: str,
    tables: list[str],
    prefix: str = "",
    persistent: bool = False,
) -> None:
    """S10: register every table of a written layer (parquet dirs).

    ``persistent=True`` uses external catalog tables (see
    :func:`register_parquet_table`) instead of temp views.
    """
    for t in tables:
        if persistent:
            register_parquet_table(spark, f"{prefix}{t}", f"{base_path}/{t}")
        else:
            spark.read.parquet(f"{base_path}/{t}").createOrReplaceTempView(f"{prefix}{t}")


def sql(spark: SparkSession, query: str) -> DataFrame:
    """S12: the interactive SQL endpoint — one engine serves the
    Glue-job AND Athena roles of the reference."""
    return spark.sql(query)


def publish_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "overwrite",
    properties: dict | None = None,
    batchsize: int = 10_000,
    num_partitions: int | None = None,
) -> None:
    """S11: warehouse publish over JDBC (the reference's Redshift
    DDL→COPY manager, ``boto3_deployment/managers/redshift_manager.py:
    76-348``, re-expressed as Spark's parallel JDBC writer).

    Each partition opens one connection and writes ``batchsize``-row
    batches; cap the fan-in with ``num_partitions`` so a 1000-executor
    write doesn't open 1000 warehouse connections. Requires the
    target's JDBC driver jar on the classpath. Exercised end-to-end
    in-sandbox against the EMBEDDED Derby engine Spark already ships
    for its metastore (``org.apache.derby.jdbc.EmbeddedDriver`` —
    ``s11_jdbc_publish_roundtrip`` publishes a gold rollup and reads
    it back through JDBC); against a real warehouse only the url/
    driver pair changes. The persistent-catalog publish
    (``register_layer(persistent=True)``) remains the zero-dependency
    alternative; see SCALING.md.
    """
    writer = df
    if num_partitions is not None:
        writer = df.coalesce(num_partitions)
    (
        writer.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", batchsize)
        .options(**(properties or {}))
        .mode(mode)
        .save()
    )


def compact(
    spark,
    path: str,
    target_files: int,
    partition_by: list[str] | None = None,
    transform=None,
    verify: bool = False,
) -> None:
    """Small-file compaction: rewrite a parquet location into
    ``target_files`` files (per partition, if partitioned).
    ``transform`` optionally rewrites the DataFrame during the copy —
    the hook increment-log tables (append-only rows readers
    group-sum, e.g. the MinHash index's shingle-DF stats) use to merge
    their generations in the same crash-safe swap.

    ``verify=True`` computes ``dq.dataset_fingerprint`` (additive,
    order-independent — layout changes cannot perturb it) over the
    original and the staged rewrite and refuses to swap on mismatch,
    leaving the original untouched. Costs one extra scan per side, so
    it's opt-in; only valid without ``transform`` (a transform changes
    content by design). The guard this buys: any rewrite bug —
    engine, filesystem, or a partition column silently dropping rows
    — surfaces as a raised error instead of corrupted data under an
    atomic-looking swap. The staged side is fingerprinted under the
    ORIGINAL schema: when ``partition_by`` moves a column into the
    directory layout, partition-value inference would otherwise
    re-type numeric-looking strings ('0123' -> 123) and refuse a
    correct rewrite. (Schema-less readers of the NEW layout see the
    inferred type — a property of partitioning on such a column, not
    of the compaction; pin the schema on read as the verify does.)

    The maintenance job every streaming/incremental sink eventually
    needs — micro-batches and per-run appends accrete thousands of
    KB-sized files whose open/seek overhead dominates scans long
    before data volume does. The rewrite stages into SIBLING
    directories of ``path`` (same filesystem, so the swap is a real
    rename, never a cross-device copy through /tmp that could ENOSPC
    a tmpfs).

    Crash recovery: the only window where ``path`` itself is missing
    is between the two renames of the swap, when the data lives in
    ``.compact_old`` (and a complete copy in ``.compact_tmp`` — the
    tmp write finished before the first rename). On entry that state
    is detected and the original is restored BEFORE any staging
    cleanup; staging dirs are only cleared once ``path`` is confirmed
    to exist, so no crash point loses data. ``shutil.move`` into an
    EXISTING directory would nest the live data a level down instead
    of renaming, hence the explicit clears.
    """
    import os
    import shutil

    tmp = path.rstrip("/") + ".compact_tmp"
    old = path.rstrip("/") + ".compact_old"
    if os.path.exists(old) and not os.path.exists(path.rstrip("/")):
        # previous run died between `path -> old` and `tmp -> path`:
        # the dataset survives only in the staging dirs — restore it
        # first, then recompact from scratch below
        shutil.move(old, path.rstrip("/"))
    shutil.rmtree(tmp, ignore_errors=True)
    if not os.path.exists(path.rstrip("/")):
        raise FileNotFoundError(f"compact: no dataset at {path}")
    shutil.rmtree(old, ignore_errors=True)
    if verify and transform is not None:
        raise ValueError("compact: verify=True is only valid without transform "
                         "(a transform changes content by design)")
    df = spark.read.parquet(path)
    if transform is not None:
        df = transform(df)
    write_parquet(df, tmp, partition_by=partition_by, target_files=target_files)
    if verify:
        from aws_medallion_etl_spark.operators.dq import dataset_fingerprint

        # partition columns come back LAST on read-back — canonicalize
        # the column order so layout alone can't fail the compare
        src = spark.read.parquet(path)
        cols = sorted(src.columns)
        before = dataset_fingerprint(src, cols).collect()[0]
        # read the staged side with the ORIGINAL schema: when
        # partition_by moves a column into the directory layout,
        # partition-value inference would otherwise re-type it (e.g. a
        # zero-padded numeric string '0123' reads back as int 123) and
        # fail the compare on representation, not content
        after = dataset_fingerprint(
            spark.read.schema(src.schema).parquet(tmp), cols
        ).collect()[0]
        if (before["n_rows"], before["fingerprint"]) != (
            after["n_rows"], after["fingerprint"]
        ):
            shutil.rmtree(tmp, ignore_errors=True)
            raise RuntimeError(
                f"compact: rewrite of {path} does not match the original "
                f"(rows {before['n_rows']} -> {after['n_rows']}, fingerprint "
                f"{before['fingerprint']} -> {after['fingerprint']}); "
                "original left untouched"
            )
    shutil.move(path, old)
    try:
        shutil.move(tmp, path)
        shutil.rmtree(old, ignore_errors=True)
    except Exception:
        shutil.move(old, path)  # restore on failed swap
        raise


def write_sorted(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    target_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Range-sorted parquet layout: ``repartitionByRange`` on
    ``sort_cols`` + ``sortWithinPartitions``, so each output file
    covers a DISJOINT range of the sort key.

    The scan-pruning lever for range predicates at 100 TB: parquet
    row-group min/max stats let a ``ts BETWEEN ...`` scan skip every
    file whose range doesn't overlap (pinned by
    ``test_plans::test_write_sorted_disjoint_file_ranges`` via the
    footers). Range partitioning samples the key to build balanced
    boundaries — no driver-side sort, no single reducer; this is
    single-dimension Z-ordering, the 80% case.
    """
    parted = df.repartitionByRange(
        *([target_files] if target_files else []),
        *[F.col(c) for c in sort_cols],
    ).sortWithinPartitions(*sort_cols)
    parted.write.mode(mode).option("compression", "snappy").parquet(path)


# ---------------------------------------------------------------------------
# File-level min/max skipping (Iceberg/Delta-style manifest)
# ---------------------------------------------------------------------------

_FILE_STATS_NAME = "_file_stats.json"

# stat kinds the pruner understands; anything else keeps the file
# (conservative: unknown stats can only cost I/O, never correctness)
_COMPARABLE_KINDS = {"int", "float", "str", "date", "timestamp"}


def _stat_encode(v):
    """Normalize a footer stat to a JSON-safe, ORDER-PRESERVING value.

    ints/floats/strs pass through; date/datetime become ISO-8601
    strings (lexicographic order == chronological order); bytes and
    anything exotic return ``(None, None)`` -> the file is never
    skipped on that column.
    """
    import datetime

    if isinstance(v, bool):
        return None, None
    if isinstance(v, int):
        return "int", v
    if isinstance(v, float):
        return "float", v
    if isinstance(v, str):
        return "str", v
    if isinstance(v, datetime.datetime):
        return "timestamp", v.replace(tzinfo=None).isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return "date", v.isoformat()
    return None, None


def collect_file_stats(path: str, columns: list[str]) -> list[dict]:
    """Per-file min/max for ``columns`` from parquet FOOTERS only.

    One row-group-stat merge per file — no data pages are read, so the
    cost is one footer fetch per file. On a 1000-executor cluster this
    loop belongs in a job over the file list (each footer read is
    independent); at manifest scale (one dict per file) the driver
    holds the RESULT comfortably even at 100k files.

    A column with a missing/untyped stat in ANY row group gets
    ``null`` bounds for that file — the pruner then always keeps it.
    """
    import os

    import pyarrow.parquet as pq

    root = path.rstrip("/")
    files = []
    for dirpath, _dirs, names in os.walk(root):
        for name in sorted(names):
            if name.endswith(".parquet") and not name.startswith(("_", ".")):
                files.append(os.path.join(dirpath, name))
    out = []
    for f in sorted(files):
        meta = pq.ParquetFile(f).metadata
        schema = meta.schema.to_arrow_schema()
        idx = {schema.names[i]: i for i in range(len(schema.names))}
        entry = {"file": os.path.relpath(f, root), "rows": meta.num_rows, "stats": {}}
        for col in columns:
            ci = idx.get(col)
            lo = hi = None
            kind = None
            ok = ci is not None
            if ok:
                for rg in range(meta.num_row_groups):
                    st = meta.row_group(rg).column(ci).statistics
                    if st is None or not st.has_min_max:
                        ok = False
                        break
                    k1, mn = _stat_encode(st.min)
                    k2, mx = _stat_encode(st.max)
                    if k1 is None or k1 != k2 or (kind and k1 != kind):
                        ok = False
                        break
                    kind = k1
                    lo = mn if lo is None or mn < lo else lo
                    hi = mx if hi is None or mx > hi else hi
            entry["stats"][col] = (
                {"kind": kind, "min": lo, "max": hi} if ok else None
            )
        out.append(entry)
    return out


def build_file_stats_index(path: str, columns: list[str]) -> str:
    """Write the skipping manifest as ``_file_stats.json`` INSIDE the
    dataset directory (Spark ignores ``_``-prefixed files, so the
    location stays a valid plain-parquet table for every reader).

    What this buys beyond parquet's own row-group skipping: Spark must
    still LIST, schedule, and open the footer of every file before
    row-group stats can prune — at 100k-file scale that is the
    planning bottleneck. A one-JSON-row-per-file manifest lets
    :func:`pruned_read` hand Spark ONLY the overlapping files, so
    listing/scheduling cost scales with the files that matter. Same
    contract as Iceberg manifests / Delta add-file stats, on plain
    parquet. Rebuild after every write/compact (cheap: footers only);
    :func:`compact` callers should rebuild as part of the swap.
    """
    import json
    import os

    stats = collect_file_stats(path, columns)
    out = os.path.join(path.rstrip("/"), _FILE_STATS_NAME)
    tmp = out + ".tmp"
    with open(tmp, "w") as fh:
        json.dump({"columns": columns, "files": stats}, fh)
    os.replace(tmp, out)  # atomic: readers see old or new, never half
    return out


def pruned_read(
    spark: SparkSession,
    path: str,
    ranges: dict[str, tuple],
) -> DataFrame:
    """Range scan with FILE-level skipping off the stats manifest.

    ``ranges`` maps column -> (lo, hi) inclusive bounds (either side
    ``None`` for open). Semantically identical to
    ``spark.read.parquet(path).where(lo <= c <= hi ...)`` — the range
    predicate is still applied row-level (files are kept on ANY
    overlap) and still reaches the parquet reader for row-group
    skipping inside kept files. The manifest only shrinks the file
    list Spark plans over. Files without usable stats for a column,
    or datasets with no manifest at all, degrade to the full scan —
    skipping is an optimization, never a correctness dependency.
    """
    root = path.rstrip("/")
    manifest = os.path.join(root, _FILE_STATS_NAME)
    files = None
    if os.path.exists(manifest):
        with open(manifest) as fh:
            data = json.load(fh)
        known = set(data.get("columns", []))
        keep = []
        for entry in data["files"]:
            ok = True
            for col, (lo, hi) in ranges.items():
                if col not in known:
                    continue
                st = entry["stats"].get(col)
                if not st:
                    continue
                _, lo_n = _stat_encode(lo) if lo is not None else (None, None)
                _, hi_n = _stat_encode(hi) if hi is not None else (None, None)
                try:
                    if lo_n is not None and st["max"] < lo_n:
                        ok = False
                        break
                    if hi_n is not None and st["min"] > hi_n:
                        ok = False
                        break
                except TypeError:
                    # bound/stat kind mismatch: keep the file, let the
                    # row-level predicate decide
                    continue
            if ok:
                keep.append(os.path.join(root, entry["file"]))
        files = keep
    if files is None:
        df = spark.read.parquet(root)
    elif not files:
        # every file pruned: preserve the schema via an empty frame
        df = spark.read.parquet(root).limit(0)
    else:
        df = spark.read.parquet(*files)
    for col, (lo, hi) in ranges.items():
        if lo is not None:
            df = df.where(F.col(col) >= F.lit(lo))
        if hi is not None:
            df = df.where(F.col(col) <= F.lit(hi))
    return df


# ---------------------------------------------------------------------------
# Z-order (multi-column) layout
# ---------------------------------------------------------------------------

def zorder_value(
    scaled_cols: list,
    bits: int = 12,
) -> "F.Column":
    """Interleave the low ``bits`` bits of pre-scaled integer columns
    into one Morton (Z-curve) key.

    Callers pass columns ALREADY scaled to ``[0, 2**bits)`` (see
    :func:`write_zorder` for the min/max scaling). Bit ``i`` of column
    ``j`` lands at position ``i * k + j`` — the interleaving that makes
    the curve visit space locally in EVERY dimension at once. Pure
    unrolled shift/mask column arithmetic (shift amounts are Python
    ints, as Spark requires): ``bits * k`` terms in a single
    projection, well inside codegen's method limit and nowhere near a
    join condition.
    """
    k = len(scaled_cols)
    terms = []
    for j, c in enumerate(scaled_cols):
        lc = c.cast("long")
        for i in range(bits):
            bit = F.shiftright(lc, i).bitwiseAND(F.lit(1))
            terms.append(F.shiftleft(bit, i * k + j))
    z = terms[0]
    for t in terms[1:]:
        z = z + t
    return z


def zorder_clustered(
    df: DataFrame,
    cols: list[str],
    target_files: int | None = None,
    bits: int = 12,
) -> DataFrame:
    """Re-cluster ``df`` along the Morton curve over ``cols``: one
    global min/max agg scales each column to ``[0, 2**bits)``, the
    interleaved Z key drives ``repartitionByRange`` + in-file sort,
    and the key is dropped — the LAYOUT carries the benefit. Shared by
    :func:`write_zorder` and ``snapshot.compact(zorder_cols=...)``
    (Delta ``OPTIMIZE ZORDER BY``)."""
    if not cols:
        raise ValueError("zorder_clustered needs at least one column")
    lo_hi = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"__mn_{c}") for c in cols],
        *[F.max(F.col(c).cast("double")).alias(f"__mx_{c}") for c in cols],
    ).collect()[0]
    top = (1 << bits) - 1
    scaled = []
    for c in cols:
        mn, mx = lo_hi[f"__mn_{c}"], lo_hi[f"__mx_{c}"]
        if mn is None or mx is None or mx == mn:
            scaled.append(F.lit(0))
            continue
        frac = (F.col(c).cast("double") - F.lit(mn)) / F.lit(mx - mn)
        # nulls first: a null key scales to 0, keeping the file range
        # honest (stats min/max ignore nulls anyway)
        scaled.append(
            F.coalesce(F.floor(frac * top), F.lit(0)).cast("long")
        )
    zed = df.withColumn("__z", zorder_value(scaled, bits=bits))
    return zed.repartitionByRange(
        *([target_files] if target_files else []), F.col("__z")
    ).sortWithinPartitions("__z").drop("__z")


def write_zorder(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = 12,
    target_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Z-ordered parquet layout: multi-column :func:`write_sorted`.

    Linear sort gives perfect skipping on the LEADING key and none on
    the others; the Z-curve trades a little of the first dimension's
    locality to make file min/max ranges tight in ALL ``cols`` — so a
    stats manifest (:func:`build_file_stats_index`) prunes files for a
    predicate on ANY of them (Delta ``OPTIMIZE ZORDER BY`` semantics,
    on plain parquet).

    Each column is min/max-scaled to ``[0, 2**bits)`` from ONE global
    agg (a 2k-value driver collect); numeric and timestamp/date
    columns are supported via a cast to double. The Z key is used only
    for ``repartitionByRange`` + in-file sort and is dropped before
    the write — the layout carries the benefit, not a column. Skew
    note: ``repartitionByRange`` samples the Z key, so heavily
    duplicated (col tuple) values still spread across files; a file
    then covers a degenerate range and skipping degrades gracefully,
    never incorrectly.
    """
    parted = zorder_clustered(df, cols, target_files, bits)
    parted.write.mode(mode).option("compression", "snappy").parquet(path)


# ---------------------------------------------------------------------------
# Columnar/row interchange formats beyond parquet (S-extension)
# ---------------------------------------------------------------------------

def write_orc(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """ORC sink (zlib), the Hive-ecosystem twin of the parquet sink.

    Same dynamic-partition-overwrite semantics as
    :func:`write_parquet`; ORC carries its own column statistics and
    bloom-filter support, so downstream ORC scans get predicate
    pushdown exactly like parquet (Spark's OrcScan reports
    ``PushedFilters`` the same way).
    """
    writer = df.write.mode(mode).option("compression", "zlib")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — vectorized reader, filter/column pushdown intact."""
    return spark.read.orc(path)


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Newline-delimited JSON sink (one object per line, gzip).

    The interchange format for corpus work — every public text corpus
    ships as JSONL. Timestamps serialize as ISO-8601 strings; binary
    columns base64 — both reversible with an explicit read schema.
    """
    df.write.mode(mode).option("compression", "gzip").json(path)


def read_jsonl(spark: SparkSession, path: str, schema) -> DataFrame:
    """JSONL scan with an ENFORCED schema — never ``inferSchema``.

    Schema inference requires an extra full pass over the data and
    silently widens types on dirty rows; at 100 TB both are
    unacceptable. Same contract stance as :func:`read_csv_contract`.
    Rows that do not parse land as all-NULL (PERMISSIVE mode) and are
    the caller's reject-path problem — use a ``_corrupt_record``
    column in the schema to quarantine them explicitly.
    """
    return spark.read.schema(schema).json(path)


def read_binary_files(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    drop_content: bool = False,
) -> DataFrame:
    """Opaque-blob ingest via Spark's ``binaryFile`` source: one row per
    file with (path, modificationTime, length, content).

    The realistic 100 TB multimodal ingest path (reference stages raw
    objects the same way, ``Meta_Guideline.md`` bronze layer): images /
    audio / video land as whole-file binary rows that downstream
    ``mapInPandas`` decoders (operators/multimodal.py) consume in Arrow
    batches. ``pathGlobFilter`` prunes at LISTING time — non-matching
    files are never opened — and ``drop_content=True`` gives a
    metadata-only scan (the source only reads bytes when ``content``
    is projected, so listings/audits cost no I/O per blob).
    """
    r = spark.read.format("binaryFile")
    if glob is not None:
        r = r.option("pathGlobFilter", glob)
    df = r.load(path)
    return df.drop("content") if drop_content else df


def register_sql_function(
    spark: SparkSession,
    name: str,
    params: str,
    returns: str,
    body: str,
    temporary: bool = True,
) -> None:
    """Register a SQL UDF (``CREATE FUNCTION ... RETURN <expr>``) — the
    zero-cost UDF surface: Catalyst inlines the body into the calling
    plan, so pruning/pushdown/whole-stage codegen all see through it
    (no Python worker, no serialization boundary, unlike ``F.udf``).

    The right way to share business expressions (discounted price,
    fiscal-year mapping, reject-reason logic) across SQL-endpoint
    users: one definition, every call site optimized as if the
    expression were written inline. ``temporary=False`` persists the
    function into the current catalog for cross-session reuse.
    """
    scope = "TEMPORARY " if temporary else ""
    spark.sql(
        f"CREATE OR REPLACE {scope}FUNCTION {name}({params}) "
        f"RETURNS {returns} RETURN {body}"
    )


def expire_partitions(
    path: str,
    partition_col: str,
    keep: int | None = None,
    before: str | None = None,
) -> list[str]:
    """Retention for a ``partitionBy`` layout: delete whole
    ``<col>=<value>`` partition directories past the retention point
    and return the expired values.

    The maintenance half of every run_date-partitioned sink in this
    engine (bronze/silver/gold tables, reject quarantines, report
    sidecars accrete one directory per run forever otherwise). Policy
    is one of:

    * ``keep=N`` — retain the N newest partitions by value sort;
    * ``before='2024-06-01'`` — drop every value strictly below.

    Values compare as STRINGS, which for the ``YYYY-MM-DD`` /
    zero-padded values all engine sinks produce equals temporal order
    (the caller owns that property for custom layouts). Directory
    delete is partition-pruned retention at its cheapest — no data
    scan, no rewrite; readers of live partitions never see a partial
    state because each directory vanishes atomically at the rename
    level. Expiring EVERYTHING is refused (keep >= 1; a ``before``
    past every value raises) — deleting the dataset is ``rmtree``'s
    job, and asking retention to do it is almost always a bug.
    """
    import os
    import shutil

    if (keep is None) == (before is None):
        raise ValueError("expire_partitions: pass exactly one of keep/before")
    if keep is not None and keep < 1:
        raise ValueError("expire_partitions: keep must be >= 1")
    root = path.rstrip("/")
    prefix = f"{partition_col}="
    parts = sorted(
        d for d in os.listdir(root)
        if d.startswith(prefix) and os.path.isdir(os.path.join(root, d))
    )
    if not parts:
        return []
    if keep is not None:
        doomed = parts[:-keep]
    else:
        doomed = [d for d in parts if d[len(prefix):] < before]
        if len(doomed) == len(parts):
            raise ValueError(
                f"expire_partitions: before={before!r} would expire every "
                f"partition of {path} — refusing (delete the dataset "
                "explicitly if that is intended)"
            )
    for d in doomed:
        shutil.rmtree(os.path.join(root, d))
    # keep the file-skipping manifest (S16) consistent: entries are
    # root-relative paths, so drop those under a deleted partition dir
    # — otherwise pruned_read would plan files that no longer exist
    manifest = os.path.join(root, _FILE_STATS_NAME)
    if doomed and os.path.exists(manifest):
        with open(manifest) as fh:
            m = json.load(fh)
        gone = tuple(d + os.sep for d in doomed)
        m["files"] = [e for e in m.get("files", [])
                      if not e["file"].startswith(gone)]
        tmp = manifest + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(m, fh)
        os.replace(tmp, manifest)
    return [d[len(prefix):] for d in doomed]
