"""Slowly-changing-dimension engine (SCD2 + SCD1) and surrogate keys.

Re-expresses the reference's gold dimension builds
(``Meta_Guideline.md:2573-2731``): change detection with ``lag``,
effective-date chaining with ``lead``, ``is_current`` flags, the
mandatory Unknown row (SK=0, ``requirements/...:86``), and an
incremental close-out merge.

Fixes two documented reference defects (SURVEY.md §7.4):

* Null-safe change detection — the reference compares attributes with
  ``!=`` which misses NULL->value transitions
  (``Meta_Guideline.md:2608-2611``); we use ``eqNullSafe`` (<=>).
* Scalable surrogate keys — the reference's
  ``row_number() OVER (ORDER BY ...)`` is a single-partition global
  sort (``Meta_Guideline.md:2623-2627``), an OOM at 100 TB. Default
  here is ``xxhash64(nk, effective_start_ts)``: deterministic,
  shuffle-free, collision-checked by ``operators.dq.check_unique``
  (callers run it as a gate; hash SKs can be negative, unlike the
  reference's positive sequential SKs); sentinel 0 is reserved by
  remapping.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

HIGH_DATE = "9999-12-31 00:00:00"


def hash_surrogate_key(df: DataFrame, sk_col: str, cols: list[str]) -> DataFrame:
    """Deterministic, distributed surrogate key from the natural key + version.

    xxhash64 runs in whole-stage codegen — no shuffle, no driver
    bottleneck. 0 is reserved for the Unknown row: a real hash of 0
    (p ~ 2^-64) is remapped to 1.
    """
    h = F.xxhash64(*[F.col(c) for c in cols])
    return df.withColumn(sk_col, F.when(h == 0, F.lit(1)).otherwise(h))


def sequential_surrogate_key(
    df: DataFrame, sk_col: str, order_by: list[str], offset: int = 0
) -> DataFrame:
    """Reference-parity sequential SK (global row_number + offset).

    Kept for parity with ``Meta_Guideline.md:2623-2627`` and for small
    dims; the empty-partition window is a deliberate single-partition
    sort — do NOT use on large dims (use ``hash_surrogate_key``).
    """
    w = Window.orderBy(*order_by)
    return df.withColumn(sk_col, F.row_number().over(w) + F.lit(offset))


def scd2_from_history(
    df: DataFrame,
    nk: list[str],
    attrs: list[str],
    order_col: str,
    start_col: str = "effective_start_ts",
    end_col: str = "effective_end_ts",
    current_col: str = "is_current",
) -> DataFrame:
    """Collapse a change history into SCD2 version rows (initial load).

    Consecutive snapshots of the same natural key with identical
    ``attrs`` merge into one version; each change opens a new version.
    ``lag`` detects changes (null-safely), a running ``sum`` numbers
    version groups, a groupBy collapses them, and ``lead`` chains
    effective dates — exactly one hash exchange on ``nk`` feeds all
    four window/agg steps since they share the partitioning key.
    """
    by_key = Window.partitionBy(*nk).orderBy(order_col)

    changed = F.lit(False)
    for a in attrs:
        changed = changed | ~F.col(a).eqNullSafe(F.lag(a).over(by_key))
    is_new_version = F.when(
        F.lag(order_col).over(by_key).isNull(), F.lit(True)
    ).otherwise(changed)

    versioned = df.withColumn(
        "__version",
        F.sum(is_new_version.cast("long")).over(
            by_key.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    collapsed = versioned.groupBy(*nk, "__version").agg(
        F.min(order_col).alias(start_col),
        *[F.first(a).alias(a) for a in attrs],
    )
    by_key_v = Window.partitionBy(*nk).orderBy(start_col)
    high = F.lit(HIGH_DATE).cast("timestamp")
    return (
        collapsed.withColumn(end_col, F.lead(start_col, 1, None).over(by_key_v))
        .withColumn(end_col, F.coalesce(F.col(end_col), high))
        .withColumn(current_col, F.col(end_col) == high)
        .drop("__version")
    )


def scd2_apply_changes(
    dim: DataFrame,
    updates: DataFrame,
    nk: list[str],
    attrs: list[str],
    change_ts_col: str,
    start_col: str = "effective_start_ts",
    end_col: str = "effective_end_ts",
    current_col: str = "is_current",
) -> DataFrame:
    """Incremental SCD2 merge: close out changed current rows, insert new versions.

    Pure-DataFrame equivalent of a Delta ``MERGE`` (reference does a
    full-dimension rewrite, ``Meta_Guideline.md:2630-2659``; on a
    Delta/Iceberg table swap the final union for ``MERGE INTO``).
    ``updates`` carries one row per natural key (dedup upstream).
    Comparison is null-safe.
    """
    unchanged, closed, fresh = _scd2_parts(
        dim, updates, nk, attrs, change_ts_col, start_col, end_col, current_col
    )
    history = dim.filter(~F.col(current_col))
    cols = history.columns
    return (
        history.unionByName(unchanged.select(*cols))
        .unionByName(closed.select(*cols))
        .unionByName(fresh.select(*cols))
    )


def _scd2_parts(
    dim: DataFrame,
    updates: DataFrame,
    nk: list[str],
    attrs: list[str],
    change_ts_col: str,
    start_col: str,
    end_col: str,
    current_col: str,
):
    """(unchanged current rows, closed-out rows, fresh version rows) —
    the three CURRENT-row outcomes of an SCD2 change batch, shared by
    the full-rewrite and snapshot-MERGE application paths."""
    upd = updates.select(
        *nk, *attrs, F.col(change_ts_col).alias("__change_ts")
    ).alias("upd")
    current = dim.filter(F.col(current_col))

    same = F.lit(True)
    for a in attrs:
        same = same & F.col(f"cur.{a}").eqNullSafe(F.col(f"upd.{a}"))

    joined = current.alias("cur").join(upd, nk, "left")
    unchanged = joined.filter(F.col("upd.__change_ts").isNull() | same).select("cur.*")
    closed = (
        joined.filter(F.col("upd.__change_ts").isNotNull() & ~same)
        .select("cur.*", F.col("upd.__change_ts"))
        .withColumn(end_col, F.col("__change_ts"))
        .withColumn(current_col, F.lit(False))
        .drop("__change_ts")
    )
    high = F.lit(HIGH_DATE).cast("timestamp")
    fresh = (
        upd.join(current.alias("cur"), nk, "left")
        .filter(F.col(f"cur.{start_col}").isNull() | ~same)
        .select(*nk, *[F.col(f"upd.{a}").alias(a) for a in attrs], "__change_ts")
        .withColumn(start_col, F.col("__change_ts"))
        .withColumn(end_col, high)
        .withColumn(current_col, F.lit(True))
        .drop("__change_ts")
    )
    return unchanged, closed, fresh


def scd2_apply_changes_snapshot(
    spark,
    path: str,
    updates: DataFrame,
    nk: list[str],
    attrs: list[str],
    change_ts_col: str,
    start_col: str = "effective_start_ts",
    end_col: str = "effective_end_ts",
    current_col: str = "is_current",
) -> dict:
    """Apply an SCD2 change batch to a snapshot-versioned dimension via
    copy-on-write MERGE — the Delta-``MERGE`` path the reference's
    full-dimension rewrite (``Meta_Guideline.md:2728-2731``) becomes on
    a modern table format, here on the plain-parquet snapshot module.

    Identical semantics to reading the table, running
    :func:`scd2_apply_changes`, and rewriting everything — but only
    the DELTA rows ride the merge: close-outs (existing
    ``(nk, start)`` key -> matched, row replaced with end/current
    flipped) and fresh versions (new ``(nk, start)`` key -> inserted).
    Files holding only untouched keys carry over by reference.
    Precondition (monotone CDC): a change's timestamp is strictly
    after the current version's ``start_col`` — the standard
    assumption; equal timestamps would make the close-out and the
    fresh row collide on the merge key, which
    ``check_duplicate_keys`` turns into an explicit error.
    Returns the snapshot merge report.
    """
    from aws_medallion_etl_spark import snapshot as _snap

    dim = _snap.snapshot_read(spark, path)
    _unchanged, closed, fresh = _scd2_parts(
        dim, updates, nk, attrs, change_ts_col, start_col, end_col, current_col
    )
    cols = dim.columns
    delta = closed.select(*cols).unionByName(fresh.select(*cols))
    return _snap.merge_into(
        spark, path, delta, on=[*nk, start_col],
        when_matched="update", when_not_matched="insert",
        check_duplicate_keys=True,
    )


def with_unknown_row(
    dim: DataFrame, defaults: dict[str, object], spark=None
) -> DataFrame:
    """Prepend the mandatory Unknown member (SK=0) to a dimension.

    Reference: ``Meta_Guideline.md:2689-2706`` — SK=0, id '-1',
    'Unknown' labels, country 'XX', effective 1900-01-01 -> 9999-12-31.
    (The copilot docs say SK=-1; requirements + implementation + tests
    use 0, which we follow — SURVEY.md §7.4.7.)
    """
    spark = spark or dim.sparkSession
    # Build the row JVM-side (range(1) + typed literal casts): no
    # Python->JVM data conversion, no schema re-inference, and literal
    # types can never drift from the dim schema.
    unknown = spark.range(1).select(
        *[
            F.lit(defaults.get(f.name)).cast(f.dataType).alias(f.name)
            for f in dim.schema.fields
        ]
    )
    return unknown.unionByName(dim)


def scd1_upsert(
    snapshot: DataFrame,
    changes: DataFrame,
    nk: list[str],
    order_by: list[str],
) -> DataFrame:
    """CDC upsert: apply a change feed onto a snapshot, newest row per
    key wins (SCD Type 1 merge).

    union + ``max_by`` aggregation — the same map-side-combined plan
    as the silver dedup, so the shuffle carries one candidate per
    (partition × key), not snapshot + feed. On a Delta/Iceberg table
    this is ``MERGE WHEN MATCHED UPDATE WHEN NOT MATCHED INSERT``;
    the sandbox has neither (SCALING.md), so the engine-native form
    re-materializes the merged snapshot — which is also the shape
    that bulk-backfills best at 100 TB (one wide write, no per-row
    update amplification).
    """
    from aws_medallion_etl_spark.operators.dedup import dedup_max_by

    return dedup_max_by(snapshot.unionByName(changes), nk, order_by)


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
    compare_cols: list[str] | None = None,
    out_col: str = "change_type",
    assert_unique: bool = False,
) -> DataFrame:
    """Reconcile two table snapshots: one row per key with
    ``change_type`` in {added, removed, changed, unchanged}.

    The CDC-audit counterpart of :func:`scd1_upsert` — given
    yesterday's and today's materializations, classify every key by a
    single FULL OUTER join on the natural key (one shuffle per side,
    sort-merge at any scale) with null-safe column comparison
    (``<=>``), so NULL→value and value→NULL edits count as changes,
    not as matches. ``compare_cols`` defaults to every shared non-key
    column. Output carries the coalesced key columns + ``change_type``;
    join back to either side for payloads.

    CONTRACT: ``keys`` must be unique in BOTH snapshots — a duplicated
    key fans the full outer join out to multiple classified rows,
    double-counting the audit while hiding the defect. Pass
    ``assert_unique=True`` to pay two extra aggregates and fail fast
    (``dq.UniquenessViolation``) instead; it is off by default because
    snapshots that just passed a pipeline's NK dedup have the property
    by construction.
    """
    if assert_unique:
        from aws_medallion_etl_spark.operators import dq

        dq.check_unique(old, keys, label="snapshot_diff(old)")
        dq.check_unique(new, keys, label="snapshot_diff(new)")
    if compare_cols is None:
        compare_cols = [
            c for c in old.columns if c not in keys and c in new.columns
        ]
    o = old.select(
        *[F.col(k).alias(f"__ok_{k}") for k in keys],
        *[F.col(c).alias(f"__oc_{c}") for c in compare_cols],
        F.lit(1).alias("__in_old"),
    )
    n = new.select(
        *[F.col(k).alias(f"__nk_{k}") for k in keys],
        *[F.col(c).alias(f"__nc_{c}") for c in compare_cols],
        F.lit(1).alias("__in_new"),
    )
    cond = F.lit(True)
    for k in keys:
        cond = cond & F.col(f"__ok_{k}").eqNullSafe(F.col(f"__nk_{k}"))
    joined = o.join(n, cond, "full_outer")
    differs = F.lit(False)
    for c in compare_cols:
        differs = differs | ~F.col(f"__oc_{c}").eqNullSafe(F.col(f"__nc_{c}"))
    change = (
        F.when(F.col("__in_old").isNull(), F.lit("added"))
        .when(F.col("__in_new").isNull(), F.lit("removed"))
        .when(differs, F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return joined.select(
        *[
            F.coalesce(F.col(f"__ok_{k}"), F.col(f"__nk_{k}")).alias(k)
            for k in keys
        ],
        change.alias(out_col),
    )


def inferred_members(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    defaults: dict[str, object],
    flag_col: str = "is_inferred",
) -> DataFrame:
    """Late-arriving-dimension handling, step up from the single
    Unknown row: every fact FK with NO dim member gets a PLACEHOLDER
    row carrying its natural key (Kimball "inferred member"), so facts
    join to a real key instead of collapsing into one Unknown bucket —
    and when the true dimension row finally arrives, a normal SCD1/
    SCD2 merge overwrites the placeholder in place.

    Returns ``dim`` + one inferred row per distinct unmatched FK,
    flagged with ``flag_col`` (existing rows get ``false``). Plan:
    distinct unmatched keys via LEFT ANTI against the dim (broadcast
    the dim key column — it is one narrow column even when the full
    dim is wide), defaults applied as typed literals, one union.
    """
    missing = (
        fact.select(F.col(fact_key).alias(dim_key))
        .where(F.col(dim_key).isNotNull())
        .distinct()
        .join(F.broadcast(dim.select(dim_key)), dim_key, "left_anti")
    )
    inferred = missing.select(
        *[
            F.col(dim_key).alias(f.name)
            if f.name == dim_key
            else F.lit(defaults.get(f.name)).cast(f.dataType).alias(f.name)
            for f in dim.schema.fields
        ]
    ).withColumn(flag_col, F.lit(True))
    return dim.withColumn(flag_col, F.lit(False)).unionByName(inferred)
