"""Data-quality assertions shared across layers.

The gate-style checks that raise before any write (reference:
``Meta_Guideline.md:2987-3030``). The
fact-specific invariants (grain / balance / non-negative) live in
``operators.facts``; this module holds the cross-cutting ones.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


class UniquenessViolation(RuntimeError):
    """Raised when values in the checked columns are not unique."""


def check_unique(df: DataFrame, cols: list[str], label: str = "") -> None:
    """Assert ``cols`` tuples are unique (surrogate-key collision gate).

    One aggregation (total vs exact distinct) — the collision check
    ``hash_surrogate_key`` relies on: xxhash64 collisions are ~2^-64
    per pair but MUST fail loudly, not corrupt a dimension silently.
    """
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct(*[F.col(c) for c in cols]).alias("d"),
    ).collect()[0]
    if row["n"] != row["d"]:
        raise UniquenessViolation(
            f"{label or cols}: {row['n']} rows but {row['d']} distinct {cols}"
        )


def profile(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """One-pass column profiler: (column, n_rows, n_nulls, null_frac,
    n_distinct) per profiled column — the DQ summary the reference's
    quality framework reports per table (``README.md:600-636``).

    ALL per-column aggregates are computed in a SINGLE aggregate over
    one scan (one wide row), then unpivoted driver-free with ``stack``
    — profiling 50 columns costs one pass, not 50. Exact
    ``count_distinct`` keeps the result oracle-checkable; at 100 TB
    swap in ``approx_count_distinct`` per column (same shape, no
    dedup-expand shuffle) when the exact cardinality isn't required.
    """
    cols = cols or df.columns
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs.append(F.count(F.when(F.col(c).isNull(), 1)).alias(f"__nn_{c}"))
        aggs.append(F.count_distinct(F.col(c)).alias(f"__nd_{c}"))
    wide = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', `__nn_{c}`, `__nd_{c}`" for c in cols
    )
    return wide.select(
        F.expr(
            f"stack({len(cols)}, {stack_args}) AS (column, n_nulls, n_distinct)"
        ),
        F.col("__n").alias("n_rows"),
    ).select(
        "column",
        "n_rows",
        "n_nulls",
        F.round(F.col("n_nulls") / F.col("n_rows"), 4).alias("null_frac"),
        "n_distinct",
    )


def histogram(
    df: DataFrame,
    value_col: str,
    nbins: int = 10,
    ndigits: int = 4,
) -> DataFrame:
    """Equi-width histogram with data-driven bounds in two passes.

    Pass 1 computes global (min, max) — a 1-row all-reduce; pass 2
    assigns ``bin = floor((x - min) / width)`` clamped to
    ``nbins - 1`` (so ``x = max`` lands in the last bin) and
    hash-aggregates counts. The stats row rides a broadcast cross
    join (the J7 pattern) — nothing collects, both passes are one
    scan each, and the bin math is plain double arithmetic any engine
    reproduces bit-for-bit.
    """
    stats = df.agg(
        F.min(value_col).alias("__lo"), F.max(value_col).alias("__hi")
    )
    binned = df.select(value_col).crossJoin(F.broadcast(stats))
    width = (F.col("__hi") - F.col("__lo")) / F.lit(float(nbins))
    raw_bin = F.floor((F.col(value_col) - F.col("__lo")) / width)
    # degenerate distribution (min == max): width 0 makes raw_bin
    # null; every row belongs in bin 0, not the clamp bin
    bin_id = (
        F.when(F.col("__hi") == F.col("__lo"), F.lit(0))
        .otherwise(F.least(raw_bin, F.lit(nbins - 1)))
        .cast("long")
    )
    return (
        binned.groupBy(bin_id.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min(value_col), ndigits).alias("bin_min"),
            F.round(F.max(value_col), ndigits).alias("bin_max"),
        )
    )


def skew_report(
    df: DataFrame,
    key_col: str,
    k: int = 10,
    ndigits: int = 4,
    max_salt: int = 256,
) -> DataFrame:
    """Heavy-key diagnosis: the top-k hottest join/agg keys plus the
    global skew ratio (hottest key count / mean key count).

    This is the report that decides whether a join needs salting
    (``enrich.salted_join``) or AQE skew handling. One hash aggregate
    over the keys, a 1-row stats reduce over THAT (key-cardinality
    rows, not data rows), and a TakeOrdered top-k — safe at any scale.

    ``recommended_salt`` closes the loop to the remediation lever: the
    salt factor that splits THIS key into sub-keys of roughly mean key
    size — ``ceil(key_count / mean_count)``, 1 for non-hot keys — i.e.
    the ``salt`` argument to pass ``enrich.salted_join`` so the
    hottest post-salt partition lands near the average one. Capped at
    ``max_salt`` (default 256): beyond that the replicated build side
    costs more than residual skew, and a key hotter than
    256x mean wants the broadcast/AQE path instead.
    """
    per_key = df.groupBy(key_col).agg(F.count(F.lit(1)).alias("key_count"))
    stats = per_key.agg(
        F.round(F.avg("key_count"), ndigits).alias("mean_count"),
        F.max("key_count").alias("max_count"),
    )
    return (
        per_key.crossJoin(F.broadcast(stats))
        .withColumn(
            "skew_ratio",
            F.round(F.col("max_count") / F.col("mean_count"), ndigits),
        )
        .withColumn(
            "recommended_salt",
            F.least(
                F.lit(max_salt),
                F.ceil(F.col("key_count") / F.col("mean_count")),
            ).cast("long"),
        )
        .orderBy(F.desc("key_count"), F.asc(key_col))
        .limit(k)
    )


def winsorize(
    df: DataFrame,
    col: str,
    lo: float = 0.05,
    hi: float = 0.95,
    out_col: str | None = None,
    approx: bool = False,
) -> DataFrame:
    """Winsorization: clamp ``col`` into its [lo, hi] percentile band —
    the standard robust pre-processing for heavy-tailed numeric
    features (unlike dropping outliers, row count and grain are
    preserved).

    One 1-row percentile reduction rides a broadcast cross join onto a
    single clamping scan — the same scalar-stats shape as
    ``enrich.with_scalar_stats`` / ``dq_mad_outliers``. Exact
    ``percentile`` keeps oracle parity; pass ``approx=True`` at 100 TB
    for the mergeable-sketch reduction (same plan, no sort buffer).
    """
    fn = "approx_percentile" if approx else "percentile"
    bounds = df.agg(
        F.expr(f"{fn}({col}, {lo})").alias("__wlo"),
        F.expr(f"{fn}({col}, {hi})").alias("__whi"),
    )
    clipped = F.least(F.greatest(F.col(col), F.col("__wlo")), F.col("__whi"))
    return (
        df.crossJoin(F.broadcast(bounds))
        .withColumn(out_col or f"{col}_winsorized", clipped)
        .drop("__wlo", "__whi")
    )


def date_gaps(df: DataFrame, date_col: str) -> DataFrame:
    """Missing-date ranges inside [min, max] of ``date_col`` — the
    backfill planner: a scheduler diffing "what should exist" against
    "what landed" gets contiguous (gap_start, gap_end, n_days) runs it
    can submit as backfill jobs, instead of a raw date list.

    Plan: one 1-row min/max reduction rides a broadcast cross join
    onto an exploded calendar (the calendar is bounded by the DATE
    span, never data volume), LEFT ANTI against the distinct observed
    dates, then gaps-and-islands (date - row_number) groups runs. The
    only data-proportional work is the distinct over observed dates —
    map-side combined, shrinks to the span size immediately.
    """
    bounds = df.agg(
        F.min(F.col(date_col)).alias("__lo"), F.max(F.col(date_col)).alias("__hi")
    )
    cal = (
        df.sparkSession.range(1)
        .crossJoin(F.broadcast(bounds))
        .select(F.explode(F.sequence("__lo", "__hi")).alias("__day"))
    )
    observed = df.select(F.col(date_col).alias("__day")).distinct()
    missing = cal.join(observed, "__day", "left_anti")
    w = Window.orderBy("__day")
    runs = missing.withColumn(
        "__grp", F.date_sub(F.col("__day"), F.row_number().over(w))
    )
    return (
        runs.groupBy("__grp")
        .agg(
            F.min("__day").alias("gap_start"),
            F.max("__day").alias("gap_end"),
            F.count(F.lit(1)).alias("n_days"),
        )
        .drop("__grp")
    )


def dataset_fingerprint(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Order-independent content fingerprint: one row ``(n_rows,
    fingerprint)`` where the fingerprint is the SUM of a 60-bit
    md5-derived value per row over the canonicalized column text.

    The cheap answer to "did the incremental path produce the same
    table as the rebuild?" — compare two 1-row results instead of
    anti-joining terabytes. Because the combiner is addition:

    * row order and partitioning never matter (no sort needed);
    * fingerprints of DISJOINT parts add up to the whole's, so a
      backfill can be verified shard-by-shard and folded;
    * any single-row change moves the sum with probability
      ~1 - 2^-60.

    It is NOT a multiset equality proof (adversarial collisions
    exist) — it is a drift tripwire, the same contract as a checksum.

    Canonicalization is ``cast(col as string)`` joined with a 0x1f
    separator, NULL as 0x00 — portable to any engine with md5 (the
    oracle recomputes it in DuckDB). Pass integer/string/date columns;
    float columns should be rounded/scaled to exact decimals first
    (float-to-string formatting is engine-specific).

    Plan: one scan, one md5 + hex-to-decimal conversion per row in
    the projection (all codegen), one 1-row hash aggregate with
    map-side partial sums — the cheapest full-table statement there
    is, and the shuffle carries one decimal per partition.
    """
    return df.agg(*fingerprint_aggs(cols or df.columns))


def fingerprint_aggs(cols: list[str]) -> list:
    """The two aggregates of :func:`dataset_fingerprint` over ``cols``
    (``n_rows``, ``fingerprint``) — for callers that collect them off
    an action they run anyway, e.g. as an ``Observation`` on a write."""
    canon = F.concat_ws(
        "\x1f", *[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in cols]
    )
    h = F.conv(F.substring(F.md5(canon), 1, 15), 16, 10).cast("decimal(38,0)")
    # the additive identity: an EMPTY frame fingerprints as 0, not
    # NULL — required for the shard-additivity contract and for the
    # report ledger (str(None) is not a checksum)
    return [
        F.count(F.lit(1)).alias("n_rows"),
        F.coalesce(F.sum(h), F.lit(0).cast("decimal(38,0)")).alias("fingerprint"),
    ]


def k_anonymity_report(
    df: DataFrame, quasi_cols: list[str], k: int = 10
) -> DataFrame:
    """Groups of quasi-identifier values occupied by FEWER than ``k``
    rows — the re-identification risk report (a record whose
    quasi-identifier combination is rare is linkable back to a person
    even after direct identifiers are redacted; the privacy
    counterpart of ``corpus.redact_pii``, which only strips the
    direct ones).

    Returns ``(quasi_cols..., n_rows)`` for every violating group —
    empty means the table IS k-anonymous at this ``k``. Consumers
    suppress or generalize the flagged groups before release.

    One hash aggregate over the quasi columns (map-side partials), a
    HAVING filter — the output is bounded by the number of RARE
    combinations, the one thing that grows slower as data grows.
    """
    if k < 2:
        raise ValueError("k_anonymity_report: k must be >= 2")
    if not quasi_cols:
        raise ValueError("k_anonymity_report: quasi_cols is empty")
    return (
        df.groupBy(*quasi_cols)
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .where(F.col("n_rows") < k)
        .select(*quasi_cols, F.col("n_rows").cast("long").alias("n_rows"))
    )


def l_diversity_report(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
    l: int = 3,  # noqa: E741 — the literature's own name for the parameter
) -> DataFrame:
    """Quasi-identifier groups whose SENSITIVE attribute takes fewer
    than ``l`` distinct values — k-anonymity's complement: a group can
    be large (k-anonymous) yet still leak the sensitive value outright
    when every member shares it (the homogeneity attack l-diversity
    exists to name).

    Returns ``(quasi_cols..., n_rows, n_sensitive)`` for violating
    groups; empty means every group is l-diverse. Same shape as
    :func:`k_anonymity_report`: one hash aggregate (count + distinct
    count per group), HAVING filter, output bounded by the violating
    combinations. NULL sensitive values do not count as a distinct
    value (an absent value discloses nothing).
    """
    if l < 2:
        raise ValueError("l_diversity_report: l must be >= 2")
    if not quasi_cols:
        raise ValueError("l_diversity_report: quasi_cols is empty")
    return (
        df.groupBy(*quasi_cols)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct(F.col(sensitive_col)).alias("n_sensitive"),
        )
        .where(F.col("n_sensitive") < l)
        .select(
            *quasi_cols,
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col("n_sensitive").cast("long").alias("n_sensitive"),
        )
    )
