"""Incremental materialized-view maintenance over snapshot tables.

The consumer Delta built row tracking + CDF for: keep a rollup table
(a GROUP BY materialization of a big fact table) current by applying
only the CHANGED rows since the last refresh, never rescanning the
base. This module closes that loop with the pieces this engine
already ships:

* the delta comes from :func:`snapshot.snapshot_changes` with
  ``row_ids=True`` — no user key columns needed, so ANY base table
  with row tracking qualifies, including keyless event logs;
* the refresh cursor is the base version stamped as a per-app txn
  mark ON THE MV TABLE (:func:`snapshot.last_txn_version`) — the same
  idempotent-writer contract the streaming sinks use, so a replayed
  refresh no-ops and a crashed one re-runs from the last committed
  cursor;
* the MV update itself is ONE conditional :func:`snapshot.merge_into`
  of the AFFECTED groups only; groups whose row count reached zero
  delete inside the same commit.

Both refreshers share one maintenance core. Each projects its change
rows into a SIGNED-ROWS frame (``__sign`` = +1 for a row entering the
view, -1 for a row leaving it, plus its measures);
:meth:`_Rollup.delta` aggregates that frame per group and
:func:`_apply_delta` applies the keyed delta to the MV. The two
refreshers differ only in how they build their signed rows and how
they recompute at-risk groups.

Scale shape: a refresh reads commit CHURN (the CDF manifest diff
excludes untouched files before any data is read), aggregates it with
one keyed shuffle, joins the delta against the MV (MV side is
group-cardinality-sized — AQE broadcasts it), and merges into the MV
with file pruning. Cost tracks change volume, not base-table size —
at 100 TB the nightly refresh of a by-day/by-source rollup reads the
day's commits, not the table.

Aggregate support (round 12 widened past sum/count — the reference's
gold rollups carry ``avg_*`` columns, ``Meta_Guideline.md:2947-2954``):

* ``sums`` (and the implicit ``n_rows`` count) are SUBTRACTABLE —
  maintained purely from the delta;
* ``avgs`` ride exact integer companions (``__sum_<c>`` /
  ``__cnt_<c>``, both subtractable) with the double quotient
  materialized in ONE division at merge time — cross-engine float
  discipline: the stored sums/counts are bit-exact, only the final
  column is floating point;
* ``mins`` / ``maxs`` are NOT subtractable: inserts fold in with
  ``least``/``greatest``, and only the groups a delete actually put
  AT RISK (a deleted value that ties the stored extreme, or a group
  first seen mid-window with deletes) recompute — against the base
  with the manifest's group-column stats pruning
  (:func:`snapshot.snapshot_read` ``prune=``), so recompute cost
  tracks at-risk-group data, not base size.

Read contract: since round 13 a refresh is ONE atomic commit — the
conditional MERGE clauses (``matched_delete_where="n_rows = 0"``,
``insert_where="n_rows > 0"``) delete emptied groups and decline
already-empty inserts inside the same version, so a current refresher
can never expose a phantom ``n_rows = 0`` group. The ``n_rows > 0``
filter in :func:`read_rollup` and the pre-refresh self-heal probe
remain for MVs last written by a pre-round-13 refresher (whose
merge+delete window could crash in between); the probe is
manifest-stats-only and free when no phantom is possible. Keep
reading MVs through :func:`read_rollup`.
"""

from __future__ import annotations

import functools
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from aws_medallion_etl_spark import snapshot as snap
from aws_medallion_etl_spark._ckpt import reclaim_scope


def _reclaiming(fn):
    """Free the wrapped refresh's localCheckpoint blocks on exit.

    The refreshers cut delta/joined lineage with lazy
    ``localCheckpoint`` so the merge's probe/validate/write branches
    compute it once — but those blocks have no Dataset-level handle
    and previously stayed resident until a GC/ContextCleaner drain,
    taxing whatever ran next (measured round 14: the bench needed an
    explicit per-DML-query ``System.gc()``; action-heavy MV queries
    read 26→47 s deep in the suite vs 12.4 s solo on identical code).
    Every refresh returns a plain dict — all its actions complete
    inside — so the id-delta is provably dead at return
    (:func:`aws_medallion_etl_spark._ckpt.reclaim_scope`).
    """
    @functools.wraps(fn)
    def wrapper(spark, *args, **kwargs):
        with reclaim_scope(spark.sparkContext):
            return fn(spark, *args, **kwargs)
    return wrapper


# txn-mark app id recording "this MV satisfies the atomic-refresh
# read contract": stamped by the one-shot upgrade_rollup (legacy
# tables; current ones answer the probe from manifest stats already).
# Once present at a version,
# no phantom n_rows=0 row can exist at or after it (refreshes are
# single-commit since round 13), so read_rollup's filter and the
# self-heal probe skip permanently. The txn map carries forward per
# commit, which makes the marker time-travel-correct for free.
_CONTRACT_APP = "mv.contract.atomic"


def read_rollup(
    spark: SparkSession, mv_path: str, version: int | None = None
) -> DataFrame:
    """Read a rollup MV with the consumer contract applied: phantom
    ``n_rows = 0`` groups are filtered out. Since round 13 a current
    refresher can't produce one (the refresh commit is atomic); the
    filter guards MVs last written by a pre-round-13 refresher, whose
    merge+delete window could crash in between — and is skipped
    entirely once the table carries :func:`upgrade_rollup`'s contract
    marker at the read version. Always read MVs through this, not a
    bare ``snapshot_read``."""
    # resolve the version ONCE so the data snapshot and the marker
    # probe agree — with version=None a concurrent upgrade_rollup
    # landing between two separate "current" reads could mark the
    # table AFTER the data pinned to a still-phantom version
    v = snap.current_version(mv_path) if version is None else version
    df = snap.snapshot_read(spark, mv_path, version=v)
    if snap.last_txn_version(mv_path, _CONTRACT_APP, version=v):
        return df
    return df.where(F.col("n_rows") > 0)


def upgrade_rollup(spark: SparkSession, mv_path: str) -> dict:
    """One-shot upgrade of a LEGACY rollup MV (last written by a
    pre-round-13 refresher) to the atomic-refresh read contract: one
    commit deletes any phantom ``n_rows = 0`` rows (COW, so the
    affected files' regenerated stats stop admitting zeros) and stamps
    the contract marker as the same commit's txn mark. From then on a
    bare ``snapshot_read`` is safe, :func:`read_rollup` skips its
    filter, and every refresh answers the phantom probe from the
    marker alone — zero Spark jobs, forever (current refreshers are
    single-commit and cannot mint a new phantom). Idempotent: a second
    call sees the marker and no-ops (txn replay contract).

    Returns ``{"version", "phantoms_deleted", "already_upgraded"}``.
    """
    if snap.current_version(mv_path) is None:
        raise ValueError(f"upgrade_rollup: {mv_path} is not a snapshot table")
    if (snap.last_txn_version(mv_path, _CONTRACT_APP) or 0) >= 1:
        return {"version": snap.current_version(mv_path),
                "phantoms_deleted": 0, "already_upgraded": True}
    # one commit: phantom purge + marker. A zero-match txn-marked
    # delete still commits a data-less version (the replay contract),
    # so the marker lands either way.
    res = snap.delete_where(
        spark, mv_path, "n_rows = 0", mode="cow",
        txn=(_CONTRACT_APP, 1),
    )
    return {"version": res["version"],
            "phantoms_deleted": res["deleted_rows"],
            "already_upgraded": False}


def _zero_groups_possible(mv_path: str) -> bool:
    """Can the MV hold a phantom ``n_rows = 0`` row? Answered from the
    manifest's per-file ``n_rows`` [min, max] stats — pure driver-side
    bookkeeping, NO Spark job (round 13: the per-refresh self-heal
    probe was one full scheduler round-trip even when provably
    unnecessary, ~0.3 s each at the local floor). Conservative by
    construction: missing stats, a legacy MV created before ``n_rows``
    joined the stats columns, or a min of 0 left behind by a MOR
    delete (DVs never narrow file stats) all answer True and fall
    back to the exact probe. Because a heal's MOR delete leaves that
    min-0 stat in place forever, a healed legacy MV keeps paying the
    limit(1) probe each refresh until a ``snapshot.compact()`` (or
    the one-shot :func:`upgrade_rollup`) rewrites the file and
    restores the zero-job fast path. The upgrade's contract marker
    short-circuits everything: marked tables answer False from the
    txn map alone, stats not consulted."""
    if (snap.last_txn_version(mv_path, _CONTRACT_APP) or 0) >= 1:
        return False
    try:
        sts = snap.manifest_column_stats(mv_path, "n_rows")
    except Exception:
        return True
    return any(
        not st or st.get("min") is None or st["min"] <= 0 for st in sts
    )


# Broadcast guard (round 14): the join-MV used to force-broadcast the
# entire current dim at every join site — correct while the dim honors
# the docstring's "(small)" contract, an executor/driver OOM the day it
# doesn't (at the 100 TB design point dim_user is not small). The hint
# is now gated on a MANIFEST-ONLY in-memory estimate: live on-disk
# bytes (DV-prorated) x a deserialization expansion factor, zero Spark
# jobs. Above the threshold the provably-bounded side carries the hint
# instead when ITS manifest bound fits (the CDF delta in term 1, the
# signed dim delta in term 2), else no hint at all and AQE picks the
# strategy from observed runtime sizes. Crossover documented in
# SCALING.md ("join-MV broadcast guard").
_BCAST_DEFAULT_BYTES = 64 << 20
# deserialized row objects vs snappy parquet on disk — deliberately
# conservative (typical measured expansion is 2-3x for mixed schemas)
_PARQUET_EXPANSION = 4


def _bcast_est_bytes(path: str, version: int) -> int:
    """Estimated in-memory broadcast size of a table at a version —
    manifest + file-stat driver work only, no Spark job."""
    return snap.live_bytes(path, version=version) * _PARQUET_EXPANSION


def _row_bytes_est(path: str, version: int) -> float:
    """Estimated in-memory bytes per live row at a version."""
    rows = snap.live_rows(path, version=version)
    return _bcast_est_bytes(path, version) / max(1, rows)


def _maybe_broadcast(df: DataFrame, est_bytes: float,
                     threshold: int) -> DataFrame:
    return F.broadcast(df) if est_bytes <= threshold else df


def _with_avg_cols(df: DataFrame, avgs: dict[str, str]) -> DataFrame:
    """Append the materialized avg columns: one exact division of the
    two integer companions (NULL when no non-null values — SQL AVG).
    One definition, so the avg contract can't diverge between paths."""
    return df.select("*", *[
        F.when(
            F.col(f"__cnt_{out}") > 0,
            F.col(f"__sum_{out}").cast("double") / F.col(f"__cnt_{out}"),
        ).alias(out)
        for out in avgs
    ]) if avgs else df


def _null_any(group_cols):
    """OR of per-column IS NULL over the group columns."""
    pred = None
    for c in group_cols:
        p = F.col(c).isNull()
        pred = p if pred is None else (pred | p)
    return pred


def _null_group_error(fn: str, n_nulls: int, group_cols) -> ValueError:
    return ValueError(
        f"{fn}: {n_nulls} delta row(s) carry NULL in a "
        f"group column {list(group_cols)} — NULL group keys never "
        "match their MV row under MERGE semantics and would "
        "accumulate duplicates; coalesce them to a sentinel first"
    )


def _count_groups_checked(merged: DataFrame, group_cols, fn: str) -> int:
    """Count the merged delta's groups AND enforce the NON-NULL
    group-key contract in the same single action: a NULL group key
    never matches its own MV row under MERGE's NULL semantics, so each
    refresh would INSERT another partial NULL-group row — silent
    accumulation. Refuse loudly before anything commits; coalesce
    nullable grouping columns to a sentinel upstream."""
    row = merged.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(_null_any(group_cols).cast("long")).alias("__nulls"),
    ).first()
    if row["__nulls"]:
        raise _null_group_error(fn, row["__nulls"], group_cols)
    return row["__n"]


def _check_out_names(fn: str, out_names: list, group_cols) -> None:
    """Alias hygiene shared by both refreshers: every output alias
    lands in ONE flat MV schema (avgs additionally mint __sum_/__cnt_
    companions) — duplicates or reserved names would create ambiguous
    or silently duplicated columns at create time and corrupt merges
    after."""
    dupes = {o for o in out_names if out_names.count(o) > 1}
    reserved = ({"n_rows"} | set(group_cols)) & set(out_names)
    if dupes or reserved:
        raise ValueError(
            f"{fn}: output aliases must be disjoint across the "
            f"aggregate maps (+ avg companions) and must not shadow "
            f"n_rows or a group column; duplicates={sorted(dupes)} "
            f"reserved={sorted(reserved)}"
        )


def _sign() -> Column:
    """+1 for a CDF row entering the table (insert / update
    postimage), -1 for one leaving it (delete / update preimage)."""
    return F.when(
        F.col("_change_type").isin("insert", "update_postimage"), F.lit(1)
    ).otherwise(F.lit(-1))


@dataclass(frozen=True)
class _Rollup:
    """A rollup MV's aggregate spec — each map takes output alias to a
    SQL expression over the base (or joined) row — and the frames the
    shared maintenance core builds from it."""

    group_cols: list
    sums: dict
    avgs: dict
    mins: dict
    maxs: dict

    @classmethod
    def of(cls, fn, group_cols, sums, avgs, mins, maxs) -> "_Rollup":
        """Normalize the optional maps and check the output aliases."""
        avgs, mins, maxs = (dict(m or {}) for m in (avgs, mins, maxs))
        _check_out_names(
            fn,
            [*sums, *avgs, *mins, *maxs]
            + [f"__sum_{o}" for o in avgs] + [f"__cnt_{o}" for o in avgs],
            group_cols,
        )
        return cls(list(group_cols), dict(sums), avgs, mins, maxs)

    @property
    def sub_cols(self) -> list:
        """(alias, expr) of the SUBTRACTABLE family: sums, plus each
        avg's exact integer ``__sum_`` companion."""
        return [*self.sums.items(),
                *((f"__sum_{o}", src) for o, src in self.avgs.items())]

    def full(self, rows: DataFrame) -> DataFrame:
        """The from-scratch aggregate of ``rows`` — both create paths
        and the join's dim-churn full recompute."""
        return _with_avg_cols(rows.groupBy(*self.group_cols).agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            *[F.sum(F.expr(src)).cast("long").alias(o)
              for o, src in self.sub_cols],
            *[F.count(F.expr(src)).cast("long").alias(f"__cnt_{o}")
              for o, src in self.avgs.items()],
            *[F.min(F.expr(src)).cast("long").alias(o)
              for o, src in self.mins.items()],
            *[F.max(F.expr(src)).cast("long").alias(o)
              for o, src in self.maxs.items()],
        ), self.avgs)

    def signed(self, rows: DataFrame, sign: Column) -> DataFrame:
        """Project change rows into the signed-rows frame: group
        columns, ``__sign``, each subtractable measure (``__m_``),
        each avg's non-null indicator (``__p_``) and each min/max
        measure as a raw value (``__x_``) so the delta can split it
        into insert-side folds and delete-side at-risk probes."""
        return rows.select(
            *self.group_cols,
            sign.alias("__sign"),
            *[F.expr(src).alias(f"__m_{o}") for o, src in self.sub_cols],
            *[F.expr(src).isNotNull().cast("long").alias(f"__p_{o}")
              for o, src in self.avgs.items()],
            *[F.expr(src).cast("long").alias(f"__x_{o}")
              for o, src in {**self.mins, **self.maxs}.items()],
        )

    def delta(self, signed: DataFrame) -> DataFrame:
        """The keyed signed group delta, ONE shuffle: signed sums of
        rows / measures / avg counts, and per min/max the positive
        rows' extreme (folds in monotonically) and the negative rows'
        extreme (decides which groups a removal could have changed)."""
        sign, pos = F.col("__sign"), F.col("__sign") > 0
        aggs = [
            F.sum(sign).cast("long").alias("__d_rows"),
            *[F.sum(sign * F.col(f"__m_{o}")).cast("long")
              .alias(f"__d_{o}") for o, _ in self.sub_cols],
            *[F.sum(sign * F.col(f"__p_{o}")).cast("long")
              .alias(f"__d_cnt_{o}") for o in self.avgs],
        ]
        for agg, outs in ((F.min, self.mins), (F.max, self.maxs)):
            for out in outs:
                aggs.append(agg(F.when(pos, F.col(f"__x_{out}")))
                            .cast("long").alias(f"__ins_{out}"))
                aggs.append(agg(F.when(~pos, F.col(f"__x_{out}")))
                            .cast("long").alias(f"__del_{out}"))
        if self.mins or self.maxs:
            aggs.append(F.sum((~pos).cast("long")).cast("long")
                        .alias("__n_del"))
        return signed.groupBy(*self.group_cols).agg(*aggs)

    def at_risk(self) -> Column:
        """The AT-RISK groups of a delta joined onto the MV. A negative
        row can only move an extreme if it TIES the stored one (values
        strictly inside the envelope are spectators; NULL-valued
        negatives never qualify — min/max skip NULLs), or the group has
        negatives but no MV row yet (its insert-side fold would
        overcount). Plus the NULL-extreme term: a NULL stored extreme
        makes the tie comparison NULL, yet a NON-NULL negative against
        it can only be half of a spurious cancel-pair (a genuine delete
        of v implies v was in the group, so the extreme was not NULL),
        whose positive twin would fold a value that is not in the
        group. Only the join's signed union produces such pairs — a
        single-table CDF window is netted per row, so the term never
        fires there."""
        risk = F.lit(False)
        for out in [*self.mins, *self.maxs]:
            d, stored = F.col(f"__del_{out}"), F.col(out)
            risk = risk | ((d <= stored) if out in self.mins
                           else (d >= stored)) | (
                d.isNotNull() & stored.isNull())
        return (F.col("__n_del") > 0) & (risk | F.col("n_rows").isNull())

    def recomputed(self, rows: DataFrame, risk_keys: DataFrame) -> DataFrame:
        """The at-risk groups' exact extremes (``__rc_*``, ``__rc``
        marks a recomputed group) from their current base rows."""
        return rows.join(risk_keys, self.group_cols, "semi") \
            .groupBy(*self.group_cols).agg(
                *[F.min(F.expr(src)).cast("long").alias(f"__rc_{o}")
                  for o, src in self.mins.items()],
                *[F.max(F.expr(src)).cast("long").alias(f"__rc_{o}")
                  for o, src in self.maxs.items()],
                F.lit(1).alias("__rc"),
            )

    def merged(self, joined: DataFrame, recomputed: bool) -> DataFrame:
        """The MV rows after the delta: stored + delta per subtractable
        column, least/greatest folds for min/max (a recomputed group
        takes its ``__rc_*`` value instead), avgs re-divided."""
        out_cols = [
            *self.group_cols,
            (F.coalesce("n_rows", F.lit(0)) + F.col("__d_rows"))
            .cast("long").alias("n_rows"),
            *[
                # both sides coalesced: a change batch whose rows all
                # carry NULL in a measure sums to a NULL delta, which
                # must not wipe the group's accumulated value
                (F.coalesce(o, F.lit(0))
                 + F.coalesce(F.col(f"__d_{o}"), F.lit(0)))
                .cast("long").alias(o)
                for o, _ in self.sub_cols
            ],
            *[
                (F.coalesce(f"__cnt_{o}", F.lit(0))
                 + F.coalesce(F.col(f"__d_cnt_{o}"), F.lit(0)))
                .cast("long").alias(f"__cnt_{o}")
                for o in self.avgs
            ],
        ]
        for fold, outs in ((F.least, self.mins), (F.greatest, self.maxs)):
            for out in outs:
                # least/greatest skip NULLs in both engines: a new group
                # takes the insert extreme, an untouched-extreme group
                # keeps its own
                v = fold(F.col(out), F.col(f"__ins_{out}"))
                if recomputed:
                    v = F.when(F.col("__rc").isNotNull(),
                               F.col(f"__rc_{out}")).otherwise(v)
                out_cols.append(v.cast("long").alias(out))
        return _with_avg_cols(joined.select(*out_cols), self.avgs)


def _create(spark: SparkSession, full: DataFrame, mv_path: str,
            group_cols, cursor: tuple, fn: str) -> int:
    """Create the MV from its full aggregate in ONE commit; returns
    its version. The commit carries the refresher's ``(app_id,
    cursor)`` mark and the :data:`_CONTRACT_APP` marker: a round-13+
    refresher is single-commit-atomic from birth, so the per-refresh
    phantom probe and read_rollup's ``n_rows`` filter are answered
    from the txn map with zero Spark jobs, exactly like an upgraded
    legacy table. ``n_rows`` rides the stats columns so the
    probe can be answered from the manifest alone otherwise.

    The NON-NULL group-key contract holds at create time too: an MV
    created with a NULL-group row would refuse every later refresh
    touching the group. The check rides the create write as an
    Observation (no separate count action); a NULL-group aggregate
    removes the just-written table (create is single-writer, nothing
    else can have seen it) and raises the refreshers' error."""
    from pyspark.sql import Observation

    obs = Observation()
    full = full.observe(
        obs, F.sum(_null_any(group_cols).cast("long")).alias("__nulls"))
    v = snap.snapshot_create(
        spark, full, mv_path, stats_cols=[*group_cols, "n_rows"],
        txn=[cursor, (_CONTRACT_APP, 1)],
    )
    n_nulls = obs.get["__nulls"]
    if n_nulls:
        import shutil

        shutil.rmtree(mv_path, ignore_errors=True)
        raise _null_group_error(f"{fn} (create)", n_nulls, group_cols)
    return v


def _open_cursor(spark: SparkSession, mv_path: str, app_id: str,
                 fn: str) -> int:
    """The MV's stamped ``app_id`` txn mark (the refresh cursor),
    after the phantom self-heal. The heal runs BEFORE the caller's
    cursor check: a crash between a pre-round-13 refresher's
    cursor-stamping merge and its zero-group delete would otherwise
    leave ``n_rows = 0`` phantoms forever (the replay early-returns).
    Two-tier probe: the manifest's ``n_rows`` stats prove the common
    no-phantom case with ZERO Spark jobs; only a possible phantom pays
    the limit(1) scan, and only a real one pays ``delete_where``."""
    mark = snap.last_txn_version(mv_path, app_id)
    if mark is None:
        raise ValueError(
            f"{fn}: {mv_path} exists but carries no "
            f"{app_id!r} cursor — it was not created by this refresher"
        )
    if _zero_groups_possible(mv_path) and snap.snapshot_read(
            spark, mv_path).where("n_rows = 0").limit(1).count():
        snap.delete_where(spark, mv_path, "n_rows = 0", mode="mor")
    return mark


def _merge_groups(spark: SparkSession, mv_path: str, merged: DataFrame,
                  group_cols, txn: tuple, n_changed: int) -> tuple:
    """ONE atomic commit (round 13, conditional MERGE clauses): live
    groups upsert, groups the delta emptied DELETE in the same commit,
    and a group that both appeared and emptied inside the window never
    inserts — no reader-visible phantom window, no second commit. The
    new cursor rides the commit as its txn mark. Returns
    ``(mv_version, applied)``; ``applied`` is False when a racing
    refresher landed this (or a later) window first, so the caller
    reports the no-op, not the loser's workload."""
    res = snap.merge_into(
        spark, mv_path, merged, on=list(group_cols), txn=txn,
        matched_delete_where="n_rows = 0",
        insert_where="n_rows > 0",
        small_source_hint=n_changed,
    )
    if res.get("skipped"):
        return res["version"], False
    return snap.current_version(mv_path), True


def _apply_delta(spark: SparkSession, mv_path: str, r: _Rollup,
                 delta: DataFrame, at_risk_rows, fn: str,
                 txn: tuple) -> tuple:
    """Apply a keyed signed group delta (:meth:`_Rollup.delta`) to the
    MV in one atomic commit; returns ``(mv_version, groups_changed,
    groups_recomputed)`` (zeros when the merge was skipped).

    The delta left-joins the MV (group-cardinality-sized). With
    min/max columns, ONE fused action answers the at-risk count, the
    recompute's prune envelope (risk-conditional ``__lo_``/``__hi_``
    per group column), AND the merged delta's group count + NON-NULL
    group-key check: the merged frame is a 1:1
    projection of the joined one (the recompute left-join is
    per-group unique), so its count and NULL-group content are
    exactly this frame's. At-risk groups go to the refresher's
    ``at_risk_rows(probe_row, risk_keys)``, which returns the base
    rows to recompute them from — pruned by the envelope, at the
    captured version(s); the core semi-joins them to the exact keys.
    Without min/max columns the count + NULL-group check is the only
    pre-merge action."""
    g = r.group_cols
    joined = delta.join(snap.snapshot_read(spark, mv_path), g, "left")
    n_changed, n_recompute, recomputed = None, 0, False
    if r.mins or r.maxs:
        # the probe AND the merged projection both consume this frame;
        # without a checkpoint each action re-reads the whole CDF
        # window lineage (measured: ~3 s per refresh at sf0.1)
        joined = joined.localCheckpoint(eager=False)
        risk = r.at_risk()
        probe_row = joined.agg(
            F.count(F.lit(1)).alias("__n_groups"),
            F.sum(_null_any(g).cast("long")).alias("__nulls"),
            F.count(F.when(risk, F.lit(1))).alias("__n"),
            *[f for c in g for f in (
                F.min(F.when(risk, F.col(c))).alias(f"__lo_{c}"),
                F.max(F.when(risk, F.col(c))).alias(f"__hi_{c}"),
            )]
        ).first()
        if probe_row["__nulls"]:
            raise _null_group_error(fn, probe_row["__nulls"], g)
        n_changed, n_recompute = probe_row["__n_groups"], probe_row["__n"]
        if n_recompute:
            risk_keys = joined.where(risk).select(*g) \
                .localCheckpoint(eager=False)
            rc = r.recomputed(at_risk_rows(probe_row, risk_keys), risk_keys)
            joined = joined.join(rc, g, "left")
            recomputed = True
    # the merge's probe/validate/write branches each consume this
    # frame — materialize the (group-cardinality-sized) delta once
    merged = r.merged(joined, recomputed).localCheckpoint(eager=False)
    if n_changed is None:
        n_changed = _count_groups_checked(merged, g, fn)
    v, applied = _merge_groups(spark, mv_path, merged, g, txn, n_changed)
    return (v, n_changed, n_recompute) if applied else (v, 0, 0)


@_reclaiming
def refresh_rollup(
    spark: SparkSession,
    base_path: str,
    mv_path: str,
    group_cols: list[str],
    sums: dict[str, str],
    app_id: str = "mv.rollup",
    mins: dict[str, str] | None = None,
    maxs: dict[str, str] | None = None,
    avgs: dict[str, str] | None = None,
) -> dict:
    """Create or incrementally refresh a rollup MV.

    ``sums`` / ``mins`` / ``maxs`` / ``avgs`` map output column names
    to base-table column expressions (SQL strings). The MV schema is
    ``group_cols + n_rows BIGINT + <sums> BIGINT + [per avg:
    __sum_<c> BIGINT, __cnt_<c> BIGINT, <c> DOUBLE] + <mins>/<maxs>
    BIGINT`` — integer measures by contract (the cross-engine float
    discipline: cents in, exact sums out; the avg double is ONE
    division of two exact integers). First call creates the MV from a
    full aggregate of the base's CURRENT version; later calls apply
    only the CDF delta between the stamped cursor and the current
    version:

    * ``insert`` / ``update_postimage`` rows count +1 and add their
      measures; ``delete`` / ``update_preimage`` rows count -1 and
      subtract — an update that MOVES a row between groups decrements
      the old group and increments the new one, for free;
    * min/max fold inserts in with ``least``/``greatest``; a group is
      RECOMPUTED from the base (stats-pruned to the at-risk key range,
      then exact semi-join) only when a deleted value ties its stored
      extreme or the group both appeared and shrank inside the window
      — deletes strictly inside the envelope can't move an extreme;
    * groups whose ``n_rows`` reaches zero are deleted INSIDE the same
      merge commit (conditional MERGE clause — atomic, no phantom
      window);
    * the new cursor (base version) rides the merge commit as the MV's
      ``(app_id, version)`` txn mark, so refresh is exactly-once:
      a replayed call sees the cursor and no-ops.

    Returns ``{"mv_version", "base_version", "groups_changed",
    "groups_recomputed", "created"}``.

    Contract: ``group_cols`` must be NON-NULL in the base (MERGE join
    keys — a NULL group key never matches its own MV row and would
    duplicate instead of update, Delta MERGE's NULL semantics too).
    Coalesce nullable grouping columns to a sentinel first. Consumers
    read through :func:`read_rollup` (``n_rows > 0``).
    """
    r = _Rollup.of("refresh_rollup", group_cols, sums, avgs, mins, maxs)
    base_v = snap.current_version(base_path)
    if base_v is None:
        raise ValueError(f"refresh_rollup: {base_path} is not a snapshot table")

    def result(mv_version, changed=0, recomputed=0, created=False):
        return {"mv_version": mv_version, "base_version": base_v,
                "groups_changed": changed, "groups_recomputed": recomputed,
                "created": created}

    if snap.current_version(mv_path) is None:
        # pinned at the CAPTURED version: a commit landing between
        # current_version() and this read would otherwise be baked
        # into the initial aggregate AND replayed by the first
        # incremental refresh (double count)
        full = r.full(snap.snapshot_read(spark, base_path, version=base_v))
        return result(_create(spark, full, mv_path, r.group_cols,
                              (app_id, base_v), "refresh_rollup"),
                      -1, created=True)
    cursor = _open_cursor(spark, mv_path, app_id, "refresh_rollup")
    if cursor >= base_v:
        return result(snap.current_version(mv_path))

    chg = snap.snapshot_changes(
        spark, base_path, v_from=cursor, v_to=base_v, row_ids=True
    )

    def at_risk_rows(probe_row, risk_keys):
        # stats-pruned base scan: bound each group column by the
        # at-risk key envelope and drop every file the manifest proves
        # disjoint (the core then semi-joins exact)
        return snap.snapshot_read(spark, base_path, version=base_v, prune={
            c: (probe_row[f"__lo_{c}"], probe_row[f"__hi_{c}"])
            for c in r.group_cols
        })

    return result(*_apply_delta(
        spark, mv_path, r, r.delta(r.signed(chg, _sign())), at_risk_rows,
        "refresh_rollup", (app_id, base_v),
    ))


def _recomposition(spark: SparkSession, fn: str, mv_path: str,
                   group_cols, version, sums, mins, maxs, avgs,
                   extra_out=(), hint: str = "") -> tuple:
    """The MV read and the aggregate list :func:`coarsen_rollup` and
    :func:`cube_rollup` recompose a coarser grouping with: SUM of
    ``n_rows`` / sums, MIN / MAX of extremes, and each avg exactly from
    its integer companions. Returns ``(mv, aggs)``."""
    sums, mins, maxs, avgs = (list(x or []) for x in (sums, mins, maxs, avgs))
    # same output-alias disjointness the refreshers enforce: a column
    # named in two lists would mint two output columns with one name
    # (ambiguous downstream), and n_rows/group columns are produced
    # by the coarsening itself
    _check_out_names(
        fn, sums + mins + maxs + avgs + list(extra_out), group_cols)
    mv = read_rollup(spark, mv_path, version=version)
    need = (
        set(group_cols) | set(sums) | set(mins) | set(maxs)
        | {f"__sum_{c}" for c in avgs} | {f"__cnt_{c}" for c in avgs}
    )
    missing = sorted(need - set(mv.columns))
    if missing:
        raise ValueError(
            f"{fn}: {mv_path} has no columns {missing} — "
            "group_cols must be a subset of the MV's group columns and "
            "each aggregate list must name stored MV measure columns "
            f"(avgs need their __sum_/__cnt_ companions{hint})"
        )
    return mv, [
        F.sum("n_rows").cast("long").alias("n_rows"),
        *[F.sum(c).cast("long").alias(c) for c in sums],
        *[F.min(c).cast("long").alias(c) for c in mins],
        *[F.max(c).cast("long").alias(c) for c in maxs],
        *[
            F.when(
                F.sum(f"__cnt_{c}") > 0,
                F.sum(f"__sum_{c}").cast("long").cast("double")
                / F.sum(f"__cnt_{c}").cast("long"),
            ).alias(c)
            for c in avgs
        ],
    ]


def coarsen_rollup(
    spark: SparkSession,
    mv_path: str,
    group_cols: list[str],
    sums: list[str] | None = None,
    mins: list[str] | None = None,
    maxs: list[str] | None = None,
    avgs: list[str] | None = None,
    version: int | None = None,
) -> DataFrame:
    """Answer a COARSER GROUP BY from a stored rollup MV — the cube-
    lattice rewrite (Delta/BigQuery materialized-view query rewrite,
    Gray et al.'s CUBE): any aggregate over a SUBSET of the MV's group
    columns recomposes from the stored partials without touching the
    base table, because every maintained aggregate is distributive or
    algebraic:

    * ``n_rows`` and each ``sums`` column re-aggregate with SUM;
    * ``mins`` / ``maxs`` re-aggregate with MIN / MAX;
    * each ``avgs`` column recomposes EXACTLY from its stored integer
      companions — ``sum(__sum_c) / sum(__cnt_c)``, one division of
      two exact BIGINTs, bit-identical to computing the avg over the
      base (averaging the stored averages would weight groups wrong
      AND drift in float; the companions exist precisely so this
      rewrite is exact).

    At 100 TB this is the difference between answering a dashboard's
    by-status query from a group-cardinality table and re-scanning
    the fact: the MV refresh already paid the base read. Column lists
    name MV columns (the caller's aggregate spec — the MV stores no
    agg-type metadata, same contract as the refreshers); ``version=``
    time-travels the answer. Reads through :func:`read_rollup`, so
    the legacy phantom filter applies."""
    mv, aggs = _recomposition(
        spark, "coarsen_rollup", mv_path, group_cols, version,
        sums, mins, maxs, avgs,
        hint=", i.e. the MV was maintained with avgs=")
    return mv.groupBy(*group_cols).agg(*aggs)


def cube_rollup(
    spark: SparkSession,
    mv_path: str,
    group_cols: list[str],
    sums: list[str] | None = None,
    mins: list[str] | None = None,
    maxs: list[str] | None = None,
    avgs: list[str] | None = None,
    version: int | None = None,
) -> DataFrame:
    """The full CUBE (Gray et al.) answered from the finest rollup MV
    — every 2^k grouping-set of ``group_cols`` in ONE pass, plus the
    standard ``grouping_id`` disambiguator (bit=1 where the column is
    rolled up, leftmost column = most significant bit, SQL
    ``GROUPING_ID()`` semantics).

    Spark-first shape: ``mv.cube(*group_cols)`` plants a single
    Expand operator over the GROUP-CARDINALITY MV — each stored
    partial is replicated 2^k times and re-aggregated with the same
    distributive/algebraic recomposition as :func:`coarsen_rollup`
    (SUM of sums/counts, MIN/MAX of extremes, avgs recomposed exactly
    from the integer companions). Cost is 2^k x |groups| rows through
    one shuffle — at 100 TB that is the difference between cubing a
    few thousand partials and re-scanning the fact 2^k times. Same
    column-list contract and alias validation as coarsen_rollup;
    consumers filter on ``grouping_id`` (or NULL group values — the
    MV's NON-NULL group-key contract means a NULL here always means
    "rolled up", never data)."""
    if not group_cols:
        raise ValueError("cube_rollup: group_cols must be non-empty")
    mv, aggs = _recomposition(
        spark, "cube_rollup", mv_path, group_cols, version,
        sums, mins, maxs, avgs, extra_out=["grouping_id"])
    return mv.cube(*group_cols).agg(
        F.grouping_id().cast("long").alias("grouping_id"), *aggs)


# ---------------------------------------------------------------------------
# Join-aggregate MVs: rollups over fact JOIN dim (round 13)
# ---------------------------------------------------------------------------

# one txn mark must carry TWO cursors (fact version, dim version)
# atomically — they are packed lexicographically. Capacity: 1M dim
# versions per table; both components only grow, so the packed mark is
# monotone and _txn_fields' never-regress max() stays correct.
_DIM_PACK = 1_000_000


def _pack_cursor(fact_v: int, dim_v: int) -> int:
    if dim_v >= _DIM_PACK:
        raise ValueError(
            f"refresh_join_rollup: dim version {dim_v} exceeds the "
            f"packed-cursor capacity ({_DIM_PACK}) — rebuild the MV "
            "with a fresh dim table"
        )
    return int(fact_v) * _DIM_PACK + int(dim_v)


def _unpack_cursor(mark: int) -> tuple[int, int]:
    return int(mark) // _DIM_PACK, int(mark) % _DIM_PACK


@_reclaiming
def refresh_join_rollup(
    spark: SparkSession,
    fact_path: str,
    dim_path: str,
    mv_path: str,
    on: list[str],
    group_cols: list[str],
    sums: dict[str, str],
    avgs: dict[str, str] | None = None,
    mins: dict[str, str] | None = None,
    maxs: dict[str, str] | None = None,
    app_id: str = "mv.join_rollup",
    dim_churn_threshold: float = 0.2,
    on_dim_churn: str = "recompute",
    broadcast_threshold_bytes: int = _BCAST_DEFAULT_BYTES,
) -> dict:
    """Create or incrementally refresh a rollup MV over ``fact INNER
    JOIN dim`` — the reference's gold shape, where facts aggregate
    AFTER a dimension join (silver datasets joined to users before the
    rollup, ``Meta_Guideline.md:2933-2954``; FK resolution precedes the
    aggregate, ``:3110-3121``).

    Semantics: ``SELECT group_cols, count(*) AS n_rows, <sums>, <avgs>
    FROM fact JOIN dim USING (on) GROUP BY group_cols`` at the
    (fact, dim) version pair captured at refresh start. ``group_cols``
    may come from either side (typically dim attributes); measure
    expressions are evaluated over the joined row. INNER join only —
    the reference's own pattern guarantees a match via the SK=0 /
    Unknown dim row, which makes inner and left coincide; give your
    dim an Unknown row rather than asking for left-join maintenance.
    Column names must be disjoint across fact and dim apart from
    ``on`` (checked). Aggregates: subtractable ``sums`` / counts /
    ``avgs``-as-exact-companions, plus ``mins`` / ``maxs`` (round 14)
    via the at-risk recompute machinery — see below.

    Incremental algebra (the classic joint view-maintenance
    decomposition): with fact delta ``dF`` over the window and signed
    dim delta ``dD`` (post/insert = +1, pre/delete = -1),

        dV  =  dF |><| D_new   +   F_old |><| dD

    * term 1 prices FACT churn: the CDF manifest diff excludes
      untouched fact files and the current dim joins onto the delta —
      cost tracks fact commit churn, never fact size;
    * term 2 prices DIM churn: the OLD fact (version-pinned read,
      stats-pruned to the churned keys' envelope) joins the signed
      dim delta — an attribute update moves every joining fact row
      from its old group (-) to its new group (+) in one pass; a dim
      insert/delete adds/removes its fact rows from the aggregate
      (inner-join semantics). Using F_old keeps the two terms
      disjoint: window fact changes are term 1's alone.

    Both terms project into one signed-rows frame, union row-wise and
    aggregate in ONE keyed shuffle; the shared maintenance core then
    applies the delta exactly as for :func:`refresh_rollup`
    (group-cardinality frame, one atomic conditional-MERGE commit,
    n_rows > 0 read contract for legacy tables).

    ``mins`` / ``maxs`` (the r13 verdict's one refresher asymmetry):
    the signed union IS an exact signed multiset of joined rows
    entering (+) and leaving (−) the view, so the single-table
    at-risk rule transfers verbatim — positive rows fold in with
    least/greatest, and a group recomputes only when a NEGATIVE row
    ties its stored extreme (or it has negatives with no MV row yet).
    Soundness under combined fact+dim churn: a positive row that is
    not actually in V_new is always canceled by an equal negative in
    the SAME group (the algebra nets to V_new − V_old), so a spurious
    value that could corrupt the fold necessarily trips the at-risk
    check first and the group recomputes — spurious pairs cost
    recompute work, never wrong answers. The check has two terms:
    the tie comparison (negative ≤/≥ stored extreme), plus an
    explicit NULL-extreme term (a NON-NULL negative against a NULL
    stored extreme is always a spurious pair — a genuine delete of v
    implies v was in the group — and the comparison alone would
    evaluate NULL and let its positive twin fold in). The recompute itself runs
    against fact ⋈ dim at the CAPTURED version pair, pruned twice
    from the manifest: the dim by the at-risk groups' dim-side
    envelope, the fact by the surviving dim keys' join-key envelope
    (one dim-sized bounds action) plus any fact-side group envelope
    — cost tracks at-risk-group data, not base size.

    Dim-churn guard: when the window's churned dim keys exceed
    ``dim_churn_threshold`` of the dim, term 2 approaches a full fact
    scan — ``on_dim_churn="recompute"`` (default) switches to a full
    recompute of the MV at the captured version pair (same commits,
    same read contract; returns ``full_recompute=True``),
    ``"error"`` refuses with the measured churn so a deployment can
    schedule the rebuild instead.

    Broadcast guard: every dim-side join hint is gated on a
    manifest-only in-memory size estimate (live bytes x expansion)
    against ``broadcast_threshold_bytes`` — under it the dim
    broadcasts (the reference's small-dim fast path), over it the
    provably-bounded delta side carries the hint instead when its own
    manifest bound fits (term 1: the fact CDF delta; term 2: the
    signed dim delta), and when neither fits no hint is planted and
    AQE picks from observed runtime sizes. Zero extra Spark jobs
    either way; the returned ``dim_broadcast`` reports the decision.

    Exactly-once: the (fact, dim) version pair rides the merge commit
    as ONE packed txn mark; a replay sees both cursors current and
    no-ops. Requires row tracking on the fact (row-id CDF) and a
    unique ``on`` key in the dim (SCD1 lookup — enforced by the keyed
    dim CDF).

    Returns ``{"mv_version", "fact_version", "dim_version",
    "groups_changed", "groups_recomputed", "created",
    "full_recompute", "dim_keys_churned", "dim_broadcast"}``.

    Contract: ``group_cols`` must be NON-NULL in the joined rows (dim
    attributes are often nullable — coalesce to a sentinel in the dim
    first). Same MERGE-key reasoning as :func:`refresh_rollup`; a
    refresh whose delta carries a NULL group key refuses loudly
    (checked inside the existing count action) instead of silently
    accumulating duplicate NULL-group rows.
    """
    fn = "refresh_join_rollup"
    if on_dim_churn not in ("recompute", "error"):
        raise ValueError(
            f"{fn}: on_dim_churn must be 'recompute' or "
            f"'error', got {on_dim_churn!r}"
        )
    r = _Rollup.of(fn, group_cols, sums, avgs, mins, maxs)
    g = r.group_cols
    fact_v = snap.current_version(fact_path)
    dim_v = snap.current_version(dim_path)
    if fact_v is None or dim_v is None:
        raise ValueError(f"{fn}: fact and dim must be snapshot tables")
    # ONE manifest-only size estimate gates every dim broadcast this
    # refresh plants (all sites join the dim at the same pinned dim_v)
    dim_fits = (
        _bcast_est_bytes(dim_path, dim_v) <= broadcast_threshold_bytes
    )
    n_dim_churn = 0

    def result(mv_version, changed=0, recomputed=0, created=False,
               full_recompute=False):
        return {"mv_version": mv_version, "fact_version": fact_v,
                "dim_version": dim_v, "groups_changed": changed,
                "groups_recomputed": recomputed, "created": created,
                "full_recompute": full_recompute,
                "dim_keys_churned": n_dim_churn, "dim_broadcast": dim_fits}

    def captured() -> tuple[DataFrame, DataFrame]:
        # fact and dim at the captured pair. The disjointness is
        # checked at create and re-checked on every refresh (schema
        # evolution on either side can rot it); driver-side, no job
        f = snap.snapshot_read(spark, fact_path, version=fact_v)
        d = snap.snapshot_read(spark, dim_path, version=dim_v)
        overlap = (set(f.columns) & set(d.columns)) - set(on)
        if overlap:
            raise ValueError(
                f"{fn}: fact and dim column names must be "
                f"disjoint apart from the join key; both carry "
                f"{sorted(overlap)}"
            )
        return f, d

    def full_join(f: DataFrame, d: DataFrame) -> DataFrame:
        # full fact scan against the dim: hint only an under-threshold
        # dim; over it there is no small side — leave AQE to choose
        return f.join(F.broadcast(d) if dim_fits else d, list(on))

    if snap.current_version(mv_path) is None:
        full = r.full(full_join(*captured()))
        return result(_create(spark, full, mv_path, g,
                              (app_id, _pack_cursor(fact_v, dim_v)), fn),
                      -1, created=True)
    f0, d0 = _unpack_cursor(_open_cursor(spark, mv_path, app_id, fn))
    if f0 >= fact_v and d0 >= dim_v:
        return result(snap.current_version(mv_path))
    fact_now, dim_now = captured()
    txn = (app_id, _pack_cursor(fact_v, dim_v))

    dim_delta = None
    if dim_v > d0:
        dim_delta = snap.snapshot_changes(
            spark, dim_path, key_cols=list(on), v_from=d0, v_to=dim_v
        ).localCheckpoint(eager=False)  # consumed by probe + term-2 join
        # ONE action answers the churn-guard numerator AND the old-fact
        # prune envelope (round 14: these were separate scheduler
        # round-trips — ~0.3-0.5 s of fixed cost per dim-churn window
        # at the local floor); the agg also lands the checkpoint the
        # term-2 join reuses
        churn_row = dim_delta.agg(
            F.count_distinct(*[F.col(c) for c in on]).alias("__nk"),
            *[f for c in on for f in (
                F.min(c).alias(f"__lo_{c}"), F.max(c).alias(f"__hi_{c}")
            )]
        ).first()
        n_dim_churn = churn_row["__nk"]
        # live dim size from the manifest alone (rows - dv_rows) —
        # the churn denominator must not cost a Spark count per window
        dim_total = max(1, snap.live_rows(dim_path, version=dim_v))
        if n_dim_churn / dim_total > dim_churn_threshold:
            if on_dim_churn == "error":
                raise RuntimeError(
                    f"{fn}: {n_dim_churn} of {dim_total} "
                    f"dim keys churned in the window (> threshold "
                    f"{dim_churn_threshold}) — term-2 maintenance would "
                    "approach a full fact scan; rebuild the MV or pass "
                    "on_dim_churn='recompute'"
                )
            # full recompute at the captured pair: new aggregate merged
            # over the MV; groups that vanished entirely surface as
            # n_rows=0 rows so the conditional merge deletes them in
            # the same commit (and declines to insert them — their
            # zero placeholders only satisfy the union schema)
            full = r.full(full_join(fact_now, dim_now)) \
                .localCheckpoint(eager=False)
            gone = (
                snap.snapshot_read(spark, mv_path).select(*g)
                .join(full.select(*g), g, "left_anti")
                .select(*g, *[F.lit(0).cast("long").alias(c)
                              for c in full.columns
                              if c not in (*g, *r.avgs)])
            )
            merged = full.unionByName(
                _with_avg_cols(gone, r.avgs)
            ).localCheckpoint(eager=False)
            n_changed = _count_groups_checked(merged, g, fn)
            v, applied = _merge_groups(spark, mv_path, merged, g, txn,
                                       n_changed)
            return result(v, n_changed if applied else 0,
                          full_recompute=applied)

    parts = []
    if fact_v > f0:
        chg = snap.snapshot_changes(
            spark, fact_path, v_from=f0, v_to=fact_v, row_ids=True
        )
        if dim_fits:
            pair = chg.join(F.broadcast(dim_now), list(on))
        else:
            # over-threshold dim: the fact CDF delta is the bounded
            # side — hint IT when its manifest row bound (churned-file
            # live rows, no Spark job) prices under the threshold,
            # else plant nothing and AQE decides from runtime sizes
            chg_est = (
                snap.changes_row_bound(fact_path, f0, fact_v)
                * _row_bytes_est(fact_path, fact_v)
            )
            pair = _maybe_broadcast(
                chg, chg_est, broadcast_threshold_bytes
            ).join(dim_now, list(on))
        parts.append(r.signed(pair, _sign()))
    if dim_delta is not None:
        # stats-prune the old-fact read to the churned keys' envelope
        # (file-granular; exact semantics restored by the join itself)
        # — bounds already in hand from the folded churn probe
        prune = {c: (churn_row[f"__lo_{c}"], churn_row[f"__hi_{c}"])
                 for c in on}
        fact_old = snap.snapshot_read(
            spark, fact_path, version=f0, prune=prune
        )
        signed_dim = dim_delta.select(
            *on,
            *[c for c in dim_now.columns if c not in on],
            _sign().alias("__sign"),
        )
        # the signed dim DELTA is churn-bounded (<= threshold fraction
        # of the dim) but a fraction of a huge dim can still be huge —
        # gate its hint on the same manifest bound as term 1's
        sd_est = (
            snap.changes_row_bound(dim_path, d0, dim_v)
            * _row_bytes_est(dim_path, dim_v)
        )
        signed_dim = _maybe_broadcast(
            signed_dim, sd_est, broadcast_threshold_bytes
        )
        parts.append(r.signed(fact_old.join(signed_dim, list(on)),
                              F.col("__sign")))
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)

    def at_risk_rows(probe_row, risk_keys):
        # at-risk groups recompute against fact |><| dim at the
        # CAPTURED pair, manifest-pruned twice: the dim read by the
        # at-risk groups' dim-side envelope, the fact read by the
        # surviving dim keys' join-key envelope (one dim-sized bounds
        # action) plus any fact-side group bounds — cost tracks
        # at-risk-group data, not base size
        dim_group = [c for c in g if c in dim_now.columns]
        fact_group = [c for c in g if c not in dim_group]

        def env(row, cols):
            return {c: (row[f"__lo_{c}"], row[f"__hi_{c}"])
                    for c in cols if row[f"__lo_{c}"] is not None}

        risk_dim = snap.snapshot_read(
            spark, dim_path, version=dim_v,
            prune=env(probe_row, dim_group) or None)
        if dim_group:
            risk_dim = risk_dim.join(
                risk_keys.select(*dim_group).distinct(), dim_group, "semi")
        risk_dim = risk_dim.localCheckpoint(eager=False)
        on_row = risk_dim.agg(*[
            f for c in on for f in (
                F.min(c).alias(f"__lo_{c}"), F.max(c).alias(f"__hi_{c}"),
            )
        ]).first()
        f_prune = {**env(probe_row, fact_group), **env(on_row, on)}
        fact_base = snap.snapshot_read(
            spark, fact_path, version=fact_v, prune=f_prune or None)
        return fact_base.join(
            F.broadcast(risk_dim) if dim_fits else risk_dim, list(on))

    return result(*_apply_delta(spark, mv_path, r, r.delta(u),
                                at_risk_rows, fn, txn))
