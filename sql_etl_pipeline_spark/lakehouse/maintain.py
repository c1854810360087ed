"""Materialized-view / summary-table maintenance (SURVEY.md §2 S13).

The reference refreshes summary tables with staged DELETE+INSERT SQL inside
a transaction (``/root/reference/sql/etl_transformations.sql:281-306``:
``daily_sales_summary`` rebuilt per date range). The lake-scale equivalent
is a FULL, ATOMIC overwrite commit: the query result becomes the table's
complete new contents in one snapshot swap, so readers see the old summary
or the new one, never a partial refresh — and time travel keeps the old
snapshots queryable (``at_version``), which the reference's DELETE cannot.

``refresh_summary`` is the full-rebuild pattern; at 100 TB the interesting
call is ``refresh_summary_incremental``: snapshot-diff the base table since
the last refresh watermark, recompute ONLY the affected group keys, and
``merge_cdc`` the delta into the summary (updates for recomputed groups,
tombstones for vanished ones). Refresh cost is then O(changed-file bytes +
affected-group bytes), independent of base-table size — the Iceberg
incremental-compute shape, vs the reference's full date-range DELETE+INSERT.
"""

from __future__ import annotations

import os
import time
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from .table import DELETED_COL, LSN_COL, LakeTable


def refresh_summary(
    summary: LakeTable, spark: SparkSession, result: DataFrame
) -> dict[str, Any]:
    """Atomically replace ``summary``'s contents with ``result``.

    ``result`` is any DataFrame whose columns are (a superset-compatible
    subset of) the summary schema; new columns evolve the schema
    additively, missing ones fill NULL — same rules as ``append``. The
    commit records ``op="refresh_summary"`` lineage, and the previous
    contents stay reachable via time travel until snapshots expire.
    """
    # full replacement: ONLY the new files
    new_files = summary._write_rows(result, [], "refresh_summary")
    return {"files": len(new_files), "version": summary.version}


#: lineage ops that rearrange files without changing table CONTENT — their
#: snapshot diffs must NOT invalidate summary groups (a compaction touches
#: nearly every file; treating it as data would degrade incremental refresh
#: to a full rebuild). Unknown/new ops are conservatively treated as data.
_NON_DATA_OPS = {"create", "compact", "compact_buckets", "mv_watermark"}

#: ops that replace table CONTENT wholesale (full ``refresh_summary``
#: swap). Chained on top of one of these, per-key max-LSN diffing is
#: meaningless — the swapped rows carry no per-row CDC lineage — so an
#: incremental refresh whose diff window contains one falls back to a full
#: rebuild instead of silently skipping the commit (round-3 ADVICE item:
#: classifying these as non-data let a chained MV go stale with no error).
_FULL_SWAP_OPS = {"refresh_summary"}


def _as_events(fresh: DataFrame, vanished: DataFrame, lsn: int) -> DataFrame:
    """Shape recomputed (U) + vanished (D) groups as one CDC event frame."""
    ups = fresh.withColumn("op", F.lit("U"))
    dels = vanished.withColumn("op", F.lit("D"))
    return ups.unionByName(dels, allowMissingColumns=True).withColumn(
        "lsn", F.lit(int(lsn)).cast("long")
    )


def _advance_watermark(
    summary: LakeTable, stream_id: str, cur: int, t0: float, reason: str
) -> dict[str, Any]:
    """No-op refresh: move the watermark to base version ``cur`` in a
    content-free ``mv_watermark`` commit, so the next refresh diffs from
    there."""
    summary._commit(
        summary.files,
        summary.schema,
        {**summary.summary, f"fence:{stream_id}": cur},
        {"op": "mv_watermark", "rows_written": 0, "buckets": [],
         "wall_s": round(time.time() - t0, 3)},
    )
    return {"mode": "noop", "reason": reason, "watermark": cur}


def refresh_summary_incremental(
    summary: LakeTable,
    spark: SparkSession,
    base: LakeTable,
    build: Callable[[DataFrame], DataFrame],
    group_cols: list[str],
    derive: Callable[[DataFrame], DataFrame] | None = None,
    stream_id: str = "mv",
) -> dict[str, Any]:
    """Incrementally refresh ``summary`` = ``build(base rows)`` after CDC.

    ``build`` aggregates base rows to one row per ``group_cols`` value (the
    summary's ``key_cols`` — enforced). ``derive`` optionally ADDS the group
    columns to raw base rows first (e.g. ``withColumn("day", to_date(ts))``)
    when they are not stored columns; default identity.

    Mechanism (the lake-native answer to the reference's full date-range
    DELETE+INSERT refresh, ``/root/reference/sql/etl_transformations.sql:281-306``):

    1. **Watermark**: the base version the summary reflects is the summary's
       ``fence:<stream_id>`` — recorded atomically by the same fencing that
       makes CDC replay exactly-once, so a crashed/replayed refresh is a
       no-op, and the bootstrap (no watermark) is a full build through the
       identical merge path.
    2. **Affected groups by snapshot diff**: walk base versions
       ``wm+1..cur``; for each DATA commit (op not in ``_NON_DATA_OPS``)
       diff its file manifest against its parent. The EXACTLY-changed keys
       are those whose per-key max(LSN) differs between the added and
       removed row sets (COW rewrites carry untouched cohabitant rows on
       both sides, so they cancel; inserts/deletes appear on one side
       only). Affected groups are then the changed keys' groups in the
       added rows (new group) plus in the removed rows (COW pre-image:
       old group of a group-moving update, deleted rows' group), plus —
       for MOR data commits, which remove nothing — a key-pruned semi-join
       of the changed keys against the watermark snapshot
       (``at_version(wm)``), which yields the same pre-image groups.
       Everything here reads only the changed files: O(changed bytes) per
       refresh, never O(table).
    3. **Recompute + merge**: re-run ``build`` over base rows semi-joined to
       the affected groups (file-stat range-pruned when ``group_cols[0]``
       is the table's leading key), then ``merge_cdc`` into the summary:
       recomputed groups as updates at ``lsn = cur``, affected groups with
       no surviving rows as deletes. The summary merge itself is
       file-scoped COW, so the write cost is O(summary files overlapping
       the affected groups).

    Falls back to a full rebuild (still through the merge path, with
    tombstones for vanished groups) when intermediate snapshots have been
    expired or diffed files already vacuumed — correctness never depends on
    retention. Returns diagnostics incl. ``mode`` ("incremental" | "full" |
    "noop") and ``affected_groups``.
    """
    t0 = time.time()
    if list(summary.key_cols) != list(group_cols):
        raise ValueError(
            f"summary key_cols {summary.key_cols} must equal group_cols {group_cols}"
        )
    ident = derive or (lambda df: df)
    cur = base.version
    wm = summary.summary.get(f"fence:{stream_id}")
    wm = int(wm) if wm is not None else None
    if wm is not None and wm >= cur:
        return {"mode": "noop", "reason": "up_to_date", "watermark": wm}

    def _full() -> dict[str, Any]:
        fresh = build(ident(base.read(spark)))
        missing = [c for c in group_cols if c not in fresh.columns]
        if missing:
            raise ValueError(f"build() output missing group columns {missing}")
        vanished = (
            summary.read(spark)
            .select(*group_cols)
            .join(fresh.select(*group_cols), on=group_cols, how="left_anti")
        )
        res = summary.merge_cdc(
            spark, _as_events(fresh, vanished, cur), fence=(stream_id, cur)
        )
        res.update({"mode": "full", "watermark": cur, "wall_s": round(time.time() - t0, 3)})
        return res

    if wm is None:
        return _full()

    # ---- snapshot-diff walk: collect added/removed entries of data commits
    try:
        snaps = [base.at_version(v) for v in range(wm, cur + 1)]
    except FileNotFoundError:
        return _full()
    added: list[dict[str, Any]] = []
    removed: list[dict[str, Any]] = []
    mor_data_commit = False
    for prev, nxt in zip(snaps, snaps[1:]):
        lin = nxt._state.get("lineage") or {}
        if lin.get("op") in _FULL_SWAP_OPS:
            return _full()
        if lin.get("op") in _NON_DATA_OPS:
            continue
        pp = {f["path"] for f in prev.files}
        np_ = {f["path"] for f in nxt.files}
        added.extend(f for f in nxt.files if f["path"] not in pp)
        removed.extend(f for f in prev.files if f["path"] not in np_)
        if lin.get("mode") == "mor" or any(
            f.get("kind", "base") == "delta" for f in nxt.files if f["path"] not in pp
        ):
            mor_data_commit = True
    if not added and not removed:
        return _advance_watermark(summary, stream_id, cur, t0, "no_data_commits")
    # diffed files must still exist (vacuum may have reclaimed removed ones)
    for f in added + removed:
        if not os.path.exists(os.path.join(base.path, f["path"])):
            return _full()

    # ---- exact changed keys -------------------------------------------------
    # A COW rewrite carries every COHABITING row of the overlapping files
    # into the added set; invalidating all of them would recompute ~whole
    # files' worth of groups for a narrow batch (measured: a 0.7%-keyspace
    # batch "affecting" 25% of groups). Instead, diff per-key max(LSN)
    # between the added and removed row sets — two aggregations over only
    # the changed files — and a key is CHANGED iff the maxes differ
    # (missing on one side included: inserts and brand-new appends). Rows
    # without an LSN (plain appends) coalesce to -1, so an untouched
    # cohabitant is -1 on both sides and drops out.
    live = F.coalesce(F.col(DELETED_COL), F.lit(False)) == F.lit(False)
    keys = base.key_cols
    lsn_n = F.coalesce(F.col(LSN_COL), F.lit(-1)).alias("_l")
    # Both raw frames are consumed twice (per-key max-LSN diff AND the
    # affected-group semi-joins) — persist them so each changed file is
    # read from storage once per refresh, not once per consumer. Persists
    # are registered in ``persisted`` and released in the single finally
    # below, which also covers failures in the user's derive()/build()
    # (an un-wrapped failure used to leak one cached frame per deferred
    # stream refresh).
    persisted: list[DataFrame] = []
    added_raw = base._read_file_entries(spark, added).persist()
    persisted.append(added_raw)
    removed_raw = base._read_file_entries(spark, removed) if removed else None
    if removed_raw is not None:
        removed_raw = removed_raw.persist()
        persisted.append(removed_raw)
    try:
        a_max = added_raw.select(*keys, lsn_n).groupBy(*keys).agg(F.max("_l").alias("_a"))
        if removed_raw is not None:
            r_max = (
                removed_raw.select(*keys, lsn_n).groupBy(*keys).agg(F.max("_l").alias("_r"))
            )
            changed_keys = (
                a_max.join(r_max, on=keys, how="full_outer")
                .filter(~F.col("_a").eqNullSafe(F.col("_r")))
                .select(*keys)
            )
        else:
            changed_keys = a_max.select(*keys)
        changed_keys = changed_keys.persist()
        persisted.append(changed_keys)

        # ---- affected group keys: new + old groups of exactly-changed keys ------
        parts = [
            ident(added_raw.filter(live).join(changed_keys, on=keys, how="left_semi"))
            .select(*group_cols)
        ]
        if removed_raw is not None:
            # COW pre-images: the changed keys' previous rows (old group of a
            # group-moving update; deleted rows' group) live in removed files.
            parts.append(
                ident(removed_raw.join(changed_keys, on=keys, how="left_semi"))
                .select(*group_cols)
            )
        if mor_data_commit:
            # MOR commits remove no files, so pre-image groups come from the
            # watermark snapshot instead: key-pruned scan + semi-join.
            old = base.at_version(wm)
            lead = keys[0]
            kr = changed_keys.agg(F.min(lead), F.max(lead)).collect()[0]
            pre = old.read(spark, ranges={lead: (kr[0], kr[1])} if kr[0] is not None else None)
            parts.append(
                ident(pre.join(changed_keys, on=keys, how="left_semi")).select(*group_cols)
            )
        affected = parts[0]
        for p in parts[1:]:
            affected = affected.unionByName(p)
        # NULL group keys are rejected at the summary boundary (merge_cdc
        # raises on NULL key columns), so a bootstrap/full build whose
        # groupBy produces a NULL group fails LOUDLY and the fix belongs in
        # build()/derive() (coalesce or filter the null-able group source).
        # Dropping them here is therefore consistent, not silent staleness:
        # no NULL-group summary row can exist for this drop to strand.
        affected = affected.na.drop(subset=group_cols).distinct().persist()
        persisted.append(affected)
        # ONE action over the (small, persisted) affected set computes
        # everything the rest of the refresh needs from it: the empty check,
        # the leading-group min/max (base-scan file pruning AND the summary
        # merge's key_range), and — when the summary's bucket columns are
        # group columns — the touched summary buckets. Passing these into
        # merge_cdc (with stats and assume_deduped) removes its two
        # full-plan driver actions and its LWW shuffle: the events frame is
        # one row per group by construction (fresh ∪ disjoint vanished).
        aggs = [F.count("*"), F.min(group_cols[0]), F.max(group_cols[0])]
        buckets_known = set(summary.bucket_cols) <= set(group_cols)
        sel = affected
        if buckets_known:
            sel = affected.withColumn(
                "_b", summary._bucket_id()
            )
            aggs.append(F.collect_set("_b"))
        row = sel.agg(*aggs).collect()[0]
        n_affected, glo, ghi = int(row[0]), row[1], row[2]
        touched = sorted(int(b) for b in row[3]) if buckets_known else None
        if n_affected == 0:
            return _advance_watermark(summary, stream_id, cur, t0, "no_affected_groups")

        # ---- recompute only the affected groups ----------------------------
        ranges = None
        if group_cols[0] == base.key_cols[0] and glo is not None:
            ranges = {group_cols[0]: (glo, ghi)}
        subset = ident(base.read(spark, ranges=ranges)).join(
            F.broadcast(affected), on=group_cols, how="left_semi"
        )
        fresh = build(subset)
        missing = [c for c in group_cols if c not in fresh.columns]
        if missing:
            raise ValueError(f"build() output missing group columns {missing}")
        vanished = affected.join(
            fresh.select(*group_cols), on=group_cols, how="left_anti"
        )
        # |events| == n_affected exactly: every affected group is either
        # recomputed (fresh) or vanished — disjoint by the anti-join.
        res = summary.merge_cdc(
            spark,
            _as_events(fresh, vanished, cur),
            fence=(stream_id, cur),
            assume_deduped=True,
            stats=(cur, cur, n_affected),
            touched=touched,
            key_range=(glo, ghi),
        )
        res.update(
            {
                "mode": "incremental",
                "watermark": cur,
                "affected_groups": n_affected,
                "changed_files_read": len(added) + len(removed),
                "wall_s": round(time.time() - t0, 3),
            }
        )
        return res
    finally:
        for df_ in persisted:
            df_.unpersist()
