"""CDC batch apply: LWW pre-reduce -> normalize winners -> LSN-guarded merge.

This is the engine's replacement for the reference's
extract -> pandas-transform -> staging bulk_insert -> SQL upsert chain
(``/root/reference/src/etl_pipeline.py:90-225``,
``/root/reference/sql/etl_transformations.sql:9-193``): one lazy DataFrame
plan per micro-batch ending in an atomic bucket swap on the LakeTable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.normalize import normalize_text_expr
from ..lakehouse.table import BUCKET_COL, CommitConflict, LakeTable

#: stats columns carried through the reduce so batch bookkeeping (raw event
#: count, LSN range) never needs a second scan of the raw log.
STATS_COLS = ("_cnt", "_lmin", "_lmax")


def salted_lww_reduce(
    events: DataFrame, key_cols: list[str], lsn_col: str = "lsn"
) -> DataFrame:
    """Last-writer-wins reduction, skew-safe by construction.

    Hot conversations (Zipf head) concentrate events on few keys. For a
    *hash aggregation* Spark's partial (map-side) combine is already the
    skew defense: each map task collapses a hot key to ONE candidate row
    before the shuffle, so the reducer for that key sees at most
    ``n_map_partitions`` rows regardless of how many billions of events the
    key had — measured 3x faster than an explicit two-phase salted reduce
    on a 200k-event batch, and the bound holds at any scale. The salted
    *repartition* defense for joins lives in the merge path's union-agg
    design, which turns the target-vs-source join into a hash aggregation
    for the same reason (``lakehouse.table.merge_cdc`` step 3).

    The output also has ``_cnt``/``_lmin``/``_lmax`` (events folded into
    each winner + LSN range), so per-batch lineage stats are a cheap
    re-aggregation of the reduced frame instead of a second full scan of
    the raw log.
    """
    pack = F.struct(*[F.col(c) for c in events.columns])
    return (
        events.groupBy(*key_cols)
        .agg(
            F.max_by(pack, F.col(lsn_col)).alias("_w"),
            F.count("*").alias("_cnt"),
            F.min(lsn_col).alias("_lmin"),
            F.max(lsn_col).alias("_lmax"),
        )
        .select("_w.*", *STATS_COLS)
    )


def _normalize_text(df: DataFrame) -> DataFrame:
    """Normalize the ``text`` payload of non-delete events. Tombstone text
    is never normalized (deletes blank their payload downstream anyway)."""
    if "text" not in df.columns:
        return df
    return df.withColumn(
        "text",
        F.when(F.col("op") == "D", F.col("text")).otherwise(
            normalize_text_expr("text")
        ),
    )


def prepare_events(events: DataFrame, normalize: bool = True) -> DataFrame:
    """Drop delivery-order bookkeeping and normalize the text payload.
    Events with a NULL lsn are excluded — they are unorderable, so LWW
    cannot place them (merge_cdc enforces the same rule; filtering here
    keeps the lineage stats counting only appliable events)."""
    out = events.drop("pos") if "pos" in events.columns else events
    if "lsn" in out.columns:
        out = out.filter(F.col("lsn").isNotNull())
    return _normalize_text(out) if normalize else out


def _reduce_with_stats(
    table: LakeTable,
    events: DataFrame,
    normalize: bool = True,
) -> tuple[DataFrame, tuple, list[int], tuple, dict]:
    """Run the batch's table-independent half: LWW reduce -> normalize
    WINNERS -> persist, plus ONE driver action serving lineage stats,
    touched-bucket discovery AND key-range discovery. The action is a
    groupBy over the batch's bucket ids (<= num_buckets tiny rows on the
    already-persisted reduce), so the same pass also yields PER-BUCKET
    applied LSN ranges and row counts — the per-partition lineage the
    checkpoint/offsets table records (north-star: replay audits need to
    know which LSNs each partition has applied, not just the batch's
    global range). Returns
    ``(reduced_persisted, stats, touched, key_range, bucket_ranges)``;
    caller owns the unpersist. Depends only on the log slice and the
    table's static layout (keys/buckets), never its snapshot — so it can
    run concurrently with an earlier batch's merge
    (see ``apply_batches_pipelined``).

    Normalization runs AFTER the reduce (round 4): the LWW winner is
    chosen by LSN alone, so normalize(pick(events)) == pick(normalize(
    events)) row-for-row — but the post-reduce form runs the regex
    pipeline over only the winners, a ~dedup-factor (updates-per-key,
    ~8x on the transcript workloads) cut in the batch's dominant CPU
    term. The tests' independent oracle (``expected_final_state``) keeps
    the normalize-first order, so replay-equality tests prove the
    commutation rather than assume it."""
    prepared = prepare_events(events, normalize=False)
    # null-key events have no merge identity (merge_cdc would exclude them
    # anyway); filtering BEFORE the reduce keeps the fused lineage stats,
    # touched-bucket set, and key range counting only appliable events.
    for k in table.key_cols:
        prepared = prepared.filter(F.col(k).isNotNull())
    reduced = salted_lww_reduce(prepared, table.key_cols)
    if normalize:
        reduced = _normalize_text(reduced)
    reduced = reduced.withColumn(BUCKET_COL, table._bucket_id()).persist()
    prune_key = table.key_cols[0]
    rows = (
        reduced.groupBy(BUCKET_COL)
        .agg(
            F.sum("_cnt").alias("n"),
            F.min("_lmin").alias("lo"),
            F.max("_lmax").alias("hi"),
            F.count("*").alias("rows"),
            F.min(prune_key).alias("klo"),
            F.max(prune_key).alias("khi"),
        )
        .collect()
    )
    n_total = sum(int(r["n"] or 0) for r in rows)
    los = [int(r["lo"]) for r in rows if r["lo"] is not None]
    his = [int(r["hi"]) for r in rows if r["hi"] is not None]
    stats = (min(los), max(his), n_total) if los else (None, None, n_total)
    touched = sorted(int(r[BUCKET_COL]) for r in rows)
    klos = [r["klo"] for r in rows if r["klo"] is not None]
    khis = [r["khi"] for r in rows if r["khi"] is not None]
    key_range = (min(klos), max(khis)) if klos else (None, None)
    bucket_ranges = {
        int(r[BUCKET_COL]): {
            "lsn_min": int(r["lo"]) if r["lo"] is not None else None,
            "lsn_max": int(r["hi"]) if r["hi"] is not None else None,
            "n_events": int(r["n"] or 0),
            "rows": int(r["rows"]),
        }
        for r in rows
    }
    return reduced, stats, touched, key_range, bucket_ranges


def _merge_reduced(
    table: LakeTable,
    spark: SparkSession,
    reduced: DataFrame,
    fence: tuple[str, int] | None,
    stats: tuple,
    touched: list[int],
    key_range: tuple,
    commit_retries: int = 2,
    bucket_ranges: dict | None = None,
) -> dict:
    """LSN-guarded merge of an already-reduced batch, with the optimistic-
    concurrency retry loop. A ``CommitConflict`` (another writer — e.g. a
    concurrent compaction — published first) refreshes the snapshot and
    retries the merge against the new base, bounded by ``commit_retries``.
    ``merge_cdc`` checks the fence first on every attempt, so a retried
    batch that the other writer already applied stays exactly-once.

    On retry the precomputed ``touched``/``key_range``/``bucket_ranges``
    are DISCARDED (merge_cdc recomputes them from the still-persisted
    reduce): the conflicting commit may have been a bucket-count-evolution
    compact, under whose new spec the old bucket ids would prune to the
    wrong files and leave stale key versions unrewritten."""
    src = reduced.drop(*STATS_COLS)
    for attempt in range(commit_retries + 1):
        try:
            return table.merge_cdc(
                spark,
                src,
                fence=fence,
                assume_deduped=True,
                stats=stats,
                touched=touched if attempt == 0 else None,
                key_range=key_range if attempt == 0 else None,
                bucket_ranges=bucket_ranges if attempt == 0 else None,
            )
        except CommitConflict:
            if attempt == commit_retries:
                raise
            table.refresh()


def apply_batch(
    table: LakeTable,
    spark: SparkSession,
    events: DataFrame,
    fence: tuple[str, int] | None = None,
    normalize: bool = True,
    commit_retries: int = 2,
) -> dict:
    """Apply one micro-batch of change events to ``table`` exactly-once.

    The reduced batch is persisted so the plan runs ONCE
    (``_reduce_with_stats``), then merged under the LSN guard with
    conflict retries (``_merge_reduced``). A batch the table's fence
    already covers returns before the reduce runs.
    """
    skipped = table.fenced(fence)
    if skipped is not None:
        return skipped
    reduced, stats, touched, key_range, bucket_ranges = _reduce_with_stats(
        table, events, normalize=normalize
    )
    try:
        return _merge_reduced(
            table, spark, reduced, fence, stats, touched, key_range,
            commit_retries, bucket_ranges,
        )
    finally:
        reduced.unpersist()


def apply_batches_pipelined(
    table: LakeTable,
    spark: SparkSession,
    batches: list[DataFrame],
    stream_id: str = "replay",
    first_batch_id: int = 0,
    normalize: bool = True,
    commit_retries: int = 2,
) -> list[dict]:
    """Apply an ordered sequence of micro-batches with one-batch lookahead.

    Merges MUST serialize (batch i+1's LSN-guarded resolution reads the
    snapshot batch i publishes), but each batch's reduce half is a pure
    function of its log slice — so while batch i's merge/write/commit runs,
    batch i+1's normalize + LWW reduce + stats action runs concurrently on
    a prefetch thread, sharing the same Spark scheduler. This hides the
    per-batch driver-serial floor (plan compilation, manifest listing,
    footer stat reads, commit publish) under the previous batch's cluster
    compute — the floor was measured at ~2-3 s/batch and is the dominant
    scaling-efficiency cost for small micro-batches; on a 1000-executor
    cluster the same overlap keeps executors busy during the driver's
    commit turnaround.

    Exactly-once semantics are IDENTICAL to a serial ``apply_batch`` loop:
    ``merge_cdc`` still checks each fence (again under conflict retry) at
    merge time, in order. The replay/backfill path uses this; the continuous
    streaming path (``CdcStreamIngestor``) receives batches one at a time
    from Structured Streaming and keeps the serial call.
    """
    from concurrent.futures import ThreadPoolExecutor

    results: list[dict] = []
    if not batches:
        return results
    retired: DataFrame | None = None
    fut = None
    with ThreadPoolExecutor(max_workers=1, thread_name_prefix="cdc-prefetch") as pool:
        try:
            fut = pool.submit(_reduce_with_stats, table, batches[0], normalize)
            for i in range(len(batches)):
                reduced, stats, touched, key_range, bucket_ranges = fut.result()
                if i + 1 < len(batches):
                    fut = pool.submit(
                        _reduce_with_stats, table, batches[i + 1], normalize
                    )
                else:
                    fut = None
                # Unpersist batch i-1's frame one merge LATE: by the time
                # batch i's merge starts, every job that read batch i-1's
                # cached blocks has fully completed, so block removal can no
                # longer race a task-completion accumulator update (the
                # benign-but-noisy "non-existent accumulator" DAGScheduler
                # ERROR that tailed every pipelined bench run).
                if retired is not None:
                    retired.unpersist()
                    retired = None
                fence = (stream_id, first_batch_id + i)
                try:
                    results.append(
                        _merge_reduced(
                            table, spark, reduced, fence, stats, touched,
                            key_range, commit_retries, bucket_ranges,
                        )
                    )
                finally:
                    retired = reduced
        finally:
            # Drain the in-flight prefetch (a merge failure mid-loop would
            # otherwise leak its persisted frame for the session) and release
            # the last merged frame; blocking so shutdown is deterministic.
            if fut is not None:
                try:
                    fut.result()[0].unpersist(blocking=True)
                except Exception:
                    pass
            if retired is not None:
                retired.unpersist(blocking=True)
    return results


def expected_final_state(events: DataFrame, normalize: bool = True) -> DataFrame:
    """Independent oracle: global last-writer-wins over the WHOLE log.

    The engine applies the log incrementally (batches, dedup, guards,
    fencing); replay convergence means its final table equals this one-shot
    reduction — per-turn text equality under stable (conv_id, turn_idx)
    ordering (BASELINE.json input_hint). Tests compare against this AND
    against a sequential pandas replay for double independence.
    """
    prepared = prepare_events(events, normalize=normalize)
    cols = [F.col(c) for c in prepared.columns]
    winners = (
        prepared.groupBy("conv_id", "turn_idx")
        .agg(F.max_by(F.struct(*cols), F.col("lsn")).alias("_w"))
        .select("_w.*")
    )
    out_cols = [
        c for c in ("conv_id", "turn_idx", "role", "text", "tool", "ts") if c in prepared.columns
    ]
    return (
        winners.filter(F.col("op") != "D")
        .select(*out_cols)
        .orderBy("conv_id", "turn_idx")
    )
