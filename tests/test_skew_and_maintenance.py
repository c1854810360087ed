"""Hot-key skew correctness + streaming auto-compaction behavior."""

import pyspark.sql.functions as F

from sql_etl_pipeline_spark.cdc.apply import apply_batch, expected_final_state
from sql_etl_pipeline_spark.cdc.generate import (
    TRANSCRIPT_SCHEMA,
    change_event_schema,
    generate_change_events,
)
from sql_etl_pipeline_spark.lakehouse import LakeTable
from sql_etl_pipeline_spark.streaming.ingest import CdcStreamIngestor


def test_extreme_skew_converges(spark, tmp_path):
    """~50% of events on ONE conversation (far hotter than the Zipf bench):
    batched apply must still equal the global LWW oracle."""
    ev = generate_change_events(spark, 4000, n_convs=50, max_turns=20, skew=8.0)
    top = (
        ev.groupBy("conv_id").count().orderBy(F.desc("count")).first()
    )
    assert top["count"] > 4000 * 0.3, "fixture must actually be skewed"

    table = LakeTable.create(
        str(tmp_path / "t"),
        TRANSCRIPT_SCHEMA,
        key_cols=["conv_id", "turn_idx"],
        num_buckets=8,
    )
    for i in range(3):
        apply_batch(table, spark, ev.filter(F.pmod("lsn", F.lit(3)) == i))
    got = table.read(spark).orderBy("conv_id", "turn_idx").collect()
    exp = expected_final_state(ev).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in exp]


def test_stream_auto_compaction_and_tombstone_purge(spark, tmp_path):
    ev = generate_change_events(spark, 1500, n_convs=40, delete_frac=0.05)
    # 4 files -> 4 micro-batches with maxFilesPerTrigger=1
    for i in range(4):
        ev.filter(F.pmod("lsn", F.lit(4)) == i).coalesce(1).write.mode(
            "append"
        ).parquet(str(tmp_path / "log"))

    table = LakeTable.create(
        str(tmp_path / "t"),
        TRANSCRIPT_SCHEMA,
        key_cols=["conv_id", "turn_idx"],
        num_buckets=4,
    )
    ing = CdcStreamIngestor(
        table,
        str(tmp_path / "log"),
        str(tmp_path / "ckpt"),
        change_event_schema(),
        max_files_per_trigger=1,
        compact_every=2,
        tombstone_lsn_lag=10_000_000,  # huge lag -> purge nothing yet
    )
    batches = ing.run_available_now(spark)
    assert sum(1 for b in batches if b.get("compacted")) == 2
    # compaction preserved state exactly
    got = table.refresh().read(spark).orderBy("conv_id", "turn_idx").collect()
    exp = expected_final_state(ev).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in exp]
    # with a huge lag no tombstone was purged
    n_tomb = (
        table.read(spark, include_deleted=True, include_meta=True)
        .filter(F.col("deleted"))
        .count()
    )
    assert n_tomb > 0

    # zero lag -> purge all tombstones below the max applied LSN
    table.compact(spark, purge_tombstones_below_lsn=10**18)
    assert (
        table.read(spark, include_deleted=True, include_meta=True)
        .filter(F.col("deleted"))
        .count()
        == 0
    )
    got2 = table.read(spark).orderBy("conv_id", "turn_idx").collect()
    assert [tuple(r) for r in got2] == [tuple(r) for r in exp]


def test_merge_rewrites_only_overlapping_files(spark, tmp_path):
    """File-level copy-on-write: a narrow-key batch rewrites only the files
    whose manifest key range intersects it, not every file in its touched
    buckets — the write-amplification bound that survives 100x scale."""
    table = LakeTable.create(
        str(tmp_path / "t"),
        TRANSCRIPT_SCHEMA,
        key_cols=["conv_id", "turn_idx"],
        num_buckets=2,
    )

    def events(prefix, n, lsn0):
        rows = [
            ("I", lsn0 + i, f"{prefix}{i:03d}", 0, "user", f"text {prefix}{i}", None, None)
            for i in range(n)
        ]
        return spark.createDataFrame(
            rows,
            "op string, lsn long, conv_id string, turn_idx int, role string, "
            "text string, tool string, ts timestamp",
        )

    # two disjoint key-range writes -> each bucket holds files from both
    apply_batch(table, spark, events("a", 20, 100), normalize=False)
    apply_batch(table, spark, events("z", 20, 200), normalize=False)
    files_per_bucket = {}
    for f in table.files:
        files_per_bucket.setdefault(f["bucket"], []).append(f)
    assert all(len(v) >= 2 for v in files_per_bucket.values())

    # narrow update touching one key: only that key's bucket AND only the
    # z-range file(s) in it may rewrite
    res = apply_batch(
        table,
        spark,
        events("z", 1, 300).filter(F.col("conv_id") == "z000"),
        normalize=False,
    )
    assert res["buckets_touched"] == 1
    files_in_touched = res["files_rewritten"] + res["files_kept_in_touched_buckets"]
    assert res["files_kept_in_touched_buckets"] >= 1
    assert res["files_rewritten"] < files_in_touched

    # and the state is exactly what a full replay says it should be
    all_ev = (
        events("a", 20, 100)
        .unionByName(events("z", 20, 200))
        .unionByName(events("z", 1, 300).filter(F.col("conv_id") == "z000"))
    )
    got = table.read(spark).orderBy("conv_id", "turn_idx").collect()
    exp = expected_final_state(all_ev, normalize=False).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in exp]


def test_rebucket_compaction_partition_evolution(spark, tmp_path):
    """Bucket-count evolution at compaction (the 16 -> O(10k) growth path):
    the partition spec and the re-bucketed files change in one atomic
    commit; reads, pruning, and subsequent merges all follow the new
    spec."""
    table = LakeTable.create(
        str(tmp_path / "t"), TRANSCRIPT_SCHEMA,
        key_cols=["conv_id", "turn_idx"], num_buckets=2,
    )
    log = generate_change_events(
        spark, 1500, n_convs=80, delete_frac=0.01, dup_frac=0.02
    ).cache()
    apply_batch(table, spark, log, fence=("s", 0))
    before = sorted(tuple(r) for r in table.read(spark).collect())
    assert table.num_buckets == 2

    res = table.compact(spark, num_buckets=8)
    assert res["num_buckets"] == 8 and table.num_buckets == 8
    assert {f["bucket"] for f in table.files} <= set(range(8))
    assert len({f["bucket"] for f in table.files}) > 2
    assert sorted(tuple(r) for r in table.read(spark).collect()) == before

    # bucket-pruned read still exact under the new spec
    from sql_etl_pipeline_spark.lakehouse.table import _bucket_expr

    full = table.read(spark)
    want = (
        full.withColumn("_b", _bucket_expr(table.bucket_cols, 8))
        .filter(F.col("_b").isin([0, 3, 5]))
        .count()
    )
    assert table.read(spark, buckets=[0, 3, 5]).count() == want

    # merges keep working and route to the new buckets
    upd = spark.createDataFrame(
        [("U", 10_000_000, "conv-00000001", 1, "user", "after rebucket", None, None)],
        "op string, lsn long, conv_id string, turn_idx int, role string, "
        "text string, tool string, ts timestamp",
    )
    apply_batch(table, spark, upd, fence=("s", 1))
    row = table.read(spark).filter(
        (F.col("conv_id") == "conv-00000001") & (F.col("turn_idx") == 1)
    ).collect()
    assert len(row) == 1 and row[0].text == "after rebucket"
    # a fresh handle loads the evolved spec from the commit log
    assert LakeTable(str(tmp_path / "t")).num_buckets == 8


def test_sorted_compaction_enables_file_pruning(spark, tmp_path):
    """sort_within_buckets + target_file_rows produce several files per
    bucket with disjoint key ranges, so a narrow-key merge rewrites a
    strict subset of each touched bucket's files."""
    table = LakeTable.create(
        str(tmp_path / "t"), TRANSCRIPT_SCHEMA,
        key_cols=["conv_id", "turn_idx"], num_buckets=2,
    )
    log = generate_change_events(spark, 2000, n_convs=100, delete_frac=0.0)
    apply_batch(table, spark, log, fence=("s", 0))
    before = sorted(tuple(r) for r in table.read(spark).collect())

    table.compact(spark, sort_within_buckets=True, target_file_rows=150)
    files_per_bucket: dict[int, int] = {}
    for f in table.files:
        files_per_bucket[f["bucket"]] = files_per_bucket.get(f["bucket"], 0) + 1
    assert all(n >= 3 for n in files_per_bucket.values())
    # sorted output -> every file carries usable conv_id stats
    assert all("conv_id" in (f.get("stats") or {}) for f in table.files)
    assert sorted(tuple(r) for r in table.read(spark).collect()) == before

    # narrow single-key update: touched bucket rewrites ONE file
    upd = spark.createDataFrame(
        [("U", 20_000_000, "conv-00000042", 1, "user", "narrow", None, None)],
        "op string, lsn long, conv_id string, turn_idx int, role string, "
        "text string, tool string, ts timestamp",
    )
    res = apply_batch(table, spark, upd, fence=("s", 1))
    assert res["buckets_touched"] == 1
    assert res["files_rewritten"] == 1
    assert res["files_kept_in_touched_buckets"] >= 2


def test_merge_retry_after_concurrent_rebucket(spark, tmp_path):
    """A writer whose reduce (and touched-bucket list) was computed under
    the OLD bucket spec loses the commit race to a bucket-count-evolution
    compact; its conflict retry must recompute pruning under the NEW spec —
    stale bucket ids would skip files holding old key versions and leave
    duplicate rows."""
    from sql_etl_pipeline_spark.cdc.apply import _merge_reduced, _reduce_with_stats

    path = str(tmp_path / "t")
    LakeTable.create(path, TRANSCRIPT_SCHEMA, key_cols=["conv_id", "turn_idx"], num_buckets=4)
    a = LakeTable(path)
    log1 = generate_change_events(spark, 800, n_convs=40, seed=1).cache()
    apply_batch(a, spark, log1, fence=("s", 0))

    # log2 UPDATES existing keys (same generator, later LSNs via remap)
    log2 = generate_change_events(spark, 800, n_convs=40, seed=1).withColumn(
        "lsn", F.col("lsn") + 10_000
    ).withColumn("text", F.concat(F.lit("v2 "), F.coalesce(F.col("text"), F.lit("")))).cache()
    reduced, stats, touched, key_range, br = _reduce_with_stats(a, log2)

    # concurrent winner: another handle re-buckets 4 -> 16
    b = LakeTable(path)
    b.compact(spark, num_buckets=16)

    res = _merge_reduced(
        a, spark, reduced, ("s", 1), stats, touched, key_range,
        commit_retries=2, bucket_ranges=br,
    )
    reduced.unpersist()
    assert res["applied"]

    final = a.refresh().read(spark)
    # every key exactly once (no stale duplicates), and v2 won everywhere
    keys = final.groupBy("conv_id", "turn_idx").count()
    assert keys.filter(F.col("count") > 1).count() == 0
    got = sorted(tuple(r) for r in final.collect())
    want = sorted(
        tuple(r)
        for r in expected_final_state(log1.unionByName(log2)).collect()
    )
    assert got == want
    log1.unpersist(); log2.unpersist()


def test_vacuum_never_reclaims_live_or_inflight_files(spark, tmp_path):
    """Adversarial maintenance race (round-3 VERDICT task #8): snapshot
    expiry + vacuum running against (a) an IN-FLIGHT writer whose files
    exist on disk but whose commit has not published yet — protected only
    by the grace period — and (b) a live file with an ancient mtime —
    protected only by snapshot reachability. Neither protection may fail;
    a crashed writer's orphans older than the grace period ARE reclaimed."""
    import os
    import time as _t

    from sql_etl_pipeline_spark.lakehouse.table import BUCKET_COL

    ev = generate_change_events(spark, 800, n_convs=20, delete_frac=0.0)
    table = LakeTable.create(
        str(tmp_path / "t"),
        TRANSCRIPT_SCHEMA,
        key_cols=["conv_id", "turn_idx"],
        num_buckets=4,
    )
    # several commits so expiry leaves genuinely reclaimable files
    for i in range(3):
        apply_batch(table, spark, ev.filter(F.pmod("lsn", F.lit(3)) == i))
    table.compact(spark)
    expected = [tuple(r) for r in
                table.read(spark).orderBy("conv_id", "turn_idx").collect()]
    pre_files = {os.path.join(table.path, f["path"]) for f in table.files}

    # (b) live file with ancient mtime: reachability, not age, must save it
    victim = sorted(pre_files)[0]
    os.utime(victim, (1, 1))

    # (a) in-flight writer: files on disk, commit not yet published
    rows = table.read(spark).limit(50).withColumn(
        BUCKET_COL, table._bucket_id()
    )
    inflight = table._write_buckets(rows, table.num_buckets)
    inflight_paths = [os.path.join(table.path, f["path"]) for f in inflight]
    assert all(os.path.exists(p) for p in inflight_paths)

    # (c) crashed-writer orphan, older than any grace period
    orphan = os.path.join(
        os.path.dirname(inflight_paths[0]), "crashed-orphan.parquet"
    )
    open(orphan, "wb").write(b"not a real file")
    os.utime(orphan, (1, 1))

    table.expire_snapshots(keep_last=1)
    removed = table.vacuum(grace_seconds=600)
    assert removed > 0, "expired pre-compaction files should be reclaimed"

    assert os.path.exists(victim), "live file reclaimed by vacuum"
    assert all(os.path.exists(p) for p in inflight_paths), (
        "in-flight writer's files reclaimed despite grace period"
    )
    assert not os.path.exists(orphan), "stale orphan should be reclaimed"

    # the racing writer can still publish, and the table reads correctly
    table._commit(
        table.files + inflight,
        table.schema,
        table.summary,
        {"op": "append", "rows_written": 50,
         "buckets": sorted({f["bucket"] for f in inflight})},
    )
    assert table.read(spark).count() >= len(expected)
    got = [tuple(r) for r in
           table.at_version(table.version - 1)  # pre-append snapshot
           .read(spark).orderBy("conv_id", "turn_idx").collect()]
    assert got == expected, "table state corrupted by expiry/vacuum race"
