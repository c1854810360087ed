"""Physical-plan shape tests: the optimizations the 100 TB design relies on
must be visible in `explain`, not assumed.

- filters/projections reach the parquet scan (PushedFilters / ReadSchema)
- tiny dimension sides broadcast (BroadcastHashJoin)
- ORDER BY + LIMIT plans as TakeOrderedAndProject (true top-k, no global sort)
- bucket pruning reads only the touched buckets' files
- hot paths stay inside WholeStageCodegen
"""

import os

import pytest
from pyspark.sql import functions as F

SF = os.environ.get("SF_SMOKE_DIR", "/root/testdata/sf0.001")


def plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_and_projection_pushdown(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = li.filter(F.col("l_quantity") > 30).select("l_orderkey", "l_quantity")
    s = formatted(q)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30" in s
    # column pruning: the scan schema carries only the two needed columns
    read_schema = [ln for ln in s.splitlines() if "ReadSchema" in ln][0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_extendedprice" not in read_schema


def test_broadcast_join_for_small_dimension(spark):
    from sql_etl_pipeline_spark.analytics.queries import product_performance

    s = plan(product_performance(spark, SF))
    assert "BroadcastHashJoin" in s


def test_top_k_uses_take_ordered(spark):
    from sql_etl_pipeline_spark.analytics.queries import customer_ltv

    s = plan(customer_ltv(spark, SF))
    assert "TakeOrderedAndProject" in s


def test_whole_stage_codegen_on_normalize_pipeline(spark):
    """The per-event hot path (scan -> derive -> normalize) must stay inside
    whole-stage codegen. (The LWW agg itself is a SortAggregate — max_by
    over a struct buffer can't hash-aggregate in Spark 4 — which sits
    outside WSCG by design.)"""
    from sql_etl_pipeline_spark.cdc.apply import prepare_events
    from sql_etl_pipeline_spark.cdc.queries import derive_change_events

    prepared = prepare_events(derive_change_events(spark, SF))
    # in executedPlan().toString() a leading "*(n)" marks a codegen stage
    assert "*(1) Project" in plan(prepared) or "WholeStageCodegen" in plan(prepared)


def test_bucket_pruned_read_lists_only_touched_files(spark, tmp_path):
    from sql_etl_pipeline_spark.lakehouse import LakeTable
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [StructField("k", StringType(), False), StructField("v", IntegerType(), True)]
    )
    t = LakeTable.create(str(tmp_path / "t"), schema, key_cols=["k"], num_buckets=8)
    df = spark.createDataFrame([(f"k{i}", i) for i in range(200)], schema)
    t.append(spark, df)
    all_files = {f["bucket"] for f in t.files}
    assert len(all_files) > 2
    some = sorted(all_files)[:2]
    pruned = t.read(spark, buckets=some)
    assert pruned.count() > 0
    # the scan's actual file list contains ONLY the chosen buckets' files
    import re

    listed = pruned.inputFiles()
    assert listed
    buckets_read = {int(re.search(r"_bucket=(\d+)", p).group(1)) for p in listed}
    assert buckets_read <= set(some), f"scan read extra buckets: {buckets_read}"
    n_paths = sum(1 for f in t.files if f["bucket"] in set(some))
    assert len(listed) == n_paths


def test_time_travel_and_expiry(spark, tmp_path):
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    from sql_etl_pipeline_spark.lakehouse import LakeTable

    schema = StructType(
        [StructField("k", StringType(), False), StructField("v", IntegerType(), True)]
    )
    t = LakeTable.create(str(tmp_path / "t"), schema, key_cols=["k"], num_buckets=2)
    for i in range(4):
        ev = spark.createDataFrame(
            [("I", i + 1, f"k{i}", i)], "op string, lsn long, k string, v int"
        )
        t.merge_cdc(spark, ev)
    assert t.version == 5
    old = t.at_version(3)  # after 2 merges
    assert old.read(spark).count() == 2
    assert t.read(spark).count() == 4

    removed = t.expire_snapshots(keep_last=2)
    assert removed == 3
    t.vacuum(grace_seconds=0)
    # current snapshot still fully readable after expiry+vacuum
    assert t.refresh().read(spark).count() == 4
    import pytest

    with pytest.raises(FileNotFoundError):
        t.at_version(1)


def test_file_stat_range_pruning(spark, tmp_path):
    """Iceberg-style min/max pruning: a conv_id range read skips files whose
    footer stats fall outside the range, and results stay exact."""
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    from sql_etl_pipeline_spark.lakehouse import LakeTable

    schema = StructType(
        [
            StructField("conv_id", StringType(), False),
            StructField("turn_idx", IntegerType(), False),
            StructField("text", StringType(), True),
        ]
    )
    t = LakeTable.create(
        str(tmp_path / "t"), schema, key_cols=["conv_id", "turn_idx"], num_buckets=4
    )
    rows = [
        ("I", i + 1, f"conv-{i:04d}", 0, f"txt{i}") for i in range(200)
    ]
    ev = spark.createDataFrame(
        rows, "op string, lsn long, conv_id string, turn_idx int, text string"
    )
    t.merge_cdc(spark, ev)
    assert any(f.get("stats", {}).get("conv_id") for f in t.files)

    full = t.read(spark)
    pruned = t.read(spark, ranges={"conv_id": ("conv-0010", "conv-0019")})
    assert pruned.count() == 10
    assert len(pruned.inputFiles()) <= len(full.inputFiles())
    # a range outside all data reads zero files
    none = t.read(spark, ranges={"conv_id": ("zzz-0", "zzz-9")})
    assert none.count() == 0
    assert len(none.inputFiles()) == 0


def test_mor_bucket_pruned_read_lists_only_selected_buckets(spark, tmp_path):
    """MOR resolution must not widen the scan: a bucket-pruned read on a
    delta-bearing table lists only the selected buckets' base+delta files."""
    import re

    from sql_etl_pipeline_spark.cdc import TRANSCRIPT_SCHEMA, generate_change_events
    from sql_etl_pipeline_spark.cdc.apply import apply_batch
    from sql_etl_pipeline_spark.lakehouse import LakeTable

    t = LakeTable.create(
        str(tmp_path / "t"), TRANSCRIPT_SCHEMA, key_cols=["conv_id", "turn_idx"],
        num_buckets=8, merge_mode="mor",
    )
    log = generate_change_events(spark, 1500, n_convs=80)
    apply_batch(t, spark, log, fence=("s", 0))
    apply_batch(
        t, spark,
        generate_change_events(spark, 1500, n_convs=80, seed=43),
        fence=("s", 1),
    )
    assert any(f.get("kind") == "delta" for f in t.files)
    pruned = t.read(spark, buckets=[0, 1])
    listed = pruned.inputFiles()
    assert listed
    buckets_read = {int(re.search(r"_bucket=(\d+)", p).group(1)) for p in listed}
    assert buckets_read <= {0, 1}, f"MOR scan read extra buckets: {buckets_read}"


def test_sorted_compaction_range_read_lists_fewer_files(spark, tmp_path):
    """After compact(sort_within_buckets, target_file_rows) a bucket holds
    several files with disjoint key ranges; a narrow key-range read must
    list strictly fewer files than the full table scan."""
    from sql_etl_pipeline_spark.cdc import TRANSCRIPT_SCHEMA, generate_change_events
    from sql_etl_pipeline_spark.cdc.apply import apply_batch
    from sql_etl_pipeline_spark.lakehouse import LakeTable

    t = LakeTable.create(
        str(tmp_path / "t"), TRANSCRIPT_SCHEMA, key_cols=["conv_id", "turn_idx"],
        num_buckets=2,
    )
    apply_batch(t, spark, generate_change_events(spark, 2000, n_convs=100), fence=("s", 0))
    t.compact(spark, sort_within_buckets=True, target_file_rows=150)
    full = t.read(spark)
    narrow = t.read(spark, ranges={"conv_id": ("conv-00000010", "conv-00000015")})
    assert narrow.count() > 0
    assert len(narrow.inputFiles()) < len(full.inputFiles())


def test_split_compaction_files_disjoint_within_every_bucket(spark, tmp_path):
    """Regression: the bucket-partitioned writer must keep within-bucket key
    order when a repartition task carries SEVERAL buckets (hash collisions).
    Spark's dynamic-partition write re-sorts task rows by the partition
    column alone — non-stable — so unless the pre-write sort leads with the
    bucket column, maxRecordsPerFile splits produce overlapping key ranges
    and file-scoped COW merges degrade to rewrite-almost-everything (seen
    at 1M rows: a 5%-keyspace batch 'overlapped' 90% of files)."""
    from sql_etl_pipeline_spark.cdc import TRANSCRIPT_SCHEMA, generate_change_events
    from sql_etl_pipeline_spark.cdc.apply import apply_batch
    from sql_etl_pipeline_spark.lakehouse import LakeTable

    t = LakeTable.create(
        str(tmp_path / "t"), TRANSCRIPT_SCHEMA, key_cols=["conv_id", "turn_idx"],
        num_buckets=8,
    )
    apply_batch(
        t, spark, generate_change_events(spark, 8000, n_convs=400), fence=("s", 0)
    )
    t.compact(spark, sort_within_buckets=True, target_file_rows=100)
    by_bucket: dict[int, list] = {}
    for f in t.files:
        st = (f.get("stats") or {}).get("conv_id")
        assert st is not None, f"file without conv_id stats: {f['path']}"
        by_bucket.setdefault(f["bucket"], []).append((st["min"], st["max"]))
    assert any(len(v) > 1 for v in by_bucket.values()), (
        "test needs multiple files per bucket to exercise the split"
    )
    for b, ranges in by_bucket.items():
        ranges.sort()
        for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
            assert hi1 <= lo2, (
                f"bucket {b}: overlapping file ranges ({lo1},{hi1}) vs "
                f"({lo2},{hi2}) — non-stable partition write sort?"
            )


def test_murmur3_bucket_id_equals_spark_partition_id(spark):
    """The aligned single-shuffle merge rests on one identity: the table's
    bucket expression (murmur3) must equal Spark's HashPartitioning
    partition-id function for repartition(B, *bucket_cols). If Spark ever
    changed its hash/seed/pmod, merges would silently write rows into the
    wrong bucket directories — this locks the identity row-exactly."""
    from sql_etl_pipeline_spark.lakehouse.table import _bucket_expr

    df = spark.range(0, 20000).select(
        F.concat(F.lit("conv-"), F.col("id").cast("string")).alias("conv_id"),
        (F.col("id") % 7).cast("int").alias("turn_idx"),
    )
    for cols, b in ((["conv_id"], 16), (["conv_id", "turn_idx"], 32)):
        r = (
            df.repartition(b, *[F.col(c) for c in cols])
            .withColumn("pid", F.spark_partition_id())
            .withColumn("bid", _bucket_expr(cols, b))
        )
        assert r.filter(F.col("pid") != F.col("bid")).count() == 0


def test_cow_merge_plan_has_single_exchange_and_one_file_per_bucket(spark, tmp_path):
    """The round-4 shuffle-halving: on a murmur3-bucketed table the COW
    merge's resolution + bucketed write share ONE explicit repartition —
    the repartition satisfies the agg's ClusteredDistribution (bucket_cols
    is a subset of keys) so no agg exchange appears, and its partition ids
    equal the bucket ids so the write skips its repartition. Asserted two
    ways: the mirror plan carries exactly one Exchange, and an actual merge
    writes exactly one file per touched bucket (multi-task buckets would
    fan out to several)."""
    from sql_etl_pipeline_spark.cdc import TRANSCRIPT_SCHEMA, generate_change_events
    from sql_etl_pipeline_spark.cdc.apply import apply_batch
    from sql_etl_pipeline_spark.lakehouse import LakeTable
    from sql_etl_pipeline_spark.lakehouse.table import BUCKET_COL, LSN_COL, _bucket_expr

    nb = 8
    ev = generate_change_events(spark, 6000, n_convs=300).withColumn(
        BUCKET_COL, _bucket_expr(["conv_id"], nb)
    ).withColumn(LSN_COL, F.col("lsn")).withColumn("_pri", F.lit(0))
    # mirror of merge_cdc step 3 on a murmur3 table
    combined = ev.repartition(nb, F.col("conv_id"))
    pack = F.struct(*[F.col(c) for c in combined.columns if c != "_pri"])
    merged = (
        combined.groupBy("conv_id", "turn_idx")
        .agg(F.max_by(pack, F.struct(F.col(LSN_COL), F.col("_pri"))).alias("_w"))
        .select("_w.*")
    )
    assert plan(merged).count("Exchange") == 1

    t = LakeTable.create(
        str(tmp_path / "t"), TRANSCRIPT_SCHEMA,
        key_cols=["conv_id", "turn_idx"], num_buckets=nb,
    )
    assert t._state["partition"]["bucket_fn"] == "murmur3"
    res = apply_batch(t, spark, generate_change_events(spark, 6000, n_convs=300),
                      fence=("s", 0))
    assert res["applied"]
    from collections import Counter

    per_bucket = Counter(f["bucket"] for f in t.files)
    assert max(per_bucket.values()) == 1, per_bucket


def test_legacy_bucket_layout_is_rejected(tmp_path):
    """Only murmur3 bucket layouts are readable: a commit whose partition
    spec lacks ``bucket_fn`` (the pre-murmur3 layout) or names another hash
    must fail loudly on load — resolving its files under murmur3 would
    prune merges against the wrong bucket ids and keep stale versions."""
    import json
    import os as _os

    from sql_etl_pipeline_spark.cdc import TRANSCRIPT_SCHEMA
    from sql_etl_pipeline_spark.lakehouse import LakeTable

    for i, legacy in enumerate((None, "xxhash64")):
        t = LakeTable.create(
            str(tmp_path / f"t{i}"), TRANSCRIPT_SCHEMA,
            key_cols=["conv_id", "turn_idx"], num_buckets=8,
        )
        v1 = _os.path.join(t.path, "_meta", "v00000001.json")
        with open(v1) as fh:
            c = json.load(fh)
        if legacy is None:
            del c["partition"]["bucket_fn"]
        else:
            c["partition"]["bucket_fn"] = legacy
        with open(v1, "w") as fh:
            json.dump(c, fh)
        with pytest.raises(ValueError, match=f"t{i}.*bucket_fn"):
            LakeTable(t.path)


def test_merge_preserves_recorded_file_granularity(spark, tmp_path):
    """With target_file_rows recorded (at create or by a sorted+split
    compaction), a COW merge must NOT collapse a touched bucket back to a
    single file: rewritten buckets come out key-sorted, split at the
    target, with disjoint per-file key ranges — so the file-scoped rewrite
    fraction stays bounded BETWEEN compactions, not only right after one."""
    from sql_etl_pipeline_spark.cdc import TRANSCRIPT_SCHEMA, generate_change_events
    from sql_etl_pipeline_spark.cdc.apply import apply_batch
    from sql_etl_pipeline_spark.lakehouse import LakeTable

    t = LakeTable.create(
        str(tmp_path / "t"), TRANSCRIPT_SCHEMA,
        key_cols=["conv_id", "turn_idx"], num_buckets=4,
        target_file_rows=150,
    )
    assert t.target_file_rows == 150
    apply_batch(
        t, spark, generate_change_events(spark, 12000, n_convs=600), fence=("s", 0)
    )
    by_bucket: dict[int, list] = {}
    for f in t.files:
        st = (f.get("stats") or {}).get("conv_id")
        assert st is not None
        by_bucket.setdefault(f["bucket"], []).append((st["min"], st["max"]))
    assert all(len(v) > 1 for v in by_bucket.values()), (
        f"merge collapsed buckets to single files: "
        f"{ {b: len(v) for b, v in by_bucket.items()} }"
    )
    for b, ranges in by_bucket.items():
        ranges.sort()
        for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
            assert hi1 <= lo2, f"bucket {b}: overlapping merge-written files"

    # and a sorted+split compaction RECORDS the granularity durably
    t2 = LakeTable.create(
        str(tmp_path / "t2"), TRANSCRIPT_SCHEMA,
        key_cols=["conv_id", "turn_idx"], num_buckets=4,
    )
    assert t2.target_file_rows is None
    apply_batch(
        t2, spark, generate_change_events(spark, 6000, n_convs=300), fence=("s", 0)
    )
    t2.compact(spark, sort_within_buckets=True, target_file_rows=200)
    assert LakeTable(t2.path).target_file_rows == 200
