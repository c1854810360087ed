"""Merge-on-read mode: append-delta merges, read-time LWW resolution,
delta-fold compaction — final state must be byte-identical to the COW
engine and to the one-shot oracle under the same adversarial log
(deletes, duplicate delivery, out-of-order)."""

import pytest
from pyspark.sql import functions as F

from sql_etl_pipeline_spark.cdc import TRANSCRIPT_SCHEMA, generate_change_events
from sql_etl_pipeline_spark.cdc.apply import apply_batch, expected_final_state
from sql_etl_pipeline_spark.lakehouse import LakeTable

N_EVENTS = 2500


@pytest.fixture()
def log(spark):
    return generate_change_events(
        spark,
        N_EVENTS,
        n_convs=100,
        max_turns=10,
        delete_frac=0.02,
        dup_frac=0.02,
        ooo_frac=0.05,
    ).cache()


def _state(table, spark):
    return sorted(
        (r.conv_id, r.turn_idx, r.role, r.text, r.tool)
        for r in table.read(spark).collect()
    )


def _oracle(log):
    df = expected_final_state(log)
    return sorted(
        (r.conv_id, r.turn_idx, r.role, r.text, r.tool) for r in df.collect()
    )


def _apply_batched(table, spark, log, n_batches=4, stream="m"):
    out = []
    for i in range(n_batches):
        batch = log.filter(F.pmod(F.col("lsn"), F.lit(n_batches)) == i)
        out.append(apply_batch(table, spark, batch, fence=(stream, i)))
    return out


def test_mor_matches_cow_and_oracle(spark, tmp_path, log):
    cow = LakeTable.create(
        str(tmp_path / "cow"), TRANSCRIPT_SCHEMA, key_cols=["conv_id", "turn_idx"],
        num_buckets=8,
    )
    mor = LakeTable.create(
        str(tmp_path / "mor"), TRANSCRIPT_SCHEMA, key_cols=["conv_id", "turn_idx"],
        num_buckets=8, merge_mode="mor",
    )
    cow_res = _apply_batched(cow, spark, log)
    mor_res = _apply_batched(mor, spark, log)
    # MOR merges never rewrite: pure appends
    assert all(r["files_rewritten"] == 0 for r in mor_res)
    assert all(r["mode"] == "mor" for r in mor_res)
    # COW steady-state merges do rewrite
    assert any(r["files_rewritten"] > 0 for r in cow_res)
    want = _oracle(log)
    assert _state(mor, spark) == want
    assert _state(cow, spark) == want


def test_mor_compact_folds_deltas_and_preserves_state(spark, tmp_path, log):
    mor = LakeTable.create(
        str(tmp_path / "mor"), TRANSCRIPT_SCHEMA, key_cols=["conv_id", "turn_idx"],
        num_buckets=8, merge_mode="mor",
    )
    _apply_batched(mor, spark, log)
    assert any(f.get("kind") == "delta" for f in mor.files)
    before = _state(mor, spark)
    mor.compact(spark)
    # all deltas folded into base
    assert all(f.get("kind", "base") == "base" for f in mor.files)
    assert _state(mor, spark) == before == _oracle(log)
    # merging again after compaction still lands correctly
    late = spark.createDataFrame(
        [("U", 10_000_000, "conv-00000000", 0, "user", "post-compact", None, None)],
        "op string, lsn long, conv_id string, turn_idx int, role string, "
        "text string, tool string, ts timestamp",
    )
    apply_batch(mor, spark, late, fence=("m", 99))
    row = mor.read(spark).filter(
        (F.col("conv_id") == "conv-00000000") & (F.col("turn_idx") == 0)
    ).collect()
    assert len(row) == 1 and row[0].text == "post-compact"


def test_mor_fenced_replay_noop(spark, tmp_path, log):
    mor = LakeTable.create(
        str(tmp_path / "mor"), TRANSCRIPT_SCHEMA, key_cols=["conv_id", "turn_idx"],
        num_buckets=8, merge_mode="mor",
    )
    _apply_batched(mor, spark, log)
    s1 = _state(mor, spark)
    v1 = mor.version
    res = _apply_batched(mor, spark, log)  # same fences -> all no-op
    assert all(r.get("reason") == "fenced" for r in res)
    assert mor.version == v1 and _state(mor, spark) == s1
    # unfenced duplicate replay: deltas append but resolution stays correct
    apply_batch(mor, spark, log.filter(F.pmod(F.col("lsn"), F.lit(4)) == 0))
    assert _state(mor, spark) == s1


def test_mor_stale_update_after_delete_no_resurrection(spark, tmp_path):
    mor = LakeTable.create(
        str(tmp_path / "mor"), TRANSCRIPT_SCHEMA, key_cols=["conv_id", "turn_idx"],
        num_buckets=4, merge_mode="mor",
    )
    ddl = ("op string, lsn long, conv_id string, turn_idx int, role string, "
           "text string, tool string, ts timestamp")
    apply_batch(mor, spark, spark.createDataFrame(
        [("I", 10, "c1", 0, "user", "hello", None, None)], ddl), fence=("s", 0))
    apply_batch(mor, spark, spark.createDataFrame(
        [("D", 30, "c1", 0, None, None, None, None)], ddl), fence=("s", 1))
    # stale lower-LSN update delivered late: must NOT resurrect
    apply_batch(mor, spark, spark.createDataFrame(
        [("U", 20, "c1", 0, "user", "zombie", None, None)], ddl), fence=("s", 2))
    assert mor.read(spark).filter("conv_id = 'c1'").count() == 0
    # tombstone visible with include_deleted, carries the delete's LSN
    t = mor.read(spark, include_deleted=True, include_meta=True).filter(
        "conv_id = 'c1'"
    ).collect()
    assert len(t) == 1 and t[0].deleted and t[0].last_lsn == 30


def test_mor_bucket_and_range_pruned_reads(spark, tmp_path, log):
    mor = LakeTable.create(
        str(tmp_path / "mor"), TRANSCRIPT_SCHEMA, key_cols=["conv_id", "turn_idx"],
        num_buckets=8, merge_mode="mor",
    )
    _apply_batched(mor, spark, log)
    full = mor.read(spark, include_meta=True)
    # key-column range read (pre-resolution filter is safe on key cols)
    lo, hi = "conv-00000010", "conv-00000040"
    want = sorted(
        (r.conv_id, r.turn_idx) for r in full.filter(
            (F.col("conv_id") >= lo) & (F.col("conv_id") <= hi)
        ).collect()
    )
    got = sorted(
        (r.conv_id, r.turn_idx)
        for r in mor.read(spark, ranges={"conv_id": (lo, hi)}).collect()
    )
    assert got == want and len(got) > 0
    # NON-key range (last_lsn): must filter the RESOLVED state, never
    # resurrect an older version whose lsn falls inside the range
    cut = N_EVENTS // 2
    want2 = sorted(
        (r.conv_id, r.turn_idx, r.last_lsn)
        for r in full.filter(F.col("last_lsn") <= cut).collect()
    )
    got2 = sorted(
        (r.conv_id, r.turn_idx, r.last_lsn)
        for r in mor.read(
            spark, include_meta=True, ranges={"last_lsn": (None, cut)}
        ).collect()
    )
    assert got2 == want2
    # bucket pruning returns exactly the buckets' keys
    b0 = mor.read(spark, buckets=[0, 1])
    want3 = full.withColumn(
        "_b", mor._bucket_id()
    ).filter(F.col("_b").isin([0, 1])).count()
    assert b0.count() == want3


def test_mor_streaming_ingest_with_compaction_cadence(spark, tmp_path, log):
    """Structured Streaming into a MOR table: micro-batches append deltas,
    the cadence-driven compaction folds them, final state matches the
    oracle — the full write-optimized ingest loop."""
    from sql_etl_pipeline_spark.streaming import CdcStreamIngestor

    src = str(tmp_path / "log")
    log.orderBy("pos").repartitionByRange(6, "pos").write.parquet(src)
    mor = LakeTable.create(
        str(tmp_path / "mor"), TRANSCRIPT_SCHEMA, key_cols=["conv_id", "turn_idx"],
        num_buckets=8, merge_mode="mor",
    )
    ing = CdcStreamIngestor(
        mor,
        src,
        str(tmp_path / "ckpt"),
        log.schema,
        stream_id="mor-stream",
        max_files_per_trigger=2,
        compact_every=2,
    )
    batches = ing.run_available_now(spark)
    assert len(batches) >= 2
    assert any("compacted" in b for b in batches)  # cadence fired
    assert _state(mor, spark) == _oracle(log)
    ops = [r["op"] for r in mor.lineage_records()]
    assert "compact" in ops and "merge_cdc" in ops


def test_mor_schema_evolution_mid_log(spark, tmp_path):
    from pyspark.sql.types import StructType

    base_schema = StructType([f for f in TRANSCRIPT_SCHEMA.fields if f.name != "tool"])
    mor = LakeTable.create(
        str(tmp_path / "mor"), base_schema, key_cols=["conv_id", "turn_idx"],
        num_buckets=4, merge_mode="mor",
    )
    ddl_old = ("op string, lsn long, conv_id string, turn_idx int, role string, "
               "text string, ts timestamp")
    ddl_new = ("op string, lsn long, conv_id string, turn_idx int, role string, "
               "text string, tool string, ts timestamp")
    apply_batch(mor, spark, spark.createDataFrame(
        [("I", 1, "c1", 0, "user", "pre", None)], ddl_old), fence=("s", 0))
    apply_batch(mor, spark, spark.createDataFrame(
        [("I", 2, "c2", 0, "assistant", "post", "calc", None)], ddl_new),
        fence=("s", 1))
    rows = {r.conv_id: r for r in mor.read(spark).collect()}
    assert rows["c1"].tool is None  # pre-evolution row surfaces NULL
    assert rows["c2"].tool == "calc"
    assert "tool" in [f.name for f in mor.schema.fields]


def _hot_stream(spark, tmp_path):
    """One cold conversation, then a hot stream on a single conversation,
    written as 9 single-row-group files (-> 9 micro-batches hitting the
    hot bucket). Returns (events, source dir)."""
    import datetime as dt

    ddl = ("pos long, op string, lsn long, conv_id string, turn_idx int, "
           "role string, text string, tool string, ts timestamp")
    ts = dt.datetime(2026, 1, 1)
    cold = [(0, "I", 0, "cold", 0, "user", "cold row", None, ts)]
    hot = [
        (i + 1, "I" if i < 8 else "U", i + 1, "hot", i % 8, "user",
         f"text v{i}", None, ts)
        for i in range(32)
    ]
    src = str(tmp_path / "log")
    df = spark.createDataFrame(cold + hot, ddl)
    df.orderBy("pos").repartitionByRange(9, "pos").write.parquet(src)
    return df, src


def test_mor_depth_triggered_bucket_compaction(spark, tmp_path):
    """A hot-bucket stream (every event in ONE conversation) must not stack
    unbounded deltas between cadence hits: max_delta_depth triggers
    bucket-scoped compaction, bounding per-key read fan-in, while cold
    buckets' files stay untouched (VERDICT r2 next-round #7)."""
    from sql_etl_pipeline_spark.streaming import CdcStreamIngestor

    mor = LakeTable.create(
        str(tmp_path / "mor"), TRANSCRIPT_SCHEMA, key_cols=["conv_id", "turn_idx"],
        num_buckets=8, merge_mode="mor",
    )
    df, src = _hot_stream(spark, tmp_path)
    K = 2
    ing = CdcStreamIngestor(
        mor, src, str(tmp_path / "ckpt"), df.schema,
        stream_id="hot", max_files_per_trigger=1, max_delta_depth=K,
    )
    batches = ing.run_available_now(spark)
    assert any("compacted_buckets" in b for b in batches)
    # invariant: depth never exceeds K at rest (trigger fires the moment
    # a merge pushes any bucket past K)
    depths = mor.delta_depths()
    assert all(d <= K for d in depths.values()), depths
    ops = [r["op"] for r in mor.lineage_records()]
    assert "compact_buckets" in ops and "compact" not in ops
    # state correct: hot rows LWW-resolved, cold row intact
    state = {(r.conv_id, r.turn_idx): r.text for r in mor.read(spark).collect()}
    assert state[("cold", 0)] == "cold row"
    for j in range(8):
        winner = max(i for i in range(32) if i % 8 == j)
        assert state[("hot", j)] == f"text v{winner}"


def test_mor_bucket_compaction_conflict_retries_then_defers(spark, tmp_path, monkeypatch):
    """Depth-triggered compaction is best-effort maintenance after the
    batch's merge has committed: a lost commit race is retried once, a
    second loss defers it (``compact_deferred``) without killing the
    stream, and a later batch compacts again. The final table still equals
    the one-shot oracle."""
    from sql_etl_pipeline_spark.lakehouse.table import CommitConflict
    from sql_etl_pipeline_spark.streaming import CdcStreamIngestor

    real = LakeTable.compact_buckets
    lose = {1, 3, 4}  # calls (1-based) that lose the race
    calls = []

    def racy(self, *args, **kwargs):
        calls.append(self.version)
        if len(calls) in lose:
            raise CommitConflict("injected: another writer published first")
        return real(self, *args, **kwargs)

    monkeypatch.setattr(LakeTable, "compact_buckets", racy)
    mor = LakeTable.create(
        str(tmp_path / "mor"), TRANSCRIPT_SCHEMA, key_cols=["conv_id", "turn_idx"],
        num_buckets=8, merge_mode="mor",
    )
    df, src = _hot_stream(spark, tmp_path)
    ing = CdcStreamIngestor(
        mor, src, str(tmp_path / "ckpt"), df.schema,
        stream_id="hot", max_files_per_trigger=1, max_delta_depth=2,
    )
    batches = ing.run_available_now(spark)
    assert len(batches) == 9 and all(b["applied"] for b in batches)
    maint = [
        i for i, b in enumerate(batches)
        if "compacted_buckets" in b or "compact_deferred" in b
    ]
    # call 1 lost, its retry (call 2) compacted
    assert "compacted_buckets" in batches[maint[0]]
    assert "compact_deferred" not in batches[maint[0]]
    # calls 3 and 4 both lost: deferred, and the stream went on
    assert batches[maint[1]]["compact_deferred"] == "commit conflict"
    assert "compacted_buckets" not in batches[maint[1]]
    # the still-deep bucket compacts on a later batch
    assert any("compacted_buckets" in batches[i] for i in maint[2:])
    assert len(calls) >= 5
    assert [r["op"] for r in mor.lineage_records()].count("compact_buckets") == (
        len(calls) - len(lose)
    )
    assert _state(mor, spark) == _oracle(df)
