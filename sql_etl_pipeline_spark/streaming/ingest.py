"""Structured Streaming CDC ingestion: log tail -> LakeTable upserts.

This is the real implementation of what the reference only aspires to —
"log-based change detection, real-time" described but never built
(``/root/reference/docs/TECHNICAL_GUIDE.md:184-189``). Its hand-rolled
timestamp high-water mark (``/root/reference/src/etl_pipeline.py:231-245``,
always ``None`` in practice) is replaced by checkpointed source offsets:
"which events are new" is the checkpoint's job, restart-safety comes for
free, and exactly-once comes from the batch-id fence recorded atomically
inside each LakeTable commit.

Scale notes (100 TB / 10^10 events):

* the file source lists only new files per trigger; ``maxFilesPerTrigger``
  bounds micro-batch size (the principled version of the reference's
  ``BATCH_SIZE=1000`` chunking, ``/root/reference/config/config.py:43``),
* each micro-batch shuffles once for LWW dedup (map-side combined) and
  rewrites only the buckets it touches,
* ``Trigger.AvailableNow`` gives bounded replay/backfill with the same code
  path as continuous tailing.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ..cdc.apply import apply_batch
from ..lakehouse.table import CommitConflict, LakeTable


class CdcStreamIngestor:
    """Tails a directory of change-event files into a LakeTable."""

    def __init__(
        self,
        table: LakeTable,
        source_dir: str,
        checkpoint_dir: str,
        event_schema: StructType,
        stream_id: str = "cdc",
        max_files_per_trigger: int | None = None,
        source_format: str = "parquet",
        source_options: dict | None = None,
        fail_after_merge: bool = False,
        rules: dict | None = None,
        strict_validation: bool = False,
        compact_every: int | None = None,
        tombstone_lsn_lag: int | None = None,
        transform=None,
        max_delta_depth: int | None = None,
        summaries: list[dict] | None = None,
        max_refresh_deferrals: int = 5,
    ):
        self.table = table
        self.source_dir = source_dir
        self.checkpoint_dir = checkpoint_dir
        self.event_schema = event_schema
        self.stream_id = stream_id
        self.max_files_per_trigger = max_files_per_trigger
        self.source_format = source_format
        self.source_options = dict(source_options or {})
        # test hook: simulate a crash AFTER the merge commit but BEFORE the
        # checkpoint advances — the adversarial window for exactly-once.
        self.fail_after_merge = fail_after_merge
        # per-batch validation (one extra aggregation pass over the batch —
        # the reference validates each extract the same way,
        # /root/reference/src/etl_pipeline.py:164-167). strict -> a failing
        # batch aborts BEFORE the merge, so the checkpoint does not advance
        # and the batch retries after the data is fixed.
        self.rules = rules
        self.strict_validation = strict_validation
        # periodic maintenance: every N applied batches, rewrite live
        # buckets to one file each and purge tombstones below the applied
        # LSN floor (the engine's rewrite_data_files scheduling, SURVEY §7.2)
        self.compact_every = compact_every
        self.tombstone_lsn_lag = tombstone_lsn_lag
        # MOR read fan-in bound: when any bucket's live delta-file count
        # exceeds this, the deep buckets are bucket-scope compacted (folded
        # into base) immediately — the merge-count cadence alone lets a
        # skewed stream stack unbounded deltas in one hot bucket between
        # cadence hits. O(1) signal from the snapshot summary
        # (delta_depth_max), restart-safe like the cadence counter.
        self.max_delta_depth = max_delta_depth
        # per-batch enrichment hook (DataFrame -> DataFrame), applied inside
        # foreachBatch BEFORE validation and merge. The canonical use is
        # dimension-key resolution — broadcast-join a dimension to swap
        # business keys for surrogate keys before the fact upsert, the
        # pattern the reference stages in SQL
        # (/root/reference/sql/etl_transformations.sql:150-152,184-185).
        # Must be deterministic: a replayed batch re-runs it.
        self.transform = transform
        # downstream incremental materialized views, kept fresh inside the
        # stream (the Hudi/Delta "incremental pipeline" shape): each spec is
        # {"summary": LakeTable, "build": fn, "group_cols": [...],
        #  "derive": fn|None, "stream_id": str, "every": int} and is
        # refreshed via maintain.refresh_summary_incremental after every
        # ``every``-th applied batch (default 1). Restart-safe and
        # self-healing by construction: the summary's fence watermark is the
        # base version it reflects, so a skipped/failed/replayed refresh is
        # simply covered by the next one's snapshot diff — no stream state.
        self.summaries = list(summaries or [])
        # Deferral is only self-healing for TRANSIENT errors; a
        # deterministic one (mismatched group_cols, a build() that drops a
        # group column) would defer on every batch — silent unbounded MV
        # staleness, the exact failure the maintain._FULL_SWAP_OPS fix
        # closed elsewhere. Track consecutive deferrals per summary and
        # escalate (kill the stream with the accumulated reasons) once the
        # same spec has deferred ``max_refresh_deferrals`` batches in a row.
        # In-memory by design: a supervisor auto-restart resets the count,
        # but each escalation already surfaced loudly, and the batch's DATA
        # commit precedes the refresh loop, so the replayed batch is fenced
        # (exactly-once holds) while the refresh retries.
        self.max_refresh_deferrals = max_refresh_deferrals
        self._refresh_deferrals: dict[int, list[str]] = {}
        self.batches: list[dict[str, Any]] = []

    @staticmethod
    def _retry_on_conflict(attempt):
        """Run one maintenance commit ``attempt()`` — which re-reads the
        table it commits to — with ONE retry after a lost optimistic-
        concurrency race; None when both attempts lost. Maintenance runs
        after the batch's merge has committed, so a lost race must never
        kill the stream: the caller defers to a later batch instead."""
        for _ in range(2):
            try:
                return attempt()
            except CommitConflict:
                pass
        return None

    def _apply(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # refresh: another commit (compaction, a previous fenced batch) may
        # have advanced the table since this handle loaded.
        self.table.refresh()
        if self.transform is not None:
            batch_df = self.transform(batch_df)
        report = None
        if self.rules is not None:
            from ..functions.validate import validate

            report = validate(batch_df, self.rules)
            if self.strict_validation and not report["is_valid"]:
                raise ValueError(
                    f"batch {batch_id} failed validation: {report['issues']}"
                )
        stats = apply_batch(
            self.table, spark, batch_df, fence=(self.stream_id, int(batch_id))
        )
        stats["batch_id"] = int(batch_id)
        if report is not None:
            stats["validation"] = report
        self.batches.append(stats)
        summary = self.table.summary
        attempt = None
        # Compaction cadence comes from TABLE STATE (the snapshot-summary
        # counter merge_cdc maintains and compact resets), not in-memory
        # state — so it survives stream restarts from checkpoint (an
        # in-memory counter would reset every restart, and a stream
        # bounced each N-1 batches would never compact).
        if (
            self.compact_every
            and stats.get("applied")
            and int(summary.get("merges_since_compact", 0)) >= self.compact_every
        ):
            # A tombstone at LSN X may only be purged once no event with
            # lsn <= X can still arrive; the bound on out-of-order arrival
            # is the operator's knowledge, expressed as tombstone_lsn_lag:
            # floor = max applied LSN - lag. Default (None) keeps all
            # tombstones, and so does a table with no applied LSN yet.
            hi = summary.get("applied_lsn_max")
            floor = None
            if self.tombstone_lsn_lag is not None and hi is not None:
                floor = int(hi) - self.tombstone_lsn_lag
            key, attempt = "compacted", lambda: self.table.refresh().compact(
                spark, purge_tombstones_below_lsn=floor
            )
        elif (
            self.max_delta_depth is not None
            and stats.get("applied")
            and int(summary.get("delta_depth_max", 0)) > self.max_delta_depth
        ):
            # depth-triggered partial maintenance: fold ONLY the deep
            # buckets — O(hot-bucket bytes), not O(table) — so a Zipf-hot
            # stream keeps bounded read fan-in without table-wide rewrites.
            deep = sorted(
                b
                for b, d in self.table.delta_depths().items()
                if d > self.max_delta_depth
            )
            key, attempt = "compacted_buckets", lambda: (
                self.table.refresh().compact_buckets(spark, deep)
            )
        if attempt is not None:
            done = self._retry_on_conflict(attempt)
            if done is None:
                stats["compact_deferred"] = "commit conflict"
            else:
                stats[key] = done
        if self.summaries and stats.get("applied"):
            from ..lakehouse.maintain import refresh_summary_incremental

            refreshed = []
            for si, spec in enumerate(self.summaries):
                every = int(spec.get("every", 1))
                if every > 1 and int(batch_id) % every != every - 1:
                    continue
                # a failed refresh must not kill the stream: a lost commit
                # race gets ONE in-batch retry; any other error (transient
                # read failure, vacuum race, ...) defers — the unmoved
                # watermark makes the NEXT refresh cover this one's
                # versions either way, so a TRANSIENT failure is
                # self-healing. A DETERMINISTIC one is not (it would defer
                # on every batch = silent unbounded staleness), so the
                # same spec deferring max_refresh_deferrals batches in a
                # row escalates with every recorded reason.
                try:
                    outcome = self._retry_on_conflict(
                        lambda: refresh_summary_incremental(
                            spec["summary"].refresh(),
                            spark,
                            self.table,
                            spec["build"],
                            spec["group_cols"],
                            derive=spec.get("derive"),
                            stream_id=spec.get("stream_id", "mv"),
                        )
                    ) or {"mode": "deferred", "reason": "commit conflict"}
                except Exception as e:  # noqa: BLE001 — see comment
                    outcome = {"mode": "deferred",
                               "reason": f"{type(e).__name__}: {e}"}
                refreshed.append(outcome)
                if outcome.get("mode") == "deferred":
                    log = self._refresh_deferrals.setdefault(si, [])
                    log.append(outcome["reason"])
                    if len(log) >= self.max_refresh_deferrals:
                        raise RuntimeError(
                            f"summary refresh #{si} deferred "
                            f"{len(log)} consecutive batches — "
                            "deterministic failure, not a transient; "
                            "reasons: " + "; ".join(log)
                        )
                else:
                    self._refresh_deferrals.pop(si, None)
            if refreshed:
                stats["summary_refreshes"] = refreshed
        if self.fail_after_merge:
            raise RuntimeError("injected crash between merge commit and checkpoint")

    def _start(self, spark: SparkSession, **trigger):
        """Start the ingest loop (``_apply`` per micro-batch) under the
        given trigger."""
        reader = (
            spark.readStream.schema(self.event_schema).format(self.source_format)
        )
        for k, v in self.source_options.items():
            reader = reader.option(k, v)
        if self.max_files_per_trigger is not None:
            reader = reader.option("maxFilesPerTrigger", self.max_files_per_trigger)
        return (
            reader.load(self.source_dir)
            .writeStream.foreachBatch(self._apply)
            .option("checkpointLocation", self.checkpoint_dir)
            .trigger(**trigger)
            .start()
        )

    def run_available_now(self, spark: SparkSession) -> list[dict[str, Any]]:
        """Process everything currently in the log, then stop (bounded
        replay). Re-running with the same checkpoint resumes where the last
        run stopped — including after a crash mid-batch."""
        self._start(spark, availableNow=True).awaitTermination()
        return self.batches

    def start_continuous(self, spark: SparkSession, processing_time: str = "1 seconds"):
        """Start the SAME ingest loop under a processing-time trigger —
        continuous tailing of a live log directory (files appended
        mid-flight are picked up on later trigger cycles). Returns the
        ``StreamingQuery``; the caller owns its lifecycle (``stop()``).
        Exactly-once, fencing, validation, cadence/depth compaction are all
        per-batch inside ``_apply`` and therefore identical to the bounded
        ``run_available_now`` path — a restart from the same checkpoint
        resumes at the next unread file, and a replayed micro-batch hits
        its fence and no-ops."""
        return self._start(spark, processingTime=processing_time)
