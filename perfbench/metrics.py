"""End-to-end and per-layer metrics from a finished run.

End-to-end metrics come from the untraced measured phase. Per-layer
metrics come from a ``--trace 1`` run: the stream's commit intervals,
reads and amplification from its untraced measured phase,
and the layer metrics from its traced phase, joined to the Spark jobs of
the event log. A layer a workload does not exercise reports 0.
"""

from __future__ import annotations

import statistics

from workloads import DATAPIPE, HEADLINE, Run, median

E2E_UNITS = {
    "setup_s": "s",
    "cold_start_s": "s",
    "suite_s": "s",
    "peak_rss_mb": "MB",
}

LAYER_UNITS = {
    "session.boot_s": "s",
    "failed_frac": "ratio",
    "apply_events_per_s": "events/s",
    "batch_commit_p50_s": "s",
    "batch_commit_tail_s": "s",
    "batch_commit_tail_pct": "%",
    "batch_commit_samples": "count",
    "range_read_p50_s": "s",
    "scan_s": "s",
    "write_amp": "ratio",
    "space_amp": "ratio",
    "cdc.apply.calls": "count",
    "cdc.apply.wall_s": "s",
    "cdc.apply.reduce_wait_s": "s",
    "cdc.apply.events_in": "count",
    "cdc.apply.winners": "count",
    "cdc.apply.dedup_ratio": "ratio",
    "cdc.apply.fenced_skips": "count",
    "cdc.apply.shuffle_bytes_per_event": "B/event",
    "lakehouse.table.merge_cdc.calls": "count",
    "lakehouse.table.merge_cdc.self_s": "s",
    "lakehouse.table.merge_cdc.p50_s": "s",
    "lakehouse.table.merge_cdc.files_rewritten_per_batch": "count",
    "lakehouse.table.merge_cdc.files_written_per_batch": "count",
    "lakehouse.table.bytes_written_per_event": "B/event",
    "lakehouse.table.bytes_rewritten_per_event": "B/event",
    "lakehouse.table.merge_shuffle_bytes_per_event": "B/event",
    "lakehouse.table.commit_conflicts": "count",
    "lakehouse.table.read.p50_s": "s",
    "lakehouse.table.read.files_scanned": "count",
    "lakehouse.table.delta_depth_max": "count",
    "lakehouse.table.compact_buckets.calls": "count",
    "lakehouse.table.compact_buckets.self_s": "s",
    "lakehouse.table.compact_buckets.bytes_rewritten": "B",
    "lakehouse.table.live_files": "count",
    "lakehouse.table.live_bytes": "B",
    "lakehouse.maintain.refresh.calls": "count",
    "lakehouse.maintain.refresh.p50_s": "s",
    "lakehouse.maintain.refresh.affected_groups": "count",
    "lakehouse.maintain.refresh.changed_files_read": "count",
    "lakehouse.maintain.refresh.full_fallbacks": "count",
    "streaming.ingest.batches": "count",
    "streaming.ingest.overhead_s": "s",
    "functions.validate.calls": "count",
    "functions.validate.self_s": "s",
    **{f"analytics.{q}_s": "s" for q in HEADLINE},
    **{f"datapipe.{q}_s": "s" for q in DATAPIPE},
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.gc_s": "s",
    "spark.busy_frac": "ratio",
    "trace.overhead_frac": "ratio",
}


def tail(samples: list[float]) -> tuple[float, float]:
    """The highest nearest-rank percentile with at least ten samples above
    it, and that percentile; the maximum (100) when there are ten or
    fewer samples."""
    xs = sorted(samples)
    k = len(xs) - 10  # 1-based rank with exactly ten samples above it
    if k < 1:
        return xs[-1], 100.0
    return xs[k - 1], 100.0 * k / len(xs)


def end_to_end(run: Run, workload: str, boot_s: float, rss_mb: float) -> dict[str, float]:
    f = run.facts
    if workload == "stream_mor":
        # one user cycle: drain a segment of files, then one read round;
        # the median drops the first measured segment, which is still
        # warming up and the slowest in most runs
        suite = median(seg.wall_s for seg in f["segments"]) + median(f["read_rounds_s"])
    else:
        suite = median(sum(p.values()) for p in f["passes"])
    return {
        "setup_s": boot_s + median(f["setup_reps_s"]),
        "cold_start_s": f["cold_start_s"],
        "suite_s": suite,
        "peak_rss_mb": rss_mb,
    }


def _intervals(run: Run) -> list[float]:
    return [x for seg in run.facts["segments"] for x in seg.intervals]


def _stream_workload_metrics(run: Run) -> dict[str, float]:
    f = run.facts
    segs = f["segments"]
    intervals = _intervals(run)
    tail_s, tail_pct = tail(intervals)
    return {
        "apply_events_per_s": f["events"] / sum(seg.to_last_commit_s for seg in segs),
        "batch_commit_p50_s": median(intervals),
        "batch_commit_tail_s": tail_s,
        "batch_commit_tail_pct": tail_pct,
        "batch_commit_samples": len(intervals),
        "range_read_p50_s": median(f["range_reads_s"]),
        "scan_s": median(f["scans_s"]),
        "write_amp": f["bytes_written"] / f["log_bytes"],
        "space_amp": f["live_bytes"] / f["oracle_bytes"],
        "lakehouse.table.live_files": f["live_files"],
        "lakehouse.table.live_bytes": f["live_bytes"],
        "trace.overhead_frac": _overhead(
            f["traced_segment"].wall_s, segs[-1].wall_s, f["after_segment"].wall_s
        ),
    }


def _layer_metrics(run: Run, jobs_by_sid: dict, cores: int) -> dict[str, float]:
    """Layer metrics from the spans and Spark jobs of the traced phase."""
    tracer = run.tracer
    root = run.facts["traced_root"]
    mine = tracer.under(root)

    def named(n):
        return [s for s in mine if s.name == n]

    applies = named("cdc.apply")
    apply_ids = {s.sid for s in applies}
    # base-table merges; merges an MV refresh makes have a refresh parent
    merges = [s for s in named("lakehouse.table.merge_cdc") if s.parent in apply_ids]
    merge_ids = {s.sid for s in merges}
    compacts = named("lakehouse.table.compact_buckets")
    refreshes = named("lakehouse.maintain.refresh")
    validates = named("functions.validate")
    reads = named("lakehouse.table.read")

    out = dict.fromkeys(LAYER_UNITS, 0.0)
    events = sum((m.attrs.get("result") or {}).get("events", 0) or 0 for m in merges)

    def per_event(x: float) -> float:
        return x / events if events else 0.0

    def shuffle(sids) -> int:
        return sum(j.shuffle_write_bytes for sid in sids for j in jobs_by_sid.get(sid, []))

    if applies:
        apply_wall = sum(s.dur for s in applies)
        versions = {m.attrs.get("version") for m in merges}
        winners = sum(
            int(rec.get("rows_written", 0))
            for rec in run.facts["table"].lineage_records()
            if rec["version"] in versions
        )
        out.update({
            "cdc.apply.calls": len(applies),
            "cdc.apply.wall_s": apply_wall,
            # the critical-path wait on reduce, normalize and the stats
            # action: apply wall not covered by its merges
            "cdc.apply.reduce_wait_s": apply_wall - sum(s.dur for s in merges),
            "cdc.apply.events_in": events,
            "cdc.apply.winners": winners,
            "cdc.apply.dedup_ratio": per_event(winners),
            "cdc.apply.fenced_skips": sum(
                (s.attrs.get("result") or {}).get("reason") == "fenced" for s in applies
            ),
            "cdc.apply.shuffle_bytes_per_event": per_event(shuffle(apply_ids)),
        })
    if merges:
        results = [m.attrs.get("result") or {} for m in merges]
        out.update({
            "lakehouse.table.merge_cdc.calls": len(merges),
            "lakehouse.table.merge_cdc.self_s": sum(tracer.self_time(m) for m in merges),
            "lakehouse.table.merge_cdc.p50_s": median(m.dur for m in merges),
            "lakehouse.table.merge_cdc.files_rewritten_per_batch":
                statistics.mean(r.get("files_rewritten", 0) for r in results),
            "lakehouse.table.merge_cdc.files_written_per_batch":
                statistics.mean(r.get("files_written", 0) for r in results),
            "lakehouse.table.bytes_written_per_event":
                per_event(sum(m.attrs["bytes_added"] for m in merges)),
            "lakehouse.table.bytes_rewritten_per_event":
                per_event(sum(m.attrs["bytes_removed"] for m in merges)),
            "lakehouse.table.merge_shuffle_bytes_per_event": per_event(shuffle(merge_ids)),
            "lakehouse.table.delta_depth_max":
                max(s.attrs.get("delta_depth_max", 0) for s in merges + compacts),
        })
    out["lakehouse.table.commit_conflicts"] = sum(
        s.attrs.get("error") == "CommitConflict"
        for s in mine if s.name.startswith("lakehouse.table.")
    )
    if reads:
        out["lakehouse.table.read.p50_s"] = median(s.dur for s in reads)
        out["lakehouse.table.read.files_scanned"] = median(
            s.attrs.get("files_scanned", 0) for s in reads
        )
    if compacts:
        out.update({
            "lakehouse.table.compact_buckets.calls": len(compacts),
            "lakehouse.table.compact_buckets.self_s": sum(tracer.self_time(s) for s in compacts),
            "lakehouse.table.compact_buckets.bytes_rewritten":
                sum(s.attrs["bytes_added"] for s in compacts),
        })
    if refreshes:
        res = [s.attrs.get("result") or {} for s in refreshes]
        out.update({
            "lakehouse.maintain.refresh.calls": len(refreshes),
            "lakehouse.maintain.refresh.p50_s": median(s.dur for s in refreshes),
            "lakehouse.maintain.refresh.affected_groups":
                sum(r.get("affected_groups", 0) or 0 for r in res),
            "lakehouse.maintain.refresh.changed_files_read":
                sum(r.get("changed_files_read", 0) or 0 for r in res),
            "lakehouse.maintain.refresh.full_fallbacks": sum(r.get("mode") == "full" for r in res),
        })
    if validates:
        out["functions.validate.calls"] = len(validates)
        out["functions.validate.self_s"] = sum(tracer.self_time(s) for s in validates)
    if "traced_segment" in run.facts:
        # each commit interval minus the engine spans inside it: trigger,
        # source listing, offset and checkpoint time
        top = applies + compacts + refreshes + validates
        commits = run.facts["traced_segment"].commits
        overheads = []
        for a, b in zip(commits, commits[1:]):
            covered = sum(max(0.0, min(s.end, b) - max(s.start, a)) for s in top)
            overheads.append((b - a) - covered)
        out["streaming.ingest.batches"] = len(merges)
        out["streaming.ingest.overhead_s"] = median(overheads)
    for s in mine:
        layer, _, q = s.name.partition(".")
        if layer in ("analytics", "datapipe") and q in HEADLINE + DATAPIPE:
            out[f"{s.name}_s"] = s.dur

    jobs = [
        j for js in jobs_by_sid.values() for j in js
        if root.start <= j.submit <= root.end
    ]
    out.update({
        "spark.jobs": len(jobs),
        "spark.tasks": sum(j.tasks for j in jobs),
        "spark.shuffle_write_bytes": sum(j.shuffle_write_bytes for j in jobs),
        "spark.spill_bytes": sum(j.spill_bytes for j in jobs),
        "spark.gc_s": sum(j.gc_s for j in jobs),
        "spark.busy_frac": sum(j.run_s for j in jobs) / (root.dur * cores),
    })
    return out


def per_layer(run: Run, workload: str, jobs_by_sid: dict, boot_s: float,
              cores: int) -> dict[str, float]:
    out = _layer_metrics(run, jobs_by_sid, cores)
    out["session.boot_s"] = boot_s
    out["failed_frac"] = run.failed / run.attempted
    if workload == "stream_mor":
        out.update(_stream_workload_metrics(run))
    else:
        f = run.facts
        out["trace.overhead_frac"] = _overhead(
            sum(f["traced_pass"].values()), sum(f["before_pass"].values()),
            sum(f["after_pass"].values()),
        )
    return out


def _overhead(traced: float, before: float, after: float) -> float:
    """Traced wall over the mean of the untraced walls either side of it."""
    return traced / ((before + after) / 2) - 1.0


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        return next(int(ln.split()[1]) for ln in fh if ln.startswith("VmHWM:"))


def peak_rss_mb(pids: list[int]) -> float:
    """Summed peak resident memory (``VmHWM``) of ``pids``."""
    return sum(_vm_hwm_kb(pid) for pid in pids) / 1024.0
