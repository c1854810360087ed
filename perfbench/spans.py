"""Outside-in layer tracing.

The engine records no spans of its own yet, so this module times each
layer from the benchmark's side:

* ``Tracer`` keeps spans (name, start, end, parent) in memory. Entering a
  span sets a Spark job group named after it on the calling thread, so the
  Spark jobs the call submits can be joined to it afterwards.
* ``install`` wraps the public entry points of each engine layer
  (``cdc.apply.apply_batch``, ``LakeTable.merge_cdc``/``compact_buckets``,
  ``maintain.refresh_summary_incremental``, ``validate.validate``) in spans
  and returns a function that restores the originals.
* ``read_event_log`` parses a Spark event log into per-job task totals, and
  ``attribute_jobs`` joins those jobs to spans by job group. Jobs with no
  group of ours that start inside a ``cdc.apply`` span come from a thread
  the engine started itself and count as that apply's reduce.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any

GROUP_PREFIX = "perfbench-"


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict[str, Any] = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder; one per traced run."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        sp = Span(next(self._ids), name, stack[-1].sid if stack else None, 0.0, attrs=attrs)
        prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
        prev_desc = self.sc.getLocalProperty("spark.job.description")
        self.sc.setJobGroup(f"{GROUP_PREFIX}{sp.sid}", name)
        stack.append(sp)
        sp.start = time.time()
        try:
            yield sp
        except BaseException as exc:
            sp.attrs["error"] = type(exc).__name__
            raise
        finally:
            sp.end = time.time()
            stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev_group)
            self.sc.setLocalProperty("spark.job.description", prev_desc)
            with self._lock:
                self.spans.append(sp)

    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == sp.sid]

    def self_time(self, sp: Span) -> float:
        """Span duration minus the part its child spans cover."""
        return sp.dur - sum(c.dur for c in self.children(sp))

    def under(self, root: Span) -> list[Span]:
        """Every span below ``root``. Spans opened on another thread (the
        stream's foreachBatch callback) have no parent; they count as below
        ``root`` when its interval holds them."""
        by_id = {s.sid: s for s in self.spans}

        def below(s: Span) -> bool:
            while s.parent is not None:
                if s.parent == root.sid:
                    return True
                s = by_id[s.parent]
            return s is not root and root.start <= s.start and s.end <= root.end

        return [s for s in self.spans if below(s)]


def render_self_times(tracer: Tracer, root: Span) -> str:
    """``#``-prefixed table of calls, wall and self time per span name."""
    rows: dict[str, list[float]] = {}
    for s in tracer.under(root):
        row = rows.setdefault(s.name, [0, 0.0, 0.0])
        row[0] += 1
        row[1] += s.dur
        row[2] += tracer.self_time(s)
    lines = [f"# {'layer':<36} {'calls':>6} {'wall_s':>9} {'self_s':>9}"]
    for name, (calls, wall, own) in sorted(rows.items(), key=lambda kv: -kv[1][2]):
        lines.append(f"# {name:<36} {calls:>6} {wall:>9.3f} {own:>9.3f}")
    lines.append(f"# {'(traced phase wall)':<36} {'':>6} {root.dur:>9.3f}")
    return "\n".join(lines)


def _data_bytes(table) -> dict[str, int]:
    return {
        f["path"]: os.path.getsize(os.path.join(table.path, f["path"]))
        for f in table.files
    }


def install(tracer: Tracer):
    """Wrap each layer's public calls in spans; returns an uninstaller."""
    from sql_etl_pipeline_spark.cdc import apply as apply_mod
    from sql_etl_pipeline_spark.functions import validate as validate_mod
    from sql_etl_pipeline_spark.lakehouse import maintain as maintain_mod
    from sql_etl_pipeline_spark.lakehouse.table import LakeTable
    from sql_etl_pipeline_spark.streaming import ingest as ingest_mod

    saved: list[tuple[Any, str, Any]] = []

    def patch(owner, attr, wrapper):
        orig = getattr(owner, attr)
        saved.append((owner, attr, orig))
        setattr(owner, attr, wrapper(orig))

    def simple(name):
        def wrap(fn):
            def inner(*args, **kwargs):
                with tracer.span(name) as sp:
                    out = fn(*args, **kwargs)
                    sp.attrs["result"] = out
                    return out

            return inner

        return wrap

    def table_op(name):
        """Span a LakeTable method and record the data bytes its commit
        added to and dropped from the snapshot."""

        def wrap(fn):
            def inner(self, *args, **kwargs):
                before = _data_bytes(self)
                with tracer.span(name, table=self.path) as sp:
                    out = fn(self, *args, **kwargs)
                    sp.attrs["result"] = out
                after = _data_bytes(self)
                sp.attrs["bytes_added"] = sum(b for p, b in after.items() if p not in before)
                sp.attrs["bytes_removed"] = sum(b for p, b in before.items() if p not in after)
                sp.attrs["delta_depth_max"] = max(self.delta_depths().values(), default=0)
                sp.attrs["version"] = self.version
                return out

            return inner

        return wrap

    apply_wrapper = simple("cdc.apply")
    patch(apply_mod, "apply_batch", apply_wrapper)
    # the ingestor binds apply_batch at import time; wrap its name too
    patch(ingest_mod, "apply_batch", apply_wrapper)
    patch(LakeTable, "merge_cdc", table_op("lakehouse.table.merge_cdc"))
    patch(LakeTable, "compact_buckets", table_op("lakehouse.table.compact_buckets"))
    patch(maintain_mod, "refresh_summary_incremental", simple("lakehouse.maintain.refresh"))
    patch(validate_mod, "validate", simple("functions.validate"))

    def uninstall():
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)

    return uninstall


# ------------------------------------------------------------------ event log


@dataclass
class Job:
    job_id: int
    group: str | None
    submit: float  # epoch seconds
    stages: list[int]
    tasks: int = 0
    run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


def find_event_log(log_dir: str) -> str:
    logs = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {logs}")
    return os.path.join(log_dir, logs[0])


def read_event_log(path: str) -> list[Job]:
    """Per-job task totals from an uncompressed Spark event log."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                job = Job(
                    job_id=ev["Job ID"],
                    group=props.get("spark.jobGroup.id"),
                    submit=ev["Submission Time"] / 1000.0,
                    stages=list(ev.get("Stage IDs") or []),
                )
                jobs[job.job_id] = job
                for s in job.stages:
                    # a stage listed by several jobs runs in the first one;
                    # later jobs skip it
                    stage_job.setdefault(s, job.job_id)
            elif kind == "SparkListenerTaskEnd":
                job_id = stage_job.get(ev.get("Stage ID"))
                metrics = ev.get("Task Metrics")
                if job_id is None or not metrics:
                    continue
                job = jobs[job_id]
                job.tasks += 1
                job.run_s += metrics.get("Executor Run Time", 0) / 1000.0
                job.gc_s += metrics.get("JVM GC Time", 0) / 1000.0
                job.shuffle_write_bytes += (metrics.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                job.spill_bytes += metrics.get("Memory Bytes Spilled", 0) + metrics.get(
                    "Disk Bytes Spilled", 0
                )
    return sorted(jobs.values(), key=lambda j: j.job_id)


def attribute_jobs(tracer: Tracer, jobs: list[Job]) -> dict[int, list[Job]]:
    """Map span id -> the jobs it submitted. A job without one of our
    groups is given to the innermost ``cdc.apply`` span whose interval
    holds its submission (jobs from the engine's own threads);
    other jobs (stream triggers, the benchmark's own actions) stay
    unattributed under key 0."""
    by_sid: dict[int, list[Job]] = {}
    applies = [s for s in tracer.spans if s.name == "cdc.apply"]
    for job in jobs:
        sid = 0
        if job.group and job.group.startswith(GROUP_PREFIX):
            sid = int(job.group[len(GROUP_PREFIX):])
        else:
            holders = [s for s in applies if s.start <= job.submit <= s.end]
            if holders:
                sid = max(holders, key=lambda s: s.start).sid
        by_sid.setdefault(sid, []).append(job)
    return by_sid
