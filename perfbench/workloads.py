"""The benchmark's closed-loop workloads.

Each workload runs in its own process on an already-booted session, and
each step starts only when the previous one has finished:

1. set-up, timed ``SETUP_REPS`` times (the median is reported);
2. a cold phase, the first work of its kind this JVM does, reported as
   ``cold_start_s`` and kept out of the warm numbers;
3. the measured phase, untraced, lasting at least ``--seconds``;
4. in a ``--trace 1`` run only, the measured work once more with the layer
   wrappers installed, for the per-layer metrics, and then once more
   without: the tracing overhead compares the traced wall with the
   untraced walls either side of it, which cancels the warm-up trend;
5. untimed correctness gates against independent oracles.

Everything a workload measures goes into ``Run.facts``; ``metrics`` turns
the facts into the reported metrics.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field
from typing import Any, Callable

import __spark_entry__ as entry
from inputs import bytes_in, events_in, materialize_cdc_log
from tables import write_tables

SETUP_REPS = 3
KEY_COLS = ["conv_id", "turn_idx"]

#: stream_mor: a 400-conversation Zipf log cut into one-trigger files. The
#: MV refreshes after every ``STREAM_MV_EVERY``-th micro-batch (batch ids
#: 3, 7, 11, ...), so every segment of that many files ends with one
#: refresh and leaves the MV current. The cold segment, the first cycle in
#: the fresh JVM, is ``cold_start_s``: its wall is steadier than that of its
#: first micro-batch alone, and it takes the first MV refresh too. The
#: ``STREAM_MEASURED_SEGMENTS`` measured segments then drain the next files
#: from the same checkpoint. Three give a median that leaves out one slow
#: segment and keep a whole run near a minute on a 4-core host.
STREAM_CONVS = 400
STREAM_BUCKETS = 4
STREAM_EVENTS_PER_FILE = 1_000
STREAM_MV_EVERY = 4
STREAM_MEASURED_SEGMENTS = 3
STREAM_MAX_DELTA_DEPTH = 3
#: narrow reads per read round, each ~0.7% of the conversation key space
RANGE_READS = 5
MIN_READ_ROUNDS = 1

HEADLINE = [
    "customer_ltv",
    "product_performance",
    "sales_trends",
    "rfm_segmentation",
    "market_basket_pairs",
    "events_sessionized",
]
DATAPIPE = ["dedup_exact", "dedup_minhash_lsh", "text_quality", "ann_cosine_topk"]


@dataclass
class Run:
    """Shared state of one benchmark process."""

    spark: Any
    root: str
    work: str
    seed: int
    seconds: float
    tracer: Any = None  # spans.Tracer in a --trace 1 run
    attempted: int = 0
    failed: int = 0
    facts: dict[str, Any] = field(default_factory=dict)
    _tracing: bool = False

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"FAILED {name}: {detail}", file=sys.stderr, flush=True)

    def span(self, name: str, **attrs):
        """A span while the traced phase runs; otherwise nothing."""
        return self.tracer.span(name, **attrs) if self._tracing else nullcontext()

    @contextmanager
    def traced(self):
        """The traced phase: the layer wrappers are installed and every
        span opened inside belongs to the yielded ``traced`` root span."""
        import spans

        uninstall = spans.install(self.tracer)
        self._tracing = True
        try:
            with self.tracer.span("traced") as root:
                yield root
        finally:
            self._tracing = False
            uninstall()

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


def _setup(run: Run, make: Callable[[int], Any]) -> Any:
    """Run the set-up ``SETUP_REPS`` times; keep the last result."""
    walls, out = [], None
    for i in range(SETUP_REPS):
        t0 = time.perf_counter()
        out = make(i)
        walls.append(time.perf_counter() - t0)
    run.facts["setup_reps_s"] = walls
    return out


# ---------------------------------------------------------------- stream_mor


@dataclass
class Segment:
    """One ``run_available_now`` drain: when it started, when each of its
    micro-batches committed and when it returned (epoch seconds)."""

    start: float
    commits: list[float]
    end: float
    files: list[str]

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    @property
    def to_last_commit_s(self) -> float:
        return self.commits[-1] - self.start

    @property
    def intervals(self) -> list[float]:
        """Commit-to-commit intervals. The stretch from the drain's start
        to its first commit also holds query start-up, so it is left out."""
        return [b - a for a, b in zip(self.commits, self.commits[1:])]


def merge_commit_times(table) -> list[float]:
    """Publish times (file mtimes) of the table's merge commits, oldest
    first, read from its commit log."""
    from sql_etl_pipeline_spark.lakehouse.table import META_DIR

    meta = os.path.join(table.path, META_DIR)
    return [
        os.stat(os.path.join(meta, f"v{rec['version']:08d}.json")).st_mtime_ns / 1e9
        for rec in table.lineage_records()
        if rec.get("op") == "merge_cdc"
    ]


def data_bytes_written(table) -> int:
    """Bytes of every data file the table's commits ever added (nothing is
    vacuumed during a run)."""
    from sql_etl_pipeline_spark.lakehouse.table import DATA_DIR

    total = 0
    for root, _dirs, files in os.walk(os.path.join(table.path, DATA_DIR)):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files if f.endswith(".parquet"))
    return total


def live_bytes(table) -> int:
    return sum(os.path.getsize(os.path.join(table.path, f["path"])) for f in table.files)


def _narrow_windows() -> list[tuple[str, str]]:
    """``RANGE_READS`` narrow conv_id windows away from the Zipf head, so
    narrow stays narrow in bytes too."""
    win = max(STREAM_CONVS // 150, 1)
    lo0 = STREAM_CONVS // 2
    return [
        (f"conv-{lo:08d}", f"conv-{lo + win - 1:08d}")
        for lo in (lo0 + k * 2 * win for k in range(RANGE_READS))
    ]


def _read_round(run: Run, table) -> tuple[list[float], float]:
    """Narrow key-range reads, then one full scan of the current snapshot;
    returns the read walls and the scan wall."""
    reads = []
    for lo, hi in _narrow_windows():
        with run.span("lakehouse.table.read") as sp:
            t0 = time.perf_counter()
            df = table.read(run.spark, ranges={"conv_id": (lo, hi)})
            df.count()
            reads.append(time.perf_counter() - t0)
        if sp is not None:
            sp.attrs["files_scanned"] = len(df.inputFiles())
        run.attempted += 1
    with run.span("lakehouse.table.scan"):
        t0 = time.perf_counter()
        table.read(run.spark).count()
        scan = time.perf_counter() - t0
    run.attempted += 1
    return reads, scan


def _new_table(run: Run, name: str, schema, merge_mode: str, **kw):
    from sql_etl_pipeline_spark.lakehouse import LakeTable

    path = run.path("tables", name)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    return LakeTable.create(path, schema, key_cols=kw.pop("key_cols", KEY_COLS),
                            merge_mode=merge_mode, **kw)


def _mv_spec(run: Run, name: str):
    """One incremental per-conversation summary MV (a COW table)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType([
        StructField("conv_id", StringType(), False),
        StructField("n_turns", LongType(), True),
        StructField("total_chars", LongType(), True),
    ])

    def build(df):
        return df.groupBy("conv_id").agg(
            F.count("*").alias("n_turns"),
            F.sum(F.length("text")).cast("long").alias("total_chars"),
        )

    mv = _new_table(run, name, schema, "cow", key_cols=["conv_id"], num_buckets=4)
    return {"summary": mv, "build": build, "group_cols": ["conv_id"], "stream_id": "mv",
            "every": STREAM_MV_EVERY}


def _differing_rows(a, b) -> int:
    """Rows in one DataFrame and not the other (``exceptAll`` both ways)."""
    return a.exceptAll(b).unionAll(b.exceptAll(a)).count()


def _oracle_gates(run: Run, table, mv, log_files: list[str]) -> None:
    """The final table equals the one-shot LWW oracle over every applied
    log file, and the MV equals a full rebuild over the final table. Also
    writes the oracle once as parquet, for ``space_amp``."""
    from sql_etl_pipeline_spark.cdc.apply import expected_final_state

    spark = run.spark
    exp = expected_final_state(spark.read.parquet(*log_files))
    diff = _differing_rows(exp, table.read(spark).select(*exp.columns))
    run.check("stream_mor: final table equals LWW oracle", diff == 0, f"{diff} differing rows")
    out = run.path("oracle")
    exp.write.parquet(out)
    run.facts["oracle_bytes"] = bytes_in(
        [os.path.join(out, f) for f in os.listdir(out) if f.endswith(".parquet")]
    )
    want = mv["build"](table.read(spark))
    diff = _differing_rows(want, mv["summary"].refresh().read(spark).select(*want.columns))
    run.check("stream_mor: MV equals a full rebuild", diff == 0, f"{diff} differing rows")


def stream_mor(run: Run) -> None:
    """Tail a many-file log with ``CdcStreamIngestor.run_available_now``
    (one file per trigger) into a merge-on-read table with depth-triggered
    bucket compaction, per-batch validation and one incremental summary
    MV, then run narrow key-range reads and full scans of the final
    snapshot."""
    from sql_etl_pipeline_spark.cdc.generate import TRANSCRIPT_SCHEMA
    from sql_etl_pipeline_spark.functions.validate import transcript_rules
    from sql_etl_pipeline_spark.streaming.ingest import CdcStreamIngestor

    spark = run.spark
    segments = 1 + STREAM_MEASURED_SEGMENTS + 2 * (run.tracer is not None)
    n_files = STREAM_MV_EVERY * segments

    def make(i: int) -> list[str]:
        files = materialize_cdc_log(spark, run.path(f"log-{i}"), run.seed,
                                    STREAM_EVENTS_PER_FILE * n_files, STREAM_CONVS, n_files)
        _new_table(run, "setup", TRANSCRIPT_SCHEMA, "mor", num_buckets=STREAM_BUCKETS)
        if i:
            shutil.rmtree(run.path(f"log-{i - 1}"))
        return files

    log = _setup(run, make)
    source = run.path("source")
    os.makedirs(source)
    table = _new_table(run, "stream", TRANSCRIPT_SCHEMA, "mor", num_buckets=STREAM_BUCKETS)
    mv = _mv_spec(run, "stream-mv")
    ingestor = CdcStreamIngestor(
        table,
        source,
        run.path("tables", "stream-checkpoint"),
        spark.read.parquet(log[0]).schema,
        stream_id="stream",
        max_files_per_trigger=1,
        rules=transcript_rules(),
        max_delta_depth=STREAM_MAX_DELTA_DEPTH,
        summaries=[mv],
    )
    pending = iter(log)
    applied: list[str] = []

    def drain(n: int) -> Segment:
        files = [next(pending) for _ in range(n)]
        for f in files:
            # a hard link shares the inode, so the delivery-order mtime
            # carries over to the source directory
            os.link(f, os.path.join(source, os.path.basename(f)))
        applied.extend(files)
        seen = len(ingestor.batches)
        start = time.time()
        ingestor.run_available_now(spark)
        seg = Segment(start, [c for c in merge_commit_times(table) if c >= start], time.time(),
                      files)
        for b in ingestor.batches[seen:]:
            run.check("stream_mor: micro-batch applied", bool(b.get("applied")), str(b))
        run.check("stream_mor: one commit per file", len(seg.commits) == n,
                  f"{len(seg.commits)} commits for {n} files")
        return seg

    cold = drain(STREAM_MV_EVERY)
    run.facts["cold_start_s"] = cold.wall_s
    t0 = time.perf_counter()
    measured = [drain(STREAM_MV_EVERY) for _ in range(STREAM_MEASURED_SEGMENTS)]
    reads, scans, rounds = [], [], []
    while len(rounds) < MIN_READ_ROUNDS or time.perf_counter() - t0 < run.seconds:
        r0 = time.perf_counter()
        r, s = _read_round(run, table)
        rounds.append(time.perf_counter() - r0)
        reads += r
        scans.append(s)
    run.facts.update(
        first_batch_s=cold.commits[0] - cold.start,
        segments=measured,
        events=events_in([f for seg in measured for f in seg.files]),
        range_reads_s=reads,
        scans_s=scans,
        read_rounds_s=rounds,
    )
    if run.tracer is not None:
        with run.traced() as root:
            traced = drain(STREAM_MV_EVERY)
            _read_round(run, table)
        run.facts.update(traced_root=root, traced_segment=traced,
                         after_segment=drain(STREAM_MV_EVERY))

    run.facts.update(
        table=table,
        log_bytes=bytes_in(applied),
        bytes_written=data_bytes_written(table),
        live_bytes=live_bytes(table),
        live_files=len(table.files),
    )
    t0 = time.perf_counter()
    _oracle_gates(run, table, mv, applied)
    run.facts["gates_s"] = time.perf_counter() - t0


# ----------------------------------------------------------------- analytics


def _digest(df) -> tuple:
    """Order-insensitive value digest: floats to 6 places, timestamps to
    microseconds (the repository's oracle-gate convention)."""
    import pandas as pd

    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_float_dtype(s):
            df[c] = s.round(6)
        elif pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[us]")
    df = df.sort_values(by=list(df.columns), kind="stable").reset_index(drop=True)
    body = pd.util.hash_pandas_object(df.astype(str), index=False).sum()
    return len(df), tuple(df.columns), int(body)


def analytics(run: Run) -> None:
    """The 6 headline analytics queries and the 4 datapipe queries over
    star-schema tables generated from ``--seed``. The cold pass collects
    each result for the DuckDB oracle gate; the warm passes force each
    query with a ``noop`` write. No lakehouse or CDC code runs."""
    import duckdb

    spark = run.spark
    queries = entry.queries()
    names = HEADLINE + DATAPIPE

    def make(i: int) -> dict[str, str]:
        files = write_tables(run.path(f"analytics-{i}"), run.seed)
        if i:
            shutil.rmtree(run.path(f"analytics-{i - 1}"))
        return files

    files = _setup(run, make)
    data = os.path.dirname(files["lineitem"])
    results = {}

    def one_pass(collect: bool) -> dict[str, float]:
        walls = {}
        for q in names:
            layer = "analytics" if q in HEADLINE else "datapipe"
            with run.span(f"{layer}.{q}"):
                t0 = time.perf_counter()
                df = queries[q](spark, data)
                if collect:
                    results[q] = df.toPandas()
                else:
                    df.write.format("noop").mode("overwrite").save()
                walls[q] = time.perf_counter() - t0
            run.attempted += 1
        return walls

    run.facts["cold_pass"] = one_pass(collect=True)
    run.facts["cold_start_s"] = sum(run.facts["cold_pass"].values())
    passes = []
    t_end = time.perf_counter() + run.seconds
    while not passes or time.perf_counter() < t_end:
        passes.append(one_pass(collect=False))
    run.facts["passes"] = passes
    if run.tracer is not None:
        # the first warm pass still runs up to ~25% slower than later ones,
        # so the traced pass gets untraced neighbours of its own
        run.facts["before_pass"] = one_pass(collect=False)
        with run.traced() as root:
            run.facts["traced_pass"] = one_pass(collect=False)
        run.facts["traced_root"] = root
        run.facts["after_pass"] = one_pass(collect=False)

    t0 = time.perf_counter()
    oracles = entry.oracle_sql()
    con = duckdb.connect()
    try:
        for t, p in files.items():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        for q in names:
            got = _digest(results[q])
            exp = _digest(con.execute(oracles[q]).fetchdf())
            run.check(f"analytics: {q} matches its DuckDB oracle", got == exp,
                      f"spark {got} vs duckdb {exp}")
    finally:
        con.close()
    run.facts["gates_s"] = time.perf_counter() - t0


WORKLOADS = {"stream_mor": stream_mor, "analytics": analytics}


def median(xs, default: float = 0.0) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else default
