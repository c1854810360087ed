"""LakeTable — a minimal from-scratch transactional table format on Parquet.

Plays the role Iceberg plays in the north-star design (this environment ships
no lakehouse jars, so the format is part of the engine). Design goals mirror
what the reference gets from PostgreSQL heap tables + ``INSERT ... ON
CONFLICT`` (``/root/reference/sql/etl_transformations.sql:9-193``) but at
lake scale:

* **Atomic commits**: table state = the highest ``_meta/v%08d.json`` commit
  file; a commit is published with ``os.link`` (fails with EEXIST on
  conflict), so readers see either the old or the new snapshot, never a mix.
  This is the same optimistic-concurrency protocol Iceberg/Delta use against
  an atomic-rename store.
* **Hash-bucket partitioning + file-scoped merges**: data files are grouped
  by ``pmod(hash(bucket_cols), num_buckets)`` (murmur3 — deliberately the
  SAME function Spark's ``repartition(n, cols)`` uses for partition ids, so
  a COW merge's single explicit repartition is simultaneously the
  resolution agg's required distribution AND the write layout; see
  ``_bucket_expr``/``merge_cdc``). A CDC merge reads and rewrites only the
  files whose manifest key-range intersects the batch,
  within only the buckets the batch touches — explicit partition AND file
  pruning, the scale replacement for the reference's B-tree indexes
  (``/root/reference/sql/schema.sql:248-260``). Write amplification per
  batch is bounded by overlapping-file bytes, not table or bucket bytes.
* **Two merge modes** (fixed at ``create``):

  - ``cow`` (copy-on-write, default): each merge rewrites the overlapping
    files; reads are a plain scan. Best for read-heavy tables.
  - ``mor`` (merge-on-read): each merge APPENDS the reduced batch as
    ``kind="delta"`` files — per-batch write cost is O(changed rows),
    independent of table size, the write-optimized shape every
    high-throughput CDC ingest format converges on (Hudi MOR, Paimon LSM,
    Iceberg v2 delete files). Reads resolve last-writer-wins across
    base + delta files (same LSN-guard semantics as the COW merge);
    ``compact()`` folds deltas back into ``kind="base"`` files so read cost
    is bounded by compaction cadence (``CdcStreamIngestor.compact_every``).
    Fencing, lineage, schema evolution, and replay idempotency are
    identical in both modes.
* **Additive schema evolution**: commits carry the full Spark schema; files
  written before a column existed are read with the current schema and yield
  NULLs (the principled version of the reference's staging-table
  ``if_exists='replace'`` drift, ``/root/reference/src/database_manager.py:139-167``).
* **Snapshot-summary fencing**: each commit carries a ``summary`` dict; the
  CDC path records ``fence:<stream_id> -> batch_id`` atomically with the data
  swap, giving exactly-once across crash/replay (SURVEY.md §2.10).
* **Lineage**: every commit embeds a lineage record (rows, buckets, LSN
  range, wall time) — the real version of the reference's ``etl_log``
  (``/root/reference/sql/etl_transformations.sql:313-346``).

At 100 TB the same layout holds: ``num_buckets`` scales to O(10k), the commit
log lives on an atomic-rename-capable store, and per-bucket rewrites stay
bounded by bucket size, not table size.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from collections import Counter
from typing import Any

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import LongType, StructField, StructType

META_DIR = "_meta"
DATA_DIR = "data"
BUCKET_COL = "_bucket"
# Engine bookkeeping columns on every CDC target table (FIXTURES.md §1).
LSN_COL = "last_lsn"
DELETED_COL = "deleted"


class CommitConflict(RuntimeError):
    """Another writer published the same commit version first."""


def _stat_value(v):
    """Normalize a min/max statistic to a JSON-storable value whose Python
    comparison order matches the column's logical order: bytes decode to
    str (UTF-8 preserves order), date/datetime map to ISO-8601 strings
    (lexicographic == chronological). Unsupported types return None (no
    stats -> pruning stays conservative)."""
    import datetime

    if isinstance(v, bytes):
        try:
            return v.decode()
        except UnicodeDecodeError:
            return None
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (str, int, float, bool)):
        return v
    return None


def _fsync_dir(path: str) -> None:
    """fsync a directory so a just-published name survives power loss.
    Filesystems that do not support directory fds (or sandboxed mounts)
    degrade to the pre-fsync behavior rather than failing the commit."""
    try:
        fd = os.open(path, os.O_RDONLY)
    except OSError:
        return
    try:
        os.fsync(fd)
    except OSError:
        pass
    finally:
        os.close(fd)


def _publish(path: str, commit: dict[str, Any]) -> None:
    """Atomically publish ``commit`` as table ``path``'s
    ``_meta/v<version>.json``; FileExistsError if that version exists.

    flush + fsync BEFORE publishing: os.link makes the name visible
    atomically, but without the fsync a power loss could surface the name
    with torn/empty contents — the durability boundary the "atomic
    commits" claim is about. (_load additionally quarantines any torn
    commit file left by a crash mid-publish.)"""
    meta = os.path.join(path, META_DIR)
    tmp = os.path.join(meta, f".tmp-{uuid.uuid4().hex}")
    with open(tmp, "w") as fh:
        json.dump(commit, fh)
        fh.flush()
        os.fsync(fh.fileno())
    try:
        os.link(tmp, os.path.join(meta, f"v{commit['version']:08d}.json"))
    finally:
        os.unlink(tmp)
    _fsync_dir(meta)


def _bucket_expr(bucket_cols: list[str], num_buckets: int):
    """Deterministic bucket id for a row; hot keys spread across buckets by
    hashing the full bucket key.

    The id EQUALS Spark's own ``HashPartitioning`` partition-id function
    for ``repartition(num_buckets, *bucket_cols)`` —
    ``pmod(murmur3(cols, seed=42), n)`` — which is what lets the COW merge
    land its single explicit repartition in bucket-task alignment and skip
    the write-side shuffle entirely (see ``merge_cdc`` step 3). Verified
    row-exact against ``spark_partition_id()`` in ``tests/test_plans.py``."""
    cols = [F.col(c) for c in bucket_cols]
    return F.pmod(F.hash(*cols), F.lit(num_buckets)).cast("int")


def _conformed(df: DataFrame, schema: StructType) -> list:
    """``schema``'s columns selected from ``df``; the ones it lacks (added
    by a later schema evolution) fill NULL."""
    return [
        F.col(f.name) if f.name in df.columns
        else F.lit(None).cast(f.dataType).alias(f.name)
        for f in schema.fields
    ]


def _latest_per_key(rows: DataFrame, keys: list[str]) -> DataFrame:
    """The LSN guard: per key, the row with the highest ``(last_lsn,
    _pri)``. ``_pri`` ranks the sides of a union (1 = already-applied
    rows, 0 = newer-written ones), so on an equal LSN the applied row
    wins, making exact replays byte-stable no-ops; ``_pri`` is dropped."""
    pack = F.struct(*[F.col(c) for c in rows.columns if c != "_pri"])
    return (
        rows.groupBy(*keys)
        .agg(F.max_by(pack, F.struct(F.col(LSN_COL), F.col("_pri"))).alias("_w"))
        .select("_w.*")
    )


def _delta_depths(files: list[dict[str, Any]]) -> dict[int, int]:
    """Per-bucket count of delta files in a manifest."""
    return dict(
        Counter(f["bucket"] for f in files if f.get("kind", "base") == "delta")
    )


class LakeTable:
    """A single transactional table rooted at ``path``."""

    def __init__(self, path: str):
        self.path = path
        self._state: dict[str, Any] = {}
        self._load()

    # ------------------------------------------------------------------ meta
    @staticmethod
    def create(
        path: str,
        schema: StructType,
        key_cols: list[str],
        bucket_cols: list[str] | None = None,
        num_buckets: int = 16,
        merge_mode: str = "cow",
        stats_cols: list[str] | None = None,
        target_file_rows: int | None = None,
    ) -> "LakeTable":
        """Create an empty table. ``schema`` is the user schema; bookkeeping
        columns (last_lsn, deleted) are appended automatically.
        ``merge_mode``: ``"cow"`` (rewrite-on-merge) or ``"mor"``
        (append-delta-on-merge, resolve at read — see module docstring).
        ``stats_cols``: extra columns to keep per-file min/max manifest
        stats for (the leading key and LSN are always included) — choose
        the columns this table gets range-queried by.
        ``target_file_rows``: durable per-file row target honored by COW
        merges and compactions (see the ``target_file_rows`` property)."""
        if merge_mode not in ("cow", "mor"):
            raise ValueError(f"merge_mode must be 'cow' or 'mor', got {merge_mode!r}")
        # Every pruning path (touched-bucket merge scoping, bucket-pruned
        # reads, compact_buckets) assumes a key's every version lives in
        # exactly ONE bucket — only key columns are immutable per key, so a
        # mutable bucket column would scatter a key's versions across
        # buckets and silently produce duplicate/stale rows.
        if bucket_cols and not set(bucket_cols) <= set(key_cols):
            raise ValueError(
                f"bucket_cols {bucket_cols} must be a subset of key_cols "
                f"{key_cols}: bucketing on a mutable column breaks the "
                "one-bucket-per-key invariant every pruning path relies on"
            )
        os.makedirs(os.path.join(path, META_DIR), exist_ok=False)
        os.makedirs(os.path.join(path, DATA_DIR), exist_ok=True)
        fields = list(schema.fields)
        names = {f.name for f in fields}
        if LSN_COL not in names:
            fields.append(StructField(LSN_COL, LongType(), True))
        if DELETED_COL not in names:
            from pyspark.sql.types import BooleanType

            fields.append(StructField(DELETED_COL, BooleanType(), True))
        full = StructType(fields)
        commit = {
            "version": 1,
            "schema": full.jsonValue(),
            "key_cols": key_cols,
            "merge_mode": merge_mode,
            "partition": {
                "bucket_cols": bucket_cols or [key_cols[0]],
                "num_buckets": num_buckets,
                # the only layout _bucket_expr computes; _load refuses any
                # other, whose files would prune against the wrong ids
                "bucket_fn": "murmur3",
            },
            "files": [],
            "summary": {},
            "stats_cols": list(stats_cols) if stats_cols is not None else [],
            "target_file_rows": int(target_file_rows) if target_file_rows else None,
            "lineage": {"op": "create", "rows_written": 0, "buckets": []},
        }
        _publish(path, commit)
        return LakeTable(path)

    def _commit_paths(self) -> list[str]:
        """Published commit files, oldest first."""
        meta = os.path.join(self.path, META_DIR)
        return [
            os.path.join(meta, f)
            for f in sorted(os.listdir(meta))
            if f.startswith("v") and f.endswith(".json")
        ]

    def _load(self) -> None:
        meta = os.path.join(self.path, META_DIR)
        versions = self._commit_paths()
        if not versions:
            raise FileNotFoundError(f"no commits under {meta}")
        # Torn-commit recovery: a crash between publishing a commit's name
        # and its contents reaching stable storage can leave the NEWEST
        # version file empty/truncated. Quarantine it (rename, so the
        # version slot is reusable and future os.link publishes don't
        # collide forever) and fall back to the previous intact commit —
        # that commit never durably happened, so falling back IS the
        # correct state, not data loss. Live writers can't produce torn
        # files (json.dump completes before os.link publishes the name),
        # so anything torn is a crash artifact and safe to quarantine.
        while versions:
            p = versions.pop()
            try:
                with open(p) as fh:
                    self._state = json.load(fh)
                break
            except (json.JSONDecodeError, ValueError):
                os.replace(p, p + f".corrupt-{uuid.uuid4().hex[:8]}")
        else:
            raise FileNotFoundError(f"no intact commits under {meta}")
        # A layout hashed by any other function would resolve its files to
        # the wrong bucket ids: merges would prune away the files holding a
        # key's old versions and keep them stale. Refuse it rather than
        # read it wrong.
        fn = self._state["partition"].get("bucket_fn")
        if fn != "murmur3":
            raise ValueError(
                f"table {self.path}: unsupported bucket_fn {fn!r} "
                "(only 'murmur3' layouts can be read)"
            )

    def refresh(self) -> "LakeTable":
        self._load()
        return self

    def at_version(self, version: int) -> "LakeTable":
        """Time-travel handle: a read-only view of snapshot ``version``
        (commits are immutable, so this is just loading an older commit
        file — same mechanism as Iceberg's ``VERSION AS OF``)."""
        p = os.path.join(self.path, META_DIR, f"v{version:08d}.json")
        if not os.path.exists(p):
            raise FileNotFoundError(f"no snapshot v{version} (expired or never existed)")
        t = LakeTable.__new__(LakeTable)
        t.path = self.path
        with open(p) as fh:
            t._state = json.load(fh)
        return t

    def expire_snapshots(self, keep_last: int = 10) -> int:
        """Drop commit files older than the last ``keep_last`` (never the
        current one). Files referenced only by expired snapshots become
        vacuum-able. Returns number of snapshots removed."""
        doomed = self._commit_paths()[:-max(keep_last, 1)]
        for p in doomed:
            os.unlink(p)
        return len(doomed)

    @property
    def version(self) -> int:
        return self._state["version"]

    @property
    def schema(self) -> StructType:
        return StructType.fromJson(self._state["schema"])

    @property
    def key_cols(self) -> list[str]:
        return list(self._state["key_cols"])

    @property
    def bucket_cols(self) -> list[str]:
        return list(self._state["partition"]["bucket_cols"])

    @property
    def num_buckets(self) -> int:
        return self._state["partition"]["num_buckets"]

    def _bucket_id(self, num_buckets: int | None = None):
        """This table's bucket-id expression."""
        return _bucket_expr(self.bucket_cols, num_buckets or self.num_buckets)

    @property
    def merge_mode(self) -> str:
        return self._state.get("merge_mode", "cow")

    @property
    def summary(self) -> dict[str, Any]:
        return dict(self._state["summary"])

    @property
    def files(self) -> list[dict[str, Any]]:
        return list(self._state["files"])

    @property
    def target_file_rows(self) -> int | None:
        """Durable per-file row target (the local stand-in for ~128 MB at
        cluster scale). When set, COW merges keep it: rewritten buckets are
        written key-sorted and split at this size instead of collapsing to
        one file per bucket, so the file-scoped rewrite fraction stays
        ~window_frac + 1/F BETWEEN compactions too (scale_proof phase B
        showed merges otherwise coarsen granularity until the next sorted
        compaction). Set at create() or recorded by compact(...,
        sort_within_buckets=True, target_file_rows=N)."""
        v = self._state.get("target_file_rows")
        return int(v) if v else None

    def _commit(
        self,
        files: list[dict[str, Any]],
        schema: StructType,
        summary: dict[str, Any],
        lineage: dict[str, Any],
        partition: dict[str, Any] | None = None,
        extra_state: dict[str, Any] | None = None,
    ) -> None:
        """Publish the next snapshot atomically (optimistic concurrency).
        ``partition`` replaces the partition spec in the same commit —
        only valid when ``files`` was written entirely under the new spec
        (bucket-count evolution happens through ``compact``).
        ``extra_state`` merges additional durable table properties (e.g.
        ``target_file_rows``) into the same atomic commit. The summary
        always gets ``delta_depth_max`` (deepest bucket's delta-file count,
        i.e. MOR read fan-in): the O(1) signal depth-triggered compaction
        reads."""
        nxt = dict(self._state)
        if extra_state:
            nxt.update(extra_state)
        nxt["version"] = self.version + 1
        nxt["schema"] = schema.jsonValue()
        nxt["files"] = files
        nxt["summary"] = {
            **summary,
            "delta_depth_max": max(_delta_depths(files).values(), default=0),
        }
        nxt["lineage"] = lineage
        if partition is not None:
            nxt["partition"] = partition
        try:
            _publish(self.path, nxt)
        except FileExistsError as exc:  # another writer won the race
            raise CommitConflict(f"version {nxt['version']} already committed") from exc
        self._state = nxt

    # ------------------------------------------------------------------ read
    def read(
        self,
        spark: SparkSession,
        include_deleted: bool = False,
        include_meta: bool = False,
        buckets: list[int] | None = None,
        ranges: dict[str, tuple] | None = None,
    ) -> DataFrame:
        """Current snapshot as a DataFrame.

        ``buckets`` prunes the scan to the given bucket ids (explicit
        partition pruning — only those parquet files are listed).
        ``ranges`` is ``{col: (lo, hi)}`` — files whose footer min/max for
        ``col`` fall entirely outside ``[lo, hi]`` are skipped (Iceberg-style
        file-stat pruning; a residual filter is still applied, so results
        are exact regardless of stats coverage). The explicit
        ``.schema(...)`` makes pre-evolution files surface NULLs for
        later-added columns.

        On a ``mor`` table with live delta files, the read resolves
        last-writer-wins across base + delta per key (``max_by`` over
        ``(last_lsn, base-wins-ties)`` — the same guard the COW merge
        applies at write time). Pre-resolution pruning/filtering is then
        restricted to KEY columns: dropping a file (or row) by a non-key
        range before resolution could discard the newest version of a key
        and resurrect an older one, so non-key range filters run after
        resolution instead. Bucket pruning is always safe — a key's every
        version lives in one bucket.
        """
        sel = self.files
        if buckets is not None:
            want = set(buckets)
            sel = [f for f in sel if f["bucket"] in want]
        # Resolution is needed ONLY for buckets that actually hold delta
        # files: a key's every version lives in one bucket, so delta-free
        # buckets can be plain-scanned and unioned in — under skewed
        # streams deltas stack in few hot buckets, and routing every base
        # byte of every bucket through the groupBy/max_by shuffle would
        # make read cost O(table) where O(delta-having buckets) suffices.
        delta_buckets = {
            f["bucket"] for f in sel if f.get("kind", "base") == "delta"
        }
        resolve_sel = [f for f in sel if f["bucket"] in delta_buckets]
        plain_sel = [f for f in sel if f["bucket"] not in delta_buckets]
        key_set = set(self.key_cols)

        def _prune(files: list, allowed: set[str] | None) -> list:
            prunable = {
                c: r
                for c, r in (ranges or {}).items()
                if allowed is None or c in allowed
            }
            if not prunable:
                return files

            def overlaps(f: dict[str, Any]) -> bool:
                for col, (lo, hi) in prunable.items():
                    st = (f.get("stats") or {}).get(col)
                    if st is None:
                        continue  # no stats -> cannot prune this file
                    lo_n, hi_n = _stat_value(lo), _stat_value(hi)
                    if (hi_n is not None and st["min"] > hi_n) or (
                        lo_n is not None and st["max"] < lo_n
                    ):
                        return False
                return True

            return [f for f in files if overlaps(f)]

        # plain buckets: every range prunes at file level; resolving
        # buckets: only KEY ranges may prune before resolution (dropping a
        # file by a non-key range could discard a key's newest version).
        plain_sel = _prune(plain_sel, None)
        resolve_sel = _prune(resolve_sel, key_set)

        def _residual(df: DataFrame, only: set[str] | None = None) -> DataFrame:
            # residual filter: exactness never depends on stats coverage.
            # ``only`` restricts to the named columns (MOR split: key cols
            # before resolution, everything else after).
            for col, (lo, hi) in (ranges or {}).items():
                if only is not None and col not in only:
                    continue
                if lo is not None:
                    df = df.filter(F.col(col) >= F.lit(lo))
                if hi is not None:
                    df = df.filter(F.col(col) <= F.lit(hi))
            return df

        if not delta_buckets:
            df = _residual(self._read_file_entries(spark, plain_sel))
        else:
            base = [f for f in resolve_sel if f.get("kind", "base") == "base"]
            delta = [f for f in resolve_sel if f.get("kind", "base") == "delta"]
            u = (
                self._read_file_entries(spark, base)
                .withColumn("_pri", F.lit(1))
                .unionByName(
                    self._read_file_entries(spark, delta).withColumn(
                        "_pri", F.lit(0)
                    )
                )
            )
            # key-column filters are safe BEFORE resolution (per-key groups)
            df = _latest_per_key(_residual(u, only=key_set), self.key_cols)
            # non-key filters only AFTER resolution
            df = _residual(df, only=set(ranges or {}) - key_set)
            if plain_sel:
                # delta-free buckets ride alongside, fully filtered, never
                # shuffled through the resolution agg
                df = df.unionByName(
                    _residual(self._read_file_entries(spark, plain_sel))
                )
        if not include_deleted:
            df = df.filter(~F.coalesce(F.col(DELETED_COL), F.lit(False)))
        if not include_meta:
            df = df.drop(LSN_COL, DELETED_COL)
        return df

    def _read_file_entries(self, spark: SparkSession, entries: list[dict[str, Any]]) -> DataFrame:
        """Full, unfiltered read of exactly the given manifest entries with
        the current schema (file-scoped merge input — no residual filter, so
        every row of every listed file is carried through the rewrite)."""
        schema = self.schema
        if not entries:
            return spark.createDataFrame([], schema)
        paths = [os.path.join(self.path, f["path"]) for f in entries]
        return spark.read.schema(schema).parquet(*paths)

    def lineage_records(self) -> list[dict[str, Any]]:
        """All per-commit lineage records, oldest first."""
        out = []
        for p in self._commit_paths():
            with open(p) as fh:
                c = json.load(fh)
            rec = dict(c.get("lineage") or {})
            rec["version"] = c["version"]
            out.append(rec)
        return out

    def lineage_df(self, spark: SparkSession) -> DataFrame:
        recs = self.lineage_records()
        return spark.createDataFrame(
            [
                (
                    r["version"],
                    r.get("op"),
                    r.get("rows_written", 0),
                    r.get("n_events"),
                    r.get("lsn_min"),
                    r.get("lsn_max"),
                    r.get("batch_fence"),
                    float(r.get("wall_s") or 0.0),
                )
                for r in recs
            ],
            "version int, op string, rows_written long, n_events long, "
            "lsn_min long, lsn_max long, batch_fence string, wall_s double",
        )

    # ----------------------------------------------------------------- write
    def _stat_cols(self) -> tuple[str, ...]:
        """Manifest-stat columns (Iceberg-style per-file min/max, used by
        ``read(ranges=...)`` to skip files): always the leading key column
        (file-level merge pruning keys on it) and the LSN column (snapshot-
        diff and tombstone-floor reasoning), plus any per-table columns
        chosen at ``create(stats_cols=...)`` — e.g. a timestamp a summary
        table is range-queried by."""
        extra = self._state.get("stats_cols") or ()
        return tuple(dict.fromkeys([self.key_cols[0], *extra, LSN_COL]))

    @staticmethod
    def _file_stats(full_path: str, cols: tuple[str, ...]) -> tuple[dict[str, Any], int]:
        """Per-file (min/max stats, row count) from the parquet footer —
        metadata only, no data read. Row counts make exact ``rows_written``
        lineage free (no extra Spark count job per commit)."""
        try:
            import pyarrow.parquet as pq

            md = pq.ParquetFile(full_path).metadata
        except Exception:
            return {}, 0
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        out: dict[str, Any] = {}
        for c in cols:
            if c not in idx:
                continue
            lo = hi = None
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx[c]).statistics
                if st is None or not st.has_min_max:
                    lo = hi = None
                    break
                mn, mx = _stat_value(st.min), _stat_value(st.max)
                if mn is None or mx is None:
                    lo = hi = None
                    break
                lo = mn if lo is None else min(lo, mn)
                hi = mx if hi is None else max(hi, mx)
            if lo is not None:
                out[c] = {"min": lo, "max": hi}
        return out, int(md.num_rows)

    def _write_buckets(
        self,
        df: DataFrame,
        n_buckets_touched: int,
        kind: str = "base",
        sort_cols: list[str] | None = None,
        max_records_per_file: int | None = None,
        already_partitioned: bool = False,
    ) -> list[dict[str, Any]]:
        """Write ``df`` (which carries BUCKET_COL) partitioned by bucket under
        a fresh write id; return file entries with footer min/max stats and
        row counts. partitionBy keeps each bucket's rows in its own directory
        so later merges prune by listing. Footer reads are metadata-only and
        fan out on a thread pool — they are driver-serial otherwise and were
        a measurable slice of the per-commit floor."""
        write_id = f"w-{uuid.uuid4().hex[:12]}"
        out_dir = os.path.join(self.path, DATA_DIR, write_id)
        # One shuffle partition per touched bucket keeps file counts bounded;
        # AQE may coalesce further. At 100 TB num_buckets is large and each
        # bucket rewrite is one task's worth of data. ``sort_cols`` orders
        # rows inside each bucket (no extra shuffle — sort within the
        # existing partitions) and ``max_records_per_file`` splits output:
        # together they produce several files per bucket with DISJOINT key
        # ranges, which is what makes the manifest min/max file pruning in
        # ``merge_cdc``/``read(ranges=...)`` actually selective.
        # ``already_partitioned``: the caller's plan already ends in a
        # bucket-aligned exchange (merge_cdc's single repartition) —
        # repartitioning again here would re-shuffle the entire result for
        # nothing, so trust the incoming task layout.
        if already_partitioned:
            out = df
        else:
            out = df.repartition(max(n_buckets_touched, 1), F.col(BUCKET_COL))
        if sort_cols:
            # Lead with BUCKET_COL: ``partitionBy`` requires task rows
            # ordered by the partition column, and if they are not, Spark
            # inserts its own NON-STABLE sort on bucket alone — which, when
            # a task carries several buckets (hash collisions in the
            # repartition), scrambles the within-bucket key order and makes
            # ``maxRecordsPerFile`` splits produce OVERLAPPING key ranges
            # (observed: a 5%-keyspace batch "overlapping" 90% of a freshly
            # sorted-compacted table's files). With bucket first, the
            # writer's required ordering is a satisfied prefix, no re-sort
            # happens, and each bucket's files are disjoint sorted slices.
            out = out.sortWithinPartitions(BUCKET_COL, *sort_cols)
        writer = out.write.partitionBy(BUCKET_COL).mode("overwrite")
        if max_records_per_file:
            writer = writer.option("maxRecordsPerFile", int(max_records_per_file))
        writer.parquet(out_dir)
        stat_cols = tuple(c for c in self._stat_cols() if c in df.columns)
        rels: list[tuple[str, int]] = []
        for bdir in sorted(os.listdir(out_dir)):
            if not bdir.startswith(f"{BUCKET_COL}="):
                continue
            b = int(bdir.split("=", 1)[1])
            for fn in sorted(os.listdir(os.path.join(out_dir, bdir))):
                if fn.endswith(".parquet"):
                    rels.append((os.path.join(DATA_DIR, write_id, bdir, fn), b))
        from concurrent.futures import ThreadPoolExecutor

        def entry(rel_b: tuple[str, int]) -> dict[str, Any]:
            rel, b = rel_b
            stats, n_rows = self._file_stats(os.path.join(self.path, rel), stat_cols)
            e = {"path": rel, "bucket": b, "stats": stats, "rows": n_rows}
            if kind != "base":
                e["kind"] = kind
            return e

        if len(rels) <= 1:
            return [entry(rb) for rb in rels]
        with ThreadPoolExecutor(max_workers=min(16, len(rels))) as pool:
            return list(pool.map(entry, rels))

    def _evolved_schema(self, source: StructType) -> StructType:
        """Additively merge source columns into the table schema (new columns
        appended nullable; existing columns keep their type)."""
        current = self.schema
        names = {f.name for f in current.fields}
        fields = list(current.fields)
        for f in source.fields:
            if f.name not in names:
                fields.append(StructField(f.name, f.dataType, True))
        return StructType(fields)

    def append(self, spark: SparkSession, df: DataFrame, op: str = "append") -> dict[str, Any]:
        """Plain append (no key resolution) — the analog of the reference's
        staging bulk_insert (``/root/reference/src/database_manager.py:139-174``)."""
        return {"files": len(self._write_rows(df, self.files, op))}

    def _write_rows(
        self, df: DataFrame, keep: list[dict[str, Any]], op: str
    ) -> list[dict[str, Any]]:
        """Write ``df``'s rows as they are under the additively evolved
        schema (columns it lacks fill NULL) and commit them after the
        ``keep`` entries. Returns the new file entries."""
        t0 = time.time()
        schema = self._evolved_schema(df.schema)
        out = df.select(*_conformed(df, schema))
        new_files = self._write_buckets(
            out.withColumn(BUCKET_COL, self._bucket_id()), self.num_buckets
        )
        self._commit(
            keep + new_files,
            schema,
            self.summary,
            {
                "op": op,
                # exact, from parquet footers — no count job
                "rows_written": sum(f.get("rows", 0) for f in new_files),
                "buckets": sorted({f["bucket"] for f in new_files}),
                "wall_s": round(time.time() - t0, 3),
            },
        )
        return new_files

    # ------------------------------------------------------------------ CDC
    def fenced(self, fence: tuple[str, int] | None) -> dict[str, Any] | None:
        """The no-op result for a batch this table already applied under
        ``fence=(stream_id, batch_id)`` (its fence is at or past
        ``batch_id``), else None."""
        if fence is None:
            return None
        last = self.summary.get(f"fence:{fence[0]}")
        if last is not None and int(last) >= int(fence[1]):
            return {"applied": False, "reason": "fenced", "batch_id": fence[1]}
        return None

    def merge_cdc(
        self,
        spark: SparkSession,
        events: DataFrame,
        op_col: str = "op",
        lsn_col: str = "lsn",
        fence: tuple[str, int] | None = None,
        assume_deduped: bool = False,
        stats: tuple[int | None, int | None, int] | None = None,
        touched: list[int] | None = None,
        key_range: tuple[Any, Any] | None = None,
        bucket_ranges: dict[int, dict[str, Any]] | None = None,
    ) -> dict[str, Any]:
        """Apply a batch of change events (I/U/D) idempotently.

        The Spark-native MERGE: last-writer-wins dedup inside the batch, then
        an LSN-guarded resolution against only the affected buckets, then an
        atomic bucket-file swap. Equivalent semantics to Iceberg
        ``MERGE INTO t USING s ON keys WHEN MATCHED AND s.lsn > t.last_lsn
        THEN UPDATE/DELETE WHEN NOT MATCHED THEN INSERT`` and to the
        reference's ``INSERT ... ON CONFLICT DO UPDATE``
        (``/root/reference/sql/etl_transformations.sql:27-38``) — plus the
        out-of-order/duplicate safety the reference lacks:

        * duplicate events (same LSN re-delivered) are no-ops,
        * a stale lower-LSN update arriving after a delete does NOT resurrect
          the row (tombstones carry the delete's LSN),
        * replaying a fenced batch is a no-op (``fence=(stream_id, batch_id)``
          recorded in the snapshot summary atomically with the data).

        ``assume_deduped=True`` skips the internal LWW groupBy when the
        caller already reduced the batch to one row per key (the streaming
        path does — see ``cdc.apply``). ``stats=(lo, hi, n)``
        passes the batch's LSN range + raw event count so no extra scan of
        ``events`` is needed for lineage. ``touched`` passes the batch's
        bucket ids when the caller precomputed them (fused into the stats
        aggregation by ``cdc.apply.apply_batch``), skipping the distinct
        collect here. ``key_range=(lo, hi)`` passes the batch's min/max of
        the leading key column for file-level rewrite pruning (below).

        **File-level copy-on-write**: within a touched bucket, only files
        whose manifest min/max for the leading key column intersects the
        batch's key range are read and rewritten; disjoint files are carried
        into the new snapshot unchanged. A file with no stats is always
        rewritten (conservative). This bounds write amplification by the
        overlapping-file bytes, not the touched-bucket bytes — the Iceberg
        merge-on-write file-scoping strategy. Pruning is safe because a file
        whose key range excludes every batch key cannot contain a row any
        batch event matches; string ranges compare identically in parquet
        (unsigned UTF-8 bytes) and Python (codepoints) since UTF-8 is
        order-preserving.
        """
        t0 = time.time()
        keys = self.key_cols
        skipped = self.fenced(fence)
        if skipped is not None:
            return skipped

        payload_cols = [
            c for c in events.columns if c not in (op_col, lsn_col, BUCKET_COL)
        ]
        missing = [k for k in keys if k not in payload_cols]
        if missing:
            raise ValueError(f"events missing key columns {missing}")
        value_cols = [c for c in payload_cols if c not in keys]

        schema = self._evolved_schema(
            StructType([f for f in events.schema.fields if f.name in payload_cols])
        )

        # --- 1. within-batch last-writer-wins dedup (SURVEY.md §2.5 W1) ----
        # groupBy + max_by(struct) instead of a row_number window: aggregation
        # gets map-side partial combine, so hot (conv_id, turn_idx) keys
        # reduce locally before the shuffle — the scale-critical choice.
        # Re-delivered duplicates share an LSN and identical payloads, so any
        # winner among equals is correct.
        src = events.withColumn(
            DELETED_COL, (F.col(op_col) == F.lit("D"))
        ).withColumn(LSN_COL, F.col(lsn_col).cast("long"))
        # An event without an LSN (or one whose lsn casts to NULL) is
        # unorderable: LWW cannot place it, and max_by over a key whose
        # events are ALL null-LSN would emit an all-NULL winner row that
        # merges as a phantom record. An event with a NULL key column has
        # no merge identity at all — and NULL-blind min/max key-range file
        # pruning would silently DUPLICATE a null-key row on later merges.
        # Both are excluded here (plain codegen filters, no extra action);
        # the validation layer (functions.validate null_thresholds /
        # strict mode) is where such events get counted or abort the batch.
        src = src.filter(F.col(LSN_COL).isNotNull())
        for k in keys:
            src = src.filter(F.col(k).isNotNull())
        # Deletes blank their payload (tombstone keeps only key + LSN).
        src = src.select(
            *[F.col(k) for k in keys],
            *[
                F.when(F.col(DELETED_COL), F.lit(None)).otherwise(F.col(c)).alias(c)
                for c in value_cols
            ],
            F.col(LSN_COL),
            F.col(DELETED_COL),
        )
        if not assume_deduped:
            src = _latest_per_key(src.withColumn("_pri", F.lit(0)), keys)

        # --- 2. explicit partition + file pruning: which buckets does this
        # batch touch, and which files inside them can its key range reach?
        # (cheap: one agg over the batch when not fused by the caller) ------
        src = src.withColumn(BUCKET_COL, self._bucket_id())
        prune_key = self.key_cols[0]
        if touched is None:
            row = src.agg(
                F.collect_set(BUCKET_COL).alias("b"),
                F.min(prune_key).alias("klo"),
                F.max(prune_key).alias("khi"),
            ).collect()[0]
            touched = sorted(int(b) for b in (row["b"] or []))
            key_range = (row["klo"], row["khi"])
        else:
            touched = sorted(set(touched))

        def _shape(df: DataFrame, pri: int | None) -> DataFrame:
            extra = [] if pri is None else [F.lit(pri).alias("_pri")]
            return df.select(*_conformed(df, schema), F.col(BUCKET_COL), *extra)

        in_touched = [f for f in self.files if f["bucket"] in set(touched)]
        if self.merge_mode == "mor":
            # ---- merge-on-read: append the reduced batch as delta files ----
            # No target read, no rewrite: write cost is O(batch rows). The
            # LSN guard moves to read()/compact() resolution; fencing and
            # lineage are identical to the COW path, so exactly-once replay
            # semantics don't depend on the mode.
            rewrite: list[dict[str, Any]] = []
            new_files = self._write_buckets(
                _shape(src, None), len(touched), kind="delta"
            )
        else:
            klo = khi = None
            if key_range is not None and key_range[0] is not None:
                # same normalization as the manifest stats (dates -> ISO strings)
                klo, khi = _stat_value(key_range[0]), _stat_value(key_range[1])
            if klo is not None and khi is not None:

                def _hit(f: dict[str, Any]) -> bool:
                    st = (f.get("stats") or {}).get(prune_key)
                    if st is None:
                        return True  # no stats -> must rewrite (conservative)
                    return not (st["min"] > khi or st["max"] < klo)

                rewrite = [f for f in in_touched if _hit(f)]
            else:
                rewrite = in_touched
            target = self._read_file_entries(spark, rewrite).withColumn(
                BUCKET_COL, self._bucket_id()
            )

            # --- 3. LSN-guarded resolution: target (pri 1) + batch (pri 0) --
            # Shuffle plan (the scale-critical choice): the ONE explicit
            # repartition below is the merge's ONLY exchange. Its
            # partitioning (hash(bucket_cols) pmod num_buckets)
            # simultaneously (a) satisfies the resolution agg's required
            # ClusteredDistribution(keys) — bucket_cols is a subset of keys,
            # enforced at create — so Catalyst inserts no second exchange,
            # and (b) equals the bucket id itself (_bucket_expr), so every
            # bucket lands wholly in exactly one task and the bucketed write
            # needs no repartition either. Net: target+source payload bytes
            # cross the wire ONCE instead of twice (resolution exchange +
            # write repartition), which is the dominant inter-executor
            # traffic of a COW merge on a real cluster.
            merged = _latest_per_key(
                _shape(target, 1)
                .unionByName(_shape(src, 0))
                .repartition(self.num_buckets, *[F.col(c) for c in self.bucket_cols]),
                keys,
            )

            # --- 4. rewrite only the overlapping files ---------------------
            # With a recorded target_file_rows the rewrite keeps the table's
            # file granularity instead of collapsing each touched bucket to
            # one file: key-sorted within the (aligned, one-bucket) task +
            # split at the target. No extra shuffle either way; the sort
            # rides inside the write stage (Iceberg's sorted-write
            # compaction, applied at merge time so rewrite fractions stay
            # ~window+1/F between compactions — scale_proof phase B).
            tfr = self.target_file_rows
            new_files = self._write_buckets(
                merged,
                len(touched),
                sort_cols=self.key_cols if tfr else None,
                max_records_per_file=tfr,
                already_partitioned=True,
            )

        # --- 5. swap the files atomically ----------------------------------
        if stats is None:
            row = events.agg(
                F.min(lsn_col).alias("lo"),
                F.max(lsn_col).alias("hi"),
                F.count("*").alias("n"),
            ).collect()[0]
            stats = (
                int(row["lo"]) if row["lo"] is not None else None,
                int(row["hi"]) if row["hi"] is not None else None,
                int(row["n"]),
            )
        lo, hi, n_events = stats
        doomed = {f["path"] for f in rewrite}
        # the fence, the O(1) cadence counter (merges since the last
        # compact — restart-safe, so streams never rescan lineage per
        # batch) and the applied-LSN high-water mark (tombstone-purge
        # floor source) commit atomically with the data
        summary = self.summary
        if fence is not None:
            summary[f"fence:{fence[0]}"] = int(fence[1])
        summary["merges_since_compact"] = int(summary.get("merges_since_compact", 0)) + 1
        if hi is not None:
            summary["applied_lsn_max"] = max(int(summary.get("applied_lsn_max", hi)), int(hi))
        lineage = {
            "op": "merge_cdc",
            "mode": self.merge_mode,
            # rows_written = rows physically written (incl. tombstones),
            # exact and free from the parquet footers; n_events = raw
            # pre-dedup event count — two fields, two stable meanings.
            "rows_written": sum(f.get("rows", 0) for f in new_files),
            "n_events": n_events,
            "buckets": touched,
            "lsn_min": lo,
            "lsn_max": hi,
            "batch_fence": f"{fence[0]}:{fence[1]}" if fence else None,
            "wall_s": round(time.time() - t0, 3),
        }
        if bucket_ranges:
            # per-partition applied LSN ranges + counts (audit/replay
            # bookkeeping; computed in the caller's single stats action)
            lineage["bucket_lsn_ranges"] = {
                str(b): r for b, r in sorted(bucket_ranges.items())
            }
        self._commit(
            [f for f in self.files if f["path"] not in doomed] + new_files,
            schema,
            summary,
            lineage,
        )
        return {
            "applied": True,
            "mode": self.merge_mode,
            "events": n_events,
            "buckets_touched": len(touched),
            "files_rewritten": len(rewrite),
            "files_kept_in_touched_buckets": len(in_touched) - len(rewrite),
            "files_written": len(new_files),
        }

    # ------------------------------------------------------------ maintenance
    def compact(
        self,
        spark: SparkSession,
        purge_tombstones_below_lsn: int | None = None,
        num_buckets: int | None = None,
        sort_within_buckets: bool = False,
        target_file_rows: int | None = None,
    ) -> dict[str, Any]:
        """Rewrite every live bucket and optionally purge tombstones whose
        delete LSN is below the watermark — the engine's
        ``rewrite_data_files`` + tombstone GC (SURVEY.md §7.2). On a MOR
        table this also folds all delta files into base (the resolved read
        is the input). Resets the cadence counter
        (``merges_since_compact``). Three layout levers, all atomic with
        the rewrite:

        * ``num_buckets`` — bucket-count evolution (Iceberg partition-spec
          evolution): the 100 TB growth path is exactly this, 16 buckets at
          bootstrap -> O(10k) as the table grows, re-bucketed during a
          scheduled compaction. The partition spec changes in the SAME
          commit as the rewritten files, so readers never see a mixed
          layout.
        * ``sort_within_buckets`` — order rows by the key columns inside
          each bucket (no extra shuffle) before writing.
        * ``target_file_rows`` — split each bucket's output at N rows per
          file. Combined with the sort, files within a bucket get DISJOINT
          key ranges, which is what makes manifest min/max pruning in
          ``read(ranges=...)`` and the file-scoped COW merge selective:
          a narrow-key batch then rewrites one file per bucket, not the
          whole bucket. The pair is recorded as the table's file
          granularity, which later COW merges keep.

        Sizing guidance (measured, ``tools/scale_proof.py`` phase B): with
        F sorted files per bucket, a batch updating ``window_frac`` of the
        keyspace rewrites ~``window_frac + 1/F`` of the table's files, so
        pick ``target_file_rows ~= bucket_rows / F`` with F large enough
        that ``1/F`` is small next to your typical batch's key coverage —
        F=8 left a 5%-keyspace batch rewriting up to 0.34 of files, F=32
        bounds it near 0.1 (while keeping files large enough that open/
        footer overhead stays negligible: tens of thousands of rows or
        ~10-100 MB at cluster scale).
        """
        new_files = self._compact(
            spark, None, purge_tombstones_below_lsn, sort_within_buckets,
            target_file_rows, num_buckets,
        )
        return {"files": len(new_files), "num_buckets": self.num_buckets}

    def delta_depths(self) -> dict[int, int]:
        """Per-bucket count of live delta files (MOR read fan-in), from the
        in-memory manifest — no Spark job, no file listing."""
        return _delta_depths(self.files)

    def compact_buckets(
        self,
        spark: SparkSession,
        buckets: list[int],
        purge_tombstones_below_lsn: int | None = None,
        sort_within_buckets: bool = False,
        target_file_rows: int | None = None,
    ) -> dict[str, Any]:
        """Fold ONLY the given buckets' files (base + deltas, resolved) into
        fresh base files, carrying every other bucket's files into the new
        snapshot untouched — the MOR hot-bucket maintenance primitive.

        A skewed change stream stacks deltas in few buckets; a full
        ``compact()`` would rewrite the whole table to fix them (O(table)
        write amplification — exactly what MOR exists to avoid). This
        rewrite is O(deep-bucket bytes): at 100 TB with O(10k) buckets and a
        Zipf-hot head, depth-triggered bucket compaction keeps per-key read
        fan-in bounded by ``max_delta_depth`` while the per-compaction cost
        stays proportional to the hot buckets only. Key-disjointness makes
        this safe: a key's every version lives in exactly one bucket, so
        resolving a bucket subset can never lose a newer version held
        elsewhere. Does NOT reset the full-compaction cadence counter
        (``merges_since_compact``) — this is partial maintenance, not the
        scheduled table-wide rewrite.
        """
        want = sorted(set(buckets))
        new_files = self._compact(
            spark, want, purge_tombstones_below_lsn, sort_within_buckets,
            target_file_rows,
        )
        return {"files": len(new_files), "buckets": want}

    def _compact(
        self,
        spark: SparkSession,
        scope: list[int] | None,
        purge_tombstones_below_lsn: int | None,
        sort_within_buckets: bool,
        target_file_rows: int | None,
        num_buckets: int | None = None,
    ) -> list[dict[str, Any]]:
        """Shared body of ``compact`` (``scope=None``: every bucket) and
        ``compact_buckets`` (``scope``: the sorted bucket ids): resolved
        read -> tombstone purge -> base-file write -> one commit that
        carries every out-of-scope file over. Only a full compaction resets
        the cadence counter, evolves the bucket count and records the file
        granularity. Returns the new file entries."""
        t0 = time.time()
        full = scope is None
        nb = num_buckets or self.num_buckets
        df = self.read(spark, include_deleted=True, include_meta=True, buckets=scope)
        if purge_tombstones_below_lsn is not None:
            # the lsn comparison must coalesce too: for a tombstone with
            # NULL last_lsn (bulk-appended rows), true & NULL = NULL and
            # ~NULL filters the row out — i.e. the tombstone would be
            # purged UNCONDITIONALLY, ignoring the floor, and a later
            # stale insert could resurrect the key. NULL-lsn rows are
            # never purged (their position is unknown).
            df = df.filter(
                ~(
                    F.coalesce(F.col(DELETED_COL), F.lit(False))
                    & F.coalesce(
                        F.col(LSN_COL) < F.lit(purge_tombstones_below_lsn),
                        F.lit(False),
                    )
                )
            )
        new_files = self._write_buckets(
            df.withColumn(BUCKET_COL, self._bucket_id(nb)),
            nb if full else len(scope),  # one shuffle partition per bucket
            sort_cols=self.key_cols if sort_within_buckets else None,
            max_records_per_file=target_file_rows,
        )
        summary = self.summary
        lineage = {
            "op": "compact" if full else "compact_buckets",
            "rows_written": sum(f.get("rows", 0) for f in new_files),
            "buckets": scope,
        }
        keep = []
        partition = extra = None
        if full:
            summary["merges_since_compact"] = 0  # cadence counter resets here
            lineage["buckets"] = sorted({f["bucket"] for f in new_files})
            lineage["num_buckets"] = nb
            if nb != self.num_buckets:
                partition = {**self._state["partition"], "num_buckets": nb}
            if target_file_rows and sort_within_buckets:
                # a sorted+split compaction establishes the table's file
                # granularity — record it so later COW merges preserve it
                extra = {"target_file_rows": int(target_file_rows)}
        else:
            keep = [f for f in self.files if f["bucket"] not in set(scope)]
        lineage["wall_s"] = round(time.time() - t0, 3)
        self._commit(
            keep + new_files, self.schema, summary, lineage,
            partition=partition, extra_state=extra,
        )
        return new_files

    def vacuum(self, grace_seconds: float = 600.0) -> int:
        """Delete data files referenced by NO retained snapshot (including
        orphans from crashed writes). Time-travel-safe: files needed by any
        commit still on disk survive; run ``expire_snapshots`` first to
        widen the reclaim set. Returns count removed.

        ``grace_seconds`` is the Iceberg-style orphan-file grace period:
        files younger than it are never deleted, so an in-flight writer's
        freshly written data (``_write_buckets`` runs BEFORE its commit
        publishes) survives a concurrent vacuum. Pass 0 only when all
        writers are known quiesced."""
        live: set[str] = set()
        for p in self._commit_paths():
            with open(p) as fh:
                commit = json.load(fh)
            live |= {
                os.path.join(self.path, f["path"]) for f in commit.get("files", [])
            }
        removed = 0
        cutoff = time.time() - grace_seconds
        data_root = os.path.join(self.path, DATA_DIR)
        for wdir in list(os.listdir(data_root)):
            full = os.path.join(data_root, wdir)
            keep_any = False
            for root, _dirs, files in os.walk(full):
                for fn in files:
                    p = os.path.join(root, fn)
                    if p in live or os.path.getmtime(p) > cutoff:
                        keep_any = True
                    elif fn.endswith(".parquet"):
                        os.unlink(p)
                        removed += 1
            if not keep_any:
                shutil.rmtree(full, ignore_errors=True)
        return removed
