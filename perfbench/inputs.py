"""Seeded input materialization.

A CDC change log is a pure function of ``--seed`` and its size. It comes
from ``cdc.generate.generate_change_events`` and is written during set-up
as delivery-ordered parquet files under the run's work directory, so the
engine only ever reads generated files. The analytics workload's tables
come from ``tables.write_tables``, also seeded.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq


def events_in(files: list[str]) -> int:
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def bytes_in(files: list[str]) -> int:
    return sum(os.path.getsize(f) for f in files)


def materialize_cdc_log(
    spark, path: str, seed: int, n_events: int, n_convs: int, n_files: int
) -> list[str]:
    """Write a Zipf change log (skew 2.0, 0.1% deletes, 1% duplicate
    deliveries, 1% out-of-order) as ``n_files`` parquet files, each a
    contiguous range of delivery positions, and return their paths in
    delivery order. The files are named in that order and given increasing
    modification times, so a file stream reads them in that order."""
    from sql_etl_pipeline_spark.cdc.generate import generate_change_events

    ev = generate_change_events(
        spark,
        n_events,
        n_convs=n_convs,
        seed=seed,
        skew=2.0,
        delete_frac=0.001,
        dup_frac=0.01,
        ooo_frac=0.01,
    )
    staging = path + ".staging"
    (
        ev.repartitionByRange(n_files, "pos")
        .sortWithinPartitions("pos")
        .write.mode("overwrite")
        .parquet(staging)
    )
    parts = sorted(f for f in os.listdir(staging) if f.endswith(".parquet"))
    if len(parts) != n_files:
        raise RuntimeError(f"expected {n_files} log files, Spark wrote {len(parts)}")
    os.makedirs(path)
    files, base_mtime = [], 1_700_000_000
    for i, name in enumerate(parts):
        dst = os.path.join(path, f"log-{i:05d}.parquet")
        os.rename(os.path.join(staging, name), dst)
        os.utime(dst, (base_mtime + i, base_mtime + i))
        files.append(dst)
    return files
