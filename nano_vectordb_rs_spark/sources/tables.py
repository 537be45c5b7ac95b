"""Parquet table sources for the driver's fixture schema (TESTDATA.md).

One ``spark.read.parquet`` per table — declarative scans so Catalyst gets
predicate pushdown, column pruning and partition/row-group pruning for free.
At cluster scale the same loader works unchanged against a 100 TB dataset
directory; ``spark.sql.files.maxPartitionBytes`` governs split parallelism.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLES}")
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# A split this large already keeps one core busy, so an input of ``cores``
# such splits gets its parallelism from the scan alone.
SPLIT_BYTES = 128 << 20


def bytes_width(nbytes: int, cores: int, per_task_bytes: int) -> int:
    """The byte-to-width rule: ~``per_task_bytes`` of input per task,
    capped at ``cores``. 0 ("add no exchange") when the input is under one
    task's budget, or when ``SPLIT_BYTES`` splits alone give ``cores`` tasks."""
    if nbytes // SPLIT_BYTES >= cores:
        return 0
    return min(cores, nbytes // max(1, per_task_bytes))


def input_sized_width(
    spark: SparkSession, sf_dir: str, name: str, per_task_bytes: int
) -> int:
    """Exchange width for unstarving a CPU-heavy stage off a scan with too
    few splits (r16; guide §2.2/§2.5). The fixture files are single parquet
    row groups, so every scan is ONE task and any compute directly above it
    serializes onto one core. Returns 0 ("add no exchange") when the scan
    itself provides ≥ core-count splits — at corpus scale re-shuffling the
    rows is pure waste, the splits give the parallelism — or when the input
    is too small/unreadable; otherwise ``bytes_width`` of the on-disk input.
    Derived from INPUT SIZE, never bare core count (the r15 simhash lesson:
    a 32-wide exchange of a 594 KB input was the round's one confirmed
    regression)."""
    cores = spark.sparkContext.defaultParallelism
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        if os.path.isdir(path):
            parts = [
                os.path.join(path, f)
                for f in os.listdir(path)
                if f.endswith(".parquet")
            ]
            if len(parts) >= cores:
                return 0
            nbytes = sum(os.path.getsize(p) for p in parts)
        else:
            nbytes = os.path.getsize(path)
    except OSError:
        return 0
    return bytes_width(nbytes, cores, per_task_bytes)
