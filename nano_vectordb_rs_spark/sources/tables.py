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


def table_file_sizes(sf_dir: str, name: str) -> list[int]:
    """On-disk byte size of each Parquet file of table ``name`` (one entry
    for a single-file table). Raises ``OSError`` when the path cannot be
    read locally (missing, or on an object store)."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isdir(path):
        return [
            os.path.getsize(os.path.join(path, f))
            for f in os.listdir(path)
            if f.endswith(".parquet")
        ]
    return [os.path.getsize(path)]


def input_sized_width(
    spark: SparkSession, sf_dir: str, name: str, per_task_bytes: int
) -> int:
    """Exchange width that spreads table ``name``'s scan (see
    ``spread_table``): ``bytes_width`` of its on-disk size. 0 ("add no
    exchange") when the table has ≥ core-count files, whose splits already
    give the parallelism, or when it cannot be read locally."""
    cores = spark.sparkContext.defaultParallelism
    try:
        sizes = table_file_sizes(sf_dir, name)
    except OSError:
        return 0
    if len(sizes) >= cores:
        return 0
    return bytes_width(sum(sizes), cores, per_task_bytes)


def spread_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    per_task_bytes: int = 64 << 10,
    keys: tuple[str, ...] = (),
) -> DataFrame:
    """``load_table``, spread over the cores for a CPU-heavy scan-local stage.

    The fixture tables are each one Parquet row group, so each scan is ONE
    task and any per-row compute directly above it serializes onto one
    core. When ``input_sized_width`` is above 1 the table comes back
    repartitioned to that width (round-robin, or hashed on ``keys``):
    ~``per_task_bytes`` of on-disk input per task, capped at core count,
    and 0 (no exchange) at corpus scale, where the scan's own splits give
    the parallelism. The width follows INPUT SIZE, never bare core count:
    a 32-wide exchange of simhash's 594 KB input was r15's one confirmed
    regression (guide §2.2/§2.5)."""
    # the module global, not a captured reference: a traced run swaps
    # ``tables.load_table`` for a wrapper that counts the reads
    df = load_table(spark, sf_dir, name)
    width = input_sized_width(spark, sf_dir, name, per_task_bytes)
    if width > 1:
        df = df.repartition(width, *keys)
    return df
