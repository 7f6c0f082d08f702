"""Partitioned / bucketed table writers (the 100 TB output path).

At scale, how a table is laid out determines every downstream query's
cost: directory partitioning gives partition *pruning* (a filter on the
partition column skips whole directories — `PartitionFilters` in the
scan), bucketing gives shuffle-free joins/aggregations on the bucket key
for readers that join on it. Neither appears in the reference (it writes
only to Kafka); both are table-stakes for a parquet-lake deployment of
the same pipeline.

Table rewrites — compaction, upsert and the continuous rollups in
``streaming.rollup`` — share ONE crash-safe protocol, owned here:
:func:`heal_table` then :func:`rewrite_table`. The next table version is
written to ``<path>__staging`` and swapped in through
``<path>__backup``. The swap is two renames, not one atomic op: a crash
between them leaves the table at ``<path>__backup`` (complete, never
half-written), and the next :func:`heal_table` on that path — from any
writer — restores it, then clears stale staging/backup dirs. One name
pair per path is what makes that true: a writer that looked only for
its own backup name would start from an empty table and then delete
another writer's backup as stale.

Contract: local-filesystem tables (os-level renames) and one writer per
table path at a time. Object-store lakes (s3a/hdfs) should use a table
format (Iceberg/Delta) whose commit protocol does this transactionally.
"""

from __future__ import annotations

import os
import shutil
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.windows import last_per_key


def write_partitioned(df: DataFrame, path: str, partition_cols: list[str]) -> None:
    """Directory-partitioned parquet: one directory per distinct value
    combination of ``partition_cols``. Keep partition columns
    low-cardinality (date, type, tenant) — a high-cardinality partition
    key produces millions of small files and kills the driver's listing.
    Filters on partition columns prune at planning time when the table
    is read back with ``spark.read.parquet`` (check `PartitionFilters`
    in .explain)."""
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


def write_bucketed_table(
    df: DataFrame, table_name: str, bucket_cols: list[str], n_buckets: int
) -> None:
    """Hive-bucketed managed table: rows hash-distributed into
    ``n_buckets`` files per partition by ``bucket_cols``. Two tables
    bucketed the same way join WITHOUT a shuffle (Catalyst recognizes the
    output partitioning); per-key pipelines (our indicator stack) read
    pre-clustered data. Requires saveAsTable (bucket metadata lives in
    the catalog, not the directory layout)."""
    df.write.mode("overwrite").bucketBy(n_buckets, *bucket_cols).saveAsTable(
        table_name
    )


def compact_partitioned(
    spark: SparkSession, path: str, partition_cols: list[str]
) -> None:
    """Small-file compaction — the lake-maintenance chore every
    streaming/micro-batch writer creates work for. Each micro-batch
    appends a few small files per partition; after N batches a scan pays
    N× task-scheduling and footer-read overhead. Rewrite each partition
    into files of at most a million records, under the module's
    rewrite protocol."""
    heal_table(path)
    compacted = (
        spark.read.parquet(path)
        .repartition(*partition_cols)
        .write.mode("overwrite")
        .option("maxRecordsPerFile", 1_000_000)
        .partitionBy(*partition_cols)
    )
    rewrite_table(path, compacted.parquet)


def upsert_partitioned(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    partition_cols: list[str],
) -> None:
    """Merge/upsert for plain-parquet tables: union current + updates,
    keep the latest row per key (``order_cols`` desc — same
    latest-per-key primitive as the streaming dedup), rewrite under the
    module's rewrite protocol. This is the full-rewrite strategy; with a
    table format (Iceberg/Delta) the same latest-wins logic would ride
    MERGE INTO and rewrite only touched files. Partition-wise it only
    needs to rewrite partitions present in ``updates`` — kept
    whole-table here for plain-parquet simplicity."""
    heal_table(path)
    if os.path.exists(path):
        current = spark.read.parquet(path)
        merged = current.unionByName(updates.select(*current.columns))
    else:
        # bootstrap: the first-ever upsert initializes the table (same
        # first-write branch the rollup merge has) — updates still
        # dedup to latest-per-key so duplicate keys in one batch
        # resolve identically to the steady-state path
        merged = updates
    latest = last_per_key(merged, key_cols, [F.col(c) for c in order_cols])
    rewrite_table(
        path, latest.write.mode("overwrite").partitionBy(*partition_cols).parquet
    )


def _staging_and_backup(path: str) -> tuple[str, str]:
    base = path.rstrip("/")
    return base + "__staging", base + "__backup"


def heal_table(path: str) -> None:
    """Heal a crashed prior rewrite of ``path``: restore the backup if
    the table vanished mid-swap, then clear stale staging/backup dirs.
    Call it before reading the table (or anything stored inside it)."""
    staging, backup = _staging_and_backup(path)
    if not os.path.exists(path) and os.path.exists(backup):
        os.rename(backup, path)
    shutil.rmtree(staging, ignore_errors=True)
    shutil.rmtree(backup, ignore_errors=True)


def rewrite_table(path: str, write: Callable[[str], None]) -> None:
    """Commit the next version of the table at ``path``: ``write`` fills
    the staging dir it is given, which then replaces the table (or
    becomes it, when the table is new). Call :func:`heal_table` first."""
    staging, backup = _staging_and_backup(path)
    write(staging)
    if os.path.exists(path):
        os.rename(path, backup)
    os.rename(staging, path)
    shutil.rmtree(backup, ignore_errors=True)
