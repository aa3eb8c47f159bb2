"""Sinks (SURVEY.md §2a S9/S10).

The reference's only sinks are driver-side ``print`` of a pandas table
(F.py:318, 357, 396) and printed metrics (F.py:252-276). The engine
replaces them with distributed writers; the console path is plain
``df.show()``.

Scale rules baked in:

- parquet is the default interchange format (columnar, statistics,
  predicate-pushdown-able on re-read);
- ``partition_by`` maps to hive-style directory partitioning — the
  free partition pruning on every downstream read;
- an explicit ``target_file_rows`` repartition avoids both the
  tiny-files problem (1000 executors x 32 tasks each writing 2 KB) and
  single-file chokepoints — at 100 TB the file count is the knob that
  decides metadata pressure on the catalog/namenode;
- writers never collect: the driver sees only the commit.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame


def _sized(df: DataFrame, target_file_rows: int | None) -> DataFrame:
    if not target_file_rows:
        return df
    # one count to size the output; cheap relative to the write itself
    n = df.count()
    parts = max(1, math.ceil(n / target_file_rows))
    return df.repartition(parts)


def write_parquet(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    target_file_rows: int | None = None,
    mode: str = "overwrite",
) -> None:
    w = _sized(df, target_file_rows).write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_csv(
    df: DataFrame,
    path: str,
    header: bool = True,
    mode: str = "overwrite",
    target_file_rows: int | None = None,
) -> None:
    """Kaggle-submission-shaped CSV sink (the reference's output table,
    F.py:312-315, is orderID,products)."""
    _sized(df, target_file_rows).write.mode(mode).option(
        "header", str(header).lower()
    ).csv(path)


def write_orc(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """ORC sink (columnar alternative to parquet; same partitioning and
    predicate-pushdown behavior from Spark's native vectorized ORC
    reader/writer)."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table: rows are hash-partitioned into
    ``n_buckets`` files per partition BY THE WRITE, and every
    subsequent join/agg on ``bucket_cols`` between tables with the same
    bucketing reads co-located — no exchange at query time. The 100 TB
    pattern for fact-to-fact joins that repeat across a pipeline: pay
    the shuffle once at ingest, never again (demonstrated shuffle-free
    in ``tests/test_bucketing.py``). Bucket count is the parallelism
    floor for downstream scans — size it to the cluster, not the data.
    """
    (
        df.write.mode(mode)
        .bucketBy(n_buckets, *bucket_cols)
        .sortBy(*bucket_cols)
        .saveAsTable(table)
    )


def upsert_partitions(
    spark,
    df: DataFrame,
    path: str,
    partition_by: list[str],
) -> None:
    """Incremental load via dynamic partition overwrite — the standard
    Spark-native upsert at scale: only the partitions present in ``df``
    are replaced; all other partitions are untouched (no full-table
    rewrite, no merge engine needed). The granularity is the partition
    key (typically a date), which is exactly how a 100 TB event table
    takes daily restatements.
    """
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode",
                          "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            df.write.mode("overwrite")
            .partitionBy(*partition_by)
            .parquet(path)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def compact_parquet(
    spark,
    path: str,
    target_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-file compaction: rewrite a parquet directory into files
    sized near ``target_bytes`` — the table-maintenance pass that keeps
    scan parallelism healthy after many small incremental writes
    (thousands of KB-files turn a 100 TB scan into a metadata storm).

    File count is computed from the ACTUAL on-disk byte size (never a
    row-count guess), the rewrite is one coalesce-free repartition (a
    round-robin shuffle so output files are even), and the swap is
    atomic-per-directory via a temp dir + rename. Returns the new file
    count.
    """
    import glob
    import os
    import shutil

    on_disk = sum(
        os.path.getsize(f)
        for f in glob.glob(os.path.join(path, "**", "*.parquet"),
                           recursive=True)
    )
    n_files = max(1, -(-on_disk // target_bytes))
    tmp = path.rstrip("/") + "__compact_tmp"
    spark.read.parquet(path).repartition(n_files).write.mode(
        "overwrite"
    ).parquet(tmp)
    shutil.rmtree(path)
    os.rename(tmp, path)
    return n_files
