"""Lake-maintenance sinks: small-file compaction and clustered (sorted)
writes.

The two table-layout problems every parquet lake hits at 100 TB:

- **Small files.** Incremental upserts and streaming micro-batches produce
  files far below the ~128 MB sweet spot; each file costs a task + a footer
  read + an object-store request, so a million 1 MB files is 100× slower to
  scan than the same bytes in 8k files. ``compact_table`` rewrites a table
  (or one partition of it) to size-targeted files behind a staged swap.

- **No data-skipping.** Parquet row groups carry min/max stats, but they only
  prune if values are CLUSTERED — a random layout makes every file's range
  [global_min, global_max], so a point/range predicate still touches every
  file. ``clustered_write`` range-partitions on the cluster columns and sorts
  within partitions, giving near-disjoint per-file ranges so Catalyst's
  row-group pruning (and partition-file listing at the FileIndex level) can
  drop the untouched span. This is the plain-parquet analogue of
  Delta/Iceberg OPTIMIZE ... ZORDER for the single-column case.
"""

from __future__ import annotations

import math
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession

DEFAULT_TARGET_FILE_BYTES = 128 * 1024 * 1024


def _atomic_swap(new_dir: str, target_dir: str) -> None:
    """Replace target_dir with new_dir by two renames: the target moves
    aside, then the new dir takes its place. Between the renames the table
    is absent, so this suits offline maintenance, not the ETL's publish."""
    bak = f"{target_dir}.bak-{uuid.uuid4().hex[:8]}"
    if os.path.isdir(target_dir):
        os.rename(target_dir, bak)
    os.rename(new_dir, target_dir)
    if os.path.isdir(bak):
        shutil.rmtree(bak)


def table_file_stats(path: str) -> tuple[int, int]:
    """(n_parquet_files, total_bytes) under ``path`` (recursive)."""
    n, total = 0, 0
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                total += os.path.getsize(os.path.join(root, f))
    return n, total


def compact_table(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,
) -> tuple[int, int]:
    """Rewrite the table at ``path`` into ``ceil(size / target)`` files via a
    staged atomic swap. Returns (files_before, files_after).

    On a real lake this runs per-partition (compact only partitions whose
    small-file count crossed a threshold) — the whole-table form here is the
    unit the per-partition loop calls."""
    n_before, total = table_file_stats(path)
    n_target = max(1, math.ceil(total / target_file_bytes))
    df = spark.read.parquet(path)
    staging = f"{path}.compact-{uuid.uuid4().hex[:8]}"
    # coalesce, not repartition: compaction must not pay a full shuffle —
    # narrow concatenation of existing files into fewer tasks
    df.coalesce(n_target).write.mode("overwrite").parquet(staging)
    _atomic_swap(staging, path)
    n_after, _ = table_file_stats(path)
    return n_before, n_after


def clustered_write(
    df: DataFrame,
    path: str,
    cluster_cols: list[str],
    n_files: int | None = None,
) -> None:
    """Write ``df`` range-clustered on ``cluster_cols``: repartitionByRange
    (sampled range boundaries → near-equal file sizes) + sortWithinPartitions
    (monotone within each file) → every file covers a narrow, near-disjoint
    value range, so min/max row-group stats actually prune range predicates.
    """
    out = (
        df.repartitionByRange(n_files, *cluster_cols)
        if n_files
        else df.repartitionByRange(*cluster_cols)
    )
    out.sortWithinPartitions(*cluster_cols).write.mode("overwrite").parquet(path)
