"""Keyed upsert for the ETL's small state tables (SURVEY.md A-5/A-6, O-7).

The reference keeps its state in two tiny Postgres tables written with
``INSERT ... ON CONFLICT DO UPDATE`` (etl_script_incremental_pandas.py:
249-267, 276-284): one summary row per week and one watermark row per
process. Both fit in the driver, so no Spark job touches them here:

    read the one file → drop rows whose key is in the updates → append the
    updates → write a hidden temp file → fsync → ``os.replace`` onto the
    table's fixed file name

``os.replace`` is atomic on POSIX, so a reader sees either the old table or
the new one, never a missing or half-written table. A crash before the
replace leaves only a hidden ``.tmp-*`` file, which Spark and pyarrow both
skip when they read the directory.
"""

from __future__ import annotations

import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq

# the one visible data file of a table directory
TABLE_FILE = "table.parquet"


def read_parquet_table(path: str) -> pa.Table | None:
    """The table at ``path`` read in the driver; None when it does not exist
    yet (A-3 existence probe)."""
    file = os.path.join(path, TABLE_FILE)
    if not os.path.exists(file):
        return None
    return pq.read_table(file)


def merge_upsert(target_dir: str, updates: pa.Table, key: str) -> int:
    """Upsert ``updates`` into the table at ``target_dir`` keyed by the one
    column ``key``: update rows replace existing rows with the same key,
    other rows survive.
    The table keeps ``updates.schema``. Returns the post-merge row count."""
    merged = updates
    existing = read_parquet_table(target_dir)
    if existing is not None:
        kept = existing.join(updates.select([key]), keys=key, join_type="left anti")
        merged = pa.concat_tables(
            [kept.select(updates.column_names).cast(updates.schema), updates]
        )
    os.makedirs(target_dir, exist_ok=True)
    tmp = os.path.join(target_dir, f".tmp-{uuid.uuid4().hex}.parquet")
    try:
        with open(tmp, "wb") as fh:
            pq.write_table(merged, fh, store_schema=False)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, os.path.join(target_dir, TABLE_FILE))
    except BaseException:
        if os.path.exists(tmp):
            os.remove(tmp)
        raise
    # make the rename itself durable before a later write (the watermark)
    # can depend on it
    dir_fd = os.open(target_dir, os.O_RDONLY)
    try:
        os.fsync(dir_fd)
    finally:
        os.close(dir_fd)
    return merged.num_rows
