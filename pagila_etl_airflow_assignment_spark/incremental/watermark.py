"""Watermark state table (SURVEY.md I-1): the engine-managed analog of the
reference's ``etl_watermarks`` Postgres table
(etl_script_incremental_pandas.py:58-66,89-95,276-284).

One row per process_name; read before a run, advanced only after the summary
write commits (crash-safe ordering, O-8). The half-open ``(prev, max]`` window
derived from it guarantees no gaps/overlaps across runs. The table is a few
rows, so it is read and written in the driver (incremental/upsert.py).

Timestamps are naive local datetimes on the Python side, as Spark's
``collect()`` returns them, and UTC instants in the file, as Spark writes
``TimestampType``.
"""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
from pyspark.sql.pandas.types import to_arrow_schema

from ..schemas import ETL_WATERMARKS
from .upsert import merge_upsert, read_parquet_table

# etl_script_incremental_pandas.py:10
DEFAULT_WATERMARK_START = dt.datetime(1900, 1, 1)

_SCHEMA = to_arrow_schema(ETL_WATERMARKS)


def naive_local(ts: dt.datetime) -> dt.datetime:
    """A timestamp read through Arrow (tz-aware UTC) as the naive local
    datetime Spark's ``collect()`` returns, so the two compare."""
    return ts.astimezone().replace(tzinfo=None)


class WatermarkStore:
    def __init__(self, state_dir: str):
        self.state_dir = state_dir

    def read(self, process_name: str) -> dt.datetime:
        """Previous watermark, or the 1900-01-01 default when absent
        (etl_script_incremental_pandas.py:95)."""
        table = read_parquet_table(self.state_dir)
        rows = {} if table is None else {
            r["process_name"]: r["last_successful_update_timestamp"]
            for r in table.to_pylist()
        }
        ts = rows.get(process_name)
        if ts is None:
            return DEFAULT_WATERMARK_START
        return naive_local(ts)

    def write(self, process_name: str, ts: dt.datetime) -> None:
        """Upsert keyed by process_name (ON CONFLICT DO UPDATE analog,
        etl_script_incremental_pandas.py:276-284)."""
        row = {
            "process_name": process_name,
            "last_successful_update_timestamp": ts.astimezone(dt.timezone.utc),
        }
        merge_upsert(
            self.state_dir,
            pa.Table.from_pylist([row], schema=_SCHEMA),
            key="process_name",
        )
