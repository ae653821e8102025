"""Ingestion is encoding-agnostic BY CONTRACT: the same events data written as
parquet TIMESTAMP(NANOS), TIMESTAMP(MICROS) NTZ, and TIMESTAMP(MICROS) UTC
must produce identical results through both the batch loader and a streaming
query. The fixture has already flipped encodings once between rounds
(nanos -> micros-NTZ) and silently broke every timestamp consumer; this test
is what catches the next flip before the driver does."""

from __future__ import annotations

import datetime as dt
import glob
import os
import shutil
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pagila_etl_airflow_assignment_spark.plans.weekly_summary import (
    weekly_rental_summary,
)
from pagila_etl_airflow_assignment_spark.schemas import FIXTURE_TABLES, SOURCE_SCHEMAS
from pagila_etl_airflow_assignment_spark.sources.parquet import (
    ensure_read_confs,
    load_table,
)
from pagila_etl_airflow_assignment_spark.streaming.aggregations import (
    hourly_event_counts,
    streaming_hourly_event_counts,
)

from conftest import SF_SMALL, rental_arrow

ENCODINGS = ("nanos", "micros_ntz", "micros_utc")


def _events_arrow(ts_type: pa.DataType) -> pa.Table:
    base = dt.datetime(2024, 3, 1, 0, 0, 0)
    n = 240
    rows = {
        "event_id": list(range(n)),
        "ts": [base + dt.timedelta(minutes=7 * i) for i in range(n)],
        "user_id": [i % 5 for i in range(n)],
        "event_type": [("click", "view", "purchase")[i % 3] for i in range(n)],
        "value": [round(i * 0.25, 2) for i in range(n)],
        "props": ["{}"] * n,
    }
    schema = pa.schema(
        [
            ("event_id", pa.int64()),
            ("ts", ts_type),
            ("user_id", pa.int64()),
            ("event_type", pa.string()),
            ("value", pa.float64()),
            ("props", pa.string()),
        ]
    )
    return pa.Table.from_pydict(rows, schema=schema)


@pytest.fixture(scope="module")
def encoded_dirs():
    """One directory per on-disk timestamp encoding, same logical data."""
    dirs = {}
    types = {
        "nanos": pa.timestamp("ns"),
        "micros_ntz": pa.timestamp("us"),
        "micros_utc": pa.timestamp("us", tz="UTC"),
    }
    for name, ts_type in types.items():
        d = tempfile.mkdtemp(prefix=f"events-{name}-")
        # version 2.6 preserves nanos as parquet TIMESTAMP(NANOS) instead of
        # silently coercing to micros — that is the legacy fixture encoding
        pq.write_table(
            _events_arrow(ts_type), f"{d}/events.parquet", version="2.6"
        )
        dirs[name] = d
    yield dirs
    for d in dirs.values():
        shutil.rmtree(d, ignore_errors=True)


def test_batch_load_identical_across_encodings(spark, encoded_dirs):
    collected = {}
    for name, d in encoded_dirs.items():
        df = load_table(spark, d, "events")
        assert dict(df.dtypes)["ts"] == "timestamp", (
            f"{name}: loader must canonicalize ts to TimestampType, "
            f"got {dict(df.dtypes)['ts']}"
        )
        collected[name] = sorted(tuple(r) for r in df.collect())
    ref = collected["micros_ntz"]
    assert ref[0][1] == dt.datetime(2024, 3, 1, 0, 0, 0), (
        "absolute instants shifted — tz reinterpretation bug, not just skew"
    )
    for name in ENCODINGS:
        assert collected[name] == ref, f"{name} batch read diverges"


def test_streaming_query_identical_across_encodings(spark, encoded_dirs):
    outs = {}
    for name, d in encoded_dirs.items():
        q = (
            streaming_hourly_event_counts(spark, d)
            .writeStream.format("memory")
            .queryName(f"enc_{name}")
            .outputMode("complete")
            .trigger(availableNow=True)
            .option(
                "checkpointLocation", tempfile.mkdtemp(prefix=f"ckpt-enc-{name}-")
            )
            .start()
        )
        q.awaitTermination(120)
        outs[name] = sorted(tuple(r) for r in spark.table(f"enc_{name}").collect())
    want = sorted(
        tuple(r)
        for r in hourly_event_counts(
            load_table(spark, encoded_dirs["micros_ntz"], "events")
        ).collect()
    )
    assert len(want) > 0
    for name in ENCODINGS:
        assert outs[name] == want, f"{name} streaming result diverges"


# Every other source is read with a declared schema (schemas.SOURCE_SCHEMAS):
# each fixture declaration must equal what Spark infers from the files, and the
# rental source accepts both micros encodings but rejects nanos.
DECLARED_FIXTURES = [t for t in FIXTURE_TABLES if t in SOURCE_SCHEMAS]
SF_DIRS = sorted(glob.glob(os.path.join(os.path.dirname(SF_SMALL), "sf*")))


@pytest.mark.parametrize("table", DECLARED_FIXTURES)
@pytest.mark.parametrize("sf_dir", SF_DIRS, ids=os.path.basename)
def test_declared_schema_matches_files(spark, sf_dir, table):
    """A declared read must return exactly the types inference would: same
    names, order and types (nullability aside, since file reads are always
    nullable)."""
    ensure_read_confs(spark)
    inferred = spark.read.parquet(f"{sf_dir}/{table}.parquet").schema
    shape = lambda schema: [(f.name, f.dataType.simpleString()) for f in schema.fields]
    assert shape(SOURCE_SCHEMAS[table]) == shape(inferred)


RENTAL_ENCODINGS = {
    "micros_utc": pa.timestamp("us", tz="UTC"),
    "micros_ntz": pa.timestamp("us"),
    "nanos": pa.timestamp("ns"),
}


@pytest.fixture(scope="module")
def rental_dirs():
    dirs = {}
    for name, ts_type in RENTAL_ENCODINGS.items():
        d = tempfile.mkdtemp(prefix=f"rental-{name}-")
        pq.write_table(rental_arrow(ts_type), f"{d}/rental.parquet", version="2.6")
        dirs[name] = d
    yield dirs
    for d in dirs.values():
        shutil.rmtree(d, ignore_errors=True)


def test_rental_micros_encodings_load_identically(spark, rental_dirs):
    rows, summaries = {}, {}
    for name in ("micros_utc", "micros_ntz"):
        df = load_table(spark, rental_dirs[name], "rental")
        assert df.dtypes == [
            ("rental_id", "bigint"),
            ("rental_date", "timestamp"),
            ("return_date", "timestamp"),
            ("last_update", "timestamp"),
        ], name
        rows[name] = sorted(tuple(r) for r in df.collect())
        summaries[name] = [
            tuple(r) for r in weekly_rental_summary(df, as_of=dt.date(2024, 1, 24)).collect()
        ]
    assert rows["micros_ntz"][0][1] == dt.datetime(2024, 1, 1), "instants shifted"
    assert rows["micros_ntz"] == rows["micros_utc"]
    assert summaries["micros_ntz"] == summaries["micros_utc"]
    assert [r[0] for r in summaries["micros_ntz"]] == [
        dt.date(2024, 1, 1),
        dt.date(2024, 1, 8),
        dt.date(2024, 1, 15),
        dt.date(2024, 1, 22),
    ]


def test_rental_nanos_encoding_is_rejected(spark, rental_dirs):
    """Inference would read nanos as bigint and the summary would silently
    bucket epoch nanoseconds; the declared read fails on the scan instead."""
    with pytest.raises(Exception, match="PARQUET_COLUMN_DATA_TYPE_MISMATCH"):
        load_table(spark, rental_dirs["nanos"], "rental").collect()
