"""Parquet fixture readers.

Declarative `spark.read.parquet` scans so Catalyst gets predicate pushdown,
column pruning, and row-group skipping for free (SURVEY.md O-1/O-2). At 100 TB
the same call reads a partitioned lake path; nothing here assumes local files.

Every source with a fixed encoding (`rental` and every fixture table but
`events`) is read with its declared schema from `schemas.SOURCE_SCHEMAS`, so
the read runs no Spark job: an undeclared parquet read starts a schema-inference
job that re-reads file footers on every call. `events` is the one inferred
read, because its timestamp encoding varies and `normalize_event_ts` branches
on the inferred type.

`footer_maxima` answers "what is the max of these columns?" from the parquet
footers in the driver, with no Spark job, when the footers provably bound what
Spark reads (a bare scan of local files); the incremental runner uses it to
decide a no-change run without scanning.
"""

from __future__ import annotations

import os
from urllib.parse import urlparse
from urllib.request import url2pathname

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema

from ..schemas import SOURCE_SCHEMAS

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Runtime-settable confs the engine's reads depend on. The engine must behave
# under ANY caller's session (a bare Spark 4.x `getOrCreate()` has ANSI on, no
# nanos handling, machine-local timezone), so `load_table` self-heals these at
# read time instead of assuming session.build_session() ran:
#   - nanosAsLong: fixture `events.ts` is parquet TIMESTAMP(NANOS), which
#     vanilla Spark rejects with PARQUET_TYPE_ILLEGAL; read as long and let
#     normalize_event_ts truncate to microseconds (DuckDB-identical).
#   - UTC session tz: the engine's timestamps are naive-UTC (reference
#     "Simplified Timezone Handling"); pinning the tz makes TimestampType
#     round-trip through parquet byte-identically to the DuckDB oracle.
_RUNTIME_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
}


def ensure_read_confs(spark: SparkSession) -> None:
    """Set the runtime confs reads rely on (idempotent, safe on any session)."""
    for k, v in _RUNTIME_CONFS.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:
            pass  # never let a conf probe break a read on an exotic session


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table (TESTDATA.md) or the ``rental`` source as a
    DataFrame.

    A table named in ``schemas.SOURCE_SCHEMAS`` is read with that schema, so
    the read itself makes no Spark job; a file whose column types differ fails
    when scanned (e.g. PARQUET_COLUMN_DATA_TYPE_MISMATCH for a nanos-encoded
    rental) instead of returning other types. Any other name, ``events``
    included, is read with an inferred schema (one small Spark job per call).
    ``events`` is then normalised by ``normalize_event_ts``.
    """
    ensure_read_confs(spark)
    schema = SOURCE_SCHEMAS.get(name)
    reader = spark.read if schema is None else spark.read.schema(schema)
    df = reader.parquet(f"{sf_dir.rstrip('/')}/{name}.parquet")
    if name == "events":
        df = normalize_event_ts(df)
    return df


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize `events.ts` to canonical TimestampType whatever the on-disk
    encoding. The fixture has shipped as parquet TIMESTAMP(NANOS) (read as raw
    long nanos under session.py nanosAsLong) and as TIMESTAMP(MICROS,
    isAdjustedToUTC=false) (read as TIMESTAMP_NTZ); lake producers vary the
    same way, so ingestion must accept ANY of nanos / micros-NTZ / micros-UTC
    and emit one canonical type. Mirrors the reference's
    normalize-whatever-arrives timestamps (etl.py:105-108). The NTZ cast
    reinterprets wall-clock in the session tz, which ensure_read_confs pins to
    UTC — identical instants to DuckDB's naive-UTC read."""
    from pyspark.sql import functions as F

    dtype = dict(df.dtypes).get("ts")
    if dtype == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif dtype == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def events_stream(spark: SparkSession, events_path: str) -> DataFrame:
    """`readStream` over the events fixture with the schema probed from the
    actual files — never a hardcoded encoding-era schema. The one batch
    metadata read costs a footer fetch; hardcoding the schema instead is how
    a fixture encoding flip silently corrupts every streaming query."""
    ensure_read_confs(spark)
    schema = spark.read.parquet(events_path).schema
    return normalize_event_ts(spark.readStream.schema(schema).parquet(events_path))


def footer_maxima(df: DataFrame, columns: list[str]) -> dict | None:
    """The max of each of ``columns`` over ``df``, read with pyarrow from its
    parquet footers in the driver, so no Spark job runs. A column whose
    values are all null maps to None.

    None unless the footers bound what Spark would read, which is checked,
    not assumed:

    - ``df`` is a bare file scan: its analyzed plan is one ``LogicalRelation``
      (a filter, projection or derived view declines), over local ``file:``
      paths only (object stores decline);
    - every file's Arrow schema has exactly the names and types of
      ``to_arrow_schema(df.schema)``, so Spark reads it with no conversion
      (INT96 as Spark writes it, micros without a UTC zone, nanos and
      millis all decline);
    - every non-empty row group has min/max statistics for each column; a
      chunk whose values are all null has none and is skipped.

    INT64 min/max statistics are exact, so a max read here equals the
    aggregate ``max`` over the same files."""
    plan = df._jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() != "LogicalRelation":
        return None
    files = df.inputFiles()
    if not files or not all(f.startswith("file:") for f in files):
        return None
    shape = lambda schema: [(field.name, field.type) for field in schema]
    want = shape(to_arrow_schema(df.schema))
    maxima: dict = dict.fromkeys(columns)
    for f in files:
        try:
            pf = pq.ParquetFile(url2pathname(urlparse(f).path))
        except (OSError, pa.ArrowException):
            return None
        if shape(pf.schema_arrow) != want:
            return None
        meta = pf.metadata
        leaf = {meta.schema.column(j).path: j for j in range(meta.num_columns)}
        for i in range(meta.num_row_groups):
            group = meta.row_group(i)
            if group.num_rows == 0:
                continue
            for c in columns:
                stats = group.column(leaf[c]).statistics
                if stats is not None and stats.has_min_max:
                    top = stats.max
                    maxima[c] = top if maxima[c] is None else max(maxima[c], top)
                elif not (stats is not None and stats.has_null_count
                          and stats.null_count == group.num_rows):
                    return None
    return maxima


def spread(df: DataFrame) -> DataFrame:
    """Fan a narrow scan out across cores before CPU-heavy per-row work.

    A small parquet file is one input split (row groups don't subdivide), so
    a CPU-bound transform chain — shingling, rolling hashes, signature
    builds, Arrow-batch UDFs — would serialize on a single core no matter
    how many the session has (optimization guide §2.5, "one huge
    unsplittable file ... repartition immediately after the read"). When the
    scan's estimated split count is below the session's default parallelism,
    a round-robin exchange to that parallelism costs one pass over a small
    input and buys full-cluster parallelism for everything downstream. At
    lake scale inputs already arrive in hundreds of splits and this is a
    no-op: the gate estimates the planned scan partitioning from file sizes
    and runs no Spark job.

    Opt in per call site, never blanket: for cheap scan-side compute the
    exchange is a pure loss (measured +0.2-0.5 s on sub-second aggregate
    queries at sf0.1; applied after every scan of the 628-query registry,
    387 cheap-scan queries regressed by +272 s in total). Use it directly
    on a ``load_table`` scan, and ONLY on pipelines that consume the input
    once before their first shuffle: each plan reference re-executes the
    exchange (exchange reuse is unreliable across repartition+self-join
    diamonds), and materializing the input instead (localCheckpoint) was
    measured strictly worse — full-row block storage of document payloads
    costs more than re-scanning parquet.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if _estimated_scan_partitions(df) >= target:
        return df
    return df.repartition(target)


def _byte_string_as_bytes(conf: str) -> int:
    """Parse a Spark size conf ('128m', '1g', '134217728b', bare bytes) the way
    JavaUtils.byteStringAsBytes does. Digit-stripping is NOT equivalent: it
    reads '128m' as 128 bytes, inflating the split estimate so spread()
    silently no-ops on sessions configured with unit suffixes."""
    s = conf.strip().lower()
    units = {"b": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40, "p": 1 << 50}
    if s.endswith("b") and len(s) > 1 and s[-2] in units and s[-2] != "b":
        s = s[:-1]  # accept 'kb'/'mb'/'gb' like JavaUtils
    mult = 1
    if s and s[-1] in units:
        mult, s = units[s[-1]], s[:-1]
    try:
        return int(s) * mult
    except ValueError:
        return 134217728  # Spark's default 128m


def _estimated_scan_partitions(df: DataFrame) -> int:
    """Planned scan parallelism without converting the plan to an RDD (that
    bridge cost 24-41 ms of driver time per call on fixture tables, 4 vCPU,
    local[4], and can materialise stages under AQE). `inputFiles()` is
    analysis-only; splits are estimated from local file sizes against
    `spark.sql.files.maxPartitionBytes`. Non-local or unstatable files
    (object stores) count 1 split each, which at lake scale (hundreds of
    files) already clears the target → spread() is the intended no-op there.
    A plan with no input files estimates 0, so spread() repartitions it,
    which is still correct."""
    import math

    try:
        files = df.inputFiles()
    except Exception:
        files = []
    conf = df.sparkSession.conf.get(
        "spark.sql.files.maxPartitionBytes", "134217728b"
    )
    max_bytes = _byte_string_as_bytes(str(conf))
    est = 0
    for f in files:
        path = f[len("file:"):] if f.startswith("file:") else f
        try:
            size = os.path.getsize(path)
        except OSError:
            size = 0
        est += max(1, math.ceil(size / max_bytes)) if size else 1
    return est
