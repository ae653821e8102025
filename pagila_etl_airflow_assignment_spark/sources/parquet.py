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
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..schemas import FIXTURE_TABLES, SOURCE_SCHEMAS

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


def load_table(
    spark: SparkSession, sf_dir: str, name: str, parallelize: bool = False
) -> DataFrame:
    """Load one fixture table (TESTDATA.md) or the ``rental`` source as a
    DataFrame.

    A table named in ``schemas.SOURCE_SCHEMAS`` is read with that schema, so
    the read itself makes no Spark job; a file whose column types differ fails
    when scanned (e.g. PARQUET_COLUMN_DATA_TYPE_MISMATCH for a nanos-encoded
    rental) instead of returning other types. Any other name, ``events``
    included, is read with an inferred schema (one small Spark job per call).

    ``parallelize=True`` is the unsplittable-input fix (optimization guide
    §2.5 "one huge unsplittable file ... repartition immediately after the
    read"): the fixture tables are single-row-group parquet files, so the
    scan — and every narrow transformation chained onto it — runs as ONE
    task no matter how many cores the session has. Queries whose dominant
    cost is per-row compute on the scan side (regex normalization, shingle
    explosion, embedding-array arithmetic) opt in; a round-robin exchange of
    the (small) payload buys an n_cores-way parallel compute chain.

    The knob is deliberately opt-in per call site, not blanket: for cheap
    scan-side compute the extra exchange is a pure loss (measured +0.2-0.5 s
    on sub-second aggregate queries at sf0.1). It is also scale-adaptive: the
    repartition fires only when the scan's split count is BELOW the session's
    default parallelism, so on a real lake layout (many files / row groups,
    splits >= cores) it is a no-op and no payload shuffle is added.
    """
    ensure_read_confs(spark)
    schema = SOURCE_SCHEMAS.get(name)
    reader = spark.read if schema is None else spark.read.schema(schema)
    df = reader.parquet(f"{sf_dir.rstrip('/')}/{name}.parquet")
    if name == "events":
        df = normalize_event_ts(df)
    if parallelize:
        par = spark.sparkContext.defaultParallelism
        if df.rdd.getNumPartitions() < par:
            df = df.repartition(par)
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


SPREAD_ENABLED = True


def spread(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Fan a narrow scan out across cores before CPU-heavy per-row work.

    A small parquet file is one input split (row groups don't subdivide), so
    a CPU-bound transform chain — shingling, rolling hashes, signature
    builds, Arrow-batch UDFs — would serialize on a single core no matter
    how many the session has. At lake scale inputs already arrive in
    hundreds of splits and this is a pure no-op (the gate checks the planned
    scan partitioning, never forcing an exchange on data that is already
    parallel). When it does fire, the round-robin exchange costs one pass
    over a small input and buys full-cluster parallelism for everything
    downstream.

    Use ONLY on pipelines that consume the input once before their first
    shuffle: each plan reference re-executes the exchange (exchange reuse is
    unreliable across repartition+self-join diamonds), and materializing the
    input instead (localCheckpoint) was measured strictly worse — full-row
    block storage of document payloads costs more than re-scanning parquet.
    """
    if not SPREAD_ENABLED:
        return df
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
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
    """Planned scan parallelism WITHOUT the `df.rdd` bridge (which forces the
    whole plan through RDD conversion on every call — measurable per-query
    driver cost). `inputFiles()` is analysis-only; splits are estimated from
    local file sizes against `spark.sql.files.maxPartitionBytes`. Non-local
    or unstatable files (object stores) count 1 split each, which at lake
    scale (hundreds of files) already clears the target → spread() is the
    intended no-op there."""
    import math

    try:
        files = df.inputFiles()
    except Exception:
        files = []
    if not files:
        # non-scan plan (in-memory df, post-shuffle): fall back to the exact
        # count; rare — spread() is documented for use directly on scans
        return df.rdd.getNumPartitions()
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


def load_tables(spark: SparkSession, sf_dir: str, names=FIXTURE_TABLES) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}


def register_views(spark: SparkSession, sf_dir: str, names=FIXTURE_TABLES) -> None:
    """Register each fixture as a temp view for `spark.sql` pipelines."""
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)
