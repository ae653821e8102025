"""SparkSession factory with the engine's canonical configuration.

The reference treats all timestamps as naive-UTC ("Simplified Timezone Handling",
etl_script_incremental_pandas.py:29,105-108); we pin the session to UTC so
TimestampType round-trips faithfully through Parquet and matches the DuckDB oracle
(SURVEY.md §1.4).

Scale posture (SURVEY.md §4, O-12/O-13): AQE on (runtime re-planning, skew-join
splitting, partition coalescing), broadcast threshold left at default so small
dimension/spine joins become broadcast-hash joins automatically, Arrow enabled for
the few Pandas-UDF paths (llm.*).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Default parallelism knobs. On the test rig this is local[32]; on a real cluster
# the caller overrides master/shuffle partitions (rule of thumb: 2-3x total cores,
# and at 100 TB let AQE coalesce from a high initial number).
DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def build_session(
    app_name: str = "pagila-spark-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the canonical engine session.

    UTC-pinned, AQE-enabled, Arrow-enabled. ANSI mode stays off so
    ``to_timestamp`` parse failures yield NULL, matching the reference's
    ``pd.to_datetime(errors='coerce')`` (etl_script_incremental_pandas.py:134-135,
    SURVEY.md H-12).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # tolerate LEGACY parquet TIMESTAMP(NANOS) files (vanilla Spark rejects
        # them): read as long, then sources.parquet.normalize_event_ts truncates
        # to µs. Harmless for micros/NTZ encodings — normalization is dtype-
        # driven, so any of nanos / micros-NTZ / micros-UTC ingests identically.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _quiet_known_benign_warnings(spark)
    return spark


def release_session_state(spark: SparkSession) -> None:
    """Unpin the PREVIOUS query's session garbage so a measurement harness
    (bench.py, tools/opt_probe.py) does not charge query N for queries
    1..N-1 (round-10/11 measurement hygiene; one shared implementation per
    ADVICE.md round 10 so the two harness copies cannot drift).

    Invariant this relies on: NO persisted state is referenced across query
    boundaries — every query computes cold from the parquet inputs, and the
    localCheckpoint RDDs a query pins live only within that query's
    execution. Unpersisting a localCheckpointed RDD destroys its only copy
    (lineage is truncated), so any DataFrame held across a query boundary
    would fail with a missing-block error; nothing in the engine does that,
    and the bench protocol forbids it.

    What is released, and why (round-10 finding: late-run queries measured
    2-7x their isolated cost before this):
    - persistent RDD blocks (iterative queries' localCheckpoints stay pinned
      until their Python references are collected);
    - the SQL cache (empty by policy — ``clearCache`` is a cheap assert);
    - a Python GC so py4j proxies drop their JVM references, then a JVM GC so
      the ContextCleaner processes the newly weakly-reachable RDDs,
      broadcasts and shuffle registrations (shuffle files and broadcast
      blocks are only deleted when the cleaner sees the GC'd reference)."""
    try:
        it = spark.sparkContext._jsc.getPersistentRDDs().values().iterator()
        while it.hasNext():
            it.next().unpersist(False)
    except Exception:
        pass  # JVM bridge quirk: stale blocks only delay cleanup, and nothing
        # may reference persisted state across queries anyway (see above)
    try:
        spark.catalog.clearCache()
    except Exception:
        pass
    import gc

    gc.collect()
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:
        pass


def _quiet_known_benign_warnings(spark: SparkSession) -> None:
    """Raise the log level of WindowExec only.

    Every unpartitioned window in the engine runs over a spine/aggregate
    relation that is tiny BY CONSTRUCTION (e.g. a week spine, one row per
    week), yet WindowExec logs a per-query "No Partition Defined ... serious
    performance degradation" warning that buries real warnings in
    bench/verify logs. Fact-table windows in this engine are
    always partitioned (pinned by tests/test_plans.py), so silencing this one
    logger hides no genuine scale hazard."""
    try:
        jvm = spark.sparkContext._jvm
        logger = jvm.org.apache.logging.log4j.LogManager.getLogger(
            "org.apache.spark.sql.execution.window.WindowExec"
        )
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            logger.getName(), jvm.org.apache.logging.log4j.Level.ERROR
        )
    except Exception:
        pass  # log4j1 or restricted JVM gateway: warning stays, engine works
