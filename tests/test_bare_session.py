"""Driver-environment robustness: every registered query must EXECUTE under a
session with NONE of the engine's configs (the driver's correctness harness
uses a bare ``SparkSession.builder.getOrCreate()`` — Spark 4.x: ANSI mode ON,
no ``nanosAsLong``, machine-local timezone).

Round-1 lesson (CORRECTNESS_r01.json): 10 queries err'd on the driver despite
an all-green local verify, because the engine only behaved under its own
``build_session()``. ``sources.parquet.load_table`` now self-heals the two
read-critical confs at read time; query code must be ANSI-proof by
construction (``try_to_timestamp``, no bare string→numeric casts of dirty
data). This test simulates the driver's session by flipping the engine
session's runtime confs to the bare defaults, then running the full registry.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

import pytest

from pagila_etl_airflow_assignment_spark.registry import queries

from conftest import CATALOG_WORKERS

SF = "/root/testdata/sf0.001"

# Confs the driver's bare session would NOT have. ANSI defaults ON in Spark 4;
# nanosAsLong is absent (load_table must set it); tz is machine-local (pin to
# a non-UTC zone so the test proves load_table re-pins UTC, not that the rig
# happens to be UTC).
_BARE = {
    "spark.sql.ansi.enabled": "true",
    "spark.sql.session.timeZone": "America/New_York",
}
_UNSET = ["spark.sql.legacy.parquet.nanosAsLong"]


@pytest.fixture()
def bare_spark(spark):
    saved = {k: spark.conf.get(k, None) for k in list(_BARE) + _UNSET}
    for k, v in _BARE.items():
        spark.conf.set(k, v)
    for k in _UNSET:
        try:
            spark.conf.unset(k)
        except Exception:
            pass
    yield spark
    for k, v in saved.items():
        if v is None:
            try:
                spark.conf.unset(k)
            except Exception:
                pass
        else:
            spark.conf.set(k, v)


def test_all_registered_queries_execute_on_bare_session(bare_spark):
    def run(item):
        name, fn = item
        # re-impose bareness each round: load_table self-heals nanos/tz, which
        # is exactly the behavior under test, but ANSI must stay on throughout
        bare_spark.conf.set("spark.sql.ansi.enabled", "true")
        try:
            n = fn(bare_spark, SF).count()
            assert n >= 0
        except Exception as e:  # collect all failures, report once
            return name, f"{type(e).__name__}: {str(e)[:300]}"
        return name, None

    # a few queries at a time (see conftest.CATALOG_WORKERS)
    with ThreadPoolExecutor(CATALOG_WORKERS) as pool:
        failures = {n: err for n, err in pool.map(run, queries().items()) if err}
    assert not failures, f"queries failing under a bare driver session: {failures}"


def test_load_table_self_heals_nanos_and_tz(bare_spark):
    from pagila_etl_airflow_assignment_spark.sources.parquet import load_table

    df = load_table(bare_spark, SF, "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    assert df.count() > 0
    assert (
        bare_spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    )
    assert bare_spark.conf.get("spark.sql.session.timeZone") == "UTC"
