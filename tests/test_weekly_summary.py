"""Differential tests for the flagship weekly rental summary (SURVEY.md §5 T1)."""

from __future__ import annotations

import datetime as dt

import pytest

from pagila_etl_airflow_assignment_spark.incremental import DEFAULT_WATERMARK_START
from pagila_etl_airflow_assignment_spark.sources.parquet import load_table
from pagila_etl_airflow_assignment_spark.sources.rental import (
    RENTAL_DUCKDB_SQL,
    rental_view,
)
from pagila_etl_airflow_assignment_spark.plans.weekly_summary import (
    OUTPUT_COLUMNS,
    oracle_weekly_summary_sql,
    week_pair_counts,
    weekly_rental_summary,
    weekly_rental_summary_sql,
    weekly_summary_from_pairs,
)

from conftest import SF_SMALL, assert_matches_oracle


@pytest.fixture(scope="module")
def rental(spark):
    return rental_view(load_table(spark, SF_SMALL, "orders"))


def test_rental_view_matches_duckdb_derivation(spark, ddb, rental):
    """The Spark and DuckDB rental derivations must agree row-for-row —
    the foundation every downstream oracle rests on."""
    assert_matches_oracle(rental, ddb, RENTAL_DUCKDB_SQL)


def test_rental_view_has_edge_rows(rental):
    """Fixture sanity: nullable returns exist and returns span multiple weeks."""
    from pyspark.sql import functions as F

    stats = rental.agg(
        F.count("*").alias("n"),
        F.sum(F.col("return_date").isNull().cast("int")).alias("n_open"),
        F.max(F.datediff(F.to_date("return_date"), F.to_date("rental_date"))).alias(
            "max_span_days"
        ),
    ).first()
    assert stats.n > 0
    assert 0 < stats.n_open < stats.n
    assert stats.max_span_days >= 28  # returns reach several weeks out


def test_weekly_summary_matches_reference_oracle(spark, ddb, rental):
    """Window formulation vs literal ref.sql correlated form in DuckDB."""
    result = weekly_rental_summary(rental)
    assert_matches_oracle(result, ddb, oracle_weekly_summary_sql())


def test_weekly_summary_with_as_of_matches_oracle(spark, ddb, rental):
    """as_of extends the spine past last activity (ref.sql:7 CURRENT_DATE)."""
    as_of = dt.date(1999, 6, 7)
    result = weekly_rental_summary(rental, as_of=as_of)
    assert_matches_oracle(result, ddb, oracle_weekly_summary_sql(as_of=as_of))


def test_window_form_equals_correlated_sql_form(spark, rental):
    """SURVEY.md §7 step 4: both Spark forms must produce identical rows."""
    a = weekly_rental_summary(rental).collect()
    b = weekly_rental_summary_sql(spark, rental).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


@pytest.mark.parametrize(
    "as_of, empty",
    [(None, False), (dt.date(1999, 6, 7), False), (None, True)],
    ids=["as_of-none", "as_of-1999-06-07", "empty-source"],
)
def test_driver_form_equals_spark_and_oracle(spark, ddb, rental, as_of, empty):
    """The driver formulation (one pair aggregate, summed in Python) equals
    the window plan and the literal ref.sql oracle, row for row."""
    src, rental_sql = rental, RENTAL_DUCKDB_SQL
    if empty:
        src = rental.where("false")
        rental_sql = f"SELECT * FROM ({RENTAL_DUCKDB_SQL}) WHERE false"
    pairs = week_pair_counts(src, since=DEFAULT_WATERMARK_START)
    driver = weekly_summary_from_pairs(pairs, as_of=as_of)
    assert driver.column_names == OUTPUT_COLUMNS
    got = list(zip(*driver.to_pydict().values()))
    assert got == [tuple(r) for r in weekly_rental_summary(src, as_of=as_of).collect()]
    oracle = oracle_weekly_summary_sql(as_of=as_of).replace(RENTAL_DUCKDB_SQL, rental_sql)
    assert got == ddb.sql(oracle).fetchall()
    assert (len(got) == 0) == empty


def test_weekly_summary_invariants(spark, rental):
    rows = weekly_rental_summary(rental).collect()
    # contiguous Monday spine
    for r in rows:
        assert r.week_beginning.weekday() == 0
    for prev, cur in zip(rows, rows[1:]):
        assert (cur.week_beginning - prev.week_beginning).days == 7
    # outstanding is the running sum of net change
    running = 0
    for r in rows:
        running += r.net_change_in_outstanding
        assert r.outstanding_rentals_at_week_end == running
