"""SQL-generation-level tests for the JDBC writer twin (Postgres is not
installable here; the statement TEXT is the testable surface — column quoting
must match the reference's etl_script_incremental_pandas.py:250-259 exactly)."""

from __future__ import annotations

from pagila_etl_airflow_assignment_spark.sources.jdbc import (
    SUMMARY_COLUMNS,
    quote_ident,
    upsert_statement,
)


def test_quote_ident_matches_reference_style():
    # camel-case columns are quoted, snake_case bare (Postgres folds unquoted
    # identifiers to lowercase, so the reference MUST quote these two)
    assert quote_ident("OutstandingRentals") == '"OutstandingRentals"'
    assert quote_ident("ReturnedRentals") == '"ReturnedRentals"'
    assert quote_ident("week_beginning") == "week_beginning"
    assert quote_ident("newly_rented_during_week") == "newly_rented_during_week"


def test_upsert_statement_matches_reference_shape():
    sql = upsert_statement()
    assert sql.startswith("INSERT INTO weekly_rental_summary (")
    # insert column list: all five + audit, camel-case quoted
    assert (
        'week_beginning, "OutstandingRentals", "ReturnedRentals", '
        "newly_rented_during_week, net_change_in_outstanding, last_updated" in sql
    )
    assert "VALUES (%s, %s, %s, %s, %s, CURRENT_TIMESTAMP)" in sql
    assert "ON CONFLICT (week_beginning) DO UPDATE SET" in sql
    assert '"OutstandingRentals" = EXCLUDED."OutstandingRentals"' in sql
    assert '"ReturnedRentals" = EXCLUDED."ReturnedRentals"' in sql
    assert "newly_rented_during_week = EXCLUDED.newly_rented_during_week" in sql
    assert "last_updated = CURRENT_TIMESTAMP" in sql
    # the conflict key is never updated
    assert "week_beginning = EXCLUDED" not in sql


def test_upsert_statement_parameter_count():
    sql = upsert_statement()
    assert sql.count("%s") == len(SUMMARY_COLUMNS)


# --- JDBC delta-read contract (round 10) -----------------------------------------------
#
# read_rental_delta cannot execute here (no Postgres, no JDBC driver jar), but
# its entire observable contract — format, the pushdown subquery text, the
# partitioning and credential options — is what it hands the DataFrameReader.
# A duck-typed reader records that handoff.


class _FakeReader:
    def __init__(self):
        self.fmt = None
        self.opts = {}

    def format(self, fmt):
        self.fmt = fmt
        return self

    def option(self, k, v):
        self.opts[k] = v
        return self

    def load(self):
        return ("loaded", self.fmt, dict(self.opts))


class _FakeSpark:
    @property
    def read(self):
        return _FakeReader()


def test_read_rental_delta_contract():
    import datetime as dt

    from pagila_etl_airflow_assignment_spark.sources.jdbc import read_rental_delta

    lo = dt.datetime(2024, 1, 1, 0, 0, 0)
    hi = dt.datetime(2024, 1, 8, 0, 0, 0)
    tag, fmt, opts = read_rental_delta(
        _FakeSpark(), "jdbc:postgresql://db:5432/pagila", lo, hi,
        user="etl", password="s3cret", num_partitions=4,
    )
    assert (tag, fmt) == ("loaded", "jdbc")
    assert opts["url"] == "jdbc:postgresql://db:5432/pagila"
    sub = opts["dbtable"]
    # exactly the four engine columns, projected database-side (B-1)
    assert "SELECT rental_id, rental_date, return_date, last_update" in sub
    # half-open watermark range rides the subquery so Postgres prunes (B-2)
    assert "last_update > '2024-01-01 00:00:00'" in sub
    assert "last_update <= '2024-01-08 00:00:00'" in sub
    assert opts["pushDownPredicate"] == "true"
    assert opts["numPartitions"] == "4"
    assert opts["user"] == "etl" and opts["password"] == "s3cret"


def test_read_rental_delta_omits_absent_credentials():
    import datetime as dt

    from pagila_etl_airflow_assignment_spark.sources.jdbc import read_rental_delta

    _, _, opts = read_rental_delta(
        _FakeSpark(), "jdbc:postgresql://db/pagila",
        dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 2),
    )
    assert "user" not in opts and "password" not in opts
