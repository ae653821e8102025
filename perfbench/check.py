"""Correctness oracles, run outside the timed region.

* ``weekly_summary_oracle``: an independent DuckDB evaluation of the
  reference query's semantics (``ref.sql``: week spine, rented / returned
  counts, correlated outstanding count at date granularity) over a rental
  snapshot's parquet files.
* ``rows_match``: order-insensitive comparison of two result sets, floats
  compared with a relative tolerance.
"""

from __future__ import annotations

import math

import duckdb

SUMMARY_COLUMNS = (
    "week_beginning",
    "newly_rented_during_week",
    "returned_rentals_during_week",
    "net_change_in_outstanding",
    "outstanding_rentals_at_week_end",
)

# target-table column for each summary column (FIXTURES.md section 3)
TARGET_COLUMNS = (
    "week_beginning",
    "newly_rented_during_week",
    "ReturnedRentals",
    "net_change_in_outstanding",
    "OutstandingRentals",
)

_REF_SQL = """
WITH rental AS (
    SELECT rental_id,
           CAST(rental_date AS TIMESTAMP) AS rental_date,
           CAST(return_date AS TIMESTAMP) AS return_date
    FROM read_parquet('{path}/*.parquet')
),
date_range AS (
    SELECT MIN(CAST(rental_date AS DATE)) AS min_date,
           MAX(COALESCE(CAST(return_date AS DATE), CAST(rental_date AS DATE))) AS max_date
    FROM rental
),
all_weeks AS (
    SELECT CAST(unnest(generate_series(
        DATE_TRUNC('week', (SELECT min_date FROM date_range)),
        DATE_TRUNC('week', (SELECT max_date FROM date_range)),
        INTERVAL 1 WEEK)) AS DATE) AS week_beginning
),
returned AS (
    SELECT CAST(DATE_TRUNC('week', return_date) AS DATE) AS w, COUNT(rental_id) AS n
    FROM rental WHERE return_date IS NOT NULL GROUP BY 1
),
rented AS (
    SELECT CAST(DATE_TRUNC('week', rental_date) AS DATE) AS w, COUNT(rental_id) AS n
    FROM rental GROUP BY 1
)
SELECT aw.week_beginning,
       COALESCE(rd.n, 0) AS newly_rented_during_week,
       COALESCE(rt.n, 0) AS returned_rentals_during_week,
       COALESCE(rd.n, 0) - COALESCE(rt.n, 0) AS net_change_in_outstanding,
       (SELECT COUNT(r.rental_id) FROM rental r
        WHERE CAST(r.rental_date AS DATE) <= aw.week_beginning + 6
          AND (r.return_date IS NULL
               OR CAST(r.return_date AS DATE) > aw.week_beginning + 6)
       ) AS outstanding_rentals_at_week_end
FROM all_weeks aw
LEFT JOIN returned rt ON aw.week_beginning = rt.w
LEFT JOIN rented rd ON aw.week_beginning = rd.w
ORDER BY aw.week_beginning
"""


def duckdb_connect(threads: int) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads = {int(threads)}")
    con.execute("SET TimeZone = 'UTC'")
    return con


def weekly_summary_oracle(con: duckdb.DuckDBPyConnection, table_dir: str) -> list[tuple]:
    """ref.sql semantics over the rental files in ``table_dir``, as rows in
    ``SUMMARY_COLUMNS`` order, sorted by week."""
    return [tuple(r) for r in con.sql(_REF_SQL.format(path=table_dir)).fetchall()]


def target_rows(table_dir: str) -> list[tuple]:
    """The incremental target table (without its audit column), read with
    pyarrow so the check never touches the Spark session under test."""
    import pyarrow.parquet as pq

    t = pq.read_table(table_dir, columns=list(TARGET_COLUMNS))
    return sorted(zip(*(t.column(c).to_pylist() for c in TARGET_COLUMNS)))


def _cell_eq(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def _sort_key(row: tuple) -> tuple:
    return tuple(
        (x is None, str(round(x, 6)) if isinstance(x, float) else str(x)) for x in row
    )


def rows_match(got: list[tuple], want: list[tuple]) -> bool:
    """Order-insensitive equality of two row lists."""
    if len(got) != len(want):
        return False
    for g, w in zip(sorted(got, key=_sort_key), sorted(want, key=_sort_key)):
        if len(g) != len(w) or not all(_cell_eq(x, y) for x, y in zip(g, w)):
            return False
    return True
