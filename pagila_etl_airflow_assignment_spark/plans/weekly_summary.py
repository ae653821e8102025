"""Flagship query: the weekly rental summary (full recompute).

Semantics are reference_query.sql:1-57 (the reference's declared oracle), with
the SURVEY.md §2.X decisions baked in:

- date-granularity week membership (cast to date before comparing — ref.sql:44,47);
- Monday-start weeks (DATE_TRUNC('week'), ref.sql:15-16,22,30 — Spark matches);
- the nondeterministic CURRENT_DATE (ref.sql:7) is parameterized as ``as_of``;
  ``as_of=None`` means "max activity date in the data" for deterministic tests.

Three implementations:

``weekly_rental_summary``      — idiomatic Spark: one scan for weekly counts, a
    broadcast-joined week spine, and outstanding-at-week-end as a cumulative
    window (SURVEY.md C-2 Option 2) — O(n + weeks) instead of the reference's
    O(weeks x n) correlated rescan (etl_script_incremental_pandas.py:218-243).
    At 100 TB the heavy work is two partial+final hash aggregations over the
    fact table; the window runs over the tiny week spine only.

``weekly_rental_summary_sql``  — the literal correlated-subquery form of
    ref.sql:40-49 via spark.sql; Catalyst decorrelates it into a join+agg
    (SURVEY.md O-11). Kept for parity; a test asserts both forms agree.

``week_pair_counts`` + ``weekly_summary_from_pairs`` — the incremental
    runner's form: ONE fact-table aggregate, grouped by (rental week, return
    week) and collected to the driver as Arrow, then summed in plain Python.
    The pair table has at most weeks x return-lag-weeks rows whatever the
    source size (518 rows for the benchmark's 200k-row source), and it also
    carries what the runner needs besides the summary: per-pair counts of
    rows changed since the watermark and the max ``last_update``.

Why the cumulative window is equivalent to ref.sql's correlated count: for a
spine week W with week_end = W+6d (a Sunday),

    rental_date::date <= week_end  <=>  date_trunc('week', rental_date) <= W
    return_date::date  > week_end  <=>  date_trunc('week', return_date)  > W

so  outstanding(W) = #{rented in weeks <= W} - #{returned in weeks <= W},
i.e. cumsum(newly_rented) - cumsum(returned) along the spine. The driver form
takes the same prefix sum; since week truncation is monotone, its spine runs
from min(rental week) to max(return week, or for an open rental
max(rental week, week of ``as_of``)), exactly the all_weeks bounds.
"""

from __future__ import annotations

import datetime as dt
from collections import Counter
from itertools import accumulate

import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..sources.rental import RENTAL_DUCKDB_SQL

OUTPUT_COLUMNS = [
    "week_beginning",
    "newly_rented_during_week",
    "returned_rentals_during_week",
    "net_change_in_outstanding",
    "outstanding_rentals_at_week_end",
]


def _week(col) -> F.Column:
    """Monday-start week truncation to DATE (ref.sql:22,30; SURVEY.md H-1)."""
    return F.date_trunc("week", col).cast("date")


def week_spine(rental: DataFrame, as_of: dt.date | None = None) -> DataFrame:
    """The all_weeks CTE (ref.sql:12-19): one row per Monday from the week of the
    earliest rental to the week of the latest activity (or ``as_of`` for open
    rentals), inclusive.

    Built as a 1-row aggregate exploded through ``sequence`` — no driver
    round-trip, and the generator matches GENERATE_SERIES' stop-inclusive
    semantics (SURVEY.md H-3).
    """
    rental_d = F.to_date("rental_date")
    return_d = F.to_date("return_date")
    # ref.sql:4-9 with CURRENT_DATE -> as_of; as_of=None degrades to the max
    # activity date (deterministic; SURVEY.md §2.X item 2).
    open_rental_val = (
        F.greatest(rental_d, F.lit(as_of)) if as_of is not None else rental_d
    )
    bounds = rental.agg(
        _week(F.min(rental_d)).alias("start_week"),
        _week(
            F.max(F.when(return_d.isNotNull(), return_d).otherwise(open_rental_val))
        ).alias("end_week"),
    )
    return bounds.select(
        F.explode(
            F.sequence("start_week", "end_week", F.expr("INTERVAL 1 WEEK"))
        ).alias("week_beginning")
    )


def weekly_rental_summary(rental: DataFrame, as_of: dt.date | None = None) -> DataFrame:
    """Full-recompute weekly summary, ref.sql semantics, window formulation."""
    rented = rental.groupBy(_week("rental_date").alias("week_beginning")).agg(
        F.count("rental_id").alias("rented_cnt")
    )
    returned = (
        rental.where(F.col("return_date").isNotNull())
        .groupBy(_week("return_date").alias("week_beginning"))
        .agg(F.count("rental_id").alias("returned_cnt"))
    )
    spine = week_spine(rental, as_of)

    # Both count sides are <= one row per week — broadcast joins under AQE; the
    # spine is the build side of nothing heavy.
    joined = (
        spine.join(rented, "week_beginning", "left")
        .join(returned, "week_beginning", "left")
        .select(
            "week_beginning",
            F.coalesce("rented_cnt", F.lit(0).cast("long")).alias(
                "newly_rented_during_week"
            ),
            F.coalesce("returned_cnt", F.lit(0).cast("long")).alias(
                "returned_rentals_during_week"
            ),
        )
    )

    # Unpartitioned window is fine: it runs over the week spine only (one row
    # per week — thousands of rows even for decades of data), never the fact table.
    cum = Window.orderBy("week_beginning").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        joined.select(
            "week_beginning",
            "newly_rented_during_week",
            "returned_rentals_during_week",
            (
                F.col("newly_rented_during_week")
                - F.col("returned_rentals_during_week")
            ).alias("net_change_in_outstanding"),
            (
                F.sum("newly_rented_during_week").over(cum)
                - F.sum("returned_rentals_during_week").over(cum)
            ).alias("outstanding_rentals_at_week_end"),
        )
        .orderBy("week_beginning")
    )


def week_pair_counts(rental: DataFrame, since: dt.datetime) -> pa.Table:
    """The driver formulation's one fact-table aggregate, collected as Arrow:
    a row per (rental week ``rw``, return week ``tw``) pair that occurs, with
    its rental count ``n``, the count ``n_delta`` of its rows whose
    ``last_update`` is after ``since`` and its ``max_lu``. ``tw`` is null for
    open rentals."""
    return (
        rental.groupBy(_week("rental_date").alias("rw"), _week("return_date").alias("tw"))
        .agg(
            F.count("rental_id").alias("n"),
            F.count_if(F.col("last_update") > F.lit(since)).alias("n_delta"),
            F.max("last_update").alias("max_lu"),
        )
        .toArrow()
    )


def weekly_summary_from_pairs(pairs: pa.Table, as_of: dt.date | None = None) -> pa.Table:
    """Full-recompute weekly summary, ref.sql semantics, summed in the driver
    from ``week_pair_counts``: OUTPUT_COLUMNS, one row per spine week in order."""
    rented: Counter[dt.date] = Counter()
    returned: Counter[dt.date] = Counter()
    # ref.sql:4-9: an open rental extends the spine to the week of as_of
    open_end = as_of - dt.timedelta(days=as_of.weekday()) if as_of else dt.date.min
    start = end = None
    for rw, tw, n in zip(*(pairs[c].to_pylist() for c in ("rw", "tw", "n"))):
        rented[rw] += n
        if tw is not None:
            returned[tw] += n
        last = tw if tw is not None else max(rw, open_end)
        start = rw if start is None else min(start, rw)
        end = last if end is None else max(end, last)
    weeks = []
    while start is not None and start <= end:
        weeks.append(start)
        start += dt.timedelta(weeks=1)
    new = [rented[w] for w in weeks]
    ret = [returned[w] for w in weeks]
    net = [a - b for a, b in zip(new, ret)]
    return pa.table(
        [
            pa.array(weeks, pa.date32()),
            *(pa.array(c, pa.int64()) for c in (new, ret, net, list(accumulate(net)))),
        ],
        names=OUTPUT_COLUMNS,
    )


def weekly_rental_summary_sql(spark, rental: DataFrame, as_of: dt.date | None = None) -> DataFrame:
    """Literal transliteration of ref.sql:1-57 executed by Catalyst.

    The correlated scalar subquery (ref.sql:40-49) is kept verbatim; Catalyst's
    RewriteCorrelatedScalarSubquery decorrelates it. CURRENT_DATE is replaced by
    the ``as_of`` parameter (or the max-activity fallback) per SURVEY.md §2.X.
    """
    rental.createOrReplaceTempView("rental")
    open_expr = (
        f"GREATEST(CAST(rental_date AS DATE), DATE '{as_of.isoformat()}')"
        if as_of is not None
        else "CAST(rental_date AS DATE)"
    )
    return spark.sql(
        f"""
        WITH date_range AS (
            SELECT
                MIN(CAST(rental_date AS DATE)) AS min_date,
                MAX(CASE WHEN return_date IS NOT NULL THEN CAST(return_date AS DATE)
                         ELSE {open_expr} END) AS max_date
            FROM rental
        ),
        all_weeks AS (
            SELECT explode(sequence(
                CAST(DATE_TRUNC('week', (SELECT min_date FROM date_range)) AS DATE),
                CAST(DATE_TRUNC('week', (SELECT max_date FROM date_range)) AS DATE),
                INTERVAL 1 WEEK
            )) AS week_beginning
        ),
        weekly_returned_counts AS (
            SELECT CAST(DATE_TRUNC('week', return_date) AS DATE) AS week_of_return,
                   COUNT(rental_id) AS num_returned_rentals
            FROM rental WHERE return_date IS NOT NULL GROUP BY 1
        ),
        weekly_rented_counts AS (
            SELECT CAST(DATE_TRUNC('week', rental_date) AS DATE) AS week_of_rental,
                   COUNT(rental_id) AS num_newly_rented
            FROM rental GROUP BY 1
        )
        SELECT
            aw.week_beginning,
            COALESCE(wrc_rented.num_newly_rented, 0) AS newly_rented_during_week,
            COALESCE(wrc_returned.num_returned_rentals, 0) AS returned_rentals_during_week,
            COALESCE(wrc_rented.num_newly_rented, 0)
              - COALESCE(wrc_returned.num_returned_rentals, 0) AS net_change_in_outstanding,
            (SELECT COUNT(r_inv.rental_id) FROM rental r_inv
             WHERE CAST(r_inv.rental_date AS DATE) <= DATE_ADD(aw.week_beginning, 6)
               AND (r_inv.return_date IS NULL
                    OR CAST(r_inv.return_date AS DATE) > DATE_ADD(aw.week_beginning, 6))
            ) AS outstanding_rentals_at_week_end
        FROM all_weeks aw
        LEFT JOIN weekly_returned_counts wrc_returned
               ON aw.week_beginning = wrc_returned.week_of_return
        LEFT JOIN weekly_rented_counts wrc_rented
               ON aw.week_beginning = wrc_rented.week_of_rental
        ORDER BY aw.week_beginning
        """
    )


def oracle_weekly_summary_sql(as_of: dt.date | None = None) -> str:
    """DuckDB oracle: ref.sql:1-57 nearly verbatim (correlated subquery and all)
    over the deterministic rental derivation — an independent formulation from
    the Spark window plan, which is what makes the differential test strong.
    """
    open_expr = (
        f"GREATEST(CAST(rental_date AS DATE), DATE '{as_of.isoformat()}')"
        if as_of is not None
        else "CAST(rental_date AS DATE)"
    )
    return f"""
        WITH rental AS ({RENTAL_DUCKDB_SQL}),
        date_range AS (
            SELECT
                MIN(CAST(rental_date AS DATE)) AS min_date,
                MAX(CASE WHEN return_date IS NOT NULL THEN CAST(return_date AS DATE)
                         ELSE {open_expr} END) AS max_date
            FROM rental
        ),
        all_weeks AS (
            SELECT CAST(unnest(generate_series(
                DATE_TRUNC('week', (SELECT min_date FROM date_range)),
                DATE_TRUNC('week', (SELECT max_date FROM date_range)),
                INTERVAL 1 WEEK
            )) AS DATE) AS week_beginning
        ),
        weekly_returned_counts AS (
            SELECT CAST(DATE_TRUNC('week', return_date) AS DATE) AS week_of_return,
                   COUNT(rental_id) AS num_returned_rentals
            FROM rental WHERE return_date IS NOT NULL GROUP BY 1
        ),
        weekly_rented_counts AS (
            SELECT CAST(DATE_TRUNC('week', rental_date) AS DATE) AS week_of_rental,
                   COUNT(rental_id) AS num_newly_rented
            FROM rental GROUP BY 1
        )
        SELECT
            aw.week_beginning,
            COALESCE(wrc_rented.num_newly_rented, 0) AS newly_rented_during_week,
            COALESCE(wrc_returned.num_returned_rentals, 0) AS returned_rentals_during_week,
            COALESCE(wrc_rented.num_newly_rented, 0)
              - COALESCE(wrc_returned.num_returned_rentals, 0) AS net_change_in_outstanding,
            (SELECT COUNT(r_inv.rental_id) FROM rental r_inv
             WHERE CAST(r_inv.rental_date AS DATE) <= aw.week_beginning + 6
               AND (r_inv.return_date IS NULL
                    OR CAST(r_inv.return_date AS DATE) > aw.week_beginning + 6)
            ) AS outstanding_rentals_at_week_end
        FROM all_weeks aw
        LEFT JOIN weekly_returned_counts wrc_returned
               ON aw.week_beginning = wrc_returned.week_of_return
        LEFT JOIN weekly_rented_counts wrc_rented
               ON aw.week_beginning = wrc_rented.week_of_rental
        ORDER BY aw.week_beginning
    """


def monthly_rollup(weekly: DataFrame) -> DataFrame:
    """Continuous-aggregate rollup of the weekly summary to calendar months
    (the hypertable/materialized-rollup pattern): flow counts SUM across the
    month's weeks; the stock count (outstanding) is NOT summable — the
    month-end value is the LAST week's value, taken with ``max_by`` ordered by
    week. A week belongs to the month of its Monday (weeks never split).

    One hash aggregate over the ~10^3-row weekly spine — rollup cost is
    proportional to the summary, never the fact table; at 100 TB this reads
    the materialized weekly table, not the rentals."""
    return (
        weekly.groupBy(
            F.trunc("week_beginning", "month").alias("month_start")
        )
        .agg(
            F.sum("newly_rented_during_week").cast("long").alias("newly_rented"),
            F.sum("returned_rentals_during_week").cast("long").alias("returned"),
            F.sum("net_change_in_outstanding").cast("long").alias("net_change"),
            F.max_by("outstanding_rentals_at_week_end", "week_beginning")
            .cast("long")
            .alias("outstanding_at_month_end"),
            F.count("*").cast("long").alias("n_weeks"),
        )
        .orderBy("month_start")
    )


def oracle_monthly_rollup_sql(as_of: dt.date | None = None) -> str:
    return f"""
        WITH weekly AS ({oracle_weekly_summary_sql(as_of)})
        SELECT CAST(DATE_TRUNC('month', week_beginning) AS DATE) AS month_start,
               CAST(SUM(newly_rented_during_week) AS BIGINT) AS newly_rented,
               CAST(SUM(returned_rentals_during_week) AS BIGINT) AS returned,
               CAST(SUM(net_change_in_outstanding) AS BIGINT) AS net_change,
               CAST(arg_max(outstanding_rentals_at_week_end, week_beginning)
                    AS BIGINT) AS outstanding_at_month_end,
               COUNT(*) AS n_weeks
        FROM weekly
        GROUP BY 1
        ORDER BY month_start
    """
