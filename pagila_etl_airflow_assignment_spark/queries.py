"""Registered queries — one per SURVEY.md §2 inventory row (plus llm.* extras).

Every Spark pipeline aliases its computed columns identically to its DuckDB
oracle so the driver's sorted-column value-hash comparison lines up.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .registry import register
from .sources.parquet import load_table
from .sources.rental import RENTAL_DUCKDB_SQL, load_rental
from .plans.weekly_summary import (
    monthly_rollup,
    oracle_monthly_rollup_sql,
    oracle_weekly_summary_sql,
    week_spine,
    weekly_rental_summary,
    weekly_rental_summary_sql,
)

_RENTAL_CTE = f"WITH rental AS ({RENTAL_DUCKDB_SQL})"

# Fixed parameters for the parameterized operators (watermark window, as-of),
# chosen inside the fixtures' 1992-1998 activity range so results are non-trivial.
WM_LO = "1995-06-01 00:00:00"
WM_HI = "1996-06-01 00:00:00"
AS_OF = dt.date(1999, 6, 7)


# --- flagship -----------------------------------------------------------------


@register(
    "weekly_rental_summary",
    oracle=oracle_weekly_summary_sql(),
    survey_rows=("C-1", "C-2", "D-1", "D-2", "H-1", "H-3", "H-5", "H-14", "F-1"),
)
def q_weekly_rental_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship ref.sql weekly rental summary (spine + counts + cumulative outstanding)."""
    return weekly_rental_summary(load_rental(spark, sf_dir))


@register(
    "weekly_rental_summary_as_of",
    oracle=oracle_weekly_summary_sql(as_of=AS_OF),
    survey_rows=("H-7",),
)
def q_weekly_rental_summary_as_of(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CURRENT_DATE (ref.sql:7) parameterized as a pinned as_of (SURVEY §2.X)."""
    return weekly_rental_summary(load_rental(spark, sf_dir), as_of=AS_OF)


@register(
    "weekly_rental_summary_correlated",
    oracle=oracle_weekly_summary_sql(),
    survey_rows=("C-2", "O-11"),
)
def q_weekly_rental_summary_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Literal ref.sql correlated-subquery form; Catalyst decorrelates (O-11)."""
    return weekly_rental_summary_sql(spark, load_rental(spark, sf_dir))


@register(
    "incremental_weekly_summary",
    oracle=f"""
        WITH rental AS ({RENTAL_DUCKDB_SQL}),
        date_range AS (
            SELECT MIN(CAST(rental_date AS DATE)) AS min_date,
                   MAX(CASE WHEN return_date IS NOT NULL THEN CAST(return_date AS DATE)
                            ELSE CAST(rental_date AS DATE) END) AS max_date
            FROM rental
        ),
        all_weeks AS (
            SELECT CAST(unnest(generate_series(
                DATE_TRUNC('week', (SELECT min_date FROM date_range)),
                DATE_TRUNC('week', (SELECT max_date FROM date_range)),
                INTERVAL 1 WEEK)) AS DATE) AS week_beginning
        ),
        weekly_returned_counts AS (
            SELECT CAST(DATE_TRUNC('week', return_date) AS DATE) AS w,
                   COUNT(rental_id) AS n
            FROM rental WHERE return_date IS NOT NULL GROUP BY 1
        ),
        weekly_rented_counts AS (
            SELECT CAST(DATE_TRUNC('week', rental_date) AS DATE) AS w,
                   COUNT(rental_id) AS n
            FROM rental GROUP BY 1
        )
        SELECT
            aw.week_beginning,
            CAST((SELECT COUNT(r.rental_id) FROM rental r
             WHERE CAST(r.rental_date AS DATE) <= aw.week_beginning + 6
               AND (r.return_date IS NULL
                    OR CAST(r.return_date AS DATE) > aw.week_beginning + 6))
              AS INT) AS "OutstandingRentals",
            CAST(COALESCE(ret.n, 0) AS INT) AS "ReturnedRentals",
            CAST(COALESCE(rent.n, 0) AS INT) AS newly_rented_during_week,
            CAST(COALESCE(rent.n, 0) - COALESCE(ret.n, 0) AS INT)
              AS net_change_in_outstanding
        FROM all_weeks aw
        LEFT JOIN weekly_returned_counts ret ON aw.week_beginning = ret.w
        LEFT JOIN weekly_rented_counts rent ON aw.week_beginning = rent.w
        ORDER BY aw.week_beginning
    """,
    survey_rows=(
        "A-4", "A-5", "A-6", "A-7",  # DDL bootstrap + MERGE sinks + txn ordering
        "I-1", "I-2", "I-3", "I-4", "I-5", "I-6", "I-7",
        "H-8",  # last_updated audit column (excluded from the compared output)
        "O-8",
    ),
)
def q_incremental_weekly_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full incremental protocol, driver-checkable: bootstrap from an empty
    target in two watermarked batches (split on the median last_update), then
    return the materialized target table. Matching the full-recompute oracle
    proves watermarking, dirty-week planning, MERGE and crash-safe ordering
    compose to the reference's end state (its intended-but-never-automated
    differential check, SURVEY.md §5)."""
    import shutil
    import tempfile

    from .incremental import run_incremental

    rental = load_rental(spark, sf_dir)
    cut = rental.selectExpr(
        "percentile_approx(cast(last_update as double), 0.5) p"
    ).first()["p"]
    cut_ts = dt.datetime.fromtimestamp(cut, dt.timezone.utc).replace(tzinfo=None)
    root = tempfile.mkdtemp(prefix="inc-query-")
    try:
        tgt, st = f"{root}/target", f"{root}/state"
        run_incremental(spark, rental.where(F.col("last_update") <= F.lit(cut_ts)), tgt, st)
        run_incremental(spark, rental, tgt, st)
        out = spark.read.parquet(tgt).drop("last_updated").orderBy("week_beginning")
        out = spark.createDataFrame(out.collect(), out.schema)  # detach from temp dir
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


# --- A. scans / sources -------------------------------------------------------


@register(
    "a1_delta_scan",
    oracle=f"""{_RENTAL_CTE}
        SELECT rental_id, rental_date, return_date, last_update
        FROM rental
        WHERE last_update > TIMESTAMP '{WM_LO}'
          AND last_update <= TIMESTAMP '{WM_HI}'
    """,
    survey_rows=("A-1", "B-1", "B-2"),
)
def q_delta_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Half-open watermark delta extraction (etl.py:120-125): projection +
    range predicate, both pushed into the parquet scan by Catalyst."""
    lo = F.lit(WM_LO).cast("timestamp")
    hi = F.lit(WM_HI).cast("timestamp")
    return (
        load_rental(spark, sf_dir)
        .where((F.col("last_update") > lo) & (F.col("last_update") <= hi))
        .select("rental_id", "rental_date", "return_date", "last_update")
    )


@register(
    "a2_scalar_probes",
    oracle=f"""{_RENTAL_CTE}
        SELECT MAX(last_update) AS max_last_update,
               MIN(rental_date) AS min_rental_date,
               COUNT(*) AS n_rows
        FROM rental
    """,
    survey_rows=("A-2", "D-1", "H-13"),  # H-13: naive-UTC via pinned session tz
)
def q_scalar_probes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The watermark-protocol scalar probes (etl.py:98,151,162,175) as one
    single-pass aggregate instead of three round-trips."""
    return load_rental(spark, sf_dir).agg(
        F.max("last_update").alias("max_last_update"),
        F.min("rental_date").alias("min_rental_date"),
        F.count("*").alias("n_rows"),
    )


# --- B. predicates ------------------------------------------------------------


@register(
    "b3_null_predicates",
    oracle=f"""{_RENTAL_CTE}
        SELECT
          COUNT(CASE WHEN return_date IS NULL THEN 1 END) AS n_open,
          COUNT(CASE WHEN return_date IS NOT NULL THEN 1 END) AS n_returned
        FROM rental
    """,
    survey_rows=("B-3", "B-6", "D-3"),  # B-6: pandas notna guard, set-based form
)
def q_null_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IS NULL / IS NOT NULL predicate counts over the rental view (ref.sql:25,46)."""
    r = load_rental(spark, sf_dir)
    return r.agg(
        F.count(F.when(F.col("return_date").isNull(), 1)).alias("n_open"),
        F.count(F.when(F.col("return_date").isNotNull(), 1)).alias("n_returned"),
    )


@register(
    "b4_b5_week_window_membership",
    oracle=f"""{_RENTAL_CTE}
        SELECT rental_id
        FROM rental
        WHERE CAST(rental_date AS DATE) >= DATE '1995-07-03'
          AND CAST(rental_date AS DATE) <= DATE '1995-07-03' + 6
          AND (return_date IS NULL OR CAST(return_date AS DATE) > DATE '1995-07-03' + 6)
        ORDER BY rental_id
    """,
    survey_rows=("B-4", "B-5"),
)
def q_week_window_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-window membership + disjunctive outstanding predicate for one week
    (etl.py:226-236), date-granularity per SURVEY §2.X."""
    wk = F.lit("1995-07-03").cast("date")
    r = load_rental(spark, sf_dir)
    return (
        r.where(
            F.to_date("rental_date").between(wk, F.date_add(wk, 6))
            & (
                F.col("return_date").isNull()
                | (F.to_date("return_date") > F.date_add(wk, 6))
            )
        )
        .select("rental_id")
        .orderBy("rental_id")
    )


@register(
    "a3_f3_existence_probe",
    oracle=f"""{_RENTAL_CTE}
        SELECT rental_id FROM rental ORDER BY rental_id LIMIT 1
    """,
    survey_rows=("A-3", "F-3"),
)
def q_existence_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empty-target detection probe (etl.py:70-71): LIMIT 1 made deterministic
    with an order key. The engine's real check is `df.isEmpty()`, which plans
    the same single-row LocalLimit scan."""
    return (
        load_rental(spark, sf_dir).select("rental_id").orderBy("rental_id").limit(1)
    )


# --- C. correlated per-week counts --------------------------------------------


@register(
    "c3_per_week_counts",
    oracle=f"""{_RENTAL_CTE}
        SELECT
          CAST((SELECT COUNT(*) FROM rental
                WHERE CAST(rental_date AS DATE) >= DATE '1995-07-03'
                  AND CAST(rental_date AS DATE) <= DATE '1995-07-03' + 6) AS INT)
            AS newly_rented,
          CAST((SELECT COUNT(*) FROM rental
                WHERE return_date IS NOT NULL
                  AND CAST(return_date AS DATE) >= DATE '1995-07-03'
                  AND CAST(return_date AS DATE) <= DATE '1995-07-03' + 6) AS INT)
            AS returned,
          CAST((SELECT COUNT(*) FROM rental
                WHERE CAST(rental_date AS DATE) <= DATE '1995-07-03' + 6
                  AND (return_date IS NULL
                       OR CAST(return_date AS DATE) > DATE '1995-07-03' + 6)) AS INT)
            AS outstanding
    """,
    survey_rows=("C-3", "D-3"),
)
def q_per_week_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's per-week recompute statement (etl.py:224-236, three
    correlated scalar subqueries rescanning `rental`) as ONE conditional
    aggregation over a single scan — the O-9 rewrite at the statement level."""
    wk = F.lit("1995-07-03").cast("date")
    wk_end = F.date_add(wk, 6)
    rd, xd = F.to_date("rental_date"), F.to_date("return_date")
    return load_rental(spark, sf_dir).agg(
        F.count(F.when(rd.between(wk, wk_end), 1)).cast("int").alias("newly_rented"),
        F.count(
            F.when(F.col("return_date").isNotNull() & xd.between(wk, wk_end), 1)
        ).cast("int").alias("returned"),
        F.count(
            F.when(
                (rd <= wk_end) & (F.col("return_date").isNull() | (xd > wk_end)), 1
            )
        ).cast("int").alias("outstanding"),
    )


@register(
    "h12_parse_to_null",
    oracle=f"""{_RENTAL_CTE}
        SELECT rental_id,
               TRY_CAST(CASE WHEN rental_id % 10 = 0 THEN 'not-a-timestamp'
                             ELSE CAST(rental_date AS VARCHAR) END
                        AS TIMESTAMP) AS parsed
        FROM rental ORDER BY rental_id
    """,
    survey_rows=("H-12",),
)
def q_parse_to_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pd.to_datetime(errors='coerce') parity (etl.py:134-135): unparseable
    input becomes NULL, never an error. `try_to_timestamp` is NULL-on-failure
    by construction — independent of the session's ANSI mode (Spark 4.x
    defaults ANSI on, where a plain to_timestamp raises CAST_INVALID_INPUT)."""
    s = F.when(
        F.col("rental_id") % 10 == 0, F.lit("not-a-timestamp")
    ).otherwise(F.col("rental_date").cast("string"))
    return (
        load_rental(spark, sf_dir)
        .select("rental_id", F.try_to_timestamp(s).alias("parsed"))
        .orderBy("rental_id")
    )


# --- D. aggregations ----------------------------------------------------------


@register(
    "d2_weekly_counts",
    oracle=f"""{_RENTAL_CTE}
        SELECT CAST(DATE_TRUNC('week', return_date) AS DATE) AS week_of_return,
               COUNT(rental_id) AS num_returned_rentals
        FROM rental WHERE return_date IS NOT NULL
        GROUP BY 1 ORDER BY 1
    """,
    survey_rows=("D-2", "H-1"),
)
def q_weekly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ref.sql:20-27 — hash aggregation with map-side partial aggregation."""
    return (
        load_rental(spark, sf_dir)
        .where(F.col("return_date").isNotNull())
        .groupBy(
            F.date_trunc("week", "return_date").cast("date").alias("week_of_return")
        )
        .agg(F.count("rental_id").alias("num_returned_rentals"))
        .orderBy("week_of_return")
    )


@register(
    "d4_greatest_activity",
    oracle=f"""{_RENTAL_CTE}
        SELECT MAX(GREATEST(rental_date, COALESCE(return_date, rental_date)))
                 AS max_activity,
               MIN(GREATEST(rental_date, COALESCE(return_date, rental_date)))
                 AS min_activity
        FROM rental
    """,
    survey_rows=("D-4", "H-4", "H-5"),
)
def q_greatest_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """etl.py:151,175 — latest/earliest activity timestamps, one pass."""
    act = F.greatest("rental_date", F.coalesce("return_date", "rental_date"))
    return load_rental(spark, sf_dir).agg(
        F.max(act).alias("max_activity"), F.min(act).alias("min_activity")
    )


@register(
    "d5_affected_weeks",
    oracle=f"""{_RENTAL_CTE}
        SELECT DISTINCT CAST(DATE_TRUNC('week', d) AS DATE) AS affected_week
        FROM (
            SELECT rental_date AS d FROM rental
              WHERE last_update > TIMESTAMP '{WM_LO}'
                AND last_update <= TIMESTAMP '{WM_HI}'
            UNION ALL
            SELECT return_date AS d FROM rental
              WHERE return_date IS NOT NULL
                AND last_update > TIMESTAMP '{WM_LO}'
                AND last_update <= TIMESTAMP '{WM_HI}'
        ) ORDER BY 1
    """,
    survey_rows=("D-5", "F-2", "G-1", "I-4", "O-10"),  # F-2: sorted week list
)
def q_affected_weeks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-based affected-week derivation replacing the reference's iterrows
    loop (etl.py:141-145) — zero UDFs, one shuffle for the distinct."""
    lo = F.lit(WM_LO).cast("timestamp")
    hi = F.lit(WM_HI).cast("timestamp")
    delta = load_rental(spark, sf_dir).where(
        (F.col("last_update") > lo) & (F.col("last_update") <= hi)
    )
    wk = lambda c: F.date_trunc("week", c).cast("date").alias("affected_week")
    return (
        delta.select(wk("rental_date"))
        .unionByName(
            delta.where(F.col("return_date").isNotNull()).select(wk("return_date"))
        )
        .distinct()
        .orderBy("affected_week")
    )


# --- F/G/H: sorts, sets, scalar functions ------------------------------------


@register(
    "h3_week_spine",
    oracle=f"""{_RENTAL_CTE},
        date_range AS (
            SELECT MIN(CAST(rental_date AS DATE)) AS min_date,
                   MAX(CASE WHEN return_date IS NOT NULL THEN CAST(return_date AS DATE)
                            ELSE CAST(rental_date AS DATE) END) AS max_date
            FROM rental
        )
        SELECT CAST(unnest(generate_series(
            DATE_TRUNC('week', (SELECT min_date FROM date_range)),
            DATE_TRUNC('week', (SELECT max_date FROM date_range)),
            INTERVAL 1 WEEK)) AS DATE) AS week_beginning
        ORDER BY 1
    """,
    survey_rows=("H-3", "H-11", "C-4", "F-1"),  # H-11: 1-week sequence step
)
def q_week_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GENERATE_SERIES week spine (ref.sql:12-19) via sequence+explode."""
    return week_spine(load_rental(spark, sf_dir)).orderBy("week_beginning")


@register(
    "h6_h9_case_and_casts",
    oracle=f"""{_RENTAL_CTE}
        SELECT rental_id,
               CAST(rental_date AS DATE) AS rental_day,
               CASE WHEN return_date IS NOT NULL THEN CAST(return_date AS DATE)
                    ELSE GREATEST(CAST(rental_date AS DATE), DATE '1999-06-07')
               END AS effective_end_day,
               CAST(DATE_TRUNC('week', rental_date) AS DATE) + 6 AS week_end
        FROM rental ORDER BY rental_id
    """,
    survey_rows=("H-6", "H-9", "H-10", "H-2"),
)
def q_case_and_casts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE/cast/interval-add scalar surface (ref.sql:4-9,44)."""
    return (
        load_rental(spark, sf_dir)
        .select(
            "rental_id",
            F.to_date("rental_date").alias("rental_day"),
            F.when(
                F.col("return_date").isNotNull(), F.to_date("return_date")
            )
            .otherwise(F.greatest(F.to_date("rental_date"), F.lit(AS_OF)))
            .alias("effective_end_day"),
            F.date_add(F.date_trunc("week", "rental_date").cast("date"), 6).alias(
                "week_end"
            ),
        )
        .orderBy("rental_id")
    )


@register("weekly_summary_monthly_rollup", oracle=oracle_monthly_rollup_sql())
def q_monthly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate rollup of the flagship weekly summary to months
    (hypertable-rollup pattern): flows SUM, the outstanding stock takes the
    last week's value via max_by."""
    return monthly_rollup(weekly_rental_summary(load_rental(spark, sf_dir)))


UPDATE_LAG_SQL = f"""
    WITH rental AS ({RENTAL_DUCKDB_SQL}),
    lagged AS (
        SELECT CAST(date_diff('day', CAST(rental_date AS DATE),
                    CAST(last_update AS DATE)) // 7 AS BIGINT) AS lag_weeks
        FROM rental
    ),
    hist AS (
        SELECT lag_weeks, CAST(COUNT(*) AS BIGINT) AS n
        FROM lagged GROUP BY lag_weeks
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM hist)
    SELECT lag_weeks, n,
           CAST(1000 * n // total AS BIGINT) AS share_milli,
           CAST(1000 * SUM(n) OVER (ORDER BY lag_weeks DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                // total AS BIGINT) AS tail_share_milli
    FROM hist CROSS JOIN tot
    ORDER BY lag_weeks
"""


@register("rental_update_lag_profile", oracle=UPDATE_LAG_SQL)
def rental_update_lag_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Update-lag histogram of the rental fact table — HOW LATE data
    actually arrives, in weeks between rental_date and last_update: the
    empirical input for sizing the incremental protocol's dirty-week window
    (README.md:95-98 late-update semantics; a watermark policy that assumes
    max-2-week lag is falsified by a fat tail_share here). Output per lag
    week: (lag_weeks, n, share_milli, tail_share_milli) where tail_share is
    the share of rows at >= that lag — the direct "how far back must
    recompute reach" curve.

    Scale shape: narrow date arithmetic + one bounded lag-week aggregate;
    the tail cumulative runs over the ≤|lag weeks| relation."""
    rental = load_rental(spark, sf_dir)
    lagged = rental.select(
        F.expr(
            "CAST(datediff(CAST(last_update AS DATE), CAST(rental_date AS DATE))"
            " DIV 7 AS BIGINT)"
        ).alias("lag_weeks")
    )
    hist = lagged.groupBy("lag_weeks").agg(F.count("*").cast("long").alias("n"))
    tot = hist.agg(F.sum("n").cast("long").alias("total"))
    wt = Window.orderBy(F.col("lag_weeks").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        hist.crossJoin(F.broadcast(tot))
        .withColumn("tail_n", F.sum("n").over(wt))
        .select(
            "lag_weeks",
            "n",
            F.expr("CAST(1000 * n DIV total AS BIGINT)").alias("share_milli"),
            F.expr("CAST(1000 * tail_n DIV total AS BIGINT)").alias(
                "tail_share_milli"
            ),
        )
        .orderBy("lag_weeks")
    )
