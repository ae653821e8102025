"""The incremental protocol (SURVEY.md I-1..I-7), end to end.

Re-implements the run-loop of etl_script_incremental_pandas.py:24-298 on Spark:

  Step 0  empty-target check → watermark reset to 1900-01-01   (etl.py:68-85, I-2)
  Step 1  read watermark + MAX(last_update) from source        (etl.py:87-113, A-2)
  Step 2  delta read over half-open (prev, max] window         (etl.py:115-128, I-3)
  Step 3a affected weeks from changed rows, set-based          (etl.py:130-146, I-4)
  Step 3b trailing-gap backfill weeks                          (etl.py:148-194, I-5)
  Step 3c union; early-exit when nothing to do                 (etl.py:196-213, I-6)
  Step 4  recompute + keyed upsert                             (etl.py:216-271, I-7)
  Step 5  advance watermark only after the summary commits     (etl.py:274-284, O-8)

Deliberate departure from the reference (SURVEY.md O-9): Step 4 does NOT loop
per week re-scanning the source 3x per week. The window-formulation summary is
O(n + weeks) for ANY number of dirty weeks, so we compute the full summary once
and filter it down to the affected suffix of weeks. The recompute is two
hash aggregations over the fact table — the same cost as one dirty week in the
reference's scheme.

Spark does only the fact-table work: one probe aggregate, plus the summary
plan when weeks are dirty. The summary (one row per week) and the watermark
(one row) stay in the driver: the suffix is collected as Arrow and both tables
are published as single files by ``upsert.merge_upsert``.

Boundary semantics are ref.sql's date-granularity (SURVEY.md §2.X), so the
incremental result is bit-identical to the full-recompute oracle — the
differential property the reference intended but never automated (SURVEY.md §5).
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field

import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from ..plans.weekly_summary import weekly_rental_summary
from ..schemas import WEEKLY_RENTAL_SUMMARY
from .upsert import merge_upsert, read_parquet_table
from .watermark import DEFAULT_WATERMARK_START, WatermarkStore

ETL_PROCESS_NAME = "pagila_weekly_rental_summary"


@dataclass
class IncrementalRunReport:
    previous_watermark: dt.datetime
    new_watermark: dt.datetime
    delta_rows: int
    affected_weeks: list[dt.date] = field(default_factory=list)
    weeks_written: int = 0
    noop: bool = False
    watermark_reset: bool = False


def _monday(d: dt.date) -> dt.date:
    return d - dt.timedelta(days=d.weekday())


def run_incremental(
    spark: SparkSession,
    rental: DataFrame,
    target_dir: str,
    state_dir: str,
    process_name: str = ETL_PROCESS_NAME,
    as_of: dt.date | None = None,
    fail_point: str | None = None,
) -> IncrementalRunReport:
    """One incremental run. ``rental`` is the current source snapshot.

    Fault injection for the T2(e) crash-safety property tests: ``fail_point``
    crashes the run at a named protocol boundary —

    * ``"after_reset"``    — after the empty-target watermark reset (step 0)
    * ``"after_window"``   — after the time window is read, before any write
    * ``"before_merge"``   — after the updates are computed, before the upsert
    * ``"before_watermark"`` — after the summary upsert, before the watermark
      advance (the O-8 ordering certificate)

    The protocol invariant under ANY of these: a rerun on the same (or a
    further-grown) snapshot converges to the full recompute, because the
    watermark only advances after the summary commit and every step before
    the upsert is read-only."""

    def _maybe_fail(point: str) -> None:
        if fail_point == point:
            raise RuntimeError(f"injected crash at {point}")

    store = WatermarkStore(state_dir)

    # --- Step 0: empty-target → reset watermark (I-2) -------------------------
    target = read_parquet_table(target_dir)
    watermark_reset = False
    if target is None or target.num_rows == 0:
        store.write(process_name, DEFAULT_WATERMARK_START)
        watermark_reset = True
    _maybe_fail("after_reset")

    # --- Steps 1-3a fused: ONE source pass (A-2 + I-3 + I-4) ------------------
    # The watermark is read BEFORE the probe, and the half-open delta window
    # (prev, cur_max] has cur_max = MAX(last_update) over this very snapshot —
    # its upper bound never excludes a row — so the delta membership predicate
    # reduces to last_update > prev_wm, computable in the SAME aggregate that
    # finds the window bounds. One full-source aggregate now serves the window
    # probe, the delta row count AND the dirty-week set (collect_set skips the
    # NULL non-delta / null-return entries; the week set is calendar-bounded,
    # never data-sized). The previous two-job form scanned the source twice.
    # When cur_max <= prev_wm no row passes the membership predicate, so the
    # count/sets degrade to 0/empty exactly as the old guarded branch did.
    prev_wm = store.read(process_name)
    wk = lambda c: F.date_trunc("week", c).cast("date")
    act = F.to_date(
        F.greatest("rental_date", F.coalesce("return_date", "rental_date"))
    )
    in_delta = F.col("last_update") > F.lit(prev_wm)
    probe = rental.agg(
        F.max("last_update").alias("max_lu"),
        F.max(act).alias("max_activity"),
        F.min(act).alias("min_activity"),
        F.count(F.when(in_delta, F.lit(1))).alias("n_delta"),
        F.collect_set(F.when(in_delta, wk("rental_date"))).alias("rw"),
        F.collect_set(
            F.when(in_delta & F.col("return_date").isNotNull(), wk("return_date"))
        ).alias("tw"),
    ).first()
    cur_max = probe.max_lu if probe.max_lu is not None else prev_wm
    _maybe_fail("after_window")

    # --- Step 3a: affected weeks from changed rows (I-4, set-based O-10) -----
    if cur_max > prev_wm:
        changed = set(probe.rw) | set(probe.tw)
        delta_rows = probe.n_delta
    else:
        changed, delta_rows = set(), 0

    # --- Step 3b: trailing-gap backfill (I-5) --------------------------------
    backfill: set[dt.date] = set()
    if probe.max_activity is not None:
        max_src_week = _monday(probe.max_activity)
        max_tgt_week = (
            pc.max(target["week_beginning"]).as_py() if target is not None else None
        )
        start = None
        if max_tgt_week is None and probe.min_activity is not None:
            start = _monday(probe.min_activity)
        elif max_tgt_week is not None and max_tgt_week < max_src_week:
            start = max_tgt_week + dt.timedelta(weeks=1)
        while start is not None and start <= max_src_week:
            backfill.add(start)
            start += dt.timedelta(weeks=1)

    # --- Step 3c: combine; early exit (I-6) ----------------------------------
    affected = sorted(changed | backfill)
    if not affected:
        store.write(process_name, cur_max)
        return IncrementalRunReport(
            previous_watermark=prev_wm,
            new_watermark=cur_max,
            delta_rows=delta_rows,
            noop=True,
            watermark_reset=watermark_reset,
        )

    # --- Step 4: recompute affected weeks in ONE plan + upsert (I-7, O-9) ----
    # Suffix expansion (deliberate fix over the reference): a changed row also
    # shifts outstanding_rentals_at_week_end for every week BETWEEN its rental
    # and return weeks, which the reference's marking (etl.py:139-146) misses —
    # it leaves stale interim weeks. We recompute the suffix [min dirty week,
    # spine end] instead (SURVEY.md §7 "Outstanding-rentals recompute needs
    # global history"); with the O(n + weeks) one-plan summary this costs the
    # same and keeps incremental ≡ full recompute exactly.
    min_dirty = min(affected)
    summary = weekly_rental_summary(rental, as_of=as_of)
    updates = (
        summary.where(F.col("week_beginning") >= F.lit(min_dirty))
        .select(
            "week_beginning",
            F.col("outstanding_rentals_at_week_end")
            .cast("int")
            .alias("OutstandingRentals"),
            F.col("returned_rentals_during_week").cast("int").alias("ReturnedRentals"),
            F.col("newly_rented_during_week").cast("int"),
            F.col("net_change_in_outstanding").cast("int"),
            F.current_timestamp().alias("last_updated"),
        )
        # weeks-sized: collected once, in the declared schema, so every
        # published file has the same types whatever nullability the plan has
        .toArrow()
        .cast(to_arrow_schema(WEEKLY_RENTAL_SUMMARY))
    )
    _maybe_fail("before_merge")
    merge_upsert(target_dir, updates, key=["week_beginning"])
    _maybe_fail("before_watermark")

    # --- Step 5: advance watermark AFTER the summary commit (O-8) ------------
    store.write(process_name, cur_max)
    return IncrementalRunReport(
        previous_watermark=prev_wm,
        new_watermark=cur_max,
        delta_rows=delta_rows,
        affected_weeks=affected,
        weeks_written=updates.num_rows,
        watermark_reset=watermark_reset,
    )
