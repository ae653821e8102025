"""The incremental protocol (SURVEY.md I-1..I-7), end to end.

Re-implements the run-loop of etl_script_incremental_pandas.py:24-298 on Spark:

  Step 0  empty-target check → watermark reset to 1900-01-01   (etl.py:68-85, I-2)
  Step 1  read watermark; ONE source aggregate                 (etl.py:87-128, A-2, I-3)
  Step 2  affected weeks from changed rows, set-based          (etl.py:130-146, I-4)
  Step 3  trailing-gap backfill weeks; early-exit when none    (etl.py:148-213, I-5, I-6)
  Step 4  recompute + keyed upsert of the affected suffix      (etl.py:216-271, I-7)
  Step 5  advance watermark only after the summary commits     (etl.py:274-284, O-8)

Deliberate departure from the reference (SURVEY.md O-9): Step 4 does NOT loop
per week re-scanning the source 3x per week. Every run makes exactly one
fact-table aggregate, grouped by (rental week, return week) and collected to
the driver (``week_pair_counts``, the third formulation in
plans/weekly_summary.py). Everything else is plain Python over that
weeks-sized table: the window bound, the delta row count, the dirty weeks,
the backfill, the week spine and the cumulative outstanding count. A
no-change, an ordinary and a late run therefore cost the same one aggregate.

The summary (one row per week) and the watermark (one row) stay in the
driver: the recomputed suffix is cast to the target schema and both tables
are published as single files by ``upsert.merge_upsert``.

Boundary semantics are ref.sql's date-granularity (SURVEY.md §2.X), so the
incremental result is bit-identical to the full-recompute oracle — the
differential property the reference intended but never automated (SURVEY.md §5).
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema

from ..plans.weekly_summary import week_pair_counts, weekly_summary_from_pairs
# Imported only for perfbench/run.py: its traced run wraps
# ``runner.weekly_rental_summary`` by name and fails with AttributeError
# without it, until the benchmark reads a run record instead.
from ..plans.weekly_summary import weekly_rental_summary  # noqa: F401
from ..schemas import WEEKLY_RENTAL_SUMMARY
from .upsert import merge_upsert, read_parquet_table
from .watermark import DEFAULT_WATERMARK_START, WatermarkStore, naive_local

ETL_PROCESS_NAME = "pagila_weekly_rental_summary"

_TARGET_SCHEMA = to_arrow_schema(WEEKLY_RENTAL_SUMMARY)


@dataclass
class IncrementalRunReport:
    previous_watermark: dt.datetime
    new_watermark: dt.datetime
    delta_rows: int
    affected_weeks: list[dt.date] = field(default_factory=list)
    weeks_written: int = 0
    noop: bool = False
    watermark_reset: bool = False


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

    # --- Step 1: watermark, then the one source aggregate (A-2, I-3) ---------
    # The watermark is read BEFORE the aggregate, and the half-open delta
    # window (prev, cur_max] has cur_max = MAX(last_update) over this very
    # snapshot, so its upper bound never excludes a row and delta membership
    # reduces to last_update > prev_wm, counted inside the same aggregate.
    prev_wm = store.read(process_name)
    pairs = week_pair_counts(rental, since=prev_wm)
    max_lu = pc.max(pairs["max_lu"]).as_py()
    cur_max = naive_local(max_lu) if max_lu is not None else prev_wm
    _maybe_fail("after_window")

    # --- Step 2: affected weeks from changed rows (I-4, set-based O-10) ------
    dirty = pairs.filter(pc.greater(pairs["n_delta"], 0))
    changed = set(dirty["rw"].to_pylist()) | set(dirty["tw"].drop_null().to_pylist())
    delta_rows = pc.sum(pairs["n_delta"]).as_py() or 0

    # --- Step 3: trailing-gap backfill up to the spine end (I-5); early exit -
    # The spine is the full recompute's, so weeks that only a later as_of
    # adds are backfilled too.
    summary = weekly_summary_from_pairs(pairs, as_of=as_of)
    weeks = summary["week_beginning"]
    max_tgt_week = pc.max(target["week_beginning"]).as_py() if target is not None else None
    backfill = {
        w for w in weeks.to_pylist() if max_tgt_week is None or w > max_tgt_week
    }
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

    # --- Step 4: recompute the affected suffix + upsert (I-7, O-9) -----------
    # Suffix expansion (deliberate fix over the reference): a changed row also
    # shifts outstanding_rentals_at_week_end for every week BETWEEN its rental
    # and return weeks, which the reference's marking (etl.py:139-146) misses —
    # it leaves stale interim weeks. We recompute the suffix [min dirty week,
    # spine end] instead (SURVEY.md §7 "Outstanding-rentals recompute needs
    # global history"); the driver already holds the whole summary, so this
    # costs nothing and keeps incremental ≡ full recompute exactly.
    suffix = summary.filter(pc.greater_equal(weeks, pa.scalar(affected[0], pa.date32())))
    updates = pa.table(
        [
            suffix["week_beginning"],
            suffix["outstanding_rentals_at_week_end"],
            suffix["returned_rentals_during_week"],
            suffix["newly_rented_during_week"],
            suffix["net_change_in_outstanding"],
            pa.array(
                [dt.datetime.now(dt.timezone.utc)] * suffix.num_rows,
                _TARGET_SCHEMA.field("last_updated").type,
            ),
        ],
        names=_TARGET_SCHEMA.names,
    ).cast(_TARGET_SCHEMA)
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
