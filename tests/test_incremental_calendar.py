"""Calendar-scale incremental protocol property run (round-7 hardening).

The T2 property tests in test_incremental.py pin the protocol's invariants on
<=4 batches over ~1 year of weeks. This file exercises the same invariant —
after EVERY mutation batch, incremental target == full recompute — at
realistic calendar scale: a 200+-week spine (4 years of activity,
1995-01-01 .. 1998-12-26) mutated by 20 randomized batches, each mixing

* late-arriving INSERTS whose rental_date lands anywhere in the 4-year span
  (months/years before the watermark — the README:95-98 late-data scenario),
* UPDATES that move a months-old rental's return_date by up to 100 days
  (the reference's "return_date changed after the fact" case).

Every batch advances last_update monotonically past the watermark, so the
dirty-week derivation (I-4) must rediscover exactly the touched weeks and the
per-week full recompute (I-5/I-7) must heal the whole affected suffix —
including weeks far older than the watermark window.

Determinism: seeded random.Random(7) — the run is reproducible; no Date.now /
machine state enters the data.
"""

from __future__ import annotations

import datetime as dt
import random
import shutil
import tempfile

import pytest

from pagila_etl_airflow_assignment_spark.incremental import run_incremental
from pagila_etl_airflow_assignment_spark.plans.weekly_summary import (
    weekly_rental_summary_sql,
)
from pagila_etl_airflow_assignment_spark.schemas import RENTAL

SPAN_START = dt.datetime(1995, 1, 2)  # a Monday
SPAN_DAYS = 4 * 364  # 208 ISO weeks


def _target_rows(spark, target_dir):
    df = spark.read.parquet(target_dir)
    return sorted(tuple(r) for r in df.drop("last_updated").collect())


def _full_rows(spark, rows):
    """Full recompute in the correlated-SQL form, independent of the runner."""
    df = weekly_rental_summary_sql(spark, spark.createDataFrame(rows, schema=RENTAL))
    return sorted(
        (
            r.week_beginning,
            r.outstanding_rentals_at_week_end,
            r.returned_rentals_during_week,
            r.newly_rented_during_week,
            r.net_change_in_outstanding,
        )
        for r in df.collect()
    )


@pytest.mark.slow
def test_200_week_spine_20_mutation_batches_converges(spark):
    rng = random.Random(7)
    root = tempfile.mkdtemp(prefix="inc-cal-")
    target_dir, state_dir = f"{root}/target", f"{root}/state"
    try:
        next_id = 1
        rows: dict[int, tuple] = {}

        def insert(n: int, lu: dt.datetime) -> None:
            nonlocal next_id
            for _ in range(n):
                rd = SPAN_START + dt.timedelta(
                    days=rng.randrange(SPAN_DAYS), hours=rng.randrange(24)
                )
                ret = (
                    None
                    if rng.random() < 0.12
                    else rd + dt.timedelta(days=rng.randrange(1, 61))
                )
                rows[next_id] = (next_id, rd, ret, lu)
                next_id += 1

        # bootstrap corpus: 1200 rentals spread over all 208 weeks, stamped
        # with a pre-history last_update so the first run bootstraps cleanly
        insert(1200, dt.datetime(1999, 1, 1))
        snapshot = list(rows.values())
        report = run_incremental(
            spark, spark.createDataFrame(snapshot, schema=RENTAL), target_dir, state_dir
        )
        assert report.watermark_reset and not report.noop
        full = _full_rows(spark, snapshot)
        assert len(full) >= 200, f"spine only {len(full)} weeks"
        assert _target_rows(spark, target_dir) == full

        # 20 mutation batches, each strictly past the previous watermark
        for b in range(20):
            lu = dt.datetime(1999, 1, 2) + dt.timedelta(days=b)
            insert(rng.randrange(5, 31), lu)  # late-arriving inserts
            victims = rng.sample(sorted(rows), k=rng.randrange(3, 11))
            for vid in victims:  # months-old return_date updates
                rid, rd, ret, _ = rows[vid]
                base = ret if ret is not None else rd
                new_ret = base + dt.timedelta(days=rng.randrange(1, 101))
                rows[vid] = (rid, rd, new_ret, lu)
            snapshot = list(rows.values())
            report = run_incremental(
                spark,
                spark.createDataFrame(snapshot, schema=RENTAL),
                target_dir,
                state_dir,
            )
            assert not report.noop, f"batch {b} not detected"
            assert _target_rows(spark, target_dir) == _full_rows(spark, snapshot), (
                f"divergence after mutation batch {b}"
            )

        # quiescence: an unchanged snapshot is a no-op
        final = run_incremental(
            spark, spark.createDataFrame(snapshot, schema=RENTAL), target_dir, state_dir
        )
        assert final.noop and final.weeks_written == 0
    finally:
        shutil.rmtree(root, ignore_errors=True)
