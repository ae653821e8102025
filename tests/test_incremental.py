"""T2 protocol property tests (SURVEY.md §5): the differential checks the
reference intended but never automated.

(a) idempotency            — rerun on same input leaves target unchanged
(b) incremental ≡ full     — after K mutation batches, target == full recompute
(c) from-empty bootstrap   — empty target ⇒ watermark reset ⇒ full history
(d) no-op run              — no changes ⇒ watermark advances, zero writes
(e) crash safety           — crash between summary write and watermark ⇒ rerun converges

plus the driver-side keyed upsert the summary and watermark tables go
through, and the Spark job budget of a run.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import tempfile
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from pagila_etl_airflow_assignment_spark.incremental import (
    DEFAULT_WATERMARK_START,
    WatermarkStore,
    run_incremental,
)
from pagila_etl_airflow_assignment_spark.incremental.upsert import merge_upsert
from pagila_etl_airflow_assignment_spark.plans.weekly_summary import (
    weekly_rental_summary,
)
from pagila_etl_airflow_assignment_spark.schemas import RENTAL
from pagila_etl_airflow_assignment_spark.sources.parquet import load_table
from pagila_etl_airflow_assignment_spark.sources.rental import rental_view

from conftest import SF_SMALL


@pytest.fixture(scope="module")
def rental(spark):
    return rental_view(load_table(spark, SF_SMALL, "orders")).cache()


@pytest.fixture()
def dirs():
    root = tempfile.mkdtemp(prefix="inc-test-")
    yield f"{root}/target", f"{root}/state"
    shutil.rmtree(root, ignore_errors=True)


def _target_rows(spark, target_dir):
    """Target contents minus the nondeterministic audit column (SURVEY H-8)."""
    df = spark.read.parquet(target_dir)
    return sorted(
        tuple(r) for r in df.drop("last_updated").collect()
    )


def _full_recompute_rows(rental_df):
    return sorted(
        (
            r.week_beginning,
            r.outstanding_rentals_at_week_end,
            r.returned_rentals_during_week,
            r.newly_rented_during_week,
            r.net_change_in_outstanding,
        )
        for r in weekly_rental_summary(rental_df).collect()
    )


def test_bootstrap_and_incremental_equals_full(spark, rental, dirs):
    """(b)+(c): from-empty bootstrap, then 3 insert batches (snapshots cut by
    last_update); after each incremental run, target == full recompute."""
    target_dir, state_dir = dirs
    # fixture activity spans 1995-01-01 .. 2001-08-01 (+45d returns)
    cuts = [dt.datetime(1996, 1, 1), dt.datetime(1999, 1, 1), dt.datetime(2005, 1, 1)]
    for i, cut in enumerate(cuts):
        snapshot = rental.where(F.col("last_update") <= F.lit(cut))
        report = run_incremental(spark, snapshot, target_dir, state_dir)
        assert report.watermark_reset == (i == 0)
        assert not report.noop
        assert _target_rows(spark, target_dir) == _full_recompute_rows(snapshot), (
            f"divergence after batch {i}"
        )


def test_update_months_old_row_heals_suffix(spark, rental, dirs):
    """(b) update case: a months-old rental gets its return_date changed
    (README.md:95-98 late-data scenario); incremental must converge to full."""
    target_dir, state_dir = dirs
    base = rental.where(F.col("last_update") <= F.lit(dt.datetime(1996, 1, 1)))
    run_incremental(spark, base, target_dir, state_dir)

    # mutate: pick an old returned rental, extend its return by 10 weeks,
    # touch last_update beyond the current max
    victim = base.where(F.col("return_date").isNotNull()).orderBy("rental_id").first()
    new_lu = dt.datetime(1996, 2, 1)
    mutated = base.where(F.col("rental_id") != victim.rental_id).unionByName(
        base.sparkSession.createDataFrame(
            [
                (
                    victim.rental_id,
                    victim.rental_date,
                    victim.return_date + dt.timedelta(weeks=10),
                    new_lu,
                )
            ],
            schema=RENTAL,
        )
    )
    report = run_incremental(spark, mutated, target_dir, state_dir)
    assert not report.noop
    assert report.delta_rows == 1
    assert _target_rows(spark, target_dir) == _full_recompute_rows(mutated)


def test_idempotent_rerun(spark, rental, dirs):
    """(a): second run on identical input is a no-op and changes nothing."""
    target_dir, state_dir = dirs
    run_incremental(spark, rental, target_dir, state_dir)
    before = _target_rows(spark, target_dir)
    report2 = run_incremental(spark, rental, target_dir, state_dir)
    assert report2.noop
    assert report2.weeks_written == 0
    assert _target_rows(spark, target_dir) == before


def test_noop_advances_watermark(spark, rental, dirs):
    """(d): watermark still advances to max(last_update) on a no-op run
    (etl_script_incremental_pandas.py:202-213)."""
    target_dir, state_dir = dirs
    r1 = run_incremental(spark, rental, target_dir, state_dir)
    store = WatermarkStore(state_dir)
    assert store.read("pagila_weekly_rental_summary") == r1.new_watermark
    r2 = run_incremental(spark, rental, target_dir, state_dir)
    assert r2.noop and r2.new_watermark == r1.new_watermark


def test_crash_between_merge_and_watermark_converges(spark, rental, dirs):
    """(e): crash after summary MERGE but before watermark advance; the rerun
    reprocesses the same half-open window and converges (O-8 ordering)."""
    target_dir, state_dir = dirs
    base = rental.where(F.col("last_update") <= F.lit(dt.datetime(1996, 1, 1)))
    run_incremental(spark, base, target_dir, state_dir)

    grown = rental.where(F.col("last_update") <= F.lit(dt.datetime(1998, 1, 1)))
    with pytest.raises(RuntimeError, match="injected crash"):
        run_incremental(
            spark, grown, target_dir, state_dir, fail_point="before_watermark"
        )
    # watermark must NOT have advanced
    store = WatermarkStore(state_dir)
    wm = store.read("pagila_weekly_rental_summary")
    assert wm < dt.datetime(1998, 1, 1)

    report = run_incremental(spark, grown, target_dir, state_dir)
    assert not report.noop  # the window was reprocessed
    assert _target_rows(spark, target_dir) == _full_recompute_rows(grown)


FAIL_POINTS = ("after_reset", "after_window", "before_merge", "before_watermark")


@pytest.mark.parametrize(
    "schedule",
    [
        {0: "after_reset"},
        {1: "after_window"},
        {1: "before_merge"},
        {2: "before_watermark", 3: "before_merge"},  # double fault
        {0: "after_reset", 1: "after_window", 2: "before_merge", 3: "before_watermark"},
    ],
    ids=["reset", "window", "merge", "double", "every-step"],
)
def test_crash_at_any_boundary_converges(spark, rental, dirs, schedule):
    """(e) generalized: crash the protocol at ANY named boundary, at any step
    of a 4-batch growth sequence (including repeated faults), then rerun —
    the target must equal the full recompute of the current snapshot after
    every healed step. This is the end-to-end certificate that the O-8
    write ordering (summary commit BEFORE watermark advance) makes every
    boundary crash recoverable by plain rerun."""
    target_dir, state_dir = dirs
    cuts = [
        dt.datetime(1996, 1, 1),
        dt.datetime(1997, 6, 1),
        dt.datetime(1999, 1, 1),
        dt.datetime(2005, 1, 1),
    ]
    for step, cut in enumerate(cuts):
        snapshot = rental.where(F.col("last_update") <= F.lit(cut))
        point = schedule.get(step)
        if point is not None:
            with pytest.raises(RuntimeError, match=f"injected crash at {point}"):
                run_incremental(
                    spark, snapshot, target_dir, state_dir, fail_point=point
                )
        run_incremental(spark, snapshot, target_dir, state_dir)
        assert _target_rows(spark, target_dir) == _full_recompute_rows(snapshot), (
            f"divergence after crash at {point!r} in step {step}"
        )
    # a final clean rerun is a no-op: the healed state is also quiescent
    final = run_incremental(spark, rental.where(F.col("last_update") <= F.lit(cuts[-1])),
                            target_dir, state_dir)
    assert final.noop


def test_watermark_store_default_and_roundtrip(spark, dirs):
    _, state_dir = dirs
    store = WatermarkStore(state_dir)
    assert store.read("anything") == DEFAULT_WATERMARK_START
    ts = dt.datetime(2001, 2, 3, 4, 5, 6)
    store.write("p1", ts)
    store.write("p2", dt.datetime(1999, 1, 1))
    store.write("p1", ts + dt.timedelta(days=1))  # upsert overwrites
    assert store.read("p1") == ts + dt.timedelta(days=1)
    assert store.read("p2") == dt.datetime(1999, 1, 1)


def _spark_jobs(spark, fn) -> int:
    """Spark jobs that ``fn`` runs, counted through a job group."""
    sc = spark.sparkContext
    gid = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(gid, gid)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status tracker is fed by the listener bus, which lags the job
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(gid))


def test_run_spark_job_budget(spark, rental, dirs):
    """Spark does only the fact-table work: the probe aggregate, plus the
    summary plan when weeks are dirty. The summary and watermark tables are
    read and published in the driver, so they cost no Spark job."""
    target_dir, state_dir = dirs
    run_incremental(
        spark, rental.where(F.col("last_update") <= F.lit(dt.datetime(1996, 1, 1))),
        target_dir, state_dir,
    )
    grown = rental.where(F.col("last_update") <= F.lit(dt.datetime(1998, 1, 1)))
    plan_jobs = _spark_jobs(spark, lambda: weekly_rental_summary(grown).collect())
    reports = []
    dirty_jobs = _spark_jobs(
        spark, lambda: reports.append(run_incremental(spark, grown, target_dir, state_dir))
    )
    noop_jobs = _spark_jobs(
        spark, lambda: reports.append(run_incremental(spark, grown, target_dir, state_dir))
    )
    assert [r.noop for r in reports] == [False, True]
    assert dirty_jobs <= plan_jobs + 2
    assert noop_jobs <= 2


_UPSERT_CASES = {
    # the summary's one-column key: the update wins, other keys survive
    "one-key": (
        ["k"],
        pa.table({"k": [1, 2, 3], "v": ["a", "b", "c"]}),
        pa.table({"k": [2, 4], "v": ["B", "d"]}),
        [(1, "a"), (2, "B"), (3, "c"), (4, "d")],
    ),
    # the streaming sink's two-column key: only full-key matches are replaced
    "two-key": (
        ["k", "j"],
        pa.table({"k": [1, 1, 2], "j": ["x", "y", "x"], "v": ["a", "b", "c"]}),
        pa.table({"k": [1, 2], "j": ["y", "y"], "v": ["B", "d"]}),
        [(1, "x", "a"), (1, "y", "B"), (2, "x", "c"), (2, "y", "d")],
    ),
}


@pytest.mark.parametrize("case", list(_UPSERT_CASES))
def test_merge_upsert(spark, tmp_path, case):
    """A keyed upsert leaves exactly one visible data file and no sibling
    directories; a hidden temp file left by a crashed publish is invisible to
    Spark and to pyarrow."""
    key, base, updates, expected = _UPSERT_CASES[case]
    target = str(tmp_path / "target")
    assert merge_upsert(target, base, key) == base.num_rows
    # a publish that crashed before its rename leaves a hidden temp file
    pq.write_table(updates, os.path.join(target, ".tmp-crashed.parquet"))
    assert merge_upsert(target, updates, key) == len(expected)

    visible = [f for f in os.listdir(target) if not f.startswith(".")]
    assert len(visible) == 1 and visible[0].endswith(".parquet")
    assert os.listdir(tmp_path) == ["target"]
    assert sorted(tuple(r) for r in spark.read.parquet(target).collect()) == expected
    got = pq.read_table(target).to_pylist()
    assert sorted(tuple(r.values()) for r in got) == expected
