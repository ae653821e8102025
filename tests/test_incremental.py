"""T2 protocol property tests (SURVEY.md §5): the differential checks the
reference intended but never automated.

(a) idempotency            — rerun on same input leaves target unchanged
(b) incremental ≡ full     — after K mutation batches, target == full recompute
(c) from-empty bootstrap   — empty target ⇒ watermark reset ⇒ full history
(d) no-op run              — no changes ⇒ watermark advances, zero writes
(e) crash safety           — crash between summary write and watermark ⇒ rerun converges

plus the driver-side keyed upsert the summary and watermark tables go
through, the Spark job budget of a run, a later ``as_of`` on an
unchanged snapshot, the CLI entry point, and the no-change shortcut that
decides from parquet footer statistics instead of the source aggregate.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import subprocess
import sys
import tempfile
from dataclasses import replace

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from pagila_etl_airflow_assignment_spark.incremental import (
    DEFAULT_WATERMARK_START,
    WatermarkStore,
    run_incremental,
)
from pagila_etl_airflow_assignment_spark.incremental.upsert import (
    TABLE_FILE,
    merge_upsert,
)
from pagila_etl_airflow_assignment_spark.plans.weekly_summary import (
    weekly_rental_summary_sql,
)
from pagila_etl_airflow_assignment_spark.schemas import RENTAL
from pagila_etl_airflow_assignment_spark.sources.parquet import load_table
from pagila_etl_airflow_assignment_spark.sources.rental import rental_view

from conftest import SF_SMALL, rental_arrow, spark_jobs


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


def _as_files(df, root):
    """``df``'s rows as one micros-UTC parquet file, read back as a bare scan."""
    pq.write_table(df.toArrow().cast(to_arrow_schema(RENTAL)), f"{root}/rental.parquet")
    return load_table(df.sparkSession, str(root), "rental")


def _full_recompute_rows(rental_df, as_of=None):
    """The full recompute in the literal correlated-SQL form, which shares no
    code with the runner's driver-side summation."""
    spark = rental_df.sparkSession
    return sorted(
        (
            r.week_beginning,
            r.outstanding_rentals_at_week_end,
            r.returned_rentals_during_week,
            r.newly_rented_during_week,
            r.net_change_in_outstanding,
        )
        for r in weekly_rental_summary_sql(spark, rental_df, as_of=as_of).collect()
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


def test_later_as_of_extends_target_spine(spark, dirs):
    """A rerun with a later ``as_of`` on the same snapshot backfills the weeks
    the full recompute's spine gains (open rentals stay outstanding up to the
    week of ``as_of``), even though no row changed."""
    target_dir, state_dir = dirs
    day = lambda d: dt.datetime(2024, 1, d, 10)
    snapshot = spark.createDataFrame(
        [
            (1, day(3), day(9), day(9)),
            (2, day(4), None, day(4)),  # still open: outstanding up to as_of
            (3, day(10), day(12), day(12)),
        ],
        schema=RENTAL,
    )
    run_incremental(spark, snapshot, target_dir, state_dir, as_of=dt.date(2024, 1, 14))
    later = dt.date(2024, 2, 5)
    report = run_incremental(spark, snapshot, target_dir, state_dir, as_of=later)
    assert report.delta_rows == 0
    full = _full_recompute_rows(snapshot, as_of=later)
    assert len(full) == 6
    assert _target_rows(spark, target_dir) == full


def test_idempotent_rerun(spark, rental, dirs):
    """(a): second run on identical input is a no-op and changes nothing."""
    target_dir, state_dir = dirs
    run_incremental(spark, rental, target_dir, state_dir)
    before = _target_rows(spark, target_dir)
    report2 = run_incremental(spark, rental, target_dir, state_dir)
    assert report2.noop
    assert report2.source_scanned  # a derived view: no footer bounds it
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


@pytest.mark.parametrize("source", ["view", "files"])
def test_noop_run_writes_nothing(spark, rental, dirs, tmp_path, source):
    """(d): a no-op run writes nothing, on the aggregate path (a derived
    view) and on the footer path (the same rows as parquet files): the
    target and the watermark file keep their inode and mtime."""
    target_dir, state_dir = dirs
    df = _as_files(rental, tmp_path) if source == "files" else rental
    run_incremental(spark, df, target_dir, state_dir)
    files = [os.path.join(d, TABLE_FILE) for d in dirs]
    stat = lambda: [(s.st_ino, s.st_mtime_ns) for s in map(os.stat, files)]
    before = stat()
    report = run_incremental(spark, df, target_dir, state_dir)
    assert report.noop and report.source_scanned == (source == "view")
    assert stat() == before


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


def test_run_spark_job_budget(spark, rental, dirs, tmp_path):
    """Spark does only the fact-table work, one aggregate per run whether
    weeks are dirty or not. The summary is summed and both small tables are
    read and published in the driver, so they cost no Spark job. A no-op
    over parquet files is decided from their footers and costs none."""
    target_dir, state_dir = dirs
    run_incremental(
        spark, rental.where(F.col("last_update") <= F.lit(dt.datetime(1996, 1, 1))),
        target_dir, state_dir,
    )
    grown = rental.where(F.col("last_update") <= F.lit(dt.datetime(1998, 1, 1)))
    reports = []
    dirty_jobs = spark_jobs(
        spark, lambda: reports.append(run_incremental(spark, grown, target_dir, state_dir))
    )
    noop_jobs = spark_jobs(
        spark, lambda: reports.append(run_incremental(spark, grown, target_dir, state_dir))
    )
    files = _as_files(grown, tmp_path)
    footer_jobs = spark_jobs(
        spark, lambda: reports.append(run_incremental(spark, files, target_dir, state_dir))
    )
    assert [r.noop for r in reports] == [False, True, True]
    assert [r.source_scanned for r in reports] == [True, True, False]
    assert dirty_jobs <= 2
    assert noop_jobs <= 2
    assert footer_jobs == 0


def test_cli_bootstraps_then_noops_and_equals_full(rental, dirs):
    """The CLI entry point (``jobs.weekly_summary.main``, which ``python -m``
    and the Airflow task call), run twice in a child process: the first run
    bootstraps from the default watermark, the rerun on the same source is a
    no-op, and the target equals the full recompute. A child process, because
    ``main`` builds its own session and stops it; both runs share its JVM."""
    target_dir, state_dir = dirs
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_DRIVER_MEMORY="512m", SPARK_GRAFT_CPUS="2")
    code = (
        "import sys\n"
        "from pagila_etl_airflow_assignment_spark.jobs.weekly_summary import main\n"
        "main(sys.argv[1:])\n"
        "main(sys.argv[1:])\n"
    )
    argv = ["--source", SF_SMALL, "--target", target_dir, "--state", state_dir]
    out = subprocess.run(
        [sys.executable, "-c", code, *argv],
        cwd=repo, env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    first, second = out.stdout.splitlines()
    assert first.startswith(f"incremental: delta_rows={rental.count()} "), first
    assert "noop=False" in first and "watermark 1900-01-01 00:00:00 ->" in first
    assert "delta_rows=0 " in second and "noop=True" in second, second
    # the CLI reads a derived view, which footers do not bound
    assert first.endswith(" scanned=True") and second.endswith(" scanned=True")
    assert _target_rows(rental.sparkSession, target_dir) == _full_recompute_rows(rental)


def test_dag_task_calls_the_cli_with_env_dirs(monkeypatch):
    """The Airflow task is the CLI entry point, its three dirs taken from the
    PAGILA_{SOURCE,TARGET,STATE}_DIR environment variables."""
    from pagila_etl_airflow_assignment_spark.airflow_dags import weekly_summary_dag
    from pagila_etl_airflow_assignment_spark.jobs import weekly_summary

    calls = []
    monkeypatch.setattr(weekly_summary, "main", calls.append)
    monkeypatch.setenv("PAGILA_SOURCE_DIR", "/src")
    monkeypatch.setenv("PAGILA_TARGET_DIR", "/tgt")
    monkeypatch.setenv("PAGILA_STATE_DIR", "/state")
    weekly_summary_dag._run()
    assert calls == [["--source", "/src", "--target", "/tgt", "--state", "/state"]]


_UPSERT_CASES = {
    # the summary's one-column key: the update wins, other keys survive
    "one-key": (
        "k",
        pa.table({"k": [1, 2, 3], "v": ["a", "b", "c"]}),
        pa.table({"k": [2, 4], "v": ["B", "d"]}),
        [(1, "a"), (2, "B"), (3, "c"), (4, "d")],
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


# ---- the no-change shortcut: parquet footers instead of the aggregate -------
# Each case bootstraps from a small rental source (``rental_arrow`` as
# pyarrow micros-UTC files) and reruns on a source in which no row changed
# since the watermark. Only a rerun over plain micros-UTC files takes the
# footer path; every other case runs the aggregate, with the outcome it had
# before the shortcut existed.
AS_OF = dt.date(2024, 1, 24)  # the target's last week begins 2024-01-22
_MICROS_UTC = pa.timestamp("us", tz="UTC")


def _write_rental(root, table, name="part-0.parquet", **kw):
    os.makedirs(f"{root}/rental.parquet", exist_ok=True)
    pq.write_table(table, f"{root}/rental.parquet/{name}", **kw)


def _spark_written(spark, root, boot):
    """The bootstrap rows written by Spark (INT96 timestamps by default)."""
    load_table(spark, boot, "rental").write.parquet(f"{root}/rental.parquet")


def _appended_row(return_date, last_update):
    """The bootstrap file plus a file with one more rental, rented 2024-01-10."""

    def change(spark, root, boot):
        shutil.copytree(f"{boot}/rental.parquet", f"{root}/rental.parquet")
        row = [7, dt.datetime(2024, 1, 10), return_date, last_update]
        types = [pa.int64()] + [_MICROS_UTC] * 3
        names = ["rental_id", "rental_date", "return_date", "last_update"]
        table = pa.table([pa.array([v], t) for v, t in zip(row, types)], names=names)
        _write_rental(root, table, name="part-1.parquet")

    return change


# case: (how the rerun's source differs from the bootstrap's, the rerun's as_of)
_SHORTCUT_CASES = {
    "micros_utc": (None, AS_OF),
    # an open rental's row group has no return_date min/max: skipped
    "one_row_groups": ({"row_group_size": 1}, AS_OF),
    "derived_view": ("view", AS_OF),
    "spark_int96": (_spark_written, AS_OF),
    "micros_ntz": (pa.timestamp("us"), AS_OF),
    "no_statistics": ({"write_statistics": False}, AS_OF),
    "later_as_of": (None, dt.date(2024, 2, 7)),  # must backfill
    # last_update older than the watermark, return week past the target's
    # last week: must backfill
    "old_row_extends_spine": (
        _appended_row(dt.datetime(2024, 2, 1), dt.datetime(2024, 1, 5)), AS_OF
    ),
    # a changed row inside the target's weeks: must recompute
    "new_row": (
        _appended_row(dt.datetime(2024, 1, 12), dt.datetime(2024, 1, 22)), AS_OF
    ),
}


def _rerun_source(spark, root, boot, change):
    """The rerun's DataFrame: the bootstrap files, changed as a case says."""
    rerun = boot if change in (None, "view") else f"{root}/rerun"
    if isinstance(change, pa.DataType):
        _write_rental(rerun, rental_arrow(change))
    elif isinstance(change, dict):
        _write_rental(rerun, rental_arrow(_MICROS_UTC), **change)
    elif callable(change):
        change(spark, rerun, boot)
    df = load_table(spark, rerun, "rental")
    return df.where(F.col("rental_id") > 0) if change == "view" else df


def _bootstrapped(spark, boot, out):
    """Target and state dirs under ``out`` after a bootstrap from ``boot``."""
    target_dir, state_dir = f"{out}/target", f"{out}/state"
    run_incremental(spark, load_table(spark, boot, "rental"), target_dir, state_dir,
                    as_of=AS_OF)
    return target_dir, state_dir


@pytest.mark.parametrize("case", list(_SHORTCUT_CASES))
def test_footer_noop_equals_the_aggregate_path(spark, tmp_path, case):
    """A rerun's report (but for ``source_scanned``) and target equal those of
    the same source forced through the aggregate path by a projection. Only
    the plain micros-UTC reruns are decided from footers, and they run no
    Spark job."""
    change, as_of = _SHORTCUT_CASES[case]
    boot = f"{tmp_path}/boot"
    _write_rental(boot, rental_arrow(_MICROS_UTC))
    rerun = _rerun_source(spark, tmp_path, boot, change)

    case_dirs = _bootstrapped(spark, boot, f"{tmp_path}/case")
    reports = []
    jobs = spark_jobs(spark, lambda: reports.append(
        run_incremental(spark, rerun, *case_dirs, as_of=as_of)))
    forced_dirs = _bootstrapped(spark, boot, f"{tmp_path}/forced")
    forced = run_incremental(spark, rerun.select(*rerun.columns), *forced_dirs,
                             as_of=as_of)

    (report,) = reports
    footer_path = case in ("micros_utc", "one_row_groups")
    assert report.source_scanned == (not footer_path) == (jobs > 0)
    assert forced.source_scanned
    assert replace(report, source_scanned=True) == forced
    assert report.noop == (
        case not in ("later_as_of", "old_row_extends_spine", "new_row")
    )
    assert _target_rows(spark, case_dirs[0]) == _target_rows(spark, forced_dirs[0])


def test_footer_path_declines_nanos_which_still_fails_on_the_scan(spark, tmp_path):
    """A nanos rental's footers decline, so the rerun scans and fails as the
    declared read always has, instead of returning a no-op."""
    boot = f"{tmp_path}/boot"
    _write_rental(boot, rental_arrow(_MICROS_UTC))
    _write_rental(f"{tmp_path}/nanos", rental_arrow(pa.timestamp("ns")), version="2.6")
    rerun = load_table(spark, f"{tmp_path}/nanos", "rental")
    dirs = _bootstrapped(spark, boot, tmp_path)
    with pytest.raises(Exception, match="PARQUET_COLUMN_DATA_TYPE_MISMATCH"):
        run_incremental(spark, rerun, *dirs, as_of=AS_OF)


def test_footer_path_honours_after_window_fail_point(spark, tmp_path):
    """The footer path crashes at the same named boundary as the aggregate
    path, and a crashed no-op leaves nothing for the rerun to heal."""
    boot = f"{tmp_path}/boot"
    _write_rental(boot, rental_arrow(_MICROS_UTC))
    dirs = _bootstrapped(spark, boot, tmp_path)
    rental = load_table(spark, boot, "rental")

    def crash():
        with pytest.raises(RuntimeError, match="injected crash at after_window"):
            run_incremental(
                spark, rental, *dirs, as_of=AS_OF, fail_point="after_window"
            )

    assert spark_jobs(spark, crash) == 0  # it crashed on the footer path
    assert not run_incremental(spark, rental, *dirs, as_of=AS_OF).source_scanned
