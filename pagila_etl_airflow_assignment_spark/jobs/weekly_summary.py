"""CLI entry point (SURVEY.md §3 entry point 2):

    python -m pagila_etl_airflow_assignment_spark.jobs.weekly_summary \
        --source /root/testdata/sf0.001 --target /tmp/out/target \
        --state /tmp/out/state [--full] [--show]

Mirrors the reference's `python etl_script_incremental_pandas.py` dev path
(etl_script_incremental_pandas.py:300-333) on the Spark engine.
"""

from __future__ import annotations

import argparse

from ..incremental import run_incremental
from ..plans.weekly_summary import weekly_rental_summary
from ..session import build_session
from ..sources.rental import load_rental


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="Weekly rental summary ETL (Spark)")
    p.add_argument("--source", required=True, help="fixture dir containing orders.parquet")
    p.add_argument("--target", required=True, help="summary table output dir")
    p.add_argument("--state", required=True, help="watermark state dir")
    p.add_argument("--full", action="store_true", help="print full recompute instead of incremental run")
    p.add_argument("--show", action="store_true", help="show the resulting summary")
    args = p.parse_args(argv)

    spark = build_session(app_name="weekly-summary-job")
    rental = load_rental(spark, args.source)
    if args.full:
        df = weekly_rental_summary(rental)
        print(f"full recompute: {df.count()} weeks")
        if args.show:
            df.show(10, truncate=False)
    else:
        report = run_incremental(spark, rental, args.target, args.state)
        print(
            f"incremental: delta_rows={report.delta_rows} "
            f"weeks_written={report.weeks_written} noop={report.noop} "
            f"watermark {report.previous_watermark} -> {report.new_watermark} "
            f"scanned={report.source_scanned}"
        )
        if args.show:
            spark.read.parquet(args.target).orderBy("week_beginning").show(
                10, truncate=False
            )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
