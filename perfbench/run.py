"""Benchmark for the weekly rental ETL: incremental runs and full recompute.

Run from the repository root:

    python3 perfbench/run.py --workload weekly_incremental --seed 1 --seconds 8 --trace 0

Workloads (closed loop, one client, ``local[N]`` with N = usable CPUs):

* ``weekly_incremental``: the scheduled job. A seeded rental source gets one
  bootstrap run, then a fixed cycle of change batches, each followed by a
  ``run_incremental`` call, with a no-change run after each batch. The
  post-bootstrap target and watermark are restored between cycles (untimed),
  so every cycle replays the same ops.
* ``weekly_full``: ``weekly_rental_summary(...).collect()`` over the latest
  snapshot of the same source; read-only.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs every layer
once more with spans (session, sources, plans, incremental, and a pass over a
fixed list of catalog queries from the operators / llm / streaming families)
and prints the per-layer metrics; the spans go to ``.bench_out/``.
Every op's output is checked outside the timed region; a mismatch or an error
counts as a failed op. The last stdout line is one JSON object.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from check import (  # noqa: E402
    duckdb_connect,
    rows_match,
    target_rows,
    weekly_summary_oracle,
)
from gen import RentalHistory, catalog_tables, write_files  # noqa: E402
from spans import JobCounter, Tracer, peak_rss_mb, tree_state, written  # noqa: E402

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_work")
OUT = os.path.join(ROOT, ".bench_out")

WORKLOADS = ("weekly_incremental", "weekly_full")

RENTAL_ROWS = 200_000
RENTAL_FILES = 8
BATCHES = 2
LATE_BATCHES = {2}
LATE_ROWS = RENTAL_ROWS // 200
# (snapshot, kind): each batch is followed by a run with no new changes
CYCLE = ((1, "delta"), (1, "noop"), (2, "late"), (2, "noop"))
SETUP_ROUNDS = 3
WARMUP_FULL = 30
WARMUP_CYCLES = 2
DRIVER_MEMORY = "3g"
# summary row payload: DATE + 4 x INT + TIMESTAMP; watermark row: name + TIMESTAMP
SUMMARY_ROW_BYTES = 4 + 4 * 4 + 8

# Catalog queries timed by the traced run: steady when warm, each with a
# DuckDB oracle, reading only the generated orders / lineitem / events.
CATALOG = (
    ("operators", "warehouse_pricing_summary"),
    ("operators", "warehouse_late_order_priority"),
    ("operators", "events_hourly_unique_users"),
    ("operators", "cdc_partition_checksums"),
    ("llm", "events_median_value_udaf"),
    ("llm", "sampling_temporal_split"),
    ("streaming", "events_hourly_tumbling"),
    ("streaming", "events_user_totals"),
)
CATALOG_ORDERS = 50_000
CATALOG_EVENTS = 60_000
TRACE_REPS = 5
TRACE_CYCLES = 2
TRACE_PASSES = 2


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def configure_env() -> dict[str, str]:
    """Keep every file Spark, the JVM and Python write inside the checkout,
    and size the session to the machine. Must run before the program is
    imported: the session module reads SPARK_GRAFT_CPUS at import."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # The heap is fixed at its maximum: release_session_state runs a full GC
    # before every op, and a resizable heap shrinks after it and regrows
    # during the op by a different amount in each JVM, which shows up as
    # run-to-run spread in op times.
    return {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={tmp} -Dderby.system.home={WORK}"
            " -XX:-UsePerfData"
        ),
        "spark.ui.showConsoleProgress": "false",
    }


def median(xs):
    """Median of the ops that completed; raises if none did."""
    return statistics.median([x for x in xs if x is not None])


class Bench:
    """One benchmark process: the session, the generated inputs, the op and
    failure counters, and the tracer."""

    def __init__(self, args, conf):
        self.args = args
        self.conf = conf
        self.tracer = Tracer(bool(args.trace))
        self.con = duckdb_connect(int(os.environ["SPARK_GRAFT_CPUS"]))
        self.spark = None
        self.jvm_proc = None
        self.attempted = 0
        self.failed = 0

    # ---- session -------------------------------------------------------
    def start_session(self) -> float:
        from pagila_etl_airflow_assignment_spark.session import build_session
        from pyspark import SparkContext

        t0 = time.perf_counter()
        with self.tracer.span("session.build"):
            self.spark = build_session(app_name="perfbench", extra_conf=self.conf)
        dt = time.perf_counter() - t0
        self.jvm_proc = SparkContext._gateway.proc
        self.jobs = JobCounter(self.spark)
        return dt

    def restart_session(self) -> None:
        self.spark.stop()
        self.start_session()

    def release(self) -> None:
        from pagila_etl_airflow_assignment_spark.session import release_session_state

        release_session_state(self.spark)

    def shutdown(self) -> None:
        """Stop Spark, end the JVM and wait for it and its worker processes."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        proc = self.jvm_proc
        kids = _descendants(proc.pid)
        try:
            self.spark.stop()
            SparkContext._gateway.shutdown()
        finally:
            if proc.stdin:
                proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
            deadline = time.monotonic() + 15
            while kids and time.monotonic() < deadline:
                kids = [k for k in kids if os.path.exists(f"/proc/{k}")]
                time.sleep(0.1)
            for k in kids:
                try:
                    os.kill(k, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            self.spark = None

    # ---- ops ------------------------------------------------------------
    def op(self, name: str, fn, check):
        """Run one op: returns (seconds, result, jobs, tasks). ``check(result)``
        runs untimed; an error or a failed check counts the op as failed."""
        self.release()
        self.attempted += 1
        self.tracer.op = self.attempted
        try:
            with self.jobs.group() as gid:
                t0 = time.perf_counter()
                with self.tracer.span(name):
                    result = fn()
                dt = time.perf_counter() - t0
            ok = check(result)
        except Exception:
            log(f"op {name} raised:\n{traceback.format_exc()}")
            self.failed += 1
            return None, None, 0, 0
        log(f"{name} {dt:.3f}s")
        if not ok:
            log(f"op {name}: output does not match the oracle")
            self.failed += 1
        jobs, tasks = self.jobs.counts(gid) if self.args.trace else (0, 0)
        return dt, result, jobs, tasks

    def peak_rss_mb(self) -> float:
        return peak_rss_mb(self.jvm_proc.pid if self.jvm_proc else None)


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


# ---- rental source --------------------------------------------------------
class RentalSource:
    """Seeded snapshots S0 (base) .. S<BATCHES> on disk, with the oracle
    summary of each and the weeks whose values each batch changes."""

    def __init__(self, bench: Bench, seed: int, snapshots):
        hist = RentalHistory(seed, RENTAL_ROWS, BATCHES, LATE_BATCHES, LATE_ROWS)
        self.dirs, self.layout, self.expected = {}, {}, {}
        for k in snapshots:
            d = os.path.join(WORK, f"rental_s{k}")
            table_dir = os.path.join(d, "rental.parquet")
            self.layout[k] = write_files(hist.snapshot(k), table_dir, RENTAL_FILES)
            self.expected[k] = weekly_summary_oracle(bench.con, table_dir)
            self.dirs[k] = d
        log(f"rental snapshots {self.layout}")

    def changed_weeks(self, k: int) -> int:
        before = {r[0]: r for r in self.expected[k - 1]}
        return sum(1 for r in self.expected[k] if before.get(r[0]) != r)


def full_recompute(bench: Bench, src: RentalSource, k: int):
    from pagila_etl_airflow_assignment_spark.plans.weekly_summary import (
        weekly_rental_summary,
    )
    from pagila_etl_airflow_assignment_spark.sources.parquet import load_table

    def fn():
        return weekly_rental_summary(load_table(bench.spark, src.dirs[k], "rental")).collect()

    return bench.op(
        "plans.weekly_summary",
        fn,
        lambda rows: rows_match([tuple(r) for r in rows], src.expected[k]),
    )


class IncrementalTarget:
    """The target and watermark dirs, with a saved post-bootstrap copy."""

    def __init__(self):
        self.tgt = os.path.join(WORK, "weekly_rental_summary")
        self.state = os.path.join(WORK, "etl_watermarks")
        self.saved = os.path.join(WORK, "post_bootstrap")

    def clear(self):
        for d in (self.tgt, self.state):
            shutil.rmtree(d, ignore_errors=True)

    def save(self):
        shutil.rmtree(self.saved, ignore_errors=True)
        for d in (self.tgt, self.state):
            shutil.copytree(d, os.path.join(self.saved, os.path.basename(d)))

    def restore(self):
        self.clear()
        for d in (self.tgt, self.state):
            shutil.copytree(os.path.join(self.saved, os.path.basename(d)), d)


def incremental_run(bench: Bench, src: RentalSource, tgt: IncrementalTarget, k: int):
    from pagila_etl_airflow_assignment_spark.incremental.runner import run_incremental
    from pagila_etl_airflow_assignment_spark.sources.parquet import load_table

    def fn():
        return run_incremental(
            bench.spark, load_table(bench.spark, src.dirs[k], "rental"), tgt.tgt, tgt.state
        )

    return bench.op(
        "incremental.run",
        fn,
        lambda rep: rows_match(target_rows(tgt.tgt), src.expected[k]),
    )


def replay_cycle(bench: Bench, src: RentalSource, tgt: IncrementalTarget) -> list:
    """Restore the post-bootstrap state (untimed), then one run per CYCLE
    step; returns each run's seconds (None for a run that raised)."""
    tgt.restore()
    return [incremental_run(bench, src, tgt, k)[0] for k, _ in CYCLE]


def bootstrap(bench: Bench, src: RentalSource, tgt: IncrementalTarget):
    tgt.clear()
    out = incremental_run(bench, src, tgt, 0)
    tgt.save()
    return out


# ---- untraced workloads -----------------------------------------------------
def setup_rounds(bench: Bench, first_op) -> float:
    """Median over SETUP_ROUNDS of: (re)build the session, then the first op
    (bootstrap or first recompute). Round 1 includes the JVM launch."""
    samples = []
    for r in range(SETUP_ROUNDS):
        t0 = time.perf_counter()
        if r == 0:
            bench.start_session()
        else:
            bench.restart_session()
        first_op()
        samples.append(time.perf_counter() - t0)
    log(f"setup rounds {samples}")
    return median(samples)


def weekly_incremental(bench: Bench, seconds: float) -> dict:
    src = RentalSource(bench, bench.args.seed, range(BATCHES + 1))
    tgt = IncrementalTarget()
    setup_s = setup_rounds(bench, lambda: bootstrap(bench, src, tgt))
    for _ in range(WARMUP_CYCLES):
        replay_cycle(bench, src, tgt)
    log("warm")
    cycles = []
    t_end = time.perf_counter() + seconds
    while time.perf_counter() < t_end:
        times = replay_cycle(bench, src, tgt)
        log(f"cycle run times {times}")
        if None not in times:
            cycles.append(sum(times) / len(times))
    # mean wall time of one scheduled run over the change cycle, median over cycles
    return {"setup_s": (setup_s, "s"), "op_s": (median(cycles), "s")}


def weekly_full(bench: Bench, seconds: float) -> dict:
    src = RentalSource(bench, bench.args.seed, [BATCHES])
    setup_s = setup_rounds(bench, lambda: full_recompute(bench, src, BATCHES))
    for _ in range(WARMUP_FULL):
        full_recompute(bench, src, BATCHES)
    log("warm")
    times = []
    t_end = time.perf_counter() + seconds
    while time.perf_counter() < t_end:
        dt, *_ = full_recompute(bench, src, BATCHES)
        if dt is not None:
            times.append(dt)
    log(f"recompute times {times}")
    return {"setup_s": (setup_s, "s"), "op_s": (median(times), "s")}


# ---- traced run -------------------------------------------------------------
def traced_layers(bench: Bench) -> dict:
    """Every layer once more with spans, on this seed's inputs."""
    from pyspark.sql import functions as F

    from pagila_etl_airflow_assignment_spark.incremental import runner
    from pagila_etl_airflow_assignment_spark.incremental.watermark import WatermarkStore
    from pagila_etl_airflow_assignment_spark.sources.parquet import load_table

    tr = bench.tracer
    m: dict[str, tuple] = {}
    src = RentalSource(bench, bench.args.seed, range(BATCHES + 1))
    catalog = CatalogInputs(bench, bench.args.seed)
    m["session.build_s"] = (bench.start_session(), "s")
    for _ in range(WARMUP_FULL):
        full_recompute(bench, src, BATCHES)

    scans = []
    for _ in range(TRACE_REPS):
        dt, *_ = bench.op(
            "sources.scan",
            lambda: load_table(bench.spark, src.dirs[BATCHES], "rental")
            .agg(F.count("*"), F.max("last_update"), F.min("rental_date"))
            .collect(),
            lambda rows: rows[0][0] == src.layout[BATCHES]["rows"],
        )
        scans.append(dt)
    m["sources.scan_s"] = (median(scans), "s")

    plan = [full_recompute(bench, src, BATCHES) for _ in range(TRACE_REPS)]
    m["plans.weekly_summary_s"] = (median([p[0] for p in plan]), "s")
    m["plans.spark_jobs"] = (median([p[2] for p in plan]), "count")

    # spans around the layer calls the runner makes
    patched = {
        (WatermarkStore, "read"): "incremental.watermark_read",
        (WatermarkStore, "write"): "incremental.watermark_write",
        (runner, "merge_upsert"): "incremental.merge_upsert",
        (runner, "read_parquet_table"): "incremental.read_target",
        (runner, "weekly_rental_summary"): "plans.weekly_summary_build",
    }
    originals = {key: getattr(*key) for key in patched}
    for (obj, attr), name in patched.items():
        setattr(obj, attr, tr.wrap(name, originals[(obj, attr)]))
    tgt = IncrementalTarget()
    try:
        bootstrap(bench, src, tgt)
        per: dict[str, list] = {"delta": [], "late": [], "noop": []}
        for _ in range(TRACE_CYCLES):
            tgt.restore()
            for k, kind in CYCLE:
                before = tree_state(tgt.tgt, tgt.state)
                dt, rep, jobs, tasks = incremental_run(bench, src, tgt, k)
                files, nbytes = written(before, tree_state(tgt.tgt, tgt.state))
                op = bench.attempted
                changed = src.changed_weeks(k) if kind != "noop" else 0
                advanced = rep is not None and rep.new_watermark != rep.previous_watermark
                per[kind].append(
                    {
                        "s": dt,
                        "jobs": jobs,
                        "tasks": tasks,
                        "files": files,
                        "bytes": nbytes,
                        "user_bytes": changed * SUMMARY_ROW_BYTES
                        + (len(runner.ETL_PROCESS_NAME) + 8 if advanced else 0),
                        "changed": changed,
                        "rewritten": rep.weeks_written if rep else 0,
                        "wm_read": tr.total("incremental.watermark_read", op),
                        "wm_write": tr.total("incremental.watermark_write", op),
                        "merge": tr.total("incremental.merge_upsert", op),
                        "self": tr.self_time("incremental.run", op),
                    }
                )
    finally:
        for key, fn in originals.items():
            setattr(*key, fn)
    allops = [o for ops in per.values() for o in ops]
    for kind, ops in per.items():
        m[f"incremental.{kind}_run_s"] = (median([o["s"] for o in ops]), "s")
        m[f"incremental.{kind}.spark_jobs"] = (median([o["jobs"] for o in ops]), "count")
        m[f"incremental.{kind}.spark_tasks"] = (median([o["tasks"] for o in ops]), "count")
    m["incremental.watermark_read_s"] = (median([o["wm_read"] for o in allops]), "s")
    m["incremental.watermark_write_s"] = (median([o["wm_write"] for o in allops]), "s")
    m["incremental.merge_upsert_s"] = (
        median([o["merge"] for o in per["delta"] + per["late"]]),
        "s",
    )
    m["incremental.runner_self_s"] = (median([o["self"] for o in per["delta"]]), "s")
    m["incremental.bytes_written_per_user_byte"] = (
        sum(o["bytes"] for o in allops) / max(1, sum(o["user_bytes"] for o in allops)),
        "ratio",
    )
    m["incremental.files_written_per_run"] = (median([o["files"] for o in allops]), "count")
    for kind in ("delta", "late"):
        ops = per[kind]
        m[f"incremental.{kind}.rewrite_useful_ratio"] = (
            sum(o["changed"] for o in ops) / max(1, sum(o["rewritten"] for o in ops)),
            "ratio",
        )

    m.update(catalog.passes(TRACE_PASSES))
    return m


class CatalogInputs:
    """Seeded orders / lineitem / events tables and the DuckDB oracle result
    of each catalog query over them."""

    def __init__(self, bench: Bench, seed: int):
        from pagila_etl_airflow_assignment_spark.registry import oracle_sql, queries

        self.bench = bench
        self.dir = os.path.join(WORK, "catalog")
        os.makedirs(self.dir, exist_ok=True)
        for name, table in catalog_tables(seed, CATALOG_ORDERS, CATALOG_EVENTS).items():
            path = os.path.join(self.dir, f"{name}.parquet")
            pq.write_table(table, path)
            bench.con.execute(
                f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
            )
        self.queries = queries()
        oracles = oracle_sql()
        self.expected = {}
        for _, q in CATALOG:
            rel = bench.con.sql(oracles[q])
            self.expected[q] = (list(rel.columns), [tuple(r) for r in rel.fetchall()])

    def _check(self, q: str, df_rows):
        cols, rows = df_rows
        want_cols, want = self.expected[q]
        if sorted(cols) != sorted(want_cols):
            return False
        order = [cols.index(c) for c in sorted(cols)]
        worder = [want_cols.index(c) for c in sorted(want_cols)]
        return rows_match(
            [tuple(r[i] for i in order) for r in rows],
            [tuple(r[i] for i in worder) for r in want],
        )

    def passes(self, n: int) -> dict:
        b = self.bench
        times: dict[str, list] = {q: [] for _, q in CATALOG}
        jobs: dict[str, list] = {q: [] for _, q in CATALOG}
        for _ in range(n + 1):  # the first pass warms each plan up
            for fam, q in CATALOG:

                def fn(q=q):
                    df = self.queries[q](b.spark, self.dir)
                    return df.columns, [tuple(r) for r in df.collect()]

                dt, _, nj, _ = b.op(f"{fam}.{q}", fn, lambda r, q=q: self._check(q, r))
                times[q].append(dt)
                jobs[q].append(nj)
        m = {}
        for fam, q in CATALOG:
            m[f"{fam}.{q}_s"] = (median(times[q][1:]), "s")
            m[f"{fam}.{q}.spark_jobs"] = (median(jobs[q][1:]), "count")
        return m


def main(argv=None) -> int:
    args = parse_args(argv)
    shutil.rmtree(WORK, ignore_errors=True)
    conf = configure_env()
    sys.path.insert(0, ROOT)
    try:
        import pagila_etl_airflow_assignment_spark  # noqa: F401
    except ImportError as e:
        log(f"the program is not importable from {ROOT}: {e}")
        shutil.rmtree(WORK, ignore_errors=True)
        return 2
    bench = Bench(args, conf)
    try:
        if args.trace:
            metrics = traced_layers(bench)
            bench.tracer.dump(os.path.join(OUT, f"spans-{args.workload}-{args.seed}.json"))
        else:
            run = weekly_incremental if args.workload == "weekly_incremental" else weekly_full
            metrics = run(bench, args.seconds)
            metrics["peak_rss_mb"] = (bench.peak_rss_mb(), "MB")
    finally:
        bench.shutdown()
        shutil.rmtree(WORK, ignore_errors=True)
    result = {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
