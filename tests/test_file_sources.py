"""Landing-zone file ingestion: additive parquet schema evolution and the
per-file ingestion ledger (`sources/ledger.py`): exactly-once processing,
corrupt-file quarantine, crash replay and evolving batches."""

from __future__ import annotations


def test_schema_evolution_merge_reads_both_generations(spark, tmp_path):
    """A lake path whose later files carry an added column must read as the
    union schema with nulls for the old generation (mergeSchema) — the
    additive-evolution contract producers rely on."""
    p = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id long, name string").write.parquet(
        f"{p}/gen=1"
    )
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, name string, score double"
    ).write.parquet(f"{p}/gen=2")
    df = spark.read.option("mergeSchema", "true").parquet(p)
    assert set(df.columns) == {"id", "name", "score", "gen"}
    rows = {r.id: (r.name, r.score) for r in df.collect()}
    assert rows == {1: ("a", None), 2: ("b", 9.5)}


# --- ingestion ledger ---------------------------------------------------------


def test_ingestion_ledger_exactly_once_per_file(spark, tmp_path):
    import shutil

    from pagila_etl_airflow_assignment_spark.sources.ledger import (
        ingest_new_files,
        processed_files,
    )

    land = tmp_path / "landing"
    land.mkdir()
    ledger = str(tmp_path / "ledger")
    shutil.copy("/root/testdata/sf0.001/events.parquet", land / "batch1.parquet")

    first = ingest_new_files(spark, str(land), ledger)
    assert [f.rsplit("/", 1)[-1] for f, _ in first] == ["batch1.parquet"]
    assert first[0][1] > 0

    # steady state: nothing new -> no-op
    assert ingest_new_files(spark, str(land), ledger) == []

    # a second file arrives -> ONLY it is processed
    shutil.copy("/root/testdata/sf0.001/events.parquet", land / "batch2.parquet")
    second = ingest_new_files(spark, str(land), ledger)
    assert [f.rsplit("/", 1)[-1] for f, _ in second] == ["batch2.parquet"]
    assert len(processed_files(spark, ledger)) == 2


def test_ingestion_ledger_custom_process_barrier(spark, tmp_path):
    import shutil

    from pagila_etl_airflow_assignment_spark.sources.ledger import ingest_new_files

    land = tmp_path / "landing"
    land.mkdir()
    shutil.copy("/root/testdata/sf0.001/events.parquet", land / "b.parquet")
    seen = []

    def process(df):
        n = df.where(df.event_type == "click").count()
        seen.append(n)
        return n

    out = ingest_new_files(spark, str(land), str(tmp_path / "led"), process)
    assert out[0][1] == seen[0] > 0


# --- file-stream depth (round 10): quarantine, crash replay, evolution ------------------


def test_ledger_quarantines_corrupt_file_and_continues(spark, tmp_path):
    """A corrupt landing-zone file must not wedge ingestion: with a
    quarantine path it is recorded + skipped, good files still land, and
    the corrupt file is never retried."""
    import shutil

    from pagila_etl_airflow_assignment_spark.sources.ledger import (
        ingest_new_files,
        quarantined_files,
    )

    land = tmp_path / "landing"
    land.mkdir()
    ledger = str(tmp_path / "ledger")
    quar = str(tmp_path / "quarantine")
    shutil.copy("/root/testdata/sf0.001/events.parquet", land / "good1.parquet")
    (land / "corrupt.parquet").write_bytes(b"this is not a parquet file")

    out = ingest_new_files(spark, str(land), ledger, quarantine_path=quar)
    assert [f.rsplit("/", 1)[-1] for f, _ in out] == ["good1.parquet"]
    q = quarantined_files(spark, quar)
    assert {p.rsplit("/", 1)[-1] for p in q} == {"corrupt.parquet"}

    # steady state: the quarantined file is NOT retried; new good files land
    shutil.copy("/root/testdata/sf0.001/events.parquet", land / "good2.parquet")
    out2 = ingest_new_files(spark, str(land), ledger, quarantine_path=quar)
    assert [f.rsplit("/", 1)[-1] for f, _ in out2] == ["good2.parquet"]
    assert len(quarantined_files(spark, quar)) == 1


def test_ledger_without_quarantine_fails_fast_on_corrupt_file(spark, tmp_path):
    import pytest as _pytest

    from pagila_etl_airflow_assignment_spark.sources.ledger import ingest_new_files

    land = tmp_path / "landing"
    land.mkdir()
    (land / "corrupt.parquet").write_bytes(b"junk")
    with _pytest.raises(Exception):
        ingest_new_files(spark, str(land), str(tmp_path / "ledger"))


def test_ledger_crash_replay_is_effectively_exactly_once(spark, tmp_path):
    """Crash AFTER processing but BEFORE the ledger append: the rerun must
    replay the whole batch (at-least-once — never lose a file), and an
    idempotent keyed sink makes the net state exactly-once."""
    import shutil

    from pagila_etl_airflow_assignment_spark.sources.ledger import (
        ingest_new_files,
        processed_files,
    )

    land = tmp_path / "landing"
    land.mkdir()
    ledger = str(tmp_path / "ledger")
    sink = str(tmp_path / "sink")
    shutil.copy("/root/testdata/sf0.001/events.parquet", land / "b1.parquet")
    shutil.copy("/root/testdata/sf0.001/events.parquet", land / "b2.parquet")

    calls = []

    def crashing_process(df):
        # idempotent keyed sink: overwrite the file's partition by content
        n = df.count()
        calls.append(n)
        if len(calls) == 2:
            raise RuntimeError("simulated crash before ledger append")
        df.write.mode("overwrite").parquet(f"{sink}/p={len(calls)}")
        return n

    import pytest as _pytest

    with _pytest.raises(RuntimeError):
        ingest_new_files(spark, str(land), ledger, crashing_process)
    # crash pre-ledger: NOTHING is recorded as done -> no file can be lost
    assert processed_files(spark, ledger) == set()

    def process(df):
        n = df.count()
        calls.append(n)
        df.write.mode("overwrite").parquet(f"{sink}/p={n}")  # keyed overwrite
        return n

    out = ingest_new_files(spark, str(land), ledger, process)
    # the rerun replays BOTH files of the failed batch
    assert [f.rsplit("/", 1)[-1] for f, _ in out] == ["b1.parquet", "b2.parquet"]
    assert len(processed_files(spark, ledger)) == 2
    # idempotent sink: replay left exactly one copy of the partition
    n_rows = spark.read.parquet(f"{sink}/p={out[0][1]}").count()
    assert n_rows == out[0][1]
    # and the next run is a clean no-op
    assert ingest_new_files(spark, str(land), ledger, process) == []


def test_ledger_handles_schema_evolution_across_batches(spark, tmp_path):
    """A later landing file carries an extra column: per-file reads ingest
    it untouched, and a mergeSchema sink read sees both generations."""
    from pagila_etl_airflow_assignment_spark.sources.ledger import ingest_new_files

    land = tmp_path / "landing"
    land.mkdir()
    ledger = str(tmp_path / "ledger")
    sink = str(tmp_path / "sink")

    spark.createDataFrame([(1, "a")], "id long, name string").write.parquet(
        str(land / "gen1.parquet")
    )

    def process(df):
        df.write.mode("append").parquet(sink)
        return df.count()

    assert len(ingest_new_files(spark, str(land), ledger, process)) == 1

    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, name string, score double"
    ).write.parquet(str(land / "gen2.parquet"))
    assert len(ingest_new_files(spark, str(land), ledger, process)) == 1

    merged = spark.read.option("mergeSchema", "true").parquet(sink)
    assert set(merged.columns) == {"id", "name", "score"}
    rows = {(r.id, r.name, r.score) for r in merged.collect()}
    assert rows == {(1, "a", None), (2, "b", 9.5)}
