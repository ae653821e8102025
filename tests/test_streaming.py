"""Streaming == batch-twin differential tests (availableNow trigger)."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from pagila_etl_airflow_assignment_spark.sources.parquet import load_table
from pagila_etl_airflow_assignment_spark.streaming.aggregations import (
    hourly_event_counts,
    sessionize_batch,
    streaming_hourly_event_counts,
    streaming_sessionize,
)

from conftest import SF_SMALL


@pytest.fixture(scope="module")
def events_dir(spark):
    """Streaming file source needs a directory; copy the fixture file in."""
    d = tempfile.mkdtemp(prefix="events-stream-")
    shutil.copy(f"{SF_SMALL}/events.parquet", f"{d}/events.parquet")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _run_to_memory(spark, sdf, name, output_mode):
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix=f"ckpt-{name}-"))
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


def test_streaming_hourly_counts_equal_batch(spark, events_dir):
    got = _run_to_memory(
        spark,
        streaming_hourly_event_counts(spark, events_dir),
        "hourly_counts",
        "complete",
    )
    want = hourly_event_counts(load_table(spark, SF_SMALL, "events"))
    g = sorted(tuple(r) for r in got.collect())
    w = sorted(tuple(r) for r in want.collect())
    assert g == w


def test_streaming_sessionize_matches_batch_closed_sessions(spark, events_dir):
    """availableNow + event-time timeout: all sessions whose close is confirmed
    by the final watermark must match the batch twin exactly; the batch twin
    may additionally contain trailing still-open sessions."""
    got = _run_to_memory(
        spark,
        streaming_sessionize(spark, events_dir),
        "sessions_stream",
        "append",
    )
    want = sessionize_batch(load_table(spark, SF_SMALL, "events"))
    g = {tuple(r) for r in got.collect()}
    w = {tuple(r) for r in want.collect()}
    assert g <= w, f"streaming emitted sessions not in batch: {sorted(g - w)[:3]}"
    # per-user: only the last (possibly unclosed) session may be missing
    missing = w - g
    by_user = {}
    for r in want.collect():
        by_user.setdefault(r.user_id, []).append(tuple(r))
    for m in missing:
        assert m == max(by_user[m[0]], key=lambda t: t[1]), (
            f"non-trailing session missing from stream output: {m}"
        )
    assert len(g) > 0


def test_streaming_sliding_counts_equal_batch(spark, events_dir):
    from pagila_etl_airflow_assignment_spark.streaming.aggregations import (
        sliding_event_counts,
        streaming_sliding_event_counts,
    )

    got = _run_to_memory(
        spark,
        streaming_sliding_event_counts(spark, events_dir),
        "sliding_counts",
        "complete",
    )
    want = sliding_event_counts(load_table(spark, SF_SMALL, "events"))
    g = sorted(tuple(r) for r in got.collect())
    w = sorted(tuple(r) for r in want.collect())
    assert g == w


def test_stream_stream_join_pairs_equal_batch(spark, events_dir):
    """Watermarked stream-stream interval join (availableNow) must emit
    exactly the batch join's pairs — the fixture's event times all fall
    within one file/batch, so no pair is lost to watermark eviction."""
    from pagila_etl_airflow_assignment_spark.streaming.joins import (
        _clicks,
        _pair_condition,
        _purchases,
        streaming_purchase_click_pairs,
    )

    got = _run_to_memory(
        spark,
        streaming_purchase_click_pairs(spark, events_dir),
        "ss_join_pairs",
        "append",
    )
    events = load_table(spark, SF_SMALL, "events")
    want = (
        _purchases(events)
        .join(_clicks(events), _pair_condition())
        .select("purchase_id", "purchase_ts", "click_ts", "click_value")
    )
    g = sorted(tuple(r) for r in got.collect())
    w = sorted(tuple(r) for r in want.collect())
    assert g == w
    assert len(g) > 0


def test_streaming_dedup_equals_unique_batch(spark):
    """dropDuplicatesWithinWatermark over a doubled delivery (same file twice
    = every event delivered twice) must emit each event_id exactly once —
    the exactly-once-from-at-least-once contract."""
    from pagila_etl_airflow_assignment_spark.streaming.dedup import (
        streaming_dedup_events,
    )

    d = tempfile.mkdtemp(prefix="events-replayed-")
    try:
        shutil.copy(f"{SF_SMALL}/events.parquet", f"{d}/events.parquet")
        shutil.copy(f"{SF_SMALL}/events.parquet", f"{d}/events_redelivered.parquet")
        got = _run_to_memory(
            spark,
            streaming_dedup_events(spark, d),
            "deduped_events",
            "append",
        )
        events = load_table(spark, SF_SMALL, "events")
        assert got.count() == events.count()
        g = {r.event_id for r in got.select("event_id").collect()}
        w = {r.event_id for r in events.select("event_id").collect()}
        assert g == w
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_batch_dedup_twin_roundtrips(spark):
    """Replay + dedup must be an exact no-op: per-type stats equal those over
    the original (already-unique) events."""
    from pagila_etl_airflow_assignment_spark.streaming.dedup import (
        dedup_event_counts,
    )

    events = load_table(spark, SF_SMALL, "events")
    got = sorted(tuple(r) for r in dedup_event_counts(events).collect())
    want = sorted(
        tuple(r)
        for r in events.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
        .collect()
    )
    assert got == want


def test_stream_merge_sink_equals_batch(spark, events_dir):
    """Streaming hourly counts MERGE-upserted into a parquet table
    (foreachBatch) must equal the batch twin — and a REPLAY of the stream
    into the same target must be a no-op (idempotent merge ⇒ exactly-once
    effect from at-least-once delivery)."""
    import tempfile as _tf

    from pagila_etl_airflow_assignment_spark.streaming.sinks import (
        stream_merge_to_parquet,
    )

    target = _tf.mkdtemp(prefix="stream-merge-") + "/hourly"

    def run_once():
        sdf = streaming_hourly_event_counts(spark, events_dir)
        q = stream_merge_to_parquet(sdf, target, key=["hour_start", "event_type"])
        q.awaitTermination(120)

    run_once()
    got1 = {
        (r["hour_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in spark.read.parquet(target).collect()
    }
    expected = {
        (r["hour_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in hourly_event_counts(
            load_table(spark, SF_SMALL, "events")
        ).collect()
    }
    assert got1 == expected

    run_once()  # replay from a fresh checkpoint — merge must converge, not duplicate
    got2 = {
        (r["hour_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in spark.read.parquet(target).collect()
    }
    assert got2 == expected


def test_transform_with_state_running_totals_equal_batch(spark, events_dir):
    """Spark 4 arbitrary-state API (transformWithStateInPandas): the LAST
    emitted running total per user must equal the batch aggregate.

    The TWS Python runner requires google.protobuf (ships with full Spark
    distros; absent in this container) — skip, don't fake, where missing."""
    pytest.importorskip(
        "google.protobuf.descriptor",
        reason="transformWithState runner needs protobuf",
    )
    from pagila_etl_airflow_assignment_spark.streaming.stateful import (
        streaming_user_running_totals,
        user_totals_batch,
    )

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        got = _run_to_memory(
            spark,
            streaming_user_running_totals(spark, events_dir),
            "running_totals",
            "append",
        )
        # keep only each user's final emission (availableNow may emit one row
        # per microbatch per user)
        import pyspark.sql.functions as F
        from pyspark.sql import Window

        w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
        final = (
            got.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .drop("rn")
        )
        g = sorted(tuple(r) for r in final.collect())
        want = user_totals_batch(load_table(spark, SF_SMALL, "events"))
        wrows = sorted(tuple(r) for r in want.collect())
        assert g == wrows
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_streaming_enrichment_equals_batch(spark, events_dir):
    """Stream-static broadcast join (stateless, append-mode): streamed
    enrichment rows must equal the batch twin exactly."""
    from pagila_etl_airflow_assignment_spark.streaming.enrichment import (
        enriched_events_batch,
        streaming_enriched_events,
    )

    got = _run_to_memory(
        spark,
        streaming_enriched_events(spark, events_dir),
        "enriched_stream",
        "append",
    )
    g = sorted(tuple(r) for r in got.collect())
    w = sorted(
        tuple(r)
        for r in enriched_events_batch(load_table(spark, SF_SMALL, "events")).collect()
    )
    assert g == w and len(g) > 0


def test_hourly_counts_across_multiple_microbatches(spark):
    """Watermark correctness over REAL microbatch boundaries: the events
    split into 4 time-ordered files processed one per trigger
    (maxFilesPerTrigger=1) must produce the same hourly counts as one big
    batch — time-ordered arrival keeps every row inside the 1-hour
    watermark, so nothing may be dropped."""
    import pyspark.sql.functions as F

    events = load_table(spark, SF_SMALL, "events").orderBy("ts")
    d = tempfile.mkdtemp(prefix="events-4batch-")
    try:
        n = events.count()
        rows = events.collect()
        quarter = (n + 3) // 4
        for i in range(4):
            chunk = rows[i * quarter : (i + 1) * quarter]
            spark.createDataFrame(chunk, events.schema).coalesce(1).write.parquet(
                f"{d}/part{i}"
            )
        # flatten: move each part's parquet file up as fileN.parquet
        import glob
        import os
        import shutil as sh

        for i in range(4):
            (src,) = glob.glob(f"{d}/part{i}/*.parquet")
            os.rename(src, f"{d}/batch{i}.parquet")
            sh.rmtree(f"{d}/part{i}")

        from pagila_etl_airflow_assignment_spark.sources.parquet import (
            events_stream,
        )

        stream = (
            spark.readStream.schema(spark.read.parquet(d).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
        )
        from pagila_etl_airflow_assignment_spark.sources.parquet import (
            normalize_event_ts,
        )

        sdf = (
            normalize_event_ts(stream)
            .withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").start.alias("hour_start"), "event_type")
            .agg(
                F.count("*").alias("n_events"),
                F.round(F.sum("value"), 6).alias("total_value"),
            )
        )
        got = _run_to_memory(spark, sdf, "hourly_4batch", "complete")
        want = hourly_event_counts(load_table(spark, SF_SMALL, "events"))
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want.collect())
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_closed_window_is_final_despite_late_arrival(spark):
    """The append-mode watermark contract Spark guarantees: once a window is
    emitted (watermark passed window end + delay), a late row for that window
    can never update or re-emit it. File 'a' advances the watermark past the
    00:00 window and flushes it; file 'b' then delivers a late 00:30 row —
    the emitted count must stay 1 and the window must not appear twice.
    (Spark's late-row handling is best-effort for windows with no existing
    state — a late row may still open-and-flush a fresh window — so finality
    of CLOSED windows, not input dropping, is the assertable contract.)"""
    import datetime as dt
    import glob
    import os

    import pyspark.sql.functions as F

    def mk(rows):
        return spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string",
        )

    batches = [
        # batch 0: on-time data (watermark still at epoch during this batch)
        ("a.parquet", mk([(i, dt.datetime(2024, 2, 1, h), 1, "click", 1.0, "{}") for i, h in enumerate([0, 2, 3])])),
        # batch 1: advances the in-effect watermark past 01:00 -> CLOSES and
        # emits the 00:00 window with its on-time count
        ("b.parquet", mk([(50, dt.datetime(2024, 2, 1, 3, 30), 1, "click", 1.0, "{}")])),
        # batch 2: late row into the now-closed 00:00 window -> must be
        # dropped by the watermark, never merged or re-emitted
        ("c.parquet", mk([(99, dt.datetime(2024, 2, 1, 0, 30), 1, "click", 1.0, "{}")])),
    ]
    d = tempfile.mkdtemp(prefix="events-late-")
    try:
        for name, df in batches:
            df.coalesce(1).write.parquet(f"{d}/stage")
            (src,) = glob.glob(f"{d}/stage/*.parquet")
            os.rename(src, f"{d}/{name}")
            shutil.rmtree(f"{d}/stage")

        stream = (
            spark.readStream.schema(spark.read.parquet(d).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
        )
        # append mode needs the FULL window column in the grouping (event-time
        # tracking); .start is projected after the aggregate
        sdf = (
            stream.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count("*").alias("n"))
            .select(F.col("w.start").alias("hour_start"), "n")
        )
        q = (
            sdf.writeStream.format("memory")
            .queryName("late_final")
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt-late-"))
            .start()
        )
        q.awaitTermination(180)
        dropped = sum(
            p["stateOperators"][0].get("numRowsDroppedByWatermark", 0)
            for p in q.recentProgress
            if p["stateOperators"]
        )
        per_window = {}
        for r in spark.table("late_final").collect():
            per_window.setdefault(r.hour_start, []).append(r.n)
        # the closed 00:00 window: emitted exactly once, on-time count only
        assert per_window[dt.datetime(2024, 2, 1, 0)] == [1], per_window
        # and the state operator actually reported the late-row drop
        assert dropped >= 1
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_stream_left_outer_join_semantics(spark, events_dir):
    """LEFT OUTER stream-stream join: matched pairs must equal the inner
    join exactly; null-padded (no-click) purchases must be a subset of the
    batch zero-click purchases; and every zero-click purchase whose eviction
    deadline falls safely before the final watermark must have been emitted
    null-padded (the watermark-close emission contract)."""
    import datetime as dt

    from pagila_etl_airflow_assignment_spark.streaming.joins import (
        JOIN_WINDOW_SECONDS,
        _clicks,
        _pair_condition,
        _purchases,
        streaming_purchase_click_pairs_outer,
    )

    got = _run_to_memory(
        spark,
        streaming_purchase_click_pairs_outer(spark, events_dir),
        "ss_join_pairs_outer",
        "append",
    )
    events = load_table(spark, SF_SMALL, "events")
    inner = (
        _purchases(events)
        .join(_clicks(events), _pair_condition())
        .select("purchase_id", "purchase_ts", "click_ts", "click_value")
    )
    g_matched = sorted(
        tuple(r) for r in got.where(F.col("click_ts").isNotNull()).collect()
    )
    w_matched = sorted(tuple(r) for r in inner.collect())
    assert g_matched == w_matched and len(g_matched) > 0

    batch_zero = {
        r.purchase_id
        for r in _purchases(events)
        .join(_clicks(events), _pair_condition(), "left_anti")
        .collect()
    }
    g_null = {r.purchase_id for r in got.where(F.col("click_ts").isNull()).collect()}
    assert g_null <= batch_zero, "stream must never null-pad a matched purchase"

    # watermark-close contract: zero-click purchases old enough that their
    # state was certainly evicted before end-of-stream must have been emitted.
    # The slack is deliberately generous (4x the 2h-watermark + 1h-window
    # envelope): the exact eviction threshold also depends on per-microbatch
    # watermark propagation lag, which is not part of the contract under test
    # (empirically rows ~5.6h from stream end were still buffered).
    max_ts = events.agg(F.max("ts")).first()[0]
    slack = dt.timedelta(seconds=4 * (7200 + JOIN_WINDOW_SECONDS))
    must_emit = {
        r.purchase_id
        for r in _purchases(events)
        .join(_clicks(events), _pair_condition(), "left_anti")
        .where(F.col("purchase_ts") < F.lit(max_ts - slack))
        .collect()
    }
    assert must_emit <= g_null, (
        f"{len(must_emit - g_null)} long-closed zero-click purchases missing"
    )
    assert len(must_emit) > 0, "fixture must exercise the null-padding path"


def test_throttle_batch_semantics_anchor_hops(spark):
    """The throttle anchor must hop to the EMITTED event: a burst straddling
    a fixed-bucket boundary emits once, and the next emission waits a full
    gap from the last EMITTED event, not from any bucket edge."""
    import datetime as dt

    from pagila_etl_airflow_assignment_spark.streaming.stateful import (
        throttle_events,
    )

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        # user 1: t=0 emit; t=30s suppressed; t=70s emit (>=60s after t=0? no:
        # 70-0=70 >= 60 -> emit and re-anchor); t=100s suppressed (100-70=30);
        # t=130s emit (130-70=60)
        (1, base, 1, "x", 0.0),
        (2, base + dt.timedelta(seconds=30), 1, "x", 0.0),
        (3, base + dt.timedelta(seconds=70), 1, "x", 0.0),
        (4, base + dt.timedelta(seconds=100), 1, "x", 0.0),
        (5, base + dt.timedelta(seconds=130), 1, "x", 0.0),
        # user 2: single event always emits
        (9, base, 2, "x", 0.0),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    out = throttle_events(ev, min_gap_s=60).collect()
    got = {(r.event_id, r.emit_seq) for r in out}
    assert got == {(1, 1), (3, 2), (5, 3), (9, 1)}


def test_transform_with_state_throttle_equals_batch(spark, events_dir):
    """Streaming ValueState throttle == batch fold, row for row."""
    pytest.importorskip(
        "google.protobuf.descriptor",
        reason="transformWithState runner needs protobuf",
    )
    from pagila_etl_airflow_assignment_spark.streaming.stateful import (
        streaming_throttled_events,
        throttle_events,
    )

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        got = _run_to_memory(
            spark,
            streaming_throttled_events(spark, events_dir),
            "throttled_events",
            "append",
        )
        g = sorted(tuple(r) for r in got.collect())
        want = throttle_events(load_table(spark, SF_SMALL, "events"))
        wrows = sorted(tuple(r) for r in want.collect())
        assert g == wrows
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
