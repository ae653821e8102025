"""Physical-plan assertions: the scale properties (pushdown, pruning,
broadcast, shuffle count) are pinned by tests, not just claimed in docstrings.

Each helper executes the DataFrame first so AQE's *final* plan is inspected —
the initial plan may show sort-merge joins that AQE later converts.
"""

from __future__ import annotations

import math
import os
import re

import pytest
from pyspark.sql import functions as F

from pagila_etl_airflow_assignment_spark import queries as _q  # registers
from pagila_etl_airflow_assignment_spark.plans.weekly_summary import (
    weekly_rental_summary,
)
from pagila_etl_airflow_assignment_spark.registry import queries
from pagila_etl_airflow_assignment_spark.schemas import FIXTURE_TABLES, SOURCE_SCHEMAS
from pagila_etl_airflow_assignment_spark.sources.parquet import (
    _byte_string_as_bytes,
    load_table,
    spread,
)
from pagila_etl_airflow_assignment_spark.sources.rental import load_rental

from conftest import SF_SMALL, spark_jobs


def final_plan(df) -> str:
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # AQE's toString prints Final Plan followed by Initial Plan; only the
    # final section should be asserted on (the initial one may still contain
    # the pre-adaptive sort-merge joins / uncoalesced exchanges)
    return plan.split("== Initial Plan ==")[0]


def test_rental_scan_prunes_to_two_columns(spark):
    """The rental derivation uses only o_orderkey/o_orderdate; Catalyst must
    prune the orders scan to exactly those (9-column table)."""
    plan = final_plan(load_rental(spark, SF_SMALL))
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = sorted(c.split(":")[0] for c in m.group(1).split(",") if c)
    assert cols == ["o_orderdate", "o_orderkey"], cols


def test_delta_scan_keeps_projection_narrow(spark):
    plan = final_plan(queries()["a1_delta_scan"](spark, SF_SMALL))
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert sorted(c.split(":")[0] for c in m.group(1).split(",") if c) == [
        "o_orderdate",
        "o_orderkey",
    ]


def test_weekly_summary_spark_job_budget(spark):
    """The full recompute is one pair aggregate summed in the driver: no
    spine, join or window jobs, and reading the local result rescans nothing.
    The declared source read adds no job, so the budget holds with the read
    inside the group too."""
    rental = load_rental(spark, SF_SMALL)
    assert spark_jobs(spark, lambda: weekly_rental_summary(rental).collect()) <= 2
    with_read = lambda: weekly_rental_summary(load_rental(spark, SF_SMALL)).collect()
    assert spark_jobs(spark, with_read) <= 2


def test_declared_reads_make_no_spark_job(spark):
    """A read with a declared schema skips Spark's schema-inference job."""
    for t in FIXTURE_TABLES:
        if t in SOURCE_SCHEMAS:
            assert spark_jobs(spark, lambda: load_table(spark, SF_SMALL, t)) == 0, t


@pytest.mark.parametrize(
    "max_partition_bytes, nbytes",
    [
        ("128m", 128 << 20),
        ("134217728b", 128 << 20),
        ("1g", 1 << 30),
        ("64kb", 64 << 10),
        ("4096", 4096),
        ("1b", 1),
    ],
)
def test_spread_fans_out_only_below_default_parallelism(spark, max_partition_bytes, nbytes):
    """spread() reads ``spark.sql.files.maxPartitionBytes`` with Spark's unit
    suffixes, estimates the scan's splits from file sizes without a Spark
    job, and adds exactly one round-robin exchange to the default
    parallelism above the scan only while that estimate is below it."""
    assert _byte_string_as_bytes(max_partition_bytes) == nbytes
    target = spark.sparkContext.defaultParallelism
    splits = math.ceil(os.path.getsize(f"{SF_SMALL}/documents.parquet") / nbytes)
    key = "spark.sql.files.maxPartitionBytes"
    saved = spark.conf.get(key)
    spark.conf.set(key, max_partition_bytes)
    try:
        docs = load_table(spark, SF_SMALL, "documents")
        spread_docs = []
        assert spark_jobs(spark, lambda: spread_docs.append(spread(docs))) == 0
        (out,) = spread_docs
        if splits >= target:
            assert out is docs
            return
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange RoundRobinPartitioning") == 1, plan
        exchange = plan.index(f"Exchange RoundRobinPartitioning({target})")
        assert exchange < plan.index("FileScan parquet"), plan
    finally:
        spark.conf.set(key, saved)


def test_text_pipelines_have_no_shuffle(spark):
    """token/quality/lang/fingerprint are narrow per-row pipelines — zero
    Exchange operators anywhere in the plan."""
    for name in (
        "text_token_counts",
        "text_quality_scores",
        "text_lang_id",
        "text_fingerprints",
    ):
        plan = final_plan(queries()[name](spark, SF_SMALL))
        assert "Exchange" not in plan, f"{name} shuffles:\n{plan}"


def test_dedup_exact_is_single_shuffle(spark):
    """Exact dedup is one hash-groupBy: exactly one shuffle exchange, with a
    map-side partial aggregate before it."""
    plan = final_plan(queries()["dedup_exact"](spark, SF_SMALL))
    n_exchanges = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n_exchanges == 1, plan
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_star_join_dims_are_broadcast(spark):
    """customer/nation/region joins must be broadcast; at most the fact-fact
    lineitem-orders join may be a shuffle join."""
    plan = final_plan(queries()["warehouse_star_join_revenue"](spark, SF_SMALL))
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert plan.count("SortMergeJoin") <= 1, plan


def test_pricing_summary_reads_only_needed_columns(spark):
    plan = final_plan(queries()["warehouse_pricing_summary"](spark, SF_SMALL))
    # ReadSchema gets truncated in toString; the FileScan output list is full
    m = re.search(r"FileScan parquet \[([^\]]*)\]", plan)
    cols = sorted(c.split("#")[0] for c in m.group(1).split(",") if c)
    assert cols == [
        "l_discount",
        "l_extendedprice",
        "l_linestatus",
        "l_quantity",
        "l_returnflag",
        "l_shipdate",
        "l_tax",
    ], cols
    # the to_date(l_shipdate) <= cutoff filter must be rewritten into a raw
    # timestamp bound the parquet reader can push
    assert re.search(r"PushedFilters: \[.*LessThan\(l_shipdate", plan), plan


def test_filter_pushdown_reaches_parquet_on_raw_table(spark):
    """On an underived table a filter must reach the scan as PushedFilters.

    Uses `part` — other test modules .cache() documents/embeddings, and a
    cached relation is served from InMemoryTableScan with no parquet scan to
    push into.
    """
    df = (
        load_table(spark, SF_SMALL, "part")
        .where(F.col("p_partkey") > 100)
        .select("p_partkey", "p_name")
    )
    plan = final_plan(df)
    assert re.search(r"PushedFilters: \[.*GreaterThan\(p_partkey,100\).*\]", plan), plan


def test_topk_window_runs_on_preaggregated_rows(spark):
    """supplier/nation joins broadcast; the rank window sorts only the
    pre-aggregated per-supplier rows (one fact shuffle + one window shuffle)."""
    plan = final_plan(queries()["warehouse_topk_per_nation"](spark, SF_SMALL))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan, plan
    assert "RunningWindowFunction" in plan or "Window" in plan, plan


def test_rollup_is_single_expand_pass(spark):
    """ROLLUP must plan one Expand over one scan of the joined fact — never
    one aggregate job per grouping level."""
    plan = final_plan(queries()["warehouse_rollup_revenue"](spark, SF_SMALL))
    assert plan.count("Expand") == 1, plan


def test_chunking_has_no_data_shuffle(spark):
    """Chunking is tokenize+posexplode per row: no hash-partitioned exchange
    anywhere (the only exchange is the display orderBy's range partitioning)."""
    plan = final_plan(queries()["text_chunking"](spark, SF_SMALL))
    assert "Generate" in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan


def test_incremental_dedup_is_anti_join_on_fingerprints(spark):
    """The corpus side projects to the 16-byte fingerprint only (never full
    documents) and the join is an anti join — broadcast under AQE here."""
    plan = final_plan(queries()["dedup_incremental_new_docs"](spark, SF_SMALL))
    assert "LeftAnti" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_split_assign_is_narrow(spark):
    """Split assignment must be a pure projection: zero shuffles at any scale
    (the whole point of hash-bucket splits vs df.sample)."""
    plan = final_plan(queries()["sampling_split_assign"](spark, SF_SMALL))
    # the registered query orders by doc_id (oracle determinism) which adds
    # one range-partitioning sort; no HASH shuffle may appear
    assert "Exchange hashpartitioning" not in plan, plan


def test_stratified_sample_is_single_stratum_shuffle(spark):
    """One hash shuffle (the stratum rank window); quota riding the same
    window means no second aggregation pass."""
    plan = final_plan(queries()["sampling_stratified"](spark, SF_SMALL))
    n = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n == 1, plan


def test_pii_scrub_is_narrow(spark):
    plan = final_plan(queries()["text_pii_scrub"](spark, SF_SMALL))
    assert "Exchange hashpartitioning" not in plan, plan


def test_scd2_is_single_shuffle_single_sort(spark):
    """Both window passes and the change filter share one (user_id) shuffle
    and one (user_id, ts, event_id) sort."""
    plan = final_plan(queries()["events_scd2_user_state"](spark, SF_SMALL))
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan
    assert len(re.findall(r"\bSort \[", plan)) == 1, plan


def test_user_rolling_stats_is_single_window_pass(spark):
    """All four window expressions (seq, cum, lag, rolling avg) must share
    ONE user_id shuffle + sort — Spark plans them in a single Window group
    because they share partitioning and ordering."""
    plan = final_plan(queries()["events_user_rolling_stats"](spark, SF_SMALL))
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan
    assert len(re.findall(r"\bSort \[", plan)) == 1, plan


def _hash_exchanges(plan: str) -> int:
    return len(re.findall(r"Exchange hashpartitioning", plan))


def test_trailing_window_single_user_shuffle(spark):
    """RANGE-frame trailing window: exactly one hash exchange (user_id) —
    the range partition for the display sort is the only other exchange."""
    plan = final_plan(queries()["events_trailing_window"](spark, SF_SMALL))
    assert _hash_exchanges(plan) == 1, plan


def test_leakage_free_features_single_user_shuffle(spark):
    plan = final_plan(queries()["events_leakage_free_features"](spark, SF_SMALL))
    assert _hash_exchanges(plan) == 1, plan


def test_histogram_single_aggregate_exchange(spark):
    plan = final_plan(queries()["events_value_histogram"](spark, SF_SMALL))
    assert _hash_exchanges(plan) == 1, plan
    assert "PushedFilters: [IsNotNull(value)]" in plan, "null filter must reach the scan"


def test_user_trend_is_aggregate_only(spark):
    """Closed-form OLS: window + aggregate share the user_id key — no more
    than two hash exchanges (window partition, final agg), no join."""
    plan = final_plan(queries()["events_user_trend"](spark, SF_SMALL))
    assert "Join" not in plan
    assert _hash_exchanges(plan) <= 2, plan


def test_kmeans_assignment_broadcasts_seeds(spark):
    plan = final_plan(queries()["embedding_kmeans_step"](spark, SF_SMALL))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_jaccard_verify_joins_never_broadcast_the_pair_relation(spark):
    """The sizes joins in ngram_jaccard / LSH verification must be SHUFFLED
    hash joins: Catalyst's static estimate undervalues the post-aggregation
    pair relation and — unhinted — picked it as a broadcast build side, which
    OOMed the driver at 10x scale (SCALE.md §7). Pin the strategy."""
    for name in ("dedup_ngram_jaccard", "dedup_minhash_lsh"):
        plan = final_plan(queries()[name](spark, SF_SMALL))
        assert "ShuffledHashJoin" in plan, f"{name} lost its shuffle_hash pin"


def test_salted_skew_join_is_a_shuffle_join(spark):
    """Salting spreads a hot key across SHUFFLE reducers; a broadcast join has
    no shuffle to skew and would build the x-salt-replicated dim in driver
    memory. The final plan must be a shuffled join on (key, salt)."""
    plan = final_plan(queries()["warehouse_salted_skew_join"](spark, SF_SMALL))
    assert "ShuffledHashJoin" in plan or "SortMergeJoin" in plan
    assert "BroadcastHashJoin" not in plan


def test_bloom_prefilter_feeds_candidates_only_anti_join(spark):
    """The Bloom path keeps exactly one anti join (the exact verification) and
    the batch side carries the broadcast bitmap test before it."""
    plan = final_plan(queries()["dedup_incremental_bloom"](spark, SF_SMALL))
    assert plan.count("LeftAnti") == 1
    assert "bloom" in plan


def test_q6_pushes_every_predicate_to_the_reader(spark):
    """TPC-H Q6 is the pushdown probe: shipdate bounds, discount band and
    quantity cap must all reach the parquet scan as PushedFilters."""
    df = queries()["warehouse_forecast_revenue"](spark, SF_SMALL)
    df.collect()
    # AQE's final-plan section elides the FileScan node; PushedFilters lives
    # in the full executed-plan string (scan details print under the stages)
    plan = df._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PushedFilters: \[([^\]]*)", plan)
    assert m, plan
    pushed = m.group(1)
    assert "l_discount" in pushed and "l_quantity" in pushed, pushed
    # no join, one aggregate: the 1-row result needs no hash join anywhere
    assert "Join" not in plan, plan


def test_q10_topk_is_take_ordered_not_global_sort(spark):
    plan = final_plan(queries()["warehouse_returned_items"](spark, SF_SMALL))
    assert "TakeOrderedAndProject" in plan, plan


def test_ewma_is_single_user_shuffle_window_fold(spark):
    """The EWMA frame fold must cost exactly one user_id exchange — no
    second shuffle, no join."""
    plan = final_plan(queries()["events_ewma_value"](spark, SF_SMALL))
    assert "Join" not in plan, plan


def test_target_encoding_broadcasts_the_type_aggregate(spark):
    plan = final_plan(queries()["events_target_encoding"](spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan, plan


def test_random_projection_is_zero_shuffle(spark):
    """JL projection is narrow: folds per row, no exchange besides the
    output sort."""
    plan = final_plan(queries()["embedding_random_projection"](spark, SF_SMALL))
    assert "Exchange hashpartitioning" not in plan, plan


def test_hll_registers_are_partial_aggregated(spark):
    """The register build must show map-side partial max (two HashAggregate
    levels around one exchange), so sketch merging is map-combined."""
    plan = final_plan(queries()["events_hll_distinct"](spark, SF_SMALL))
    assert len(re.findall(r"HashAggregate", plan)) >= 2, plan


def test_prefix_filter_verify_never_broadcasts_doc_sets(spark):
    """The candidate-verify joins carry the hinted shuffle-hash shape (the
    jaccard-verify contract): the statically-underestimated candidate side
    must stream, not build."""
    plan = final_plan(queries()["dedup_prefix_filter_pairs"](spark, SF_SMALL))
    assert "ShuffledHashJoin" in plan, plan
