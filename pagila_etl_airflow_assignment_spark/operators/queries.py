"""Registered warehouse-operator queries (post-parity extensions)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import micros
from ..registry import register
from ..incremental import backfill
from ..sources.parquet import load_table, spread
from ..schemas import ORDERS
from . import analytics, behavior, bitmap, cdc, cmsketch, distributions, features, graph, hll, ivm, layout, profile, quantile_sketch, sequences, stats, temporal, tpch_shapes, warehouse


@register(
    "warehouse_pricing_summary",
    oracle=warehouse.pricing_summary_sql(),
    survey_rows=("D-2", "D-3", "O-3"),
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shape pricing summary: one scan, one partial+final hash aggregate."""
    return warehouse.pricing_summary(load_table(spark, sf_dir, "lineitem"))


@register(
    "warehouse_star_join_revenue",
    oracle=warehouse.STAR_JOIN_REVENUE_SQL,
    survey_rows=("C-1", "O-12"),
)
def q_star_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join: fact-fact shuffle join + broadcast dimension chain, revenue per (region, year)."""
    return warehouse.star_join_revenue(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "region"),
    )


@register(
    "warehouse_topk_per_nation",
    oracle=warehouse.topk_suppliers_per_nation_sql(),
)
def q_topk_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 suppliers by revenue per nation: rank-within-group over the
    PRE-AGGREGATED fact (window runs on |suppliers| rows, never |lineitem|)."""
    return warehouse.topk_suppliers_per_nation(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"),
    )


@register("warehouse_pivot_revenue", oracle=warehouse.pivot_revenue_by_year_sql())
def q_pivot_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per nation pivoted to one column per year (explicit pivot
    values: deterministic schema, no distinct-discovery job)."""
    return warehouse.pivot_revenue_by_year(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "nation"),
    )


@register("warehouse_rollup_revenue", oracle=warehouse.ROLLUP_REVENUE_SQL)
def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by (region, year) + per-region subtotals + grand total in one
    Expand+aggregate pass (ROLLUP with grouping_id disambiguation)."""
    return warehouse.rollup_revenue(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "region"),
    )


@register(
    "warehouse_salted_aggregation",
    oracle=warehouse.SALTED_AGGREGATION_SQL,
    survey_rows=("O-12",),
)
def q_salted_aggregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage skew-safe aggregation (salted partials merged per key; oracle is unsalted)."""
    return warehouse.salted_aggregation(load_table(spark, sf_dir, "lineitem"))


ASOF_ATTRIBUTION_SQL = """
    SELECT p.event_id AS purchase_id,
           p.user_id AS user_id,
           p.ts AS purchase_ts,
           c.ts AS click_ts,
           epoch_us(p.ts) - epoch_us(c.ts) AS micros_since_click
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    ORDER BY purchase_id
"""


@register("asof_click_attribution", oracle=ASOF_ATTRIBUTION_SQL)
def q_asof_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchase→click attribution: each purchase matched to the user's most
    recent prior click (point-in-time / as-of join; oracle is DuckDB's native
    ASOF LEFT JOIN)."""
    events = load_table(spark, sf_dir, "events")
    purchases = events.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
    )
    clicks = events.where(F.col("event_type") == "click").select("user_id", "ts")
    joined = temporal.asof_join(
        purchases, clicks, on="user_id", left_ts="purchase_ts", right_ts="ts"
    )
    return joined.select(
        "purchase_id",
        "user_id",
        "purchase_ts",
        F.col("matched_ts").alias("click_ts"),
        (micros("purchase_ts") - micros("matched_ts")).alias("micros_since_click"),
    ).orderBy("purchase_id")


@register(
    "warehouse_semi_anti_priority",
    oracle=warehouse.semi_anti_order_priority_sql(),
)
def q_semi_anti_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shape existence counts per order priority via dedicated
    LEFT SEMI / LEFT ANTI joins (no join fan-out, no post-join distinct)."""
    return warehouse.semi_anti_order_priority(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "orders")
    )


@register(
    "events_user_rolling_stats", oracle=analytics.USER_ROLLING_STATS_SQL
)
def q_user_rolling_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user ordered analytics in one Window pass: sequence number,
    running value total, delta vs previous event, trailing 3-event mean
    (explicit ROWS frames — identical accumulation order in the oracle)."""
    return analytics.user_rolling_stats(load_table(spark, sf_dir, "events"))


@register("events_scd2_user_state", oracle=analytics.SCD2_USER_STATE_SQL)
def q_scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 history build: per-user state-validity intervals from the
    event change log (one shuffle + one sort for both window passes)."""
    return analytics.scd2_user_state(load_table(spark, sf_dir, "events"))


@register(
    "warehouse_table_profile",
    oracle=profile.profile_table_sql([f.name for f in ORDERS.fields], "orders"),
)
def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column null/distinct/min/max profile of `orders` in ONE
    aggregation pass (exact distincts via Expand; see operators/profile.py)."""
    return profile.profile_table(spread(load_table(spark, sf_dir, "orders")))


VALUE_PERCENTILES_SQL = """
    SELECT event_type,
           COUNT(value) AS n_values,
           ROUND(quantile_cont(value, 0.5), 6) AS p50,
           ROUND(quantile_cont(value, 0.9), 6) AS p90,
           ROUND(quantile_cont(value, 0.99), 6) AS p99
    FROM events
    GROUP BY event_type
    ORDER BY event_type
"""


@register("events_value_percentiles", oracle=VALUE_PERCENTILES_SQL)
def q_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated p50/p90/p99 of event value per type — F.percentile
    (exact, sort-based) matches DuckDB quantile_cont bit-for-bit, unlike the
    approx_percentile sketch. At scale the approximate sketch is the default
    path; this exact form is the oracle-checkable one."""
    events = load_table(spark, sf_dir, "events")
    q = F.percentile("value", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)))
    return (
        events.groupBy("event_type")
        .agg(F.count("value").alias("n_values"), q.alias("q"))
        .select(
            "event_type",
            "n_values",
            F.round(F.element_at("q", 1), 6).alias("p50"),
            F.round(F.element_at("q", 2), 6).alias("p90"),
            F.round(F.element_at("q", 3), 6).alias("p99"),
        )
        .orderBy("event_type")
    )


JSON_STATS_SQL = """
    SELECT event_type,
           COUNT(k) AS n_with_k,
           ROUND(AVG(k), 6) AS avg_k,
           ROUND(stddev_samp(value), 6) AS sd_value,
           ROUND(var_samp(value), 6) AS var_value,
           ROUND(corr(value, k), 6) AS corr_value_k
    FROM (
        SELECT event_type, value,
               CAST(json_extract(props, '$.k') AS BIGINT) AS k
        FROM events
    )
    GROUP BY event_type
    ORDER BY event_type
"""


@register("events_json_stats", oracle=JSON_STATS_SQL)
def q_json_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction + statistical aggregates: parse the JSON
    props column ONCE with from_json into a typed struct (single Jackson
    parse per row however many fields are consumed downstream — the at-scale
    form; per-path get_json_object re-parses the document for every extracted
    key) and compute stddev/variance/Pearson-correlation per event type."""
    events = load_table(spark, sf_dir, "events")
    k = F.from_json("props", "k BIGINT")["k"]
    return (
        events.select("event_type", "value", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_with_k"),
            F.round(F.avg("k"), 6).alias("avg_k"),
            F.round(F.stddev_samp("value"), 6).alias("sd_value"),
            F.round(F.var_samp("value"), 6).alias("var_value"),
            F.round(F.corr("value", "k"), 6).alias("corr_value_k"),
        )
        .orderBy("event_type")
    )


@register("events_approx_sketches")  # rows-only: sketch values are
# engine-specific (Spark HLL++/KLL vs DuckDB HLL), so no value oracle —
# tests/test_approx.py bounds the error against the exact forms instead
def q_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The at-scale form of distinct-count and percentile: HLL++
    approx_count_distinct and approx_percentile sketches per event type —
    one pass, fixed-size state (KBs) regardless of input size, vs the exact
    forms' per-key hash set / full sort. At 100 TB the exact distinct is a
    shuffle of every user_id; the sketch is a map-side-mergeable few KB."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
            F.approx_percentile("value", F.array(F.lit(0.5), F.lit(0.9)), 10000)
            .alias("q"),
        )
        .select(
            "event_type",
            "approx_users",
            F.round(F.element_at("q", 1), 6).alias("approx_p50"),
            F.round(F.element_at("q", 2), 6).alias("approx_p90"),
        )
        .orderBy("event_type")
    )


RANGE_CORRELATION_SQL = """
    SELECT e.event_id AS error_id,
           COUNT(*) AS n_nearby_clicks,
           ROUND(SUM(c.value), 6) AS nearby_click_value
    FROM (SELECT * FROM events WHERE event_type = 'error') e
    JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON epoch_us(c.ts) BETWEEN epoch_us(e.ts) - 300 * 1000000
                            AND epoch_us(e.ts) + 300 * 1000000
    GROUP BY e.event_id
    ORDER BY error_id
"""


@register("range_click_correlation", oracle=RANGE_CORRELATION_SQL)
def q_range_click_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clicks within ±5 min of each error event, with no equi key: the binned
    range join plans as an equi shuffle join on the time bucket instead of the
    nested-loop join Catalyst would otherwise need (oracle: DuckDB IEJoin on
    the declarative inequality form)."""
    events = load_table(spark, sf_dir, "events")
    errors = events.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"), F.col("ts").alias("error_ts")
    )
    clicks = events.where(F.col("event_type") == "click").select(
        F.col("ts").alias("click_ts"), F.col("value").alias("click_value")
    )
    pairs = temporal.range_join_binned(
        errors, clicks, "error_ts", "click_ts", lo_seconds=-300, hi_seconds=300
    )
    return (
        pairs.groupBy("error_id")
        .agg(
            F.count("*").alias("n_nearby_clicks"),
            F.round(F.sum("click_value"), 6).alias("nearby_click_value"),
        )
        .orderBy("error_id")
    )


@register(
    "warehouse_same_nation_revenue", oracle=warehouse.SAME_NATION_REVENUE_SQL
)
def q_same_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unfiltered Q5 shape: revenue by nation where the customer and the
    line's supplier share a nation — a 6-way join whose cross-dimension
    equality (c_nationkey = s_nationkey) rides the broadcast chain as a
    residual, so the fact side still pays only the single orders-key
    shuffle. (The region/year-filtered literal Q5 is
    warehouse_local_supplier_volume, L-434.)"""
    return warehouse.same_nation_revenue(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "region"),
    )


@register("warehouse_constraint_checks", oracle=profile.CONSTRAINT_CHECKS_SQL)
def q_constraint_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality constraint suite (unique / not-null / range /
    set-membership / referential integrity), one row per constraint — the
    publish gate a warehouse pipeline runs before a snapshot ships."""
    return profile.constraint_checks(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "lineitem"),
    )


@register(
    "cdc_partition_checksums", oracle=cdc.orders_partition_checksum_diff_sql()
)
def q_cdc_partition_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merkle-style snapshot comparison: per-partition order-independent
    bit_xor content checksums locate diverged partitions with one aggregate
    scan per side, scoping the expensive row-level snapshot_diff to the
    partitions that actually changed."""
    return cdc.orders_partition_checksum_diff(load_table(spark, sf_dir, "orders"))


@register("cdc_orders_snapshot_diff", oracle=cdc.ORDERS_SNAPSHOT_DIFF_SQL)
def q_cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level change set between two deterministic snapshots of `orders`
    (insert/update/delete classification via one full-outer key join) — the
    lakehouse complement of the reference's watermark CDC-lite, which cannot
    see deletes (etl.py:115-128 limits, README:122-130)."""
    return cdc.orders_snapshot_diff(load_table(spark, sf_dir, "orders"))


@register("warehouse_grouping_sets_revenue", oracle=warehouse.GROUPING_SETS_REVENUE_SQL)
def q_grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order revenue at three non-hierarchical granularities in one
    Expand+aggregate pass via explicit GROUPING SETS."""
    return warehouse.grouping_sets_revenue(load_table(spark, sf_dir, "orders"))


@register("events_funnel_stages", oracle=analytics.funnel_user_stages_sql())
def q_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view->click->purchase funnel: first qualifying timestamp per
    stage per user; every shuffle keyed by user_id (co-partitioned chain)."""
    return analytics.funnel_user_stages(load_table(spark, sf_dir, "events"))


@register("events_cohort_retention", oracle=analytics.COHORT_RETENTION_SQL)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention triangle (first-activity cohort x week offset
    x active-user count)."""
    return analytics.cohort_retention(load_table(spark, sf_dir, "events"))


@register(
    "warehouse_salted_skew_join",
    oracle=warehouse.SALTED_SKEW_JOIN_REVENUE_SQL,
    survey_rows=("O-12",),
)
def q_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-side skew salting: deterministic fact salt + dim replication,
    joined on (key, salt) — result identical to the unsalted join (the
    oracle), only the shuffle distribution changes."""
    return warehouse.salted_skew_join_revenue(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "orders")
    )


@register("events_trailing_window", oracle=analytics.user_trailing_window_sql())
def q_trailing_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event trailing-hour count/sum for the same user via a time-RANGE
    window frame (the irregular-spacing-correct sibling of ROWS frames)."""
    return analytics.user_trailing_window(load_table(spark, sf_dir, "events"))


@register(
    "warehouse_pricing_melted", oracle=warehouse.pricing_summary_melted_sql()
)
def q_pricing_melted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt of the pricing summary to long form — the inverse of
    PIVOT, a zero-shuffle Expand over the aggregated rows."""
    return warehouse.pricing_summary_melted(load_table(spark, sf_dir, "lineitem"))


@register("events_pit_state_lookup", oracle=features.pit_state_lookup_sql())
def q_pit_state_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct dimension lookup: each purchase joined to the
    SCD2 state valid at its timestamp (as-of join against validity
    intervals — the feature-store PIT join)."""
    return features.pit_state_lookup(load_table(spark, sf_dir, "events"))


@register(
    "events_leakage_free_features",
    oracle=features.leakage_free_click_features_sql(),
)
def q_leakage_free_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per purchase: the user's strictly-prior click count/value via a
    1-PRECEDING cumulative frame — leakage-impossible by construction."""
    return features.leakage_free_click_features(load_table(spark, sf_dir, "events"))


@register("events_gap_fill_ffill", oracle=features.gap_fill_ffill_sql())
def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user regular-grid resampling with forward-fill (as-of backward
    fill over an hour grid spanning each user's own activity)."""
    return features.gap_fill_ffill(load_table(spark, sf_dir, "events"))


APPLY_ROUNDTRIP_SQL = f"""
    SELECT o_orderkey, o_totalprice, o_orderstatus
    FROM orders WHERE o_orderkey % 10 <> {cdc.DELETE_MOD}
    ORDER BY o_orderkey
"""


@register("cdc_orders_apply_roundtrip", oracle=APPLY_ROUNDTRIP_SQL)
def q_cdc_apply_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply: replaying snapshot_diff's change set onto the old snapshot
    must reproduce the new snapshot exactly (oracle IS the new snapshot)."""
    orders = load_table(spark, sf_dir, "orders")
    old = cdc.orders_old_snapshot(orders)
    diff = cdc.snapshot_diff(
        old,
        cdc.orders_new_snapshot(orders),
        key=["o_orderkey"],
        compare_cols=["o_totalprice", "o_orderstatus"],
    )
    return cdc.apply_changes(
        old, diff, key=["o_orderkey"], compare_cols=["o_totalprice", "o_orderstatus"]
    ).orderBy("o_orderkey")


@register("warehouse_fuzzy_part_match", oracle=warehouse.fuzzy_part_match_sql())
def q_fuzzy_part_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brand-blocked fuzzy record linkage: same-brand part pairs within 2
    name edits (blocked equi join + levenshtein verify)."""
    return warehouse.fuzzy_part_match(load_table(spark, sf_dir, "part"))


@register("events_value_histogram", oracle=analytics.value_histogram_sql())
def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width value histogram per event type (one hash aggregate)."""
    return analytics.value_histogram(load_table(spark, sf_dir, "events"))


@register("events_user_trend", oracle=analytics.USER_VALUE_TREND_SQL)
def q_user_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user OLS value trend in closed form (covar/var built-ins) — one
    user_id-keyed aggregate, no iterative fit, no per-group Python."""
    return analytics.user_value_trend(load_table(spark, sf_dir, "events"))


NEXT_ERROR_SQL = """
    SELECT c.event_id AS click_id,
           c.user_id AS user_id,
           c.ts AS click_ts,
           e.ts AS error_ts,
           epoch_us(e.ts) - epoch_us(c.ts) AS micros_until_error
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') e
      ON c.user_id = e.user_id AND c.ts <= e.ts
    ORDER BY click_id
"""


@register("asof_next_error_after_click", oracle=NEXT_ERROR_SQL)
def q_next_error_after_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join: each click matched to the user's next error at or
    after it (time-to-failure attribution; oracle is DuckDB ASOF with the
    inequality reversed)."""
    events = load_table(spark, sf_dir, "events")
    clicks = events.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("click_ts"),
    )
    errors = events.where(F.col("event_type") == "error").select("user_id", "ts")
    joined = temporal.asof_join_forward(
        clicks, errors, on="user_id", left_ts="click_ts", right_ts="ts"
    )
    return joined.select(
        "click_id",
        "user_id",
        "click_ts",
        F.col("matched_ts").alias("error_ts"),
        (micros("matched_ts") - micros("click_ts")).alias("micros_until_error"),
    ).orderBy("click_id")


@register("events_delta_agg_merge", oracle=analytics.DELTA_AGG_MERGE_SQL)
def q_delta_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Algebraic-aggregate maintenance: a materialized per-type rollup
    refreshed by MERGING a delta batch's partials — the oracle is the full
    recompute the merge must equal."""
    return analytics.delta_agg_merge(load_table(spark, sf_dir, "events"))


@register("events_hourly_unique_users", oracle=analytics.HOURLY_UNIQUE_USERS_SQL)
def q_hourly_unique_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct users per tumbling hour (the DAU-shape metric; the
    HLL sketch in events_approx_sketches is the mergeable 100 TB twin)."""
    return analytics.hourly_unique_users(load_table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# Classic decision-support shapes (TPC-H Q2/Q3/Q7/Q11/Q18/Q21/Q22 adapted to
# the fixture schema) — operators/tpch_shapes.py
# ---------------------------------------------------------------------------


@register(
    "warehouse_shipping_priority",
    oracle=tpch_shapes.shipping_priority_sql(),
    survey_rows=("C-1", "F-1", "F-3", "O-12"),
)
def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: segment-filtered customers broadcast into orders, one
    fact-fact shuffle, top-10 unshipped revenue via TakeOrderedAndProject."""
    return tpch_shapes.shipping_priority(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


@register(
    "warehouse_large_volume_orders",
    oracle=tpch_shapes.large_volume_orders_sql(),
    survey_rows=("D-2", "O-12"),
)
def q_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING on the fact aggregate, tiny result broadcast
    back into the dimensions (fact scanned once)."""
    return tpch_shapes.large_volume_orders(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


@register(
    "warehouse_sole_final_shipper",
    oracle=tpch_shapes.SOLE_FINAL_SHIPPER_SQL,
    survey_rows=("E", "D-2"),
)
def q_sole_final_shipper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: EXISTS/NOT-EXISTS pair collapsed into windowed counts
    over the (order, supplier) pre-aggregate."""
    return tpch_shapes.sole_final_shipper(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "supplier"),
    )


@register(
    "warehouse_dormant_rich_customers",
    oracle=tpch_shapes.dormant_rich_customers_sql(),
    survey_rows=("C-4", "G-1"),
)
def q_dormant_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: broadcast scalar average + LEFT ANTI join replacing
    the correlated NOT EXISTS."""
    return tpch_shapes.dormant_rich_customers(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
    )


@register(
    "warehouse_supplier_concentration",
    oracle=tpch_shapes.supplier_revenue_concentration_sql(),
    survey_rows=("C-4", "D-1"),
)
def q_supplier_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-supplier revenue vs a fraction of the broadcast
    global total; lineitem scanned once, second pass over 100 rows."""
    return tpch_shapes.supplier_revenue_concentration(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "supplier"),
    )


@register(
    "warehouse_nation_trade_volume",
    oracle=tpch_shapes.NATION_TRADE_VOLUME_SQL,
    survey_rows=("C-1", "O-12"),
)
def q_nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: nation dim joined twice under aliases (both broadcast);
    cust-nation × supp-nation × year revenue matrix."""
    return tpch_shapes.nation_trade_volume(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"),
    )


@register(
    "warehouse_min_cost_supplier",
    oracle=tpch_shapes.min_cost_supplier_sql(),
    survey_rows=("C-2", "E"),
)
def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: correlated min-per-part decorrelated into a rank-1
    window over the (part, supplier) pre-aggregate."""
    return tpch_shapes.min_cost_supplier(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "supplier"),
    )


# ---------------------------------------------------------------------------
# Co-occurrence graph (operators/graph.py)
# ---------------------------------------------------------------------------


@register("graph_copurchase_pairs", oracle=graph.copurchase_pairs_sql())
def q_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: per-basket bounded self-join (max_basket
    cap), pair-key aggregate, distributed top-k."""
    return graph.copurchase_pairs(load_table(spark, sf_dir, "lineitem"))


@register("graph_part_degree", oracle=graph.part_degree_sql())
def q_part_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-purchase graph degree distribution: distinct neighbors per part
    from the symmetric pair closure, distributed top-k."""
    return graph.part_degree(load_table(spark, sf_dir, "lineitem"))


# ---------------------------------------------------------------------------
# Event-sequence operators (operators/sequences.py)
# ---------------------------------------------------------------------------


@register("events_type_transitions", oracle=sequences.EVENT_TRANSITIONS_SQL)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of event types: per-user lag (one
    user_id shuffle) + a ≤|types|²-key aggregate with row-normalized p."""
    return sequences.event_transitions(load_table(spark, sf_dir, "events"))


@register("events_value_anomalies", oracle=sequences.user_value_anomalies_sql())
def q_user_value_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window z-score anomaly flags (baseline excludes the scored
    row — the no-peek frame from events_leakage_free_features)."""
    return sequences.user_value_anomalies(load_table(spark, sf_dir, "events"))


@register(
    "events_balance_with_reset", oracle=sequences.running_balance_with_reset_sql()
)
def q_running_balance_with_reset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reset-on-marker running sum decomposed into two cumulative frames over
    one (user_id | ts) sort — no epoch numbering, no second shuffle."""
    return sequences.running_balance_with_reset(load_table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# Behavior mining (operators/behavior.py) + distributions
# ---------------------------------------------------------------------------


@register("events_trending_hourly", oracle=behavior.trending_event_types_sql())
def q_trending_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 event types per tumbling hour: rank window over the (hour, type)
    AGGREGATE, never the raw events."""
    return behavior.trending_event_types(load_table(spark, sf_dir, "events"))


@register("events_session_paths", oracle=behavior.session_paths_sql())
def q_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top session journey paths: gap sessionization + array_sort path
    assembly per session + path-key count."""
    return behavior.session_paths(load_table(spark, sf_dir, "events"))


@register(
    "events_repurchase_intervals", oracle=behavior.REPURCHASE_INTERVALS_SQL
)
def q_repurchase_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-purchase day-gap histogram: pushed purchase filter, per-user lag
    over the reduced relation, bounded-key aggregate."""
    return behavior.repurchase_intervals(load_table(spark, sf_dir, "events"))


@register(
    "warehouse_customer_deciles", oracle=distributions.customer_spend_deciles_sql()
)
def q_customer_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment customer lifetime-spend deciles: ntile partitioned by
    segment over the customer-grain aggregate (no global-order window)."""
    return distributions.customer_spend_deciles(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
    )


@register("warehouse_ship_latency", oracle=distributions.SHIP_LATENCY_SQL)
def q_ship_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order→first-ship latency percentiles per priority (exact interpolated
    percentile; approx sketch is the at-scale swap)."""
    return distributions.ship_latency_percentiles(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


@register("graph_copurchase_pagerank", oracle=graph.copurchase_pagerank_sql())
def q_copurchase_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank over the co-purchase graph (5 power
    iterations as one declarative plan; oracle unrolls the same CTE chain)."""
    return graph.copurchase_pagerank(load_table(spark, sf_dir, "lineitem"))


@register("graph_association_rules", oracle=graph.association_rules_sql())
def q_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules (support/confidence/lift) with
    min-support cut, top-k by lift; supports broadcast back to pairs."""
    return graph.association_rules(load_table(spark, sf_dir, "lineitem"))


@register("events_winsorized_stats", oracle=distributions.winsorized_stats_sql())
def q_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-type means after exact-percentile winsorization (bounds
    relation is |types| rows, broadcast back)."""
    return distributions.winsorized_stats(load_table(spark, sf_dir, "events"))


@register("events_time_weighted_value", oracle=behavior.TIME_WEIGHTED_VALUE_SQL)
def q_time_weighted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user time-weighted value average (step interpolation, holding-time
    weights): lead() spans and the weighted aggregate share one sort."""
    return behavior.time_weighted_value(load_table(spark, sf_dir, "events"))


@register(
    "warehouse_promo_revenue_share",
    oracle=tpch_shapes.PROMO_REVENUE_SHARE_SQL,
    survey_rows=("H-6", "D-2"),
)
def q_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: monthly promo share via conditional aggregation —
    numerator and denominator ride one partial+final agg."""
    return tpch_shapes.promo_revenue_share(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    )


@register(
    "warehouse_disjunctive_revenue",
    oracle=tpch_shapes.DISJUNCTIVE_PREDICATE_REVENUE_SQL,
    survey_rows=("B-4",),
)
def q_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR of three brand/size/quantity conjunctions evaluated
    in one fact pass behind the broadcast part join (no 3-branch union)."""
    return tpch_shapes.disjunctive_predicate_revenue(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    )


@register("events_cm_sketch", oracle=cmsketch.cm_build_sql())
def q_cm_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch build (4x256 cells, md5 universal hashes): mergeable
    fixed-size frequency summary, every cell oracle-checkable."""
    return cmsketch.cm_build(load_table(spark, sf_dir, "events"))


@register("events_cm_estimates", oracle=cmsketch.cm_estimate_topk_sql())
def q_cm_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CM point-query accuracy report: top-20 users' true counts vs their
    row-wise-MIN sketch estimates (one-sided error by construction)."""
    return cmsketch.cm_estimate_topk(load_table(spark, sf_dir, "events"))


@register("warehouse_ivm_join_view", oracle=ivm.MAINTAINED_JOIN_VIEW_SQL)
def q_ivm_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Insert-only IVM for a join view: the four-term delta-rule union
    (V ∪ ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB) pinned equal to the oracle's DIRECT full
    join — two genuinely different computations of the same relation."""
    return ivm.maintained_join_view(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


@register("events_chi_square", oracle=stats.CHI_SQUARE_INDEPENDENCE_SQL)
def q_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence of event_type x hour-of-day: one cell
    aggregate, marginals via windows over the <=|types|*24-row cells."""
    return stats.chi_square_independence(load_table(spark, sf_dir, "events"))


@register("events_welch_ab_test", oracle=stats.WELCH_AB_TEST_SQL)
def q_welch_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch two-sample t per event_type between user-parity cohorts —
    sufficient statistics from one conditional aggregate, closed-form t/dof."""
    return stats.welch_ab_test(load_table(spark, sf_dir, "events"))


@register("warehouse_order_backlog", oracle=temporal.ORDER_BACKLOG_CURVE_SQL)
def q_order_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily open-order backlog via interval EVENT-IFICATION (+1 open, -1
    close, cumsum over the tiny day spine); the oracle is the naive
    dayxorders overlap join - two different algorithms, one curve."""
    return temporal.order_backlog_curve(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


@register("events_funnel_timebound", oracle=analytics.funnel_timebound_sql())
def q_funnel_timebound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel with per-step deadlines (conversion must land within a
    day of the prior step) - same user_id-keyed join shape as the plain
    funnel, deadline as one extra join predicate."""
    return analytics.funnel_user_stages_timebound(load_table(spark, sf_dir, "events"))


@register("events_user_entropy", oracle=stats.USER_TYPE_ENTROPY_SQL)
def q_user_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each user's event-type mix from the (user, type)
    count relation - two map-side-combined aggregates, closed form."""
    return stats.user_type_entropy(load_table(spark, sf_dir, "events"))


@register("warehouse_segment_gini", oracle=stats.SEGMENT_SPEND_GINI_SQL)
def q_segment_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini spend-concentration per segment: rank window over customer-grain
    aggregate partitioned by segment, closed-form coefficient."""
    return stats.segment_spend_gini(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "customer")
    )


VARIANT_STATS_SQL = """
    SELECT event_type,
           COUNT(k) AS n_with_k,
           ROUND(AVG(k), 6) AS avg_k,
           MIN(k) AS min_k,
           MAX(k) AS max_k
    FROM (
        SELECT event_type, CAST(json_extract(props, '$.k') AS BIGINT) AS k
        FROM events
    )
    GROUP BY event_type
    ORDER BY event_type
"""


@register("events_variant_stats", oracle=VARIANT_STATS_SQL)
def q_variant_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT path for semi-structured data: parse_json once into a
    variant, variant_get typed extraction - the open-ended-schema twin of the
    fixed-schema from_json in events_json_stats; same aggregate contract."""
    events = load_table(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json("props"), "$.k", "bigint")
    return (
        events.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_with_k"),
            F.round(F.avg("k"), 6).alias("avg_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


@register(
    "warehouse_custdist",
    oracle=tpch_shapes.customer_order_distribution_sql(),
    survey_rows=("C-1", "D-2", "H-5"),
)
def q_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: customer-count per order-count (zero-order customers
    included via LEFT join + COALESCE); both aggregates on reduced grain."""
    return tpch_shapes.customer_order_distribution(
        load_table(spark, sf_dir, "customer"), load_table(spark, sf_dir, "orders")
    )


@register("warehouse_small_qty_revenue", oracle=tpch_shapes.small_quantity_revenue_sql())
def q_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from below-20%-of-part-average quantities;
    correlated AVG decorrelated to a per-part aggregate, threshold compared
    in exact decimal arithmetic (5*qty*n < sum_qty)."""
    return tpch_shapes.small_quantity_revenue(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    )


@register("warehouse_top_supplier", oracle=tpch_shapes.top_revenue_suppliers_sql())
def q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) at the quarterly revenue maximum — the
    scalar-MAX subquery decorrelated as a rank-1 window over the |suppliers|-
    row pre-aggregate; exact decimal revenue keeps ties engine-identical."""
    return tpch_shapes.top_revenue_suppliers(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "supplier")
    )


@register("warehouse_returned_items", oracle=tpch_shapes.returned_item_report_sql())
def q_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by returned-item revenue in a
    quarter; aggregate collapses to customer grain before broadcast dims,
    top-k is TakeOrderedAndProject."""
    return tpch_shapes.returned_item_report(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "nation"),
    )


@register(
    "warehouse_parts_supplier_counts",
    oracle=tpch_shapes.parts_supplier_counts_sql(),
)
def q_parts_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct suppliers per (brand, type, size) from the
    observed lineitem pairs; NOT-IN supplier exclusion as broadcast LEFT
    ANTI; the wide shuffle carries deduped pairs, not raw lineitem."""
    return tpch_shapes.parts_supplier_counts(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "part"),
        load_table(spark, sf_dir, "supplier"),
    )


@register("events_hll_distinct", oracle=hll.HLL_DISTINCT_USERS_SQL)
def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic HyperLogLog: 64 max-rank registers per event_type from
    md5 hex (string-CASE rank, no float log), integer-scaled harmonic sum —
    the white-box mergeable twin of approx_count_distinct, exactly
    oracle-checked beside the true distinct count."""
    return hll.hll_distinct_users(load_table(spark, sf_dir, "events"))


@register("events_ewma_value", oracle=features.ewma_user_value_sql())
def q_ewma_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event EWMA of the user's trailing values (α=1/2, 16-row frame):
    one bounded-frame window fold, exact power-of-two weights on integer
    cents — zero rounding epsilon between engines."""
    return features.ewma_user_value(load_table(spark, sf_dir, "events"))


@register("events_target_encoding", oracle=features.TARGET_ENCODE_LOO_SQL)
def q_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of event_type: broadcast |types|-row
    aggregate joined back; (sum − own)/(n − 1) in exact integer cents."""
    return features.target_encode_loo(load_table(spark, sf_dir, "events"))


@register("graph_triangle_census", oracle=graph.triangle_count_sql())
def q_triangle_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + global clustering coefficient of the co-purchase
    graph: oriented edges (support-pruned), wedge join + closing join —
    both on the reduced edge relation."""
    return graph.triangle_count(load_table(spark, sf_dir, "lineitem"))


@register("events_attribution_linear", oracle=temporal.linear_attribution_sql())
def q_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: per-user bounded interval join pairs
    clicks with purchases in a 3-day lookback; equal credit per touch,
    rolled up by click hour."""
    return temporal.linear_attribution(load_table(spark, sf_dir, "events"))


@register(
    "warehouse_forecast_revenue",
    oracle=tpch_shapes.forecast_revenue_change_sql(),
    survey_rows=("O-1", "D-3"),
)
def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: the pushdown probe — one scan, all predicates at the reader,
    one 1-row aggregate, zero joins."""
    return tpch_shapes.forecast_revenue_change(load_table(spark, sf_dir, "lineitem"))


@register("warehouse_market_share", oracle=tpch_shapes.national_market_share_sql())
def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's revenue share per year within one customer
    region — numerator as conditional sum inside the denominator's aggregate,
    nation dim broadcast twice under different roles."""
    return tpch_shapes.national_market_share(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "region"),
    )


@register("warehouse_product_profit", oracle=tpch_shapes.product_type_profit_sql())
def q_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit by supplier nation × year for one product type;
    broadcast part dim prunes the fact before the single orderkey shuffle."""
    return tpch_shapes.product_type_profit(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "part"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"),
    )


@register(
    "warehouse_dominant_suppliers", oracle=tpch_shapes.dominant_part_suppliers_sql()
)
def q_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers shipping >50% of some part's volume —
    two aggregates on one grain relation, exact integer-scaled dominance
    test, semi join into the dim."""
    return tpch_shapes.dominant_part_suppliers(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "supplier")
    )


@register("events_mad_outliers", oracle=distributions.mad_outlier_stats_sql())
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust dispersion per type: median, MAD, and beyond-3-robust-sigma
    outlier count — the heavy-tail-safe twin of the z-score anomaly scan."""
    return distributions.mad_outlier_stats(load_table(spark, sf_dir, "events"))


@register(
    "warehouse_ivm_counting", oracle=ivm.maintained_agg_view_counting_sql()
)
def q_ivm_counting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Counting-algorithm IVM: aggregate view maintained under inserts AND
    deletes via signed delta partials; dead groups dropped at count 0.
    Oracle aggregates the final table state directly."""
    return ivm.maintained_agg_view_counting(load_table(spark, sf_dir, "orders"))


@register(
    "warehouse_customer_set_ops",
    oracle=warehouse.customer_activity_set_ops_sql(),
    survey_rows=("G-1",),
)
def q_customer_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT/EXCEPT set algebra: retained-then-churned customers from
    per-year distinct projections of one orders scan."""
    return warehouse.customer_activity_set_ops(load_table(spark, sf_dir, "orders"))


@register("warehouse_phonetic_match", oracle=warehouse.phonetic_part_match_sql())
def q_phonetic_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sound-alike record linkage: soundex-lite blocking on the name's final
    word, candidates-only levenshtein verify."""
    return warehouse.phonetic_part_match(load_table(spark, sf_dir, "part"))


@register("graph_bfs_distance", oracle=graph.bfs_hop_distance_sql())
def q_bfs_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded BFS: min-hop distance ≤3 from the max-degree part; unrolled
    frontier joins with anti-joined visited set."""
    return graph.bfs_hop_distance(load_table(spark, sf_dir, "lineitem"))


@register("events_cuped_adjustment", oracle=stats.cuped_adjustment_sql())
def q_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced A/B means: pre-period covariate adjustment
    y−θ(x−x̄) from exact integer sufficient statistics."""
    return stats.cuped_adjustment(load_table(spark, sf_dir, "events"))


@register("events_cusum_drift", oracle=distributions.cusum_drift_sql())
def q_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM control chart of daily mean value per type: ordered cumulative
    deviation from the level, flagged beyond ±3σ — slow-drift detection."""
    return distributions.cusum_drift(load_table(spark, sf_dir, "events"))


@register(
    "events_equidepth_histogram", oracle=distributions.equidepth_histogram_sql()
)
def q_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (quantile) histogram per type via deterministic ntile —
    the statistics-grade twin of the equi-width histogram."""
    return distributions.equidepth_histogram(load_table(spark, sf_dir, "events"))


@register("warehouse_golden_records", oracle=warehouse.part_golden_records_sql())
def q_golden_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MDM golden records: phonetic blocking → edit-distance edges → the
    SAME min-label CC used for document dedup → representative per entity."""
    return warehouse.part_golden_records(load_table(spark, sf_dir, "part"))


@register("events_rfm_segments", oracle=analytics.rfm_segments_sql())
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM quintile grid over purchasers: one fact shuffle to user grain,
    three deterministic ntile windows on the reduced relation."""
    return analytics.rfm_segments(load_table(spark, sf_dir, "events"))


@register("events_cm_join_size", oracle=cmsketch.cm_join_size_estimate_sql())
def q_cm_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS-style join-cardinality estimate from two CM sketches (row-wise
    dot, min over rows) beside the exact Σ f_a·f_b — planner-grade size
    estimation from 8 KB summaries."""
    return cmsketch.cm_join_size_estimate(load_table(spark, sf_dir, "events"))


@register(
    "events_seasonal_decompose", oracle=distributions.SEASONAL_DECOMPOSE_SQL
)
def q_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive seasonal decomposition on the bounded (type, hour-of-day)
    grid: level, seasonal offsets, residual variance — drift vs just-3AM."""
    return distributions.seasonal_decompose_hourly(load_table(spark, sf_dir, "events"))


@register(
    "graph_link_prediction", oracle=graph.link_prediction_jaccard_sql()
)
def q_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighborhood-Jaccard link prediction: wedge candidates minus existing
    edges, neighbor-set verify via array_intersect, distributed top-k."""
    return graph.link_prediction_jaccard(load_table(spark, sf_dir, "lineitem"))


@register("warehouse_fd_profile", oracle=profile.fd_profile_sql())
def q_fd_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency discovery over candidate column pairs: distinct
    (A,B) projection + A-grain aggregate per candidate, one unioned report."""
    return profile.fd_profile(load_table(spark, sf_dir, "part"))


@register("events_funnel_latency", oracle=analytics.funnel_latency_sql())
def q_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert for full-funnel completers: exact p50/p90/max seconds
    over the user-grain funnel relation."""
    return analytics.funnel_latency(load_table(spark, sf_dir, "events"))


@register("events_scd3_user_state", oracle=analytics.scd3_user_state_sql())
def q_scd3_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type 3: current + previous state per user from the SCD2 change
    relation — one rank window + conditional pivot, one row per entity."""
    return analytics.scd3_user_state(load_table(spark, sf_dir, "events"))


@register("events_psi_drift", oracle=distributions.psi_drift_sql())
def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index per type: reference-decile bins, Laplace
    smoothing, Σ(q−p)ln(q/p) — the model-monitoring drift gauge."""
    return distributions.psi_drift(load_table(spark, sf_dir, "events"))


@register(
    "warehouse_revenue_growth",
    oracle=warehouse.WEEKLY_REVENUE_GROWTH_SQL,
)
def q_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week growth + 4-week trailing average on the week-grain
    aggregate — lag/frame windows over hundreds of rows, never orders."""
    return warehouse.weekly_revenue_growth(load_table(spark, sf_dir, "orders"))


@register(
    "warehouse_abc_classification", oracle=warehouse.ABC_CLASSIFICATION_SQL
)
def q_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC/Pareto classes: exact-decimal cumulative revenue share over the
    part-grain aggregate; integer-scaled 80/95% boundaries."""
    return warehouse.abc_classification(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    )


@register("warehouse_cohort_ltv", oracle=warehouse.COHORT_LTV_SQL)
def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curve: first-order-month cohorts, cumulative exact-decimal
    revenue over the bounded cohort×age grid."""
    return warehouse.cohort_ltv(load_table(spark, sf_dir, "orders"))


@register(
    "events_attribution_position", oracle=temporal.position_attribution_sql()
)
def q_attribution_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-shaped (40/20/40) multi-touch attribution: first/last touch windows
    per purchase over the same bounded interval join as the linear model."""
    return temporal.position_attribution(load_table(spark, sf_dir, "events"))


@register("warehouse_share_shift", oracle=warehouse.SEGMENT_SHARE_SHIFT_SQL)
def q_share_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-mix analysis: per-segment yearly share and YoY share shift;
    windows over the segments×years grid only."""
    return warehouse.segment_share_shift(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "customer")
    )


@register("warehouse_new_vs_returning", oracle=warehouse.NEW_VS_RETURNING_SQL)
def q_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue split into new-customer vs returning — conditional
    exact-decimal aggregate against the broadcast first-order month."""
    return warehouse.new_vs_returning(load_table(spark, sf_dir, "orders"))


@register(
    "warehouse_discount_lift", oracle=warehouse.DISCOUNT_QUANTITY_LIFT_SQL
)
def q_discount_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand OLS slope of quantity on discount (closed-form covar/var) —
    the retail elasticity probe, one brand-keyed aggregate."""
    return warehouse.discount_quantity_lift(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    )


@register("events_burst_collapse", oracle=sequences.burst_collapse_sql())
def q_burst_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collapse same-type event bursts (gaps ≤60 s) per user into one row —
    telemetry de-noising via the sessionization island shape, exact
    microsecond gaps."""
    return sequences.burst_collapse(load_table(spark, sf_dir, "events"))


@register("events_activity_streaks", oracle=sequences.ACTIVITY_STREAKS_SQL)
def q_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day streak per user — gaps-and-islands via the
    day−rank constant, on the distinct-day relation."""
    return sequences.activity_streaks(load_table(spark, sf_dir, "events"))


@register("events_out_of_order_audit", oracle=sequences.OUT_OF_ORDER_AUDIT_SQL)
def q_out_of_order_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time lateness vs per-user arrival-order high-water mark — the
    measurement that sets a streaming watermark delay; exact micros."""
    return sequences.out_of_order_audit(load_table(spark, sf_dir, "events"))


@register("events_discrete_hazard", oracle=analytics.discrete_hazard_sql())
def q_discrete_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete-time survival table (signup→purchase): at-risk counts from a
    reverse cumulative over the ≤14-day grid; hazards are integer ratios —
    no float-product survival ladder."""
    return analytics.discrete_hazard(load_table(spark, sf_dir, "events"))


@register("events_wau_overlap", oracle=analytics.WAU_OVERLAP_SQL)
def q_wau_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week active-set Jaccard: audience stability behind the WAU
    line; one user-keyed join of adjacent weeks' distinct sets."""
    return analytics.wau_overlap(load_table(spark, sf_dir, "events"))


@register("events_woe_iv", oracle=stats.woe_iv_binning_sql())
def q_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence quintile bins + IV contributions for click-value →
    later-purchase — the scorecard feature screen, smoothed and exact-ntile
    deterministic."""
    return stats.woe_iv_binning(load_table(spark, sf_dir, "events"))


@register("events_prop_ztest", oracle=stats.PROPORTION_ZTEST_SQL)
def q_prop_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test per type on user-parity cohorts' conversion —
    the COUNT companion to the Welch means test; integer sufficient stats."""
    return stats.proportion_ztest(load_table(spark, sf_dir, "events"))


@register("warehouse_benford_audit", oracle=profile.benford_audit_sql())
def q_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit forensic screen on order totals: string-derived
    first significant digit (no float log), chi terms on the 9-row grid."""
    return profile.benford_audit(load_table(spark, sf_dir, "orders"))


@register(
    "events_daily_percentile_bands",
    oracle=distributions.DAILY_PERCENTILE_BANDS_SQL,
)
def q_daily_percentile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p10/p50/p90 observability ribbon per (type, day): one grouped exact
    percentile pass over the bounded grid."""
    return distributions.daily_percentile_bands(load_table(spark, sf_dir, "events"))


@register("warehouse_sla_compliance", oracle=warehouse.sla_compliance_sql())
def q_sla_compliance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-ship SLA rate per priority: contract compliance as exact
    integer ratios on the ≤|priorities| grid."""
    return warehouse.sla_compliance(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")
    )


@register("events_changepoint", oracle=distributions.CHANGEPOINT_DETECTION_SQL)
def q_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best single changepoint per type: the day split maximizing the
    before/after daily-mean gap — binary-segmentation step 1, localizing
    what cusum_drift flags. Exact cents arithmetic on the day grid."""
    return distributions.changepoint_detection(load_table(spark, sf_dir, "events"))


@register("events_bot_regularity", oracle=stats.bot_regularity_scores_sql())
def q_bot_regularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user automation signal: coefficient of variation of integer-second
    inter-arrival gaps; low-CV high-volume users flag as bots."""
    return stats.bot_regularity_scores(load_table(spark, sf_dir, "events"))


@register("warehouse_part_skyline", oracle=warehouse.PART_SKYLINE_SQL)
def q_part_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier) of parts — min price, max size — as ONE
    ordered window over integer cents; no self-join, no quadratic step."""
    return warehouse.part_skyline(load_table(spark, sf_dir, "part"))


@register("events_dau_mau_stickiness", oracle=behavior.DAU_MAU_STICKINESS_SQL)
def q_dau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-28-day MAU per day in milli-units — the engagement
    stickiness curve on the bounded day grid."""
    return behavior.dau_mau_stickiness(load_table(spark, sf_dir, "events"))


@register("graph_personalized_pagerank", oracle=graph.personalized_pagerank_sql())
def q_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from the max-degree part (restart at source) —
    the related-items scorer; fixed unrolled iterations, oracle-mirrored."""
    return graph.personalized_pagerank(load_table(spark, sf_dir, "lineitem"))


@register("graph_kcore", oracle=graph.kcore_membership_sql())
def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core membership after fixed peeling rounds — the dense-community
    filter; one degree aggregate + node semi-join per round."""
    return graph.kcore_membership(load_table(spark, sf_dir, "lineitem"))


@register("graph_label_propagation", oracle=graph.label_propagation_sql())
def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synchronous LPA communities (3 rounds, min-label ties)
    over the support-pruned co-purchase graph."""
    return graph.label_propagation(load_table(spark, sf_dir, "lineitem"))


@register("events_cumulative_unique_users", oracle=analytics.CUMULATIVE_UNIQUE_USERS_SQL)
def q_cumulative_unique_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users per day via the new-users rewrite (no
    distinct-over-expanding-window state)."""
    return analytics.cumulative_unique_users(load_table(spark, sf_dir, "events"))


SKEW_KEYS_SQL = [
    ("lineitem.l_partkey", "lineitem", "l_partkey"),
    ("lineitem.l_suppkey", "lineitem", "l_suppkey"),
    ("orders.o_custkey", "orders", "o_custkey"),
    ("events.user_id", "events", "user_id"),
]


@register("warehouse_skew_profile", oracle=profile.key_skew_profile_sql(SKEW_KEYS_SQL))
def q_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew report (max/top-10 reducer share per candidate join
    key) — the salting / AQE-skew decision input."""
    return profile.key_skew_profile(
        [
            (name, load_table(spark, sf_dir, table).select(col))
            for name, table, col in SKEW_KEYS_SQL
        ]
    )


ENC_COLS = ["l_partkey", "l_suppkey", "l_linenumber", "l_returnflag", "l_linestatus"]


@register("warehouse_encoding_advisor", oracle=profile.encoding_advisor_sql("lineitem", ENC_COLS))
def q_encoding_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar encoding recommendation per column from order-free stats
    (dictionary vs plain) — the lake-compaction decision."""
    return profile.encoding_advisor(load_table(spark, sf_dir, "lineitem"), ENC_COLS)


@register("warehouse_zorder_layout", oracle=layout.zorder_layout_quality_sql())
def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering keys over (o_custkey, o_orderdate) + per-bucket
    min/max pruning widths — the multi-dimensional layout payoff report."""
    return layout.zorder_layout_quality(load_table(spark, sf_dir, "orders"))


@register("events_bitmap_intersections", oracle=bitmap.BITMAP_INTERSECTIONS_SQL)
def q_bitmap_intersections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise audience overlap between event types via 63-bit packed
    bitmap words (bit_or / AND / popcount) — exact, no row-per-user join."""
    return bitmap.bitmap_intersections(load_table(spark, sf_dir, "events"))


@register("events_markov_accuracy", oracle=sequences.MARKOV_ACCURACY_SQL)
def q_markov_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-split top-1 accuracy of the first-order Markov next-event
    predictor vs the majority baseline — the behavioral-model eval harness."""
    return sequences.markov_accuracy(load_table(spark, sf_dir, "events"))


@register("incremental_backfill_plan", oracle=backfill.backfill_plan_sql())
def q_backfill_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunked backfill work-list from the simulated watermark gap — the
    orchestrator-side complement of the incremental runner."""
    return backfill.backfill_plan(load_table(spark, sf_dir, "events"))


@register("events_dow_anova", oracle=stats.DOW_ANOVA_SQL)
def q_dow_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F across day-of-week groups from exact-cents sufficient
    statistics — the k-group seasonality significance test."""
    return stats.dow_anova(load_table(spark, sf_dir, "events"))


@register("events_kaplan_meier", oracle=analytics.kaplan_meier_sql())
def q_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier signup->purchase survival curve over the discrete-hazard
    grid (cumulative ln-sum product on the tiny day grid)."""
    return analytics.kaplan_meier(load_table(spark, sf_dir, "events"))


@register("warehouse_price_volume_mix", oracle=warehouse.PRICE_VOLUME_MIX_SQL)
def q_price_volume_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue bridge: price / volume / mix-in / mix-out
    effects reconciling exactly to the total delta (exact cents)."""
    return warehouse.price_volume_mix(load_table(spark, sf_dir, "lineitem"))


@register("events_forecast_backtest", oracle=analytics.FORECAST_BACKTEST_SQL)
def q_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin backtest of naive vs seasonal-naive daily forecasts:
    MAE + signed bias in exact cents."""
    return analytics.forecast_backtest(load_table(spark, sf_dir, "events"))


@register("graph_assortativity", oracle=graph.degree_assortativity_sql())
def q_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Pearson r of endpoint degrees) of the
    co-purchase graph from exact integer sufficient statistics."""
    return graph.degree_assortativity(load_table(spark, sf_dir, "lineitem"))


@register("events_power_analysis", oracle=stats.POWER_ANALYSIS_SQL)
def q_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B sample-size calculator per metric (80% power, 5% MDE) from
    exact-cents sufficient statistics — the experiment-design step."""
    return stats.power_analysis(load_table(spark, sf_dir, "events"))


@register("events_daily_peaks", oracle=analytics.DAILY_PEAKS_SQL)
def q_daily_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-maxima spike detection over daily totals with exact integer
    prominence tests."""
    return analytics.daily_peaks(load_table(spark, sf_dir, "events"))


@register("warehouse_budget_apportionment", oracle=warehouse.budget_apportionment_sql())
def q_budget_apportionment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder (Hamilton) budget allocation across nations by
    revenue share — whole cents summing exactly to the budget."""
    return warehouse.budget_apportionment(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "nation"),
    )


@register("events_markov_stationary", oracle=sequences.markov_stationary_sql())
def q_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the event-type Markov chain (5 exact
    integer-micro power iterations from uniform)."""
    return sequences.markov_stationary(load_table(spark, sf_dir, "events"))


@register("warehouse_reorder_points", oracle=warehouse.reorder_points_sql())
def q_reorder_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inventory reorder points (95% service, 7-day lead) for the top-50
    movers from exact integer daily-demand statistics."""
    return warehouse.reorder_points(load_table(spark, sf_dir, "lineitem"))


@register("events_holt_level_trend", oracle=analytics.holt_level_trend_sql())
def q_holt_level_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt level+trend smoothing of daily totals as one exact-integer JVM
    array fold (signed half-up per step; recursive-CTE oracle)."""
    return analytics.holt_level_trend(load_table(spark, sf_dir, "events"))


@register("warehouse_abc_xyz_matrix", oracle=warehouse.ABC_XYZ_MATRIX_SQL)
def q_abc_xyz_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC-XYZ planning matrix: Pareto revenue classes x demand-CV classes,
    all thresholds as exact integer cross-multiplication."""
    return warehouse.abc_xyz_matrix(load_table(spark, sf_dir, "lineitem"))


@register("events_markov_entropy_rate", oracle=sequences.markov_entropy_rate_sql())
def q_markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the event-type Markov chain (stationary-weighted
    per-state entropies) — behavioral predictability in exact micro-nats."""
    return sequences.markov_entropy_rate(load_table(spark, sf_dir, "events"))


@register("warehouse_order_aging", oracle=warehouse.order_aging_sql())
def q_order_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aging buckets over open orders: outstanding count and exact-cents
    tied-up value per (priority, age band) vs the corpus reference date."""
    return warehouse.order_aging(load_table(spark, sf_dir, "orders"))


@register("events_mannwhitney_u", oracle=stats.mannwhitney_u_sql())
def q_mannwhitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank-sum test between click and view values — the
    nonparametric A/B twin; 2U and tie-corrected variance as exact integers."""
    return stats.mannwhitney_u(load_table(spark, sf_dir, "events"))


@register("events_kendall_tau", oracle=stats.kendall_tau_daily_sql())
def q_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-a between daily click and error counts — rank correlation
    with no sqrt and no tie-averaging, exact integers end to end."""
    return stats.kendall_tau_daily(load_table(spark, sf_dir, "events"))


@register("warehouse_weighted_median_price", oracle=warehouse.weighted_median_price_sql())
def q_weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median traded price per return flag via the
    integer 2*cumw >= totw threshold over the distinct-price relation."""
    return warehouse.weighted_median_price(load_table(spark, sf_dir, "lineitem"))


@register("events_acf_daily", oracle=analytics.acf_daily_sql())
def q_acf_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of daily event counts at lags 1..7 — the seasonality
    fingerprint, integers end to end via the n-scaled centering trick."""
    return analytics.acf_daily(load_table(spark, sf_dir, "events"))


@register("events_cep_pattern", oracle=sequences.cep_pattern_counts_sql())
def q_cep_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style contiguous pattern counting (view->click->
    purchase) per user via one lead-window conjunction — exact under
    adjacency and overlap."""
    return sequences.cep_pattern_counts(load_table(spark, sf_dir, "events"))


@register("events_linear_interp_fill", oracle=features.linear_interp_fill_sql())
def q_linear_interp_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-interpolation gap fill of daily value series per type —
    exact half-up integer cents via cross-multiplication."""
    return features.linear_interp_fill(load_table(spark, sf_dir, "events"))


@register("events_kmv_distinct", oracle=hll.kmv_distinct_sql())
def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV k-minimum-values distinct sketch per type plus a merged
    click+view row — the mergeable sketch whose estimator is one exact
    integer division, fully oracle-checkable."""
    return hll.kmv_distinct(load_table(spark, sf_dir, "events"))


@register("events_markov_attribution", oracle=sequences.markov_attribution_sql())
def q_markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov removal-effect attribution: per-channel conversion credit from
    how much chain reach drops when the channel is removed — all scenarios
    propagated in one plan, exact micro quantization per round."""
    return sequences.markov_attribution(load_table(spark, sf_dir, "events"))


@register("events_poisson_bootstrap_ci", oracle=stats.poisson_bootstrap_ci_sql())
def q_poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap 95% CI for each type's mean value — the distributed
    bootstrap (per-row Poisson(1) weights, no global resampling), fully
    deterministic via md5-derived uniforms."""
    return stats.poisson_bootstrap_ci(spread(load_table(spark, sf_dir, "events")))


@register(
    "warehouse_topdown_forecast",
    oracle=warehouse.topdown_forecast_reconciliation_sql(),
)
def q_topdown_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-down forecast reconciliation: region seasonal-naive forecast
    split to nations by Hamilton apportionment in exact cents — the
    hierarchy sums exactly."""
    return warehouse.topdown_forecast_reconciliation(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "region"),
    )


@register("warehouse_date_dimension", oracle=warehouse.date_dimension_sql())
def q_date_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kimball conformed date dimension generated from the corpus span —
    ISO weekday numbering (engines disagree on Sunday-based)."""
    return warehouse.date_dimension(load_table(spark, sf_dir, "orders"))


@register("events_diff_in_diff", oracle=stats.diff_in_diff_sql())
def q_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences: 2x2 treated/period panel in exact cents
    plus the DiD effect row — the quasi-experimental workhorse."""
    return stats.diff_in_diff(load_table(spark, sf_dir, "events"))


@register("events_xcorr_daily", oracle=analytics.xcorr_daily_sql())
def q_xcorr_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag cross-correlation of daily click vs purchase counts at lags
    -7..7 — integer numerators/denominators, one identically-associated
    sqrt emit."""
    return analytics.xcorr_daily(load_table(spark, sf_dir, "events"))


@register("events_ks_drift", oracle=distributions.ks_drift_sql())
def q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift test per type — the binning-free
    twin of PSI, fully integer via cross-multiplied CDFs."""
    return distributions.ks_drift(load_table(spark, sf_dir, "events"))


@register("warehouse_vendor_scorecard", oracle=warehouse.vendor_scorecard_sql())
def q_vendor_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Procurement vendor scorecard: volume, exact-cents revenue, integer
    median ship latency, and a cross-multiplied price competitiveness
    index per supplier."""
    return warehouse.vendor_scorecard(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "supplier"),
    )


@register("events_kmv_setops", oracle=hll.kmv_setops_sql())
def q_kmv_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV sketch set algebra: union / intersection / Jaccard estimates
    between event-type user populations from the k-min sketches alone,
    exact panel alongside — the audience-overlap sketch operation."""
    return hll.kmv_setops(load_table(spark, sf_dir, "events"))


@register("warehouse_fifo_costing", oracle=warehouse.fifo_costing_sql())
def q_fifo_costing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIFO inventory cost-layer matching: running-sum layer intervals +
    scalar clamp replace the recursive layer walk; exact integer cents."""
    return warehouse.fifo_costing(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    )


@register("warehouse_record_linkage", oracle=warehouse.record_linkage_sql())
def q_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter probabilistic record linkage: blocked capped pairs,
    integer milli-log-odds agreement weights, two-threshold decision."""
    return warehouse.record_linkage(load_table(spark, sf_dir, "customer"))


@register("events_conformal_interval", oracle=distributions.conformal_interval_sql())
def q_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction interval: train/calibrate/test splits,
    order-statistic q_hat, achieved-coverage panel — all exact integers."""
    return distributions.conformal_interval(load_table(spark, sf_dir, "events"))


@register("warehouse_price_scenarios", oracle=warehouse.price_scenarios_sql())
def q_price_scenarios(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What-if repricing grid: constant-elasticity scenario sweep applied
    to the brand aggregate, all scenarios in one plan."""
    return warehouse.price_scenarios(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    )


@register("graph_walk_pair_counts", oracle=graph.walk_pair_counts_sql())
def q_walk_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DeepWalk-style skip-gram pair corpus from md5-deterministic random
    walks: unrolled frontier joins, bounded window explode, top-k."""
    return graph.walk_pair_counts(spread(load_table(spark, sf_dir, "lineitem")))


@register("events_quarantine_audit", oracle=profile.quarantine_audit_sql())
def q_quarantine_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-letter quarantine routing: first-violated-rule reason codes,
    per-route populations and shares — the ingest front door."""
    return profile.quarantine_audit(spread(load_table(spark, sf_dir, "events")))


from ..llm.sampling import neyman_allocation_sql as _neyman_allocation_sql


@register("sampling_neyman_allocation", oracle=_neyman_allocation_sql())
def q_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman optimal allocation across source strata with Hamilton
    rounding — one sqrt per stratum, quantized once, integer after."""
    from ..llm import sampling as sampling_mod

    return sampling_mod.neyman_allocation(load_table(spark, sf_dir, "documents"))


@register("warehouse_bom_rollup", oracle=warehouse.bom_rollup_sql())
def q_bom_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bill-of-materials cost rollup via ancestor-key path enumeration:
    constant explode, one ancestor-keyed aggregate, no recursion."""
    return warehouse.bom_rollup(load_table(spark, sf_dir, "part"))


@register("events_person_time_rates", oracle=stats.PERSON_TIME_RATES_SQL)
def q_person_time_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exposure-adjusted incidence rates: events per 1000 observed
    user-days, shared person-time denominator."""
    return stats.person_time_rates(load_table(spark, sf_dir, "events"))


@register("events_holt_winters", oracle=analytics.holt_winters_sql())
def q_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters additive triple smoothing (weekly season) as one exact
    integer array fold, bit-identical to the recursive-CTE oracle."""
    return analytics.holt_winters(load_table(spark, sf_dir, "events"))


@register("graph_adamic_adar", oracle=graph.adamic_adar_sql())
def q_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction: wedge-middle decomposition makes the
    score one keyed SUM of micro-quantized 1/ln(degree) weights."""
    return graph.adamic_adar(load_table(spark, sf_dir, "lineitem"))


@register("events_median_ci", oracle=distributions.MEDIAN_CI_SQL)
def q_median_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-free median CI per event type by order-statistic rank
    selection — one quantized sqrt, everything else exact integers."""
    return distributions.median_ci(load_table(spark, sf_dir, "events"))


@register("cdc_multimaster_lww", oracle=cdc.multimaster_lww_sql())
def q_multimaster_lww(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-master last-writer-wins reconciliation: per-key candidate
    explode, min-struct winner on (ts desc, region), 3-row audit."""
    return cdc.multimaster_lww(load_table(spark, sf_dir, "orders"))


@register("events_ipw_ate", oracle=stats.IPW_ATE_SQL)
def q_ipw_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-propensity-weighted ATE under known stratified assignment -
    Hajek means with pinned integer weights, naive bias shown beside."""
    return stats.ipw_ate(load_table(spark, sf_dir, "events"))


@register("graph_hits_bipartite", oracle=graph.hits_bipartite_sql())
def q_hits_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs/authorities on the customer-part purchase bipartite graph:
    two exact power rounds, milli max-renormalization, top-k per side."""
    return graph.hits_bipartite(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "customer"),
    )


@register("warehouse_returns_p_chart", oracle=warehouse.returns_p_chart_sql())
def q_returns_p_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shewhart p-chart on weekly return rates: squared 3-sigma binomial
    band in 38-digit exact types — no sqrt ever evaluates."""
    return warehouse.returns_p_chart(load_table(spark, sf_dir, "lineitem"))


@register("events_anomaly_ensemble", oracle=distributions.ANOMALY_ENSEMBLE_SQL)
def q_anomaly_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three exact anomaly detectors (squared z, MAD, jump) voting on the
    daily series — the alert-precision ensemble."""
    return distributions.anomaly_ensemble(load_table(spark, sf_dir, "events"))


@register("graph_components", oracle=graph.components_summary_sql())
def q_graph_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the co-purchase graph via the dedup
    family's min-label propagation; component-size histogram."""
    return graph.components_summary(load_table(spark, sf_dir, "lineitem"))


@register("warehouse_junk_dimension", oracle=warehouse.JUNK_DIMENSION_SQL)
def q_junk_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kimball junk dimension over the orders flag fields: dense
    reproducible surrogate keys on the observed combination domain."""
    return warehouse.junk_dimension(load_table(spark, sf_dir, "orders"))


@register("graph_square_census", oracle=graph.square_census_sql())
def q_square_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-cycle census via co-neighbor counts: squares = sum C(c_xy,2)/2 -
    no 4-way join, one wedge aggregate plus a closed-form combine."""
    return graph.square_census(load_table(spark, sf_dir, "lineitem"))


@register("warehouse_compaction_plan", oracle=layout.compaction_plan_sql())
def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE-style compaction plan: sequential-coalesce binpacking of
    the day-partition manifest with fill-rate diagnostics."""
    return layout.compaction_plan(load_table(spark, sf_dir, "events"))


@register("events_churn_labels", oracle=behavior.CHURN_LABELS_SQL)
def q_churn_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time churn label generation: observation-window population
    and features, holdout-window labels, per-cohort sanity panel."""
    return behavior.churn_labels(load_table(spark, sf_dir, "events"))


@register("events_watermark_skew", oracle=profile.WATERMARK_SKEW_SQL)
def q_watermark_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source watermark skew vs the safe (minimum) line — the
    'why is my window not closing' readout."""
    return profile.watermark_skew(load_table(spark, sf_dir, "events"))


@register("events_simpson_check", oracle=stats.SIMPSON_CHECK_SQL)
def q_simpson_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's-paradox audit: sign-only cross-multiplied variant
    comparison per stratum vs pooled, with the reversal flag."""
    return stats.simpson_check(load_table(spark, sf_dir, "events"))


@register("events_attribution_shapley", oracle=sequences.shapley_attribution_sql())
def q_attribution_shapley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shapley-value attribution over the 3-channel coalition lattice:
    integer x6 weights, exact efficiency-identity check column."""
    return sequences.shapley_attribution(load_table(spark, sf_dir, "events"))


@register("events_bayes_smoothed_ranking", oracle=stats.BAYES_SMOOTHED_RANKING_SQL)
def q_bayes_smoothed_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beta(1,1)-smoothed segment ranking beside the raw one, with the
    rank_moved flags where shrinkage changes the decision."""
    return stats.bayes_smoothed_ranking(load_table(spark, sf_dir, "events"))


@register("graph_harmonic_centrality", oracle=graph.harmonic_centrality_sql())
def q_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled harmonic centrality by multi-source unrolled BFS — exact
    1e6 DIV hops terms, top-k by summed reciprocal distance."""
    return graph.harmonic_centrality(load_table(spark, sf_dir, "lineitem"))


@register("events_overdispersion", oracle=distributions.OVERDISPERSION_SQL)
def q_overdispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fano dispersion index of hourly arrivals per type — the Poissonness
    check from exact integer power sums."""
    return distributions.overdispersion(load_table(spark, sf_dir, "events"))


@register("events_mutual_information", oracle=stats.MUTUAL_INFORMATION_SQL)
def q_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between event type and hour-of-day — micro-nat
    quantized joint/marginal entropies, NMI panel."""
    return stats.mutual_information(load_table(spark, sf_dir, "events"))


@register("graph_degree_zipf", oracle=graph.degree_zipf_sql())
def q_degree_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-log OLS over the degree histogram — the scale-free check that
    justifies (or relaxes) every hub cap in the graph family."""
    return graph.degree_zipf(load_table(spark, sf_dir, "lineitem"))


@register("warehouse_revenue_waterfall", oracle=warehouse.REVENUE_WATERFALL_SQL)
def q_revenue_waterfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gross-to-net revenue waterfall per year: line amounts rounded once
    to cents (invoice rule), then exact BIGINT sums."""
    return warehouse.revenue_waterfall(load_table(spark, sf_dir, "lineitem"))


@register("warehouse_price_elasticity", oracle=warehouse.PRICE_ELASTICITY_SQL)
def q_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Observational own-price elasticity: milli-nat quantized lns, pure
    BIGINT closed-form OLS — the measured twin of the scenario grid."""
    return warehouse.price_elasticity(load_table(spark, sf_dir, "lineitem"))


@register("graph_rich_club", oracle=graph.rich_club_sql())
def q_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club coefficient sweep: hub-clique density at k in {10,20,40}
    via double broadcast membership joins."""
    return graph.rich_club(load_table(spark, sf_dir, "lineitem"))


@register("features_hashed_cross", oracle=features.hashed_cross_features_sql())
def q_hashed_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-cross hash-dimension sizing: collision diagnostics of the
    (segment x priority x month) cross at candidate table sizes."""
    return features.hashed_cross_features(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "customer")
    )


@register("warehouse_newsvendor_quantity", oracle=warehouse.NEWSVENDOR_QUANTITY_SQL)
def q_newsvendor_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-free newsvendor stocking: critical-fractile order
    statistics of weekly demand per brand — the empirical reorder twin."""
    return warehouse.newsvendor_quantity(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    )


@register("graph_brand_modularity", oracle=graph.brand_modularity_sql())
def q_brand_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modularity of the brand partition over co-purchases — exact integer
    Q with one pinned signed division."""
    return graph.brand_modularity(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    )


@register("warehouse_abc_migration", oracle=warehouse.abc_migration_sql())
def q_abc_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-over-period ABC reclassification matrix — assortment churn
    a static snapshot hides; cross-multiplied cuts per period."""
    return warehouse.abc_migration(load_table(spark, sf_dir, "lineitem"))


@register(
    "warehouse_monthly_seasonal_index",
    oracle=warehouse.MONTHLY_SEASONAL_INDEX_SQL,
)
def q_monthly_seasonal_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical month-of-year seasonal indices — cross-multiplied milli,
    per-month averages never materialize."""
    return warehouse.monthly_seasonal_index(load_table(spark, sf_dir, "lineitem"))


@register("events_reactivation", oracle=behavior.REACTIVATION_RATES_SQL)
def q_reactivation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dormancy-and-return audit: per-user max activity gap buckets with
    reactivation rates — the winback population."""
    return behavior.reactivation_rates(load_table(spark, sf_dir, "events"))


@register("graph_local_clustering", oracle=graph.local_clustering_sql())
def q_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-clustering-coefficient decile panel of the co-purchase
    graph — per-node triangle closure, exact integer milli."""
    return graph.local_clustering(load_table(spark, sf_dir, "lineitem"))


@register(
    "warehouse_promo_cannibalization",
    oracle=warehouse.PROMO_CANNIBALIZATION_SQL,
)
def q_promo_cannibalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-brand promo cannibalization: non-promo shelf volume in
    promo-active vs quiet months, signed exact milli."""
    return warehouse.promo_cannibalization(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    )


@register("warehouse_eoq_quantity", oracle=warehouse.eoq_quantity_sql())
def q_eoq_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson EOQ lot sizes per brand via the exact integer square
    root — sqrt-based outputs inside the exact-BIGINT discipline."""
    return warehouse.eoq_quantity(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    )


@register("events_daily_volatility", oracle=analytics.daily_volatility_sql())
def q_daily_volatility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type daily-volume volatility: exact-isqrt population stddev
    and CV of daily counts."""
    return analytics.daily_volatility(load_table(spark, sf_dir, "events"))


@register("events_growth_accounting", oracle=behavior.GROWTH_ACCOUNTING_SQL)
def q_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly WAU growth accounting: new + retained + resurrected,
    churn charged to the week users left."""
    return behavior.growth_accounting(load_table(spark, sf_dir, "events"))


@register("warehouse_split_shipments", oracle=warehouse.SPLIT_SHIPMENTS_SQL)
def q_split_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-shipment panel: multi-ship-date order share and drag span
    per month, exact milli."""
    return warehouse.split_shipments(load_table(spark, sf_dir, "lineitem"))


@register("events_srm_check", oracle=stats.srm_check_sql())
def q_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guardrail on the md5 assignment path:
    chi-square vs even split, exact integer micro."""
    return stats.srm_check(load_table(spark, sf_dir, "events"))


@register("events_error_budget", oracle=analytics.ERROR_BUDGET_SQL)
def q_error_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRE error-budget burn: daily error rate vs a 1% SLO with exact
    cumulative burn and breach flag."""
    return analytics.error_budget(load_table(spark, sf_dir, "events"))


@register(
    "warehouse_assortment_attrition",
    oracle=warehouse.ASSORTMENT_ATTRITION_SQL,
)
def q_assortment_attrition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assortment attrition per brand: once-selling parts quiet in the
    trailing window, with revenue at risk in exact cents."""
    return warehouse.assortment_attrition(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    )


@register("events_autoscale_replay", oracle=sequences.autoscale_replay_sql())
def q_autoscale_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic autoscaler replay over the hourly grid: one JVM
    array fold == the oracle's recursive CTE, exact integers."""
    return sequences.autoscale_replay(load_table(spark, sf_dir, "events"))


@register("events_lateness_sweep", oracle=sequences.lateness_sweep_sql())
def q_lateness_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Allowed-lateness tuning curve: drop rate at four candidate
    watermark delays, exact milli."""
    return sequences.lateness_sweep(load_table(spark, sf_dir, "events"))


@register(
    "warehouse_decile_migration",
    oracle=warehouse.CUSTOMER_DECILE_MIGRATION_SQL,
)
def q_decile_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer value-decile migration matrix between timeline halves —
    exact rank deciles, no ntile tie instability."""
    return warehouse.customer_decile_migration(
        load_table(spark, sf_dir, "orders")
    )


@register("warehouse_basket_profile", oracle=warehouse.BASKET_PROFILE_SQL)
def q_basket_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Basket-size economics: AOV and quantity per line-count bucket."""
    return warehouse.basket_profile(load_table(spark, sf_dir, "lineitem"))


@register(
    "events_attribution_time_decay",
    oracle=temporal.hourly_time_decay_attribution_sql(),
)
def q_attribution_time_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay multi-touch attribution: power-of-two halving weights,
    per-purchase normalization, exact integer micro credit."""
    return temporal.hourly_time_decay_attribution(load_table(spark, sf_dir, "events"))


@register("events_type_affinity", oracle=behavior.TYPE_AFFINITY_SQL)
def q_type_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-day event-type lift matrix — the behavioral basket
    analysis, exact milli lift."""
    return behavior.type_affinity(load_table(spark, sf_dir, "events"))


@register(
    "warehouse_snapshot_retention", oracle=layout.SNAPSHOT_RETENTION_SQL
)
def q_snapshot_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GFS snapshot-retention plan over the snapshot catalog: daily /
    weekly / monthly keeps, the rest expired — pure date arithmetic."""
    return layout.snapshot_retention(load_table(spark, sf_dir, "orders"))


@register("events_incident_impact", oracle=analytics.INCIDENT_IMPACT_SQL)
def q_incident_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incident blast radius: per-type volume before/during/after the
    peak-error day, argmax day as a 1-row scalar."""
    return analytics.incident_impact(load_table(spark, sf_dir, "events"))


@register("warehouse_cross_elasticity", oracle=warehouse.CROSS_ELASTICITY_SQL)
def q_cross_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-price elasticity matrix over the monthly brand panel —
    milli-nat quantized OLS in pure BIGINTs."""
    return warehouse.cross_elasticity(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    )


@register(
    "warehouse_returns_by_discount", oracle=warehouse.RETURNS_BY_DISCOUNT_SQL
)
def q_returns_by_discount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adverse-selection check: return rate and returned revenue per
    discount band."""
    return warehouse.returns_by_discount(load_table(spark, sf_dir, "lineitem"))


@register("warehouse_cube_revenue", oracle=warehouse.CUBE_REVENUE_SQL)
def q_cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CUBE over (returnflag, linestatus): detail, both margins
    and the grand total in one Expand pass."""
    return warehouse.cube_revenue(load_table(spark, sf_dir, "lineitem"))


@register(
    "warehouse_variance_decomposition",
    oracle=warehouse.VARIANCE_DECOMPOSITION_SQL,
)
def q_variance_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Between-vs-within brand variance decomposition of monthly
    revenue: exact-integer eta-squared."""
    return warehouse.variance_decomposition(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    )


@register("warehouse_lorenz_points", oracle=warehouse.LORENZ_POINTS_SQL)
def q_lorenz_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve of customer spend at decile points — the plottable
    curve behind the Gini coefficient."""
    return warehouse.lorenz_points(load_table(spark, sf_dir, "orders"))


@register(
    "events_process_conformance", oracle=sequences.process_conformance_sql()
)
def q_process_conformance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Process-mining conformance: observed transitions vs the declared
    model, violation shares in exact milli."""
    return sequences.process_conformance(load_table(spark, sf_dir, "events"))


@register("warehouse_tax_profile", oracle=warehouse.TAX_PROFILE_SQL)
def q_tax_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective tax-rate audit per return flag, exact cents/milli."""
    return warehouse.tax_profile(load_table(spark, sf_dir, "lineitem"))


@register(
    "warehouse_price_consistency", oracle=warehouse.PRICE_CONSISTENCY_SQL
)
def q_price_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unit-price consistency audit: top spread offenders per part."""
    return warehouse.price_consistency(load_table(spark, sf_dir, "lineitem"))


@register(
    "warehouse_moving_annual_total",
    oracle=warehouse.MOVING_ANNUAL_TOTAL_SQL,
)
def q_moving_annual_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-12-month revenue per brand via a RANGE window over the
    integer month index."""
    return warehouse.moving_annual_total(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    )


@register("graph_support_sweep", oracle=graph.support_sweep_sql())
def q_support_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Support-threshold survival curve for the co-purchase graph:
    edges and nodes per candidate min_support."""
    return graph.support_sweep(load_table(spark, sf_dir, "lineitem"))


@register("warehouse_fiscal_445", oracle=warehouse.FISCAL_445_REVENUE_SQL)
def q_fiscal_445(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue on the retail 4-4-5 fiscal calendar — pure integer week
    arithmetic, no date table."""
    return warehouse.fiscal_445_revenue(load_table(spark, sf_dir, "lineitem"))


@register("events_aa_calibration", oracle=stats.aa_calibration_sql())
def q_aa_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/A calibration drill: Welch t on the null md5 split — the
    platform health check before trusting any real readout."""
    return stats.aa_calibration(spread(load_table(spark, sf_dir, "events")))


@register("warehouse_dom_profile", oracle=warehouse.DOM_PROFILE_SQL)
def q_dom_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-month revenue cadence: share per day-of-month."""
    return warehouse.dom_profile(load_table(spark, sf_dir, "orders"))


@register(
    "events_metric_decomposition", oracle=analytics.METRIC_DECOMPOSITION_SQL
)
def q_metric_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metric-tree decomposition: Δln(total) split into users, freq
    and value levers in exact micro-nats."""
    return analytics.metric_decomposition(load_table(spark, sf_dir, "events"))


@register(
    "events_tenure_value_curve", oracle=behavior.TENURE_VALUE_CURVE_SQL
)
def q_tenure_value_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average purchase value by user tenure week — the monetization
    maturity curve."""
    return behavior.tenure_value_curve(load_table(spark, sf_dir, "events"))


@register("warehouse_status_mix", oracle=warehouse.STATUS_MIX_SQL)
def q_status_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-status mix per month with exact milli shares."""
    return warehouse.status_mix(load_table(spark, sf_dir, "orders"))


@register(
    "warehouse_supplier_switching", oracle=warehouse.SUPPLIER_SWITCHING_SQL
)
def q_supplier_switching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier-set switching matrix per brand between timeline halves
    — exact set algebra, procurement stability."""
    return warehouse.supplier_switching(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    )


@register("events_fatigue_curve", oracle=behavior.FATIGUE_CURVE_SQL)
def q_fatigue_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engagement fatigue: average next-event gap by within-day event
    position, exact milliseconds."""
    return behavior.fatigue_curve(load_table(spark, sf_dir, "events"))


@register(
    "events_attribution_window_sweep",
    oracle=temporal.attribution_window_sweep_sql(),
)
def q_attribution_window_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attach-rate curve over the attribution-lookback grid — one as-of
    pass, constant-grid explode."""
    return temporal.attribution_window_sweep(load_table(spark, sf_dir, "events"))


@register("events_activation_latency", oracle=behavior.ACTIVATION_LATENCY_SQL)
def q_activation_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup-to-first-purchase latency panel with a complete 'never'
    bucket over the signup cohort."""
    return behavior.activation_latency(load_table(spark, sf_dir, "events"))


@register(
    "warehouse_quantity_price_breaks",
    oracle=warehouse.quantity_price_breaks_sql(),
)
def q_quantity_price_breaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Realized bulk-discount ladder: unit price by quantity band per
    brand, signed break vs the smallest band."""
    return warehouse.quantity_price_breaks(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    )


@register("warehouse_hhi_trend", oracle=warehouse.HHI_TREND_SQL)
def q_hhi_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brand-concentration (HHI) trend per year in exact basis-point
    arithmetic."""
    return warehouse.hhi_trend(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    )


@register("events_load_shape", oracle=analytics.LOAD_SHAPE_SQL)
def q_load_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """24h load shape per type: peak vs trough hour and their ratio."""
    return analytics.load_shape(load_table(spark, sf_dir, "events"))


@register("events_cohort_half_life", oracle=behavior.COHORT_HALF_LIFE_SQL)
def q_cohort_half_life(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First week offset where each signup cohort halves — the decay
    number retention matrices bury."""
    return behavior.cohort_half_life(load_table(spark, sf_dir, "events"))


@register("graph_brand_conductance", oracle=graph.brand_conductance_sql())
def q_brand_conductance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand conductance of the co-purchase partition — the local
    community quality modularity averages away."""
    return graph.brand_conductance(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    )


@register("warehouse_rounding_residue", oracle=warehouse.ROUNDING_RESIDUE_SQL)
def q_rounding_residue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-cent rounding residue per month — the ledger reconciliation
    gap and salami-slicing check."""
    return warehouse.rounding_residue(load_table(spark, sf_dir, "lineitem"))


@register(
    "events_conversion_by_depth", oracle=behavior.CONVERSION_BY_DEPTH_SQL
)
def q_conversion_by_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchase propensity at the nth lifetime event — the engagement-
    depth monetization curve."""
    return behavior.conversion_by_depth(load_table(spark, sf_dir, "events"))


@register("events_incident_hotspots", oracle=analytics.INCIDENT_HOTSPOTS_SQL)
def q_incident_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-level drill-down of the peak-error day."""
    return analytics.incident_hotspots(load_table(spark, sf_dir, "events"))


@register("events_bh_fdr", oracle=stats.bh_fdr_panel_sql())
def q_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg step-up over the per-type z panel — FDR-controlled
    reject set via a precomputed z-critical literal table (no runtime
    quantile function in either engine)."""
    return stats.bh_fdr_panel(load_table(spark, sf_dir, "events"))


@register("events_sprt", oracle=stats.SPRT_DAILY_SQL)
def q_sprt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald SPRT on the daily conversion stream — integer micro-nat LLR
    walk with precomputed log constants; always-valid sequential decision."""
    return stats.sprt_daily(load_table(spark, sf_dir, "events"))


@register("warehouse_croston", oracle=warehouse.croston_forecast_sql())
def q_croston(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston intermittent-demand forecast per brand over the sparse part
    slice — coupled size/interval smoothers as one JVM array fold."""
    return warehouse.croston_forecast(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    )


@register("events_drawdown", oracle=analytics.MAX_DRAWDOWN_SQL)
def q_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of the cumulative daily net value — worst
    peak-to-trough episode with days pinned, exact cents."""
    return analytics.max_drawdown_daily(load_table(spark, sf_dir, "events"))


@register("cdc_log_compaction", oracle=cdc.log_compaction_audit_sql())
def q_log_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-log compaction economics per status: live keys, tombstones,
    superseded records, write amplification."""
    return cdc.log_compaction_audit(load_table(spark, sf_dir, "orders"))


@register("events_velocity_flags", oracle=behavior.velocity_flags_sql())
def q_velocity_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window event-rate rule (fraud/bot velocity screen) — one
    user-partitioned RANGE window, per-user review rollup."""
    return behavior.velocity_flags(load_table(spark, sf_dir, "events"))


@register("events_dfg_waits", oracle=sequences.DFG_WAITS_SQL)
def q_dfg_waits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directly-follows graph with exact median/mean waiting time per edge
    — the process-mining bottleneck map."""
    return sequences.dfg_waits(load_table(spark, sf_dir, "events"))


@register("warehouse_demand_classification", oracle=warehouse.demand_classification_sql())
def q_demand_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Syntetos-Boylan ADI x CV^2 demand-pattern quadrants per brand — the
    forecaster router for the sparse part slice."""
    return warehouse.demand_classification(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    )


@register("warehouse_ss_policy_sim", oracle=warehouse.ss_policy_simulation_sql())
def q_ss_policy_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(s,S) periodic-review inventory replay per brand: fill rate,
    stockouts, orders, average stock — one JVM fold per brand."""
    return warehouse.ss_policy_simulation(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    )


@register("events_ljung_box", oracle=analytics.ljung_box_daily_sql())
def q_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box whiteness test composed over the certified integer-milli
    daily ACF; chi-square critical value as a micro literal."""
    return analytics.ljung_box_daily(load_table(spark, sf_dir, "events"))


@register("events_burn_rate_alerts", oracle=analytics.burn_rate_alerts_sql())
def q_burn_rate_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-window SLO burn-rate alerts: 1h + trailing 6h error burns,
    alert only when BOTH exceed 4.5x budget — exact integer milli burns."""
    return analytics.burn_rate_alerts(load_table(spark, sf_dir, "events"))


@register("events_interrupted_ts", oracle=analytics.INTERRUPTED_TS_SQL)
def q_interrupted_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segmented-regression ITS around the worst incident day: slope and
    level changes from pre/post OLS fits on the bounded day grid."""
    return analytics.interrupted_time_series(load_table(spark, sf_dir, "events"))


# --- round-8 operators ----------------------------------------------------------------


@register("events_spearman_daily", oracle=stats.spearman_daily_sql())
def q_spearman_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation (tie-correct, Pearson-on-average-ranks)
    between daily click and error counts; doubled integer ranks keep every
    sufficient statistic exact until the one final sqrt."""
    return stats.spearman_daily(load_table(spark, sf_dir, "events"))


@register("events_runs_test", oracle=stats.runs_test_daily_sql())
def q_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test for randomness of the daily count sequence
    around its kth_smallest-selected median — the distribution-free
    trend/oscillation check."""
    return stats.runs_test_daily(load_table(spark, sf_dir, "events"))


@register("events_theil_index", oracle=stats.theil_index_users_sql())
def q_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality of per-user spend (additively decomposable
    entropy form) with the ln(n)-normalized variant; exact-cents user
    totals feed the single float boundary."""
    return stats.theil_index_users(load_table(spark, sf_dir, "events"))


@register("events_evt_return_level", oracle=stats.evt_return_level_sql())
def q_evt_return_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel method-of-moments fit over daily maxima and the 30-day
    return level — tail extrapolation beyond the observed range, from
    exact integer sufficient statistics."""
    return stats.evt_return_level(load_table(spark, sf_dir, "events"))


@register(
    "warehouse_shipmode_priority", oracle=tpch_shapes.shipmode_priority_counts_sql()
)
def q_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: critical- vs normal-priority line counts per
    shipment class (returnflag x linestatus), year predicate pushed to the
    fact scan — completes the Q1-Q22 shape sweep."""
    return tpch_shapes.shipmode_priority_counts(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "orders")
    )


@register("warehouse_brand_transition", oracle=warehouse.brand_transition_matrix_sql())
def q_brand_transition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brand-to-brand repurchase transition matrix over consecutive orders
    per customer (dominant brand via struct-min, exact centi quantities,
    milli row shares)."""
    return warehouse.brand_transition_matrix(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "part"),
    )


@register("events_mann_kendall", oracle=stats.mann_kendall_daily_sql())
def q_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotone-trend test on daily counts — tie-corrected
    integer variance, continuity-corrected z."""
    return stats.mann_kendall_daily(load_table(spark, sf_dir, "events"))


@register("events_sen_slope", oracle=stats.sen_slope_daily_sql())
def q_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen median slope of daily counts — the robust trend estimate
    via two kth_smallest order statistics over the day-pair slopes."""
    return stats.sen_slope_daily(load_table(spark, sf_dir, "events"))


@register("events_poisson_gap_check", oracle=stats.poisson_gap_check_sql())
def q_poisson_gap_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned KS of per-user inter-arrival gaps against the fitted
    exponential — the memoryless-arrival (bot/burst) check per type."""
    return stats.poisson_gap_check(load_table(spark, sf_dir, "events"))


@register("warehouse_price_index", oracle=warehouse.price_index_monthly_sql())
def q_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres / Paasche / Fisher monthly price indexes vs the base
    month, matched-model, exact integer value/quantity sums."""
    return warehouse.price_index_monthly(load_table(spark, sf_dir, "lineitem"))


@register("warehouse_hill_tail_index", oracle=warehouse.hill_tail_index_sql())
def q_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill tail-index of order totals at k=50/100/200 — power-law
    heaviness from distributed top-k pools, no global sort."""
    return warehouse.hill_tail_index(load_table(spark, sf_dir, "orders"))


@register("events_granger_lite", oracle=stats.granger_lite_daily_sql())
def q_granger_lite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bidirectional Granger-style lagged predictability F-test on daily
    click/error counts — Frisch-Waugh from exact centered moments."""
    return stats.granger_lite_daily(load_table(spark, sf_dir, "events"))


@register("events_brown_forsythe", oracle=stats.brown_forsythe_test_sql())
def q_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe (median-based Levene) equal-spread test across event
    types — the robust homoskedasticity gate before pooled t-tests."""
    return stats.brown_forsythe_test(load_table(spark, sf_dir, "events"))


@register("events_mantel_haenszel", oracle=stats.mantel_haenszel_or_sql())
def q_mantel_haenszel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mantel-Haenszel stratified odds ratio vs the naive pooled OR —
    the effect-size estimator behind simpson_check's sign audit."""
    return stats.mantel_haenszel_or(load_table(spark, sf_dir, "events"))


@register(
    "warehouse_theil_decomposition",
    oracle=warehouse.theil_decomposition_nation_sql(),
)
def q_theil_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality of customer revenue split into between- and
    within-nation components (total = between + within)."""
    return warehouse.theil_decomposition_nation(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "nation"),
    )


@register("warehouse_late_order_priority", oracle=warehouse.late_order_priority_sql())
def q_late_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS-as-LEFT-SEMI with a both-sides join predicate
    (late line = shipped 90+ days after order date), per-priority counts."""
    return warehouse.late_order_priority(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


@register("events_kruskal_wallis", oracle=stats.kruskal_wallis_test_sql())
def q_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis rank ANOVA of value across event types — doubled
    exact pooled ranks off the cent-value aggregate, tie-corrected."""
    return stats.kruskal_wallis_test(load_table(spark, sf_dir, "events"))


@register("warehouse_measure_correlation", oracle=warehouse.measure_correlation_sql())
def q_measure_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation matrix of the four lineitem measures from ONE
    scan — 14 exact DECIMAL moment sums, 6-pair literal unpivot."""
    return warehouse.measure_correlation(load_table(spark, sf_dir, "lineitem"))


@register("events_cramers_v", oracle=stats.cramers_v_dow_sql())
def q_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramer's V effect size for event_type x day-of-week — densified
    grid, micro-quantized chi-square terms, bounded-window margins."""
    return stats.cramers_v_dow(load_table(spark, sf_dir, "events"))


@register(
    "events_permutation_entropy", oracle=stats.permutation_entropy_daily_sql()
)
def q_permutation_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-3 permutation entropy of each type's daily-count sequence —
    ordinal complexity from a 2-lead window over the bounded day grid."""
    return stats.permutation_entropy_daily(load_table(spark, sf_dir, "events"))


@register("warehouse_bullwhip_ratio", oracle=warehouse.bullwhip_ratio_sql())
def q_bullwhip_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bullwhip amplification per brand: monthly ordered-quantity variance
    over shipped-quantity variance on one shared densified month spine."""
    return warehouse.bullwhip_ratio(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "part"),
    )


@register("events_page_hinkley", oracle=stats.page_hinkley_daily_sql())
def q_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley upward-drift statistic over the daily mean value —
    the sequential online change detector, micro-quantized terms."""
    return stats.page_hinkley_daily(load_table(spark, sf_dir, "events"))


@register("events_friedman_test", oracle=stats.friedman_test_daily_sql())
def q_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman repeated-measures rank test: do event types keep the same
    activity ordering across days? Densified grid, doubled within-day ranks."""
    return stats.friedman_test_daily(load_table(spark, sf_dir, "events"))


@register(
    "warehouse_dickey_fuller", oracle=warehouse.dickey_fuller_daily_revenue_sql()
)
def q_dickey_fuller(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dickey-Fuller unit-root check on daily revenue — DECIMAL(38,0)-exact
    regression moments, one lag window over the bounded day grid."""
    return warehouse.dickey_fuller_daily_revenue(
        load_table(spark, sf_dir, "orders")
    )


@register("warehouse_weibull_latency", oracle=warehouse.weibull_latency_fit_sql())
def q_weibull_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-quantile Weibull fit of order->ship latency — exact integer
    q25/q75 order statistics, closed-form shape/scale inversion."""
    return warehouse.weibull_latency_fit(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
    )


@register("warehouse_cpk_latency", oracle=warehouse.cpk_latency_sql())
def q_cpk_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cp/Cpk process-capability indexes of ship latency against the
    [0,120]-day spec — DECIMAL-exact moments, one 1-row aggregate."""
    return warehouse.cpk_latency(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
    )


@register("events_jarque_bera", oracle=stats.jarque_bera_daily_sql())
def q_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality test on daily event counts — DECIMAL-exact
    raw power sums, one 1-row moment reduction."""
    return stats.jarque_bera_daily(load_table(spark, sf_dir, "events"))


@register("events_durbin_watson", oracle=stats.durbin_watson_daily_sql())
def q_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin-Watson serial-correlation check on daily value-sum OLS
    residuals — milli-quantized residuals, one lag window on the day grid."""
    return stats.durbin_watson_daily(load_table(spark, sf_dir, "events"))


@register("events_grubbs_test", oracle=stats.grubbs_test_daily_sql())
def q_grubbs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grubbs single-outlier test on daily mean values — exact integer
    deviations, earliest-day tie-break, bounded limit-1 sort."""
    return stats.grubbs_test_daily(load_table(spark, sf_dir, "events"))


@register("events_levene_test", oracle=stats.levene_test_sql())
def q_levene_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levene mean-centered spread test across event types — milli-cent
    deviations, brown_forsythe's ANOVA skeleton with the classical center."""
    return stats.levene_test(load_table(spark, sf_dir, "events"))


@register("events_bartlett_test", oracle=stats.bartlett_test_sql())
def q_bartlett_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartlett variance-homogeneity test across event types —
    DECIMAL-exact centi moments, micro-quantized per-group log terms."""
    return stats.bartlett_test(load_table(spark, sf_dir, "events"))


@register(
    "events_cochran_armitage", oracle=stats.cochran_armitage_trend_sql()
)
def q_cochran_armitage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Armitage ordered trend test of error share across the four
    six-hour day parts — exact BIGINT sufficient statistics."""
    return stats.cochran_armitage_trend(load_table(spark, sf_dir, "events"))


@register("events_mcnemar_test", oracle=stats.mcnemar_test_sql())
def q_mcnemar_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar paired-binary test of user activity flipping across the
    mid-window cutoff — exact discordant-cell counts."""
    return stats.mcnemar_test(load_table(spark, sf_dir, "events"))


@register("events_cochran_q", oracle=stats.cochran_q_test_sql())
def q_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q repeated-binary test across click/view/purchase
    participation flags blocked by user — all-integer statistics."""
    return stats.cochran_q_test(load_table(spark, sf_dir, "events"))


@register("events_kpss_test", oracle=stats.kpss_daily_sql())
def q_kpss_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KPSS level-stationarity statistic on daily counts — all-integer
    partial-sum ratio, the dickey_fuller null flipped."""
    return stats.kpss_daily(load_table(spark, sf_dir, "events"))


@register(
    "events_wilcoxon_signed_rank",
    oracle=stats.wilcoxon_signed_rank_daily_sql(),
)
def q_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test of paired daily click/error counts —
    doubled average ranks, tie-corrected normal approximation."""
    return stats.wilcoxon_signed_rank_daily(load_table(spark, sf_dir, "events"))


@register(
    "events_spectral_periodogram",
    oracle=stats.spectral_periodogram_daily_sql(),
)
def q_spectral_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Periodogram of daily counts at periods 2..14 — micro-quantized
    trig projections, weekly cadence shows as an amplitude spike."""
    return stats.spectral_periodogram_daily(load_table(spark, sf_dir, "events"))


@register("events_hurst_rs", oracle=stats.hurst_rs_daily_sql())
def q_hurst_rs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst rescaled-range exponent over 4/8/16-day blocks — integer
    scaled partial sums, log2-spaced OLS slope."""
    return stats.hurst_rs_daily(load_table(spark, sf_dir, "events"))


@register(
    "warehouse_local_supplier_volume",
    oracle=tpch_shapes.local_supplier_volume_sql(),
)
def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5: per-nation revenue from same-nation customer/supplier trade in
    one region and year — broadcast dim chain, one orderkey shuffle."""
    return tpch_shapes.local_supplier_volume(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "region"),
    )


@register(
    "warehouse_tracking_signal", oracle=warehouse.tracking_signal_brands_sql()
)
def q_tracking_signal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigg tracking signal of the naive monthly forecast per brand —
    exact integer error sums, the forecast-bias production alarm."""
    return warehouse.tracking_signal_brands(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "part"),
    )


@register(
    "warehouse_wilson_ranking", oracle=warehouse.wilson_return_ranking_sql()
)
def q_wilson_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson-score lower-bound leaderboard of brand return rates — the
    small-sample-safe frequentist ranking."""
    return warehouse.wilson_return_ranking(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "part"),
    )


@register("warehouse_otif_fill_rate", oracle=warehouse.otif_fill_rate_sql())
def q_otif_fill_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """On-time-in-full fill rate per order month — order-grain all-lines
    verdict, exact integer counts."""
    return warehouse.otif_fill_rate(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
    )


@register(
    "warehouse_atkinson_index", oracle=warehouse.atkinson_index_customers_sql()
)
def q_atkinson_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Atkinson inequality index (epsilon=1) of customer revenue —
    micro-quantized log sums, the welfare-theoretic Gini companion."""
    return warehouse.atkinson_index_customers(load_table(spark, sf_dir, "orders"))


@register(
    "warehouse_bass_diffusion", oracle=warehouse.bass_diffusion_fit_sql()
)
def q_bass_diffusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bass diffusion p/q/m fit over monthly first-time customers —
    DECIMAL-exact quadratic regression moments, Cramer solve."""
    return warehouse.bass_diffusion_fit(load_table(spark, sf_dir, "orders"))


@register(
    "warehouse_theta_forecast", oracle=warehouse.theta_forecast_backtest_sql()
)
def q_theta_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-method one-step backtest on monthly revenue — prefix OLS +
    micro-quantized SES terms on the bounded month-pair grid."""
    return warehouse.theta_forecast_backtest(load_table(spark, sf_dir, "orders"))


@register("events_pacf", oracle=stats.pacf_daily_sql())
def q_pacf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation at lags 1-3 via Durbin-Levinson — exact
    integer lag-product sums, the AR-order diagnostic."""
    return stats.pacf_daily(load_table(spark, sf_dir, "events"))


@register("events_breusch_pagan", oracle=stats.breusch_pagan_daily_sql())
def q_breusch_pagan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Koenker-Breusch-Pagan heteroscedasticity test on daily OLS
    residuals — squared-residual auxiliary regression, n*R^2."""
    return stats.breusch_pagan_daily(load_table(spark, sf_dir, "events"))


@register("events_sign_test", oracle=stats.sign_test_daily_sql())
def q_sign_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired sign test of daily click vs error counts — direction-only
    floor under the Wilcoxon, continuity-corrected z."""
    return stats.sign_test_daily(load_table(spark, sf_dir, "events"))


@register("events_capture_recapture", oracle=stats.capture_recapture_sql())
def q_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chapman capture-recapture population estimate from the two month
    halves — exact mark/recapture/overlap counts."""
    return stats.capture_recapture(load_table(spark, sf_dir, "events"))


@register("events_design_effect", oracle=stats.design_effect_users_sql())
def q_design_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-sampling design effect of user clustering — one-way ANOVA
    ICC and DEFF, the effective-sample-size discount."""
    return stats.design_effect_users(load_table(spark, sf_dir, "events"))


@register("events_littles_law", oracle=analytics.littles_law_daily_sql())
def q_littles_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Little's law audit per day: observed within-day session presence vs
    full-duration charge — the cross-midnight boundary meter."""
    return analytics.littles_law_daily(load_table(spark, sf_dir, "events"))


@register("events_tukey_fences", oracle=stats.tukey_fences_by_type_sql())
def q_tukey_fences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey boxplot fence census per event type — exact integer quartile
    order statistics, doubled-cent fences."""
    return stats.tukey_fences_by_type(load_table(spark, sf_dir, "events"))


@register("events_cohens_kappa", oracle=stats.cohens_kappa_daily_sql())
def q_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between click/view participation at user-day grain —
    chance-corrected agreement from exact 2x2 cells."""
    return stats.cohens_kappa_daily(load_table(spark, sf_dir, "events"))


@register("events_phi_coefficient", oracle=stats.phi_coefficient_daily_sql())
def q_phi_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phi coefficient of click/error co-occurrence at user-day grain —
    the signed 2x2 Pearson correlation."""
    return stats.phi_coefficient_daily(load_table(spark, sf_dir, "events"))


@register("events_odds_ratio_ci", oracle=stats.odds_ratio_ci_daily_sql())
def q_odds_ratio_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Haldane-corrected odds ratio of purchase given click with Woolf
    95% CI — the crude-OR headline under mantel_haenszel."""
    return stats.odds_ratio_ci_daily(load_table(spark, sf_dir, "events"))


@register(
    "graph_eigenvector_centrality", oracle=graph.eigenvector_centrality_sql()
)
def q_eigenvector_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eigenvector centrality over the co-purchase graph — sum-normalized
    integer power iterations, the status reading PageRank's surfer misses."""
    return graph.eigenvector_centrality(load_table(spark, sf_dir, "lineitem"))


@register("events_transfer_entropy", oracle=stats.transfer_entropy_daily_sql())
def q_transfer_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 binary transfer entropy between daily click and error series,
    both directions — the information-theoretic Granger."""
    return stats.transfer_entropy_daily(load_table(spark, sf_dir, "events"))


@register("warehouse_median_polish", oracle=warehouse.median_polish_brands_sql())
def q_median_polish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey median polish of the brand x month revenue matrix — all-integer
    robust two-way decomposition, two full sweeps."""
    return warehouse.median_polish_brands(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "part"),
    )


@register("events_bowker_symmetry", oracle=stats.bowker_symmetry_test_sql())
def q_bowker_symmetry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bowker kxk transition-symmetry test on user event sequences —
    McNemar's generalization, micro-quantized pair terms."""
    return stats.bowker_symmetry_test(load_table(spark, sf_dir, "events"))


@register("events_c_chart", oracle=stats.c_chart_daily_sql())
def q_c_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shewhart c-chart on daily error counts — Poisson 3-sigma limits,
    exact breach census."""
    return stats.c_chart_daily(load_table(spark, sf_dir, "events"))


@register("events_turning_points", oracle=stats.turning_points_daily_sql())
def q_turning_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turning-point randomness test on daily counts — strict local
    extrema vs the 2/3 i.i.d. rate."""
    return stats.turning_points_daily(load_table(spark, sf_dir, "events"))


@register("events_mood_median", oracle=stats.mood_median_test_sql())
def q_mood_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test across event types — grand-median dichotomy
    chi-square, the tie-proof location check."""
    return stats.mood_median_test(load_table(spark, sf_dir, "events"))


@register("warehouse_kraljic_matrix", oracle=warehouse.kraljic_matrix_sql())
def q_kraljic_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kraljic procurement portfolio: supplier spend x part-exclusivity
    risk quadrants — exact integer mean cuts."""
    return warehouse.kraljic_matrix(load_table(spark, sf_dir, "lineitem"))


@register("events_ks_uniformity", oracle=stats.ks_uniformity_seconds_sql())
def q_ks_uniformity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned one-sample KS test of second-of-day against uniform —
    all-integer sup deviation over the 86400-bin grid."""
    return stats.ks_uniformity_seconds(load_table(spark, sf_dir, "events"))


@register("events_hellinger_hourly", oracle=stats.hellinger_hourly_sql())
def q_hellinger_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hellinger distance between click/error hour-of-day profiles —
    micro-quantized Bhattacharyya terms on the dense 24-hour grid."""
    return stats.hellinger_hourly(load_table(spark, sf_dir, "events"))


@register("events_cox_stuart", oracle=stats.cox_stuart_daily_sql())
def q_cox_stuart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cox-Stuart half-pairing trend test on daily counts — the frugal
    binomial sibling of Mann-Kendall."""
    return stats.cox_stuart_daily(load_table(spark, sf_dir, "events"))


@register("events_page_trend", oracle=stats.page_trend_test_sql())
def q_page_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's L ordered trend test across day parts blocked by day —
    doubled within-day ranks, the rank Cochran-Armitage."""
    return stats.page_trend_test(load_table(spark, sf_dir, "events"))


@register(
    "events_seasonal_mann_kendall",
    oracle=stats.seasonal_mann_kendall_daily_sql(),
)
def q_seasonal_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal Mann-Kendall: within-weekday pair trend test, summed S
    and tie-corrected variance over the 7 seasons."""
    return stats.seasonal_mann_kendall_daily(load_table(spark, sf_dir, "events"))


@register("events_updown_runs", oracle=stats.updown_runs_daily_sql())
def q_updown_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Up/down runs randomness test on daily counts — maximal monotone
    stretches of the first-difference sign."""
    return stats.updown_runs_daily(load_table(spark, sf_dir, "events"))


@register("events_bartels_rank", oracle=stats.bartels_rank_daily_sql())
def q_bartels_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartels rank von Neumann ratio — model-free serial-dependence
    check on doubled average ranks."""
    return stats.bartels_rank_daily(load_table(spark, sf_dir, "events"))


@register("events_logrank_test", oracle=stats.logrank_test_sql())
def q_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank test of time-to-purchase between signup-day clickers and
    non-clickers — hypergeometric O-E over the bounded horizon grid."""
    return stats.logrank_test(load_table(spark, sf_dir, "events"))


# --- round 10 -------------------------------------------------------------------------


@register("warehouse_ivm_outer_join", oracle=ivm.maintained_left_join_view_sql())
def q_ivm_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outer-join IVM: LEFT-join view maintained under right-side inserts
    AND deletes with null side-flips (first match retracts the null row,
    last delete re-emits it); oracle LEFT-joins the final state directly."""
    return ivm.maintained_left_join_view(
        load_table(spark, sf_dir, "customer"), load_table(spark, sf_dir, "orders")
    )


@register("warehouse_ivm_outer_deltas", oracle=ivm.left_join_view_delta_ledger_sql())
def q_ivm_outer_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The outer-join delta rule's retract/emit ledger — the correction
    stream a MoR sink would apply, keyed by (action, reason); every
    relation delta-sized."""
    return ivm.left_join_view_delta_ledger(
        load_table(spark, sf_dir, "customer"), load_table(spark, sf_dir, "orders")
    )


@register(
    "events_tdigest_quantiles", oracle=quantile_sketch.tdigest_merge_report_sql()
)
def q_tdigest_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic t-digest: per-day digests merged via the asin scale
    function, queried at 7 percentiles and scored against the exact lower
    weighted quantile — the mergeable-quantile-summary path at scale."""
    return quantile_sketch.tdigest_merge_report(load_table(spark, sf_dir, "events"))


@register(
    "events_moments_tail_bounds", oracle=quantile_sketch.moments_tail_bounds_sql()
)
def q_moments_tail_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moments sketch: mergeable power sums S1..S4 in decimal(38,0), the
    2nd/4th-moment Chebyshev tail bounds they imply, and the bound-vs-true
    exceedance check at three deviation levels."""
    return quantile_sketch.moments_tail_bounds(load_table(spark, sf_dir, "events"))


@register("events_ar2_forecast", oracle=stats.ar2_yule_walker_forecast_sql())
def q_ar2_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AR(2) Yule-Walker fit of daily counts with 1-/2-step forecasts —
    exact-integer lag moments, one scripted double chain at the 1-row
    boundary."""
    return stats.ar2_yule_walker_forecast(load_table(spark, sf_dir, "events"))


@register(
    "events_cumulative_periodogram",
    oracle=stats.cumulative_periodogram_test_sql(),
)
def q_cumulative_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartlett's cumulative-periodogram white-noise test over the Fourier
    frequencies of the daily count series — KS-style max deviation from the
    flat spectrum with exact DECIMAL(38,0) deviation arithmetic."""
    return stats.cumulative_periodogram_test(load_table(spark, sf_dir, "events"))


@register("events_rmst", oracle=analytics.restricted_mean_survival_sql())
def q_rmst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Restricted mean survival time at 7/14/30-day horizons — the KM curve
    integrated on the discrete day grid with micro-quantized survival
    steps."""
    return analytics.restricted_mean_survival(load_table(spark, sf_dir, "events"))


@register(
    "events_jonckheere_terpstra",
    oracle=stats.jonckheere_terpstra_dayparts_sql(),
)
def q_jonckheere_terpstra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jonckheere-Terpstra ordered-trend test of value across day-parts —
    grid-cumulative pair counting (never pair enumeration) with the full
    tie-corrected variance."""
    return stats.jonckheere_terpstra_dayparts(load_table(spark, sf_dir, "events"))


@register("events_erlang_c", oracle=analytics.erlang_c_staffing_sql())
def q_erlang_c(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Erlang-C staffing table from the measured arrival rate — wait
    probability and expected queue delay across 8 server counts, pico-
    quantized term sums on a bounded factorial grid."""
    return analytics.erlang_c_staffing(load_table(spark, sf_dir, "events"))


@register(
    "warehouse_hilbert_layout", oracle=layout.hilbert_layout_quality_sql()
)
def q_hilbert_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve clustering report over (custkey, orderdate) — the
    z-order twin with unit-step locality; same schema so the two layouts
    read side by side."""
    return layout.hilbert_layout_quality(load_table(spark, sf_dir, "orders"))


@register("graph_ktruss", oracle=graph.ktruss_edges_sql())
def q_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-truss peel of the co-purchase graph — edges embedded in >= k-2
    triangles after fixed unrolled support/peel rounds, the community
    filter one level above kcore."""
    return graph.ktruss_edges(load_table(spark, sf_dir, "lineitem"))


@register("events_ewma_chart", oracle=stats.ewma_control_chart_sql())
def q_ewma_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA control chart on daily counts — geometric-kernel smoothing with
    exact time-varying start-up limits, the small-persistent-shift
    detector c_chart cannot be."""
    return stats.ewma_control_chart(load_table(spark, sf_dir, "events"))


@register("events_siegel_slope", oracle=stats.siegel_slope_daily_sql())
def q_siegel_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Siegel repeated-median trend — the 50%-breakdown robust line via two
    grid-median layers over the bounded pairwise-slope relation."""
    return stats.siegel_slope_daily(spread(load_table(spark, sf_dir, "events")))


@register(
    "graph_clustering_coefficient", oracle=graph.clustering_coefficient_sql()
)
def q_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full per-part clustering coefficient table (degree, triangles,
    C_v) — the raw relation behind graph_local_clustering's decile panel,
    one wedge join with the triangle-census economics."""
    return graph.clustering_coefficient(load_table(spark, sf_dir, "lineitem"))


@register("warehouse_fisher_index", oracle=warehouse.fisher_price_index_sql())
def q_fisher_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres/Paasche/Fisher price indices per ship year against the
    1995 matched basket — exact same-year revenue sums, centi-quantized
    cross terms."""
    return warehouse.fisher_price_index(load_table(spark, sf_dir, "lineitem"))


@register("events_cliffs_delta", oracle=stats.cliffs_delta_sql())
def q_cliffs_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cliff's delta effect size between click and error values — ordinal
    P(X>Y)-P(X<Y) by grid-cumulative pair counting."""
    return stats.cliffs_delta(load_table(spark, sf_dir, "events"))


@register("events_james_stein", oracle=stats.james_stein_type_means_sql())
def q_james_stein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """James-Stein shrinkage of per-type daily means toward the grand mean
    — the empirical-Bayes ranking stabilizer, exact sums with one bounded
    double chain."""
    return stats.james_stein_type_means(load_table(spark, sf_dir, "events"))


@register("events_nelson_aalen", oracle=analytics.nelson_aalen_hazard_sql())
def q_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative hazard with Poisson-type variance — the
    additive survival estimator, micro/pico-quantized increments on the
    bounded day grid."""
    return analytics.nelson_aalen_hazard(load_table(spark, sf_dir, "events"))


@register("events_cross_spectrum", oracle=stats.cross_spectrum_daily_sql())
def q_cross_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-spectrum of click vs error daily series — co/quadrature
    spectra, amplitude, and phase lag per candidate period."""
    return stats.cross_spectrum_daily(load_table(spark, sf_dir, "events"))


@register("warehouse_risk_pooling", oracle=warehouse.risk_pooling_by_brand_sql())
def q_risk_pooling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Risk-pooling report per brand — how much demand sigma (hence safety
    stock) consolidation saves, with cross-stream correlation handled
    exactly via pooled per-month totals."""
    return warehouse.risk_pooling_by_brand(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    )


@register("events_aalen_johansen", oracle=stats.aalen_johansen_sql())
def q_aalen_johansen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aalen-Johansen cumulative incidence for the purchase-vs-error
    competing risks after signup — the correct per-cause decomposition
    where 1-KM overstates."""
    return stats.aalen_johansen(load_table(spark, sf_dir, "events"))


@register("events_gehan_wilcoxon", oracle=stats.gehan_wilcoxon_test_sql())
def q_gehan_wilcoxon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gehan-Breslow-Wilcoxon survival test — the n_t-weighted companion
    to the log-rank verdict, sensitive to early divergence."""
    return stats.gehan_wilcoxon_test(load_table(spark, sf_dir, "events"))


@register("events_ansari_bradley", oracle=stats.ansari_bradley_test_sql())
def q_ansari_bradley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ansari-Bradley rank scale test between click and error values —
    the tent-score verdict on dispersion, free of moment assumptions."""
    return stats.ansari_bradley_test(load_table(spark, sf_dir, "events"))


@register("events_cvm_two_sample", oracle=stats.cvm_two_sample_test_sql())
def q_cvm_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Cramer-von Mises statistic between click and error
    values — integrated squared ECDF gap, the whole-support complement
    to the KS sup."""
    return stats.cvm_two_sample_test(load_table(spark, sf_dir, "events"))


@register("events_kendall_w", oracle=stats.kendall_w_daily_sql())
def q_kendall_w(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's W concordance of the event types' day-load rankings —
    the k-judge generalization of rank correlation, tie-corrected."""
    return stats.kendall_w_daily(load_table(spark, sf_dir, "events"))


@register("events_quade_test", oracle=stats.quade_test_daily_sql())
def q_quade_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quade test across event types blocked by day — range-rank-weighted
    within-block ranks, the higher-power small-k companion to Friedman."""
    return stats.quade_test_daily(load_table(spark, sf_dir, "events"))


@register("events_lomb_scargle", oracle=stats.lomb_scargle_daily_sql())
def q_lomb_scargle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lomb-Scargle periodogram of the daily mean click value — the
    irregular-sampling spectral estimator with per-frequency tau shift."""
    return stats.lomb_scargle_daily(load_table(spark, sf_dir, "events"))


@register("events_allan_variance", oracle=stats.allan_variance_hourly_sql())
def q_allan_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Allan variance of the hourly event rate at tau = 1/2/4/8 h — the
    frequency-stability curve, exact integer bin arithmetic."""
    return stats.allan_variance_hourly(load_table(spark, sf_dir, "events"))


@register("events_arch_lm", oracle=stats.arch_lm_daily_sql())
def q_arch_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engle's ARCH LM test on daily value log-returns — does volatility
    cluster, n R^2 from one exact-integer regression."""
    return stats.arch_lm_daily(load_table(spark, sf_dir, "events"))


@register("events_dfa", oracle=stats.dfa_daily_sql())
def q_dfa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detrended fluctuation analysis of daily click counts — box-wise
    linear detrend, log-equidistant sizes, closed-form alpha."""
    return stats.dfa_daily(load_table(spark, sf_dir, "events"))


@register("events_sample_entropy", oracle=stats.sample_entropy_daily_sql())
def q_sample_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample entropy SampEn(2, 0.2 sigma) of daily click counts — the
    amplitude-aware regularity verdict over a capped 256-day tail."""
    return stats.sample_entropy_daily(load_table(spark, sf_dir, "events"))


@register("events_engle_granger", oracle=stats.engle_granger_daily_sql())
def q_engle_granger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engle-Granger cointegration lite: OLS hedge ratio between click and
    purchase daily totals, then a Dickey-Fuller verdict on the spread."""
    return stats.engle_granger_daily(load_table(spark, sf_dir, "events"))


@register("events_isotonic_calibration", oracle=stats.isotonic_calibration_sql())
def q_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact isotonic regression of purchase rate on click-count bin via
    the minimax closed form on the bounded bin grid — monotone by
    construction."""
    return stats.isotonic_calibration(load_table(spark, sf_dir, "events"))


@register("events_xbar_r_chart", oracle=stats.xbar_r_chart_sql())
def q_xbar_r_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shewhart Xbar-R chart over daily 5-value click subgroups — location
    and within-day dispersion against A2/D4 range-based limits."""
    return stats.xbar_r_chart(load_table(spark, sf_dir, "events"))


@register("graph_katz_centrality", oracle=graph.katz_centrality_sql())
def q_katz_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated Katz centrality on the co-purchase graph — alpha-damped
    walk mass, integer-micro per hop, honest on disconnected graphs."""
    return graph.katz_centrality(load_table(spark, sf_dir, "lineitem"))


@register(
    "events_anderson_darling", oracle=stats.anderson_darling_uniformity_sql()
)
def q_anderson_darling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anderson-Darling uniformity of intraday arrival seconds — the
    tail-weighted companion to the KS sup-norm test."""
    return stats.anderson_darling_uniformity(load_table(spark, sf_dir, "events"))


@register("events_hodges_lehmann", oracle=stats.hodges_lehmann_daily_sql())
def q_hodges_lehmann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hodges-Lehmann pseudomedian of the daily click-error gap — the
    robust effect size the signed-rank test inverts."""
    return stats.hodges_lehmann_daily(load_table(spark, sf_dir, "events"))


@register("events_pettitt", oracle=stats.pettitt_daily_sql())
def q_pettitt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pettitt rank changepoint on daily click counts — the
    outlier-immune twin of the SSE changepoint localizer."""
    return stats.pettitt_daily(load_table(spark, sf_dir, "events"))


@register(
    "events_breslow_day", oracle=stats.breslow_day_homogeneity_sql()
)
def q_breslow_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breslow-Day homogeneity of the stratified odds ratio — tests the
    common-effect assumption behind the Mantel-Haenszel summary."""
    return stats.breslow_day_homogeneity(load_table(spark, sf_dir, "events"))


@register(
    "events_brunner_munzel", oracle=stats.brunner_munzel_weekend_sql()
)
def q_brunner_munzel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brunner-Munzel weekend-vs-weekday comparison — the
    heteroscedasticity-robust replacement for Mann-Whitney."""
    return stats.brunner_munzel_weekend(load_table(spark, sf_dir, "events"))


@register("events_dunn_posthoc", oracle=stats.dunn_posthoc_types_sql())
def q_dunn_posthoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dunn's post-hoc pairwise rank z-scores after Kruskal-Wallis,
    reusing the pooled midranks and shared tie correction."""
    return stats.dunn_posthoc_types(load_table(spark, sf_dir, "events"))


@register("events_sax_motifs", oracle=stats.sax_motifs_daily_sql())
def q_sax_motifs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX symbolic motif counts over the z-normalized daily click
    series — repeated local shapes as exact string counting."""
    return stats.sax_motifs_daily(load_table(spark, sf_dir, "events"))


@register(
    "events_zero_inflation", oracle=stats.zero_inflation_score_sql()
)
def q_zero_inflation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """van den Broek score test for excess zero purchase days against
    the Poisson null — the dormant-user mixture detector."""
    return stats.zero_inflation_score(load_table(spark, sf_dir, "events"))


@register("warehouse_ivm_minmax", oracle=ivm.maintained_max_view_sql())
def q_ivm_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAX-view IVM under deletes: non-self-maintainable aggregate with a
    delta-bounded, semi-join-pruned rescan set."""
    return ivm.maintained_max_view(load_table(spark, sf_dir, "lineitem"))


@register("events_harrell_c", oracle=stats.harrell_c_index_sql())
def q_harrell_c(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harrell's C-index of click volume predicting time-to-purchase —
    censoring-aware discrimination over comparable user pairs."""
    return stats.harrell_c_index(load_table(spark, sf_dir, "events"))


@register(
    "events_decision_stump", oracle=stats.decision_stump_engagement_sql()
)
def q_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best information-gain split of conversion on the activity grid —
    the tree-learner inner loop as a window plus argmax."""
    return stats.decision_stump_engagement(load_table(spark, sf_dir, "events"))


@register(
    "events_regression_discontinuity",
    oracle=stats.regression_discontinuity_sql(),
)
def q_regression_discontinuity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharp RDD at the median-activity cutoff: local linear fits both
    sides, conversion jump read at the threshold."""
    return stats.regression_discontinuity(load_table(spark, sf_dir, "events"))


@register(
    "events_randomization_inference",
    oracle=stats.randomization_inference_sql(),
)
def q_randomization_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fisher randomization test of the variant lift — 32 deterministic
    pseudo-assignments, exact design-based p-value."""
    return stats.randomization_inference(load_table(spark, sf_dir, "events"))


@register("events_chatterjee_xi", oracle=stats.chatterjee_xi_daily_sql())
def q_chatterjee_xi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chatterjee's xi: assumption-free dependence of error load on click
    load — catches non-monotone structure rho and tau miss."""
    return stats.chatterjee_xi_daily(load_table(spark, sf_dir, "events"))


@register("warehouse_wagner_whitin", oracle=warehouse.wagner_whitin_plan_sql())
def q_wagner_whitin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wagner-Whitin optimal lot sizing — the order-covers-range DAG
    shortest path solved by 12 exact min-plus relaxation rounds."""
    return warehouse.wagner_whitin_plan(load_table(spark, sf_dir, "lineitem"))


@register("events_dp_user_level", oracle=stats.dp_user_level_counts_sql())
def q_dp_user_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-level DP release: per-user contribution clamped, Laplace at
    cap/epsilon — the protection unit privacy reviews demand."""
    return stats.dp_user_level_counts(load_table(spark, sf_dir, "events"))


@register("events_qini_uplift", oracle=stats.qini_uplift_curve_sql())
def q_qini_uplift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qini uplift curve: cumulative treated-minus-scaled-control
    converts by score decile — who to target, not just the ATE."""
    return stats.qini_uplift_curve(load_table(spark, sf_dir, "events"))


@register("events_yuen_trimmed", oracle=stats.yuen_trimmed_test_sql())
def q_yuen_trimmed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yuen's 20%-trimmed-mean test with winsorized variance — robust
    mean comparison that survives the heavy tails."""
    return stats.yuen_trimmed_test(load_table(spark, sf_dir, "events"))


@register("events_wasserstein_hourly", oracle=stats.wasserstein_hourly_sql())
def q_wasserstein_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D Wasserstein distance between click and error intraday
    profiles — transport distance, not pointwise bin comparison."""
    return stats.wasserstein_hourly(load_table(spark, sf_dir, "events"))


@register(
    "events_energy_distance", oracle=stats.energy_distance_weekend_sql()
)
def q_energy_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Szekely's energy distance, weekend vs weekday values — the
    quadratic pair statistic reduced to one cumulative grid pass."""
    return stats.energy_distance_weekend(load_table(spark, sf_dir, "events"))


@register("warehouse_silver_meal", oracle=warehouse.silver_meal_plan_sql())
def q_silver_meal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Silver-Meal heuristic lot sizing priced against the Wagner-Whitin
    optimum — heuristic, optimum, and the gap in one device."""
    return warehouse.silver_meal_plan(load_table(spark, sf_dir, "lineitem"))


@register("events_iv_wald", oracle=stats.iv_wald_sql())
def q_iv_wald(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Instrumental-variable Wald estimate: view exposure instruments
    clicking, purchase cents is the outcome — reduced form over first
    stage, NULL when the instrument is empty."""
    return stats.iv_wald(load_table(spark, sf_dir, "events"))


@register("events_mediation_sobel", oracle=stats.mediation_sobel_sql())
def q_mediation_sobel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Baron-Kenny mediation with the Sobel test: does view volume act on
    spend through click volume? Closed-form paths from one
    sufficient-statistics aggregate."""
    return stats.mediation_sobel(load_table(spark, sf_dir, "events"))


@register("events_cooks_distance", oracle=stats.cooks_distance_sql())
def q_cooks_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cook's distance of each day on the daily-revenue OLS trend — the
    influence diagnostic behind "is this trend one anomalous day?"."""
    return stats.cooks_distance(load_table(spark, sf_dir, "events"))


@register("events_sinkhorn_ot", oracle=stats.sinkhorn_ot_sql())
def q_sinkhorn_ot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropic optimal transport (Sinkhorn) between weekday and weekend
    intraday click profiles on the circular hour metric — scaling rounds
    on the bounded 576-cell kernel grid, engine-exact in integer units."""
    return stats.sinkhorn_ot(load_table(spark, sf_dir, "events"))


@register("warehouse_oaxaca_blinder", oracle=warehouse.oaxaca_blinder_sql())
def q_oaxaca_blinder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oaxaca-Blinder decomposition of the BUILDING-vs-MACHINERY mean
    spend gap into endowment (order frequency) and coefficient effects."""
    return warehouse.oaxaca_blinder(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
    )


@register(
    "events_attribution_timedecay",
    oracle=sequences.channel_time_decay_attribution_sql(),
)
def q_attribution_timedecay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay attribution: 2^(-dt/12h) recency credit inside the
    7-day lookback — the continuous last-touch rule completing the
    linear/position/Shapley/Markov ladder."""
    return sequences.channel_time_decay_attribution(
        load_table(spark, sf_dir, "events")
    )


@register("warehouse_ivm_topk", oracle=ivm.maintained_topk_view_sql())
def q_ivm_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k-per-supplier view IVM under mixed deltas: insert-cheap
    bounded merge, delete-fragile semi-join-pruned rescans — the
    leaderboard-view maintenance rule."""
    return ivm.maintained_topk_view(load_table(spark, sf_dir, "lineitem"))


@register("events_qte_deciles", oracle=stats.qte_deciles_sql())
def q_qte_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile treatment effects at the nine deciles — the
    distributional effect panel the ATE flattens, exact order
    statistics."""
    return stats.qte_deciles(load_table(spark, sf_dir, "events"))


@register("events_fwl_partial_out", oracle=stats.fwl_partial_out_sql())
def q_fwl_partial_out(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frisch-Waugh-Lovell partialling-out: the controlled click effect
    via direct OLS and via residual-on-residual, with the identity gap
    certified numerically."""
    return stats.fwl_partial_out(load_table(spark, sf_dir, "events"))


@register("events_alpha_footprint", oracle=sequences.alpha_footprint_sql())
def q_alpha_footprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Process-mining footprint matrix: causal / parallel / choice
    relations per activity pair from the direct-follows counts."""
    return sequences.alpha_footprint(load_table(spark, sf_dir, "events"))


@register("warehouse_mantissa_arc", oracle=warehouse.mantissa_arc_test_sql())
def q_mantissa_arc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford mantissa-arc test: mean resultant vector of the base-10
    mantissa circle — the second-order forensic check behind the
    first-digit audit."""
    return warehouse.mantissa_arc_test(load_table(spark, sf_dir, "orders"))


@register("events_kingman_vut", oracle=stats.kingman_vut_sql())
def q_kingman_vut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kingman VUT waiting-time approximation for the purchase stream —
    Variability x Utilization x Time from exact moment sums."""
    return stats.kingman_vut(load_table(spark, sf_dir, "events"))


@register("events_obrien_fleming", oracle=stats.obrien_fleming_sql())
def q_obrien_fleming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O'Brien-Fleming group-sequential looks on the md5 A/B split —
    five calendar-quintile interim z-tests against the published
    boundaries."""
    return stats.obrien_fleming(load_table(spark, sf_dir, "events"))


@register("warehouse_cache_hit_curve", oracle=warehouse.cache_hit_curve_sql())
def q_cache_hit_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perfect-LFU cache-hit curve over part popularity — the hot-set
    capacity-planning curve, exact cumulative shares."""
    return warehouse.cache_hit_curve(load_table(spark, sf_dir, "lineitem"))


@register(
    "warehouse_ivm_join_agg", oracle=ivm.maintained_join_agg_view_sql()
)
def q_ivm_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPJA view IVM: per-nation revenue over orders x customer maintained
    by pushing fact deltas through the join into the self-maintainable
    SUM — no rescan ever."""
    return ivm.maintained_join_agg_view(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
    )


@register("events_ams_f2", oracle=cmsketch.ams_f2_sql())
def q_ams_f2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS tug-of-war F2 sketch vs the exact self-join size — 16 exact
    integer signings, grouped means, median combine."""
    return cmsketch.ams_f2(load_table(spark, sf_dir, "events"))


@register("events_heavy_hitters", oracle=cmsketch.heavy_hitters_mg_sql())
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable per-day top-k heavy-hitter summaries with certified
    lb <= exact <= ub bounds — the distributed frequent-items recipe."""
    return cmsketch.heavy_hitters_mg(load_table(spark, sf_dir, "events"))


@register("warehouse_topk_stability", oracle=warehouse.topk_stability_sql())
def q_topk_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year top-20 part-revenue ranking stability: Jaccard
    survival + Kendall tau-a by exact pair counting."""
    return warehouse.topk_stability(load_table(spark, sf_dir, "lineitem"))


@register("events_cvar_daily", oracle=stats.cvar_daily_sql())
def q_cvar_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VaR and expected shortfall of daily revenue at 5% and 10% tails —
    exact worst-day order statistics and tail means."""
    return stats.cvar_daily(load_table(spark, sf_dir, "events"))


@register("events_burstiness_memory", oracle=stats.burstiness_memory_sql())
def q_burstiness_memory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goh-Barabási burstiness B and memory M of click inter-event times —
    the human-vs-machine activity fingerprint."""
    return stats.burstiness_memory(load_table(spark, sf_dir, "events"))


@register("graph_simrank", oracle=graph.simrank_core_sql())
def q_simrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimRank on the co-purchase core: structural substitute similarity
    via bounded neighbor-pair recursion in exact micro units."""
    return graph.simrank_core(load_table(spark, sf_dir, "lineitem"))
