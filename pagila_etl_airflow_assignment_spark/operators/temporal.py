"""Temporal join operators Spark has no native node for: as-of (point-in-time)
join and no-equi-key range join.

The reference has no as-of/range joins (SURVEY.md §2.C: "No inner/right/full/
semi/anti/range/as-of joins exist in the reference") — these are post-parity
extensions for the training-data-pipeline surface (event attribution, temporal
correlation), each with an exact DuckDB oracle (DuckDB ships native ASOF JOIN
and an IEJoin for inequality joins, so the oracle is the declarative form).

Scale design:

- asof_join: the naive formulation (left join on key + right_ts <= left_ts,
  then keep max right_ts per left row) materializes every historical match
  before discarding all but one — O(|L| x avg-history) shuffle. This
  implementation is the union/last-value pattern: tag both sides, single
  shuffle on the key, one ordered pass per key carrying the latest right
  payload forward. Cost is sort-merge of |L|+|R| — optimal, skew-bounded by
  the hottest key, and never wider than the inputs.
- range_join_binned: with no equi key, Catalyst can only plan a (broadcast)
  nested-loop join for `r.ts BETWEEN l.ts - d AND l.ts + d` — O(|L| x |R|).
  Binning assigns each right row to ONE fixed-width time bucket and explodes
  each left row to the 2-3 buckets its window overlaps; the join becomes an
  equi shuffle join on the bucket id plus an exact residual filter. Bucket
  width = window width keeps the fan-out at <= ceil(span/width)+1 = 3.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import micros

_MICROS = 1_000_000


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    right_cols: tuple[str, ...] = (),
    tolerance_seconds: int | None = None,
) -> DataFrame:
    """For each left row, attach the single most recent right row of the same
    ``on`` key with ``right_ts <= left_ts`` (inclusive) — pandas
    ``merge_asof(direction='backward')`` / DuckDB ``ASOF LEFT JOIN`` semantics.
    Unmatched left rows keep nulls.

    Output = all left columns + ``matched_<right_ts>`` + the requested
    ``right_cols``. The right payload travels as ONE struct through
    ``last(ignorenulls)`` so a match is always a consistent single right row,
    never a column-wise mix of different rows.

    Ties: right rows sort before left rows at equal timestamps (inclusive
    bound); among right rows with identical timestamps the last in (ts,
    ``right_ts``) order wins — callers needing total determinism should
    include a tiebreaker column in ``right_cols`` semantics they can accept.
    """
    payload = F.struct(
        F.col(right_ts).alias("__rts"), *[F.col(c) for c in right_cols]
    )
    r = right.select(
        F.col(on).alias("__key"),
        F.col(right_ts).alias("__ts"),
        F.lit(1).alias("__is_right"),
        payload.alias("__payload"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left.columns],
    )
    l = left.select(
        F.col(on).alias("__key"),
        F.col(left_ts).alias("__ts"),
        F.lit(0).alias("__is_right"),
        F.lit(None).cast(r.schema["__payload"].dataType).alias("__payload"),
        *left.columns,
    )
    # right-before-left at equal ts makes the bound inclusive
    w = (
        Window.partitionBy("__key")
        .orderBy(F.col("__ts").asc(), F.col("__is_right").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = (
        r.unionByName(l)
        .withColumn("__m", F.last("__payload", ignorenulls=True).over(w))
        .where(F.col("__is_right") == 0)
    )
    if tolerance_seconds is not None:
        too_old = (
            micros(F.col("__ts")) - micros(F.col("__m.__rts"))
        ) > tolerance_seconds * _MICROS
        matched = matched.withColumn(
            "__m", F.when(too_old, F.lit(None)).otherwise(F.col("__m"))
        )
    return matched.select(
        *left.columns,
        F.col("__m.__rts").alias(f"matched_{right_ts}"),
        *[F.col(f"__m.{c}").alias(c) for c in right_cols],
    )


def range_join_binned(
    left: DataFrame,
    right: DataFrame,
    left_ts: str,
    right_ts: str,
    lo_seconds: int,
    hi_seconds: int,
    bin_seconds: int | None = None,
) -> DataFrame:
    """Inner join of every (left, right) pair with
    ``right_ts`` in ``[left_ts + lo_seconds, left_ts + hi_seconds]`` and NO
    equi key, planned as an equi join: right rows land in one fixed-width time
    bin, left rows explode to every bin their window overlaps, join on the bin
    id, then apply the exact range as a residual filter.

    Returns all left columns + all right columns (names must not collide).
    """
    if bin_seconds is None:
        bin_seconds = max(hi_seconds - lo_seconds, 1)
    width = bin_seconds * _MICROS
    r = right.withColumn("__bin", F.floor(micros(right_ts) / width))
    lo_bin = F.floor((micros(left_ts) + lo_seconds * _MICROS) / width)
    hi_bin = F.floor((micros(left_ts) + hi_seconds * _MICROS) / width)
    l = left.withColumn("__bin", F.explode(F.sequence(lo_bin, hi_bin)))
    rts_micros = micros(right_ts)
    lts_micros = micros(left_ts)
    return (
        l.join(r, "__bin")
        .where(
            rts_micros.between(
                lts_micros + lo_seconds * _MICROS, lts_micros + hi_seconds * _MICROS
            )
        )
        .drop("__bin")
    )


def asof_join_forward(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    right_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Forward as-of: for each left row, the EARLIEST right row of the same
    key with ``right_ts >= left_ts`` (inclusive) — pandas
    ``merge_asof(direction='forward')``. The time-mirror of ``asof_join``:
    identical union/last-value plan with the sort reversed, so the same
    single-shuffle |L|+|R| cost bound holds."""
    payload = F.struct(
        F.col(right_ts).alias("__rts"), *[F.col(c) for c in right_cols]
    )
    r = right.select(
        F.col(on).alias("__key"),
        F.col(right_ts).alias("__ts"),
        F.lit(1).alias("__is_right"),
        payload.alias("__payload"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left.columns],
    )
    l = left.select(
        F.col(on).alias("__key"),
        F.col(left_ts).alias("__ts"),
        F.lit(0).alias("__is_right"),
        F.lit(None).cast(r.schema["__payload"].dataType).alias("__payload"),
        *left.columns,
    )
    # descending time; right-before-left at equal ts keeps the bound inclusive
    w = (
        Window.partitionBy("__key")
        .orderBy(F.col("__ts").desc(), F.col("__is_right").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = (
        r.unionByName(l)
        .withColumn("__m", F.last("__payload", ignorenulls=True).over(w))
        .where(F.col("__is_right") == 0)
    )
    return matched.select(
        *left.columns,
        F.col("__m.__rts").alias(f"matched_{right_ts}"),
        *[F.col(f"__m.{c}").alias(c) for c in right_cols],
    )


# --- interval concurrency (event-ification) -----------------------------------


def order_backlog_curve(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Daily backlog: how many orders are placed but not yet fully shipped on
    each day an order opens or closes (backlog on day d = orders with
    orderdate ≤ d < last_shipdate).

    The interval-overlap count is EVENT-IFIED: each order contributes
    (+1 at open, −1 at close), deltas aggregate to day grain (bounded-key
    hash agg over the fact), and one cumulative window runs over the ~10³-row
    day relation — never a day × orders join. The oracle deliberately IS the
    naive day×orders overlap join, so the differential test compares two
    genuinely different algorithms for the same curve. The cumulative window
    is a single ordered spine (tiny by construction, same as the weekly
    summary's week spine).
    """
    spans = (
        lineitem.groupBy("l_orderkey")
        .agg(F.max(F.to_date("l_shipdate")).alias("close_day"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            F.to_date("o_orderdate").alias("open_day"),
            # the synthetic fixture has ~20% of orders "shipping" before the
            # order date; clamp so every span is well-formed (zero-length
            # spans contribute nothing) — mirrored in the oracle
            F.greatest(F.col("close_day"), F.to_date("o_orderdate")).alias(
                "close_day"
            ),
        )
    )
    deltas = (
        spans.select(F.col("open_day").alias("day"), F.lit(1).alias("delta"))
        .unionByName(
            spans.select(F.col("close_day").alias("day"), F.lit(-1).alias("delta"))
        )
        .groupBy("day")
        .agg(F.sum("delta").alias("net"))
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        deltas.repartition(1)  # ~10³ day rows — documented single-spine window
        .select("day", F.sum("net").over(w).alias("open_orders"))
        .orderBy("day")
    )


ORDER_BACKLOG_CURVE_SQL = """
    WITH spans AS (
        SELECT CAST(o_orderdate AS DATE) AS open_day,
               GREATEST(close_day, CAST(o_orderdate AS DATE)) AS close_day
        FROM orders
        JOIN (SELECT l_orderkey, MAX(CAST(l_shipdate AS DATE)) AS close_day
              FROM lineitem GROUP BY l_orderkey) s
          ON o_orderkey = l_orderkey
    ), days AS (
        SELECT open_day AS day FROM spans
        UNION
        SELECT close_day FROM spans
    )
    SELECT d.day,
           (SELECT COUNT(*) FROM spans s
            WHERE s.open_day <= d.day AND d.day < s.close_day) AS open_orders
    FROM days d
    ORDER BY d.day
"""


# --- multi-touch attribution --------------------------------------------------

ATTRIB_LOOKBACK_SECONDS = 3 * 24 * 3600


def linear_attribution(
    events: DataFrame, lookback_seconds: int = ATTRIB_LOOKBACK_SECONDS
) -> DataFrame:
    """Linear (equal-credit) multi-touch attribution: every click in the
    ``lookback_seconds`` before a purchase shares that purchase's credit
    equally; credit rolls up by click hour-of-day (the fixture's stand-in
    for an acquisition channel).

    The click×purchase pairing is a per-user interval join — user_id-keyed
    shuffle, window bounded by the lookback, never a global range join.
    Credit 1/n and value/n divide per purchase BEFORE the rollup (each
    purchase's denominator is its own touch count), and the ≤24-row output
    rounds at 6 dp to absorb sum-order ulps — the same contract as the
    engine's other double-sum reports. The single-shuffle as-of variant
    (last-touch) is ``asof_join``; this is its all-touch generalization."""
    clicks = events.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"),
        F.col("ts").alias("click_ts"),
        F.hour("ts").alias("click_hour"),
    )
    purchases = events.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("purchase_value"),
    )
    touches = clicks.join(
        purchases,
        (F.col("cu") == F.col("pu"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("click_ts")
            >= F.col("purchase_ts") - F.expr(f"INTERVAL {lookback_seconds} SECOND")
        ),
    )
    w = Window.partitionBy("purchase_id")
    credited = touches.select(
        "click_hour",
        (F.lit(1.0) / F.count("*").over(w)).alias("credit"),
        (F.col("purchase_value") / F.count("*").over(w)).alias("value_credit"),
    )
    return (
        credited.groupBy("click_hour")
        .agg(
            F.round(F.sum("credit"), 6).alias("attributed_purchases"),
            F.round(F.sum("value_credit"), 6).alias("attributed_value"),
        )
        .orderBy("click_hour")
    )


def linear_attribution_sql(
    lookback_seconds: int = ATTRIB_LOOKBACK_SECONDS
) -> str:
    return f"""
        WITH touches AS (
            SELECT hour(c.ts) AS click_hour, p.event_id AS purchase_id,
                   p.value AS purchase_value
            FROM events c
            JOIN events p
              ON c.user_id = p.user_id
             AND c.event_type = 'click' AND p.event_type = 'purchase'
             AND c.ts <= p.ts
             AND c.ts >= p.ts - INTERVAL {lookback_seconds} SECOND
        ), credited AS (
            SELECT click_hour,
                   1.0 / COUNT(*) OVER (PARTITION BY purchase_id) AS credit,
                   purchase_value / COUNT(*) OVER (PARTITION BY purchase_id)
                       AS value_credit
            FROM touches
        )
        SELECT click_hour,
               ROUND(SUM(credit), 6) AS attributed_purchases,
               ROUND(SUM(value_credit), 6) AS attributed_value
        FROM credited
        GROUP BY click_hour
        ORDER BY click_hour
    """


ATTRIB_POS_FIRST = 0.4
ATTRIB_POS_LAST = 0.4


def position_attribution(
    events: DataFrame,
    lookback_seconds: int = ATTRIB_LOOKBACK_SECONDS,
    w_first: float = ATTRIB_POS_FIRST,
    w_last: float = ATTRIB_POS_LAST,
) -> DataFrame:
    """Position-based (U-shaped) multi-touch attribution: within each
    purchase's lookback window the FIRST click earns ``w_first``, the LAST
    earns ``w_last``, middles split the remainder — the industry-standard
    40/20/40 compromise between first- and last-touch.

    Same bounded per-user interval join as linear_attribution; position
    ranks come from two row_number windows per purchase (first/last), the
    middle weight divides by the exact middle count, and single-touch
    purchases collapse to weight 1 (first == last). ≤24-row rollup, 6-dp
    rounding absorbs sum-order ulps (the linear-attribution contract)."""
    clicks = events.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
        F.hour("ts").alias("click_hour"),
    )
    purchases = events.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    touches = clicks.join(
        purchases,
        (F.col("cu") == F.col("pu"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("click_ts")
            >= F.col("purchase_ts") - F.expr(f"INTERVAL {lookback_seconds} SECOND")
        ),
    )
    wp = Window.partitionBy("purchase_id")
    asc = wp.orderBy("click_ts", "click_id")
    desc = wp.orderBy(F.desc("click_ts"), F.desc("click_id"))
    ranked = touches.select(
        "click_hour",
        F.row_number().over(asc).alias("rn_first"),
        F.row_number().over(desc).alias("rn_last"),
        F.count("*").over(wp).alias("n_touch"),
    )
    w_mid = (1.0 - w_first - w_last) / F.greatest(
        F.col("n_touch") - 2, F.lit(1)
    ).cast("double")
    credit = (
        F.when(F.col("n_touch") == 1, F.lit(1.0))
        .when((F.col("n_touch") == 2) & (F.col("rn_first") == 1), F.lit(0.5))
        .when((F.col("n_touch") == 2) & (F.col("rn_last") == 1), F.lit(0.5))
        .when(F.col("rn_first") == 1, F.lit(w_first))
        .when(F.col("rn_last") == 1, F.lit(w_last))
        .otherwise(w_mid)
    )
    return (
        ranked.select("click_hour", credit.alias("credit"))
        .groupBy("click_hour")
        .agg(F.round(F.sum("credit"), 6).alias("attributed_purchases"))
        .orderBy("click_hour")
    )


def position_attribution_sql(
    lookback_seconds: int = ATTRIB_LOOKBACK_SECONDS,
    w_first: float = ATTRIB_POS_FIRST,
    w_last: float = ATTRIB_POS_LAST,
) -> str:
    return f"""
        WITH touches AS (
            SELECT hour(c.ts) AS click_hour, p.event_id AS purchase_id,
                   c.ts AS click_ts, c.event_id AS click_id
            FROM events c
            JOIN events p
              ON c.user_id = p.user_id
             AND c.event_type = 'click' AND p.event_type = 'purchase'
             AND c.ts <= p.ts
             AND c.ts >= p.ts - INTERVAL {lookback_seconds} SECOND
        ), ranked AS (
            SELECT click_hour,
                   ROW_NUMBER() OVER (PARTITION BY purchase_id
                                      ORDER BY click_ts, click_id) AS rn_first,
                   ROW_NUMBER() OVER (PARTITION BY purchase_id
                                      ORDER BY click_ts DESC, click_id DESC)
                       AS rn_last,
                   COUNT(*) OVER (PARTITION BY purchase_id) AS n_touch
            FROM touches
        )
        SELECT click_hour,
               round(SUM(CASE WHEN n_touch = 1 THEN 1.0
                              WHEN n_touch = 2 THEN 0.5
                              WHEN rn_first = 1 THEN {w_first}
                              WHEN rn_last = 1 THEN {w_last}
                              ELSE {1.0 - w_first - w_last}
                                   / CAST(GREATEST(n_touch - 2, 1) AS DOUBLE)
                         END), 6) AS attributed_purchases
        FROM ranked
        GROUP BY click_hour
        ORDER BY click_hour
    """


# --- time-decay attribution --------------------------------------------------------

DECAY_HALFLIFE_H = 24  # credit halves per day of click->purchase distance
DECAY_MAX_HALVINGS = 3


def hourly_time_decay_attribution(
    events: DataFrame, lookback_seconds: int = ATTRIB_LOOKBACK_SECONDS
) -> DataFrame:
    """Time-decay multi-touch attribution — the missing classic next to
    linear / position / Shapley / Markov in this engine: a click's
    credit halves for every {DECAY_HALFLIFE_H} hours between it and the
    purchase, so the last-day touches dominate without last-touch's
    winner-take-all distortion.

    Exact integers throughout (unlike the 6-dp linear report): weights
    are powers of two 2^({DECAY_MAX_HALVINGS} − halvings) from the
    integer hour gap, per-purchase normalization is credit_micro =
    10⁶·w / Σw (floor), and the hour-of-day rollup sums BIGINTs. Same
    per-user bounded interval join as linear_attribution — never a
    global range join.

    Output per click hour-of-day: (click_hour, n_touches,
    credited_micro, value_credited_cents)."""
    clicks = events.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"),
        F.col("ts").alias("click_ts"),
        F.hour("ts").alias("click_hour"),
    )
    purchases = events.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("purchase_value"),
    )
    touches = clicks.join(
        purchases,
        (F.col("cu") == F.col("pu"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("click_ts")
            >= F.col("purchase_ts")
            - F.expr(f"INTERVAL {lookback_seconds} SECOND")
        ),
    ).select(
        "click_hour",
        "purchase_id",
        "purchase_value",
        F.expr(
            "shiftleft(CAST(1 AS BIGINT),"
            f" {DECAY_MAX_HALVINGS} - CAST(least("
            " (unix_micros(purchase_ts) - unix_micros(click_ts))"
            f" DIV ({DECAY_HALFLIFE_H} * CAST(3600000000 AS BIGINT)),"
            f" {DECAY_MAX_HALVINGS}) AS INT))"
        ).alias("w"),
    )
    wsum = Window.partitionBy("purchase_id")
    credited = touches.select(
        "click_hour",
        F.expr("CAST(1000000 AS BIGINT) * w").alias("wm"),
        F.sum("w").over(wsum).alias("sw"),
        F.expr("CAST(round(purchase_value * 100) AS BIGINT) * w").alias(
            "vm"
        ),
    ).select(
        "click_hour",
        F.expr("CAST(wm DIV sw AS BIGINT)").alias("credit_micro"),
        F.expr("CAST(vm DIV sw AS BIGINT)").alias("value_cents"),
    )
    return (
        credited.groupBy(F.col("click_hour").cast("long").alias("click_hour"))
        .agg(
            F.count("*").cast("long").alias("n_touches"),
            F.sum("credit_micro").cast("long").alias("credited_micro"),
            F.sum("value_cents").cast("long").alias("value_credited_cents"),
        )
        .orderBy("click_hour")
    )


def hourly_time_decay_attribution_sql(
    lookback_seconds: int = ATTRIB_LOOKBACK_SECONDS,
) -> str:
    return f"""
        WITH touches AS (
            SELECT hour(c.ts) AS click_hour, p.event_id AS purchase_id,
                   p.value AS purchase_value,
                   (CAST(1 AS BIGINT) << ({DECAY_MAX_HALVINGS}
                      - CAST(LEAST(
                          (epoch_us(p.ts) - epoch_us(c.ts))
                          // ({DECAY_HALFLIFE_H} * CAST(3600000000 AS BIGINT)),
                          {DECAY_MAX_HALVINGS}) AS INT))) AS w
            FROM events c
            JOIN events p
              ON c.user_id = p.user_id
             AND c.event_type = 'click' AND p.event_type = 'purchase'
             AND c.ts <= p.ts
             AND c.ts >= p.ts - INTERVAL {lookback_seconds} SECOND
        ), credited AS (
            SELECT click_hour,
                   CAST(CAST(1000000 AS BIGINT) * w
                        // SUM(w) OVER (PARTITION BY purchase_id) AS BIGINT)
                       AS credit_micro,
                   CAST(CAST(round(purchase_value * 100) AS BIGINT) * w
                        // SUM(w) OVER (PARTITION BY purchase_id) AS BIGINT)
                       AS value_cents
            FROM touches
        )
        SELECT CAST(click_hour AS BIGINT) AS click_hour,
               CAST(COUNT(*) AS BIGINT) AS n_touches,
               CAST(SUM(credit_micro) AS BIGINT) AS credited_micro,
               CAST(SUM(value_cents) AS BIGINT) AS value_credited_cents
        FROM credited
        GROUP BY 1
        ORDER BY 1
    """


# --- attribution-window sweep ---------------------------------------------------------

ATTRIB_WINDOW_SWEEP_S = (3600, 86400, 259200)  # 1h, 1d, 3d


def attribution_window_sweep(events: DataFrame) -> DataFrame:
    """Attribution-window tuning curve: what share of purchases gets a
    click attributed at each candidate lookback {ATTRIB_WINDOW_SWEEP_S}
    seconds — the knob behind every attribution model here, picked from
    the attach-rate knee instead of the org's folklore default.

    One as-of pass computes each purchase's gap to its NEAREST prior
    click (per-user max_by window — never one join per window); the
    grid explodes over the purchase-gap relation. Output per window:
    (window_s, n_purchases, n_attributed, attach_milli).

    Scale shape: one user-keyed interval join bounded by the LARGEST
    window, then a constant-grid explode on the purchase grain."""
    from ..functions import micros

    max_w = max(ATTRIB_WINDOW_SWEEP_S)
    clicks = events.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("ts").alias("click_ts")
    )
    purchases = events.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    paired = purchases.join(
        clicks,
        (F.col("pu") == F.col("cu"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("click_ts")
            >= F.col("purchase_ts") - F.expr(f"INTERVAL {max_w} SECOND")
        ),
        "left",
    )
    gaps = paired.groupBy("purchase_id").agg(
        F.min(
            micros(F.col("purchase_ts")) - micros(F.col("click_ts"))
        ).alias("gap_us")
    )
    grid = F.array(*[F.lit(s) for s in ATTRIB_WINDOW_SWEEP_S])
    graded = gaps.select(
        "gap_us", F.explode(grid).alias("window_s")
    )
    return (
        graded.groupBy(F.col("window_s").cast("long").alias("window_s"))
        .agg(
            F.count("*").cast("long").alias("n_purchases"),
            F.sum(
                (
                    F.col("gap_us")
                    <= F.col("window_s").cast("long") * 1_000_000
                ).cast("long")
            )
            .cast("long")
            .alias("n_attributed"),
        )
        .withColumn(
            "attach_milli",
            F.expr("CAST(1000 * n_attributed DIV n_purchases AS BIGINT)"),
        )
        .orderBy("window_s")
    )


def attribution_window_sweep_sql() -> str:
    max_w = max(ATTRIB_WINDOW_SWEEP_S)
    grid = ", ".join(str(s) for s in ATTRIB_WINDOW_SWEEP_S)
    return f"""
        WITH gaps AS (
            SELECT p.event_id AS purchase_id,
                   MIN(epoch_us(p.ts) - epoch_us(c.ts)) AS gap_us
            FROM events p
            LEFT JOIN events c
              ON c.user_id = p.user_id
             AND c.event_type = 'click'
             AND c.ts <= p.ts
             AND c.ts >= p.ts - INTERVAL {max_w} SECOND
            WHERE p.event_type = 'purchase'
            GROUP BY p.event_id
        ),
        grid AS (SELECT unnest([{grid}]) AS window_s),
        graded AS (
            SELECT g.gap_us, w.window_s
            FROM gaps g CROSS JOIN grid w
        )
        SELECT CAST(window_s AS BIGINT) AS window_s,
               CAST(COUNT(*) AS BIGINT) AS n_purchases,
               CAST(SUM(CASE WHEN gap_us <= CAST(window_s AS BIGINT) * 1000000
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_attributed,
               CAST(1000 * SUM(CASE WHEN gap_us
                                    <= CAST(window_s AS BIGINT) * 1000000
                               THEN 1 ELSE 0 END) // COUNT(*) AS BIGINT)
                   AS attach_milli
        FROM graded
        GROUP BY window_s
        ORDER BY window_s
    """
