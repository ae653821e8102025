"""Event-sequence operators: transition matrices, online anomaly flags, and
reset-on-marker running sums.

All three share the analytics.py scale shape — ONE shuffle keyed by user_id,
then every window function runs inside the same (ts, event_id) sort — and all
frames are explicit ROWS frames so Spark and the DuckDB oracle accumulate
floats in the identical order.

- event_transitions: the first-order Markov view of user behavior (bigram
  counts of consecutive event types). The per-user lag is the only windowed
  step; the (prev, curr) aggregate is a ≤|event_types|²-key hash agg.
- user_value_anomalies: each event's value z-scored against that user's
  TRAILING window (current row excluded — the baseline never peeks at the
  value it scores, same no-peek construction as events_leakage_free_features).
- running_balance_with_reset: cumulative value that resets at each marker
  event ("purchase" empties the cart). The reset decomposes into plain
  cumulative sums — balance = cum(value) − cum_at_last_marker — via
  last_value(... IGNORE NULLS), so no per-group second shuffle and no
  session-id materialization is needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

ANOMALY_LOOKBACK = 20  # trailing events forming the per-user baseline
ANOMALY_MIN_N = 5  # fewer baseline points than this → no verdict
ANOMALY_Z = 3.0


def event_transitions(events: DataFrame) -> DataFrame:
    """(prev_type, event_type, n, p): consecutive-pair counts per user
    timeline plus the row-normalized transition probability."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        events.select("user_id", "ts", "event_id", "event_type")
        .withColumn("prev_type", F.lag("event_type").over(w))
        .where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "event_type")
        .agg(F.count("*").alias("n"))
    )
    wrow = Window.partitionBy("prev_type")
    return pairs.select(
        "prev_type",
        "event_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(wrow), 6).alias("p"),
    ).orderBy("prev_type", "event_type")


EVENT_TRANSITIONS_SQL = """
    WITH pairs AS (
        SELECT prev_type, event_type, COUNT(*) AS n
        FROM (
            SELECT event_type,
                   lag(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
            FROM events
        )
        WHERE prev_type IS NOT NULL
        GROUP BY prev_type, event_type
    )
    SELECT prev_type, event_type, n,
           round(n / SUM(n) OVER (PARTITION BY prev_type), 6) AS p
    FROM pairs
    ORDER BY prev_type, event_type
"""


def user_value_anomalies(
    events: DataFrame,
    lookback: int = ANOMALY_LOOKBACK,
    min_n: int = ANOMALY_MIN_N,
    z_threshold: float = ANOMALY_Z,
) -> DataFrame:
    """Events whose value is ≥ ``z_threshold`` sample standard deviations from
    the user's trailing-``lookback`` mean (current row excluded). Events with
    fewer than ``min_n`` baseline points or zero baseline variance are not
    scored — both engines agree on the NULL, so no epsilon fudge is needed."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trail = w.rowsBetween(-lookback, -1)
    scored = events.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        "value",
        F.avg("value").over(trail).alias("mu"),
        F.stddev_samp("value").over(trail).alias("sigma"),
        F.count("value").over(trail).alias("n_base"),
    ).withColumn(
        "z",
        F.when(
            (F.col("n_base") >= min_n) & (F.col("sigma") > 0),
            F.round((F.col("value") - F.col("mu")) / F.col("sigma"), 6),
        ),
    )
    return (
        scored.where(F.abs(F.col("z")) >= z_threshold)
        .select("event_id", "user_id", "ts", "event_type", "value", "z")
        .orderBy("event_id")
    )


def user_value_anomalies_sql(
    lookback: int = ANOMALY_LOOKBACK,
    min_n: int = ANOMALY_MIN_N,
    z_threshold: float = ANOMALY_Z,
) -> str:
    return f"""
        WITH scored AS (
            SELECT event_id, user_id, ts, event_type, value,
                   AVG(value) OVER w AS mu,
                   STDDEV_SAMP(value) OVER w AS sigma,
                   COUNT(value) OVER w AS n_base
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN {lookback} PRECEDING AND 1 PRECEDING)
        )
        SELECT event_id, user_id, ts, event_type, value,
               round((value - mu) / sigma, 6) AS z
        FROM scored
        WHERE n_base >= {min_n} AND sigma > 0
          AND ABS(round((value - mu) / sigma, 6)) >= {z_threshold}
        ORDER BY event_id
    """


RESET_MARKER = "purchase"


def running_balance_with_reset(
    events: DataFrame, marker: str = RESET_MARKER
) -> DataFrame:
    """Per-user cumulative value since the last ``marker`` event (the marker
    row itself reads 0 — it "spends" the balance). One user_id shuffle; the
    reset needs no epoch numbering or second partitioning: balance =
    cum_value − cum_value_at_last_marker, both plain cumulative frames."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # two selects because window expressions can't nest; both Window nodes
    # share the (user_id | ts, event_id) partitioning+sort, so Spark plans one
    # exchange and one sort feeding both passes
    with_cum = events.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        "value",
        F.sum("value").over(cum).alias("cum_value"),
    )
    last_marker_cum = F.last(
        F.when(F.col("event_type") == marker, F.col("cum_value")), ignorenulls=True
    ).over(cum)
    return with_cum.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        "value",
        F.round(
            F.col("cum_value") - F.coalesce(last_marker_cum, F.lit(0.0)), 6
        ).alias("balance_since_reset"),
    ).orderBy("event_id")


def running_balance_with_reset_sql(marker: str = RESET_MARKER) -> str:
    return f"""
        WITH c AS (
            SELECT event_id, user_id, ts, event_type, value,
                   SUM(value) OVER w AS cum_value
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        )
        SELECT event_id, user_id, ts, event_type, value,
               round(cum_value - COALESCE(
                   last_value(CASE WHEN event_type = '{marker}'
                                   THEN cum_value END IGNORE NULLS) OVER w2,
                   0.0), 6) AS balance_since_reset
        FROM c
        WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ORDER BY event_id
    """


# --- burst collapse -----------------------------------------------------------

BURST_GAP_SECONDS = 60


def burst_collapse(
    events: DataFrame, gap_seconds: int = BURST_GAP_SECONDS
) -> DataFrame:
    """Collapse bursts — runs of same-type events per user with gaps under
    ``gap_seconds`` — to one row each (first ts, last ts, size): telemetry
    de-noising for double-clicks, retry storms, and scroll spam before any
    counting metric.

    The island derivation is the sessionization shape with an extra key
    (type): one (user, ts) sort carries the lag, the gap flag cumulative-sums
    into burst ids, and the burst aggregate is (user, type, burst)-keyed.
    Exact integer microsecond gaps — no float time arithmetic."""
    from ..functions import micros

    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gap_us = gap_seconds * 1_000_000
    flagged = events.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.when(
            (micros(F.col("ts")) - F.lag(micros(F.col("ts"))).over(w)) <= gap_us,
            0,
        )
        .otherwise(1)
        .alias("is_new"),
    ).withColumn("burst", F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    return (
        flagged.groupBy("user_id", "event_type", "burst")
        .agg(
            F.min("ts").alias("burst_start"),
            F.max("ts").alias("burst_end"),
            F.count("*").alias("n_events"),
        )
        .drop("burst")
        .orderBy("user_id", "event_type", "burst_start")
    )


def burst_collapse_sql(gap_seconds: int = BURST_GAP_SECONDS) -> str:
    gap_us = gap_seconds * 1_000_000
    return f"""
        WITH flagged AS (
            SELECT user_id, event_type, ts, event_id,
                   CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w
                             <= {gap_us}
                        THEN 0 ELSE 1 END AS is_new
            FROM events
            WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
        ), islands AS (
            SELECT user_id, event_type, ts,
                   SUM(is_new) OVER (PARTITION BY user_id, event_type
                                     ORDER BY ts, event_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS burst
            FROM flagged
        )
        SELECT user_id, event_type,
               MIN(ts) AS burst_start, MAX(ts) AS burst_end,
               COUNT(*) AS n_events
        FROM islands
        GROUP BY user_id, event_type, burst
        ORDER BY user_id, event_type, burst_start
    """


# --- gaps and islands: activity streaks ---------------------------------------


def activity_streaks(events: DataFrame) -> DataFrame:
    """Longest consecutive-day activity streak per user — the classic
    gaps-and-islands: distinct active days minus a per-user day rank is
    CONSTANT within a consecutive run, so streaks fall out of one
    (user, day−rank) aggregate. One user-keyed shuffle on the DISTINCT-day
    relation (≤ days per user), never raw events."""
    days = events.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    grouped = days.select(
        "user_id",
        "day",
        F.date_sub("day", F.row_number().over(w)).alias("anchor"),
    )
    streaks = grouped.groupBy("user_id", "anchor").agg(
        F.count("*").alias("len"),
        F.min("day").alias("streak_start"),
        F.max("day").alias("streak_end"),
    )
    best = Window.partitionBy("user_id").orderBy(
        F.desc("len"), F.asc("streak_start")
    )
    return (
        streaks.withColumn("rn", F.row_number().over(best))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("len").alias("longest_streak_days"),
            "streak_start",
            "streak_end",
        )
        .orderBy("user_id")
    )


ACTIVITY_STREAKS_SQL = """
    WITH days AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ), grouped AS (
        SELECT user_id, day,
               day - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)
                          AS INT) AS anchor
        FROM days
    ), streaks AS (
        SELECT user_id, anchor, COUNT(*) AS len,
               MIN(day) AS streak_start, MAX(day) AS streak_end
        FROM grouped GROUP BY user_id, anchor
    ), ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                     ORDER BY len DESC, streak_start) AS rn
        FROM streaks
    )
    SELECT user_id, len AS longest_streak_days, streak_start, streak_end
    FROM ranked WHERE rn = 1
    ORDER BY user_id
"""


# --- out-of-orderness audit ---------------------------------------------------


def out_of_order_audit(events: DataFrame) -> DataFrame:
    """Event-time lateness audit: how far behind each user's running
    event-time high-water mark events arrive (arrival order = event_id, the
    ingest sequence) — the measurement that SETS a streaming watermark delay
    instead of guessing it.

    One per-user window in arrival order computes running-max(ts) before
    each event; the report aggregates lateness seconds per event type:
    late-event share and exact p95/max. All integer microsecond arithmetic
    until the final divisions."""
    from ..functions import micros

    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    late_us = F.greatest(
        F.max(micros(F.col("ts"))).over(w) - micros(F.col("ts")), F.lit(0)
    )
    scored = events.select(
        "event_type",
        F.coalesce(late_us, F.lit(0)).alias("late_us"),
    )
    return (
        scored.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum((F.col("late_us") > 0).cast("long")).alias("n_late"),
            F.round(
                F.percentile("late_us", F.lit(0.95)) / 1e6, 6
            ).alias("p95_lateness_s"),
            F.round(F.max("late_us") / 1e6, 6).alias("max_lateness_s"),
        )
        .orderBy("event_type")
    )


OUT_OF_ORDER_AUDIT_SQL = """
    WITH scored AS (
        SELECT event_type,
               COALESCE(GREATEST(
                   MAX(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY event_id
                                           ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND 1 PRECEDING)
                   - epoch_us(ts), 0), 0) AS late_us
        FROM events
    )
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(late_us > 0 AS BIGINT)) AS BIGINT) AS n_late,
           round(quantile_cont(late_us, 0.95) / 1000000.0, 6) AS p95_lateness_s,
           round(MAX(late_us) / 1000000.0, 6) AS max_lateness_s
    FROM scored
    GROUP BY event_type
    ORDER BY event_type
"""


# --- Markov next-event prediction eval ------------------------------------------


def markov_accuracy(events: DataFrame) -> DataFrame:
    """Time-split evaluation of the first-order Markov next-event predictor:
    transitions whose NEXT event falls in the first half of the global time
    range train the model (per prev_type, the most frequent next type, ties
    to the smallest type string); the second half evaluates top-1 accuracy
    against the majority-class baseline — the eval-harness discipline
    (temporal split, baseline comparison) every behavioral model ships with.

    One user-keyed lag window builds transitions; the model and baseline are
    ≤|types|²-row aggregates of the train half; evaluation is a broadcast
    join of the tiny model onto test transitions. The global midpoint is an
    exact integer micros average, broadcast as a 1-row aggregate. Exact
    integer milli accuracy."""
    from ..functions import micros

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        events.select("user_id", "ts", "event_id", "event_type")
        .withColumn("prev_type", F.lag("event_type").over(w))
        .where(F.col("prev_type").isNotNull())
        .select("prev_type", "event_type", micros("ts").alias("m"))
    )
    span = events.agg(
        F.expr("CAST((min(unix_micros(CAST(ts AS TIMESTAMP)))"
               " + max(unix_micros(CAST(ts AS TIMESTAMP)))) DIV 2 AS BIGINT)")
        .alias("mid")
    )
    split = trans.crossJoin(F.broadcast(span))
    train = split.where(F.col("m") <= F.col("mid"))
    test = split.where(F.col("m") > F.col("mid"))
    rk = Window.partitionBy("prev_type").orderBy(
        F.desc("n"), F.col("event_type")
    )
    model = (
        train.groupBy("prev_type", "event_type")
        .agg(F.count("*").alias("n"))
        .withColumn("r", F.row_number().over(rk))
        .where(F.col("r") == 1)
        .select("prev_type", F.col("event_type").alias("pred_type"))
    )
    majority = (
        train.groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "event_type")
        .limit(1)
        .select(F.col("event_type").alias("maj_type"))
    )
    acc = lambda hit: F.expr(
        f"CAST((2000 * {hit} + n_test) DIV (2 * n_test) AS BIGINT)"
    )
    return (
        test.join(F.broadcast(model), "prev_type", "left")
        .crossJoin(F.broadcast(majority))
        .agg(
            F.count("*").alias("n_test"),
            F.sum((F.col("event_type") == F.col("pred_type")).cast("int"))
            .cast("long")
            .alias("n_hit"),
            F.sum((F.col("event_type") == F.col("maj_type")).cast("int"))
            .cast("long")
            .alias("n_base_hit"),
        )
        .crossJoin(F.broadcast(train.agg(F.count("*").cast("long").alias("n_train"))))
        .select(
            "n_train",
            "n_test",
            acc("n_hit").alias("accuracy_milli"),
            acc("n_base_hit").alias("baseline_milli"),
        )
    )


MARKOV_ACCURACY_SQL = """
    WITH trans AS (
        SELECT prev_type, event_type, epoch_us(ts) AS m
        FROM (
            SELECT event_type, ts,
                   LAG(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS prev_type
            FROM events
        )
        WHERE prev_type IS NOT NULL
    ),
    span AS (
        SELECT (MIN(epoch_us(ts)) + MAX(epoch_us(ts))) // 2 AS mid FROM events
    ),
    train AS (SELECT t.* FROM trans t, span WHERE t.m <= span.mid),
    test  AS (SELECT t.* FROM trans t, span WHERE t.m > span.mid),
    model AS (
        SELECT prev_type, event_type AS pred_type FROM (
            SELECT prev_type, event_type, COUNT(*) AS n,
                   ROW_NUMBER() OVER (PARTITION BY prev_type
                                      ORDER BY COUNT(*) DESC, event_type) AS r
            FROM train GROUP BY prev_type, event_type
        ) WHERE r = 1
    ),
    majority AS (
        SELECT event_type AS maj_type FROM train
        GROUP BY event_type ORDER BY COUNT(*) DESC, event_type LIMIT 1
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM train) AS n_train,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           CAST((2000 * SUM(CASE WHEN t.event_type = m.pred_type
                                 THEN 1 ELSE 0 END) + COUNT(*))
                // (2 * COUNT(*)) AS BIGINT) AS accuracy_milli,
           CAST((2000 * SUM(CASE WHEN t.event_type = j.maj_type
                                 THEN 1 ELSE 0 END) + COUNT(*))
                // (2 * COUNT(*)) AS BIGINT) AS baseline_milli
    FROM test t
    LEFT JOIN model m USING (prev_type)
    CROSS JOIN majority j
"""


# --- Markov stationary distribution ---------------------------------------------

STATIONARY_ITERS = 5


def markov_stationary(
    events: DataFrame, iters: int = STATIONARY_ITERS
) -> DataFrame:
    """Stationary distribution of the event-type Markov chain: π ← πP
    iterated from uniform, in exact integer MICRO units (π re-quantizes
    half-up each round, P enters as exact transition counts — the bit-
    stable fixed-round convention). The long-run type mix the chain
    converges to — what the transition matrix means operationally.

    The chain state is ≤|types| rows and P is ≤|types|² counts: after the
    one lag-window pass over events, every iteration is arithmetic on tiny
    broadcast relations."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        events.select("user_id", "ts", "event_id", "event_type")
        .withColumn("prev_type", F.lag("event_type").over(w))
        .where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "event_type")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=False)
    )
    return _stationary_from_trans(trans, iters)


def _stationary_from_trans(trans: DataFrame, iters: int) -> DataFrame:
    """π ← πP iterations from a (prev_type, event_type, c) count matrix —
    split out so markov_entropy_rate can share ONE checkpointed transition
    matrix between π and the per-state entropies instead of paying the
    events lag-window pass twice."""
    row_tot = trans.groupBy("prev_type").agg(F.sum("c").alias("rt"))
    p_rel = trans.join(row_tot, "prev_type")
    states = trans.select(F.col("prev_type").alias("t")).unionByName(
        trans.select(F.col("event_type").alias("t"))
    ).distinct()
    n_states = states.count()
    # The self-loop convention (states with no outgoing transitions keep
    # their mass) enters as literal (c=1, rt=1) self-edges: the half-up
    # quantizer is exact there ((2·π·1 + 1) DIV 2 = π), so each round is ONE
    # join + aggregate referencing π exactly once — the whole iteration
    # composes into a single declarative plan with no per-round checkpoint
    # jobs (the markov_attribution lesson: eager checkpoints of a KB-sized
    # vector were ~3x the query's real work).
    sink_loops = (
        states.join(row_tot.withColumnRenamed("prev_type", "t"), "t", "left_anti")
        .select(
            F.col("t").alias("prev_type"),
            F.col("t").alias("event_type"),
            F.lit(1).cast("long").alias("c"),
            F.lit(1).cast("long").alias("rt"),
        )
    )
    p_aug = p_rel.select("prev_type", "event_type", "c", "rt").unionByName(
        sink_loops
    )
    pi = states.select(
        "t", F.lit(1_000_000 // n_states).cast("long").alias("pi")
    )
    for _ in range(iters):
        # π'_j = Σ_i π_i · c_ij / rt_i, half-up at micro
        pi = (
            p_aug.join(pi.withColumnRenamed("t", "prev_type"), "prev_type")
            .groupBy(F.col("event_type").alias("t"))
            .agg(
                F.sum(
                    F.expr("CAST((2 * pi * c + rt) DIV (2 * rt) AS BIGINT)")
                ).alias("pi")
            )
        )
    return pi.select(
        F.col("t").alias("event_type"), F.col("pi").alias("pi_micro")
    ).orderBy("event_type")


def markov_stationary_sql(iters: int = STATIONARY_ITERS) -> str:
    its = []
    for i in range(1, iters + 1):
        its.append(
            f"""pi{i} AS (
            SELECT t, CAST(SUM(inflow) AS BIGINT) AS pi FROM (
                SELECT p.event_type AS t,
                       CAST((2 * v.pi * p.c + p.rt) // (2 * p.rt) AS BIGINT)
                           AS inflow
                FROM p_rel p JOIN pi{i - 1} v ON v.t = p.prev_type
                UNION ALL
                SELECT v.t, v.pi FROM pi{i - 1} v
                WHERE v.t NOT IN (SELECT prev_type FROM row_tot)
            ) GROUP BY t
        )"""
        )
    chain = ",\n        ".join(its)
    return f"""
        WITH trans AS (
            SELECT prev_type, event_type, COUNT(*) AS c
            FROM (
                SELECT event_type,
                       LAG(event_type) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                       ) AS prev_type
                FROM events
            )
            WHERE prev_type IS NOT NULL
            GROUP BY prev_type, event_type
        ),
        row_tot AS (
            SELECT prev_type, CAST(SUM(c) AS BIGINT) AS rt
            FROM trans GROUP BY prev_type
        ),
        p_rel AS (
            SELECT t.prev_type, t.event_type, t.c, r.rt
            FROM trans t JOIN row_tot r USING (prev_type)
        ),
        states AS (
            SELECT DISTINCT t FROM (
                SELECT prev_type AS t FROM trans
                UNION ALL SELECT event_type FROM trans
            )
        ),
        pi0 AS (
            SELECT t,
                   CAST(1000000 // (SELECT COUNT(*) FROM states) AS BIGINT)
                       AS pi
            FROM states
        ),
        {chain}
        SELECT t AS event_type, pi AS pi_micro
        FROM pi{iters}
        ORDER BY event_type
    """

def markov_entropy_rate(
    events: DataFrame, iters: int = STATIONARY_ITERS
) -> DataFrame:
    """Entropy rate of the event-type Markov chain, per state:
    (event_type, pi_micro, h_micro, contrib_micro) with the chain's entropy
    rate = Σ contrib_micro. H(state i) = Σ_j p_ij·ln(1/p_ij) measures how
    PREDICTABLE behavior is from state i; weighting by the stationary mass
    π gives the per-symbol information rate of user behavior — the
    behavioral-predictability score bot detection and compression-based
    anomaly scoring read.

    Exactness: each ln of an exact integer count is quantized once to
    micro-nats (the user_entropy convention), every sum/division after is
    half-up integer arithmetic — order-independent, bit-stable cross-engine.
    π comes from ``markov_stationary`` (same quantization). Sink states
    (no outgoing transitions) have H = 0 by the self-loop convention.

    Scale shape: one lag-window pass over events builds the ≤|types|² count
    matrix; everything downstream is arithmetic on that tiny relation."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lnm = lambda c: F.round(F.log(c) * F.lit(1e6)).cast("long")  # noqa: E731
    trans = (
        events.select("user_id", "ts", "event_id", "event_type")
        .withColumn("prev_type", F.lag("event_type").over(w))
        .where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "event_type")
        .agg(F.count("*").alias("c"))
        # ONE checkpointed count matrix feeds both the entropies and the
        # stationary iteration — the old form paid the events lag-window
        # pass twice (once here, once inside markov_stationary)
        .localCheckpoint(eager=False)
    )
    row_tot = trans.groupBy("prev_type").agg(F.sum("c").alias("rt"))
    h_rel = (
        trans.join(row_tot, "prev_type")
        .groupBy("prev_type")
        .agg(
            F.sum(F.col("c") * (lnm(F.col("rt")) - lnm(F.col("c")))).alias("num"),
            F.max("rt").alias("rt"),
        )
        .select(
            F.col("prev_type").alias("event_type"),
            F.expr("CAST((2 * num + rt) DIV (2 * rt) AS BIGINT)").alias("h_micro"),
        )
    )
    pi = _stationary_from_trans(trans, iters)
    return (
        pi.join(h_rel, "event_type", "left")
        .select(
            "event_type",
            "pi_micro",
            F.coalesce("h_micro", F.lit(0)).cast("long").alias("h_micro"),
        )
        .select(
            "event_type",
            "pi_micro",
            "h_micro",
            F.expr(
                "CAST((2 * pi_micro * h_micro + 1000000) DIV 2000000 AS BIGINT)"
            ).alias("contrib_micro"),
        )
        .orderBy("event_type")
    )


def markov_entropy_rate_sql(iters: int = STATIONARY_ITERS) -> str:
    return f"""
        WITH pi AS ({markov_stationary_sql(iters)}),
        trans2 AS (
            SELECT prev_type, event_type, COUNT(*) AS c
            FROM (
                SELECT event_type,
                       LAG(event_type) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                       ) AS prev_type
                FROM events
            )
            WHERE prev_type IS NOT NULL
            GROUP BY prev_type, event_type
        ),
        row_tot2 AS (
            SELECT prev_type, CAST(SUM(c) AS BIGINT) AS rt
            FROM trans2 GROUP BY prev_type
        ),
        h_rel AS (
            SELECT prev_type AS event_type,
                   CAST((2 * SUM(c * (CAST(round(ln(rt) * 1e6) AS BIGINT)
                                      - CAST(round(ln(c) * 1e6) AS BIGINT)))
                         + MAX(rt)) // (2 * MAX(rt)) AS BIGINT) AS h_micro
            FROM trans2 JOIN row_tot2 USING (prev_type)
            GROUP BY prev_type
        )
        SELECT pi.event_type, pi.pi_micro,
               COALESCE(h.h_micro, 0) AS h_micro,
               CAST((2 * pi.pi_micro * COALESCE(h.h_micro, 0) + 1000000)
                    // 2000000 AS BIGINT) AS contrib_micro
        FROM pi LEFT JOIN h_rel h USING (event_type)
        ORDER BY pi.event_type
    """

# --- MATCH_RECOGNIZE-style pattern counting ----------------------------------------

CEP_PATTERN = ("view", "click", "purchase")


def cep_pattern_counts(
    events: DataFrame, pattern: tuple[str, ...] = CEP_PATTERN
) -> DataFrame:
    """Complex-event-processing pattern counter: per user, how many times the
    CONTIGUOUS event-type sequence ``pattern`` occurs in their (ts,
    event_id)-ordered stream — (user_id, n_events, n_patterns), the
    MATCH_RECOGNIZE shape Spark lacks natively.

    A match is a position whose next len(pattern)-1 events complete the
    sequence — one lead-window conjunction per pattern step, so adjacent and
    overlapping occurrences are counted exactly (a string replace-length
    count silently misses adjacent matches at the shared delimiter; tested
    and rejected). Ties order by (ts, event_id) — deterministic.

    Scale shape: one user-keyed window pass + one user-keyed aggregate;
    pattern length only widens the lead conjunction, never adds a pass."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    hit = F.col("event_type") == pattern[0]
    for i, step in enumerate(pattern[1:], start=1):
        hit = hit & (F.lead("event_type", i).over(w) == step)
    return (
        events.select("user_id", hit.cast("long").alias("is_hit"))
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("is_hit").cast("long").alias("n_patterns"),
        )
        .orderBy("user_id")
    )


def cep_pattern_counts_sql(pattern: tuple[str, ...] = CEP_PATTERN) -> str:
    conds = ["event_type = '" + pattern[0] + "'"] + [
        f"LEAD(event_type, {i}) OVER (PARTITION BY user_id ORDER BY ts, event_id)"
        f" = '{step}'"
        for i, step in enumerate(pattern[1:], start=1)
    ]
    cond = "\n                     AND ".join(conds)
    return f"""
        WITH hits AS (
            SELECT user_id,
                   CASE WHEN {cond}
                        THEN 1 ELSE 0 END AS is_hit
            FROM events
        )
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(is_hit) AS BIGINT) AS n_patterns
        FROM hits
        GROUP BY user_id
        ORDER BY user_id
    """

# --- Markov removal-effect attribution ----------------------------------------------

ATTRIB_CHANNELS = ("click", "error", "signup", "view")
ATTRIB_CONV = "purchase"
ATTRIB_ROUNDS = 4


def markov_attribution(
    events: DataFrame,
    channels: tuple[str, ...] = ATTRIB_CHANNELS,
    conv: str = ATTRIB_CONV,
    rounds: int = ATTRIB_ROUNDS,
) -> DataFrame:
    """Markov removal-effect attribution: (channel, conv_full_micro,
    conv_removed_micro, removal_micro, attr_milli) — each channel's credit is
    how much the chain's conversion reach DROPS when walks may no longer
    pass through it (Anderl et al.'s data-driven attribution, the
    principled alternative to linear/position rules).

    One first-order chain from per-user journeys: start mass = each user's
    first event type; per round, mass flowing into ``conv`` absorbs, mass
    into a removed channel dies. ALL scenarios (full + one per channel)
    propagate in ONE plan — the scenario is a key column on the mass
    relation, not a Python loop, so the round count (not the channel count)
    sets plan depth. ``rounds`` is a fixed constant (the oracle unrolls the
    same rounds), and every per-edge flow quantizes half-up at micro on
    exact integer counts — the markov_stationary convention, bit-stable.

    Scale shape: journeys collapse to a ≤|types|² count matrix + a ≤|types|
    start vector in one window pass; every round is arithmetic on
    (scenarios × states) rows."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # ONE window pass over events serves both the transition matrix and the
    # start vector: tag each row, aggregate by (prev, cur, is_first), then
    # derive the two tiny relations from the checkpointed ≤2|types|² rows
    seq_agg = (
        events.select(
            "user_id",
            "event_type",
            F.lag("event_type").over(w).alias("prev_type"),
            F.row_number().over(w).alias("rn"),
        )
        .groupBy("prev_type", "event_type", (F.col("rn") == 1).alias("is_first"))
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=True)
    )
    trans = (
        seq_agg.where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "event_type")
        .agg(F.sum("c").alias("c"))
    )
    row_tot = trans.groupBy("prev_type").agg(F.sum("c").alias("rt"))
    p_rel = trans.join(row_tot, "prev_type")
    starts = (
        seq_agg.where(F.col("is_first"))
        .groupBy("event_type")
        .agg(F.sum("c").alias("n0"))
    )
    spark = events.sparkSession
    scen = spark.createDataFrame(
        [("full", None)] + [(f"no_{c}", c) for c in channels],
        "scenario string, removed string",
    )
    # v0: start distribution in micro, minus mass on the removed channel;
    # start mass already on `conv` converts at round 0
    tot = starts.agg(F.sum("n0").alias("t0"))
    v0 = (
        starts.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(scen))
        .where(
            F.col("removed").isNull() | (F.col("event_type") != F.col("removed"))
        )
        .select(
            "scenario",
            F.col("event_type").alias("state"),
            F.expr("CAST((2 * 1000000 * n0 + t0) DIV (2 * t0) AS BIGINT)").alias(
                "mass"
            ),
        )
    )
    # seed EVERY scenario at 0 so one whose walks never reach `conv`
    # (e.g. removing the gateway channel) still emits a row (the SQL twin's
    # LEFT JOIN + COALESCE does the same)
    conv_parts = [
        scen.select("scenario", F.lit(0).cast("long").alias("conv_mass")),
        v0.where(F.col("state") == conv).select(
            "scenario", F.col("mass").alias("conv_mass")
        ),
    ]
    v = v0.where(F.col("state") != conv).localCheckpoint(eager=True)
    term = "CAST((2 * mass * c + rt) DIV (2 * rt) AS BIGINT)"
    for _ in range(rounds):
        flow = (
            v.join(p_rel, F.col("state") == F.col("prev_type"))
            .join(F.broadcast(scen), "scenario")
            .where(
                F.col("removed").isNull()
                | (F.col("event_type") != F.col("removed"))
            )
            .groupBy("scenario", F.col("event_type").alias("nstate"))
            .agg(F.sum(F.expr(term)).alias("mass"))
        )
        # NO per-round checkpoint: four rounds of joins over (scenarios x
        # states) rows keep lineage shallow, and every checkpoint here was
        # a full job over a KB-sized relation (three eager ones measured
        # ~5.2 s at sf0.1; checkpoint-free runs ~3x faster). p_rel — the
        # only events-derived input — is checkpointed once above.
        conv_parts.append(
            flow.where(F.col("nstate") == conv).select(
                "scenario", F.col("mass").alias("conv_mass")
            )
        )
        v = flow.where(F.col("nstate") != conv).select(
            "scenario", F.col("nstate").alias("state"), "mass"
        )
    conv_acc = conv_parts[0]
    for part in conv_parts[1:]:
        conv_acc = conv_acc.unionByName(part)
    conv_acc = conv_acc.groupBy("scenario").agg(
        F.sum("conv_mass").alias("conv_mass")
    )
    full = conv_acc.where(F.col("scenario") == "full").select(
        F.col("conv_mass").alias("conv_full_micro")
    )
    per_channel = (
        conv_acc.where(F.col("scenario") != "full")
        .select(
            F.expr("substring(scenario, 4)").alias("channel"),
            F.col("conv_mass").alias("conv_removed_micro"),
        )
        .crossJoin(F.broadcast(full))
        .select(
            "channel",
            "conv_full_micro",
            "conv_removed_micro",
            (F.col("conv_full_micro") - F.col("conv_removed_micro")).alias(
                "removal_micro"
            ),
        )
    )
    tot_eff = per_channel.agg(
        F.sum(F.expr("GREATEST(removal_micro, 0)")).alias("eff_tot")
    )
    return (
        per_channel.crossJoin(F.broadcast(tot_eff))
        .select(
            "channel",
            "conv_full_micro",
            "conv_removed_micro",
            "removal_micro",
            F.expr(
                "CAST(CASE WHEN eff_tot > 0 THEN"
                " (2 * 1000 * GREATEST(removal_micro, 0) + eff_tot)"
                " DIV (2 * eff_tot) ELSE 0 END AS BIGINT)"
            ).alias("attr_milli"),
        )
        .orderBy("channel")
    )


def markov_attribution_sql(
    channels: tuple[str, ...] = ATTRIB_CHANNELS,
    conv: str = ATTRIB_CONV,
    rounds: int = ATTRIB_ROUNDS,
) -> str:
    scen_rows = ", ".join(
        ["('full', NULL)"] + [f"('no_{c}', '{c}')" for c in channels]
    )
    term = "CAST((2 * mass * c + rt) // (2 * rt) AS BIGINT)"
    its = []
    for r in range(1, rounds + 1):
        its.append(f"""flow{r} AS (
            SELECT v.scenario, p.event_type AS nstate,
                   CAST(SUM({term}) AS BIGINT) AS mass
            FROM v{r - 1} v
            JOIN p_rel p ON v.state = p.prev_type
            JOIN scen s ON s.scenario = v.scenario
            WHERE s.removed IS NULL OR p.event_type <> s.removed
            GROUP BY v.scenario, p.event_type
        ),
        conv{r} AS (
            SELECT scenario, CAST(SUM(conv_mass) AS BIGINT) AS conv_mass
            FROM (
                SELECT scenario, conv_mass FROM conv{r - 1}
                UNION ALL
                SELECT scenario, mass FROM flow{r} WHERE nstate = '{conv}'
            ) GROUP BY scenario
        ),
        v{r} AS (
            SELECT scenario, nstate AS state, mass FROM flow{r}
            WHERE nstate <> '{conv}'
        )""")
    chain = ",\n        ".join(its)
    return f"""
        WITH seq AS (
            SELECT user_id, event_type,
                   LAG(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS prev_type,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS rn
            FROM events
        ),
        trans AS (
            SELECT prev_type, event_type, COUNT(*) AS c
            FROM seq WHERE prev_type IS NOT NULL
            GROUP BY prev_type, event_type
        ),
        row_tot AS (
            SELECT prev_type, CAST(SUM(c) AS BIGINT) AS rt
            FROM trans GROUP BY prev_type
        ),
        p_rel AS (
            SELECT t.prev_type, t.event_type, t.c, r.rt
            FROM trans t JOIN row_tot r USING (prev_type)
        ),
        scen(scenario, removed) AS (VALUES {scen_rows}),
        starts AS (
            SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n0
            FROM seq WHERE rn = 1 GROUP BY event_type
        ),
        tot AS (SELECT CAST(SUM(n0) AS BIGINT) AS t0 FROM starts),
        v0all AS (
            SELECT s.scenario, st.event_type AS state,
                   CAST((2 * 1000000 * st.n0 + t.t0) // (2 * t.t0) AS BIGINT)
                       AS mass
            FROM starts st CROSS JOIN tot t CROSS JOIN scen s
            WHERE s.removed IS NULL OR st.event_type <> s.removed
        ),
        conv0 AS (
            SELECT scenario, CAST(COALESCE(SUM(mass), 0) AS BIGINT)
                       AS conv_mass
            FROM (SELECT scenario FROM scen) s
            LEFT JOIN (SELECT scenario AS sc, mass FROM v0all
                       WHERE state = '{conv}') c ON s.scenario = c.sc
            GROUP BY scenario
        ),
        v0 AS (
            SELECT scenario, state, mass FROM v0all WHERE state <> '{conv}'
        ),
        {chain},
        per_channel AS (
            SELECT substr(c.scenario, 4) AS channel,
                   f.conv_mass AS conv_full_micro,
                   c.conv_mass AS conv_removed_micro,
                   f.conv_mass - c.conv_mass AS removal_micro
            FROM conv{rounds} c
            CROSS JOIN (SELECT conv_mass FROM conv{rounds}
                        WHERE scenario = 'full') f
            WHERE c.scenario <> 'full'
        ),
        eff AS (
            SELECT CAST(SUM(GREATEST(removal_micro, 0)) AS BIGINT) AS eff_tot
            FROM per_channel
        )
        SELECT channel, conv_full_micro, conv_removed_micro, removal_micro,
               CAST(CASE WHEN eff_tot > 0 THEN
                    (2 * 1000 * GREATEST(removal_micro, 0) + eff_tot)
                    // (2 * eff_tot) ELSE 0 END AS BIGINT) AS attr_milli
        FROM per_channel CROSS JOIN eff
        ORDER BY channel
    """


# --- Shapley-value attribution -------------------------------------------------------

SHAPLEY_CHANNELS = ("click", "error", "view")  # bit order: click=4, error=2, view=1


def shapley_attribution(events: DataFrame) -> DataFrame:
    """Shapley-value conversion attribution over the three touch channels —
    the game-theoretic credit rule (each channel's marginal contribution
    averaged over every join order) that linear/position/Markov
    attribution approximate: (channel, phi_x6_milli, efficiency_gap).

    The coalition value v(S) is the milli conversion rate of users whose
    touched-channel set is EXACTLY S (unobserved sets value 0). With 3
    channels the Shapley weights |S|!(2-|S|)!/3! scale to integers by 6,
    so phi_x6_milli = Σ_S w6(|S|)·(v(S∪{i}) − v(S)) is EXACT — no signed
    division ever happens — and the efficiency identity Σφ = v(full) −
    v(∅) is checkable to the bit: efficiency_gap (repeated on each row)
    must be 0.

    Scale shape: one user-grain flag aggregate, one 8-row coalition
    aggregate densified from a literal mask explode, and a 12-term static
    join on that tiny relation."""
    flags = events.groupBy("user_id").agg(
        *[
            F.max(
                F.when(F.col("event_type") == ch, 1).otherwise(0)
            ).alias(f"has_{ch}")
            for ch in SHAPLEY_CHANNELS
        ],
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("conv"),
    )
    mask = (
        F.col(f"has_{SHAPLEY_CHANNELS[0]}") * 4
        + F.col(f"has_{SHAPLEY_CHANNELS[1]}") * 2
        + F.col(f"has_{SHAPLEY_CHANNELS[2]}")
    )
    observed = flags.groupBy(mask.alias("mask")).agg(
        F.count("*").alias("n"), F.sum("conv").alias("x")
    )
    # dense 8-row v table: v(S) = 1000*x DIV n milli, 0 where unobserved
    all_masks = (
        observed.sparkSession.range(8)
        .select(F.col("id").cast("long").alias("mask"))
    )
    v = all_masks.join(observed, "mask", "left").select(
        "mask",
        F.expr(
            "CAST(CASE WHEN n IS NULL OR n = 0 THEN 0"
            " ELSE 1000 * x DIV n END AS BIGINT)"
        ).alias("v"),
    )
    # static Shapley terms: for channel bit b and every S without b,
    # weight6 = |S|!(2-|S|)!  (scaled by 3! = 6): |S|=0 -> 2, 1 -> 1, 2 -> 2
    terms = []
    bits = {"click": 4, "error": 2, "view": 1}
    for ch in SHAPLEY_CHANNELS:
        b = bits[ch]
        for s in range(8):
            if s & b:
                continue
            size = bin(s).count("1")
            w6 = {0: 2, 1: 1, 2: 2}[size]
            terms.append((ch, s, s | b, w6))
    term_rows = ", ".join(f"('{c}', {s}, {si}, {w})" for c, s, si, w in terms)
    term_df = observed.sparkSession.sql(
        f"SELECT * FROM VALUES {term_rows} AS t(channel, s_mask, si_mask, w6)"
    )
    phi = (
        term_df.join(
            v.select(F.col("mask").alias("si_mask"), F.col("v").alias("v_si")),
            "si_mask",
        )
        .join(
            v.select(F.col("mask").alias("s_mask"), F.col("v").alias("v_s")),
            "s_mask",
        )
        .groupBy("channel")
        .agg(
            F.sum(F.col("w6") * (F.col("v_si") - F.col("v_s")))
            .cast("long")
            .alias("phi_x6_milli")
        )
    )
    g = Window.partitionBy()
    v_ends = v.agg(
        F.max(F.when(F.col("mask") == 7, F.col("v"))).alias("v_full"),
        F.max(F.when(F.col("mask") == 0, F.col("v"))).alias("v_empty"),
    )
    return (
        phi.crossJoin(F.broadcast(v_ends))
        .withColumn(
            "efficiency_gap",
            (
                F.sum("phi_x6_milli").over(g)
                - 6 * (F.col("v_full") - F.col("v_empty"))
            ).cast("long"),
        )
        .select("channel", "phi_x6_milli", "efficiency_gap")
        .orderBy("channel")
    )


def shapley_attribution_sql() -> str:
    terms = []
    bits = {"click": 4, "error": 2, "view": 1}
    for ch in SHAPLEY_CHANNELS:
        b = bits[ch]
        for s in range(8):
            if s & b:
                continue
            size = bin(s).count("1")
            w6 = {0: 2, 1: 1, 2: 2}[size]
            terms.append((ch, s, s | b, w6))
    term_rows = ", ".join(f"('{c}', {s}, {si}, {w})" for c, s, si, w in terms)
    return f"""
        WITH flags AS (
            SELECT user_id,
                   MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS hc,
                   MAX(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS he,
                   MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS hv,
                   MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                       AS conv
            FROM events GROUP BY user_id
        ),
        observed AS (
            SELECT hc * 4 + he * 2 + hv AS mask,
                   COUNT(*) AS n, SUM(conv) AS x
            FROM flags GROUP BY 1
        ),
        v AS (
            SELECT m.mask,
                   CAST(CASE WHEN o.n IS NULL OR o.n = 0 THEN 0
                        ELSE 1000 * o.x // o.n END AS BIGINT) AS v
            FROM (SELECT unnest(range(0, 8)) AS mask) m
            LEFT JOIN observed o ON o.mask = m.mask
        ),
        terms(channel, s_mask, si_mask, w6) AS (VALUES {term_rows}),
        phi AS (
            SELECT t.channel,
                   CAST(SUM(t.w6 * (vi.v - vs.v)) AS BIGINT) AS phi_x6_milli
            FROM terms t
            JOIN v vi ON vi.mask = t.si_mask
            JOIN v vs ON vs.mask = t.s_mask
            GROUP BY t.channel
        ),
        ends AS (
            SELECT MAX(CASE WHEN mask = 7 THEN v END) AS v_full,
                   MAX(CASE WHEN mask = 0 THEN v END) AS v_empty
            FROM v
        )
        SELECT p.channel, p.phi_x6_milli,
               CAST(SUM(p.phi_x6_milli) OVER ()
                    - 6 * (e.v_full - e.v_empty) AS BIGINT) AS efficiency_gap
        FROM phi p CROSS JOIN ends e
        ORDER BY p.channel
    """


# --- autoscaler replay ------------------------------------------------------------

AUTOSCALE_CAP0 = 128
AUTOSCALE_CAP_MAX = 4096
AUTOSCALE_COOLDOWN_H = 2  # hours locked after any capacity change


def autoscale_replay(events: DataFrame) -> DataFrame:
    """Deterministic autoscaler replay over hourly arrivals — the
    capacity-planning what-if that turns a load series into "how many
    hours would we have been overloaded under this scaling policy",
    before touching production autoscaling config.

    Policy (evaluated on each hour's arrivals a against the capacity c
    in force DURING that hour): scale up c←min(2c, {AUTOSCALE_CAP_MAX})
    when 10a > 8c, scale down c←max(c/2, {AUTOSCALE_CAP0}) when
    10a < 2c, and any change locks the policy for
    {AUTOSCALE_COOLDOWN_H} hours (the flap guard). Sequentially
    dependent, so the batch form is the events_throttled treatment: ONE
    JVM array fold over the ≤|hours| global grid collected into an
    ordered array — never a driver loop; the oracle walks the identical
    recursion as a recursive CTE. Exact integers.

    Output per hour: (hour, arrivals, capacity, overloaded).

    Scale shape: one hour-grain aggregate off the event scan; the fold
    runs over the bounded hour grid (a retention window's hours, never
    event rows)."""
    hourly = events.groupBy(
        F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count("*").cast("long").alias("a"))
    hs = hourly.agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("hour"), F.col("a")))
        ).alias("hs")
    )
    up = f"least(acc.cap * 2, {AUTOSCALE_CAP_MAX})"
    down = f"greatest(acc.cap DIV 2, {AUTOSCALE_CAP0})"
    step = (
        "named_struct("
        " 'cap', CASE WHEN acc.cool > 0 THEN acc.cap"
        f"             WHEN 10 * h.a > 8 * acc.cap THEN {up}"
        f"             WHEN 10 * h.a < 2 * acc.cap THEN {down}"
        "             ELSE acc.cap END,"
        " 'cool', CASE WHEN acc.cool > 0 THEN acc.cool - 1"
        f"              WHEN 10 * h.a > 8 * acc.cap THEN {AUTOSCALE_COOLDOWN_H}"
        f"              WHEN 10 * h.a < 2 * acc.cap THEN {AUTOSCALE_COOLDOWN_H}"
        "              ELSE CAST(0 AS BIGINT) END,"
        " 'caps', array_append(acc.caps, acc.cap))"
    )
    fold = F.expr(
        "aggregate(hs,"
        f" named_struct('cap', CAST({AUTOSCALE_CAP0} AS BIGINT),"
        "               'cool', CAST(0 AS BIGINT),"
        "               'caps', CAST(array() AS ARRAY<BIGINT>)),"
        f" (acc, h) -> {step},"
        " acc -> acc.caps)"
    )
    return (
        hs.select("hs", fold.alias("caps"))
        .select(
            F.explode(F.arrays_zip("hs", "caps")).alias("z")
        )
        .select(
            F.col("z.hs.hour").cast("timestamp").alias("hour"),
            F.col("z.hs.a").alias("arrivals"),
            F.col("z.caps").alias("capacity"),
            (F.col("z.hs.a") > F.col("z.caps")).cast("int").alias(
                "overloaded"
            ),
        )
        .orderBy("hour")
    )


def autoscale_replay_sql() -> str:
    up = f"LEAST(w.cap * 2, {AUTOSCALE_CAP_MAX})"
    down = f"GREATEST(w.cap // 2, {AUTOSCALE_CAP0})"
    return f"""
        WITH RECURSIVE hourly AS (
            SELECT date_trunc('hour', ts) AS hour,
                   CAST(COUNT(*) AS BIGINT) AS a
            FROM events GROUP BY 1
        ),
        ordered AS (
            SELECT hour, a,
                   row_number() OVER (ORDER BY hour) AS rn
            FROM hourly
        ),
        walk(rn, hour, a, cap, cool) AS (
            SELECT rn, hour, a, CAST({AUTOSCALE_CAP0} AS BIGINT),
                   CAST(0 AS BIGINT)
            FROM ordered WHERE rn = 1
            UNION ALL
            SELECT o.rn, o.hour, o.a,
                   CASE WHEN w.cool > 0 THEN w.cap
                        WHEN 10 * w.a > 8 * w.cap THEN {up}
                        WHEN 10 * w.a < 2 * w.cap THEN {down}
                        ELSE w.cap END,
                   CASE WHEN w.cool > 0 THEN w.cool - 1
                        WHEN 10 * w.a > 8 * w.cap THEN {AUTOSCALE_COOLDOWN_H}
                        WHEN 10 * w.a < 2 * w.cap THEN {AUTOSCALE_COOLDOWN_H}
                        ELSE CAST(0 AS BIGINT) END
            FROM walk w JOIN ordered o ON o.rn = w.rn + 1
        )
        SELECT hour, a AS arrivals, cap AS capacity,
               CAST(a > cap AS INT) AS overloaded
        FROM walk
        ORDER BY hour
    """


# --- allowed-lateness sweep ---------------------------------------------------------

LATENESS_SWEEP_S = (0, 60, 300, 3600)


def lateness_sweep(events: DataFrame) -> DataFrame:
    """Allowed-lateness tuning curve: for each candidate watermark delay,
    what fraction of events would a streaming job DROP — the sweep that
    turns the out-of-order audit's lateness distribution into the actual
    knob setting (delay {LATENESS_SWEEP_S} seconds), trading state size
    against completeness with numbers instead of folklore.

    Lateness per event is the same per-user running event-time
    high-water-mark window as the audit (arrival order = event_id);
    the grid is a ≤4-element literal explode. Output per threshold:
    (allowed_s, n_events, n_dropped, drop_milli), exact integers.

    Scale shape: one per-user arrival-order window, one bounded
    (threshold) aggregate — the explode multiplies rows by the constant
    grid size only."""
    from ..functions import micros

    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    late_us = F.coalesce(
        F.greatest(
            F.max(micros(F.col("ts"))).over(w) - micros(F.col("ts")),
            F.lit(0),
        ),
        F.lit(0),
    )
    grid = F.array(*[F.lit(s) for s in LATENESS_SWEEP_S])
    scored = events.select(late_us.alias("late_us")).select(
        "late_us", F.explode(grid).alias("allowed_s")
    )
    return (
        scored.groupBy(F.col("allowed_s").cast("long").alias("allowed_s"))
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum(
                (
                    F.col("late_us")
                    > F.col("allowed_s").cast("long") * 1_000_000
                ).cast("long")
            )
            .cast("long")
            .alias("n_dropped"),
        )
        .withColumn(
            "drop_milli",
            F.expr("CAST(1000 * n_dropped DIV n_events AS BIGINT)"),
        )
        .orderBy("allowed_s")
    )


def lateness_sweep_sql() -> str:
    rates = ", ".join(str(s) for s in LATENESS_SWEEP_S)
    return f"""
        WITH scored AS (
            SELECT COALESCE(GREATEST(
                       MAX(epoch_us(ts)) OVER (
                           PARTITION BY user_id ORDER BY event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING)
                       - epoch_us(ts), 0), 0) AS late_us
            FROM events
        ),
        graded AS (
            SELECT late_us, unnest([{rates}]) AS allowed_s FROM scored
        ),
        panel AS (
            SELECT CAST(allowed_s AS BIGINT) AS allowed_s,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   CAST(SUM(CASE WHEN late_us >
                            CAST(allowed_s AS BIGINT) * 1000000
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
            FROM graded GROUP BY 1
        )
        SELECT allowed_s, n_events, n_dropped,
               CAST(1000 * n_dropped // n_events AS BIGINT) AS drop_milli
        FROM panel
        ORDER BY allowed_s
    """


# --- process conformance ------------------------------------------------------------

# the intended funnel: signup precedes everything; view -> click -> purchase;
# error may follow anything (it is an outcome, not a step)
CONFORMANT_TRANSITIONS = (
    ("signup", "view"), ("signup", "error"),
    ("view", "view"), ("view", "click"), ("view", "error"),
    ("click", "view"), ("click", "click"), ("click", "purchase"),
    ("click", "error"),
    ("purchase", "view"), ("purchase", "error"),
    ("error", "view"), ("error", "signup"),
)


def process_conformance(events: DataFrame) -> DataFrame:
    """Process-mining conformance audit: observed per-user event-type
    transitions checked against the DECLARED process model — the
    type_transitions matrix says what happens; this says what happens
    that SHOULDN'T (purchase→click loops, view→purchase skips), the
    replay-fitness readout a funnel redesign starts from.

    One per-user lag window in (event-time, id) order builds the
    transition stream; the allowed set is a broadcast literal relation.
    Output per transition: (from_type, to_type, n, allowed,
    share_of_violations_milli) — share over violating transitions only
    (0 for allowed rows).

    Scale shape: one user-keyed lag window, bounded (from, to) rollup
    with a window over the ≤|types|² panel."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        events.select(
            "user_id",
            "ts",
            "event_id",
            F.lag("event_type").over(w).alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .where(F.col("from_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count("*").cast("long").alias("n"))
    )
    allowed_rows = ", ".join(
        f"('{a}', '{b}')" for a, b in CONFORMANT_TRANSITIONS
    )
    flagged = trans.withColumn(
        "allowed",
        F.expr(
            f"CAST((from_type, to_type) IN ({allowed_rows}) AS INT)"
        ),
    )
    return flagged.select(
        "from_type",
        "to_type",
        "n",
        "allowed",
        F.expr(
            "CASE WHEN allowed = 0 THEN CAST(1000 * n DIV"
            " (SUM(CASE WHEN allowed = 0 THEN n ELSE 0 END) OVER ())"
            " AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        ).alias("violation_share_milli"),
    ).orderBy("from_type", "to_type")


def process_conformance_sql() -> str:
    allowed_rows = ", ".join(
        f"('{a}', '{b}')" for a, b in CONFORMANT_TRANSITIONS
    )
    return f"""
        WITH trans AS (
            SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
            FROM (
                SELECT LAG(event_type) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                       ) AS from_type,
                       event_type AS to_type
                FROM events
            )
            WHERE from_type IS NOT NULL
            GROUP BY 1, 2
        ),
        flagged AS (
            SELECT from_type, to_type, n,
                   CAST((from_type, to_type) IN ({allowed_rows}) AS INT)
                       AS allowed
            FROM trans
        )
        SELECT from_type, to_type, n, allowed,
               CASE WHEN allowed = 0 THEN
                    CAST(1000 * n // (SUM(CASE WHEN allowed = 0 THEN n
                                          ELSE 0 END) OVER ()) AS BIGINT)
                    ELSE CAST(0 AS BIGINT) END AS violation_share_milli
        FROM flagged
        ORDER BY from_type, to_type
    """


# --- directly-follows graph with waiting-time profile ---------------------------------


def dfg_waits(events: DataFrame) -> DataFrame:
    """Directly-follows graph with a waiting-time profile per edge — the
    process-mining primitive behind bottleneck maps: for each consecutive
    event pair within a user's timeline, edge (src -> dst) with the wait in
    seconds; per edge report volume, mean wait, and the EXACT median wait
    (the weighted-median threshold device — smallest wait whose cumulative
    count reaches half, integer cross-multiplied, no float quantile).

    Scale shape: one user-partitioned lead window builds the edges; the
    median runs per edge over the (edge, wait)-grain aggregate (cumulative
    window partitioned BY EDGE — never unpartitioned); mean is integer
    micros DIV count."""
    from ..functions import micros

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    edges = (
        events.select(
            "user_id",
            "event_id",
            "ts",
            F.col("event_type").alias("src"),
            F.lead("event_type").over(w).alias("dst"),
            (F.lead(micros("ts")).over(w) - micros("ts")).alias("wait_us"),
        )
        .where(F.col("dst").isNotNull())
        .select("src", "dst", (F.col("wait_us") / 1_000_000).cast("long").alias("wait_s"))
    )
    per_wait = edges.groupBy("src", "dst", "wait_s").agg(
        F.count("*").alias("m")
    )
    wp = Window.partitionBy("src", "dst")
    wo = wp.orderBy("wait_s").rowsBetween(Window.unboundedPreceding, 0)
    cum = per_wait.select(
        "src",
        "dst",
        "wait_s",
        F.sum("m").over(wo).alias("cum"),
        F.sum("m").over(wp).alias("tot"),
        F.sum(F.col("m") * F.col("wait_s")).over(wp).alias("wait_sum"),
    )
    return (
        cum.where(2 * F.col("cum") >= F.col("tot"))
        .groupBy("src", "dst")
        .agg(
            F.max("tot").cast("long").alias("n_transitions"),
            F.expr("CAST(MAX(wait_sum) DIV MAX(tot) AS BIGINT)").alias(
                "mean_wait_s"
            ),
            F.min("wait_s").cast("long").alias("median_wait_s"),
        )
        .orderBy("src", "dst")
    )


DFG_WAITS_SQL = """
    WITH edges AS (
        SELECT src, dst, CAST(wait_us // 1000000 AS BIGINT) AS wait_s
        FROM (
            SELECT event_type AS src,
                   LEAD(event_type) OVER w AS dst,
                   LEAD(epoch_us(ts)) OVER w - epoch_us(ts) AS wait_us
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        WHERE dst IS NOT NULL
    ),
    per_wait AS (
        SELECT src, dst, wait_s, COUNT(*) AS m
        FROM edges GROUP BY 1, 2, 3
    ),
    cum AS (
        SELECT src, dst, wait_s,
               SUM(m) OVER (PARTITION BY src, dst ORDER BY wait_s
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum,
               SUM(m) OVER (PARTITION BY src, dst) AS tot,
               SUM(m * wait_s) OVER (PARTITION BY src, dst) AS wait_sum
        FROM per_wait
    )
    SELECT src, dst,
           CAST(MAX(tot) AS BIGINT) AS n_transitions,
           CAST(MAX(wait_sum) // MAX(tot) AS BIGINT) AS mean_wait_s,
           CAST(MIN(wait_s) AS BIGINT) AS median_wait_s
    FROM cum
    WHERE 2 * cum >= tot
    GROUP BY src, dst
    ORDER BY src, dst
"""


# --- alpha-algorithm footprint matrix -------------------------------------------------


def alpha_footprint(events: DataFrame) -> DataFrame:
    """Process-mining footprint matrix (the α-algorithm's first step, van
    der Aalst): classify every ordered activity pair from the
    direct-follows counts of per-user event sequences — a →  b (causality:
    a follows into b, never the reverse), a # b (never adjacent), a || b
    (both directions observed: parallelism/loop). The DFG-waits view
    (L-382) prices the edges; the footprint is the RELATIONAL abstraction
    process discovery actually consumes.

    One lag window over the event log, one (src,dst) count aggregate,
    then the bounded |activities|² grid join — all exact integers.

    Output per ordered pair (a, b), a < b lexically: (a, b, df_ab, df_ba,
    relation) where relation is 'causal_ab', 'causal_ba', 'parallel', or
    'choice'."""
    w_seq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    df_counts = (
        events.select(
            "user_id",
            F.col("event_type").alias("b"),
            F.lag("event_type").over(w_seq).alias("a"),
        )
        .where(F.col("a").isNotNull())
        .groupBy("a", "b")
        .agg(F.count("*").cast("long").alias("n"))
    )
    acts = events.select(F.col("event_type").alias("act")).distinct()
    grid = (
        acts.select(F.col("act").alias("a"))
        .crossJoin(F.broadcast(acts.select(F.col("act").alias("b"))))
        .where(F.col("a") < F.col("b"))
    )
    fwd = df_counts.select("a", "b", F.col("n").alias("df_ab"))
    bwd = df_counts.select(
        F.col("b").alias("a"), F.col("a").alias("b"), F.col("n").alias("df_ba")
    )
    return (
        grid.join(fwd, ["a", "b"], "left")
        .join(bwd, ["a", "b"], "left")
        .select(
            "a",
            "b",
            F.coalesce("df_ab", F.lit(0)).alias("df_ab"),
            F.coalesce("df_ba", F.lit(0)).alias("df_ba"),
        )
        .withColumn(
            "relation",
            F.when(
                (F.col("df_ab") > 0) & (F.col("df_ba") > 0), "parallel"
            )
            .when(F.col("df_ab") > 0, "causal_ab")
            .when(F.col("df_ba") > 0, "causal_ba")
            .otherwise("choice"),
        )
        .orderBy("a", "b")
    )


def alpha_footprint_sql() -> str:
    return """
    WITH seq AS (
        SELECT user_id, event_type AS b,
               lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS a
        FROM events
    ),
    df_counts AS (
        SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n
        FROM seq WHERE a IS NOT NULL GROUP BY a, b
    ),
    acts AS (SELECT DISTINCT event_type AS act FROM events),
    grid AS (
        SELECT x.act AS a, y.act AS b
        FROM acts x CROSS JOIN acts y
        WHERE x.act < y.act
    )
    SELECT g.a, g.b,
           COALESCE(f.n, 0) AS df_ab,
           COALESCE(r.n, 0) AS df_ba,
           CASE
               WHEN COALESCE(f.n, 0) > 0 AND COALESCE(r.n, 0) > 0
                   THEN 'parallel'
               WHEN COALESCE(f.n, 0) > 0 THEN 'causal_ab'
               WHEN COALESCE(r.n, 0) > 0 THEN 'causal_ba'
               ELSE 'choice'
           END AS relation
    FROM grid g
    LEFT JOIN df_counts f ON f.a = g.a AND f.b = g.b
    LEFT JOIN df_counts r ON r.a = g.b AND r.b = g.a
    ORDER BY g.a, g.b
    """


# --- time-decay attribution -----------------------------------------------------------

TDECAY_CHANNELS = ("view", "click", "signup")
TDECAY_HALFLIFE_H = 12
TDECAY_WINDOW_DAYS = 7


def channel_time_decay_attribution(
    events: DataFrame,
    channels: tuple[str, ...] = TDECAY_CHANNELS,
    halflife_h: int = TDECAY_HALFLIFE_H,
    window_days: int = TDECAY_WINDOW_DAYS,
) -> DataFrame:
    """Time-decay conversion attribution: every touch inside the
    ``window_days`` lookback before a purchase earns credit 2^(−Δt/h)
    with half-life ``h`` hours — the recency-weighted rule that completes
    the classic attribution ladder already in the registry (linear L-100,
    position L-130, Shapley L-shapley, Markov removal L-224): last-touch
    bias made continuous instead of absolute.

    Decay is DISCRETE: credit halves once per full elapsed half-life
    (integer exponent), because 2^-n is an exact IEEE double — a
    continuous 2^(-t/h) needs libm pow, whose last ulp differs between
    engines and flips micro rounding (observed: 3-micro drift over 5k
    rows). Credits are exact integers after the single micro round, so
    channel totals are order-free integer sums. Output per channel: (channel,
    n_touches, credit_micro, share_milli).

    Scale: a user-keyed touch↔purchase range join (the as-of family's
    shape — co-partitioned on user, never all-pairs), one channel
    rollup."""
    touches = events.where(F.col("event_type").isin(*channels)).select(
        "user_id",
        F.col("event_type").alias("channel"),
        F.expr("unix_micros(ts) DIV 1000000").alias("tu"),
    )
    purchases = events.where(F.col("event_type") == "purchase").select(
        "user_id", F.expr("unix_micros(ts) DIV 1000000").alias("pu")
    )
    window_s = window_days * 86400
    credits = (
        touches.join(purchases, "user_id")
        .where(
            (F.col("tu") < F.col("pu"))
            & (F.col("pu") - F.col("tu") <= window_s)
        )
        .select(
            "channel",
            F.expr(
                f"CAST(round(1e6 * pow(2.0, -CAST((pu - tu)"
                f" DIV (3600 * {halflife_h}) AS DOUBLE))) AS BIGINT)"
            ).alias("c_micro"),
        )
    )
    per_channel = credits.groupBy("channel").agg(
        F.count("*").cast("long").alias("n_touches"),
        F.sum("c_micro").alias("credit_micro"),
    )
    tot = per_channel.agg(F.sum("credit_micro").alias("tot"))
    return (
        per_channel.crossJoin(F.broadcast(tot))
        .select(
            "channel",
            "n_touches",
            "credit_micro",
            F.expr(
                "CASE WHEN tot > 0 THEN CAST((2 * 1000 * credit_micro + tot)"
                " DIV (2 * tot) AS BIGINT) ELSE 0 END"
            ).alias("share_milli"),
        )
        .orderBy("channel")
    )


def channel_time_decay_attribution_sql(
    channels: tuple[str, ...] = TDECAY_CHANNELS,
    halflife_h: int = TDECAY_HALFLIFE_H,
    window_days: int = TDECAY_WINDOW_DAYS,
) -> str:
    chan_list = ", ".join(f"'{c}'" for c in channels)
    window_s = window_days * 86400
    return f"""
    WITH touches AS (
        SELECT user_id, event_type AS channel,
               epoch_us(ts) // 1000000 AS tu
        FROM events WHERE event_type IN ({chan_list})
    ),
    purchases AS (
        SELECT user_id, epoch_us(ts) // 1000000 AS pu
        FROM events WHERE event_type = 'purchase'
    ),
    credits AS (
        SELECT t.channel,
               CAST(round(1e6 * pow(2.0, -CAST((p.pu - t.tu)
                   // (3600 * {halflife_h}) AS DOUBLE))) AS BIGINT)
                   AS c_micro
        FROM touches t
        JOIN purchases p ON p.user_id = t.user_id
        WHERE t.tu < p.pu AND p.pu - t.tu <= {window_s}
    ),
    per_channel AS (
        SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_touches,
               CAST(SUM(c_micro) AS BIGINT) AS credit_micro
        FROM credits GROUP BY channel
    ),
    tot AS (SELECT CAST(SUM(credit_micro) AS BIGINT) AS tot
            FROM per_channel)
    SELECT channel, n_touches, credit_micro,
           CASE WHEN tot > 0 THEN
               CAST((2 * 1000 * credit_micro + tot) // (2 * tot) AS BIGINT)
           ELSE 0 END AS share_milli
    FROM per_channel CROSS JOIN tot
    ORDER BY channel
    """
