"""Warehouse-scale operators over the TPC-H-ish fixtures.

Post-parity extensions (the reference's own surface is the rental summary;
SURVEY.md §7 step 7): the three canonical fact-table patterns a 100 TB engine
must get right, each with an exact DuckDB oracle.

- pricing_summary: the classic scan-heavy single-pass aggregation (TPC-H Q1
  shape) — partial+final hash agg, no join, bandwidth-bound.
- star_join_revenue: fact ⋈ dims with a broadcast chain — dims broadcast,
  only the fact-fact join may shuffle; plan pinned in tests/test_plans.py.
- salted_aggregation: the skew-mitigation pattern from SCALE.md §4 as a
  two-stage aggregate; the oracle is the UNSALTED group-by (salting must be
  result-invariant by construction).

All money arithmetic is cast to DECIMAL before summing: double-precision sums
are order-dependent in the last bits, and a 600k-row sum can differ between
engines at the 6-dp hash granularity; decimal sums are exact and identical.

OUTPUT sums/revenues are then cast (not rounded — rounding-mode divergence on
half-cent boundaries) to DOUBLE on both the Spark and oracle sides: the exact
decimal value is identical in both engines, so nearest-double conversion is
bit-identical, while leaving the column as DECIMAL serializes as
``Decimal('14123.00')`` in Spark's toPandas vs ``float64`` in DuckDB's fetchdf
and fails the driver's hash canonicalization despite equal values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# built lazily — F.col needs an active SparkContext, and this module is
# imported at registry load (before any session exists in test collection)
def _price():
    return F.col("l_extendedprice").cast("decimal(18,2)")


def _disc():
    return F.col("l_discount").cast("decimal(18,2)")


def _tax():
    return F.col("l_tax").cast("decimal(18,2)")


def _qty():
    return F.col("l_quantity").cast("decimal(18,2)")


def _one():
    return F.lit(1).cast("decimal(18,2)")


def pricing_summary(lineitem: DataFrame, ship_cutoff: str = "1998-09-02") -> DataFrame:
    """Pricing summary report per (returnflag, linestatus) — one scan, one
    shuffle (partial+final hash aggregate on a 6-ish-key space)."""
    return (
        lineitem.where(F.to_date("l_shipdate") <= F.lit(ship_cutoff).cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_qty()).cast("double").alias("sum_qty"),
            F.sum(_price()).cast("double").alias("sum_base_price"),
            F.sum(_price() * (_one() - _disc())).cast("double").alias("sum_disc_price"),
            F.sum(
                _price() * (_one() - _disc()) * (_one() + _tax())
            ).cast("double").alias("sum_charge"),
            # cast avgs to double: Spark's round(avg(decimal)) stays decimal,
            # DuckDB's returns double — same value, different cell type
            F.round(F.avg(_qty()), 6).cast("double").alias("avg_qty"),
            F.round(F.avg(_price()), 6).cast("double").alias("avg_price"),
            F.round(F.avg(_disc()), 6).cast("double").alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def pricing_summary_sql(ship_cutoff: str = "1998-09-02") -> str:
    p = "CAST(l_extendedprice AS DECIMAL(18,2))"
    d = "CAST(l_discount AS DECIMAL(18,2))"
    t = "CAST(l_tax AS DECIMAL(18,2))"
    q = "CAST(l_quantity AS DECIMAL(18,2))"
    return f"""
        SELECT l_returnflag, l_linestatus,
               CAST(SUM({q}) AS DOUBLE) AS sum_qty,
               CAST(SUM({p}) AS DOUBLE) AS sum_base_price,
               CAST(SUM({p} * (CAST(1 AS DECIMAL(18,2)) - {d})) AS DOUBLE)
                 AS sum_disc_price,
               CAST(SUM({p} * (CAST(1 AS DECIMAL(18,2)) - {d})
                       * (CAST(1 AS DECIMAL(18,2)) + {t})) AS DOUBLE) AS sum_charge,
               CAST(ROUND(AVG({q}), 6) AS DOUBLE) AS avg_qty,
               CAST(ROUND(AVG({p}), 6) AS DOUBLE) AS avg_price,
               CAST(ROUND(AVG({d}), 6) AS DOUBLE) AS avg_disc,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE CAST(l_shipdate AS DATE) <= DATE '{ship_cutoff}'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """


def star_join_revenue(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
    region: DataFrame,
) -> DataFrame:
    """Revenue by (region, order year): the star-join shape. The three dims
    are explicitly broadcast (provably small by construction); only
    lineitem ⋈ orders is a genuine fact-fact join, which at scale shuffles on
    the order key (or is co-located by bucketing both on it)."""
    revenue = _price() * (_one() - _disc())
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("r_name").alias("region"), F.year("o_orderdate").alias("yr"))
        .agg(
            F.sum(revenue).cast("double").alias("revenue"),
            F.count("*").alias("n_items"),
        )
        .orderBy("region", "yr")
    )


STAR_JOIN_REVENUE_SQL = """
    SELECT r_name AS region,
           CAST(year(o_orderdate) AS INT) AS yr,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
               * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
             AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name, year(o_orderdate)
    ORDER BY region, yr
"""


def salted_aggregation(lineitem: DataFrame, salt_buckets: int = 16) -> DataFrame:
    """Two-stage skew-safe aggregation: stage 1 aggregates (key, salt) —
    spreading a hot key over ``salt_buckets`` reducers — stage 2 merges the
    partials per key. Result is identical to the direct group-by (the oracle
    IS the unsalted form); only the shuffle distribution changes.

    SUM/COUNT re-aggregate losslessly; AVG must be derived from merged
    SUM/COUNT, never averaged across partials."""
    salted = lineitem.withColumn(
        "__salt", F.pmod(F.col("l_orderkey") + F.col("l_linenumber"), salt_buckets)
    )
    partial = salted.groupBy("l_suppkey", "__salt").agg(
        F.sum(_qty()).alias("p_qty"),
        F.count("*").alias("p_cnt"),
    )
    return (
        partial.groupBy("l_suppkey")
        .agg(
            F.sum("p_qty").alias("__total_qty_dec"),
            F.sum("p_cnt").alias("n_items"),
        )
        # avg derived from the exact DECIMAL sum (before the output cast) so
        # its arithmetic matches the oracle's SUM(decimal)/COUNT exactly
        .select(
            "l_suppkey",
            F.col("__total_qty_dec").cast("double").alias("total_qty"),
            "n_items",
            F.round(F.col("__total_qty_dec") / F.col("n_items"), 6)
            .cast("double")
            .alias("avg_qty"),
        )
        .orderBy("l_suppkey")
    )


SALTED_AGGREGATION_SQL = """
    SELECT l_suppkey,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty,
           COUNT(*) AS n_items,
           CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))) / COUNT(*), 6)
                AS DOUBLE) AS avg_qty
    FROM lineitem
    GROUP BY l_suppkey
    ORDER BY l_suppkey
"""


def topk_suppliers_per_nation(
    lineitem: DataFrame, supplier: DataFrame, nation: DataFrame, k: int = 3
) -> DataFrame:
    """Top-k suppliers by lineitem revenue within each nation — the rank-
    within-group pattern. Scale shape: the fact table is reduced FIRST
    (groupBy suppkey, one shuffle over the fact), so the rank window runs over
    |suppliers| rows, not |lineitem| rows; supplier/nation join by broadcast.
    Ties broken by suppkey so the result is total-order deterministic."""
    revenue = (
        lineitem.groupBy("l_suppkey")
        .agg(F.sum(_price() * (_one() - _disc())).alias("revenue"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
    )
    w = Window.partitionBy("n_name").orderBy(
        F.col("revenue").desc(), F.col("l_suppkey").asc()
    )
    return (
        revenue.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select(
            F.col("n_name").alias("nation"),
            "rk",
            F.col("l_suppkey").alias("suppkey"),
            # rank above is computed on the exact DECIMAL; only the output is double
            F.col("revenue").cast("double").alias("revenue"),
        )
        .orderBy("nation", "rk")
    )


def topk_suppliers_per_nation_sql(k: int = 3) -> str:
    return f"""
        WITH rev AS (
            SELECT l_suppkey,
                   SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                       * (CAST(1 AS DECIMAL(18,2))
                          - CAST(l_discount AS DECIMAL(18,2)))) AS revenue
            FROM lineitem
            GROUP BY l_suppkey
        )
        SELECT nation, rk, suppkey, CAST(revenue AS DOUBLE) AS revenue FROM (
            SELECT n_name AS nation,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY n_name
                       ORDER BY revenue DESC, l_suppkey ASC) AS INT) AS rk,
                   l_suppkey AS suppkey,
                   revenue
            FROM rev
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
        )
        WHERE rk <= {k}
        ORDER BY nation, rk
    """


def rollup_revenue(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
    region: DataFrame,
) -> DataFrame:
    """Revenue at three grouping granularities in ONE pass — (region, year),
    per-region subtotal, grand total — via ROLLUP. Spark plans a single
    Expand + hash aggregate, so the fact table is scanned once for all three
    levels instead of three separate jobs; `grouping_id` (bit per rolled-up
    column, first column = MSB — same convention as DuckDB's GROUPING)
    disambiguates subtotal rows from real NULL groups."""
    revenue = _price() * (_one() - _disc())
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .rollup(
            F.col("r_name").alias("region"), F.year("o_orderdate").alias("yr")
        )
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            F.sum(revenue).cast("double").alias("revenue"),
            F.count("*").alias("n_items"),
        )
        .select(
            F.coalesce("region", F.lit("ALL")).alias("region"),
            F.coalesce("yr", F.lit(0)).cast("int").alias("yr"),
            "gid",
            "revenue",
            "n_items",
        )
        .orderBy("gid", "region", "yr")
    )


PIVOT_YEARS = (1992, 1993, 1994, 1995, 1996, 1997, 1998)


def pivot_revenue_by_year(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
    years: tuple[int, ...] = PIVOT_YEARS,
) -> DataFrame:
    """Revenue per nation with one column per order year — groupBy().pivot()
    with an EXPLICIT value list. Pinning the pivot values matters twice at
    scale: the schema is deterministic (no schema drift when a year is absent
    from one partition of a 100 TB table), and Spark skips the extra
    distinct-values job it otherwise runs over the whole input to discover
    the columns. Physically this is the same single-pass conditional
    aggregation the oracle spells out."""
    revenue = _price() * (_one() - _disc())
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("yr"),
            revenue.alias("rev"),
        )
        .groupBy("nation")
        .pivot("yr", list(years))
        .agg(F.sum("rev"))
        # empty (nation, year) cells surface as NULL after the pivot, so the
        # zero-fill must happen here; the exact decimal sum is cast to DOUBLE
        # for the output (see module docstring on cross-engine hashing)
        .select(
            "nation",
            *[
                F.coalesce(F.col(str(y)).cast("double"), F.lit(0.0)).alias(
                    f"rev_{y}"
                )
                for y in years
            ],
        )
        .orderBy("nation")
    )


def pivot_revenue_by_year_sql(years: tuple[int, ...] = PIVOT_YEARS) -> str:
    rev = (
        "CAST(l_extendedprice AS DECIMAL(18,2))"
        " * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))"
    )
    cols = ",\n           ".join(
        f"COALESCE(CAST(SUM(CASE WHEN year(o_orderdate) = {y} THEN {rev} END)"
        f" AS DOUBLE), 0.0) AS rev_{y}"
        for y in years
    )
    return f"""
        SELECT n_name AS nation,
           {cols}
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        GROUP BY n_name
        ORDER BY nation
    """


HEAVY_QTY = 45  # "heavy line" threshold for the semi/anti demo (TPC-H Q4 shape)


def semi_anti_order_priority(
    lineitem: DataFrame, orders: DataFrame, heavy_qty: int = HEAVY_QTY
) -> DataFrame:
    """Per order priority: orders WITH at least one heavy line (LEFT SEMI)
    and orders with NONE (LEFT ANTI) — the TPC-H Q4 existence shape, using
    Spark's dedicated semi/anti join operators rather than a join+distinct.

    Scale shape: semi/anti joins shuffle only the join KEY from the probe
    side and short-circuit per key (no fan-out on multi-line orders, no
    post-join distinct over a data-sized result). The heavy-line filter is
    pushed to the lineitem scan; both aggregates produce |priorities| rows,
    outer-merged so a priority fully on one side still appears.
    """
    heavy = lineitem.where(F.col("l_quantity") >= heavy_qty).select("l_orderkey")
    cond = orders["o_orderkey"] == heavy["l_orderkey"]
    with_heavy = (
        orders.join(heavy, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_with_heavy_line"))
    )
    without_heavy = (
        orders.join(heavy, cond, "left_anti")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_without_heavy_line"))
    )
    return (
        with_heavy.join(without_heavy, "o_orderpriority", "full_outer")
        .select(
            "o_orderpriority",
            F.coalesce("n_with_heavy_line", F.lit(0)).alias("n_with_heavy_line"),
            F.coalesce("n_without_heavy_line", F.lit(0)).alias(
                "n_without_heavy_line"
            ),
        )
        .orderBy("o_orderpriority")
    )


def semi_anti_order_priority_sql(heavy_qty: int = HEAVY_QTY) -> str:
    return f"""
        WITH s AS (
            SELECT o_orderpriority, COUNT(*) AS n_with_heavy_line
            FROM orders o
            WHERE EXISTS (SELECT 1 FROM lineitem l
                          WHERE l.l_orderkey = o.o_orderkey
                            AND l.l_quantity >= {heavy_qty})
            GROUP BY o_orderpriority
        ),
        a AS (
            SELECT o_orderpriority, COUNT(*) AS n_without_heavy_line
            FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                              WHERE l.l_orderkey = o.o_orderkey
                                AND l.l_quantity >= {heavy_qty})
            GROUP BY o_orderpriority
        )
        SELECT COALESCE(s.o_orderpriority, a.o_orderpriority) AS o_orderpriority,
               COALESCE(n_with_heavy_line, 0) AS n_with_heavy_line,
               COALESCE(n_without_heavy_line, 0) AS n_without_heavy_line
        FROM s FULL OUTER JOIN a ON s.o_orderpriority = a.o_orderpriority
        ORDER BY o_orderpriority
    """


ROLLUP_REVENUE_SQL = """
    SELECT COALESCE(r_name, 'ALL') AS region,
           CAST(COALESCE(year(o_orderdate), 0) AS INT) AS yr,
           CAST(GROUPING(r_name, year(o_orderdate)) AS INT) AS gid,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
               * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
             AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, year(o_orderdate))
    ORDER BY gid, region, yr
"""


def grouping_sets_revenue(orders: DataFrame) -> DataFrame:
    """Order revenue at three NON-hierarchical granularities in one pass —
    (priority, year), per-priority, per-year — via explicit GROUPING SETS
    (rollup can't express this set family: per-year totals aren't a prefix of
    (priority, year)). Spark plans a single Expand + hash aggregate: the fact
    is scanned once for all three levels, the same single-shuffle shape as
    ``rollup_revenue``. ``grouping_id`` disambiguates subtotal rows from real
    NULL groups (bit per column, first column = MSB — DuckDB GROUPING
    convention)."""
    base = orders.select(
        F.col("o_orderpriority").alias("priority"),
        F.year("o_orderdate").alias("yr"),
        "o_totalprice",
    )
    pr, yr = F.col("priority"), F.col("yr")
    return (
        base.groupingSets([[pr, yr], [pr], [yr]], pr, yr)
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
            F.count("*").alias("n_orders"),
        )
        .select(
            F.coalesce("priority", F.lit("ALL")).alias("priority"),
            F.coalesce("yr", F.lit(0)).cast("int").alias("yr"),
            "gid",
            "revenue",
            "n_orders",
        )
        .orderBy("gid", "priority", "yr")
    )


GROUPING_SETS_REVENUE_SQL = """
    SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
           CAST(COALESCE(year(o_orderdate), 0) AS INT) AS yr,
           CAST(GROUPING(o_orderpriority, year(o_orderdate)) AS INT) AS gid,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority, year(o_orderdate)),
                            (o_orderpriority), (year(o_orderdate)))
    ORDER BY gid, priority, yr
"""


SALT_BUCKETS = 8


def salted_skew_join_revenue(
    lineitem: DataFrame, orders: DataFrame, salt_buckets: int = SALT_BUCKETS
) -> DataFrame:
    """Fact-fact join with JOIN-SIDE skew salting: the fact's join key gets a
    deterministic salt (md5 of the row's unique id, not a RNG — reruns give
    identical partitioning), the other side is replicated across all salt
    values, and the join runs on (key, salt) so one hot order key spreads
    over `salt_buckets` reducers instead of one straggler.

    Companion to ``salted_aggregation`` (agg-side skew, SCALE.md §4): AQE's
    skew-join splitter handles moderate skew automatically, but a
    pathological hot key inside ONE shuffle block still needs explicit
    salting. Correctness is salt-invariant by construction — the oracle is
    the UNSALTED join."""
    fact = lineitem.withColumn(
        "__salt",
        F.pmod(
            F.conv(F.substring(F.md5(F.col("l_orderkey").cast("string")), 1, 8), 16, 10)
            .cast("long"),
            F.lit(salt_buckets),
        ).cast("int"),
    )
    dim = orders.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    )
    revenue = _price() * (_one() - _disc())
    cond = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        fact["__salt"] == dim["__salt"]
    )
    # Pin a SHUFFLE join: salting only exists to spread a hot key across
    # shuffle reducers — under a broadcast join there is no shuffle to skew,
    # and building the salt_buckets-times-replicated dim as a broadcast table
    # is exactly the OOM the technique avoids (measured: 10x-scale probe blew
    # the driver broadcasting the x8 orders replica before this hint).
    return (
        fact.join(dim.hint("shuffle_hash"), cond, "inner")
        .groupBy("o_orderpriority")
        .agg(
            F.sum(revenue).cast("double").alias("revenue"),
            F.count("*").alias("n_items"),
        )
        .orderBy("o_orderpriority")
    )


SALTED_SKEW_JOIN_REVENUE_SQL = """
    SELECT o_orderpriority,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
               * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
             AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
"""


MELT_METRICS = ("sum_qty", "sum_base_price", "sum_disc_price", "sum_charge")


def pricing_summary_melted(lineitem: DataFrame) -> DataFrame:
    """Wide-to-long reshape (UNPIVOT/melt) of the pricing summary: one row
    per (group, metric). The inverse of PIVOT completes the reshape pair;
    Spark's `unpivot` is a zero-shuffle Expand over the already-aggregated
    rows — the reshape costs nothing beyond the underlying aggregate."""
    wide = pricing_summary(lineitem)
    return (
        wide.unpivot(
            ids=["l_returnflag", "l_linestatus"],
            values=list(MELT_METRICS),
            variableColumnName="metric",
            valueColumnName="amount",
        )
        .orderBy("l_returnflag", "l_linestatus", "metric")
    )


def pricing_summary_melted_sql(ship_cutoff: str = "1998-09-02") -> str:
    arms = " UNION ALL ".join(
        f"SELECT l_returnflag, l_linestatus, '{m}' AS metric, {m} AS amount FROM wide"
        for m in MELT_METRICS
    )
    return f"""
        WITH wide AS ({pricing_summary_sql(ship_cutoff)})
        {arms}
        ORDER BY l_returnflag, l_linestatus, metric
    """


FUZZY_MAX_DIST = 2


def fuzzy_part_match(part: DataFrame, max_dist: int = FUZZY_MAX_DIST) -> DataFrame:
    """Record-linkage fuzzy self-join: part pairs in the SAME (brand, size)
    block whose names are within `max_dist` edits (levenshtein, JVM
    built-in). A cheap |length delta| <= d pre-filter (sound: length
    difference lower-bounds edit distance) runs before the O(len^2) verify.

    COMPOSITE attribute blocking is the declared contract, not a lossy
    optimization: the equi key bounds the quadratic verify to per-block
    sizes (the LSH-bucket shape, SCALE.md §4), and the two-column key keeps
    blocks small as the catalog grows — brand alone gives O((n/brands)^2)
    per block, brand+size divides that by |sizes| again. At corpus scale a
    skewed block gets the max_bucket/salting treatment; the unblocked fuzzy
    path is name-ngram LSH (the llm dedup family)."""
    a = part.select(
        F.col("p_brand").alias("brand"),
        F.col("p_size").alias("size"),
        F.col("p_partkey").alias("part_a"),
        F.col("p_name").alias("name_a"),
    )
    b = part.select(
        F.col("p_brand").alias("brand"),
        F.col("p_size").alias("size"),
        F.col("p_partkey").alias("part_b"),
        F.col("p_name").alias("name_b"),
    )
    return (
        a.join(b, ["brand", "size"])
        .where(F.col("part_a") < F.col("part_b"))
        .where(F.abs(F.length("name_a") - F.length("name_b")) <= max_dist)
        .withColumn("dist", F.levenshtein("name_a", "name_b").cast("int"))
        .where(F.col("dist") <= max_dist)
        .select("brand", "size", "part_a", "part_b", "name_a", "name_b", "dist")
        .orderBy("brand", "size", "part_a", "part_b")
    )


def fuzzy_part_match_sql(max_dist: int = FUZZY_MAX_DIST) -> str:
    return f"""
        SELECT a.p_brand AS brand, a.p_size AS size,
               a.p_partkey AS part_a, b.p_partkey AS part_b,
               a.p_name AS name_a, b.p_name AS name_b,
               CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
        FROM part a JOIN part b
          ON a.p_brand = b.p_brand AND a.p_size = b.p_size
         AND a.p_partkey < b.p_partkey
        WHERE levenshtein(a.p_name, b.p_name) <= {max_dist}
        ORDER BY brand, size, part_a, part_b
    """


def same_nation_revenue(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
) -> DataFrame:
    """Unfiltered TPC-H Q5 shape — revenue by nation where the customer and
    the line's SUPPLIER share a nation. (The region/year-filtered Q5 is
    ``tpch_shapes.local_supplier_volume``.) The distinctive piece
    beyond star_join_revenue is the c_nationkey = s_nationkey equality
    BETWEEN two different broadcast dimensions: Catalyst evaluates it as a
    residual on the last broadcast join, so the fact side still flows through
    one orders-key shuffle and a chain of broadcast hash joins — the classic
    6-way join costs the same single fact shuffle as the 5-way star."""
    revenue = _price() * (_one() - _disc())
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(supplier),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.sum(revenue).cast("double").alias("revenue"),
            F.count("*").alias("n_items"),
        )
        .orderBy("region", "nation")
    )


SAME_NATION_REVENUE_SQL = """
    SELECT r_name AS region,
           n_name AS nation,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
               * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
             AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    ORDER BY region, nation
"""


# --- set operations (INTERSECT / EXCEPT) --------------------------------------


def customer_activity_set_ops(
    orders: DataFrame, y1: int = 1996, y2: int = 1997, y3: int = 1998
) -> DataFrame:
    """Retained-but-then-churned customers via relational set algebra:
    (active in ``y1`` INTERSECT active in ``y2``) EXCEPT active in ``y3``.

    Spark plans INTERSECT as a distinct-aggregated LEFT SEMI join and EXCEPT
    as LEFT ANTI — set semantics without manual dedup bookkeeping. All three
    inputs are per-year DISTINCT custkey projections of one orders scan
    (exchange-reused), so the set ops run on |customers|-sized relations,
    never raw orders."""
    def active(year: int):
        return (
            orders.where(F.year("o_orderdate") == year)
            .select("o_custkey")
            .distinct()
        )

    return (
        active(y1)
        .intersect(active(y2))
        .exceptAll(active(y3))
        .orderBy("o_custkey")
    )


def customer_activity_set_ops_sql(
    y1: int = 1996, y2: int = 1997, y3: int = 1998
) -> str:
    return f"""
        (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = {y1}
         INTERSECT
         SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = {y2})
        EXCEPT
        SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = {y3}
        ORDER BY o_custkey
    """


# --- phonetic blocking linkage ------------------------------------------------

PHONETIC_MAX_DIST = 2


def _phonetic_code(col):
    """Soundex-lite: first letter + consonant-class digits of the rest
    (vowels/h/w/y dropped). No adjacent-duplicate collapse — RE2 (the oracle
    dialect) has no backreferences, and for blocking purposes the coarser
    code only makes blocks slightly larger, never splits true matches.
    Pure translate/regexp — identical semantics in Spark and DuckDB."""
    lower = F.lower(col)
    head = F.substring(lower, 1, 1)
    # effectively-unbounded tail (matches the oracle's lower(expr)[2:]) — a
    # fixed 100-char cap would silently diverge from the SQL form on
    # >101-char inputs
    tail = F.regexp_replace(F.substring(lower, 2, 1 << 30), "[aeiouyhw]", "")
    digits = F.translate(tail, "bfpvcgjkqsxzdtlmnr", "111122222222334556")
    return F.concat(head, F.substring(digits, 1, 3))


def _phonetic_code_sql(expr: str) -> str:
    return (
        f"lower({expr})[1:1] || "
        f"translate(regexp_replace(lower({expr})[2:], '[aeiouyhw]', '', 'g'),"
        f" 'bfpvcgjkqsxzdtlmnr', '111122222222334556')[1:3]"
    )


def phonetic_part_match(
    part: DataFrame, max_dist: int = PHONETIC_MAX_DIST
) -> DataFrame:
    """Record linkage round 2: block part names by the PHONETIC code of their
    final word (sound-alike blocking — catches transcription typos attribute
    blocking misses), then verify candidates with edit distance.

    Linkage runs on the DISTINCT-NAME relation, never row grain: names
    dedupe first (entity resolution compares entities, and a row-grain block
    self-join would be quadratic in rows-per-name — measured 22 s vs 0.5 s
    at sf0.1, where 20k parts share 64 names). The quadratic step is per
    phonetic block of distinct names, candidates-only levenshtein, one
    block-keyed shuffle; name pairs are emitted once in canonical order."""
    noun = F.element_at(F.split(F.col("p_name"), " "), -1)
    named = part.select("p_name").distinct().select(
        "p_name", _phonetic_code(noun).alias("block")
    )
    a = named.select(F.col("p_name").alias("name_a"), "block")
    b = named.select(F.col("p_name").alias("name_b"), "block")
    return (
        a.join(b, "block")
        .where(
            (F.col("name_a") < F.col("name_b"))
            & (F.levenshtein("name_a", "name_b") <= max_dist)
        )
        .select("name_a", "name_b", "block")
        .orderBy("name_a", "name_b")
    )


def phonetic_part_match_sql(max_dist: int = PHONETIC_MAX_DIST) -> str:
    noun = "string_split(p_name, ' ')[-1]"
    return f"""
        WITH named AS (
            SELECT p_name, {_phonetic_code_sql(noun)} AS block
            FROM (SELECT DISTINCT p_name FROM part)
        )
        SELECT a.p_name AS name_a, b.p_name AS name_b, a.block
        FROM named a JOIN named b USING (block)
        WHERE a.p_name < b.p_name
          AND levenshtein(a.p_name, b.p_name) <= {max_dist}
        ORDER BY name_a, name_b
    """


def part_golden_records(part: DataFrame, max_dist: int = PHONETIC_MAX_DIST) -> DataFrame:
    """Master-data golden records for part names: phonetic blocking →
    candidates-only edit-distance edges → connected components → one
    representative per entity cluster, with variant and row counts. The
    classic MDM pipeline as a COMPOSITION of engine operators — the same
    min-label CC that resolves near-dup documents (llm/dedup.py
    dedup_clusters) runs unchanged on md5-keyed name nodes.

    Scale: everything after the first aggregate runs on the DISTINCT-name
    relation (entity grain, not row grain); blocking bounds the quadratic
    step per phonetic block; CC converges on a scalar probe."""
    from ..llm.dedup import dedup_clusters
    from ..llm.hashing import md5_int

    names = part.groupBy("p_name").agg(F.count("*").alias("n_parts"))
    keyed = names.select("p_name", "n_parts", md5_int(F.col("p_name")).alias("nid"))
    noun = F.element_at(F.split(F.col("p_name"), " "), -1)
    blocked = keyed.select("nid", "p_name", _phonetic_code(noun).alias("block"))
    a = blocked.select(
        F.col("nid").alias("nid_a"), F.col("p_name").alias("name_a"), "block"
    )
    b = blocked.select(
        F.col("nid").alias("nid_b"), F.col("p_name").alias("name_b"), "block"
    )
    pairs = (
        a.join(b, "block")
        .where(
            (F.col("nid_a") < F.col("nid_b"))
            & (F.levenshtein("name_a", "name_b") <= max_dist)
        )
        .select(F.col("nid_a").alias("doc_a"), F.col("nid_b").alias("doc_b"))
        .distinct()
    )
    labels = dedup_clusters(keyed.select(F.col("nid").alias("doc_id")), pairs)
    members = keyed.join(labels, keyed["nid"] == labels["doc_id"]).select(
        "cluster_id", "p_name", "n_parts", "nid"
    )
    return (
        members.groupBy("cluster_id")
        .agg(
            F.min(F.when(F.col("nid") == F.col("cluster_id"), F.col("p_name"))).alias(
                "golden_name"
            ),
            F.count("*").alias("n_variants"),
            F.sum("n_parts").alias("n_rows"),
            # pipe-joined (p_name never contains '|'): the driver's value-
            # hasher rejects ARRAY cells, and the joined string is lossless
            F.array_join(F.array_sort(F.collect_list("p_name")), "|").alias(
                "variants"
            ),
        )
        .select("golden_name", "n_variants", "n_rows", "variants")
        .orderBy("golden_name")
    )


def part_golden_records_sql(max_dist: int = PHONETIC_MAX_DIST) -> str:
    from ..llm.hashing import md5_int_sql

    noun = "string_split(p_name, ' ')[-1]"
    return f"""
        WITH RECURSIVE names AS (
            SELECT p_name, COUNT(*) AS n_parts FROM part GROUP BY p_name
        ), keyed AS (
            SELECT p_name, n_parts, {md5_int_sql('p_name')} AS nid FROM names
        ), blocked AS (
            SELECT nid, p_name, {_phonetic_code_sql(noun)} AS block FROM keyed
        ), pairs AS (
            SELECT DISTINCT a.nid AS doc_a, b.nid AS doc_b
            FROM blocked a JOIN blocked b USING (block)
            WHERE a.nid < b.nid AND levenshtein(a.p_name, b.p_name) <= {max_dist}
        ), edges AS (
            SELECT doc_a AS u, doc_b AS v FROM pairs
            UNION ALL
            SELECT doc_b AS u, doc_a AS v FROM pairs
        ), reach(src, dst) AS (
            SELECT nid, nid FROM keyed
            UNION
            SELECT r.src, e.v FROM reach r JOIN edges e ON e.u = r.dst
        ), labels AS (
            SELECT src AS nid, MIN(dst) AS cluster_id FROM reach GROUP BY src
        ), members AS (
            SELECT cluster_id, k.p_name, k.n_parts, k.nid
            FROM keyed k JOIN labels l ON k.nid = l.nid
        )
        SELECT MIN(CASE WHEN nid = cluster_id THEN p_name END) AS golden_name,
               COUNT(*) AS n_variants,
               CAST(SUM(n_parts) AS BIGINT) AS n_rows,
               array_to_string(list(p_name ORDER BY p_name), '|') AS variants
        FROM members
        GROUP BY cluster_id
        ORDER BY golden_name
    """


# --- BI time-series shapes ----------------------------------------------------


def weekly_revenue_growth(orders: DataFrame) -> DataFrame:
    """Week-over-week revenue growth + 4-week trailing average — the
    standard BI trend panel. All windows run on the WEEK-grain aggregate
    (≤ a few hundred rows after one exact-decimal pass over orders), ordered
    by week so lag/frames are deterministic; growth ratios divide exact
    decimal sums cast to double."""
    weekly = (
        orders.groupBy(F.date_trunc("week", "o_orderdate").cast("date").alias("week"))
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"))
    )
    w = Window.orderBy("week")
    frame4 = w.rowsBetween(-3, 0)
    prev = F.lag("rev").over(w)
    return (
        weekly.select(
            "week",
            F.col("rev").cast("double").alias("revenue"),
            F.when(
                prev.isNotNull(),
                F.round(
                    (F.col("rev").cast("double") - prev.cast("double"))
                    / prev.cast("double"),
                    6,
                ),
            ).alias("wow_growth"),
            F.round(
                F.sum(F.col("rev")).over(frame4).cast("double")
                / F.count("*").over(frame4),
                6,
            ).alias("trailing_4wk_avg"),
        )
        .orderBy("week")
    )


WEEKLY_REVENUE_GROWTH_SQL = """
    WITH weekly AS (
        SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS week,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        FROM orders GROUP BY 1
    )
    SELECT week,
           CAST(rev AS DOUBLE) AS revenue,
           CASE WHEN lag(rev) OVER w IS NOT NULL
                THEN round((CAST(rev AS DOUBLE) - CAST(lag(rev) OVER w AS DOUBLE))
                           / CAST(lag(rev) OVER w AS DOUBLE), 6)
           END AS wow_growth,
           round(CAST(SUM(rev) OVER f4 AS DOUBLE) / COUNT(*) OVER f4, 6)
               AS trailing_4wk_avg
    FROM weekly
    WINDOW w AS (ORDER BY week),
           f4 AS (ORDER BY week ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
    ORDER BY week
"""


def abc_classification(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """ABC (Pareto) inventory classes: parts ranked by revenue; the top
    cumulative 80% of revenue is class A, the next 15% B, the tail C — the
    80/20 analysis every supply chain runs.

    The cumulative window runs over the PART-grain revenue aggregate
    (|parts| rows, not lineitem); exact decimal revenue makes rank order
    and every cumulative sum engine-identical, and the class boundaries
    compare exact decimal cumulative shares scaled by the (exact decimal)
    total — no float thresholds."""
    rev = (
        lineitem.groupBy("l_partkey")
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (
                    F.lit(1).cast("decimal(18,2)")
                    - F.col("l_discount").cast("decimal(18,2)")
                )
            ).alias("rev")
        )
    )
    w = Window.orderBy(F.desc("rev"), "l_partkey")
    total = rev.agg(F.sum("rev").alias("total"))
    classed = (
        rev.crossJoin(F.broadcast(total))
        .select(
            "l_partkey",
            "rev",
            F.sum("rev").over(w).alias("cum_rev"),
            "total",
        )
        # class compares exact decimals: cum <= 80% of total  <=>  5*cum <= 4*total
        .select(
            "l_partkey",
            F.col("rev").cast("double").alias("revenue"),
            F.when(F.col("cum_rev") * 5 <= F.col("total") * 4, "A")
            .when(F.col("cum_rev") * 20 <= F.col("total") * 19, "B")
            .otherwise("C")
            .alias("abc_class"),
        )
    )
    return (
        classed.groupBy("abc_class")
        .agg(
            F.count("*").alias("n_parts"),
            F.round(F.sum("revenue"), 2).alias("class_revenue"),
        )
        .orderBy("abc_class")
    )


ABC_CLASSIFICATION_SQL = """
    WITH rev AS (
        SELECT l_partkey,
               SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                   * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
                   AS rev
        FROM lineitem GROUP BY l_partkey
    ), total AS (
        SELECT SUM(rev) AS total FROM rev
    ), classed AS (
        SELECT l_partkey, CAST(rev AS DOUBLE) AS revenue,
               CASE WHEN SUM(rev) OVER w * 5 <= total * 4 THEN 'A'
                    WHEN SUM(rev) OVER w * 20 <= total * 19 THEN 'B'
                    ELSE 'C' END AS abc_class
        FROM rev CROSS JOIN total
        WINDOW w AS (ORDER BY rev DESC, l_partkey)
    )
    SELECT abc_class, COUNT(*) AS n_parts,
           round(SUM(revenue), 2) AS class_revenue
    FROM classed
    GROUP BY abc_class
    ORDER BY abc_class
"""


def cohort_ltv(orders: DataFrame) -> DataFrame:
    """Cohort lifetime-value curve: customers grouped by first-order month,
    cumulative revenue per cohort at each month-age — the money twin of the
    cohort retention triangle (events_cohort_retention).

    First-order month is one custkey aggregate; the (cohort, age) cells
    aggregate exact decimal revenue; the cumulative curve is a window over
    the bounded cohort×age grid, never order rows."""
    first = orders.groupBy("o_custkey").agg(
        F.date_trunc("month", F.min("o_orderdate")).cast("date").alias("cohort")
    )
    cells = (
        orders.join(first, "o_custkey")
        .groupBy(
            "cohort",
            (
                F.months_between(
                    F.date_trunc("month", "o_orderdate").cast("date"), F.col("cohort")
                )
            ).cast("int").alias("age_months"),
        )
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"))
    )
    w = Window.partitionBy("cohort").orderBy("age_months")
    return (
        cells.select(
            "cohort",
            "age_months",
            F.col("rev").cast("double").alias("month_revenue"),
            F.sum("rev").over(w).cast("double").alias("cumulative_ltv"),
        )
        .orderBy("cohort", "age_months")
    )


COHORT_LTV_SQL = """
    WITH first AS (
        SELECT o_custkey,
               CAST(date_trunc('month', MIN(o_orderdate)) AS DATE) AS cohort
        FROM orders GROUP BY o_custkey
    ), cells AS (
        SELECT cohort,
               CAST(datediff('month', cohort,
                    CAST(date_trunc('month', o_orderdate) AS DATE)) AS INT)
                   AS age_months,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        FROM orders o JOIN first f ON o.o_custkey = f.o_custkey
        GROUP BY 1, 2
    )
    SELECT cohort, age_months,
           CAST(rev AS DOUBLE) AS month_revenue,
           CAST(SUM(rev) OVER (PARTITION BY cohort ORDER BY age_months)
                AS DOUBLE) AS cumulative_ltv
    FROM cells
    ORDER BY cohort, age_months
"""


def segment_share_shift(orders: DataFrame, customer: DataFrame) -> DataFrame:
    """Mix analysis: each market segment's share of yearly revenue and its
    year-over-year share shift (in percentage points) — "did we grow, or did
    our mix move?". Both windows run over the ≤ segments × years grid;
    revenue aggregates in exact decimal, shares and shifts divide exact
    sums and round at 6 dp."""
    cells = (
        orders.join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.year("o_orderdate").alias("yr"),
        )
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"))
    )
    wy = Window.partitionBy("yr")
    ws = Window.partitionBy("segment").orderBy("yr")
    share = (F.col("rev").cast("double") / F.sum("rev").over(wy).cast("double"))
    with_share = cells.select("segment", "yr", share.alias("share"))
    return (
        with_share.select(
            "segment",
            "yr",
            F.round("share", 6).alias("revenue_share"),
            F.round(F.col("share") - F.lag("share").over(ws), 6).alias(
                "share_shift"
            ),
        )
        .orderBy("segment", "yr")
    )


SEGMENT_SHARE_SHIFT_SQL = """
    WITH cells AS (
        SELECT c_mktsegment AS segment, year(o_orderdate) AS yr,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1, 2
    ), with_share AS (
        SELECT segment, yr,
               CAST(rev AS DOUBLE)
                   / CAST(SUM(rev) OVER (PARTITION BY yr) AS DOUBLE) AS share
        FROM cells
    )
    SELECT segment, yr,
           round(share, 6) AS revenue_share,
           round(share - lag(share) OVER (PARTITION BY segment ORDER BY yr), 6)
               AS share_shift
    FROM with_share
    ORDER BY segment, yr
"""


def new_vs_returning(orders: DataFrame) -> DataFrame:
    """Monthly revenue decomposed into NEW customers (first-ever order that
    month) vs RETURNING — the growth-quality readout behind every revenue
    chart. First-order month is one custkey aggregate joined back broadcast;
    the decomposition is a conditional exact-decimal aggregate on the
    bounded month grid."""
    first = orders.groupBy("o_custkey").agg(
        F.date_trunc("month", F.min("o_orderdate")).cast("date").alias("first_month")
    )
    month = F.date_trunc("month", "o_orderdate").cast("date")
    price = F.col("o_totalprice").cast("decimal(18,2)")
    zero = F.lit(0).cast("decimal(18,2)")
    return (
        orders.join(first, "o_custkey")
        .groupBy(month.alias("month"))
        .agg(
            F.sum(F.when(month == F.col("first_month"), price).otherwise(zero))
            .cast("double")
            .alias("new_revenue"),
            F.sum(F.when(month != F.col("first_month"), price).otherwise(zero))
            .cast("double")
            .alias("returning_revenue"),
            F.count_distinct(
                F.when(month == F.col("first_month"), F.col("o_custkey"))
            ).alias("new_customers"),
        )
        .orderBy("month")
    )


NEW_VS_RETURNING_SQL = """
    WITH first AS (
        SELECT o_custkey,
               CAST(date_trunc('month', MIN(o_orderdate)) AS DATE) AS first_month
        FROM orders GROUP BY o_custkey
    )
    SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
           CAST(SUM(CASE WHEN CAST(date_trunc('month', o_orderdate) AS DATE)
                              = first_month
                         THEN CAST(o_totalprice AS DECIMAL(18,2))
                         ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
               AS new_revenue,
           CAST(SUM(CASE WHEN CAST(date_trunc('month', o_orderdate) AS DATE)
                              <> first_month
                         THEN CAST(o_totalprice AS DECIMAL(18,2))
                         ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
               AS returning_revenue,
           COUNT(DISTINCT CASE WHEN CAST(date_trunc('month', o_orderdate) AS DATE)
                                    = first_month
                               THEN o.o_custkey END) AS new_customers
    FROM orders o JOIN first f ON o.o_custkey = f.o_custkey
    GROUP BY 1
    ORDER BY month
"""


def discount_quantity_lift(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """Per-brand OLS slope of quantity on discount — "does discounting this
    brand move volume?" — the user_value_trend pattern on retail axes:
    closed-form covar/var from one brand-keyed aggregate (never an
    iterative fit), NULL slope under degenerate variance, 6-dp rounding."""
    joined = lineitem.join(
        F.broadcast(part.select("p_partkey", "p_brand")),
        F.col("l_partkey") == F.col("p_partkey"),
    )
    agg = joined.groupBy("p_brand").agg(
        F.count("*").alias("n"),
        F.covar_pop("l_discount", "l_quantity").alias("cov"),
        F.var_pop("l_discount").alias("var_d"),
        F.avg("l_quantity").alias("mean_qty"),
    )
    return agg.select(
        "p_brand",
        "n",
        F.round("mean_qty", 6).alias("mean_qty"),
        F.round(
            F.when(F.col("var_d") > 0, F.col("cov") / F.col("var_d")), 6
        ).alias("qty_per_discount_unit"),
    ).orderBy("p_brand")


DISCOUNT_QUANTITY_LIFT_SQL = """
    SELECT p_brand, COUNT(*) AS n,
           round(AVG(l_quantity), 6) AS mean_qty,
           round(CASE WHEN var_pop(l_discount) > 0
                      THEN covar_pop(l_discount, l_quantity)
                           / var_pop(l_discount) END, 6)
               AS qty_per_discount_unit
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
    ORDER BY p_brand
"""


SLA_DAYS = 30


def sla_compliance(
    orders: DataFrame, lineitem: DataFrame, sla_days: int = SLA_DAYS
) -> DataFrame:
    """First-ship SLA compliance per order priority: share of orders whose
    FIRST line shipped within ``sla_days`` — the ops-review cousin of the
    latency percentiles (a rate against a contract, not a distribution).

    One orderkey aggregate for first-ship, one broadcast-ready join back to
    orders, one ≤|priorities|-row conditional aggregate; the rate divides
    exact integers."""
    first_ship = lineitem.groupBy("l_orderkey").agg(
        F.min(F.to_date("l_shipdate")).alias("first_ship")
    )
    met = (
        F.datediff(F.col("first_ship"), F.to_date("o_orderdate")) <= sla_days
    ).cast("int")
    return (
        orders.join(first_ship, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(met).alias("n_within_sla"),
            F.round(
                F.sum(met).cast("double") / F.count("*").cast("double"), 6
            ).alias("sla_rate"),
        )
        .orderBy("o_orderpriority")
    )


def sla_compliance_sql(sla_days: int = SLA_DAYS) -> str:
    return f"""
        WITH first_ship AS (
            SELECT l_orderkey, MIN(CAST(l_shipdate AS DATE)) AS first_ship
            FROM lineitem GROUP BY l_orderkey
        )
        SELECT o_orderpriority, COUNT(*) AS n_orders,
               CAST(SUM(CAST(datediff('day', CAST(o_orderdate AS DATE), first_ship)
                        <= {sla_days} AS INT)) AS BIGINT) AS n_within_sla,
               round(CAST(SUM(CAST(datediff('day', CAST(o_orderdate AS DATE),
                                            first_ship) <= {sla_days} AS INT))
                          AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS sla_rate
        FROM orders JOIN first_ship ON o_orderkey = l_orderkey
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """


# --- 2-D skyline (Pareto frontier) ----------------------------------------------


def part_skyline(part: DataFrame) -> DataFrame:
    """2-D skyline of parts: minimize retail price, maximize size — a part is
    on the frontier iff NO other part is both cheaper-or-equal and
    bigger-or-equal (with at least one strict). The classic dominance
    operator relational engines lack natively; at two dimensions it
    collapses to a running max over the (price asc, size desc) order —
    executed as the price-bucketed TWO-PASS refinement (the 100 TB shape,
    not just a claim): a running max WITHIN each $100 price band
    (partitioned window) combined with the max size over all strictly
    cheaper bands (ranks.bucket_prefix — one bounded window over the
    ≤|bands| aggregate). Bit-identical to the single global window: every
    equal-price tie lives inside one band, and all cheaper bands precede
    the whole band in the global order.

    Exact arithmetic: price compares in integer cents; ties inside one cent
    bucket resolve by the window ORDER (size desc, partkey) so both engines
    walk an identical sequence."""
    from ..ranks import bucket_prefix

    cents = F.floor(F.col("p_retailprice") * 100).cast("long")
    base = part.select(
        "p_partkey", "p_name", cents.alias("price_cents"), "p_size"
    ).withColumn("__band", F.expr("price_cents DIV 10000"))
    w_band = (
        Window.partitionBy("__band")
        .orderBy(
            F.col("price_cents").asc(), F.col("p_size").desc(), F.col("p_partkey")
        )
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prefix = bucket_prefix(
        base, F.col("__band"), F.max("p_size"), "__cheaper_band_max", combine=F.max
    )
    ranked = (
        base.withColumn("__within_max", F.max("p_size").over(w_band))
        .join(prefix, F.col("__band") == F.col("__bucket"), "left")
        .withColumn(
            "max_size_cheaper",
            F.greatest("__within_max", "__cheaper_band_max"),
        )
    )
    return (
        ranked.where(
            F.col("max_size_cheaper").isNull()
            | (F.col("p_size") > F.col("max_size_cheaper"))
        )
        .select("p_partkey", "p_name", "price_cents", "p_size")
        .orderBy("price_cents", "p_partkey")
    )


PART_SKYLINE_SQL = """
    WITH ranked AS (
        SELECT p_partkey, p_name,
               CAST(FLOOR(p_retailprice * 100) AS BIGINT) AS price_cents,
               p_size,
               MAX(p_size) OVER (
                   ORDER BY CAST(FLOOR(p_retailprice * 100) AS BIGINT) ASC,
                            p_size DESC, p_partkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS max_size_cheaper
        FROM part
    )
    SELECT p_partkey, p_name, price_cents, p_size
    FROM ranked
    WHERE max_size_cheaper IS NULL OR p_size > max_size_cheaper
    ORDER BY price_cents, p_partkey
"""


# --- price-volume-mix decomposition ---------------------------------------------


def price_volume_mix(lineitem: DataFrame) -> DataFrame:
    """Month-over-month revenue bridge (the FP&A price/volume/mix
    decomposition): ΔR = Σ_parts (p₁−p₀)·q₁ (price effect) + (q₁−q₀)·p₀
    (volume effect) + revenue from parts traded in only one of the two
    months (mix-in / mix-out). The four effects reconcile exactly to the
    total month delta — the reconciliation IS the correctness check.

    Exact arithmetic throughout: revenue in integer cents, quantities in
    integer units; the per-part unit price p = R/Q enters only as the
    cross-multiplied form (R₁·Q₀ − R₀·Q₁ etc. over Q products), so every
    effect is a ratio of exact int128-safe products rounded once to cents.
    Plan: one (month, part) aggregate, a self-join shifted by one month on
    the (part, month) key, one month-level rollup. Output |months|−1 rows."""
    per = (
        lineitem.select(
            F.date_trunc("month", F.col("l_shipdate")).cast("date").alias("m"),
            F.col("l_partkey").alias("pk"),
            F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias("rc"),
            F.expr("CAST(round(l_quantity) AS BIGINT)").alias("q"),
        )
        .groupBy("m", "pk")
        .agg(F.sum("rc").alias("r"), F.sum("q").alias("q"))
    )
    cur = per.select(
        F.col("m"), "pk", F.col("r").alias("r1"), F.col("q").alias("q1")
    )
    prev = per.select(
        F.add_months(F.col("m"), 1).alias("m"),
        "pk",
        F.col("r").alias("r0"),
        F.col("q").alias("q0"),
    )
    j = cur.join(prev, ["m", "pk"], "full")
    both = F.col("r1").isNotNull() & F.col("r0").isNotNull()
    # (p1-p0)*q1 = r1 - r0*q1/q0 ; (q1-q0)*p0 = (q1-q0)*r0/q0  (cents)
    price_eff = F.when(
        both, F.expr("CAST(round(r1 - CAST(r0 AS DOUBLE) * q1 / q0) AS BIGINT)")
    ).otherwise(F.lit(0))
    vol_eff = F.when(
        both,
        F.expr("CAST(round(CAST(q1 - q0 AS DOUBLE) * r0 / q0) AS BIGINT)"),
    ).otherwise(F.lit(0))
    mix_in = F.when(F.col("r0").isNull(), F.col("r1")).otherwise(F.lit(0))
    mix_out = F.when(F.col("r1").isNull(), -F.col("r0")).otherwise(F.lit(0))
    out = (
        j.groupBy("m")
        .agg(
            F.sum(F.coalesce("r1", F.lit(0))).alias("rev_cents"),
            F.sum(F.coalesce("r0", F.lit(0))).alias("prev_cents"),
            F.sum(price_eff).alias("price_effect_cents"),
            F.sum(vol_eff).alias("volume_effect_cents"),
            F.sum(mix_in).alias("mix_in_cents"),
            F.sum(mix_out).alias("mix_out_cents"),
        )
        .where(F.col("prev_cents") > 0)
    )
    return out.select(
        F.col("m").alias("month"),
        "rev_cents",
        "prev_cents",
        (F.col("rev_cents") - F.col("prev_cents")).alias("delta_cents"),
        "price_effect_cents",
        "volume_effect_cents",
        "mix_in_cents",
        "mix_out_cents",
        (
            F.col("rev_cents")
            - F.col("prev_cents")
            - F.col("price_effect_cents")
            - F.col("volume_effect_cents")
            - F.col("mix_in_cents")
            - F.col("mix_out_cents")
        ).alias("residual_cents"),
    ).orderBy("month")


PRICE_VOLUME_MIX_SQL = """
    WITH per AS (
        SELECT CAST(DATE_TRUNC('month', l_shipdate) AS DATE) AS m,
               l_partkey AS pk,
               CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                   AS r,
               CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS q
        FROM lineitem
        GROUP BY 1, 2
    ),
    j AS (
        SELECT COALESCE(c.m, p.m) AS m,
               c.r AS r1, c.q AS q1, p.r AS r0, p.q AS q0
        FROM per c
        FULL JOIN (SELECT CAST(m + INTERVAL 1 MONTH AS DATE) AS m, pk, r, q
                   FROM per) p
          ON c.m = p.m AND c.pk = p.pk
    ),
    eff AS (
        SELECT CAST(m AS DATE) AS m,
               COALESCE(r1, 0) AS r1c, COALESCE(r0, 0) AS r0c,
               CASE WHEN r1 IS NOT NULL AND r0 IS NOT NULL
                    THEN CAST(round(r1 - CAST(r0 AS DOUBLE) * q1 / q0) AS BIGINT)
                    ELSE 0 END AS pe,
               CASE WHEN r1 IS NOT NULL AND r0 IS NOT NULL
                    THEN CAST(round(CAST(q1 - q0 AS DOUBLE) * r0 / q0) AS BIGINT)
                    ELSE 0 END AS ve,
               CASE WHEN r0 IS NULL THEN r1 ELSE 0 END AS mi,
               CASE WHEN r1 IS NULL THEN -r0 ELSE 0 END AS mo
        FROM j
    )
    SELECT m AS month,
           CAST(SUM(r1c) AS BIGINT) AS rev_cents,
           CAST(SUM(r0c) AS BIGINT) AS prev_cents,
           CAST(SUM(r1c) - SUM(r0c) AS BIGINT) AS delta_cents,
           CAST(SUM(pe) AS BIGINT) AS price_effect_cents,
           CAST(SUM(ve) AS BIGINT) AS volume_effect_cents,
           CAST(SUM(mi) AS BIGINT) AS mix_in_cents,
           CAST(SUM(mo) AS BIGINT) AS mix_out_cents,
           CAST(SUM(r1c) - SUM(r0c) - SUM(pe) - SUM(ve) - SUM(mi) - SUM(mo)
                AS BIGINT) AS residual_cents
    FROM eff
    GROUP BY m
    HAVING SUM(r0c) > 0
    ORDER BY month
"""


# --- largest-remainder budget apportionment -------------------------------------

APPORTION_BUDGET_CENTS = 1_000_000  # $10,000.00 to allocate


def budget_apportionment(
    orders: DataFrame, customer: DataFrame, nation: DataFrame,
    budget_cents: int = APPORTION_BUDGET_CENTS,
) -> DataFrame:
    """Allocate a fixed budget across nations proportionally to revenue with
    the largest-remainder (Hamilton) method — the exact-integer allocation
    every finance/quota system needs: floor every proportional share, then
    hand the leftover cents to the largest remainders (ties to the smaller
    nation key), so allocations are whole cents and sum EXACTLY to the
    budget; reconciliation is by construction, not by rounding luck.

    Revenue aggregates in exact cents; shares use integer cross-
    multiplication (budget·rev vs total), remainders are exact modulo
    ranks; the rank window runs on the ≤|nations|-row relation only."""
    rev = (
        orders.join(customer, orders["o_custkey"] == customer["c_custkey"])
        .join(nation, customer["c_nationkey"] == nation["n_nationkey"])
        .groupBy("n_nationkey", "n_name")
        .agg(
            F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")).alias(
                "rev_cents"
            )
        )
    )
    g = Window.partitionBy()
    w = Window.orderBy(F.desc("rem"), "n_nationkey")
    alloc = (
        rev.withColumn("tot", F.sum("rev_cents").over(g))
        .withColumn(
            "base",
            F.expr(f"CAST({budget_cents} AS BIGINT) * rev_cents DIV tot"),
        )
        .withColumn(
            "rem", F.expr(f"CAST({budget_cents} AS BIGINT) * rev_cents % tot")
        )
        .withColumn("leftover", F.lit(budget_cents) - F.sum("base").over(g))
        .withColumn("rk", F.row_number().over(w))
    )
    return alloc.select(
        "n_nationkey",
        "n_name",
        "rev_cents",
        (
            F.col("base")
            + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
        ).alias("alloc_cents"),
    ).orderBy("n_nationkey")


def budget_apportionment_sql(budget_cents: int = APPORTION_BUDGET_CENTS) -> str:
    return f"""
    WITH rev AS (
        SELECT n.n_nationkey, n.n_name,
               CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS rev_cents
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_nationkey, n.n_name
    ),
    alloc AS (
        SELECT *,
               SUM(rev_cents) OVER () AS tot,
               CAST({budget_cents} AS BIGINT) * rev_cents
                 // SUM(rev_cents) OVER () AS base,
               CAST({budget_cents} AS BIGINT) * rev_cents
                 % SUM(rev_cents) OVER () AS rem
        FROM rev
    ),
    ranked AS (
        SELECT *,
               {budget_cents} - SUM(base) OVER () AS leftover,
               ROW_NUMBER() OVER (ORDER BY rem DESC, n_nationkey) AS rk
        FROM alloc
    )
    SELECT n_nationkey, n_name, rev_cents,
           CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
               AS alloc_cents
    FROM ranked
    ORDER BY n_nationkey
    """


# --- inventory reorder-point policy ---------------------------------------------

REORDER_Z_MICRO = 1_644_854  # z_{0.95} service level
REORDER_LEAD_DAYS = 7
REORDER_TOP_K = 50


def reorder_points(
    lineitem: DataFrame,
    lead_days: int = REORDER_LEAD_DAYS,
    k: int = REORDER_TOP_K,
) -> DataFrame:
    """Reorder point per part for the top-``k`` movers: ROP = ceil(mu_d*L +
    z*sigma_d*sqrt(L)) with mu_d = mean daily demand over the observed day
    span, sigma_d = demand std over days WITH sales, 95% service level and
    ``lead_days`` of lead time — the inventory-policy calculation a
    replenishment system runs nightly over the whole catalog.

    Daily demand aggregates to exact integer units on the (part, day)
    grain; mu/sigma/ROP are deterministic doubles over those exact sums
    (the power-analysis convention) and the published point CEILs to whole
    units. Two aggregates + one distributed top-k; the observed-day-span
    scalar rides a 1-row broadcast."""
    daily = (
        lineitem.select(
            F.col("l_partkey").alias("pk"),
            F.to_date("l_shipdate").alias("day"),
            F.expr("CAST(round(l_quantity) AS BIGINT)").alias("q"),
        )
        .groupBy("pk", "day")
        .agg(F.sum("q").alias("dq"))
    )
    span = daily.agg(
        (F.datediff(F.max("day"), F.min("day")) + 1).cast("long").alias("n_days")
    )
    per = daily.groupBy("pk").agg(
        F.count("*").cast("long").alias("days_sold"),
        F.sum("dq").alias("s"),
        F.sum(F.col("dq") * F.col("dq")).alias("q2"),
    )
    z = REORDER_Z_MICRO / 1e6
    mu = F.col("s").cast("double") / F.col("n_days")
    vard = (
        F.col("q2").cast("double")
        - F.col("s").cast("double") * F.col("s") / F.col("days_sold")
    ) / (F.col("days_sold") - 1)
    sigma = F.sqrt(F.when(vard > 0, vard).otherwise(F.lit(0.0)))
    rop = mu * lead_days + z * sigma * (lead_days ** 0.5)
    return (
        per.crossJoin(F.broadcast(span))
        .where(F.col("days_sold") > 1)
        .select(
            F.col("pk").alias("p_partkey"),
            "days_sold",
            F.col("s").alias("total_units"),
            F.round(mu, 6).alias("mean_daily_demand"),
            F.round(sigma, 6).alias("demand_std"),
            F.ceil(rop).cast("long").alias("reorder_point_units"),
        )
        .orderBy(F.desc("total_units"), "p_partkey")
        .limit(k)
    )


def reorder_points_sql(
    lead_days: int = REORDER_LEAD_DAYS, k: int = REORDER_TOP_K
) -> str:
    z = REORDER_Z_MICRO / 1e6
    return f"""
    WITH daily AS (
        SELECT l_partkey AS pk, CAST(l_shipdate AS DATE) AS day,
               CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS dq
        FROM lineitem
        GROUP BY 1, 2
    ),
    span AS (
        SELECT CAST(datediff('day', MIN(day), MAX(day)) + 1 AS BIGINT)
                   AS n_days
        FROM daily
    ),
    per AS (
        SELECT pk, CAST(COUNT(*) AS BIGINT) AS days_sold,
               CAST(SUM(dq) AS BIGINT) AS s,
               CAST(SUM(dq * dq) AS BIGINT) AS q2
        FROM daily GROUP BY pk
    )
    SELECT pk AS p_partkey, days_sold, s AS total_units,
           round(CAST(s AS DOUBLE) / n_days, 6) AS mean_daily_demand,
           round(sqrt(CASE WHEN (q2 - CAST(s AS DOUBLE) * s / days_sold)
                                / (days_sold - 1) > 0
                           THEN (q2 - CAST(s AS DOUBLE) * s / days_sold)
                                / (days_sold - 1)
                           ELSE 0.0 END), 6) AS demand_std,
           CAST(ceil(CAST(s AS DOUBLE) / n_days * {lead_days}
                + {z!r} * sqrt(CASE WHEN (q2 - CAST(s AS DOUBLE) * s
                                          / days_sold) / (days_sold - 1) > 0
                                    THEN (q2 - CAST(s AS DOUBLE) * s
                                          / days_sold) / (days_sold - 1)
                                    ELSE 0.0 END)
                  * {lead_days ** 0.5!r}) AS BIGINT) AS reorder_point_units
    FROM per, span
    WHERE days_sold > 1
    ORDER BY total_units DESC, p_partkey
    LIMIT {k}
    """


# --- ABC-XYZ inventory matrix ---------------------------------------------------

XYZ_X_CV_MILLI = 500    # CV < 0.5  -> X (stable demand)
XYZ_Y_CV_MILLI = 1000   # CV < 1.0  -> Y; else Z (erratic)


def abc_xyz_matrix(lineitem: DataFrame) -> DataFrame:
    """The ABC-XYZ inventory planning matrix: value classes (Pareto revenue,
    the abc_classification rule) crossed with demand-variability classes
    (coefficient of variation of daily demand: X stable / Y variable / Z
    erratic) — the 9-cell grid that decides which parts get safety stock,
    which get forecasting effort, and which get make-to-order.

    Revenue classes compare exact integer-cents cumulative shares by cross-
    multiplication; CV classes compare n·Σq² against thresholded (Σq)²
    forms — entirely integer predicates, no float thresholds anywhere
    (headroom note: the cross-multiplied CV predicate needs n·(Σq)²·c²
    within int64 — at per-part volumes past ~10⁵ units/day·decade, divide
    q through by a fixed unit scale first).
    Plan: one (part, day) aggregate, one part rollup, one cumulative window
    over the |parts|-row relation, one 9-cell rollup."""
    daily = (
        lineitem.select(
            F.col("l_partkey").alias("pk"),
            F.to_date("l_shipdate").alias("day"),
            F.expr("CAST(round(l_quantity) AS BIGINT)").alias("q"),
            F.expr(
                "CAST(round(l_extendedprice * (1 - l_discount) * 100)"
                " AS BIGINT)"
            ).alias("rc"),
        )
        .groupBy("pk", "day")
        .agg(F.sum("q").alias("dq"), F.sum("rc").alias("drc"))
    )
    per = daily.groupBy("pk").agg(
        F.count("*").alias("nd"),
        F.sum("dq").alias("s"),
        F.sum(F.col("dq") * F.col("dq")).alias("q2"),
        F.sum("drc").alias("rev"),
    )
    w = Window.orderBy(F.desc("rev"), "pk")
    g = Window.partitionBy()
    # CV² = var/mean² with var = (n·q2 − s²)/(n·(n−1)), mean = s/n
    #   CV < c  <=>  n·(n·q2 − s²) < c²·(n−1)·s²   (exact integers; c in milli)
    cv_lt = lambda c: (
        F.col("nd") * (F.col("nd") * F.col("q2") - F.col("s") * F.col("s"))
        * 1_000_000
        < F.lit(c * c) * (F.col("nd") - 1) * F.col("s") * F.col("s")
    )
    classed = (
        per.withColumn("cum", F.sum("rev").over(w))
        .withColumn("tot", F.sum("rev").over(g))
        .select(
            "pk",
            "rev",
            F.when(F.col("cum") * 5 <= F.col("tot") * 4, "A")
            .when(F.col("cum") * 20 <= F.col("tot") * 19, "B")
            .otherwise("C")
            .alias("abc"),
            F.when(F.col("nd") <= 1, "Z")
            .when(cv_lt(XYZ_X_CV_MILLI), "X")
            .when(cv_lt(XYZ_Y_CV_MILLI), "Y")
            .otherwise("Z")
            .alias("xyz"),
        )
    )
    return (
        classed.groupBy("abc", "xyz")
        .agg(
            F.count("*").alias("n_parts"),
            F.sum("rev").cast("long").alias("rev_cents"),
        )
        .orderBy("abc", "xyz")
    )


ABC_XYZ_MATRIX_SQL = f"""
    WITH daily AS (
        SELECT l_partkey AS pk, CAST(l_shipdate AS DATE) AS day,
               CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS dq,
               CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                             AS BIGINT)) AS BIGINT) AS drc
        FROM lineitem GROUP BY 1, 2
    ),
    per AS (
        SELECT pk, CAST(COUNT(*) AS BIGINT) AS nd,
               CAST(SUM(dq) AS BIGINT) AS s,
               CAST(SUM(dq * dq) AS BIGINT) AS q2,
               CAST(SUM(drc) AS BIGINT) AS rev
        FROM daily GROUP BY pk
    ),
    classed AS (
        SELECT pk, rev,
               CASE WHEN SUM(rev) OVER (ORDER BY rev DESC, pk) * 5
                         <= SUM(rev) OVER () * 4 THEN 'A'
                    WHEN SUM(rev) OVER (ORDER BY rev DESC, pk) * 20
                         <= SUM(rev) OVER () * 19 THEN 'B'
                    ELSE 'C' END AS abc,
               CASE WHEN nd <= 1 THEN 'Z'
                    WHEN nd * (nd * q2 - s * s) * 1000000
                         < {XYZ_X_CV_MILLI * XYZ_X_CV_MILLI} * (nd - 1) * s * s
                         THEN 'X'
                    WHEN nd * (nd * q2 - s * s) * 1000000
                         < {XYZ_Y_CV_MILLI * XYZ_Y_CV_MILLI} * (nd - 1) * s * s
                         THEN 'Y'
                    ELSE 'Z' END AS xyz
        FROM per
    )
    SELECT abc, xyz, COUNT(*) AS n_parts,
           CAST(SUM(rev) AS BIGINT) AS rev_cents
    FROM classed
    GROUP BY abc, xyz
    ORDER BY abc, xyz
"""

# --- open-order aging buckets ----------------------------------------------------

AGING_BUCKETS = ((365, "0-365"), (730, "366-730"), (1460, "731-1460"))
AGING_OVERFLOW = "1460+"


def order_aging(orders: DataFrame) -> DataFrame:
    """Receivables-style aging report over OPEN orders: per (priority, age
    bucket), how many orders are outstanding and how much value is tied up —
    (o_orderpriority, age_bucket, n_orders, value_cents).

    Age = days from o_orderdate to the corpus reference date (MAX order
    date — a deterministic stand-in for "today", the same device as the
    dormant-customers query). Value is exact integer cents via DECIMAL so
    no float sum crosses the engine boundary.

    Scale shape: the reference date is a 1-row broadcast aggregate
    (crossJoin(broadcast(·)), the repo's blessed global-scalar pattern);
    the rest is one (priority, bucket)-keyed aggregate — map-side
    combinable, bounded output."""
    ref = orders.agg(F.max(F.to_date("o_orderdate")).alias("ref_date"))
    age = F.datediff(F.col("ref_date"), F.to_date("o_orderdate"))
    bucket = F.when(age <= AGING_BUCKETS[0][0], AGING_BUCKETS[0][1])
    for days, label in AGING_BUCKETS[1:]:
        bucket = bucket.when(age <= days, label)
    bucket = bucket.otherwise(AGING_OVERFLOW)
    return (
        orders.where(F.col("o_orderstatus") != "F")
        .crossJoin(F.broadcast(ref))
        .select(
            "o_orderpriority",
            bucket.alias("age_bucket"),
            F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
        )
        .groupBy("o_orderpriority", "age_bucket")
        .agg(
            F.count("*").alias("n_orders"),
            (F.sum("price") * 100).cast("long").alias("value_cents"),
        )
        .orderBy("o_orderpriority", "age_bucket")
    )


def order_aging_sql(orders_rel: str = "orders") -> str:
    cases = "\n                   ".join(
        f"WHEN age <= {days} THEN '{label}'" for days, label in AGING_BUCKETS
    )
    return f"""
        WITH ref AS (
            SELECT MAX(CAST(o_orderdate AS DATE)) AS ref_date FROM {orders_rel}
        ),
        aged AS (
            SELECT o_orderpriority,
                   CASE {cases}
                        ELSE '{AGING_OVERFLOW}' END AS age_bucket,
                   CAST(o_totalprice AS DECIMAL(18,2)) AS price
            FROM (
                SELECT o_orderpriority, o_totalprice,
                       datediff('day', CAST(o_orderdate AS DATE), ref_date)
                           AS age
                FROM {orders_rel} CROSS JOIN ref
                WHERE o_orderstatus <> 'F'
            )
        )
        SELECT o_orderpriority, age_bucket,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(price) * 100 AS BIGINT) AS value_cents
        FROM aged
        GROUP BY o_orderpriority, age_bucket
        ORDER BY o_orderpriority, age_bucket
    """

# --- weighted median ---------------------------------------------------------------


def weighted_median_price(lineitem: DataFrame) -> DataFrame:
    """Quantity-weighted median unit price per return flag:
    (l_returnflag, total_weight, wmedian_cents).

    The weighted median — smallest price whose cumulative quantity reaches
    half the total — is the robust "typical traded price" (an unweighted
    median over line items overweights small orders). Prices quantize to
    exact cents; the half-total threshold is the integer cross-multiplied
    predicate 2·cumw ≥ totw, so no float division anywhere.

    Scale shape: one (flag, price)-grain aggregate collapses the fact table,
    then the cumulative window runs over the DISTINCT price relation per
    flag — bounded by price cardinality, not row count. The total rides the
    same window (unbounded frame), no second pass."""
    base = lineitem.select(
        "l_returnflag",
        F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias("price_cents"),
        F.col("l_quantity").cast("long").alias("w"),
    )
    per_price = base.groupBy("l_returnflag", "price_cents").agg(
        F.sum("w").alias("w_sum")
    )
    wp = Window.partitionBy("l_returnflag")
    wo = wp.orderBy("price_cents").rowsBetween(Window.unboundedPreceding, 0)
    cum = per_price.select(
        "l_returnflag",
        "price_cents",
        F.sum("w_sum").over(wo).alias("cumw"),
        F.sum("w_sum").over(wp).alias("totw"),
    )
    return (
        cum.where(2 * F.col("cumw") >= F.col("totw"))
        .groupBy("l_returnflag")
        .agg(
            F.max("totw").alias("total_weight"),
            F.min("price_cents").alias("wmedian_cents"),
        )
        .orderBy("l_returnflag")
    )


def weighted_median_price_sql(rel: str = "lineitem") -> str:
    return f"""
        WITH per_price AS (
            SELECT l_returnflag,
                   CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents,
                   CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w_sum
            FROM {rel}
            GROUP BY l_returnflag, CAST(round(l_extendedprice * 100) AS BIGINT)
        ),
        cum AS (
            SELECT l_returnflag, price_cents,
                   SUM(w_sum) OVER (
                       PARTITION BY l_returnflag ORDER BY price_cents
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS cumw,
                   SUM(w_sum) OVER (PARTITION BY l_returnflag) AS totw
            FROM per_price
        )
        SELECT l_returnflag,
               CAST(MAX(totw) AS BIGINT) AS total_weight,
               CAST(MIN(price_cents) AS BIGINT) AS wmedian_cents
        FROM cum
        WHERE 2 * cumw >= totw
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """

# --- hierarchical (top-down) forecast reconciliation --------------------------------


def topdown_forecast_reconciliation(
    orders: DataFrame, customer: DataFrame, nation: DataFrame, region: DataFrame
) -> DataFrame:
    """Top-down forecast reconciliation: a region-level seasonal-naive
    forecast (same month, last year) split to nations by trailing-12-month
    revenue share — (r_name, n_name, nation_trailing_cents,
    region_forecast_cents, forecast_cents).

    The hierarchical-forecasting discipline: forecast at the aggregate level
    (stabler signal), allocate down so the hierarchy ADDS UP EXACTLY. The
    split is largest-remainder (Hamilton) apportionment per region in exact
    integer cents — floor quotas by integer cross-multiplication, leftover
    cents to the largest remainders (remainder rank = modulo, nation
    tiebreak) — so Σ nation forecasts ≡ the region forecast, cent for cent,
    the property proportional float splits can't guarantee.

    Scale shape: the fact table collapses to (nation, month) cents in one
    aggregate; everything after runs on |nations| rows with per-region rank
    windows."""
    base = (
        orders.join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
        .join(region, F.col("n_regionkey") == F.col("r_regionkey"))
        .select(
            "r_name",
            "n_name",
            F.date_trunc("month", "o_orderdate").cast("date").alias("month"),
            F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
        )
    )
    latest = base.agg(F.max("month").alias("m_max"))
    with_ref = base.crossJoin(F.broadcast(latest))
    region_forecast = (
        with_ref.where(F.col("month") == F.add_months(F.col("m_max"), -11))
        .groupBy("r_name")
        .agg((F.sum("price") * 100).cast("long").alias("region_forecast_cents"))
    )
    trailing = (
        with_ref.where(F.col("month") > F.add_months(F.col("m_max"), -12))
        .groupBy("r_name", "n_name")
        .agg((F.sum("price") * 100).cast("long").alias("nation_trailing_cents"))
    )
    wr = Window.partitionBy("r_name")
    tot = trailing.withColumn(
        "share_tot", F.sum("nation_trailing_cents").over(wr)
    )
    quoted = (
        tot.join(region_forecast, "r_name")
        .select(
            "r_name",
            "n_name",
            "nation_trailing_cents",
            "region_forecast_cents",
            # the cents product overflows int64 at sf0.1 (~1.6e20);
            # widen through DECIMAL(38,0) (HUGEINT on the oracle side)
            F.expr(
                "CAST((CAST(region_forecast_cents AS DECIMAL(38,0))"
                " * nation_trailing_cents) DIV share_tot AS BIGINT)"
            ).alias("floor_q"),
            F.expr(
                "CAST((CAST(region_forecast_cents AS DECIMAL(38,0))"
                " * nation_trailing_cents) % share_tot AS BIGINT)"
            ).alias("rem"),
        )
    )
    wrk = Window.partitionBy("r_name").orderBy(F.desc("rem"), "n_name")
    leftover = F.col("region_forecast_cents") - F.sum("floor_q").over(wr)
    return (
        quoted.withColumn("rk", F.row_number().over(wrk))
        .withColumn("leftover", leftover)
        .select(
            "r_name",
            "n_name",
            "nation_trailing_cents",
            "region_forecast_cents",
            (
                F.col("floor_q")
                + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
            )
            .cast("long")
            .alias("forecast_cents"),
        )
        .orderBy("r_name", "n_name")
    )


def topdown_forecast_reconciliation_sql() -> str:
    return """
        WITH base AS (
            SELECT r.r_name, n.n_name,
                   CAST(date_trunc('month', o.o_orderdate) AS DATE) AS month,
                   CAST(o.o_totalprice AS DECIMAL(18,2)) AS price
            FROM orders o
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
        ),
        latest AS (SELECT MAX(month) AS m_max FROM base),
        region_forecast AS (
            SELECT r_name,
                   CAST(SUM(price) * 100 AS BIGINT) AS region_forecast_cents
            FROM base CROSS JOIN latest
            WHERE month = m_max - INTERVAL 11 MONTH
            GROUP BY r_name
        ),
        trail12 AS (
            SELECT r_name, n_name,
                   CAST(SUM(price) * 100 AS BIGINT) AS nation_trailing_cents
            FROM base CROSS JOIN latest
            WHERE month > m_max - INTERVAL 12 MONTH
            GROUP BY r_name, n_name
        ),
        quoted AS (
            SELECT t.r_name, t.n_name, t.nation_trailing_cents,
                   f.region_forecast_cents,
                   CAST(f.region_forecast_cents::HUGEINT * t.nation_trailing_cents
                        // SUM(t.nation_trailing_cents) OVER (PARTITION BY t.r_name)
                        AS BIGINT) AS floor_q,
                   CAST(f.region_forecast_cents::HUGEINT * t.nation_trailing_cents
                        % SUM(t.nation_trailing_cents) OVER (PARTITION BY t.r_name)
                        AS BIGINT) AS rem
            FROM trail12 t JOIN region_forecast f USING (r_name)
        )
        SELECT r_name, n_name, nation_trailing_cents, region_forecast_cents,
               CAST(floor_q + CASE WHEN
                    ROW_NUMBER() OVER (PARTITION BY r_name
                                       ORDER BY rem DESC, n_name)
                    <= region_forecast_cents
                       - SUM(floor_q) OVER (PARTITION BY r_name)
                    THEN 1 ELSE 0 END AS BIGINT) AS forecast_cents
        FROM quoted
        ORDER BY r_name, n_name
    """


# --- conformed date dimension --------------------------------------------------------


def date_dimension(orders: DataFrame) -> DataFrame:
    """Kimball-style conformed date dimension spanning the corpus's order
    dates: (day, iso_dow, is_weekend, week_beginning, month_start, quarter,
    year) — the join spine every BI layer conforms its facts to.

    Generated, not loaded: the span derives from the data (min..max order
    date), the attributes are pure date arithmetic — a bounded `sequence`
    explode off a 1-row aggregate, no calendar file dependency. ISO weekday
    (Mon=1) is used because engines disagree on Sunday-based numbering."""
    span = orders.agg(
        F.min(F.to_date("o_orderdate")).alias("d0"),
        F.max(F.to_date("o_orderdate")).alias("d1"),
    )
    days = span.select(F.explode(F.sequence("d0", "d1")).alias("day"))
    iso_dow = F.expr("weekday(day) + 1")
    return days.select(
        "day",
        iso_dow.cast("int").alias("iso_dow"),
        (iso_dow >= 6).alias("is_weekend"),
        F.date_trunc("week", "day").cast("date").alias("week_beginning"),
        F.date_trunc("month", "day").cast("date").alias("month_start"),
        F.quarter("day").cast("int").alias("quarter"),
        F.year("day").cast("int").alias("year"),
    ).orderBy("day")


def date_dimension_sql() -> str:
    return """
        WITH span AS (
            SELECT MIN(CAST(o_orderdate AS DATE)) AS d0,
                   MAX(CAST(o_orderdate AS DATE)) AS d1
            FROM orders
        ),
        days AS (
            SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY))
                        AS DATE) AS day
            FROM span
        )
        SELECT day,
               CAST(isodow(day) AS INT) AS iso_dow,
               isodow(day) >= 6 AS is_weekend,
               CAST(date_trunc('week', day) AS DATE) AS week_beginning,
               CAST(date_trunc('month', day) AS DATE) AS month_start,
               CAST(quarter(day) AS INT) AS quarter,
               CAST(year(day) AS INT) AS year
        FROM days
        ORDER BY day
    """

# --- supplier vendor scorecard -------------------------------------------------------


def vendor_scorecard(
    lineitem: DataFrame, orders: DataFrame, supplier: DataFrame
) -> DataFrame:
    """Procurement vendor scorecard per supplier: (s_suppkey, s_name,
    n_items, revenue_cents, median_latency_days, price_index_milli) —
    volume, exact-cents revenue, median order→ship latency, and a price
    competitiveness index (supplier revenue vs what the same quantities
    would cost at each part's corpus-average unit price, 1000 = at market).

    All exact: revenue in integer cents; the median latency is the integer
    cumulative-threshold rule over the (supplier, latency-day) counts; the
    price index cross-multiplies two exact cents×quantity sums into one
    half-up milli emit (per-part average price never materializes as a
    float — the expected-cost side is Σ qty_s·(part_revenue/part_qty)
    rewritten as integer Σ to keep division out of the hot path).

    Scale shape: two fact-grain aggregates (per supplier, per part) + one
    supplier-keyed median window over the bounded latency-day relation."""
    li = lineitem.select(
        "l_suppkey",
        "l_partkey",
        "l_orderkey",
        F.col("l_quantity").cast("long").alias("qty"),
        F.expr(
            "CAST(round(l_extendedprice * 100) AS BIGINT)"
        ).alias("price_cents"),
        F.to_date("l_shipdate").alias("ship_day"),
    )
    part_tot = li.groupBy("l_partkey").agg(
        F.sum("price_cents").alias("part_cents"),
        F.sum("qty").alias("part_qty"),
    )
    # expected cost of this line at the part's average unit price, scaled:
    # qty * part_cents / part_qty — cross-multiplied into the final ratio so
    # the per-line division never happens: index = 1000 * Σ price /
    # Σ (qty·part_cents/part_qty). To stay integer, compute the expected
    # side as Σ over parts of (sup_qty_in_part · part_cents) / part_qty via
    # ONE half-up division per (supplier, part) — bounded error, exact rule.
    per_sup_part = li.groupBy("l_suppkey", "l_partkey").agg(
        F.sum("qty").alias("sup_qty"),
        F.sum("price_cents").alias("sup_cents"),
        F.count("*").alias("n_items"),
    )
    expected = (
        per_sup_part.join(part_tot, "l_partkey")
        .groupBy("l_suppkey")
        .agg(
            F.sum("n_items").alias("n_items"),
            F.sum("sup_cents").alias("revenue_cents"),
            F.sum(
                F.expr(
                    "CAST((2 * sup_qty * part_cents + part_qty)"
                    " DIV (2 * part_qty) AS BIGINT)"
                )
            ).alias("expected_cents"),
        )
    )
    latency = (
        li.join(
            orders.select(
                F.col("o_orderkey").alias("l_orderkey"),
                F.to_date("o_orderdate").alias("order_day"),
            ),
            "l_orderkey",
        )
        .select(
            "l_suppkey", F.datediff("ship_day", F.col("order_day")).alias("lat")
        )
        .groupBy("l_suppkey", "lat")
        .agg(F.count("*").alias("m"))
    )
    ws = Window.partitionBy("l_suppkey")
    wc = ws.orderBy("lat").rowsBetween(Window.unboundedPreceding, 0)
    med = (
        latency.select(
            "l_suppkey",
            "lat",
            F.sum("m").over(wc).alias("cum"),
            F.sum("m").over(ws).alias("tot"),
        )
        .where(2 * F.col("cum") >= F.col("tot"))
        .groupBy("l_suppkey")
        .agg(F.min("lat").cast("long").alias("median_latency_days"))
    )
    return (
        expected.join(med, "l_suppkey")
        .join(
            supplier.select(
                F.col("s_suppkey").alias("l_suppkey"), "s_name"
            ),
            "l_suppkey",
        )
        .select(
            F.col("l_suppkey").alias("s_suppkey"),
            "s_name",
            "n_items",
            "revenue_cents",
            "median_latency_days",
            F.expr(
                "CAST((2 * 1000 * revenue_cents + expected_cents)"
                " DIV (2 * expected_cents) AS BIGINT)"
            ).alias("price_index_milli"),
        )
        .orderBy("s_suppkey")
    )


def vendor_scorecard_sql() -> str:
    return """
        WITH li AS (
            SELECT l_suppkey, l_partkey, l_orderkey,
                   CAST(l_quantity AS BIGINT) AS qty,
                   CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents,
                   CAST(l_shipdate AS DATE) AS ship_day
            FROM lineitem
        ),
        part_tot AS (
            SELECT l_partkey,
                   CAST(SUM(price_cents) AS BIGINT) AS part_cents,
                   CAST(SUM(qty) AS BIGINT) AS part_qty
            FROM li GROUP BY l_partkey
        ),
        per_sup_part AS (
            SELECT l_suppkey, l_partkey,
                   CAST(SUM(qty) AS BIGINT) AS sup_qty,
                   CAST(SUM(price_cents) AS BIGINT) AS sup_cents,
                   CAST(COUNT(*) AS BIGINT) AS n_items
            FROM li GROUP BY l_suppkey, l_partkey
        ),
        expected AS (
            SELECT p.l_suppkey,
                   CAST(SUM(n_items) AS BIGINT) AS n_items,
                   CAST(SUM(sup_cents) AS BIGINT) AS revenue_cents,
                   CAST(SUM((2 * sup_qty * t.part_cents + t.part_qty)
                            // (2 * t.part_qty)) AS BIGINT) AS expected_cents
            FROM per_sup_part p JOIN part_tot t USING (l_partkey)
            GROUP BY p.l_suppkey
        ),
        latency AS (
            SELECT l_suppkey,
                   datediff('day', CAST(o.o_orderdate AS DATE), li.ship_day)
                       AS lat,
                   COUNT(*) AS m
            FROM li JOIN orders o ON li.l_orderkey = o.o_orderkey
            GROUP BY l_suppkey,
                     datediff('day', CAST(o.o_orderdate AS DATE), li.ship_day)
        ),
        med AS (
            SELECT l_suppkey, CAST(MIN(lat) AS BIGINT) AS median_latency_days
            FROM (
                SELECT l_suppkey, lat,
                       SUM(m) OVER (PARTITION BY l_suppkey ORDER BY lat
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                       ) AS cum,
                       SUM(m) OVER (PARTITION BY l_suppkey) AS tot
                FROM latency
            )
            WHERE 2 * cum >= tot GROUP BY l_suppkey
        )
        SELECT e.l_suppkey AS s_suppkey, s.s_name, e.n_items, e.revenue_cents,
               m.median_latency_days,
               CAST((2 * 1000 * e.revenue_cents + e.expected_cents)
                    // (2 * e.expected_cents) AS BIGINT)
                   AS price_index_milli
        FROM expected e
        JOIN med m USING (l_suppkey)
        JOIN supplier s ON s.s_suppkey = e.l_suppkey
        ORDER BY s_suppkey
    """


# --- FIFO inventory costing ----------------------------------------------------------

FIFO_BRAND = "Brand#11"
FIFO_SPLIT = "1998-01-01"


def fifo_costing(
    lineitem: DataFrame, part: DataFrame, brand: str = FIFO_BRAND
) -> DataFrame:
    """FIFO inventory cost-layer matching per part (one brand): receipts
    (pre-1998 shipments, in ship order) build cost layers; later shipments
    are the issue demand; output (p_partkey, qty_received, qty_issued,
    filled_qty, layers_consumed, cogs_cents, ending_qty,
    ending_value_cents).

    The classic hard-SQL costing operator, expressed without a recursive
    layer walk: layer i covers the cumulative-quantity interval
    (cum_{i-1}, cum_i], so the quantity FIFO takes from it against demand Q
    is clamp(min(cum_i, Q) − cum_{i-1}, 0, qty_i) — one running-sum window
    per part and a scalar clamp, no iteration. Layer cost attribution is
    the exact integer rule price_cents·consumed DIV qty (quantities are
    integral); fully-consumed layers contribute their exact cents, so
    ending_value = Σ price − cogs is an identity, not an approximation.

    Scale shape: one window + one aggregate, both keyed on p_partkey — the
    natural partitioning; the brand filter prunes at the part dimension and
    the join is broadcast. No skew risk: layers per part are bounded by
    per-part order counts."""
    keys = F.broadcast(
        part.where(F.col("p_brand") == brand).select("p_partkey")
    )
    li = lineitem.join(
        keys, lineitem.l_partkey == keys.p_partkey
    ).select(
        "p_partkey",
        F.col("l_quantity").cast("long").alias("qty"),
        F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias(
            "price_cents"
        ),
        F.to_date("l_shipdate").alias("ship_day"),
        "l_orderkey",
        "l_linenumber",
    )
    receipts = li.where(F.col("ship_day") < F.lit(FIFO_SPLIT))
    demand = (
        li.where(F.col("ship_day") >= F.lit(FIFO_SPLIT))
        .groupBy("p_partkey")
        .agg(F.sum("qty").alias("q_demand"))
    )
    w_cum = (
        Window.partitionBy("p_partkey")
        .orderBy("ship_day", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    layered = receipts.select(
        "p_partkey",
        "qty",
        "price_cents",
        F.sum("qty").over(w_cum).alias("cum"),
    )
    consumed = (
        layered.join(demand, "p_partkey", "left")
        .withColumn("q", F.coalesce("q_demand", F.lit(0)))
        .withColumn(
            "taken",
            F.greatest(
                F.lit(0),
                F.least(F.col("cum"), F.col("q")) - (F.col("cum") - F.col("qty")),
            ),
        )
        .withColumn(
            "cogs_part",
            F.expr("CAST(price_cents * taken DIV qty AS BIGINT)"),
        )
    )
    return (
        consumed.groupBy("p_partkey")
        .agg(
            F.sum("qty").alias("qty_received"),
            F.max("q").alias("qty_issued"),
            F.least(F.max("q"), F.sum("qty")).alias("filled_qty"),
            F.sum(F.when(F.col("taken") > 0, 1).otherwise(0)).alias(
                "layers_consumed"
            ),
            F.sum("cogs_part").alias("cogs_cents"),
            (F.sum("qty") - F.least(F.max("q"), F.sum("qty"))).alias(
                "ending_qty"
            ),
            (F.sum("price_cents") - F.sum("cogs_part")).alias(
                "ending_value_cents"
            ),
        )
        .orderBy("p_partkey")
    )


def fifo_costing_sql(brand: str = FIFO_BRAND) -> str:
    return f"""
        WITH li AS (
            SELECT l.l_partkey AS p_partkey,
                   CAST(l_quantity AS BIGINT) AS qty,
                   CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents,
                   CAST(l_shipdate AS DATE) AS ship_day,
                   l_orderkey, l_linenumber
            FROM lineitem l
            JOIN part p ON l.l_partkey = p.p_partkey
            WHERE p.p_brand = '{brand}'
        ),
        demand AS (
            SELECT p_partkey, CAST(SUM(qty) AS BIGINT) AS q_demand
            FROM li WHERE ship_day >= DATE '{FIFO_SPLIT}'
            GROUP BY p_partkey
        ),
        layered AS (
            SELECT p_partkey, qty, price_cents,
                   SUM(qty) OVER (
                       PARTITION BY p_partkey
                       ORDER BY ship_day, l_orderkey, l_linenumber
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS cum
            FROM li WHERE ship_day < DATE '{FIFO_SPLIT}'
        ),
        consumed AS (
            SELECT l.p_partkey, qty, price_cents, cum,
                   COALESCE(d.q_demand, 0) AS q,
                   GREATEST(0, LEAST(cum, COALESCE(d.q_demand, 0))
                               - (cum - qty)) AS taken
            FROM layered l LEFT JOIN demand d USING (p_partkey)
        )
        SELECT p_partkey,
               CAST(SUM(qty) AS BIGINT) AS qty_received,
               CAST(MAX(q) AS BIGINT) AS qty_issued,
               CAST(LEAST(MAX(q), SUM(qty)) AS BIGINT) AS filled_qty,
               CAST(SUM(CASE WHEN taken > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS layers_consumed,
               CAST(SUM(price_cents * taken // qty) AS BIGINT) AS cogs_cents,
               CAST(SUM(qty) - LEAST(MAX(q), SUM(qty)) AS BIGINT) AS ending_qty,
               CAST(SUM(price_cents) - SUM(price_cents * taken // qty)
                   AS BIGINT) AS ending_value_cents
        FROM consumed
        GROUP BY p_partkey
        ORDER BY p_partkey
    """


# --- Fellegi-Sunter probabilistic record linkage -------------------------------------

RL_W_NAME_AGREE, RL_W_NAME_DIS = 2400, -300
RL_W_BAL_AGREE, RL_W_BAL_DIS = 1600, -400
RL_W_KEY_AGREE, RL_W_KEY_DIS = 800, -100
RL_T_LINK, RL_T_POSSIBLE = 3000, 1200
RL_MAX_BLOCK = 512


def record_linkage(customer: DataFrame) -> DataFrame:
    """Fellegi-Sunter probabilistic record linkage over the customer table:
    candidate pairs blocked on (nation, mktsegment), scored by fixed
    integer milli-log-odds agreement weights on three fields (edit-distance
    name match, account-balance proximity, key proximity), classified by
    the two-threshold rule into link / possible / nonlink. Output is the
    per-(nation, class) decision summary: (c_nationkey, decision, n_pairs,
    max_score, min_score).

    The 1969 JASA model with deterministic integer weights in place of
    EM-estimated m/u probabilities (EM is a training concern; the linkage
    OPERATOR — blocking, bounded pair generation, agreement vector, score,
    two thresholds — is what must scale). Blocking bounds the quadratic:
    pairs are generated only within (nation, segment) blocks, each capped
    at {RL_MAX_BLOCK} md5-ordered members (the hot-block cap every
    quadratic-risk operator here carries), so worst-case work is
    blocks·cap² — never corpus².

    Scale shape: one block-keyed self-join on the capped relation, narrow
    integer scoring (levenshtein on bounded-length names), one bounded
    aggregate. Matches the repo's phonetic_match blocking discipline."""
    base = customer.select(
        "c_custkey",
        "c_nationkey",
        "c_mktsegment",
        "c_name",
        F.expr("CAST(round(c_acctbal * 100) AS BIGINT)").alias("bal_cents"),
    )
    w_blk = Window.partitionBy("c_nationkey", "c_mktsegment").orderBy(
        F.md5(F.col("c_custkey").cast("string")), "c_custkey"
    )
    capped = base.withColumn("rk", F.row_number().over(w_blk)).where(
        F.col("rk") <= RL_MAX_BLOCK
        # (round-10 A/B: a lazy localCheckpoint here measured flat — the
        # self-join's two sides already share the window via exchange reuse)
    )
    a = capped.select(
        "c_nationkey",
        "c_mktsegment",
        F.col("c_custkey").alias("key_a"),
        F.col("c_name").alias("name_a"),
        F.col("bal_cents").alias("bal_a"),
    )
    b = capped.select(
        "c_nationkey",
        "c_mktsegment",
        F.col("c_custkey").alias("key_b"),
        F.col("c_name").alias("name_b"),
        F.col("bal_cents").alias("bal_b"),
    )
    scored = (
        a.join(b, ["c_nationkey", "c_mktsegment"])
        .where(F.col("key_a") < F.col("key_b"))
        .select(
            "c_nationkey",
            (
                F.when(
                    F.levenshtein("name_a", "name_b") <= 2,
                    F.lit(RL_W_NAME_AGREE),
                ).otherwise(F.lit(RL_W_NAME_DIS))
                + F.when(
                    F.abs(F.col("bal_a") - F.col("bal_b")) <= 5000,
                    F.lit(RL_W_BAL_AGREE),
                ).otherwise(F.lit(RL_W_BAL_DIS))
                + F.when(
                    F.abs(F.col("key_a") - F.col("key_b")) <= 20,
                    F.lit(RL_W_KEY_AGREE),
                ).otherwise(F.lit(RL_W_KEY_DIS))
            ).alias("score"),
        )
        .withColumn(
            "decision",
            F.when(F.col("score") >= RL_T_LINK, F.lit("link"))
            .when(F.col("score") >= RL_T_POSSIBLE, F.lit("possible"))
            .otherwise(F.lit("nonlink")),
        )
    )
    return (
        scored.groupBy("c_nationkey", "decision")
        .agg(
            F.count("*").alias("n_pairs"),
            F.max("score").cast("long").alias("max_score"),
            F.min("score").cast("long").alias("min_score"),
        )
        .orderBy("c_nationkey", "decision")
    )


def record_linkage_sql() -> str:
    return f"""
        WITH base AS (
            SELECT c_custkey, c_nationkey, c_mktsegment, c_name,
                   CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
            FROM customer
        ),
        capped AS (
            SELECT * FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY c_nationkey, c_mktsegment
                    ORDER BY md5(CAST(c_custkey AS VARCHAR)), c_custkey
                ) AS rk
                FROM base
            ) WHERE rk <= {RL_MAX_BLOCK}
        ),
        scored AS (
            SELECT a.c_nationkey,
                   (CASE WHEN levenshtein(a.c_name, b.c_name) <= 2
                         THEN {RL_W_NAME_AGREE} ELSE {RL_W_NAME_DIS} END
                    + CASE WHEN ABS(a.bal_cents - b.bal_cents) <= 5000
                           THEN {RL_W_BAL_AGREE} ELSE {RL_W_BAL_DIS} END
                    + CASE WHEN ABS(a.c_custkey - b.c_custkey) <= 20
                           THEN {RL_W_KEY_AGREE} ELSE {RL_W_KEY_DIS} END)
                       AS score
            FROM capped a
            JOIN capped b
              ON a.c_nationkey = b.c_nationkey
             AND a.c_mktsegment = b.c_mktsegment
             AND a.c_custkey < b.c_custkey
        ),
        classed AS (
            SELECT c_nationkey,
                   CASE WHEN score >= {RL_T_LINK} THEN 'link'
                        WHEN score >= {RL_T_POSSIBLE} THEN 'possible'
                        ELSE 'nonlink' END AS decision,
                   score
            FROM scored
        )
        SELECT c_nationkey, decision,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(MAX(score) AS BIGINT) AS max_score,
               CAST(MIN(score) AS BIGINT) AS min_score
        FROM classed
        GROUP BY c_nationkey, decision
        ORDER BY c_nationkey, decision
    """


# --- what-if price scenario grid -----------------------------------------------------

# (price delta in milli, constant-elasticity quantity multiplier in milli,
# precomputed for e = -1.5: qm = round(1000 * (1 + delta)^-1.5) — constants,
# never a runtime pow, so both engines see identical integers)
PRICE_SCENARIOS = ((-100, 1171), (-50, 1080), (0, 1000), (50, 929), (100, 867))


def price_scenarios(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """What-if repricing grid per brand: revenue under five price-change
    scenarios with constant demand elasticity e = -1.5 — the merchandising
    scenario sweep (price -10%..+10%, quantity responds as (1+d)^e):
    (p_brand, delta_milli, base_rev_cents, scenario_rev_cents,
    rev_index_milli).

    All-scenarios-one-plan (the markov_attribution discipline): the fact
    table aggregates ONCE per brand; the 5-scenario grid explodes on the
    25-row aggregate, never on the fact rows. Elasticity multipliers are
    precomputed integer constants, scenario revenue is one floor division
    of positive BIGINTs, and the index is 1000·scenario DIV base —
    positive-only integer division (floor-vs-truncate never diverges).

    Scale shape: one broadcast dimension join + one brand-keyed aggregate;
    everything after operates on |brands| rows."""
    base = (
        lineitem.join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            lineitem.l_partkey == part.p_partkey,
        )
        .groupBy("p_brand")
        .agg(
            F.expr(
                "CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))"
                " AS BIGINT)"
            ).alias("base_rev_cents")
        )
    )
    grid = F.array(
        *[
            F.struct(
                F.lit(d).cast("long").alias("delta_milli"),
                F.lit(q).cast("long").alias("qm"),
            )
            for d, q in PRICE_SCENARIOS
        ]
    )
    return (
        base.select("p_brand", "base_rev_cents", F.explode(grid).alias("sc"))
        .select(
            "p_brand",
            F.col("sc.delta_milli").alias("delta_milli"),
            "base_rev_cents",
            F.expr(
                "CAST(base_rev_cents * (1000 + sc.delta_milli) * sc.qm"
                " DIV 1000000 AS BIGINT)"
            ).alias("scenario_rev_cents"),
        )
        .withColumn(
            "rev_index_milli",
            F.expr(
                "CAST(1000 * scenario_rev_cents DIV base_rev_cents AS BIGINT)"
            ),
        )
        .orderBy("p_brand", "delta_milli")
    )


def price_scenarios_sql() -> str:
    rows = ", ".join(f"({d}, {q})" for d, q in PRICE_SCENARIOS)
    return f"""
        WITH base AS (
            SELECT p.p_brand,
                   CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
                       AS BIGINT) AS base_rev_cents
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            GROUP BY p.p_brand
        ),
        grid(delta_milli, qm) AS (VALUES {rows})
        SELECT b.p_brand,
               CAST(g.delta_milli AS BIGINT) AS delta_milli,
               b.base_rev_cents,
               CAST(b.base_rev_cents * (1000 + g.delta_milli) * g.qm
                   // 1000000 AS BIGINT) AS scenario_rev_cents,
               CAST(1000 * (b.base_rev_cents * (1000 + g.delta_milli) * g.qm
                   // 1000000) // b.base_rev_cents AS BIGINT)
                   AS rev_index_milli
        FROM base b CROSS JOIN grid g
        ORDER BY b.p_brand, delta_milli
    """


# --- bill-of-materials hierarchy rollup ----------------------------------------------

BOM_FANOUT = 7
BOM_TIERS = 3
BOM_TOP_K = 50


def bom_rollup(part: DataFrame, k: int = BOM_TOP_K) -> DataFrame:
    """Bill-of-materials cost rollup over the synthetic part hierarchy
    (parent(p) = p DIV {BOM_FANOUT}; the derived-key stand-in for a real
    BOM edge table): each assembly's rolled-up cost is its own retail
    cents plus every component's cents within {BOM_TIERS} tiers. Output:
    top-{BOM_TOP_K} assemblies (p_partkey, n_components, deepest_tier,
    own_cents, rollup_cents, rank).

    The hierarchical-rollup operator family (BOM explosion, org charts,
    account trees) WITHOUT recursion: because ancestors are key-derivable,
    each part emits its (ancestor, tier) contributions as a narrow
    explode — the path-enumeration trick — and the rollup is ONE
    ancestor-keyed map-side-combined aggregate. A real edge table gets the
    same plan from {BOM_TIERS} unrolled joins (the BFS discipline); the
    aggregate side is identical.

    Scale shape: explode fan-out is a constant {BOM_TIERS}; no join, one
    shuffle on the ancestor key. Skew-safe: fan-in per assembly is
    {BOM_FANOUT}^tier, a constant."""
    ancestors = F.array(
        *[
            F.struct(
                F.expr(f"p_partkey DIV {BOM_FANOUT ** t}").alias("asm"),
                F.lit(t).alias("tier"),
            )
            for t in range(1, BOM_TIERS + 1)
        ]
    )
    cents = F.expr("CAST(round(p_retailprice * 100) AS BIGINT)")
    contrib = (
        part.select(cents.alias("cents"), F.explode(ancestors).alias("a"))
        .where(F.col("a.asm") >= 1)
        .select(
            F.col("a.asm").alias("p_partkey"),
            F.col("a.tier").alias("tier"),
            "cents",
        )
    )
    rolled = contrib.groupBy("p_partkey").agg(
        F.count("*").cast("long").alias("n_components"),
        F.max("tier").cast("int").alias("deepest_tier"),
        F.sum("cents").alias("component_cents"),
    )
    order = [F.col("rollup_cents").desc(), F.col("p_partkey").asc()]
    joined = (
        part.select("p_partkey", cents.alias("own_cents"))
        .join(rolled, "p_partkey")
        .select(
            "p_partkey",
            "n_components",
            "deepest_tier",
            "own_cents",
            (F.col("own_cents") + F.col("component_cents")).alias("rollup_cents"),
        )
    )
    return (
        joined.orderBy(*order)
        .limit(k)
        .select(
            "*",
            F.row_number().over(Window.orderBy(*order)).cast("long").alias("rank"),
        )
    )


def bom_rollup_sql(k: int = BOM_TOP_K) -> str:
    tiers = ", ".join(
        f"({t}, {BOM_FANOUT ** t})" for t in range(1, BOM_TIERS + 1)
    )
    return f"""
        WITH tiers(tier, divisor) AS (VALUES {tiers}),
        contrib AS (
            SELECT p.p_partkey // t.divisor AS asm, t.tier,
                   CAST(round(p.p_retailprice * 100) AS BIGINT) AS cents
            FROM part p CROSS JOIN tiers t
            WHERE p.p_partkey // t.divisor >= 1
        ),
        rolled AS (
            SELECT asm AS p_partkey,
                   CAST(COUNT(*) AS BIGINT) AS n_components,
                   CAST(MAX(tier) AS INT) AS deepest_tier,
                   CAST(SUM(cents) AS BIGINT) AS component_cents
            FROM contrib GROUP BY asm
        )
        SELECT p.p_partkey, r.n_components, r.deepest_tier,
               CAST(round(p.p_retailprice * 100) AS BIGINT) AS own_cents,
               CAST(round(p.p_retailprice * 100) AS BIGINT)
                   + r.component_cents AS rollup_cents,
               CAST(ROW_NUMBER() OVER (
                   ORDER BY CAST(round(p.p_retailprice * 100) AS BIGINT)
                            + r.component_cents DESC, p.p_partkey)
                   AS BIGINT) AS rank
        FROM part p JOIN rolled r USING (p_partkey)
        ORDER BY rollup_cents DESC, p.p_partkey
        LIMIT {k}
    """


# --- p-chart statistical process control ---------------------------------------------


def returns_p_chart(lineitem: DataFrame) -> DataFrame:
    """Shewhart p-chart over the weekly RETURN RATE — statistical process
    control for a pipeline KPI: a week signals when its return proportion
    leaves the 3-sigma binomial band around the overall rate
    p_bar ± 3·sqrt(p_bar(1−p_bar)/n_i). Output per week: (week, n_items,
    n_returns, rate_milli, signal, direction).

    NO sqrt ever evaluates: squaring the control inequality turns it into
    (x_i·N − R·n_i)² > 9·R·(N−R)·n_i — all integers. The left square can
    reach ~10²³ at sf-scale, so both sides compare in 38-digit exact types
    (Spark DECIMAL(38,0) / DuckDB HUGEINT — the apportionment overflow
    lesson applied at design time instead of debugged later).

    Scale shape: one week-grain aggregate + a broadcast 1-row corpus
    total; the signal test is a narrow projection."""
    flags = lineitem.select(
        F.date_trunc("week", "l_shipdate").cast("date").alias("week"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("r"),
    )
    weekly = flags.groupBy("week").agg(
        F.count("*").alias("n_i"), F.sum("r").alias("x_i")
    )
    totals = flags.agg(
        F.count("*").alias("n_tot"), F.sum("r").alias("r_tot")
    )
    lhs = "CAST(x_i * n_tot - r_tot * n_i AS DECIMAL(38, 0))"
    rhs = "CAST(9 AS DECIMAL(38, 0)) * r_tot * (n_tot - r_tot) * n_i"
    return (
        weekly.crossJoin(F.broadcast(totals))
        .select(
            "week",
            F.col("n_i").cast("long").alias("n_items"),
            F.col("x_i").cast("long").alias("n_returns"),
            F.expr("CAST((2000 * x_i + n_i) DIV (2 * n_i) AS BIGINT)").alias(
                "rate_milli"
            ),
            F.expr(f"CAST(({lhs}) * ({lhs}) > {rhs} AS INT)").alias("signal"),
            F.expr(
                "CASE WHEN x_i * n_tot > r_tot * n_i THEN 'high'"
                " WHEN x_i * n_tot < r_tot * n_i THEN 'low'"
                " ELSE 'at' END"
            ).alias("direction"),
        )
        .orderBy("week")
    )


def returns_p_chart_sql() -> str:
    lhs = "CAST(x_i * n_tot - r_tot * n_i AS HUGEINT)"
    rhs = "CAST(9 AS HUGEINT) * r_tot * (n_tot - r_tot) * n_i"
    return f"""
        WITH flags AS (
            SELECT CAST(date_trunc('week', l_shipdate) AS DATE) AS week,
                   CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS r
            FROM lineitem
        ),
        weekly AS (
            SELECT week, COUNT(*) AS n_i, SUM(r) AS x_i
            FROM flags GROUP BY week
        ),
        totals AS (
            SELECT COUNT(*) AS n_tot, SUM(r) AS r_tot FROM flags
        )
        SELECT week,
               CAST(n_i AS BIGINT) AS n_items,
               CAST(x_i AS BIGINT) AS n_returns,
               CAST((2000 * x_i + n_i) // (2 * n_i) AS BIGINT) AS rate_milli,
               CAST(({lhs}) * ({lhs}) > {rhs} AS INT) AS signal,
               CASE WHEN x_i * n_tot > r_tot * n_i THEN 'high'
                    WHEN x_i * n_tot < r_tot * n_i THEN 'low'
                    ELSE 'at' END AS direction
        FROM weekly CROSS JOIN totals
        ORDER BY week
    """


# --- junk dimension builder ----------------------------------------------------------


def junk_dimension(orders: DataFrame) -> DataFrame:
    """Kimball junk-dimension build over the orders flag fields: every
    OBSERVED (status, priority) combination gets a dense surrogate key,
    with the profile a fact re-key would use: (junk_key, o_orderstatus,
    o_orderpriority, n_orders, first_seen, last_seen).

    The dimensional-modeling workhorse for miscellaneous low-cardinality
    flags: rather than one column each on a 100 TB fact, the combinations
    (bounded by the attribute-domain product, not the fact size) live in
    one tiny dimension and the fact carries a single integer. Surrogate
    keys are dense_rank over the deterministic (status, priority) order —
    reproducible across rebuilds, no identity column needed.

    Scale shape: one combination-grain aggregate (map-side combined to
    the tiny domain) and a window over those few rows. The fact re-key
    itself would be a broadcast join against this output."""
    combos = orders.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.min(F.to_date("o_orderdate")).alias("first_seen"),
        F.max(F.to_date("o_orderdate")).alias("last_seen"),
    )
    w = Window.orderBy("o_orderstatus", "o_orderpriority")
    return combos.select(
        F.dense_rank().over(w).cast("long").alias("junk_key"),
        "o_orderstatus",
        "o_orderpriority",
        "n_orders",
        "first_seen",
        "last_seen",
    ).orderBy("junk_key")


JUNK_DIMENSION_SQL = """
    SELECT CAST(DENSE_RANK() OVER (
               ORDER BY o_orderstatus, o_orderpriority) AS BIGINT) AS junk_key,
           o_orderstatus, o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           MIN(CAST(o_orderdate AS DATE)) AS first_seen,
           MAX(CAST(o_orderdate AS DATE)) AS last_seen
    FROM orders
    GROUP BY o_orderstatus, o_orderpriority
    ORDER BY junk_key
"""


# --- revenue waterfall ---------------------------------------------------------------


def revenue_waterfall(lineitem: DataFrame) -> DataFrame:
    """Gross-to-net revenue waterfall per ship year — the finance bridge
    (gross, discount given, tax collected, net) in exact cents with the
    reference's application order (discount off gross, tax on the
    discounted base): (year, gross_cents, discount_cents, tax_cents,
    net_cents, discount_share_milli).

    Per-line money math follows the repo's TPC-H discipline: each line's
    discount and tax amounts round half-up to cents ONCE (the invoice
    rule — totals are sums of rounded line amounts, not rounded sums),
    then everything aggregates as BIGINTs.

    Scale shape: one fact-grain projection + one year-keyed aggregate."""
    gross = "CAST(round(l_extendedprice * 100) AS BIGINT)"
    disc = "CAST(round(l_extendedprice * l_discount * 100) AS BIGINT)"
    tax = (
        "CAST(round(l_extendedprice * (1 - l_discount) * l_tax * 100)"
        " AS BIGINT)"
    )
    lines = lineitem.select(
        F.year("l_shipdate").cast("long").alias("year"),
        F.expr(gross).alias("g"),
        F.expr(disc).alias("d"),
        F.expr(tax).alias("t"),
    )
    return (
        lines.groupBy("year")
        .agg(
            F.sum("g").alias("gross_cents"),
            F.sum("d").alias("discount_cents"),
            F.sum("t").alias("tax_cents"),
            (F.sum("g") - F.sum("d") + F.sum("t")).alias("net_cents"),
        )
        .withColumn(
            "discount_share_milli",
            F.expr("CAST(1000 * discount_cents DIV gross_cents AS BIGINT)"),
        )
        .orderBy("year")
    )


REVENUE_WATERFALL_SQL = """
    WITH lines AS (
        SELECT CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS year,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS g,
               CAST(round(l_extendedprice * l_discount * 100) AS BIGINT) AS d,
               CAST(round(l_extendedprice * (1 - l_discount) * l_tax * 100)
                   AS BIGINT) AS t
        FROM lineitem
    )
    SELECT year,
           CAST(SUM(g) AS BIGINT) AS gross_cents,
           CAST(SUM(d) AS BIGINT) AS discount_cents,
           CAST(SUM(t) AS BIGINT) AS tax_cents,
           CAST(SUM(g) - SUM(d) + SUM(t) AS BIGINT) AS net_cents,
           CAST(1000 * SUM(d) // SUM(g) AS BIGINT) AS discount_share_milli
    FROM lines
    GROUP BY year
    ORDER BY year
"""


# --- price elasticity estimate -------------------------------------------------------


def price_elasticity(lineitem: DataFrame) -> DataFrame:
    """Observational own-price elasticity estimate: OLS slope of
    ln(quantity) on ln(price) across parts — the measured companion to
    the price_scenarios grid's ASSUMED elasticity: one row (n_parts,
    elasticity_milli, intercept_milli).

    Cross-engine exactness over a corpus-sized point set: zipf_slope's
    double covar is safe on its ≤25 one-partition rows but NOT on |parts|
    rows whose float summation order differs per engine — so both lns
    quantize ONCE per part to milli-nats and the OLS closed form
    (n·Σxy − ΣxΣy) / (n·Σx² − (Σx)²) runs in pure BIGINTs, with ONE
    signed half-up division at the end (milli scale keeps n·Σxy ~ 1e14,
    far from overflow).

    Scale shape: one part-grain aggregate, 1-row closed-form combine."""
    per_part = (
        lineitem.groupBy("l_partkey")
        .agg(
            F.sum(F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)")).alias(
                "cents"
            ),
            F.sum(F.col("l_quantity").cast("long")).alias("qty"),
        )
        .where((F.col("qty") > 0) & (F.col("cents") > 0))
        .select(
            # unit price in cents (floor) and total qty, each ln-quantized
            # once to milli-nats
            F.round(F.log(F.expr("cents DIV qty")) * 1000)
            .cast("long")
            .alias("x"),
            F.round(F.log("qty") * 1000).cast("long").alias("y"),
        )
    )
    agg = per_part.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    # 2000*|num| clears int64 at sf-scale -> the one wide product runs in
    # DECIMAL(38,0) (the p-chart treatment); everything else stays BIGINT
    num = "(n * sxy - sx * sy)"
    den = "(n * sxx - sx * sx)"
    hu = (
        f"CAST(CASE WHEN {num} < 0 THEN -1 ELSE 1 END"
        f" * CAST((CAST(2000 AS DECIMAL(38, 0)) * abs({num}) + {den})"
        f" DIV (2 * {den}) AS BIGINT) AS BIGINT)"
    )
    # intercept = (sy - slope*sx/1000)/n in milli: one signed half-up on
    # small operands (slope_milli*sx ~ 1e12)
    inum = f"(1000 * sy - ({hu}) * sx)"
    return agg.select(
        F.col("n").cast("long").alias("n_parts"),
        F.expr(hu).alias("elasticity_milli"),
        F.expr(
            f"CAST(CASE WHEN {inum} < 0 THEN -1 ELSE 1 END"
            f" * ((2 * abs({inum}) + 1000 * n) DIV (2000 * n))"
            " AS BIGINT)"
        ).alias("intercept_milli"),
    )


PRICE_ELASTICITY_SQL = """
    WITH per_part AS (
        SELECT CAST(round(ln(cents // qty) * 1000) AS BIGINT) AS x,
               CAST(round(ln(qty) * 1000) AS BIGINT) AS y
        FROM (
            SELECT l_partkey,
                   SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS cents,
                   SUM(CAST(l_quantity AS BIGINT)) AS qty
            FROM lineitem GROUP BY l_partkey
        )
        WHERE qty > 0 AND cents > 0
    ),
    agg AS (
        SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
               SUM(x * y) AS sxy, SUM(x * x) AS sxx
        FROM per_part
    )
    SELECT CAST(n AS BIGINT) AS n_parts,
           CAST(CASE WHEN (n * sxy - sx * sy) < 0 THEN -1 ELSE 1 END
                * CAST((CAST(2000 AS HUGEINT) * abs(n * sxy - sx * sy)
                        + (n * sxx - sx * sx))
                       // (2 * (n * sxx - sx * sx)) AS BIGINT) AS BIGINT)
               AS elasticity_milli,
           CAST(CASE WHEN (1000 * sy
                     - (CASE WHEN (n * sxy - sx * sy) < 0 THEN -1 ELSE 1 END
                        * CAST((CAST(2000 AS HUGEINT)
                                * abs(n * sxy - sx * sy)
                                + (n * sxx - sx * sx))
                               // (2 * (n * sxx - sx * sx)) AS BIGINT)) * sx)
                     < 0
                THEN -1 ELSE 1 END
                * ((2 * abs(1000 * sy
                     - (CASE WHEN (n * sxy - sx * sy) < 0 THEN -1 ELSE 1 END
                        * CAST((CAST(2000 AS HUGEINT)
                                * abs(n * sxy - sx * sy)
                                + (n * sxx - sx * sx))
                               // (2 * (n * sxx - sx * sx)) AS BIGINT)) * sx)
                    + 1000 * n)
                   // (2000 * n)) AS BIGINT)
               AS intercept_milli
    FROM agg
"""


# --- newsvendor order quantity -------------------------------------------------------

NEWSVENDOR_FRACTILE_MILLI = 800  # cu/(cu+co): underage 4x overage cost


def newsvendor_quantity(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """Distribution-free newsvendor stocking quantities per brand: the
    optimal order-up-to level is the critical fractile
    (cu/(cu+co) = {NEWSVENDOR_FRACTILE_MILLI} milli here) of WEEKLY
    demand, taken directly as an order statistic of the observed weekly
    totals — no distributional fit, the empirical-quantile twin of the
    normal-approximation reorder_points: (p_brand, n_weeks, median_weekly,
    order_up_to, peak_weekly).

    Rank selection per brand (row_number over the bounded week grid) with
    the ceil((n·f) rule in pure integers — the PSI discipline.

    Scale shape: one (brand, week) aggregate, one per-brand rank window
    over ≤|weeks| rows, selection joins on the brand rank spec."""
    weekly = (
        lineitem.join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            lineitem.l_partkey == part.p_partkey,
        )
        .groupBy(
            "p_brand", F.date_trunc("week", "l_shipdate").alias("wk")
        )
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("q"))
    )
    w = Window.partitionBy("p_brand").orderBy("q", "wk")
    ranked = weekly.select(
        "p_brand",
        "q",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("p_brand")).alias("n"),
    )
    f = NEWSVENDOR_FRACTILE_MILLI
    spec = ranked.groupBy("p_brand").agg(
        F.max("n").cast("long").alias("n_weeks"),
        F.max("q").cast("long").alias("peak_weekly"),
    )
    pick = lambda rank_expr, out: (  # noqa: E731
        ranked.where(F.col("rn") == F.expr(rank_expr))
        .select("p_brand", F.col("q").cast("long").alias(out))
    )
    return (
        spec.join(pick("(n + 1) DIV 2", "median_weekly"), "p_brand")
        .join(pick(f"(({f} * n) + 999) DIV 1000", "order_up_to"), "p_brand")
        .orderBy("p_brand")
    )


NEWSVENDOR_QUANTITY_SQL = f"""
    WITH weekly AS (
        SELECT p.p_brand, date_trunc('week', l.l_shipdate) AS wk,
               SUM(CAST(l.l_quantity AS BIGINT)) AS q
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT p_brand, q,
               ROW_NUMBER() OVER (PARTITION BY p_brand ORDER BY q, wk) AS rn,
               COUNT(*) OVER (PARTITION BY p_brand) AS n
        FROM weekly
    ),
    spec AS (
        SELECT p_brand, CAST(MAX(n) AS BIGINT) AS n_weeks,
               CAST(MAX(q) AS BIGINT) AS peak_weekly
        FROM ranked GROUP BY p_brand
    )
    SELECT s.p_brand, s.n_weeks,
           CAST(med.q AS BIGINT) AS median_weekly,
           CAST(up.q AS BIGINT) AS order_up_to,
           s.peak_weekly
    FROM spec s
    JOIN ranked med ON med.p_brand = s.p_brand
                   AND med.rn = (med.n + 1) // 2
    JOIN ranked up ON up.p_brand = s.p_brand
                  AND up.rn = (({NEWSVENDOR_FRACTILE_MILLI} * up.n) + 999)
                              // 1000
    ORDER BY s.p_brand
"""


# --- ABC class migration matrix ------------------------------------------------------

ABC_MIGRATION_SPLIT = "1998-07-01"


def abc_migration(lineitem: DataFrame) -> DataFrame:
    """Period-over-period ABC reclassification matrix: every part is
    ABC-classed (cumulative-revenue 80/95 cuts) independently in the two
    halves of the history, and the matrix counts migrations —
    the assortment-churn view a static ABC snapshot hides:
    (class_before, class_after, n_parts, revenue_after_cents). Parts
    absent from a period class as '-'.

    Classification is the repo's abc_classification rule per period
    (cumulative share by rank over exact cents, cuts at 800/950 milli via
    cross-multiplication — no share ever materializes); the matrix is a
    ≤16-cell aggregate.

    Scale shape: two period-scoped part aggregates + their rank windows
    (part-dimension grain), one full-outer key join, tiny rollup."""
    def classify(period):
        rev = (
            lineitem.where(period)
            .groupBy("l_partkey")
            .agg(
                F.sum(
                    F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)")
                ).alias("cents")
            )
        )
        w = Window.orderBy(F.desc("cents"), "l_partkey").rowsBetween(
            Window.unboundedPreceding, 0
        )
        g = Window.partitionBy()
        return rev.select(
            "l_partkey",
            "cents",
            F.sum("cents").over(w).alias("cum"),
            F.sum("cents").over(g).alias("tot"),
        ).select(
            "l_partkey",
            "cents",
            F.when(F.col("cum") * 1000 <= F.col("tot") * 800, "A")
            .when(F.col("cum") * 1000 <= F.col("tot") * 950, "B")
            .otherwise("C")
            .alias("abc"),
        )
    before = classify(F.col("l_shipdate") < F.lit(ABC_MIGRATION_SPLIT)).select(
        "l_partkey", F.col("abc").alias("class_before")
    )
    after = classify(F.col("l_shipdate") >= F.lit(ABC_MIGRATION_SPLIT)).select(
        "l_partkey", F.col("abc").alias("class_after"), "cents"
    )
    return (
        before.join(after, "l_partkey", "full_outer")
        .select(
            F.coalesce("class_before", F.lit("-")).alias("class_before"),
            F.coalesce("class_after", F.lit("-")).alias("class_after"),
            F.coalesce("cents", F.lit(0)).alias("cents"),
        )
        .groupBy("class_before", "class_after")
        .agg(
            F.count("*").cast("long").alias("n_parts"),
            F.sum("cents").alias("revenue_after_cents"),
        )
        .orderBy("class_before", "class_after")
    )


def abc_migration_sql() -> str:
    def half(cmp: str) -> str:
        return f"""
            SELECT l_partkey, cents,
                   CASE WHEN cum * 1000 <= tot * 800 THEN 'A'
                        WHEN cum * 1000 <= tot * 950 THEN 'B'
                        ELSE 'C' END AS abc
            FROM (
                SELECT l_partkey, cents,
                       SUM(cents) OVER (ORDER BY cents DESC, l_partkey
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           AS cum,
                       SUM(cents) OVER () AS tot
                FROM (
                    SELECT l_partkey,
                           CAST(SUM(CAST(round(l_extendedprice * 100)
                               AS BIGINT)) AS BIGINT) AS cents
                    FROM lineitem WHERE l_shipdate {cmp}
                        TIMESTAMP '{ABC_MIGRATION_SPLIT} 00:00:00'
                    GROUP BY l_partkey
                )
            )"""
    return f"""
        WITH before AS ({half('<')}), after AS ({half('>=')})
        SELECT COALESCE(b.abc, '-') AS class_before,
               COALESCE(a.abc, '-') AS class_after,
               CAST(COUNT(*) AS BIGINT) AS n_parts,
               CAST(SUM(COALESCE(a.cents, 0)) AS BIGINT)
                   AS revenue_after_cents
        FROM before b FULL OUTER JOIN after a USING (l_partkey)
        GROUP BY 1, 2
        ORDER BY 1, 2
    """


# --- monthly seasonal index ----------------------------------------------------------


def monthly_seasonal_index(lineitem: DataFrame) -> DataFrame:
    """Classical month-of-year seasonal indices of revenue: each calendar
    month's average monthly revenue over the all-months average, in milli
    (1000 = no seasonality) — the deflator a demand plan divides by:
    (month, n_months, avg_rev_cents, seasonal_index_milli).

    Cross-multiplied exactness: index = (Σ_m rev / n_m) / (Σ rev / N)
    computes as (rev_m · N · 1000) DIV (n_m · tot) with half-up — per-month
    averages never materialize.

    Scale shape: one (year, month) aggregate, a 12-row rollup, broadcast
    1-row total."""
    monthly = lineitem.groupBy(
        F.year("l_shipdate").alias("y"), F.month("l_shipdate").alias("month")
    ).agg(
        F.sum(F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)")).alias(
            "rev"
        )
    )
    per_month = monthly.groupBy("month").agg(
        F.count("*").alias("n_months"), F.sum("rev").alias("rev_m")
    )
    tot = monthly.agg(
        F.count("*").alias("n_all"), F.sum("rev").alias("rev_all")
    )
    return (
        per_month.crossJoin(F.broadcast(tot))
        .select(
            F.col("month").cast("long").alias("month"),
            F.col("n_months").cast("long").alias("n_months"),
            F.expr("CAST(rev_m DIV n_months AS BIGINT)").alias("avg_rev_cents"),
            F.expr(
                "CAST((2000 * rev_m * n_all + n_months * rev_all)"
                " DIV (2 * n_months * rev_all) AS BIGINT)"
            ).alias("seasonal_index_milli"),
        )
        .orderBy("month")
    )


MONTHLY_SEASONAL_INDEX_SQL = """
    WITH monthly AS (
        SELECT EXTRACT(year FROM l_shipdate) AS y,
               EXTRACT(month FROM l_shipdate) AS month,
               CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
                   AS BIGINT) AS rev
        FROM lineitem GROUP BY 1, 2
    ),
    per_month AS (
        SELECT month, COUNT(*) AS n_months, SUM(rev) AS rev_m
        FROM monthly GROUP BY month
    ),
    tot AS (
        SELECT COUNT(*) AS n_all, SUM(rev) AS rev_all FROM monthly
    )
    SELECT CAST(month AS BIGINT) AS month,
           CAST(n_months AS BIGINT) AS n_months,
           CAST(rev_m // n_months AS BIGINT) AS avg_rev_cents,
           CAST((2000 * rev_m * n_all + n_months * rev_all)
                // (2 * n_months * rev_all) AS BIGINT)
               AS seasonal_index_milli
    FROM per_month CROSS JOIN tot
    ORDER BY month
"""


# --- promo cannibalization -------------------------------------------------------


def promo_cannibalization(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """Within-brand promo cannibalization: do a brand's NON-promo parts
    ship less in months where the brand has promo activity? Share-shift
    and discount-lift read the promoted item; this reads the rest of the
    shelf — the cross-item effect that decides whether a promo grew the
    brand or just moved volume sideways.

    Per brand x month: promo and non-promo quantities; months classify as
    promo-active (promo_qty > 0) or quiet. Brands observed in BOTH
    regimes emit one row: month counts, milli-average non-promo quantity
    per month in each regime, and cannibalization_milli =
    1000·(quiet_avg − promo_avg) / quiet_avg (positive = promo months
    depress the rest of the brand). All exact integer arithmetic.

    Scale shape: one (brand, month) aggregate off the fact scan with the
    part dim broadcast, then a brand-keyed rollup — no window, no
    self-join."""
    monthly = (
        lineitem.join(
            F.broadcast(part.select("p_partkey", "p_brand", "p_type")),
            lineitem.l_partkey == part.p_partkey,
        )
        .groupBy("p_brand", F.date_trunc("month", "l_shipdate").alias("mth"))
        .agg(
            F.sum(
                F.when(F.col("p_type") == "PROMO", F.col("l_quantity"))
                .otherwise(0.0)
                .cast("long")
            ).alias("promo_q"),
            F.sum(
                F.when(F.col("p_type") != "PROMO", F.col("l_quantity"))
                .otherwise(0.0)
                .cast("long")
            ).alias("nonpromo_q"),
        )
    )
    per_brand = monthly.groupBy("p_brand").agg(
        F.sum(F.when(F.col("promo_q") > 0, 1).otherwise(0))
        .cast("long")
        .alias("promo_months"),
        F.sum(F.when(F.col("promo_q") <= 0, 1).otherwise(0))
        .cast("long")
        .alias("quiet_months"),
        F.sum(F.when(F.col("promo_q") > 0, F.col("nonpromo_q")).otherwise(0))
        .cast("long")
        .alias("nonpromo_in_promo"),
        F.sum(F.when(F.col("promo_q") <= 0, F.col("nonpromo_q")).otherwise(0))
        .cast("long")
        .alias("nonpromo_in_quiet"),
    )
    return (
        per_brand.where(
            (F.col("promo_months") > 0) & (F.col("quiet_months") > 0)
        )
        .select(
            "p_brand",
            "promo_months",
            "quiet_months",
            F.expr(
                "CAST(1000 * nonpromo_in_promo DIV promo_months AS BIGINT)"
            ).alias("promo_avg_milli"),
            F.expr(
                "CAST(1000 * nonpromo_in_quiet DIV quiet_months AS BIGINT)"
            ).alias("quiet_avg_milli"),
        )
        .withColumn(
            "cannibalization_milli",
            # abs/sign form: truncating signed division is engine-stable
            # (Spark DIV truncates, DuckDB // floors — they differ below 0)
            F.expr(
                "CASE WHEN quiet_avg_milli > 0 THEN"
                " CAST(CASE WHEN quiet_avg_milli < promo_avg_milli"
                " THEN -1 ELSE 1 END"
                " * (1000 * abs(quiet_avg_milli - promo_avg_milli)"
                " DIV quiet_avg_milli) AS BIGINT)"
                " ELSE CAST(0 AS BIGINT) END"
            ),
        )
        .orderBy("p_brand")
    )


PROMO_CANNIBALIZATION_SQL = """
    WITH monthly AS (
        SELECT p.p_brand, date_trunc('month', l.l_shipdate) AS mth,
               CAST(SUM(CASE WHEN p.p_type = 'PROMO' THEN l.l_quantity
                        ELSE 0 END) AS BIGINT) AS promo_q,
               CAST(SUM(CASE WHEN p.p_type <> 'PROMO' THEN l.l_quantity
                        ELSE 0 END) AS BIGINT) AS nonpromo_q
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY 1, 2
    ),
    per_brand AS (
        SELECT p_brand,
               CAST(SUM(CASE WHEN promo_q > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS promo_months,
               CAST(SUM(CASE WHEN promo_q <= 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS quiet_months,
               CAST(SUM(CASE WHEN promo_q > 0 THEN nonpromo_q ELSE 0 END)
                    AS BIGINT) AS nonpromo_in_promo,
               CAST(SUM(CASE WHEN promo_q <= 0 THEN nonpromo_q ELSE 0 END)
                    AS BIGINT) AS nonpromo_in_quiet
        FROM monthly GROUP BY p_brand
    )
    , avgs AS (
        SELECT p_brand, promo_months, quiet_months,
               CAST(1000 * nonpromo_in_promo // promo_months AS BIGINT)
                   AS promo_avg_milli,
               CAST(1000 * nonpromo_in_quiet // quiet_months AS BIGINT)
                   AS quiet_avg_milli
        FROM per_brand
        WHERE promo_months > 0 AND quiet_months > 0
    )
    SELECT p_brand, promo_months, quiet_months, promo_avg_milli,
           quiet_avg_milli,
           CASE WHEN quiet_avg_milli > 0 THEN
                CAST((CASE WHEN quiet_avg_milli < promo_avg_milli
                      THEN -1 ELSE 1 END)
                     * (1000 * abs(quiet_avg_milli - promo_avg_milli)
                        // quiet_avg_milli) AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS cannibalization_milli
    FROM avgs
    ORDER BY p_brand
"""


# --- economic order quantity ------------------------------------------------------

EOQ_ORDER_COST_CENTS = 10000  # S: fixed cost per replenishment order
EOQ_HOLD_CENTS = 50  # H: holding cost per unit per year


def eoq_quantity(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """Wilson economic order quantities per brand: EOQ = sqrt(2·D·S / H)
    with annualized demand D from shipped quantities — the lot-size twin
    of the reorder-point and newsvendor ops, and the first consumer of
    the EXACT integer square root (functions.isqrt): sqrt-based outputs
    without leaving the exact-BIGINT discipline.

    Output per brand: (p_brand, annual_demand, eoq_units,
    orders_per_year, cycle_days) — orders/year is the ceil division
    D/EOQ, cycle_days its 365-day inverse, all exact.

    Scale shape: one brand-keyed aggregate with the part dim broadcast;
    the sqrt is a scalar projection."""
    from ..functions import isqrt

    years = F.countDistinct(F.year("l_shipdate")).alias("n_years")
    demand = (
        lineitem.join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            lineitem.l_partkey == part.p_partkey,
        )
        .groupBy("p_brand")
        .agg(
            F.sum(F.col("l_quantity").cast("long")).alias("total_q"), years
        )
        .select(
            "p_brand",
            F.expr("CAST(total_q DIV n_years AS BIGINT)").alias(
                "annual_demand"
            ),
        )
    )
    eoq = isqrt(
        F.expr(
            f"CAST(2 * annual_demand * {EOQ_ORDER_COST_CENTS}"
            f" DIV {EOQ_HOLD_CENTS} AS BIGINT)"
        )
    ).alias("eoq_units")
    return (
        demand.where(F.col("annual_demand") > 0)
        .select("p_brand", "annual_demand", eoq)
        .select(
            "p_brand",
            "annual_demand",
            "eoq_units",
            F.expr(
                "CAST((annual_demand + eoq_units - 1) DIV eoq_units"
                " AS BIGINT)"
            ).alias("orders_per_year"),
            F.expr(
                "CAST(365 * eoq_units DIV annual_demand AS BIGINT)"
            ).alias("cycle_days"),
        )
        .orderBy("p_brand")
    )


def eoq_quantity_sql() -> str:
    from ..functions import isqrt_sql

    eoq = isqrt_sql(
        f"CAST(2 * annual_demand * {EOQ_ORDER_COST_CENTS}"
        f" // {EOQ_HOLD_CENTS} AS BIGINT)"
    )
    return f"""
        WITH demand AS (
            SELECT p.p_brand,
                   CAST(SUM(CAST(l.l_quantity AS BIGINT))
                        // COUNT(DISTINCT year(l.l_shipdate)) AS BIGINT)
                       AS annual_demand
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            GROUP BY p.p_brand
        ),
        sized AS (
            SELECT p_brand, annual_demand,
                   CAST({eoq} AS BIGINT) AS eoq_units
            FROM demand WHERE annual_demand > 0
        )
        SELECT p_brand, annual_demand, eoq_units,
               CAST((annual_demand + eoq_units - 1) // eoq_units AS BIGINT)
                   AS orders_per_year,
               CAST(365 * eoq_units // annual_demand AS BIGINT) AS cycle_days
        FROM sized
        ORDER BY p_brand
    """


# --- split shipments -------------------------------------------------------------


def split_shipments(lineitem: DataFrame) -> DataFrame:
    """Split-shipment panel: per month, how many orders shipped in one
    go vs across multiple ship dates, and how long the split ones
    dragged — the fulfillment-cost / customer-experience metric order
    aging (days open) and ship latency (commit vs receipt) don't
    capture: an order can age zero days and still arrive in four boxes.

    Per order: distinct ship dates and first→last span; the order's
    month is its FIRST ship date's month. Panel per month:
    (month, n_orders, split_orders, split_milli, avg_span_days_milli)
    with the average span over split orders only, half-up milli.

    Scale shape: one order-keyed aggregate off the fact scan, one
    bounded month rollup — no window, no join."""
    per_order = lineitem.groupBy("l_orderkey").agg(
        F.count_distinct(F.to_date("l_shipdate")).alias("n_dates"),
        F.datediff(
            F.max(F.to_date("l_shipdate")), F.min(F.to_date("l_shipdate"))
        ).alias("span"),
        F.date_trunc("month", F.min("l_shipdate")).cast("date").alias("month"),
    )
    return (
        per_order.groupBy("month")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum(F.when(F.col("n_dates") > 1, 1).otherwise(0))
            .cast("long")
            .alias("split_orders"),
            F.sum(F.when(F.col("n_dates") > 1, F.col("span")).otherwise(0))
            .cast("long")
            .alias("_span_sum"),
        )
        .select(
            "month",
            "n_orders",
            "split_orders",
            F.expr(
                "CAST(1000 * split_orders DIV n_orders AS BIGINT)"
            ).alias("split_milli"),
            F.expr(
                "CASE WHEN split_orders > 0 THEN"
                " CAST((2000 * _span_sum + split_orders)"
                " DIV (2 * split_orders) AS BIGINT)"
                " ELSE CAST(0 AS BIGINT) END"
            ).alias("avg_span_days_milli"),
        )
        .orderBy("month")
    )


SPLIT_SHIPMENTS_SQL = """
    WITH per_order AS (
        SELECT l_orderkey,
               COUNT(DISTINCT CAST(l_shipdate AS DATE)) AS n_dates,
               date_diff('day', MIN(CAST(l_shipdate AS DATE)),
                         MAX(CAST(l_shipdate AS DATE))) AS span,
               CAST(date_trunc('month', MIN(l_shipdate)) AS DATE) AS month
        FROM lineitem GROUP BY l_orderkey
    ),
    panel AS (
        SELECT month,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CASE WHEN n_dates > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS split_orders,
               CAST(SUM(CASE WHEN n_dates > 1 THEN span ELSE 0 END)
                    AS BIGINT) AS span_sum
        FROM per_order GROUP BY month
    )
    SELECT month, n_orders, split_orders,
           CAST(1000 * split_orders // n_orders AS BIGINT) AS split_milli,
           CASE WHEN split_orders > 0 THEN
                CAST((2000 * span_sum + split_orders)
                     // (2 * split_orders) AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS avg_span_days_milli
    FROM panel
    ORDER BY month
"""


# --- assortment attrition ----------------------------------------------------------

ATTRITION_TRAIL_DAYS = 180


def assortment_attrition(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """Assortment attrition per brand: parts that were selling earlier
    but have shipped NOTHING in the trailing {ATTRITION_TRAIL_DAYS} days
    — the product-level counterpart of dormant-customer winback, and the
    rationalization input ABC snapshots miss (a part can hold a B class
    on historical volume while being functionally dead today).

    The cutoff is max(shipdate) − {ATTRITION_TRAIL_DAYS}d, a 1-row
    broadcast scalar (the order-aging reference-date treatment). Per
    brand: parts with early activity, how many went quiet, the quiet
    share (milli), and the early-period revenue now at risk (cents).

    Scale shape: one part-grain aggregate off the fact scan, brand
    rollup with the part dim broadcast; the scalar join is 1-row."""
    cutoff = lineitem.agg(
        F.date_sub(
            F.max(F.to_date("l_shipdate")), ATTRITION_TRAIL_DAYS
        ).alias("cutoff")
    )
    per_part = (
        lineitem.crossJoin(F.broadcast(cutoff))
        .groupBy("l_partkey")
        .agg(
            F.sum(
                F.when(
                    F.to_date("l_shipdate") <= F.col("cutoff"),
                    F.expr(
                        "CAST(round(l_extendedprice * (1 - l_discount) * 100)"
                        " AS BIGINT)"
                    ),
                ).otherwise(0)
            ).alias("early_rev_cents"),
            F.sum(
                F.when(F.to_date("l_shipdate") > F.col("cutoff"), 1).otherwise(
                    0
                )
            ).alias("late_lines"),
        )
        .where(F.col("early_rev_cents") > 0)
    )
    return (
        per_part.join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            per_part.l_partkey == part.p_partkey,
        )
        .groupBy("p_brand")
        .agg(
            F.count("*").cast("long").alias("n_parts"),
            F.sum(F.when(F.col("late_lines") == 0, 1).otherwise(0))
            .cast("long")
            .alias("n_quiet"),
            F.sum(
                F.when(
                    F.col("late_lines") == 0, F.col("early_rev_cents")
                ).otherwise(0)
            )
            .cast("long")
            .alias("quiet_rev_cents"),
        )
        .select(
            "p_brand",
            "n_parts",
            "n_quiet",
            F.expr("CAST(1000 * n_quiet DIV n_parts AS BIGINT)").alias(
                "quiet_milli"
            ),
            "quiet_rev_cents",
        )
        .orderBy("p_brand")
    )


ASSORTMENT_ATTRITION_SQL = f"""
    WITH cutoff AS (
        SELECT MAX(CAST(l_shipdate AS DATE))
                 - INTERVAL {ATTRITION_TRAIL_DAYS} DAY AS cutoff
        FROM lineitem
    ),
    per_part AS (
        SELECT l.l_partkey,
               CAST(SUM(CASE WHEN CAST(l.l_shipdate AS DATE)
                                  <= c.cutoff
                        THEN CAST(round(l.l_extendedprice
                                        * (1 - l.l_discount) * 100) AS BIGINT)
                        ELSE 0 END) AS BIGINT) AS early_rev_cents,
               CAST(SUM(CASE WHEN CAST(l.l_shipdate AS DATE) > c.cutoff
                        THEN 1 ELSE 0 END) AS BIGINT) AS late_lines
        FROM lineitem l CROSS JOIN cutoff c
        GROUP BY l.l_partkey
        HAVING early_rev_cents > 0
    )
    SELECT p.p_brand,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(CASE WHEN pp.late_lines = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_quiet,
           CAST(1000 * SUM(CASE WHEN pp.late_lines = 0 THEN 1 ELSE 0 END)
                // COUNT(*) AS BIGINT) AS quiet_milli,
           CAST(SUM(CASE WHEN pp.late_lines = 0 THEN pp.early_rev_cents
                    ELSE 0 END) AS BIGINT) AS quiet_rev_cents
    FROM per_part pp JOIN part p ON pp.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    ORDER BY p.p_brand
"""


# --- customer decile migration -----------------------------------------------------

DECILE_SPLIT_YEAR = 1998  # period 0 = orders through this year; 1 = after


def customer_decile_migration(orders: DataFrame) -> DataFrame:
    """Customer value-decile migration matrix between the two halves of
    the order timeline (through {DECILE_SPLIT_YEAR} vs after) — the
    customer twin of the ABC part-class migration: which value tiers
    actually hold their customers, and where decile-1 spenders land
    next period. A static RFM/decile snapshot can't show this churn.

    Deciles are EXACT rank arithmetic, not ntile: within each period
    customers rank by (spend desc, custkey) and decile = 10·(rank−1)
    DIV n — deterministic under ties in both engines. Output one row
    per observed (decile_before, decile_after): n_customers, plus the
    period-1 spend those customers carry (cents).

    Scale shape: one custkey-grain aggregate per period off the order
    scan, one rank window per period partition, a custkey equi-join of
    the two ≤|customers| rank relations, bounded 10×10 rollup."""
    spend = orders.groupBy(
        "o_custkey",
        (F.year("o_orderdate") > DECILE_SPLIT_YEAR).cast("int").alias("period"),
    ).agg(
        F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")).alias(
            "cents"
        )
    )
    w = Window.partitionBy("period").orderBy(
        F.desc("cents"), F.col("o_custkey")
    )
    n = Window.partitionBy("period")
    ranked = spend.select(
        "o_custkey",
        "period",
        "cents",
        F.expr(
            "CAST(10 * (CAST(row_number() OVER ("
            " PARTITION BY period ORDER BY cents DESC, o_custkey)"
            " AS BIGINT) - 1) DIV count(*) OVER (PARTITION BY period)"
            " AS BIGINT)"
        ).alias("decile"),
    )
    p0 = ranked.where(F.col("period") == 0).select(
        "o_custkey", F.col("decile").alias("decile_before")
    )
    p1 = ranked.where(F.col("period") == 1).select(
        "o_custkey",
        F.col("decile").alias("decile_after"),
        F.col("cents").alias("after_cents"),
    )
    return (
        p0.join(p1, "o_custkey")
        .groupBy("decile_before", "decile_after")
        .agg(
            F.count("*").cast("long").alias("n_customers"),
            F.sum("after_cents").cast("long").alias("after_rev_cents"),
        )
        .orderBy("decile_before", "decile_after")
    )


CUSTOMER_DECILE_MIGRATION_SQL = f"""
    WITH spend AS (
        SELECT o_custkey,
               CAST(year(o_orderdate) > {DECILE_SPLIT_YEAR} AS INT) AS period,
               CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM orders GROUP BY 1, 2
    ),
    ranked AS (
        SELECT o_custkey, period, cents,
               CAST(10 * (row_number() OVER (
                   PARTITION BY period ORDER BY cents DESC, o_custkey) - 1)
                   // COUNT(*) OVER (PARTITION BY period) AS BIGINT) AS decile
        FROM spend
    )
    SELECT p0.decile AS decile_before, p1.decile AS decile_after,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(p1.cents) AS BIGINT) AS after_rev_cents
    FROM ranked p0
    JOIN ranked p1 ON p0.o_custkey = p1.o_custkey
                  AND p0.period = 0 AND p1.period = 1
    GROUP BY 1, 2
    ORDER BY 1, 2
"""


# --- basket profile ----------------------------------------------------------------

BASKET_LINE_CAP = 7


def basket_profile(lineitem: DataFrame) -> DataFrame:
    """Basket-size economics: order count, revenue, average order value
    and average quantity by line-count bucket (1..{BASKET_LINE_CAP},
    larger baskets capped into the top bucket) — the AOV curve behind
    free-shipping thresholds and bundling decisions; custdist counts
    orders per customer, this prices orders per basket size.

    Scale shape: one order-grain aggregate off the fact scan, bounded
    bucket rollup."""
    per_order = lineitem.groupBy("l_orderkey").agg(
        F.least(F.count("*"), F.lit(BASKET_LINE_CAP)).alias("n_lines"),
        F.sum(
            F.expr(
                "CAST(round(l_extendedprice * (1 - l_discount) * 100)"
                " AS BIGINT)"
            )
        ).alias("rev_cents"),
        F.sum(F.col("l_quantity").cast("long")).alias("qty"),
    )
    return (
        per_order.groupBy(F.col("n_lines").cast("long").alias("n_lines"))
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum("rev_cents").cast("long").alias("rev_cents"),
            F.expr(
                "CAST((2 * SUM(rev_cents) + COUNT(*)) DIV (2 * COUNT(*))"
                " AS BIGINT)"
            ).alias("aov_cents"),
            F.expr(
                "CAST((2000 * SUM(qty) + COUNT(*)) DIV (2 * COUNT(*))"
                " AS BIGINT)"
            ).alias("avg_qty_milli"),
        )
        .orderBy("n_lines")
    )


BASKET_PROFILE_SQL = f"""
    WITH per_order AS (
        SELECT l_orderkey,
               LEAST(COUNT(*), {BASKET_LINE_CAP}) AS n_lines,
               CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                             AS BIGINT)) AS BIGINT) AS rev_cents,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
        FROM lineitem GROUP BY l_orderkey
    )
    SELECT CAST(n_lines AS BIGINT) AS n_lines,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(rev_cents) AS BIGINT) AS rev_cents,
           CAST((2 * SUM(rev_cents) + COUNT(*)) // (2 * COUNT(*)) AS BIGINT)
               AS aov_cents,
           CAST((2000 * SUM(qty) + COUNT(*)) // (2 * COUNT(*)) AS BIGINT)
               AS avg_qty_milli
    FROM per_order
    GROUP BY n_lines
    ORDER BY n_lines
"""


# --- cross-price elasticity --------------------------------------------------------


def cross_elasticity(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """Cross-price elasticity matrix between brands: OLS slope of
    ln(qty_a) on ln(price_b) over the monthly panel — positive slope
    reads as substitution (b priced up, a sells more), negative as
    complement — the pair-level companion to own-price
    ``price_elasticity``, same exact-arithmetic discipline: both lns
    quantize ONCE per (brand, month) to milli-nats, the OLS closed form
    (n·Σxy − ΣxΣy)/(n·Σx² − (Σx)²) runs in pure BIGINTs, one signed
    half-up division at the end.

    The panel self-join is |brands|² × months — a bounded grid (the
    brand dim is small by construction), NOT a fact self-join. Output
    per directed pair: (brand_a, brand_b, n_months,
    cross_elasticity_milli).

    Scale shape: one (brand, month) aggregate off the fact scan with
    the part dim broadcast; everything after runs on the bounded
    panel."""
    monthly = (
        lineitem.join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            lineitem.l_partkey == part.p_partkey,
        )
        .groupBy(
            "p_brand", F.date_trunc("month", "l_shipdate").alias("mth")
        )
        .agg(
            F.sum(F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)")).alias(
                "cents"
            ),
            F.sum(F.col("l_quantity").cast("long")).alias("qty"),
        )
        .where((F.col("qty") > 0) & (F.col("cents") > 0))
        .select(
            "p_brand",
            "mth",
            F.round(F.log("qty") * 1000).cast("long").alias("lq"),
            F.round(F.log(F.expr("cents DIV qty")) * 1000)
            .cast("long")
            .alias("lp"),
        )
    )
    a = monthly.select(
        F.col("p_brand").alias("brand_a"), "mth", F.col("lq").alias("y")
    )
    b = monthly.select(
        F.col("p_brand").alias("brand_b"), "mth", F.col("lp").alias("x")
    )
    pts = a.join(b, "mth").where(F.col("brand_a") != F.col("brand_b"))
    agg = pts.groupBy("brand_a", "brand_b").agg(
        F.count("*").cast("long").alias("n_months"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    num = "(n_months * sxy - sx * sy)"
    den = "(n_months * sxx - sx * sx)"
    return (
        agg.where(F.expr(f"{den} <> 0"))
        .select(
            "brand_a",
            "brand_b",
            "n_months",
            F.expr(
                f"CAST(CASE WHEN {num} < 0 THEN -1 ELSE 1 END"
                f" * ((2000 * abs({num}) + abs({den}))"
                f" DIV (2 * abs({den}))) AS BIGINT)"
            ).alias("cross_elasticity_milli"),
        )
        .orderBy("brand_a", "brand_b")
    )


CROSS_ELASTICITY_SQL = """
    WITH monthly AS (
        SELECT p.p_brand, date_trunc('month', l.l_shipdate) AS mth,
               CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS cents,
               CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY 1, 2
        HAVING SUM(CAST(l.l_quantity AS BIGINT)) > 0
           AND SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT)) > 0
    ),
    pts0 AS (
        SELECT p_brand, mth,
               CAST(round(ln(qty) * 1000) AS BIGINT) AS lq,
               CAST(round(ln(cents // qty) * 1000) AS BIGINT) AS lp
        FROM monthly
    ),
    agg AS (
        SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
               CAST(COUNT(*) AS BIGINT) AS n_months,
               CAST(SUM(b.lp) AS BIGINT) AS sx,
               CAST(SUM(a.lq) AS BIGINT) AS sy,
               CAST(SUM(b.lp * a.lq) AS BIGINT) AS sxy,
               CAST(SUM(b.lp * b.lp) AS BIGINT) AS sxx
        FROM pts0 a JOIN pts0 b
          ON a.mth = b.mth AND a.p_brand <> b.p_brand
        GROUP BY 1, 2
    )
    SELECT brand_a, brand_b, n_months,
           CAST((CASE WHEN (n_months * sxy - sx * sy) < 0 THEN -1 ELSE 1 END)
                * ((2000 * abs(n_months * sxy - sx * sy)
                    + abs(n_months * sxx - sx * sx))
                   // (2 * abs(n_months * sxx - sx * sx))) AS BIGINT)
               AS cross_elasticity_milli
    FROM agg
    WHERE (n_months * sxx - sx * sx) <> 0
    ORDER BY brand_a, brand_b
"""


# --- returns by discount band -------------------------------------------------------


def returns_by_discount(lineitem: DataFrame) -> DataFrame:
    """Adverse-selection check on promotions: do discounted lines come
    back more? Return rate (l_returnflag = 'R') per discount band — the
    margin-and-quality readout discount_lift (revenue) and the p-chart
    (time) both miss: a discount that moves units which then return has
    negative true lift.

    Bands are exact integer percent floors of the discount (0, 1-2,
    3-5, 6+). Output per band: (discount_band, n_lines, n_returned,
    return_milli, returned_rev_cents).

    Scale shape: one narrow projection + bounded band rollup."""
    band = (
        F.when(F.expr("CAST(round(l_discount * 100) AS INT)") <= 0, "00")
        .when(F.expr("CAST(round(l_discount * 100) AS INT)") <= 2, "01-02")
        .when(F.expr("CAST(round(l_discount * 100) AS INT)") <= 5, "03-05")
        .otherwise("06+")
    )
    return (
        lineitem.select(
            band.alias("discount_band"),
            (F.col("l_returnflag") == "R").cast("long").alias("ret"),
            F.expr(
                "CAST(round(l_extendedprice * (1 - l_discount) * 100)"
                " AS BIGINT)"
            ).alias("cents"),
        )
        .groupBy("discount_band")
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            F.sum("ret").cast("long").alias("n_returned"),
            F.sum(F.col("ret") * F.col("cents")).cast("long").alias(
                "returned_rev_cents"
            ),
        )
        .withColumn(
            "return_milli",
            F.expr("CAST(1000 * n_returned DIV n_lines AS BIGINT)"),
        )
        .select(
            "discount_band", "n_lines", "n_returned", "return_milli",
            "returned_rev_cents",
        )
        .orderBy("discount_band")
    )


RETURNS_BY_DISCOUNT_SQL = """
    WITH graded AS (
        SELECT CASE WHEN CAST(round(l_discount * 100) AS INT) <= 0 THEN '00'
                    WHEN CAST(round(l_discount * 100) AS INT) <= 2 THEN '01-02'
                    WHEN CAST(round(l_discount * 100) AS INT) <= 5 THEN '03-05'
                    ELSE '06+' END AS discount_band,
               CAST(l_returnflag = 'R' AS BIGINT) AS ret,
               CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
                   AS cents
        FROM lineitem
    )
    SELECT discount_band,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(ret) AS BIGINT) AS n_returned,
           CAST(1000 * SUM(ret) // COUNT(*) AS BIGINT) AS return_milli,
           CAST(SUM(ret * cents) AS BIGINT) AS returned_rev_cents
    FROM graded
    GROUP BY discount_band
    ORDER BY discount_band
"""


# --- CUBE revenue -------------------------------------------------------------------


def cube_revenue(lineitem: DataFrame) -> DataFrame:
    """Full CUBE over (returnflag, linestatus): all four granularities
    — detail, each single-dimension margin, and the grand total — in
    one Expand + single-shuffle aggregate. Completes the multi-grain
    trio next to ROLLUP (hierarchical prefixes) and explicit GROUPING
    SETS (arbitrary families): CUBE is the power-set case a pivoted BI
    dashboard's margin row AND column need at once.

    Revenue stays exact: cents BIGINTs per the house convention;
    ``grouping_id`` disambiguates subtotal rows from genuine values.

    Scale shape: one fact scan, one Expand (×4), one hash aggregate on
    the tiny key domain."""
    base = lineitem.select(
        "l_returnflag",
        "l_linestatus",
        F.expr(
            "CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)"
        ).alias("cents"),
    )
    return (
        base.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            F.sum("cents").cast("long").alias("rev_cents"),
            F.count("*").cast("long").alias("n_lines"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "gid",
            "rev_cents",
            "n_lines",
        )
        .orderBy("gid", "returnflag", "linestatus")
    )


CUBE_REVENUE_SQL = """
    SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           COALESCE(l_linestatus, 'ALL') AS linestatus,
           CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS gid,
           CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                         AS BIGINT)) AS BIGINT) AS rev_cents,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    ORDER BY gid, returnflag, linestatus
"""


# --- variance decomposition ---------------------------------------------------------


def variance_decomposition(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """One-way variance decomposition of monthly revenue by brand: how
    much of month-to-month revenue variance is BETWEEN brands (mix)
    vs WITHIN brands (volatility) — the exact-integer eta² that says
    whether revenue risk is concentration or noise.

    Overflow discipline: cell values CENTER on the global mean first
    (variance is translation-invariant), so every subsequent square is
    a deviation² — small — instead of a corpus-total² that overflows
    BIGINT (DuckDB raises on it; non-ANSI Spark would wrap silently,
    which is exactly the class of bug this house rule exists to kill).
    The center is a 1-row broadcast scalar. SS identity
    SS_total = SS_between + SS_within holds by construction. Output one
    row: (n_cells, n_brands, ss_between_dollars2, ss_within_dollars2,
    eta_sq_milli).

    Scale shape: one (brand, month) aggregate, a 1-row center scalar,
    one brand rollup, 1-row combine."""
    cells = (
        lineitem.join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            lineitem.l_partkey == part.p_partkey,
        )
        .groupBy("p_brand", F.date_trunc("month", "l_shipdate").alias("mth"))
        .agg(
            F.expr(
                "CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount)"
                " * 100) AS BIGINT)) DIV 100 AS BIGINT)"
            ).alias("d")
        )
    )
    center = cells.agg(
        F.expr("CAST(SUM(d) DIV COUNT(*) AS BIGINT)").alias("c")
    )
    centered = cells.crossJoin(F.broadcast(center)).select(
        "p_brand", (F.col("d") - F.col("c")).alias("d")
    )
    per_brand = centered.groupBy("p_brand").agg(
        F.count("*").alias("ng"),
        F.sum("d").alias("sg"),
        F.sum(F.col("d") * F.col("d")).alias("sqg"),
    )
    totals = per_brand.agg(
        F.sum("ng").alias("n"),
        F.sum("sg").alias("s"),
        F.sum("sqg").alias("sq"),
        F.count("*").cast("long").alias("n_brands"),
        F.sum(
            F.expr("CAST((2 * sg * sg + ng) DIV (2 * ng) AS BIGINT)")
        ).alias("sb_raw"),
    )
    return totals.select(
        F.col("n").cast("long").alias("n_cells"),
        "n_brands",
        F.expr(
            "CAST(sb_raw - (2 * s * s + n) DIV (2 * n) AS BIGINT)"
        ).alias("ss_between_dollars2"),
        F.expr("CAST(sq - sb_raw AS BIGINT)").alias("ss_within_dollars2"),
        F.expr(
            "CASE WHEN sq - (2 * s * s + n) DIV (2 * n) > 0 THEN"
            " CAST(1000 * (sb_raw - (2 * s * s + n) DIV (2 * n))"
            " DIV (sq - (2 * s * s + n) DIV (2 * n)) AS BIGINT)"
            " ELSE CAST(0 AS BIGINT) END"
        ).alias("eta_sq_milli"),
    )


VARIANCE_DECOMPOSITION_SQL = """
    WITH cells AS (
        SELECT p.p_brand, date_trunc('month', l.l_shipdate) AS mth,
               CAST(SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount)
                                   * 100) AS BIGINT)) // 100 AS BIGINT) AS d
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY 1, 2
    ),
    center AS (SELECT CAST(SUM(d) // COUNT(*) AS BIGINT) AS c FROM cells),
    centered AS (
        SELECT p_brand, CAST(d - c AS BIGINT) AS d
        FROM cells CROSS JOIN center
    ),
    per_brand AS (
        SELECT p_brand,
               CAST(COUNT(*) AS BIGINT) AS ng,
               CAST(SUM(d) AS BIGINT) AS sg,
               CAST(SUM(d * d) AS BIGINT) AS sqg
        FROM centered GROUP BY p_brand
    ),
    totals AS (
        SELECT CAST(SUM(ng) AS BIGINT) AS n,
               CAST(SUM(sg) AS BIGINT) AS s,
               CAST(SUM(sqg) AS BIGINT) AS sq,
               CAST(COUNT(*) AS BIGINT) AS n_brands,
               CAST(SUM((2 * sg * sg + ng) // (2 * ng)) AS BIGINT) AS sb_raw
        FROM per_brand
    )
    SELECT n AS n_cells, n_brands,
           CAST(sb_raw - (2 * s * s + n) // (2 * n) AS BIGINT)
               AS ss_between_dollars2,
           CAST(sq - sb_raw AS BIGINT) AS ss_within_dollars2,
           CASE WHEN sq - (2 * s * s + n) // (2 * n) > 0 THEN
                CAST(1000 * (sb_raw - (2 * s * s + n) // (2 * n))
                     // (sq - (2 * s * s + n) // (2 * n)) AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS eta_sq_milli
    FROM totals
"""


# --- Lorenz curve points ------------------------------------------------------------


def lorenz_points(orders: DataFrame) -> DataFrame:
    """Lorenz curve of customer spend at decile points — the plottable
    curve behind the one-number Gini (segment_spend_gini): cumulative
    revenue share held by the bottom d deciles of customers. The
    "bottom 50% of customers hold 9% of revenue" readout.

    Deciles are exact rank arithmetic over per-customer spend
    ascending (ties by custkey); shares are exact milli of cents sums.
    Output per decile d ∈ 0..9: (decile, n_customers, decile_cents,
    cum_share_milli).

    Scale shape: one custkey aggregate, one rank window over the
    customer grain, bounded decile rollup + cumulative window over 10
    rows."""
    spend = orders.groupBy("o_custkey").agg(
        F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")).alias(
            "cents"
        )
    )
    ranked = spend.select(
        "cents",
        F.expr(
            "CAST(10 * (CAST(row_number() OVER (ORDER BY cents, o_custkey)"
            " AS BIGINT) - 1) DIV count(*) OVER () AS BIGINT)"
        ).alias("decile"),
    )
    panel = ranked.groupBy("decile").agg(
        F.count("*").cast("long").alias("n_customers"),
        F.sum("cents").cast("long").alias("decile_cents"),
    )
    return panel.select(
        "decile",
        "n_customers",
        "decile_cents",
        F.expr(
            "CAST(1000 * SUM(decile_cents) OVER (ORDER BY decile"
            " ROWS UNBOUNDED PRECEDING)"
            " DIV SUM(decile_cents) OVER () AS BIGINT)"
        ).alias("cum_share_milli"),
    ).orderBy("decile")


LORENZ_POINTS_SQL = """
    WITH spend AS (
        SELECT o_custkey,
               CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM orders GROUP BY o_custkey
    ),
    ranked AS (
        SELECT cents,
               CAST(10 * (row_number() OVER (ORDER BY cents, o_custkey) - 1)
                    // COUNT(*) OVER () AS BIGINT) AS decile
        FROM spend
    ),
    panel AS (
        SELECT decile,
               CAST(COUNT(*) AS BIGINT) AS n_customers,
               CAST(SUM(cents) AS BIGINT) AS decile_cents
        FROM ranked GROUP BY decile
    )
    SELECT decile, n_customers, decile_cents,
           CAST(1000 * SUM(decile_cents) OVER (ORDER BY decile
                    ROWS UNBOUNDED PRECEDING)
                // SUM(decile_cents) OVER () AS BIGINT) AS cum_share_milli
    FROM panel
    ORDER BY decile
"""


# --- effective tax profile ----------------------------------------------------------


def tax_profile(lineitem: DataFrame) -> DataFrame:
    """Effective tax-rate audit per return flag: nominal l_tax is a
    per-line rate, but the EFFECTIVE rate on net revenue is what the
    ledger reconciles — mix shifts move it even when nominal rates
    don't. Per flag: net revenue, tax collected, effective rate (milli)
    and the min/max nominal rate observed (milli) to bound the mix.

    Tax cents per line follow the house rounding (net · tax, rounded
    once). Exact integers.

    Scale shape: one narrow projection + bounded flag rollup."""
    graded = lineitem.select(
        "l_returnflag",
        F.expr(
            "CAST(round(l_extendedprice * (1 - l_discount) * 100)"
            " AS BIGINT)"
        ).alias("net_cents"),
        F.expr(
            "CAST(round(l_extendedprice * (1 - l_discount) * l_tax * 100)"
            " AS BIGINT)"
        ).alias("tax_cents"),
        F.expr("CAST(round(l_tax * 1000) AS BIGINT)").alias("rate_milli"),
    )
    return (
        graded.groupBy("l_returnflag")
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            F.sum("net_cents").cast("long").alias("net_cents"),
            F.sum("tax_cents").cast("long").alias("tax_cents"),
            F.min("rate_milli").cast("long").alias("min_rate_milli"),
            F.max("rate_milli").cast("long").alias("max_rate_milli"),
        )
        .withColumn(
            "effective_milli",
            F.expr(
                "CASE WHEN net_cents > 0 THEN"
                " CAST(1000 * tax_cents DIV net_cents AS BIGINT)"
                " ELSE CAST(0 AS BIGINT) END"
            ),
        )
        .orderBy("l_returnflag")
    )


TAX_PROFILE_SQL = """
    WITH graded AS (
        SELECT l_returnflag,
               CAST(round(l_extendedprice * (1 - l_discount) * 100)
                    AS BIGINT) AS net_cents,
               CAST(round(l_extendedprice * (1 - l_discount) * l_tax * 100)
                    AS BIGINT) AS tax_cents,
               CAST(round(l_tax * 1000) AS BIGINT) AS rate_milli
        FROM lineitem
    )
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(net_cents) AS BIGINT) AS net_cents,
           CAST(SUM(tax_cents) AS BIGINT) AS tax_cents,
           CAST(MIN(rate_milli) AS BIGINT) AS min_rate_milli,
           CAST(MAX(rate_milli) AS BIGINT) AS max_rate_milli,
           CASE WHEN SUM(net_cents) > 0 THEN
                CAST(1000 * SUM(tax_cents) // SUM(net_cents) AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS effective_milli
    FROM graded
    GROUP BY l_returnflag
    ORDER BY l_returnflag
"""


# --- unit-price consistency ---------------------------------------------------------


def price_consistency(lineitem: DataFrame) -> DataFrame:
    """Unit-price consistency audit per part: the master-data check
    that the same part doesn't sell at wildly different unit prices
    (entry errors, unauthorized discounts, currency mix-ups). Unit
    price is exact floor cents (line net DIV quantity); parts with more
    than one distinct unit price report their spread.

    Output: the top 100 offenders by relative spread —
    (l_partkey, n_lines, n_prices, min_unit_cents, max_unit_cents,
    spread_milli) with spread = (max−min)/min.

    Scale shape: one part-keyed aggregate off the fact scan;
    distributed top-k (TakeOrderedAndProject), never a global sort."""
    units = lineitem.where(F.col("l_quantity") > 0).select(
        "l_partkey",
        F.expr(
            "CAST(CAST(round(l_extendedprice * (1 - l_discount) * 100)"
            " AS BIGINT) DIV CAST(l_quantity AS BIGINT) AS BIGINT)"
        ).alias("unit_cents"),
    )
    return (
        units.groupBy("l_partkey")
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            F.count_distinct("unit_cents").cast("long").alias("n_prices"),
            F.min("unit_cents").cast("long").alias("min_unit_cents"),
            F.max("unit_cents").cast("long").alias("max_unit_cents"),
        )
        .where((F.col("n_prices") > 1) & (F.col("min_unit_cents") > 0))
        .withColumn(
            "spread_milli",
            F.expr(
                "CAST(1000 * (max_unit_cents - min_unit_cents)"
                " DIV min_unit_cents AS BIGINT)"
            ),
        )
        .orderBy(F.desc("spread_milli"), "l_partkey")
        .limit(100)
    )


PRICE_CONSISTENCY_SQL = """
    WITH units AS (
        SELECT l_partkey,
               CAST(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                         AS BIGINT) // CAST(l_quantity AS BIGINT) AS BIGINT)
                   AS unit_cents
        FROM lineitem WHERE l_quantity > 0
    ),
    panel AS (
        SELECT l_partkey,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(COUNT(DISTINCT unit_cents) AS BIGINT) AS n_prices,
               CAST(MIN(unit_cents) AS BIGINT) AS min_unit_cents,
               CAST(MAX(unit_cents) AS BIGINT) AS max_unit_cents
        FROM units GROUP BY l_partkey
    )
    SELECT l_partkey, n_lines, n_prices, min_unit_cents, max_unit_cents,
           CAST(1000 * (max_unit_cents - min_unit_cents) // min_unit_cents
                AS BIGINT) AS spread_milli
    FROM panel
    WHERE n_prices > 1 AND min_unit_cents > 0
    ORDER BY spread_milli DESC, l_partkey
    LIMIT 100
"""


# --- moving annual total ------------------------------------------------------------

MAT_MONTHS = 12


def moving_annual_total(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """Moving annual total (MAT) per brand: trailing-{MAT_MONTHS}-month
    revenue at each month — the BI smoothing standard that removes
    seasonality without a model, and the denominator share-of-market
    trackers quote. RANGE window over the integer month index, so gaps
    in a brand's months still get the right trailing span.

    Output per (brand, month): (p_brand, month, rev_cents, mat_cents,
    n_months_in_window). Exact cents.

    Scale shape: one (brand, month) aggregate, one brand-partitioned
    RANGE window over the bounded month panel."""
    monthly = (
        lineitem.join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            lineitem.l_partkey == part.p_partkey,
        )
        .groupBy(
            "p_brand", F.date_trunc("month", "l_shipdate").alias("mth")
        )
        .agg(
            F.sum(
                F.expr(
                    "CAST(round(l_extendedprice * (1 - l_discount) * 100)"
                    " AS BIGINT)"
                )
            ).alias("rev_cents")
        )
        .select(
            "p_brand",
            F.col("mth").cast("date").alias("month"),
            (F.year("mth") * 12 + F.month("mth")).alias("midx"),
            "rev_cents",
        )
    )
    w = (
        Window.partitionBy("p_brand")
        .orderBy("midx")
        .rangeBetween(-(MAT_MONTHS - 1), 0)
    )
    return (
        monthly.select(
            "p_brand",
            "month",
            F.col("rev_cents").cast("long").alias("rev_cents"),
            F.sum("rev_cents").over(w).cast("long").alias("mat_cents"),
            F.count("*").over(w).cast("long").alias("n_months_in_window"),
        )
        .orderBy("p_brand", "month")
    )


MOVING_ANNUAL_TOTAL_SQL = f"""
    WITH monthly AS (
        SELECT p.p_brand,
               CAST(date_trunc('month', l.l_shipdate) AS DATE) AS month,
               year(date_trunc('month', l.l_shipdate)) * 12
                 + month(date_trunc('month', l.l_shipdate)) AS midx,
               CAST(SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount)
                                   * 100) AS BIGINT)) AS BIGINT) AS rev_cents
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY 1, 2, 3
    )
    SELECT p_brand, month, rev_cents,
           CAST(SUM(rev_cents) OVER (
               PARTITION BY p_brand ORDER BY midx
               RANGE BETWEEN {MAT_MONTHS - 1} PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS mat_cents,
           CAST(COUNT(*) OVER (
               PARTITION BY p_brand ORDER BY midx
               RANGE BETWEEN {MAT_MONTHS - 1} PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS n_months_in_window
    FROM monthly
    ORDER BY p_brand, month
"""


# --- 4-4-5 fiscal calendar ----------------------------------------------------------

FISCAL_EPOCH = "1994-12-26"  # Monday before the earliest shipdate:
# every datediff is non-negative, so trunc-DIV (Spark) == floor-// (DuckDB)


def fiscal_445_revenue(lineitem: DataFrame) -> DataFrame:
    """Revenue on the retail 4-4-5 fiscal calendar: 52-week fiscal
    years of four 13-week quarters, each split 4+4+5 weeks — the
    calendar merchandising actually plans on, where every period has
    the same number of weekends and "month over month" is comparable by
    construction (calendar months aren't: 28–31 days, 4–5 weekends).

    Pure integer week arithmetic off a fixed Monday epoch: fiscal year
    = week DIV 52, week-in-year = week MOD 52, quarter = wiy DIV 13,
    period-in-quarter from the 4/8 cutoffs. No calendar UDF, no date
    table — the same expression in both engines. Output per
    (fiscal_year, fiscal_period): revenue, lines, weeks observed.

    Scale shape: narrow projection + bounded (year, period) rollup."""
    wk = F.expr(
        f"CAST(datediff(CAST(l_shipdate AS DATE), DATE '{FISCAL_EPOCH}')"
        " AS BIGINT) DIV 7"
    )
    graded = lineitem.select(
        F.expr(
            "CAST(round(l_extendedprice * (1 - l_discount) * 100)"
            " AS BIGINT)"
        ).alias("cents"),
        wk.alias("wk"),
    ).select(
        "cents",
        "wk",
        F.expr("CAST(wk DIV 52 AS BIGINT)").alias("fiscal_year"),
        F.expr(
            "CAST(3 * ((wk % 52) DIV 13)"
            " + CASE WHEN (wk % 52) % 13 < 4 THEN 0"
            "        WHEN (wk % 52) % 13 < 8 THEN 1 ELSE 2 END + 1"
            " AS BIGINT)"
        ).alias("fiscal_period"),
    )
    return (
        graded.groupBy("fiscal_year", "fiscal_period")
        .agg(
            F.sum("cents").cast("long").alias("rev_cents"),
            F.count("*").cast("long").alias("n_lines"),
            F.count_distinct("wk").cast("long").alias("n_weeks"),
        )
        .orderBy("fiscal_year", "fiscal_period")
    )


FISCAL_445_REVENUE_SQL = f"""
    WITH graded AS (
        SELECT CAST(round(l_extendedprice * (1 - l_discount) * 100)
                    AS BIGINT) AS cents,
               CAST(date_diff('day', DATE '{FISCAL_EPOCH}',
                              CAST(l_shipdate AS DATE)) AS BIGINT) // 7 AS wk
        FROM lineitem
    ),
    mapped AS (
        SELECT cents, wk,
               CAST(wk // 52 AS BIGINT) AS fiscal_year,
               CAST(3 * ((wk % 52) // 13)
                    + CASE WHEN (wk % 52) % 13 < 4 THEN 0
                           WHEN (wk % 52) % 13 < 8 THEN 1 ELSE 2 END + 1
                    AS BIGINT) AS fiscal_period
        FROM graded
    )
    SELECT fiscal_year, fiscal_period,
           CAST(SUM(cents) AS BIGINT) AS rev_cents,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(COUNT(DISTINCT wk) AS BIGINT) AS n_weeks
    FROM mapped
    GROUP BY 1, 2
    ORDER BY 1, 2
"""


# --- day-of-month profile -----------------------------------------------------------


def dom_profile(orders: DataFrame) -> DataFrame:
    """Intra-month revenue cadence: order count and revenue share per
    day-of-month — the paycheck-cycle curve (spikes at the 1st/15th)
    that staffing, promo timing, and anomaly baselines need; the DOW
    ANOVA can't see it (weekday and day-of-month decorrelate over
    months). Output per day 1..31: (dom, n_orders, rev_cents,
    rev_share_milli).

    Scale shape: narrow projection + bounded 31-row rollup; the share
    divides by a window total over the panel."""
    graded = orders.select(
        F.dayofmonth("o_orderdate").cast("long").alias("dom"),
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    return (
        graded.groupBy("dom")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("rev_cents"),
        )
        .select(
            "dom",
            "n_orders",
            "rev_cents",
            F.expr(
                "CAST(1000 * rev_cents DIV (SUM(rev_cents) OVER ())"
                " AS BIGINT)"
            ).alias("rev_share_milli"),
        )
        .orderBy("dom")
    )


DOM_PROFILE_SQL = """
    WITH panel AS (
        SELECT CAST(dayofmonth(o_orderdate) AS BIGINT) AS dom,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS rev_cents
        FROM orders GROUP BY 1
    )
    SELECT dom, n_orders, rev_cents,
           CAST(1000 * rev_cents // (SUM(rev_cents) OVER ()) AS BIGINT)
               AS rev_share_milli
    FROM panel
    ORDER BY dom
"""


# --- order-status mix ---------------------------------------------------------------


def status_mix(orders: DataFrame) -> DataFrame:
    """Order-status mix per month: open / in-process / fulfilled shares
    — the operational funnel panel (a rising 'O' share means intake is
    outpacing fulfillment long before backlog alarms fire). Output per
    (month, status): n_orders, rev_cents, share_milli of the month.

    Scale shape: narrow projection + bounded (month, status) rollup;
    shares via a month-partition window over the panel."""
    graded = orders.select(
        F.date_trunc("month", "o_orderdate").cast("date").alias("month"),
        F.col("o_orderstatus").alias("status"),
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    return (
        graded.groupBy("month", "status")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("rev_cents"),
        )
        .select(
            "month",
            "status",
            "n_orders",
            "rev_cents",
            F.expr(
                "CAST(1000 * n_orders DIV (SUM(n_orders) OVER"
                " (PARTITION BY month)) AS BIGINT)"
            ).alias("share_milli"),
        )
        .orderBy("month", "status")
    )


STATUS_MIX_SQL = """
    WITH panel AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
               o_orderstatus AS status,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS rev_cents
        FROM orders GROUP BY 1, 2
    )
    SELECT month, status, n_orders, rev_cents,
           CAST(1000 * n_orders // (SUM(n_orders) OVER (PARTITION BY month))
                AS BIGINT) AS share_milli
    FROM panel
    ORDER BY month, status
"""


# --- supplier switching -------------------------------------------------------------

SWITCH_SPLIT_YEAR = 1998


def supplier_switching(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """Supplier-switching matrix per brand: of the parts shipped in both
    halves of the timeline (through {SWITCH_SPLIT_YEAR} vs after), how
    many kept their supplier set, widened it, narrowed it, or changed
    it outright — the procurement-stability readout single-period
    supplier counts (Q16 shape) can't show.

    Per (part, period): the distinct supplier set; classification by
    exact set algebra (same / superset / subset / changed). Output per
    brand: (p_brand, n_parts, n_same, n_widened, n_narrowed, n_changed,
    stable_milli).

    Scale shape: one (part, period) collect_set aggregate off the fact
    scan, one part-grain join of the two halves, brand rollup with the
    part dim broadcast."""
    sets = (
        lineitem.groupBy(
            "l_partkey",
            (F.year("l_shipdate") > SWITCH_SPLIT_YEAR).cast("int").alias(
                "period"
            ),
        )
        .agg(F.sort_array(F.collect_set("l_suppkey")).alias("supps"))
    )
    p0 = sets.where(F.col("period") == 0).select(
        "l_partkey", F.col("supps").alias("s0")
    )
    p1 = sets.where(F.col("period") == 1).select(
        "l_partkey", F.col("supps").alias("s1")
    )
    both = p0.join(p1, "l_partkey").select(
        "l_partkey",
        F.when(F.col("s0") == F.col("s1"), "same")
        .when(F.size(F.array_except("s0", "s1")) == 0, "widened")
        .when(F.size(F.array_except("s1", "s0")) == 0, "narrowed")
        .otherwise("changed")
        .alias("cls"),
    )
    return (
        both.join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            both.l_partkey == part.p_partkey,
        )
        .groupBy("p_brand")
        .agg(
            F.count("*").cast("long").alias("n_parts"),
            F.sum((F.col("cls") == "same").cast("long"))
            .cast("long")
            .alias("n_same"),
            F.sum((F.col("cls") == "widened").cast("long"))
            .cast("long")
            .alias("n_widened"),
            F.sum((F.col("cls") == "narrowed").cast("long"))
            .cast("long")
            .alias("n_narrowed"),
            F.sum((F.col("cls") == "changed").cast("long"))
            .cast("long")
            .alias("n_changed"),
        )
        .withColumn(
            "stable_milli",
            F.expr("CAST(1000 * n_same DIV n_parts AS BIGINT)"),
        )
        .orderBy("p_brand")
    )


SUPPLIER_SWITCHING_SQL = f"""
    WITH sets AS (
        SELECT l_partkey,
               CAST(year(l_shipdate) > {SWITCH_SPLIT_YEAR} AS INT) AS period,
               list_sort(list(DISTINCT l_suppkey)) AS supps
        FROM lineitem GROUP BY 1, 2
    ),
    paired AS (
        SELECT p0.l_partkey,
               CASE WHEN p0.supps = p1.supps THEN 'same'
                    WHEN len(list_filter(p0.supps,
                             x -> NOT list_contains(p1.supps, x))) = 0
                        THEN 'widened'
                    WHEN len(list_filter(p1.supps,
                             x -> NOT list_contains(p0.supps, x))) = 0
                        THEN 'narrowed'
                    ELSE 'changed' END AS cls
        FROM (SELECT * FROM sets WHERE period = 0) p0
        JOIN (SELECT * FROM sets WHERE period = 1) p1 USING (l_partkey)
    )
    SELECT p.p_brand,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(CASE WHEN cls = 'same' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_same,
           CAST(SUM(CASE WHEN cls = 'widened' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_widened,
           CAST(SUM(CASE WHEN cls = 'narrowed' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_narrowed,
           CAST(SUM(CASE WHEN cls = 'changed' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_changed,
           CAST(1000 * SUM(CASE WHEN cls = 'same' THEN 1 ELSE 0 END)
                // COUNT(*) AS BIGINT) AS stable_milli
    FROM paired b JOIN part p ON b.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    ORDER BY p.p_brand
"""


# --- quantity price breaks ----------------------------------------------------------

QTY_BANDS = ((1, 9), (10, 24), (25, 39), (40, 10**9))


def quantity_price_breaks(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """Bulk-discount ladder per brand: average unit price by quantity
    band — whether larger lines actually transact at lower unit prices,
    and by how much (the realized price break, which contract terms
    promise but order data has to confirm). Output per (brand, band):
    (p_brand, qty_band, n_lines, avg_unit_cents, break_milli) where
    break compares the band to the brand's smallest-quantity band.

    Exact integers: unit price is floor cents per unit at the LINE
    grain, band averages are half-up, the break is an abs/sign milli.

    Scale shape: one narrow banding projection, bounded (brand, band)
    rollup, a brand-partition window over the ≤4-row band panel."""
    band = F.lit(None).cast("string")
    for lo, hi in reversed(QTY_BANDS):
        label = f"{lo:02d}+" if hi >= 10**9 else f"{lo:02d}-{hi:02d}"
        band = F.when(
            (F.col("l_quantity") >= lo) & (F.col("l_quantity") <= hi), label
        ).otherwise(band)
    graded = (
        lineitem.where(F.col("l_quantity") > 0)
        .join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            lineitem.l_partkey == part.p_partkey,
        )
        .select(
            "p_brand",
            band.alias("qty_band"),
            F.expr(
                "CAST(CAST(round(l_extendedprice * (1 - l_discount) * 100)"
                " AS BIGINT) DIV CAST(l_quantity AS BIGINT) AS BIGINT)"
            ).alias("unit_cents"),
        )
    )
    panel = graded.groupBy("p_brand", "qty_band").agg(
        F.count("*").cast("long").alias("n_lines"),
        F.expr(
            "CAST((2 * SUM(unit_cents) + COUNT(*)) DIV (2 * COUNT(*))"
            " AS BIGINT)"
        ).alias("avg_unit_cents"),
    )
    w = Window.partitionBy("p_brand").orderBy("qty_band")
    return (
        panel.withColumn(
            "base_cents", F.first("avg_unit_cents").over(w)
        )
        .withColumn(
            "break_milli",
            F.expr(
                "CAST(CASE WHEN avg_unit_cents > base_cents THEN -1 ELSE 1"
                " END * (1000 * abs(base_cents - avg_unit_cents)"
                " DIV base_cents) AS BIGINT)"
            ),
        )
        .select(
            "p_brand", "qty_band", "n_lines", "avg_unit_cents", "break_milli"
        )
        .orderBy("p_brand", "qty_band")
    )


def quantity_price_breaks_sql() -> str:
    arms = " ".join(
        f"WHEN l_quantity >= {lo} AND l_quantity <= {hi} THEN "
        + (f"'{lo:02d}+'" if hi >= 10**9 else f"'{lo:02d}-{hi:02d}'")
        for lo, hi in QTY_BANDS
    )
    return f"""
        WITH graded AS (
            SELECT p.p_brand,
                   CASE {arms} END AS qty_band,
                   CAST(CAST(round(l.l_extendedprice * (1 - l.l_discount)
                                   * 100) AS BIGINT)
                        // CAST(l.l_quantity AS BIGINT) AS BIGINT)
                       AS unit_cents
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            WHERE l.l_quantity > 0
        ),
        panel AS (
            SELECT p_brand, qty_band,
                   CAST(COUNT(*) AS BIGINT) AS n_lines,
                   CAST((2 * SUM(unit_cents) + COUNT(*)) // (2 * COUNT(*))
                        AS BIGINT) AS avg_unit_cents
            FROM graded GROUP BY 1, 2
        ),
        based AS (
            SELECT *, FIRST(avg_unit_cents) OVER (
                       PARTITION BY p_brand ORDER BY qty_band
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS base_cents
            FROM panel
        )
        SELECT p_brand, qty_band, n_lines, avg_unit_cents,
               CAST((CASE WHEN avg_unit_cents > base_cents THEN -1 ELSE 1 END)
                    * (1000 * abs(base_cents - avg_unit_cents) // base_cents)
                    AS BIGINT) AS break_milli
        FROM based
        ORDER BY p_brand, qty_band
    """


# --- HHI concentration trend --------------------------------------------------------


def hhi_trend(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """Brand-concentration trend: the Herfindahl–Hirschman index of
    brand revenue shares per YEAR — whether the assortment is
    concentrating (platform risk) or fragmenting over time; the static
    concentration snapshot can't show direction.

    HHI in exact integer points (share² summed, shares in basis points
    → HHI 0..10000·10000 scaled to the conventional 0..10000 via one
    division): per (year, brand) revenue cents, shares in basis points
    against the year total (window over the bounded panel), HHI =
    Σ bp² / 10000. Output per year: (yr, n_brands, hhi_points,
    top_share_bp).

    Scale shape: one (year, brand) aggregate with the part dim
    broadcast, windows over the ≤|years|·|brands| panel."""
    panel = (
        lineitem.join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            lineitem.l_partkey == part.p_partkey,
        )
        .groupBy(F.year("l_shipdate").alias("yr"), "p_brand")
        .agg(
            F.sum(
                F.expr(
                    "CAST(round(l_extendedprice * (1 - l_discount) * 100)"
                    " AS BIGINT)"
                )
            ).alias("cents")
        )
    )
    w = Window.partitionBy("yr")
    shares = panel.select(
        "yr",
        F.expr(
            "CAST(10000 * cents DIV (SUM(cents) OVER (PARTITION BY yr))"
            " AS BIGINT)"
        ).alias("bp"),
    )
    return (
        shares.groupBy("yr")
        .agg(
            F.count("*").cast("long").alias("n_brands"),
            F.expr("CAST(SUM(bp * bp) DIV 10000 AS BIGINT)").alias(
                "hhi_points"
            ),
            F.max("bp").cast("long").alias("top_share_bp"),
        )
        .orderBy("yr")
    )


HHI_TREND_SQL = """
    WITH panel AS (
        SELECT year(l.l_shipdate) AS yr, p.p_brand,
               CAST(SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount)
                                   * 100) AS BIGINT)) AS BIGINT) AS cents
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY 1, 2
    ),
    shares AS (
        SELECT yr,
               CAST(10000 * cents // (SUM(cents) OVER (PARTITION BY yr))
                    AS BIGINT) AS bp
        FROM panel
    )
    SELECT yr,
           CAST(COUNT(*) AS BIGINT) AS n_brands,
           CAST(SUM(bp * bp) // 10000 AS BIGINT) AS hhi_points,
           CAST(MAX(bp) AS BIGINT) AS top_share_bp
    FROM shares
    GROUP BY yr
    ORDER BY yr
"""


# --- rounding-residue audit ----------------------------------------------------------


def rounding_residue(lineitem: DataFrame) -> DataFrame:
    """Penny-rounding audit per month: the sub-cent residue each line's
    round-to-cents discards, summed — the reconciliation gap between
    the cent-ledger and the raw price math, and the classic
    salami-slicing fraud check (a healthy book's net residue hovers
    near zero; a biased rounding path drifts linearly with volume).

    residue_centi = round(net·10000) − 100·round(net·100): the signed
    hundredth-of-a-cent remainder, computed ONCE per line from the same
    double both engines read. Output per month: (month, n_lines,
    net_residue_centicents, abs_residue_centicents, max_abs_centicents).

    Scale shape: narrow projection + bounded month rollup."""
    res = F.expr(
        "CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)"
        " - 100 * CAST(round(l_extendedprice * (1 - l_discount) * 100)"
        " AS BIGINT)"
    )
    graded = lineitem.select(
        F.date_trunc("month", "l_shipdate").cast("date").alias("month"),
        res.alias("r"),
    )
    return (
        graded.groupBy("month")
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            F.sum("r").cast("long").alias("net_residue_centicents"),
            F.sum(F.abs("r")).cast("long").alias("abs_residue_centicents"),
            F.max(F.abs("r")).cast("long").alias("max_abs_centicents"),
        )
        .orderBy("month")
    )


ROUNDING_RESIDUE_SQL = """
    WITH graded AS (
        SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
               CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                    AS BIGINT)
                 - 100 * CAST(round(l_extendedprice * (1 - l_discount) * 100)
                              AS BIGINT) AS r
        FROM lineitem
    )
    SELECT month,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(r) AS BIGINT) AS net_residue_centicents,
           CAST(SUM(abs(r)) AS BIGINT) AS abs_residue_centicents,
           CAST(MAX(abs(r)) AS BIGINT) AS max_abs_centicents
    FROM graded
    GROUP BY month
    ORDER BY month
"""


# --- Croston intermittent-demand forecast -------------------------------------------

CROSTON_ALPHA_MILLI = 200
CROSTON_MIN_SIZE = 48  # the sparse tail of the part catalog (intermittent slice)


def croston_forecast(
    lineitem: DataFrame,
    part: DataFrame,
    alpha_milli: int = CROSTON_ALPHA_MILLI,
    min_size: int = CROSTON_MIN_SIZE,
) -> DataFrame:
    """Croston's method per brand over the INTERMITTENT demand slice (parts
    with p_size >= min_size — the sparse tail where months with zero demand
    are common and plain exponential smoothing collapses toward zero between
    hits): two coupled exponential smoothers, one over NON-ZERO demand sizes
    z, one over the INTER-DEMAND intervals x, both updated only on demand
    months; the per-period forecast is z/x. The standard spare-parts /
    slow-mover forecaster (Croston 1972) that EOQ/reorder-point planning
    consumes for the long tail.

    The recursion is sequential, so it runs as ONE JVM array fold over each
    brand's dense month grid (the holt_level_trend treatment — never a
    driver loop); state is exact integer milli-units with half-up emits, so
    the fold is bit-identical to the oracle's recursive CTE. Demand
    quantities land as exact integer units (TPC-H quantities are whole).

    Scale shape: one (brand, month) aggregate; the dense grid is brands x
    months (bounded); per-brand folds are narrow array ops. Output per
    brand: (brand, n_months, demand_months, size_milli, interval_milli,
    forecast_per_month_milli)."""
    monthly = (
        lineitem.join(
            F.broadcast(part.where(F.col("p_size") >= min_size).select(
                "p_partkey", "p_brand"
            )),
            lineitem.l_partkey == F.col("p_partkey"),
        )
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.date_trunc("month", "l_shipdate").cast("date").alias("month"),
        )
        .agg(F.sum("l_quantity").cast("long").alias("qty"))
    )
    bounds = monthly.agg(
        F.min("month").alias("lo"), F.max("month").alias("hi")
    )
    months = bounds.select(
        F.explode(F.expr("sequence(lo, hi, interval 1 month)")).alias("month")
    )
    brands = monthly.select("brand").distinct()
    grid = (
        brands.crossJoin(F.broadcast(months))
        .join(monthly, ["brand", "month"], "left")
        .select("brand", "month", F.coalesce("qty", F.lit(0)).alias("qty"))
    )
    ys = grid.groupBy("brand").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("month", "qty"))),
            lambda s: s["qty"],
        ).alias("ys")
    )

    def hu(num: str) -> str:  # half-up milli emit (sizes/intervals are >= 0)
        return f"CAST((2 * ({num}) + 1000) DIV 2000 AS BIGINT)"

    a = alpha_milli
    # state: (started, z_milli, x_milli, q periods since last demand, nd)
    nz = hu(f"{a} * y * 1000 + {1000 - a} * acc.z")
    nx = hu(f"{a} * (acc.q + 1) * 1000 + {1000 - a} * acc.x")
    fold = F.expr(
        "aggregate(ys,"
        " named_struct('started', CAST(0 AS BIGINT), 'z', CAST(0 AS BIGINT),"
        "              'x', CAST(0 AS BIGINT), 'q', CAST(0 AS BIGINT),"
        "              'nd', CAST(0 AS BIGINT)),"
        " (acc, y) -> CASE"
        "   WHEN y = 0 THEN named_struct('started', acc.started, 'z', acc.z,"
        "        'x', acc.x, 'q', acc.q + 1, 'nd', acc.nd)"
        "   WHEN acc.started = 0 THEN named_struct('started', CAST(1 AS BIGINT),"
        "        'z', y * 1000, 'x', (acc.q + 1) * 1000,"
        "        'q', CAST(0 AS BIGINT), 'nd', acc.nd + 1)"
        "   ELSE named_struct('started', CAST(1 AS BIGINT),"
        f"        'z', {nz}, 'x', {nx},"
        "        'q', CAST(0 AS BIGINT), 'nd', acc.nd + 1) END,"
        " acc -> acc)"
    )
    return (
        ys.select("brand", F.size("ys").cast("long").alias("n_months"), fold.alias("s"))
        .where(F.col("s.started") == 1)
        .select(
            "brand",
            "n_months",
            F.col("s.nd").alias("demand_months"),
            F.col("s.z").alias("size_milli"),
            F.col("s.x").alias("interval_milli"),
            F.expr("CAST(s.z * 1000 DIV s.x AS BIGINT)").alias(
                "forecast_per_month_milli"
            ),
        )
        .orderBy("brand")
    )


def croston_forecast_sql(
    alpha_milli: int = CROSTON_ALPHA_MILLI, min_size: int = CROSTON_MIN_SIZE
) -> str:
    a = alpha_milli

    def hu(num: str) -> str:
        return f"CAST((2 * ({num}) + 1000) // 2000 AS BIGINT)"

    nz = hu(f"{a} * g.qty * 1000 + {1000 - a} * s.z")
    nx = hu(f"{a} * (s.q + 1) * 1000 + {1000 - a} * s.x")
    return f"""
        WITH RECURSIVE monthly AS (
            SELECT p.p_brand AS brand,
                   CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
                   CAST(SUM(l_quantity) AS BIGINT) AS qty
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            WHERE p.p_size >= {min_size}
            GROUP BY 1, 2
        ),
        bounds AS (SELECT MIN(month) AS lo, MAX(month) AS hi FROM monthly),
        months AS (
            SELECT month, row_number() OVER (ORDER BY month) AS idx
            FROM (SELECT CAST(unnest(generate_series(lo, hi,
                             INTERVAL 1 MONTH)) AS DATE) AS month
                  FROM bounds)
        ),
        nm AS (SELECT COUNT(*) AS n_months FROM months),
        grid AS (
            SELECT b.brand, m.month, m.idx, COALESCE(mo.qty, 0) AS qty
            FROM (SELECT DISTINCT brand FROM monthly) b
            CROSS JOIN months m
            LEFT JOIN monthly mo ON mo.brand = b.brand AND mo.month = m.month
        ),
        walk AS (
            SELECT brand, idx,
                   CASE WHEN qty = 0 THEN 0 ELSE 1 END AS started,
                   CASE WHEN qty = 0 THEN CAST(0 AS BIGINT)
                        ELSE qty * 1000 END AS z,
                   CASE WHEN qty = 0 THEN CAST(0 AS BIGINT)
                        ELSE idx * 1000 END AS x,
                   CASE WHEN qty = 0 THEN CAST(idx AS BIGINT)
                        ELSE CAST(0 AS BIGINT) END AS q,
                   CASE WHEN qty = 0 THEN CAST(0 AS BIGINT)
                        ELSE CAST(1 AS BIGINT) END AS nd
            FROM grid WHERE idx = 1
            UNION ALL
            SELECT g.brand, g.idx,
                   CASE WHEN g.qty > 0 THEN 1 ELSE s.started END,
                   CASE WHEN g.qty = 0 THEN s.z
                        WHEN s.started = 0 THEN g.qty * 1000
                        ELSE {nz} END,
                   CASE WHEN g.qty = 0 THEN s.x
                        WHEN s.started = 0 THEN (s.q + 1) * 1000
                        ELSE {nx} END,
                   CASE WHEN g.qty = 0 THEN s.q + 1 ELSE CAST(0 AS BIGINT) END,
                   CASE WHEN g.qty = 0 THEN s.nd ELSE s.nd + 1 END
            FROM walk s JOIN grid g ON g.brand = s.brand AND g.idx = s.idx + 1
        )
        SELECT w.brand,
               CAST(nm.n_months AS BIGINT) AS n_months,
               CAST(w.nd AS BIGINT) AS demand_months,
               CAST(w.z AS BIGINT) AS size_milli,
               CAST(w.x AS BIGINT) AS interval_milli,
               CAST(w.z * 1000 // w.x AS BIGINT) AS forecast_per_month_milli
        FROM walk w
        CROSS JOIN nm
        WHERE w.idx = CAST(nm.n_months AS BIGINT) AND w.started = 1
        ORDER BY w.brand
    """


# --- Syntetos-Boylan demand classification --------------------------------------------

ADI_CUT_MILLI = 1320  # 1.32 mean inter-demand interval
CV2_CUT_MILLI = 490   # 0.49 squared coefficient of variation


def demand_classification(
    lineitem: DataFrame,
    part: DataFrame,
    min_size: int = CROSTON_MIN_SIZE,
) -> DataFrame:
    """Syntetos-Boylan demand-pattern quadrants per brand over the sparse
    part slice — the router that decides WHICH forecaster each series gets
    (smooth -> exponential smoothing, intermittent -> croston_forecast,
    erratic/lumpy -> bootstrap/quantile methods): ADI (average inter-demand
    interval, months per demand month) x CV^2 (squared coefficient of
    variation of the NON-ZERO demand sizes), cut at the canonical
    1.32 / 0.49.

    Exact integers: ADI_milli = 1000*n_months DIV demand_months; CV^2 via
    the sufficient-stats identity (d*sum(q^2) - S^2) / S^2 at milli —
    population variance over mean squared, no float moments; the quadrant
    label compares milli integers against literal cuts, so both engines
    classify identically.

    Scale shape: one (brand, month) aggregate + a bounded brand rollup —
    no grid, no windows."""
    monthly = (
        lineitem.join(
            F.broadcast(
                part.where(F.col("p_size") >= min_size).select(
                    "p_partkey", "p_brand"
                )
            ),
            lineitem.l_partkey == F.col("p_partkey"),
        )
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.date_trunc("month", "l_shipdate").cast("date").alias("month"),
        )
        .agg(F.sum("l_quantity").cast("long").alias("qty"))
    )
    span = monthly.agg(
        F.expr(
            "CAST(months_between(date_trunc('month', MAX(month)),"
            " date_trunc('month', MIN(month))) AS BIGINT) + 1"
        ).alias("n_months")
    )
    per_brand = monthly.groupBy("brand").agg(
        F.count("*").cast("long").alias("demand_months"),
        F.sum("qty").cast("long").alias("s_qty"),
        F.sum(F.col("qty") * F.col("qty")).cast("long").alias("s_qty2"),
    )
    adi = F.expr("CAST(1000 * n_months DIV demand_months AS BIGINT)")
    cv2 = F.expr(
        "CAST(1000 * (demand_months * s_qty2 - s_qty * s_qty)"
        " DIV (s_qty * s_qty) AS BIGINT)"
    )
    return (
        per_brand.crossJoin(F.broadcast(span))
        .select(
            "brand",
            "n_months",
            "demand_months",
            adi.alias("adi_milli"),
            cv2.alias("cv2_milli"),
        )
        .withColumn(
            "pattern",
            F.when(
                (F.col("adi_milli") < ADI_CUT_MILLI)
                & (F.col("cv2_milli") < CV2_CUT_MILLI),
                "smooth",
            )
            .when(F.col("adi_milli") >= ADI_CUT_MILLI, F.when(
                F.col("cv2_milli") < CV2_CUT_MILLI, "intermittent"
            ).otherwise("lumpy"))
            .otherwise("erratic"),
        )
        .orderBy("brand")
    )


def demand_classification_sql(min_size: int = CROSTON_MIN_SIZE) -> str:
    return f"""
        WITH monthly AS (
            SELECT p.p_brand AS brand,
                   CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
                   CAST(SUM(l_quantity) AS BIGINT) AS qty
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            WHERE p.p_size >= {min_size}
            GROUP BY 1, 2
        ),
        span AS (
            SELECT CAST(date_diff('month', date_trunc('month', MIN(month)),
                        date_trunc('month', MAX(month))) AS BIGINT) + 1
                       AS n_months
            FROM monthly
        ),
        per_brand AS (
            SELECT brand,
                   CAST(COUNT(*) AS BIGINT) AS demand_months,
                   CAST(SUM(qty) AS BIGINT) AS s_qty,
                   CAST(SUM(qty * qty) AS BIGINT) AS s_qty2
            FROM monthly GROUP BY brand
        )
        SELECT brand, n_months, demand_months,
               CAST(1000 * n_months // demand_months AS BIGINT) AS adi_milli,
               CAST(1000 * (demand_months * s_qty2 - s_qty * s_qty)
                    // (s_qty * s_qty) AS BIGINT) AS cv2_milli,
               CASE WHEN 1000 * n_months // demand_months < {ADI_CUT_MILLI}
                         AND 1000 * (demand_months * s_qty2 - s_qty * s_qty)
                             // (s_qty * s_qty) < {CV2_CUT_MILLI} THEN 'smooth'
                    WHEN 1000 * n_months // demand_months >= {ADI_CUT_MILLI}
                         AND 1000 * (demand_months * s_qty2 - s_qty * s_qty)
                             // (s_qty * s_qty) < {CV2_CUT_MILLI}
                        THEN 'intermittent'
                    WHEN 1000 * n_months // demand_months >= {ADI_CUT_MILLI}
                        THEN 'lumpy'
                    ELSE 'erratic' END AS pattern
        FROM per_brand CROSS JOIN span
        ORDER BY brand
    """


# --- (s, S) replenishment policy simulation -------------------------------------------

SS_REORDER_POINT = 100   # units: reorder when on-hand falls below s
SS_ORDER_UP_TO = 400     # order up to S at each review


def ss_policy_simulation(
    lineitem: DataFrame,
    part: DataFrame,
    s_point: int = SS_REORDER_POINT,
    s_cap: int = SS_ORDER_UP_TO,
    min_size: int = CROSTON_MIN_SIZE,
) -> DataFrame:
    """Periodic-review (s, S) inventory policy replay per brand: walk the
    monthly demand series with start stock S; each month satisfy demand
    (lost sales below zero), then reorder up to S when on-hand < s — the
    what-if companion to croston_forecast/reorder_points that turns a
    forecastable series into policy KPIs: fill rate, stockout months,
    orders placed, average month-end inventory.

    Same execution shape as the croston fold: the walk is ONE JVM array
    fold per brand over the dense bounded month grid, exact integer units
    throughout; oracle is the recursive-CTE twin walking identical state.

    Scale shape: (brand, month) aggregate -> bounded grid -> narrow
    per-brand fold; output is ≤|brands| rows."""
    monthly = (
        lineitem.join(
            F.broadcast(
                part.where(F.col("p_size") >= min_size).select(
                    "p_partkey", "p_brand"
                )
            ),
            lineitem.l_partkey == F.col("p_partkey"),
        )
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.date_trunc("month", "l_shipdate").cast("date").alias("month"),
        )
        .agg(F.sum("l_quantity").cast("long").alias("qty"))
    )
    bounds = monthly.agg(F.min("month").alias("lo"), F.max("month").alias("hi"))
    months = bounds.select(
        F.explode(F.expr("sequence(lo, hi, interval 1 month)")).alias("month")
    )
    brands = monthly.select("brand").distinct()
    grid = (
        brands.crossJoin(F.broadcast(months))
        .join(monthly, ["brand", "month"], "left")
        .select("brand", "month", F.coalesce("qty", F.lit(0)).alias("qty"))
    )
    ys = grid.groupBy("brand").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("month", "qty"))),
            lambda st: st["qty"],
        ).alias("ys")
    )
    # state: (oh on-hand, served, demand, stockouts, orders, inv_sum)
    fold = F.expr(
        f"aggregate(ys,"
        f" named_struct('oh', CAST({s_cap} AS BIGINT), 'served', CAST(0 AS BIGINT),"
        f"              'dem', CAST(0 AS BIGINT), 'so', CAST(0 AS BIGINT),"
        f"              'ord', CAST(0 AS BIGINT), 'inv', CAST(0 AS BIGINT)),"
        f" (acc, y) -> named_struct("
        f"   'oh', CASE WHEN GREATEST(acc.oh - y, CAST(0 AS BIGINT)) < {s_point}"
        f"              THEN CAST({s_cap} AS BIGINT)"
        f"              ELSE GREATEST(acc.oh - y, CAST(0 AS BIGINT)) END,"
        f"   'served', acc.served + LEAST(acc.oh, y),"
        f"   'dem', acc.dem + y,"
        f"   'so', acc.so + CASE WHEN y > acc.oh THEN 1 ELSE 0 END,"
        f"   'ord', acc.ord + CASE WHEN GREATEST(acc.oh - y, CAST(0 AS BIGINT))"
        f"                              < {s_point} THEN 1 ELSE 0 END,"
        f"   'inv', acc.inv + GREATEST(acc.oh - y, CAST(0 AS BIGINT))),"
        f" acc -> acc)"
    )
    return (
        ys.select("brand", F.size("ys").cast("long").alias("n_months"), fold.alias("st"))
        .select(
            "brand",
            "n_months",
            F.col("st.dem").alias("total_demand"),
            F.col("st.served").alias("served"),
            F.col("st.so").alias("stockout_months"),
            F.col("st.ord").alias("orders_placed"),
            F.expr(
                "CAST(CASE WHEN st.dem > 0 THEN 1000 * st.served DIV st.dem"
                " ELSE 1000 END AS BIGINT)"
            ).alias("fill_rate_milli"),
            F.expr("CAST(st.inv DIV n_months AS BIGINT)").alias(
                "avg_month_end_units"
            ),
        )
        .orderBy("brand")
    )


def ss_policy_simulation_sql(
    s_point: int = SS_REORDER_POINT,
    s_cap: int = SS_ORDER_UP_TO,
    min_size: int = CROSTON_MIN_SIZE,
) -> str:
    return f"""
        WITH RECURSIVE monthly AS (
            SELECT p.p_brand AS brand,
                   CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
                   CAST(SUM(l_quantity) AS BIGINT) AS qty
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            WHERE p.p_size >= {min_size}
            GROUP BY 1, 2
        ),
        bounds AS (SELECT MIN(month) AS lo, MAX(month) AS hi FROM monthly),
        months AS (
            SELECT month, row_number() OVER (ORDER BY month) AS idx
            FROM (SELECT CAST(unnest(generate_series(lo, hi,
                             INTERVAL 1 MONTH)) AS DATE) AS month
                  FROM bounds)
        ),
        nm AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_months FROM months),
        grid AS (
            SELECT b.brand, m.idx, COALESCE(mo.qty, 0) AS qty
            FROM (SELECT DISTINCT brand FROM monthly) b
            CROSS JOIN months m
            LEFT JOIN monthly mo ON mo.brand = b.brand AND mo.month = m.month
        ),
        walk AS (
            SELECT brand, idx,
                   CASE WHEN GREATEST({s_cap} - qty, 0) < {s_point}
                        THEN CAST({s_cap} AS BIGINT)
                        ELSE CAST(GREATEST({s_cap} - qty, 0) AS BIGINT) END AS oh,
                   CAST(LEAST(CAST({s_cap} AS BIGINT), qty) AS BIGINT) AS served,
                   qty AS dem,
                   CAST(CASE WHEN qty > {s_cap} THEN 1 ELSE 0 END AS BIGINT) AS so,
                   CAST(CASE WHEN GREATEST({s_cap} - qty, 0) < {s_point}
                        THEN 1 ELSE 0 END AS BIGINT) AS ord,
                   CAST(GREATEST({s_cap} - qty, 0) AS BIGINT) AS inv
            FROM grid WHERE idx = 1
            UNION ALL
            SELECT g.brand, g.idx,
                   CASE WHEN GREATEST(w.oh - g.qty, 0) < {s_point}
                        THEN CAST({s_cap} AS BIGINT)
                        ELSE CAST(GREATEST(w.oh - g.qty, 0) AS BIGINT) END,
                   w.served + LEAST(w.oh, g.qty),
                   w.dem + g.qty,
                   w.so + CASE WHEN g.qty > w.oh THEN 1 ELSE 0 END,
                   w.ord + CASE WHEN GREATEST(w.oh - g.qty, 0) < {s_point}
                           THEN 1 ELSE 0 END,
                   w.inv + GREATEST(w.oh - g.qty, 0)
            FROM walk w JOIN grid g ON g.brand = w.brand AND g.idx = w.idx + 1
        )
        SELECT w.brand, nm.n_months,
               CAST(w.dem AS BIGINT) AS total_demand,
               CAST(w.served AS BIGINT) AS served,
               CAST(w.so AS BIGINT) AS stockout_months,
               CAST(w.ord AS BIGINT) AS orders_placed,
               CAST(CASE WHEN w.dem > 0 THEN 1000 * w.served // w.dem
                    ELSE 1000 END AS BIGINT) AS fill_rate_milli,
               CAST(w.inv // nm.n_months AS BIGINT) AS avg_month_end_units
        FROM walk w CROSS JOIN nm
        WHERE w.idx = nm.n_months
        ORDER BY w.brand
    """


# --- brand repurchase transitions -----------------------------------------------------


def brand_transition_matrix(
    lineitem: DataFrame, orders: DataFrame, part: DataFrame
) -> DataFrame:
    """Brand-to-brand repurchase transition matrix: for every pair of
    CONSECUTIVE orders by the same customer, the dominant brand of the
    earlier vs the later order — (prev_brand, next_brand, n_pairs,
    share_milli), share over each prev_brand row. The brand-loyalty /
    switching readout at the order grain (the customer-journey twin of
    events' type-transition matrix, and the brand analogue of
    supplier_switching's set-stability view).

    Dominant brand per order = max total quantity, ties to the
    lexicographically smallest brand (min over the (-qty, brand) struct —
    deterministic in both engines). Quantities quantize to exact centi
    units; shares are half-up integer milli.

    Scale shape: one (order, brand) aggregate off the fact scan, a
    per-order struct-min rollup, one customer-partitioned lag window over
    the order grain (keyed, never global), then a bounded
    |brands|^2 matrix rollup with a window over that matrix."""
    qty = F.expr("CAST(round(l_quantity * 100) AS BIGINT)")
    ob = (
        lineitem.select("l_orderkey", "l_partkey", qty.alias("q"))
        .join(part.select("p_partkey", "p_brand"), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_orderkey", "p_brand")
        .agg(F.sum("q").alias("bq"))
    )
    dom = (
        ob.select(
            "l_orderkey",
            F.struct((-F.col("bq")).alias("negq"), F.col("p_brand").alias("b")).alias("s"),
        )
        .groupBy("l_orderkey")
        .agg(F.min("s")["b"].alias("brand"))
    )
    seq = orders.select("o_orderkey", "o_custkey", "o_orderdate").join(
        dom, F.col("o_orderkey") == F.col("l_orderkey")
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    pairs = seq.select(
        F.lag("brand").over(w).alias("prev_brand"),
        F.col("brand").alias("next_brand"),
    ).where(F.col("prev_brand").isNotNull())
    matrix = pairs.groupBy("prev_brand", "next_brand").agg(
        F.count("*").cast("long").alias("n_pairs")
    )
    wp = Window.partitionBy("prev_brand")
    return matrix.select(
        "prev_brand",
        "next_brand",
        "n_pairs",
        F.expr(
            "CAST((2 * 1000 * n_pairs + SUM(n_pairs) OVER (PARTITION BY prev_brand))"
            " DIV (2 * SUM(n_pairs) OVER (PARTITION BY prev_brand)) AS BIGINT)"
        ).alias("share_milli"),
    ).orderBy("prev_brand", "next_brand")


def brand_transition_matrix_sql() -> str:
    return """
        WITH ob AS (
            SELECT l_orderkey, p_brand,
                   CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS bq
            FROM lineitem JOIN part ON l_partkey = p_partkey
            GROUP BY l_orderkey, p_brand
        ),
        dom AS (
            SELECT l_orderkey,
                   (MIN(struct_pack(negq := -bq, b := p_brand))).b AS brand
            FROM ob GROUP BY l_orderkey
        ),
        seq AS (
            SELECT o_custkey, o_orderdate, o_orderkey, brand
            FROM orders JOIN dom ON o_orderkey = l_orderkey
        ),
        pairs AS (
            SELECT LAG(brand) OVER (PARTITION BY o_custkey
                       ORDER BY o_orderdate, o_orderkey) AS prev_brand,
                   brand AS next_brand
            FROM seq
        ),
        matrix AS (
            SELECT prev_brand, next_brand, CAST(COUNT(*) AS BIGINT) AS n_pairs
            FROM pairs WHERE prev_brand IS NOT NULL
            GROUP BY prev_brand, next_brand
        )
        SELECT prev_brand, next_brand, n_pairs,
               CAST((2 * 1000 * n_pairs
                     + SUM(n_pairs) OVER (PARTITION BY prev_brand))
                    // (2 * SUM(n_pairs) OVER (PARTITION BY prev_brand))
                    AS BIGINT) AS share_milli
        FROM matrix
        ORDER BY prev_brand, next_brand
    """


# --- Laspeyres / Paasche / Fisher price index -------------------------------------------


def price_index_monthly(lineitem: DataFrame) -> DataFrame:
    """Monthly price indexes vs the first shipping month: (month, n_parts,
    laspeyres_milli, paasche_milli, fisher_milli), 1000 = base level.

    The index-number triple every pricing/inflation readout reduces to:
    Laspeyres holds the BASE month's part mix fixed (sum p_t q_0 / sum
    p_0 q_0), Paasche holds the CURRENT mix (sum p_t q_t / sum p_0 q_t),
    Fisher is their geometric mean (the "ideal" index). Per (part, month)
    the unit price is the value/quantity ratio; only parts traded in both
    the base and the current month enter (the matched-model convention).

    Exactness: value sums are exact cents and quantity sums exact centi
    units; two of the four index components ARE those integer sums
    (p_t*q_t = value_t, p_0*q_0 = value_0); the cross terms quantize per
    part to micro-cents before the integer sum, so no float rides the
    shuffle.

    Scale shape: one (part, month) aggregate off the fact scan, a
    broadcast 1-row base-month scalar, one part-keyed join of each month
    against the base slice, a bounded per-month rollup."""
    pm = lineitem.groupBy(
        "l_partkey",
        F.date_trunc("month", F.col("l_shipdate")).cast("date").alias("month"),
    ).agg(
        F.sum(F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)")).alias("v"),
        F.sum(F.expr("CAST(round(l_quantity * 100) AS BIGINT)")).alias("q"),
    ).where(F.col("q") > 0)
    base_m = pm.agg(F.min("month").alias("bm"))
    base = (
        pm.crossJoin(F.broadcast(base_m))
        .where(F.col("month") == F.col("bm"))
        .select("l_partkey", F.col("v").alias("v0"), F.col("q").alias("q0"))
    )
    joined = pm.join(base, "l_partkey").select(
        "month",
        "v",
        "v0",
        # cross terms p_t*q_0 and p_0*q_t, quantized per part to micro-cents
        F.expr("CAST(round(1e6 * CAST(v AS DOUBLE) * q0 / q) AS BIGINT)").alias(
            "ptq0_micro"
        ),
        F.expr("CAST(round(1e6 * CAST(v0 AS DOUBLE) * q / q0) AS BIGINT)").alias(
            "p0qt_micro"
        ),
    )
    agg = joined.groupBy("month").agg(
        F.count("*").cast("long").alias("n_parts"),
        F.sum("v").alias("sum_vt"),
        F.sum("v0").alias("sum_v0"),
        F.sum("ptq0_micro").alias("sum_ptq0"),
        F.sum("p0qt_micro").alias("sum_p0qt"),
    )
    lasp = "CAST(sum_ptq0 AS DOUBLE) / (1e6 * sum_v0)"
    paas = "1e6 * CAST(sum_vt AS DOUBLE) / sum_p0qt"
    return agg.select(
        "month",
        "n_parts",
        F.expr(f"CAST(round(1000.0 * {lasp}) AS BIGINT)").alias("laspeyres_milli"),
        F.expr(f"CAST(round(1000.0 * {paas}) AS BIGINT)").alias("paasche_milli"),
        F.expr(
            f"CAST(round(1000.0 * sqrt(({lasp}) * ({paas}))) AS BIGINT)"
        ).alias("fisher_milli"),
    ).orderBy("month")


def price_index_monthly_sql() -> str:
    lasp = "CAST(sum_ptq0 AS DOUBLE) / (1e6 * sum_v0)"
    paas = "1e6 * CAST(sum_vt AS DOUBLE) / sum_p0qt"
    return f"""
        WITH pm AS (
            SELECT l_partkey,
                   CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
                   CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
                        AS BIGINT) AS v,
                   CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT))
                        AS BIGINT) AS q
            FROM lineitem
            GROUP BY 1, 2
            HAVING SUM(CAST(round(l_quantity * 100) AS BIGINT)) > 0
        ),
        base AS (
            SELECT l_partkey, v AS v0, q AS q0 FROM pm
            WHERE month = (SELECT MIN(month) FROM pm)
        ),
        joined AS (
            SELECT month, v, v0,
                   CAST(round(1e6 * CAST(v AS DOUBLE) * q0 / q) AS BIGINT)
                       AS ptq0_micro,
                   CAST(round(1e6 * CAST(v0 AS DOUBLE) * q / q0) AS BIGINT)
                       AS p0qt_micro
            FROM pm JOIN base USING (l_partkey)
        ),
        agg AS (
            SELECT month, CAST(COUNT(*) AS BIGINT) AS n_parts,
                   CAST(SUM(v) AS BIGINT) AS sum_vt,
                   CAST(SUM(v0) AS BIGINT) AS sum_v0,
                   CAST(SUM(ptq0_micro) AS BIGINT) AS sum_ptq0,
                   CAST(SUM(p0qt_micro) AS BIGINT) AS sum_p0qt
            FROM joined GROUP BY month
        )
        SELECT month, n_parts,
               CAST(round(1000.0 * {lasp}) AS BIGINT) AS laspeyres_milli,
               CAST(round(1000.0 * {paas}) AS BIGINT) AS paasche_milli,
               CAST(round(1000.0 * sqrt(({lasp}) * ({paas}))) AS BIGINT)
                   AS fisher_milli
        FROM agg
        ORDER BY month
    """


# --- Hill tail-index estimator ----------------------------------------------------------

HILL_KS = (50, 100, 200)


def hill_tail_index(orders: DataFrame, ks: tuple[int, ...] = HILL_KS) -> DataFrame:
    """Hill estimator of the order-value tail index at several k:
    (k, x_ref_cents, hill_alpha_milli), one row per k, ordered.

    The Pareto/power-law tail-heaviness readout (Hill 1975): alpha_hat =
    k / sum_{i<=k} ln(x_(i)/x_(k+1)) over the k largest order totals.
    A stable alpha across k = genuine power-law tail (plan for extreme
    orders); alpha rising with k = the "tail" is really lognormal-ish.
    Complements evt_return_level (block maxima) with the
    peaks-over-threshold view.

    Exactness: order totals quantize to exact cents; each ln term is
    computed from two exact integers and quantized to nano before the
    integer sum (order-free); one double division at the emit.

    Scale shape: per k one distributed top-(k+1)
    (TakeOrderedAndProject — no global sort), a broadcast 1-row
    reference scalar, and the rest on the <=k+1-row pool."""
    cents = F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")
    out = None
    for k in ks:
        pool = (
            orders.select(cents.alias("c"), "o_orderkey")
            .orderBy(F.desc("c"), F.asc("o_orderkey"))
            .limit(k + 1)
        )
        ref = pool.agg(F.min("c").alias("x_ref"))
        terms = (
            pool.crossJoin(F.broadcast(ref))
            .withColumn(
                "rn",
                F.row_number().over(
                    Window.orderBy(F.desc("c"), F.asc("o_orderkey"))
                ),
            )
            .where(F.col("rn") <= k)
            .select(
                "x_ref",
                F.expr(
                    "CAST(round(1e9 * ln(CAST(c AS DOUBLE) / x_ref)) AS BIGINT)"
                ).alias("t_nano"),
            )
        )
        row = terms.groupBy("x_ref").agg(
            F.count("*").cast("long").alias("n_top"),
            F.sum("t_nano").alias("_s"),
        ).select(
            F.lit(k).cast("long").alias("k"),
            F.col("x_ref").alias("x_ref_cents"),
            F.expr(
                "CAST(CASE WHEN _s > 0 THEN"
                " round(1000.0 * n_top / (CAST(_s AS DOUBLE) / 1e9))"
                " ELSE 0 END AS BIGINT)"
            ).alias("hill_alpha_milli"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("k")


def hill_tail_index_sql(ks: tuple[int, ...] = HILL_KS) -> str:
    blocks = []
    for k in ks:
        blocks.append(f"""
        SELECT CAST({k} AS BIGINT) AS k,
               MAX(x_ref) AS x_ref_cents,
               CAST(CASE WHEN SUM(t_nano) > 0 THEN
                    round(1000.0 * COUNT(*) / (CAST(SUM(t_nano) AS DOUBLE) / 1e9))
                    ELSE 0 END AS BIGINT) AS hill_alpha_milli
        FROM (
            SELECT x_ref,
                   CAST(round(1e9 * ln(CAST(c AS DOUBLE) / x_ref)) AS BIGINT)
                       AS t_nano
            FROM (
                SELECT c, o_orderkey,
                       MIN(c) OVER () AS x_ref,
                       ROW_NUMBER() OVER (ORDER BY c DESC, o_orderkey) AS rn
                FROM (
                    SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c,
                           o_orderkey
                    FROM orders ORDER BY c DESC, o_orderkey LIMIT {k + 1}
                )
            )
            WHERE rn <= {k}
        )""")
    return " UNION ALL ".join(blocks) + " ORDER BY k"


# --- Theil inequality decomposition by nation ---------------------------------------------


def theil_decomposition_nation(
    orders: DataFrame, customer: DataFrame, nation: DataFrame
) -> DataFrame:
    """Theil T decomposition of customer-revenue inequality into BETWEEN-
    nation and WITHIN-nation components: three rows (component,
    theil_milli) for 'total', 'between', 'within' — total = between +
    within (the additivity Gini lacks, and the reason Theil is the
    decomposition tool).

    between = sum_g (S_g/S) ln((S_g/S)/(n_g/N)) over nations; within =
    sum_u (x_u/S) ln(x_u n_g / S_g) — each customer term uses only its
    OWN nation's scalars, so the whole decomposition is two keyed passes.

    Exactness: revenue is exact integer cents; every ln term quantizes to
    nano before its integer sum (order-free), same discipline as
    events_theil_index; the identity holds to quantization error
    (<= 0.5 nano per term).

    Scale shape: one customer-grain aggregate off orders, broadcast
    customer->nation dims, a <=|nations| group rollup, broadcast 1-row
    grand totals."""
    cents = F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")
    per_c = (
        orders.groupBy("o_custkey")
        .agg(F.sum(cents).alias("x"))
        .where(F.col("x") > 0)
        .join(
            F.broadcast(
                customer.select("c_custkey", "c_nationkey").join(
                    F.broadcast(nation.select("n_nationkey", "n_name")),
                    F.col("c_nationkey") == F.col("n_nationkey"),
                )
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select("n_name", "x")
    )
    groups = per_c.groupBy("n_name").agg(
        F.count("*").cast("long").alias("n_g"),
        F.sum("x").cast("long").alias("s_g"),
    )
    tot = groups.agg(
        F.sum("n_g").cast("long").alias("n"),
        F.sum("s_g").cast("long").alias("s"),
    )
    between = (
        groups.crossJoin(F.broadcast(tot))
        .select(
            F.expr(
                "CAST(round(1e9 * (CAST(s_g AS DOUBLE) / s)"
                " * ln((CAST(s_g AS DOUBLE) / s) / (CAST(n_g AS DOUBLE) / n)))"
                " AS BIGINT)"
            ).alias("t_nano")
        )
        .agg(F.sum("t_nano").alias("_t"))
        .select(
            F.lit("between").alias("component"),
            F.expr("CAST(round(CAST(_t AS DOUBLE) / 1e6) AS BIGINT)").alias(
                "theil_milli"
            ),
        )
    )
    per_c_terms = per_c.join(F.broadcast(groups), "n_name").crossJoin(
        F.broadcast(tot)
    )
    within = (
        per_c_terms.select(
            F.expr(
                "CAST(round(1e9 * (CAST(x AS DOUBLE) / s)"
                " * ln(CAST(x AS DOUBLE) * n_g / s_g)) AS BIGINT)"
            ).alias("t_nano")
        )
        .agg(F.sum("t_nano").alias("_t"))
        .select(
            F.lit("within").alias("component"),
            F.expr("CAST(round(CAST(_t AS DOUBLE) / 1e6) AS BIGINT)").alias(
                "theil_milli"
            ),
        )
    )
    total = (
        per_c.crossJoin(F.broadcast(tot))
        .select(
            F.expr(
                "CAST(round(1e9 * (CAST(x AS DOUBLE) / s)"
                " * ln(CAST(x AS DOUBLE) * n / s)) AS BIGINT)"
            ).alias("t_nano")
        )
        .agg(F.sum("t_nano").alias("_t"))
        .select(
            F.lit("total").alias("component"),
            F.expr("CAST(round(CAST(_t AS DOUBLE) / 1e6) AS BIGINT)").alias(
                "theil_milli"
            ),
        )
    )
    return total.unionByName(between).unionByName(within).orderBy("component")


def theil_decomposition_nation_sql() -> str:
    return """
        WITH per_c AS (
            SELECT n_name, x FROM (
                SELECT o_custkey,
                       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                            AS BIGINT) AS x
                FROM orders GROUP BY o_custkey
                HAVING SUM(CAST(round(o_totalprice * 100) AS BIGINT)) > 0
            ) o
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
        ),
        groups AS (
            SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_g,
                   CAST(SUM(x) AS BIGINT) AS s_g
            FROM per_c GROUP BY n_name
        ),
        tot AS (
            SELECT CAST(SUM(n_g) AS BIGINT) AS n, CAST(SUM(s_g) AS BIGINT) AS s
            FROM groups
        )
        SELECT 'total' AS component,
               CAST(round(CAST(SUM(CAST(round(1e9 * (CAST(x AS DOUBLE) / s)
                    * ln(CAST(x AS DOUBLE) * n / s)) AS BIGINT)) AS DOUBLE) / 1e6)
                    AS BIGINT) AS theil_milli
        FROM per_c CROSS JOIN tot
        UNION ALL
        SELECT 'between' AS component,
               CAST(round(CAST(SUM(CAST(round(1e9 * (CAST(s_g AS DOUBLE) / s)
                    * ln((CAST(s_g AS DOUBLE) / s) / (CAST(n_g AS DOUBLE) / n)))
                    AS BIGINT)) AS DOUBLE) / 1e6) AS BIGINT) AS theil_milli
        FROM groups CROSS JOIN tot
        UNION ALL
        SELECT 'within' AS component,
               CAST(round(CAST(SUM(CAST(round(1e9 * (CAST(x AS DOUBLE) / s)
                    * ln(CAST(x AS DOUBLE) * n_g / s_g)) AS BIGINT)) AS DOUBLE)
                    / 1e6) AS BIGINT) AS theil_milli
        FROM per_c JOIN groups USING (n_name) CROSS JOIN tot
        ORDER BY component
    """


def late_order_priority(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """TPC-H Q4 shape — order-priority checking: per priority class within
    one order quarter, how many orders had at least one LATE line (shipped
    90+ days after the order date): (o_orderpriority, late_orders).

    Q4's defining plan feature is the EXISTS decorrelated to a LEFT SEMI
    join (each qualifying order counted once no matter how many late lines)
    with a join-level predicate referencing BOTH sides (l_shipdate vs
    o_orderdate + 90 days), so the filter rides the join, not a post-pass.
    The reference's commit/receipt date pair maps to shipdate-vs-orderdate
    lag on this schema. Completes the TPC-H sweep alongside Q12's
    shipment-class counts (warehouse_shipmode_priority).

    Scale shape: the quarter predicate prunes the orders scan BEFORE the
    shuffle; semi join shuffles on the natural l_orderkey/o_orderkey key
    (no dedup pass — semi joins short-circuit); final <=5-group aggregate."""
    q = orders.where(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-04-01"))
    )
    late = q.join(
        lineitem.select("l_orderkey", "l_shipdate"),
        (F.col("o_orderkey") == F.col("l_orderkey"))
        & (F.col("l_shipdate") >= F.expr("o_orderdate + INTERVAL 90 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count("*").cast("long").alias("late_orders"))
        .orderBy("o_orderpriority")
    )


def late_order_priority_sql() -> str:
    return """
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS late_orders
        FROM orders o
        WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
          AND o.o_orderdate < TIMESTAMP '1996-04-01'
          AND EXISTS (
              SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate >= o.o_orderdate + INTERVAL 90 DAY
          )
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """


def measure_correlation(lineitem: DataFrame) -> DataFrame:
    """Pearson correlation matrix over the four lineitem measures
    (quantity, extendedprice, discount, tax) from ONE scan: six rows
    (pair, n, corr_micro) — the multicollinearity screen a feature
    pipeline runs before regressions (price_elasticity fits ONE pair;
    this profiles every pair at once, e.g. the engineered qty-price link).

    Exactness: correlation is scale-invariant, so each measure quantizes
    on a fixed integer grid (centi quantity/price, basis-point
    discount/tax); all 14 moment sums (4 sums, 4 squares, 6 cross
    products) accumulate as exact DECIMAL(38,0) in one partial+final
    aggregate; centered c_xy = n*Sxy - Sx*Sy stays exact DECIMAL and both
    engines finish with the identical double chain c_xy/sqrt(c_xx*c_yy).

    Scale shape: ONE map-side-combining 1-row aggregate over the fact scan
    (ReadSchema pruned to 4 columns), then a 6-row literal unpivot —
    nothing shuffles but 14 numbers."""
    d38 = "decimal(38,0)"
    q = F.expr("CAST(round(l_quantity * 100) AS BIGINT)").cast(d38)
    p = F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").cast(d38)
    dc = F.expr("CAST(round(l_discount * 10000) AS BIGINT)").cast(d38)
    tx = F.expr("CAST(round(l_tax * 10000) AS BIGINT)").cast(d38)
    cols = {"q": q, "p": p, "d": dc, "t": tx}
    aggs = [F.count("*").cast(d38).alias("n")]
    names = list(cols)
    for a in names:
        aggs.append(F.sum(cols[a]).cast(d38).alias(f"s_{a}"))
    for i, a in enumerate(names):
        for b in names[i:]:
            aggs.append(
                F.sum(cols[a] * cols[b]).cast(d38).alias(f"s_{a}{b}")
            )
    m = lineitem.agg(*aggs)
    pairs = [(a, b) for i, a in enumerate(names) for b in names[i + 1:]]
    pair_rows = []
    for a, b in pairs:
        pair_rows.append(
            f"STRUCT('{a}~{b}' AS pair,"
            f" CAST(n * s_{a}{b} - s_{a} * s_{b} AS DOUBLE) AS cxy,"
            f" CAST(n * s_{a}{a} - s_{a} * s_{a} AS DOUBLE) AS cxx,"
            f" CAST(n * s_{b}{b} - s_{b} * s_{b} AS DOUBLE) AS cyy)"
        )
    return (
        m.select(
            F.col("n").cast("long").alias("n"),
            F.explode(F.expr("ARRAY(" + ", ".join(pair_rows) + ")")).alias(
                "pr"
            ),
        )
        .select(
            F.col("pr.pair").alias("pair"),
            "n",
            F.expr(
                "CAST(CASE WHEN pr.cxx > 0 AND pr.cyy > 0"
                " THEN round(1e6 * pr.cxy / sqrt(pr.cxx * pr.cyy))"
                " ELSE 0 END AS BIGINT)"
            ).alias("corr_micro"),
        )
        .orderBy("pair")
    )


def measure_correlation_sql() -> str:
    names = ["q", "p", "d", "t"]
    pairs = [(a, b) for i, a in enumerate(names) for b in names[i + 1:]]
    arms = "\n            UNION ALL\n".join(
        f"""            SELECT '{a}~{b}' AS pair, CAST(n AS BIGINT) AS n,
                   CAST(CASE WHEN n * s_{a}{a} - s_{a} * s_{a} > 0
                             AND n * s_{b}{b} - s_{b} * s_{b} > 0
                        THEN round(1e6
                             * CAST(n * s_{a}{b} - s_{a} * s_{b} AS DOUBLE)
                             / sqrt(CAST(n * s_{a}{a} - s_{a} * s_{a} AS DOUBLE)
                                    * CAST(n * s_{b}{b} - s_{b} * s_{b} AS DOUBLE)))
                        ELSE 0 END AS BIGINT) AS corr_micro
            FROM m"""
        for a, b in pairs
    )
    return f"""
        WITH v AS (
            SELECT CAST(CAST(round(l_quantity * 100) AS BIGINT) AS HUGEINT) AS q,
                   CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS HUGEINT) AS p,
                   CAST(CAST(round(l_discount * 10000) AS BIGINT) AS HUGEINT) AS d,
                   CAST(CAST(round(l_tax * 10000) AS BIGINT) AS HUGEINT) AS t
            FROM lineitem
        ),
        m AS (
            SELECT CAST(COUNT(*) AS HUGEINT) AS n,
                   SUM(q) AS s_q, SUM(p) AS s_p, SUM(d) AS s_d, SUM(t) AS s_t,
                   SUM(q * q) AS s_qq, SUM(q * p) AS s_qp, SUM(q * d) AS s_qd,
                   SUM(q * t) AS s_qt, SUM(p * p) AS s_pp, SUM(p * d) AS s_pd,
                   SUM(p * t) AS s_pt, SUM(d * d) AS s_dd, SUM(d * t) AS s_dt,
                   SUM(t * t) AS s_tt
            FROM v
        )
        SELECT * FROM (
{arms}
        )
        ORDER BY pair
    """


def bullwhip_ratio(
    lineitem: DataFrame, orders: DataFrame, part: DataFrame
) -> DataFrame:
    """Bullwhip amplification per brand: the variance of monthly ORDERED
    quantity over the variance of monthly SHIPPED quantity — (p_brand,
    n_months, ratio_milli). A ratio above 1000 means order timing
    concentrates demand into spikier months than the shipment schedule
    smooths out — the supply-chain amplification the reorder-point and
    (s,S) sims assume away.

    Both series densify onto ONE shared month spine (the union of active
    order/ship months x 25 brands): a month with zero orders is a real
    zero in the variance, not a missing row. Variance compares as the
    exact centered form n*Sqq - Sq^2 on DECIMAL(38,0) centi-quantities
    (the shared n makes the n^2 factors cancel in the ratio), so the only
    float step is the final division.

    Scale shape: two fact-grain keyed aggregates to (brand, month), a
    bounded spine cross join (|brands| x |months|), two <=|brands|-row
    reductions — no window anywhere."""
    qty = F.expr("CAST(round(l_quantity * 100) AS BIGINT)")
    brand = F.broadcast(part.select("p_partkey", "p_brand"))
    ordered = (
        lineitem.join(
            orders.select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(brand, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(
            "p_brand", F.date_trunc("month", "o_orderdate").alias("mon")
        )
        .agg(F.sum(qty).cast("long").alias("oq"))
    )
    shipped = (
        lineitem.join(brand, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(
            "p_brand", F.date_trunc("month", "l_shipdate").alias("mon")
        )
        .agg(F.sum(qty).cast("long").alias("sq"))
    )
    spine = (
        ordered.select("mon")
        .unionByName(shipped.select("mon"))
        .distinct()
        .crossJoin(F.broadcast(part.select("p_brand").distinct()))
    )
    grid = (
        spine.join(ordered, ["p_brand", "mon"], "left")
        .join(shipped, ["p_brand", "mon"], "left")
        .select(
            "p_brand",
            "mon",
            F.coalesce("oq", F.lit(0)).alias("oq"),
            F.coalesce("sq", F.lit(0)).alias("sq"),
        )
    )
    d38 = "decimal(38,0)"
    g = grid.groupBy("p_brand").agg(
        F.count("*").cast("long").alias("n_months"),
        F.sum(F.col("oq").cast(d38)).cast(d38).alias("so"),
        F.sum((F.col("oq").cast(d38) * F.col("oq"))).cast(d38).alias("soo"),
        F.sum(F.col("sq").cast(d38)).cast(d38).alias("ss"),
        F.sum((F.col("sq").cast(d38) * F.col("sq"))).cast(d38).alias("sss"),
    )
    return g.select(
        "p_brand",
        "n_months",
        F.expr(
            "CAST(CASE WHEN CAST(n_months * sss - ss * ss AS DOUBLE) > 0"
            " THEN round(1000.0 * CAST(n_months * soo - so * so AS DOUBLE)"
            "      / CAST(n_months * sss - ss * ss AS DOUBLE))"
            " ELSE 0 END AS BIGINT)"
        ).alias("ratio_milli"),
    ).orderBy("p_brand")


def bullwhip_ratio_sql() -> str:
    return """
        WITH ordered AS (
            SELECT p.p_brand, date_trunc('month', o.o_orderdate) AS mon,
                   CAST(SUM(CAST(round(l.l_quantity * 100) AS BIGINT))
                        AS BIGINT) AS oq
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN part p ON l.l_partkey = p.p_partkey
            GROUP BY 1, 2
        ),
        shipped AS (
            SELECT p.p_brand, date_trunc('month', l.l_shipdate) AS mon,
                   CAST(SUM(CAST(round(l.l_quantity * 100) AS BIGINT))
                        AS BIGINT) AS sq
            FROM lineitem l
            JOIN part p ON l.l_partkey = p.p_partkey
            GROUP BY 1, 2
        ),
        spine AS (
            SELECT b.p_brand, m.mon
            FROM (SELECT DISTINCT p_brand FROM part) b
            CROSS JOIN (
                SELECT mon FROM ordered
                UNION
                SELECT mon FROM shipped
            ) m
        ),
        grid AS (
            SELECT s.p_brand, s.mon,
                   CAST(COALESCE(o.oq, 0) AS HUGEINT) AS oq,
                   CAST(COALESCE(h.sq, 0) AS HUGEINT) AS sq
            FROM spine s
            LEFT JOIN ordered o ON s.p_brand = o.p_brand AND s.mon = o.mon
            LEFT JOIN shipped h ON s.p_brand = h.p_brand AND s.mon = h.mon
        ),
        g AS (
            SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_months,
                   SUM(oq) AS so, SUM(oq * oq) AS soo,
                   SUM(sq) AS ss, SUM(sq * sq) AS sss
            FROM grid GROUP BY p_brand
        )
        SELECT p_brand, n_months,
               CAST(CASE WHEN CAST(n_months * sss - ss * ss AS DOUBLE) > 0
                    THEN round(1000.0
                         * CAST(n_months * soo - so * so AS DOUBLE)
                         / CAST(n_months * sss - ss * ss AS DOUBLE))
                    ELSE 0 END AS BIGINT) AS ratio_milli
        FROM g
        ORDER BY p_brand
    """


def dickey_fuller_daily_revenue(orders: DataFrame) -> DataFrame:
    """Dickey-Fuller unit-root check on daily revenue: one row (n_obs,
    gamma_micro, t_milli) from the regression dy_t = a + g*y_{t-1} + e —
    g near 0 (t above the ~-2.9 critical band) means shocks PERSIST (a
    random-walk level, so "daily revenue" charts need differencing);
    strongly negative t means mean reversion. The stationarity gate in
    front of the trend/forecast family (holt, croston, interrupted_ts fit
    levels they assume are stationary).

    Exactness: daily revenue is an exact centi BIGINT; all six regression
    moments accumulate as DECIMAL(38,0) (a 100 TB day can hold ~1e17
    centi-cents, whose square overflows BIGINT); centered C_xx/C_xy/C_yy
    stay DECIMAL-exact and both engines finish with one identical double
    chain gamma = C_xy/C_xx, t = gamma / sqrt(m(C_yy - C_xy^2/C_xx)
    / ((m-2) C_xx)).

    Scale shape: one (day) aggregate, ONE lag window over the bounded day
    grid, one 1-row moment reduction."""
    cents = F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")
    daily = orders.groupBy(
        F.to_date("o_orderdate").alias("day")
    ).agg(F.sum(cents).cast("long").alias("y"))
    w = Window.orderBy("day")
    d38 = "decimal(38,0)"
    lagged = (
        daily.select("day", "y", F.lag("y").over(w).alias("x"))
        .where(F.col("x").isNotNull())
        .select(
            F.col("x").cast(d38).alias("x"),
            (F.col("y") - F.col("x")).cast(d38).alias("dy"),
        )
    )
    m = lagged.agg(
        F.count("*").cast(d38).alias("m"),
        F.sum("x").cast(d38).alias("sx"),
        F.sum("dy").cast(d38).alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast(d38).alias("sxx"),
        F.sum(F.col("x") * F.col("dy")).cast(d38).alias("sxy"),
        F.sum(F.col("dy") * F.col("dy")).cast(d38).alias("syy"),
    )
    return m.select(
        F.col("m").cast("long").alias("n_obs"),
        F.expr(
            "CAST(m * sxx - sx * sx AS DOUBLE)"
        ).alias("cxx"),
        F.expr(
            "CAST(m * sxy - sx * sy AS DOUBLE)"
        ).alias("cxy"),
        F.expr(
            "CAST(m * syy - sy * sy AS DOUBLE)"
        ).alias("cyy"),
    ).select(
        "n_obs",
        F.expr(
            "CAST(CASE WHEN cxx > 0 THEN round(1e6 * cxy / cxx)"
            " ELSE 0 END AS BIGINT)"
        ).alias("gamma_micro"),
        F.expr(
            "CAST(CASE WHEN cxx > 0 AND n_obs > 2"
            " AND cyy - cxy * cxy / cxx > 1e-9"
            " THEN round(1000.0 * (cxy / cxx)"
            "      / sqrt(n_obs * (cyy - cxy * cxy / cxx)"
            "             / ((n_obs - 2.0) * cxx)))"
            " ELSE 0 END AS BIGINT)"
        ).alias("t_milli"),
    )


def dickey_fuller_daily_revenue_sql() -> str:
    return """
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS day,
                   CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS y
            FROM orders GROUP BY 1
        ),
        lagged AS (
            SELECT CAST(x AS HUGEINT) AS x, CAST(y - x AS HUGEINT) AS dy
            FROM (
                SELECT y, LAG(y) OVER (ORDER BY day) AS x FROM daily
            )
            WHERE x IS NOT NULL
        ),
        m AS (
            SELECT CAST(COUNT(*) AS HUGEINT) AS m,
                   SUM(x) AS sx, SUM(dy) AS sy,
                   SUM(x * x) AS sxx, SUM(x * dy) AS sxy, SUM(dy * dy) AS syy
            FROM lagged
        ),
        c AS (
            SELECT CAST(m AS BIGINT) AS n_obs,
                   CAST(m * sxx - sx * sx AS DOUBLE) AS cxx,
                   CAST(m * sxy - sx * sy AS DOUBLE) AS cxy,
                   CAST(m * syy - sy * sy AS DOUBLE) AS cyy
            FROM m
        )
        SELECT n_obs,
               CAST(CASE WHEN cxx > 0 THEN round(1e6 * cxy / cxx)
                    ELSE 0 END AS BIGINT) AS gamma_micro,
               CAST(CASE WHEN cxx > 0 AND n_obs > 2
                         AND cyy - cxy * cxy / cxx > 1e-9
                    THEN round(1000.0 * (cxy / cxx)
                         / sqrt(n_obs * (cyy - cxy * cxy / cxx)
                                / ((n_obs - 2.0) * cxx)))
                    ELSE 0 END AS BIGINT) AS t_milli
        FROM c
    """


def weibull_latency_fit(lineitem: DataFrame, orders: DataFrame) -> DataFrame:
    """Two-quantile Weibull fit of order->ship latency: one row (n_lines,
    q25_days, q75_days, shape_milli, scale_milli) — the parametric summary
    the (s,S)/reorder sims can consume as a lead-time distribution instead
    of the empirical histogram; shape < 1000 (milli) flags a heavy early
    mass (many instant ships), shape > 1000 an S-curve delay.

    Method: exact integer order statistics q25/q75 off the bounded
    latency-day domain (ONE cumulative window over the per-latency count
    aggregate — the kth_smallest discipline, both quantiles selected from
    the same pass with ceil ranks), then the closed-form two-point
    inversion of q_p = scale * (-ln(1-p))^(1/shape):
    shape = (ln ln 4 - ln ln(4/3)) / (ln q75 - ln q25). Exact-integer
    quantiles mean the only float steps are four ln calls both engines
    share.

    Scale shape: fact-scan equi-join on the natural orderkey, a bounded
    (latency) aggregate + one cumulative window, broadcast 1-row total."""
    lat = (
        lineitem.select("l_orderkey", "l_shipdate")
        .join(
            orders.select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            F.expr(
                "datediff(CAST(l_shipdate AS DATE), CAST(o_orderdate AS DATE))"
            ).alias("lat")
        )
        .where(F.col("lat") >= 1)
    )
    per_l = lat.groupBy("lat").agg(F.count("*").cast("long").alias("m"))
    wcum = Window.orderBy("lat").rowsBetween(Window.unboundedPreceding, 0)
    cum = per_l.select("lat", F.sum("m").over(wcum).alias("cum"))
    tot = lat.agg(F.count("*").cast("long").alias("n_lines"))
    qagg = cum.crossJoin(F.broadcast(tot)).agg(
        F.min(
            F.when(
                F.expr("cum >= (n_lines + 3) DIV 4"), F.col("lat")
            )
        ).cast("long").alias("q25_days"),
        F.min(
            F.when(
                F.expr("cum >= (3 * n_lines + 3) DIV 4"), F.col("lat")
            )
        ).cast("long").alias("q75_days"),
    )
    # tot drives the final row so an empty latency set reports n_lines=0
    # (not NULL) with NULL quantiles
    qs = tot.crossJoin(F.broadcast(qagg))
    return qs.select(
        "n_lines",
        "q25_days",
        "q75_days",
        F.expr(
            "CAST(CASE WHEN q75_days > q25_days AND q25_days >= 1"
            " THEN round(1000.0 * (ln(ln(4.0)) - ln(ln(4.0e0 / 3.0e0)))"
            "      / (ln(CAST(q75_days AS DOUBLE)) - ln(CAST(q25_days AS DOUBLE))))"
            " ELSE 0 END AS BIGINT)"
        ).alias("shape_milli"),
        F.expr(
            "CAST(CASE WHEN q75_days > q25_days AND q25_days >= 1"
            " THEN round(1000.0 * exp(ln(CAST(q75_days AS DOUBLE))"
            "      - ln(ln(4.0)) * (ln(CAST(q75_days AS DOUBLE))"
            "         - ln(CAST(q25_days AS DOUBLE)))"
            "        / (ln(ln(4.0)) - ln(ln(4.0e0 / 3.0e0)))))"
            " ELSE 0 END AS BIGINT)"
        ).alias("scale_milli"),
    )


def weibull_latency_fit_sql() -> str:
    return """
        WITH lat AS (
            SELECT datediff('day', CAST(o.o_orderdate AS DATE),
                            CAST(l.l_shipdate AS DATE)) AS lat
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            WHERE datediff('day', CAST(o.o_orderdate AS DATE),
                           CAST(l.l_shipdate AS DATE)) >= 1
        ),
        per_l AS (
            SELECT lat, CAST(COUNT(*) AS BIGINT) AS m FROM lat GROUP BY lat
        ),
        cum AS (
            SELECT lat, SUM(m) OVER (ORDER BY lat
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
            FROM per_l
        ),
        tot AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_lines FROM lat
        ),
        qagg AS (
            SELECT CAST(MIN(CASE WHEN cum >= (n_lines + 3) // 4
                            THEN lat END) AS BIGINT) AS q25_days,
                   CAST(MIN(CASE WHEN cum >= (3 * n_lines + 3) // 4
                            THEN lat END) AS BIGINT) AS q75_days
            FROM cum CROSS JOIN tot
        ),
        qs AS (
            SELECT t.n_lines, q.q25_days, q.q75_days
            FROM tot t CROSS JOIN qagg q
        )
        SELECT n_lines, q25_days, q75_days,
               CAST(CASE WHEN q75_days > q25_days AND q25_days >= 1
                    THEN round(1000.0 * (ln(ln(4.0)) - ln(ln(4.0e0 / 3.0e0)))
                         / (ln(CAST(q75_days AS DOUBLE))
                            - ln(CAST(q25_days AS DOUBLE))))
                    ELSE 0 END AS BIGINT) AS shape_milli,
               CAST(CASE WHEN q75_days > q25_days AND q25_days >= 1
                    THEN round(1000.0 * exp(ln(CAST(q75_days AS DOUBLE))
                         - ln(ln(4.0)) * (ln(CAST(q75_days AS DOUBLE))
                            - ln(CAST(q25_days AS DOUBLE)))
                           / (ln(ln(4.0)) - ln(ln(4.0e0 / 3.0e0)))))
                    ELSE 0 END AS BIGINT) AS scale_milli
        FROM qs
    """


def cpk_latency(lineitem: DataFrame, orders: DataFrame) -> DataFrame:
    """Process-capability indexes Cp / Cpk of order->ship latency against
    the [0, 120]-day service spec: one row (n_lines, mean_milli,
    sigma_milli, cp_milli, cpk_milli) — the variables-control-chart
    companion to the attribute p-chart (returns_p_chart): Cp asks whether
    the spread FITS the spec band at all, Cpk whether it fits WHERE the
    process is centered (Cpk << Cp = a centering problem, not a variance
    problem).

    Exactness: latency days are exact integers; n / sum / sum-of-squares
    accumulate as DECIMAL(38,0) so the sample variance numerator
    n*Sxx - Sx^2 is exact; both engines share one double chain for
    sigma = sqrt(num / (n(n-1))) and the index ratios.

    Scale shape: the weibull_latency_fit join + ONE 1-row moment
    aggregate — no window, no grid."""
    d38 = "decimal(38,0)"
    lat = (
        lineitem.select("l_orderkey", "l_shipdate")
        .join(
            orders.select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            F.expr(
                "CAST(datediff(CAST(l_shipdate AS DATE),"
                " CAST(o_orderdate AS DATE)) AS BIGINT)"
            ).alias("lat")
        )
        .where(F.col("lat") >= 0)
    )
    m = lat.agg(
        F.count("*").cast(d38).alias("n"),
        F.sum(F.col("lat").cast(d38)).cast(d38).alias("s"),
        F.sum(F.col("lat").cast(d38) * F.col("lat")).cast(d38).alias("ss"),
    )
    return m.select(
        F.col("n").cast("long").alias("n_lines"),
        F.expr("CAST(s AS DOUBLE) / CAST(n AS DOUBLE)").alias("mu"),
        F.expr("CAST(n * ss - s * s AS DOUBLE)").alias("num"),
    ).select(
        "n_lines",
        F.expr("CAST(round(1000.0 * mu) AS BIGINT)").alias("mean_milli"),
        F.expr(
            "CAST(CASE WHEN n_lines > 1 AND num > 0 THEN"
            " round(1000.0 * sqrt(num / (CAST(n_lines AS DOUBLE)"
            " * (n_lines - 1.0)))) ELSE 0 END AS BIGINT)"
        ).alias("sigma_milli"),
        F.expr(
            "CAST(CASE WHEN n_lines > 1 AND num > 0 THEN"
            " round(1000.0 * 120.0 / (6.0 * sqrt(num"
            " / (CAST(n_lines AS DOUBLE) * (n_lines - 1.0)))))"
            " ELSE 0 END AS BIGINT)"
        ).alias("cp_milli"),
        F.expr(
            "CAST(CASE WHEN n_lines > 1 AND num > 0 THEN"
            " round(1000.0 * least(120.0 - mu, mu - 0.0)"
            " / (3.0 * sqrt(num / (CAST(n_lines AS DOUBLE)"
            " * (n_lines - 1.0))))) ELSE 0 END AS BIGINT)"
        ).alias("cpk_milli"),
    )


def cpk_latency_sql() -> str:
    return """
        WITH lat AS (
            SELECT CAST(datediff('day', CAST(o.o_orderdate AS DATE),
                                 CAST(l.l_shipdate AS DATE)) AS BIGINT) AS lat
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            WHERE datediff('day', CAST(o.o_orderdate AS DATE),
                           CAST(l.l_shipdate AS DATE)) >= 0
        ),
        m AS (
            SELECT CAST(COUNT(*) AS HUGEINT) AS n,
                   SUM(CAST(lat AS HUGEINT)) AS s,
                   SUM(CAST(lat AS HUGEINT) * lat) AS ss
            FROM lat
        ),
        c AS (
            SELECT CAST(n AS BIGINT) AS n_lines,
                   CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
                   CAST(n * ss - s * s AS DOUBLE) AS num
            FROM m
        )
        SELECT n_lines,
               CAST(round(1000.0 * mu) AS BIGINT) AS mean_milli,
               CAST(CASE WHEN n_lines > 1 AND num > 0 THEN
                    round(1000.0 * sqrt(num / (CAST(n_lines AS DOUBLE)
                    * (n_lines - 1.0)))) ELSE 0 END AS BIGINT) AS sigma_milli,
               CAST(CASE WHEN n_lines > 1 AND num > 0 THEN
                    round(1000.0 * 120.0 / (6.0 * sqrt(num
                    / (CAST(n_lines AS DOUBLE) * (n_lines - 1.0)))))
                    ELSE 0 END AS BIGINT) AS cp_milli,
               CAST(CASE WHEN n_lines > 1 AND num > 0 THEN
                    round(1000.0 * least(120.0 - mu, mu - 0.0)
                    / (3.0 * sqrt(num / (CAST(n_lines AS DOUBLE)
                    * (n_lines - 1.0))))) ELSE 0 END AS BIGINT) AS cpk_milli
        FROM c
    """


# --- Forecast tracking signal -----------------------------------------------------------


def tracking_signal_brands(
    lineitem: DataFrame, orders: DataFrame, part: DataFrame
) -> DataFrame:
    """Trigg tracking signal of the naive one-step forecast per brand:
    rows (p_brand, n_months, ts_milli), ordered by brand.

    forecast_backtest prices forecast ACCURACY; the tracking signal
    monitors forecast BIAS in production — TS = cumulative error /
    cumulative mean absolute error at the latest month. |TS| near its
    bound (n/MAD ratio drifting one-sided) is the classic "retire this
    forecast" alarm. The naive forecast is the previous PRESENT month's
    quantity (months with zero sales for a brand do not densify —
    stated, as in permutation_entropy).

    Exactness: monthly quantities are exact centi BIGINTs, so the
    forecast errors and their absolute values are integers, the two
    running sums are exact, and the single division closes it.

    Scale shape: one (brand, month) aggregate over the broadcast-part
    join, one brand-partitioned lag + two brand-partitioned running sums
    over the bounded month grid, one per-brand limit-1 via max month."""
    qty = F.expr("CAST(round(l_quantity * 100) AS BIGINT)")
    monthly = (
        lineitem.join(
            orders.select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy(
            "p_brand", F.date_trunc("month", "o_orderdate").alias("month")
        )
        .agg(F.sum(qty).cast("long").alias("q"))
    )
    w = Window.partitionBy("p_brand").orderBy("month")
    wcum = w.rowsBetween(Window.unboundedPreceding, 0)
    err = monthly.select(
        "p_brand",
        "month",
        (F.col("q") - F.lag("q").over(w)).alias("e"),
    ).where(F.col("e").isNotNull())
    cum = err.select(
        "p_brand",
        "month",
        F.count("*").over(wcum).cast("long").alias("m"),
        F.sum("e").over(wcum).cast("long").alias("ce"),
        F.sum(F.abs(F.col("e"))).over(wcum).cast("long").alias("cae"),
        F.row_number().over(
            Window.partitionBy("p_brand").orderBy(F.desc("month"))
        ).alias("rn"),
    ).where(F.col("rn") == 1)
    return cum.select(
        "p_brand",
        F.col("m").alias("n_months"),
        F.expr(
            "CAST(CASE WHEN cae > 0 THEN round(1000.0 * ce * m / cae)"
            " ELSE 0 END AS BIGINT)"
        ).alias("ts_milli"),
    ).orderBy("p_brand")


def tracking_signal_brands_sql() -> str:
    return """
        WITH monthly AS (
            SELECT p_brand, date_trunc('month', o_orderdate) AS month,
                   CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT))
                        AS BIGINT) AS q
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN part ON l_partkey = p_partkey
            GROUP BY 1, 2
        ),
        err AS (
            SELECT p_brand, month,
                   q - LAG(q) OVER (PARTITION BY p_brand ORDER BY month) AS e
            FROM monthly
        ),
        cum AS (
            SELECT p_brand, month,
                   CAST(COUNT(*) OVER win AS BIGINT) AS m,
                   CAST(SUM(e) OVER win AS BIGINT) AS ce,
                   CAST(SUM(abs(e)) OVER win AS BIGINT) AS cae,
                   ROW_NUMBER() OVER (PARTITION BY p_brand
                       ORDER BY month DESC) AS rn
            FROM err
            WHERE e IS NOT NULL
            WINDOW win AS (PARTITION BY p_brand ORDER BY month
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        )
        SELECT p_brand, m AS n_months,
               CAST(CASE WHEN cae > 0 THEN round(1000.0 * ce * m / cae)
                    ELSE 0 END AS BIGINT) AS ts_milli
        FROM cum
        WHERE rn = 1
        ORDER BY p_brand
    """


# --- Wilson lower-bound ranking ---------------------------------------------------------

WILSON_Z = 1.96
WILSON_TOP_K = 10


def wilson_return_ranking(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """Wilson-score lower-bound ranking of brand return rates: the top
    WILSON_TOP_K rows (p_brand, n_lines, n_returned, wilson_lb_milli).

    bayes_smoothed_ranking shrinks toward a global prior; the Wilson
    bound is the frequentist counterpart — rank by the LOWER confidence
    limit so a brand with 3/3 returns cannot outrank one with 80/100,
    the standard small-sample-safe leaderboard device.

    Exactness: n and r are exact BIGINT counts per brand; the bound is
    one deterministic double chain at z = 1.96; ties break on brand
    within the bounded (<=|brands|) top-k sort.

    Scale shape: one broadcast dim join, one (brand) aggregate, one
    bounded top-k."""
    g = (
        lineitem.join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_brand")
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            F.sum((F.col("l_returnflag") == "R").cast("long"))
            .cast("long")
            .alias("n_returned"),
        )
    )
    z2 = WILSON_Z * WILSON_Z
    return (
        g.select(
            "p_brand",
            "n_lines",
            "n_returned",
            F.expr(
                f"CAST(CASE WHEN n_lines > 0 THEN round(1000.0 *"
                f" ((n_returned + {z2 / 2.0}) / (n_lines + {z2})"
                f"  - {WILSON_Z} / (n_lines + {z2})"
                f"    * sqrt(CAST(n_returned AS DOUBLE) * (n_lines - n_returned)"
                f"           / n_lines + {z2 / 4.0})))"
                f" ELSE 0 END AS BIGINT)"
            ).alias("wilson_lb_milli"),
        )
        .orderBy(F.desc("wilson_lb_milli"), "p_brand")
        .limit(WILSON_TOP_K)
    )


def wilson_return_ranking_sql() -> str:
    z2 = WILSON_Z * WILSON_Z
    return f"""
        WITH g AS (
            SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_lines,
                   CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_returned
            FROM lineitem JOIN part ON l_partkey = p_partkey
            GROUP BY p_brand
        )
        SELECT p_brand, n_lines, n_returned,
               CAST(CASE WHEN n_lines > 0 THEN round(1000.0 *
                    ((n_returned + {z2 / 2.0}) / (n_lines + {z2})
                     - {WILSON_Z} / (n_lines + {z2})
                       * sqrt(CAST(n_returned AS DOUBLE) * (n_lines - n_returned)
                              / n_lines + {z2 / 4.0})))
                    ELSE 0 END AS BIGINT) AS wilson_lb_milli
        FROM g
        ORDER BY wilson_lb_milli DESC, p_brand
        LIMIT {WILSON_TOP_K}
    """


# --- OTIF fill rate ---------------------------------------------------------------------

OTIF_DAYS = 30


def otif_fill_rate(lineitem: DataFrame, orders: DataFrame) -> DataFrame:
    """On-time-in-full fill rate per order month: rows (month, n_orders,
    otif_orders, otif_milli), ordered by month.

    sla_compliance scores individual line latencies; OTIF is the supply-
    chain headline at ORDER grain — an order counts only if EVERY line
    shipped within OTIF_DAYS of the order date, so one straggler line
    fails the whole order (the metric procurement contracts actually
    bind on).

    Exactness: the order-grain verdict is max(ship-orderdate) <= 30 days
    over exact day differences; month rates are exact integer counts
    with one closing division.

    Scale shape: lineitem ⋈ orders on orderkey (the one shuffle), an
    order-grain aggregate, then a bounded month-grain aggregate."""
    per_order = (
        lineitem.join(
            orders.select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            F.max(
                F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
            ).alias("max_lag")
        )
    )
    return (
        per_order.groupBy(
            F.to_date(F.date_trunc("month", "o_orderdate")).alias("month")
        )
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum((F.col("max_lag") <= OTIF_DAYS).cast("long"))
            .cast("long")
            .alias("otif_orders"),
        )
        .select(
            "month",
            "n_orders",
            "otif_orders",
            F.expr(
                "CAST(round(1000.0 * otif_orders / n_orders) AS BIGINT)"
            ).alias("otif_milli"),
        )
        .orderBy("month")
    )


def otif_fill_rate_sql() -> str:
    return f"""
        WITH per_order AS (
            SELECT o_orderkey, o_orderdate,
                   MAX(date_diff('day', CAST(o_orderdate AS DATE),
                       CAST(l_shipdate AS DATE))) AS max_lag
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY o_orderkey, o_orderdate
        )
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CASE WHEN max_lag <= {OTIF_DAYS} THEN 1 ELSE 0 END)
                    AS BIGINT) AS otif_orders,
               CAST(round(1000.0 * SUM(CASE WHEN max_lag <= {OTIF_DAYS}
                    THEN 1 ELSE 0 END) / COUNT(*)) AS BIGINT) AS otif_milli
        FROM per_order
        GROUP BY 1
        ORDER BY month
    """


# --- Atkinson inequality index ----------------------------------------------------------


def atkinson_index_customers(orders: DataFrame) -> DataFrame:
    """Atkinson inequality index (epsilon = 1) of per-customer revenue:
    one row (n_customers, atkinson_milli).

    segment_gini and lorenz_points measure inequality geometrically; the
    Atkinson index is the WELFARE-theoretic member — at epsilon 1 it is
    1 - geometric_mean / arithmetic_mean, i.e. the share of total
    revenue society would give up to equalize it. 0 = perfectly equal;
    rises as the top customers dominate.

    Exactness: per-customer revenue is an exact centi BIGINT; each
    ln(revenue) quantizes once to micro so the log sum is an exact
    integer reduction (order-free), the arithmetic mean comes from the
    exact centi total, and one exp/division chain closes it.

    Scale shape: one (customer) aggregate, one 1-row reduction."""
    cents = F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")
    per_cust = (
        orders.groupBy("o_custkey")
        .agg(F.sum(cents).cast("long").alias("rev"))
        .where(F.col("rev") > 0)
    )
    agg = per_cust.agg(
        F.count("*").cast("long").alias("n_customers"),
        F.sum(F.col("rev").cast("decimal(38,0)")).alias("s_rev"),
        F.sum(
            F.expr("CAST(round(1e6 * ln(rev / 100.0)) AS BIGINT)")
        ).cast("long").alias("s_ln_micro"),
    )
    return agg.select(
        "n_customers",
        F.expr(
            "CAST(CASE WHEN n_customers > 0 AND s_rev > 0 THEN round(1000.0"
            " * (1.0 - exp(CAST(s_ln_micro AS DOUBLE) / 1e6 / n_customers)"
            "   / (CAST(s_rev AS DOUBLE) / 100.0 / n_customers)))"
            " ELSE 0 END AS BIGINT)"
        ).alias("atkinson_milli"),
    )


def atkinson_index_customers_sql() -> str:
    return """
        WITH per_cust AS (
            SELECT o_custkey,
                   CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS rev
            FROM orders GROUP BY o_custkey
            HAVING SUM(CAST(round(o_totalprice * 100) AS BIGINT)) > 0
        ),
        agg AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
                   SUM(CAST(rev AS HUGEINT)) AS s_rev,
                   CAST(SUM(CAST(round(1e6 * ln(rev / 100.0)) AS BIGINT))
                        AS BIGINT) AS s_ln_micro
            FROM per_cust
        )
        SELECT n_customers,
               CAST(CASE WHEN n_customers > 0 AND s_rev > 0 THEN round(1000.0
                    * (1.0 - exp(CAST(s_ln_micro AS DOUBLE) / 1e6 / n_customers)
                      / (CAST(s_rev AS DOUBLE) / 100.0 / n_customers)))
                    ELSE 0 END AS BIGINT) AS atkinson_milli
        FROM agg
    """


# --- Bass diffusion fit -----------------------------------------------------------------


def bass_diffusion_fit(orders: DataFrame) -> DataFrame:
    """Discrete Bass diffusion fit over monthly first-time customers: one
    row (n_months, p_micro, q_micro, m_est).

    cohort_ltv and growth_accounting describe adoption retrospectively;
    the Bass model FITS it — n_t = p*m + (q - p)*N_{t-1} - (q/m)*N_{t-1}^2
    regresses new adopters on cumulative adopters (the classic
    Bass/Srinivasan discrete estimation), giving innovation p, imitation
    q, and the implied market ceiling m as the positive root of
    c*m^2 + b*m + a = 0.

    Exactness: monthly first-purchase counts and their cumulative lags
    are exact BIGINTs; all eight regression moments up to N^4 accumulate
    as DECIMAL(38,0) (a 100 TB install base of ~1e9 keeps N^4 within
    1e38 for bounded month grids), and the 3x3 Cramer solve plus root
    extraction is one deterministic double chain.

    Scale shape: one (customer) min-date aggregate, one bounded (month)
    aggregate, one cumulative lag window over the month grid, one 1-row
    moment reduction."""
    d38 = "decimal(38,0)"
    first = orders.groupBy("o_custkey").agg(
        F.date_trunc("month", F.min("o_orderdate")).alias("month")
    )
    monthly = first.groupBy("month").agg(
        F.count("*").cast("long").alias("n_new")
    )
    w = Window.orderBy("month").rowsBetween(
        Window.unboundedPreceding, -1
    )
    lagged = monthly.select(
        F.col("n_new").cast(d38).alias("y"),
        F.coalesce(F.sum("n_new").over(w), F.lit(0)).cast(d38).alias("x"),
    )
    m = lagged.agg(
        F.count("*").cast(d38).alias("n"),
        F.sum("y").alias("sy"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sx2"),
        F.sum(F.col("x") * F.col("x") * F.col("x")).alias("sx3"),
        F.sum(F.col("x") * F.col("x") * F.col("x") * F.col("x")).alias("sx4"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x") * F.col("y")).alias("sx2y"),
    )
    # Cramer solve of [[n,sx,sx2],[sx,sx2,sx3],[sx2,sx3,sx4]] [a,b,c]' =
    # [sy,sxy,sx2y]' — determinants as doubles from the exact decimals.
    return m.select(
        F.col("n").cast("long").alias("n_months"),
        F.expr("CAST(n AS DOUBLE)").alias("dn"),
        F.expr("CAST(sx AS DOUBLE)").alias("dsx"),
        F.expr("CAST(sx2 AS DOUBLE)").alias("dsx2"),
        F.expr("CAST(sx3 AS DOUBLE)").alias("dsx3"),
        F.expr("CAST(sx4 AS DOUBLE)").alias("dsx4"),
        F.expr("CAST(sy AS DOUBLE)").alias("dsy"),
        F.expr("CAST(sxy AS DOUBLE)").alias("dsxy"),
        F.expr("CAST(sx2y AS DOUBLE)").alias("dsx2y"),
    ).select(
        "n_months",
        F.expr(
            "dn * (dsx2 * dsx4 - dsx3 * dsx3)"
            " - dsx * (dsx * dsx4 - dsx3 * dsx2)"
            " + dsx2 * (dsx * dsx3 - dsx2 * dsx2)"
        ).alias("det"),
        F.expr(
            "dsy * (dsx2 * dsx4 - dsx3 * dsx3)"
            " - dsx * (dsxy * dsx4 - dsx2y * dsx3)"
            " + dsx2 * (dsxy * dsx3 - dsx2y * dsx2)"
        ).alias("det_a"),
        F.expr(
            "dn * (dsxy * dsx4 - dsx2y * dsx3)"
            " - dsy * (dsx * dsx4 - dsx3 * dsx2)"
            " + dsx2 * (dsx * dsx2y - dsx2 * dsxy)"
        ).alias("det_b"),
        F.expr(
            "dn * (dsx2 * dsx2y - dsx3 * dsxy)"
            " - dsx * (dsx * dsx2y - dsx2 * dsxy)"
            " + dsy * (dsx * dsx3 - dsx2 * dsx2)"
        ).alias("det_c"),
    ).select(
        "n_months",
        F.expr("CASE WHEN det <> 0 THEN det_a / det ELSE 0 END").alias("a"),
        F.expr("CASE WHEN det <> 0 THEN det_b / det ELSE 0 END").alias("b"),
        F.expr("CASE WHEN det <> 0 THEN det_c / det ELSE 0 END").alias("c"),
    ).select(
        "n_months",
        "a",
        "b",
        "c",
        F.expr(
            "CASE WHEN c < 0 AND b * b - 4 * a * c >= 0"
            " THEN (-b - sqrt(b * b - 4 * a * c)) / (2 * c)"
            " ELSE 0.0 END"
        ).alias("m_root"),
    ).select(
        "n_months",
        F.expr(
            "CAST(CASE WHEN m_root > 0 THEN round(1e6 * a / m_root)"
            " ELSE 0 END AS BIGINT)"
        ).alias("p_micro"),
        F.expr(
            "CAST(CASE WHEN m_root > 0 THEN round(-1e6 * c * m_root)"
            " ELSE 0 END AS BIGINT)"
        ).alias("q_micro"),
        F.expr("CAST(round(m_root) AS BIGINT)").alias("m_est"),
    )


def bass_diffusion_fit_sql() -> str:
    return """
        WITH first_m AS (
            SELECT o_custkey, date_trunc('month', MIN(o_orderdate)) AS month
            FROM orders GROUP BY o_custkey
        ),
        monthly AS (
            SELECT month, CAST(COUNT(*) AS BIGINT) AS n_new
            FROM first_m GROUP BY month
        ),
        lagged AS (
            SELECT CAST(n_new AS HUGEINT) AS y,
                   CAST(COALESCE(SUM(n_new) OVER (ORDER BY month
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        0) AS HUGEINT) AS x
            FROM monthly
        ),
        m AS (
            SELECT CAST(COUNT(*) AS HUGEINT) AS n, SUM(y) AS sy, SUM(x) AS sx,
                   SUM(x * x) AS sx2, SUM(x * x * x) AS sx3,
                   SUM(x * x * x * x) AS sx4,
                   SUM(x * y) AS sxy, SUM(x * x * y) AS sx2y
            FROM lagged
        ),
        d AS (
            SELECT CAST(n AS BIGINT) AS n_months,
                   CAST(n AS DOUBLE) AS dn, CAST(sx AS DOUBLE) AS dsx,
                   CAST(sx2 AS DOUBLE) AS dsx2, CAST(sx3 AS DOUBLE) AS dsx3,
                   CAST(sx4 AS DOUBLE) AS dsx4, CAST(sy AS DOUBLE) AS dsy,
                   CAST(sxy AS DOUBLE) AS dsxy, CAST(sx2y AS DOUBLE) AS dsx2y
            FROM m
        ),
        dets AS (
            SELECT n_months,
                   dn * (dsx2 * dsx4 - dsx3 * dsx3)
                   - dsx * (dsx * dsx4 - dsx3 * dsx2)
                   + dsx2 * (dsx * dsx3 - dsx2 * dsx2) AS det,
                   dsy * (dsx2 * dsx4 - dsx3 * dsx3)
                   - dsx * (dsxy * dsx4 - dsx2y * dsx3)
                   + dsx2 * (dsxy * dsx3 - dsx2y * dsx2) AS det_a,
                   dn * (dsxy * dsx4 - dsx2y * dsx3)
                   - dsy * (dsx * dsx4 - dsx3 * dsx2)
                   + dsx2 * (dsx * dsx2y - dsx2 * dsxy) AS det_b,
                   dn * (dsx2 * dsx2y - dsx3 * dsxy)
                   - dsx * (dsx * dsx2y - dsx2 * dsxy)
                   + dsy * (dsx * dsx3 - dsx2 * dsx2) AS det_c
            FROM d
        ),
        abc AS (
            SELECT n_months,
                   CASE WHEN det <> 0 THEN det_a / det ELSE 0 END AS a,
                   CASE WHEN det <> 0 THEN det_b / det ELSE 0 END AS b,
                   CASE WHEN det <> 0 THEN det_c / det ELSE 0 END AS c
            FROM dets
        ),
        root AS (
            SELECT n_months, a, b, c,
                   CASE WHEN c < 0 AND b * b - 4 * a * c >= 0
                        THEN (-b - sqrt(b * b - 4 * a * c)) / (2 * c)
                        ELSE 0.0 END AS m_root
            FROM abc
        )
        SELECT n_months,
               CAST(CASE WHEN m_root > 0 THEN round(1e6 * a / m_root)
                    ELSE 0 END AS BIGINT) AS p_micro,
               CAST(CASE WHEN m_root > 0 THEN round(-1e6 * c * m_root)
                    ELSE 0 END AS BIGINT) AS q_micro,
               CAST(round(m_root) AS BIGINT) AS m_est
        FROM root
    """


# --- Theta-method forecast backtest -----------------------------------------------------

THETA_ALPHA = 0.5


def theta_forecast_backtest(orders: DataFrame) -> DataFrame:
    """Theta-method one-step forecast backtest on monthly revenue: one
    row (n_months, theta_mae_micro, naive_mae_micro).

    holt_level_trend fits one smoothing pass over the whole series; the
    theta device is the M3-winning combination forecast — the average of
    a simple-exponential-smoothing level (alpha = 0.5) and the OLS trend
    line — and this operator prices it honestly: for every month T >= 3
    it forecasts T from months 1..T-1 only, then reports the mean
    absolute error against the naive last-value forecast.

    Exactness: monthly revenue is an exact centi BIGINT; prefix OLS
    moments come from exact cumulative integer sums; each SES term
    y_s * alpha^(T-1-s) (full weight alpha^(T-2) on s=1) quantizes to
    micro-dollars inside the bounded <=|months|^2 prefix self-join, so
    every per-T forecast is assembled from integers with one double
    chain, and the two MAEs are exact integer averages rounded once.

    Scale shape: one bounded (month) aggregate, one cumulative-moment
    window over the month grid, one <=|months|^2 self-join ON THAT GRID
    (the mann_kendall economics), two 1-row reductions."""
    d38 = "decimal(38,0)"
    cents = F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")
    monthly = orders.groupBy(
        F.date_trunc("month", "o_orderdate").alias("month")
    ).agg(F.sum(cents).cast("long").alias("y"))
    t = monthly.select(
        "y",
        F.row_number().over(Window.orderBy("month")).cast("long").alias("t"),
    )
    wcum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    pre = t.select(
        "t",
        "y",
        F.count("*").over(wcum).cast("long").alias("m"),
        F.sum(F.col("t").cast(d38)).over(wcum).alias("st"),
        F.sum((F.col("t") * F.col("t")).cast(d38)).over(wcum).alias("stt"),
        F.sum(F.col("y").cast(d38)).over(wcum).alias("sy"),
        F.sum((F.col("t").cast(d38) * F.col("y").cast(d38)))
        .over(wcum)
        .alias("sty"),
    )
    a, b = t.alias("a"), pre.alias("b")
    ses_terms = a.join(
        b, F.col("a.t") <= F.col("b.t")
    ).select(
        F.col("b.t").alias("T"),
        F.col("b.y").alias("y_T"),
        F.col("b.m").alias("m"),
        F.col("b.st").alias("st"),
        F.col("b.stt").alias("stt"),
        F.col("b.sy").alias("sy"),
        F.col("b.sty").alias("sty"),
        F.expr(
            f"CAST(round(a.y / 100.0 * 1e6 * CASE WHEN a.t = 1"
            f" THEN pow({1 - THETA_ALPHA}, b.t - 2)"
            f" ELSE {THETA_ALPHA} * pow({1 - THETA_ALPHA}, b.t - 1 - a.t)"
            f" END) AS BIGINT)"
        ).alias("ses_term_micro"),
        F.expr("CAST(round(a.y / 100.0 * 1e6) AS BIGINT)").alias("y_micro"),
        (F.col("a.t") == F.col("b.t")).cast("int").alias("is_self"),
        (F.col("a.t") == F.col("b.t") - 1).cast("int").alias("is_prev"),
    )
    # per-T assembly: SES level over s <= T-1, prefix trend over s <= T-1
    # (shift: use the T-1 cumulative moments via self rows at b.t = T).
    # We instead regroup on T with terms restricted to s <= T-1 by zeroing
    # the self term, and carry the T-1 moments by subtracting the self
    # contribution from the cumulative sums.
    per_t = ses_terms.groupBy("T").agg(
        F.max("y_T").alias("y_t"),
        F.max("m").alias("m"),
        F.max(F.col("st").cast("double")).alias("st"),
        F.max(F.col("stt").cast("double")).alias("stt"),
        F.max(F.col("sy").cast("double")).alias("sy"),
        F.max(F.col("sty").cast("double")).alias("sty"),
        F.sum(
            F.col("ses_term_micro") * (1 - F.col("is_self"))
        ).cast("long").alias("ses_micro"),
        F.max(F.col("is_prev") * F.col("y_micro")).cast("long").alias(
            "y_prev_micro"
        ),
        F.max(F.col("is_self") * F.col("y_micro")).cast("long").alias(
            "y_self_micro"
        ),
    )
    scored = per_t.where(F.col("T") >= 3).select(
        "T",
        "y_self_micro",
        "y_prev_micro",
        "ses_micro",
        # prefix (1..T-1) OLS moments: subtract the self row
        (F.col("m") - 1).alias("m1"),
        (F.col("st") - F.col("T")).alias("st1"),
        (F.col("stt") - F.col("T") * F.col("T")).alias("stt1"),
        (F.col("sy") - F.col("y_t")).alias("sy1"),
        (F.col("sty") - F.col("T") * F.col("y_t")).alias("sty1"),
    ).select(
        "T",
        "y_self_micro",
        "y_prev_micro",
        "ses_micro",
        F.expr(
            "CASE WHEN m1 * stt1 - st1 * st1 <> 0 THEN"
            " (m1 * sty1 - st1 * sy1) / (m1 * stt1 - st1 * st1)"
            " ELSE 0.0 END"
        ).alias("slope_cents"),
        F.expr("sy1 / m1").alias("ybar_cents"),
        F.expr("st1 / m1").alias("tbar"),
    ).select(
        "T",
        "y_self_micro",
        F.expr(
            "CAST(round(0.5 * (ses_micro"
            " + 1e6 * (ybar_cents + slope_cents * (T - tbar)) / 100.0))"
            " AS BIGINT)"
        ).alias("theta_micro"),
        "y_prev_micro",
    )
    agg = scored.agg(
        F.count("*").cast("long").alias("n_scored"),
        F.sum(F.abs(F.col("y_self_micro") - F.col("theta_micro")))
        .cast("long")
        .alias("sae_theta"),
        F.sum(F.abs(F.col("y_self_micro") - F.col("y_prev_micro")))
        .cast("long")
        .alias("sae_naive"),
    )
    n_m = t.agg(F.max("t").cast("long").alias("n_months"))
    return (
        n_m.crossJoin(F.broadcast(agg))
        .select(
            "n_months",
            F.expr(
                "CAST(CASE WHEN n_scored > 0"
                " THEN round(CAST(sae_theta AS DOUBLE) / n_scored)"
                " ELSE 0 END AS BIGINT)"
            ).alias("theta_mae_micro"),
            F.expr(
                "CAST(CASE WHEN n_scored > 0"
                " THEN round(CAST(sae_naive AS DOUBLE) / n_scored)"
                " ELSE 0 END AS BIGINT)"
            ).alias("naive_mae_micro"),
        )
    )


def theta_forecast_backtest_sql() -> str:
    al = THETA_ALPHA
    return f"""
        WITH monthly AS (
            SELECT date_trunc('month', o_orderdate) AS month,
                   CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS y
            FROM orders GROUP BY 1
        ),
        t AS (
            SELECT y,
                   CAST(ROW_NUMBER() OVER (ORDER BY month) AS BIGINT) AS t
            FROM monthly
        ),
        pre AS (
            SELECT t, y,
                   CAST(COUNT(*) OVER win AS BIGINT) AS m,
                   SUM(CAST(t AS HUGEINT)) OVER win AS st,
                   SUM(CAST(t AS HUGEINT) * CAST(t AS HUGEINT)) OVER win
                       AS stt,
                   SUM(CAST(y AS HUGEINT)) OVER win AS sy,
                   SUM(CAST(t AS HUGEINT) * CAST(y AS HUGEINT)) OVER win
                       AS sty
            FROM t
            WINDOW win AS (ORDER BY t
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ),
        ses_terms AS (
            SELECT b.t AS bt, b.y AS y_t, b.m AS m,
                   CAST(b.st AS DOUBLE) AS st, CAST(b.stt AS DOUBLE) AS stt,
                   CAST(b.sy AS DOUBLE) AS sy, CAST(b.sty AS DOUBLE) AS sty,
                   CAST(round(a.y / 100.0 * 1e6 * CASE WHEN a.t = 1
                        THEN pow({1 - al}, b.t - 2)
                        ELSE {al} * pow({1 - al}, b.t - 1 - a.t)
                        END) AS BIGINT) AS ses_term_micro,
                   CAST(round(a.y / 100.0 * 1e6) AS BIGINT) AS y_micro,
                   CASE WHEN a.t = b.t THEN 1 ELSE 0 END AS is_self,
                   CASE WHEN a.t = b.t - 1 THEN 1 ELSE 0 END AS is_prev
            FROM t a JOIN pre b ON a.t <= b.t
        ),
        per_t AS (
            SELECT bt AS T, MAX(y_t) AS y_t, MAX(m) AS m,
                   MAX(st) AS st, MAX(stt) AS stt,
                   MAX(sy) AS sy, MAX(sty) AS sty,
                   CAST(SUM(ses_term_micro * (1 - is_self)) AS BIGINT)
                       AS ses_micro,
                   CAST(MAX(is_prev * y_micro) AS BIGINT) AS y_prev_micro,
                   CAST(MAX(is_self * y_micro) AS BIGINT) AS y_self_micro
            FROM ses_terms
            GROUP BY bt
        ),
        scored AS (
            SELECT T, y_self_micro, y_prev_micro, ses_micro,
                   m - 1 AS m1, st - T AS st1, stt - T * T AS stt1,
                   sy - y_t AS sy1, sty - T * y_t AS sty1
            FROM per_t
            WHERE T >= 3
        ),
        fc AS (
            SELECT T, y_self_micro, y_prev_micro,
                   CAST(round(0.5 * (ses_micro
                        + 1e6 * ((sy1 / m1) + (CASE WHEN m1 * stt1 - st1 * st1
                            <> 0 THEN (m1 * sty1 - st1 * sy1)
                            / (m1 * stt1 - st1 * st1) ELSE 0.0 END)
                          * (T - st1 / m1)) / 100.0)) AS BIGINT)
                       AS theta_micro
            FROM scored
        ),
        agg AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_scored,
                   CAST(COALESCE(SUM(abs(y_self_micro - theta_micro)), 0)
                        AS BIGINT) AS sae_theta,
                   CAST(COALESCE(SUM(abs(y_self_micro - y_prev_micro)), 0)
                        AS BIGINT) AS sae_naive
            FROM fc
        ),
        n_m AS (
            SELECT CAST(MAX(t) AS BIGINT) AS n_months FROM t
        )
        SELECT n_months,
               CAST(CASE WHEN n_scored > 0
                    THEN round(CAST(sae_theta AS DOUBLE) / n_scored)
                    ELSE 0 END AS BIGINT) AS theta_mae_micro,
               CAST(CASE WHEN n_scored > 0
                    THEN round(CAST(sae_naive AS DOUBLE) / n_scored)
                    ELSE 0 END AS BIGINT) AS naive_mae_micro
        FROM n_m CROSS JOIN agg
    """


# --- Tukey median polish ----------------------------------------------------------------


def _wmed(df: DataFrame, part_col: str, val_col: str, out_col: str) -> DataFrame:
    """Lower weighted median of ``val_col`` within ``part_col`` groups —
    the engine-wide min(v with 2*cum >= tot) device on the bounded grid."""
    wcum = (
        Window.partitionBy(part_col)
        .orderBy(val_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wtot = Window.partitionBy(part_col)
    return (
        df.select(
            part_col,
            val_col,
            F.count("*").over(wcum).alias("cum"),
            F.count("*").over(wtot).alias("tot"),
        )
        .where(2 * F.col("cum") >= F.col("tot"))
        .groupBy(part_col)
        .agg(F.min(val_col).alias(out_col))
    )


_WMED_SQL = """
            SELECT {part}, MIN({val}) AS {out} FROM (
                SELECT {part}, {val},
                       COUNT(*) OVER (PARTITION BY {part} ORDER BY {val}
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           AS cum,
                       COUNT(*) OVER (PARTITION BY {part}) AS tot
                FROM {src}
            ) WHERE 2 * cum >= tot
            GROUP BY {part}
"""


def median_polish_brands(
    lineitem: DataFrame, orders: DataFrame, part: DataFrame
) -> DataFrame:
    """Tukey median polish of the (brand x month) revenue matrix, two full
    row/column sweeps: rows (p_brand, row_eff_cents, med_abs_resid_cents,
    max_abs_resid_cents), ordered by brand.

    variance_decomposition splits the same matrix with MEANS, which one
    hot month can dominate; the median polish is the robust two-way
    decomposition y = overall + row + col + resid — after two sweeps the
    brand effects resist outlier months, and the residual summary flags
    brand-month cells the additive model cannot explain (the classic
    exploratory two-way table device).

    Exactness: cell revenues are exact centi BIGINTs and the lower
    weighted median of integers is an integer, so every sweep subtracts
    exact integers and the residual summaries are integer order
    statistics — no float anywhere. Absent brand-month cells stay absent
    (medians run over PRESENT cells; stated, the permutation_entropy
    caveat).

    Scale shape: one (brand, month) aggregate over the broadcast-part
    join, then four median windows and a final summary, all on the
    bounded <=|brands|x|months| grid."""
    cents = F.expr(
        "CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)"
    )
    grid = (
        lineitem.join(
            orders.select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy(
            "p_brand",
            F.to_date(F.date_trunc("month", "o_orderdate")).alias("month"),
        )
        .agg(F.sum(cents).cast("long").alias("r"))
        # materialize the bounded |brands|x|months| grid ONCE: the two
        # row/column sweeps reference their input twice per half-sweep
        # (median + subtraction join), so the final residual's lineage
        # reaches the grid through a 2^4-branch diamond — without this cut
        # the data-sized lineitem⋈orders⋈part aggregate re-executes per
        # branch where exchange reuse misses
        .localCheckpoint(eager=False)
    )
    row_eff = None
    r = grid
    for sweep in range(2):
        rm = _wmed(r, "p_brand", "r", "rm")
        row_eff = (
            rm.select("p_brand", F.col("rm").alias("row_eff"))
            if row_eff is None
            else row_eff.join(rm, "p_brand").select(
                "p_brand",
                (F.col("row_eff") + F.col("rm")).alias("row_eff"),
            )
        )
        r = r.join(F.broadcast(rm), "p_brand").select(
            "p_brand", "month", (F.col("r") - F.col("rm")).alias("r")
        )
        cm = _wmed(r, "month", "r", "cm")
        r = r.join(F.broadcast(cm), "month").select(
            "p_brand", "month", (F.col("r") - F.col("cm")).alias("r")
        )
    resid = r.groupBy("p_brand").agg(
        F.max(F.abs(F.col("r"))).alias("max_abs_resid_cents")
    )
    med_resid = _wmed(
        r.select("p_brand", F.abs(F.col("r")).alias("ar")),
        "p_brand",
        "ar",
        "med_abs_resid_cents",
    )
    return (
        row_eff.join(med_resid, "p_brand")
        .join(resid, "p_brand")
        .select(
            "p_brand",
            F.col("row_eff").alias("row_eff_cents"),
            "med_abs_resid_cents",
            "max_abs_resid_cents",
        )
        .orderBy("p_brand")
    )


def median_polish_brands_sql() -> str:
    def wmed(src, part, val, out):
        return _WMED_SQL.format(src=src, part=part, val=val, out=out)

    return f"""
        WITH grid AS (
            SELECT p_brand,
                   CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
                   CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount)
                        * 100) AS BIGINT)) AS BIGINT) AS r
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN part ON l_partkey = p_partkey
            GROUP BY 1, 2
        ),
        rm1 AS ({wmed("grid", "p_brand", "r", "rm")}),
        r1 AS (
            SELECT p_brand, month, grid.r - rm AS r
            FROM grid JOIN rm1 USING (p_brand)
        ),
        cm1 AS ({wmed("r1", "month", "r", "cm")}),
        r2 AS (
            SELECT p_brand, month, r1.r - cm AS r
            FROM r1 JOIN cm1 USING (month)
        ),
        rm2 AS ({wmed("r2", "p_brand", "r", "rm")}),
        r3 AS (
            SELECT p_brand, month, r2.r - rm AS r
            FROM r2 JOIN rm2 USING (p_brand)
        ),
        cm2 AS ({wmed("r3", "month", "r", "cm")}),
        r4 AS (
            SELECT p_brand, month, r3.r - cm AS r
            FROM r3 JOIN cm2 USING (month)
        ),
        abs_r AS (
            SELECT p_brand, abs(r) AS ar FROM r4
        ),
        med_resid AS ({wmed("abs_r", "p_brand", "ar", "med_ar")}),
        max_resid AS (
            SELECT p_brand, MAX(abs(r)) AS max_ar FROM r4 GROUP BY p_brand
        ),
        row_eff AS (
            SELECT p_brand, rm1.rm + rm2.rm AS row_eff
            FROM rm1 JOIN rm2 USING (p_brand)
        )
        SELECT p_brand,
               CAST(row_eff AS BIGINT) AS row_eff_cents,
               CAST(med_ar AS BIGINT) AS med_abs_resid_cents,
               CAST(max_ar AS BIGINT) AS max_abs_resid_cents
        FROM row_eff
        JOIN med_resid USING (p_brand)
        JOIN max_resid USING (p_brand)
        ORDER BY p_brand
    """


# --- Kraljic procurement matrix ------------------------------------------------------------


def kraljic_matrix(lineitem: DataFrame) -> DataFrame:
    """Kraljic procurement-portfolio matrix of suppliers: rows
    (quadrant, n_suppliers, spend_cents), ordered by quadrant.

    vendor_scorecard grades suppliers individually; the Kraljic matrix is
    the 2x2 PORTFOLIO view procurement actually acts on — spend (profit
    impact) against supply risk, where a supplier's risk is how
    EXCLUSIVE its parts are (mean of 1/#suppliers-per-part over its
    lines: parts only it ships score 1, commodity parts score ~0).
    Quadrants: strategic (high/high), leverage (high spend, low risk),
    bottleneck (low spend, high risk), non_critical (low/low); cuts at
    the grand means (means, not medians, keep the cut exact without a
    data-sized value-domain window — stated).

    Exactness: spend is an exact centi BIGINT; per-line exclusivity
    quantizes to micro (1e6 // #suppliers is exact integer division), so
    supplier risk is an exact integer mean; both cuts compare scaled
    integers (n * x vs sum) without division.

    Scale shape: one (part) supplier-count aggregate joined back
    (partkey-keyed), one (supplier) aggregate, one 1-row mean scalar,
    one bounded 4-row final aggregate."""
    part_suppliers = lineitem.groupBy("l_partkey").agg(
        F.countDistinct("l_suppkey").cast("long").alias("ns")
    )
    lines = lineitem.join(part_suppliers, "l_partkey").select(
        "l_suppkey",
        F.expr(
            "CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)"
        ).alias("rev"),
        F.expr("CAST(1000000 AS BIGINT) DIV ns").alias("excl_micro"),
    )
    supp = lines.groupBy("l_suppkey").agg(
        F.sum("rev").cast("long").alias("spend"),
        F.count("*").cast("long").alias("n_lines"),
        F.sum("excl_micro").cast("long").alias("s_excl"),
    )
    tot = supp.agg(
        F.count("*").cast("long").alias("k"),
        F.sum(F.col("spend").cast("decimal(38,0)")).alias("t_spend"),
        # risk cut compares n_lines-weighted ratios exactly:
        # risk_i = s_excl/n_lines vs mean risk = sum(s_excl/n_lines)/k —
        # quantize each supplier ratio to micro first (exact int mean)
        F.sum(
            F.expr("CAST(round(CAST(s_excl AS DOUBLE) / n_lines) AS BIGINT)")
        ).cast("long").alias("t_risk"),
    )
    quad = supp.crossJoin(F.broadcast(tot)).select(
        "spend",
        F.expr(
            "CASE WHEN CAST(k AS DECIMAL(38,0)) * spend >= t_spend"
            " THEN 'high' ELSE 'low' END"
        ).alias("spend_band"),
        F.expr(
            "CASE WHEN k * CAST(round(CAST(s_excl AS DOUBLE) / n_lines)"
            " AS BIGINT) >= t_risk THEN 'high' ELSE 'low' END"
        ).alias("risk_band"),
    ).select(
        "spend",
        F.expr(
            "CASE WHEN spend_band = 'high' AND risk_band = 'high'"
            " THEN 'strategic'"
            " WHEN spend_band = 'high' THEN 'leverage'"
            " WHEN risk_band = 'high' THEN 'bottleneck'"
            " ELSE 'non_critical' END"
        ).alias("quadrant"),
    )
    return (
        quad.groupBy("quadrant")
        .agg(
            F.count("*").cast("long").alias("n_suppliers"),
            F.sum("spend").cast("long").alias("spend_cents"),
        )
        .orderBy("quadrant")
    )


def kraljic_matrix_sql() -> str:
    return """
        WITH part_suppliers AS (
            SELECT l_partkey,
                   CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS ns
            FROM lineitem GROUP BY l_partkey
        ),
        lines AS (
            SELECT l_suppkey,
                   CAST(round(l_extendedprice * (1 - l_discount) * 100)
                        AS BIGINT) AS rev,
                   CAST(1000000 AS BIGINT) // ns AS excl_micro
            FROM lineitem JOIN part_suppliers USING (l_partkey)
        ),
        supp AS (
            SELECT l_suppkey, CAST(SUM(rev) AS BIGINT) AS spend,
                   CAST(COUNT(*) AS BIGINT) AS n_lines,
                   CAST(SUM(excl_micro) AS BIGINT) AS s_excl
            FROM lines GROUP BY l_suppkey
        ),
        tot AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS k,
                   SUM(CAST(spend AS HUGEINT)) AS t_spend,
                   CAST(SUM(CAST(round(CAST(s_excl AS DOUBLE) / n_lines)
                        AS BIGINT)) AS BIGINT) AS t_risk
            FROM supp
        ),
        quad AS (
            SELECT spend,
                   CASE WHEN CASE WHEN CAST(k AS HUGEINT) * spend >= t_spend
                             THEN 'high' ELSE 'low' END = 'high'
                        AND CASE WHEN k * CAST(round(CAST(s_excl AS DOUBLE)
                            / n_lines) AS BIGINT) >= t_risk
                            THEN 'high' ELSE 'low' END = 'high'
                        THEN 'strategic'
                        WHEN CAST(k AS HUGEINT) * spend >= t_spend
                        THEN 'leverage'
                        WHEN k * CAST(round(CAST(s_excl AS DOUBLE) / n_lines)
                             AS BIGINT) >= t_risk
                        THEN 'bottleneck'
                        ELSE 'non_critical' END AS quadrant
            FROM supp CROSS JOIN tot
        )
        SELECT quadrant, CAST(COUNT(*) AS BIGINT) AS n_suppliers,
               CAST(SUM(spend) AS BIGINT) AS spend_cents
        FROM quad
        GROUP BY quadrant
        ORDER BY quadrant
    """


# --- Laspeyres / Paasche / Fisher price indices -------------------------------------------

FISHER_BASE_YEAR = 1995


def fisher_price_index(lineitem: DataFrame) -> DataFrame:
    """Classic price-index triple per ship year against the {FISHER_BASE_YEAR}
    base: rows (year, n_parts, laspeyres_micro, paasche_micro,
    fisher_micro), ordered by year.

    price_volume_mix decomposes one period pair's revenue BRIDGE; the
    index family answers the level question economists ask of the same
    data — how much of revenue motion is price: Laspeyres fixes the BASE
    basket (sum p_y q_0 / sum p_0 q_0), Paasche the CURRENT one, and
    Fisher is their geometric mean (the "ideal" index that passes the
    time-reversal test). Only parts traded in both years enter (matched
    basket).

    Exactness: per-part unit prices are rationals of exact decimal sums
    (rev/qty); the two cross terms p_y*q_0 and p_0*q_y quantize to centi
    per part before the year sums; the two SAME-year terms are exact
    revenue sums needing no quantization at all; ratios and the final
    sqrt are one double chain per year row.

    Scale shape: one (part, year) aggregate of lineitem, one part-keyed
    self-join of that bounded relation against its base-year slice, one
    year-keyed reduction."""
    py = lineitem.groupBy(
        F.col("l_partkey").alias("pk"),
        F.year("l_shipdate").alias("yr"),
    ).agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("qty"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("rev"),
    )
    base = py.where(F.col("yr") == FISHER_BASE_YEAR).select(
        F.col("pk").alias("bpk"),
        F.col("qty").alias("q0"),
        F.col("rev").alias("r0"),
    )
    cur = py.where(F.col("yr") != FISHER_BASE_YEAR)
    joined = cur.join(base, cur["pk"] == base["bpk"]).select(
        "yr",
        # p_y * q_0 = (rev_y / qty_y) * q0 — centi-quantized per part
        F.expr(
            "CAST(round(100 * CAST(rev AS DOUBLE) / CAST(qty AS DOUBLE)"
            " * CAST(q0 AS DOUBLE)) AS BIGINT)"
        ).alias("pyq0_c"),
        # p_0 * q_y = (r0 / q0) * qty
        F.expr(
            "CAST(round(100 * CAST(r0 AS DOUBLE) / CAST(q0 AS DOUBLE)"
            " * CAST(qty AS DOUBLE)) AS BIGINT)"
        ).alias("p0qy_c"),
        F.expr("CAST(round(100 * CAST(rev AS DOUBLE)) AS BIGINT)").alias(
            "ryqy_c"
        ),
        F.expr("CAST(round(100 * CAST(r0 AS DOUBLE)) AS BIGINT)").alias(
            "r0q0_c"
        ),
    )
    agg = joined.groupBy("yr").agg(
        F.count("*").cast("long").alias("n_parts"),
        F.sum("pyq0_c").cast("long").alias("l_num"),
        F.sum("r0q0_c").cast("long").alias("l_den"),
        F.sum("ryqy_c").cast("long").alias("p_num"),
        F.sum("p0qy_c").cast("long").alias("p_den"),
    )
    return (
        agg.select(
            F.col("yr").alias("year"),
            "n_parts",
            F.expr(
                "CAST(round(1e6 * l_num / CAST(l_den AS DOUBLE)) AS BIGINT)"
            ).alias("laspeyres_micro"),
            F.expr(
                "CAST(round(1e6 * p_num / CAST(p_den AS DOUBLE)) AS BIGINT)"
            ).alias("paasche_micro"),
            F.expr(
                "CAST(round(1e6 * sqrt((l_num / CAST(l_den AS DOUBLE))"
                " * (p_num / CAST(p_den AS DOUBLE)))) AS BIGINT)"
            ).alias("fisher_micro"),
        )
        .orderBy("year")
    )


def fisher_price_index_sql() -> str:
    return f"""
        WITH py AS (
            SELECT l_partkey AS pk, EXTRACT(year FROM l_shipdate) AS yr,
                   SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty,
                   SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev
            FROM lineitem GROUP BY 1, 2
        ),
        base AS (
            SELECT pk AS bpk, qty AS q0, rev AS r0
            FROM py WHERE yr = {FISHER_BASE_YEAR}
        ),
        joined AS (
            SELECT yr,
                   CAST(round(100 * CAST(rev AS DOUBLE) / CAST(qty AS DOUBLE)
                        * CAST(q0 AS DOUBLE)) AS BIGINT) AS pyq0_c,
                   CAST(round(100 * CAST(r0 AS DOUBLE) / CAST(q0 AS DOUBLE)
                        * CAST(qty AS DOUBLE)) AS BIGINT) AS p0qy_c,
                   CAST(round(100 * CAST(rev AS DOUBLE)) AS BIGINT) AS ryqy_c,
                   CAST(round(100 * CAST(r0 AS DOUBLE)) AS BIGINT) AS r0q0_c
            FROM py JOIN base ON pk = bpk
            WHERE yr <> {FISHER_BASE_YEAR}
        ),
        agg AS (
            SELECT yr, CAST(COUNT(*) AS BIGINT) AS n_parts,
                   CAST(SUM(pyq0_c) AS BIGINT) AS l_num,
                   CAST(SUM(r0q0_c) AS BIGINT) AS l_den,
                   CAST(SUM(ryqy_c) AS BIGINT) AS p_num,
                   CAST(SUM(p0qy_c) AS BIGINT) AS p_den
            FROM joined GROUP BY yr
        )
        SELECT CAST(yr AS BIGINT) AS year, n_parts,
               CAST(round(1e6 * l_num / CAST(l_den AS DOUBLE)) AS BIGINT)
                   AS laspeyres_micro,
               CAST(round(1e6 * p_num / CAST(p_den AS DOUBLE)) AS BIGINT)
                   AS paasche_micro,
               CAST(round(1e6 * sqrt((l_num / CAST(l_den AS DOUBLE))
                    * (p_num / CAST(p_den AS DOUBLE)))) AS BIGINT)
                   AS fisher_micro
        FROM agg
        ORDER BY year
    """


# --- risk pooling (demand aggregation benefit) ------------------------------------------------


def risk_pooling_by_brand(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """Supply-chain risk-pooling report per brand: how much demand
    variability disappears when per-nation-ish demand streams pool into
    one: rows (brand, n_streams, sum_sigma_milli, pooled_sigma_milli,
    pooling_gain_milli), ordered by brand.

    reorder_points sizes safety stock per stream; this quantifies the
    CONSOLIDATION decision — sqrt-law pooling: safety stock scales with
    sigma, and sigma_pooled <= sum sigma_i (equality only under perfect
    correlation), so gain = 1 - sigma_pooled / sum sigma_i is the fraction
    of safety stock a central warehouse saves. Streams are the supplier
    key mod 5 (the fixture's nation proxy); months are the demand
    periods.

    Exactness: per (brand, stream, month) demand sums are exact decimals;
    sigmas are population std via exact S1/S2 sums over the bounded
    (brand, stream) and (brand) grids; one double chain per brand row,
    quantized milli. The pooled sigma derives from per-month POOLED
    totals, so correlation between streams is handled exactly, not
    assumed away.

    Scale shape: one (brand, stream, month) aggregate of lineitem+part,
    two bounded-grid reductions, one brand-keyed join of the two."""
    base = (
        lineitem.join(part, lineitem["l_partkey"] == part["p_partkey"])
        .groupBy(
            F.col("p_brand").alias("brand"),
            (F.col("l_suppkey") % 5).alias("stream"),
            F.date_trunc("month", "l_shipdate").cast("date").alias("mon"),
        )
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("q"))
    )
    # complete (brand, stream, month) grid so zero-demand periods count
    spine = (
        base.select("brand").distinct()
        .crossJoin(F.broadcast(base.select("stream").distinct()))
        .crossJoin(F.broadcast(base.select("mon").distinct()))
    )
    dense = spine.join(base, ["brand", "stream", "mon"], "left").select(
        "brand",
        "stream",
        "mon",
        F.coalesce(F.col("q"), F.lit(0).cast("decimal(18,2)")).alias("q"),
    )
    per_stream = dense.groupBy("brand", "stream").agg(
        F.count("*").cast("long").alias("nm"),
        F.sum(F.col("q").cast("double")).alias("s1"),
        F.sum(F.expr("CAST(q AS DOUBLE) * CAST(q AS DOUBLE)")).alias("s2"),
    )
    sigmas = per_stream.select(
        "brand",
        F.expr("sqrt(greatest(0.0, s2 / nm - pow(s1 / nm, 2)))").alias("sig"),
    ).groupBy("brand").agg(
        F.count("*").cast("long").alias("n_streams"),
        F.sum(F.expr("CAST(round(1000 * sig) AS BIGINT)"))
        .cast("long")
        .alias("sum_sigma_milli"),
    )
    pooled = (
        dense.groupBy("brand", "mon")
        .agg(F.sum(F.col("q").cast("double")).alias("qm"))
        .groupBy("brand")
        .agg(
            F.count("*").cast("long").alias("nm"),
            F.sum("qm").alias("s1"),
            F.sum(F.expr("qm * qm")).alias("s2"),
        )
        .select(
            "brand",
            F.expr(
                "CAST(round(1000 * sqrt(greatest(0.0, s2 / nm"
                " - pow(s1 / nm, 2)))) AS BIGINT)"
            ).alias("pooled_sigma_milli"),
        )
    )
    return (
        sigmas.join(pooled, "brand")
        .select(
            "brand",
            "n_streams",
            "sum_sigma_milli",
            "pooled_sigma_milli",
            F.expr(
                "CAST(CASE WHEN sum_sigma_milli > 0 THEN round(1000 *"
                " (1 - CAST(pooled_sigma_milli AS DOUBLE) / sum_sigma_milli))"
                " ELSE 0 END AS BIGINT)"
            ).alias("pooling_gain_milli"),
        )
        .orderBy("brand")
    )


def risk_pooling_by_brand_sql() -> str:
    return """
        WITH base AS (
            SELECT p_brand AS brand, l_suppkey % 5 AS stream,
                   CAST(date_trunc('month', l_shipdate) AS DATE) AS mon,
                   SUM(CAST(l_quantity AS DECIMAL(18,2))) AS q
            FROM lineitem JOIN part ON l_partkey = p_partkey
            GROUP BY 1, 2, 3
        ),
        spine AS (
            SELECT brand, stream, mon
            FROM (SELECT DISTINCT brand FROM base)
            CROSS JOIN (SELECT DISTINCT stream FROM base)
            CROSS JOIN (SELECT DISTINCT mon FROM base)
        ),
        dense AS (
            SELECT s.brand, s.stream, s.mon,
                   COALESCE(b.q, CAST(0 AS DECIMAL(18,2))) AS q
            FROM spine s LEFT JOIN base b
              ON s.brand = b.brand AND s.stream = b.stream AND s.mon = b.mon
        ),
        per_stream AS (
            SELECT brand, stream, CAST(COUNT(*) AS BIGINT) AS nm,
                   SUM(CAST(q AS DOUBLE)) AS s1,
                   SUM(CAST(q AS DOUBLE) * CAST(q AS DOUBLE)) AS s2
            FROM dense GROUP BY brand, stream
        ),
        sigmas AS (
            SELECT brand, CAST(COUNT(*) AS BIGINT) AS n_streams,
                   CAST(SUM(CAST(round(1000 * sqrt(greatest(0.0,
                        s2 / nm - pow(s1 / nm, 2)))) AS BIGINT)) AS BIGINT)
                       AS sum_sigma_milli
            FROM per_stream GROUP BY brand
        ),
        pooled AS (
            SELECT brand,
                   CAST(round(1000 * sqrt(greatest(0.0,
                        s2 / nm - pow(s1 / nm, 2)))) AS BIGINT)
                       AS pooled_sigma_milli
            FROM (
                SELECT brand, CAST(COUNT(*) AS BIGINT) AS nm,
                       SUM(qm) AS s1, SUM(qm * qm) AS s2
                FROM (
                    SELECT brand, mon, SUM(CAST(q AS DOUBLE)) AS qm
                    FROM dense GROUP BY brand, mon
                ) GROUP BY brand
            )
        )
        SELECT s.brand, n_streams, sum_sigma_milli, pooled_sigma_milli,
               CAST(CASE WHEN sum_sigma_milli > 0 THEN round(1000 *
                    (1 - CAST(pooled_sigma_milli AS DOUBLE)
                         / sum_sigma_milli))
                    ELSE 0 END AS BIGINT) AS pooling_gain_milli
        FROM sigmas s JOIN pooled p ON s.brand = p.brand
        ORDER BY s.brand
    """


# --- Wagner-Whitin optimal lot sizing ------------------------------------------------------------

WW_YEAR = 1995
WW_PERIODS = 12
WW_SETUP_COST = 50_000  # per order, in quantity-unit-month equivalents
WW_HOLD_COST = 1  # per unit per month carried
WW_INF = 10**15


def _ww_dense_edges(lineitem: DataFrame):
    """(dense demand grid, cover-DAG edges) shared by the optimal plan and
    the Silver-Meal heuristic: dense = 12 monthly demand units, edges =
    (src=i-1, dst=j, cost=K + h*sum (t-i) d_t, i) on the bounded grid."""
    months = (
        lineitem.where(F.year("l_shipdate") == WW_YEAR)
        .groupBy(F.month("l_shipdate").alias("m"))
        .agg(
            F.expr("CAST(round(SUM(l_quantity)) AS BIGINT)").alias("d")
        )
    )
    spark = lineitem.sparkSession
    spine = spark.range(1, WW_PERIODS + 1).select(
        F.col("id").cast("int").alias("m")
    )
    dense = spine.join(months, "m", "left").select(
        "m", F.coalesce("d", F.lit(0)).cast("long").alias("d")
    )
    i_j = (
        spine.select(F.col("m").alias("i"))
        .join(spine.select(F.col("m").alias("j")), F.col("i") <= F.col("j"))
    )
    edges = (
        i_j.join(
            dense.select(F.col("m").alias("t"), "d"),
            (F.col("t") >= F.col("i")) & (F.col("t") <= F.col("j")),
        )
        .groupBy("i", "j")
        .agg(
            (
                F.lit(WW_SETUP_COST)
                + F.lit(WW_HOLD_COST)
                * F.sum((F.col("t") - F.col("i")) * F.col("d"))
            )
            .cast("long")
            .alias("cost")
        )
        .select(
            (F.col("i") - 1).alias("src"), F.col("j").alias("dst"), "cost", "i"
        )
    )
    # bounded 78-row grid, built once; checkpoint so every consumer reuse
    # (relaxation rounds, backtrack, heuristic chain) stays plan-linear
    return dense, edges.localCheckpoint()


def _ww_dist(spark, edges: DataFrame) -> DataFrame:
    """12 exact min-plus relaxation rounds on the 13-node cover DAG."""
    nodes = spark.range(0, WW_PERIODS + 1).select(
        F.col("id").cast("int").alias("node")
    )
    dist = nodes.select(
        "node",
        F.when(F.col("node") == 0, F.lit(0))
        .otherwise(F.lit(WW_INF))
        .cast("long")
        .alias("f"),
    )
    # Identity self-edges (cost 0) make each min-plus round reference `dist`
    # exactly once: min(f + 0, min over incoming f_src + cost) is the old
    # least(f, coalesce(cand, INF)) merge, and every node survives every
    # round via its self-edge. The 12 rounds then compose into ONE
    # declarative plan — the old form referenced dist twice per round and
    # needed a blocking 13-row localCheckpoint each round to stop the plan
    # doubling (12 jobs of pure scheduling overhead).
    relax = edges.select("src", "dst", "cost").unionByName(
        nodes.select(
            F.col("node").alias("src"),
            F.col("node").alias("dst"),
            F.lit(0).cast("long").alias("cost"),
        )
    )
    for _ in range(WW_PERIODS):
        dist = (
            dist.join(relax, F.col("node") == F.col("src"))
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min(F.col("f") + F.col("cost")).cast("long").alias("f"))
        )
    return dist.localCheckpoint()  # consumers reference it repeatedly


def wagner_whitin_plan(lineitem: DataFrame) -> DataFrame:
    """Wagner-Whitin optimal lot-sizing over the 12 monthly demands of
    the fixture year: rows (month, demand_units, f_cost, order_month)
    ordered by month — f_cost the optimal cost of covering months
    1..month, order_month the month whose order serves this month's
    demand in the optimal plan.

    warehouse_eoq_quantity assumes STATIONARY demand; Wagner-Whitin is
    the exact dynamic counterpart — when demand varies by month the
    optimal plan batches orders where holding is cheap and splits where
    it is not, and the classic solution is a shortest path on the
    "order at i covers i..j" DAG: c_ij = K + h * sum_{t=i..j} (t-i) d_t,
    f_j = min_i (f_{i-1} + c_ij). Twelve min-plus relaxation rounds on
    the bounded 13-node grid solve it exactly — a dynamic program
    expressed as relational algebra, the same discipline as the
    eigenvector/Katz iterations.

    Exactness: demands quantize to integer units; every edge cost, path
    cost, and the argmin (smallest order month on ties) are exact
    BIGINT min-reductions.

    Scale shape: one (month) aggregate over the year scan, one bounded
    12^3 cost-grid build, 12 relaxation rounds each a <=13-row join —
    nothing data-sized past the first shuffle."""
    dense, edges = _ww_dense_edges(lineitem)
    dist = _ww_dist(lineitem.sparkSession, edges)
    pred = (
        dist.select(F.col("node").alias("src"), F.col("f").alias("fs"))
        .join(edges, "src")
        .join(
            dist.select(F.col("node").alias("dst"), F.col("f").alias("fd")),
            "dst",
        )
        .where(F.col("fs") + F.col("cost") == F.col("fd"))
        .groupBy("dst", "fd")
        .agg(F.min("i").cast("long").alias("order_month"))
    )
    return (
        pred.join(dense, pred["dst"] == dense["m"])
        .select(
            F.col("dst").cast("long").alias("month"),
            F.col("d").alias("demand_units"),
            F.col("fd").alias("f_cost"),
            "order_month",
        )
        .orderBy("month")
    )


def _ww_sql_prefix() -> str:
    """months/spine/dense/edges/nodes CTE text shared by the optimal plan
    and the Silver-Meal heuristic oracles."""
    return f"""months AS (
            SELECT CAST(EXTRACT(month FROM l_shipdate) AS INT) AS m,
                   CAST(round(SUM(l_quantity)) AS BIGINT) AS d
            FROM lineitem
            WHERE EXTRACT(year FROM l_shipdate) = {WW_YEAR}
            GROUP BY 1
        ),
        spine AS (
            SELECT unnest(generate_series(1, {WW_PERIODS})) AS m
        ),
        dense AS (
            SELECT spine.m, CAST(COALESCE(d, 0) AS BIGINT) AS d
            FROM spine LEFT JOIN months ON spine.m = months.m
        ),
        edges AS MATERIALIZED (
            SELECT i - 1 AS src, j AS dst,
                   CAST({WW_SETUP_COST} + {WW_HOLD_COST}
                        * SUM((t.m - i) * t.d) AS BIGINT) AS cost,
                   i
            FROM (
                SELECT a.m AS i, b.m AS j
                FROM spine a JOIN spine b ON a.m <= b.m
            ) ij
            JOIN dense t ON t.m >= ij.i AND t.m <= ij.j
            GROUP BY i, j
        ),
        nodes AS (
            SELECT unnest(generate_series(0, {WW_PERIODS})) AS node
        )"""


def _ww_sql_chain() -> str:
    """The d0..d12 min-plus relaxation CTE chain. Every round references the
    previous one twice; MATERIALIZED stops the optimizer from inlining the
    chain (which would expand 2^12 subtrees)."""
    rounds = [
        """d0 AS MATERIALIZED (
            SELECT node, CASE WHEN node = 0 THEN CAST(0 AS BIGINT)
                   ELSE CAST({inf} AS BIGINT) END AS f
            FROM nodes
        )""".format(inf=WW_INF)
    ]
    for k in range(1, WW_PERIODS + 1):
        rounds.append(
            f"""d{k} AS MATERIALIZED (
            SELECT node,
                   least(f, COALESCE((
                       SELECT MIN(p.f + e.cost)
                       FROM d{k - 1} p JOIN edges e ON p.node = e.src
                       WHERE e.dst = d{k - 1}.node
                   ), CAST({WW_INF} AS BIGINT))) AS f
            FROM d{k - 1}
        )"""
        )
    return ",\n        ".join(rounds)


def wagner_whitin_plan_sql() -> str:
    chain = _ww_sql_chain()
    return f"""
        WITH {{prefix}},
        {{chain}},
        pred AS (
            SELECT e.dst, fd.f AS fd, CAST(MIN(e.i) AS BIGINT) AS order_month
            FROM d{WW_PERIODS} fs
            JOIN edges e ON fs.node = e.src
            JOIN d{WW_PERIODS} fd ON fd.node = e.dst
            WHERE fs.f + e.cost = fd.f
            GROUP BY e.dst, fd.f
        )
        SELECT CAST(pred.dst AS BIGINT) AS month, dense.d AS demand_units,
               pred.fd AS f_cost, pred.order_month
        FROM pred JOIN dense ON pred.dst = dense.m
        ORDER BY month
    """.format(prefix=_ww_sql_prefix(), chain=chain)




# --- Silver-Meal heuristic + optimality gap --------------------------------------------------------


def silver_meal_plan(lineitem: DataFrame) -> DataFrame:
    """Silver-Meal lot-sizing heuristic on the same 12-month demand as
    warehouse_wagner_whitin, priced against the optimum: rows
    (order_month, cover_through, order_cost, total_sm_cost,
    optimal_cost, gap_milli) ordered by order_month.

    Wagner-Whitin is exact but sequential folklore says planners run
    Silver-Meal: from each order month extend the cover while the
    average cost PER PERIOD still falls, order again at the first rise.
    The heuristic's stop rule is a per-start argmin on the bounded cost
    grid and the order chain is <=12 deterministic hops — so heuristic,
    optimum, and the gap between them (the number that justifies ever
    deploying the DP) come out of one device.

    Exactness: stop decisions compare average costs cross-multiplied in
    exact integers (cost_next * len_cur vs cost_cur * len_next — no
    float averages); the chain, both totals, and gap_milli's one
    division are exact.

    Scale shape: the shared (month) aggregate + bounded cost grid, one
    per-start window for the stop rule, <=12 1-row broadcast chain hops,
    the shared 12-round optimum."""
    dense, edges = _ww_dense_edges(lineitem)
    spark = lineitem.sparkSession
    # stop rule per start i: first j where avg cost rises (or the horizon)
    wj = Window.partitionBy("i").orderBy("j")
    avg_rise = (
        F.lead("cost", 1).over(wj) * (F.col("j") - F.col("i") + 1)
        > F.col("cost") * (F.col("j") - F.col("i") + 2)
    )
    stops = (
        edges.select("i", "dst", "cost")
        .withColumnRenamed("dst", "j")
        .withColumn("rise", avg_rise)
        .where(F.col("rise") | (F.col("j") == WW_PERIODS))
        .groupBy("i")
        .agg(F.min("j").cast("int").alias("jstar"))
        .join(
            edges.select("i", F.col("dst").alias("jstar"), "cost"),
            ["i", "jstar"],
        )
        .localCheckpoint()
    )
    chain = spark.range(1, 2).select(F.col("id").cast("int").alias("i"))
    orders = chain
    # No per-hop localCheckpoint: each hop is a 1-row join against the
    # checkpointed `stops` RDD, so the 12-branch union (branch k = a k-deep
    # broadcast-join chain) is trivial to execute declaratively, while the
    # old form paid 11 blocking checkpoint jobs for 1-row relations (the
    # katz/markov_attribution overhead case).
    for _ in range(WW_PERIODS - 1):
        chain = (
            chain.join(stops, "i")
            .select((F.col("jstar") + 1).cast("int").alias("i"))
            .where(F.col("i") <= WW_PERIODS)
        )
        orders = orders.unionByName(chain)
    plan = orders.distinct().join(stops, "i")
    totals = plan.agg(F.sum("cost").cast("long").alias("total_sm"))
    dist = _ww_dist(spark, edges)
    opt = dist.where(F.col("node") == WW_PERIODS).select(
        F.col("f").alias("optimal_cost")
    )
    return (
        plan.crossJoin(F.broadcast(totals))
        .crossJoin(F.broadcast(opt))
        .select(
            F.col("i").cast("long").alias("order_month"),
            F.col("jstar").cast("long").alias("cover_through"),
            F.col("cost").alias("order_cost"),
            F.col("total_sm").alias("total_sm_cost"),
            "optimal_cost",
            F.expr(
                "CAST(CASE WHEN optimal_cost > 0 THEN round(1000.0"
                " * CAST(total_sm AS DOUBLE) / optimal_cost)"
                " ELSE 0 END AS BIGINT)"
            ).alias("gap_milli"),
        )
        .orderBy("order_month")
    )


def silver_meal_plan_sql() -> str:
    hops = ["c0 AS MATERIALIZED (SELECT 1 AS i)"]
    for k in range(1, WW_PERIODS):
        hops.append(
            f"""c{k} AS MATERIALIZED (
            SELECT CAST(s.jstar + 1 AS INT) AS i
            FROM c{k - 1} JOIN stops s ON c{k - 1}.i = s.i
            WHERE s.jstar + 1 <= {WW_PERIODS}
        )"""
        )
    hop_chain = ",\n        ".join(hops)
    hop_union = " UNION ".join(
        f"SELECT i FROM c{k}" for k in range(WW_PERIODS)
    )
    return f"""
        WITH {_ww_sql_prefix()},
        {_ww_sql_chain()},
        stops AS MATERIALIZED (
            SELECT r.i, r.jstar, e2.cost
            FROM (
                SELECT i, CAST(MIN(j) AS INT) AS jstar
                FROM (
                    SELECT i, dst AS j, cost,
                           LEAD(cost, 1) OVER (PARTITION BY i ORDER BY dst)
                               * (dst - i + 1)
                           > cost * (dst - i + 2) AS rise
                    FROM edges
                )
                WHERE rise OR j = {WW_PERIODS}
                GROUP BY i
            ) r
            JOIN edges e2 ON e2.i = r.i AND e2.dst = r.jstar
        ),
        {hop_chain},
        orders AS ({hop_union}),
        plan AS (
            SELECT o.i, s.jstar, s.cost
            FROM (SELECT DISTINCT i FROM orders) o
            JOIN stops s ON o.i = s.i
        ),
        totals AS (
            SELECT CAST(SUM(cost) AS BIGINT) AS total_sm FROM plan
        ),
        opt AS (
            SELECT f AS optimal_cost FROM d{WW_PERIODS}
            WHERE node = {WW_PERIODS}
        )
        SELECT CAST(plan.i AS BIGINT) AS order_month,
               CAST(plan.jstar AS BIGINT) AS cover_through,
               plan.cost AS order_cost,
               totals.total_sm AS total_sm_cost,
               opt.optimal_cost,
               CAST(CASE WHEN opt.optimal_cost > 0 THEN round(1000.0
                    * CAST(totals.total_sm AS DOUBLE) / opt.optimal_cost)
                    ELSE 0 END AS BIGINT) AS gap_milli
        FROM plan CROSS JOIN totals CROSS JOIN opt
        ORDER BY order_month
    """


# --- Oaxaca-Blinder gap decomposition ---------------------------------------------------

OAXACA_SEG_A = "BUILDING"
OAXACA_SEG_B = "MACHINERY"


def oaxaca_blinder(
    orders: DataFrame,
    customer: DataFrame,
    seg_a: str = OAXACA_SEG_A,
    seg_b: str = OAXACA_SEG_B,
) -> DataFrame:
    """Oaxaca-Blinder decomposition of the mean-spend gap between two
    market segments: how much of (mean A − mean B) is EXPLAINED by the
    segments ordering at different frequencies (endowments) vs the same
    frequency being worth different revenue (coefficients + intercept)?
    Per-customer OLS spend ~ order-count within each segment, then the
    two-fold split gap = β_A(x̄_A − x̄_B) + [x̄_B(β_A − β_B) + (α_A − α_B)]
    — the workhorse decomposition for any "why do these cohorts differ"
    review.

    All cross-customer sums are exact BIGINTs (counts / cents); the
    decomposition is scalar double algebra on them, and explained +
    unexplained reproduces the raw gap by construction. Degenerate groups
    (no order-count variance) emit NULL components.

    Scale: one order-grain aggregate joined to the broadcast customer dim,
    one 2-group sufficient-statistics rollup."""
    per_cust = (
        orders.join(
            F.broadcast(
                customer.where(
                    F.col("c_mktsegment").isin(seg_a, seg_b)
                ).select("c_custkey", "c_mktsegment")
            ),
            orders.o_custkey == F.col("c_custkey"),
        )
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.count("*").cast("long").alias("x"),
            F.sum(
                F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")
            ).alias("y"),
        )
    )
    g = per_cust.groupBy("c_mktsegment").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    sides = g.agg(
        *[
            F.sum(
                F.when(F.col("c_mktsegment") == seg, F.col(c))
            ).alias(f"{c}_{tag}")
            for seg, tag in ((seg_a, "a"), (seg_b, "b"))
            for c in ("n", "sx", "sy", "sxx", "sxy")
        ]
    )
    def beta(tag: str):
        cxx = F.col(f"sxx_{tag}") - F.col(f"sx_{tag}") * F.col(
            f"sx_{tag}"
        ) / F.col(f"n_{tag}")
        cxy = F.col(f"sxy_{tag}") - F.col(f"sx_{tag}") * F.col(
            f"sy_{tag}"
        ) / F.col(f"n_{tag}")
        return cxx, cxy

    cxx_a, cxy_a = beta("a")
    cxx_b, cxy_b = beta("b")
    beta_a = cxy_a / cxx_a
    beta_b = cxy_b / cxx_b
    xbar_a = F.col("sx_a") / F.col("n_a")
    xbar_b = F.col("sx_b") / F.col("n_b")
    ybar_a = F.col("sy_a") / F.col("n_a")
    ybar_b = F.col("sy_b") / F.col("n_b")
    alpha_a = ybar_a - beta_a * xbar_a
    alpha_b = ybar_b - beta_b * xbar_b
    ok = (cxx_a > 0) & (cxx_b > 0)
    return sides.select(
        F.col("n_a"),
        F.col("n_b"),
        F.expr(
            "CAST((2 * sy_a + n_a) DIV (2 * n_a) AS BIGINT)"
        ).alias("mean_a_cents"),
        F.expr(
            "CAST((2 * sy_b + n_b) DIV (2 * n_b) AS BIGINT)"
        ).alias("mean_b_cents"),
        F.round(ybar_a - ybar_b, 6).alias("gap_cents"),
        F.when(ok, F.round(beta_a * (xbar_a - xbar_b), 6)).alias(
            "explained_cents"
        ),
        F.when(
            ok,
            F.round(xbar_b * (beta_a - beta_b) + (alpha_a - alpha_b), 6),
        ).alias("unexplained_cents"),
    )


def oaxaca_blinder_sql(
    seg_a: str = OAXACA_SEG_A, seg_b: str = OAXACA_SEG_B
) -> str:
    return f"""
    WITH per_cust AS (
        SELECT o.o_custkey, c.c_mktsegment,
               CAST(COUNT(*) AS BIGINT) AS x,
               CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS y
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        WHERE c.c_mktsegment IN ('{seg_a}', '{seg_b}')
        GROUP BY o.o_custkey, c.c_mktsegment
    ),
    g AS (
        SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(x * y) AS BIGINT) AS sxy
        FROM per_cust GROUP BY c_mktsegment
    ),
    sides AS (
        SELECT
            CAST(SUM(CASE WHEN c_mktsegment = '{seg_a}' THEN n END) AS BIGINT) AS n_a,
            CAST(SUM(CASE WHEN c_mktsegment = '{seg_a}' THEN sx END) AS BIGINT) AS sx_a,
            CAST(SUM(CASE WHEN c_mktsegment = '{seg_a}' THEN sy END) AS BIGINT) AS sy_a,
            CAST(SUM(CASE WHEN c_mktsegment = '{seg_a}' THEN sxx END) AS BIGINT) AS sxx_a,
            CAST(SUM(CASE WHEN c_mktsegment = '{seg_a}' THEN sxy END) AS BIGINT) AS sxy_a,
            CAST(SUM(CASE WHEN c_mktsegment = '{seg_b}' THEN n END) AS BIGINT) AS n_b,
            CAST(SUM(CASE WHEN c_mktsegment = '{seg_b}' THEN sx END) AS BIGINT) AS sx_b,
            CAST(SUM(CASE WHEN c_mktsegment = '{seg_b}' THEN sy END) AS BIGINT) AS sy_b,
            CAST(SUM(CASE WHEN c_mktsegment = '{seg_b}' THEN sxx END) AS BIGINT) AS sxx_b,
            CAST(SUM(CASE WHEN c_mktsegment = '{seg_b}' THEN sxy END) AS BIGINT) AS sxy_b
        FROM g
    ),
    algebra AS (
        SELECT *,
               sxx_a - CAST(sx_a AS DOUBLE) * sx_a / n_a AS cxx_a,
               sxy_a - CAST(sx_a AS DOUBLE) * sy_a / n_a AS cxy_a,
               sxx_b - CAST(sx_b AS DOUBLE) * sx_b / n_b AS cxx_b,
               sxy_b - CAST(sx_b AS DOUBLE) * sy_b / n_b AS cxy_b,
               CAST(sx_a AS DOUBLE) / n_a AS xbar_a,
               CAST(sx_b AS DOUBLE) / n_b AS xbar_b,
               CAST(sy_a AS DOUBLE) / n_a AS ybar_a,
               CAST(sy_b AS DOUBLE) / n_b AS ybar_b
        FROM sides
    )
    SELECT n_a, n_b,
           CAST((2 * sy_a + n_a) // (2 * n_a) AS BIGINT) AS mean_a_cents,
           CAST((2 * sy_b + n_b) // (2 * n_b) AS BIGINT) AS mean_b_cents,
           round(ybar_a - ybar_b, 6) AS gap_cents,
           CASE WHEN cxx_a > 0 AND cxx_b > 0 THEN
               round((cxy_a / cxx_a) * (xbar_a - xbar_b), 6)
           END AS explained_cents,
           CASE WHEN cxx_a > 0 AND cxx_b > 0 THEN
               round(xbar_b * (cxy_a / cxx_a - cxy_b / cxx_b)
                     + ((ybar_a - (cxy_a / cxx_a) * xbar_a)
                        - (ybar_b - (cxy_b / cxx_b) * xbar_b)), 6)
           END AS unexplained_cents
    FROM algebra
    """


# --- Benford mantissa-arc test --------------------------------------------------------


def mantissa_arc_test(orders: DataFrame) -> DataFrame:
    """Benford mantissa-arc test on order totals: under Benford's law the
    base-10 mantissae are uniform on the circle, so the mean resultant
    vector of (cos 2πm, sin 2πm) should sit at the origin; the statistic
    n·L² is asymptotically chi-square(2). The second-order forensic check
    behind the first-digit audit (L-145) — digit histograms can pass while
    the mantissa distribution is visibly lumpy (price points!).

    Per-row cos/sin contributions round ONCE to micro ints (the ln/exp
    micro-nat convention), so the resultant sums are order-free; the
    statistic assembles from two exact integers. One row: (n, cos_micro,
    sin_micro, l2_micro, arc_stat)."""
    terms = orders.where(F.col("o_totalprice") > 0).select(
        F.expr(
            "CAST(round(1e6 * cos(2 * pi() * (log10(CAST(o_totalprice AS"
            " DOUBLE)) - floor(log10(CAST(o_totalprice AS DOUBLE))))))"
            " AS BIGINT)"
        ).alias("c_micro"),
        F.expr(
            "CAST(round(1e6 * sin(2 * pi() * (log10(CAST(o_totalprice AS"
            " DOUBLE)) - floor(log10(CAST(o_totalprice AS DOUBLE))))))"
            " AS BIGINT)"
        ).alias("s_micro"),
    )
    agg = terms.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("c_micro").alias("cos_micro"),
        F.sum("s_micro").alias("sin_micro"),
    )
    l2 = (
        (F.col("cos_micro") / F.col("n") / 1e6) ** 2
        + (F.col("sin_micro") / F.col("n") / 1e6) ** 2
    )
    return agg.select(
        "n",
        "cos_micro",
        "sin_micro",
        F.round(l2 * 1e6).cast("long").alias("l2_micro"),
        F.round(F.col("n") * l2, 6).alias("arc_stat"),
    )


def mantissa_arc_test_sql() -> str:
    return """
    WITH terms AS (
        SELECT CAST(round(1e6 * cos(2 * pi() * (log10(o_totalprice)
                   - floor(log10(o_totalprice))))) AS BIGINT) AS c_micro,
               CAST(round(1e6 * sin(2 * pi() * (log10(o_totalprice)
                   - floor(log10(o_totalprice))))) AS BIGINT) AS s_micro
        FROM orders WHERE o_totalprice > 0
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(c_micro) AS BIGINT) AS cos_micro,
               CAST(SUM(s_micro) AS BIGINT) AS sin_micro
        FROM terms
    )
    SELECT n, cos_micro, sin_micro,
           CAST(round(1e6 * ((cos_micro / n / 1e6) * (cos_micro / n / 1e6)
               + (sin_micro / n / 1e6) * (sin_micro / n / 1e6)))
               AS BIGINT) AS l2_micro,
           round(n * ((cos_micro / n / 1e6) * (cos_micro / n / 1e6)
               + (sin_micro / n / 1e6) * (sin_micro / n / 1e6)), 6)
               AS arc_stat
    FROM agg
    """


# --- LFU cache-hit curve --------------------------------------------------------------

CACHE_SIZES = (1, 4, 16, 64, 256)


def cache_hit_curve(
    lineitem: DataFrame, sizes: tuple[int, ...] = CACHE_SIZES
) -> DataFrame:
    """Perfect-LFU cache-hit curve over part popularity: if the ``C``
    hottest parts were pinned, what fraction of line items would hit? The
    capacity-planning curve for any hot-set cache (dimension cache,
    broadcast cut-off, CDN tier) — read it where the marginal doubling
    stops paying.

    One (part) aggregate, one rank window over that bounded item relation,
    one cumulative sum, and a literal size grid — all exact integers.
    Output per size: (cache_size, n_items, hits, total, hit_milli)."""
    pop = lineitem.groupBy("l_partkey").agg(
        F.count("*").cast("long").alias("freq")
    )
    w_rank = Window.orderBy(F.col("freq").desc(), F.col("l_partkey").asc())
    ranked = pop.select(
        "freq",
        F.row_number().over(w_rank).cast("long").alias("r"),
    ).select(
        "r",
        F.sum("freq").over(
            Window.orderBy("r").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        ).alias("cum"),
        F.sum("freq").over(Window.partitionBy()).alias("total"),
        F.count("*").over(Window.partitionBy()).cast("long").alias("n_items"),
    )
    grid = F.explode(F.array(*[F.lit(c) for c in sizes])).alias("cache_size")
    return (
        ranked.select("r", "cum", "total", "n_items", grid)
        .where(F.col("r") == F.least(F.col("cache_size"), F.col("n_items")))
        .select(
            F.col("cache_size").cast("int").alias("cache_size"),
            "n_items",
            F.col("cum").alias("hits"),
            "total",
            F.expr(
                "CAST((2 * 1000 * cum + total) DIV (2 * total) AS BIGINT)"
            ).alias("hit_milli"),
        )
        .orderBy("cache_size")
    )


def cache_hit_curve_sql(sizes: tuple[int, ...] = CACHE_SIZES) -> str:
    slist = ", ".join(str(c) for c in sizes)
    return f"""
    WITH pop AS (
        SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS freq
        FROM lineitem GROUP BY l_partkey
    ),
    ranked AS (
        SELECT CAST(row_number() OVER (
                   ORDER BY freq DESC, l_partkey ASC) AS BIGINT) AS r,
               freq
        FROM pop
    ),
    cum AS (
        SELECT r,
               CAST(SUM(freq) OVER (ORDER BY r
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum,
               CAST(SUM(freq) OVER () AS BIGINT) AS total,
               CAST(COUNT(*) OVER () AS BIGINT) AS n_items
        FROM ranked
    )
    SELECT CAST(g.cache_size AS INTEGER) AS cache_size, c.n_items,
           c.cum AS hits, c.total,
           CAST((2 * 1000 * c.cum + c.total) // (2 * c.total) AS BIGINT)
               AS hit_milli
    FROM cum c
    JOIN (SELECT UNNEST([{slist}]) AS cache_size) g
      ON c.r = LEAST(g.cache_size, c.n_items)
    ORDER BY cache_size
    """


# --- top-k ranking stability ----------------------------------------------------------

TOPK_STAB_K = 20


def topk_stability(lineitem: DataFrame, k: int = TOPK_STAB_K) -> DataFrame:
    """Year-over-year top-k stability of the part revenue ranking: for
    each consecutive ship-year pair, how much of the top-``k`` list
    survives (Jaccard) and how consistently the survivors are ordered
    (Kendall tau-a by exact pair counting) — the leaderboard-churn metric
    behind "is this ranking signal or noise?" reviews.

    One (year, part) revenue aggregate, per-year rank windows on the
    bounded part relation, a ≤k-row year-pair join and a ≤k² concordance
    grid — all exact integers except the final tau ratio.

    Output per pair: (year_a, year_b, n_common, jaccard_milli, n_conc,
    n_disc, tau)."""
    rev = lineitem.groupBy(
        F.year("l_shipdate").alias("yr"), "l_partkey"
    ).agg(
        F.sum(
            F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)")
        ).alias("rev")
    )
    w_yr = Window.partitionBy("yr").orderBy(
        F.col("rev").desc(), F.col("l_partkey").asc()
    )
    topk = rev.withColumn("rnk", F.row_number().over(w_yr)).where(
        F.col("rnk") <= k
    )
    a = topk.select(
        F.col("yr").alias("year_a"),
        F.col("l_partkey").alias("pk"),
        F.col("rnk").alias("ra"),
    )
    b = topk.select(
        (F.col("yr") - 1).alias("year_a"),
        F.col("yr").alias("year_b"),
        F.col("l_partkey").alias("pk"),
        F.col("rnk").alias("rb"),
    )
    common = a.join(b, ["year_a", "pk"]).select(
        "year_a", "year_b", "pk", "ra", "rb"
    )
    pairs = (
        common.alias("x")
        .join(
            common.alias("y"),
            (F.col("x.year_a") == F.col("y.year_a"))
            & (F.col("x.pk") < F.col("y.pk")),
        )
        .select(
            F.col("x.year_a").alias("year_a"),
            (
                (F.col("x.ra") - F.col("y.ra"))
                * (F.col("x.rb") - F.col("y.rb"))
                > 0
            ).cast("long").alias("conc"),
        )
    )
    pair_agg = pairs.groupBy("year_a").agg(
        F.sum("conc").alias("n_conc"),
        F.sum(1 - F.col("conc")).alias("n_disc"),
    )
    overlap = common.groupBy("year_a", "year_b").agg(
        F.count("*").cast("long").alias("n_common")
    )
    return (
        overlap.join(pair_agg, "year_a", "left")
        .select(
            "year_a",
            "year_b",
            "n_common",
            F.expr(
                f"CAST((2 * 1000 * n_common + (2 * {k} - n_common))"
                f" DIV (2 * (2 * {k} - n_common)) AS BIGINT)"
            ).alias("jaccard_milli"),
            F.coalesce("n_conc", F.lit(0)).alias("n_conc"),
            F.coalesce("n_disc", F.lit(0)).alias("n_disc"),
            F.expr(
                "CASE WHEN n_common > 1 THEN round(CAST(n_conc - n_disc"
                " AS DOUBLE) / (n_common * (n_common - 1) / 2), 6) END"
            ).alias("tau"),
        )
        .orderBy("year_a")
    )


def topk_stability_sql(k: int = TOPK_STAB_K) -> str:
    return f"""
    WITH rev AS (
        SELECT EXTRACT(year FROM l_shipdate) AS yr, l_partkey,
               CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS rev
        FROM lineitem GROUP BY 1, 2
    ),
    topk AS (
        SELECT *, row_number() OVER (
            PARTITION BY yr ORDER BY rev DESC, l_partkey ASC
        ) AS rnk
        FROM rev
        QUALIFY rnk <= {k}
    ),
    common AS (
        SELECT a.yr AS year_a, b.yr AS year_b, a.l_partkey AS pk,
               a.rnk AS ra, b.rnk AS rb
        FROM topk a
        JOIN topk b ON b.yr = a.yr + 1 AND b.l_partkey = a.l_partkey
    ),
    pair_agg AS (
        SELECT x.year_a,
               CAST(SUM(CASE WHEN (x.ra - y.ra) * (x.rb - y.rb) > 0
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_conc,
               CAST(SUM(CASE WHEN (x.ra - y.ra) * (x.rb - y.rb) > 0
                        THEN 0 ELSE 1 END) AS BIGINT) AS n_disc
        FROM common x
        JOIN common y ON y.year_a = x.year_a AND x.pk < y.pk
        GROUP BY x.year_a
    ),
    overlap AS (
        SELECT year_a, year_b, CAST(COUNT(*) AS BIGINT) AS n_common
        FROM common GROUP BY year_a, year_b
    )
    SELECT o.year_a, o.year_b, o.n_common,
           CAST((2 * 1000 * o.n_common + (2 * {k} - o.n_common))
                // (2 * (2 * {k} - o.n_common)) AS BIGINT) AS jaccard_milli,
           COALESCE(p.n_conc, 0) AS n_conc,
           COALESCE(p.n_disc, 0) AS n_disc,
           CASE WHEN o.n_common > 1 THEN
               round(CAST(p.n_conc - p.n_disc AS DOUBLE)
                     / (o.n_common * (o.n_common - 1) / 2), 6)
           END AS tau
    FROM overlap o
    LEFT JOIN pair_agg p USING (year_a)
    ORDER BY o.year_a
    """
