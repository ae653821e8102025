"""Co-occurrence graph operators over the order/part bipartite relation.

Market-basket co-occurrence is the canonical "pairs within a basket" fan-out:
naively quadratic, but bounded in practice because the quadratic term is per
BASKET (orders have ≤ ~13 distinct parts in the fixture; real carts are
similarly small), so pair volume is Σ c_i·(c_i−1)/2 with small c_i — linear-ish
in baskets. The ``max_basket`` guard makes the bound explicit: a pathological
mega-basket (data error, bot order) would otherwise contribute c² pairs alone,
the same blow-up the LSH buckets cap with ``max_bucket`` (llm/dedup.py).

Every operator derives from ONE basket relation (`_basket_arrays`: one
orderkey-keyed collect_set shuffle) and generates pairs with a NARROW
per-basket array expansion (`_pair_array`) instead of a basket-key self-join —
same pair volume, two fewer shuffles per query, and no join at all in the
quadratic step. The self-join form survives only in the DuckDB oracles (SQL
has no cheap array comprehension for this), which is fine: the oracle defines
SEMANTICS, the DataFrame plan defines the execution strategy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _basket_arrays(lineitem: DataFrame, max_basket: int) -> DataFrame:
    """One row per small basket: (l_orderkey, sorted distinct part array).

    ONE orderkey-keyed shuffle total (collect_set partials combine map-side);
    the distinct-items projection, the basket-size filter, and the pair
    fan-out all derive from this relation with narrow array ops. The previous
    shape (distinct → groupBy count → semi-join) cost three shuffles and
    re-ran per graph query — measured ~35-40% of every graph operator's
    wall-clock at sf0.1."""
    return (
        lineitem.groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("parts"))
        .where(F.size("parts") <= max_basket)
    )


def _pair_array(parts):
    """All ordered pairs (a < b) from a SORTED distinct array, as
    array<struct<a,b>> — narrow per-row expansion, no self-join. Sortedness
    makes slice-after-index equivalent to the a < b predicate."""
    return F.flatten(
        F.transform(
            parts,
            lambda x, i: F.transform(
                F.slice(parts, i + 2, F.size(parts)),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )


def _oriented_pair_rel(lineitem: DataFrame, max_basket: int) -> DataFrame:
    """Per-basket co-purchase incidences (part_a < part_b), NON-distinct:
    one row per (basket, pair). Replaces the basket self-join with the
    narrow `_pair_array` expansion — pair volume is identical
    (Σ c_i·(c_i−1)/2), but no join and no second shuffle."""
    return (
        _basket_arrays(lineitem, max_basket)
        .select(F.explode(_pair_array(F.col("parts"))).alias("pr"))
        .select(F.col("pr.a").alias("part_a"), F.col("pr.b").alias("part_b"))
    )




def copurchase_pairs(
    lineitem: DataFrame, k: int = 50, max_basket: int = 30
) -> DataFrame:
    """Top-k part pairs by number of shared orders. One shuffle to build
    baskets, narrow per-basket pair expansion, one pair-key aggregate with
    distributed top-k (TakeOrderedAndProject)."""
    return (
        _oriented_pair_rel(lineitem, max_basket)
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("n_orders"))
        .orderBy(F.desc("n_orders"), "part_a", "part_b")
        .limit(k)
    )


def copurchase_pairs_sql(k: int = 50, max_basket: int = 30) -> str:
    return f"""
        WITH items AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ), small AS (
            SELECT l_orderkey FROM items
            GROUP BY l_orderkey HAVING COUNT(*) <= {max_basket}
        ), basket AS (
            SELECT i.l_orderkey, i.l_partkey FROM items i
            JOIN small USING (l_orderkey)
        )
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               COUNT(*) AS n_orders
        FROM basket a JOIN basket b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY a.l_partkey, b.l_partkey
        ORDER BY n_orders DESC, part_a, part_b
        LIMIT {k}
    """


def part_degree(
    lineitem: DataFrame, k: int = 100, max_basket: int = 30
) -> DataFrame:
    """Top-k parts by co-purchase degree (distinct neighbor parts). The
    symmetric closure never materializes the basket stage twice: incidences
    come from the one-directional narrow pair expansion unioned with its
    flip."""
    oriented = _oriented_pair_rel(lineitem, max_basket)
    pairs = oriented.select(
        F.col("part_a").alias("p"), F.col("part_b").alias("q")
    ).unionByName(
        oriented.select(F.col("part_b").alias("p"), F.col("part_a").alias("q"))
    )
    return (
        pairs.groupBy("p")
        .agg(F.count_distinct("q").alias("degree"), F.count("*").alias("n_copurchases"))
        .select(F.col("p").alias("p_partkey"), "degree", "n_copurchases")
        .orderBy(F.desc("degree"), F.desc("n_copurchases"), "p_partkey")
        .limit(k)
    )


def part_degree_sql(k: int = 100, max_basket: int = 30) -> str:
    return f"""
        WITH items AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ), small AS (
            SELECT l_orderkey FROM items
            GROUP BY l_orderkey HAVING COUNT(*) <= {max_basket}
        ), basket AS (
            SELECT i.l_orderkey, i.l_partkey FROM items i
            JOIN small USING (l_orderkey)
        )
        SELECT a.l_partkey AS p_partkey,
               COUNT(DISTINCT b.l_partkey) AS degree,
               COUNT(*) AS n_copurchases
        FROM basket a JOIN basket b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        GROUP BY a.l_partkey
        ORDER BY degree DESC, n_copurchases DESC, p_partkey
        LIMIT {k}
    """


# --- PageRank -----------------------------------------------------------------

PR_ITERS = 5
PR_DAMPING = 0.85
PR_TOP_K = 50


def _symmetric_edges(lineitem: DataFrame, max_basket: int, cut: bool = True):
    """Distinct undirected co-purchase edges, symmetrized to (src, dst):
    the oriented narrow expansion deduped once (a < b, the smaller relation),
    then BOTH directions emitted by one narrow explode.

    Round 11: the flip used to be a self-union, which references `oriented`
    TWICE — captured round-10 plans showed exchange reuse MISSING across the
    two branches, so every materialization paid the basket→pair pipeline
    (lineitem scan, basket collect, pair explode, distinct) twice unless an
    inner checkpoint was inserted, and THAT pinned a second copy of the edge
    bytes for callers who checkpoint the symmetric relation themselves
    (round-10 ADVICE). `explode` of the two orientations references
    `oriented` ONCE: one pipeline execution per materialization by
    construction, no union, and Catalyst stats survive (sizeInBytes ≈ 2×
    the oriented child), so broadcast decisions downstream are unaffected.

    ``cut=True`` additionally localCheckpoints the oriented half — for
    consumers that reference the RESULT repeatedly without checkpointing it
    themselves (katz's per-hop joins, simrank's prefix), so the pipeline
    runs once per query rather than once per reference. Callers that
    checkpoint the symmetric relation themselves pass ``cut=False``: the
    outer checkpoint already bounds the pipeline to one execution, and the
    inner RDD would just pin a second copy of every edge. ``cut=False`` is
    also the stats-preserving choice (an RDD leaf has none) — the round-10
    walk_pair_counts ×1.5 regression was exactly a lost broadcast."""
    oriented = (
        _oriented_pair_rel(lineitem, max_basket)
        .select(F.col("part_a").alias("src"), F.col("part_b").alias("dst"))
        .distinct()
    )
    if cut:
        oriented = oriented.localCheckpoint(eager=False)
    return oriented.select(
        F.explode(
            F.array(
                F.struct(F.col("src").alias("src"), F.col("dst").alias("dst")),
                F.struct(F.col("dst").alias("src"), F.col("src").alias("dst")),
            )
        ).alias("e")
    ).select(F.col("e.src").alias("src"), F.col("e.dst").alias("dst"))


def copurchase_pagerank(
    lineitem: DataFrame,
    iters: int = PR_ITERS,
    damping: float = PR_DAMPING,
    k: int = PR_TOP_K,
    max_basket: int = 30,
) -> DataFrame:
    """Top-k parts by PageRank over the co-purchase graph after a FIXED
    number of power iterations (r_{t+1} = (1−d) + d·Σ r_t(u)/deg(u)).

    The iteration count is a constant, not a convergence test, so the whole
    computation is one deterministic declarative plan — the oracle unrolls
    the same five iterations as chained CTEs. Each iteration is one
    (dst-keyed) aggregate + one broadcast-sized rank join; the symmetric
    graph has no dangling nodes (every node in an edge has degree ≥ 1), so
    no dangling-mass redistribution term is needed. For unbounded iteration
    counts the dedup_clusters pattern (localCheckpoint + scalar convergence
    probe) is the swap."""
    # checkpoint the EDGE relation, not just the joined contrib relation:
    # the plan audit of the old form showed the basket→pair pipeline scanned
    # lineitem TWICE at contrib_base materialization (once under `edges`,
    # once under `deg` — exchange reuse missed across the join's two sides).
    # With edges an in-memory RDD, deg and the join are derived from it and
    # the data-sized pipeline executes exactly once.
    edges = _symmetric_edges(lineitem, max_basket, cut=False).localCheckpoint(eager=False)
    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    # lazy localCheckpoint keeps the lineage flat as iterations grow (the
    # dedup_clusters treatment) and stops the per-round subplan fan-out
    contrib_base = edges.join(deg, "src").localCheckpoint(eager=False)
    ranks = deg.select(F.col("src").alias("node"), F.lit(1.0).alias("r"))
    for _ in range(iters):
        ranks = (
            contrib_base.join(
                ranks, F.col("src") == F.col("node")
            )
            .groupBy("dst")
            .agg(F.sum(F.col("r") / F.col("deg")).alias("mass"))
            .select(
                F.col("dst").alias("node"),
                (F.lit(1.0 - damping) + F.lit(damping) * F.col("mass")).alias("r"),
            )
        )
    return (
        ranks.select(
            F.col("node").alias("p_partkey"), F.round("r", 6).alias("pagerank")
        )
        .orderBy(F.desc("pagerank"), "p_partkey")
        .limit(k)
    )


def copurchase_pagerank_sql(
    iters: int = PR_ITERS,
    damping: float = PR_DAMPING,
    k: int = PR_TOP_K,
    max_basket: int = 30,
) -> str:
    its = [
        f"""r0 AS (
            SELECT src AS node, 1.0 AS r FROM deg
        )"""
    ]
    for i in range(1, iters + 1):
        its.append(
            f"""r{i} AS (
            SELECT e.dst AS node,
                   {1.0 - damping} + {damping} * SUM(r.r / d.deg) AS r
            FROM edges e
            JOIN deg d ON e.src = d.src
            JOIN r{i - 1} r ON r.node = e.src
            GROUP BY e.dst
        )"""
        )
    chain = ",\n        ".join(its)
    return f"""
        WITH items AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ), small AS (
            SELECT l_orderkey FROM items
            GROUP BY l_orderkey HAVING COUNT(*) <= {max_basket}
        ), basket AS (
            SELECT i.l_orderkey, i.l_partkey FROM items i
            JOIN small USING (l_orderkey)
        ), edges AS (
            SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
            FROM basket a JOIN basket b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        ), deg AS (
            SELECT src, COUNT(*) AS deg FROM edges GROUP BY src
        ),
        {chain}
        SELECT node AS p_partkey, round(r, 6) AS pagerank
        FROM r{iters}
        ORDER BY pagerank DESC, p_partkey
        LIMIT {k}
    """


# --- association rules --------------------------------------------------------

RULE_MIN_SUPPORT = 2
RULE_TOP_K = 20


def association_rules(
    lineitem: DataFrame,
    min_support: int = RULE_MIN_SUPPORT,
    k: int = RULE_TOP_K,
    max_basket: int = 30,
) -> DataFrame:
    """Top-k co-purchase rules a→b by lift (support/confidence/lift — the
    market-basket association measures) with a minimum pair support.

    Item supports come from ONE aggregate of the basket relation; the global
    basket count is a broadcast 1-row scalar; pair counts reuse the bounded
    self-join. Everything after the pair aggregate operates on ≤|pairs
    above min_support| rows."""
    baskets = _basket_arrays(lineitem, max_basket)
    n_baskets = baskets.agg(F.count("*").alias("n_baskets"))
    supp = (
        baskets.select(F.explode("parts").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count("*").alias("n_item"))
    )
    pairs = (
        _oriented_pair_rel(lineitem, max_basket)
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("n_pair"))
        .where(F.col("n_pair") >= min_support)
    )
    sa = supp.select(F.col("l_partkey").alias("part_a"), F.col("n_item").alias("n_a"))
    sb = supp.select(F.col("l_partkey").alias("part_b"), F.col("n_item").alias("n_b"))
    return (
        pairs.join(F.broadcast(sa), "part_a")
        .join(F.broadcast(sb), "part_b")
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "part_a",
            "part_b",
            "n_pair",
            F.round(F.col("n_pair") / F.col("n_baskets"), 6).alias("support"),
            F.round(F.col("n_pair") / F.col("n_a"), 6).alias("confidence"),
            F.round(
                (F.col("n_pair") * F.col("n_baskets"))
                / (F.col("n_a") * F.col("n_b")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "part_a", "part_b")
        .limit(k)
    )


def association_rules_sql(
    min_support: int = RULE_MIN_SUPPORT, k: int = RULE_TOP_K, max_basket: int = 30
) -> str:
    return f"""
        WITH items AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ), small AS (
            SELECT l_orderkey FROM items
            GROUP BY l_orderkey HAVING COUNT(*) <= {max_basket}
        ), basket AS (
            SELECT i.l_orderkey, i.l_partkey FROM items i
            JOIN small USING (l_orderkey)
        ), nb AS (
            SELECT COUNT(DISTINCT l_orderkey) AS n_baskets FROM basket
        ), supp AS (
            SELECT l_partkey, COUNT(*) AS n_item FROM basket GROUP BY l_partkey
        ), pairs AS (
            SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
                   COUNT(*) AS n_pair
            FROM basket a JOIN basket b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            GROUP BY a.l_partkey, b.l_partkey
            HAVING COUNT(*) >= {min_support}
        )
        SELECT part_a, part_b, n_pair,
               round(n_pair / n_baskets, 6) AS support,
               round(n_pair / sa.n_item, 6) AS confidence,
               round((n_pair * n_baskets) / (sa.n_item * sb.n_item), 6) AS lift
        FROM pairs, nb
        JOIN supp sa ON sa.l_partkey = part_a
        JOIN supp sb ON sb.l_partkey = part_b
        ORDER BY lift DESC, part_a, part_b
        LIMIT {k}
    """


# --- triangle counting --------------------------------------------------------

TRI_MIN_SUPPORT = 2


def triangle_count(
    lineitem: DataFrame, max_basket: int = 30, min_support: int = TRI_MIN_SUPPORT
) -> DataFrame:
    """Global triangle census of the co-purchase graph: edges are part pairs
    sharing ≥ ``min_support`` orders (support pruning bounds |E| the way
    max_basket bounds pair fan-out).

    Canonical two-join plan on ORIENTED edges (src < dst, so each triangle
    is materialized exactly once as a < b < c): edges(a,b) ⋈ edges(b,c)
    builds wedges, the second join closes them against edges(a,c). Both
    joins are edge-keyed shuffles of the REDUCED edge relation — raw
    lineitem is long gone. At larger scale the standard refinement is
    degree-ordering the orientation (high-degree nodes get few out-edges,
    bounding wedge fan-out); support pruning already caps the fixture's
    skew. Output is one row — edge count, wedge count (the STANDARD
    Σ C(deg, 2) over symmetrized degrees, so 3·Δ/wedges is the textbook
    global clustering coefficient in [0, 1]; the oriented a<b<c wedge
    relation is only the triangle-closure intermediate), triangle count,
    and the coefficient (one float division of exact integer counts)."""
    edges = (
        _oriented_pair_rel(lineitem, max_basket)
        .groupBy(F.col("part_a").alias("u"), F.col("part_b").alias("v"))
        .agg(F.count("*").alias("support"))
        .where(F.col("support") >= min_support)
        .select("u", "v")
    )
    e1 = edges.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = edges.select(F.col("u").alias("b"), F.col("v").alias("c"))
    wedges = e1.join(e2, "b").select("a", "b", "c")
    closing = edges.select(F.col("u").alias("a"), F.col("v").alias("c"))
    tris = wedges.join(closing, ["a", "c"])
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    std_wedges = deg.agg(
        F.sum((F.col("deg") * (F.col("deg") - 1) / 2).cast("long")).alias("n_wedges")
    )
    return (
        edges.agg(F.count("*").alias("n_edges"))
        .crossJoin(std_wedges)
        .crossJoin(tris.agg(F.count("*").alias("n_triangles")))
        .select(
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.when(
                F.col("n_wedges") > 0,
                3.0 * F.col("n_triangles") / F.col("n_wedges"),
            ).alias("clustering_coeff"),
        )
    )


def triangle_count_sql(
    max_basket: int = 30, min_support: int = TRI_MIN_SUPPORT
) -> str:
    return f"""
        WITH items AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ), small AS (
            SELECT l_orderkey FROM items
            GROUP BY l_orderkey HAVING COUNT(*) <= {max_basket}
        ), basket AS (
            SELECT i.l_orderkey, i.l_partkey FROM items i
            JOIN small USING (l_orderkey)
        ), edges AS (
            SELECT a.l_partkey AS u, b.l_partkey AS v
            FROM basket a JOIN basket b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            GROUP BY a.l_partkey, b.l_partkey
            HAVING COUNT(*) >= {min_support}
        ), wedges AS (
            SELECT e1.u AS a, e1.v AS b, e2.v AS c
            FROM edges e1 JOIN edges e2 ON e1.v = e2.u
        ), tris AS (
            SELECT 1 FROM wedges w JOIN edges e ON w.a = e.u AND w.c = e.v
        ), deg AS (
            SELECT node, COUNT(*) AS deg FROM (
                SELECT u AS node FROM edges
                UNION ALL SELECT v AS node FROM edges
            ) GROUP BY node
        ), std_wedges AS (
            SELECT CAST(SUM(CAST(deg * (deg - 1) / 2 AS BIGINT)) AS BIGINT)
                       AS n_wedges
            FROM deg
        )
        SELECT (SELECT COUNT(*) FROM edges) AS n_edges,
               (SELECT n_wedges FROM std_wedges) AS n_wedges,
               (SELECT COUNT(*) FROM tris) AS n_triangles,
               CASE WHEN (SELECT n_wedges FROM std_wedges) > 0
                    THEN 3.0 * (SELECT COUNT(*) FROM tris)
                         / (SELECT n_wedges FROM std_wedges)
               END AS clustering_coeff
    """


# --- bounded BFS --------------------------------------------------------------

BFS_MAX_HOPS = 3


def bfs_hop_distance(
    lineitem: DataFrame, max_hops: int = BFS_MAX_HOPS, max_basket: int = 30
) -> DataFrame:
    """Min-hop distance from the highest-degree part to every part reachable
    in ≤ ``max_hops`` hops over the co-purchase graph — bounded breadth-first
    traversal as a fixed number of unrolled frontier joins (the PageRank
    treatment: constant rounds → one declarative plan; unbounded traversal
    is the dedup_clusters convergence pattern).

    Each round joins the CURRENT frontier (small) against the edge relation
    and anti-joins the visited set — both edge-keyed shuffles of reduced
    relations. The source is data-derived (max degree, partkey tiebreak) via
    a broadcast 1-row rank, not a hardcoded id. The edge relation is
    checkpointed ONCE (the dedup_clusters treatment): every hop references
    it, and without the checkpoint the basket self-join re-executes per hop
    (A/B-measured 11.1 s → 8.1 s at sf0.1; the residual cost is the hop
    joins themselves — this fixture's co-purchase graph is dense, so the
    hop-1 frontier is nearly the whole graph)."""
    edges = _symmetric_edges(lineitem, max_basket, cut=False).localCheckpoint(eager=True)
    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    source = (
        deg.orderBy(F.desc("deg"), "src")
        .limit(1)
        .select(F.col("src").alias("node"), F.lit(0).alias("hops"))
    )
    visited = source
    frontier = source
    # per-hop frontier checkpoint: each frontier feeds BOTH the next hop's
    # broadcast and the visited accumulator, so without it hop h re-executes
    # every earlier hop's join+distinct+anti chain (the harmonic_centrality
    # fix, same shape).
    for hop in range(1, max_hops + 1):
        frontier = (
            edges.join(
                F.broadcast(frontier.select(F.col("node").alias("src"))), "src"
            )
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("hops", F.lit(hop))
            .localCheckpoint(eager=False)
        )
        visited = visited.unionByName(frontier)
    return visited.orderBy("hops", "node")


def bfs_hop_distance_sql(
    max_hops: int = BFS_MAX_HOPS, max_basket: int = 30
) -> str:
    rounds = [
        """v0 AS (
            SELECT src AS node, 0 AS hops FROM deg
            ORDER BY deg DESC, src LIMIT 1
        ), f0 AS (SELECT node FROM v0)"""
    ]
    for h in range(1, max_hops + 1):
        rounds.append(
            f"""f{h} AS (
            SELECT DISTINCT e.dst AS node
            FROM edges e JOIN f{h - 1} f ON e.src = f.node
            WHERE e.dst NOT IN (SELECT node FROM v{h - 1})
        ), v{h} AS (
            SELECT node, hops FROM v{h - 1}
            UNION ALL SELECT node, {h} AS hops FROM f{h}
        )"""
        )
    chain = ",\n        ".join(rounds)
    return f"""
        WITH items AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ), small AS (
            SELECT l_orderkey FROM items
            GROUP BY l_orderkey HAVING COUNT(*) <= {max_basket}
        ), basket AS (
            SELECT i.l_orderkey, i.l_partkey FROM items i
            JOIN small USING (l_orderkey)
        ), edges AS (
            SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
            FROM basket a JOIN basket b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        ), deg AS (
            SELECT src, COUNT(*) AS deg FROM edges GROUP BY src
        ),
        {chain}
        SELECT node, hops FROM v{max_hops}
        ORDER BY hops, node
    """


# --- link prediction ----------------------------------------------------------

LP_TOP_K = 50
LP_MAX_HUB_DEGREE = 50


def link_prediction_jaccard(
    lineitem: DataFrame,
    k: int = LP_TOP_K,
    max_basket: int = 30,
    min_support: int = TRI_MIN_SUPPORT,
    max_hub_degree: int = LP_MAX_HUB_DEGREE,
) -> DataFrame:
    """Top-k NON-edges ranked by neighborhood Jaccard — the classic
    similarity-based link predictor ("parts that should co-sell but don't
    yet"). Candidates come from wedges (pairs sharing ≥1 neighbor — the only
    pairs with nonzero score), existing edges anti-join out, and the score
    verifies on the two neighbor SETS via array_intersect — the
    prefix-filter verify pattern transplanted to graphs.

    Everything runs on the support-pruned edge relation: wedge candidates,
    neighbor-set build (one collect_list per node after symmetrization),
    and the ≤candidate-sized verify joins. Integer |∩| and degrees make the
    rounded score engine-exact.

    ``max_hub_degree`` drops HUB nodes from the wedge MIDDLE (the stop-node
    rule — the graph twin of max_df/max_bucket): a hub of degree d spawns
    ~d² candidate pairs that mostly share only that hub, so candidates stay
    ≤ cap·|E| instead of Σdeg² (the uncapped probe measured ×49.7 at 10×
    data; capped it tracks the edge growth). Scores still verify on FULL
    neighbor sets — the cap only bounds who proposes a candidate."""
    # oriented, support-pruned edges (the triangle_count edge rule)
    pruned = (
        _oriented_pair_rel(lineitem, max_basket)
        .groupBy(F.col("part_a").alias("u"), F.col("part_b").alias("v"))
        .agg(F.count("*").alias("support"))
        .where(F.col("support") >= min_support)
        .select("u", "v")
        .localCheckpoint(eager=True)
    )
    sym = pruned.unionByName(
        pruned.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    nbrs = sym.groupBy("u").agg(F.array_sort(F.collect_list("v")).alias("nb"))
    mid_ok = (
        sym.groupBy("u")
        .agg(F.count("*").alias("d"))
        .where(F.col("d") <= max_hub_degree)
        .select(F.col("u").alias("mid"))
    )
    capped = sym.join(mid_ok, sym["v"] == mid_ok["mid"]).select("u", "v")
    wedge = (
        capped.alias("e1")
        .join(capped.alias("e2"), F.col("e1.v") == F.col("e2.u"))
        .where(F.col("e1.u") < F.col("e2.v"))
        .select(F.col("e1.u").alias("x"), F.col("e2.v").alias("y"))
        .distinct()
    )
    non_edges = wedge.join(
        pruned.select(F.col("u").alias("x"), F.col("v").alias("y")),
        ["x", "y"],
        "left_anti",
    )
    scored = (
        non_edges.join(
            nbrs.select(F.col("u").alias("x"), F.col("nb").alias("nb_x")).hint(
                "shuffle_hash"
            ),
            "x",
        )
        .join(
            nbrs.select(F.col("u").alias("y"), F.col("nb").alias("nb_y")).hint(
                "shuffle_hash"
            ),
            "y",
        )
        .select(
            "x",
            "y",
            F.size(F.array_intersect("nb_x", "nb_y")).alias("common"),
            F.size("nb_x").alias("dx"),
            F.size("nb_y").alias("dy"),
        )
        .select(
            "x",
            "y",
            "common",
            F.round(
                F.col("common") / (F.col("dx") + F.col("dy") - F.col("common")), 6
            ).alias("score"),
        )
    )
    return scored.orderBy(F.desc("score"), "x", "y").limit(k)


def link_prediction_jaccard_sql(
    k: int = LP_TOP_K,
    max_basket: int = 30,
    min_support: int = TRI_MIN_SUPPORT,
    max_hub_degree: int = LP_MAX_HUB_DEGREE,
) -> str:
    return f"""
        WITH items AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ), small AS (
            SELECT l_orderkey FROM items
            GROUP BY l_orderkey HAVING COUNT(*) <= {max_basket}
        ), basket AS (
            SELECT i.l_orderkey, i.l_partkey FROM items i
            JOIN small USING (l_orderkey)
        ), pruned AS (
            SELECT a.l_partkey AS u, b.l_partkey AS v
            FROM basket a JOIN basket b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            GROUP BY a.l_partkey, b.l_partkey
            HAVING COUNT(*) >= {min_support}
        ), sym AS (
            SELECT u, v FROM pruned
            UNION ALL SELECT v AS u, u AS v FROM pruned
        ), deg AS (
            SELECT u, COUNT(*) AS d FROM sym GROUP BY u
        ), capped AS (
            SELECT s.u, s.v FROM sym s
            JOIN deg ON deg.u = s.v
            WHERE deg.d <= {max_hub_degree}
        ), wedge AS (
            SELECT DISTINCT e1.u AS x, e2.v AS y
            FROM capped e1 JOIN capped e2 ON e1.v = e2.u
            WHERE e1.u < e2.v
        ), non_edges AS (
            SELECT x, y FROM wedge w
            WHERE NOT EXISTS (SELECT 1 FROM pruned p WHERE p.u = w.x AND p.v = w.y)
        ), common AS (
            SELECT n.x, n.y, COUNT(*) AS common
            FROM non_edges n
            JOIN sym sx ON sx.u = n.x
            JOIN sym sy ON sy.u = n.y AND sy.v = sx.v
            GROUP BY n.x, n.y
        )
        SELECT c.x, c.y, c.common,
               round(c.common / (dx.d + dy.d - c.common), 6) AS score
        FROM common c
        JOIN deg dx ON dx.u = c.x
        JOIN deg dy ON dy.u = c.y
        ORDER BY score DESC, x, y
        LIMIT {k}
    """


# --- personalized PageRank ------------------------------------------------------


def personalized_pagerank(
    lineitem: DataFrame,
    iters: int = PR_ITERS,
    damping: float = PR_DAMPING,
    k: int = PR_TOP_K,
    max_basket: int = 30,
) -> DataFrame:
    """Top-k parts by PERSONALIZED PageRank from the highest-degree part:
    random walks restart at the SOURCE (r_{t+1} = (1−d)·e_src + d·Σ r_t/deg),
    so rank concentrates in the source's neighborhood — the
    related-items/recommendation scorer, vs global pagerank's popularity
    scorer. Source selection is data-derived (max degree, partkey tiebreak)
    via a broadcast 1-row rank, the bfs_hop_distance rule.

    Same plan economics as copurchase_pagerank: fixed iterations, one
    dst-keyed aggregate + broadcast rank join per round over the single-
    shuffle basket-derived edges; the restart term is a broadcast 1-row
    source relation coalesced in. The oracle unrolls identical CTEs."""
    # edges checkpointed first so the basket→pair pipeline runs ONCE: deg is
    # referenced by contrib_base, the source pick, r0, AND every round's
    # node-spine rebuild — each re-derivation re-scanned lineitem in the old
    # plan (see copurchase_pagerank)
    edges = _symmetric_edges(lineitem, max_basket, cut=False).localCheckpoint(eager=False)
    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    source = (
        deg.orderBy(F.desc("deg"), "src")
        .limit(1)
        .select(F.col("src").alias("node"), F.lit(True).alias("is_src"))
    )
    contrib_base = edges.join(deg, "src").localCheckpoint(eager=False)
    # r0 = e_src (all mass at the source)
    ranks = deg.select(F.col("src").alias("node")).join(
        F.broadcast(source.select("node", "is_src")), "node", "left"
    ).select(
        "node",
        F.when(F.col("is_src"), F.lit(1.0)).otherwise(F.lit(0.0)).alias("r"),
    )
    for _ in range(iters):
        spread = (
            contrib_base.join(ranks, F.col("src") == F.col("node"))
            .groupBy("dst")
            .agg(F.sum(F.col("r") / F.col("deg")).alias("mass"))
            .select(F.col("dst").alias("node"), F.col("mass"))
        )
        ranks = (
            deg.select(F.col("src").alias("node"))
            .join(spread, "node", "left")
            .join(F.broadcast(source.select("node", "is_src")), "node", "left")
            .select(
                "node",
                (
                    F.when(F.col("is_src"), F.lit(1.0 - damping)).otherwise(
                        F.lit(0.0)
                    )
                    + F.lit(damping) * F.coalesce(F.col("mass"), F.lit(0.0))
                ).alias("r"),
            )
        )
    return (
        ranks.where(F.col("r") > 0)
        .select(F.col("node").alias("p_partkey"), F.round("r", 6).alias("ppr"))
        .orderBy(F.desc("ppr"), "p_partkey")
        .limit(k)
    )


def personalized_pagerank_sql(
    iters: int = PR_ITERS,
    damping: float = PR_DAMPING,
    k: int = PR_TOP_K,
    max_basket: int = 30,
) -> str:
    its = [
        """r0 AS (
            SELECT d.src AS node,
                   CASE WHEN d.src = (SELECT node FROM source) THEN 1.0
                        ELSE 0.0 END AS r
            FROM deg d
        )"""
    ]
    for i in range(1, iters + 1):
        its.append(
            f"""r{i} AS (
            SELECT d.src AS node,
                   CASE WHEN d.src = (SELECT node FROM source)
                        THEN {1.0 - damping} ELSE 0.0 END
                   + {damping} * COALESCE(m.mass, 0.0) AS r
            FROM deg d
            LEFT JOIN (
                SELECT e.dst AS node, SUM(r.r / dd.deg) AS mass
                FROM edges e
                JOIN deg dd ON e.src = dd.src
                JOIN r{i - 1} r ON r.node = e.src
                GROUP BY e.dst
            ) m ON m.node = d.src
        )"""
        )
    chain = ",\n        ".join(its)
    return f"""
        WITH items AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ), small AS (
            SELECT l_orderkey FROM items
            GROUP BY l_orderkey HAVING COUNT(*) <= {max_basket}
        ), basket AS (
            SELECT i.l_orderkey, i.l_partkey FROM items i
            JOIN small USING (l_orderkey)
        ), edges AS (
            SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
            FROM basket a JOIN basket b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        ), deg AS (
            SELECT src, COUNT(*) AS deg FROM edges GROUP BY src
        ), source AS (
            SELECT src AS node FROM deg ORDER BY deg DESC, src LIMIT 1
        ),
        {chain}
        SELECT node AS p_partkey, round(r, 6) AS ppr
        FROM r{iters}
        WHERE r > 0
        ORDER BY ppr DESC, p_partkey
        LIMIT {k}
    """


# --- k-core decomposition -------------------------------------------------------

KCORE_K = 4
KCORE_PEELS = 4


def kcore_membership(
    lineitem: DataFrame,
    k: int = KCORE_K,
    peels: int = KCORE_PEELS,
    max_basket: int = 30,
) -> DataFrame:
    """Nodes surviving ``peels`` rounds of k-core peeling (degree < k nodes
    removed, degrees recomputed) — the standard dense-community filter: the
    k-core is where recommendation/graph-ML signal lives; peripheral
    low-degree nodes are noise. A FIXED peel count makes the whole
    decomposition one declarative plan (the pagerank treatment — full
    convergence swaps in the dedup_clusters scalar-probe loop); each round
    is one degree aggregate + one semi-join of the edge relation against the
    surviving node set.

    Output: the surviving node set with its residual degree after the last
    peel (residual >= k certifies core membership when the peel converged;
    the n_peels column makes the fixed-round contract explicit)."""
    edges = _symmetric_edges(lineitem, max_basket, cut=False).localCheckpoint(eager=False)
    for _ in range(peels):
        deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
        keep = deg.where(F.col("deg") >= k).select("src")
        # each round references the prior edge relation three times (degree
        # agg + both join probes): without a per-round lazy checkpoint the
        # subplan fans out 3^peels and ReusedExchange only partially
        # recovers it (measured 7.6 s -> ~4 s at sf0.1 with the checkpoint)
        edges = (
            edges.join(keep, "src")
            .join(keep.withColumnRenamed("src", "dst"), "dst")
            .select("src", "dst")
            .localCheckpoint(eager=False)
        )
    return (
        edges.groupBy("src")
        .agg(F.count("*").alias("residual_degree"))
        .select(
            F.col("src").alias("p_partkey"),
            "residual_degree",
            F.lit(peels).alias("n_peels"),
        )
        .orderBy("p_partkey")
    )


def kcore_membership_sql(
    k: int = KCORE_K, peels: int = KCORE_PEELS, max_basket: int = 30
) -> str:
    its = ["e0 AS (SELECT src, dst FROM edges)"]
    for i in range(1, peels + 1):
        its.append(
            f"""k{i} AS (
            SELECT src FROM e{i - 1} GROUP BY src HAVING COUNT(*) >= {k}
        ), e{i} AS (
            SELECT e.src, e.dst FROM e{i - 1} e
            JOIN k{i} a ON e.src = a.src
            JOIN k{i} b ON e.dst = b.src
        )"""
        )
    chain = ",\n        ".join(its)
    return f"""
        WITH items AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ), small AS (
            SELECT l_orderkey FROM items
            GROUP BY l_orderkey HAVING COUNT(*) <= {max_basket}
        ), basket AS (
            SELECT i.l_orderkey, i.l_partkey FROM items i
            JOIN small USING (l_orderkey)
        ), edges AS (
            SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
            FROM basket a JOIN basket b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        ),
        {chain}
        SELECT src AS p_partkey,
               COUNT(*) AS residual_degree,
               {peels} AS n_peels
        FROM e{peels}
        GROUP BY src
        ORDER BY p_partkey
    """


# --- label propagation communities ----------------------------------------------

LPA_ROUNDS = 3


def label_propagation(
    lineitem: DataFrame,
    rounds: int = LPA_ROUNDS,
    max_basket: int = 30,
    min_support: int = TRI_MIN_SUPPORT,
) -> DataFrame:
    """Synchronous label propagation (LPA) community detection: every node
    starts as its own label and each round adopts the most frequent label
    among its neighbors, ties to the SMALLEST label — the deterministic
    variant, so a fixed round count is one declarative plan (the pagerank
    treatment) and the oracle unrolls identically. Communities are the
    granularity between connected components (dedup_clusters: too coarse on
    a co-purchase graph, it's one giant component) and k-core (a filter,
    not a partition).

    Per round: one edge join against the ≤|V|-row label relation, one
    (node, label) count aggregate, one per-node argmax via an order-free
    MAX(struct(cnt, -label)) — all map-side combinable; the edge relation
    is support-pruned and checkpointed once, and the fixed rounds compose
    into one declarative plan (labels are referenced once per round)."""
    pruned = (
        _oriented_pair_rel(lineitem, max_basket)
        .groupBy(F.col("part_a").alias("u"), F.col("part_b").alias("v"))
        .agg(F.count("*").alias("support"))
        .where(F.col("support") >= min_support)
        .select("u", "v")
        # the symmetrizing union below references pruned TWICE; without this
        # cut the basket→pair pipeline scanned lineitem twice at edge
        # materialization (the copurchase_pagerank finding)
        .localCheckpoint(eager=False)
    )
    edges = pruned.unionByName(
        pruned.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint(eager=False)
    labels = edges.select("u").distinct().select(
        "u", F.col("u").alias("label")
    )
    # labels are referenced exactly ONCE per round, so the fixed rounds
    # compose into one declarative plan over the edge RDD — per-round
    # label checkpoints were blocking jobs over a node-sized vector (the
    # markov_attribution overhead case)
    for _ in range(rounds):
        labels = (
            edges.join(labels.withColumnRenamed("u", "v"), "v")
            .groupBy("u", "label")
            .agg(F.count("*").alias("cnt"))
            .groupBy("u")
            .agg(F.max(F.struct(F.col("cnt"), (-F.col("label")).alias("nl"))).alias("b"))
            .select("u", (-F.col("b.nl")).alias("label"))
        )
    return (
        labels.select(F.col("u").alias("p_partkey"), F.col("label").alias("community"))
        .orderBy("p_partkey")
    )


def label_propagation_sql(
    rounds: int = LPA_ROUNDS, max_basket: int = 30, min_support: int = TRI_MIN_SUPPORT
) -> str:
    its = []
    for i in range(1, rounds + 1):
        its.append(
            f"""l{i} AS (
            SELECT u, label FROM (
                SELECT e.u, l.label, COUNT(*) AS cnt,
                       ROW_NUMBER() OVER (PARTITION BY e.u
                                          ORDER BY COUNT(*) DESC, l.label)
                           AS rk
                FROM edges e JOIN l{i - 1} l ON e.v = l.u
                GROUP BY e.u, l.label
            ) WHERE rk = 1
        )"""
        )
    chain = ",\n        ".join(its)
    return f"""
        WITH items AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ), small AS (
            SELECT l_orderkey FROM items
            GROUP BY l_orderkey HAVING COUNT(*) <= {max_basket}
        ), basket AS (
            SELECT i.l_orderkey, i.l_partkey FROM items i
            JOIN small USING (l_orderkey)
        ), pruned AS (
            SELECT a.l_partkey AS u, b.l_partkey AS v
            FROM basket a JOIN basket b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            GROUP BY a.l_partkey, b.l_partkey
            HAVING COUNT(*) >= {min_support}
        ), edges AS (
            SELECT u, v FROM pruned
            UNION ALL SELECT v AS u, u AS v FROM pruned
        ), l0 AS (
            SELECT DISTINCT u, u AS label FROM edges
        ),
        {chain}
        SELECT u AS p_partkey, label AS community
        FROM l{rounds}
        ORDER BY p_partkey
    """


# --- degree assortativity -------------------------------------------------------


def degree_assortativity(
    lineitem: DataFrame, max_basket: int = 30, min_support: int = TRI_MIN_SUPPORT
) -> DataFrame:
    """Degree assortativity of the co-purchase graph: the Pearson
    correlation of endpoint degrees over all (directed) edges — positive
    means hubs sell with hubs (a clustered catalog), negative means
    hub-and-spoke. The one-number graph-health diagnostic next to the
    triangle census.

    All sufficient statistics (Σx, Σy, Σxy, Σx², Σy² over the symmetrized
    edge list, with integer degrees) are exact integer sums; r is the
    closed-form double over them, rounded at 6 dp. One degree aggregate,
    two degree joins, one 1-row reduction."""
    pruned = (
        _oriented_pair_rel(lineitem, max_basket)
        .groupBy(F.col("part_a").alias("u"), F.col("part_b").alias("v"))
        .agg(F.count("*").alias("support"))
        .where(F.col("support") >= min_support)
        .select("u", "v")
    )
    edges = pruned.unionByName(
        pruned.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = edges.groupBy("u").agg(F.count("*").alias("d"))
    du = deg.select(F.col("u"), F.col("d").alias("dx"))
    dv = deg.select(F.col("u").alias("v"), F.col("d").alias("dy"))
    s = (
        edges.join(du, "u")
        .join(dv, "v")
        .agg(
            F.count("*").cast("long").alias("n_edges"),
            F.sum("dx").alias("sx"),
            F.sum("dy").alias("sy"),
            F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
            F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
            F.sum(F.col("dy") * F.col("dy")).alias("syy"),
        )
    )
    num = F.col("n_edges") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (F.col("n_edges") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
            "double"
        )
    ) * F.sqrt(
        (F.col("n_edges") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
            "double"
        )
    )
    return s.select(
        "n_edges",
        F.round(
            F.when(den > 0, num.cast("double") / den), 6
        ).alias("assortativity"),
    )


def degree_assortativity_sql(
    max_basket: int = 30, min_support: int = TRI_MIN_SUPPORT
) -> str:
    return f"""
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), small AS (
        SELECT l_orderkey FROM items
        GROUP BY l_orderkey HAVING COUNT(*) <= {max_basket}
    ), basket AS (
        SELECT i.l_orderkey, i.l_partkey FROM items i
        JOIN small USING (l_orderkey)
    ), pruned AS (
        SELECT a.l_partkey AS u, b.l_partkey AS v
        FROM basket a JOIN basket b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY a.l_partkey, b.l_partkey
        HAVING COUNT(*) >= {min_support}
    ), edges AS (
        SELECT u, v FROM pruned UNION ALL SELECT v, u FROM pruned
    ), deg AS (
        SELECT u, COUNT(*) AS d FROM edges GROUP BY u
    ), s AS (
        SELECT COUNT(*) AS n, SUM(x.d) AS sx, SUM(y.d) AS sy,
               SUM(x.d * y.d) AS sxy, SUM(x.d * x.d) AS sxx,
               SUM(y.d * y.d) AS syy
        FROM edges e
        JOIN deg x ON e.u = x.u
        JOIN deg y ON e.v = y.u
    )
    SELECT CAST(n AS BIGINT) AS n_edges,
           round(CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
                      THEN CAST(n * sxy - sx * sy AS DOUBLE)
                           / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                              * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
                 END, 6) AS assortativity
    FROM s
"""


# --- deterministic random-walk skip-gram pairs ---------------------------------------

WALK_STEPS = 3  # 4-node walks
WALK_WINDOW = 2
WALK_TOP_K = 50


def walk_pair_counts(
    lineitem: DataFrame,
    steps: int = WALK_STEPS,
    k: int = WALK_TOP_K,
    max_basket: int = 30,
) -> DataFrame:
    """Skip-gram co-occurrence counts from deterministic random walks on the
    co-purchase graph — the DeepWalk/node2vec TRAINING-DATA generator
    (Perozzi et al., KDD 2014) with the RNG replaced by md5 selection so
    the corpus is reproducible: one walk starts at every node, and each
    step moves to the neighbor minimizing md5(cur|step|neighbor). Pairs
    within window {WALK_WINDOW} of the 4-node walks are counted and the
    top-{WALK_TOP_K} reported: (part_a, part_b, dist, cnt, rank).

    Scale shape: each step is one frontier-edges equi-join + a
    (walk, step)-keyed min-struct aggregate — the BFS discipline, with the
    frontier always |nodes| rows; the edge relation builds once from the
    basket arrays. Pair counting is a bounded explode of the walk tuple.
    No iteration-count blowup: ``steps`` is a constant, the plan unrolls."""
    # cut=False: the per-hop frontier joins rely on Catalyst broadcasting
    # the edge side; an RDD-leaf edge relation (no stats) flipped them to
    # shuffle joins and regressed this query ×1.5 (round-10 A/B)
    edges = _symmetric_edges(lineitem, max_basket, cut=False)
    # hop selector: md5(cur|step|dst) — deterministic, neighbor-uniform-ish
    walks = edges.select(F.col("src").alias("w0")).distinct()
    cols = ["w0"]
    for h in range(1, steps + 1):
        prev = cols[-1]
        hop = (
            walks.join(edges, F.col(prev) == F.col("src"))
            .select(
                *cols,
                F.struct(
                    F.md5(
                        F.concat_ws(
                            "|",
                            F.col(prev).cast("string"),
                            F.lit(str(h)),
                            F.col("dst").cast("string"),
                        )
                    ).alias("hk"),
                    F.col("dst").alias("nxt"),
                ).alias("cand"),
            )
            .groupBy(*cols)
            .agg(F.min("cand").alias("best"))
            .select(*cols, F.col("best.nxt").alias(f"w{h}"))
        )
        walks = hop
        cols.append(f"w{h}")
    pair_structs = []
    for i in range(steps + 1):
        for j in range(i + 1, min(i + WALK_WINDOW, steps) + 1):
            pair_structs.append(
                F.struct(
                    F.least(F.col(f"w{i}"), F.col(f"w{j}")).alias("part_a"),
                    F.greatest(F.col(f"w{i}"), F.col(f"w{j}")).alias("part_b"),
                    F.lit(j - i).alias("dist"),
                )
            )
    counted = (
        walks.select(F.explode(F.array(*pair_structs)).alias("p"))
        .where(F.col("p.part_a") != F.col("p.part_b"))
        .groupBy(
            F.col("p.part_a").alias("part_a"),
            F.col("p.part_b").alias("part_b"),
            F.col("p.dist").alias("dist"),
        )
        .agg(F.count("*").alias("cnt"))
    )
    order = [
        F.col("cnt").desc(),
        F.col("part_a").asc(),
        F.col("part_b").asc(),
        F.col("dist").asc(),
    ]
    return (
        counted.orderBy(*order)
        .limit(k)
        .select(
            "part_a",
            "part_b",
            "dist",
            "cnt",
            F.row_number().over(Window.orderBy(*order)).cast("long").alias("rank"),
        )
    )


def walk_pair_counts_sql(
    steps: int = WALK_STEPS, k: int = WALK_TOP_K, max_basket: int = 30
) -> str:
    hops = []
    cols = ["w0"]
    for h in range(1, steps + 1):
        prev = cols[-1]
        sel = ", ".join(f"w.{c}" for c in cols)
        hops.append(
            f"""walk{h} AS (
            SELECT {sel},
                   arg_min(e.dst, md5(CAST(w.{prev} AS VARCHAR) || '|{h}|'
                                      || CAST(e.dst AS VARCHAR))) AS w{h}
            FROM walk{h - 1} w JOIN edges e ON w.{prev} = e.src
            GROUP BY {sel}
        )"""
        )
        cols.append(f"w{h}")
    pair_rows = []
    for i in range(steps + 1):
        for j in range(i + 1, min(i + WALK_WINDOW, steps) + 1):
            pair_rows.append(
                f"SELECT LEAST(w{i}, w{j}) AS part_a,"
                f" GREATEST(w{i}, w{j}) AS part_b, {j - i} AS dist"
                f" FROM walk{steps} WHERE w{i} <> w{j}"
            )
    pairs_union = " UNION ALL ".join(pair_rows)
    chain = ",\n        ".join(hops)
    return f"""
        WITH items AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ), small AS (
            SELECT l_orderkey FROM items
            GROUP BY l_orderkey HAVING COUNT(*) <= {max_basket}
        ), basket AS (
            SELECT i.l_orderkey, i.l_partkey FROM items i
            JOIN small USING (l_orderkey)
        ), edges AS (
            SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
            FROM basket a JOIN basket b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        ), walk0 AS (
            SELECT DISTINCT src AS w0 FROM edges
        ),
        {chain},
        counted AS (
            SELECT part_a, part_b, dist, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM ({pairs_union})
            GROUP BY part_a, part_b, dist
        )
        SELECT part_a, part_b, dist, cnt,
               CAST(ROW_NUMBER() OVER (
                   ORDER BY cnt DESC, part_a, part_b, dist) AS BIGINT) AS rank
        FROM counted
        ORDER BY cnt DESC, part_a, part_b, dist
        LIMIT {k}
    """


# --- Adamic-Adar link prediction -----------------------------------------------------

AA_TOP_K = 50


def adamic_adar(
    lineitem: DataFrame,
    k: int = AA_TOP_K,
    max_basket: int = 30,
    min_support: int = TRI_MIN_SUPPORT,
    max_hub_degree: int = LP_MAX_HUB_DEGREE,
) -> DataFrame:
    """Top-k non-edges by Adamic-Adar score — the degree-weighted upgrade of
    [[link_prediction_jaccard]]: a shared neighbor z contributes 1/ln(deg z),
    so rare mutual contacts count more than ubiquitous ones (Adamic & Adar,
    2003). Output: (x, y, n_common, aa_micro).

    Because the score decomposes over WEDGE MIDDLES, no neighbor-set
    intersection is needed at all: each wedge (x, z, y) carries its
    middle's weight and the score is one (x, y)-keyed SUM — cheaper than
    the Jaccard verify. Weights are ln of an exact integer degree,
    micro-quantized once (the user_entropy convention); middles with
    degree < 2 are excluded (1/ln(1) is undefined — and a degree-1 node
    cannot be a wedge middle anyway).

    Scale shape: identical candidate economics to the Jaccard predictor —
    support-pruned edges, hub-capped middles (cap·|E| wedges, never
    Σdeg²), existing edges anti-joined out."""
    pruned = (
        _oriented_pair_rel(lineitem, max_basket)
        .groupBy(F.col("part_a").alias("u"), F.col("part_b").alias("v"))
        .agg(F.count("*").alias("support"))
        .where(F.col("support") >= min_support)
        .select("u", "v")
        .localCheckpoint(eager=True)
    )
    sym = pruned.unionByName(
        pruned.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = sym.groupBy("u").agg(F.count("*").alias("d"))
    mids = (
        deg.where((F.col("d") >= 2) & (F.col("d") <= max_hub_degree))
        .select(
            F.col("u").alias("mid"),
            F.round(F.lit(1e6) / F.log("d")).cast("long").alias("w"),
        )
    )
    capped = sym.join(mids, sym["v"] == mids["mid"]).select("u", "v", "w")
    # second leg from the UNRESTRICTED edge set: the middle (e1.v = e2.u) is
    # already degree-bounded via `mids`, which is what caps wedge volume —
    # restricting e2's endpoint too would silently drop candidates whose y
    # happens to be a leaf or hub
    wedges = (
        capped.alias("e1")
        .join(
            sym.alias("e2"),
            (F.col("e1.v") == F.col("e2.u")) & (F.col("e1.u") < F.col("e2.v")),
        )
        .select(
            F.col("e1.u").alias("x"),
            F.col("e2.v").alias("y"),
            F.col("e1.w").alias("w"),
        )
    )
    non_edge_scores = (
        wedges.join(
            pruned.select(F.col("u").alias("x"), F.col("v").alias("y")),
            ["x", "y"],
            "left_anti",
        )
        .groupBy("x", "y")
        .agg(
            F.count("*").cast("long").alias("n_common"),
            F.sum("w").alias("aa_micro"),
        )
    )
    return non_edge_scores.orderBy(
        F.desc("aa_micro"), "x", "y"
    ).limit(k)


def adamic_adar_sql(
    k: int = AA_TOP_K,
    max_basket: int = 30,
    min_support: int = TRI_MIN_SUPPORT,
    max_hub_degree: int = LP_MAX_HUB_DEGREE,
) -> str:
    return f"""
        WITH items AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ), small AS (
            SELECT l_orderkey FROM items
            GROUP BY l_orderkey HAVING COUNT(*) <= {max_basket}
        ), basket AS (
            SELECT i.l_orderkey, i.l_partkey FROM items i
            JOIN small USING (l_orderkey)
        ), pruned AS (
            SELECT a.l_partkey AS u, b.l_partkey AS v
            FROM basket a JOIN basket b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            GROUP BY a.l_partkey, b.l_partkey
            HAVING COUNT(*) >= {min_support}
        ), sym AS (
            SELECT u, v FROM pruned
            UNION ALL SELECT v AS u, u AS v FROM pruned
        ), deg AS (
            SELECT u, COUNT(*) AS d FROM sym GROUP BY u
        ), mids AS (
            SELECT u AS mid,
                   CAST(round(1e6 / ln(d)) AS BIGINT) AS w
            FROM deg WHERE d >= 2 AND d <= {max_hub_degree}
        ), capped AS (
            SELECT s.u, s.v, m.w FROM sym s JOIN mids m ON m.mid = s.v
        ), wedges AS (
            SELECT e1.u AS x, e2.v AS y, e1.w
            FROM capped e1 JOIN sym e2
              ON e1.v = e2.u AND e1.u < e2.v
        ), scored AS (
            SELECT w.x, w.y, CAST(COUNT(*) AS BIGINT) AS n_common,
                   CAST(SUM(w.w) AS BIGINT) AS aa_micro
            FROM wedges w
            WHERE NOT EXISTS (
                SELECT 1 FROM pruned p WHERE p.u = w.x AND p.v = w.y)
            GROUP BY w.x, w.y
        )
        SELECT x, y, n_common, aa_micro
        FROM scored
        ORDER BY aa_micro DESC, x, y
        LIMIT {k}
    """


# --- bipartite HITS (hubs and authorities) -------------------------------------------

HITS_ROUNDS = 2
HITS_TOP_K = 20


def hits_bipartite(
    orders: DataFrame,
    lineitem: DataFrame,
    customer: DataFrame,
    rounds: int = HITS_ROUNDS,
    k: int = HITS_TOP_K,
) -> DataFrame:
    """HITS on the customer→part purchase bipartite graph (Kleinberg 1999):
    authorities are parts bought by strong hubs, hubs are customers buying
    strong authorities — the mutual-reinforcement pair PageRank's single
    score collapses. {HITS_ROUNDS} exact power rounds, each renormalized
    to milli by the round's max (integer 1000·x DIV max — the scale-free
    twin of the L2 norm, engine-exact). Output: top-{HITS_TOP_K} rows per
    side, (side, id, score_milli, rank).

    Scale shape: each half-round is one edge-keyed aggregate over the
    distinct (customer, part) edge relation — the PageRank economics on a
    bipartite adjacency; the max is a bounded single-partition window on
    the node grain (two-stage if a node grain ever outgrew one task)."""
    edges = (
        orders.select("o_orderkey", "o_custkey")
        .join(
            lineitem.select("l_orderkey", "l_partkey"),
            orders.o_orderkey == lineitem.l_orderkey,
        )
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    g = Window.partitionBy()
    hubs = edges.select("c").distinct().select("c", F.lit(1000).cast("long").alias("h"))
    # per-half-round checkpoint: the final plan references `hubs` twice
    # (its own top-k AND auth_final) and each half-round nests the previous
    # one through a single-partition window — without the checkpoints the
    # whole chain re-executes once per consumer.
    for _ in range(rounds):
        auth = (
            edges.join(hubs, "c")
            .groupBy("p")
            .agg(F.sum("h").alias("a_raw"))
            .withColumn("mx", F.max("a_raw").over(g))
            .select("p", F.expr("CAST(1000 * a_raw DIV mx AS BIGINT)").alias("a"))
            .localCheckpoint(eager=False)
        )
        hubs = (
            edges.join(auth, "p")
            .groupBy("c")
            .agg(F.sum("a").alias("h_raw"))
            .withColumn("mx", F.max("h_raw").over(g))
            .select("c", F.expr("CAST(1000 * h_raw DIV mx AS BIGINT)").alias("h"))
            .localCheckpoint(eager=False)
        )
    top = lambda df, side, idc, sc: (  # noqa: E731
        df.orderBy(F.desc(sc), F.asc(idc))
        .limit(k)
        .select(
            F.lit(side).alias("side"),
            F.col(idc).cast("long").alias("id"),
            F.col(sc).alias("score_milli"),
            F.row_number()
            .over(Window.orderBy(F.desc(sc), F.asc(idc)))
            .cast("long")
            .alias("rank"),
        )
    )
    auth_final = (
        edges.join(hubs, "c")
        .groupBy("p")
        .agg(F.sum("h").alias("a_raw"))
        .withColumn("mx", F.max("a_raw").over(g))
        .select("p", F.expr("CAST(1000 * a_raw DIV mx AS BIGINT)").alias("a"))
    )
    return top(hubs, "hub", "c", "h").unionByName(
        top(auth_final, "authority", "p", "a")
    ).orderBy("side", "rank")


def hits_bipartite_sql(rounds: int = HITS_ROUNDS, k: int = HITS_TOP_K) -> str:
    body = ["""hubs0 AS (
            SELECT c, CAST(1000 AS BIGINT) AS h FROM (SELECT DISTINCT c FROM edges)
        )"""]
    cur = "hubs0"
    for r in range(1, rounds + 1):
        body.append(f"""auth{r} AS (
            SELECT p, CAST(1000 * a_raw // MAX(a_raw) OVER () AS BIGINT) AS a
            FROM (
                SELECT e.p, SUM(h.h) AS a_raw
                FROM edges e JOIN {cur} h USING (c) GROUP BY e.p
            )
        ), hubs{r} AS (
            SELECT c, CAST(1000 * h_raw // MAX(h_raw) OVER () AS BIGINT) AS h
            FROM (
                SELECT e.c, SUM(a.a) AS h_raw
                FROM edges e JOIN auth{r} a USING (p) GROUP BY e.c
            )
        )""")
        cur = f"hubs{r}"
    final_auth = f"""auth_final AS (
            SELECT p, CAST(1000 * a_raw // MAX(a_raw) OVER () AS BIGINT) AS a
            FROM (
                SELECT e.p, SUM(h.h) AS a_raw
                FROM edges e JOIN {cur} h USING (c) GROUP BY e.p
            )
        )"""
    chain = ",\n        ".join(body + [final_auth])
    return f"""
        WITH edges AS (
            SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        ),
        {chain}
        SELECT * FROM (
            SELECT 'hub' AS side, CAST(c AS BIGINT) AS id, h AS score_milli,
                   CAST(ROW_NUMBER() OVER (ORDER BY h DESC, c ASC) AS BIGINT)
                       AS rank
            FROM {cur} QUALIFY rank <= {k}
        )
        UNION ALL
        SELECT * FROM (
            SELECT 'authority' AS side, CAST(p AS BIGINT) AS id,
                   a AS score_milli,
                   CAST(ROW_NUMBER() OVER (ORDER BY a DESC, p ASC) AS BIGINT)
                       AS rank
            FROM auth_final QUALIFY rank <= {k}
        )
        ORDER BY side, rank
    """


# --- connected components of the co-purchase graph -----------------------------------


def components_summary(
    lineitem: DataFrame, max_basket: int = 30, min_support: int = TRI_MIN_SUPPORT
) -> DataFrame:
    """Connected components of the support-pruned co-purchase graph,
    summarized as the component-size histogram: (component_size,
    n_components, n_nodes) — the substitutability-market map (one giant
    component = everything co-sells; many small ones = separable
    assortments).

    Reuses the dedup family's min-label propagation (the repo's CC
    engine — per-round edge join + min aggregate, scalar-sum convergence
    probe, O(diameter) rounds) on part nodes instead of documents;
    isolated parts (pruned out of every edge) are excluded — the graph
    under analysis is the one the support threshold defines.

    Scale shape: CC rounds ∝ |E|; the histogram is two bounded
    aggregates."""
    from ..llm import dedup as _dedup

    pruned = (
        _oriented_pair_rel(lineitem, max_basket)
        .groupBy(F.col("part_a").alias("u"), F.col("part_b").alias("v"))
        .agg(F.count("*").alias("support"))
        .where(F.col("support") >= min_support)
        .select("u", "v")
        # referenced 3x downstream (two node-union branches + the pair arg,
        # which dedup_clusters unions into its edge relation): one lazy
        # checkpoint executes the basket→pair pipeline once instead of 3x
        .localCheckpoint(eager=False)
    )
    nodes = (
        pruned.select(F.col("u").alias("doc_id"))
        .unionByName(pruned.select(F.col("v").alias("doc_id")))
        .distinct()
    )
    labels = _dedup.dedup_clusters(
        nodes,
        pruned.select(F.col("u").alias("doc_a"), F.col("v").alias("doc_b")),
    )
    sizes = labels.groupBy("cluster_id").agg(F.count("*").alias("sz"))
    return (
        sizes.groupBy(F.col("sz").cast("long").alias("component_size"))
        .agg(
            F.count("*").cast("long").alias("n_components"),
            F.sum("sz").cast("long").alias("n_nodes"),
        )
        .orderBy("component_size")
    )


def components_summary_sql(
    max_basket: int = 30, min_support: int = TRI_MIN_SUPPORT
) -> str:
    return f"""
        WITH RECURSIVE items AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ), small AS (
            SELECT l_orderkey FROM items
            GROUP BY l_orderkey HAVING COUNT(*) <= {max_basket}
        ), basket AS (
            SELECT i.l_orderkey, i.l_partkey FROM items i
            JOIN small USING (l_orderkey)
        ), pruned AS (
            SELECT a.l_partkey AS u, b.l_partkey AS v
            FROM basket a JOIN basket b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            GROUP BY a.l_partkey, b.l_partkey
            HAVING COUNT(*) >= {min_support}
        ), nodes AS (
            SELECT u AS node FROM pruned
            UNION SELECT v FROM pruned
        ), edges AS (
            SELECT u, v FROM pruned
            UNION ALL SELECT v AS u, u AS v FROM pruned
        ), reach(src, dst) AS (
            SELECT node, node FROM nodes
            UNION
            SELECT r.src, e.v FROM reach r JOIN edges e ON e.u = r.dst
        ), labels AS (
            SELECT src AS node, MIN(dst) AS comp
            FROM reach GROUP BY src
        ), sizes AS (
            SELECT comp, COUNT(*) AS sz FROM labels GROUP BY comp
        )
        SELECT CAST(sz AS BIGINT) AS component_size,
               CAST(COUNT(*) AS BIGINT) AS n_components,
               CAST(SUM(sz) AS BIGINT) AS n_nodes
        FROM sizes
        GROUP BY sz
        ORDER BY component_size
    """


# --- square (4-cycle) census ----------------------------------------------------------


def square_census(
    lineitem: DataFrame,
    max_basket: int = 30,
    min_support: int = TRI_MIN_SUPPORT,
    max_hub_degree: int = LP_MAX_HUB_DEGREE,
) -> DataFrame:
    """4-cycle (square) census of the co-purchase graph — the motif that
    measures BIPARTITE-like redundancy triangles can't see (two parts
    sharing two distinct co-purchase partners form a square even with no
    edge between them): one row (n_edges, n_wedge_pairs, n_squares,
    squares_per_1000_wedges).

    Squares decompose over CO-NEIGHBOR COUNTS: for every unordered pair
    (x, y), c_xy = |N(x) ∩ N(y)| gives C(c_xy, 2) squares through that
    pair, and Σ C(c_xy,2) counts each 4-cycle exactly twice (once per
    diagonal). So the census is the wedge aggregation the link predictor
    already runs plus one closed-form combine — no 4-way join ever.

    Scale shape: wedge counts are hub-capped (the stop-node rule); the
    census is a 1-row rollup."""
    pruned = (
        _oriented_pair_rel(lineitem, max_basket)
        .groupBy(F.col("part_a").alias("u"), F.col("part_b").alias("v"))
        .agg(F.count("*").alias("support"))
        .where(F.col("support") >= min_support)
        .select("u", "v")
        .localCheckpoint(eager=True)
    )
    sym = pruned.unionByName(
        pruned.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    # hub cap on the wedge MIDDLE (the stop-node rule): wedge volume is
    # sum(deg_mid^2), and the uncapped 10x probe measured x14.4 — capped it
    # tracks edge growth; hub-mediated squares are excluded by contract,
    # exactly like the link predictors
    mid_ok = (
        sym.groupBy("u")
        .agg(F.count("*").alias("d"))
        .where(F.col("d") <= LP_MAX_HUB_DEGREE)
        .select(F.col("u").alias("mid"))
    )
    capped = sym.join(mid_ok, sym["v"] == mid_ok["mid"]).select("u", "v")
    wedges = (
        capped.alias("e1")
        .join(
            sym.alias("e2"),
            (F.col("e1.v") == F.col("e2.u")) & (F.col("e1.u") < F.col("e2.v")),
        )
        .groupBy(F.col("e1.u").alias("x"), F.col("e2.v").alias("y"))
        .agg(F.count("*").alias("c_xy"))
    )
    agg = wedges.agg(
        F.count("*").cast("long").alias("n_wedge_pairs"),
        F.sum(F.expr("c_xy * (c_xy - 1) DIV 2")).alias("sq2"),
    ).crossJoin(
        F.broadcast(pruned.agg(F.count("*").cast("long").alias("n_edges")))
    )
    return agg.select(
        "n_edges",
        "n_wedge_pairs",
        F.expr("CAST(sq2 DIV 2 AS BIGINT)").alias("n_squares"),
        F.expr(
            "CAST(1000 * (sq2 DIV 2) DIV n_wedge_pairs AS BIGINT)"
        ).alias("squares_per_1000_wedges"),
    )


def square_census_sql(
    max_basket: int = 30,
    min_support: int = TRI_MIN_SUPPORT,
    max_hub_degree: int = LP_MAX_HUB_DEGREE,
) -> str:
    return f"""
        WITH items AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ), small AS (
            SELECT l_orderkey FROM items
            GROUP BY l_orderkey HAVING COUNT(*) <= {max_basket}
        ), basket AS (
            SELECT i.l_orderkey, i.l_partkey FROM items i
            JOIN small USING (l_orderkey)
        ), pruned AS (
            SELECT a.l_partkey AS u, b.l_partkey AS v
            FROM basket a JOIN basket b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            GROUP BY a.l_partkey, b.l_partkey
            HAVING COUNT(*) >= {min_support}
        ), sym AS (
            SELECT u, v FROM pruned
            UNION ALL SELECT v AS u, u AS v FROM pruned
        ), deg AS (
            SELECT u, COUNT(*) AS d FROM sym GROUP BY u
        ), capped AS (
            SELECT s.u, s.v FROM sym s
            JOIN deg ON deg.u = s.v
            WHERE deg.d <= {max_hub_degree}
        ), wedges AS (
            SELECT e1.u AS x, e2.v AS y, COUNT(*) AS c_xy
            FROM capped e1 JOIN sym e2 ON e1.v = e2.u AND e1.u < e2.v
            GROUP BY e1.u, e2.v
        )
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM pruned) AS n_edges,
               CAST(COUNT(*) AS BIGINT) AS n_wedge_pairs,
               CAST(SUM(c_xy * (c_xy - 1) // 2) // 2 AS BIGINT) AS n_squares,
               CAST(1000 * (SUM(c_xy * (c_xy - 1) // 2) // 2) // COUNT(*)
                   AS BIGINT) AS squares_per_1000_wedges
        FROM wedges
    """


# --- sampled harmonic centrality -----------------------------------------------------

HARMONIC_SEEDS = 3
HARMONIC_MAX_HOPS = 3
HARMONIC_TOP_K = 20


def harmonic_centrality(
    lineitem: DataFrame,
    seeds: int = HARMONIC_SEEDS,
    max_hops: int = HARMONIC_MAX_HOPS,
    k: int = HARMONIC_TOP_K,
    max_basket: int = 30,
) -> DataFrame:
    """Sampled harmonic centrality: Σ 1/d(s, v) over the top-{HARMONIC_SEEDS}
    highest-degree seeds, from a MULTI-SOURCE BFS that advances every
    seed's frontier in the same unrolled rounds (the pivoted-BFS trick —
    one plan, |seeds|× the state, zero extra rounds). Output:
    top-{HARMONIC_TOP_K} (node, n_seeds_reached, harmonic_micro).

    Harmonic (not closeness) because it handles unreachable pairs natively:
    they just add 0. Each 1/d term is the EXACT integer 1000000 DIV d —
    hop counts are small integers, so no quantization judgement call at
    all. Seeds score each other; a seed's own row excludes only d=0.

    Scale shape: each round is one (seed-tagged) frontier-edges join +
    distinct, anti-joined against the per-seed visited set — BFS economics
    ×{HARMONIC_SEEDS}; the centrality is one node-keyed SUM."""
    edges = _symmetric_edges(lineitem, max_basket, cut=False).localCheckpoint(eager=True)
    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    seed_rel = (
        deg.orderBy(F.desc("deg"), "src")
        .limit(seeds)
        .select(F.col("src").alias("seed"))
    )
    visited = seed_rel.select(
        "seed", F.col("seed").alias("node"), F.lit(0).cast("long").alias("hops")
    )
    frontier = visited
    # checkpoint the per-hop FRONTIER (not the visited union): `nxt` feeds
    # both the next hop and the visited accumulator, so checkpointing the
    # union alone left the frontier's join+distinct+anti lineage to
    # re-execute inside the following round. visited stays a shallow union
    # of checkpointed frontiers — no second materialization per hop.
    for h in range(1, max_hops + 1):
        nxt = (
            frontier.join(edges, frontier["node"] == edges["src"])
            .select("seed", F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("seed", "node"), ["seed", "node"], "left_anti")
            .withColumn("hops", F.lit(h).cast("long"))
            .localCheckpoint(eager=False)
        )
        visited = visited.unionByName(nxt)
        frontier = nxt
    scored = (
        visited.where(F.col("hops") > 0)
        .groupBy("node")
        .agg(
            F.count("*").cast("long").alias("n_seeds_reached"),
            F.sum(F.expr("CAST(1000000 DIV hops AS BIGINT)")).alias(
                "harmonic_micro"
            ),
        )
    )
    return scored.orderBy(
        F.desc("harmonic_micro"), F.desc("n_seeds_reached"), "node"
    ).limit(k)


def harmonic_centrality_sql(
    seeds: int = HARMONIC_SEEDS,
    max_hops: int = HARMONIC_MAX_HOPS,
    k: int = HARMONIC_TOP_K,
    max_basket: int = 30,
) -> str:
    rounds = []
    for h in range(1, max_hops + 1):
        rounds.append(
            f"""f{h} AS (
            SELECT DISTINCT f.seed, e.dst AS node
            FROM f{h - 1} f JOIN edges e ON e.src = f.node
            WHERE NOT EXISTS (
                SELECT 1 FROM v{h - 1} v
                WHERE v.seed = f.seed AND v.node = e.dst)
        ), v{h} AS (
            SELECT seed, node, hops FROM v{h - 1}
            UNION ALL SELECT seed, node, {h} AS hops FROM f{h}
        )"""
        )
    chain = ",\n        ".join(rounds)
    return f"""
        WITH items AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ), small AS (
            SELECT l_orderkey FROM items
            GROUP BY l_orderkey HAVING COUNT(*) <= {max_basket}
        ), basket AS (
            SELECT i.l_orderkey, i.l_partkey FROM items i
            JOIN small USING (l_orderkey)
        ), edges AS (
            SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
            FROM basket a JOIN basket b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        ), deg AS (
            SELECT src, COUNT(*) AS deg FROM edges GROUP BY src
        ), seeds AS (
            SELECT src AS seed FROM deg
            ORDER BY deg DESC, src LIMIT {seeds}
        ), v0 AS (
            SELECT seed, seed AS node, CAST(0 AS BIGINT) AS hops FROM seeds
        ), f0 AS (
            SELECT seed, seed AS node FROM seeds
        ),
        {chain}
        SELECT node,
               CAST(COUNT(*) AS BIGINT) AS n_seeds_reached,
               CAST(SUM(1000000 // hops) AS BIGINT) AS harmonic_micro
        FROM v{max_hops}
        WHERE hops > 0
        GROUP BY node
        ORDER BY harmonic_micro DESC, n_seeds_reached DESC, node
        LIMIT {k}
    """


# --- degree-distribution power-law fit -----------------------------------------------


def degree_zipf(
    lineitem: DataFrame, max_basket: int = 30
) -> DataFrame:
    """Log-log OLS fit of the co-purchase degree distribution — the
    scale-free check (a power-law tail means hubs dominate and every
    hub-capped operator in this module earns its cap; an exponential tail
    means they could relax): one row (n_points, slope, intercept,
    max_degree).

    Points are (ln degree, ln count-of-nodes-with-that-degree) over the
    bounded degree histogram; closed-form covar/var OLS with the zipf_slope
    emission discipline (round(·,6) over a ≤|degrees|-row relation).

    Scale shape: one node-degree aggregate, one |degrees|-row histogram,
    closed-form fit — no iteration."""
    # cut=False: edges is referenced exactly once (deg), so the pipeline runs
    # once regardless and an inner checkpoint would only add a blocking job
    edges = _symmetric_edges(lineitem, max_basket, cut=False)
    deg = edges.groupBy("src").agg(F.count("*").alias("d"))
    hist = deg.groupBy("d").agg(F.count("*").alias("cnt"))
    pts = hist.select(
        F.log(F.col("d").cast("double")).alias("lx"),
        F.log(F.col("cnt").cast("double")).alias("ly"),
        "d",
    )
    slope = F.when(
        F.var_samp("lx") > 0, F.covar_samp("lx", "ly") / F.var_samp("lx")
    )
    return pts.agg(
        F.count("*").cast("long").alias("n_points"),
        F.round(slope, 6).alias("slope"),
        F.round(F.avg("ly") - slope * F.avg("lx"), 6).alias("intercept"),
        F.max("d").cast("long").alias("max_degree"),
    )


def degree_zipf_sql(max_basket: int = 30) -> str:
    return f"""
        WITH items AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ), small AS (
            SELECT l_orderkey FROM items
            GROUP BY l_orderkey HAVING COUNT(*) <= {max_basket}
        ), basket AS (
            SELECT i.l_orderkey, i.l_partkey FROM items i
            JOIN small USING (l_orderkey)
        ), edges AS (
            SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
            FROM basket a JOIN basket b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        ), deg AS (
            SELECT src, COUNT(*) AS d FROM edges GROUP BY src
        ), hist AS (
            SELECT d, COUNT(*) AS cnt FROM deg GROUP BY d
        ),
        pts AS (
            SELECT ln(CAST(d AS DOUBLE)) AS lx,
                   ln(CAST(cnt AS DOUBLE)) AS ly, d
            FROM hist
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_points,
               round(CASE WHEN var_samp(lx) > 0
                          THEN covar_samp(lx, ly) / var_samp(lx) END, 6)
                   AS slope,
               round(AVG(ly) - CASE WHEN var_samp(lx) > 0
                          THEN covar_samp(lx, ly) / var_samp(lx) END
                          * AVG(lx), 6) AS intercept,
               CAST(MAX(d) AS BIGINT) AS max_degree
        FROM pts
    """


# --- rich-club coefficient -----------------------------------------------------------

RICH_CLUB_KS = (10, 20, 40)


def rich_club(
    lineitem: DataFrame, max_basket: int = 30
) -> DataFrame:
    """Rich-club coefficient sweep: among the top-k highest-degree nodes,
    what fraction of the possible k·(k−1)/2 edges actually exist —
    φ near 1 means the hubs form an elite clique (one co-sell core),
    near 0 means hubs bridge disjoint regions. Output per k:
    (club_k, n_members, n_club_edges, possible_edges, phi_milli).

    Each k is a broadcast top-k membership semi-join against the edge
    list (both endpoints in the club) — no pairwise materialization, the
    club relation is k rows. Exact integer milli.

    Scale shape: one degree aggregate reused across the sweep; per-k work
    is a double broadcast semi-join + count."""
    edges = _symmetric_edges(lineitem, max_basket, cut=False).localCheckpoint(eager=True)
    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    sweeps = []
    for k in RICH_CLUB_KS:
        club = (
            deg.orderBy(F.desc("deg"), "src")
            .limit(k)
            .select(F.col("src").alias("member"))
        )
        club_edges = (
            edges.join(
                F.broadcast(club.withColumnRenamed("member", "src")), "src"
            )
            .join(
                F.broadcast(club.withColumnRenamed("member", "dst")), "dst"
            )
            .where(F.col("src") < F.col("dst"))
        )
        sweeps.append(
            club_edges.agg(
                F.lit(k).cast("long").alias("club_k"),
                F.count("*").cast("long").alias("n_club_edges"),
            )
        )
    out = sweeps[0]
    for sdf in sweeps[1:]:
        out = out.unionByName(sdf)
    return out.select(
        "club_k",
        F.col("club_k").alias("n_members"),
        "n_club_edges",
        F.expr("CAST(club_k * (club_k - 1) DIV 2 AS BIGINT)").alias(
            "possible_edges"
        ),
        F.expr(
            "CAST(1000 * n_club_edges DIV (club_k * (club_k - 1) DIV 2)"
            " AS BIGINT)"
        ).alias("phi_milli"),
    ).orderBy("club_k")


def rich_club_sql(max_basket: int = 30) -> str:
    parts = []
    for k in RICH_CLUB_KS:
        parts.append(
            f"""
            SELECT CAST({k} AS BIGINT) AS club_k,
                   CAST(COUNT(*) AS BIGINT) AS n_club_edges
            FROM edges e
            JOIN (SELECT src FROM deg ORDER BY deg DESC, src LIMIT {k}) a
              ON e.src = a.src
            JOIN (SELECT src FROM deg ORDER BY deg DESC, src LIMIT {k}) b
              ON e.dst = b.src
            WHERE e.src < e.dst"""
        )
    union = " UNION ALL ".join(parts)
    return f"""
        WITH items AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ), small AS (
            SELECT l_orderkey FROM items
            GROUP BY l_orderkey HAVING COUNT(*) <= {max_basket}
        ), basket AS (
            SELECT i.l_orderkey, i.l_partkey FROM items i
            JOIN small USING (l_orderkey)
        ), edges AS (
            SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
            FROM basket a JOIN basket b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        ), deg AS (
            SELECT src, COUNT(*) AS deg FROM edges GROUP BY src
        ),
        sweeps AS ({union})
        SELECT club_k, club_k AS n_members, n_club_edges,
               CAST(club_k * (club_k - 1) // 2 AS BIGINT) AS possible_edges,
               CAST(1000 * n_club_edges // (club_k * (club_k - 1) // 2)
                   AS BIGINT) AS phi_milli
        FROM sweeps
        ORDER BY club_k
    """


# --- brand-partition modularity ------------------------------------------------------


def brand_modularity(lineitem: DataFrame, part: DataFrame, max_basket: int = 30) -> DataFrame:
    """Modularity Q of the BRAND partition over the co-purchase graph — do
    parts co-sell within their brand (assortment coherence) or across
    (Q near 0: brand is not a community)? One row (n_edges, n_brands,
    q_milli) plus per-brand detail (within-edge share vs degree share) is
    deliberately NOT emitted — Q is the decision number.

    Q = Σ_i [m_ii/m − (d_i/2m)²] assembles exactly: with integer
    within-community edge counts m_ii, community degree sums d_i and
    total edges m, q_milli = (Σ 4·m·m_ii − Σ d_i²)·1000 / (4m²) with one
    pinned signed half-up division (numerator can be negative).

    Scale shape: one edge aggregate joined twice to the broadcast
    part→brand dim, two bounded rollups."""
    dim = F.broadcast(part.select("p_partkey", "p_brand"))
    edges = (
        _oriented_pair_rel(lineitem, max_basket)
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("_s"))
        .select("part_a", "part_b")
    )
    labeled = (
        edges.join(dim.withColumnRenamed("p_partkey", "part_a"), "part_a")
        .withColumnRenamed("p_brand", "brand_a")
        .join(dim.withColumnRenamed("p_partkey", "part_b"), "part_b")
        .withColumnRenamed("p_brand", "brand_b")
    )
    m_rel = labeled.agg(F.count("*").cast("long").alias("m"))
    within = labeled.where(F.col("brand_a") == F.col("brand_b")).groupBy(
        F.col("brand_a").alias("brand")
    ).agg(F.count("*").alias("m_ii"))
    deg = (
        labeled.select(F.col("brand_a").alias("brand"))
        .unionByName(labeled.select(F.col("brand_b").alias("brand")))
        .groupBy("brand")
        .agg(F.count("*").alias("d_i"))
    )
    agg = (
        deg.join(within, "brand", "left")
        .agg(
            F.count("*").cast("long").alias("n_brands"),
            F.sum(F.coalesce("m_ii", F.lit(0))).alias("sum_mii"),
            F.sum(F.col("d_i") * F.col("d_i")).alias("sum_d2"),
        )
        .crossJoin(F.broadcast(m_rel))
    )
    num = "(4 * m * sum_mii - sum_d2)"
    den = "(4 * m * m)"
    return agg.select(
        F.col("m").alias("n_edges"),
        "n_brands",
        F.expr(
            f"CAST(CASE WHEN {num} < 0 THEN -1 ELSE 1 END"
            f" * ((2000 * abs({num}) + {den}) DIV (2 * {den})) AS BIGINT)"
        ).alias("q_milli"),
    )


def brand_modularity_sql(max_basket: int = 30) -> str:
    return f"""
        WITH items AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ), small AS (
            SELECT l_orderkey FROM items
            GROUP BY l_orderkey HAVING COUNT(*) <= {max_basket}
        ), basket AS (
            SELECT i.l_orderkey, i.l_partkey FROM items i
            JOIN small USING (l_orderkey)
        ), edges AS (
            SELECT DISTINCT a.l_partkey AS part_a, b.l_partkey AS part_b
            FROM basket a JOIN basket b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        ), labeled AS (
            SELECT e.part_a, e.part_b, pa.p_brand AS brand_a,
                   pb.p_brand AS brand_b
            FROM edges e
            JOIN part pa ON pa.p_partkey = e.part_a
            JOIN part pb ON pb.p_partkey = e.part_b
        ), m AS (SELECT COUNT(*) AS m FROM labeled),
        within AS (
            SELECT brand_a AS brand, COUNT(*) AS m_ii
            FROM labeled WHERE brand_a = brand_b GROUP BY brand_a
        ),
        deg AS (
            SELECT brand, COUNT(*) AS d_i FROM (
                SELECT brand_a AS brand FROM labeled
                UNION ALL SELECT brand_b FROM labeled
            ) GROUP BY brand
        ),
        agg AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_brands,
                   CAST(SUM(COALESCE(w.m_ii, 0)) AS BIGINT) AS sum_mii,
                   CAST(SUM(d.d_i * d.d_i) AS BIGINT) AS sum_d2
            FROM deg d LEFT JOIN within w USING (brand)
        )
        SELECT CAST(m.m AS BIGINT) AS n_edges, a.n_brands,
               CAST(CASE WHEN (4 * m.m * a.sum_mii - a.sum_d2) < 0
                    THEN -1 ELSE 1 END
                    * ((2000 * abs(4 * m.m * a.sum_mii - a.sum_d2)
                        + (4 * m.m * m.m))
                       // (2 * (4 * m.m * m.m))) AS BIGINT) AS q_milli
        FROM agg a CROSS JOIN m
    """


# --- local clustering coefficient ----------------------------------------------


def local_clustering(
    lineitem: DataFrame, max_basket: int = 30, min_support: int = TRI_MIN_SUPPORT
) -> DataFrame:
    """Local-clustering-coefficient panel of the co-purchase graph: per
    node, lcc = 2·t(v) / (d(v)·(d(v)−1)) — how clique-like each part's
    neighborhood is (the node-level refinement of the one-row global
    census in ``triangle_count``). Bundled parts cluster tightly;
    bridge/staple parts connect otherwise-unrelated baskets.

    Output is the lcc histogram, not per-node rows: one row per lcc
    decile bucket (0-9, computed in exact integer milli then DIV 100)
    over nodes with degree ≥ 2, with exact member counts, summed
    triangles, and milli-average degree.

    Plan: the same support-pruned oriented edge relation and two-join
    triangle closure as the census, then per-node triangle counts by
    exploding each triangle's three corners — one narrow explode and one
    node-keyed aggregate; degrees come from the symmetrized edge ends.
    All arithmetic exact integer (milli lcc, half-up milli mean degree).

    Scale shape: joins and aggregates are keyed by node or oriented edge
    of the REDUCED graph; the degree-ordered orientation refinement noted
    on the census applies here unchanged at larger |E|."""
    edges = (
        _oriented_pair_rel(lineitem, max_basket)
        .groupBy(F.col("part_a").alias("u"), F.col("part_b").alias("v"))
        .agg(F.count("*").alias("support"))
        .where(F.col("support") >= min_support)
        .select("u", "v")
        # referenced 5x (wedge sides, closure, both degree ends): cut once
        .localCheckpoint(eager=True)
    )
    e1 = edges.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = edges.select(F.col("u").alias("b"), F.col("v").alias("c"))
    closing = edges.select(F.col("u").alias("a"), F.col("v").alias("c"))
    tris = e1.join(e2, "b").select("a", "b", "c").join(closing, ["a", "c"])
    tri_per_node = (
        tris.select(
            F.explode(F.array(F.col("a"), F.col("b"), F.col("c"))).alias("node")
        )
        .groupBy("node")
        .agg(F.count("*").alias("t"))
    )
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    per_node = (
        deg.where(F.col("deg") >= 2)
        .join(tri_per_node, "node", "left")
        .select(
            "node",
            "deg",
            F.coalesce("t", F.lit(0)).alias("t"),
            F.expr(
                "CAST(2000 * COALESCE(t, 0) DIV (deg * (deg - 1)) AS BIGINT)"
            ).alias("lcc_milli"),
        )
    )
    return (
        per_node.groupBy(
            F.expr("CAST(LEAST(lcc_milli DIV 100, 9) AS BIGINT)").alias(
                "lcc_decile"
            )
        )
        .agg(
            F.count("*").cast("long").alias("n_nodes"),
            F.sum("t").cast("long").alias("sum_triangles"),
            F.expr(
                "CAST((2000 * SUM(deg) + COUNT(*)) DIV (2 * COUNT(*))"
                " AS BIGINT)"
            ).alias("avg_deg_milli"),
        )
        .orderBy("lcc_decile")
    )


def local_clustering_sql(
    max_basket: int = 30, min_support: int = TRI_MIN_SUPPORT
) -> str:
    return f"""
        WITH items AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ), small AS (
            SELECT l_orderkey FROM items
            GROUP BY l_orderkey HAVING COUNT(*) <= {max_basket}
        ), basket AS (
            SELECT i.l_orderkey, i.l_partkey FROM items i
            JOIN small USING (l_orderkey)
        ), edges AS (
            SELECT a.l_partkey AS u, b.l_partkey AS v
            FROM basket a JOIN basket b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            GROUP BY a.l_partkey, b.l_partkey
            HAVING COUNT(*) >= {min_support}
        ), tris AS (
            SELECT e1.u AS a, e1.v AS b, e2.v AS c
            FROM edges e1
            JOIN edges e2 ON e1.v = e2.u
            JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
        ), tri_per_node AS (
            SELECT node, COUNT(*) AS t FROM (
                SELECT a AS node FROM tris
                UNION ALL SELECT b AS node FROM tris
                UNION ALL SELECT c AS node FROM tris
            ) GROUP BY node
        ), deg AS (
            SELECT node, COUNT(*) AS deg FROM (
                SELECT u AS node FROM edges
                UNION ALL SELECT v AS node FROM edges
            ) GROUP BY node
        ), per_node AS (
            SELECT d.node, d.deg, COALESCE(t.t, 0) AS t,
                   CAST(2000 * COALESCE(t.t, 0)
                        // (d.deg * (d.deg - 1)) AS BIGINT) AS lcc_milli
            FROM deg d LEFT JOIN tri_per_node t USING (node)
            WHERE d.deg >= 2
        )
        SELECT CAST(LEAST(lcc_milli // 100, 9) AS BIGINT) AS lcc_decile,
               CAST(COUNT(*) AS BIGINT) AS n_nodes,
               CAST(SUM(t) AS BIGINT) AS sum_triangles,
               CAST((2000 * SUM(deg) + COUNT(*)) // (2 * COUNT(*)) AS BIGINT)
                   AS avg_deg_milli
        FROM per_node
        GROUP BY 1
        ORDER BY 1
    """


# --- support-threshold sweep --------------------------------------------------------

SUPPORT_SWEEP = (1, 2, 3, 5)


def support_sweep(lineitem: DataFrame, max_basket: int = 30) -> DataFrame:
    """Support-threshold tuning curve for the co-purchase graph: edge
    and node counts at each candidate ``min_support`` {SUPPORT_SWEEP} —
    the knob every graph operator here inherits (TRI_MIN_SUPPORT),
    picked from the survival curve instead of folklore (too low keeps
    one-off coincidences; too high disconnects the graph). The graph
    twin of dedup_threshold_sweep.

    One pair aggregation; the grid is a constant explode over the
    REDUCED edge-support relation. Output per threshold:
    (min_support, n_edges, n_nodes).

    Scale shape: identical to the edge build every graph op shares,
    plus a ≤4-element explode on the edge relation."""
    edges = (
        _oriented_pair_rel(lineitem, max_basket)
        .groupBy(F.col("part_a").alias("u"), F.col("part_b").alias("v"))
        .agg(F.count("*").alias("support"))
    )
    grid = F.array(*[F.lit(s) for s in SUPPORT_SWEEP])
    graded = edges.select(
        "u", "v", "support", F.explode(grid).alias("min_support")
    ).where(F.col("support") >= F.col("min_support"))
    e_panel = graded.groupBy(
        F.col("min_support").cast("long").alias("min_support")
    ).agg(F.count("*").cast("long").alias("n_edges"))
    n_panel = (
        graded.select("min_support", F.explode(F.array("u", "v")).alias("nd"))
        .groupBy(F.col("min_support").cast("long").alias("min_support"))
        .agg(F.count_distinct("nd").cast("long").alias("n_nodes"))
    )
    return e_panel.join(n_panel, "min_support").orderBy("min_support")


def support_sweep_sql(max_basket: int = 30) -> str:
    grid = ", ".join(str(s) for s in SUPPORT_SWEEP)
    return f"""
        WITH items AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ), small AS (
            SELECT l_orderkey FROM items
            GROUP BY l_orderkey HAVING COUNT(*) <= {max_basket}
        ), basket AS (
            SELECT i.l_orderkey, i.l_partkey FROM items i
            JOIN small USING (l_orderkey)
        ), edges AS (
            SELECT a.l_partkey AS u, b.l_partkey AS v, COUNT(*) AS support
            FROM basket a JOIN basket b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2
        ),
        grid AS (SELECT unnest([{grid}]) AS min_support),
        graded AS (
            SELECT e.u, e.v, g.min_support
            FROM edges e CROSS JOIN grid g
            WHERE e.support >= g.min_support
        ),
        e_panel AS (
            SELECT CAST(min_support AS BIGINT) AS min_support,
                   CAST(COUNT(*) AS BIGINT) AS n_edges
            FROM graded GROUP BY 1
        ),
        n_panel AS (
            SELECT CAST(min_support AS BIGINT) AS min_support,
                   CAST(COUNT(DISTINCT nd) AS BIGINT) AS n_nodes
            FROM (SELECT min_support, unnest([u, v]) AS nd FROM graded)
            GROUP BY 1
        )
        SELECT min_support, n_edges, n_nodes
        FROM e_panel JOIN n_panel USING (min_support)
        ORDER BY min_support
    """


# --- brand conductance --------------------------------------------------------------


def brand_conductance(
    lineitem: DataFrame, part: DataFrame, max_basket: int = 30,
    min_support: int = TRI_MIN_SUPPORT,
) -> DataFrame:
    """Per-community conductance of the brand partition on the
    co-purchase graph: cut edges / (internal·2 + cut) per brand — the
    LOCAL community-quality readout the single-number modularity
    (graph_brand_modularity) averages away: one porous brand can hide
    inside a good global Q. Low conductance = the brand's parts really
    are bought together; high = the brand label fights the purchase
    graph.

    Same support-pruned edge relation as the census family, endpoints
    labeled via the broadcast part dim. Output per brand: (p_brand,
    internal_edges, cut_edges, conductance_milli).

    Scale shape: edge-keyed label join (dim broadcast), bounded brand
    rollup — cut edges count toward BOTH endpoint brands (the standard
    boundary-volume convention)."""
    edges = (
        _oriented_pair_rel(lineitem, max_basket)
        .groupBy(F.col("part_a").alias("u"), F.col("part_b").alias("v"))
        .agg(F.count("*").alias("support"))
        .where(F.col("support") >= min_support)
        .select("u", "v")
    )
    dim = part.select("p_partkey", "p_brand")
    labeled = (
        edges.join(
            F.broadcast(dim.withColumnRenamed("p_partkey", "u")
                        .withColumnRenamed("p_brand", "bu")), "u"
        )
        .join(
            F.broadcast(dim.withColumnRenamed("p_partkey", "v")
                        .withColumnRenamed("p_brand", "bv")), "v"
        )
    )
    internal = (
        labeled.where(F.col("bu") == F.col("bv"))
        .groupBy(F.col("bu").alias("p_brand"))
        .agg(F.count("*").cast("long").alias("internal_edges"))
    )
    cut = (
        labeled.where(F.col("bu") != F.col("bv"))
        .select(F.explode(F.array("bu", "bv")).alias("p_brand"))
        .groupBy("p_brand")
        .agg(F.count("*").cast("long").alias("cut_edges"))
    )
    return (
        internal.join(cut, "p_brand", "full")
        .select(
            "p_brand",
            F.coalesce("internal_edges", F.lit(0)).cast("long").alias(
                "internal_edges"
            ),
            F.coalesce("cut_edges", F.lit(0)).cast("long").alias("cut_edges"),
        )
        .withColumn(
            "conductance_milli",
            F.expr(
                "CASE WHEN 2 * internal_edges + cut_edges > 0 THEN"
                " CAST(1000 * cut_edges DIV (2 * internal_edges + cut_edges)"
                " AS BIGINT) ELSE CAST(0 AS BIGINT) END"
            ),
        )
        .orderBy("p_brand")
    )


def brand_conductance_sql(
    max_basket: int = 30, min_support: int = TRI_MIN_SUPPORT
) -> str:
    return f"""
        WITH items AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ), small AS (
            SELECT l_orderkey FROM items
            GROUP BY l_orderkey HAVING COUNT(*) <= {max_basket}
        ), basket AS (
            SELECT i.l_orderkey, i.l_partkey FROM items i
            JOIN small USING (l_orderkey)
        ), edges AS (
            SELECT a.l_partkey AS u, b.l_partkey AS v
            FROM basket a JOIN basket b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2
            HAVING COUNT(*) >= {min_support}
        ),
        labeled AS (
            SELECT e.u, e.v, pu.p_brand AS bu, pv.p_brand AS bv
            FROM edges e
            JOIN part pu ON pu.p_partkey = e.u
            JOIN part pv ON pv.p_partkey = e.v
        ),
        internal AS (
            SELECT bu AS p_brand, CAST(COUNT(*) AS BIGINT) AS internal_edges
            FROM labeled WHERE bu = bv GROUP BY bu
        ),
        cut AS (
            SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS cut_edges
            FROM (
                SELECT unnest([bu, bv]) AS p_brand
                FROM labeled WHERE bu <> bv
            ) GROUP BY p_brand
        )
        SELECT p_brand,
               COALESCE(i.internal_edges, 0) AS internal_edges,
               COALESCE(c.cut_edges, 0) AS cut_edges,
               CASE WHEN 2 * COALESCE(i.internal_edges, 0)
                         + COALESCE(c.cut_edges, 0) > 0 THEN
                    CAST(1000 * COALESCE(c.cut_edges, 0)
                         // (2 * COALESCE(i.internal_edges, 0)
                             + COALESCE(c.cut_edges, 0)) AS BIGINT)
                    ELSE CAST(0 AS BIGINT) END AS conductance_milli
        FROM internal i FULL JOIN cut c USING (p_brand)
        ORDER BY p_brand
    """


# --- eigenvector centrality ------------------------------------------------------

EIG_ITERS = 3
EIG_TOP_K = 20


def eigenvector_centrality(
    lineitem: DataFrame,
    iters: int = EIG_ITERS,
    k: int = EIG_TOP_K,
    max_basket: int = 30,
) -> DataFrame:
    """Top-k parts by eigenvector centrality over the co-purchase graph
    after a FIXED number of sum-normalized power iterations: rows
    (p_partkey, score_micro).

    PageRank divides each node's mass by its degree (a random surfer);
    eigenvector centrality does NOT — a hub connected to other hubs
    scores high even when those hubs spray edges everywhere, which is
    the "status" reading of centrality (Bonacich). The two rank
    genuinely differently on skewed-degree graphs.

    Exactness: scores re-quantize to micro (sum-normalized) after every
    iteration, so each round's accumulation is an exact integer sum over
    the edge relation — order-free where float mass sums would not be —
    and the oracle unrolls the identical integer chain.

    Scale shape: per iteration one src-keyed rank join + one dst-keyed
    aggregate (the copurchase_pagerank economics); the normalizing scalar
    is a broadcast 1-row aggregate."""
    # one checkpoint for the edge relation (reused every round) and one per
    # round's score vector: the per-round normalizing scalar is a broadcast
    # subquery whose subplan would otherwise re-execute the ENTIRE previous
    # round's lineage (and the main plan executes it again) — without the
    # checkpoints the work per round roughly doubles (measured 8.6s → 4.6s
    # at sf0.1 for 3 iterations vs the round-10-build floor).
    edges = _symmetric_edges(lineitem, max_basket, cut=False).localCheckpoint(eager=False)
    # x1 = A . 1 = degree; normalize to micro
    deg = edges.groupBy("src").agg(F.count("*").cast("long").alias("x"))
    scores = deg.select(F.col("src").alias("node"), F.col("x"))
    for _ in range(iters - 1):
        scores = scores.localCheckpoint(eager=False)
        s = scores.agg(F.sum("x").cast("long").alias("s"))
        norm = scores.crossJoin(F.broadcast(s)).select(
            "node",
            F.expr(
                "CAST(round(1e6 * CAST(x AS DOUBLE) / s) AS BIGINT)"
            ).alias("xn"),
        )
        scores = (
            edges.join(norm, F.col("src") == F.col("node"))
            .groupBy("dst")
            .agg(F.sum("xn").cast("long").alias("x"))
            .select(F.col("dst").alias("node"), "x")
        )
    s = scores.agg(F.sum("x").cast("long").alias("s"))
    return (
        scores.crossJoin(F.broadcast(s))
        .select(
            F.col("node").alias("p_partkey"),
            F.expr(
                "CAST(round(1e6 * CAST(x AS DOUBLE) / s) AS BIGINT)"
            ).alias("score_micro"),
        )
        .orderBy(F.desc("score_micro"), "p_partkey")
        .limit(k)
    )


def eigenvector_centrality_sql(
    iters: int = EIG_ITERS, k: int = EIG_TOP_K, max_basket: int = 30
) -> str:
    its = [
        """x1 AS (
            SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS x
            FROM edges GROUP BY src
        )"""
    ]
    for i in range(2, iters + 1):
        its.append(
            f"""n{i - 1} AS (
            SELECT node,
                   CAST(round(1e6 * CAST(x AS DOUBLE)
                        / (SELECT CAST(SUM(x) AS BIGINT) FROM x{i - 1}))
                        AS BIGINT) AS xn
            FROM x{i - 1}
        ),
        x{i} AS (
            SELECT e.dst AS node, CAST(SUM(n.xn) AS BIGINT) AS x
            FROM edges e JOIN n{i - 1} n ON n.node = e.src
            GROUP BY e.dst
        )"""
        )
    chain = ",\n        ".join(its)
    return f"""
        WITH items AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ), small AS (
            SELECT l_orderkey FROM items
            GROUP BY l_orderkey HAVING COUNT(*) <= {max_basket}
        ), basket AS (
            SELECT i.l_orderkey, i.l_partkey FROM items i
            JOIN small USING (l_orderkey)
        ), edges AS (
            SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
            FROM basket a JOIN basket b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        ),
        {chain}
        SELECT node AS p_partkey,
               CAST(round(1e6 * CAST(x AS DOUBLE)
                    / (SELECT CAST(SUM(x) AS BIGINT) FROM x{iters}))
                    AS BIGINT) AS score_micro
        FROM x{iters}
        ORDER BY score_micro DESC, p_partkey
        LIMIT {k}
    """


# --- k-truss decomposition -------------------------------------------------------

KTRUSS_K = 4     # every surviving edge sits in >= k-2 = 2 triangles
KTRUSS_PEELS = 2


def _enumerate_triangles(oriented: DataFrame) -> DataFrame:
    """All triangles (a < b < c) of an id-oriented edge relation (src < dst,
    distinct), each found exactly ONCE: wedge join o(a,b) ⋈ o(b,c) on the
    mid node, closed against o(a,c).

    Economics vs the symmetric wedge join this replaced (round 10): wedge
    volume drops from Σ_w C(d_w, 2) over FULL degrees to Σ_b C(outdeg_b, 2)
    over id-oriented out-degrees (measured 147.8M → 49.3M rows on the sf0.1
    graph, ×3 less), and the closing join carries one wedge per candidate
    instead of one per (edge, witness) incidence."""
    e1 = oriented.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    e2 = oriented.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    closing = oriented.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    # shuffle_hash: the closing side is a derived distinct whose size
    # Catalyst under-estimates; hash-building it per partition beats
    # sorting the wedge stream (the round-4 join-strategy-pin lesson).
    return e1.join(e2, "b").join(closing.hint("shuffle_hash"), ["a", "c"])


def _triangle_support(tri: DataFrame) -> DataFrame:
    """Per-edge triangle count (SUPPORT) from a triangle list (a < b < c):
    explode each triangle into its 3 oriented edges and count per edge.
    Edges in no triangle have support 0 and are absent from the output
    (inner-join semantics, unchanged from the wedge-join-per-round form)."""
    return (
        tri.select(
            F.explode(
                F.array(
                    F.struct(F.col("a").alias("s"), F.col("b").alias("d")),
                    F.struct(F.col("b").alias("s"), F.col("c").alias("d")),
                    F.struct(F.col("a").alias("s"), F.col("c").alias("d")),
                )
            ).alias("e")
        )
        .select(F.col("e.s").alias("src"), F.col("e.d").alias("dst"))
        .groupBy("src", "dst")
        .agg(F.count("*").cast("long").alias("support"))
    )


def ktruss_edges(
    lineitem: DataFrame,
    k: int = KTRUSS_K,
    peels: int = KTRUSS_PEELS,
    max_basket: int = 30,
) -> DataFrame:
    """Edges surviving ``peels`` rounds of k-truss peeling on the
    co-purchase graph: each round computes every edge's SUPPORT (the
    number of triangles through it) and drops edges with support < k-2.
    Output: (part_a, part_b, support, n_peels) for the surviving oriented
    edges with their residual support, ordered.

    kcore_membership peels NODES by degree — cheap but loose (a hub of
    pendant triangles passes). The truss condition is the standard
    tightening: an edge must be EMBEDDED in triangles, which is the
    community-detection workhorse one level up from the triangle census.

    Execution (round 11): the triangle set is enumerated ONCE on the
    original oriented relation and materialized; every peel round is then
    pure triangle-list maintenance — because the triangles of a subgraph
    O_i ⊆ O_0 are exactly the triangles of O_0 whose three edges all
    survive in O_i, round i's triangle set is round i-1's anti-joined
    against the (small, broadcast) set of edges dropped in round i-1.
    Edges with NO triangle never appear in any triangle, so anti-joining
    only the support<k-2 edges is sufficient. The wedge join (49.3M rows
    at sf0.1) runs once instead of once per round (peels+1 = 3 times),
    and the per-round work is an explode+count over the shrinking
    triangle list — identical support counts, same plan-visible results
    round for round; the oracle unrolls the recompute-per-round form."""
    oriented = (
        _oriented_pair_rel(lineitem, max_basket)
        .select(F.col("part_a").alias("src"), F.col("part_b").alias("dst"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    tri = _enumerate_triangles(oriented).localCheckpoint(eager=False)
    for _ in range(peels):
        dropped = (
            _triangle_support(tri)
            .where(F.col("support") < k - 2)
            .select("src", "dst")
        )
        tri = (
            tri.join(
                F.broadcast(dropped).select(
                    F.col("src").alias("a"), F.col("dst").alias("b")
                ),
                ["a", "b"],
                "left_anti",
            )
            .join(
                F.broadcast(dropped).select(
                    F.col("src").alias("b"), F.col("dst").alias("c")
                ),
                ["b", "c"],
                "left_anti",
            )
            .join(
                F.broadcast(dropped).select(
                    F.col("src").alias("a"), F.col("dst").alias("c")
                ),
                ["a", "c"],
                "left_anti",
            )
        )
    # residual support of the survivors against the final edge set
    return (
        _triangle_support(tri)
        .select(
            F.col("src").alias("part_a"),
            F.col("dst").alias("part_b"),
            "support",
            F.lit(peels).alias("n_peels"),
        )
        .orderBy("part_a", "part_b")
    )


def ktruss_edges_sql(
    k: int = KTRUSS_K, peels: int = KTRUSS_PEELS, max_basket: int = 30
) -> str:
    its = [
        "sym0 AS (SELECT src, dst FROM edges)",
        "o0 AS (SELECT src, dst FROM edges WHERE src < dst)",
    ]
    for i in range(1, peels + 1):
        its.append(
            f"""sup{i} AS (
            SELECT o.src, o.dst, COUNT(*) AS support
            FROM o{i - 1} o
            JOIN sym{i - 1} e1 ON e1.src = o.src
            JOIN sym{i - 1} e2 ON e2.src = o.dst AND e2.dst = e1.dst
            GROUP BY o.src, o.dst
        ), o{i} AS (
            SELECT src, dst FROM sup{i} WHERE support >= {k - 2}
        ), sym{i} AS (
            SELECT src, dst FROM o{i}
            UNION ALL SELECT dst, src FROM o{i}
        )"""
        )
    chain = ",\n        ".join(its)
    return f"""
        WITH items AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ), small AS (
            SELECT l_orderkey FROM items
            GROUP BY l_orderkey HAVING COUNT(*) <= {max_basket}
        ), basket AS (
            SELECT i.l_orderkey, i.l_partkey FROM items i
            JOIN small USING (l_orderkey)
        ), edges AS (
            SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
            FROM basket a JOIN basket b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        ),
        {chain}
        SELECT o.src AS part_a, o.dst AS part_b,
               CAST(COUNT(*) AS BIGINT) AS support,
               {peels} AS n_peels
        FROM o{peels} o
        JOIN sym{peels} e1 ON e1.src = o.src
        JOIN sym{peels} e2 ON e2.src = o.dst AND e2.dst = e1.dst
        GROUP BY o.src, o.dst
        ORDER BY part_a, part_b
    """


def clustering_coefficient(lineitem: DataFrame, max_basket: int = 30) -> DataFrame:
    """Local clustering coefficient per part over the co-purchase graph:
    (p_partkey, degree, triangles, lcc_micro), ordered — how CLOSED each
    node's neighborhood is (C_v = 2*T_v / (d_v * (d_v - 1))), the per-node
    refinement of the global triangle census and the standard small-world
    diagnostic before any community algorithm.

    Exactness: degrees and triangle counts are exact integers from the
    deduped edge relation; lcc quantizes once at the row boundary; nodes
    with degree < 2 report lcc = 0 by convention (no wedge to close).

    Scale shape: one degree aggregate plus one v-centered wedge join
    (E(v,u) x E(v,w), u < w) semi-joined against the oriented edge set —
    the triangle-census economics with the same max_basket skew cap."""
    sym = _symmetric_edges(lineitem, max_basket)
    oriented = sym.where(F.col("src") < F.col("dst"))
    deg = sym.groupBy("src").agg(F.count("*").cast("long").alias("degree"))
    wedge = (
        sym.select(F.col("src").alias("v"), F.col("dst").alias("u"))
        .join(
            sym.select(F.col("src").alias("v"), F.col("dst").alias("w")),
            "v",
        )
        .where(F.col("u") < F.col("w"))
    )
    tri = (
        wedge.join(
            oriented,
            (wedge["u"] == oriented["src"]) & (wedge["w"] == oriented["dst"]),
        )
        .groupBy("v")
        .agg(F.count("*").cast("long").alias("triangles"))
    )
    return (
        deg.join(tri, deg["src"] == tri["v"], "left")
        .select(
            F.col("src").alias("p_partkey"),
            "degree",
            F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles"),
        )
        .select(
            "p_partkey",
            "degree",
            "triangles",
            F.expr(
                "CAST(CASE WHEN degree >= 2 THEN round(1e6 * 2.0 * triangles"
                " / (CAST(degree AS DOUBLE) * (degree - 1))) ELSE 0 END"
                " AS BIGINT)"
            ).alias("lcc_micro"),
        )
        .orderBy("p_partkey")
    )


def clustering_coefficient_sql(max_basket: int = 30) -> str:
    return f"""
        WITH items AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ), small AS (
            SELECT l_orderkey FROM items
            GROUP BY l_orderkey HAVING COUNT(*) <= {max_basket}
        ), basket AS (
            SELECT i.l_orderkey, i.l_partkey FROM items i
            JOIN small USING (l_orderkey)
        ), edges AS (
            SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
            FROM basket a JOIN basket b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        ),
        deg AS (
            SELECT src, CAST(COUNT(*) AS BIGINT) AS degree
            FROM edges GROUP BY src
        ),
        tri AS (
            SELECT e1.src AS v, CAST(COUNT(*) AS BIGINT) AS triangles
            FROM edges e1
            JOIN edges e2 ON e1.src = e2.src AND e1.dst < e2.dst
            JOIN edges o ON o.src = e1.dst AND o.dst = e2.dst
            GROUP BY e1.src
        )
        SELECT d.src AS p_partkey, degree,
               COALESCE(triangles, 0) AS triangles,
               CAST(CASE WHEN degree >= 2 THEN round(1e6 * 2.0
                    * COALESCE(triangles, 0)
                    / (CAST(degree AS DOUBLE) * (degree - 1)))
                    ELSE 0 END AS BIGINT) AS lcc_micro
        FROM deg d LEFT JOIN tri ON d.src = tri.v
        ORDER BY p_partkey
    """


# --- Katz centrality --------------------------------------------------------------------------

KATZ_ITERS = 4
KATZ_TOP_K = 50
KATZ_ALPHA = "0.05e0"


def katz_centrality(
    lineitem: DataFrame,
    iters: int = KATZ_ITERS,
    k: int = KATZ_TOP_K,
    max_basket: int = 30,
) -> DataFrame:
    """Top-k parts by truncated Katz centrality over the co-purchase
    graph: rows (p_partkey, katz_micro).

    eigenvector_centrality converges to the dominant eigenvector, where
    a giant component's hub structure swallows everything; Katz damps
    each extra hop by alpha, so centrality = sum_k alpha^k (A^k 1) —
    near neighbors matter most, long paths decay geometrically, and
    nodes OUTSIDE the dominant component still get honest scores (the
    known failure mode of pure eigenvector on disconnected graphs).
    Truncated at ``iters`` hops with alpha = 0.05 (well inside 1/lambda
    for this graph, making the tail negligible by construction).

    Exactness: walk mass v_k(dst) = round(alpha * sum_src v_{k-1}) is
    re-quantized to integer micro every hop, so each round is an exact
    integer aggregate (the eigenvector_centrality discipline) and the
    final score is an exact integer sum of the per-hop vectors.

    Scale shape: per hop one src-keyed join + dst-keyed aggregate on the
    skew-capped edge relation; no normalization scalar needed."""
    # deliberately NO per-hop localCheckpoint: each hop's vector is a 20k-row
    # aggregate whose only duplicate consumer is the final union, and AQE's
    # exchange reuse already dedups the identical subtrees — an A/B at sf0.1
    # measured the checkpointed form SLOWER (6.2s vs 4.9s): under AQE a
    # localCheckpoint executes its subplan at construction time, serializing
    # the hops into blocking jobs (see OPTIMIZATION_r10.md).
    edges = _symmetric_edges(lineitem, max_basket)
    nodes = edges.select(F.col("src").alias("node")).distinct()
    v = nodes.select("node", F.lit(1000000).cast("long").alias("x"))
    total = None
    for _ in range(iters):
        v = (
            edges.join(v, F.col("src") == F.col("node"))
            .groupBy("dst")
            .agg(
                F.expr(
                    f"CAST(round({KATZ_ALPHA} * SUM(x)) AS BIGINT)"
                ).alias("x")
            )
            .select(F.col("dst").alias("node"), "x")
        )
        total = v if total is None else total.unionByName(v)
    return (
        total.groupBy("node")
        .agg(F.sum("x").cast("long").alias("katz_micro"))
        .select(F.col("node").alias("p_partkey"), "katz_micro")
        .orderBy(F.desc("katz_micro"), "p_partkey")
        .limit(k)
    )


def katz_centrality_sql(
    iters: int = KATZ_ITERS, k: int = KATZ_TOP_K, max_basket: int = 30
) -> str:
    its = [
        """v0 AS (
            SELECT DISTINCT src AS node, CAST(1000000 AS BIGINT) AS x
            FROM edges
        )"""
    ]
    for i in range(1, iters + 1):
        its.append(
            f"""v{i} AS (
            SELECT e.dst AS node,
                   CAST(round({KATZ_ALPHA} * SUM(v.x)) AS BIGINT) AS x
            FROM edges e JOIN v{i - 1} v ON v.node = e.src
            GROUP BY e.dst
        )"""
        )
    chain = ",\n        ".join(its)
    hops = " UNION ALL ".join(
        f"SELECT node, x FROM v{i}" for i in range(1, iters + 1)
    )
    return f"""
        WITH items AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ), small AS (
            SELECT l_orderkey FROM items
            GROUP BY l_orderkey HAVING COUNT(*) <= {max_basket}
        ), basket AS (
            SELECT i.l_orderkey, i.l_partkey FROM items i
            JOIN small USING (l_orderkey)
        ), edges AS (
            SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
            FROM basket a JOIN basket b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        ),
        {chain},
        hops AS ({hops})
        SELECT node AS p_partkey,
               CAST(SUM(x) AS BIGINT) AS katz_micro
        FROM hops
        GROUP BY node
        ORDER BY katz_micro DESC, p_partkey ASC
        LIMIT {k}
    """


# --- SimRank on the co-purchase core --------------------------------------------------

SIMRANK_CORE = 16
SIMRANK_C_MILLI = 800
SIMRANK_ROUNDS = 4
SIMRANK_TOP = 15


def simrank_core(
    lineitem: DataFrame,
    core: int = SIMRANK_CORE,
    rounds: int = SIMRANK_ROUNDS,
    top: int = SIMRANK_TOP,
    max_basket: int = 30,
) -> DataFrame:
    """SimRank (Jeh & Widom, KDD 2002) on the co-purchase CORE: "two parts
    are similar if their neighbors are similar" — s(a,b) =
    C/(|N(a)||N(b)|) · Σ s(u,v) over neighbor pairs, the structural
    similarity that finds substitutes the co-occurrence count itself
    misses (they are rarely bought TOGETHER). The universe is the induced
    subgraph on the ``core`` highest-degree parts, so every iteration is a
    bounded ≤core² grid — the standard core trick for an O(n²·d²)
    recursion (full-graph SimRank runs the same plan per partition
    block).

    Exact: scores live in integer micro units re-quantized per round;
    neighbor sums are order-free BIGINT aggregates; ties in the top list
    break on (part_a, part_b). Output: top-``top`` pairs (part_a, part_b,
    n_a, n_b, simrank_micro)."""
    # round 11: the old prefix re-ran the basket→pair pipeline up to 4×
    # (the symmetrizing union's two branches, under BOTH the core_rel and
    # the edges checkpoint — exchange reuse misses across union branches,
    # the round-10 _symmetric_edges finding). _symmetric_edges checkpoints
    # the oriented half once; everything below derives from that RDD.
    sym = _symmetric_edges(lineitem, max_basket).select(
        F.col("src").alias("part_a"), F.col("dst").alias("part_b")
    )
    deg = sym.groupBy("part_a").agg(F.count("*").cast("long").alias("d"))
    core_rel = (
        deg.orderBy(F.desc("d"), "part_a")
        .limit(core)
        .select(F.col("part_a").alias("node"))
        .localCheckpoint(eager=False)
    )
    edges = (
        sym.join(core_rel.select(F.col("node").alias("part_a")), "part_a")
        .join(core_rel.select(F.col("node").alias("part_b")), "part_b")
        .select(F.col("part_a").alias("u"), F.col("part_b").alias("v"))
        .localCheckpoint(eager=False)
    )
    cdeg = edges.groupBy("u").agg(F.count("*").cast("long").alias("nd"))
    grid = (
        core_rel.select(F.col("node").alias("a"))
        .crossJoin(core_rel.select(F.col("node").alias("b")))
        .localCheckpoint(eager=False)
    )
    s = grid.select(
        "a",
        "b",
        F.when(F.col("a") == F.col("b"), F.lit(1_000_000))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("s_micro"),
    )
    for _ in range(rounds):
        contrib = (
            s.select(
                F.col("a").alias("na"),
                F.col("b").alias("nb"),
                F.col("s_micro").alias("sn"),
            )
            .join(
                edges.select(F.col("u").alias("a"), F.col("v").alias("na")),
                "na",
            )
            .join(
                edges.select(F.col("u").alias("b"), F.col("v").alias("nb")),
                "nb",
            )
            .groupBy("a", "b")
            .agg(F.sum("sn").alias("nsum"))
        )
        s = (
            grid.join(contrib, ["a", "b"], "left")
            .join(cdeg.select(F.col("u").alias("a"), F.col("nd").alias("da")), "a", "left")
            .join(cdeg.select(F.col("u").alias("b"), F.col("nd").alias("db")), "b", "left")
            .select(
                "a",
                "b",
                F.when(F.col("a") == F.col("b"), F.lit(1_000_000).cast("long"))
                .otherwise(
                    F.expr(
                        f"CAST(round({SIMRANK_C_MILLI} * COALESCE(nsum, 0)"
                        " / (1000.0 * GREATEST(1, da * db))) AS BIGINT)"
                    )
                )
                .alias("s_micro"),
            )
            # per-round checkpoint is LOAD-BEARING (round-10 A/B:
            # checkpoint-free measured 6.2s vs 5.2s): cdeg and grid are
            # re-derived per round in the unrolled plan and AQE's exchange
            # reuse does not reliably dedupe the copies
            .coalesce(1)
            .localCheckpoint()
        )
    w_top = Window.orderBy(
        F.col("s_micro").desc(), F.col("a").asc(), F.col("b").asc()
    )
    return (
        s.where(F.col("a") < F.col("b"))
        .join(cdeg.select(F.col("u").alias("a"), F.col("nd").alias("n_a")), "a")
        .join(cdeg.select(F.col("u").alias("b"), F.col("nd").alias("n_b")), "b")
        .withColumn("rnk", F.row_number().over(w_top).cast("int"))
        .where(F.col("rnk") <= top)
        .select(
            "rnk",
            F.col("a").alias("part_a"),
            F.col("b").alias("part_b"),
            "n_a",
            "n_b",
            "s_micro",
        )
        .orderBy("rnk")
    )


def simrank_core_sql(
    core: int = SIMRANK_CORE,
    rounds: int = SIMRANK_ROUNDS,
    top: int = SIMRANK_TOP,
    max_basket: int = 30,
) -> str:
    parts = [
        f"""
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    small AS (
        SELECT l_orderkey FROM items
        GROUP BY l_orderkey HAVING COUNT(*) <= {max_basket}
    ),
    basket AS (
        SELECT i.l_orderkey, i.l_partkey FROM items i
        JOIN small USING (l_orderkey)
    ),
    pairs AS MATERIALIZED (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
        FROM basket a JOIN basket b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY a.l_partkey, b.l_partkey
    ),
    sym AS MATERIALIZED (
        SELECT part_a, part_b FROM pairs
        UNION ALL
        SELECT part_b AS part_a, part_a AS part_b FROM pairs
    ),
    deg AS (
        SELECT part_a, CAST(COUNT(*) AS BIGINT) AS d
        FROM sym GROUP BY part_a
    ),
    core_rel AS MATERIALIZED (
        SELECT part_a AS node FROM deg
        ORDER BY d DESC, part_a LIMIT {core}
    ),
    edges AS MATERIALIZED (
        SELECT s.part_a AS u, s.part_b AS v
        FROM sym s
        JOIN core_rel ca ON ca.node = s.part_a
        JOIN core_rel cb ON cb.node = s.part_b
    ),
    cdeg AS MATERIALIZED (
        SELECT u, CAST(COUNT(*) AS BIGINT) AS nd FROM edges GROUP BY u
    ),
    grid AS MATERIALIZED (
        SELECT a.node AS a, b.node AS b
        FROM core_rel a CROSS JOIN core_rel b
    ),
    s0 AS MATERIALIZED (
        SELECT a, b,
               CAST(CASE WHEN a = b THEN 1000000 ELSE 0 END AS BIGINT)
                   AS s_micro
        FROM grid
    )"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f""",
    contrib{r} AS (
        SELECT ea.u AS a, eb.u AS b,
               CAST(SUM(sp.s_micro) AS BIGINT) AS nsum
        FROM s{r - 1} sp
        JOIN edges ea ON ea.v = sp.a
        JOIN edges eb ON eb.v = sp.b
        GROUP BY ea.u, eb.u
    ),
    s{r} AS MATERIALIZED (
        SELECT g.a, g.b,
               CAST(CASE WHEN g.a = g.b THEN 1000000
                    ELSE CAST(round({SIMRANK_C_MILLI}
                        * COALESCE(c.nsum, 0)
                        / (1000.0 * GREATEST(1, da.nd * db.nd)))
                        AS BIGINT)
               END AS BIGINT) AS s_micro
        FROM grid g
        LEFT JOIN contrib{r} c ON c.a = g.a AND c.b = g.b
        LEFT JOIN cdeg da ON da.u = g.a
        LEFT JOIN cdeg db ON db.u = g.b
    )"""
        )
    parts.append(
        f"""
    SELECT CAST(row_number() OVER (
               ORDER BY s.s_micro DESC, s.a ASC, s.b ASC) AS INTEGER) AS rnk,
           s.a AS part_a, s.b AS part_b, da.nd AS n_a, db.nd AS n_b,
           s.s_micro
    FROM s{rounds} s
    JOIN cdeg da ON da.u = s.a
    JOIN cdeg db ON db.u = s.b
    WHERE s.a < s.b
    QUALIFY rnk <= {top}
    ORDER BY rnk
    """
    )
    return "".join(parts)
