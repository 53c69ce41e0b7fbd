"""Graph analytics over the trade graph (SURVEY §2.10 iterative family).

The graph is derived from the star schema: an undirected customer↔supplier
edge exists when at least one order line connects them. PageRank here is
the declared-iterative category (like cluster_kmeans): not SQL-expressible,
held to property invariants (mass conservation, fixed point, determinism)
instead of a DuckDB oracle.

Scale posture per round: one edge⋈rank join + one hash agg, both keyed on
node id so AQE reuses the exchange; the driver reads ONE scalar (the max
rank delta) per round; persisted frames swap each round so the lineage
never grows (the dedup_clusters pattern).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from base_etl_spark import iterstats
from base_etl_spark.io import Tables, local_frame
from base_etl_spark.registry import query

_PR_DAMPING = 0.85
_PR_MAX_ROUNDS = 60  # runaway guard only; raises if hit


@query("graph_pagerank", oracle=None)  # R: iterative — invariants pinned in tests
def graph_pagerank(t: Tables) -> DataFrame:
    """PageRank over the symmetrized customer↔supplier trade graph
    (edge = the pair traded at least once), damping 0.85, converged when
    the max per-node rank change falls under 1% of the uniform mass 1/N.

    Symmetrizing makes every node's out-degree ≥ 1, so there is no
    dangling-mass correction term; total rank mass stays 1 (asserted in
    tests to 1e-9). Each round: contributions = edges ⋈ ranks grouped by
    destination; new rank = (1-d)/N + d·Σ contrib. The convergence probe
    is a max-abs-delta scalar — the only thing the driver ever
    materializes. Raises on non-convergence rather than returning a
    half-iterated vector."""
    orders = t.orders.select("o_orderkey", "o_custkey")
    trade = (
        t.lineitem.select("l_orderkey", "l_suppkey")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
        )
        .distinct()
    )
    edges = trade.unionByName(
        trade.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).persist()
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    edges_deg = edges.join(outdeg, "src").persist()
    nodes = edges.select(F.col("src").alias("node")).distinct().persist()
    n = nodes.count()
    if n == 0:
        # PageRank of the empty graph is the empty ranking (an empty
        # orders/lineitem partition is a real shape); without this the
        # tolerance below divides by zero.
        for df in (edges, edges_deg, nodes):
            df.unpersist()
        return local_frame(t.spark, [], "node string, rank double")
    tol = 0.01 / n  # 1% of uniform mass
    base = (1.0 - _PR_DAMPING) / n

    # localCheckpoint (not persist): each round's plan references BOTH the
    # previous ranks and the new ranks, so without truncation the logical
    # plan doubles per round — AQE's plan stringification alone OOMs the
    # driver near round ~30. Checkpointing pins the round's result and
    # resets the lineage to a leaf; the extra materialization is one
    # N-row frame per round, which the round computes anyway.
    ranks = nodes.select("node", F.lit(1.0 / n).alias("rank")).localCheckpoint()
    delta = float("inf")
    rounds_used = 0
    for rounds_used in range(1, _PR_MAX_ROUNDS + 1):
        contribs = (
            edges_deg.join(ranks, edges_deg.src == ranks.node)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("rank") / F.col("deg")).alias("contrib"))
        )
        # carry the previous rank through the round so the convergence
        # probe is a plain agg over the checkpointed frame — no second
        # join, one action per round. r11: the checkpoint is LAZY, so
        # the delta read below is the job that materializes the round —
        # one Spark job per round instead of two (the seed `ranks` frame
        # above stays eager: round 1 references it twice in one plan).
        new_ranks = (
            ranks.withColumnRenamed("rank", "old")
            .join(contribs, "node", "left")
            .select(
                "node",
                (F.lit(base) + _PR_DAMPING * F.coalesce("contrib", F.lit(0.0))).alias("rank"),
                "old",
            )
            .localCheckpoint(eager=False)
        )
        delta = new_ranks.agg(
            F.max(F.abs(F.col("rank") - F.col("old"))).alias("d")
        ).collect()[0].d
        ranks = new_ranks.select("node", "rank")
        if delta < tol:
            break
    edges.unpersist()
    edges_deg.unpersist()
    nodes.unpersist()
    if delta >= tol:
        ranks.unpersist()
        raise RuntimeError(
            f"graph_pagerank: not converged within {_PR_MAX_ROUNDS} rounds "
            f"(delta={delta:.3e}, tol={tol:.3e})"
        )
    iterstats.record("graph_pagerank", rounds_used)
    return ranks.select("node", F.round("rank", 8).alias("rank"))


# SQL fragment shared by the KNN-graph oracles: DISTINCT
# (order, supplier) → same-order pair counts → symmetrize → top-5
# nomination per node → undirected union-of-KNN edge set `e(u, v)` and
# its degree table. Each oracle string embeds it so the DuckDB side
# stays standalone.
_KNN_EDGES_SQL = """
    cs AS (
        SELECT DISTINCT l_orderkey AS o, l_suppkey AS s FROM lineitem
    ),
    pc AS (
        SELECT a.s AS u, b.s AS v, count(*) AS w
        FROM cs a JOIN cs b ON a.o = b.o AND a.s < b.s
        GROUP BY a.s, b.s
    ),
    dir AS (
        SELECT u AS a, v AS b, w FROM pc
        UNION ALL
        SELECT v AS a, u AS b, w FROM pc
    ),
    knn AS (
        SELECT a, b FROM (
            SELECT a, b,
                   row_number() OVER (PARTITION BY a ORDER BY w DESC, b) AS rn
            FROM dir
        ) WHERE rn <= 5
    ),
    e AS (
        SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v FROM knn
    ),
    deg AS (
        SELECT node, count(*) AS deg
        FROM (SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e)
        GROUP BY node
    )
"""


def _knn_partnership_edges(t: Tables) -> DataFrame:
    """Undirected union-of-KNN supplier partnership edge set `(u, v)`,
    u < v — the shared graph construction behind the KNN-graph keys
    (rationale in graph_triangle_count's docstring: raw co-occurrence
    saturates to the complete graph on uniform fixtures; per-order pair
    fan-out is line-count-bounded; the 5-partner nomination is
    deterministic under (w DESC, id)). Never cached: every call plans
    and computes its own edges instead of reading an earlier call's."""
    cs = t.lineitem.select(
        F.col("l_orderkey").alias("o"), F.col("l_suppkey").alias("s")
    ).distinct()
    a, b = cs.alias("a"), cs.alias("b")
    pc = (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.s") < F.col("b.s")))
        .groupBy(F.col("a.s").alias("pu"), F.col("b.s").alias("pv"))
        .agg(F.count(F.lit(1)).alias("w"))
    )
    direct = pc.select(
        F.col("pu").alias("na"), F.col("pv").alias("nb"), "w"
    ).unionByName(pc.select(F.col("pv").alias("na"), F.col("pu").alias("nb"), "w"))
    knn_w = Window.partitionBy("na").orderBy(F.col("w").desc(), F.col("nb"))
    knn = direct.withColumn("rn", F.row_number().over(knn_w)).filter(F.col("rn") <= 5)
    return knn.select(
        F.least("na", "nb").alias("u"), F.greatest("na", "nb").alias("v")
    ).distinct()


def _degrees(edges: DataFrame) -> DataFrame:
    """`(node, deg)` of an undirected `(u, v)` edge list: one hash agg
    over both endpoint columns."""
    return (
        edges.select(F.col("u").alias("node"))
        .unionByName(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )


@query(
    "graph_triangle_count",
    oracle=f"""
    WITH {_KNN_EDGES_SQL},
    eo AS (
        SELECT CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v)
                    THEN e.u ELSE e.v END AS src,
               CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v)
                    THEN e.v ELSE e.u END AS dst,
               CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v)
                    THEN dv.deg ELSE du.deg END AS ddeg
        FROM e
        JOIN deg du ON e.u = du.node
        JOIN deg dv ON e.v = dv.node
    ),
    tri AS (
        SELECT count(*) AS n_triangles
        FROM eo e1
        JOIN eo e2 ON e1.src = e2.src
             AND (e1.ddeg < e2.ddeg OR (e1.ddeg = e2.ddeg AND e1.dst < e2.dst))
        JOIN eo e3 ON e3.src = e1.dst AND e3.dst = e2.dst
    )
    SELECT (SELECT count(*) FROM deg)                                AS n_nodes,
           (SELECT count(*) FROM e)                                  AS n_edges,
           (SELECT CAST(coalesce(sum(deg * (deg - 1)), 0) // 2 AS BIGINT)
            FROM deg)                                                AS n_wedges,
           n_triangles,
           CASE WHEN (SELECT coalesce(sum(deg * (deg - 1)), 0) FROM deg) > 0
                THEN round(3.0 * n_triangles /
                           ((SELECT sum(deg * (deg - 1)) FROM deg) / 2.0), 6)
           END AS clustering
    FROM tri
    """,
)
def graph_triangle_count(t: Tables) -> DataFrame:
    """Global triangle census of the supplier partnership KNN graph:
    node/edge/wedge/triangle counts plus the global clustering
    coefficient 3·triangles / wedges — the graph-cohesion readout used
    to sanity-check a co-occurrence projection before heavier graph ML
    (community detection, graph-based ANN).

    Graph construction: suppliers co-occur when they ship lines of the
    SAME order (per-order pair fan-out is bounded by the order's line
    count, ≤ C(7,2) in TPC-H-shaped data — never quadratic in a hub
    key); co-occurrence counts are symmetrized and each node NOMINATES
    its 5 strongest partners (row_number over (count DESC, partner id),
    deterministic), keeping an undirected edge when EITHER endpoint
    nominates it — the union-of-KNN graph: total edges ≤ 5n, but a
    much-nominated node's degree may exceed 5 (which is exactly why the
    triangle join below orients by DEGREE, not id). KNN sparsification
    is the standard fix for raw co-occurrence projections saturating
    toward the complete graph, which this fixture's uniform supplier
    assignment does: the unpruned graph IS complete at every SF (
    measured — C(n,2) edges at sf0.001/0.01/0.1), making a census of it
    degenerate.

    Triangle algorithm (public: Schank & Wagner's degree-ordered
    orientation / the MapReduce "node-iterator++"): orient every
    undirected edge from its lower-(degree, id) endpoint to the higher
    one — a total order, so each triangle {u,v,w} survives as EXACTLY
    one oriented wedge (u→v, u→w with (deg,id)(v) < (deg,id)(w)) whose
    closing edge v→w is checked with one more equi-join. Orientation
    bounds every node's out-degree by O(√m), so wedge fan-out is
    O(m^1.5) — the best known join-based bound — instead of Σ deg² on
    raw adjacency (a hub supplier would otherwise quadratically
    dominate at 100 TB).

    Plan shape: one distinct over the (orderkey, suppkey) projection,
    the pair count shuffles on the pair key, the KNN window partitions
    by node (high cardinality, never global), the wedge join shuffles
    oriented edges once on src, and the closing-edge check joins on the
    (dst-pair) key; every join is equi-keyed (plan-asserted: no nested
    loop on the edge joins) and the only broadcast is the final 1-row
    scalar combine. Wedge count Σ deg(deg−1)/2 stays in exact integer
    arithmetic; the one float division is rounded to 6dp on both
    engines."""
    e = _knn_partnership_edges(t)
    deg = _degrees(e)
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    eo = (
        e.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
            F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("ddeg"),
        )
        .localCheckpoint(eager=False)  # read three times by the wedge + closing joins
    )
    e1 = eo.select(
        F.col("src"), F.col("dst").alias("v_dst"), F.col("ddeg").alias("v_deg")
    )
    e2 = eo.select(
        F.col("src"), F.col("dst").alias("w_dst"), F.col("ddeg").alias("w_deg")
    )
    wedges_vw = e1.join(e2, "src").filter(
        (F.col("v_deg") < F.col("w_deg"))
        | ((F.col("v_deg") == F.col("w_deg")) & (F.col("v_dst") < F.col("w_dst")))
    )
    closing = eo.select(F.col("src").alias("v_dst"), F.col("dst").alias("w_dst"))
    tri = wedges_vw.join(closing, ["v_dst", "w_dst"], "left_semi").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    nodes_edges = e.agg(F.count(F.lit(1)).alias("n_edges"))
    n_nodes = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    # Σ deg(deg−1) is even by construction; keep it integer until the end
    wedge2 = deg.agg(F.coalesce(F.sum(F.col("deg") * (F.col("deg") - 1)), F.lit(0)).alias("w2"))
    out = (
        tri.crossJoin(F.broadcast(n_nodes))
        .crossJoin(F.broadcast(nodes_edges))
        .crossJoin(F.broadcast(wedge2))
        .select(
            "n_nodes",
            "n_edges",
            F.expr("w2 div 2").alias("n_wedges"),
            "n_triangles",
            F.when(
                F.col("w2") > 0,
                F.round(3.0 * F.col("n_triangles") / (F.col("w2") / F.lit(2.0)), 6),
            ).alias("clustering"),
        )
    )
    return out


@query(
    "graph_jaccard_similarity",
    oracle=f"""
    WITH {_KNN_EDGES_SQL},
    adj AS (
        SELECT u AS node, v AS nb FROM e
        UNION ALL
        SELECT v AS node, u AS nb FROM e
    ),
    common AS (
        SELECT a.node AS u, b.node AS v, CAST(count(*) AS BIGINT) AS n_common
        FROM adj a JOIN adj b ON a.nb = b.nb AND a.node < b.node
        GROUP BY a.node, b.node
        HAVING count(*) >= 2
    )
    SELECT c.u, c.v, c.n_common,
           CAST(du.deg AS BIGINT) AS deg_u, CAST(dv.deg AS BIGINT) AS deg_v,
           round(c.n_common * 1.0 / (du.deg + dv.deg - c.n_common), 6)
               AS jaccard,
           (ed.u IS NOT NULL) AS is_edge
    FROM common c
    JOIN deg du ON c.u = du.node
    JOIN deg dv ON c.v = dv.node
    LEFT JOIN e ed ON c.u = ed.u AND c.v = ed.v
    """,
)
def graph_jaccard_similarity(t: Tables) -> DataFrame:
    """Neighbor-set Jaccard similarity over the supplier partnership
    KNN graph (shared construction: _knn_partnership_edges): for every
    node pair sharing at least 2 common neighbors,
    |N(u)∩N(v)| / |N(u)∪N(v)| — the classic link-prediction score
    (Liben-Nowell & Kleinberg 2003, public method). High-Jaccard pairs
    with is_edge = false are the predicted missing links; existing
    edges carry their structural-similarity strength.

    Scale plan: candidate pairs are generated by ONE self-join of the
    adjacency list on the NEIGHBOR key — each neighbor n contributes
    C(deg(n), 2) wedge pairs, and degrees in the union-of-KNN graph are
    nomination-bounded (≤ 5 out-nominations per node), so the wedge
    fan-out is O(k²·n), never hub-quadratic like a raw co-occurrence
    projection. The intersection count is one hash agg on the pair key;
    union size comes from the exact inclusion–exclusion
    deg_u + deg_v − common with degrees joined from the node-bounded
    degree table (broadcast). The output SET is decided by the exact
    integer support (≥2 common neighbors); the Jaccard itself is a
    final 6dp projection of a ratio of exact integers."""
    e = _knn_partnership_edges(t)
    adj = e.select(F.col("u").alias("node"), F.col("v").alias("nb")).unionByName(
        e.select(F.col("v").alias("node"), F.col("u").alias("nb"))
    )
    a, b = adj.alias("a"), adj.alias("b")
    common = (
        a.join(b, (F.col("a.nb") == F.col("b.nb")) & (F.col("a.node") < F.col("b.node")))
        .groupBy(F.col("a.node").alias("u"), F.col("b.node").alias("v"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
        .filter(F.col("n_common") >= 2)
    )
    deg = (
        adj.groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("deg_u"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("deg_v"))
    edge_flag = e.select("u", "v", F.lit(True).alias("is_e"))
    return (
        common.join(F.broadcast(du), "u")
        .join(F.broadcast(dv), "v")
        .join(F.broadcast(edge_flag), ["u", "v"], "left")
        .select(
            "u",
            "v",
            "n_common",
            "deg_u",
            "deg_v",
            F.round(
                F.col("n_common") * 1.0
                / (F.col("deg_u") + F.col("deg_v") - F.col("n_common")),
                6,
            ).alias("jaccard"),
            F.coalesce(F.col("is_e"), F.lit(False)).alias("is_edge"),
        )
    )


@query(
    "graph_degree_distribution",
    oracle=f"""
    WITH {_KNN_EDGES_SQL}
    SELECT deg, CAST(count(*) AS BIGINT) AS n_nodes,
           round(count(*) * 1.0 / sum(count(*)) OVER (), 6) AS share
    FROM deg
    GROUP BY deg
    """,
)
def graph_degree_distribution(t: Tables) -> DataFrame:
    """Degree histogram of the KNN supplier-partnership graph — the
    first sanity plot of any graph pipeline (heavy-tail check before
    pagerank/triangles are worth running), over the SAME edge
    construction graph_triangle_count and graph_jaccard_similarity
    share (_knn_partnership_edges / _KNN_EDGES_SQL, so the census can
    never disagree with the keys it summarizes).

    Plan: degrees are one hash agg over the doubled edge list
    (dim-bounded: supplier cardinality), the histogram a second agg
    over node cardinality, and the share a window over the histogram —
    partition-less but bounded by DISTINCT DEGREE count (≤ max degree,
    ~2k here; inline-bounded like the other post-aggregate grids)."""
    e = _knn_partnership_edges(t)
    deg = _degrees(e)
    hist = deg.groupBy("deg").agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    # share window: runs over the degree HISTOGRAM (distinct degrees),
    # never node- or edge-sized input
    return hist.select(
        "deg",
        "n_nodes",
        F.round(
            F.col("n_nodes") * 1.0 / F.sum("n_nodes").over(Window.partitionBy()),
            6,
        ).alias("share"),
    )


@query(
    "graph_assortativity",
    oracle=f"""
    WITH {_KNN_EDGES_SQL},
    dd AS (
        SELECT u, v FROM e
        UNION ALL
        SELECT v, u FROM e
    ),
    j AS (
        SELECT du.deg AS a, dv.deg AS b
        FROM dd JOIN deg du ON dd.u = du.node
                JOIN deg dv ON dd.v = dv.node
    )
    SELECT CAST(count(*) / 2 AS BIGINT)  AS n_edges,
           round(corr(a, b), 6)          AS assortativity,
           round(avg(a), 6)              AS mean_edge_degree
    FROM j
    """,
)
def graph_assortativity(t: Tables) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002, public method) of
    the KNN supplier-partnership graph: the Pearson correlation of
    (deg(u), deg(v)) over directed edge ends — positive means hubs link
    to hubs (social-network shape), negative means hubs link to leaves
    (infrastructure / hub-and-spoke). Completes the graph family's
    one-number health checks next to the degree histogram: same edge
    construction (_knn_partnership_edges / _KNN_EDGES_SQL), so the
    coefficient can never disagree with the census it interprets.

    Plan: degrees are one hash agg over the doubled edge list; the
    degree join-back broadcasts the node-bounded degree table onto the
    edge list twice; corr() is a single map-side-combinable moment
    aggregate (sums of a, b, ab, a², b²) — one scalar row out, no
    window, no sort. All frames are dim-bounded here and
    degree-capped (≤2k distinct nodes) at any scale: the fact table
    only feeds the edge construction's one distinct + one groupBy."""
    e = _knn_partnership_edges(t)
    deg = _degrees(e)
    dd = e.select("u", "v").unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("a"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("b"))
    return (
        dd.join(F.broadcast(du), "u")
        .join(F.broadcast(dv), "v")
        .agg(
            (F.count(F.lit(1)) / 2).cast("long").alias("n_edges"),
            F.round(F.corr("a", "b"), 6).alias("assortativity"),
            F.round(F.avg("a"), 6).alias("mean_edge_degree"),
        )
    )


_KCORE_KS = (2, 3)
_KCORE_MAX_ROUNDS = 60  # floor for the runaway guard; see n_nodes sizing below


@query("graph_k_core", oracle=None)  # R: iterative peeling — invariants in tests
def graph_k_core(t: Tables) -> DataFrame:
    """k-core decomposition census of the supplier partnership graph
    (shared _knn_partnership_edges construction): for k in {2, 3},
    repeatedly delete every node whose CURRENT degree is below k until
    none remains — the surviving subgraph is the k-core, the standard
    cohesion backbone (spam/bot rings and dense supplier cliques live
    in high cores; trees and pendants peel away entirely). Declared
    iterative (cluster_kmeans / graph_pagerank class): the peel is a
    fixed point, not SQL-expressible, so rows-only with exact planted
    invariants in tests (a triangle+pendant graph peels to exactly the
    triangle at k=2 and to nothing at k=3... see tests).

    Per round: one degree hash agg + two anti-joins (drop edges touching
    deleted nodes), all keyed on node id; the driver reads ONE scalar
    (the number of nodes just deleted). localCheckpoint per round resets
    lineage (the pagerank lesson). Peeling deletes >= 1 node per
    non-final round, so rounds <= |V| — the runaway guard is sized from
    the actual node count (a fixed constant is not safely above the
    bound on amplified corpora: chain-like graphs shed ~2 nodes/round),
    and it raises only when bad nodes REMAIN after the cap, never after
    a peel that completed on its final permitted round. Output: per k —
    core size, edge count, and rounds taken (bounded: 2 rows)."""
    # r11 (guide §1.2): checkpoint the KNN edge construction ONCE — the
    # old shape re-evaluated the _knn_partnership_edges self-join three
    # times (the n_nodes0 count plus one eager checkpoint per k). The
    # node count and both k-loops now read the single materialized frame.
    edges0 = _knn_partnership_edges(t).localCheckpoint()
    n_nodes0 = (
        edges0.select(F.col("u").alias("node"))
        .unionByName(edges0.select(F.col("v").alias("node")))
        .distinct()
        .count()
    )
    max_rounds = max(_KCORE_MAX_ROUNDS, n_nodes0)
    out = None
    for k in _KCORE_KS:
        cur = edges0
        rounds_used = 0
        while True:
            bad = _degrees(cur).filter(F.col("deg") < k).select("node")
            n_bad = bad.count()
            if n_bad == 0:
                break
            if rounds_used >= max_rounds:
                raise RuntimeError(
                    f"graph_k_core: k={k} not peeled within {max_rounds} rounds"
                )
            rounds_used += 1
            # LAZY per-round checkpoint: the next round's bad.count()
            # (or the post-loop stats action) is the job that
            # materializes the peel — one job per round, not two
            cur = (
                cur.join(bad, cur.u == bad.node, "left_anti")
                .join(bad, cur.v == bad.node, "left_anti")
                .localCheckpoint(eager=False)
            )
        iterstats.record("graph_k_core", rounds_used)
        stats = cur.agg(
            F.lit(k).alias("k"),
            F.count(F.lit(1)).cast("long").alias("n_edges"),
            F.lit(rounds_used).cast("long").alias("rounds"),
        )
        # node count needs the union of both endpoints, not a plain
        # countDistinct on one side
        nodes = (
            cur.select(F.col("u").alias("node"))
            .unionByName(cur.select(F.col("v").alias("node")))
            .distinct()
            .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
        )
        row = stats.crossJoin(nodes).select("k", "n_nodes", "n_edges", "rounds")
        out = row if out is None else out.unionByName(row)
    return out


@query(
    "graph_components",
    oracle=f"""
    WITH RECURSIVE {_KNN_EDGES_SQL},
    ed AS (
        SELECT u AS src, v AS dst FROM e
        UNION ALL
        SELECT v, u FROM e
    ),
    nodes AS (SELECT DISTINCT src AS node FROM ed),
    reach(node, lab) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT ed.dst, r.lab FROM reach r JOIN ed ON ed.src = r.node
    ),
    canon AS (SELECT node, min(lab) AS comp FROM reach GROUP BY node)
    SELECT comp                        AS component_id,
           CAST(count(*) AS BIGINT)    AS n_nodes
    FROM canon GROUP BY comp
    """,
)
def graph_components(t: Tables) -> DataFrame:
    """Connected-component census of the supplier partnership graph
    (shared _knn_partnership_edges construction): every component
    labeled by its minimum node id, one output row per component with
    its node count — the graph-tier generalization of dedup_clusters'
    keep/drop labeling (communities of suppliers that transact through
    common partners; fragmentation here reads as market segmentation).

    Spark side reuses llm_dedup._propagate_min_labels (min-label
    propagation: one join + one agg per round, scalar convergence
    probe, localCheckpoint lineage reset, raises on non-convergence);
    the DuckDB oracle is a recursive-CTE transitive closure over the
    identical edge CTE as graph_triangle_count — so this key also
    hash-certifies that the iterative propagation computes exactly the
    recursive closure on a SECOND graph shape (dedup_clusters certifies
    it on the document near-dup graph).

    Scale: rounds are component-diameter-bounded; every round keys on
    node id. The census agg is component-bounded."""
    from base_etl_spark.operators.llm_dedup import _propagate_min_labels

    edges = _knn_partnership_edges(t)
    pairs = edges.select(F.col("u").alias("doc_a"), F.col("v").alias("doc_b"))
    labels = _propagate_min_labels(pairs, what="graph_components")
    return labels.groupBy(F.col("lab").alias("component_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes")
    )
