"""Graph analytics over the copurchase/customer-supplier graphs:
PageRank, triangles, label propagation, k-core, HITS, assortativity,
hop distance, link prediction.

Split out of the former monolithic ``queries_ext`` module (round 8);
registration conventions and the 100 TB scale notes live in the package
``__init__``.  ``queries()`` leads with ``DRIVER_CHECK_ORDER``; the
other entries follow in registration order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flo_spark.queries import (
    load,
    query,
)

__all__ = [
    "pagerank_customer_supplier",
    "personalized_pagerank_seeds",
    "triangle_count_copurchase",
    "community_label_propagation",
    "kcore_copurchase_peel",
    "copurchase_hop_distance",
    "linkpred_resource_allocation",
    "degree_assortativity_copurchase",
    "hits_hubs_authorities",
    "linkpred_jaccard_neighbors",
    "kcore_peel_census",
]


def _pagerank_iter_sql(prev: str, cur: str) -> str:
    """One unrolled fixed-point PageRank step for the DuckDB oracle."""
    return (
        f"{cur} AS (SELECT a.dst AS node,"
        f" 150000 + CAST((85 * sum(r.pr // a.outdeg)) // 100 AS BIGINT) AS pr"
        f" FROM adj a JOIN {prev} r ON r.node = a.src GROUP BY a.dst)"
    )


@query(
    "pagerank_customer_supplier",
    f"""
    WITH e0 AS (
      SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS src,
                      's' || CAST(l.l_suppkey AS VARCHAR) AS dst
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    edges AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
    deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
    adj AS (SELECT e.src, e.dst, d.outdeg FROM edges e JOIN deg d USING (src)),
    r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS pr FROM deg),
    {_pagerank_iter_sql('r0', 'r1')},
    {_pagerank_iter_sql('r1', 'r2')},
    {_pagerank_iter_sql('r2', 'r3')}
    SELECT node, pr AS rank_scaled FROM r3
    ORDER BY rank_scaled DESC, node LIMIT 20
    """,
)
def pagerank_customer_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point PageRank over the bipartite customer<->supplier
    trade graph (edges = distinct (customer, supplier) pairs through
    orders x lineitem, symmetrized) — the iterative-algorithm pattern
    (Pregel on DataFrames): per round, one edge->rank equi-join and one
    shuffle grouping messages by destination.

    Arithmetic is FIXED-POINT (1e-6 units, BIGINT): contribution =
    pr div outdeg, damping = 0.15 + 0.85x applied as integer ops — so
    three engines running three rounds land bit-identical ranks, where
    double summation would be order-sensitive (the q7 lesson applied to
    graph analytics).  The oracle unrolls the three rounds as chained
    CTEs — no recursion, aggregates allowed.

    100 TB shape: the adjacency (edges + out-degree) is built once and
    persisted; each round shuffles messages by dst — O(|E|) per round,
    no driver-side state.  Deep iteration adds localCheckpoint every
    few rounds to cut lineage (the operators/graph.py discipline);
    top-20 compiles to TakeOrderedAndProject, never a global sort.
    r9 optimization: the distinct edge list ``e0`` is checkpointed —
    the degree table and the round-0 rank frame previously re-derived
    it from the orders x lineitem join per fork (6 corpus scans of
    each fact in the static plan, now one), the fix the uncertified
    graph siblings took in the r9 scale-hardening pass."""
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    e0 = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
        .distinct()
        .localCheckpoint()
    )
    edges = e0.union(e0.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    deg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
    adj = edges.join(deg, "src").persist()
    ranks = deg.select(F.col("src").alias("node"), F.lit(1000000).cast("long").alias("pr"))
    for _ in range(3):
        msgs = adj.join(ranks, adj["src"] == ranks["node"]).select(
            F.col("dst").alias("mnode"), F.expr("pr div outdeg").alias("contrib")
        )
        ranks = (
            msgs.groupBy("mnode")
            .agg(F.sum("contrib").alias("s"))
            .select(
                F.col("mnode").alias("node"),
                F.expr("150000 + (85 * s) div 100").alias("pr"),
            )
        )
    return (
        ranks.select("node", F.col("pr").alias("rank_scaled"))
        .orderBy(F.col("rank_scaled").desc(), "node")
        .limit(20)
    )


@query(
    "triangle_count_copurchase",
    """
    WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT a.l_partkey AS lo, b.l_partkey AS hi
      FROM lp a JOIN lp b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    tri AS (
      SELECT count(*) AS n_triangles
      FROM e e1
      JOIN e e2 ON e2.lo = e1.hi
      JOIN e e3 ON e3.lo = e1.lo AND e3.hi = e2.hi
    ),
    stats AS (
      SELECT (SELECT count(*) FROM e) AS n_edges,
             (SELECT count(DISTINCT n) FROM
                (SELECT lo AS n FROM e UNION ALL SELECT hi FROM e)) AS n_nodes
    )
    SELECT s.n_nodes, s.n_edges, CAST(t.n_triangles AS BIGINT) AS n_triangles
    FROM stats s, tri t
    """,
)
def triangle_count_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting on the part co-purchase graph (parts sharing
    >= 2 orders), via DEGREE-ORDERED edge orientation — the
    compact-forward algorithm every distributed triangle counter uses:
    orient each edge from the (degree, id)-smaller endpoint to the
    larger, making a DAG whose max out-degree is O(sqrt(|E|)); then
    triangles = pairs of out-edges from one node whose far endpoints
    are themselves an oriented edge.  Each triangle is counted exactly
    once (its unique (deg,id)-minimal apex), and the candidate-pair
    join is bounded by sum(outdeg^2) = O(|E|^1.5) instead of the
    naive sum(deg^2), which on skewed co-occurrence graphs is the
    difference between feasible and not.

    The support >= 2 threshold makes the graph the MEANINGFUL
    co-purchase structure (one shared order is noise) and keeps it
    sparse at every SF.  The oracle counts the same triangles with
    the orientation-free a<b<c 3-way join — a different algorithm
    reaching the same exact integer.

    r9 optimization: the distinct basket table ``lp`` is checkpointed —
    both sides of the co-occurrence self-join previously re-derived it
    from the raw scan (2 lineitem scans in the static plan, now one)."""
    lp = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .localCheckpoint()
    )
    a, b = lp.alias("a"), lp.alias("b")
    e = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("lo"), F.col("b.l_partkey").alias("hi")
        )
        .agg(F.count("*").alias("sup"))
        .filter(F.col("sup") >= 2)
        .select("lo", "hi")
        .persist()
    )
    sym = e.select(F.col("lo").alias("n")).unionAll(
        e.select(F.col("hi").alias("n"))
    )
    deg = sym.groupBy("n").agg(F.count("*").alias("deg"))
    # orient lo->hi iff (deg,id) of lo < (deg,id) of hi, else hi->lo
    dl = deg.select(F.col("n").alias("lo"), F.col("deg").alias("dlo"))
    dh = deg.select(F.col("n").alias("hi"), F.col("deg").alias("dhi"))
    ori = (
        e.join(dl, "lo")
        .join(dh, "hi")
        .select(
            F.when(
                (F.col("dlo") < F.col("dhi"))
                | ((F.col("dlo") == F.col("dhi")) & (F.col("lo") < F.col("hi"))),
                F.struct(F.col("lo").alias("src"), F.col("hi").alias("dst")),
            )
            .otherwise(
                F.struct(F.col("hi").alias("src"), F.col("lo").alias("dst"))
            )
            .alias("o")
        )
        .select("o.src", "o.dst")
        .persist()
    )
    x, y, z = ori.alias("x"), ori.alias("y"), ori.alias("z")
    tri = (
        x.join(
            y,
            (F.col("x.src") == F.col("y.src"))
            & (F.col("x.dst") != F.col("y.dst")),
        )
        .join(
            z,
            (F.col("z.src") == F.col("x.dst"))
            & (F.col("z.dst") == F.col("y.dst")),
        )
        .agg(F.count("*").cast("long").alias("n_triangles"))
    )
    stats = e.agg(
        F.count("*").alias("n_edges"),
    ).crossJoin(sym.distinct().agg(F.count("*").alias("n_nodes")))
    return stats.crossJoin(F.broadcast(tri)).select(
        "n_nodes", "n_edges", "n_triangles"
    )


@query(
    "community_label_propagation",
    """
    WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT a.l_partkey AS lo, b.l_partkey AS hi
      FROM lp a JOIN lp b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    sym AS (
      SELECT lo AS src, hi AS dst FROM e
      UNION ALL
      SELECT hi AS src, lo AS dst FROM e
    ),
    l0 AS (SELECT DISTINCT src AS n, src AS lbl FROM sym),
    v1 AS (
      SELECT s.src AS n, l.lbl, count(*) AS c
      FROM sym s JOIN l0 l ON l.n = s.dst
      GROUP BY 1, 2
    ),
    l1 AS (
      SELECT n, lbl FROM (
        SELECT n, lbl,
               row_number() OVER (PARTITION BY n ORDER BY c DESC, lbl ASC)
                 AS rk
        FROM v1) t WHERE rk = 1
    ),
    v2 AS (
      SELECT s.src AS n, l.lbl, count(*) AS c
      FROM sym s JOIN l1 l ON l.n = s.dst
      GROUP BY 1, 2
    ),
    l2 AS (
      SELECT n, lbl FROM (
        SELECT n, lbl,
               row_number() OVER (PARTITION BY n ORDER BY c DESC, lbl ASC)
                 AS rk
        FROM v2) t WHERE rk = 1
    )
    SELECT CAST(lbl AS BIGINT) AS community,
           count(*) AS n_members,
           CAST(min(n) AS BIGINT) AS min_member,
           CAST(max(n) AS BIGINT) AS max_member
    FROM l2 GROUP BY lbl
    """,
)
def community_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by SYNCHRONOUS label propagation on the
    part co-purchase graph (the `triangle_count_copurchase` edge set):
    every node starts labeled with its own id; each round it adopts
    the most frequent label among its NEIGHBORS, ties broken toward
    the smallest label — the deterministic variant of
    Raghavan et al. 2007 (classic async LPA is run-order dependent,
    useless under a hash oracle; the sync+min-tie form is the one
    Pregel systems implement).  Two rounds, then communities report
    (label, size, min/max member).

    The oracle replays both rounds as chained CTEs — same algorithm,
    independently evaluated, exact integer labels.

    100 TB shape: per round ONE keyed join (symmetric edges x current
    labels on dst) + one (node,label) count shuffle + one per-node
    window cut — all partitioned by node id; the label frame is
    |V|-sized and never collected.  Deep iteration would add
    localCheckpoint lineage cuts every few rounds (operators/graph.py
    discipline); two rounds stay well inside plan-size limits.
    Reference scope: flo has no graph surface — north-star extension
    (SURVEY §2 Part B)."""
    # distinct (order, part) projection, checkpointed: both sides of
    # the edge-building self-join read it — un-cut lineage re-scanned
    # lineitem per side (2 scans, r9 audit; now 1)
    lp = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .localCheckpoint()
    )
    a, b = lp.alias("a"), lp.alias("b")
    e = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("lo"), F.col("b.l_partkey").alias("hi")
        )
        .agg(F.count("*").alias("sup"))
        .filter(F.col("sup") >= 2)
        .select("lo", "hi")
        # O(edges) frame materialized once (r9): the symmetrization
        # union otherwise runs the lineitem self-join twice
        .localCheckpoint()
    )
    sym = (
        e.select(F.col("lo").alias("src"), F.col("hi").alias("dst"))
        .unionAll(e.select(F.col("hi").alias("src"), F.col("lo").alias("dst")))
        .persist()
    )
    labels = sym.select(F.col("src").alias("n")).distinct().select(
        "n", F.col("n").alias("lbl")
    )
    w = Window.partitionBy("n").orderBy(F.col("c").desc(), F.col("lbl").asc())
    for _ in range(2):
        votes = (
            sym.join(
                labels.select(F.col("n").alias("dst"), "lbl"), "dst"
            )
            .groupBy(F.col("src").alias("n"), "lbl")
            .agg(F.count("*").alias("c"))
        )
        labels = (
            votes.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select("n", "lbl")
        )
    return labels.groupBy(F.col("lbl").cast("long").alias("community")).agg(
        F.count("*").alias("n_members"),
        F.min("n").cast("long").alias("min_member"),
        F.max("n").cast("long").alias("max_member"),
    )


@query(
    "kcore_copurchase_peel",
    """
    WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT a.l_partkey AS lo, b.l_partkey AS hi
      FROM lp a JOIN lp b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    sym AS (
      SELECT lo AS src, hi AS dst FROM e
      UNION ALL
      SELECT hi AS src, lo AS dst FROM e
    ),
    d1 AS (SELECT src AS n, count(*) AS deg FROM sym GROUP BY src),
    a1 AS (SELECT n FROM d1 WHERE deg >= 3),
    d2 AS (
      SELECT s.src AS n, count(*) AS deg
      FROM sym s
      JOIN a1 x ON x.n = s.src
      JOIN a1 y ON y.n = s.dst
      GROUP BY s.src
    ),
    a2 AS (SELECT n FROM d2 WHERE deg >= 3),
    d3 AS (
      SELECT s.src AS n, count(*) AS deg
      FROM sym s
      JOIN a2 x ON x.n = s.src
      JOIN a2 y ON y.n = s.dst
      GROUP BY s.src
    ),
    a3 AS (SELECT n, deg FROM d3 WHERE deg >= 3)
    SELECT CAST(n AS BIGINT) AS part_id, CAST(deg AS BIGINT) AS degree
    FROM a3
    """,
)
def kcore_copurchase_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core peeling on the part co-purchase graph (the
    ``triangle_count_copurchase`` / ``community_label_propagation``
    edge set): three synchronous peel rounds — recompute every
    surviving node's degree over the survivor-induced subgraph, drop
    nodes with degree < 3 — the Matula-Beck / Batagelj-Zaversnik
    k-core algorithm truncated to a fixed round count so the result
    is a deterministic integer relation (full convergence is
    data-dependent; 3 rounds is the contract, and each extra round is
    the same plan shape).  Output: the nodes still alive after round
    3 with their round-3 degree.

    The oracle replays the identical peel as chained CTEs — two
    independent evaluations of one exact integer algorithm.

    100 TB shape: per round TWO semi-join-shaped hash joins (edges x
    alive on src, x alive on dst — both keyed shuffles on node id, no
    broadcast of anything corpus-scale) + one degree count; the edge
    frame is persisted once and reused across rounds; deep peeling
    would add localCheckpoint lineage cuts (operators/graph.py
    discipline).  Reference scope: flo has no graph surface —
    north-star extension (SURVEY §2 Part B)."""
    # distinct (order, part) projection, checkpointed: both sides of
    # the edge-building self-join read it — un-cut lineage re-scanned
    # lineitem per side (2 scans, r9 audit; now 1)
    lp = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .localCheckpoint()
    )
    a, b = lp.alias("a"), lp.alias("b")
    e = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("lo"), F.col("b.l_partkey").alias("hi")
        )
        .agg(F.count("*").alias("sup"))
        .filter(F.col("sup") >= 2)
        .select("lo", "hi")
        # O(edges) frame materialized once (r9): the symmetrization
        # union otherwise runs the lineitem self-join twice
        .localCheckpoint()
    )
    sym = (
        e.select(F.col("lo").alias("src"), F.col("hi").alias("dst"))
        .unionAll(e.select(F.col("hi").alias("src"), F.col("lo").alias("dst")))
        .persist()
    )
    deg = sym.groupBy(F.col("src").alias("n")).agg(F.count("*").alias("deg"))
    alive = deg.filter(F.col("deg") >= 3).select("n")
    for _ in range(2):
        deg = (
            sym.join(alive.withColumnRenamed("n", "src"), "src")
            .join(alive.withColumnRenamed("n", "dst"), "dst")
            .groupBy(F.col("src").alias("n"))
            .agg(F.count("*").alias("deg"))
        )
        alive = deg.filter(F.col("deg") >= 3).select("n")
    return deg.join(alive, "n").select(
        F.col("n").cast("long").alias("part_id"),
        F.col("deg").cast("long").alias("degree"),
    )


@query(
    "copurchase_hop_distance",
    """
    WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT a.l_partkey AS lo, b.l_partkey AS hi
      FROM lp a JOIN lp b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    sym AS (
      SELECT lo AS src, hi AS dst FROM e
      UNION ALL
      SELECT hi AS src, lo AS dst FROM e
    ),
    d0 AS (
      SELECT p_partkey AS n, 0 AS d FROM part WHERE p_size = 1
    ),
    d1 AS (
      SELECT n, min(d) AS d FROM (
        SELECT n, d FROM d0
        UNION ALL
        SELECT s.dst AS n, x.d + 1 AS d FROM d0 x JOIN sym s ON s.src = x.n
      ) GROUP BY n
    ),
    d2 AS (
      SELECT n, min(d) AS d FROM (
        SELECT n, d FROM d1
        UNION ALL
        SELECT s.dst AS n, x.d + 1 AS d FROM d1 x JOIN sym s ON s.src = x.n
      ) GROUP BY n
    ),
    d3 AS (
      SELECT n, min(d) AS d FROM (
        SELECT n, d FROM d2
        UNION ALL
        SELECT s.dst AS n, x.d + 1 AS d FROM d2 x JOIN sym s ON s.src = x.n
      ) GROUP BY n
    )
    SELECT CAST(n AS BIGINT) AS part_id, CAST(d AS INT) AS hops
    FROM d3
    """,
)
def copurchase_hop_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS hop distance on the part co-purchase graph
    (the triangle/k-core/label-propagation edge set): seeds are the
    p_size=1 parts at distance 0; three synchronous relaxation rounds
    (dist' = min(dist, min over in-edges of dist+1)) — unweighted
    single-source-shortest-path truncated to a fixed round count so
    the result is a deterministic integer relation (full convergence
    is diameter-dependent; 3 rounds is the contract and each extra
    round is the same plan shape).  Output: every part within 3 hops
    of a seed, with its exact hop count.  The oracle replays the
    identical rounds as chained CTEs — two independent evaluations of
    one exact integer algorithm.

    100 TB shape: per round ONE keyed join (frontier x edges on node
    id) + one min-combine — both map-side-combinable hash shuffles;
    the edge frame is persisted once and reused across rounds; deep
    traversals add localCheckpoint lineage cuts every ~5 rounds
    (operators/graph.py discipline).  This is the Pregel/BSP shortest
    path written as DataFrame rounds.  Completes the graph family
    (CC, PageRank, triangles, k-core, LPA) with reachability.
    Reference scope: flo has no graph surface — north-star extension
    (SURVEY §2 Part B)."""
    # distinct (order, part) projection, checkpointed: both sides of
    # the edge-building self-join read it — un-cut lineage re-scanned
    # lineitem per side (2 scans, r9 audit; now 1)
    lp = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .localCheckpoint()
    )
    a, b = lp.alias("a"), lp.alias("b")
    e = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("lo"), F.col("b.l_partkey").alias("hi")
        )
        .agg(F.count("*").alias("sup"))
        .filter(F.col("sup") >= 2)
        .select("lo", "hi")
        # O(edges) frame materialized once (r9): the symmetrization
        # union otherwise runs the lineitem self-join twice
        .localCheckpoint()
    )
    sym = (
        e.select(F.col("lo").alias("src"), F.col("hi").alias("dst"))
        .unionAll(e.select(F.col("hi").alias("src"), F.col("lo").alias("dst")))
        .persist()
    )
    dist = (
        load(spark, sf_dir, "part")
        .filter(F.col("p_size") == 1)
        .select(F.col("p_partkey").alias("n"), F.lit(0).alias("d"))
    )
    for _ in range(3):
        hop = (
            dist.join(sym, dist["n"] == sym["src"])
            .select(F.col("dst").alias("n"), (F.col("d") + 1).alias("d"))
        )
        dist = dist.unionAll(hop).groupBy("n").agg(F.min("d").alias("d"))
    out = dist.select(
        F.col("n").cast("long").alias("part_id"),
        F.col("d").cast("int").alias("hops"),
    )
    out = out.localCheckpoint(eager=True)
    sym.unpersist()
    return out


@query(
    "linkpred_resource_allocation",
    """
    WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT a.l_partkey AS lo, b.l_partkey AS hi
      FROM lp a JOIN lp b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    sym AS (
      SELECT lo AS src, dst FROM (
        SELECT lo, hi AS dst FROM e
        UNION ALL
        SELECT hi AS lo, lo AS dst FROM e
      )
    ),
    deg AS (
      SELECT src AS z, count(*) AS d FROM sym GROUP BY src
    ),
    zok AS (SELECT z, d FROM deg WHERE d <= 32),
    wedge AS (
      SELECT s1.dst AS a, s2.dst AS b, 1000000 // k.d AS w
      FROM sym s1
      JOIN sym s2 ON s1.src = s2.src AND s1.dst < s2.dst
      JOIN zok k ON k.z = s1.src
    ),
    cand AS (
      SELECT a, b, count(*) AS cn, sum(w) AS ra
      FROM wedge
      WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.lo = a AND e.hi = b)
      GROUP BY a, b
    )
    SELECT CAST(a AS BIGINT) AS part_a, CAST(b AS BIGINT) AS part_b,
           CAST(cn AS BIGINT) AS common_neighbors,
           CAST(ra AS BIGINT) AS ra_x1e6
    FROM cand
    ORDER BY ra_x1e6 DESC, part_a, part_b
    LIMIT 50
    """,
)
def linkpred_resource_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the part co-purchase graph by the
    Resource-Allocation index (Zhou/Lu/Zhang 2009 — Adamic-Adar's
    1/deg sibling, chosen because 1/deg is a RATIONAL damping, so
    RA = sum over common neighbors z of 1e6//deg(z) stays on an exact
    integer grid where AA's 1/log(deg) would need a transcendental):
    candidate (a,b) pairs are the wedges a-z-b that are NOT already
    edges, scored by common-neighbor count and RA, top-50 by
    (RA desc, pair) — fully deterministic.

    Intermediate nodes are restricted to deg(z) <= 32: wedge fanout is
    sum over z of deg(z)^2, so hub suppression bounds the candidate
    blowup (same candidate-generator discipline as LSH banding), and
    it is PRINCIPLED here — a hub's 1/deg weight contributes least by
    construction.  The cap is part of the stated contract.

    100 TB shape: edge list persists once; the wedge join is keyed on
    z (one shuffle), the existing-edge exclusion is a keyed ANTI join,
    the score is one hash aggregate on (a,b), and top-50 compiles to
    TakeOrderedAndProject — no global sort, no cartesian (same plan
    family as triangle_count_copurchase, which documents the
    orientation variant for counting).  Reference scope: flo has no
    graph surface — north-star extension (SURVEY §2 Part B)."""
    # distinct (order, part) projection, checkpointed: both sides of
    # the edge-building self-join read it — un-cut lineage re-scanned
    # lineitem per side (2 scans, r9 audit; now 1)
    lp = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .localCheckpoint()
    )
    a, b = lp.alias("a"), lp.alias("b")
    e = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("lo"), F.col("b.l_partkey").alias("hi")
        )
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 2)
        .select("lo", "hi")
        .persist()
    )
    sym = e.selectExpr("lo AS src", "hi AS dst").unionAll(
        e.selectExpr("hi AS src", "lo AS dst")
    )
    zok = (
        sym.groupBy(F.col("src").alias("z"))
        .agg(F.count("*").alias("d"))
        .filter(F.col("d") <= 32)
    )
    s1, s2 = sym.alias("s1"), sym.alias("s2")
    wedge = (
        s1.join(
            s2,
            (F.col("s1.src") == F.col("s2.src"))
            & (F.col("s1.dst") < F.col("s2.dst")),
        )
        .join(zok, F.col("s1.src") == F.col("z"))
        .select(
            F.col("s1.dst").alias("wa"),
            F.col("s2.dst").alias("wb"),
            F.expr("1000000 div d").alias("w"),
        )
    )
    cand = (
        wedge.join(
            e,
            (F.col("wa") == F.col("lo")) & (F.col("wb") == F.col("hi")),
            "left_anti",
        )
        .groupBy("wa", "wb")
        .agg(F.count("*").alias("cn"), F.sum("w").alias("ra"))
    )
    return (
        cand.select(
            F.col("wa").cast("long").alias("part_a"),
            F.col("wb").cast("long").alias("part_b"),
            F.col("cn").cast("long").alias("common_neighbors"),
            F.col("ra").cast("long").alias("ra_x1e6"),
        )
        .orderBy(F.col("ra_x1e6").desc(), "part_a", "part_b")
        .limit(50)
    )


@query(
    "degree_assortativity_copurchase",
    """
    WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT a.l_partkey AS lo, b.l_partkey AS hi
      FROM lp a JOIN lp b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    sym AS (
      SELECT lo AS src, hi AS dst FROM e
      UNION ALL
      SELECT hi AS src, lo AS dst FROM e
    ),
    deg AS (SELECT src AS n, count(*) AS d FROM sym GROUP BY src),
    ends AS (
      SELECT CAST(dj.d AS HUGEINT) AS j, CAST(dk.d AS HUGEINT) AS k
      FROM sym s
      JOIN deg dj ON dj.n = s.src
      JOIN deg dk ON dk.n = s.dst
    ),
    s AS (
      SELECT count(*) AS m, sum(j) AS sj, sum(j * k) AS sjk,
             sum(j * j) AS sjj
      FROM ends
    )
    SELECT CAST(m AS BIGINT) AS m_ends,
           CAST(m * sjk - sj * sj AS BIGINT) AS num,
           CAST(m * sjj - sj * sj AS BIGINT) AS den,
           CAST(CASE WHEN m * sjk - sj * sj >= 0
                THEN ((m * sjk - sj * sj) * 1000000)
                     // (m * sjj - sj * sj)
                ELSE -(((sj * sj - m * sjk) * 1000000)
                       // (m * sjj - sj * sj)) END AS BIGINT)
             AS assortativity_x1e6
    FROM s
    """,
)
def degree_assortativity_copurchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Degree assortativity (Newman 2002) of the part co-purchase
    graph, ENGINE-EXACT: over the symmetric directed edge list every
    edge contributes its endpoint degrees (j, k), and because each
    undirected edge appears in both orientations the j- and k-marginals
    are IDENTICAL — so Pearson's r = (M*Sjk - Sj*Sk) /
    sqrt((M*Sjj - Sj^2)(M*Skk - Sk^2)) collapses to the square-root-
    free exact rational (M*Sjk - Sj^2) / (M*Sjj - Sj^2), reported on
    the 1e-6 grid with the toward-zero signed-division idiom (negative
    assortativity = hubs attach to leaves, the usual shape of
    co-occurrence graphs).  All moments accumulate in
    decimal(38,0)/HUGEINT.

    100 TB shape: degrees are one count shuffle over the symmetric
    edges; the (j, k) pairing is two keyed joins of the edge list
    against the degree table (src then dst — the same
    join-degree-then-reduce shape as linkpred_resource_allocation);
    the moment reduce is map-side combinable into a single row.
    Reference scope: flo has no analytics surface — north-star
    extension (SURVEY §2 Part B graph analytics: the global mixing
    diagnostic next to the local triangle/k-core/LPA structure)."""
    li = load(spark, sf_dir, "lineitem")
    # distinct (order, part) projection, checkpointed: both sides of
    # the edge-building self-join read it — un-cut lineage re-scanned
    # lineitem per side (2 scans, r9 audit; now 1)
    lp = li.select("l_orderkey", "l_partkey").distinct().localCheckpoint()
    a = lp.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("pa"))
    b = lp.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("pb"))
    e = (
        a.join(b, "o")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count("*").alias("w"))
        .filter(F.col("w") >= 2)
        .select(F.col("pa").alias("lo"), F.col("pb").alias("hi"))
        .persist()
    )
    # the symmetric edge frame feeds the degree count AND both sides
    # of the (j, k) pairing; the degree table joins twice — persist
    # both or the lineitem fact re-scans once per branch (12 scans
    # unpersisted; plan-pinned to ONE in tests/test_plans.py)
    sym = e.select(F.col("lo").alias("src"), F.col("hi").alias("dst")).unionAll(
        e.select(F.col("hi").alias("src"), F.col("lo").alias("dst"))
    ).persist()
    deg = (
        sym.groupBy("src")
        .agg(F.count("*").alias("d"))
        .withColumnRenamed("src", "n")
        .persist()
    )
    dd = lambda c: F.col(c).cast("decimal(38,0)")
    ends = (
        sym.join(deg.select(F.col("n").alias("src"), F.col("d").alias("dj")), "src")
        .join(deg.select(F.col("n").alias("dst"), F.col("d").alias("dk")), "dst")
        .select(dd("dj").alias("j"), dd("dk").alias("k"))
    )
    s = ends.agg(
        F.count("*").cast("decimal(38,0)").alias("m"),
        F.sum("j").alias("sj"),
        F.sum(F.col("j") * F.col("k")).alias("sjk"),
        F.sum(F.col("j") * F.col("j")).alias("sjj"),
    )
    return s.selectExpr(
        "CAST(m AS BIGINT) AS m_ends",
        "CAST(m * sjk - sj * sj AS BIGINT) AS num",
        "CAST(m * sjj - sj * sj AS BIGINT) AS den",
        "CAST(CASE WHEN m * sjk - sj * sj >= 0"
        " THEN ((m * sjk - sj * sj) * 1000000) div (m * sjj - sj * sj)"
        " ELSE -(((sj * sj - m * sjk) * 1000000)"
        " div (m * sjj - sj * sj)) END AS BIGINT)"
        " AS assortativity_x1e6",
    )


@query(
    "hits_hubs_authorities",
    """
    WITH e AS (
      SELECT DISTINCT o.o_custkey AS c, li.l_suppkey AS s
      FROM orders o JOIN lineitem li ON li.l_orderkey = o.o_orderkey
    ),
    a1 AS (
      SELECT s, sum(CAST(1000000 AS HUGEINT)) AS a FROM e GROUP BY s
    ),
    am1 AS (SELECT max(a) AS m FROM a1),
    a1n AS (SELECT s, (a * 1000000) // am1.m AS a FROM a1, am1),
    h1 AS (
      SELECT e.c, sum(a1n.a) AS h
      FROM e JOIN a1n ON a1n.s = e.s GROUP BY e.c
    ),
    hm1 AS (SELECT max(h) AS m FROM h1),
    h1n AS (SELECT c, (h * 1000000) // hm1.m AS h FROM h1, hm1),
    a2 AS (
      SELECT e.s, sum(h1n.h) AS a
      FROM e JOIN h1n ON h1n.c = e.c GROUP BY e.s
    ),
    am2 AS (SELECT max(a) AS m FROM a2),
    a2n AS (SELECT s, (a * 1000000) // am2.m AS a FROM a2, am2),
    deg AS (SELECT s, count(*) AS degree FROM e GROUP BY s)
    SELECT CAST(a2n.s AS BIGINT) AS s_suppkey,
           CAST(a2n.a AS BIGINT) AS authority_x1e6,
           CAST(deg.degree AS BIGINT) AS degree
    FROM a2n JOIN deg ON deg.s = a2n.s
    ORDER BY authority_x1e6 DESC, s_suppkey
    LIMIT 20
    """,
)
def hits_hubs_authorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kleinberg's HITS on the bipartite customer->supplier trade
    graph — the hub/authority counterpart to
    pagerank_customer_supplier's random-walk ranking — in EXACT fixed
    point: authority(s) = sum of hub scores over in-edges, hub(c) =
    sum of authorities over out-edges, and each round's max-
    normalization (score * 1e6 div max) is a truncating integer
    division (nonnegative operands), so 1.5 mutual-reinforcement
    rounds land bit-identical on both engines where float
    normalization would drift.  Top-20 authorities with degrees; a
    high-degree supplier serving LOW-hub customers ranks below a
    lower-degree supplier serving high-hub ones — the signal HITS
    adds over a plain degree count.

    100 TB shape: the distinct edge list builds once (one shuffle);
    each half-round is one edge->score equi-join plus one dst-keyed
    partial-sum shuffle, max-normalization is a 1-row broadcast —
    O(|E|) per round, the Pregel-on-DataFrames discipline; top-20 is
    TakeOrderedAndProject.  Reference scope: flo has no analytics
    surface — north-star extension (SURVEY §2 Part B graph
    analytics)."""
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    e = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
        # the edge list drives both half-rounds and the degree count
        .persist()
    )
    d = lambda c: c.cast("decimal(38,0)")

    def normalize(scores: DataFrame, key: str, col: str) -> DataFrame:
        m = scores.agg(F.max(col).alias("m"))
        return scores.crossJoin(F.broadcast(m)).selectExpr(
            key, f"({col} * 1000000) div m AS {col}"
        )

    a1 = e.groupBy("s").agg(
        F.sum(d(F.lit(1_000_000))).alias("a")
    )
    a1n = normalize(a1, "s", "a")
    h1 = (
        e.join(a1n, "s")
        .groupBy("c")
        .agg(F.sum("a").alias("h"))
    )
    h1n = normalize(h1, "c", "h")
    a2 = (
        e.join(h1n, "c")
        .groupBy("s")
        .agg(F.sum("h").alias("a"))
    )
    a2n = normalize(a2, "s", "a")
    deg = e.groupBy("s").agg(F.count("*").alias("degree"))
    return (
        a2n.join(deg, "s")
        .orderBy(F.col("a").desc(), F.col("s"))
        .limit(20)
        .select(
            F.col("s").cast("long").alias("s_suppkey"),
            F.col("a").cast("long").alias("authority_x1e6"),
            F.col("degree").cast("long").alias("degree"),
        )
    )


@query(
    "linkpred_jaccard_neighbors",
    """
    WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT a.l_partkey AS lo, b.l_partkey AS hi
      FROM lp a JOIN lp b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    sym AS (
      SELECT lo AS src, dst FROM (
        SELECT lo, hi AS dst FROM e
        UNION ALL
        SELECT hi AS lo, lo AS dst FROM e
      )
    ),
    deg AS (
      SELECT src AS z, count(*) AS d FROM sym GROUP BY src
    ),
    zok AS (SELECT z FROM deg WHERE d <= 32),
    wedge AS (
      SELECT s1.dst AS a, s2.dst AS b
      FROM sym s1
      JOIN sym s2 ON s1.src = s2.src AND s1.dst < s2.dst
      JOIN zok k ON k.z = s1.src
    ),
    cand AS (
      SELECT a, b, count(*) AS cn
      FROM wedge
      WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.lo = a AND e.hi = b)
      GROUP BY a, b
    ),
    scored AS (
      SELECT c.a, c.b, c.cn,
             (c.cn * 1000000) // (da.d + db.d - c.cn) AS jac
      FROM cand c
      JOIN deg da ON da.z = c.a
      JOIN deg db ON db.z = c.b
    )
    SELECT CAST(a AS BIGINT) AS part_a, CAST(b AS BIGINT) AS part_b,
           CAST(cn AS BIGINT) AS common_neighbors,
           CAST(jac AS BIGINT) AS jaccard_x1e6
    FROM scored
    ORDER BY jaccard_x1e6 DESC, part_a, part_b
    LIMIT 50
    """,
)
def linkpred_jaccard_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction by NEIGHBORHOOD JACCARD (r8) — the normalized
    counterpart to linkpred_resource_allocation on the same part
    co-purchase graph: J(a,b) = |N(a) & N(b)| / |N(a) | N(b)|
    = cn / (deg(a) + deg(b) - cn), integer-exact as
    cn*1e6 // (deg(a)+deg(b)-cn) (every operand a nonnegative count,
    so floor == trunc on both engines).  Where RA weights each common
    neighbor by 1/deg(z) (rare-neighbor signal), Jaccard normalizes
    by the pair's combined neighborhood size (degree-bias control) —
    the two ranks disagree exactly where hub effects matter, which is
    why link-prediction suites report both.

    Candidate generation is IDENTICAL to RA (wedges through deg<=32
    intermediates, anti-join on existing edges — the documented
    hub-suppression contract); the full degrees in the denominator
    are NOT capped.

    100 TB shape: same as RA — persisted edge list, one z-keyed wedge
    shuffle, keyed anti join, hash aggregate on (a,b), two keyed
    degree joins on the already-reduced candidate set, top-50 as
    TakeOrderedAndProject.  Reference scope: flo has no graph surface
    — north-star extension (SURVEY §2 Part B)."""
    # distinct (order, part) projection, checkpointed: both sides of
    # the edge-building self-join read it — un-cut lineage re-scanned
    # lineitem per side (2 scans, r9 audit; now 1)
    lp = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .localCheckpoint()
    )
    a, b = lp.alias("a"), lp.alias("b")
    e = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("lo"), F.col("b.l_partkey").alias("hi")
        )
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 2)
        .select("lo", "hi")
        .persist()
    )
    sym = e.selectExpr("lo AS src", "hi AS dst").unionAll(
        e.selectExpr("hi AS src", "lo AS dst")
    )
    deg = sym.groupBy(F.col("src").alias("z")).agg(
        F.count("*").alias("d")
    )
    zok = deg.filter(F.col("d") <= 32).select("z")
    s1, s2 = sym.alias("s1"), sym.alias("s2")
    wedge = (
        s1.join(
            s2,
            (F.col("s1.src") == F.col("s2.src"))
            & (F.col("s1.dst") < F.col("s2.dst")),
        )
        .join(zok, F.col("s1.src") == F.col("z"))
        .select(F.col("s1.dst").alias("wa"), F.col("s2.dst").alias("wb"))
    )
    cand = (
        wedge.join(
            e,
            (F.col("wa") == F.col("lo")) & (F.col("wb") == F.col("hi")),
            "left_anti",
        )
        .groupBy("wa", "wb")
        .agg(F.count("*").alias("cn"))
    )
    da = deg.selectExpr("z AS za", "d AS dda")
    db = deg.selectExpr("z AS zb", "d AS ddb")
    scored = (
        cand.join(da, F.col("wa") == F.col("za"))
        .join(db, F.col("wb") == F.col("zb"))
        .selectExpr(
            "wa",
            "wb",
            "cn",
            "(cn * 1000000) div (dda + ddb - cn) AS jac",
        )
    )
    return (
        scored.select(
            F.col("wa").cast("long").alias("part_a"),
            F.col("wb").cast("long").alias("part_b"),
            F.col("cn").cast("long").alias("common_neighbors"),
            F.col("jac").cast("long").alias("jaccard_x1e6"),
        )
        .orderBy(F.col("jaccard_x1e6").desc(), "part_a", "part_b")
        .limit(50)
    )


@query(
    "kcore_peel_census",
    """
    WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT a.l_partkey AS lo, b.l_partkey AS hi
      FROM lp a JOIN lp b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    sym AS (
      SELECT lo AS src, hi AS dst FROM e
      UNION ALL
      SELECT hi AS src, lo AS dst FROM e
    ),
    d1 AS (SELECT src AS n, count(*) AS deg FROM sym GROUP BY src),
    a1 AS (SELECT n FROM d1 WHERE deg >= 3),
    d2 AS (
      SELECT s.src AS n, count(*) AS deg FROM sym s
      JOIN a1 x ON x.n = s.src JOIN a1 y ON y.n = s.dst
      GROUP BY s.src
    ),
    a2 AS (SELECT n FROM d2 WHERE deg >= 3),
    d3 AS (
      SELECT s.src AS n, count(*) AS deg FROM sym s
      JOIN a2 x ON x.n = s.src JOIN a2 y ON y.n = s.dst
      GROUP BY s.src
    )
    SELECT CAST(round AS INT) AS round,
           CAST(n_evaluated AS BIGINT) AS n_evaluated,
           CAST(n_alive AS BIGINT) AS n_alive,
           CAST(sum_deg_alive AS BIGINT) AS sum_deg_alive
    FROM (
      SELECT 1 AS round, (SELECT count(*) FROM d1) AS n_evaluated,
             (SELECT count(*) FROM d1 WHERE deg >= 3) AS n_alive,
             coalesce((SELECT sum(deg) FROM d1 WHERE deg >= 3), 0)
               AS sum_deg_alive
      UNION ALL
      SELECT 2, (SELECT count(*) FROM d2),
             (SELECT count(*) FROM d2 WHERE deg >= 3),
             coalesce((SELECT sum(deg) FROM d2 WHERE deg >= 3), 0)
      UNION ALL
      SELECT 3, (SELECT count(*) FROM d3),
             (SELECT count(*) FROM d3 WHERE deg >= 3),
             coalesce((SELECT sum(deg) FROM d3 WHERE deg >= 3), 0)
    ) ORDER BY round
    """,
)
def kcore_peel_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-round census of the 3-core peel (r8) — the SCALE-ROBUST
    companion to ``kcore_copurchase_peel``: that entry returns the
    surviving nodes, which is legitimately EMPTY at sf0.1 (the
    co-purchase graph sparsifies as the part space grows — observed in
    the r8 sf0.1 sweep), and an empty result is a weak check.  This
    entry emits one row PER PEEL ROUND — nodes evaluated, nodes
    surviving the k>=3 cut, and their degree mass — so the peel's
    convergence trajectory stays hash-checked at every scale even
    when the final core is empty (counts of 0 are real values, not
    missing rows; a census row per round is guaranteed by
    construction).

    100 TB shape: identical to the peel entry (persisted symmetric
    edges, two keyed semi-join-shaped joins + one degree count per
    round) plus three 1-row aggregates.  Reference scope: flo has no
    graph surface — north-star extension (SURVEY §2 Part B)."""
    # distinct (order, part) projection, checkpointed: both sides of
    # the edge-building self-join read it — un-cut lineage re-scanned
    # lineitem per side (2 scans, r9 audit; now 1)
    lp = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .localCheckpoint()
    )
    a, b = lp.alias("a"), lp.alias("b")
    e = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("lo"), F.col("b.l_partkey").alias("hi")
        )
        .agg(F.count("*").alias("sup"))
        .filter(F.col("sup") >= 2)
        .select("lo", "hi")
        # O(edges) frame materialized once (r9): the symmetrization
        # union otherwise runs the lineitem self-join twice
        .localCheckpoint()
    )
    sym = (
        e.select(F.col("lo").alias("src"), F.col("hi").alias("dst"))
        .unionAll(e.select(F.col("hi").alias("src"), F.col("lo").alias("dst")))
        .persist()
    )
    deg = sym.groupBy(F.col("src").alias("n")).agg(F.count("*").alias("deg"))
    rows = []
    for rnd in (1, 2, 3):
        census = deg.agg(
            F.lit(rnd).cast("int").alias("round"),
            F.count("*").cast("long").alias("n_evaluated"),
            F.coalesce(
                F.sum((F.col("deg") >= 3).cast("long")), F.lit(0)
            )
            .cast("long")
            .alias("n_alive"),
            F.coalesce(
                F.sum(F.when(F.col("deg") >= 3, F.col("deg"))), F.lit(0)
            )
            .cast("long")
            .alias("sum_deg_alive"),
        )
        rows.append(census)
        if rnd < 3:
            alive = deg.filter(F.col("deg") >= 3).select("n")
            deg = (
                sym.join(alive.withColumnRenamed("n", "src"), "src")
                .join(alive.withColumnRenamed("n", "dst"), "dst")
                .groupBy(F.col("src").alias("n"))
                .agg(F.count("*").alias("deg"))
            )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out.orderBy("round")


def _ppr_iter_sql(prev: str, cur: str) -> str:
    """One unrolled personalized-PageRank step: seed-only teleport."""
    return (
        f"{cur} AS (SELECT a.dst AS node,"
        f" CASE WHEN a.dst IN (SELECT node FROM seeds)"
        f" THEN 150000 ELSE 0 END"
        f" + CAST((85 * sum(r.pr // a.outdeg)) // 100 AS BIGINT) AS pr"
        f" FROM adj a JOIN {prev} r ON r.node = a.src"
        f" WHERE r.pr > 0 GROUP BY a.dst)"
    )


@query(
    "personalized_pagerank_seeds",
    f"""
    WITH e0 AS (
      SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS src,
                      's' || CAST(l.l_suppkey AS VARCHAR) AS dst
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    edges AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
    deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
    adj AS (SELECT e.src, e.dst, d.outdeg FROM edges e JOIN deg d USING (src)),
    seeds AS (
      SELECT DISTINCT 'c' || CAST(c_custkey AS VARCHAR) AS node
      FROM customer WHERE c_mktsegment = 'BUILDING'
    ),
    r0 AS (
      SELECT src AS node,
             CAST(CASE WHEN src IN (SELECT node FROM seeds)
                       THEN 1000000 ELSE 0 END AS BIGINT) AS pr
      FROM deg
    ),
    {_ppr_iter_sql('r0', 'r1')},
    {_ppr_iter_sql('r1', 'r2')},
    {_ppr_iter_sql('r2', 'r3')}
    SELECT node, pr AS rank_scaled FROM r3
    WHERE node LIKE 's%'
    ORDER BY rank_scaled DESC, node LIMIT 20
    """,
)
def personalized_pagerank_seeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSONALIZED PageRank — random walk with restart to a SEED SET
    (the graph-based recommendation/retrieval primitive: "suppliers
    most relevant to BUILDING-segment customers", not globally
    central ones): teleport mass lands only on the seed customers,
    so rank diffuses outward from them through the trade graph; the
    top-20 SUPPLIERS by 3-round fixed-point score are the
    segment-specific recommendations global PageRank cannot express
    (its top nodes are the same for every query).

    Same integer fixed-point discipline as pagerank_customer_supplier
    (1e-6 units, pr div outdeg contributions, 0.15/0.85 as integer
    ops — bit-identical rounds on both engines); the r.pr > 0 guard
    prunes message traffic to the REACHED frontier, which is the real
    PPR optimization at scale (early rounds touch only the seeds'
    neighborhoods, not the whole graph).

    100 TB shape: adjacency built once and persisted; per round one
    frontier-pruned equi-join + one dst-keyed shuffle; seeds are a
    broadcastable dimension subset; top-20 is
    TakeOrderedAndProject.  North-star extension (SURVEY §2 graph
    rows; the query-conditioned sibling of the global entry)."""
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    # (c, s) projection checkpointed (r9): the undirected union
    # references e0 twice (forward + reversed), which otherwise ran
    # the orders-lineitem distinct join once per branch — the same
    # fix the global pagerank entry already carries
    e0 = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias(
                "src"
            ),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias(
                "dst"
            ),
        )
        .distinct()
        .localCheckpoint()
    )
    edges = e0.union(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # degree table checkpointed (r9): the rank initialization
    # derives its node set from deg, which otherwise re-ran the
    # whole edge-build scan chain alongside the persisted adjacency
    deg = (
        edges.groupBy("src")
        .agg(F.count("*").alias("outdeg"))
        .localCheckpoint()
    )
    adj = edges.join(deg, "src").persist()
    # seed set checkpointed (r9): the rank init and every round's
    # teleport flag re-scanned the customer dim otherwise
    seeds = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(
            F.concat(F.lit("c"), F.col("c_custkey").cast("string")).alias(
                "node"
            )
        )
        .distinct()
        .localCheckpoint()
    )
    ranks = (
        deg.select(F.col("src").alias("node"))
        .join(seeds.withColumn("is_seed", F.lit(1)), "node", "left")
        .select(
            "node",
            F.when(F.col("is_seed") == 1, 1000000)
            .otherwise(0)
            .cast("long")
            .alias("pr"),
        )
    )
    seed_flag = seeds.withColumn("is_seed", F.lit(1))
    for _ in range(3):
        msgs = (
            adj.join(ranks.filter(F.col("pr") > 0), adj["src"] == ranks["node"])
            .select(
                F.col("dst").alias("mnode"),
                F.expr("pr div outdeg").alias("contrib"),
            )
        )
        ranks = (
            msgs.groupBy("mnode")
            .agg(F.sum("contrib").alias("s"))
            .select(F.col("mnode").alias("node"), "s")
            .join(F.broadcast(seed_flag), "node", "left")
            .select(
                "node",
                (
                    F.when(F.col("is_seed") == 1, 150000).otherwise(0)
                    + F.expr("(85 * s) div 100")
                )
                .cast("long")
                .alias("pr"),
            )
        )
    return (
        ranks.filter(F.col("node").startswith("s"))
        .select("node", F.col("pr").alias("rank_scaled"))
        .orderBy(F.col("rank_scaled").desc(), "node")
        .limit(20)
    )
