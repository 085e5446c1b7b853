"""Graph analytics over the part co-purchase graph (parts linked when they
appear in the same order). Complements the iterative operators (PageRank,
fixpoint connected components in operators/) with the one-shot join-based
algorithm family: triangle counting.

Scale posture — degree-ordered triangle enumeration (the MapReduce-era
standard, cf. Suri & Vassilvitskii "Counting Triangles and the Curse of the
Last Reducer", WWW'11): orient every undirected edge from its lower-(degree,
id) endpoint to the higher one. The orientation is acyclic and caps
out-degree at O(sqrt(m)) for any graph, so the wedge join (the quadratic
step) never sees a hub node's full neighborhood on one side — without it, a
single celebrity node with degree d contributes d² wedges to one task. Plan:
edge build is one shuffle on order key + one distinct; wedge join + closing
join are two more equi-shuffles. The oracle counts the same triangles with
the naive a<b<c formulation — identical totals, different physical strategy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streamds_spark.catalog import load_table
from streamds_spark.registry import query


def copurchase_edges(lineitem: DataFrame) -> DataFrame:
    """Distinct undirected edges (u < v) between parts sharing an order.
    Per-order fan-out is bounded by order size, so the self-join is linear in
    lineitem with a small constant."""
    items = lineitem.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    left = items.toDF("o", "u")
    right = items.toDF("o", "v")
    return (
        left.join(right, "o")
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
    )


def oriented_by_degree(edges: DataFrame) -> DataFrame:
    """Orient u—v from lower (degree, id) to higher: acyclic, out-degree
    O(sqrt(m)). Ties (equal degree) break on node id; edges already have
    u < v so the tie branch keeps u→v."""
    deg = (
        edges.select(F.col("u").alias("n"))
        .unionAll(edges.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
    )
    e = (
        edges.join(deg.toDF("n", "du"), F.col("u") == F.col("n"))
        .drop("n")
        .join(deg.toDF("n", "dv"), F.col("v") == F.col("n"))
        .drop("n")
    )
    fwd = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    return e.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("t"),
    )


def wedge_width(n_edges: int, session_default: int) -> int:
    """Partition width for the oriented wedge join (shared by the triangle
    census and ktruss's per-round support): the join's INPUT exchanges are
    tiny so AQE — blind to the out-degree² output explosion — coalesces the
    stage to a handful of tasks (measured 6 at sf0.1: 34 s of CPU nearly
    serialized). Explicit repartition() calls are never coalesced; width
    reuses ktruss's measured 40k-edges/task calibration (sizing.py)."""
    from streamds_spark.operators.sizing import (
        KTRUSS_EDGES_PER_TASK,
        KTRUSS_MAX_PARTITIONS,
    )

    return max(
        session_default,
        min(KTRUSS_MAX_PARTITIONS, -(-n_edges // KTRUSS_EDGES_PER_TASK)),
    )


def triangle_count(edges: DataFrame, n_edges: "int | None" = None) -> DataFrame:
    """1-row DataFrame (n_triangles) — wedge join on the oriented middle node,
    closed against the oriented edge set; each triangle counted exactly once.

    The oriented edge list appears three times below (two wedge sides + the
    closing probe); a LAZY localCheckpoint shares ONE materialization across
    all three instead of relying on runtime ReusedExchange to dedupe three
    copies of the orientation subtree. (localCheckpoint trades lineage for
    plan size — on a real cluster with executor churn use a reliable
    checkpoint dir; the shape is identical.)

    Both wedge stages are explicitly repartitioned to wedge_width() (the
    count materializes the orientation checkpoint the first action needed
    anyway), and the closing probe is a shuffled-hash join so the wedge
    stream is never sorted — only the oriented edge side builds a table."""
    o = oriented_by_degree(edges).localCheckpoint(eager=False)
    spark = edges.sparkSession
    n = int(n_edges) if n_edges is not None else o.count()
    width = wedge_width(n, int(spark.conf.get("spark.sql.shuffle.partitions")))
    wedges = (
        o.toDF("a", "b")
        .repartition(width, "b")
        .join(o.toDF("b", "c").repartition(width, "b"), "b")
        .select("a", "c")
    )
    closed = wedges.repartition(width, "a", "c").join(
        o.toDF("a", "c").hint("shuffle_hash"), ["a", "c"]
    )
    return closed.agg(F.count("*").cast("bigint").alias("n_triangles"))


@query(
    "triangle_count_copurchase",
    oracle="""
    WITH items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    edges AS (
        SELECT DISTINCT a.p AS u, b.p AS v
        FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
    ),
    nodes AS (
        SELECT DISTINCT n FROM (SELECT u AS n FROM edges UNION ALL SELECT v FROM edges)
    ),
    tri AS (
        SELECT count(*) AS c
        FROM edges e1
        JOIN edges e2 ON e2.u = e1.v
        JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM nodes) AS n_nodes,
           (SELECT CAST(count(*) AS BIGINT) FROM edges) AS n_edges,
           (SELECT CAST(c AS BIGINT) FROM tri) AS n_triangles
    """,
)
def triangle_count_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Node/edge/triangle census of the part co-purchase graph via the
    degree-ordered enumeration above (oracle uses the naive formulation —
    same count, proving the orientation loses nothing).

    The edge list feeds three crossJoined census branches; the lazy
    localCheckpoint shares one edge materialization across them (pre-AQE
    census dropped from 188 exchanges to 20 — the plan is small for real,
    not only after runtime exchange reuse)."""
    li = load_table(spark, sf_dir, "lineitem")
    edges = copurchase_edges(li).localCheckpoint(eager=False)
    nodes = (
        edges.select(F.col("u").alias("n"))
        .unionAll(edges.select(F.col("v").alias("n")))
        .distinct()
    )
    return (
        nodes.agg(F.count("*").cast("bigint").alias("n_nodes"))
        .crossJoin(edges.agg(F.count("*").cast("bigint").alias("n_edges")))
        .crossJoin(triangle_count(edges))
    )


KCORE_K = 80  # chosen so the peel actually iterates at test SFs: 5 rounds at
# sf0.01/sf0.1, and an empty core at sf0.001 (every node peeled) — a trivial
# fixpoint (k below the graph's min degree) would prove nothing about the loop


@query(
    "kcore_copurchase",
    oracle=f"""
    WITH RECURSIVE items AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ),
    edges AS (
        SELECT DISTINCT a.p AS u, b.p AS v
        FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
    ),
    adj AS (SELECT u AS a, v AS b FROM edges UNION ALL SELECT v, u FROM edges),
    -- Matula/Beck peeling as a recursive fixpoint: alive(iter) holds the
    -- surviving node set after `iter` peel rounds. Each round recomputes
    -- in-subgraph degrees and keeps nodes with deg >= k; the EXISTS guard
    -- stops the recursion at the first round that peels nothing (otherwise
    -- UNION ALL would re-emit the fixpoint forever).
    alive(iter, node) AS (
        SELECT 0, n FROM (SELECT DISTINCT a AS n FROM adj)
      UNION ALL
        SELECT * FROM (
          WITH cur AS (SELECT iter, node FROM alive),
          degs AS (
            SELECT c.iter, c.node, count(c2.node) AS deg
            FROM cur c
            LEFT JOIN adj ON adj.a = c.node
            LEFT JOIN cur c2 ON c2.node = adj.b
            GROUP BY c.iter, c.node
          )
          SELECT d.iter + 1, d.node FROM degs d
          WHERE d.deg >= {KCORE_K}
            AND EXISTS (SELECT 1 FROM degs x WHERE x.deg < {KCORE_K})
        )
    ),
    final AS (
        SELECT node FROM alive WHERE iter = (SELECT max(iter) FROM alive)
    ),
    core AS (
        SELECT f.node,
               (SELECT count(*) FROM adj JOIN final f2 ON f2.node = adj.b
                 WHERE adj.a = f.node) AS degree
        FROM final f
    )
    SELECT CAST({KCORE_K} AS INTEGER) AS k,
           CAST(count(*) AS BIGINT) AS n_core_nodes,
           CAST(COALESCE(sum(degree), 0) / 2 AS BIGINT) AS n_core_edges,
           CAST(min(degree) AS BIGINT) AS min_core_degree
    FROM core WHERE degree >= {KCORE_K}
    """,
)
def kcore_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Census of the {K}-core of the part co-purchase graph (nodes surviving
    iterative degree-<{K} peeling): the dense backbone that basket analytics
    should run on. See operators/kcore.py for the peel loop's scale posture.

    The DuckDB twin runs the SAME peeling as a recursive CTE (working table =
    the full alive set per round, nested-CTE degrees, EXISTS stop guard), so
    the distributed fixpoint loop is hash-exact oracle-checked — the last
    `alive` generation is the core, and the final filter also covers the
    everything-peeled case (last generation all below k -> empty census)."""
    from streamds_spark.operators.kcore import kcore_summary

    li = load_table(spark, sf_dir, "lineitem")
    return kcore_summary(copurchase_edges(li), KCORE_K)


@query(
    "core_decomposition_copurchase",
    oracle="""
    WITH RECURSIVE items AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ),
    edges AS (
        SELECT DISTINCT a.p AS u, b.p AS v
        FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
    ),
    adj AS (SELECT u AS a, v AS b FROM edges UNION ALL SELECT v, u FROM edges),
    -- H-index fixpoint (Lu et al. 2016): estimates start at degree and are
    -- replaced each round by the H-index of the neighbors' estimates; the
    -- EXISTS guard stops at the first round where nothing moves, and the
    -- fixpoint is exactly the coreness of every node.
    est(iter, node, e) AS (
        SELECT 0, a, count(*) FROM adj GROUP BY a
      UNION ALL
        SELECT * FROM (
          WITH cur AS (SELECT iter, node, e FROM est),
          nbr AS (
            SELECT adj.a AS node, c.e AS ne,
                   row_number() OVER (PARTITION BY adj.a ORDER BY c.e DESC)
                       AS rn
            FROM adj JOIN cur c ON c.node = adj.b
          ),
          upd AS (SELECT node, max(least(rn, ne)) AS h FROM nbr GROUP BY node)
          SELECT c.iter + 1, c.node, u.h
          FROM cur c JOIN upd u ON u.node = c.node
          WHERE EXISTS (SELECT 1 FROM upd u2 JOIN cur c2 ON c2.node = u2.node
                        WHERE u2.h <> c2.e)
        )
    ),
    final AS (
        SELECT node, e FROM est WHERE iter = (SELECT max(iter) FROM est)
    )
    SELECT CAST(e AS BIGINT) AS core, CAST(count(*) AS BIGINT) AS n_nodes
    FROM final GROUP BY e ORDER BY core
    """,
)
def core_decomposition_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL k-core decomposition of the part co-purchase graph: the census
    (core, n_nodes) of per-node core numbers — the degeneracy profile that
    graph eval actually wants (kcore_copurchase answers one fixed k; this
    answers every k in one run).

    Computed by the H-index fixpoint (operators/kcore.py core_numbers):
    integer estimates, synchronous rounds, exact fixpoint — and the DuckDB
    twin replays the SAME iteration as a recursive CTE (full state carried
    per round, nested-CTE update, EXISTS stop guard), so the whole
    decomposition is hash-exact oracle-checked, the same playbook as the
    kcore_copurchase peel and the fixed-point PageRank.

    Plan per round: adjacency × estimate equi-join, a node-partitioned
    row_number (bounded by degree, never global), one groupBy max — nothing
    broadcasts the graph, lineage truncated per round; rounds = the graph's
    convergence depth, not its size."""
    from streamds_spark.operators.kcore import core_numbers

    li = load_table(spark, sf_dir, "lineitem")
    return (
        core_numbers(copurchase_edges(li))
        .groupBy("core")
        .agg(F.count("*").cast("bigint").alias("n_nodes"))
        .orderBy("core")
    )


@query(
    "copurchase_hops_from_hub",
    oracle="""
    WITH RECURSIVE items AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ),
    edges AS (
        SELECT DISTINCT a.p AS u, b.p AS v
        FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
    ),
    adj AS (SELECT u AS a, v AS b FROM edges UNION ALL SELECT v, u FROM edges),
    deg AS (SELECT a AS node, count(*) AS d FROM adj GROUP BY a),
    hub AS (SELECT node FROM deg ORDER BY d DESC, node LIMIT 1),
    -- frontier-expansion BFS with full state carried per generation (the
    -- kcore/H-index recursive template): rows of generation i are every
    -- node discovered so far with its distance; the frontier is the subset
    -- with dist = iter, and the EXISTS guard stops at the first empty wave.
    wave(iter, node, dist) AS (
        SELECT 0, node, CAST(0 AS BIGINT) FROM hub
      UNION ALL
        SELECT * FROM (
          WITH cur AS (SELECT iter, node, dist FROM wave),
          nxt AS (
            SELECT DISTINCT adj.b AS node
            FROM adj JOIN cur ON cur.node = adj.a
            WHERE cur.dist = cur.iter
              AND adj.b NOT IN (SELECT node FROM cur)
          )
          SELECT * FROM (
            SELECT c.iter + 1 AS iter, c.node, c.dist FROM cur c
            UNION ALL
            SELECT g.i + 1, n.node, CAST(g.i + 1 AS BIGINT)
            FROM nxt n CROSS JOIN (SELECT DISTINCT iter AS i FROM cur) g
          ) WHERE EXISTS (SELECT 1 FROM nxt)
        )
    ),
    final AS (
        SELECT node, dist FROM wave
        WHERE iter = (SELECT max(iter) FROM wave)
    )
    SELECT dist, CAST(count(*) AS BIGINT) AS n_nodes
    FROM final GROUP BY dist ORDER BY dist
    """,
)
def copurchase_hops_from_hub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop-distance profile of the co-purchase graph from its busiest part
    (max co-purchase degree, smallest id on ties): how many parts sit 1, 2,
    3… co-purchase hops from the hub — the reachability/diameter census
    basket recommendations and graph-sampling budgets are sized with.

    Computed by frontier-expansion BFS (operators/bfs.py): per round one
    adjacency equi-join probed by the frontier + an anti-join against the
    visited set, rounds bounded by the hub's eccentricity, never the graph
    size; integer distances make the whole traversal hash-exact against the
    DuckDB recursive-CTE replay of the same wave."""
    from streamds_spark.operators.bfs import hop_distances

    li = load_table(spark, sf_dir, "lineitem")
    edges = copurchase_edges(li).localCheckpoint(eager=False)
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    hub = deg.orderBy(F.col("d").desc(), F.col("node")).limit(1).select("node")
    return (
        hop_distances(edges, hub)
        .groupBy("dist")
        .agg(F.count("*").cast("bigint").alias("n_nodes"))
        .orderBy("dist")
    )


@query(
    "copurchase_degree_assortativity",
    oracle="""
    WITH items AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ),
    edges AS (
        SELECT DISTINCT a.p AS u, b.p AS v
        FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
    ),
    adj AS (SELECT u AS a, v AS b FROM edges UNION ALL SELECT v, u FROM edges),
    deg AS (SELECT a AS node, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY a),
    ends AS (
        SELECT da.d AS x, db.d AS y
        FROM adj JOIN deg da ON da.node = adj.a JOIN deg db ON db.node = adj.b
    ),
    s AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(x * x) AS BIGINT) AS sxx
        FROM ends
    )
    SELECT n AS n_half_edges, sx AS sum_deg, sxy AS sum_prod, sxx AS sum_sq,
           round(
               (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
               / nullif(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0.0),
               4) + 0.0 AS assortativity
    FROM s
    """,
)
def copurchase_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Newman 2002) of the co-purchase graph: the
    Pearson correlation of endpoint degrees over every directed half-edge —
    negative = hubs attach to leaves (the dissortative shape most
    co-occurrence graphs have), positive = hubs cluster.

    Exactness playbook: all FOUR moments are exact BIGINT sums (degrees are
    small integers; sum(x*y) over 2m half-edges stays far inside int64);
    only the final coefficient touches doubles, as ONE fixed IEEE
    expression over those exact integers — identical operation tree in
    both engines, so the rounded output matches bit-for-bit (the
    weekly_trend slope discipline). The x=y symmetry of undirected
    half-edges is exploited: sy=sx and syy=sxx, so the classic formula
    collapses to the two moments computed.

    Plan: one degree aggregate + two same-key joins back onto the
    adjacency + a 1-row moment aggregate — everything after the joins is
    4 integers; no windows, nothing collected."""
    li = load_table(spark, sf_dir, "lineitem")
    edges = copurchase_edges(li).localCheckpoint(eager=False)
    adj = edges.select(F.col("u").alias("a"), F.col("v").alias("b")).unionAll(
        edges.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    deg = adj.groupBy("a").agg(F.count("*").cast("bigint").alias("d"))
    ends = (
        adj.join(deg.select(F.col("a").alias("na"), F.col("d").alias("x")),
                 F.col("a") == F.col("na"))
        .join(deg.select(F.col("a").alias("nb"), F.col("d").alias("y")),
              F.col("b") == F.col("nb"))
        .select("x", "y")
    )
    s = ends.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    return s.selectExpr(
        "n AS n_half_edges",
        "sx AS sum_deg",
        "sxy AS sum_prod",
        "sxx AS sum_sq",
        "round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
        " / nullif(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0.0), 4) + 0.0"
        " AS assortativity",
    )


@query(
    "copurchase_clustering_coefficient",
    oracle="""
    WITH items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    edges AS (
        SELECT DISTINCT a.p AS u, b.p AS v
        FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
    ),
    adj AS (SELECT u AS a, v AS b FROM edges UNION ALL SELECT v, u FROM edges),
    deg AS (SELECT a, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY a),
    tri AS (
        SELECT CAST(count(*) AS BIGINT) AS t
        FROM edges e1
        JOIN edges e2 ON e2.u = e1.v
        JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    wed AS (
        SELECT CAST(sum(d * (d - 1) / 2) AS BIGINT) AS w FROM deg
    )
    SELECT (SELECT t FROM tri) AS n_triangles,
           (SELECT w FROM wed) AS n_wedges,
           round(3.0 * CAST((SELECT t FROM tri) AS DOUBLE)
                 / nullif(CAST((SELECT w FROM wed) AS DOUBLE), 0.0), 4) + 0.0
               AS clustering_coefficient
    """,
)
def copurchase_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global clustering coefficient (transitivity) of the co-purchase
    graph: 3 x triangles / wedges — what fraction of open two-paths close.
    Both counts are exact BIGINTs (the degree-ordered triangle enumeration
    + sum d(d-1)/2, which is integer-exact since d(d-1) is always even);
    the ratio is ONE fixed IEEE expression over them, identical in both
    engines, so the rounded coefficient is hash-exact — the
    weekly_trend/assortativity discipline on the graph census family.

    Plan: the shared oriented-triangle machinery (lazy-checkpointed edge
    materialization, wedge join on the oriented middle node) + one degree
    aggregate; everything after is two integers."""
    li = load_table(spark, sf_dir, "lineitem")
    edges = copurchase_edges(li).localCheckpoint(eager=False)
    tri = triangle_count(edges)
    deg = (
        edges.select(F.col("u").alias("n"))
        .unionAll(edges.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count("*").cast("bigint").alias("d"))
    )
    wed = deg.agg(
        F.sum((F.col("d") * (F.col("d") - 1) / 2).cast("bigint"))
        .cast("bigint")
        .alias("n_wedges")
    )
    return (
        tri.crossJoin(wed)
        .selectExpr(
            "n_triangles",
            "n_wedges",
            "round(3.0 * CAST(n_triangles AS DOUBLE)"
            " / nullif(CAST(n_wedges AS DOUBLE), 0.0), 4) + 0.0"
            " AS clustering_coefficient",
        )
    )


@query(
    "copurchase_cheapest_from_hub",
    oracle="""
    WITH RECURSIVE items AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ),
    edges AS (
        SELECT a.p AS u, b.p AS v, count(*) AS c
        FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
        GROUP BY a.p, b.p
    ),
    wedges AS (
        SELECT u, v,
               CASE WHEN c >= 3 THEN 1 WHEN c = 2 THEN 2 ELSE 3 END AS w
        FROM edges
    ),
    adj AS (
        SELECT u AS a, v AS b, w FROM wedges
        UNION ALL SELECT v, u, w FROM wedges
    ),
    deg AS (SELECT a AS node, count(*) AS d FROM adj GROUP BY a),
    hub AS (SELECT node FROM deg ORDER BY d DESC, node LIMIT 1),
    -- dense min-plus relaxation carried as full state per generation (the
    -- BFS/kcore recursive template): every known node's best distance so
    -- far; one more generation relaxes every edge once; the EXISTS guard
    -- stops at the first generation that improves nothing. The frontier
    -- variant the engine runs reaches the same fixpoint.
    wave(iter, node, dist) AS (
        SELECT 0, node, CAST(0 AS BIGINT) FROM hub
      UNION ALL
        SELECT * FROM (
          WITH cur AS (SELECT iter, node, dist FROM wave),
          cand AS (
            SELECT adj.b AS node, min(cur.dist + adj.w) AS nd
            FROM adj JOIN cur ON cur.node = adj.a
            GROUP BY adj.b
          ),
          merged AS (
            SELECT coalesce(c.node, d.node) AS node,
                   CASE WHEN c.dist IS NULL THEN d.nd
                        WHEN d.nd IS NULL THEN c.dist
                        ELSE least(c.dist, d.nd) END AS dist
            FROM cur c FULL OUTER JOIN cand d ON c.node = d.node
          ),
          improved AS (
            SELECT 1 FROM merged m LEFT JOIN cur c ON m.node = c.node
            WHERE c.node IS NULL OR m.dist < c.dist
          )
          SELECT g.i + 1 AS iter, m.node, CAST(m.dist AS BIGINT) AS dist
          FROM merged m
          CROSS JOIN (SELECT DISTINCT iter AS i FROM cur) g
          WHERE EXISTS (SELECT 1 FROM improved)
        )
    ),
    final AS (
        SELECT node, dist FROM wave
        WHERE iter = (SELECT max(iter) FROM wave)
    )
    SELECT dist AS cost, CAST(count(*) AS BIGINT) AS n_parts
    FROM final GROUP BY dist ORDER BY dist
    """,
)
def copurchase_cheapest_from_hub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cheapest-path cost profile of the WEIGHTED co-purchase graph from its
    busiest part: edge cost is the inverse-frequency tier of the pair
    (co-bought in >=3 orders -> 1, exactly 2 -> 2, once -> 3 — frequent
    pairs are 'near'), and the census counts parts per minimum path cost —
    the affinity-distance view basket navigation and related-item ranking
    are built on, where a chain of strong pairs beats one weak direct link.

    Computed by frontier Bellman-Ford (operators/bfs.py weighted_distances):
    per round the adjacency is probed by the IMPROVED frontier only, a
    groupBy-min folds candidate relaxations, rounds are bounded by the
    deepest cheapest path; positive integer costs make the fixpoint
    hash-exact against the DuckDB dense-relaxation recursive CTE (same
    fixpoint, frontier vs dense schedule)."""
    from streamds_spark.operators.bfs import weighted_distances

    li = load_table(spark, sf_dir, "lineitem")
    items = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    pairs = (
        items.toDF("o", "u")
        .join(items.toDF("o", "v"), "o")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count("*").alias("c"))
    )
    wedges = pairs.select(
        "u",
        "v",
        F.when(F.col("c") >= 3, 1)
        .when(F.col("c") == 2, 2)
        .otherwise(3)
        .alias("w"),
    ).localCheckpoint(eager=False)
    deg = (
        wedges.select(F.col("u").alias("node"))
        .unionAll(wedges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    hub = deg.orderBy(F.col("d").desc(), F.col("node")).limit(1).select("node")
    return (
        weighted_distances(wedges, hub)
        .groupBy("dist")
        .agg(F.count("*").cast("bigint").alias("n_parts"))
        .select(F.col("dist").cast("bigint").alias("cost"), "n_parts")
        .orderBy("cost")
    )


@query(
    "copurchase_neighborhood_function",
    oracle="""
    WITH RECURSIVE items AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ),
    edges AS (
        SELECT DISTINCT a.p AS u, b.p AS v
        FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
    ),
    adj AS (SELECT u AS a, v AS b FROM edges UNION ALL SELECT v, u FROM edges),
    -- HyperANF register propagation (Boldi-Vigna 2011) at m = 64 with the
    -- repo's deterministic md5 register scheme (operators/hll.py): every
    -- node's counter max-folds with its neighbors' each round; the rho-mass
    -- guard stops at the fixpoint (max-fold is monotone, so an unchanged
    -- sum means NO register moved).
    seed AS (
        SELECT node,
               (instr('0123456789abcdef', substr(h, 1, 1)) - 1) * 4
               + (instr('0123456789abcdef', substr(h, 2, 1)) - 1) // 4
                   AS bucket,
               regexp_replace(substr(h, 3, 15), '^0+', '') AS t
        FROM (SELECT DISTINCT a AS node, md5(CAST(a AS VARCHAR)) AS h FROM adj)
    ),
    anf(iter, node, bucket, rho) AS (
        SELECT 0, node, bucket,
               CASE WHEN length(t) = 0 THEN 61
                    ELSE (15 - length(t)) * 4 + 4
                         - CAST(floor(log2(instr('0123456789abcdef',
                                                 substr(t, 1, 1)) - 1)) AS INT)
               END
        FROM seed
      UNION ALL
        SELECT * FROM (
          WITH cur AS MATERIALIZED (SELECT iter, node, bucket, rho FROM anf),
          nxt AS MATERIALIZED (
            SELECT node, bucket, max(rho) AS rho FROM (
              SELECT adj.a AS node, c.bucket, c.rho
              FROM adj JOIN cur c ON c.node = adj.b
              UNION ALL
              SELECT node, bucket, rho FROM cur
            ) GROUP BY node, bucket
          )
          SELECT (SELECT max(iter) FROM cur) + 1, n.node, n.bucket, n.rho
          FROM nxt n
          WHERE (SELECT sum(rho) FROM nxt) <> (SELECT sum(rho) FROM cur)
        )
    ),
    census AS (
        SELECT iter AS t,
               CAST(count(*) AS BIGINT) AS reg_mass,
               CAST(sum(rho) AS BIGINT) AS rho_mass
        FROM anf GROUP BY iter
    )
    SELECT t, reg_mass, rho_mass,
           CAST((1000 * reg_mass) // (SELECT reg_mass FROM census
                                      WHERE t = (SELECT max(t) FROM census))
                AS BIGINT) AS permille_of_final
    FROM census ORDER BY t
    """,
)
def copurchase_neighborhood_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighborhood-function census of the co-purchase graph via HyperANF
    (operators/anf.py): every node keeps an m=64 HLL counter of the nodes
    within distance <= t, advanced by one adjacency max-fold per round; the
    census row at round t is the total register mass — monotone, saturating
    when every node sees its whole component. Read the q=0.9 effective
    diameter as the first t with permille_of_final >= 900.

    All census columns are exact integers over the deterministic md5
    register scheme, so the DuckDB recursive CTE replays the identical
    iteration and the row set is hash-exact — float estimates never cross
    the engine boundary. At 100 TB the state is nodes x m registers (the
    exact alternative is all-pairs BFS at nodes x nodes), each round is one
    adjacency equi-join whose fan-out collapses map-side into the
    (node, bucket) partial max, and rounds are bounded by the diameter —
    the mergeable-sketch discipline driving a graph sweep (reference has no
    graph surface; companion to hop/weighted distances in operators/bfs.py).
    """
    from streamds_spark.operators.anf import anf_census

    li = load_table(spark, sf_dir, "lineitem")
    edges = copurchase_edges(li)
    return anf_census(edges)


@query(
    "copurchase_harmonic_centrality",
    oracle="""
    WITH RECURSIVE items AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ),
    edges AS (
        SELECT DISTINCT a.p AS u, b.p AS v
        FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
    ),
    adj AS (SELECT u AS a, v AS b FROM edges UNION ALL SELECT v, u FROM edges),
    -- the IDENTICAL HyperANF register propagation as the neighborhood-
    -- function oracle above (same md5 scheme, same rho-mass fixpoint guard)
    seed AS (
        SELECT node,
               (instr('0123456789abcdef', substr(h, 1, 1)) - 1) * 4
               + (instr('0123456789abcdef', substr(h, 2, 1)) - 1) // 4
                   AS bucket,
               regexp_replace(substr(h, 3, 15), '^0+', '') AS t
        FROM (SELECT DISTINCT a AS node, md5(CAST(a AS VARCHAR)) AS h FROM adj)
    ),
    anf(iter, node, bucket, rho) AS (
        SELECT 0, node, bucket,
               CASE WHEN length(t) = 0 THEN 61
                    ELSE (15 - length(t)) * 4 + 4
                         - CAST(floor(log2(instr('0123456789abcdef',
                                                 substr(t, 1, 1)) - 1)) AS INT)
               END
        FROM seed
      UNION ALL
        SELECT * FROM (
          WITH cur AS MATERIALIZED (SELECT iter, node, bucket, rho FROM anf),
          nxt AS MATERIALIZED (
            SELECT node, bucket, max(rho) AS rho FROM (
              SELECT adj.a AS node, c.bucket, c.rho
              FROM adj JOIN cur c ON c.node = adj.b
              UNION ALL
              SELECT node, bucket, rho FROM cur
            ) GROUP BY node, bucket
          )
          SELECT (SELECT max(iter) FROM cur) + 1, n.node, n.bucket, n.rho
          FROM nxt n
          WHERE (SELECT sum(rho) FROM nxt) <> (SELECT sum(rho) FROM cur)
        )
    ),
    -- HyperBall harmonic fold: ball growth at distance t = per-node rho-
    -- mass delta, weighted floor(SCALE / t) in exact BIGINT arithmetic
    node_mass AS MATERIALIZED (
        SELECT iter, node, CAST(sum(rho) AS BIGINT) AS mass
        FROM anf GROUP BY iter, node
    ),
    deltas AS (
        SELECT c.node, (c.mass - p.mass) * (232792560 // c.iter) AS dh
        FROM node_mass c
        JOIN node_mass p ON p.node = c.node AND p.iter = c.iter - 1
    ),
    h AS (
        SELECT s.node, CAST(COALESCE(sum(d.dh), 0) AS BIGINT) AS h_scaled
        FROM (SELECT node FROM node_mass WHERE iter = 0) s
        LEFT JOIN deltas d ON d.node = s.node
        GROUP BY s.node
    )
    SELECT node, h_scaled FROM h
    ORDER BY h_scaled DESC, node LIMIT 20
    """,
)
def copurchase_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 co-purchase parts by HyperBall harmonic centrality
    (operators/anf.harmonic_centrality_topk): the geometric "how close is
    this node to everything" census folded from the SAME per-round counters
    the neighborhood function sweeps — sum over rounds of the per-node
    register-mass growth weighted 1/t, in exact BIGINT arithmetic
    (h_scaled = sum_t delta_t * floor(232792560 / t)).

    The HLL-twin exactness discipline: the DuckDB recursive CTE replays the
    identical md5-register iteration and fold, so the top-k is hash-exact
    at every SF, while the value is approximate-by-construction as a true
    harmonic centrality (register mass stands in for ball size). At 100 TB
    the cost profile IS anf_census: nodes x m state, per-round adjacency
    join collapsing map-side, plus two node-sized folds — the stripes
    memory dial self-sizes from executor memory.
    """
    from streamds_spark.operators.anf import harmonic_centrality_topk

    li = load_table(spark, sf_dir, "lineitem")
    edges = copurchase_edges(li)
    return harmonic_centrality_topk(edges, k=20)


@query(
    "copurchase_stress_centrality",
    oracle="""
    WITH RECURSIVE items AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ),
    edges AS (
        SELECT DISTINCT a.p AS u, b.p AS v
        FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
    ),
    adj AS (
        SELECT DISTINCT a, b FROM (
            SELECT u AS a, v AS b FROM edges
            UNION ALL SELECT v, u FROM edges
        )
    ),
    pivots AS (
        SELECT node AS src FROM (SELECT DISTINCT a AS node FROM adj)
        ORDER BY md5(CAST(node AS VARCHAR)), node LIMIT 4
    ),
    -- forward: level-synchronous BFS carrying the FULL reached state per
    -- iteration (the components/ANF recursion pattern); sigma accumulates
    -- shortest-path counts along the DAG
    fwd(iter, src, node, dist, sigma) AS (
        SELECT 0, src, src, 0, CAST(1 AS BIGINT) FROM pivots
      UNION ALL
        SELECT * FROM (
          WITH cur AS MATERIALIZED (
              SELECT iter, src, node, dist, sigma FROM fwd
          ),
          newf AS MATERIALIZED (
            SELECT c.src, adj.b AS node, c.dist + 1 AS dist,
                   CAST(sum(c.sigma) AS BIGINT) AS sigma
            FROM cur c JOIN adj ON adj.a = c.node
            WHERE c.dist = (SELECT max(iter) FROM cur)
              AND NOT EXISTS (
                SELECT 1 FROM cur p WHERE p.src = c.src AND p.node = adj.b
              )
            GROUP BY c.src, adj.b, c.dist + 1
          )
          SELECT (SELECT max(iter) FROM cur) + 1 AS iter,
                 src, node, dist, sigma
          FROM (
            SELECT src, node, dist, sigma FROM cur
            UNION ALL
            SELECT src, node, dist, sigma FROM newf
          )
          WHERE EXISTS (SELECT 1 FROM newf)
        )
    ),
    ffin AS MATERIALIZED (
        SELECT src, node, dist, sigma FROM fwd
        WHERE iter = (SELECT max(iter) FROM fwd)
    ),
    -- backward: psi = DAG-descendant path counts, walked from the global
    -- deepest level up; nodes with no successors coalesce to 0
    bwd(iter, src, node, psi) AS (
        SELECT 0, src, node, CAST(0 AS BIGINT)
        FROM ffin WHERE dist = (SELECT max(dist) FROM ffin)
      UNION ALL
        SELECT * FROM (
          WITH cur AS MATERIALIZED (SELECT iter, src, node, psi FROM bwd),
          lvl AS (
            SELECT (SELECT max(dist) FROM ffin)
                   - (SELECT max(iter) FROM cur) - 1 AS l
          ),
          at_lvl AS MATERIALIZED (
            SELECT src, node FROM ffin WHERE dist = (SELECT l FROM lvl)
          ),
          below AS MATERIALIZED (
            SELECT f.src, f.node, c.psi
            FROM ffin f JOIN cur c ON c.src = f.src AND c.node = f.node
            WHERE f.dist = (SELECT l FROM lvl) + 1
          ),
          succ AS MATERIALIZED (
            SELECT a.src, a.node, CAST(sum(1 + b.psi) AS BIGINT) AS psi
            FROM at_lvl a
            JOIN adj ON adj.a = a.node
            JOIN below b ON b.src = a.src AND b.node = adj.b
            GROUP BY a.src, a.node
          )
          SELECT (SELECT max(iter) FROM cur) + 1, src, node, psi FROM (
            SELECT src, node, psi FROM cur
            UNION ALL
            SELECT a.src, a.node, CAST(COALESCE(s.psi, 0) AS BIGINT)
            FROM at_lvl a
            LEFT JOIN succ s ON s.src = a.src AND s.node = a.node
          )
          WHERE (SELECT l FROM lvl) >= 0
        )
    ),
    bfin AS MATERIALIZED (
        SELECT src, node, psi FROM bwd
        WHERE iter = (SELECT max(iter) FROM bwd)
    )
    SELECT f.node AS node, CAST(sum(f.sigma * b.psi) AS BIGINT) AS stress
    FROM ffin f JOIN bfin b ON b.src = f.src AND b.node = f.node
    WHERE f.node <> f.src
    GROUP BY f.node
    ORDER BY stress DESC, f.node LIMIT 20
    """,
)
def copurchase_stress_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 co-purchase parts by pivot-sampled STRESS centrality
    (operators/stress.py): the exact number of pivot-sourced shortest
    paths routed THROUGH each part — the path-based centrality family
    (Shimbel 1953; per-source machinery of Brandes 2001) beside the
    geometric (harmonic) and fixpoint (PageRank) families. Stress rather
    than betweenness BY DESIGN: betweenness divides by sigma_st and its
    rational deltas cannot be hash-exact cross-engine; stress keeps every
    intermediate an exact BIGINT, so the DuckDB twin (two carried-state
    recursions: forward sigma BFS, backward descendant-path counts)
    matches bit-for-bit at every SF.

    Sampling: 4 deterministic pivots (smallest (md5(node), node) — the
    repo's standard draw, Brandes & Pich 2007 estimation posture); the
    sampled total is exact FOR THOSE PIVOTS and an estimator of all-pairs
    stress (documented like the HLL twins). At 100 TB: |pivots| x nodes
    state, frontier/level-sized joins, rounds bounded by the diameter in
    each direction — never the all-pairs nodes x nodes."""
    from streamds_spark.operators.stress import stress_centrality_topk

    li = load_table(spark, sf_dir, "lineitem")
    edges = copurchase_edges(li)
    return stress_centrality_topk(edges, k=20, pivots=4)


KTRUSS_K = 14  # support >= 12: survives whole at sf0.001 (dense little
# cliques from multi-part orders), cascades to an EMPTY truss at sf0.01,
# and stabilizes at a non-trivial ~1.4k-edge truss at sf0.1 — all three
# fixpoint shapes exercised by one constant.


@query(
    "ktruss_copurchase",
    oracle=f"""
    WITH RECURSIVE items AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ),
    edges AS (
        SELECT DISTINCT a.p AS u, b.p AS v
        FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
    ),
    -- support peeling to the k-truss fixpoint: each round recounts
    -- per-edge triangle support with the naive a<b<c formulation and drops
    -- edges under k-2; the guard stops when nothing was dropped (fixpoint)
    -- or everything collapsed (the final refilter below reports the empty
    -- truss in that case).
    tr(iter, u, v) AS (
        SELECT 0, u, v FROM edges
      UNION ALL
        SELECT * FROM (
          WITH cur AS MATERIALIZED (SELECT iter, u, v FROM tr),
          tri AS MATERIALIZED (
            SELECT e1.u AS a, e1.v AS b, e2.v AS c
            FROM cur e1 JOIN cur e2 ON e2.u = e1.v
            JOIN cur e3 ON e3.u = e1.u AND e3.v = e2.v
          ),
          sup AS MATERIALIZED (
            SELECT u, v, count(*) AS s FROM (
              SELECT a AS u, b AS v FROM tri
              UNION ALL SELECT b AS u, c AS v FROM tri
              UNION ALL SELECT a AS u, c AS v FROM tri
            ) GROUP BY u, v
          ),
          keep AS MATERIALIZED (
            SELECT c.iter, c.u, c.v
            FROM cur c JOIN sup s ON s.u = c.u AND s.v = c.v
            WHERE s.s >= {{SUP}}
          )
          SELECT iter + 1, u, v FROM keep
          WHERE (SELECT count(*) FROM keep) > 0
            AND (SELECT count(*) FROM keep) < (SELECT count(*) FROM cur)
        )
    ),
    last AS MATERIALIZED (
        SELECT u, v FROM tr WHERE iter = (SELECT max(iter) FROM tr)
    ),
    ftri AS MATERIALIZED (
        SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM last e1 JOIN last e2 ON e2.u = e1.v
        JOIN last e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    fsup AS MATERIALIZED (
        SELECT u, v, count(*) AS s FROM (
          SELECT a AS u, b AS v FROM ftri
          UNION ALL SELECT b AS u, c AS v FROM ftri
          UNION ALL SELECT a AS u, c AS v FROM ftri
        ) GROUP BY u, v
    ),
    truss AS (
        SELECT l.u, l.v, f.s FROM last l
        JOIN fsup f ON f.u = l.u AND f.v = l.v WHERE f.s >= {{SUP}}
    )
    SELECT CAST({{K}} AS BIGINT) AS k,
           CAST(count(*) AS BIGINT) AS n_truss_edges,
           CAST((SELECT count(*) FROM (
               SELECT DISTINCT n FROM (
                   SELECT u AS n FROM truss UNION ALL SELECT v FROM truss)))
               AS BIGINT) AS n_truss_nodes,
           CAST(coalesce(min(s), 0) AS BIGINT) AS min_support,
           CAST(coalesce(max(s), 0) AS BIGINT) AS max_support
    FROM truss
    """.replace("{SUP}", str(KTRUSS_K - 2)).replace("{K}", str(KTRUSS_K)),
)
def ktruss_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-truss census of the co-purchase graph (operators/ktruss.py,
    k = KTRUSS_K): the maximal subgraph where every edge closes >= k-2
    triangles within it — edge-level cohesion where the k-core
    (kcore_copurchase) is node-level; a k-core can be triangle-free, a
    k-truss is overlapping triangles by definition. The fixpoint is unique
    and peel-order-independent, so the census is hash-exact against the
    DuckDB recursive replay with naive triangle recounting. Each round is
    the degree-ordered triangle census over a strictly shrinking edge set
    with stats-pinned truncation (the cur^3 wedge join is the worst
    compounding shape for checkpoint-snapshotted size estimates — see
    operators/iterate.py)."""
    from streamds_spark.operators.ktruss import ktruss_summary

    li = load_table(spark, sf_dir, "lineitem")
    edges = copurchase_edges(li)
    return ktruss_summary(edges, KTRUSS_K)


@query(
    "copurchase_link_prediction",
    oracle="""
    WITH items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    edges AS (
        SELECT DISTINCT a.p AS u, b.p AS v
        FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
    ),
    adj AS (SELECT u AS a, v AS b FROM edges UNION ALL SELECT v, u FROM edges),
    deg AS (SELECT a AS n, count(*) AS d FROM adj GROUP BY a),
    cand AS (
        SELECT l.b AS u, r.b AS v, count(*) AS common
        FROM adj l JOIN adj r ON l.a = r.a AND l.b < r.b
        GROUP BY l.b, r.b
    ),
    nonedge AS (
        SELECT c.u, c.v, c.common
        FROM cand c LEFT JOIN edges e ON e.u = c.u AND e.v = c.v
        WHERE e.u IS NULL
    )
    SELECT CAST(n.u AS BIGINT) AS u, CAST(n.v AS BIGINT) AS v,
           CAST(n.common AS BIGINT) AS common,
           CAST(du.d + dv.d - n.common AS BIGINT) AS union_deg
    FROM nonedge n
    JOIN deg du ON du.n = n.u JOIN deg dv ON dv.n = n.v
    ORDER BY n.common DESC, n.u, n.v LIMIT 20
    """,
)
def copurchase_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the co-purchase graph: the 20 strongest NON-edges
    by common-neighbor count (ties broken by part ids — fully
    deterministic), with the exact-Jaccard denominator deg(u)+deg(v)-common
    carried as an integer column so rankers can form the ratio without a
    float ever crossing the engine boundary. The classic
    friend-of-a-friend recommender: parts never co-bought that share many
    co-purchase partners.

    Plan: one wedge self-join grouped straight to (u, v, common) — the
    middle-node fan-out collapses map-side into the pair counts — then a
    shuffled-hash anti-join against the edge set that RIDES the aggregate's
    (u, v) partitioning (only the small edge side exchanges; the candidate
    stream is never sorted), a TakeOrdered top-20, and the two degree joins
    attached to the 20 SURVIVORS only (the ranking reads (common, u, v)
    alone, and every candidate endpoint has a degree row by construction,
    so inner-joining degrees after the cut is row-for-row identical to
    joining before it — but over 20 rows instead of the full candidate
    set). At 100 TB the wedge join is the cost; it is bounded by
    sum-of-degree-squared like the triangle census, and heavy-hub
    mitigation composes (degree-cap the middle node before the self-join,
    exactly as the dedup LSH caps star buckets).

    Both wedge stages self-size their partition count from the graph's own
    degree profile (sum(d^2)/2 wedges at LINKPRED_WEDGES_PER_TASK, measured
    provenance in operators/sizing.py): the join's INPUT exchanges are tiny,
    so AQE — which can only see map-output sizes — coalesces the exploding
    stages to the core count and the per-task aggregation maps spill; the
    explicit repartition() calls (never coalesced) keep the fan-out wide
    and the maps inside their memory quota. The pair-count groupBy rides
    the (u, v) repartition directly, trading the (measured ~30%-effective)
    map-side partial aggregation for spill-free width.
    """
    from streamds_spark.operators.iterate import undirected
    from streamds_spark.operators.sizing import (
        LINKPRED_MAX_PARTITIONS,
        LINKPRED_WEDGES_PER_TASK,
    )

    li = load_table(spark, sf_dir, "lineitem")
    edges = copurchase_edges(li).localCheckpoint(eager=False)
    adj = undirected(edges, distinct=False).select(
        F.col("u").alias("a"), F.col("v").alias("b")
    )
    deg = (
        adj.groupBy("a")
        .agg(F.count("*").alias("d"))
        .withColumnRenamed("a", "n")
        .localCheckpoint(eager=False)
    )
    # one tiny job over the checkpointed degree table sizes the wedge
    # stages (1-row loop-control-style collect, ktruss's sizing idiom)
    sum_d2 = deg.agg(F.sum(F.col("d") * F.col("d")).alias("s2")).collect()[0]["s2"]
    n_wedges = int(sum_d2 or 0) // 2
    session_default = int(adj.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    n_parts = max(
        session_default,
        min(LINKPRED_MAX_PARTITIONS, -(-n_wedges // LINKPRED_WEDGES_PER_TASK)),
    )
    cand = (
        adj.toDF("m", "u")
        .repartition(n_parts, "m")
        .join(adj.toDF("m", "v").repartition(n_parts, "m"), "m")
        .where(F.col("u") < F.col("v"))
        .repartition(n_parts, "u", "v")
        .groupBy("u", "v")
        .agg(F.count("*").alias("common"))
    )
    top_nonedge = (
        cand.join(edges.hint("shuffle_hash"), ["u", "v"], "left_anti")
        .orderBy(F.col("common").desc(), "u", "v")
        .limit(20)
    )
    return (
        top_nonedge.join(
            F.broadcast(deg.withColumnRenamed("n", "u").withColumnRenamed("d", "du")), "u"
        )
        .join(F.broadcast(deg.withColumnRenamed("n", "v").withColumnRenamed("d", "dv")), "v")
        .select(
            F.col("u").cast("bigint").alias("u"),
            F.col("v").cast("bigint").alias("v"),
            F.col("common").cast("bigint").alias("common"),
            (F.col("du") + F.col("dv") - F.col("common")).cast("bigint").alias("union_deg"),
        )
        .orderBy(F.col("common").desc(), "u", "v")
    )


@query(
    "copurchase_components",
    oracle="""
    WITH RECURSIVE items AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ),
    edges AS (
        SELECT a.p AS u, b.p AS v
        FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
        GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    adj AS (SELECT u AS a, v AS b FROM edges UNION ALL SELECT v, u FROM edges),
    -- dense min-label propagation to the fixpoint (the Spark side pointer-
    -- jumps to the SAME fixpoint in O(log d) rounds; only the fixpoint is
    -- compared, exactly like the Bellman-Ford census)
    lbl(iter, node, rep) AS (
        SELECT 0, a, a FROM (SELECT DISTINCT a FROM adj)
      UNION ALL
        SELECT * FROM (
          WITH cur AS MATERIALIZED (SELECT iter, node, rep FROM lbl),
          nxt AS MATERIALIZED (
            SELECT node, min(rep) AS rep FROM (
              SELECT adj.a AS node, c.rep FROM adj JOIN cur c ON c.node = adj.b
              UNION ALL
              SELECT node, rep FROM cur
            ) GROUP BY node
          )
          SELECT (SELECT max(iter) FROM cur) + 1, n.node, n.rep
          FROM nxt n
          WHERE (SELECT sum(rep) FROM nxt) <> (SELECT sum(rep) FROM cur)
        )
    ),
    final AS (
        SELECT node, rep FROM lbl WHERE iter = (SELECT max(iter) FROM lbl)
    ),
    comp AS (SELECT rep, count(*) AS sz FROM final GROUP BY rep)
    SELECT CAST(sz AS BIGINT) AS component_size,
           CAST(count(*) AS BIGINT) AS n_components
    FROM comp GROUP BY sz ORDER BY component_size
    """,
)
def copurchase_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-component size histogram of the REPEAT co-purchase graph
    (parts co-bought in >= 2 distinct orders — the >= 2 support threshold
    fragments the giant component into a real cluster structure: one
    200-node component at sf0.001, a 1860-node giant plus satellites at
    sf0.01, 2350 small clusters at sf0.1 — three distinct shapes from one
    constant).

    The operator (operators/concomp.py) is the pointer-jumping min-label
    propagation that has resolved dedup clusters since round 2, promoted to
    a first-class graph primitive: O(log diameter) rounds, each round one
    adjacency equi-join + groupBy-min + one label-to-label pointer jump,
    stats-pinned checkpoints per round (the jump joins two carries — see
    operators/iterate.py). The oracle replays DENSE min-label propagation
    (O(diameter) rounds) to the same fixpoint; all columns are exact
    BIGINTs, so the histogram is hash-exact at all three SFs.
    """
    from streamds_spark.operators.concomp import component_census

    li = load_table(spark, sf_dir, "lineitem")
    items = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    edges = (
        items.toDF("o", "u")
        .join(items.toDF("o", "v"), "o")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= 2)
        .select("u", "v")
    )
    return component_census(edges)


_LPA_ORACLE_PREFIX = """
    WITH RECURSIVE items AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ),
    edges AS (
        SELECT a.p AS u, b.p AS v
        FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
        GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    adj AS (
        SELECT DISTINCT a, b FROM (
            SELECT u AS a, v AS b FROM edges
            UNION ALL SELECT v, u FROM edges
        )
    ),
    -- deterministic synchronous LPA (operators/lpa.py): every node adopts
    -- its neighbors' most common label, ties to the SMALLEST label, for a
    -- FIXED 4 rounds from the identity labeling — a pure function of the
    -- graph, replayed here bit-for-bit
    lpa(iter, node, label) AS (
        SELECT 0, a, a FROM (SELECT DISTINCT a FROM adj)
      UNION ALL
        SELECT * FROM (
          WITH cur AS MATERIALIZED (SELECT iter, node, label FROM lpa),
          cnt AS MATERIALIZED (
            SELECT adj.a AS node, c.label, count(*) AS c
            FROM adj JOIN cur c ON c.node = adj.b
            GROUP BY adj.a, c.label
          )
          SELECT (SELECT max(iter) FROM cur) + 1, node, label FROM (
            SELECT node, label,
                   row_number() OVER (
                       PARTITION BY node ORDER BY c DESC, label ASC
                   ) AS rn
            FROM cnt
          )
          WHERE rn = 1 AND (SELECT max(iter) FROM cur) < 4
        )
    ),
    final AS (SELECT node, label FROM lpa WHERE iter = 4)
"""


@query(
    "copurchase_communities_lpa",
    oracle=_LPA_ORACLE_PREFIX
    + """
    SELECT label AS community, CAST(count(*) AS BIGINT) AS n_nodes
    FROM final GROUP BY label
    ORDER BY n_nodes DESC, community LIMIT 20
    """,
)
def copurchase_communities_lpa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 communities DETECTED in the repeat co-purchase graph (parts
    co-bought in >= 2 distinct orders — the same support threshold that
    gives copurchase_components its real cluster structure) by
    deterministic synchronous label propagation (operators/lpa.py:
    Raghavan et al. 2007 with a total tie order and a fixed 4-round
    budget). Complements modularity_census, which can only SCORE a given
    labeling.

    The labeling is a pure function of (graph, rounds), so the DuckDB
    recursive CTE replays the identical rounds and the top-20 is
    hash-exact at every SF. At 100 TB: R rounds x (one adjacency equi-join
    collapsing map-side + a node-PARTITIONED row_number over <= deg(v)
    candidate labels) — no global window, no collect, linear carry (no
    stats-pin needed)."""
    from streamds_spark.operators.lpa import community_sizes

    li = load_table(spark, sf_dir, "lineitem")
    items = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    edges = (
        items.toDF("o", "u")
        .join(items.toDF("o", "v"), "o")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= 2)
        .select("u", "v")
    )
    return community_sizes(edges, rounds=4, k=20)


@query(
    "copurchase_lpa_modularity",
    oracle=_LPA_ORACLE_PREFIX
    + """
    , eb AS (
        SELECT lu.label AS bu, lv.label AS bv
        FROM edges e
        JOIN final lu ON lu.node = e.u
        JOIN final lv ON lv.node = e.v
    ),
    me AS (
        SELECT CAST(count(*) AS BIGINT) AS m_edges,
               CAST(sum(CASE WHEN bu = bv THEN 1 ELSE 0 END) AS BIGINT)
                   AS intra_edges
        FROM eb
    ),
    degc AS (
        SELECT brand, CAST(count(*) AS BIGINT) AS d FROM (
            SELECT bu AS brand FROM eb UNION ALL SELECT bv FROM eb
        ) GROUP BY brand
    ),
    bsum AS (
        SELECT CAST(sum(d * d) AS BIGINT) AS sum_comm_deg_sq FROM degc
    )
    SELECT m_edges, intra_edges, sum_comm_deg_sq,
           round(CAST(intra_edges AS DOUBLE) / CAST(m_edges AS DOUBLE)
                 - CAST(sum_comm_deg_sq AS DOUBLE)
                 / (CAST(4 AS DOUBLE) * CAST(m_edges AS DOUBLE)
                 * CAST(m_edges AS DOUBLE)), 4) + 0.0 AS modularity
    FROM me CROSS JOIN bsum
    """,
)
def copurchase_lpa_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman Q of the LPA-detected partition of the repeat co-purchase
    graph — detection (operators/lpa.py) composed with scoring
    (modularity_census): the structural answer to "did label propagation
    find real communities" as one 1-row census. Same exactness playbook as
    copurchase_brand_modularity: three exact BIGINT moments + ONE final
    IEEE expression identical in both engines, so the row is hash-exact.
    Contrast with the brand partition's Q ~ -0.0001: a detected partition
    should score meaningfully positive wherever the support threshold
    leaves cluster structure."""
    from streamds_spark.operators.lpa import label_propagation

    li = load_table(spark, sf_dir, "lineitem")
    items = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    edges = (
        items.toDF("o", "u")
        .join(items.toDF("o", "v"), "o")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= 2)
        .select("u", "v")
        .localCheckpoint(eager=False)
    )
    labels = label_propagation(edges, rounds=4)
    return modularity_census(edges, labels)


def modularity_census(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Newman modularity Q of a node partition over an undirected edge list
    (u < v, one row per edge): Q = A/m - B/(4m^2) with m = |edges|,
    A = intra-community edges, B = sum over communities of (degree sum)^2.

    Exactness playbook (the assortativity discipline): m, A, B are exact
    BIGINT aggregates; only the final Q is IEEE, as ONE fixed expression
    over the three integers — identical operation tree in both engines, so
    the rounded value hash-matches. B = sum(d_c^2) needs d_c^2 < 2^63:
    d_c <= 2m, so this holds to m ~ 1.5e9 edges per community; past that,
    compute B in DECIMAL(38,0).

    Plan: two label joins onto the edge list (label table is node-sized,
    AQE broadcasts when it fits), one 1-row edge-moment aggregate, one
    per-community degree count + 1-row sum — nothing node- or edge-sized
    ever reaches the driver. `labels` must cover every endpoint (inner
    joins drop unlabeled edges).
    """
    lu = labels.toDF("node", "bu")
    lv = labels.toDF("node", "bv")
    eb = (
        edges.join(lu, edges["u"] == lu["node"])
        .join(lv, edges["v"] == lv["node"])
        .select("bu", "bv")
    )
    eb = eb.localCheckpoint(eager=False)
    me = eb.agg(
        F.count("*").cast("bigint").alias("m_edges"),
        F.sum(F.when(F.col("bu") == F.col("bv"), 1).otherwise(0))
        .cast("bigint")
        .alias("intra_edges"),
    )
    ends = eb.select(F.col("bu").alias("brand")).unionAll(
        eb.select(F.col("bv").alias("brand"))
    )
    degc = ends.groupBy("brand").agg(F.count("*").cast("bigint").alias("d"))
    bsum = degc.agg(
        F.sum(F.col("d") * F.col("d")).cast("bigint").alias("sum_comm_deg_sq")
    )
    return me.crossJoin(bsum).selectExpr(
        "m_edges",
        "intra_edges",
        "sum_comm_deg_sq",
        "round(CAST(intra_edges AS DOUBLE) / CAST(m_edges AS DOUBLE)"
        " - CAST(sum_comm_deg_sq AS DOUBLE)"
        " / (CAST(4 AS DOUBLE) * CAST(m_edges AS DOUBLE)"
        " * CAST(m_edges AS DOUBLE)), 4) + 0.0 AS modularity",
    )


@query(
    "copurchase_brand_modularity",
    oracle="""
    WITH items AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ),
    edges AS (
        SELECT DISTINCT a.p AS u, b.p AS v
        FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
    ),
    lab AS (SELECT p_partkey AS node, p_brand AS brand FROM part),
    eb AS (
        SELECT bu.brand AS bu, bv.brand AS bv
        FROM edges JOIN lab bu ON bu.node = edges.u
                   JOIN lab bv ON bv.node = edges.v
    ),
    me AS (
        SELECT CAST(count(*) AS BIGINT) AS m_edges,
               CAST(sum(CASE WHEN bu = bv THEN 1 ELSE 0 END) AS BIGINT)
                   AS intra_edges
        FROM eb
    ),
    degc AS (
        SELECT brand, CAST(count(*) AS BIGINT) AS d
        FROM (SELECT bu AS brand FROM eb UNION ALL SELECT bv FROM eb)
        GROUP BY brand
    ),
    bsum AS (SELECT CAST(sum(d * d) AS BIGINT) AS sum_comm_deg_sq FROM degc)
    SELECT m_edges, intra_edges, sum_comm_deg_sq,
           round(CAST(intra_edges AS DOUBLE) / CAST(m_edges AS DOUBLE)
                 - CAST(sum_comm_deg_sq AS DOUBLE)
                 / (CAST(4 AS DOUBLE) * CAST(m_edges AS DOUBLE)
                    * CAST(m_edges AS DOUBLE)), 4) + 0.0 AS modularity
    FROM me, bsum
    """,
)
def copurchase_brand_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Is co-purchasing brand-assortative? Newman modularity of the p_brand
    partition over the co-purchase graph — Q > 0 means parts of one brand
    are bought together more than a degree-preserving random rewiring
    predicts; Q ~ 0 (the TPC-H answer: brands are assigned independently of
    baskets) means no community structure along brands. The partition
    quality metric for ANY node labeling — swap in connected components,
    k-core shells, or a clustering's assignment to score it the same way.

    All three moments are exact BIGINTs; Q is one fixed IEEE expression
    (see modularity_census). Plan: two broadcast-sized label joins + two
    1-row aggregates + one 25-group count."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    edges = copurchase_edges(li)
    labels = part.select(F.col("p_partkey").alias("node"), F.col("p_brand"))
    return modularity_census(edges, labels)


@query(
    "brand_affinity_backbone",
    oracle="""
    WITH RECURSIVE items AS MATERIALIZED (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ),
    ppairs AS MATERIALIZED (
        SELECT DISTINCT a.p AS pu, b.p AS pv
        FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
    ),
    lab AS (SELECT p_partkey AS p, p_brand AS b FROM part),
    -- MATERIALIZED: the correlated rank subquery references bedges once
    -- per edge; inlined, DuckDB would replay the corpus-sized pair
    -- contraction per evaluation (the ANF oracle lesson)
    bedges AS MATERIALIZED (
        SELECT least(bu.b, bv.b) AS u, greatest(bu.b, bv.b) AS v,
               CAST(count(*) AS BIGINT) AS c
        FROM ppairs JOIN lab bu ON bu.p = ppairs.pu
                    JOIN lab bv ON bv.p = ppairs.pv
        WHERE bu.b <> bv.b
        GROUP BY 1, 2
    ),
    ranked AS MATERIALIZED (
        -- distinct total order, strongest first: rank by (c DESC, u, v)
        -- via count-smaller (no window, identical in both engines)
        SELECT e.u, e.v, e.c,
               CAST(1 + (SELECT count(*) FROM bedges e2
                         WHERE e2.c > e.c
                            OR (e2.c = e.c AND (e2.u < e.u
                                OR (e2.u = e.u AND e2.v < e.v))))
                    AS BIGINT) AS w_rank
        FROM bedges e
    ),
    badj AS (
        SELECT u AS a, v AS b, w_rank AS r FROM ranked
        UNION ALL SELECT v, u, w_rank FROM ranked
    ),
    -- all-pairs MINIMAX (bottleneck) rank via dense min-max relaxation to
    -- the fixpoint (the cheapest_from_hub recursive template with
    -- min-plus swapped for min-max). State is label-space-sized:
    -- (brands x brands) rows.
    wave(iter, a, b, bw) AS (
        SELECT 0, a, b, r FROM badj
      UNION ALL
        SELECT * FROM (
          WITH cur AS (SELECT iter, a, b, bw FROM wave),
          cand AS (
            SELECT cur.a, badj.b, min(greatest(cur.bw, badj.r)) AS nb
            FROM cur JOIN badj ON badj.a = cur.b
            WHERE cur.a <> badj.b
            GROUP BY cur.a, badj.b
          ),
          merged AS (
            SELECT coalesce(c.a, d.a) AS a, coalesce(c.b, d.b) AS b,
                   CASE WHEN c.bw IS NULL THEN d.nb
                        WHEN d.nb IS NULL THEN c.bw
                        ELSE least(c.bw, d.nb) END AS bw
            FROM cur c FULL OUTER JOIN cand d ON c.a = d.a AND c.b = d.b
          ),
          improved AS (
            SELECT 1 FROM merged m LEFT JOIN cur c ON m.a = c.a AND m.b = c.b
            WHERE c.a IS NULL OR m.bw < c.bw
          )
          SELECT g.i + 1 AS iter, m.a, m.b, CAST(m.bw AS BIGINT) AS bw
          FROM merged m
          CROSS JOIN (SELECT DISTINCT iter AS i FROM cur) g
          WHERE EXISTS (SELECT 1 FROM improved)
        )
    ),
    bottleneck AS (
        SELECT a, b, bw FROM wave
        WHERE iter = (SELECT max(iter) FROM wave)
    )
    -- cycle property on DISTINCT weights: e is in the unique MSF iff its
    -- rank equals the minimax-path rank between its endpoints
    SELECT r.u AS brand_u, r.v AS brand_v, r.c AS n_pairs, r.w_rank
    FROM ranked r JOIN bottleneck bt ON bt.a = r.u AND bt.b = r.v
    WHERE bt.bw = r.w_rank
    """,
)
def brand_affinity_backbone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The brand affinity backbone: the MAXIMUM spanning forest of the
    brand-contracted co-purchase graph (edge strength = distinct part
    pairs co-bought across the two brands) — the skeleton a category
    navigation or substitution analysis hangs on. Computed as the unique
    MINIMUM spanning forest over the distinct rank (strength DESC, u, v)
    by distributed Boruvka (operators/msf.py): per round each component
    picks its best incident edge (one shuffle), picked edges contract via
    a component-count-sized connected-components pass, rounds <= log2(n).

    The oracle never runs Boruvka: distinct weights make the MSF unique,
    so it replays the CYCLE PROPERTY instead — an edge is in the MSF iff
    its rank equals the all-pairs minimax (bottleneck) rank between its
    endpoints, computed by a dense min-max relaxation recursive CTE on
    the label-space-sized contracted graph. Algorithm-independent
    agreement on the exact edge set is the strongest correctness check
    the operator can get. Rank is assigned by count-smaller self-join
    (label-space quadratic, no global window)."""
    from streamds_spark.operators.msf import minimum_spanning_forest

    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    items = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    ppairs = (
        items.toDF("o", "pu")
        .join(items.toDF("o", "pv"), "o")
        .filter(F.col("pu") < F.col("pv"))
        .select("pu", "pv")
        .distinct()
    )
    lab = part.select(F.col("p_partkey").alias("p"), F.col("p_brand").alias("b"))
    bedges = (
        ppairs.join(lab.toDF("pu", "bu"), "pu")
        .join(lab.toDF("pv", "bv"), "pv")
        .filter(F.col("bu") != F.col("bv"))
        .select(
            F.least("bu", "bv").alias("u"),
            F.greatest("bu", "bv").alias("v"),
        )
        .groupBy("u", "v")
        .agg(F.count("*").cast("bigint").alias("c"))
        .localCheckpoint(eager=False)
    )
    e2 = bedges.toDF("u2", "v2", "c2")
    ranked = (
        bedges.join(
            e2,
            (F.col("c2") > F.col("c"))
            | (
                (F.col("c2") == F.col("c"))
                & (
                    (F.col("u2") < F.col("u"))
                    | ((F.col("u2") == F.col("u")) & (F.col("v2") < F.col("v")))
                )
            ),
            "left",
        )
        .groupBy("u", "v", "c")
        .agg((F.lit(1) + F.count("u2")).cast("bigint").alias("w_rank"))
        .localCheckpoint(eager=False)
    )
    msf = minimum_spanning_forest(
        ranked.select("u", "v", F.col("w_rank").alias("w"))
    )
    return (
        msf.join(ranked.withColumnRenamed("w_rank", "w"), ["u", "v", "w"])
        .select(
            F.col("u").alias("brand_u"),
            F.col("v").alias("brand_v"),
            F.col("c").alias("n_pairs"),
            F.col("w").alias("w_rank"),
        )
    )


# -- estimator-accuracy audits (round 11, per VERDICT r10 item 3) -----------
#
# The sampled centralities are hash-exact AS DEFINED (the HLL-twin
# discipline) but their quality AS ESTIMATORS of the exact quantity was
# undocumented. These two rows quantify it on a bounded audit subgraph —
# the co-purchase graph of the orders with l_orderkey <= AUDIT_ORDER_CUT,
# a deterministic sf0.001-scale slice at every SF (200-1900 nodes) where
# exact all-sources computation is affordable — emitting INTEGER top-k
# overlap and exact rank-agreement counts (integers -> hash-exact; the
# estimator-quality analog of the HLL twins). BASELINE.md carries the
# measured overlap@20 table per SF.

AUDIT_ORDER_CUT = 500
AUDIT_PIVOT_COUNTS = (4, 8, 16, 32)


def _audit_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return copurchase_edges(
        li.where(F.col("l_orderkey") <= AUDIT_ORDER_CUT)
    ).localCheckpoint(eager=True)


def _overlap_metrics(
    exact: "list[int]", sampled: "list[int]"
) -> "tuple[int, int, int, int]":
    """(overlap@5, overlap@10, overlap@20, exact-rank agreements) between
    two rank-ordered top-20 node lists."""
    ov = lambda k: len(set(exact[:k]) & set(sampled[:k]))  # noqa: E731
    agree = sum(1 for a, b in zip(exact, sampled) if a == b)
    return ov(5), ov(10), ov(20), agree


_ACC_SCHEMA = (
    "n_nodes bigint, n_edges bigint, overlap_top5 bigint, "
    "overlap_top10 bigint, overlap_top20 bigint, rank_agree_top20 bigint"
)


@query(
    "stress_estimator_accuracy",
    oracle=f"""
    WITH RECURSIVE items AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        WHERE l_orderkey <= {AUDIT_ORDER_CUT}
    ),
    edges AS (
        SELECT DISTINCT a.p AS u, b.p AS v
        FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
    ),
    adj AS (
        SELECT DISTINCT a, b FROM (
            SELECT u AS a, v AS b FROM edges
            UNION ALL SELECT v, u FROM edges
        )
    ),
    nodes AS MATERIALIZED (SELECT DISTINCT a AS node FROM adj),
    pcounts(p) AS (SELECT * FROM (VALUES (4), (8), (16), (32)) t(p)),
    pivots AS MATERIALIZED (
        SELECT node AS src,
               row_number() OVER (
                   ORDER BY md5(CAST(node AS VARCHAR)), node
               ) AS pk
        FROM nodes
    ),
    -- ONE all-sources forward/backward sweep (the stress oracle's two
    -- carried-state recursions, seeded from EVERY node); the sampled
    -- estimator at pivot count p is the same combine restricted to the
    -- md5-order pivot PREFIX of size p (pivot sets are nested by
    -- construction, so this equals an independent p-pivot run)
    fwd(iter, src, node, dist, sigma) AS (
        SELECT 0, node, node, 0, CAST(1 AS BIGINT) FROM nodes
      UNION ALL
        SELECT * FROM (
          WITH cur AS MATERIALIZED (
              SELECT iter, src, node, dist, sigma FROM fwd
          ),
          newf AS MATERIALIZED (
            SELECT c.src, adj.b AS node, c.dist + 1 AS dist,
                   CAST(sum(c.sigma) AS BIGINT) AS sigma
            FROM cur c JOIN adj ON adj.a = c.node
            WHERE c.dist = (SELECT max(iter) FROM cur)
              AND NOT EXISTS (
                SELECT 1 FROM cur p WHERE p.src = c.src AND p.node = adj.b
              )
            GROUP BY c.src, adj.b, c.dist + 1
          )
          SELECT (SELECT max(iter) FROM cur) + 1 AS iter,
                 src, node, dist, sigma
          FROM (
            SELECT src, node, dist, sigma FROM cur
            UNION ALL
            SELECT src, node, dist, sigma FROM newf
          )
          WHERE EXISTS (SELECT 1 FROM newf)
        )
    ),
    ffin AS MATERIALIZED (
        SELECT src, node, dist, sigma FROM fwd
        WHERE iter = (SELECT max(iter) FROM fwd)
    ),
    bwd(iter, src, node, psi) AS (
        SELECT 0, src, node, CAST(0 AS BIGINT)
        FROM ffin WHERE dist = (SELECT max(dist) FROM ffin)
      UNION ALL
        SELECT * FROM (
          WITH cur AS MATERIALIZED (SELECT iter, src, node, psi FROM bwd),
          lvl AS (
            SELECT (SELECT max(dist) FROM ffin)
                   - (SELECT max(iter) FROM cur) - 1 AS l
          ),
          at_lvl AS MATERIALIZED (
            SELECT src, node FROM ffin WHERE dist = (SELECT l FROM lvl)
          ),
          below AS MATERIALIZED (
            SELECT f.src, f.node, c.psi
            FROM ffin f JOIN cur c ON c.src = f.src AND c.node = f.node
            WHERE f.dist = (SELECT l FROM lvl) + 1
          ),
          succ AS MATERIALIZED (
            SELECT a.src, a.node, CAST(sum(1 + b.psi) AS BIGINT) AS psi
            FROM at_lvl a
            JOIN adj ON adj.a = a.node
            JOIN below b ON b.src = a.src AND b.node = adj.b
            GROUP BY a.src, a.node
          )
          SELECT (SELECT max(iter) FROM cur) + 1, src, node, psi FROM (
            SELECT src, node, psi FROM cur
            UNION ALL
            SELECT a.src, a.node, CAST(COALESCE(s.psi, 0) AS BIGINT)
            FROM at_lvl a
            LEFT JOIN succ s ON s.src = a.src AND s.node = a.node
          )
          WHERE (SELECT l FROM lvl) >= 0
        )
    ),
    bfin AS MATERIALIZED (
        SELECT src, node, psi FROM bwd
        WHERE iter = (SELECT max(iter) FROM bwd)
    ),
    combined AS MATERIALIZED (
        SELECT f.src, f.node, f.sigma * b.psi AS through
        FROM ffin f JOIN bfin b ON b.src = f.src AND b.node = f.node
        WHERE f.node <> f.src
    ),
    stress_all AS MATERIALIZED (
        SELECT node, CAST(sum(through) AS BIGINT) AS stress
        FROM combined GROUP BY node
    ),
    stress_smp AS MATERIALIZED (
        SELECT pc.p, c.node, CAST(sum(c.through) AS BIGINT) AS stress
        FROM combined c
        JOIN pivots pv ON pv.src = c.src AND pv.pk <= 32
        JOIN pcounts pc ON pv.pk <= pc.p
        GROUP BY pc.p, c.node
    ),
    top_ex AS (
        SELECT node, rk FROM (
            SELECT node,
                   row_number() OVER (ORDER BY stress DESC, node) AS rk
            FROM stress_all
        ) WHERE rk <= 20
    ),
    top_sm AS (
        SELECT p, node, rk FROM (
            SELECT p, node,
                   row_number() OVER (
                       PARTITION BY p ORDER BY stress DESC, node
                   ) AS rk
            FROM stress_smp
        ) WHERE rk <= 20
    )
    SELECT CAST(pc.p AS BIGINT) AS pivots,
           (SELECT count(*) FROM nodes) AS n_nodes,
           (SELECT count(*) FROM edges) AS n_edges,
           CAST(COALESCE(o5.c, 0) AS BIGINT) AS overlap_top5,
           CAST(COALESCE(o10.c, 0) AS BIGINT) AS overlap_top10,
           CAST(COALESCE(o20.c, 0) AS BIGINT) AS overlap_top20,
           CAST(COALESCE(ag.c, 0) AS BIGINT) AS rank_agree_top20
    FROM pcounts pc
    LEFT JOIN (
        SELECT s.p, count(*) AS c FROM top_ex e
        JOIN top_sm s ON s.node = e.node
        WHERE e.rk <= 5 AND s.rk <= 5 GROUP BY s.p
    ) o5 ON o5.p = pc.p
    LEFT JOIN (
        SELECT s.p, count(*) AS c FROM top_ex e
        JOIN top_sm s ON s.node = e.node
        WHERE e.rk <= 10 AND s.rk <= 10 GROUP BY s.p
    ) o10 ON o10.p = pc.p
    LEFT JOIN (
        SELECT s.p, count(*) AS c FROM top_ex e
        JOIN top_sm s ON s.node = e.node GROUP BY s.p
    ) o20 ON o20.p = pc.p
    LEFT JOIN (
        SELECT s.p, count(*) AS c FROM top_ex e
        JOIN top_sm s ON s.rk = e.rk AND s.node = e.node GROUP BY s.p
    ) ag ON ag.p = pc.p
    ORDER BY pivots
    """,
)
def stress_estimator_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How good is pivot-sampled stress as an ESTIMATOR of exact all-
    sources stress? One all-sources per-source sweep
    (operators/stress.stress_per_source, pivots=None) on the bounded audit
    subgraph yields the exact ranking; the md5 pivot order makes pivot
    sets nested prefixes, so the SAME sweep filtered to the first p
    sources reproduces the production estimator at p pivots exactly. One
    row per p in (4, 8, 16, 32): top-k overlap + exact rank agreement vs
    the exact top-20 — all BIGINTs, hash-exact against the DuckDB replay.
    The production query ships pivots=4; this row is the evidence table
    behind that dial (Brandes & Pich 2007 estimation posture)."""
    from streamds_spark.operators.iterate import undirected
    from streamds_spark.operators.stress import _pivots, stress_per_source

    edges = _audit_edges(spark, sf_dir)
    per = stress_per_source(edges, pivots=None).localCheckpoint(eager=False)

    def topk(df: DataFrame) -> "list[int]":
        return [
            r["node"]
            for r in df.groupBy("node")
            .agg(F.sum("through").cast("bigint").alias("stress"))
            .orderBy(F.desc("stress"), "node")
            .limit(20)
            .collect()
        ]

    exact = topk(per)
    adj = undirected(edges, distinct=True)
    piv = [r["src"] for r in _pivots(adj, max(AUDIT_PIVOT_COUNTS)).collect()]
    n_nodes = adj.select("u").distinct().count()
    n_edges = edges.count()
    rows = []
    for p in AUDIT_PIVOT_COUNTS:
        sampled = topk(per.where(F.col("src").isin(piv[:p])))
        ov5, ov10, ov20, agree = _overlap_metrics(exact, sampled)
        rows.append((p, n_nodes, n_edges, ov5, ov10, ov20, agree))
    return spark.createDataFrame(rows, "pivots bigint, " + _ACC_SCHEMA)


@query(
    "harmonic_estimator_accuracy",
    oracle=f"""
    WITH RECURSIVE items AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        WHERE l_orderkey <= {AUDIT_ORDER_CUT}
    ),
    edges AS (
        SELECT DISTINCT a.p AS u, b.p AS v
        FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
    ),
    adj AS (SELECT u AS a, v AS b FROM edges UNION ALL SELECT v, u FROM edges),
    nodes AS MATERIALIZED (SELECT DISTINCT a AS node FROM adj),
    -- exact side: all-sources BFS distances carried per iteration (the
    -- components/ANF recursion pattern), folded into TRUE harmonic
    -- centrality under the same exact-BIGINT lcm(1..20) weights the proxy
    -- uses: h = sum over sources s != v of (232792560 // d(s, v))
    bfs(iter, src, node, dist) AS (
        SELECT 0, node, node, 0 FROM nodes
      UNION ALL
        SELECT * FROM (
          WITH cur AS MATERIALIZED (SELECT iter, src, node, dist FROM bfs),
          newf AS MATERIALIZED (
            SELECT DISTINCT c.src, adj.b AS node, c.dist + 1 AS dist
            FROM cur c JOIN adj ON adj.a = c.node
            WHERE c.dist = (SELECT max(iter) FROM cur)
              AND NOT EXISTS (
                SELECT 1 FROM cur p WHERE p.src = c.src AND p.node = adj.b
              )
          )
          SELECT (SELECT max(iter) FROM cur) + 1, src, node, dist FROM (
            SELECT src, node, dist FROM cur
            UNION ALL
            SELECT src, node, dist FROM newf
          )
          WHERE EXISTS (SELECT 1 FROM newf)
        )
    ),
    bfin AS MATERIALIZED (
        SELECT src, node, dist FROM bfs
        WHERE iter = (SELECT max(iter) FROM bfs)
    ),
    hexact AS MATERIALIZED (
        SELECT node, CAST(sum(232792560 // dist) AS BIGINT) AS h
        FROM bfin WHERE dist > 0 GROUP BY node
    ),
    -- proxy side: the IDENTICAL HyperANF register propagation + HyperBall
    -- harmonic fold as the copurchase_harmonic_centrality oracle, on the
    -- same audit subgraph
    seed AS (
        SELECT node,
               (instr('0123456789abcdef', substr(h, 1, 1)) - 1) * 4
               + (instr('0123456789abcdef', substr(h, 2, 1)) - 1) // 4
                   AS bucket,
               regexp_replace(substr(h, 3, 15), '^0+', '') AS t
        FROM (SELECT DISTINCT a AS node, md5(CAST(a AS VARCHAR)) AS h FROM adj)
    ),
    anf(iter, node, bucket, rho) AS (
        SELECT 0, node, bucket,
               CASE WHEN length(t) = 0 THEN 61
                    ELSE (15 - length(t)) * 4 + 4
                         - CAST(floor(log2(instr('0123456789abcdef',
                                                 substr(t, 1, 1)) - 1)) AS INT)
               END
        FROM seed
      UNION ALL
        SELECT * FROM (
          WITH cur AS MATERIALIZED (SELECT iter, node, bucket, rho FROM anf),
          nxt AS MATERIALIZED (
            SELECT node, bucket, max(rho) AS rho FROM (
              SELECT adj.a AS node, c.bucket, c.rho
              FROM adj JOIN cur c ON c.node = adj.b
              UNION ALL
              SELECT node, bucket, rho FROM cur
            ) GROUP BY node, bucket
          )
          SELECT (SELECT max(iter) FROM cur) + 1, n.node, n.bucket, n.rho
          FROM nxt n
          WHERE (SELECT sum(rho) FROM nxt) <> (SELECT sum(rho) FROM cur)
        )
    ),
    node_mass AS MATERIALIZED (
        SELECT iter, node, CAST(sum(rho) AS BIGINT) AS mass
        FROM anf GROUP BY iter, node
    ),
    deltas AS (
        SELECT c.node, (c.mass - p.mass) * (232792560 // c.iter) AS dh
        FROM node_mass c
        JOIN node_mass p ON p.node = c.node AND p.iter = c.iter - 1
    ),
    hproxy AS MATERIALIZED (
        SELECT s.node, CAST(COALESCE(sum(d.dh), 0) AS BIGINT) AS h
        FROM (SELECT node FROM node_mass WHERE iter = 0) s
        LEFT JOIN deltas d ON d.node = s.node
        GROUP BY s.node
    ),
    top_ex AS (
        SELECT node, rk FROM (
            SELECT node, row_number() OVER (ORDER BY h DESC, node) AS rk
            FROM hexact
        ) WHERE rk <= 20
    ),
    top_px AS (
        SELECT node, rk FROM (
            SELECT node, row_number() OVER (ORDER BY h DESC, node) AS rk
            FROM hproxy
        ) WHERE rk <= 20
    )
    SELECT (SELECT count(*) FROM nodes) AS n_nodes,
           (SELECT count(*) FROM edges) AS n_edges,
           (SELECT count(*) FROM top_ex e JOIN top_px s ON s.node = e.node
            WHERE e.rk <= 5 AND s.rk <= 5) AS overlap_top5,
           (SELECT count(*) FROM top_ex e JOIN top_px s ON s.node = e.node
            WHERE e.rk <= 10 AND s.rk <= 10) AS overlap_top10,
           (SELECT count(*) FROM top_ex e JOIN top_px s ON s.node = e.node)
               AS overlap_top20,
           (SELECT count(*) FROM top_ex e JOIN top_px s
            ON s.rk = e.rk AND s.node = e.node) AS rank_agree_top20
    """,
)
def harmonic_estimator_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How good is the HyperBall register-mass proxy as an ESTIMATOR of
    true harmonic centrality? On the bounded audit subgraph: the exact
    side is an all-sources keyed BFS (operators/bfs.keyed_distances)
    folded under the proxy's own exact-BIGINT lcm(1..20) weights
    (h = sum over sources of 232792560 // d); the proxy side is the
    production operator (operators/anf.harmonic_centrality_topk) on the
    same edges. One row of integer top-k overlap + exact rank-agreement
    metrics, hash-exact against the DuckDB twin (which replays BOTH
    sides). Complements copurchase_harmonic_centrality the way the exact
    distinct-count audits complement the HLL rows."""
    from streamds_spark.operators.anf import (
        HARMONIC_SCALE,
        harmonic_centrality_topk,
    )
    from streamds_spark.operators.bfs import keyed_distances

    edges = _audit_edges(spark, sf_dir)
    proxy = [r["node"] for r in harmonic_centrality_topk(edges, k=20).collect()]
    exact = [
        r["node"]
        for r in keyed_distances(edges)
        .where(F.col("dist") > 0)
        .groupBy("node")
        .agg(
            F.sum(F.expr(f"{HARMONIC_SCALE} div dist"))
            .cast("bigint")
            .alias("h")
        )
        .orderBy(F.desc("h"), "node")
        .limit(20)
        .collect()
    ]
    ov5, ov10, ov20, agree = _overlap_metrics(exact, proxy)
    n_nodes = (
        edges.select(F.col("u").alias("n"))
        .unionAll(edges.select(F.col("v").alias("n")))
        .distinct()
        .count()
    )
    rows = [(n_nodes, edges.count(), ov5, ov10, ov20, agree)]
    return spark.createDataFrame(rows, _ACC_SCHEMA)


@query(
    "copurchase_lpa_convergence",
    oracle="""
    WITH RECURSIVE items AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ),
    edges AS (
        SELECT a.p AS u, b.p AS v
        FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
        GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    adj AS (
        SELECT DISTINCT a, b FROM (
            SELECT u AS a, v AS b FROM edges
            UNION ALL SELECT v, u FROM edges
        )
    ),
    lpa(iter, node, label) AS (
        SELECT 0, a, a FROM (SELECT DISTINCT a FROM adj)
      UNION ALL
        SELECT * FROM (
          WITH cur AS MATERIALIZED (SELECT iter, node, label FROM lpa),
          cnt AS MATERIALIZED (
            SELECT adj.a AS node, c.label, count(*) AS c
            FROM adj JOIN cur c ON c.node = adj.b
            WHERE c.iter = (SELECT max(iter) FROM cur)
            GROUP BY adj.a, c.label
          )
          SELECT (SELECT max(iter) FROM cur) + 1, node, label FROM (
            SELECT node, label,
                   row_number() OVER (
                       PARTITION BY node ORDER BY c DESC, label ASC
                   ) AS rn
            FROM cnt
          )
          WHERE rn = 1 AND (SELECT max(iter) FROM cur) < 8
        )
    )
    SELECT CAST(c.iter AS BIGINT) AS round,
           CAST(sum(CASE WHEN c.label <> p.label THEN 1 ELSE 0 END)
                AS BIGINT) AS labels_changed,
           CAST(count(DISTINCT c.label) AS BIGINT) AS n_communities
    FROM lpa c JOIN lpa p ON p.node = c.node AND p.iter = c.iter - 1
    WHERE c.iter >= 1
    GROUP BY c.iter
    ORDER BY round
    """,
)
def copurchase_lpa_convergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LPA convergence census on the repeat co-purchase graph: for each
    synchronous round 1..8, how many nodes changed label and how many
    distinct labels remain (operators/lpa.lpa_convergence_census) — the
    measured evidence behind copurchase_communities_lpa's fixed rounds=4
    budget, the anf_census pattern applied to the round dial. Exact
    BIGINTs; the DuckDB recursion replays the identical rounds (carrying
    the full per-iteration state, joined iter-vs-iter-1 for the deltas),
    so all 8 rows are hash-exact at every SF. Synchronous LPA may
    oscillate rather than reach 0 changes (see the operator docstring and
    test_lpa.test_bipartite_oscillation) — the census shows the knee, not
    a fixpoint."""
    from streamds_spark.operators.lpa import lpa_convergence_census

    li = load_table(spark, sf_dir, "lineitem")
    items = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    edges = (
        items.toDF("o", "u")
        .join(items.toDF("o", "v"), "o")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= 2)
        .select("u", "v")
    )
    return lpa_convergence_census(edges, max_rounds=8)
