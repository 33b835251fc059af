"""Iterative graph analytics — fixed-iteration PageRank.

Engine extension: the reference (`Data_integration and
harmonization.py`, 233 lines) has no graph operators at all (SURVEY
§2.8 — its only multi-table op is union). A harmonization/curation
engine at 100 TB needs at least one *iterative* distributed algorithm
beyond connected components (`dedup.duplicate_clusters`): PageRank is
the canonical one — used in corpus curation for source/domain
authority weighting (e.g. the "quality weights" used by web-scale
pretraining pipelines) and in record linkage for entity-importance
tie-breaking.

Scale design (mirrors the min-label-propagation loop in
``dedup.duplicate_clusters``):

- The edge table is built ONCE, gets its out-degree attached ONCE
  (one groupBy + one join), is hash-partitioned by ``src`` and
  ``persist()``-ed — an ``InMemoryRelation`` *preserves* the cached
  plan's outputPartitioning, so every round's join sees the pinned
  hash layout and only the small (id, rank) frame shuffles: one
  exchange of O(V) rows plus one groupBy of O(E) contribution rows.
  Nothing is collected. (``localCheckpoint`` is NOT used here: on
  Spark 4.1.2 it materializes to a ``Scan ExistingRDD`` that does
  not report the pre-checkpoint hash partitioning, so
  ENSURE_REQUIREMENTS re-exchanged the O(E) table every round —
  caught by tests/test_plan_shape.py's exchange audit in round 8.)
- Each round's rank frame IS ``localCheckpoint``-ed (eager): there
  lineage truncation is the point — iterative self-referential plans
  grow super-linearly under re-analysis otherwise (measured in the
  connected-components loop) — and the rank frame is explicitly
  re-co-partitioned each round anyway, so its lost partitioning
  costs nothing. Peak storage: 2 rank frames + the cached
  degree-annotated edges (unpersisted before return).
- Fixed ``n_iter`` (no convergence test) keeps the job count static
  and — deliberately — makes the operator SQL-replayable: the DuckDB
  oracle unrolls the same ``n_iter`` rounds as chained CTEs, so the
  driver's value-hash check covers the whole iteration, not just the
  plumbing.

Semantics pinned by the oracle:

- ranks start uniform at 1/N over the nodes of the edge table
  (N = |distinct src ∪ dst|);
- each round: rank'(v) = (1-d)/N + d * Σ_{(u,v)∈E} rank(u)/outdeg(u);
- dangling nodes (outdeg 0 — possible only for directed input; the
  symmetrized co-purchase graph has none) contribute no mass and keep
  receiving the teleport term: their mass is dropped, ranks then sum
  to < 1. The oracle replays exactly this choice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def copurchase_edges(lineitem: DataFrame, min_support: int = 2) -> DataFrame:
    """Symmetric co-purchase edge table over (order, part) baskets.

    Same apriori-pruned shape as ``relational.copurchase_pairs`` (items
    below ``min_support`` cannot be in a pair at that support, so the
    pre-join prune is lossless); pairs are emitted once with p1 < p2
    and then symmetrized with one explode (NOT union(fwd, rev) — a
    union would hold the whole upstream plan twice).

    Output: (src, dst) long columns, both directions present, no
    duplicate edges (pair keys were distinct by construction).
    """
    baskets = lineitem.select("l_orderkey", "l_partkey").distinct()
    keep = (
        baskets.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("n_item"))
        .where(F.col("n_item") >= min_support)
        .select("l_partkey")
    )
    pruned = baskets.join(keep, "l_partkey")
    a = pruned.select("l_orderkey", F.col("l_partkey").alias("p1"))
    b = pruned.select("l_orderkey", F.col("l_partkey").alias("p2"))
    pairs = (
        a.join(b, "l_orderkey")
        .where(F.col("p1") < F.col("p2"))
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("support"))
        .where(F.col("support") >= min_support)
    )
    return pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("p1").alias("src"), F.col("p2").alias("dst")),
                F.struct(F.col("p2").alias("src"), F.col("p1").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    n_iter: int = 5,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Fixed-iteration PageRank over an (src, dst) edge table.

    Returns (id, pr) for every node appearing in the edge table, pr
    unrounded (callers round for presentation/parity). See module
    docstring for the scale shape and the dangling-node semantics.
    """
    spark = edges.sparkSession
    edges = edges.where(F.col(src).isNotNull() & F.col(dst).isNotNull()).select(
        F.col(src).alias("src"), F.col(dst).alias("dst")
    )
    # One pass sizes the loop partitioning (same policy as the
    # connected-components loop: ~100k edges per partition so tiny
    # verified graphs don't schedule 32 near-empty tasks per round).
    e0 = edges.persist()
    n_edges = e0.count()
    n = max(1, min(spark.sparkContext.defaultParallelism, n_edges // 100_000 + 1))
    try:
        deg = e0.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
        # degree-annotated edges: the loop-invariant table. Partitioned
        # by src and persist()-ed — InMemoryRelation preserves the
        # hash layout so each round's join only shuffles the rank
        # frame (localCheckpoint would drop it; module docstring).
        ed = e0.join(deg, "src").repartition(n, "src").persist()
        ed.count()  # materialize while e0 is still cached
        nodes = (
            e0.select(F.col("src").alias("id"))
            .unionByName(e0.select(F.col("dst").alias("id")))
            .distinct()
            .repartition(n, "id")
            .persist()
        )
        n_nodes = nodes.count()
    finally:
        e0.unpersist(False)
    if n_nodes == 0:
        ed.unpersist(False)
        nodes.unpersist(False)
        return nodes.select("id", F.lit(0.0).alias("pr"))
    teleport = (1.0 - damping) / n_nodes
    ranks = nodes.select("id", F.lit(1.0 / n_nodes).alias("pr"))
    for _ in range(n_iter):
        # EXPLICITLY co-partition the small per-round frames to the
        # loop tables' pinned (key, n) hash layout: without this,
        # ENSURE_REQUIREMENTS re-exchanges the O(E) edge table (and
        # the node table) to the session shuffle-partition count EVERY
        # round — the exact cost the pinned layout exists to avoid
        # (caught by tests/test_plan_shape.py's exchange count).
        contrib = (
            ed.join(
                ranks.withColumnRenamed("id", "src").repartition(n, "src"),
                "src",
            )
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum(F.col("pr") / F.col("outdeg")).alias("c"))
        )
        # per-round eager checkpoint: measured FASTER than depth-2
        # lineage (sf0.1: 5.5s vs 8.1s) — the saved job is cheaper than
        # re-analyzing/codegen-ing the doubled plan each round.
        ranks = (
            nodes.join(contrib.repartition(n, "id"), "id", "left")
            .select(
                "id",
                (F.lit(teleport) + F.lit(damping) * F.coalesce(F.col("c"), F.lit(0.0))).alias("pr"),
            )
            .localCheckpoint(eager=True)
        )
    # ranks is eagerly checkpointed (materialized), so the loop tables
    # can be released before returning.
    ed.unpersist(False)
    nodes.unpersist(False)
    return ranks


def triangle_counts(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node triangle counts over a SYMMETRIC (src, dst) edge table
    — the third graph operator (after connected components and
    PageRank): triangle density drives clustering-coefficient /
    community-structure features in linkage and graph-curation
    pipelines.

    Scale shape — the classic degree-ordered orientation (Chiba &
    Nishizeki; the MapReduce formulation is Suri & Vassilvitskii's
    "Counting Triangles and the Curse of the Last Reducer", WWW'11):
    orient every undirected edge from the (degree, id)-SMALLER
    endpoint to the larger, so each edge appears once and every
    wedge is rooted at its lowest-degree vertex — total wedges are
    O(E^1.5) regardless of skew (a hub of degree d roots ZERO wedges
    unless every neighbor out-degrees it; the curse-of-the-last-
    reducer hub^2 blowup cannot happen). One self-join on the wedge
    root + one semi-join against the oriented edge set; per-node
    counts by exploding each triangle's three corners. All
    equi-joins; nothing collected.
    """
    e = edges.where(F.col(src).isNotNull() & F.col(dst).isNotNull()).select(
        F.col(src).alias("a"), F.col(dst).alias("b")
    )
    deg = e.groupBy("a").agg(F.count(F.lit(1)).alias("d")).select(
        F.col("a").alias("id"), "d"
    )
    da = deg.select(F.col("id").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("id").alias("b"), F.col("d").alias("db"))
    oriented = (
        e.join(da, "a")
        .join(db, "b")
        .where(
            (F.col("da") < F.col("db"))
            | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b")))
        )
        .select(F.col("a").alias("lo"), F.col("b").alias("hi"))
    )
    o1 = oriented.alias("o1")
    o2 = oriented.alias("o2")
    # wedges rooted at lo: each unordered endpoint pair once (id
    # order). A triangle's degree-order-minimum vertex is its ONLY
    # wedge root (the other two corners each have just one out-edge
    # inside the triangle). The closing edge exists in exactly one
    # orientation; canonicalizing it to (min_id, max_id) makes the
    # close ONE hash equi-join — an OR over both orientations would
    # plan as a nested-loop join in any engine.
    wedges = (
        o1.join(o2, F.col("o1.lo") == F.col("o2.lo"))
        .where(F.col("o1.hi") < F.col("o2.hi"))
        .select(
            F.col("o1.lo").alias("t_a"),
            F.col("o1.hi").alias("t_b"),
            F.col("o2.hi").alias("t_c"),
        )
    )
    closing = oriented.select(
        F.least("lo", "hi").alias("t_b"), F.greatest("lo", "hi").alias("t_c")
    )
    tri = wedges.join(closing, ["t_b", "t_c"], "left_semi")
    corners = tri.select(
        F.explode(F.array("t_a", "t_b", "t_c")).alias("id")
    )
    counts = corners.groupBy("id").agg(F.count(F.lit(1)).alias("n_triangles"))
    # every node of the edge table appears, zero-triangle nodes included
    nodes = deg.select("id")
    return nodes.join(counts, "id", "left").select(
        "id", F.coalesce("n_triangles", F.lit(0)).alias("n_triangles")
    )


def triangle_cte_fragment(edges_cte: str, prefix: str = "g_") -> str:
    """DuckDB replay of :func:`triangle_counts` over ``edges_cte`` — a
    CTE exposing a SYMMETRIC (src, dst) edge table. Splice after it;
    final frame is ``{prefix}tri`` with columns (id, n_triangles)."""
    p = prefix
    return f""",
{p}tdeg AS (SELECT src AS id, count(*) AS d FROM {edges_cte} GROUP BY 1),
{p}orient AS MATERIALIZED (
  SELECT e.src AS lo, e.dst AS hi
  FROM {edges_cte} e
  JOIN {p}tdeg a ON a.id = e.src
  JOIN {p}tdeg b ON b.id = e.dst
  WHERE (a.d < b.d) OR (a.d = b.d AND e.src < e.dst)
),
{p}closing AS (
  SELECT least(lo, hi) AS t_b, greatest(lo, hi) AS t_c FROM {p}orient
),
{p}tris AS (
  SELECT o1.lo AS t_a, o1.hi AS t_b, o2.hi AS t_c
  FROM {p}orient o1 JOIN {p}orient o2 ON o1.lo = o2.lo AND o1.hi < o2.hi
  JOIN {p}closing c ON c.t_b = o1.hi AND c.t_c = o2.hi
),
{p}tcnt AS (
  SELECT id, count(*)::BIGINT AS n_triangles FROM (
    SELECT t_a AS id FROM {p}tris
    UNION ALL SELECT t_b FROM {p}tris
    UNION ALL SELECT t_c FROM {p}tris
  ) GROUP BY 1
),
{p}tri AS (
  SELECT d.id, coalesce(t.n_triangles, 0)::BIGINT AS n_triangles
  FROM {p}tdeg d LEFT JOIN {p}tcnt t ON t.id = d.id
)"""


def pagerank_cte_fragment(
    min_support: int = 2,
    damping: float = 0.85,
    n_iter: int = 5,
    prefix: str = "g_",
) -> str:
    """Unrolled SQL replay of ``copurchase_edges`` + ``pagerank``: one
    CTE per iteration, byte-built here so engine and oracle share the
    constants. Emitted as a ``, name AS (...)`` fragment (every CTE
    name carries ``prefix``) so a host query's oracle can splice it
    into its own WITH chain; the final frame is ``{prefix}r{n_iter}``
    with columns (id, pr)."""
    p = prefix
    head = f""",
{p}baskets AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
{p}keep AS (
  SELECT l_partkey FROM {p}baskets GROUP BY l_partkey
  HAVING count(*) >= {min_support}
),
{p}pruned AS (
  SELECT b.l_orderkey, b.l_partkey FROM {p}baskets b JOIN {p}keep USING (l_partkey)
),
{p}pairs AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2
  FROM {p}pruned a JOIN {p}pruned b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= {min_support}
),
{p}edges AS (
  SELECT p1 AS src, p2 AS dst FROM {p}pairs
  UNION ALL
  SELECT p2 AS src, p1 AS dst FROM {p}pairs
),
{p}nodes AS (
  SELECT DISTINCT src AS id
  FROM (SELECT src FROM {p}edges UNION ALL SELECT dst FROM {p}edges) u(src)
),
{p}deg AS (SELECT src, count(*)::DOUBLE AS outdeg FROM {p}edges GROUP BY src),
{p}nn AS (SELECT count(*)::DOUBLE AS n FROM {p}nodes),
{p}r0 AS (SELECT id, 1.0 / (SELECT n FROM {p}nn) AS pr FROM {p}nodes)"""
    steps = []
    for k in range(1, n_iter + 1):
        steps.append(
            f""",
{p}r{k} AS (
  SELECT {p}nodes.id,
         (1 - {damping}) / (SELECT n FROM {p}nn)
         + {damping} * coalesce(s.c, 0.0) AS pr
  FROM {p}nodes LEFT JOIN (
    SELECT e.dst AS id, sum({p}r{k - 1}.pr / {p}deg.outdeg) AS c
    FROM {p}edges e
    JOIN {p}r{k - 1} ON e.src = {p}r{k - 1}.id
    JOIN {p}deg ON e.src = {p}deg.src
    GROUP BY e.dst
  ) s ON {p}nodes.id = s.id
)"""
        )
    return head + "".join(steps)


def pagerank_ppb_leg(lineitem: DataFrame) -> DataFrame:
    """The driver-visible PageRank leg (host: ``dedup_clusters``, the
    graph-family query — components and PageRank side by side).

    (kind='pr', id=part id, cluster_id=rank in parts-per-billion):
    the host schema's cluster_id is BIGINT, so the rank rides as
    fixed-point round(pr * 1e9) — lossless to the oracle's 6-decimal
    convention (engine/oracle double drift is ~1e-8 ppb, far from any
    rounding boundary) and reversible for human reading."""
    edges = copurchase_edges(lineitem, min_support=2)
    pr = pagerank(edges, damping=0.85, n_iter=5)
    return pr.select(
        F.lit("pr").alias("kind"),
        F.col("id"),
        F.round(F.col("pr") * 1e9).cast("long").alias("cluster_id"),
    )


def pagerank_ppb_leg_sql(prefix: str = "g_") -> str:
    """The UNION ALL arm matching :func:`pagerank_ppb_leg`; splice
    after :func:`pagerank_cte_fragment` in the host oracle."""
    return (
        f"SELECT 'pr' AS kind, id, CAST(round(pr * 1e9) AS BIGINT) AS cluster_id "
        f"FROM {prefix}r5"
    )
