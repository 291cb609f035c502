"""Graph analytics over DataFrames (north-star surface, SURVEY.md §2.2
taxonomy — the reference has no graph operators; connected components lives
in operators/dedup.py as near-dup clustering's backbone).

PageRank here is the INTEGER-ARITHMETIC fixed-iteration form: ranks are
scaled longs, per-edge contributions use integer division, and the damping
update is ``base + (d_num * sum) div d_den`` — every step is exact and
order-independent, so a fixed iteration count hash-matches an unrolled-CTE
ANSI oracle (same construction as similarity.kmeans_labels). Float PageRank
would converge to the same ordering but could never be bit-checked across
engines.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def pagerank(edges: DataFrame, iters: int = 2, *,
             scale: int = 1_000_000, damping_num: int = 85,
             damping_den: int = 100, broadcast_nodes: int = 5_000_000,
             src: str = "src", dst: str = "dst",
             checkpoint: bool = True) -> DataFrame:
    """Fixed-iteration PageRank on a directed edge list. Returns
    ``(node, rank)`` — scaled-integer ranks after ``iters`` updates from a
    uniform start of ``scale`` per node.

    Update rule (all integer): ``contrib(u) = rank(u) div outdeg(u)``;
    ``rank'(v) = (1 - d) * scale + d * sum(contribs into v)`` with the
    damping factor d applied as ``(damping_num * s) div damping_den``.
    Dangling nodes (no out-edges) contribute nothing — give the graph both
    edge directions when sink absorption is not wanted.

    Scale: the degree-annotated edge frame is computed once and reused
    every iteration; each iteration is ONE join (edges x ranks, both
    shuffled on the src key — co-partitioned after the first iteration, so
    the edge side's exchange is reused) and one map-side-combinable
    groupBy(dst) sum. The ranks frame is (node, long) — tiny next to
    edges — so iterations move O(|E|) once and O(|V|) twice. Lineage grows
    linearly with ``iters``; checkpoint beyond ~10 (fixed small counts are
    the intended use).
    """
    # Materialize the loop invariants ONCE: the edge frame feeds the
    # vertex aggregate and every iteration's join — without the
    # checkpoints each iteration re-executes the upstream
    # distinct/union lineage, and the plan doubles per iteration.
    e = edges.select(src, dst).localCheckpoint(eager=False)
    # ONE pass over the edge blocks derives BOTH loop invariants: each
    # edge explodes into (node, is-out) halves and a single aggregate
    # yields every incident node with its out-degree (0 for danglers).
    # The previous shape — union of two projections for the node set
    # plus a separate groupBy for out-degrees — read the cached edge
    # frame three times and ran two aggregations (measured r12: 3 x
    # ~100 MB block reads per run at sf0.1); this is one read, one
    # exchange, and one fewer checkpointed frame.
    vertices = (
        e.select(F.explode(F.expr(
            f"array(struct({src} as node, 1L as o),"
            f" struct({dst} as node, 0L as o))")).alias("v"))
        .select(F.col("v.node").alias("node"), F.col("v.o").alias("o"))
        .groupBy("node")
        .agg(F.sum("o").alias("_d"))
        .localCheckpoint(eager=False)
    )
    nodes = vertices.select("node")
    outdeg = (
        vertices.filter(F.col("_d") > 0)
        .select(F.col("node").alias(src), F.col("_d"))
    )
    ed = e.join(outdeg, src).localCheckpoint(eager=False)
    ranks = nodes.withColumn("rank", F.lit(scale).cast("long"))
    base = (damping_den - damping_num) * scale // damping_den
    # Scale-adaptive join side: the ranks frame is |V| (node, long) rows —
    # tiny next to |E|. Below ``broadcast_nodes`` it broadcasts, so the
    # EDGE frame (the big side) never shuffles in any iteration; above it
    # (billion-node graphs) fall back to the shuffled join, where the
    # checkpointed ed at least re-reads local blocks. One cheap count()
    # on the materialized node set decides.
    bcast = nodes.count() <= broadcast_nodes
    for _ in range(iters):
        r = F.broadcast(ranks) if bcast else ranks
        contribs = (
            ed.join(r, ed[src] == r["node"])
            .select(F.col(dst).alias("node"),
                    F.expr("rank div _d").alias("_c"))
            .groupBy("node")
            .agg(F.sum("_c").alias("_s"))
        )
        # below the cutover the contribs frame (<= |V| rows, post-combine)
        # broadcasts into the update join as well: per iteration the only
        # exchange left is the map-side-combined groupBy(dst) — the edge
        # frame and the node set never shuffle
        c = F.broadcast(contribs) if bcast else contribs
        ranks = nodes.join(c, "node", "left").select(
            "node",
            F.expr(
                f"cast({base} + ({damping_num} * coalesce(_s, 0L))"
                f" div {damping_den} as long)"
            ).alias("rank"),
        )
        if checkpoint:
            # lineage stays O(1) across iterations instead of nesting the
            # whole previous plan under each new join. (checkpoint=False
            # keeps the nested plan visible — for plan inspection/tests
            # only; leave True for real iteration counts.)
            ranks = ranks.localCheckpoint(eager=False)
    return ranks


def pagerank_oracle_sql(edges_sql: str, iters: int = 2, *,
                        scale: int = 1_000_000, damping_num: int = 85,
                        damping_den: int = 100) -> str:
    """The same fixed-iteration integer loop UNROLLED into chained CTEs.
    ``edges_sql`` must yield columns ``(src, dst)``."""
    base = (damping_den - damping_num) * scale // damping_den
    ctes = [f"e AS ({edges_sql})",
            """nodes AS (
  SELECT src AS node FROM e UNION SELECT dst FROM e
)""",
            "deg AS (SELECT src, count(*) AS d FROM e GROUP BY src)",
            f"r0 AS (SELECT node, {scale}::BIGINT AS r FROM nodes)"]
    for i in range(iters):
        prev, cur = f"r{i}", f"r{i + 1}"
        ctes.append(f"""c{i} AS (
  SELECT e.dst AS node, sum({prev}.r // deg.d)::BIGINT AS s
  FROM e JOIN {prev} ON {prev}.node = e.src JOIN deg ON deg.src = e.src
  GROUP BY e.dst
)""")
        ctes.append(f"""{cur} AS (
  SELECT n.node,
         ({base} + ({damping_num} * COALESCE(c{i}.s, 0)) // {damping_den})::BIGINT AS r
  FROM nodes n LEFT JOIN c{i} ON c{i}.node = n.node
)""")
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT node, r AS rank FROM r{iters} ORDER BY node"
    )


def oriented_edges(edges: DataFrame, *, src: str = "src", dst: str = "dst",
                   degree_ordered: bool = True) -> DataFrame:
    """Deduped, low→high oriented edge set ``(a, b)`` under either total
    order — the triangle join's input, exposed so the degeneracy claim is
    directly testable (a 1000-leaf star's hub has oriented out-degree 1000
    under id order when its id is lowest, but 0 under degree order)."""
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") < F.col("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    if not degree_ordered:
        return und
    deg = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("_dg"))
    )
    # re-key both endpoints with their degree, then orient by
    # (degree, id) — a total order, so each undirected edge yields
    # exactly one oriented edge and dedup is preserved
    lt = (F.col("_da") < F.col("_db")) | (
        (F.col("_da") == F.col("_db")) & (F.col("a") < F.col("b"))
    )
    return (
        und.join(deg.withColumnRenamed("node", "a")
                    .withColumnRenamed("_dg", "_da"), "a")
        .join(deg.withColumnRenamed("node", "b")
                 .withColumnRenamed("_dg", "_db"), "b")
        .select(
            F.when(lt, F.col("a")).otherwise(F.col("b")).alias("lo"),
            F.when(lt, F.col("b")).otherwise(F.col("a")).alias("hi"),
        )
        .select(F.col("lo").alias("a"), F.col("hi").alias("b"))
        .localCheckpoint(eager=False)
    )


def triangle_count(edges: DataFrame, *, src: str = "src",
                   dst: str = "dst", degree_ordered: bool = True) -> DataFrame:
    """Exact triangle counting on an undirected graph given as an edge
    list (either or both directions, self-loops ignored). Returns
    ``(node, triangles)`` for every node in at least one triangle.

    The standard orientation trick: dedup the undirected edge set, orient
    each edge low→high under a total order, then join oriented edges
    twice — (a,b) ⋈ (b,c) ⋈ (a,c) finds each triangle exactly once.
    Orientation bounds the join: a node contributes pairs only among its
    HIGHER-ranked neighbors, so per-node work is outdeg² under the
    orientation.

    ``degree_ordered=True`` (default) ranks nodes by ``(degree, id)``
    instead of raw id — the degeneracy-ordering refinement: a hub's
    neighbors almost all rank BELOW it, so the hub's oriented out-degree
    collapses to its few same-or-higher-degree neighbors and the
    (a,b)⋈(b,c) wedge intermediate is bounded by the graph's core number
    (O(|E|·arboricity) total) instead of a hub's full deg². On power-law
    graphs that is the difference between a runnable and a melted join;
    the price is one degree aggregation plus two re-key joins before the
    triangle joins. Triangle counts are orientation-invariant, so both
    orders return identical results (property-tested) and share the
    id-ordered DuckDB oracle. ``degree_ordered=False`` keeps the plain
    id order (skip the degree pass when the graph is known benign).

    Scale: two shuffle joins on single-key columns + one explode-free
    groupBy; edge payload is two longs. Cap or sample upstream only if
    even the degeneracy bound is too hot.
    """
    e = oriented_edges(edges, src=src, dst=dst, degree_ordered=degree_ordered)
    ab = e
    bc = e.select(F.col("a").alias("b"), F.col("b").alias("c"))
    ac = e.select(F.col("a").alias("_a"), F.col("b").alias("_c"))
    tri = (
        ab.join(bc, "b")
        .join(ac, (F.col("a") == F.col("_a")) & (F.col("c") == F.col("_c")))
        .select("a", "b", "c")
    )
    per_node = (
        tri.select(F.col("a").alias("node"))
        .union(tri.select(F.col("b").alias("node")))
        .union(tri.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("triangles"))
    )
    return per_node


def triangle_count_oracle_sql(edges_sql: str) -> str:
    """Same orientation + double join in ANSI SQL; ``edges_sql`` yields
    ``(src, dst)``."""
    return f"""
WITH e0 AS ({edges_sql}),
e AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM e0 WHERE src <> dst
),
tri AS (
  SELECT ab.a, ab.b, bc.b AS c
  FROM e ab
  JOIN e bc ON bc.a = ab.b
  JOIN e ac ON ac.a = ab.a AND ac.b = bc.b
)
SELECT node, count(*)::BIGINT AS triangles
FROM (
  SELECT a AS node FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
)
GROUP BY node ORDER BY node
"""


# ---------------------------------------------------------------------------
# k-core decomposition (fixed-round peeling)
# ---------------------------------------------------------------------------

def kcore(edges: DataFrame, k: int = 12, rounds: int = 2, *,
          src: str = "src", dst: str = "dst",
          checkpoint: bool = True) -> DataFrame:
    """Fixed-round k-core peeling over a SYMMETRIC edge list (both
    directions present, as pagerank expects): each round computes degrees
    over the remaining edges and drops every node below ``k`` together
    with its edges, so survivors' degrees fall and the next round can
    cascade. Returns ``(node, degree)`` — the degree AFTER the final
    round's edge set, i.e. the membership certificate of the ``rounds``-
    step peel.

    Fixed ``rounds`` instead of peel-to-fixpoint is the same stance as
    the integer pagerank above: a bounded, deterministic computation that
    an unrolled-CTE oracle recomputes exactly. At 100 TB you run the same
    loop to convergence with an emptiness check on the peeled frontier.
    Each round is one partial-aggregated degree count (carrying <= |V|
    combined rows) plus two survivor semi-joins. From round 2 on they are
    BROADCAST — the peeled survivor set is the same bound pagerank's rank
    broadcast already rides, so the edge list does not shuffle for them
    (r13: the unhinted joins planned as sort-merge, exchanging the whole
    edge list twice per round on src then dst). Round 1's survivor set is
    still about |V|, so it carries no hint and AQE picks its join
    strategy from the measured size. Each round ends with a
    ``localCheckpoint(eager=False)`` — exactly pagerank's lineage stance
    above — so the plan stays O(1) deep however many rounds run, instead
    of nesting the whole previous peel under two fresh semi-joins per
    round (``checkpoint=False`` keeps the nested plan visible for plan
    inspection/tests only).
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    for r in range(rounds):
        keep = (
            e.groupBy("src").agg(F.count("*").alias("deg"))
            .filter(F.col("deg") >= k)
            .select("src")
        )
        a, b = (keep.withColumnRenamed("src", c) for c in ("_a", "_b"))
        if r:
            a, b = F.broadcast(a), F.broadcast(b)
        e = (
            e.join(a, F.col("src") == F.col("_a"), "left_semi")
            .join(b, F.col("dst") == F.col("_b"), "left_semi")
        )
        if checkpoint:
            e = e.localCheckpoint(eager=False)
    return (
        e.groupBy("src").agg(F.count("*").cast("long").alias("degree"))
        .select(F.col("src").cast("long").alias("node"), "degree")
        .orderBy("node")
    )


def kcore_oracle_sql(edges_sql: str, k: int = 12, rounds: int = 2) -> str:
    """Unrolled peel: one (degree -> survivor -> edge restriction) CTE
    block per round, then the final degree count."""
    ctes = [f"e0 AS ({edges_sql})"]
    for r in range(rounds):
        ctes.append(
            f"d{r} AS (SELECT src, count(*)::BIGINT AS deg FROM e{r} "
            f"GROUP BY src)"
        )
        ctes.append(f"k{r} AS (SELECT src FROM d{r} WHERE deg >= {k})")
        ctes.append(
            f"e{r + 1} AS (SELECT e.src, e.dst FROM e{r} e "
            f"JOIN k{r} a ON e.src = a.src JOIN k{r} b ON e.dst = b.src)"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT src::BIGINT AS node, count(*)::BIGINT AS degree "
        f"FROM e{rounds} GROUP BY src ORDER BY node"
    )
