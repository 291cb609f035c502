"""Fixed-iteration integer PageRank: structural properties + a hand-checked
tiny graph."""

import pyspark.sql.functions as F

from cassandra_ttl_remover_spark.operators.graph import pagerank


def _ranks(spark, edge_rows, iters=2):
    e = spark.createDataFrame(edge_rows, "src long, dst long")
    return {r.node: r.rank for r in pagerank(e, iters=iters).collect()}


def test_pagerank_symmetric_cycle_uniform(spark):
    """On a directed cycle every node keeps the uniform rank exactly:
    contrib = scale div 1, update = 150000 + 85*scale div 100 = scale."""
    cycle = [(i, (i + 1) % 5) for i in range(5)]
    got = _ranks(spark, cycle, iters=3)
    assert set(got.values()) == {1_000_000}


def test_pagerank_star_funnels_through_hub(spark):
    """A star (leaves -> hub, hub -> leaf 1): after two iterations the
    hub's ENTIRE accumulated rank has flowed to its sole out-neighbor, so
    leaf 1 ranks highest, the other leaves equal-lowest — exact funnel
    semantics of the integer update."""
    edges = [(i, 0) for i in range(1, 6)] + [(0, 1)]
    got = _ranks(spark, edges, iters=2)
    assert got[1] == max(got.values())
    assert got[2] == got[3] == got[4] == got[5] < got[0] < got[1]
    # hand value: hub after iter1 = 150000 + 85*(5 * 1M) div 100 = 4.4M;
    # leaf1 after iter2 = 150000 + 85*4.4M div 100
    assert got[1] == 150_000 + (85 * 4_400_000) // 100


def test_pagerank_matches_hand_computation(spark):
    """1<->2 plus 3 -> 1, every node outdegree 1. After one iteration:
    node 1 receives 2's and 3's full ranks, node 2 receives 1's, node 3
    receives nothing."""
    edges = [(1, 2), (2, 1), (3, 1)]
    got = _ranks(spark, edges, iters=1)
    assert got[1] == 150_000 + (85 * 2_000_000) // 100
    assert got[2] == 150_000 + (85 * 1_000_000) // 100
    assert got[3] == 150_000  # no in-edges


def test_pagerank_dangling_node_keeps_base(spark):
    """A node with in-edges but no out-edges absorbs rank; its outgoing
    contribution is simply absent (documented semantics)."""
    edges = [(1, 2)]
    got = _ranks(spark, edges, iters=2)
    assert got[1] == 150_000  # nothing flows into 1 after iter 1
    assert got[2] > got[1]


def test_triangle_count_known_graph(spark):
    """K4 has 4 triangles, 3 per node; an attached pendant edge adds none."""
    from cassandra_ttl_remover_spark.operators.graph import triangle_count

    k4 = [(a, b) for a in range(4) for b in range(4) if a != b]  # both dirs
    edges = k4 + [(3, 9)]
    e = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.triangles for r in triangle_count(e).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}  # node 9 in no triangle


def test_triangle_count_direction_and_dup_insensitive(spark):
    from cassandra_ttl_remover_spark.operators.graph import triangle_count

    tri = [(1, 2), (2, 3), (3, 1)]
    noisy = tri + [(b, a) for a, b in tri] + tri  # reversed + duplicated
    a = {r.node: r.triangles
         for r in triangle_count(spark.createDataFrame(tri, "src long, dst long")).collect()}
    b = {r.node: r.triangles
         for r in triangle_count(spark.createDataFrame(noisy, "src long, dst long")).collect()}
    assert a == b == {1: 1, 2: 1, 3: 1}


def test_triangle_degree_order_equals_id_order(spark):
    """Triangle counts are orientation-invariant: the degeneracy-ordered
    default and the id-ordered fallback must agree exactly on a messy
    pseudo-random graph (hubs, chains, cliques)."""
    from cassandra_ttl_remover_spark.operators.graph import triangle_count

    edges = []
    for i in range(400):                       # pseudo-random sprinkle
        edges.append((i * 7919 % 97, i * 104729 % 97))
    edges += [(0, i) for i in range(1, 60)]    # hub with lowest id
    edges += [(a, b) for a in range(90, 96) for b in range(90, 96)]  # clique
    e = spark.createDataFrame(
        [r for r in edges if r[0] != r[1]], "src long, dst long"
    )
    a = {r.node: r.triangles
         for r in triangle_count(e, degree_ordered=True).collect()}
    b = {r.node: r.triangles
         for r in triangle_count(e, degree_ordered=False).collect()}
    assert a == b and len(a) > 0


def test_degeneracy_order_collapses_hub_outdegree(spark):
    """The refinement's whole point, asserted directly on the oriented
    frame: a 1000-leaf star whose hub holds the LOWEST id is the id-order
    worst case (hub out-degree 1000 -> 1000-choose-2 wedges); under
    degree order the hub ranks last and its out-degree drops to 0, so the
    wedge intermediate vanishes."""
    from cassandra_ttl_remover_spark.operators.graph import oriented_edges

    star = spark.createDataFrame(
        [(0, i) for i in range(1, 1001)], "src long, dst long"
    )
    ido = oriented_edges(star, degree_ordered=False)
    dgo = oriented_edges(star, degree_ordered=True)
    max_out_id = ido.groupBy("a").count().agg(F.max("count")).first()[0]
    max_out_dg = dgo.groupBy("a").count().agg(F.max("count")).first()[0]
    assert max_out_id == 1000
    assert max_out_dg == 1  # every leaf -> hub; hub emits nothing


def test_kcore_cascade_on_chain(spark):
    """A 6-node path graph has no 2-core: each round peels the current
    endpoints (degree 1), so 2-core peeling with enough rounds empties
    it — and with rounds=1 only the first endpoints go. Pins that
    degrees are RECOUNTED after each peel."""
    from cassandra_ttl_remover_spark.operators.graph import kcore

    chain = [(i, i + 1) for i in range(1, 6)]
    edges = spark.createDataFrame(
        chain + [(b, a) for a, b in chain], "src long, dst long"
    )
    one = {r.node: r.degree for r in kcore(edges, k=2, rounds=1).collect()}
    assert set(one) == {2, 3, 4, 5}          # endpoints 1 and 6 peeled
    assert one[2] == 1 and one[3] == 2       # 2's degree DROPPED to 1
    two = {r.node: r.degree for r in kcore(edges, k=2, rounds=2).collect()}
    assert set(two) == {3, 4}                # cascade continues inward
    assert kcore(edges, k=2, rounds=3).count() == 0


def test_kcore_broadcasts_survivors_from_round_two_only(spark):
    """Round 1's survivor set is about |V|, so its two semi-joins carry no
    broadcast hint and AQE sizes them; every later round broadcasts its
    peeled survivors. In the nested (checkpoint=False) plan round 2 adds
    its 2 hints; round 3 adds 2 more over three copies of round 2's edge
    set (its input and both survivor sides)."""
    from cassandra_ttl_remover_spark.operators.graph import kcore

    edges = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(4) if a != b],
        "src long, dst long")

    def hints(rounds):
        return (kcore(edges, k=2, rounds=rounds, checkpoint=False)
                ._jdf.queryExecution().analyzed().toString()
                .count("ResolvedHint (strategy=broadcast)"))

    assert hints(1) == 0 and hints(2) == 2
    assert hints(3) == 2 + 3 * hints(2)


def test_kcore_stable_core_survives(spark):
    """A 4-clique is its own 3-core: peeling at k=3 must leave it intact
    with degrees unchanged at any round count."""
    from cassandra_ttl_remover_spark.operators.graph import kcore

    nodes = [1, 2, 3, 4]
    und = [(a, b) for a in nodes for b in nodes if a != b]
    edges = spark.createDataFrame(und, "src long, dst long")
    got = {r.node: r.degree for r in kcore(edges, k=3, rounds=3).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}
