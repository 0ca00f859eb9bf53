"""Transforms + properties vs hand-computed values and the oracle."""

import math

from pyspark.sql import functions as F

from louvain_communities_openmp_spark.oracle import adjacency, karate, louvain_seq, toy5
from louvain_communities_openmp_spark.oracle.graphs import toy5_selfloops
from louvain_communities_openmp_spark.oracle.louvain_seq import modularity as modularity_seq
from louvain_communities_openmp_spark.operators.properties import (
    community_count,
    community_sizes,
    community_weights,
    edge_weight,
    modularity,
    total_weight_m,
    vertex_weights,
)
from louvain_communities_openmp_spark.operators.transforms import (
    add_self_loops,
    apply_batch,
    count_self_loops,
    degrees,
    symmetricize,
    transpose,
    transpose_with_degree,
    vertices,
)
from louvain_communities_openmp_spark.sources.edges import edges_from_list


def toy5_df(spark):
    return edges_from_list(spark, toy5())


def test_symmetricize_idempotent_and_directed_input(spark):
    # directed half of toy5 → symmetricize must produce the full closure
    half = edges_from_list(spark, [(u, v, w) for u, v, w in toy5() if u < v])
    sym = symmetricize(half)
    full = {(r["src"], r["dst"]): r["w"] for r in sym.collect()}
    assert full == {(u, v): w for u, v, w in toy5()}
    again = {(r["src"], r["dst"]): r["w"] for r in symmetricize(sym).collect()}
    assert again == full


def test_transpose_and_degree(spark):
    e = toy5_df(spark)
    t = transpose(e)
    assert {(r["src"], r["dst"]) for r in t.collect()} == {
        (v, u) for u, v, _ in toy5()
    }
    d = {r["id"]: r["degree"] for r in degrees(e).collect()}
    assert d == {0: 2, 1: 2, 2: 4, 3: 2, 4: 2}
    td = transpose_with_degree(e)
    got = {(r["src"], r["dst"]): r["src_outdeg"] for r in td.collect()}
    # src_outdeg is the out-degree of the *new* dst (= old src)
    assert got[(1, 0)] == 2 and got[(0, 2)] == 4


def test_self_loops(spark):
    e = toy5_df(spark)
    assert count_self_loops(e) == 0
    e2 = add_self_loops(e, w=2.0, vertex_pred=lambda c: c.isin(0, 2))
    assert count_self_loops(e2) == 2
    sl = edges_from_list(spark, toy5_selfloops())
    vt = {r["id"]: r["vtot"] for r in vertex_weights(sl).collect()}
    assert vt[0] == 4.0 and vt[2] == 6.0  # self-loop in vtot (louvain.hxx:194-218)


def test_vertices_and_batch(spark):
    e = toy5_df(spark)
    assert {r["id"] for r in vertices(e).collect()} == set(range(5))
    dels = edges_from_list(spark, [(3, 4, 1.0), (4, 3, 1.0)])
    ins = edges_from_list(spark, [(0, 4, 1.0), (4, 0, 1.0)])
    e2 = apply_batch(e, dels, ins)
    got = {(r["src"], r["dst"]) for r in e2.collect()}
    assert (3, 4) not in got and (4, 3) not in got
    assert (0, 4) in got and (4, 0) in got
    assert e2.count() == e.count()


def test_edge_weight_and_m(spark):
    e = toy5_df(spark)
    assert edge_weight(e) == 12.0
    assert total_weight_m(e) == 6.0


def test_vtot_ctot_modularity_vs_oracle_karate(spark):
    kar = karate()
    adj = adjacency(kar)
    e = edges_from_list(spark, kar)
    res = louvain_seq(adj)
    vt = vertex_weights(e)
    assert {r["id"]: r["vtot"] for r in vt.collect()} == {
        i: w for i, w in enumerate(res.vertex_weight)
    }
    mem = e.sparkSession.createDataFrame(
        [(i, int(c)) for i, c in enumerate(res.membership)], "id long, com long"
    )
    ct = {r["com"]: r["ctot"] for r in community_weights(mem, vt).collect()}
    # oracle ctot at convergence
    want = {}
    for i, c in enumerate(res.membership):
        want[c] = want.get(c, 0.0) + res.vertex_weight[i]
    assert all(math.isclose(ct[c], want[c], abs_tol=1e-9) for c in want)
    q = modularity(e, mem)
    assert math.isclose(q, res.modularity, abs_tol=1e-9)
    assert community_count(mem) == len(set(res.membership))
    sizes = {r["com"]: r["size"] for r in community_sizes(mem).collect()}
    assert sum(sizes.values()) == 34


def test_modularity_singletons_karate(spark):
    """Q of the singleton partition — closed form check."""
    kar = karate()
    e = edges_from_list(spark, kar)
    mem = e.sparkSession.range(34).select(
        F.col("id"), F.col("id").alias("com")
    )
    q = modularity(e, mem)
    assert math.isclose(
        q, modularity_seq(adjacency(kar), list(range(34))), abs_tol=1e-12
    )


def test_modularity_membership_over_bound_falls_through(spark):
    """The serial finish LIMIT-probes the membership as well as the
    edges: a membership larger than the bound (here: karate's plus
    rows for vertices without edges) takes the distributed aggregate,
    with the same Q."""
    from louvain_communities_openmp_spark.operators.properties import (
        _modularity_local,
    )

    kar = karate()
    e = edges_from_list(spark, kar).persist()
    n_edges = e.count()
    res = louvain_seq(adjacency(kar))
    rows = [(i, int(c)) for i, c in enumerate(res.membership)]
    extra = [(1000 + i, i) for i in range(n_edges)]
    mem = spark.createDataFrame(rows + extra, "id long, com long")
    bound = n_edges + 10  # edges fit, membership does not
    assert _modularity_local(e, mem, 1.0, None, bound) is None
    q = modularity(e, mem, small_graph_edges=bound)
    assert math.isclose(q, res.modularity, abs_tol=1e-9)
    assert math.isclose(q, modularity(e, mem, small_graph_edges=0), abs_tol=1e-12)
    # both fit: the serial finish answers
    q_local = _modularity_local(e, mem, 1.0, None, 10 * bound)
    assert q_local is not None and math.isclose(q_local, q, abs_tol=1e-12)
    e.unpersist()


def test_deterministic_walks(spark):
    from louvain_communities_openmp_spark.operators.walks import (
        deterministic_walks,
    )

    und = [(0, 1), (1, 2), (2, 3), (3, 0), (1, 3)]
    e = spark.createDataFrame(
        [(s, d, 1.0) for a, b in und for s, d in ((a, b), (b, a))],
        "src long, dst long, w double",
    )
    adj = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    rows = deterministic_walks(e, n_sources=2, walk_len=5).collect()
    walks = {}
    for r in rows:
        walks.setdefault(r["walk_id"], {})[r["step"]] = r["v"]
    assert set(walks) == {0, 1}
    for wid, steps in walks.items():
        assert steps[0] == wid
        assert len(steps) == 6  # no dangling vertices -> full length
        for s in range(1, 6):
            # every hop follows a real edge
            assert steps[s] in adj[steps[s - 1]], (wid, s, steps)
    # pure function of the graph: identical on a repartitioned input
    again = {
        (r["walk_id"], r["step"], r["v"])
        for r in deterministic_walks(
            e.repartition(7), n_sources=2, walk_len=5
        ).collect()
    }
    assert again == {(r["walk_id"], r["step"], r["v"]) for r in rows}

    # dangling end: directed path 0->1->2 stops at 2
    dpath = spark.createDataFrame(
        [(0, 1, 1.0), (1, 2, 1.0)], "src long, dst long, w double"
    )
    drows = deterministic_walks(dpath, n_sources=1, walk_len=5).collect()
    assert sorted((r["step"], r["v"]) for r in drows) == [(0, 0), (1, 1), (2, 2)]


def test_salted_join_parity_and_spread(spark):
    from louvain_communities_openmp_spark.operators.skew import (
        hot_keys,
        salted_join,
    )

    # hub vertex 0 carries 400 edges; cold vertices carry ~4 each
    rows = [(0, 1000 + i, 1.0) for i in range(400)]
    rows += [(v, 100 * v + j, 1.0) for v in range(1, 20) for j in range(4)]
    e = spark.createDataFrame(rows, "src long, dst long, w double")
    state = spark.createDataFrame(
        [(v, v % 5) for v in range(0, 20)], "src long, com long"
    )
    hot = {r["_hk"] for r in hot_keys(e, "src", 100).collect()}
    assert hot == {0}

    plain = e.join(state, "src")
    salted = salted_join(e, state, "src", hot_threshold=100, n_salts=8)
    assert sorted(salted.columns) == sorted(plain.columns)
    a = {tuple(r) for r in plain.select("src", "dst", "w", "com").collect()}
    b = {tuple(r) for r in salted.select("src", "dst", "w", "com").collect()}
    assert a == b  # row-for-row identical to the unsalted join

    # the hub's rows actually split across several (key, salt) join
    # keys — the property that turns one hub reducer into n_salts of
    # them (partition-id checks are no good here: AQE re-coalesces
    # this tiny shuffle into one partition)
    with_salt = salted_join(
        e, state, "src", hot_threshold=100, n_salts=8, keep_salt=True
    )
    hub_salts = (
        with_salt.where(F.col("src") == 0).select("_salt").distinct().count()
    )
    assert hub_salts >= 4, "hot key not split across salts"
    cold_salts = (
        with_salt.where(F.col("src") == 5).select("_salt").distinct().count()
    )
    assert cold_salts == 1  # cold keys stay unsplit (no replication cost)

    # determinism: same result on a re-run with different partitioning
    again = {
        tuple(r)
        for r in salted_join(
            e.repartition(13), state, "src", hot_threshold=100, n_salts=8
        ).select("src", "dst", "w", "com").collect()
    }
    assert again == a
