"""kg/stages/graph.py — PageRank power iteration vs an independent
dense numpy reference (no shared code path: the reference builds the
full transition matrix and multiplies)."""
from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from kg.stages import graph


def _numpy_pagerank(n, edge_list, iters):
    M = np.zeros((n, n))
    outdeg = np.zeros(n)
    for s, d in edge_list:
        outdeg[s] += 1
    for s, d in edge_list:
        M[d, s] += 1.0 / outdeg[s]
    pr = np.full(n, 1.0 / n)
    for _ in range(iters):
        pr = graph.TELEPORT / n + graph.DAMP * (M @ pr)
    return pr


def _edges(spark, edge_list):
    return spark.createDataFrame(edge_list, "src long, dst long")


def test_pagerank_matches_dense_reference(spark):
    # a 6-node graph with a hub, a 2-cycle, and an in-degree-0 node
    # (node 5 only points outward — it must keep teleport mass only)
    edge_list = [(0, 1), (0, 2), (0, 3), (1, 0), (2, 0), (3, 4),
                 (4, 3), (5, 0)]
    n = 6
    nodes = spark.range(n).select(F.col("id").alias("node"))
    for iters in (1, 3, 7):
        got = dict(graph.pagerank(nodes, _edges(spark, edge_list),
                                  iters=iters)
                   .collect())
        want = _numpy_pagerank(n, edge_list, iters)
        for i in range(n):
            assert abs(got[i] - want[i]) < 1e-12, (iters, i)


def test_pagerank_mass_conserved_on_symmetric_graph(spark):
    # symmetrized ring: every node has out-edges, so each iteration
    # maps total mass 1 -> TELEPORT + DAMP*1 = 1 exactly
    n = 40
    half = [(i, (i + 1) % n) for i in range(n)]
    edge_list = half + [(d, s) for s, d in half]
    nodes = spark.range(n).select(F.col("id").alias("node"))
    pr = graph.pagerank(nodes, _edges(spark, edge_list), iters=4,
                        checkpoint_every=2)
    mass = pr.agg(F.sum("pr")).collect()[0][0]
    assert abs(mass - 1.0) < 1e-12
    # ring symmetry: every node identical
    vals = [r["pr"] for r in pr.collect()]
    assert max(vals) - min(vals) < 1e-15


def test_pagerank_dangling_nodes_keep_teleport_only(spark):
    # documented simplified variant: a node with no out-edges loses
    # its mass; a node with no IN-edges holds exactly TELEPORT/n
    edge_list = [(0, 1), (1, 2), (2, 0), (3, 0)]  # 3 has no in-edges
    nodes = spark.range(4).select(F.col("id").alias("node"))
    got = dict(graph.pagerank(nodes, _edges(spark, edge_list),
                              iters=3).collect())
    assert abs(got[3] - graph.TELEPORT / 4) < 1e-15


def _numpy_khop_min(n, edge_list, iters):
    """Independent reference: label(v,t) = min over {v} ∪ in-nbrs of
    label(·, t-1), computed densely."""
    lab = list(range(n))
    for _ in range(iters):
        nxt = list(lab)
        for s, d in edge_list:
            nxt[d] = min(nxt[d], lab[s])
        lab = nxt
    return lab


def test_min_label_propagation_matches_dense_reference(spark):
    # directed graph incl. a node with no in-edges (keeps own label)
    edge_list = [(3, 0), (0, 1), (1, 2), (4, 2), (2, 4), (5, 4)]
    n = 6
    nodes = spark.range(n).select(
        F.col("id").cast("string").alias("node"))
    edges = spark.createDataFrame(
        [(str(s), str(d)) for s, d in edge_list],
        "src string, dst string")
    for iters in (1, 2, 4):
        got = dict(graph.min_label_propagation(nodes, edges,
                                               iters=iters).collect())
        want = _numpy_khop_min(n, edge_list, iters)
        for v in range(n):
            assert got[str(v)] == str(want[v]), (iters, v)


def test_min_label_propagation_fixpoint_is_cc_min(spark):
    # symmetrized 2-component graph; diameter 3 -> 3 rounds converge
    half = [(0, 1), (1, 2), (2, 3), (5, 6), (6, 4)]
    edge_list = half + [(d, s) for s, d in half]
    nodes = spark.range(7).select(
        F.col("id").cast("string").alias("node"))
    edges = spark.createDataFrame(
        [(str(s), str(d)) for s, d in edge_list],
        "src string, dst string")
    got = dict(graph.min_label_propagation(nodes, edges, iters=3,
                                           checkpoint_every=2)
               .collect())
    assert got == {"0": "0", "1": "0", "2": "0", "3": "0",
                   "4": "4", "5": "4", "6": "4"}


def _brute_triangles(nodes, edge_set):
    import itertools

    per = {v: 0 for v in nodes}
    for a, b, c in itertools.combinations(sorted(nodes), 3):
        if ((a, b) in edge_set and (b, c) in edge_set
                and (a, c) in edge_set):
            for v in (a, b, c):
                per[v] += 1
    return {v: k for v, k in per.items() if k}


#: No triangles. Packing int ids with a 32-bit shift masks the shift
#: to a no-op (key = a + c), so edge (1, 21) closed the wedge
#: 10→11→12 (1 + 21 == 10 + 12): a phantom triangle {10, 11, 12}.
_SQUARE_PLUS_EDGE = {(10, 11), (11, 12), (12, 13), (10, 13), (1, 21)}


def test_triangle_counts_matches_bruteforce(spark):
    """Exact per-node counts vs brute force, for both 32- and 64-bit
    id columns (the broadcast closing probe packs ids into one long)."""
    import random

    rng = random.Random(7)
    n = 25
    random_set = {(a, b) for a in range(n) for b in range(a + 1, n)
                  if rng.random() < 0.25}
    for id_type in ("int", "long"):
        for edge_set in (random_set, _SQUARE_PLUS_EDGE):
            edges = spark.createDataFrame(
                sorted(edge_set), f"src {id_type}, dst {id_type}")
            got = dict(graph.triangle_counts(edges).collect())
            nodes = {v for e in edge_set for v in e}
            assert got == _brute_triangles(nodes, edge_set), id_type
    assert sum(_brute_triangles(range(n), random_set).values()) > 0


def test_triangle_counts_bipartite_is_empty(spark):
    # complete bipartite K_{3,3}: odd cycles impossible -> 0 rows
    for id_type in ("int", "long"):
        edges = spark.createDataFrame(
            [(a, b) for a in range(3) for b in range(10, 13)],
            f"src {id_type}, dst {id_type}")
        assert graph.triangle_counts(edges).count() == 0, id_type
