"""Connected components (operators/graph.py): parity vs a plain-python
union-find on random graphs, chain convergence, dedup keep semantics."""
import random

from pyspark.sql import functions as F

from imagery_utils_spark.operators.graph import (
    connected_components, dedup_by_components)


def _uf_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    # min id per component
    comp = {}
    for n in list(parent):
        r = find(n)
        comp.setdefault(r, []).append(n)
    out = {}
    for members in comp.values():
        m = min(members)
        for n in members:
            out[n] = m
    return out


def test_random_graphs_match_union_find(spark):
    rng = random.Random(7)
    for trial in range(3):
        n = 200
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(150)]
        edges = [(u, v) for u, v in edges if u != v]
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {r.node: r.component
               for r in connected_components(df).collect()}
        assert got == _uf_components(edges), trial


def test_long_chain_converges(spark):
    # path graph: diameter = n-1; naive min-label propagation needs n
    # rounds, large-star/small-star must do it in O(log^2 n) — assert the
    # iteration budget stays tiny for a 512-node chain.
    n = 512
    df = spark.createDataFrame([(i, i + 1) for i in range(n - 1)],
                               "src long, dst long")
    cc = connected_components(df, max_iter=20)
    rows = cc.collect()
    assert len(rows) == n
    assert all(r.component == 0 for r in rows)


def test_self_loops_and_duplicates(spark):
    df = spark.createDataFrame(
        [(5, 5), (1, 2), (2, 1), (1, 2), (9, 9)], "src long, dst long")
    got = {r.node: r.component for r in connected_components(df).collect()}
    assert got == {5: 5, 9: 9, 1: 1, 2: 1}


def test_dedup_by_components_keep_is_min(spark):
    pairs = spark.createDataFrame(
        [(10, 11), (11, 12), (20, 21)], "id_a long, id_b long")
    rows = {r.node: (r.component, r.keep)
            for r in dedup_by_components(pairs).collect()}
    assert rows == {10: (10, True), 11: (10, False), 12: (10, False),
                    20: (20, True), 21: (20, False)}
