"""Integer fixed-point PageRank (operators/graph.py)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from stock_indicators_etl_spark.operators.graph import (
    PR_SCALE,
    pagerank,
    triangle_counts,
)


def _replica(edges, iters, scale=PR_SCALE, num=85, den=100):
    verts = sorted({v for e in edges for v in e})
    n = len(verts)
    deg = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    rank = {v: scale // n for v in verts}
    for _ in range(iters):
        inflow = {v: 0 for v in verts}
        for s, d in edges:
            inflow[d] += rank[s] // deg[s]
        rank = {
            v: (scale * (den - num)) // (den * n) + (num * inflow[v]) // den
            for v in verts
        }
    return rank


def _run(spark, edges, iters=5):
    df = spark.createDataFrame(
        pd.DataFrame(edges, columns=["src", "dst"])
    )
    return {
        r["v"]: r["rank"] for r in pagerank(df, iters=iters).collect()
    }


def test_matches_python_replica_star(spark):
    # star: everyone links to 0, 0 links back to 1
    edges = [(i, 0) for i in range(1, 6)] + [(0, 1)]
    got = _run(spark, edges, iters=5)
    assert got == _replica(edges, 5)
    # the hub out-ranks every leaf
    assert got[0] == max(got.values())


def test_matches_python_replica_chain_and_cycle(spark):
    chain = [(i, i + 1) for i in range(6)]
    assert _run(spark, chain, iters=4) == _replica(chain, 4)
    cycle = [(i, (i + 1) % 5) for i in range(5)]
    got = _run(spark, cycle, iters=6)
    assert got == _replica(cycle, 6)
    # symmetric cycle: all ranks equal
    assert len(set(got.values())) == 1


def test_rejects_zero_iters(spark):
    df = spark.createDataFrame(pd.DataFrame({"src": [1], "dst": [2]}))
    with pytest.raises(ValueError):
        pagerank(df, iters=0)


def test_triangle_counts_known_graph(spark):
    import pandas as pd

    from stock_indicators_etl_spark.operators.graph import triangle_counts

    # K4 on {1,2,3,4} (4 triangles, each vertex in 3) + pendant 5 +
    # disconnected edge 6-7; duplicate + reversed edges must not
    # double-count
    edges = pd.DataFrame(
        {
            "src": [1, 1, 1, 2, 2, 3, 4, 6, 2, 1],
            "dst": [2, 3, 4, 3, 4, 4, 5, 7, 1, 2],
        }
    )
    got = {
        r["v"]: r["n_tri"]
        for r in triangle_counts(spark.createDataFrame(edges)).collect()
    }
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_triangle_counts_matches_bruteforce_random_graphs(spark):
    import itertools

    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(5)
    for trial in range(3):
        n = 14
        edges = set()
        for _ in range(40):
            a, b = rng.integers(0, n, 2)
            if a != b:
                edges.add((int(min(a, b)), int(max(a, b))))
        want = {}
        for u, v, w in itertools.combinations(range(n), 3):
            if (
                (u, v) in edges and (v, w) in edges and (u, w) in edges
            ):
                for x in (u, v, w):
                    want[x] = want.get(x, 0) + 1
        got = {
            r["v"]: r["n_tri"]
            for r in triangle_counts(
                spark.createDataFrame(
                    pd.DataFrame(list(edges), columns=["src", "dst"])
                )
            ).collect()
        }
        assert got == want, f"trial {trial}"


# ---------------------------------------------------------------------------
# k-core
# ---------------------------------------------------------------------------


def _peel_py(edges, k):
    """Reference peel: repeat degree-filter until fixpoint; return
    {v: degree in the k-core subgraph}."""
    es = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    while True:
        deg = {}
        for a, b in es:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        bad = {v for v, d in deg.items() if d < k}
        if not bad:
            return deg
        es = {(a, b) for a, b in es if a not in bad and b not in bad}


def _kcore_spark(spark, edges, k, **kw):
    from stock_indicators_etl_spark.operators.graph import kcore

    df = spark.createDataFrame(pd.DataFrame(list(edges), columns=["src", "dst"]))
    return {r["v"]: r["core_deg"] for r in kcore(df, k=k, **kw).collect()}


def test_kcore_clique_plus_pendants(spark):
    # 4-clique {0,1,2,3}; chain 3-4-5; pendant 6 on 0
    clique = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    edges = clique + [(3, 4), (4, 5), (0, 6)]
    got = _kcore_spark(spark, edges, 3)
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}  # chain + pendant peel away


def test_kcore_peel_cascade(spark):
    # a chain needs multiple peel rounds: 0-1-2-3-4 under k=2 unravels
    # end-in; triangle {5,6,7} attached at 4 survives with the 4-5 edge
    # gone
    edges = [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 7), (5, 7)]
    got = _kcore_spark(spark, edges, 2)
    assert got == {5: 2, 6: 2, 7: 2}


def test_kcore_empty_when_k_exceeds_graph(spark):
    edges = [(0, 1), (1, 2), (0, 2)]
    assert _kcore_spark(spark, edges, 3) == {}


def test_kcore_matches_python_peel_random_graphs(spark):
    rng = np.random.default_rng(55)
    for trial in range(3):
        n = 14
        edges = set()
        for _ in range(45):
            a, b = rng.integers(0, n, 2)
            if a != b:
                edges.add((int(min(a, b)), int(max(a, b))))
        for k in (2, 3):
            assert _kcore_spark(spark, edges, k) == _peel_py(edges, k), (
                f"trial {trial} k {k}"
            )


def test_kcore_duplicate_and_reversed_edges_collapse(spark):
    edges = [(0, 1), (1, 0), (0, 1), (1, 2), (2, 0)]
    got = _kcore_spark(spark, edges, 2)
    assert got == {0: 2, 1: 2, 2: 2}


def test_kcore_long_path_peels_to_empty(spark):
    # a path loses both ends per round: 100 vertices need 50 peel
    # rounds (plus the round that sees no change), within max_rounds=64
    edges = [(i, i + 1) for i in range(99)]
    assert _kcore_spark(spark, edges, 2) == {}


def test_kcore_raises_when_peeling_exceeds_max_rounds(spark):
    # 140 vertices need 70 rounds: stopping at 64 would return a
    # leftover stub of the path, which is not the (empty) 2-core
    edges = [(i, i + 1) for i in range(139)]
    with pytest.raises(RuntimeError, match="max_rounds"):
        _kcore_spark(spark, edges, 2)


def test_kcore_rejects_bad_k(spark):
    from stock_indicators_etl_spark.operators.graph import kcore

    df = spark.createDataFrame(pd.DataFrame({"src": [1], "dst": [2]}))
    with pytest.raises(ValueError):
        kcore(df, k=0)


# ---------------------------------------------------------------------------
# label propagation
# ---------------------------------------------------------------------------


def _lpa_py(edges, iters):
    es = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    nbrs = {}
    for a, b in es:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    label = {v: v for v in nbrs}
    for _ in range(iters):
        new = {}
        for v in nbrs:
            cnt = {}
            for n in nbrs[v]:
                cnt[label[n]] = cnt.get(label[n], 0) + 1
            new[v] = min(cnt, key=lambda l: (-cnt[l], l))
        label = new
    return label


def _lpa_spark(spark, edges, iters):
    from stock_indicators_etl_spark.operators.graph import label_propagation

    df = spark.createDataFrame(pd.DataFrame(list(edges), columns=["src", "dst"]))
    return {r["v"]: r["label"] for r in label_propagation(df, iters=iters).collect()}


def test_lpa_clique_converges_to_min_label(spark):
    clique = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    got = _lpa_spark(spark, clique, 4)
    assert got == {v: 0 for v in range(5)}


def test_lpa_two_cliques_keep_separate_communities(spark):
    c1 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    c2 = [(a, b) for a in range(10, 14) for b in range(a + 1, 14)]
    got = _lpa_spark(spark, c1 + c2 + [(3, 10)], 4)
    # the bridge never wins a local majority inside either clique
    assert {got[v] for v in range(3)} == {0}
    assert {got[v] for v in range(11, 14)} == {10}


def test_lpa_matches_python_replica_random_graphs(spark):
    rng = np.random.default_rng(66)
    for trial in range(3):
        n = 12
        edges = set()
        for _ in range(30):
            a, b = rng.integers(0, n, 2)
            if a != b:
                edges.add((int(min(a, b)), int(max(a, b))))
        for iters in (1, 3):
            assert _lpa_spark(spark, edges, iters) == _lpa_py(edges, iters), (
                f"trial {trial} iters {iters}"
            )


def test_lpa_rejects_zero_iters(spark):
    from stock_indicators_etl_spark.operators.graph import label_propagation

    df = spark.createDataFrame(pd.DataFrame({"src": [1], "dst": [2]}))
    with pytest.raises(ValueError):
        label_propagation(df, iters=0)
