"""Ported reference golden tests for betweenness_centrality.

Reference: /root/reference/tests/test_graph_solver.py:90-189.
"""

import math
from collections import deque

import numpy as np
import pytest

from polars_grouper_spark import betweenness_centrality
from polars_grouper_spark.operators.betweenness import _brandes


def _edges(spark, frm, to):
    return spark.createDataFrame(
        list(zip(frm, to)), schema="`from` string, `to` string"
    ).coalesce(1)


def _scores(df):
    return {r["node"]: r["centrality"] for r in df.collect()}


def test_line_graph(spark):
    df = _edges(spark, ["A", "B"], ["B", "C"])
    s = _scores(betweenness_centrality(df, normalized=True, directed=False))
    assert s["B"] > (s["A"] + s["C"]) / 2
    assert math.isclose(s["B"], 1.0, rel_tol=1e-5)
    assert math.isclose((s["A"] + s["C"]) / 2, 0.0, abs_tol=1e-9)


def test_star_graph(spark):
    df = _edges(spark, ["A", "A", "A", "A"], ["B", "C", "D", "E"])
    s = _scores(betweenness_centrality(df, normalized=True, directed=False))
    periph = [v for k, v in s.items() if k != "A"]
    assert s["A"] > sum(periph) / len(periph)
    assert math.isclose(sum(periph) / len(periph), 0.0, abs_tol=1e-9)


def test_directed_vs_undirected(spark):
    df = _edges(spark, ["A", "B", "C"], ["B", "C", "A"])
    d = _scores(betweenness_centrality(df, normalized=True, directed=True))
    u = _scores(betweenness_centrality(df, normalized=True, directed=False))
    assert d != u


def test_disconnected_components(spark):
    df = _edges(spark, ["A", "B", "D"], ["B", "C", "E"])
    s = _scores(betweenness_centrality(df, normalized=True, directed=False))
    assert s["B"] > 0
    for node in ["A", "C", "D", "E"]:
        assert math.isclose(s[node], 0.0, abs_tol=1e-9)


def test_empty_graph(spark):
    df = spark.createDataFrame([], schema="`from` string, `to` string")
    out = betweenness_centrality(df)
    assert out.count() == 0


def test_first_appearance_order(spark):
    df = _edges(spark, ["Z", "A"], ["A", "M"])
    nodes = [r["node"] for r in betweenness_centrality(df).collect()]
    assert nodes == ["Z", "A", "M"]


def test_duplicate_edges_affect_path_counts(spark):
    # Two parallel A-B edges double sigma through that edge; structural
    # check: result differs from the single-edge graph on a path A-B-C
    # competing with A-D-C.
    single = _edges(spark, ["A", "B", "A", "D"], ["B", "C", "D", "C"])
    doubled = _edges(spark, ["A", "A", "B", "A", "D"], ["B", "B", "C", "D", "C"])
    s1 = _scores(betweenness_centrality(single, normalized=False, directed=False))
    s2 = _scores(betweenness_centrality(doubled, normalized=False, directed=False))
    # with the duplicate, B carries 2 of the 3 shortest A->C paths
    assert s2["B"] > s1["B"]
    assert s2["D"] < s1["D"]


def test_max_broadcast_edges_guard_raises_before_collect(spark):
    """A graph denser than max_broadcast_edges must raise a clear error
    instead of assembling the driver-side adjacency (dense graphs can OOM
    the driver while staying under the node-count sampling threshold)."""
    import pytest

    # K6: 15 undirected edges -> 30 directed pairs, over the limit of 10.
    nodes = ["A", "B", "C", "D", "E", "F"]
    frm, to = [], []
    for i, a in enumerate(nodes):
        for b in nodes[i + 1:]:
            frm.append(a)
            to.append(b)
    df = _edges(spark, frm, to)
    with pytest.raises(ValueError, match="max_broadcast_edges"):
        betweenness_centrality(df, max_broadcast_edges=10)
    # same graph passes with the default bound, values sane
    s = _scores(betweenness_centrality(df, normalized=False))
    assert all(math.isclose(v, 0.0, abs_tol=1e-9) for v in s.values())


def test_auto_sampling_warns(spark):
    """Crossing auto_sample_threshold must emit a RuntimeWarning naming the
    approximation; exact runs must stay silent."""
    import warnings as _w

    import pytest

    df = _edges(spark, ["A", "B", "C"], ["B", "C", "D"])
    with pytest.warns(RuntimeWarning, match="APPROXIMATE"):
        betweenness_centrality(df, auto_sample_threshold=2)
    with _w.catch_warnings():
        _w.simplefilter("error")
        betweenness_centrality(df).collect()  # 4 nodes < 8192: exact, no warning


def test_explicit_sample_sources_does_not_warn(spark):
    """Opting in via sample_sources= is not a silent divergence - no warning."""
    import warnings as _w

    df = _edges(spark, ["A", "B", "C"], ["B", "C", "D"])
    with _w.catch_warnings():
        _w.simplefilter("error")
        betweenness_centrality(df, sample_sources=2).collect()


# --- distributed (no-broadcast) kernel parity -----------------------------

def _parity(spark, frm, to, **kw):
    from polars_grouper_spark import betweenness_centrality_distributed

    df = _edges(spark, frm, to)
    exact = _scores(betweenness_centrality(df, **kw))
    dist = _scores(betweenness_centrality_distributed(df, **kw))
    assert exact.keys() == dist.keys()
    for k in exact:
        assert math.isclose(exact[k], dist[k], rel_tol=1e-9, abs_tol=1e-12), (
            k, exact[k], dist[k])


@pytest.mark.slow
def test_distributed_parity_line(spark):
    _parity(spark, ["A", "B", "C"], ["B", "C", "D"])


@pytest.mark.slow
def test_distributed_parity_star_directed(spark):
    _parity(spark, ["C", "C", "C"], ["A", "B", "D"], directed=True)


@pytest.mark.slow
def test_distributed_parity_disconnected_unnormalized(spark):
    _parity(spark, ["A", "B", "D"], ["B", "C", "E"], normalized=False)


def test_distributed_parity_duplicate_edges(spark):
    # duplicate A-B edge: multiplicities must multiply path counts in the
    # joins exactly as in the in-memory kernel
    _parity(
        spark,
        ["A", "A", "B", "A", "D"],
        ["B", "B", "C", "D", "C"],
        normalized=False,
    )


@pytest.mark.slow
def test_distributed_parity_cycle_with_chords(spark):
    n = 8
    frm = [f"n{i}" for i in range(n)] + ["n0", "n2"]
    to = [f"n{(i + 1) % n}" for i in range(n)] + ["n4", "n6"]
    _parity(spark, frm, to)


def test_distributed_first_appearance_order(spark):
    from polars_grouper_spark import betweenness_centrality_distributed

    df = _edges(spark, ["Z", "A"], ["A", "M"])
    nodes = [r["node"] for r in betweenness_centrality_distributed(df).collect()]
    assert nodes == ["Z", "A", "M"]


def test_distributed_sampling_runs(spark):
    from polars_grouper_spark import betweenness_centrality_distributed

    df = _edges(spark, ["A", "B", "C"], ["B", "C", "D"])
    out = _scores(betweenness_centrality_distributed(df, sample_sources=2))
    assert len(out) == 4


def test_distributed_sampled_parity_with_exact(spark):
    """Both kernels draw sources with the same seeded sampler over the
    same interning, so even APPROXIMATE runs must agree exactly."""
    from polars_grouper_spark import betweenness_centrality_distributed

    n = 10
    frm = [f"n{i}" for i in range(n)] + ["n1", "n3"]
    to = [f"n{(i + 1) % n}" for i in range(n)] + ["n5", "n8"]
    df = _edges(spark, frm, to)
    exact = _scores(
        betweenness_centrality(df, normalized=False, sample_sources=4)
    )
    dist = _scores(
        betweenness_centrality_distributed(df, normalized=False, sample_sources=4)
    )
    assert exact.keys() == dist.keys()
    for k in exact:
        assert math.isclose(exact[k], dist[k], rel_tol=1e-9, abs_tol=1e-12)


def test_parity_smoke_messy_multi_partition_input(spark):
    """Both kernels on a 3-partition input carrying null endpoints,
    self-loops and the same edge in both orientations: the scores agree
    (also sampled, which pins the two interning paths to the same ids) and
    nodes come out in first-appearance order of the rows."""
    from polars_grouper_spark import betweenness_centrality_distributed

    rows = [
        ("A", "B"), ("B", "A"), (None, "Q"), ("B", "C"), ("C", "C"),
        ("C", "D"), ("R", None), ("D", "E"), ("E", "B"), ("E", "F"),
        ("F", "F"), ("F", "G"), ("G", "D"), ("B", "C"),
    ]
    df = spark.createDataFrame(rows, "`from` string, `to` string").repartition(3)
    assert df.rdd.getNumPartitions() == 3
    order = []
    for r in df.collect():
        if r["from"] is not None and r["to"] is not None:
            order += [x for x in (r["from"], r["to"]) if x not in order]
    for kw in ({}, {"directed": True}, {"sample_sources": 4, "normalized": False}):
        exact = betweenness_centrality(df, **kw).collect()
        dist = betweenness_centrality_distributed(df, **kw).collect()
        assert [r["node"] for r in exact] == order
        assert [r["node"] for r in dist] == order
        for e, d in zip(exact, dist):
            assert math.isclose(e["centrality"], d["centrality"],
                                rel_tol=1e-9, abs_tol=1e-12), (kw, e, d)


def _reference_brandes(adj, sources):
    """The pure-Python kernel the numpy one replaced: per-source BFS with
    Python-int path counts (exact at any size), adjacency as lists of
    (neighbor, multiplicity)."""
    nn = len(adj)
    cent = [0.0] * nn
    for source in sources:
        sigma = [0] * nn
        distv = [-1] * nn
        preds = [[] for _ in range(nn)]
        sigma[source] = 1
        distv[source] = 0
        order = []
        q = deque([source])
        while q:
            v = q.popleft()
            order.append(v)
            dv = distv[v]
            for w, m in adj[v]:
                if distv[w] < 0:
                    distv[w] = dv + 1
                    q.append(w)
                if distv[w] == dv + 1:
                    sigma[w] += sigma[v] * m
                    preds[w].append((v, m))
        delta = [0.0] * nn
        for w in reversed(order):
            sw = sigma[w]
            coeff_base = (1.0 + delta[w]) / sw if sw else 0.0
            for v, m in preds[w]:
                delta[v] += m * sigma[v] * coeff_base
            if w != source:
                cent[w] += delta[w]
    return cent


def test_kernel_matches_python_int_reference_past_int64():
    """On a 35x35 grid the corner-to-corner shortest-path count C(68, 34)
    exceeds 2^63, so int64 path counts would wrap; the float64 kernel must
    still match the Python-int reference.  Sources include all corners."""
    g = 35
    assert math.comb(2 * (g - 1), g - 1) > 2**63
    nbrs = [{} for _ in range(g * g)]

    def link(a, b):
        nbrs[a][b] = nbrs[a].get(b, 0) + 1
        nbrs[b][a] = nbrs[b].get(a, 0) + 1

    for r in range(g):
        for c in range(g):
            if r + 1 < g:
                link(r * g + c, (r + 1) * g + c)
            if c + 1 < g:
                link(r * g + c, r * g + c + 1)
    link(0, 1)  # a duplicated edge: multiplicity 2
    adj = [sorted(d.items()) for d in nbrs]
    indptr = np.cumsum([0] + [len(a) for a in adj])
    indices = np.array([w for a in adj for w, _ in a])
    mult = np.array([m for a in adj for _, m in a], dtype=np.float64)
    sources = sorted({0, g - 1, g * g - g, g * g - 1, *range(3, g * g, 11)})
    got = _brandes(indptr, indices, mult, np.array(sources))
    want = _reference_brandes(adj, sources)
    np.testing.assert_allclose(got, want, rtol=1e-9, atol=1e-12)


def test_max_broadcast_edges_guard_counts_mirrored_pairs(spark):
    """A 6-edge path is 12 pairs once mirrored: over a bound of 10
    undirected (raised before any broadcast), within it directed."""
    df = _edges(spark, list("ABCDEF"), list("BCDEFG"))

    def no_broadcast(*_a, **_k):
        raise AssertionError("broadcast before the guard")

    sc = spark.sparkContext
    real = sc.broadcast
    sc.broadcast = no_broadcast
    try:
        with pytest.raises(ValueError, match="max_broadcast_edges"):
            betweenness_centrality(df, directed=False, max_broadcast_edges=10)
    finally:
        sc.broadcast = real
    s = _scores(betweenness_centrality(df, directed=True, max_broadcast_edges=10))
    assert len(s) == 7 and s["D"] > s["A"]
