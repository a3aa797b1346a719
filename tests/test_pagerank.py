import numpy as np
import pytest

from graph_mining_spark.operators.pagerank import pagerank
from tests.conftest import make_edges
from tests.oracles import pagerank_oracle, seeded_er_edges


def _ranks(df):
    return {r["vid"]: r["rank"] for r in df.collect()}


def _assert_close(got: dict, want: dict, atol=1e-6):
    assert set(got) == set(want)
    g = np.array([got[k] for k in sorted(got)])
    w = np.array([want[k] for k in sorted(want)])
    assert np.allclose(g, w, atol=atol), f"max diff {np.abs(g - w).max()}"


def test_cycle_uniform(spark):
    # G6: 4-cycle → all ranks exactly 0.25
    e = make_edges(spark, [(0, 1, 1), (1, 2, 1), (2, 3, 1), (3, 0, 1)])
    got = _ranks(pagerank(e))
    _assert_close(got, {i: 0.25 for i in range(4)})
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_dangling_pair(spark):
    # G6: 0→1, vertex 1 dangling → redistribution via restart vector
    edges = [(0, 1, 1.0)]
    e = make_edges(spark, edges)
    _assert_close(_ranks(pagerank(e)), pagerank_oracle([0, 1], edges))


def test_star(spark):
    edges = [(i, 0, 1.0) for i in range(1, 6)]
    e = make_edges(spark, edges)
    got = _ranks(pagerank(e))
    want = pagerank_oracle(range(6), edges)
    _assert_close(got, want)
    assert got[0] > 5 * got[1]


def test_er_graph_vs_oracle(spark):
    und = seeded_er_edges(50, 0.08, seed=5)
    directed = und + [(v, u, w) for u, v, w in und]  # symmetric directed
    e = make_edges(spark, directed)
    verts = spark.createDataFrame([(i,) for i in range(50)], "vid long")
    _assert_close(_ranks(pagerank(e, vertices=verts)), pagerank_oracle(range(50), directed))


def test_personalized(spark):
    edges = [(0, 1, 1), (1, 2, 1), (2, 0, 1), (2, 3, 1), (3, 2, 1)]
    e = make_edges(spark, edges)
    got = _ranks(pagerank(e, source_vids=[0]))
    want = pagerank_oracle(range(4), edges, sources=[0])
    _assert_close(got, want)
    # mass concentrates near the source
    assert got[0] > got[3]


def test_max_iterations_cap(spark):
    edges = [(0, 1, 1), (1, 0, 1), (1, 2, 1), (2, 1, 1)]
    e = make_edges(spark, edges)
    got = _ranks(pagerank(e, max_iterations=3))
    want = pagerank_oracle(range(3), edges, max_iterations=3)
    _assert_close(got, want, atol=1e-12)


def test_validation(spark):
    e = make_edges(spark, [(0, 1, 1)])
    with pytest.raises(ValueError):
        pagerank(e, damping=1.0)
    with pytest.raises(ValueError):
        pagerank(e, approx_precision=-1)


def test_check_every_batching_matches(spark):
    # no dangling vertices (symmetric) -> batching path active
    und = seeded_er_edges(40, 0.1, seed=17)
    directed = und + [(v, u, w) for u, v, w in und]
    e = make_edges(spark, directed)
    a = _ranks(pagerank(e, max_iterations=10))
    b = _ranks(pagerank(e, max_iterations=10, check_every=5))
    _assert_close(b, a, atol=1e-12)


def _assert_broadcast_and_shuffle_agree(spark, edges, check_every, iters):
    e = make_edges(spark, edges)
    kw = dict(max_iterations=iters, check_every=check_every)
    b = {r["vid"]: r["rank"] for r in pagerank(e, broadcast_threshold=1 << 20, **kw).collect()}
    s = {r["vid"]: r["rank"] for r in pagerank(e, broadcast_threshold=0, **kw).collect()}
    assert b.keys() == s.keys()
    assert all(abs(b[k] - s[k]) < 1e-12 for k in b)


def test_broadcast_and_shuffle_plans_agree(spark):
    # the vertex-count-gated broadcast fast path must match the
    # unbounded shuffle-join plan to float re-association tolerance
    _assert_broadcast_and_shuffle_agree(spark, seeded_er_edges(120, 0.05, seed=21), 1, 8)


def test_broadcast_and_shuffle_plans_agree_batched_and_dangling(spark):
    # the same agreement with batched checks on a graph with no
    # dangling vertex, and per-step checks on a graph with one (998)
    und = seeded_er_edges(60, 0.08, seed=31)
    sym = und + [(v, u, w) for u, v, w in und]
    dangling = und + [(997, 998, 1.0)]
    for edges, check_every in [(sym, 3), (dangling, 1)]:
        _assert_broadcast_and_shuffle_agree(spark, edges, check_every, 7)
