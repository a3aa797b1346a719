"""G7 skew fixture (FIXTURES.md §3): hub vertex + ER background.
Gates: identical results salted vs unsalted; window top-k and
aggregations survive the hub without quadratic behavior."""

import numpy as np

from graph_mining_spark.csr import gather_sum, materialize_csr_shards
from graph_mining_spark.graph import sparsify_top_k, symmetrize
from graph_mining_spark.operators.affinity import AffinityConfig, affinity_cluster, best_neighbor
from graph_mining_spark.operators.connected_components import connected_components
from tests.conftest import make_edges
from tests.oracles import bfs_components, seeded_er_edges


def _g7(n=2000, seed=23):
    er = seeded_er_edges(n, 4.0 / n, seed=seed)
    hub = [(0, v, 0.5) for v in range(1, n)]
    return er + hub


def test_g7_cc_matches_oracle(spark):
    edges = _g7()
    e = make_edges(spark, edges)
    vids = {u for u, *_ in edges} | {v for _, v, _ in edges}
    # default (CSR below the vertex gate) and the hub on the shuffle plan
    for thr in (131_072, 0):
        got = {
            r["vid"]: r["label"] for r in connected_components(e, broadcast_threshold=thr).collect()
        }
        assert got == bfs_components(vids, edges)
        assert set(got.values()) == {0}  # hub connects everything


def test_g7_salted_gather_identical(spark):
    edges = _g7(n=1000)
    directed = edges + [(v, u, w) for u, v, w in edges]
    e = make_edges(spark, directed)
    plain = materialize_csr_shards(e, partitions=4, salt_threshold=10**9)
    salted = materialize_csr_shards(e, partitions=4, salt_threshold=50)  # hub split ~20 ways
    vals = np.linspace(0.1, 1.1, plain.n)
    assert np.allclose(gather_sum(plain, vals), gather_sum(salted, vals), atol=1e-12)
    plain.unpersist()
    salted.unpersist()


def test_g7_best_neighbor_and_affinity_stable(spark):
    edges = _g7(n=500)
    sym = symmetrize(make_edges(spark, edges))
    best = best_neighbor(sym)
    assert best.count() == sym.select("src").distinct().count()
    # determinism across partition counts (FIXTURES determinism gate)
    e4 = make_edges(spark, edges).repartition(4)
    e17 = make_edges(spark, edges).repartition(17)
    a = {r["vid"]: r["label"] for r in affinity_cluster(e4, AffinityConfig(num_iterations=1)).collect()}
    b = {r["vid"]: r["label"] for r in affinity_cluster(e17, AffinityConfig(num_iterations=1)).collect()}
    assert a == b


def test_g7_sparsify_caps_hub(spark):
    edges = _g7(n=500)
    sym = symmetrize(make_edges(spark, edges))
    capped = sparsify_top_k(sym, k=10, soft=False)
    deg = capped.groupBy("src").count().agg({"count": "max"}).first()[0]
    assert deg <= 10
