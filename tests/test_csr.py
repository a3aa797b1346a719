import numpy as np

from graph_mining_spark.csr import gather_sum, materialize_csr_shards
from graph_mining_spark.operators.pagerank import pagerank, pagerank_csr
from tests.conftest import make_edges
from tests.oracles import pagerank_oracle, seeded_er_edges


def test_gather_sum_matches_manual(spark):
    edges = [(0, 1, 1.0), (2, 1, 1.0), (2, 3, 1.0), (5, 1, 1.0)]
    sh = materialize_csr_shards(make_edges(spark, edges), partitions=4)
    vals = np.arange(sh.n, dtype=np.float64) + 1.0  # value = idx+1
    got = gather_sum(sh, vals)
    # vids sorted: [0,1,2,3,5] -> idx vals [1,2,3,4,5]
    # dst 1 (idx1) <- src 0,2,5 (vals 1+3+5=9); dst 3 (idx3) <- src 2 (3)
    assert got.tolist() == [0.0, 9.0, 0.0, 3.0, 0.0]
    sh.unpersist()


def test_salting_does_not_change_results(spark):
    und = seeded_er_edges(40, 0.2, seed=21)
    directed = und + [(v, u, w) for u, v, w in und]
    e = make_edges(spark, directed)
    sh_plain = materialize_csr_shards(e, partitions=4, salt_threshold=100_000)
    sh_salted = materialize_csr_shards(e, partitions=4, salt_threshold=2)  # force splits
    vals = np.linspace(0.5, 2.5, sh_plain.n)
    a = gather_sum(sh_plain, vals)
    b = gather_sum(sh_salted, vals)
    assert np.allclose(a, b, atol=1e-12)
    sh_plain.unpersist()
    sh_salted.unpersist()


def test_pagerank_csr_vs_oracle_and_dataframe(spark):
    und = seeded_er_edges(50, 0.08, seed=5)
    directed = und + [(v, u, w) for u, v, w in und]
    e = make_edges(spark, directed)
    verts = spark.createDataFrame([(i,) for i in range(50)], "vid long")
    got = {r["vid"]: r["rank"] for r in pagerank_csr(e, vertices=verts, partitions=4).collect()}
    want = pagerank_oracle(range(50), directed)
    g = np.array([got[k] for k in sorted(got)])
    w = np.array([want[k] for k in sorted(want)])
    assert np.allclose(g, w, atol=1e-6)
    # default (CSR below the vertex gate) and the shuffle DataFrame path
    for thr in (131_072, 0):
        df_mode = {
            r["vid"]: r["rank"]
            for r in pagerank(e, vertices=verts, broadcast_threshold=thr).collect()
        }
        d = np.array([df_mode[k] for k in sorted(df_mode)])
        assert np.allclose(g, d, atol=1e-6)


def test_pagerank_csr_dangling_and_personalized(spark):
    edges = [(0, 1, 1.0)]  # 1 dangling
    e = make_edges(spark, edges)
    got = {r["vid"]: r["rank"] for r in pagerank_csr(e, partitions=2).collect()}
    want = pagerank_oracle([0, 1], edges)
    assert np.allclose([got[0], got[1]], [want[0], want[1]], atol=1e-9)

    edges2 = [(0, 1, 1), (1, 2, 1), (2, 0, 1), (2, 3, 1), (3, 2, 1)]
    e2 = make_edges(spark, edges2)
    got2 = {r["vid"]: r["rank"] for r in pagerank_csr(e2, source_vids=[0], partitions=2).collect()}
    want2 = pagerank_oracle(range(4), edges2, sources=[0])
    assert np.allclose(
        [got2[i] for i in range(4)], [want2[i] for i in range(4)], atol=1e-6
    )


def test_cc_csr_matches_dataframe_and_oracle(spark):
    from graph_mining_spark.operators.connected_components import (
        connected_components,
        connected_components_csr,
    )
    from tests.oracles import bfs_components

    edges = seeded_er_edges(60, 0.05, seed=11)
    e = make_edges(spark, edges)
    got = {r["vid"]: r["label"] for r in connected_components_csr(e, partitions=4).collect()}
    want = bfs_components([u for u, v, w in edges] + [v for u, v, w in edges], edges)
    assert got == want
    for thr in (131_072, 0):
        df_mode = {
            r["vid"]: r["label"] for r in connected_components(e, broadcast_threshold=thr).collect()
        }
        assert got == df_mode


def test_cc_csr_long_path(spark):
    from graph_mining_spark.operators.connected_components import connected_components_csr

    e = make_edges(spark, [(i, i + 1, 1.0) for i in range(99)])
    labs = {r["vid"]: r["label"] for r in connected_components_csr(e, partitions=4, max_supersteps=12).collect()}
    assert set(labs.values()) == {0} and len(labs) == 100


def test_csr_build_rejects_unknown_endpoints(spark):
    """Edges referencing vids outside a provided vertex set must raise
    (a silent searchsorted mismatch would scatter degrees and salt
    counts onto the wrong vertex)."""
    import pytest

    e = make_edges(spark, [(0, 5, 1.0)])
    verts = spark.createDataFrame([(0,), (1,)], "vid long")
    with pytest.raises(ValueError, match="not in `vertices`"):
        materialize_csr_shards(e, vertices=verts, partitions=2)


def test_csr_build_rejects_empty_vertex_table(spark):
    """An EMPTY vertex table with non-empty edges must raise the same
    informative ValueError — not an IndexError from indexing vids[-1]
    on an empty array inside the mismatch report."""
    import pytest

    e = make_edges(spark, [(0, 5, 1.0)])
    verts = spark.createDataFrame([], "vid long")
    with pytest.raises(ValueError, match="not in `vertices`"):
        materialize_csr_shards(e, vertices=verts, partitions=2)


def test_driver_gather_matches_distributed_bitwise(spark, monkeypatch):
    """The driver-local gather fast path (small single-partition shard
    sets) must be BIT-identical to the distributed map — same kernel,
    same file order, same combine."""
    from graph_mining_spark.csr import gather_min

    und = seeded_er_edges(60, 0.15, seed=9)
    directed = und + [(v, u, w) for u, v, w in und]
    sh = materialize_csr_shards(make_edges(spark, directed), partitions=4)
    assert sh.files is not None and sh.gather_parts == 1  # gate applies
    rng = np.random.RandomState(3)
    vals = rng.rand(sh.n)
    ivals = rng.randint(0, 1 << 40, sh.n).astype(np.int64)
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_GATHER_EDGES", "8000000")
    s_drv, m_drv = gather_sum(sh, vals), gather_min(sh, ivals)
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_GATHER_EDGES", "0")  # force distributed
    s_dist, m_dist = gather_sum(sh, vals), gather_min(sh, ivals)
    assert np.array_equal(s_drv, s_dist)
    assert np.array_equal(m_drv, m_dist)
    sh.unpersist()


def test_jvm_pack_matches_arrow_pack_bitwise(spark, monkeypatch):
    """The JVM broadcast-join reindex (small unsalted regime) must write
    the same shard rows in the same order as the Arrow searchsorted
    pack, so gathers downstream are bit-identical."""
    import pyarrow.parquet as pq

    und = seeded_er_edges(50, 0.2, seed=17)
    directed = und + [(v, u, w) for u, v, w in und]
    e = make_edges(spark, directed)
    monkeypatch.setenv("SPARK_GRAFT_JVM_PACK_MAX_VERTICES", "4000000")
    sh_jvm = materialize_csr_shards(e, partitions=4)
    monkeypatch.setenv("SPARK_GRAFT_JVM_PACK_MAX_VERTICES", "0")  # force Arrow pack
    sh_py = materialize_csr_shards(e, partitions=4)
    assert len(sh_jvm.files) == len(sh_py.files)
    for fj, fp in zip(sh_jvm.files, sh_py.files):
        tj = pq.read_table(fj.replace("file:", ""), columns=["s", "d"])
        tp = pq.read_table(fp.replace("file:", ""), columns=["s", "d"])
        assert tj.schema.equals(tp.schema)
        assert np.array_equal(tj.column("s").to_numpy(), tp.column("s").to_numpy())
        assert np.array_equal(tj.column("d").to_numpy(), tp.column("d").to_numpy())
    vals = np.linspace(0.1, 1.1, sh_jvm.n)
    assert np.array_equal(gather_sum(sh_jvm, vals), gather_sum(sh_py, vals))
    sh_jvm.unpersist()
    sh_py.unpersist()
