from graph_mining_spark.operators.connected_components import (
    components_as_clusters,
    connected_components,
)
from tests.conftest import make_edges
from tests.oracles import bfs_components, seeded_er_edges

K5A = [(u, v, 1.0) for u in range(5) for v in range(u + 1, 5)]
K5B = [(u + 5, v + 5, 1.0) for u in range(5) for v in range(u + 1, 5)]
BRIDGE = [(0, 5, 1.0)]


def _labels(df):
    return {r["vid"]: r["label"] for r in df.collect()}


def test_path_single_component(spark):
    # G1: 4-path → one component, min-id label 0
    e = make_edges(spark, [(0, 1, 2.0), (1, 2, 1.0), (2, 3, 2.0)])
    assert _labels(connected_components(e)) == {0: 0, 1: 0, 2: 0, 3: 0}


def test_barbell_and_disconnected(spark):
    # G4: K5 ∪ K5 + bridge → all 0; without bridge → labels 0 and 5
    e = make_edges(spark, K5A + K5B + BRIDGE)
    assert set(_labels(connected_components(e)).values()) == {0}
    e2 = make_edges(spark, K5A + K5B)
    labs = _labels(connected_components(e2))
    assert {labs[i] for i in range(5)} == {0}
    assert {labs[i] for i in range(5, 10)} == {5}


def test_isolated_vertices_via_vertices_arg(spark):
    e = make_edges(spark, [(1, 2, 1.0)])
    verts = spark.createDataFrame([(0,), (1,), (2,), (9,)], "vid long")
    labs = _labels(connected_components(e, vertices=verts))
    assert labs == {0: 0, 1: 1, 2: 1, 9: 9}


def test_long_path_log_rounds(spark):
    # pointer jumping must converge a 64-path well under 64 supersteps
    n = 64
    e = make_edges(spark, [(i, i + 1, 1.0) for i in range(n - 1)])
    labs = _labels(connected_components(e, max_supersteps=16))
    assert set(labs.values()) == {0} and len(labs) == n


def test_er_graph_matches_bfs_oracle(spark):
    edges = seeded_er_edges(60, 0.05, seed=11)
    e = make_edges(spark, edges)
    got = _labels(connected_components(e))
    want = bfs_components([u for u, v, w in edges] + [v for u, v, w in edges], edges)
    assert got == want


def test_determinism_across_shuffle_partitions(spark):
    edges = seeded_er_edges(40, 0.06, seed=3)
    e4 = make_edges(spark, edges).repartition(4)
    e17 = make_edges(spark, edges).repartition(17)
    assert _labels(connected_components(e4)) == _labels(connected_components(e17))


def test_clusters_output_form(spark):
    e = make_edges(spark, [(0, 1, 1.0), (2, 3, 1.0)])
    rows = {r["label"]: r["members"] for r in components_as_clusters(connected_components(e)).collect()}
    assert rows == {0: [0, 1], 2: [2, 3]}


# --- forest_components (affinity's pointer-forest specialization) ---

from graph_mining_spark.operators.connected_components import forest_components


def _forest(spark, pointers, vids):
    best = spark.createDataFrame(pointers, "src long, dst long")
    verts = spark.createDataFrame([(v,) for v in vids], "vid long")
    return best, verts


def test_forest_matches_general_cc_on_chains_and_mutual_pairs(spark):
    # two trees hanging off mutual-best 2-cycles + a singleton:
    #   7→5→3→1⇄0←2, 12⇄10←11, 99 isolated
    pointers = [
        (7, 5), (5, 3), (3, 1), (1, 0), (0, 1), (2, 0),
        (12, 10), (10, 12), (11, 10),
    ]
    vids = [0, 1, 2, 3, 5, 7, 10, 11, 12, 99]
    best, verts = _forest(spark, pointers, vids)
    want = _labels(
        connected_components(best.select("src", "dst"), vertices=verts)
    )
    # small=True is the broadcast-join mode affinity uses below its gate
    for small in (False, True):
        got = _labels(forest_components(best, verts, small=small))
        assert got == want
        assert got[99] == 99 and got[7] == 0 and got[11] == 10


def test_forest_deep_chain_log_doublings(spark):
    # a 200-deep pointer chain into a mutual pair converges by doubling
    n = 200
    pointers = [(i, i - 1) for i in range(2, n)] + [(0, 1), (1, 0)]
    best, verts = _forest(spark, pointers, list(range(n)))
    got = _labels(forest_components(best, verts))
    assert set(got.values()) == {0} and len(got) == n


def test_forest_fallback_on_long_cycle(spark):
    # a 3-cycle can't occur from deterministic best-neighbor selection,
    # but the fallback must still label it correctly
    pointers = [(0, 1), (1, 2), (2, 0), (5, 0)]
    best, verts = _forest(spark, pointers, [0, 1, 2, 5])
    got = _labels(forest_components(best, verts, max_doublings=3))
    assert got == {0: 0, 1: 0, 2: 0, 5: 0}


def test_cc_broadcast_tail_matches_shuffle_path(spark):
    edges = seeded_er_edges(80, 0.04, seed=7)
    e = make_edges(spark, edges)
    bcast = _labels(connected_components(e, broadcast_threshold=1 << 20))
    shuffle = _labels(connected_components(e, broadcast_threshold=0))
    assert bcast == shuffle


def test_forest_dangling_pointer_target_not_dropped(spark):
    # a pointer whose target is OUTSIDE the vertex table must clamp to
    # self (connected_components ignores edges through unknown
    # endpoints), not silently drop the vertex in the doubling join —
    # and two vertices sharing the same unknown target must NOT merge
    pointers = [(0, 1), (1, 0), (2, 0), (5, 777), (6, 777)]
    best, verts = _forest(spark, pointers, [0, 1, 2, 5, 6])
    got = _labels(forest_components(best, verts))
    want = _labels(connected_components(best.select("src", "dst"), vertices=verts))
    assert got == want
    assert got == {0: 0, 1: 0, 2: 0, 5: 5, 6: 6}
