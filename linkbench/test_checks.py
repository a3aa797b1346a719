"""Tests of the benchmark's own output checks: each accepts a correct
output and rejects a corrupted one.  No Spark is needed:

    python3 -m pytest linkbench/test_checks.py -q
"""

import hashlib
import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import gen  # noqa: E402

# two triangles sharing the edge 1-2, a tail 3-4 and a separate pair 10-11
UND = [(0, 1), (0, 2), (1, 2), (1, 3), (2, 3), (3, 4), (10, 11)]
SRC = np.array([a for a, b in UND] + [b for a, b in UND], dtype=np.int64)
DST = np.array([b for a, b in UND] + [a for a, b in UND], dtype=np.int64)


def test_pagerank_accepts_converged_and_rejects_perturbed_rank():
    vids, s, d = checks.dense(SRC, DST)
    steps = 60
    ranks = checks.pagerank_steps(s, d, len(vids), steps)
    assert checks.check_pagerank(SRC, DST, vids, ranks, steps) == []
    bad = ranks.copy()
    bad[2] += 1e-5
    bad[3] -= 1e-5  # mass preserved, one vertex off by more than 1e-6
    assert checks.check_pagerank(SRC, DST, vids, bad, steps)


def test_components_rejects_one_changed_label():
    vids, labels = checks.components_ref(SRC, DST)
    assert labels.tolist() == [0, 0, 0, 0, 0, 10, 10]
    assert checks.check_components(SRC, DST, vids, labels) == []
    bad = labels.copy()
    bad[4] = 3
    assert checks.check_components(SRC, DST, vids, bad)


def test_lpa_reference_and_rejects_one_changed_label():
    w = np.ones(len(SRC))
    vids, labels, rounds = checks.lpa_ref(SRC, DST, w, 10)
    # the 10-11 pair swaps labels every round: stops on the 2-cycle
    assert rounds <= 10
    assert checks.check_lpa(SRC, DST, w, 10, vids, labels) == []
    bad = labels.copy()
    bad[0] = bad[0] + 100
    assert checks.check_lpa(SRC, DST, w, 10, vids, bad)


def test_lpa_clique_converges_to_min_label():
    k4 = [(a, b) for a in range(4) for b in range(4) if a != b]
    s = np.array([a for a, b in k4])
    d = np.array([b for a, b in k4])
    _, labels, _ = checks.lpa_ref(s, d, np.ones(len(s)), 10)
    assert labels.tolist() == [0, 0, 0, 0]


def test_triangles_reference_and_rejects_dropped_triangle():
    vids, counts, total = checks.triangles_ref(SRC, DST)
    assert total == 2
    assert counts.tolist() == [1, 2, 2, 1, 0, 0, 0]
    assert checks.check_triangles(SRC, DST, vids, counts) == []
    bad = counts.copy()
    bad[0] -= 1  # one triangle corner dropped
    assert checks.check_triangles(SRC, DST, vids, bad)


def test_triangles_on_a_star_and_a_clique():
    star = [(0, k) for k in range(1, 50)]
    k5 = [(100 + a, 100 + b) for a in range(5) for b in range(a + 1, 5)]
    und = star + k5 + [(1, 2)]
    s = np.array([a for a, b in und] + [b for a, b in und])
    d = np.array([b for a, b in und] + [a for a, b in und])
    vids, counts, total = checks.triangles_ref(s, d)
    assert total == 10 + 1  # C(5,3) plus the star triangle 0-1-2
    assert counts[np.searchsorted(vids, 100)] == 6
    assert counts[np.searchsorted(vids, 0)] == 1


def test_edges_check_rejects_one_missing_edge():
    t = gen.generate(gen.Spec(base_repos=40, files_lo=3, files_hi=6, fork_share=0.5,
                              forks_max=7, vendored=1, vendored_share=0.9, hub_repos=5,
                              body_lines=4), seed=3)
    keys = t.keys()
    vid_key = dict(enumerate(sorted(keys)))
    vid_of = {k: v for v, k in vid_key.items()}
    edges = {(vid_of[keys[a]], vid_of[keys[b]]) for a, b in t.imports}
    sizes = []
    for g in t.groups:
        vs = sorted(vid_of[keys[i]] for i in g)
        sizes.append(len(vs))
        if len(vs) <= checks.CLIQUE_MAX:
            edges |= {(a, b) for i, a in enumerate(vs) for b in vs[i + 1:]}
        else:
            edges |= {(vs[0], b) for b in vs[1:]}
    assert max(sizes) > checks.CLIQUE_MAX  # the test covers a star
    assert min(sizes) <= checks.CLIQUE_MAX  # and a clique
    imports = {(keys[a], keys[b]) for a, b in t.imports}
    groups = [[keys[i] for i in g] for g in t.groups]
    e = sorted(edges)
    src = np.array([a for a, b in e])
    dst = np.array([b for a, b in e])
    assert checks.check_edges(vid_key, src, dst, imports, groups) == []
    for drop in (0, len(e) // 2, len(e) - 1):
        keep = np.arange(len(e)) != drop
        assert checks.check_edges(vid_key, src[keep], dst[keep], imports, groups)


def test_sha256_rejects_a_changed_hash():
    contents = {"r:a": "x\n", "r:b": "y\n"}
    keys = list(contents)
    good = [hashlib.sha256(contents[k].encode()).hexdigest() for k in keys]
    assert checks.check_sha256(contents, keys, good) == []
    assert checks.check_sha256(contents, keys, [good[1], good[0]])


def test_generator_is_seeded():
    spec = gen.Spec(base_repos=20, files_lo=3, files_hi=5, fork_share=0.5, forks_max=3,
                    vendored=1, vendored_share=0.5, hub_repos=2, body_lines=4)
    a, b, c = gen.generate(spec, 1), gen.generate(spec, 1), gen.generate(spec, 2)
    assert a.content == b.content and a.imports == b.imports
    assert a.content != c.content
