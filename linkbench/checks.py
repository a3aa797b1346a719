"""Independent checks of the engine's outputs.

Every reference here is computed apart from the program: from the
generator's plant (edges, content), with ``hashlib``, or with NumPy code
written for this file.  Each check returns a list of
error strings; an empty list means the output passed.

Vertex ids (``vid``) are the engine's dense ids.  The edge check maps
them back to ``repo:path`` keys through the engine's vertex table, so it
never assumes how ids were assigned.
"""

from __future__ import annotations

import hashlib
from collections import Counter

import numpy as np

CLIQUE_MAX = 8  # content groups above this size become stars


def check_sha256(contents: dict[str, str], keys: list[str], hashes: list[str]) -> list[str]:
    """``hashes[i]`` must be the sha256 of the content of row ``keys[i]``."""
    errs = []
    if sorted(keys) != sorted(contents):
        errs.append(f"sha256: {len(keys)} hashed rows for {len(contents)} input rows")
    bad = [
        k
        for k, h in zip(keys, hashes)
        if k in contents and hashlib.sha256(contents[k].encode()).hexdigest() != h
    ]
    if bad:
        errs.append(f"sha256: {len(bad)} rows differ, e.g. {bad[0]}")
    return errs


def check_edges(
    vid_key: dict[int, str],
    src: np.ndarray,
    dst: np.ndarray,
    imports: set[tuple[str, str]],
    groups: list[list[str]],
) -> list[str]:
    """The directed edge table against the plant.

    Same-repo edges must equal the planted imports (importer -> imported).
    Cross-repo edges must join members of one planted content group: all
    pairs of a group of at most ``CLIQUE_MAX`` members, or a star of g-1
    edges with one shared endpoint for a larger group.
    """
    errs = []
    keys = [(vid_key.get(int(s)), vid_key.get(int(d))) for s, d in zip(src, dst)]
    unknown = sum(1 for a, b in keys if a is None or b is None)
    if unknown:
        errs.append(f"edges: {unknown} edges name a vid outside the vertex table")
        return errs
    if len(set(zip(src.tolist(), dst.tolist()))) != len(src):
        errs.append("edges: parallel edges were not deduplicated")
    repo = lambda k: k.rsplit(":", 1)[0]  # noqa: E731
    got_imports = {(a, b) for a, b in keys if repo(a) == repo(b)}
    if got_imports != imports:
        errs.append(
            f"edges: imports differ: {len(imports - got_imports)} missing, "
            f"{len(got_imports - imports)} unexpected"
        )
    group_of = {k: g for g, members in enumerate(groups) for k in members}
    by_group: dict[int, set[frozenset]] = {}
    for a, b in keys:
        if repo(a) == repo(b):
            continue
        g = group_of.get(a)
        if g is None or group_of.get(b) != g:
            errs.append(f"edges: cross-repo edge {a} -> {b} joins no planted group")
            return errs
        by_group.setdefault(g, set()).add(frozenset((a, b)))
    for g, members in enumerate(groups):
        pairs = by_group.get(g, set())
        size = len(members)
        if size <= CLIQUE_MAX:
            if len(pairs) != size * (size - 1) // 2:
                errs.append(f"edges: group of {size} has {len(pairs)} of {size * (size - 1) // 2} clique edges")
                return errs
        else:
            ends = Counter(k for p in pairs for k in p)
            centre = ends.most_common(1)[0][0] if ends else None
            if (
                len(pairs) != size - 1
                or any(centre not in p for p in pairs)
                or set(ends) != set(members)
            ):
                errs.append(f"edges: group of {size} is not a star of {size - 1} edges")
                return errs
    return errs


def dense(src: np.ndarray, dst: np.ndarray):
    """Map an edge list's vids to 0..n-1; returns (vids, s, d)."""
    vids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    return vids, inv[: len(src)], inv[len(src):]


def pagerank_steps(s, d, n, steps, damping=0.85):
    """``steps`` power-iteration supersteps from the uniform vector,
    out-edge-uniform contributions, dangling mass through the restart."""
    deg = np.bincount(s, minlength=n).astype(np.float64)
    r = np.full(n, 1.0 / n)
    for _ in range(steps):
        r = pagerank_step(s, d, deg, r, damping)
    return r


def pagerank_step(s, d, deg, r, damping=0.85):
    n = len(r)
    dangling = r[deg == 0].sum()
    contrib = np.bincount(d, weights=r[s] / np.where(deg == 0, 1.0, deg)[s], minlength=n)
    return (1.0 - damping) / n + damping * (contrib + dangling / n)


def check_pagerank(src, dst, out_vid, out_rank, supersteps, approx_precision=1e-6, damping=0.85):
    """Mass, one-step stability and agreement with a NumPy power
    iteration run for the superstep count the program reported."""
    vids, s, d = dense(src, dst)
    n = len(vids)
    errs = []
    if len(out_vid) != n or not np.array_equal(np.sort(out_vid), vids):
        return [f"pagerank: {len(out_vid)} ranked vertices, expected {n}"]
    r = np.empty(n)
    r[np.searchsorted(vids, out_vid)] = out_rank
    if abs(r.sum() - 1.0) > 1e-9:
        errs.append(f"pagerank: ranks sum to {r.sum():.12f}")
    deg = np.bincount(s, minlength=n).astype(np.float64)
    moved = np.abs(pagerank_step(s, d, deg, r, damping) - r).sum()
    if moved >= approx_precision * n:
        errs.append(f"pagerank: one more step moves L1 {moved:.3g} >= {approx_precision * n:.3g}")
    ref = pagerank_steps(s, d, n, supersteps, damping)
    worst = np.abs(ref - r).max()
    if worst > 1e-6:
        errs.append(f"pagerank: max |rank - numpy rank| = {worst:.3g} after {supersteps} supersteps")
    return errs


def components_ref(src, dst):
    """Union-find over the edge list; every root is its component's
    minimum vid.  Returns (vids, labels)."""
    vids, s, d = dense(src, dst)
    parent = list(range(len(vids)))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(s.tolist(), d.tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    return vids, vids[np.array([find(x) for x in range(len(vids))], dtype=np.int64)]


def _compare_labels(name, vids, ref, out_vid, out_label):
    if len(out_vid) != len(vids) or not np.array_equal(np.sort(out_vid), vids):
        return [f"{name}: {len(out_vid)} labelled vertices, expected {len(vids)}"]
    got = np.empty(len(vids), dtype=np.int64)
    got[np.searchsorted(vids, out_vid)] = out_label
    bad = np.flatnonzero(got != ref)
    if len(bad):
        v = bad[0]
        return [f"{name}: {len(bad)} labels differ, e.g. vid {vids[v]}: {got[v]} != {ref[v]}"]
    return []


def check_components(src, dst, out_vid, out_label):
    vids, ref = components_ref(src, dst)
    return _compare_labels("components", vids, ref, out_vid, out_label)


def lpa_ref(src, dst, weight, max_iterations):
    """Synchronous LPA: each vertex takes the neighbour label of largest
    summed weight, ties to the smaller label; stops at a fixpoint, at a
    period-2 cycle (L_t == L_{t-2}, checked from the second round on)
    or after ``max_iterations`` rounds.  Returns (vids, labels, rounds)."""
    vids, s, d = dense(src, dst)
    n = len(vids)
    keep = s != d
    s, d, w = s[keep], d[keep], np.asarray(weight, dtype=np.float64)[keep]
    has_nbr = np.bincount(s, minlength=n) > 0
    cur = vids.copy()
    before = None  # L_{t-2}
    rounds = 0
    while rounds < max_iterations:
        rounds += 1
        lab = cur[d]
        # sum the weight of each (voter, label) pair
        order = np.lexsort((lab, s))
        vs, ls, ws = s[order], lab[order], w[order]
        start = np.r_[True, (vs[1:] != vs[:-1]) | (ls[1:] != ls[:-1])]
        idx = np.flatnonzero(start)
        pv, pl, pw = vs[idx], ls[idx], np.add.reduceat(ws, idx)
        # per voter: largest weight, then smallest label
        order = np.lexsort((pl, -pw, pv))
        pv, pl = pv[order], pl[order]
        first = np.r_[True, pv[1:] != pv[:-1]]
        new = cur.copy()
        new[pv[first]] = pl[first]
        new[~has_nbr] = cur[~has_nbr]
        changed = np.count_nonzero(new != cur)
        cycle = before is not None and np.array_equal(new, before)
        before, cur = cur, new
        if changed == 0 or cycle:
            break
    return vids, cur, rounds


def check_lpa(src, dst, weight, max_iterations, out_vid, out_label):
    vids, ref, _ = lpa_ref(src, dst, weight, max_iterations)
    return _compare_labels("label_propagation", vids, ref, out_vid, out_label)


def triangles_ref(src, dst):
    """Per-vertex triangle counts by wedge closing over a degree-ordered
    orientation (every triangle is found once, at its lowest-ranked
    corner).  Returns (vids, counts, global_count)."""
    vids, s, d = dense(src, dst)
    n = len(vids)
    lo, hi = np.minimum(s, d), np.maximum(s, d)
    pairs = np.unique(np.stack([lo[lo != hi], hi[lo != hi]], axis=1), axis=0)
    deg = np.bincount(pairs.ravel(), minlength=n)
    a, b = pairs[:, 0], pairs[:, 1]
    a_first = (deg[a] < deg[b]) | ((deg[a] == deg[b]) & (a < b))
    u = np.where(a_first, a, b).astype(np.int64)
    v = np.where(a_first, b, a).astype(np.int64)
    order = np.lexsort((v, u))
    u, v = u[order], v[order]
    edge_keys = np.sort(u * n + v)
    counts = np.zeros(n, dtype=np.int64)
    total = 0
    # wedges (u, v_i, v_j): out-neighbours i < j of one vertex u
    for off in range(1, int(np.bincount(u, minlength=n).max(initial=0))):
        i = np.flatnonzero(u[:-off] == u[off:])
        x, y = v[i], v[i + off]
        k1, k2 = x * n + y, y * n + x
        pos1 = np.searchsorted(edge_keys, k1)
        pos2 = np.searchsorted(edge_keys, k2)
        hit1 = edge_keys[np.minimum(pos1, len(edge_keys) - 1)] == k1
        hit2 = edge_keys[np.minimum(pos2, len(edge_keys) - 1)] == k2
        closed = hit1 | hit2
        total += int(closed.sum())
        for corner in (u[i][closed], x[closed], y[closed]):
            counts += np.bincount(corner, minlength=n)
    return vids, counts, total


def check_triangles(src, dst, out_vid, out_count):
    vids, ref, total = triangles_ref(src, dst)
    errs = _compare_labels("triangles", vids, ref, out_vid, out_count)
    if int(np.sum(out_count)) != 3 * total:
        errs.append(f"triangles: corner sum {int(np.sum(out_count))} != 3 x {total}")
    return errs
