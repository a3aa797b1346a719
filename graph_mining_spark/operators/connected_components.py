"""Connected components via delta hash-to-min + pointer jumping.

Reference semantics: asynchronous union-find with component id = the
MINIMUM node id in the component
(/root/reference/in_memory/connected_components/asynchronous_union_find.h:44-49,
connected_components_graph.h:38-117).  Shared-memory atomic union-find
does not transfer to a cluster, so we compute the same fixpoint with a
label-propagation iteration (SURVEY.md §2.2):

  superstep t:
    (1) neighbor-min : label[v] ← min(label[v], min_{u∈N(v), u changed} label[u])
    (2) pointer jump : label[v] ← label[label[v]]   (path-halving analog of
                       union-find's path compression)

Invariants: label[v] ≤ v, label values stay inside v's component, labels
are non-increasing — so the fixpoint assigns every vertex the minimum
vid of its component, exactly the reference's canonical labeling.

Scale design:
  - the edge table is hash-partitioned by ``src`` ONCE and persisted;
    each superstep only shuffles the (much smaller) label table;
  - step (1) is delta-based: only labels that changed last round are
    joined against the edge table, so late supersteps touch a shrinking
    frontier instead of all m edges;
  - the groupBy-min gets map-side partial aggregation, which bounds
    hot-vertex (skew) reduce fan-in by the number of map partitions;
  - AQE skew-join splitting covers join-output skew on hub vertices;
  - lineage is cut (and the run made resumable) through SuperstepLedger.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from graph_mining_spark.checkpoint import SuperstepLedger, cut_lineage
from graph_mining_spark.graph import symmetrize, vertex_ids


def connected_components(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_supersteps: int = 200,
    ledger: SuperstepLedger | None = None,
    already_symmetric: bool = False,
    resume_from: tuple[int, DataFrame] | None = None,
    broadcast_threshold: int = 131_072,
) -> DataFrame:
    """Return ``(vid: long, label: long)`` with label = min vid per component.

    ``vertices`` (optional, one ``vid`` column) adds isolated vertices
    that appear in no edge row; they label as themselves.
    ``resume_from``: (superstep, state) from SuperstepLedger.resume().

    ``broadcast_threshold``: when the CHANGED frontier from the
    previous superstep is at or below this row count, the frontier
    joins the edge table by BROADCAST instead of a shuffle join — the
    frontier size is already known exactly from the superstep's
    Observation, so the gate is adaptive: big graphs shuffle in the
    early wide rounds and broadcast the shrinking tail, small graphs
    broadcast throughout.  Labels are identical either way.
    """
    if already_symmetric:
        sym = edges.select("src", "dst")
    else:
        # min-propagation is idempotent over duplicate edges, so both
        # orientations are unioned WITHOUT the dedup groupBy a full
        # symmetrize() would pay — that skips one all-edges shuffle+agg
        # on the biggest table of the whole computation
        fwd = edges.select("src", "dst")
        sym = fwd.unionByName(fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst")))

    spark = edges.sparkSession
    # skip the redundant cache copy when the caller already persisted
    # the edge table (the union/select scans then read that cache)
    if edges.storageLevel.useMemory or edges.storageLevel.useDisk:
        raw = sym
    else:
        raw = sym.persist(StorageLevel.MEMORY_AND_DISK)
    m = raw.count()
    # Small-graph regime (guide §1.2/§2.2): when every frontier fits the
    # broadcast gate (n ≤ 2m bounds the vertex count by the edge count),
    # the whole run needs NO data-scale exchange — the edge table is
    # dst-partitioned once so the neighbor-min aggregation is
    # exchange-free behind a broadcast frontier join, and the
    # vertex-sized joins broadcast their small side.  AQE is disabled
    # for the run in that regime: a cache persisted under AQE hides its
    # partitioning (forcing re-exchanges) and every AQE query stage is
    # an extra driver round-trip (see session.no_adaptive).  Above the
    # gate the round-4/5 plan (src-partitioned edges, adaptive frontier
    # broadcast, AQE skew handling) is unchanged.
    verts_cut = None
    if 2 * m <= broadcast_threshold:
        small = True
    elif m <= 8_000_000:
        # one cheap cached-table pass gives n for the gate; the
        # checkpointed vertex set is REUSED for the labels init below
        verts_plan = (
            vertex_ids(raw)
            if vertices is None
            else vertices.select(F.col("vid").cast("long")).distinct()
        )
        verts_cut = cut_lineage(verts_plan)
        small = verts_cut.count() <= broadcast_threshold
    else:
        small = False
    import contextlib

    from graph_mining_spark.session import no_adaptive

    with no_adaptive(spark, max(1, -(-m // 4_000_000))) if small else contextlib.nullcontext():
        if small:
            eparts = max(1, -(-m // 4_000_000))
            # materialized lazily by superstep 1 (reads the cached raw)
            e = raw.repartition(eparts, "dst").persist(StorageLevel.MEMORY_AND_DISK)
        else:
            e = raw.repartition("src").persist(StorageLevel.MEMORY_AND_DISK)

        # derive the vertex set from the PERSISTED table — vertex_ids(sym)
        # would re-execute the whole symmetrize/derivation plan twice
        if verts_cut is not None:
            verts = verts_cut
        else:
            verts = vertex_ids(e) if vertices is None else vertices.select(F.col("vid").cast("long")).distinct()

        if resume_from is not None:
            start, labels = resume_from
            labels = labels.select("vid", "label")
            # everything may still be active after a blind resume
            changed = labels.select("vid", "label")
        else:
            start = 0
            labels = verts.select("vid", F.col("vid").alias("label"))
            if small:
                labels = labels.repartition(max(1, -(-2 * m // 2_000_000)), "vid")
            labels = cut_lineage(labels)
            changed = labels
        n_changed = None  # unknown until the first Observation lands

        from pyspark.sql import Observation

        step = start
        while step < max_supersteps:
            step += 1
            # (1) delta neighbor-min: propagate only from last round's frontier
            if step == start + 1 and resume_from is None and vertices is None:
                # round 1: labels are the identity, so the edges⋈labels join
                # collapses to a bare groupBy-min over the edge table.  Only
                # valid when the vertex set derives from the edges: with a
                # caller-supplied subset, a bare min(src) could propagate an
                # out-of-set endpoint id as a label.
                nbr_min = e.groupBy(F.col("dst").alias("vid")).agg(F.min("src").alias("nbr_label"))
            else:
                frontier = changed.withColumnRenamed("vid", "src")
                if small or (n_changed is not None and n_changed <= broadcast_threshold):
                    frontier = F.broadcast(frontier)
                nbr_min = (
                    e.join(frontier, "src")
                    .groupBy(F.col("dst").alias("vid"))
                    .agg(F.min("label").alias("nbr_label"))
                )
            if small:
                nbr_min = F.broadcast(nbr_min)
            stepped = (
                labels.join(nbr_min, "vid", "left")
                .select("vid", F.least("label", F.coalesce("nbr_label", "label")).alias("label"), F.col("label").alias("_prev"))
            )
            # (2) pointer jumping: label ← label[label]
            parent = stepped.select(F.col("vid").alias("_p_vid"), F.col("label").alias("_p_label"))
            if small:
                parent = F.broadcast(parent)
            jumped = (
                stepped.join(parent, stepped.label == parent._p_vid, "left")
                .select(
                    "vid",
                    F.coalesce("_p_label", "label").alias("label"),
                    "_prev",
                )
            )
            # convergence metric rides the checkpoint materialization
            # (Observation) instead of a separate count action
            obs = Observation(f"cc_{step}")
            staged = jumped.select(
                "vid", "label", (F.col("label") != F.col("_prev")).alias("_chg")
            )
            staged = staged.observe(
                obs,
                F.sum(F.col("_chg").cast("long")).alias("metric"),
                F.sum(F.col("_chg").cast("long")).alias("n_active"),
            )
            if ledger is not None:
                state = ledger.record(step, staged, observation=obs)
                n_changed = int(ledger.records[-1]["metric"])
            else:
                state = cut_lineage(staged)
                n_changed = int(obs.get["metric"] or 0)
            changed = state.filter("_chg").select("vid", "label")
            labels = state.select("vid", "label")
            if n_changed == 0:
                break

        e.unpersist()
        raw.unpersist()  # no-op when the small path already released it
        return labels


def forest_components(
    best: DataFrame,
    vertices: DataFrame,
    max_doublings: int = 64,
    targets_in_vertices: bool = False,
    small: bool = False,
) -> DataFrame:
    """Components of a BEST-NEIGHBOR pointer forest — the affinity
    round's inner connectivity (parallel_affinity_internal.cc's forest
    contraction), specialized from the general CC loop.

    ``best`` holds one out-pointer per active vertex (src → dst, its
    best neighbor); ``vertices`` (one ``vid`` column) supplies the full
    active set (pointer-less vertices stay singletons).  Returns
    ``(vid, label)`` with label = min member vid — identical to
    ``connected_components(best, vertices=...)``, but exploiting the
    functional-graph shape:

      1. mutual-best 2-cycles collapse to their min endpoint (the only
         cycles a deterministic (weight desc, id) best-neighbor
         selection can produce on a symmetric weight table: on any
         longer cycle the followed keys would have to strictly
         increase around it);
      2. pointer DOUBLING ``p[v] ← p[p[v]]`` — log₂(max tree depth)
         rounds of one vertex-sized self-join each, never touching an
         edge table;
      3. one min-agg + join relabels every tree to its min member vid.

    At 100×: every step is a vertex-sized hash shuffle; the doubling
    count is ≤ log₂(n) ≈ 30 at 10⁹ vertices.  If an unexpected longer
    cycle keeps the doubling from converging in ``max_doublings``
    rounds, falls back to the general CC loop (correct for any input).
    """
    from pyspark.sql import Observation

    def _b(df):
        # ``small``: the vertex/cluster-sized build sides fit a
        # broadcast, so each doubling round joins without a two-sided
        # shuffle.  All columns are exact integers, so results are
        # identical in either mode.
        return F.broadcast(df) if small else df

    p0 = best.select(F.col("src").alias("vid"), F.col("dst").alias("p"))
    verts = vertices.select(F.col("vid").cast("long"))
    p = verts.join(_b(p0), "vid", "left").select(
        "vid", F.coalesce("p", F.col("vid")).alias("p")
    )
    # clamp pointers whose target is OUTSIDE the vertex table to self —
    # connected_components(vertices=...) ignores edges through unknown
    # endpoints (they never enter the label table), and the doubling
    # self-join below is inner, so an unclamped dangling pointer would
    # silently DROP its row instead.  Callers that build ``best`` from
    # edges among ``vertices`` (the affinity round does, by
    # construction) pass targets_in_vertices=True to skip the extra
    # vertex-sized join on the hot path.
    if not targets_in_vertices:
        known = verts.select(F.col("vid").alias("p"), F.lit(True).alias("_k"))
        p = p.join(known, "p", "left").select(
            "vid", F.when(F.col("_k").isNotNull(), F.col("p")).otherwise(F.col("vid")).alias("p")
        )
    pp = p.select(F.col("vid").alias("p"), F.col("p").alias("_pp"))
    p = p.join(_b(pp), "p", "left").select(
        "vid",
        F.when(F.col("_pp") == F.col("vid"), F.least("vid", "p"))
        .otherwise(F.col("p"))
        .alias("p"),
    )
    cur = cut_lineage(p)
    converged = False
    for it in range(max_doublings):
        pp = cur.select(F.col("vid").alias("p"), F.col("p").alias("_pp"))
        obs = Observation(f"forest_{it}")
        nxt = (
            cur.join(_b(pp), "p")
            .select("vid", F.col("_pp").alias("p"), (F.col("_pp") != F.col("p")).alias("_chg"))
            .observe(obs, F.sum(F.col("_chg").cast("long")).alias("metric"))
        )
        cur = cut_lineage(nxt.select("vid", "p"))
        if int(obs.get["metric"] or 0) == 0:
            converged = True
            break
    if not converged:
        return connected_components(
            best.select("src", "dst"), vertices=verts, already_symmetric=False
        )
    mins = cur.groupBy("p").agg(F.min("vid").alias("label"))
    return cur.join(_b(mins), "p").select("vid", "label")


def connected_components_csr(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_supersteps: int = 200,
    partitions: int = 32,
    salt_threshold: int = 100_000,
    already_symmetric: bool = False,
    shards=None,
    ledger: SuperstepLedger | None = None,
) -> DataFrame:
    """CSR fast path: same min-vid fixpoint as
    :func:`connected_components`, but each superstep is ONE distributed
    min-gather over the salted CSR shards plus driver-side NumPy
    pointer jumping (labels = labels[labels] — union-find path halving
    on a dense array, the direct analog of the reference's
    ComponentSequence flatten, asynchronous_union_find.h:117-126).

    The label VECTOR lives on the driver (~10⁸-vertex envelope); the
    edge set stays distributed.  Use the DataFrame variant beyond that.
    """
    import numpy as np

    from graph_mining_spark.csr import gather_min, materialize_csr_shards

    spark = edges.sparkSession
    own_shards = shards is None
    if own_shards:
        sym = edges if already_symmetric else symmetrize(edges)
        shards = materialize_csr_shards(
            sym.select("src", "dst"),
            vertices=vertices,
            partitions=partitions,
            salt_threshold=salt_threshold,
        )
    n = shards.n
    if n == 0:
        return spark.createDataFrame([], "vid long, label long")
    from graph_mining_spark.session import no_adaptive

    labels = np.arange(n, dtype=np.int64)
    # AQE adds a per-gather query-stage round-trip with nothing to adapt
    with no_adaptive(spark):
        for it in range(1, max_supersteps + 1):
            new = gather_min(shards, labels)
            new = np.minimum(new, labels)
            # pointer jumping to a fixpoint is cheap on the driver
            while True:
                jumped = new[new]
                if np.array_equal(jumped, new):
                    break
                new = jumped
            n_changed = int(np.count_nonzero(new != labels))
            if ledger is not None:
                # metrics-only unless this superstep durably checkpoints
                # (mirrors pagerank_csr — the CSR loop's true gather count
                # can differ from the DF variant's, so callers measuring
                # per-superstep throughput need the real number)
                import pandas as pd

                state = None
                if ledger.will_checkpoint(it):
                    state = spark.createDataFrame(
                        pd.DataFrame({"vid": shards.vids, "label": shards.vids[new]}),
                        schema="vid long, label long",
                    )
                ledger.record(
                    it, state, metric=float(n_changed), n_active=n_changed,
                    metrics_only=state is None,
                )
            if n_changed == 0:
                break
            labels = new
    import pandas as pd

    out = spark.createDataFrame(
        pd.DataFrame({"vid": shards.vids, "label": shards.vids[labels]}),
        schema="vid long, label long",
    )
    if own_shards:
        shards.unpersist()
    return out


def components_as_clusters(labels: DataFrame) -> DataFrame:
    """Nested output form: one row per component with its member list
    (reference Clustering = vector<vector<NodeId>>,
    in_memory_clusterer.h:96-100; OutputIndicesById,
    parallel_sequence_ops.h:178-222)."""
    return labels.groupBy("label").agg(F.sort_array(F.collect_list("vid")).alias("members"))
