"""Label-propagation community detection (synchronous LPA).

Classic LPA (Raghavan, Albert & Kumara 2007): every vertex starts in
its own community and repeatedly adopts the label carrying the maximum
total incident edge weight among its neighbors.  The reference library
ships the same label-propagation FAMILY as affinity clustering
(/root/reference/in_memory/clustering/affinity/parallel_affinity.cc —
best-single-neighbor adoption + contraction); this operator is the
mode-of-neighbor-labels member of that family, named explicitly by the
engine's north rule ("label-propagation community detection").

Determinism: the textbook algorithm visits vertices in random order
and breaks ties randomly, which has no reproducible cluster analog —
exactly the async-vs-sync trade documented for correlation clustering
(operators/correlation.py:36).  We make the same choice as there:
SYNCHRONOUS rounds (every vertex votes on the PREVIOUS round's labels)
with a total tie order, (vote weight DESC, label ASC).  Output is then
a pure function of the graph, independent of partitioning and
scheduling, EXACTLY when the per-(vertex, label) vote sums are exact —
integer or exactly-representable weights (the tested regime).  With
general float weights Spark's partial-aggregation sum order can differ
across partitionings, and a near-tie argmax may flip on the low bits
of the two sums.

Semantics per superstep t (labels L_t, symmetric weighted edges w):

    votes_t(v, l)  = Σ_{u ∈ N(v), L_t(u) = l} w(v, u)
    L_{t+1}(v)     = argmax_l (votes_t(v, l), tie → min l)   if N(v) ≠ ∅
    L_{t+1}(v)     = L_t(v)                                   otherwise

Termination: synchronous weighted-majority dynamics over symmetric
weights always reach a FIXPOINT or a PERIOD-2 CYCLE (Goles & Olivos,
"Periodic behaviour of generalized threshold functions", Discrete
Math. 30, 1980) — e.g. a single edge {u, v} swaps labels forever, and
near-bipartite regions 2-cycle wholesale (measured: 270 of 360
vertices on the synthetic source-link graph).  The loop therefore
stops on EITHER terminal state: no label changed (fixpoint), or
``L_t == L_{t-2}`` (2-cycle; the current phase is returned), both
detected by counters folded into the per-superstep checkpoint job —
at a trillion edges, burning the remaining iteration budget inside a
detected cycle would be pure waste.  ``max_iterations`` stays the
outer bound.  On graphs whose communities are locally dense (e.g.
disjoint cliques of size ≥ 3 — a 2-clique IS the single-edge
oscillator) the sync schedule provably converges: after round 1 a
clique's min vertex holds a majority-or-tie-winning vote and every
later round is unanimous.

Scale design (same shape as the CC/PageRank superstep loops):
  - the symmetrized edge table is hash-partitioned by ``dst`` ONCE and
    persisted; every superstep joins the (vertex-sized) label table to
    it on that same key, so the m-row side never reshuffles;
  - the per-(vertex, label) vote sum is a groupBy with MAP-SIDE partial
    aggregation — a hub's inbound votes collapse per map partition
    before the shuffle, bounding reduce fan-in by #partitions;
  - DELTA rounds: once few labels changed (known exactly from the
    Observation), only the changed vertices' neighborhoods re-vote —
    exact, because an unchanged neighborhood reproduces the same vote;
    late rounds shuffle the shrinking frontier's incident votes, not
    all m edges (the CC loop's frontier design, adapted to mode votes);
  - the argmax is a max-over-struct aggregation, never a row_number
    window (no single-task funnel for hub vertices);
  - per-superstep lineage is cut (and the loop made resumable) through
    SuperstepLedger, with the changed-count riding the checkpoint
    materialization as an Observation instead of a separate count
    action (a superstep still runs several Spark jobs: AQE query
    stages and broadcast builds each run as their own).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from graph_mining_spark.checkpoint import SuperstepLedger, cut_lineage
from graph_mining_spark.graph import remove_self_loops, symmetrize, vertex_ids


def lpa_superstep(
    e: DataFrame, labels: DataFrame, affected: DataFrame | None = None
) -> DataFrame:
    """One synchronous vote round: (vid, label, _prev).

    ``e`` must be symmetric and self-loop-free.  Exposed separately so
    the EXPLAIN audit can inspect the exact superstep plan the loop
    executes: one edges⋈labels hash join (reusing e's dst
    partitioning), one (vid, label) partial-aggregated vote sum, a
    max-struct argmax, and a vertex-sized left join — no windows over
    the edge table, no Python in the plan.

    ``affected`` (optional, one ``src`` column): restrict the vote
    recompute to these voters.  A vertex none of whose neighbors
    changed label last round would recompute the identical vote, so
    skipping it is EXACT — the caller passes the changed vertices'
    neighborhood.  Applied as a broadcast semi-join on ``e`` BEFORE
    the dst-side label join (a broadcast join adds no exchange, so the
    label join still reuses e's dst partitioning in the same stage):
    non-frontier edge rows drop ahead of the label-join probe AND the
    vote shuffle, so a converged region costs scan-only.
    """
    src_edges = e
    if affected is not None:
        src_edges = e.join(F.broadcast(affected), "src", "left_semi")
    nbr = labels.withColumnRenamed("vid", "dst")
    votes = (
        src_edges.join(nbr, "dst")
        .groupBy(F.col("src").alias("vid"), "label")
        .agg(F.sum("weight").alias("_w"))
    )
    winner = (
        votes.groupBy("vid")
        .agg(F.min(F.struct((-F.col("_w")).alias("_nw"), F.col("label"))).alias("_m"))
        .select("vid", F.col("_m.label").alias("_new"))
    )
    return labels.join(winner, "vid", "left").select(
        "vid",
        F.coalesce("_new", "label").alias("label"),
        F.col("label").alias("_prev"),
    )


def label_propagation(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_iterations: int = 10,
    already_symmetric: bool = False,
    ledger: SuperstepLedger | None = None,
    resume_from: tuple[int, DataFrame] | None = None,
    broadcast_threshold: int = 131_072,
    stop_on_cycle: bool = True,
    delta_min_edges: int = 8_000_000,
) -> DataFrame:
    """Synchronous weighted label propagation.

    ``edges``: (src, dst, weight); symmetrized internally unless
    ``already_symmetric`` (vote sums are NOT idempotent over duplicate
    edge rows, so unlike connected_components this must be the proper
    deduplicating ``symmetrize``).  Self-loops are ignored (a vertex
    does not vote for itself; matches the affinity family's
    remove_self_loops preamble).
    ``vertices`` (optional, one ``vid`` column) adds isolated vertices,
    which keep their own label.
    ``resume_from``: (superstep, state) from SuperstepLedger.resume().

    ``broadcast_threshold``: once the previous round changed at most
    this many labels (known exactly from the Observation) AND the
    frontier is a small fraction of the graph (≤ n/8 — a full-size
    "frontier", normal while the dynamics are mixing, would make the
    delta machinery pure overhead), the round switches to the DELTA
    path: only vertices with a changed neighbor re-vote (exact — an
    unchanged neighborhood reproduces the same vote), with both the
    changed set and its neighborhood applied as broadcast semi-joins.
    The neighborhood set is counted first (one cheap extra job) and
    the round falls back to the full recompute if a changed hub fans
    it out past the broadcast bound or past n/2.  0 disables the delta
    path.  Late rounds of a converging run then shuffle only the
    shrinking frontier's incident votes instead of all m edges — the
    same frontier design as the CC loop.

    ``delta_min_edges``: the delta machinery additionally requires the
    edge table to hold at least this many rows (counted once, lazily,
    from the cached table the first time the frontier gate passes).
    Measured on the round-6 core+fringe fixture (50 K200 cliques + a
    500-vertex churning path, ~2M directed rows): a full vote round
    over the CACHED table costs ~0.65 s while a delta round costs
    ~0.9 s — the delta's fixed overhead (one count job + two broadcast
    semi-join builds, ~0.3-0.5 s of local job latency) exceeds the
    full scan's marginal cost (~0.3 s per 4M cached rows) until the
    table reaches roughly 4-8M rows.  Below the default the full
    recompute is simply faster; set 0 to always allow delta (tests),
    or raise it for clusters whose per-job latency is higher.

    ``stop_on_cycle``: also stop when ``L_t == L_{t-2}`` (the only
    non-fixpoint terminal state of these dynamics — module docstring),
    returning the current phase.  The check is a vertex-sized join
    against the previous round's checkpointed state and a counter in
    the same Observation.  A ``resume_from`` state written
    by this operator carries ``_prev``/``_chg``, so the cycle check
    and delta frontier re-arm immediately and a run INTERRUPTED before
    its terminal round resumes exactly, oscillators included.  Two
    narrow caveats: resuming from a checkpoint of a run that already
    STOPPED on the period-2 cycle executes one more round and returns
    the cycle's other phase (both terminal, but not byte-identical to
    the completed run's output), and a legacy (vid, label)-only state
    re-arms the cycle check one round late with the same
    other-phase-possible outcome.

    Returns ``(vid: long, label: long)``.
    """
    if already_symmetric:
        sym = remove_self_loops(edges.select("src", "dst", "weight"))
    else:
        sym = remove_self_loops(symmetrize(edges))
    # votes aggregate BY RECEIVER: partition the big table by dst once,
    # so each round's labels⋈edges join reuses this partitioning
    e = sym.repartition("dst").persist(StorageLevel.MEMORY_AND_DISK)

    verts = vertex_ids(e) if vertices is None else vertices.select(
        F.col("vid").cast("long")
    ).distinct()

    from pyspark.sql import Observation

    # changed-label frontier from the previous round; None = unknown
    # (first round, or a resume from a legacy vid/label-only state) →
    # full recompute.  prev_state (vid, label, _prev) is the previous
    # round's CHECKPOINTED state — its _prev column is L_{t-2}, which
    # the cycle check joins against.
    changed: DataFrame | None = None
    n_changed: int | None = None
    n_verts: int | None = None
    m_edges: int | None = None
    prev_state: DataFrame | None = None

    if resume_from is not None:
        start, rstate = resume_from
        labels = rstate.select("vid", "label")
        if "_prev" in rstate.columns:
            # the ledger checkpoints the full staged frame, so the
            # resumed state carries last round's _prev (= L_{start-1},
            # re-arming the cycle check immediately: a resumed run then
            # stops on the SAME round and phase as an uninterrupted
            # one) and _chg (re-seeding the delta frontier after one
            # cheap vertex-sized aggregate)
            prev_state = rstate
            if "_chg" in rstate.columns:
                row = rstate.agg(
                    F.sum(F.col("_chg").cast("long")).alias("c"),
                    F.count(F.lit(1)).alias("n"),
                ).first()
                n_changed = int(row["c"] or 0)
                n_verts = int(row["n"])
                changed = rstate.filter("_chg").select("vid", "label")
    else:
        start = 0
        labels = cut_lineage(verts.select("vid", F.col("vid").alias("label")))

    step = start
    while step < max_iterations:
        step += 1
        # neighbor labels: edge (src→dst) delivers L(dst) to src's
        # vote; argmax by (weight DESC, label ASC) == min over the
        # (-weight, label) struct — map-side-combined aggregations
        aff = None
        gate = (
            changed is not None
            and n_changed is not None
            and 0 < n_changed <= broadcast_threshold
            and n_verts is not None
            and n_changed * 8 <= n_verts
        )
        if gate and m_edges is None:
            m_edges = e.count()  # cached table; paid once per run
        if gate and m_edges >= delta_min_edges:
            # voters whose vote can differ = neighbors of last round's
            # changed vertices (the graph is symmetric, so out-
            # neighbors of changed == vertices that hear the change)
            cand = (
                e.join(F.broadcast(changed.select(F.col("vid").alias("dst"))),
                       "dst", "left_semi")
                .select("src")
                .distinct()
                .persist(StorageLevel.MEMORY_AND_DISK)
            )
            n_cand = cand.count()
            if n_cand <= broadcast_threshold and n_cand * 2 <= n_verts:
                aff = cand
            else:  # a changed hub fans out too wide — recompute all
                cand.unpersist()
        stepped = lpa_superstep(e, labels, affected=aff)
        cycle_armed = stop_on_cycle and prev_state is not None
        if cycle_armed:
            p2 = prev_state.select("vid", F.col("_prev").alias("_p2"))
            stepped = stepped.join(p2, "vid")
        else:
            stepped = stepped.withColumn("_p2", F.lit(None).cast("long"))
        obs = Observation(f"lpa_{step}")
        staged = stepped.select(
            "vid",
            "label",
            "_prev",
            (F.col("label") != F.col("_prev")).alias("_chg"),
            (~F.col("label").eqNullSafe(F.col("_p2"))).alias("_cyc"),
        ).observe(
            obs,
            F.sum(F.col("_chg").cast("long")).alias("metric"),
            F.sum(F.col("_chg").cast("long")).alias("n_active"),
            F.sum(F.col("_cyc").cast("long")).alias("n_cycle_diff"),
            F.count(F.lit(1)).alias("n_total"),
        )
        if ledger is not None:
            state = ledger.record(step, staged, observation=obs)
            n_changed = int(ledger.records[-1]["metric"])
        else:
            state = cut_lineage(staged)
            n_changed = int(obs.get["metric"] or 0)
        got = obs.get
        n_verts = int(got["n_total"] or 0)
        n_cycle_diff = int(got["n_cycle_diff"] or 0)
        if aff is not None:
            aff.unpersist()
        labels = state.select("vid", "label")
        changed = state.filter("_chg").select("vid", "label")
        prev_state = state
        if n_changed == 0:
            break
        if cycle_armed and n_cycle_diff == 0:
            # L_t == L_{t-2}: the dynamics entered their period-2
            # terminal cycle — this phase is the result
            break

    e.unpersist()
    return labels
