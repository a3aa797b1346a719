"""PageRank power iteration with the reference's convergence contract.

Reference semantics (/root/reference/in_memory/pagerank/pagerank.proto:19-35,
parallel_pagerank.cc:39-91, parallel_pagerank.h:38-55):
  - damping factor d ∈ [0, 1), default 0.85;
  - stop when the L1 distance of consecutive rank vectors drops below
    ``approx_precision * n`` (default 1e-6), or at ``max_iterations``;
  - empty ``source_vids`` ⇒ global PageRank; otherwise personalized
    restart uniformly distributed over the sources;
  - contributions are uniform over OUT-edges (GBBS PageRank_edgeMap is
    unweighted); dangling-vertex mass is redistributed through the
    restart distribution.

Graphs with at most ``broadcast_threshold`` vertices run on CSR shards
(:func:`pagerank_csr`); larger ones run DataFrame supersteps.

DataFrame superstep shape (SURVEY.md §2.2): one edges⋈ranks join hash-partitioned
on ``src`` (edge table pre-partitioned once and persisted, so only the
vertex-sized rank table reshuffles), one groupBy(dst).sum with map-side
partial aggregation (bounds hub-vertex skew by the map partition count),
then a vertex-sized finalize join.  One stats aggregation per superstep
returns (L1 diff, next dangling mass) in a single action.  Lineage is
cut each superstep via SuperstepLedger (durable, resumable) or
localCheckpoint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from graph_mining_spark.checkpoint import SuperstepLedger, cut_lineage
from graph_mining_spark.graph import vertex_ids


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    approx_precision: float = 1e-6,
    max_iterations: int | None = None,
    source_vids: list[int] | None = None,
    vertices: DataFrame | None = None,
    ledger: SuperstepLedger | None = None,
    resume_from: tuple[int, DataFrame] | None = None,
    check_every: int = 1,
    broadcast_threshold: int = 131_072,
) -> DataFrame:
    """Return ``(vid: long, rank: double)``.

    ``edges`` is interpreted as DIRECTED ``src → dst`` (pass the
    symmetrized table for undirected PageRank).  ``vertices`` (one
    ``vid`` column) may add vertices with no incident edge rows; every
    edge endpoint must be one of them (on the CSR path a violation
    raises ``ValueError``).

    ``broadcast_threshold``: the vertex-count gate to the CSR path.  At
    or below it the call runs :func:`pagerank_csr` (rank vector on the
    driver, edges in shards; no Spark job per superstep at these
    sizes).  Above it the shuffle-join DataFrame supersteps run — the
    unbounded path.  Results agree up to float re-association of the
    contribution sums.

    ``check_every > 1`` (DataFrame path only; the CSR path checks
    convergence every superstep at no Spark cost) chains that many
    supersteps lazily per materialization + convergence check — the
    per-superstep driver overhead (planning, checkpoint, stats action)
    amortizes by that factor.  Only applied when the graph has NO
    dangling vertices (dangling mass is a per-iteration scalar that
    forces a sync); the stop condition stays the reference contract —
    we halt at an iteration whose L1 step-delta < eps, at most
    ``check_every - 1`` iterations later (i.e. more converged) than
    with per-step checks.
    """
    if not (0.0 <= damping < 1.0):
        raise ValueError(f"damping must be in [0, 1), got {damping}")
    if approx_precision < 0:
        raise ValueError("approx_precision must be >= 0")
    spark = edges.sparkSession

    # persist the RAW edge selection once; the src repartition happens
    # only on the DataFrame path, after n is known.  When the CALLER
    # already persisted the edge table, scans below hit that cache
    # directly — a second persist would copy every edge row into a
    # redundant cache entry
    _sel = edges.select("src", "dst")
    _caller_cached = edges.storageLevel.useMemory or edges.storageLevel.useDisk
    e_raw = _sel if _caller_cached else _sel.persist(StorageLevel.MEMORY_AND_DISK)
    # vertex set from the persisted table, not the upstream plan
    verts = vertex_ids(e_raw) if vertices is None else vertices.select(F.col("vid").cast("long")).distinct()

    out_deg = e_raw.groupBy(F.col("src").alias("vid")).agg(F.count("*").alias("deg"))
    base = verts.join(out_deg, "vid", "left")
    cols = ["vid", F.coalesce("deg", F.lit(0)).alias("deg")]
    if source_vids:
        src_set = spark.createDataFrame([(int(s), True) for s in source_vids], "vid long, _is_src boolean")
        base = base.join(src_set, "vid", "left")
        cols.append(F.coalesce("_is_src", F.lit(False)).alias("_is_src"))
    base = base.select(*cols).persist(StorageLevel.MEMORY_AND_DISK)
    # ONE cache-filling aggregation returns n and the dangling count
    row0 = base.agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("deg") == 0, 1).otherwise(0)).alias("dcount"),
    ).first()
    n, n_dangling = int(row0["n"]), int(row0["dcount"] or 0)
    if n == 0 or n <= broadcast_threshold:
        base.unpersist()
        e_raw.unpersist()
        if n == 0:
            return spark.createDataFrame([], "vid long, rank double")
        return pagerank_csr(
            edges, damping=damping, approx_precision=approx_precision,
            max_iterations=max_iterations, source_vids=source_vids,
            vertices=vertices, ledger=ledger, resume_from=resume_from,
        )
    if source_vids:
        p_col = F.when(F.col("_is_src"), F.lit(1.0 / len(source_vids))).otherwise(F.lit(0.0))
    else:
        p_col = F.lit(1.0 / n)

    b = base.repartition("vid").select("vid", "deg", p_col.alias("p"))
    if resume_from is None:
        it, state = 0, b.select("vid", F.col("p").alias("rank"), "deg", "p")
    else:
        # only (vid, rank) is read, so a CSR-path state resumes too
        it, prev = resume_from
        state = b.join(prev.select("vid", "rank"), "vid").select("vid", "rank", "deg", "p")
    state = state.persist(StorageLevel.MEMORY_AND_DISK)
    dangling = 0.0
    if n_dangling:
        dangling = float(
            state.agg(F.sum(F.when(F.col("deg") == 0, F.col("rank")).otherwise(F.lit(0.0)))).first()[0]
            or 0.0
        )

    eps = approx_precision * n
    cap = max_iterations if max_iterations is not None else 1_000_000
    batch = check_every if (check_every > 1 and n_dangling == 0) else 1

    e = e_raw.repartition("src").persist(StorageLevel.MEMORY_AND_DISK)
    # e's cache fills during the FIRST superstep batch (reading e_raw,
    # which stays persisted until then) — an eager count here was a
    # whole extra pass over the edge table per call; e_raw is released
    # right after the first batch materializes e (below)
    e_raw_live = True

    def one_step(cur: DataFrame, dangling_mass: float, carry_prev: bool = False) -> DataFrame:
        rank_src = cur.filter(F.col("deg") > 0).select(
            F.col("vid").alias("src"), (F.col("rank") / F.col("deg")).alias("_c")
        )
        contribs = (
            e.join(rank_src, "src")
            .groupBy(F.col("dst").alias("vid"))
            .agg(F.sum("_c").alias("_contrib"))
        )
        new_rank = (
            (F.lit(1.0 - damping) * F.col("p"))
            + F.lit(damping)
            * (F.coalesce("_contrib", F.lit(0.0)) + F.lit(float(dangling_mass)) * F.col("p"))
        )
        # join CUR (same vid set, same deg/p values as `base`) so the
        # last step can CARRY its input rank as `_prev` for the L1
        # observation — no separate prev-vector join, no extra persist
        # of the (k-1)-th state (at scale: one vertex-wide join fewer
        # per batch; rank arithmetic is unchanged and bit-identical)
        cols = ["vid", new_rank.alias("rank"), "deg", "p"]
        if carry_prev:
            cols.append(F.col("rank").alias("_prev"))
        return cur.join(contribs, "vid", "left").select(*cols)

    from pyspark.sql import Observation

    while it < cap:
        steps = min(batch, cap - it)
        cur = state
        for _ in range(steps - 1):
            cur = one_step(cur, dangling)  # dangling is 0 whenever steps > 1
        cur = one_step(cur, dangling, carry_prev=True)
        it += steps
        # L1 + next dangling mass ride the checkpoint materialization
        # (Observation) instead of a separate stats action per batch
        obs = Observation(f"pr_{it}")
        staged = cur.observe(
            obs,
            F.sum(F.abs(F.col("rank") - F.col("_prev"))).alias("metric"),
            F.sum(F.when(F.col("deg") == 0, F.col("rank")).otherwise(F.lit(0.0))).alias("dangling"),
        ).drop("_prev")
        old_state = state
        if ledger is not None:
            state = ledger.record(it, staged, n_active=n, observation=obs)
        else:
            state = cut_lineage(staged)
        got = obs.get
        l1, dangling = float(got["metric"]), float(got["dangling"] or 0.0)
        if e_raw_live:
            # the first batch has materialized e's cache; drop the raw copy
            e_raw.unpersist()
            e_raw_live = False
        old_state.unpersist()
        if l1 < eps:
            break

    e.unpersist()
    base.unpersist()
    return state.select("vid", "rank")


def pagerank_csr(
    edges: DataFrame,
    damping: float = 0.85,
    approx_precision: float = 1e-6,
    max_iterations: int | None = None,
    source_vids: list[int] | None = None,
    vertices: DataFrame | None = None,
    partitions: int = 32,
    salt_threshold: int = 100_000,
    ledger: SuperstepLedger | None = None,
    shards=None,
    resume_from: tuple[int, DataFrame] | None = None,
) -> DataFrame:
    """CSR-shard PageRank — the fast path (north star: "vectorized
    pandas/Arrow UDFs operating on CSR-packed partition blocks").

    The edge set stays distributed as salted dst-sharded int pairs
    (csr.materialize_csr_shards); the rank VECTOR lives on the driver
    as NumPy, exactly like the reference's dense parlay sequence
    (parallel_pagerank.h:38-55).  Each superstep is one gather
    (csr.gather_sum: a driver-local kernel for a single-task shard set,
    else one mapInArrow job) plus driver-side combine + rank update +
    L1 check.  Same convergence contract and same results (within
    float re-association) as :func:`pagerank`.

    ``resume_from``: (superstep, state) from SuperstepLedger.resume();
    only its ``vid`` and ``rank`` columns are read, so a state written
    by either path resumes, and the superstep count continues from it.

    Scale envelope: driver memory bounds the vertex vector (~10⁸
    vertices); use :func:`pagerank` beyond that.
    """
    import numpy as np

    from graph_mining_spark.csr import gather_sum, materialize_csr_shards

    if not (0.0 <= damping < 1.0):
        raise ValueError(f"damping must be in [0, 1), got {damping}")
    if approx_precision < 0:
        raise ValueError("approx_precision must be >= 0")
    spark = edges.sparkSession

    own_shards = shards is None
    if own_shards:
        shards = materialize_csr_shards(
            edges, vertices=vertices, partitions=partitions, salt_threshold=salt_threshold
        )
    try:
        n, deg = shards.n, shards.out_deg
        if n == 0:
            return spark.createDataFrame([], "vid long, rank double")
        if source_vids:
            p = np.zeros(n)
            p[shards.index_of(np.array(sorted(source_vids), dtype=np.int64))] = 1.0 / len(source_vids)
        else:
            p = np.full(n, 1.0 / n)
        if resume_from is None:
            it, r = 0, p.copy()
        else:
            it, r = resume_from[0], shards.align(resume_from[1], "rank")

        eps = approx_precision * n
        cap = max_iterations if max_iterations is not None else 1_000_000
        dangling_mask = deg == 0
        safe_deg = np.where(dangling_mask, 1, deg)

        from graph_mining_spark.session import no_adaptive

        # AQE adds a per-gather query-stage round-trip with nothing to
        # adapt (the gather plan is a single map over cached descriptors)
        with no_adaptive(spark):
            while it < cap:
                it += 1
                contrib = gather_sum(shards, np.where(dangling_mask, 0.0, r / safe_deg))
                dangling = float(r[dangling_mask].sum())
                new = (1.0 - damping) * p + damping * (contrib + dangling * p)
                l1 = float(np.abs(new - r).sum())
                r = new
                if ledger is not None:
                    # build the vertex-sized state DataFrame ONLY when this
                    # superstep durably checkpoints — a metrics-only record
                    # never touches it, and converting a multi-million-row
                    # vector to Arrow every iteration is measurable waste
                    state = _vec_df(spark, shards.vids, r) if ledger.will_checkpoint(it) else None
                    ledger.record(it, state, metric=l1, n_active=n, metrics_only=True)
                if l1 < eps:
                    break

        return _vec_df(spark, shards.vids, r)
    finally:
        if own_shards:
            shards.unpersist()


def _vec_df(spark, vids, ranks):
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame({"vid": vids, "rank": ranks}), schema="vid long, rank double"
    )
