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

Superstep shape (SURVEY.md §2.2): one edges⋈ranks join hash-partitioned
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
    ``vid`` column) may add vertices with no incident edge rows.

    ``check_every > 1`` chains that many supersteps lazily per
    materialization + convergence check — the per-superstep driver
    overhead (planning, checkpoint, stats action) amortizes by that
    factor, which is what makes the DataFrame mode scale with cores.
    Only applied when the graph has NO dangling vertices (dangling
    mass is a per-iteration scalar that forces a sync); the stop
    condition stays the reference contract — we halt at an iteration
    whose L1 step-delta < eps, at most ``check_every - 1`` iterations
    later (i.e. more converged) than with per-step checks.

    ``broadcast_threshold``: when the vertex count is at or below it,
    the rank vector joins the edge table by BROADCAST and the edge
    table is pre-partitioned by ``dst`` once, so a whole superstep runs
    with ZERO shuffle exchange (broadcast join preserves the scan's
    dst-partitioning through the contribution aggregate, and the
    finalize/L1 joins broadcast their vertex-sized sides too; each
    broadcast is built by a Spark job of its own).  The
    edge table itself stays fully distributed — unlike the CSR fast
    path, only the vertex VECTOR must fit a broadcast (the same
    envelope as the reference's dense rank array).  Above the
    threshold the shuffle-join plan is used — the unbounded 100×
    path.  Results are identical up to float re-association of the
    contribution sums.
    """
    if not (0.0 <= damping < 1.0):
        raise ValueError(f"damping must be in [0, 1), got {damping}")
    if approx_precision < 0:
        raise ValueError("approx_precision must be >= 0")
    spark = edges.sparkSession

    # persist the RAW edge selection once; the mode-specific repartition
    # (by dst for broadcast mode, by src for shuffle mode) happens AFTER
    # n is known, so only ONE all-edges shuffle is ever paid (the old
    # code repartitioned by src, then threw that away and repartitioned
    # by dst again whenever broadcast mode engaged).  When the CALLER
    # already persisted the edge table, scans below hit that cache
    # directly — a second persist would copy every edge row into a
    # redundant cache entry (the bench pays this three times per
    # invocation)
    _sel = edges.select("src", "dst")
    _caller_cached = edges.storageLevel.useMemory or edges.storageLevel.useDisk
    e_raw = _sel if _caller_cached else _sel.persist(StorageLevel.MEMORY_AND_DISK)
    # vertex set from the persisted table, not the upstream plan
    verts = vertex_ids(e_raw) if vertices is None else vertices.select(F.col("vid").cast("long")).distinct()

    out_deg = e_raw.groupBy(F.col("src").alias("vid")).agg(F.count("*").alias("deg"))

    import contextlib

    from graph_mining_spark.session import no_adaptive

    fold_stats = None
    if not source_vids and resume_from is None:
        # Uniform fresh start (the common case): ONE cache-filling
        # aggregation over the persisted (vid, deg) table returns
        # n, the dangling count AND the edge count together — the
        # separate full-scan `verts.count()` job is gone, and the
        # restart probability / initial rank become literals applied
        # after n is known (they were per-row constants anyway).
        base = verts.join(out_deg, "vid", "left").select(
            "vid", F.coalesce("deg", F.lit(0)).alias("deg")
        ).persist(StorageLevel.MEMORY_AND_DISK)
        row0 = base.agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("deg") == 0, 1).otherwise(0)).alias("dcount"),
            F.sum("deg").alias("m"),
        ).first()
        n = int(row0["n"])
        if n == 0:
            base.unpersist()
            e_raw.unpersist()
            return spark.createDataFrame([], "vid long, rank double")
        fold_stats = (int(row0["dcount"] or 0), int(row0["m"] or 0))
    else:
        if source_vids:
            src_set = spark.createDataFrame([(int(s),) for s in source_vids], "vid long")
            p_col = F.when(F.col("_is_src"), F.lit(1.0 / len(source_vids))).otherwise(F.lit(0.0))
            base = (
                verts.join(out_deg, "vid", "left")
                .join(src_set.withColumn("_is_src", F.lit(True)), "vid", "left")
                .select("vid", F.coalesce("deg", F.lit(0)).alias("deg"),
                        F.coalesce("_is_src", F.lit(False)).alias("_is_src"))
                .select("vid", "deg", p_col.alias("p"))
            )
        else:
            base = None  # uniform restart, filled after n is known
        n = verts.count()
        if n == 0:
            e_raw.unpersist()
            return spark.createDataFrame([], "vid long, rank double")
        if base is None:
            base = verts.join(out_deg, "vid", "left").select(
                "vid", F.coalesce("deg", F.lit(0)).alias("deg"), F.lit(1.0 / n).alias("p")
            )

    use_bcast = n <= broadcast_threshold
    shuffle_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # In broadcast mode the ENTIRE run (cache builds + superstep loop)
    # executes with AQE off: a table persisted under AQE embeds an
    # AdaptiveSparkPlan whose output partitioning downstream joins
    # cannot see, so every vertex-sized join would re-Exchange, and AQE
    # additionally materializes each query stage as its own driver
    # round-trip — pure overhead in a regime with no data-scale shuffle
    # to coalesce and no skew to split (see session.no_adaptive).  The
    # caches built here are mode-local and released before returning.
    # residual exchanges (init distinct / vertex joins) sized from the
    # vertex count rather than the static session default
    with no_adaptive(spark, max(1, -(-n // 2_000_000))) if use_bcast else contextlib.nullcontext():
        return _pagerank_run(
            spark, e_raw, base, n, use_bcast, shuffle_parts, resume_from,
            source_vids, damping, approx_precision, max_iterations,
            check_every, ledger, fold_stats=fold_stats,
        )


def _pagerank_run(
    spark, e_raw, base, n, use_bcast, shuffle_parts, resume_from,
    source_vids, damping, approx_precision, max_iterations, check_every,
    ledger, fold_stats=None,
) -> DataFrame:
    # SIZE-derived vertex partitioning (guide §2.2: partitions in
    # the 100 MB+ range, not one per core): a ≤131k-row vertex
    # table is a handful of MB, so the per-superstep vertex-sized
    # stages run as 1-2 tasks instead of `shuffle.partitions` tiny
    # ones — measured, the 32-partition vertex state made every
    # broadcast-build and checkpoint job a 32-task launch for <3 MB
    # of data.  Above the threshold the session's shuffle
    # partitioning (cluster-sized at submit time) applies unchanged.
    vparts = max(1, -(-n // 2_000_000)) if use_bcast else None

    if fold_stats is not None:
        # fold path (uniform fresh start): `base` is the already-persisted
        # (vid, deg) table and n / dangling count / edge count were read
        # off its cache-filling aggregation — no second full-scan job.
        n_dangling, m_edges = fold_stats
        eparts = min(shuffle_parts, max(1, -(-m_edges // 4_000_000))) if use_bcast else None
        b = base.repartition(vparts, "vid") if use_bcast else base.repartition("vid")
        it = 0
        init = 1.0 / n
        state = b.select(
            "vid", F.lit(init).alias("rank"), "deg", F.lit(init).alias("p")
        ).persist(StorageLevel.MEMORY_AND_DISK)
        if n_dangling == 0:
            dangling = 0.0
        elif use_bcast and vparts == 1:
            # single-partition aggregation = one sequential left fold;
            # every dangling term is the same literal 1/n and the
            # interleaved non-dangling terms add exact 0.0 — replicate
            # the fold on the driver instead of paying a Spark job
            acc = 0.0
            for _ in range(n_dangling):
                acc += init
            dangling = acc
        else:
            dangling = float(
                state.agg(
                    F.sum(F.when(F.col("deg") == 0, F.col("rank")).otherwise(F.lit(0.0)))
                ).first()[0]
                or 0.0
            )
    else:
        if use_bcast:
            base = base.repartition(vparts, "vid").persist(StorageLevel.MEMORY_AND_DISK)
        else:
            base = base.repartition("vid").persist(StorageLevel.MEMORY_AND_DISK)

        if resume_from is not None:
            it, state = resume_from
            state = state.select("vid", "rank", "deg", "p").persist(StorageLevel.MEMORY_AND_DISK)
        else:
            it = 0
            rank0 = F.col("p")
            state = base.select("vid", rank0.alias("rank"), "deg", "p").persist(StorageLevel.MEMORY_AND_DISK)
        # one action: initial dangling mass, dangling-vertex count AND edge
        # count (m = Σ out-degree, sizing the edge repartition below)
        row0 = state.agg(
            F.sum(F.when(F.col("deg") == 0, F.col("rank")).otherwise(F.lit(0.0))).alias("dmass"),
            F.sum(F.when(F.col("deg") == 0, 1).otherwise(0)).alias("dcount"),
            F.sum("deg").alias("m"),
        ).first()
        dangling = float(row0["dmass"] or 0.0)
        n_dangling = int(row0["dcount"] or 0)
        m_edges = int(row0["m"] or 0)
        eparts = min(shuffle_parts, max(1, -(-m_edges // 4_000_000))) if use_bcast else None

    eps = approx_precision * n
    cap = max_iterations if max_iterations is not None else 1_000_000
    batch = check_every if (check_every > 1 and n_dangling == 0) else 1

    if use_bcast:
        # repartition the edge table by dst ONCE: the per-superstep
        # broadcast join preserves it, so the contribution groupBy(dst)
        # aggregates without an exchange.  Partition count is derived
        # from the edge COUNT (~4M int-pair rows ≈ 64 MB per task,
        # guide §2.2), capped at the session's shuffle partitioning —
        # NOT a per-core constant, so a cluster-sized session fans out.
        e = e_raw.repartition(eparts, "dst").persist(StorageLevel.MEMORY_AND_DISK)
    else:
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
            e.join(F.broadcast(rank_src) if use_bcast else rank_src, "src")
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
        return cur.join(F.broadcast(contribs) if use_bcast else contribs, "vid", "left").select(
            *cols
        )

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
) -> DataFrame:
    """CSR-shard PageRank — the fast path (north star: "vectorized
    pandas/Arrow UDFs operating on CSR-packed partition blocks").

    The edge set stays distributed as salted dst-sharded int pairs
    (csr.materialize_csr_shards); the rank VECTOR lives on the driver
    as NumPy, exactly like the reference's dense parlay sequence
    (parallel_pagerank.h:38-55).  One Spark job per superstep: a
    mapInArrow gather with per-partition np.add.at, driver-side
    combine + rank update + L1 check.  Same convergence contract and
    same results (within float re-association) as :func:`pagerank`.

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
    n, deg = shards.n, shards.out_deg
    if n == 0:
        return spark.createDataFrame([], "vid long, rank double")
    if source_vids:
        p = np.zeros(n)
        p[shards.index_of(np.array(sorted(source_vids), dtype=np.int64))] = 1.0 / len(source_vids)
        r = p.copy()
    else:
        p = np.full(n, 1.0 / n)
        r = np.full(n, 1.0 / n)

    eps = approx_precision * n
    cap = max_iterations if max_iterations is not None else 1_000_000
    dangling_mask = deg == 0
    safe_deg = np.where(dangling_mask, 1, deg)

    from graph_mining_spark.session import no_adaptive

    it = 0
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

    out = _vec_df(spark, shards.vids, r)
    if own_shards:
        shards.unpersist()
    return out


def _vec_df(spark, vids, ranks):
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame({"vid": vids, "rank": ranks}), schema="vid long, rank double"
    )
