"""Affinity clustering — label-propagation community detection.

Parity target: the reference's parallel affinity clusterer
(/root/reference/in_memory/clustering/affinity/parallel_affinity.cc:47-155,
parallel_affinity_internal.cc, affinity.proto), the in-memory
counterpart of NeurIPS'17 MapReduce affinity clustering.  Per round:

  1. threshold θ_i from the configured schedule — fixed / per-iteration
     list (last repeats) / dynamic linear-or-exponential decay
     (weight_threshold.cc:29-57, dynamic_weight_threshold.cc:24-66);
  2. best-neighbor selection: per node, argmax over incident edges with
     weight ≥ θ_i by (weight desc, neighbor id desc) — the parallel
     tie-break "ties → larger id" (parallel_affinity_internal.cc:238-243);
  3. cluster = connected component of the best-neighbor pointer graph,
     labeled by MINIMUM member vid (reference unions via UF-Async;
     min-vid is its canonical labeling);
  4. FlattenClustering: compose round labels onto original vids
     (parallel_graph_utils.cc:207-217);
  5. CompressGraph: contract by cluster, aggregate inter-cluster edge
     weights by the configured EdgeAggregationFunction, sum node
     weights (parallel_affinity_internal.cc:270-424).  The
     scale-then-sum-then-rescale trick for non-associative linkages
     (DEFAULT_AVERAGE / CUT_SPARSITY, :306-371) maps exactly onto
     Spark's associative partial aggregation: sum raw weights, then
     rescale with a cluster-weights join.

Aggregation semantics (affinity.proto:58-77; S = inter-cluster edge
weights, X, Y = cluster node-weight totals):
  DEFAULT_AVERAGE  sum(S) / (X*Y)
  MAX              max(S)
  SUM              sum(S)
  CUT_SPARSITY     sum(S) / min(X, Y)
  PERCENTILE       s_floor(p*(|S|-1)) of sorted S; falls back to MAX
                   when |S| < min_edge_count_for_percentile_linkage
                   (affinity_internal.cc:136-161)
  EXPLICIT_AVERAGE sum(S) / |S|

Because we contract onto the min-vid representative, compressed node
ids stay inside the original id space and the final labels need no
CompressClusterIds remap (reference remaps to [0,k),
parallel_affinity_internal.cc:65-80 — a canonical-relabel difference
the test canonicalization erases).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from graph_mining_spark.checkpoint import SuperstepLedger, cut_lineage
from graph_mining_spark.graph import remove_self_loops, symmetrize, vertex_ids
from graph_mining_spark.operators.connected_components import forest_components


@dataclass
class DynamicWeightThreshold:
    upper_bound: float
    lower_bound: float
    decay: str = "exponential"  # or "linear"


@dataclass
class AffinityConfig:
    num_iterations: int = 1
    weight_threshold: float | None = None
    per_iteration_weight_thresholds: list[float] | None = None
    dynamic_weight_threshold: DynamicWeightThreshold | None = None
    edge_aggregation: str = "default_average"
    percentile_linkage_value: float = 0.5
    min_edge_count_for_percentile_linkage: int = 4
    max_degree_bounded_weight_multiplier: float = 1.0
    # "active" cluster conditions: a cluster staying in the clustering
    # loop must satisfy ≥1 condition; empty ⇒ all active
    # (affinity.proto:86-99).  Each condition: dict with optional
    # "min_density" / "min_conductance".
    active_cluster_conditions: list[dict] = field(default_factory=list)
    # SizeConstraint (affinity.proto:115-160) — per-round min/max/target
    # cluster-size enforcement (operators/size_constraint.py)
    size_constraint: object | None = None


def weight_threshold(cfg: AffinityConfig, iteration: int) -> float:
    """Threshold schedule (weight_threshold.cc:29-57)."""
    if iteration < 0:
        raise ValueError("iteration must be nonnegative")
    if cfg.weight_threshold is not None:
        return cfg.weight_threshold
    if cfg.per_iteration_weight_thresholds is not None:
        ts = cfg.per_iteration_weight_thresholds
        if not ts:
            return 0.0
        return ts[min(iteration, len(ts) - 1)]
    if cfg.dynamic_weight_threshold is not None:
        return _dynamic_threshold(cfg.dynamic_weight_threshold, cfg.num_iterations, iteration)
    return 0.0


def _dynamic_threshold(dwt: DynamicWeightThreshold, num_iterations: int, iteration: int) -> float:
    """Decay schedule (dynamic_weight_threshold.cc:24-66)."""
    if num_iterations < 1:
        raise ValueError("num_iterations must be >= 1")
    if not (0 <= iteration < num_iterations):
        raise ValueError("iteration out of range")
    if num_iterations == 1:
        if dwt.upper_bound != dwt.lower_bound:
            raise ValueError("num_iterations=1 requires equal bounds")
        return dwt.upper_bound
    if dwt.decay == "linear":
        return dwt.upper_bound - ((dwt.upper_bound - dwt.lower_bound) / (num_iterations - 1)) * iteration
    if dwt.decay == "exponential":
        if dwt.lower_bound <= 0 or dwt.upper_bound <= 0:
            raise ValueError("exponential decay requires positive bounds")
        return dwt.upper_bound * math.pow(dwt.lower_bound / dwt.upper_bound, iteration / (num_iterations - 1))
    raise ValueError(f"unknown decay {dwt.decay}")


def best_neighbor(
    edges: DataFrame,
    threshold: float = 0.0,
    size_constraint=None,
    node_weights: DataFrame | None = None,
) -> DataFrame:
    """Top-1 incident edge per node: (weight desc, neighbor id desc),
    edges below ``threshold`` ignored (threshold is inclusive — an edge
    with weight == θ qualifies; parallel_affinity_internal.cc:198-268).

    With a ``size_constraint`` (and its ``node_weights``) the
    reference's pre-filters apply (parallel_affinity_internal.cc:211-233):
    a node whose weight already exceeds ``min_cluster_size`` selects no
    neighbor, and edges whose combined endpoint weight exceeds
    ``max_cluster_size`` are ignored.

    Input must be the symmetrized (both orientations) edge table.
    Returns ``(src, dst, weight)`` — one row per node that has a
    qualifying edge.
    """
    e = remove_self_loops(edges).filter(F.col("weight") >= threshold)
    if size_constraint is not None and node_weights is not None:
        sc = size_constraint
        nw_s = node_weights.select(F.col("vid").alias("src"), F.col("node_weight").alias("_ns"))
        nw_d = node_weights.select(F.col("vid").alias("dst"), F.col("node_weight").alias("_nd"))
        e = e.join(nw_s, "src").join(nw_d, "dst")
        if sc.min_cluster_size is not None:
            e = e.filter(F.col("_ns") <= sc.min_cluster_size)
        if sc.max_cluster_size is not None:
            e = e.filter(F.col("_ns") + F.col("_nd") <= sc.max_cluster_size)
        e = e.select("src", "dst", "weight")
    # top-1 by (weight desc, dst desc) == max over the (weight, dst)
    # struct: a map-side-combined aggregation, so only vertex-sized
    # partials cross the shuffle (a row_number window would shuffle
    # EVERY edge and funnel a hub's whole edge list through one task)
    return (
        e.groupBy("src")
        .agg(F.max(F.struct(F.col("weight"), F.col("dst"))).alias("_best"))
        .select("src", F.col("_best.dst").alias("dst"), F.col("_best.weight").alias("weight"))
    )


def compress_graph(
    edges: DataFrame,
    labels: DataFrame,
    node_weights: DataFrame,
    agg: str = "default_average",
    percentile: float = 0.5,
    min_edge_count_for_percentile: int = 4,
    max_degree_bounded_multiplier: float = 1.0,
) -> tuple[DataFrame, DataFrame]:
    """Contract the graph by cluster labels (CompressGraph,
    parallel_affinity_internal.cc:270-424).

    ``edges``: symmetrized table over current node ids.
    ``labels``: (vid, label) over current node ids.
    ``node_weights``: (vid, node_weight) over current node ids.
    Returns (new_edges symmetrized over label ids, new_node_weights).
    Intra-cluster edges are dropped (the reference keeps a self-loop it
    then ignores for linkage; we need no self-loop downstream).
    """
    lab_src = labels.select(F.col("vid").alias("src"), F.col("label").alias("_cs"))
    lab_dst = labels.select(F.col("vid").alias("dst"), F.col("label").alias("_cd"))
    relabeled = (
        edges.join(lab_src, "src").join(lab_dst, "dst")
        .filter(F.col("_cs") != F.col("_cd"))
        .select(F.col("_cs").alias("src"), F.col("_cd").alias("dst"), "weight")
    )
    new_nw = (
        node_weights.join(labels, "vid")
        .groupBy(F.col("label").alias("vid"))
        .agg(F.sum("node_weight").alias("node_weight"))
    )

    agg = agg.lower()
    if agg == "max":
        new_edges = relabeled.groupBy("src", "dst").agg(F.max("weight").alias("weight"))
    elif agg == "sum":
        new_edges = relabeled.groupBy("src", "dst").agg(F.sum("weight").alias("weight"))
    elif agg == "explicit_average":
        new_edges = relabeled.groupBy("src", "dst").agg(F.avg("weight").alias("weight"))
    elif agg == "percentile":
        # s_floor(p*(|S|-1)) of the sorted multiset; MAX fallback below
        # the minimum edge count (affinity_internal.cc:136-161).
        grouped = relabeled.groupBy("src", "dst").agg(
            F.sort_array(F.collect_list("weight")).alias("_ws"), F.max("weight").alias("_max")
        )
        idx = F.floor(F.lit(percentile) * (F.size("_ws") - 1)).cast("int")
        new_edges = grouped.select(
            "src",
            "dst",
            F.when(F.size("_ws") < min_edge_count_for_percentile, F.col("_max"))
            .otherwise(F.element_at("_ws", idx + 1))
            .alias("weight"),
        )
    elif agg in ("default_average", "cut_sparsity", "average_with_max_degree_bounded"):
        # associative sum first, then rescale with cluster weights —
        # the reference's scale-then-sum-then-rescale made Spark-native
        # (partial aggregation stays associative).
        summed = relabeled.groupBy("src", "dst").agg(F.sum("weight").alias("_sum"))
        nw_s = new_nw.select(F.col("vid").alias("src"), F.col("node_weight").alias("_wx"))
        nw_d = new_nw.select(F.col("vid").alias("dst"), F.col("node_weight").alias("_wy"))
        joined = summed.join(nw_s, "src").join(nw_d, "dst")
        if agg == "default_average":
            denom = F.col("_wx") * F.col("_wy")
        elif agg == "cut_sparsity":
            denom = F.least("_wx", "_wy")
        else:
            # sum(S) / min(mult * min(X, Y), X * Y) — affinity.proto:71-79
            denom = F.least(
                F.lit(max_degree_bounded_multiplier) * F.least("_wx", "_wy"),
                F.col("_wx") * F.col("_wy"),
            )
        new_edges = joined.select("src", "dst", (F.col("_sum") / denom).alias("weight"))
    else:
        raise ValueError(f"unknown edge aggregation {agg}")
    return new_edges, new_nw


def compress_cluster_ids(labels: DataFrame) -> DataFrame:
    """Remap arbitrary labels to consecutive [0, k) by rank of sorted
    distinct labels (CompressClusterIds,
    parallel_affinity_internal.cc:65-80).

    The rank over the distinct labels uses the two-phase
    range-partitioned scheme (minla._two_phase_rank) instead of a
    global ``row_number`` window: k is usually small after contraction,
    but on a FIRST-round clustering k can be ~n/2, and the old
    unpartitioned window funneled that whole table through one task."""
    from graph_mining_spark.operators.minla import _two_phase_rank

    spark = labels.sparkSession
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    distinct = labels.select("label").distinct()
    ranked = _two_phase_rank(distinct, [F.col("label")], partitions=parts).select(
        "label", F.col("_rank").alias("_new")
    )
    return labels.join(ranked, "label").select("vid", F.col("_new").cast("long").alias("label"))


def flatten_clustering(labels: DataFrame, round_labels: DataFrame) -> DataFrame:
    """Compose: new[i] = round[old[i]] (parallel_graph_utils.cc:207-217)."""
    return (
        labels.join(
            round_labels.select(F.col("vid").alias("label"), F.col("label").alias("_new")),
            "label",
            "left",
        )
        .select("vid", F.coalesce("_new", "label").alias("label"))
    )


def cluster_stats(edges: DataFrame, labels: DataFrame, node_weights: DataFrame | None = None) -> DataFrame:
    """Per-cluster statistics (parallel_affinity_internal.cc:88-194):

      density     = intra-cluster edge weight / (X*(X-1)/2), X = node count
      conductance = inter weight / min(vol, total_vol − vol),
                    vol = Σ weighted degree of members

    ``edges`` must be symmetrized.  Returns
    (label, n_nodes, intra_weight, inter_weight, volume, density, conductance).
    """
    lab_src = labels.select(F.col("vid").alias("src"), F.col("label").alias("_cs"))
    lab_dst = labels.select(F.col("vid").alias("dst"), F.col("label").alias("_cd"))
    e = remove_self_loops(edges).join(lab_src, "src").join(lab_dst, "dst")
    per = e.groupBy(F.col("_cs").alias("label")).agg(
        # both orientations stored ⇒ each intra edge contributes twice; halve
        (F.sum(F.when(F.col("_cs") == F.col("_cd"), F.col("weight")).otherwise(0.0)) / 2).alias("intra_weight"),
        F.sum(F.when(F.col("_cs") != F.col("_cd"), F.col("weight")).otherwise(0.0)).alias("inter_weight"),
        F.sum("weight").alias("volume"),
    )
    sizes = labels.groupBy("label").agg(F.count("*").alias("n_nodes"))
    pairs = (F.col("n_nodes") * (F.col("n_nodes") - 1)) / 2.0
    # total volume = Σ per-cluster volume via a BROADCAST 1-row
    # aggregate instead of an unbounded window: on the first affinity
    # round the per-cluster table is ~n/2 rows, so the old unbounded
    # literal-partitioned window funneled a vertex-scale table through
    # ONE task.  The aggregate branch shares `per`'s shuffle exchange
    # with the main branch (ReuseExchange), so the expensive
    # edges⋈labels join still executes once and the statistic stays
    # lazy (no driver action).
    total = per.agg(F.coalesce(F.sum("volume"), F.lit(0.0)).alias("_tv"))
    return (
        sizes.join(per, "label", "left")
        .select(
            "label",
            "n_nodes",
            F.coalesce("intra_weight", F.lit(0.0)).alias("intra_weight"),
            F.coalesce("inter_weight", F.lit(0.0)).alias("inter_weight"),
            F.coalesce("volume", F.lit(0.0)).alias("volume"),
        )
        .crossJoin(F.broadcast(total))
        .withColumn("density", F.when(pairs > 0, F.col("intra_weight") / pairs).otherwise(F.lit(0.0)))
        .withColumn(
            "conductance",
            F.when(
                F.least(F.col("volume"), F.col("_tv") - F.col("volume")) > 0,
                F.col("inter_weight") / F.least(F.col("volume"), F.col("_tv") - F.col("volume")),
            ).otherwise(F.lit(0.0)),
        )
        .drop("_tv")
    )


def _active_filter(stats: DataFrame, conditions: list[dict]) -> DataFrame:
    """Clusters satisfying ≥1 active condition keep clustering; the rest
    are finished and emitted early (affinity.proto:86-99,
    FindFinishedClusters parallel_affinity_internal.cc:443-511)."""
    if not conditions:
        return stats.select("label")
    pred = F.lit(False)
    for cond in conditions:
        c = F.lit(True)
        if "min_density" in cond:
            c = c & (F.col("density") >= cond["min_density"])
        if "min_conductance" in cond:
            c = c & (F.col("conductance") >= cond["min_conductance"])
        pred = pred | c
    return stats.filter(pred).select("label")


def affinity_cluster(
    edges: DataFrame,
    config: AffinityConfig | None = None,
    vertices: DataFrame | None = None,
    node_weights: DataFrame | None = None,
    ledger: SuperstepLedger | None = None,
    return_levels: bool = False,
    already_symmetric: bool = False,
) -> DataFrame | list[DataFrame]:
    """Run affinity clustering; returns ``(vid, label)`` with label =
    min original vid in the community (or the per-round list when
    ``return_levels``).

    ``edges`` may be directed; it is symmetrized with MAX dedup first
    (reference converts to undirected the same way before clustering).
    Pass ``already_symmetric`` when the input carries both orientations
    to skip that shuffle (callers in per-level/per-round loops —
    parline, terahac — feed symmetric contractions).
    """
    cfg = config or AffinityConfig()
    user_scoped = vertices is not None or node_weights is not None
    sym = edges if already_symmetric else symmetrize(edges)
    # persist + materialize the working edge table BEFORE deriving the
    # vertex set: vertex_ids(sym) on the raw plan would execute the
    # whole symmetrize/derivation a second time (measured as the two
    # leading ~2 s jobs of every affinity run at sf0.1)
    cur_edges = sym.persist(StorageLevel.MEMORY_AND_DISK)
    m = cur_edges.count()
    verts = vertex_ids(cur_edges) if vertices is None else vertices.select(F.col("vid").cast("long")).distinct()
    labels = cut_lineage(verts.select("vid", F.col("vid").alias("label")))
    nw = (
        node_weights.select("vid", F.col("node_weight").cast("double"))
        if node_weights is not None
        else labels.select("vid", F.lit(1.0).alias("node_weight"))
    )

    # Small-graph regime (same gate as connected_components): every
    # vertex/cluster-sized table fits a broadcast, so the per-round
    # joins (forest connectivity, flatten, contraction relabel) hint
    # their small side explicitly and the run executes with AQE off —
    # nothing data-scale shuffles, and a cache persisted under AQE
    # hides its partitioning while each AQE stage costs a driver
    # round-trip (session.no_adaptive).  Above the gate the plan is
    # unchanged: shuffle joins with AQE coalescing + skew splitting.
    if 2 * m <= _SMALL_GRAPH_VERTEX_THRESHOLD:
        small = True
    elif m <= 8_000_000:
        small = labels.count() <= _SMALL_GRAPH_VERTEX_THRESHOLD
    else:
        small = False

    import contextlib

    from graph_mining_spark.session import no_adaptive

    small_parts = max(1, -(-m // 4_000_000))
    with no_adaptive(edges.sparkSession, small_parts) if small else contextlib.nullcontext():
        return _affinity_rounds(
            cfg, cur_edges, nw, labels, user_scoped, small, ledger, return_levels
        )


# vertex count at or below which a graph's vertex/cluster-sized tables
# are broadcast explicitly and AQE is bypassed (≈3 MB of labels) — the
# same envelope the other superstep operators use
_SMALL_GRAPH_VERTEX_THRESHOLD = 131_072


def _affinity_rounds(
    cfg: AffinityConfig,
    cur_edges: DataFrame,
    nw: DataFrame,
    labels: DataFrame,
    user_scoped: bool,
    small: bool,
    ledger: SuperstepLedger | None,
    return_levels: bool,
) -> DataFrame | list[DataFrame]:
    cur_nw = nw
    finished: DataFrame | None = None  # (vid,) of finished current-level clusters
    levels: list[DataFrame] = []

    for i in range(cfg.num_iterations):
        theta = weight_threshold(cfg, i)
        # materialize the (vertex-sized) best-neighbor forest once; the
        # emptiness check and the inner CC both read the checkpointed
        # result instead of re-running the per-src window over all edges
        best = cut_lineage(
            best_neighbor(cur_edges, theta, size_constraint=cfg.size_constraint, node_weights=cur_nw)
        )
        if best.isEmpty():
            if return_levels:
                levels.append(labels)
            break
        # clusters of the pointer graph; isolated/thresholded-out nodes
        # stay singletons via the vertices argument.  The pointer graph
        # is a best-neighbor forest, so the specialized log-depth
        # pointer-doubling connectivity replaces the general CC loop
        # (identical labels, ~5x fewer/cheaper jobs per round)
        cur_verts = cur_nw.select("vid")
        # best targets are drawn from cur_edges; from round 1 on those
        # are compress_graph outputs whose endpoints are round_labels
        # labels — exactly cur_verts — so the dangling-pointer clamp
        # join can be skipped.  On round 0 that only holds when the
        # vertex set was derived from the edges themselves: a CALLER
        # vertex/node-weight table may omit an edge endpoint, and an
        # unclamped pointer to it would silently drop its source row.
        round_labels = forest_components(
            best.select("src", "dst"),
            cur_verts,
            targets_in_vertices=(i > 0 or not user_scoped),
            small=small,
        )
        if cfg.size_constraint is not None:
            from graph_mining_spark.operators.size_constraint import enforce_max_cluster_size

            round_labels = cut_lineage(
                enforce_max_cluster_size(best, round_labels, cfg.size_constraint, node_weights=cur_nw)
            )
        # cluster-sized side broadcast in the small regime (hints
        # propagate through compress_graph/flatten's internal selects)
        rl = F.broadcast(round_labels) if small else round_labels
        labels = cut_lineage(flatten_clustering(labels, rl))
        if return_levels:
            levels.append(labels)
        if ledger is not None:
            n_clusters = round_labels.select("label").distinct().count()
            labels = ledger.record(i + 1, labels, metric=float(n_clusters), n_active=n_clusters)

        if i + 1 >= cfg.num_iterations:
            break

        # early-emit finished clusters (drop them from the active graph)
        if cfg.active_cluster_conditions:
            stats = cluster_stats(cur_edges, round_labels, None)
            active = _active_filter(stats, cfg.active_cluster_conditions)
            round_labels = round_labels.join(active, "label", "left_semi")
            rl = F.broadcast(round_labels) if small else round_labels

        new_edges, new_nw = compress_graph(
            cur_edges,
            rl,
            cur_nw,
            agg=cfg.edge_aggregation,
            percentile=cfg.percentile_linkage_value,
            min_edge_count_for_percentile=cfg.min_edge_count_for_percentile_linkage,
            max_degree_bounded_multiplier=cfg.max_degree_bounded_weight_multiplier,
        )
        old = cur_edges
        cur_edges = cut_lineage(new_edges)
        old.unpersist()
        cur_nw = cut_lineage(new_nw)
        if cur_edges.isEmpty():
            if return_levels and i + 1 < cfg.num_iterations:
                levels.append(labels)
            break

    return levels if return_levels else labels
