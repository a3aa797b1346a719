"""Capture .explain('formatted') for the round-6 optimization targets.

Usage: python scripts/capture_plans_r06.py <before|after> [name ...]

Writes plans/r06/<name>_<tag>.txt.  Loop-based operators (pagerank, cc,
affinity) are captured as a REPRESENTATIVE SUPERSTEP plan built from the
same building blocks the loop uses, because the loop's returned state is
a checkpointed RDD scan with no interesting plan.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, ".")

from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from graph_mining_spark.functions.dedup import minhash_signatures
from graph_mining_spark.operators.affinity import (
    best_neighbor,
    cluster_stats,
    compress_cluster_ids,
    compress_graph,
)
from graph_mining_spark.operators.triangles import triangle_counts
from graph_mining_spark.session import get_spark
from graph_mining_spark.tpch_graph import bipartite_sym, coparts_edges

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT = "plans/r06"


def fmt(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    tag = sys.argv[1]
    only = set(sys.argv[2:])
    os.makedirs(OUT, exist_ok=True)
    spark = get_spark(app_name=f"plans-r06-{tag}")

    sym = bipartite_sym(spark, SF_DIR).persist(StorageLevel.MEMORY_AND_DISK)
    sym.count()
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")

    plans = {}

    def _real_loop_plan(which: str) -> str:
        """Capture the REAL mid-loop batch plan by wrapping the
        operator's cut_lineage: every superstep stages through it, so
        the last captured plan is an actual executed superstep/batch
        (not a hand-built replica that could drift from the code)."""
        from graph_mining_spark import checkpoint as ckpt_mod

        import importlib

        if which == "pagerank":
            mod = importlib.import_module("graph_mining_spark.operators.pagerank")
            # broadcast_threshold=0: this graph is below the vertex gate,
            # and the CSR path below it runs no DataFrame superstep
            run = lambda: mod.pagerank(
                sym, check_every=2, max_iterations=4, broadcast_threshold=0
            ).agg(F.sum("rank")).first()
        else:
            mod = importlib.import_module(
                "graph_mining_spark.operators.connected_components"
            )
            run = lambda: mod.connected_components(sym, broadcast_threshold=0).count()
        captured = []
        orig = ckpt_mod.cut_lineage

        def grab(df):
            captured.append(fmt(df))
            return orig(df)

        mod.cut_lineage = grab
        try:
            run()
        finally:
            mod.cut_lineage = orig
        return captured[-1]

    plans["minhash_documents"] = lambda: minhash_signatures(docs)

    from graph_mining_spark.session import no_adaptive

    def _pagerank_superstep():
        if tag == "after":
            return _real_loop_plan("pagerank")
        # the broadcast-mode superstep as the pre-round-6 pagerank()
        # built it (kept for the historical `before` capture)
        with no_adaptive(spark, 1):
            e = sym.select("src", "dst").repartition(1, "dst").persist()
            e.count()
            verts = e.select(F.col("src").alias("vid")).unionByName(
                e.select(F.col("dst").alias("vid"))
            ).distinct()
            out_deg = e.groupBy(F.col("src").alias("vid")).agg(F.count("*").alias("deg"))
            base = verts.join(out_deg, "vid", "left").select(
                "vid", F.coalesce("deg", F.lit(0)).alias("deg"), F.lit(1.0).alias("p")
            ).repartition(1, "vid").persist()
            state = base.select("vid", F.lit(1.0).alias("rank"), "deg", "p").persist()
            state.count()
            rank_src = state.filter(F.col("deg") > 0).select(
                F.col("vid").alias("src"), (F.col("rank") / F.col("deg")).alias("_c")
            )
            contribs = (
                e.join(F.broadcast(rank_src), "src")
                .groupBy(F.col("dst").alias("vid"))
                .agg(F.sum("_c").alias("_contrib"))
            )
            # last step of a batch as pagerank() now builds it: joined
            # off the running STATE (not base) so the input rank rides
            # along as _prev for the L1 observation — no separate
            # prev-vector join
            return fmt(state.join(F.broadcast(contribs), "vid", "left").select(
                "vid",
                (F.lit(0.15) * F.col("p") + F.lit(0.85) * F.coalesce("_contrib", F.lit(0.0))).alias("rank"),
                "deg",
                "p",
                F.col("rank").alias("_prev"),
            ))

    plans["pagerank_superstep"] = _pagerank_superstep

    def _csr_pack():
        # the small-regime JVM reindex pack exactly as
        # materialize_csr_shards now builds it: two broadcast joins
        # against the (vid, idx) dictionary — no MapInArrow node, so
        # the session never starts the Python worker runner
        import numpy as np
        import pandas as pd

        base = sym.select("src", "dst")
        stats = (
            base.selectExpr(
                "inline(array("
                "  struct(cast(src as long) as vid, 1 as _o, 0 as _i),"
                "  struct(cast(dst as long) as vid, 0 as _o, 1 as _i)))"
            )
            .groupBy("vid")
            .agg(F.sum("_o").alias("_o"), F.sum("_i").alias("_i"))
            .toPandas()
        )
        vids = np.sort(stats["vid"].to_numpy(dtype=np.int64))
        if tag == "before":
            # the Arrow searchsorted pack this replaced: a MapInArrow
            # node (Python worker stage) feeding the same repartition
            def pack(batches):
                yield from batches

            return base.mapInArrow(pack, schema="s int, d int").repartition(1, "d")
        ddf = spark.createDataFrame(
            pd.DataFrame({"vid": vids, "idx": np.arange(len(vids), dtype=np.int32)})
        )
        return (
            base.select(
                F.col("src").cast("long").alias("_s"), F.col("dst").cast("long").alias("_d")
            )
            .join(F.broadcast(ddf.select(F.col("vid").alias("_s"), F.col("idx").alias("s"))), "_s")
            .join(F.broadcast(ddf.select(F.col("vid").alias("_d"), F.col("idx").alias("d"))), "_d")
            .select("s", "d")
            .repartition(1, "d")
        )

    plans["csr_pack"] = _csr_pack

    def _cc_superstep():
        if tag == "after":
            return _real_loop_plan("cc")
        # the small-regime cc superstep as the pre-fused
        # connected_components() built it (historical `before` capture)
        with no_adaptive(spark, 1):
            e = sym.select("src", "dst").repartition(1, "dst").persist()
            e.count()
            labels = e.groupBy(F.col("dst").alias("vid")).agg(F.min("src").alias("label"))
            changed = labels
            frontier = changed.withColumnRenamed("vid", "src")
            nbr_min = F.broadcast(
                e.join(F.broadcast(frontier), "src")
                .groupBy(F.col("dst").alias("vid"))
                .agg(F.min("label").alias("nbr_label"))
            )
            stepped = labels.join(nbr_min, "vid", "left").select(
                "vid",
                F.least("label", F.coalesce("nbr_label", "label")).alias("label"),
                F.col("label").alias("_prev"),
            )
            parent = F.broadcast(
                stepped.select(F.col("vid").alias("_p_vid"), F.col("label").alias("_p_label"))
            )
            return fmt(stepped.join(parent, stepped.label == parent._p_vid, "left").select(
                "vid", F.coalesce("_p_label", "label").alias("label"), "_prev"
            ))

    plans["cc_superstep"] = _cc_superstep

    plans["best_neighbor"] = lambda: best_neighbor(sym)



    def _compress():
        labels = best_neighbor(sym).select(F.col("src").alias("vid"), F.col("dst").alias("label"))
        nw = labels.select("vid", F.lit(1.0).alias("node_weight"))
        ne, _ = compress_graph(sym, labels, nw, agg="sum")
        return ne

    plans["compress_graph_sum"] = _compress

    plans["triangles_coparts"] = lambda: triangle_counts(
        coparts_edges(spark, SF_DIR)
    )

    def _cluster_stats_conditions():
        labels = sym.select(F.col("src").alias("vid")).distinct().select(
            "vid", (F.col("vid") % 7).alias("label")
        )
        return cluster_stats(sym, labels)

    plans["cluster_stats"] = _cluster_stats_conditions

    def _compress_cluster_ids():
        labels = sym.select(F.col("src").alias("vid")).distinct().select(
            "vid", (F.col("vid") % 7).alias("label")
        )
        return compress_cluster_ids(labels)

    plans["compress_cluster_ids"] = _compress_cluster_ids

    for name, fn in plans.items():
        if only and name not in only:
            continue
        try:
            txt = fn()
            if not isinstance(txt, str):
                txt = fmt(txt)
        except Exception as e:  # noqa: BLE001
            txt = f"ERROR: {e}"
        path = os.path.join(OUT, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print(f"wrote {path} ({len(txt)} bytes)")


if __name__ == "__main__":
    main()
