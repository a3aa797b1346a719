"""Salted CSR shard materialization + vectorized gather kernels.

The reference computes on columnar CSR built by sort + prefix-sum
(gbbs_graph.h:461-529, parallel_graph_utils.cc:34-61).  The Spark
analog here:

  1. external vids → DENSE int32 indices (broadcast binary search,
     vectorized per Arrow batch);
  2. the int-pair edge table is hash-partitioned by (dst, salt) and
     written ONCE as parquet shards through the Hadoop FS abstraction
     (SPARK_GRAFT_CKPT_DIR may be file:, hdfs:, s3a:, ...); the shard
     list comes from the same FS API and executors read shards by URI,
     so driver and executors need no shared local disk;
  3. each gather superstep maps over a tiny shard-descriptor DataFrame;
     the kernel loads its shard through a WORKER-PROCESS-LOCAL LRU
     cache (Spark reuses Python workers across jobs, so steady-state
     supersteps ship only the broadcast value vector — profiling showed
     re-streaming 8M edge rows through Arrow costs ~2.2 s/superstep,
     while a cached-shard gather is dominated by the np.bincount).

Skew splitting: a destination with degree > ``salt_threshold`` has its
in-edges spread across ``ceil(deg/threshold)`` salt buckets so no
single task owns a hub's whole edge list; the driver-side combine
(np.bincount over per-shard partials) is the second stage of the
two-stage salted aggregation (SURVEY §7.1).  Results are bitwise
independent of salting.

Scale envelope: the vertex VECTOR (ranks/labels) lives on the driver
as NumPy — viable to ~10⁸ vertices; the edge set stays distributed.
Beyond that, the pure-DataFrame supersteps in operators/ are the
fallback (unbounded, more wall per superstep).
"""

from __future__ import annotations

import os
import shutil
import uuid
from collections import OrderedDict
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Worker-process-local shard cache (Python workers are reused across
# jobs).  BYTE-bounded LRU so a worker that sees many shards doesn't
# hold the whole graph, while a gather task that owns many SMALL
# shards (see _gather_partitions) keeps them all hot.
_SHARD_CACHE: OrderedDict = OrderedDict()
_SHARD_CACHE_MAX_BYTES = int(
    float(os.environ.get("SPARK_GRAFT_SHARD_CACHE_MB", "512")) * 1024 * 1024
)
_SHARD_CACHE_BYTES = 0

# Minimum edges a single gather task should own: per-task Python/Arrow
# launch overhead measured ~10 ms wall on top of a ~0.25 s fixed job
# cost, while bincount over 1M cached edges is ~10 ms — below this,
# more tasks only add latency.  A 100 TB edge set still fans out to
# edges/1M tasks; env-overridable for tuning.
_EDGES_PER_GATHER_TASK = int(os.environ.get("SPARK_GRAFT_GATHER_EDGES_PER_TASK", "1000000"))


def _driver_gather_max_edges() -> int:
    """Edge-count gate for the DRIVER-LOCAL gather: when the whole
    shard set already fits a single gather task (gather_parts == 1 —
    only possible below ~4M edges, see the write_parts cap), that task
    is SERIAL either way, so executing the identical kernel in the
    driver process skips one Spark job (+ broadcast + Arrow collect)
    per superstep — measured ~0.2-0.5 s of pure launch latency per
    gather in local mode.  Results are bit-identical: same kernel, same
    file order, same combine.  Set to 0 to force the distributed path
    (tests do, to pin both).  At 100 TB scale gather_parts ≫ 1 and the
    gate never fires.  Read at call time so tests can monkeypatch."""
    return int(os.environ.get("SPARK_GRAFT_DRIVER_GATHER_EDGES", "8000000"))


def _jvm_pack_max_vertices() -> int:
    """Vertex-count gate for the JVM (broadcast-join) reindex pack: an
    UNSALTED graph whose vertex dictionary fits a broadcast hash join
    (~16 B/row) can be packed s/d = dense index entirely in the JVM —
    two broadcast joins against the (vid, idx) dictionary — instead of
    the mapInArrow searchsorted kernel.  Same rows, same order, same
    int32 types; the point is that a small-regime run never starts the
    Python worker runner at all (one-time init measured ~3.5 s in local
    mode).  Salted or larger graphs keep the Arrow pack (a 10⁸-row
    dictionary join would shuffle; the NumPy broadcast search is the
    scale path).  Set to 0 to force the Arrow pack."""
    return int(os.environ.get("SPARK_GRAFT_JVM_PACK_MAX_VERTICES", "4000000"))


def _load_shard(path: str):
    """Read one shard by URI — local, HDFS, S3A, ... via pyarrow's
    filesystem resolution, so executors read from whatever shared store
    the shards were written to (they are NOT assumed to sit on the
    driver's local disk)."""
    hit = _SHARD_CACHE.get(path)
    if hit is not None:
        _SHARD_CACHE.move_to_end(path)
        return hit
    import pyarrow.parquet as pq

    if path.startswith("file:"):
        # Hadoop renders local URIs as file:/abs/path — parse properly
        # so a URI with an authority (file://host/path) keeps its
        # meaning instead of collapsing to /host/path
        from urllib.parse import urlparse

        parsed = urlparse(path)
        if parsed.netloc and parsed.netloc != "localhost":
            raise ValueError(f"non-local file URI authority: {path}")
        t = pq.read_table(parsed.path, columns=["s", "d"], memory_map=True)
    elif "://" in path:
        import pyarrow.fs as pafs

        fs, rel = pafs.FileSystem.from_uri(path)
        t = pq.read_table(rel, columns=["s", "d"], filesystem=fs)
    else:
        t = pq.read_table(path, columns=["s", "d"], memory_map=True)
    s = t.column("s").to_numpy(zero_copy_only=False).astype(np.int32, copy=False)
    d = t.column("d").to_numpy(zero_copy_only=False).astype(np.int32, copy=False)
    global _SHARD_CACHE_BYTES
    _SHARD_CACHE[path] = (s, d)
    _SHARD_CACHE_BYTES += s.nbytes + d.nbytes
    while _SHARD_CACHE_BYTES > _SHARD_CACHE_MAX_BYTES and len(_SHARD_CACHE) > 1:
        _, (es, ed) = _SHARD_CACHE.popitem(last=False)
        _SHARD_CACHE_BYTES -= es.nbytes + ed.nbytes
    return s, d


def _hadoop_fs(spark, path: str):
    """Hadoop FileSystem handle for ``path`` — the same abstraction the
    write goes through, valid for any configured scheme."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def _list_shard_uris(spark, shard_dir: str) -> list[str]:
    """Enumerate shard files through the Hadoop FS API (NOT os.listdir,
    which only sees the driver's local disk)."""
    fs, hpath = _hadoop_fs(spark, shard_dir)
    uris = []
    for st in fs.listStatus(hpath):
        name = st.getPath().getName()
        if name.startswith("part-") and not name.endswith(".crc"):
            uris.append(st.getPath().toString())
    return sorted(uris)


@dataclass
class CsrShards:
    """Disk-backed CSR shards + driver-side vertex dictionary."""

    shard_files: DataFrame  # one row per shard parquet file, grouped into
    # work-sized gather partitions (~_EDGES_PER_GATHER_TASK edges/task;
    # a small graph's files may all share one partition)
    shard_dir: str
    vids: np.ndarray  # dense index -> external vid (sorted ascending)
    out_deg: np.ndarray  # dense index -> out-degree
    n: int
    _cleanup: bool = field(default=True)
    # driver-local gather support (see _driver_gather_max_edges): the
    # shard URI list in gather-partition order, the edge total, and the
    # gather partition count the descriptor DataFrame was built with
    files: list[str] | None = None
    total_edges: int = 0
    gather_parts: int = 1

    def index_of(self, vid_array: np.ndarray) -> np.ndarray:
        return np.searchsorted(self.vids, vid_array)

    def align(self, state: DataFrame, column: str) -> np.ndarray:
        """``state``'s ``column`` as a vector in dense-index order — the
        starting point of a resumed CSR loop.  Only ``vid`` and
        ``column`` are read; ``state`` must hold every vertex once."""
        pdf = state.select(F.col("vid").cast("long"), column).toPandas()
        vids = pdf["vid"].to_numpy(dtype=np.int64)
        if len(vids) != self.n or not np.array_equal(np.sort(vids), self.vids):
            raise ValueError(f"state to resume from does not hold the graph's {self.n} vertices")
        out = np.empty(self.n, dtype=pdf[column].dtype)
        out[self.index_of(vids)] = pdf[column].to_numpy()
        return out

    def unpersist(self) -> None:
        if self._cleanup:
            try:
                spark = self.shard_files.sparkSession
                fs, hpath = _hadoop_fs(spark, self.shard_dir)
                fs.delete(hpath, True)
            except Exception:  # session gone — best-effort local cleanup
                shutil.rmtree(self.shard_dir, ignore_errors=True)
        # always release the cached descriptor DataFrame, even when the
        # shard files themselves are kept (_cleanup=False)
        self.shard_files.unpersist()


def materialize_csr_shards(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    partitions: int = 32,
    salt_threshold: int = 100_000,
    shard_root: str | None = None,
) -> CsrShards:
    """Build the salted dst-sharded int-pair shard files.

    ``edges`` is directed (src → dst); gathers aggregate by dst.
    """
    spark = edges.sparkSession
    # ONE map-side-combined aggregation yields the vertex dictionary,
    # the out-degree vector (scatter normalization) AND the in-degree
    # vector (salting decision) in a single n-row Arrow collect —
    # previously three separate jobs plus a persisted reindex pass.
    # inline(array(...)) emits both endpoint rows from ONE scan of the
    # upstream plan (a union of two selects would execute it twice —
    # costly when the caller passes an uncached symmetrize/ingest plan)
    stats_pdf = (
        edges.selectExpr(
            "inline(array("
            "  struct(cast(src as long) as vid, 1 as _o, 0 as _i),"
            "  struct(cast(dst as long) as vid, 0 as _o, 1 as _i)))"
        )
        .groupBy("vid")
        .agg(F.sum("_o").alias("_o"), F.sum("_i").alias("_i"))
        .toPandas()
    )
    evids = stats_pdf["vid"].to_numpy(dtype=np.int64)
    order = np.argsort(evids)
    evids = evids[order]
    e_out = stats_pdf["_o"].to_numpy(dtype=np.int64)[order]
    e_in = stats_pdf["_i"].to_numpy(dtype=np.int64)[order]

    if vertices is None:
        vids, deg, indeg = evids, e_out, e_in
    else:
        verts = vertices.select(F.col("vid").cast("long")).distinct()
        vids = np.sort(verts.toPandas()["vid"].to_numpy(dtype=np.int64))
        deg = np.zeros(len(vids), dtype=np.int64)
        indeg = np.zeros(len(vids), dtype=np.int64)
        pos = np.searchsorted(vids, evids)
        # every edge endpoint must be in the provided vertex set — a
        # silent mismatch would scatter degrees (and salt counts) onto
        # the wrong vertex
        if len(evids) and (
            pos.max(initial=-1) >= len(vids) or not np.array_equal(vids[pos], evids)
        ):
            bad = pos >= len(vids)
            if len(vids):  # an empty vertex table makes EVERY endpoint missing
                bad |= vids[np.minimum(pos, len(vids) - 1)] != evids
            missing = evids[bad]
            raise ValueError(
                f"edges reference {len(missing)} vertex id(s) not in `vertices` "
                f"(e.g. {missing[:5].tolist()})"
            )
        deg[pos] = e_out
        indeg[pos] = e_in
    n = len(vids)

    bvids = spark.sparkContext.broadcast(vids)
    # Skew: a dst over the threshold has its in-edges spread over
    # ceil(deg/threshold) salt buckets.  The salt is computed IN the
    # reindex kernel from a broadcast per-vertex bucket-count vector
    # (multiply-shift hash of the src index) — no per-edge degree join.
    # Gathers are bitwise-identical either way: the driver-side combine
    # never depended on shard placement.
    max_deg = int(indeg.max()) if n else 0
    salted = max_deg > salt_threshold
    bnsalt = (
        spark.sparkContext.broadcast(
            np.maximum(1, -(-indeg // salt_threshold)).astype(np.int64)
        )
        if salted
        else None
    )

    def pack(batches):
        # dense index via broadcast binary search, vectorized per batch
        import pyarrow as pa

        for b in batches:
            s = np.searchsorted(
                bvids.value, b.column("src").to_numpy(zero_copy_only=False)
            ).astype(np.int32)
            d = np.searchsorted(
                bvids.value, b.column("dst").to_numpy(zero_copy_only=False)
            ).astype(np.int32)
            if salted:
                h = (s.astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15)) >> np.uint64(33)
                t = (h % bnsalt.value[d].astype(np.uint64)).astype(np.int32)
                yield pa.RecordBatch.from_arrays(
                    [pa.array(s), pa.array(d), pa.array(t)], names=["s", "d", "t"]
                )
            else:
                yield pa.RecordBatch.from_arrays([pa.array(s), pa.array(d)], names=["s", "d"])

    base = edges.select("src", "dst")
    # Cap the shard count by the edge count (~4M int-pair rows ≈ 64 MB
    # per file, guide §2.2/§6): a small graph otherwise writes
    # ``partitions`` near-empty files and every later gather pays their
    # per-file open/list overhead.  A 100 TB edge set keeps the caller's
    # full fan-out (the cap only ever lowers the count below the
    # requested ``partitions`` when the data cannot fill them).
    total_edges = int(e_out.sum())
    write_parts = max(1, min(partitions, -(-total_edges // 4_000_000)))
    if salted:
        to_write = (
            base.mapInArrow(pack, schema="s int, d int, t int")
            .repartition(write_parts, "d", "t")
            .select("s", "d")
        )
    elif n <= _jvm_pack_max_vertices():
        # JVM reindex: two broadcast hash joins against the (vid, idx)
        # dictionary — bit-identical rows/order/types to the Arrow pack
        # (broadcast joins preserve stream-side order), but the session
        # never starts a Python worker for a small-regime build
        import pandas as pd

        ddf = spark.createDataFrame(
            pd.DataFrame({"vid": vids, "idx": np.arange(n, dtype=np.int32)}),
            schema="vid long, idx int",
        )
        to_write = (
            base.select(
                F.col("src").cast("long").alias("_s"), F.col("dst").cast("long").alias("_d")
            )
            .join(F.broadcast(ddf.select(F.col("vid").alias("_s"), F.col("idx").alias("s"))), "_s")
            .join(F.broadcast(ddf.select(F.col("vid").alias("_d"), F.col("idx").alias("d"))), "_d")
            .select("s", "d")
            .repartition(write_parts, "d")
        )
    else:
        to_write = base.mapInArrow(pack, schema="s int, d int").repartition(write_parts, "d")
    root = shard_root or os.environ.get("SPARK_GRAFT_CKPT_DIR", "/tmp/graph_mining_spark_ckpt")
    shard_dir = os.path.join(root, f"csr_{uuid.uuid4().hex[:12]}")
    to_write.write.mode("overwrite").parquet(shard_dir)
    files = _list_shard_uris(spark, shard_dir)
    # Group shard descriptors into WORK-SIZED gather tasks: one task
    # per ~_EDGES_PER_GATHER_TASK edges (never more tasks than files).
    # Each gather superstep maps over these partitions, so a small
    # graph pays a handful of Python-task launches per superstep
    # instead of one per file, while a 100 TB edge set still fans out
    # to edges/1M tasks.
    gather_parts = max(1, min(len(files), -(-total_edges // _EDGES_PER_GATHER_TASK)))
    if gather_parts == 1:
        # single-partition descriptor as a LocalRelation (driver-side
        # Arrow conversion): materializing it is a pure-JVM job, where
        # sc.parallelize would make it a Python RDD whose very first
        # count starts the Python worker runner
        import pandas as pd

        shard_files = spark.createDataFrame(
            pd.DataFrame({"path": files}), schema="path string"
        ).coalesce(1)
    else:
        # exact partition count up front (sc.parallelize) — a
        # createDataFrame + repartition pair costs two extra tiny jobs
        shard_files = spark.createDataFrame(
            spark.sparkContext.parallelize([(p,) for p in files], gather_parts),
            "path string",
        )
    shard_files = shard_files.persist()
    shard_files.count()
    bvids.destroy()
    if bnsalt is not None:
        bnsalt.destroy()

    return CsrShards(
        shard_files=shard_files,
        shard_dir=shard_dir,
        vids=vids,
        out_deg=deg,
        n=n,
        files=files,
        total_edges=total_edges,
        gather_parts=gather_parts,
    )


def _partition_gather(paths, values: np.ndarray, n: int, mode: str):
    """One gather partition's kernel: accumulate over its shard files
    in order, return (touched indices, partial values).  Shared verbatim
    by the distributed map task and the driver-local fast path so the
    two are bit-identical by construction."""
    if mode == "sum":
        acc = np.zeros(n, dtype=np.float64)
    else:
        acc = np.full(n, np.iinfo(np.int64).max, dtype=np.int64)
    touched = np.zeros(n, dtype=bool)
    for path in paths:
        s, d = _load_shard(path)
        if mode == "sum":
            acc += np.bincount(d, weights=values[s], minlength=n)
        else:
            np.minimum.at(acc, d, values[s])
        touched[d] = True
    nz = np.flatnonzero(touched)
    return nz, acc[nz]


def _gather(shards: CsrShards, values: np.ndarray, mode: str) -> np.ndarray:
    """Shared driver for gather_sum / gather_min: one map over the
    shard descriptors, per-shard NumPy kernel over cached edge arrays,
    driver-side combine (the salted second stage).

    Driver-local fast path: when the whole shard set is one gather
    partition anyway (small graph — the task would run serially on one
    core), run the SAME kernel + combine in the driver process and skip
    the per-superstep Spark job entirely.  Same files, same order, same
    float operations — bit-identical output."""
    n = shards.n
    if (
        shards.files is not None
        and shards.gather_parts == 1
        and shards.total_edges <= _driver_gather_max_edges()
    ):
        nz, vnz = _partition_gather(shards.files, values, n, mode)
        if mode == "sum":
            return np.bincount(nz, weights=vnz, minlength=n).astype(np.float64)
        out = values.copy()
        np.minimum.at(out, nz, vnz)
        return out

    spark = shards.shard_files.sparkSession
    bvals = spark.sparkContext.broadcast(values)

    def kernel(batches):
        import pyarrow as pa

        paths = [p for batch in batches for p in batch.column("path").to_pylist()]
        nz, vnz = _partition_gather(paths, bvals.value, n, mode)
        yield pa.RecordBatch.from_arrays([pa.array(nz.astype(np.int32)), pa.array(vnz)], names=["d", "v"])

    out_schema = "d int, v double" if mode == "sum" else "d int, v long"
    pdf = shards.shard_files.mapInArrow(kernel, schema=out_schema).toPandas()
    if mode == "sum":
        out = np.bincount(pdf["d"].to_numpy(), weights=pdf["v"].to_numpy(), minlength=n).astype(
            np.float64
        )
    else:
        out = values.copy()
        np.minimum.at(out, pdf["d"].to_numpy(), pdf["v"].to_numpy())
    bvals.destroy()
    return out


def gather_sum(shards: CsrShards, values: np.ndarray) -> np.ndarray:
    """out[d] = Σ_{(s,d)∈E} values[s]."""
    return _gather(shards, values, "sum")


def gather_min(shards: CsrShards, values: np.ndarray) -> np.ndarray:
    """out[d] = min(values[d], min_{(s,d)∈E} values[s]) — the
    hash-to-min kernel for connected components."""
    return _gather(shards, values, "min")
