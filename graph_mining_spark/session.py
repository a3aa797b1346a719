"""SparkSession factory tuned for the link-graph workload.

Local mode is a single JVM; ``spark.driver.memory`` is the only memory
knob.  On a real cluster the same code runs unchanged via
``spark-submit --py-files``; only master/memory/shuffle-partition
settings move to submit-time conf.
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import SparkSession


@contextlib.contextmanager
def no_adaptive(spark: SparkSession, shuffle_partitions: int | None = None):
    """Temporarily disable AQE for a superstep loop whose plan provably
    contains no data-scale exchange (e.g. the broadcast-mode PageRank/CC
    regime, where every table in play is vertex-sized and pre-partitioned).

    AQE materializes every query stage as its own job with a driver
    round-trip and re-planning in between; on an iterative loop of tiny
    per-superstep queries that overhead dominates (measured ~40 ms × ~14
    stage-jobs per batch at sf0.1).  There is nothing for AQE to adapt in
    this regime — no shuffle to coalesce, no skew to split — so this is a
    size-gated toggle, not a local-mode tuning: the same loop above the
    broadcast threshold keeps AQE on for its real shuffles.

    ``shuffle_partitions``: with AQE off, any residual exchange defaults
    to the session's static ``spark.sql.shuffle.partitions``; callers
    that know the regime's data size pass a count DERIVED FROM IT
    (rows/bytes per the guide's §2.2 partition sizing, e.g. ~4M edge
    rows per partition), which AQE's coalescing would otherwise have
    provided.  All settings are restored on exit.
    """
    key = "spark.sql.adaptive.enabled"
    skey = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    olds = spark.conf.get(skey)
    spark.conf.set(key, "false")
    if shuffle_partitions is not None:
        spark.conf.set(skey, str(max(1, int(shuffle_partitions))))
    try:
        yield
    finally:
        spark.conf.set(key, old)
        spark.conf.set(skey, olds)

# Shuffle partitions sized to cores for local runs.  On a 1000-executor
# cluster this would be ~2-3x total cores, set at submit time; AQE
# coalescing makes the exact value forgiving.
_DEF_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    app_name: str = "graph_mining_spark",
    driver_memory: str = "48g",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with AQE + Arrow enabled.

    AQE gives runtime shuffle-partition coalescing and skew-join
    splitting — both load-bearing for the power-law degree
    distributions of a source-code link graph.
    """
    cpus = cpus or _DEF_CPUS
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Iterative superstep loops re-plan many small stages; keep
        # codegen caches warm and logs quiet.
        .config("spark.sql.execution.pandas.convertToArrowArraySafely", "true")
        # big Arrow batches keep the vectorized CSR kernels amortized
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(1 << 18))
        # G1 pauses dominate iterative shuffle loops at high thread
        # counts in local mode; throughput GC measured ~2.5x faster
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    # Checkpoint dir for localCheckpoint-free persistent checkpoints.
    ckpt = os.environ.get("SPARK_GRAFT_CKPT_DIR", "/tmp/graph_mining_spark_ckpt")
    spark.sparkContext.setCheckpointDir(ckpt)
    return spark
