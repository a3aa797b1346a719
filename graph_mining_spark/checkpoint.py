"""Resumable superstep checkpointing (north-rule requirement).

Every iterative algorithm (PageRank / CC / affinity) drives its loop
through a :class:`SuperstepLedger`:

  - each superstep appends a JSON line
    ``{algo, superstep, metric, n_active, partitions, state_path, wall_s}``
    to ``<dir>/ledger.jsonl``; checkpointed supersteps additionally
    carry ``files`` — one ``{name, bytes, rows}`` entry per written
    part file — so the record holds the per-partition lineage +
    convergence metrics the north rule asks for;
  - every ``every`` supersteps the state DataFrame is written to
    Parquet under ``<dir>/state_<n>/`` (an atomic rename-free write —
    Spark writes a _SUCCESS marker we verify on resume);
  - :meth:`resume` returns (last_checkpointed_superstep, state_df) so a
    re-launched driver continues where the previous run stopped.

This replaces lineage-truncating ``localCheckpoint()`` with a durable
artifact (the semantic analog of the reference's per-round graph
compression, parallel_affinity.cc:120-126, which also re-materializes
state each round).  When no durability is wanted, pass ``directory=None``
and the ledger degrades to in-memory metrics + ``localCheckpoint``.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel


def cut_lineage(df: DataFrame) -> DataFrame:
    """Truncate lineage for superstep loops: persist → localCheckpoint
    (the checkpoint job doubles as the cache-filling action and fires
    any attached Observation) → unpersist the staging cache.

    The persist is load-bearing, not an optimization: measured on
    pyspark 4.1 local mode, a bare ``localCheckpoint(eager=True)`` of
    an UNPERSISTED plan leaves a state whose every reuse re-executes
    its input plan, so chained supersteps go exponential (~0.4 s/step
    flat with this pattern vs 35 s by step 21 without it).
    """
    staged = df.persist(StorageLevel.MEMORY_AND_DISK)
    out = staged.localCheckpoint(eager=True)
    staged.unpersist()
    return out


@dataclass
class SuperstepLedger:
    algo: str
    directory: str | None = None
    every: int = 5
    records: list[dict] = field(default_factory=list)
    _t0: float = field(default_factory=time.monotonic)

    def __post_init__(self) -> None:
        if self.directory:
            os.makedirs(self.directory, exist_ok=True)

    @property
    def ledger_path(self) -> str | None:
        return os.path.join(self.directory, "ledger.jsonl") if self.directory else None

    def _state_path(self, superstep: int) -> str:
        assert self.directory
        return os.path.join(self.directory, f"state_{superstep:06d}")

    def will_checkpoint(self, superstep: int, force: bool = False) -> bool:
        """True when :meth:`record` would durably write this superstep —
        lets callers whose state is driver-resident (the CSR fast
        paths) skip building the state DataFrame entirely on the
        metrics-only steps and pass ``state=None``."""
        return bool(self.directory) and (force or superstep % self.every == 0)

    def record(
        self,
        superstep: int,
        state: DataFrame | None,
        metric: float | None = None,
        n_active: int | None = None,
        force_checkpoint: bool = False,
        observation=None,
        metrics_only: bool = False,
    ) -> DataFrame | None:
        """Log one superstep; persist state every ``every`` steps.

        Returns the state DataFrame to keep using — re-read from Parquet
        when checkpointed (cuts lineage AND survives driver restart),
        else localCheckpoint'ed (cuts lineage only).  On a metrics-only,
        non-checkpointed step the caller may pass ``state=None`` (gate
        with :meth:`will_checkpoint`); ``None`` is returned unchanged.

        ``observation``: a ``pyspark.sql.Observation`` attached to the
        ``state`` plan.  The materialization performed here doubles as
        the metrics action (no separate metrics job per superstep);
        missing ``metric`` / ``n_active`` are filled from the
        observation's ``metric`` / ``n_active`` keys after the run.

        ``metrics_only``: skip the lineage cut on non-checkpointed
        steps and return ``state`` unchanged — for callers whose state
        is driver-resident (the CSR fast paths build their DataFrame
        from a local vector, so there is no lineage to cut); durable
        checkpoints still happen when a directory is set.
        """
        now = time.monotonic()
        wall = now - self._t0
        self._t0 = now
        checkpointed = self.will_checkpoint(superstep, force_checkpoint)
        files: list[dict] | None = None
        if state is None and (checkpointed or not metrics_only):
            raise ValueError(
                "state=None is only valid on metrics-only, non-checkpointed "
                "supersteps (gate with will_checkpoint())"
            )
        if checkpointed:
            path = self._state_path(superstep)
            state.write.mode("overwrite").parquet(path)
            out = state.sparkSession.read.parquet(path)
            files = self._partition_manifest(state.sparkSession, path)
        elif metrics_only:
            out = state
        else:
            out = cut_lineage(state)
        if observation is not None:
            got = observation.get
            if metric is None:
                metric = float(got.get("metric", 0.0) or 0.0)
            if n_active is None:
                n_active = int(got.get("n_active", 0) or 0)
        rec = {
            "algo": self.algo,
            "superstep": superstep,
            "metric": float(metric if metric is not None else 0.0),
            "n_active": int(n_active if n_active is not None else 0),
            # rdd conversion is a JVM roundtrip — not worth it for a
            # metrics-only record of a driver-resident vector
            "partitions": None if (metrics_only and not checkpointed) else out.rdd.getNumPartitions(),
            "state_path": self._state_path(superstep) if checkpointed else None,
            "wall_s": round(wall, 4),
        }
        if files is not None:
            # per-partition lineage: which concrete files constitute
            # this superstep's durable state, and how large each is —
            # read straight off the written directory (no extra Spark
            # job), so a resumed driver can verify the state it loads
            # file-by-file
            rec["files"] = files
        self.records.append(rec)
        if self.ledger_path:
            with open(self.ledger_path, "a") as f:
                f.write(json.dumps(rec) + "\n")
        return out

    @staticmethod
    def _partition_manifest(spark: SparkSession, state_path: str) -> list[dict]:
        """Per-partition lineage of a durable state: one entry per
        written part file (name, bytes, rows), listed through the
        Hadoop FS abstraction so hdfs:/s3a: checkpoint roots work.
        Row counts come from the parquet footer (metadata-only read)
        and are best-effort on non-local stores."""
        jvm = spark._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(state_path)
        fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
        out = []
        for st in fs.listStatus(hpath):
            name = st.getPath().getName()
            if not name.startswith("part-") or name.endswith(".crc"):
                continue
            rows = None
            uri = st.getPath().toString()
            local = uri.split("file:", 1)[-1] if uri.startswith("file:") else None
            if local is None and "://" not in uri:
                local = uri
            if local is not None:
                try:
                    import pyarrow.parquet as pq

                    rows = pq.ParquetFile(local).metadata.num_rows
                except Exception:
                    rows = None
            out.append({"name": name, "bytes": int(st.getLen()), "rows": rows})
        return sorted(out, key=lambda r: r["name"])

    @classmethod
    def resume(cls, spark: SparkSession, algo: str, directory: str) -> tuple[int, DataFrame] | None:
        """Load the latest durable state for ``algo`` under ``directory``.

        Returns ``(superstep, state_df)`` or None when nothing usable
        exists (fresh start).  An unparseable FINAL line is the torn
        append of a driver killed mid-write: it is ignored and cut off
        the file, so the resumed run appends on a line of its own.  A
        corrupt earlier line still raises."""
        path = os.path.join(directory, "ledger.jsonl")
        if not os.path.exists(path):
            return None
        best: dict | None = None
        with open(path, "rb") as f:
            lines = f.readlines()
        for i, line in enumerate(lines):
            try:
                rec = json.loads(line)
            except ValueError:
                if i < len(lines) - 1:
                    raise
                os.truncate(path, sum(map(len, lines[:-1])))
                break
            if rec.get("algo") != algo or not rec.get("state_path"):
                continue
            marker = os.path.join(rec["state_path"], "_SUCCESS")
            if os.path.exists(marker):
                if best is None or rec["superstep"] > best["superstep"]:
                    best = rec
        if best is None:
            return None
        return best["superstep"], spark.read.parquet(best["state_path"])
