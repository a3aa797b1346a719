"""Benchmark of the source-table -> link-graph pipeline.

    python3 linkbench/run.py --workload code_graph --seed 1 --seconds 10 --trace 0

One process, one Spark driver, one client running its jobs one after
another (a closed loop).  Set-up starts the session, generates the
seeded source table and writes it as Parquet; the engine receives only
that path.  A pass reads the table, builds the link graph, symmetrizes
it and runs PageRank, connected components, label propagation and
triangle counting on it.  After an untimed warm-up, every run times
exactly one pass, whatever ``--seconds`` says: a pass is longer than the
configured run length, and a fixed pass count keeps a faster program
measured on the same terms as a slower one.  Outputs are checked outside
the timed sections, by ``checks.py``.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` traces the
pass instead and prints the per-layer metrics (see ``trace.py``).  The
last line of standard output is the JSON result.  See README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import checks  # noqa: E402
import gen  # noqa: E402
import trace  # noqa: E402

CPUS = min(2, len(os.sched_getaffinity(0)))
SHUFFLE_PARTITIONS = 8
DRIVER_MEMORY = "3g"
OUT_DIR = os.path.join(ROOT, ".linkbench_work")  # spans and per-layer files

# Why each workload exists and the program path it reaches: README.md.
WORKLOADS = {
    # DataFrame shuffle-join supersteps.  ``bcast`` is passed to PageRank
    # and connected components as their broadcast_threshold, so that this
    # graph takes the path a graph above the default 131,072-vertex gate
    # takes.  In-memory ledgers: lineage cuts only.  The warm-up's table
    # is scaled down with its gate (see main).
    "code_graph": dict(
        spec=gen.Spec(base_repos=1600, files_lo=6, files_hi=14, fork_share=0.3, forks_max=7,
                      vendored=3, vendored_share=0.02, hub_repos=0, body_lines=10),
        bcast=4096, csr=False, lpa_iterations=3,
        warmup=dict(spec=gen.Spec(base_repos=120, files_lo=6, files_hi=14, fork_share=0.3,
                                  forks_max=7, vendored=3, vendored_share=0.02, hub_repos=0,
                                  body_lines=10), bcast=512, salt=None),
    ),
    # One vendored file in 100,052 repos: a hub past the CSR salt
    # threshold.  PageRank and connected components share one salted CSR
    # shard build.  Label propagation keeps a durable ledger (state every
    # ``every`` supersteps), is cut off after ``cut`` supersteps and
    # resumed from that ledger.
    "vendored_hub": dict(
        spec=gen.Spec(base_repos=400, files_lo=6, files_hi=14, fork_share=0.3, forks_max=7,
                      vendored=3, vendored_share=0.05, hub_repos=100_050, body_lines=10),
        bcast=None, csr=True, every=2, cut=2, lpa_iterations=3,
        repeat={"pagerank": 3, "connected_components": 3},
        warmup=dict(spec=gen.Spec(base_repos=50, files_lo=6, files_hi=14, fork_share=0.3,
                                  forks_max=7, vendored=3, vendored_share=0.05, hub_repos=1500,
                                  body_lines=10), bcast=None, salt=1000),
    ),
}
SALT_THRESHOLD = 100_000  # the CSR default; vendored_hub's hub must exceed it


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="run length; accepted, but a run always times exactly one pass")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_environment(work: str) -> None:
    """Keep every file the run writes inside ``work`` and run the program
    with its default behaviour: no inherited SPARK_GRAFT_* switch is
    kept; only the checkpoint directory location is set."""
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]
    for sub in ("ckpt", "tmp", "local", "events", "ledgers"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CKPT_DIR"] = os.path.join(work, "ckpt")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def start_spark(work: str, traced: bool):
    from graph_mining_spark import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # the program's own GC choice, plus a temp directory inside the run
        "spark.driver.extraJavaOptions": "-XX:+UseParallelGC -Djava.io.tmpdir="
        + os.path.join(work, "tmp"),
    }
    if traced:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(cpus=CPUS, shuffle_partitions=SHUFFLE_PARTITIONS,
                     driver_memory=DRIVER_MEMORY, app_name="linkbench", extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM (and with it the
    Python workers it started) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def peak_rss_mb() -> float:
    """High-water RSS of this process plus the driver JVM."""
    from pyspark import SparkContext

    total_kb = 0
    for pid in (os.getpid(), SparkContext._gateway.proc.pid):
        with open(f"/proc/{pid}/status") as f:
            total_kb += next(int(x.split()[1]) for x in f if x.startswith("VmHWM:"))
    return total_kb / 1024.0


class Pass:
    """One pass of the pipeline over the written table."""

    def __init__(self, spark, tracer, w, ledger_root, cap=None):
        """``cap`` bounds the supersteps of PageRank and connected
        components (the warm-up's short runs); None runs them to
        convergence."""
        from graph_mining_spark.checkpoint import SuperstepLedger

        self.spark, self.tracer, self.w, self.cap = spark, tracer, w, cap
        self.ledger_root = ledger_root
        self.Ledger = trace.traced_ledger(SuperstepLedger, tracer) if tracer.enabled else SuperstepLedger

    def run(self, index: int, table_path: str, salt_threshold: int, collect: bool) -> dict:
        from pyspark.storagelevel import StorageLevel

        from graph_mining_spark import csr
        from graph_mining_spark.graph import symmetrize
        from graph_mining_spark.ingest import build_link_graph, read_source_table
        from graph_mining_spark.operators import triangle_counts

        span, w = self.tracer.span, self.w
        t, out, facts = {}, {}, {"supersteps": {}, "ledgers": {}}
        mem = StorageLevel.MEMORY_AND_DISK
        with span("pass", index=index) as root, trace.traced_gathers(csr, self.tracer):
            t0 = time.perf_counter()
            with span("ingest.read_source_table"):
                files = read_source_table(self.spark, table_path)
            with span("ingest.build_link_graph"):
                fh, verts, edges = build_link_graph(files)
                edges = edges.persist(mem)
                facts["edges_out"] = edges.count()
            t["ingest"] = time.perf_counter() - t0
            with span("graph.symmetrize"):
                sym = symmetrize(edges).persist(mem)
                facts["sym_edges"] = sym.count()
            shards = None
            if w["csr"]:
                with span("csr.materialize_csr_shards"):
                    shards = csr.materialize_csr_shards(
                        sym.select("src", "dst"), salt_threshold=salt_threshold)
            for op in ("pagerank", "connected_components", "label_propagation"):
                # sub-second CSR calls repeat; their median call is timed
                reps = 1 if self.tracer.enabled else w.get("repeat", {}).get(op, 1)
                calls = []
                with span(trace.OPERATORS[op]):
                    for _ in range(reps):
                        s0 = time.perf_counter()
                        out[op], facts["ledgers"][op] = self._iterative(op, sym, shards, index)
                        calls.append(time.perf_counter() - s0)
                t[op] = statistics.median(calls)
                facts["supersteps"][op] = facts["ledgers"][op]["executed"]
            s0 = time.perf_counter()
            with span(trace.OPERATORS["triangles"]):
                out["triangles"] = triangle_counts(sym).toPandas()
            t["triangles"] = time.perf_counter() - s0
            t["total"] = time.perf_counter() - t0
        facts["pass_span"] = root.get("id")
        facts["triangles_found"] = int(out["triangles"]["triangles"].sum()) // 3
        if shards is not None:
            facts["shard_bytes"] = sum(
                os.path.getsize(os.path.join(shards.shard_dir, f))
                for f in os.listdir(shards.shard_dir) if f.startswith("part-"))
            facts["max_in_degree"] = int(shards.out_deg.max())  # symmetric: in == out
            shards.unpersist()
        if collect:
            out["hashes"] = fh.select("repo", "path", "content_sha256").toPandas()
            out["verts"] = verts.toPandas()
            out["edges"] = edges.select("src", "dst").toPandas()
            out["sym"] = sym.toPandas()
        sym.unpersist()
        edges.unpersist()
        return {"t": t, "out": out, "facts": facts}

    def _iterative(self, op, sym, shards, index):
        """Run one iterative operator with a ledger; returns its output as
        pandas and what its ledgers recorded."""
        from graph_mining_spark.checkpoint import SuperstepLedger
        from graph_mining_spark.operators import (
            connected_components,
            label_propagation,
            pagerank,
        )
        from graph_mining_spark.operators.connected_components import connected_components_csr
        from graph_mining_spark.operators.pagerank import pagerank_csr

        w, cap = self.w, self.cap
        kw = {} if w["bcast"] is None else {"broadcast_threshold": w["bcast"]}
        if op == "pagerank":
            def call(stop, **k):
                if w["csr"]:
                    return pagerank_csr(sym, shards=shards, max_iterations=cap, **k)
                return pagerank(sym, max_iterations=cap, **kw, **k)
        elif op == "connected_components":
            def call(stop, **k):
                if w["csr"]:
                    return connected_components_csr(sym, already_symmetric=True, shards=shards,
                                                    max_supersteps=cap or 200, **k)
                return connected_components(sym, already_symmetric=True,
                                            max_supersteps=cap or 200, **kw, **k)
        else:
            def call(stop, **k):
                return label_propagation(sym, already_symmetric=True,
                                         max_iterations=stop or w["lpa_iterations"], **k)
        resume = op == "label_propagation" and w.get("cut")
        directory = os.path.join(self.ledger_root, f"pass{index}", op) if resume else None
        ledger = self.Ledger(op, directory=directory, every=w.get("every", 5))
        facts = {"directory": directory}
        if resume:
            # cut off partway, then a fresh ledger resumes from the
            # durable state and finishes
            call(w["cut"], ledger=ledger)
            with self.tracer.span("checkpoint.resume"):
                resumed = SuperstepLedger.resume(self.spark, op, directory)
            if resumed is None:
                raise RuntimeError(f"{op}: no durable state in {directory}")
            facts["resumed_at"] = resumed[0]
            first, ledger = ledger, self.Ledger(op, directory=directory, every=w["every"])
            res = call(None, ledger=ledger, resume_from=resumed).toPandas()
            facts["executed"] = len(first.records) + len(ledger.records)
        else:
            res = call(None, ledger=ledger).toPandas()
            facts["executed"] = len(ledger.records)
        facts["last"] = ledger.records[-1]["superstep"]
        if directory:
            facts["state_dirs"] = sorted(d for d in os.listdir(directory) if d.startswith("state_"))
        return res, facts


def check_pass(table, p, w, times: dict) -> list[str]:
    """Every independent check on a collected pass, and the path check.
    The wall time of each check goes into ``times``."""
    out, facts = p["out"], p["facts"]
    errs = []

    def run(name, fn, *args):
        t0 = time.perf_counter()
        errs.extend(fn(*args))
        times[name] = time.perf_counter() - t0

    keys = table.keys()
    h = out["hashes"]
    run("sha256", checks.check_sha256, dict(zip(keys, table.content)),
        (h["repo"] + ":" + h["path"]).tolist(), h["content_sha256"].tolist())
    v = out["verts"]
    vid_key = dict(zip(v["vid"].tolist(), (v["repo"] + ":" + v["path"]).tolist()))
    if len(vid_key) != len(keys) or set(vid_key.values()) != set(keys):
        errs.append("vertices: the vertex table does not hold each input row once")
    e = out["edges"]
    imports = {(keys[a], keys[b]) for a, b in table.imports}
    groups = [[keys[i] for i in g] for g in table.groups]
    run("edges", checks.check_edges, vid_key, e["src"].to_numpy(), e["dst"].to_numpy(),
        imports, groups)

    sym = out["sym"]
    src, dst = sym["src"].to_numpy(), sym["dst"].to_numpy()
    pr = out["pagerank"]
    run("pagerank", checks.check_pagerank, src, dst, pr["vid"].to_numpy(),
        pr["rank"].to_numpy(), facts["ledgers"]["pagerank"]["last"])
    cc = out["connected_components"]
    run("components", checks.check_components, src, dst, cc["vid"].to_numpy(),
        cc["label"].to_numpy())
    lp = out["label_propagation"]
    run("label_propagation", checks.check_lpa, src, dst, sym["weight"].to_numpy(),
        w["lpa_iterations"], lp["vid"].to_numpy(), lp["label"].to_numpy())
    tc = out["triangles"]
    run("triangles", checks.check_triangles, src, dst, tc["vid"].to_numpy(),
        tc["triangles"].to_numpy())
    return errs + check_path(p, w)


def check_path(p, w) -> list[str]:
    """The pass reached the code path its workload exists for."""
    facts, errs = p["facts"], []
    n = len(p["out"]["pagerank"])
    if w["bcast"] is not None and not n > w["bcast"]:
        errs.append(f"path: {n} vertices do not pass the broadcast gate {w['bcast']}")
    if w["csr"] and not facts["max_in_degree"] > SALT_THRESHOLD:
        errs.append(f"path: in-degree {facts['max_in_degree']} does not pass the salt threshold")
    for op, led in facts["ledgers"].items():
        if led["directory"] and not led["state_dirs"]:
            errs.append(f"path: the {op} ledger wrote no durable state")
        if "resumed_at" in led and not led["resumed_at"] < led["last"]:
            errs.append(f"path: {op} resumed at {led['resumed_at']}, its last superstep")
    return errs


def end_to_end(p: dict, setup_s: float, rss_mb: float, files: int) -> dict:
    t, facts = p["t"], p["facts"]

    def per_s(op):
        return facts["sym_edges"] * facts["supersteps"][op] / t[op]

    return {
        "setup_s": (setup_s, "s"),
        "total_s": (t["total"], "s"),
        "ingest_files_per_s": (files / t["ingest"], "files/s"),
        "pagerank_edges_per_s": (per_s("pagerank"), "edges/s"),
        "cc_edges_per_s": (per_s("connected_components"), "edges/s"),
        "lpa_edges_per_s": (per_s("label_propagation"), "edges/s"),
        "triangles_edges_per_s": (facts["sym_edges"] / 2 / t["triangles"], "edges/s"),
        "peak_rss_mb": (rss_mb, "MB"),
    }


def unit(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_s") or name.endswith("_s_per_superstep"):
        return "s"
    return "count"


def make_tables(w, seed, table_path, warm_path):
    """Write the timed table (from ``seed``) and the warm-up table (from
    a seed derived from it); returns the timed table with its plant."""
    gen.write_parquet(gen.generate(w["warmup"]["spec"], seed + 1_000_003), warm_path)
    table = gen.generate(w["spec"], seed)
    gen.write_parquet(table, table_path)
    return table


def main(argv=None) -> int:
    args = parse_args(argv)
    w = WORKLOADS[args.workload]
    import graph_mining_spark  # noqa: F401  (fails outside a checkout of the engine)

    work = os.path.join(OUT_DIR, f"{args.workload}-{os.getpid()}")
    prepare_environment(work)

    tracer = trace.Tracer(enabled=bool(args.trace))
    spark = None
    try:
        # the tables are written before the driver JVM starts, so that the
        # two do not contend for the CPU
        table_path = os.path.join(work, "source.parquet")
        warm_path = os.path.join(work, "warmup.parquet")
        table = make_tables(w, args.seed, table_path, warm_path)
        s0 = time.perf_counter()
        spark = start_spark(work, traced=bool(args.trace))
        session_start_s = time.perf_counter() - s0
        tracer.sc = spark.sparkContext
        setup_s = time.perf_counter() - T_START

        # untimed warm-up on the small table, with the gates scaled and
        # the supersteps capped: the timed pass's code paths, each run at
        # least once (no repeated calls), in a fraction of its time
        ledgers = os.path.join(work, "ledgers")
        short = dict(w, bcast=w["warmup"]["bcast"], repeat={},
                     lpa_iterations=w["cut"] + 1 if w.get("cut") else 1)
        warm_pass = Pass(spark, trace.Tracer(False), short, ledgers, cap=1).run(
            -1, warm_path, w["warmup"]["salt"], collect=False)
        warm_s = time.perf_counter() - T_START - setup_s

        timed = Pass(spark, tracer, w, ledgers).run(0, table_path, SALT_THRESHOLD, collect=True)
        check_times = {}
        errs = check_pass(table, timed, w, check_times)
        rss = peak_rss_mb()
        stop_spark(spark)
        spark = None

        if args.trace:
            os.makedirs(OUT_DIR, exist_ok=True)
            tracer.write(os.path.join(OUT_DIR, f"spans-{args.workload}.jsonl"))
            facts = dict(timed["facts"], session_start_s=session_start_s,
                         tracing_overhead_s=tracer.overhead_s)
            counts = trace.event_log_counts(os.path.join(work, "events"))
            raw = trace.layer_metrics(tracer.spans, counts, facts["pass_span"], facts)
            with open(os.path.join(OUT_DIR, f"layers-{args.workload}.json"), "w") as f:
                json.dump(raw, f, indent=1)
            metrics = {k: {"value": v, "unit": unit(k)} for k, v in raw.items()}
        else:
            e2e = end_to_end(timed, setup_s, rss, len(table.repo))
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        for e in errs:
            print("CHECK FAILED:", e, file=sys.stderr)
        print(f"setup {setup_s:.2f}s, warm-up {warm_s:.2f}s, checks (s): "
              + ", ".join(f"{k} {v:.2f}" for k, v in check_times.items()), file=sys.stderr)
        for p in (warm_pass, timed):
            print("pass:", {k: round(v, 2) for k, v in p["t"].items()},
                  p["facts"]["supersteps"], file=sys.stderr)
        # read+build, symmetrize, the CSR build, triangles, each iterative
        # call.  An operation that raises ends the run without a result, so
        # no failure is ever counted here.
        attempted = 2 + w["csr"] + 1 + sum(
            1 if args.trace else w.get("repeat", {}).get(op, 1)
            for op in ("pagerank", "connected_components", "label_propagation"))
        result = {"correct": not errs, "attempted": attempted, "failed": 0, "metrics": metrics}
        print(json.dumps(result))
        return 0
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
