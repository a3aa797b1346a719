"""Tracing for the benchmark's traced run.

Spans are recorded from the benchmark's side around each call into a
module of the engine: name, start, end and parent, kept in memory and
written out when the run ends.  Each span sets its own Spark job group,
so Spark's event log (enabled, uncompressed and not rolling, for the
traced run only) attributes every job, stage and task to the innermost
span that started it.  ``layer_metrics`` folds spans and event-log
counts into the per-layer metrics.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time

# per-operator metrics and the span that scopes each operator
OPERATORS = {
    "pagerank": "operators.pagerank",
    "connected_components": "operators.connected_components",
    "label_propagation": "operators.label_propagation",
    "triangles": "operators.triangles",
}
SPARK_COUNTS = ("jobs", "stages", "tasks", "shuffle_write_bytes", "shuffle_write_records",
                "executor_run_ms", "gc_ms")


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.sc = None  # SparkContext, once there is one
        self.overhead_s = 0.0  # time spent in span bookkeeping and job-group calls

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "parent": parent["id"] if parent else None,
               "start": None, "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t0
        try:
            yield rec
        finally:
            rec["end"] = t1 = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            self.overhead_s += time.perf_counter() - t1

    def _set_group(self, rec):
        if self.sc is None:
            return
        if rec is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"lb{rec['id']}", rec["name"])

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


def traced_ledger(base, tracer: Tracer):
    """A ``SuperstepLedger`` subclass whose ``record`` calls are spans
    carrying whether the superstep was written durably and its bytes."""

    class TracedLedger(base):
        def record(self, *args, **kwargs):
            with tracer.span("checkpoint.record") as sp:
                out = super().record(*args, **kwargs)
            rec = self.records[-1]
            sp["durable"] = rec.get("state_path") is not None
            sp["state_bytes"] = sum(f["bytes"] for f in rec.get("files") or [])
            return out

    return TracedLedger


@contextlib.contextmanager
def traced_gathers(csr_module, tracer: Tracer):
    """Wrap the CSR gather kernels in spans for the duration of a pass.
    The CSR operators import them from the module at call time."""
    if not tracer.enabled:
        yield
        return
    saved = {name: getattr(csr_module, name) for name in ("gather_sum", "gather_min")}

    def wrap(fn):
        def gather(*args, **kwargs):
            with tracer.span("csr.gather"):
                return fn(*args, **kwargs)
        return gather

    for name, fn in saved.items():
        setattr(csr_module, name, wrap(fn))
    try:
        yield
    finally:
        for name, fn in saved.items():
            setattr(csr_module, name, fn)


def event_log_counts(event_dir: str) -> dict[str, dict[str, int]]:
    """Per job group: jobs, completed stages, tasks, shuffle bytes and
    records written, executor run time and GC time, from Spark's
    uncompressed event log."""
    counts: dict[str, dict[str, int]] = {}
    stage_group: dict[int, str] = {}

    def bucket(group):
        return counts.setdefault(group or "", dict.fromkeys(SPARK_COUNTS, 0))

    for path in glob.glob(os.path.join(event_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    bucket((ev.get("Properties") or {}).get("spark.jobGroup.id"))["jobs"] += 1
                elif kind == "SparkListenerStageSubmitted":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    stage_group[ev["Stage Info"]["Stage ID"]] = group
                elif kind == "SparkListenerStageCompleted":
                    bucket(stage_group.get(ev["Stage Info"]["Stage ID"]))["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    b = bucket(stage_group.get(ev["Stage ID"]))
                    m = ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    b["tasks"] += 1
                    b["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    b["shuffle_write_records"] += sw.get("Shuffle Records Written", 0)
                    b["executor_run_ms"] += m.get("Executor Run Time", 0)
                    b["gc_ms"] += m.get("JVM GC Time", 0)
    return counts


def _children(spans):
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    return kids


def _subtree(span, kids):
    out, todo = [], [span]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s["id"], []))
    return out


def _spark(spans, kids, counts):
    """Spark counts of the jobs started inside any of ``spans``."""
    tot = dict.fromkeys(SPARK_COUNTS, 0)
    for top in spans:
        for s in _subtree(top, kids):
            for k, v in counts.get(f"lb{s['id']}", {}).items():
                tot[k] += v
    return tot


def _wall(spans):
    return sum(s["end"] - s["start"] for s in spans)


def _self(spans, kids):
    """Span time not covered by direct child spans (children of one span
    run one after another, so their durations add)."""
    return sum(
        (s["end"] - s["start"]) - _wall(kids.get(s["id"], [])) for s in spans
    )


def layer_metrics(spans: list[dict], counts: dict, pass_id: int, facts: dict) -> dict[str, float]:
    """Per-layer metrics of the traced pass rooted at span ``pass_id``.

    ``facts`` carries what the pass measured itself: session start time,
    edges out of ingest, shard bytes, supersteps per operator, triangles
    found and the tracing overhead."""
    kids = _children(spans)
    root = next(s for s in spans if s["id"] == pass_id)
    inside = _subtree(root, kids)

    def named(name):
        return [s for s in inside if s["name"] == name]

    m: dict[str, float] = {"session.start_s": facts["session_start_s"]}
    read, build = named("ingest.read_source_table"), named("ingest.build_link_graph")
    ing = _spark(read + build, kids, counts)
    m.update({
        "ingest.read_s": _wall(read),
        "ingest.build_s": _wall(build),
        "ingest.edges_out": facts["edges_out"],
        "ingest.spark_jobs": ing["jobs"],
        "ingest.shuffle_write_bytes": ing["shuffle_write_bytes"],
        "ingest.executor_run_ms": ing["executor_run_ms"],
        "ingest.gc_ms": ing["gc_ms"],
    })
    sym = named("graph.symmetrize")
    m["graph.symmetrize_s"] = _wall(sym)
    m["graph.shuffle_write_bytes"] = _spark(sym, kids, counts)["shuffle_write_bytes"]

    build, gathers = named("csr.materialize_csr_shards"), named("csr.gather")
    m["csr.build_s"] = _wall(build)
    m["csr.shard_bytes"] = facts.get("shard_bytes", 0)
    m["csr.spark_jobs"] = _spark(build + gathers, kids, counts)["jobs"]
    m["csr.gather_s_per_superstep"] = _wall(gathers) / len(gathers) if gathers else 0.0

    rec, res = named("checkpoint.record"), named("checkpoint.resume")
    m["checkpoint.record_calls"] = len(rec)
    m["checkpoint.record_s"] = _wall(rec)
    m["checkpoint.durable_writes"] = sum(1 for s in rec if s.get("durable"))
    m["checkpoint.state_bytes"] = sum(s.get("state_bytes", 0) for s in rec)
    m["checkpoint.resume_s"] = _wall(res)

    for op, span_name in OPERATORS.items():
        sp = named(span_name)
        c = _spark(sp, kids, counts)
        m[f"{op}.wall_s"] = _wall(sp)
        m[f"{op}.self_s"] = _self(sp, kids)
        if op != "triangles":
            m[f"{op}.supersteps"] = facts["supersteps"][op]
        m[f"{op}.spark_jobs"] = c["jobs"]
        m[f"{op}.spark_stages"] = c["stages"]
        m[f"{op}.tasks"] = c["tasks"]
        m[f"{op}.shuffle_write_bytes"] = c["shuffle_write_bytes"]
        m[f"{op}.shuffle_write_records"] = c["shuffle_write_records"]
        m[f"{op}.executor_run_ms"] = c["executor_run_ms"]
        m[f"{op}.gc_ms"] = c["gc_ms"]
    m["triangles.found"] = facts["triangles_found"]

    tot = _spark([root], kids, counts)
    m["spark.jobs"] = tot["jobs"]
    m["spark.shuffle_write_bytes"] = tot["shuffle_write_bytes"]
    m["spark.executor_run_ms"] = tot["executor_run_ms"]
    m["spark.gc_ms"] = tot["gc_ms"]
    m["tracing.overhead_s"] = facts["tracing_overhead_s"]
    return m
