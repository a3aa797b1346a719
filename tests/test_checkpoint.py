import json
import os

import numpy as np

from graph_mining_spark.checkpoint import SuperstepLedger
from graph_mining_spark.operators.connected_components import connected_components
from graph_mining_spark.operators.pagerank import pagerank
from tests.conftest import make_edges
from tests.oracles import seeded_er_edges


def _ranks(df):
    return {r["vid"]: r["rank"] for r in df.collect()}


def _labels(df):
    return {r["vid"]: r["label"] for r in df.collect()}


def test_pagerank_resume_matches_uninterrupted(spark, tmp_path):
    und = seeded_er_edges(40, 0.08, seed=13)
    directed = und + [(v, u, w) for u, v, w in und]
    e = make_edges(spark, directed)

    full = _ranks(pagerank(e))
    want = np.array([full[k] for k in sorted(full)])

    # default (CSR below the vertex gate) and the shuffle DataFrame path
    for thr in (131_072, 0):
        # run 1: stop early at 4 iterations, checkpoint every step
        led_dir = str(tmp_path / f"pr{thr}")
        led = SuperstepLedger("pagerank", directory=led_dir, every=1)
        pagerank(e, max_iterations=4, ledger=led, broadcast_threshold=thr)
        assert os.path.exists(os.path.join(led_dir, "ledger.jsonl"))

        # run 2: resume from the durable state and converge
        resumed_state = SuperstepLedger.resume(spark, "pagerank", led_dir)
        assert resumed_state is not None and resumed_state[0] == 4
        got = _ranks(pagerank(e, resume_from=resumed_state, broadcast_threshold=thr))
        assert np.allclose(want, np.array([got[k] for k in sorted(got)]), atol=1e-9)

    # a state either path wrote resumes on the other path
    for wrote, thr in ((0, 131_072), (131_072, 0)):
        resumed_state = SuperstepLedger.resume(spark, "pagerank", str(tmp_path / f"pr{wrote}"))
        got = _ranks(pagerank(e, resume_from=resumed_state, broadcast_threshold=thr))
        assert np.allclose(want, np.array([got[k] for k in sorted(got)]), atol=1e-9)


def test_cc_resume(spark, tmp_path):
    # a path through shuffled ids takes several supersteps on either path
    perm = np.random.default_rng(3).permutation(31).tolist()
    e = make_edges(spark, [(perm[i], perm[i + 1], 1.0) for i in range(30)])
    for thr in (131_072, 0):
        full_led = SuperstepLedger("cc")
        full = _labels(connected_components(e, ledger=full_led, broadcast_threshold=thr))
        assert set(full.values()) == {0} and len(full_led.records) > 3
        led_dir = str(tmp_path / f"cc{thr}")
        led = SuperstepLedger("cc", directory=led_dir, every=1)
        connected_components(e, max_supersteps=2, ledger=led, broadcast_threshold=thr)
        resumed = SuperstepLedger.resume(spark, "cc", led_dir)
        assert resumed is not None and resumed[0] == 2
        assert _labels(connected_components(e, resume_from=resumed, broadcast_threshold=thr)) == full


def test_resume_ignores_torn_final_line(spark, tmp_path):
    import pytest

    led_dir = str(tmp_path / "torn")
    led = SuperstepLedger("csr", directory=led_dir, every=1)
    df = spark.range(3).selectExpr("id as vid", "cast(id as double) as rank")
    for step in (1, 2):
        led.record(step, df, metric=0.1, n_active=3, metrics_only=True)
    path = os.path.join(led_dir, "ledger.jsonl")
    good = open(path).read()
    half = good.splitlines()[-1].replace('"superstep": 2', '"superstep": 3')[:40]
    with open(path, "a") as f:
        f.write(half)  # a driver killed mid-append
    resumed = SuperstepLedger.resume(spark, "csr", led_dir)
    assert resumed is not None and resumed[0] == 2
    assert resumed[1].count() == 3
    assert open(path).read() == good  # the torn tail is cut off
    # a corrupt line that is not the last still raises
    with open(path, "w") as f:
        f.write(half + "\n" + good)
    with pytest.raises(json.JSONDecodeError):
        SuperstepLedger.resume(spark, "csr", led_dir)


def test_ledger_records_metrics(spark, tmp_path):
    e = make_edges(spark, [(0, 1, 1.0), (1, 2, 1.0)])
    led_dir = str(tmp_path / "led")
    led = SuperstepLedger("cc", directory=led_dir, every=1)
    connected_components(e, ledger=led)
    lines = [json.loads(x) for x in open(os.path.join(led_dir, "ledger.jsonl"))]
    assert all({"algo", "superstep", "metric", "n_active", "partitions", "wall_s"} <= set(r) for r in lines)
    assert lines[-1]["metric"] == 0.0  # converged: zero changes


def test_metrics_only_still_checkpoints_durably(spark, tmp_path):
    """metrics_only skips lineage cuts on non-checkpointed steps (the
    CSR fast paths' driver-resident state) but durable checkpoints and
    their manifests must still happen on schedule."""
    led_dir = str(tmp_path / "mo")
    led = SuperstepLedger("csr", directory=led_dir, every=2)
    df = spark.range(5).selectExpr("id as vid", "cast(id as double) as rank")
    for step in (1, 2, 3, 4):
        out = led.record(step, df, metric=0.5, n_active=5, metrics_only=True)
        assert out is not None
    recs = [json.loads(x) for x in open(os.path.join(led_dir, "ledger.jsonl"))]
    assert [bool(r["state_path"]) for r in recs] == [False, True, False, True]
    ck = [r for r in recs if r["state_path"]]
    assert all(r["files"] for r in ck)
    assert all(r["partitions"] is None for r in recs if not r["state_path"])
    resumed = SuperstepLedger.resume(spark, "csr", led_dir)
    assert resumed is not None and resumed[0] == 4
    assert resumed[1].count() == 5


def test_ledger_partition_lineage(spark, tmp_path):
    """Checkpointed records carry the per-partition file manifest: the
    named part files must be exactly the parquet files on disk, byte
    sizes must match, and footer row counts must sum to the state's
    row count."""
    e = make_edges(spark, [(i, i + 1, 1.0) for i in range(30)])
    led_dir = str(tmp_path / "lin")
    led = SuperstepLedger("cc", directory=led_dir, every=1)
    connected_components(e, ledger=led)
    recs = [json.loads(x) for x in open(os.path.join(led_dir, "ledger.jsonl"))]
    ck = [r for r in recs if r["state_path"]]
    assert ck, "expected at least one checkpointed superstep"
    for r in ck:
        assert r["files"], r
        on_disk = {
            f: os.path.getsize(os.path.join(r["state_path"], f))
            for f in os.listdir(r["state_path"])
            if f.startswith("part-") and not f.endswith(".crc")
        }
        assert {f["name"]: f["bytes"] for f in r["files"]} == on_disk
        assert sum(f["rows"] for f in r["files"]) == 31  # 31 vertices


def test_will_checkpoint_gates_lazy_state(spark, tmp_path):
    """Callers with driver-resident state (CSR fast paths) skip
    building the state DataFrame on metrics-only steps: state=None is
    accepted exactly when will_checkpoint() is False, and rejected
    when the ledger would durably write (or would need a lineage
    cut)."""
    import pytest

    led_dir = str(tmp_path / "lazy")
    led = SuperstepLedger("csr", directory=led_dir, every=2)
    df = spark.range(3).selectExpr("id as vid", "cast(id as double) as rank")
    assert [led.will_checkpoint(s) for s in (1, 2, 3, 4)] == [False, True, False, True]
    for step in (1, 2, 3, 4):
        state = df if led.will_checkpoint(step) else None
        led.record(step, state, metric=0.1, n_active=3, metrics_only=True)
    recs = [json.loads(x) for x in open(os.path.join(led_dir, "ledger.jsonl"))]
    assert [bool(r["state_path"]) for r in recs] == [False, True, False, True]
    # state=None on a step that WOULD checkpoint must raise, not
    # silently skip the durable write
    with pytest.raises(ValueError):
        led.record(6, None, metric=0.1, n_active=3, metrics_only=True)
    # a memory-only ledger (directory=None) never checkpoints
    mem = SuperstepLedger("csr")
    assert not mem.will_checkpoint(5)
    mem.record(5, None, metric=0.2, n_active=3, metrics_only=True)
    assert mem.records[-1]["metric"] == 0.2
    # non-metrics-only callers still need a real DataFrame
    with pytest.raises(ValueError):
        mem.record(6, None)


def test_lpa_resume_matches_uninterrupted(spark, tmp_path):
    from graph_mining_spark.operators.label_propagation import label_propagation

    # converging fixture (cliques + pendant chain): resume is exact
    k5 = [(u, v, 1.0) for u in range(5) for v in range(u + 1, 5)]
    k4 = [(u, v, 1.0) for u in range(10, 14) for v in range(u + 1, 14)]
    chain = [(4, 20, 0.5), (20, 21, 0.5), (21, 22, 0.5)]
    e = make_edges(spark, k5 + k4 + chain)

    full = {r["vid"]: r["label"] for r in label_propagation(e, max_iterations=20).collect()}

    led_dir = str(tmp_path / "lpa")
    led = SuperstepLedger("lpa", directory=led_dir, every=1)
    label_propagation(e, max_iterations=2, ledger=led)
    resumed = SuperstepLedger.resume(spark, "lpa", led_dir)
    assert resumed is not None and resumed[0] == 2
    got = {
        r["vid"]: r["label"]
        for r in label_propagation(e, max_iterations=20, resume_from=resumed).collect()
    }
    assert got == full


def test_lpa_resume_rearms_cycle_check_mid_oscillation(spark, tmp_path):
    from graph_mining_spark.operators.label_propagation import label_propagation

    # C4 reaches its period-2 terminal at round 3 (L3 == L1), AFTER the
    # interruption point: the resumed state's _prev column must re-arm
    # the cycle check immediately so the resumed run stops on the same
    # round and phase as the uninterrupted one
    c4 = [(0, 1, 1.0), (1, 2, 1.0), (2, 3, 1.0), (0, 3, 1.0)]
    e = make_edges(spark, c4)
    full = {r["vid"]: r["label"] for r in label_propagation(e, max_iterations=20).collect()}
    assert full == {0: 1, 1: 0, 2: 1, 3: 0}  # phase L3

    led_dir = str(tmp_path / "lpa_osc")
    led = SuperstepLedger("lpa_osc", directory=led_dir, every=1)
    label_propagation(e, max_iterations=2, ledger=led)
    resumed = SuperstepLedger.resume(spark, "lpa_osc", led_dir)
    assert resumed is not None and resumed[0] == 2
    assert "_prev" in resumed[1].columns
    got = {
        r["vid"]: r["label"]
        for r in label_propagation(e, max_iterations=20, resume_from=resumed).collect()
    }
    assert got == full
