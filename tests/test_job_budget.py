"""Spark-job budget of PageRank and connected components below the
vertex gate: the CSR path gathers on the driver, so a superstep costs
no Spark job and the job count of a call does not grow with the
number of supersteps.  Jobs are counted through the status tracker
under a job group of their own."""

import uuid

from graph_mining_spark.operators.connected_components import connected_components
from graph_mining_spark.operators.pagerank import pagerank
from tests.conftest import make_edges
from tests.oracles import seeded_er_edges


def _jobs(spark, fn) -> int:
    sc = spark.sparkContext
    group = f"budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _sym(und):
    return und + [(v, u, w) for u, v, w in und]


def test_pagerank_runs_no_job_per_superstep(spark):
    e = make_edges(spark, _sym(seeded_er_edges(40, 0.1, seed=3)))
    few = _jobs(spark, lambda: pagerank(e, max_iterations=3, approx_precision=0))
    many = _jobs(spark, lambda: pagerank(e, max_iterations=12, approx_precision=0))
    assert few > 0 and few == many


def test_cc_runs_no_job_per_superstep(spark):
    one_edge = make_edges(spark, [(0, 1, 1.0)])
    path = make_edges(spark, [(i, i + 1, 1.0) for i in range(63)])
    short = _jobs(spark, lambda: connected_components(one_edge))
    long = _jobs(spark, lambda: connected_components(path))
    assert short > 0 and short == long


def test_pagerank_bitwise_reproducible(spark):
    e = make_edges(spark, _sym(seeded_er_edges(2000, 0.003, seed=11)))
    a = pagerank(e, max_iterations=20, approx_precision=0).toPandas().sort_values("vid")
    b = pagerank(e, max_iterations=20, approx_precision=0).toPandas().sort_values("vid")
    assert len(a) > 1900
    assert a["vid"].tolist() == b["vid"].tolist()
    assert a["rank"].to_numpy().tobytes() == b["rank"].to_numpy().tobytes()
