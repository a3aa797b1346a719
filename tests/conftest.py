import os

import pytest

from graph_mining_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # local[8] at most, but never more task threads than the host has
    # cores (SPARK_GRAFT_CPUS, as the tier-1 command exports it): on a
    # 4-core host local[8] oversubscribes the cores and starts twice
    # the Python UDF workers.  Shuffle partitioning stays at 8.
    cpus = min(8, int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    s = get_spark(cpus=cpus, shuffle_partitions=8, app_name="gms-tests", driver_memory="8g")
    yield s


def make_edges(spark, triples, symmetric_input=False):
    """Edge DataFrame from (u, v, w) triples (directed as given)."""
    rows = [(int(u), int(v), float(w)) for u, v, w in triples]
    return spark.createDataFrame(rows, "src long, dst long, weight double")
