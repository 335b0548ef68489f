"""Round 12: driver-local connected-components tier (operators/graph.py)
— small edge lists route to a numpy min-label union-find instead of the
distributed large-star/small-star loop. Pins local == distributed labels
(the fast path must be invisible) and string-id ordering parity."""

import pytest
from pyspark.sql import functions as F

from linkml_store_spark.operators import graph
from linkml_store_spark.operators.graph import connected_components


@pytest.fixture(scope="module")
def spark():
    from linkml_store_spark.session import get_spark

    return get_spark(app_name="test-local-cc")


def _labels(df):
    return sorted(map(tuple, df.collect()))


EDGES = [
    (1, 2), (2, 3), (3, 1),          # cycle
    (10, 11), (11, 12),              # chain
    (20, 20),                        # self loop (filtered)
    (30, 31), (31, 30),              # both directions
    (5, 40), (40, 6), (6, 5),
]


def test_local_matches_distributed(spark, monkeypatch):
    e = spark.createDataFrame(EDGES, "subject long, object long")
    nodes = spark.range(0, 50).select(F.col("id").alias("node"))
    local = _labels(connected_components(e, nodes=nodes))
    monkeypatch.setattr(graph, "LOCAL_CC_MAX_EDGES", 0)
    dist = _labels(connected_components(e, nodes=nodes))
    assert local == dist
    # min-id labeling spot checks
    comp = dict(local)
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[10] == comp[11] == comp[12] == 10
    assert comp[5] == comp[6] == comp[40] == 5
    assert comp[49] == 49  # isolated singleton


def test_string_ids_order_parity(spark, monkeypatch):
    e = spark.createDataFrame(
        [("b", "c"), ("c", "aa"), ("x", "y")], "subject string, object string"
    )
    local = _labels(connected_components(e))
    monkeypatch.setattr(graph, "LOCAL_CC_MAX_EDGES", 0)
    dist = _labels(connected_components(e))
    assert local == dist
    assert dict(local)["b"] == "aa"


def test_empty_edges(spark):
    e = spark.createDataFrame([], "subject long, object long")
    nodes = spark.createDataFrame([(7,), (8,)], "node long")
    out = _labels(connected_components(e, nodes=nodes))
    assert out == [(7, 7), (8, 8)]

