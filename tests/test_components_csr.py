"""SpMV connected components: identical output to the DataFrame path and
the union-find oracle."""

import numpy as np
import pytest

from haskellpagerank_spark import oracle as O
from haskellpagerank_spark.fixtures import FIXTURE_EDGES
from haskellpagerank_spark.operators.components import connected_components
from haskellpagerank_spark.operators.components_csr import (
    connected_components_spmv)
from haskellpagerank_spark.operators.graph import from_pairs


@pytest.mark.parametrize("name", ["doubleSquare", "simpleGraphOneNodeMissing",
                                  "princeton", "bigNumbers"])
def test_spmv_cc_matches_oracle_and_join_path(spark, name):
    pairs = FIXTURE_EDGES[name]
    src, dst, n = O.parse_edges(pairs)
    want = O.connected_components(src, dst, n)
    g = from_pairs(spark, pairs)
    got = connected_components_spmv(g).df.toPandas().sort_values("id")
    assert got["component"].tolist() == want
    join_path = connected_components(g).df.toPandas().sort_values("id")
    assert got["component"].tolist() == join_path["component"].tolist()


def test_spmv_cc_disconnected(spark):
    # two components + an isolated vertex (id 6 via max-id contract)
    pairs = [(0, 1), (1, 2), (3, 4), (4, 5), (6, 6)]
    g = from_pairs(spark, pairs)
    got = connected_components_spmv(g).df.toPandas().sort_values("id")
    assert got["component"].tolist() == [0, 0, 0, 3, 3, 3, 6]


def test_spmv_cc_leaves_no_cached_blocks(spark):
    jsc = spark.sparkContext._jsc

    def persisted():
        return set(jsc.getPersistentRDDs().keys())

    before = persisted()
    connected_components_spmv(from_pairs(spark, FIXTURE_EDGES["princeton"]))
    assert persisted() <= before


def test_spmv_cc_budget_reports_unconverged(spark):
    # a path needs one sweep to change labels and one to see none change
    g = from_pairs(spark, [(0, 1), (1, 2)])
    res = connected_components_spmv(g, max_iters=1)
    assert res.iterations == 1
    assert res.metrics[-1].extra["changed"] != 0
