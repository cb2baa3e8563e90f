"""HITS / personalized PageRank / BFS / k-core vs the NumPy oracle on the
reference fixture graphs (FIXTURES.md). These are engine extensions (no
reference analogue) — textbook semantics, deterministic, exact-matchable."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from haskellpagerank_spark import oracle
from haskellpagerank_spark.fixtures import FIXTURE_EDGES
from haskellpagerank_spark.operators.centrality import (
    bfs_distances, eigenvector_centrality, hits, k_core, katz,
    personalized_pagerank, salsa, seed_frame, trust_rank,
)
from haskellpagerank_spark.operators.graph import from_pairs
from haskellpagerank_spark.operators.pagerank import (
    run_pagerank_weighted_table,
)
from haskellpagerank_spark.operators.structure import (
    coreness, harmonic_centrality, trussness,
)

# skip the empty/trivial fixtures where centralities are degenerate
FIXTURES = sorted(n for n, e in FIXTURE_EDGES.items() if len(e) >= 4)


def _arrays(name):
    return oracle.parse_edges(FIXTURE_EDGES[name])


@pytest.mark.parametrize("name", FIXTURES)
def test_hits_matches_oracle(spark, name):
    src, dst, n = _arrays(name)
    g = from_pairs(spark, FIXTURE_EDGES[name])
    for num_iters in (10, 0):
        res = hits(g, num_iters=num_iters)
        rows = {r["id"]: (r["hub"], r["authority"])
                for r in res.df.collect()}
        hub, auth = oracle.hits(src, dst, n, num_iters=num_iters)
        assert set(rows) == set(range(n))
        got_hub = np.array([rows[i][0] for i in range(n)])
        got_auth = np.array([rows[i][1] for i in range(n)])
        np.testing.assert_allclose(got_hub, hub, atol=1e-9)
        np.testing.assert_allclose(got_auth, auth, atol=1e-9)


@pytest.mark.parametrize("name", FIXTURES)
def test_personalized_pagerank_matches_oracle(spark, name):
    src, dst, n = _arrays(name)
    seeds = [0, n // 2]
    g = from_pairs(spark, FIXTURE_EDGES[name])
    res = personalized_pagerank(g, seeds, damping=0.85, num_iters=15)
    rows = {r["id"]: r["rank"] for r in res.df.collect()}
    want = oracle.personalized_pagerank(src, dst, n, seeds,
                                        damping=0.85, num_iters=15)
    got = np.array([rows[i] for i in range(n)])
    np.testing.assert_allclose(got, want, atol=1e-12)


def test_personalized_pagerank_mass_conserved(spark):
    """With teleport+dangling returning to seeds, total mass stays 1."""
    g = from_pairs(spark, FIXTURE_EDGES["doubleSquare"])
    res = personalized_pagerank(g, [0], num_iters=10)
    total = res.df.agg({"rank": "sum"}).first()[0]
    assert abs(total - 1.0) < 1e-9


@pytest.mark.parametrize("name", FIXTURES)
@pytest.mark.parametrize("directed", [True, False])
def test_bfs_matches_oracle(spark, name, directed):
    src, dst, n = _arrays(name)
    g = from_pairs(spark, FIXTURE_EDGES[name])
    res = bfs_distances(g, [0], directed=directed)
    got = {r["id"]: r["dist"] for r in res.df.collect()}
    want = oracle.bfs_distances(src, dst, n, [0], directed=directed)
    # engine returns reached-only; oracle marks unreachable as -1
    assert got == {i: d for i, d in enumerate(want) if d >= 0}


def test_bfs_multi_source(spark):
    src, dst, n = _arrays("doubleSquare")
    g = from_pairs(spark, FIXTURE_EDGES["doubleSquare"])
    sources = [0, n - 1]
    res = bfs_distances(g, sources, directed=True)
    got = {r["id"]: r["dist"] for r in res.df.collect()}
    want = oracle.bfs_distances(src, dst, n, sources, directed=True)
    assert got == {i: d for i, d in enumerate(want) if d >= 0}


@pytest.mark.parametrize("name", FIXTURES)
@pytest.mark.parametrize("k", [2, 3])
def test_k_core_matches_oracle(spark, name, k):
    src, dst, n = _arrays(name)
    g = from_pairs(spark, FIXTURE_EDGES[name])
    res = k_core(g, k)
    got = {r["id"]: r["deg"] for r in res.df.collect()}
    assert got == oracle.k_core(src, dst, n, k)


def test_k_core_empty_when_k_too_large(spark):
    g = from_pairs(spark, FIXTURE_EDGES["doubleSquare"])
    res = k_core(g, 100)
    assert res.df.count() == 0
    assert res.iterations == 1


def test_k_core_raises_at_budget(spark):
    """One peel of a 5-vertex path leaves {1, 2, 3}, not a 2-core: the
    budget must not pass a partial peel off as the core."""
    g = from_pairs(spark, [(i, i + 1) for i in range(4)])
    with pytest.raises(RuntimeError, match="did not converge"):
        k_core(g, 2, max_rounds=1)
    assert k_core(g, 2).df.count() == 0


@pytest.mark.parametrize("name", FIXTURES)
def test_trust_rank_matches_oracle(spark, name):
    src, dst, n = _arrays(name)
    g = from_pairs(spark, FIXTURE_EDGES[name])
    weights = {v: 1.0 + v % 3 for v in range(0, n, 2)}
    wdf = g.spark.createDataFrame(
        [(v, w) for v, w in weights.items()], "id long, weight double")
    for num_iters in (15, 0):
        res = trust_rank(g, wdf, damping=0.85, num_iters=num_iters)
        got = {r["id"]: r["rank"] for r in res.df.collect()}
        want = oracle.trust_rank(src, dst, n, weights, num_iters=num_iters)
        np.testing.assert_allclose(
            np.array([got[v] for v in range(n)]), want, atol=1e-12)


def test_trust_rank_teleport_total(spark, released):
    """The weight total covers the seeds that are vertices: a non-positive
    one raises (releasing what was cached), and a seed outside the graph
    changes nothing."""
    g = from_pairs(spark, FIXTURE_EDGES["doubleSquare"])
    for rows in ([], [(0, 0.0)], [(0, 1.0), (1, -2.0)], [(99, 1.0)]):
        wdf = spark.createDataFrame(rows, "id long, weight double")
        with pytest.raises(ValueError, match="positive total"):
            trust_rank(g, wdf, num_iters=2)
        released(False)

    def ranks(rows):
        wdf = spark.createDataFrame(rows, "id long, weight double")
        return sorted(trust_rank(g, wdf, num_iters=3).df.collect())

    assert ranks([(0, 2.0), (99, 5.0)]) == ranks([(0, 2.0)])


def test_trust_rank_uniform_seeds_equals_ppr(spark):
    name = FIXTURES[0]
    g = from_pairs(spark, FIXTURE_EDGES[name])
    src, dst, n = _arrays(name)
    seeds = [0, n // 2]
    wdf = g.spark.createDataFrame(
        [(s, 1.0) for s in seeds], "id long, weight double")
    tr = {r["id"]: r["rank"]
          for r in trust_rank(g, wdf, num_iters=10).df.collect()}
    pr = {r["id"]: r["rank"]
          for r in personalized_pagerank(g, seeds, num_iters=10)
          .df.collect()}
    for v in range(n):
        assert tr[v] == pytest.approx(pr[v], abs=1e-12)


@pytest.mark.parametrize("name", FIXTURES)
def test_salsa_matches_oracle(spark, name):
    src, dst, n = _arrays(name)
    g = from_pairs(spark, FIXTURE_EDGES[name])
    for num_iters in (8, 0):
        res = salsa(g, num_iters=num_iters)
        rows = {r["id"]: (r["hub"], r["authority"])
                for r in res.df.collect()}
        hub, auth = oracle.salsa(src, dst, n, num_iters=num_iters)
        np.testing.assert_allclose(
            np.array([rows[v][0] for v in range(n)]), hub, atol=1e-12)
        np.testing.assert_allclose(
            np.array([rows[v][1] for v in range(n)]), auth, atol=1e-12)


def test_salsa_mass_conservation(spark):
    # the walk is stochastic: authority mass stays 1 every sweep
    name = FIXTURES[0]
    g = from_pairs(spark, FIXTURE_EDGES[name])
    res = salsa(g, num_iters=5)
    total = res.df.agg({"authority": "sum"}).first()[0]
    assert total == pytest.approx(1.0, abs=1e-9)


@pytest.mark.parametrize("name", FIXTURES)
def test_katz_matches_oracle(spark, name):
    src, dst, n = _arrays(name)
    g = from_pairs(spark, FIXTURE_EDGES[name])
    for num_iters in (10, 0):
        res = katz(g, alpha=0.02, beta=1.0, num_iters=num_iters)
        rows = {r["id"]: r["katz"] for r in res.df.collect()}
        want = oracle.katz(src, dst, n, alpha=0.02, beta=1.0,
                           num_iters=num_iters)
        got = np.array([rows[i] for i in range(n)])
        np.testing.assert_allclose(got, want, atol=1e-12)


@pytest.mark.parametrize("name", FIXTURES)
def test_eigenvector_matches_oracle(spark, name):
    src, dst, n = _arrays(name)
    g = from_pairs(spark, FIXTURE_EDGES[name])
    for num_iters in (20, 0):
        res = eigenvector_centrality(g, num_iters=num_iters)
        rows = {r["id"]: r["eigenvector"] for r in res.df.collect()}
        want = oracle.eigenvector_centrality(src, dst, n,
                                             num_iters=num_iters)
        got = np.array([rows[i] for i in range(n)])
        np.testing.assert_allclose(got, want, atol=1e-9)


# a 7-vertex path with a diamond (triangles 0-1-2 and 1-2-3) at its head:
# every kernel below needs at least two sweeps on it
PEEL_GRAPH = [(i, i + 1) for i in range(6)] + [(2, 0), (1, 3)]

FAMILY = {
    "hits": lambda g: hits(g, num_iters=2),
    "salsa": lambda g: salsa(g, num_iters=2),
    "katz": lambda g: katz(g, num_iters=2),
    "eigenvector": lambda g: eigenvector_centrality(g, num_iters=2),
    "trust_rank": lambda g: trust_rank(
        g, seed_frame(g.spark, [0, 4]).withColumn("weight", F.lit(2.0)),
        num_iters=2),
    "weighted_table": lambda g: run_pagerank_weighted_table(
        g.edges.withColumn("weight", F.lit(1.0)), num_iters=2),
    "bfs": lambda g: bfs_distances(g, [0]),
    "k_core": lambda g: k_core(g, 2),
    "coreness": coreness,
    "trussness": trussness,
    "harmonic": lambda g: harmonic_centrality(g, [0, 3]),
}


@pytest.mark.parametrize("kernel", list(FAMILY))
def test_family_releases_relations_on_every_exit(
        spark, released, fail_second_write, kernel):
    """The centrality, peel and weighted-table kernels release what they
    persisted after a plain run and after a run whose second sweep
    raises."""
    run = FAMILY[kernel]
    g = from_pairs(spark, PEEL_GRAPH)
    run(g)
    released(False)
    fail_second_write()
    with pytest.raises(OSError, match="injected"):
        run(g)
    released(False)
