"""Alternating large-star/small-star CC (Kiveris et al. SoCC'14) vs the
NumPy oracle and the min-label path — plus the property that motivates the
strategy: round count is O(log n), independent of diameter."""

from __future__ import annotations

import math
import random

import pytest

from haskellpagerank_spark import oracle
from haskellpagerank_spark.fixtures import FIXTURE_EDGES
from haskellpagerank_spark.operators.components import connected_components
from haskellpagerank_spark.operators.components_star import (
    connected_components_star,
)
from haskellpagerank_spark.operators.graph import from_pairs

ALL_FIXTURES = sorted(FIXTURE_EDGES)


@pytest.mark.parametrize("name", ALL_FIXTURES)
def test_star_cc_exact_on_fixtures(spark, name):
    src, dst, n = oracle.parse_edges(FIXTURE_EDGES[name])
    if n == 0:
        return
    g = from_pairs(spark, FIXTURE_EDGES[name])
    res = connected_components_star(g)
    got = {r["id"]: r["component"] for r in res.df.collect()}
    want = dict(enumerate(oracle.connected_components(src, dst, n)))
    assert got == want


def test_star_cc_random_graphs_match_min_label(spark):
    rng = random.Random(20260818)
    for trial in range(4):
        n = rng.randrange(20, 120)
        m = rng.randrange(n // 2, 2 * n)
        pairs = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        # force some isolated ids, self-loops, and duplicate edges
        pairs += [(5, 5), pairs[0]] if pairs else [(0, 0)]
        g = from_pairs(spark, pairs + [(n - 1, n - 1)])
        star = {r["id"]: r["component"]
                for r in connected_components_star(g).df.collect()}
        minlab = {r["id"]: r["component"]
                  for r in connected_components(g).df.collect()}
        assert star == minlab, f"trial {trial} diverged"


def test_star_cc_path_rounds_logarithmic(spark):
    """A 512-vertex path has diameter 511 — min-label needs 511 supersteps;
    the star pair must land in O(log n) (~2·log2 n bound observed in the
    paper's experiments)."""
    n = 512
    g = from_pairs(spark, [(i, i + 1) for i in range(n - 1)])
    res = connected_components_star(g, max_iters=50)
    got = {r["id"]: r["component"] for r in res.df.collect()}
    assert got == {i: 0 for i in range(n)}
    assert res.iterations <= 2 * int(math.log2(n)) + 2, res.iterations
    # edge-count metric decays toward the star forest (n-1 edges)
    assert res.metrics[-1].extra["edges"] == n - 1


def test_star_cc_star_graph_one_round(spark):
    """A hub star with center 0 is already the fixpoint shape: converges in
    one pair and the hub's groupBy-min never concentrates rows in a task."""
    n = 200
    g = from_pairs(spark, [(0, i) for i in range(1, n)])
    res = connected_components_star(g)
    assert res.iterations <= 2
    assert {r["component"] for r in res.df.collect()} == {0}


def test_star_cc_checkpoint_resume(spark, tmp_path):
    pairs = FIXTURE_EDGES["doubleSquare"] + [(8, 9), (9, 10)]
    g = from_pairs(spark, pairs)
    want = {r["id"]: r["component"]
            for r in connected_components_star(g).df.collect()}
    ckdir = str(tmp_path / "star")
    first = connected_components_star(g, checkpoint_dir=ckdir,
                                      checkpoint_interval=1)
    resumed = connected_components_star(g, checkpoint_dir=ckdir,
                                        checkpoint_interval=1)
    assert {r["id"]: r["component"] for r in first.df.collect()} == want
    assert {r["id"]: r["component"] for r in resumed.df.collect()} == want


def test_star_cc_raises_on_exhaustion(spark):
    g = from_pairs(spark, [(i, i + 1) for i in range(63)])
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components_star(g, max_iters=1)


def test_star_cc_empty_and_isolated(spark):
    g = from_pairs(spark, [(3, 3)])  # only a self-loop: 4 isolated vertices
    got = {r["id"]: r["component"]
           for r in connected_components_star(g).df.collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 3}


def test_finish_with_star_exact_after_budget(spark):
    """Contract-and-finish: an unconverged min-label run composed with star
    on the contracted graph lands on the exact labels."""
    from haskellpagerank_spark.operators.components_star import (
        finish_with_star,
    )
    n = 300
    pairs = [(i, i + 1) for i in range(n - 1)] + [(150, 299), (7, 7)]
    g = from_pairs(spark, pairs)
    partial = connected_components(g, max_iters=3)
    assert partial.metrics[-1].extra["changed"] != 0, "must be unconverged"
    full = finish_with_star(g, partial)
    got = {r["id"]: r["component"] for r in full.df.collect()}
    assert got == {i: 0 for i in range(n)}
    assert full.iterations > partial.iterations


def test_auto_falls_back_to_star_past_budget(spark, monkeypatch):
    """Force the join tier on a long path; the round budget trips and the
    star fallback still returns exact labels."""
    from haskellpagerank_spark.operators import components as C
    from haskellpagerank_spark.operators import pagerank_csr, pagerank_local

    monkeypatch.setattr(pagerank_local, "LOCAL_MAX_EDGES", 0)
    monkeypatch.setattr(pagerank_csr, "SPMV_MAX_VERTICES", 0)
    monkeypatch.setattr(C, "FRONTIER_ROUND_BUDGET", 4)
    n = 128
    g = from_pairs(spark, [(i, i + 1) for i in range(n - 1)])
    res = C.connected_components_auto(g)
    got = {r["id"]: r["component"] for r in res.df.collect()}
    assert got == {i: 0 for i in range(n)}
    # budget (4) + star rounds, far below the diameter (127)
    assert res.iterations < 30


def test_auto_no_fallback_when_converged(spark, monkeypatch):
    """Low-diameter graph under the same forced tier: frontier converges
    inside the budget, no star rounds are appended."""
    from haskellpagerank_spark.operators import components as C
    from haskellpagerank_spark.operators import pagerank_csr, pagerank_local

    monkeypatch.setattr(pagerank_local, "LOCAL_MAX_EDGES", 0)
    monkeypatch.setattr(pagerank_csr, "SPMV_MAX_VERTICES", 0)
    g = from_pairs(spark, [(0, i) for i in range(1, 40)] + [(5, 17)])
    res = C.connected_components_auto(g)
    got = {r["id"]: r["component"] for r in res.df.collect()}
    assert got == {i: 0 for i in range(40)}
    assert res.metrics[-1].extra["changed"] == 0


def test_star_resume_rejects_minlabel_checkpoint(spark, tmp_path):
    """A star resume pointed at a min-label checkpoint dir ((id, component)
    state, not (src, dst) edge state) must fail with a descriptive
    ValueError, not an AnalysisException deep inside a join (ADVICE r4)."""
    pairs = FIXTURE_EDGES["doubleSquare"]
    g = from_pairs(spark, pairs)
    ckdir = str(tmp_path / "minlabel")
    connected_components(g, checkpoint_dir=ckdir, checkpoint_interval=1)
    with pytest.raises(ValueError, match="different strategy"):
        connected_components_star(g, checkpoint_dir=ckdir,
                                  checkpoint_interval=1)


def test_minlabel_resume_rejects_star_checkpoint(spark, tmp_path):
    """...and the converse direction."""
    pairs = FIXTURE_EDGES["doubleSquare"]
    g = from_pairs(spark, pairs)
    ckdir = str(tmp_path / "star")
    connected_components_star(g, checkpoint_dir=ckdir, checkpoint_interval=1)
    with pytest.raises(ValueError, match="different strategy"):
        connected_components(g, checkpoint_dir=ckdir, checkpoint_interval=1)


def test_star_resume_at_budget_returns_converged_labels(spark, tmp_path):
    """A star run that converged at exactly ``max_iters`` leaves its star
    forest as the last snapshot; re-running with the same budget runs one
    verification round instead of raising."""
    g = from_pairs(spark, [(i, i + 1) for i in range(40)])
    k = connected_components_star(g).iterations
    ckdir = str(tmp_path / "star")
    first = connected_components_star(g, max_iters=k, checkpoint_dir=ckdir,
                                      checkpoint_interval=1)
    again = connected_components_star(g, max_iters=k, checkpoint_dir=ckdir,
                                      checkpoint_interval=1)
    want = {i: 0 for i in range(41)}
    assert {r["id"]: r["component"] for r in first.df.collect()} == want
    assert {r["id"]: r["component"] for r in again.df.collect()} == want


def test_auto_resumed_at_budget_finishes_with_star(spark, tmp_path,
                                                   monkeypatch):
    """Join-path CC resumed at its budget records no sweep; auto must read
    that as unconverged and finish by star, not return the snapshot."""
    from haskellpagerank_spark.operators import components as C
    from haskellpagerank_spark.operators import pagerank_csr, pagerank_local

    monkeypatch.setattr(pagerank_local, "LOCAL_MAX_EDGES", 0)
    monkeypatch.setattr(pagerank_csr, "SPMV_MAX_VERTICES", 0)
    g = from_pairs(spark, [(i, i + 1) for i in range(30)])
    ck = dict(max_iters=4, checkpoint_dir=str(tmp_path / "cc"),
              checkpoint_interval=1)
    for _ in range(2):  # the second run resumes at iteration 4
        res = C.connected_components_auto(g, **ck)
        got = {r["id"]: r["component"] for r in res.df.collect()}
        assert got == {i: 0 for i in range(31)}


def test_auto_finishes_unconverged_spmv_with_star(spark, monkeypatch):
    """With the local tier bypassed, auto's SpMV tier must never return
    partial labels on a long path."""
    from haskellpagerank_spark.operators import components as C
    from haskellpagerank_spark.operators import pagerank_local

    monkeypatch.setattr(pagerank_local, "LOCAL_MAX_EDGES", 0)
    n = 300
    g = from_pairs(spark, [(i, i + 1) for i in range(n - 1)])
    res = C.connected_components_auto(g)
    got = {r["id"]: r["component"] for r in res.df.collect()}
    assert got == {i: 0 for i in range(n)}
