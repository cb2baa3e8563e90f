"""CSR-block SpMV PageRank: parity with the join path and the NumPy oracle.

The SpMV path must be a pure physical-strategy change — identical semantics
in both sink modes, both stopping rules, and under checkpoint/resume.
"""

import numpy as np
import pytest

from haskellpagerank_spark import oracle as O
from haskellpagerank_spark.fixtures import FIXTURE_EDGES
from haskellpagerank_spark.operators.components import (
    connected_components, connected_components_incremental, label_propagation)
from haskellpagerank_spark.operators.components_csr import (
    connected_components_spmv)
from haskellpagerank_spark.operators.components_star import (
    connected_components_star)
from haskellpagerank_spark.operators.graph import from_pairs
from haskellpagerank_spark.operators.pagerank import (
    PageRankConfig, reference_config, run_pagerank)
from haskellpagerank_spark.operators.pagerank_async import run_pagerank_async
from haskellpagerank_spark.operators.pagerank_csr import (
    run_pagerank_auto, run_pagerank_spmv)
from haskellpagerank_spark.operators.pagerank_local import run_pagerank_local
from haskellpagerank_spark.operators.pagerank_pp import run_pagerank_pp


def _ranks(res, n):
    pdf = res.ranks.toPandas().sort_values("id")
    assert len(pdf) == n
    return pdf["rank"].to_numpy()


@pytest.mark.parametrize("name", ["doubleSquare", "square", "hub",
                                  "sinkAndSource", "complete",
                                  "simpleGraphOneNodeMissing", "princeton"])
def test_spmv_matches_reference_oracle(spark, name):
    pairs = FIXTURE_EDGES[name]
    src, dst, n = O.parse_edges(pairs)
    asrc, adst = O.amend_sinks(src, dst, n)
    want = O.pagerank_jacobi(asrc, adst, n, damping=0.15, eps=1e-4, init=1.0)
    g = from_pairs(spark, pairs)
    res = run_pagerank_spmv(g, reference_config())
    np.testing.assert_allclose(_ranks(res, n), want, atol=1e-9)


@pytest.mark.parametrize("sink_mode", ["reflect", "redistribute"])
def test_spmv_identical_to_join_path(spark, sink_mode):
    pairs = FIXTURE_EDGES["doubleSquare"] + FIXTURE_EDGES["sinkAndSource"]
    g = from_pairs(spark, pairs)
    cfg = PageRankConfig(damping=0.85, num_iters=7, sink_mode=sink_mode)
    a = _ranks(run_pagerank_spmv(g, cfg), g.num_vertices)
    b = _ranks(run_pagerank(g, cfg), g.num_vertices)
    np.testing.assert_allclose(a, b, rtol=1e-12, atol=1e-16)


def test_spmv_redistribute_sums_to_one(spark):
    g = from_pairs(spark, FIXTURE_EDGES["sinkAndSource"])
    res = run_pagerank_spmv(g, PageRankConfig(
        damping=0.85, tol=1e-10, tol_norm="l1", sink_mode="redistribute"))
    assert abs(_ranks(res, g.num_vertices).sum() - 1.0) < 1e-9


def test_spmv_checkpoint_resume(spark, tmp_path):
    """Kill-and-resume: run 3 iters with snapshots, then resume to 6 and
    compare to an uninterrupted 6-iter run — byte-identical ranks."""
    g = from_pairs(spark, FIXTURE_EDGES["doubleSquare"])
    ck = str(tmp_path / "ck")
    cfg3 = PageRankConfig(damping=0.85, num_iters=3, sink_mode="redistribute",
                          checkpoint_dir=ck, checkpoint_interval=1)
    run_pagerank_spmv(g, cfg3)
    cfg6 = PageRankConfig(damping=0.85, num_iters=6, sink_mode="redistribute",
                          checkpoint_dir=ck, checkpoint_interval=1)
    resumed = run_pagerank_spmv(g, cfg6)
    assert resumed.metrics[0].iteration == 4  # picked up mid-loop
    plain = run_pagerank_spmv(g, PageRankConfig(
        damping=0.85, num_iters=6, sink_mode="redistribute"))
    np.testing.assert_array_equal(
        _ranks(resumed, g.num_vertices), _ranks(plain, g.num_vertices))


TIERS = {"join": run_pagerank, "spmv": run_pagerank_spmv,
         "local": run_pagerank_local, "async": run_pagerank_async,
         "pp": run_pagerank_pp}


@pytest.mark.parametrize("tier", list(TIERS))
def test_releases_relations_on_every_exit(spark, tmp_path, released,
                                          fail_second_write, tier):
    """Every exit path of every PageRank tier releases what the tier
    cached: a fixed-sweep run, a checkpoint resume run to convergence, the
    did-not-converge error and a run whose second sweep raises."""
    run = TIERS[tier]
    g = from_pairs(spark, FIXTURE_EDGES["hub"] + FIXTURE_EDGES["doubleSquare"])
    ck = str(tmp_path / "ck")
    run(g, reference_config(num_iters=2, checkpoint_dir=ck,
                            checkpoint_interval=1))
    released(tier == "spmv")
    resumed = run(g, reference_config(checkpoint_dir=ck,
                                      checkpoint_interval=1))
    assert resumed.metrics[0].iteration == 3
    released(tier == "spmv")
    with pytest.raises(RuntimeError, match="did not converge"):
        run(g, reference_config(tol=0.0, max_iters=1))
    released(tier == "spmv")

    fail_second_write()
    with pytest.raises(OSError, match="injected"):
        run(g, reference_config(num_iters=2,
                                checkpoint_dir=str(tmp_path / "ck_fail"),
                                checkpoint_interval=1))
    released(tier == "spmv")


def _spmv_cc(g, max_iters=200, checkpoint_dir=None, checkpoint_interval=5):
    return connected_components_spmv(g, max_iters)  # no checkpoint options


CC_TIERS = {
    "cc_join": connected_components,
    "cc_incremental": lambda g, **kw: connected_components_incremental(
        g, g.vertices().selectExpr("id", "id AS component"), **kw),
    "lp": lambda g, max_iters=5, **kw: label_propagation(g, max_iters, **kw),
    "cc_spmv": _spmv_cc,
    "cc_star": connected_components_star,
}


@pytest.mark.parametrize("tier", list(CC_TIERS))
def test_cc_family_releases_relations_on_every_exit(
        spark, tmp_path, released, fail_second_write, tier):
    """The same for the CC and LP tiers: a run stopped at its budget, a
    checkpoint resume, a resume at the budget and a run whose second sweep
    raises. Star CC must converge, so its budget run raises instead."""
    run = CC_TIERS[tier]
    g = from_pairs(spark, [(i, i + 1) for i in range(15)])
    ck = dict(checkpoint_dir=str(tmp_path / "ck"), checkpoint_interval=1)
    if tier == "cc_star":
        with pytest.raises(RuntimeError, match="did not converge"):
            run(g, max_iters=2, **ck)
    else:
        assert run(g, max_iters=2, **ck).iterations == 2
    released(tier == "cc_spmv")
    resumed = run(g, **ck)
    # CSR CC takes no checkpoint options; incremental CC only writes them
    first = 1 if tier in ("cc_spmv", "cc_incremental") else 3
    assert resumed.metrics[0].iteration == first
    released(tier == "cc_spmv")
    run(g, max_iters=resumed.iterations, **ck)
    released(tier == "cc_spmv")

    fail_second_write()
    with pytest.raises(OSError, match="injected"):
        run(g, checkpoint_dir=str(tmp_path / "ck_fail"),
            checkpoint_interval=1)
    released(tier == "cc_spmv")


def test_auto_dispatch_tiers(spark):
    """run_pagerank_auto: local tier below the edge cap (COST regime);
    forcing the cap to 0 falls through to the SpMV tier."""
    from haskellpagerank_spark.operators import pagerank_local as PL
    g = from_pairs(spark, FIXTURE_EDGES["complete"])
    cfg = PageRankConfig(damping=0.85, num_iters=3, sink_mode="redistribute")
    res = run_pagerank_auto(g, cfg)
    assert res.metrics[0].extra.get("strategy") == "local"
    cap = PL.LOCAL_MAX_EDGES
    try:
        PL.LOCAL_MAX_EDGES = 0
        res2 = run_pagerank_auto(g, cfg)
    finally:
        PL.LOCAL_MAX_EDGES = cap
    assert res2.metrics[0].extra.get("strategy") == "spmv"


def test_spmv_salted_hubs_identical(spark):
    """Force the skew path: hub_threshold=1 salts every dst with in-degree
    > 1 across blocks; the bincount combine must keep results identical to
    the unsalted run and the join path."""
    pairs = FIXTURE_EDGES["hub"] + FIXTURE_EDGES["doubleSquare"]
    g = from_pairs(spark, pairs)
    cfg = PageRankConfig(damping=0.85, num_iters=6, sink_mode="redistribute")
    salted = _ranks(run_pagerank_spmv(g, cfg, hub_threshold=1),
                    g.num_vertices)
    plain = _ranks(run_pagerank_spmv(g, cfg, hub_threshold=0),
                   g.num_vertices)
    joined = _ranks(run_pagerank(g, cfg), g.num_vertices)
    np.testing.assert_allclose(salted, plain, rtol=1e-12, atol=1e-16)
    np.testing.assert_allclose(salted, joined, rtol=1e-12, atol=1e-16)


def test_warm_start_same_fixpoint_fewer_sweeps(spark):
    """init_ranks warm start reaches the identical fixpoint in fewer
    sweeps (power iteration converges from any start vector)."""
    pairs = FIXTURE_EDGES["hub"] + FIXTURE_EDGES["doubleSquare"]
    g = from_pairs(spark, pairs)
    cfg = PageRankConfig(damping=0.85, tol=1e-10, tol_norm="l1",
                         sink_mode="redistribute", max_iters=300)
    cold = run_pagerank_spmv(g, cfg)
    warm = run_pagerank_spmv(g, cfg, init_ranks=cold.ranks)
    np.testing.assert_allclose(_ranks(warm, g.num_vertices),
                               _ranks(cold, g.num_vertices), atol=1e-9)
    assert warm.iterations < cold.iterations


@pytest.mark.parametrize("seed", [5, 17, 41])
@pytest.mark.parametrize("sink_mode", ["reflect", "redistribute"])
def test_all_strategies_agree_on_random_graphs(spark, seed, sink_mode):
    """Randomized three-way strategy parity: join, SpMV, and driver-local
    must produce identical ranks (1e-12) on seeded G(n,p) digraphs that
    include sinks, duplicate edges, and a hub — topologies the fixtures
    only probe one at a time. Redistribute mode must also conserve mass."""
    import random
    rng = random.Random(seed)
    n = rng.randint(15, 30)
    pairs = [(u, v) for u in range(n) for v in range(n)
             if u != v and rng.random() < 0.12]
    pairs += [(0, v) for v in range(1, n, 3)]          # hub
    pairs += rng.sample(pairs, k=max(1, len(pairs) // 8))  # duplicates
    g = from_pairs(spark, pairs)
    cfg = PageRankConfig(damping=0.85, num_iters=8, sink_mode=sink_mode)
    a = _ranks(run_pagerank(g, cfg), g.num_vertices)
    b = _ranks(run_pagerank_spmv(g, cfg), g.num_vertices)
    c = _ranks(run_pagerank_local(g, cfg), g.num_vertices)
    np.testing.assert_allclose(b, a, rtol=1e-12, atol=1e-16)
    np.testing.assert_allclose(c, a, rtol=1e-12, atol=1e-16)
    if sink_mode == "redistribute":
        assert abs(a.sum() - 1.0) < 1e-9
