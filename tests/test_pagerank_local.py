"""Driver-local PageRank strategy: three-way parity with the distributed
strategies and the reference oracle (the local kernel is implemented
independently of haskellpagerank_spark.oracle, so these are real checks).
"""

import numpy as np
import pytest

from haskellpagerank_spark import oracle as O
from haskellpagerank_spark.fixtures import FIXTURE_EDGES
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


@pytest.mark.parametrize("name", ["doubleSquare", "hub", "sinkAndSource",
                                  "princeton"])
def test_local_matches_reference_oracle(spark, name):
    pairs = FIXTURE_EDGES[name]
    src, dst, n = O.parse_edges(pairs)
    asrc, adst = O.amend_sinks(src, dst, n)
    want = O.pagerank_jacobi(asrc, adst, n, damping=0.15, eps=1e-4, init=1.0)
    res = run_pagerank_local(from_pairs(spark, pairs), reference_config())
    np.testing.assert_allclose(_ranks(res, n), want, atol=1e-9)


@pytest.mark.parametrize("sink_mode", ["reflect", "redistribute"])
def test_local_identical_to_distributed_strategies(spark, sink_mode):
    pairs = FIXTURE_EDGES["hub"] + FIXTURE_EDGES["sinkAndSource"]
    g = from_pairs(spark, pairs)
    cfg = PageRankConfig(damping=0.85, num_iters=7, sink_mode=sink_mode)
    local = _ranks(run_pagerank_local(g, cfg), g.num_vertices)
    spmv = _ranks(run_pagerank_spmv(g, cfg), g.num_vertices)
    join = _ranks(run_pagerank(g, cfg), g.num_vertices)
    np.testing.assert_allclose(local, spmv, rtol=1e-12, atol=1e-16)
    np.testing.assert_allclose(local, join, rtol=1e-12, atol=1e-16)


def test_auto_picks_local_below_edge_cap(spark):
    g = from_pairs(spark, FIXTURE_EDGES["doubleSquare"])
    res = run_pagerank_auto(g, PageRankConfig(
        damping=0.85, num_iters=3, sink_mode="redistribute"))
    assert res.metrics[0].extra.get("strategy") == "local"


def test_local_checkpoint_resume(spark, tmp_path):
    g = from_pairs(spark, FIXTURE_EDGES["doubleSquare"])
    ck = str(tmp_path / "ck")
    cfg3 = PageRankConfig(damping=0.85, num_iters=3,
                          sink_mode="redistribute",
                          checkpoint_dir=ck, checkpoint_interval=1)
    run_pagerank_local(g, cfg3)
    cfg6 = PageRankConfig(damping=0.85, num_iters=6,
                          sink_mode="redistribute",
                          checkpoint_dir=ck, checkpoint_interval=1)
    resumed = run_pagerank_local(g, cfg6)
    straight = run_pagerank_local(g, PageRankConfig(
        damping=0.85, num_iters=6, sink_mode="redistribute"))
    np.testing.assert_allclose(_ranks(resumed, g.num_vertices),
                               _ranks(straight, g.num_vertices), atol=0)


@pytest.mark.parametrize("runner", [run_pagerank_local, run_pagerank_spmv,
                                    run_pagerank, run_pagerank_async,
                                    run_pagerank_pp])
def test_resume_at_converged_snapshot_returns_state(spark, tmp_path, runner):
    """Resuming a CONVERGED snapshot whose iteration already equals
    max_iters must run one verification sweep and return the state — not
    skip the loop and raise 'did not converge'. The Gauss–Seidel tiers
    reject redistribute, so they run reflect (with the reference damping,
    which converges in fewer of their costlier sweeps)."""
    g = from_pairs(spark, FIXTURE_EDGES["doubleSquare"])
    ck = str(tmp_path / f"ck_{runner.__name__}")
    if runner in (run_pagerank_async, run_pagerank_pp):
        mode = dict(damping=0.15, sink_mode="reflect")
    else:
        mode = dict(damping=0.85, sink_mode="redistribute")
    base = dict(tol=1e-8, tol_norm="l1", checkpoint_dir=ck,
                checkpoint_interval=1, **mode)
    first = runner(g, PageRankConfig(num_iters=0, max_iters=100, **base))
    # resume with max_iters == the converged iteration count
    second = runner(g, PageRankConfig(
        num_iters=0, max_iters=first.iterations, **base))
    # the verification sweep advances one iterate past the snapshot; both
    # states sit within tol of the fixpoint
    np.testing.assert_allclose(_ranks(second, g.num_vertices),
                               _ranks(first, g.num_vertices), atol=1e-7)


@pytest.mark.parametrize("runner", [run_pagerank_async, run_pagerank_pp])
def test_gauss_seidel_tiers_ignore_return_previous(spark, runner):
    """The Gauss–Seidel tiers sweep one buffer and return the state after
    the converging sweep whatever ``return_previous_on_converge`` says:
    the same ranks and sweep count as with False."""
    g = from_pairs(spark, FIXTURE_EDGES["doubleSquare"])
    prev = runner(g, reference_config())  # return_previous_on_converge=True
    last = runner(g, reference_config(return_previous_on_converge=False))
    assert prev.iterations == last.iterations
    # the converging sweep moved the state by far more than the 1e-12
    # tolerance below, so returning the previous iterate would show
    assert prev.metrics[-1].linf_residual > 1e-9
    n = g.num_vertices
    np.testing.assert_allclose(_ranks(prev, n), _ranks(last, n), atol=1e-12)
