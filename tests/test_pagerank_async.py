"""Async-family PageRank ("pagerank"/"pagerankND"/"pagerankVC"/"pagerankEC",
pagerank/Data/Graph/PageRank{,NonDet,VC,EC}.hs) — distributed block
Gauss–Seidel vs the sequential and block-scheduled NumPy oracles.

Three layers of evidence:
  1. num_blocks=1 == oracle.pagerank_gauss_seidel to 1e-12 — the
     reference's own deterministic regime (< 7000 vertices runs the
     sequential pass, PageRank.hs:72-74; "pagerankND" ALWAYS does,
     PageRankNonDet.hs:66).
  2. num_blocks>1 == oracle.pagerank_block_gs to 1e-12 — the reproducible
     BSP member of the chunk-parallel schedule family (PageRank.hs:75-82),
     with the reference's exact nstart chunk boundaries.
  3. every block count converges to the same fixpoint as Jacobi — the
     family-level invariant the VC/EC lock variants also share (locking
     changes the schedule, never the fixpoint).
"""

import os

import numpy as np
import pandas as pd
import pytest

from haskellpagerank_spark import fixtures, oracle
from haskellpagerank_spark.operators import graph as G
from haskellpagerank_spark.operators.pagerank import PageRankConfig
from haskellpagerank_spark.operators.pagerank_async import (
    _make_block_kernel, block_of, run_pagerank_async)

INPUT = "/root/reference/executables/input"


def rank_vector(result, n):
    v = np.zeros(n)
    for row in result.ranks.collect():
        v[row["id"]] = row["rank"]
    return v


def _amended(name):
    src, dst, n = oracle.parse_edges(fixtures.FIXTURE_EDGES[name])
    asrc, adst = oracle.amend_sinks(src, dst, n)
    return asrc, adst, n


def _file_pairs(path):
    pairs = []
    with open(path) as fh:
        for line in fh:
            p = line.split()
            if len(p) == 2:
                pairs.append((int(p[0]), int(p[1])))
    return pairs


def _random_digraph(n, p, seed):
    rng = np.random.default_rng(seed)
    mask = (rng.random((n, n)) < p) & ~np.eye(n, dtype=bool)
    src, dst = np.nonzero(mask)
    return [(int(s), int(d)) for s, d in zip(src, dst)]


# ---------------------------------------------------------------- layer 0:
# the chunking formula itself

@pytest.mark.parametrize("n,b", [(8, 3), (7000, 8), (10, 16), (5, 5),
                                 (1, 4), (23, 7), (100, 1)])
def test_block_expr_matches_nstart_boundaries(spark, n, b):
    starts = oracle.block_starts(n, b)
    want = np.empty(n, dtype=np.int64)
    for c in range(b):
        want[starts[c]:starts[c + 1]] = c
    got = (
        spark.range(n).select(block_of("id", n, b).alias("blk"))
        .orderBy("id").toPandas()["blk"].to_numpy()
    )
    assert (got == want).all(), (n, b)


def test_block_starts_partition_property():
    # boundaries are monotone, cover [0, n), sizes differ by at most 1
    for n, b in [(1, 1), (9, 4), (1000, 7), (6, 6), (12, 5)]:
        s = oracle.block_starts(n, b)
        assert s[0] == 0 and s[-1] == n
        sizes = np.diff(s)
        assert (sizes >= 0).all() and sizes.max() - sizes.min() <= 1


# ---------------------------------------------------------------- layer 1:
# sequential regime (num_blocks=1) == the reference's deterministic path

@pytest.mark.parametrize("name", ["doubleSquare", "myFavorite", "complete",
                                  "princeton", "simpleGraphOneNodeMissing"])
def test_single_block_fixed_sweeps_matches_gs_oracle(spark, name):
    asrc, adst, n = _amended(name)
    want = oracle.pagerank_gauss_seidel(asrc, adst, n, damping=0.15,
                                        init=1.0, num_iters=3)
    g = G.from_pairs(spark, fixtures.FIXTURE_EDGES[name])
    res = run_pagerank_async(g, PageRankConfig(
        damping=0.15, num_iters=3, sink_mode="reflect", init_value=1.0),
        num_blocks=1)
    assert res.iterations == 3
    assert np.allclose(rank_vector(res, n), want, atol=1e-12), name


@pytest.mark.parametrize("name", fixtures.PAGERANK_FIXTURES)
def test_single_block_convergence_matches_gs_oracle(spark, name):
    asrc, adst, n = _amended(name)
    want = oracle.pagerank_gauss_seidel(asrc, adst, n, damping=0.15,
                                        eps=1e-4, init=1.0)
    g = G.from_pairs(spark, fixtures.FIXTURE_EDGES[name])
    res = run_pagerank_async(g, PageRankConfig(
        damping=0.15, tol=1e-4, sink_mode="reflect", init_value=1.0,
        max_iters=200), num_blocks=1)
    got = rank_vector(res, n)
    assert np.allclose(got, want, atol=1e-12), name
    # TestPageRank.hs:24-32 oracle: rank sum ~ 1 within 0.01
    assert abs(got.sum() - 1.0) < 0.01


# ---------------------------------------------------------------- layer 2:
# chunk-parallel regime == the block-GS oracle, same nstart boundaries

@pytest.mark.parametrize("name,b", [("doubleSquare", 2), ("doubleSquare", 3),
                                    ("myFavorite", 2), ("complete", 5),
                                    ("princeton", 4)])
def test_multi_block_fixed_sweeps_matches_block_oracle(spark, name, b):
    asrc, adst, n = _amended(name)
    want = oracle.pagerank_block_gs(asrc, adst, n, b, damping=0.15,
                                    init=1.0, num_iters=4)
    g = G.from_pairs(spark, fixtures.FIXTURE_EDGES[name])
    res = run_pagerank_async(g, PageRankConfig(
        damping=0.15, num_iters=4, sink_mode="reflect", init_value=1.0),
        num_blocks=b)
    assert np.allclose(rank_vector(res, n), want, atol=1e-12), (name, b)


@pytest.mark.parametrize("seed,b", [(7, 2), (11, 3), (13, 5)])
def test_multi_block_random_digraph_matches_block_oracle(spark, seed, b):
    pairs = _random_digraph(40, 0.12, seed)
    src, dst, n = oracle.parse_edges(pairs)
    asrc, adst = oracle.amend_sinks(src, dst, n)
    want = oracle.pagerank_block_gs(asrc, adst, n, b, damping=0.15,
                                    eps=1e-6, init=1.0)
    g = G.from_pairs(spark, pairs)
    res = run_pagerank_async(g, PageRankConfig(
        damping=0.15, tol=1e-6, sink_mode="reflect", init_value=1.0,
        max_iters=500), num_blocks=b)
    assert np.allclose(rank_vector(res, n), want, atol=1e-12), (seed, b)


def test_block_oracle_single_block_is_gauss_seidel_bitexact():
    # num_blocks=1 collapses to the plain sequential sweep, bit-for-bit
    for name in fixtures.PAGERANK_FIXTURES:
        asrc, adst, n = _amended(name)
        a = oracle.pagerank_gauss_seidel(asrc, adst, n, num_iters=5)
        b = oracle.pagerank_block_gs(asrc, adst, n, 1, num_iters=5)
        assert (a == b).all(), name


# ---------------------------------------------------------------- layer 3:
# family invariant — every schedule reaches the same fixpoint

@pytest.mark.parametrize("b", [1, 2, 4])
def test_any_block_count_converges_to_jacobi_fixpoint(spark, b):
    pairs = _random_digraph(30, 0.15, seed=3)
    src, dst, n = oracle.parse_edges(pairs)
    asrc, adst = oracle.amend_sinks(src, dst, n)
    fixpoint = oracle.pagerank_jacobi(asrc, adst, n, damping=0.15,
                                      eps=1e-12, init=1.0)
    g = G.from_pairs(spark, pairs)
    res = run_pagerank_async(g, PageRankConfig(
        damping=0.15, tol=1e-10, sink_mode="reflect", init_value=1.0,
        max_iters=2000), num_blocks=b)
    assert np.allclose(rank_vector(res, n), fixpoint, atol=1e-8), b


# ---------------------------------------------------------------- bundled
# reference inputs (the regime the reference's own async tests exercise)

def _check_sequential_regime(spark, path):
    # 500 < 7000: the reference async pagerank IS sequential here, so
    # num_blocks=None dispatches to the exact deterministic path
    src, dst, n = oracle.parse_edges(_file_pairs(path))
    asrc, adst = oracle.amend_sinks(src, dst, n)
    want = oracle.pagerank_gauss_seidel(asrc, adst, n, damping=0.15,
                                        eps=1e-4, init=1.0 / n)
    g = G.read_edge_list(spark, path)
    res = run_pagerank_async(g, PageRankConfig(
        damping=0.15, tol=1e-4, sink_mode="reflect", init_value=1.0 / n,
        max_iters=500))
    assert res.metrics[0].extra["num_blocks"] == 1
    got = rank_vector(res, n)
    assert np.allclose(got, want, atol=1e-12)
    assert abs(got.sum() - 1.0) < 0.01  # TestPageRank.hs sum oracle


def _check_multi_block(spark, path):
    # 50k-edge graph, 8 chunks, 2 sweeps vs the block oracle
    src, dst, n = oracle.parse_edges(_file_pairs(path))
    asrc, adst = oracle.amend_sinks(src, dst, n)
    want = oracle.pagerank_block_gs(asrc, adst, n, 8, damping=0.15,
                                    init=1.0 / n, num_iters=2)
    g = G.read_edge_list(spark, path)
    res = run_pagerank_async(g, PageRankConfig(
        damping=0.15, num_iters=2, sink_mode="reflect", init_value=1.0 / n),
        num_blocks=8)
    assert np.allclose(rank_vector(res, n), want, atol=1e-12)


def test_standin_500nodes_sequential_regime(spark, tmp_path):
    path = tmp_path / "500nodes4color.txt"
    path.write_text(fixtures.fixture_text("500nodes4color"))
    _check_sequential_regime(spark, str(path))


def test_standin_rmat50k_multi_block(spark, tmp_path):
    path = tmp_path / "rmat50k.txt"
    path.write_text(fixtures.fixture_text("rmat50k", "\t"))
    _check_multi_block(spark, str(path))


@pytest.mark.skipif(not os.path.isdir(INPUT), reason=f"no {INPUT}")
def test_bundled_500nodes_sequential_regime(spark):
    _check_sequential_regime(spark, f"{INPUT}/500nodes4color.txt")


@pytest.mark.skipif(not os.path.isdir(INPUT), reason=f"no {INPUT}")
def test_bundled_rmat3_multi_block(spark):
    _check_multi_block(spark, f"{INPUT}/rmatTest3.txt")


# ---------------------------------------------------------------- plumbing

def test_checkpoint_resume_continues_mid_run(spark, tmp_path):
    pairs = fixtures.FIXTURE_EDGES["doubleSquare"]
    asrc, adst, n = _amended("doubleSquare")
    want = oracle.pagerank_block_gs(asrc, adst, n, 2, damping=0.15,
                                    init=1.0, num_iters=6)
    ckpt = str(tmp_path / "ck")
    g = G.from_pairs(spark, pairs)
    cfg = PageRankConfig(damping=0.15, num_iters=2, sink_mode="reflect",
                         init_value=1.0, checkpoint_dir=ckpt,
                         checkpoint_interval=1)
    run_pagerank_async(g, cfg, num_blocks=2)
    cfg2 = PageRankConfig(damping=0.15, num_iters=6, sink_mode="reflect",
                          init_value=1.0, checkpoint_dir=ckpt,
                          checkpoint_interval=1)
    res = run_pagerank_async(g, cfg2, num_blocks=2)
    assert res.iterations == 6
    assert np.allclose(rank_vector(res, n), want, atol=1e-12)


def test_runs_and_resume_are_bit_identical(spark, tmp_path):
    """The in-chunk kernel sums each vertex's in-edges in (dst, src)
    order, not in the cogroup's arrival order: two runs, and a 3 -> 6
    sweep resume against a straight 6-sweep run, give equal bits."""
    g = G.from_pairs(spark, fixtures.FIXTURE_EDGES["doubleSquare"])
    n = g.num_vertices

    def run(num_iters, **kw):
        cfg = PageRankConfig(damping=0.15, num_iters=num_iters,
                             sink_mode="reflect", init_value=1.0, **kw)
        return rank_vector(run_pagerank_async(g, cfg, num_blocks=1), n)

    straight = run(6)
    assert np.array_equal(run(6), straight)
    ck = dict(checkpoint_dir=str(tmp_path / "ck"), checkpoint_interval=3)
    run(3, **ck)
    assert np.array_equal(run(6, **ck), straight)


def test_block_kernel_ignores_edge_arrival_order():
    """The same chunk and in-block edges, delivered in two row orders,
    give equal bits (no Spark: the kernel alone)."""
    rng = np.random.default_rng(0)
    n = 40
    vpdf = pd.DataFrame({"block": 0, "id": np.arange(n),
                         "rank": rng.random(n), "has_out": True,
                         "ext": rng.random(n)})
    src, dst = np.nonzero(rng.random((n, n)) < 0.5)
    epdf = pd.DataFrame({"block": 0, "src": src, "dst": dst,
                         "w": rng.random(len(src)) / 7.0})
    kernel = _make_block_kernel(0.85, 0.15 / n)
    want = kernel(vpdf, epdf)["rank"].to_numpy()
    for seed in range(5):
        perm = np.random.default_rng(seed).permutation(len(epdf))
        got = kernel(vpdf, epdf.iloc[perm].reset_index(drop=True))
        assert np.array_equal(got["rank"].to_numpy(), want)


def test_redistribute_mode_rejected(spark):
    g = G.from_pairs(spark, fixtures.FIXTURE_EDGES["square"])
    with pytest.raises(ValueError, match="amended-graph"):
        run_pagerank_async(g, PageRankConfig(sink_mode="redistribute"))


def test_empty_graph(spark):
    g = G.Graph(edges=spark.createDataFrame(
        [], "src long, dst long"), num_vertices=0)
    res = run_pagerank_async(g, PageRankConfig(
        damping=0.15, sink_mode="none", num_iters=1))
    assert res.ranks.count() == 0


# ---------------------------------------------------------------- layer 4:
# the driver-gate DuckDB twin (queries.pagerank_gs_sql) — the recursive
# list-CTE replay of the in-place sweep must track the NumPy block-GS
# oracle exactly at the gate's 8-decimal rounding, on graphs it was NOT
# hand-tuned for (random digraphs, odd block counts, sinks included)

@pytest.mark.parametrize("seed,b,sweeps", [(0, 1, 4), (1, 3, 4), (2, 7, 3),
                                           (3, 1, 6), (4, 5, 5)])
def test_gs_sql_twin_matches_block_oracle_random(seed, b, sweeps):
    import duckdb

    from haskellpagerank_spark.queries import pagerank_gs_sql

    n = 20 + seed * 3
    pairs = _random_digraph(n, 0.12, seed)
    # leave some guaranteed sinks so the amendSinks branch is exercised
    pairs = [(s, d) for s, d in pairs if s < n - 2]
    edges_sql = "SELECT * FROM (VALUES " + ", ".join(
        f"({s}, {d})" for s, d in pairs) + ") _e(src, dst)"
    verts_sql = f"SELECT UNNEST(range(0, {n})) AS id"
    got = duckdb.sql(
        pagerank_gs_sql(edges_sql, verts_sql, sweeps, num_blocks=b)
    ).fetchall()
    got = np.array([r[1] for r in sorted(got)])

    src = np.array([s for s, _ in pairs]); dst = np.array([d for _, d in pairs])
    sinks = np.setdiff1d(np.arange(n), np.unique(src))
    m = np.isin(dst, sinks)
    asrc = np.concatenate([src, dst[m]]); adst = np.concatenate([dst, src[m]])
    want = oracle.pagerank_block_gs(asrc, adst, n, b, damping=0.15,
                                    init=1.0 / n, num_iters=sweeps)
    assert np.array_equal(got, np.round(want, 8))
