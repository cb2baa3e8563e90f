"""Driver-local PageRank — the COST-aware small-graph physical strategy.

McSherry's COST observation applies squarely here: below the RAM scale,
a single-threaded gather-scatter beats any distributed plan (measured on
this box: ~31M edges/s/sweep single-threaded numpy vs ~4-5M edges/s for
the 8-32-thread CSR-SpMV plan on the same 42M-edge graph — see
BENCH/BASELINE.md §4). The reference engine (unboxed Haskell vectors +
repa thread gang) lives in exactly this regime, so matching its
single-node throughput at its own data scale means *choosing not to
distribute* there.

This module is that choice, behind the same API: collect the edge list
once (bounded by ``LOCAL_MAX_EDGES``, ~16 bytes/edge) and run the identical
Jacobi semantics (sink reflect/redistribute, duplicate multiplicity,
isolated-vertex pinning) in vectorized numpy; the fixpoint driver
(plans/fixpoint.py) owns the loop. ``dense_power_iterate`` is the
dense Jacobi sweep shared with the CSR-SpMV tier, which differs only in
how the link sum is computed. ``run_pagerank_auto`` (pagerank_csr)
dispatches here first; the CSR-SpMV and shuffle-join strategies take over
beyond driver memory.

Implemented independently of the test oracle (haskellpagerank_spark.oracle)
so strategy-parity tests stay meaningful; numerics agree with both to
<= 1e-12 relative.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .graph import Graph
from .pagerank import PageRankConfig, PageRankResult, iterate_ranks

# ~16 bytes/edge collected => 80 MB at the cap; far below driver memory
LOCAL_MAX_EDGES = 5_000_000


def dense_power_iterate(g: Graph, cfg: PageRankConfig, outdeg: np.ndarray,
                        link_sum: Callable[[np.ndarray], np.ndarray],
                        strategy: str, n_edges: int,
                        init_ranks: DataFrame | None = None,
                        release=()) -> PageRankResult:
    """Jacobi PageRank over a driver-resident rank vector. ``outdeg`` is
    the out-degree of every vertex (amended graph under reflect);
    ``link_sum(y)`` returns, per vertex v, sum over in-edges u -> v (with
    multiplicity) of y[u], where y = x / outdeg."""
    spark = g.spark
    n = len(outdeg)
    has_out = outdeg > 0
    n_nonsink = int(has_out.sum())
    d = cfg.damping
    init = cfg.init_value if cfg.init_value is not None else 1.0 / n
    dconst = (1.0 - d) / n_nonsink if n_nonsink else 0.0

    def step(x: np.ndarray):
        # fold the 1/outdeg weighting into the gathered vector
        y = np.divide(x, outdeg, out=np.zeros(n), where=has_out)
        msg = link_sum(y)
        if cfg.sink_mode == "redistribute":
            dangling = float(x[~has_out].sum())
            new = (1.0 - d) / n + d * (msg + dangling / n)
        else:
            new = dconst + d * msg
            new[~has_out] = 0.0
        diff = np.abs(new - x)
        return (new, float(diff.sum()), float(diff.max()), 0,
                {"edges_processed": n_edges, "strategy": strategy})

    x = np.full(n, float(init))
    if init_ranks is not None:
        # warm start: the previous converged state after an ingest batch
        pdf = init_ranks.select("id", "rank").toPandas()
        x[pdf["id"].to_numpy(np.int64)] = pdf["rank"].to_numpy(np.float64)
    # the driver snapshots and resumes the vector itself (pyarrow, no
    # Spark job); only the result becomes a DataFrame
    return iterate_ranks(
        f"pagerank_{strategy}", cfg, x, step, load=lambda x: x,
        save=lambda x: spark.createDataFrame(pd.DataFrame(
            {"id": np.arange(n, dtype=np.int64), "rank": x})),
        release=release, return_previous=cfg.return_previous_on_converge)


def run_pagerank_local(g: Graph, cfg: PageRankConfig | None = None,
                       init_ranks: DataFrame | None = None
                       ) -> PageRankResult:
    """PageRank entirely on the driver (one collect, zero Spark jobs per
    sweep). Same semantics/flags as run_pagerank/run_pagerank_spmv."""
    cfg = cfg or PageRankConfig()
    n = g.num_vertices
    if n == 0:
        return PageRankResult(ranks=g.vertices().select(
            "id", F.lit(0.0).alias("rank")), iterations=0)

    pdf = g.edges.select("src", "dst").toPandas()
    src = pdf["src"].to_numpy(np.int64)
    dst = pdf["dst"].to_numpy(np.int64)

    if cfg.sink_mode == "reflect":
        # amendSinks (EdgeArray.hs:103-116): reflect every in-edge of a
        # sink back out of it; isolated vertices stay isolated
        outdeg0 = np.bincount(src, minlength=n)
        is_sink_dst = outdeg0[dst] == 0
        add_src, add_dst = dst[is_sink_dst], src[is_sink_dst]
        src = np.concatenate([src, add_src])
        dst = np.concatenate([dst, add_dst])

    return dense_power_iterate(
        g, cfg, np.bincount(src, minlength=n),
        lambda y: np.bincount(dst, weights=y[src], minlength=n),
        "local", len(src), init_ranks)
