"""CSR-block connected components — SpMV-style min-label propagation.

pagerank_csr's block build over the *undirected* edge set (edges unioned
with their transpose; dst-partitioned, so per-block candidate minima are
final; multiplicities ignored) and its cached decoded-block sweep, one
zero-shuffle job per sweep with the labels broadcast, computing

    cand_v = min over in-neighbors u of label_u     (np.minimum.reduceat)
    label'_v = min(label_v, cand_v)                  (driver, dense numpy)

Converges in O(diameter) sweeps like the DataFrame path
(operators/components.connected_components); tests assert identical output.
Same scale envelope as SpMV PageRank: broadcast = 8|V| bytes, use below
~1e8 vertices; the frontier join path beyond.
"""

from __future__ import annotations

import time

import numpy as np
import pandas as pd

from ..plans.checkpoint import IterationMetrics
from .components import IterativeResult
from .graph import Graph, invert
from .pagerank_csr import build_csr_blocks, decoded_blocks, sweep_blocks


def connected_components_spmv(g: Graph, max_iters: int = 200,
                              num_blocks: int | None = None
                              ) -> IterativeResult:
    spark = g.spark
    n = g.num_vertices
    num_blocks = num_blocks or int(
        spark.conf.get("spark.sql.shuffle.partitions", "32"))
    und = g.edges.select("src", "dst").unionAll(invert(g.edges))
    blocks = decoded_blocks(build_csr_blocks(und, num_blocks))

    labels = np.arange(n, dtype=np.int64)
    metrics: list[IterationMetrics] = []
    it = 0
    try:
        while it < max_iters:
            it += 1
            t0 = time.monotonic()
            ids, cands = sweep_blocks(blocks, labels, np.minimum,
                                      weighted=False)
            new = labels.copy()
            if len(ids):
                # sorted run-min then a vectorized compare-update — orders
                # of magnitude faster than np.minimum.at (unbuffered ufunc.at)
                order = np.argsort(ids, kind="stable")
                ids_s, c_s = ids[order], cands[order]
                head = np.empty(len(ids_s), dtype=bool)
                head[0] = True
                head[1:] = ids_s[1:] != ids_s[:-1]
                starts = np.flatnonzero(head)
                mins = np.minimum.reduceat(c_s, starts)
                uids = ids_s[starts]
                sel = mins < new[uids]
                new[uids[sel]] = mins[sel]
            changed = int((new != labels).sum())
            metrics.append(IterationMetrics(
                iteration=it, l1_residual=float(changed),
                linf_residual=float(1 if changed else 0), rows_shuffled=0,
                wall_s=time.monotonic() - t0,
                extra={"changed": changed, "strategy": "spmv"}))
            labels = new
            if changed == 0:
                break
    finally:
        blocks.unpersist()

    df = spark.createDataFrame(pd.DataFrame({
        "id": np.arange(n, dtype=np.int64), "component": labels}))
    return IterativeResult(df=df, iterations=it, metrics=metrics)
