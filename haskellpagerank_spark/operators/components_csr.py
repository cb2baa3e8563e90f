"""CSR-block connected components — SpMV-style min-label propagation.

pagerank_csr's block build over the *undirected* edge set (edges unioned
with their transpose; dst-partitioned and unsalted, so each vertex's
candidate minimum comes from exactly one block; multiplicities ignored)
and its cached decoded-block sweep, one zero-shuffle job per sweep with
the labels broadcast, gathering

    cand_v = min over in-neighbors u of label_u     (np.minimum.reduceat)

for the min-label sweep shared with the local tier
(components_local.dense_min_label: compare-and-update, pointer jumping,
changed count), iterated by the fixpoint driver (plans/fixpoint.py).
Output is identical to the DataFrame path
(operators/components.connected_components); tests assert it. Same scale
envelope as SpMV PageRank: broadcast = 8|V| bytes, use below ~1e8
vertices; the frontier join path beyond.
"""

from __future__ import annotations

import numpy as np

from ..plans.fixpoint import IterativeResult
from .components_local import dense_min_label
from .graph import Graph, invert
from .pagerank_csr import build_csr_blocks, decoded_blocks, sweep_blocks


def connected_components_spmv(g: Graph, max_iters: int = 200,
                              num_blocks: int | None = None
                              ) -> IterativeResult:
    num_blocks = num_blocks or int(
        g.spark.conf.get("spark.sql.shuffle.partitions", "32"))
    und = g.edges.select("src", "dst").unionAll(invert(g.edges))
    blocks = decoded_blocks(build_csr_blocks(und, num_blocks))
    return dense_min_label(
        g, lambda labels: sweep_blocks(blocks, labels, np.minimum,
                                       weighted=False),
        "spmv", max_iters, release=(blocks,))
