"""Driver-local connected components / label propagation — the COST-aware
small-graph physical strategy (same dispatch reasoning as
operators/pagerank_local.py: below RAM scale a single-node vectorized
kernel beats any distributed plan, so matching single-node throughput at
small |E| means *choosing not to distribute* there).

Same semantics and output schema as the DataFrame paths
(operators/components.py), asserted identical in tests:

- connected components: component = min vertex id in the component,
  computed by vectorized min-label propagation with pointer jumping
  (NOT union-find — kept algorithmically independent from the test
  oracle's union-find so the parity tests stay meaningful).
- label propagation: synchronous, deduped-undirected-neighbor label mode,
  ties -> smallest label, isolated vertices keep their own, early stop on
  a fixed sweep — bit-identical to components.label_propagation.

The fixpoint driver (plans/fixpoint.py) runs both loops;
``dense_min_label`` is the CC sweep shared with the CSR tier
(components_csr.py), which differs only in how it gathers candidate
minima. ``run_*_auto`` dispatchers live in operators/components.py.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..plans.fixpoint import IterativeResult, iterate
from .graph import Graph

# reuse the PageRank local tier's envelope: ~16 bytes/edge collected
from .pagerank_local import LOCAL_MAX_EDGES  # noqa: F401  (re-export)


def _collect_undirected(g: Graph) -> tuple[np.ndarray, np.ndarray]:
    """Deduped undirected edge set (both directions, self-loops dropped by
    the Graph contract) as numpy arrays."""
    if not g.num_vertices:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    pdf = g.edges.select("src", "dst").toPandas()
    s0 = pdf["src"].to_numpy(np.int64)
    d0 = pdf["dst"].to_numpy(np.int64)
    s = np.concatenate([s0, d0])
    d = np.concatenate([d0, s0])
    n = max(g.num_vertices, 1)
    if n * n < np.iinfo(np.int64).max:
        key = s * n + d
        _, idx = np.unique(key, return_index=True)
    else:  # pragma: no cover — beyond the local tier's envelope anyway
        _, idx = np.unique(np.stack([s, d], axis=1), axis=0,
                           return_index=True)
    return s[idx], d[idx]


def _labels_df(g: Graph, labels: np.ndarray, col: str) -> DataFrame:
    return g.spark.createDataFrame(pd.DataFrame({
        "id": np.arange(len(labels), dtype=np.int64), col: labels}))


def _run_heads(*keys: np.ndarray) -> np.ndarray:
    """Mask of the first row of each run of equal ``keys`` (sorted)."""
    head = np.empty(len(keys[0]), dtype=bool)
    head[0] = True
    head[1:] = np.logical_or.reduce([k[1:] != k[:-1] for k in keys])
    return head


def _identity(g: Graph, col: str) -> IterativeResult:
    """Every vertex its own label, in 0 sweeps: the edgeless case."""
    return IterativeResult(
        _labels_df(g, np.arange(g.num_vertices, dtype=np.int64), col), 0)


def dense_min_label(g: Graph,
                    candidates: Callable[[np.ndarray],
                                         tuple[np.ndarray, np.ndarray]],
                    strategy: str, max_iters: int,
                    release=()) -> IterativeResult:
    """Min-label CC over a driver-resident label vector, shared by the local
    and CSR tiers. ``candidates(labels)`` returns (vertex ids, minimum
    neighbour label of each); the sweep compares and updates, pointer-jumps
    and counts the changed labels."""
    def step(labels: np.ndarray):
        uids, mins = candidates(labels)
        new = labels.copy()
        upd = mins < new[uids]
        new[uids[upd]] = mins[upd]
        # pointer jumping: collapse label chains in O(log depth) passes so
        # high-diameter graphs converge in few propagation rounds
        while True:
            nn = new[new]
            if np.array_equal(nn, new):
                break
            new = nn
        changed = int((new != labels).sum())
        return (new, float(changed), float(1 if changed else 0), 0,
                {"changed": changed, "strategy": strategy})

    return iterate(
        f"connected_components_{strategy}",
        np.arange(g.num_vertices, dtype=np.int64), step,
        save=lambda labels: _labels_df(g, labels, "component"),
        max_iters=max_iters, release=release)


def connected_components_local(g: Graph) -> IterativeResult:
    """Min-label propagation + pointer jumping, entirely on the driver."""
    s, d = _collect_undirected(g)
    if not len(d):
        return _identity(g, "component")
    order = np.argsort(d, kind="stable")
    s_ord = s[order]
    d_sorted = d[order]
    starts = np.flatnonzero(_run_heads(d_sorted))
    uds = d_sorted[starts]
    # min-label converges within diameter + 1 <= |V| sweeps
    return dense_min_label(
        g, lambda labels: (uds, np.minimum.reduceat(labels[s_ord], starts)),
        "local", max_iters=g.num_vertices)


def label_propagation_local(g: Graph, num_iters: int = 5) -> IterativeResult:
    """Synchronous LP, vectorized: per sweep, one lexsort groups (dst,
    label) runs; the winner per dst is the run maximizing (count, -label)."""
    s, d = _collect_undirected(g)
    if not len(d):
        return _identity(g, "label")

    def step(labels: np.ndarray):
        lab = labels[s]
        order = np.lexsort((lab, d))
        ds, ls = d[order], lab[order]
        run_starts = np.flatnonzero(_run_heads(ds, ls))
        run_dst = ds[run_starts]
        run_lab = ls[run_starts]
        run_cnt = np.diff(np.append(run_starts, len(ds)))
        # winner per dst: max count, then min label — lexsort minor-to-major
        w_order = np.lexsort((run_lab, -run_cnt, run_dst))
        wd, wl = run_dst[w_order], run_lab[w_order]
        first = _run_heads(wd)
        new = labels.copy()
        new[wd[first]] = wl[first]
        changed = int((new != labels).sum())
        return (new, float(changed), float(1 if changed else 0), 0,
                {"changed": changed, "strategy": "local"})

    return iterate(
        "label_propagation_local",
        np.arange(g.num_vertices, dtype=np.int64), step,
        save=lambda labels: _labels_df(g, labels, "label"),
        max_iters=num_iters)
