"""The one fixpoint driver of the PageRank, connected-components and
label-propagation tiers.

A tier supplies its physical build and one sweep; ``iterate`` alone owns
the iteration policy: the ``CheckpointManager`` and resume, the sweep
budget, the stopping test, manifest and snapshot writes, what happens at
the budget, and the release of the tier's relations on every exit path.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from .checkpoint import CheckpointManager, IterationMetrics


@dataclass
class IterativeResult:
    df: DataFrame
    iterations: int
    metrics: list[IterationMetrics] = field(default_factory=list)


def iterate(name: str, state, step, save, *, max_iters: int,
            tol: float | None = 0.0, norm: str = "linf",
            must_converge: bool = False, return_previous: bool = False,
            load=None, columns: tuple[str, ...] = (),
            checkpoint_dir: str | None = None, checkpoint_interval: int = 5,
            release=()) -> IterativeResult:
    """Run ``step`` from ``state`` to its fixpoint.

    - ``step(state) -> (new_state, l1, linf, rows_shuffled, extra)``; the
      run stops once the ``norm`` residual is <= ``tol``. Min-label CC and
      LP report ``l1 = linf = 0`` once no label changed, star CC ``linf =
      0`` once its edge fingerprint is unchanged, so they keep ``tol=0``;
      ``tol=None`` runs exactly ``max_iters`` sweeps (fixed-sweep PageRank);
    - ``save(state) -> DataFrame`` for snapshots and the result;
    - ``load(snapshot) -> state`` resumes from the last snapshot in
      ``checkpoint_dir`` whose ``columns`` it checks first; without
      ``load`` the snapshots are only written. An ``np.ndarray`` state is
      snapshotted and resumed on the driver as the ``columns`` = (id,
      value) vector, with no Spark job and no ``save``; ``load`` then
      receives that vector instead of a DataFrame;
    - at the budget, ``must_converge`` raises; otherwise the partial state
      is returned and its last metrics record a nonzero residual. A run
      that must converge and resumes at or past its budget runs one
      verification sweep instead of raising;
    - ``return_previous``: on convergence return the iterate BEFORE the
      converging sweep (Jacobi PageRank, PageRankStep.hs:90);
    - ``release``: relations unpersisted on every exit path.
    """
    ckpt = CheckpointManager(checkpoint_dir, checkpoint_interval)
    vector = isinstance(state, np.ndarray)
    metrics: list[IterationMetrics] = []
    try:
        it = 0
        if checkpoint_dir and load is not None:
            resumed = (ckpt.resume_vector(state, columns) if vector else
                       ckpt.resume(SparkSession.active(),
                                   required_columns=columns))
            if resumed is not None:
                state, it = load(resumed[0]), resumed[1]
        budget = it + 1 if must_converge and it >= max_iters else max_iters
        while it < budget:
            it += 1
            t0 = time.monotonic()
            new, l1, linf, rows_shuffled, extra = step(state)
            m = IterationMetrics(
                iteration=it, l1_residual=l1, linf_residual=linf,
                rows_shuffled=rows_shuffled,
                wall_s=time.monotonic() - t0, extra=extra,
            )
            metrics.append(m)
            snap = ckpt.should_snapshot(it)
            if vector:
                ckpt.write_vector(new, m, columns, snapshot=snap)
            else:
                ckpt.write(save(new) if snap else None, m, snapshot=snap)
            prev, state = state, new
            if tol is not None and (linf if norm == "linf" else l1) <= tol:
                return IterativeResult(
                    save(prev if return_previous else state), it, metrics)
        if must_converge:
            raise RuntimeError(
                f"{name} did not converge within max_iters={max_iters} "
                f"(last linf={metrics[-1].linf_residual:.3e})")
        return IterativeResult(save(state), it, metrics)
    finally:
        for rel in release:
            rel.unpersist()
