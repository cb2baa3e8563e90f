"""Checkpoint/resume manifest for iterative jobs.

Every iteration of an iterative kernel (PageRank, CC, LP, coloring) may
write its state as a parquet snapshot plus a JSON manifest line:

    {checkpoint_dir}/
      manifest.jsonl                  # one line per completed iteration
      iter_00007/state.parquet/       # the iterate: part files + _SUCCESS

Two writers fill ``state.parquet/``, and both readers read either's output:

- a distributed iterate (a DataFrame: the join, async, pp and prism
  PageRank tiers, join-path CC and LP, star CC) is written by Spark,
  one part file per partition (``write``) and read back by
  ``spark.read.parquet`` (``resume``);
- a driver-resident iterate (an ``np.ndarray``: the SpMV and local
  PageRank tiers) is written by pyarrow on the driver as one
  ``(id = arange(n), value)`` part file (``write_vector``) and read back
  by ``pyarrow.parquet.read_table`` (``resume_vector``), so neither a
  snapshot nor a resume runs a Spark job.

A line is appended only AFTER the snapshot's ``_SUCCESS`` marker exists, so
a killed job leaves either a complete iteration or nothing — resume picks
the last complete line and continues mid-loop (north-rule requirement:
"resumable from checkpoint with per-partition lineage + metrics").
Per-partition lineage = the part files themselves, listed in the manifest
entry; metrics (L1/L-inf residual, rows shuffled, wall time) ride in the
same line.

Retention: after each snapshot's manifest line, every ``iter_*`` directory
except the ``KEEP_SNAPSHOTS`` newest snapshots the manifest names is
deleted, so disk use is bounded however long a run goes. Manifest lines are
never dropped: they are the per-iteration metrics record, and resume skips
lines whose snapshot is gone.

The directory is a POSIX path on the driver (``os.listdir``, ``open``,
``shutil.rmtree``); in a cluster it sits on storage the driver and every
executor mount at the same path.

The reference has no analogue (its state is a single in-RAM array); this is
the distributed replacement for its O(1) mutable state.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import asdict, dataclass, field
from typing import Any

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

#: snapshot directories kept per checkpoint dir (newest by manifest order)
KEEP_SNAPSHOTS = 2


@dataclass
class IterationMetrics:
    iteration: int
    l1_residual: float
    linf_residual: float
    rows_shuffled: int
    wall_s: float
    extra: dict[str, Any] = field(default_factory=dict)


class CheckpointManager:
    """Writes/reads iteration snapshots + manifest for one iterative run."""

    def __init__(self, checkpoint_dir: str | None, interval: int = 5):
        self.dir = checkpoint_dir
        self.interval = max(1, interval)
        if self.dir:
            os.makedirs(self.dir, exist_ok=True)

    @property
    def manifest_path(self) -> str:
        assert self.dir
        return os.path.join(self.dir, "manifest.jsonl")

    def should_snapshot(self, iteration: int) -> bool:
        return bool(self.dir) and iteration % self.interval == 0

    def write(self, state: DataFrame, metrics: IterationMetrics,
              snapshot: bool | None = None) -> None:
        """Append a manifest line; optionally write the iterate with Spark."""
        if not self.dir:
            return
        path = None
        if self._snap(metrics, snapshot):
            path = self._iter_path(metrics.iteration)
            state.write.mode("overwrite").parquet(path)
        self._commit(metrics, path)

    def write_vector(self, x: np.ndarray, metrics: IterationMetrics,
                     columns: tuple[str, str],
                     snapshot: bool | None = None) -> None:
        """``write`` for a driver-resident vector: the snapshot is the
        relation ``(columns[0] = arange(len(x)), columns[1] = x)``, written
        by pyarrow on the driver."""
        if not self.dir:
            return
        path = None
        if self._snap(metrics, snapshot):
            path = self._iter_path(metrics.iteration)
            shutil.rmtree(path, ignore_errors=True)
            os.makedirs(path)
            pq.write_table(
                pa.table({columns[0]: np.arange(len(x), dtype=np.int64),
                          columns[1]: x}),
                os.path.join(path, "part-00000.parquet"))
            open(os.path.join(path, "_SUCCESS"), "w").close()
        self._commit(metrics, path)

    def _snap(self, metrics: IterationMetrics, snapshot: bool | None) -> bool:
        return (self.should_snapshot(metrics.iteration) if snapshot is None
                else snapshot)

    def _commit(self, metrics: IterationMetrics, path: str | None) -> None:
        entry = asdict(metrics)
        entry["ts"] = time.time()
        if path:
            entry["snapshot"] = path
            entry["partitions"] = [
                f for f in sorted(os.listdir(path)) if f.endswith(".parquet")
            ]
        with open(self.manifest_path, "a") as fh:
            fh.write(json.dumps(entry) + "\n")
        if path:
            self._retain()

    def _retain(self) -> None:
        """Delete every ``iter_*`` directory but the KEEP_SNAPSHOTS newest
        snapshots in manifest order (a rerun rewrites lower iterations)."""
        keep: list[str] = []
        for entry in reversed(self.entries()):
            path = entry.get("snapshot")
            # by name: the manifest may spell the directory differently
            name = path and os.path.basename(os.path.dirname(path))
            if name and name not in keep:
                keep.append(name)
                if len(keep) == KEEP_SNAPSHOTS:
                    break
        for name in os.listdir(self.dir):
            if name.startswith("iter_") and name not in keep:
                shutil.rmtree(os.path.join(self.dir, name),
                              ignore_errors=True)

    def _iter_path(self, iteration: int) -> str:
        assert self.dir
        return os.path.join(self.dir, f"iter_{iteration:05d}", "state.parquet")

    def entries(self) -> list[dict[str, Any]]:
        if not self.dir or not os.path.exists(self.manifest_path):
            return []
        with open(self.manifest_path) as fh:
            return [json.loads(line) for line in fh if line.strip()]

    def latest_snapshot(self) -> dict[str, Any] | None:
        """Last manifest entry that has a readable parquet snapshot."""
        for entry in reversed(self.entries()):
            path = entry.get("snapshot")
            if path and os.path.exists(os.path.join(path, "_SUCCESS")):
                return entry
        return None

    def resume(self, spark: SparkSession,
               required_columns: tuple[str, ...] | None = None,
               ) -> tuple[DataFrame, int] | None:
        """(state, iteration) of the last complete snapshot, or None.

        ``required_columns`` guards against resuming a checkpoint written
        by a DIFFERENT strategy (e.g. min-label CC writes (id, component)
        state while star CC writes (src, dst) edge state): a mismatch
        raises a descriptive ValueError here instead of an opaque
        AnalysisException deep inside the resumed iteration."""
        entry = self.latest_snapshot()
        if entry is None:
            return None
        df = spark.read.parquet(entry["snapshot"])
        _check_columns(entry["snapshot"], df.columns, required_columns)
        return df, int(entry["iteration"])

    def resume_vector(self, like: np.ndarray, columns: tuple[str, str],
                      ) -> tuple[np.ndarray, int] | None:
        """``resume`` for a driver-resident vector, read by pyarrow from a
        snapshot of either writer: the ``columns[1]`` values scattered by
        ``columns[0]`` into an array of ``like``'s shape and dtype."""
        entry = self.latest_snapshot()
        if entry is None:
            return None
        table = pq.read_table(entry["snapshot"])
        _check_columns(entry["snapshot"], table.column_names, columns)
        x = np.zeros_like(like)
        x[table.column(columns[0]).to_numpy()] = \
            table.column(columns[1]).to_numpy()
        return x, int(entry["iteration"])


def _check_columns(path: str, found, required) -> None:
    if required and not set(required) <= set(found):
        raise ValueError(
            f"checkpoint snapshot '{path}' holds columns "
            f"{sorted(found)} but this operator resumes "
            f"{sorted(required)} state — the directory was "
            "probably written by a different strategy; resume it with "
            "the strategy that wrote it")
