"""Snapshot writers, readers and retention of ``plans/checkpoint.py``.

Most tests drive ``CheckpointManager`` directly on numpy vectors and need
no Spark session; the rest check the Spark writer's format against the
vector reader and that a driver-resident PageRank snapshots without Spark
jobs.
"""

import os

import numpy as np
import pandas as pd
import pytest

from haskellpagerank_spark.fixtures import FIXTURE_EDGES
from haskellpagerank_spark.operators.graph import from_pairs
from haskellpagerank_spark.operators.pagerank import PageRankConfig
from haskellpagerank_spark.operators.pagerank_csr import run_pagerank_spmv
from haskellpagerank_spark.operators.pagerank_local import run_pagerank_local
from haskellpagerank_spark.plans.checkpoint import (
    KEEP_SNAPSHOTS, CheckpointManager, IterationMetrics)

COLS = ("id", "rank")


def _m(iteration: int) -> IterationMetrics:
    return IterationMetrics(iteration, 0.0, 0.0, 0, 0.0)


def _iter_dirs(path) -> list[str]:
    return sorted(d for d in os.listdir(path) if d.startswith("iter_"))


def _vec(n: int = 1000, seed: int = 0) -> np.ndarray:
    # awkward doubles: any rounding on the way through would show
    return np.random.default_rng(seed).random(n) / 3.0


def test_vector_write_then_resume_is_bit_identical(tmp_path):
    x = _vec()
    CheckpointManager(str(tmp_path), 1).write_vector(x, _m(3), COLS)
    got, it = CheckpointManager(str(tmp_path)).resume_vector(
        np.zeros(len(x)), COLS)
    assert it == 3
    assert got.dtype == x.dtype and np.array_equal(got, x)


def test_resume_vector_checks_columns(tmp_path):
    ck = CheckpointManager(str(tmp_path), 1)
    ck.write_vector(np.arange(5), _m(1), ("id", "component"))
    with pytest.raises(ValueError, match="different strategy"):
        ck.resume_vector(np.zeros(5), COLS)


def test_incomplete_snapshots_are_ignored(tmp_path):
    """A snapshot without ``_SUCCESS``, or without its manifest line (a
    job killed mid-write or just before the line), never resumes."""
    ck = CheckpointManager(str(tmp_path), 1)
    x1, x2, x3 = _vec(seed=1), _vec(seed=2), _vec(seed=3)
    ck.write_vector(x1, _m(1), COLS)
    ck.write_vector(x2, _m(2), COLS)
    os.remove(os.path.join(ck._iter_path(2), "_SUCCESS"))
    # iteration 3: complete files, but the manifest line never landed
    CheckpointManager(str(tmp_path / "other"), 1).write_vector(
        x3, _m(3), COLS)
    os.rename(str(tmp_path / "other" / "iter_00003"),
              str(tmp_path / "iter_00003"))
    got, it = ck.resume_vector(np.zeros(len(x1)), COLS)
    assert it == 1 and np.array_equal(got, x1)


def test_retention_keeps_newest_snapshots_in_manifest_order(tmp_path):
    """Only the KEEP_SNAPSHOTS newest snapshots stay; a rerun that writes
    lower iterations into the same directory counts as newer, and every
    manifest line stays."""
    ck = CheckpointManager(str(tmp_path), 1)
    for it in (10, 20, 30):
        ck.write_vector(_vec(seed=it), _m(it), COLS)
    assert _iter_dirs(tmp_path) == ["iter_00020", "iter_00030"]
    ck.write_vector(_vec(seed=5), _m(5), COLS)
    assert _iter_dirs(tmp_path) == ["iter_00005", "iter_00030"]
    assert [e["iteration"] for e in ck.entries()] == [10, 20, 30, 5]
    got, it = ck.resume_vector(np.zeros(1000), COLS)
    assert it == 5 and np.array_equal(got, _vec(seed=5))


def test_spark_written_snapshot_resumes_through_vector_path(spark, tmp_path):
    """A snapshot in the Spark writer's format (``createDataFrame`` of the
    pandas (id, rank) frame, as the driver-resident tiers wrote it before)
    resumes through pyarrow bit-identically, and Spark reads a pyarrow
    snapshot with the same schema and values. The Spark writer prunes
    too."""
    x = _vec()
    ids = np.arange(len(x), dtype=np.int64)
    df = spark.createDataFrame(pd.DataFrame({"id": ids, "rank": x}))
    sp = CheckpointManager(str(tmp_path / "spark"), 1)
    for it in (1, 2, 3):
        sp.write(df.repartition(3), _m(it))
    assert _iter_dirs(tmp_path / "spark") == ["iter_00002", "iter_00003"]
    got, it = sp.resume_vector(np.zeros(len(x)), COLS)
    assert it == 3
    assert got.dtype == x.dtype and np.array_equal(got, x)

    CheckpointManager(str(tmp_path / "arrow"), 1).write_vector(x, _m(1), COLS)
    back, _ = CheckpointManager(str(tmp_path / "arrow")).resume(spark, COLS)
    assert back.schema == spark.read.parquet(sp._iter_path(3)).schema
    pdf = back.toPandas().sort_values("id")
    assert np.array_equal(pdf["rank"].to_numpy(), x)


def _ranks(res) -> np.ndarray:
    return res.ranks.toPandas().sort_values("id")["rank"].to_numpy()


def test_long_local_run_keeps_only_newest_snapshots(spark, tmp_path):
    g = from_pairs(spark, FIXTURE_EDGES["doubleSquare"])
    ck = str(tmp_path / "ck")

    def cfg(num_iters, **kw):
        return PageRankConfig(damping=0.85, num_iters=num_iters,
                              sink_mode="redistribute", **kw)

    run_pagerank_local(g, cfg(100, checkpoint_dir=ck, checkpoint_interval=1))
    assert _iter_dirs(ck) == ["iter_00099", "iter_00100"]
    assert len(_iter_dirs(ck)) == KEEP_SNAPSHOTS
    resumed = run_pagerank_local(
        g, cfg(102, checkpoint_dir=ck, checkpoint_interval=1))
    assert resumed.metrics[0].iteration == 101
    assert np.array_equal(_ranks(resumed), _ranks(run_pagerank_local(
        g, cfg(102))))
    assert _iter_dirs(ck) == ["iter_00101", "iter_00102"]


def test_spmv_snapshots_run_no_spark_job(spark, tmp_path):
    """An SpMV PageRank that snapshots every sweep runs exactly the Spark
    jobs of the same call without a checkpoint directory."""
    sc = spark.sparkContext
    g = from_pairs(spark, FIXTURE_EDGES["doubleSquare"])

    def jobs(group: str, **kw) -> int:
        sc.setJobGroup(group, group)
        try:
            run_pagerank_spmv(g, PageRankConfig(
                damping=0.85, num_iters=6, sink_mode="redistribute", **kw))
        finally:
            sc.setJobGroup("", "")
        return len(sc.statusTracker().getJobIdsForGroup(group))

    jobs("ckpt-warmup")
    plain = jobs("ckpt-plain")
    snap = jobs("ckpt-snap", checkpoint_dir=str(tmp_path / "ck"),
                checkpoint_interval=1)
    assert plain > 0 and snap == plain
    assert len(_iter_dirs(tmp_path / "ck")) == KEEP_SNAPSHOTS
