"""End-to-end `spark-submit --py-files` smoke test — the production
invocation shape the north rule names ("run via spark-submit --py-files on
multi-executor clusters"). Packages the engine into a zip, launches a FRESH
JVM through scripts/submit.sh on the reference's doubleSquare graph, and
checks the job's rank output against the in-process engine result under the
identical CLI config. The job runs outside the repository with the CSR SpMV
strategy, so its Python workers must import the engine from the zip.

One extra JVM start (~40s); marked `submit` so `-m 'not submit'` can skip
it while iterating.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess

import pytest

from haskellpagerank_spark.fixtures import fixture_text

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.submit
@pytest.mark.skipif(shutil.which("spark-submit") is None,
                    reason="spark-submit not on PATH")
def test_spark_submit_py_files_end_to_end(spark, tmp_path):
    edge_file = tmp_path / "doubleSquareEA.txt"
    edge_file.write_text(fixture_text("doubleSquare"))
    out = str(tmp_path / "ranks")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_CPUS"] = "4"
    proc = subprocess.run(
        ["bash", os.path.join(REPO, "scripts", "submit.sh"),
         "--master", "local[4]", "--",
         "--file", edge_file.name, "--method", "pagerankS",
         "--strategy", "spmv", "--num-iters", "5", "--output", out],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    # the job prints a one-line JSON summary (run_job.py)
    summary = None
    for line in proc.stdout.splitlines():
        if line.startswith("{") and '"method"' in line:
            summary = json.loads(line)
    assert summary is not None, proc.stdout[-4000:]
    assert summary["method"] == "pagerankS"
    assert summary["iterations"] == 5
    assert summary["n_edges"] > 0

    # cross-check the written parquet against the same engine in-process
    # under the CLI's exact config (damping 0.15, init 1/n, spmv strategy)
    from haskellpagerank_spark.operators.graph import read_edge_list
    from haskellpagerank_spark.operators.pagerank import PageRankConfig
    from haskellpagerank_spark.operators.pagerank_csr import (
        run_pagerank_spmv,
    )

    got = {r["id"]: r["rank"] for r in spark.read.parquet(out).collect()}
    g = read_edge_list(spark, str(edge_file))
    cfg = PageRankConfig(damping=0.15, num_iters=5, sink_mode="reflect",
                         init_value=1.0 / max(g.num_vertices, 1))
    want_df = run_pagerank_spmv(g, cfg).ranks
    want = {r["id"]: r["rank"] for r in want_df.collect()}
    assert got.keys() == want.keys()
    for k in want:
        assert got[k] == pytest.approx(want[k], rel=1e-12)
    assert summary["rank_sum"] == pytest.approx(sum(want.values()), rel=1e-9)
