"""Session defaults and the per-task worker cost (session.py)."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pandas as pd

from haskellpagerank_spark.session import (
    DRIVER_JAVA_OPTIONS,
    driver_memory,
    local_df,
    skip_unchanged_zip_rereads,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GB = 1 << 30


def test_driver_memory_is_half_of_ram_capped_at_48g(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert driver_memory(16 * GB) == "8192m"
    assert driver_memory(15 * GB + 700 * (1 << 20)) == "8030m"
    assert driver_memory(96 * GB) == "49152m"
    assert driver_memory(512 * GB) == "49152m"
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert driver_memory() == driver_memory(ram)


def test_driver_memory_env_wins(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert driver_memory(16 * GB) == "3g"
    assert driver_memory() == "3g"


def test_get_spark_passes_its_jit_options_to_the_jvm(spark):
    """The test session replaced the JIT options (conftest); a default
    session gets C1 only (run in a fresh interpreter, since a session is
    a singleton)."""
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    args = list(mx.getRuntimeMXBean().getInputArguments())
    assert "-XX:TieredStopAtLevel=4" in args, args
    script = textwrap.dedent("""
        from haskellpagerank_spark.session import get_spark
        spark = get_spark(app_name="jit", cores=1)
        mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        print("\\n".join(mx.getRuntimeMXBean().getInputArguments()))
        spark.stop()
    """)
    env = {**os.environ, "PYTHONPATH": os.pathsep.join(
        filter(None, [REPO, os.environ.get("PYTHONPATH")]))}
    proc = subprocess.run([sys.executable, "-c", script], env=env,
                          capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-4000:]
    args = proc.stdout.splitlines()
    assert set(DRIVER_JAVA_OPTIONS.split()) <= set(args), args
    assert "-XX:TieredStopAtLevel=1" in args


def test_worker_tasks_do_not_reread_zip_archives(spark):
    """Spark runs ``importlib.invalidate_caches()`` before every task; with
    the patch in place it must not re-read any zip archive on the worker
    path (pyspark.zip among them) while the archives are unchanged."""

    def kernel(batches):
        skip_unchanged_zip_rereads()
        import importlib
        import zipimport
        reads = []
        read_directory = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return read_directory(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        for _ in batches:
            pass
        yield pd.DataFrame({"reads": [len(reads)]})

    df = spark.range(0, 16, numPartitions=16)
    for _ in range(2):  # the second job runs in reused workers
        counts = df.mapInPandas(kernel, "reads long").toPandas()["reads"]
        assert len(counts) == 16
        assert counts.tolist() == [0] * 16


def test_changed_zip_is_still_reread(tmp_path):
    """Invalidation stays correct: an unchanged archive is not re-read, a
    rewritten one is (run in a fresh interpreter so this process's
    importers are untouched)."""
    script = textwrap.dedent("""
        import importlib, sys, zipfile, zipimport
        path = sys.argv[1]
        with zipfile.ZipFile(path, "w") as z:
            z.writestr("a.py", "A = 1\\n")
        sys.path.insert(0, path)
        import a
        from haskellpagerank_spark.session import skip_unchanged_zip_rereads
        skip_unchanged_zip_rereads()
        reads = []
        read_directory = zipimport._read_directory
        zipimport._read_directory = lambda p: (reads.append(p),
                                               read_directory(p))[1]
        importlib.invalidate_caches()
        assert reads == [], reads
        with zipfile.ZipFile(path, "w") as z:
            z.writestr("a.py", "A = 1\\n")
            z.writestr("b.py", "B = 2\\n")
        importlib.invalidate_caches()
        import b
        assert (a.A, b.B) == (1, 2)
    """)
    env = {**os.environ, "PYTHONPATH": os.pathsep.join(
        filter(None, [REPO, os.environ.get("PYTHONPATH")]))}
    proc = subprocess.run(
        [sys.executable, "-c", script, str(tmp_path / "mods.zip")],
        env=env, capture_output=True, text=True, timeout=120)
    assert proc.returncode == 0, proc.stderr[-4000:]


def test_local_df_is_a_local_relation(spark):
    """Small driver-side tables are read in the JVM (``LocalTableScan``),
    not re-read through Python workers, and keep rows and types."""
    schema = "id long, sig array<long>, t string, x double"
    rows = [(1, [1, 2], "a", 0.5), (2, [], "b", -1.0)]
    df = local_df(spark, rows, schema)
    assert df.schema.simpleString() == (
        "struct<id:bigint,sig:array<bigint>,t:string,x:double>")
    assert sorted(map(tuple, df.collect())) == rows
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan, plan
    empty = local_df(spark, [], "src long, dst long")
    assert empty.count() == 0
    assert empty.schema.simpleString() == "struct<src:bigint,dst:bigint>"


def test_rdd_jobs_share_the_sql_worker_pool(spark):
    """Spark keys its Python worker pools by environment. With the session's
    ``SPARK_SIMPLIFIED_TRACEBACK`` executor setting an RDD task runs in a
    worker forked by the daemon that serves ``mapInPandas`` tasks, instead
    of a second daemon with its own workers."""
    n = spark.sparkContext.defaultParallelism

    def sql_kernel(batches):
        for _ in batches:
            pass
        yield pd.DataFrame({"ppid": [os.getppid()]})

    sql = set(spark.range(0, n, numPartitions=n)
              .mapInPandas(sql_kernel, "ppid long").toPandas()["ppid"])
    rdd = set(spark.sparkContext.parallelize(range(n), n)
              .mapPartitions(lambda _: [os.getppid()]).collect())
    assert rdd <= sql, (rdd, sql)
