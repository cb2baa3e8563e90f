"""SparkSession factory with scale-aware defaults.

Local sandbox runs on ``local[N]`` (single JVM); production runs via
``spark-submit --py-files`` on a multi-executor cluster. The knobs below are
the ones that matter at both scales:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing) —
  web link graphs have 1e6-degree hubs, AQE's skew handling is load-bearing.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real cluster
  pass ``shuffle_partitions ~ 2-3x total cores``.
- Arrow enabled: every Python-side kernel in this engine is Arrow-batched
  (``mapInArrow`` / ``applyInPandas``), never per-row Python.
- ``spark.driver.memory`` defaults to half of physical RAM, at most 48g
  ($SPARK_GRAFT_DRIVER_MEM overrides): local mode runs every task inside
  the driver JVM, and a heap larger than the host lets it grow until the
  OS kills it.

Per-task Python worker cost. Before each task a reused Python worker runs
``importlib.invalidate_caches()``. On CPython < 3.13 that makes every
``zipimport.zipimporter`` re-read its archive's directory, and Spark puts
``pyspark.zip`` (about 1.3k entries) on the worker path behind some 16
importers: about 0.2 s of Python CPU per task on a 4-vCPU x86 host,
whatever the task does. On an iterative kernel that is most of a superstep:
a CSR SpMV PageRank sweep over a 1.6k-vertex graph took 355-376 ms (median)
against 76-109 ms for a JVM-only job over the same cached blocks.
``skip_unchanged_zip_rereads`` makes the re-read conditional on the
archive's size and mtime. It has to run inside the worker, so every engine
kernel calls it first thing; a worker then pays for the re-read only on its
first task. The call makes the workers import this package, so they must be
able to (``spark-submit --py-files`` with the engine zip, or the package on
the workers' ``PYTHONPATH`` or working directory), as the
``sources/pages.py`` kernels already require.

Python worker pools. Spark keeps a Python worker pool per worker
environment, and its SQL runners (``mapInPandas`` and the other Arrow UDFs)
add ``SPARK_SIMPLIFIED_TRACEBACK`` to theirs while ``SIMPLIFIED_TRACEBACK``
is on (the default) and RDD runners do not: the first ``RDD.mapPartitions``
job started a second daemon and a worker per core. ``get_spark`` sets the
variable for all runners then, so they share one pool. Within a task, a
Python RDD stage over an unpersisted ``mapInPandas`` frame holds two
workers at once; over a persisted one, the task fills the cached partition
and releases that worker first, so the CSR SpMV build persists its frame
and decodes it in the same job.

JIT tier. ``get_spark`` starts its local JVM with C1 as the only JIT
compiler (``DRIVER_JAVA_OPTIONS``). In local mode every task runs in that
JVM. In a short session the engine's jobs (planning, generated code, small
per-partition kernels) run mostly while C2 is still compiling them, and on
a few-core host its compile threads take CPU from the tasks. On a 4-vCPU x86 host,
the first 5k-page ``build_graph`` of a session took 4.7 s and 14.6 CPU-s
of JVM time with C2, 10.5 s of it in the compilers; with C1 only, 3.8 s
and 6.3 CPU-s, 1.5 s compiling. Later calls in the same session were no
slower with C1 (ingest 1.6-1.9 s -> 1.5 s, SpMV PageRank 1.8-1.9 ->
1.6 s), so a session's first calls and its later ones differ less. A long
session is another matter: once C2 has compiled Catalyst, the plan-heavy
iterative tiers (join, pp, incremental CC) run faster with it, and
``tests/test_pagerank_csr.py`` with ``tests/test_components.py`` took
228-249 s with C2 against 277 s with C1. The test session therefore
passes ``spark.driver.extraJavaOptions`` in ``extra_conf``, which replaces
the default, to get tiered C1+C2 back. C1 gets C2's default code cache
(240 MB instead of 48 MB): with 48 MB the same two test files took
299-326 s.

Small driver-side tables. ``spark.createDataFrame(list)`` turns the rows
into an RDD of pickled batches that every scan re-reads through Python
workers, one Python task per partition in every job that touches it: a
count over an 8-row edge list took 0.3-0.5 s against 0.1 s for the same
rows in a ``LocalTableScan``. ``local_df`` builds the table from Arrow
instead, which Spark keeps in the plan as a local relation read in the JVM.
"""

from __future__ import annotations

import os
import sys
import zipimport

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType, _parse_datatype_string

MAX_DRIVER_MEM_MB = 48 * 1024
# C1-only JIT in the local JVM (module docstring)
DRIVER_JAVA_OPTIONS = "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m"
SIMPLIFIED_TRACEBACK = (
    "spark.sql.execution.pyspark.udf.simplifiedTraceback.enabled")


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def local_df(spark: SparkSession, rows, schema: str) -> DataFrame:
    """DataFrame over a small list of driver-side tuples, as a local
    relation (see the module docstring); ``schema`` is a DDL string."""
    struct = _parse_datatype_string(schema)
    assert isinstance(struct, StructType), schema
    pdf = pd.DataFrame.from_records(list(rows), columns=struct.names)
    return spark.createDataFrame(pdf, schema=struct)


def driver_memory(ram_bytes: int | None = None) -> str:
    """``spark.driver.memory``: $SPARK_GRAFT_DRIVER_MEM if set, else half of
    the physical RAM ``ram_bytes`` (None: this host's), at most 48g."""
    if os.environ.get("SPARK_GRAFT_DRIVER_MEM"):
        return os.environ["SPARK_GRAFT_DRIVER_MEM"]
    if ram_bytes is None:
        ram_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(MAX_DRIVER_MEM_MB, ram_bytes // 2 >> 20)}m"


def _zip_stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_size, st.st_mtime_ns


def skip_unchanged_zip_rereads() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only when
    its (size, mtime) changed since that importer last read it.

    Called first thing in every engine kernel (see the module docstring);
    installs once per process and is a no-op after that and on Python
    >= 3.13, whose zipimporter already invalidates lazily. Importers that
    exist at install time are taken as current: in a worker, Spark's
    per-task ``invalidate_caches()`` has just re-read them all.
    """
    cls = zipimport.zipimporter
    reread = cls.invalidate_caches
    if sys.version_info >= (3, 13) or hasattr(reread, "skips_unchanged"):
        return

    def invalidate_caches(self):
        stamp = _zip_stamp(self.archive)
        if stamp is None or stamp != getattr(self, "_read_stamp", None):
            reread(self)
            self._read_stamp = stamp

    invalidate_caches.skips_unchanged = True
    for imp in list(sys.path_importer_cache.values()):
        if isinstance(imp, cls):
            imp._read_stamp = _zip_stamp(imp.archive)
    cls.invalidate_caches = invalidate_caches


def get_spark(
    app_name: str = "haskellpagerank_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores=None`` honours $SPARK_GRAFT_CPUS (driver contract), falling back
    to all machine cores. An ``extra_conf`` value for
    ``spark.driver.extraJavaOptions`` replaces ``DRIVER_JAVA_OPTIONS``
    (module docstring). An existing active session is reused as-is.
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        return active

    n = cores or default_parallelism()
    sp = shuffle_partitions or n
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.default.parallelism", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", driver_memory())
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.extraJavaOptions", DRIVER_JAVA_OPTIONS)
    )
    extra_conf = extra_conf or {}
    if extra_conf.get(SIMPLIFIED_TRACEBACK, "true").lower() == "true":
        # one Python worker pool for SQL and RDD jobs (module docstring)
        builder = builder.config(
            "spark.executorEnv.SPARK_SIMPLIFIED_TRACEBACK", "1")
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
