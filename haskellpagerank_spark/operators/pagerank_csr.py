"""CSR-block SpMV PageRank — the physical fast path for the superstep.

The DataFrame join path (operators/pagerank.py) shuffles |E| join rows per
sweep. This variant materializes the reference's CSR idea (EdgeArray.hs:50-52)
as a *per-partition physical layout*: edges are hash-partitioned by dst
block, each block stored ONCE as contiguous numpy buffers (sorted dst run
-> unique dst ids + reduceat offsets + src ids + weights). A sweep is then

    for each block (in parallel):  msg = w * x[srcs]
        per-dst sums via np.add.reduceat           # sparse gather-scatter
    new_x = f(msg)                                 # driver, dense numpy

with the current rank vector distributed as a broadcast (vertex-mirror
pattern, a la GraphX replicated vertex views): zero shuffle per iteration,
one Spark job, no per-row Python.

Cached decoded blocks: the Arrow ``mapInPandas`` build is persisted,
decoded ONCE into a cached RDD of per-block numpy tuples in the same job,
and released (``decoded_blocks``). Each sweep is one ``RDD.mapPartitions``
job over that cache (``sweep_blocks``): no DataFrame plan, Arrow round trip
or decode per sweep. Decoding from the persisted blocks, which a task fills
before its decode starts, keeps one Python worker per task (see session.py
on worker pools).

Scale envelope (explicit, by design):
- every sweep moves O(|V|) through the driver twice: the 8|V|-byte rank
  broadcast out, and the ~|V| (id, partial sum) pairs of the per-block
  collect back (bounded by |V| plus hub-salt duplicates). Both are fine to
  ~10^7 vertices (~0.25 GB/sweep through one driver); beyond that the
  driver hop dominates, so use strategy="join" (operators/pagerank.py),
  whose shuffle-based gather has no single-machine O(|V|) state.
  ``run_pagerank_auto`` picks via SPMV_MAX_VERTICES.
- block build is one shuffle of the weighted edge set (same cost as a single
  join-path sweep) plus one decode pass, and amortizes over all iterations.
- per-block buffers are bounded by edges-per-block; ``num_blocks`` scales
  with the cluster (default = shuffle partitions) so blocks fit comfortably
  in executor memory (100 TB / 10k blocks ~ 10 GB raw -> use 10^5 blocks at
  that scale; it is a plain repartition knob).

Numerics match the reference formula exactly: the per-sweep blend
(dconst/damping/sink handling) is the one dense Jacobi step shared with
pagerank_local.py, and the loop is the fixpoint driver
(plans/fixpoint.py); summation order inside a block is the
sorted-dst run order, so per-vertex sums agree with the NumPy oracle to
<= 1e-15 relative (tests assert allclose 1e-12 vs the oracle and vs the
join path).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark import RDD, StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import skip_unchanged_zip_rereads
from .graph import Graph, amend_sinks
from .pagerank import PageRankConfig, PageRankResult
from .pagerank_local import dense_power_iterate

BLOCK_SCHEMA = ("dsts binary, offsets binary, usrcs binary, src_pos binary, "
                "w binary")


def build_csr_blocks(edges: DataFrame, num_blocks: int,
                     hub_ids: "np.ndarray | None" = None,
                     salt_k: int = 8) -> DataFrame:
    """One-time physical build over (src, dst) ``edges``: ONE shuffle of the
    raw pairs, hash-partitioned by dst (no two partitions share a dst, so
    per-block partial sums ARE the final sums), then a whole-partition numpy
    kernel that run-length-dedups duplicate edges into multiplicities ``w``.

    The 1/outdeg weighting is NOT stored: each sweep broadcasts x/outdeg
    (the dense degree vector already lives on the driver), which removes
    the groupBy(src,dst) exchange and the degree join a weighted-edge build
    would need — build cost drops from three |E| exchanges to one.

    Skew (explicit): web graphs have mega-hubs whose in-edges would land
    in a single block under plain dst-hash partitioning. ``hub_ids`` (dsts
    whose in-degree exceeds the caller's threshold) get a salt column
    ``xxhash64(src) % salt_k``, splitting each hub's rows across up to
    ``salt_k`` blocks; the driver combine sums per-dst partials with
    ``np.bincount``, so duplicate dsts across blocks are exact. The salted
    shuffle key is (dst, salt) — the range+hash hybrid of the design doc.
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        skip_unchanged_zip_rereads()
        srcs, dsts = [], []
        for p in batches:
            srcs.append(p["src"].to_numpy(np.int64))
            dsts.append(p["dst"].to_numpy(np.int64))
        if not sum(map(len, srcs)):
            return
        src = np.concatenate(srcs)
        dst = np.concatenate(dsts)
        order = np.lexsort((src, dst))
        src, dst = src[order], dst[order]
        # run-length encode duplicate (dst, src) pairs -> multiplicity w
        head = np.empty(len(dst), dtype=bool)
        head[0] = True
        head[1:] = (dst[1:] != dst[:-1]) | (src[1:] != src[:-1])
        pidx = np.flatnonzero(head)
        cnt = np.diff(np.append(pidx, len(dst))).astype(np.float64)
        src_u, dst_u = src[pidx], dst[pidx]
        uniq, offsets = np.unique(dst_u, return_index=True)
        # localize the gather: store the block's distinct srcs once plus
        # int32 positions into them — each sweep then gathers |usrcs| values
        # from the broadcast vector and streams the (cache-resident) local
        # array, instead of random-accessing the full x per edge
        usrcs, src_pos = np.unique(src_u, return_inverse=True)
        yield pd.DataFrame({
            "dsts": [uniq.tobytes()],
            "offsets": [offsets.astype(np.int64).tobytes()],
            "usrcs": [usrcs.tobytes()],
            "src_pos": [src_pos.astype(np.int32).tobytes()],
            "w": [cnt.tobytes()],
        })

    edges = edges.select("src", "dst")
    if hub_ids is not None and len(hub_ids):
        spark = edges.sparkSession
        hubs = spark.createDataFrame(
            pd.DataFrame({"dst": np.asarray(hub_ids, dtype=np.int64),
                          "_hub": np.ones(len(hub_ids), dtype=bool)}))
        edges = (
            edges.join(F.broadcast(hubs), "dst", "left")
            .withColumn("salt", F.when(
                F.col("_hub").isNotNull(),
                F.pmod(F.xxhash64("src"), F.lit(salt_k))).otherwise(F.lit(0)))
        )
        part = edges.repartition(num_blocks, "dst", "salt")
    else:
        part = edges.repartition(num_blocks, "dst")
    return part.select("src", "dst").mapInPandas(kernel, schema=BLOCK_SCHEMA)


_BLOCK_DTYPES = (np.int64, np.int64, np.int64, np.int32, np.float64)
# memory and disk, deserialized: pickled blocks stay JVM byte arrays (Kryo's
# first use in a session cost ~0.3 s of the build), and blocks that do not
# fit spill to disk instead of being rebuilt and re-decoded by each sweep.
_BLOCKS_LEVEL = StorageLevel(True, True, False, True)


def _decode(rows):
    skip_unchanged_zip_rereads()
    for r in rows:  # BLOCK_SCHEMA order
        yield tuple(np.frombuffer(b, t) for b, t in zip(r, _BLOCK_DTYPES))


def decoded_blocks(raw: DataFrame) -> RDD:
    """Build ``raw`` and decode it once into a cached RDD of ``(dsts,
    offsets, usrcs, src_pos, w)`` numpy tuples in one job, release ``raw``;
    the caller unpersists the result. ``raw`` is persisted so that a task
    fills its partition, releasing the ``mapInPandas`` worker, before the
    decode's worker starts. The count is JVM-side: a Python action would
    hold a second Python worker per task."""
    raw = raw.persist()
    try:
        blocks = raw.rdd.mapPartitions(_decode).persist(_BLOCKS_LEVEL)
        try:
            blocks._jrdd.count()
        except BaseException:
            blocks.unpersist()
            raise
    finally:
        raw.unpersist()
    return blocks


def sweep_blocks(blocks: RDD, x: np.ndarray, reduce: np.ufunc = np.add,
                 weighted: bool = True) -> tuple[np.ndarray, np.ndarray]:
    """One distributed gather-scatter sweep over ``decoded_blocks``: per
    block, ``reduce`` over each dst's run of (``w``-weighted) source values
    of ``x`` -> (dst ids, per-dst results), concatenated in block order."""
    bc = blocks.context.broadcast(x)

    def kernel(parts):
        skip_unchanged_zip_rereads()
        v = bc.value
        for dsts, offs, usrcs, src_pos, w in parts:
            x_local = v[usrcs]          # one gather from the big vector
            vals = x_local[src_pos]     # cache-resident inner gather
            yield dsts, reduce.reduceat(w * vals if weighted else vals, offs)

    try:
        out = blocks.mapPartitions(kernel).collect()
    finally:
        bc.destroy()
    if not out:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=x.dtype)
    ids, vals = zip(*out)
    return np.concatenate(ids), np.concatenate(vals)


def run_pagerank_spmv(g: Graph, cfg: PageRankConfig | None = None,
                      num_blocks: int | None = None,
                      hub_threshold: int | None = None,
                      init_ranks: DataFrame | None = None,
                      known_hub_ids=None) -> PageRankResult:
    """PageRank with CSR-block SpMV supersteps: the dense Jacobi sweep of
    ``dense_power_iterate`` with the link sum gathered by ``sweep_blocks``,
    iterated by ``iterate_ranks`` (same semantics/flags as run_pagerank;
    see PageRankConfig). ``hub_threshold``: in-degree above
    which a dst is salted across blocks (None -> a quarter of the per-block
    edge budget, min 65536; 0 disables the skew probe).

    ``known_hub_ids``: pre-known mega-hub dst ids (e.g. from the streaming
    degree tracker, streaming/stateful.py) — skips the |E| in-degree probe
    entirely. Salting is a physical choice only, so any id list is
    semantically safe; results are identical either way."""
    cfg = cfg or PageRankConfig()
    spark = g.spark
    n = g.num_vertices
    if n == 0:
        return PageRankResult(ranks=g.vertices().select(
            "id", F.lit(0.0).alias("rank")), iterations=0)

    work = amend_sinks(g) if cfg.sink_mode == "reflect" else g
    num_blocks = num_blocks or int(
        spark.conf.get("spark.sql.shuffle.partitions", "32"))

    # out-degree vector first (needed every run) — its sum is |E|, which
    # also lets us SKIP the skew probe outright on graphs too small for any
    # dst to clear the salting threshold (the common gate-query case)
    deg_pdf = (
        work.edges.groupBy(F.col("src").alias("id"))
        .agg(F.count(F.lit(1)).alias("deg")).toPandas()
    )
    outdeg = np.zeros(n, dtype=np.int64)
    outdeg[deg_pdf["id"].to_numpy(np.int64)] = deg_pdf["deg"].to_numpy(np.int64)
    n_edges = int(outdeg.sum())

    # skew probe: salt mega-hub dsts whose in-edges would swamp one block
    hub_ids = None
    if known_hub_ids is not None:
        hub_ids = np.asarray(known_hub_ids, dtype=np.int64)
        if hub_ids.size == 0:
            hub_ids = None
    elif hub_threshold != 0:
        if hub_threshold is None:
            hub_threshold = max(65536, n_edges // max(num_blocks, 1) // 4)
        if n_edges > hub_threshold:  # else no dst can possibly exceed it
            indeg_pdf = (
                work.edges.groupBy(F.col("dst").alias("id"))
                .agg(F.count(F.lit(1)).alias("deg")).toPandas()
            )
            hub_ids = indeg_pdf.loc[indeg_pdf["deg"] > hub_threshold,
                                    "id"].to_numpy(np.int64)

    blocks = decoded_blocks(
        build_csr_blocks(work.edges, num_blocks, hub_ids=hub_ids))

    def link_sum(y: np.ndarray) -> np.ndarray:
        ids, msgs = sweep_blocks(blocks, y)
        # bincount sums per-dst partials: exact across salted hub blocks
        return (np.bincount(ids, weights=msgs, minlength=n)
                if len(ids) else np.zeros(n))

    return dense_power_iterate(g, cfg, outdeg, link_sum, "spmv", n_edges,
                               init_ranks, release=(blocks,))


# crossover: the O(|V|) per-sweep driver hop of the module docstring's scale
# envelope (measured handoff: BENCH/BASELINE.md §5)
SPMV_MAX_VERTICES = 10_000_000


def run_pagerank_auto(g: Graph, cfg: PageRankConfig | None = None,
                      init_ranks: DataFrame | None = None) -> PageRankResult:
    """Pick the physical strategy by data scale (documented crossovers):

    1. |E| <= LOCAL_MAX_EDGES  -> driver-local numpy (COST regime — a
       single thread beats any distributed plan below RAM scale; this is
       how the engine matches the reference's single-node throughput at
       the reference's own data sizes);
    2. |V| <= SPMV_MAX_VERTICES -> CSR-block SpMV (zero-shuffle sweeps,
       broadcast rank vector);
    3. beyond                   -> shuffle-join supersteps (no |V|-sized
       single-machine state anywhere).
    """
    from .pagerank import run_pagerank
    from .pagerank_local import LOCAL_MAX_EDGES, run_pagerank_local
    n_edges = g.edges.count()
    if n_edges <= LOCAL_MAX_EDGES:
        return run_pagerank_local(g, cfg, init_ranks=init_ranks)
    if g.num_vertices <= SPMV_MAX_VERTICES:
        return run_pagerank_spmv(g, cfg, init_ranks=init_ranks)
    return run_pagerank(g, cfg, init_ranks=init_ranks)
