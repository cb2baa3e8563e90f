"""Distributed block Gauss–Seidel PageRank — the reference's async family.

Reference semantics (pagerank/Data/Graph/PageRank.hs): the async
``pageRank`` sweeps a SINGLE shared rank array in place. Below
``minimumParallelizableWorkload`` = 7000 vertices (InternalPageRank.hs:26-27)
the sweep is one sequential ascending-id pass (``V.imapM_``,
PageRank.hs:72-74); above it, the repa thread gang forks over contiguous
id chunks (``nstart`` boundaries, ArrayUtils.hs:7-17; PageRank.hs:75-82),
each thread sweeping its chunk in ascending order — so cross-chunk reads
observe whatever old/new mix thread timing produces. Per vertex
(vertexLoop, PageRank.hs:23-52):

    x_v = dConst + d * sum_{u -> v} x_u / outdeg_u     (in place)

with sinks/isolated vertices pinned to 0 (:36), dConst = (1-d)/n_nonsink,
convergence when no vertex moved by more than ``threshold`` during a full
sweep (the shared isAboveThreshold IORef, :49-52; note the outdeg==0 write
at :36 bypasses the flag), and the single buffer returned after the
converging sweep. The siblings are the same loop with different
scheduling/locking: "pagerankND" hardcodes the parallel threshold to 9e6
so it always runs the sequential pass (PageRankNonDet.hs:66,85-102);
"pagerankVC" takes per-vertex MVars (PageRankVC.hs:87-104) and
"pagerankEC" a global lock plus all neighbor MVars (PageRankEC.hs:96-114)
— concurrency-control detail over identical math. The fixpoint
driver (plans/fixpoint.py) runs the loop with ``return_previous=False``.

This operator is the distributed realization of the one REPRODUCIBLE
member of that schedule family (the BSP idealization): vertices are split
into ``num_blocks`` contiguous id chunks with the reference's exact
``nstart`` boundaries; within a chunk the sweep is in-place ascending-id
Gauss–Seidel; across chunks every read sees the sweep-start value. With
``num_blocks=1`` this IS the reference's deterministic sequential regime
(every bundled test graph, and "pagerankND" at any size) — parity against
``oracle.pagerank_gauss_seidel`` is exact; with ``num_blocks>1`` it is one
realizable schedule of the chunk-parallel loop, matched 1e-12 against
``oracle.pagerank_block_gs`` and converging to the same unique fixpoint
as every schedule in the family (the VC/EC locks only serialize writes,
they never change the fixpoint).

Distributed shape — built once, before the loop:
  * weighted in-edges (src, dst, w = multiplicity/outdeg) are split into
    CROSS-block and IN-block sets by the nstart chunk of each endpoint;
    both persisted (the split is static — chunk boundaries depend only on
    n and num_blocks).
  * per sweep: cross-block messages are one equi-join + map-side-combined
    SUM keyed by dst (exactly the Jacobi superstep workhorse, but over the
    cross-block edge subset only); then vertex state cogroups with the
    in-block edges on the block id and an Arrow kernel runs the in-chunk
    sequential sweep over a local CSR — a NumPy kernel loop over the
    chunk's message-receiving vertices, never per-row Spark Python.
  * the kernel emits per-vertex |Δ| alongside the new rank, so the
    sweep-end residual is a plain aggregation over the kernel output — no
    extra old⋈new join.

Scale notes: per sweep this shuffles |E_cross| (join + partial agg) plus
|V| twice (message attach by id, cogroup by block) — the same order as the
Jacobi join path with one extra |V| regroup, while converging in roughly
half the sweeps (Gauss–Seidel rate within chunks). In-block edges never
re-shuffle after the initial split. Chunk count is independent of
cluster width: more blocks → more Jacobi-like (slower convergence, smaller
kernel groups); fewer → more sequential work per task. The kernel's
sequential section is O(|chunk in-edges|), so for web graphs choose
num_blocks ≳ executor count and let AQE coalesce.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from ..session import skip_unchanged_zip_rereads
from .graph import Graph, amend_sinks
from .pagerank import (PageRankConfig, PageRankResult, iterate_ranks,
                       weighted_edges)

#: the reference's sequential/parallel crossover (InternalPageRank.hs:26-27)
MIN_PARALLELIZABLE = 7000


def block_of(col, n: int, num_blocks: int):
    """nstart chunk id of vertex ``col`` as a Column (integer arithmetic).

    With n = q*B + r (ArrayUtils.hs:7-17): the first r chunks hold q+1
    vertices, the rest q, so block(v) = v div (q+1) for v < r*(q+1), else
    (v - r) div q. Matches oracle.block_starts for every (n, B)."""
    q, r = divmod(n, num_blocks)
    if q == 0:  # n < B: one vertex per chunk, the tail chunks empty
        return F.col(col).cast("long")
    pivot = r * (q + 1)
    return (
        F.when(F.col(col) < pivot, F.expr(f"{col} DIV {q + 1}"))
        .otherwise(F.expr(f"({col} - {r}) DIV {q}"))
        .cast("long")
    )


def _make_block_kernel(damping: float, dconst: float):
    """Arrow kernel: one in-chunk Gauss–Seidel pass (vertexLoop semantics).

    Left cogroup side: the chunk's vertex rows (block, id, rank, has_out,
    ext) where ``ext`` is the cross-block message sum already computed
    from sweep-start ranks. Right side: the chunk's in-block weighted
    edges (block, src, dst, w). Emits (block, id, rank, has_out, delta).
    """

    def kernel(vpdf: pd.DataFrame, epdf: pd.DataFrame) -> pd.DataFrame:
        skip_unchanged_zip_rereads()
        if not len(vpdf):
            return pd.DataFrame(
                columns=["block", "id", "rank", "has_out", "delta"])
        order = np.argsort(vpdf["id"].to_numpy(), kind="stable")
        ids = vpdf["id"].to_numpy()[order]
        old = vpdf["rank"].to_numpy()[order].astype(np.float64)
        has_out = vpdf["has_out"].to_numpy()[order].astype(bool)
        ext = np.nan_to_num(
            vpdf["ext"].to_numpy()[order].astype(np.float64), nan=0.0)

        # new value for any vertex with NO in-block in-edges (its gather
        # is fully determined by sweep-start values): vectorized
        cand = np.where(has_out, dconst + damping * ext, 0.0)
        x = old.copy()
        if len(epdf):
            src_l = np.searchsorted(ids, epdf["src"].to_numpy())
            dst_l = np.searchsorted(ids, epdf["dst"].to_numpy())
            w = epdf["w"].to_numpy().astype(np.float64)
            # (dst, src) order: each vertex sums its in-edges in the same
            # order whatever order the cogroup delivered them in
            eo = np.lexsort((src_l, dst_l))
            src_l, dst_l, w = src_l[eo], dst_l[eo], w[eo]
            uniq, first = np.unique(dst_l, return_index=True)
            bound = np.append(first, len(dst_l))
            prev = 0
            # sequential ascending-id pass; between message-receiving
            # vertices, the no-in-edge runs are bulk-assigned (their new
            # values are already final in `cand`, and later reads of them
            # must see the NEW value — Gauss–Seidel order)
            for k, v in enumerate(uniq):
                x[prev:v] = cand[prev:v]
                if has_out[v]:
                    s, e = bound[k], bound[k + 1]
                    x[v] = dconst + damping * (
                        ext[v] + float(np.sum(w[s:e] * x[src_l[s:e]])))
                else:
                    x[v] = 0.0
                prev = v + 1
            x[prev:] = cand[prev:]
        else:
            x = cand
        return pd.DataFrame({
            "block": vpdf["block"].to_numpy()[order],
            "id": ids, "rank": x, "has_out": has_out,
            "delta": np.abs(x - old),
        })

    return kernel


def run_pagerank_async(g: Graph, cfg: PageRankConfig | None = None,
                       num_blocks: int | None = None) -> PageRankResult:
    """Block-parallel Gauss–Seidel PageRank (see module docstring).

    ``num_blocks=None`` mirrors the reference's dispatch: 1 chunk below
    7000 vertices (the deterministic sequential regime), else the default
    parallelism (the reference uses the repa gang = RTS capabilities).
    """
    cfg = cfg or PageRankConfig(damping=0.15, tol=1e-4, sink_mode="reflect")
    if cfg.sink_mode == "redistribute":
        raise ValueError(
            "the async family implements the reference's amended-graph "
            "semantics (sinks pinned to 0); use reflect/none — "
            "redistribute mode needs a mid-sweep global dangling sum, "
            "which Gauss-Seidel scheduling cannot express in BSP")
    spark = g.spark
    n = g.num_vertices
    if n == 0:
        return PageRankResult(ranks=g.vertices().select(
            "id", F.lit(0.0).alias("rank")), iterations=0)
    if num_blocks is None:
        num_blocks = 1 if n < MIN_PARALLELIZABLE else int(
            spark.sparkContext.defaultParallelism)
    num_blocks = max(1, min(int(num_blocks), n))
    shuffle_p = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))

    work = amend_sinks(g) if cfg.sink_mode == "reflect" else g

    # static split: chunk boundaries depend only on (n, num_blocks).
    # ``ew`` is persisted for the duration of the setup so the upstream
    # edge lineage (which may be an arbitrary join pipeline) is scanned
    # exactly ONCE — cross, internal, and the vertex base all derive from
    # the cached split input, then it is dropped. Block-keyed exchanges
    # cap their partition count at num_blocks (more partitions than
    # distinct keys is pure task overhead at any scale).
    ew = weighted_edges(work).select(
        "src", "dst", "w",
        block_of("src", n, num_blocks).alias("sblock"),
        block_of("dst", n, num_blocks).alias("dblock"),
    ).persist()
    block_p = max(1, min(shuffle_p, num_blocks))
    cross = (ew.where(F.col("sblock") != F.col("dblock"))
             .select("src", "dst", "w")
             .repartition(shuffle_p, "src").persist())
    internal = (ew.where(F.col("sblock") == F.col("dblock"))
                .select(F.col("dblock").alias("block"), "src", "dst", "w")
                .repartition(block_p, "block").persist())
    n_cross = cross.count()
    n_internal = internal.count()

    # has_out from the cached split input, not a fresh out_degrees scan
    # of the raw edge multiset: outdeg(v) > 0  <=>  v appears as a src
    base = (
        g.vertices()
        .join(ew.select(F.col("src").alias("id")).distinct()
              .withColumn("has_out", F.lit(True)), "id", "left")
        .select("id", F.coalesce("has_out", F.lit(False)).alias("has_out"),
                block_of("id", n, num_blocks).alias("block"))
        .repartition(shuffle_p, "id")
        .persist()
    )
    n_nonsink = base.where("has_out").count()
    ew.unpersist()
    d = cfg.damping
    dconst = (1.0 - d) / n_nonsink if n_nonsink else 0.0
    init = cfg.init_value if cfg.init_value is not None else 1.0 / n
    kernel = _make_block_kernel(d, dconst)
    out_schema = ("block long, id long, rank double, has_out boolean, "
                  "delta double")

    def step(ranks):
        # cross-block gather from sweep-start ranks (Jacobi across chunks)
        msgs = (
            cross
            .join(ranks.select(F.col("id").alias("src"), "rank"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum(F.col("w") * F.col("rank")).alias("ext"))
        )
        state = (
            ranks.join(msgs, "id", "left")
            .select("block", "id", "rank", "has_out",
                    F.coalesce("ext", F.lit(0.0)).alias("ext"))
        )
        swept = (
            state.groupBy("block")
            .cogroup(internal.groupBy("block"))
            .applyInPandas(kernel, schema=out_schema)
            .localCheckpoint(eager=True)
        )
        # per-vertex movement over the sweep == movement at update time,
        # i.e. the reference's threshold flag (PageRank.hs:49-52)
        res = swept.agg(F.sum("delta").alias("l1"),
                        F.max("delta").alias("linf")).first()
        return (swept.select("block", "id", "rank", "has_out"),
                float(res["l1"] or 0.0), float(res["linf"] or 0.0),
                n_cross + 2 * n,
                {"strategy": "gauss_seidel_block", "num_blocks": num_blocks,
                 "internal_edges": n_internal})

    # single buffer: the state AFTER the converging sweep (PageRank.hs:105)
    return iterate_ranks(
        "pagerank_async", cfg,
        base.select("block", "id", F.lit(float(init)).alias("rank"),
                    "has_out").localCheckpoint(eager=True),
        step,
        load=lambda df: base.join(df.select("id", "rank"), "id")
        .select("block", "id", "rank", "has_out").localCheckpoint(eager=True),
        save=lambda ranks: ranks.select("id", "rank"),
        release=(cross, internal, base))
