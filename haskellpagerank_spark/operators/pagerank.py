"""Distributed PageRank — the engine's flagship iterative kernel.

One superstep is the Catalyst-native pattern

    messages = weighted_edges JOIN ranks ON src == id
               GROUP BY dst -> SUM(w * rank)
    new_rank = f(messages)          (per sink_mode, see below)

entirely inside whole-stage codegen: no Python in the hot path.

Every PageRank tier (this join path, CSR SpMV in pagerank_csr.py, the
driver-local numpy tier in pagerank_local.py, block Gauss–Seidel in
pagerank_async.py and per-colour Gauss–Seidel in pagerank_pp.py) hands one
sweep to the fixpoint driver, plans/fixpoint.py, through
``iterate_ranks``, which reads the policy from ``PageRankConfig``.

Two semantic modes (SURVEY.md §2.11):

- ``sink_mode="reflect"`` — reference-exact Jacobi (PageRankStep.hs:22-110):
  sinks get their in-edges reflected back (amendSinks, EdgeArray.hs:103-116),
  isolated vertices are pinned to rank 0 (PageRank.hs:35), the damping factor
  multiplies the link sum with (1-d)/n_nonsink teleport, convergence is
  L-infinity with strict >, and on convergence the PREVIOUS iterate is
  returned (PageRankStep.hs:90). Default d=0.15 (InternalPageRank.hs:23-24).

- ``sink_mode="redistribute"`` — web-scale default per BASELINE.json:
  standard Brin-Page with d=0.85 and dangling-node mass redistributed
  uniformly; rank sums to 1 at every iteration.

Scale design (100 TB / 1000-executor reading of this code):
- duplicate edges are collapsed once into (src, dst, w=cnt/outdeg) — the
  per-iteration join input is the *distinct* edge set;
- the weighted edge table is hash-partitioned by src and persisted, so each
  superstep shuffles only the rank vector (|V| rows) to the edge layout plus
  the partially-aggregated messages (map-side combine reduces the groupBy
  input from |E| to <= |V| rows per partition before the exchange);
- AQE skew-join splitting handles hub sources; high-degree dst skew is
  absorbed by partial aggregation;
- lineage is truncated every iteration (localCheckpoint) and durably every
  ``checkpoint_interval`` iterations (parquet + manifest -> resumable).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.checkpoint import IterationMetrics
from ..plans.fixpoint import iterate
from .graph import Graph, amend_sinks, out_degrees


@dataclass
class PageRankConfig:
    damping: float = 0.85          # multiplies the link sum (reference: 0.15)
    tol: float = 1e-6              # convergence threshold
    tol_norm: str = "linf"         # "linf" (reference) or "l1" (bench gate)
    init_value: float | None = None  # None -> 1/num_vertices (Main.hs:138)
    num_iters: int = 0             # 0 -> run to convergence (Main.hs:142)
    sink_mode: str = "redistribute"  # "reflect" | "redistribute" | "none"
    return_previous_on_converge: bool = False  # PageRankStep.hs:90 quirk
    max_iters: int = 200
    checkpoint_dir: str | None = None
    checkpoint_interval: int = 5


def reference_config(**overrides) -> PageRankConfig:
    """Reference-matching Jacobi settings (tests use init 1.0, eps 1e-4 —
    TestPageRankStep.hs; CLI uses init 1/n, eps 1e-6 — Main.hs:58-59,138)."""
    cfg = PageRankConfig(
        damping=0.15,
        tol=1e-4,
        tol_norm="linf",
        init_value=1.0,
        num_iters=0,
        sink_mode="reflect",
        return_previous_on_converge=True,
    )
    for k, v in overrides.items():
        setattr(cfg, k, v)
    return cfg


@dataclass
class PageRankResult:
    ranks: DataFrame               # (id long, rank double)
    iterations: int
    metrics: list[IterationMetrics] = field(default_factory=list)


def weighted_edges(g: Graph) -> DataFrame:
    """Collapse the edge multiset to (src, dst, w) with w = multiplicity /
    outdeg(src). SUM(w * rank(src)) over in-edges then equals the reference's
    duplicate-aware gather (PageRankStep.hs:38-42)."""
    counts = g.edges.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("cnt"))
    # derive degrees from the deduped counts — one pass over the raw edge
    # multiset instead of two (the second agg reads |unique pairs| rows)
    deg = counts.groupBy("src").agg(F.sum("cnt").alias("deg"))
    return counts.join(deg, "src").select(
        "src", "dst", (F.col("cnt") / F.col("deg")).alias("w")
    )


def iterate_ranks(name: str, cfg: PageRankConfig, state, step, load, save,
                  release=(), return_previous: bool = False
                  ) -> PageRankResult:
    """Run a PageRank tier's sweep under ``plans.fixpoint.iterate`` with
    ``cfg``'s policy: ``num_iters > 0`` runs exactly that many sweeps; 0
    runs until the ``tol_norm`` residual is <= ``tol`` (the reference's
    shared threshold flag, PageRank.hs:49-52), raising after
    ``max_iters``. Snapshots and results are (id, rank) relations."""
    res = iterate(
        name, state, step, save, load=load, columns=("id", "rank"),
        max_iters=cfg.num_iters or cfg.max_iters,
        tol=None if cfg.num_iters else cfg.tol, norm=cfg.tol_norm,
        must_converge=cfg.num_iters == 0, return_previous=return_previous,
        checkpoint_dir=cfg.checkpoint_dir,
        checkpoint_interval=cfg.checkpoint_interval, release=release)
    return PageRankResult(res.df, res.iterations, res.metrics)


def rank_residual(new: DataFrame, old: DataFrame) -> tuple[float, float]:
    """(L1, L∞) of new - old over two (id, rank) relations: one job."""
    res = (
        new.alias("n").join(old.alias("o"), "id")
        .agg(
            F.sum(F.abs(F.col("n.rank") - F.col("o.rank"))).alias("l1"),
            F.max(F.abs(F.col("n.rank") - F.col("o.rank"))).alias("linf"),
        )
        .first()
    )
    return float(res["l1"] or 0.0), float(res["linf"] or 0.0)


def run_pagerank(g: Graph, cfg: PageRankConfig | None = None,
                 init_ranks: DataFrame | None = None) -> PageRankResult:
    """Join-path PageRank: one Spark job per superstep + one scalar
    residual agg, iterated by ``iterate_ranks``.

    The per-iteration driver round-trip (residual collect) replaces the
    reference's shared IORef convergence flag (PageRank.hs:49-52).

    ``init_ranks`` ((id, rank), e.g. the previous converged state after an
    ingest batch) warm-starts the iteration — vertices absent from it get
    ``cfg.init_value``; power iteration converges from any start, so the
    result is the same fixpoint in far fewer sweeps.
    """
    cfg = cfg or PageRankConfig()
    spark = g.spark
    n_total = g.num_vertices
    if n_total == 0:
        return PageRankResult(ranks=g.vertices().select(
            "id", F.lit(0.0).alias("rank")), iterations=0)

    work = amend_sinks(g) if cfg.sink_mode == "reflect" else g
    shuffle_p = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))

    # static per-run tables, partitioned once and persisted
    ew = weighted_edges(work).repartition(shuffle_p, "src").persist()
    n_edges = ew.count()  # materialize; also the rows-shuffled estimate
    base = (
        out_degrees(work)
        .select("id", (F.col("deg") > 0).alias("has_out"))
        .repartition(shuffle_p, "id")
        .persist()
    )
    n_nonsink = base.where("has_out").count()

    d = cfg.damping
    init = cfg.init_value if cfg.init_value is not None else 1.0 / n_total
    dconst = (1.0 - d) / n_nonsink if n_nonsink else 0.0

    if init_ranks is not None:
        ranks = (
            base.join(init_ranks.select("id", F.col("rank").alias("_r0")),
                      "id", "left")
            .select("id", F.coalesce("_r0", F.lit(float(init))).alias("rank"))
            .repartition(shuffle_p, "id")
        )
    else:
        ranks = base.select("id", F.lit(float(init)).alias("rank"))

    def step(ranks):
        # lazy: the residual aggregation materializes + caches it,
        # truncating lineage without an extra job
        new_ranks = _superstep(ew, base, ranks, d, dconst, n_total,
                               cfg.sink_mode).localCheckpoint(eager=False)
        return (new_ranks, *rank_residual(new_ranks, ranks),
                n_edges + 2 * n_total, {})

    return iterate_ranks(
        "pagerank", cfg, ranks.localCheckpoint(eager=True), step,
        load=lambda df: df.repartition(shuffle_p, "id")
        .localCheckpoint(eager=True),
        save=lambda ranks: ranks, release=(ew, base),
        return_previous=cfg.return_previous_on_converge)


def _superstep(ew: DataFrame, base: DataFrame, ranks: DataFrame,
               d: float, dconst: float, n_total: int,
               sink_mode: str) -> DataFrame:
    """One power-iteration sweep as a join + partial-agg + final-agg plan."""
    msgs = (
        ew.join(ranks.withColumnRenamed("id", "src"), "src")
        .groupBy(F.col("dst").alias("id"))
        .agg(F.sum(F.col("w") * F.col("rank")).alias("msg"))
    )
    joined = base.join(msgs, "id", "left").select(
        "id", "has_out", F.coalesce("msg", F.lit(0.0)).alias("msg")
    )
    if sink_mode == "redistribute":
        # dangling mass of the PREVIOUS iterate, redistributed uniformly —
        # folded into the plan as a broadcast 1-row scalar so the whole
        # superstep (join + agg + dangling + blend) is a single job
        dangling = (
            ranks.join(base.where(~F.col("has_out")), "id")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dang"))
        )
        return joined.crossJoin(F.broadcast(dangling)).select(
            "id",
            (
                F.lit((1.0 - d) / n_total)
                + F.lit(d) * (F.col("msg") + F.col("_dang") / F.lit(float(n_total)))
            ).alias("rank"),
        )
    # reflect / none: reference formula; outdeg==0 -> rank 0 (PageRank.hs:35)
    return joined.select(
        "id",
        F.when(~F.col("has_out"), F.lit(0.0))
        .otherwise(F.lit(dconst) + F.lit(d) * F.col("msg"))
        .alias("rank"),
    )


def top_k(ranks: DataFrame, k: int = 20) -> DataFrame:
    """Top-k vertices by rank (deterministic tie-break on id)."""
    return ranks.orderBy(F.desc("rank"), F.asc("id")).limit(k)


def run_pagerank_weighted_table(edges: DataFrame,
                                damping: float = 0.85,
                                num_iters: int = 10,
                                src_col: str = "src", dst_col: str = "dst",
                                weight_col: str = "weight") -> DataFrame:
    """PageRank over an arbitrary weighted edge table — vertices keyed by
    ANY join-able type (e.g. host strings from the domain rollup), no
    dense-id contract. Transition weight = weight / Σ weight out of src;
    uniform teleport; dangling mass redistributed uniformly. Fixed-sweep,
    deterministic. Returns (vertex, rank).

    The host-rank composition: roll the url graph up to hosts (weight =
    link count), then rank hosts — the standard web-scale move before
    per-url analytics. Each sweep is run_pagerank's redistribute
    ``_superstep`` over the normalized edge table, which stays in its
    join-produced layout (no repartition)."""
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst"),
        F.col(weight_col).cast("double").alias("w"),
    ).where(F.col("src") != F.col("dst"))
    out_w = e.groupBy("src").agg(F.sum("w").alias("ow"))
    wn = e.join(out_w, "src").select(
        "src", "dst", (F.col("w") / F.col("ow")).alias("w")).persist()
    n_edges = wn.count()
    verts = (
        e.select(F.col("src").alias("id"))
        .unionAll(e.select(F.col("dst").alias("id")))
        .dropDuplicates()
        .join(out_w.select(F.col("src").alias("id"),
                           F.lit(True).alias("has_out")), "id", "left")
        .select("id", F.coalesce("has_out", F.lit(False)).alias("has_out"))
        .persist()
    )
    n = verts.count()

    def step(ranks):
        new = _superstep(wn, verts, ranks, damping, 0.0, n, "redistribute") \
            .localCheckpoint(eager=True)
        return new, 0.0, 0.0, n_edges + 2 * n, {}

    ranks = verts.select("id", F.lit(1.0 / n).alias("rank")) \
        .localCheckpoint(eager=True)
    return iterate(
        "pagerank_weighted_table", ranks, step,
        save=lambda ranks: ranks.withColumnRenamed("id", "vertex"),
        max_iters=num_iters, tol=None, release=(wn, verts)).df
