"""Distributed per-color Gauss–Seidel PageRank — the reference's pagerankPP.

Reference semantics (pagerank/Data/Graph/PageRankWithPreprocessing.hs):
``graphLoopIO`` (:170-209) sweeps the color groups of a proper coloring in
ascending color order; within a group, ``vertexLoopIO`` (:75-102) updates
every vertex *in place* from the CURRENT rank array —

    x_v = dConst + d * sum_{u -> v} x_u / outdeg_u        (Gauss–Seidel)

with dConst = (1-d)/n_nonsink over the amended graph (:268-294), vertices
with no out-edges pinned to 0 (:88), convergence when no vertex moved by
more than ``threshold`` during a full sweep, and the buffer AFTER the final
sweep returned (single buffer, unlike Jacobi's previous-iterate quirk).
The fixpoint driver (plans/fixpoint.py) runs the loop with
``return_previous=False``.

Why the coloring makes this distributable: same-colored vertices are
non-adjacent, so their in-neighborhoods never include each other — updating
a whole color class *simultaneously* is bit-equivalent to updating it
sequentially. The reference exploits exactly this to run each color group
on its thread gang (:190-203); the BSP analogue is one filtered
join-aggregate sub-superstep per color:

    for color c in 1..C:
        msgs_c = edges[dst.color = c] JOIN ranks ON src -> SUM(w * rank)
        ranks  = ranks with color-c rows replaced by f(msgs_c)

Gauss–Seidel converges in roughly half the sweeps of Jacobi; the price is
C sub-supersteps per sweep instead of one. With JP/greedy colorings C is
small (max degree bound), and each sub-superstep shuffles only the
in-edges of one color class — the per-sweep shuffle volume stays |E|.

Scale notes: the weighted edge set is pre-partitioned by color once
(persisted with a ``dcolor`` column), so the per-color filter is a
partition-pruned scan, not a re-shuffle; each color step localCheckpoints
lazily and the sweep-end residual aggregation materializes the chain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .coloring import greedy_coloring
from .graph import Graph, amend_sinks, out_degrees
from .pagerank import (PageRankConfig, PageRankResult, iterate_ranks,
                       rank_residual, weighted_edges)


def run_pagerank_pp(g: Graph, cfg: PageRankConfig | None = None,
                    colors: DataFrame | None = None) -> PageRankResult:
    """Per-color Gauss–Seidel PageRank (see module docstring).

    ``colors``: (id, color) proper coloring of the graph; None -> greedy
    input-order coloring (the reference test harness uses Jones–Plassmann
    with priority = vertex id, which IS greedy input order —
    TestPageRankPP.hs:31-34). amendSinks only reverses existing edges, so
    a coloring of g is valid for the amended graph too.
    """
    cfg = cfg or PageRankConfig(damping=0.15, tol=1e-4, sink_mode="reflect")
    if cfg.sink_mode == "redistribute":
        raise ValueError("pagerankPP implements the reference's "
                         "amended-graph semantics; use reflect/none")
    spark = g.spark
    n = g.num_vertices
    if n == 0:
        return PageRankResult(ranks=g.vertices().select(
            "id", F.lit(0.0).alias("rank")), iterations=0)

    work = amend_sinks(g) if cfg.sink_mode == "reflect" else g
    shuffle_p = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))

    if colors is None:
        colors = greedy_coloring(work).df
    colors = colors.repartition(shuffle_p, "id").persist()
    color_list = [int(r["color"]) for r in
                  colors.select("color").distinct().orderBy("color").collect()]

    # weighted edges tagged with the DESTINATION's color — one join at
    # build time — then SPLIT into one persisted table per color class: a
    # sub-superstep scans only its own color's in-edges, so a full sweep
    # reads |E| rows total. (A single cached table with a `.where(dcolor=c)`
    # filter would re-scan all cached partitions once per color —
    # C x |E| per sweep, the difference between fine and fatal at C ~ 50
    # on a 100 TB edge set.)
    ewc = (
        weighted_edges(work)
        .join(colors.select(F.col("id").alias("dst"),
                            F.col("color").alias("dcolor")), "dst")
        .repartition(shuffle_p, "src")
        .persist()
    )
    n_edges = ewc.count()
    ew_by_color = {
        c: ewc.where(F.col("dcolor") == c)
        .select("src", "dst", "w").persist()
        for c in color_list
    }

    base = (
        out_degrees(work)
        .select("id", (F.col("deg") > 0).alias("has_out"))
        .join(colors, "id")
        .repartition(shuffle_p, "id")
        .persist()
    )
    n_nonsink = base.where("has_out").count()
    d = cfg.damping
    dconst = (1.0 - d) / n_nonsink if n_nonsink else 0.0
    init = cfg.init_value if cfg.init_value is not None else 1.0 / n

    def step(ranks):
        sweep_start = ranks
        for c in color_list:
            msgs = (
                ew_by_color[c]
                .join(ranks.select(F.col("id").alias("src"), "rank"), "src")
                .groupBy(F.col("dst").alias("id"))
                .agg(F.sum(F.col("w") * F.col("rank")).alias("msg"))
            )
            ranks = (
                ranks.join(msgs, "id", "left")
                .select(
                    "id", "color", "has_out",
                    F.when(F.col("color") != c, F.col("rank"))
                    .when(~F.col("has_out"), F.lit(0.0))
                    .otherwise(F.lit(dconst)
                               + F.lit(d) * F.coalesce("msg", F.lit(0.0)))
                    .alias("rank"),
                )
                .localCheckpoint(eager=False)
            )
        # per-vertex movement over the FULL sweep == movement at its own
        # update time (each vertex updates exactly once per sweep), i.e.
        # exactly the reference's isAboveThreshold flag
        return (ranks, *rank_residual(ranks, sweep_start),
                n_edges + len(color_list) * n,
                {"strategy": "gauss_seidel_pp", "colors": len(color_list)})

    # snapshots carry (id, rank); color/has_out are rebuilt from the
    # (deterministic) coloring + degree tables on resume. Single buffer:
    # the state AFTER the converging sweep (no previous-iterate quirk).
    return iterate_ranks(
        "pagerank_pp", cfg,
        base.select(
            "id", "color", "has_out",
            F.when(F.col("has_out"), F.lit(float(init)))
            .otherwise(F.lit(0.0)).alias("rank"),
        ).localCheckpoint(eager=True),
        step,
        load=lambda df: base.join(df.select("id", "rank"), "id")
        .select("id", "color", "has_out", "rank")
        .repartition(shuffle_p, "id").localCheckpoint(eager=True),
        save=lambda ranks: ranks.select("id", "rank"),
        release=(ewc, base, colors, *ew_by_color.values()))
