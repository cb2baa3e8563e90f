"""Distributed graph coloring — greedy / Jones-Plassmann / distance-2 /
speculative, as frontier fixed-point supersteps.

Reference semantics (all in /root/reference/graphcoloring/Data/Graph/
GraphColoring.hs):

- mex ``findSmallestPossibleColor`` (:229-241): smallest color >= 1 absent
  from the neighbor-color list (bitmap over 1..len; values > len ignored —
  equivalent to plain mex, see tests).
- greedy ``graphColoringGreedyInputOrder`` (:338-348): vertex-id order, mex
  over both-direction neighbors colored so far (i.e. neighbors u < v).
  Deterministic -> exact golden vectors (TestGraphColoring.hs:75-101).
- Jones-Plassmann ``jonesPlassmanSeq``/``color5`` (:277-317): u precedes v
  iff (priority[u], u) < (priority[v], v); vertex colored = mex over its
  predecessors once they are all colored. The fixed point is
  schedule-independent, so the distributed rounds below reproduce the
  sequential DFS exactly for a given priority vector.
- distance-2 ``graphColoring2Distance`` (:351-364): greedy in id order with
  mex over the <=2-hop neighborhood of the merged (undirected) graph.
- speculative ``graphColoringNonDeterministic`` (:366-409): optimistic
  color-all, then iterate "vertex conflicting with a higher-id equal-colored
  neighbor recolors to mex over its higher-id neighbors" until stable. Its
  phase 1 is schedule-dependent (thread chunks); on the reference's own test
  fixtures it lands on the greedy vectors (TestGraphColoringNonDet.hs), which
  our ``greedy_coloring`` reproduces exactly. ``speculative_coloring`` here
  keeps the scalable conflict-fix loop (the standard distributed recipe) and
  guarantees a *valid* coloring, not a specific vector.

All per-round work is Catalyst joins/aggs; the mex is a pure SQL array
expression (sequence/array_except/array_min) — no Python in the loop.

Fixed-point depth note (100 TB scale): greedy's round count is the longest
id-increasing path (can be deep on adversarial id orders); JP with hashed
priorities is the scale path (expected O(log n) rounds) — same loop, one
extra column.
"""

from __future__ import annotations

import time

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..plans.checkpoint import IterationMetrics
from ..plans.fixpoint import IterativeResult
from ..session import local_df
from .graph import Graph, invert


def mex_expr(colors_arr: Column) -> Column:
    """Smallest int >= 1 not present in the array column (findSmallest-
    PossibleColor, GraphColoring.hs:229-241). Empty/null array -> 1."""
    arr = F.coalesce(colors_arr, F.array())
    return F.coalesce(
        F.array_min(
            F.array_except(F.sequence(F.lit(1), F.size(arr) + 1), arr)
        ),
        F.lit(1),
    )


def _both_dir_edges(g: Graph, dedup: bool) -> DataFrame:
    e = g.edges.unionAll(invert(g.edges))
    return e.dropDuplicates(["src", "dst"]) if dedup else e


def _fixed_point_coloring(
    g: Graph,
    pred_edges: DataFrame,
    max_iters: int = 10_000,
    palette: int | None = None,
) -> IterativeResult:
    """Shared engine: ``pred_edges(src, dst)`` lists for each vertex ``src``
    its *predecessors* ``dst`` (the neighbors that must be colored first and
    whose colors feed the mex). Each round colors every uncolored vertex
    whose predecessors are all colored. Unique fixed point -> deterministic.

    ``palette``: cap the usable colors to 1..palette (bounded-palette
    ``graphColoring``, GraphColoring.hs:319-336). A vertex whose lower
    neighbors exhaust the palette can never be colored; the precedence DAG
    is acyclic, so an unbounded run always makes progress each round —
    a round with no progress therefore IS palette exhaustion, and raises.
    """
    spark = g.spark
    shuffle_p = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    pe = pred_edges.repartition(shuffle_p, "src").persist()
    n_pred_edges = pe.count()

    colors = g.vertices().select(
        "id", F.lit(None).cast("int").alias("color")
    )
    colors = colors.repartition(shuffle_p, "id").localCheckpoint(eager=True)
    metrics: list[IterationMetrics] = []
    it = 0
    remaining = g.num_vertices
    while remaining > 0 and it < max_iters:
        it += 1
        t0 = time.monotonic()
        # per-vertex predecessor status: total preds, colored preds, colors
        pred_state = (
            pe.join(
                colors.select(
                    F.col("id").alias("dst"), F.col("color").alias("pcolor")
                ),
                "dst",
            )
            .groupBy(F.col("src").alias("id"))
            .agg(
                F.count(F.lit(1)).alias("n_pred"),
                F.count("pcolor").alias("n_colored"),
                F.collect_list("pcolor").alias("pcolors"),
            )
        )
        joined = colors.join(pred_state, "id", "left")
        if palette is None:
            fresh = mex_expr(F.col("pcolors"))
        else:
            # bounded mex: smallest color in 1..palette absent from the
            # predecessor colors; NULL (stays uncolored) when exhausted
            fresh = F.array_min(F.array_except(
                F.sequence(F.lit(1), F.lit(int(palette))),
                F.coalesce(F.col("pcolors"), F.array()),
            ))
        new_colors = joined.select(
            "id",
            F.when(F.col("color").isNotNull(), F.col("color"))
            .when(
                F.coalesce("n_colored", F.lit(0))
                == F.coalesce("n_pred", F.lit(0)),
                fresh,
            )
            .otherwise(F.lit(None))
            .alias("color"),
        ).localCheckpoint(eager=False)
        prev_remaining = remaining
        remaining = new_colors.where(F.col("color").isNull()).count()
        if palette is not None and remaining == prev_remaining:
            pe.unpersist()
            raise RuntimeError(
                f"palette of {palette} colors exhausted with "
                f"{remaining} vertices uncolored (round {it})")
        metrics.append(IterationMetrics(
            iteration=it, l1_residual=float(remaining),
            linf_residual=float(1 if remaining else 0),
            rows_shuffled=n_pred_edges, wall_s=time.monotonic() - t0,
            extra={"uncolored": remaining},
        ))
        colors = new_colors
    pe.unpersist()
    if remaining > 0:
        raise RuntimeError(f"coloring did not reach fixed point in {it} rounds")
    return IterativeResult(df=colors, iterations=it, metrics=metrics)


def greedy_coloring(g: Graph) -> IterativeResult:
    """Exact graphColoringGreedyInputOrder (GraphColoring.hs:338-348):
    predecessors = both-direction neighbors with lower id. Duplicate edges
    are harmless to mex, but we dedup to shrink the join."""
    preds = _both_dir_edges(g, dedup=True).where(F.col("dst") < F.col("src"))
    return _fixed_point_coloring(g, preds)


def bounded_coloring(g: Graph, num_colors: int) -> IterativeResult:
    """Bounded-palette greedy coloring — the reference's ``graphColoring``
    (GraphColoring.hs:319-336, dead code there: no CLI path). Identical to
    ``greedy_coloring`` except the mex is restricted to 1..num_colors; the
    reference crashes (``head []``) when a vertex's lower-id neighbors use
    the whole palette, we raise RuntimeError. With num_colors >= max degree
    + 1 the bound can never bind, so the output equals greedy exactly."""
    if num_colors < 1:
        raise ValueError("num_colors must be >= 1")
    preds = _both_dir_edges(g, dedup=True).where(F.col("dst") < F.col("src"))
    return _fixed_point_coloring(g, preds, palette=num_colors)


def color_layout_1d(colors: DataFrame) -> DataFrame:
    """Flat color-bucket layout — the reference's ``getGraphColoring1D'``
    (GraphColoring.hs:101-130, dead code there): vertices permuted so each
    color's bucket is one contiguous run, plus per-color (start, length)
    offsets into that permutation. The reference's intra-bucket order is
    unspecified (unstable introsort over (id, color)); we fix it to
    ascending id for determinism.

    One row per vertex: (id, color, pos, start, length) — ``pos`` is the
    vertex's slot in the permutation, (start, length) its color's run.
    Scale shape: NO global sort/window — per-color sizes (|colors| rows)
    are cumulative-summed on the driver and broadcast back; ``pos`` is then
    start + rank-within-color, a window partitioned BY COLOR (each color's
    rank is computed where its rows already live after the hash shuffle)."""
    spark = colors.sparkSession
    sizes = (colors.groupBy("color").agg(F.count(F.lit(1)).alias("length"))
             .orderBy("color").collect())
    starts, acc = [], 0
    for r in sizes:
        starts.append((r["color"], acc, r["length"]))
        acc += r["length"]
    offsets = local_df(spark, starts, "color int, start long, length long")
    w = Window.partitionBy("color").orderBy("id")
    return (
        colors.withColumn("rk", F.row_number().over(w) - 1)
        .join(F.broadcast(offsets), "color")
        .select("id", "color", (F.col("start") + F.col("rk")).alias("pos"),
                "start", "length")
    )


def jones_plassmann(
    g: Graph,
    priorities: DataFrame | None = None,
    seed: int = 42,
) -> IterativeResult:
    """Exact jonesPlassmanSeq fixed point (GraphColoring.hs:277-317).

    ``priorities``: (id, priority) DataFrame; None -> deterministic hashed
    priorities xxhash64(id, seed) (reproducible across retries/resumes,
    unlike rand()). Predecessor rule: (pri[u], u) < (pri[v], v).
    """
    if priorities is None:
        priorities = g.vertices().select(
            "id", F.xxhash64(F.col("id"), F.lit(seed)).alias("priority")
        )
    e = _both_dir_edges(g, dedup=True)
    pe = (
        e.join(priorities.withColumnRenamed("id", "src")
               .withColumnRenamed("priority", "spri"), "src")
        .join(priorities.withColumnRenamed("id", "dst")
              .withColumnRenamed("priority", "dpri"), "dst")
        .where(
            (F.col("dpri") < F.col("spri"))
            | ((F.col("dpri") == F.col("spri")) & (F.col("dst") < F.col("src")))
        )
        .select("src", "dst")
    )
    return _fixed_point_coloring(g, pe)


def distance2_coloring(g: Graph) -> IterativeResult:
    """Exact graphColoring2Distance (GraphColoring.hs:351-364) over the
    merged undirected graph (mergeEdgeGraphs — the form the reference tests
    use, TestGraphColoring2Dist.hs:20): greedy id-order mex over the <=2-hop
    neighborhood. 2-hop = one self-join of the simple edge set."""
    e = _both_dir_edges(g, dedup=True)
    two_hop = (
        e.alias("a")
        .join(e.alias("b"), F.col("a.dst") == F.col("b.src"))
        .select(F.col("a.src").alias("src"), F.col("b.dst").alias("dst"))
        .where(F.col("src") != F.col("dst"))
    )
    near = e.unionAll(two_hop).dropDuplicates(["src", "dst"])
    preds = near.where(F.col("dst") < F.col("src"))
    return _fixed_point_coloring(g, preds)


def speculative_coloring(g: Graph, max_iters: int = 500) -> IterativeResult:
    """Scalable speculative coloring (conflict-fix loop of
    graphColoringNonDeterministic, GraphColoring.hs:392-409): color all
    vertices optimistically, then per round every vertex whose color equals
    a *higher-id* neighbor's recolors to mex over its higher-id neighbors.
    Highest ids stabilize first -> terminates in <= |V| rounds (fast in
    practice). Produces a valid coloring; vector-level reference parity is
    via greedy_coloring (see module docstring)."""
    spark = g.spark
    shuffle_p = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    # per vertex: higher-id neighbors (both directions, deduped)
    higher = (
        _both_dir_edges(g, dedup=True)
        .where(F.col("dst") > F.col("src"))
        .repartition(shuffle_p, "src")
        .persist()
    )
    n_rows = higher.count()
    colors = g.vertices().select("id", F.lit(1).alias("color"))
    colors = colors.repartition(shuffle_p, "id").localCheckpoint(eager=True)

    metrics: list[IterationMetrics] = []
    it = 0
    while it < max_iters:
        it += 1
        t0 = time.monotonic()
        nbr_state = (
            higher.join(
                colors.select(
                    F.col("id").alias("dst"), F.col("color").alias("ncolor")
                ),
                "dst",
            )
            .groupBy(F.col("src").alias("id"))
            .agg(F.collect_list("ncolor").alias("ncolors"))
        )
        joined = colors.join(nbr_state, "id", "left")
        new_colors = joined.select(
            "id",
            F.when(
                F.array_contains(
                    F.coalesce("ncolors", F.array()), F.col("color")
                ),
                mex_expr(F.col("ncolors")),
            )
            .otherwise(F.col("color"))
            .alias("color"),
            F.array_contains(
                F.coalesce("ncolors", F.array()), F.col("color")
            ).alias("_changed"),
        ).localCheckpoint(eager=False)
        n_changed = new_colors.where("_changed").count()
        new_colors = new_colors.select("id", "color")
        metrics.append(IterationMetrics(
            iteration=it, l1_residual=float(n_changed),
            linf_residual=float(1 if n_changed else 0),
            rows_shuffled=n_rows, wall_s=time.monotonic() - t0,
            extra={"conflicts": n_changed},
        ))
        colors = new_colors
        if n_changed == 0:
            break
    higher.unpersist()
    return IterativeResult(df=colors, iterations=it, metrics=metrics)


def maximal_independent_set(
    g: Graph,
    priorities: DataFrame | None = None,
    seed: int = 42,
    max_iters: int = 10_000,
) -> IterativeResult:
    """Luby-style maximal independent set (Luby, SIAM J. Comput. 1986) with
    DETERMINISTIC priorities: per round every undecided vertex that precedes
    all of its undecided neighbors — (pri[v], v) < (pri[u], u), the same
    total order as :func:`jones_plassmann` — enters the MIS, and its
    neighbors leave the game. With a fixed priority vector the fixpoint is
    schedule-independent and equals BOTH the sequential greedy MIS in
    priority order AND the color-1 class of the Jones–Plassmann coloring
    under the same priorities (a vertex gets color 1 iff no predecessor got
    color 1 iff no predecessor is in the greedy MIS — induction over the
    precedence DAG). pytest checks all three agree; the DuckDB gate twin
    reuses the JP twin through that theorem (sql_twins.mis_sql).

    Scale shape: per round one semi-join to find beaten vertices + one
    neighbor expansion of the new winners; the active vertex/edge sets
    shrink geometrically (each round removes every current local minimum
    and its whole neighborhood — expected O(log n) rounds with hashed
    priorities). No Python in the loop; active sets are localCheckpointed
    so lineage stays flat.

    Returns (id, in_mis int 1/0) for every vertex.
    """
    spark = g.spark
    shuffle_p = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    if priorities is None:
        priorities = g.vertices().select(
            "id", F.xxhash64(F.col("id"), F.lit(seed)).alias("priority")
        )
    und = _both_dir_edges(g, dedup=True)
    # attach both endpoint priorities once; the loop only shrinks this set
    active = (
        und.join(priorities.withColumnRenamed("id", "src")
                 .withColumnRenamed("priority", "spri"), "src")
        .join(priorities.withColumnRenamed("id", "dst")
              .withColumnRenamed("priority", "dpri"), "dst")
        .select("src", "dst", "spri", "dpri")
        .repartition(shuffle_p, "src")
        .localCheckpoint(eager=True)
    )
    undecided = priorities.select("id").repartition(shuffle_p, "id") \
        .localCheckpoint(eager=True)
    remaining = undecided.count()

    mis_parts: list[DataFrame] = []
    metrics: list[IterationMetrics] = []
    it = 0
    while remaining > 0 and it < max_iters:
        it += 1
        t0 = time.monotonic()
        n_active_edges = active.count()
        # vertex src is beaten iff some undecided neighbor dst precedes it
        beaten = active.where(
            (F.col("dpri") < F.col("spri"))
            | ((F.col("dpri") == F.col("spri"))
               & (F.col("dst") < F.col("src")))
        ).select(F.col("src").alias("id")).dropDuplicates(["id"])
        winners = undecided.join(beaten, "id", "left_anti") \
            .localCheckpoint(eager=True)
        n_new = winners.count()
        if n_new == 0:  # cannot happen: the global minimum always wins
            raise RuntimeError(
                f"MIS round {it} made no progress with {remaining} "
                "undecided vertices")
        mis_parts.append(winners)
        # winners' neighbors are excluded; winners themselves are decided
        excluded = (
            active.join(winners.withColumnRenamed("id", "src"), "src")
            .select(F.col("dst").alias("id")).dropDuplicates(["id"])
        )
        undecided = (
            undecided.join(winners, "id", "left_anti")
            .join(excluded, "id", "left_anti")
            .localCheckpoint(eager=True)
        )
        remaining = undecided.count()
        # shrink the active edge set to undecided x undecided
        active = (
            active.join(undecided.withColumnRenamed("id", "src"),
                        "src", "left_semi")
            .join(undecided.withColumnRenamed("id", "dst"),
                  "dst", "left_semi")
            .localCheckpoint(eager=True)
        )
        metrics.append(IterationMetrics(
            iteration=it, l1_residual=float(remaining),
            linf_residual=float(1 if remaining else 0),
            rows_shuffled=n_active_edges, wall_s=time.monotonic() - t0,
            extra={"new_mis": n_new, "undecided": remaining},
        ))

    mis = mis_parts[0]
    for part in mis_parts[1:]:
        mis = mis.unionAll(part)
    out = g.vertices().join(
        mis.withColumn("in_mis", F.lit(1)), "id", "left"
    ).select("id", F.coalesce("in_mis", F.lit(0)).alias("in_mis"))
    return IterativeResult(df=out, iterations=it, metrics=metrics)


def maximal_matching(
    g: Graph,
    priority_col: Column | None = None,
    seed: int = 42,
    max_iters: int = 10_000,
) -> IterativeResult:
    """Deterministic greedy maximal matching — the edge-side sibling of
    :func:`maximal_independent_set` (locally-lowest-key selection = Luby on
    the line graph; Israeli & Itai's classic distributed matching shape).
    Per round every active canonical edge whose (priority, src, dst) key is
    the minimum at BOTH endpoints enters the matching; all edges touching a
    matched vertex retire. The globally-minimal active edge always wins, so
    rounds <= matching size; with hashed priorities the active set shrinks
    geometrically (expected O(log n) rounds). The fixpoint equals the
    sequential greedy over edges in (priority, src, dst) order — the
    NumPy-oracle and DuckDB-twin contract (sql_twins.matching_sql).

    ``priority_col``: expression over columns ``src``/``dst`` of the
    canonical (src < dst) edge; None -> xxhash64(src, dst, seed). All
    per-round work is two semi-join shrinks + one map-side-combinable
    struct-min agg; no Python in the loop. (The lexicographic struct min
    plans as SortAggregate — partial agg still bounds the shuffle at |V|
    rows; see explain_audit.py §24 for why this beats the staged
    all-scalar-hash alternative.)

    Returns matched canonical edges (src, dst).
    """
    spark = g.spark
    shuffle_p = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    if priority_col is None:
        priority_col = F.xxhash64(F.col("src"), F.col("dst"), F.lit(seed))
    canon = (
        _both_dir_edges(g, dedup=True)
        .where(F.col("src") < F.col("dst"))
        .withColumn("pri", priority_col)
        .withColumn("key", F.struct("pri", "src", "dst"))
        .repartition(shuffle_p, "src")
        .localCheckpoint(eager=True)
    )
    active = canon
    n_active = active.count()
    matched_parts: list[DataFrame] = []
    metrics: list[IterationMetrics] = []
    it = 0
    while n_active > 0 and it < max_iters:
        it += 1
        t0 = time.monotonic()
        inc = active.select(F.col("src").alias("vid"), "key").unionAll(
            active.select(F.col("dst").alias("vid"), "key"))
        best = inc.groupBy("vid").agg(F.min("key").alias("bkey"))
        winners = (
            active
            .join(best.withColumnRenamed("vid", "src"), "src")
            .where(F.col("key") == F.col("bkey")).drop("bkey")
            .join(best.withColumnRenamed("vid", "dst"), "dst")
            .where(F.col("key") == F.col("bkey"))
            .select("src", "dst")
            .localCheckpoint(eager=True)
        )
        n_new = winners.count()
        if n_new == 0:  # impossible: the global minimum edge always wins
            raise RuntimeError(
                f"matching round {it} made no progress with {n_active} "
                "active edges")
        matched_parts.append(winners)
        mv = winners.select(F.col("src").alias("vid")).unionAll(
            winners.select(F.col("dst").alias("vid"))).dropDuplicates(["vid"])
        active = (
            active.join(mv.withColumnRenamed("vid", "src"),
                        "src", "left_anti")
            .join(mv.withColumnRenamed("vid", "dst"), "dst", "left_anti")
            .localCheckpoint(eager=True)
        )
        prev_active = n_active
        n_active = active.count()
        metrics.append(IterationMetrics(
            iteration=it, l1_residual=float(n_active),
            linf_residual=float(1 if n_active else 0),
            rows_shuffled=prev_active, wall_s=time.monotonic() - t0,
            extra={"new_matched": n_new, "active_edges": n_active},
        ))
    out = matched_parts[0] if matched_parts else canon.select(
        "src", "dst").limit(0)
    for part in matched_parts[1:]:
        out = out.unionAll(part)
    return IterativeResult(df=out.select("src", "dst"),
                           iterations=it, metrics=metrics)


def color_buckets(colors: DataFrame) -> DataFrame:
    """color -> sorted vertex bucket (getGraphColoring/2/4,
    GraphColoring.hs:62-99) — groupBy + collect_list."""
    return colors.groupBy("color").agg(
        F.array_sort(F.collect_list("id")).alias("vertex_ids")
    )


def color_counts(colors: DataFrame) -> DataFrame:
    """(color, n) — getCounts (GraphColoring.hs:132-139)."""
    return colors.groupBy("color").agg(F.count(F.lit(1)).alias("n"))


def num_colors(colors: DataFrame) -> int:
    """max color (GraphColoring.hs:65,82,99,130)."""
    row = colors.agg(F.max("color").alias("m")).first()
    return int(row["m"]) if row and row["m"] is not None else 0


def validate_coloring(g: Graph, colors: DataFrame) -> int:
    """Number of monochromatic edges (0 = valid) — the SURVEY §5.3
    invariant check."""
    e = _both_dir_edges(g, dedup=True)
    c_src = colors.select(F.col("id").alias("src"), F.col("color").alias("c1"))
    c_dst = colors.select(F.col("id").alias("dst"), F.col("color").alias("c2"))
    return (
        e.join(c_src, "src").join(c_dst, "dst")
        .where(F.col("c1") == F.col("c2"))
        .count()
    )
