"""Connected components and label propagation — iterative superstep kernels.

Each tier here hands one superstep to the fixpoint driver
(plans/fixpoint.py), which owns resume, the sweep budget, the stopping test
(no label changed), snapshots and the release of the persisted edge set.
Min-label CC and LP return the partial labels at their budget, the last
metrics record carrying ``changed`` != 0. The reference itself has no
CC/LP; they are north-rule scope (BASELINE.json: "connected components
(iterative min-label hash-partitioned propagation), label propagation").

Scale design:
- the undirected simple edge set is computed once, hash-partitioned by src,
  and persisted — each iteration shuffles only the |V|-row label table;
- min-label propagation uses a **frontier**: after the first sweep only
  vertices whose label changed last round send messages (semi-naive
  evaluation, the prism pattern) — on web graphs the active set collapses
  after a few rounds while the diameter tail keeps running;
- map-side partial aggregation (min/count per dst per partition) bounds the
  shuffle at <= |V| rows per partition regardless of skew; AQE splits any
  residual skewed reduce partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.checkpoint import IterationMetrics
from ..plans.fixpoint import IterativeResult, iterate
from .graph import Graph, undirected_simple_edges


def _by_id(labels: DataFrame, shuffle_p: int) -> DataFrame:
    return labels.repartition(shuffle_p, "id").localCheckpoint(eager=True)


def connected_components(
    g: Graph,
    max_iters: int = 200,
    checkpoint_dir: str | None = None,
    checkpoint_interval: int = 5,
) -> IterativeResult:
    """Undirected CC by iterative min-label propagation with a change
    frontier. Returns (id, component) where component = min vertex id in the
    component — the invariant the tests assert (SURVEY.md §5.3).
    """
    shuffle_p = int(g.spark.conf.get("spark.sql.shuffle.partitions", "32"))
    edges = undirected_simple_edges(g).repartition(shuffle_p, "src").persist()
    labels = _by_id(g.vertices().select("id", F.col("id").alias("component")),
                    shuffle_p)
    # frontier: vertices whose label changed last round (all, initially)
    return _min_label(edges, labels, labels, max_iters, checkpoint_dir,
                      checkpoint_interval)


def connected_components_incremental(
    g: Graph,
    prev_labels: DataFrame,
    max_iters: int = 200,
    checkpoint_dir: str | None = None,
    checkpoint_interval: int = 5,
) -> IterativeResult:
    """CC over an *updated* graph, warm-started from the previous converged
    labels — the components analogue of prism/maintain_ranks.

    Min-label propagation from any labeling converges to per-vertex
    ``min over its component of the initial labels``; starting from the old
    converged labels (each = min id of its old component) that minimum IS
    the min id of the new component, so the fixpoint is exact. Edges can
    only be *added* between runs (a crawl never deletes links from the edge
    sink); deletions require a cold recompute.

    The initial frontier is derived, not supplied: only edges whose
    endpoints *disagree* under ``prev_labels`` can trigger any change, so
    one |E| scan seeds the frontier with exactly those endpoints (plus
    vertices unseen by ``prev_labels``, which start as their own id). After
    a converged-state re-run that scan finds nothing and the loop exits in
    one sweep without shuffling messages — the metrics' ``frontier_init``
    extra records the seed size so tests can assert the collapse.
    """
    shuffle_p = int(g.spark.conf.get("spark.sql.shuffle.partitions", "32"))
    edges = undirected_simple_edges(g).repartition(shuffle_p, "src").persist()
    labels = _by_id(
        g.vertices()
        .join(prev_labels.select("id", F.col("component").alias("prev")),
              "id", "left")
        .select("id", F.coalesce("prev", F.col("id")).alias("component")),
        shuffle_p)
    # disagreement scan: endpoints of edges whose labels differ. The dst
    # side suffices as message *receivers*; the undirected edge set holds
    # both directions, so each disagreeing endpoint appears as a dst.
    lab_src = labels.select(F.col("id").alias("src"),
                            F.col("component").alias("c_src"))
    lab_dst = labels.select(F.col("id").alias("dst"),
                            F.col("component").alias("c_dst"))
    touched = (
        edges.join(lab_src, "src").join(lab_dst, "dst")
        .where(F.col("c_src") != F.col("c_dst"))
        .select(F.col("src").alias("id"))
        .distinct()
    )
    frontier = (
        labels.join(touched, "id", "left_semi")
        .localCheckpoint(eager=True)
    )
    n_frontier = frontier.count()
    if n_frontier == 0:
        # converged warm start: nothing can change, skip the message sweeps
        edges.unpersist()
        return IterativeResult(df=labels, iterations=0, metrics=[
            IterationMetrics(iteration=0, l1_residual=0.0, linf_residual=0.0,
                             rows_shuffled=0, wall_s=0.0,
                             extra={"changed": 0, "frontier_init": 0})])
    # snapshots are written, never resumed: a directory reused across
    # batches holds an earlier batch's labels, which lack its new vertices
    res = _min_label(edges, labels, frontier, max_iters, checkpoint_dir,
                     checkpoint_interval, resumable=False)
    if res.metrics:
        res.metrics[0].extra["frontier_init"] = n_frontier
    return res


def _min_label(edges: DataFrame, labels: DataFrame, frontier: DataFrame,
               max_iters: int, checkpoint_dir: str | None = None,
               checkpoint_interval: int = 5,
               resumable: bool = True) -> IterativeResult:
    """Semi-naive min-label superstep: messages flow only from last
    round's changed vertices. A resumed run resends from every vertex."""
    n_und_edges = edges.count()
    shuffle_p = int(edges.sparkSession.conf.get(
        "spark.sql.shuffle.partitions", "32"))

    def step(state):
        labels, frontier = state
        # candidate labels pushed from last round's changed vertices only
        msgs = (
            edges.join(frontier.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("component").alias("cand"))
        )
        new_labels = (
            labels.join(msgs, "id", "left")
            .select(
                "id",
                F.least(F.col("component"), F.coalesce("cand", F.col("component")))
                .alias("component"),
                (F.coalesce("cand", F.lit(2**62)) < F.col("component"))
                .alias("_changed"),
            )
        )
        new_labels = new_labels.localCheckpoint(eager=False)
        n_changed = new_labels.where("_changed").count()
        return ((new_labels.select("id", "component"),
                 new_labels.where("_changed").select("id", "component")),
                float(n_changed), float(1 if n_changed else 0), n_und_edges,
                {"changed": n_changed})

    def load(df: DataFrame):
        labels = _by_id(df, shuffle_p)
        return labels, labels

    return iterate(
        "connected_components", (labels, frontier), step,
        save=lambda state: state[0], load=load if resumable else None,
        columns=("id", "component"),
        max_iters=max_iters, checkpoint_dir=checkpoint_dir,
        checkpoint_interval=checkpoint_interval, release=(edges,))


# rounds of frontier min-label the top tier gets before the star fallback.
# Crawl-shaped graphs converge in <10 (measured: 6 at 42M edges,
# BENCH/crossover.json), so the budget never trips there; a long-diameter
# adversary (a 2M-vertex path needs 2M supersteps ≈ 113 days measured rate)
# trips it after ~16 cheap rounds and finishes in O(log n) star rounds.
FRONTIER_ROUND_BUDGET = 16


def connected_components_auto(g: Graph, **kw) -> IterativeResult:
    """Scale-tiered dispatch, mirroring pagerank_csr.run_pagerank_auto:
    driver-local numpy below LOCAL_MAX_EDGES (the COST regime), CSR-block
    SpMV while the label vector broadcasts comfortably, the shuffle-join
    frontier path beyond — budgeted, with a diameter-independent
    large/small-star fallback so auto NEVER runs O(diameter) unbounded.
    All tiers produce identical (id, component = min id)."""
    from .components_csr import connected_components_spmv
    from .components_local import connected_components_local
    from .components_star import finish_with_star
    from .pagerank_csr import SPMV_MAX_VERTICES
    from .pagerank_local import LOCAL_MAX_EDGES
    if g.edges.count() <= LOCAL_MAX_EDGES:
        res = connected_components_local(g)
    elif g.num_vertices <= SPMV_MAX_VERTICES:
        res = connected_components_spmv(g)
    else:
        res = connected_components(
            g, max_iters=kw.pop("max_iters", FRONTIER_ROUND_BUDGET), **kw)
    # no sweep recorded (e.g. resumed at the budget) or still changing:
    # finish by star contraction rather than return partial labels
    if not res.metrics or res.metrics[-1].extra["changed"] != 0:
        return finish_with_star(g, res)
    return res


def label_propagation_auto(g: Graph, num_iters: int = 5,
                           **kw) -> IterativeResult:
    """LP tiering: driver-local numpy below LOCAL_MAX_EDGES, the
    shuffle-join superstep path beyond (LP's mode aggregate has no
    broadcast-vector SpMV form — the per-dst state is a label multiset,
    not a scalar). Identical (id, label) across tiers."""
    from .components_local import label_propagation_local
    from .pagerank_local import LOCAL_MAX_EDGES
    n_edges = g.edges.count()
    if n_edges <= LOCAL_MAX_EDGES:
        return label_propagation_local(g, num_iters)
    return label_propagation(g, num_iters, **kw)


def label_propagation(
    g: Graph,
    num_iters: int = 5,
    checkpoint_dir: str | None = None,
    checkpoint_interval: int = 5,
) -> IterativeResult:
    """Synchronous community label propagation, fully deterministic.

    Labels init to vertex id; each round every vertex adopts the most
    frequent label among its (undirected, deduped) neighbors, ties broken by
    the smallest label; isolated vertices keep their own label. Early-stops
    when no label changed. Matches oracle.label_propagation exactly.

    The mode aggregation is two Catalyst-native stages: count per (dst,
    label), then a max_by-style reduce per dst — no Python in the loop.
    """
    shuffle_p = int(g.spark.conf.get("spark.sql.shuffle.partitions", "32"))
    edges = undirected_simple_edges(g).repartition(shuffle_p, "src").persist()
    n_und_edges = edges.count()

    def step(labels):
        counts = (
            edges.join(labels.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"), F.col("label"))
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        # mode with deterministic tie-break: max count, then min label —
        # a single max_by over a sortable (cnt, -label) struct
        winner = (
            counts.groupBy("id")
            .agg(
                F.max(F.struct(F.col("cnt"), (-F.col("label")).alias("neg")))
                .alias("w")
            )
            .select("id", (-F.col("w.neg")).alias("new_label"))
        )
        new_labels = (
            labels.join(winner, "id", "left")
            .select(
                "id",
                F.coalesce("new_label", F.col("label")).alias("label"),
                (F.coalesce("new_label", F.col("label")) != F.col("label"))
                .alias("_changed"),
            )
            .localCheckpoint(eager=False)
        )
        n_changed = new_labels.where("_changed").count()
        return (new_labels.select("id", "label"), float(n_changed),
                float(1 if n_changed else 0), n_und_edges,
                {"changed": n_changed})

    return iterate(
        "label_propagation",
        _by_id(g.vertices().select("id", F.col("id").alias("label")),
               shuffle_p),
        step, save=lambda labels: labels,
        load=lambda df: _by_id(df, shuffle_p), columns=("id", "label"),
        max_iters=num_iters, checkpoint_dir=checkpoint_dir,
        checkpoint_interval=checkpoint_interval, release=(edges,))
