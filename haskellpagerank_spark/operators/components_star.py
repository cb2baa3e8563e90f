"""Connected components by alternating large-star / small-star contraction.

The frontier min-label path (operators/components.py) converges in
O(diameter) supersteps — fine on real web graphs (effective diameter ~20)
but pathological on long chains: a 1M-vertex path needs 1M rounds. This
module implements the alternating-star algorithm of Kiveris, Lattanzi,
Mirrokni, Rastogi, Vassilvitskii, "Connected Components in MapReduce and
Beyond" (ACM SoCC 2014): each round applies

  large-star  — every vertex u connects each strictly-larger neighbor v to
                m(u) = min(N(u) ∪ {u});
  small-star  — every vertex u connects each smaller-or-equal neighbor
                (and itself) to m(u);

and the edge set converges to a star forest in O(log² n) rounds worst
case (~log n in practice), INDEPENDENT of graph diameter. Each star's
center is the minimum vertex id of its component, so the resulting
(id, component) labeling is bit-identical to min-label propagation —
`connected_components_auto` callers and the DuckDB oracle need no change.

Scale design (the reason this strategy exists):
- both stars are one map-side-combinable groupBy-min plus one shuffle
  join co-partitioned on the same key — hub vertices never concentrate in
  a single task (the min() partial-aggregates per map partition);
- the edge set *shrinks monotonically toward |V|-1 star edges*, so round
  cost decays geometrically — unlike min-label, whose |E| join cost is
  flat per round;
- convergence is detected by a (count, xxhash64-sum) fingerprint of the
  edge set — one tiny aggregate, no edge-set self-join.

The fixpoint driver (plans/fixpoint.py) iterates the star pair and
checkpoints the contracted edge set.

Reference parity: the reference has no CC (north-rule scope); the
semantics contract is components.connected_components, pinned by pytest
parity on fixtures, random graphs, paths, and stars.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.fixpoint import IterativeResult, iterate
from .graph import Graph


def _large_star(edges: DataFrame) -> DataFrame:
    """(v, m(u)) for every neighbor v > u, per Kiveris et al. Alg. 2.

    Processes every edge from both endpoints' perspectives (the paper's
    undirected neighborhood), so the input orientation is irrelevant.
    """
    sym = edges.unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    mins = (
        sym.groupBy("src")
        .agg(F.min("dst").alias("mn"))
        .select("src", F.least("mn", "src").alias("m"))
    )
    return (
        sym.join(mins, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """(v, m(u)) for every neighbor v <= u plus (u, m(u)) itself.

    Orienting each edge big→small first means every group key u only sees
    neighbors < u, so m(u) = min over the group — one agg, one join.
    """
    oriented = edges.select(
        F.greatest("src", "dst").alias("src"),
        F.least("src", "dst").alias("dst"),
    ).where(F.col("src") != F.col("dst"))
    mins = oriented.groupBy("src").agg(F.min("dst").alias("m"))
    rewired = (
        oriented.join(mins, "src")
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .unionAll(mins.select("src", F.col("m").alias("dst")))
        .where(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
    )
    return rewired


def _fingerprint(edges: DataFrame) -> tuple[int, int]:
    row = edges.select(
        F.count(F.lit(1)).alias("n"),
        # decimal(38,0) accumulator: ANSI-safe against long overflow
        F.coalesce(F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")),
                   F.lit(0)).alias("h"),
    ).first()
    return int(row["n"]), int(row["h"])


def finish_with_star(g: Graph, partial: IterativeResult) -> IterativeResult:
    """Finish an UNCONVERGED min-label run by star contraction.

    Every intermediate min-label value is the id of some vertex in the same
    component, so mapping each edge through the partial labels yields a
    contracted graph whose components correspond 1:1 to the original's —
    and the global min vertex m always has label m, so the contracted
    component minimum IS the original component minimum. Compose:
    final(v) = star_component(partial_label(v)). Exact, by construction.

    This is `connected_components_auto`'s long-diameter escape hatch: the
    frontier path converges in <10 rounds on crawl-shaped graphs (measured,
    BENCH/crossover.json), so a small round budget costs nothing there, and
    when a long chain blows past it this fallback bounds the total at
    O(log n) star rounds instead of O(diameter) supersteps.
    """
    labels = partial.df
    lab_src = labels.select(F.col("id").alias("src"),
                            F.col("component").alias("ls"))
    lab_dst = labels.select(F.col("id").alias("dst"),
                            F.col("component").alias("ld"))
    contracted = (
        g.edges.join(lab_src, "src").join(lab_dst, "dst")
        .select(F.col("ls").alias("src"), F.col("ld").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
    )
    star = connected_components_star(
        Graph(edges=contracted, num_vertices=g.num_vertices))
    comp = star.df.select(F.col("id").alias("component"),
                          F.col("component").alias("final"))
    final = (
        labels.join(comp, "component")
        .select("id", F.col("final").alias("component"))
    )
    return IterativeResult(
        df=final,
        iterations=partial.iterations + star.iterations,
        metrics=partial.metrics + star.metrics,
    )


def connected_components_star(
    g: Graph,
    max_iters: int = 100,
    checkpoint_dir: str | None = None,
    checkpoint_interval: int = 5,
) -> IterativeResult:
    """Diameter-independent CC; same (id, component = min id) contract as
    components.connected_components. One iteration = one large-star +
    small-star pair. Raises RuntimeError if the fixpoint is not reached
    within ``max_iters`` pairs (house rule: never return silently-partial
    labels)."""
    shuffle_p = int(g.spark.conf.get("spark.sql.shuffle.partitions", "32"))

    def by_src(edges: DataFrame) -> DataFrame:
        return (edges.select("src", "dst").repartition(shuffle_p, "src")
                .localCheckpoint(eager=True))

    edges = by_src(g.edges.where(F.col("src") != F.col("dst"))
                   .dropDuplicates(["src", "dst"]))
    fp = _fingerprint(edges)

    def step(state):
        edges, fp = state
        nxt = _small_star(_large_star(edges)).localCheckpoint(eager=True)
        new_fp = _fingerprint(nxt)
        same = new_fp == fp
        return ((nxt, new_fp), float(abs(new_fp[0] - fp[0])),
                0.0 if same else 1.0, new_fp[0],
                {"edges": new_fp[0], "changed": 0 if same else 1})

    def load(df: DataFrame):
        edges = by_src(df)
        return edges, _fingerprint(edges)

    # the star path checkpoints the CONTRACTED EDGE SET (src, dst), while
    # the min-label path checkpoints LABELS (id, component) — the columns
    # guard turns a cross-strategy resume into a clear ValueError instead
    # of an opaque AnalysisException inside a join
    res = IterativeResult(edges, 0) if fp[0] == 0 else iterate(
        "connected_components_star", (edges, fp), step,
        save=lambda state: state[0], load=load, columns=("src", "dst"),
        max_iters=max_iters, must_converge=True,
        checkpoint_dir=checkpoint_dir,
        checkpoint_interval=checkpoint_interval)
    # at the fixpoint the edge set is a star forest (child → component min);
    # centers and isolated vertices label themselves
    labels = (
        g.vertices()
        .join(res.df.select(F.col("src").alias("id"),
                            F.col("dst").alias("c")), "id", "left")
        .select("id", F.coalesce("c", F.col("id")).alias("component"))
    )
    return IterativeResult(labels, res.iterations, res.metrics)
