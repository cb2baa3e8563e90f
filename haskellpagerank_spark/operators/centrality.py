"""Link-analysis centralities beyond PageRank: HITS, SALSA, Katz,
eigenvector centrality, TrustRank / personalized PageRank, multi-source
BFS distances, and k-core peeling.

The reference engine's only centrality is PageRank (pagerank/Data/Graph/
PageRank*.hs); these are engine extensions a link-graph user reaches for
next. Each kernel builds its per-run relations once and hands one sweep
to the fixpoint driver, plans/fixpoint.py, which owns the sweep budget,
the stopping test, the metrics and the release of those relations on
every exit path. A sweep is the join + partial/final agg +
localCheckpoint shape of operators/pagerank.py, so every property argued
there (map-side combine, |V|-row-only shuffles per sweep, AQE skew
splitting, bounded lineage) carries over.

Scale notes per operator:
- ``hits``: the edge set is deduped once, hash-partitioned by the join key
  and persisted; each half-step shuffles only the |V|-row score vector.
  Normalization is a 1-row broadcast crossJoin (no driver round-trip inside
  the plan).
- ``trust_rank``: identical plan shape to run_pagerank redistribute mode;
  the teleport vector is a joined column, never a driver loop or an
  ``isin`` literal. ``personalized_pagerank`` is trust_rank with unit
  weight per seed.
- ``bfs_levels``: semi-naive frontier expansion — each round joins ONLY
  the newly-reached frontier against the edge table, so total work is
  O(sum of frontier-adjacent edges) = O(|E|) across the whole run, not
  O(|E| * diameter).
- ``k_core``: iterative peel; each round recomputes degrees over the
  surviving vertex set via two semi-joins. Rounds shrink monotonically;
  web-graph cores stabilize in tens of rounds. The vertex set is carried as
  a localCheckpointed DataFrame, never collected.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.fixpoint import IterativeResult, iterate
from ..session import local_df
from .graph import Graph, invert, out_degrees
from .pagerank import weighted_edges


def _shuffle_partitions(g: Graph) -> int:
    return int(g.spark.conf.get("spark.sql.shuffle.partitions", "32"))


def _simple_edges(g: Graph, drop_self_loops: bool):
    """(edges, |edges|, vertices): the deduped directed edge set
    hash-partitioned by src and the vertex set by id, both persisted."""
    shuffle_p = _shuffle_partitions(g)
    e = g.edges.where(F.col("src") != F.col("dst")) if drop_self_loops \
        else g.edges
    edges = (
        e.dropDuplicates(["src", "dst"])
        .repartition(shuffle_p, "src")
        .persist()
    )
    n_edges = edges.count()
    verts = g.vertices().repartition(shuffle_p, "id").persist()
    return edges, n_edges, verts


# ------------------------------------------------------------------- HITS

def hits(g: Graph, num_iters: int = 10) -> IterativeResult:
    """Kleinberg's HITS over the *simple* (deduped) directed edge set.

    Per iteration: authority = column-normalized A^T @ hub, then
    hub = column-normalized A @ authority, both L2-normalized (the classic
    formulation). Deterministic; fixed ``num_iters`` sweeps.

    Returns (id, hub, authority) for the dense vertex space; vertices with
    no in-edges get authority 0, no out-edges hub 0.
    """
    edges, n_edges, verts = _simple_edges(g, drop_self_loops=False)

    def step(scores):
        hub, _ = scores
        # materialize each half-sweep: hub is built from the checkpointed
        # authority, so no job recomputes the other half
        auth = _gather_normalize(edges, verts, hub, out_key="dst",
                                 in_key="src").localCheckpoint(eager=True)
        hub = _gather_normalize(edges, verts, auth, out_key="src",
                                in_key="dst").localCheckpoint(eager=True)
        return (hub, auth), 0.0, 0.0, 2 * (n_edges + g.num_vertices), {}

    def save(scores):
        hub, auth = scores
        return hub.withColumnRenamed("score", "hub").join(
            auth.withColumnRenamed("score", "authority"), "id")

    start = (verts.select("id", F.lit(1.0).alias("score")),
             verts.select("id", F.lit(0.0).alias("score")))
    return iterate("hits", start, step, save, max_iters=num_iters, tol=None,
                   release=(edges, verts))


def _gather_normalize(edges: DataFrame, verts: DataFrame, scores: DataFrame,
                      out_key: str, in_key: str) -> DataFrame:
    """sum scores over ``in_key`` neighbors into ``out_key``, L2-normalize.

    The norm is folded in as a broadcast 1-row scalar so the gather +
    normalize is one job; zero-norm (empty graph side) keeps zeros.
    """
    raw = (
        edges.join(scores.withColumnRenamed("id", in_key), in_key)
        .groupBy(F.col(out_key).alias("id"))
        .agg(F.sum("score").alias("s"))
    )
    dense = verts.join(raw, "id", "left").select(
        "id", F.coalesce("s", F.lit(0.0)).alias("s"))
    norm = dense.agg(
        F.sqrt(F.sum(F.col("s") * F.col("s"))).alias("_norm"))
    return dense.crossJoin(F.broadcast(norm)).select(
        "id",
        F.when(F.col("_norm") > 0, F.col("s") / F.col("_norm"))
        .otherwise(F.lit(0.0)).alias("score"),
    )


# ---------------------------------------- TrustRank / personalized PageRank

def personalized_pagerank(g: Graph, seeds: list[int],
                          damping: float = 0.85,
                          num_iters: int = 20) -> IterativeResult:
    """Seeded (topic-sensitive) PageRank: the teleport distribution is
    uniform over ``seeds`` instead of uniform over V, and dangling mass
    returns to the seeds. Duplicate edges weight contributions exactly as
    in run_pagerank (w = multiplicity / outdeg).

        r_{i+1} = (1-d) * p + d * (W^T r_i + dangling_mass(r_i) * p)

    with p(v) = 1/|seeds| on the seed set. Init r_0 = p. This is
    ``trust_rank`` with weight 1.0 per distinct seed (1.0/k is the same
    double on both paths). Fixed-sweep and deterministic so the DuckDB
    twin (queries.ppr_sql) matches fp-op for fp-op.
    """
    if not seeds:
        raise ValueError("personalized_pagerank needs a non-empty seed set")
    weights = seed_frame(g.spark, seeds).withColumn("weight", F.lit(1.0))
    return trust_rank(g, weights, damping=damping, num_iters=num_iters)


def trust_rank(g: Graph, seed_weights: DataFrame,
               damping: float = 0.85,
               num_iters: int = 20) -> IterativeResult:
    """TrustRank / topic-sensitive PageRank: personalized PageRank whose
    teleport distribution is an arbitrary non-negative weight vector
    (id, weight) — e.g. hand-vetted trusted seeds (Gyongyi et al., VLDB
    2004) or per-page quality scores. The weights of the seeds that are
    vertices of ``g`` are normalized to sum 1; dangling mass returns to
    the same distribution.

    The teleport vector is a JOINED column, never an `isin` literal — the
    seed table can be |V|-sized (quality-score teleport) without touching
    the driver.
    """
    shuffle_p = _shuffle_partitions(g)
    d = damping

    base = (
        out_degrees(g)
        .select("id", (F.col("deg") > 0).alias("has_out"))
        .join(seed_weights.select("id", "weight"), "id", "left")
        .select("id", "has_out",
                F.coalesce("weight", F.lit(0.0)).alias("weight"))
        .repartition(shuffle_p, "id")
        .persist()
    )
    # the action that materializes ``base`` also sums its teleport weights
    total = base.agg(F.sum("weight")).first()[0]
    if not total or total <= 0:
        base.unpersist()
        raise ValueError("trust_rank needs positive total seed weight")
    p = F.col("weight") / F.lit(float(total))
    ew = weighted_edges(g).repartition(shuffle_p, "src").persist()
    n_edges = ew.count()

    def step(ranks):
        msgs = (
            ew.join(ranks.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum(F.col("w") * F.col("rank")).alias("msg"))
        )
        dangling = (
            ranks.join(base.where(~F.col("has_out")), "id")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dang"))
        )
        new = (
            base.join(msgs, "id", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "id",
                (
                    F.lit(1.0 - d) * p
                    + F.lit(d) * (F.coalesce("msg", F.lit(0.0))
                                  + F.col("_dang") * p)
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
        return new, 0.0, 0.0, n_edges + g.num_vertices, {}

    ranks = base.select("id", p.alias("rank")) \
        .localCheckpoint(eager=True)
    return iterate("trust_rank", ranks, step, save=lambda r: r,
                   max_iters=num_iters, tol=None, release=(ew, base))


# --------------------------------------------------------- BFS distances

def seed_frame(spark, ids: list[int]) -> DataFrame:
    """The distinct ``ids`` as an (id long) local relation."""
    return local_df(spark, [(s,) for s in sorted({int(s) for s in ids})],
                    "id long")


def bfs_distances(g: Graph, sources: list[int],
                  directed: bool = True,
                  max_depth: int = 200) -> IterativeResult:
    """Multi-source BFS hop distances (semi-naive frontier expansion).

    Returns (id, dist) for REACHED vertices only — dist = minimum hop count
    from any source. ``directed=False`` walks the undirected view. The
    frontier pattern is the prism activation loop (Prism.hs:299-317): each
    round joins only last round's newly-reached set to the edge table, so
    every edge is expanded at most once per endpoint discovery.
    """
    if not sources:
        raise ValueError("bfs_distances needs at least one source")
    return bfs_distances_from(g, seed_frame(g.spark, sources),
                              directed=directed, max_depth=max_depth)


def bfs_distances_from(g: Graph, seeds: DataFrame,
                       directed: bool = True,
                       max_depth: int = 200) -> IterativeResult:
    """`bfs_distances` seeded from a DataFrame (id) instead of a driver-side
    list — the scale path: a seed set of any size (e.g. a whole SCC in
    bowtie) stays distributed, never a collect or an ``isin`` plan literal.
    """
    return bfs_levels(g, seeds, directed=directed, max_depth=max_depth)


def bfs_levels(g: Graph, seeds: DataFrame, directed: bool = True,
               max_depth: int = 200,
               per_source: bool = False) -> IterativeResult:
    """The one multi-source BFS behind bfs_distances, bowtie, harmonic and
    closeness centrality. With ``per_source`` each seed runs its own BFS:
    rows are keyed by (lm, id) with lm the seed — |landmarks| searches in
    one DataFrame, one job per level — and the result is (lm, id, dist);
    otherwise all seeds share one frontier keyed by id, and the result is
    (id, dist). Reached vertices only. Self-loops never reach a new vertex,
    so the edge set drops them.

    ``iterations`` is the last depth that reached a vertex: the round that
    reaches nothing only confirms the fixpoint.
    """
    shuffle_p = _shuffle_partitions(g)
    e = g.edges.where(F.col("src") != F.col("dst")) \
        .dropDuplicates(["src", "dst"])
    if not directed:
        e = e.unionAll(invert(e)).dropDuplicates(["src", "dst"])
    e = e.repartition(shuffle_p, "src").persist()
    e.count()

    lm = ["lm"] if per_source else []
    keys = [*lm, "id"]
    dist = (
        g.vertices().join(seeds.select("id"), "id", "left_semi")
        .select(*[F.col("id").alias(c) for c in keys],
                F.lit(0).cast("long").alias("dist"))
        .repartition(shuffle_p, *keys)
        .localCheckpoint(eager=True)
    )

    def step(state):
        dist, frontier, depth = state
        reached = (
            e.join(frontier.withColumnRenamed("id", "src"), "src")
            .select(*lm, F.col("dst").alias("id"))
            .dropDuplicates(keys)
            .join(dist.select(*keys), keys, "left_anti")
            .select(*keys, F.lit(depth + 1).cast("long").alias("dist"))
            .localCheckpoint(eager=True)
        )
        n_new = reached.count()
        if n_new:
            dist = dist.unionByName(reached).localCheckpoint(eager=True)
        return ((dist, reached, depth + 1), float(n_new),
                float(1 if n_new else 0), n_new, {"reached": n_new})

    res = iterate("bfs", (dist, dist, 0), step, save=lambda state: state[0],
                  max_iters=max_depth, release=(e,))
    if res.metrics and not res.metrics[-1].extra["reached"]:
        res.iterations -= 1
    return res


# -------------------------------------------------------------- k-core

def k_core(g: Graph, k: int, max_rounds: int = 1000) -> IterativeResult:
    """The k-core of the undirected simple graph: the maximal subgraph in
    which every vertex has degree >= k. Iterative peeling — repeatedly drop
    vertices with within-subgraph degree < k until stable; raises
    RuntimeError if ``max_rounds`` peels leave it unstable.

    Returns (id, deg): surviving vertices with their degree INSIDE the core
    (the output is empty when no k-core exists). Deterministic; the
    fixpoint is independent of peel order, so the DuckDB twin is the same
    peel unrolled.
    """
    und = (
        g.edges.unionAll(invert(g.edges))
        .dropDuplicates(["src", "dst"])
        .repartition(_shuffle_partitions(g), "src")
        .persist()
    )
    und.count()

    def degrees(alive):
        """In-subgraph degree of every vertex of ``alive`` with one."""
        return (
            und.join(alive.withColumnRenamed("id", "src"), "src", "left_semi")
            .join(alive.withColumnRenamed("id", "dst"), "dst", "left_semi")
            .groupBy(F.col("src").alias("id"))
            .agg(F.count(F.lit(1)).alias("deg"))
        )

    def step(state):
        alive, n_alive = state
        new = degrees(alive).where(F.col("deg") >= k).select("id") \
            .localCheckpoint(eager=True)
        n_new = new.count()
        # an emptied vertex set is a fixpoint too: there is no k-core
        return ((new, n_new), float(n_alive - n_new),
                float(0 < n_new < n_alive), n_alive,
                {"peeled": n_alive - n_new})

    # survivors start as every endpoint (isolated vertices have degree 0 —
    # never in a k-core for k >= 1)
    alive = (
        und.select(F.col("src").alias("id")).dropDuplicates()
        .localCheckpoint(eager=True)
    )
    return iterate("k_core", (alive, alive.count()), step,
                   save=lambda state: degrees(state[0]),
                   max_iters=max_rounds, must_converge=True, release=(und,))


# ------------------------------------------------------------------ SALSA

def salsa(g: Graph, num_iters: int = 10) -> IterativeResult:
    """SALSA (Lempel-Moran 2000): hub/authority scores as stationary
    distributions of the bipartite backward-forward random walk — HITS
    with degree normalization instead of L2 normalization, which makes it
    robust to tightly-knit-community inflation.

    Per sweep (two half-steps, each one equi-join + agg — no global
    normalization scalar needed because the walk is stochastic):

        h(i)  = sum over i->k of a(k) / indeg(k)
        a'(j) = sum over i->j of h(i) / outdeg(i)

    Init: a uniform over vertices with in-edges, h = 0. Deterministic
    fixed-sweep. Returns (id, hub, authority) over the dense vertex space.
    """
    e = g.edges.where(F.col("src") != F.col("dst")) \
        .dropDuplicates(["src", "dst"])
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    indeg = e.groupBy("dst").agg(F.count(F.lit(1)).alias("indeg"))
    ew = (
        e.join(outdeg, "src").join(indeg, "dst")
        .repartition(_shuffle_partitions(g), "src")
        .persist()
    )
    n_edges = ew.count()

    def step(scores):
        _, a = scores
        h = (
            ew.join(a.withColumnRenamed("id", "dst")
                    .withColumnRenamed("score", "a"), "dst")
            .groupBy(F.col("src").alias("id"))
            .agg(F.sum(F.col("a") / F.col("indeg")).alias("score"))
            .localCheckpoint(eager=True)
        )
        a = (
            ew.join(h.withColumnRenamed("id", "src")
                    .withColumnRenamed("score", "h"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum(F.col("h") / F.col("outdeg")).alias("score"))
            .localCheckpoint(eager=True)
        )
        return (h, a), 0.0, 0.0, 2 * n_edges, {}

    def save(scores):
        h, a = scores
        return (
            g.vertices()
            .join(h.withColumnRenamed("score", "hub"), "id", "left")
            .join(a.withColumnRenamed("score", "authority"), "id", "left")
            .select("id", F.coalesce("hub", F.lit(0.0)).alias("hub"),
                    F.coalesce("authority", F.lit(0.0)).alias("authority"))
        )

    auths = indeg.select(F.col("dst").alias("id"))
    n_auth = auths.count()
    a = auths.select("id", F.lit(1.0 / max(n_auth, 1)).alias("score")) \
        .localCheckpoint(eager=True)
    return iterate("salsa", (a.select("id", F.lit(0.0).alias("score")), a),
                   step, save, max_iters=num_iters, tol=None, release=(ew,))


# ------------------------------------------------------------------- Katz

def katz(g: Graph, alpha: float = 0.02, beta: float = 1.0,
         num_iters: int = 10) -> IterativeResult:
    """Katz centrality: x <- beta*1 + alpha * A^T x over the simple
    (deduped, self-loop-free) directed edge set, unrolled ``num_iters``
    sweeps. Converges geometrically when alpha < 1/lambda_max; the
    max-in-degree bound (alpha < 1/max_deg) is the easy safe pick. Unlike
    PageRank there is no degree normalization — prolific linkers transmit
    their full score — which is exactly why spam-resistant rankings prefer
    PageRank and why Katz belongs in the canon as the contrast.

    Same superstep plan as every iterative kernel here: the edge table is
    deduped once, hash-partitioned by src, persisted; each sweep shuffles
    the |V|-row score vector with map-side partial sums.
    """
    edges, n_edges, verts = _simple_edges(g, drop_self_loops=True)

    def step(x):
        msgs = (
            edges.join(x.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("score").alias("msg"))
        )
        new = (
            verts.join(msgs, "id", "left")
            .select("id", (F.lit(float(beta)) + F.lit(float(alpha))
                           * F.coalesce("msg", F.lit(0.0))).alias("score"))
            .localCheckpoint(eager=True)
        )
        return new, 0.0, 0.0, n_edges + g.num_vertices, {}

    return iterate(
        "katz", verts.select("id", F.lit(float(beta)).alias("score")), step,
        save=lambda x: x.select("id", F.col("score").alias("katz")),
        max_iters=num_iters, tol=None, release=(edges, verts))


# ------------------------------------------------- eigenvector centrality

def eigenvector_centrality(g: Graph, num_iters: int = 20) -> IterativeResult:
    """Eigenvector centrality by power iteration: x <- L2-normalize(A^T x)
    over the simple self-loop-free directed edge set, from the all-ones
    start. Fixed ``num_iters`` sweeps (deterministic; with enough sweeps x
    converges to the principal eigenvector's direction on the giant
    component — vertices unreachable from any cycle decay to 0, the
    standard in-edge-only behavior that motivates Katz's beta offset).

    Reuses the HITS gather+normalize kernel: one join-agg per sweep, the
    norm folded in as a broadcast 1-row scalar.
    """
    edges, n_edges, verts = _simple_edges(g, drop_self_loops=True)

    def step(x):
        new = _gather_normalize(edges, verts, x, out_key="dst",
                                in_key="src").localCheckpoint(eager=True)
        return new, 0.0, 0.0, n_edges + g.num_vertices, {}

    return iterate(
        "eigenvector_centrality",
        verts.select("id", F.lit(1.0).alias("score")), step,
        save=lambda x: x.select("id", F.col("score").alias("eigenvector")),
        max_iters=num_iters, tol=None, release=(edges, verts))
