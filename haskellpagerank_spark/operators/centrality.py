"""Link-analysis centralities beyond PageRank: HITS, personalized PageRank,
multi-source BFS distances, and k-core peeling.

The reference engine's only centrality is PageRank (pagerank/Data/Graph/
PageRank*.hs); these are engine extensions a link-graph user reaches for
next — same superstep skeleton (join + partial/final agg + localCheckpoint
+ one scalar collect per round) as operators/pagerank.py and
operators/components.py, so every property argued there (map-side combine,
|V|-row-only shuffles per sweep, AQE skew splitting, bounded lineage)
carries over.

Scale notes per operator:
- ``hits``: the edge set is deduped once, hash-partitioned by the join key
  and persisted; each half-step shuffles only the |V|-row score vector.
  Normalization is a 1-row broadcast crossJoin (no driver round-trip inside
  the plan).
- ``personalized_pagerank``: identical plan shape to run_pagerank
  redistribute mode; the teleport vector is a column predicate on the seed
  set (broadcast semi-join for large seed tables), never a driver loop.
- ``bfs_distances``: semi-naive frontier expansion — each round joins ONLY
  the newly-reached frontier against the edge table, so total work is
  O(sum of frontier-adjacent edges) = O(|E|) across the whole run, not
  O(|E| * diameter).
- ``k_core``: iterative peel; each round recomputes degrees over the
  surviving vertex set via two semi-joins. Rounds shrink monotonically;
  web-graph cores stabilize in tens of rounds. The vertex set is carried as
  a localCheckpointed DataFrame, never collected.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.checkpoint import IterationMetrics
from ..plans.fixpoint import IterativeResult
from ..session import local_df
from .graph import Graph, invert, out_degrees
from .pagerank import weighted_edges


# ------------------------------------------------------------------- HITS

def hits(g: Graph, num_iters: int = 10) -> IterativeResult:
    """Kleinberg's HITS over the *simple* (deduped) directed edge set.

    Per iteration: authority = column-normalized A^T @ hub, then
    hub = column-normalized A @ authority, both L2-normalized (the classic
    formulation). Deterministic; fixed ``num_iters`` sweeps.

    Returns (id, hub, authority) for the dense vertex space; vertices with
    no in-edges get authority 0, no out-edges hub 0.
    """
    spark = g.spark
    shuffle_p = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    edges = (
        g.edges.dropDuplicates(["src", "dst"])
        .repartition(shuffle_p, "src")
        .persist()
    )
    n_edges = edges.count()
    verts = g.vertices().repartition(shuffle_p, "id").persist()

    hub = verts.select("id", F.lit(1.0).alias("score"))
    auth = verts.select("id", F.lit(0.0).alias("score"))
    metrics: list[IterationMetrics] = []
    for it in range(1, num_iters + 1):
        t0 = time.monotonic()
        # materialize each half-sweep: hub is built from the checkpointed
        # authority, so no job recomputes the other half
        auth = _gather_normalize(edges, verts, hub, out_key="dst",
                                 in_key="src").localCheckpoint(eager=True)
        hub = _gather_normalize(edges, verts, auth, out_key="src",
                                in_key="dst").localCheckpoint(eager=True)
        metrics.append(IterationMetrics(
            iteration=it, l1_residual=0.0, linf_residual=0.0,
            rows_shuffled=2 * (n_edges + g.num_vertices),
            wall_s=time.monotonic() - t0))
    out = (
        hub.withColumnRenamed("score", "hub")
        .join(auth.withColumnRenamed("score", "authority"), "id")
    )
    edges.unpersist()
    verts.unpersist()
    return IterativeResult(df=out, iterations=num_iters, metrics=metrics)


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


# ---------------------------------------------------- personalized PageRank

def personalized_pagerank(g: Graph, seeds: list[int],
                          damping: float = 0.85,
                          num_iters: int = 20) -> IterativeResult:
    """Seeded (topic-sensitive) PageRank: the teleport distribution is
    uniform over ``seeds`` instead of uniform over V, and dangling mass
    returns to the seeds. Duplicate edges weight contributions exactly as
    in run_pagerank (w = multiplicity / outdeg).

        r_{i+1} = (1-d) * p + d * (W^T r_i + dangling_mass(r_i) * p)

    with p(v) = 1/|seeds| on the seed set. Init r_0 = p. Fixed-sweep and
    deterministic so the DuckDB twin (queries.ppr_sql) matches fp-op for
    fp-op.
    """
    if not seeds:
        raise ValueError("personalized_pagerank needs a non-empty seed set")
    spark = g.spark
    shuffle_p = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    seed_set = sorted({int(s) for s in seeds})
    p0 = 1.0 / len(seed_set)
    d = damping

    ew = weighted_edges(g).repartition(shuffle_p, "src").persist()
    n_edges = ew.count()
    base = (
        out_degrees(g)
        .select("id", (F.col("deg") > 0).alias("has_out"),
                F.col("id").isin(seed_set).alias("is_seed"))
        .repartition(shuffle_p, "id")
        .persist()
    )
    base.count()

    teleport = F.when(F.col("is_seed"), F.lit(p0)).otherwise(F.lit(0.0))
    ranks = base.select("id", teleport.alias("rank")) \
        .localCheckpoint(eager=True)

    metrics: list[IterationMetrics] = []
    for it in range(1, num_iters + 1):
        t0 = time.monotonic()
        msgs = (
            ew.join(ranks.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum(F.col("w") * F.col("rank")).alias("msg"))
        )
        dangling = (
            ranks.join(base.where(~F.col("has_out")), "id")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dang"))
        )
        ranks = (
            base.join(msgs, "id", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "id",
                (
                    F.lit(1.0 - d) * teleport
                    + F.lit(d) * (F.coalesce("msg", F.lit(0.0))
                                  + F.col("_dang") * teleport)
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
        metrics.append(IterationMetrics(
            iteration=it, l1_residual=0.0, linf_residual=0.0,
            rows_shuffled=n_edges + g.num_vertices,
            wall_s=time.monotonic() - t0))
    ew.unpersist()
    base.unpersist()
    return IterativeResult(df=ranks, iterations=num_iters, metrics=metrics)


# --------------------------------------------------------- BFS distances

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
    src_set = sorted({int(s) for s in sources})
    seeds = local_df(g.spark, [(s,) for s in src_set], "id long")
    return bfs_distances_from(g, seeds, directed=directed,
                              max_depth=max_depth)


def bfs_distances_from(g: Graph, seeds: DataFrame,
                       directed: bool = True,
                       max_depth: int = 200) -> IterativeResult:
    """`bfs_distances` seeded from a DataFrame (id) instead of a driver-side
    list — the scale path: a seed set of any size (e.g. a whole SCC in
    bowtie) stays distributed, never a collect or an ``isin`` plan literal.
    """
    spark = g.spark
    shuffle_p = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    e = g.edges.dropDuplicates(["src", "dst"])
    if not directed:
        e = e.unionAll(invert(g.edges)).dropDuplicates(["src", "dst"])
    e = e.repartition(shuffle_p, "src").persist()
    e.count()

    dist = (
        g.vertices().join(seeds.select("id"), "id", "left_semi")
        .select("id", F.lit(0).cast("long").alias("dist"))
        .repartition(shuffle_p, "id")
        .localCheckpoint(eager=True)
    )
    frontier = dist
    metrics: list[IterationMetrics] = []
    depth = 0
    while depth < max_depth:
        depth += 1
        t0 = time.monotonic()
        reached = (
            e.join(frontier.withColumnRenamed("id", "src"), "src")
            .select(F.col("dst").alias("id"))
            .dropDuplicates(["id"])
            .join(dist, "id", "left_anti")
            .select("id", F.lit(depth).cast("long").alias("dist"))
            .localCheckpoint(eager=True)
        )
        n_new = reached.count()
        metrics.append(IterationMetrics(
            iteration=depth, l1_residual=float(n_new),
            linf_residual=float(1 if n_new else 0),
            rows_shuffled=n_new, wall_s=time.monotonic() - t0,
            extra={"reached": n_new}))
        if n_new == 0:
            depth -= 1
            break
        dist = dist.unionByName(reached).localCheckpoint(eager=True)
        frontier = reached
    e.unpersist()
    return IterativeResult(df=dist, iterations=depth, metrics=metrics)


# -------------------------------------------------------------- k-core

def k_core(g: Graph, k: int, max_rounds: int = 1000) -> IterativeResult:
    """The k-core of the undirected simple graph: the maximal subgraph in
    which every vertex has degree >= k. Iterative peeling — repeatedly drop
    vertices with within-subgraph degree < k until stable.

    Returns (id, deg): surviving vertices with their degree INSIDE the core
    (the output is empty when no k-core exists). Deterministic; the
    fixpoint is independent of peel order, so the DuckDB twin is the same
    peel unrolled.
    """
    spark = g.spark
    shuffle_p = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    und = (
        g.edges.unionAll(invert(g.edges))
        .dropDuplicates(["src", "dst"])
        .repartition(shuffle_p, "src")
        .persist()
    )
    und.count()

    # survivors start as every endpoint (isolated vertices have degree 0 —
    # never in a k-core for k >= 1)
    alive = (
        und.select(F.col("src").alias("id")).dropDuplicates()
        .localCheckpoint(eager=True)
    )
    n_alive = alive.count()
    metrics: list[IterationMetrics] = []
    rounds = 0
    while rounds < max_rounds:
        rounds += 1
        t0 = time.monotonic()
        live_edges = (
            und.join(alive.withColumnRenamed("id", "src"), "src", "left_semi")
            .join(alive.withColumnRenamed("id", "dst"), "dst", "left_semi")
        )
        deg = live_edges.groupBy(F.col("src").alias("id")).agg(
            F.count(F.lit(1)).alias("deg"))
        new_alive = deg.where(F.col("deg") >= k).select("id") \
            .localCheckpoint(eager=True)
        n_new = new_alive.count()
        metrics.append(IterationMetrics(
            iteration=rounds, l1_residual=float(n_alive - n_new),
            linf_residual=float(1 if n_new != n_alive else 0),
            rows_shuffled=n_alive, wall_s=time.monotonic() - t0,
            extra={"peeled": n_alive - n_new}))
        if n_new == n_alive:
            break
        alive, n_alive = new_alive, n_new
        if n_new == 0:
            break
    # final in-core degree over the surviving subgraph (empty if no core)
    final_edges = (
        und.join(alive.withColumnRenamed("id", "src"), "src", "left_semi")
        .join(alive.withColumnRenamed("id", "dst"), "dst", "left_semi")
    )
    core = final_edges.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("deg"))
    und.unpersist()
    return IterativeResult(df=core, iterations=rounds, metrics=metrics)


def trust_rank(g: Graph, seed_weights: DataFrame,
               damping: float = 0.85,
               num_iters: int = 20) -> IterativeResult:
    """TrustRank / topic-sensitive PageRank: personalized PageRank whose
    teleport distribution is an arbitrary non-negative weight vector
    (id, weight) — e.g. hand-vetted trusted seeds (Gyongyi et al., VLDB
    2004) or per-page quality scores. Weights are normalized to sum 1;
    dangling mass returns to the same distribution.

    Same superstep plan as personalized_pagerank, but the teleport vector
    is a JOINED column, never an `isin` literal — the seed table can be
    |V|-sized (quality-score teleport) without touching the driver.
    """
    spark = g.spark
    shuffle_p = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    d = damping

    total = seed_weights.agg(F.sum("weight").alias("t")).first()["t"]
    if not total or total <= 0:
        raise ValueError("trust_rank needs positive total seed weight")
    p = seed_weights.select("id", (F.col("weight") / F.lit(float(total)))
                            .alias("p"))

    ew = weighted_edges(g).repartition(shuffle_p, "src").persist()
    n_edges = ew.count()
    base = (
        out_degrees(g)
        .select("id", (F.col("deg") > 0).alias("has_out"))
        .join(p, "id", "left")
        .select("id", "has_out", F.coalesce("p", F.lit(0.0)).alias("p"))
        .repartition(shuffle_p, "id")
        .persist()
    )
    base.count()

    ranks = base.select("id", F.col("p").alias("rank")) \
        .localCheckpoint(eager=True)
    metrics: list[IterationMetrics] = []
    for it in range(1, num_iters + 1):
        t0 = time.monotonic()
        msgs = (
            ew.join(ranks.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum(F.col("w") * F.col("rank")).alias("msg"))
        )
        dangling = (
            ranks.join(base.where(~F.col("has_out")), "id")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dang"))
        )
        ranks = (
            base.join(msgs, "id", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "id",
                (
                    F.lit(1.0 - d) * F.col("p")
                    + F.lit(d) * (F.coalesce("msg", F.lit(0.0))
                                  + F.col("_dang") * F.col("p"))
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
        metrics.append(IterationMetrics(
            iteration=it, l1_residual=0.0, linf_residual=0.0,
            rows_shuffled=n_edges + g.num_vertices,
            wall_s=time.monotonic() - t0))
    ew.unpersist()
    base.unpersist()
    return IterativeResult(df=ranks, iterations=num_iters, metrics=metrics)


def salsa(g: Graph, num_iters: int = 10) -> IterativeResult:
    """SALSA (Lempel-Moran 2000): hub/authority scores as stationary
    distributions of the bipartite backward-forward random walk — HITS
    with degree normalization instead of L2 normalization, which makes it
    robust to tightly-knit-community inflation.

    Per sweep (two half-steps, each one equi-join + agg — no global
    normalization scalar needed because the walk is stochastic):

        h(i)  = sum over i->k of a(k) / indeg(k)
        a'(j) = sum over i->j of h(i) / outdeg(i)

    Init: a uniform over vertices with in-edges. Deterministic fixed-sweep.
    Returns (id, hub, authority) over the dense vertex space.
    """
    spark = g.spark
    shuffle_p = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    e = g.edges.where(F.col("src") != F.col("dst")) \
        .dropDuplicates(["src", "dst"])
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    indeg = e.groupBy("dst").agg(F.count(F.lit(1)).alias("indeg"))
    ew = (
        e.join(outdeg, "src").join(indeg, "dst")
        .repartition(shuffle_p, "src")
        .persist()
    )
    n_edges = ew.count()

    auths = indeg.select(F.col("dst").alias("id"))
    n_auth = auths.count()
    a = auths.select("id", F.lit(1.0 / max(n_auth, 1)).alias("score")) \
        .localCheckpoint(eager=True)
    h = None
    metrics: list[IterationMetrics] = []
    for it in range(1, num_iters + 1):
        t0 = time.monotonic()
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
        metrics.append(IterationMetrics(
            iteration=it, l1_residual=0.0, linf_residual=0.0,
            rows_shuffled=2 * n_edges, wall_s=time.monotonic() - t0))
    out = (
        g.vertices()
        .join(h.withColumnRenamed("score", "hub"), "id", "left")
        .join(a.withColumnRenamed("score", "authority"), "id", "left")
        .select("id", F.coalesce("hub", F.lit(0.0)).alias("hub"),
                F.coalesce("authority", F.lit(0.0)).alias("authority"))
    )
    ew.unpersist()
    return IterativeResult(df=out, iterations=num_iters, metrics=metrics)


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
    spark = g.spark
    shuffle_p = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    edges = (
        g.edges.where(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
        .repartition(shuffle_p, "src")
        .persist()
    )
    n_edges = edges.count()
    verts = g.vertices().repartition(shuffle_p, "id").persist()

    x = verts.select("id", F.lit(float(beta)).alias("score"))
    metrics: list[IterationMetrics] = []
    for it in range(1, num_iters + 1):
        t0 = time.monotonic()
        msgs = (
            edges.join(x.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("score").alias("msg"))
        )
        x = (
            verts.join(msgs, "id", "left")
            .select("id", (F.lit(float(beta)) + F.lit(float(alpha))
                           * F.coalesce("msg", F.lit(0.0))).alias("score"))
            .localCheckpoint(eager=True)
        )
        metrics.append(IterationMetrics(
            iteration=it, l1_residual=0.0, linf_residual=0.0,
            rows_shuffled=n_edges + g.num_vertices,
            wall_s=time.monotonic() - t0))
    out = x.select("id", F.col("score").alias("katz"))
    edges.unpersist()
    verts.unpersist()
    return IterativeResult(df=out, iterations=num_iters, metrics=metrics)


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
    spark = g.spark
    shuffle_p = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    edges = (
        g.edges.where(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
        .repartition(shuffle_p, "src")
        .persist()
    )
    n_edges = edges.count()
    verts = g.vertices().repartition(shuffle_p, "id").persist()

    x = verts.select("id", F.lit(1.0).alias("score"))
    metrics: list[IterationMetrics] = []
    for it in range(1, num_iters + 1):
        t0 = time.monotonic()
        x = _gather_normalize(edges, verts, x, out_key="dst", in_key="src")
        x = x.localCheckpoint(eager=True)
        metrics.append(IterationMetrics(
            iteration=it, l1_residual=0.0, linf_residual=0.0,
            rows_shuffled=n_edges + g.num_vertices,
            wall_s=time.monotonic() - t0))
    out = x.select("id", F.col("score").alias("eigenvector"))
    edges.unpersist()
    verts.unpersist()
    return IterativeResult(df=out, iterations=num_iters, metrics=metrics)
