"""Web-graph structure analytics: local clustering coefficient, co-citation
similarity, strongly connected components, Broder bow-tie decomposition,
weighted shortest paths, and landmark harmonic centrality.

North-rule scope extensions (the reference's only structural outputs are
degree histograms and colorings — internalutil/Data/Graph/EdgeArray.hs:69-76,
graphcoloring/Data/Graph/GraphColoring.hs); these are the analyses a
link-graph user runs next on a Common-Crawl-style crawl: the bow-tie paper
(Broder et al., "Graph structure in the Web", WWW 2000) is literally about
this input. All operators are Catalyst equi-join compositions over the edge
DataFrame — no Python in any hot path.

Scale notes per operator:
- ``clustering_coefficient``: numerator rides on the degree-oriented
  triangle join (operators/triangles.py) — hubs expand only through their
  lower-degree neighbors; the rest is one degree agg + one |V| join.
- ``cocitation``: the pair expansion is quadratic in each citing page's
  out-degree, so sources above ``max_fanout`` are dropped first (the
  standard co-occurrence hub guard — a directory page linking 10^5 urls
  would alone emit 5x10^9 pairs). The guard is a degree semi-join, the
  expansion a self-equi-join on the citing key.
- ``strongly_connected_components``: trim + forward/backward min-label
  rounds. Each outer round first peels trivial SCCs (vertices with no
  in- or out-edges *within the remaining subgraph* — a fixpoint of two
  semi-joins that flattens DAG tails fast), then runs two min-label
  fixpoints (same plan shape as connected_components); vertices whose
  forward and backward labels agree form finished SCCs. Outer rounds =
  "SCC levels" after trimming — small for web graphs, which are one giant
  SCC plus shallow periphery (the bow-tie shape).
- ``bowtie``: 3 multi-source BFS reachability passes from the giant SCC
  (semi-naive frontiers, each edge expanded once per discovery).
- ``sssp``: Bellman-Ford supersteps with a semi-naive frontier — only
  edges out of vertices improved last round are re-relaxed.
- ``harmonic_centrality``: multi-landmark BFS with (landmark, id) composite
  frontier keys — |landmarks| sweeps' state in one DataFrame, one job per
  BFS level, then a 1/d sum. Exact when landmarks = V (fixtures); at web
  scale pass a uniform landmark sample (Eppstein–Wang estimator).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.checkpoint import IterationMetrics
from ..plans.fixpoint import IterativeResult, iterate
from ..session import local_df
from .centrality import bfs_distances_from, bfs_levels, seed_frame
from .graph import Graph, invert, undirected_simple_edges
from .triangles import triangles_per_vertex


# ------------------------------------------------- clustering coefficient

def clustering_coefficient(g: Graph) -> DataFrame:
    """Per-vertex local clustering coefficient over the undirected simple
    graph: cc(v) = 2*T(v) / (deg(v) * (deg(v)-1)), 0.0 when deg < 2.

    Returns (id, deg, n_triangles, cc) for the dense vertex space.
    """
    und = undirected_simple_edges(g)
    deg = und.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("deg"))
    tri = triangles_per_vertex(g)
    return (
        g.vertices()
        .join(deg, "id", "left")
        .join(tri, "id", "left")
        .select(
            "id",
            F.coalesce("deg", F.lit(0)).alias("deg"),
            F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
            F.when(
                F.coalesce("deg", F.lit(0)) >= 2,
                2.0 * F.coalesce("n_triangles", F.lit(0))
                / (F.col("deg") * (F.col("deg") - 1)),
            ).otherwise(F.lit(0.0)).alias("cc"),
        )
    )


# ------------------------------------------------------------ co-citation

def cocitation(g: Graph, min_common: int = 1,
               max_fanout: int = 10_000) -> DataFrame:
    """Co-citation pairs: (a, b, common) with a < b and ``common`` = number
    of pages citing both a and b. Pages citing more than ``max_fanout``
    targets are excluded from pair generation (hub guard — their pair
    fan-out is quadratic and their co-citation signal is noise; same
    rationale as dropping stopwords in co-occurrence mining).
    """
    e = g.edges.where(F.col("src") != F.col("dst")) \
        .dropDuplicates(["src", "dst"])
    fanout = e.groupBy("src").agg(F.count(F.lit(1)).alias("n"))
    keep = fanout.where(F.col("n") <= max_fanout).select("src")
    e = e.join(keep, "src", "left_semi")
    e1, e2 = e.alias("e1"), e.alias("e2")
    pairs = (
        e1.join(e2, F.col("e1.src") == F.col("e2.src"))
        .where(F.col("e1.dst") < F.col("e2.dst"))
        .groupBy(F.col("e1.dst").alias("a"), F.col("e2.dst").alias("b"))
        .agg(F.count(F.lit(1)).alias("common"))
        .where(F.col("common") >= min_common)
    )
    return pairs


def bibliographic_coupling(g: Graph, min_common: int = 1,
                           max_fanout: int = 10_000) -> DataFrame:
    """Bibliographic-coupling pairs: (a, b, common) with ``common`` = number
    of pages that both a and b cite — co-citation on the inverted graph
    (the hub guard then bounds *in*-degree fan-in)."""
    return cocitation(g.with_edges(invert(g.edges)),
                      min_common=min_common, max_fanout=max_fanout)


# ---------------------------------------- strongly connected components

def _min_label_fixpoint(edges: DataFrame, labels: DataFrame,
                        max_sweeps: int = 200) -> DataFrame:
    """labels(id, lbl) -> fixpoint of lbl(v) = min(lbl(v), min lbl(u) over
    edges u->v). Semi-naive: only labels that changed last sweep are
    re-propagated. Raises RuntimeError if the fixpoint is not reached
    within ``max_sweeps`` — a silently partial label map would corrupt the
    SCC decomposition built on top of it."""
    frontier = labels
    converged = False
    for _ in range(max_sweeps):
        msgs = (
            edges.join(frontier.withColumnRenamed("id", "src")
                       .withColumnRenamed("lbl", "mlbl"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("mlbl").alias("mlbl"))
        )
        improved = (
            labels.join(msgs, "id")
            .where(F.col("mlbl") < F.col("lbl"))
            .select("id", F.col("mlbl").alias("lbl"))
            .localCheckpoint(eager=True)
        )
        if improved.isEmpty():
            converged = True
            break
        labels = (
            labels.join(improved.withColumnRenamed("lbl", "nlbl"),
                        "id", "left")
            .select("id", F.coalesce("nlbl", "lbl").alias("lbl"))
            .localCheckpoint(eager=True)
        )
        frontier = improved
    if not converged:
        raise RuntimeError(
            f"min-label propagation did not converge in {max_sweeps} sweeps "
            "— the directed diameter of the active subgraph exceeds the "
            "sweep budget (each sweep advances labels one hop; directed "
            "reachability has no star-contraction shortcut, so this cost "
            "is inherent to the distributed tier). Mitigations: raise "
            "max_sweeps, or use strongly_connected_components_local / "
            "_auto (the COST tier handles graphs whose edge list fits "
            "driver RAM in seconds regardless of diameter; measured "
            "negative control in BENCH/crossover.json)")
    return labels


def strongly_connected_components(g: Graph,
                                  max_rounds: int = 100,
                                  max_sweeps: int = 200) -> IterativeResult:
    """SCC decomposition of the directed graph: (id, scc) with scc = the
    minimum vertex id in the component.

    Per outer round over the *remaining* subgraph:
    1. trim fixpoint — vertices with no remaining in-edges or no remaining
       out-edges are singleton SCCs (peels DAG chains/tendrils in bulk);
    2. forward min-label fixpoint  F(v) = min{u : u reaches v},
       backward min-label fixpoint B(v) = min{u : v reaches u};
    3. F(v) == B(v) == r  ⇔  v and r reach each other  ⇒  v ∈ SCC(r);
       assign and remove all such v (at least the remaining-minimum vertex
       always finishes, so the loop terminates); the assigned set is
       removed from the active graph so the edge set shrinks every round.

    PRACTICAL BOUND (the budget, not a heuristic): each FW/BW pass costs
    one full-|E| equi-join per hop of the active core's directed diameter,
    and ``max_sweeps`` caps that per pass. Unlike undirected CC there is
    no diameter-independent escape hatch — star contraction relies on
    min-label symmetry that directed reachability lacks — so a graph whose
    core diameter exceeds the budget raises a RuntimeError naming the
    mitigation (COST tier / bigger budget) instead of silently running for
    O(diameter) days. Crawl-shaped graphs converge in <10 sweeps (their
    giant SCC is shallow); the adversarial case is a multi-million-vertex
    directed cycle — measured at 19.2 s/sweep on 2M vertices / 8 cores,
    i.e. ~890 days to fixpoint distributed, vs 32 s total in
    ``strongly_connected_components_local`` (whose own min-label kernel is
    sweep-budgeted with a linear-time Kosaraju fallback, so it is
    diameter-independent; BENCH/crossover.json, algo "scc" rows). The auto
    tier's COST envelope exists precisely for that regime.
    """
    spark = g.spark
    shuffle_p = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    all_edges = (
        g.edges.where(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
        .repartition(shuffle_p, "src")
        .persist()
    )
    all_edges.count()
    remaining = g.vertices().localCheckpoint(eager=True)
    assigned = None
    metrics: list[IterationMetrics] = []
    rounds = 0
    while rounds < max_rounds:
        rounds += 1
        t0 = time.monotonic()
        n_rem = remaining.count()
        if n_rem == 0:
            rounds -= 1
            break
        edges = (
            all_edges
            .join(remaining.withColumnRenamed("id", "src"), "src",
                  "left_semi")
            .join(remaining.withColumnRenamed("id", "dst"), "dst",
                  "left_semi")
            .localCheckpoint(eager=True)
        )
        # 1. trim fixpoint: no in-edges or no out-edges => singleton SCC
        trimmed_total = None
        cur = remaining
        while True:
            has_out = edges.select(F.col("src").alias("id")).dropDuplicates()
            has_in = edges.select(F.col("dst").alias("id")).dropDuplicates()
            keep = (
                cur.join(has_out, "id", "left_semi")
                .join(has_in, "id", "left_semi")
                .localCheckpoint(eager=True)
            )
            trimmed = cur.join(keep, "id", "left_anti") \
                .localCheckpoint(eager=True)
            if trimmed.isEmpty():
                break
            trimmed_total = (trimmed if trimmed_total is None
                             else trimmed_total.unionByName(trimmed))
            cur = keep
            edges = (
                edges
                .join(keep.withColumnRenamed("id", "src"), "src",
                      "left_semi")
                .join(keep.withColumnRenamed("id", "dst"), "dst",
                      "left_semi")
                .localCheckpoint(eager=True)
            )
        singleton = (
            trimmed_total.select("id", F.col("id").alias("scc"))
            if trimmed_total is not None else None
        )
        # 2. forward/backward min-label over the trimmed core
        base = cur.select("id", F.col("id").alias("lbl"))
        fwd = _min_label_fixpoint(edges, base, max_sweeps=max_sweeps)
        bwd = _min_label_fixpoint(invert(edges), base, max_sweeps=max_sweeps)
        done = (
            fwd.withColumnRenamed("lbl", "f")
            .join(bwd.withColumnRenamed("lbl", "b"), "id")
            .where(F.col("f") == F.col("b"))
            .select("id", F.col("f").alias("scc"))
        )
        batch = (done.unionByName(singleton) if singleton is not None
                 else done).localCheckpoint(eager=True)
        n_done = batch.count()
        assigned = (batch if assigned is None
                    else assigned.unionByName(batch).localCheckpoint(
                        eager=True))
        remaining = remaining.join(batch.select("id"), "id", "left_anti") \
            .localCheckpoint(eager=True)
        metrics.append(IterationMetrics(
            iteration=rounds, l1_residual=float(n_rem - n_done),
            linf_residual=float(1 if n_done < n_rem else 0),
            rows_shuffled=n_rem, wall_s=time.monotonic() - t0,
            extra={"assigned": n_done, "remaining": n_rem - n_done}))
    all_edges.unpersist()
    if not remaining.isEmpty():
        raise RuntimeError(
            f"SCC decomposition exhausted max_rounds={max_rounds} with "
            f"{remaining.count()} vertices unassigned")
    return IterativeResult(df=assigned, iterations=rounds, metrics=metrics)


# ----------------------------------------------------- bow-tie decomposition

def bowtie(g: Graph, scc_labels: DataFrame | None = None) -> IterativeResult:
    """Broder bow-tie decomposition around the largest SCC:
    (id, component) with component in {'CORE', 'IN', 'OUT', 'OTHER'}.

    CORE = the largest SCC (ties broken by smaller scc id); IN = reaches
    CORE but is outside it; OUT = reachable from CORE but outside it;
    OTHER = everything else (tendrils, tubes, disconnected). Reachability =
    two multi-source BFS passes seeded with the whole CORE.
    """
    res_scc = None
    if scc_labels is None:
        res_scc = strongly_connected_components_auto(g)
        scc_labels = res_scc.df
    core_id_row = (
        scc_labels.groupBy("scc").agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("scc"))
        .first()
    )
    core_scc = int(core_id_row["scc"])
    # the giant SCC stays a DataFrame end-to-end — at web scale CORE is
    # O(|V|) rows and must never be collected or inlined as plan literals
    core = scc_labels.where(F.col("scc") == core_scc).select("id") \
        .localCheckpoint(eager=True)

    fwd = bfs_distances_from(g, core, directed=True).df.select("id")
    back = bfs_distances_from(g.with_edges(invert(g.edges)), core,
                              directed=True).df.select("id")
    out = (
        g.vertices()
        .join(core.withColumn("c", F.lit(True)), "id", "left")
        .join(fwd.withColumn("f", F.lit(True)), "id", "left")
        .join(back.withColumn("b", F.lit(True)), "id", "left")
        .select(
            "id",
            F.when(F.col("c"), F.lit("CORE"))
            .when(F.col("b"), F.lit("IN"))
            .when(F.col("f"), F.lit("OUT"))
            .otherwise(F.lit("OTHER")).alias("component"),
        )
    )
    return IterativeResult(
        df=out,
        iterations=res_scc.iterations if res_scc else 0,
        metrics=res_scc.metrics if res_scc else [])


# ------------------------------------------------------------- weighted SSSP

def sssp(g: Graph, weighted_edges: DataFrame, sources: list[int],
         max_rounds: int = 200) -> IterativeResult:
    """Single/multi-source shortest paths over non-negative edge weights
    (Bellman-Ford supersteps, semi-naive frontier). ``weighted_edges`` is
    (src, dst, w double); parallel edges are fine (min wins). Returns
    (id, dist) for reached vertices only.
    """
    if not sources:
        raise ValueError("sssp needs at least one source")
    spark = g.spark
    shuffle_p = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    e = (
        weighted_edges.where(F.col("src") != F.col("dst"))
        .groupBy("src", "dst").agg(F.min("w").alias("w"))
        .repartition(shuffle_p, "src")
        .persist()
    )
    n_edges = e.count()
    src_set = sorted({int(s) for s in sources})
    dist = (
        g.vertices().where(F.col("id").isin(src_set))
        .select("id", F.lit(0.0).alias("dist"))
        .localCheckpoint(eager=True)
    )
    frontier = dist
    metrics: list[IterationMetrics] = []
    rounds = 0
    converged = False
    while rounds < max_rounds:
        rounds += 1
        t0 = time.monotonic()
        cand = (
            e.join(frontier.withColumnRenamed("id", "src")
                   .withColumnRenamed("dist", "d0"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min(F.col("d0") + F.col("w")).alias("nd"))
        )
        improved = (
            cand.join(dist, "id", "left")
            .where(F.col("dist").isNull() | (F.col("nd") < F.col("dist")))
            .select("id", F.col("nd").alias("dist"))
            .localCheckpoint(eager=True)
        )
        n_improved = improved.count()
        metrics.append(IterationMetrics(
            iteration=rounds, l1_residual=float(n_improved),
            linf_residual=float(1 if n_improved else 0),
            rows_shuffled=n_improved + n_edges,
            wall_s=time.monotonic() - t0,
            extra={"improved": n_improved}))
        if n_improved == 0:
            rounds -= 1
            converged = True
            break
        dist = (
            dist.join(improved.withColumnRenamed("dist", "nd"),
                      "id", "full")
            .select(
                "id",
                F.when(F.col("nd").isNotNull()
                       & (F.col("dist").isNull()
                          | (F.col("nd") < F.col("dist"))),
                       F.col("nd")).otherwise(F.col("dist")).alias("dist"))
            .localCheckpoint(eager=True)
        )
        frontier = improved
    e.unpersist()
    if not converged:
        raise RuntimeError(
            f"SSSP still relaxing after max_rounds={max_rounds}; "
            "distances would be partial")
    return IterativeResult(df=dist, iterations=rounds, metrics=metrics)


# ------------------------------------------------------ harmonic centrality

def harmonic_centrality(g: Graph, landmarks: list[int],
                        directed: bool = True,
                        max_depth: int = 200) -> IterativeResult:
    """Harmonic centrality h(v) = sum over landmarks u != v reaching v of
    1/d(u, v), via one multi-landmark BFS with (lm, id) composite keys.

    Exact centrality when ``landmarks`` = all vertices; a uniform landmark
    sample gives the Eppstein–Wang estimate scaled by |V|/|landmarks| (the
    caller scales). Returns (id, harmonic) over the dense vertex space.
    """
    if not landmarks:
        raise ValueError("harmonic_centrality needs at least one landmark")
    res = bfs_levels(g, seed_frame(g.spark, landmarks), directed=directed,
                     max_depth=max_depth, per_source=True)
    h = (
        res.df.where(F.col("dist") > 0)
        .groupBy("id")
        .agg(F.sum(1.0 / F.col("dist")).alias("harmonic"))
    )
    out = (
        g.vertices()
        .join(h, "id", "left")
        .select("id", F.coalesce("harmonic", F.lit(0.0)).alias("harmonic"))
    )
    return IterativeResult(df=out, iterations=res.iterations,
                           metrics=res.metrics)


def harmonic_sampled(g: Graph, keep_num: int = 2, keep_den: int = 5,
                     directed: bool = True,
                     max_depth: int = 200) -> IterativeResult:
    """Eppstein–Wang landmark-sampled harmonic centrality (Eppstein &
    Wang, SODA'01 "Fast approximation of centrality"): run the exact
    multi-landmark BFS from the deterministic LCG pivot set
    (betweenness.sampled_pivots — the same predicate the DuckDB twin
    filters on) and scale by n/|pivots|. Work is |pivots|/n of the exact
    run with the identical per-landmark plan — the web-scale path for
    centrality sweeps, like betweenness_sampled."""
    from .betweenness import sampled_pivots

    n = g.num_vertices
    pivots = sampled_pivots(n, keep_num, keep_den)
    if not pivots:
        raise ValueError(
            f"pivot sample {keep_num}/{keep_den} selected no vertex "
            f"out of {n}")
    res = harmonic_centrality(g, pivots, directed=directed,
                              max_depth=max_depth)
    scaled = res.df.select(
        "id",
        (F.col("harmonic") * F.lit(float(n)) / F.lit(float(len(pivots))))
        .alias("harmonic"))
    return IterativeResult(df=scaled, iterations=res.iterations,
                           metrics=res.metrics)


# ----------------------------------------------------------------- SimRank

def simrank(g: Graph, iters: int = 3, c: float = 0.8,
            max_pairs: int = 5_000_000) -> DataFrame:
    """All-pairs SimRank (Jeh & Widom, WWW 2002) on the directed simple
    graph: s(a,a)=1; s(a,b) = c/(|I(a)||I(b)|) * sum over in-neighbor
    pairs (i,j) of s(i,j); 0 when either in-neighborhood is empty.
    Returns (a, b, score) for a < b with score > 0 (structural inclusion:
    a pair scores nonzero iff a connecting in-path pair exists, so the row
    set is engine-independent).

    Distributed shape: the score state S is a sparse (a, b, s) DataFrame;
    each iteration is two edge joins (expand every scored pair to its
    out-neighbor pairs) + one (a, b) sum agg + the in-degree normalization
    join — all Catalyst joins/aggs, no Python in the loop.

    All-pairs SimRank is inherently quadratic in state (|S| can reach
    |V|^2): ``max_pairs`` bounds the materialized state and raises rather
    than silently thrashing. At web scale the practical forms are
    single-source / top-k SimRank over random-surfer samples; this
    operator is the exact small/medium-graph kernel (the same COST-tier
    envelope logic as coreness/scc — see BENCH/BASELINE.md).
    """
    e = (g.edges.where(F.col("src") != F.col("dst"))
         .dropDuplicates(["src", "dst"]).persist())
    ind = e.groupBy(F.col("dst").alias("id")).agg(
        F.count(F.lit(1)).alias("ind")).persist()
    diag = g.vertices().select(
        F.col("id").alias("a"), F.col("id").alias("b"),
        F.lit(1.0).alias("s"))
    s = diag.localCheckpoint(eager=True)
    e1 = e.select(F.col("src").alias("a"), F.col("dst").alias("pa"))
    e2 = e.select(F.col("src").alias("b"), F.col("dst").alias("pb"))
    for _ in range(iters):
        m = (s.join(e1, "a").join(e2, "b")
             .groupBy(F.col("pa").alias("a"), F.col("pb").alias("b"))
             .agg(F.sum("s").alias("tot")))
        off = (
            m.where(F.col("a") != F.col("b"))
            .join(ind.select(F.col("id").alias("a"),
                             F.col("ind").alias("ia")), "a")
            .join(ind.select(F.col("id").alias("b"),
                             F.col("ind").alias("ib")), "b")
            .select("a", "b", (F.lit(c) * F.col("tot")
                               / (F.col("ia") * F.col("ib"))).alias("s"))
        )
        s = diag.unionByName(off).localCheckpoint(eager=True)
        n_pairs = s.count()
        if n_pairs > max_pairs:
            e.unpersist()
            ind.unpersist()
            raise RuntimeError(
                f"simrank state reached {n_pairs} pairs (> max_pairs="
                f"{max_pairs}); all-pairs SimRank is quadratic — use a "
                f"larger budget only with the memory to hold it, or a "
                f"top-k/single-source formulation at this scale")
    e.unpersist()
    ind.unpersist()
    return (s.where(F.col("a") < F.col("b")).where(F.col("s") > 0)
            .select("a", "b", F.col("s").alias("score")))


# --------------------------------------------------- Adamic-Adar prediction

def adamic_adar(g: Graph, min_common: int = 1,
                max_fanout: int = 10_000) -> DataFrame:
    """Adamic–Adar link-prediction scores over the undirected simple graph:
    for each non-adjacent-or-adjacent pair (a, b), a < b,
    score = sum over common neighbors z of 1 / ln(deg(z)).

    The pair expansion fans out quadratically in each middle vertex z's
    degree, so z with deg > ``max_fanout`` are excluded from expansion (the
    standard guard; their 1/ln(deg) weight is negligible by construction —
    that is the whole point of the Adamic–Adar discount). Degrees are
    computed on the FULL graph before the guard, so surviving weights are
    unbiased. Returns (a, b, common, score).
    """
    und = undirected_simple_edges(g)
    deg = und.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("deg"))
    mid = (
        und.join(deg.withColumnRenamed("id", "src")
                 .withColumnRenamed("deg", "zdeg"), "src")
        .where(F.col("zdeg") <= max_fanout)
        .where(F.col("zdeg") >= 2)
    )
    m1, m2 = mid.alias("m1"), mid.alias("m2")
    pairs = (
        m1.join(m2, F.col("m1.src") == F.col("m2.src"))
        .where(F.col("m1.dst") < F.col("m2.dst"))
        .groupBy(F.col("m1.dst").alias("a"), F.col("m2.dst").alias("b"))
        .agg(F.count(F.lit(1)).alias("common"),
             F.sum(1.0 / F.log(F.col("m1.zdeg"))).alias("score"))
        .where(F.col("common") >= min_common)
    )
    return pairs


# ------------------------------------------------------------ graph summary

def graph_summary(g: Graph) -> DataFrame:
    """One-row dashboard of web-graph shape metrics: vertex/edge counts,
    sink count, degree extremes, and reciprocity (fraction of directed
    simple edges whose reverse edge also exists — the classic crawl health
    metric). All plain aggregates + one self-semi-join; no collect."""
    e = g.edges.where(F.col("src") != F.col("dst")) \
        .dropDuplicates(["src", "dst"])
    n_edges_simple = e.count()
    recip = e.join(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst")),
        ["src", "dst"], "left_semi").count()
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    deg_stats = deg.agg(
        F.max("deg").alias("max_out_deg"),
        F.count(F.lit(1)).alias("n_nonsink")).first()
    spark = g.spark
    return local_df(
        spark,
        [(
            g.num_vertices,
            n_edges_simple,
            g.num_vertices - int(deg_stats["n_nonsink"]),
            int(deg_stats["max_out_deg"] or 0),
            round(n_edges_simple / max(g.num_vertices, 1), 8),
            round(recip / max(n_edges_simple, 1), 8),
        )],
        "n_vertices long, n_edges long, n_sinks long, max_out_deg long, "
        "avg_out_deg double, reciprocity double",
    )


def transitivity(g: Graph) -> DataFrame:
    """Global clustering coefficient (transitivity): C = 3T / W over the
    undirected simple graph, where T is the global triangle count
    (triangles.triangle_count — degree-ordered oriented join, hub-safe)
    and W = sum_v d_v (d_v - 1) / 2 is the wedge count. One row
    (n_wedges, n_triangles, transitivity); counts are BIGINT, the ratio is
    rounded to 8 (identical double ops in the DuckDB twin).

    Complements clustering_coefficient (the per-vertex/average variant):
    transitivity weights high-degree vertices by their wedge counts, so
    the two diverge exactly on hub-heavy web graphs.
    """
    from .triangles import triangle_count

    und = undirected_simple_edges(g).where(F.col("src") != F.col("dst"))
    deg = und.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    w = deg.agg(F.coalesce(
        F.sum(F.expr("deg * (deg - 1) div 2")), F.lit(0)).alias("n_wedges"))
    return w.crossJoin(triangle_count(g)).select(
        "n_wedges", "n_triangles",
        F.round(F.lit(3.0) * F.col("n_triangles")
                / F.greatest(F.col("n_wedges"), F.lit(1)).cast("double"),
                8).alias("transitivity"))


def rich_club(g: Graph, scale: int = 1_000_000) -> DataFrame:
    """Rich-club curve phi(k) = 2 E_k / (N_k (N_k - 1)) for every observed
    undirected-degree threshold k: N_k = #vertices with degree > k, E_k =
    #undirected simple edges whose BOTH endpoints have degree > k
    (equivalently min(d_u, d_v) > k). The classic "do the hubs of this
    crawl link to each other" diagnostic (Colizza et al., Nat. Phys. 2006
    — detecting rich-club ordering; public literature).

    Returns (k, n_nodes, n_edges, phi_ppm) for thresholds with N_k >= 2,
    phi_ppm = (2 E_k * scale) div (N_k (N_k - 1)) — all-BIGINT, no float
    seam with the twin.

    NOT one scan per k: both curves come from histograms. The degree
    histogram gives N_k, the per-edge min-endpoint-degree histogram gives
    E_k, and each cumulative-from-strictly-above is one window over the
    merged histogram axis — whose size is the number of DISTINCT degree
    values (<= max degree; a few thousand even for web graphs), so the
    single-partition window is a deliberate small-data step, like a driver
    cumsum, not a corpus-sized scan.
    """
    if scale < 1:
        raise ValueError("scale must be >= 1")
    from pyspark.sql.window import Window

    und = undirected_simple_edges(g).where(F.col("src") != F.col("dst"))
    deg = und.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("deg"))
    hd = deg.groupBy(F.col("deg").alias("val")).agg(
        F.count(F.lit(1)).alias("ncnt"))
    canon = und.where(F.col("src") < F.col("dst"))
    mdeg = (canon
            .join(deg.select(F.col("id").alias("src"),
                             F.col("deg").alias("sdeg")), "src")
            .join(deg.select(F.col("id").alias("dst"),
                             F.col("deg").alias("ddeg")), "dst")
            .select(F.least("sdeg", "ddeg").alias("val")))
    hm = mdeg.groupBy("val").agg(F.count(F.lit(1)).alias("ecnt"))
    axis = (hd.join(hm, "val", "full_outer")
            .select("val", F.coalesce("ncnt", F.lit(0)).alias("ncnt"),
                    F.coalesce("ecnt", F.lit(0)).alias("ecnt")))
    # one row per distinct degree value -> a ROWS frame of strictly-higher
    # values is exactly the strictly-greater-than-k cumulative
    w = (Window.orderBy(F.col("val").desc())
         .rowsBetween(Window.unboundedPreceding, -1))
    curve = axis.select(
        F.col("val").alias("k"),
        F.coalesce(F.sum("ncnt").over(w), F.lit(0)).alias("n_nodes"),
        F.coalesce(F.sum("ecnt").over(w), F.lit(0)).alias("n_edges"))
    return (curve.where(F.col("n_nodes") >= 2)
            .select("k", "n_nodes", "n_edges",
                    F.expr(f"(2 * n_edges * CAST({scale} AS BIGINT)) "
                           "div (n_nodes * (n_nodes - 1))")
                    .alias("phi_ppm")))


def powerlaw_alpha(g: Graph, xmin: int = 1,
                   direction: str = "out") -> DataFrame:
    """Continuous-MLE (Hill) estimate of the degree power-law exponent:
    alpha = 1 + n / sum(ln(deg / xmin)) over vertices with deg >= xmin
    (Clauset-Shalizi-Newman, SIAM Rev. 2009, eq. 3.1 — the standard quick
    check that a crawl's degree tail is web-shaped; in-degree alpha ~ 2.1
    for the web graph). One degree aggregation + one scalar aggregation,
    both map-side combined; no collect. ``alpha`` is NULL when the tail is
    degenerate (every degree == xmin, so the MLE diverges)."""
    if xmin < 1:
        raise ValueError("xmin must be >= 1")
    if direction not in ("out", "in"):
        raise ValueError("direction must be 'out' or 'in'")
    e = g.edges.where(F.col("src") != F.col("dst")) \
        .dropDuplicates(["src", "dst"])
    key = "src" if direction == "out" else "dst"
    deg = e.groupBy(F.col(key).alias("v")).agg(
        F.count(F.lit(1)).alias("deg"))
    return (
        deg.where(F.col("deg") >= xmin)
        .agg(F.count(F.lit(1)).alias("n_tail"),
             F.sum(F.log(F.col("deg") / F.lit(float(xmin)))).alias("s"))
        .select(
            "n_tail",
            F.round(F.when(F.col("s") > 0,
                           1.0 + F.col("n_tail") / F.col("s")), 8)
            .alias("alpha"))
    )


def powerlaw_sql(edges_sql: str, xmin: int = 1,
                 direction: str = "out") -> str:
    """DuckDB twin of ``powerlaw_alpha`` — same MLE, same NULL guard,
    same 8-decimal round."""
    key = {"out": "src", "in": "dst"}[direction]
    return f"""
        SELECT n_tail,
               ROUND(CASE WHEN s > 0 THEN 1.0 + n_tail / s END, 8) AS alpha
        FROM (
          SELECT COUNT(*) AS n_tail,
                 SUM(LN(deg / CAST({xmin} AS DOUBLE))) AS s
          FROM (
            SELECT COUNT(*) AS deg
            FROM (SELECT DISTINCT src, dst FROM ({edges_sql})
                  WHERE src <> dst) e
            GROUP BY {key}) d
          WHERE deg >= {xmin})"""


# ------------------------------------------------ SCC local tier + dispatch

class _SweepBudgetExceeded(Exception):
    pass


def _scc_kosaraju_arrays(s, d, n):
    """Linear-time iterative Kosaraju on CSR arrays — the local tier's
    DIAMETER-INDEPENDENT path (and a different algorithm from the
    iterative-Tarjan test oracle, so parity tests stay meaningful even
    when this path runs). Pass 1: DFS finish order on G; pass 2: DFS on
    G^T in reverse finish order, each tree is one SCC labeled by its
    minimum member id. Python loop constants, but O(V+E) regardless of
    structure — a 2M-vertex cycle takes seconds here vs 2M vectorized
    sweeps (O(V*E) total) in the min-label kernel."""
    import numpy as np

    def _csr(a, b):
        order = np.argsort(a, kind="stable")
        indices = b[order]
        indptr = np.zeros(n + 1, dtype=np.int64)
        np.add.at(indptr, a + 1, 1)
        np.cumsum(indptr, out=indptr)
        return indptr, indices

    fptr, fidx = _csr(s, d)
    visited = np.zeros(n, dtype=bool)
    cursor = fptr[:-1].copy()
    finish = np.empty(n, dtype=np.int64)
    nf = 0
    for root in range(n):
        if visited[root]:
            continue
        visited[root] = True
        stack = [root]
        while stack:
            v = stack[-1]
            pushed = False
            while cursor[v] < fptr[v + 1]:
                w = fidx[cursor[v]]
                cursor[v] += 1
                if not visited[w]:
                    visited[w] = True
                    stack.append(w)
                    pushed = True
                    break
            if not pushed:
                finish[nf] = v
                nf += 1
                stack.pop()

    tptr, tidx = _csr(d, s)
    comp = np.full(n, -1, dtype=np.int64)
    for i in range(n - 1, -1, -1):
        root = finish[i]
        if comp[root] != -1:
            continue
        members = [root]
        comp[root] = root
        stack = [root]
        while stack:
            v = stack.pop()
            for j in range(tptr[v], tptr[v + 1]):
                w = tidx[j]
                if comp[w] == -1:
                    comp[w] = root
                    members.append(w)
                    stack.append(w)
        m = min(members)
        if m != root:
            for w in members:
                comp[w] = m
    return comp


def _scc_local_arrays(s, d, n, sweep_budget: int = 128):
    """Vectorized trim + forward/backward min-label SCC on numpy arrays —
    the same algorithm shape as the distributed operator, one
    np.minimum.at per sweep. Min-label cost is O(diameter) sweeps of |E|
    work, so a deep core (the directed-cycle adversary) would turn this
    into O(V*E): after ``sweep_budget`` total sweeps the kernel restarts
    as linear-time Kosaraju (``_scc_kosaraju_arrays``) instead. Crawl
    cores converge in <30 sweeps, so the vectorized fast path keeps its
    throughput where it wins and the fallback bounds the worst case."""
    import numpy as np

    sweeps = 0
    try:
        comp = np.full(n, -1, dtype=np.int64)
        alive = np.ones(n, dtype=bool)
        while True:
            live = alive[s] & alive[d]
            ls, ld = s[live], d[live]
            # trim fixpoint: no live in- or out-edges => singleton
            while True:
                has_out = np.zeros(n, dtype=bool)
                has_in = np.zeros(n, dtype=bool)
                has_out[ls] = True
                has_in[ld] = True
                keep = alive & has_out & has_in
                trimmed = alive & ~keep
                if not trimmed.any():
                    break
                comp[trimmed] = np.flatnonzero(trimmed)
                alive = keep
                live = alive[ls] & alive[ld]
                ls, ld = ls[live], ld[live]
            if not alive.any():
                break
            ids = np.arange(n, dtype=np.int64)
            fwd = np.where(alive, ids, np.iinfo(np.int64).max)
            while True:
                prev = fwd.copy()
                np.minimum.at(fwd, ld, fwd[ls])
                sweeps += 1
                if sweeps > sweep_budget:
                    raise _SweepBudgetExceeded
                if np.array_equal(prev, fwd):
                    break
            bwd = np.where(alive, ids, np.iinfo(np.int64).max)
            while True:
                prev = bwd.copy()
                np.minimum.at(bwd, ls, bwd[ld])
                sweeps += 1
                if sweeps > sweep_budget:
                    raise _SweepBudgetExceeded
                if np.array_equal(prev, bwd):
                    break
            done = alive & (fwd == bwd)
            comp[done] = fwd[done]
            alive = alive & ~done
        return comp
    except _SweepBudgetExceeded:
        return _scc_kosaraju_arrays(s, d, n)


def strongly_connected_components_local(g: Graph) -> IterativeResult:
    """Driver-local SCC — the COST tier (same dispatch reasoning as
    pagerank_local/components_local: below RAM scale, vectorized numpy
    beats any distributed plan). Output schema identical to the
    distributed operator."""
    import numpy as np
    import pandas as pd

    t0 = time.monotonic()
    pdf = (
        g.edges.where(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"]).toPandas()
    )
    s = pdf["src"].to_numpy("int64")
    d = pdf["dst"].to_numpy("int64")
    n = max(g.num_vertices, 1)
    comp = _scc_local_arrays(s, d, n)
    df = g.spark.createDataFrame(pd.DataFrame({
        "id": np.arange(n, dtype=np.int64), "scc": comp}))
    return IterativeResult(df=df, iterations=1, metrics=[IterationMetrics(
        iteration=1, l1_residual=0.0, linf_residual=0.0,
        rows_shuffled=len(s), wall_s=time.monotonic() - t0,
        extra={"strategy": "local"})])


def strongly_connected_components_auto(g: Graph) -> IterativeResult:
    """COST-tiered dispatch: driver-local numpy below LOCAL_MAX_EDGES,
    the distributed trim+FW/BW operator above (same outputs, asserted in
    tests)."""
    from .pagerank_local import LOCAL_MAX_EDGES

    if g.edges.count() <= LOCAL_MAX_EDGES:
        return strongly_connected_components_local(g)
    return strongly_connected_components(g)


def condensation(g: Graph, scc_labels: DataFrame | None = None) -> DataFrame:
    """SCC condensation: the component DAG, (comp_src, comp_dst, cnt) with
    one row per ordered pair of DISTINCT components and cnt = multiplicity
    of original edges between them. This is the graph the bow-tie /
    reachability literature actually operates on (Broder et al., WWW 2000
    — public literature): acyclic by construction, typically orders of
    magnitude smaller than the crawl, so downstream reachability/toposort
    runs at component scale.

    ``scc_labels`` (id, scc) defaults to strongly_connected_components_auto
    — pass a precomputed label table to avoid recomputing (bowtie does the
    same). Plan: two |E| equi-joins against the |V| label table + one
    map-side-combined count agg; self-pairs (intra-component edges,
    including self-loops) drop out via the comp inequality.
    """
    if scc_labels is None:
        scc_labels = strongly_connected_components_auto(g).df
    lab = scc_labels.select("id", "scc")
    return (
        g.edges.select("src", "dst")
        .join(lab.select(F.col("id").alias("src"),
                         F.col("scc").alias("comp_src")), "src")
        .join(lab.select(F.col("id").alias("dst"),
                         F.col("scc").alias("comp_dst")), "dst")
        .where(F.col("comp_src") != F.col("comp_dst"))
        .groupBy("comp_src", "comp_dst")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


# ---------------------------------------------------------------- k-truss

def k_truss(g: Graph, k: int, max_rounds: int = 1000) -> IterativeResult:
    """The k-truss of the undirected simple graph: the maximal subgraph in
    which every edge participates in >= k-2 triangles (within the
    subgraph). Returns surviving canonical edges with their within-truss
    support: (src, dst, support), src < dst.

    Iterative edge peeling: per round, count each edge's support via the
    degree-oriented wedge join (hub guard inherited from
    operators/triangles.py), drop edges below k-2, repeat until stable.
    Denser than k-core — the standard community-core refinement
    (Cohen 2008). Each round is two equi-joins + one agg; the edge set
    shrinks monotonically.
    """
    if k < 2:
        raise ValueError("k-truss needs k >= 2")
    canon = (
        undirected_simple_edges(g)
        .where(F.col("src") < F.col("dst"))
        .localCheckpoint(eager=True)
    )
    n_edges = canon.count()
    metrics: list[IterationMetrics] = []
    rounds = 0
    support = None
    converged = False
    while rounds < max_rounds:
        rounds += 1
        t0 = time.monotonic()
        und = canon.unionAll(invert(canon))
        deg = und.groupBy(F.col("src").alias("id")).agg(
            F.count(F.lit(1)).alias("deg"))
        oriented = (
            und.join(deg.withColumnRenamed("id", "src")
                     .withColumnRenamed("deg", "sdeg"), "src")
            .join(deg.withColumnRenamed("id", "dst")
                  .withColumnRenamed("deg", "ddeg"), "dst")
            .where((F.col("sdeg") < F.col("ddeg"))
                   | ((F.col("sdeg") == F.col("ddeg"))
                      & (F.col("src") < F.col("dst"))))
            .select("src", "dst")
        )
        e1, e2 = oriented.alias("e1"), oriented.alias("e2")
        tri = (
            e1.join(e2, F.col("e1.dst") == F.col("e2.src"))
            .select(F.col("e1.src").alias("a"), F.col("e1.dst").alias("b"),
                    F.col("e2.dst").alias("c"))
            .join(oriented.alias("e3"),
                  (F.col("a") == F.col("e3.src"))
                  & (F.col("c") == F.col("e3.dst")), "left_semi")
        )
        # each triangle supports its 3 canonical edges
        tri_edges = (
            tri.select(F.least("a", "b").alias("src"),
                       F.greatest("a", "b").alias("dst"))
            .unionAll(tri.select(F.least("b", "c").alias("src"),
                                 F.greatest("b", "c").alias("dst")))
            .unionAll(tri.select(F.least("a", "c").alias("src"),
                                 F.greatest("a", "c").alias("dst")))
        )
        sup = tri_edges.groupBy("src", "dst").agg(
            F.count(F.lit(1)).alias("support"))
        support = (
            canon.join(sup, ["src", "dst"], "left")
            .select("src", "dst",
                    F.coalesce("support", F.lit(0)).alias("support"))
            .localCheckpoint(eager=True)
        )
        keep = support.where(F.col("support") >= k - 2) \
            .select("src", "dst").localCheckpoint(eager=True)
        n_keep = keep.count()
        metrics.append(IterationMetrics(
            iteration=rounds, l1_residual=float(n_edges - n_keep),
            linf_residual=float(1 if n_keep != n_edges else 0),
            rows_shuffled=n_edges, wall_s=time.monotonic() - t0,
            extra={"peeled": n_edges - n_keep}))
        if n_keep == n_edges:
            converged = True
            break
        canon, n_edges = keep, n_keep
        if n_keep == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"k-truss peel still removing edges after max_rounds="
            f"{max_rounds}; result would be a superset of the {k}-truss")
    out = support.where(F.col("support") >= k - 2) if support is not None \
        else canon.select("src", "dst", F.lit(0).alias("support"))
    return IterativeResult(df=out, iterations=rounds, metrics=metrics)


def trussness(g: Graph, max_rounds: int = 1000) -> IterativeResult:
    """Full truss decomposition: every canonical edge's truss number
    (k-truss convention: ``trussness(e) = max k such that e is in the
    k-truss``; triangle-free edges get 2), via the EDGE h-index fixpoint —
    the edge-side analogue of :func:`coreness` (Sariyuce, Seshadhri, Pinar
    — "Local algorithms for hierarchical dense subgraph discovery",
    WWW'18 / PVLDB 12(1): nucleus decomposition by h-index iteration).

    Start t(e) = support(e) (triangles through e); per round replace t(e)
    with min(t(e), h-index over {min(t(e1), t(e2)) : (e, e1, e2) a
    triangle}). The sequence is monotone non-increasing and converges
    exactly to trussness-2 — no global peel order, so the whole
    decomposition is joins + aggs. The triangle-edge incidence (3 rows per
    triangle, degree-oriented enumeration so hubs never fan out) is
    materialized ONCE and reused every round; per round: two incidence
    equi-joins + a histogram window (suffix-count h-index, same hub-safe
    shape as coreness — <= distinct-t rows per edge in any window task).

    Generalizes :func:`k_truss` (fixed-k membership): the k-truss equals
    the edges with trussness >= k (asserted in pytest).

    Returns (src, dst, trussness) over canonical (src < dst) simple edges.
    """
    spark = g.spark
    shuffle_p = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    canon = (
        undirected_simple_edges(g)
        .where(F.col("src") < F.col("dst"))
        .repartition(shuffle_p, "src", "dst")
        .localCheckpoint(eager=True)
    )
    from .triangles import triangles as _triangles
    tri = _triangles(g).select(
        F.least("a", "b").alias("x1"), F.greatest("a", "b").alias("y1"),
        F.least("b", "c").alias("x2"), F.greatest("b", "c").alias("y2"),
        F.least("a", "c").alias("x3"), F.greatest("a", "c").alias("y3"))
    # incidence: (src, dst) edge + its two triangle partners, 3 rows/triangle
    def _rot(e, o1, o2):
        return tri.select(
            F.col(f"x{e}").alias("src"), F.col(f"y{e}").alias("dst"),
            F.col(f"x{o1}").alias("o1s"), F.col(f"y{o1}").alias("o1d"),
            F.col(f"x{o2}").alias("o2s"), F.col(f"y{o2}").alias("o2d"))
    inc = (_rot(1, 2, 3).unionAll(_rot(2, 1, 3)).unionAll(_rot(3, 1, 2))
           .repartition(shuffle_p, "src", "dst")
           .localCheckpoint(eager=True))
    n_inc = inc.count()
    sup = inc.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("t"))
    labels = (canon.join(sup, ["src", "dst"], "left")
              .select("src", "dst", F.coalesce("t", F.lit(0)).alias("t"))
              .localCheckpoint(eager=True))

    def step(labels):
        m = (
            inc.join(labels.select(F.col("src").alias("o1s"),
                                   F.col("dst").alias("o1d"),
                                   F.col("t").alias("t1")), ["o1s", "o1d"])
            .join(labels.select(F.col("src").alias("o2s"),
                                F.col("dst").alias("o2d"),
                                F.col("t").alias("t2")), ["o2s", "o2d"])
            .select("src", "dst", F.least("t1", "t2").alias("v"))
        )
        return _h_index_sweep(labels, m, ("src", "dst"), "t", n_inc)

    return iterate(
        "trussness", labels, step,
        save=lambda labels: labels.select(
            "src", "dst", (F.col("t") + F.lit(2)).alias("trussness")),
        max_iters=max_rounds, must_converge=True)


def trussness_local(g: Graph) -> IterativeResult:
    """Driver-local truss decomposition — the COST tier: the sequential
    min-support heap peel (oracle.trussness) on collected COO arrays.
    Measured 8.1s vs 43.9s for the 13-round distributed h-index fixpoint
    on the 423k-edge pages graph — the same ~5x COST crossover as
    coreness_local. Output schema identical to :func:`trussness`."""
    import pandas as pd

    from .. import oracle as _oracle

    t0 = time.monotonic()
    pdf = g.edges.toPandas()
    tau = _oracle.trussness(pdf["src"].to_numpy("int64"),
                            pdf["dst"].to_numpy("int64"))
    out = pd.DataFrame(
        [(u, v, t) for (u, v), t in sorted(tau.items())],
        columns=["src", "dst", "trussness"])
    if out.empty:
        df = local_df(g.spark, [], "src LONG, dst LONG, trussness LONG")
    else:
        df = g.spark.createDataFrame(out)
    return IterativeResult(df=df, iterations=1, metrics=[IterationMetrics(
        iteration=1, l1_residual=0.0, linf_residual=0.0,
        rows_shuffled=len(pdf), wall_s=time.monotonic() - t0,
        extra={"strategy": "local"})])


def trussness_auto(g: Graph, max_rounds: int = 1000) -> IterativeResult:
    """COST-tiered dispatch: driver-local min-support peel below
    LOCAL_MAX_EDGES, the distributed edge h-index fixpoint above
    (identical outputs — the truss decomposition is unique; asserted in
    tests)."""
    from .pagerank_local import LOCAL_MAX_EDGES

    if g.edges.count() <= LOCAL_MAX_EDGES:
        return trussness_local(g)
    return trussness(g, max_rounds=max_rounds)


# --------------------------------------------- modularity & assortativity

def modularity(g: Graph, labels: DataFrame,
               label_col: str = "label") -> DataFrame:
    """Per-community Newman modularity terms over the undirected simple
    graph: (label, internal_edges, degree_sum, contrib) with
    contrib = internal/m - (degree_sum/(2m))^2; total modularity Q is the
    sum of contrib. ``labels`` is (id, <label_col>) — any community
    assignment (LP, CC, coloring). One canonical-edge join + two aggs.
    """
    und = undirected_simple_edges(g)
    canon = und.where(F.col("src") < F.col("dst"))
    lab = labels.select("id", F.col(label_col).alias("_lbl"))
    m = canon.count()
    if m == 0:
        raise ValueError("modularity needs at least one undirected edge")
    internal = (
        canon.join(lab.withColumnRenamed("id", "src")
                   .withColumnRenamed("_lbl", "ls"), "src")
        .join(lab.withColumnRenamed("id", "dst")
              .withColumnRenamed("_lbl", "ld"), "dst")
        .where(F.col("ls") == F.col("ld"))
        .groupBy(F.col("ls").alias("label"))
        .agg(F.count(F.lit(1)).alias("internal_edges"))
    )
    degsum = (
        und.join(lab.withColumnRenamed("id", "src"), "src")
        .groupBy(F.col("_lbl").alias("label"))
        .agg(F.count(F.lit(1)).alias("degree_sum"))
    )
    return (
        degsum.join(internal, "label", "left")
        .select(
            "label",
            F.coalesce("internal_edges", F.lit(0)).alias("internal_edges"),
            "degree_sum",
            F.round(
                F.coalesce("internal_edges", F.lit(0)) / F.lit(float(m))
                - (F.col("degree_sum") / F.lit(2.0 * m))
                * (F.col("degree_sum") / F.lit(2.0 * m)),
                8).alias("contrib"),
        )
    )


def assortativity(g: Graph) -> DataFrame:
    """One-row degree-assortativity coefficient (Newman 2002) over the
    undirected simple graph: Pearson correlation of (deg(u), deg(v)) across
    the 2|E| ordered edge stubs. All moments are integer sums, so the final
    float division is bit-identical in every engine. Returns
    (r double, n_stubs long)."""
    und = undirected_simple_edges(g)
    deg = und.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("deg"))
    stubs = (
        und.join(deg.withColumnRenamed("id", "src")
                 .withColumnRenamed("deg", "dx"), "src")
        .join(deg.withColumnRenamed("id", "dst")
              .withColumnRenamed("deg", "dy"), "dst")
    )
    agg = stubs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dx").alias("sx"),
        F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
    ).first()
    n, sx, sxx, sxy = (int(agg["n"]), int(agg["sx"]), int(agg["sxx"]),
                       int(agg["sxy"]))
    # symmetric stubs: sy = sx, syy = sxx
    den = n * sxx - sx * sx
    r = float(n * sxy - sx * sx) / den if den else 0.0
    import pandas as pd
    return g.spark.createDataFrame(pd.DataFrame(
        {"r": [round(r, 8)], "n_stubs": [n]}))


def closeness_centrality(g: Graph, landmarks: list[int],
                         directed: bool = True,
                         max_depth: int = 200) -> IterativeResult:
    """Incoming closeness c(v) = (r_v - 1) / S_v, where r_v = number of
    landmarks reaching v (v itself included when it is a landmark) and
    S_v = sum of those distances; 0.0 when nothing else reaches v. Exact
    when ``landmarks`` = all vertices. Same single multi-landmark BFS as
    harmonic_centrality — only the final aggregate differs."""
    if not landmarks:
        raise ValueError("closeness_centrality needs at least one landmark")
    res = bfs_levels(g, seed_frame(g.spark, landmarks), directed=directed,
                     max_depth=max_depth, per_source=True)
    c = (
        res.df.groupBy("id")
        .agg(F.count(F.lit(1)).alias("r"), F.sum("dist").alias("s"))
        .select("id",
                F.when(F.col("s") > 0,
                       (F.col("r") - 1) / F.col("s"))
                .otherwise(F.lit(0.0)).alias("closeness"))
    )
    out = (
        g.vertices().join(c, "id", "left")
        .select("id",
                F.coalesce("closeness", F.lit(0.0)).alias("closeness"))
    )
    return IterativeResult(df=out, iterations=res.iterations,
                           metrics=res.metrics)


def jaccard_neighbors(g: Graph, min_common: int = 1,
                      max_fanout: int = 10_000) -> DataFrame:
    """Jaccard neighbor similarity over the undirected simple graph:
    (a, b, common, jac) with jac = |N(a) ∩ N(b)| / |N(a) ∪ N(b)|, pairs
    generated through common neighbors (middles guarded by ``max_fanout``
    like adamic_adar — guarded middles undercount the intersection, a
    documented recall bound; degrees stay exact). The union size comes
    from deg(a) + deg(b) - common, so no second pair join is needed."""
    und = undirected_simple_edges(g)
    deg = und.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("deg"))
    mid = (
        und.join(deg.withColumnRenamed("id", "src")
                 .withColumnRenamed("deg", "zdeg"), "src")
        .where((F.col("zdeg") >= 2) & (F.col("zdeg") <= max_fanout))
    )
    m1, m2 = mid.alias("m1"), mid.alias("m2")
    pairs = (
        m1.join(m2, F.col("m1.src") == F.col("m2.src"))
        .where(F.col("m1.dst") < F.col("m2.dst"))
        .groupBy(F.col("m1.dst").alias("a"), F.col("m2.dst").alias("b"))
        .agg(F.count(F.lit(1)).alias("common"))
        .where(F.col("common") >= min_common)
    )
    return (
        pairs
        .join(deg.withColumnRenamed("id", "a")
              .withColumnRenamed("deg", "da"), "a")
        .join(deg.withColumnRenamed("id", "b")
              .withColumnRenamed("deg", "db"), "b")
        .select("a", "b", "common",
                F.round(F.col("common")
                        / (F.col("da") + F.col("db") - F.col("common")),
                        8).alias("jac"))
    )


# ------------------------------------------- Weisfeiler-Lehman refinement

def wl_refinement(g: Graph, rounds: int = 3) -> DataFrame:
    """1-dimensional Weisfeiler-Lehman color refinement over the undirected
    simple graph: per round, every vertex's label becomes
    md5(old_label | sorted list of neighbor labels). After r rounds two
    vertices share a label only if their radius-r neighborhoods are
    indistinguishable by 1-WL — the standard structural fingerprint for
    graph/subgraph dedup (pairs with the engine's document fingerprints).
    Init label = md5(degree). Returns (id, wl_label).

    Per round: one |E| join + one (id) agg whose value is the
    lexicographically sorted neighbor-label list (array_sort over
    collect_list — deterministic regardless of shuffle order), then a
    codegen'd md5. Labels are 32-char hex, so state stays |V| x 32 bytes.
    """
    und = undirected_simple_edges(g)
    deg = und.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("deg"))
    labels = (
        g.vertices().join(deg, "id", "left")
        .select("id", F.md5(F.coalesce(F.col("deg"), F.lit(0))
                            .cast("string")).alias("lbl"))
        .localCheckpoint(eager=True)
    )
    for _ in range(rounds):
        nbr = (
            und.join(labels.select(F.col("id").alias("dst"),
                                   F.col("lbl").alias("nlbl")), "dst")
            .groupBy(F.col("src").alias("id"))
            .agg(F.array_join(F.array_sort(F.collect_list("nlbl")), ",")
                 .alias("nbrs"))
        )
        labels = (
            labels.join(nbr, "id", "left")
            .select("id", F.md5(F.concat_ws(
                "|", F.col("lbl"), F.coalesce("nbrs", F.lit(""))))
                .alias("lbl"))
            .localCheckpoint(eager=True)
        )
    return labels.select("id", F.col("lbl").alias("wl_label"))


def coreness(g: Graph, max_rounds: int = 1000) -> IterativeResult:
    """Full core decomposition: every vertex's core number over the
    undirected simple graph, via the distributed h-index fixpoint
    (Montresor et al. 2011 / Lu et al. 2016): start c(v) = deg(v), then
    repeatedly replace c(v) with the h-index of its neighbors' current c
    values (the largest h with >= h neighbors at c >= h), min'd with the
    previous value. The sequence is monotone non-increasing and converges
    exactly to the coreness — no global peel ordering needed, so every
    sweep is one equi-join + one per-vertex window rank + one agg, all
    shuffling on id. Generalizes ``centrality.k_core`` (membership at a
    fixed k) to the whole decomposition in one run.

    Returns (id, coreness) for the dense vertex space (isolated vertices
    0). Raises RuntimeError if the fixpoint is not reached in
    ``max_rounds`` (cannot happen for max_rounds >= |V|: each
    non-converged round decreases some c by >= 1).
    """
    spark = g.spark
    shuffle_p = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    und = undirected_simple_edges(g).repartition(shuffle_p, "src").persist()
    n_und = und.count()
    verts = g.vertices().repartition(shuffle_p, "id").persist()
    deg = und.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("c"))
    labels = (verts.join(deg, "id", "left")
              .select("id", F.coalesce("c", F.lit(0)).alias("c"))
              .localCheckpoint(eager=True))

    # NOTE on semi-naive: restricting recompute to neighbors-of-changed
    # was measured 3x SLOWER here (101s vs 31s on the 423k-edge pages
    # graph) — the frontier only collapses in the last few rounds while
    # every earlier round pays two extra |E|-scale joins. Full recompute
    # per round is the right plan for this operator.
    def step(labels):
        nbr = (
            und.join(labels.select(F.col("id").alias("dst"),
                                   F.col("c").alias("v")), "dst")
            .select(F.col("src").alias("id"), "v")
        )
        return _h_index_sweep(labels, nbr, ("id",), "c",
                              n_und + g.num_vertices)

    return iterate(
        "coreness", labels, step,
        save=lambda labels: labels.select(
            "id", F.col("c").alias("coreness")),
        max_iters=max_rounds, must_converge=True, release=(und, verts))


def _h_index_sweep(labels: DataFrame, nbr: DataFrame, keys: tuple[str, ...],
                   col: str, rows_shuffled: int):
    """One h-index sweep, the step of coreness (keys ``("id",)``) and
    trussness (keys ``("src", "dst")``): each key's value ``col`` in
    ``labels`` becomes min(value, h-index of its neighbour values ``v`` in
    ``nbr``). Returns the fixpoint driver's step tuple; the residual is
    the number of changed keys.

    The suffix-count window runs over the per-key HISTOGRAM of neighbour
    values (<= distinct-v rows per key), not over raw neighbour rows: a
    1e7-in-degree web hub would otherwise put 1e7 rows into one window
    task per round — the classic skew bottleneck. The h-index over the
    histogram is max over distinct values v of min(v, count_ge(v)), which
    equals max over sorted neighbour rows of min(row_number, v): both reach
    their maximum at the last row of each value group, where row_number =
    the suffix count.
    """
    from pyspark.sql.window import Window
    keys = list(keys)
    wcum = (Window.partitionBy(*keys).orderBy(F.col("v").desc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    hist = nbr.groupBy(*keys, "v").agg(F.count(F.lit(1)).alias("cnt"))
    h = (hist.withColumn("cum", F.sum("cnt").over(wcum))
         .groupBy(*keys)
         .agg(F.max(F.least(F.col("v"), F.col("cum"))).alias("h")))
    new = (
        labels.join(h, keys, "left")
        .select(*keys, F.least(F.col(col), F.coalesce("h", F.lit(0)))
                .alias(col),
                (F.coalesce("h", F.lit(0)) < F.col(col)).alias("_changed"))
        .localCheckpoint(eager=True)
    )
    n_changed = new.where("_changed").count()
    return (new.select(*keys, col), float(n_changed),
            float(1 if n_changed else 0), rows_shuffled,
            {"changed": n_changed})


def _coreness_local_arrays(s, d, n):
    """Batagelj-Zaversnik O(V+E) bucket peel over COO arrays (the exact
    core numbers; same algorithm as oracle.coreness but bin-sorted rather
    than argmin-per-step, so it stays linear at the COST-tier edge cap)."""
    import numpy as np

    keep = s != d
    s, d = s[keep].astype(np.int64), d[keep].astype(np.int64)
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    # canonical undirected dedup, then both directions CSR-sorted by src
    key = np.unique(np.minimum(s, d) * np.int64(n) + np.maximum(s, d))
    a, b = key // n, key % n
    ls = np.concatenate([a, b])
    ld = np.concatenate([b, a])
    order = np.argsort(ls, kind="stable")
    adj = ld[order].tolist()
    deg = np.bincount(ls, minlength=n).astype(np.int64)
    indptr = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(deg, out=indptr[1:])
    indptr = indptr.tolist()

    md = int(deg.max()) if len(deg) else 0
    bin_ptr = np.zeros(md + 1, dtype=np.int64)
    np.cumsum(np.bincount(deg, minlength=md + 1)[:-1], out=bin_ptr[1:])
    vert = np.argsort(deg, kind="stable")
    vert_pos = np.empty(n, dtype=np.int64)
    vert_pos[vert] = np.arange(n)
    vert = vert.tolist()
    vert_pos = vert_pos.tolist()
    bin_ptr = bin_ptr.tolist()
    degc = deg.tolist()
    core = deg.copy()
    for i in range(n):
        v = vert[i]
        dv = degc[v]
        core[v] = dv
        for u in adj[indptr[v]:indptr[v + 1]]:
            du = degc[u]
            if du > dv:
                pu = vert_pos[u]
                pw = bin_ptr[du]
                w = vert[pw]
                if u != w:
                    vert[pu], vert[pw] = w, u
                    vert_pos[u], vert_pos[w] = pw, pu
                bin_ptr[du] = pw + 1
                degc[u] = du - 1
    return core


def coreness_local(g: Graph) -> IterativeResult:
    """Driver-local core decomposition — the COST tier (same dispatch
    reasoning as scc/cc/pagerank local kernels: below RAM scale the
    bucket peel beats 20+ distributed h-index rounds by orders of
    magnitude). Output schema identical to ``coreness``."""
    import numpy as np
    import pandas as pd

    t0 = time.monotonic()
    pdf = (
        g.edges.where(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"]).toPandas()
    )
    n = max(g.num_vertices, 1)
    core = _coreness_local_arrays(pdf["src"].to_numpy("int64"),
                                  pdf["dst"].to_numpy("int64"), n)
    df = g.spark.createDataFrame(pd.DataFrame({
        "id": np.arange(n, dtype=np.int64), "coreness": core}))
    return IterativeResult(df=df, iterations=1, metrics=[IterationMetrics(
        iteration=1, l1_residual=0.0, linf_residual=0.0,
        rows_shuffled=len(pdf), wall_s=time.monotonic() - t0,
        extra={"strategy": "local"})])


def coreness_auto(g: Graph, max_rounds: int = 1000) -> IterativeResult:
    """COST-tiered dispatch: driver-local Batagelj-Zaversnik peel below
    LOCAL_MAX_EDGES, the distributed h-index fixpoint above (identical
    outputs — the core decomposition is unique; asserted in tests)."""
    from .pagerank_local import LOCAL_MAX_EDGES

    if g.edges.count() <= LOCAL_MAX_EDGES:
        return coreness_local(g)
    return coreness(g, max_rounds=max_rounds)
