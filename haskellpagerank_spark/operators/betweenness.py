"""Betweenness centrality — Brandes' algorithm (2001) level-synchronously
over (landmark, vertex) composite keys.

bc(v) = sum over source landmarks s != v and targets t of the fraction of
shortest s->t paths through v. Exact when ``landmarks`` = all vertices;
a uniform landmark sample gives the standard Brandes-Pich estimate scaled
by |V|/|landmarks| (caller scales). No reference analogue — this is the
classic "which pages broker the web's shortest routes" analysis.

Two passes, both expressed as Catalyst joins:
- forward: level-synchronous multi-landmark BFS that also accumulates
  sigma (the NUMBER of shortest paths, summed over predecessors) — one
  equi-join edges x frontier + one (lm, id) two-phase agg per level;
- backward: dependency accumulation from the deepest level up,
  delta(u) = sum over successors v one level deeper of
  sigma(u)/sigma(v) * (1 + delta(v)) — one join per level against only
  the two adjacent level slices.

Scale shape: state is (lm, id) keyed rows — |landmarks| x |ball| total
across the run; every shuffle is on the composite key, hubs cost one
aggregated row per (lm, id). Python never touches data.
"""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from ..plans.checkpoint import IterationMetrics
from ..plans.fixpoint import IterativeResult
from ..session import local_df
from .graph import Graph


def betweenness(g: Graph, landmarks: list[int],
                max_depth: int = 200) -> IterativeResult:
    """(id, bc) over the dense vertex space (0.0 for vertices on no
    shortest path). Directed, unweighted, endpoints excluded — textbook
    Brandes semantics, exact for landmarks = V."""
    if not landmarks:
        raise ValueError("betweenness needs at least one landmark")
    spark = g.spark
    shuffle_p = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    e = g.edges.where(F.col("src") != F.col("dst")) \
        .dropDuplicates(["src", "dst"]) \
        .repartition(shuffle_p, "src").persist()
    e.count()

    lm_set = sorted({int(s) for s in landmarks})
    lm_df = local_df(spark, [(s,) for s in lm_set], "id long")
    frontier = (
        g.vertices().join(lm_df, "id", "left_semi")
        .select(F.col("id").alias("lm"), "id",
                F.lit(0).cast("long").alias("d"),
                F.lit(1.0).alias("sig"))
        .repartition(shuffle_p, "lm", "id")
        .localCheckpoint(eager=True)
    )
    seen = frontier
    levels = [frontier]  # level l slice: (lm, id, d, sig)
    metrics: list[IterationMetrics] = []
    depth = 0
    while depth < max_depth:
        depth += 1
        t0 = time.monotonic()
        nxt = (
            e.join(frontier.withColumnRenamed("id", "src"), "src")
            .groupBy("lm", F.col("dst").alias("id"))
            .agg(F.sum("sig").alias("sig"))
            .join(seen.select("lm", "id"), ["lm", "id"], "left_anti")
            .select("lm", "id", F.lit(depth).cast("long").alias("d"), "sig")
            .localCheckpoint(eager=True)
        )
        n_new = nxt.count()
        metrics.append(IterationMetrics(
            iteration=depth, l1_residual=float(n_new),
            linf_residual=float(1 if n_new else 0),
            rows_shuffled=n_new, wall_s=time.monotonic() - t0,
            extra={"phase": "forward", "reached": n_new}))
        if n_new == 0:
            depth -= 1
            break
        seen = seen.unionByName(nxt).localCheckpoint(eager=True)
        levels.append(nxt)
        frontier = nxt

    # backward accumulation, deepest level first
    delta = levels[-1].select(
        "lm", "id", F.lit(0.0).alias("delta")) if levels else None
    acc = delta
    for lev in range(len(levels) - 2, -1, -1):
        t0 = time.monotonic()
        cur = levels[lev]
        below = levels[lev + 1].withColumnRenamed("sig", "vsig") \
            .join(delta.withColumnRenamed("id", "vid")
                  .withColumnRenamed("lm", "vlm"),
                  (F.col("lm") == F.col("vlm")) & (F.col("id") == F.col("vid")))
        contrib = (
            cur.withColumnRenamed("id", "src")
            .join(e, "src")
            .join(below.select("lm", F.col("id").alias("dst"),
                               "vsig", "delta"), ["lm", "dst"])
            .groupBy("lm", F.col("src").alias("id"))
            .agg(F.sum((F.col("sig") / F.col("vsig"))
                       * (1.0 + F.col("delta"))).alias("dep"))
        )
        delta = (
            cur.select("lm", "id")
            .join(contrib, ["lm", "id"], "left")
            .select("lm", "id", F.coalesce("dep", F.lit(0.0)).alias("delta"))
            .localCheckpoint(eager=True)
        )
        acc = acc.unionByName(delta)
        metrics.append(IterationMetrics(
            iteration=len(levels) - 1 - lev, l1_residual=0.0,
            linf_residual=0.0, rows_shuffled=0,
            wall_s=time.monotonic() - t0,
            extra={"phase": "backward", "level": lev}))

    bc = (
        acc.where(F.col("lm") != F.col("id"))
        .groupBy("id").agg(F.sum("delta").alias("bc"))
    )
    out = (
        g.vertices().join(bc, "id", "left")
        .select("id", F.coalesce("bc", F.lit(0.0)).alias("bc"))
    )
    e.unpersist()
    return IterativeResult(df=out, iterations=depth, metrics=metrics)


def sampled_pivots(n: int, keep_num: int = 2, keep_den: int = 5) -> list[int]:
    """Deterministic Brandes–Pich pivot set: vertex v is a pivot iff
    LCG(v) % keep_den < keep_num — the same LCG family as the matching /
    sampled-triangle gates, so the DuckDB twin reproduces the set with one
    WHERE predicate."""
    return [v for v in range(n)
            if ((v * 1103515245 + 12345) % 2147483648) % keep_den < keep_num]


def betweenness_sampled(g: Graph, keep_num: int = 2, keep_den: int = 5,
                        max_depth: int = 200) -> IterativeResult:
    """Brandes–Pich estimated betweenness (Brandes & Pich, "Centrality
    estimation in large networks", IJBC 2007): run the exact two-pass
    kernel from a DETERMINISTIC pivot sample (p = keep_num/keep_den of the
    vertex space) and scale dependencies by n/|pivots| — the unbiased
    estimator, and the only way to run betweenness at web scale (exact is
    one BFS+backward pass per vertex; the sampled run is |pivots|/n of
    that work with the identical per-pivot plan). Returns (id, bc) with
    the scaled estimate."""
    n = g.num_vertices
    pivots = sampled_pivots(n, keep_num, keep_den)
    if not pivots:
        raise ValueError(
            f"pivot sample {keep_num}/{keep_den} selected no vertex "
            f"out of {n}")
    res = betweenness(g, pivots, max_depth=max_depth)
    scaled = res.df.select(
        "id",
        (F.col("bc") * F.lit(float(n)) / F.lit(float(len(pivots))))
        .alias("bc"))
    return IterativeResult(df=scaled, iterations=res.iterations,
                           metrics=res.metrics)


def betweenness_sql(edges_sql: str, verts_sql: str, max_depth: int,
                    round_to: int = 6, sources_sql: str | None = None,
                    scale_num: float = 1.0,
                    scale_den: float = 1.0) -> str:
    """DuckDB twin: unrolled forward sigma levels f0..fD (empty past the
    diameter) and backward dependency levels, landmarks = all vertices —
    matches ``betweenness(g, range(n))``. With ``sources_sql`` (an (id)
    row set) the landmark seeds are restricted to it and the final bc is
    multiplied by scale_num/scale_den BEFORE rounding — the Brandes–Pich
    estimator, matching ``betweenness_sampled`` (which scales as
    bc * n / k in that operand order)."""
    src_seed = sources_sql if sources_sql is not None else verts_sql
    ctes = [
        f"e AS MATERIALIZED (SELECT DISTINCT src, dst FROM ({edges_sql}) "
        "WHERE src <> dst)",
        f"f0 AS MATERIALIZED (SELECT id AS lm, id, 1.0 AS sig "
        f"FROM ({src_seed}))",
        "seen0 AS MATERIALIZED (SELECT lm, id FROM f0)",
    ]
    for l in range(1, max_depth + 1):
        p = l - 1
        ctes += [
            f"f{l} AS MATERIALIZED (SELECT t.lm, t.id, t.sig FROM ("
            f"SELECT f.lm, e.dst AS id, SUM(f.sig) AS sig "
            f"FROM f{p} f JOIN e ON e.src = f.id GROUP BY 1, 2) t "
            f"LEFT JOIN seen{p} s ON s.lm = t.lm AND s.id = t.id "
            "WHERE s.id IS NULL)",
            f"seen{l} AS MATERIALIZED (SELECT lm, id FROM seen{p} "
            f"UNION ALL SELECT lm, id FROM f{l})",
        ]
    # backward: d{l} = dependency of level-l vertices
    ctes.append(
        f"d{max_depth} AS MATERIALIZED (SELECT lm, id, 0.0 AS delta "
        f"FROM f{max_depth})")
    for l in range(max_depth - 1, -1, -1):
        b = l + 1
        ctes.append(
            f"d{l} AS MATERIALIZED (SELECT f.lm, f.id, "
            "COALESCE(SUM((f.sig / fb.sig) * (1.0 + db.delta)), 0.0) "
            f"AS delta FROM f{l} f "
            f"LEFT JOIN e ON e.src = f.id "
            f"LEFT JOIN f{b} fb ON fb.lm = f.lm AND fb.id = e.dst "
            f"LEFT JOIN d{b} db ON db.lm = f.lm AND db.id = e.dst "
            "AND fb.id IS NOT NULL "
            "GROUP BY 1, 2)")
    all_d = " UNION ALL ".join(
        f"SELECT lm, id, delta FROM d{l}" for l in range(max_depth + 1))
    return (
        "WITH " + ",\n".join(ctes)
        + f""",
        alld AS MATERIALIZED ({all_d}),
        bc AS (SELECT id, SUM(delta) AS bc FROM alld
               WHERE lm <> id GROUP BY 1)
        SELECT v.id, ROUND(COALESCE(bc.bc, 0.0) * {scale_num!r}
                           / {scale_den!r}, {round_to}) AS bc
        FROM ({verts_sql}) v LEFT JOIN bc ON v.id = bc.id"""
    )
