"""Driver-contract query registry: Spark queries + DuckDB oracle SQL.

Each entry pairs a PySpark DataFrame query (run at sf0.01 by the driver)
with an ANSI-SQL twin DuckDB runs on the same parquet tables; the driver
compares row counts, schemas, and order-insensitive value hashes. Column
names/aliases are kept identical on both sides; every float is rounded
identically (round(x, N)) in both engines.

Queries without an oracle (xxhash64-based sketches, approximate ANN,
sequential-semantics colorings, generated-pages pipelines) get the driver's
rows-only check; their exact-correctness tests live in pytest against the
NumPy/brute-force oracles instead.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions import dedup as D
from .functions import similarity as S
from .functions import text as T
from .operators import coloring as C
from .operators.components import connected_components, label_propagation
from .operators.graph import Graph, from_edge_df, invert, out_degrees, sinks
from .operators.pagerank import PageRankConfig, run_pagerank
from .operators.triangles import triangle_count
from .functions.sketches import approx_distinct_sql as _ad_sql
from .sources.tpch_graph import CS_EDGES_SQL, cs_graph
from . import sql_twins as SQ

DAMPING = 0.85
NATION_TOP_EDGES = 120


# --------------------------------------------------------------- SQL pieces

# dense cs vertex space: customers 0..C-1, suppliers C..C+S-1
CS_VERTS_SQL = """
    SELECT CAST(c_custkey AS BIGINT) AS id FROM customer
    UNION ALL
    SELECT CAST(s_suppkey + (SELECT MAX(c_custkey) + 1 FROM customer) AS BIGINT)
    FROM supplier
"""

# nation trade graph: top-N heaviest customer-nation -> supplier-nation lanes.
# The c_nationkey <> s_nationkey filter must NOT appear in the same SELECT as
# the customer x supplier join graph: DuckDB's reorderer then treats the
# inequality as a join predicate and builds a near-cross-product
# customer x supplier intermediate (~144M rows at sf0.1 — 70s per inline,
# and the triangles twin inlines this 18x). Pre-aggregating per
# (customer-nation, suppkey) behind a GROUP BY fence caps the join at
# 25 x |supplier| rows; SUM of the partial counts == the original COUNT(*).
NATION_EDGES_SQL = f"""
    SELECT CAST(a AS BIGINT) AS src, CAST(b AS BIGINT) AS dst FROM (
        SELECT t.a, s.s_nationkey AS b, SUM(t.cnt_) AS cnt
        FROM (
            SELECT c.c_nationkey AS a, l.l_suppkey AS sk, COUNT(*) AS cnt_
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            GROUP BY 1, 2
        ) t
        JOIN supplier s ON t.sk = s.s_suppkey
        WHERE t.a <> s.s_nationkey
        GROUP BY 1, 2
        ORDER BY cnt DESC, a, b
        LIMIT {NATION_TOP_EDGES}
    )
"""

NATION_VERTS_SQL = "SELECT CAST(n_nationkey AS BIGINT) AS id FROM nation"

# tokenization twins (Spark: split(trim(text), '\\s+'))
TOK_SQL = "string_split_regex(trim(text), '\\s+')"


def nation_trade_graph(spark: SparkSession, sf_dir: str) -> Graph:
    """Top-N heaviest nation->nation trade lanes (deterministic tie-break) —
    the sparse fixture graph for full-fixpoint SQL oracles."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_suppkey")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_nationkey")
    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet").select(
        "s_suppkey", "s_nationkey")
    n = int(spark.read.parquet(f"{sf_dir}/nation.parquet").agg(
        (F.max("n_nationkey") + 1).alias("n")).first()["n"])
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .where(F.col("c_nationkey") != F.col("s_nationkey"))
        .groupBy(F.col("c_nationkey").alias("a"),
                 F.col("s_nationkey").alias("b"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
        .limit(NATION_TOP_EDGES)
        .select(F.col("a").cast("long").alias("src"),
                F.col("b").cast("long").alias("dst"))
    )
    return from_edge_df(edges, num_vertices=n)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# --------------------------------------------- programmatic SQL generation

def pagerank_sql(edges_sql: str, verts_sql: str, iters: int,
                 damping: float = DAMPING, round_to: int = 8) -> str:
    """Unrolled redistribute-mode power iteration (matches
    operators.pagerank._superstep exactly, fp-op for fp-op)."""
    ctes = [
        f"verts AS MATERIALIZED ({verts_sql})",
        f"e AS MATERIALIZED (SELECT src, dst, COUNT(*) AS cnt FROM ({edges_sql}) "
        "WHERE src <> dst GROUP BY 1, 2)",
        "deg AS MATERIALIZED (SELECT src, SUM(cnt) AS deg FROM e GROUP BY 1)",
        "w AS MATERIALIZED (SELECT e.src, e.dst, CAST(e.cnt AS DOUBLE) / deg.deg AS w "
        "FROM e JOIN deg ON e.src = deg.src)",
        "nn AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM verts)",
        "r0 AS MATERIALIZED (SELECT id, 1.0 / (SELECT n FROM nn) AS rank FROM verts)",
    ]
    for i in range(1, iters + 1):
        p = i - 1
        ctes.append(
            f"dang{i} AS MATERIALIZED (SELECT COALESCE(SUM(r.rank), 0.0) AS m "
            f"FROM r{p} r LEFT JOIN deg ON r.id = deg.src "
            "WHERE deg.src IS NULL)"
        )
        ctes.append(
            f"m{i} AS MATERIALIZED (SELECT w.dst AS id, SUM(w.w * r.rank) AS msg "
            f"FROM w JOIN r{p} r ON w.src = r.id GROUP BY 1)"
        )
        ctes.append(
            f"r{i} AS MATERIALIZED (SELECT v.id, "
            f"(1.0 - {damping}) / (SELECT n FROM nn) + {damping} * "
            f"(COALESCE(m.msg, 0.0) + (SELECT m FROM dang{i}) / (SELECT n FROM nn)) AS rank "
            f"FROM verts v LEFT JOIN m{i} m ON v.id = m.id)"
        )
    return ("WITH " + ",\n".join(ctes)
            + f"\nSELECT id, ROUND(rank, {round_to}) AS rank FROM r{iters}")


def lp_sql(edges_sql: str, verts_sql: str, iters: int) -> str:
    """Unrolled synchronous label propagation (mode of distinct-neighbor
    labels, ties -> smallest label; isolated vertices keep their own)."""
    ctes = [
        f"verts AS MATERIALIZED ({verts_sql})",
        f"e0 AS MATERIALIZED ({edges_sql})",
        "und AS MATERIALIZED (SELECT DISTINCT src, dst FROM "
        "(SELECT src, dst FROM e0 WHERE src <> dst "
        "UNION ALL SELECT dst, src FROM e0 WHERE src <> dst))",
        "l0 AS MATERIALIZED (SELECT id, id AS label FROM verts)",
    ]
    for i in range(1, iters + 1):
        p = i - 1
        ctes.append(
            f"c{i} AS MATERIALIZED (SELECT u.dst AS id, l.label, COUNT(*) AS cnt "
            f"FROM und u JOIN l{p} l ON u.src = l.id GROUP BY 1, 2)"
        )
        ctes.append(
            f"b{i} AS MATERIALIZED (SELECT id, label FROM (SELECT id, label, "
            "ROW_NUMBER() OVER (PARTITION BY id ORDER BY cnt DESC, label ASC) AS rn "
            f"FROM c{i}) WHERE rn = 1)"
        )
        ctes.append(
            f"l{i} AS MATERIALIZED (SELECT l.id, COALESCE(b.label, l.label) AS label "
            f"FROM l{p} l LEFT JOIN b{i} b ON l.id = b.id)"
        )
    return ("WITH " + ",\n".join(ctes)
            + f"\nSELECT id, label FROM l{iters}")


def pagerank_reflect_sql(edges_sql: str, verts_sql: str, iters: int,
                         damping: float = 0.15, round_to: int = 8) -> str:
    """Unrolled reference-semantics power iteration: amendSinks edge
    reflection (EdgeArray.hs:103-116), dconst = (1-d)/#non-sinks over the
    amended graph, isolated vertices pinned to rank 0 (PageRank.hs:35),
    init 1/|V| (Main.hs:138). Matches operators.pagerank reflect mode."""
    ctes = [
        f"verts AS MATERIALIZED ({verts_sql})",
        f"e0 AS MATERIALIZED (SELECT src, dst FROM ({edges_sql}) WHERE src <> dst)",
        "snk AS MATERIALIZED (SELECT id FROM verts "
        "WHERE id NOT IN (SELECT src FROM e0))",
        "refl AS MATERIALIZED (SELECT e.dst AS src, e.src AS dst "
        "FROM e0 e JOIN snk ON e.dst = snk.id)",
        "ae AS MATERIALIZED (SELECT * FROM e0 UNION ALL SELECT * FROM refl)",
        "e AS MATERIALIZED (SELECT src, dst, COUNT(*) AS cnt FROM ae GROUP BY 1, 2)",
        "deg AS MATERIALIZED (SELECT src, SUM(cnt) AS deg FROM e GROUP BY 1)",
        "w AS MATERIALIZED (SELECT e.src, e.dst, CAST(e.cnt AS DOUBLE) / deg.deg AS w "
        "FROM e JOIN deg ON e.src = deg.src)",
        "ns AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM deg)",
        "nv AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM verts)",
        "r0 AS MATERIALIZED (SELECT id, 1.0 / (SELECT n FROM nv) AS rank FROM verts)",
    ]
    for i in range(1, iters + 1):
        p = i - 1
        ctes.append(
            f"m{i} AS MATERIALIZED (SELECT w.dst AS id, SUM(w.w * r.rank) AS msg "
            f"FROM w JOIN r{p} r ON w.src = r.id GROUP BY 1)"
        )
        ctes.append(
            f"r{i} AS MATERIALIZED (SELECT v.id, "
            "CASE WHEN d.src IS NULL THEN 0.0 ELSE "
            f"(1.0 - {damping}) / (SELECT n FROM ns) + {damping} * "
            "COALESCE(m.msg, 0.0) END AS rank "
            f"FROM verts v LEFT JOIN m{i} m ON v.id = m.id "
            "LEFT JOIN deg d ON v.id = d.src)"
        )
    return ("WITH " + ",\n".join(ctes)
            + f"\nSELECT id, ROUND(rank, {round_to}) AS rank FROM r{iters}")


def pagerank_gs_sql(edges_sql: str, verts_sql: str, sweeps: int,
                    num_blocks: int = 1, damping: float = 0.15,
                    round_to: int = 8) -> str:
    """Block Gauss–Seidel twin of ``operators.pagerank_async`` — the
    reference's async family (PageRank.hs:72-82) as ONE recursive CTE.

    Unrolling GS per-CTE like :func:`pagerank_reflect_sql` is impossible
    (each vertex update reads the updates before it — |V|·sweeps CTEs), so
    the whole rank vector rides a single recursive CTE as a LIST<DOUBLE>
    column and each recursion step replays one vertex update of the
    reference's in-place ascending-id sweep (``vertexLoop``): step t
    updates vertex v = t mod |V|; in-chunk reads (``nstart`` boundaries,
    ArrayUtils.hs:7-17) see the current vector ``x``; cross-chunk reads
    see the sweep-start snapshot ``x0`` — the BSP schedule of
    ``oracle.pagerank_block_gs``; ``num_blocks=1`` is the reference's
    deterministic sequential regime (and all of "pagerankND"). Graph
    semantics identical to :func:`pagerank_reflect_sql`: amendSinks
    reflection, dconst = (1-d)/#non-sinks, isolated pinned 0, init 1/|V|.
    Requires the dense-id vertex contract and num_blocks <= |V|."""
    d = f"CAST({damping} AS DOUBLE)"
    n = "(SELECT n FROM nv)"
    # nstart boundaries (oracle.block_starts): q, r = divmod(n, B);
    # block(v) = v < r*(q+1) ? v // (q+1) : (v - r) // q
    b = num_blocks
    blk_expr = (
        f"CASE WHEN id < ({n} % {b}) * (({n} // {b}) + 1) "
        f"THEN id // (({n} // {b}) + 1) "
        f"ELSE (id - ({n} % {b})) // ({n} // {b}) END"
    )
    # sweep-start snapshot: at the first step of a sweep (t mod n = 0) the
    # snapshot IS the current vector (taken before updating vertex 0).
    # p.first is precomputed in prog — DuckDB forbids subqueries in lambdas.
    snap = "CASE WHEN p.first THEN s.x ELSE s.x0 END"
    gather = (
        "COALESCE(list_sum(list_transform(range(1, len(p.srcs) + 1), "
        "i -> p.ws[i] * (CASE WHEN p.same[i] THEN s.x ELSE " + snap + " END)"
        "[CAST(p.srcs[i] + 1 AS INTEGER)])), CAST(0.0 AS DOUBLE))"
    )
    newv = (
        "CASE WHEN NOT p.has_out THEN CAST(0.0 AS DOUBLE) "
        f"ELSE (CAST(1.0 AS DOUBLE) - {d}) / (SELECT n FROM ns) "
        f"+ {d} * {gather} END"
    )
    return f"""
WITH RECURSIVE
verts AS MATERIALIZED (SELECT id FROM ({verts_sql}) _v),
e0 AS MATERIALIZED (SELECT src, dst FROM ({edges_sql}) _e WHERE src <> dst),
snk AS MATERIALIZED (SELECT id FROM verts
                     WHERE id NOT IN (SELECT src FROM e0)),
refl AS MATERIALIZED (SELECT e.dst AS src, e.src AS dst
                      FROM e0 e JOIN snk ON e.dst = snk.id),
ae AS MATERIALIZED (SELECT * FROM e0 UNION ALL SELECT * FROM refl),
e AS MATERIALIZED (SELECT src, dst, COUNT(*) AS cnt FROM ae GROUP BY 1, 2),
deg AS MATERIALIZED (SELECT src, SUM(cnt) AS deg FROM e GROUP BY 1),
w AS MATERIALIZED (SELECT e.src, e.dst, CAST(e.cnt AS DOUBLE) / deg.deg AS w
                   FROM e JOIN deg ON e.src = deg.src),
nv AS MATERIALIZED (SELECT COUNT(*) AS n FROM verts),
ns AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM deg),
blk AS MATERIALIZED (SELECT id, {blk_expr} AS b FROM verts),
inadj AS MATERIALIZED (
    SELECT v.id AS v,
           COALESCE(LIST(w.src ORDER BY w.src) FILTER (w.src IS NOT NULL),
                    []) AS srcs,
           COALESCE(LIST(w.w ORDER BY w.src) FILTER (w.src IS NOT NULL),
                    []) AS ws,
           COALESCE(LIST(sb.b = vb.b ORDER BY w.src)
                    FILTER (w.src IS NOT NULL), []) AS same
    FROM verts v
    JOIN blk vb ON vb.id = v.id
    LEFT JOIN w ON w.dst = v.id
    LEFT JOIN blk sb ON sb.id = w.src
    GROUP BY 1),
prog AS MATERIALIZED (
    SELECT t.t AS t, i.v, i.srcs, i.ws, i.same,
           (t.t % {n} = 0) AS first,
           (dg.src IS NOT NULL) AS has_out
    FROM (SELECT UNNEST(range(0, {sweeps} * {n})) AS t) t
    JOIN inadj i ON i.v = t.t % {n}
    LEFT JOIN deg dg ON dg.src = i.v),
state(t, x, x0) AS (
    SELECT CAST(0 AS BIGINT),
           (SELECT LIST(CAST(1.0 AS DOUBLE) / nv.n ORDER BY id)
            FROM verts, nv),
           (SELECT LIST(CAST(1.0 AS DOUBLE) / nv.n ORDER BY id)
            FROM verts, nv)
    UNION ALL
    SELECT s.t + 1,
           s.x[:CAST(p.v AS INTEGER)] || [{newv}]
               || s.x[CAST(p.v + 2 AS INTEGER):],
           {snap}
    FROM state s JOIN prog p ON p.t = s.t
)
SELECT v.id, ROUND(s.x[CAST(v.id + 1 AS INTEGER)], {round_to}) AS rank
FROM state s, verts v WHERE s.t = {sweeps} * {n}
"""


def cc_minlabel_sql(edges_sql: str, verts_sql: str, iters: int) -> str:
    """Unrolled synchronous min-label propagation over the undirected simple
    edge set — the fixpoint (component = min reachable id) equals
    operators.components.connected_components provided `iters` >= the
    propagation diameter (assert convergence via l{k} == l{k-1} upstream)."""
    ctes = [
        f"verts AS MATERIALIZED ({verts_sql})",
        f"e0 AS MATERIALIZED (SELECT src, dst FROM ({edges_sql}) WHERE src <> dst)",
        "und AS MATERIALIZED (SELECT DISTINCT src, dst FROM "
        "(SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0))",
        "l0 AS MATERIALIZED (SELECT id, id AS label FROM verts)",
    ]
    for i in range(1, iters + 1):
        p = i - 1
        ctes.append(
            f"c{i} AS MATERIALIZED (SELECT u.dst AS id, MIN(l.label) AS cand "
            f"FROM und u JOIN l{p} l ON u.src = l.id GROUP BY 1)"
        )
        ctes.append(
            f"l{i} AS MATERIALIZED (SELECT l.id, "
            f"LEAST(l.label, COALESCE(c.cand, l.label)) AS label "
            f"FROM l{p} l LEFT JOIN c{i} c ON l.id = c.id)"
        )
    return ("WITH " + ",\n".join(ctes)
            + f"\nSELECT id, label AS component FROM l{iters}")


CC_NATION_SQL = f"""
WITH RECURSIVE
e0 AS ({NATION_EDGES_SQL}),
und AS (SELECT DISTINCT src, dst FROM
        (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0)),
verts AS ({NATION_VERTS_SQL}),
reach(id, comp) AS (
    SELECT id, id FROM verts
    UNION
    SELECT u.dst, r.comp FROM reach r JOIN und u ON u.src = r.id
)
SELECT id, MIN(comp) AS component FROM reach GROUP BY id
"""

TRIANGLES_NATION_SQL = f"""
WITH e0 AS ({NATION_EDGES_SQL}),
und AS (SELECT DISTINCT src, dst FROM
        (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0)),
canon AS (SELECT src, dst FROM und WHERE src < dst)
SELECT COUNT(*) AS n_triangles
FROM canon e1 JOIN canon e2 ON e1.dst = e2.src
JOIN canon e3 ON e3.src = e1.src AND e3.dst = e2.dst
"""

# DOULION sampled-subgraph triangle count — the LCG keep-predicate is the
# exact mirror of operators.triangles.sampled_triangle_count(2/5, seed
# 12345); the twin checks the raw sampled count (an exact integer)
TRIANGLES_SAMPLED_NATION_SQL = f"""
WITH e0 AS ({NATION_EDGES_SQL}),
und AS (SELECT DISTINCT src, dst FROM
        (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0)),
canon AS (SELECT src, dst FROM und WHERE src < dst
          AND ((src * 1103515245 + dst * 12345 + 12345) % 2147483648)
              % 5 < 2)
SELECT COUNT(*) AS n_triangles
FROM canon e1 JOIN canon e2 ON e1.dst = e2.src
JOIN canon e3 ON e3.src = e1.src AND e3.dst = e2.dst
"""


# -------------------------------------------------------------- the queries

def _q_out_degree_topk(spark, sf_dir):
    g = cs_graph(spark, sf_dir)
    return (
        out_degrees(g).orderBy(F.desc("deg"), F.asc("id")).limit(20)
        .select("id", "deg")
    )


def _q_degree_histogram(spark, sf_dir):
    g = cs_graph(spark, sf_dir)
    return out_degrees(g).groupBy("deg").agg(
        F.count(F.lit(1)).alias("n_vertices"))


def _q_sinks(spark, sf_dir):
    return sinks(cs_graph(spark, sf_dir))


def _q_invert_nation(spark, sf_dir):
    g = nation_trade_graph(spark, sf_dir)
    return invert(g.edges)


def _q_amend_sinks_nation(spark, sf_dir):
    from .operators.graph import amend_sinks
    g = amend_sinks(nation_trade_graph(spark, sf_dir))
    return g.edges.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("cnt"))


def _q_pagerank_superstep(spark, sf_dir):
    g = cs_graph(spark, sf_dir)
    res = run_pagerank(g, PageRankConfig(
        damping=DAMPING, num_iters=1, sink_mode="redistribute"))
    return res.ranks.select("id", F.round("rank", 8).alias("rank"))


def _q_pagerank_cs_5(spark, sf_dir):
    g = cs_graph(spark, sf_dir)
    res = run_pagerank(g, PageRankConfig(
        damping=DAMPING, num_iters=5, sink_mode="redistribute"))
    return res.ranks.select("id", F.round("rank", 8).alias("rank"))


def _q_pagerank_nation_30(spark, sf_dir):
    from .operators.pagerank_csr import run_pagerank_spmv
    g = nation_trade_graph(spark, sf_dir)
    res = run_pagerank_spmv(g, PageRankConfig(
        damping=DAMPING, num_iters=30, sink_mode="redistribute"))
    return res.ranks.select("id", F.round("rank", 8).alias("rank"))


def _q_cc_cs(spark, sf_dir):
    g = cs_graph(spark, sf_dir)
    return connected_components(g).df


def _q_cc_incremental_nation(spark, sf_dir):
    """Incremental CC through the driver gate: converge on a deterministic
    ~2/3 edge subset, then warm-start over the full graph from those
    labels. The fixpoint is schedule-independent, so the oracle is the
    same recursive-CTE CC (CC_NATION_SQL) — hash-equality proves the warm
    path lands on the exact full-graph components."""
    from .operators.components import connected_components_incremental
    from .operators.graph import from_edge_df
    g = nation_trade_graph(spark, sf_dir)
    base = from_edge_df(
        g.edges.where((F.col("src") + F.col("dst")) % 3 != 0),
        num_vertices=g.num_vertices)
    prev = connected_components(base)
    return connected_components_incremental(g, prev.df).df


def _q_lp_cs_3(spark, sf_dir):
    """Label propagation on the larger cs multiset graph (exercises the
    dedup-to-undirected path at |E| scale rather than the 25-vertex
    nation fixture)."""
    g = cs_graph(spark, sf_dir)
    return label_propagation(g, num_iters=3).df


def _q_triangles_nation(spark, sf_dir):
    return triangle_count(nation_trade_graph(spark, sf_dir))


def _q_prism_nation(spark, sf_dir):
    """Incremental (activation-set) PageRank, reference semantics, on the
    amended nation graph — ALL THREE frontier representations (the
    distributed analogue of the reference's prism1-6 bookkeeping variants,
    Prism.hs:299-543) union-tagged into one row set. Each mode is driven
    to a 1e-11 activation threshold so every tag agrees with the converged
    fixpoint (the DuckDB twin: the reflect-mode power iteration unrolled
    far past machine precision, cross-joined with the mode tags) to well
    inside the 6-decimal rounding; a divergence in ANY mode breaks the
    hash."""
    from .operators.prism import FRONTIER_MODES, run_pagerank_incremental
    g = nation_trade_graph(spark, sf_dir)
    out = None
    for mode in FRONTIER_MODES:
        res = run_pagerank_incremental(g, PageRankConfig(
            damping=0.15, tol=1e-11, sink_mode="reflect", max_iters=300),
            frontier_mode=mode)
        tagged = res.ranks.select(
            F.lit(mode).alias("mode"), "id",
            F.round("rank", 6).alias("rank"))
        out = tagged if out is None else out.unionByName(tagged)
    return out


def _q_triangles_per_vertex_nation(spark, sf_dir):
    from .operators.triangles import triangles_per_vertex
    return triangles_per_vertex(nation_trade_graph(spark, sf_dir))


def _q_triangles_incremental_nation(spark, sf_dir):
    """Incremental triangle count through the gate: one-shot count on a
    deterministic ~2/3 edge subset, then the delta enumeration over the
    rest. The total is delta-path-independent, so the oracle is the same
    full-graph triangle SQL as triangle_count_nation."""
    from .operators.graph import from_edge_df
    from .operators.triangles import triangle_count, triangle_count_incremental
    g = nation_trade_graph(spark, sf_dir)
    cond = (F.col("src") + F.col("dst")) % 3 != 0
    base = from_edge_df(g.edges.where(cond), num_vertices=g.num_vertices)
    prev = triangle_count(base).first()["n_triangles"]
    return triangle_count_incremental(base, g.edges.where(~cond), prev)


def _q_undirected_nation(spark, sf_dir):
    from .operators.graph import merge_undirected
    return merge_undirected(nation_trade_graph(spark, sf_dir)).edges


def _q_coloring_greedy_nation(spark, sf_dir):
    return C.greedy_coloring(nation_trade_graph(spark, sf_dir)).df


def _q_coloring_bounded_nation(spark, sf_dir):
    """Bounded-palette greedy (graphColoring, GraphColoring.hs:319-336)
    with palette |V| — never binds, so the fixed point equals greedy; the
    oracle twin carries the same bounded mex."""
    g = nation_trade_graph(spark, sf_dir)
    return C.bounded_coloring(g, num_colors=g.num_vertices).df


def _q_coloring_layout_nation(spark, sf_dir):
    """getGraphColoring1D' flat bucket layout over the greedy coloring."""
    g = nation_trade_graph(spark, sf_dir)
    return C.color_layout_1d(C.greedy_coloring(g).df)


def _q_src_frequency_nation(spark, sf_dir):
    """frequency (EdgeArray.hs:66-67): per-present-source counts."""
    from .operators.graph import src_frequencies
    return src_frequencies(nation_trade_graph(spark, sf_dir).edges)


def _q_coloring_jp_nation(spark, sf_dir):
    """JP with explicit LCG priorities (sql_twins.JP_PRIORITY_SQL) instead
    of the xxhash64 default — same fixed point machinery, but the priority
    function is reproducible in DuckDB, so the driver gate hash-checks the
    full JP coloring."""
    g = nation_trade_graph(spark, sf_dir)
    pri = g.vertices().select(
        "id",
        ((F.col("id") * F.lit(1103515245) + F.lit(12345))
         % F.lit(2147483648)).alias("priority"))
    return C.jones_plassmann(g, priorities=pri).df


def _q_mis_nation(spark, sf_dir):
    """Deterministic-Luby maximal independent set with the same LCG
    priorities as the JP gate run; in_mis (1/0) rides the family's color
    column. The DuckDB twin derives the identical set through the
    MIS == JP-color-1 theorem (sql_twins.mis_sql)."""
    g = nation_trade_graph(spark, sf_dir)
    pri = g.vertices().select(
        "id",
        ((F.col("id") * F.lit(1103515245) + F.lit(12345))
         % F.lit(2147483648)).alias("priority"))
    return C.maximal_independent_set(g, priorities=pri).df.select(
        "id", F.col("in_mis").cast("int").alias("color"))


# (a cs-graph Jones–Plassmann run lives in pytest —
# tests/test_coloring.py::test_jp_valid_on_cs_graph — rather than the driver
# gate: its fixed point needs tens of rounds on the dense 1600-vertex graph
# and a rows-only check adds no correctness signal over the validity test)


def _q_pages_pagerank(spark, sf_dir):
    """M0 showcase: deterministic pages -> extract -> encode -> PageRank.
    The encoded link graph (edges + url dictionary) is exported as a
    parquet handoff; the DuckDB twin unrolls the same 5-sweep power
    iteration over it, so the full pipeline output is hash-checked.
    Top-20 ordering uses the ROUNDED rank (+ id tie-break) so both engines
    rank identically."""
    from .sources.pages import build_graph, generate_pages
    pages = generate_pages(spark, num_pages=2000, seed=42, avg_links=6)
    g, vertices = build_graph(pages)
    g.edges.write.mode("overwrite").parquet(
        f"{SQ.HANDOFF_DIR}/pages_edges.parquet")
    vertices.write.mode("overwrite").parquet(
        f"{SQ.HANDOFF_DIR}/pages_vertices.parquet")
    res = run_pagerank(g, PageRankConfig(
        damping=DAMPING, num_iters=5, sink_mode="redistribute"))
    r = res.ranks.select("id", F.round("rank", 8).alias("rank"))
    top = r.orderBy(F.desc("rank"), F.asc("id")).limit(20)
    # vertices stays cached: the returned (lazy) plan joins through it —
    # the harness consumes it and tears down the session per run
    return top.join(vertices, "id").select("url", "id", "rank")


def _q_token_stats(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return T.with_token_stats(docs).select(
        "doc_id", "n_tokens", "n_pieces", "n_chars_measured",
        F.round("avg_token_len", 6).alias("avg_token_len"))


def _q_quality(spark, sf_dir):
    return T.quality_features(_docs(spark, sf_dir)).select(
        "doc_id", "n_tokens", "unique_token_ratio", "stopword_ratio",
        "avg_token_len", "quality_score")


def _q_lang_id(spark, sf_dir):
    return T.lang_scores(_docs(spark, sf_dir)).select(
        "doc_id", "hits_de", "hits_en", "hits_es", "hits_fr", "lang_pred")


def _q_fingerprint(spark, sf_dir):
    return T.fingerprint(_docs(spark, sf_dir))


def _q_corpus_prep(spark, sf_dir):
    """The composed training-corpus pipeline: exact dedup -> quality gate
    -> language gate -> annotation, one Catalyst plan."""
    from .functions.pipeline import prepare_corpus
    return prepare_corpus(_docs(spark, sf_dir), lang="en", min_quality=0.5)


def _q_exact_dedup(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return (
        docs.select(F.md5("text").alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.min("doc_id").alias("canonical_id"))
    )


def _q_neardup_jaccard(spark, sf_dir):
    return D.jaccard_pairs_blocked(
        _docs(spark, sf_dir), n=3, threshold=0.5, block_tokens=2)


def _q_minhash_lsh(spark, sf_dir):
    """md5 hash mode so candidate generation is DuckDB-reproducible and the
    driver gate hash-checks the full LSH pipeline (xxhash64 mode keeps the
    brute-force-Jaccard parity pytest)."""
    return D.minhash_lsh_pairs(
        _docs(spark, sf_dir), n=3, num_hashes=64, bands=16, threshold=0.5,
        hash_mode="md5")


def _q_neardup_clusters(spark, sf_dir):
    """LSH pairs -> min-label CC over participants -> canonical doc per
    cluster. md5 hash mode so the DuckDB twin reproduces candidate
    generation; the twin's recursive CTE is the transitive-closure
    ground truth for the cluster assignment."""
    return D.neardup_clusters(
        _docs(spark, sf_dir), n=3, num_hashes=64, bands=16, threshold=0.5,
        hash_mode="md5")


def _q_simhash_pairs(spark, sf_dir):
    """md5 hash mode (60-bit signatures, 4x15-bit banding) — DuckDB twin
    hash-checks signatures, banding, and Hamming filter exactly."""
    return D.simhash_near_pairs(_docs(spark, sf_dir), max_hamming=12,
                                hash_mode="md5")


def _q_cosine_pairs(spark, sf_dir):
    return S.cosine_pairs(_emb(spark, sf_dir), threshold=0.35)


def _q_ann_topk(spark, sf_dir):
    return S.ann_topk_bruteforce(
        _emb(spark, sf_dir), query_ids=list(range(10)), k=5)


def _q_ann_lsh(spark, sf_dir):
    """rerank="sql" keeps the left-fold dot product the DuckDB twin
    reproduces bit-exactly; production default is the Arrow einsum re-rank
    (ulp-identical, pytest-pinned)."""
    return S.ann_lsh_pairs(_emb(spark, sf_dir), dim=64, threshold=0.35,
                           rerank="sql")


def _q_ann_ivf(spark, sf_dir):
    """IVF-bucketed ANN. The fitted unit centroids are exported as a
    parquet handoff so the DuckDB twin re-derives assignment, probing, and
    exact re-rank from the same quantizer (k-means itself is not SQL;
    recall vs brute force stays pytest-measured)."""
    import pandas as pd
    emb = _emb(spark, sf_dir)
    cents = S.fit_ivf_centroids(emb, n_cells=16)
    cdf = spark.createDataFrame(
        pd.DataFrame({"cell": list(range(len(cents))),
                      "c": [[float(x) for x in row] for row in cents]}),
        schema="cell int, c array<double>")
    cdf.coalesce(1).write.mode("overwrite").parquet(
        f"{SQ.HANDOFF_DIR}/ann_ivf_centroids.parquet")
    return S.ann_ivf_topk(emb, query_ids=list(range(10)), k=5,
                          centroids=cents)


def _q_events_user_daily(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.groupBy("user_id", F.date_trunc("day", "ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum("value"), 6).alias("total_value"))
    )


def _q_pagerank_spmv_cs_5(spark, sf_dir):
    """CSR-block SpMV physical strategy, same logical query as
    pagerank_cs_5 — proves the fast path is hash-exact vs the oracle."""
    from .operators.pagerank_csr import run_pagerank_spmv
    g = cs_graph(spark, sf_dir)
    res = run_pagerank_spmv(g, PageRankConfig(
        damping=DAMPING, num_iters=5, sink_mode="redistribute"))
    return res.ranks.select("id", F.round("rank", 8).alias("rank"))


def _q_pagerank_reflect_nation_5_jacobi(spark, sf_dir):
    """Reference semantics (amendSinks reflection, d=0.15, isolated -> 0,
    init 1/|V|; EdgeArray.hs:103-116, PageRank.hs:35) on the nation graph."""
    g = nation_trade_graph(spark, sf_dir)
    res = run_pagerank(g, PageRankConfig(
        damping=0.15, num_iters=5, sink_mode="reflect"))
    return res.ranks.select("id", F.round("rank", 8).alias("rank"))


def _q_pagerank_reflect_nation_5(spark, sf_dir):
    """Reference reflect semantics on the nation graph, union-tagged across
    the full SCHEDULE family (r5): ``jacobi`` is the synchronous power
    iteration (PageRankStep.hs); ``gs`` is the async/sequential Gauss-Seidel
    regime — ``run_pagerank_async(num_blocks=1)``, the reference's
    deterministic path below the 7000-vertex threshold and ALL of
    "pagerankND" (PageRank.hs:72-74, PageRankNonDet.hs:66) — and
    ``block_gs`` the nstart 4-chunk BSP schedule (PageRank.hs:75-82), the
    reproducible member of the chunk-parallel/VC/EC lock family. Each tag
    is hash-checked against its own DuckDB twin (the GS tags against the
    recursive list-CTE ``pagerank_gs_sql``), so a divergence in any
    schedule breaks the gate."""
    from .operators.pagerank_async import run_pagerank_async
    g = nation_trade_graph(spark, sf_dir)
    tag = lambda s, df: df.select(  # noqa: E731
        F.lit(s).alias("schedule"), "id",
        F.round("rank", 8).alias("rank"))
    cfg = lambda: PageRankConfig(  # noqa: E731
        damping=0.15, num_iters=5, sink_mode="reflect")
    jac = _q_pagerank_reflect_nation_5_jacobi(spark, sf_dir).select(
        F.lit("jacobi").alias("schedule"), "id", "rank")
    gs = tag("gs", run_pagerank_async(g, cfg(), num_blocks=1).ranks)
    bgs = tag("block_gs", run_pagerank_async(g, cfg(), num_blocks=4).ranks)
    return jac.unionByName(gs).unionByName(bgs)


def _q_pagerank_topk_nation(spark, sf_dir):
    """Top-k ranked vertices (deterministic tie-break on rounded rank, id)."""
    from .operators.pagerank_csr import run_pagerank_spmv
    g = nation_trade_graph(spark, sf_dir)
    res = run_pagerank_spmv(g, PageRankConfig(
        damping=DAMPING, num_iters=30, sink_mode="redistribute"))
    r = res.ranks.select("id", F.round("rank", 8).alias("rank"))
    return r.orderBy(F.desc("rank"), F.asc("id")).limit(10)


def _q_pagerank_pp_nation(spark, sf_dir):
    """Per-color Gauss–Seidel ("pagerankPP") on the nation graph, 3 sweeps
    over the greedy coloring — the DuckDB twin unrolls coloring + sweeps x
    color-slots and must agree to 8 decimals."""
    from .operators.pagerank_pp import run_pagerank_pp
    g = nation_trade_graph(spark, sf_dir)
    res = run_pagerank_pp(g, PageRankConfig(
        damping=0.15, num_iters=3, sink_mode="reflect"))
    return res.ranks.select("id", F.round("rank", 8).alias("rank"))


def _q_cc_spmv_cs(spark, sf_dir):
    """CSR-block SpMV connected components, same oracle as cc_cs."""
    from .operators.components_csr import connected_components_spmv
    g = cs_graph(spark, sf_dir)
    return connected_components_spmv(g).df


def _q_cc_auto_cs(spark, sf_dir):
    """Auto-tiered CC (driver-local numpy at gate scale), same oracle as
    cc_cs — proves the fast tier is hash-identical to the distributed
    paths."""
    from .operators.components import connected_components_auto
    return connected_components_auto(cs_graph(spark, sf_dir)).df


def _q_lp_auto_cs_3(spark, sf_dir):
    """Auto-tiered LP, same oracle as lp_cs_3."""
    from .operators.components import label_propagation_auto
    return label_propagation_auto(cs_graph(spark, sf_dir), num_iters=3).df


def _q_coloring_d2_nation(spark, sf_dir):
    return C.distance2_coloring(nation_trade_graph(spark, sf_dir)).df


def _q_coloring_speculative_nation(spark, sf_dir):
    return C.speculative_coloring(nation_trade_graph(spark, sf_dir)).df


def _media(spark, sf_dir):
    """Deterministic multimodal table derived from documents: payload =
    utf-8 text bytes (opaque binary), typed metadata columns."""
    return _docs(spark, sf_dir).select(
        F.col("doc_id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int")).alias("kind"),
        F.encode("text", "UTF-8").alias("payload"),
        ((F.col("doc_id") * 37) % 59000 + 1000).cast("int")
        .alias("duration_ms"),
    )


def _q_coreness_nation(spark, sf_dir):
    """Full core decomposition via the distributed h-index fixpoint
    (structure.coreness); nation graph converges in 3 rounds — the twin
    unrolls 6 (no-op rounds at the fixpoint are harmless)."""
    from .operators.structure import coreness
    return coreness(nation_trade_graph(spark, sf_dir)).df


def _q_eigenvector_nation(spark, sf_dir):
    """Eigenvector centrality, 20 normalized power-iteration sweeps
    (centrality.eigenvector_centrality)."""
    from .operators.centrality import eigenvector_centrality
    res = eigenvector_centrality(nation_trade_graph(spark, sf_dir),
                                 num_iters=20)
    return res.df.select("id",
                         F.round("eigenvector", 8).alias("eigenvector"))


def _q_katz_nation(spark, sf_dir):
    """Katz centrality, 10 unrolled sweeps at alpha=0.02 (safe for the
    25-vertex nation graph: alpha * max_in_degree < 0.5)."""
    from .operators.centrality import katz
    res = katz(nation_trade_graph(spark, sf_dir), alpha=0.02, beta=1.0,
               num_iters=10)
    return res.df.select("id", F.round("katz", 8).alias("katz"))


def _q_hits_nation(spark, sf_dir):
    """HITS hubs/authorities, 10 L2-normalized sweeps (centrality.hits)."""
    from .operators.centrality import hits
    res = hits(nation_trade_graph(spark, sf_dir), num_iters=10)
    return res.df.select(
        "id", F.round("hub", 8).alias("hub"),
        F.round("authority", 8).alias("authority"))


def _q_ppr_nation(spark, sf_dir):
    """Personalized PageRank from seed nations {0, 7, 14} — teleport and
    dangling mass return to the seeds (centrality.personalized_pagerank)."""
    from .operators.centrality import personalized_pagerank
    res = personalized_pagerank(
        nation_trade_graph(spark, sf_dir), seeds=[0, 7, 14],
        damping=DAMPING, num_iters=20)
    return res.df.select("id", F.round("rank", 8).alias("rank"))


def _q_bfs_nation(spark, sf_dir):
    """Directed multi-hop BFS distances from nation 0 (semi-naive
    frontier); reached vertices only."""
    from .operators.centrality import bfs_distances
    res = bfs_distances(nation_trade_graph(spark, sf_dir), [0],
                        directed=True)
    return res.df


def _q_kcore_nation(spark, sf_dir):
    """6-core of the undirected nation trade graph: iterative peel to the
    maximal subgraph with min-degree >= 6 (centrality.k_core)."""
    from .operators.centrality import k_core
    return k_core(nation_trade_graph(spark, sf_dir), k=6).df


def _q_clustering_nation(spark, sf_dir):
    """Per-vertex local clustering coefficient over the undirected nation
    trade graph (structure.clustering_coefficient)."""
    from .operators.structure import clustering_coefficient
    return clustering_coefficient(nation_trade_graph(spark, sf_dir)).select(
        "id", "deg", "n_triangles", F.round("cc", 8).alias("cc"))


def _q_cocitation_nation(spark, sf_dir):
    """Co-citation pair counts (common in-citers per target pair) with the
    citing-fanout hub guard (structure.cocitation)."""
    from .operators.structure import cocitation
    return cocitation(nation_trade_graph(spark, sf_dir), min_common=2)


def _q_scc_nation(spark, sf_dir):
    """Strongly connected components via trim + forward/backward min-label
    rounds (structure.strongly_connected_components)."""
    from .operators.structure import strongly_connected_components
    return strongly_connected_components(nation_trade_graph(spark, sf_dir)).df


def _q_scc_auto_nation(spark, sf_dir):
    """SCC via the COST-tiered dispatch (picks the driver-local numpy
    kernel at this |E|); output identical to scc_nation."""
    from .operators.structure import strongly_connected_components_auto
    return strongly_connected_components_auto(
        nation_trade_graph(spark, sf_dir)).df


def _q_bowtie_nation(spark, sf_dir):
    """Broder bow-tie decomposition (CORE/IN/OUT/OTHER) around the largest
    SCC (structure.bowtie)."""
    from .operators.structure import bowtie
    return bowtie(nation_trade_graph(spark, sf_dir)).df


def _q_sssp_nation(spark, sf_dir):
    """Weighted shortest paths from nation 0, Bellman-Ford supersteps with
    a semi-naive frontier (structure.sssp). Deterministic per-edge weights
    w = 1 + (src*31 + dst) % 7 so the DuckDB twin reproduces them."""
    from .operators.structure import sssp
    g = nation_trade_graph(spark, sf_dir)
    we = g.edges.dropDuplicates(["src", "dst"]).select(
        "src", "dst",
        (F.lit(1.0) + (F.col("src") * 31 + F.col("dst")) % 7).alias("w"))
    res = sssp(g, we, [0])
    return res.df.select("id", F.round("dist", 6).alias("dist"))


def _q_harmonic_nation(spark, sf_dir):
    """Exact harmonic centrality (landmarks = all 25 nations) via one
    multi-landmark BFS (structure.harmonic_centrality)."""
    from .operators.structure import harmonic_centrality
    g = nation_trade_graph(spark, sf_dir)
    res = harmonic_centrality(g, list(range(g.num_vertices)), directed=True)
    return res.df.select("id", F.round("harmonic", 8).alias("harmonic"))


def _q_betweenness_nation(spark, sf_dir):
    """Betweenness family, union-tagged as (kind, id, bc): the exact
    Brandes run (landmarks = all nations) plus the Brandes–Pich sampled
    estimate from the deterministic 2/5 LCG pivot set (10 of 25 nations),
    scaled n/k before rounding — both reproduced by the same unrolled
    twin with a sources filter (sql_twins.betweenness_sql_twin)."""
    from .operators.betweenness import betweenness, betweenness_sampled
    g = nation_trade_graph(spark, sf_dir)
    exact = betweenness(g, list(range(g.num_vertices))).df.select(
        F.lit("exact").alias("kind"), "id", F.round("bc", 6).alias("bc"))
    smp = betweenness_sampled(g, keep_num=2, keep_den=5).df.select(
        F.lit("sampled").alias("kind"), "id", F.round("bc", 6).alias("bc"))
    return exact.unionByName(smp)


def _q_ktruss_nation(spark, sf_dir):
    """Truss family, union-tagged as (kind, src, dst, v): the 6-truss
    membership with within-truss support (edge peel, structure.k_truss)
    plus the FULL truss decomposition via the edge h-index fixpoint
    (structure.trussness; round-5 fold, unrolled twin
    sql_twins.trussness_sql)."""
    from .operators.structure import k_truss, trussness
    g = nation_trade_graph(spark, sf_dir)
    kt = k_truss(g, k=6).df.select(
        F.lit("ktruss6").alias("kind"), "src", "dst",
        F.col("support").cast("long").alias("v"))
    tr = trussness(g).df.select(
        F.lit("trussness").alias("kind"), "src", "dst",
        F.col("trussness").cast("long").alias("v"))
    return kt.unionByName(tr)


def _q_closeness_nation(spark, sf_dir):
    """Exact incoming closeness (landmarks = all nations) via one
    multi-landmark BFS (structure.closeness_centrality)."""
    from .operators.structure import closeness_centrality
    g = nation_trade_graph(spark, sf_dir)
    res = closeness_centrality(g, list(range(g.num_vertices)),
                               directed=True)
    return res.df.select("id", F.round("closeness", 8).alias("closeness"))


def _q_trustrank_nation(spark, sf_dir):
    """TrustRank: weighted-teleport PageRank whose teleport weights are a
    deterministic per-seed expression (w = 1 + id % 3 on even ids), so the
    DuckDB twin reproduces them (centrality.trust_rank)."""
    from .operators.centrality import trust_rank
    g = nation_trade_graph(spark, sf_dir)
    wdf = (
        g.vertices().where(F.col("id") % 2 == 0)
        .select("id", (F.lit(1.0) + F.col("id") % 3).alias("weight"))
    )
    res = trust_rank(g, wdf, damping=DAMPING, num_iters=20)
    return res.df.select("id", F.round("rank", 8).alias("rank"))


def _q_salsa_nation(spark, sf_dir):
    """SALSA hub/authority scores, 8 stochastic half-step sweeps
    (centrality.salsa)."""
    from .operators.centrality import salsa
    res = salsa(nation_trade_graph(spark, sf_dir), num_iters=8)
    return res.df.select(
        "id", F.round("hub", 8).alias("hub"),
        F.round("authority", 8).alias("authority"))


def _q_jaccard_neighbors_nation(spark, sf_dir):
    """Jaccard neighbor-similarity pairs with >= 3 common neighbors
    (structure.jaccard_neighbors)."""
    from .operators.structure import jaccard_neighbors
    return jaccard_neighbors(nation_trade_graph(spark, sf_dir),
                             min_common=3)


def _q_modularity_nation(spark, sf_dir):
    """Per-community modularity terms of the LP-5 communities on the
    undirected nation graph (structure.modularity)."""
    from .operators.components import label_propagation
    from .operators.structure import modularity
    g = nation_trade_graph(spark, sf_dir)
    labels = label_propagation(g, num_iters=5).df
    return modularity(g, labels)


def _q_assortativity_nation(spark, sf_dir):
    """One-row degree-assortativity coefficient of the undirected nation
    graph (structure.assortativity — integer moments, one division)."""
    from .operators.structure import assortativity
    return assortativity(nation_trade_graph(spark, sf_dir))


def _q_adamic_adar_nation(spark, sf_dir):
    """Adamic-Adar link-prediction scores over the undirected nation graph
    (structure.adamic_adar)."""
    from .operators.structure import adamic_adar
    return adamic_adar(nation_trade_graph(spark, sf_dir)).select(
        "a", "b", "common", F.round("score", 8).alias("score"))


def _q_graph_summary_nation(spark, sf_dir):
    """One-row web-graph shape dashboard incl. reciprocity
    (structure.graph_summary)."""
    from .operators.structure import graph_summary
    return graph_summary(nation_trade_graph(spark, sf_dir))


def _q_anf_nation(spark, sf_dir):
    """Approximate neighborhood function at radius 3 — per-vertex FM-sketch
    ball-size estimates (operators/anf.py, deterministic bit arithmetic,
    identical in every engine) — PLUS the estimated N(t) curve rows and the
    interpolated 0.9-effective-diameter row, tagged (kind, id, val)."""
    from .operators.anf import anf_with_effdiam
    return anf_with_effdiam(nation_trade_graph(spark, sf_dir), radius=3)


def _anf_sql_twin() -> str:
    from .operators.anf import anf_effdiam_sql
    return anf_effdiam_sql(NATION_EDGES_SQL, NATION_VERTS_SQL, radius=3)


def _powerlaw_sql_twin() -> str:
    from .operators.structure import powerlaw_sql
    return powerlaw_sql(NATION_EDGES_SQL)


def _walks_sql_twin() -> str:
    from .operators.walks import biased_walks_sql, walks_sql
    uni = walks_sql(NATION_EDGES_SQL, NATION_VERTS_SQL,
                    walk_length=5, walks_per_vertex=2)
    n2v = biased_walks_sql(NATION_EDGES_SQL, NATION_VERTS_SQL,
                           walk_length=5, walks_per_vertex=2)
    return (f"SELECT 'uniform' AS kind, * FROM ({uni}) _u "
            f"UNION ALL SELECT 'node2vec' AS kind, * FROM ({n2v}) _b")


def _q_walks_nation(spark, sf_dir):
    """Deterministic walk corpora: 2 walks of 5 steps per nation, both the
    first-order DeepWalk-style chooser AND the second-order node2vec
    biased chooser (integer weights return=1/common=4/far=2), union-tagged
    (kind, walk_id, step, vertex) — md5 pick, cross-engine bit-exact."""
    from .operators.walks import biased_walks, random_walks
    g = nation_trade_graph(spark, sf_dir)
    uni = random_walks(g, walk_length=5, walks_per_vertex=2).select(
        F.lit("uniform").alias("kind"), "walk_id", "step", "vertex")
    n2v = biased_walks(g, walk_length=5, walks_per_vertex=2).select(
        F.lit("node2vec").alias("kind"), "walk_id", "step", "vertex")
    return uni.unionByName(n2v)


def _q_domain_linkgraph(spark, sf_dir):
    """Host-level rollup of the pages link graph — the web-scale move of
    aggregating a url graph (10^12 rows) to a domain graph (10^7 rows)
    before expensive analytics. Pipeline: deterministic pages -> vectorized
    href extraction -> dictionary encode -> join endpoint ids back to urls
    -> regexp host extraction -> weighted host-edge aggregation. The
    encoded graph is exported as a parquet handoff so the DuckDB twin
    reruns the rollup from the same edges."""
    from .sources.pages import build_graph, generate_pages
    pages = generate_pages(spark, num_pages=2000, seed=42, avg_links=6)
    g, vertices = build_graph(pages)
    g.edges.write.mode("overwrite").parquet(
        f"{SQ.HANDOFF_DIR}/domain_edges.parquet")
    vertices.write.mode("overwrite").parquet(
        f"{SQ.HANDOFF_DIR}/domain_vertices.parquet")
    hosts = vertices.select(
        "id", F.regexp_extract("url", r"^https?://([^/]+)/", 1).alias("host"))
    rolled = (
        g.edges
        .join(hosts.select(F.col("id").alias("src"),
                           F.col("host").alias("src_host")), "src")
        .join(hosts.select(F.col("id").alias("dst"),
                           F.col("host").alias("dst_host")), "dst")
        .groupBy("src_host", "dst_host")
        .agg(F.count(F.lit(1)).alias("weight"))
    )
    # round-5 fold: FM-sketch distinct out-host fan-out per source host
    # (functions.sketches.approx_distinct) rides along — at web scale this
    # column costs |hosts| x 8 registers instead of a distinct-pair shuffle
    from .functions.sketches import approx_distinct
    fanout = approx_distinct(
        rolled.select("src_host", "dst_host"), ["src_host"],
        "dst_host").withColumnRenamed("est_distinct", "est_out_hosts")
    return rolled.join(fanout, "src_host")


def _q_anchor_text_index(spark, sf_dir):
    """Incoming anchor-text index over the deterministic pages crawl —
    (dst_url, anchor, cnt) with cnt >= 2. The raw pages go to a parquet
    handoff so the DuckDB twin re-extracts anchors independently with its
    own regexp engine (a genuine second implementation, not a replay)."""
    from .sources.pages import anchor_text_index, generate_pages
    pages = generate_pages(spark, num_pages=2000, seed=42, avg_links=6)
    pages.select("url", "html").write.mode("overwrite").parquet(
        f"{SQ.HANDOFF_DIR}/anchor_pages.parquet")
    return anchor_text_index(pages, min_count=2)


def _q_contamination(spark, sf_dir):
    """Train/eval decontamination family, union-tagged
    (kind, doc_id, n_overlap, n_ngrams, overlap_frac): docs with
    doc_id % 37 == 0 play the benchmark; their distinct trigrams form the
    probe set; every other doc reports its trigram overlap.

    - kind='exact' — broadcast the probe set itself
      (functions.text.contamination_overlap).
    - kind='bloom' — round 5: broadcast the probe's m/64-row Bloom
      relation instead (functions.text.bloom_contamination) — the scale
      path when the eval-suite n-gram union is too large to ship; false
      positives are md5-deterministic, so the twin reproduces them
      bit-for-bit.
    """
    from .functions.text import (_total_ngrams, bloom_contamination,
                                 contamination_overlap)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = T.tokens("text")
    grams = F.array_distinct(_total_ngrams(toks, 3))
    probe = (docs.where(F.col("doc_id") % 37 == 0)
             .where(F.length(F.trim(F.col("text"))) > 0)
             .where(F.size(toks) >= 3)
             .select(F.explode(grams).alias("ngram")).distinct())
    train = docs.where(F.col("doc_id") % 37 != 0)
    cols = ["doc_id", "n_overlap", "n_ngrams", "overlap_frac"]
    ex = contamination_overlap(train, probe, n=3).select(
        F.lit("exact").alias("kind"), *cols)
    bl = bloom_contamination(train, probe, n=3).select(
        F.lit("bloom").alias("kind"), *cols)
    return ex.unionByName(bl)


def _q_ngram_counts(spark, sf_dir):
    """Corpus term-statistics family, union-tagged as
    (kind, doc_id, term, tf, df, score, rnk):

    - kind='ngram'  — corpus trigram counts with cnt >= 2 (LM statistics /
      contamination staple, functions.text.ngram_counts); doc-level
      columns carry -1.
    - kind='tfidf'  — per-document top-3 TF-IDF terms with the
      integer-scaled idf score (functions.text.tfidf_top_terms, round 5).
    - kind='top2'   — per-document most-frequent bigram, Gopher-style
      repetition signal; term=gram, tf=cnt, df=n_tokens, score=share_ppm
      (functions.text.top_bigram_share, round 5; integer ppm — no float
      division on either engine).
    """
    from .functions.text import (ngram_counts, tfidf_top_terms,
                                 top_bigram_share)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    neg = F.lit(-1).cast("long")
    ng = ngram_counts(docs, n=3, min_count=2).select(
        F.lit("ngram").alias("kind"), neg.alias("doc_id"),
        F.col("ngram").alias("term"), F.col("cnt").alias("tf"),
        neg.alias("df"), neg.alias("score"), neg.alias("rnk"))
    ti = tfidf_top_terms(docs, k=3).select(
        F.lit("tfidf").alias("kind"), "doc_id", "term", "tf", "df",
        "score", F.col("rnk").cast("long").alias("rnk"))
    tb = top_bigram_share(docs).select(
        F.lit("top2").alias("kind"), "doc_id",
        F.col("gram").alias("term"), F.col("cnt").alias("tf"),
        F.col("n_tokens").alias("df"),
        F.col("share_ppm").alias("score"), F.lit(1).cast("long").alias("rnk"))
    return ng.unionByName(ti).unionByName(tb)


def _q_domain_pagerank(spark, sf_dir):
    """Host-level PageRank: url graph -> weighted host rollup -> weighted
    PageRank over host-string vertices (no dense-id contract) — the
    standard pre-aggregation before per-url analytics at web scale.
    Handoff parquet lets the DuckDB twin rerun the whole composition."""
    from .operators.pagerank import run_pagerank_weighted_table
    from .sources.pages import build_graph, generate_pages
    pages = generate_pages(spark, num_pages=2000, seed=42, avg_links=6)
    g, vertices = build_graph(pages)
    g.edges.write.mode("overwrite").parquet(
        f"{SQ.HANDOFF_DIR}/dpr_edges.parquet")
    vertices.write.mode("overwrite").parquet(
        f"{SQ.HANDOFF_DIR}/dpr_vertices.parquet")
    hosts = vertices.select(
        "id", F.regexp_extract("url", r"^https?://([^/]+)/", 1).alias("host"))
    rolled = (
        g.edges
        .join(hosts.select(F.col("id").alias("src"),
                           F.col("host").alias("src_host")), "src")
        .join(hosts.select(F.col("id").alias("dst"),
                           F.col("host").alias("dst_host")), "dst")
        .groupBy("src_host", "dst_host")
        .agg(F.count(F.lit(1)).alias("weight"))
    )
    ranks = run_pagerank_weighted_table(
        rolled, damping=DAMPING, num_iters=10,
        src_col="src_host", dst_col="dst_host")
    return ranks.select(F.col("vertex").alias("host"),
                        F.round("rank", 8).alias("rank"))


def _q_wl_nation(spark, sf_dir):
    """1-WL color refinement, 3 rounds — structural vertex fingerprints
    (structure.wl_refinement)."""
    from .operators.structure import wl_refinement
    return wl_refinement(nation_trade_graph(spark, sf_dir), rounds=3)


def _q_session_stats(spark, sf_dir):
    """Gap-based sessionization (30-min gap) of the raw event log and the
    per-session engagement rollup (functions.events.session_stats)."""
    from .functions.events import session_stats
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    return session_stats(events, gap_s=1800)


def _q_sample_edges_nation(spark, sf_dir):
    """Deterministic 1/3 md5 edge sample of the nation graph — the
    debug-subset sampler (graph.sample_edges)."""
    from .operators.graph import sample_edges
    return sample_edges(nation_trade_graph(spark, sf_dir), rate_inverse=3)


def _q_multimodal_metadata(spark, sf_dir):
    from .functions.multimodal import attach_media_metadata
    return attach_media_metadata(_media(spark, sf_dir)).select(
        "media_id", "kind", "payload_bytes", "payload_md5")


def _q_multimodal_features(spark, sf_dir):
    """Arrow-batched stub decode -> feature vectors; rows-only driver check
    (exact values are pytest-asserted against the deterministic stub)."""
    from .functions.multimodal import extract_features
    feats = extract_features(_media(spark, sf_dir))
    return feats.select(
        "media_id",
        F.round(F.aggregate("features", F.lit(0.0),
                            lambda a, x: a + x.cast("double")), 6)
        .alias("feature_sum"))


def _q_frame_sample_plan(spark, sf_dir):
    from .functions.multimodal import frame_sample_plan
    return frame_sample_plan(_media(spark, sf_dir), every_ms=1000).select(
        "media_id", F.col("frame_ts_ms").cast("long").alias("frame_ts_ms"))


def _q_multimodal_resize(spark, sf_dir):
    """Stub decode + REAL nearest-neighbor resize to 8x8 over the image
    rows (deterministic per-row source dims); the gate checks the exact
    integer pixel sum per media row against a DuckDB twin that re-derives
    the sha256 pixel grid and the same floor-index mapping."""
    from .functions.multimodal import resize_images
    media = _media(spark, sf_dir).select(
        "*",
        ((F.col("media_id") * 13) % 48 + 16).cast("int").alias("width"),
        ((F.col("media_id") * 29) % 48 + 16).cast("int").alias("height"),
    )
    resized = resize_images(media, 8, 8)
    return resized.select(
        "media_id", "width", "height",
        F.aggregate("pixels", F.lit(0).cast("long"),
                    lambda a, x: a + x).alias("pixel_sum"))


def _q_benchparse_normalize(spark, sf_dir):
    """The reference's benchmarkparser pipeline (average -> min-max scale ->
    L2 normalize; benchmarkparser/Main.hs:120-183) over an events-derived
    (graph, method, mean) table."""
    from .functions.benchparse import (average_results, feature_scale,
                                       normalize_l2)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    df = ev.select(
        F.col("event_type").alias("graph"),
        (F.col("user_id") % 3).cast("string").alias("method"),
        F.col("value").alias("mean"))
    out = normalize_l2(feature_scale(average_results(df)))
    return out.select(
        "graph", "method", F.round("mean", 6).alias("mean"),
        F.round("scaled", 6).alias("scaled"),
        F.round("normalized", 6).alias("normalized"))


def _q_catalog_events_evolved(spark, sf_dir):
    """Iceberg-seam v2 gate: schema evolution + merge-on-read deletes +
    sequence-number semantics, end-to-end (sources/catalog.py).

    v1 commit: even events (event_id, event_type, value), hive-partitioned.
    v2: add-column ``score`` (metadata only).
    v3 commit: odd events WITH score = value * 2.
    v4: equality-delete every event_id % 10 == 0 (hits both commits).
    v5 commit: re-append event_id % 20 == 0 rows with score = -1 — these
    must SURVIVE the earlier delete (their sequence number is higher).

    The DuckDB twin rebuilds the same final state from the raw parquet; a
    read that misses the null-fill for pre-evolution files, applies the
    delete to the re-appended rows, or loses a partition breaks the hash.
    """
    import shutil
    from .sources.catalog import Table
    root = f"{SQ.HANDOFF_DIR}/catalog_events_evolved"
    shutil.rmtree(root, ignore_errors=True)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet") \
        .select("event_id", "event_type", "value")
    t = Table(root)
    t.commit(ev.where(F.col("event_id") % 2 == 0),
             partition_by=["event_type"])
    t.add_columns([("score", "double")])
    t.commit(ev.where(F.col("event_id") % 2 == 1)
             .withColumn("score", F.col("value") * 2),
             partition_by=["event_type"])
    t.delete(ev.where(F.col("event_id") % 10 == 0), ["event_id"])
    t.commit(ev.where(F.col("event_id") % 20 == 0)
             .withColumn("score", F.lit(-1.0)),
             partition_by=["event_type"])
    return t.read(spark).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count(F.when(F.col("score").isNull(), 1)).alias("n_pre_evolution"),
        F.round(F.sum("value"), 6).alias("total_value"),
        F.round(F.sum(F.coalesce("score", F.lit(0.0))), 6)
        .alias("total_score"),
        F.min("event_id").alias("min_event"),
        F.max("event_id").alias("max_event"))


def _q_events_hourly_windows(spark, sf_dir):
    """Tumbling-window per-type aggregate (streaming.ingest's windowed agg
    shape, run in batch mode for the oracle comparison)."""
    from .streaming.ingest import windowed_event_counts
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = windowed_event_counts(ev, window="1 hour")
    return out.select(
        "window_start", "window_end", "event_type", "n_events",
        F.round("total_value", 6).alias("total_value"))


# ---------------------------------------------- consolidated queries (r4)
# The driver's correctness gate evaluates exactly the FIRST 50 entries of
# queries() per round. Rounds 1-3 rotated a 90-entry registry through that
# window; round 4 converges to <=50 CANONICAL entries so every operator is
# permanently in-window (no rotation, no stale evidence). Where several
# registry entries were physical-strategy or mode variants of one logical
# query, the canonical entry now runs ALL variants and returns them
# union-tagged (a `kind`/`strategy` column) or joined side-by-side — the
# oracle twin repeats the reference SQL per tag, so a divergence in ANY
# variant breaks the hash. Queries whose component twins already existed
# reuse them verbatim (see _SQL below).

def _q_pagerank_cs_strategies(spark, sf_dir):
    """One driver row verifying all three PageRank execution paths on the
    cs graph: the shuffle-join path and the CSR-SpMV path at 5 sweeps, and
    the single-superstep run (the reference's one-superstep workhorse).
    Any strategy diverging from the power-iteration oracle breaks the
    hash."""
    tag = lambda s, df: df.select(F.lit(s).alias("strategy"), "id", "rank")  # noqa: E731
    return (
        tag("join", _q_pagerank_cs_5(spark, sf_dir))
        .unionByName(tag("spmv", _q_pagerank_spmv_cs_5(spark, sf_dir)))
        .unionByName(tag("superstep", _q_pagerank_superstep(spark, sf_dir)))
    )


def _q_pagerank_nation_30_topk(spark, sf_dir):
    """Full 30-sweep nation ranks plus the top-10 sort/limit operator
    (§2.7), union-tagged."""
    allr = _q_pagerank_nation_30(spark, sf_dir)
    top = _q_pagerank_topk_nation(spark, sf_dir)
    return (allr.select(F.lit("all").alias("kind"), "id", "rank")
            .unionByName(top.select(F.lit("top10").alias("kind"),
                                    "id", "rank")))


def _q_cc_cs_strategies(spark, sf_dir):
    """Connected components on the cs graph via all four strategies (shuffle
    join / CSR-SpMV / COST-auto dispatch / alternating large-small star),
    union-tagged against one min-label oracle — the star path is
    diameter-independent (Kiveris et al. SoCC'14) yet lands on identical
    (id, component = min id) labels."""
    from haskellpagerank_spark.operators.components_star import (
        connected_components_star,
    )
    tag = lambda s, df: df.select(F.lit(s).alias("strategy"), "id", "component")  # noqa: E731
    g = cs_graph(spark, sf_dir)
    return (
        tag("join", _q_cc_cs(spark, sf_dir))
        .unionByName(tag("spmv", _q_cc_spmv_cs(spark, sf_dir)))
        .unionByName(tag("auto", _q_cc_auto_cs(spark, sf_dir)))
        .unionByName(tag("star", connected_components_star(g).df))
    )


def _q_lp_cs_strategies(spark, sf_dir):
    """Label propagation (3 sweeps, cs graph): distributed path and
    COST-auto dispatch, union-tagged."""
    tag = lambda s, df: df.select(F.lit(s).alias("strategy"), "id", "label")  # noqa: E731
    return (tag("dist", _q_lp_cs_3(spark, sf_dir))
            .unionByName(tag("auto", _q_lp_auto_cs_3(spark, sf_dir))))


def _q_triangles_nation_all(spark, sf_dir):
    """Triangle family in one row: per-vertex counts, the global count, and
    the incremental (delta-enumeration) recount — global rows carry
    id = -1."""
    per = _q_triangles_per_vertex_nation(spark, sf_dir).select(
        F.lit("per_vertex").alias("kind"), "id", "n_triangles")
    tot = _q_triangles_nation(spark, sf_dir).select(
        F.lit("global").alias("kind"), F.lit(-1).cast("long").alias("id"),
        "n_triangles")
    inc = _q_triangles_incremental_nation(spark, sf_dir).select(
        F.lit("incremental").alias("kind"),
        F.lit(-1).cast("long").alias("id"), "n_triangles")
    from .operators.triangles import sampled_triangle_count
    smp = sampled_triangle_count(
        nation_trade_graph(spark, sf_dir), keep_num=2, keep_den=5).select(
        F.lit("sampled").alias("kind"), F.lit(-1).cast("long").alias("id"),
        F.col("n_sampled").alias("n_triangles"))
    return per.unionByName(tot).unionByName(inc).unionByName(smp)


def _q_scc_nation_strategies(spark, sf_dir):
    """SCC: trim+FW/BW join path and the COST-auto tier, union-tagged."""
    tag = lambda s, df: df.select(F.lit(s).alias("strategy"), "id", "scc")  # noqa: E731
    return (tag("joinpath", _q_scc_nation(spark, sf_dir))
            .unionByName(tag("auto", _q_scc_auto_nation(spark, sf_dir))))


def _q_coreness_kcore_nation(spark, sf_dir):
    """Full h-index core decomposition plus the fixed-k peel (6-core
    membership with within-core degree), union-tagged as (kind, id, v)."""
    cn = _q_coreness_nation(spark, sf_dir).select(
        F.lit("coreness").alias("kind"), "id",
        F.col("coreness").cast("long").alias("v"))
    kc = _q_kcore_nation(spark, sf_dir).select(
        F.lit("kcore6").alias("kind"), "id",
        F.col("deg").cast("long").alias("v"))
    return cn.unionByName(kc)


def _q_distances_nation(spark, sf_dir):
    """Unweighted BFS hops and weighted Bellman-Ford distances from nation
    0, union-tagged (bfs dist cast to double)."""
    bfs = _q_bfs_nation(spark, sf_dir).select(
        F.lit("bfs").alias("kind"), "id",
        F.col("dist").cast("double").alias("dist"))
    ss = _q_sssp_nation(spark, sf_dir).select(
        F.lit("sssp").alias("kind"), "id", "dist")
    return bfs.unionByName(ss)


def _q_closeness_harmonic_nation(spark, sf_dir):
    """Closeness and harmonic centrality side-by-side (both ride the shared
    multi-landmark BFS), joined on id — plus the Eppstein–Wang sampled
    harmonic estimate (round-5 fold: 2/5 LCG pivots, 10 of 25 nations,
    scaled n/k before rounding) as a fourth column."""
    from .operators.structure import harmonic_sampled
    cl = _q_closeness_nation(spark, sf_dir)
    hm = _q_harmonic_nation(spark, sf_dir)
    g = nation_trade_graph(spark, sf_dir)
    he = harmonic_sampled(g, keep_num=2, keep_den=5, directed=True).df \
        .select("id", F.round("harmonic", 8).alias("harmonic_est"))
    return cl.join(hm, "id").join(he, "id").select(
        "id", "closeness", "harmonic", "harmonic_est")


def _q_hits_salsa_nation(spark, sf_dir):
    """HITS and SALSA hub/authority scores, union-tagged."""
    tag = lambda s, df: df.select(F.lit(s).alias("kind"), "id", "hub", "authority")  # noqa: E731
    return (tag("hits", _q_hits_nation(spark, sf_dir))
            .unionByName(tag("salsa", _q_salsa_nation(spark, sf_dir))))


def _q_katz_eigenvector_nation(spark, sf_dir):
    """Katz and eigenvector centrality, union-tagged as (kind, id, score)."""
    kz = _q_katz_nation(spark, sf_dir).select(
        F.lit("katz").alias("kind"), "id", F.col("katz").alias("score"))
    ev = _q_eigenvector_nation(spark, sf_dir).select(
        F.lit("eigenvector").alias("kind"), "id",
        F.col("eigenvector").alias("score"))
    return kz.unionByName(ev)


def _q_teleport_rank_nation(spark, sf_dir):
    """The two teleport-weighted PageRank variants — personalized (seeded)
    PageRank and TrustRank — union-tagged."""
    tag = lambda s, df: df.select(F.lit(s).alias("kind"), "id", "rank")  # noqa: E731
    return (tag("ppr", _q_ppr_nation(spark, sf_dir))
            .unionByName(tag("trustrank", _q_trustrank_nation(spark, sf_dir))))


def _q_simrank_nation(spark, sf_dir):
    """All-pairs SimRank, 3 iterations, c=0.8, on the directed nation
    graph (structure.simrank — round-5 fold into pair_scores_nation)."""
    from .operators.structure import simrank
    return simrank(nation_trade_graph(spark, sf_dir), iters=3,
                   c=0.8).select(
        "a", "b", F.round("score", 6).alias("score"))


def _q_pair_scores_nation(spark, sf_dir):
    """Neighborhood pair-similarity family (co-citation counts, Jaccard
    neighbor similarity, Adamic-Adar, SimRank), union-tagged as
    (kind, a, b, common, score)."""
    co = _q_cocitation_nation(spark, sf_dir).select(
        F.lit("cocitation").alias("kind"), "a", "b", "common",
        F.lit(0.0).alias("score"))
    ja = _q_jaccard_neighbors_nation(spark, sf_dir).select(
        F.lit("jaccard").alias("kind"), "a", "b", "common",
        F.col("jac").alias("score"))
    aa = _q_adamic_adar_nation(spark, sf_dir).select(
        F.lit("adamic_adar").alias("kind"), "a", "b", "common", "score")
    sr = _q_simrank_nation(spark, sf_dir).select(
        F.lit("simrank").alias("kind"), "a", "b",
        F.lit(0).cast("long").alias("common"), "score")
    return co.unionByName(ja).unionByName(aa).unionByName(sr)


def _q_graph_summary_assort_nation(spark, sf_dir):
    """One-row graph dashboard with the degree-assortativity coefficient,
    the power-law degree-exponent MLE, and (round 5) the global
    transitivity 3T/W cross-joined in (all single-row)."""
    from .operators.structure import powerlaw_alpha, transitivity
    g = nation_trade_graph(spark, sf_dir)
    return _q_graph_summary_nation(spark, sf_dir).crossJoin(
        _q_assortativity_nation(spark, sf_dir)).crossJoin(
        powerlaw_alpha(g)).crossJoin(transitivity(g))


def _q_coloring_seq_nation(spark, sf_dir):
    """Sequential-semantics coloring family: greedy input-order, bounded
    palette, and the 1D bucket layout, union-tagged (non-layout rows carry
    -1 positions)."""
    neg = F.lit(-1).cast("long")
    gr = _q_coloring_greedy_nation(spark, sf_dir).select(
        F.lit("greedy").alias("kind"), "id", "color",
        neg.alias("pos"), neg.alias("seg_start"), neg.alias("seg_len"))
    bd = _q_coloring_bounded_nation(spark, sf_dir).select(
        F.lit("bounded").alias("kind"), "id", "color",
        neg.alias("pos"), neg.alias("seg_start"), neg.alias("seg_len"))
    ly = _q_coloring_layout_nation(spark, sf_dir).select(
        F.lit("layout").alias("kind"), "id", "color",
        F.col("pos"), F.col("start").alias("seg_start"),
        F.col("length").alias("seg_len"))
    return gr.unionByName(bd).unionByName(ly)


def _q_coloring_parallel_nation(spark, sf_dir):
    """Parallel-semantics coloring family: Jones-Plassmann (LCG
    priorities), distance-2, speculative-with-conflict-repair, and the
    deterministic-Luby MIS (round-5 fold; in_mis rides the color column),
    union-tagged."""
    tag = lambda s, df: df.select(F.lit(s).alias("kind"), "id", "color")  # noqa: E731
    return (tag("jp", _q_coloring_jp_nation(spark, sf_dir))
            .unionByName(tag("d2", _q_coloring_d2_nation(spark, sf_dir)))
            .unionByName(tag("speculative",
                             _q_coloring_speculative_nation(spark, sf_dir)))
            .unionByName(tag("mis", _q_mis_nation(spark, sf_dir))))


def _q_graph_edges_nation(spark, sf_dir):
    """Edge-transform family (invert, undirected merge, amendSinks
    reflection with multiplicity, deterministic md5 sampling, per-source
    frequency) union-tagged into a common (kind, a, b, c) shape."""
    one = F.lit(1).cast("long")
    neg = F.lit(-1).cast("long")
    inv = _q_invert_nation(spark, sf_dir).select(
        F.lit("invert").alias("kind"), F.col("src").alias("a"),
        F.col("dst").alias("b"), one.alias("c"))
    und = _q_undirected_nation(spark, sf_dir).select(
        F.lit("undirected").alias("kind"), F.col("src").alias("a"),
        F.col("dst").alias("b"), one.alias("c"))
    amd = _q_amend_sinks_nation(spark, sf_dir).select(
        F.lit("amend").alias("kind"), F.col("src").alias("a"),
        F.col("dst").alias("b"), F.col("cnt").alias("c"))
    smp = _q_sample_edges_nation(spark, sf_dir).select(
        F.lit("sample").alias("kind"), F.col("src").alias("a"),
        F.col("dst").alias("b"), one.alias("c"))
    frq = _q_src_frequency_nation(spark, sf_dir).select(
        F.lit("src_freq").alias("kind"), F.col("src").alias("a"),
        neg.alias("b"), F.col("n").alias("c"))
    mat = _q_matching_nation(spark, sf_dir).select(
        F.lit("matching").alias("kind"), F.col("src").alias("a"),
        F.col("dst").alias("b"), one.alias("c"))
    # round-5 fold: SCC condensation (the component DAG with edge
    # multiplicities — operators.structure.condensation)
    from .operators.structure import condensation
    cnd = condensation(nation_trade_graph(spark, sf_dir)).select(
        F.lit("condense").alias("kind"), F.col("comp_src").alias("a"),
        F.col("comp_dst").alias("b"), F.col("cnt").alias("c"))
    return inv.unionByName(und).unionByName(amd).unionByName(smp) \
        .unionByName(frq).unionByName(mat).unionByName(cnd)


def _q_matching_nation(spark, sf_dir):
    """Deterministic greedy maximal matching (round-5 fold): local-min
    rounds with the LCG edge priority reproduced verbatim by the DuckDB
    twin (sql_twins.matching_sql / MATCHING_PRIORITY_SQL)."""
    g = nation_trade_graph(spark, sf_dir)
    pri = ((F.col("src") * F.lit(1103515245) + F.col("dst") * F.lit(12345)
            + F.lit(12345)) % F.lit(2147483648))
    return C.maximal_matching(g, priority_col=pri).df


def _q_degree_stats_cs(spark, sf_dir):
    """Degree family on the cs graph: top-20 out-degrees, the out-degree
    histogram, sink detection, and (round 5) the rich-club curve
    phi(k) in ppm, union-tagged as (kind, a, b)."""
    from .operators.structure import rich_club
    tk = _q_out_degree_topk(spark, sf_dir).select(
        F.lit("topk").alias("kind"), F.col("id").alias("a"),
        F.col("deg").alias("b"))
    hs = _q_degree_histogram(spark, sf_dir).select(
        F.lit("hist").alias("kind"), F.col("deg").alias("a"),
        F.col("n_vertices").alias("b"))
    sk = _q_sinks(spark, sf_dir).select(
        F.lit("sinks").alias("kind"), F.col("id").alias("a"),
        F.lit(-1).cast("long").alias("b"))
    rc = rich_club(cs_graph(spark, sf_dir)).select(
        F.lit("richclub").alias("kind"), F.col("k").alias("a"),
        F.col("phi_ppm").alias("b"))
    from .operators.graph import degree_ccdf, invert
    cc = degree_ccdf(cs_graph(spark, sf_dir)).select(
        F.lit("ccdf").alias("kind"), F.col("deg").alias("a"),
        F.col("n_ge").alias("b"))
    # round-5 fold: IN-degree top-20 (authority side — the distribution
    # web analysis actually ranks by), via the existing invert operator
    gi = cs_graph(spark, sf_dir)
    from .operators.graph import Graph
    g_inv = Graph(edges=invert(gi.edges), num_vertices=gi.num_vertices)
    it = (out_degrees(g_inv).orderBy(F.desc("deg"), F.asc("id")).limit(20)
          .select(F.lit("in_topk").alias("kind"), F.col("id").alias("a"),
                  F.col("deg").alias("b")))
    return tk.unionByName(hs).unionByName(sk).unionByName(rc) \
        .unionByName(cc).unionByName(it)


def _q_text_features(spark, sf_dir):
    """Per-document text-analysis family in one wide row: token stats,
    quality features, language-ID votes, and the rolling fingerprint,
    joined on doc_id."""
    tok = _q_token_stats(spark, sf_dir)
    qual = _q_quality(spark, sf_dir).select(
        "doc_id", "unique_token_ratio", "stopword_ratio", "quality_score")
    lang = _q_lang_id(spark, sf_dir)
    fp = _q_fingerprint(spark, sf_dir)
    # round-5 fold: deterministic per-language quota sample (k=20 by the
    # seeded md5 shuffle, functions.pipeline.stratified_topk) rides along
    # as smp_rank — NULL for unsampled docs, so row count is unchanged
    from .functions.pipeline import pack_token_shards, stratified_topk
    smp = stratified_topk(_docs(spark, sf_dir), k=20).select(
        "doc_id", F.col("rk").alias("smp_rank"))
    # round-5 fold: concat-and-chunk training-shard assignment (budget 512
    # tokens, two-phase prefix sum) rides along as three integer columns
    pk = pack_token_shards(_docs(spark, sf_dir), budget=512).select(
        "doc_id", "start_offset", "shard_id", "straddles")
    return (tok.join(qual, "doc_id").join(lang, "doc_id")
            .join(fp, "doc_id").join(smp, "doc_id", "left")
            .join(pk, "doc_id"))


def _q_neardup_pairs(spark, sf_dir):
    """Near-duplicate pair family: blocked n-gram Jaccard, SimHash Hamming
    pairs, MinHash+LSH banded pairs, and (round 5) sorted-neighborhood
    window pairs, union-tagged as (kind, id_a, id_b, score)."""
    from .functions.dedup import sorted_neighborhood_pairs
    ja = _q_neardup_jaccard(spark, sf_dir).select(
        F.lit("jaccard").alias("kind"), "id_a", "id_b",
        F.col("jaccard").alias("score"))
    sh = _q_simhash_pairs(spark, sf_dir).select(
        F.lit("simhash").alias("kind"), "id_a", "id_b",
        F.col("hamming").cast("double").alias("score"))
    mh = _q_minhash_lsh(spark, sf_dir).select(
        F.lit("minhash").alias("kind"), "id_a", "id_b",
        F.col("jaccard").alias("score"))
    sn = sorted_neighborhood_pairs(
        _docs(spark, sf_dir), threshold=0.5, window=4).select(
        F.lit("sorted").alias("kind"), "id_a", "id_b",
        F.col("jaccard").alias("score"))
    return ja.unionByName(sh).unionByName(mh).unionByName(sn)


def _q_ann_pairs(spark, sf_dir):
    """Embedding pair family: brute-force cosine pairs (exactness
    baseline) and LSH-bucketed pairs, union-tagged."""
    tag = lambda s, df: df.select(F.lit(s).alias("kind"), "id_a", "id_b", "cosine")  # noqa: E731
    return (tag("brute", _q_cosine_pairs(spark, sf_dir))
            .unionByName(tag("lsh", _q_ann_lsh(spark, sf_dir))))


def _q_ann_topk_all(spark, sf_dir):
    """ANN top-k family: brute-force baseline and IVF probed-cell re-rank,
    union-tagged."""
    tag = lambda s, df: df.select(F.lit(s).alias("kind"), "query_id", "neighbor_id", "cosine")  # noqa: E731
    return (tag("brute", _q_ann_topk(spark, sf_dir))
            .unionByName(tag("ivf", _q_ann_ivf(spark, sf_dir))))


def _q_multimodal_pipeline(spark, sf_dir):
    """Multimodal plumbing in one row per media: typed metadata, the
    Arrow-batched stub-decode feature sum, and the frame-sample plan
    compressed to (n_frames, max_frame_ms) — which pins the full
    range(0, duration, 1000) plan exactly (fixed stride from 0). Non-video
    rows carry -1."""
    meta = _q_multimodal_metadata(spark, sf_dir)
    feats = _q_multimodal_features(spark, sf_dir)
    fr = (_q_frame_sample_plan(spark, sf_dir)
          .groupBy("media_id")
          .agg(F.count(F.lit(1)).alias("n_frames"),
               F.max("frame_ts_ms").alias("max_frame_ms")))
    return (meta.join(feats, "media_id").join(fr, "media_id", "left")
            .select("media_id", "kind", "payload_bytes", "payload_md5",
                    "feature_sum",
                    F.coalesce("n_frames", F.lit(-1).cast("long"))
                    .alias("n_frames"),
                    F.coalesce("max_frame_ms", F.lit(-1).cast("long"))
                    .alias("max_frame_ms")))


def _q_events_rollups(spark, sf_dir):
    """Event-rollup family: tumbling hourly per-type windows (streaming
    shape in batch mode) and per-user daily rollups, union-tagged into
    (kind, bucket, key, n_events, total_value). Session tz is UTC, so the
    ntz cast is lossless."""
    h = _q_events_hourly_windows(spark, sf_dir).select(
        F.lit("hourly").alias("kind"),
        F.col("window_start").alias("bucket"),
        F.col("event_type").alias("key"), "n_events", "total_value")
    d = _q_events_user_daily(spark, sf_dir).select(
        F.lit("daily").alias("kind"),
        F.col("day").cast("timestamp_ntz").alias("bucket"),
        F.col("user_id").cast("string").alias("key"),
        "n_events", "total_value")
    return h.unionByName(d)


def _q_url_dedup_crawl(spark, sf_dir):
    """Web-corpus hygiene: URL-canonical crawl dedup + PII accounting
    (functions/urls.py). A deterministic messy crawl (3 captures/page ×
    1000 pages with scheme-case/www/tracking/slash/fragment decorations
    and PII-laced text) is generated in pure codegen, canonicalized, and
    deduped in one shuffle; the DuckDB twin re-derives the identical
    crawl from range() and canonicalizes with the same RE2 regex, so the
    whole pipeline is hash-checked with no handoff."""
    from .functions import urls as U
    crawl = U.synthetic_crawl(spark, n_pages=1000, snapshots=3)
    return U.dedup_crawl(crawl).orderBy("canonical_url")


# The canonical <=50 registry. Every entry gets a driver CORRECTNESS row
# every round — no rotation. Folded variants (strategy tiers, mode twins,
# per-family shapes) are inside the consolidated entries above; the three
# registry keys retired outright are covered elsewhere: cc_nation (identical
# fixpoint + oracle as cc_incremental_nation), lp_nation_5 (driver-verified
# inside modularity_nation's composed twin), catalog_events_snapshot (strict
# subset of catalog_events_evolved's commit/read seam).
QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # ---- link-graph core (north rule)
    "pagerank_cs_strategies": _q_pagerank_cs_strategies,
    "pagerank_nation_30": _q_pagerank_nation_30_topk,
    "pagerank_pp_nation": _q_pagerank_pp_nation,
    "pagerank_reflect_nation_5": _q_pagerank_reflect_nation_5,
    "pages_linkgraph_pagerank": _q_pages_pagerank,
    "domain_pagerank": _q_domain_pagerank,
    "domain_linkgraph": _q_domain_linkgraph,
    "prism_nation": _q_prism_nation,
    "cc_cs_strategies": _q_cc_cs_strategies,
    "cc_incremental_nation": _q_cc_incremental_nation,
    "lp_cs_strategies": _q_lp_cs_strategies,
    "triangles_nation": _q_triangles_nation_all,
    # ---- web-graph structure / centrality
    "scc_nation_strategies": _q_scc_nation_strategies,
    "bowtie_nation": _q_bowtie_nation,
    "coreness_kcore_nation": _q_coreness_kcore_nation,
    "ktruss_nation": _q_ktruss_nation,
    "clustering_nation": _q_clustering_nation,
    "pair_scores_nation": _q_pair_scores_nation,
    "graph_summary_nation": _q_graph_summary_assort_nation,
    "modularity_nation": _q_modularity_nation,
    "anf_nation": _q_anf_nation,
    "wl_nation": _q_wl_nation,
    "walks_nation": _q_walks_nation,
    "betweenness_nation": _q_betweenness_nation,
    "distances_nation": _q_distances_nation,
    "closeness_harmonic_nation": _q_closeness_harmonic_nation,
    "hits_salsa_nation": _q_hits_salsa_nation,
    "katz_eigenvector_nation": _q_katz_eigenvector_nation,
    "teleport_rank_nation": _q_teleport_rank_nation,
    # ---- coloring + edge transforms (reference §2.2/§2.6)
    "coloring_seq_nation": _q_coloring_seq_nation,
    "coloring_parallel_nation": _q_coloring_parallel_nation,
    "graph_edges_nation": _q_graph_edges_nation,
    "degree_stats_cs": _q_degree_stats_cs,
    # ---- training-data pipeline
    "text_features": _q_text_features,
    "corpus_prep": _q_corpus_prep,
    "ngram_counts": _q_ngram_counts,
    "contamination_trigram": _q_contamination,
    "exact_dedup_groups": _q_exact_dedup,
    "neardup_pairs": _q_neardup_pairs,
    "neardup_clusters": _q_neardup_clusters,
    "ann_pairs": _q_ann_pairs,
    "ann_topk": _q_ann_topk_all,
    "anchor_text_index": _q_anchor_text_index,
    "session_stats": _q_session_stats,
    "events_rollups": _q_events_rollups,
    "benchparse_normalize": _q_benchparse_normalize,
    "catalog_events_evolved": _q_catalog_events_evolved,
    "multimodal_pipeline": _q_multimodal_pipeline,
    "multimodal_resize": _q_multimodal_resize,
    "url_dedup_crawl": _q_url_dedup_crawl,
}


def _markers_sql(lang: str) -> str:
    return ", ".join(f"'{w}'" for w in T.LANG_MARKERS[lang])


_SHINGLES_SQL = f"""
    CASE WHEN len(tok) >= 3
         THEN list_distinct(list_transform(range(1, len(tok) - 1),
                            i -> array_to_string(tok[i:i+2], ' ')))
         ELSE [array_to_string(tok, ' ')] END
"""

# Component twin pool: one DuckDB-SQL twin per logical operator output,
# keyed by the pre-consolidation registry names. The driver-facing ORACLES
# dict below composes these (per-tag unions / joins) to mirror the
# consolidated queries exactly.
_SQL: dict[str, str] = {
    "out_degree_topk": f"""
        WITH verts AS ({CS_VERTS_SQL}),
        deg AS (SELECT src AS id, COUNT(*) AS deg FROM ({CS_EDGES_SQL})
                WHERE src <> dst GROUP BY 1)
        SELECT v.id, COALESCE(d.deg, 0) AS deg
        FROM verts v LEFT JOIN deg d ON v.id = d.id
        ORDER BY deg DESC, v.id ASC LIMIT 20
    """,
    "in_degree_topk": f"""
        WITH verts AS ({CS_VERTS_SQL}),
        deg AS (SELECT dst AS id, COUNT(*) AS deg FROM ({CS_EDGES_SQL})
                WHERE src <> dst GROUP BY 1)
        SELECT v.id, COALESCE(d.deg, 0) AS deg
        FROM verts v LEFT JOIN deg d ON v.id = d.id
        ORDER BY deg DESC, v.id ASC LIMIT 20
    """,
    "degree_histogram": f"""
        WITH verts AS ({CS_VERTS_SQL}),
        deg AS (SELECT src AS id, COUNT(*) AS deg FROM ({CS_EDGES_SQL})
                WHERE src <> dst GROUP BY 1)
        SELECT COALESCE(d.deg, 0) AS deg, COUNT(*) AS n_vertices
        FROM verts v LEFT JOIN deg d ON v.id = d.id GROUP BY 1
    """,
    "sink_vertices": f"""
        WITH verts AS ({CS_VERTS_SQL})
        SELECT id FROM verts
        WHERE id NOT IN (SELECT src FROM ({CS_EDGES_SQL}) WHERE src <> dst)
    """,
    "rich_club_cs": SQ.rich_club_sql(CS_EDGES_SQL),
    # CCDF over the out-degree histogram; HUGEINT windowed SUM cast back
    "degree_ccdf_cs": f"""
        WITH verts AS ({CS_VERTS_SQL}),
        deg AS (SELECT src AS id, COUNT(*) AS deg FROM ({CS_EDGES_SQL})
                WHERE src <> dst GROUP BY 1),
        h AS (SELECT COALESCE(d.deg, 0) AS deg, COUNT(*) AS n_vertices
              FROM verts v LEFT JOIN deg d ON v.id = d.id GROUP BY 1)
        SELECT deg, CAST(SUM(n_vertices) OVER (ORDER BY deg DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS n_ge
        FROM h
    """,
    "invert_nation": f"""
        SELECT dst AS src, src AS dst FROM ({NATION_EDGES_SQL})
    """,
    "amend_sinks_nation": f"""
        WITH e0 AS (SELECT src, dst FROM ({NATION_EDGES_SQL}) WHERE src <> dst),
        snk AS (SELECT id FROM ({NATION_VERTS_SQL})
                WHERE id NOT IN (SELECT src FROM e0)),
        refl AS (SELECT e.dst AS src, e.src AS dst
                 FROM e0 e JOIN snk ON e.dst = snk.id),
        allE AS (SELECT * FROM e0 UNION ALL SELECT * FROM refl)
        SELECT src, dst, COUNT(*) AS cnt FROM allE GROUP BY 1, 2
    """,
    "pagerank_superstep_cs": pagerank_sql(CS_EDGES_SQL, CS_VERTS_SQL, 1),
    "pagerank_cs_5": pagerank_sql(CS_EDGES_SQL, CS_VERTS_SQL, 5),
    "pagerank_nation_30": pagerank_sql(NATION_EDGES_SQL, NATION_VERTS_SQL, 30),
    # incremental CC converges to the same schedule-independent fixpoint,
    # so its twin is the full-graph CC
    "cc_incremental_nation": CC_NATION_SQL,
    "triangles_per_vertex_nation": f"""
        WITH e0 AS ({NATION_EDGES_SQL}),
        und AS (SELECT DISTINCT src, dst FROM
                (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0)),
        canon AS (SELECT src, dst FROM und WHERE src < dst),
        tri AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
                FROM canon e1 JOIN canon e2 ON e1.dst = e2.src
                JOIN canon e3 ON e3.src = e1.src AND e3.dst = e2.dst),
        stacked AS (SELECT a AS id FROM tri UNION ALL SELECT b FROM tri
                    UNION ALL SELECT c FROM tri),
        cnt AS (SELECT id, COUNT(*) AS n FROM stacked GROUP BY 1)
        SELECT v.id, COALESCE(cnt.n, 0) AS n_triangles
        FROM ({NATION_VERTS_SQL}) v LEFT JOIN cnt ON v.id = cnt.id
    """,
    "undirected_edges_nation": f"""
        WITH e0 AS ({NATION_EDGES_SQL})
        SELECT DISTINCT src, dst FROM
        (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0)
    """,
    "lp_cs_3": lp_sql(CS_EDGES_SQL, CS_VERTS_SQL, 3),
    "triangle_count_nation": TRIANGLES_NATION_SQL,
    "triangles_sampled_nation": TRIANGLES_SAMPLED_NATION_SQL,
    "token_stats": f"""
        SELECT doc_id,
               CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len({TOK_SQL}) END AS n_tokens,
               len(regexp_extract_all(lower(text),
                   '[a-z0-9]{{1,4}}|[^a-z0-9\\s]')) AS n_pieces,
               length(text) AS n_chars_measured,
               ROUND(length(regexp_replace(text, '\\s+', '', 'g'))::DOUBLE
                     / GREATEST(CASE WHEN length(trim(text)) = 0 THEN 0
                                ELSE len({TOK_SQL}) END, 1), 6)
                   AS avg_token_len
        FROM documents
    """,
    "pack_shards": f"""
        -- windowed SUM(BIGINT) is HUGEINT in DuckDB (float64 via pandas);
        -- cast back to BIGINT so dtypes match the Spark side exactly
        SELECT doc_id, n_tokens, CAST(start_offset AS BIGINT) AS start_offset,
               CAST(start_offset // 512 AS BIGINT) AS shard_id,
               CAST(CASE WHEN n_tokens > 0
                         AND (start_offset + n_tokens - 1) // 512
                             <> start_offset // 512
                    THEN 1 ELSE 0 END AS BIGINT) AS straddles
        FROM (SELECT doc_id, n_tokens,
                     SUM(n_tokens) OVER (ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         - n_tokens AS start_offset
              FROM (SELECT doc_id,
                           CASE WHEN length(trim(text)) = 0 THEN 0
                                ELSE len({TOK_SQL}) END AS n_tokens
                    FROM documents))
    """,
    "quality_features": f"""
        WITH t AS (
            SELECT *, {TOK_SQL} AS tok,
                   CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE len({TOK_SQL}) END AS n_tok
            FROM documents
        )
        SELECT doc_id, n_tok AS n_tokens,
               ROUND(len(list_distinct(tok))::DOUBLE / GREATEST(n_tok, 1), 6)
                   AS unique_token_ratio,
               ROUND(len(list_filter(tok, x -> lower(x) IN ({_markers_sql('en')})))::DOUBLE
                     / GREATEST(n_tok, 1), 6) AS stopword_ratio,
               ROUND(length(regexp_replace(text, '\\s+', '', 'g'))::DOUBLE
                     / GREATEST(n_tok, 1), 6) AS avg_token_len,
               ROUND((
                   (CASE WHEN n_tok >= 10 AND n_tok <= 10000 THEN 1.0 ELSE 0.0 END)
                   + (CASE WHEN length(regexp_replace(text, '\\s+', '', 'g'))::DOUBLE
                            / GREATEST(n_tok, 1) >= 2.0
                       AND length(regexp_replace(text, '\\s+', '', 'g'))::DOUBLE
                            / GREATEST(n_tok, 1) <= 12.0 THEN 1.0 ELSE 0.0 END)
                   + len(list_distinct(tok))::DOUBLE / GREATEST(n_tok, 1)
                   + LEAST(len(list_filter(tok, x -> lower(x) IN ({_markers_sql('en')})))::DOUBLE
                           / GREATEST(n_tok, 1) * 10, 1.0)
               ) / 4.0, 6) AS quality_score
        FROM t
    """,
    "lang_id": f"""
        WITH t AS (SELECT doc_id, {TOK_SQL} AS tok FROM documents),
        h AS (SELECT doc_id,
              len(list_filter(tok, x -> lower(x) IN ({_markers_sql('de')}))) AS hits_de,
              len(list_filter(tok, x -> lower(x) IN ({_markers_sql('en')}))) AS hits_en,
              len(list_filter(tok, x -> lower(x) IN ({_markers_sql('es')}))) AS hits_es,
              len(list_filter(tok, x -> lower(x) IN ({_markers_sql('fr')}))) AS hits_fr
              FROM t)
        SELECT doc_id, hits_de, hits_en, hits_es, hits_fr,
               CASE WHEN GREATEST(hits_de, hits_en, hits_es, hits_fr) = 0 THEN 'und'
                    WHEN hits_de = GREATEST(hits_de, hits_en, hits_es, hits_fr) THEN 'de'
                    WHEN hits_en = GREATEST(hits_de, hits_en, hits_es, hits_fr) THEN 'en'
                    WHEN hits_es = GREATEST(hits_de, hits_en, hits_es, hits_fr) THEN 'es'
                    ELSE 'fr' END AS lang_pred
        FROM h
    """,
    "doc_fingerprint": """
        SELECT doc_id,
               md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))
                   AS fingerprint
        FROM documents
    """,
    "corpus_prep": f"""
        WITH canon AS (
            SELECT md5(text) AS h, MIN(doc_id) AS doc_id
            FROM documents GROUP BY 1
        ),
        dedup AS (
            SELECT d.* FROM documents d
            JOIN canon c ON md5(d.text) = c.h AND d.doc_id = c.doc_id
        ),
        t AS (
            SELECT *, {TOK_SQL} AS tok,
                   CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE len({TOK_SQL}) END AS n_tok
            FROM dedup
        ),
        q AS (
            SELECT doc_id, text, n_tok AS n_tokens,
                   ROUND((
                       (CASE WHEN n_tok >= 10 AND n_tok <= 10000
                             THEN 1.0 ELSE 0.0 END)
                       + (CASE WHEN length(regexp_replace(text, '\\s+', '', 'g'))::DOUBLE
                                / GREATEST(n_tok, 1) >= 2.0
                           AND length(regexp_replace(text, '\\s+', '', 'g'))::DOUBLE
                                / GREATEST(n_tok, 1) <= 12.0 THEN 1.0 ELSE 0.0 END)
                       + len(list_distinct(tok))::DOUBLE / GREATEST(n_tok, 1)
                       + LEAST(len(list_filter(tok, x -> lower(x) IN ({_markers_sql('en')})))::DOUBLE
                               / GREATEST(n_tok, 1) * 10, 1.0)
                   ) / 4.0, 6) AS quality_score,
                   len(list_filter(tok, x -> lower(x) IN ({_markers_sql('de')}))) AS hits_de,
                   len(list_filter(tok, x -> lower(x) IN ({_markers_sql('en')}))) AS hits_en,
                   len(list_filter(tok, x -> lower(x) IN ({_markers_sql('es')}))) AS hits_es,
                   len(list_filter(tok, x -> lower(x) IN ({_markers_sql('fr')}))) AS hits_fr
            FROM t
        ),
        l AS (
            SELECT *,
                   CASE WHEN GREATEST(hits_de, hits_en, hits_es, hits_fr) = 0 THEN 'und'
                        WHEN hits_de = GREATEST(hits_de, hits_en, hits_es, hits_fr) THEN 'de'
                        WHEN hits_en = GREATEST(hits_de, hits_en, hits_es, hits_fr) THEN 'en'
                        WHEN hits_es = GREATEST(hits_de, hits_en, hits_es, hits_fr) THEN 'es'
                        ELSE 'fr' END AS lang_pred
            FROM q
        )
        SELECT doc_id, lang_pred, n_tokens, quality_score,
               md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))
                   AS fingerprint
        FROM l
        WHERE quality_score >= 0.5 AND lang_pred = 'en'
    """,
    "exact_dedup_groups": """
        SELECT md5(text) AS text_hash, COUNT(*) AS n_docs,
               MIN(doc_id) AS canonical_id
        FROM documents GROUP BY 1
    """,
    "neardup_jaccard_blocked": f"""
        WITH t AS (SELECT doc_id, {TOK_SQL} AS tok FROM documents),
        s AS (SELECT doc_id, array_to_string(tok[1:2], ' ') AS block,
                     {_SHINGLES_SQL} AS sh FROM t)
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               ROUND(len(list_intersect(a.sh, b.sh))::DOUBLE
                     / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6)
                   AS jaccard
        FROM s a JOIN s b ON a.block = b.block AND a.doc_id < b.doc_id
        WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
              / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5
    """,
    "neardup_sorted": f"""
        WITH t AS (SELECT doc_id, {TOK_SQL} AS tok,
                   substring(lower(regexp_replace(trim(text), '\\s+', ' ',
                                                  'g')), 1, 32) AS key
                   FROM documents),
        s AS (SELECT doc_id, key, {_SHINGLES_SQL} AS sh FROM t),
        r AS (SELECT doc_id, sh,
                     ROW_NUMBER() OVER (ORDER BY key, doc_id) AS rnk FROM s)
        SELECT LEAST(a.doc_id, b.doc_id) AS id_a,
               GREATEST(a.doc_id, b.doc_id) AS id_b,
               ROUND(len(list_intersect(a.sh, b.sh))::DOUBLE
                     / (len(a.sh) + len(b.sh)
                        - len(list_intersect(a.sh, b.sh))), 6) AS jaccard
        FROM r a JOIN r b ON b.rnk > a.rnk AND b.rnk <= a.rnk + 4
        WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
              / (len(a.sh) + len(b.sh)
                 - len(list_intersect(a.sh, b.sh))) >= 0.5
    """,
    "embedding_cosine_pairs": """
        WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
                   FROM embeddings)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               ROUND(list_dot_product(a.e, b.e)
                     / (sqrt(list_dot_product(a.e, a.e))
                        * sqrt(list_dot_product(b.e, b.e))), 6) AS cosine
        FROM v a JOIN v b ON a.vec_id < b.vec_id
        WHERE list_dot_product(a.e, b.e)
              / (sqrt(list_dot_product(a.e, a.e))
                 * sqrt(list_dot_product(b.e, b.e))) >= 0.35
    """,
    "ann_topk_bruteforce": """
        WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
                   FROM embeddings),
        q AS (SELECT * FROM v WHERE vec_id < 10),
        scored AS (
            SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
                   list_dot_product(q.e, d.e)
                   / (sqrt(list_dot_product(q.e, q.e))
                      * sqrt(list_dot_product(d.e, d.e))) AS c
            FROM q JOIN v d ON q.vec_id <> d.vec_id
        )
        SELECT query_id, neighbor_id, ROUND(c, 6) AS cosine FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY c DESC, neighbor_id ASC) AS rn
            FROM scored
        ) WHERE rn <= 5
    """,
    "events_user_daily": """
        SELECT user_id, date_trunc('day', ts) AS day,
               COUNT(*) AS n_events, ROUND(SUM(value), 6) AS total_value
        FROM events GROUP BY 1, 2
    """,
    "pagerank_reflect_nation_5": pagerank_reflect_sql(
        NATION_EDGES_SQL, NATION_VERTS_SQL, 5),
    "pagerank_gs_nation_5": pagerank_gs_sql(
        NATION_EDGES_SQL, NATION_VERTS_SQL, 5, num_blocks=1),
    "pagerank_blockgs_nation_5": pagerank_gs_sql(
        NATION_EDGES_SQL, NATION_VERTS_SQL, 5, num_blocks=4),
    "pagerank_topk_nation": (
        "SELECT id, rank FROM ("
        + pagerank_sql(NATION_EDGES_SQL, NATION_VERTS_SQL, 30)
        + ") ORDER BY rank DESC, id ASC LIMIT 10"
    ),
    "cc_cs": cc_minlabel_sql(CS_EDGES_SQL, CS_VERTS_SQL, 20),
    # coloring fixed points, unrolled: 26 rounds covers the longest
    # id-increasing (resp. priority-decreasing) path on the 25-vertex
    # nation graph; extra rounds are no-ops at the fixed point
    "coloring_greedy_nation": SQ.greedy_coloring_sql(
        NATION_EDGES_SQL, NATION_VERTS_SQL, rounds=26),
    "coloring_jp_nation": SQ.jp_coloring_sql(
        NATION_EDGES_SQL, NATION_VERTS_SQL, rounds=26),
    "mis_nation": SQ.mis_sql(
        NATION_EDGES_SQL, NATION_VERTS_SQL, rounds=26),
    # 13 rounds >= |V|/2 = max matching size on the 25-vertex nation graph;
    # extra rounds are no-ops at the fixpoint
    "matching_nation": SQ.matching_sql(
        NATION_EDGES_SQL, NATION_VERTS_SQL, rounds=13),
    "coloring_d2_nation": SQ.d2_coloring_sql(
        NATION_EDGES_SQL, NATION_VERTS_SQL, rounds=26),
    "coloring_speculative_nation": SQ.speculative_coloring_sql(
        NATION_EDGES_SQL, NATION_VERTS_SQL, rounds=26),
    "coloring_bounded_nation": SQ.bounded_coloring_sql(
        NATION_EDGES_SQL, NATION_VERTS_SQL, rounds=26, palette=25),
    "coloring_layout_nation": SQ.color_layout_1d_sql(
        NATION_EDGES_SQL, NATION_VERTS_SQL, rounds=26),
    "src_frequency_nation": f"""
        SELECT src, COUNT(*) AS n FROM ({NATION_EDGES_SQL})
        WHERE src <> dst GROUP BY 1
    """,
    "pagerank_pp_nation": SQ.pagerank_pp_sql(
        NATION_EDGES_SQL, NATION_VERTS_SQL, sweeps=3, max_colors=25,
        coloring_rounds=26),
    # prism converges to the reflect-mode fixpoint regardless of frontier
    # bookkeeping; the twin is the power iteration unrolled to far past
    # machine precision (0.15^40 ~ 1e-33) cross-joined with the three
    # frontier-mode tags the engine unions (rows / adj_sets / bitmap)
    "prism_nation": (
        "SELECT t.mode, p.id, p.rank FROM ("
        + pagerank_reflect_sql(NATION_EDGES_SQL, NATION_VERTS_SQL, 40,
                               round_to=6)
        + ") p CROSS JOIN (SELECT UNNEST("
          "['rows', 'adj_sets', 'bitmap']) AS mode) t"),
    "neardup_minhash_lsh": SQ.minhash_lsh_sql(
        f"""SELECT doc_id AS id, {_SHINGLES_SQL} AS sh
            FROM (SELECT doc_id, {TOK_SQL} AS tok FROM documents)""",
        num_hashes=64, bands=16, threshold=0.5),
    # transitive closure over the LSH pair graph: recursive CTE is the
    # ground truth for the engine's frontier min-label fixpoint
    "neardup_clusters": f"""
        WITH RECURSIVE pairs AS MATERIALIZED (
            SELECT id_a, id_b FROM ({{lsh}}) t
        ),
        und AS (SELECT id_a AS src, id_b AS dst FROM pairs
                UNION SELECT id_b, id_a FROM pairs),
        verts AS (SELECT DISTINCT src AS id FROM und),
        reach(id, comp) AS (
            SELECT id, id FROM verts
            UNION
            SELECT u.dst, r.comp FROM reach r JOIN und u ON u.src = r.id
        )
        SELECT id AS doc_id, MIN(comp) AS cluster,
               CAST(CASE WHEN id = MIN(comp) THEN 1 ELSE 0 END AS BIGINT)
                   AS is_canonical
        FROM reach GROUP BY id
    """.replace("{lsh}", SQ.minhash_lsh_sql(
        f"""SELECT doc_id AS id, {_SHINGLES_SQL} AS sh
            FROM (SELECT doc_id, {TOK_SQL} AS tok FROM documents)""",
        num_hashes=64, bands=16, threshold=0.5)),
    "neardup_simhash": SQ.simhash_sql(
        f"SELECT doc_id AS id, unnest({TOK_SQL}) AS t FROM documents",
        max_hamming=12),
    "ann_lsh_pairs": SQ.ann_lsh_pairs_sql(
        dim=64, threshold=0.35, bits=12, tables=6, seed=42),
    "ann_ivf_topk": SQ.ann_ivf_topk_sql(
        n_query=10, k=5, n_probe=4,
        centroids_path=f"{SQ.HANDOFF_DIR}/ann_ivf_centroids.parquet"),
    "pages_linkgraph_pagerank": f"""
        WITH pr AS MATERIALIZED ({{pr}}),
        top AS (SELECT id, rank FROM pr ORDER BY rank DESC, id ASC LIMIT 20)
        SELECT v.url, t.id, t.rank FROM top t
        JOIN read_parquet('{SQ.HANDOFF_DIR}/pages_vertices.parquet/*.parquet') v
        ON t.id = v.id
    """.format(pr=pagerank_sql(
        f"SELECT src, dst FROM read_parquet("
        f"'{SQ.HANDOFF_DIR}/pages_edges.parquet/*.parquet')",
        f"SELECT id FROM read_parquet("
        f"'{SQ.HANDOFF_DIR}/pages_vertices.parquet/*.parquet')",
        5)),
    "hits_nation": SQ.hits_sql(NATION_EDGES_SQL, NATION_VERTS_SQL, 10),
    "katz_nation": SQ.katz_sql(NATION_EDGES_SQL, NATION_VERTS_SQL,
                               alpha=0.02, beta=1.0, iters=10),
    "eigenvector_nation": SQ.eigenvector_sql(NATION_EDGES_SQL,
                                             NATION_VERTS_SQL, iters=20),
    "coreness_nation": SQ.coreness_sql(NATION_EDGES_SQL, NATION_VERTS_SQL,
                                       rounds=6),
    "ppr_nation": SQ.ppr_sql(NATION_EDGES_SQL, NATION_VERTS_SQL,
                             [0, 7, 14], 20, damping=DAMPING),
    "bfs_nation": SQ.bfs_sql(NATION_EDGES_SQL, NATION_VERTS_SQL, [0],
                             directed=True),
    "kcore_nation": SQ.k_core_sql(NATION_EDGES_SQL, NATION_VERTS_SQL,
                                  k=6, rounds=26),
    "clustering_nation": SQ.clustering_sql(NATION_EDGES_SQL,
                                           NATION_VERTS_SQL),
    "cocitation_nation": SQ.cocitation_sql(NATION_EDGES_SQL, min_common=2),
    "scc_nation": SQ.scc_sql(NATION_EDGES_SQL, NATION_VERTS_SQL),
    # SCC condensation: composed over the scc twin — (comp_src, comp_dst,
    # cnt) per ordered pair of distinct components, original multiplicity
    "condensation_nation": f"""
        WITH s AS ({SQ.scc_sql(NATION_EDGES_SQL, NATION_VERTS_SQL)}),
        e AS (SELECT src, dst FROM ({NATION_EDGES_SQL}))
        SELECT a.scc AS comp_src, b.scc AS comp_dst, COUNT(*) AS cnt
        FROM e JOIN s a ON e.src = a.id JOIN s b ON e.dst = b.id
        WHERE a.scc <> b.scc GROUP BY 1, 2
    """,
    "bowtie_nation": SQ.bowtie_sql(NATION_EDGES_SQL, NATION_VERTS_SQL),
    "sssp_nation": SQ.sssp_sql(NATION_EDGES_SQL, NATION_VERTS_SQL, [0],
                               rounds=26),
    "harmonic_nation": SQ.harmonic_sql(NATION_EDGES_SQL, NATION_VERTS_SQL),
    # Eppstein-Wang landmark estimate: same 2/5 LCG pivot predicate as the
    # sampled-betweenness twin (10 of 25 nations), scaled 25/10 before
    # rounding in the same operand order as structure.harmonic_sampled
    "harmonic_sampled_nation": SQ.harmonic_sql(
        NATION_EDGES_SQL, NATION_VERTS_SQL,
        sources_sql=(f"SELECT id FROM ({NATION_VERTS_SQL}) WHERE "
                     "((id * 1103515245 + 12345) % 2147483648) % 5 < 2"),
        scale_num=25.0, scale_den=10.0),
    "adamic_adar_nation": SQ.adamic_adar_sql(NATION_EDGES_SQL),
    "simrank_nation": SQ.simrank_sql(NATION_EDGES_SQL, NATION_VERTS_SQL,
                                     iters=3, c=0.8),
    "graph_summary_nation": SQ.graph_summary_sql(NATION_EDGES_SQL,
                                                 NATION_VERTS_SQL),
    "walks_nation": _walks_sql_twin(),
    "anf_nation": _anf_sql_twin(),
    "ngram_counts": SQ.ngram_counts_sql(3, 2),
    "tfidf_top_terms": SQ.tfidf_top_terms_sql(3),
    "top_bigram_share": SQ.top_bigram_share_sql(),
    "contamination_trigram": SQ.contamination_sql(3, 37),
    "contamination_bloom": SQ.bloom_contamination_sql(3, 37),
    "domain_pagerank": ("SELECT vertex AS host, rank FROM ({q})".format(
        q=SQ.weighted_pagerank_sql(f"""
        WITH v AS (SELECT id,
                        regexp_extract(url, '^https?://([^/]+)/', 1) AS host
                   FROM read_parquet(
                       '{SQ.HANDOFF_DIR}/dpr_vertices.parquet/*.parquet')),
        ee AS (SELECT src, dst FROM read_parquet(
                  '{SQ.HANDOFF_DIR}/dpr_edges.parquet/*.parquet'))
        SELECT vs.host AS src, vd.host AS dst, COUNT(*) AS weight
        FROM ee JOIN v vs ON ee.src = vs.id JOIN v vd ON ee.dst = vd.id
        GROUP BY 1, 2
        """, iters=10, damping=DAMPING))),
    "session_stats": SQ.session_stats_sql(1800),
    "sample_edges_nation": SQ.sample_edges_sql(NATION_EDGES_SQL, 3),
    "wl_nation": SQ.wl_refinement_sql(NATION_EDGES_SQL, NATION_VERTS_SQL, 3),
    "betweenness_nation": SQ.betweenness_sql_twin(NATION_EDGES_SQL,
                                                  NATION_VERTS_SQL),
    # Brandes-Pich estimate: the 2/5 LCG pivot predicate selects 10 of the
    # 25 nations; scale 25/10 applied before rounding, same operand order
    # as betweenness_sampled (bc * n / k)
    "betweenness_sampled_nation": SQ.betweenness_sql_twin(
        NATION_EDGES_SQL, NATION_VERTS_SQL,
        sources_sql=(f"SELECT id FROM ({NATION_VERTS_SQL}) WHERE "
                     "((id * 1103515245 + 12345) % 2147483648) % 5 < 2"),
        scale_num=25.0, scale_den=10.0),
    # measured peel depth at sf0.01 is 3 rounds; 8 gives slack (extra
    # rounds are no-ops at the fixpoint)
    "ktruss_nation": SQ.k_truss_sql(NATION_EDGES_SQL, k=6, rounds=8),
    # 12 rounds covers the h-index convergence depth on the nation graph
    # (max support there is small; extra rounds are fixpoint no-ops)
    "trussness_nation": SQ.trussness_sql(NATION_EDGES_SQL, rounds=12),
    "modularity_nation": SQ.modularity_sql(
        NATION_EDGES_SQL, lp_sql(NATION_EDGES_SQL, NATION_VERTS_SQL, 5)),
    "assortativity_nation": SQ.assortativity_sql(NATION_EDGES_SQL),
    "closeness_nation": SQ.closeness_sql(NATION_EDGES_SQL, NATION_VERTS_SQL),
    "trustrank_nation": SQ.trust_rank_sql(
        NATION_EDGES_SQL, NATION_VERTS_SQL,
        f"SELECT id, 1.0 + id % 3 AS weight FROM ({NATION_VERTS_SQL}) "
        "WHERE id % 2 = 0",
        20, damping=DAMPING),
    "salsa_nation": SQ.salsa_sql(NATION_EDGES_SQL, NATION_VERTS_SQL, 8),
    "jaccard_neighbors_nation": SQ.jaccard_neighbors_sql(
        NATION_EDGES_SQL, min_common=3),
    "anchor_text_index": f"""
        WITH a AS (
            SELECT t.z[1] AS dst_url, t.z[2] AS anchor
            FROM read_parquet(
                '{SQ.HANDOFF_DIR}/anchor_pages.parquet/*.parquet') p,
            UNNEST(list_zip(
                regexp_extract_all(decode(p.html),
                    '<a href="([^"]*)">([^<]*)</a>', 1),
                regexp_extract_all(decode(p.html),
                    '<a href="([^"]*)">([^<]*)</a>', 2))) AS t(z)
        )
        SELECT dst_url, anchor, COUNT(*) AS cnt FROM a
        GROUP BY 1, 2 HAVING COUNT(*) >= 2
    """,
    "domain_linkgraph": f"""
        WITH v AS (SELECT id,
                          regexp_extract(url, '^https?://([^/]+)/', 1) AS host
                   FROM read_parquet(
                       '{SQ.HANDOFF_DIR}/domain_vertices.parquet/*.parquet')),
        e AS (SELECT src, dst FROM read_parquet(
                  '{SQ.HANDOFF_DIR}/domain_edges.parquet/*.parquet')),
        rolled AS (SELECT vs.host AS src_host, vd.host AS dst_host,
                          COUNT(*) AS weight
                   FROM e JOIN v vs ON e.src = vs.id
                          JOIN v vd ON e.dst = vd.id
                   GROUP BY 1, 2)
        SELECT r.src_host, r.dst_host, r.weight,
               f.est_distinct AS est_out_hosts
        FROM rolled r JOIN ({_ad_sql(
            "SELECT src_host, dst_host FROM rolled",
            ["src_host"], "dst_host")}) f ON r.src_host = f.src_host
    """,
    "multimodal_features": SQ.multimodal_features_sql(),
    "multimodal_resize": SQ.multimodal_resize_sql(8, 8),
    "multimodal_metadata": """
        SELECT doc_id AS media_id,
               CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
                    WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
               octet_length(encode(text)) AS payload_bytes,
               md5(text) AS payload_md5
        FROM documents
    """,
    "frame_sample_plan": """
        WITH m AS (SELECT doc_id AS media_id,
                          CAST((doc_id * 37) % 59000 + 1000 AS BIGINT)
                              AS duration_ms
                   FROM documents
                   WHERE CAST(doc_id % 3 AS INT) = 2)
        SELECT media_id, unnest(range(0, duration_ms, 1000)) AS frame_ts_ms
        FROM m
    """,
    "benchparse_normalize": """
        WITH b AS (SELECT event_type AS graph,
                          CAST(user_id % 3 AS VARCHAR) AS method,
                          value AS mean
                   FROM events),
        a AS (SELECT graph, method, AVG(mean) AS mean FROM b GROUP BY 1, 2),
        s AS (SELECT *,
                     MIN(mean) OVER (PARTITION BY graph) AS lo,
                     MAX(mean) OVER (PARTITION BY graph) AS hi,
                     SQRT(SUM(mean * mean) OVER (PARTITION BY graph)) AS nrm
              FROM a)
        SELECT graph, method, ROUND(mean, 6) AS mean,
               ROUND(CASE WHEN hi = lo THEN 0.0
                          ELSE (mean - lo) / (hi - lo) END, 6) AS scaled,
               ROUND(CASE WHEN nrm = 0 THEN 0.0 ELSE mean / nrm END, 6)
                   AS normalized
        FROM s
    """,
    "catalog_events_evolved": """
        WITH cur AS (
            SELECT event_id, event_type, value,
                   CAST(NULL AS DOUBLE) AS score
            FROM events WHERE event_id % 2 = 0 AND event_id % 10 <> 0
            UNION ALL
            SELECT event_id, event_type, value, value * 2 AS score
            FROM events WHERE event_id % 2 = 1
            UNION ALL
            SELECT event_id, event_type, value, -1.0 AS score
            FROM events WHERE event_id % 20 = 0
        )
        SELECT event_type,
               COUNT(*) AS n_events,
               COUNT(CASE WHEN score IS NULL THEN 1 END) AS n_pre_evolution,
               ROUND(SUM(value), 6) AS total_value,
               ROUND(SUM(COALESCE(score, 0.0)), 6) AS total_score,
               MIN(event_id) AS min_event,
               MAX(event_id) AS max_event
        FROM cur GROUP BY 1
    """,
    "events_hourly_windows": """
        SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
               time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour'
                   AS window_end,
               event_type, COUNT(*) AS n_events,
               ROUND(SUM(value), 6) AS total_value
        FROM events GROUP BY 1, 2, 3
    """,
}


def _tagged_union(parts: list[tuple[str, str, str]], tag_col: str) -> str:
    """Compose component twins into one tagged union: ``parts`` is a list of
    (tag, select_list, component_sql)."""
    return "\nUNION ALL\n".join(
        f"SELECT '{tag}' AS {tag_col}, {sel} FROM ({sql}) _t_{tag}"
        for tag, sel, sql in parts)


ORACLES: dict[str, str] = {
    # ---- link-graph core
    "pagerank_cs_strategies": _tagged_union([
        ("join", "id, rank", _SQL["pagerank_cs_5"]),
        ("spmv", "id, rank", _SQL["pagerank_cs_5"]),
        ("superstep", "id, rank", _SQL["pagerank_superstep_cs"]),
    ], "strategy"),
    "pagerank_nation_30": _tagged_union([
        ("all", "id, rank", _SQL["pagerank_nation_30"]),
        ("top10", "id, rank", _SQL["pagerank_topk_nation"]),
    ], "kind"),
    "pagerank_pp_nation": _SQL["pagerank_pp_nation"],
    "pagerank_reflect_nation_5": _tagged_union([
        ("jacobi", "id, rank", _SQL["pagerank_reflect_nation_5"]),
        ("gs", "id, rank", _SQL["pagerank_gs_nation_5"]),
        ("block_gs", "id, rank", _SQL["pagerank_blockgs_nation_5"]),
    ], "schedule"),
    "pages_linkgraph_pagerank": _SQL["pages_linkgraph_pagerank"],
    "domain_pagerank": _SQL["domain_pagerank"],
    "domain_linkgraph": _SQL["domain_linkgraph"],
    "prism_nation": _SQL["prism_nation"],
    "cc_cs_strategies": _tagged_union([
        ("join", "id, component", _SQL["cc_cs"]),
        ("spmv", "id, component", _SQL["cc_cs"]),
        ("auto", "id, component", _SQL["cc_cs"]),
        ("star", "id, component", _SQL["cc_cs"]),
    ], "strategy"),
    "cc_incremental_nation": _SQL["cc_incremental_nation"],
    "lp_cs_strategies": _tagged_union([
        ("dist", "id, label", _SQL["lp_cs_3"]),
        ("auto", "id, label", _SQL["lp_cs_3"]),
    ], "strategy"),
    "triangles_nation": _tagged_union([
        ("per_vertex", "id, n_triangles",
         _SQL["triangles_per_vertex_nation"]),
        ("global", "CAST(-1 AS BIGINT) AS id, n_triangles",
         _SQL["triangle_count_nation"]),
        ("incremental", "CAST(-1 AS BIGINT) AS id, n_triangles",
         _SQL["triangle_count_nation"]),
        ("sampled", "CAST(-1 AS BIGINT) AS id, n_triangles",
         _SQL["triangles_sampled_nation"]),
    ], "kind"),
    # ---- structure / centrality
    "scc_nation_strategies": _tagged_union([
        ("joinpath", "id, scc", _SQL["scc_nation"]),
        ("auto", "id, scc", _SQL["scc_nation"]),
    ], "strategy"),
    "bowtie_nation": _SQL["bowtie_nation"],
    "coreness_kcore_nation": _tagged_union([
        ("coreness", "id, CAST(coreness AS BIGINT) AS v",
         _SQL["coreness_nation"]),
        ("kcore6", "id, CAST(deg AS BIGINT) AS v", _SQL["kcore_nation"]),
    ], "kind"),
    "ktruss_nation": _tagged_union([
        ("ktruss6", "src, dst, CAST(support AS BIGINT) AS v",
         _SQL["ktruss_nation"]),
        ("trussness", "src, dst, CAST(trussness AS BIGINT) AS v",
         _SQL["trussness_nation"]),
    ], "kind"),
    "clustering_nation": _SQL["clustering_nation"],
    "pair_scores_nation": _tagged_union([
        ("cocitation", "a, b, common, 0.0 AS score",
         _SQL["cocitation_nation"]),
        ("jaccard", "a, b, common, jac AS score",
         _SQL["jaccard_neighbors_nation"]),
        ("adamic_adar", "a, b, common, score", _SQL["adamic_adar_nation"]),
        ("simrank", "a, b, CAST(0 AS BIGINT) AS common, score",
         _SQL["simrank_nation"]),
    ], "kind"),
    "graph_summary_nation": (
        f"SELECT * FROM ({_SQL['graph_summary_nation']}) s "
        f"CROSS JOIN ({_SQL['assortativity_nation']}) a "
        f"CROSS JOIN ({_powerlaw_sql_twin()}) p "
        f"CROSS JOIN ({SQ.transitivity_sql(NATION_EDGES_SQL)}) t"),
    "modularity_nation": _SQL["modularity_nation"],
    "anf_nation": _SQL["anf_nation"],
    "wl_nation": _SQL["wl_nation"],
    "walks_nation": _SQL["walks_nation"],
    "betweenness_nation": _tagged_union([
        ("exact", "id, bc", _SQL["betweenness_nation"]),
        ("sampled", "id, bc", _SQL["betweenness_sampled_nation"]),
    ], "kind"),
    "distances_nation": _tagged_union([
        ("bfs", "id, CAST(dist AS DOUBLE) AS dist", _SQL["bfs_nation"]),
        ("sssp", "id, dist", _SQL["sssp_nation"]),
    ], "kind"),
    "closeness_harmonic_nation": (
        f"SELECT c.id, c.closeness, h.harmonic, "
        f"he.harmonic AS harmonic_est "
        f"FROM ({_SQL['closeness_nation']}) c "
        f"JOIN ({_SQL['harmonic_nation']}) h ON c.id = h.id "
        f"JOIN ({_SQL['harmonic_sampled_nation']}) he ON c.id = he.id"),
    "hits_salsa_nation": _tagged_union([
        ("hits", "id, hub, authority", _SQL["hits_nation"]),
        ("salsa", "id, hub, authority", _SQL["salsa_nation"]),
    ], "kind"),
    "katz_eigenvector_nation": _tagged_union([
        ("katz", "id, katz AS score", _SQL["katz_nation"]),
        ("eigenvector", "id, eigenvector AS score",
         _SQL["eigenvector_nation"]),
    ], "kind"),
    "teleport_rank_nation": _tagged_union([
        ("ppr", "id, rank", _SQL["ppr_nation"]),
        ("trustrank", "id, rank", _SQL["trustrank_nation"]),
    ], "kind"),
    # ---- coloring + edge transforms
    "coloring_seq_nation": _tagged_union([
        ("greedy", "id, color, CAST(-1 AS BIGINT) AS pos, "
         "CAST(-1 AS BIGINT) AS seg_start, CAST(-1 AS BIGINT) AS seg_len",
         _SQL["coloring_greedy_nation"]),
        ("bounded", "id, color, CAST(-1 AS BIGINT) AS pos, "
         "CAST(-1 AS BIGINT) AS seg_start, CAST(-1 AS BIGINT) AS seg_len",
         _SQL["coloring_bounded_nation"]),
        ("layout", "id, color, pos, \"start\" AS seg_start, "
         "\"length\" AS seg_len", _SQL["coloring_layout_nation"]),
    ], "kind"),
    "coloring_parallel_nation": _tagged_union([
        ("jp", "id, color", _SQL["coloring_jp_nation"]),
        ("d2", "id, color", _SQL["coloring_d2_nation"]),
        ("speculative", "id, color", _SQL["coloring_speculative_nation"]),
        ("mis", "id, CAST(in_mis AS INT) AS color", _SQL["mis_nation"]),
    ], "kind"),
    "graph_edges_nation": _tagged_union([
        ("invert", "src AS a, dst AS b, CAST(1 AS BIGINT) AS c",
         _SQL["invert_nation"]),
        ("undirected", "src AS a, dst AS b, CAST(1 AS BIGINT) AS c",
         _SQL["undirected_edges_nation"]),
        ("amend", "src AS a, dst AS b, cnt AS c",
         _SQL["amend_sinks_nation"]),
        ("sample", "src AS a, dst AS b, CAST(1 AS BIGINT) AS c",
         _SQL["sample_edges_nation"]),
        ("src_freq", "src AS a, CAST(-1 AS BIGINT) AS b, n AS c",
         _SQL["src_frequency_nation"]),
        ("matching", "src AS a, dst AS b, CAST(1 AS BIGINT) AS c",
         _SQL["matching_nation"]),
        ("condense", "comp_src AS a, comp_dst AS b, cnt AS c",
         _SQL["condensation_nation"]),
    ], "kind"),
    "degree_stats_cs": _tagged_union([
        ("topk", "id AS a, deg AS b", _SQL["out_degree_topk"]),
        ("hist", "deg AS a, n_vertices AS b", _SQL["degree_histogram"]),
        ("sinks", "id AS a, CAST(-1 AS BIGINT) AS b",
         _SQL["sink_vertices"]),
        ("richclub", "k AS a, phi_ppm AS b", _SQL["rich_club_cs"]),
        ("ccdf", "deg AS a, n_ge AS b", _SQL["degree_ccdf_cs"]),
        ("in_topk", "id AS a, deg AS b", _SQL["in_degree_topk"]),
    ], "kind"),
    # ---- training-data pipeline
    "text_features": f"""
        SELECT t.doc_id, t.n_tokens, t.n_pieces, t.n_chars_measured,
               t.avg_token_len, q.unique_token_ratio, q.stopword_ratio,
               q.quality_score, l.hits_de, l.hits_en, l.hits_es, l.hits_fr,
               l.lang_pred, f.fingerprint, s.rk AS smp_rank,
               p.start_offset, p.shard_id, p.straddles
        FROM ({_SQL['token_stats']}) t
        JOIN ({_SQL['quality_features']}) q ON t.doc_id = q.doc_id
        JOIN ({_SQL['lang_id']}) l ON t.doc_id = l.doc_id
        JOIN ({_SQL['doc_fingerprint']}) f ON t.doc_id = f.doc_id
        LEFT JOIN (
            SELECT doc_id, rk FROM (
                SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY lang
                    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
                FROM documents) WHERE rk <= 20
        ) s ON t.doc_id = s.doc_id
        JOIN ({_SQL['pack_shards']}) p ON t.doc_id = p.doc_id
    """,
    "corpus_prep": _SQL["corpus_prep"],
    "ngram_counts": _tagged_union([
        ("ngram", "CAST(-1 AS BIGINT) AS doc_id, ngram AS term, "
                  "cnt AS tf, CAST(-1 AS BIGINT) AS df, "
                  "CAST(-1 AS BIGINT) AS score, CAST(-1 AS BIGINT) AS rnk",
         _SQL["ngram_counts"]),
        ("tfidf", "doc_id, term, tf, df, score, CAST(rnk AS BIGINT) AS rnk",
         _SQL["tfidf_top_terms"]),
        ("top2", "doc_id, gram AS term, cnt AS tf, n_tokens AS df, "
                 "share_ppm AS score, CAST(1 AS BIGINT) AS rnk",
         _SQL["top_bigram_share"]),
    ], "kind"),
    "contamination_trigram": _tagged_union([
        ("exact", "doc_id, n_overlap, n_ngrams, overlap_frac",
         _SQL["contamination_trigram"]),
        ("bloom", "doc_id, n_overlap, n_ngrams, overlap_frac",
         _SQL["contamination_bloom"]),
    ], "kind"),
    "exact_dedup_groups": _SQL["exact_dedup_groups"],
    "neardup_pairs": _tagged_union([
        ("jaccard", "id_a, id_b, jaccard AS score",
         _SQL["neardup_jaccard_blocked"]),
        ("simhash", "id_a, id_b, CAST(hamming AS DOUBLE) AS score",
         _SQL["neardup_simhash"]),
        ("minhash", "id_a, id_b, jaccard AS score",
         _SQL["neardup_minhash_lsh"]),
        ("sorted", "id_a, id_b, jaccard AS score",
         _SQL["neardup_sorted"]),
    ], "kind"),
    "neardup_clusters": _SQL["neardup_clusters"],
    "ann_pairs": _tagged_union([
        ("brute", "id_a, id_b, cosine", _SQL["embedding_cosine_pairs"]),
        ("lsh", "id_a, id_b, cosine", _SQL["ann_lsh_pairs"]),
    ], "kind"),
    "ann_topk": _tagged_union([
        ("brute", "query_id, neighbor_id, cosine",
         _SQL["ann_topk_bruteforce"]),
        ("ivf", "query_id, neighbor_id, cosine", _SQL["ann_ivf_topk"]),
    ], "kind"),
    "anchor_text_index": _SQL["anchor_text_index"],
    "session_stats": _SQL["session_stats"],
    "events_rollups": f"""
        SELECT 'hourly' AS kind, window_start AS bucket,
               event_type AS "key", n_events, total_value
        FROM ({_SQL['events_hourly_windows']}) h
        UNION ALL
        SELECT 'daily' AS kind, day AS bucket,
               CAST(user_id AS VARCHAR) AS "key", n_events, total_value
        FROM ({_SQL['events_user_daily']}) d
    """,
    "benchparse_normalize": _SQL["benchparse_normalize"],
    "catalog_events_evolved": _SQL["catalog_events_evolved"],
    "multimodal_pipeline": f"""
        WITH fr AS (
            SELECT media_id, COUNT(*) AS n_frames,
                   MAX(frame_ts_ms) AS max_frame_ms
            FROM ({_SQL['frame_sample_plan']}) GROUP BY 1
        )
        SELECT m.media_id, m.kind, m.payload_bytes, m.payload_md5,
               f.feature_sum,
               COALESCE(fr.n_frames, -1) AS n_frames,
               COALESCE(fr.max_frame_ms, -1) AS max_frame_ms
        FROM ({_SQL['multimodal_metadata']}) m
        JOIN ({_SQL['multimodal_features']}) f ON m.media_id = f.media_id
        LEFT JOIN fr ON m.media_id = fr.media_id
    """,
    "multimodal_resize": _SQL["multimodal_resize"],
    "url_dedup_crawl": """
        WITH raw AS (
            SELECT i // 3 AS pid, i % 3 AS s FROM range(0, 3000) t(i)
        ),
        crawl AS (
            SELECT
                (CASE WHEN (pid+s)%11=0 THEN 'HTTPS' ELSE 'https' END)
                || '://'
                || (CASE WHEN (pid+s)%5=0 THEN 'www.' ELSE '' END)
                || (CASE WHEN (pid+s)%11=0
                      THEN 'Site' || lpad(CAST(pid%40 AS VARCHAR),4,'0')
                           || '.Example'
                      ELSE 'site' || lpad(CAST(pid%40 AS VARCHAR),4,'0')
                           || '.example' END)
                || '/p' || lpad(CAST(pid AS VARCHAR),8,'0')
                || (CASE WHEN (pid+s)%7=0 THEN '/' ELSE '' END)
                || (CASE WHEN (pid+s)%3=0 AND pid%4=0
                      THEN '?utm_source=feed&v=' || CAST(pid%3 AS VARCHAR)
                           || '&ref=rss'
                      WHEN (pid+s)%3=0 THEN '?utm_source=feed&ref=rss'
                      WHEN pid%4=0 THEN '?v=' || CAST(pid%3 AS VARCHAR)
                      ELSE '' END)
                || (CASE WHEN (pid+s)%13=0 THEN '#sec2' ELSE '' END)
                AS url,
                CAST(1700000000 + pid*17 + s*3600 AS BIGINT) AS warc_epoch,
                (CASE WHEN pid%6=0
                   THEN 'contact u' || CAST(pid AS VARCHAR) || '@mail'
                        || CAST(pid%10 AS VARCHAR)
                        || '.example or +1-555-'
                        || lpad(CAST(pid%1000 AS VARCHAR),3,'0') || '-'
                        || lpad(CAST(pid%10000 AS VARCHAR),4,'0')
                   ELSE 'page body ' || CAST(pid AS VARCHAR) END) AS text
            FROM raw
        ),
        canon AS (
            SELECT
                lower(regexp_extract(url,
                    '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(\\?[^#]*)?',
                    1)) || '://' ||
                regexp_replace(lower(regexp_extract(url,
                    '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(\\?[^#]*)?',
                    2)), '^www\\.', '') ||
                regexp_replace(regexp_extract(url,
                    '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(\\?[^#]*)?',
                    3), '/+$', '') ||
                (CASE WHEN q = '' THEN '' ELSE '?' || q END)
                AS canonical_url,
                url, warc_epoch,
                len(regexp_extract_all(text,
                    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
                    AS em,
                len(regexp_extract_all(text,
                    '\\+[0-9]{1,2}-[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS ph
            FROM (
                SELECT *,
                    COALESCE(array_to_string(list_sort(list_filter(
                        string_split(regexp_replace(regexp_extract(url,
                            '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(\\?[^#]*)?',
                            4), '^\\?', ''), '&'),
                        x -> x <> '' AND NOT (starts_with(x, 'utm_')
                             OR starts_with(x, 'ref=')
                             OR starts_with(x, 'fbclid=')
                             OR starts_with(x, 'gclid=')))), '&'), '') AS q
                FROM crawl
            )
        )
        SELECT canonical_url,
               COUNT(*) AS n_snapshots,
               COUNT(DISTINCT url) AS n_raw_variants,
               MAX(warc_epoch) AS last_epoch,
               CAST(SUM(em) AS BIGINT) AS pii_emails,
               CAST(SUM(ph) AS BIGINT) AS pii_phones
        FROM canon
        WHERE canonical_url <> ''
        GROUP BY canonical_url
        ORDER BY canonical_url
    """,
}
