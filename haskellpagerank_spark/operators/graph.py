"""Core graph representation and structural operators.

The engine's graph is an **edge DataFrame** ``edges(src: long, dst: long)``
— a COO multiset (duplicate edges kept; they count multiply in degrees and
rank sums, matching the reference parser, EdgeArray.hs:78-89). The vertex
space is dense ``0..num_vertices-1`` (parser contract,
TestGraphParser.hs:26-31); ids outside any edge are isolated vertices.

Everything here is a pure DataFrame transformation — Catalyst sees the whole
plan (projection pushdown, join selection, AQE skew splitting all apply).
The reference's CSR adjacency (EdgeArray.hs:50-52) is NOT a logical concept
here; it reappears only as a per-partition physical layout inside Arrow
kernels (operators/pagerank_csr.py).
"""

from __future__ import annotations

from dataclasses import dataclass, replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_df

EDGE_SCHEMA = "src LONG, dst LONG"


@dataclass(frozen=True)
class Graph:
    """Edge multiset + dense vertex-space size."""

    edges: DataFrame  # (src long, dst long); self-loops already dropped
    num_vertices: int

    @property
    def spark(self) -> SparkSession:
        return self.edges.sparkSession

    def vertices(self) -> DataFrame:
        """Dense vertex table (id long) — spark.range, no data scan."""
        return self.spark.range(self.num_vertices).select(F.col("id"))

    def with_edges(self, edges: DataFrame) -> "Graph":
        return replace(self, edges=edges)


def from_edge_df(edges: DataFrame, num_vertices: int | None = None) -> Graph:
    """Build a Graph from a raw (src, dst) DataFrame.

    Drops self-loops (EdgeArray.hs:73,84-85). If ``num_vertices`` is None it
    is computed as max(id)+1 (dense-id contract, EdgeArray.hs:69-76) — one
    small aggregation job.
    """
    raw = edges.select(F.col("src").cast("long"), F.col("dst").cast("long"))
    if num_vertices is None:
        # sized from the max id seen BEFORE the self-loop drop — a vertex
        # appearing only in a self-loop still occupies an id slot
        # (frequencies sizes from the raw COO, EdgeArray.hs:69-76;
        # self-loops are dropped during fill, EdgeArray.hs:84-85)
        row = raw.select(
            F.greatest(F.max("src"), F.max("dst")).alias("m")
        ).first()
        num_vertices = int(row["m"]) + 1 if row and row["m"] is not None else 0
    return Graph(edges=raw.where(F.col("src") != F.col("dst")),
                 num_vertices=num_vertices)


def from_pairs(spark: SparkSession, pairs: list[tuple[int, int]]) -> Graph:
    """Tiny-fixture constructor (tests): a local relation, sized here from
    the max id like ``from_edge_df`` (no job)."""
    pairs = [(int(s), int(d)) for s, d in pairs]
    return from_edge_df(local_df(spark, pairs, EDGE_SCHEMA),
                        max((max(p) for p in pairs), default=-1) + 1)


def read_edge_list(spark: SparkSession, path: str) -> Graph:
    """Reference-compatible edge-list text loader.

    One ``src<sep>dst`` integer pair per line; any single whitespace
    separator byte (space and tab both occur in the bundled inputs —
    EdgeArray.hs:145-152 skips exactly one separator char). Scales: this is
    a plain distributed text scan + projection.
    """
    raw = spark.read.text(path)
    parts = F.split(F.trim(F.col("value")), r"\s+")
    edges = raw.where(F.length(F.trim(F.col("value"))) > 0).select(
        parts.getItem(0).cast("long").alias("src"),
        parts.getItem(1).cast("long").alias("dst"),
    )
    return from_edge_df(edges)


# ------------------------------------------------------------ structural ops

def invert(edges: DataFrame) -> DataFrame:
    """Graph transpose (invertEdgeArray, EdgeArray.hs:118-133) — a pure
    projection; no shuffle until the result is regrouped."""
    return edges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )


def out_degrees(g: Graph) -> DataFrame:
    """(id, deg) for ALL vertices in the dense space; deg counts duplicate
    edges multiply (lenNbrs, PageRank.hs:93)."""
    deg = g.edges.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    return (
        g.vertices()
        .join(deg, "id", "left")
        .select("id", F.coalesce("deg", F.lit(0)).alias("deg"))
    )


def sinks(g: Graph) -> DataFrame:
    """Vertices with no outbound edge (EdgeArray.hs:109) — left-anti join of
    the dense vertex space against edge sources."""
    return g.vertices().join(
        g.edges.select(F.col("src").alias("id")), "id", "left_anti"
    )


def amend_sinks(g: Graph) -> Graph:
    """Sink edge reflection (amendSinks, EdgeArray.hs:103-116).

    For every sink s, every incoming edge u->s is reflected to s->u — with
    multiplicity (the reference copies the full in-neighbor list). Isolated
    vertices gain nothing. Returns a Graph over ``edges UNION reflected``.

    Scale note: ``sinks`` is at most |V| rows; the join below hashes edges by
    dst once. The reflected set is bounded by |E|.
    """
    sink_ids = sinks(g)
    reflected = g.edges.join(
        sink_ids.withColumnRenamed("id", "dst"), "dst", "inner"
    ).select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return g.with_edges(g.edges.select("src", "dst").unionAll(reflected))


def merge_undirected(g: Graph) -> Graph:
    """Undirected simple view (mergeEdgeGraphs, EdgeArray.hs:135-138):
    per-vertex union of out- and in-neighbors, deduped."""
    und = g.edges.unionAll(invert(g.edges)).dropDuplicates(["src", "dst"])
    return g.with_edges(und)


def undirected_simple_edges(g: Graph, canonical: bool = False) -> DataFrame:
    """Distinct undirected edges. ``canonical=True`` keeps one row per
    unordered pair with src < dst (triangle orientation)."""
    e = g.edges.unionAll(invert(g.edges)).dropDuplicates(["src", "dst"])
    if canonical:
        e = e.where(F.col("src") < F.col("dst"))
    return e


def degree_histogram(g: Graph) -> DataFrame:
    """(deg, n_vertices) over out-degrees, including deg=0 vertices."""
    return out_degrees(g).groupBy("deg").agg(
        F.count(F.lit(1)).alias("n_vertices")
    )


def degree_ccdf(g: Graph) -> DataFrame:
    """(deg, n_ge) — the complementary cumulative degree distribution:
    number of vertices with out-degree >= deg, one row per observed
    degree. THE curve behind every web-graph power-law plot (log-log CCDF
    is the standard presentation; binning-free, unlike the pdf histogram).
    One cumulative window over the histogram axis (<= max-degree rows —
    a deliberately tiny single-partition step, same rationale as
    rich_club's axis window); all-BIGINT."""
    from pyspark.sql.window import Window

    w = (Window.orderBy(F.col("deg").desc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (degree_histogram(g)
            .select("deg", F.sum("n_vertices").over(w).alias("n_ge")))


def src_frequencies(edges: DataFrame) -> DataFrame:
    """(src, n) — occurrence count per *present* source, ascending src.

    The reference's ``frequency`` (EdgeArray.hs:66-67, dead code there:
    ``map length . group . sort . map fst``) — unlike ``out_degrees`` it
    emits no zero rows for absent vertices and keys the counts by the
    sorted distinct sources. One hash aggregation; the sort is the
    caller's ORDER BY (kept out of the operator so Catalyst can drop it
    when the consumer doesn't need order)."""
    return edges.groupBy("src").agg(F.count(F.lit(1)).alias("n"))


def sample_edges(g: Graph, rate_inverse: int = 10,
                 seed: int = 42) -> DataFrame:
    """Deterministic ~1/``rate_inverse`` edge sample: keep (src, dst) iff
    md5_63("{seed}|{src}|{dst}") % rate_inverse == 0 — the debug-subset /
    pipeline-smoke sampler. Pure codegen (md5 + conv), reproducible across
    engines and runs, no RNG state; sampling survives repartitioning
    because the decision is a function of the edge itself."""
    h = F.conv(F.substring(F.md5(F.concat_ws(
        "|", F.lit(seed).cast("string"),
        F.col("src").cast("string"), F.col("dst").cast("string"))),
        1, 15), 16, 10).cast("long")
    return g.edges.where(h % rate_inverse == 0)
