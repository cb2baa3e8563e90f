"""The benchmark's workloads: seeded inputs, timed ops, output references.

Each workload makes its inputs from the seed during set-up, then runs a
fixed list of ops. An op is one call into a public engine function whose
output is materialized inside the timed region; its check compares that
output with a reference computed here, without the engine, outside the
timed region.

Every op calls a distributed tier directly. The ``*_auto`` dispatchers pick
the driver-local NumPy tier below 5M edges, which would leave the Spark
tiers unmeasured at these sizes.
"""

from __future__ import annotations

import os
import re
import shutil
from dataclasses import dataclass, field, replace
from typing import Any, Callable

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from haskellpagerank_spark import oracle
from haskellpagerank_spark.operators.components import (
    connected_components, label_propagation)
from haskellpagerank_spark.operators.graph import Graph, from_edge_df
from haskellpagerank_spark.operators.pagerank import (
    PageRankConfig, run_pagerank)
from haskellpagerank_spark.operators.pagerank_csr import run_pagerank_spmv
from haskellpagerank_spark.operators.pagerank_local import run_pagerank_local
from haskellpagerank_spark.operators.triangles import triangle_count
from haskellpagerank_spark.sources.pages import build_graph, generate_pages
from haskellpagerank_spark.sources.synthetic import synth_edges
from haskellpagerank_spark.sources.tpch_graph import cs_graph

LP_SWEEPS = 5
JOIN_SWEEPS = 5
CKPT_INTERVAL = 5   # sweeps between PageRank snapshots
RESUME_FROM = 10    # sweeps done before a resumed run is interrupted


# ------------------------------------------------------------------ inputs

class CsInputs:
    """TPC-H key tables from DuckDB's dbgen, written as parquet, with the
    customer and supplier keys put through a seeded permutation. The
    engine builds the customer->supplier graph from them with
    ``sources.tpch_graph.cs_graph``."""

    def __init__(self, spark, seed: int, root: str, sf: float):
        self.spark, self.seed, self.root, self.sf = spark, seed, root, sf

    def prepare(self) -> None:
        con = duckdb.connect()
        con.execute(f"CALL dbgen(sf={self.sf})")

        def col(sql: str) -> np.ndarray:
            return con.sql(sql).fetchnumpy()

        cust = col("SELECT c_custkey FROM customer")["c_custkey"]
        supp = col("SELECT s_suppkey FROM supplier")["s_suppkey"]
        orders = col("SELECT o_orderkey, o_custkey FROM orders")
        items = col("SELECT l_orderkey, l_suppkey FROM lineitem")
        con.close()
        rng = np.random.default_rng(self.seed)
        cperm = rng.permutation(len(cust)).astype(np.int64)
        sperm = rng.permutation(len(supp)).astype(np.int64)
        # dbgen keys are dense 1..n; the engine's contract is dense 0..n-1
        okey = orders["o_orderkey"].astype(np.int64)
        ocust = cperm[orders["o_custkey"].astype(np.int64) - 1]
        lkey = items["l_orderkey"].astype(np.int64)
        lsupp = sperm[items["l_suppkey"].astype(np.int64) - 1]
        tables = {
            "customer": {"c_custkey": cperm[cust.astype(np.int64) - 1]},
            "supplier": {"s_suppkey": sperm[supp.astype(np.int64) - 1]},
            "orders": {"o_orderkey": okey, "o_custkey": ocust},
            "lineitem": {"l_orderkey": lkey, "l_suppkey": lsupp},
        }
        os.makedirs(self.root, exist_ok=True)
        for name, cols in tables.items():
            path = f"{self.root}/{name}.parquet"
            pq.write_table(pa.table(cols), path)
            # load once through Spark, as the other workloads' inputs are
            rows = self.spark.read.parquet(path).count()
            if rows != len(next(iter(cols.values()))):
                raise RuntimeError(f"{path}: row count differs after write")
        order = np.argsort(okey)
        src = ocust[order][np.searchsorted(okey[order], lkey)]
        self.edges = (src, lsupp + len(cust), len(cust) + len(supp))

    def ingest(self) -> Graph:
        return cs_graph(self.spark, self.root)

    def reference_edges(self):
        """One edge per lineitem, joined to its order in NumPy."""
        return self.edges

    def release(self) -> None:
        pass


class SkewInputs:
    """``sources.synthetic.synth_edges`` written as parquet: a hashed graph
    whose hub vertices share a fifth of all edges."""

    def __init__(self, spark, seed: int, root: str, vertices: int,
                 hubs: int):
        self.spark, self.seed, self.root = spark, seed, root
        self.n, self.hub_fraction = vertices, hubs / vertices
        self.path = f"{root}/edges.parquet"

    def prepare(self) -> None:
        (synth_edges(self.spark, self.n, avg_degree=10,
                     hub_fraction=self.hub_fraction, seed=self.seed)
         .write.mode("overwrite").parquet(self.path))
        t = pq.read_table(self.path)
        self.edges = (t["src"].to_numpy(), t["dst"].to_numpy(), self.n)

    def ingest(self) -> Graph:
        return from_edge_df(self.spark.read.parquet(self.path),
                            num_vertices=self.n)

    def reference_edges(self):
        return self.edges

    def release(self) -> None:
        pass


_HREF = re.compile(r'href="([^"]*)"')


class PagesInputs:
    """``sources.pages.generate_pages``, cached: the only workload that
    starts from page html, the BASELINE input path."""

    def __init__(self, spark, seed: int, root: str, pages: int):
        self.spark, self.seed, self.num_pages = spark, seed, pages
        self.pages = None

    def prepare(self) -> None:
        self.release()
        self.pages = generate_pages(self.spark, self.num_pages, seed=self.seed,
                                    avg_links=8).persist()
        self.pages.count()

    def ingest(self) -> Graph:
        return build_graph(self.pages)[0]

    def reference_edges(self):
        """href occurrences -> ids by sorted url, independent of the
        engine's vectorized extractor and two-pass encoder."""
        pdf = self.pages.select("url", "html").toPandas()
        pairs = [(u, d) for u, h in zip(pdf["url"], pdf["html"])
                 for d in _HREF.findall(bytes(h).decode("utf-8"))]
        urls = sorted({u for p in pairs for u in p})
        ids = {u: i for i, u in enumerate(urls)}
        src = np.array([ids[s] for s, _ in pairs], dtype=np.int64)
        dst = np.array([ids[d] for _, d in pairs], dtype=np.int64)
        return src, dst, len(urls)

    def release(self) -> None:
        if self.pages is not None:
            self.pages.unpersist()
            self.pages = None


# -------------------------------------------------------------- references

class Reference:
    """Expected outputs for one seed, from the NumPy/Python oracle and
    DuckDB over the workload's own edge list (self-loops dropped, as the
    engine's graph contract does). Each is computed once, on first use."""

    def __init__(self, src: np.ndarray, dst: np.ndarray, n: int):
        keep = src != dst
        self.src, self.dst, self.n = src[keep], dst[keep], n
        self._memo: dict[Any, Any] = {}

    def _once(self, key, fn):
        if key not in self._memo:
            self._memo[key] = fn()
        return self._memo[key]

    def sorted_edges(self) -> np.ndarray:
        return self._once("edges", lambda: _sorted_pairs(self.src, self.dst))

    def pagerank(self, sweeps: int) -> np.ndarray:
        return self._once(("pr", sweeps), lambda: oracle.pagerank_redistribute(
            self.src, self.dst, self.n, damping=0.85, eps=1e-6,
            num_iters=sweeps))

    def components(self) -> np.ndarray:
        return self._once("cc", lambda: np.array(
            oracle.connected_components(self.src, self.dst, self.n)))

    def labels(self) -> np.ndarray:
        return self._once("lp", lambda: np.array(
            oracle.label_propagation(self.src, self.dst, self.n, LP_SWEEPS)))

    def triangles(self) -> int:
        # oracle.triangle_count walks vertices by id and is quadratic in
        # hub degree; this is the degree-ordered count in DuckDB.
        def count() -> int:
            con = duckdb.connect()
            con.register("e0", pa.table({"src": self.src, "dst": self.dst}))
            # each undirected edge once, from lower (degree, id) to higher;
            # materialized, since DuckDB plans the inlined CTE badly
            con.execute("""
                CREATE TEMP TABLE o AS
                WITH e AS (SELECT DISTINCT least(src, dst) AS a,
                                  greatest(src, dst) AS b FROM e0),
                deg AS (SELECT v, count(*) AS d FROM
                        (SELECT a AS v FROM e UNION ALL SELECT b FROM e)
                        GROUP BY v)
                SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND a < b)
                            THEN a ELSE b END AS s,
                       CASE WHEN da.d < db.d OR (da.d = db.d AND a < b)
                            THEN b ELSE a END AS t
                FROM e JOIN deg da ON da.v = a JOIN deg db ON db.v = b
            """)
            n = con.sql("""
                SELECT count(*) FROM o o1 JOIN o o2 ON o1.t = o2.s
                JOIN o o3 ON o3.s = o1.s AND o3.t = o2.t
            """).fetchone()[0]
            con.close()
            return int(n)
        return self._once("tri", count)


def _sorted_pairs(src: np.ndarray, dst: np.ndarray) -> np.ndarray:
    order = np.lexsort((dst, src))
    return np.stack([src[order], dst[order]])


def _vector(df, col: str, n: int) -> np.ndarray:
    pdf = df.toPandas()
    out = np.full(n, np.nan)
    out[pdf["id"].to_numpy(np.int64)] = pdf[col].to_numpy()
    return out


# --------------------------------------------------------------- workloads

@dataclass(frozen=True)
class Spec:
    """One workload: how its inputs are made, their sizes, its ops."""

    name: str
    inputs: Callable[..., Any]
    sizes: dict[str, dict]          # "full" / "smoke" -> input kwargs
    ops: tuple[str, ...]            # timed ops of the untraced run
    pagerank_sweeps: int = 0        # 0 = until L1 residual <= 1e-6
    checkpoint: bool = False        # the pagerank op writes snapshots


# Why each workload exists is in README.md; in short:
WORKLOADS = {s.name: s for s in (
    # many supersteps over a small vertex set: per-superstep cost dominates
    Spec("cs-iterate",
         CsInputs, {"full": {"sf": 0.01}, "smoke": {"sf": 0.001}},
         ("ingest", "pagerank", "cc", "lp")),
    # a larger skewed edge set: build, shuffle, salting and the triangle
    # joins dominate (the hub's ~73k in-edges exceed the 65,536 salting
    # threshold). 15 sweeps, not 5: with 5 the cold build alone set the
    # PageRank time, which then spread by ~19% between runs, against ~3%.
    Spec("skew-volume",
         SkewInputs, {"full": {"vertices": 35_000, "hubs": 1},
                      "smoke": {"vertices": 5_000, "hubs": 2}},
         ("ingest", "pagerank", "triangles"),
         pagerank_sweeps=15),
    # page html in, snapshots written and resumed. A fixed sweep count: on
    # these small page graphs the sweeps to L1 <= 1e-6 range from 16 to 27
    # across seeds, which would swamp the timing (cs-iterate converges).
    Spec("pages-ingest",
         PagesInputs, {"full": {"pages": 5_000}, "smoke": {"pages": 1_000}},
         ("ingest", "pagerank", "resume"),
         pagerank_sweeps=15, checkpoint=True),
)}


def traced_ops(spec: Spec) -> tuple[str, ...]:
    """Every op, so every layer is measured on every workload; a workload
    whose PageRank does not checkpoint adds a checkpointed one."""
    ckpt = () if spec.checkpoint else ("pagerank_ckpt",)
    return ("ingest", "pagerank", *ckpt, "resume", "pagerank_join", "cc",
            "lp", "triangles")


@dataclass
class Run:
    """Mutable state of one workload run: inputs, reference, pass state."""

    spec: Spec
    spark: Any
    seed: int
    root: str
    size: str
    state: dict = field(default_factory=dict)
    _ckpt_seq: int = 0

    def __post_init__(self):
        self.inputs = self.spec.inputs(self.spark, self.seed,
                                       f"{self.root}/input",
                                       **self.spec.sizes[self.size])
        self.ref: Reference | None = None

    def reference(self) -> Reference:
        if self.ref is None:
            self.ref = Reference(*self.inputs.reference_edges())
        return self.ref

    def ckpt_dir(self) -> str:
        self._ckpt_seq += 1
        path = f"{self.root}/ckpt/{self._ckpt_seq:04d}"
        shutil.rmtree(path, ignore_errors=True)
        return path

    def pagerank_cfg(self, checkpoint: bool, **kw) -> PageRankConfig:
        cfg = PageRankConfig(damping=0.85, tol=1e-6, tol_norm="l1",
                             sink_mode="redistribute",
                             num_iters=self.spec.pagerank_sweeps,
                             checkpoint_interval=CKPT_INTERVAL)
        if checkpoint:
            cfg.checkpoint_dir = self.ckpt_dir()
        return replace(cfg, **kw)

    def release_pass(self) -> None:
        g = self.state.get("graph")
        if g is not None:
            g.edges.unpersist()
        self.state.clear()
        shutil.rmtree(f"{self.root}/ckpt", ignore_errors=True)


@dataclass(frozen=True)
class Op:
    """``run`` is timed; ``before`` (untimed) prepares it; ``check`` returns
    True when the output matches the reference."""

    run: Callable[[Run], Any]
    check: Callable[[Run, Any], bool]
    before: Callable[[Run], None] | None = None


def _ingest(r: Run):
    g = r.inputs.ingest()
    edges = g.edges.persist()
    n_edges = edges.count()
    r.state["graph"] = g.with_edges(edges)
    return n_edges


def _check_ingest(r: Run, _) -> bool:
    g = r.state["graph"]
    pdf = g.edges.toPandas()
    got = _sorted_pairs(pdf["src"].to_numpy(np.int64),
                        pdf["dst"].to_numpy(np.int64))
    ref = r.reference()
    return g.num_vertices == ref.n and np.array_equal(got, ref.sorted_edges())


def _pagerank(r: Run, checkpoint: bool):
    cfg = r.pagerank_cfg(checkpoint)
    res = run_pagerank_spmv(r.state["graph"], cfg)
    res.ranks.count()
    if checkpoint:
        r.state["ckpt_result"] = res
        r.state["ckpt_dir"] = cfg.checkpoint_dir
    return res


def _check_pagerank(r: Run, res, sweeps: int) -> bool:
    """allclose 1e-6 per BASELINE, and an L1 distance within the stopping
    tolerance, against the oracle run for ``sweeps`` (0 = to L1 <= 1e-6)."""
    got = _vector(res.ranks, "rank", r.state["graph"].num_vertices)
    want = r.reference().pagerank(sweeps)
    return (np.allclose(got, want, rtol=0, atol=1e-6)
            and float(np.abs(got - want).sum()) <= 1e-6)


def _resume_before(r: Run) -> None:
    cfg = r.pagerank_cfg(True, num_iters=RESUME_FROM)
    run_pagerank_spmv(r.state["graph"], cfg).ranks.count()
    r.state["resume_dir"] = cfg.checkpoint_dir


def _resume(r: Run):
    cfg = r.pagerank_cfg(False, checkpoint_dir=r.state["resume_dir"])
    res = run_pagerank_spmv(r.state["graph"], cfg)
    res.ranks.count()
    return res


def _check_resume(r: Run, res) -> bool:
    n = r.state["graph"].num_vertices
    whole = r.state["ckpt_result"]
    return (res.iterations == whole.iterations and np.array_equal(
        _vector(res.ranks, "rank", n), _vector(whole.ranks, "rank", n)))


def _pagerank_join(r: Run):
    res = run_pagerank(r.state["graph"],
                       r.pagerank_cfg(False, num_iters=JOIN_SWEEPS))
    res.ranks.count()
    return res


def _cc(r: Run):
    res = connected_components(r.state["graph"])
    res.df.count()
    return res


def _check_cc(r: Run, res) -> bool:
    got = _vector(res.df, "component", r.state["graph"].num_vertices)
    return np.array_equal(got, r.reference().components())


def _lp(r: Run):
    res = label_propagation(r.state["graph"], LP_SWEEPS)
    res.df.count()
    return res


def _check_lp(r: Run, res) -> bool:
    got = _vector(res.df, "label", r.state["graph"].num_vertices)
    return np.array_equal(got, r.reference().labels())


def _triangles(r: Run):
    return int(triangle_count(r.state["graph"]).first()["n_triangles"])


OPS = {
    "ingest": Op(_ingest, _check_ingest),
    "pagerank": Op(lambda r: _pagerank(r, r.spec.checkpoint),
                   lambda r, res: _check_pagerank(
                       r, res, r.spec.pagerank_sweeps)),
    "pagerank_ckpt": Op(lambda r: _pagerank(r, True),
                        lambda r, res: _check_pagerank(
                            r, res, r.spec.pagerank_sweeps)),
    "resume": Op(_resume, _check_resume, before=_resume_before),
    "pagerank_join": Op(_pagerank_join,
                        lambda r, res: _check_pagerank(r, res, JOIN_SWEEPS)),
    "cc": Op(_cc, _check_cc),
    "lp": Op(_lp, _check_lp),
    "triangles": Op(_triangles, lambda r, n: n == r.reference().triangles()),
}


def local_floor(r: Run):
    """COST floor: the driver-local tier on the same graph and config."""
    res = run_pagerank_local(r.state["graph"], r.pagerank_cfg(False))
    res.ranks.count()
    return res


def jvm_scan(r: Run) -> None:
    """JVM-only floor: one aggregation over the cached edges."""
    r.state["graph"].edges.groupBy().sum("src", "dst").first()
