"""Embedding similarity search: brute-force cosine + LSH-bucketed ANN.

Over `embeddings(vec_id: long, embedding: array<float>, label: int)`.

- brute-force top-k / threshold pairs: `zip_with` + `aggregate` dot products
  — Catalyst-native higher-order functions, fully codegen'd, no Python. The
  correctness baseline; O(|Q| * |D| * dim).
- random-hyperplane LSH ANN: 16-bit signatures from deterministic
  (seeded, hash-generated) hyperplanes; candidates = same bucket in any of
  ``tables`` signature tables, then exact cosine re-rank. The scale path:
  shuffles 2-byte bucket keys instead of the full O(n^2) pair space.

At 100 TB the embedding table is bucketed by signature once (write-time),
making repeated ANN queries a bucket-pruned scan + local top-k.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import skip_unchanged_zip_rereads


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(_dot(a, a))


def with_cosine(df: DataFrame, a: str, b: str,
                out: str = "cosine") -> DataFrame:
    """Adds round(cosine(a, b), 6) computed in double precision."""
    ad = F.transform(F.col(a), lambda x: x.cast("double"))
    bd = F.transform(F.col(b), lambda x: x.cast("double"))
    return df.withColumn(out, F.round(
        _dot(ad, bd) / (_norm(ad) * _norm(bd)), 6))


def with_cosine_arrow(df: DataFrame, a: str, b: str,
                      out: str = "cosine") -> DataFrame:
    """Arrow-batched exact cosine over paired vector columns — the fast
    re-rank path. Catalyst higher-order functions pay per-element lambda
    overhead (measured 61.5s for a 2.36M-pair x dim-64 re-rank at 8 cores);
    one numpy einsum per Arrow batch is the production kernel shape. Same
    double-precision math and 6-decimal rounding as ``with_cosine``
    (summation order differs — pairwise vs left fold — so agreement is to
    float ulp, pinned by pytest at 1e-9); the DuckDB-gated queries keep the
    SQL fold for bit-exact oracle parity. Drops the vector columns (the
    re-rank consumes them)."""
    keep = [c for c in df.columns if c not in (a, b)]
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.schema.fields if f.name in keep) + f", {out} double"

    def kernel(batches):
        skip_unchanged_zip_rereads()
        for p in batches:
            if not len(p):
                continue
            va = np.array(p[a].tolist(), dtype=np.float64)
            vb = np.array(p[b].tolist(), dtype=np.float64)
            dot = np.einsum("ij,ij->i", va, vb)
            den = (np.linalg.norm(va, axis=1) * np.linalg.norm(vb, axis=1))
            res = p[keep].copy()
            res[out] = np.round(dot / den, 6)
            yield res

    return df.mapInPandas(kernel, schema=out_schema)


def cosine_pairs(emb: DataFrame, threshold: float,
                 id_col: str = "vec_id",
                 vec_col: str = "embedding") -> DataFrame:
    """All pairs (id_a < id_b) with cosine >= threshold — brute force.

    The exact baseline (and the DuckDB-oracle query). Quadratic; use
    ``ann_lsh_pairs`` at scale.
    """
    a = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    joined = a.crossJoin(b).where(F.col("id_a") < F.col("id_b"))
    return (
        with_cosine(joined, "va", "vb")
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def ann_topk_bruteforce(emb: DataFrame, query_ids: list[int], k: int = 5,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding") -> DataFrame:
    """Exact top-k cosine neighbors for each query id (excluding self).

    (query_id, neighbor_id, cosine) — k rows per query, deterministic
    tie-break on neighbor id. The query side is tiny -> broadcast it.
    """
    q = emb.where(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("vq"))
    d = emb.select(F.col(id_col).alias("neighbor_id"),
                   F.col(vec_col).alias("vd"))
    scored = with_cosine(
        F.broadcast(q).crossJoin(d)
        .where(F.col("query_id") != F.col("neighbor_id")),
        "vq", "vd",
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "cosine")
    )


def _hyperplanes(dim: int, bits: int, tables: int, seed: int) -> np.ndarray:
    """Deterministic pseudo-random unit hyperplanes, shape (tables, bits, dim)."""
    rng = np.random.default_rng(seed)
    h = rng.standard_normal((tables, bits, dim))
    return h / np.linalg.norm(h, axis=2, keepdims=True)


def lsh_signatures(emb: DataFrame, dim: int, bits: int = 16,
                   tables: int = 4, seed: int = 42,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """(id, table, bucket) — sign-random-projection signatures.

    One Arrow-batched numpy matmul per batch: all ``tables x bits`` plane
    dot products at once, then sign bits folded into per-table int buckets
    with a single (1<<b) weighted sum. The hyperplanes ride in the task
    closure (tables*bits*dim doubles — a few MB even at dim 4096), NOT as
    plan literals: the query plan stays O(1) in dim, and per-row cost is a
    BLAS matmul instead of tables*bits*dim scalar Catalyst expressions.
    """
    planes = _hyperplanes(dim, bits, tables, seed)
    flat = planes.reshape(tables * bits, dim)          # (T*B, dim)
    weights = (1 << np.arange(bits, dtype=np.int64))   # (B,)

    def kernel(batches):
        skip_unchanged_zip_rereads()
        for b in batches:
            if not len(b):
                continue
            v = np.array(b[vec_col].tolist(), dtype=np.float64)
            sims = v @ flat.T                          # (n, T*B)
            sgn = (sims > 0).reshape(len(v), tables, bits)
            buckets = (sgn * weights).sum(axis=2)      # (n, T)
            ids = np.repeat(b[id_col].to_numpy(np.int64), tables)
            yield pd.DataFrame({
                "id": ids,
                "table": np.tile(np.arange(tables, dtype=np.int32), len(v)),
                "bucket": buckets.reshape(-1).astype(np.int64),
            })

    return emb.select(id_col, vec_col).mapInPandas(
        kernel, schema="id long, table int, bucket long")


def fit_ivf_centroids(emb: DataFrame, n_cells: int = 16,
                      sample: int = 4096, iters: int = 5,
                      id_col: str = "vec_id",
                      vec_col: str = "embedding") -> np.ndarray:
    """Deterministic IVF coarse quantizer: spherical k-means (Lloyd) on a
    bounded sample, driver-side numpy. Sample size is fixed, so the fit
    cost is O(1) in corpus size — the 100 TB path trains on a sample and
    assigns distributively.

    The sample is *hash-spread*: take the ``sample`` smallest xxhash64(id)
    rows rather than the smallest ids — on sharded/temporal corpora where
    embeddings correlate with id, an id-prefix sample would miss whole
    regions and silently wreck recall. Seeding is k-means++-style greedy
    farthest-point (deterministic): each next seed is the sample vector
    least similar to all chosen seeds, so initial centroids span the data
    instead of duplicating one dense region.
    """
    pdf = (emb.orderBy(F.xxhash64(F.col(id_col)), F.col(id_col))
           .limit(sample).select(vec_col).toPandas())
    x = np.array(pdf[vec_col].tolist(), dtype=np.float64)
    xn = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    k = min(n_cells, len(xn))
    seeds = [0]
    best = xn @ xn[0]
    for _ in range(1, k):
        j = int(np.argmin(best))  # least covered point (ties -> lowest idx)
        seeds.append(j)
        best = np.maximum(best, xn @ xn[j])
    c = xn[seeds].copy()
    for _ in range(iters):
        assign = np.argmax(xn @ c.T, axis=1)
        for j in range(k):
            members = xn[assign == j]
            if len(members):
                c[j] = members.mean(axis=0)
        c /= np.maximum(np.linalg.norm(c, axis=1, keepdims=True), 1e-12)
    return c


def ivf_assignments(emb: DataFrame, centroids: np.ndarray,
                    n_probe: int = 1, id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """(id, cell) — each vector's ``n_probe`` nearest coarse cells, via an
    Arrow-batched numpy matmul (centroids ride in the closure: tiny).

    Deterministic: cells ranked by (dot desc, cell asc) with a stable sort —
    the same order ``ROW_NUMBER() OVER (ORDER BY sim DESC, cell ASC)``
    produces, so a SQL twin over the exported centroids reproduces the
    assignment (empirically exact on the gate data; numpy's BLAS matmul may
    reorder float additions vs a SQL engine's sequential dot-product fold,
    so a near-tie within ~1 ulp could in principle rank differently). The
    vector is NOT normalized first (centroids are unit vectors; a positive
    per-row scale cannot change the ranking), which keeps the kernel and
    the SQL twin numerically aligned.
    """
    c = np.asarray(centroids, dtype=np.float64)

    def kernel(batches):
        skip_unchanged_zip_rereads()
        for b in batches:
            if not len(b):
                continue
            v = np.array(b[vec_col].tolist(), dtype=np.float64)
            sims = v @ c.T
            p = min(n_probe, sims.shape[1])
            top = np.argsort(-sims, axis=1, kind="stable")[:, :p]
            ids = np.repeat(b[id_col].to_numpy(np.int64), p)
            yield pd.DataFrame({"id": ids,
                                "cell": top.reshape(-1).astype(np.int32)})

    return emb.select(id_col, vec_col).mapInPandas(
        kernel, schema="id long, cell int")


def ann_ivf_topk(emb: DataFrame, query_ids: list[int], k: int = 5,
                 n_cells: int = 16, n_probe: int = 4,
                 id_col: str = "vec_id",
                 vec_col: str = "embedding",
                 centroids: np.ndarray | None = None) -> DataFrame:
    """IVF ANN: coarse-quantize the corpus once (cell-bucketed scan at
    production scale), probe the queries' ``n_probe`` nearest cells, exact
    cosine re-rank inside the probed cells. Same output schema as
    ``ann_topk_bruteforce``; recall < 1 by construction (pytest measures
    it against brute force). ``centroids``: pre-fit unit centroids (e.g.
    exported for a cross-engine twin); None -> fit here."""
    cents = centroids if centroids is not None else fit_ivf_centroids(
        emb, n_cells=n_cells, id_col=id_col, vec_col=vec_col)
    cells = ivf_assignments(emb, cents, n_probe=1, id_col=id_col,
                            vec_col=vec_col)
    q = emb.where(F.col(id_col).isin(query_ids))
    qcells = ivf_assignments(q, cents, n_probe=n_probe, id_col=id_col,
                             vec_col=vec_col).withColumnRenamed(
                                 "id", "query_id")
    v = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vd"))
    qv = emb.where(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("vq"))
    cand = (
        F.broadcast(qcells).join(cells, "cell")
        .where(F.col("query_id") != F.col("id"))
        .select("query_id", F.col("id").alias("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = with_cosine(
        cand.join(F.broadcast(qv), "query_id")
        .join(v.withColumnRenamed("id", "neighbor_id"), "neighbor_id"),
        "vq", "vd")
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "cosine")
    )


def ann_lsh_pairs(emb: DataFrame, dim: int, threshold: float,
                  bits: int = 12, tables: int = 6, seed: int = 42,
                  id_col: str = "vec_id",
                  vec_col: str = "embedding",
                  rerank: str = "arrow") -> DataFrame:
    """Approximate near-neighbor pairs: LSH bucket candidates + exact
    cosine re-rank (>= threshold). Same output schema as ``cosine_pairs``;
    recall < 1 by construction — pytest measures it against brute force.

    ``rerank="arrow"`` (default, production): one numpy einsum per Arrow
    batch over the candidate-pair rows — 9x faster than the Catalyst
    higher-order-function fold at 2.36M candidates. ``rerank="sql"`` keeps
    the bit-exact left-fold the DuckDB gate twin reproduces; the two agree
    to float ulp (pytest-pinned)."""
    sig = lsh_signatures(emb, dim, bits, tables, seed, id_col, vec_col)
    cand = (
        sig.alias("x").join(sig.alias("y"), ["table", "bucket"])
        .where(F.col("x.id") < F.col("y.id"))
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    v = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    joined = (
        cand.join(v.select(F.col("id").alias("id_a"),
                           F.col("v").alias("va")), "id_a")
        .join(v.select(F.col("id").alias("id_b"),
                       F.col("v").alias("vb")), "id_b")
    )
    scorer = with_cosine_arrow if rerank == "arrow" else with_cosine
    return (
        scorer(joined, "va", "vb")
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )
