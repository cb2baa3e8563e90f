"""Approximate neighborhood function (ANF / HyperANF family): per-vertex
ball-size estimates and the graph's neighborhood function N(t), via
Flajolet-Martin bit sketches unioned along edges.

The algorithm is Palmer/Gibbons/Faloutsos ANF (KDD 2002) with the
HyperBall iteration scheme (Boldi-Rosa-Vigna, WWW 2011): each vertex keeps
``n_sketches`` FM registers; sweep t replaces every register with the
bitwise OR of its successors' registers (plus its own), so after t sweeps
register k of v summarizes {u : v reaches u in <= t hops} and the ball size
is estimated as 2^mean(R_k) / 0.77351 where R_k = position of the lowest
zero bit. This is THE way to get effective-diameter / reachable-set curves
on a web graph without all-pairs BFS.

Everything is integer bit arithmetic over 63-bit registers seeded from the
engine's cross-engine md5 hash (operators/walks.py chooser), so the whole
computation is deterministic and hash-exactly reproducible in DuckDB and
NumPy — the estimates are approximate w.r.t. the TRUE ball sizes (that's
the sketch), but exact w.r.t. the algorithm.

Scale shape: state is |V| x n_sketches rows of (id, k, long); each sweep is
one equi-join edges x state and one two-phase bit_or aggregation keyed
(id, k) — map-side combined, shuffle bounded by |V| x k rows. bit_count /
shiftleft / bit_or are all codegen'd JVM intrinsics; no Python anywhere.
"""

from __future__ import annotations

import decimal
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.checkpoint import IterationMetrics
from ..plans.fixpoint import IterativeResult
from ..session import local_df
from .graph import Graph

# FM bias correction (Flajolet-Martin 1985, phi)
FM_PHI = 0.77351


def _round_half_up(x: float, ndigits: int) -> float:
    """Decimal HALF_UP rounding for driver-side scalars on the gate
    surface. Python's builtin ``round`` is banker's (half-to-even) while
    Spark ``F.round`` and DuckDB ``ROUND`` are half-away-from-zero — a sum
    landing exactly on a 5 at the (ndigits+1)th decimal would make the
    three engines disagree. ``Decimal(repr(x))`` mirrors Spark's
    ``BigDecimal.valueOf(double)`` (shortest-repr) conversion."""
    q = decimal.Decimal(1).scaleb(-ndigits)
    return float(decimal.Decimal(repr(x)).quantize(
        q, rounding=decimal.ROUND_HALF_UP))


def _md5_63(s):
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


def _trailing_zeros(col):
    """Position of the lowest SET bit: bit_count((h & -h) - 1)."""
    low = col.bitwiseAND(-col)
    return F.bit_count(low - 1)


def _lowest_zero(col):
    """Position of the lowest ZERO bit: bit_count((~s & (s+1)) - 1)."""
    return F.bit_count(F.bitwise_not(col).bitwiseAND(col + 1) - 1)


def fm_sketches(g: Graph, n_sketches: int = 8, seed: int = 42) -> DataFrame:
    """Initial registers: (id, k, s) with s = 1 << min(rho(h_k(id)), 50),
    h_k = md5_63("{seed}|{k}|{id}")."""
    spark = g.spark
    ks = spark.range(n_sketches).select(F.col("id").alias("k"))
    h = _md5_63(F.concat_ws(
        "|", F.lit(seed).cast("string"), F.col("k").cast("string"),
        F.col("id").cast("string")))
    rho = F.least(_trailing_zeros(h), F.lit(50))
    return (
        g.vertices().crossJoin(ks)
        .withColumn("rho", rho)
        .selectExpr("id", "k",
                    "shiftleft(CAST(1 AS BIGINT), CAST(rho AS INT)) AS s")
    )


def _estimate(state: DataFrame) -> DataFrame:
    """(id, ball_est): 2^mean_k(lowest-zero position) / phi, rounded to 6
    decimals (pure float ops on identical integer inputs in every engine)."""
    return (
        state.select("id", _lowest_zero(F.col("s")).alias("r"))
        .groupBy("id")
        .agg(F.avg("r").alias("avg_r"))
        .select("id", F.round(
            F.pow(F.lit(2.0), F.col("avg_r")) / FM_PHI, 6).alias("ball_est"))
    )


def _sweep(e: DataFrame, state: DataFrame) -> DataFrame:
    """One ANF union sweep: every register ORs its successors' registers.
    Two-phase bit_or (map-side combined) + an (id, k) equi-join — the
    shuffle is bounded by |V| x k rows regardless of degree skew."""
    msgs = (
        e.join(state.withColumnRenamed("id", "dst"), "dst")
        .groupBy(F.col("src").alias("id"), "k")
        .agg(F.bit_or("s").alias("m"))
    )
    return (
        state.join(msgs, ["id", "k"], "left")
        .select("id", "k",
                F.col("s").bitwiseOR(F.coalesce("m", F.lit(0)))
                .alias("s"))
        .localCheckpoint(eager=True)
    )


def anf(g: Graph, radius: int, n_sketches: int = 8,
        seed: int = 42) -> IterativeResult:
    """Run ``radius`` union sweeps; returns (id, ball_est) — the estimated
    number of vertices reachable from id within ``radius`` hops (including
    itself). metrics[t].extra["nf_sum"] is the neighborhood function N(t+1)
    summed over all vertices — its saturation point is the effective
    diameter."""
    if radius < 0:
        raise ValueError("radius must be >= 0")
    spark = g.spark
    shuffle_p = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    e = g.edges.where(F.col("src") != F.col("dst")) \
        .dropDuplicates(["src", "dst"]) \
        .repartition(shuffle_p, "dst").persist()
    n_edges = e.count()
    state = fm_sketches(g, n_sketches, seed) \
        .repartition(shuffle_p, "id").localCheckpoint(eager=True)
    metrics: list[IterationMetrics] = []
    for it in range(1, radius + 1):
        t0 = time.monotonic()
        state = _sweep(e, state)
        nf_sum = float(_estimate(state).agg(
            F.sum("ball_est")).first()[0])
        metrics.append(IterationMetrics(
            iteration=it, l1_residual=0.0, linf_residual=0.0,
            rows_shuffled=n_edges + g.num_vertices * n_sketches,
            wall_s=time.monotonic() - t0,
            extra={"nf_sum": nf_sum}))
    e.unpersist()
    return IterativeResult(df=_estimate(state), iterations=radius,
                           metrics=metrics)


class EffectiveDiameterResult:
    """Outcome of the saturating ANF run.

    ``effective_diameter`` is the interpolated smallest d with
    N(d) >= q * N(saturation); ``nf`` is [N(0), N(1), ...] (estimated
    neighborhood function, N(0) from the initial sketches); ``saturated``
    is False only if ``max_radius`` sweeps ran without the curve
    flattening (the estimate is then a lower bound)."""

    def __init__(self, effective_diameter: float, q: float,
                 nf: list[float], iterations: int, saturated: bool):
        self.effective_diameter = effective_diameter
        self.q = q
        self.nf = nf
        self.iterations = iterations
        self.saturated = saturated

    def __repr__(self) -> str:  # pragma: no cover
        return (f"EffectiveDiameterResult(d={self.effective_diameter}, "
                f"q={self.q}, iters={self.iterations}, "
                f"saturated={self.saturated})")


def effective_diameter(g: Graph, q: float = 0.9, n_sketches: int = 32,
                       seed: int = 42, max_radius: int = 64,
                       stop_rtol: float = 1e-4,
                       stop_consecutive: int = 2) -> EffectiveDiameterResult:
    """Interpolated q-effective diameter (Palmer/Gibbons/Faloutsos ANF,
    KDD 2002; HyperBall stopping rule, Boldi-Rosa-Vigna WWW 2011): run
    union sweeps until the neighborhood function stops growing (relative
    change < ``stop_rtol`` for ``stop_consecutive`` sweeps IN A ROW), then
    return the smallest hop count d, linearly interpolated between integer
    sweeps, at which the average ball covers a q-fraction of its saturation
    size.

    ``stop_consecutive`` guards against plateau-then-growth topologies
    (e.g. two dense clusters bridged by a long path: NF growth is tiny
    while the frontier crawls the bridge, then jumps when it lands in the
    far cluster). One flat sweep is not proof of saturation; k in a row is
    much stronger — though an adversarial bridge longer than k still fools
    the rule, which is inherent to any growth-based stop (HyperBall has
    the same caveat). ``saturated=True`` therefore means "NF growth stayed
    below stop_rtol for stop_consecutive consecutive sweeps", not a
    certificate that the exact diameter was reached.

    THE summary statistic for a web crawl ("90% of reachable pairs are
    within d hops") that is unobtainable by all-pairs BFS at scale: cost is
    O(effective diameter) sweeps of |E| join + |V| x k bit_or rows — same
    per-sweep shape (and the same skew bound) as ``anf``. Deterministic:
    same sketches, same curve, every run and engine.
    """
    if not 0.0 < q <= 1.0:
        raise ValueError("q must be in (0, 1]")
    if max_radius < 1:
        raise ValueError("max_radius must be >= 1")
    if stop_consecutive < 1:
        raise ValueError("stop_consecutive must be >= 1")
    spark = g.spark
    shuffle_p = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    e = g.edges.where(F.col("src") != F.col("dst")) \
        .dropDuplicates(["src", "dst"]) \
        .repartition(shuffle_p, "dst").persist()
    e.count()
    state = fm_sketches(g, n_sketches, seed) \
        .repartition(shuffle_p, "id").localCheckpoint(eager=True)
    nf = [float(_estimate(state).agg(F.sum("ball_est")).first()[0] or 0.0)]
    saturated = False
    flat_streak = 0
    it = 0
    for it in range(1, max_radius + 1):
        state = _sweep(e, state)
        nf.append(float(_estimate(state).agg(
            F.sum("ball_est")).first()[0] or 0.0))
        if nf[-1] <= nf[-2] * (1.0 + stop_rtol):
            flat_streak += 1
            if flat_streak >= stop_consecutive:
                saturated = True
                break
        else:
            flat_streak = 0
    e.unpersist()
    target = q * nf[-1]
    d = float(len(nf) - 1)
    for t in range(len(nf)):
        if nf[t] >= target:
            if t == 0 or nf[t] <= nf[t - 1]:
                d = float(t)
            else:
                d = (t - 1) + (target - nf[t - 1]) / (nf[t] - nf[t - 1])
                d = max(d, 0.0)
            break
    return EffectiveDiameterResult(
        effective_diameter=round(d, 6), q=q, nf=nf, iterations=it,
        saturated=saturated)


def _twin_ctes(edges_sql: str, verts_sql: str, radius: int,
               n_sketches: int, seed: int) -> list[str]:
    """Shared DuckDB CTE chain: seeded registers s0, then unrolled union
    sweeps s1..s{radius} — same md5 seeding, same bit arithmetic as the
    Spark operator."""
    ctes = [
        f"e AS MATERIALIZED (SELECT DISTINCT src, dst FROM ({edges_sql}) "
        "WHERE src <> dst)",
        f"ks AS MATERIALIZED (SELECT UNNEST(range({n_sketches})) AS k)",
        "s0 AS MATERIALIZED (SELECT id, k, CAST(1 AS BIGINT) << "
        "LEAST(bit_count((h & -h) - 1), 50) AS s FROM ("
        f"SELECT v.id, ks.k, CAST('0x' || substr(md5(CAST({seed} AS VARCHAR)"
        " || '|' || CAST(ks.k AS VARCHAR) || '|' || CAST(v.id AS VARCHAR)), "
        f"1, 15) AS BIGINT) AS h FROM ({verts_sql}) v, ks))",
    ]
    for i in range(1, radius + 1):
        p = i - 1
        ctes += [
            f"m{i} AS MATERIALIZED (SELECT e.src AS id, s.k, "
            f"bit_or(s.s) AS m FROM e JOIN s{p} s ON e.dst = s.id "
            "GROUP BY 1, 2)",
            f"s{i} AS MATERIALIZED (SELECT s.id, s.k, "
            f"s.s | COALESCE(m.m, 0) AS s FROM s{p} s "
            f"LEFT JOIN m{i} m ON s.id = m.id AND s.k = m.k)",
        ]
    return ctes


def _est_sql(state: str) -> str:
    """DuckDB per-vertex estimate over a register CTE — mirrors
    ``_estimate`` (6-decimal round)."""
    return (
        f"SELECT id, ROUND(pow(2.0, avg_r) / {FM_PHI!r}, 6) AS ball_est "
        "FROM (SELECT id, AVG(bit_count(((~s) & (s + 1)) - 1)) AS avg_r "
        f"FROM {state} GROUP BY 1)"
    )


def anf_sql(edges_sql: str, verts_sql: str, radius: int,
            n_sketches: int = 8, seed: int = 42) -> str:
    """DuckDB twin of ``anf`` — same md5 seeding, same bit arithmetic,
    unrolled sweeps."""
    ctes = _twin_ctes(edges_sql, verts_sql, radius, n_sketches, seed)
    return "WITH " + ",\n".join(ctes) + "\n" + _est_sql(f"s{radius}")


def anf_with_effdiam(g: Graph, radius: int, n_sketches: int = 8,
                     seed: int = 42, q: float = 0.9) -> DataFrame:
    """Gate-surface composition: one tagged union ``(kind, id, val)`` of

    - ``('ball', v, ball_est)`` — per-vertex estimate after ``radius``
      sweeps (exactly ``anf(...).df``),
    - ``('nf', t, N(t))`` for t = 0..radius — the estimated neighborhood
      function, each sum rounded to 4 decimals (sub-ulp engine-order
      differences collapse), and
    - ``('d90', -1, d)`` — the q-effective diameter interpolated against
      N(radius), the same rule as ``effective_diameter`` but at fixed
      radius so the unrolled DuckDB twin (``anf_effdiam_sql``) sees the
      identical computation.

    The nf/d rows are driver-side scalars (one float per sweep); the ball
    rows stay distributed.
    """
    spark = g.spark
    shuffle_p = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    e = g.edges.where(F.col("src") != F.col("dst")) \
        .dropDuplicates(["src", "dst"]) \
        .repartition(shuffle_p, "dst").persist()
    e.count()
    state = fm_sketches(g, n_sketches, seed) \
        .repartition(shuffle_p, "id").localCheckpoint(eager=True)
    nf = [_round_half_up(float(_estimate(state).agg(
        F.sum("ball_est")).first()[0] or 0.0), 4)]
    for _ in range(radius):
        state = _sweep(e, state)
        nf.append(_round_half_up(float(_estimate(state).agg(
            F.sum("ball_est")).first()[0] or 0.0), 4))
    e.unpersist()
    target = q * nf[radius]
    d = float(radius)
    for t in range(len(nf)):
        if nf[t] >= target:
            if t == 0 or nf[t] <= nf[t - 1]:
                d = float(t)
            else:
                d = (t - 1) + (target - nf[t - 1]) / (nf[t] - nf[t - 1])
            break
    balls = _estimate(state).select(
        F.lit("ball").alias("kind"), F.col("id"),
        F.col("ball_est").alias("val"))
    extra = local_df(
        g.spark,
        [("nf", t, v) for t, v in enumerate(nf)]
        + [("d90", -1, _round_half_up(d, 4))],
        "kind string, id bigint, val double")
    return balls.unionByName(extra)


def anf_effdiam_sql(edges_sql: str, verts_sql: str, radius: int,
                    n_sketches: int = 8, seed: int = 42,
                    q: float = 0.9) -> str:
    """DuckDB twin of ``anf_with_effdiam``: per-sweep estimate CTEs, the
    4-decimal-rounded nf curve, and the interpolated q-effective-diameter
    row via a lag window — formula mirrored branch-for-branch."""
    ctes = _twin_ctes(edges_sql, verts_sql, radius, n_sketches, seed)
    for t in range(radius + 1):
        ctes.append(f"est{t} AS MATERIALIZED ({_est_sql(f's{t}')})")
    nf_union = " UNION ALL ".join(
        f"SELECT {t} AS t, ROUND(SUM(ball_est), 4) AS v FROM est{t}"
        for t in range(radius + 1))
    ctes += [
        f"nf AS MATERIALIZED ({nf_union})",
        f"tgt AS (SELECT {q!r} * v AS tv FROM nf WHERE t = {radius})",
        "lagged AS (SELECT t, v, LAG(v) OVER (ORDER BY t) AS prev FROM nf)",
        "first_t AS (SELECT MIN(t) AS t FROM lagged, tgt WHERE v >= tv)",
        "drow AS (SELECT CASE WHEN f.t = 0 OR l.v <= l.prev "
        "THEN CAST(f.t AS DOUBLE) "
        "ELSE (f.t - 1) + (tgt.tv - l.prev) / (l.v - l.prev) END AS d "
        "FROM first_t f JOIN lagged l ON l.t = f.t, tgt)",
    ]
    return (
        "WITH " + ",\n".join(ctes) + f"""
        SELECT 'ball' AS kind, id, ball_est AS val FROM est{radius}
        UNION ALL
        SELECT 'nf' AS kind, t AS id, v AS val FROM nf
        UNION ALL
        SELECT 'd90' AS kind, -1 AS id, ROUND(d, 4) AS val FROM drow"""
    )
