"""Composed training-corpus preparation over the ``documents`` shape.

The individual stages (exact dedup, quality scoring, language ID, token
stats, fingerprinting — functions/text.py, functions/dedup.py) are what a
100 TB pretraining pipeline runs *in sequence*; this module chains them
into one Catalyst plan so the optimizer sees the whole thing: one
documents scan, the dedup semi-join keyed on a 128-bit hash (never the
text), and all feature columns computed in a single codegen'd projection
before the filters.

No reference analogue (the reference is a graph engine); this is the
training-data-pipeline scope the build brief makes first-class.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_df
from .dedup import exact_duplicate_groups  # noqa: F401  (re-export neighbor)
from .text import fingerprint, lang_scores, quality_features


def dedup_exact(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Keep one canonical doc (smallest id) per byte-identical text.

    The shuffle key is md5(text) — 16 bytes per row regardless of document
    size; the winner join is a semi-join on (hash, id) so no text payload
    moves twice."""
    hashed = docs.withColumn("_text_hash", F.md5(F.col(text_col)))
    winners = (hashed.groupBy("_text_hash")
               .agg(F.min(id_col).alias(id_col)))
    return (hashed.join(winners, ["_text_hash", id_col], "left_semi")
            .drop("_text_hash"))


def prepare_corpus(docs: DataFrame, lang: str = "en",
                   min_quality: float = 0.5,
                   text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """documents -> deduped, quality- and language-gated, annotated corpus.

    Returns (doc_id, lang_pred, n_tokens, quality_score, fingerprint) for
    every surviving document: exact-dedup first (cheapest key, biggest
    volume cut), then the quality and language gates on columns computed in
    the same projection, then the near-dup fingerprint for the downstream
    MinHash pass. Deterministic end to end — the driver gate holds it to a
    hash-exact DuckDB twin.
    """
    kept = dedup_exact(docs, text_col, id_col)
    feat = lang_scores(quality_features(kept, text_col), text_col)
    gated = feat.where((F.col("quality_score") >= F.lit(min_quality))
                       & (F.col("lang_pred") == F.lit(lang)))
    fp = fingerprint(docs, text_col, id_col)
    return (gated.join(fp, id_col)
            .select(id_col, "lang_pred", "n_tokens", "quality_score",
                    "fingerprint"))


def stratified_topk(docs: DataFrame, k: int, stratum_col: str = "lang",
                    id_col: str = "doc_id", safety: int = 4) -> DataFrame:
    """Deterministic per-stratum quota sample — the corpus-curation "take
    k documents per language/source" step, keyed by a seeded shuffle:
    within each stratum, rank by (md5(cast(id)), id) and keep rank <= k.
    The md5 order is a uniform deterministic permutation, so this IS the
    reproducible random quota sample, identical in Spark and DuckDB.

    Skew-safe by construction: a naive row_number window puts an entire
    stratum in ONE task (the 'en' stratum of a 10^12-doc crawl — the
    classic skew trap). Instead: (1) per-stratum counts (map-side-combined
    hash agg); (2) a PARALLEL hash-threshold prune keeping rows whose
    60-bit md5 prefix falls below ~safety*k/n_s of the key space —
    expected safety*k survivors per stratum, and the prune is an exact
    prefix of the ranking order (kept prefixes all precede dropped ones);
    (3) the row_number window runs on the pruned remnant only (~safety*k
    rows per stratum per window task). One small verification agg checks
    every stratum kept >= min(k, n_s) rows; any undersampled stratum
    (astronomically unlikely at safety=4, possible only for adversarial
    id sets) falls back to its full row set, preserving exactness.

    Returns (stratum_col, id_col, rk) with rk in 1..k per stratum.
    """
    if k < 1:
        raise ValueError("stratified_topk needs k >= 1")
    from pyspark.sql.window import Window

    key = F.md5(F.col(id_col).cast("string"))
    # 60-bit numeric prefix of the hex key — monotone with the string order
    pref = F.conv(F.substring(key, 1, 15), 16, 10).cast("decimal(20,0)") \
        .cast("double")
    base = docs.select(F.col(stratum_col).alias("stratum"),
                       F.col(id_col).alias("_id"),
                       key.alias("_key"), pref.alias("_pref"))
    counts = base.groupBy("stratum").agg(F.count(F.lit(1)).alias("n_s"))
    space = float(1 << 60)
    thresh = counts.select(
        "stratum",
        "n_s",
        F.least(F.lit(1.0),
                F.lit(float(safety * k)) / F.col("n_s")).alias("frac"))
    pruned = (base.join(thresh, "stratum")
              .where(F.col("_pref") < F.col("frac") * F.lit(space)))
    # exactness guard: every stratum must keep >= min(k, n_s) rows
    check = (pruned.groupBy("stratum").agg(F.count(F.lit(1)).alias("kept"))
             .join(counts, "stratum", "right")
             .select("stratum",
                     (F.coalesce("kept", F.lit(0))
                      < F.least(F.lit(k), F.col("n_s"))).alias("under")))
    bad = [r["stratum"] for r in check.where("under").collect()]
    if bad:
        fallback = base.join(
            F.broadcast(local_df(base.sparkSession, [(s,) for s in bad],
                                 "stratum string")), "stratum")
        pruned = (pruned.join(F.broadcast(
            local_df(pruned.sparkSession, [(s,) for s in bad],
                     "stratum string")),
            "stratum", "left_anti").select("stratum", "_id", "_key")
            .unionByName(fallback.select("stratum", "_id", "_key")))
    w = Window.partitionBy("stratum").orderBy("_key", "_id")
    return (pruned.select("stratum", "_id", "_key")
            .withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= k)
            .select(F.col("stratum").alias(stratum_col),
                    F.col("_id").alias(id_col), "rk"))


def pack_token_shards(docs: DataFrame, budget: int,
                      text_col: str = "text", id_col: str = "doc_id",
                      bucket_size: int = 1 << 20) -> DataFrame:
    """GPT-style concat-and-chunk shard assignment: lay every document's
    tokens contiguously in doc_id order and cut a training-shard boundary
    every ``budget`` tokens. Returns one row per doc:
    (doc_id, n_tokens, start_offset, shard_id, straddles) — shard_id is
    the shard the doc STARTS in (= start_offset div budget), straddles=1
    when its tokens cross a shard boundary. All-BIGINT arithmetic;
    deterministic for a fixed doc_id order.

    The global prefix sum is the scale hazard: ``SUM() OVER (ORDER BY
    doc_id)`` with no partition key runs in ONE task. Instead, the classic
    two-phase scan: (1) per-bucket token totals (bucket = doc_id div
    bucket_size; map-side-combined agg, |corpus|/bucket_size rows), (2) the
    tiny bucket relation cumsums driver-side and broadcasts back as each
    bucket's base offset, (3) the within-bucket running sum windows over at
    most bucket_size rows per task. At 10^12 docs, bucket_size=2^20 leaves
    a 10^6-row driver step and million-row window tasks — no single-task
    scan anywhere. DuckDB twin uses the plain global window (equivalent at
    oracle scale).
    """
    from .text import token_count

    if budget < 1:
        raise ValueError("budget must be >= 1")
    if bucket_size < 1:
        raise ValueError("bucket_size must be >= 1")
    from pyspark.sql.window import Window

    t = docs.select(
        F.col(id_col).alias("doc_id"),
        token_count(text_col).cast("long").alias("n_tokens"),
        F.expr(f"{id_col} div CAST({bucket_size} AS BIGINT)").alias("_b"))
    bucket_totals = sorted(
        (r["_b"], r["tot"]) for r in
        t.groupBy("_b").agg(F.sum("n_tokens").alias("tot")).collect())
    base, acc = [], 0
    for b, tot in bucket_totals:
        base.append((b, acc))
        acc += int(tot)
    base_df = F.broadcast(local_df(docs.sparkSession, base,
                                   "_b long, _base long"))
    w = (Window.partitionBy("_b").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    start = (F.col("_base") + F.sum("n_tokens").over(w)
             - F.col("n_tokens")).alias("start_offset")
    out = t.join(base_df, "_b").select("doc_id", "n_tokens", start)
    shard = F.expr(f"start_offset div CAST({budget} AS BIGINT)")
    end_shard = F.expr(
        f"(start_offset + n_tokens - 1) div CAST({budget} AS BIGINT)")
    return out.select(
        "doc_id", "n_tokens", "start_offset", shard.alias("shard_id"),
        F.when((F.col("n_tokens") > 0) & (end_shard != shard), F.lit(1))
        .otherwise(F.lit(0)).cast("long").alias("straddles"))
