"""Text-analysis kernels for the training-data pipeline.

All Catalyst-native (pyspark.sql.functions only — JVM-side, whole-stage
codegen, no Python in the hot path) so they run unchanged over 100 TB of
`documents`/`pages` text. Each has an exact ANSI-SQL twin used as the DuckDB
oracle in `__spark_entry__.py`; keep the two in lock-step.

The reference engine has no text surface (SURVEY.md §2.8 — its only string
handling is the benchmark parser); this module is north-rule scope: the
operations a web-scale corpus pipeline needs before graph extraction
(language-ID, quality filtering, token accounting, fingerprinting).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# tiny deterministic per-language marker lists (heuristic n-gram/stopword
# language ID — self-contained, no external models)
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to"],
    "de": ["der", "die", "das", "und", "nicht"],
    "fr": ["le", "la", "les", "et", "une"],
    "es": ["el", "los", "las", "y", "una"],
}

_WS = r"\s+"


def _total_ngrams(toks, n: int):
    """Word n-grams of a token array as a TOTAL expression: empty array
    when the doc is shorter than n tokens. The naive
    ``transform(sequence(1, size-n+1), i -> slice(toks, i, n))`` is a
    runtime error on short docs (sequence(1, 0) counts DOWN to [1, 0] and
    slice rejects start 0) — and an upstream ``where(size >= n)`` does NOT
    reliably guard it: when a later explode references the gram column
    more than once, Catalyst's projection collapse re-evaluates this
    expression in a stage where the filter no longer precedes it
    (observed on Spark 4.1: filter+select fine, adding
    size(grams)+explode(grams) crashes on a 2-token doc). A conditional
    branch is evaluated lazily per row, so totality here is the fix, not
    the filter."""
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.array_join(F.slice(toks, i, n), " "),
    )
    return F.when(F.size(toks) >= n, grams) \
        .otherwise(F.array().cast("array<string>"))


def tokens(c: Column | str) -> Column:
    """Whitespace tokenization (split on runs of whitespace, trimmed)."""
    return F.split(F.trim(F.col(c) if isinstance(c, str) else c), _WS)


def token_count(c: Column | str) -> Column:
    t = F.col(c) if isinstance(c, str) else c
    return F.when(F.length(F.trim(t)) == 0, F.lit(0)).otherwise(
        F.size(tokens(t)))


def bpe_ish_piece_count(c: Column | str) -> Column:
    """Sub-word piece count: alphanumeric runs split every 4 chars + single
    non-alnum symbols — a deterministic BPE-like token budget estimator.

    SQL twin: ``len(regexp_extract_all(text, '[a-z0-9]{1,4}|[^a-z0-9\\s]'))``
    (both engines use the same RE2-compatible pattern on lowercased text).
    """
    t = F.lower(F.col(c) if isinstance(c, str) else c)
    return F.size(F.regexp_extract_all(t, F.lit(r"[a-z0-9]{1,4}|[^a-z0-9\s]"), 0))


def stopword_hits(c: Column | str, lang: str) -> Column:
    """#tokens (lowercased) that are markers of ``lang``."""
    markers = F.array(*[F.lit(w) for w in LANG_MARKERS[lang]])
    return F.size(F.filter(
        tokens(c), lambda x: F.array_contains(markers, F.lower(x))))


def with_token_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds n_tokens, n_pieces, avg_token_len, n_chars_measured."""
    return docs.select(
        "*",
        token_count(text_col).cast("long").alias("n_tokens"),
        bpe_ish_piece_count(text_col).cast("long").alias("n_pieces"),
        F.length(F.col(text_col)).cast("long").alias("n_chars_measured"),
        (F.length(F.regexp_replace(F.col(text_col), _WS, ""))
         / F.greatest(token_count(text_col), F.lit(1))
         ).alias("avg_token_len"),
    )


def quality_features(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality scoring: length, mean token length, stopword ratio, repetition.

    ``quality_score`` in [0,1]: the mean of four deterministic [0,1] signals
    — web-pipeline-style heuristics (Gopher/C4-like), exactly reproducible
    in SQL.
    """
    t = F.col(text_col)
    n_tok = token_count(text_col)
    uniq_ratio = (F.size(F.array_distinct(tokens(text_col)))
                  / F.greatest(n_tok, F.lit(1)))
    stop_ratio = (F.size(F.filter(
        tokens(text_col),
        lambda x: F.array_contains(
            F.array(*[F.lit(w) for w in LANG_MARKERS["en"]]), F.lower(x)),
    )) / F.greatest(n_tok, F.lit(1)))
    avg_len = (F.length(F.regexp_replace(t, _WS, ""))
               / F.greatest(n_tok, F.lit(1)))
    len_ok = F.when((n_tok >= 10) & (n_tok <= 10000), 1.0).otherwise(0.0)
    word_ok = F.when((avg_len >= 2.0) & (avg_len <= 12.0), 1.0).otherwise(0.0)
    return docs.select(
        "*",
        n_tok.cast("long").alias("n_tokens"),
        F.round(uniq_ratio, 6).alias("unique_token_ratio"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(avg_len, 6).alias("avg_token_len"),
        F.round((len_ok + word_ok + uniq_ratio
                 + F.least(stop_ratio * 10, F.lit(1.0))) / 4.0, 6
                ).alias("quality_score"),
    )


def lang_scores(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic language ID: marker-hit counts per language; predicted =
    argmax hits with deterministic tie-break on language code (alphabetical),
    'und' when nothing hits."""
    tok = tokens(text_col)

    def _in_markers(markers):
        def pred(x):
            return F.array_contains(markers, F.lower(x))
        return pred

    hit_cols = []
    for lang in sorted(LANG_MARKERS):
        markers = F.array(*[F.lit(w) for w in LANG_MARKERS[lang]])
        hit_cols.append(
            F.size(F.filter(tok, _in_markers(markers))).cast("long")
            .alias(f"hits_{lang}"))
    scored = docs.select("*", *hit_cols)
    # argmax via greatest + case (deterministic: first alphabetical wins ties)
    langs = sorted(LANG_MARKERS)
    best = F.greatest(*[F.col(f"hits_{lg}") for lg in langs])
    pred = F.lit("und")
    for lg in reversed(langs):  # build case so earliest lang wins ties
        pred = F.when(F.col(f"hits_{lg}") == best, F.lit(lg)).otherwise(pred)
    pred = F.when(best == 0, F.lit("und")).otherwise(pred)
    return scored.select("*", pred.alias("lang_pred"))


def fingerprint(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Deterministic document fingerprint: md5 of whitespace-normalized,
    lowercased text (the canonical near-exact-dup key). Identical in DuckDB:
    ``md5(lower(regexp_replace(text, '\\s+', ' ', 'g')))``."""
    norm = F.lower(F.regexp_replace(F.trim(F.col(text_col)), _WS, " "))
    return docs.select(
        F.col(id_col), F.md5(norm).alias("fingerprint"),
    )


def ngram_counts(docs: DataFrame, n: int = 3, min_count: int = 2,
                 text_col: str = "text") -> DataFrame:
    """Corpus-level word n-gram counts: (ngram, cnt) with cnt >= min_count.

    The training-data-pipeline staple behind count-based LM statistics and
    train/eval contamination checks (exact n-gram overlap). Tokenization is
    the engine's whitespace rule (``tokens`` — same twin as token_stats);
    n-grams come from slice+transform over the token array, all inside
    whole-stage codegen; the only shuffle is the final (ngram) count agg,
    map-side combined. Empty/short docs contribute nothing.
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    toks = tokens(text_col)
    grams = _total_ngrams(toks, n)
    return (
        docs.where(F.length(F.trim(F.col(text_col))) > 0)
        .where(F.size(toks) >= n)
        .select(F.explode(grams).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") >= min_count)
    )


def contamination_overlap(docs: DataFrame, probe: DataFrame, n: int = 5,
                          text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """Per-document n-gram overlap against a probe n-gram set — the
    decontamination primitive: training docs sharing n-grams with an eval
    benchmark get flagged (and typically dropped) before training.

    ``probe`` is a one-column DataFrame (``ngram`` string) holding the
    benchmark side's distinct n-grams — typically tiny relative to the
    corpus, so the join is a broadcast hash join: the corpus side never
    shuffles. Tokenization and n-gram construction are the engine's
    standard rules (``tokens`` + slice/transform, whole-stage codegen).

    Returns (doc_id, n_overlap, n_ngrams, overlap_frac) for contaminated
    docs only (n_overlap > 0); overlap_frac = n_overlap / n_ngrams over the
    doc's distinct n-grams, rounded to 6.
    """
    from pyspark.sql.functions import broadcast
    if n < 1:
        raise ValueError("n must be >= 1")
    toks = tokens(text_col)
    grams = F.array_distinct(_total_ngrams(toks, n))
    per_doc = (
        docs.where(F.length(F.trim(F.col(text_col))) > 0)
        .where(F.size(toks) >= n)
        .select(F.col(id_col).alias("doc_id"), grams.alias("grams"))
        .select("doc_id", F.size("grams").alias("n_ngrams"),
                F.explode("grams").alias("ngram"))
    )
    probe_d = broadcast(probe.select("ngram").distinct())
    return (
        per_doc.join(probe_d, "ngram")
        .groupBy("doc_id", "n_ngrams")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
        .select("doc_id", "n_overlap", F.col("n_ngrams").cast("long")
                .alias("n_ngrams"),
                F.round(F.col("n_overlap") / F.col("n_ngrams"), 6)
                .alias("overlap_frac"))
    )


def top_bigram_share(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id",
                     scale: int = 1_000_000) -> DataFrame:
    """Per-document most-frequent word bigram and the fraction of tokens it
    covers: (doc_id, gram, cnt, n_tokens, share_ppm).

    The Gopher-style repetition filter ("fraction of tokens contained in
    the most common 2-gram") for boilerplate/spam detection — complements
    quality_features' unique_token_ratio, which misses *phrase*-level
    repetition. share_ppm = (2 * cnt * scale) div n_tokens is INTEGER
    arithmetic end-to-end (no float division, no rounding-mode seam with
    the DuckDB twin); ties on cnt break to the lexicographically smallest
    bigram. Docs with < 2 tokens have no bigram and are excluded.

    Plan shape (100 TB): explode bigrams -> map-side-combined
    (doc_id, gram) count -> top-1 window over <= distinct-bigrams-per-doc
    rows (bounded by document length, never corpus-skewed).
    """
    if scale < 1:
        raise ValueError("scale must be >= 1")
    toks = tokens(text_col)
    grams = F.transform(_total_ngrams(toks, 2),
                        lambda g: F.lower(g))
    per = (
        docs.where(F.length(F.trim(F.col(text_col))) > 0)
        .where(F.size(toks) >= 2)
        .select(F.col(id_col).alias("doc_id"),
                F.size(toks).cast("long").alias("n_tokens"),
                F.explode(grams).alias("gram"))
        .groupBy("doc_id", "n_tokens", "gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("cnt").desc(), F.col("gram").asc())
    return (
        per.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", "gram", "cnt", "n_tokens",
                F.expr(f"(2 * cnt * CAST({scale} AS BIGINT)) div n_tokens")
                .alias("share_ppm"))
    )


def tfidf_top_terms(docs: DataFrame, k: int = 3, text_col: str = "text",
                    id_col: str = "doc_id",
                    idf_scale: int = 1_000_000) -> DataFrame:
    """Per-document top-k TF-IDF terms: (doc_id, term, tf, df, score, rnk).

    The keyword-extraction / quality-signal staple of a corpus pipeline
    (salient-term summaries, boilerplate detection via low-IDF dominance,
    lightweight sparse retrieval features). Terms are the engine's
    whitespace tokens lowercased; tf = term count in the doc, df = number
    of docs containing the term, and the score uses an INTEGER-scaled idf,

        score = tf * ((N * idf_scale) div df)          -- all BIGINT

    (``div`` = integral division) instead of a float ``tf * ln(N/df)``:
    bit-identical across Spark and DuckDB with no libm/rounding seam, and
    monotone in tf and in N/df, so top-k ranking is preserved for fixed tf.
    Ties (same score) break on ascending term, so the selected set and
    ``rnk`` are fully deterministic.

    Plan shape (100 TB): one corpus scan -> explode -> map-side-combined
    (doc_id, term) count; df and the N scalar both derive from that tf
    relation (no second scan); tf joins vocab-sized df on the short term
    key (AQE picks broadcast when the vocab fits); the top-k window
    partitions by doc_id over <= distinct-terms-per-doc rows — bounded by
    document length, never corpus-skewed.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if idf_scale < 1:
        raise ValueError("idf_scale must be >= 1")
    tf = (
        docs.where(F.length(F.trim(F.col(text_col))) > 0)
        .select(F.col(id_col).alias("doc_id"),
                F.explode(tokens(text_col)).alias("term"))
        .select("doc_id", F.lower("term").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # every doc passing the non-empty filter has >= 1 token, so the
    # distinct doc_id count of tf IS the corpus size N — no second scan
    n = tf.agg(F.countDistinct("doc_id").alias("n"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term").asc())
    return (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .select("doc_id", "term", "tf", "df",
                (F.col("tf") * F.expr(
                    f"(n * CAST({idf_scale} AS BIGINT)) div df"))
                .alias("score"))
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("doc_id", "term", "tf", "df", "score", "rnk")
    )


def _bloom_md5_63(s):
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


def bloom_bits(probe: DataFrame, m_bits: int = 1 << 16, k: int = 3,
               seed: int = 42, ngram_col: str = "ngram") -> DataFrame:
    """Bloom filter of a probe n-gram set as a (word, bits) relation:
    word = bit-position div 63, bits = OR of (1 << position mod 63)\n    (63 bits per word: shift 63 overflows DuckDB BIGINT, so bit 63 is\n    never used — same packing in both engines).
    Positions are md5_63("{seed}|{i}|{ngram}") mod m_bits for i < k —
    deterministic, so the filter (and therefore every false positive) is
    bit-identical across engines. At most ceil(m_bits/63) rows regardless of
    probe size."""
    if m_bits < 63:
        raise ValueError("m_bits must be >= 63")
    if k < 1:
        raise ValueError("k must be >= 1")
    ks = probe.sparkSession.range(k).select(F.col("id").alias("_i"))
    pos = F.pmod(_bloom_md5_63(F.concat_ws(
        "|", F.lit(seed).cast("string"), F.col("_i").cast("string"),
        F.col(ngram_col))), F.lit(m_bits))
    return (probe.select(ngram_col).distinct()
            .crossJoin(F.broadcast(ks))
            .select(pos.alias("_p"))
            .selectExpr("_p div 63 AS word",
                        "shiftleft(CAST(1 AS BIGINT), "
                        "CAST(_p % 63 AS INT)) AS b")
            .groupBy("word").agg(F.bit_or("b").alias("bits")))


def bloom_contamination(docs: DataFrame, probe: DataFrame, n: int = 3,
                        m_bits: int = 1 << 16, k: int = 3, seed: int = 42,
                        text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Contamination screening against a Bloom filter of the benchmark
    n-gram set — the scale path of ``contamination_overlap``: when the
    probe set is too large to broadcast exactly (a 10^8-n-gram eval-suite
    union), broadcast its ceil(m_bits/63)-row Bloom relation instead and screen
    with k broadcast-join probes per corpus n-gram. One-sided error by
    construction: every truly-contaminated doc is flagged (no false
    negatives); false positives occur at the classic (1-e^{-kn/m})^k rate
    and are DETERMINISTIC here (seeded md5 positions), so the DuckDB twin
    reproduces them bit-for-bit and the gate stays hash-exact.

    Returns (doc_id, n_overlap, n_ngrams, overlap_frac) for flagged docs
    only — same shape as contamination_overlap, with n_overlap counting
    bloom-positive distinct n-grams. Pure Catalyst: explode -> k probes ->
    broadcast equi-join on word -> per-(doc, ngram) ALL-k-hits check ->
    per-doc count. The corpus never shuffles on anything wider than the
    (doc_id, ngram) explode it already pays in the exact path.
    """
    from pyspark.sql.functions import broadcast
    if n < 1:
        raise ValueError("n must be >= 1")
    bloom = broadcast(bloom_bits(probe, m_bits, k, seed))
    toks = tokens(text_col)
    grams = F.array_distinct(_total_ngrams(toks, n))
    per_doc = (
        docs.where(F.length(F.trim(F.col(text_col))) > 0)
        .where(F.size(toks) >= n)
        .select(F.col(id_col).alias("doc_id"), grams.alias("grams"))
        .select("doc_id", F.size("grams").alias("n_ngrams"),
                F.explode("grams").alias("ngram"))
    )
    ks = docs.sparkSession.range(k).select(F.col("id").alias("_i"))
    pos = F.pmod(_bloom_md5_63(F.concat_ws(
        "|", F.lit(seed).cast("string"), F.col("_i").cast("string"),
        F.col("ngram"))), F.lit(m_bits))
    probes = (per_doc.crossJoin(F.broadcast(ks))
              .select("doc_id", "n_ngrams", "ngram", pos.alias("_p"))
              .selectExpr("doc_id", "n_ngrams", "ngram",
                          "_p div 63 AS word",
                          "shiftleft(CAST(1 AS BIGINT), "
                          "CAST(_p % 63 AS INT)) AS b"))
    hits = (probes.join(bloom, "word", "left")
            .select("doc_id", "n_ngrams", "ngram",
                    (F.coalesce("bits", F.lit(0)).bitwiseAND(F.col("b"))
                     != 0).cast("int").alias("hit"))
            .groupBy("doc_id", "n_ngrams", "ngram")
            .agg(F.min("hit").alias("all_hit")))
    return (hits.where(F.col("all_hit") == 1)
            .groupBy("doc_id", "n_ngrams")
            .agg(F.count(F.lit(1)).alias("n_overlap"))
            .select("doc_id", "n_overlap",
                    F.col("n_ngrams").cast("long").alias("n_ngrams"),
                    F.round(F.col("n_overlap") / F.col("n_ngrams"), 6)
                    .alias("overlap_frac")))
