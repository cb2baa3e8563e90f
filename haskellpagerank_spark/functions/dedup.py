"""Deduplication kernels: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Training-data pipeline scope (north rule): before a web corpus feeds the
link-graph engine (or a trainer), near-duplicate pages must be collapsed.
Four strategies, all expressed Catalyst-native (built-in array/hash
functions, whole-stage codegen — no Python in the hot path):

- exact: hash-groupBy on md5(text). O(|D|) + one shuffle on the 128-bit key.
- blocked n-gram Jaccard: cheap blocking key (first-k-token hash) -> pair
  join inside blocks -> exact Jaccard on distinct word shingles. SQL-exact
  (the DuckDB oracle reproduces it verbatim).
- MinHash + LSH banding: k seeded xxhash64 min-hashes over shingles, banded
  into b buckets; candidate pairs = same (band, band-signature); verified by
  exact Jaccard. The web-scale path: cost is O(|D| * k) + a shuffle on band
  keys instead of O(|D|^2). xxhash64 is not reproducible in DuckDB, so the
  driver check for the *candidate generation* is rows-only; the final
  verified-pairs output is still exact-Jaccard-thresholded and is validated
  in pytest against the brute-force oracle.
- SimHash: 64-bit signature from per-token xxhash64 bit votes; near-dups =
  pairs within Hamming distance r (banded lookup over 4 16-bit chunks).

At 100 TB: every strategy shuffles on a *short hash key* (never the text),
and text columns are dropped before any exchange (shuffle bytes ~ |D| * 8,
not corpus size).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyspark.sql import Column

from ..session import local_df
from .text import tokens

_WS = r"\s+"


def _hash64(col: Column, salt: int | None = None,
            hash_mode: str = "xxhash64") -> Column:
    """64-bit (xxhash64) or 60-bit (md5 mode) string hash.

    ``md5`` mode derives the hash as the top 15 hex chars of md5 —
    bit-reproducible in DuckDB (``CAST('0x' || substr(md5(s),1,15) AS
    BIGINT)``, see sql_twins._md5_60bit), so the driver's oracle gate can
    hash-check candidate generation. xxhash64 stays the production default
    (JVM-native, no hex round-trip).
    """
    if hash_mode == "xxhash64":
        return F.xxhash64(col) if salt is None else F.xxhash64(col, F.lit(salt))
    if hash_mode == "md5":
        s = col if salt is None else F.concat_ws(
            "\x1f", col, F.lit(str(salt)))
        return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")
    raise ValueError(f"unknown hash_mode {hash_mode!r}")


def _hash64_sql(expr: str, hash_mode: str = "xxhash64") -> str:
    """Unsalted ``_hash64`` as SQL text over the SQL expression ``expr``.

    The k-wide minhash and band-key projections are built from SQL text:
    one ``F.expr`` per output column instead of five or six py4j calls,
    which cost 0.5-1 s of driver time per 64-hash plan on a 4-vCPU host.
    """
    if hash_mode == "xxhash64":
        return f"xxhash64({expr})"
    if hash_mode == "md5":
        return f"CAST(conv(substring(md5({expr}), 1, 15), 16, 10) AS BIGINT)"
    raise ValueError(f"unknown hash_mode {hash_mode!r}")


def exact_duplicate_groups(docs: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id") -> DataFrame:
    """(text_hash, n_docs, canonical_id) for every exact-duplicate group
    (>= 2 docs with byte-identical text). canonical_id = smallest doc id."""
    return (
        docs.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.min(id_col).alias("canonical_id"))
        .where(F.col("n_docs") >= 2)
    )


def word_shingles(text_col: str, n: int = 3):
    """Distinct word n-gram shingles of ``text_col`` as array<string>.

    transform(sequence(0, len-n), i -> tokens[i..i+n-1] joined by ' ') —
    mirrors the DuckDB twin ``list_transform(range(1, len-n+2), ...)``.
    Documents shorter than n words get a single shingle of the whole text.
    """
    tok = tokens(text_col)
    n_tok = F.size(tok)
    grams = F.transform(
        F.sequence(F.lit(0), n_tok - n),
        lambda i: F.concat_ws(" ", F.slice(tok, i + 1, n)),
    )
    return F.array_distinct(
        F.when(n_tok >= n, grams).otherwise(F.array(F.concat_ws(" ", tok))))


def _jaccard(a, b):
    inter = F.size(F.array_intersect(a, b))
    return inter / (F.size(a) + F.size(b) - inter)


def jaccard_pairs_blocked(docs: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id", n: int = 3,
                          threshold: float = 0.8,
                          block_tokens: int = 2) -> DataFrame:
    """Near-dup pairs (id_a < id_b, jaccard >= threshold) within blocks
    keyed by the first ``block_tokens`` tokens.

    Blocking bounds the pair join (near-dups overwhelmingly share a prefix
    in web corpora); exact recall needs the MinHash path. SQL-exact.
    """
    base = docs.select(
        F.col(id_col).alias("id"),
        F.concat_ws(" ", F.slice(tokens(text_col), 1, block_tokens))
        .alias("block"),
        word_shingles(text_col, n).alias("sh"),
    )
    a = base.select(F.col("id").alias("id_a"), "block",
                    F.col("sh").alias("sh_a"))
    b = base.select(F.col("id").alias("id_b"), "block",
                    F.col("sh").alias("sh_b"))
    return (
        a.join(b, "block")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b",
                F.round(_jaccard(F.col("sh_a"), F.col("sh_b")), 6)
                .alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def minhash_signatures(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", n: int = 3,
                       num_hashes: int = 64,
                       hash_mode: str = "xxhash64") -> DataFrame:
    """(id, sig: array<long>[num_hashes]) — k seeded min-hashes over distinct
    shingles: sig[i] = min over shingles s of hash(s, i). Entirely JVM-side
    (xxhash64/md5/conv are Spark built-ins; see _hash64 for hash_mode)."""
    # explode once + k min-aggregates: one pass over the shingles, map-side
    # partial agg bounds the shuffle at |D| x k per partition. (A transform/
    # array_min formulation duplicates the shingle expression k times after
    # projection collapse — k regex tokenizations per row.)
    sh = docs.select(F.col(id_col).alias("id"),
                     F.explode(word_shingles(text_col, n)).alias("s"))
    if hash_mode == "md5":
        # k multiply-mod-prime permutations of one md5-derived value:
        # hash_i(s) = (A_i * x + B_i) mod P with x = md5_60bit(s) mod P,
        # P = 2^31 - 1, A_i in [1, P-1], B_i in [0, P-1] derived from i.
        # A_i, x < 2^31 keeps every product < 2^62 — bit-identical signed
        # 64-bit arithmetic in Spark and DuckDB. An earlier Kirsch-
        # Mitzenmacher form (m1 + i*m2 with m2 < 2^30, no modulus) was
        # measured BIASED for min-wise use: i*m2 < 2^36 never overcomes
        # m1's 2^60 spread, so all k functions picked the same argmin
        # shingle and the estimate collapsed to 0/1
        # (tests/test_functions.py::test_minhash_estimate_tracks_true_jaccard).
        P = (1 << 31) - 1
        sh = sh.select(
            "id", (_hash64(F.col("s"), None, "md5") % F.lit(P)).alias("_x"))
        mins = []
        for i in range(num_hashes):
            a = ((i * 1103515245 + 12345) % (P - 1)) + 1
            b = (i * 40503 + 17) % P
            mins.append(F.expr(f"min(({a} * _x + {b}) % {P}) AS _m{i}"))
    elif hash_mode == "xxhash64":
        mins = [F.expr(f"min(xxhash64(s, {i})) AS _m{i}")
                for i in range(num_hashes)]
    else:
        raise ValueError(f"unknown hash_mode {hash_mode!r}")
    ms = ", ".join(f"_m{i}" for i in range(num_hashes))
    return sh.groupBy("id").agg(*mins).selectExpr("id", f"array({ms}) AS sig")


def band_keys(sigs: DataFrame, num_hashes: int, bands: int,
              hash_mode: str = "xxhash64") -> DataFrame:
    """(id, band, key): 8-byte LSH bucket keys from minhash signatures —
    the only thing any LSH path ever shuffles besides doc ids."""
    rows_per_band = num_hashes // bands

    def key(b: int) -> str:
        parts = ", ".join(
            f"CAST(element_at(sig, {b * rows_per_band + r + 1}) AS STRING)"
            for r in range(rows_per_band))
        return _hash64_sql(f"concat_ws(',', {parts})", hash_mode)

    structs = ", ".join(f"named_struct('band', {b}, 'key', {key(b)})"
                        for b in range(bands))
    return sigs.selectExpr("id", f"explode(array({structs})) AS bk") \
        .select("id", "bk.band", "bk.key")


def estimated_jaccard(sig_a, sig_b, num_hashes: int):
    """Unbiased MinHash Jaccard estimate: fraction of agreeing positions.
    Lets dedup state stay O(k) longs per doc — no shingles stored."""
    agree = F.aggregate(
        F.zip_with(sig_a, sig_b,
                   lambda x, y: (x == y).cast("int")),
        F.lit(0), lambda acc, v: acc + v)
    return agree / F.lit(float(num_hashes))


def minhash_lsh_pairs(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", n: int = 3,
                      num_hashes: int = 64, bands: int = 16,
                      threshold: float = 0.8,
                      hash_mode: str = "xxhash64") -> DataFrame:
    """MinHash-LSH near-dup detection, verified by exact Jaccard.

    candidates: explode each signature into ``bands`` rows keyed by
    (band_idx, hash(band slice)); docs sharing a band key pair up. The band
    key is 8 bytes — the only thing shuffled besides doc ids. Verified pairs
    recompute exact Jaccard on shingles (a join back to the shingle table).
    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.
    """
    sigs = minhash_signatures(docs, text_col, id_col, n, num_hashes,
                              hash_mode)
    bands_df = band_keys(sigs, num_hashes, bands, hash_mode)
    cand = (
        bands_df.alias("x").join(
            bands_df.alias("y"), ["band", "key"])
        .where(F.col("x.id") < F.col("y.id"))
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    sh = docs.select(F.col(id_col).alias("id"),
                     word_shingles(text_col, n).alias("sh"))
    return (
        cand.join(sh.select(F.col("id").alias("id_a"),
                            F.col("sh").alias("sh_a")), "id_a")
        .join(sh.select(F.col("id").alias("id_b"),
                        F.col("sh").alias("sh_b")), "id_b")
        .select("id_a", "id_b",
                F.round(_jaccard(F.col("sh_a"), F.col("sh_b")), 6)
                .alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def _simhash_bits(hash_mode: str) -> int:
    # xxhash64: bits 0..62 (bit 63 = sign, dropped to keep signatures
    # non-negative); md5 mode: 60 usable bits (15 hex chars)
    return 63 if hash_mode == "xxhash64" else 60


def simhash(docs: DataFrame, text_col: str = "text",
            id_col: str = "doc_id",
            hash_mode: str = "xxhash64") -> DataFrame:
    """(id, simhash: long) — 63-bit (xxhash64) / 60-bit (md5 mode) SimHash
    of the token multiset.

    Per token t: h = hash64(t); each bit votes +1/-1 weighted by the
    token's multiplicity; signature bit b = 1 iff the vote sum > 0. Built
    from explode + conditional sums — all codegen'd aggregates, one
    shuffle keyed by doc id.
    """
    n_bits = _simhash_bits(hash_mode)
    tok = docs.select(F.col(id_col).alias("id"),
                      F.explode(tokens(text_col)).alias("t"))
    h = _hash64(F.col("t"), None, hash_mode)
    votes = [
        F.sum(F.when(h.bitwiseAND(F.lit(1 << b)) != 0, 1).otherwise(-1))
        .alias(f"v{b}")
        for b in range(n_bits)
    ]
    voted = tok.groupBy("id").agg(*votes)
    sig = None
    for b in range(n_bits):
        term = F.when(F.col(f"v{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return voted.select("id", sig.cast("long").alias("simhash"))


def simhash_near_pairs(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id",
                       max_hamming: int = 3,
                       hash_mode: str = "xxhash64") -> DataFrame:
    """Near-dup pairs by SimHash banding (4 chunks of 16 bits for xxhash64
    signatures / 15 bits for md5-mode; Hamming <= 3 guarantees >= 1
    identical chunk either way). Returns (id_a, id_b, hamming)."""
    chunk_bits = _simhash_bits(hash_mode) // 4 if hash_mode == "md5" else 16
    mask = (1 << chunk_bits) - 1
    sigs = simhash(docs, text_col, id_col, hash_mode)
    chunks = sigs.select(
        "id", "simhash",
        F.explode(F.array(*[
            F.struct(F.lit(c).alias("chunk"),
                     F.shiftright("simhash", c * chunk_bits)
                     .bitwiseAND(F.lit(mask)).alias("key"))
            for c in range(4)
        ])).alias("ck"),
    ).select("id", "simhash", "ck.chunk", "ck.key")
    ham = F.bit_count(F.col("x.simhash").bitwiseXOR(F.col("y.simhash")))
    return (
        chunks.alias("x").join(chunks.alias("y"), ["chunk", "key"])
        .where(F.col("x.id") < F.col("y.id"))
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"),
                ham.alias("hamming"))
        .dropDuplicates(["id_a", "id_b"])
        .where(F.col("hamming") <= max_hamming)
    )


def neardup_clusters(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id", n: int = 3,
                     num_hashes: int = 64, bands: int = 16,
                     threshold: float = 0.8,
                     hash_mode: str = "xxhash64",
                     max_iters: int = 100) -> DataFrame:
    """Collapse LSH-verified near-duplicate pairs into clusters and elect a
    canonical document per cluster — the "keep one copy" step of corpus
    dedup.

    Composition: ``minhash_lsh_pairs`` (bucketed candidates, exact-Jaccard
    verification) -> undirected pair graph over the *participants only*
    (docs with no near-dup never enter the fixpoint) -> min-label connected
    components via the engine's semi-naive frontier loop
    (operators.components._min_label) -> canonical = min doc id in
    the cluster (deterministic; swap in a quality-ranked choice by joining
    quality scores before the arg-min if desired).

    Returns (doc_id, cluster, is_canonical) for every participant, where
    ``cluster`` is the min doc id reachable through the near-dup relation
    (transitive closure: a~b and b~c cluster a,b,c even if a,c fall below
    the pair threshold). The deduped corpus = non-participants plus rows
    with is_canonical=1.

    Scale: fixpoint state is O(|participants|) (id, label) longs — a tiny
    fraction of the corpus — and near-dup clusters have small diameter, so
    the loop converges in a handful of sweeps; each sweep shuffles only the
    changed-label frontier.
    """
    from ..operators.components import _min_label

    pairs = minhash_lsh_pairs(docs, text_col, id_col, n, num_hashes, bands,
                              threshold, hash_mode).select("id_a", "id_b")
    edges = (
        pairs.unionAll(pairs.select(F.col("id_b").alias("id_a"),
                                    F.col("id_a").alias("id_b")))
        .select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .dropDuplicates(["src", "dst"])
        .persist()
    )
    labels = (edges.select(F.col("src").alias("id")).distinct()
              .withColumn("component", F.col("id")))
    res = _min_label(edges, labels, labels, max_iters)
    if res.metrics and res.metrics[-1].extra.get("changed", 0) != 0:
        raise RuntimeError(
            f"neardup_clusters min-label fixpoint did not converge within "
            f"max_iters={max_iters}; partial labels would mis-cluster long "
            f"duplicate chains — raise max_iters")
    return res.df.select(
        F.col("id").alias("doc_id"),
        F.col("component").alias("cluster"),
        (F.col("id") == F.col("component")).cast("bigint")
        .alias("is_canonical"))


def sorted_neighborhood_pairs(docs: DataFrame, text_col: str = "text",
                              id_col: str = "doc_id", n: int = 3,
                              threshold: float = 0.5, window: int = 4,
                              key_chars: int = 32,
                              bucket_chars: int = 1) -> DataFrame:
    """Sorted-neighborhood near-dup pairs (Hernandez & Stolfo, SIGMOD'95
    merge/purge — public literature): sort the corpus by a normalized text
    prefix and compare each document only to its ``window`` successors in
    that order. The third independent blocking family next to prefix
    blocking (jaccard_pairs_blocked) and MinHash LSH — near-dups whose
    edits are NOT in the first tokens (where prefix blocking goes blind)
    still sort adjacently when any long common prefix survives.

    Returns (id_a, id_b, jaccard) with id_a < id_b and jaccard (same
    n-shingle scorer as the other families, rounded to 6) >= threshold.
    Deterministic: sort key is (key, doc_id), candidates are exactly the
    rank-distance-<=window pairs. Docs with a NULL text or a NULL id have
    no sort key and no identity, so they are dropped before keying: they
    take no rank and appear in no pair.

    Plan shape (100 TB): the global sort rank is NOT a single-task window —
    same two-phase scheme as pack_token_shards, except keyed by the key's
    leading ``bucket_chars`` characters (a prefix of the sort key, so
    bucket order is consistent with key order): per-bucket counts -> tiny
    driver cumsum broadcast back -> within-bucket row_number windows.
    Candidate generation is two equi-joins on the rank band r div window
    (a band and its successor cover every pair at distance <= window), so
    each doc meets at most 2*window candidates; the shingle arrays join in
    by id afterwards. Raise bucket_chars for finer buckets on skewed
    corpora (all-same-first-word crawls).
    """
    if window < 1:
        raise ValueError("window must be >= 1")
    if key_chars < 1 or bucket_chars < 1 or bucket_chars > key_chars:
        raise ValueError("need 1 <= bucket_chars <= key_chars")
    from pyspark.sql.window import Window

    key = F.substring(
        F.lower(F.regexp_replace(F.trim(F.col(text_col)), _WS, " ")),
        1, key_chars)
    base = (docs.where(F.col(text_col).isNotNull()
                       & F.col(id_col).isNotNull())
            .select(F.col(id_col).alias("id"), key.alias("key"),
                    word_shingles(text_col, n).alias("sh")))
    keyed = base.select(
        "id", "key", F.substring("key", 1, bucket_chars).alias("_b"))
    totals = sorted(
        (r["_b"], r["cnt"]) for r in
        keyed.groupBy("_b").agg(F.count(F.lit(1)).alias("cnt")).collect())
    offs, acc = [], 0
    for b, cnt in totals:
        offs.append((b, acc))
        acc += int(cnt)
    off_df = F.broadcast(local_df(docs.sparkSession, offs,
                                  "_b string, _base long"))
    win = Window.partitionBy("_b").orderBy("key", "id")
    ranked = (keyed.join(off_df, "_b")
              .select("id", (F.col("_base")
                             + F.row_number().over(win)).alias("rnk"))
              .localCheckpoint(eager=True))
    a = ranked.select(F.col("id").alias("id_a"), F.col("rnk").alias("ra"),
                      F.expr(f"rnk div {window}").alias("band"))
    b = ranked.select(F.col("id").alias("id_b"), F.col("rnk").alias("rb"),
                      F.expr(f"rnk div {window}").alias("band"))
    b_next = b.withColumn("band", F.col("band") - 1)
    cand = (a.join(b, "band").unionByName(a.join(b_next, "band"))
            .where((F.col("rb") > F.col("ra"))
                   & (F.col("rb") <= F.col("ra") + window))
            .select(F.least("id_a", "id_b").alias("id_a"),
                    F.greatest("id_a", "id_b").alias("id_b")))
    sh = base.select("id", "sh")
    return (cand
            .join(sh.select(F.col("id").alias("id_a"),
                            F.col("sh").alias("sh_a")), "id_a")
            .join(sh.select(F.col("id").alias("id_b"),
                            F.col("sh").alias("sh_b")), "id_b")
            .select("id_a", "id_b",
                    F.round(_jaccard(F.col("sh_a"), F.col("sh_b")), 6)
                    .alias("jaccard"))
            .where(F.col("jaccard") >= threshold))
