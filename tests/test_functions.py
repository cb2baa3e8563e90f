"""Training-data pipeline functions: text, dedup, similarity, multimodal.

Oracle strategy: brute-force / pure-Python twins computed on collected
pandas data (small synthetic corpora), exact where the operator is exact
(token stats, fingerprints, blocked Jaccard), recall-measured where it is
approximate (MinHash-LSH, SimHash, hyperplane-LSH ANN).
"""

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pytest

from haskellpagerank_spark.functions import dedup as D
from haskellpagerank_spark.functions import multimodal as M
from haskellpagerank_spark.functions import similarity as S
from haskellpagerank_spark.functions import text as T


@pytest.fixture(scope="module")
def corpus(spark):
    """Synthetic corpus with exact dups, near-dups, and distinct docs."""
    base = ("the quick brown fox jumps over the lazy dog and runs far "
            "away into the deep green forest tonight")
    near = base.replace("tonight", "today")      # 1-word edit
    rows = [
        (0, base, "en"),
        (1, base, "en"),                          # exact dup of 0
        (2, near, "en"),                          # near dup of 0
        (3, "der hund und die katze sind nicht da und der vogel singt", "de"),
        (4, "le chat et le chien dans la maison et les oiseaux", "fr"),
        (5, "completely different words about spark query engines", "en"),
        (6, "x", "und"),                          # degenerate short doc
        (7, base + " " + base, "en"),             # doubled text
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_token_stats_exact(corpus):
    got = T.with_token_stats(corpus).select(
        "doc_id", "n_tokens", "avg_token_len").toPandas().set_index("doc_id")
    pdf = corpus.toPandas().set_index("doc_id")
    for i, row in pdf.iterrows():
        toks = row["text"].split()
        assert got.loc[i, "n_tokens"] == len(toks)
        assert got.loc[i, "avg_token_len"] == pytest.approx(
            sum(len(t) for t in toks) / max(len(toks), 1))


def test_lang_id(corpus):
    got = T.lang_scores(corpus).select("doc_id", "lang_pred").toPandas()
    pred = dict(zip(got.doc_id, got.lang_pred))
    assert pred[0] == "en" and pred[3] == "de" and pred[4] == "fr"
    assert pred[6] == "und"


def test_fingerprint_normalizes_whitespace_and_case(spark):
    docs = spark.createDataFrame(
        [(0, "Hello  World"), (1, "hello world"), (2, " hello world ")],
        "doc_id long, text string")
    fps = T.fingerprint(docs).toPandas()["fingerprint"].tolist()
    assert fps[0] == fps[1] == fps[2]


def test_exact_duplicate_groups(corpus):
    groups = D.exact_duplicate_groups(corpus).toPandas()
    assert len(groups) == 1
    assert groups.iloc[0]["n_docs"] == 2
    assert groups.iloc[0]["canonical_id"] == 0


def _brute_jaccard_pairs(pdf, n=3, threshold=0.5):
    def sh(text):
        t = text.split()
        if len(t) < n:
            return {" ".join(t)}
        return {" ".join(t[i:i + n]) for i in range(len(t) - n + 1)}
    out = set()
    for i, a in pdf.iterrows():
        for j, b in pdf.iterrows():
            if a.doc_id >= b.doc_id:
                continue
            sa, sb = sh(a.text), sh(b.text)
            jac = len(sa & sb) / len(sa | sb)
            if jac >= threshold:
                out.add((a.doc_id, b.doc_id))
    return out


def test_minhash_lsh_finds_near_dups(corpus):
    """LSH candidates, verified by exact Jaccard, must equal the brute-force
    pair set on this corpus (near-dup pairs here are extremely similar, so
    64-hash/16-band LSH recall is ~1)."""
    got = D.minhash_lsh_pairs(corpus, threshold=0.5).toPandas()
    got_pairs = set(zip(got.id_a, got.id_b))
    want = _brute_jaccard_pairs(corpus.toPandas(), threshold=0.5)
    assert got_pairs == want
    assert (0, 1) in got_pairs and (0, 2) in got_pairs


def test_blocked_jaccard_matches_brute_force_within_blocks(corpus):
    got = D.jaccard_pairs_blocked(corpus, threshold=0.5).toPandas()
    # all brute-force pairs here share their first-2-token block
    want = _brute_jaccard_pairs(corpus.toPandas(), threshold=0.5)
    assert set(zip(got.id_a, got.id_b)) == want


def test_simhash_properties(corpus):
    sigs = D.simhash(corpus).toPandas().set_index("id")["simhash"]
    assert sigs.loc[0] == sigs.loc[1]          # identical text -> identical sig
    assert (sigs >= 0).all()
    ham_near = bin(int(sigs.loc[0]) ^ int(sigs.loc[2])).count("1")
    ham_far = bin(int(sigs.loc[0]) ^ int(sigs.loc[5])).count("1")
    assert ham_near < ham_far                   # near-dup closer than distinct
    pairs = D.simhash_near_pairs(corpus, max_hamming=8).toPandas()
    assert (0, 1) in set(zip(pairs.id_a, pairs.id_b))


@pytest.fixture(scope="module")
def emb(spark):
    """3 tight clusters of 10 vectors + 20 random, dim 16, seeded."""
    rng = np.random.default_rng(7)
    rows = []
    vid = 0
    for c in range(3):
        center = rng.standard_normal(16)
        for _ in range(10):
            v = center + 0.05 * rng.standard_normal(16)
            rows.append((vid, [float(x) for x in v], c))
            vid += 1
    for _ in range(20):
        rows.append((vid, [float(x) for x in rng.standard_normal(16)], -1))
        vid += 1
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")


def _brute_cosine_pairs(pdf, threshold):
    vs = {r.vec_id: np.array(r.embedding, dtype=np.float64)
          for r in pdf.itertuples()}
    out = set()
    for a in vs:
        for b in vs:
            if a < b:
                c = vs[a] @ vs[b] / (np.linalg.norm(vs[a]) * np.linalg.norm(vs[b]))
                if c >= threshold:
                    out.add((a, b))
    return out


def test_cosine_pairs_exact(emb):
    got = S.cosine_pairs(emb, threshold=0.9).toPandas()
    want = _brute_cosine_pairs(emb.toPandas(), 0.9)
    assert set(zip(got.id_a, got.id_b)) == want
    assert len(want) >= 3 * 45 * 0.8  # clusters are tight: most intra-pairs

def test_ann_topk_matches_numpy(emb):
    got = S.ann_topk_bruteforce(emb, query_ids=[0, 10, 20], k=3).toPandas()
    pdf = emb.toPandas()
    vs = {r.vec_id: np.array(r.embedding, dtype=np.float64)
          for r in pdf.itertuples()}
    for q in [0, 10, 20]:
        sims = sorted(
            ((vs[q] @ vs[o] / (np.linalg.norm(vs[q]) * np.linalg.norm(vs[o])), o)
             for o in vs if o != q), reverse=True)[:3]
        want = [o for _, o in sims]
        have = got[got.query_id == q].sort_values(
            "cosine", ascending=False).neighbor_id.tolist()
        assert have == want


def test_ann_lsh_recall_on_tight_clusters(emb):
    """Hyperplane LSH must recover almost all high-cosine (>=0.9) pairs."""
    want = _brute_cosine_pairs(emb.toPandas(), 0.9)
    got = S.ann_lsh_pairs(emb, dim=16, threshold=0.9, bits=8,
                          tables=8).toPandas()
    got_pairs = set(zip(got.id_a, got.id_b))
    assert got_pairs <= want | _brute_cosine_pairs(emb.toPandas(), 0.9)
    recall = len(got_pairs & want) / len(want)
    assert recall >= 0.9, f"LSH recall {recall:.2f}"


def test_ann_lsh_rerank_arrow_matches_sql(emb):
    """The production Arrow einsum re-rank and the oracle-exact SQL
    left-fold re-rank must select the same pair set with cosines equal to
    float ulp (they differ only in summation order)."""
    a = S.ann_lsh_pairs(emb, dim=16, threshold=0.5, bits=8, tables=8,
                        rerank="arrow").toPandas().sort_values(
        ["id_a", "id_b"]).reset_index(drop=True)
    s = S.ann_lsh_pairs(emb, dim=16, threshold=0.5, bits=8, tables=8,
                        rerank="sql").toPandas().sort_values(
        ["id_a", "id_b"]).reset_index(drop=True)
    assert list(zip(a.id_a, a.id_b)) == list(zip(s.id_a, s.id_b))
    np.testing.assert_allclose(a.cosine, s.cosine, atol=1e-9)


def test_ann_lsh_dim768_arrow_kernel(spark):
    """Real-embedding-width LSH (dim 768): recall holds and the hyperplanes
    live in the kernel closure, NOT the query plan — with plan literals the
    optimized plan would carry tables*bits*dim (~55k) float literals and
    megabytes of plan text."""
    rng = np.random.default_rng(0)
    centers = rng.standard_normal((8, 768))
    rows = [(i, [float(x) for x in
                 (centers[i % 8] + 0.03 * rng.standard_normal(768))
                 .astype(np.float32)], i % 8)
            for i in range(400)]
    emb768 = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    df = S.ann_lsh_pairs(emb768, dim=768, threshold=0.9, bits=12, tables=6)
    plan_str = df._jdf.queryExecution().optimizedPlan().toString()
    assert len(plan_str) < 100_000, f"plan blew up: {len(plan_str)} chars"
    got = df.toPandas()
    got_pairs = set(zip(got.id_a, got.id_b))
    want = _brute_cosine_pairs(emb768.toPandas(), 0.9)
    assert got_pairs <= want
    recall = len(got_pairs & want) / len(want)
    assert recall >= 0.85, f"dim-768 LSH recall {recall:.2f}"


def test_multimodal_plumbing(spark):
    rows = [(i, "image" if i % 2 == 0 else "video",
             bytes([i]) * (10 + i), 64, 64, 5000) for i in range(6)]
    media = spark.createDataFrame(rows, M.MEDIA_SCHEMA)
    meta = M.attach_media_metadata(media).toPandas()
    assert (meta.payload_bytes == [10 + i for i in range(6)]).all()
    feats = M.extract_features(media).toPandas().set_index("media_id")
    assert all(len(v) == M.FEATURE_DIM for v in feats.features)
    # deterministic: same payload -> same features
    f2 = M.extract_features(media).toPandas().set_index("media_id")
    for i in range(6):
        assert list(feats.loc[i, "features"]) == list(f2.loc[i, "features"])
    plan = M.frame_sample_plan(media, every_ms=1000).toPandas()
    assert set(plan.media_id) == {1, 3, 5}
    assert (plan.groupby("media_id").size() == 5).all()
    # resize is implemented (real NN mapping over the stub decode): the
    # MEDIA_SCHEMA table carries width/height, so it runs directly
    resized = M.resize_images(media, 32, 32).toPandas()
    assert set(resized.media_id) == {0, 2, 4}  # image rows only
    assert all(len(p) == 32 * 32 for p in resized.pixels)


def test_quality_features_degenerate_doc(corpus):
    q = T.quality_features(corpus).toPandas().set_index("doc_id")
    assert q.loc[6, "quality_score"] < q.loc[0, "quality_score"]
    assert 0.0 <= q["quality_score"].min() and q["quality_score"].max() <= 1.0


def test_ann_ivf_recall_and_determinism(emb):
    """IVF ANN: on tight clusters the probed-cell search recovers most of
    the true top-k; output is deterministic run-to-run (seedless driver
    k-means on an id-ordered sample)."""
    qids = [0, 10, 20]
    truth = S.ann_topk_bruteforce(emb, query_ids=qids, k=3).toPandas()
    got = S.ann_ivf_topk(emb, query_ids=qids, k=3, n_cells=4,
                         n_probe=2).toPandas()
    again = S.ann_ivf_topk(emb, query_ids=qids, k=3, n_cells=4,
                           n_probe=2).toPandas()
    assert got.sort_values(["query_id", "neighbor_id"]).reset_index(
        drop=True).equals(
            again.sort_values(["query_id", "neighbor_id"]).reset_index(
                drop=True))
    hits = 0
    for q in qids:
        want = set(truth[truth.query_id == q].neighbor_id)
        have = set(got[got.query_id == q].neighbor_id)
        hits += len(want & have)
    recall = hits / (3 * len(qids))
    assert recall >= 0.6, f"IVF recall {recall:.2f}"


def test_prepare_corpus_pipeline(spark):
    """Composed corpus prep: exact dedup keeps the smallest id, the quality
    gate drops degenerate text, the language gate drops non-target docs."""
    from haskellpagerank_spark.functions.pipeline import (dedup_exact,
                                                          prepare_corpus)
    good = ("the quick brown fox jumps over the lazy dog and then walks "
            "back home with a friend from the old town near the river")
    rows = [
        (1, good),                       # survives
        (5, good),                       # exact dup of 1 -> dropped
        (2, "aaa " * 40),                # repetitive, no stopwords -> low q
        (3, "der und die das ist nicht ein mit sich auf auch nach bei " * 3),
        (4, good + " every morning before work starts at nine"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    kept = {r.doc_id for r in dedup_exact(docs).select("doc_id").collect()}
    assert kept == {1, 2, 3, 4}

    out = prepare_corpus(docs, lang="en", min_quality=0.5).toPandas()
    assert set(out.doc_id) == {1, 4}
    assert set(out.columns) == {"doc_id", "lang_pred", "n_tokens",
                                "quality_score", "fingerprint"}
    assert (out.lang_pred == "en").all()
    assert (out.quality_score >= 0.5).all()


def test_neardup_clusters_transitive_and_canonical(spark):
    """Chain 0~1~2 where 0 and 2 fall below the pair threshold must still
    cluster together (transitive closure through 1); canonical = min id;
    docs with no near-dup never appear."""
    words = [f"w{i}" for i in range(40)]

    def txt(s, e):
        return " ".join(words[s:e])

    docs = spark.createDataFrame(
        [(0, txt(0, 14)), (1, txt(3, 17)), (2, txt(6, 20)),
         (7, txt(25, 40)), (8, txt(25, 40)),
         (9, "completely different text entirely unrelated here today")],
        "doc_id long, text string")
    # sanity: 0~2 really is below the pair threshold
    pairs = set(map(tuple, D.minhash_lsh_pairs(docs, threshold=0.5)
                    .select("id_a", "id_b").collect()))
    assert (0, 1) in pairs and (1, 2) in pairs and (0, 2) not in pairs
    got = (D.neardup_clusters(docs, threshold=0.5).toPandas()
           .sort_values("doc_id").reset_index(drop=True))
    assert got.doc_id.tolist() == [0, 1, 2, 7, 8]
    assert got.cluster.tolist() == [0, 0, 0, 7, 7]
    assert got.is_canonical.tolist() == [1, 0, 0, 1, 0]
    # md5 hash mode (the driver-gate configuration) lands on the same
    # clusters as the production xxhash64 mode on this corpus
    md5 = (D.neardup_clusters(docs, threshold=0.5, hash_mode="md5")
           .toPandas().sort_values("doc_id").reset_index(drop=True))
    assert md5.equals(got)


def test_resize_images_identity_and_mapping(spark):
    """Resize to the source dims is the identity on the stub grid; a 2x
    downscale picks exactly the floor-mapped pixels — the real
    nearest-neighbor math a production kernel runs after decode."""
    import hashlib
    import numpy as np
    from haskellpagerank_spark.functions.multimodal import (
        _decode_image_stub, resize_images)
    media = spark.createDataFrame(
        [(0, "image", bytearray(b"payload-a"), 8, 6),
         (1, "audio", bytearray(b"payload-b"), 8, 6),   # filtered out
         (2, "image", bytearray(b"payload-c"), 10, 4)],
        "media_id long, kind string, payload binary, width int, height int")
    same = resize_images(media.where("media_id = 0"), 8, 6).collect()[0]
    grid = _decode_image_stub(b"payload-a", 8, 6)
    assert same.pixels == grid.reshape(-1).tolist()
    out = {r.media_id: r for r in resize_images(media, 4, 2).collect()}
    assert set(out) == {0, 2}  # non-image rows never reach the kernel
    g2 = _decode_image_stub(b"payload-c", 10, 4)
    rows = (np.arange(2) * 4) // 2
    cols = (np.arange(4) * 10) // 4
    assert out[2].pixels == g2[rows][:, cols].reshape(-1).tolist()
    assert (out[2].width, out[2].height) == (4, 2)


@pytest.mark.parametrize("hash_mode", ["xxhash64", "md5"])
def test_minhash_estimate_tracks_true_jaccard(spark, hash_mode):
    """Statistical property of the signature itself (the quantity the
    streaming near-dup filter trusts): for documents with engineered
    shingle overlap, the signature-agreement fraction must sit within
    4*sqrt(J(1-J)/k) of the true shingle Jaccard — per-hash agreement is
    Bernoulli(J) for a min-wise family, so a violation means the hash
    family is biased, not just unlucky."""
    k = 64
    vocab = [f"tok{i:03d}" for i in range(60)]
    # doc 0 fixed; docs 1..4 share a controlled prefix of its vocabulary
    def text(words):
        return " ".join(words)
    rows = [(0, text(vocab[:40]))]
    for i, keep in enumerate((35, 25, 15, 5), start=1):
        rows.append((i, text(vocab[:keep] + vocab[40:40 + (40 - keep)])))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = {r["id"]: np.array(r["sig"]) for r in D.minhash_signatures(
        docs, n=3, num_hashes=k, hash_mode=hash_mode).collect()}

    def shingles(words, n=3):
        return {" ".join(words[i:i + n]) for i in range(len(words) - n + 1)}

    base = shingles(rows[0][1].split())
    for i in range(1, 5):
        other = shingles(rows[i][1].split())
        true_j = len(base & other) / len(base | other)
        est = float((sigs[0] == sigs[i]).mean())
        bound = 4.0 * np.sqrt(max(true_j * (1 - true_j), 0.01) / k)
        assert abs(est - true_j) <= bound, \
            (hash_mode, i, true_j, est, bound)


# ------------------------------ stratified quota sampling (round 5)

def _strat_docs(spark):
    import hashlib
    rows = [(i, f"doc number {i}", ["en", "de", "es"][i % 3])
            for i in range(90)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    want = {}
    for i, _, lang in rows:
        want.setdefault(lang, []).append(
            (hashlib.md5(str(i).encode()).hexdigest(), i))
    for lang in want:
        want[lang] = [i for _, i in sorted(want[lang])]
    return df, want


def test_stratified_topk_matches_md5_order(spark):
    """rk order within each stratum == pure-Python md5 sort of the ids,
    and exactly min(k, |stratum|) rows survive per stratum."""
    from haskellpagerank_spark.functions.pipeline import stratified_topk

    df, want = _strat_docs(spark)
    got = stratified_topk(df, k=7)
    rows = got.collect()
    by_lang = {}
    for r in sorted(rows, key=lambda r: (r["lang"], r["rk"])):
        by_lang.setdefault(r["lang"], []).append(r["doc_id"])
    assert set(by_lang) == set(want)
    for lang in want:
        assert by_lang[lang] == want[lang][:7]


def test_stratified_topk_fallback_path_is_exact(spark):
    """safety=0 makes the hash prune keep nothing, forcing EVERY stratum
    through the fallback — the result must be identical to the normal
    path (exactness does not depend on the prune)."""
    from haskellpagerank_spark.functions.pipeline import stratified_topk

    df, _ = _strat_docs(spark)
    a = sorted(map(tuple, stratified_topk(df, k=5, safety=4).collect()))
    b = sorted(map(tuple, stratified_topk(df, k=5, safety=0).collect()))
    assert a == b and len(a) == 15


def test_stratified_topk_k_exceeds_stratum(spark):
    """k larger than a stratum returns the whole stratum, ranked."""
    from haskellpagerank_spark.functions.pipeline import stratified_topk

    df, want = _strat_docs(spark)
    got = stratified_topk(df, k=1000)
    assert got.count() == 90
    assert got.agg({"rk": "max"}).first()[0] == 30


def test_stratified_topk_rejects_bad_k(spark):
    from haskellpagerank_spark.functions.pipeline import stratified_topk

    df, _ = _strat_docs(spark)
    with pytest.raises(ValueError):
        stratified_topk(df, k=0)


def _tfidf_oracle(rows, k, scale=1_000_000):
    """Pure-Python TF-IDF top-k twin: lowercased whitespace tokens,
    integer-scaled idf, (score desc, term asc) tie-break."""
    from collections import Counter

    tfs = {i: Counter(t.lower().split()) for i, t in rows if t.strip()}
    dfc = Counter(term for c in tfs.values() for term in c)
    n = len(tfs)
    out = []
    for i, c in tfs.items():
        scored = sorted(
            ((term, tf, dfc[term], tf * ((n * scale) // dfc[term]))
             for term, tf in c.items()),
            key=lambda r: (-r[3], r[0]))
        out += [(i, term, tf, df, sc, r + 1)
                for r, (term, tf, df, sc) in enumerate(scored[:k])]
    return sorted(out)


def test_tfidf_top_terms_matches_oracle(corpus):
    rows = [(r["doc_id"], r["text"]) for r in
            corpus.select("doc_id", "text").collect()]
    for k in (1, 3, 100):
        got = sorted(map(tuple, T.tfidf_top_terms(corpus, k=k).collect()))
        assert got == _tfidf_oracle(rows, k)


def test_tfidf_tie_break_deterministic(spark):
    """All-distinct single-occurrence terms tie on score; ranking must be
    ascending-term and stable across runs."""
    docs = spark.createDataFrame(
        [(1, "b c a"), (2, "z y x w")], "doc_id long, text string")
    got = T.tfidf_top_terms(docs, k=2).orderBy("doc_id", "rnk").collect()
    assert [(r["doc_id"], r["term"], r["rnk"]) for r in got] == [
        (1, "a", 1), (1, "b", 2), (2, "w", 1), (2, "x", 2)]
    assert T.tfidf_top_terms(docs, k=2).orderBy("doc_id", "rnk").collect() \
        == got


def test_tfidf_rejects_bad_args(corpus):
    with pytest.raises(ValueError):
        T.tfidf_top_terms(corpus, k=0)
    with pytest.raises(ValueError):
        T.tfidf_top_terms(corpus, idf_scale=0)


def test_top_bigram_share_matches_oracle(corpus):
    from collections import Counter

    got = {r["doc_id"]: (r["gram"], r["cnt"], r["n_tokens"], r["share_ppm"])
           for r in T.top_bigram_share(corpus).collect()}
    for r in corpus.select("doc_id", "text").collect():
        toks = r["text"].split()
        if len(toks) < 2:
            assert r["doc_id"] not in got
            continue
        c = Counter(" ".join(toks[i:i + 2]).lower()
                    for i in range(len(toks) - 1))
        gram, cnt = min(c.items(), key=lambda kv: (-kv[1], kv[0]))
        assert got[r["doc_id"]] == (
            gram, cnt, len(toks), (2 * cnt * 1_000_000) // len(toks))


def test_top_bigram_share_repetitive_doc(spark):
    """A doc that is one phrase repeated maxes the share signal."""
    docs = spark.createDataFrame(
        [(1, "spam ham " * 50), (2, "all distinct words here now")],
        "doc_id long, text string")
    got = {r["doc_id"]: r for r in T.top_bigram_share(docs).collect()}
    assert got[1]["gram"] == "spam ham" and got[1]["cnt"] == 50
    assert got[1]["share_ppm"] == (2 * 50 * 1_000_000) // 100
    assert got[2]["cnt"] == 1


def _pack_oracle(rows, budget):
    out, acc = {}, 0
    for i, text in sorted(rows):
        n = len(text.split()) if text.strip() else 0
        shard = acc // budget
        straddle = 1 if n > 0 and (acc + n - 1) // budget != shard else 0
        out[i] = (n, acc, shard, straddle)
        acc += n
    return out


@pytest.mark.parametrize("bucket_size", [1, 3, 1 << 20])
def test_pack_token_shards_matches_oracle(corpus, bucket_size):
    """Two-phase prefix sum equals the sequential oracle for bucket sizes
    smaller than, comparable to, and larger than the corpus."""
    from haskellpagerank_spark.functions.pipeline import pack_token_shards

    rows = [(r["doc_id"], r["text"]) for r in
            corpus.select("doc_id", "text").collect()]
    want = _pack_oracle(rows, 20)
    got = {r["doc_id"]: (r["n_tokens"], r["start_offset"], r["shard_id"],
                         r["straddles"])
           for r in pack_token_shards(corpus, budget=20,
                                      bucket_size=bucket_size).collect()}
    assert got == want


def test_pack_token_shards_boundaries(spark):
    """Exact-fit docs never straddle; a doc spanning a cut does."""
    from haskellpagerank_spark.functions.pipeline import pack_token_shards

    docs = spark.createDataFrame(
        [(0, "a b c d"), (1, "e f"), (2, "g h i"), (3, "")],
        "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           pack_token_shards(docs, budget=4).collect()}
    assert (got[0]["shard_id"], got[0]["straddles"]) == (0, 0)  # fills shard 0
    assert (got[1]["shard_id"], got[1]["straddles"]) == (1, 0)
    assert (got[2]["shard_id"], got[2]["straddles"]) == (1, 1)  # 6..8 crosses
    assert (got[3]["n_tokens"], got[3]["straddles"]) == (0, 0)  # empty doc


def test_pack_token_shards_rejects_bad_args(corpus):
    from haskellpagerank_spark.functions.pipeline import pack_token_shards

    with pytest.raises(ValueError):
        pack_token_shards(corpus, budget=0)
    with pytest.raises(ValueError):
        pack_token_shards(corpus, budget=10, bucket_size=0)


def _snm_oracle(rows, n=3, threshold=0.5, window=4, key_chars=32):
    """Brute-force sorted-neighborhood: global (key, id) sort, all pairs
    within rank distance <= window, same shingle-Jaccard scorer. Docs
    with a NULL id or text take no part."""
    import re

    def shingles(t):
        toks = t.split()
        if len(toks) >= n:
            return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}
        return {" ".join(toks)}

    keyed = sorted(
        ((re.sub(r"\s+", " ", t.strip()).lower()[:key_chars], i, shingles(t))
         for i, t in rows if i is not None and t is not None),
        key=lambda r: (r[0], r[1]))
    out = {}
    for x in range(len(keyed)):
        for y in range(x + 1, min(x + window + 1, len(keyed))):
            a, b = keyed[x], keyed[y]
            i, j = (a[1], b[1]) if a[1] < b[1] else (b[1], a[1])
            inter = len(a[2] & b[2])
            jac = round(inter / (len(a[2]) + len(b[2]) - inter), 6)
            if jac >= threshold:
                out[(i, j)] = jac
    return out


@pytest.mark.parametrize("bucket_chars", [1, 3])
def test_sorted_neighborhood_matches_oracle(corpus, bucket_chars):
    """Also over the corpus plus NULL-text and NULL-id docs, which would
    otherwise make a NULL bucket key (or pair with their text twins)."""
    text = corpus.where("doc_id = 0").first()["text"]
    nulls = corpus.sparkSession.createDataFrame(
        [(8, None, "en"), (None, text, "en"), (None, None, "en")],
        corpus.schema)
    for docs in (corpus, corpus.unionByName(nulls)):
        rows = [(r["doc_id"], r["text"]) for r in
                docs.select("doc_id", "text").collect()]
        got = {(r["id_a"], r["id_b"]): r["jaccard"]
               for r in D.sorted_neighborhood_pairs(
                   docs, threshold=0.3, window=3,
                   bucket_chars=bucket_chars).collect()}
        assert got == _snm_oracle(rows, threshold=0.3, window=3)


def test_sorted_neighborhood_finds_mid_doc_edit(spark):
    """A near-dup whose edit is in the FIRST tokens defeats prefix
    blocking but sorts adjacently here (common 30-char prefix after the
    first words differ is absent — so use suffix-similar docs with same
    prefix)."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [(1, base), (2, base.replace("kappa", "lambda")),
         (3, "unrelated words entirely different from the others")],
        "doc_id long, text string")
    got = {(r["id_a"], r["id_b"]) for r in
           D.sorted_neighborhood_pairs(docs, threshold=0.5).collect()}
    assert (1, 2) in got and all(3 not in p for p in got)


def test_sorted_neighborhood_rejects_bad_args(corpus):
    with pytest.raises(ValueError):
        D.sorted_neighborhood_pairs(corpus, window=0)
    with pytest.raises(ValueError):
        D.sorted_neighborhood_pairs(corpus, bucket_chars=0)
    with pytest.raises(ValueError):
        D.sorted_neighborhood_pairs(corpus, key_chars=4, bucket_chars=8)


def _bloom_oracle(train_rows, probe_ngrams, n=3, m=1 << 16, k=3, seed=42):
    import hashlib

    def pos(i, g):
        return int(hashlib.md5(f"{seed}|{i}|{g}".encode())
                   .hexdigest()[:15], 16) % m

    bloom = set()
    for g in probe_ngrams:
        for i in range(k):
            bloom.add(pos(i, g))
    out = {}
    for doc_id, text in train_rows:
        toks = text.split()
        if not text.strip() or len(toks) < n:
            continue
        grams = {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}
        hit = sum(1 for g in grams
                  if all(pos(i, g) in bloom for i in range(k)))
        if hit:
            out[doc_id] = (hit, len(grams),
                           round(hit / len(grams), 6))
    return out


def test_bloom_contamination_matches_oracle_and_dominates_exact(corpus):
    """Bloom flags == the pure-Python bloom simulation, and (one-sided
    error) every exactly-contaminated doc is bloom-flagged with
    n_overlap_bloom >= n_overlap_exact."""
    probe_docs = [(100, "the quick brown fox jumps over everything")]
    probe_sdf = corpus.sparkSession.createDataFrame(
        probe_docs, "doc_id long, text string")
    grams = T.ngram_counts(probe_sdf, n=3, min_count=1).select("ngram")
    train_rows = [(r["doc_id"], r["text"]) for r in
                  corpus.select("doc_id", "text").collect()]
    probe_ngrams = [r["ngram"] for r in grams.collect()]

    got = {r["doc_id"]: (r["n_overlap"], r["n_ngrams"], r["overlap_frac"])
           for r in T.bloom_contamination(corpus, grams, n=3).collect()}
    assert got == _bloom_oracle(train_rows, probe_ngrams)

    exact = {r["doc_id"]: r["n_overlap"] for r in
             T.contamination_overlap(corpus, grams, n=3).collect()}
    for d, n_ov in exact.items():
        assert d in got and got[d][0] >= n_ov


def test_bloom_contamination_rejects_bad_args(corpus, spark):
    probe = spark.createDataFrame([("a b c",)], "ngram string")
    with pytest.raises(ValueError):
        T.bloom_contamination(corpus, probe, n=0)
    with pytest.raises(ValueError):
        T.bloom_bits(probe, m_bits=10)
    with pytest.raises(ValueError):
        T.bloom_bits(probe, k=0)


def test_ngram_family_total_on_short_docs(spark):
    """Regression: docs shorter than n tokens crashed the n-gram builders
    when Catalyst's projection collapse re-evaluated the slice expression
    past the size filter (sequence(1, 0) counts DOWN -> slice start 0).
    The gram expression is now total (empty array branch)."""
    docs = spark.createDataFrame(
        [(0, "only two"), (1, "x"), (2, ""), (3, "a proper three token doc")],
        "doc_id long, text string")
    probe = spark.createDataFrame(
        [("proper three token",)], "ngram string")
    # every builder must simply skip the short docs, not crash
    assert T.ngram_counts(docs, n=3, min_count=1).count() == 3
    ex = T.contamination_overlap(docs, probe, n=3).collect()
    bl = T.bloom_contamination(docs, probe, n=3).collect()
    assert [r["doc_id"] for r in ex] == [3] == [r["doc_id"] for r in bl]
    assert {r["doc_id"] for r in
            T.top_bigram_share(docs).collect()} == {0, 3}
