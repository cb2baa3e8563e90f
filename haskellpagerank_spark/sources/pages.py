"""Common-Crawl-style pages source: generation, extraction, encoding.

The engine's production input (BASELINE.json input_hint) is an Iceberg table

    pages(url: string, warc_ts: timestamp, html: binary, text: string,
          lang: string)

at 10^12-document scale. This module provides

- ``generate_pages``  — a deterministic, seeded, *distributed* synthetic
  generator of that exact shape (the sandbox has no Iceberg jar and no
  network; BASELINE.json forbids external data). Link structure is a skewed
  ("hub") pseudo-random graph so the downstream shuffle sees realistic
  power-law-ish dst skew.
- ``extract_text``    — vectorized (Arrow-batched pandas string kernels, no
  per-row Python) visible-text extraction from ``html``. The generator emits
  ``text`` through the *same* canonical rule, so extraction is byte-identical
  per url — the driver invariant.
- ``extract_links``   — vectorized href extraction -> ``raw_edges(src_url,
  dst_url)``, one row per href occurrence (duplicates kept, matching the
  reference parser's multiset contract, EdgeArray.hs:78-89).
- ``encode_vertices`` / ``build_graph`` — deterministic dictionary encoding
  url -> dense int64 id (total sort + two-pass partition-offset assignment),
  the distributed equivalent of the reference's dense 0..maxID contract
  (TestGraphParser.hs:26-31).

Scale notes (1000-executor reading):
- generation is embarrassingly parallel over ``spark.range`` partitions; all
  randomness is a pure function of (seed, page_id) so output is independent
  of partitioning and task retries;
- extraction reads ONLY the columns it needs — Catalyst prunes ``html`` out
  of the parquet/Iceberg scan when a query touches just ``text`` (never ship
  100 TB of html through a projection that drops it);
- encoding sorts the distinct url set once (a shuffle bounded by |V|, not
  |E|) and assigns ids with a two-pass per-partition-offset sweep (counts ->
  broadcast offsets -> vectorized arange per Arrow batch, zero per-row
  Python) — stable across resumes because the sort order is total;
- edge encoding is two hash joins on url; at web scale both sides are huge,
  so we do NOT broadcast — AQE picks shuffled hash / sort-merge and splits
  skewed url buckets (hubs) automatically.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType, LongType, StringType, StructField, StructType, TimestampType,
)

from ..operators.graph import Graph, from_edge_df
from ..session import skip_unchanged_zip_rereads

PAGES_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("warc_ts", TimestampType()),
    StructField("html", BinaryType()),
    StructField("text", StringType()),
    StructField("lang", StringType()),
])

_VOCAB = (
    "web graph rank page link crawl index search node edge spark data "
    "query batch shuffle join scan hash sort merge stream vector column"
).split()

_LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]  # en-heavy mix


def _mix(*cols: np.ndarray | int) -> np.ndarray:
    """Vectorized splitmix64-style hash of the sum of inputs (uint64)."""
    x = np.zeros(1, dtype=np.uint64)
    with np.errstate(over="ignore"):
        for c in cols:
            x = x + np.asarray(c, dtype=np.uint64) * np.uint64(0x9E3779B97F4A7C15)
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        x = x ^ (x >> np.uint64(31))
    return x


def page_url(page_id: int, num_sites: int) -> str:
    return f"https://site{page_id % num_sites:04d}.example/p{page_id:08d}"


def _page_urls(ids: np.ndarray, num_sites: int) -> np.ndarray:
    """Vectorized page_url: https://site{id%sites:04d}.example/p{id:08d}."""
    site = np.char.zfill((ids % num_sites).astype("U"), 4)
    page = np.char.zfill(ids.astype("U"), 8)
    return np.char.add(np.char.add(np.char.add(
        "https://site", site), ".example/p"), page)


def _gen_batch(ids: np.ndarray, num_pages: int, seed: int, num_sites: int,
               avg_links: int, hub_count: int, hub_prob_mod: int) -> pd.DataFrame:
    """Generate one Arrow batch of pages — vectorized (no per-row Python
    except the final per-page string joins, which are C-level str.join over
    grouped arrays). Pure function of (seed, ids); byte-identical to the
    row-wise reference implementation below (asserted in tests)."""
    ids = np.asarray(ids, dtype=np.int64)
    b = len(ids)
    if b == 0:
        return pd.DataFrame(columns=["url", "warc_ts", "html", "text", "lang"])
    base_ts = np.datetime64("2025-01-01T00:00:00")
    h = _mix(seed, ids, 1)

    # ---- words: flatten per-page arange(2, 2+n_words) into one hash call
    n_words = (20 + h % np.uint64(80)).astype(np.int64)
    widx_page = np.repeat(np.arange(b), n_words)
    starts = np.concatenate(([0], np.cumsum(n_words)[:-1]))
    local = np.arange(int(n_words.sum())) - np.repeat(starts, n_words)
    widx = _mix(seed, ids[widx_page], local + 2) % np.uint64(len(_VOCAB))
    vocab_arr = np.array(_VOCAB)
    words_flat = vocab_arr[widx.astype(np.int64)]
    body = pd.Series(words_flat).groupby(widx_page).agg(" ".join).to_numpy()
    first_word = words_flat[starts]

    # ---- links: same flattening; targets mix hubs and uniform
    n_links = (1 + _mix(seed, ids, 999_001) % np.uint64(2 * avg_links)
               ).astype(np.int64)
    lpage = np.repeat(np.arange(b), n_links)
    lstarts = np.concatenate(([0], np.cumsum(n_links)[:-1]))
    llocal = np.arange(int(n_links.sum())) - np.repeat(lstarts, n_links)
    lh = _mix(seed, ids[lpage], llocal + 1000)
    is_hub = (lh % np.uint64(hub_prob_mod)) == 0
    tgt = np.where(is_hub, lh % np.uint64(max(hub_count, 1)),
                   _mix(lh, 7) % np.uint64(num_pages)).astype(np.int64)
    anchors = np.char.add(np.char.add(np.char.add(np.char.add(
        '<a href="', _page_urls(tgt, num_sites)), '">'),
        vocab_arr[tgt % len(_VOCAB)]), "</a> ")
    hrefs = pd.Series(anchors).groupby(lpage).agg("".join).to_numpy()

    # ---- assemble html/text/metadata columns (all vectorized)
    title = np.char.add(np.char.add(np.char.add(
        "page ", ids.astype("U")), " "), first_word)
    html = pd.Series(
        np.char.add(np.char.add(np.char.add(np.char.add(np.char.add(
            np.char.add(np.char.add(
                "<html><head><title>", title), "</title></head><body><h1>"),
            title), "</h1><p>"), body.astype("U")), "</p> "),
            np.char.add(hrefs.astype("U"), "</body></html>")))
    text = (html.str.replace(_TAG_RE, " ", regex=True)
            .str.replace(_WS_RE, " ", regex=True).str.strip())
    ts = (base_ts
          + ((ids % num_sites) * 3600 + ids // num_sites)
          .astype("timedelta64[s]"))
    return pd.DataFrame({
        "url": _page_urls(ids, num_sites),
        "warc_ts": pd.to_datetime(ts),
        "html": [s.encode("utf-8") for s in html],
        "text": text.to_numpy(),
        "lang": np.array(_LANGS)[(h % np.uint64(len(_LANGS))).astype(np.int64)],
    })


def _gen_batch_rowwise(ids: np.ndarray, num_pages: int, seed: int,
                       num_sites: int, avg_links: int, hub_count: int,
                       hub_prob_mod: int) -> pd.DataFrame:
    """Row-wise reference implementation of the generator (semantics
    documentation + parity oracle for the vectorized batch above)."""
    rows = []
    base_ts = np.datetime64("2025-01-01T00:00:00")
    for i in ids.tolist():
        # NB: every modulo on a uint64 value uses a np.uint64 modulus —
        # `uint64 % python-int` silently promotes through float64 in numpy
        # and rounds 64-bit hashes before the mod
        h = int(_mix(seed, i, 1)[0])
        n_words = 20 + h % 80
        widx = _mix(seed, i, np.arange(2, 2 + n_words)) % np.uint64(len(_VOCAB))
        words = [_VOCAB[int(w)] for w in widx]
        n_links = 1 + int(_mix(seed, i, 999_001)[0] % np.uint64(2 * avg_links))
        lh = _mix(seed, i, np.arange(1000, 1000 + n_links))
        is_hub = (lh % np.uint64(hub_prob_mod)) == 0
        tgt = np.where(is_hub, lh % np.uint64(max(hub_count, 1)),
                       _mix(lh, 7) % np.uint64(num_pages)).astype(np.int64)
        hrefs = "".join(
            f'<a href="{page_url(int(t), num_sites)}">{_VOCAB[int(t) % len(_VOCAB)]}</a> '
            for t in tgt
        )
        title = f"page {i} {words[0]}"
        body = " ".join(words)
        html = (
            f"<html><head><title>{title}</title></head><body>"
            f"<h1>{title}</h1><p>{body}</p> {hrefs}</body></html>"
        )
        rows.append((
            page_url(i, num_sites),
            base_ts + np.timedelta64(int(i % num_sites) * 3600 + (i // num_sites), "s"),
            html.encode("utf-8"),
            _canonical_text_py(html),
            _LANGS[h % len(_LANGS)],
        ))
    df = pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])
    df["warc_ts"] = pd.to_datetime(df["warc_ts"])
    return df


_TAG_RE = r"<[^>]*>"
_WS_RE = r"\s+"


def _canonical_text_py(html: str) -> str:
    """The single canonical html->text rule (strip tags, collapse ws, trim).

    Used by BOTH the generator (to emit ``text``) and the scalar fallback of
    the engine's vectorized extractor — the source of the byte-identical
    invariant.
    """
    import re
    return re.sub(_WS_RE, " ", re.sub(_TAG_RE, " ", html)).strip()


def generate_pages(spark: SparkSession, num_pages: int, seed: int = 42,
                   num_sites: int | None = None, avg_links: int = 8,
                   hub_fraction: float = 0.001,
                   hub_prob_mod: int = 5,
                   num_partitions: int | None = None) -> DataFrame:
    """Deterministic distributed pages table of BASELINE.json's exact shape.

    ~``avg_links`` hrefs/page; 1/``hub_prob_mod`` of links point into the
    first ``hub_fraction * num_pages`` pages (skew for shuffle realism).
    """
    num_sites = num_sites or max(1, num_pages // 100)
    hub_count = max(1, int(num_pages * hub_fraction))
    parts = num_partitions or spark.sparkContext.defaultParallelism

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        skip_unchanged_zip_rereads()
        for b in batches:
            yield _gen_batch(b["id"].to_numpy(), num_pages, seed, num_sites,
                             avg_links, hub_count, hub_prob_mod)

    return spark.range(0, num_pages, numPartitions=parts).mapInPandas(
        gen, schema=PAGES_SCHEMA
    )


# --------------------------------------------------------------- extraction

def extract_text(pages: DataFrame) -> DataFrame:
    """(url, text) from ``html`` — vectorized pandas string kernels over
    Arrow batches; byte-identical to the canonical rule per url."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        skip_unchanged_zip_rereads()
        for b in batches:
            html = b["html"].str.decode("utf-8")  # vectorized, no per-row Python
            text = (
                html.str.replace(_TAG_RE, " ", regex=True)
                .str.replace(_WS_RE, " ", regex=True)
                .str.strip()
            )
            yield pd.DataFrame({"url": b["url"], "text": text})

    return pages.select("url", "html").mapInPandas(
        kernel, schema="url string, text string"
    )


_HREF_RE = r'href="([^"]*)"'


def extract_links(pages: DataFrame) -> DataFrame:
    """raw_edges(src_url, dst_url): one row per href *occurrence* in ``html``
    (duplicates kept — multiset contract, EdgeArray.hs:78-89). Vectorized via
    pandas ``str.extractall`` inside Arrow batches."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        skip_unchanged_zip_rereads()
        for b in batches:
            html = b["html"].str.decode("utf-8")  # vectorized, no per-row Python
            hits = html.str.extractall(_HREF_RE)
            if hits.empty:
                yield pd.DataFrame({"src_url": [], "dst_url": []}).astype("str")
                continue
            src = b["url"].iloc[hits.index.get_level_values(0)].to_numpy()
            yield pd.DataFrame({"src_url": src, "dst_url": hits[0].to_numpy()})

    return pages.select("url", "html").mapInPandas(
        kernel, schema="src_url string, dst_url string"
    )


# ----------------------------------------------------------------- encoding

def encode_vertices(raw_edges: DataFrame) -> DataFrame:
    """vertices(url, id): dense 0..N-1 ids by total url sort order.

    Distributed, deterministic, and Arrow-only (no per-row Python): the
    classic two-pass dense-id assignment.

    1. distinct urls (shuffle bounded by |V|, not |E|), range-partitioned
       total sort, tagged with ``spark_partition_id`` and PERSISTED — the
       cache freezes the partition layout so both passes see the same rows
       per partition (a re-executed sort could resample range boundaries);
    2. per-partition counts collected to the driver (#partitions rows, not
       |V|) and turned into broadcast cumulative offsets;
    3. one ``mapInPandas`` sweep emits ``offset[pid] + position`` per row —
       a vectorized ``np.arange`` per Arrow batch.

    Ids are stable across retries/resumes because the url order is total,
    and byte-identical to the previous zipWithIndex formulation. At
    production scale the eager localCheckpoint below is a parquet
    checkpoint of the vertex dictionary.
    """
    spark = raw_edges.sparkSession
    urls = (
        raw_edges.select(F.col("src_url").alias("url"))
        .unionAll(raw_edges.select(F.col("dst_url").alias("url")))
        .distinct()
        .orderBy("url")
        .withColumn("pid", F.spark_partition_id())
        .persist()
    )
    counts = urls.groupBy("pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    offsets: dict[int, int] = {}
    acc = 0
    for row in sorted(counts, key=lambda r: r["pid"]):
        offsets[int(row["pid"])] = acc
        acc += int(row["cnt"])
    b_offsets = spark.sparkContext.broadcast(offsets)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        skip_unchanged_zip_rereads()
        pos = -1
        for b in batches:
            if len(b) == 0:
                continue
            if pos < 0:
                pos = b_offsets.value[int(b["pid"].iloc[0])]
            yield pd.DataFrame({
                "url": b["url"],
                "id": np.arange(pos, pos + len(b), dtype=np.int64),
            })
            pos += len(b)

    out = urls.mapInPandas(kernel, schema="url string, id long")
    out = out.localCheckpoint(eager=True)
    urls.unpersist()
    # Invariant guard: correctness hinges on the persist() freezing the
    # sorted partition layout between the counts collect and the sweep. If
    # cached blocks were lost and recomputed under a different range
    # partitioning, the broadcast pid->offset map no longer matches row
    # placement and ids would silently duplicate or skip. The checkpointed
    # output makes the check one cheap agg: ids must be exactly 0..N-1.
    chk = out.agg(F.count(F.lit(1)).alias("n"),
                  F.min("id").alias("lo"),
                  F.max("id").alias("hi")).first()
    if int(chk["n"]) != acc or (acc > 0 and (
            int(chk["lo"]) != 0 or int(chk["hi"]) != acc - 1)):
        raise RuntimeError(
            f"encode_vertices dense-id invariant violated: expected ids "
            f"0..{acc - 1}, got n={chk['n']} min={chk['lo']} max={chk['hi']}"
            " — cached sort layout changed between passes")
    return out


def encode_edges(raw_edges: DataFrame, vertices: DataFrame) -> DataFrame:
    """edges(src, dst) via two url->id hash joins. No broadcast: at web
    scale both sides are large; AQE handles hub-url skew."""
    src_v = vertices.select(F.col("url").alias("src_url"), F.col("id").alias("src"))
    dst_v = vertices.select(F.col("url").alias("dst_url"), F.col("id").alias("dst"))
    return (
        raw_edges.join(src_v, "src_url").join(dst_v, "dst_url")
        .select("src", "dst")
    )


def build_graph(pages: DataFrame) -> tuple[Graph, DataFrame]:
    """pages -> (Graph over dense ids, vertices(url, id)).

    The full M0 pipeline: href extraction -> dictionary encoding -> self-loop
    drop (from_edge_df). ``num_vertices`` = |vertices| (dense by
    construction). Dangling urls (linked-to but never crawled) become sink
    vertices — exactly the reference's dense-space semantics.
    """
    # persist raw: encode_vertices reads it twice (src ∪ dst) and
    # encode_edges once more — unpersisted, generation+extraction would
    # recompute per pass (at production scale this is a parquet checkpoint
    # of the extracted edge list, not an in-memory cache). The encoded edge
    # list is materialized here (localCheckpoint) so raw can be RELEASED
    # before returning — no cached blocks leak across repeated builds.
    # ``vertices`` comes back checkpointed from encode_vertices: its blocks
    # are released when the frame is garbage-collected (ContextCleaner).
    raw = extract_links(pages).persist()
    # encode_vertices returns an eagerly-materialized (localCheckpoint'd)
    # frame — already backed by storage blocks, so no extra persist here.
    vertices = encode_vertices(raw)
    n = vertices.count()
    edges = encode_edges(raw, vertices).localCheckpoint(eager=True)
    raw.unpersist()
    return from_edge_df(edges, num_vertices=n), vertices


_ANCHOR_RE = r'<a href="([^"]*)">([^<]*)</a>'


def extract_anchors(pages: DataFrame) -> DataFrame:
    """(src_url, dst_url, anchor): one row per anchor-tag occurrence in
    ``html`` — the href target plus its visible anchor text. Same vectorized
    extractall shape as extract_links (Arrow batches, no per-row Python);
    anchor text is the classic incoming-link relevance signal a search
    pipeline aggregates per target page."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        skip_unchanged_zip_rereads()
        for b in batches:
            html = b["html"].str.decode("utf-8")  # vectorized, no per-row Python
            hits = html.str.extractall(_ANCHOR_RE)
            if hits.empty:
                yield pd.DataFrame(
                    {"src_url": [], "dst_url": [], "anchor": []}
                ).astype("str")
                continue
            src = b["url"].iloc[hits.index.get_level_values(0)].to_numpy()
            yield pd.DataFrame({"src_url": src,
                                "dst_url": hits[0].to_numpy(),
                                "anchor": hits[1].to_numpy()})

    return pages.select("url", "html").mapInPandas(
        kernel, schema="src_url string, dst_url string, anchor string"
    )


def anchor_text_index(pages: DataFrame, min_count: int = 1) -> DataFrame:
    """Incoming anchor-text index: (dst_url, anchor, cnt) — how often each
    anchor term points at each target across the crawl. The aggregation is
    a plain two-phase count keyed on (dst_url, anchor); at web scale the
    shuffle carries (url, term, partial-count) triples, never html."""
    from pyspark.sql import functions as F
    return (
        extract_anchors(pages)
        .groupBy("dst_url", "anchor")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") >= min_count)
    )
