"""Structured-Streaming ingestion for the link-graph pipeline.

The reference is purely batch-iterative (SURVEY.md §2.9) — this module is
north-rule-adjacent scope: a production crawl lands page batches
continuously, and the engine must fold them into the edge table without
full recomputes. Three pieces:

- ``stream_pages`` / ``ingest_pages_to_edges``: file-source stream of pages
  parquet -> vectorized href extraction (the same Arrow kernel as batch,
  sources/pages.extract_links) -> append-only raw-edges parquet sink with
  exactly-once file-source checkpointing. ``Trigger.AvailableNow`` drains
  the backlog and stops, which is also how the tests drive it
  deterministically.
- ``stream_edge_lists``: reference-style text edge lists as a stream.
- ``windowed_event_counts``: watermark + tumbling-window aggregation over
  the ``events`` table shape (late data handled by the watermark) — the
  standard stateful-agg pattern.

After each ingested batch, recomputing ranks is a *batch* concern:
run_pagerank_incremental (operators/prism.py) seeded with the previous
converged state is the intended delta path — new edges activate their
endpoints' frontiers instead of restarting from uniform.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..sources.pages import PAGES_SCHEMA, extract_links


def stream_pages(spark: SparkSession, input_dir: str) -> DataFrame:
    """File-source stream of pages parquet batches (one file per crawl
    micro-batch)."""
    return spark.readStream.schema(PAGES_SCHEMA).parquet(input_dir)


def ingest_pages_to_edges(spark: SparkSession, input_dir: str,
                          edges_dir: str, checkpoint_dir: str,
                          available_now: bool = True) -> StreamingQuery:
    """pages stream -> href extraction -> append raw_edges parquet.

    Exactly-once per input file via the file-source + checkpoint contract;
    the extraction kernel is the identical Arrow-batched one used in batch
    mode, so streamed and batch-extracted edges are byte-identical.
    """
    raw = extract_links(stream_pages(spark, input_dir))
    writer = (
        raw.writeStream.format("parquet")
        .option("path", edges_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_edge_lists(spark: SparkSession, input_dir: str) -> DataFrame:
    """Reference-style ``src dst`` text lines as a streaming edge source
    (readEdgeArray's format, EdgeArray.hs:145-152)."""
    raw = spark.readStream.text(input_dir)
    parts = F.split(F.trim(F.col("value")), r"\s+")
    return raw.where(F.length(F.trim(F.col("value"))) > 0).select(
        parts.getItem(0).cast("long").alias("src"),
        parts.getItem(1).cast("long").alias("dst"),
    ).where(F.col("src") != F.col("dst"))


def maintain_ranks(spark: SparkSession, edges_dir: str, num_vertices: int,
                   prev_ranks: DataFrame | None = None, cfg=None):
    """Batch-of-batches rank maintenance over a streamed (src, dst) sink.

    After each ingested micro-batch (``stream_edge_lists`` appends encoded
    pairs to ``edges_dir``; the pages path feeds it after dictionary
    encoding), recompute PageRank over the full edge table *warm-started*
    from the previous converged state —
    power iteration converges from any start vector, so the result is the
    exact fixpoint of the updated graph, reached in a fraction of the
    sweeps a cold start needs (tests assert both properties).
    """
    from ..operators.graph import from_edge_df
    from ..operators.pagerank_csr import run_pagerank_auto
    edges = spark.read.parquet(edges_dir)
    g = from_edge_df(edges, num_vertices=num_vertices)
    return run_pagerank_auto(g, cfg, init_ranks=prev_ranks)


def maintain_ranks_prism(spark: SparkSession, edges_dir: str,
                         num_vertices: int, prev_ranks: DataFrame | None = None,
                         cfg=None):
    """Prism-mode rank maintenance over a streamed (src, dst) sink — the
    PageRank analogue of ``maintain_components``, composing the warm-start
    delta path (operators/prism.py) with the streaming edge sink the way
    the CC wrapper composes the incremental min-label operator.

    Cold start (no ``prev_ranks``) converges the activation-set fixpoint
    from scratch; with a previously converged state it pays ONE full |E|
    join to re-derive the accumulated sums over the updated edge table,
    then drains only the frontier the new batch actually disturbed — the
    steady-state per-crawl-batch regime (benched as ``prism_maintain``).
    Unlike ``maintain_ranks`` (power-iteration warm start, every sweep
    still touches all |E|), the prism path's post-rederivation sweeps
    shuffle only frontier-incident edges."""
    from ..operators.graph import from_edge_df
    from ..operators.prism import run_pagerank_incremental
    g = from_edge_df(spark.read.parquet(edges_dir),
                     num_vertices=num_vertices)
    return run_pagerank_incremental(g, cfg, warm_ranks=prev_ranks)


def maintain_ranks_catalog(spark: SparkSession, table, num_vertices: int,
                           prev_ranks: DataFrame | None = None,
                           snapshot: int | None = None,
                           base_snapshot: int | None = None, cfg=None):
    """Prism rank maintenance over a ``sources.catalog.Table`` edge table —
    the catalog-seam closure of ``maintain_ranks_prism`` (VERDICT r4 #7):
    rank maintenance consumes the exact snapshot the rest of the engine
    commits, instead of a loose parquet directory.

    Reads the (src, dst) edge table AT ``snapshot`` (default: the current
    version — pinned up front, so concurrent commits cannot shear the
    scan) and warm-starts the prism activation-set fixpoint from
    ``prev_ranks``, the state converged against ``base_snapshot``. The
    warm path pays one full-|E| join to re-derive accumulated sums over
    the new snapshot, then drains only the frontier the snapshot delta
    actually disturbed — the manifest diff between the two snapshots is
    what sizes that frontier. When ``base_snapshot`` is given, the diff's
    file count is reported in the result's first IterationMetrics extra
    (``delta_files``), giving per-batch lineage: which committed files
    this maintenance round folded in.

    Returns the prism PageRankResult (exact fixpoint of the snapshot's
    graph — parity with a cold recompute is asserted in tests).
    """
    from ..operators.graph import from_edge_df
    from ..operators.prism import run_pagerank_incremental
    snap = table.current_version() if snapshot is None else snapshot
    edges = table.read(spark, snapshot=snap).select("src", "dst")
    g = from_edge_df(edges, num_vertices=num_vertices)
    res = run_pagerank_incremental(g, cfg, warm_ranks=prev_ranks)
    if base_snapshot is not None:
        base_files = {e.path for e in table.files(base_snapshot)}
        delta = [e for e in table.files(snap) if e.path not in base_files]
        if not res.metrics:
            # steady-state no-op round: the snapshot delta disturbed no
            # rank, so the prism loop converged before its first sweep —
            # lineage still belongs in the result, on a zero-cost record
            from ..plans.checkpoint import IterationMetrics
            res.metrics.append(IterationMetrics(
                iteration=0, l1_residual=0.0, linf_residual=0.0,
                rows_shuffled=0, wall_s=0.0,
                extra={"frontier": 0, "strategy": "incremental"}))
        res.metrics[0].extra["delta_files"] = len(delta)
        res.metrics[0].extra["delta_rows"] = sum(e.rows for e in delta)
    return res


def dedup_doc_stream(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exactly-once *cross-batch* exact dedup of a streaming documents
    source: the first arrival of each text wins; re-deliveries in the same
    or any later micro-batch are dropped.

    State is Spark's streaming-dedup store keyed on md5(text) — 16 bytes
    per distinct document ever seen, partitioned across the state store's
    shuffle partitions and checkpointed with the query. This is the
    streaming half of functions/pipeline.dedup_exact: a continuous crawl
    dedups at ingest so the batch pipeline never re-shuffles known text.
    """
    return (docs.withColumn("_text_hash", F.md5(F.col(text_col)))
            .dropDuplicates(["_text_hash"])
            .drop("_text_hash"))


def maintain_components(spark: SparkSession, edges_dir: str,
                        num_vertices: int,
                        prev_labels: DataFrame | None = None,
                        max_iters: int = 200):
    """Component maintenance over a streamed (src, dst) sink — the CC
    analogue of ``maintain_ranks``. Cold start (no ``prev_labels``) runs
    the auto-tiered CC; with previous converged labels it runs the
    incremental operator, whose disagreement scan seeds the frontier with
    only the endpoints the new batch actually disturbed (edge additions
    only — the append sink never deletes)."""
    from ..operators.components import (connected_components_auto,
                                        connected_components_incremental)
    from ..operators.graph import from_edge_df
    g = from_edge_df(spark.read.parquet(edges_dir),
                     num_vertices=num_vertices)
    if prev_labels is None:
        return connected_components_auto(g)
    return connected_components_incremental(g, prev_labels,
                                            max_iters=max_iters)


def windowed_event_counts(events: DataFrame, window: str = "1 hour",
                          watermark: str = "2 hours") -> DataFrame:
    """Tumbling-window per-type counts with late-data watermark over the
    events shape (event_id, ts, user_id, event_type, value)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum("value").alias("total_value"))
        .select(F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"),
                "event_type", "n_events", "total_value")
    )


def _hadoop_fs(sp: SparkSession, path: str):
    jvm = sp._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(sp._jsc.hadoopConfiguration()), hpath


def _list_names(sp: SparkSession, path: str) -> list[str]:
    """Child names of a directory via the Hadoop FileSystem API — works on
    any Spark-supported filesystem, not just local disk."""
    fs, hpath = _hadoop_fs(sp, path)
    if not fs.exists(hpath):
        return []
    return [st.getPath().getName() for st in fs.listStatus(hpath)]


def _path_exists(sp: SparkSession, path: str) -> bool:
    fs, hpath = _hadoop_fs(sp, path)
    return bool(fs.exists(hpath))


def _delete_path(sp: SparkSession, path: str) -> None:
    fs, hpath = _hadoop_fs(sp, path)
    fs.delete(hpath, True)


def _migrate_legacy_store(sp: SparkSession, state_dir: str) -> None:
    """One-time layout upgrade: pre-compaction stores kept signatures in
    ``state_dir/batch=<id>`` directly; the compacting layout reads only
    ``delta/`` and ``compacted/``, which would silently orphan all prior
    dedup state on upgrade. Rename any root-level ``batch=*`` partition
    into ``delta/`` (a pure metadata move — no data rewrite). If the same
    batch id already exists under ``delta/`` (a replay straddling the
    upgrade rewrote it there), the new write is authoritative and the
    legacy copy is dropped."""
    legacy = [n for n in _list_names(sp, state_dir)
              if n.startswith("batch=")]
    if not legacy:
        return
    fs, delta_root = _hadoop_fs(sp, f"{state_dir}/delta")
    fs.mkdirs(delta_root)
    for name in legacy:
        _, src = _hadoop_fs(sp, f"{state_dir}/{name}")
        _, dst = _hadoop_fs(sp, f"{state_dir}/delta/{name}")
        if fs.exists(dst):
            fs.delete(src, True)
        else:
            fs.rename(src, dst)


def _store_deltas(sp: SparkSession, state_dir: str) -> list[int]:
    _migrate_legacy_store(sp, state_dir)
    out = []
    for name in _list_names(sp, f"{state_dir}/delta"):
        if name.startswith("batch="):
            try:
                out.append(int(name.split("=", 1)[1]))
            except ValueError:
                continue
    return sorted(out)


def _store_segments(sp: SparkSession,
                    state_dir: str) -> list[tuple[int, int, str]]:
    """COMPLETE compacted segments as (lo, hi, dirname), ascending by hi —
    a segment counts only once its _SUCCESS marker exists, so a crash
    mid-compaction leaves the previous segments authoritative. Two dirname
    forms: ``v=HI`` (legacy single-segment full folds — they covered every
    batch, so lo=0) and ``v=LO-HI`` (size-tiered segments covering batch
    ids in [LO, HI]). Segments covered by a newer segment's range are
    superseded (a crash skipped their cleanup) and are filtered out here;
    the caller may delete them."""
    raw = []
    for name in _list_names(sp, f"{state_dir}/compacted"):
        if not name.startswith("v="):
            continue
        tag = name.split("=", 1)[1]
        try:
            lo, hi = ([0] + [int(x) for x in tag.split("-")])[-2:]
        except ValueError:
            continue
        if _path_exists(sp, f"{state_dir}/compacted/{name}/_SUCCESS"):
            raw.append((lo, hi, name))
    live = [s for s in raw
            if not any(o[0] <= s[0] and o[1] >= s[1]
                       and (o[0], o[1]) != (s[0], s[1])
                       for o in raw)
            # identical ranges under two names cannot arise from the fold
            # protocol, but never let mutual covering hide both: keep the
            # lexicographically last dirname
            and s[2] == max(o[2] for o in raw
                            if (o[0], o[1]) == (s[0], s[1]))]
    return sorted(live, key=lambda s: s[1])


def _read_sig_store(sp: SparkSession, state_dir: str,
                    batch_id: int) -> DataFrame | None:
    """Signatures of all strictly-earlier batches: every live compacted
    segment (the per-row ``batch`` high-watermark column keeps the replay
    guard exact even after batches are folded together) plus any deltas
    newer than the newest segment."""
    # one read per kind: each ``read.parquet`` call runs a schema job
    parts = []
    segments = _store_segments(sp, state_dir)
    k = segments[-1][1] if segments else None
    if segments:
        parts.append(
            sp.read.parquet(*(f"{state_dir}/compacted/{name}"
                              for _, _, name in segments))
            .where(F.col("batch") < F.lit(batch_id))
            .select("id", "sig"))
    deltas = [f"{state_dir}/delta/batch={j}"
              for j in _store_deltas(sp, state_dir)
              if (k is None or j > k) and j < batch_id]
    if deltas:
        parts.append(sp.read.parquet(*deltas).select("id", "sig"))
    if not parts:
        return None
    return parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])


def _maybe_compact_store(sp: SparkSession, state_dir: str,
                         compact_every: int, compact_files: int) -> None:
    """Fold accumulated delta partitions into one compacted segment.

    Without this, the store grows one hive partition per micro-batch
    forever and FILE LISTING becomes the per-batch bottleneck at 10^4-10^5
    batches. Policy: once >= ``compact_every`` deltas sit above the newest
    compacted segment, rewrite segment+deltas into ``compacted/v=<W>``
    (W = the high watermark, i.e. the newest folded batch id) as
    ``compact_files`` id-clustered sorted files, then delete the folded
    deltas and older segments. The per-row ``batch`` column inside the
    segment preserves the strictly-earlier-batch replay guard that the
    hive partition column used to provide.

    Size-tiered (LSM-style) so total compaction I/O over the stream's
    lifetime is O(rows x log batches), not the quadratic every-fold-
    rewrites-everything of a single-segment scheme: the live deltas always
    fold into a NEW segment, and existing segments are absorbed into the
    fold only while the next-newest segment is no larger than everything
    already being folded (the classic binary-counter merge — each row is
    rewritten at most log2(batches/compact_every) times). File count
    stays bounded at O(log(batches) x compact_files + compact_every).

    Crash-safe by construction: a new segment only becomes authoritative
    when its _SUCCESS lands (write is deterministic from immutable inputs,
    so a replayed compaction rewrites identical content). Segment dirnames
    carry their covered batch range (``v=LO-HI``), so if a crash skips
    cleanup, absorbed segments are detected as range-covered by the new
    one — ``_store_segments`` hides them from reads immediately, and EVERY
    later pass (folding or not) sweeps dead segment dirs: anything under
    ``compacted/`` that the live listing excludes, i.e. range-covered
    leftovers and incomplete (_SUCCESS-less) fold attempts. Deleting an
    incomplete dir is safe under the store's single-writer protocol
    (foreachBatch serializes micro-batches, so no concurrent compactor
    can be mid-write). In the tiny window where a covered segment or
    folded delta is still visible, double-read signature rows are
    semantically idempotent: the candidate join dedups pairs and the drop
    set is distinct.

    Layout note: files are clustered/sorted by doc id — band keys are
    k-per-doc derived values with no single clustering key, and nothing
    prunes on either layout; the win here is bounded file count. The
    catalog seam (sources/catalog.Table) is the Iceberg-shaped upgrade
    path if manifest-tracked state is wanted instead.
    """
    deltas = _store_deltas(sp, state_dir)
    segments = _store_segments(sp, state_dir)
    # self-heal: sweep dead segment dirs a crash left behind — complete
    # segments whose range a newer segment covers, and incomplete
    # (_SUCCESS-less) fold attempts (single-writer protocol: nothing can
    # be mid-write here). Reads already ignore both; this bounds files.
    live_names = {name for _, _, name in segments}
    for name in _list_names(sp, f"{state_dir}/compacted"):
        if name.startswith("v=") and name not in live_names:
            _delete_path(sp, f"{state_dir}/compacted/{name}")
    k = segments[-1][1] if segments else None
    live = [j for j in deltas if k is None or j > k]
    stale = [j for j in deltas if k is not None and j <= k]
    if len(live) < compact_every:
        for j in stale:  # self-heal cleanup a crash skipped
            _delete_path(sp, f"{state_dir}/delta/batch={j}")
        return

    def _dir_bytes(path: str) -> int:
        fs, hpath = _hadoop_fs(sp, path)
        return int(fs.getContentSummary(hpath).getLength())

    fold_bytes = sum(_dir_bytes(f"{state_dir}/delta/batch={j}")
                     for j in live)
    absorbed = []
    for seg in reversed(segments):  # newest first — contiguous suffix
        seg_bytes = _dir_bytes(f"{state_dir}/compacted/{seg[2]}")
        if seg_bytes > fold_bytes:
            break
        absorbed.append(seg)
        fold_bytes += seg_bytes
    new_lo = absorbed[-1][0] if absorbed else min(live)
    new_hi = max(live)
    # the delta dir names carry the batch column (hive partitions)
    df = (sp.read.option("basePath", f"{state_dir}/delta")
          .parquet(*(f"{state_dir}/delta/batch={j}" for j in live))
          .select("id", "sig", "batch"))
    if absorbed:
        df = sp.read.parquet(*(f"{state_dir}/compacted/{name}"
                               for _, _, name in absorbed)) \
            .select("id", "sig", "batch").unionByName(df)
    (df.repartition(compact_files, "id").sortWithinPartitions("id")
     .write.mode("overwrite")
     .parquet(f"{state_dir}/compacted/v={new_lo}-{new_hi}"))
    # cleanup (safe to lose to a crash — self-healing on later passes):
    # folded + stale deltas, then every absorbed/range-covered segment
    for j in live + stale:
        _delete_path(sp, f"{state_dir}/delta/batch={j}")
    for _, _, name in absorbed:
        _delete_path(sp, f"{state_dir}/compacted/{name}")


def neardup_filter_stream(docs: DataFrame, state_dir: str, out_dir: str,
                          text_col: str = "text", id_col: str = "doc_id",
                          n: int = 3, num_hashes: int = 64, bands: int = 16,
                          threshold: float = 0.8,
                          hash_mode: str = "xxhash64",
                          checkpoint_dir: str | None = None,
                          available_now: bool = True,
                          compact_every: int = 16,
                          compact_files: int = 8) -> StreamingQuery:
    """Cross-batch NEAR-dup filtering of a streaming documents source.

    ``dedup_doc_stream`` only catches byte-identical re-deliveries; a crawl
    also re-serves boilerplate-shifted copies of pages it has already
    ingested. This operator keeps a MinHash *signature store* and drops any
    arriving doc whose signature-estimated Jaccard against ANY
    earlier-in-stream doc reaches ``threshold`` (duplicates-of-duplicates
    drop too — the streaming analogue of functions.dedup.neardup_clusters'
    keep-the-canonical semantics).

    Per micro-batch (foreachBatch, so plain batch DataFrame semantics):

    1. batch signatures via the batch kernel (``minhash_signatures`` — one
       shared expression tree with the batch dedup path);
    2. candidates = ``band_keys`` join of batch sigs vs the accumulated
       store AND vs earlier-id batch sigs — only 8-byte band keys and doc
       ids shuffle;
    3. verification = ``estimated_jaccard`` on the k-long signatures (the
       unbiased MinHash estimator) — state stays O(k) longs per doc ever
       seen, never shingles or text;
    4. every batch doc's signature lands in ``state_dir/delta/batch=<id>``
       and survivor rows in ``out_dir/batch=<id>`` — both writes are keyed
       by micro-batch id with mode("overwrite"), so a replayed batch
       overwrites itself (idempotent under foreachBatch's at-least-once
       contract). The store read (``_read_sig_store``) is restricted to
       *strictly earlier* batches — via the delta partition ids and, for
       compacted segments, a per-row ``batch`` high-watermark column: on a
       replay of batch N (crash after the state write but before the
       checkpoint commit) the batch's own signatures are already on disk,
       and without the filter every replayed doc would band-match itself
       at estimated Jaccard 1.0 and the whole batch would be dropped as
       duplicates;
    5. every ``compact_every`` batches the accumulated deltas fold into
       one ``compact_files``-file compacted segment
       (``_maybe_compact_store``) so the store's file count — and the
       per-batch listing cost — stays O(compact_every + compact_files)
       instead of O(batches seen forever). ``compact_every=None`` disables
       compaction (the pre-r5 behavior).
    """
    from ..functions.dedup import (band_keys, estimated_jaccard,
                                   minhash_signatures)

    def _one_batch(bdf: DataFrame, batch_id: int) -> None:
        sp = bdf.sparkSession
        sigs = minhash_signatures(bdf, text_col, id_col, n, num_hashes,
                                  hash_mode).persist()
        bk = band_keys(sigs, num_hashes, bands, hash_mode)
        cand = (
            bk.alias("x").join(bk.alias("y"), ["band", "key"])
            .where(F.col("x.id") < F.col("y.id"))
            .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        )
        store = _read_sig_store(sp, state_dir, batch_id)
        if store is not None:
            sbk = band_keys(store, num_hashes, bands, hash_mode)
            cand = cand.unionByName(
                sbk.alias("x").join(bk.alias("y"), ["band", "key"])
                .select(F.col("x.id").alias("id_a"),
                        F.col("y.id").alias("id_b")))
            sig_lookup = store.unionByName(sigs)
        else:
            sig_lookup = sigs
        cand = cand.dropDuplicates(["id_a", "id_b"])
        dropped = (
            cand.join(sig_lookup.select(F.col("id").alias("id_a"),
                                        F.col("sig").alias("sig_a")), "id_a")
            .join(sigs.select(F.col("id").alias("id_b"),
                              F.col("sig").alias("sig_b")), "id_b")
            .where(estimated_jaccard(F.col("sig_a"), F.col("sig_b"),
                                     num_hashes) >= threshold)
            .select(F.col("id_b").alias("_dup_id")).distinct()
        )
        survivors = bdf.join(
            dropped, bdf[id_col] == dropped["_dup_id"], "left_anti")
        survivors.write.mode("overwrite").parquet(
            f"{out_dir}/batch={batch_id}")
        sigs.write.mode("overwrite").parquet(
            f"{state_dir}/delta/batch={batch_id}")
        sigs.unpersist()
        if compact_every:
            _maybe_compact_store(sp, state_dir, compact_every,
                                 compact_files)

    writer = docs.writeStream.foreachBatch(_one_batch)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
