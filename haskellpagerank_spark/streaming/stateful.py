"""Custom stateful streaming operator: continuous degree tracking.

The batch engine probes in-degrees to decide which dst vertices get
hub-salted in the CSR shuffle (operators/pagerank_csr.run_pagerank_spmv).
In a continuous-crawl deployment that probe is itself streamable: as edge
micro-batches land, keep per-vertex running (out_deg, in_deg) state and
flag hubs the moment they cross the salting threshold — so the batch
recompute starts with the salt list already known instead of re-scanning
|E|.

This is the engine's ``applyInPandasWithState`` surface: state is a
per-key (out_deg, in_deg) pair, updates are Arrow-batched pandas frames,
output mode "update" emits one row per touched vertex per micro-batch.
State size is O(|V|) spread across the state store's shuffle partitions —
the standard stateful-agg footprint, checkpointed with the query.

(No reference analogue — the reference is batch-only, SURVEY.md §2.9;
this extends the same operator family as streaming/ingest.py.)
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..session import skip_unchanged_zip_rereads

DEGREE_OUTPUT_SCHEMA = "id long, out_deg long, in_deg long, is_hub boolean"
DEGREE_STATE_SCHEMA = "out_deg long, in_deg long"


def _degree_endpoints(edges: DataFrame) -> DataFrame:
    """(id, d_out, d_in) increments — each edge contributes one out at src
    and one in at dst. Self-union of the streaming source; both legs read
    the same micro-batch."""
    out_leg = edges.select(
        F.col("src").alias("id"),
        F.lit(1).alias("d_out"), F.lit(0).alias("d_in"))
    in_leg = edges.select(
        F.col("dst").alias("id"),
        F.lit(0).alias("d_out"), F.lit(1).alias("d_in"))
    return out_leg.unionAll(in_leg)


def running_degrees(edges: DataFrame,
                    hub_threshold: int | None = None) -> DataFrame:
    """Streaming (id, out_deg, in_deg, is_hub) — cumulative over all edge
    micro-batches seen so far; one updated row per touched vertex per
    batch. ``hub_threshold``: in-degree at which ``is_hub`` flips true
    (the CSR salting criterion); None -> never flags.

    Works on a streaming ``edges(src, dst)`` DataFrame; also callable on a
    batch DataFrame for semantics tests (Spark runs the same operator with
    a one-batch state lifetime).
    """
    thr = hub_threshold

    def update(key: tuple, pdfs: Iterator[pd.DataFrame],
               state: GroupState) -> Iterator[pd.DataFrame]:
        skip_unchanged_zip_rereads()
        out_deg, in_deg = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            out_deg += int(pdf["d_out"].sum())
            in_deg += int(pdf["d_in"].sum())
        state.update((out_deg, in_deg))
        yield pd.DataFrame({
            "id": pd.Series([key[0]], dtype="int64"),
            "out_deg": pd.Series([out_deg], dtype="int64"),
            "in_deg": pd.Series([in_deg], dtype="int64"),
            "is_hub": [thr is not None and in_deg >= thr],
        })

    return _degree_endpoints(edges).groupBy("id").applyInPandasWithState(
        update,
        outputStructType=DEGREE_OUTPUT_SCHEMA,
        stateStructType=DEGREE_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def hub_ids(update_log: DataFrame) -> list[int]:
    """Collect the flagged hub ids from an update-mode degree log — the
    ``known_hub_ids`` input to run_pagerank_spmv, replacing its batch
    in-degree probe with state the stream already tracked. Bounded by the
    hub count (a handful of mega-dsts), not |V|."""
    return sorted(
        r.id for r in
        latest_degrees(update_log).where("is_hub").select("id").collect())


def latest_degrees(update_log: DataFrame) -> DataFrame:
    """Collapse an update-mode sink (one row per vertex per touched batch)
    to the latest state per vertex: degrees are monotone non-decreasing, so
    the row with max (out_deg + in_deg) per id IS the newest."""
    from pyspark.sql import Window
    w = Window.partitionBy("id").orderBy(
        F.desc(F.col("out_deg") + F.col("in_deg")))
    return (update_log.withColumn("rn", F.row_number().over(w))
            .where("rn = 1").drop("rn"))
