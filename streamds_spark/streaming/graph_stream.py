"""Streaming graph ingest: an edge stream with INCREMENTAL triangle
maintenance — the streaming twin of the batch graph family
(queries/graph.py), built on the same store discipline as the corpus
pipeline (overwrite-idempotent `batch=N` dirs, `_SUCCESS` commit points,
committed-dirs-strictly-before probes for replay safety, segment
compaction).

Per trigger:
  1. normalize + dedup the arriving edges (least/greatest, self-loops
     dropped, within-batch distinct, anti-join against the committed edge
     store — a re-delivered edge is a no-op),
  2. count the triangles the batch CREATES with new-edge-driven joins:
     a triangle appears exactly when its last edge arrives, so the delta
     is the count of triangles with >= 1 new edge — enumerated as the 7
     old/new role patterns over the a<b<c formulation, every one probed
     FROM the batch-sized new set (AQE broadcasts it), never by rescanning
     the accumulated graph against itself,
  3. commit the new edges and a 1-row delta census under `batch=N`.

The fold invariant (pytest-pinned): sum of per-batch deltas == the batch
triangle census over the union of all committed edges, exactly — every
triangle has a unique "completing" batch, so deltas partition the
triangle set. That makes the running total a per-trigger integer fold at
ANY graph size: the 100 TB posture is per-trigger cost tracking
|batch| x degree (the joins are new-edge-driven), while the exact
recount the delta replaces would rescan the whole graph every trigger.

Deletion: edges are facts of the ingested stream; takedown of a graph
store means rebuilding from the post-takedown edge source (the
register-sketch rebuild semantics — triangle deltas cannot subtract
without the full neighborhood of the deleted edge).
"""

from __future__ import annotations

import itertools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streamds_spark.io import batchstore
from streamds_spark.streaming.engine import parquet_stream, start_batches


class EdgeStreamPaths:
    def __init__(self, work_dir: str):
        self.work_dir = work_dir

    @property
    def checkpoint(self) -> str:
        return os.path.join(self.work_dir, "checkpoint")

    @property
    def edge_store(self) -> str:  # committed distinct edges, batch=N dirs
        return os.path.join(self.work_dir, "edge_store")

    @property
    def census_store(self) -> str:  # 1-row delta census per batch
        return os.path.join(self.work_dir, "census_store")


def _known_edges(
    spark: SparkSession, paths: EdgeStreamPaths, batch_id: int
) -> "DataFrame | None":
    dirs = batchstore.committed(paths.edge_store, int(batch_id))
    if not dirs:
        return None
    return spark.read.parquet(*dirs).select("u", "v")


def _tri_count(e_ab: DataFrame, e_bc: DataFrame, e_ac: DataFrame) -> int:
    """Triangles a<b<c with the three role edges drawn from the given sets
    (u < v normalized, so role membership is a plain equi-join)."""
    return (
        e_ab.toDF("a", "b")
        .join(e_bc.toDF("b", "c"), "b")
        .join(e_ac.toDF("a", "c"), ["a", "c"])
        .count()
    )


def process_edge_batch(
    batch_df: DataFrame, batch_id: int, paths: EdgeStreamPaths
) -> None:
    """One micro-batch: dedup against the committed store, count the
    triangle delta with new-edge-driven joins, commit edges + census."""
    spark = batch_df.sparkSession
    e = (
        batch_df.select(
            F.least("u", "v").cast("bigint").alias("u"),
            F.greatest("u", "v").cast("bigint").alias("v"),
        )
        .where(F.col("u") < F.col("v"))
        .distinct()
    )
    old = _known_edges(spark, paths, batch_id)
    if old is not None:
        e = e.join(old, ["u", "v"], "left_anti")
    new = e.localCheckpoint(eager=True)
    n_new = new.count()

    delta = 0
    if n_new:
        sides = {"N": new}
        if old is not None:
            sides["O"] = old.localCheckpoint(eager=True)
        for roles in itertools.product("ON", repeat=3):
            if "N" not in roles or ("O" in roles and old is None):
                continue
            delta += _tri_count(*(sides[r] for r in roles))

    batchstore.write(new, paths.edge_store, batch_id)
    batchstore.write(
        spark.createDataFrame(
            [(int(batch_id), n_new, delta)],
            "batch_id bigint, n_new_edges bigint, delta_triangles bigint",
        ).coalesce(1),
        paths.census_store,
        batch_id,
    )


def run_edge_stream(
    spark: SparkSession,
    src_dir: str,
    work_dir: str,
    max_files_per_trigger: "int | None" = 1,
    available_now: bool = True,
):
    """Tail a parquet dir of (u, v) edge rows into the edge store with
    per-trigger incremental triangle maintenance."""
    paths = EdgeStreamPaths(work_dir)
    return start_batches(
        parquet_stream(spark, src_dir, max_files_per_trigger),
        paths.checkpoint,
        lambda df, bid: process_edge_batch(df, bid, paths),
        available_now=available_now,
    )


def graph_census(spark: SparkSession, work_dir: str) -> DataFrame:
    """1-row (n_edges, n_triangles) folded from the committed stores —
    store-sized reads, never a graph rescan. The pytest audit pins this
    equal to queries/graph.triangle_count over the union of all committed
    edges."""
    paths = EdgeStreamPaths(work_dir)
    dirs = batchstore.committed(paths.census_store)
    if not dirs or not batchstore.committed(paths.edge_store):
        return spark.createDataFrame(
            [(0, 0)], "n_edges bigint, n_triangles bigint"
        )
    census = spark.read.parquet(*dirs)
    return census.agg(
        F.sum("n_new_edges").cast("bigint").alias("n_edges"),
        F.sum("delta_triangles").cast("bigint").alias("n_triangles"),
    )


def compact_edge_store(spark: SparkSession, work_dir: str, upto_batch: int) -> None:
    """Fold committed batch dirs (<= upto_batch) into one segment per store
    — the corpus stores' small-files discipline applied to the graph (probe
    cost tracks committed DIR COUNT, compaction is the dial that bounds
    it). Batch dirs hold disjoint new-edge sets, so the fold is a plain
    union."""
    paths = EdgeStreamPaths(work_dir)
    for root in (paths.edge_store, paths.census_store):
        batchstore.compact(spark, root, int(upto_batch))
