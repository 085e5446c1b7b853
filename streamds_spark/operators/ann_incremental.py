"""Incrementally-maintained ANN index: the persisted LSH index
(operators/ann.py) kept fresh by a STREAM of embeddings, batch by batch,
with the same replay-safe store discipline as the corpus ingest stores
(streaming/llm_pipeline.py).

Layout — batch-major so replays stay idempotent, bucket-minor so probes
still prune:

    path/batch=N/bucket=B/*.parquet     one dir per micro-batch (overwrite
                                        by batchId; _SUCCESS = committed),
                                        hyperplane-bucket partitioned inside
    path/segment=H/bucket=B/*.parquet   compaction: batches 0..H folded
    path._meta.json                     n_planes + dim, written on first
                                        append, validated on every later one

A probe computes its bucket ids DRIVER-side (the hyperplanes are
deterministic) and reads only the matching bucket=B directories of each
committed batch/segment dir — the same static PartitionFilters pruning as
the one-shot index, now over a growing store. Because bucketing is a pure
function of the vector, the incremental index holds EXACTLY the rows a
one-shot `build_ann_index` over the union would hold, so probes agree
row-for-row (pinned by tests/test_ann_incremental.py).

At 100 TB: each trigger appends one scan→write pass of its batch (no
shuffle, no read-modify-write of the existing index); probes touch
(1 + n_flip) of 2^n_planes bucket dirs per batch dir, and compaction bounds
the dir count exactly like the corpus stores' small-files wall."""

from __future__ import annotations

import json as _json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from streamds_spark.functions.vectors import as_double, cosine, hyperplanes, lsh_bucket_col
from streamds_spark.io import batchstore
from streamds_spark.operators.ann import (
    DEFAULT_N_PLANES,
    index_meta_path,
    load_index_meta,
    probe_buckets,
)
from streamds_spark.streaming.engine import parquet_stream, start_batches


def ann_index_append(
    emb: DataFrame,
    path: str,
    batch_id: int,
    n_planes: int = DEFAULT_N_PLANES,
    vec_col: str = "embedding",
) -> None:
    """Append one micro-batch to the incremental index (idempotent: a
    replayed batch overwrites its own dir). First append writes the meta
    sidecar; later appends must match its n_planes/dim — a silently changed
    hyperplane basis would split identical vectors across buckets."""
    first = emb.select(vec_col).first()
    if first is None:
        # empty micro-batch (normal in a stream): nothing to place, but the
        # batch still COMMITS (its dir + _SUCCESS) so a replay is a no-op
        if not os.path.exists(index_meta_path(path)):
            raise ValueError(
                f"cannot initialize index {path!r} from an empty first batch "
                "(vector dim unknown)"
            )
        dim = load_index_meta(path)["dim"]
    else:
        dim = len(first[0])
    if os.path.exists(index_meta_path(path)):
        meta = load_index_meta(path)
        if meta["n_planes"] != n_planes or meta["dim"] != dim:
            raise ValueError(
                f"index at {path!r} was built with n_planes={meta['n_planes']} "
                f"dim={meta['dim']}; got n_planes={n_planes} dim={dim}"
            )
    else:
        os.makedirs(path, exist_ok=True)
        with open(index_meta_path(path), "w") as f:
            _json.dump({"n_planes": n_planes, "dim": dim}, f)
    planes = hyperplanes(n_planes, dim)
    batchstore.write(
        emb.withColumn("v", as_double(F.col(vec_col)))
        .withColumn("bucket", lsh_bucket_col(F.col("v"), planes))
        .drop(vec_col),
        path,
        batch_id,
        partition_by="bucket",
    )


def delete_vectors(
    spark: SparkSession, path: str, vec_ids, quiesced: bool = False
) -> str:
    """Takedown for the incremental vector stores (hyperplane AND IVF — the
    layout is shared): tombstone `vec_ids` (io/tombstones.py). Probes
    anti-join the tombstoned ids from the moment the tombstone commits; the
    next compaction folds them physically and reclaims the tombstone one
    pass later. fold_after is the first replayable batch (max committed
    + 1): a replay can rewrite the newest dir with pre-delete rows, so the
    tombstone outlives it until a fold covers that batch too; quiesced=True
    asserts no writer stream exists (batch-built index), letting the next
    fold reclaim immediately."""
    from streamds_spark.io import tombstones

    latest = batchstore.latest(path)
    fold_after = (-1 if latest is None else batchstore.parse(latest)[1]) + (
        0 if quiesced else 1
    )
    return tombstones.add(
        spark, path, "vec_id", vec_ids, fold_after=fold_after
    )


def _apply_tombstones(df: DataFrame, path: str) -> DataFrame:
    from streamds_spark.io import tombstones

    return tombstones.apply(df, path)


def ann_index_probe(
    spark: SparkSession,
    path: str,
    qvec: list[float],
    k: int = 10,
    n_flip_bits: int = 0,
) -> DataFrame:
    """Top-k by cosine over every committed batch/segment, reading ONLY the
    probe's bucket partitions of each (driver-side bucket ids -> partition
    pruning per dir), minus any tombstoned ids (delete_vectors) — the
    anti-join runs on the PRUNED subset, so takedown costs nothing at probe
    time beyond a broadcast of the tombstone keys."""
    meta = load_index_meta(path)
    if len(qvec) != meta["dim"]:
        raise ValueError(f"vector dim {len(qvec)} != index dim {meta['dim']}")
    buckets = probe_buckets(qvec, meta["n_planes"], n_flip_bits)
    idx_all = batchstore.read_partitioned(spark, batchstore.committed(path))
    if idx_all is None:
        return spark.createDataFrame([], "vec_id bigint, label int, cos_sim double")
    q = F.array(*[F.lit(float(x)) for x in qvec])
    idx = _apply_tombstones(idx_all.filter(F.col("bucket").isin(buckets)), path)
    return (
        idx.select(
            "vec_id", "label", F.round(cosine(F.col("v"), q), 4).alias("cos_sim")
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(k)
    )


def compact_ann_index(spark: SparkSession, path: str) -> int:
    """Fold every committed batch dir (plus the previous segment) into one
    new segment, bucket partitioning preserved — the small-files
    maintenance pass (io/batchstore.compact). Returns the number of batch
    dirs folded."""
    return batchstore.compact(spark, path, partition_by="bucket")


def run_embedding_index_stream(
    spark: SparkSession,
    src_dir: str,
    index_path: str,
    checkpoint: str,
    n_planes: int = DEFAULT_N_PLANES,
    vec_col: str = "embedding",
    max_files_per_trigger: int | None = 1,
    available_now: bool = True,
) -> StreamingQuery:
    """Maintain the index from a parquet embedding stream: readStream ->
    per-batch ann_index_append under the checkpoint's exactly-once replay
    discipline (a redelivered batch rewrites its own dir)."""
    return start_batches(
        parquet_stream(spark, src_dir, max_files_per_trigger),
        checkpoint,
        lambda df, bid: ann_index_append(
            df, index_path, bid, n_planes=n_planes, vec_col=vec_col
        ),
        available_now=available_now,
    )
