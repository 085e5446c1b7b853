"""Continuous funnel tracking: the batch `funnel_conversion` query's
view -> click -> purchase staging run as a per-user STATE MACHINE on the
event stream (applyInPandasWithState), with batch-keyed snapshot sinks and a
finalize-time report that equals the batch query after draining the same
events in time order.

Semantics: first-arrival staging — a user's view stage locks to the first
view processed, click to the first later click, purchase to the first later
purchase. When events arrive in event-time order (the test harness's setup,
and the natural production posture for an append-only event log) this equals
the batch query's min-timestamp staging exactly; out-of-order arrival keeps
the first QUALIFYING arrival, the same policy as the streaming dedup twin
(streaming/llm_pipeline.py module docstring).

Scale: state is three longs per live user, hash-partitioned by user_id
across executors — the canonical keyed-state shape; per-trigger output is
one snapshot row per user SEEN in that batch, written to an idempotent
batch=N dir (a replayed batch overwrites its own dir, exactly-once like
every other store in this repo).
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import LongType, StructField, StructType

from streamds_spark.io import batchstore
from streamds_spark.streaming.engine import parquet_stream, start_batches

FUNNEL_OUTPUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("t_view", LongType()),
        StructField("t_click", LongType()),
        StructField("t_purchase", LongType()),
    ]
)
FUNNEL_STATE = StructType(
    [
        StructField("t_view", LongType()),
        StructField("t_click", LongType()),
        StructField("t_purchase", LongType()),
    ]
)


def _update_funnel(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    tv, tc, tp = state.get if state.exists else (0, 0, 0)
    rows = pd.concat(list(pdfs), ignore_index=True)
    # deterministic within-batch order: event time, then event id
    rows = rows.sort_values(["ts_us", "event_id"])
    for typ, ts in zip(rows["event_type"], rows["ts_us"]):
        ts = int(ts)
        if typ == "view" and tv == 0:
            tv = ts
        elif typ == "click" and tc == 0 and tv and ts > tv:
            tc = ts
        elif typ == "purchase" and tp == 0 and tc and ts > tc:
            tp = ts
    state.update((tv, tc, tp))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "t_view": [tv],
            "t_click": [tc],
            "t_purchase": [tp],
        }
    )


def funnel_stage_stream(events: DataFrame) -> DataFrame:
    """Unbounded events -> per-user funnel-stage snapshots (update mode)."""
    prepared = events.select(
        "user_id",
        "event_type",
        # raw parquet events carry TIMESTAMP_NTZ; the cast is a fixed offset
        # (session tz), so within-user ORDER — all the state machine uses —
        # is unchanged
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "event_id",
    )
    return prepared.groupBy("user_id").applyInPandasWithState(
        _update_funnel,
        outputStructType=FUNNEL_OUTPUT,
        stateStructType=FUNNEL_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_funnel_stream(
    spark: SparkSession,
    src_dir: str,
    work_dir: str,
    max_files_per_trigger: int | None = 1,
    available_now: bool = True,
) -> StreamingQuery:
    """Track the funnel continuously over a parquet events dir: per-trigger
    snapshots land in `work_dir/stages/batch=N` (overwrite-idempotent), the
    state checkpoint in `work_dir/checkpoint` — stop/restart resumes the
    state machine where it left off."""
    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        batchstore.write(
            batch_df.withColumn("batch", F.lit(int(batch_id))),
            os.path.join(work_dir, "stages"),
            batch_id,
        )

    return start_batches(
        funnel_stage_stream(parquet_stream(spark, src_dir, max_files_per_trigger)),
        os.path.join(work_dir, "checkpoint"),
        _sink,
        output_mode="update",
        available_now=available_now,
    )


def funnel_state_report(spark: SparkSession, work_dir: str) -> DataFrame:
    """Finalize-time funnel census from the streamed snapshots: latest
    snapshot per user (max batch id — snapshots are cumulative), then the
    SAME census columns as the batch `funnel_conversion` query, so after an
    in-order drain the two are row-identical (pinned by
    tests/test_funnel_stream.py).

    Plan: committed batch dirs only (torn/replaying dirs invisible), one
    user-keyed max_by, 1-row census arithmetic."""
    dirs = batchstore.committed(os.path.join(work_dir, "stages"))
    if not dirs:
        return spark.createDataFrame(
            [],
            "n_users bigint, n_viewed bigint, n_clicked bigint, "
            "n_purchased bigint, view_to_click double, "
            "click_to_purchase double, overall_conversion double",
        )
    snaps = spark.read.parquet(*dirs)
    latest = snaps.groupBy("user_id").agg(
        F.expr("max_by(struct(t_view, t_click, t_purchase), batch)").alias("s")
    )
    counts = latest.agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum((F.col("s.t_view") > 0).cast("long")).cast("bigint").alias("n_viewed"),
        F.sum((F.col("s.t_click") > 0).cast("long")).cast("bigint").alias("n_clicked"),
        F.sum((F.col("s.t_purchase") > 0).cast("long"))
        .cast("bigint")
        .alias("n_purchased"),
    )

    def rate(num, den):
        return (
            F.round(num.cast("double") / F.nullif(den.cast("double"), F.lit(0.0)), 4)
            + F.lit(0.0)
        )

    return counts.select(
        "n_users",
        "n_viewed",
        "n_clicked",
        "n_purchased",
        rate(F.col("n_clicked"), F.col("n_viewed")).alias("view_to_click"),
        rate(F.col("n_purchased"), F.col("n_clicked")).alias("click_to_purchase"),
        rate(F.col("n_purchased"), F.col("n_viewed")).alias("overall_conversion"),
    )
