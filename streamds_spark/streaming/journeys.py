"""Continuous user-journey mining: the batch `top_user_journeys` query
(queries/advanced.py) run as a per-user sessionization state machine on the
event stream (applyInPandasWithState) — 30-minute-gap sessions, each
session's journey = its first JOURNEY_LEN event types joined with '>'.

Per-trigger output per user:
  * one CLOSED row per session whose gap elapsed inside the batch — an
    immutable delta (a closed session's journey never changes), and
  * exactly one OPEN row carrying the user's current in-progress session
    prefix — a cumulative snapshot superseded by the user's next batch.

The finalize report therefore counts closed rows from EVERY committed batch
plus the LATEST open row per user (max batch — a user always has exactly
one open session after any event), which equals the batch query's
every-session census after an in-order drain. Ties on ts across a trigger
boundary follow arrival order (the same first-qualifying-arrival caveat as
the funnel/attribution twins); within a batch the (ts, event_id) sort
matches the batch query's window order exactly.

Scale: state per user is (last_ts, a <= JOURNEY_LEN-type prefix string,
one long) — constant-size, the cheapest keyed state in the repo; sink rows
per trigger are (sessions closed) + (users seen); the finalize rollup
reads journey-sized relations, never the event stream.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from streamds_spark.io import batchstore
from streamds_spark.queries.advanced import (
    JOURNEY_LEN,
    JOURNEY_TOPK,
    SESSION_GAP_MIN,
)
from streamds_spark.streaming.engine import parquet_stream, start_batches

GAP_US = SESSION_GAP_MIN * 60 * 1_000_000

JOURNEY_OUTPUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("journey", StringType()),
        StructField("is_open", IntegerType()),
    ]
)
JOURNEY_STATE = StructType(
    [
        StructField("last_ts", LongType()),
        StructField("prefix", StringType()),
        StructField("n_in_prefix", LongType()),
    ]
)


def _update_journeys(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    last_ts, prefix, n_pre = state.get if state.exists else (0, "", 0)
    rows = pd.concat(list(pdfs), ignore_index=True)
    rows = rows.sort_values(["ts_us", "event_id"])
    closed: list[str] = []
    for t, y in zip(rows["ts_us"], rows["event_type"]):
        t = int(t)
        if n_pre == 0:  # very first event for this user
            prefix, n_pre = y, 1
        elif t - last_ts > GAP_US:  # gap elapsed: close, start fresh
            closed.append(prefix)
            prefix, n_pre = y, 1
        elif n_pre < JOURNEY_LEN:
            prefix, n_pre = prefix + ">" + y, n_pre + 1
        else:  # session continues past the journey prefix cap
            n_pre += 1
        last_ts = t
    state.update((last_ts, prefix, n_pre))
    out_j = closed + [prefix]
    yield pd.DataFrame(
        {
            "user_id": [key[0]] * len(out_j),
            "journey": out_j,
            "is_open": [0] * len(closed) + [1],
        }
    )


def journeys_stream(events: DataFrame) -> DataFrame:
    """Unbounded events -> per-trigger closed-session deltas + open-session
    snapshots (update mode: the open row supersedes per user)."""
    prepared = events.select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "event_id",
    )
    return prepared.groupBy("user_id").applyInPandasWithState(
        _update_journeys,
        outputStructType=JOURNEY_OUTPUT,
        stateStructType=JOURNEY_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_journeys_stream(
    spark: SparkSession,
    src_dir: str,
    work_dir: str,
    max_files_per_trigger: int | None = 1,
    available_now: bool = True,
) -> StreamingQuery:
    """Mine journeys continuously over a parquet events dir: per-trigger
    rows land in `work_dir/journeys/batch=N` (overwrite-idempotent), state
    checkpoint in `work_dir/checkpoint`."""
    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        batchstore.write(
            batch_df.withColumn("batch", F.lit(int(batch_id))),
            os.path.join(work_dir, "journeys"),
            batch_id,
        )

    return start_batches(
        journeys_stream(parquet_stream(spark, src_dir, max_files_per_trigger)),
        os.path.join(work_dir, "checkpoint"),
        _sink,
        output_mode="update",
        available_now=available_now,
    )


def journeys_report(
    spark: SparkSession, work_dir: str, topk: int = JOURNEY_TOPK
) -> DataFrame:
    """Finalize-time journey census: closed-session rows from every
    committed batch + the latest open-session row per user, counted per
    journey — the SAME columns and top-k rule as the batch
    `top_user_journeys` query, so after an in-order drain the two are
    row-identical (pinned by tests/test_journeys_stream.py)."""
    dirs = batchstore.committed(os.path.join(work_dir, "journeys"))
    if not dirs:
        return spark.createDataFrame([], "journey string, n_sessions bigint")
    rows = spark.read.parquet(*dirs)
    closed = rows.where("is_open = 0").select("journey")
    open_latest = (
        rows.where("is_open = 1")
        .groupBy("user_id")
        .agg(F.expr("max_by(journey, batch)").alias("journey"))
        .select("journey")
    )
    return (
        closed.unionByName(open_latest)
        .groupBy("journey")
        .agg(F.count("*").cast("bigint").alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), "journey")
        .limit(topk)
    )
