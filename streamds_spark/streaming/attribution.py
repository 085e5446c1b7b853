"""Continuous multi-touch attribution: the batch `attribution_multi_touch`
query (queries/analytics.py) run as a per-user state machine on the event
stream (applyInPandasWithState), emitting per-trigger credit DELTAS into
batch-keyed dirs, with a finalize-time rollup that equals the batch query
after draining the same events in time order.

Semantics: a user's click/view/signup touches accumulate in keyed state
(pruned to the 7-day attribution horizon, so state is bounded by the
user's weekly activity, never their lifetime); each purchase is attributed
AT ARRIVAL against the touches then in its window — first-touch, last-touch
(ties by event_id, exactly the batch query's rank order) and linear credit
in integer micro-units (1000000 div n_touches). When events arrive in
event-time order this equals the batch query's global join exactly; an
out-of-order touch arriving after its conversion misses that conversion
(first-qualifying-arrival, the same documented policy as the streaming
funnel and dedup twins).

Per-trigger output is a DELTA (credits for conversions attributed in that
batch) — integer-mergeable, so the finalize report is one bounded
groupBy-sum over the committed batch dirs, and a replayed batch overwrites
its own dir (exactly-once like every store in this repo).

Scale: state per user is its 7-day touch list + one long; the stateful
shuffle hash-partitions user_id across executors; per-trigger sink rows are
(users seen) x (<= 3 touch types); the finalize rollup reads only
credit-sized relations, never the event stream.
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
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from streamds_spark.io import batchstore
from streamds_spark.streaming.engine import parquet_stream, start_batches

TOUCH_TYPES = ("click", "view", "signup")
CONV_TYPE = "purchase"
WINDOW_US = 7 * 24 * 3600 * 1_000_000  # the 7-day attribution horizon
LINEAR_UNIT = 1_000_000

ATTR_OUTPUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("touch_type", StringType()),
        StructField("first_touch", LongType()),
        StructField("last_touch", LongType()),
        StructField("linear_micro", LongType()),
        StructField("n_touches", LongType()),
    ]
)
ATTR_STATE = StructType(
    [
        StructField("touch_ts", ArrayType(LongType())),
        StructField("touch_id", ArrayType(LongType())),
        StructField("touch_type", ArrayType(StringType())),
        StructField("max_ts", LongType()),
    ]
)


def _update_attribution(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    if state.exists:
        ts_l, id_l, ty_l, max_ts = state.get
        touches = [
            (int(t), int(i), y) for t, i, y in zip(ts_l, id_l, ty_l)
        ]
    else:
        touches, max_ts = [], 0
    rows = pd.concat(list(pdfs), ignore_index=True)
    rows = rows.sort_values(["ts_us", "event_id"])
    # batch touches are visible to every purchase in the SAME batch whose
    # conv_ts they qualify for — including equal-ts touches with a later
    # event_id (the batch query's join is on time, not arrival order)
    for t, i, y in zip(rows["ts_us"], rows["event_id"], rows["event_type"]):
        if y in TOUCH_TYPES:
            touches.append((int(t), int(i), y))
    credits: dict[str, list[int]] = {}  # type -> [first, last, micro, n]
    for t, i, y in zip(rows["ts_us"], rows["event_id"], rows["event_type"]):
        if y != CONV_TYPE:
            continue
        conv_ts = int(t)
        win = [
            x for x in touches if conv_ts - WINDOW_US < x[0] <= conv_ts
        ]
        if not win:
            continue
        n_total = len(win)
        first = min(win)  # (ts, event_id) — the batch query's rank order
        last = max(win)
        for x in win:
            c = credits.setdefault(x[2], [0, 0, 0, 0])
            c[2] += LINEAR_UNIT // n_total
            c[3] += 1
        credits.setdefault(first[2], [0, 0, 0, 0])[0] += 1
        credits.setdefault(last[2], [0, 0, 0, 0])[1] += 1
    if len(rows):
        max_ts = max(max_ts, int(rows["ts_us"].iloc[-1]))
    kept = [x for x in touches if x[0] > max_ts - WINDOW_US]
    state.update(
        (
            [x[0] for x in kept],
            [x[1] for x in kept],
            [x[2] for x in kept],
            max_ts,
        )
    )
    if credits:
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(credits),
                "touch_type": list(credits),
                "first_touch": [c[0] for c in credits.values()],
                "last_touch": [c[1] for c in credits.values()],
                "linear_micro": [c[2] for c in credits.values()],
                "n_touches": [c[3] for c in credits.values()],
            }
        )


def attribution_stream(events: DataFrame) -> DataFrame:
    """Unbounded events -> per-trigger attribution credit deltas."""
    prepared = events.select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "event_id",
    ).where(F.col("event_type").isin(CONV_TYPE, *TOUCH_TYPES))
    return prepared.groupBy("user_id").applyInPandasWithState(
        _update_attribution,
        outputStructType=ATTR_OUTPUT,
        stateStructType=ATTR_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_attribution_stream(
    spark: SparkSession,
    src_dir: str,
    work_dir: str,
    max_files_per_trigger: int | None = 1,
    available_now: bool = True,
) -> StreamingQuery:
    """Attribute continuously over a parquet events dir: per-trigger credit
    deltas land in `work_dir/credits/batch=N` (overwrite-idempotent), state
    checkpoint in `work_dir/checkpoint` — stop/restart resumes the touch
    state where it left off."""
    credits = os.path.join(work_dir, "credits")
    return start_batches(
        attribution_stream(parquet_stream(spark, src_dir, max_files_per_trigger)),
        os.path.join(work_dir, "checkpoint"),
        lambda batch_df, batch_id: batchstore.write(batch_df, credits, batch_id),
        output_mode="append",
        available_now=available_now,
    )


def attribution_report(spark: SparkSession, work_dir: str) -> DataFrame:
    """Finalize-time attribution census from the streamed deltas: sum the
    committed per-batch credit rows per touch type — the SAME columns as the
    batch `attribution_multi_touch` query, so after an in-order drain the
    two are row-identical (pinned by tests/test_attribution_stream.py)."""
    dirs = batchstore.committed(os.path.join(work_dir, "credits"))
    if not dirs:
        return spark.createDataFrame(
            [],
            "touch_type string, first_touch bigint, last_touch bigint, "
            "linear_micro bigint, n_touches bigint",
        )
    return (
        spark.read.parquet(*dirs)
        .groupBy("touch_type")
        .agg(
            F.sum("first_touch").cast("bigint").alias("first_touch"),
            F.sum("last_touch").cast("bigint").alias("last_touch"),
            F.sum("linear_micro").cast("bigint").alias("linear_micro"),
            F.sum("n_touches").cast("bigint").alias("n_touches"),
        )
        .orderBy("touch_type")
    )
