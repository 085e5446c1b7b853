"""Structured Streaming engine — the reference's RainStorm runtime semantics on
Spark's checkpointed micro-batch machinery.

Reference machinery → here (SURVEY.md §2.9):
  ST1 count-based batching (300/250 tuples)  → maxFilesPerTrigger / trigger interval
  ST2 ack+WAL at-least-once                  → checkpointed offsets (free)
  ST3 tuple-ID dedup for exactly-once        → checkpoint + idempotent batchId sink;
                                               explicit dropDuplicates for re-delivering sources
  ST5 *COMPLETED* sentinel drain             → trigger(availableNow=True)
  ST6/ST7 pause/replay/state rebuild         → state-store recovery on restart (free)
  S6 append-buffer HyDFS sink                → foreachBatch idempotent parquet (batchId dir)
  S7 leader console relay                    → console/memory sink, update mode

The stateful stage-2 count (A1, full-map re-emit per input) is exactly
outputMode("complete"|"update") on groupBy().count() — SURVEY.md §7.4 item 4.

Scale: state lives in the executor state stores partitioned by the group key —
the hash-shuffle the reference hand-rolled (ST4) is the exchange in front of the
stateful agg. Its partition count is the session's shuffle width (the slot
count, session.py) at the first batch, frozen in the checkpoint: AQE never
coalesces it, and a restart at another width keeps the checkpoint's. Late
data / event-time (absent in the reference) is available via
windowed_counts(watermark=...).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from streamds_spark.io import batchstore
from streamds_spark.operators.rainstorm import STAGE1_OPS, STAGE2_OPS, RainStormJob


def stream_text_source(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int | None = 1
) -> DataFrame:
    """Rate-controlled streaming text source (ST1 parity: files-per-trigger is
    the count-based batch knob). Key = source file name; the reference's
    per-line keys exist for its hand-rolled dedup, which the checkpoint
    subsumes — documented divergence."""
    reader = spark.readStream.format("text")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(input_dir).select(
        F.element_at(F.split(F.input_file_name(), "/"), -1).alias("key"),
        F.col("value"),
    )


def compile_rainstorm_stream(
    spark: SparkSession, job: RainStormJob, max_files_per_trigger: int | None = 1
) -> DataFrame:
    """The RainStorm 3-stage chain as an unbounded DataFrame."""
    src = stream_text_source(spark, job.src, max_files_per_trigger)
    stage1 = STAGE1_OPS[job.op1](src, job.op1_param)
    return STAGE2_OPS[job.op2](stage1, job.op2_param)


def foreach_batch_parquet(dest: str) -> Callable[[DataFrame, int], None]:
    """Idempotent sink: each micro-batch (over)writes its own batch store dir
    (io/batchstore.py), so a replayed batch lands in the same place — the
    exactly-once story the reference built from acks + seen-maps (ST2/ST3).
    Readers take the latest state via `read_latest_batch`."""
    return lambda batch_df, batch_id: batchstore.write(batch_df, dest, batch_id)


def foreach_batch_appendlog(dest: str, client_id: str) -> Callable[[DataFrame, int], None]:
    """Streaming sink into the append-log store — the reference shape exactly:
    RainStorm's stage-3 wrote its output as HyDFS appends (S6). Exactly-once
    comes from appendlog.append_batch's deterministic per-batch chunk dir
    (replayed batch = same dir overwritten) + readers gating on _SUCCESS;
    per-client order is the batch order (_seq = batchId), so
    appendlog.read_ordered reproduces emission order after any number of
    crashes and restarts."""
    from streamds_spark.io import appendlog

    def write(batch_df: DataFrame, batch_id: int) -> None:
        appendlog.append_batch(batch_df, dest, client_id, batch_id)

    return write


def read_latest_batch(spark: SparkSession, dest: str) -> DataFrame:
    """Read the newest COMMITTED batch store dir — the 'last buffer per task
    wins' semantics of the reference's quantify (S8) without its merge dance.
    A writer killed mid-batch leaves a torn dir that readers never observe
    (the torn-write case the reference handled with BUFFER START/END)."""
    latest = batchstore.latest(dest)
    if latest is None:
        raise FileNotFoundError(f"no committed batch dirs under {dest}")
    return spark.read.parquet(latest)


def parquet_stream(
    spark: SparkSession, src_dir: str, max_files_per_trigger: int | None
) -> DataFrame:
    """Stream a parquet dir with the schema of the files already there;
    files-per-trigger is the count-based batch knob (ST1)."""
    reader = spark.readStream.schema(spark.read.parquet(src_dir).schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(src_dir)


def start_batches(
    df: DataFrame,
    checkpoint: str,
    sink: Callable[[DataFrame, int], None],
    *,
    output_mode: str | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """Start `df` into a foreachBatch sink under `checkpoint`.
    available_now=True drains all current input and stops (the *COMPLETED*
    sentinel protocol, ST5); False keeps tailing the source."""
    writer = df.writeStream.option("checkpointLocation", checkpoint)
    if output_mode is not None:
        writer = writer.outputMode(output_mode)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.foreachBatch(sink).start()


def run_rainstorm_stream(
    spark: SparkSession,
    job: RainStormJob,
    checkpoint_dir: str,
    dest_dir: str | None = None,
    output_mode: str = "complete",
    available_now: bool = True,
    max_files_per_trigger: int | None = 1,
) -> StreamingQuery:
    """Launch the streaming job into `dest_dir`'s batch store, or print
    each batch when dest_dir is None."""

    def console(batch_df: DataFrame, batch_id: int) -> None:
        print(f"Batch: {batch_id}")
        batch_df.show()

    return start_batches(
        compile_rainstorm_stream(spark, job, max_files_per_trigger),
        checkpoint_dir,
        console if dest_dir is None else foreach_batch_parquet(dest_dir),
        output_mode=output_mode,
        available_now=available_now,
    )


def windowed_counts(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "10 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Event-time tumbling-window counts with late-data handling — capability
    beyond the reference (it has no notion of time; SURVEY.md §2.9 ST10)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("win"), F.col(key_col))
        .agg(F.count("*").alias("cnt"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            key_col,
            "cnt",
        )
    )


def session_windowed_counts(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    gap: str = "30 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Event-time SESSION windows (gap-based) with late-data handling — the
    streaming twin of the batch `sessionize_events` query (ST10+; the
    reference has no notion of time at all).

    In append output mode a session is emitted exactly once, when the
    watermark passes its end; the state store holds only open sessions, keyed
    by (key, session) — state is bounded by active users × open sessions, and
    the shuffle key is the group key, same as the batch twin.
    """
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("win"), F.col(key_col))
        .agg(F.count("*").alias("n_events"))
        .select(
            key_col,
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n_events",
        )
    )


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    l_ts: str,
    r_ts: str,
    max_delay: str = "1 hour",
    watermark: str = "1 hour",
) -> DataFrame:
    """Watermarked stream-STREAM inner join on `key` with a time-interval
    bound: right events within [l_ts, l_ts + max_delay] of a left event —
    the click→purchase attribution shape, and the last Structured Streaming
    join surface (stream-static joins live in the corpus pipeline; this is
    the two-unbounded-sides case the reference's RainStorm could never
    express).

    State-boundedness is the whole design: BOTH sides are watermarked and
    the join condition bounds r_ts relative to l_ts, so Spark derives a
    state-eviction horizon for each side — buffered rows are dropped once
    the other stream's watermark passes their join window, keeping the state
    store proportional to (event rate × max_delay), not to stream history.
    An unbounded-condition stream-stream join would accumulate state
    forever; this API makes the bound mandatory.

    Column contract: left/right must be disjoint except `key` (returned
    once, from the left side). Inner-join matches emit immediately (the
    watermark only gates state eviction, not emission)."""
    clash = (set(left.columns) & set(right.columns)) - {key}
    if clash:
        raise ValueError(
            f"left/right share non-key columns {sorted(clash)}; rename before joining"
        )
    # max_delay is interpolated into F.expr — validate the `<number> <unit>`
    # shape up front so a malformed string fails HERE with a clear message
    # instead of as an opaque plan-time AnalysisException (and an expression
    # can never ride in through the f-string)
    import re as _re

    if not _re.fullmatch(
        r"\d+\s+(?:microsecond|millisecond|second|minute|hour|day|week)s?",
        max_delay.strip(),
        _re.IGNORECASE,
    ):
        raise ValueError(
            f"max_delay must look like '<number> <unit>' (e.g. '1 hour', "
            f"'90 seconds'), got {max_delay!r}"
        )
    l = left.withWatermark(l_ts, watermark).alias("l")
    r = right.withWatermark(r_ts, watermark).alias("r")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col(f"r.{r_ts}") >= F.col(f"l.{l_ts}"))
        & (
            F.col(f"r.{r_ts}")
            <= F.col(f"l.{l_ts}") + F.expr(f"interval {max_delay}")
        )
    )
    out = [F.col(f"l.{c}") for c in left.columns] + [
        F.col(f"r.{c}") for c in right.columns if c != key
    ]
    return l.join(r, cond).select(*out)


def streaming_dedup(
    events: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Exactly-once-per-key emission over a stream with BOUNDED state
    (dropDuplicatesWithinWatermark): a key's dedup state is evicted once the
    event-time watermark passes its last-seen timestamp + the watermark delay,
    so state size tracks the number of DISTINCT keys inside one watermark
    horizon — never the stream's lifetime key count. This is the 100 TB
    at-least-once-ingest → effectively-once-downstream shim: upstream
    redeliveries (retries, producer replays) land within the horizon and
    are absorbed; a duplicate arriving LATER than the horizon re-emits, by
    contract — callers that need lifetime exactness keep the appendlog's
    idempotent batch manifests instead (ST3), which dedup by identity, not
    by time.

    Contrast with plain ``dropDuplicates(keys)`` on a stream: that keeps
    every key forever (state grows without bound) — the classic streaming
    scale-killer this wrapper exists to avoid.

    Batch twin for stream==batch tests: ``dropDuplicates(keys)`` — equal
    whenever no duplicate straddles a watermark eviction.
    """
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        keys
    )

