"""Structured Streaming parity: rate-controlled batches, update/complete-mode
stateful counts, idempotent sink, and the kill-and-restart exactly-once test
(the reference's dokill fault-injection, core_process_stream_DS.go:1706-1736:
final output after failure must equal the no-failure output)."""

from __future__ import annotations

import os
from collections import Counter

import pytest

from streamds_spark.operators.rainstorm import RainStormJob
from streamds_spark.streaming.engine import (
    read_latest_batch,
    run_rainstorm_stream,
    stream_text_source,
    windowed_counts,
)

WORDS = ["alpha", "beta", "gamma", "delta"]


def _write_chunks(d: str, n_chunks: int = 6, lines_per_chunk: int = 50) -> Counter:
    """Chunked input files (FIXTURES.md §6 arrival fixture); returns golden counts."""
    os.makedirs(d, exist_ok=True)
    golden: Counter = Counter()
    for c in range(n_chunks):
        lines = []
        for i in range(lines_per_chunk):
            w = WORDS[(c + i) % len(WORDS)]
            lines.append(f"{w} {WORDS[(i * 7 + c) % len(WORDS)]}")
            golden[w] += 1
            golden[WORDS[(i * 7 + c) % len(WORDS)]] += 1
        with open(os.path.join(d, f"chunk_{c:03d}.txt"), "w") as f:
            f.write("\n".join(lines) + "\n")
    return golden


def _copy_chunks(src: str, dst: str, chunks: range) -> None:
    """Make chunks of src arrive in dst (the input a stream tails)."""
    os.makedirs(dst, exist_ok=True)
    for c in chunks:
        name = f"chunk_{c:03d}.txt"
        with open(os.path.join(src, name)) as fin, open(os.path.join(dst, name), "w") as fout:
            fout.write(fin.read())


def test_streaming_wordcount_complete_mode(spark, tmp_path):
    src = str(tmp_path / "in")
    golden = _write_chunks(src)
    job = RainStormJob("split_operator", "", "count_operator", "", src)
    q = run_rainstorm_stream(
        spark,
        job,
        checkpoint_dir=str(tmp_path / "ckpt"),
        dest_dir=str(tmp_path / "out"),
        output_mode="complete",
        available_now=True,
        max_files_per_trigger=2,
    )
    q.awaitTermination(120)
    final = read_latest_batch(spark, str(tmp_path / "out"))
    got = {r["word"]: r["count"] for r in final.collect()}
    assert got == dict(golden)


def test_streaming_restart_recovers_state(spark, tmp_path):
    """Kill mid-stream, restart from the same checkpoint, verify the final
    counts equal the batch answer — ST6/ST7 parity (checkpointed state store
    replaces the reference's buffer replay + PopulateStatefulOperatorFile)."""
    src = str(tmp_path / "in")
    half = str(tmp_path / "in_half")
    golden = _write_chunks(src, n_chunks=6)
    # phase 1: only half the chunks exist; stream drains and stops
    _copy_chunks(src, half, range(3))
    job = RainStormJob("split_operator", "", "count_operator", "", half)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    q1 = run_rainstorm_stream(spark, job, ckpt, out, available_now=True, max_files_per_trigger=1)
    q1.awaitTermination(120)
    partial = {r["word"]: r["count"] for r in read_latest_batch(spark, out).collect()}
    assert sum(partial.values()) == 3 * 50 * 2
    # phase 2: the rest arrives; restart from the SAME checkpoint
    _copy_chunks(src, half, range(3, 6))
    q2 = run_rainstorm_stream(spark, job, ckpt, out, available_now=True, max_files_per_trigger=1)
    q2.awaitTermination(120)
    final = {r["word"]: r["count"] for r in read_latest_batch(spark, out).collect()}
    assert final == dict(golden)


def test_restart_at_other_shuffle_width_keeps_state_partitions(spark, tmp_path):
    """The session's shuffle width follows the executor slot count, so a
    checkpoint written on one box (or before the width changed) can be
    resumed by a session of another width. The stateful count's partition
    count is frozen in the checkpoint: the restart must keep the first
    run's state partitions and still reach the golden counts."""
    src = str(tmp_path / "in")
    half = str(tmp_path / "in_half")
    golden = _write_chunks(src, n_chunks=6)
    _copy_chunks(src, half, range(3))
    job = RainStormJob("split_operator", "", "count_operator", "", half)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(key)

    def drain(width: int) -> int:
        spark.conf.set(key, str(width))
        q = run_rainstorm_stream(spark, job, ckpt, out, available_now=True)
        assert q.awaitTermination(120)
        assert q.exception() is None
        return q.lastProgress["stateOperators"][0]["numShufflePartitions"]

    try:
        assert drain(3) == 3
        partial = {r["word"]: r["count"] for r in read_latest_batch(spark, out).collect()}
        assert sum(partial.values()) == 3 * 50 * 2
        _copy_chunks(src, half, range(3, 6))
        assert drain(5) == 3
    finally:
        spark.conf.set(key, saved)
    final = {r["word"]: r["count"] for r in read_latest_batch(spark, out).collect()}
    assert final == dict(golden)


def test_streaming_replayed_batch_is_idempotent(spark, tmp_path):
    """Re-running an already-drained stream must not change the sink (the
    exactly-once guarantee the reference built with seen-maps, ST3)."""
    src = str(tmp_path / "in")
    golden = _write_chunks(src, n_chunks=4)
    job = RainStormJob("split_operator", "", "count_operator", "", src)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    for _ in range(2):  # second run finds no new data; sink must be unchanged
        q = run_rainstorm_stream(spark, job, ckpt, out, available_now=True)
        q.awaitTermination(120)
        got = {r["word"]: r["count"] for r in read_latest_batch(spark, out).collect()}
        assert got == dict(golden)


def test_streaming_filter_project_pipeline(spark, tmp_path):
    """Stateless stage-2 (project/collect) in streaming append mode."""
    src = str(tmp_path / "in")
    os.makedirs(src)
    with open(os.path.join(src, "a.txt"), "w") as f:
        f.write("keep this line\ndrop that line\nkeep me too\n")
    job = RainStormJob("grep_filter", "^keep", "identity", "", src)
    q = run_rainstorm_stream(
        spark, job, str(tmp_path / "ckpt"), str(tmp_path / "out"),
        output_mode="append", available_now=True,
    )
    q.awaitTermination(120)
    import glob

    batches = sorted(glob.glob(str(tmp_path / "out" / "batch=*")))
    dfs = [spark.read.parquet(b) for b in batches]
    rows = [r["value"] for df in dfs for r in df.collect()]
    assert sorted(rows) == ["keep me too", "keep this line"]


def test_windowed_counts_with_watermark(spark, tmp_path):
    """Event-time windows + watermark (beyond-reference capability, ST10):
    batch-mode sanity of the same plan shape."""
    from pyspark.sql import functions as F

    events = spark.createDataFrame(
        [("2024-01-01 00:01:00", "a"), ("2024-01-01 00:04:00", "a"), ("2024-01-01 00:11:00", "b")],
        ["ts_s", "event_type"],
    ).select(F.col("ts_s").cast("timestamp").alias("ts"), "event_type")
    out = windowed_counts(events, window="10 minutes", watermark="10 minutes")
    got = {(str(r["window_start"]), r["event_type"]): r["cnt"] for r in out.collect()}
    assert got == {
        ("2024-01-01 00:00:00", "a"): 2,
        ("2024-01-01 00:10:00", "b"): 1,
    }


def test_stream_static_join(spark, tmp_path):
    """Stream-static join: a streaming fact enriched by a static dim (the
    broadcast-dim pattern in streaming form)."""
    import os
    from pyspark.sql import functions as F

    src = str(tmp_path / "in")
    os.makedirs(src)
    with open(os.path.join(src, "a.txt"), "w") as f:
        f.write("1 click\n2 view\n1 view\n9 click\n")
    dim = spark.createDataFrame([(1, "alice"), (2, "bob")], ["uid", "name"])
    stream = (
        spark.readStream.format("text").load(src)
        .select(F.split("value", " ").alias("p"))
        .select(F.col("p").getItem(0).cast("int").alias("uid"), F.col("p").getItem(1).alias("etype"))
    )
    joined = stream.join(F.broadcast(dim), "uid")  # inner: unknown uid 9 drops
    rows = []
    q = (
        joined.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .foreachBatch(lambda df, bid: rows.extend(df.collect()))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted((r["uid"], r["etype"], r["name"]) for r in rows)
    assert got == [(1, "click", "alice"), (1, "view", "alice"), (2, "view", "bob")]


def test_stream_dedup_by_event_id(spark, tmp_path):
    """Exactly-once for re-delivering sources: duplicate event ids dropped by
    dropDuplicates (the explicit-tuple-ID path of ST3, for sources without
    replay determinism)."""
    import os
    from pyspark.sql import functions as F

    src = str(tmp_path / "in")
    os.makedirs(src)
    # event 2 delivered twice within a file, event 1 re-delivered across files
    with open(os.path.join(src, "a.txt"), "w") as f:
        f.write("1 click\n2 view\n2 view\n")
    with open(os.path.join(src, "b.txt"), "w") as f:
        f.write("1 click\n3 buy\n")
    stream = (
        spark.readStream.format("text").option("maxFilesPerTrigger", 1).load(src)
        .select(F.split("value", " ").alias("p"))
        .select(F.col("p").getItem(0).alias("event_id"), F.col("p").getItem(1).alias("etype"))
        .dropDuplicates(["event_id"])
    )
    rows = []
    q = (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .foreachBatch(lambda df, bid: rows.extend(df.collect()))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted((r["event_id"], r["etype"]) for r in rows)
    assert got == [("1", "click"), ("2", "view"), ("3", "buy")]


def test_stream_stream_join_with_watermarks(spark, tmp_path):
    """Stream-stream inner join with watermarks + time-bound condition —
    the two-input streaming operator class the reference lacks entirely."""
    import os
    from pyspark.sql import functions as F

    clicks_dir = str(tmp_path / "clicks")
    buys_dir = str(tmp_path / "buys")
    os.makedirs(clicks_dir)
    os.makedirs(buys_dir)
    with open(os.path.join(clicks_dir, "c.txt"), "w") as f:
        f.write("1 2024-01-01T00:00:00\n2 2024-01-01T01:00:00\n")
    with open(os.path.join(buys_dir, "b.txt"), "w") as f:
        # user 1 buys 10 min after click (joins); user 2 buys 3h later (outside bound)
        f.write("1 2024-01-01T00:10:00\n2 2024-01-01T04:00:00\n")

    def load(d, ts_name):
        return (
            spark.readStream.format("text").load(d)
            .select(F.split("value", " ").alias("p"))
            .select(
                F.col("p").getItem(0).cast("int").alias("uid"),
                F.col("p").getItem(1).cast("timestamp").alias(ts_name),
            )
            .withWatermark(ts_name, "1 hour")
        )

    clicks = load(clicks_dir, "click_ts")
    buys = load(buys_dir, "buy_ts")
    joined = clicks.join(
        buys,
        (clicks.uid == buys.uid)
        & (buys.buy_ts >= clicks.click_ts)
        & (buys.buy_ts <= clicks.click_ts + F.expr("INTERVAL 1 HOUR")),
    ).select(clicks.uid, "click_ts", "buy_ts")
    rows = []
    q = (
        joined.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .foreachBatch(lambda df, bid: rows.extend(df.collect()))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert [(r["uid"]) for r in rows] == [1]


def test_native_session_window_streaming(spark, tmp_path):
    """session_windowed_counts in streaming (gap-based sessions with state
    store management — the engine-level twin of the batch sessionize_events)."""
    import os
    from pyspark.sql import functions as F

    from streamds_spark.streaming.engine import session_windowed_counts

    src = str(tmp_path / "in")
    os.makedirs(src)
    with open(os.path.join(src, "a.txt"), "w") as f:
        f.write(
            "7 2024-01-01T00:00:00\n"
            "7 2024-01-01T00:10:00\n"   # same session (10 min gap < 30)
            "7 2024-01-01T02:00:00\n"   # new session
            "99 2024-01-01T04:00:00\n"  # flush: advances watermark past 02:30
        )
    events = (
        spark.readStream.format("text").load(src)
        .select(F.split("value", " ").alias("p"))
        .select(
            F.col("p").getItem(0).cast("int").alias("uid"),
            F.col("p").getItem(1).cast("timestamp").alias("ts"),
        )
    )
    stream = session_windowed_counts(
        events, ts_col="ts", key_col="uid", gap="30 minutes", watermark="10 minutes"
    )
    rows = []
    q = (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .foreachBatch(lambda df, bid: rows.extend(df.collect()))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # append mode emits a session only once the watermark passes its end;
    # uid 99's own session stays open and unemitted — that's the semantics.
    got = sorted(
        (r["uid"], str(r["session_start"]), r["n_events"]) for r in rows if r["uid"] == 7
    )
    assert got == [
        (7, "2024-01-01 00:00:00", 2),
        (7, "2024-01-01 02:00:00", 1),
    ]


def test_streaming_equals_batch_on_events_table(spark, tmp_path):
    """End-to-end consistency: streaming over the real events table (parquet
    source, availableNow) must produce exactly the batch aggregation result —
    the strongest form of the reference's 'streaming equals the batch answer'
    contract."""
    from pyspark.sql import functions as F
    from streamds_spark.catalog import load_table, normalize_events_ts

    sf = "/root/testdata/sf0.001"
    batch = load_table(spark, sf, "events")
    expected = {
        (r["event_type"], str(r["hour"])): (r["cnt"], r["sv"])
        for r in batch.withColumn("hour", F.date_trunc("hour", "ts"))
        .groupBy("event_type", "hour")
        .agg(F.count("*").alias("cnt"), F.round(F.sum("value"), 4).alias("sv"))
        .collect()
    }
    # stream the same parquet data (source must be a DIRECTORY). The stream
    # schema comes from a batch read of the same file and the ts column goes
    # through the catalog's normalize_events_ts — whatever physical layout the
    # driver ships (nanos-long or TIMESTAMP_NTZ), streaming and batch apply
    # the SAME normalization and can't diverge.
    import shutil

    src_dir = str(tmp_path / "events_src")
    os.makedirs(src_dir)
    shutil.copy(f"{sf}/events.parquet", os.path.join(src_dir, "part-0.parquet"))
    raw_schema = spark.read.parquet(src_dir).schema
    stream = (
        normalize_events_ts(spark.readStream.schema(raw_schema).parquet(src_dir))
        .withColumn("hour", F.date_trunc("hour", "ts"))
        .groupBy("event_type", "hour")
        .agg(F.count("*").alias("cnt"), F.round(F.sum("value"), 4).alias("sv"))
    )
    got = {}

    def sink(df, bid):
        for r in df.collect():
            got[(r["event_type"], str(r["hour"]))] = (r["cnt"], r["sv"])

    q = (
        stream.writeStream.outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert got == expected


@pytest.mark.parametrize("sf", ["/root/testdata/sf0.001", "/root/testdata/sf0.1"])
@pytest.mark.slow
def test_streaming_sessions_equal_batch_sessionize(spark, tmp_path, sf):
    """Streaming session_window over the REAL events table must produce the
    batch sessionization answer (session_window_native, itself hash-checked
    against the lag/cumsum DuckDB oracle). Append mode only emits a session
    once the watermark passes its end, so a far-future SENTINEL event is fed
    in a second file/microbatch to advance the watermark beyond every real
    session — after filtering the sentinel, streaming must equal batch
    exactly.

    Runs at sf0.001 AND sf0.1 (100k events / 1500 users / ~40k sessions):
    the scale point exercises real state-store pressure and multi-partition
    watermark coordination, not just the semantics."""
    import shutil
    import time as _time

    from pyspark.sql import functions as F
    from streamds_spark.catalog import load_table, normalize_events_ts
    from streamds_spark.registry import load_all
    from streamds_spark.streaming.engine import session_windowed_counts
    expected = {
        (r["user_id"], r["session_start"], r["n_events"])
        for r in load_all()["session_window_native"].fn(spark, sf).collect()
    }

    src_dir = str(tmp_path / "events_src")
    os.makedirs(src_dir)
    shutil.copy(f"{sf}/events.parquet", os.path.join(src_dir, "events.parquet"))
    batch = load_table(spark, sf, "events")
    max_ts = batch.agg(F.max("ts")).collect()[0][0]
    sentinel = batch.limit(1).select(
        F.lit(-1).cast("long").alias("event_id"),
        (F.lit(max_ts) + F.expr("INTERVAL 10 DAYS")).alias("ts"),
        F.lit(-1).cast("long").alias("user_id"),
        F.lit("sentinel").alias("event_type"),
        F.lit(0.0).alias("value"),
        F.lit("{}").alias("props"),
    )
    sent_path = str(tmp_path / "sentinel")
    sentinel.coalesce(1).write.parquet(sent_path)
    sent_file = next(
        f for f in os.listdir(sent_path) if f.endswith(".parquet") and not f.startswith("_")
    )
    dst = os.path.join(src_dir, "z_sentinel.parquet")
    shutil.copy(os.path.join(sent_path, sent_file), dst)
    # the file source orders by modification time (oldest first with
    # maxFilesPerTrigger=1) — make the sentinel strictly newest so it forms
    # the LAST microbatch and its watermark advance can't drop real events
    now = _time.time()
    os.utime(os.path.join(src_dir, "events.parquet"), (now - 60, now - 60))
    os.utime(dst, (now, now))

    raw_schema = spark.read.parquet(src_dir).schema
    stream = session_windowed_counts(
        normalize_events_ts(
            spark.readStream.schema(raw_schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src_dir)
        ),
        gap="30 minutes",
        watermark="30 minutes",
    )
    rows = []
    q = (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .foreachBatch(lambda df, bid: rows.extend(df.collect()))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["user_id"], r["session_start"].strftime("%Y-%m-%d %H:%M:%S"), r["n_events"])
        for r in rows
        if r["user_id"] >= 0
    }
    assert got == expected


def test_midstream_kill_and_recover(spark, tmp_path):
    """dokill parity (reference kills tasks 1.5s into the run,
    core_process_stream_DS.go:1706-1736): hard-stop a LIVE processing-time
    query after it has consumed only part of the input, then restart from the
    checkpoint — final counts must equal the no-failure answer."""
    import os
    import time
    from pyspark.sql import functions as F

    src = str(tmp_path / "in")
    golden = _write_chunks(src, n_chunks=8, lines_per_chunk=30)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def build():
        return (
            stream_text_source(spark, src, max_files_per_trigger=1)
            .select(F.explode(F.split("value", r"\s+")).alias("out"))
            .filter(F.col("out") != "")
            .groupBy(F.col("out").alias("word"))
            .agg(F.count("*").alias("count"))
        )

    from streamds_spark.streaming.engine import foreach_batch_parquet, read_latest_batch

    # phase 1: live query, killed after a couple of micro-batches
    q1 = (
        build().writeStream.outputMode("complete")
        .option("checkpointLocation", ckpt)
        .foreachBatch(foreach_batch_parquet(out))
        .trigger(availableNow=True)
        .start()
    )
    deadline = time.time() + 60
    while time.time() < deadline:
        committed = (
            len(
                [
                    d
                    for d in os.listdir(out)
                    if os.path.exists(os.path.join(out, d, "_SUCCESS"))
                ]
            )
            if os.path.exists(out)
            else 0
        )
        if 2 <= committed < 8:
            break
        time.sleep(0.1)
    q1.stop()  # hard mid-stream stop: several chunks still unread
    q1.awaitTermination(30)
    partial = {r["word"]: r["count"] for r in read_latest_batch(spark, out).collect()}
    assert sum(partial.values()) < sum(golden.values()), "kill must precede completion"

    # phase 2: recover from the same checkpoint and drain
    q2 = (
        build().writeStream.outputMode("complete")
        .option("checkpointLocation", ckpt)
        .foreachBatch(foreach_batch_parquet(out))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    final = {r["word"]: r["count"] for r in read_latest_batch(spark, out).collect()}
    assert final == dict(golden)


@pytest.mark.slow
def test_streaming_incremental_dedup_against_store(spark, tmp_path):
    """Continuous-ingest dedup: each micro-batch probes the persisted bucket
    store, drops near-dups of everything already accepted (including docs
    accepted by EARLIER batches of the same stream), and appends its kept
    docs' buckets — the streaming assembly of operators/dedup_incremental."""
    import os
    import time as _time

    from pyspark.sql import functions as F

    from streamds_spark.operators.dedup_incremental import (
        incremental_candidates,
        write_bucket_store,
    )

    store = str(tmp_path / "store")
    base = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta epsilon zeta"),
            (1, "one two three four five six"),
        ],
        "doc_id: long, text: string",
    )
    write_bucket_store(base, store)

    src = str(tmp_path / "src")
    os.makedirs(src)
    kept_dir = str(tmp_path / "kept")
    # batch A: one dup of corpus doc 0, one genuinely new doc (11)
    spark.createDataFrame(
        [
            (10, "alpha beta gamma delta epsilon zeta"),
            (11, "seven eight nine ten eleven twelve"),
        ],
        "doc_id: long, text: string",
    ).coalesce(1).write.parquet(os.path.join(src, "a"))
    _time.sleep(1.1)  # file mtime orders the micro-batches
    # batch B: dup of batch A's doc 11 (only catchable via the store append),
    # plus a new doc
    spark.createDataFrame(
        [
            (12, "seven eight nine ten eleven twelve"),
            (13, "totally different payload words entirely here"),
        ],
        "doc_id: long, text: string",
    ).coalesce(1).write.parquet(os.path.join(src, "b"))

    def process(batch_df, batch_id):
        dup_ids = (
            incremental_candidates(batch_df, spark, store)
            .select("new_id")
            .distinct()
        )
        kept = batch_df.join(
            dup_ids, batch_df.doc_id == dup_ids.new_id, "left_anti"
        ).select("doc_id", "text")
        write_bucket_store(kept, store, mode="append")
        kept.select("doc_id").write.mode("append").parquet(kept_dir)

    q = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src, "*"))
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    kept_ids = {r.doc_id for r in spark.read.parquet(kept_dir).collect()}
    assert kept_ids == {11, 13}, kept_ids  # 10 dups corpus, 12 dups batch A's 11


def test_chained_streaming_window_aggregations(spark, tmp_path):
    """Two stateful aggregations chained in ONE streaming query (Spark 4 /
    SPARK-40925): 5-minute windowed counts re-aggregated into 10-minute
    totals via window-of-window. Append mode — results flush when the
    watermark (advanced by a late sentinel file) passes the outer window."""
    import os

    from pyspark.sql import functions as F

    src = str(tmp_path / "in")
    os.makedirs(src)
    with open(os.path.join(src, "f0.txt"), "w") as f:
        f.write("2024-01-01T00:01:00 a\n")
        f.write("2024-01-01T00:02:00 a\n")
        f.write("2024-01-01T00:06:00 b\n")
        f.write("2024-01-01T00:07:00 a\n")
        f.write("2024-01-01T00:11:00 b\n")
    with open(os.path.join(src, "f1.txt"), "w") as f:
        f.write("2024-01-01T01:00:00 c\n")  # sentinel: advances the watermark
    stream = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", 1)
        .load(src)
        .select(F.split("value", " ").alias("p"))
        .select(
            F.col("p").getItem(0).cast("timestamp").alias("ts"),
            F.col("p").getItem(1).alias("etype"),
        )
    )
    inner = (
        stream.withWatermark("ts", "5 minutes")
        .groupBy(F.window("ts", "5 minutes"), "etype")
        .agg(F.count("*").alias("cnt"))
    )
    outer = inner.groupBy(F.window(F.col("window"), "10 minutes")).agg(
        F.sum("cnt").alias("total")
    )
    rows = []
    q = (
        outer.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .foreachBatch(lambda df, bid: rows.extend(df.collect()))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {str(r["window"]["start"]): r["total"] for r in rows}
    # windows fully below the final watermark (00:55) have flushed;
    # the sentinel's own window stays in state (never emitted)
    assert got == {"2024-01-01 00:00:00": 4, "2024-01-01 00:10:00": 1}


@pytest.mark.slow
def test_stream_stream_interval_join(spark, tmp_path):
    """Watermarked stream-stream interval join (click->purchase attribution)
    equals the batch join with the same time-bound condition."""
    import datetime as dt
    import os

    from streamds_spark.streaming.engine import stream_stream_interval_join

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def ts(minutes):
        return t0 + dt.timedelta(minutes=minutes)

    clicks = [(1, ts(0), "c1"), (1, ts(40), "c2"), (2, ts(5), "c3"), (3, ts(10), "c4")]
    buys = [(1, ts(20), "p1"), (1, ts(50), "p2"), (2, ts(90), "p3"), (4, ts(15), "p4")]
    # expected within 30 min after the click: c1->p1, c2->p2; p3 too late, p4 no click
    cdir, pdir = str(tmp_path / "clicks"), str(tmp_path / "buys")
    os.makedirs(cdir), os.makedirs(pdir)
    spark.createDataFrame(
        clicks, "user_id int, c_ts timestamp, click_id string"
    ).coalesce(1).write.parquet(f"{cdir}/a")
    spark.createDataFrame(
        buys, "user_id int, p_ts timestamp, buy_id string"
    ).coalesce(1).write.parquet(f"{pdir}/a")

    cs = spark.readStream.schema("user_id int, c_ts timestamp, click_id string").parquet(
        f"{cdir}/a"
    )
    ps = spark.readStream.schema("user_id int, p_ts timestamp, buy_id string").parquet(
        f"{pdir}/a"
    )
    joined = stream_stream_interval_join(
        cs, ps, "user_id", "c_ts", "p_ts", max_delay="30 minutes",
        watermark="10 minutes",
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.click_id, r.buy_id)
        for r in spark.sql("select * from ssj_out").collect()
    }
    assert got == {("c1", "p1"), ("c2", "p2")}

    # batch twin with the identical condition agrees
    bc = spark.createDataFrame(clicks, "user_id int, c_ts timestamp, click_id string")
    bp = spark.createDataFrame(buys, "uid int, p_ts timestamp, buy_id string")
    from pyspark.sql import functions as F

    batch = bc.join(
        bp,
        (bc.user_id == bp.uid)
        & (bp.p_ts >= bc.c_ts)
        & (bp.p_ts <= bc.c_ts + F.expr("interval 30 minutes")),
    )
    assert {(r.click_id, r.buy_id) for r in batch.collect()} == got

    # contract guard: overlapping non-key columns refused
    import pytest

    with pytest.raises(ValueError, match="share non-key columns"):
        stream_stream_interval_join(cs, cs, "user_id", "c_ts", "c_ts")
