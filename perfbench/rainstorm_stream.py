"""`rainstorm_stream`: the RainStorm two-stage chain (split_operator ->
count_operator) compiled by `streaming.engine.compile_rainstorm_stream`, in
update mode with `availableNow` and one input file per micro-batch, sinking
every batch into an append log through `io.appendlog.append_batch`.

It is the workload that writes: state store, offset/commit WAL and append-log
chunks. Inputs are seeded Zipf-vocabulary text files written before timing.
Every batch is checked exactly: its emitted (word, count) rows, read back
with `appendlog.read_ordered`, must be the running counts of exactly the
words of that batch's file.
"""

from __future__ import annotations

import datetime
import os
import shutil
import time
from statistics import median

import numpy as np

import common
import datagen

SIZES = {"full": 100_000, "tiny": 2_000}  # lines per file = per micro-batch
WARMUP_BATCHES = 5  # batch 0 pays JIT and state-store creation, 1-4 settle
BATCH_S_EST = 2.0  # steady batch time used to size a run to --seconds
MIN_STEADY = 3
CLIENT = "bench"


def _job(src: str):
    from streamds_spark.operators.rainstorm import RainStormJob

    return RainStormJob(op1="split_operator", op1_param="", op2="count_operator",
                        op2_param="", src=src)


def _ts_ms(iso: str) -> float:
    return datetime.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1000


def _check_batches(rows, file_counts: list[np.ndarray], n_batches: int) -> int:
    """Number of batches whose emitted rows (a pandas frame of _seq, word,
    count) are not exactly the running counts of the words in that batch's
    file, one row per word. A missing batch, or a word emitted twice, fails
    the batch."""
    by_batch: dict[int, list[tuple[str, int]]] = {}
    for seq, word, count in zip(rows["_seq"], rows["word"], rows["count"]):
        by_batch.setdefault(int(seq), []).append((word, int(count)))
    failed = 0
    running = np.zeros_like(file_counts[0])
    for b in range(n_batches):
        running = running + file_counts[b]
        want = [(f"w{i}", int(running[i])) for i in np.flatnonzero(file_counts[b])]
        failed += sorted(by_batch.get(b, [])) != sorted(want)
    return failed


def run(seed: int, seconds: float, trace: bool, size: str) -> dict:
    from streamds_spark.io import appendlog
    from streamds_spark.streaming import metrics
    from streamds_spark.streaming.engine import compile_rainstorm_stream

    tracer = common.Tracer(trace)
    n_steady = max(MIN_STEADY, round(seconds / BATCH_S_EST))
    n_files = WARMUP_BATCHES + n_steady
    lines = SIZES[size]
    input_dir = os.path.join(common.WORK, "data", f"stream-{size}-{seed}-{n_files}")
    counts_path = os.path.join(input_dir, "_counts.npy")
    if os.path.exists(counts_path):
        file_counts = list(np.load(counts_path))
    else:
        file_counts = datagen.write_stream_files(input_dir, seed, n_files, lines)
        np.save(counts_path, np.stack(file_counts))
    work = os.path.join(common.WORK, "rainstorm_stream")
    shutil.rmtree(work, ignore_errors=True)
    ckpt, sink = os.path.join(work, "checkpoint"), os.path.join(work, "sink")
    job = _job(input_dir)
    os.sync()  # no writeback of the inputs or of an earlier run during timing

    t_setup = time.perf_counter()
    with tracer.span("session.start"):
        spark = common.start_session()
    session_s = time.perf_counter() - t_setup
    with tracer.span("engine.compile"):
        stream_df = compile_rainstorm_stream(spark, job, max_files_per_trigger=1)
    setup_s = time.perf_counter() - t_setup
    appendlog.create(spark, sink)
    capture = metrics.attach(spark)

    sink_stats: dict[int, dict] = {}

    def write(batch_df, batch_id: int) -> None:
        t0 = time.perf_counter()
        appendlog.append_batch(batch_df, sink, CLIENT, batch_id)
        t1 = time.perf_counter()
        st = {"append_ms": (t1 - t0) * 1000}
        if trace:
            with tracer.timed():
                chunk = os.path.join(sink, "chunks", f"batch-{CLIENT}-{int(batch_id):09d}")
                files = [os.path.join(chunk, f) for f in os.listdir(chunk)]
                st["files"] = len(files)
                st["bytes"] = sum(os.path.getsize(f) for f in files)
            tracer.add("appendlog.append_batch", t0, t1, op=f"batch{batch_id}")
        sink_stats[batch_id] = st

    q = (
        stream_df.writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .foreachBatch(write)
        .start()
    )
    try:
        if not q.awaitTermination(150):
            raise TimeoutError("stream did not drain its input within 150 s")
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        # progress events reach the listener asynchronously
        deadline = time.monotonic() + 10
        while True:
            progress = sorted(
                (p for p in capture.progress(str(q.id)) if p.get("numInputRows")),
                key=lambda p: p["batchId"],
            )
            if len(progress) >= n_files or time.monotonic() > deadline:
                break
            time.sleep(0.05)
    finally:
        q.stop()
    spark.streams.removeListener(capture)

    # correctness, untimed: read the sink back in append order
    t0 = time.perf_counter()
    with tracer.span("appendlog.read_ordered"):
        rows = appendlog.read_ordered(spark, sink).select("_seq", "word", "count").toPandas()
    read_ms = (time.perf_counter() - t0) * 1000
    failed = _check_batches(rows, file_counts, n_files)
    attempted = n_files

    steady = [p for p in progress if p["batchId"] >= WARMUP_BATCHES]
    trig = [p["durationMs"]["triggerExecution"] for p in steady]
    span_ms = _ts_ms(steady[-1]["timestamp"]) + trig[-1] - _ts_ms(steady[0]["timestamp"])
    e2e = {
        "setup_s": setup_s,
        "latency_p50_ms": median(trig),
        "throughput_per_s": sum(p["numInputRows"] for p in steady) / (span_ms / 1000),
    }
    info = {"warmup_batches": WARMUP_BATCHES, "steady_batches": len(steady),
            "batches": len(progress), "lines_per_batch": lines,
            "batch_ms": [p["durationMs"]["triggerExecution"] for p in progress]}
    res = {"e2e": e2e, "attempted": attempted, "failed": failed, "info": info,
           "tracer": tracer}
    if not trace:
        spark.stop()
        return res

    sc = spark.sparkContext
    with tracer.timed():
        jobs = common.job_facts(sc, sc.statusTracker().getJobIdsForGroup(str(q.runId)))
    samples, walls = [], []
    to_perf = time.perf_counter() - time.time()  # epoch seconds -> tracer clock
    for p in steady:
        start = _ts_ms(p["timestamp"])
        end = start + p["durationMs"]["triggerExecution"]
        tracer.add("stream.batch", start / 1000 + to_perf, end / 1000 + to_perf,
                   op=f"batch{p['batchId']}", **p["durationMs"])
        with tracer.timed():
            samples.append(common.fold_jobs(
                [j for j in jobs if j["submit"] is not None and start <= j["submit"] <= end]))
        walls.append(p["durationMs"]["triggerExecution"])
    spark.stop()

    def dur(key: str) -> float:
        return median([p["durationMs"].get(key, 0) for p in steady])

    state = [p["stateOperators"][0] for p in steady if p.get("stateOperators")]
    steady_sink = [s for b, s in sink_stats.items() if b >= WARMUP_BATCHES]
    layers = {
        "session.start_s": session_s,
        "plan.build_ms": (setup_s - session_s) * 1000,
        "plan.catalyst_ms": dur("queryPlanning"),
        "stream.latest_offset_ms": dur("latestOffset"),
        "stream.get_batch_ms": dur("getBatch"),
        "stream.query_planning_ms": dur("queryPlanning"),
        "stream.add_batch_ms": dur("addBatch"),
        "stream.wal_commit_ms": dur("walCommit"),
        "stream.commit_offsets_ms": dur("commitOffsets"),
        "stream.state_rows": float(state[-1]["numRowsTotal"]),
        "stream.state_mem_bytes": float(state[-1]["memoryUsedBytes"]),
        "stream.state_commit_ms": median([s["commitTimeMs"] for s in state]),
        "stream.state_partitions": float(state[-1].get("numShufflePartitions", 0)),
        "appendlog.append_batch_ms": median([s["append_ms"] for s in steady_sink]),
        "appendlog.files_per_batch": median([s["files"] for s in steady_sink]),
        "appendlog.bytes_per_batch": median([s["bytes"] for s in steady_sink]),
        "appendlog.read_ordered_ms": read_ms,
        # the tracing work (sink file stats, status-store reads, spans), timed
        # directly, per batch
        "trace.overhead_ms": tracer.cost_s * 1000 / len(progress),
    }
    layers.update(common.exec_metrics(samples, walls, common.cpus()))
    res["layers"] = layers
    return res
