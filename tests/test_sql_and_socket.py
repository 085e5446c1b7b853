"""SQL passthrough surface + socket streaming source (the reference category's
'Structured Streaming + Kafka/socket sources' posture; Kafka isn't in this
environment, socket is)."""

from __future__ import annotations

import socket
import threading
import time

import pytest
from pyspark.sql import functions as F

from streamds_spark.sql import sql

SF = "/root/testdata/sf0.001"


def test_sql_surface_matches_registry(spark):
    df = sql(spark, SF, "SELECT o_orderpriority, count(*) AS cnt FROM orders WHERE o_orderstatus = 'F' GROUP BY o_orderpriority")
    from streamds_spark.registry import load_all

    reg = load_all()["flagship_filter_group_count"].fn(spark, SF)
    assert {tuple(r) for r in df.collect()} == {tuple(r) for r in reg.collect()}


def test_sql_joins_and_views(spark):
    df = sql(
        spark,
        SF,
        """
        SELECT n_name, count(*) AS n_cust
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name ORDER BY n_cust DESC, n_name LIMIT 3
        """,
    )
    rows = df.collect()
    assert len(rows) == 3 and all(r["n_cust"] > 0 for r in rows)


def _serve_lines(srv: socket.socket, lines: list[str], stop: threading.Event):
    srv.settimeout(30)
    try:
        conn, _ = srv.accept()
        for line in lines:
            conn.sendall((line + "\n").encode())
        # keep the connection open until the test is done draining
        stop.wait(timeout=60)
        conn.close()
    finally:
        srv.close()


def test_socket_source_wordcount(spark, tmp_path):
    """Socket streaming source → stateful count, stopped after the data drains
    (the reference's 'streaming platform' demo over a network source)."""
    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))  # OS-assigned port: no collision across runs
    srv.listen(1)
    port = srv.getsockname()[1]
    stop = threading.Event()
    lines = ["a b", "a c", "b a"]
    t = threading.Thread(target=_serve_lines, args=(srv, lines, stop), daemon=True)
    t.start()
    time.sleep(0.3)

    try:
        stream = (
            spark.readStream.format("socket")
            .option("host", "127.0.0.1")
            .option("port", port)
            .load()
            .select(F.explode(F.split("value", " ")).alias("word"))
            .groupBy("word")
            .agg(F.count("*").alias("count"))
        )
        state: dict[str, int] = {}

        def sink(df, bid):
            for r in df.collect():
                state[r["word"]] = r["count"]

        q = (
            stream.writeStream.outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .foreachBatch(sink)
            .start()
        )
        deadline = time.time() + 60
        while time.time() < deadline:
            if state.get("a") == 3 and state.get("b") == 2 and state.get("c") == 1:
                break
            time.sleep(0.5)
        q.stop()
        q.awaitTermination(30)
    finally:
        stop.set()
    assert state == {"a": 3, "b": 2, "c": 1}


def test_rate_source_generates_rows(spark, tmp_path):
    """Built-in rate source: synthetic load generator for streaming pipelines."""
    from pyspark.sql import functions as F

    stream = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 50)
        .load()
        .withColumn("bucket", F.col("value") % 5)
    )
    rows = []
    q = (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .foreachBatch(lambda df, bid: rows.extend(df.collect()))
        .start()
    )
    import time as _t

    deadline = _t.time() + 30
    while _t.time() < deadline and len(rows) < 10:
        _t.sleep(0.5)
    q.stop()
    q.awaitTermination(30)
    assert len(rows) >= 10
    assert all(0 <= r["bucket"] <= 4 for r in rows)


def test_observe_metrics(spark):
    """df.observe: pipeline metrics riding the job (the reference's leader
    console relay as first-class observability)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    df = spark.range(0, 1000).withColumn("v", F.col("id") % 7)
    obs = Observation("stats")
    out = df.observe(obs, F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv"))
    assert out.count() == 1000
    got = obs.get
    assert got["n"] == 1000 and got["sv"] == sum(i % 7 for i in range(1000))


def test_sql_registered_udfs(spark):
    """SQL-surface custom functions: tokenize + cross-engine hashes callable
    from plain SQL, consistent with the expression-side implementations."""
    from streamds_spark.sql import register_udfs
    from streamds_spark.functions.hashing import md5_int60
    from pyspark.sql import functions as F

    register_udfs(spark)
    row = spark.sql(
        "SELECT tokenize('a  b c') AS t, md5_int60('hello') AS h60, md5_int28('hello') AS h28"
    ).first()
    assert list(row["t"]) == ["a", "b", "c"]
    expr_h = spark.range(1).select(md5_int60(F.lit("hello")).alias("h")).first()["h"]
    assert row["h60"] == expr_h
    import duckdb

    d60 = duckdb.connect().execute(
        "SELECT ('0x' || substr(md5('hello'),1,15))::BIGINT"
    ).fetchone()[0]
    assert row["h60"] == d60


def test_drop_duplicates_within_watermark_stream(spark, tmp_path):
    """Bounded-state streaming dedup: dropDuplicatesWithinWatermark keeps the
    dedup state only for the watermark horizon (the scalable exactly-once
    path for re-delivering sources with event time)."""
    import os
    from pyspark.sql import functions as F

    src = str(tmp_path / "in")
    os.makedirs(src)
    with open(os.path.join(src, "a.txt"), "w") as f:
        f.write("e1 2024-01-01T00:00:00\ne1 2024-01-01T00:00:30\ne2 2024-01-01T00:05:00\n")
    stream = (
        spark.readStream.format("text").load(src)
        .select(F.split("value", " ").alias("p"))
        .select(
            F.col("p").getItem(0).alias("event_id"),
            F.col("p").getItem(1).cast("timestamp").alias("ts"),
        )
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
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
    assert sorted(r["event_id"] for r in rows) == ["e1", "e2"]
