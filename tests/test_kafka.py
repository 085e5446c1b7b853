"""Kafka source integration — env-gated.

The sandbox ships neither a Kafka broker nor the spark-sql-kafka connector, so
by default only the wrapper's error contract is testable. Set
STREAMDS_KAFKA_BOOTSTRAP (and have the connector on the session classpath) to
run the real round-trip: read `STREAMDS_KAFKA_TOPIC` (default streamds-test)
through stream_kafka_source into the engine's (key, value) line model and
word-count it with the same pipeline the file source uses.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from streamds_spark.streaming.engine import stream_kafka_source

BOOTSTRAP = os.environ.get("STREAMDS_KAFKA_BOOTSTRAP")
needs_kafka = pytest.mark.skipif(
    not BOOTSTRAP,
    reason="set STREAMDS_KAFKA_BOOTSTRAP (+ spark-sql-kafka on the classpath) "
    "to run the live Kafka round-trip",
)


def _connector_available(spark) -> bool:
    try:
        spark.readStream.format("kafka").option(
            "kafka.bootstrap.servers", "none:9092"
        ).option("subscribe", "t").load()
        return True
    except Exception as e:
        return "Failed to find data source: kafka" not in str(e)


def test_kafka_wrapper_error_contract(spark):
    """Without the connector the wrapper must fail FAST with an actionable
    message naming the missing --packages coordinate — not a bare py4j trace
    at first trigger. (With the connector installed this test is vacuous and
    the live test below takes over.)"""
    if _connector_available(spark):
        pytest.skip("kafka connector present; error contract not exercisable")
    with pytest.raises(RuntimeError, match="spark-sql-kafka"):
        stream_kafka_source(spark, "localhost:9092", "any-topic")


@needs_kafka
def test_kafka_roundtrip_wordcount(spark, tmp_path):
    """Live broker: consume the test topic and run the standard wordcount
    pipeline; asserts the (key, value) projection and at-least-one-batch
    delivery. Requires the topic to contain newline-free text messages."""
    topic = os.environ.get("STREAMDS_KAFKA_TOPIC", "streamds-test")
    lines = stream_kafka_source(spark, BOOTSTRAP, topic, max_offsets_per_trigger=1000)
    counts = (
        lines.select(F.explode(F.split("value", r"\s+")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("count"))
    )
    rows = []
    q = (
        counts.writeStream.outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .foreachBatch(lambda df, bid: rows.extend(df.collect()))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert rows, "expected at least one non-empty microbatch from the topic"
    assert all(r["count"] >= 1 for r in rows)
