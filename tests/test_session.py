"""session.get_spark returns a live session as it is, and
session.ensure_workers_can_import ships the package zip once per
SparkContext, however many sessions share it."""

from __future__ import annotations

import threading
import weakref

from streamds_spark import session


def test_new_sessions_over_one_context_ship_once(spark, monkeypatch):
    calls = []
    monkeypatch.setattr(session, "_SHIPPED_CONTEXTS", weakref.WeakSet())
    monkeypatch.setattr(
        type(spark.sparkContext), "addPyFile", lambda self, path: calls.append(path)
    )
    a, b = spark.newSession(), spark.newSession()
    assert a is not b and a.sparkContext is b.sparkContext
    session.ensure_workers_can_import(a)
    session.ensure_workers_can_import(b)
    session.ensure_workers_can_import(spark)
    assert len(calls) == 1


def test_get_spark_from_another_thread_keeps_live_confs(spark):
    """A thread with no active session gets the default session back, with
    the width its owner set still in place (getOrCreate would re-apply the
    builder's options to it)."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        got = []
        t = threading.Thread(target=lambda: got.append(session.get_spark()))
        t.start()
        t.join(timeout=60)
        assert got and got[0] is spark
        assert spark.conf.get(key) == "7"
    finally:
        spark.conf.set(key, prev)
