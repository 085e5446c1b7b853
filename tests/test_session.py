"""session.ensure_workers_can_import: the package zip is shipped once per
SparkContext, however many sessions share it."""

from __future__ import annotations

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
