"""lineage_cut's reliable-checkpoint switch (round 12, VERDICT r11 item 6).

Default behavior (no SPARK_GRAFT_CHECKPOINT_DIR): localCheckpoint, blocks on
executors — pinned by the *absence* of checkpoint files here. With the env
var set, every iterative operator's lineage cut becomes a RELIABLE
checkpoint() into the directory, so an executor loss mid-iteration can
recompute from storage instead of killing the query. One loop operator is
exercised end-to-end under each mode and must produce identical results.
"""

from __future__ import annotations

import os

import pytest

pytestmark = pytest.mark.usefixtures("spark")


def _graph(spark):
    return spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1), (4, 5), (5, 6)], "u bigint, v bigint"
    )


def test_reliable_checkpoint_loop_equivalence(spark, tmp_path, monkeypatch):
    from streamds_spark.operators.kcore import core_numbers

    base = sorted(tuple(r) for r in core_numbers(_graph(spark)).collect())

    ckpt = str(tmp_path / "ckpt")
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", ckpt)
    # the dir is installed once per SparkContext; a previous test session
    # may have set one already — force ours so the file assertion is valid
    spark.sparkContext.setCheckpointDir(ckpt)
    got = sorted(tuple(r) for r in core_numbers(_graph(spark)).collect())
    assert got == base
    # reliable cuts actually wrote checkpoint data to the directory
    found = [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(ckpt)
        for f in fs
        if not f.startswith(".")
    ]
    assert found, "reliable checkpoint() wrote nothing under the dir"


def test_default_stays_local(spark, tmp_path, monkeypatch):
    from streamds_spark.operators.iterate import lineage_cut

    monkeypatch.delenv("SPARK_GRAFT_CHECKPOINT_DIR", raising=False)
    df = lineage_cut(_graph(spark), eager=True)
    assert df.count() == 6
    # localCheckpoint leaves the tmp dir untouched
    assert not any(os.scandir(str(tmp_path)))


def test_session_cleans_reliable_checkpoints(spark, tmp_path):
    """get_spark turns on checkpoint cleaning, so a reliable cut's files go
    once its RDD is garbage-collected and the directory stays bounded."""
    import gc
    import time

    sc = spark.sparkContext
    assert sc.getConf().get("spark.cleaner.referenceTracking.cleanCheckpoints") == "true"
    ckpt = str(tmp_path / "gc")
    sc.setCheckpointDir(ckpt)

    def parts():
        return [f for _, _, fs in os.walk(ckpt) for f in fs if f.startswith("part-")]

    df = spark.range(0, 1000).checkpoint(eager=True)
    assert df.count() == 1000 and parts()
    del df
    deadline = time.time() + 10
    while parts() and time.time() < deadline:
        gc.collect()
        sc._jvm.System.gc()  # noqa: SLF001 - the cleaner acts on JVM GC
        time.sleep(0.2)
    assert not parts(), "checkpoint files outlived their RDD"
