"""Stats-pinned checkpoint mechanism (operators/iterate.py).

Regression guard for the BigInteger size-estimate explosion: Catalyst
estimates joins as the PRODUCT of child sizeInBytes and checkpoint
snapshots that estimate into the LogicalRDD, so a loop whose carry-forward
join references the previous carry on both branches doubles the snapshot's
bit length every round — by round ~25 the driver spends minutes inside
BigInteger.multiply per checkpoint while the actual job stays milliseconds.
These tests drive exactly that adversarial loop shape and pin (a) that the
pinned checkpoint keeps the snapshot at the exact-cached-size scale and (b)
that the pin changes no values.
"""

import pytest
from pyspark.sql import functions as F

from streamds_spark.operators.iterate import StatsPinnedCheckpointer, leaf_stats_bits

pytestmark = pytest.mark.usefixtures("spark")


def _adversarial_round(cur, delta):
    """One carry-forward round referencing `cur` on BOTH join branches —
    the exponential-stats shape (kcore active branch / Bellman-Ford /
    pointer jumping all reduce to this)."""
    moved = (
        cur.alias("a")
        .join(delta, "k")
        .select("k", (F.col("v") + F.col("dv")).alias("v_new"))
    )
    return cur.join(moved, "k", "left").select(
        "k", F.coalesce("v_new", "v").cast("bigint").alias("v")
    )


def test_pinned_checkpoint_keeps_stats_exact_and_values_identical(spark):
    delta = spark.range(0, 50).select(
        F.col("id").alias("k"), F.lit(1).cast("bigint").alias("dv")
    )
    cur = spark.range(0, 200).select(
        F.col("id").alias("k"), F.lit(0).cast("bigint").alias("v")
    )
    with StatsPinnedCheckpointer(lag=2) as pin:
        for _ in range(10):
            cur = pin.checkpoint(_adversarial_round(cur, delta))
            # exact cached size of a 200-row table is a few KB; the broken
            # pattern is past 2**1000 by round 10
            assert leaf_stats_bits(cur) < 64
        rows = {r["k"]: r["v"] for r in cur.collect()}
    assert rows[0] == 10 and rows[49] == 10 and rows[50] == 0 and rows[199] == 0


def test_unpinned_loop_stats_compound_past_exact_scale(spark):
    # document the failure mode the pin exists for: the same loop with a
    # plain localCheckpoint compounds the size estimate multiplicatively
    # (stop at 6 rounds — far before the BigInt math gets expensive)
    delta = spark.range(0, 5).select(
        F.col("id").alias("k"), F.lit(1).cast("bigint").alias("dv")
    )
    cur = spark.range(0, 20).select(
        F.col("id").alias("k"), F.lit(0).cast("bigint").alias("v")
    )
    bits = []
    for _ in range(6):
        cur = _adversarial_round(cur, delta).localCheckpoint(eager=True)
        bits.append(leaf_stats_bits(cur))
    assert bits[-1] > 2 * bits[0], bits  # compounding, not flat
    assert bits[-1] > 64, bits  # already past any physical byte count


def test_release_unpersists_everything(spark):
    pin = StatsPinnedCheckpointer(lag=8)
    df = spark.range(0, 10).select(F.col("id").alias("k"), F.lit(0).alias("v"))
    out = pin.checkpoint(df.select("k", (F.col("v") + 1).alias("v")))
    assert len(pin._cached) == 1
    pin.release()
    assert pin._cached == []
    # the checkpointed result stays readable after release
    assert out.count() == 10


# ---------------------------------------------------------------------------
# fixpoint: the round driver of the iterative graph operators
# ---------------------------------------------------------------------------


def test_fixpoint_traces_pin_counts_and_releases(spark):
    from streamds_spark.operators.iterate import fixpoint

    pins = []

    def step(df, pin):  # pin a shrinking range, stop once it is empty
        pins.append(pin)
        nxt = pin.checkpoint(df.where(F.col("id") > F.lit(len(pins) * 3)))
        return nxt, pin.last_count == 0

    run = fixpoint(step, spark.range(0, 10), 10, "shrink")
    assert [r.round for r in run.trace] == [1, 2, 3]
    assert [r.rows for r in run.trace] == [6, 3, 0]
    assert all(r.wall_ms >= 0 for r in run.trace)
    assert run.value.count() == 0
    assert pins[0]._cached == []  # released on return


def test_fixpoint_releases_pin_when_step_raises(spark):
    from streamds_spark.operators.iterate import fixpoint

    pins = []

    def step(df, pin):
        pins.append(pin)
        pin.checkpoint(df)
        raise ValueError("boom")

    with pytest.raises(ValueError, match="boom"):
        fixpoint(step, spark.range(0, 5), 3, "boom")
    assert pins[0]._cached == []


def test_fixpoint_exhaustion_raises_or_warns(spark):
    from streamds_spark.operators.iterate import fixpoint

    def step(n, pin):
        return n + 1, False

    with pytest.raises(RuntimeError, match="counter did not converge in 3 rounds"):
        fixpoint(step, 0, 3, "counter")
    with pytest.warns(UserWarning, match="counter did not converge in 3 rounds"):
        run = fixpoint(step, 0, 3, "counter", exhausted="warn")
    assert run.value == 3 and run.rounds == 3
    assert [r.rows for r in run.trace] == [None, None, None]  # nothing pinned
    with pytest.raises(ValueError, match="exhausted"):
        fixpoint(step, 0, 3, "counter", exhausted="ignore")


def test_fixpoint_materializes_only_a_fresh_pin_output(spark, monkeypatch):
    """A result the final round pinned is counted before its cache goes;
    a result that entered the round (already read) is not."""
    from streamds_spark.operators.iterate import fixpoint

    DataFrame = type(spark.range(1))  # the concrete class that counts
    counted = []
    real_count = DataFrame.count

    def spy(self):
        counted.append(self)
        return real_count(self)

    monkeypatch.setattr(DataFrame, "count", spy)

    def fresh(df, pin):
        return pin.checkpoint(df.select((F.col("id") + 1).alias("id"))), True

    run = fixpoint(fresh, spark.range(0, 4), 5, "fresh")
    assert any(d is run.value for d in counted)
    assert sorted(r["id"] for r in run.value.collect()) == [1, 2, 3, 4]

    counted.clear()

    def entering(df, pin):
        pin.checkpoint(df.select((F.col("id") + 1).alias("id")))
        return df, True

    start = spark.range(0, 4)
    run = fixpoint(entering, start, 5, "entering")
    assert run.value is start
    assert not any(d is start for d in counted)


def test_undirected_keeps_extra_columns_and_distinct_choice(spark):
    from streamds_spark.operators.iterate import undirected

    e = spark.createDataFrame([(1, 2, 7), (2, 1, 7)], "u bigint, v bigint, w bigint")
    both = undirected(e, distinct=False)
    assert both.columns == ["u", "v", "w"]
    assert sorted(tuple(r) for r in both.collect()) == [
        (1, 2, 7), (1, 2, 7), (2, 1, 7), (2, 1, 7)
    ]
    uniq = undirected(e, distinct=True)
    assert sorted(tuple(r) for r in uniq.collect()) == [(1, 2, 7), (2, 1, 7)]
