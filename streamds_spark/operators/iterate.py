"""Stats-pinned lineage truncation for iterative DataFrame loops.

The problem (found by thread-dumping a stuck carry-forward loop — the
driver was burning 100% CPU in java.math.BigInteger.multiplyKaratsuba):

Catalyst's size-only statistics visitor estimates every multi-child node
it has no special case for — inner and OUTER joins included — as the
PRODUCT of its children's ``sizeInBytes`` (BigInts; only semi/anti joins
fall back to the left side). ``Dataset.localCheckpoint``/``checkpoint``
snapshot the optimized plan's statistics into the resulting ``LogicalRDD``
leaf so the optimizer keeps size information across the truncation. Those
two behaviors compose catastrophically in an iterative loop that carries a
relation forward through a join that references the PREVIOUS round's
carried relation on BOTH branches (directly, or via a derived table that
itself joined it):

    bits(est_N) = bits(est_{N-1} JOIN moved_N)
                = bits(est_{N-1}) + bits(moved_N)      # product = bit sum
    bits(moved_N) ~ bits(est_{N-1}) + C                # moved joined est too
    => bits(est_N) ~ 2 * bits(est_{N-1})               # DOUBLES per round

The snapshot's BigInt bit length doubles every round, and BigInteger
multiplication on million-bit values costs real seconds, so after ~20
rounds each checkpoint spends minutes MULTIPLYING SIZE ESTIMATES — the
executed job itself stays milliseconds (actions like ``count()`` never
compute the top node's own stats, which is why the same plan counts fast
and checkpoints slowly). Reliable checkpoints, AQE on/off, and plan shape
are all irrelevant; only the stats snapshot matters.

The fix: pin the statistics to ground truth at every truncation point.
``persist()`` + ``count()`` before the checkpoint makes the optimized plan
an ``InMemoryRelation`` whose ``computeStats`` is the EXACT materialized
byte size — a small constant — so the ``LogicalRDD`` snapshot is exact and
the product chain restarts from ~tens of bits each round. Cost: one cache
materialization of a table the loop was already materializing, plus one
cheap count over the cache.

Loops whose carried relation only ever passes through aggregates, unions,
anti/semi joins, or joins against FIXED relations grow linearly (bit sum
per round is a constant) and do not need this — the peel loop, BFS hop
expansion, and PageRank are all linear. Use the pin wherever a round joins
two relations that BOTH descend from the previous round's carry
(H-index carry-forward, weighted Bellman-Ford relaxation, pointer-jumping
connected components).

``fixpoint`` is the one round driver of the iterative graph operators: it
owns the pin's lifetime, the round count, the ``max_iter`` exhaustion rule
and a per-round trace; each loop supplies only its step and stop test.
"""

from __future__ import annotations

import logging
import os
import time
import warnings
from typing import Any, Callable, NamedTuple

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

log = logging.getLogger(__name__)


def lineage_cut(df: DataFrame, eager: bool = False) -> DataFrame:
    """The iterative operators' lineage-truncation point (round 12, per
    VERDICT r11 item 6). Default: ``localCheckpoint`` — blocks live on
    executors, cheap, but an executor loss mid-iteration kills the query
    (no recompute path past the cut). With ``SPARK_GRAFT_CHECKPOINT_DIR``
    set (a real cluster caring about availability), the cut is a RELIABLE
    ``checkpoint()`` to that directory (HDFS/object store): each round's
    carry survives executor loss at the cost of a write per cut. The dir
    is installed once per SparkContext, lazily, so local runs never touch
    a filesystem they didn't ask for."""
    ckpt_dir = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
    if not ckpt_dir:
        return df.localCheckpoint(eager=eager)
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is None:
        sc.setCheckpointDir(ckpt_dir)
    return df.checkpoint(eager=eager)


def lineage_cut_eager(df: DataFrame) -> DataFrame:
    """`df.transform(lineage_cut_eager)` — the eager form for call sites
    whose materialization IS the loop's driver job (chain-preserving
    .transform swap for `.localCheckpoint(eager=True)` / `.localCheckpoint()`)."""
    return lineage_cut(df, eager=True)


class StatsPinnedCheckpointer:
    """Per-loop helper: ``checkpoint(df)`` = persist + count + localCheckpoint
    (exact-stats truncation, see module docstring), keeping the last ``lag``
    source caches alive so a checkpoint block evicted under memory pressure
    can recompute from the cache instead of the full plan. Call ``release()``
    (or use as a context manager) when the loop ends.

    Two job-count economies for latency-bound loop tails (round 11, guide
    §1.3 — an iterative fixpoint's tail rounds are dominated by per-job
    overhead, not data):

    - The checkpoint copy is LAZY (``localCheckpoint(eager=False)``): the
      ``LogicalRDD``'s stats snapshot is taken at CALL time from the
      counted ``InMemoryRelation`` (exact — the whole point of the pin),
      while the physical RDD copy folds into whatever job first consumes
      the result — one fewer job per pin, identical data. Loop results are
      always consumed within a round or two, inside the cache lag window.
    - ``last_count`` exposes the pin's own materialization count, so a
      loop that needs the row count of the relation it just pinned (every
      fixpoint test does) reads it instead of running a second count job.
    """

    def __init__(self, lag: int = 2):
        self._lag = max(0, lag)
        self._cached: list[DataFrame] = []
        self._outputs: list[DataFrame] = []  # returned since the last new_round()
        self.last_count: "int | None" = None
        self.last_aggs: "tuple | None" = None

    def new_round(self) -> None:
        self._outputs = []
        self.last_count = None

    def count(self, df: DataFrame) -> int:
        """``df.count()``, kept as ``last_count`` like a pin's own count —
        for a round whose stop test counts a relation it does not pin."""
        self.last_count = df.count()
        return self.last_count

    def checkpoint(self, df: DataFrame, extra_aggs: "list | None" = None) -> DataFrame:
        """Pin ``df``. ``extra_aggs`` (pyspark Columns) ride the SAME
        materialization job — a loop that needs, say, the label sum of the
        relation it just pinned (a convergence probe) folds that aggregate
        into the pin's one full scan instead of running a second driver job;
        results land in ``last_aggs`` in order. The scan is a full pass over
        the persisted relation either way, so the pinned stats are identical.
        """
        df.persist(StorageLevel.MEMORY_AND_DISK)
        # materialize so the snapshot reads EXACT cached stats
        if extra_aggs:
            row = df.agg(F.count(F.lit(1)).alias("__pin_n"), *extra_aggs).collect()[0]
            self.last_count = int(row["__pin_n"])
            self.last_aggs = tuple(row[1:])
        else:
            self.last_count = df.count()
            self.last_aggs = None
        out = lineage_cut(df, eager=False)
        self._outputs.append(out)
        self._cached.append(df)
        while len(self._cached) > self._lag:
            self._cached.pop(0).unpersist()
        return out

    def release(self) -> None:
        while self._cached:
            self._cached.pop(0).unpersist()

    def __enter__(self) -> "StatsPinnedCheckpointer":
        return self

    def __exit__(self, *exc) -> None:
        self.release()


class Round(NamedTuple):
    """One traced round: ``rows`` is the pin's ``last_count`` (None when the
    round neither pinned nor counted), so tracing runs no Spark job of its
    own."""

    round: int
    rows: "int | None"
    wall_ms: float


class Fixpoint(NamedTuple):
    """A loop's result and its per-round trace."""

    value: Any
    trace: list[Round]

    @property
    def rounds(self) -> int:
        return len(self.trace)


def fixpoint(
    step: Callable[[Any, StatsPinnedCheckpointer], "tuple[Any, bool]"],
    carry: Any,
    max_iter: int,
    what: str,
    *,
    lag: int = 2,
    exhausted: str = "raise",
) -> Fixpoint:
    """Run ``carry, done = step(carry, pin)`` for at most ``max_iter``
    rounds. Once ``done``, the carry is the loop's result; a stop test that
    means "nothing changed" returns the carry that ENTERED the round, which
    the round's own job has already read (and so materialized).

    The driver owns what every loop used to copy: one
    ``StatsPinnedCheckpointer(lag)`` for the step's pins, released in
    ``finally``; the round count; exhaustion — ``exhausted="raise"`` raises
    RuntimeError, ``"warn"`` warns and returns the last carry; and the
    materialize-before-release rule: a result that is a pin output of the
    final round has not been copied yet (the copy is lazy), so it is counted
    once before its cache is released — otherwise the caller's first action
    would recompute the round. Returns ``Fixpoint(value, trace)``.
    """
    if exhausted not in ("raise", "warn"):
        raise ValueError(f"exhausted must be 'raise' or 'warn', got {exhausted!r}")
    pin = StatsPinnedCheckpointer(lag)
    trace: list[Round] = []
    try:
        for rnd in range(1, max_iter + 1):
            pin.new_round()
            t0 = time.perf_counter()
            carry, done = step(carry, pin)
            trace.append(Round(rnd, pin.last_count, (time.perf_counter() - t0) * 1000))
            log.debug("%s round %d: rows=%s %.0f ms", what, *trace[-1])
            if done:
                break
        else:
            msg = f"{what} did not converge in {max_iter} rounds"
            if exhausted == "raise":
                raise RuntimeError(msg)
            warnings.warn(msg + "; returning the last round's result", stacklevel=3)
        if any(carry is out for out in pin._outputs):
            carry.count()
        return Fixpoint(carry, trace)
    finally:
        pin.release()


def undirected(edges: DataFrame, *, distinct: bool) -> DataFrame:
    """Both half-edges of every edge: ``edges(u, v, ...)`` plus its swap
    ``(v, u, ...)``, other columns carried along; ``distinct`` drops
    duplicate half-edges (needed where the input may hold both orientations
    or repeats)."""
    rest = [c for c in edges.columns if c not in ("u", "v")]
    both = edges.select("u", "v", *rest).unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"), *rest)
    )
    return both.distinct() if distinct else both


def leaf_stats_bits(df: DataFrame) -> int:
    """Bit length of the plan's leftmost-leaf sizeInBytes estimate — the
    regression probe for the explosion above (tests pin this stays small
    across rounds; the broken pattern doubles it per round)."""
    leaf = df._jdf.queryExecution().optimizedPlan()
    while leaf.children().size() > 0:
        leaf = leaf.children().apply(0)
    return int(leaf.stats().sizeInBytes()).bit_length()
