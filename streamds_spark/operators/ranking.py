"""Distributed exact global ranking and ntile bucketing.

The naive way to rank every row of a DataFrame globally is
``row_number().over(Window.orderBy(...))`` — Spark moves the whole input to ONE
partition (it warns ``WindowExec: No Partition Defined``), a scale-killer for
per-row outputs (tolerable only for decile-sized reports).

``with_global_rank`` computes the SAME exact ranks distributed:

  1. sample B-1 range boundaries for the primary order column with
     ``approxQuantile`` — collected ONCE to driver literals, so every job in
     the query agrees on the same bucketing (a ``repartitionByRange`` would
     re-sample boundaries per job, and a disagreement between the bucket-size
     job and the final job would silently corrupt the rank offsets);
  2. assign each row a bucket id with a codegen comparison chain (strictly by
     the primary column, so equal keys never straddle a bucket boundary —
     boundary quality only affects balance, never correctness);
  3. per-bucket ``row_number`` over a window PARTITIONED by bucket id (one
     hash exchange, B-way parallel sort — never a single-partition sort);
  4. offset each bucket's local numbers by the count of all lower buckets —
     bucket sizes are a B-row aggregate, collected and re-broadcast as a
     literal map (same split-local numbering trick as the partitioned file
     source, rainstorm.py).

Exactness requires ``order_cols`` to be a total order (include a tie-break,
e.g. the primary key): window ties are arbitrary in any engine, and oracle
hash comparison needs determinism.

Skew note: all rows sharing one primary-column value land in one bucket (their
relative order is resolved by the in-bucket sort on the full key). A
near-constant primary column degrades toward the single-partition sort — pick
the highest-cardinality dimension first, as you would for any range exchange.

ntile semantics (ANSI, matches Spark and DuckDB): with N rows and n buckets,
q = N div n, r = N mod n; the first r buckets get q+1 rows. Given the exact
1-based global rank this is closed-form arithmetic — no second pass.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def with_global_rank(
    df: DataFrame,
    order_cols: list[str],
    rank_col: str = "rank",
    num_buckets: int | None = None,
) -> DataFrame:
    """Add an exact 1-based global row number ordered by ``order_cols``.

    Distributed equivalent of ``row_number().over(Window.orderBy(*order_cols))``
    — identical values, no single-partition WindowExec. ``order_cols[0]`` must
    be numeric (boundaries come from ``approxQuantile``); the full list must be
    a total order. Runs two tiny driver actions (quantile sketch + bucket
    sizes), both deterministic, before the main job.
    """
    return with_global_ranks(df, [(order_cols, rank_col)], num_buckets)


def with_global_ranks(
    df: DataFrame,
    rank_specs: list[tuple[list[str], str]],
    num_buckets: int | None = None,
) -> DataFrame:
    """Add SEVERAL exact global row numbers in one pass of driver actions.

    ``rank_specs`` is a list of ``(order_cols, rank_col)`` — each entry adds
    the same column ``with_global_rank(df, order_cols, rank_col)`` would, with
    identical values. The point is driver-job economics (guide §1.3): k
    sequential ``with_global_rank`` calls pay 2k tiny driver actions (an
    approxQuantile sketch + a bucket-size pass each); this runs ONE
    multi-column approxQuantile job and ONE combined bucket-size aggregate
    (k×B count-if expressions folding map-side into a single row) for all k
    ranks. The per-rank window exchanges in the main job are unchanged — each
    rank still needs its own hash partitioning.

    Rank values are exact for ANY boundary choice (buckets are split strictly
    by the primary column, so boundary quality affects balance, never
    correctness) — batching the sketches cannot change a rank.
    """
    if num_buckets is None:
        # Derive parallelism from the session's shuffle width, but CAP it
        # (ADVICE r11): the combined size aggregate below builds k x B
        # count-if expressions, so an uncapped B on a cluster session tuned
        # to e.g. 2000 shuffle partitions would hand Janino a ~6000-term
        # aggregate for 3 rank specs. 256 buckets keeps the expression
        # count bounded (k x 256) while the per-bucket window sort stays
        # B-way parallel — past a few hundred buckets the extra width buys
        # nothing the in-bucket sort's own task split doesn't already.
        num_buckets = min(
            256,
            int(df.sparkSession.conf.get("spark.sql.shuffle.partitions")),
        )
    probes = [i / num_buckets for i in range(1, num_buckets)]
    primaries = [order_cols[0] for order_cols, _ in rank_specs]
    # ONE pass computes every primary column's sketch (StatFunctions
    # multipleApproxQuantiles — a single job regardless of k)
    all_bounds = (
        df.stat.approxQuantile(primaries, probes, 0.01)
        if probes
        else [[] for _ in primaries]
    )
    bucket_cols = [f"_rk_bucket_{i}" for i in range(len(rank_specs))]
    bucketed = df
    n_buckets_of: list[int] = []
    for i, ((order_cols, _), raw) in enumerate(zip(rank_specs, all_bounds)):
        primary = order_cols[0]
        bounds = sorted(set(raw))
        # NULL primary values: approxQuantile ignores them and (col > lit) is
        # null — coalesce to False so null rows land in bucket 0, where the
        # in-bucket sort's default asc_nulls_first puts them before every
        # value, exactly matching row_number().over(Window.orderBy(primary)).
        # (Heavily null columns concentrate in bucket 0 — same skew caveat as
        # any near-constant primary.)
        bucket = F.lit(0)
        for b in bounds:
            bucket = bucket + F.coalesce(
                F.col(primary) > F.lit(b), F.lit(False)
            ).cast("int")
        bucketed = bucketed.withColumn(bucket_cols[i], bucket)
        n_buckets_of.append(len(bounds) + 1)
    # ONE combined bucket-size job: a count-if per (rank, bucket id) — at most
    # k×B tiny aggregate expressions collapsing map-side into a single row
    # (zero-count buckets contribute 0 to every later offset, so including
    # them leaves each looked-up offset identical to the per-rank groupBy).
    size_row = bucketed.agg(
        *[
            F.sum((F.col(bucket_cols[i]) == F.lit(b)).cast("bigint")).alias(
                f"_c_{i}_{b}"
            )
            for i in range(len(rank_specs))
            for b in range(n_buckets_of[i])
        ]
    ).collect()[0]
    out = bucketed
    for i, (order_cols, rank_col) in enumerate(rank_specs):
        offsets, acc = {}, 0
        for b in range(n_buckets_of[i]):
            offsets[b] = acc
            acc += int(size_row[f"_c_{i}_{b}"] or 0)
        offset_expr = (
            F.create_map(
                *[F.lit(x) for kv in offsets.items() for x in kv]
            )[F.col(bucket_cols[i])]
            if offsets
            else F.lit(0)
        )
        local = F.row_number().over(
            Window.partitionBy(bucket_cols[i]).orderBy(*order_cols)
        )
        out = out.withColumn(rank_col, (local + offset_expr).cast("bigint"))
    return out.drop(*bucket_cols)


def ntile_from_rank(rank: Column, n_total: Column, n_buckets: int) -> Column:
    """Closed-form ANSI ntile bucket from an exact 1-based global rank.

    With N rows, q = N div n and r = N mod n: buckets 1..r hold q+1 rows,
    buckets r+1..n hold q. Pure arithmetic — pairs with ``with_global_rank``
    to replace a global ``ntile().over(Window.orderBy(...))`` without the
    single-partition sort. Handles N < n the way ntile does (row i → bucket i).
    """
    n = F.lit(n_buckets).cast("bigint")
    q = F.floor(n_total.cast("bigint") / n).cast("bigint")
    r = (n_total.cast("bigint") % n).cast("bigint")
    big = r * (q + 1)  # rows covered by the (q+1)-sized buckets
    return (
        F.when(rank <= big, F.floor((rank - 1) / (q + 1)) + 1)
        .otherwise(r + F.floor((rank - big - 1) / F.greatest(q, F.lit(1))) + 1)
        .cast("int")
    )


def approx_equidepth_buckets(
    df: DataFrame,
    value_col: str,
    n_buckets: int,
    accuracy: int = 10000,
    bucket_col: str = "bucket",
) -> DataFrame:
    """Approximate equi-depth bucketing — the sketch path for when the exact
    distributed rank hits the 100 TB wall (even with_global_rank pays one
    full-key B-way sort; a histogram/report rarely needs exact depths).

    One percentile_approx aggregate (Greenwald-Khanna sketch: mergeable
    partials, bounded memory) yields the n-1 inner edges; assignment back is
    a broadcast of ONE row and a map-side filter-count over the edges array —
    no window, no rank, no per-row shuffle beyond what the caller had.

    Error bound (GK guarantee, audited by the *_approx_audit registry
    queries): each edge's true rank is within N/accuracy of its target, so
    any bucket's population deviates from the exact ANSI-ntile depth by at
    most 2·N/accuracy (both of its edges displaced adversarially).

    Ties: rows equal to an edge value land in the LOWER bucket on both
    engines (strict `>` comparison) — deterministic, though bucket depths
    then absorb the whole tie group, exactly like exact ntile on ties.
    """
    if not 1 <= n_buckets <= 10_000:
        raise ValueError(f"n_buckets must be in [1, 10000], got {n_buckets}")
    if bucket_col in df.columns or "_edges" in df.columns:
        raise ValueError(f"reserved column {bucket_col!r}/'_edges' already present")
    pcts = F.array(
        *[F.lit(k / n_buckets) for k in range(1, n_buckets)]
    )
    edges = df.agg(
        F.percentile_approx(value_col, pcts, F.lit(accuracy)).alias("_edges")
    )
    bucket = (
        F.lit(1)
        + F.size(
            F.filter("_edges", lambda e: F.col(value_col) > e)
        )
    ).cast("int")
    return (
        df.crossJoin(F.broadcast(edges))
        .withColumn(bucket_col, bucket)
        .drop("_edges")
    )
