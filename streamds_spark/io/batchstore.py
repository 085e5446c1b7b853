"""Batch stores: the one on-disk layout behind every streaming job's state
and output — RainStorm's idempotent sink plus HyDFS merge (SURVEY.md §2.9
ST2/ST3, S6) as a directory rule:

    root/batch=<id>/     one micro-batch, (over)written by its batchId, so a
                         replayed batch lands in the same dir; it counts
                         once its `_SUCCESS` marker exists (torn dirs are
                         invisible)
    root/segment=<hi>/   compaction: committed batch dirs 0..hi folded into
                         one dir; the highest committed segment outranks
                         every batch dir at or below hi (a batch replayed
                         after compaction rewrites a dir no reader sees)

Any other name (`segment=3.rebuild`, `delta-*`, `tombstones/`) is not part
of the store. Readers list `committed(root, before)`: a batch probing the
store passes its own id as `before`, so a replay never reads its own
half-write. `compact` folds committed batch dirs up to the checkpoint's
`durable_frontier` — batches a replay can never re-run — with tombstoned
keys filtered out (io/tombstones.py)."""

from __future__ import annotations

import glob as _glob
import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession

_NAME = re.compile(r"(batch|segment)=(\d+)", re.ASCII)


def parse(path: str) -> "tuple[str, int] | None":
    """('batch'|'segment', id) for a store dir name, None for any other."""
    m = _NAME.fullmatch(os.path.basename(path.rstrip("/")))
    return (m.group(1), int(m.group(2))) if m else None


def segment_dir(root: str, hi: int) -> str:
    return os.path.join(root, f"segment={int(hi)}")


def _listing(root: str, kind: str) -> "list[tuple[int, str]]":
    """(id, dir) of every `kind` dir under root, torn ones too, id order."""
    out = []
    for d in _glob.glob(os.path.join(root, f"{kind}=*")):
        p = parse(d)
        if p is not None:
            out.append((p[1], d))
    return sorted(out)


def _is_committed(d: str) -> bool:
    return os.path.exists(os.path.join(d, "_SUCCESS"))


def write(
    df: DataFrame, root: str, batch_id: int, *, partition_by: "str | None" = None
) -> None:
    """Overwrite `root/batch=<batch_id>`; Spark's `_SUCCESS` is the commit."""
    writer = df.write.mode("overwrite")
    if partition_by is not None:
        writer = writer.partitionBy(partition_by)
    writer.parquet(os.path.join(root, f"batch={int(batch_id)}"))


def _segment_hi(root: str, before: "int | None") -> int:
    """Highest committed segment with hi < before (-1: none). Compaction
    only folds batches at or below the durable frontier and replays re-run
    only batches above it, so a live stream never meets hi >= before."""
    return max(
        (
            hi
            for hi, d in _listing(root, "segment")
            if (before is None or hi < before) and _is_committed(d)
        ),
        default=-1,
    )


def committed(root: str, before: "int | None" = None) -> "list[str]":
    """The dirs a reader folds, in id order: the highest committed segment,
    then every committed batch dir above it (and below `before`)."""
    hi = _segment_hi(root, before)
    out = [segment_dir(root, hi)] if hi >= 0 else []
    return out + [
        d
        for bid, d in _listing(root, "batch")
        if hi < bid and (before is None or bid < before) and _is_committed(d)
    ]


def latest(root: str) -> "str | None":
    """The newest committed dir, or None."""
    dirs = committed(root)
    return dirs[-1] if dirs else None


def segments(root: str) -> "list[str]":
    """Every committed segment dir, outranked ones included."""
    return [d for _, d in _listing(root, "segment") if _is_committed(d)]


def all_dirs(root: str) -> "list[str]":
    """Every batch and segment dir on disk, committed or torn."""
    return [d for kind in ("batch", "segment") for _, d in _listing(root, kind)]


def max_id(root: str) -> int:
    """Highest batch id with any presence in the store — committed, torn or
    folded into a segment (-1: none). A rebuilt segment must cover torn
    dirs too: a torn batch=N is the one a replay will rewrite."""
    return max((parse(d)[1] for d in all_dirs(root)), default=-1)


def fold_parts(root: str, upto: "int | None" = None) -> "list[str]":
    """The dirs `compact(root, upto)` folds: committed batch dirs in
    (segment hi, upto] plus that segment, or nothing when no batch dir
    qualifies. Sample-erosion accounting counts suppressed rows over the
    same call, so it counts exactly the rows the fold removes."""
    dirs = committed(root, None if upto is None else upto + 1)
    return dirs if any(parse(d)[0] == "batch" for d in dirs) else []


def read_partitioned(spark: SparkSession, dirs: "list[str]") -> "DataFrame | None":
    """Read the committed dirs of a `partition_by` store with ONE scan per
    dir class (batch / segment), not one per dir: the class's dirs share the
    root as basePath, so the partition column parses from the path, only
    the listed dirs are read, and a filter on it prunes as PartitionFilters.
    One scan over both classes is impossible (conflicting partition column
    names), and the per-dir alternative costs a task wave per dir (31 dirs
    -> 930 tasks, ~19x slower probes). None when no dir holds a file: a
    partitioned write of an empty batch commits a dir with no parquet."""
    groups: "dict[str, list[str]]" = {}
    for d in dirs:
        if _glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True):
            groups.setdefault(parse(d)[0], []).append(d)
    parts = [
        spark.read.option("basePath", os.path.dirname(ds[0])).parquet(*ds).drop(kind)
        for kind, ds in sorted(groups.items())
    ]
    if not parts:
        return None
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    return df


def compact(
    spark: SparkSession,
    root: str,
    upto: "int | None" = None,
    *,
    num_files: "int | None" = None,
    partition_by: "str | None" = None,
) -> int:
    """Fold committed batch dirs (id <= upto; all of them when None) plus the
    previous segment into one new `segment=<hi>`. Crash-safe: the segment is
    invisible until its _SUCCESS lands, and reclaiming what it subsumes is
    best-effort afterwards. Returns the number of batch dirs folded.

    The rewrite filters out every committed tombstone's keys — where deleted
    bytes physically disappear — and stages the tombstone dirs the fold
    covers for reclaim one pass later. A store with nothing to fold keeps
    its tombstones live (readers anti-join them)."""
    from streamds_spark.io import tombstones

    old_hi = _segment_hi(root, None if upto is None else upto + 1)
    for bid, d in _listing(root, "batch"):
        if bid <= old_hi:
            # garbage from a batch replayed after a previous compaction —
            # readers already skip it
            shutil.rmtree(d, ignore_errors=True)
    parts = fold_parts(root, upto)
    to_fold = [d for d in parts if parse(d)[0] == "batch"]
    if not to_fold:
        # reclaim what a PREVIOUS fold staged; stage nothing new
        tombstones.gc_then_stage(root, [])
        return 0
    tomb_dirs = [d for d, _ in tombstones.committed_dirs(root)]
    new_hi = parse(to_fold[-1])[1]
    if partition_by is None:
        # mergeSchema: a MIXED legacy/new view store must not let footer
        # sampling strip the __rows column from new partials during the
        # rewrite — that loss would be permanent
        df = spark.read.option("mergeSchema", "true").parquet(*parts)
    else:
        df = read_partitioned(spark, parts)
        if df is None:
            # committed-but-empty batches only: nothing to materialize
            for d in to_fold:
                shutil.rmtree(d, ignore_errors=True)
            return len(to_fold)
    df = tombstones.apply(df, root)
    if num_files is not None:
        df = df.coalesce(max(1, num_files))
    writer = df.write.mode("overwrite")
    if partition_by is not None:
        writer = writer.partitionBy(partition_by)
    writer.parquet(segment_dir(root, new_hi))
    # _SUCCESS is the commit point; everything below is reclaim
    for d in parts:
        shutil.rmtree(d, ignore_errors=True)
    eligible = set(tombstones.eligible_dirs(root, new_hi if upto is None else upto))
    tombstones.gc_then_stage(root, [d for d in tomb_dirs if d in eligible])
    return len(to_fold)


def durable_frontier(checkpoint: str) -> int:
    """Highest batch id a streaming checkpoint has COMMITTED (its
    `commits/<id>` marker lands after foreachBatch returns). Batches at or
    below it are never replayed, so they are safe to fold; -1: none yet."""
    commits = os.path.join(checkpoint, "commits")
    if not os.path.isdir(commits):
        return -1
    return max((int(n) for n in os.listdir(commits) if n.isdigit()), default=-1)
