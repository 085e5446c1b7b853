"""The batch-store layout (io/batchstore.py) on hand-built dirs: which dirs
a reader folds, in which order, and what compaction and the durable
frontier see. No Spark job runs here."""

from __future__ import annotations

import os

from streamds_spark.io import batchstore


def _mk(root, name: str, committed: bool = True) -> None:
    d = root / name
    d.mkdir(parents=True)
    if committed:
        (d / "_SUCCESS").touch()


def _names(dirs) -> "list[str]":
    return [os.path.basename(d) for d in dirs]


def test_before_bound_and_torn_dirs(tmp_path):
    """A batch probing the store never sees its own dir or a later one, and
    a torn dir (no _SUCCESS) is invisible at any bound."""
    for bid, ok in [(0, True), (1, True), (2, False), (3, True), (4, True)]:
        _mk(tmp_path, f"batch={bid}", ok)
    assert _names(batchstore.committed(str(tmp_path), 3)) == ["batch=0", "batch=1"]
    assert _names(batchstore.committed(str(tmp_path))) == [
        "batch=0",
        "batch=1",
        "batch=3",
        "batch=4",
    ]
    assert batchstore.committed(str(tmp_path), 0) == []
    assert _names([batchstore.latest(str(tmp_path))]) == ["batch=4"]


def test_highest_segment_outranks_replayed_batch_and_older_segment(tmp_path):
    for name in ["segment=1", "segment=3", "batch=2", "batch=4"]:
        _mk(tmp_path, name)
    _mk(tmp_path, "segment=5", committed=False)  # a fold that crashed mid-write
    root = str(tmp_path)
    assert _names(batchstore.committed(root)) == ["segment=3", "batch=4"]
    # a probe below the newer segment falls back to what it could see then
    assert _names(batchstore.committed(root, 3)) == ["segment=1", "batch=2"]
    assert _names(batchstore.segments(root)) == ["segment=1", "segment=3"]
    assert _names([batchstore.latest(root)]) == ["batch=4"]


def test_numeric_order(tmp_path):
    for bid in (10, 9, 100, 2):
        _mk(tmp_path, f"batch={bid}")
    assert _names(batchstore.committed(str(tmp_path))) == [
        "batch=2",
        "batch=9",
        "batch=10",
        "batch=100",
    ]
    assert _names([batchstore.latest(str(tmp_path))]) == ["batch=100"]


def test_non_integer_names_are_not_store_dirs(tmp_path):
    for name in [
        "segment=3.rebuild",
        "segment=2.old-1a2b3c4d",
        "batch=x",
        "batch=-1",
        "batch=1_0",
        "delta-7",
        "batch=1",
    ]:
        _mk(tmp_path, name)
    root = str(tmp_path)
    assert _names(batchstore.committed(root)) == ["batch=1"]
    assert _names(batchstore.all_dirs(root)) == ["batch=1"]
    assert batchstore.parse(os.path.join(root, "segment=3.rebuild")) is None
    assert batchstore.parse(os.path.join(root, "segment=3")) == ("segment", 3)
    assert batchstore.parse(os.path.join(root, "batch=12") + "/") == ("batch", 12)


def test_max_id_counts_torn_and_folded_dirs(tmp_path):
    root = str(tmp_path)
    assert batchstore.max_id(root) == -1
    _mk(tmp_path, "segment=4")
    assert batchstore.max_id(root) == 4
    _mk(tmp_path, "batch=7", committed=False)
    assert batchstore.max_id(root) == 7
    assert batchstore.latest(root).endswith("segment=4")


def test_fold_parts_and_replay_garbage(tmp_path):
    """The fold set is (segment hi, upto]; with no batch dir in it there is
    nothing to fold. Compaction reclaims a batch dir a replay wrote below
    the segment's hi even when it folds nothing (no Spark job needed)."""
    for name in ["segment=1", "batch=2", "batch=3", "batch=4"]:
        _mk(tmp_path, name)
    root = str(tmp_path)
    assert _names(batchstore.fold_parts(root, 3)) == [
        "segment=1",
        "batch=2",
        "batch=3",
    ]
    assert batchstore.fold_parts(root, 1) == []
    assert _names(batchstore.fold_parts(root)) == [
        "segment=1",
        "batch=2",
        "batch=3",
        "batch=4",
    ]

    _mk(tmp_path / "replayed", "segment=5")
    _mk(tmp_path / "replayed", "batch=5")  # rewritten after the fold
    replayed = str(tmp_path / "replayed")
    assert batchstore.compact(None, replayed, 5) == 0
    assert _names(batchstore.all_dirs(replayed)) == ["segment=5"]


def test_durable_frontier(tmp_path):
    ckpt = tmp_path / "checkpoint"
    assert batchstore.durable_frontier(str(ckpt)) == -1
    commits = ckpt / "commits"
    commits.mkdir(parents=True)
    assert batchstore.durable_frontier(str(ckpt)) == -1
    for name in ["0", "1", "10", "2", ".10.crc", "11.tmp"]:
        (commits / name).touch()
    assert batchstore.durable_frontier(str(ckpt)) == 10
