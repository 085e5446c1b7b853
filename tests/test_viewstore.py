"""Generic incremental materialized view (streaming/viewstore.py):
stream==batch exactness for sum/count/min/max/avg, replay idempotence,
compaction invariance, spec validation, empty store."""

from __future__ import annotations

import os
import time

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from streamds_spark.catalog import load_table
from streamds_spark.streaming.viewstore import (
    ViewSpec,
    compact_view,
    run_view_stream,
    view_batch_state,
    view_report,
    write_view_batch,
)

SF = "/root/testdata/sf0.001"

SPEC = ViewSpec(
    keys=("lang", "source"),
    aggs={
        "n_docs": ("count", None),
        "total_chars": ("sum", "n_chars"),
        "min_doc": ("min", "doc_id"),
        "max_doc": ("max", "doc_id"),
        "avg_chars": ("avg", "n_chars"),
    },
)


def _split(src_dir: str, n_files: int = 4) -> None:
    tbl = pq.read_table(os.path.join(SF, "documents.parquet")).sort_by("doc_id")
    n = tbl.num_rows
    os.makedirs(src_dir, exist_ok=True)
    now = time.time()
    for i in range(n_files):
        part = tbl.slice(i * n // n_files, (i + 1) * n // n_files - i * n // n_files)
        path = os.path.join(src_dir, f"{i:03d}.parquet")
        pq.write_table(part, path)
        os.utime(path, (now - 100 + i, now - 100 + i))


def _batch_view(spark):
    docs = load_table(spark, SF, "documents")
    return docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
        (F.sum("n_chars") / F.count("n_chars")).alias("avg_chars"),
    )


def _rows(df):
    return sorted(tuple(r) for r in df.select(*sorted(df.columns)).collect())


@pytest.fixture(scope="module")
def drained(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("viewstore")
    src_dir, work_dir = str(root / "src"), str(root / "work")
    _split(src_dir)
    q = run_view_stream(spark, src_dir, work_dir, SPEC)
    q.awaitTermination(timeout=300)
    assert not q.isActive
    return src_dir, work_dir


def test_view_equals_batch_aggregate(spark, drained):
    _, work_dir = drained
    got = _rows(view_report(spark, work_dir, SPEC))
    want = _rows(_batch_view(spark))
    assert got == want and len(got) > 1


def test_replay_is_idempotent(spark, drained):
    """Rewriting a committed batch dir (what a post-crash replay does)
    leaves the view unchanged — partials are a pure function of the batch."""
    src_dir, work_dir = drained
    before = _rows(view_report(spark, work_dir, SPEC))
    first_file = sorted(os.listdir(src_dir))[0]
    batch0 = spark.read.parquet(os.path.join(src_dir, first_file))
    write_view_batch(batch0, 0, os.path.join(work_dir, "view_store"), SPEC)
    assert _rows(view_report(spark, work_dir, SPEC)) == before


def test_compaction_invariant(spark, drained):
    _, work_dir = drained
    before = _rows(view_report(spark, work_dir, SPEC))
    folded = compact_view(spark, work_dir, upto_batch=2)
    assert folded >= 1
    assert _rows(view_report(spark, work_dir, SPEC)) == before


def test_spec_validation(spark):
    with pytest.raises(ValueError):
        ViewSpec(keys=(), aggs={"n": ("count", None)})
    with pytest.raises(ValueError):
        ViewSpec(keys=("k",), aggs={})
    with pytest.raises(ValueError):
        ViewSpec(keys=("k",), aggs={"d": ("count_distinct", "x")})
    with pytest.raises(ValueError):
        ViewSpec(keys=("k",), aggs={"s": ("sum", None)})


def test_partials_one_row_per_batch_key(spark):
    df = spark.createDataFrame(
        [("a", 1), ("a", 3), ("b", 5)], "k string, v bigint"
    )
    spec = ViewSpec(keys=("k",), aggs={"s": ("sum", "v"), "n": ("count", None)})
    rows = {r["k"]: r for r in view_batch_state(df, spec).collect()}
    assert rows["a"]["s"] == 4 and rows["a"]["n"] == 2
    assert rows["b"]["s"] == 5 and rows["b"]["n"] == 1


def test_empty_store(spark, tmp_path):
    out = view_report(spark, str(tmp_path / "nowhere"), SPEC)
    assert out.count() == 0
    assert set(out.columns) == {"lang", "source", *SPEC.aggs}


def test_avg_partial_name_collision_refused(spark):
    with pytest.raises(ValueError, match="collision"):
        ViewSpec(keys=("k",), aggs={"v__sum": ("sum", "v"), "v": ("avg", "v")})


def test_empty_store_typed_with_src_schema(spark, tmp_path):
    from pyspark.sql.types import StructType

    src_schema = load_table(spark, SF, "documents").schema
    out = view_report(spark, str(tmp_path / "nowhere"), SPEC, src_schema=src_schema)
    assert out.count() == 0
    types = {f.name: f.dataType.simpleString() for f in out.schema.fields}
    assert types["n_docs"] == "bigint"
    assert types["lang"] == "string"
    assert types["min_doc"] == "bigint"
    assert "void" not in set(types.values())
    # parquet-writable (the null-typed fallback is not)
    out.write.parquet(str(tmp_path / "empty_view"))


def _mk(spark, rows):
    return spark.createDataFrame(rows, "k string, v bigint")


@pytest.mark.slow
def test_takedown_sum_count_exact_before_and_after_compaction(spark, tmp_path):
    """delete_from_view writes one negative-delta dir; the fold excludes the
    deleted rows' contribution exactly — before compaction, after a replay
    rewrite, and after compaction folds the positive dirs; a key losing all
    rows vanishes like it would from a batch aggregate."""
    from streamds_spark.streaming.viewstore import delete_from_view

    spec = ViewSpec(
        keys=("k",),
        aggs={"s": ("sum", "v"), "n": ("count", None), "a": ("avg", "v")},
    )
    work_dir = str(tmp_path / "work")
    store = os.path.join(work_dir, "view_store")
    b0, b1 = [("a", 1), ("a", 3), ("b", 5)], [("a", 10), ("c", 7)]
    write_view_batch(_mk(spark, b0), 0, store, spec)
    write_view_batch(_mk(spark, b1), 1, store, spec)
    # take down one of a's rows and ALL of b's
    delete_from_view(spark, work_dir, spec, _mk(spark, [("a", 3), ("b", 5)]))
    remaining = [("a", 1), ("a", 10), ("c", 7)]

    def want():
        return _rows(
            _mk(spark, remaining)
            .groupBy("k")
            .agg(
                F.sum("v").alias("s"),
                F.count(F.lit(1)).cast("bigint").alias("n"),
                (F.sum("v") / F.count("v")).alias("a"),
            )
        )

    got = _rows(view_report(spark, work_dir, spec))
    assert got == want()
    assert not any(r[1] == "b" for r in got)  # fully-deleted key vanished
    # a replayed batch rewrites identical partials: nothing resurrects
    write_view_batch(_mk(spark, b0), 0, store, spec)
    assert _rows(view_report(spark, work_dir, spec)) == want()
    # compaction folds the positive batch dirs; deltas survive untouched
    assert compact_view(spark, work_dir, upto_batch=1) == 2
    assert _rows(view_report(spark, work_dir, spec)) == want()
    # a second takedown AFTER compaction still subtracts exactly
    delete_from_view(spark, work_dir, spec, _mk(spark, [("c", 7)]))
    remaining = [("a", 1), ("a", 10)]
    assert _rows(view_report(spark, work_dir, spec)) == want()


def test_takedown_minmax_refused_then_rebuild(spark, tmp_path):
    """min/max cannot subtract: delete_from_view refuses the spec loudly;
    rebuild_view recomputes from the remaining source as segment=<hi>, and
    a replayed batch <= hi rewrites a dir readers skip — no resurrection."""
    from streamds_spark.streaming.viewstore import delete_from_view, rebuild_view

    spec = ViewSpec(
        keys=("k",), aggs={"lo": ("min", "v"), "hi": ("max", "v"), "n": ("count", None)}
    )
    work_dir = str(tmp_path / "work")
    store = os.path.join(work_dir, "view_store")
    # empty store: nothing to rebuild, and a segment now would shadow batch 0
    assert rebuild_view(spark, work_dir, spec, _mk(spark, [])) == -1
    b0, b1 = [("a", 1), ("a", 9), ("b", 5)], [("a", 4)]
    write_view_batch(_mk(spark, b0), 0, store, spec)
    write_view_batch(_mk(spark, b1), 1, store, spec)
    with pytest.raises(ValueError, match="min/max"):
        delete_from_view(spark, work_dir, spec, _mk(spark, [("a", 9)]))
    # rebuild from the remaining source: a's max drops to the runner-up
    remaining = [("a", 1), ("a", 4), ("b", 5)]
    assert rebuild_view(spark, work_dir, spec, _mk(spark, remaining)) == 1
    want = _rows(
        _mk(spark, remaining)
        .groupBy("k")
        .agg(
            F.min("v").alias("lo"),
            F.max("v").alias("hi"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
    )
    assert _rows(view_report(spark, work_dir, spec)) == want
    # replay of a pre-rebuild batch rewrites batch=0 with ORIGINAL (deleted)
    # content — readers skip it (bid <= segment hi): no resurrection
    write_view_batch(_mk(spark, b0), 0, store, spec)
    assert _rows(view_report(spark, work_dir, spec)) == want
    # genuinely NEW batches above hi fold in additively
    write_view_batch(_mk(spark, [("c", 2)]), 2, store, spec)
    assert any(r[1] == "c" for r in _rows(view_report(spark, work_dir, spec)))


def test_legacy_store_without_rows_partial_still_folds(spark, tmp_path):
    """A store written before the __rows presence partial existed (no
    takedown deltas possible there) must keep folding — presence pruning is
    vacuous on it, and requiring the column would break every pre-existing
    view on read."""
    from streamds_spark.streaming.viewstore import view_batch_state, view_fold

    spec = ViewSpec(keys=("k",), aggs={"s": ("sum", "v")})
    df = spark.createDataFrame([("a", 1), ("a", 3), ("b", 5)], "k string, v bigint")
    work_dir = str(tmp_path / "work")
    store = os.path.join(work_dir, "view_store")
    # simulate a legacy dir: today's partials minus the presence column
    view_batch_state(df, spec).drop("__rows").write.parquet(
        os.path.join(store, "batch=0")
    )
    got = {r["k"]: r["s"] for r in view_report(spark, work_dir, spec).collect()}
    assert got == {"a": 4, "b": 5}


def test_rebuild_twice_exercises_same_hi_rename_aside(spark, tmp_path):
    """A second rebuild on an already-rebuilt store hits the same-hi
    segment collision: the old segment is renamed aside, the new one
    committed, and the reclaim pass leaves exactly one committed segment."""
    import glob

    from streamds_spark.streaming.viewstore import rebuild_view, write_view_batch

    spec = ViewSpec(keys=("k",), aggs={"hi": ("max", "v")}) 
    work_dir = str(tmp_path / "work")
    store = os.path.join(work_dir, "view_store")
    df = spark.createDataFrame([("a", 1), ("a", 9)], "k string, v bigint")
    write_view_batch(df, 0, store, spec)
    assert rebuild_view(spark, work_dir, spec, df) == 0
    keep = spark.createDataFrame([("a", 1)], "k string, v bigint")
    assert rebuild_view(spark, work_dir, spec, keep) == 0
    rows = {r["k"]: r["hi"] for r in view_report(spark, work_dir, spec).collect()}
    assert rows == {"a": 1}
    names = sorted(os.path.basename(d) for d in glob.glob(os.path.join(store, "*")))
    assert names == ["segment=0"], names


def test_reserved_rows_partial_refused(spark):
    from streamds_spark.streaming.viewstore import _ROWS

    with pytest.raises(ValueError, match="reserved"):
        ViewSpec(keys=("k",), aggs={_ROWS: ("sum", "v")})
    with pytest.raises(ValueError, match="reserved"):
        ViewSpec(keys=(_ROWS,), aggs={"s": ("sum", "v")})


def test_approx_distinct_fold_exact_below_k_and_stream_equals_batch(spark, tmp_path):
    """The opt-in approx_distinct aggregate: per-trigger KMV partials fold
    to exactly the whole-data sketch, the estimate is EXACT below k distinct
    values per key, NULLs don't count (COUNT DISTINCT semantics), the
    streamed view equals the one-shot batch view, and takedown refuses the
    spec (sketches cannot subtract) while rebuild_view handles it."""
    from streamds_spark.streaming.viewstore import (
        delete_from_view,
        rebuild_view,
        run_view_stream,
        view_batch_state,
        view_fold,
    )

    def mk(rows):
        return spark.createDataFrame(rows, "k string, v string")

    spec = ViewSpec(
        keys=("k",), aggs={"dv": ("approx_distinct", "v"), "n": ("count", None)}
    )
    b0 = mk([("a", "x"), ("a", "y"), ("b", "x"), ("a", None)])
    b1 = mk([("a", "y"), ("a", "z"), ("c", "w")])
    store = view_batch_state(b0, spec).unionByName(view_batch_state(b1, spec))
    got = {r["k"]: r for r in view_fold(store, spec).collect()}
    # exact below k: a saw {x,y,z} across triggers (y twice, NULL ignored)
    assert got["a"]["dv"] == 3.0 and got["a"]["n"] == 5
    assert got["b"]["dv"] == 1.0 and got["c"]["dv"] == 1.0

    # stream == batch over the real documents split
    spec2 = ViewSpec(keys=("lang",), aggs={"dv": ("approx_distinct", "text")})
    src_dir, work_dir = str(tmp_path / "src"), str(tmp_path / "work")
    _split(src_dir)
    q = run_view_stream(spark, src_dir, work_dir, spec2)
    q.awaitTermination(timeout=300)
    assert not q.isActive
    streamed = _rows(view_report(spark, work_dir, spec2))
    docs = load_table(spark, SF, "documents")
    batch = _rows(view_fold(view_batch_state(docs, spec2), spec2))
    assert streamed == batch and len(streamed) > 1
    # sanity: the estimate tracks the exact distinct count within ~4 sigma
    # (sigma ~ 1/sqrt(k-2)) wherever the sketch saturated, exact elsewhere
    exact = {
        r["lang"]: r["n"]
        for r in docs.select("lang", "text")
        .distinct()
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for r in view_report(spark, work_dir, spec2).collect():
        want = exact[r["lang"]]
        if want < spec2.kmv_k:
            assert r["dv"] == float(want)
        else:
            assert abs(r["dv"] - want) / want < 4 / (spec2.kmv_k - 2) ** 0.5

    # takedown: sketches cannot subtract — refuse; rebuild_view covers it
    with pytest.raises(ValueError, match="approx_distinct"):
        delete_from_view(spark, work_dir, spec2, docs.limit(1))
    keep = docs.filter(F.col("doc_id") % 2 == 0)
    assert rebuild_view(spark, work_dir, spec2, keep) >= 0
    rebuilt = _rows(view_report(spark, work_dir, spec2))
    assert rebuilt == _rows(view_fold(view_batch_state(keep, spec2), spec2))


def test_mixed_legacy_and_new_store_folds_and_refuses_delete(spark, tmp_path):
    """A MIXED store (legacy dir without __rows + new dirs with it) reads
    under mergeSchema: legacy keys fold with presence 1 (never vanish
    spuriously), new-dir presence arithmetic stays exact — and takedown
    REFUSES the store (legacy presence counts are unknowable)."""
    from streamds_spark.streaming.viewstore import (
        delete_from_view,
        view_batch_state,
    )

    spec = ViewSpec(keys=("k",), aggs={"s": ("sum", "v")})
    work_dir = str(tmp_path / "work")
    store = os.path.join(work_dir, "view_store")
    old = spark.createDataFrame([("a", 1), ("b", 5)], "k string, v bigint")
    new = spark.createDataFrame([("a", 3), ("c", 7)], "k string, v bigint")
    # legacy dir: today's partials minus the presence column
    view_batch_state(old, spec).drop("__rows").write.parquet(
        os.path.join(store, "batch=0")
    )
    write_view_batch(new, 1, store, spec)
    got = {r["k"]: r["s"] for r in view_report(spark, work_dir, spec).collect()}
    assert got == {"a": 4, "b": 5, "c": 7}
    with pytest.raises(ValueError, match="legacy"):
        delete_from_view(spark, work_dir, spec, new.limit(1))
    # compaction reads under mergeSchema too: the rewritten segment keeps
    # the NEW dirs' __rows (NULL for legacy rows) — the view is unchanged
    # and the legacy refusal persists (presence still unknowable)
    assert compact_view(spark, work_dir, upto_batch=1) == 2
    got2 = {r["k"]: r["s"] for r in view_report(spark, work_dir, spec).collect()}
    assert got2 == {"a": 4, "b": 5, "c": 7}
    with pytest.raises(ValueError, match="legacy"):
        delete_from_view(spark, work_dir, spec, new.limit(1))


def test_interrupted_rebuild_self_heals(spark, tmp_path):
    """A rebuild that crashed between its two renames (aside done, install
    not) leaves segment=<hi>.old-* + a committed segment=<hi>.rebuild and
    NO live segment — the next reader or rebuild completes the install
    instead of serving an empty view."""
    import glob

    from streamds_spark.streaming.viewstore import rebuild_view, write_view_batch

    spec = ViewSpec(keys=("k",), aggs={"hi": ("max", "v")})
    work_dir = str(tmp_path / "work")
    store = os.path.join(work_dir, "view_store")
    df = spark.createDataFrame([("a", 1), ("a", 9)], "k string, v bigint")
    write_view_batch(df, 0, store, spec)
    assert rebuild_view(spark, work_dir, spec, df) == 0
    seg = os.path.join(store, "segment=0")
    # simulate the crash window: committed rebuild present, segment aside'd
    import shutil as _sh

    _sh.copytree(seg, seg + ".rebuild")
    os.rename(seg, seg + ".old-deadbeef")
    assert not os.path.isdir(seg)
    # a plain read self-heals: the committed rebuild is installed
    rows = {r["k"]: r["hi"] for r in view_report(spark, work_dir, spec).collect()}
    assert rows == {"a": 9}
    assert os.path.exists(os.path.join(seg, "_SUCCESS"))
    assert glob.glob(os.path.join(store, "segment=*.old-*")) == []
    assert glob.glob(os.path.join(store, "segment=*.rebuild")) == []
    # and a rebuild right after a (recovered) crash works normally
    keep = spark.createDataFrame([("a", 1)], "k string, v bigint")
    assert rebuild_view(spark, work_dir, spec, keep) == 0
    rows = {r["k"]: r["hi"] for r in view_report(spark, work_dir, spec).collect()}
    assert rows == {"a": 1}


@pytest.mark.slow
def test_pnn_quantiles_fold_stream_and_exact_delete(spark, tmp_path):
    """pNN quantile aggregates: per-key HDR histogram partials fold to the
    batch sketch exactly, the streamed view equals the one-shot batch view,
    the rank convention matches hdr_quantiles bit-for-bit, and — because
    histogram counts are ADDITIVE — takedown subtracts EXACTLY (the view
    after delete equals the batch view over the remaining rows)."""
    from streamds_spark.operators.hdr import hdr_quantiles, hdr_registers
    from streamds_spark.streaming.viewstore import (
        delete_from_view,
        run_view_stream,
        view_batch_state,
        view_fold,
    )

    spec = ViewSpec(
        keys=("k",),
        aggs={"med": ("p50", "v"), "tail": ("p99", "v"), "n": ("count", None)},
    )
    rows = (
        [("a", i * 7) for i in range(1, 41)]
        + [("b", 2 ** i) for i in range(12)]
        + [("a", None), ("b", -5)]  # NULL and negative: excluded from the sketch
    )
    df = spark.createDataFrame(rows, "k string, v bigint")
    b0 = df.where((F.col("v").isNull()) | (F.col("v") % 2 == 0))
    b1 = df.subtract(b0)
    store = view_batch_state(b0, spec).unionByName(view_batch_state(b1, spec))
    got = {r["k"]: r for r in view_fold(store, spec).collect()}
    # parity with the standalone HDR sketch at the same quantiles
    for key in ("a", "b"):
        regs = hdr_registers(
            df.where(F.col("k") == key), "v"
        )
        want = {
            r["tag"]: r["mid"]
            for r in hdr_quantiles(regs, {"med": 0.5, "tail": 0.99}).collect()
        }
        assert got[key]["med"] == want["med"], key
        assert got[key]["tail"] == want["tail"], key
    assert got["a"]["n"] == 41 and got["b"]["n"] == 13  # counts include NULL rows

    # stream == batch over the documents table (n_chars quantiles per lang)
    spec2 = ViewSpec(keys=("lang",), aggs={"p90_chars": ("p90", "n_chars")})
    src_dir, work_dir = str(tmp_path / "src"), str(tmp_path / "work")
    _split(src_dir)
    q = run_view_stream(spark, src_dir, work_dir, spec2)
    q.awaitTermination(timeout=300)
    assert not q.isActive
    docs = load_table(spark, SF, "documents")
    assert _rows(view_report(spark, work_dir, spec2)) == _rows(
        view_fold(view_batch_state(docs, spec2), spec2)
    )

    # takedown subtracts exactly: delete every doc_id % 3 == 0 row and the
    # folded quantile equals the batch sketch over the remaining rows
    doomed = docs.where(F.col("doc_id") % 3 == 0)
    delete_from_view(spark, work_dir, spec2, doomed)
    remaining = docs.where(F.col("doc_id") % 3 != 0)
    assert _rows(view_report(spark, work_dir, spec2)) == _rows(
        view_fold(view_batch_state(remaining, spec2), spec2)
    )
    # and compaction keeps it invariant (mergeSchema fold path)
    assert compact_view(spark, work_dir, upto_batch=1) >= 1
    assert _rows(view_report(spark, work_dir, spec2)) == _rows(
        view_fold(view_batch_state(remaining, spec2), spec2)
    )


@pytest.mark.slow
def test_pnn_nullable_key_group(spark):
    """A view keyed on a NULLABLE column: groupBy treats NULL as a real
    group, so the pNN histogram attach and the read-time quantile join must
    be NULL-SAFE (eqNullSafe) — a plain equi-join would leave the NULL-key
    group's quantile NULL while its sum/count (same groupBy) are correct,
    breaking fold == one-pass batch for pNN kinds only (ADVICE r10)."""
    from streamds_spark.streaming.viewstore import view_batch_state, view_fold

    spec = ViewSpec(
        keys=("k",), aggs={"med": ("p50", "v"), "total": ("sum", "v")}
    )
    rows = [("a", 10), ("a", 20), (None, 7), (None, 9), (None, 1000)]
    df = spark.createDataFrame(rows, "k string, v bigint")
    # single-batch fold: the NULL-key group must carry a real quantile
    got = {r["k"]: r for r in view_fold(view_batch_state(df, spec), spec).collect()}
    assert set(got) == {"a", None}
    assert got[None]["total"] == 1016
    assert got[None]["med"] is not None and got["a"]["med"] is not None
    # multi-batch fold equals the one-pass batch answer, NULL group included
    b0 = df.where(F.col("v") < 15)
    b1 = df.where(F.col("v") >= 15)
    folded = view_fold(
        view_batch_state(b0, spec).unionByName(view_batch_state(b1, spec)), spec
    )

    def _nrows(d):  # _rows, but tolerant of a NULL key in the sort
        return sorted(
            (tuple(r) for r in d.select(*sorted(d.columns)).collect()),
            key=lambda t: tuple((v is None, v) for v in t),
        )

    assert _nrows(folded) == _nrows(view_fold(view_batch_state(df, spec), spec))


def test_rebuild_flag_token_lifecycle(spark, tmp_path):
    """Wave-2 pin: a flag set by a FAILED attempt of a takedown clears when
    the SAME takedown (same idempotency token) later commits its delta —
    while flags from OTHER pending takedowns survive, a re-mark of the same
    token never double-counts, and rebuild_view still clears everything."""
    import os

    from streamds_spark.streaming.viewstore import (
        cascade_delete_to_views,
        clear_rebuild_required,
        mark_rebuild_required,
        rebuild_required,
        register_view,
        write_view_batch,
    )

    work = str(tmp_path / "pipe")
    spec = ViewSpec(keys=("k",), aggs={"s": ("sum", "v")})
    vdir = register_view(work, "byk", spec)
    df = spark.createDataFrame([("a", 1), ("a", 3), ("b", 5)], "k string, v bigint")
    write_view_batch(df, 0, os.path.join(vdir, "view_store"), spec)

    # two distinct failed takedowns flag two entries; re-marking one is idempotent
    mark_rebuild_required(vdir, {"action": "delete_docs", "reason": "x", "token": "td-1-aa"})
    mark_rebuild_required(vdir, {"action": "delete_docs", "reason": "y", "token": "td-1-bb"})
    mark_rebuild_required(vdir, {"action": "delete_docs", "reason": "x2", "token": "td-1-aa"})
    m = rebuild_required(vdir)
    assert m["pending_takedowns"] == 2
    assert sorted(e["token"] for e in m["entries"]) == ["td-1-aa", "td-1-bb"]

    # the documented re-run: takedown td-1-aa now succeeds through the
    # cascade — its entry clears, the other stays
    doomed = df.where("v = 3")
    out = cascade_delete_to_views(spark, work, doomed, idempotency_token="td-1-aa")
    assert out["byk"].startswith("delta:")
    m2 = rebuild_required(vdir)
    assert m2["pending_takedowns"] == 1
    assert m2["entries"][0]["token"] == "td-1-bb"

    # token-scoped clear of a token that isn't flagged is a no-op
    clear_rebuild_required(vdir, token="td-9-zz")
    assert rebuild_required(vdir)["pending_takedowns"] == 1
    # clearing the last token drops the whole flag
    clear_rebuild_required(vdir, token="td-1-bb")
    assert rebuild_required(vdir) is None


def test_rebuild_flag_legacy_marker_migration(spark, tmp_path):
    """Wave-3 pins: a pre-entries legacy marker (single record with an
    accumulated pending_takedowns count) must (1) keep reporting its FULL
    count after new-format marks extend it, and (2) survive a token-scoped
    clear (it carries no token, so no token can identify-and-drop it)."""
    import json
    import os

    from streamds_spark.streaming.viewstore import (
        clear_rebuild_required,
        mark_rebuild_required,
        rebuild_required,
    )

    vdir = str(tmp_path / "v")
    os.makedirs(vdir)
    legacy = {
        "action": "delete_docs",
        "reason": "old",
        "ts": 1.0,
        "pending_takedowns": 3,
    }
    with open(os.path.join(vdir, "rebuild_required.json"), "w") as f:
        f.write(json.dumps(legacy) + "\n")

    mark_rebuild_required(
        vdir, {"action": "delete_docs", "reason": "new", "token": "td-1-cc"}
    )
    m = rebuild_required(vdir)
    assert m["pending_takedowns"] == 4  # 3 legacy + 1 new
    # token-scoped clear drops only the token's entry; legacy count remains
    clear_rebuild_required(vdir, token="td-1-cc")
    m2 = rebuild_required(vdir)
    assert m2 is not None and m2["pending_takedowns"] == 3
    # a token clear against a PURE legacy marker is a no-op, not a wipe
    clear_rebuild_required(vdir, token="td-9-zz")
    assert rebuild_required(vdir)["pending_takedowns"] == 3
    # the rebuild path clears everything
    clear_rebuild_required(vdir)
    assert rebuild_required(vdir) is None


def test_token_delta_rewrite_never_destroys_committed(spark, tmp_path):
    """Wave-3 pin: rewriting a token-named delta stages into a dot-prefixed
    tmp (invisible to the delta glob) and swaps by rename — at no point is
    the committed subtraction deleted-before-replaced, and a re-run leaves
    exactly one committed delta dir with the rewritten content."""
    import os

    from streamds_spark.streaming.viewstore import (
        _committed_delta_dirs,
        delete_from_view,
    )

    spec = ViewSpec(keys=("k",), aggs={"s": ("sum", "v")})
    work = str(tmp_path / "w")
    store = os.path.join(work, "view_store")
    df = spark.createDataFrame(
        [("a", 1), ("a", 3), ("b", 5)], "k string, v bigint"
    )
    write_view_batch(df, 0, store, spec)
    doomed = spark.createDataFrame([("a", 3)], "k string, v bigint")
    d1 = delete_from_view(spark, work, spec, doomed, idempotency_token="tk")
    d2 = delete_from_view(spark, work, spec, doomed, idempotency_token="tk")
    assert d1 == d2
    deltas = _committed_delta_dirs(store)
    assert len(deltas) == 1 and deltas[0].endswith("delta-tk")
    assert not [n for n in os.listdir(store) if n.startswith(".delta-")]
    got = {r["k"]: r["s"] for r in view_report(spark, work, spec).collect()}
    assert got == {"a": 1, "b": 5}
    # a stale crash artifact (committed tmp) is swept by the next rewrite
    import shutil as _sh

    _sh.copytree(deltas[0], os.path.join(store, ".delta-tk.rewrite"))
    d3 = delete_from_view(spark, work, spec, doomed, idempotency_token="tk")
    assert d3 == d1
    assert not [n for n in os.listdir(store) if n.startswith(".delta-")]
    assert {r["k"]: r["s"] for r in view_report(spark, work, spec).collect()} == {
        "a": 1, "b": 5,
    }


def test_rebuild_crash_window_stale_delta_not_double_subtracted(spark, tmp_path):
    """The crash window between rebuild_view's commit point and its
    reclaim loop used to leave committed delta dirs folding ON TOP of the
    rebuilt segment (double-subtraction: keys vanishing with rows still in
    the source). The segment's _subsumed_deltas.json manifest — installed
    atomically with the segment — excludes them from every fold, and the
    reader-side recovery sweep reclaims the stale dirs."""
    import glob as _g
    import shutil as _sh

    from streamds_spark.streaming.viewstore import delete_from_view, rebuild_view

    spec = ViewSpec(keys=("k",), aggs={"s": ("sum", "v")})
    work_dir = str(tmp_path / "work")
    store = os.path.join(work_dir, "view_store")
    write_view_batch(_mk(spark, [("a", 1), ("a", 2), ("a", 3)]), 0, store, spec)
    delete_from_view(spark, work_dir, spec, _mk(spark, [("a", 1), ("a", 2)]))
    assert {r["k"]: r["s"] for r in view_report(spark, work_dir, spec).collect()} == {
        "a": 3
    }
    delta = _g.glob(os.path.join(store, "delta-*"))[0]
    saved = str(tmp_path / "saved_delta")
    _sh.copytree(delta, saved)
    assert rebuild_view(spark, work_dir, spec, _mk(spark, [("a", 3)])) == 0
    # simulate the crash: the reclaim loop never ran — stale delta on disk
    _sh.copytree(saved, os.path.join(store, os.path.basename(delta)))
    got = {r["k"]: r["s"] for r in view_report(spark, work_dir, spec).collect()}
    assert got == {"a": 3}  # not vanished, not 3-3=0
    # readers never delete (a reader racing a writer's commit must not be
    # able to rmtree it); the next WRITER op reclaims the stale dir
    compact_view(spark, work_dir, upto_batch=0)
    assert _g.glob(os.path.join(store, "delta-*")) == []
    assert {r["k"]: r["s"] for r in view_report(spark, work_dir, spec).collect()} == {
        "a": 3
    }


def test_token_delta_rerun_after_rebuild_is_excluded(spark, tmp_path):
    """A token takedown re-RUN after its rebuild already baked it into the
    recomputed partials must not subtract again — the subsumed manifest is
    the applied-takedown memory."""
    from streamds_spark.streaming.viewstore import delete_from_view, rebuild_view

    spec = ViewSpec(keys=("k",), aggs={"s": ("sum", "v")})
    work_dir = str(tmp_path / "work")
    store = os.path.join(work_dir, "view_store")
    write_view_batch(_mk(spark, [("a", 1), ("a", 5)]), 0, store, spec)
    delete_from_view(
        spark, work_dir, spec, _mk(spark, [("a", 1)]), idempotency_token="t1"
    )
    assert rebuild_view(spark, work_dir, spec, _mk(spark, [("a", 5)])) == 0
    # operational retry of the same takedown: writes delta-t1 afresh...
    delete_from_view(
        spark, work_dir, spec, _mk(spark, [("a", 1)]), idempotency_token="t1"
    )
    # ...but the fold excludes it: a:5, not a:4
    assert {r["k"]: r["s"] for r in view_report(spark, work_dir, spec).collect()} == {
        "a": 5
    }


def test_compaction_preserves_subsumed_memory(spark, tmp_path):
    """compact_view's generic fold destroys the old segment — the carrier
    of the subsumed-delta manifest. The wrapper rewrites the memory into
    the new segment, so a token takedown re-run AFTER rebuild + compaction
    is still excluded instead of double-subtracting."""
    from streamds_spark.streaming.viewstore import delete_from_view, rebuild_view

    spec = ViewSpec(keys=("k",), aggs={"s": ("sum", "v")})
    work_dir = str(tmp_path / "work")
    store = os.path.join(work_dir, "view_store")
    write_view_batch(_mk(spark, [("a", 1), ("a", 5)]), 0, store, spec)
    delete_from_view(
        spark, work_dir, spec, _mk(spark, [("a", 1)]), idempotency_token="t1"
    )
    assert rebuild_view(spark, work_dir, spec, _mk(spark, [("a", 5)])) == 0
    # new batches arrive, then compaction folds them + the rebuilt segment
    write_view_batch(_mk(spark, [("a", 2)]), 1, store, spec)
    assert compact_view(spark, work_dir, upto_batch=1) >= 1
    # the takedown re-runs after all that: still excluded (a:7, not a:6)
    delete_from_view(
        spark, work_dir, spec, _mk(spark, [("a", 1)]), idempotency_token="t1"
    )
    assert {r["k"]: r["s"] for r in view_report(spark, work_dir, spec).collect()} == {
        "a": 7
    }


def test_recovery_regenerates_missing_manifest(spark, tmp_path):
    """A rebuild that crashed between its parquet write and its manifest
    write leaves a committed-but-manifest-less tmp: the recovery installer
    regenerates the manifest from the deltas on disk before installing, so
    the pre-rebuild deltas cannot subtract again on top of the rebuilt
    partials."""
    import glob as _g
    import shutil as _sh

    from streamds_spark.streaming.viewstore import (
        _SUBSUMED_MANIFEST,
        delete_from_view,
        rebuild_view,
    )

    spec = ViewSpec(keys=("k",), aggs={"s": ("sum", "v")})
    work_dir = str(tmp_path / "work")
    store = os.path.join(work_dir, "view_store")
    write_view_batch(_mk(spark, [("a", 1), ("a", 2), ("a", 4)]), 0, store, spec)
    delete_from_view(spark, work_dir, spec, _mk(spark, [("a", 1), ("a", 2)]))
    delta = _g.glob(os.path.join(store, "delta-*"))[0]
    saved = str(tmp_path / "saved_delta")
    _sh.copytree(delta, saved)
    assert rebuild_view(spark, work_dir, spec, _mk(spark, [("a", 4)])) == 0
    seg = os.path.join(store, "segment=0")
    # reconstruct the crash state: committed tmp WITHOUT a manifest, no
    # live segment, the pre-rebuild delta never reclaimed
    os.rename(seg, seg + ".rebuild")
    os.remove(os.path.join(seg + ".rebuild", _SUBSUMED_MANIFEST))
    _sh.copytree(saved, os.path.join(store, os.path.basename(delta)))
    got = {r["k"]: r["s"] for r in view_report(spark, work_dir, spec).collect()}
    assert got == {"a": 4}  # not 4-3=1: the regenerated manifest excludes it
    assert os.path.exists(os.path.join(seg, _SUBSUMED_MANIFEST))


def test_pnn_key_named_n_not_clobbered(spark, tmp_path):
    """The pNN fold binds working columns for bucket/count/cumsum/total —
    these are dunder-namespaced so a view KEY named 'n' (or 'b'/'c'/'cum')
    is never clobbered mid-plan (a bare withColumn('n', ...) used to
    replace the key with the per-key total, grouping the quantile frame on
    counts and attaching wrong-row quantiles)."""
    spec = ViewSpec(keys=("n",), aggs={"p50": ("p50", "v")})
    work_dir = str(tmp_path / "work")
    store = os.path.join(work_dir, "view_store")
    df = spark.createDataFrame(
        [("a", 10), ("a", 20), ("a", 30), ("b", 7)], "n string, v bigint"
    )
    write_view_batch(df, 0, store, spec)
    got = {r["n"]: r["p50"] for r in view_report(spark, work_dir, spec).collect()}
    # HDR buckets are exact below the linear/log boundary: mids == values
    assert got == {"a": 20, "b": 7}


def test_view_status_counts_what_the_fold_reads(tmp_path):
    """A batch replayed after compaction and a segment an interrupted GC
    left behind are both outranked by segment=3: the fold reads segment=3
    and batch=4 only, and view_status counts exactly those."""
    from streamds_spark.streaming.viewstore import view_status

    for name in ["segment=1", "segment=3", "batch=2", "batch=4"]:
        d = tmp_path / "view_store" / name
        d.mkdir(parents=True)
        (d / "_SUCCESS").touch()
    assert view_status(str(tmp_path)) == {
        "n_batch_dirs": 1,
        "n_segments": 1,
        "n_deltas": 0,
        "rebuild_required": 0,
    }
