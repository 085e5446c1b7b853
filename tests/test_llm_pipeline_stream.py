"""Streaming twin of llm_pipeline_v2 (streaming/llm_pipeline.py): the
continuous ingest pipeline (readStream → hygiene gates → per-batch + hash-
store exact dedup → bucket-store near-dup probe → appendlog corpus store)
must reproduce the batch pipeline's output after draining the same input —
including across a stop, new data, and a checkpointed restart."""

from __future__ import annotations

import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from streamds_spark.catalog import load_table
from streamds_spark.io import appendlog
from streamds_spark.queries.llmdata.corpus import (
    pipeline_cap_report,
    pipeline_exact_dedup,
    pipeline_gate,
)
from streamds_spark.streaming.llm_pipeline import (
    CorpusStreamPaths,
    corpus_report,
    run_llm_corpus_stream,
)

SF = "/root/testdata/sf0.001"


def _split_into_files(spark, src_dir: str, n_files: int = 4) -> None:
    """Write the sf0.001 documents as n doc_id-ordered parquet files with
    ascending mtimes, so the file stream delivers them oldest-first in
    doc_id order (the setup under which streaming first-arrival dedup ==
    batch min-doc_id dedup; see the module docstring)."""
    tbl = pq.read_table(os.path.join(SF, "documents.parquet"))
    tbl = tbl.sort_by("doc_id")
    n = tbl.num_rows
    os.makedirs(src_dir, exist_ok=True)
    now = time.time()
    for i in range(n_files):
        part = tbl.slice(i * n // n_files, (i + 1) * n // n_files - i * n // n_files)
        path = os.path.join(src_dir, f"{i:03d}.parquet")
        pq.write_table(part, path)
        os.utime(path, (now - 100 + i, now - 100 + i))


@pytest.fixture(scope="module")
def drained(spark, tmp_path_factory):
    """Run the stream to drain over 4 files; return (src_dir, work_dir)."""
    root = tmp_path_factory.mktemp("llmstream")
    src_dir, work_dir = str(root / "src"), str(root / "work")
    _split_into_files(spark, src_dir)
    q = run_llm_corpus_stream(spark, src_dir, work_dir)
    q.awaitTermination(timeout=300)
    assert not q.isActive
    return src_dir, work_dir


def test_stream_equals_batch_kept_set(spark, drained):
    """The streamed corpus holds exactly the batch pipeline's post-dedup doc
    set (gates + exact dedup), each doc exactly once."""
    _, work_dir = drained
    corpus = appendlog.get(spark, CorpusStreamPaths(work_dir).corpus)
    got = sorted(r["doc_id"] for r in corpus.select("doc_id").collect())
    docs = load_table(spark, SF, "documents")
    want = sorted(
        r["doc_id"]
        for r in pipeline_exact_dedup(pipeline_gate(docs)).select("doc_id").collect()
    )
    assert got == want
    assert len(got) == len(set(got)), "duplicate doc_ids in the corpus store"
    assert len(got) > 0


def test_stream_report_equals_llm_pipeline_v2(spark, drained):
    """corpus_report over the streamed store == the driver-green batch query
    llm_pipeline_v2, row for row."""
    _, work_dir = drained
    from streamds_spark.registry import load_all

    got = sorted(tuple(r) for r in corpus_report(spark, work_dir).collect())
    want = sorted(
        tuple(r) for r in load_all()["llm_pipeline_v2"].fn(spark, SF).collect()
    )
    assert got == want


@pytest.mark.slow
def test_restart_ingests_only_new_unique_docs(spark, drained):
    """Add a 5th file (one exact duplicate of an already-ingested doc under a
    new id, one near-duplicate, one fresh unique doc); restart the stream on
    the SAME checkpoint. The exact dup is dropped by the hash store, the
    near-dup is ingested but flagged by the bucket-store probe, the fresh doc
    is ingested — and nothing already in the corpus duplicates."""
    src_dir, work_dir = drained
    corpus_before = appendlog.get(spark, CorpusStreamPaths(work_dir).corpus)
    before_ids = {r["doc_id"] for r in corpus_before.select("doc_id").collect()}
    base = (
        corpus_before.select("doc_id", "source", "n_chars", "text")
        .orderBy("doc_id")
        .limit(1)
        .collect()[0]
    )

    near_text = " ".join(
        w if i != 3 else "PERTURBED" for i, w in enumerate(base["text"].split())
    )
    fresh_text = " ".join(f"fresh{i} unique token stream" for i in range(12))
    new_rows = [
        # exact duplicate content, new id → hash store must drop it
        {"doc_id": 900001, "source": base["source"], "lang": "en",
         "n_chars": base["n_chars"], "text": base["text"]},
        # near duplicate → kept, but the bucket probe should flag candidates
        {"doc_id": 900002, "source": base["source"], "lang": "en",
         "n_chars": len(near_text), "text": near_text},
        # fresh unique doc
        {"doc_id": 900003, "source": base["source"], "lang": "en",
         "n_chars": len(fresh_text), "text": fresh_text},
    ]
    schema = pq.read_table(os.path.join(SF, "documents.parquet")).schema
    cols = {
        name: [r.get(name) for r in new_rows]
        for name in schema.names
    }
    tbl = pa.table(cols, schema=pa.schema([schema.field(n) for n in schema.names]))
    pq.write_table(tbl, os.path.join(src_dir, "004.parquet"))

    q = run_llm_corpus_stream(spark, src_dir, work_dir)
    q.awaitTermination(timeout=300)
    assert not q.isActive

    corpus = appendlog.get(spark, CorpusStreamPaths(work_dir).corpus)
    rows = {r["doc_id"]: r for r in corpus.collect()}
    ids = sorted(rows)
    assert len(ids) == len(set(ids))
    assert 900001 not in rows, "exact-duplicate content must be dropped"
    # the near-dup and fresh docs pass gates only if long enough — both are
    gate_ids = {
        r["doc_id"]
        for r in pipeline_gate(
            spark.createDataFrame(
                [(r["doc_id"], r["source"], r["lang"], r["n_chars"], r["text"])
                 for r in new_rows],
                "doc_id long, source string, lang string, n_chars long, text string",
            )
        ).collect()
    }
    if 900002 in gate_ids:
        assert 900002 in rows
        assert rows[900002]["n_neardup_cands"] > 0, "near-dup not flagged"
    if 900003 in gate_ids:
        assert 900003 in rows
    # everything previously ingested is still there, exactly once
    assert before_ids <= set(ids)


@pytest.mark.slow
def test_torn_first_attempt_state_is_overwritten(spark, tmp_path):
    """Crash-recovery: pre-plant half-written batch-0 state (no _SUCCESS
    anywhere — a writer killed mid-batch) in all three stores; the stream's
    real batch 0 must overwrite it and the final corpus must still equal
    the batch pipeline exactly — the exactly-once claim, exercised."""
    src_dir, work_dir = str(tmp_path / "src"), str(tmp_path / "work")
    _split_into_files(spark, src_dir, n_files=2)
    paths = CorpusStreamPaths(work_dir)
    torn = [
        os.path.join(paths.hash_store, "batch=0"),
        os.path.join(paths.bucket_store, "batch=0"),
        os.path.join(paths.corpus, "chunks", "batch-llm-stream-000000000"),
    ]
    for d in torn:
        os.makedirs(d)
        with open(os.path.join(d, "part-junk.parquet"), "wb") as f:
            f.write(b"\x00torn half-write, not real parquet")

    q = run_llm_corpus_stream(spark, src_dir, work_dir)
    q.awaitTermination(timeout=300)
    assert not q.isActive

    corpus = appendlog.get(spark, CorpusStreamPaths(work_dir).corpus)
    got = sorted(r["doc_id"] for r in corpus.select("doc_id").collect())
    docs = load_table(spark, SF, "documents")
    want = sorted(
        r["doc_id"]
        for r in pipeline_exact_dedup(pipeline_gate(docs)).select("doc_id").collect()
    )
    assert got == want
    # the junk bytes are gone: every torn dir was overwritten and committed
    for d in torn:
        assert not os.path.exists(os.path.join(d, "part-junk.parquet")), d
        assert os.path.exists(os.path.join(d, "_SUCCESS")), d


@pytest.mark.slow
def test_compaction_preserves_probes_and_replay_noops(spark, tmp_path):
    """compact_stores folds the per-trigger batch dirs into one segment per
    store + merges the corpus appendlog — and NOTHING observable changes:
    store contents, corpus contents and report are identical pre/post, and a
    batch replayed AFTER compaction (Structured Streaming's redelivery of an
    uncommitted trigger, landing after a maintenance window) is a no-op."""
    from streamds_spark.io.batchstore import committed as _committed_store_dirs
    from streamds_spark.streaming.llm_pipeline import (
        compact_stores,
        process_corpus_batch,
    )

    src_dir, work_dir = str(tmp_path / "src"), str(tmp_path / "work")
    _split_into_files(spark, src_dir, n_files=3)
    q = run_llm_corpus_stream(spark, src_dir, work_dir)
    q.awaitTermination(timeout=300)
    assert not q.isActive
    paths = CorpusStreamPaths(work_dir)

    def snapshot():
        probe = 10**6  # a future batch's view
        hashes = sorted(
            r["h"]
            for r in spark.read.parquet(
                *_committed_store_dirs(paths.hash_store, probe)
            ).collect()
        )
        buckets = sorted(
            tuple(r)
            for r in spark.read.parquet(
                *_committed_store_dirs(paths.bucket_store, probe)
            )
            .select("doc_id", "band", "bucket")
            .collect()
        )
        corpus = sorted(
            tuple(r)
            for r in appendlog.get(spark, paths.corpus)
            .select("doc_id", "source", "text", "n_neardup_cands")
            .collect()
        )
        report = sorted(tuple(r) for r in corpus_report(spark, work_dir).collect())
        from streamds_spark.streaming.llm_pipeline import chunk_sharing_report

        chunks = sorted(
            tuple(r) for r in chunk_sharing_report(spark, work_dir).collect()
        )
        return hashes, buckets, corpus, report, chunks

    before = snapshot()
    stats = compact_stores(spark, work_dir)
    assert stats["upto_batch"] == 2, "3 files at 1/trigger = batches 0..2 committed"
    assert stats["hash_store"] == 3 and stats["bucket_store"] == 3
    assert stats["chunk_store"] == 3
    # the per-trigger dirs are gone; one committed segment remains per store
    for root in (paths.hash_store, paths.bucket_store, paths.chunk_store):
        assert not [d for d in os.listdir(root) if d.startswith("batch=")]
        assert os.path.exists(os.path.join(root, "segment=2", "_SUCCESS"))
    assert snapshot() == before

    # replay batch 0 post-compaction (gated input, exactly as foreachBatch
    # would deliver it): writes land but no reader may ever see them
    schema = spark.read.parquet(src_dir).schema
    batch0 = pipeline_gate(
        spark.read.schema(schema).parquet(os.path.join(src_dir, "000.parquet"))
    )
    process_corpus_batch(batch0, 0, paths)
    assert snapshot() == before
    # and the next maintenance pass reclaims the replay's garbage dirs
    compact_stores(spark, work_dir)
    for root in (paths.hash_store, paths.bucket_store, paths.chunk_store):
        assert not [d for d in os.listdir(root) if d.startswith("batch=")]
    assert snapshot() == before


@pytest.mark.slow
def test_stream_chunk_sharing_equals_batch(spark, tmp_path):
    """Sub-document streaming dedup: the gear-CDC chunk store the stream
    builds batch-by-batch yields EXACTLY the batch pipeline's chunk-sharing
    grouping (cdc_chunk_sharing's shape computed with the same gear chunker
    over the batch-kept doc set) after draining the same input."""
    from streamds_spark.operators.cdc import cdc_chunks_gear
    from streamds_spark.streaming.llm_pipeline import chunk_sharing_report

    src_dir, work_dir = str(tmp_path / "src"), str(tmp_path / "work")
    _split_into_files(spark, src_dir, n_files=2)
    q = run_llm_corpus_stream(spark, src_dir, work_dir)
    q.awaitTermination(timeout=300)
    assert not q.isActive

    got = sorted(
        tuple(r) for r in chunk_sharing_report(spark, work_dir).collect()
    )

    docs = load_table(spark, SF, "documents")
    kept = pipeline_exact_dedup(pipeline_gate(docs)).select("doc_id", "text")
    chunks = cdc_chunks_gear(kept).localCheckpoint(eager=False)
    sharing = chunks.groupBy(F.col("chunk_hash").alias("h")).agg(
        F.countDistinct("doc_id").alias("nd")
    )
    flag = F.when(F.col("nd") >= 2, 1).otherwise(0)
    want = sorted(
        tuple(r)
        for r in chunks.join(sharing, chunks.chunk_hash == F.col("h"))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_chunks"),
            F.sum(flag).cast("bigint").alias("n_shared"),
            (
                F.round(F.sum(flag).cast("double") / F.count("*"), 4) + F.lit(0.0)
            ).alias("shared_ratio"),
        )
        .collect()
    )
    assert got == want
    assert len(got) > 0


def test_compact_stores_noop_without_commits(spark, tmp_path):
    """No checkpoint commits yet → nothing is durable → compaction must not
    touch anything (a batch still subject to replay can never be folded)."""
    from streamds_spark.streaming.llm_pipeline import compact_stores

    work_dir = str(tmp_path / "work")
    os.makedirs(work_dir)
    stats = compact_stores(spark, work_dir, merge_corpus=False)
    assert stats == {
        "upto_batch": -1,
        "hash_store": 0,
        "bucket_store": 0,
        "chunk_store": 0,
        "hll_store": 0,
        "hdr_store": 0,
        "sample_store": 0,
        "wsample_store": 0,
        "mg_store": 0,
        "dq_store": 0,
        "ams_store": 0,
    }


def test_replay_probe_excludes_own_batch_state(tmp_path):
    """_committed_store_dirs must never return the probing batch's own dir —
    the replay-safety invariant (a re-run batch would otherwise anti-join
    against its own half-written hashes and drop all its docs)."""
    from streamds_spark.io.batchstore import committed as _committed_store_dirs

    root = tmp_path / "store"
    for bid, committed in [(0, True), (1, True), (2, False), (3, True)]:
        d = root / f"batch={bid}"
        d.mkdir(parents=True)
        if committed:
            (d / "_SUCCESS").touch()
    got = _committed_store_dirs(str(root), 3)
    assert [os.path.basename(p) for p in got] == ["batch=0", "batch=1"]


@pytest.mark.slow
def test_streaming_hll_distinct_estimate(spark, tmp_path):
    """Sketch-backed streaming distinct: per-trigger HLL register tables
    merged at finalize equal the one-pass batch sketch BIT-FOR-BIT (register
    merge is exact), the estimate lands within HLL's m=256 error (~6.5%) of
    the true distinct-ingested count, and compaction does not move it."""
    from streamds_spark.operators.hll import hll_registers
    from streamds_spark.streaming.llm_pipeline import (
        compact_stores,
        distinct_docs_estimate,
    )

    src_dir, work_dir = str(tmp_path / "src"), str(tmp_path / "work")
    _split_into_files(spark, src_dir)

    # empty store: estimate must be 0, not an error
    assert distinct_docs_estimate(spark, work_dir).first()["est"] == 0.0

    q = run_llm_corpus_stream(spark, src_dir, work_dir)
    q.awaitTermination(timeout=300)
    assert not q.isActive

    row = distinct_docs_estimate(spark, work_dir).first()
    est = row["est"]
    gated = pipeline_gate(load_table(spark, SF, "documents")).withColumn(
        "_h", F.md5(F.col("text").cast("binary"))
    )
    exact = gated.select("_h").distinct().count()
    assert exact > 0
    # m=256 -> relative sigma = 1.04/sqrt(256) = 6.5%; this corpus's draw is
    # a fixed 8.0% (1.24 sigma — md5 is deterministic, so this never flakes).
    # Bound at 2 sigma; the MERGE itself adds zero error, proven bit-exact
    # against the one-pass batch sketch below.
    assert abs(est - exact) / exact <= 0.13, (est, exact)

    # merged stream registers == one-pass batch registers, row for row
    stream_regs = sorted(
        (r["bucket"], r["max_rho"])
        for r in spark.read.parquet(f"{work_dir}/hll_store")
        .groupBy("bucket")
        .agg(F.max("max_rho").alias("max_rho"))
        .collect()
    )
    batch_regs = sorted(
        (r["bucket"], r["max_rho"])
        for r in hll_registers(gated.select("_h"), "_h").collect()
    )
    assert stream_regs == batch_regs
    # and therefore the estimate equals the batch-computed estimate exactly
    from streamds_spark.operators.hll import hll_estimate

    assert est == hll_estimate(hll_registers(gated.select("_h"), "_h")).first()["est"]

    # compaction folds the register store without moving the estimate
    stats = compact_stores(spark, work_dir)
    assert stats["hll_store"] >= 1
    assert distinct_docs_estimate(spark, work_dir).first()["est"] == est


@pytest.mark.slow
def test_streaming_hdr_doclen_quantiles(spark, tmp_path):
    """Sketch-backed streaming quantiles: per-trigger HDR register tables
    merged at finalize equal the one-pass batch sketch over the final corpus
    BIT-FOR-BIT (counting merge is exact; replay safety is the
    overwrite-by-batchId discipline), every extracted quantile's bucket
    bounds contain the true rank statistic, and compaction moves nothing."""
    from streamds_spark.operators.hdr import hdr_quantiles, hdr_registers
    from streamds_spark.streaming.llm_pipeline import (
        compact_stores,
        doclen_quantiles_estimate,
    )

    src_dir, work_dir = str(tmp_path / "src"), str(tmp_path / "work")
    _split_into_files(spark, src_dir)

    # empty store: 0 rows, not an error
    assert doclen_quantiles_estimate(spark, work_dir).count() == 0

    q = run_llm_corpus_stream(spark, src_dir, work_dir)
    q.awaitTermination(timeout=300)
    assert not q.isActive

    got = {r["tag"]: r for r in doclen_quantiles_estimate(spark, work_dir).collect()}
    assert set(got) == {"p50", "p90", "p99"}

    # the kept set IS the corpus store content -> merged stream registers
    # equal a one-pass batch sketch over it, row for row
    corpus = appendlog.get(spark, CorpusStreamPaths(work_dir).corpus)
    lens = corpus.select(F.length("text").alias("_len"))
    batch_regs = sorted(
        (r["bucket"], r["cnt"]) for r in hdr_registers(lens, "_len").collect()
    )
    stream_regs = sorted(
        (r["bucket"], r["cnt"])
        for r in spark.read.parquet(f"{work_dir}/hdr_store")
        .groupBy("bucket")
        .agg(F.sum("cnt").alias("cnt"))
        .collect()
    )
    assert stream_regs == batch_regs
    # quantiles therefore equal the batch-extracted ones exactly…
    batch_q = {
        r["tag"]: r for r in hdr_quantiles(
            hdr_registers(lens, "_len"), {"p50": 0.5, "p90": 0.9, "p99": 0.99}
        ).collect()
    }
    for tag in got:
        assert tuple(got[tag]) == tuple(batch_q[tag]), tag
    # …and each bucket's bounds contain the true rank statistic
    exact = sorted(r["_len"] for r in lens.collect())
    import math

    for tag, qq in (("p50", 0.5), ("p90", 0.9), ("p99", 0.99)):
        true_val = exact[max(1, math.ceil(qq * len(exact))) - 1]
        assert got[tag]["lo"] <= true_val <= got[tag]["hi"], (tag, true_val)
        assert got[tag]["n"] == len(exact)

    # compaction folds the register store without moving any quantile
    stats = compact_stores(spark, work_dir)
    assert stats["hdr_store"] >= 1
    after = {
        r["tag"]: tuple(r)
        for r in doclen_quantiles_estimate(spark, work_dir).collect()
    }
    assert after == {t: tuple(r) for t, r in got.items()}


@pytest.mark.slow
def test_streaming_corpus_sample(spark, tmp_path):
    """Mergeable streaming sample: per-trigger bottom-k stores folded at
    finalize equal a one-pass bottom-k over the whole kept corpus
    ROW-FOR-ROW (the KMV merge property — zero sampling drift across any
    number of triggers), and compaction moves nothing."""
    from streamds_spark.operators.sampling import bottomk_sample
    from streamds_spark.streaming.llm_pipeline import (
        SAMPLE_K,
        compact_stores,
        corpus_sample,
    )

    src_dir, work_dir = str(tmp_path / "src"), str(tmp_path / "work")
    _split_into_files(spark, src_dir)

    # empty store: 0 rows, not an error
    assert corpus_sample(spark, work_dir).count() == 0

    q = run_llm_corpus_stream(spark, src_dir, work_dir)
    q.awaitTermination(timeout=300)
    assert not q.isActive

    got = [
        (r["doc_id"], r["h"])
        for r in corpus_sample(spark, work_dir).orderBy("h", "doc_id").collect()
    ]
    kept = appendlog.get(spark, CorpusStreamPaths(work_dir).corpus)
    want = [
        (r["doc_id"], r["h"])
        for r in bottomk_sample(kept.select("doc_id"), "doc_id", SAMPLE_K)
        .orderBy("h", "doc_id")
        .collect()
    ]
    assert len(got) == SAMPLE_K and got == want

    stats = compact_stores(spark, work_dir)
    assert stats["sample_store"] >= 1
    after = [
        (r["doc_id"], r["h"])
        for r in corpus_sample(spark, work_dir).orderBy("h", "doc_id").collect()
    ]
    assert after == got


def test_corpus_sample_k_over_store_size_refused(spark, tmp_path):
    """corpus_sample(k > SAMPLE_K) cannot be the true global bottom-k (each
    per-batch store holds only its batch's bottom SAMPLE_K rows) — it must
    raise, never silently return a non-uniform draw."""
    import pytest

    from streamds_spark.streaming.llm_pipeline import SAMPLE_K, corpus_sample

    with pytest.raises(ValueError, match="SAMPLE_K"):
        corpus_sample(spark, str(tmp_path / "work"), k=SAMPLE_K + 1)


def test_streaming_weighted_sample_equals_batch(spark, drained, tmp_path):
    """The ES-key weighted sample store: per-trigger top-k-by-key states
    folded at finalize == a one-pass weighted draw over the batch pipeline's
    kept set, ROW-identical (key equality included), before AND after store
    compaction — the weighted twin of the uniform sample_store contract."""
    from streamds_spark.functions.hashing import md5_int60
    from streamds_spark.streaming.llm_pipeline import (
        WEIGHTED_SAMPLE_K,
        compact_stores,
        corpus_weighted_sample,
    )

    _, work_dir = drained

    def got():
        return [
            (r["doc_id"], round(r["k"], 12))
            for r in corpus_weighted_sample(spark, work_dir)
            .orderBy(F.desc("k"), "doc_id")
            .collect()
        ]

    docs = load_table(spark, SF, "documents")
    kept = pipeline_exact_dedup(pipeline_gate(docs)).filter(F.col("n_chars") > 0)
    u = (md5_int60(F.col("doc_id")) + F.lit(1.0)) / F.lit(float(1 << 60))
    want = [
        (r["doc_id"], round(r["k"], 12))
        for r in kept.select(
            "doc_id", (F.log(u) / F.col("n_chars")).alias("k")
        )
        .orderBy(F.desc("k"), "doc_id")
        .limit(WEIGHTED_SAMPLE_K)
        .collect()
    ]
    assert want and got() == want

    # draining smaller k gives the PREFIX (top-k-by-key is nested)
    small = [
        (r["doc_id"], round(r["k"], 12))
        for r in corpus_weighted_sample(spark, work_dir, k=10)
        .orderBy(F.desc("k"), "doc_id")
        .collect()
    ]
    assert small == want[:10]

    # compaction-invariant
    compact_stores(spark, work_dir)
    assert got() == want

    # oversized k refused (per-batch stores cannot answer it)
    import pytest

    with pytest.raises(ValueError, match="WEIGHTED_SAMPLE_K"):
        corpus_weighted_sample(spark, work_dir, k=WEIGHTED_SAMPLE_K + 1)


def test_streaming_heavy_hitters_store(spark, drained):
    """The MG summary store: per-trigger deterministic summaries folded at
    finalize obey the mergeable-summaries contract against EXACT counts over
    the streamed corpus (never overestimate, undercount <= error_bound, the
    true top terms present), and the read is invariant under compaction
    (ordering vs other tests compacting the shared drained work dir does
    not matter — the read path is fold-invariant by design)."""
    from streamds_spark.functions.text import tokens
    from streamds_spark.streaming.llm_pipeline import (
        CorpusStreamPaths,
        compact_stores,
        corpus_heavy_hitters,
    )

    _, work_dir = drained
    hh = corpus_heavy_hitters(spark, work_dir, k=10).collect()
    assert 1 <= len(hh) <= 10
    bound = hh[0]["error_bound"]
    n_total = hh[0]["n_total"]

    corpus = appendlog.get(spark, CorpusStreamPaths(work_dir).corpus)
    exact = {
        r["term"]: r["cnt"]
        for r in corpus.select(F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    assert n_total == sum(exact.values())
    for r in hh:
        assert r["est"] <= exact[r["term"]] <= r["est"] + bound, r
    # the single most frequent true term must surface at the top estimates
    top_true = max(exact.items(), key=lambda kv: (kv[1], kv[0]))[0]
    assert top_true in {r["term"] for r in hh}

    compact_stores(spark, work_dir)
    hh2 = corpus_heavy_hitters(spark, work_dir, k=10).collect()
    assert sorted(map(tuple, hh2)) == sorted(map(tuple, hh))
