"""Continuous LLM-corpus ingest — the streaming twin of the batch
`llm_pipeline_v2` query (queries/llmdata/corpus.py), closing the loop on the
reference's whole premise: RainStorm exists so a pipeline RUNS CONTINUOUSLY
(`core_process_stream_DS.go:454-721` — source → operators → sink with
exactly-once), and this is that posture for the pretraining-data stack:

    readStream documents
      → hygiene + quality gates   (pipeline_gate — map-only, in-plan on the
                                   unbounded DataFrame, shared VERBATIM with
                                   the batch query)
      → per-batch exact dedup     (pipeline_exact_dedup on the micro-batch)
      → cross-batch exact dedup   (anti-join against the persisted
                                   content-hash store)
      → near-dup probe            (MinHash buckets vs the persisted bucket
                                   store — operators/dedup_incremental.py's
                                   broadcast-probe shape, run per batch)
      → appendlog corpus store    (io/appendlog.append_batch — idempotent
                                   batchId chunk dirs, exactly-once)

Exactly-once across crash/replay: every per-batch write is keyed by batchId
(appendlog chunk dir, hash-store dir, bucket-store dir) in overwrite mode, so
a replayed micro-batch rewrites its own dirs instead of duplicating; and both
probes read ONLY store dirs with id < the current batchId, so a replayed
batch never collides with its own half-written state.

Streaming dedup semantics vs batch: the batch rule keeps the min-doc_id
occurrence per content hash over the WHOLE corpus; the stream keeps the
FIRST-ARRIVING batch's occurrence (min doc_id within that batch). The two
agree whenever ingest order is doc_id order — the equality test's setup —
and first-arrival is the natural production policy (an already-published doc
is never retracted because a lower-id duplicate arrives later).

The domain-cap + chunk-accounting report (pipeline_cap_report) is a
global-rank computation and therefore runs on the CORPUS STORE contents
(finalize-time), not inside the stream — same rule, same code, applied where
a global view exists.

Scale shape: gates are map-only per split; the per-batch dedup window
partitions by content hash (batch-sized state); both store probes broadcast
the SMALL batch side and scan the store shuffle-free; corpus/bucket/hash
stores grow by one batch-keyed parquet dir per trigger (no read-modify-write
anywhere). At 100 TB steady state each trigger's cost tracks the batch, not
the corpus — the same measured posture as dedup_incremental (BASELINE.md).
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from streamds_spark.io import appendlog, batchstore
from streamds_spark.operators.dedup_pipeline import lsh_band_buckets, minhash_signatures
from streamds_spark.streaming.engine import parquet_stream, start_batches

SAMPLE_K = 100  # rows kept in the mergeable bottom-k corpus sample
WEIGHTED_SAMPLE_K = 100  # rows kept in the mergeable ES-key weighted sample
AMS_K = 32  # counters in the per-trigger AMS F2 (duplication-skew) sketch


def dq_batch_report(raw: DataFrame) -> DataFrame:
    """The streaming data-quality monitor's per-trigger state: the
    declarative constraint suite (operators/constraints.py) over the RAW
    arrivals — BEFORE any gate, so the report measures what the feed
    delivered, not what survived. Row-local checks only: their violation
    counts are ADDITIVE, so per-trigger reports fold across triggers by
    plain SUM into exactly the one-pass batch report over the whole feed
    (corpus_dq_report). Global-key uniqueness is deliberately absent — it
    cannot fold additively; cross-batch exact dedup is the hash_store's
    job and distinct-count monitoring is the HLL store's. Cost: one
    k-expression aggregate per trigger (one extra scan of the batch)."""
    from streamds_spark.operators import constraints as C

    return C.constraint_report(
        raw,
        checks=[
            C.not_null("doc_id"),
            C.not_null("text"),
            C.in_set("lang", ["en", "de", "fr", "es", "zh"]),
            C.matches("source", "^src[0-9]+$"),
            C.satisfies("nonempty_text", "text", F.length("text") > 0),
            C.satisfies(
                "chars_match_text", "n_chars", F.col("n_chars") == F.length("text")
            ),
        ],
    )


@dataclass(frozen=True)
class CorpusStreamPaths:
    """Directory layout under one work dir: everything batch-keyed."""

    work_dir: str
    # the batch stores (io/batchstore.py), in compaction order
    STORES = (
        "hash_store",
        "bucket_store",
        "chunk_store",
        "hll_store",
        "hdr_store",
        "sample_store",
        "wsample_store",
        "mg_store",
        "dq_store",
        "ams_store",
    )

    @property
    def checkpoint(self) -> str:
        return os.path.join(self.work_dir, "checkpoint")

    @property
    def corpus(self) -> str:  # appendlog table of kept documents
        return os.path.join(self.work_dir, "corpus")

    @property
    def hash_store(self) -> str:  # seen content hashes, batch=N dirs
        return os.path.join(self.work_dir, "hash_store")

    @property
    def bucket_store(self) -> str:  # MinHash band buckets, batch=N dirs
        return os.path.join(self.work_dir, "bucket_store")

    @property
    def chunk_store(self) -> str:  # gear-CDC chunk hashes, batch=N dirs
        return os.path.join(self.work_dir, "chunk_store")

    @property
    def hll_store(self) -> str:  # per-batch HLL register tables, batch=N dirs
        return os.path.join(self.work_dir, "hll_store")

    @property
    def hdr_store(self) -> str:  # per-batch doc-length HDR registers, batch=N
        return os.path.join(self.work_dir, "hdr_store")

    @property
    def sample_store(self) -> str:  # per-batch bottom-k doc samples, batch=N
        return os.path.join(self.work_dir, "sample_store")

    @property
    def wsample_store(self) -> str:  # per-batch ES-key weighted samples
        return os.path.join(self.work_dir, "wsample_store")

    @property
    def mg_store(self) -> str:  # per-batch Misra-Gries term summaries
        return os.path.join(self.work_dir, "mg_store")

    @property
    def dq_store(self) -> str:  # per-batch data-quality constraint reports
        return os.path.join(self.work_dir, "dq_store")

    @property
    def ams_store(self) -> str:  # per-batch AMS F2 counters (content hashes)
        return os.path.join(self.work_dir, "ams_store")


def _seen_hashes(spark: SparkSession, paths: CorpusStreamPaths, batch_id: int) -> DataFrame | None:
    from streamds_spark.io import tombstones

    dirs = batchstore.committed(paths.hash_store, batch_id)
    if not dirs:
        return None
    # takedown: a deleted doc's content hash is tombstoned (delete_docs), so
    # identical content arriving later is NOT silently dropped against a
    # document that no longer exists
    return tombstones.apply(spark.read.parquet(*dirs), paths.hash_store)


def _corpus_buckets(spark: SparkSession, paths: CorpusStreamPaths, batch_id: int) -> DataFrame | None:
    from streamds_spark.io import tombstones

    dirs = batchstore.committed(paths.bucket_store, batch_id)
    if not dirs:
        return None
    # takedown: a deleted doc must stop being a near-dup candidate
    return tombstones.apply(spark.read.parquet(*dirs), paths.bucket_store)


def _compact_sample_store(
    spark: SparkSession, root: str, upto_batch: int, num_files: int | None
) -> int:
    """Fold one bottom-k/weighted sample store with takedown-erosion
    accounting: folding a tombstone physically removes its stored sample
    rows, but the exactness exposure it created (the batch's unstored tail)
    OUTLIVES the rows — persist the count so the corpus_sample guard keeps
    holding after the fold; rebuild_sketch_stores re-derives and resets.
    One shared implementation for both sample stores (they fold and erode
    identically)."""
    from streamds_spark.io import tombstones as _tomb

    pending = 0
    parts = batchstore.fold_parts(root, upto_batch)
    if parts and _tomb.committed_dirs(root):
        pending = _tomb.suppressed_count(spark, root, spark.read.parquet(*parts))
    folded = batchstore.compact(spark, root, upto_batch, num_files=num_files)
    if pending and folded > 0:
        _bump_sample_erosion(root, pending)
    return folded


def compact_stores(
    spark: SparkSession,
    work_dir: str,
    upto_batch: int | None = None,
    num_files: int | None = None,
    merge_corpus: bool = True,
) -> dict:
    """Maintenance compaction for the continuous pipeline's state (run it
    between triggers, same single-writer discipline as appendlog.merge).

    The hash/bucket stores and the corpus appendlog each grow by one parquet
    dir per trigger; after ~10^4 triggers the per-batch probe's file listing
    becomes the bottleneck (the small-files wall — the reference hits the
    same wall and answers with HyDFS merge, core_process_utils.go:2040-2146).
    This folds every batch dir at or below the checkpoint's durable frontier
    (or an explicit `upto_batch`) into one segment per store
    (io/batchstore.compact) and runs appendlog.merge on the corpus. Probe
    results are identical before and after, and a batch replayed AFTER
    compaction is a no-op: its rewritten dirs fall at or below the segment's
    hi / inside the merge manifest's dir entries, so no reader ever sees
    them (tests/test_llm_pipeline_stream.py pins both properties).

    The row-preserving fold is exact for every sketch store because each
    reader re-aggregates what it reads: HLL registers by max, HDR/MG/DQ/AMS
    rows by SUM (MG's NULL-term sentinel rows carry the error budget along),
    bottom-k/weighted samples by re-taking the k extreme keys. The two sample
    stores also keep takedown-erosion accounting (_compact_sample_store).
    The DQ and AMS stores are ingest journals: never tombstoned."""
    paths = CorpusStreamPaths(work_dir)
    if upto_batch is None:
        upto_batch = batchstore.durable_frontier(paths.checkpoint)
    stats = {"upto_batch": upto_batch, **dict.fromkeys(CorpusStreamPaths.STORES, 0)}
    if upto_batch < 0:
        return stats
    for name in CorpusStreamPaths.STORES:
        root = getattr(paths, name)
        if name in ("sample_store", "wsample_store"):
            stats[name] = _compact_sample_store(spark, root, upto_batch, num_files)
        else:
            stats[name] = batchstore.compact(
                spark, root, upto_batch, num_files=num_files
            )
    if merge_corpus:
        # tombstone_upto carries the fold's replay frontier into the corpus
        # log's tombstone GC — a delete issued mid-stream is only reclaimed
        # once every batch that could hold its pre-delete rows is merged
        # and unreplayable
        appendlog.merge(spark, paths.corpus, tombstone_upto=upto_batch)
    return stats


def process_corpus_batch(
    batch_df: DataFrame,
    batch_id: int,
    paths: CorpusStreamPaths,
    num_perm: int = 16,
    bands: int = 4,
) -> None:
    """One micro-batch of the ingest pipeline (gates already applied in-plan).

    Writes three batch-keyed artifacts (all overwrite-idempotent):
      corpus/chunks/batch-…      kept documents (+ n_neardup_cands flag)
      hash_store/batch=N         this batch's new content hashes
      bucket_store/batch=N       this batch's kept docs' MinHash buckets
    """
    from streamds_spark.queries.llmdata.corpus import pipeline_exact_dedup

    spark = batch_df.sparkSession
    hashed = batch_df.withColumn("_h", F.md5(F.col("text").cast("binary")))

    # within-batch exact dedup (the batch rule verbatim), then cross-batch:
    # drop docs whose content hash is already in the store. Broadcast shape
    # matters at 100 TB: the STORE grows with the corpus and must never be
    # the broadcast side — semi-join it against the broadcast batch hashes
    # (store scans once, shuffle-free; the hit set is <= batch-sized), then
    # anti-join the small hit set back. Same posture as the bucket probe.
    # cache the gate+dedup batch subtree BEFORE the store probe: batch_h's
    # broadcast and the anti-join's probe side both read it, and it is the
    # expensive part of the per-batch plan
    pre = pipeline_exact_dedup(hashed).cache()
    local = pre
    seen = _seen_hashes(spark, paths, batch_id)
    if seen is not None:
        batch_h = pre.select("_h").distinct()
        hits = (
            seen.select(F.col("h").alias("_h"))
            .join(F.broadcast(batch_h), "_h", "left_semi")
            .distinct()
        )
        # cache the post-probe result too: three consumers follow (buckets,
        # sink write, hash write), and without this each would re-run the
        # store scan behind `hits`
        local = pre.join(F.broadcast(hits), "_h", "left_anti").cache()
    new_buckets = None
    kept_rows = None
    try:
        # near-dup probe against the persisted corpus buckets (flag, don't
        # drop: near-dup POLICY is a downstream choice; the batch twin has no
        # near-dup stage, so flagging keeps stream==batch equality testable).
        # The batch's MinHash is the dominant per-batch compute and feeds
        # BOTH the candidate join and the store write — cache it.
        new_buckets = lsh_band_buckets(
            minhash_signatures(local, num_perm), bands
        ).cache()
        corpus_b = _corpus_buckets(spark, paths, batch_id)
        if corpus_b is not None:
            cands = (
                corpus_b.join(
                    F.broadcast(
                        new_buckets.select(F.col("doc_id").alias("new_id"), "band", "bucket")
                    ),
                    ["band", "bucket"],
                )
                .select("new_id", F.col("doc_id").alias("corpus_id"))
                .distinct()
                .groupBy("new_id")
                .agg(F.count("*").alias("n_neardup_cands"))
            )
            kept = local.join(
                cands.withColumnRenamed("new_id", "doc_id"), "doc_id", "left"
            ).withColumn(
                "n_neardup_cands", F.coalesce("n_neardup_cands", F.lit(0))
            )
        else:
            kept = local.withColumn("n_neardup_cands", F.lit(0).cast("bigint"))

        # cached: the corpus append AND every registered view's partial
        # write read it — uncached, each view would re-run the near-dup
        # candidate subtree (including the corpus bucket-store scan, which
        # GROWS with the corpus) once per view per trigger
        kept_rows = kept.drop("_h").cache()
        appendlog.append_batch(kept_rows, paths.corpus, "llm-stream", batch_id)
        # registered materialized views (streaming/viewstore.py manifest):
        # the pipeline maintains them — one batch=N partial write per view
        # over THIS trigger's kept rows (the exact rows the corpus append
        # just recorded), under the same overwrite-by-batchId idempotence.
        # Registration before stream start = the view is complete; a view
        # registered mid-stream starts at the next trigger and needs one
        # rebuild_view backfill from the corpus. This closes the
        # operational loop: register -> auto-maintained per trigger ->
        # takedown-cascaded -> rebuild/compact.
        _maintain_registered_views(spark, paths.work_dir, kept_rows, batch_id)
        batchstore.write(
            local.select(F.col("_h").alias("h")).distinct(), paths.hash_store, batch_id
        )
        batchstore.write(new_buckets, paths.bucket_store, batch_id)
        # sub-document granularity: gear-CDC chunk hashes of this batch's
        # kept docs (map-only, zero shuffle) land in their own batch-keyed
        # store — cross-document boilerplate sharing is a finalize-time
        # grouping over the store (chunk_sharing_report), the same
        # global-view split as the cap report. Written LAST of the three
        # stores; idempotence is the same overwrite-by-batchId contract.
        from streamds_spark.operators.cdc import cdc_chunks_gear

        batchstore.write(
            cdc_chunks_gear(local.select("doc_id", "text")), paths.chunk_store, batch_id
        )
        # distinct-ingest sketch: this batch's content hashes as an HLL
        # register table (operators/hll.py — a <=256-row relation at ANY
        # batch size). Registers merge by max, so the finalize-time merge
        # across all triggers equals the batch-computed sketch bit-for-bit,
        # replayed batches are absorbed idempotently, and the streaming
        # distinct-documents state stays m-row forever — the 100 TB
        # streaming-distinct shape. `pre` is the within-batch-deduped kept
        # set, whose DISTINCT hash set equals the gated batch's (dedup only
        # drops repeats), so the sketch is over ingested content.
        from streamds_spark.operators.hll import hll_registers

        batchstore.write(hll_registers(pre.select("_h"), "_h"), paths.hll_store, batch_id)
        # duplication-skew sketch: AMS F2 counters over the gated batch's
        # content hashes BEFORE dedup (`hashed` — dup structure is exactly
        # what dedup erases). Counters are LINEAR state (operators/ams.py):
        # per-trigger counter tables fold across triggers by plain SUM into
        # exactly the whole-feed counters, so the served F2 — the self-join
        # size of the arrival frequency vector — is the batch answer, not an
        # approximation of it. State is AMS_K BIGINTs per trigger forever;
        # beside the HLL's F0, F2/F0 reads as the mean duplicate multiplicity
        # weighted by dup mass. Like dq_store this is an ingest JOURNAL
        # (counts over what ARRIVED, not invertible to content) — takedowns
        # do not rewrite arrival history, so it is not in
        # rebuild_sketch_stores' scope.
        from streamds_spark.operators.ams import ams_counters

        batchstore.write(
            ams_counters(hashed.select("_h"), "_h", k=AMS_K), paths.ams_store, batch_id
        )
        # doc-length quantile sketch: this batch's KEPT docs as an HDR
        # register table (operators/hdr.py — <=1888 rows at ANY batch size).
        # Counts merge by SUM, so cross-trigger replay safety comes from the
        # overwrite-by-batchId discipline (not idempotent merge like HLL);
        # compaction only folds batches at/below the durable frontier, which
        # replays never re-run, so the fold cannot double-count. The kept set
        # is exactly what lands in the corpus store, so the finalize-time
        # merged sketch equals a one-pass batch sketch over the final corpus
        # BIT-FOR-BIT (pinned by tests/test_llm_pipeline_stream.py).
        from streamds_spark.operators.hdr import hdr_registers

        batchstore.write(
            hdr_registers(local.select(F.length("text").alias("_len")), "_len"),
            paths.hdr_store,
            batch_id,
        )
        # mergeable corpus sample: this batch's kept docs' bottom-k by the
        # shared md5 integer (operators/sampling.py — k rows at ANY batch
        # size). Samples fold by union -> k smallest, so the finalize-time
        # fold equals a one-pass bottom-k over the whole kept corpus
        # row-for-row; replays rewrite the identical rows (pure function of
        # the data) under the overwrite-by-batchId contract.
        from streamds_spark.operators.sampling import bottomk_sample

        batchstore.write(
            bottomk_sample(local.select("doc_id"), "doc_id", SAMPLE_K),
            paths.sample_store,
            batch_id,
        )
        # mergeable WEIGHTED corpus sample (Efraimidis-Spirakis): key
        # ln(u)/w with u the deterministic md5 uniform and w = n_chars makes
        # weighted sampling without replacement a plain top-k BY KEY, so
        # per-batch top-k states fold exactly like the uniform bottom-k
        # (union -> k largest keys; the r8 mergeability audit is the proof).
        # Same replay contract: membership is a pure function of the data.
        batchstore.write(
            _weighted_sample_keys(local)
            .orderBy(F.desc("k"), "doc_id")
            .limit(WEIGHTED_SAMPLE_K),
            paths.wsample_store,
            batch_id,
        )
        # heavy-hitter term summary: one deterministic Misra-Gries state
        # per trigger (<= MG_STORE_CAP+1 rows at ANY batch size; the
        # sentinel row carries the batch's exact error budget). Summaries
        # merge by per-term SUM with additive error — the third mergeable-
        # sketch shape next to the HLL/HDR register tables. Like them, MG
        # cannot subtract: takedowns reach it via rebuild_sketch_stores.
        from streamds_spark.functions.text import tokens as _tokens
        from streamds_spark.operators.heavy_hitters import mg_summary

        batchstore.write(
            mg_summary(local.select(F.explode(_tokens(F.col("text"))).alias("term"))),
            paths.mg_store,
            batch_id,
        )
    finally:
        pre.unpersist()
        if local is not pre:
            local.unpersist()
        if new_buckets is not None:
            new_buckets.unpersist()
        if kept_rows is not None:
            kept_rows.unpersist()


def _maintain_registered_views(
    spark: SparkSession, work_dir: str, kept_rows: DataFrame, batch_id: int
) -> None:
    """Per-trigger maintenance of every registered view (views.json) over
    this batch's kept rows. Failure policy: ANY exception flags the view
    rebuild-required and lets ingest continue — one broken registration
    must never stall the corpus pipeline, and deterministic RUNTIME
    failures (an ANSI cast in a pNN agg over a string column, overflow)
    are indistinguishable from plan-time ones, so re-raising them would
    crash-loop the trigger through every checkpoint replay. The flag makes
    the view VISIBLY incomplete (views/view-report/server all surface it)
    rather than silently wrong, and `view-rebuild --name --from-corpus`
    repairs any class of miss from durable state. The marker entry carries
    a stable token, so a replay of the same failing batch REPLACES the
    entry instead of double-counting it."""
    from streamds_spark.streaming import viewstore as _vws

    for name, (spec, vdir) in sorted(_vws.registered_views(work_dir).items()):
        store_dir = os.path.join(vdir, "view_store")
        try:
            _vws.write_view_batch(kept_rows, batch_id, store_dir, spec)
        except Exception as e:  # noqa: BLE001 — flag, never stall ingest
            _vws.mark_rebuild_required(
                vdir,
                {
                    "action": "maintain_view",
                    "reason": f"batch {int(batch_id)}: {e}",
                    # one logical hole per view, replace-on-re-mark: the
                    # latest failed batch's reason wins, the pending count
                    # stays 1 (the remedy — one rebuild — is the same
                    # whether 1 or 50 batches were missed)
                    "token": "maintain",
                },
            )


def run_llm_corpus_stream(
    spark: SparkSession,
    src_dir: str,
    work_dir: str,
    max_files_per_trigger: int | None = 1,
    available_now: bool = True,
) -> StreamingQuery:
    """Launch the continuous corpus-ingest pipeline over a parquet documents
    dir (schema inferred from the existing files; new files stream in).
    available_now=True drains current input and stops (the test/drain mode);
    False tails the directory forever (the production posture).

    Views registered against this work dir (viewstore.register_view /
    CLI view-register) are MAINTAINED BY THE PIPELINE: every trigger writes
    each view's batch partials over the kept rows, so view_report serves
    the live corpus aggregate from k-row state with no separate view
    stream. Register before starting (a mid-stream registration starts at
    the next trigger; rebuild_view backfills from the corpus)."""
    from streamds_spark.queries.llmdata.corpus import pipeline_gate

    paths = CorpusStreamPaths(work_dir)
    appendlog.create(spark, paths.corpus)

    # The gate moved INSIDE foreachBatch (round 9): the stream plan now
    # delivers the RAW batch so the data-quality monitor can report on what
    # the feed actually sent (dq_batch_report), then the gate applies to the
    # identical rows — the gate is stateless and row-local, so per-batch
    # gating equals the old in-plan gating batch-for-batch and every
    # stream==batch pin downstream is unchanged. DQ report is written FIRST;
    # a crash between the two writes replays the batch and overwrites both
    # (the same overwrite-by-batchId idempotence as every other store).
    def _ingest_batch(df: DataFrame, bid: int) -> None:
        # Cache the raw batch for the trigger's duration: the DQ report,
        # the AMS counters, and the gate+dedup subtree all read it, and an
        # uncached foreachBatch DataFrame re-reads the SOURCE FILES per
        # action (the file source's numInputRows metric tripled when the
        # monitors landed — the flight recorder caught it). One real read
        # per trigger, everything else hits the cache.
        df.persist()
        try:
            batchstore.write(dq_batch_report(df), paths.dq_store, bid)
            process_corpus_batch(pipeline_gate(df), bid, paths)
        finally:
            df.unpersist()

    return start_batches(
        parquet_stream(spark, src_dir, max_files_per_trigger),
        paths.checkpoint,
        _ingest_batch,
        available_now=available_now,
    )


def chunk_sharing_report(spark: SparkSession, work_dir: str) -> DataFrame:
    """Finalize-time sub-document dedup profile over the STREAMED chunk
    store: per kept document, how many of its gear-CDC chunks recur in other
    kept documents — cdc_chunk_sharing's grouping (doc_id, n_chunks,
    n_shared, shared_ratio), computed over the store the stream built one
    batch at a time. After draining the same input this equals the batch
    computation (gear-chunk the batch pipeline's kept set, same grouping)
    row-for-row — pinned by tests/test_llm_pipeline_stream.py, including
    across store compaction."""
    paths = CorpusStreamPaths(work_dir)
    dirs = batchstore.committed(paths.chunk_store)
    if not dirs:
        # pre-chunk_store work dir or nothing committed yet: an empty report,
        # not a read error (same guard shape as _corpus_buckets)
        return spark.createDataFrame(
            [],
            "doc_id bigint, n_chunks bigint, n_shared bigint, shared_ratio double",
        )
    from streamds_spark.io import tombstones

    chunks = tombstones.apply(
        spark.read.parquet(*dirs), paths.chunk_store
    ).localCheckpoint(eager=False)
    sharing = chunks.groupBy(F.col("chunk_hash").alias("h")).agg(
        F.countDistinct("doc_id").alias("nd")
    )
    shared_flag = F.when(F.col("nd") >= 2, 1).otherwise(0)
    return (
        chunks.join(sharing, chunks.chunk_hash == F.col("h"))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_chunks"),
            F.sum(shared_flag).cast("bigint").alias("n_shared"),
            (
                F.round(F.sum(shared_flag).cast("double") / F.count("*"), 4)
                + F.lit(0.0)
            ).alias("shared_ratio"),
        )
    )


def distinct_docs_estimate(spark: SparkSession, work_dir: str) -> DataFrame:
    """Finalize-time distinct-ingested-documents estimate from the streamed
    per-batch HLL register tables: union every committed batch's registers,
    re-aggregate max per bucket (the sketch merge — associative, commutative,
    idempotent), and run the standard bias-corrected estimate. 1 row
    (n_registers, est).

    Because register-merge is exact (not approximate-on-top-of-approximate),
    this equals the sketch a single batch pass over the same corpus would
    build BIT-FOR-BIT — pinned by tests/test_llm_pipeline_stream.py — and
    the est is within HLL's m=256 error (~6.5%) of the true distinct count.
    State cost: <=256 rows per trigger, merged to <=256 rows, at any scale."""
    from streamds_spark.operators.hll import hll_estimate

    paths = CorpusStreamPaths(work_dir)
    dirs = batchstore.committed(paths.hll_store)
    if not dirs:
        regs = spark.createDataFrame([], "bucket int, max_rho int")
    else:
        regs = (
            spark.read.parquet(*dirs)
            .groupBy("bucket")
            .agg(F.max("max_rho").alias("max_rho"))
        )
    return hll_estimate(regs)


def doclen_quantiles_estimate(
    spark: SparkSession, work_dir: str, qs: "dict[str, float] | None" = None
) -> DataFrame:
    """Finalize-time kept-document length quantiles from the streamed
    per-batch HDR register tables (operators/hdr.py): union every committed
    batch's registers, re-aggregate sum per bucket (the counting-sketch
    merge), extract p50/p90/p99 (or caller-supplied qs). Because the kept
    set IS the corpus store's content and register-merge is exact, the
    merged sketch equals a one-pass batch sketch over the final corpus
    bit-for-bit, and every extracted quantile's bucket carries its exact
    [lo, hi] value bounds (rel. error < 1/32). Empty store -> 0 rows.

    State cost: <=1888 rows per trigger, merged to <=1888 rows, at any
    scale — the streaming-quantile twin of distinct_docs_estimate."""
    from streamds_spark.operators.hdr import hdr_quantiles

    qs = qs or {"p50": 0.5, "p90": 0.9, "p99": 0.99}
    paths = CorpusStreamPaths(work_dir)
    dirs = batchstore.committed(paths.hdr_store)
    if not dirs:
        regs = spark.createDataFrame([], "bucket int, cnt bigint")
    else:
        regs = (
            spark.read.parquet(*dirs)
            .groupBy("bucket")
            .agg(F.sum("cnt").alias("cnt"))
        )
    return hdr_quantiles(regs, qs)


def corpus_sample(
    spark: SparkSession, work_dir: str, k: int = SAMPLE_K
) -> DataFrame:
    """Finalize-time uniform corpus sample from the streamed per-batch
    bottom-k stores: union every committed batch's k-row sample, keep the k
    smallest hashes — row-identical to a one-pass bottom-k over the whole
    kept corpus (the KMV merge property), at a read cost of k rows per
    committed dir regardless of corpus size. Empty store -> 0 rows.

    k must be <= SAMPLE_K (the per-batch store size): each store holds only
    its batch's bottom SAMPLE_K rows, so a larger k would fold to something
    that is NOT the true global bottom-k — refused loudly rather than
    returned silently non-uniform."""
    from streamds_spark.operators.sampling import bottomk_merge

    if k > SAMPLE_K:
        raise ValueError(
            f"k={k} exceeds the per-batch store size SAMPLE_K={SAMPLE_K}: "
            "the merged sample is only the true global bottom-k for "
            "k <= SAMPLE_K (re-run the stream with a larger SAMPLE_K "
            "to draw more)"
        )

    from streamds_spark.io import tombstones

    paths = CorpusStreamPaths(work_dir)
    dirs = batchstore.committed(paths.sample_store)
    if not dirs:
        return spark.createDataFrame([], "doc_id bigint, h bigint")
    stored = spark.read.parquet(*dirs)
    # takedown exactness audit: deleting d of a batch's STORED sample rows
    # exposes that batch's unstored tail — the merged result is the true
    # bottom-k of the remaining corpus only while k + (deleted rows present
    # in any one batch's stored sample) <= SAMPLE_K. The per-batch count is
    # bounded by the GLOBAL count of tombstoned keys still in the store
    # (cheap: the store is k rows per dir), so the conservative guard is
    # k + global_hits <= SAMPLE_K; beyond it, refuse with the remedy rather
    # than silently returning a non-uniform draw.
    hits = tombstones.suppressed_count(
        spark, paths.sample_store, stored
    ) + _sample_erosion(paths.sample_store)
    if hits and k + hits > SAMPLE_K:
        raise ValueError(
            f"corpus_sample(k={k}) after {hits} takedowns from the stored "
            f"samples may miss rows beyond the per-batch bottom-{SAMPLE_K}: "
            f"draw k <= {SAMPLE_K - hits}, or rebuild_sketch_stores (re-"
            "derives the sample from the post-takedown corpus and restores "
            "full-k exactness) — the guard is conservative and global"
        )
    return bottomk_merge(
        k, "doc_id", tombstones.apply(stored, paths.sample_store)
    )


def _weighted_sample_keys(docs: DataFrame) -> DataFrame:
    """(doc_id, k) Efraimidis-Spirakis keys for the kept-doc weighted
    sample: k = ln(u)/n_chars with u = (md5_int60(doc_id)+1)/2^60 — the
    EXACT expression of the batch weighted_sample_merge_audit query, so the
    streamed fold is row-identical to the batch draw. Zero-weight docs
    cannot be drawn (excluded, as in the batch query)."""
    from streamds_spark.functions.hashing import md5_int60

    u = (md5_int60(F.col("doc_id")) + F.lit(1.0)) / F.lit(float(1 << 60))
    return docs.filter(F.col("n_chars") > 0).select(
        "doc_id", (F.log(u) / F.col("n_chars")).alias("k")
    )


def corpus_weighted_sample(
    spark: SparkSession, work_dir: str, k: int = WEIGHTED_SAMPLE_K
) -> DataFrame:
    """Finalize-time WEIGHTED corpus sample (length-weighted without
    replacement) from the streamed per-batch ES-key stores: union every
    committed batch's top-k-by-key rows, keep the k largest keys —
    row-identical to a one-pass weighted draw over the whole kept corpus
    (ES keys fold exactly like bottom-k hashes; the r8 mergeability audit
    proves the property oracle-side). Read cost is k rows per committed
    dir at any corpus size. Same takedown guard as corpus_sample: deleted
    rows still in the stored samples (plus folded erosion) shrink the
    provable k."""
    from streamds_spark.io import tombstones

    if k > WEIGHTED_SAMPLE_K:
        raise ValueError(
            f"k={k} exceeds the per-batch store size "
            f"WEIGHTED_SAMPLE_K={WEIGHTED_SAMPLE_K}: the merged sample is "
            "only the true global top-k-by-key for k <= WEIGHTED_SAMPLE_K"
        )
    paths = CorpusStreamPaths(work_dir)
    dirs = batchstore.committed(paths.wsample_store)
    if not dirs:
        return spark.createDataFrame([], "doc_id bigint, k double")
    stored = spark.read.parquet(*dirs)
    hits = tombstones.suppressed_count(
        spark, paths.wsample_store, stored
    ) + _sample_erosion(paths.wsample_store)
    if hits and k + hits > WEIGHTED_SAMPLE_K:
        raise ValueError(
            f"corpus_weighted_sample(k={k}) after {hits} takedowns from the "
            f"stored samples may miss rows beyond the per-batch top-"
            f"{WEIGHTED_SAMPLE_K}: draw k <= {WEIGHTED_SAMPLE_K - hits}, or "
            "rebuild_sketch_stores"
        )
    return (
        tombstones.apply(stored, paths.wsample_store)
        .orderBy(F.desc("k"), "doc_id")
        .limit(k)
    )


def corpus_heavy_hitters(
    spark: SparkSession, work_dir: str, k: int = 20
) -> DataFrame:
    """Finalize-time heavy-hitter terms from the streamed per-batch
    Misra-Gries summaries: union every committed batch's summary, SUM per
    term, top-k by estimate. Read cost is <= (cap+1) rows per committed dir
    at any corpus size. Returns (term, est, n_total, error_bound) with the
    folded guarantee est <= true <= est + error_bound for every term, and
    every term whose true count exceeds error_bound is present (Agarwal et
    al., Mergeable Summaries). NOTE: like the HLL/HDR registers, MG cannot
    subtract — after takedowns, rebuild_sketch_stores re-derives it from
    the post-delete corpus. Empty store -> 0 rows."""
    from streamds_spark.operators.heavy_hitters import mg_fold

    paths = CorpusStreamPaths(work_dir)
    dirs = batchstore.committed(paths.mg_store)
    if not dirs:
        return spark.createDataFrame(
            [], "term string, est bigint, n_total bigint, error_bound bigint"
        )
    est, stats = mg_fold(spark.read.parquet(*dirs))
    return (
        est.orderBy(F.desc("est"), "term")
        .limit(k)
        .crossJoin(F.broadcast(stats))
    )


def dup_skew_estimate(spark: SparkSession, work_dir: str) -> DataFrame:
    """Finalize-time duplication-skew estimate from the streamed AMS store:
    fold the per-trigger counters by SUM (linear state — the fold equals
    the whole-feed counters EXACTLY), then the mean-of-squares F2
    estimate. One row: (n_counters, sum_c_sq, f2_estimate). F2 is the
    self-join size of the arrival content-hash frequency vector — a
    dup-free feed has F2 == arrivals; dup mass inflates it quadratically.
    Read cost: AMS_K rows per committed dir at any corpus size.
    Empty store -> 0 rows."""
    from streamds_spark.operators.ams import ams_f2_estimate, ams_merge

    paths = CorpusStreamPaths(work_dir)
    dirs = batchstore.committed(paths.ams_store)
    if not dirs:
        return spark.createDataFrame(
            [], "n_counters bigint, sum_c_sq bigint, f2_estimate double"
        )
    return ams_f2_estimate(ams_merge(spark.read.parquet(*dirs)))


def corpus_dq_report(spark: SparkSession, work_dir: str) -> DataFrame:
    """Finalize-time data-quality report from the streamed per-trigger
    constraint reports: SUM n_rows/violations per (check_name, target) —
    because every check in the streaming suite is row-local (additive),
    the fold equals the one-pass batch constraint_report over the entire
    raw feed EXACTLY, trigger boundaries invisible. Read cost is a
    6-row relation per committed dir at any corpus size; compaction-
    invariant (the fold preserves rows). Empty store -> 0 rows."""
    paths = CorpusStreamPaths(work_dir)
    dirs = batchstore.committed(paths.dq_store)
    if not dirs:
        return spark.createDataFrame(
            [],
            "check_name string, target string, n_rows bigint,"
            " violations bigint, passed boolean",
        )
    return (
        spark.read.parquet(*dirs)
        .groupBy("check_name", "target")
        .agg(
            F.sum("n_rows").cast("bigint").alias("n_rows"),
            F.sum("violations").cast("bigint").alias("violations"),
        )
        .withColumn("passed", F.col("violations") == F.lit(0))
    )


def corpus_report(spark: SparkSession, work_dir: str) -> DataFrame:
    """Finalize-time report over the streamed corpus store: the SAME
    pipeline_cap_report the batch query ends with, applied to the appendlog
    contents — so after draining the same input, this equals
    llm_pipeline_v2's output row-for-row (pinned by
    tests/test_llm_pipeline_stream.py)."""
    from streamds_spark.queries.llmdata.corpus import pipeline_cap_report

    docs = appendlog.get(spark, CorpusStreamPaths(work_dir).corpus)
    return pipeline_cap_report(docs.select("doc_id", "source", "n_toks"))


# ---------------------------------------------------------------------------
# takedown / delete propagation (round 9)
# ---------------------------------------------------------------------------

_EROSION_FILE = "_SAMPLE_EROSION.txt"


def _sample_erosion(sample_store: str) -> int:
    """Cumulative count of takedown keys whose stored sample rows have been
    PHYSICALLY folded away — the exactness exposure that outlives the rows
    themselves (corpus_sample's guard input)."""
    try:
        with open(os.path.join(sample_store, _EROSION_FILE)) as f:
            return int(f.read().strip() or 0)
    except (OSError, ValueError):
        return 0


def _bump_sample_erosion(sample_store: str, n: int) -> None:
    total = _sample_erosion(sample_store) + int(n)
    tmp = os.path.join(sample_store, _EROSION_FILE + ".tmp")
    with open(tmp, "w") as f:
        f.write(f"{total}\n")
    os.replace(tmp, os.path.join(sample_store, _EROSION_FILE))


def _corpus_max_batch(paths: CorpusStreamPaths) -> int:
    """Highest batch id whose rows can be in the corpus appendlog right now:
    parsed from live chunk names (batch-N dirs / txn pointers) and the live
    generation's manifest (dir:batch-N / txn:txnptr-client-N lines). This is
    the honest frontier of a REBUILD's input — it can exceed the checkpoint's
    durable frontier when an in-flight batch has appended but not yet
    committed, and a rebuilt segment must dominate that batch's store dir or
    its later replay-rewrite would double-count."""
    best = -1
    root = paths.corpus
    names: set[str] = set()
    chunks_root = os.path.join(root, "chunks")
    if os.path.isdir(chunks_root):
        names.update(os.listdir(chunks_root))
    gen = appendlog._current_generation(root)  # noqa: SLF001 — same package
    if gen is not None:
        try:
            with open(os.path.join(gen, "merged_chunks.txt")) as f:
                for line in f:
                    entry = line.strip()
                    if entry.startswith("dir:"):
                        names.add(entry[len("dir:") :])
                    elif entry.startswith("txn:"):
                        names.add(entry[len("txn:") :])
        except OSError:
            pass
    for name in names:
        # batch-<client>-<bid:09d> dirs (append_batch) and
        # txnptr-<client>-<bid> pointers (append_batch_txn) both end in the
        # batch id after the last dash
        if name.startswith(("batch-", "txnptr-", ".txn-")):
            tail = name.rsplit("-", 1)[-1]
            if tail.isdigit():
                best = max(best, int(tail))
    return best


def delete_docs(
    spark: SparkSession, work_dir: str, doc_ids, quiesced: bool = False
) -> dict:
    """Takedown: propagate a document deletion through EVERY persistent
    store the continuous pipeline keeps. The delete is an append (a small
    committed tombstone parquet per store, io/tombstones.py), honored by
    all readers immediately and physically folded at the next compaction:

      corpus appendlog   anti-joined by appendlog.get / corpus_report /
                         get_at time travel; folded by appendlog.merge
                         (manifest `del:` lines keep the result cache from
                         ever serving a pre-delete read)
      hash_store         tombstoned by the deleted docs' CONTENT hashes —
                         identical content arriving later is treated as a
                         new document, not deduped against a ghost
      bucket_store       the docs stop being near-dup candidates
      chunk_store        chunk_sharing_report forgets their chunks
      sample_store       corpus_sample excludes them, with a conservative
                         exactness audit (see corpus_sample / the erosion
                         counter)
      hll/hdr/mg stores  CANNOT subtract (register/counter sketches) —
                         estimates include deleted docs until rebuild_sketch_stores
                         re-derives them from the post-takedown corpus
                         (the documented rebuild-affected-state answer)

    `doc_ids` is a list of ids or a single-column DataFrame. Semantics and
    caveats (documented, by design):
      * deleted doc_ids are assumed never reused (content-addressed norm);
      * releasing a content hash weakens exact-dedup for RE-INGESTED copies
        of the taken-down text until the hash tombstone folds — at most one
        extra copy can be admitted per compaction cycle in the worst case;
      * on a partial failure, re-running is safe: tombstones are idempotent
        under distinct-union.
    Run against a quiesced stream or between triggers (the same
    single-writer discipline as compact_stores); pass quiesced=True only
    when the stream is stopped and drained."""
    from streamds_spark.io import tombstones
    from streamds_spark.streaming import viewstore as _vws

    paths = CorpusStreamPaths(work_dir)
    # FAIL FAST on a corrupt/malformed views.json BEFORE any tombstone is
    # written: aborting mid-sweep would leave sketch-store tombstones
    # committed with the corpus delete and the audit line never reached —
    # a partial state the re-run safety covers, but one there is no reason
    # to enter for an error detectable up front.
    _vws.registered_views(work_dir)
    # micro-batches are serial: the one batch possibly in flight at delete
    # time is frontier+1, so no batch beyond it can carry pre-delete rows —
    # the earliest fold frontier at which these tombstones may be reclaimed.
    # `quiesced=True` asserts the stream is STOPPED AND DRAINED (no batch in
    # flight), so the frontier itself suffices and a fully-drained pipeline
    # can reclaim its tombstones without waiting for a batch that will
    # never come.
    fold_after = batchstore.durable_frontier(paths.checkpoint) + (0 if quiesced else 1)
    if isinstance(doc_ids, DataFrame):
        from streamds_spark.functions.hashing import md5_int60

        ids_df = doc_ids.select(
            F.col(doc_ids.columns[0]).alias("doc_id")
        ).distinct()
        # one tiny job answers both the ledger's n_ids and the delete set's
        # order-independent identity (sum of per-id md5_int60 hashes —
        # decimal(38,0) cannot overflow at any realistic n x 2^60)
        agg = ids_df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(md5_int60(F.col("doc_id")).cast("decimal(38,0)")).alias("s"),
        ).collect()[0]
        n_ids, tok_sum = int(agg["n"]), int(agg["s"] or 0)
    else:
        vals = list(doc_ids)
        if not vals:
            raise ValueError("empty delete set")
        distinct_vals = sorted({int(v) for v in vals})
        ids_df = spark.createDataFrame(
            [(v,) for v in distinct_vals]
        ).toDF("doc_id")
        # driver-side: the common small-list path pays no Spark job for
        # the audit ledger's n_ids or the identity sum (md5_int60_py is the
        # pinned Python twin of md5_int60, so both entry paths derive the
        # SAME token for the same delete set)
        from streamds_spark.functions.hashing import md5_int60_py

        n_ids = len(distinct_vals)
        tok_sum = sum(md5_int60_py(str(v)) for v in distinct_vals)
    # the view cascade's overwrite-by-identity key: a RE-RUN of the same
    # logical takedown (delete_docs documents re-running after a partial
    # failure as safe) rewrites the same delta dir instead of
    # double-subtracting; a DIFFERENT delete set gets a different token
    # (collision odds ~ sums of 60-bit hashes agreeing mod 2^64 — ignorable
    # at takedown cardinalities)
    cascade_token = f"td-{n_ids}-{tok_sum % (1 << 64):016x}"
    written: dict[str, str] = {}
    # content hashes FIRST, while the corpus still serves the doomed rows
    # (corpus tombstones would hide them from this very lookup)
    corpus = appendlog.get(spark, paths.corpus)
    doomed = corpus.join(ids_df, "doc_id", "left_semi")
    n_docs = doomed.count()
    if os.path.isdir(paths.hash_store) and n_docs:
        hashes = doomed.select(
            F.md5(F.col("text").cast("binary")).alias("h")
        ).distinct()
        written["hash_store"] = tombstones.add(
            spark, paths.hash_store, "h", hashes, fold_after=fold_after
        )
    for store in (
        paths.bucket_store,
        paths.chunk_store,
        paths.sample_store,
        paths.wsample_store,
    ):
        if os.path.isdir(store):
            written[os.path.basename(store)] = tombstones.add(
                spark, store, "doc_id", ids_df, fold_after=fold_after
            )
    # registered materialized views (streaming/viewstore.py manifest) get
    # the takedown cascaded while `doomed` still resolves against the
    # pre-delete corpus: subtractable specs receive a negative-delta write
    # derived from the doomed rows, min/max/approx_distinct specs get a
    # durable rebuild-required flag (never silence). The viewstore import
    # happens at delete_docs entry (call time — viewstore imports this
    # module at its top), where the manifest is also pre-validated.
    views: dict = {}
    if n_docs:
        views = _vws.cascade_delete_to_views(
            spark, work_dir, doomed, idempotency_token=cascade_token
        )
    # corpus LAST: everything above read through the pre-delete view
    written["corpus"] = appendlog.delete_keys(
        spark, paths.corpus, "doc_id", ids_df, fold_after=fold_after
    )
    _append_takedown_audit(
        work_dir,
        {
            "action": "delete_docs",
            "n_ids": n_ids,
            "n_docs_matched": n_docs,
            "fold_after": fold_after,
            "quiesced": bool(quiesced),
            "stores": sorted(written),
            **({"views": views} if views else {}),
        },
    )
    return {
        "n_docs_matched": n_docs,
        "fold_after": fold_after,
        **({"views": views} if views else {}),
        **written,
    }


def _append_takedown_audit(work_dir: str, record: dict) -> None:
    """Durable compliance record of every takedown-surface action (one JSON
    line per call, `<work_dir>/takedown_audit.jsonl`): a deletion request
    must be provable after the fact — WHAT was asked, WHEN, and which
    stores got tombstones — independent of which entry point (library, CLI
    verb, server verb) issued it. Best-effort append: an unwritable audit
    file must not fail the takedown itself (the tombstones ARE the
    authoritative state; this is the human-readable ledger)."""
    import json as _json
    import time as _time

    rec = {"ts": round(_time.time(), 3), **record}
    try:
        with open(os.path.join(work_dir, "takedown_audit.jsonl"), "a") as f:
            f.write(_json.dumps(rec) + "\n")
    except OSError:
        pass


def rebuild_sketch_stores(spark: SparkSession, work_dir: str) -> dict:
    """Re-derive the stores that cannot subtract — the HLL distinct sketch,
    the HDR doc-length registers, and the bottom-k sample — from the
    post-takedown corpus appendlog (whose reads already exclude tombstoned
    docs). Each store is rewritten as one `segment=<hi>` where hi is the
    corpus's own batch frontier (_corpus_max_batch): a later replay of any
    batch <= hi rewrites a dir readers skip, so nothing double-counts.

    The rebuilt sketches EQUAL one-pass batch sketches over the remaining
    corpus (same register constructions as process_corpus_batch), and the
    sample-erosion counter resets — corpus_sample is exact at full k again.

    Maintenance op: run with the stream quiesced and no concurrent finalize
    readers (the segment swap for an unchanged hi is delete-then-write)."""
    from streamds_spark.operators.hdr import hdr_registers
    from streamds_spark.operators.hll import hll_registers
    from streamds_spark.operators.sampling import bottomk_sample

    paths = CorpusStreamPaths(work_dir)
    hi = _corpus_max_batch(paths)
    if hi < 0:
        return {"segment_hi": -1, "rebuilt": []}
    corpus = appendlog.get(spark, paths.corpus).localCheckpoint(eager=False)
    rebuilt = []

    def _swap(root: str, df) -> None:
        seg = batchstore.segment_dir(root, hi)
        tmp = seg + ".rebuild"  # not a store dir name: invisible to readers
        shutil.rmtree(tmp, ignore_errors=True)
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        # reclaim everything the new segment subsumes, then commit via
        # rename (atomic); the brief no-segment window is why this op
        # documents the quiesce requirement
        for d in batchstore.all_dirs(root):
            shutil.rmtree(d, ignore_errors=True)
        os.replace(tmp, seg)
        rebuilt.append(os.path.basename(root))

    if os.path.isdir(paths.hll_store):
        _swap(
            paths.hll_store,
            hll_registers(
                corpus.select(
                    F.md5(F.col("text").cast("binary")).alias("_h")
                ),
                "_h",
            ),
        )
    if os.path.isdir(paths.hdr_store):
        _swap(
            paths.hdr_store,
            hdr_registers(
                corpus.select(F.length("text").alias("_len")), "_len"
            ),
        )
    if os.path.isdir(paths.sample_store):
        _swap(
            paths.sample_store,
            bottomk_sample(corpus.select("doc_id"), "doc_id", SAMPLE_K),
        )
        try:
            os.remove(os.path.join(paths.sample_store, _EROSION_FILE))
        except OSError:
            pass
    if os.path.isdir(paths.wsample_store):
        _swap(
            paths.wsample_store,
            _weighted_sample_keys(corpus)
            .orderBy(F.desc("k"), "doc_id")
            .limit(WEIGHTED_SAMPLE_K),
        )
        try:
            os.remove(os.path.join(paths.wsample_store, _EROSION_FILE))
        except OSError:
            pass
    if os.path.isdir(paths.mg_store):
        from streamds_spark.functions.text import tokens as _tokens
        from streamds_spark.operators.heavy_hitters import mg_summary

        _swap(
            paths.mg_store,
            mg_summary(
                corpus.select(F.explode(_tokens(F.col("text"))).alias("term"))
            ),
        )
    _append_takedown_audit(
        work_dir,
        {"action": "rebuild_sketch_stores", "segment_hi": hi, "rebuilt": rebuilt},
    )
    return {"segment_hi": hi, "rebuilt": rebuilt}
