"""Command-line entry points mirroring the reference's interactive commands, so
a reference user can run the same jobs verbatim-ish:

    # MP4 RainStorm (reference: RainStorm op1 op1_param op2 op2_param src dest n)
    python -m streamds_spark.cli rainstorm app2_1 "Punched Telespar" \
        count_operator "" input.csv out_dir 3

    # MP1 grep (reference: typed at the leader terminal)
    python -m streamds_spark.cli grep "grep -c 'ERROR'" /var/log/vm*.log

    # quantify (reference: quantify <dest> <n>)
    python -m streamds_spark.cli quantify out_dir
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="streamds_spark")
    sub = parser.add_subparsers(dest="cmd", required=True)

    rs = sub.add_parser("rainstorm", help="run a RainStorm job spec (batch)")
    rs.add_argument("op1")
    rs.add_argument("op1_param")
    rs.add_argument("op2")
    rs.add_argument("op2_param")
    rs.add_argument("src")
    rs.add_argument("dest", nargs="?", default=None)
    rs.add_argument("num_tasks", nargs="?", type=int, default=3)
    rs.add_argument("--stream", action="store_true", help="run via Structured Streaming")
    rs.add_argument("--checkpoint", default=None, help="checkpoint dir (stream mode)")

    gp = sub.add_parser("grep", help="distributed grep over log files")
    gp.add_argument("command", help="e.g. \"grep -c 'ERROR'\" (quotes required)")
    gp.add_argument("path", help="file/dir/glob of logs")

    qf = sub.add_parser("quantify", help="count (distinct) records in a dest table")
    qf.add_argument("dest")

    # HyDFS-parity file ops over the append-log table facade (io/appendlog.py)
    cr = sub.add_parser("create", help="create an append-log table")
    cr.add_argument("table")
    ap = sub.add_parser("append", help="append a local text file to a table")
    ap.add_argument("localfile")
    ap.add_argument("table")
    ap.add_argument("--client", default="cli")
    gt = sub.add_parser("get", help="print a table's lines (per-client order)")
    gt.add_argument("table")
    mg = sub.add_parser("merge", help="compact a table's append chunks")
    mg.add_argument("table")

    dd = sub.add_parser("dedup", help="near-dup dedup a parquet corpus (MinHash-LSH)")
    dd.add_argument("src", help="input parquet of documents")
    dd.add_argument("dest", help="output parquet for kept documents")
    dd.add_argument("--threshold", type=float, default=0.7, help="Jaccard keep threshold")
    dd.add_argument("--id-col", default="doc_id")
    dd.add_argument("--text-col", default="text")

    dc = sub.add_parser(
        "decontaminate",
        help="drop corpus docs sharing shingles with a benchmark parquet "
        "(bloom prune + exact verify)",
    )
    dc.add_argument("src", help="input parquet of documents")
    dc.add_argument("benchmark", help="parquet of benchmark/eval documents")
    dc.add_argument("dest", help="output parquet for clean documents")
    dc.add_argument("--shingle-n", type=int, default=3)
    dc.add_argument("--id-col", default="doc_id")
    dc.add_argument("--text-col", default="text")

    ss = sub.add_parser(
        "scrub-substrings",
        help="strip corpus-duplicated spans (exact substring dedup, Lee et al.)",
    )
    ss.add_argument("src", help="input parquet of documents")
    ss.add_argument("dest", help="output parquet with cleaned_text")
    ss.add_argument("--l-tokens", type=int, default=8)
    ss.add_argument("--id-col", default="doc_id")
    ss.add_argument("--text-col", default="text")
    ss.add_argument(
        "--keep-one", action="store_true",
        help="preserve one canonical occurrence (min id,pos) of each "
        "duplicated span instead of stripping all (Lee et al. recipe)",
    )
    ss.add_argument(
        "--hash-shingles", action="store_true",
        help="exchange 8-byte xxhash64 keys instead of raw shingle strings "
        "(the large-corpus shuffle-size path; output is bit-identical)",
    )

    iw = sub.add_parser(
        "ingest-warc",
        help="WARC segments -> documents parquet (html extraction + quality "
        "scoring; the pretraining front door)",
    )
    iw.add_argument("src", help="WARC file/dir/glob (.warc or .warc.gz)")
    iw.add_argument("dest", help="output parquet of documents")
    iw.add_argument("--on-error", default="quarantine", choices=["fail", "quarantine", "skip"])
    iw.add_argument("--min-tokens", type=int, default=5)
    iw.add_argument(
        "--all", action="store_true",
        help="write every scored doc (default writes keep=true only)",
    )

    tt = sub.add_parser(
        "train-tokenizer",
        help="train a subword tokenizer on a documents parquet and write the "
        "model as JSON (unigram-LM pieces+logp, or ordered BPE merges)",
    )
    tt.add_argument("src", help="input parquet with a text column")
    tt.add_argument("model", help="output JSON model path")
    tt.add_argument("--algo", default="unigram", choices=["unigram", "bpe"])
    tt.add_argument("--vocab-size", type=int, default=400)
    tt.add_argument(
        "--iters", type=int, default=3,
        help="unigram EM iterations (>=1; ignored for --algo bpe)",
    )
    tt.add_argument("--merges", type=int, default=50, help="BPE merge count")

    tk = sub.add_parser(
        "tokenize",
        help="apply a trained unigram model to a documents parquet -> "
        "(doc_id, pieces) parquet",
    )
    tk.add_argument("src", help="input parquet with a text column")
    tk.add_argument("model", help="unigram JSON model from train-tokenizer")
    tk.add_argument("dest", help="output parquet")

    tl = sub.add_parser(
        "train-lm",
        help="train an interpolated Kneser-Ney bigram LM on a documents "
        "parquet and persist it (the CCNet reference-corpus model)",
    )
    tl.add_argument("src", help="input parquet with a text column")
    tl.add_argument("dest", help="output model dir (four parquet tables)")
    tl.add_argument(
        "--source", default=None,
        help="train only on rows with this source value (default: all rows)",
    )
    tl.add_argument(
        "--order", type=int, default=2,
        help="n-gram order (2 = classic bigram layout; 3-8 use the generic "
        "order-n model with a meta.json the scorer auto-detects)",
    )

    sl = sub.add_parser(
        "score-lm",
        help="score a documents parquet against a persisted KN model -> "
        "(doc_id, n_bigrams, avg_nll) parquet; rank/threshold on avg_nll "
        "to perplexity-filter",
    )
    sl.add_argument("src", help="input parquet with a text column")
    sl.add_argument("model", help="model dir from train-lm")
    sl.add_argument("dest", help="output parquet of per-doc scores")

    cc = sub.add_parser(
        "chunk-corpus",
        help="content-defined-chunk a documents parquet -> "
        "(doc_id, s, e, chunk_hash) parquet",
    )
    cc.add_argument("src", help="input parquet with a text column")
    cc.add_argument("dest", help="output parquet of chunk spans")
    cc.add_argument(
        "--algo", choices=("md5", "gear"), default="gear",
        help="md5 = windowed built-ins variant (char offsets, SQL-twin "
        "semantics); gear = FastCDC-style with min/max clamps (byte "
        "offsets, faster)",
    )
    cc.add_argument("--mask-bits", type=int, default=5)
    cc.add_argument("--min-len", type=int, default=16)
    cc.add_argument("--max-len", type=int, default=128)

    fc = sub.add_parser(
        "filter-corpus",
        help="apply the Gopher + C4 + mojibake hygiene gates to a documents "
        "parquet and write the kept docs (all gates evaluated in one scan)",
    )
    fc.add_argument("src", help="input parquet with a text column")
    fc.add_argument("dest", help="output parquet of kept documents")
    fc.add_argument(
        "--report", action="store_true",
        help="also print per-gate drop counts (one extra aggregation over "
        "the combined verdict)",
    )

    st = sub.add_parser(
        "stream-corpus",
        help="continuously ingest a documents parquet dir through the "
        "hygiene -> dedup -> appendlog pipeline (exactly-once; drains "
        "current input by default, --tail keeps following the dir)",
    )
    st.add_argument("src", help="parquet documents dir (new files stream in)")
    st.add_argument("work", help="work dir: checkpoint + corpus + dedup stores")
    st.add_argument("--tail", action="store_true", help="keep running (production mode)")
    st.add_argument(
        "--metrics", default=None, metavar="JSONL",
        help="record per-batch StreamingQueryProgress to this JSONL file and "
        "print a throughput summary on exit (the ops flight recorder)",
    )

    cs = sub.add_parser(
        "compact-store",
        help="maintenance compaction of a stream-corpus work dir: fold the "
        "per-trigger hash/bucket/chunk store dirs at or below the "
        "checkpoint's durable frontier into one segment each, and merge "
        "the corpus appendlog (run between triggers; probe results are "
        "identical before and after)",
    )
    cs.add_argument("work", help="stream-corpus work dir")
    cs.add_argument(
        "--num-files", type=int, default=None,
        help="coalesce each segment to this many files (default: natural)",
    )

    td = sub.add_parser(
        "takedown",
        help="propagate a document deletion through EVERY persistent store "
        "of a stream-corpus work dir (tombstones honored by all readers "
        "immediately, bytes reclaimed at the next compaction); appends one "
        "line to the work dir's durable takedown ledger "
        "(takedown_audit.jsonl). Run between triggers or quiesced, same "
        "single-writer discipline as compact-store",
    )
    td.add_argument("work", help="stream-corpus work dir")
    td.add_argument(
        "doc_ids",
        help="comma-separated integer doc ids to delete",
    )
    td.add_argument(
        "--quiesced",
        action="store_true",
        help="assert the stream is STOPPED AND DRAINED: tombstones become "
        "reclaimable at the current frontier instead of waiting for the "
        "one possibly-in-flight batch",
    )
    td.add_argument(
        "--rebuild-sketches",
        action="store_true",
        help="also re-derive the register/counter stores that cannot "
        "subtract (HLL/HDR/MG/sample) from the post-takedown corpus "
        "(requires a quiesced stream)",
    )

    def _add_view_spec_args(p, required=True) -> None:
        p.add_argument(
            "--key", action="append", required=required, dest="keys", metavar="COL",
            help="grouping column (repeatable)",
        )
        p.add_argument(
            "--agg", action="append", required=required, metavar="OUT=KIND[:COL]",
            help="aggregate: KIND in sum|count|min|max|avg|approx_distinct"
            "|min_ladder|max_ladder|p1..p99 (HDR quantile); count takes no "
            "column (e.g. n=count s=sum:n_chars dv=approx_distinct:text "
            "p99=p99:n_chars lo=min_ladder:price)",
        )
        p.add_argument(
            "--kmv-k", type=int, default=None,
            help="KMV sketch size for approx_distinct (default 256; exact "
            "below k distinct values per key, ~1/sqrt(k-2) error beyond)",
        )
        p.add_argument(
            "--ladder-j", type=int, default=None,
            help="ladder depth for min_ladder/max_ladder (default 4): the "
            "J extreme distinct values stored per key per trigger — a "
            "takedown subtracts exactly until a key's ladder is exhausted",
        )

    vs = sub.add_parser(
        "view-stream",
        help="maintain an incremental materialized view over a parquet "
        "directory (streaming/viewstore.py): per-trigger partial "
        "aggregates that fold at read into exactly the batch groupBy; "
        "drains currently-available files (availableNow) and exits",
    )
    vs.add_argument("src", help="source parquet directory")
    vs.add_argument("work", help="view work dir (checkpoint + partials store)")
    _add_view_spec_args(vs)
    vs.add_argument(
        "--max-files", type=int, default=1,
        help="maxFilesPerTrigger (default 1; 0 = unthrottled)",
    )

    vr = sub.add_parser(
        "view-report",
        help="fold and print the maintained view (read cost: keys-in-batch "
        "rows x committed dirs, never the source)",
    )
    vr.add_argument(
        "work",
        help="view work dir (with --name: the PIPELINE work dir whose "
        "views.json holds the registration)",
    )
    _add_view_spec_args(vr, required=False)
    vr.add_argument(
        "--name", default=None,
        help="report a REGISTERED view by name: spec and view dir come "
        "from the manifest (the single source of truth — hand-typed "
        "--key/--agg flags that disagree with the registration would "
        "fold garbage); mutually exclusive with --key/--agg",
    )
    vr.add_argument("--limit", type=int, default=1000, help="max rows printed")

    vc = sub.add_parser(
        "view-compact",
        help="fold the view's committed batch dirs at or below the "
        "checkpoint's durable frontier into one segment (row-preserving: "
        "readers re-aggregate, so the view is invariant)",
    )
    vc.add_argument("work", help="view work dir")
    vc.add_argument("--num-files", type=int, default=None)

    vd = sub.add_parser(
        "view-delete",
        help="takedown for subtractable views (sum/count/avg/pNN quantile/"
        "min_ladder/max_ladder): subtract the given rows' contribution "
        "exactly via one negative-delta partial (min/max/approx_distinct "
        "specs are refused, and a ladder takedown that would exhaust a "
        "key's runner-ups refuses atomically — use view-rebuild)",
    )
    vd.add_argument("work", help="view work dir")
    vd.add_argument("deleted", help="parquet of the EXACT source rows to remove")
    _add_view_spec_args(vd)

    vb = sub.add_parser(
        "view-rebuild",
        help="takedown for min/max/approx_distinct views (and any spec): "
        "recompute partials from the remaining source as one dominating "
        "segment — run with the view stream quiesced",
    )
    vb.add_argument(
        "work",
        help="view work dir (with --name: the PIPELINE work dir whose "
        "views.json holds the registration)",
    )
    vb.add_argument(
        "remaining", nargs="?", default=None,
        help="parquet of the remaining (post-delete) source (omit with "
        "--from-corpus)",
    )
    _add_view_spec_args(vb, required=False)
    vb.add_argument(
        "--name", default=None,
        help="rebuild a REGISTERED view by name (spec + view dir from the "
        "manifest); mutually exclusive with --key/--agg",
    )
    vb.add_argument(
        "--from-corpus", action="store_true",
        help="with --name: rebuild from the pipeline's own corpus table "
        "(the post-takedown remaining source) — the one-command remedy "
        "for a rebuild-required flag",
    )
    vb.add_argument(
        "--quiesced",
        action="store_true",
        help="REQUIRED assertion that the view stream is stopped and "
        "drained: the rebuild's reclaim pass deletes batch dirs a live "
        "trigger may still be writing (same discipline as takedown "
        "--rebuild-sketches)",
    )

    vg = sub.add_parser(
        "view-register",
        help="register a view against a PIPELINE work dir (views.json "
        "manifest) so the takedown verb cascades doc deletions into it: "
        "subtractable specs get automatic negative-delta writes, min/max/"
        "approx_distinct specs get a durable rebuild-required flag",
    )
    vg.add_argument("work", help="pipeline work dir (holds views.json)")
    vg.add_argument("name", help="view name (also the default dir name)")
    _add_view_spec_args(vg)
    vg.add_argument(
        "--view-work", default=None,
        help="the view's own work dir (default <work>/views/<name>)",
    )

    vu = sub.add_parser(
        "view-unregister",
        help="drop a view's manifest entry (store dirs are left on disk)",
    )
    vu.add_argument("work", help="pipeline work dir (holds views.json)")
    vu.add_argument("name")

    vl = sub.add_parser(
        "views",
        help="list a pipeline work dir's registered views with status: "
        "spec, committed batch/delta dirs, pending rebuild flag",
    )
    vl.add_argument("work", help="pipeline work dir (holds views.json)")

    sh = sub.add_parser(
        "shell",
        help="interactive terminal (the reference's command loop): SQL by "
        "default; 'grep ...' and 'RainStorm ...' commands recognized",
    )
    sh.add_argument("--sf-dir", default=None, help="TESTDATA dir to register as views")
    sh.add_argument("--logs", default=None, help="log dir/glob for grep commands")

    sv = sub.add_parser(
        "serve",
        help="multi-tenant query server (the reference leader's TCP session "
        "surface): line-delimited-JSON requests, one FAIR pool per client",
    )
    sv.add_argument("sf_dir", help="default TESTDATA dir queries run against")
    sv.add_argument("--host", default="127.0.0.1", help="bind address")
    sv.add_argument("--port", type=int, default=0, help="port (0 = ephemeral)")
    sv.add_argument(
        "--timeout-s",
        type=float,
        default=None,
        help="default per-request deadline: runaway queries are cancelled "
        "and the connection keeps serving (requests may override)",
    )
    sv.add_argument(
        "--audit-log",
        default=None,
        help="JSONL flight recorder: one line per served request "
        "(ts/kind/ok/ms/tenant/detail)",
    )
    sv.add_argument(
        "--cache-dir",
        default=None,
        help="enable the opt-in result cache: requests with {\"cache\": true} "
        "serve repeated queries from their materialized parquet result "
        "(plan-fingerprint keyed; nondeterministic plans never cached)",
    )
    sv.add_argument(
        "--cache-max-bytes",
        type=int,
        default=None,
        help="byte budget for --cache-dir: every promotion LRU-evicts the "
        "least-recently-hit entries down to this total (staged rename + "
        "grace window — in-flight readers finish their scan)",
    )
    sv.add_argument(
        "--max-inflight",
        type=int,
        default=None,
        help="admission control: cap on CONCURRENT data-bearing requests; "
        "over-capacity requests are rejected immediately with "
        '{"busy": true} (control verbs always served)',
    )
    sv.add_argument(
        "--max-inflight-per-tenant",
        type=int,
        default=None,
        help="per-pool in-flight cap: one tenant's stampede cannot occupy "
        "every slot",
    )
    sv.add_argument(
        "--pools",
        default=None,
        help="weighted tenant pools as 'name=weight,...' (e.g. "
        "'gold=8,bronze=1'): written to a FAIR allocation file applied at "
        "session creation; requests pick a pool with {\"pool\": \"gold\"}",
    )
    sv.add_argument(
        "--allow-writes",
        action="store_true",
        help="enable the write verbs (takedown): a default server is "
        "read-only end to end and REFUSES them — writes are a startup "
        "decision, never a per-request one",
    )
    sv.add_argument(
        "--view-root",
        action="append",
        default=None,
        metavar="DIR",
        help="allowlist a directory whose view stores the view_report verb "
        "may fold (repeatable); without any, view_report is DISABLED — a "
        "client-supplied work_dir must not read arbitrary host paths",
    )

    pp = sub.add_parser(
        "prepare",
        help="END-TO-END training-data preparation: hygiene gates -> "
        "dedup -> (optional) decontamination -> tokenizer train+apply -> "
        "token-budget packing -> hash-sharded parquet, with a per-stage "
        "manifest",
    )
    pp.add_argument("src", help="raw documents parquet dir")
    pp.add_argument("dest", help="output dir (stage dirs + shards + manifest)")
    pp.add_argument("--benchmark", default=None, help="eval parquet to decontaminate against")
    pp.add_argument("--tokenizer", choices=["bpe", "unigram"], default="bpe")
    pp.add_argument("--merges", type=int, default=200, help="BPE merge count")
    pp.add_argument("--vocab-size", type=int, default=200, help="unigram vocab")
    pp.add_argument("--iters", type=int, default=2, help="unigram EM iterations")
    pp.add_argument("--threshold", type=float, default=0.7, help="near-dup Jaccard")
    pp.add_argument("--block-tokens", type=int, default=1024)
    pp.add_argument("--shards", type=int, default=8)
    pp.add_argument(
        "--resume", action="store_true",
        help="reuse existing committed stage outputs (_SUCCESS present) "
        "instead of recomputing them",
    )

    cv = sub.add_parser(
        "convert",
        help="convert a table between formats (parquet/orc/csv/json) with "
        "optional directory partitioning — the estate-migration verb",
    )
    cv.add_argument("src", help="input table path")
    cv.add_argument("dest", help="output table path")
    cv.add_argument("--from", dest="src_fmt", default=None,
                    help="input format (default: sniffed from extension)")
    cv.add_argument("--to", dest="dst_fmt", default=None,
                    help="output format (default: sniffed from extension)")
    cv.add_argument("--partition-by", default=None,
                    help="comma-separated partition columns for the output")

    ln = sub.add_parser(
        "lineage",
        help="column-level lineage of a registered query (which source "
        "columns feed each output column; driver-side, runs no jobs)",
    )
    ln.add_argument("query", help="registered query name")
    ln.add_argument("sf_dir", help="TESTDATA dir the query builds against")

    qn = sub.add_parser(
        "quantiles",
        help="HDR sketch quantiles of a table's numeric column (one bucket "
        "pass + a <=1888-key aggregate; same machinery the server's "
        "quantiles verb serves)",
    )
    qn.add_argument("table", help="TESTDATA table name")
    qn.add_argument("column", help="numeric column")
    qn.add_argument("sf_dir", help="TESTDATA dir")
    qn.add_argument(
        "--scale", type=int, default=1,
        help="integer pre-multiplier for sub-unit resolution on non-integer "
        "columns (e.g. 100 for centi-units); value is floored after scaling",
    )
    qn.add_argument(
        "--q", action="append", default=None, metavar="TAG=FRAC",
        help="quantile spec, repeatable (default p50=0.5 p90=0.9 p99=0.99)",
    )
    qn.add_argument(
        "--signed", action="store_true",
        help="use the signed sketch (negative bucket mirror) so negative "
        "values keep their mass — for delta/P&L-class columns; the default "
        "sketch excludes negatives",
    )

    sm = sub.add_parser(
        "sample",
        help="deterministic bottom-k sample of a table (KMV family: k "
        "smallest md5-integer hashes of a key column — same rows on any "
        "engine/partitioning/day, mergeable across shards)",
    )
    sm.add_argument("table", help="TESTDATA table name")
    sm.add_argument("key", help="stable key column hashed for the draw")
    sm.add_argument("sf_dir", help="TESTDATA dir")
    sm.add_argument("-k", type=int, default=20, help="sample size (default 20)")
    sm.add_argument(
        "--stratify", default=None, metavar="COL",
        help="draw k rows PER distinct value of COL instead of k overall "
        "(equal-size per-stratum draws regardless of stratum skew)",
    )

    ck = sub.add_parser(
        "check",
        help="run a declarative data-quality constraint suite on a table "
        "(operators/constraints.py — the whole suite costs ONE scan) and "
        "exit 1 if any check fails: the CI/ingest gate",
    )
    ck.add_argument("table", help="TESTDATA table name")
    ck.add_argument("sf_dir", help="TESTDATA dir")
    ck.add_argument(
        "--not-null", action="append", default=[], metavar="COL",
        help="column must have no NULLs (repeatable)",
    )
    ck.add_argument(
        "--unique", action="append", default=[], metavar="COL[,COL2...]",
        help="non-null tuples must be distinct (repeatable)",
    )
    ck.add_argument(
        "--in-set", action="append", default=[], metavar="COL=V1,V2",
        help="values must be in the listed set (repeatable); escape a "
        "literal comma in a member as '\\,' and a backslash as '\\\\'; "
        "members compare as strings (Spark's implicit cast covers the "
        "numeric columns)",
    )
    ck.add_argument(
        "--matches", action="append", default=[], metavar="COL=REGEX",
        help="values must match the regex (repeatable)",
    )
    ck.add_argument(
        "--non-negative", action="append", default=[], metavar="COL",
        help="values must be >= 0 (repeatable)",
    )
    ck.add_argument(
        "--fk", action="append", default=[], metavar="COL=PARENT.PCOL",
        help="referential check against another TESTDATA table (repeatable)",
    )

    args = parser.parse_args(argv)

    # The corpus verbs lazily read src while overwriting dest — if the two
    # resolve to the same path the overwrite clobbers the input mid-read and
    # the job fails or loses data. Refuse up front (benchmark is an input too).
    if args.cmd in ("dedup", "decontaminate", "scrub-substrings", "ingest-warc", "prepare",
                    "tokenize", "filter-corpus", "stream-corpus",
                    "train-lm", "score-lm", "chunk-corpus", "convert"):
        import os as _os

        out = args.work if args.cmd == "stream-corpus" else args.dest
        inputs = [args.src] + (
            [args.benchmark]
            if args.cmd in ("decontaminate", "prepare") and args.benchmark
            else []
        )
        if args.cmd == "score-lm":
            inputs.append(args.model)
        out_real = _os.path.realpath(out)
        for inp in inputs:
            inp_real = _os.path.realpath(inp)
            # equality clobbers the input mid-read; an output NESTED inside
            # the input dir is just as bad for stream-corpus (the file
            # stream tailing src would ingest its own output files)
            nested = out_real == inp_real or out_real.startswith(
                inp_real + _os.sep
            )
            if nested:
                parser.error(
                    f"output dir must not be {inp_real!r} or inside it: "
                    "writing there would clobber or feed back into the "
                    "input while the plan is still reading it"
                )
    from streamds_spark.session import get_spark

    allocation_file = None
    if getattr(args, "pools", None):
        # scheduler pools are fixed at SparkContext init, so the weighted
        # allocation file must exist BEFORE the session is built
        import os as _os
        import tempfile as _tempfile

        from streamds_spark.session import write_allocation_file

        try:
            pools = {}
            for part in args.pools.split(","):
                name, weight = part.split("=", 1)
                pools[name.strip()] = (int(weight), 0)
        except ValueError:
            parser.error(f"--pools must be 'name=weight,...', got {args.pools!r}")
        allocation_file = write_allocation_file(
            _os.path.join(_tempfile.gettempdir(), f"streamds_pools_{_os.getpid()}.xml"),
            pools,
        )
    spark = get_spark("streamds-cli", allocation_file=allocation_file)

    if args.cmd == "rainstorm":
        if args.stream:
            from streamds_spark.operators.rainstorm import RainStormJob
            from streamds_spark.streaming.engine import read_latest_batch, run_rainstorm_stream

            if not args.dest or not args.checkpoint:
                parser.error("--stream requires dest and --checkpoint")
            job = RainStormJob(
                args.op1, args.op1_param, args.op2, args.op2_param, args.src, args.dest
            )
            q = run_rainstorm_stream(spark, job, args.checkpoint, args.dest)
            q.awaitTermination()
            result = read_latest_batch(spark, args.dest)
        else:
            from streamds_spark.operators.rainstorm import run_rainstorm

            result = run_rainstorm(
                spark, args.op1, args.op1_param, args.op2, args.op2_param,
                args.src, args.dest, args.num_tasks,
            )
        for row in result.collect():
            print("\t".join(str(v) for v in row))
    elif args.cmd == "grep":
        from streamds_spark.operators.grep import grep, parse_grep, read_logs

        logs = read_logs(spark, args.path)
        pipe = parse_grep(args.command)
        if pipe.count:
            per_file = grep(logs, args.command).collect()
            for r in sorted(per_file, key=lambda r: r["file"]):
                print(f"{r['file']}:{r['match_count']}")
            print(f"TOTAL:{sum(r['match_count'] for r in per_file)}")
        else:
            for r in grep(logs, args.command).collect():
                print(r["line"])
    elif args.cmd == "quantify":
        df = spark.read.parquet(args.dest)
        print(f"records:{df.count()} distinct:{df.distinct().count()}")
    elif args.cmd in ("create", "append", "get", "merge"):
        from streamds_spark.io import appendlog

        if args.cmd == "create":
            appendlog.create(spark, args.table)
            print(f"created:{args.table}")
        elif args.cmd == "append":
            with open(args.localfile) as f:
                lines = [(ln.rstrip("\n"),) for ln in f]
            appendlog.append(
                spark.createDataFrame(lines, "line string"), args.table, args.client
            )
            print(f"appended:{len(lines)} lines")
        elif args.cmd == "get":
            for r in appendlog.read_ordered(spark, args.table).collect():
                print(r["line"])
        elif args.cmd == "merge":
            appendlog.merge(spark, args.table)
            print(f"merged:{args.table}")
    elif args.cmd == "dedup":
        from streamds_spark.operators.dedup_pipeline import dedup_corpus

        docs = spark.read.parquet(args.src)
        kept, dropped = dedup_corpus(
            docs,
            threshold=args.threshold,
            id_col=args.id_col,
            text_col=args.text_col,
        )
        kept.write.mode("overwrite").parquet(args.dest)
        n_in = docs.count()
        n_kept = spark.read.parquet(args.dest).count()
        print(f"input:{n_in} kept:{n_kept} dropped:{n_in - n_kept}")
    elif args.cmd == "decontaminate":
        from pyspark.sql import functions as F

        from streamds_spark.functions.text import shingles_expr, tokens
        from streamds_spark.operators.bloom import bloom_decontaminate

        docs = spark.read.parquet(args.src)
        bench = spark.read.parquet(args.benchmark)

        def _shingles(df):
            return df.select(
                F.col(args.id_col).alias("doc_id"),
                tokens(F.col(args.text_col)).alias("toks"),
            ).select(
                "doc_id", F.explode(shingles_expr("toks", args.shingle_n)).alias("shingle")
            )

        contaminated = bloom_decontaminate(
            _shingles(docs), _shingles(bench).select("shingle").distinct()
        ).select("doc_id")
        clean = docs.join(
            contaminated.withColumnRenamed("doc_id", args.id_col), args.id_col, "left_anti"
        )
        clean.write.mode("overwrite").parquet(args.dest)
        n_in = docs.count()
        n_out = spark.read.parquet(args.dest).count()
        print(f"input:{n_in} clean:{n_out} contaminated:{n_in - n_out}")
    elif args.cmd == "scrub-substrings":
        from streamds_spark.operators.substring_dedup import substring_dedup

        docs = spark.read.parquet(args.src)
        cleaned = substring_dedup(
            docs,
            args.l_tokens,
            id_col=args.id_col,
            text_col=args.text_col,
            hash_shingles=args.hash_shingles,
            keep_one=args.keep_one,
        )
        cleaned.write.mode("overwrite").parquet(args.dest)
        from pyspark.sql import functions as F

        stats = spark.read.parquet(args.dest).agg(
            F.count("*"),
            F.sum("n_spans"),
            F.sum("n_tokens_removed"),
            F.sum("n_tokens"),
        ).first()
        print(
            f"docs:{stats[0]} spans:{stats[1]} tokens_removed:{stats[2]} "
            f"tokens_total:{stats[3]}"
        )
    elif args.cmd == "ingest-warc":
        from pyspark.sql import functions as F

        from streamds_spark.operators.ingest import warc_to_documents

        scored = warc_to_documents(
            spark, args.src, on_error=args.on_error, min_tokens=args.min_tokens
        )
        out = scored if args.all else scored.filter("keep").drop("keep")
        out.write.mode("overwrite").parquet(args.dest)
        stats = scored.agg(
            F.count("*"), F.sum(F.col("keep").cast("int")), F.sum("n_tokens")
        ).first()
        print(f"responses:{stats[0]} kept:{stats[1]} tokens:{stats[2]}")
    elif args.cmd == "train-tokenizer":
        import json as _json

        docs = spark.read.parquet(args.src)
        if args.algo == "unigram":
            if args.iters < 1:
                parser.error("--iters must be >= 1 for unigram training")
            from streamds_spark.operators.unigram_lm import train_unigram_lm

            logp, losses = train_unigram_lm(
                docs, vocab_size=args.vocab_size, iters=args.iters
            )
            model = {"algo": "unigram", "pieces": logp}
            summary = (
                f"algo:unigram pieces:{len(logp)} "
                f"loss:{losses[0]:.1f}->{losses[-1]:.1f}"
            )
        else:
            from streamds_spark.operators.bpe import train_bpe

            merges, _ = train_bpe(docs, n_merges=args.merges)
            model = {"algo": "bpe", "merges": [[a, b] for a, b, _ in merges]}
            summary = f"algo:bpe merges:{len(merges)}"
        with open(args.model, "w") as f:
            _json.dump(model, f)
        print(summary)
    elif args.cmd == "tokenize":
        import json as _json

        with open(args.model) as f:
            model = _json.load(f)
        docs = spark.read.parquet(args.src)
        if model.get("algo") == "unigram":
            from streamds_spark.operators.unigram_lm import tokenize_with_vocab

            out = tokenize_with_vocab(docs, model["pieces"]).select(
                "doc_id", "pieces"
            )
        elif model.get("algo") == "bpe":
            from streamds_spark.operators.bpe import apply_bpe

            out = apply_bpe(docs, model["merges"]).select("doc_id", "pieces")
        else:
            parser.error(
                f"unknown tokenizer model algo {model.get('algo')!r} "
                "(expected 'unigram' or 'bpe')"
            )
        out.write.mode("overwrite").parquet(args.dest)
        from pyspark.sql import functions as F

        stats = spark.read.parquet(args.dest).agg(
            F.count("*"), F.sum(F.size("pieces"))
        ).first()
        print(f"docs:{stats[0]} pieces_total:{stats[1]}")
    elif args.cmd == "stream-corpus":
        from streamds_spark.io import appendlog
        from streamds_spark.streaming.llm_pipeline import (
            CorpusStreamPaths,
            run_llm_corpus_stream,
        )

        cap = None
        if args.metrics:
            from streamds_spark.streaming.metrics import attach

            cap = attach(spark, jsonl_path=args.metrics)
        q = run_llm_corpus_stream(
            spark, args.src, args.work, available_now=not args.tail
        )
        qid = str(q.id)
        q.awaitTermination()
        n = appendlog.get(spark, CorpusStreamPaths(args.work).corpus).count()
        print(f"corpus_docs:{n}")
        if cap is not None:
            import json as _json
            import time as _time

            from streamds_spark.streaming.metrics import throughput_report

            # listener delivery is async; give the bus a moment to drain
            for _ in range(100):
                if qid in cap.terminated:
                    break
                _time.sleep(0.1)
            print("metrics:" + _json.dumps(throughput_report(cap.progress(qid))))
            spark.streams.removeListener(cap)
    elif args.cmd == "compact-store":
        from streamds_spark.streaming.llm_pipeline import compact_stores

        stats = compact_stores(spark, args.work, num_files=args.num_files)
        print(
            "compacted upto_batch:{upto_batch} hash:{hash_store} "
            "bucket:{bucket_store} chunk:{chunk_store}".format(**stats)
        )
    elif args.cmd == "takedown":
        from streamds_spark.streaming.llm_pipeline import (
            delete_docs,
            rebuild_sketch_stores,
        )

        tokens_td = [t.strip() for t in args.doc_ids.split(",")]
        if any(not t for t in tokens_td):
            parser.error("takedown: empty doc id (trailing or doubled comma?)")
        try:
            ids = [int(t) for t in tokens_td]
        except ValueError:
            parser.error(f"takedown: doc ids must be integers, got {args.doc_ids!r}")
        if args.rebuild_sketches and not args.quiesced:
            # the rebuild's segment swap races a live stream's in-flight
            # batch (it deletes dirs the trigger may be reading/writing) —
            # enforce the help text's own precondition instead of trusting it
            parser.error("takedown: --rebuild-sketches requires --quiesced")
        stats = delete_docs(spark, args.work, ids, quiesced=args.quiesced)
        stores = sorted(
            k for k in stats if k not in ("n_docs_matched", "fold_after", "views")
        )
        print(
            f"takedown n_ids:{len(ids)} matched:{stats['n_docs_matched']} "
            f"fold_after:{stats['fold_after']} stores:{','.join(stores)}"
        )
        for vname, disp in sorted(stats.get("views", {}).items()):
            print(f"view {vname}: {disp}")
            if disp == "rebuild_required":
                # actionable, not silent: the view's folded numbers still
                # include the deleted docs until the operator rebuilds
                print(
                    f"view {vname}: numbers include deleted docs until "
                    "`view-rebuild` runs against the post-takedown corpus"
                )
        if args.rebuild_sketches:
            rb = rebuild_sketch_stores(spark, args.work)
            print(
                f"rebuilt segment_hi:{rb['segment_hi']} "
                f"stores:{','.join(rb['rebuilt'])}"
            )
    elif args.cmd in (
        "view-stream", "view-report", "view-compact", "view-delete",
        "view-rebuild", "view-register", "view-unregister", "views",
    ):
        from streamds_spark.streaming import viewstore as vws

        spec = None
        vwork = getattr(args, "work", None)
        reg_name = getattr(args, "name", None) if args.cmd in (
            "view-report", "view-rebuild"
        ) else None
        if reg_name is not None:
            # manifest mode: the registration is the single source of
            # truth (hand-typed flags that disagree with it would fold
            # garbage); positional `work` is the PIPELINE work dir
            if (
                args.keys
                or args.agg
                or getattr(args, "kmv_k", None) is not None
                or getattr(args, "ladder_j", None) is not None
            ):
                parser.error(
                    f"{args.cmd}: --name and --key/--agg/--kmv-k/--ladder-j "
                    "are mutually exclusive — the registered spec is "
                    "authoritative"
                )
            try:
                reg = vws.registered_views(args.work)
            except ValueError as e:
                parser.error(str(e))
            if reg_name not in reg:
                parser.error(
                    f"{args.cmd}: no view named {reg_name!r} registered in "
                    f"{args.work} (have: {sorted(reg) or 'none'})"
                )
            spec, vwork = reg[reg_name]
        elif args.cmd not in ("view-compact", "view-unregister", "views"):
            if not getattr(args, "keys", None) or not getattr(args, "agg", None):
                parser.error(
                    f"{args.cmd}: pass --key/--agg, or --name for a "
                    "registered view"
                )
            aggs = {}
            for a in args.agg:
                out, _, rest = a.partition("=")
                kind, _, col = rest.partition(":")
                if not out or not kind:
                    parser.error(f"--agg needs OUT=KIND[:COL], got {a!r}")
                aggs[out] = (kind, col or None)
            try:
                kw = {"kmv_k": args.kmv_k} if args.kmv_k is not None else {}
                if args.ladder_j is not None:
                    kw["ladder_j"] = args.ladder_j
                spec = vws.ViewSpec(keys=tuple(args.keys), aggs=aggs, **kw)
            except ValueError as e:
                parser.error(f"view spec: {e}")
        if args.cmd == "view-stream":
            q = vws.run_view_stream(
                spark, args.src, args.work, spec,
                max_files_per_trigger=args.max_files or None,
            )
            q.awaitTermination(timeout=3600)
            ok = not q.isActive
            if q.isActive:
                q.stop()
            print(f"view-stream drained:{str(ok).lower()} work:{args.work}")
            if not ok:
                # fail loudly: automation keying on the exit code must see
                # an undrained stream as a failure, not a quiet 0
                return 1
        elif args.cmd == "view-report":
            df = vws.view_report(spark, vwork, spec)
            rows = df.limit(max(1, args.limit)).collect()
            cols = df.columns
            for r in sorted(rows, key=lambda r: tuple(str(r[k]) for k in spec.keys)):
                print(" ".join(f"{c}={r[c]}" for c in cols))
            print(f"view rows:{len(rows)}")
            pending = vws.rebuild_required(vwork)
            if pending:
                print(
                    "WARNING: rebuild required — numbers include "
                    f"{pending.get('pending_takedowns', '?')} un-rebuilt "
                    "takedown(s); run view-rebuild against the "
                    "post-takedown source"
                )
        elif args.cmd == "view-compact":
            from streamds_spark.io import batchstore
            from streamds_spark.streaming.llm_pipeline import CorpusStreamPaths

            upto = batchstore.durable_frontier(CorpusStreamPaths(args.work).checkpoint)
            folded = vws.compact_view(
                spark, args.work, upto_batch=upto, num_files=args.num_files
            )
            print(f"view-compact upto:{upto} folded:{folded}")
        elif args.cmd == "view-delete":
            try:
                dest = vws.delete_from_view(
                    spark, args.work, spec, spark.read.parquet(args.deleted)
                )
            except ValueError as e:
                parser.error(str(e))
            import os as _os

            print(f"view-delete delta:{_os.path.basename(dest)}")
        elif args.cmd == "view-rebuild":
            if not args.quiesced:
                # the reclaim pass deletes batch dirs a live trigger may be
                # writing — enforce the help text's precondition
                parser.error("view-rebuild requires --quiesced")
            if args.from_corpus:
                # the one-command remedy for a rebuild-required flag: the
                # remaining source IS the pipeline's own (post-takedown)
                # corpus table
                if reg_name is None:
                    parser.error("view-rebuild: --from-corpus requires --name")
                if args.remaining:
                    parser.error(
                        "view-rebuild: a remaining parquet AND "
                        "--from-corpus conflict — pick one source"
                    )
                from streamds_spark.io import appendlog as _alog
                from streamds_spark.streaming.llm_pipeline import (
                    CorpusStreamPaths as _CSP,
                )

                remaining = _alog.get(spark, _CSP(args.work).corpus)
            elif args.remaining:
                remaining = spark.read.parquet(args.remaining)
            else:
                parser.error(
                    "view-rebuild: pass a remaining parquet, or --name "
                    "NAME --from-corpus"
                )
            hi = vws.rebuild_view(spark, vwork, spec, remaining)
            print(f"view-rebuild segment_hi:{hi}")
        elif args.cmd == "views":
            try:
                reg = vws.registered_views(args.work)
            except ValueError as e:
                parser.error(str(e))
            for vname, (vspec, vdir) in sorted(reg.items()):
                st = vws.view_status(vdir)
                agg_s = ",".join(
                    f"{o}={k}" + (f":{c}" if c else "")
                    for o, (k, c) in vspec.aggs.items()
                )
                print(
                    f"view {vname} keys:{','.join(vspec.keys)} aggs:{agg_s} "
                    f"batches:{st['n_batch_dirs']} "
                    f"segments:{st['n_segments']} deltas:{st['n_deltas']} "
                    f"rebuild_required:{st['rebuild_required']} "
                    f"work:{vdir}"
                )
            print(f"views:{len(reg)}")
        elif args.cmd == "view-register":
            try:
                vdir = vws.register_view(
                    args.work, args.name, spec, view_work_dir=args.view_work
                )
            except ValueError as e:
                parser.error(str(e))
            print(f"view-register {args.name} work:{vdir}")
        else:  # view-unregister
            found = vws.unregister_view(args.work, args.name)
            print(
                f"view-unregister {args.name} "
                f"{'removed' if found else 'not-registered'}"
            )
    elif args.cmd == "train-lm":
        from pyspark.sql import functions as F

        from streamds_spark.operators.ngram_lm import (
            doc_bigrams,
            kn_bigram_model,
            save_kn_model,
        )

        docs = spark.read.parquet(args.src)
        if args.source is not None:
            docs = docs.filter(F.col("source") == args.source)
        if args.order == 2:
            model = kn_bigram_model(doc_bigrams(docs).select("w1", "w2"))
            save_kn_model(model, args.dest)
            n_pairs = spark.read.parquet(f"{args.dest}/pair").count()
            print(f"bigram_types:{n_pairs} model:{args.dest}")
        else:
            from streamds_spark.operators.ngram_lm import (
                doc_ngrams,
                kn_ngram_model,
                save_kn_ngram_model,
            )

            cols = [f"w{i}" for i in range(1, args.order + 1)]
            model = kn_ngram_model(
                doc_ngrams(docs, args.order).select(*cols), args.order
            )
            save_kn_ngram_model(model, args.order, args.dest)
            n_types = spark.read.parquet(f"{args.dest}/lvl{args.order}").count()
            print(f"order:{args.order} ngram_types:{n_types} model:{args.dest}")
    elif args.cmd == "score-lm":
        import os as _os

        from streamds_spark.operators.ngram_lm import (
            doc_bigrams,
            kn_doc_nll,
            kn_score_bigrams,
            load_kn_model,
        )

        docs = spark.read.parquet(args.src)
        if _os.path.exists(_os.path.join(args.model, "meta.json")):
            from streamds_spark.operators.ngram_lm import (
                doc_ngrams,
                kn_ngram_doc_nll,
                kn_ngram_model,  # noqa: F401 (API surface)
                kn_ngram_score,
                load_kn_ngram_model,
            )

            model, order = load_kn_ngram_model(spark, args.model)
            scored = kn_ngram_doc_nll(
                kn_ngram_score(doc_ngrams(docs, order), model, order)
            )
        else:
            model = load_kn_model(spark, args.model)
            scored = kn_doc_nll(kn_score_bigrams(doc_bigrams(docs), model))
        scored.write.mode("overwrite").parquet(args.dest)
        print(f"scored:{spark.read.parquet(args.dest).count()}")
    elif args.cmd == "chunk-corpus":
        from streamds_spark.operators.cdc import cdc_chunks, cdc_chunks_gear

        docs = spark.read.parquet(args.src)
        if args.algo == "gear":
            chunks = cdc_chunks_gear(
                docs,
                mask_bits=args.mask_bits,
                min_len=args.min_len,
                max_len=args.max_len,
            )
        else:
            chunks = cdc_chunks(docs)
        chunks.write.mode("overwrite").parquet(args.dest)
        print(f"docs:{docs.count()} chunks:{spark.read.parquet(args.dest).count()}")
    elif args.cmd == "filter-corpus":
        from pyspark.sql import functions as F

        from streamds_spark.queries.llmdata.webfilter import (
            _MOJIBAKE_PATTERN,
            c4_page_dropped_col,
            gopher_flags_df,
        )

        docs = spark.read.parquet(args.src)
        # all three gates fold into the Gopher projection's first select —
        # one scan computes the whole verdict, no per-gate joins. Empty-text
        # docs are dropped by gopher_flags_df up front; the left join +
        # coalesce below charges them to the gopher counter so the --report
        # accounting always explains every dropped row.
        verdict_core = gopher_flags_df(
            docs,
            extra_cols={
                "c4_ok": ~c4_page_dropped_col(),
                "moji_ok": F.expr(f"regexp_count(text, '{_MOJIBAKE_PATTERN}')") == 0,
            },
        ).select("doc_id", "gopher_keep", "c4_ok", "moji_ok")
        verdict = (
            docs.select("doc_id")
            .join(verdict_core, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("gopher_keep", F.lit(False)).alias("gopher_keep"),
                F.coalesce("c4_ok", F.lit(True)).alias("c4_ok"),
                F.coalesce("moji_ok", F.lit(True)).alias("moji_ok"),
            )
        )
        kept_ids = verdict.filter("c4_ok AND moji_ok AND gopher_keep").select("doc_id")
        docs.join(kept_ids, "doc_id").write.mode("overwrite").parquet(args.dest)
        n_in = docs.count()
        n_out = spark.read.parquet(args.dest).count()
        print(f"input:{n_in} kept:{n_out} dropped:{n_in - n_out}")
        if args.report:
            drops = verdict.agg(
                F.sum((~F.col("c4_ok")).cast("int")),
                F.sum((~F.col("moji_ok")).cast("int")),
                F.sum((~F.col("gopher_keep")).cast("int")),
            ).first()
            print(f"drop_c4:{drops[0]} drop_mojibake:{drops[1]} drop_gopher:{drops[2]}")
    elif args.cmd == "shell":
        _shell(spark, args.sf_dir, args.logs)
    elif args.cmd == "prepare":
        import json as _json

        from streamds_spark.pipeline import prepare_corpus

        manifest = prepare_corpus(
            spark,
            args.src,
            args.dest,
            benchmark=args.benchmark,
            tokenizer=args.tokenizer,
            merges=args.merges,
            vocab_size=args.vocab_size,
            iters=args.iters,
            threshold=args.threshold,
            block_tokens=args.block_tokens,
            n_shards=args.shards,
            resume=args.resume,
        )
        print("manifest:" + _json.dumps(manifest))
    elif args.cmd == "convert":
        from streamds_spark.io.sources import read_any, write_any

        df = read_any(spark, args.src, fmt=args.src_fmt)
        write_any(
            df,
            args.dest,
            fmt=args.dst_fmt,
            partition_by=args.partition_by.split(",") if args.partition_by else None,
        )
        back = read_any(spark, args.dest, fmt=args.dst_fmt)
        print(f"converted:{back.count()} rows")
    elif args.cmd == "lineage":
        from streamds_spark.plans.lineage import lineage_report
        from streamds_spark.registry import load_all

        specs = load_all()
        if args.query not in specs:
            parser.error(f"unknown query {args.query!r} (see QUERIES.md)")
        print(lineage_report(specs[args.query].fn(spark, args.sf_dir)))
    elif args.cmd == "quantiles":
        from streamds_spark.catalog import TABLES, load_table
        from streamds_spark.operators.hdr import column_quantiles

        if args.table not in TABLES:
            parser.error(f"table must be one of {sorted(TABLES)}")
        qs = {"p50": 0.5, "p90": 0.9, "p99": 0.99}
        if args.q:
            try:
                qs = {
                    spec.split("=", 1)[0]: float(spec.split("=", 1)[1])
                    for spec in args.q
                }
            except (IndexError, ValueError):
                parser.error("--q expects TAG=FRACTION (e.g. p95=0.95)")
            if not all(0 < v <= 1 for v in qs.values()):
                parser.error("quantile fractions must be in (0, 1]")
        df = load_table(spark, args.sf_dir, args.table)
        try:
            sketch = column_quantiles(
                df, args.column, qs, scale=args.scale, signed=args.signed
            )
        except ValueError as e:
            parser.error(f"{args.table}: {e}")
        for r in sketch.orderBy("tag").collect():
            print(
                f"{r['tag']}:rank={r['rank']}/{r['n']}"
                f" lo={r['lo']} mid={r['mid']} hi={r['hi']}"
            )
    elif args.cmd == "sample":
        from streamds_spark.catalog import TABLES, load_table
        from streamds_spark.operators.sampling import (
            bottomk_sample,
            stratified_bottomk,
        )

        if args.table not in TABLES:
            parser.error(f"table must be one of {sorted(TABLES)}")
        if not (1 <= args.k <= 10_000):
            parser.error("-k must be in [1, 10000]")
        df = load_table(spark, args.sf_dir, args.table)
        if args.key not in df.columns:
            parser.error(f"no column {args.key!r} in {args.table}")
        if args.stratify is not None:
            if args.stratify not in df.columns:
                parser.error(f"no column {args.stratify!r} in {args.table}")
            # the draw collects k rows PER stratum — a high-cardinality
            # stratify column (doc_id!) would make the driver collect
            # k x cardinality rows; hold the total to the same 10^4 row
            # cap the server uses (one cheap distinct-count job up front)
            n_strata = df.select(args.stratify).distinct().count()
            if args.k * n_strata > 10_000:
                parser.error(
                    f"--stratify {args.stratify!r} has {n_strata} distinct "
                    f"values: k={args.k} would collect {args.k * n_strata} "
                    "rows (cap 10000) — pick a coarser column or smaller -k"
                )
            rows = (
                stratified_bottomk(df, args.stratify, args.key, args.k)
                .orderBy(args.stratify, "h")
                .collect()
            )
        else:
            rows = bottomk_sample(df, args.key, args.k).orderBy("h").collect()
        cols = [c for c in rows[0].asDict() if c != "h"] if rows else []
        for r in rows:
            print(" ".join(f"{c}={r[c]}" for c in cols))
    elif args.cmd == "check":
        from streamds_spark.catalog import TABLES, load_table
        from streamds_spark.operators import constraints as C

        if args.table not in TABLES:
            parser.error(f"table must be one of {sorted(TABLES)}")
        df = load_table(spark, args.sf_dir, args.table)

        def _col(c: str) -> str:
            if c not in df.columns:
                parser.error(f"no column {c!r} in {args.table}")
            return c

        checks = [C.not_null(_col(c)) for c in args.not_null]
        for spec in args.unique:
            checks.append(C.unique(*[_col(c.strip()) for c in spec.split(",")]))
        def _set_members(vals: str) -> list:
            # split on UNESCAPED commas only: '\,' is a literal comma in a
            # member, '\\' a literal backslash — a set member containing a
            # comma was otherwise unexpressible, and a trailing bare comma
            # silently manufactured an empty-string member
            out, cur, i = [], [], 0
            while i < len(vals):
                ch = vals[i]
                if ch == "\\" and i + 1 < len(vals):
                    cur.append(vals[i + 1])
                    i += 2
                    continue
                if ch == ",":
                    out.append("".join(cur))
                    cur = []
                else:
                    cur.append(ch)
                i += 1
            out.append("".join(cur))
            return out

        for spec in args.in_set:
            col, _, vals = spec.partition("=")
            if not vals:
                parser.error(f"--in-set needs COL=V1,V2, got {spec!r}")
            members = _set_members(vals)
            if any(m == "" for m in members):
                parser.error(
                    f"--in-set {spec!r} has an empty member (trailing or "
                    "doubled comma?) — escape a literal comma as '\\,'"
                )
            checks.append(C.in_set(_col(col), members))
        for spec in args.matches:
            col, _, rx = spec.partition("=")
            if not rx:
                parser.error(f"--matches needs COL=REGEX, got {spec!r}")
            checks.append(C.matches(_col(col), rx))
        checks.extend(C.non_negative(_col(c)) for c in args.non_negative)
        fks = []
        for spec in args.fk:
            col, _, ref = spec.partition("=")
            ptable, _, pcol = ref.partition(".")
            if not pcol or ptable not in TABLES:
                parser.error(f"--fk needs COL=PARENT.PCOL over TESTDATA tables, got {spec!r}")
            parent = load_table(spark, args.sf_dir, ptable)
            if pcol not in parent.columns:
                parser.error(f"no column {pcol!r} in {ptable}")
            fks.append(C.ForeignKey(_col(col), parent, pcol))
        if not checks and not fks:
            parser.error("check: give at least one constraint flag")
        rows = C.constraint_report(df, checks, fks).collect()
        failed = 0
        for r in sorted(rows, key=lambda r: (r["check_name"], r["target"])):
            tag = "PASS" if r["passed"] else "FAIL"
            failed += 0 if r["passed"] else 1
            print(
                f"{tag} {r['check_name']}({r['target']}): "
                f"{r['violations']} violations of {r['n_rows']} rows"
            )
        if failed:
            print(f"{failed} check(s) failed")
            raise SystemExit(1)
    elif args.cmd == "serve":
        from streamds_spark.server import start_server

        server = start_server(
            spark,
            args.sf_dir,
            host=args.host,
            port=args.port,
            timeout_s=args.timeout_s,
            cache_dir=args.cache_dir,
            cache_max_bytes=args.cache_max_bytes,
            audit_log=args.audit_log,
            max_inflight=args.max_inflight,
            max_inflight_per_tenant=args.max_inflight_per_tenant,
            allow_writes=args.allow_writes,
            view_roots=args.view_root,
        )
        host, port = server.server_address[:2]
        print(f"serving:{host}:{port}", flush=True)
        try:
            # foreground until EOF on stdin or interrupt (test-drivable: close
            # stdin to stop), mirroring the reference leader's lifetime
            sys.stdin.read()
        except KeyboardInterrupt:
            pass
        server.shutdown()
        server.server_close()
    return 0


def _shell(spark, sf_dir: str | None, logs: str | None) -> None:
    """The reference's interactive terminal loop (SetupCommTerminal shape):
    reads commands from stdin until EOF/'quit'. SQL is the default dialect;
    'grep <...>' and 'RainStorm <...>' mirror the reference commands."""
    if sf_dir:
        from streamds_spark.catalog import register_views

        register_views(spark, sf_dir)
    import shlex

    for raw in sys.stdin:
        line = raw.strip()
        if not line or line.startswith("#"):
            continue
        if line in ("quit", "exit"):
            break
        try:
            if line.startswith("grep"):
                if not logs:
                    print("ERR: start shell with --logs to use grep")
                    continue
                from streamds_spark.operators.grep import grep, parse_grep, read_logs

                ldf = read_logs(spark, logs)
                out = grep(ldf, line)
                if parse_grep(line).count:
                    rows = out.collect()
                    for r in sorted(rows, key=lambda r: r["file"]):
                        print(f"{r['file']}:{r['match_count']}")
                    print(f"TOTAL:{sum(r['match_count'] for r in rows)}")
                else:
                    for r in out.collect():
                        print(r["line"])
            elif line.split(maxsplit=1)[0].lower() == "rainstorm":
                from streamds_spark.operators.rainstorm import run_rainstorm

                toks = shlex.split(line)[1:]
                if len(toks) < 5:
                    print("ERR: RainStorm op1 op1_param op2 op2_param src [dest] [n]")
                    continue
                dest = toks[5] if len(toks) > 5 else None
                n = int(toks[6]) if len(toks) > 6 else 3
                res = run_rainstorm(spark, toks[0], toks[1], toks[2], toks[3], toks[4], dest, n)
                for row in res.collect():
                    print("\t".join(str(v) for v in row))
            else:
                for row in spark.sql(line).collect():
                    print("\t".join(str(v) for v in row))
        except Exception as e:  # keep the loop alive like a real shell
            print(f"ERR: {e}")


if __name__ == "__main__":
    sys.exit(main())
