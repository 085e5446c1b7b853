"""Interactive query server: one shared SparkSession serving concurrent
clients over a line-delimited-JSON TCP protocol.

Reference parity: StreamDS is an *interactive, multi-tenant* system — the
leader accepts client connections and serves concurrent grep / RainStorm
sessions against the shared cluster (`distributed_log_querier/core_process/
core_process.go:259-349` GREP request/response over TCP; session dispatch
and kill `core_process.go:455-478`). This module is that operational surface
on Spark: a ThreadingTCPServer in front of ONE SparkSession, each connection
running its requests under its own FAIR scheduler pool
(`session.scheduler_pool`), so tenants share executor slots fairly instead
of convoying FIFO behind each other.

Protocol (one JSON object per line, response is one JSON line):
  {"cmd": "ping"}                      -> {"ok": true, "pong": true}
  {"cmd": "list"}                      -> {"ok": true, "queries": [...]}
  {"cmd": "tables"}                    -> pinned views' column/type schemas
  {"query": "<name>", "limit": N}
      -> {"ok": true, "query": ..., "columns": [...], "rows": [[...], ...],
          "n_rows": N, "truncated": bool}
  {"query": "<name>", "explain": true} -> plan text + exchange/window facts
  {"query": "<name>", "lineage": true} -> per-output-column source columns
  {"sql": "SELECT ...", "limit": N}    -> read-only SQL over the table views
                                          (parse-level guard: any Command /
                                          INSERT anywhere in the statement is
                                          refused; views are registered ONCE
                                          at startup on the server's pinned
                                          sf_dir — a per-request sf_dir that
                                          differs is refused, never silently
                                          re-registered under other tenants)
  {"cmd": "ann", "index": dir, "vector": [...], "k": N,
   "kind": "lsh"|"ivf", "flip_bits"/"n_probe": M}
      -> {"ok": true, "neighbors": [{vec_id, label, cos_sim}, ...]}
         (reads ONLY the probe's index partitions)
  {"sql": "...", "explain": true}      -> plan text + census facts for
                                          ad-hoc SQL (prices a query before
                                          paying for it)
  {"cmd": "quantiles", "table": t, "column": c,
   "qs": {"p50": 0.5, ...}, "scale": k}
      -> HDR sketch quantiles of a pinned table's numeric column: per tag
         {rank, n, lo, hi, mid} (one bucket pass + <=1888-key aggregate;
         the response is len(qs) rows at ANY table size)
  {"cmd": "status"}                    -> uptime + per-kind served/error
                                          counters + per-kind latency
                                          percentiles (p50/p95/max over the
                                          last 1000) + in-flight count
  {"cmd": "pipeline_status"}           -> progress of the attached streaming
                                          ingest (per-query batch counts /
                                          rates, checkpoint frontier, store
                                          dir counts) — see attach_pipeline
  {"cmd": "cancel", "tag": "..."}      -> cancel the in-flight request that
                                          was submitted with that "tag"
  {"cmd": "views", "work_dir": d}       -> read-only listing of the work
                                          dir's registered views (spec +
                                          store status + pending rebuild
                                          flag; driver-side metadata, no
                                          jobs) — same view_roots
                                          allowlist posture as view_report
  {"cmd": "view_report", "work_dir": d,
   "keys": [..], "aggs": {out: [kind,
   col-or-null]}, "limit": N}          -> fold an incremental materialized
                                          view's committed partials
                                          (streaming/viewstore.py) — a
                                          dashboard refresh from k-row
                                          state, never a source scan;
                                          strictly read-only (the reader
                                          self-heal rename is skipped).
                                          work_dir must resolve inside the
                                          startup view_roots allowlist
                                          (--view-root); the verb is
                                          DISABLED when none was configured
                                          — a client-supplied path must not
                                          fold arbitrary host parquet
  {"cmd": "takedown", "doc_ids": [..],
   "quiesced": bool}                   -> propagate a document deletion
                                          through the attached pipeline's
                                          stores. REFUSED on a default
                                          server: deletes are writes, and
                                          writes require the server to have
                                          been STARTED with
                                          allow_writes=True (--allow-writes)
                                          — per-request escalation is
                                          impossible by design. Served and
                                          refused calls both land in the
                                          audit log; a served delete also
                                          writes the work dir's durable
                                          takedown ledger. quiesced=true is
                                          CROSS-CHECKED against the
                                          session's active streaming
                                          queries and downgraded (visibly)
                                          when any are running
  any data request + {"pool": "gold"}  -> run under a NAMED scheduler pool
                                          (weighted when the session was
                                          built with an allocation file)
  any data request + {"cache": true}   -> serve from / materialize into the
                                          plan-fingerprint result cache
                                          (server started with cache_dir;
                                          response adds cache_hit/cacheable;
                                          nondeterministic plans are never
                                          cached by resultcache's guard)
  anything else / failures             -> {"ok": false, "error": "..."}

Runaway-query control (reference leader parity — it can observe and kill a
session): every data-bearing request runs under its own Spark job group
(thread-scoped, like the FAIR pool). A watchdog timer cancels the group at
the deadline (`timeout_s` per request, else the server default), and
`{"cmd": "cancel"}` cancels by tag from any other connection. Cancellation
interrupts the running tasks (`interruptOnCancel`) and fails fast any
not-yet-submitted job of the same request, so executor slots come back
immediately (ad-hoc SQL with a nested-loop join scans row by row so
its tasks see the interrupt, `_interruptible_sql`) and the CONNECTION
SURVIVES — the tenant gets `{"ok": false, "error": "timeout ..."}` and can
issue the next request.

Scale discipline: the server NEVER collects an unbounded result — it
collects `limit + 1` rows (default 100, hard cap 10_000) and reports
`truncated` instead; a client that wants a full export should run the
query to a sink, not through a socket. Cell values are JSON-coerced with
`default=str` so dates/decimals/binary survive transport.
"""

from __future__ import annotations

import json
import os
import socket
import socketserver
import threading
from collections import deque
import time as _time
import uuid
from typing import Any

from streamds_spark.registry import load_all
from streamds_spark.session import scheduler_pool

DEFAULT_LIMIT = 100
MAX_LIMIT = 10_000
MAX_REQUEST_BYTES = 64 * 1024  # a request is one small JSON line, not data
MAX_TIMEOUT_S = 3600.0

# statement node names that mutate state but are NOT Command subclasses in
# Catalyst's parsed tree (INSERT parses to a plain unary node)
_MUTATING_NODES = frozenset({"InsertIntoStatement", "InsertIntoDir"})


# physical joins that loop over a whole build side for every streamed row
_NESTED_LOOP_JOINS = ("BroadcastNestedLoopJoin", "CartesianProduct")
# (id(session), sf_dir) -> the session's row-scan clone (_interruptible_sql)
_ROW_SCAN_SESSIONS: dict[tuple[int, str], Any] = {}
_ROW_SCAN_LOCK = threading.Lock()


def _row_scan_session(spark, sf_dir: str):
    """A clone of `spark` (same conf as of the first call, same SparkContext,
    so the same job group and pool) whose table views are re-registered with
    the vectorized Parquet/ORC readers off. A scan reads the conf of the
    session its view was loaded in, so setting the conf on the clone alone
    would not reach the pinned views. Built once per session and sf_dir."""
    from pyspark.sql import SparkSession

    from streamds_spark.catalog import register_views

    key = (id(spark), sf_dir)
    with _ROW_SCAN_LOCK:
        rows = _ROW_SCAN_SESSIONS.get(key)
        if rows is None or rows.sparkContext is not spark.sparkContext:
            rows = SparkSession(
                spark.sparkContext, spark._jsparkSession.cloneSession()  # noqa: SLF001
            )
            rows.conf.set("spark.sql.parquet.enableVectorizedReader", "false")
            rows.conf.set("spark.sql.orc.enableVectorizedReader", "false")
            register_views(rows, sf_dir)
            _ROW_SCAN_SESSIONS[key] = rows
    return rows


def _interruptible_sql(spark, sf_dir: str, sql: str):
    """DataFrame for an ad-hoc query whose running tasks die on cancel.

    A task only notices `interruptOnCancel` where its input iterator checks
    for a kill. A vectorized Parquet/ORC scan checks once per columnar batch
    (4096 rows), and a nested-loop join does (batch rows x build rows) of
    work per batch: a 3-way cross join of a 6000-row table runs ~10^11
    iterations between checks, so a cancelled task keeps its executor slot
    for hours. Plans with such a join therefore run on row-based scans
    (`_row_scan_session`), which check for a kill on every row. Every other
    query keeps the vectorized readers."""
    df = spark.sql(sql)
    qe = df._jdf.queryExecution()  # noqa: SLF001
    if "Join" not in qe.analyzed().toString():
        return df
    plan = qe.sparkPlan().toString()
    if not any(op in plan for op in _NESTED_LOOP_JOINS):
        return df
    return _row_scan_session(spark, sf_dir).sql(sql)


def _json_cell(v: Any) -> Any:
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return v


def _reject_non_query(spark, sql: str) -> str | None:
    """Parse-level read-only guard: returns a refusal message unless the
    statement is a pure logical query plan. A first-keyword check is NOT
    enough — Spark accepts CTE-prefixed mutations ('WITH t AS (...) INSERT
    INTO ...'), so the whole parsed tree is walked and any Command node
    (DDL/DML/SET/EXPLAIN/CACHE/...) or INSERT statement anywhere refuses the
    request. Driver-side parse only — nothing is analyzed or executed."""
    try:
        plan = spark._jsparkSession.sessionState().sqlParser().parsePlan(sql)  # noqa: SLF001
    except Exception as e:  # noqa: BLE001 — surface the parse error verbatim
        return f"parse error: {str(e)[:500]}"
    command_cls = spark._jvm.java.lang.Class.forName(  # noqa: SLF001
        "org.apache.spark.sql.catalyst.plans.logical.Command"
    )
    stack = [plan]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if command_cls.isInstance(node) or name in _MUTATING_NODES:
            return (
                f"read-only server: {name} is not allowed "
                "(only query statements are served)"
            )
        it = node.children().iterator()
        while it.hasNext():
            stack.append(it.next())
    return None


def _maybe_cached(
    df, req: dict, cache_dir: str | None, cache_max_bytes: "int | None" = None
):
    """Opt-in result cache for a request: with {"cache": true} on a server
    started with a cache_dir, the FULL result is served from / materialized
    into the plan-fingerprint cache (io/resultcache.py — nondeterministic
    and in-memory plans are computed fresh by its own guards). Returns
    (df_to_collect, cache_info_dict_or_None). The materialization runs the
    whole query once — the tenant is opting into sink-style cost to make
    every repeat of a dashboard query a parquet read of its result."""
    if not req.get("cache") or cache_dir is None:
        return df, None
    from streamds_spark.io.resultcache import cached

    res = cached(df, cache_dir, max_bytes=cache_max_bytes)
    info = {"cache_hit": res.hit, "cacheable": res.cacheable}
    if res.evicted:
        info["evicted"] = res.evicted
    return res.df, info


def _run_request(
    spark,
    default_sf_dir: str,
    req: dict,
    pool: str,
    cache_dir: str | None = None,
    cache_max_bytes: "int | None" = None,
    view_roots: "list[str] | None" = None,
) -> dict:
    if req.get("cmd") == "ping":
        return {"ok": True, "pong": True}
    if req.get("cmd") == "list":
        return {"ok": True, "queries": sorted(load_all())}
    if req.get("cmd") == "tables":
        # schema discovery for the SQL surface: every pinned view's columns
        # and types (driver-side — schemas come from the catalog's readers,
        # no jobs)
        from streamds_spark.catalog import TABLES, load_table

        return {
            "ok": True,
            "sf_dir": default_sf_dir,
            "tables": {
                t: dict(load_table(spark, default_sf_dir, t).dtypes)
                for t in TABLES
            },
        }
    if isinstance(req.get("sql"), str):
        # raw read-only SQL over the TESTDATA views — the reference shell's
        # SQL dialect served multi-tenant. Views are session-global and were
        # registered ONCE at server start on the pinned sf_dir; accepting a
        # per-request sf_dir here would createOrReplaceTempView under every
        # concurrent tenant mid-query.
        sql = req["sql"].strip()
        err = _reject_non_query(spark, sql)
        if err is not None:
            return {"ok": False, "error": err}
        if "sf_dir" in req and req["sf_dir"] != default_sf_dir:
            return {
                "ok": False,
                "error": (
                    "sql is served on the server's pinned sf_dir "
                    f"({default_sf_dir!r}); per-request sf_dir would swap the "
                    "shared views under concurrent tenants"
                ),
            }
        if req.get("explain"):
            # price ad-hoc SQL before running it, same facts as the
            # registry-query explain
            from streamds_spark.plans.audit import formatted_plan, plan_facts

            df = spark.sql(sql)
            facts = plan_facts(df)
            return {
                "ok": True,
                "plan": formatted_plan(df),
                "n_exchanges": facts.n_exchanges,
                "n_global_windows": facts.n_global_windows,
            }
        limit = req.get("limit", DEFAULT_LIMIT)
        if not isinstance(limit, int) or not (1 <= limit <= MAX_LIMIT):
            return {"ok": False, "error": f"limit must be an int in [1, {MAX_LIMIT}]"}
        with scheduler_pool(spark, pool):
            df, cache_info = _maybe_cached(
                _interruptible_sql(spark, default_sf_dir, sql), req, cache_dir, cache_max_bytes
            )
            rows = df.limit(limit + 1).collect()
        truncated = len(rows) > limit
        rows = rows[:limit]
        resp = {
            "ok": True,
            "columns": df.columns,
            "rows": [[_json_cell(v) for v in r] for r in rows],
            "n_rows": len(rows),
            "truncated": truncated,
        }
        if cache_info is not None:
            resp.update(cache_info)
        return resp
    if req.get("cmd") == "views":
        # read-only listing of a pipeline work dir's registered views with
        # live store status — driver-side file metadata only, no jobs. Same
        # client-supplied-path posture as view_report: disabled without a
        # startup allowlist, realpath-pinned inside it.
        work_dir = req.get("work_dir")
        if not isinstance(work_dir, str) or not work_dir:
            return {"ok": False, "error": "views needs 'work_dir' (string)"}
        if view_roots is None:
            return {
                "ok": False,
                "error": "views is disabled on this server: start it with "
                "view_roots=[dir, ...] (--view-root) to allowlist the "
                "readable view dirs",
            }
        real = os.path.realpath(work_dir)
        if not any(
            real == root or real.startswith(root + os.sep)
            for root in view_roots
        ):
            return {
                "ok": False,
                "error": "views: work_dir is outside the server's "
                "view_roots allowlist",
            }
        from streamds_spark.streaming.viewstore import (
            registered_views,
            spec_to_dict,
            view_status,
        )

        try:
            reg = registered_views(work_dir)
        except ValueError as e:
            return {"ok": False, "error": str(e)}
        out = []
        for name, (spec, vdir) in sorted(reg.items()):
            entry = {"name": name, "work_dir": vdir, "spec": spec_to_dict(spec)}
            # the manifest can declare a view work dir ANYWHERE
            # (register_view accepts an explicit path): reading its store
            # metadata must pass the same allowlist the client-supplied
            # path did, or the manifest becomes a read-outside-the-fence
            # indirection view_report itself would refuse
            vreal = os.path.realpath(vdir)
            if any(
                vreal == root or vreal.startswith(root + os.sep)
                for root in view_roots
            ):
                entry.update(view_status(vdir))
            else:
                entry["error"] = (
                    "view work_dir is outside the server's view_roots "
                    "allowlist — status not read"
                )
            out.append(entry)
        return {"ok": True, "views": out, "n_views": len(out)}
    if req.get("cmd") == "view_report":
        # read-only probe of an incremental materialized view
        # (streaming/viewstore.py): fold the view's committed partial dirs —
        # the read cost is (keys-in-store rows) x (committed dirs), never a
        # source scan, so a dashboard tenant refreshes from k-row state.
        # recover=False keeps the verb STRICTLY read-only (the reader-side
        # rebuild self-heal is a rename — a write — and writes require the
        # takedown verb's allow_writes posture).
        from streamds_spark.streaming.viewstore import (
            ViewSpec,
            rebuild_required,
            view_report,
        )

        work_dir = req.get("work_dir")
        keys = req.get("keys")
        aggs = req.get("aggs")
        if not isinstance(work_dir, str) or not work_dir:
            return {"ok": False, "error": "view_report needs 'work_dir' (string)"}
        # work_dir is a CLIENT-SUPPLIED filesystem path — without a pin any
        # tenant could fold parquet from any readable path on the host. The
        # foldable dirs are an OPERATOR decision at startup (the same
        # posture as the sql verb's pinned sf_dir): the verb is disabled
        # until the server is started with a view_roots allowlist, and a
        # request must resolve (realpath — symlinks can't escape) inside one
        if view_roots is None:
            return {
                "ok": False,
                "error": "view_report is disabled on this server: start it "
                "with view_roots=[dir, ...] (--view-root) to allowlist the "
                "foldable view dirs",
            }
        real = os.path.realpath(work_dir)
        if not any(
            real == root or real.startswith(root + os.sep)
            for root in view_roots
        ):
            return {
                "ok": False,
                "error": "view_report: work_dir is outside the server's "
                "view_roots allowlist",
            }
        if not isinstance(keys, list) or not all(
            isinstance(k, str) for k in keys
        ):
            return {"ok": False, "error": "view_report needs 'keys': [str, ...]"}
        if not isinstance(aggs, dict) or not all(
            isinstance(v, (list, tuple)) and len(v) == 2 for v in aggs.values()
        ):
            return {
                "ok": False,
                "error": "view_report needs 'aggs': {out: [kind, col-or-null]}",
            }
        limit = req.get("limit", DEFAULT_LIMIT)
        # bool is an int subclass (the takedown doc_ids contract): refuse it
        if (
            not isinstance(limit, int)
            or isinstance(limit, bool)
            or not (1 <= limit <= MAX_LIMIT)
        ):
            return {"ok": False, "error": f"limit must be an int in [1, {MAX_LIMIT}]"}
        try:
            kw = {"kmv_k": int(req["kmv_k"])} if "kmv_k" in req else {}
            spec = ViewSpec(
                keys=tuple(keys),
                aggs={o: (v[0], v[1]) for o, v in aggs.items()},
                **kw,
            )
        except (ValueError, TypeError) as e:
            return {"ok": False, "error": f"view spec: {e}"}
        with scheduler_pool(spark, pool):
            df = view_report(spark, work_dir, spec, recover=False)
            rows = df.limit(limit + 1).collect()
        truncated = len(rows) > limit
        rows = rows[:limit]
        resp = {
            "ok": True,
            "work_dir": work_dir,
            "columns": df.columns,
            "rows": [[_json_cell(v) for v in r] for r in rows],
            "n_rows": len(rows),
            "truncated": truncated,
        }
        # a pending rebuild flag (set by the takedown cascade on a view
        # whose spec cannot subtract) must reach socket readers too — the
        # numbers still include deleted docs until the operator rebuilds,
        # and the CLI's WARNING alone would leave dashboards blind to it
        pending = rebuild_required(work_dir)
        if pending:
            resp["rebuild_required"] = pending
        return resp
    if req.get("cmd") == "quantiles":
        # sketch-probe endpoint: HDR log-linear quantiles over a pinned
        # table's numeric column (operators/hdr.py). One map-only bucket
        # pass + a <=1888-key aggregate — the response is len(qs) rows at
        # ANY table size, so no limit/truncation machinery is needed; runs
        # under the same job-group watchdog as every data-bearing request.
        import re as _re

        from streamds_spark.catalog import TABLES, load_table
        from streamds_spark.operators.hdr import (
            hdr_quantiles,
            hdr_registers,
            hdr_registers_signed,
        )

        table = req.get("table")
        column = req.get("column")
        scale = req.get("scale", 1)
        signed = req.get("signed", False)
        if not isinstance(signed, bool):
            return {"ok": False, "error": "signed must be a boolean"}
        if table not in TABLES:
            return {"ok": False, "error": f"table must be one of {sorted(TABLES)}"}
        if not isinstance(column, str) or not _re.fullmatch(
            r"[A-Za-z_][A-Za-z0-9_]*", column
        ):
            return {"ok": False, "error": "column must be a plain identifier"}
        if not isinstance(scale, int) or not (1 <= scale <= 1_000_000_000):
            return {"ok": False, "error": "scale must be an int in [1, 1e9]"}
        qs = req.get("qs") or {"p50": 0.5, "p90": 0.9, "p99": 0.99}
        if not (
            isinstance(qs, dict)
            and 0 < len(qs) <= 16
            and all(
                isinstance(t, str) and 0 < len(t) <= 16
                and isinstance(q, (int, float)) and 0 < q <= 1
                for t, q in qs.items()
            )
        ):
            return {"ok": False, "error": "qs must map <=16 tags to q in (0, 1]"}
        df = load_table(spark, default_sf_dir, table)
        dtypes = dict(df.dtypes)
        if column not in dtypes:
            return {"ok": False, "error": f"no column {column!r} in {table}"}
        if not any(
            dtypes[column].startswith(t)
            for t in ("tinyint", "smallint", "int", "bigint", "float", "double", "decimal")
        ):
            return {"ok": False, "error": f"{column} is {dtypes[column]}, not numeric"}
        # non-integer columns are floored after scaling (deterministic IEEE
        # product) — callers pick `scale` for sub-unit resolution; integral
        # columns skip the floor only when unscaled
        integral = any(
            dtypes[column].startswith(t)
            for t in ("tinyint", "smallint", "int", "bigint")
        )
        expr = (
            column
            if scale == 1 and integral
            else f"floor({column} * {scale})"
        )
        # signed=true routes through the negative-bucket-mirror sketch so
        # delta/P&L-class columns keep their negative mass (the default
        # sketch excludes negatives by the non-negative contract)
        regs_fn = hdr_registers_signed if signed else hdr_registers
        with scheduler_pool(spark, pool):
            rows = hdr_quantiles(
                regs_fn(df, expr), dict(qs), signed=signed
            ).collect()
        return {
            "ok": True,
            "table": table,
            "column": column,
            "scale": scale,
            "signed": signed,
            "quantiles": {
                r["tag"]: {
                    "rank": r["rank"], "n": r["n"],
                    "lo": r["lo"], "hi": r["hi"], "mid": r["mid"],
                }
                for r in rows
            },
        }
    if req.get("cmd") == "ann":
        # vector-search endpoint over a persisted index: kind 'lsh' (default,
        # hyperplane-bucket partitions) or 'ivf' (coarse-quantizer lists) —
        # both read ONLY the probe's partitions (static pruning), k rows back
        vec = req.get("vector")
        index = req.get("index")
        k = req.get("k", 10)
        kind = req.get("kind", "lsh")
        if not isinstance(index, str):
            return {"ok": False, "error": "ann needs 'index' (index dir path)"}
        if not (
            isinstance(vec, list)
            and vec
            and all(isinstance(x, (int, float)) for x in vec)
        ):
            return {"ok": False, "error": "ann needs 'vector' (list of numbers)"}
        if not isinstance(k, int) or not (1 <= k <= 1000):
            return {"ok": False, "error": "k must be an int in [1, 1000]"}
        qvec = [float(x) for x in vec]
        if kind == "lsh":
            from streamds_spark.operators.ann import ann_probe_topk, load_index_meta

            flip = req.get("flip_bits", 0)
            try:
                meta = load_index_meta(index)
            except OSError as e:
                return {"ok": False, "error": f"no index meta at {index!r}: {e}"}
            if len(qvec) != meta["dim"]:
                return {
                    "ok": False,
                    "error": f"vector dim {len(qvec)} != index dim {meta['dim']}",
                }
            probe = lambda: ann_probe_topk(  # noqa: E731
                spark, index, qvec, k=k,
                n_planes=meta["n_planes"], n_flip_bits=flip,
            )
        elif kind == "lsh-inc":
            # the incrementally-maintained (streamed) LSH index — same pruned
            # probe over its committed batch/segment dirs
            from streamds_spark.operators.ann import load_index_meta
            from streamds_spark.operators.ann_incremental import ann_index_probe

            flip = req.get("flip_bits", 0)
            try:
                meta = load_index_meta(index)
            except OSError as e:
                return {"ok": False, "error": f"no index meta at {index!r}: {e}"}
            if len(qvec) != meta["dim"]:
                return {
                    "ok": False,
                    "error": f"vector dim {len(qvec)} != index dim {meta['dim']}",
                }
            probe = lambda: ann_index_probe(  # noqa: E731
                spark, index, qvec, k=k, n_flip_bits=flip
            )
        elif kind == "ivf":
            from streamds_spark.operators.ivf import ivf_probe_topk, load_centroids

            n_probe = req.get("n_probe", 2)
            if not isinstance(n_probe, int) or not (1 <= n_probe <= 64):
                return {"ok": False, "error": "n_probe must be an int in [1, 64]"}
            try:
                dim = len(load_centroids(index)[0])
            except OSError as e:
                return {"ok": False, "error": f"no centroids at {index!r}: {e}"}
            if len(qvec) != dim:
                return {
                    "ok": False,
                    "error": f"vector dim {len(qvec)} != index dim {dim}",
                }
            probe = lambda: ivf_probe_topk(  # noqa: E731
                spark, index, qvec, k=k, n_probe=n_probe
            )
        elif kind == "ivf-inc":
            # the incrementally-maintained IVF index (frozen quantizer) —
            # pruned probe over its committed batch/segment dirs
            from streamds_spark.operators.ivf_incremental import (
                ivf_index_probe,
                load_ivf_meta,
            )

            n_probe = req.get("n_probe", 2)
            if not isinstance(n_probe, int) or not (1 <= n_probe <= 64):
                return {"ok": False, "error": "n_probe must be an int in [1, 64]"}
            try:
                meta = load_ivf_meta(index)
            except OSError as e:
                return {"ok": False, "error": f"no index meta at {index!r}: {e}"}
            if len(qvec) != meta["dim"]:
                return {
                    "ok": False,
                    "error": f"vector dim {len(qvec)} != index dim {meta['dim']}",
                }
            probe = lambda: ivf_index_probe(  # noqa: E731
                spark, index, qvec, k=k, n_probe=n_probe
            )
        else:
            return {"ok": False, "error": f"unknown ann kind {kind!r}"}
        with scheduler_pool(spark, pool):
            rows = probe().collect()
        return {
            "ok": True,
            "kind": kind,
            "neighbors": [
                {"vec_id": r["vec_id"], "label": r["label"], "cos_sim": r["cos_sim"]}
                for r in rows
            ],
        }
    name = req.get("query")
    if not isinstance(name, str):
        return {"ok": False, "error": "request needs 'query' or 'cmd'"}
    specs = load_all()
    if name not in specs:
        return {"ok": False, "error": f"unknown query {name!r}"}
    sf_dir = req.get("sf_dir", default_sf_dir)
    if req.get("lineage"):
        # impact analysis: which source columns feed each output column
        from streamds_spark.plans.lineage import column_lineage

        lin = column_lineage(specs[name].fn(spark, sf_dir))
        return {
            "ok": True,
            "query": name,
            "lineage": {c: sorted([t, col] for t, col in s) for c, s in lin.items()},
        }
    if req.get("explain"):
        # price the query before running it: plan text + the census facts
        # (exchanges, global windows) a tenant checks before a big submit
        from streamds_spark.plans.audit import formatted_plan, plan_facts

        df = specs[name].fn(spark, sf_dir)
        facts = plan_facts(df)
        return {
            "ok": True,
            "query": name,
            "plan": formatted_plan(df),
            "n_exchanges": facts.n_exchanges,
            "n_global_windows": facts.n_global_windows,
        }
    limit = req.get("limit", DEFAULT_LIMIT)
    if not isinstance(limit, int) or not (1 <= limit <= MAX_LIMIT):
        return {"ok": False, "error": f"limit must be an int in [1, {MAX_LIMIT}]"}
    # per-connection FAIR pool: concurrent tenants each get a fair share of
    # the executor slots (thread-scoped local property, see session.py)
    with scheduler_pool(spark, pool):
        df, cache_info = _maybe_cached(
            specs[name].fn(spark, sf_dir), req, cache_dir, cache_max_bytes
        )
        rows = df.limit(limit + 1).collect()
    truncated = len(rows) > limit
    rows = rows[:limit]
    resp = {
        "ok": True,
        "query": name,
        "columns": df.columns,
        "rows": [[_json_cell(v) for v in r] for r in rows],
        "n_rows": len(rows),
        "truncated": truncated,
    }
    if cache_info is not None:
        resp.update(cache_info)
    return resp


def _req_kind(req: dict) -> str:
    if not isinstance(req, dict):
        return "invalid"
    if isinstance(req.get("cmd"), str):
        return req["cmd"]
    if isinstance(req.get("sql"), str):
        return "sql"
    if req.get("lineage"):
        return "lineage"
    if req.get("explain"):
        return "explain"
    if isinstance(req.get("query"), str):
        return "query"
    return "invalid"


# request kinds answered from driver-side state only — no job group/watchdog
_CONTROL_KINDS = frozenset(
    {"ping", "list", "tables", "status", "pipeline_status", "cancel", "invalid"}
)


class _Handler(socketserver.StreamRequestHandler):
    def handle(self) -> None:  # one connection = one tenant session
        server: QueryServer = self.server  # type: ignore[assignment]
        pool = f"client-{self.client_address[0]}-{self.client_address[1]}"
        while True:
            line = self.rfile.readline(MAX_REQUEST_BYTES)
            if not line:
                return
            line = line.strip()
            if not line:
                continue
            kind = "invalid"
            req = None
            t_req = _time.perf_counter()
            try:
                req = json.loads(line)
                kind = _req_kind(req)
                if kind == "status":
                    # operational heartbeat: uptime + per-kind served/error
                    # counters (the reference leader prints per-query
                    # latency/counts to console; this is that signal as a
                    # queryable endpoint)
                    resp = {"ok": True, "status": server.status()}
                elif kind == "cancel":
                    resp = server.cancel(req)
                elif kind == "pipeline_status":
                    resp = server.pipeline_status(req)
                elif kind == "takedown":
                    resp = server.takedown(req, pool)
                elif kind in _CONTROL_KINDS:
                    resp = _run_request(server.spark, server.sf_dir, req, pool)
                else:
                    resp = server.run_guarded(req, pool)
            except Exception as e:  # noqa: BLE001 — protocol boundary
                resp = {"ok": False, "error": f"{type(e).__name__}: {e}"}
            detail = None
            if isinstance(req, dict):
                detail = req.get("query") or req.get("sql", "")[:120] or None
            server.note(
                kind,
                bool(resp.get("ok")),
                _time.perf_counter() - t_req,
                detail=detail,
                tenant=pool,
            )
            try:
                self.wfile.write(
                    (json.dumps(resp, default=str) + "\n").encode("utf-8")
                )
                self.wfile.flush()
            except (BrokenPipeError, ConnectionResetError):
                return


class QueryServer(socketserver.ThreadingTCPServer):
    """Localhost-by-default threading server over a shared SparkSession."""

    daemon_threads = True
    allow_reuse_address = True

    def __init__(
        self,
        spark,
        sf_dir: str,
        host: str = "127.0.0.1",
        port: int = 0,
        timeout_s: float | None = None,
        cache_dir: str | None = None,
        cache_max_bytes: int | None = None,
        audit_log: str | None = None,
        max_inflight: int | None = None,
        max_inflight_per_tenant: int | None = None,
        allow_writes: bool = False,
        view_roots: "list[str] | None" = None,
    ):
        self.spark = spark
        self.sf_dir = sf_dir
        # allowlist of dirs the view_report verb may fold (realpath-pinned
        # at startup, like sf_dir pins the sql verb); None = verb disabled —
        # an operator decision, never a per-request one
        self.view_roots = (
            [os.path.realpath(r) for r in view_roots] if view_roots else None
        )
        # writes are opt-in at STARTUP, never per-request: a server is
        # read-only unless the operator explicitly started it otherwise, so
        # the takedown verb on a default server is refused at the guard —
        # deletes are writes, exactly like INSERT through the sql verb
        self.allow_writes = allow_writes
        self.timeout_s = timeout_s  # default per-request deadline (None = off)
        self.cache_dir = cache_dir  # enables opt-in {"cache": true} serving
        # byte budget for that cache: every promotion LRU-evicts down to it
        # (io/resultcache.evict_to_budget) so a long-lived server's cache dir
        # cannot grow without bound as literals/inputs churn fingerprints
        self.cache_max_bytes = cache_max_bytes
        self.audit_log = audit_log  # JSONL flight recorder (one line/request)
        # admission control: timeouts bound one request's CPU, but nothing
        # else bounds CONCURRENT data-bearing requests — every connection
        # gets a thread and a job group, so 500 clients would mean 500 live
        # job groups contending for the same executor slots. Over-capacity
        # requests are rejected IMMEDIATELY with {"ok": false, "busy": true}
        # (fail fast beats queueing: the client can back off or go
        # elsewhere, and a stampede can't build an unbounded backlog of
        # threads parked on the scheduler). Control verbs (status, cancel,
        # ping, pipeline_status) bypass the cap — operability must survive
        # saturation, and cancel is how an operator RELIEVES it.
        self.max_inflight = max_inflight
        self.max_inflight_per_tenant = max_inflight_per_tenant
        self._t0 = _time.time()
        self._stats_lock = threading.Lock()
        self._audit_lock = threading.Lock()  # file IO only — never nests
        self._takedown_lock = threading.Lock()  # serializes write verbs
        self._served: dict[str, int] = {}
        self._latency: dict[str, deque] = {}  # per-kind, bounded
        self._errors = 0
        self._req_n = 0
        self._active: dict[str, tuple[str, dict]] = {}  # tag -> (group, state)
        self._inflight = 0
        self._inflight_by_tenant: dict[str, int] = {}
        self._rejected = 0
        self._pipeline: tuple[Any, str] | None = None
        # the shared SQL views are registered ONCE here, on the pinned sf_dir:
        # tenants all read the same snapshot, and no request path re-registers
        from streamds_spark.catalog import register_views

        register_views(spark, sf_dir)
        super().__init__((host, port), _Handler)

    # -- runaway-query control ---------------------------------------------
    def _cancel_group(self, group: str) -> None:
        sc = self.spark.sparkContext
        try:
            # also fails fast jobs of this request not yet submitted
            sc._jsc.sc().cancelJobGroupAndFutureJobs(group)  # noqa: SLF001
        except Exception:  # noqa: BLE001 — older API surface
            sc.cancelJobGroup(group)

    def run_guarded(self, req: dict, pool: str) -> dict:
        """Run one data-bearing request under its own job group with an
        optional watchdog deadline. Thread-scoped like the FAIR pool: the
        group id is attached to every job this thread submits."""
        timeout_s = req.get("timeout_s", self.timeout_s)
        if timeout_s is not None and not (
            isinstance(timeout_s, (int, float)) and 0 < timeout_s <= MAX_TIMEOUT_S
        ):
            return {
                "ok": False,
                "error": f"timeout_s must be a number in (0, {MAX_TIMEOUT_S}]",
            }
        tag = req.get("tag")
        if tag is not None and not isinstance(tag, str):
            return {"ok": False, "error": "tag must be a string"}
        # a request may name a scheduler pool (e.g. one configured with a
        # weight/minShare via session.write_allocation_file) instead of the
        # per-connection default — that is how tenants map onto weighted
        # resource shares when the session was built with an allocation file
        pool = req.get("pool", pool)
        if not isinstance(pool, str) or not (0 < len(pool) <= 128):
            return {"ok": False, "error": "pool must be a non-empty string"}
        sc = self.spark.sparkContext
        with self._stats_lock:
            # admission control: reject over-capacity work IMMEDIATELY,
            # before any job group or scheduler state exists for it
            if (
                self.max_inflight is not None
                and self._inflight >= self.max_inflight
            ):
                self._rejected += 1
                return {
                    "ok": False,
                    "error": f"busy: {self._inflight} requests in flight "
                    f"(cap {self.max_inflight}) — retry with backoff",
                    "busy": True,
                }
            if (
                self.max_inflight_per_tenant is not None
                and self._inflight_by_tenant.get(pool, 0)
                >= self.max_inflight_per_tenant
            ):
                self._rejected += 1
                return {
                    "ok": False,
                    "error": f"busy: tenant pool {pool!r} at its in-flight "
                    f"cap ({self.max_inflight_per_tenant})",
                    "busy": True,
                }
            self._req_n += 1
            # globally unique (uuid): cancelJobGroupAndFutureJobs poisons a
            # group id for the lifetime of the SparkContext, so ids must
            # never be reused across requests OR server instances
            group = f"streamds-req-{self._req_n}-{uuid.uuid4().hex[:8]}"
            self._inflight += 1
            self._inflight_by_tenant[pool] = (
                self._inflight_by_tenant.get(pool, 0) + 1
            )
        state = {"timeout": False, "cancelled": False}
        if tag is not None:
            with self._stats_lock:
                self._active[tag] = (group, state)
        timer: threading.Timer | None = None
        sc.setJobGroup(group, f"streamds-server {pool}", interruptOnCancel=True)
        try:
            if timeout_s is not None:

                def _fire() -> None:
                    state["timeout"] = True
                    self._cancel_group(group)

                timer = threading.Timer(float(timeout_s), _fire)
                timer.daemon = True
                timer.start()
            return _run_request(
                self.spark,
                self.sf_dir,
                req,
                pool,
                self.cache_dir,
                self.cache_max_bytes,
                view_roots=self.view_roots,
            )
        except Exception as e:  # noqa: BLE001
            if state["timeout"]:
                return {
                    "ok": False,
                    "error": f"timeout: cancelled after {timeout_s}s",
                    "timeout": True,
                }
            if state["cancelled"]:
                return {"ok": False, "error": "cancelled", "cancelled": True}
            return {"ok": False, "error": f"{type(e).__name__}: {str(e)[:2000]}"}
        finally:
            if timer is not None:
                timer.cancel()
            for prop in (
                "spark.jobGroup.id",
                "spark.job.description",
                "spark.job.interruptOnCancel",
            ):
                sc.setLocalProperty(prop, None)
            with self._stats_lock:
                self._inflight -= 1
                n_t = self._inflight_by_tenant.get(pool, 1) - 1
                if n_t <= 0:
                    self._inflight_by_tenant.pop(pool, None)
                else:
                    self._inflight_by_tenant[pool] = n_t
                if tag is not None and self._active.get(tag, (None,))[0] == group:
                    del self._active[tag]

    def cancel(self, req: dict) -> dict:
        """Cancel an in-flight tagged request from any connection (the
        reference leader's kill-session verb)."""
        tag = req.get("tag")
        if not isinstance(tag, str):
            return {"ok": False, "error": "cancel needs 'tag' (string)"}
        with self._stats_lock:
            entry = self._active.get(tag)
        if entry is None:
            return {"ok": True, "cancelled": False, "tag": tag}
        group, state = entry
        state["cancelled"] = True
        self._cancel_group(group)
        return {"ok": True, "cancelled": True, "tag": tag}

    # -- takedown (write verb) ----------------------------------------------
    def takedown(self, req: dict, pool: str) -> dict:
        """Propagate a document deletion through the attached pipeline's
        stores (streaming/llm_pipeline.delete_docs). REFUSED unless the
        server was STARTED with allow_writes=True — deletes are writes, and
        the default server is read-only end to end (the same posture as the
        sql verb's Command guard); a tenant must not be able to flip a
        running read-only server into a writable one per-request. Every
        call — refused or served — lands in the server audit log via
        note(), and a served delete additionally writes the durable
        takedown ledger in the work dir (llm_pipeline._append_takedown_audit)."""
        if not self.allow_writes:
            return {
                "ok": False,
                "error": "read-only server: takedown is a write — start the "
                "server with allow_writes=True (--allow-writes) to enable it",
            }
        if self._pipeline is None:
            return {"ok": False, "error": "no pipeline attached to this server"}
        ids = req.get("doc_ids")
        if (
            not isinstance(ids, list)
            or not ids
            # bool is an int subclass: [true] would otherwise pass and
            # silently delete doc_id 1 — refuse it explicitly
            or not all(
                isinstance(i, int) and not isinstance(i, bool) for i in ids
            )
        ):
            return {
                "ok": False,
                "error": "takedown needs 'doc_ids': non-empty list of ints",
            }
        if len(ids) > 10_000:
            return {
                "ok": False,
                "error": "takedown caps at 10000 ids per request — batch a "
                "mass takedown through the library path (delete_docs with a "
                "DataFrame), not a socket",
            }
        quiesced = bool(req.get("quiesced", False))
        from streamds_spark.streaming.llm_pipeline import delete_docs

        _capture, work_dir = self._pipeline
        # quiesced=True asserts "stream stopped and drained", which lets
        # delete_docs reclaim tombstones at the CURRENT frontier — a wrong
        # assertion risks folding a batch an in-flight trigger may still
        # replay. The server can see the session's streaming queries, so it
        # does not trust the flag verbatim: any active query downgrades the
        # call to quiesced=False (frontier+1 — always safe), visibly.
        quiesced_downgraded = False
        if quiesced and self.spark.streams.active:
            quiesced = False
            quiesced_downgraded = True
        # delete_docs documents single-writer discipline; ThreadingTCPServer
        # gives every connection its own thread, so concurrent takedown
        # requests must serialize here — deletes are rare maintenance ops,
        # a lock is the right tool (no fairness/throughput concern)
        with self._takedown_lock, scheduler_pool(self.spark, pool):
            stats = delete_docs(self.spark, work_dir, ids, quiesced=quiesced)
        resp = {
            "ok": True,
            "n_docs_matched": stats["n_docs_matched"],
            "fold_after": stats["fold_after"],
            "stores": sorted(k for k in stats if k not in
                             ("n_docs_matched", "fold_after", "views")),
        }
        if "views" in stats:
            resp["views"] = stats["views"]
        if quiesced_downgraded:
            resp["quiesced_downgraded"] = True
            resp["quiesced_downgrade_reason"] = (
                "active streaming queries on this session — tombstones "
                "fold after the in-flight batch (frontier+1), not at the "
                "asserted drained frontier"
            )
        return resp

    # -- streaming-pipeline observability ----------------------------------
    def attach_pipeline(self, capture, work_dir: str) -> None:
        """Expose a running ingest pipeline over the socket: `capture` is a
        streaming/metrics.ProgressCapture registered on this session, and
        `work_dir` the llm_pipeline work dir (checkpoint + stores)."""
        self._pipeline = (capture, work_dir)

    def pipeline_status(self, req: dict | None = None) -> dict:
        if self._pipeline is None:
            return {"ok": False, "error": "no pipeline attached to this server"}
        from streamds_spark.streaming.llm_pipeline import (
            CorpusStreamPaths,
            _committed_store_dirs,
            _durable_frontier,
        )
        from streamds_spark.streaming.metrics import throughput_report

        capture, work_dir = self._pipeline
        paths = CorpusStreamPaths(work_dir)
        queries = {
            qid: throughput_report(capture.progress(qid))
            for qid in capture.query_ids()
        }
        stores = {
            name: len(_committed_store_dirs(getattr(paths, name), 2**62))
            for name in (
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
        }
        out = {
            "work_dir": work_dir,
            "queries": queries,
            "durable_frontier": _durable_frontier(paths),
            "committed_store_dirs": stores,
            "terminated": dict(capture.terminated),
        }
        if req and req.get("estimate"):
            # distinct-ingest estimate from the streamed HLL register store —
            # a <=256-row read + merge at any corpus size
            from streamds_spark.streaming.llm_pipeline import distinct_docs_estimate

            row = distinct_docs_estimate(self.spark, work_dir).first()
            out["distinct_docs_estimate"] = round(row["est"], 1)
        if req and req.get("heavy_hitters"):
            # top-k heavy-hitter terms from the streamed MG summary store —
            # a <=(cap+1)-rows-per-dir read + per-term sum at any corpus
            # size, served with its additive error bound
            from streamds_spark.streaming.llm_pipeline import (
                corpus_heavy_hitters,
            )

            hk = min(int(req["heavy_hitters"]), 1000)
            rows = corpus_heavy_hitters(self.spark, work_dir, k=hk).collect()
            out["heavy_hitters"] = {
                "terms": [{"term": r["term"], "est": r["est"]} for r in rows],
                "n_total": rows[0]["n_total"] if rows else 0,
                "error_bound": rows[0]["error_bound"] if rows else 0,
            }
        if req and req.get("dup_skew"):
            # duplication-skew (F2 / self-join size of arrival content
            # hashes) from the streamed AMS counters — an AMS_K-rows-per-dir
            # read + linear fold at any corpus size; read beside the HLL F0
            # estimate, F2/F0 is the mean duplicate multiplicity
            from streamds_spark.streaming.llm_pipeline import dup_skew_estimate

            row = dup_skew_estimate(self.spark, work_dir).first()
            if row is not None:
                out["dup_skew"] = {
                    "n_counters": row["n_counters"],
                    "f2_estimate": row["f2_estimate"],
                }
        if req and req.get("dq"):
            # data-quality gate state from the streamed per-trigger
            # constraint reports — a 6-rows-per-dir read + additive fold at
            # any corpus size; the live answer to "is the feed healthy"
            from streamds_spark.streaming.llm_pipeline import corpus_dq_report

            rows = corpus_dq_report(self.spark, work_dir).collect()
            # an EMPTY store must not read as healthy: all() over zero
            # rows is True, and a gate keyed on all_passed would conclude
            # a feed that never produced quality data is fine — report
            # no-data explicitly instead
            out["dq"] = {
                "no_data": not rows,
                "checks": [
                    {
                        "check": r["check_name"],
                        "target": r["target"],
                        "n_rows": r["n_rows"],
                        "violations": r["violations"],
                        "passed": r["passed"],
                    }
                    for r in sorted(
                        rows, key=lambda r: (r["check_name"], r["target"])
                    )
                ],
                "all_passed": bool(rows) and all(r["passed"] for r in rows),
            }
        if req and req.get("quantiles"):
            # kept-doc length quantiles from the streamed HDR register store —
            # a <=1888-row read + merge at any corpus size
            from streamds_spark.streaming.llm_pipeline import (
                doclen_quantiles_estimate,
            )

            out["doclen_quantiles"] = {
                r["tag"]: {"lo": r["lo"], "hi": r["hi"], "mid": r["mid"]}
                for r in doclen_quantiles_estimate(self.spark, work_dir).collect()
            }
        return {"ok": True, "pipeline": out}

    # -- counters -----------------------------------------------------------
    def note(
        self,
        kind: str,
        ok: bool,
        dur_s: float | None = None,
        detail: str | None = None,
        tenant: str | None = None,
    ) -> None:
        with self._stats_lock:
            self._served[kind] = self._served.get(kind, 0) + 1
            if dur_s is not None:
                self._latency.setdefault(kind, deque(maxlen=1000)).append(dur_s)
            if not ok:
                self._errors += 1
        if self.audit_log:
            # ops flight recorder, one JSON line per request (the reference
            # leader logs every served query to its console; this is that
            # record durable + greppable). Driver-side file append only.
            rec = {
                "ts": round(_time.time(), 3),
                "kind": kind,
                "ok": ok,
                "ms": round(dur_s * 1000, 1) if dur_s is not None else None,
                "tenant": tenant,
                "detail": detail,
            }
            # file append under its OWN lock: a slow/blocked filesystem
            # write must not stall _stats_lock, which the completion path,
            # cancel() and status() all take — audit IO can never block the
            # runaway-query controls
            with self._audit_lock, open(self.audit_log, "a") as f:
                f.write(json.dumps(rec) + "\n")

    def status(self) -> dict:
        # per-kind latency percentiles over the last <=1000 requests — the
        # reference leader prints per-query latency to its console
        # (core_process.go GREP RET branch); this is that signal, queryable.
        # The cache census (a filesystem walk, slow on a big cache dir or a
        # networked filesystem) runs BEFORE the lock: note(), cancel(), and
        # the completion path all take _stats_lock and must never stall
        # behind IO — the audit-log discipline applied to status().
        cache = self._cache_status()
        with self._stats_lock:
            latency = {}
            for kind, durs in sorted(self._latency.items()):
                xs = sorted(durs)
                latency[kind] = {
                    "n": len(xs),
                    "p50_ms": round(xs[len(xs) // 2] * 1000, 1),
                    "p95_ms": round(xs[min(len(xs) - 1, int(len(xs) * 0.95))] * 1000, 1),
                    "max_ms": round(xs[-1] * 1000, 1),
                }
            return {
                "uptime_s": round(_time.time() - self._t0, 1),
                "served": dict(sorted(self._served.items())),
                "latency_ms": latency,
                "errors": self._errors,
                "inflight": self._inflight,
                "inflight_by_tenant": dict(sorted(self._inflight_by_tenant.items())),
                "rejected_busy": self._rejected,
                "max_inflight": self.max_inflight,
                "max_inflight_per_tenant": self.max_inflight_per_tenant,
                "result_cache": cache,
            }

    def _cache_status(self) -> "dict | None":
        """Committed-entry census of the result cache (None when disabled).
        Read-only walk outside the stats lock — the census stats files, it
        never runs jobs or takes the promotion/eviction paths."""
        if self.cache_dir is None:
            return None
        from streamds_spark.io.resultcache import cache_census

        c = cache_census(self.cache_dir)
        return {
            "entries": c.entries,
            "bytes": c.bytes,
            "max_bytes": self.cache_max_bytes,
        }


def start_server(
    spark,
    sf_dir: str,
    host: str = "127.0.0.1",
    port: int = 0,
    timeout_s: float | None = None,
    cache_dir: str | None = None,
    cache_max_bytes: int | None = None,
    audit_log: str | None = None,
    max_inflight: int | None = None,
    max_inflight_per_tenant: int | None = None,
    allow_writes: bool = False,
    view_roots: "list[str] | None" = None,
) -> QueryServer:
    """Bind + serve in a daemon thread; returns the server (read the bound
    port from `server.server_address`, stop with `server.shutdown()`)."""
    server = QueryServer(
        spark,
        sf_dir,
        host=host,
        port=port,
        timeout_s=timeout_s,
        cache_dir=cache_dir,
        cache_max_bytes=cache_max_bytes,
        audit_log=audit_log,
        max_inflight=max_inflight,
        max_inflight_per_tenant=max_inflight_per_tenant,
        allow_writes=allow_writes,
        view_roots=view_roots,
    )
    t = threading.Thread(target=server.serve_forever, daemon=True, name="streamds-serve")
    t.start()
    return server


def request(host: str, port: int, req: dict, timeout: float = 120.0) -> dict:
    """One-shot client helper (used by the CLI and tests)."""
    with socket.create_connection((host, port), timeout=timeout) as s:
        s.sendall((json.dumps(req) + "\n").encode("utf-8"))
        buf = b""
        while not buf.endswith(b"\n"):
            chunk = s.recv(65536)
            if not chunk:
                break
            buf += chunk
    return json.loads(buf.decode("utf-8"))
