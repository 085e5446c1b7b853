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

Dispatch: `_req_kind` is the one classifier. A string `cmd` names the verb
(one the server does not know is `invalid`); otherwise `sql` wins, then the
`lineage` and `explain` flags, then `query`. `_VERBS` maps each kind to its
handler and to whether it is guarded (admission caps, job group, watchdog
— `QueryServer.run_guarded`). The kind names the audit record, the status
counters and the handler alike, so the verb that is counted is the verb
that ran. A handler refuses a request by raising `_Refused`, whose message
is the whole error reply.
"""

from __future__ import annotations

import json
import os
import socket
import socketserver
import threading
import time as _time
import uuid
from collections import deque
from typing import Any

from pyspark.sql import SparkSession

from streamds_spark.catalog import TABLES, load_table, register_views
from streamds_spark.operators.ann import ann_probe_topk, load_index_meta
from streamds_spark.operators.ann_incremental import ann_index_probe
from streamds_spark.operators.hdr import column_quantiles
from streamds_spark.operators.ivf import ivf_probe_topk, load_centroids
from streamds_spark.operators.ivf_incremental import ivf_index_probe, load_ivf_meta
from streamds_spark.plans.audit import formatted_plan, plan_facts
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


class _Refused(Exception):
    """A request the server declines: the message is the whole error reply."""


def _str_arg(req: dict, key: str, verb: str) -> str:
    value = req.get(key)
    if not isinstance(value, str) or not value:
        raise _Refused(f"{verb} needs '{key}' (string)")
    return value


def _int_arg(req: dict, key: str, default: int, hi: int, lo: int = 1) -> int:
    """req[key] (else `default`) as an int in [lo, hi]. bool is an int
    subclass and is refused: {"limit": true} must not read as 1."""
    value = req.get(key, default)
    if not isinstance(value, int) or isinstance(value, bool) or not lo <= value <= hi:
        raise _Refused(f"{key} must be an int in [{lo}, {hi}]")
    return value


def _detail(req: Any) -> str | None:
    """The audit record's detail: the query name, else the SQL's first 120
    characters. Only str values, so a malformed field cannot fail it."""
    if not isinstance(req, dict):
        return None
    for key in ("query", "sql"):
        if isinstance(req.get(key), str) and req[key]:
            return req[key][:120]
    return None


def _refuse_non_query(spark, sql: str) -> None:
    """Parse-level read-only guard: refuses the request unless the
    statement is a pure logical query plan. A first-keyword check is NOT
    enough — Spark accepts CTE-prefixed mutations ('WITH t AS (...) INSERT
    INTO ...'), so the whole parsed tree is walked and any Command node
    (DDL/DML/SET/EXPLAIN/CACHE/...) or INSERT statement anywhere refuses the
    request. Driver-side parse only — nothing is analyzed or executed."""
    try:
        plan = spark._jsparkSession.sessionState().sqlParser().parsePlan(sql)  # noqa: SLF001
    except Exception as e:  # noqa: BLE001 — surface the parse error verbatim
        raise _Refused(f"parse error: {str(e)[:500]}") from e
    command_cls = spark._jvm.java.lang.Class.forName(  # noqa: SLF001
        "org.apache.spark.sql.catalyst.plans.logical.Command"
    )
    stack = [plan]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if command_cls.isInstance(node) or name in _MUTATING_NODES:
            raise _Refused(
                f"read-only server: {name} is not allowed "
                "(only query statements are served)"
            )
        it = node.children().iterator()
        while it.hasNext():
            stack.append(it.next())


def _interruptible_sql(server: "QueryServer", sql: str):
    """DataFrame for an ad-hoc query whose running tasks die on cancel.

    A task only notices `interruptOnCancel` where its input iterator checks
    for a kill. A vectorized Parquet/ORC scan checks once per columnar batch
    (4096 rows), and a nested-loop join does (batch rows x build rows) of
    work per batch: a 3-way cross join of a 6000-row table runs ~10^11
    iterations between checks, so a cancelled task keeps its executor slot
    for hours. Plans with such a join therefore run on row-based scans
    (`QueryServer.row_scan_session`), which check for a kill on every row.
    Every other query keeps the vectorized readers."""
    df = server.spark.sql(sql)
    qe = df._jdf.queryExecution()  # noqa: SLF001
    if "Join" not in qe.analyzed().toString():
        return df
    plan = qe.sparkPlan().toString()
    if not any(op in plan for op in _NESTED_LOOP_JOINS):
        return df
    return server.row_scan_session().sql(sql)


def _rows(
    server: "QueryServer", req: dict, pool: str, build, use_cache=True, **extra
) -> dict:
    """The rows reply of sql, query and view_report: at most `limit` rows of
    the DataFrame `build()` returns, collected as `limit + 1` to tell the
    client it was truncated. With {"cache": true} on a server started with
    a cache_dir (and `use_cache`), the FULL result is first served from or
    materialized into the plan-fingerprint cache (io/resultcache.py, whose
    own guards compute nondeterministic and in-memory plans fresh): the
    tenant opts into sink-style cost once so that every repeat of a
    dashboard query is a parquet read of its result."""
    limit = _int_arg(req, "limit", DEFAULT_LIMIT, MAX_LIMIT)
    info: dict = {}
    # per-connection FAIR pool: concurrent tenants each get a fair share of
    # the executor slots (thread-scoped local property, see session.py)
    with scheduler_pool(server.spark, pool):
        df = build()
        if use_cache and req.get("cache") and server.cache_dir is not None:
            from streamds_spark.io.resultcache import cached

            res = cached(df, server.cache_dir, max_bytes=server.cache_max_bytes)
            df, info = res.df, {"cache_hit": res.hit, "cacheable": res.cacheable}
            if res.evicted:
                info["evicted"] = res.evicted
        rows = df.limit(limit + 1).collect()
    return {
        "ok": True,
        **extra,
        "columns": df.columns,
        "rows": [
            [v.hex() if isinstance(v, (bytes, bytearray)) else v for v in r]
            for r in rows[:limit]
        ],
        "n_rows": min(len(rows), limit),
        "truncated": len(rows) > limit,
        **info,
    }


def _explain(df, **extra) -> dict:
    """Price a query before running it: plan text + the census facts
    (exchanges, global windows) a tenant checks before a big submit."""
    facts = plan_facts(df)
    return {
        "ok": True,
        **extra,
        "plan": formatted_plan(df),
        "n_exchanges": facts.n_exchanges,
        "n_global_windows": facts.n_global_windows,
    }


# -- verb handlers: (server, req, pool) -> reply ------------------------------


def _tables(server: "QueryServer", req: dict, pool: str) -> dict:
    # schema discovery for the SQL surface: every pinned view's columns and
    # types (driver-side — schemas come from the catalog's readers, no jobs)
    spark, sf_dir = server.spark, server.sf_dir
    tables = {t: dict(load_table(spark, sf_dir, t).dtypes) for t in TABLES}
    return {"ok": True, "sf_dir": sf_dir, "tables": tables}


def _sql(server: "QueryServer", req: dict, pool: str) -> dict:
    # raw read-only SQL over the TESTDATA views — the reference shell's SQL
    # dialect served multi-tenant. Views are session-global and were
    # registered ONCE at server start on the pinned sf_dir; accepting a
    # per-request sf_dir here would createOrReplaceTempView under every
    # concurrent tenant mid-query.
    sql = _str_arg(req, "sql", "sql").strip()
    _refuse_non_query(server.spark, sql)
    if req.get("sf_dir", server.sf_dir) != server.sf_dir:
        raise _Refused(
            f"sql is served on the server's pinned sf_dir ({server.sf_dir!r}); "
            "per-request sf_dir would swap the shared views under concurrent "
            "tenants"
        )
    if req.get("explain"):
        return _explain(server.spark.sql(sql))
    return _rows(server, req, pool, lambda: _interruptible_sql(server, sql))


def _registry_query(server: "QueryServer", req: dict):
    """(name, build) of the request's registered query; build() runs its
    plan builder on the request's sf_dir (default: the server's)."""
    name = _str_arg(req, "query", "request")
    specs = load_all()
    if name not in specs:
        raise _Refused(f"unknown query {name!r}")
    sf_dir = req.get("sf_dir", server.sf_dir)
    return name, lambda: specs[name].fn(server.spark, sf_dir)


def _query(server: "QueryServer", req: dict, pool: str) -> dict:
    name, build = _registry_query(server, req)
    return _rows(server, req, pool, build, query=name)


def _explain_query(server: "QueryServer", req: dict, pool: str) -> dict:
    name, build = _registry_query(server, req)
    return _explain(build(), query=name)


def _lineage(server: "QueryServer", req: dict, pool: str) -> dict:
    # impact analysis: which source columns feed each output column
    from streamds_spark.plans.lineage import column_lineage

    name, build = _registry_query(server, req)
    lin = column_lineage(build())
    return {
        "ok": True,
        "query": name,
        "lineage": {c: sorted([t, col] for t, col in s) for c, s in lin.items()},
    }


def _view_dir(server: "QueryServer", req: dict, verb: str) -> str:
    """The request's work_dir. It is a CLIENT-SUPPLIED filesystem path:
    without a pin any tenant could read parquet from any readable path on
    the host. The readable dirs are an OPERATOR decision at startup (the
    same posture as the sql verb's pinned sf_dir): the view verbs are
    disabled until the server is started with a view_roots allowlist, and
    a request must resolve (realpath — symlinks can't escape) inside it."""
    work_dir = _str_arg(req, "work_dir", verb)
    if server.view_roots is None:
        raise _Refused(
            f"{verb} is disabled on this server: start it with "
            "view_roots=[dir, ...] (--view-root) to allowlist the readable "
            "view dirs"
        )
    if not server.in_view_roots(work_dir):
        raise _Refused(f"{verb}: work_dir is outside the server's view_roots allowlist")
    return work_dir


def _views(server: "QueryServer", req: dict, pool: str) -> dict:
    # read-only listing of a pipeline work dir's registered views with live
    # store status — driver-side file metadata only, no jobs
    from streamds_spark.streaming.viewstore import (
        registered_views,
        spec_to_dict,
        view_status,
    )

    work_dir = _view_dir(server, req, "views")
    try:
        reg = registered_views(work_dir)
    except ValueError as e:
        raise _Refused(str(e)) from e
    out = []
    for name, (spec, vdir) in sorted(reg.items()):
        entry = {"name": name, "work_dir": vdir, "spec": spec_to_dict(spec)}
        # the manifest can declare a view work dir ANYWHERE (register_view
        # accepts an explicit path): reading its store metadata must pass
        # the same allowlist the client-supplied path did, or the manifest
        # becomes a read-outside-the-fence indirection
        if server.in_view_roots(vdir):
            entry.update(view_status(vdir))
        else:
            entry["error"] = (
                "view work_dir is outside the server's view_roots "
                "allowlist — status not read"
            )
        out.append(entry)
    return {"ok": True, "views": out, "n_views": len(out)}


def _view_report(server: "QueryServer", req: dict, pool: str) -> dict:
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

    work_dir = _view_dir(server, req, "view_report")
    keys, aggs = req.get("keys"), req.get("aggs")
    if not isinstance(keys, list) or not all(isinstance(k, str) for k in keys):
        raise _Refused("view_report needs 'keys': [str, ...]")
    if not isinstance(aggs, dict) or not all(
        isinstance(v, (list, tuple)) and len(v) == 2 for v in aggs.values()
    ):
        raise _Refused("view_report needs 'aggs': {out: [kind, col-or-null]}")
    try:
        kw = {"kmv_k": int(req["kmv_k"])} if "kmv_k" in req else {}
        spec = ViewSpec(
            keys=tuple(keys), aggs={o: (v[0], v[1]) for o, v in aggs.items()}, **kw
        )
    except (ValueError, TypeError) as e:
        raise _Refused(f"view spec: {e}") from e
    resp = _rows(
        server, req, pool,
        lambda: view_report(server.spark, work_dir, spec, recover=False),
        use_cache=False, work_dir=work_dir,
    )
    # a pending rebuild flag (set by the takedown cascade on a view whose
    # spec cannot subtract) must reach socket readers too — the numbers
    # still include deleted docs until the operator rebuilds, and the CLI's
    # WARNING alone would leave dashboards blind to it
    pending = rebuild_required(work_dir)
    if pending:
        resp["rebuild_required"] = pending
    return resp


def _quantiles(server: "QueryServer", req: dict, pool: str) -> dict:
    # sketch-probe endpoint: HDR log-linear quantiles over a pinned table's
    # numeric column (operators/hdr.column_quantiles). One map-only bucket
    # pass + a <=1888-key aggregate — the response is len(qs) rows at ANY
    # table size, so no limit/truncation machinery is needed.
    table, signed = req.get("table"), req.get("signed", False)
    if not isinstance(signed, bool):
        raise _Refused("signed must be a boolean")
    if table not in TABLES:
        raise _Refused(f"table must be one of {sorted(TABLES)}")
    column = _str_arg(req, "column", "quantiles")
    scale = _int_arg(req, "scale", 1, 1_000_000_000)
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
        raise _Refused("qs must map <=16 tags to q in (0, 1]")
    df = load_table(server.spark, server.sf_dir, table)
    try:
        sketch = column_quantiles(df, column, dict(qs), scale=scale, signed=signed)
    except ValueError as e:
        raise _Refused(f"{table}: {e}") from e
    with scheduler_pool(server.spark, pool):
        rows = sketch.collect()
    return {
        "ok": True,
        "table": table,
        "column": column,
        "scale": scale,
        "signed": signed,
        "quantiles": {
            r["tag"]: {k: r[k] for k in ("rank", "n", "lo", "hi", "mid")}
            for r in rows
        },
    }


# ann kind -> (index meta loader, probe(spark, index, vector, k, meta, req)).
# Every probe reads ONLY its partitions of the index (static pruning): 'lsh'
# hyperplane buckets, 'ivf' coarse-quantizer lists, and the '-inc' kinds the
# same over the committed batch/segment dirs of a stream-maintained index.
_ANN_KINDS = {
    "lsh": (
        load_index_meta,
        lambda spark, index, vec, k, meta, req: ann_probe_topk(
            spark, index, vec, k=k, n_planes=meta["n_planes"],
            n_flip_bits=req.get("flip_bits", 0),
        ),
    ),
    "lsh-inc": (
        load_index_meta,
        lambda spark, index, vec, k, meta, req: ann_index_probe(
            spark, index, vec, k=k, n_flip_bits=req.get("flip_bits", 0)
        ),
    ),
    "ivf": (
        lambda index: {"dim": len(load_centroids(index)[0])},
        lambda spark, index, vec, k, meta, req: ivf_probe_topk(
            spark, index, vec, k=k, n_probe=_int_arg(req, "n_probe", 2, 64)
        ),
    ),
    "ivf-inc": (
        load_ivf_meta,
        lambda spark, index, vec, k, meta, req: ivf_index_probe(
            spark, index, vec, k=k, n_probe=_int_arg(req, "n_probe", 2, 64)
        ),
    ),
}


def _ann(server: "QueryServer", req: dict, pool: str) -> dict:
    # vector search over a persisted index, k rows back
    index = _str_arg(req, "index", "ann")
    vec, kind = req.get("vector"), req.get("kind", "lsh")
    if not (
        isinstance(vec, list) and vec and all(isinstance(x, (int, float)) for x in vec)
    ):
        raise _Refused("ann needs 'vector' (list of numbers)")
    k = _int_arg(req, "k", 10, 1000)
    if kind not in _ANN_KINDS:
        raise _Refused(f"unknown ann kind {kind!r}")
    load_meta, probe = _ANN_KINDS[kind]
    try:
        meta = load_meta(index)
    except OSError as e:
        raise _Refused(f"no index meta at {index!r}: {e}") from e
    vec = [float(x) for x in vec]
    if len(vec) != meta["dim"]:
        raise _Refused(f"vector dim {len(vec)} != index dim {meta['dim']}")
    with scheduler_pool(server.spark, pool):
        rows = probe(server.spark, index, vec, k, meta, req).collect()
    return {
        "ok": True,
        "kind": kind,
        "neighbors": [
            {"vec_id": r["vec_id"], "label": r["label"], "cos_sim": r["cos_sim"]}
            for r in rows
        ],
    }


def _invalid(server: "QueryServer", req: Any, pool: str) -> dict:
    cmd = req.get("cmd") if isinstance(req, dict) else None
    if isinstance(cmd, str):
        raise _Refused(f"unknown cmd {cmd!r}")
    raise _Refused("request needs 'query', 'sql' or 'cmd'")


# kind -> (handler, guarded). Guarded kinds run through
# QueryServer.run_guarded: admission caps, their own job group and the
# watchdog. The rest answer from driver-side state (takedown serializes on
# its own lock), so they keep working under saturation — operability must
# survive it, and cancel is how an operator RELIEVES it.
_VERBS = {
    "ping": (lambda server, req, pool: {"ok": True, "pong": True}, False),
    "list": (lambda server, req, pool: {"ok": True, "queries": sorted(load_all())}, False),
    "tables": (_tables, False),
    # operational heartbeat: the reference leader prints per-query latency
    # and counts to its console; this is that signal as a queryable endpoint
    "status": (lambda server, req, pool: {"ok": True, "status": server.status()}, False),
    "pipeline_status": (lambda server, req, pool: server.pipeline_status(req), False),
    "cancel": (lambda server, req, pool: server.cancel(req), False),
    "takedown": (lambda server, req, pool: server.takedown(req, pool), False),
    "invalid": (_invalid, False),
    "sql": (_sql, True),
    "query": (_query, True),
    "explain": (_explain_query, True),
    "lineage": (_lineage, True),
    "views": (_views, True),
    "view_report": (_view_report, True),
    "quantiles": (_quantiles, True),
    "ann": (_ann, True),
}


def _req_kind(req: Any) -> str:
    """The request's kind: it names the audit record and the status
    counters, and it picks the handler (module docstring, Dispatch)."""
    if not isinstance(req, dict):
        return "invalid"
    if isinstance(req.get("cmd"), str):
        return req["cmd"] if req["cmd"] in _VERBS else "invalid"
    if isinstance(req.get("sql"), str):
        return "sql"
    if req.get("lineage"):
        return "lineage"
    if req.get("explain"):
        return "explain"
    if isinstance(req.get("query"), str):
        return "query"
    return "invalid"


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
            kind, detail = "invalid", None
            t_req = _time.perf_counter()
            try:
                req = json.loads(line)
                kind, detail = _req_kind(req), _detail(req)
                handler, guarded = _VERBS[kind]
                if guarded:
                    resp = server.run_guarded(handler, req, pool)
                else:
                    resp = handler(server, req, pool)
            except _Refused as e:
                resp = {"ok": False, "error": str(e)}
            except Exception as e:  # noqa: BLE001 — protocol boundary
                resp = {"ok": False, "error": f"{type(e).__name__}: {e}"}
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
        # allowlist of dirs the view verbs may read (realpath-pinned at
        # startup, like sf_dir pins the sql verb); None = verbs disabled —
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
        # threads parked on the scheduler). Unguarded verbs bypass the cap
        # (_VERBS).
        self.max_inflight = max_inflight
        self.max_inflight_per_tenant = max_inflight_per_tenant
        self._t0 = _time.time()
        self._stats_lock = threading.Lock()
        self._audit_lock = threading.Lock()  # file IO only — never nests
        self._takedown_lock = threading.Lock()  # serializes write verbs
        self._row_scan_lock = threading.Lock()
        self._row_scan: SparkSession | None = None  # row_scan_session()
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
        register_views(spark, sf_dir)
        super().__init__((host, port), _Handler)

    def in_view_roots(self, path: str) -> bool:
        real = os.path.realpath(path)
        return any(
            real == root or real.startswith(root + os.sep)
            for root in self.view_roots or ()
        )

    def row_scan_session(self) -> SparkSession:
        """A clone of the server's session (same conf as of the first call,
        same SparkContext, so the same job group and pool) whose table views
        are registered again with the vectorized Parquet/ORC readers off.
        A scan reads the conf of the session its view was loaded in, so
        setting the conf on the clone alone would not reach the pinned
        views. Built at first use, once per server."""
        with self._row_scan_lock:
            if self._row_scan is None:
                rows = SparkSession(
                    self.spark.sparkContext,
                    self.spark._jsparkSession.cloneSession(),  # noqa: SLF001
                )
                rows.conf.set("spark.sql.parquet.enableVectorizedReader", "false")
                rows.conf.set("spark.sql.orc.enableVectorizedReader", "false")
                register_views(rows, self.sf_dir)
                self._row_scan = rows
        return self._row_scan

    # -- runaway-query control ---------------------------------------------
    def _cancel_group(self, group: str) -> None:
        sc = self.spark.sparkContext
        try:
            # also fails fast jobs of this request not yet submitted
            sc._jsc.sc().cancelJobGroupAndFutureJobs(group)  # noqa: SLF001
        except Exception:  # noqa: BLE001 — older API surface
            sc.cancelJobGroup(group)

    def run_guarded(self, handler, req: dict, pool: str) -> dict:
        """Run `handler` on one data-bearing request under its own job group
        with an optional watchdog deadline. Thread-scoped like the FAIR
        pool: the group id is attached to every job this thread submits."""
        timeout_s = req.get("timeout_s", self.timeout_s)
        if timeout_s is not None and not (
            isinstance(timeout_s, (int, float)) and 0 < timeout_s <= MAX_TIMEOUT_S
        ):
            raise _Refused(f"timeout_s must be a number in (0, {MAX_TIMEOUT_S}]")
        tag = req.get("tag")
        if tag is not None and not isinstance(tag, str):
            raise _Refused("tag must be a string")
        # a request may name a scheduler pool (e.g. one configured with a
        # weight/minShare via session.write_allocation_file) instead of the
        # per-connection default — that is how tenants map onto weighted
        # resource shares when the session was built with an allocation file
        pool = req.get("pool", pool)
        if not isinstance(pool, str) or not (0 < len(pool) <= 128):
            raise _Refused("pool must be a non-empty string")
        state = {"timeout": False, "cancelled": False}
        with self._stats_lock:
            # admission control: reject over-capacity work IMMEDIATELY,
            # before any job group or scheduler state exists for it
            busy = None
            if self.max_inflight is not None and self._inflight >= self.max_inflight:
                busy = (
                    f"busy: {self._inflight} requests in flight "
                    f"(cap {self.max_inflight}) — retry with backoff"
                )
            elif (
                self.max_inflight_per_tenant is not None
                and self._inflight_by_tenant.get(pool, 0) >= self.max_inflight_per_tenant
            ):
                busy = (
                    f"busy: tenant pool {pool!r} at its in-flight "
                    f"cap ({self.max_inflight_per_tenant})"
                )
            if busy is not None:
                self._rejected += 1
                return {"ok": False, "error": busy, "busy": True}
            self._req_n += 1
            # globally unique (uuid): cancelJobGroupAndFutureJobs poisons a
            # group id for the lifetime of the SparkContext, so ids must
            # never be reused across requests OR server instances
            group = f"streamds-req-{self._req_n}-{uuid.uuid4().hex[:8]}"
            self._inflight += 1
            self._inflight_by_tenant[pool] = self._inflight_by_tenant.get(pool, 0) + 1
            # registered with the admission: a client that sees the request
            # in flight (status) can always cancel it by its tag
            if tag is not None:
                self._active[tag] = (group, state)
        sc = self.spark.sparkContext
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
            return handler(self, req, pool)
        except _Refused:
            raise
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
            raise _Refused("cancel needs 'tag' (string)")
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
            raise _Refused(
                "read-only server: takedown is a write — start the server "
                "with allow_writes=True (--allow-writes) to enable it"
            )
        if self._pipeline is None:
            raise _Refused("no pipeline attached to this server")
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
            raise _Refused("takedown needs 'doc_ids': non-empty list of ints")
        if len(ids) > 10_000:
            raise _Refused(
                "takedown caps at 10000 ids per request — batch a mass "
                "takedown through the library path (delete_docs with a "
                "DataFrame), not a socket"
            )
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
            raise _Refused("no pipeline attached to this server")
        from streamds_spark.io import batchstore
        from streamds_spark.streaming.llm_pipeline import CorpusStreamPaths
        from streamds_spark.streaming.metrics import throughput_report

        capture, work_dir = self._pipeline
        paths = CorpusStreamPaths(work_dir)
        queries = {
            qid: throughput_report(capture.progress(qid))
            for qid in capture.query_ids()
        }
        stores = {
            name: len(batchstore.committed(getattr(paths, name)))
            for name in CorpusStreamPaths.STORES
        }
        out = {
            "work_dir": work_dir,
            "queries": queries,
            "durable_frontier": batchstore.durable_frontier(paths.checkpoint),
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


def start_server(spark, sf_dir: str, **kw) -> QueryServer:
    """Bind + serve in a daemon thread; `kw` are QueryServer's options.
    Returns the server (read the bound port from `server.server_address`,
    stop with `server.shutdown()`)."""
    server = QueryServer(spark, sf_dir, **kw)
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
