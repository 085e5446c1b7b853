"""`serve_mix`: the interactive surface. A closed loop of one persistent
connection per core, from this process to a `bin/streamds serve` subprocess,
sending a fixed-proportion mix of the small headline queries and ad-hoc SQL
aggregates. Every response is checked against its DuckDB oracle.

The traced run adds, after the server phase, an in-process phase that runs
the same mix through the layers one by one: session, catalog, plan build
(`QuerySpec.fn` / `spark.sql`), Catalyst planning of the query execution
that runs, and the Spark jobs, read back per request from the status store.
It ends with one pass of the three iterative co-purchase graph queries, so
the loop operators are measured on a kept workload too (see NOTES.md).
"""

from __future__ import annotations

import json
import os
import random
import socket
import subprocess
import sys
import threading
import time
from collections import Counter
from statistics import median, quantiles

import common
import datagen

HEADLINE = (
    "flagship_filter_group_count",
    "grep_count",
    "wordcount",
    "group_count_users",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "agg_stats_lineitem",
    "window_rank_orders",
)
# ad-hoc aggregates: 2 of the 10 request kinds, so 20% of every mix
SQL = {
    "sql_lineitem_flags": (
        "SELECT l_returnflag, l_linestatus, count(*) AS n, "
        "CAST(sum(l_quantity) AS BIGINT) AS qty "
        "FROM lineitem GROUP BY l_returnflag, l_linestatus"
    ),
    "sql_events_by_type": (
        "SELECT event_type, count(*) AS n, max(value) AS vmax, "
        "min(value) AS vmin FROM events GROUP BY event_type"
    ),
}
KINDS = HEADLINE + tuple(SQL)
LIMIT = 10_000  # the server's cap; window_rank_orders returns more at full size
SIZES = {"full": 150_000, "tiny": 1_500}  # orders; 150000 ~ the sf0.1 test data
WARMUP_CYCLES = 3  # per connection, untimed: the server JVM is still compiling
# Every run times the same amount of work: n whole cycles per connection,
# n sized so that the timed part takes about --seconds.
CYCLE_S_EST = 6.0
MIN_CYCLES = 2
# timed cycles of the traced run's in-process layer phase: a fixed count, so
# the traced run (server phase, layer phase, graph probe) stays short
LAYER_CYCLES = 2
# the iterative graph queries, probed once per traced run (see _graph_probe)
GRAPH = {
    "core_decomposition_copurchase": "graph.core_decomposition_ms",
    "copurchase_neighborhood_function": "graph.neighborhood_function_ms",
    "copurchase_link_prediction": "graph.link_prediction_ms",
}
GRAPH_SIZES = {"full": (400, 300), "tiny": (60, 50)}  # (orders, parts)


def _request(kind: str) -> dict:
    if kind in SQL:
        return {"sql": SQL[kind], "limit": LIMIT}
    return {"query": kind, "limit": LIMIT}


def _oracle_sql(kind: str) -> str:
    if kind in SQL:
        return SQL[kind]
    from streamds_spark.registry import load_all

    return load_all()[kind].oracle


class Server:
    """A `bin/streamds serve` subprocess; `start` returns when it listens."""

    def __init__(self, data_dir: str, audit_log: str, log_path: str):
        self.t0 = time.perf_counter()
        self._log = open(log_path, "ab")
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(common.ROOT, "bin", "streamds"), "serve",
             data_dir, "--audit-log", audit_log],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self._log,
            cwd=common.ROOT, start_new_session=True,
        )
        line = self.proc.stdout.readline().decode().strip()
        if not line.startswith("serving:"):
            self.stop()
            raise RuntimeError(f"server did not start (said {line!r}); see {log_path}")
        self.ready_s = time.perf_counter() - self.t0
        _, host, port = line.split(":")
        self.addr = (host, int(port))

    def stop(self) -> None:
        """Stop the server and wait for its whole process group: its JVM
        outlives the serve process by a second or two."""
        try:
            self.proc.stdin.close()  # the serve verb exits at EOF on stdin
            self.proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            os.killpg(self.proc.pid, 9)
            self.proc.wait(timeout=30)
        finally:
            self._log.close()
        common.wait_group_gone(self.proc.pid)


class Conn:
    """One persistent tenant connection (line-delimited JSON)."""

    def __init__(self, addr):
        self.sock = socket.create_connection(addr, timeout=170)
        self.rfile = self.sock.makefile("rb")
        self.tenant = "client-{}-{}".format(*self.sock.getsockname()[:2])

    def call(self, req: dict) -> bytes:
        self.sock.sendall((json.dumps(req) + "\n").encode())
        line = self.rfile.readline()
        if not line:
            raise ConnectionError("server closed the connection")
        return line

    def close(self) -> None:
        self.rfile.close()
        self.sock.close()


def _cycle(seed: int, conn: int, n: int) -> list[str]:
    """Connection `conn`'s n-th cycle: every kind once, in a seeded order.
    Whole cycles only are timed, so every seed sends the same proportions."""
    kinds = list(KINDS)
    random.Random(f"{seed}-{conn}-{n}").shuffle(kinds)
    return kinds


def _closed_loop(server: Server, seed: int, n_conns: int, n_cycles: int):
    """Warm up, then let every connection send `n_cycles` whole cycles.
    Returns per connection the list of (kind, start, end, raw response) in
    send order, the start time, the warm-up request count and the tenant
    (pool) names."""
    conns = [Conn(server.addr) for _ in range(n_conns)]
    results: list[list] = [[] for _ in range(n_conns)]
    barrier = threading.Barrier(n_conns + 1)
    t_start = [0.0]
    errors: list[BaseException] = []

    def drive(i: int) -> None:
        try:
            c = conns[i]
            for w in range(WARMUP_CYCLES):
                for kind in _cycle(seed, i, -1 - w):
                    c.call(_request(kind))
            barrier.wait()
            barrier.wait()  # t_start is set between the two waits
            for cycle in range(n_cycles):
                for kind in _cycle(seed, i, cycle):
                    t0 = time.perf_counter()
                    raw = c.call(_request(kind))
                    results[i].append((kind, t0, time.perf_counter(), raw))
        except BaseException as e:  # noqa: BLE001 — re-raised by the caller
            errors.append(e)
            barrier.abort()

    threads = [threading.Thread(target=drive, args=(i,)) for i in range(n_conns)]
    for t in threads:
        t.start()
    try:
        barrier.wait()
        t_start[0] = time.perf_counter()
        barrier.wait()
    except threading.BrokenBarrierError:
        pass
    for t in threads:
        t.join()
    for c in conns:
        c.close()
    if errors:
        raise errors[0]
    return results, t_start[0], WARMUP_CYCLES * len(KINDS) * n_conns, [c.tenant for c in conns]


class Expect:
    """What the response to one request kind must hold: the oracle's exact
    result; or, when the oracle has more rows than the server's cap, LIMIT
    of the oracle's rows (any of them, each at most as often as in the
    oracle) and the truncated flag."""

    def __init__(self, columns: list[str], rows: list):
        self.hash = common.result_hash(columns, rows)
        self.header, lines = common.canonical(columns, rows)
        self.lines = Counter(lines) if len(rows) > LIMIT else None

    def ok(self, resp: dict) -> bool:
        if resp.get("ok") is not True:
            return False
        if self.lines is None:
            return (not resp.get("truncated")
                    and common.result_hash(resp["columns"], resp["rows"]) == self.hash)
        header, lines = common.canonical(resp["columns"], resp["rows"])
        return (resp.get("truncated") is True and len(lines) == LIMIT
                and header == self.header and not Counter(lines) - self.lines)


def _verify(results, expect: dict[str, Expect]) -> tuple[int, int, list]:
    """(attempted, failed, per-request ok flags) against the oracles."""
    attempted = failed = 0
    flags = []
    for per_conn in results:
        row = []
        for kind, _t0, _t1, raw in per_conn:
            attempted += 1
            ok = expect[kind].ok(json.loads(raw))
            failed += 0 if ok else 1
            row.append(ok)
        flags.append(row)
    return attempted, failed, flags


def _audit_ms(path: str) -> dict[str, list[float]]:
    """Server-side handling ms per tenant, in request order."""
    out: dict[str, list[float]] = {}
    with open(path) as f:
        for line in f:
            rec = json.loads(line)
            out.setdefault(rec["tenant"], []).append(rec["ms"])
    return out


def _graph_probe(spark, graph_dir: str, oracle: dict[str, Expect],
                 tracer: common.Tracer) -> tuple[dict, int]:
    """One pass of the three co-purchase loop queries: the iterative
    operators (`operators.kcore`, `operators.anf`, the link-prediction
    wedges), whose inner jobs all run inside `QuerySpec.fn`. Returns the
    per-query ms, the job count, and how many results missed their oracle."""
    from streamds_spark.registry import load_all

    specs = load_all()
    sc = spark.sparkContext
    m = {"graph.jobs": 0.0}
    failed = 0
    for q, metric in GRAPH.items():
        with common.JobGroup(sc, q, tracer) as g, tracer.span("graph.query", query=q) as sp:
            t0 = time.perf_counter()
            df = specs[q].fn(spark, graph_dir)
            rows = df.collect()
            m[metric] = (time.perf_counter() - t0) * 1000
        with tracer.timed():
            jobs = len(sc.statusTracker().getJobIdsForGroup(g.id))
        if sp is not None:
            sp["jobs"] = jobs
        m["graph.jobs"] += jobs
        failed += common.result_hash(df.columns, rows) != oracle[q].hash
    return m, failed


def _layer_phase(data_dir: str, tracer: common.Tracer):
    """Run the mix in-process, one request at a time, timing each layer.
    Returns the per-layer metrics, the Spark session (still open) and the
    number of requests run, warm-up included."""
    from streamds_spark.catalog import register_views
    from streamds_spark.plans.audit import plan_facts
    from streamds_spark.registry import load_all

    t0 = time.perf_counter()
    with tracer.span("session.start"):
        spark = common.start_session()
    session_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    with tracer.span("catalog.register_views"):
        register_views(spark, data_dir)
    register_s = time.perf_counter() - t0
    specs = load_all()
    sc = spark.sparkContext
    exchanges = {}

    def one(kind: str, cycle: int) -> dict:
        with common.JobGroup(sc, kind, tracer) as g, tracer.span(
            "request", op=f"{cycle}:{kind}", kind=kind
        ) as sp:
            t_req = time.perf_counter()
            parent = sp["id"] if sp else None
            with tracer.span("registry.build", parent=parent):
                tb = time.perf_counter()
                df = spark.sql(SQL[kind]) if kind in SQL else specs[kind].fn(spark, data_dir)
                build_ms = (time.perf_counter() - tb) * 1000
            # the server collects limit + 1 rows; plan exactly that execution
            run_df = df.limit(LIMIT + 1)
            with tracer.span("catalyst.plan", parent=parent):
                tc = time.perf_counter()
                run_df._jdf.queryExecution().executedPlan()  # noqa: SLF001
                catalyst_ms = (time.perf_counter() - tc) * 1000
            with tracer.span("spark.collect", parent=parent):
                run_df.collect()
            wall_ms = (time.perf_counter() - t_req) * 1000
        with tracer.timed():
            if kind not in exchanges:
                exchanges[kind] = plan_facts(df).n_exchanges
            ex = common.group_exec(sc, g.id)
        if sp is not None:
            sp.update(ex)
        return {"build_ms": build_ms, "catalyst_ms": catalyst_ms, "wall_ms": wall_ms, **ex}

    for kind in KINDS:  # warm-up cycle, untimed
        one(kind, -1)
    cycles = []
    for _ in range(LAYER_CYCLES):
        per = [one(kind, len(cycles)) for kind in KINDS]
        cycles.append({k: sum(r[k] for r in per) for k in per[0]})
    m = {
        "session.start_s": session_s,
        "catalog.register_views_s": register_s,
        "plan.build_ms": median([x["build_ms"] for x in cycles]),
        "plan.catalyst_ms": median([x["catalyst_ms"] for x in cycles]),
        "plan.exchanges": float(sum(exchanges.values())),
    }
    m.update(common.exec_metrics(cycles, [x["wall_ms"] for x in cycles], common.cpus()))
    return m, spark, (len(cycles) + 1) * len(KINDS)


def run(seed: int, seconds: float, trace: bool, size: str) -> dict:
    tracer = common.Tracer(trace)
    work = os.path.join(common.WORK, "serve_mix")
    os.makedirs(work, exist_ok=True)
    data_dir = os.path.join(common.WORK, "data", f"tables-{size}-{seed}")
    if not os.path.exists(os.path.join(data_dir, "embeddings.parquet")):
        datagen.write_tables(data_dir, seed, SIZES[size])
    expect = {k: Expect(*res) for k, res in common.duckdb_results(
        data_dir, {k: _oracle_sql(k) for k in KINDS}).items()}
    os.sync()  # no writeback of the inputs or of an earlier run during timing

    audit = os.path.join(work, f"audit-{seed}.jsonl")
    if os.path.exists(audit):
        os.remove(audit)
    server = Server(data_dir, audit, os.path.join(work, "server.log"))
    try:
        n_cycles = max(MIN_CYCLES, round(seconds / CYCLE_S_EST))
        results, t_start, n_warm, tenants = _closed_loop(
            server, seed, common.cpus(), n_cycles)
        if trace:
            with tracer.timed():
                probe = Conn(server.addr)
                status = json.loads(probe.call({"cmd": "status"}))["status"]
                probe.close()
    finally:
        server.stop()

    attempted, failed, flags = _verify(results, expect)
    lat = [(t1 - t0) * 1000 for per in results for (_k, t0, t1, _r) in per]
    t_end = max(t1 for per in results for (_k, _t0, t1, _r) in per)
    n_ok = sum(sum(f) for f in flags)
    e2e = {
        "setup_s": server.ready_s,
        "latency_p50_ms": median(lat),
        "throughput_per_s": n_ok / (t_end - t_start),
    }
    by_kind = {k: [(t1 - t0) * 1000 for per in results for (kk, t0, t1, _r) in per
                   if kk == k] for k in KINDS}
    info = {"warmup_requests": n_warm, "requests": attempted,
            "latency_p95_ms": quantiles(lat, n=20)[-1],
            "kind_p50_ms": {k: median(v) for k, v in by_kind.items()}}
    if not trace:
        return {"e2e": e2e, "attempted": attempted, "failed": failed, "info": info,
                "tracer": tracer}

    with tracer.timed():
        handle = _audit_ms(audit)
    # audit lines are per tenant in request order: drop the warm-up ones
    handle_ms, overhead_ms = [], []
    for tenant, per in zip(tenants, results):
        hs = handle.get(tenant, [])[WARMUP_CYCLES * len(KINDS):]
        for (_k, t0, t1, _r), h in zip(per, hs):
            handle_ms.append(h)
            overhead_ms.append((t1 - t0) * 1000 - h)
    layers = {
        "server.handle_p50_ms": median(handle_ms),
        "server.overhead_p50_ms": median(overhead_ms),
        "server.rejected_busy": float(status["rejected_busy"]),
        "server.errors": float(status["errors"]),
    }
    phase, spark, n_layer = _layer_phase(data_dir, tracer)
    info["layer_requests"] = n_layer
    layers.update(phase)
    graph_dir = os.path.join(common.WORK, "data", f"graph-{size}-{seed}")
    if not os.path.exists(os.path.join(graph_dir, "lineitem.parquet")):
        datagen.write_graph_lineitem(graph_dir, seed, *GRAPH_SIZES[size])
    from streamds_spark.registry import load_all

    specs = load_all()
    graph_oracle = {q: Expect(*res) for q, res in common.duckdb_results(
        graph_dir, {q: specs[q].oracle for q in GRAPH}).items()}
    graph, graph_failed = _graph_probe(spark, graph_dir, graph_oracle, tracer)
    spark.stop()
    layers.update(graph)
    # the tracing work, timed directly, per operation traced: the server
    # requests read back from the audit log, the in-process requests and the
    # graph queries
    n_traced = attempted + n_warm + n_layer + len(GRAPH)
    layers["trace.overhead_ms"] = tracer.cost_s * 1000 / n_traced
    attempted += len(GRAPH)
    failed += graph_failed
    return {"e2e": e2e, "layers": layers, "attempted": attempted, "failed": failed,
            "info": info, "tracer": tracer}
