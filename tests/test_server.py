"""Query server: the reference leader's interactive TCP surface
(core_process.go:259-349 GREP request/response, :455-478 session dispatch)
re-expressed as one SparkSession serving concurrent line-JSON clients under
per-connection FAIR pools. Verifies: result parity with direct execution,
3-way concurrent clients each getting correct isolated answers, truncation
discipline (never an unbounded collect), and the error contract."""

from __future__ import annotations

import json
import socket
import threading

from streamds_spark.registry import load_all
from streamds_spark.server import request, start_server
import pytest

SF = "/root/testdata/sf0.001"


def _start(spark):
    server = start_server(spark, SF)
    host, port = server.server_address[:2]
    return server, host, port


def test_ping_list_and_parity_with_direct_execution(spark):
    server, host, port = _start(spark)
    try:
        assert request(host, port, {"cmd": "ping"})["pong"] is True
        names = request(host, port, {"cmd": "list"})["queries"]
        assert "wordcount" in names and len(names) > 200

        resp = request(host, port, {"query": "wordcount"})
        assert resp["ok"] and not resp["truncated"]
        direct = load_all()["wordcount"].fn(spark, SF).collect()
        got = {tuple(r) for r in resp["rows"]}
        want = {tuple(r) for r in direct}
        assert got == want
        assert resp["columns"] == load_all()["wordcount"].fn(spark, SF).columns
    finally:
        server.shutdown()
        server.server_close()


def test_concurrent_clients_isolated_answers(spark):
    """3 clients issue DIFFERENT queries at once over persistent connections;
    each must get its own correct answer (no cross-talk, no serialization
    failure). Each connection runs under its own FAIR pool."""
    server, host, port = _start(spark)
    queries = ["distinct_values", "group_count_users", "orders_by_dow"]
    direct = {
        q: {tuple(str(v) for v in r) for r in load_all()[q].fn(spark, SF).collect()}
        for q in queries
    }
    results: dict[str, set] = {}
    errors: list[str] = []

    def client(q: str):
        try:
            with socket.create_connection((host, port), timeout=300) as s:
                f = s.makefile("rwb")
                for _ in range(2):  # two rounds on one connection
                    f.write((json.dumps({"query": q, "limit": 1000}) + "\n").encode())
                    f.flush()
                    resp = json.loads(f.readline())
                    assert resp["ok"], resp
                    results[q] = {tuple(str(v) for v in r) for r in resp["rows"]}
        except Exception as e:  # noqa: BLE001
            errors.append(f"{q}: {e}")

    threads = [threading.Thread(target=client, args=(q,)) for q in queries]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
        assert not t.is_alive(), "server convoyed a client"
    try:
        assert errors == []
        for q in queries:
            assert results[q] == direct[q], q
    finally:
        server.shutdown()
        server.server_close()


def test_truncation_and_error_contract(spark):
    server, host, port = _start(spark)
    try:
        # lag_lead_deltas returns 10000 rows at sf0.001 — the server must cap
        resp = request(host, port, {"query": "lag_lead_deltas", "limit": 5})
        assert resp["ok"] and resp["truncated"] and resp["n_rows"] == 5

        # explain mode: plan text + census facts, no execution
        ex = request(host, port, {"query": "wordcount", "explain": True})
        assert ex["ok"] and "Physical Plan" in ex["plan"]
        assert ex["n_exchanges"] >= 0 and ex["n_global_windows"] == 0
        # raw SQL: read-only statements over the TESTDATA views
        sq = request(
            host, port,
            {"sql": "SELECT o_orderpriority, count(*) AS c FROM orders "
                    "GROUP BY o_orderpriority ORDER BY o_orderpriority"},
        )
        assert sq["ok"] and sq["columns"] == ["o_orderpriority", "c"]
        assert len(sq["rows"]) == 5 and not sq["truncated"]
        # write statements refused
        for bad in ["DROP TABLE orders", "INSERT INTO orders VALUES (1)",
                    "CREATE TABLE x (a int)"]:
            assert not request(host, port, {"sql": bad})["ok"]
        # CTE allowed
        assert request(
            host, port, {"sql": "WITH t AS (SELECT 1 AS a) SELECT * FROM t"}
        )["ok"]

        # lineage mode: impact analysis over the wire
        ln = request(host, port, {"query": "q3_shipping_priority", "lineage": True})
        assert ln["ok"]
        assert ln["lineage"]["revenue"] == [
            ["lineitem.parquet", "l_discount"],
            ["lineitem.parquet", "l_extendedprice"],
        ]

        assert not request(host, port, {"query": "no_such_query"})["ok"]
        assert not request(host, port, {"query": "wordcount", "limit": 0})["ok"]
        assert not request(host, port, {"nonsense": 1})["ok"]
        # malformed JSON must produce an error line, not kill the connection
        with socket.create_connection((host, port), timeout=60) as s:
            f = s.makefile("rwb")
            f.write(b"{not json\n")
            f.flush()
            resp = json.loads(f.readline())
            assert not resp["ok"] and "Error" in resp["error"] or "error" in resp
            f.write((json.dumps({"cmd": "ping"}) + "\n").encode())
            f.flush()
            assert json.loads(f.readline())["ok"]
    finally:
        server.shutdown()
        server.server_close()


def test_status_counters(spark):
    """status: uptime + per-kind served/error counters accumulate across
    clients (the reference leader's console reporting as an endpoint)."""
    server, host, port = _start(spark)
    try:
        request(host, port, {"cmd": "ping"})
        request(host, port, {"query": "distinct_values"})
        request(host, port, {"query": "no_such_query"})
        request(host, port, {"sql": "SELECT 1 AS a"})
        st = request(host, port, {"cmd": "status"})
        assert st["ok"]
        s = st["status"]
        assert s["uptime_s"] >= 0
        assert s["served"]["ping"] == 1
        assert s["served"]["query"] == 2  # incl. the unknown-query error
        assert s["served"]["sql"] == 1
        assert s["errors"] == 1
    finally:
        server.shutdown()
        server.server_close()


def test_eight_client_mixed_soak(spark):
    """8 concurrent clients, 3 rounds each, mixed request types (rows,
    explain, lineage, list) — zero errors, every answer correct for ITS
    query. The multi-tenant posture under a real mixed load, not just the
    3-client happy path."""
    server, host, port = _start(spark)
    work = [
        ("distinct_values", "rows"),
        ("orders_by_dow", "rows"),
        ("group_count_users", "rows"),
        ("q1_pricing_summary", "rows"),
        ("wordcount", "explain"),
        ("q3_shipping_priority", "lineage"),
        ("conditional_agg_orders", "rows"),
        ("value_histogram", "rows"),
    ]
    direct = {
        q: {tuple(str(v) for v in r) for r in load_all()[q].fn(spark, SF).collect()}
        for q, kind in work
        if kind == "rows"
    }
    errors: list[str] = []

    def client(q: str, kind: str):
        try:
            with socket.create_connection((host, port), timeout=300) as s:
                f = s.makefile("rwb")
                for _ in range(3):
                    if kind == "rows":
                        req = {"query": q, "limit": 10000}
                    elif kind == "explain":
                        req = {"query": q, "explain": True}
                    else:
                        req = {"query": q, "lineage": True}
                    f.write((json.dumps(req) + "\n").encode())
                    f.flush()
                    resp = json.loads(f.readline())
                    assert resp["ok"], resp
                    if kind == "rows":
                        got = {tuple(str(v) for v in r) for r in resp["rows"]}
                        assert got == direct[q], q
                    elif kind == "explain":
                        assert "Physical Plan" in resp["plan"]
                    else:
                        assert resp["lineage"]["revenue"]
        except Exception as e:  # noqa: BLE001
            errors.append(f"{q}/{kind}: {e}")

    threads = [threading.Thread(target=client, args=w) for w in work]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
        assert not t.is_alive(), "soak client hung"
    try:
        assert errors == [], errors
    finally:
        server.shutdown()
        server.server_close()



@pytest.mark.slow
def test_cli_serve_smoke(tmp_path):
    """The CLI verb binds, prints the port, serves one request, and exits
    when stdin closes."""
    import subprocess
    import sys

    proc = subprocess.Popen(
        [sys.executable, "-m", "streamds_spark.cli", "serve", SF, "--port", "0"],
        stdin=subprocess.PIPE,
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
        cwd="/root/repo",
        text=True,
    )
    try:
        line = proc.stdout.readline().strip()
        assert line.startswith("serving:127.0.0.1:")
        port = int(line.rsplit(":", 1)[1])
        assert request("127.0.0.1", port, {"cmd": "ping"})["pong"] is True
        proc.stdin.close()
        assert proc.wait(timeout=120) == 0
    finally:
        if proc.poll() is None:
            proc.kill()


SLOW_SQL = (
    "SELECT count(*) AS c FROM lineitem a CROSS JOIN lineitem b CROSS JOIN lineitem c"
)


def test_read_only_guard_is_parse_level(spark):
    """The SQL guard walks the PARSED plan: CTE-prefixed mutations (which a
    first-keyword check lets through) and every Command are refused; pure
    queries — CTE or VALUES included — are served."""
    server, host, port = _start(spark)
    try:
        rejected = [
            "WITH t AS (SELECT 1 AS a) INSERT INTO orders SELECT * FROM t",
            "WITH t AS (SELECT 1 AS a) INSERT OVERWRITE DIRECTORY '/tmp/nope' "
            "USING parquet SELECT * FROM t",
            "INSERT OVERWRITE DIRECTORY '/tmp/nope' USING parquet SELECT 1",
            "SET spark.sql.shuffle.partitions=1",
            "EXPLAIN SELECT 1",
            "CACHE TABLE zz AS SELECT 1",
            "DROP TABLE orders",
            "CREATE TABLE zz(a INT) USING parquet",
        ]
        for sql in rejected:
            resp = request(host, port, {"sql": sql})
            assert not resp["ok"], sql
            assert "read-only" in resp["error"] or "parse error" in resp["error"]
        allowed = [
            "WITH t AS (SELECT 1 AS a) SELECT * FROM t",
            "VALUES (1), (2)",
            "SELECT count(*) AS c FROM orders",
        ]
        for sql in allowed:
            assert request(host, port, {"sql": sql})["ok"], sql
        # the shared views are pinned to the server's sf_dir: a request naming
        # a DIFFERENT sf_dir on the sql path is refused, never re-registered
        other = request(
            host, port,
            {"sql": "SELECT 1 AS a", "sf_dir": "/root/testdata/sf0.01"},
        )
        assert not other["ok"] and "pinned" in other["error"]
        same = request(host, port, {"sql": "SELECT 1 AS a", "sf_dir": SF})
        assert same["ok"]
    finally:
        server.shutdown()
        server.server_close()


def test_timeout_cancels_runaway_query_and_server_survives(spark):
    """A deliberately unbounded query (triple cross join) is cancelled at the
    per-request deadline, the tenant gets a timeout error, and the NEXT
    request on the same server completes normally."""
    import time

    server, host, port = _start(spark)
    try:
        t0 = time.time()
        resp = request(host, port, {"sql": SLOW_SQL, "timeout_s": 2}, timeout=300)
        wall = time.time() - t0
        assert not resp["ok"] and resp.get("timeout") is True
        assert "timeout" in resp["error"]
        assert wall < 60, f"cancellation took {wall:.0f}s"
        # executor slots are back: a normal request right after succeeds
        ok = request(host, port, {"sql": "SELECT count(*) AS c FROM orders"})
        assert ok["ok"]
        named = request(host, port, {"query": "distinct_values"})
        assert named["ok"]
        # invalid timeout_s is refused up front
        bad = request(host, port, {"query": "wordcount", "timeout_s": -1})
        assert not bad["ok"] and "timeout_s" in bad["error"]
    finally:
        server.shutdown()
        server.server_close()


def test_cancel_verb_kills_tagged_request(spark):
    """{"cmd": "cancel", "tag": ...} from a second connection cancels the
    in-flight tagged request (the reference leader's kill-session verb)."""
    import time

    server, host, port = _start(spark)
    results: dict[str, dict] = {}
    try:
        def runaway():
            results["slow"] = request(
                host, port, {"sql": SLOW_SQL, "tag": "runaway"}, timeout=300
            )

        t = threading.Thread(target=runaway)
        t.start()
        deadline = time.time() + 60
        while "runaway" not in server._active and time.time() < deadline:
            time.sleep(0.05)
        assert "runaway" in server._active, "tagged request never registered"
        time.sleep(0.5)  # let the job start submitting
        c = request(host, port, {"cmd": "cancel", "tag": "runaway"})
        assert c["ok"] and c["cancelled"] is True
        t.join(timeout=60)
        assert not t.is_alive(), "cancelled request did not return"
        assert not results["slow"]["ok"]
        assert results["slow"].get("cancelled") is True or results["slow"].get("timeout")
        # unknown tag: ok, nothing cancelled
        none = request(host, port, {"cmd": "cancel", "tag": "ghost"})
        assert none["ok"] and none["cancelled"] is False
        # server still healthy
        assert request(host, port, {"sql": "SELECT 1 AS a"})["ok"]
    finally:
        server.shutdown()
        server.server_close()


def test_cancel_frees_executor_slots_of_nested_loop_sql(spark):
    """A cancelled cross join must stop its TASKS, not only its job: with
    vectorized scans the nested-loop task checks for a kill once per 4096-row
    batch and kept running (and holding its slot) long after the cancel."""
    import time

    def running_tasks() -> int:
        execs = spark.sparkContext._jsc.sc().statusStore().executorList(True)
        return sum(execs.apply(i).activeTasks() for i in range(execs.size()))

    server, host, port = _start(spark)
    results: dict[str, dict] = {}
    try:
        t = threading.Thread(
            target=lambda: results.update(
                slow=request(host, port, {"sql": SLOW_SQL, "tag": "loop"}, timeout=300)
            )
        )
        t.start()
        deadline = time.time() + 60
        while running_tasks() == 0 and time.time() < deadline:
            time.sleep(0.2)
        assert running_tasks() > 0, "the cross join never started a task"
        assert request(host, port, {"cmd": "cancel", "tag": "loop"})["cancelled"]
        t.join(timeout=60)
        assert results["slow"].get("cancelled") is True, results
        deadline = time.time() + 30
        while running_tasks() > 0 and time.time() < deadline:
            time.sleep(0.2)
        assert running_tasks() == 0, "cancelled tasks still hold executor slots"
    finally:
        server.shutdown()
        server.server_close()


@pytest.mark.slow
def test_pipeline_status_over_socket(spark, tmp_path):
    """The server can watch the RUNNING ingest pipeline (reference leader's
    console relay): pipeline_status reports batch counts/frontier advancing
    from nothing to drained."""
    import time

    from streamds_spark.streaming import metrics
    from streamds_spark.streaming.llm_pipeline import run_llm_corpus_stream

    src_dir, work_dir = str(tmp_path / "src"), str(tmp_path / "work")
    _split_documents_files(src_dir, n_files=2)
    capture = metrics.attach(spark)
    server, host, port = _start(spark)
    try:
        before = request(host, port, {"cmd": "pipeline_status"})
        assert not before["ok"]  # nothing attached yet
        server.attach_pipeline(capture, work_dir)
        st0 = request(host, port, {"cmd": "pipeline_status"})
        assert st0["ok"] and st0["pipeline"]["durable_frontier"] == -1

        q = run_llm_corpus_stream(spark, src_dir, work_dir)
        q.awaitTermination(timeout=300)
        assert not q.isActive
        # listener delivery is async: poll briefly for the progress events
        deadline = time.time() + 30
        st = None
        while time.time() < deadline:
            st = request(host, port, {"cmd": "pipeline_status"})["pipeline"]
            reports = [r for r in st["queries"].values() if r.get("n_batches", 0) >= 1]
            if reports and st["durable_frontier"] >= 1:
                break
            time.sleep(0.5)
        assert st is not None and st["durable_frontier"] >= 1
        reports = [r for r in st["queries"].values() if r.get("n_batches", 0) >= 1]
        assert reports and reports[0]["total_input_rows"] > 0
        assert st["committed_store_dirs"]["hash_store"] >= 1
        assert st["committed_store_dirs"]["chunk_store"] >= 1
        # sketch-backed distinct estimate over the socket (HLL register store)
        est = request(host, port, {"cmd": "pipeline_status", "estimate": True})
        got = est["pipeline"]["distinct_docs_estimate"]
        assert got > 0
        # sketch-backed doc-length quantiles over the socket (HDR store):
        # ordered tags with lo <= mid <= hi value bounds
        qs = request(host, port, {"cmd": "pipeline_status", "quantiles": True})
        dq = qs["pipeline"]["doclen_quantiles"]
        assert set(dq) == {"p50", "p90", "p99"}
        for tag in dq:
            assert dq[tag]["lo"] <= dq[tag]["mid"] <= dq[tag]["hi"]
        assert dq["p50"]["mid"] <= dq["p99"]["mid"]
        # sketch-backed heavy-hitter terms over the socket (MG summary
        # store): descending estimates with the additive error bound
        hh = request(host, port, {"cmd": "pipeline_status", "heavy_hitters": 5})
        hhp = hh["pipeline"]["heavy_hitters"]
        assert 1 <= len(hhp["terms"]) <= 5
        ests = [t["est"] for t in hhp["terms"]]
        assert ests == sorted(ests, reverse=True) and ests[0] > 0
        assert hhp["n_total"] >= sum(ests) and hhp["error_bound"] >= 0
        assert st["committed_store_dirs"]["mg_store"] >= 1
        # data-quality gate state over the socket (per-trigger constraint
        # reports, additively folded): the sf0.001 feed is clean, so every
        # check passes and the row counts equal the raw arrivals
        dqr = request(host, port, {"cmd": "pipeline_status", "dq": True})
        dqp = dqr["pipeline"]["dq"]
        assert dqp["all_passed"] is True
        assert len(dqp["checks"]) == 6
        assert all(c["violations"] == 0 for c in dqp["checks"])
        assert all(c["n_rows"] > 0 for c in dqp["checks"])
        assert st["committed_store_dirs"]["dq_store"] >= 1
        # duplication-skew estimate over the socket (AMS counter store):
        # the sf0.001 feed is dup-light, so F2 tracks the arrival count
        sk = request(host, port, {"cmd": "pipeline_status", "dup_skew": True})
        skp = sk["pipeline"]["dup_skew"]
        assert skp["n_counters"] == 32 and skp["f2_estimate"] > 0
        assert st["committed_store_dirs"]["ams_store"] >= 1
    finally:
        spark.streams.removeListener(capture)
        server.shutdown()
        server.server_close()


def _split_documents_files(src_dir: str, n_files: int = 2) -> None:
    """documents.parquet split into n files with ascending mtimes (one file
    per trigger)."""
    import os
    import time

    import pyarrow.parquet as pq

    tbl = pq.read_table(os.path.join(SF, "documents.parquet")).sort_by("doc_id")
    n = tbl.num_rows
    os.makedirs(src_dir, exist_ok=True)
    now = time.time()
    for i in range(n_files):
        part = tbl.slice(i * n // n_files, (i + 1) * n // n_files - i * n // n_files)
        path = os.path.join(src_dir, f"{i:03d}.parquet")
        pq.write_table(part, path)
        os.utime(path, (now - 100 + i, now - 100 + i))


def test_sql_explain_and_latency_percentiles(spark):
    """Ad-hoc SQL can be priced without running it, and status reports
    per-kind latency percentiles (the reference leader's console latency
    print, queryable)."""
    server, host, port = _start(spark)
    try:
        ex = request(
            host, port,
            {"sql": "SELECT o_orderstatus, count(*) AS c FROM orders "
                    "GROUP BY o_orderstatus", "explain": True},
        )
        assert ex["ok"] and "Physical Plan" in ex["plan"]
        assert ex["n_exchanges"] >= 1  # the groupBy shuffles
        assert "rows" not in ex  # nothing executed

        for _ in range(3):
            assert request(host, port, {"sql": "SELECT 1 AS a"})["ok"]
        st = request(host, port, {"cmd": "status"})["status"]
        lat = st["latency_ms"]["sql"]
        assert lat["n"] >= 4
        assert 0 < lat["p50_ms"] <= lat["p95_ms"] <= lat["max_ms"]
    finally:
        server.shutdown()
        server.server_close()


def test_opt_in_result_cache_over_socket(spark, tmp_path):
    """{"cache": true} on a cache_dir server: first call materializes, the
    repeat is a hit with identical rows; a nondeterministic query is never
    served from cache (resultcache's guard), and without the flag nothing
    is cached."""
    from streamds_spark.server import start_server as _ss

    server = _ss(spark, SF, cache_dir=str(tmp_path / "cache"))
    host, port = server.server_address[:2]
    sql = ("SELECT o_orderpriority, count(*) AS c FROM orders "
           "GROUP BY o_orderpriority ORDER BY o_orderpriority")
    try:
        r1 = request(host, port, {"sql": sql, "cache": True})
        assert r1["ok"] and r1["cacheable"] and r1["cache_hit"] is False
        r2 = request(host, port, {"sql": sql, "cache": True})
        assert r2["ok"] and r2["cache_hit"] is True
        assert r2["rows"] == r1["rows"] and r2["columns"] == r1["columns"]

        # registry query path too
        q1 = request(host, port, {"query": "distinct_values", "cache": True})
        q2 = request(host, port, {"query": "distinct_values", "cache": True})
        assert q1["ok"] and q1["cache_hit"] is False
        assert q2["ok"] and q2["cache_hit"] is True
        assert sorted(map(tuple, q2["rows"])) == sorted(map(tuple, q1["rows"]))

        # nondeterministic: computed fresh every time, never a hit
        for _ in range(2):
            nd = request(
                host, port,
                {"sql": "SELECT current_date() AS d, count(*) AS c FROM orders",
                 "cache": True},
            )
            assert nd["ok"] and nd["cacheable"] is False and nd["cache_hit"] is False

        # without the flag the response carries no cache fields
        plain = request(host, port, {"sql": sql})
        assert plain["ok"] and "cache_hit" not in plain
    finally:
        server.shutdown()
        server.server_close()


def test_audit_log_flight_recorder(spark, tmp_path):
    """One JSONL line per request (ts/kind/ok/ms/tenant/detail) — the
    reference leader's console log, durable."""
    import json as _json

    from streamds_spark.server import start_server as _ss

    log = str(tmp_path / "audit.jsonl")
    server = _ss(spark, SF, audit_log=log)
    host, port = server.server_address[:2]
    try:
        request(host, port, {"cmd": "ping"})
        request(host, port, {"query": "distinct_values"})
        request(host, port, {"sql": "SELECT 1 AS a"})
        request(host, port, {"query": "no_such_query"})
        with open(log) as f:
            recs = [_json.loads(line) for line in f]
        assert [r["kind"] for r in recs] == ["ping", "query", "sql", "query"]
        assert [r["ok"] for r in recs] == [True, True, True, False]
        assert recs[1]["detail"] == "distinct_values"
        assert recs[2]["detail"].startswith("SELECT 1")
        assert all(r["ms"] >= 0 and r["tenant"].startswith("client-") for r in recs)
    finally:
        server.shutdown()
        server.server_close()


def test_tables_schema_discovery(spark):
    server, host, port = _start(spark)
    try:
        resp = request(host, port, {"cmd": "tables"})
        assert resp["ok"] and resp["sf_dir"] == SF
        t = resp["tables"]
        assert t["orders"]["o_orderkey"] == "bigint"
        assert t["documents"]["text"] == "string"
        assert set(t) >= {
            "region", "nation", "customer", "supplier", "part",
            "orders", "lineitem", "events", "documents", "embeddings",
        }
    finally:
        server.shutdown()
        server.server_close()


def test_quantiles_probe_over_socket(spark):
    """{"cmd": "quantiles"}: HDR sketch quantiles of a pinned table column
    over the socket — values match the registry query's sketch machinery,
    scaled doubles work, and malformed requests get clean errors."""
    import duckdb

    server, host, port = _start(spark)
    try:
        # integral column: matches the hdr machinery run directly
        resp = request(
            host, port,
            {"cmd": "quantiles", "table": "documents", "column": "n_chars"},
        )
        assert resp["ok"], resp
        q = resp["quantiles"]
        assert set(q) == {"p50", "p90", "p99"}
        exact = sorted(
            r[0] for r in duckdb.sql(
                f"SELECT n_chars FROM '{SF}/documents.parquet'"
            ).fetchall()
        )
        import math

        for tag, frac in (("p50", 0.5), ("p90", 0.9), ("p99", 0.99)):
            true_val = exact[max(1, math.ceil(frac * len(exact))) - 1]
            assert q[tag]["lo"] <= true_val <= q[tag]["hi"], (tag, q[tag])
            assert q[tag]["n"] == len(exact)
        # double column with centi-unit scaling
        resp2 = request(
            host, port,
            {"cmd": "quantiles", "table": "events", "column": "value",
             "scale": 100, "qs": {"median": 0.5}},
        )
        assert resp2["ok"] and set(resp2["quantiles"]) == {"median"}
        assert resp2["quantiles"]["median"]["lo"] >= 0
        # error contract
        assert not request(host, port, {"cmd": "quantiles", "table": "nope",
                                        "column": "x"})["ok"]
        assert not request(host, port, {"cmd": "quantiles", "table": "events",
                                        "column": "event_type"})["ok"]
        assert not request(host, port, {"cmd": "quantiles", "table": "events",
                                        "column": "v; DROP TABLE x"})["ok"]
        assert not request(host, port, {"cmd": "quantiles", "table": "events",
                                        "column": "value", "qs": {"p": 2}})["ok"]
        # signed probe: routes through the negative-mirror sketch (whose
        # negative-side exactness is oracle-proven by the
        # hdr_signed_delta_quantiles registry query; testdata columns are
        # non-negative, so here we pin the serving plumbing: accepted flag,
        # same rank-bracket guarantees, nothing dropped from n)
        resp3 = request(
            host, port,
            {"cmd": "quantiles", "table": "events", "column": "value",
             "scale": 100, "signed": True,
             "qs": {"p01": 0.01, "p50": 0.5}},
        )
        assert resp3["ok"] and resp3["signed"] is True
        scaled = sorted(
            r[0] for r in duckdb.sql(
                f"SELECT CAST(floor(value * 100) AS BIGINT) "
                f"FROM '{SF}/events.parquet'"
            ).fetchall()
        )
        for tag, frac in (("p01", 0.01), ("p50", 0.5)):
            true_val = scaled[max(1, math.ceil(frac * len(scaled))) - 1]
            got = resp3["quantiles"][tag]
            assert got["lo"] <= true_val <= got["hi"], (tag, got, true_val)
            assert got["n"] == len(scaled)  # negatives counted, none dropped
        assert not request(host, port, {"cmd": "quantiles", "table": "events",
                                        "column": "value", "signed": 1})["ok"]
    finally:
        server.shutdown()
        server.server_close()


def test_admission_control_global_cap(spark):
    """With max_inflight=N, N long-running requests occupy the server and
    k more are rejected IMMEDIATELY with {"busy": true} — no job group is
    created for them, control verbs keep working, the N admitted requests
    are unaffected, and capacity frees as soon as one finishes."""
    import time

    from streamds_spark.server import QueryServer

    server = QueryServer(spark, SF, max_inflight=2)
    host, port = server.server_address[:2]
    serve_t = threading.Thread(target=server.serve_forever, daemon=True)
    serve_t.start()
    slow: dict[str, dict] = {}
    try:

        def runaway(tag: str) -> None:
            slow[tag] = request(
                host, port, {"sql": SLOW_SQL, "tag": tag}, timeout=300
            )

        occupants = [
            threading.Thread(target=runaway, args=(f"slot{i}",)) for i in range(2)
        ]
        for th in occupants:
            th.start()
        deadline = time.time() + 60
        while time.time() < deadline:
            st = request(host, port, {"cmd": "status"})["status"]
            if st["inflight"] == 2:
                break
            time.sleep(0.2)
        assert st["inflight"] == 2, st

        # k=3 over-capacity requests: each rejected fast, well under any
        # query runtime, with the busy marker and no session damage
        for _ in range(3):
            t0 = time.time()
            r = request(host, port, {"query": "distinct_values"})
            assert not r["ok"] and r.get("busy") is True, r
            assert "busy" in r["error"]
            assert time.time() - t0 < 5
        # control verbs bypass the cap while the server is saturated
        assert request(host, port, {"cmd": "ping"})["pong"] is True
        st = request(host, port, {"cmd": "status"})["status"]
        assert st["rejected_busy"] == 3 and st["max_inflight"] == 2

        # cancel (a control verb) relieves the saturation...
        for tag in ("slot0", "slot1"):
            assert request(host, port, {"cmd": "cancel", "tag": tag})["cancelled"] is True
        for th in occupants:
            th.join(timeout=120)
        assert all(not th.is_alive() for th in occupants)
        assert all(v.get("cancelled") or v.get("timeout") for v in slow.values())
        # ...and the freed capacity admits normal work again
        ok = request(host, port, {"query": "distinct_values"})
        assert ok["ok"], ok
    finally:
        server.shutdown()
        server.server_close()


def test_admission_control_per_tenant_cap(spark):
    """max_inflight_per_tenant bounds ONE pool's concurrency without
    touching other tenants: the hog's second request is rejected busy while
    a different pool's request sails through."""
    import time

    from streamds_spark.server import QueryServer

    server = QueryServer(spark, SF, max_inflight_per_tenant=1)
    host, port = server.server_address[:2]
    threading.Thread(target=server.serve_forever, daemon=True).start()
    try:
        holder: dict[str, dict] = {}

        def hog() -> None:
            holder["resp"] = request(
                host,
                port,
                {"sql": SLOW_SQL, "tag": "hog", "pool": "tenant-a"},
                timeout=300,
            )

        th = threading.Thread(target=hog)
        th.start()
        deadline = time.time() + 60
        st = None
        while time.time() < deadline:
            st = request(host, port, {"cmd": "status"})["status"]
            if st["inflight_by_tenant"].get("tenant-a") == 1:
                break
            time.sleep(0.2)
        assert st and st["inflight_by_tenant"].get("tenant-a") == 1, st

        busy = request(
            host, port, {"query": "distinct_values", "pool": "tenant-a"}
        )
        assert not busy["ok"] and busy.get("busy") is True, busy
        assert "tenant-a" in busy["error"]
        other = request(
            host, port, {"query": "distinct_values", "pool": "tenant-b"}
        )
        assert other["ok"], other

        assert request(host, port, {"cmd": "cancel", "tag": "hog"})["cancelled"] is True
        th.join(timeout=120)
        assert not th.is_alive()
        # the hog's slot is back and the per-tenant book is clean
        again = request(
            host, port, {"query": "distinct_values", "pool": "tenant-a"}
        )
        assert again["ok"], again
        st = request(host, port, {"cmd": "status"})["status"]
        assert st["inflight_by_tenant"] == {}
    finally:
        server.shutdown()
        server.server_close()


def test_result_cache_budget_and_status(spark, tmp_path):
    """A cache_max_bytes server evicts LRU on promotion (response reports the
    staged count) and status() carries the committed-entry census; a server
    without a cache_dir reports result_cache: null."""
    from streamds_spark.server import start_server as _ss

    server = _ss(spark, SF, cache_dir=str(tmp_path / "cache"), cache_max_bytes=1)
    host, port = server.server_address[:2]
    try:
        r1 = request(
            host, port,
            {"sql": "SELECT count(*) AS c FROM orders", "cache": True},
        )
        assert r1["ok"] and r1["cache_hit"] is False and "evicted" not in r1
        r2 = request(
            host, port,
            {"sql": "SELECT count(*) AS c FROM lineitem", "cache": True},
        )
        assert r2["ok"] and r2.get("evicted") == 1  # first entry staged out
        st = request(host, port, {"cmd": "status"})["status"]
        rc = st["result_cache"]
        assert rc["entries"] == 1 and rc["bytes"] > 0 and rc["max_bytes"] == 1
    finally:
        server.shutdown()
        server.server_close()

    plain = _ss(spark, SF)
    host, port = plain.server_address[:2]
    try:
        st = request(host, port, {"cmd": "status"})["status"]
        assert st["result_cache"] is None
    finally:
        plain.shutdown()
        plain.server_close()


def test_view_report_verb_read_only(spark, tmp_path):
    """{"cmd": "view_report"}: fold a maintained view over the socket —
    parity with the library fold, truncation contract, spec/arg validation,
    and STRICT read-only (an interrupted rebuild is NOT healed by the
    server; the store is left byte-identical)."""
    import os

    from streamds_spark.server import request, start_server
    from streamds_spark.streaming.viewstore import ViewSpec, write_view_batch

    work = str(tmp_path / "vwork")
    store = os.path.join(work, "view_store")
    spec = ViewSpec(keys=("k",), aggs={"s": ("sum", "v"), "n": ("count", None)})
    df = spark.createDataFrame(
        [("a", 1), ("a", 3), ("b", 5), ("c", 7)], "k string, v bigint"
    )
    write_view_batch(df, 0, store, spec)
    # the verb is DISABLED without a startup allowlist: a client-supplied
    # work_dir must not fold arbitrary readable host paths (ADVICE r10)
    plain = start_server(spark, SF)
    try:
        req = {
            "cmd": "view_report",
            "work_dir": work,
            "keys": ["k"],
            "aggs": {"s": ["sum", "v"], "n": ["count", None]},
        }
        ph, pp = plain.server_address[:2]
        r = request(ph, pp, req)
        assert not r["ok"] and "disabled" in r["error"]
    finally:
        plain.shutdown()
        plain.server_close()
    server = start_server(spark, SF, view_roots=[str(tmp_path)])
    host, port = server.server_address[:2]
    try:
        # outside the allowlist: refused even though the path exists
        outside = request(host, port, {**req, "work_dir": "/root/testdata"})
        assert not outside["ok"] and "allowlist" in outside["error"]
        r = request(host, port, req)
        assert r["ok"], r
        got = {
            row[r["columns"].index("k")]: row[r["columns"].index("s")]
            for row in r["rows"]
        }
        assert got == {"a": 4, "b": 5, "c": 7} and not r["truncated"]
        # truncation contract
        r2 = request(host, port, {**req, "limit": 2})
        assert r2["ok"] and r2["n_rows"] == 2 and r2["truncated"]
        # validation
        for bad in (
            {"work_dir": 3},
            {"keys": "k"},
            {"aggs": {"s": ["sum"]}},
            {"aggs": {"s": ["nope", "v"]}},
            {"limit": 0},
            {"limit": True},  # bool is an int subclass — refused
        ):
            assert not request(host, port, {**req, **bad})["ok"], bad
        # read-only: simulate an interrupted rebuild; the server must not
        # heal it (renames are writes) and must leave the dir untouched
        import shutil as _sh

        seg = os.path.join(store, "batch=0")
        _sh.copytree(seg, os.path.join(store, "segment=0.rebuild"))
        os.rename(seg, os.path.join(store, "segment=0.old-cafe"))
        names_before = sorted(os.listdir(store))
        r3 = request(host, port, {**req})
        assert r3["ok"] and r3["n_rows"] == 0  # pre-heal state reads empty
        assert sorted(os.listdir(store)) == names_before, "server must not write"
    finally:
        server.shutdown()
        server.server_close()


def test_view_report_surfaces_rebuild_flag(spark, tmp_path):
    """A pending rebuild-required flag (set by the takedown cascade on a
    view whose spec cannot subtract) must reach SOCKET readers, not just
    the CLI's WARNING — a dashboard folding the view otherwise reads
    numbers that still include deleted docs with zero signal."""
    import os

    from streamds_spark.server import request, start_server
    from streamds_spark.streaming.viewstore import (
        ViewSpec,
        clear_rebuild_required,
        mark_rebuild_required,
        write_view_batch,
    )

    work = str(tmp_path / "vwork")
    spec = ViewSpec(keys=("k",), aggs={"hi": ("max", "v")})
    df = spark.createDataFrame([("a", 1), ("b", 5)], "k string, v bigint")
    write_view_batch(df, 0, os.path.join(work, "view_store"), spec)
    server = start_server(spark, SF, view_roots=[str(tmp_path)])
    host, port = server.server_address[:2]
    req = {
        "cmd": "view_report",
        "work_dir": work,
        "keys": ["k"],
        "aggs": {"hi": ["max", "v"]},
    }
    try:
        r = request(host, port, req)
        assert r["ok"] and "rebuild_required" not in r
        mark_rebuild_required(work, {"action": "delete_docs", "reason": "t"})
        r2 = request(host, port, req)
        assert r2["ok"] and r2["rebuild_required"]["pending_takedowns"] == 1
        clear_rebuild_required(work)
        r3 = request(host, port, req)
        assert r3["ok"] and "rebuild_required" not in r3
    finally:
        server.shutdown()
        server.server_close()


def test_views_listing_verb(spark, tmp_path):
    """{"cmd": "views"}: registered-view inventory over the socket —
    driver-side metadata only, allowlist-gated like view_report."""
    import os

    from streamds_spark.server import request, start_server
    from streamds_spark.streaming.viewstore import (
        ViewSpec,
        mark_rebuild_required,
        register_view,
        write_view_batch,
    )

    work = str(tmp_path / "pipe")
    spec = ViewSpec(keys=("k",), aggs={"s": ("sum", "v")})
    vdir = register_view(work, "byk", spec)
    df = spark.createDataFrame([("a", 1), ("b", 5)], "k string, v bigint")
    write_view_batch(df, 0, os.path.join(vdir, "view_store"), spec)
    mark_rebuild_required(vdir, {"action": "delete_docs", "reason": "t"})

    plain = start_server(spark, SF)
    try:
        ph, pp = plain.server_address[:2]
        r = request(ph, pp, {"cmd": "views", "work_dir": work})
        assert not r["ok"] and "disabled" in r["error"]
    finally:
        plain.shutdown()
        plain.server_close()
    server = start_server(spark, SF, view_roots=[str(tmp_path)])
    try:
        host, port = server.server_address[:2]
        bad = request(host, port, {"cmd": "views", "work_dir": "/etc"})
        assert not bad["ok"] and "allowlist" in bad["error"]
        r = request(host, port, {"cmd": "views", "work_dir": work})
        assert r["ok"] and r["n_views"] == 1
        v = r["views"][0]
        assert v["name"] == "byk" and v["n_batch_dirs"] == 1
        assert v["rebuild_required"] == 1
        assert v["spec"]["aggs"] == {"s": ["sum", "v"]}
        assert not request(host, port, {"cmd": "views"})["ok"]
    finally:
        server.shutdown()
        server.server_close()


def test_malformed_field_gets_error_line_and_connection_survives(spark):
    """A field of the wrong type is answered with an error line, and the
    same connection keeps serving: the audit detail of {"sql": 5} must not
    fail outside the handler's error path."""
    server, host, port = _start(spark)
    try:
        with socket.create_connection((host, port), timeout=60) as s:
            f = s.makefile("rwb")
            for req in ({"sql": 5}, {"query": ["x"]}, {"cmd": "nope"}, {"sql": 5},
                        {"cmd": "ping"}):
                f.write((json.dumps(req) + "\n").encode())
                f.flush()
                resp = json.loads(f.readline())
                assert resp["ok"] is (req == {"cmd": "ping"}), (req, resp)
            assert resp["pong"] is True
        st = request(host, port, {"cmd": "status"})["status"]
        assert st["served"] == {"invalid": 4, "ping": 1}
    finally:
        server.shutdown()
        server.server_close()


def test_kind_precedence_and_bool_limit_refused(spark):
    """The classified kind is the verb that runs: a `cmd` wins over an `sql`
    field, and `status` counts the request under the cmd. A `limit` of true
    is refused on every rows verb (bool is an int subclass)."""
    server, host, port = _start(spark)
    try:
        resp = request(
            host, port,
            {"cmd": "quantiles", "table": "nation", "column": "n_nationkey",
             "qs": {"p50": 0.5}, "sql": "SELECT 1 AS a"},
        )
        assert resp["ok"] and set(resp["quantiles"]) == {"p50"}, resp
        assert "rows" not in resp
        for req in ({"sql": "SELECT 1 AS a"}, {"query": "distinct_values"}):
            bad = request(host, port, {**req, "limit": True})
            assert not bad["ok"] and "limit" in bad["error"], (req, bad)
        served = request(host, port, {"cmd": "status"})["status"]["served"]
        assert served == {"quantiles": 1, "sql": 1, "query": 1}
    finally:
        server.shutdown()
        server.server_close()
