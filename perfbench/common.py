"""Shared pieces of the benchmark: working directories and environment, the
span tracer, summary statistics, the run stamp, result canonicalisation for
the correctness gates, and the Spark status-store reader for executor
metrics.

Everything here measures from outside the program: it times the benchmark's
own calls into the program's public functions and reads Spark's status
store. Nothing is patched into the program.
"""

from __future__ import annotations

import contextlib
import datetime
import decimal
import hashlib
import itertools
import json
import math
import os
import subprocess
import sys
import time
import uuid
from statistics import median

ROOT = os.getcwd()  # the checkout root: the benchmark is run from there
WORK = os.path.join(ROOT, "perfbench", "_work")


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def check_checkout() -> None:
    """Refuse to run anywhere but the root of a checkout of the program."""
    for need in ("streamds_spark/__init__.py", "bin/streamds"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            raise SystemExit(
                f"perfbench: {need} not found under {ROOT}; run from the repo root"
            )


def prepare_env() -> None:
    """Point every scratch location of Python, Spark and the JVM into the
    benchmark's work dir and pin the session's core count, before pyspark is
    imported. Child processes (the server) inherit the same environment."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def stop_jvm(timeout_s: float = 60.0) -> None:
    """Shut down this process's Spark JVM, if it started one, and wait until
    it has exited: closing the gateway's stdin makes the JVM exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway  # noqa: SLF001
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=timeout_s)


def wait_group_gone(pgid: int, timeout_s: float = 30.0) -> None:
    """Wait until no process of process group `pgid` is left; after
    `timeout_s`, kill the ones left and wait once more. A server started in a
    session of its own leaves its JVM behind for a moment (see NOTES.md)."""
    deadline = time.monotonic() + timeout_s
    killed = False
    while True:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        if time.monotonic() > deadline:
            if killed:
                raise TimeoutError(f"process group {pgid} did not exit")
            os.killpg(pgid, 9)
            killed, deadline = True, time.monotonic() + timeout_s
        time.sleep(0.02)


def run_stamp() -> dict:
    """Machine state at the start of a run: 1-minute load and the cumulative
    steal ticks from /proc/stat, so a noisy run can be told apart later."""
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    steal = 0
    with open("/proc/stat") as f:
        fields = f.readline().split()
        if fields and fields[0] == "cpu" and len(fields) > 8:
            steal = int(fields[8])
    return {"load1": load1, "steal_ticks": steal, "cpus": cpus()}


# -- tracing ------------------------------------------------------------------

class Tracer:
    """Spans (name, start, end, parent) kept in memory and written at exit.

    Disabled, `span` costs one branch and records nothing. Spans of one
    operation share `op`; `attrs` carries counts measured at that boundary.
    `cost_s` is the time spent in the tracing work itself: the span
    bookkeeping and every block run under `timed` (status-store reads, job
    groups, file stats) — the work a traced run does and an untraced one
    does not.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.cost_s = 0.0
        self._ids = itertools.count(1)
        self._t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, parent: int | None = None, op: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        t = time.perf_counter()
        rec = {"id": next(self._ids), "name": name, "parent": parent, "op": op,
               "start": t - self._t0, "end": None}
        rec.update(attrs)
        self.cost_s += time.perf_counter() - t
        try:
            yield rec
        finally:
            t = time.perf_counter()
            rec["end"] = t - self._t0
            self.spans.append(rec)
            self.cost_s += time.perf_counter() - t

    @contextlib.contextmanager
    def timed(self):
        """Count the enclosed block as tracing work."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self.cost_s += time.perf_counter() - t

    def add(self, name: str, start: float, end: float, parent: int | None = None,
            op: str | None = None, **attrs) -> None:
        """Record a span measured elsewhere (perf_counter start/end)."""
        if self.enabled:
            t = time.perf_counter()
            rec = {"id": next(self._ids), "name": name, "parent": parent, "op": op,
                   "start": start - self._t0, "end": end - self._t0}
            rec.update(attrs)
            self.spans.append(rec)
            self.cost_s += time.perf_counter() - t

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s, default=str) + "\n")


# -- correctness: order-insensitive result hashes -----------------------------

def _cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        v = float(v)
        if math.isnan(v):
            return "NaN"
        return f"{v + 0.0:.6g}"
    if isinstance(v, (datetime.datetime, datetime.date)):
        return str(v)
    return str(v)


def canonical(columns: list[str], rows) -> tuple[str, list[str]]:
    """A result in one text form that ignores column order: the sorted
    column names, and one line per row with the cells in that column order
    (floats to 6 significant digits, as the repo's oracle check does), so a
    row that travelled as JSON reads like the engine's row."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    header = "\x1e".join(columns[i] for i in order)
    return header, ["\x1f".join(_cell(r[i]) for i in order) for r in rows]


def result_hash(columns: list[str], rows) -> str:
    """Hash of a result that ignores row and column order."""
    header, lines = canonical(columns, rows)
    h = hashlib.sha256(header.encode())
    for line in sorted(lines):
        h.update(b"\x1d" + line.encode())
    return h.hexdigest()


def duckdb_results(tables_dir: str, named_sql: dict[str, str]) -> dict[str, tuple]:
    """Run each SQL in DuckDB over the parquet files of `tables_dir` and
    return its (columns, rows) — the oracle side of the correctness gate."""
    import duckdb

    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(tables_dir)):
            if f.endswith(".parquet"):
                con.execute(
                    f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                    f"'{os.path.join(tables_dir, f)}'"
                )
        out = {}
        for name, sql in named_sql.items():
            res = con.execute(sql)
            out[name] = ([d[0] for d in res.description], res.fetchall())
        return out
    finally:
        con.close()


# -- Spark: sessions and the status store -------------------------------------

def start_session():
    """The program's own session factory (`session.get_spark`)."""
    from streamds_spark.session import get_spark

    return get_spark("perfbench")


class JobGroup:
    """Run a block under its own Spark job group so its jobs can be found in
    the status store afterwards. Setting and clearing the group is tracing
    work, counted in `tracer.cost_s`."""

    def __init__(self, sc, label: str, tracer: Tracer):
        self.id = f"perfbench-{label}-{uuid.uuid4().hex[:12]}"
        self.sc = sc
        self.tracer = tracer

    def __enter__(self):
        with self.tracer.timed():
            self.sc.setJobGroup(self.id, self.id)
        return self

    def __exit__(self, *exc):
        with self.tracer.timed():
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        return False


EXEC_KEYS = (
    "jobs", "stages", "tasks", "failed_tasks", "job_busy_ms", "run_ms", "cpu_ms",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "gc_ms",
)


def _interval_union_ms(spans: list[tuple[int, int]]) -> float:
    total = 0
    cur_s = cur_e = None
    for s, e in sorted(spans):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return float(total)


def job_facts(sc, job_ids, wait_s: float = 5.0) -> list[dict]:
    """Per job, from the status store: submission/completion (epoch ms),
    failed tasks, and the summed facts of the stages that ran. Read them as
    soon as the work ends: the store keeps only the most recent 1000
    stages."""
    store = sc._jsc.sc().statusStore()  # noqa: SLF001
    deadline = time.monotonic() + wait_s
    out = []
    for jid in sorted(job_ids):
        # the listener bus may lag the action that ran the job
        while True:
            jd = store.job(jid)
            if jd.completionTime().isDefined() or time.monotonic() > deadline:
                break
            time.sleep(0.01)
        f = dict.fromkeys(EXEC_KEYS, 0.0)
        f["jobs"] = 1.0
        f["failed_tasks"] = float(jd.numFailedTasks())
        f["submit"] = jd.submissionTime().get().getTime() if jd.submissionTime().isDefined() else None
        f["end"] = jd.completionTime().get().getTime() if jd.completionTime().isDefined() else None
        stage_ids = jd.stageIds()
        for i in range(stage_ids.size()):
            try:
                sd = store.lastStageAttempt(stage_ids.apply(i))
            except Exception:  # noqa: BLE001 — a stage dropped from the store
                continue
            if str(sd.status()) in ("SKIPPED", "PENDING"):
                continue
            f["stages"] += 1
            f["tasks"] += sd.numCompleteTasks()
            f["run_ms"] += sd.executorRunTime()
            f["cpu_ms"] += sd.executorCpuTime() / 1e6
            f["shuffle_read_bytes"] += sd.shuffleReadBytes()
            f["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            f["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            f["gc_ms"] += sd.jvmGcTime()
        out.append(f)
    return out


def fold_jobs(jobs: list[dict]) -> dict:
    """Sum job facts; `job_busy_ms` is the union of the jobs' spans."""
    out = dict.fromkeys(EXEC_KEYS, 0.0)
    for f in jobs:
        for k in EXEC_KEYS:
            out[k] += f[k]
    out["job_busy_ms"] = _interval_union_ms(
        [(f["submit"], f["end"]) for f in jobs if f["submit"] is not None and f["end"] is not None]
    )
    return out


def group_exec(sc, group: str) -> dict:
    """Executor-side facts of every job run under job group `group`."""
    return fold_jobs(job_facts(sc, sc.statusTracker().getJobIdsForGroup(group)))


def exec_metrics(samples: list[dict], wall_ms: list[float], cores: int) -> dict:
    """Per-layer `exec.*` metrics: the median over operations of each
    executor fact, plus the derived driver gap, time per job and slot use."""
    m = {f"exec.{k}": median([s[k] for s in samples]) for k in EXEC_KEYS}
    gaps = [w - s["job_busy_ms"] for s, w in zip(samples, wall_ms)]
    m["exec.driver_gap_ms"] = median(gaps)
    m["exec.ms_per_job"] = median(
        [s["job_busy_ms"] / s["jobs"] for s in samples if s["jobs"]] or [0.0]
    )
    m["exec.slot_util"] = median(
        [s["run_ms"] / (s["job_busy_ms"] * cores) for s in samples if s["job_busy_ms"]]
        or [0.0]
    )
    return m
